package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.GenData

/** Writes benchmark datasets with the engine's own generator.
  *
  * Usage: `perfbench.Gen <outDir> <scale>` where `scale` multiplies the
  * sf0.1 row counts (0.1 gives sf0.01-sized tables), except that the
  * `documents` and `embeddings` corpora never go below 500 rows, the size
  * of the project's smallest test dataset (sf0.001): the vector oracles
  * state fixed top-k counts per probe (10 neighbours inside the probe's
  * IVF cell for `ann_index_persist`, 5 hits for `ann_index_append`),
  * which the 8 cells of a 100-vector corpus cannot fill. Each table lands as a
  * single `<table>.parquet` file, the layout the engine and the DuckDB
  * oracle read. The generator is a pure function of the row counts, so a
  * dataset is written once per checkout and reused by every run.
  */
object Gen {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .appName("perfbench-gen")
      .master("local[*]")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try write(spark, new File(args(0)), args(1).toDouble)
    finally spark.stop()
  }

  private def write(spark: SparkSession, out: File, scale: Double): Unit = {
    def n(base: Long): Long = math.max(1L, math.round(base * scale))
    def corpus(base: Long): Long = math.max(500L, n(base))
    val tables: Seq[(String, DataFrame)] = Seq(
      "documents" -> GenData.documents(spark, corpus(5000L)),
      "embeddings" -> GenData.embeddings(spark, corpus(2000L)),
      "events" -> GenData.events(spark, n(100000L), n(1500L)),
      "lineitem" -> GenData.lineitem(spark, n(147236L), n(20000L), n(10000L)),
      "orders" -> GenData.orders(spark, n(147236L), n(15000L)),
      "part" -> GenData.part(spark, n(20000L)),
      "supplier" -> GenData.supplier(spark, n(10000L)),
      "customer" -> GenData.customer(spark, n(15000L)),
      "nation" -> GenData.nation(spark),
      "region" -> GenData.region(spark))
    val staging = new File(out, "_staging")
    out.mkdirs()
    tables.foreach { case (name, df) =>
      val dir = new File(staging, name)
      df.coalesce(1).write.mode("overwrite").parquet(dir.getPath)
      val part = dir.listFiles().filter(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"$name: expected one part file")
      require(part.head.renameTo(new File(out, s"$name.parquet")),
        s"$name: rename failed")
    }
    Disk.deleteTree(staging)
  }
}
