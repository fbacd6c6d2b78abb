package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** The one build-once store for per-session stage artifacts — the
  * reference's persist-once stage (dags/Backups.py:142-153) as a
  * single implementation every index, overlay, sink and shared table
  * goes through.
  *
  * Layout: `<Util.sessionTmpDir(root)>/<stage>/<key(sfDir)>/<gen>`,
  * where `gen` is the MD5 of the sources' [[Util.fileFingerprint]]s.
  *  - key: full 128-bit digests of the dataset path and of the source
  *    content, so two datasets never share, serve or vacuum each
  *    other's generation, and an in-place regeneration rebuilds.
  *  - marker: `_SUCCESS` in the generation dir, written by this store
  *    through Hadoop FS after `build` returns; a generation without it
  *    is torn and is wiped before the rebuild.
  *  - lock: builds of one (stage, dataset path) serialize in-JVM.
  *  - vacuum: a (re)build drops only the older generations of the same
  *    (stage, dataset path).
  *  - lifetime: the session root is per application and deleted on
  *    JVM exit; nothing outlives the application. */
object Artifact {

  /** The dataset key: full MD5 of a dataset path (or of any other
    * string a per-dataset directory is named after). */
  def key(path: String): String = Util.md5Hex(path)

  /** The committed generation dir of `stage` for dataset `sfDir`,
    * running `build(genDir)` first when it is missing or torn. */
  def dir(spark: SparkSession, root: String, stage: String, sfDir: String,
      sources: Seq[String])(build: String => Unit): String = {
    val scope = new Path(s"${Util.sessionTmpDir(spark, root)}/$stage/${key(sfDir)}")
    val gen = new Path(scope,
      Util.md5Hex(sources.map(Util.fileFingerprint).mkString("|")))
    val fs = gen.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = new Path(gen, "_SUCCESS")
    locks.getOrElseUpdate(scope.toString, new Object).synchronized {
      if (!fs.exists(marker)) {
        // everything under the scope is either this torn generation or
        // an older one of the same (stage, dataset path)
        if (fs.exists(scope))
          fs.listStatus(scope).foreach(st => fs.delete(st.getPath, true))
        reads.keys.filter(_._2.startsWith(s"$scope/")).foreach(reads.remove)
        build(gen.toString)
        fs.create(marker, true).close()
      }
    }
    gen.toString
  }

  /** [[dir]] for a single-table artifact: writes `mk` (partitioned by
    * `partitionBy`) as the generation and returns its read-back,
    * memoized per session and generation. A generation with no part
    * files (every row filtered out of a partitioned write) reads back
    * as an empty frame with `mk`'s schema. Prefer it over
    * [[graft.ops.Flow.sharedScanOf]] when one action reads the stage
    * several times (aggregate + broadcast subtrees): the file scan is
    * codegen-fused, survives `spark.catalog.clearCache()` and leaves the
    * cache manager no plan to substitute — an InMemoryTableScan read
    * measured 4× slower on t_curriculum_resume and 2× on t_bm25_topk. */
  def table(spark: SparkSession, root: String, stage: String, sfDir: String,
      sources: Seq[String], partitionBy: Seq[String])(
      mk: => DataFrame): DataFrame = {
    val gen = dir(spark, root, stage, sfDir, sources)(
      mk.write.partitionBy(partitionBy: _*).mode("overwrite").parquet(_))
    reads.getOrElseUpdate((System.identityHashCode(spark), gen),
      if (Util.anyParquetPart(gen)) spark.read.parquet(gen)
      else spark.createDataFrame(java.util.List.of[Row](), mk.schema))
  }

  /** Memoized read of one table inside a committed generation: a
    * fresh `spark.read.parquet` pays driver-side listing and footer
    * schema inference on every call. Evicted when the generation
    * rotates. */
  def read(spark: SparkSession, path: String): DataFrame =
    reads.getOrElseUpdate((System.identityHashCode(spark), path),
      spark.read.parquet(path))

  private val locks = scala.collection.concurrent.TrieMap.empty[String, Object]
  private[graft] val reads =
    scala.collection.concurrent.TrieMap.empty[(Int, String), DataFrame]
}
