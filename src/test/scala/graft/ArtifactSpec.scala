package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

/** The build-once store's contract: 128-bit dataset keys, marker-gated
  * generations, empty read-backs, and dataset-scoped vacuum with memo
  * eviction. Datasets live under `target/artifact_spec/`. */
class ArtifactSpec extends SparkSuite
    with org.scalatest.BeforeAndAfterAll {

  private val Root = "graft_artifact_spec"
  private val base = "target/artifact_spec"

  private def fs = new Path(base).getFileSystem(
    spark.sparkContext.hadoopConfiguration)
  private def exists(p: String) = fs.exists(new Path(p))

  /** A one-table dataset dir holding `n` rows in `t.parquet`. */
  private def dataset(dir: String, n: Long): Seq[String] = {
    spark.range(n).write.mode("overwrite").parquet(s"$dir/t.parquet")
    Seq(s"$dir/t.parquet")
  }

  private def table(stage: String, ds: String, src: Seq[String]) =
    Artifact.table(spark, Root, stage, ds, src, Nil)(
      spark.read.parquet(src.head))

  /** The committed generation dir; fails instead of building. */
  private def committed(stage: String, ds: String, src: Seq[String]) =
    Artifact.dir(spark, Root, stage, ds, src)(_ =>
      fail(s"$stage/$ds must already be committed"))

  test("datasets whose 32-bit path tags collide keep separate generations") {
    // found offline: equal scala.util.hashing.MurmurHash3 string tags
    val a = s"$base/ds_49610"
    val b = s"$base/ds_109121"
    assert(scala.util.hashing.MurmurHash3.stringHash(a) ==
      scala.util.hashing.MurmurHash3.stringHash(b), "guard: tags collide")
    val (srcA, srcB) = (dataset(a, 3), dataset(b, 5))
    assert(table("collide", a, srcA).count() == 3)
    assert(table("collide", b, srcB).count() == 5)
    val (genA, genB) = (committed("collide", a, srcA),
      committed("collide", b, srcB))
    assert(genA != genB)
    assert(exists(s"$genA/_SUCCESS") && exists(s"$genB/_SUCCESS"),
      "building one dataset must not vacuum the other")
    assert(table("collide", a, srcA).count() == 3)
    assert(spark.read.parquet(genA).count() == 3 &&
      spark.read.parquet(genB).count() == 5,
      "each generation holds its own dataset's rows")
  }

  test("a generation without its marker is wiped and rebuilt") {
    val ds = s"$base/torn"
    val src = dataset(ds, 4)
    var builds = 0
    def build(crash: Boolean)(gen: String): Unit = {
      builds += 1
      spark.range(builds).write.parquet(s"$gen/part$builds")
      if (crash) throw new IllegalStateException("crash mid-build")
    }
    intercept[IllegalStateException](
      Artifact.dir(spark, Root, "torn", ds, src)(build(crash = true)))
    val gen = Artifact.dir(spark, Root, "torn", ds, src)(build(crash = false))
    assert(builds == 2, "the torn generation must rebuild")
    assert(!exists(s"$gen/part1"), "torn output must be wiped first")
    assert(exists(s"$gen/part2") && exists(s"$gen/_SUCCESS"))
    assert(committed("torn", ds, src) == gen)
  }

  test("an empty partitioned build reads back as an empty frame with " +
      "the build's schema") {
    val ds = s"$base/empty"
    val src = dataset(ds, 2)
    val mk = spark.range(0)
      .select(col("id"), (col("id") % 2).as("k"), lit("x").as("s"))
    val df = Artifact.table(spark, Root, "empty", ds, src, Seq("k"))(mk)
    assert(!Util.anyParquetPart(committed("empty", ds, src)),
      "guard: a zero-row partitionBy write commits no part files")
    assert(df.schema == mk.schema)
    assert(df.count() == 0)
  }

  test("a rotated fingerprint vacuums the old generation and evicts its " +
      "read; another dataset's generation survives") {
    val (a, b) = (s"$base/rot_a", s"$base/rot_b")
    val (src, srcB) = (dataset(a, 3), dataset(b, 2))
    table("rot", a, src).count()
    table("rot", b, srcB).count()
    val (old, genB) = (committed("rot", a, src), committed("rot", b, srcB))
    def memoized(gen: String) = Artifact.reads.keys.exists(_._2 == gen)
    assert(memoized(old) && memoized(genB))
    dataset(a, 7) // in-place regeneration of dataset a
    assert(table("rot", a, src).count() == 7)
    val rotated = committed("rot", a, src)
    assert(rotated != old)
    assert(!exists(old), "the superseded generation must be vacuumed")
    assert(!memoized(old), "the superseded read must be evicted")
    assert(exists(s"$genB/_SUCCESS") && memoized(genB),
      "vacuum is scoped to one dataset path")
    assert(table("rot", b, srcB).count() == 2)
  }

  test("no stage keys a directory on a 32-bit hash") {
    val hashTag = """toHexString\((?:[^()]|\([^()]*\))*\.hashCode""".r
    def scalaFiles(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(scalaFiles)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    val files = scalaFiles(new java.io.File("src/main/scala"))
    assert(files.nonEmpty, "guard: the scan must see the sources")
    val hits = files.flatMap { f =>
      val text = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      val murmur = if (text.contains("MurmurHash3.stringHash(")) Seq(
        "MurmurHash3.stringHash") else Nil
      (murmur ++ hashTag.findAllIn(text)).map(m => s"${f.getPath}: $m")
    }
    assert(hits.isEmpty, "key artifact dirs with graft.Artifact.key, not a " +
      s"32-bit hash:\n${hits.mkString("\n")}")
  }

  override def afterAll(): Unit = {
    fs.delete(new Path(base), true)
    super.afterAll()
  }
}
