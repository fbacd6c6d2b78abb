package perfbench

import java.io.{BufferedReader, File, InputStreamReader}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse, render}

import graft.Util.QFn

/** The benchmark's engine side: one closed-loop client driving the
  * registry's query functions over the op sequence in a plan file.
  *
  * Usage: `perfbench.Main <plan.json>`; `perfbench/run.py` writes the
  * plan. Phases, in order:
  *  1. set-up (`setup_s` is the process CPU time up to its end): session creation,
  *     one run of every distinct (query, dataset) pair, which fills the
  *     codegen caches and builds the artifacts a serving workload reads,
  *     then the workload's untimed warm-up passes and a wait for the JIT
  *     compiler queue to drain;
  *  2. verification (untimed): the set-up rows of every pair are digested
  *     and written as parquet, then the plan runner compares them with the
  *     DuckDB oracle and answers on stdin;
  *  3. the timed loop: every op runs `fn(spark, dataset)` and collects
  *     every row, so the optimizer cannot prune a column users pay for
  *     (it could under `count()`), and must reproduce the verified digest.
  * With tracing on, each op is split into construct / analyze / optimize
  * / plan / execute spans and Spark's events are counted per op. The
  * analyze span is Spark's own analysis phase of the returned DataFrame
  * (its `QueryPlanningTracker`): the module function's `Dataset.ofRows`
  * analyses eagerly, inside construct.
  */
object Main {
  implicit val formats: Formats = DefaultFormats

  /** Registry modules, named as the layers are. */
  val modules: Seq[(String, Map[String, QFn])] = Seq(
    "Validate" -> graft.ops.Validate.queries,
    "Semi" -> graft.ops.Semi.queries,
    "Relational" -> graft.ops.Relational.queries,
    "Text" -> graft.ops.Text.queries,
    "Dedup" -> graft.ops.Dedup.queries,
    "Vector" -> graft.ops.Vector.queries,
    "Multimodal" -> graft.ops.Multimodal.queries,
    "Sinks" -> graft.ops.Sinks.queries,
    "Flow" -> graft.ops.Flow.queries,
    "Config" -> graft.ops.Config.queries,
    "Acl" -> graft.ops.Acl.queries,
    "EventsStream" -> graft.streaming.EventsStream.queries,
    "Plans" -> graft.plans.Plans.queries)

  final case class Op(query: String, module: String, ds: Int)

  /** One timed op's measurements; phase fields stay 0 when untraced. */
  final class OpRecord(val id: Int, val pass: Int, val op: Op) {
    var wallMs, constructMs, analyzeMs, optimizeMs, planMs, executeMs = 0.0
    var failed, threw = false
    var resultRows = 0L
    var counters = new Counters
    var artifactBuilds, artifactBytes = 0L
    var cpuMs, jvmGcMs, driverCpuMs = 0.0
  }

  final case class Span(op: Int, name: String, parent: String,
      startNs: Long, endNs: Long)

  def main(args: Array[String]): Unit = {
    val plan = parse(new String(
      java.nio.file.Files.readAllBytes(new File(args(0)).toPath), UTF_8))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = (plan \ "cpus").extract[Int]
    val trace = (plan \ "trace").extract[Boolean]
    val tmpDir = new File(System.getProperty("java.io.tmpdir"))
    val datasets = (plan \ "datasets").extract[Seq[String]]
    val owner: Map[String, String] = modules.flatMap { case (m, qs) =>
      qs.keys.map(_ -> m) }.toMap
    val queries = (plan \ "queries").extract[Seq[Map[String, String]]]
    queries.foreach { q =>
      require(owner.get(q("name")).contains(q("module")),
        s"${q("name")} is owned by ${owner.getOrElse(q("name"), "no module")}" +
          s", not ${q("module")}")
    }
    val fns: Map[String, QFn] = modules.flatMap(_._2).toMap
    val passes: Seq[Seq[Op]] = (plan \ "passes").children.map(_.children.map { o =>
      val q = (o \ "query").extract[String]
      Op(q, owner(q), (o \ "ds").extract[Int])
    })
    val freshCopies = (plan \ "fresh_copy_per_pass").extract[Boolean]

    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val compiler = ManagementFactory.getCompilationMXBean

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", (plan \ "local_dir").extract[String])
      .config("spark.sql.warehouse.dir", new File(tmpDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[engine] session ready at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1fs")

    def collect(df: DataFrame): Array[Row] = df.collect()
    def run(op: Op, dir: String): Array[Row] = collect(fns(op.query)(spark, dir))

    // ---- 1. set-up: session above, then one run of every distinct
    // (query, dataset) pair. That run warms the JIT and codegen caches,
    // builds the artifacts a serving workload reads, and captures the rows
    // the oracle check compares. Workloads that must build cold in the
    // timed loop run it on a separate copy of each dataset.
    val verifyDir = new File((plan \ "verify_dir").extract[String])
    val pairs: Seq[Op] = passes.flatten.distinct
    val results = pairs.map { op =>
      val dir =
        if (!freshCopies) datasets(op.ds)
        else {
          val copy = new File(verifyDir, s"ds${op.ds}")
          if (!copy.exists()) Disk.copyDataset(new File(datasets(op.ds)), copy)
          copy.getPath
        }
      val t0 = System.nanoTime()
      val res = try {
        val df = fns(op.query)(spark, dir)
        Right((collect(df), df.schema))
      } catch { case e: Throwable => Left(s"${e.getClass.getName}: ${e.getMessage}") }
      System.err.println(f"[engine] set-up ${op.query} ${(System.nanoTime() - t0) / 1e6}%.0fms")
      res
    }
    val passDir = new File((plan \ "pass_dir").extract[String])
    def passDirs(ops: Seq[Op], tag: String): Map[Int, String] =
      if (!freshCopies) datasets.indices.map(i => i -> datasets(i)).toMap
      else ops.map(_.ds).distinct.map { ds =>
        val copy = new File(passDir, s"$tag-ds$ds")
        Disk.copyDataset(new File(datasets(ds)), copy)
        ds -> copy.getPath
      }.toMap
    // Untimed warm-up passes let C2 compile the hot paths the first run
    // reached; then wait, idle, until the compilers go quiet.
    (0 until (plan \ "warmup_passes").extract[Int]).foreach { w =>
      val dirs = passDirs(passes.head, s"w$w")
      passes.head.foreach { op =>
        try run(op, dirs(op.ds)) catch { case _: Throwable => () }
      }
    }
    val settleStart = System.nanoTime()
    var compiledMs = compiler.getTotalCompilationTime
    var quiet = false
    while (!quiet && System.nanoTime() - settleStart < 15e9) {
      Thread.sleep(250)
      val now = compiler.getTotalCompilationTime
      quiet = now - compiledMs < 5
      compiledMs = now
    }
    val setupWallS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    // Set-up work: the process's CPU time so far, JIT and GC included.
    val setupS = osBean.getProcessCpuTime / 1e9
    System.err.println(f"[engine] set-up done in $setupWallS%.1fs, $setupS%.1f CPU s" +
      f" (JIT settled in ${(System.nanoTime() - settleStart) / 1e9}%.1fs)")

    // ---- 2. verification (untimed) ---------------------------------------
    val oracle = graft.SparkEntry.oracleSql
    val digests = mutable.Map.empty[(String, Int), String]
    val pairJson = pairs.zip(results).zipWithIndex.map { case ((op, res), i) =>
      val out = new File(verifyDir, s"pair$i")
      val error = res match {
        case Left(e) => JString(e)
        case Right((rows, schema)) =>
          digests((op.query, op.ds)) = Digest(rows)
          spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
            .write.parquet(out.getPath)
          JNull
      }
      JObject(
        "id" -> JInt(i), "query" -> JString(op.query),
        "module" -> JString(op.module), "dataset" -> JString(datasets(op.ds)),
        "result" -> JString(out.getPath),
        "oracle_sql" -> oracle.get(op.query).map(JString(_)).getOrElse(JNull),
        "error" -> error)
    }
    val manifest = new File(verifyDir, "pairs.json")
    java.nio.file.Files.writeString(manifest.toPath, compact(render(JArray(pairJson.toList))))
    System.err.println(f"[engine] verified ${pairs.size} pairs at ${(System.currentTimeMillis() - jvmStartMs) / 1000.0}%.1fs")
    println(s"PERFBENCH_VERIFY ${manifest.getPath}")
    System.out.flush()
    val verdict = parse(new BufferedReader(new InputStreamReader(System.in, UTF_8)).readLine())
    val wrong: Set[Int] = (verdict \ "failed").extract[Seq[Int]].toSet
    pairs.zipWithIndex.foreach { case (op, i) =>
      if (wrong(i)) digests.remove((op.query, op.ds))
    }

    // ---- 3. timed loop ---------------------------------------------------
    val meter = new Meter
    if (trace) spark.sparkContext.addSparkListener(meter)
    val sc = spark.sparkContext
    val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
    def gcMs: Long = gcBeans.map(_.getCollectionTime.max(0L)).sum
    val spans = mutable.ArrayBuffer.empty[Span]
    val records = mutable.ArrayBuffer.empty[OpRecord]
    val loopStart = System.nanoTime()
    var timedNs = 0L
    passes.zipWithIndex.foreach { case (ops, p) =>
      val dirs = passDirs(ops, s"p$p")
      val passStart = System.nanoTime()
      ops.foreach { op =>
        val rec = new OpRecord(records.size, p, op)
        records += rec
        val dir = dirs(op.ds)
        def span(name: String, parent: String, t0: Long, t1: Long): Unit =
          spans += Span(rec.id, name, parent, t0, t1)
        val expected = digests.get((op.query, op.ds))
        var cpu1 = 0L
        if (!trace) {
          val cpu0 = EngineCpu.snapshot()
          val t0 = System.nanoTime()
          val rows = try Some(run(op, dir)) catch { case _: Throwable => None }
          cpu1 = EngineCpu.since(cpu0)
          rec.wallMs = (System.nanoTime() - t0) / 1e6
          rec.threw = rows.isEmpty
          rec.failed = rows.forall(r => !expected.contains(Digest(r)))
          rec.resultRows = rows.map(_.length.toLong).getOrElse(0L)
        } else {
          val (art0, artBytes0) = Disk.scan(tmpDir)
          val gcOp0 = gcMs
          PerfbenchBus.drain(sc)
          rec.counters = meter.begin()
          val cpu0 = EngineCpu.snapshot()
          val id = s"op${rec.id}:${op.query}"
          def phase(name: String): Unit = {
            PerfbenchBus.drain(sc)
            meter.enter(name)
            sc.setJobGroup(s"$id/$name", op.query, interruptOnCancel = false)
          }
          val t0 = System.nanoTime()
          val rows = try {
            phase("construct")
            val t = System.nanoTime()
            val df = fns(op.query)(spark, dir)
            val tb = System.nanoTime()
            span("construct", "op", t, tb)
            // The returned DataFrame is analysed last, as the function
            // returns; the tracker times it in whole milliseconds.
            df.queryExecution.tracker.phases.get(QueryPlanningTracker.ANALYSIS)
              .foreach { a =>
                span("analyze", "construct", tb - math.min(a.durationMs * 1000000L, tb - t), tb)
              }
            phase("optimize")
            val tc = System.nanoTime()
            df.queryExecution.optimizedPlan
            val td = System.nanoTime()
            span("optimize", "op", tc, td)
            phase("plan")
            val te = System.nanoTime()
            df.queryExecution.executedPlan
            val tf = System.nanoTime()
            span("plan", "op", te, tf)
            phase("execute")
            val tg = System.nanoTime()
            val r = collect(df)
            val th = System.nanoTime()
            cpu1 = EngineCpu.since(cpu0)
            span("execute", "op", tg, th)
            PerfbenchBus.drain(sc)
            Some(r)
          } catch { case _: Throwable => cpu1 = EngineCpu.since(cpu0); PerfbenchBus.drain(sc); None }
          val t1 = System.nanoTime()
          sc.clearJobGroup()
          span("op", "", t0, t1)
          rec.wallMs = (t1 - t0) / 1e6
          rec.threw = rows.isEmpty
          rec.failed = rows.forall(r => !expected.contains(Digest(r)))
          rec.resultRows = rows.map(_.length.toLong).getOrElse(0L)
          val mine = spans.filter(_.op == rec.id)
          def ms(name: String): Double =
            mine.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).sum
          rec.constructMs = ms("construct"); rec.analyzeMs = ms("analyze")
          rec.optimizeMs = ms("optimize"); rec.planMs = ms("plan")
          rec.executeMs = ms("execute")
          rec.driverCpuMs = cpu1 / 1e6 - rec.counters.taskCpuNs / 1e6
          rec.jvmGcMs = (gcMs - gcOp0).toDouble
          val (art1, artBytes1) = Disk.scan(tmpDir)
          rec.artifactBuilds = art1 - art0
          rec.artifactBytes = math.max(0L, artBytes1 - artBytes0)
        }
        rec.cpuMs = cpu1 / 1e6
      }
      timedNs += System.nanoTime() - passStart
      System.err.println(f"[engine] pass $p done in ${(System.nanoTime() - passStart) / 1e9}%.1fs")
    }
    val diskBytes = Disk.scan(tmpDir)._2
    // Live heap: occupancy right after a full collection, forced once the
    // timed loop is over, as the heap pools' collection usage. The largest post-GC occupancy seen during the
    // loop depends on when young collections happen to run and swung by
    // almost 2x between identical runs; the live set the run retains does not.
    // A trivial job first, so the scheduler no longer references the last
    // op's job. Spark's ContextCleaner frees broadcast and shuffle blocks
    // only after a collection finds their owners unreachable, so collect
    // twice.
    spark.range(1).collect()
    System.gc()
    Thread.sleep(1000)
    System.gc()
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / (1024.0 * 1024.0)

    // ---- report ----------------------------------------------------------
    // Timings cover every op that ran to completion, its result right or
    // wrong, so a seed on which a query mismatches times the same op mix.
    val ok = records.filterNot(_.threw)
    val tailPct = (plan \ "tail_percentile").extract[Int]
    def median(xs: Seq[Double]): Double = {
      val v = xs.sorted
      if (v.isEmpty) 0.0
      else if (v.size % 2 == 1) v(v.size / 2)
      else (v(v.size / 2 - 1) + v(v.size / 2)) / 2
    }
    def tail(xs: Seq[Double]): Double = {  // nearest rank
      val v = xs.sorted
      if (v.isEmpty) 0.0
      else v((math.ceil(tailPct / 100.0 * v.size).toInt - 1).max(0))
    }
    val wall = Seq(
      ("latency_p50_ms", median(ok.map(_.wallMs).toSeq), "ms"),
      ("latency_tail_ms", tail(ok.map(_.wallMs).toSeq), "ms"),
      ("ops_per_s", ok.size / (timedNs / 1e9), "1/s"))
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("cpu_p50_ms", median(ok.map(_.cpuMs).toSeq), "ms"),
      ("cpu_tail_ms", tail(ok.map(_.cpuMs).toSeq), "ms"),
      ("ops_per_cpu_s", ok.size / (ok.map(_.cpuMs).sum / 1e3), "1/s"),
      ("live_heap_mb", heapMb, "MB"),
      ("disk_mb", diskBytes / (1024.0 * 1024.0), "MB")) ++ wall
    val layers = if (trace) wall ++ Seq(("setup_wall_s", setupWallS, "s")) ++ Layers(records.toSeq, cpus, modules.map(_._1)) else Nil
    def metric(v: Double, u: String): JValue = JObject("value" -> JDouble(v), "unit" -> JString(u))
    val report = JObject(
      "attempted" -> JInt(records.size),
      "failed" -> JInt(records.count(_.failed)),
      "failed_queries" -> JArray(records.filter(_.failed).map(_.op.query)
        .distinct.sorted.map(JString(_)).toList),
      "ops" -> JArray(records.map(r => JObject("query" -> JString(r.op.query),
        "ds" -> JInt(r.op.ds), "pass" -> JInt(r.pass), "ms" -> JDouble(r.wallMs), "cpu_ms" -> JDouble(r.cpuMs),
        "failed" -> JBool(r.failed))).toList),
      "tail_percentile" -> JInt(tailPct),
      "end_to_end" -> JObject(e2e.map { case (n, v, u) => n -> metric(v, u) }.toList),
      "per_layer" -> JObject(layers.map { case (n, v, u) => n -> metric(v, u) }.toList))
    java.nio.file.Files.writeString(new File((plan \ "report").extract[String]).toPath,
      compact(render(report)))
    if (trace) {
      val lines = spans.map { s =>
        compact(render(JObject("op" -> JInt(s.op), "query" -> JString(records(s.op).op.query),
          "span" -> JString(s.name), "parent" -> JString(s.parent),
          "start_ns" -> JLong(s.startNs - loopStart), "end_ns" -> JLong(s.endNs - loopStart))))
      }
      java.nio.file.Files.writeString(new File((plan \ "spans").extract[String]).toPath,
        lines.mkString("", "\n", "\n"))
    }
    spark.stop()
  }
}

/** Engine CPU time: the CPU time of the JVM's Java threads (the driver,
  * Spark's scheduler and executor task threads, shuffle and listener
  * threads), in nanoseconds. The JIT compiler and GC worker threads are
  * hidden from the thread MXBean, so they are left out: how much C2
  * compiles while an op runs depends on timing, not on the op. CPU time
  * also leaves out the time the host steals from this VM. */
object EngineCpu {
  private val bean = ManagementFactory.getThreadMXBean

  def snapshot(): Map[Long, Long] =
    bean.getAllThreadIds.map(id => id -> bean.getThreadCpuTime(id)).toMap

  /** CPU time used since `before` by the threads alive now. Spark's
    * worker pools keep an idle thread for a minute, so a thread that ended
    * in between had done next to nothing. */
  def since(before: Map[Long, Long]): Long =
    bean.getAllThreadIds.iterator.map { id =>
      val now = bean.getThreadCpuTime(id)
      if (now < 0) 0L else now - before.getOrElse(id, 0L).max(0L)
    }.sum
}

/** Order-independent digest of a result: row count plus the sum and xor
  * of a 64-bit hash of each row's canonical rendering. */
object Digest {
  def render(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map("%02x".format(_)).mkString("x", "", "")
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case other => other.toString
  }

  def apply(rows: Array[Row]): String = {
    var sum = 0L
    var xor = 0L
    rows.foreach { r =>
      val s = render(r)
      val h = (scala.util.hashing.MurmurHash3.stringHash(s, 17).toLong << 32) ^
        (scala.util.hashing.MurmurHash3.stringHash(s, 91).toLong & 0xffffffffL)
      sum += h
      xor ^= h
    }
    s"${rows.length}:$sum:$xor"
  }
}
