package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** One workload's life in a run: inputs and artifacts (`prepare`, repeated
  * to time set-up), an untimed warm-up, timed ops until the deadline, then
  * output checks. */
trait Workload {
  /** The op whose latency is the headline (op_p50_s, op_tail_s). */
  def opKind: String
  /** Generate the inputs (run several times to time set-up; the last
    * repetition's inputs are used). */
  def prepare(c: Ctx, rep: Int): Unit
  /** Build the artifacts the ops read, once, from the last inputs. */
  def build(c: Ctx): Unit = ()
  /** Untimed warm-up; `expected` holds the recorded digests to check. */
  def warm(c: Ctx, rec: Recorder, expected: Expected): Unit
  /** The timed window: closed-loop ops until the deadline. */
  def runTimed(c: Ctx, rec: Recorder, deadlineNs: Long): Unit
  /** End-of-run output checks. */
  def check(c: Ctx, rec: Recorder): Unit
  /** Workload-specific figures for the detail line: (name, value, unit). */
  def detail(rec: Recorder, timedS: Double): Seq[(String, Double, String)] = Nil
  /** Per-layer ratios reported in traced runs, as (name, numerator, base). */
  def ratios: Seq[(String, Double, Double)] = Nil
  /** Digests to record for this run's seed, as (name, (rows, hash)). */
  def digests: Seq[(String, (Long, String))] = Nil
}

/** Recorded output digests: workload → name → (rows, hash). */
final case class Expected(byWorkload: Map[String, Map[String, (Long, String)]]) {
  def of(w: String): Map[String, (Long, String)] = byWorkload.getOrElse(w, Map.empty)
}

object Expected {
  /** Tab-separated `workload name rows hash` lines; `#` starts a comment. */
  def load(path: String): Expected = {
    val src = scala.io.Source.fromFile(path)
    try Expected(src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\t")).toSeq
      .groupBy(_(0)).map { case (w, rows) => w -> rows.map(r => r(1) -> (r(2).toLong, r(3))).toMap })
    finally src.close()
  }
}

object Main {
  private val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workloadName = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")
    val expected = Expected.load(opts("expected"))
    val record = opts.getOrElse("record", "0") == "1"
    val workload: Workload = workloadName match {
      case "etl" => new Etl
      case "ingest-serve" => new IngestServe
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val os = ManagementFactory.getOperatingSystemMXBean
    val loadStart = os.getSystemLoadAverage
    val cores = Runtime.getRuntime.availableProcessors()
    val tracer = new Tracer(trace, s"$workloadName-$seed")
    val rec = new Recorder

    val tSetup0 = System.nanoTime()
    val spark = tracer.span("session") {
      val s = SparkSession.builder()
        .master(s"local[$cores]")
        .withExtensions(new graft.GraftExtensions)
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.maxPlanStringLength", "1048576")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", (64L << 20).toString)
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/local")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      graft.functions.VectorFunctions.register(s)
      s
    }
    val sessionS = (System.nanoTime() - tSetup0) / 1e9
    tracer.attach(spark.sparkContext)
    val ctx = new Ctx(spark, work, seed, tracer)

    // set-up: inputs several times (median), artifacts once, then a warm-up
    val prepS = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      workload.prepare(ctx, rep)
      val sec = (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: prepare $rep took $sec%.2f s")
      sec
    }
    val tBuild = System.nanoTime()
    workload.build(ctx)
    val buildS = (System.nanoTime() - tBuild) / 1e9
    val tWarm = System.nanoTime()
    workload.warm(ctx, rec, expected)
    val warmS = (System.nanoTime() - tWarm) / 1e9
    System.err.println(f"perfbench: build took $buildS%.2f s, warm-up $warmS%.2f s")
    val setupS = sessionS + Stats.median(prepS) + buildS + warmS

    // timed window: closed loop until the deadline
    val timed0 = System.nanoTime()
    val deadline = timed0 + (seconds * 1e9).toLong
    workload.runTimed(ctx, rec, deadline)
    val timedS = (System.nanoTime() - timed0) / 1e9

    val tCheck = System.nanoTime()
    workload.check(ctx, rec)
    org.apache.spark.PerfbenchBridge.drainListeners(spark.sparkContext)
    System.err.println(f"perfbench: checks took ${(System.nanoTime() - tCheck) / 1e9}%.2f s")
    val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
    val loadEnd = os.getSystemLoadAverage

    val ops = rec.of(workload.opKind)
    val (tailPct, tailV) = if (ops.nonEmpty) Stats.tail(ops) else (0.0, 0.0)
    // end-to-end: set-up, the headline op's median latency, and ops of every
    // kind completed per second of the timed window (ops still running at
    // the deadline count with the share done by then)
    val e2e: Seq[(String, Double, String)] =
      if (ops.isEmpty) Nil
      else Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_s", Stats.median(ops), "s"),
        ("ops_per_s", rec.rate(timed0, deadline), "1/s"))
    val info = Seq(
      "workload" -> Json.str(workloadName), "seed" -> seed.toString,
      "cores" -> cores.toString, "load_start" -> Json.num(loadStart),
      "load_end" -> Json.num(loadEnd), "timed_s" -> Json.num(timedS),
      "session_s" -> Json.num(sessionS), "prepare_s" -> prepS.map(Json.num).mkString("[", ",", "]"),
      "build_s" -> Json.num(buildS), "warm_s" -> Json.num(warmS), "op_samples" -> ops.size.toString,
      "op_tail_s" -> Json.num(tailV), "op_tail_pct" -> Json.num(tailPct),
      "failed_frac" -> Json.num(
        if (rec.attempted == 0) 0.0 else rec.failed.toDouble / rec.attempted),
      "heap_post_gc_mb" -> Json.num(heapMb),
      "ops_by_kind" -> Json.obj(rec.samples.toSeq.map { case (k, v) =>
        k -> Json.obj(Seq("n" -> v.size.toString, "p50_s" -> Json.num(Stats.median(v.toSeq)),
          "sum_s" -> Json.num(v.sum))) }),
      "detail" -> Json.obj(workload.detail(rec, timedS).map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }),
      "errors" -> rec.errors.take(20).map(Json.str).mkString("[", ",", "]"))
    println(Json.obj(info))
    if (record) workload.digests.foreach { case (n, (rows, h)) =>
      println(s"RECORD\t$workloadName\t$n\t$rows\t$h")
    }

    val metrics: Seq[(String, Double, String)] =
      if (!trace) e2e
      else {
        val lm = tracer.layerMetrics()
        val (aj, gj, at, gt) = tracer.attribution()
        if (aj != gj || at != gt)
          rec.checkFailed(s"attribution: $aj of $gj jobs, $at of $gt tasks carry a tag")
        println(Json.obj(Seq("attribution" -> Json.obj(Seq(
          "layer_and_bench_jobs" -> aj.toString, "listener_jobs" -> gj.toString,
          "layer_and_bench_tasks" -> at.toString, "listener_tasks" -> gt.toString,
          "untagged_sites" -> tracer.untagged.take(10).map(Json.str).mkString("[", ",", "]"))),
          "ratios" -> Json.obj(workload.ratios.map { case (n, a, b) =>
            n -> Json.obj(Seq("num" -> Json.num(a), "base" -> Json.num(b))) }))))
        val out = new java.io.File(opts.getOrElse("spans", s"$work/spans.json"))
        java.nio.file.Files.writeString(out.toPath, tracer.spansJson)
        Layers.all.flatMap { l =>
          Seq("wall_s", "self_s", "jobs", "tasks", "task_s", "driver_s",
            "shuffle_write_bytes", "output_bytes", "result_bytes", "spill_bytes")
            .map(m => s"$l.$m").filter(lm.contains)
            .map(k => (k, lm(k), Units.of(k)))
        } ++ Layers.ratios.map { n =>
          val (a, b) = workload.ratios.collectFirst { case (`n`, a, b) => (a, b) }.getOrElse((0.0, 0.0))
          (n, if (b == 0) 0.0 else a / b, "ratio")
        } ++
          Seq(("bench.traced_op_p50_s", Stats.median(ops), "s"),
            ("bench.heap_post_gc_mb", heapMb, "MB"))
      }
    val correct = rec.failed == 0 && ops.nonEmpty
    val tStop = System.nanoTime()
    spark.stop()
    System.err.println(f"perfbench: stop took ${(System.nanoTime() - tStop) / 1e9}%.2f s")
    println(Json.obj(Seq(
      "correct" -> correct.toString,
      "attempted" -> math.max(1L, rec.attempted).toString,
      "failed" -> rec.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) }))))
  }
}

object Units {
  def of(metric: String): String = metric.substring(metric.lastIndexOf('.') + 1) match {
    case m if m.endsWith("_s") => "s"
    case m if m.endsWith("_bytes") => "bytes"
    case _ => "count"
  }
}
