package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** The engine's modules, as the benchmark's layers. Every call the harness
  * makes into one of them runs inside a span named after it. */
object Layers {
  val all: Seq[String] = Seq("session", "pipeline", "Relational", "Sinks",
    "Multimodal", "TextOps", "Dedup", "Corpus", "Similarity", "Retrieval",
    "DocStream", "VecStream")
  /** Layers whose spill is reported (the shuffle-heavy text kernels). */
  val spilling: Set[String] = Set("TextOps", "Dedup", "Corpus", "Similarity")
  /** Per-layer ratios every traced run reports (0 with no base). */
  val ratios: Seq[String] = Seq("Retrieval.compact_acted_ratio",
    "Similarity.maintain_acted_ratio", "Retrieval.write_amp", "DocStream.kept_ratio")
  /** The harness's own work (input generation, warm-up, output checks). */
  val Harness = "bench"
  /** Job tag of a span: prefix, layer, '.', span id. */
  val TagPrefix = "pb-"
}

final case class Span(id: Int, layer: String, label: String, parent: Int, run: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def wallS: Double = (endNs - startNs) / 1e9
}

/** A job with the (layer, span id) of its tag; layer "" if untagged. */
final case class Job(layer: String, span: Int, startMs: Long, var endMs: Long, site: String)

/** Spark counts per span, keyed by the job tag set around each layer call.
  * Jobs submitted from pool threads a layer creates inherit the tag with
  * the rest of the thread's local properties. */
final class LayerCounts extends SparkListener {
  final class Acc {
    var jobs = 0L; var tasks = 0L; var taskMs = 0L; var shuffleWrite = 0L
    var output = 0L; var result = 0L; var spill = 0L
    def add(o: Acc): Unit = {
      jobs += o.jobs; tasks += o.tasks; taskMs += o.taskMs; shuffleWrite += o.shuffleWrite
      output += o.output; result += o.result; spill += o.spill
    }
  }
  private val stageSpan = new ConcurrentHashMap[Int, (String, Int)]()
  private val accs = new ConcurrentHashMap[(String, Int), Acc]()
  val jobs = new ConcurrentHashMap[Int, Job]()

  private def acc(key: (String, Int)): Acc = accs.computeIfAbsent(key, _ => new Acc)

  private def spanOf(props: java.util.Properties): (String, Int) =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(",")).find(_.startsWith(Layers.TagPrefix))
      .map { t =>
        val body = t.stripPrefix(Layers.TagPrefix)
        val dot = body.lastIndexOf('.')
        (body.substring(0, dot), body.substring(dot + 1).toInt)
      }.getOrElse(("", -1))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val key = spanOf(e.properties)
    jobs.put(e.jobId, Job(key._1, key._2, e.time, Long.MaxValue,
      Option(e.properties).map(_.getProperty("callSite.short", "")).getOrElse("")))
    e.stageIds.foreach(stageSpan.putIfAbsent(_, key))
    val a = acc(key)
    a.synchronized { a.jobs += 1 }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(Option(stageSpan.get(e.stageId)).getOrElse(("", -1)))
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.taskMs += m.executorRunTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.output += m.outputMetrics.bytesWritten
        a.result += m.resultSize
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  /** Counts summed over the spans whose layer passes `p`. */
  def counts(p: String => Boolean): Acc = {
    val total = new Acc
    accs.asScala.foreach { case ((l, _), a) => if (p(l)) a.synchronized(total.add(a)) }
    total
  }
  def counts(layer: String): Acc = counts(_ == layer)
}

/** Spans around calls into layers, kept in memory and summarised at the end
  * of the run. Spans nest per thread, so concurrent clients each have their
  * own stack. With tracing off, `span` only runs its body. */
final class Tracer(val enabled: Boolean, run: String) {
  private val done = mutable.ArrayBuffer.empty[Span]
  private val open = new ThreadLocal[List[(Int, String, Long, Long)]] {
    override def initialValue(): List[(Int, String, Long, Long)] = Nil
  }
  private val nextId = new AtomicInteger(0)
  @volatile private var sc: Option[SparkContext] = None
  val listener = new LayerCounts

  def attach(ctx: SparkContext): Unit = if (enabled) {
    sc = Some(ctx)
    ctx.addSparkListener(listener)
  }

  private def setTag(top: Option[(Int, String)]): Unit = sc.foreach { c =>
    c.clearJobTags()
    top.foreach { case (id, layer) => c.addJobTag(s"${Layers.TagPrefix}$layer.$id") }
  }

  def span[T](layer: String, label: String = "")(body: => T): T =
    if (!enabled) body
    else {
      require(Layers.all.contains(layer) || layer == Layers.Harness, s"unknown layer $layer")
      val id = nextId.getAndIncrement()
      val stack = open.get
      val t0 = System.nanoTime()
      val m0 = System.currentTimeMillis()
      open.set((id, layer, t0, m0) :: stack)
      setTag(Some((id, layer)))
      try body
      finally {
        val span = Span(id, layer, label, stack.headOption.map(_._1).getOrElse(-1), run,
          t0, System.nanoTime(), m0, System.currentTimeMillis())
        done.synchronized { done += span }
        open.set(stack)
        setTag(stack.headOption.map(s => (s._1, s._2)))
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toSeq)

  /** Start time and call site of jobs that carried no layer or harness tag. */
  def untagged: Seq[String] =
    listener.jobs.values.asScala.filter(_.layer == "").map(j => s"${j.startMs} ${j.site}").toSeq

  /** Per-layer metrics: span wall, self time (wall minus the part covered
    * by child spans), Spark counts by tag, and driver time (self time during
    * which no job of that span ran). */
  def layerMetrics(): Map[String, Double] = {
    val all = spans
    val jobsBySpan = listener.jobs.values.asScala.toSeq.groupBy(_.span)
    def minus(iv: (Long, Long), cuts: Seq[(Long, Long)]): Seq[(Long, Long)] =
      cuts.foldLeft(Seq(iv)) { (pieces, c) =>
        pieces.flatMap { case (a, b) =>
          if (c._2 <= a || c._1 >= b) Seq((a, b))
          else Seq((a, c._1), (c._2, b)).filter(p => p._2 > p._1)
        }
      }
    val children = all.groupBy(_.parent)
    val out = mutable.LinkedHashMap.empty[String, Double]
    Layers.all.foreach { l =>
      val ss = all.filter(_.layer == l)
      val wall = ss.map(_.wallS).sum
      val childWall = ss.map(sp => children.getOrElse(sp.id, Nil).map(_.wallS).sum).sum
      val driverMs = ss.map { sp =>
        val self = minus((sp.startMs, sp.endMs),
          children.getOrElse(sp.id, Nil).map(c => (c.startMs, c.endMs)))
        val busy = jobsBySpan.getOrElse(sp.id, Nil).map(j => (j.startMs, math.max(j.startMs, j.endMs)))
        self.flatMap(minus(_, busy)).map(p => p._2 - p._1).sum
      }.sum
      val c = listener.counts(l)
      out(s"$l.wall_s") = wall
      out(s"$l.self_s") = wall - childWall
      out(s"$l.jobs") = c.jobs.toDouble
      out(s"$l.tasks") = c.tasks.toDouble
      out(s"$l.task_s") = c.taskMs / 1e3
      out(s"$l.driver_s") = driverMs / 1e3
      out(s"$l.shuffle_write_bytes") = c.shuffleWrite.toDouble
      out(s"$l.output_bytes") = c.output.toDouble
      out(s"$l.result_bytes") = c.result.toDouble
      if (Layers.spilling(l)) out(s"$l.spill_bytes") = c.spill.toDouble
    }
    out.toMap
  }

  /** (attributed, global) jobs and tasks: those carrying a layer tag or the
    * harness's own tag, against everything the listener saw. Equal iff no
    * job escaped attribution. */
  def attribution(): (Long, Long, Long, Long) = {
    val named = listener.counts(l => Layers.all.contains(l) || l == Layers.Harness)
    (named.jobs, listener.jobs.size.toLong, named.tasks, listener.counts(_ => true).tasks)
  }

  def spansJson: String =
    spans.map(s => f"""{"id":${s.id},"layer":"${s.layer}","label":"${s.label}","parent":${s.parent},"run":"${s.run}","start_ms":${s.startMs},"end_ms":${s.endMs},"wall_s":${s.wallS}%.6f}""")
      .mkString("[", ",\n", "]")
}
