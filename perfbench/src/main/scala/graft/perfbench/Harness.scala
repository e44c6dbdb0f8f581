package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** What a workload gets: the session, its scratch dir, the seed, the tracer. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val tracer: Tracer) {
  def span[T](layer: String, label: String = "")(body: => T): T = tracer.span(layer, label)(body)
  def harness[T](label: String)(body: => T): T = tracer.span(Layers.Harness, label)(body)

  /** Execute a lazy frame completely without collecting it. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Bytes under a directory (0 if absent). */
  def bytesUnder(path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }
}

/** Latency samples per op kind, plus attempted/failed counts. An op that
  * throws counts as failed and records no latency. Ops and checks may be
  * recorded from several client threads at once. */
final class Recorder {
  val samples: mutable.Map[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  /** (start, end) nanoTime of every completed timed op. */
  val intervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty

  /** Run one op; returns false if it threw. A timed op's latency is
    * sampled under `kind`; an untimed one (warm-up) is only counted. */
  def time(kind: String, timed: Boolean = true)(body: => Unit): Boolean = {
    val t0 = System.nanoTime()
    val error = try { body; None } catch {
      case e: Throwable =>
        Some(s"$kind: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(300)}")
    }
    val t1 = System.nanoTime()
    synchronized {
      attempted += 1
      error match {
        case Some(m) => failed += 1; errors += m
        case None if timed =>
          samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e9
          intervals += ((t0, t1))
        case None => ()
      }
    }
    System.err.println(f"perfbench: ${if (timed) "" else "untimed "}$kind ${(t1 - t0) / 1e9}%.3f s")
    error.isEmpty
  }

  /** A failed output check: counted as an attempted op that failed. */
  def checkFailed(what: String): Unit = synchronized {
    attempted += 1; failed += 1; errors += s"check: $what"
  }

  /** Ops completed per second of the window [from, to): each op counts
    * with the share of its duration that fell inside the window, so an op
    * cut by the deadline counts in part and the rate has no step of one op. */
  def rate(from: Long, to: Long): Double = synchronized {
    intervals.map { case (a, b) =>
      if (b <= a) 1.0 else (math.min(b, to) - math.max(a, from)).max(0L).toDouble / (b - a)
    }.sum / ((to - from) / 1e9)
  }

  def of(kind: String): Seq[Double] = synchronized(samples.get(kind).map(_.toSeq).getOrElse(Nil))
}

object Stats {
  /** Run independent thunks on `threads` pool threads and wait for all.
    * The threads are created by the caller, so Spark jobs they submit carry
    * the caller's job tag. */
  def parallel(thunks: Seq[() => Unit], threads: Int = 4): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try thunks.map(t => pool.submit(new Runnable { def run(): Unit = t() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** NaN for no samples. */
  def median(xs: Seq[Double]): Double = if (xs.isEmpty) Double.NaN else {
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile with at least ten samples above it, as
    * (percentile, value); with 10 or fewer samples, the maximum. */
  def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (Double.NaN, Double.NaN)
    else if (n <= 10) (100.0, s.last)
    else (100.0 * (n - 10) / n, s(n - 11))
  }

  /** Order-insensitive digest of a frame, as (rows, hash): the row count
    * and the sum of per-row 64-bit hashes. Floating columns are rendered to
    * 9 significant digits first, so the digest does not depend on summation
    * order. */
  private def digestCols(df: DataFrame): (DataFrame, Seq[Column]) = {
    val named = df.toDF(df.columns.indices.map(i => s"pb_c$i"): _*)
    val cols = named.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => format_string("%.9g", col(f.name))
        case _ => col(f.name)
      }
    }
    (named, Seq(count(lit(1)).as("rows"),
      coalesce(sum(xxhash64(cols: _*).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))
        .as("hash")))
  }

  /** Execute a frame to the `noop` sink while observing its digest in the
    * same pass; the digest is read after the write returns. */
  def noopDigest(df: DataFrame, name: String): () => (Long, String) = {
    val (named, aggs) = digestCols(df)
    val obs = org.apache.spark.sql.Observation(name)
    named.observe(obs, aggs.head, aggs.tail: _*)
      .write.format("noop").mode("overwrite").save()
    () => {
      val m = obs.get
      (m("rows").asInstanceOf[Long], m("hash").toString)
    }
  }
}

object Json {
  def str(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }.mkString("\"", "", "\"")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
