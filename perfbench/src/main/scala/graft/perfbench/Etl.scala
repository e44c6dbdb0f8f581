package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.ops.{AsOf, Corpus, Dedup, Extras, Relational, Skew, TextOps}
import graft.multimodal.MultimodalOps
import graft.pipeline.RedskinsPipeline

/** etl: the relational catalog entries (Relational, Extras, Skew, AsOf), the
  * sink entries, the multimodal entries, the curation entries and the
  * Redskins pipeline, run by four concurrent clients (one Spark driver
  * serving several ETL users). One op is one entry run to the `noop` sink;
  * the output's digest is observed in the same pass and checked against
  * the recorded one outside the op's span. The tables are generated from a
  * fixed seed, so every run checks the same recorded digests; the run seed
  * permutes the entry order of each pass. */
object Etl {
  val Sf = 0.005
  /** Concurrent clients, each a closed loop over the shared entry queue. */
  private val Clients = 4
  private val CostClasses = 4
  /** Realistic documents for the text and multimodal entries. */
  private val Docs = 1000L
  private val TableSeed = 42L
  private val fixtures = "src/test/resources/fixtures"

  def pipeline(s: SparkSession): DataFrame =
    RedskinsPipeline.run(
      RedskinsPipeline.loadNflCsv(s, s"$fixtures/nfl"),
      RedskinsPipeline.loadElectionsCsv(s, s"$fixtures/elections/elections.csv"),
      RedskinsPipeline.electionDaysDf(s, 1976, 2020))

  type Entry = (String, String, (SparkSession, String) => DataFrame)

  /** The curation entries: the q154 funnel, n-gram dedup, clusters,
    * containment and text stats, over the realistic documents table. */
  val curation: Seq[Entry] = Seq(
    ("Corpus", "q154_curation_funnel", Corpus.q154CurationFunnel),
    ("Dedup", "q24_dedup_ngram", Dedup.q24DedupNgram),
    ("Dedup", "q53_dedup_clusters", Dedup.q53DedupClusters),
    ("Dedup", "q161_containment_pairs", Dedup.q161ContainmentPairs),
    ("TextOps", "q20_text_stats", TextOps.q20TextStats))

  /** (layer, name, entry): 34 relational, 5 sink, 4 multimodal and 5
    * curation entries, and the pipeline. */
  val entries: Seq[Entry] = {
    def from(layer: String, cat: Seq[(String, (SparkSession, String) => DataFrame, Option[String])]) =
      cat.map { case (n, f, _) => (layer, n, f) }
    from("Relational", Relational.catalog ++ Extras.catalog ++ Skew.catalog ++ AsOf.catalog) ++
      from("Sinks", graft.sources.Sinks.catalog) ++
      from("Multimodal", MultimodalOps.catalog) ++
      curation :+
      (("pipeline", "redskins_pipeline", (s: SparkSession, _: String) => pipeline(s)))
  }
}

final class Etl extends Workload {
  import Etl._
  private var dir = ""
  private var rnd: scala.util.Random = _
  private val outputs = scala.collection.mutable.LinkedHashMap.empty[String, (Long, String)]
  private var expected: Map[String, (Long, String)] = Map.empty

  def opKind: String = "entry"

  def prepare(c: Ctx, rep: Int): Unit = {
    dir = s"${c.work}/tables$rep"
    c.harness("generate")(Data.catalogTables(c.spark, dir, Sf, TableSeed, Docs))
  }

  /** Run one entry to `noop`, observing its output digest in the same pass;
    * `timed` records its latency. The digest is checked afterwards. */
  private def runEntry(c: Ctx, rec: Recorder, e: Entry, timed: Boolean): Unit = {
    val (layer, name, f) = e
    var digest: () => (Long, String) = null
    val body = () => c.span(layer, name) { digest = Stats.noopDigest(f(c.spark, dir), name) }
    val t0 = System.nanoTime()
    if (if (timed) rec.time(opKind)(body()) else rec.time(name, timed = false)(body()))
      checkDigest(rec, name, digest())
    cost.put(name, (System.nanoTime() - t0) / 1e9)
  }

  private def checkDigest(rec: Recorder, name: String, got: (Long, String)): Unit = {
    outputs.synchronized { outputs(name) = got }
    expected.get(name) match {
      case Some(want) if want != got => rec.checkFailed(s"$name digest $got != recorded $want")
      case None => rec.checkFailed(s"$name has no recorded digest")
      case _ => ()
    }
  }

  /** Entry costs seen in the last pass, by name. */
  private val cost = new java.util.concurrent.ConcurrentHashMap[String, Double]()

  /** A pass's order: the entries in `CostClasses` classes by the time each
    * took in the previous pass, heaviest class first, each class shuffled
    * by the seed. Starting the heavy entries first keeps the pass from
    * ending on one long entry while the other clients idle, so the pass
    * time does not depend on where the seed put the heavy entries. */
  private def passOrder(): IndexedSeq[Entry] = {
    val byCost = entries.sortBy(e => -cost.getOrDefault(e._2, 0.0)).toIndexedSeq
    val n = byCost.size
    (0 until CostClasses).flatMap(i =>
      rnd.shuffle(byCost.slice(i * n / CostClasses, (i + 1) * n / CostClasses)))
  }

  /** One pass: every entry once, taken from a shared queue by `Clients`
    * threads until the queue or the deadline runs out. Caches are cleared
    * after the pass, so no entry reuses a cache. */
  private def pass(c: Ctx, rec: Recorder, deadlineNs: Long, timed: Boolean): Unit = {
    val order = passOrder()
    val next = new java.util.concurrent.atomic.AtomicInteger(0)
    Stats.parallel(threads = Clients, thunks = Seq.fill(Clients) { () =>
      var i = next.getAndIncrement()
      while (i < order.size && System.nanoTime() < deadlineNs) {
        runEntry(c, rec, order(i), timed)
        i = next.getAndIncrement()
      }
    })
    c.spark.catalog.clearCache()
  }

  def warm(c: Ctx, rec: Recorder, exp: Expected): Unit = {
    require(new java.io.File(fixtures).isDirectory, s"fixtures not found under $fixtures")
    expected = exp.of("etl")
    require(entries.count(_._1 == "Relational") == 34 && entries.size == 49,
      s"etl expects 34 + 5 + 4 + 5 + 1 entries, found ${entries.size}")
    rnd = new scala.util.Random(c.seed)
    // untimed: one pass run the way the timed passes run
    c.harness("warm-up")(pass(c, rec, Long.MaxValue, timed = false))
  }

  def runTimed(c: Ctx, rec: Recorder, deadlineNs: Long): Unit =
    while (System.nanoTime() < deadlineNs) pass(c, rec, deadlineNs, timed = true)

  override def digests: Seq[(String, (Long, String))] = outputs.toSeq

  def check(c: Ctx, rec: Recorder): Unit = {
    val golden = c.harness("golden")(pipeline(c.spark).collect())
    val wrong = golden.filterNot(_.getAs[Boolean]("prediction_results"))
      .map(_.getAs[java.sql.Date]("elec_date").toLocalDate.getYear).toSet
    if (golden.length != 12 || wrong != Set(2012, 2016))
      rec.checkFailed(s"redskins golden: ${golden.length} rows, wrong in ${wrong.toSeq.sorted}")
  }

  override def detail(rec: Recorder, timedS: Double): Seq[(String, Double, String)] = {
    val ops = rec.of(opKind)
    Seq(("query_p50_s", Stats.median(ops), "s"), ("query_tail_s", Stats.tail(ops)._2, "s"),
      ("queries_per_s", ops.size / timedS, "1/s"))
  }
}
