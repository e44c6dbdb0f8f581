package graft.perfbench

import scala.collection.mutable
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops.{Corpus, Retrieval, Similarity, TextOps}
import graft.streaming.{DocStream, VecStream}

/** ingest-serve: one generated realistic corpus (GenRealText's populations)
  * with embeddings; a segmented lexical index, an IVF-PQ root and the
  * curation state are built at set-up. Then a fixed cycle of ops:
  *   - serve: BM25 over the lexical artifact for a query batch, then an
  *     IVF-PQ search of a vector batch over the root (tombstones applied);
  *   - ingest: a fresh batch through `DocStream.curateBatch` against the
  *     state prepared at set-up, its kept docs appended to both artifacts,
  *     and tombstones for a few older live ids in both (an upsert batch:
  *     a delete alone is a tenth of the other ops' cost, and a rate over
  *     ops that different steps by a whole op at the deadline);
  *   - maintain: `maybeCompactLex` + `maybeMaintainIvf`.
  * The op kinds repeat in the same order in every run; the seed picks the
  * corpus, the batches, the queries and the deleted ids. */
object IngestServe {
  val Docs = 2000L
  val Batch = 100L
  val FreshBatches = 8
  val QueryBatches = 8
  val QueriesPerBatch = 5
  val VectorsPerBatch = 10
  val DeletesPerOp = 20
  val Threshold = 0.6
  val MaxSegments = 1
  val MaxTombstones = 1
  /** Query batches re-served and compared with a rebuild at run end. */
  val CheckedQueryBatches: Seq[Int] = Seq(0)

  /** Three serves per write; the untimed warm-up runs one of each kind
    * first, so the first timed maintenance window finds two tombstone
    * batches and acts on both artifacts. */
  val cycle: Seq[String] = Seq("serve", "ingest", "serve", "serve", "maintain")
}

final class IngestServe extends Workload {
  import IngestServe._

  private var dir = ""
  private def lexRoot = s"$dir/lex"
  private def ivfRoot = s"$dir/ivf"
  private var staticFps: DataFrame = _
  private var btable: Broadcast[(Array[Long], Array[Long])] = _
  private var index: DataFrame = _
  private var evalGrams: DataFrame = _
  private var queryTerms: IndexedSeq[DataFrame] = IndexedSeq.empty
  private var queryVecs: IndexedSeq[DataFrame] = IndexedSeq.empty
  private var rnd: scala.util.Random = _

  // run state
  private var nextBatch = 0
  private var nextQuery = 0
  private val live = mutable.LinkedHashSet.empty[Long]
  private val deleted = mutable.LinkedHashSet.empty[Long]
  private var offered = 0L
  private var kept = 0L
  private var appendedBytes = 0L
  private var compactedBytes = 0L
  private var compactCalls = 0L
  private var compactActed = 0L
  private var maintainCalls = 0L
  private var maintainActed = 0L
  private var ingestedBytes = 0L
  private var storedBytes = 0L

  def opKind: String = "serve"

  private def docsW(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("w"))

  private def embE(s: SparkSession): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  private def local(s: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  def prepare(c: Ctx, rep: Int): Unit = {
    val s = c.spark
    dir = s"${c.work}/corpus$rep"
    c.harness("generate") {
      Data.realDocsTable(s, dir, Docs, c.seed)
      Data.realDocs(s, Docs, Batch * FreshBatches, Docs / 10, c.seed)
        .withColumn("batch", ((col("doc_id") - Docs) / Batch).cast("int"))
        .coalesce(1).write.parquet(s"$dir/fresh")
      Data.embeddings(s, 0L, Docs + Batch * FreshBatches, c.seed)
        .coalesce(1).write.parquet(s"$dir/embeddings.parquet")
    }
  }

  override def build(c: Ctx): Unit = {
    val s = c.spark
    val docs = c.harness("read")(s.read.parquet(s"$dir/documents.parquet"))
    c.span("Retrieval", "lexIndexSegment")(Retrieval.lexIndexSegment(docsW(docs), lexRoot, "seg0"))
    c.span("Similarity", "ivfPqIndex") {
      val emb = embE(s).filter(col("vec_id") < Docs)
      val (subs, seeds) = Similarity.subSplit(emb)
      val (cents, books, codes) = Similarity.ivfPqIndex(emb, subs, seeds)
      Similarity.writeIvfArtifacts(ivfRoot, cents, books, codes)
      cents.unpersist(); books.unpersist()
    }
    c.span("DocStream", "nearDupIndex") {
      staticFps = docs.select(md5(col("text")).as("fp")).distinct().cache()
      staticFps.count()
      val (bt, ix) = DocStream.nearDupIndex(docs.select("doc_id", "text"), Threshold)
      btable = bt; index = ix
      index.count()
      evalGrams = Corpus.decontGrams(docsW(docs)
          .filter(col("doc_id") % 11 === 0 && size(col("w")) >= Corpus.DecontN))
        .select("g").distinct().cache()
      evalGrams.count()
    }
    c.harness("queries") {
      // seeded query batches, collected once into local frames so a serve
      // starts from its query terms and vectors
      rnd = new scala.util.Random(c.seed)
      def pick(n: Int) = IndexedSeq.fill(QueryBatches)(
        Seq.fill(n)(rnd.nextInt(Docs.toInt).toLong).distinct)
      val termIds = pick(QueriesPerBatch)
      val vecIds = pick(VectorsPerBatch)
      // the eval-query term table of TextOps.queryTermsOf, for seeded ids
      val terms = docsW(docs).filter(col("doc_id").isin(termIds.flatten: _*))
        .select(col("doc_id").as("query_id"),
          explode(array_distinct(slice(col("w"), 1, 4))).as("term"))
        .collect().toSeq
      val vecs = embE(s).filter(col("vec_id").isin(vecIds.flatten: _*)).collect().toSeq
      val qtSchema = StructType(Seq(StructField("query_id", LongType), StructField("term", StringType)))
      val vSchema = StructType(Seq(StructField("vec_id", LongType),
        StructField("e", ArrayType(DoubleType, containsNull = true))))
      queryTerms = termIds.map(ids => local(s, terms.filter(r => ids.contains(r.getLong(0))), qtSchema))
      queryVecs = vecIds.map(ids => local(s, vecs.filter(r => ids.contains(r.getLong(0))), vSchema))
    }
    live.clear(); live ++= (0L until Docs); deleted.clear()
    ingested.clear(); ingested ++= (0L until Docs)
  }

  def warm(c: Ctx, rec: Recorder, exp: Expected): Unit =
    Seq("serve", "ingest", "maintain").foreach { k =>
      rec.time(k, timed = false)(run(c, k)); account(c)
    }

  /** One client through the cycle. */
  def runTimed(c: Ctx, rec: Recorder, deadlineNs: Long): Unit = {
    var i = 0
    while (System.nanoTime() < deadlineNs) {
      val kind = cycle(i % cycle.size)
      i += 1
      rec.time(kind)(run(c, kind))
      account(c)
    }
  }

  /** Artifact sizes after an append or a compaction, measured outside the
    * op's time. */
  private def account(c: Ctx): Unit = {
    pendingSeg.foreach(seg => appendedBytes += c.bytesUnder(s"$lexRoot/$seg"))
    if (pendingCompaction) compactedBytes += c.bytesUnder(s"$lexRoot/seg0")
    pendingSeg = None; pendingCompaction = false
  }

  private var pendingSeg: Option[String] = None
  private var pendingCompaction = false
  private val ingested = mutable.LinkedHashSet.empty[Long]

  private def run(c: Ctx, kind: String): Unit = kind match {
    case "serve" => serve(c, nextQuery % QueryBatches); nextQuery += 1
    case "ingest" => delete(c); ingest(c); nextBatch += 1
    case "maintain" => maintain(c)
  }

  /** BM25 top-k over the lexical artifact and IVF-PQ top-k over the root
    * (tombstones applied), for query batch `q` and the artifacts at `lex`. */
  private def bm25(s: SparkSession, lex: String, q: Int, rank: DataFrame => DataFrame = identity)
      : DataFrame = {
    val (tf, df, stats) = Retrieval.lexIndexServe(s, lex)
    rank(TextOps.bm25RankedFrom(tf, df, stats, queryTerms(q)))
  }

  private def ann(s: SparkSession, q: Int): DataFrame = {
    val codes = s.read.parquet(s"$ivfRoot/codes")
    val liveCodes = Similarity.tombstoneUnion(s, ivfRoot)
      .map(del => codes.join(del, Seq("vec_id"), "left_anti")).getOrElse(codes)
    Similarity.ivfPqSearchFrom(s.read.parquet(s"$ivfRoot/cents"),
      s.read.parquet(s"$ivfRoot/books"), liveCodes, queryVecs(q))
  }

  private def serve(c: Ctx, q: Int): Unit = {
    c.span("Retrieval", "serve")(bm25(c.spark, lexRoot, q,
      ranked => { c.span("TextOps", "bm25RankedFrom")(c.noop(ranked)); ranked }))
    c.span("Similarity", "ivfPqSearchFrom")(c.noop(ann(c.spark, q)))
  }

  private def ingest(c: Ctx): Unit = {
    val s = c.spark
    require(nextBatch < FreshBatches, s"only $FreshBatches fresh batches were generated")
    val (batch, keptIds) = c.span("DocStream", "curateBatch") {
      val batch = s.read.parquet(s"$dir/fresh").filter(col("batch") === nextBatch)
        .select("doc_id", "text")
      val flags = DocStream.curateBatch(batch, staticFps, btable, index, Threshold, evalGrams)
      (batch, flags.select("doc_id", "kept").collect().toSeq)
    }
    offered += keptIds.size
    val ids = keptIds.filter(_.getBoolean(1)).map(_.getLong(0))
    kept += ids.size
    val idDf = local(s, ids.map(Row(_)), StructType(Seq(StructField("doc_id", LongType))))
    val seg = s"seg${1000 + nextBatch}"
    c.span("DocStream", "lexAppendBatch")(
      DocStream.lexAppendBatch(s, lexRoot, batch.join(idDf, "doc_id"), seg, maxSegments = 0))
    c.span("VecStream", "indexAppendBatch")(
      VecStream.indexAppendBatch(
        s.read.parquet(s"$dir/embeddings.parquet").join(idDf.withColumnRenamed("doc_id", "vec_id"), "vec_id"),
        ivfRoot, embE(s)))
    live ++= ids; ingested ++= ids
    pendingSeg = Some(seg)
  }

  private def delete(c: Ctx): Unit = {
    val s = c.spark
    val pool = live.toIndexedSeq
    val ids = Seq.fill(DeletesPerOp)(pool(rnd.nextInt(pool.size))).distinct
    val idDf = local(s, ids.map(Row(_)), StructType(Seq(StructField("doc_id", LongType))))
    val name = s"t$nextBatch"
    c.span("DocStream", "tombstoneBatch")(DocStream.tombstoneBatch(s, lexRoot, idDf, name))
    c.span("VecStream", "tombstoneBatch")(
      VecStream.tombstoneBatch(idDf.withColumnRenamed("doc_id", "vec_id"), ivfRoot, name))
    live --= ids; deleted ++= ids
  }

  private def maintain(c: Ctx): Unit = {
    val s = c.spark
    val compacted = c.span("Retrieval", "maybeCompactLex")(Retrieval.maybeCompactLex(s, lexRoot, MaxSegments))
    compactCalls += 1
    if (compacted) { compactActed += 1; pendingCompaction = true }
    val (a, b, m) = c.span("Similarity", "maybeMaintainIvf")(
      Similarity.maybeMaintainIvf(s, ivfRoot, embE(s), MaxTombstones, 1000000L))
    maintainCalls += 1
    if (a || b || m) maintainActed += 1
  }

  def check(c: Ctx, rec: Recorder): Unit = c.harness("check") {
    val s = c.spark
    // stored artifact bytes against the raw text + vector bytes ingested
    storedBytes = c.bytesUnder(lexRoot) + c.bytesUnder(ivfRoot)
    def idFrame(ids: Iterable[Long]) =
      local(s, ids.toSeq.map(Row(_)), StructType(Seq(StructField("doc_id", LongType))))
    val allDocs = s.read.parquet(s"$dir/documents.parquet").select("doc_id", "text")
      .unionByName(s.read.parquet(s"$dir/fresh").select("doc_id", "text"))
    ingestedBytes = allDocs.join(idFrame(ingested), "doc_id")
      .agg(sum(octet_length(col("text")) + 64 * 4)).head().getLong(0)
    // BM25 from the maintained artifact == BM25 from a fresh rebuild over the
    // live docs; neither family serves a deleted id
    val liveDocs = allDocs.join(idFrame(live), "doc_id")
    val rebuilt = s"$dir/rebuilt"
    Retrieval.lexIndexSegment(docsW(liveDocs), rebuilt, "seg0")
    CheckedQueryBatches.foreach { q =>
      val got = bm25(s, lexRoot, q).collect().toSet
      val want = bm25(s, rebuilt, q).collect().toSet
      if (got != want) rec.checkFailed(s"bm25 batch $q: maintained artifact serves ${got.size} rows " +
        s"that differ from the rebuild's ${want.size}")
      val bad = got.map(_.getAs[Long]("doc_id")).filter(deleted) ++
        ann(s, q).collect().map(_.getAs[Long]("neighbor_id")).filter(deleted)
      if (bad.nonEmpty) rec.checkFailed(s"batch $q serves deleted ids ${bad.take(5).mkString(",")}")
    }
  }

  override def detail(rec: Recorder, timedS: Double): Seq[(String, Double, String)] = Seq(
    ("serve_p50_s", Stats.median(rec.of("serve")), "s"),
    ("serve_tail_s", Stats.tail(rec.of("serve"))._2, "s"),
    ("ingest_p50_s", Stats.median(rec.of("ingest")), "s"),
    ("ingest_docs_per_s", rec.of("ingest").size * Batch / rec.of("ingest").sum, "1/s"),
    ("maintain_p50_s", Stats.median(rec.of("maintain")), "s"),
    ("stored_bytes_per_input_byte", storedBytes / ingestedBytes.toDouble, "ratio"))

  override def ratios: Seq[(String, Double, Double)] = Seq(
    ("Retrieval.compact_acted_ratio", compactActed.toDouble, compactCalls.toDouble),
    ("Similarity.maintain_acted_ratio", maintainActed.toDouble, maintainCalls.toDouble),
    ("Retrieval.write_amp", compactedBytes.toDouble, appendedBytes.toDouble),
    ("DocStream.kept_ratio", kept.toDouble, offered.toDouble))

}
