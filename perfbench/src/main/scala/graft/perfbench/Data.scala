package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generators. Every value is a hash of (seed, row id, column
  * salt), so a table is identical for a given seed whatever the partitioning,
  * and the program under test only ever sees the generated files. */
object Data {

  /** Uniform [0, 1) from the row id, the seed and a per-column salt. */
  private def u(seed: Long, salt: Int, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(1L << 53)).cast("double") /
      lit((1L << 53).toDouble)

  /** Uniform integer in [0, n). */
  private def ri(seed: Long, salt: Int, n: Long, id: Column = col("id")): Column =
    pmod(xxhash64(lit(seed), lit(salt), id), lit(n))

  private def pick(seed: Long, salt: Int, values: Seq[String], id: Column = col("id")): Column =
    element_at(array(values.map(lit): _*), (ri(seed, salt, values.size.toLong, id) + 1).cast("int"))

  private def write(df: DataFrame, dir: String, table: String): Unit =
    df.coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$dir/$table.parquet")

  /** The catalog tables (region … embeddings) at scale factor `sf`, with the
    * column types and value ranges the catalog entries read: TPC-H-like
    * keys and measures, a month of events, `nDocs` realistic documents and
    * 64-d clustered embeddings. */
  def catalogTables(s: SparkSession, dir: String, sf: Double, seed: Long, nDocs: Long): Unit = {
    def n(base: Double): Long = math.max(1L, math.round(base * sf))
    val nCust = n(150000); val nSupp = n(10000); val nPart = n(200000)
    val nOrders = n(1500000); val nEvents = n(1000000)
    val nEmb = n(20000)
    val day0 = java.time.LocalDate.of(1995, 1, 1)

    write(s.range(5).select(col("id").cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (col("id") + 1).cast("int")).as("r_name")), dir, "region")
    write(s.range(25).select(col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey")), dir, "nation")
    write(s.range(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      ri(seed, 1, 25).cast("int").as("c_nationkey"),
      round(lit(-999.99) + u(seed, 2) * 10999.99, 2).as("c_acctbal"),
      pick(seed, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")), dir, "customer")
    write(s.range(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      ri(seed, 4, 25).cast("int").as("s_nationkey"),
      round(lit(-999.99) + u(seed, 5) * 10999.99, 2).as("s_acctbal")), dir, "supplier")
    write(s.range(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ",
        pick(seed, 6, Seq("small", "large", "red", "blue", "hot", "cold", "old", "new")),
        pick(seed, 7, Seq("ring", "bolt", "gear", "plate", "rod", "widget", "gizmo", "anvil")))
        .as("p_name"),
      concat(lit("Brand#"), (ri(seed, 8, 25) + 1).cast("string")).as("p_brand"),
      pick(seed, 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      (ri(seed, 10, 50) + 1).cast("int").as("p_size"),
      (lit(900.0) + (col("id") % 1000).cast("double") / 10.0).as("p_retailprice")),
      dir, "part")

    val orders = s.range(nOrders).select(col("id").as("o_orderkey"),
      ri(seed, 11, nCust).as("o_custkey"),
      pick(seed, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      round(lit(1000.0) + u(seed, 13) * 499000.0, 2).as("o_totalprice"),
      date_add(lit(java.sql.Date.valueOf(day0)), ri(seed, 14, 2404).cast("int"))
        .cast("timestamp_ntz").as("o_orderdate"),
      pick(seed, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))
    write(orders, dir, "orders")
    val lid = col("o_orderkey") * 8 + col("l_linenumber")
    write(orders
      .select(col("o_orderkey"), col("o_orderdate"),
        explode(sequence(lit(1), (ri(seed, 16, 7, col("o_orderkey")) + 1).cast("int")))
          .as("l_linenumber"))
      .select(col("o_orderkey").as("l_orderkey"),
        ri(seed, 17, nPart, lid).as("l_partkey"),
        ri(seed, 18, nSupp, lid).as("l_suppkey"),
        col("l_linenumber"),
        (ri(seed, 19, 50, lid) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + u(seed, 20, lid) * 104000.0, 2).as("l_extendedprice"),
        (ri(seed, 21, 11, lid).cast("double") / 100.0).as("l_discount"),
        (ri(seed, 22, 9, lid).cast("double") / 100.0).as("l_tax"),
        pick(seed, 23, Seq("A", "N", "R"), lid).as("l_returnflag"),
        pick(seed, 24, Seq("F", "O"), lid).as("l_linestatus"),
        (col("o_orderdate") + make_dt_interval((ri(seed, 25, 120, lid) + 1).cast("int")))
          .as("l_shipdate")),
      dir, "lineitem")

    // a month of events, ts increasing with event_id plus jitter
    val stepUs = 30L * 86400L * 1000000L / nEvents
    write(s.range(nEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L) +
        col("id") * stepUs + ri(seed, 26, stepUs)).cast("timestamp_ntz").as("ts"),
      ri(seed, 27, n(15000)).as("user_id"),
      pick(seed, 28, Seq("click", "error", "purchase", "signup", "view")).as("event_type"),
      round(-log(lit(1.0) - u(seed, 29)) * 50.0, 2).as("value"),
      format_string("{\"k\": %d}", ri(seed, 30, 100)).as("props")), dir, "events")

    realDocsTable(s, dir, nDocs, seed)
    write(embeddings(s, 0L, nEmb, seed), dir, "embeddings")
  }

  /** 64-d unit vectors for vec_ids [from, from + n), around ten seeded
    * cluster centres, labelled by cluster. */
  def embeddings(s: SparkSession, from: Long, n: Long, seed: Long): DataFrame = {
    val label = ri(seed, 40, 10)
    val raw = transform(sequence(lit(0), lit(63)), i =>
      (pmod(xxhash64(lit(seed), lit(41), label, i), lit(2001L)).cast("double") - 1000.0) / 1000.0 +
        (pmod(xxhash64(lit(seed), lit(42), col("id"), i), lit(2001L)).cast("double") - 1000.0) / 2500.0)
    s.range(from, from + n)
      .select(col("id"), label.cast("int").as("label"), raw.as("raw"))
      .withColumn("nrm", sqrt(aggregate(col("raw"), lit(0.0), (a, x) => a + x * x)))
      .select(col("id").as("vec_id"),
        transform(col("raw"), x => (x / col("nrm")).cast("float")).as("embedding"),
        col("label"))
  }

  /** `n` documents of the realistic corpus (GenRealText's populations:
    * English, German/French, junk, exact and near duplicates, excerpts),
    * doc_ids [from, from + n), text drawn for id `offset + doc_id` so the
    * seed selects a different corpus of the same shape. */
  def realDocs(s: SparkSession, from: Long, n: Long, nBase: Long, seed: Long): DataFrame = {
    import s.implicits._
    val offset = math.floorMod(seed * 7919L, 1000003L) * nBase
    s.range(from, from + n).as[Long]
      .map { id =>
        val text = graft.GenRealText.docText(offset + id, nBase)
        (id, text, "en", s"src${id % 20}", text.length.toLong)
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def realDocsTable(s: SparkSession, dir: String, n: Long, seed: Long): Unit =
    write(realDocs(s, 0L, n, math.max(1L, n / 10L), seed), dir, "documents")
}
