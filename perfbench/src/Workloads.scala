package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{Caches, SparkEntry, Tables}
import graft.functions.Text
import graft.operators._
import graft.sources.ParquetSink
import graft.streaming.StreamOps

/** The operations each workload issues, composed only from the library's
  * public entry points. Parameters arrive from the seeded plan
  * (perfbench/gen.py); the menus there and the constants here must agree.
  */
object Workloads {

  val Windows = IndexedSeq(("1995-01-01", "1995-12-31"), ("1996-07-01", "1997-06-30"),
    ("1998-01-01", "1998-12-31"), ("2000-06-01", "2001-05-31"))
  val SegSets = IndexedSeq(Seq("BUILDING", "AUTOMOBILE"), Seq("MACHINERY", "HOUSEHOLD"),
    Seq("FURNITURE", "BUILDING"))
  val FlagSets = IndexedSeq(Seq("A", "R"), Seq("N", "R"))
  val Segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  // ------------------------------------------------------------- dashboard

  def dashboard(s: SparkSession, d: String, t: String, p: Map[String, String]): DataFrame = {
    def window = Windows(p("window").toInt)
    def orders = Ops.between(Tables.orders(s, d), "o_orderdate", window._1, window._2)
    def withCustomer(o: DataFrame) =
      Joins.broadcastJoin(o, Tables.customer(s, d), ("o_custkey", "c_custkey"))
    def monthly(o: DataFrame) =
      withCustomer(o).withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
    t match {
      case "li_filter_topn" =>
        val li = Ops.between(Tables.lineitem(s, d), "l_shipdate", window._1, window._2)
        val kept = Ops.isInSet(li, "l_returnflag", FlagSets(p("flags").toInt))
        Ops.topN(Ops.select(kept, Seq("l_orderkey", "l_linenumber", "l_extendedprice",
          "l_discount", "l_shipdate")), 20,
          col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      case "orders_agg7" =>
        Agg.groupAgg(orders, Seq(p("key")), Seq("o_totalprice" -> Agg.SupportedFns))
      case "join_inner_seg" =>
        val kept = Ops.isInSet(withCustomer(orders), "r_c_mktsegment", SegSets(p("segs").toInt))
        Agg.groupAgg(kept, Seq("r_c_mktsegment", "r_c_nationkey"),
          Seq("o_totalprice" -> Seq("count", "sum", "avg")))
      case "join_left_seg" =>
        val cust = Ops.isInSet(Tables.customer(s, d), "c_mktsegment", Seq(p("seg")))
        val j = Joins.broadcastJoin(orders, cust, ("o_custkey", "c_custkey"), "left")
        Agg.groupAgg(j, Seq("r_c_mktsegment", "o_orderpriority"),
          Seq("o_totalprice" -> Seq("count", "max")))
      case "latest_per_group" =>
        val recent = Ops.filter(withCustomer(Tables.orders(s, d)),
          col("o_orderdate") >= lit(p("since")))
        val kept = Ops.isInSet(recent, "r_c_mktsegment", SegSets(p("segs").toInt))
        Ops.select(Analytics.latestPerGroup(kept, "o_custkey", "o_orderdate", Seq("o_orderkey")),
          Seq("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice", "r_c_nationkey"))
      case "pivot_ffill" =>
        val pv = Analytics.pivotMax(monthly(orders), Seq("r_c_nationkey", "o_month"),
          "r_c_mktsegment", Segments, "o_totalprice")
        Analytics.forwardFill(pv, "r_c_nationkey", Seq("o_month"), "BUILDING", "building_filled")
      case "rolling_avg" =>
        val m = Agg.groupAgg(monthly(orders), Seq("r_c_mktsegment", "o_month"),
          Seq("o_totalprice" -> Seq("sum")))
        Analytics.rollingAvg(m, "r_c_mktsegment", Seq("o_month"), "sum_o_totalprice",
          p("k").toInt, "rolling")
      case "covid_chain" => SparkEntry.covidChain(s, d)
      case "dashboard_chain" => SparkEntry.dashboardChain(s, d)
      case "sql_revenue" =>
        s.sql(s"""SELECT n.n_name, count(*) AS n_lines, sum(l.l_quantity) AS qty,
                 |  round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
                 |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
                 |  JOIN customer c ON o.o_custkey = c.c_custkey
                 |  JOIN nation n ON c.c_nationkey = n.n_nationkey
                 |WHERE o.o_orderdate BETWEEN '${window._1}' AND '${window._2}'
                 |  AND c.c_mktsegment = '${p("seg")}'
                 |GROUP BY n.n_name""".stripMargin)
      case "sql_argmax" =>
        s.sql(s"""SELECT o_custkey, o_orderkey, o_totalprice FROM (
                 |  SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (
                 |    PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
                 |  FROM orders WHERE o_orderdate BETWEEN '${window._1}' AND '${window._2}')
                 |WHERE rn = 1""".stripMargin)
      case other => throw new IllegalArgumentException(s"unknown dashboard template $other")
    }
  }

  // -------------------------------------------------------------- curation

  private def packed(docs: DataFrame, budget: Int, shards: Int): DataFrame = {
    val toks = docs.select(col("doc_id"), Text.bpeTokens(col("text")).cast("long").as("n_tokens"))
    Packing.packByTokenBudget(toks, "doc_id", "n_tokens", budget = budget, shards = shards,
      shardExpr = Some(pmod(col("doc_id"), lit(shards))))
      .select("doc_id", "n_tokens", "shard", "bin")
      .orderBy("doc_id")
  }

  private def exactKept(docs: DataFrame): DataFrame =
    docs.join(Dedup.exact(docs, "doc_id", "text").select("doc_id"), Seq("doc_id"), "left_semi")

  def gates(docs: DataFrame): DataFrame = docs.filter(
    Text.langId(col("text")) === "en" &&
      Text.qualityScore(col("text")) >= 0.3 &&
      Text.repetitionScore(col("text")) <= 0.5)

  /** The three SparkEntry funnel shapes, with the seeded parameters. */
  def curation(docs: DataFrame, t: String, p: Map[String, String]): DataFrame = t match {
    case "pipeline" =>
      val kept = Caches.persistLoaned(exactKept(gates(docs)))
      val nearKeep = Dedup.keepCanonical(kept, "doc_id",
        Dedup.ngramJaccardPairs(kept, "doc_id", "text", 2, 0.1))
      packed(Sampling.deterministicSample(nearKeep, "doc_id", p("rate").toDouble), 4096, 8)
    case "curation" =>
      val m = p("heldout").toInt
      val bench = docs.filter(col("doc_id") % m === 0)
      val kept = Caches.persistLoaned(exactKept(docs.filter(col("doc_id") % m =!= 0)))
      val contaminated = Dedup.decontaminationPairs(kept, bench, "doc_id", "text", 3, 0.5,
        maxDf = 50).select(col("train_id").as("doc_id")).distinct()
      val clean = Caches.persistLoaned(kept.join(contaminated, Seq("doc_id"), "left_anti"))
      val mixed = Sampling.mixtureSample(clean, "doc_id", "source",
        Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1))
      packed(Sampling.datasetSplit(mixed, "doc_id", Seq("train" -> 0.9, "val" -> 0.1))
        .filter(col("split") === "train"), 4096, 8)
    case "ingest_funnel" =>
      val m = p("batchmod").toInt
      val batch = docs.filter(col("doc_id") % m === 0)
      val corpus = docs.filter(col("doc_id") % m =!= 0)
      val exactKeep = Dedup.exactIncrementalBloom(exactKept(batch), corpus, "doc_id", "text")
        .select(docs.columns.toIndexedSeq.map(col): _*)
      val nearKeep = Dedup.minhashIncremental(exactKeep, corpus, "doc_id", "text", 0.5)
      packed(nearKeep.filter(Text.qualityScore(col("text")) >= 0.3), 2048, 4)
    case other => throw new IllegalArgumentException(s"unknown curation job $other")
  }

  /** Projection-only evaluation of the text functions the workloads use. */
  def textFunctions(docs: DataFrame): DataFrame = docs.select(Text.langId(col("text")),
    Text.qualityScore(col("text")), Text.repetitionScore(col("text")),
    Text.bpeTokens(col("text")), Text.fingerprint(col("text")))

  /** Each funnel stage's output on its own (traced runs only). */
  def curationStages(docs: DataFrame): Seq[(String, DataFrame)] = {
    val gated = gates(docs)
    Seq(
      "functions.gates_s" -> textFunctions(docs),
      "operators.exact_dedup_s" -> Dedup.exact(docs, "doc_id", "text"),
      "operators.near_dup_s" -> Dedup.ngramJaccardPairs(gated, "doc_id", "text", 2, 0.1),
      "operators.decontam_s" -> Dedup.decontaminationPairs(docs.filter(col("doc_id") % 17 =!= 0),
        docs.filter(col("doc_id") % 17 === 0), "doc_id", "text", 3, 0.5, maxDf = 50),
      "operators.sample_pack_s" -> packed(Sampling.deterministicSample(docs, "doc_id", 0.5),
        4096, 8))
  }

  // ---------------------------------------------------------------- ingest

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** Fingerprint index over the documents that are in no arrival batch. */
  def buildIndex(s: SparkSession, d: String, batchIds: Seq[Long], index: String,
                 shards: Int): Unit = {
    import s.implicits._
    val inBatch = batchIds.toDF("doc_id")
    val base = Tables.documents(s, d).join(broadcast(inBatch), Seq("doc_id"), "left_anti")
    ParquetSink.writeSharded(
      base.select(Text.fingerprint(col("text")).as("fingerprint")).distinct(),
      index, "fingerprint", shards)
  }

  /** Read one batch as a file stream, drop documents already in the index,
    * and write the survivors to `out` with a fresh checkpoint. */
  def streamBatch(s: SparkSession, batchDir: String, index: String, out: String): DataFrame = {
    val stream = s.readStream.schema(DocSchema).json(batchDir)
    StreamOps.runToParquet(s,
      StreamOps.ingestDedupStreaming(stream, s.read.parquet(index), "text"), out)
  }

  def appendIndex(survivors: DataFrame, index: String): Unit =
    ParquetSink.appendSharded(survivors.select("fingerprint").distinct(), index,
      "fingerprint", 2)
}
