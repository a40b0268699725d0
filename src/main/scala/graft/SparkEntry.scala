package graft

import graft.functions.Text
import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The public chains: graft operators composed into the reference's
  * entry-point pipelines (SURVEY §3) and the LLM-data funnels. `entry` is
  * a smoke check over sf0.001. The Verify rows, which gate each chain and
  * every operator against a DuckDB oracle, live in [[graft.verify]].
  */
object SparkEntry {

  private[graft] def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
  private[graft] val D382 = DecimalType(38, 2)

  /** Flagship: the reference's entry-point-3 pipeline (SURVEY §3) re-expressed
    * on the testdata star schema — scan → broadcast-join dim → filter
    * (range + IN-set) → argmax-per-group → 7-fn grouped aggregate →
    * broadcast-join meta. Driver smoke-checks rows>0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    covidChain(spark, "/root/testdata/sf0.001")

  def covidChain(s: SparkSession, d: String): DataFrame = {
    val enriched = Joins.broadcastJoin(Tables.orders(s, d), Tables.customer(s, d),
      ("o_custkey", "c_custkey"))
    val filtered = enriched.filter(
      col("o_orderdate") >= lit("1996-01-01") &&
        col("r_c_mktsegment").isin("BUILDING", "AUTOMOBILE"))
    val latest = Analytics.latestPerGroup(filtered, "o_custkey", "o_orderdate", Seq("o_orderkey"))
    // sum/avg of o_totalprice in EXACT decimal (order-independent across
    // engines) — the q1_pricing pattern; avg = decimal sum ÷ count so no
    // run-order-dependent double summation survives into the comparison.
    val g = latest.groupBy("r_c_nationkey").agg(
      count(lit(1)).as("count_o_totalprice"),
      sum(dec(col("o_totalprice"))).as("_dec_sum"),
      max(col("o_totalprice")).as("max_o_totalprice"),
      median(col("o_totalprice")).as("median_o_totalprice"),
      stddev_samp(col("o_totalprice")).as("std_o_totalprice"))
    val rounded = g.select(
      col("r_c_nationkey"), col("count_o_totalprice"),
      col("_dec_sum").cast(D382).cast("double").as("sum_o_totalprice"),
      // exact decimal sum → double, then ONE IEEE division: identical on
      // any engine (decimal-division scale rules are engine-specific).
      round(col("_dec_sum").cast(D382).cast("double") / col("count_o_totalprice"), 4)
        .as("avg_o_totalprice"),
      col("max_o_totalprice"),
      round(col("median_o_totalprice"), 4).as("median_o_totalprice"),
      round(col("std_o_totalprice"), 4).as("std_o_totalprice"))
    Joins.broadcastJoin(rounded, Tables.nation(s, d), ("r_c_nationkey", "n_nationkey"))
      .orderBy("r_c_nationkey")
  }

  /** The reference's entry-point-2 dashboard pipeline (SURVEY §3,
    * `app.py:296-337, 1004-1176, 1343-1360`) re-expressed on the star
    * schema: date-range re-filter → broadcast-join dim → IN-set filter →
    * pivot (series×month × segment, max-on-conflict) → forward-fill per
    * series → per-group stats + a global metric tile → broadcast-join the
    * nation dim. The re-filtered frame is `persist()`ed (A15): BOTH the
    * tile subtree and the pivot subtree read it, the reference's cached-
    * table reuse model — without the cache Spark would scan orders twice.
    */
  def dashboardChain(s: SparkSession, d: String): DataFrame = {
    val segs = Seq("BUILDING", "AUTOMOBILE", "MACHINERY")
    val enriched = Joins.broadcastJoin(
      Ops.between(Tables.orders(s, d), "o_orderdate", "1995-01-01", "1996-12-31"),
      Tables.customer(s, d), ("o_custkey", "c_custkey"))
    val filtered = graft.Caches.persistLoaned(enriched
      .filter(col("r_c_mktsegment").isin(segs: _*))
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM")))
    // metric tile: global decimal-exact average (A11)
    val tile = filtered.agg(
      round(sum(dec(col("o_totalprice"))).cast(D382).cast("double") / count(lit(1)), 4)
        .as("tile_avg_totalprice"))
    // chart pipeline: pivot → forward-fill (A9, A10)
    val pivoted = Analytics.pivotMax(filtered, Seq("r_c_nationkey", "o_month"),
      "r_c_mktsegment", segs, "o_totalprice")
    val filled = Analytics.forwardFill(pivoted, "r_c_nationkey", Seq("o_month"),
      "BUILDING", "building_filled")
    // per-nation stats over the filled series (G2 pattern, decimal-exact avg)
    val stats = filled.groupBy("r_c_nationkey").agg(
      count(lit(1)).as("count_months"),
      count(col("building_filled")).as("_n_filled"),
      sum(dec(col("building_filled"))).as("_dec_sum"),
      max(col("building_filled")).as("max_building"),
      median(col("building_filled")).as("median_building"),
      stddev_samp(col("building_filled")).as("std_building"))
    val rounded = stats.select(
      col("r_c_nationkey"), col("count_months"),
      round(col("_dec_sum").cast(D382).cast("double") / col("_n_filled"), 4)
        .as("avg_building"),
      col("max_building"),
      round(col("median_building"), 4).as("median_building"),
      round(col("std_building"), 4).as("std_building"))
    Joins.broadcastJoin(rounded, Tables.nation(s, d), ("r_c_nationkey", "n_nationkey"))
      .crossJoin(broadcast(tile))
      .orderBy("r_c_nationkey")
  }

  /** Flagship LLM-pipeline composition — the training-data counterpart of
    * the reference entry-point chains: language gate (T1) → quality gate
    * (T2) → repetition gate (T8) → exact dedup keep-min (D1) → near-dup
    * canonical keep (D4 pairs + D6 components) → reproducible 50% sample
    * (S5) → token count (T3) → token-budget packing (T6). Every stage is
    * individually oracle-verified; this chain verifies their COMPOSITION
    * end-to-end (filter ordering, id flow, determinism across stages).
    * Scale shape: the gates and sample are narrow row-wise filters that
    * shrink the corpus BEFORE the pairwise dedup stage — the standard
    * funnel (cheap filters first, quadratic-risk ops on the survivors).
    */
  def pipelineChain(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val gated = docs.filter(
      Text.langId(col("text")) === "en" &&
        Text.qualityScore(col("text")) >= 0.3 &&
        Text.repetitionScore(col("text")) <= 0.5)
    // ONE persist, at the funnel's reuse point (A15 model, as in
    // dashboardChain): exactKeep feeds the shingle pipeline, the
    // canonical-keep anti-join, and the sample — without the cache the ~10
    // regex gate extractions per row re-execute for every consumer
    // (measured: 12.1s → ~10s). The cache holds the post-gate post-dedup
    // subset only; spill-safe, LRU-evicted, droppable via clearCache.
    val exactKeep = graft.Caches.persistLoaned(gated.join(
      Dedup.exact(gated, "doc_id", "text").select("doc_id"), Seq("doc_id"), "left_semi"))
    val nearKeep = Dedup.keepCanonical(exactKeep, "doc_id",
      Dedup.ngramJaccardPairs(exactKeep, "doc_id", "text", 2, 0.1))
    val sampled = Sampling.deterministicSample(nearKeep, "doc_id", 0.5)
    val toks = sampled.select(col("doc_id"),
      Text.bpeTokens(col("text")).cast("long").as("n_tokens"))
    Packing.packByTokenBudget(toks, "doc_id", "n_tokens", budget = 4096, shards = 8,
      shardExpr = Some(pmod(col("doc_id"), lit(8))))
      .select("doc_id", "n_tokens", "shard", "bin")
      .orderBy("doc_id")
  }

  /** The round-5 CURATION funnel, end-to-end: exact dedup (min-id keep) →
    * benchmark decontamination (drop any train doc containing ≥ half of a
    * held-out doc's trigrams) → mixture resampling to a 40/30/20/10 source
    * blend → deterministic train split → token packing. The stages every
    * production corpus passes through before pretraining, composed to
    * verify id flow and determinism ACROSS operators, not just within
    * them. Scale shape: narrow hash/fingerprint stages run first; the
    * decontamination (the only pairwise-risk stage) sees the deduped
    * corpus; two persists at the reuse points (the deduped corpus feeds
    * the containment index AND the anti-join; the clean corpus feeds the
    * mixture counts AND the final join).
    */
  def curationChain(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val bench = docs.filter(col("doc_id") % 17 === 0)
    val corpus = docs.filter(col("doc_id") % 17 =!= 0)
    val exactKeep = graft.Caches.persistLoaned(corpus.join(
      Dedup.exact(corpus, "doc_id", "text").select("doc_id"), Seq("doc_id"), "left_semi"))
    val contaminated = Dedup.decontaminationPairs(exactKeep, bench, "doc_id", "text",
      3, 0.5, maxDf = 50)
      .select(col("train_id").as("doc_id")).distinct()
    val clean = graft.Caches.persistLoaned(
      exactKeep.join(contaminated, Seq("doc_id"), "left_anti"))
    val mixed = Sampling.mixtureSample(clean, "doc_id", "source",
      Map("src0" -> 0.4, "src1" -> 0.3, "src2" -> 0.2, "src3" -> 0.1))
    val train = Sampling.datasetSplit(mixed, "doc_id", Seq("train" -> 0.9, "val" -> 0.1))
      .filter(col("split") === "train")
    val toks = train.select(col("doc_id"),
      Text.bpeTokens(col("text")).cast("long").as("n_tokens"))
    Packing.packByTokenBudget(toks, "doc_id", "n_tokens", budget = 4096, shards = 8,
      shardExpr = Some(pmod(col("doc_id"), lit(8))))
      .select("doc_id", "n_tokens", "shard", "bin")
      .orderBy("doc_id")
  }

  /** The round-6 DAILY-INGEST funnel, end-to-end: tonight's batch
    * (doc_id % 13 = 0) enters an existing corpus — self-dedup within the
    * batch (D1, min-id keep) → exact ingest dedup against the corpus
    * through the bloom path (D8b) → incremental near-dup filter probing
    * the corpus band index (D2b) → quality gate (T2) → token-budget
    * packing (T6). The incremental-family composition q_curation is for
    * the batch family: every pairwise-risk stage sees only the BATCH
    * probing a corpus-sized index, never corpus² — the shape that keeps
    * nightly ingest O(batch), not O(corpus).
    */
  def ingestChain(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val batch = docs.filter(col("doc_id") % 13 === 0)
    val corpus = docs.filter(col("doc_id") % 13 =!= 0)
    val selfKept = batch.join(
      Dedup.exact(batch, "doc_id", "text").select("doc_id"), Seq("doc_id"), "left_semi")
    val exactKeep = Dedup.exactIncrementalBloom(selfKept, corpus, "doc_id", "text")
      .select(docs.columns.toIndexedSeq.map(col): _*)
    val nearKeep = Dedup.minhashIncremental(exactKeep, corpus, "doc_id", "text", 0.5)
    val gated = nearKeep.filter(Text.qualityScore(col("text")) >= 0.3)
    val toks = gated.select(col("doc_id"),
      Text.bpeTokens(col("text")).cast("long").as("n_tokens"))
    Packing.packByTokenBudget(toks, "doc_id", "n_tokens", budget = 2048, shards = 4,
      shardExpr = Some(pmod(col("doc_id"), lit(4))))
      .select("doc_id", "n_tokens", "shard", "bin")
      .orderBy("doc_id")
  }
}
