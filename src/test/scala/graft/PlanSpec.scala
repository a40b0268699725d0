package graft

import graft.operators._
import graft.streaming.StreamOps
import graft.verify.VerifyRows
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions._

/** Plan-shape regression tests: the physical properties the 100 TB design
  * depends on, asserted against `.explain` so they cannot silently rot.
  */
class PlanSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("filter predicates push into the parquet scan (F1)") {
    // raw scan (no repartition/cache barrier) so pushdown reaches the file
    val raw = spark.read.parquet(s"$sf/lineitem.parquet")
    val p = plan(raw.filter(col("l_quantity") > 30))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,30"),
      s"expected pushed filter in:\n$p")
  }

  test("projection prunes the scan to selected columns (P1)") {
    val raw = spark.read.parquet(s"$sf/lineitem.parquet")
    val p = plan(raw.select("l_orderkey", "l_quantity"))
    assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_quantity"),
      s"expected pruned ReadSchema in:\n$p")
  }

  test("exact embedding near-dup never plans a broadcast nested-loop join (D5)") {
    val emb = Tables.embeddings(spark, sf)
    val p = plan(Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.4))
    assert(!p.contains("BroadcastNestedLoopJoin"), s"all-pairs must be blocked, not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"all-pairs must be blocked, not cartesian:\n$p")
  }

  test("dimension joins in the flagship chains broadcast the dim side (J1)") {
    Seq(plan(SparkEntry.covidChain(spark, sf)), plan(SparkEntry.dashboardChain(spark, sf)))
      .foreach { p =>
        assert(p.contains("BroadcastHashJoin"), s"expected broadcast dim join in:\n$p")
        assert(!p.contains("SortMergeJoin"), s"no shuffle join should appear at dim sizes:\n$p")
      }
  }

  test("deterministic top-N plans as TakeOrderedAndProject, not a global sort (A12)") {
    val p = plan(Ops.topN(Tables.orders(spark, sf), 10,
      col("o_totalprice").desc, col("o_orderkey").asc))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-N heap plan in:\n$p")
  }

  test("asofJoinBucketed's heavy window pass partitions on (key, bucket), never key alone (J3)") {
    val ev = Tables.events(spark, sf)
    val clicks = ev.filter(col("event_type") === "click").select("event_id", "user_id", "ts_us")
    val purchases = ev.filter(col("event_type") === "purchase").select("event_id", "user_id", "ts_us")
    val p = plan(Joins.asofJoinBucketed(purchases, clicks, ("user_id", "user_id"),
      ("ts_us", "ts_us"), width = 3600000000L, tiebreak = Some("event_id")))
    // the full-data window must hash-partition on [_k, _b]: a hot key's
    // history spreads over its time buckets instead of one task
    assert(p.contains("hashpartitioning(_k"), s"expected a window exchange in:\n$p")
    assert("hashpartitioning\\(_k[^)]*_b".r.findFirstIn(p).isDefined,
      s"the heavy window exchange must include the bucket column:\n$p")
  }

  test("topNPerGroup plans a WindowGroupLimit below the exchange (A20)") {
    val p = plan(Analytics.topNPerGroup(Tables.orders(spark, sf), Seq("o_orderpriority"),
      Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3))
    assert(p.contains("WindowGroupLimit"),
      s"rank<=n over a window must map-side prune via WindowGroupLimit:\n$p")
  }

  test("latestPerGroup aggregates with a map-side partial phase (A8)") {
    val p = plan(Analytics.latestPerGroup(Tables.orders(spark, sf),
      "o_custkey", "o_orderdate", Seq("o_orderkey")))
    // partial + final aggregate phases around one exchange (max_by over a
    // struct buffer plans as SortAggregate)
    val aggs = "(?i)(hash|sort)aggregate".r.findAllIn(p).length
    assert(aggs >= 2, s"expected partial+final aggregate phases in:\n$p")
    assert(!p.contains("Window"), s"max_by formulation must not plan a window:\n$p")
  }

  test("grouped aggregation partial-aggregates before the exchange (G2)") {
    val p = plan(Agg.groupAgg(Tables.lineitem(spark, sf),
      Seq("l_returnflag"), Seq("l_quantity" -> Seq("count", "sum", "min", "max"))))
    val idxAgg = p.indexOf("HashAggregate")
    val idxEx = p.indexOf("Exchange")
    assert(idxAgg >= 0 && idxEx >= 0, s"expected agg+exchange in:\n$p")
  }

  test("whole-stage codegen covers the scalar text pipeline (T1-T4)") {
    val docs = Tables.documents(spark, sf)
    // raw scan: an AQE-wrapped plan hides codegen ids until execution
    val raw = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(raw.select(col("doc_id"),
      graft.functions.Text.fingerprint(col("text")).as("fp")))
    // formatted explain tags codegen'd operators with "[codegen id : N]"
    assert(p.contains("codegen id"), s"expected codegen span in:\n$p")
  }

  test("top-k plans a Partial WindowGroupLimit below its exchange (SIM)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{Partial, WindowGroupLimitExec}
    // the map-side cut: each partition ships at most k rows per query, so
    // the exchange never carries every scored pair. Spark infers the limit
    // only for k up to spark.sql.optimizer.windowGroupLimitThreshold (1000)
    val emb = Tables.embeddings(spark, sf)
    val ivf = Similarity.IvfIndex("vec_id", "embedding", dim = 64, k = 4)
    val k = 5
    Seq(
      "bruteForceTopK" -> Similarity.bruteForceTopK(emb, emb.limit(5), "vec_id", "embedding", k),
      "IvfIndex.probe" -> ivf.probe(emb.limit(5), ivf.rows(emb), topK = k, probes = 2)
    ).foreach { case (name, df) =>
      val physical = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.initialPlan
        case other => other
      }
      val cut = physical.collect { case e: ShuffleExchangeExec => e }.exists(_.child.exists {
        case w: WindowGroupLimitExec => w.mode == Partial && w.limit == k
        case _ => false
      })
      assert(cut, s"$name: expected a Partial WindowGroupLimit($k) below an exchange in:\n" +
        physical.treeString)
    }
  }

  test("label centroids aggregate before exploding to long format (V1)") {
    val emb = Tables.embeddings(spark, sf)
    val p = plan(Similarity.labelCentroids(emb, "label", "embedding", 64))
    // the Generate (posexplode) must sit ABOVE the final aggregate: the
    // exchange then carries #labels x dim partials, never n x dim rows
    val idxGen = p.indexOf("Generate")
    val idxAgg = p.indexOf("HashAggregate")
    assert(idxGen >= 0 && idxAgg >= 0 && idxGen < idxAgg,
      s"posexplode must come after (above) the aggregate in:\n$p")
  }

  test("vocabulary top-N plans as TakeOrderedAndProject over a partial-agged count (T7)") {
    val p = plan(VerifyRows("t7_vocab").run(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"expected top-N heap in:\n$p")
    val aggs = "HashAggregate".r.findAllIn(p).length
    assert(aggs >= 2, s"expected partial+final count phases in:\n$p")
  }

  test("bloom incremental dedup: corpus side filters on the bloom BEFORE the distinct exchange (D8b)") {
    val docs = Tables.documents(spark, sf)
    val out = Dedup.exactIncrementalBloom(
      docs.filter(col("doc_id") % 5 === 0), docs.filter(col("doc_id") % 5 =!= 0),
      "doc_id", "text")
    val p = plan(out)
    assert(p.contains("might_contain"), s"expected bloom probe in corpus-side plan:\n$p")
    // the probe must sit below the aggregate: a Filter node carrying
    // might_contain, with HashAggregate (distinct) above it
    val probeIdx = p.indexOf("might_contain")
    assert(p.lastIndexOf("HashAggregate", probeIdx) >= 0 || p.indexOf("HashAggregate") < probeIdx,
      s"bloom probe must prune before the distinct aggregate:\n$p")
  }

  test("weightedSample and datasetSplit are narrow — zero exchanges (S5g/S5e)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val w = Sampling.weightedSample(
      docs.withColumn("w", col("n_chars") / lit(500.0)), "doc_id", "w", 0.2)
    assert(!plan(w).contains("Exchange"), "weighted sampling must not shuffle")
    val sp = Sampling.datasetSplit(docs, "doc_id", Seq("train" -> 0.9, "val" -> 0.1))
    assert(!plan(sp).contains("Exchange"), "dataset split must not shuffle")
  }

  test("repetition signals are narrow — zero exchanges, one tokenization pass (T20)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val rep = docs
      .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("ws"))
      .select(col("doc_id"),
        graft.functions.Text.dupWordFrac(col("ws")).as("dw"),
        graft.functions.Text.topWordFrac(col("ws")).as("tw"),
        graft.functions.Text.dupNgramFrac(col("ws"), 3).as("dn"))
    val p = plan(rep)
    assert(!p.contains("Exchange"), "repetition fractions must not shuffle")
    // the shared words projection keeps tokenization to ONE split per row
    assert("split\\(lower\\(trim\\(".r.findAllIn(p).length <= 1,
      s"words must tokenize once, not once per signal:\n$p")
  }

  test("hashed linear scoring is a zero-exchange narrow map — model application never shuffles (T23)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val scored = docs
      .select(col("doc_id"), graft.functions.Text.hashedLinearScore(col("text")).as("s"))
      .select(col("doc_id"), col("s"), (col("s") >= 0).as("keep"))
    val p = plan(scored)
    assert(!p.contains("Exchange"), s"linear scoring must be narrow:\n$p")
    assert(!p.contains("Join"), "weights are closed-form/literal — no weight-table join")
  }

  test("shuffle export plans ONE exchange (shard co-location) + in-partition sort, no global sort (S8)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "n_chars")
    val shuffled = docs
      .withColumn("_shuffle_key",
        conv(substring(md5(concat_ws(":", lit("e"), col("doc_id"))), 1, 15), 16, 10)
          .cast("long"))
      .withColumn("shard", pmod(col("_shuffle_key"), lit(8)).cast("int"))
      .repartition(8, col("shard"))
      .sortWithinPartitions("shard", "_shuffle_key", "doc_id")
    val p = plan(shuffled)
    assert("Arguments: hashpartitioning".r.findAllIn(p).length == 1,
      s"shuffle export must plan exactly one (hash) exchange:\n$p")
    assert(!p.contains("rangepartitioning"),
      "mod-sharding must not plan a range (global-sort) exchange")
  }

  test("standardize: one aggregate pass, stats broadcast back, no window over the corpus (X6)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val p = plan(Analytics.standardize(li, Seq("l_quantity", "l_extendedprice")))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row stats frame must broadcast:\n$p")
    assert(!p.contains("Window"), s"no per-row window allowed:\n$p")
    // moments partial-aggregate: partial+final HashAggregate pair
    assert("HashAggregate".r.findAllIn(p).length >= 2,
      s"expected partial+final moment phases in:\n$p")
  }

  test("runningTotal plans exactly one exchange (group co-location) (A21)") {
    val orders = spark.read.parquet(s"$sf/orders.parquet")
    val p = plan(Analytics.runningTotal(orders, Seq("o_custkey"),
      Seq("o_orderdate", "o_orderkey"), "o_totalprice"))
    assert("Arguments: hashpartitioning".r.findAllIn(p).length == 1,
      s"one shuffle to co-locate groups, no more:\n$p")
  }

  test("corrMatrix: all cells in ONE aggregate — no join of per-pair subplans (X7)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val p = plan(Analytics.corrMatrix(li,
      Seq("l_quantity", "l_extendedprice", "l_discount")))
    assert(!p.contains("Join"), s"cells must share one aggregate, not join:\n$p")
    // one partial+final aggregate pair over the single corpus scan
    // (each node prints twice in formatted mode: tree line + detail block)
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(p).length == 2,
      s"expected exactly partial+final agg phases in:\n$p")
  }

  test("hopping windows replicate BEFORE the partial aggregation (E4)") {
    val ev = Tables.events(spark, sf)
    val p = plan(StreamOps.hoppingCounts(ev, 7200000000L, 3600000000L, "1 minute"))
    // window(width, slide) replicates each event with an Expand; formatted
    // mode prints the tree top-down, so the Expand line must follow both
    // the final and the partial aggregate
    val tree = p.split("\n\n").head.linesIterator.toSeq
    val aggs = tree.zipWithIndex.collect { case (l, i) if l.contains("HashAggregate") => i }
    val expand = tree.indexWhere(_.contains("Expand"))
    assert(aggs.size >= 2 && expand > aggs.max,
      s"expected the hop Expand below the partial aggregate in:\n$p")
  }

  test("l2Normalize computes the norm once per row — a single projection chain, no exchange (V2)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = Similarity.l2Normalize(emb, "embedding", "unit")
    val p = plan(out)
    assert(!p.contains("Exchange"), s"normalization must be narrow:\n$p")
    // the norm must appear as its own projected attribute (computed once),
    // not be inlined into the per-element division lambda
    assert(p.contains("_nrm"), s"expected hoisted norm attribute in:\n$p")
  }

  test("minhashIncremental: band-key equi-joins only — no cartesian, no nested-loop (D2b)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(Dedup.minhashIncremental(
      docs.filter(col("doc_id") % 9 === 0), docs.filter(col("doc_id") % 9 =!= 0),
      "doc_id", "text", threshold = 0.5))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the corpus index must be probed by equi-join, never all-pairs:\n$p")
  }

  test("epochReplicate is narrow — a literal CASE and an explode, zero exchanges (S5o)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(Sampling.epochReplicate(docs, "doc_id", "source",
      Map("src0" -> 2.5, "src1" -> 1.0)))
    assert(!p.contains("Exchange"), s"replication must not shuffle:\n$p")
  }

  test("fuzzy ingest: banded equi-join + partial-agged matched ids, no nested loop (D9d)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(Dedup.fuzzyIncremental(
      docs.filter(col("doc_id") % 9 === 0), docs.filter(col("doc_id") % 9 =!= 0),
      "doc_id", "text", maxDist = 40))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"cross candidates must come from the banded equi-join:\n$p")
  }

  test("budget-capped fuzzy admission: hash-keyed equi-plans only, anti-joined blacklist (D9b)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // 6 pairs per doc binds on the fixture: the gate takes its capped branch
    val p = plan(Dedup.fuzzyNearDups(docs, "doc_id", "text",
      maxDist = 40, pairsPerDoc = 6L))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"capped candidates must come from the (chunk, ckey, lenBucket) equi-join:\n$p")
  }

  test("embedNearDupAuto: both chosen branches stay equi-join/blocked — never a nested loop (D5f/D5g)") {
    val emb = Tables.embeddings(spark, sf)
    // over the gate → blocked-exact; under → banded LSH; neither may
    // degenerate into an unbounded broadcast loop
    Seq((32, 4), (16, 8)).foreach { case (bands, bits) =>
      val p = plan(Dedup.embeddingNearDupsLSH(emb, "vec_id", "embedding", 0.45,
        dim = 64, bands = bands, bitsPerBand = bits, ordinal = true))
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"auto branch at ${bands}x$bits must be blocked or banded:\n$p")
    }
  }

  test("exact ingest scan IS the deliberate bounded-broadcast nested loop (D5h)") {
    val emb = Tables.embeddings(spark, sf)
    val p = plan(Dedup.embeddingIncrementalExact(
      emb.filter(col("vec_id") % 11 === 0), emb.filter(col("vec_id") % 11 =!= 0),
      "vec_id", "embedding", 0.45))
    // the batch side broadcasts (bounded by contract); the corpus streams
    // past it once — this is the ONE place the nested loop is the design
    assert(p.contains("BroadcastNestedLoopJoin") && p.contains("BroadcastExchange"),
      s"expected the bounded-broadcast scan shape:\n$p")
    // the matched-id reduction partial-aggregates before its exchange
    assert(p.contains("HashAggregate"), s"expected partial-agged distinct in:\n$p")
  }

  test("index replay probes ONLY the saved index — the corpus source is never scanned (D2c)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpusPath = "target/tmp/planspec_d2c_corpus"
    val batchPath = "target/tmp/planspec_d2c_batch"
    val idxPath = "target/tmp/planspec_d2c_idx"
    docs.filter(col("doc_id") % 9 =!= 0).write.mode("overwrite").parquet(corpusPath)
    docs.filter(col("doc_id") % 9 === 0).write.mode("overwrite").parquet(batchPath)
    val mh = Dedup.MinhashIndex("doc_id", "text")
    mh.write(spark.read.parquet(corpusPath), idxPath, shards = 2)
    val p = plan(mh.probe(spark.read.parquet(batchPath), mh.read(spark, idxPath),
      threshold = 0.5))
    // the whole point of the materialized index: corpus text is neither
    // re-shingled nor even READ in the replay — every corpus-side input
    // (band keys, shingle sets) comes from the saved index files
    assert(!p.contains("planspec_d2c_corpus"),
      s"replay must not touch the corpus source:\n$p")
    assert(p.contains("planspec_d2c_idx"),
      s"replay must scan the saved index:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"index probe must stay an equi-join:\n$p")
  }

  test("updated-index probe scans base+delta index files ONLY — no corpus, no day-2 raw text (D2d)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpusPath = "target/tmp/planspec_d2d_corpus"
    val day2Path = "target/tmp/planspec_d2d_day2"
    val idxPath = "target/tmp/planspec_d2d_idx"
    docs.filter(col("doc_id") % 7 >= 2).write.mode("overwrite").parquet(corpusPath)
    docs.filter(col("doc_id") % 7 === 0).write.mode("overwrite").parquet(day2Path)
    val mh = Dedup.MinhashIndex("doc_id", "text")
    mh.write(spark.read.parquet(corpusPath), idxPath, shards = 2)
    val surv = mh.probe(spark.read.parquet(day2Path), mh.read(spark, idxPath),
      threshold = 0.5)
      .persist()
    surv.count()
    mh.append(surv, idxPath, shards = 2)
    surv.unpersist()
    val p = plan(mh.probe(docs.filter(col("doc_id") % 7 === 1), mh.read(spark, idxPath),
      threshold = 0.5))
    // the day-3 probe must see day-2's contribution exclusively through
    // the index's delta shards: neither the original corpus nor day-2's
    // raw text source may appear in the plan
    assert(!p.contains("planspec_d2d_corpus"),
      s"day-3 probe must not rescan the day-1 corpus source:\n$p")
    assert(!p.contains("planspec_d2d_day2"),
      s"day-3 probe must not rescan day-2 raw text:\n$p")
    assert(p.contains("planspec_d2d_idx"),
      s"day-3 probe must scan the updated index:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"updated-index probe must stay an equi-join:\n$p")
  }

  test("compacted containment probe has NO anti-join — tombstones were applied at compaction (D7d)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val idxPath = "target/tmp/planspec_d7d_idx"
    val ci = Dedup.ContainmentIndex("doc_id", "text", n = 3, maxDf = 50)
    ci.write(docs.filter(col("doc_id") % 4 === 1), idxPath, shards = 2)
    ci.append(docs.filter(col("doc_id") % 4 === 2), idxPath, shards = 2)
    val probe = (p: String) => plan(ci.probe(docs.filter(col("doc_id") % 4 === 0),
      ci.read(spark, p), threshold = 0.5))
    // BEFORE compaction the read path pays a tombstone anti-join on every
    // probe — that is the read debt compaction exists to settle
    assert(probe(idxPath).contains("LeftAnti"),
      "pre-compaction probe should carry the tombstone anti-join")
    ci.compact(spark, idxPath, shards = 2)
    val p = probe(idxPath)
    assert(!p.contains("LeftAnti"),
      s"compacted probe must not anti-join tombstones:\n$p")
    assert(!new java.io.File(s"$idxPath/tomb").exists(),
      "tomb/ must be gone after compaction")
    // df/ holds exactly one merged generation at the target shard count
    val dfFiles = new java.io.File(s"$idxPath/df").listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(dfFiles == 2, s"compacted df/ must hold one generation (2 shards), got $dfFiles")
  }

  test("IVF replay probes ONLY the saved index — no corpus scan, no training in the plan (SIM)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val corpusPath = "target/tmp/planspec_ivf_corpus"
    val idxPath = "target/tmp/planspec_ivf_idx"
    emb.write.mode("overwrite").parquet(corpusPath)
    val ivf = Similarity.IvfIndex("vec_id", "embedding", dim = 64, k = 4, iters = 2)
    ivf.write(spark.read.parquet(corpusPath), idxPath, shards = 2)
    // queries ride an in-memory frame so ANY file scan in the plan is
    // index or corpus — training already happened at build time, and the
    // replay must not reach back to the corpus source for vectors, cells,
    // or centroids
    import spark.implicits._
    val queries = emb.limit(5).collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .toSeq.toDF("vec_id", "embedding")
    val p = plan(ivf.probe(queries, ivf.read(spark, idxPath), topK = 3, probes = 2))
    assert(!p.contains("planspec_ivf_corpus"),
      s"replay must not rescan the corpus source:\n$p")
    assert(p.contains("planspec_ivf_idx"),
      s"replay must scan the saved index:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"cell membership must equi-join:\n$p")
  }

  test("SQL-text IVF probe plans like the Scala probe — index scan, equi-join cells (SIM-SQL)") {
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val idxPath = "target/tmp/planspec_ivf_sql_idx"
    val ivf = Similarity.IvfIndex("vec_id", "embedding", dim = 64, k = 4, iters = 2)
    ivf.write(emb, idxPath, shards = 2)
    val idx = ivf.read(spark, idxPath)
    idx("cells").createOrReplaceTempView("graft_ivf_cells")
    idx("cents").createOrReplaceTempView("graft_ivf_cents")
    emb.limit(5).createOrReplaceTempView("planspec_ivf_queries")
    graft.plans.GraftExtensions.registerFunctions(spark)
    val p = plan(spark.sql(
      "WITH cellrank AS (SELECT q.vec_id AS query_id, q.embedding AS qe, c.cell, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
        "round(graft_cosine(q.embedding, c.centroid), 6) DESC, c.cell ASC) AS crn " +
        "FROM planspec_ivf_queries q CROSS JOIN graft_ivf_cents c), " +
        "probed AS (SELECT query_id, qe, cell FROM cellrank WHERE crn <= 2) " +
        "SELECT p.query_id, e.vec_id, round(graft_cosine(p.qe, e.embedding), 6) AS cosine " +
        "FROM probed p JOIN graft_ivf_cells e ON e.cell = p.cell"))
    // the k-row cents view broadcasts into the centroid rank; the corpus-
    // sized cells view must reach the probe via the cell EQUI-join, never
    // an unkeyed product
    assert(!p.contains("CartesianProduct"),
      s"cell membership must equi-join in the SQL surface too:\n$p")
    assert(p.contains("planspec_ivf_sql_idx"),
      s"the SQL probe must scan the saved index:\n$p")
  }

  test("bucketed snapshot diff: ZERO exchanges — the full-outer merges the bucketed scans directly (X8b)") {
    val docs = spark.range(1000)
      .select(col("id").as("doc_id"), concat(lit("doc "), col("id")).as("text"))
    val oldSnap = docs.where(col("doc_id") % 9 =!= 0)
    val newSnap = docs.where(col("doc_id") % 11 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 5 === 0, concat(col("text"), lit(" edited")))
          .otherwise(col("text")).as("text"))
    graft.sources.ParquetSink.writeBucketedTable(oldSnap, "planspec_x8b_old",
      "doc_id", 4, "target/tmp/planspec_x8b_old")
    graft.sources.ParquetSink.writeBucketedTable(newSnap, "planspec_x8b_new",
      "doc_id", 4, "target/tmp/planspec_x8b_new")
    val diff = Ops.snapshotDiff(spark.table("planspec_x8b_old"),
      spark.table("planspec_x8b_new"), "doc_id", Seq("text"))
    val p = plan(diff)
    assert(!p.contains("Exchange"),
      s"same-bucket-count scans satisfy the join's clustering — no shuffle may appear:\n$p")
    assert(p.contains("SortMergeJoin"), s"expected a merge join over the bucketed scans:\n$p")
    // the relation itself must match the unbucketed diff
    val plain = Ops.snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text"))
    assert(diff.orderBy("doc_id").collect().toSeq ==
      plain.orderBy("doc_id").collect().toSeq)
  }

  test("agg-state merge: partial-aggregated, no joins — state rows only cross the exchange (X10)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val a = Agg.buildAggState(li.where(col("l_orderkey") % 2 === 0), Seq("l_returnflag"), "l_quantity")
    val b = Agg.buildAggState(li.where(col("l_orderkey") % 2 =!= 0), Seq("l_returnflag"), "l_quantity")
    val p = plan(Agg.finalizeAggState(Agg.mergeAggState(Seq(a, b), Seq("l_returnflag")), Seq("l_returnflag")))
    assert(!p.contains("Join"), s"state merge is a union + re-reduce, never a join:\n$p")
    // each batch partial-aggregates before its exchange AND the merge
    // partial-aggregates the union: >= 4 HashAggregate phases
    assert("HashAggregate".r.findAllIn(p).length >= 4,
      s"expected partial+final phases for batches and merge:\n$p")
  }

  test("expectations: k rules = ONE aggregate over ONE scan (X9)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(Ops.expectations(docs,
      Seq("len" -> (length(col("text")) >= 50), "nn" -> col("text").isNotNull),
      uniqueCols = Seq("doc_id")))
    assert(!p.contains("Join"), s"rules must not join:\n$p")
    // formatted mode lists each physical node once by id in the details
    // section — count those, not the tree echo
    assert("\\(\\d+\\) Scan parquet".r.findAllIn(p).length == 1,
      s"exactly one corpus scan whatever the rule count:\n$p")
  }

  test("hive-partitioned read prunes partitions at plan time (S7)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val dir = "target/tmp/planspec_part_documents"
    graft.sources.ParquetSink.writePartitioned(docs, dir, "lang")
    val p = plan(spark.read.parquet(dir).filter(col("lang") === "en"))
    assert(p.contains("PartitionFilters: [isnotnull(lang"),
      s"expected plan-time partition pruning in:\n$p")
  }

  test("q_sql_surface: the SQL text plans a broadcast dim join + partial aggregation") {
    Tables.registerAll(spark, sf)
    val p = plan(spark.sql(
      "SELECT c.c_mktsegment AS segment, count(*) AS n_orders " +
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
        "GROUP BY c.c_mktsegment"))
    assert(p.contains("BroadcastHashJoin"), s"customer dim should broadcast:\n$p")
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(p).length >= 2,
      s"partial+final aggregation phases expected:\n$p")
  }

  test("q18: the orders join builds its broadcast on the post-HAVING agg side, never on orders") {
    // r10 bimodality root cause: the planner can't estimate through the
    // HAVING filter and built the broadcast hash relation on ORDERS (65×
    // more rows than the qualifying-orders agg at sf0.1) — rebuilt per
    // execution, its driver-side build was the 0.88 s vs 2.95 s swing.
    // The explicit broadcast(big) hint pins the small side; this gate
    // reads the FINAL adaptive plan after execution.
    val df = VerifyRows("q18_large_orders").run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("BroadcastHashJoin [o_orderkey"))
    assert(line.isDefined, s"expected a broadcast join on o_orderkey in:\n$p")
    assert(line.get.contains("BuildRight"),
      s"the agg (right) side must be the broadcast build, got: ${line.get}")
  }

  test("skewStats: count exchange REUSED across both consumers; top-k heaps, no global sort (J6)") {
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    val df = Joins.skewStats(li, Seq("l_suppkey"), topK = 20)
    // the (key, count) frame feeds the totals row AND the ranked output;
    // exchange reuse dedupes the identical groupBy subplans so the corpus
    // is scanned/aggregated once, not twice — AQE applies it at runtime,
    // so execute and read the FINAL adaptive plan
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("ReusedExchange"),
      s"the count exchange must be shared between the totals and the rank:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k must heap per partition, never globally sort:\n$p")
    assert(p.contains("BroadcastExchange") || p.contains("BroadcastNestedLoopJoin"),
      s"the 1-row totals must broadcast:\n$p")
  }

  test("q_quality_funnel: ONE corpus pass — single scan, single partial-agged aggregate, no joins") {
    val p = plan(VerifyRows("q_quality_funnel").run(spark, sf))
    // exactly one execution-time corpus scan, whatever the Tables cache
    // state is when this test runs (suite neighbors may or may not have
    // the documents persist live). Cached: one InMemoryTableScan, whose
    // RELATION-DEFINITION subtree legitimately shows the parquet scan
    // that fills the cache (runs once at cache build, not per query).
    // Uncached: one parquet scan. Either way a SECOND independent scan of
    // either kind means a stage predicate forked the corpus — the bug.
    val ims = "\\(\\d+\\) InMemoryTableScan".r.findAllIn(p).length
    val pq = "\\(\\d+\\) Scan parquet".r.findAllIn(p).length
    assert(ims <= 1 && pq <= 1 && ims + pq >= 1,
      s"all three stage predicates must ride ONE corpus scan (ims=$ims, parquet=$pq):\n$p")
    assert(!p.contains("Join"), s"stage counts are conditional sums, not joins:\n$p")
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(p).length >= 2,
      s"funnel counts must partial-aggregate before the exchange:\n$p")
  }

  test("fuzzy near-dup candidates join on the LENGTH-SLICED band key (D9)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val p = plan(Dedup.fuzzyNearDups(docs, "doc_id", "text", maxDist = 40))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"banding must stay an equi-join:\n$p")
    // the 100×-measured fix: the candidate join key carries the length
    // bucket, so skewed sketch buckets fragment before pairs materialize
    assert(p.contains("_lb"), s"candidate join must include the length bucket:\n$p")
  }

  test("indexed split's pair generation probes ONLY the saved index — no corpus scan (S5j2)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val corpusPath = "target/tmp/planspec_s5j2_corpus"
    val idxPath = "target/tmp/planspec_s5j2_idx"
    docs.write.mode("overwrite").parquet(corpusPath)
    val mh = Dedup.MinhashIndex("doc_id", "text")
    mh.write(spark.read.parquet(corpusPath), idxPath, shards = 2)
    val p = plan(mh.nearDupPairs(mh.read(spark, idxPath), 0.5))
    assert(!p.contains("planspec_s5j2_corpus"),
      s"the all-pairs probe must not touch the corpus source:\n$p")
    assert(p.contains("planspec_s5j2_idx"),
      s"the all-pairs probe must scan the saved index:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the band self-join must stay an equi-join:\n$p")
  }

  test("budget-derived sparse Jaccard stays equi-join; its histogram is one partial-agged pass (D4c/D4d)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val hist = plan(Dedup.shingleDfStats(docs, "doc_id", "text", 3))
    // (shingle, df) then (df, n) — both hash aggregates partial-aggregate
    // map-side; no join anywhere in the diagnostic
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(hist).length >= 4,
      s"both histogram levels must partial-aggregate:\n$hist")
    assert(!hist.contains("Join"), s"the diagnostic is aggregate-only:\n$hist")
    val pairs = plan(Dedup.ngramJaccardPairsSparse(docs, "doc_id", "text", 3, 0.2,
      budgetPairs = 10000L))
    assert(!pairs.contains("CartesianProduct") && !pairs.contains("BroadcastNestedLoopJoin"),
      s"candidate generation must stay an inverted-index equi-join:\n$pairs")
  }

  test("hybrid RRF: each candidate list is a TakeOrdered heap, never a global sort (H1)") {
    // a lexical list (per-doc hits of one term) and a cosine-to-vec_id-0
    // list, fused by reciprocal rank
    val hits = Tables.documents(spark, sf).select(col("doc_id"),
      size(filter(split(lower(trim(col("text"))), "\\s+"), w => w === "spark"))
        .cast("double").as("hits"))
      .filter(col("hits") > 0)
    val emb = Tables.embeddings(spark, sf)
    val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("_q"))
    val cos = emb.filter(col("vec_id") =!= 0).crossJoin(broadcast(q))
      .select(col("vec_id").as("doc_id"),
        graft.functions.Vectors.cosine(col("embedding"), col("_q")).as("cosine"))
    val p = plan(Retrieval.rrfFuse(Seq(Retrieval.topKRanked(hits, "doc_id", "hits", 20),
      Retrieval.topKRanked(cos, "doc_id", "cosine", 20)), "doc_id", k0 = 60, topK = 10))
    // two candidate lists → two top-k reductions; the only nested-loop is
    // the audited one-row query-vector broadcast
    assert("TakeOrderedAndProject".r.findAllIn(p).length >= 2,
      s"both candidate lists must plan as top-k heaps:\n$p")
    assert(!p.contains("CartesianProduct"), s"no cartesian anywhere in the fusion:\n$p")
  }

  test("semDedup's within-cell pair join stays an equi-join on cell (D10)") {
    val emb = Tables.embeddings(spark, sf)
    val p = plan(Dedup.semDedup(emb, "vec_id", "embedding", dim = 64, k = 4,
      threshold = 0.4))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"the cell join bounds the quadratic — it must never plan unblocked:\n$p")
  }

  test("SQL-text token budget plans the keyed window — no global (empty-partition) window (S5l)") {
    Tables.registerAll(spark, sf)
    graft.plans.GraftExtensions.registerFunctions(spark)
    val p = plan(VerifyRows("s5l_sql_token_budget").run(spark, sf))
    // the running sum must partition on source — a window with an empty
    // partitionBy would pull the corpus into one task
    assert(p.contains("Window"), s"expected a window operator:\n$p")
    assert(!p.toLowerCase.contains("singlepartition"),
      s"the budget window must never single-partition the corpus:\n$p")
  }

  test("no inferred size()-filter re-computes the shingle pipeline below a generate") {
    // graft-built sessions exclude InferFiltersFromGenerate (Session note);
    // the hot operators must ALSO hold the fast shape under a session
    // WITHOUT the exclusion — explodeDense's explode_outer cannot be
    // rewritten into the triple-evaluating Filter(size(e)>0) form
    val foreign = spark.newSession()
    foreign.conf.set("spark.sql.optimizer.excludedRules", "")
    val docs = Tables.documents(foreign, sf)
    val hist = Dedup.shingleDfStats(docs, "doc_id", "text", 3)
    val optimized = hist.queryExecution.optimizedPlan.toString
    // the tell: a Filter whose condition calls size(...) on the shingle
    // expression (the projected attribute stays, the inlined recompute
    // must not appear)
    assert(!optimized.contains("size(array_sort"),
      s"inferred filter re-computes the shingle pipeline:\n${optimized.take(2000)}")
  }
}
