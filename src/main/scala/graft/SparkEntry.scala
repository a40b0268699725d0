package graft

import graft.functions.{Text, Vectors}
import graft.operators._
import graft.sources.{CsvSource, JsonlSource, ParquetSink}
import graft.streaming.StreamOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DecimalType, LongType, StringType, StructField, StructType}

/** Driver contract — one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the LLM-pipeline extensions), each with DuckDB oracle
  * SQL over the same parquet tables.
  *
  * Oracle-parity conventions (every query follows them):
  *   - deterministic trailing ORDER BY on both sides (Catalyst's
  *     EliminateSorts removes it under a caller's count());
  *   - float aggregates rounded identically on both sides (avg/std/median/
  *     corr → 4dp, cosine/jaccard → 6dp, double sums → 2dp); money sums
  *     computed in DECIMAL(38,2) (exact, associative, order-independent);
  *   - integer-ish outputs cast so Spark and DuckDB types agree
  *     (size()→long, row_number→long, year→int).
  */
object SparkEntry {

  /** Per-data-dir scratch root for queries that materialize intermediate
    * files (CSV/JSONL round-trips, streaming staging): two concurrent runs
    * at different scale factors must not race on one shared path. Scratch
    * cannot live under `d` itself — the testdata tree is read-only — so the
    * data dir is folded into a path under `target/tmp` of the working
    * directory (as [[Session.get]] places the warehouse dir), and two
    * checkouts never share staged artifacts.
    */
  private def scratchDir(d: String): String =
    new java.io.File("target/tmp", d.replaceAll("[^A-Za-z0-9._-]", "_")).getAbsolutePath

  /** Directory key for a staged/materialized artifact: the source file's
    * identity (mtime, size) PLUS a literal fingerprint of every build
    * parameter the artifact depends on. Editing a query's parameters must
    * invalidate the staged copy — a (mtime, size)-only key silently reuses
    * an index built with the OLD parameters, and the resulting oracle
    * mismatch masquerades as an operator bug.
    */
  private def stageKey(srcFile: java.io.File, params: String): String =
    s"${srcFile.lastModified}_${srcFile.length}_$params"

  /** Total bytes under a staged/source path (file or directory) — the
    * backlog-size evidence [[graft.streaming.StreamOps.deriveStateWidth]]
    * turns into a state-store width for the stateful streaming replays;
    * a local stat, never a Spark job.
    */
  private def pathBytes(p: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.isFile) f.length()
      else 0L
    walk(new java.io.File(p))
  }

  /** [[graft.streaming.StreamOps.deriveStateWidth]] over [[pathBytes]]. */
  private def stateWidthFor(p: String): Int =
    graft.streaming.StreamOps.deriveStateWidth(pathBytes(p))

  /** The e6/e6b shared streaming replay: ONE left-outer stream-stream
    * as-of pass (watermarked interval join + latest-click aggregate over
    * the staged sentinel copy) serves BOTH gates — the inner relation is
    * exactly the left-outer rows with a non-null click side, because the
    * outer join adds a null-click row only for purchases with NO
    * in-horizon click and changes no matched group. Each gate previously
    * spun its own ~8 s checkpointed two-stateful-operator replay over a
    * nearly identical pipeline; memoized per (session, staged dir) —
    * the key embeds data dir, source (mtime, size), and horizon — the
    * first caller pays the replay and every later call (including bench
    * warm runs, per the A15 load-once-query-many model) reads the
    * materialized sink rows. Returns None when the events table is empty.
    */
  /** The d6 family's shared pair relation — exact bigram-Jaccard pairs at
    * threshold 0.1, reduced to (id_1, id_2), persisted under the loan
    * convention. FIVE sibling queries consume this one plan (d6, d6b, d6c,
    * d6d directly; s5j's `pairs.select(id_1, id_2)` inside
    * connectedComponents plan-matches the same cache entry), and each used
    * to pay the full B(B+1)/2 blocked merge-intersect kernel independently
    * — the quadratic pair GENERATION re-run four times for one relation
    * (guide §5: cache a reused subtree; the d6c comment below measured
    * exactly this sharing, r21 extends it to the whole family). The cached
    * frame is the pair OUTPUT (two longs per qualifying pair — tiny), not
    * the shingle sets, so the r10 columnar-array-cache inversion measured
    * in ngramJaccardPairs does not apply. First consumer fills (inside its
    * timed region), the rest read; Caches.drain settles at end of run.
    */
  private def d6SharedPairs(s: SparkSession, d: String): DataFrame =
    graft.Caches.persistLoaned(
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", 2, 0.1)
        .select("id_1", "id_2"))

  /** The x8/x8b shared snapshot derivation: "yesterday" drops %10 ids and
    * edits %7 texts, "today" drops %13 ids — a deterministic pair with all
    * three change classes populated.
    */
  private def x8Snapshots(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val docs = Tables.documents(s, d)
    val oldSnap = docs.where(col("doc_id") % 10 =!= 0)
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0, concat(col("text"), lit(" v1")))
          .otherwise(col("text")).as("text"))
    val newSnap = docs.where(col("doc_id") % 13 =!= 0)
      .select(col("doc_id"), col("text"))
    (oldSnap, newSnap)
  }

  /** x8b staging: both snapshots as catalog-bucketed tables, hashed on
    * doc_id into the same bucket count, so the diff's full-outer join needs
    * no exchange. Memoized per (session, dir): the catalog entry is
    * session-scoped (in-memory catalog), so each session stages once and
    * every later call — bench warm runs included — reuses the tables (the
    * A15 load-once model; the snapshots themselves are the "index" here).
    */
  private val x8bMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), (DataFrame, DataFrame)]

  private def x8bBucketed(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    Tables.evictStopped(x8bMemo)(_._1)
    x8bMemo.getOrElseUpdate((s, d), {
      val (oldSnap, newSnap) = x8Snapshots(s, d)
      // collision-proof table names: sanitizing alone aliases distinct dirs
      // (".../sf0.1" vs ".../sf0_1") onto one catalog entry, so the second
      // stage would drop the table out from under the first dir's memo —
      // fold an MD5 of the RAW dir string in alongside the readable suffix
      val safe = d.replaceAll("[^A-Za-z0-9_]", "_")
      val dirHash = java.security.MessageDigest.getInstance("MD5")
        .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
      val (tOld, tNew) = (s"x8b_old_${dirHash}_$safe", s"x8b_new_${dirHash}_$safe")
      ParquetSink.writeBucketedTable(oldSnap, tOld, "doc_id", 8,
        s"${scratchDir(d)}/x8b_old")
      ParquetSink.writeBucketedTable(newSnap, tNew, "doc_id", 8,
        s"${scratchDir(d)}/x8b_new")
      (s.table(tOld), s.table(tNew))
    })
  }

  /** Per-stage-dir build locks: a stage dir shared by SEVERAL memos (e6's
    * replay source feeds the plain e6Memo and the sliced e6cMemo, e8's the
    * "users" and "counts" e8Memo keys) has a check-then-act `_SUCCESS`
    * probe that two first-callers could race — one overwriting the dir
    * while the other reads it. Serializing the probe+write per dir closes
    * that window; steady-state calls see the marker and pay only an
    * uncontended lock hop.
    */
  private val stageLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def withStageLock[T](dir: String)(body: => T): T =
    stageLocks.getOrElseUpdate(dir, new Object).synchronized(body)

  private val e6Memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private val e6cMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  private val E6HorizonUs = 3600000000L

  /** The sim_ivf_retrain row's two imbalance triggers — literals shared
    * by the Spark derivation and the DuckDB oracle so the decision
    * arithmetic can never drift between them. The row runs the arc at
    * BOTH (the embedAutoOracleSql both-branches discipline): the FIRE
    * arm (1.0 — any measured imbalance; the canonical fixture's
    * bootstrap-append occupancy sits at 1.12-1.23 across SFs, and a
    * 500-row/8-cell index cannot be exactly uniform) exercises the
    * triggered rebuild, the HOLD arm (6.0 — unreachable: max/mean is
    * bounded by the cell count 8 and measured an order under it) pins
    * the not-triggered branch, so neither arm of the gate is ever
    * vacuously green. The production API default stays 3.0 on
    * [[graft.operators.Similarity.shouldRetrainIvf]]; BENCH_SCALE
    * exercises THAT trigger under a genuinely skewed appended load.
    */
  private val SimRetrainFire = 1.0
  private val SimRetrainHold = 6.0

  /** The sim_ivf_retrain_k row's two k-derivation arms (r18 VERDICT #1 —
    * the one derivation still outside the oracle pattern gets the
    * production gate). Literals shared by the Spark arc and the DuckDB
    * oracle, which re-derives k' = min(maxK, max(1, cells, ceil(vectors /
    * targetMeanCell))) from the SAME pre-occupancy row and then trains
    * the union rebuild AT THE DERIVED k (the seed filter takes k from a
    * scalar subquery) — so both the derivation arithmetic AND the
    * k'-rebuild's occupancy hash-verify against a from-scratch build:
    *   - GROW (target 32): want = ceil(vectors/32) exceeds the bootstrap
    *     cell count at every fixture SF, so the growth branch of the max
    *     binds and the rebuild runs at a k the corpus sized.
    *   - FLOOR (target 2^20): want = 1, so the floor-at-current-cells
    *     branch binds — a rebuild must never shrink the index's
    *     resolution — and the rebuild is the same-k retrain.
    * CLAMP (maxK 12) is derived as a THIRD column on both arms: it binds
    * on the grow arm (12 < want) and not on the floor arm, gating the
    * min() without paying a third Lloyd training.
    */
  private val SimRetrainKGrow = 32L
  private val SimRetrainKFloor = 1L << 20
  private val SimRetrainKClampMax = 12

  /** Stage the e6-family replay source ONCE per (events source, horizon):
    * events + one far-future sentinel per stream (non-joining negative
    * user ids) whose watermark flushes every real append-mode group.
    * Shared by the plain e6/e6b replay and the sliced e6c replay — same
    * staged bytes, so the two relations can only differ by operator.
    * Returns None when the events table is empty.
    */
  private def e6StageDir(s: SparkSession, d: String): Option[String] = {
    import s.implicits._
    val ev = Tables.events(s, d).select("event_id", "user_id", "ts_us", "event_type")
    val maxTsRow = ev.agg(max("ts_us")).head()
    if (maxTsRow.isNullAt(0)) None
    else {
      val srcFile = new java.io.File(s"$d/events.parquet")
      val stageDir = s"${scratchDir(d)}/e6_events_${stageKey(srcFile, s"hz$E6HorizonUs")}"
      withStageLock(stageDir) {
        if (!new java.io.File(s"$stageDir/_SUCCESS").exists()) {
          val sentTs = maxTsRow.getLong(0) + E6HorizonUs + 600000000L
          val sentinels = Seq((-1L, -1L, sentTs, "purchase"), (-2L, -2L, sentTs, "click"))
            .toDF("event_id", "user_id", "ts_us", "event_type")
          ev.union(sentinels).coalesce(4).write.mode("overwrite").parquet(stageDir)
        }
      }
      Some(stageDir)
    }
  }

  private def e6SharedAsof(s: SparkSession, d: String): Option[DataFrame] =
    e6StageDir(s, d).map { stageDir =>
      Tables.evictStopped(e6Memo)(_._1)
      e6Memo.getOrElseUpdate((s, stageDir), {
        val schema = s.read.parquet(stageDir).schema
        def slice(t: String) =
          s.readStream.schema(schema).parquet(stageDir).filter(col("event_type") === t)
        // the plain two-operator reference plan: the e6/e6b rows exist to
        // gate that regime (the public entry is the sliced plan, which e6c
        // gates)
        val joined = StreamOps.asofJoinStreamingPlain(
          slice("purchase"), slice("click"), E6HorizonUs, "1 minute",
          joinType = "left_outer")
        StreamOps.runToMemoryTable(s, joined, "e6_shared_asof_sink",
          stateWidth = stateWidthFor(stageDir))
      })
    }

  /** The e6c/e6d shared replay: [[graft.streaming.StreamOps
    * .asofJoinStreaming]] over the SAME staged source as e6, in the
    * left-outer form (the e6SharedAsof trick: the inner relation = the
    * left-outer rows with a non-null click side, so ONE checkpointed pass
    * serves both gates). The key-dense mitigation's oracle gates share
    * e6/e6b's SQL verbatim, so "same relation, bounded per-key state" is
    * hash-checked for BOTH join semantics, not asserted.
    */
  private def e6cSlicedAsof(s: SparkSession, d: String): Option[DataFrame] =
    e6StageDir(s, d).map { stageDir =>
      Tables.evictStopped(e6cMemo)(_._1)
      e6cMemo.getOrElseUpdate((s, stageDir), {
        val schema = s.read.parquet(stageDir).schema
        def slice(t: String) =
          s.readStream.schema(schema).parquet(stageDir).filter(col("event_type") === t)
        val joined = StreamOps.asofJoinStreaming(
          slice("purchase"), slice("click"), E6HorizonUs, "1 minute",
          joinType = "left_outer")
        StreamOps.runToMemoryTable(s, joined, "e6c_sliced_asof_sink",
          stateWidth = stateWidthFor(stageDir))
      })
    }

  private val e6fMemo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]

  /** The e6f replay: the sliced as-of join under a slice width DERIVED
    * from the measured key density ([[graft.streaming.StreamOps
    * .deriveSliceUs]] over the raw click stream — no sentinels), at the
    * TIGHTEST occupancy bound (maxPerSlot = 1) so the derivation lands on
    * a genuinely sub-horizon rung on this fixture (the default-width case
    * is e6c's plan verbatim and would gate nothing new). Same staged
    * source, e6's oracle SQL — diagnostic → derivation → plan, with the
    * relation pinned bit-exact at the derived width.
    */
  private def e6fDerivedAsof(s: SparkSession, d: String): Option[DataFrame] =
    e6StageDir(s, d).map { stageDir =>
      Tables.evictStopped(e6fMemo)(_._1)
      e6fMemo.getOrElseUpdate((s, stageDir), {
        val clicks = Tables.events(s, d).filter(col("event_type") === "click")
        val derived = StreamOps.deriveSliceUs(clicks, "user_id", "ts_us",
          E6HorizonUs, maxPerSlot = 1)
        val schema = s.read.parquet(stageDir).schema
        def slice(t: String) =
          s.readStream.schema(schema).parquet(stageDir).filter(col("event_type") === t)
        val joined = StreamOps.asofJoinStreaming(
          slice("purchase"), slice("click"), E6HorizonUs, "1 minute",
          joinType = "left_outer", sliceUs = derived)
        StreamOps.runToMemoryTable(s, joined, "e6f_derived_asof_sink",
          stateWidth = stateWidthFor(stageDir))
      })
    }

  /** e8b/e8c shared staging + replays: events + one far-future sentinel
    * (user −1) whose watermark closes every real window (the sentinel's own
    * window never closes, so it never emits — the e2b trick). TWO memoized
    * append-mode replays over the SAME staged source: "users" = the
    * dedup-then-count chain (n_users exact, multiplicity discarded),
    * "counts" = the plain windowed count (n_events). e8b reads the first;
    * e8c joins both on the window — streaming forbids a distinct and a
    * plain count in one aggregate, so the two-query fork is the canonical
    * shape. Memoized per (session, staged dir, which): the first caller
    * pays each replay, later calls (bench warm runs) read the sink (A15).
    */
  private val e8Memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  private def e8Sink(s: SparkSession, d: String, which: String): Option[DataFrame] = {
    import s.implicits._
    val widthUs = 3600000000L
    val wmUs = 60000000L
    val ev = Tables.events(s, d).select("user_id", "ts_us", "event_id")
    val maxTsRow = ev.agg(max("ts_us")).head()
    if (maxTsRow.isNullAt(0)) None
    else {
      val srcFile = new java.io.File(s"$d/events.parquet")
      val stageDir =
        s"${scratchDir(d)}/e8b_events_${stageKey(srcFile, s"w${widthUs}wm$wmUs")}"
      Tables.evictStopped(e8Memo)(_._1)
      Some(e8Memo.getOrElseUpdate((s, stageDir, which), {
        // "users" and "counts" share the stage dir: lock the probe+write
        withStageLock(stageDir) {
          if (!new java.io.File(s"$stageDir/_SUCCESS").exists()) {
            val maxTs = maxTsRow.getLong(0)
            val sentinel = Seq((-1L, maxTs + 2 * widthUs + wmUs + 1, -1L))
              .toDF("user_id", "ts_us", "event_id")
            ev.union(sentinel.select("user_id", "ts_us", "event_id"))
              .coalesce(4).write.mode("overwrite").parquet(stageDir)
          }
        }
        val src = s.readStream.schema(s.read.parquet(stageDir).schema).parquet(stageDir)
        which match {
          case "users" => StreamOps.runToMemoryTable(s,
            StreamOps.windowDistinctUsersStreaming(src, "1 hour", "1 minute"),
            "e8b_stream_distinct_sink", stateWidth = stateWidthFor(stageDir))
          case _ => StreamOps.runToMemoryTable(s,
            StreamOps.windowEventCountsStreaming(src, "1 hour", "1 minute"),
            "e8c_window_counts_sink", stateWidth = stateWidthFor(stageDir))
        }
      }))
    }
  }

  private def e8DistinctSink(s: SparkSession, d: String): Option[DataFrame] =
    e8Sink(s, d, "users")
  private def e8CountsSink(s: SparkSession, d: String): Option[DataFrame] =
    e8Sink(s, d, "counts")

  private def dec(c: org.apache.spark.sql.Column) = c.cast(DecimalType(18, 2))
  private val D382 = DecimalType(38, 2)
  private val D384 = DecimalType(38, 4)

  /** Discounted price in EXACT decimal arithmetic: cast the 2dp inputs to
    * decimal first, multiply in decimal (scale 4, no rounding). A per-row
    * double→decimal cast of the product is NOT portable — engines disagree
    * on the rounding of products that land near a half-cent.
    */
  private def discPrice =
    dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(3, 2)) - dec(col("l_discount")))

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
    val filtered = graft.Caches.loan(enriched
      .filter(col("r_c_mktsegment").isin(segs: _*))
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
      .persist())
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
    val exactKeep = graft.Caches.loan(gated.join(
      Dedup.exact(gated, "doc_id", "text").select("doc_id"), Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
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
    val exactKeep = graft.Caches.loan(corpus.join(
      Dedup.exact(corpus, "doc_id", "text").select("doc_id"), Seq("doc_id"), "left_semi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val contaminated = Dedup.decontaminationPairs(exactKeep, bench, "doc_id", "text",
      3, 0.5, maxDf = 50)
      .select(col("train_id").as("doc_id")).distinct()
    val clean = graft.Caches.loan(
      exactKeep.join(contaminated, Seq("doc_id"), "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
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

  // ---------------------------------------------------------------- queries

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S1-S4: CSV scan with header/inference/coercion semantics
    "s1_csv_scan" -> ((s, d) => {
      val nation = Tables.nation(s, d)
      val csvDir = s"${scratchDir(d)}/csv_nation"
      nation.coalesce(1).write.mode("overwrite").option("header", "true").csv(csvDir)
      CsvSource.read(s, csvDir).orderBy("n_nationkey")
    }),

    // S6b: gzip JSONL round-trip — the common corpus-RELEASE format
    // (.jsonl.gz). gzip is NOT splittable: each shard decompresses on one
    // core, so shard count = parallelism floor — fine for releases sized
    // shards≈workers, wrong for a monolithic 100 TB file (JsonlSource
    // scaladoc; zstd/parquet are the processing-tier formats)
    "s6b_jsonl_gz" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val gzDir = s"${scratchDir(d)}/jsonl_gz_documents"
      JsonlSource.writeSharded(docs, gzDir, "doc_id", 4, compression = "gzip")
      JsonlSource.readWithSchema(s, gzDir, docs.schema)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // S6c: PERMISSIVE-mode quarantine — a raw dump always carries broken
    // lines; each becomes ONE quarantinable row (raw line preserved),
    // never a failed 100 TB job. Five garbage lines injected into the
    // staged dir; the gate checks both populations' counts
    "s6c_jsonl_quarantine" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val qDir = s"${scratchDir(d)}/jsonl_quarantine_documents"
      JsonlSource.writeSharded(docs, qDir, "doc_id", 4)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$qDir/part-garbage.json"),
        ("{broken json\nnot json at all\n{\"doc_id\": }\n[1,2\n\"dangling"
          + "\n").getBytes("UTF-8"))
      val schema = org.apache.spark.sql.types.StructType(
        docs.schema.fields :+ org.apache.spark.sql.types.StructField(
          JsonlSource.CorruptCol, org.apache.spark.sql.types.StringType))
      // counts per population as one 2-row relation. The projection only
      // needs the corrupt column, and Spark refuses a raw-file scan
      // pruned down to JUST that column (SPARK-38523) — so cache the
      // parsed frame first, exactly as the JsonlSource scaladoc
      // prescribes: the cache materializes the full schema and the
      // kind-count reads from it, not from the raw files
      val parsed = graft.Caches.loan(
        JsonlSource.readWithSchema(s, qDir, schema)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      parsed.count()
      parsed
        .select(when(col(JsonlSource.CorruptCol).isNull, "well")
          .otherwise("corrupt").as("kind"))
        .groupBy("kind").agg(count(lit(1)).as("n"))
        .orderBy("kind")
    }),

    // S13: parquet schema EVOLUTION — a later producer adds a column.
    // Base shards carry (doc_id, text); delta shards add `quality`; a
    // mergeSchema read unifies (old rows null) — the drift tolerance a
    // long-lived 100 TB table needs (mergeSchema costs a footer pass per
    // file, so production pins the unified schema once known)
    "s13_schema_evolution" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dir = s"${scratchDir(d)}/schema_evo_documents"
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val stamped = s"$dir/_DONE_${stageKey(srcFile, "mod2q")}"
      if (!new java.io.File(stamped).exists()) {
        ParquetSink.writeSharded(
          docs.where(col("doc_id") % 2 === 0).select("doc_id", "text"),
          dir, "doc_id", shards = 2)
        ParquetSink.appendSharded(
          docs.where(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"),
            (round(col("n_chars") / 100.0, 4) + lit(0.0)).as("quality")),
          dir, "doc_id", shards = 2)
        new java.io.File(stamped).createNewFile()
      }
      s.read.option("mergeSchema", "true").parquet(dir)
        .select("doc_id", "text", "quality")
        .orderBy("doc_id")
    }),

    // S10: ORC round-trip — Spark's second first-class columnar format
    // (in-core, no extra jar); the relation must hash-match the parquet
    // original, proving format choice changes bytes on disk, not data
    "s10_orc_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val orcDir = s"${scratchDir(d)}/orc_documents"
      sources.ColumnarSource.writeOrcSharded(docs, orcDir, "doc_id", 4)
      sources.ColumnarSource.readOrc(s, orcDir)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // S11: raw text-lines round-trip — the rawest LLM-corpus shape (one
    // doc per line, .txt shards). Restricted to newline-free docs on BOTH
    // sides (a newline would split a document; writeTextLines documents
    // the constraint), result is the line multiset
    "s11_text_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
        .filter(!col("text").contains("\n") && !col("text").contains("\r"))
      val txtDir = s"${scratchDir(d)}/text_documents"
      sources.ColumnarSource.writeTextLines(docs, "text", txtDir, 4)
      sources.ColumnarSource.readTextLines(s, txtDir).orderBy("value")
    }),

    // S12: zstd-parquet round-trip — codec control for the archival tier;
    // a pure physical property, the relation is unchanged
    "s12_zstd_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val zDir = s"${scratchDir(d)}/zstd_documents"
      sources.ColumnarSource.writeParquetCodec(docs, zDir, "doc_id", 4, "zstd")
      s.read.parquet(zDir)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // S6: JSONL round-trip — documents → hash-sharded .jsonl → explicit-
    // schema read-back; must hash-match the parquet original (JSON
    // escaping preserves newlines/quotes/unicode exactly)
    "s6_jsonl_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val jsonlDir = s"${scratchDir(d)}/jsonl_documents"
      JsonlSource.writeSharded(docs, jsonlDir, "doc_id", 4)
      JsonlSource.readWithSchema(s, jsonlDir, docs.schema)
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // S7: hive-partitioned parquet round-trip — documents written
    // `lang=<v>/` partitioned, read back through a partition filter; the
    // plan-time directory pruning is PlanSpec-pinned, content parity is
    // this row (partition columns ride the directory name, so values and
    // types must survive the detour)
    "s7_partitioned_roundtrip" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val outDir = s"${scratchDir(d)}/part_documents"
      ParquetSink.writePartitioned(docs, outDir, "lang")
      s.read.parquet(outDir)
        .filter(col("lang") === "en")
        .select("doc_id", "text", "lang", "source", "n_chars")
        .orderBy("doc_id")
    }),

    // S8: deterministic shuffle-shard export — the corpus written in
    // md5(seed:id) pseudo-random order across hive shard directories
    // (epoch reshuffle = new seed, zero data rewrite); the readback
    // aggregates per-shard membership + key extremes, which the oracle
    // recomputes from first principles
    "s8_shuffle_export" -> ((s, d) => {
      val outDir = s"${scratchDir(d)}/shuffled_documents"
      ParquetSink.writeShuffled(
        Tables.documents(s, d).select("doc_id", "source", "n_chars"),
        outDir, "doc_id", seed = "epoch0", shards = 8)
      s.read.parquet(outDir)
        .groupBy(col("shard").cast("long").as("shard"))
        .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_doc_id"),
          min("_shuffle_key").as("min_key"), max("_shuffle_key").as("max_key"))
        .orderBy("shard")
    }),

    // S9: Z-order clustered export — rows co-located in BOTH quantity and
    // price, so the box predicate below prunes most files by footer
    // stats; the read-back gates filter correctness over the new layout
    "s9_zorder_export" -> ((s, d) => {
      val outDir = s"${scratchDir(d)}/zorder_lineitem"
      ParquetSink.zorderExport(
        Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
        outDir, "l_quantity", "l_extendedprice", shards = 8)
      s.read.parquet(outDir)
        .where(col("l_quantity").between(10, 15) && col("l_extendedprice") <= 20000)
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // F1: WHERE via predicate expression (pushed into the scan)
    "f1_filter" -> ((s, d) =>
      Ops.filter(Tables.lineitem(s, d),
        col("l_quantity") > 30 && col("l_returnflag") === "R")
        .orderBy("l_orderkey", "l_linenumber")),

    // P1: projection with silent drop of missing names
    "p1_select" -> ((s, d) =>
      Ops.select(Tables.lineitem(s, d),
        Seq("l_orderkey", "l_partkey", "l_quantity", "no_such_column"))
        .orderBy("l_orderkey", "l_partkey", "l_quantity")),

    // O1: single-key sort, asc → nulls last
    "o1_sort" -> ((s, d) =>
      Ops.sortValues(Tables.orders(s, d)
        .select("o_orderkey", "o_custkey", "o_totalprice"), "o_orderkey")),

    // G1+G2: hash groupBy + the 7 reference agg fns, {fn}_{col} naming.
    // Runs under `exactMedian = true` so the oracle gate exercises the
    // counts-map TypedImperativeAggregate on the reference's own flagship
    // aggregate (the built-in-median form is pinned equal in AggSpec).
    "g2_group_agg" -> ((s, d) => {
      val g = Agg.groupAgg(Tables.lineitem(s, d), Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity" -> Agg.SupportedFns), exactMedian = true)
      g.select(col("l_returnflag"), col("l_linestatus"),
        col("count_l_quantity"), col("sum_l_quantity"),
        round(col("avg_l_quantity"), 4).as("avg_l_quantity"),
        col("min_l_quantity"), col("max_l_quantity"),
        round(col("median_l_quantity"), 4).as("median_l_quantity"),
        round(col("std_l_quantity"), 4).as("std_l_quantity"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // G3/A11: global whole-table aggregate (no dummy group key)
    "g3_global_agg" -> ((s, d) => {
      val g = Agg.globalAgg(Tables.customer(s, d),
        Seq("c_acctbal" -> Agg.SupportedFns))
      g.select(col("count_c_acctbal"),
        round(col("sum_c_acctbal"), 2).as("sum_c_acctbal"),
        round(col("avg_c_acctbal"), 4).as("avg_c_acctbal"),
        col("min_c_acctbal"), col("max_c_acctbal"),
        round(col("median_c_acctbal"), 4).as("median_c_acctbal"),
        round(col("std_c_acctbal"), 4).as("std_c_acctbal"))
    }),

    // J1 inner: hash join, right columns r_-prefixed, broadcast dim
    "j1_join_inner" -> ((s, d) =>
      Joins.broadcastJoin(Tables.orders(s, d), Tables.customer(s, d),
        ("o_custkey", "c_custkey"))
        .orderBy("o_orderkey")),

    // J1 left: unmatched left rows null-padded
    "j1_join_left" -> ((s, d) =>
      Joins.hashJoin(Tables.customer(s, d), Tables.orders(s, d),
        ("c_custkey", "o_custkey"), "left")
        .orderBy(col("c_custkey"), col("r_o_orderkey").asc_nulls_first)),

    // J5: skew-salted hash join — the hot-key escape hatch must produce
    // exactly the plain inner-join relation (salting redistributes work,
    // never rows); shares j1_join_inner's oracle text
    "j5_salted_join" -> ((s, d) =>
      Joins.saltedJoin(Tables.orders(s, d), Tables.customer(s, d),
        ("o_custkey", "c_custkey"), buckets = 8)
        .orderBy("o_orderkey")),

    // J6: pre-join skew diagnostic — the measured top-20 hottest lineitem
    // suppliers with share and skew factor; the evidence a pipeline reads
    // BEFORE reaching for j5's deliberate salting. Only (key, count)
    // partials cross the exchange; top-k is a TakeOrderedAndProject
    "j6_skew_stats" -> ((s, d) =>
      Joins.skewStats(Tables.lineitem(s, d), Seq("l_suppkey"), topK = 20)),

    // J2: left-semi join — customers WITH at least one order
    "j2_join_semi" -> ((s, d) =>
      Joins.semiJoin(Tables.customer(s, d), Tables.orders(s, d), ("c_custkey", "o_custkey"))
        .orderBy("c_custkey")),

    // J2: left-anti join — customers WITHOUT orders
    "j2_join_anti" -> ((s, d) =>
      Joins.antiJoin(Tables.customer(s, d), Tables.orders(s, d), ("c_custkey", "o_custkey"))
        .orderBy("c_custkey")),

    // X2: set operations — (O ∪ P statuses) ∖ high-value, SET semantics
    "x2_setops" -> ((s, d) => {
      val keys = Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
      val o = keys.filter(col("o_orderstatus") === "O")
      val p = keys.filter(col("o_orderstatus") === "P")
      val high = keys.filter(col("o_totalprice") > 200000)
      Ops.except(Ops.union(o, p), high).select("o_orderkey").orderBy("o_orderkey")
    }),

    // J1 full: full-outer join — both unmatched sides null-padded. The
    // supplier/customer nation keys only partially overlap per segment,
    // so both padding directions are exercised.
    "j1_join_full" -> ((s, d) => {
      val bld = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_building"))
      val sup = Tables.supplier(s, d)
        .groupBy("s_nationkey").agg(count(lit(1)).as("n_suppliers"))
      Joins.fullJoin(bld, sup, ("c_nationkey", "s_nationkey"))
        .orderBy(col("c_nationkey").asc_nulls_first, col("r_s_nationkey").asc_nulls_first)
    }),

    // G6b: CUBE — all grouping-set combinations (rollup's sibling)
    "g6b_cube" -> ((s, d) =>
      Agg.cubeAgg(Tables.lineitem(s, d), Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity" -> Seq("count", "sum")))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // G5: exact distinct-count per group (HLL sketch variant in tests)
    "g5_distinct_count" -> ((s, d) =>
      Agg.distinctCount(Tables.lineitem(s, d), Seq("l_returnflag"), "l_suppkey")
        .orderBy("l_returnflag")),

    // G6: rollup — subtotals per returnflag plus grand total
    "g6_rollup" -> ((s, d) =>
      Agg.rollupAgg(Tables.lineitem(s, d), Seq("l_returnflag", "l_linestatus"),
        Seq("l_quantity" -> Seq("count", "sum")))
        .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)),

    // A2: IS NOT NULL filter
    "a2_notnull" -> ((s, d) =>
      Ops.dropNullRows(Tables.orders(s, d), "o_orderpriority")
        .orderBy("o_orderkey")),

    // A4: IN-set membership
    "a4_isin" -> ((s, d) =>
      Ops.isInSet(Tables.orders(s, d), "o_orderstatus", Seq("O", "P"))
        .orderBy("o_orderkey")),

    // A5: BETWEEN range filter (inclusive)
    "a5_between" -> ((s, d) =>
      Ops.between(Tables.orders(s, d), "o_orderdate", "1996-01-01", "1996-12-31")
        .orderBy("o_orderkey")),

    // A3: latest-value wide table — ALL metrics in one groupBy pass
    "a3_latest_table" -> ((s, d) =>
      Agg.latestTable(Tables.lineitem(s, d), "l_suppkey",
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"))
        .orderBy("l_suppkey")),

    // A6: distinct dimension values, sorted
    "a6_distinct" -> ((s, d) =>
      Ops.distinctSorted(Tables.part(s, d), "p_brand")),

    // A7: global min/max of one column
    "a7_minmax" -> ((s, d) => Agg.minMax(Tables.orders(s, d), "o_orderdate")),

    // A8: argmax-per-group via max_by (single partial-aggregated shuffle)
    "a8_argmax" -> ((s, d) =>
      Analytics.latestPerGroup(Tables.orders(s, d), "o_custkey", "o_orderdate",
        Seq("o_orderkey"))
        .orderBy("o_custkey")),

    // A9: pivot with explicit values, max-on-conflict
    "a9_pivot" -> ((s, d) =>
      Analytics.pivotMax(
        Tables.orders(s, d).withColumn("o_year", year(col("o_orderdate"))),
        "o_year", "o_orderstatus", Seq("O", "F", "P"), "o_totalprice")
        .orderBy("o_year")),

    // A10: forward-fill (LOCF) per series
    "a10_ffill" -> ((s, d) => {
      val ev = Tables.events(s, d).withColumn("v",
        when(col("event_type") === "error", lit(null)).otherwise(col("value")))
      Analytics.forwardFill(ev, "user_id", Seq("ts_us", "event_id"), "v", "value_filled")
        .select("event_id", "user_id", "ts_us", "value_filled")
        .orderBy("user_id", "ts_us", "event_id")
    }),

    // A17: trailing 7-row rolling average per series
    "a17_rolling" -> ((s, d) =>
      Analytics.rollingAvg(Tables.events(s, d), "user_id", Seq("ts_us", "event_id"),
        "value", 7, "rolling_avg")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          round(col("rolling_avg"), 4).as("rolling_avg"))
        .orderBy("user_id", "ts_us", "event_id")),

    // A18: lag-window per-series delta (the §2.3 lag/lead surface).
    // + 0.0: deltas cross zero, so a tiny negative difference rounds to
    // -0.0 — normalized on both sides (see v1_label_centroids).
    "a18_lag_delta" -> ((s, d) =>
      Analytics.lagDelta(Tables.events(s, d), "user_id", Seq("ts_us", "event_id"),
        "value", "delta")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          (round(col("delta"), 4) + lit(0.0)).as("delta"))
        .orderBy("user_id", "ts_us", "event_id")),

    // A19: rank / dense_rank — the remaining §2.3 window functions. Ranks
    // by acctbal CENTS (exact decimal → bigint) so tie groups are value-
    // exact, then a deterministic final sort.
    "a19_rank" -> ((s, d) => {
      val cents = (col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("c_mktsegment")).orderBy(cents.desc)
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), cents.as("acct_cents"),
          rank().over(w).cast("long").as("bal_rank"),
          dense_rank().over(w).cast("long").as("bal_dense_rank"))
        .filter(col("bal_rank") <= 10)
        .orderBy("c_mktsegment", "bal_rank", "c_custkey")
    }),

    // X2b: INTERSECT set semantics — customers with both O and F orders
    "x2b_intersect" -> ((s, d) => {
      val o = Tables.orders(s, d)
      Ops.intersect(
        o.filter(col("o_orderstatus") === "O").select("o_custkey"),
        o.filter(col("o_orderstatus") === "F").select("o_custkey"))
        .orderBy("o_custkey")
    }),

    // G8: HAVING — post-aggregation filter on the aggregate value
    "g8_having" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= 1000)
        .orderBy("l_returnflag", "l_linestatus")),

    // X1: guarded pairwise-complete Pearson correlation
    "x1_corr" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      li.agg((round(Analytics.safeCorr(li, "l_quantity", "l_extendedprice"), 4) + lit(0.0))
        .as("corr_qty_price"))
    }),

    // A12: deterministic top-N
    "a12_topn" -> ((s, d) =>
      Ops.topN(Tables.orders(s, d), 10,
        col("o_totalprice").desc, col("o_orderkey").asc)),

    // A13: rename
    "a13_rename" -> ((s, d) =>
      Ops.rename(Tables.nation(s, d), "n_name" -> "nation_name")
        .orderBy("n_nationkey")),

    // A14: count / shape
    "a14_count" -> ((s, d) =>
      Tables.lineitem(s, d).agg(count(lit(1)).as("n_rows"))),

    // full pipeline: the reference's entry-point-3 chain (SURVEY §3)
    "q_covid_chain" -> ((s, d) => covidChain(s, d)),

    // full pipeline: the reference's entry-point-1 load chain (SURVEY §3):
    // scan → required-column validation → IS NOT NULL filter → single-pass
    // latest-value table (the reference loops one groupBy per metric;
    // app.py:122-157) → persist (A15)
    "q_load_chain" -> ((s, d) => {
      val orders = Ops.requireColumns(Tables.orders(s, d),
        Seq("o_custkey", "o_orderdate", "o_totalprice", "o_orderpriority"))
      val clean = Ops.dropNullRows(orders, "o_orderpriority")
      graft.Caches.loan(
        Agg.latestTable(clean, "o_custkey", Seq("o_orderdate", "o_totalprice"))
          .persist())
        .orderBy("o_custkey")
    }),

    // full pipeline: the reference's entry-point-2 dashboard chain (SURVEY §3)
    "q_dashboard_chain" -> ((s, d) => dashboardChain(s, d)),

    // full pipeline: the LLM training-data funnel (gates → dedup → near-dup
    // keep → sample → packing), every stage composed end-to-end
    "q_pipeline_chain" -> ((s, d) => pipelineChain(s, d)),

    // full pipeline: the round-5 curation funnel (dedup → decontaminate →
    // mixture → split → pack) — cross-operator id flow and determinism
    "q_curation_chain" -> ((s, d) => curationChain(s, d)),

    // full pipeline: the round-6 daily-ingest funnel (incremental family
    // composed end-to-end; every pairwise stage is batch-probes-index)
    "q_ingest_chain" -> ((s, d) => ingestChain(s, d)),

    // CHAIN: chunk → fingerprint → per-source dedup stats — the RAG/
    // context-window preparation funnel (how much of each source's chunked
    // text is redundant?). Narrow chunking feeds a map-side-combined
    // count/distinct keyed by source.
    "q_chunk_chain" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val chunks = Chunking.chunkByChars(docs, "doc_id", "text", 300, 50)
        .join(docs.select("doc_id", "source"), "doc_id")
      chunks.select(col("source"), Text.fingerprint(col("chunk")).as("f"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"), countDistinct(col("f")).as("n_unique"))
        .orderBy("source")
    }),

    // G3 arbitrary-function aggregate surface: typed Aggregator (order-
    // independent example fns so the oracle compare is exact)
    "g4_custom_agg" -> ((s, d) =>
      CustomAgg.customGlobalAgg(Tables.customer(s, d), Seq(
        ("midrange", "c_acctbal", CustomAgg.midrange),
        ("spread", "c_acctbal", CustomAgg.spread)))
        .select(round(col("midrange_c_acctbal"), 4).as("midrange_c_acctbal"),
          round(col("spread_c_acctbal"), 4).as("spread_c_acctbal"))),

    // G3 grouped form: the same arbitrary fold aggregators per group —
    // order-independent fns so the oracle compare is exact
    "g4b_custom_group_agg" -> ((s, d) =>
      CustomAgg.customGroupAgg(Tables.customer(s, d), Seq("c_mktsegment"), Seq(
        ("midrange", "c_acctbal", CustomAgg.midrange),
        ("spread", "c_acctbal", CustomAgg.spread)))
        .select(col("c_mktsegment"),
          round(col("midrange_c_acctbal"), 4).as("midrange_c_acctbal"),
          round(col("spread_c_acctbal"), 4).as("spread_c_acctbal"))
        .orderBy("c_mktsegment")),

    // TPC-H Q1-style pricing summary. Sums are computed EXACTLY in decimal
    // (associative, order-independent) and only the final value is cast to
    // double — both sides of the oracle compare as float64 (the driver's
    // canonicalizer hashes decimal128 and float64 differently).
    "q1_pricing" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          sum(dec(col("l_extendedprice"))).cast(D382).cast("double").as("sum_base_price"),
          sum(discPrice).cast(D384).cast("double").as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // TPC-H Q6-style: forecast revenue — tight range filters, one global
    // decimal-exact aggregate (pure scan+filter+agg, no join, no group)
    "q6_forecast" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") >= lit("1996-01-01") &&
          col("l_shipdate") < lit("1997-01-01") &&
          dec(col("l_discount")).between(BigDecimal("0.02"), BigDecimal("0.04")) &&
          col("l_quantity") < 24)
        .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
          .cast(D384).cast("double").as("revenue"),
          count(lit(1)).as("n_items"))),

    // TPC-H Q10-style: returned-item revenue per customer — the canonical
    // reporting join (lineitem⋈orders shuffle on the shared fact key;
    // customer/nation DIMS broadcast), decimal-exact revenue, top-20 with
    // a custkey tiebreak for total determinism
    "q10_returned_items" -> ((s, d) => {
      val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
      val o = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1995-01-01") &&
          col("o_orderdate") < lit("1996-01-01"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(sum(discPrice).cast(D384).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("c_custkey"))
        .limit(20)
    }),

    // TPC-H Q7-style: cross-nation trade volume — the two-sided dim
    // pattern (nation joined TWICE under different roles). Fact⋈fact
    // (lineitem⋈orders, then customer) shuffle on their keys; supplier
    // and both nation roles broadcast; cross-border rows only
    "q7_volume_shipping" -> ((s, d) => {
      val l = Tables.lineitem(s, d)
      val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
      val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
      val cus = Tables.customer(s, d).select("c_custkey", "c_nationkey")
      val n1 = Tables.nation(s, d)
        .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
      val n2 = Tables.nation(s, d)
        .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
      l.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(cus, col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
        .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).cast("int").as("l_year"))
        .agg(sum(discPrice).cast(D384).cast("double").as("revenue"))
        .orderBy("supp_nation", "cust_nation", "l_year")
    }),

    // TPC-H Q3-style: 3-way join, grouped revenue, top-10
    "q3_shipping" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
      val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1996-06-01"))
      val l = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1996-06-01"))
      l.join(broadcast(o.join(broadcast(c), col("o_custkey") === col("c_custkey"))),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(sum(discPrice).cast(D384).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
        // top-10 selected on the EXACT decimal; only the output is double
        .withColumn("revenue", col("revenue").cast("double"))
    }),

    // TPC-H Q5-style: star join through region→nation→customer→orders→lineitem→supplier
    "q5_region" -> ((s, d) => {
      val joined = Tables.lineitem(s, d)
        .join(Tables.orders(s, d).filter(
          col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .join(broadcast(Tables.supplier(s, d)),
          col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
        .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
      joined.groupBy("n_name")
        .agg(sum(discPrice).cast(D384).cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("n_name").asc)
    }),

    // TPC-H Q18-style: large-quantity orders — aggregate lineitem per
    // order, HAVING-filter, then enrich through orders→customer and take
    // the top 10 by value. The aggregate side shrinks BEFORE the joins
    // (AQE broadcasts the filtered survivors), and sum(long) is exact.
    "q18_large_orders" -> ((s, d) => {
      val big = Tables.lineitem(s, d).groupBy("l_orderkey")
        .agg(sum(col("l_quantity")).as("total_qty"))
        .filter(col("total_qty") > 250)
      // broadcast the POST-HAVING agg side explicitly: it is ~1.5% of
      // orders (2.3k vs 150k rows at sf0.1) but the planner can't see
      // through the aggregate's estimate and was building the broadcast on
      // ORDERS — a 65×-larger hash relation rebuilt per execution, whose
      // driver-side build was the source of the r10 bimodal timings
      // (0.88 s vs 2.95 s warm). PlanSpec pins the build side.
      Tables.orders(s, d).join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
        .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
          col("o_totalprice"), col("total_qty"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
    }),

    // D1: exact dedup by normalized-text fingerprint
    "d1_dedup_exact" -> ((s, d) =>
      Dedup.exact(Tables.documents(s, d), "doc_id", "text").orderBy("fingerprint")),

    // D2: MinHash+LSH near-dup candidates, exact-Jaccard verified — the
    // plain plan, called directly (d2g gates the public entry's choice)
    "d2_minhash_lsh" -> ((s, d) =>
      Dedup.minhashNearDupsPlain(Tables.documents(s, d), "doc_id", "text", 0.5)
        .orderBy("id_1", "id_2")),

    // D2f: collapse-before-LSH — the minhash entry for corpora carrying a
    // real exact-duplicate load (30–50% on web text). Every 10th doc
    // re-enters with a shifted id (a deterministic dup injection the
    // oracle replays) and the collapsed pipeline must return the SAME
    // relation the plain LSH yields on that union: within-class 1.0 pairs
    // by construction, cross-class pairs through the representatives.
    "d2f_collapsed_minhash" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dups = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      Dedup.minhashNearDupsCollapsed(docs.unionByName(dups), "doc_id", "text", 0.5)
        .orderBy("id_1", "id_2")
    }),

    // D2g: the public gated entry — the measured dup share (one
    // 16-byte-fp aggregate) picks collapse-first vs plain; this fixture's
    // share is 1/11 ≈ 9.1%, under the 0.2 gate, so the plain branch fires
    // (d2f gates the collapsed body), and the result bit-matches the exact
    // oracle either way (the branches are result-identical by
    // construction, DedupSpec-pinned)
    "d2g_minhash_auto" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val dups = docs.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + 1000000L)
      Dedup.minhashNearDups(docs.unionByName(dups), "doc_id", "text", 0.5)
        .orderBy("id_1", "id_2")
    }),

    // D3: 60-bit md5-derived SimHash sketch per document (oracle-checkable)
    "d3_simhash" -> ((s, d) =>
      Dedup.simhash(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id")),

    // D3b: SimHash near-dup pairs, 4×15-bit pigeonhole banding (exact
    // recall for Hamming <= 3, so output == the all-pairs oracle)
    "d3b_simhash_pairs" -> ((s, d) =>
      Dedup.simhashNearDups(Tables.documents(s, d), "doc_id", "text", 3)
        .withColumn("hamming", col("hamming").cast("long"))
        .orderBy("id_1", "id_2")),

    // D4: exact word-bigram Jaccard pairs via inverted shingle index
    "d4_ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", 2, 0.1)
        .orderBy("id_1", "id_2")),

    // D4b: inverted-index sparse variant with a FIXED document-frequency
    // cap — the pinned reference regime, the unguarded plan called
    // directly (r17: the public name prices the cap against the df
    // histogram and refuses a volume that explodes at scale — the d9/d5
    // pattern). Cap mirrored exactly in the oracle.
    "d4b_jaccard_sparse" -> ((s, d) =>
      Dedup.ngramJaccardPairsSparseUnguarded(Tables.documents(s, d), "doc_id", "text", 3, 0.2,
        maxDf = 50)
        .orderBy("id_1", "id_2")),

    // D4f: the GUARDED plain fixed-cap name — same cap, same relation as
    // d4b (shared oracle SQL), but the call runs only because the priced
    // candidate volume (1.27M pairs at sf0.1) fits the 50M guard; at the
    // 100× regime the r16 sweep measured DNF-ing, this same call refuses
    // instead (BENCH_SCALE)
    "d4f_jaccard_sparse_guarded" -> ((s, d) =>
      Dedup.ngramJaccardPairsSparse(Tables.documents(s, d), "doc_id", "text", 3, 0.2, maxDf = 50)
        .orderBy("id_1", "id_2")),

    // D4c: the df-distribution diagnostic behind the sparse path's cap —
    // per-df shingle counts, the candidate pairs each df stratum costs,
    // and the running total (the cost model maxDf derivation reads)
    "d4c_df_stats" -> ((s, d) =>
      Dedup.shingleDfStats(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy("df")),

    // D4e: the df diagnostic over a deterministic 25% document sample —
    // the form a 100 TB corpus prices its plan with (the exact d4c is the
    // repo's most expensive third-decade row). Exact arithmetic on the
    // sample; est_* columns scale the pair bill by 1/rate² (unbiased).
    "d4e_df_stats_sampled" -> ((s, d) =>
      Dedup.shingleDfStatsSampled(Tables.documents(s, d), "doc_id", "text", 3,
        rate = 0.25)
        .orderBy("df")),

    // D4d: sparse Jaccard with the cap DERIVED from a candidate-pair
    // budget — the oracle re-derives the same ceiling from the same
    // histogram in SQL, so the derivation arithmetic itself is gated.
    // Budget 12000 binds at every SF (ceiling 3 at sf0.001/0.01, 4 at
    // sf0.1), so the pruning path — not just the derivation — is exercised
    "d4d_jaccard_sparse_auto" -> ((s, d) =>
      Dedup.ngramJaccardPairsSparseAuto(Tables.documents(s, d), "doc_id", "text",
        3, 0.2, budgetPairs = 12000L)
        .orderBy("id_1", "id_2")),

    // D6: connected components over the exact bigram-Jaccard pairs —
    // pairs → clusters, component = min id (the canonical keep)
    "d6_components" -> ((s, d) =>
      Dedup.connectedComponents(d6SharedPairs(s, d))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")),

    // D6c: INCREMENTAL components — the pair set split deterministically
    // into an "old" batch (labeled from scratch) and a "new" batch folded
    // in via label contraction; the merge must bit-match the from-scratch
    // recompute over the full union (the d6 oracle). Pairs come from the
    // family-shared persisted frame ([[d6SharedPairs]]): the result is
    // small and feeds two filters + two loops here, plus the d6/d6b/d6d
    // siblings and s5j. The cache deliberately stays for the RUN (r12
    // advice weighed and rejected with a measurement): unpersisting it
    // here poisons the sibling consumers — measured r13: d6c 0.53→2.30 s,
    // s5j 0.50→1.97 s with the unpersist in place — exactly the
    // dead-entry recompute the Caches loan convention documents. It is
    // LEDGERED (Caches.loan), so Caches.drain at end of run calls the
    // loan in — intra-run sharing without session-lifetime residue.
    "d6c_components_incremental" -> ((s, d) => {
      val pairs = d6SharedPairs(s, d)
      val isNew = (col("id_1") + col("id_2")) % 3 === 0
      Dedup.connectedComponentsIncremental(
        Dedup.connectedComponents(pairs.filter(!isNew)), pairs.filter(isNew))
        .withColumnRenamed("id", "doc_id")
        .orderBy("doc_id")
    }),

    // D7: benchmark decontamination — for each held-out (test) document,
    // the train documents containing >= 50% of its trigram shingles
    // (containment, not Jaccard: a short benchmark question buried in a
    // long train doc is exactly the leak this catches)
    "d7_decontaminate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminationPairs(
        docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", 3, 0.5, maxDf = 50)
        .orderBy("test_id", "train_id")
    }),

    // D7e: EXACT 13-gram decontamination — the published-eval gate (flag
    // train docs sharing ANY verbatim 13-gram with the benchmark split);
    // benchmark gram keys fold into a broadcast bloom pruning the train
    // gram stream before its exchange, survivors exact-verify by semi
    // join (bloom false positives die there — result exact)
    "d7e_exact_ngram_decon" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.decontaminationExactNgram(
        docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0),
        "doc_id", "text", n = 13)
        .orderBy("train_id")
    }),

    // D7b: decontamination replayed from the MATERIALIZED containment
    // index — train shingle sets + df-capped inverted index sharded to
    // parquet once, every benchmark screen probes the loaded frames (the
    // train corpus is never re-shingled). Same oracle as d7.
    "d7b_decon_replay" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val idxDir =
        s"${scratchDir(d)}/d7b_contain_index_${stageKey(srcFile, "n3df50")}"
      if (!new java.io.File(s"$idxDir/inv/_SUCCESS").exists()) {
        Dedup.writeContainmentIndex(
          Dedup.buildContainmentIndex(docs.filter(col("doc_id") % 4 =!= 0),
            "doc_id", "text", n = 3, maxDf = 50),
          idxDir, "doc_id", shards = 4)
      }
      Dedup.decontaminationFromIndex(Dedup.readContainmentIndex(s, idxDir),
        docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("test_id", "train_id")
    }),

    // D7c: the containment-index UPDATE lifecycle — the df-capped family's
    // d2d: day-1 build over part of the train corpus, day-2
    // updateContainmentIndex folds in the rest (df deltas appended,
    // over-cap shingles tombstoned so their stale entries vanish at read
    // time), day-3 screens the benchmark against the updated index. The
    // effective index must equal the from-scratch build over the FULL
    // train corpus — so the oracle is d7's own SQL, verbatim.
    "d7c_decon_update" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val idxDir =
        s"${scratchDir(d)}/d7c_contain_index_${stageKey(srcFile, "n3df50m4")}"
      if (!new java.io.File(s"$idxDir/_UPDATED").exists()) {
        Dedup.writeContainmentIndex(
          Dedup.buildContainmentIndex(
            docs.filter(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2),
            "doc_id", "text", n = 3, maxDf = 50),
          idxDir, "doc_id", shards = 4)
        Dedup.updateContainmentIndex(docs.filter(col("doc_id") % 4 === 3),
          idxDir, "doc_id", "text", n = 3, maxDf = 50, shards = 4)
        new java.io.File(s"$idxDir/_UPDATED").createNewFile()
      }
      Dedup.decontaminationFromIndex(Dedup.readContainmentIndex(s, idxDir),
        docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("test_id", "train_id")
    }),

    // D7d: d7c's lifecycle with COMPACTION before the probe — build day 1,
    // update day 2 (df deltas + tombstones land), compactContainmentIndex
    // settles the read debt (tombstones applied into inv/, df deltas merged
    // to one row per shingle, tomb/ dropped), then the day-3 probe runs
    // against the compacted index. Rows must still equal the from-scratch
    // build over the full train corpus (d7's oracle, verbatim) — and the
    // probe plan now carries NO anti-join (PlanSpec-pinned): the index got
    // FASTER to read after months of batches, not slower.
    "d7d_decon_compact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val idxDir =
        s"${scratchDir(d)}/d7d_contain_index_${stageKey(srcFile, "n3df50m4c")}"
      if (!new java.io.File(s"$idxDir/_COMPACTED").exists()) {
        Dedup.writeContainmentIndex(
          Dedup.buildContainmentIndex(
            docs.filter(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2),
            "doc_id", "text", n = 3, maxDf = 50),
          idxDir, "doc_id", shards = 4)
        Dedup.updateContainmentIndex(docs.filter(col("doc_id") % 4 === 3),
          idxDir, "doc_id", "text", n = 3, maxDf = 50, shards = 4)
        Dedup.compactContainmentIndex(s, idxDir, "doc_id", shards = 4)
        new java.io.File(s"$idxDir/_COMPACTED").createNewFile()
      }
      Dedup.decontaminationFromIndex(Dedup.readContainmentIndex(s, idxDir),
        docs.filter(col("doc_id") % 4 === 0), "doc_id", "text", n = 3, threshold = 0.5)
        .orderBy("test_id", "train_id")
    }),

    // D7f: the d7d containment-index LIFECYCLE as PURE SQL TEXT — the
    // third and last index family a SQL-only consumer can now maintain
    // (exact d8f, MinHash d2h, df-capped inverted index here). The part
    // the other two don't have: UPDATE must apply df-cap semantics in
    // SQL — batch (train_id, sk) pairs insert only while the CUMULATIVE
    // df (pre-batch table + batch delta) stays ≤ cap, and shingles the
    // batch pushes PAST the cap insert TOMBSTONES whose stale inv entries
    // vanish at read time via the probe's anti-join. INSERT ORDER
    // MATTERS: the inv and tomb inserts read the PRE-batch df table, so
    // both run before the batch's df deltas land (mirroring
    // updateContainmentIndex's read-before-append). Compaction = the
    // CTAS-stage compose per table, with the inv stage APPLYING the
    // tombstones (anti-join) and the df stage merging deltas to one row
    // per shingle; tomb then empties via INSERT OVERWRITE from an empty
    // literal relation, so post-compaction readers take the
    // no-anti-join path. Same splits as d7c/d7d, same from-scratch
    // oracle (d7's SQL verbatim).
    "d7f_decon_lifecycle_sql" -> ((s, d) => {
      Tables.registerAll(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val idxDir = s"${scratchDir(d)}/d7f_ct_index_${stageKey(srcFile, "n3df50m4sql")}"
      val tables = Seq("sets", "inv", "df", "tomb")
      tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS graft_ct_${t}_sql"))
      if (!new java.io.File(s"$idxDir/_UPDATED").exists()) {
        // crash idempotency (the d2h rule): no marker ⇒ any partial
        // LOCATION dirs are stale scratch from a dead run — clear them
        // before the re-created tables can re-adopt their rows
        def rm(f: java.io.File): Unit =
          graft.sources.ParquetSink.deleteRecursively(f)
        tables.foreach(t => rm(new java.io.File(s"$idxDir/$t")))
      }
      s.sql("CREATE TABLE graft_ct_sets_sql (doc_id BIGINT, n_sh INT, " +
        s"shs ARRAY<BIGINT>) USING parquet LOCATION '$idxDir/sets'")
      s.sql("CREATE TABLE graft_ct_inv_sql (train_id BIGINT, sk BIGINT) " +
        s"USING parquet LOCATION '$idxDir/inv'")
      s.sql("CREATE TABLE graft_ct_df_sql (sk BIGINT, df BIGINT) " +
        s"USING parquet LOCATION '$idxDir/df'")
      s.sql("CREATE TABLE graft_ct_tomb_sql (sk BIGINT) " +
        s"USING parquet LOCATION '$idxDir/tomb'")
      if (!new java.io.File(s"$idxDir/_UPDATED").exists()) {
        // day-1 build over train₁: sets, full-vocabulary df, df-capped inv
        val p1 = "doc_id % 4 = 1 OR doc_id % 4 = 2"
        s.sql(s"WITH ${shingleSetCtes(p1)} " +
          "INSERT INTO graft_ct_sets_sql SELECT doc_id, size(shs) AS n_sh, shs FROM bsets")
        s.sql(s"WITH ${shingleSetCtes(p1)}, $containmentBatchCtes " +
          "INSERT INTO graft_ct_df_sql SELECT sk, df FROM bdf")
        s.sql(s"WITH ${shingleSetCtes(p1)}, $containmentBatchCtes " +
          "INSERT INTO graft_ct_inv_sql SELECT i.train_id, i.sk FROM binv i " +
          "JOIN bdf b ON i.sk = b.sk WHERE b.df <= 50")
        // day-2 fold of train₂ under the cumulative df cap
        val p2 = "doc_id % 4 = 3"
        def upd(insert: String) =
          s"WITH ${shingleSetCtes(p2)}, $containmentBatchCtes, " +
            "odf AS (SELECT sk, sum(df) AS odf FROM graft_ct_df_sql GROUP BY sk), " +
            "m AS (SELECT b.sk, coalesce(o.odf, CAST(0 AS BIGINT)) AS odf, " +
            "coalesce(o.odf, CAST(0 AS BIGINT)) + b.df AS ndf " +
            "FROM bdf b LEFT JOIN odf o ON b.sk = o.sk) " + insert
        s.sql(upd("INSERT INTO graft_ct_inv_sql SELECT i.train_id, i.sk " +
          "FROM binv i JOIN m ON i.sk = m.sk WHERE m.ndf <= 50"))
        s.sql(upd("INSERT INTO graft_ct_tomb_sql SELECT sk FROM m " +
          "WHERE odf >= 1 AND odf <= 50 AND ndf > 50"))
        s.sql(s"WITH ${shingleSetCtes(p2)}, $containmentBatchCtes " +
          "INSERT INTO graft_ct_df_sql SELECT sk, df FROM bdf")
        s.sql(s"WITH ${shingleSetCtes(p2)} " +
          "INSERT INTO graft_ct_sets_sql SELECT doc_id, size(shs) AS n_sh, shs FROM bsets")
        // compaction: stage-compose per table (a file-source table cannot
        // INSERT OVERWRITE from itself)
        def compact(t: String, stageSelect: String, cols: String): Unit = {
          s.sql(s"DROP TABLE IF EXISTS ${t}_stage")
          s.sql(s"CREATE TABLE ${t}_stage USING parquet AS $stageSelect")
          s.sql(s"INSERT OVERWRITE $t SELECT $cols FROM ${t}_stage")
          s.sql(s"DROP TABLE ${t}_stage")
        }
        compact("graft_ct_inv_sql",
          "SELECT /*+ REPARTITION(4) */ i.train_id, i.sk FROM graft_ct_inv_sql i " +
            "LEFT ANTI JOIN graft_ct_tomb_sql t ON i.sk = t.sk",
          "train_id, sk")
        compact("graft_ct_df_sql",
          "SELECT /*+ REPARTITION(4) */ sk, sum(df) AS df " +
            "FROM graft_ct_df_sql GROUP BY sk",
          "sk, df")
        compact("graft_ct_sets_sql",
          "SELECT /*+ REPARTITION(4) */ doc_id, n_sh, shs FROM graft_ct_sets_sql",
          "doc_id, n_sh, shs")
        // tombstones are applied into inv — empty the table (0-row write)
        s.sql("INSERT OVERWRITE graft_ct_tomb_sql " +
          "SELECT CAST(NULL AS BIGINT) AS sk WHERE 1 = 0")
        new java.io.File(s"$idxDir/_UPDATED").createNewFile()
      }
      // day-3 probe: the decontaminationFromIndex plan as one statement
      // (anti-join kept for generality — post-compaction tomb is empty)
      s.sql(s"WITH ${shingleSetCtes("doc_id % 4 = 0")}, " +
        "eff AS (SELECT i.train_id, i.sk FROM graft_ct_inv_sql i " +
        "LEFT ANTI JOIN graft_ct_tomb_sql tb ON i.sk = tb.sk), " +
        "xinv AS (SELECT doc_id AS test_id, sk FROM bsets " +
        "LATERAL VIEW explode(shs) t AS sk), " +
        "cand AS (SELECT DISTINCT x.test_id, e.train_id FROM xinv x " +
        "JOIN eff e ON x.sk = e.sk), " +
        "scored AS (SELECT c.test_id, c.train_id, " +
        "round(CAST(graft_sorted_intersect_size(x.shs, ts.shs) AS DOUBLE) / " +
        "CAST(size(x.shs) AS DOUBLE), 6) AS containment " +
        "FROM cand c JOIN bsets x ON c.test_id = x.doc_id " +
        "JOIN graft_ct_sets_sql ts ON c.train_id = ts.doc_id) " +
        "SELECT test_id, train_id, containment FROM scored " +
        "WHERE containment >= 0.5 ORDER BY test_id, train_id")
    }),

    // D8: incremental ingest dedup — new batch (doc_id % 10 = 0) anti-joined
    // against the existing corpus's fingerprint set
    "d8_incremental_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.exactIncremental(
        docs.filter(col("doc_id") % 10 === 0), docs.filter(col("doc_id") % 10 =!= 0),
        "doc_id", "text")
        .select("doc_id", "fingerprint").orderBy("doc_id")
    }),

    // D8b: same ingest dedup through the runtime-bloom path — the batch's
    // fingerprint bloom prunes the corpus side before the distinct
    // exchange; result is EXACT (bloom false positives die in the anti
    // join), so it shares d8's oracle shape
    "d8b_bloom_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.exactIncrementalBloom(
        docs.filter(col("doc_id") % 7 === 0), docs.filter(col("doc_id") % 7 =!= 0),
        "doc_id", "text")
        .select("doc_id", "fingerprint").orderBy("doc_id")
    }),

    // D9: typo-level duplicates — SimHash banding candidates verified by
    // edit distance (token-set similarity can't see character edits).
    // This row PINS the full-admission (full within-sketch recall) plan
    // its oracle replays; the public name's d9e gate is the d9e row
    "d9_fuzzy_pairs" -> ((s, d) =>
      Dedup.fuzzyNearDupsBanded(Tables.documents(s, d), "doc_id", "text", maxDist = 40)
        .orderBy("id_1", "id_2")),

    // D9d: incremental FUZZY ingest — the fourth incremental mode (after
    // exact/MinHash/embedding): batch docs kept only where no corpus doc
    // sits within edit distance 40; banded cross join, first-agreeing-
    // chunk dedup, banded levenshtein verify, matched-ids anti join
    "d9d_fuzzy_incremental" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.fuzzyIncremental(
        docs.filter(col("doc_id") % 9 === 0), docs.filter(col("doc_id") % 9 =!= 0),
        "doc_id", "text", maxDist = 40)
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),

    // D9c: the fuzzy banding's cell-size diagnostic (the d4c pattern) —
    // per (chunk, ckey, lenBucket) cell-size stratum: cell count, the
    // within-cell candidate evaluations it costs, and the running total
    // the d9b cap derivation reads
    "d9c_cell_stats" -> ((s, d) =>
      Dedup.fuzzyCellStats(Tables.documents(s, d), "doc_id", "text", maxDist = 40)
        .orderBy("cell_size")),

    // D9b: fuzzy dedup with admission CAPPED by a candidate-pair budget —
    // the d4d pattern applied to the fuzzy family; the oracle re-derives
    // the same cap from the same histogram in SQL. Budget 3000 binds at
    // every SF (cap 20 at sf0.001, 23 at sf0.01, 3 at sf0.1), so the
    // over-cap pruning path — not just the derivation — is exercised
    "d9b_fuzzy_budget" -> ((s, d) =>
      Dedup.fuzzyNearDupsBudget(Tables.documents(s, d), "doc_id", "text",
        maxDist = 40, budgetPairs = 3000L)
        .orderBy("id_1", "id_2")),

    // D9e: the fuzzy AUTO gate — the last diagnostic-without-a-derived-
    // plan-choice retired: budget = pairsPerDoc × nDocs (corpus-
    // proportional, so candidate volume stays linear), one histogram
    // collect picks full admission (cost fits) vs capped admission (cost
    // exceeds). At sf0.001/0.01 the total within-cell cost (~4k) fits
    // 64×500 → full-admission branch; at sf0.1 (~371k vs 320k) the capped
    // branch binds — the driver's SFs gate BOTH branches. The oracle
    // re-derives budget, cap, and admission in SQL; a non-binding budget
    // derives cap = max cell size, so the one capped SQL covers both.
    "d9e_fuzzy_auto" -> ((s, d) =>
      Dedup.fuzzyNearDups(Tables.documents(s, d), "doc_id", "text",
        maxDist = 40, pairsPerDoc = 64L)
        .orderBy("id_1", "id_2")),

    // D5: embedding-cosine near-dup pairs (exact all-pairs, codegen'd cosine)
    "d5_embed_neardup" -> ((s, d) =>
      Dedup.embeddingNearDups(Tables.embeddings(s, d), "vec_id", "embedding", 0.35)
        .orderBy("id_1", "id_2")),

    // D10: SemDeDup — k-means cells (the sim_ivf_trained training,
    // deterministic seeding so the oracle replays it), within-cell
    // cosine >= 0.4 pairs, keep min-id per connected cluster; the
    // paraphrase-level dedup the lexical family cannot see
    "d10_semdedup" -> ((s, d) =>
      Dedup.semDedup(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, k = 8, threshold = 0.4)
        .select("vec_id", "label").orderBy("vec_id")),

    // D10b: the cell-pricing diagnostic (d4c/d9c pattern for the semantic
    // family) — per cell-size stratum: cell count, within-cell pair cost,
    // running total; says whether k fits the corpus BEFORE the quadratic
    // runs (the lever is k, not an admission cap — dense cells are where
    // the duplicates live)
    "d10b_cell_stats" -> ((s, d) =>
      Dedup.semDedupCellStats(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, k = 8).orderBy("cell_size")),

    // D10c: incremental semantic ingest — quantizer trained on the corpus
    // (vec_id % 11 != 0, the d5c split) and FROZEN; batch vectors keep
    // only where no corpus vector in THEIR cell reaches cosine >= 0.4;
    // completes the fifth incremental dedup mode
    "d10c_semdedup_incremental" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Dedup.semDedupIncremental(
        emb.filter(col("vec_id") % 11 === 0), emb.filter(col("vec_id") % 11 =!= 0),
        "vec_id", "embedding", dim = 64, k = 8, threshold = 0.4)
        .select("vec_id", "label").orderBy("vec_id")
    }),

    // D5b: banded-LSH candidates + exact cosine verify — the scale path.
    // Ordinal (WTA-style) sketches: bit = vec[a] > vec[b] on md5-derived
    // index pairs — same collision S-curve as sign-LSH (recall ≈ 0.998 at
    // cosine 0.45 under 32×4 banding; measured in DedupSpec) but ZERO float
    // arithmetic, so the sketch is bit-identical in DuckDB and the whole
    // path is hash-checkable against the oracle.
    // This row PINS the banded (S-curve recall) plan its oracle replays;
    // the public name's d5f/d5g gate (which at 0.45 under 32×4 picks the
    // exact branch) is the d5f/d5g rows
    "d5b_embed_lsh" -> ((s, d) =>
      Dedup.embeddingLshBanded(Tables.embeddings(s, d), "vec_id", "embedding",
        0.45, dim = 64, bands = 32, bitsPerBand = 4, ordinal = true)
        .orderBy("id_1", "id_2")),

    // D5e: the LSH band-bucket diagnostic (j6/d4c pattern) — per band:
    // bucket count, largest bucket, and the candidate evaluations the
    // band contributes. Σ pair_cost vs n(n-1)/2 is the "is LSH actually
    // pruning here" answer BEFORE the join runs (measured: 85% admission
    // at cosine 0.45 on this corpus — the exact blocked path is the right
    // tool at low thresholds; the bands prune properly at ≳0.8)
    "d5e_lsh_band_stats" -> ((s, d) =>
      Similarity.lshBandStats(Tables.embeddings(s, d), "vec_id", "embedding",
        dim = 64, bands = 32, bitsPerBand = 4, ordinal = true)
        .orderBy("band")),

    // D5f: the AUTO plan choice closing the d5e loop — 32×4 banding at
    // cosine 0.45 prices Σ b(b−1)/2 ≈ 2.1 × all-pairs (the bands admit
    // MORE work than brute force), so the operator must take the
    // blocked-exact branch; the oracle re-derives the same integer
    // comparison from the same counts, so the CHOICE is gated, not
    // assumed
    "d5f_embed_auto" -> ((s, d) =>
      Dedup.embeddingNearDupsLSH(Tables.embeddings(s, d), "vec_id", "embedding",
        0.45, dim = 64, bands = 32, bitsPerBand = 4, ordinal = true)
        .orderBy("id_1", "id_2")),

    // D5g: the same auto entry under 16×8 banding — admission ≈ 0.078 of
    // all-pairs (under the 1/10 gate), so the LSH branch must fire; the
    // result is the banded-candidate + exact-verify set (S-curve recall)
    "d5g_embed_auto_lsh" -> ((s, d) =>
      Dedup.embeddingNearDupsLSH(Tables.embeddings(s, d), "vec_id", "embedding",
        0.45, dim = 64, bands = 16, bitsPerBand = 8, ordinal = true)
        .orderBy("id_1", "id_2")),

    // D5c: incremental EMBEDDING near-dup ingest — new vectors (vec_id %
    // 11 = 0) kept only where no corpus vector reaches cosine >= 0.45;
    // ordinal-banded corpus index probed by batch band keys only (the d5b
    // recipe in the cross-corpus shape), exact-cosine verify before the
    // anti join
    // This row PINS the banded-probe plan its oracle replays; the public
    // name's d5h/d5i gate is the d5h/d5i rows
    "d5c_embed_incremental" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Dedup.embeddingIncrementalBanded(
        emb.filter(col("vec_id") % 11 === 0), emb.filter(col("vec_id") % 11 =!= 0),
        "vec_id", "embedding", 0.45, dim = 64, bands = 32, bitsPerBand = 4,
        ordinal = true)
        .select("vec_id", "label").orderBy("vec_id")
    }),

    // D5h: the ingest probe's AUTO plan choice (the d5f gate in cross
    // form) — 32×4 banding prices its cross-admission over the 1/10 gate
    // at every SF (the cosine-0.45 background regime: the probe join
    // would evaluate MORE than batch×corpus), so the bounded-broadcast
    // exact scan must fire; the oracle re-derives the bucket pricing,
    // the gate, and both branch pipelines in SQL
    "d5h_embed_incr_auto" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Dedup.embeddingIncremental(
        emb.filter(col("vec_id") % 11 === 0), emb.filter(col("vec_id") % 11 =!= 0),
        "vec_id", "embedding", 0.45, dim = 64, bands = 32, bitsPerBand = 4,
        ordinal = true)
        .select("vec_id", "label").orderBy("vec_id")
    }),

    // D5i: the same auto entry under 16×8 banding — cross-admission under
    // the gate, so the banded LSH probe must fire (S-curve recall: kept =
    // batch rows with no RECALLED corpus match)
    "d5i_embed_incr_auto_lsh" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Dedup.embeddingIncremental(
        emb.filter(col("vec_id") % 11 === 0), emb.filter(col("vec_id") % 11 =!= 0),
        "vec_id", "embedding", 0.45, dim = 64, bands = 16, bitsPerBand = 8,
        ordinal = true)
        .select("vec_id", "label").orderBy("vec_id")
    }),

    // SIM: brute-force cosine top-k (exact ANN baseline)
    "sim_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // SIM-IVF: IVF-flat approximate top-k — coarse cells (the label
    // column), probe the 3 nearest float-quantized centroids, exact-score
    // only those cells. The second ANN scale path next to LSH.
    "sim_ivf_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        "label", dim = 64, k = 5, probes = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // SIM-IVF with a TRAINED quantizer: deterministic Lloyd k-means builds
    // the cells (md5 seeding → assign → re-center → assign), then the same
    // IVF probe path runs over the trained assignment — the ANN story
    // end-to-end, quantizer included, and every step oracle-checkable.
    "sim_ivf_trained" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      // two consumers inside ivfTopK (the centroid aggregate + the probed
      // cell join's corpus side); persisted (loan) so the trained argmax
      // projection evaluates once — and the plan is identical to
      // d10/d10b's trained assignment, so the family shares one entry
      val withCell = graft.Caches.persistLoaned(
        Similarity.kmeansAssign(emb, "vec_id", "embedding",
          dim = 64, k = 8, iters = 2))
      Similarity.ivfTopK(withCell, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        "cell", dim = 64, k = 5, probes = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // SIM-IVF INDEX REPLAY: sim_ivf_trained from a MATERIALIZED IvfIndex —
    // Lloyd training runs once at build and the (cells, centroids) pair is
    // sharded to parquet; the replay probes the loaded frames (one
    // broadcast centroid ranking + one cell equi-join, no k-means
    // anywhere in the plan — PlanSpec pin). Same oracle as sim_ivf_trained:
    // the centroid relation round-trips parquet bit-exactly.
    "sim_ivf_index_replay" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val srcFile = new java.io.File(s"$d/embeddings.parquet")
      val idxDir = s"${scratchDir(d)}/sim_ivf_index_${stageKey(srcFile, "d64k8i2")}"
      if (!new java.io.File(s"$idxDir/cents/_SUCCESS").exists()) {
        Similarity.writeIvfIndex(
          Similarity.buildIvfIndex(emb, "vec_id", "embedding", dim = 64, k = 8,
            iters = 2),
          idxDir, "vec_id", shards = 4)
      }
      Similarity.ivfTopKFromIndex(Similarity.readIvfIndex(s, idxDir),
        emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, probes = 3)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // SIM-IVF STATS: retrain-trigger telemetry over the materialized index
    // — one row of cell-occupancy stats (max/mean imbalance) a pipeline
    // thresholds to schedule the periodic quantizer rebuild. Shares the
    // staged index with sim_ivf_index_replay; the oracle recomputes the
    // deterministic Lloyd assignment and counts the same cells.
    "sim_ivf_stats" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val srcFile = new java.io.File(s"$d/embeddings.parquet")
      val idxDir = s"${scratchDir(d)}/sim_ivf_index_${stageKey(srcFile, "d64k8i2")}"
      if (!new java.io.File(s"$idxDir/cents/_SUCCESS").exists()) {
        Similarity.writeIvfIndex(
          Similarity.buildIvfIndex(emb, "vec_id", "embedding", dim = 64, k = 8,
            iters = 2),
          idxDir, "vec_id", shards = 4)
      }
      Similarity.ivfIndexStats(s, idxDir)
    }),

    // SIM-IVF-RETRAIN: the diagnostic → derivation → plan ARC for the
    // ANN family (r17 Next #2 — sim_ivf_stats' telemetry now feeds a
    // plan choice, the d4c/e6f discipline): bootstrap the quantizer on
    // the first 16 vectors (the tiny early sample a pipeline trains its
    // day-1 index on), append the other ~30× under the FROZEN centroids
    // (the documented updateIvfIndex regime: appends can never
    // rebalance), read the occupancy imbalance, derive shouldRetrainIvf,
    // and run the triggered rebuild. The arc runs at BOTH row
    // thresholds — the FIRE arm retrains and reports the rebuilt
    // occupancy, the HOLD arm reports the appended occupancy — so the
    // oracle (which re-derives both Lloyd trainings, the argmax append,
    // the occupancy arithmetic, and the CASE-gated branch choice in
    // SQL) hash-verifies BOTH branches of the gate, the d4d pattern
    // with no vacuous arm. The retrained index bit-matches a
    // from-scratch build on the union (SimilaritySpec).
    "sim_ivf_retrain" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val srcFile = new java.io.File(s"$d/embeddings.parquet")
      // the threshold literals are part of the stage key: editing an arm
      // must invalidate the staged decision rows, or a replay reports a
      // stale decision against a regenerated oracle (the stageKey doc's
      // exact failure mode)
      val idxDir = s"${scratchDir(d)}/sim_ivf_retrain_${stageKey(srcFile, s"d64k8i2b16f${SimRetrainFire}h$SimRetrainHold")}"
      if (!new java.io.File(s"$idxDir/_RETRAIN_DONE").exists()) {
        graft.sources.ParquetSink.deleteRecursively(new java.io.File(idxDir))
        Similarity.writeIvfIndex(
          Similarity.buildIvfIndex(emb.filter(col("vec_id") < 16),
            "vec_id", "embedding", dim = 64, k = 8, iters = 2),
          idxDir, "vec_id", shards = 4)
        Similarity.updateIvfIndex(emb.filter(col("vec_id") >= 16)
            .select("vec_id", "embedding"),
          idxDir, "vec_id", "embedding", shards = 4)
        def stats() = Similarity.ivfIndexStats(s, idxDir).head()
        val pre = stats()
        // shouldRetrainIvf's own null discipline, mirrored (r18 ADVICE):
        // a degenerate fixture (no vec_id < 16 rows → empty bootstrap
        // index) reports a NULL imbalance, and the unguarded getDouble
        // would throw an opaque NPE instead of naming the cause
        require(!pre.isNullAt(4),
          s"sim_ivf_retrain: index at $idxDir reports no occupancy " +
            s"imbalance — empty or degenerate bootstrap (no vec_id < 16 " +
            s"rows in $d/embeddings.parquet?)")
        // the verdicts ARE shouldRetrainIvf's arithmetic on the row just
        // collected (spec-pinned equivalence in SimilaritySpec) — deriving
        // them locally avoids two more full cells/ scans per cold stage
        val fire = pre.getDouble(4) > SimRetrainFire
        val hold = pre.getDouble(4) > SimRetrainHold
        if (fire || hold)
          Similarity.retrainIvfIndex(s, idxDir, "vec_id", "embedding",
            dim = 64, k = 8, iters = 2)
        val post = stats()
        // the decision rows persist WITH the staged index: a replay must
        // report the evidence each decision was taken on, not re-measure
        // an index the retrain already rebalanced
        def arm(threshold: Double, fired: Boolean) = {
          val r = if (fired) post else pre
          (threshold, pre.getDouble(4), fired, r.getLong(0), r.getLong(1),
            r.getLong(2), r.getDouble(3), r.getDouble(4))
        }
        Seq(arm(SimRetrainFire, fire), arm(SimRetrainHold, hold))
          .toDF("threshold", "pre_imbalance", "retrained", "cells",
            "vectors", "max_cell", "mean_cell", "imbalance")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$idxDir/decision.parquet")
        new java.io.File(s"$idxDir/_RETRAIN_DONE").createNewFile()
      }
      s.read.parquet(s"$idxDir/decision.parquet").orderBy("threshold")
    }),

    // SIM-IVF-RETRAIN-K: the k DERIVATION oracle-gated (r18 VERDICT #1).
    // sim_ivf_retrain gates WHETHER to rebuild; this row gates WHAT K the
    // rebuild runs at — the round-18 measurement said the same-k rebuild
    // cannot flatten a dense append (1.792 vs derived-k 1.346 at 100×),
    // making deriveIvfK the production lever, so its arithmetic gets the
    // production gate, not just a spec. Per arm (see SimRetrainK*): the
    // bootstrap-append arc, the one-row stats read, deriveIvfK at the
    // arm's target (plus the clamp derivation at maxK = 12), then
    // retrainIvfIndex AT THE DERIVED k. The oracle re-derives the whole
    // thing — ceil, floor-at-cells, clamp — and trains the union rebuild
    // at ITS OWN derived k (a scalar subquery feeds the Lloyd seed
    // filter), so a wrong Spark derivation mismatches twice: on the
    // derived_k column and on every occupancy column of a rebuild sized
    // differently than the data says.
    "sim_ivf_retrain_k" -> ((s, d) => {
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val srcFile = new java.io.File(s"$d/embeddings.parquet")
      val idxDir = s"${scratchDir(d)}/sim_ivf_retrain_k_${stageKey(srcFile,
        s"d64k8i2g${SimRetrainKGrow}f${SimRetrainKFloor}c$SimRetrainKClampMax")}"
      if (!new java.io.File(s"$idxDir/_RETRAIN_K_DONE").exists()) {
        graft.sources.ParquetSink.deleteRecursively(new java.io.File(idxDir))
        def arm(target: Long) = {
          val armDir = s"$idxDir/arm_$target"
          Similarity.writeIvfIndex(
            Similarity.buildIvfIndex(emb.filter(col("vec_id") < 16),
              "vec_id", "embedding", dim = 64, k = 8, iters = 2),
            armDir, "vec_id", shards = 4)
          Similarity.updateIvfIndex(emb.filter(col("vec_id") >= 16)
              .select("vec_id", "embedding"),
            armDir, "vec_id", "embedding", shards = 4)
          val pre = Similarity.ivfIndexStats(s, armDir).head()
          require(!pre.isNullAt(4),
            s"sim_ivf_retrain_k: degenerate bootstrap index at $armDir")
          val vectors = pre.getLong(1)
          // integer-exact ceil, the deriveIvfK arithmetic (the oracle's
          // ceil(vectors/target.0) agrees exactly below 2^53)
          val wantK = (vectors + target - 1) / target
          val derivedK = Similarity.deriveIvfK(s, armDir, targetMeanCell = target)
          val clampK = Similarity.deriveIvfK(s, armDir, targetMeanCell = target,
            maxK = SimRetrainKClampMax)
          Similarity.retrainIvfIndex(s, armDir, "vec_id", "embedding",
            dim = 64, k = derivedK, iters = 2)
          val post = Similarity.ivfIndexStats(s, armDir).head()
          (target, pre.getLong(0), vectors, pre.getDouble(4), wantK,
            derivedK.toLong, clampK.toLong, post.getLong(0), post.getLong(1),
            post.getLong(2), post.getDouble(3), post.getDouble(4))
        }
        Seq(arm(SimRetrainKGrow), arm(SimRetrainKFloor))
          .toDF("target_mean_cell", "pre_cells", "pre_vectors",
            "pre_imbalance", "want_k", "derived_k", "clamp_k", "cells",
            "vectors", "max_cell", "mean_cell", "imbalance")
          .coalesce(1).write.mode("overwrite")
          .parquet(s"$idxDir/decision.parquet")
        new java.io.File(s"$idxDir/_RETRAIN_K_DONE").createNewFile()
      }
      s.read.parquet(s"$idxDir/decision.parquet").orderBy("target_mean_cell")
    }),

    // SIM-PROBE-SQL: the sim_ivf_index_replay probe stated as PURE SQL
    // TEXT (the d2e pattern extended to the ANN index): the staged
    // IvfIndex registers as views (graft_ivf_cells / graft_ivf_cents)
    // and the whole probe — the k-row centroid ranking, the
    // probes-nearest-cells filter, the cell equi-join, exact cosine
    // scoring with the registered graft_cosine kernel, the per-query
    // top-k window — is one SQL statement a front-end user could run
    // against the same materialized index the Scala API probes. Shares
    // the replay row's staged dir (same stage key) and must bit-match it
    // (same oracle). Plan shape matches too: the 8-row cents view
    // broadcasts into the rank, the cells join is an equi-join on cell.
    "sim_probe_sql" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val srcFile = new java.io.File(s"$d/embeddings.parquet")
      val idxDir = s"${scratchDir(d)}/sim_ivf_index_${stageKey(srcFile, "d64k8i2")}"
      if (!new java.io.File(s"$idxDir/cents/_SUCCESS").exists()) {
        Similarity.writeIvfIndex(
          Similarity.buildIvfIndex(emb, "vec_id", "embedding", dim = 64, k = 8,
            iters = 2),
          idxDir, "vec_id", shards = 4)
      }
      Tables.registerAll(s, d)
      val idx = Similarity.readIvfIndex(s, idxDir)
      idx.cells.createOrReplaceTempView("graft_ivf_cells")
      idx.cents.createOrReplaceTempView("graft_ivf_cents")
      s.sql(
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings " +
          "WHERE vec_id < 10), " +
          "cellrank AS (SELECT q.query_id, q.qe, c.cell, row_number() OVER (" +
          "PARTITION BY q.query_id ORDER BY round(graft_cosine(q.qe, c.centroid), 6) DESC, " +
          "c.cell ASC) AS crn FROM q CROSS JOIN graft_ivf_cents c), " +
          "probed AS (SELECT query_id, qe, cell FROM cellrank WHERE crn <= 3), " +
          "scored AS (SELECT p.query_id, e.vec_id AS neighbor_id, " +
          "round(graft_cosine(p.qe, e.embedding), 6) AS cosine " +
          "FROM probed p JOIN graft_ivf_cells e ON e.cell = p.cell " +
          "AND e.vec_id != p.query_id), " +
          "ranked AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (" +
          "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank " +
          "FROM scored) " +
          "SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank " +
          "FROM ranked WHERE rank <= 5 ORDER BY query_id, rank")
    }),

    // SIM-IVF-UPDATE-SQL: the IVF index's UPDATE lifecycle as pure SQL
    // text (the d5j/d2h discipline applied to the ANN family): day-1 =
    // the Scala builder trains the quantizer on the BASE split (%5 != 0)
    // and shards cells + centroids to parquet; day-2 = a SQL-only
    // consumer assigns the new batch (%5 = 0) against the FROZEN
    // centroids — one argmax window over the 8-row cents view, the IVF
    // add() semantics d10c documents (production never retrains per
    // batch) — INSERTs into the external cells table and CTAS-compacts
    // it; the probe is sim_probe_sql's statement over the updated cells.
    // Oracle = from-scratch: deterministic Lloyd on the base split, the
    // batch assigned to the same centroids, top-k over the union.
    // Crash idempotency: one _UPDATED marker gates the WHOLE lifecycle
    // (build included) — a run that died anywhere clears the dir and
    // replays from scratch, so partial inserts can never be re-adopted.
    "sim_ivf_update_sql" -> ((s, d) => {
      Tables.registerAll(s, d)
      val emb = Tables.embeddings(s, d)
      val srcFile = new java.io.File(s"$d/embeddings.parquet")
      val idxDir = s"${scratchDir(d)}/simivf_upd_${stageKey(srcFile, "d64k8i2m5sql")}"
      s.sql("DROP TABLE IF EXISTS graft_ivf_cells_upd")
      val staged = new java.io.File(s"$idxDir/_UPDATED").exists()
      if (!staged) {
        def rm(f: java.io.File): Unit =
          graft.sources.ParquetSink.deleteRecursively(f)
        rm(new java.io.File(idxDir))
        Similarity.writeIvfIndex(
          Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0),
            "vec_id", "embedding", dim = 64, k = 8, iters = 2),
          idxDir, "vec_id", shards = 4)
      }
      // external table over the staged cells (schema inferred from the
      // day-1 files), frozen centroids as a read-only view
      s.sql(s"CREATE TABLE graft_ivf_cells_upd USING parquet LOCATION '$idxDir/cells'")
      s.read.parquet(s"$idxDir/cents").createOrReplaceTempView("graft_ivf_cents_upd")
      if (!staged) {
        s.sql("INSERT INTO graft_ivf_cells_upd " +
          "SELECT vec_id, embedding, cell FROM (" +
          "SELECT e.vec_id, e.embedding, c.cell, row_number() OVER (" +
          "PARTITION BY e.vec_id ORDER BY round(graft_cosine(e.embedding, c.centroid), 6) DESC, " +
          "c.cell ASC) AS rn " +
          "FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0) e " +
          "CROSS JOIN graft_ivf_cents_upd c) WHERE rn = 1")
        s.sql("DROP TABLE IF EXISTS graft_ivf_cells_upd_stage")
        s.sql("CREATE TABLE graft_ivf_cells_upd_stage USING parquet AS " +
          "SELECT /*+ REPARTITION(4) */ vec_id, embedding, cell FROM graft_ivf_cells_upd")
        s.sql("INSERT OVERWRITE graft_ivf_cells_upd " +
          "SELECT vec_id, embedding, cell FROM graft_ivf_cells_upd_stage")
        s.sql("DROP TABLE graft_ivf_cells_upd_stage")
        new java.io.File(s"$idxDir/_UPDATED").createNewFile()
      }
      s.sql(
        "WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings " +
          "WHERE vec_id < 10), " +
          "cellrank AS (SELECT q.query_id, q.qe, c.cell, row_number() OVER (" +
          "PARTITION BY q.query_id ORDER BY round(graft_cosine(q.qe, c.centroid), 6) DESC, " +
          "c.cell ASC) AS crn FROM q CROSS JOIN graft_ivf_cents_upd c), " +
          "probed AS (SELECT query_id, qe, cell FROM cellrank WHERE crn <= 3), " +
          "scored AS (SELECT p.query_id, e.vec_id AS neighbor_id, " +
          "round(graft_cosine(p.qe, e.embedding), 6) AS cosine " +
          "FROM probed p JOIN graft_ivf_cells_upd e ON e.cell = p.cell " +
          "AND e.vec_id != p.query_id), " +
          "ranked AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (" +
          "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank " +
          "FROM scored) " +
          "SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank " +
          "FROM ranked WHERE rank <= 5 ORDER BY query_id, rank")
    }),

    // SIM CLUSTER CAP: cluster-balanced curation (the SemDeDup recipe's
    // outer loop) — train the deterministic Lloyd quantizer, then keep at
    // most k vectors per cell by the engine-portable id-hash quota
    // (s5c's sampler over sim_ivf_trained's clustering). Caps any one
    // semantic region's share of the training set; hash membership makes
    // the kept subset a pure function of (ids, seed, k).
    "sim_cluster_cap" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val assigned = Similarity.kmeansAssign(emb, "vec_id", "embedding",
        dim = 64, k = 8, iters = 2)
      Sampling.quotaSample(
        assigned.select(col("vec_id"), col("cell").cast("long").as("cell")),
        "vec_id", "cell", 40)
        .orderBy("vec_id")
    }),

    // SIM-Q8: int8-quantized exact top-k — vectors packed to one signed
    // byte per coordinate (4× less memory/bandwidth than float32), scored
    // with the exact integer dot product (codegen'd ByteDotProduct): the
    // wide pass of the standard quantize-then-rerank ANN recipe, and fully
    // integer-exact so it hash-checks against the oracle with no rounding
    "sim_q8_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // SIM-Q8-RERANK: the complete quantize-then-rerank recipe — int8 wide
    // pass shortlists 25 candidates per query, exact float cosine rescores
    // only those and cuts to 5
    "sim_q8_rerank" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.quantizedRerankTopK(emb, emb.filter(col("vec_id") < 10),
        "vec_id", "embedding", k = 5, shortlist = 25)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // SIM-LSH: bucketed approximate top-k with 1-bit multiprobe — the ANN
    // scale path. Ordinal sketch buckets (engine-portable, see d5b) make
    // the full candidate+rank pipeline hash-checkable in DuckDB; recall vs
    // the exact sim_topk is additionally asserted in SimilaritySpec.
    "sim_lsh_topk" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
        5, dim = 64, bits = 6, ordinal = true)
        .withColumn("rank", col("rank").cast("long"))
        .orderBy("query_id", "rank")
    }),

    // T1: n-gram-heuristic language ID
    "t1_langid" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))
        .orderBy("doc_id")),

    // T2: heuristic quality score
    "t2_quality" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
        .orderBy("doc_id")),

    // T3: token counting (whitespace + BPE-ish regex)
    "t3_tokens" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Text.wsTokens(col("text")).cast("long").as("ws_tokens"),
          Text.bpeTokens(col("text")).cast("long").as("bpe_tokens"))
        .orderBy("doc_id")),

    // T4: document fingerprint
    "t4_fingerprint" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))
        .orderBy("doc_id")),

    // T8: repetition score — Gopher-style duplicate-token quality signal
    "t8_repetition" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("_w"))
        .select(col("doc_id"),
          Text.repetitionScoreFromWords(col("_w")).as("repetition"))
        .orderBy("doc_id")),

    // T9: PII scrubbing — emails and long digit runs redacted, plus the
    // audit count (C4-style cleaning). Fingerprint of the scrubbed text
    // keeps the output compact while pinning every replacement exactly.
    "t9_pii_scrub" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Text.piiCount(col("text")).as("n_pii"),
          md5(Text.scrubPii(col("text"))).as("scrubbed_md5"))
        .orderBy("doc_id")),

    // T16: per-source term-distribution drift — χ² of each source's
    // unigram counts vs the corpus distribution (full-vocabulary cells)
    "t16_chisq_drift" -> ((s, d) =>
      TermStats.chiSquareDrift(Tables.documents(s, d), "source", "text")
        .orderBy("source")),

    // T17: BM25 relevance of every document against a fixed query term set
    // — the corpus-search primitive (topic slicing, retrieval grading).
    // Integer tf/df/dl inputs + fixed-order term sum; ln is the one libm
    // call (round-4 output, documented ulp caveat as in t16)
    "t17_bm25" -> ((s, d) =>
      TermStats.bm25(Tables.documents(s, d), "doc_id", "text", Bm25Terms)
        .orderBy("doc_id")),

    // H1: hybrid retrieval — BM25 top-20 (t17's terms, zero-score docs
    // excluded) and cosine-to-query top-20 (query = embedding of vec_id 0)
    // fused by reciprocal rank (k0 = 60): only RANKS enter the fused
    // score, so the two scales need no calibration; each list is a
    // TakeOrdered reduction, the fusion runs on ≤ 40 candidate rows
    "h1_hybrid_rrf" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val bm = Retrieval.topKRanked(
        TermStats.bm25(Tables.documents(s, d), "doc_id", "text", Bm25Terms)
          .filter(col("bm25") > 0), "doc_id", "bm25", 20)
      val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("_q"))
      val cosScores = emb.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .select(col("vec_id").as("doc_id"),
          round(Vectors.cosine(col("embedding"), col("_q")), 6).as("cosine"))
      Retrieval.rrfFuse(
        Seq(bm, Retrieval.topKRanked(cosScores, "doc_id", "cosine", 20)),
        "doc_id", k0 = 60, topK = 10)
        .orderBy(col("rrf").desc, col("doc_id"))
    }),

    // T13: Gopher quality rules — the published pre-training gate's seven
    // signals plus the combined pass verdict, all integer-count + one-
    // division arithmetic (engine-identical)
    "t13_gopher" -> ((s, d) => {
      val sig = Text.gopherSignals(col("text"))
      Tables.documents(s, d).select(
        (col("doc_id") +: sig.map { case (n, c) => c.as(n) }) :+
          Text.gopherPass(col("text")).as("pass"): _*)
        .orderBy("doc_id")
    }),

    // T20: the repetition subfamily of the Gopher quality rules (t13 covers
    // the length/symbol/bullet rules) — duplicate-word, top-word and
    // duplicate-trigram fractions, all narrow array expressions over ONE
    // shared words projection (the projection alias keeps tokenization to
    // one pass per row; no shuffle anywhere)
    "t20_repetition" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("ws"))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_words"),
          round(Text.dupWordFrac(col("ws")), 6).as("dup_word_frac"),
          round(Text.topWordFrac(col("ws")), 6).as("top_word_frac"),
          round(Text.dupNgramFrac(col("ws"), 3), 6).as("dup_3gram_frac"))
        .orderBy("doc_id")),

    // CHAIN: the curation SURVIVAL FUNNEL — how much of each source clears
    // the Gopher quality gate, then the repetition cut, then the language
    // cut. ONE corpus pass: every stage predicate is a narrow expression
    // and the monotone stage counts are conditional sums inside a single
    // map-side-combined aggregation (the shape that reports a 100 TB
    // curation run's yield without re-scanning per stage).
    "q_quality_funnel" -> ((s, d) => {
      val ws = split(lower(trim(col("text"))), "\\s+")
      val dupW = round(Text.dupWordFrac(col("ws")), 6)
      val dup3 = round(Text.dupNgramFrac(col("ws"), 3), 6)
      Tables.documents(s, d)
        .select(col("source"), col("text"), ws.as("ws"))
        .select(col("source"),
          Text.gopherPass(col("text")).as("gpass"),
          (dupW <= 0.3 && (dup3.isNull || dup3 <= 0.2)).as("rpass"),
          (Text.langId(col("text")) === "en").as("lpass"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("gpass"), 1L).otherwise(0L)).as("n_quality"),
          sum(when(col("gpass") && col("rpass"), 1L).otherwise(0L)).as("n_low_repetition"),
          sum(when(col("gpass") && col("rpass") && col("lpass"), 1L).otherwise(0L)).as("n_english"))
        .orderBy("source")
    }),

    // M1: multimodal binary payload metadata (oracle-checkable scalars)
    "m1_multimodal_meta" -> ((s, d) =>
      Multimodal.attachPayload(Tables.documents(s, d), "doc_id", "text")
        .select(col("doc_id"), col("media_type"),
          length(col("payload")).cast("long").as("byte_len"),
          sha2(col("payload"), 256).as("sha256"))
        .orderBy("doc_id")),

    // M2: batch decode via mapPartitions. The stub decoder derives metadata
    // from sha256 hex digits (Multimodal.stubDecode), so the whole decode
    // is oracle-checkable in DuckDB. Struct flattened to scalars; ints cast
    // to long to match the oracle's BIGINT arithmetic.
    "m2_multimodal_decode" -> ((s, d) =>
      Multimodal.decodeBatches(s,
        Multimodal.attachPayload(Tables.documents(s, d), "doc_id", "text"), "doc_id")
        .toDF()
        .select(col("doc_id"), col("media_type"), col("byte_len"), col("sha256"),
          col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.n_frames").cast("long").as("n_frames"),
          col("meta.duration_ms").as("duration_ms"))
        .orderBy("doc_id")),

    // M3: uniform temporal frame sampling over video payloads — k evenly-
    // spaced frame indices per clip, one row per sampled frame. The
    // media-type filter runs BEFORE decode: media_type is already on the
    // attachPayload frame, so 2/3 of payloads never reach the decoder.
    "m3_frame_sample" -> ((s, d) => {
      val videos = Multimodal.attachPayload(Tables.documents(s, d), "doc_id", "text")
        .filter(col("media_type") === "video")
      Multimodal.uniformFrameSample(Multimodal.decodeBatches(s, videos, "doc_id").toDF(),
        "doc_id", 8)
        .orderBy("doc_id", "frame_idx")
    }),

    // M4: aspect-preserving fit-to-box resize planning (integer-exact
    // dimension math; stub digest lineage) over decoded visual media
    "m4_resize" -> ((s, d) => {
      val visual = Multimodal.attachPayload(Tables.documents(s, d), "doc_id", "text")
        .filter(col("media_type") =!= "audio")
      Multimodal.resizeToBox(Multimodal.decodeBatches(s, visual, "doc_id").toDF(),
        640, 480)
        .orderBy("doc_id")
    }),

    // M2b: REAL image decode via JDK javax.imageio — deterministic PNG
    // fixtures (ImageIO-encoded; dims and every pixel closed-form in
    // doc_id) pushed through BOTH real decode paths: decodeBatches reads
    // true dimensions off the PNG header, decodeImageBatches sums the
    // raster. The oracle recomputes width/height/pixel-sum from the
    // closed form — a genuine pixel-level decode check, no hash stub
    // anywhere in this row.
    "m2b_image_decode" -> ((s, d) => {
      val ids = Tables.documents(s, d).filter(col("doc_id") < 100)
      val png = Multimodal.encodePngBatches(s, ids, "doc_id")
      val dims = Multimodal.decodeBatches(s, png, "doc_id").toDF()
        .select(col("doc_id"), col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.n_frames").cast("long").as("n_frames"))
      val px = Multimodal.decodeImageBatches(s, png, "doc_id").toDF()
        .select(col("doc_id"), col("px_sum"))
      dims.join(px, "doc_id").orderBy("doc_id")
    }),

    // M4b: REAL pixel resize — PNG fixtures pushed through the
    // nearest-neighbor resampler into a deliberately SMALL box (8x6; the
    // fixtures are up to 31x17, so most rows genuinely rescale, and the
    // extreme strips exercise the >=1 clamp). The oracle recomputes the
    // resampled px_sum from the closed-form source raster and the integer
    // index mapping — the m2b recipe applied to the resized grid; no
    // digest stub anywhere in this row.
    "m4b_resize_pixels" -> ((s, d) => {
      val ids = Tables.documents(s, d).filter(col("doc_id") < 100)
      val png = Multimodal.encodePngBatches(s, ids, "doc_id")
      Multimodal.resizePixelsToBox(s, png, "doc_id", 8, 6).toDF()
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("new_width").cast("long").as("new_width"),
          col("new_height").cast("long").as("new_height"),
          col("px_sum"))
        .orderBy("doc_id")
    }),

    // M2c: REAL audio decode via JDK javax.sound.sampled — deterministic
    // WAV fixtures (AudioSystem-encoded 16-bit PCM; rate/channels/frames
    // and every sample closed-form in doc_id) pushed through BOTH real
    // decode paths: decodeBatches reads the header (channels/sample_rate
    // ride the MediaMeta width/height slots — documented contract),
    // decodeAudioBatches sums the PCM body. The oracle recomputes all
    // fields from the closed form — a genuine sample-level decode check,
    // no hash stub anywhere in this row (the m2b recipe applied to audio).
    "m2c_audio_decode" -> ((s, d) => {
      val ids = Tables.documents(s, d).filter(col("doc_id") < 100)
      val wav = Multimodal.encodeWavBatches(s, ids, "doc_id")
      val meta = Multimodal.decodeBatches(s, wav, "doc_id").toDF()
        .select(col("doc_id"), col("meta.width").cast("long").as("channels"),
          col("meta.height").cast("long").as("sample_rate"),
          col("meta.n_frames").cast("long").as("n_frames"),
          col("meta.duration_ms").as("duration_ms"))
      val pcm = Multimodal.decodeAudioBatches(s, wav, "doc_id").toDF()
        .select(col("doc_id"), col("amp_sum"))
      meta.join(pcm, "doc_id").orderBy("doc_id")
    }),

    // M2d: the m2c recipe over AIFF fixtures — same closed-form signal,
    // BIG-endian PCM container (AudioSystem sniffs the FORM/AIFF header,
    // the sample summer flips byte order): the sniff→decode dispatch
    // generalizes past one format. Oracle = m2c's, verbatim.
    "m2d_aiff_decode" -> ((s, d) => {
      val ids = Tables.documents(s, d).filter(col("doc_id") < 100)
      val aiff = Multimodal.encodeAiffBatches(s, ids, "doc_id")
      val meta = Multimodal.decodeBatches(s, aiff, "doc_id").toDF()
        .select(col("doc_id"), col("meta.width").cast("long").as("channels"),
          col("meta.height").cast("long").as("sample_rate"),
          col("meta.n_frames").cast("long").as("n_frames"),
          col("meta.duration_ms").as("duration_ms"))
      val pcm = Multimodal.decodeAudioBatches(s, aiff, "doc_id").toDF()
        .select(col("doc_id"), col("amp_sum"))
      meta.join(pcm, "doc_id").orderBy("doc_id")
    }),

    // M2g: PCM resample to 12 kHz over the WAV fixture — source rates span
    // 8–15 kHz, so the same run exercises upsampling, downsampling, AND
    // the identity rate (12 kHz sources: frac is always 0, output ==
    // input samples). Exact integer interpolation means the oracle is a
    // closed form over the fixture formula, not an ok-bit.
    "m2g_resample" -> ((s, d) => {
      val ids = Tables.documents(s, d).filter(col("doc_id") < 100)
      val wav = Multimodal.encodeWavBatches(s, ids, "doc_id")
      Multimodal.resampleAudioBatches(s, wav, "doc_id", 12000).toDF()
        .select(col("doc_id"), col("sample_rate").cast("long").as("sample_rate"),
          col("channels").cast("long").as("channels"), col("n_frames"),
          col("duration_ms"), col("amp_sum"))
        .orderBy("doc_id")
    }),

    // M2e: REAL video decode over hand-built UNCOMPRESSED AVI fixtures —
    // the last multimodal stub closed for the codec-free case: the RIFF
    // walker reads avih width/height/frames/duration and sums every
    // '00db' frame chunk's bytes; the oracle recomputes all fields from
    // the closed-form pixel formula (the m2b/m2c recipe applied to video)
    "m2e_video_decode" -> ((s, d) => {
      val ids = Tables.documents(s, d).filter(col("doc_id") < 100)
      val avi = Multimodal.encodeAviBatches(s, ids, "doc_id")
      val meta = Multimodal.decodeBatches(s, avi, "doc_id").toDF()
        .select(col("doc_id"), col("meta.width").cast("long").as("width"),
          col("meta.height").cast("long").as("height"),
          col("meta.n_frames").cast("long").as("n_frames"),
          col("meta.duration_ms").as("duration_ms"))
      val px = Multimodal.decodeVideoBatches(s, avi, "doc_id").toDF()
        .select(col("doc_id"), col("px_sum"))
      meta.join(px, "doc_id").orderBy("doc_id")
    }),

    // M2f: REAL MJPEG video decode — the '00dc' chunks are complete JPEGs
    // which the already-shipped ImageIO decodes, closing the codec stub
    // for the one codec the JDK can handle. JPEG is lossy so px_sum has no
    // closed form; the fixture generator records ground truth by
    // round-tripping each frame at ENCODE time (whole-image decode), and
    // px_ok asserts the independent RIFF-walk + per-chunk decode path
    // reproduces it bit-for-bit. Header fields stay closed-form (m2e's
    // geometry), so the oracle pins them plus px_ok = TRUE.
    "m2f_mjpeg_decode" -> ((s, d) => {
      val ids = Tables.documents(s, d).filter(col("doc_id") < 100)
      val avi = Multimodal.encodeMjpegAviBatches(s, ids, "doc_id")
      val px = Multimodal.decodeVideoBatches(s, avi, "doc_id").toDF()
      px.join(avi.select(col("doc_id"), col("expected_px_sum")), "doc_id")
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_frames"),
          col("duration_ms"),
          (col("px_sum") === col("expected_px_sum")).as("px_ok"))
        .orderBy("doc_id")
    }),

    // M2h: REAL animated-GIF video decode — the second zero-codec video
    // container next to RIFF/AVI, read and written by the JDK's own
    // ImageIO. Palettized gray frames are lossless, so width/height/
    // frames/duration AND the per-frame pixel sum are all closed-form in
    // the id (single channel; the DIB fixture's sum is 3× per pixel)
    "m2h_gif_decode" -> ((s, d) => {
      val ids = Tables.documents(s, d).filter(col("doc_id") < 100)
      val gif = Multimodal.encodeGifBatches(s, ids, "doc_id")
      Multimodal.decodeVideoBatches(s, gif, "doc_id").toDF()
        .select(col("doc_id"), col("width").cast("long").as("width"),
          col("height").cast("long").as("height"), col("n_frames"),
          col("duration_ms"), col("px_sum"))
        .orderBy("doc_id")
    }),

    // V1: per-label embedding centroids (class prototypes) — map-side
    // partial aggregation of per-coordinate means, long-format output
    "v1_label_centroids" -> ((s, d) =>
      Similarity.labelCentroids(Tables.embeddings(s, d), "label", "embedding", 64)
        .orderBy("label", "dim_idx")),

    // V2: L2-normalize embeddings to unit vectors (dot ≡ cosine prep) —
    // narrow per-row arithmetic; long format + round(6) + (-0.0 → +0.0)
    // for the oracle hash, as in v1
    "v2_l2norm" -> ((s, d) =>
      Similarity.l2Normalize(Tables.embeddings(s, d), "embedding", "unit")
        .select(col("vec_id"), posexplode(col("unit")))
        .select(col("vec_id"), col("pos").cast("long").as("dim_idx"),
          (round(col("col"), 6) + lit(0.0)).as("unit_val"))
        .orderBy("vec_id", "dim_idx")),

    // V3: nearest-centroid assignment — the centroid classifier's
    // application step: label every vector with its closest label
    // centroid (the v1 model in its float-quantized vector form)
    "v3_nearest_centroid" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      Similarity.assignNearestCentroid(emb, "vec_id", "embedding",
        Similarity.labelCentroidVectors(emb, "label", "embedding", 64))
        .orderBy("vec_id")
    }),

    // J3: as-of join — for each purchase, the latest preceding click by
    // that user (union-merge formulation, one shuffle)
    "j3_asof_join" -> ((s, d) => {
      val purchases = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      val clicks = Tables.events(s, d).filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      Joins.asofJoin(purchases, clicks, ("user_id", "user_id"), ("ts_us", "ts_us"),
        tiebreak = Some("event_id"))
        .select("event_id", "user_id", "ts_us", "r_event_id", "r_ts_us")
        .orderBy("event_id")
    }),

    // J3b: the skew-hardened two-pass as-of join — same semantics, heavy
    // pass partitioned on (key, hour-bucket) so a hot key cannot serialize
    // one task; must reproduce j3 exactly (same oracle SQL)
    "j3b_asof_bucketed" -> ((s, d) => {
      val purchases = Tables.events(s, d).filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts_us")
      val clicks = Tables.events(s, d).filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts_us")
      Joins.asofJoinBucketed(purchases, clicks, ("user_id", "user_id"), ("ts_us", "ts_us"),
        width = 3600000000L, tiebreak = Some("event_id"))
        .select("event_id", "user_id", "ts_us", "r_event_id", "r_ts_us")
        .orderBy("event_id")
    }),

    // J4: range join — assign each error event to its containing session
    // (bucketized interval blocking; inner semantics)
    "j4_range_join" -> ((s, d) => {
      val errors = Tables.events(s, d).filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts_us")
      val sessions = StreamOps.sessionize(Tables.events(s, d), 1800000000L)
        .select(col("user_id"), col("session_id"),
          col("session_start_us"), col("session_end_us"))
      Joins.rangeJoin(errors, sessions, ("user_id", "user_id"), "ts_us",
        "session_start_us", "session_end_us", width = 3600000000L)
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("r_session_id").as("session_id"))
        .orderBy("event_id")
    }),

    // S5: reproducible hash-based sampling (engine-portable, retry-safe)
    "s5_sample" -> ((s, d) =>
      Sampling.deterministicSample(Tables.documents(s, d), "doc_id", 0.1)
        .select("doc_id").orderBy("doc_id")),

    // S5b: stratified per-language sampling — corpus balancing with
    // per-stratum keep fractions (strata absent from the map are dropped)
    "s5b_stratified" -> ((s, d) =>
      Sampling.stratifiedSample(Tables.documents(s, d), "doc_id", "lang",
        Map("en" -> 0.5, "de" -> 0.25, "fr" -> 1.0))
        .select("doc_id", "lang").orderBy("doc_id")),

    // S5c: fixed-size per-language quota (k smallest id-hashes per group)
    "s5c_quota" -> ((s, d) =>
      Sampling.quotaSample(Tables.documents(s, d), "doc_id", "lang", 20)
        .select("doc_id", "lang").orderBy("doc_id")),

    // D6b: canonical-keep — the corpus minus every near-dup cluster member
    // that is not its cluster's minimum id (the end-to-end dedup output)
    "d6b_keep_canonical" -> ((s, d) =>
      Dedup.keepCanonical(Tables.documents(s, d), "doc_id", d6SharedPairs(s, d))
        .select("doc_id", "n_chars").orderBy("doc_id")),

    // D6d: the QUALITY keep rule — same pair relation as d6b, but each
    // cluster keeps its LONGEST member (n_chars, ties → min doc_id): the
    // keep-best-exemplar rule production dedup ships, vs d6b's
    // keep-first-crawled
    "d6d_keep_best" -> ((s, d) =>
      Dedup.keepBest(Tables.documents(s, d), "doc_id", d6SharedPairs(s, d),
        "n_chars")
        .select("doc_id", "n_chars").orderBy("doc_id")),

    // T7: vocabulary build — token histogram, deterministic top-100
    "t7_vocab" -> ((s, d) =>
      Tables.documents(s, d)
        .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
        .groupBy("token").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("token").asc)
        .limit(100)),

    // T10: per-document distinctive terms — tf/df scoring (tf-idf with an
    // engine-exact 1/df weight), the first cross-document text score
    "t10_distinctive" -> ((s, d) =>
      TermStats.distinctiveTerms(Tables.documents(s, d), "doc_id", "text", 3)
        .orderBy("doc_id", "rank")),

    // A20: top-N rows per group — the argmax surface generalized to n,
    // map-side-pruned via Spark's WindowGroupLimit (PlanSpec-pinned)
    "a20_top_per_group" -> ((s, d) =>
      Analytics.topNPerGroup(Tables.orders(s, d), Seq("o_orderpriority"),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
        .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")
        .orderBy("o_orderpriority", "rank")),

    // T12: corpus bigram counts — the classic n-gram LM statistics table,
    // top-100 by frequency (occurrences, not distinct-per-doc)
    "t12_bigram_counts" -> ((s, d) =>
      TermStats.ngramCounts(Tables.documents(s, d), "text", 2, 100)),

    // T25: PMI collocations — top adjacent-pair pointwise mutual
    // information at a min-count cutoff (phrase mining / tokenizer prep)
    "t25_pmi_collocations" -> ((s, d) =>
      TermStats.pmiCollocations(Tables.documents(s, d), "text", minCount = 5,
        topN = 50)),

    // T26: CCNet-style quality buckets — head/middle/tail by exact
    // corpus quartiles of the t11 LM score
    "t26_quality_buckets" -> ((s, d) =>
      TermStats.qualityBuckets(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // T27: heavy hitters with BOUNDED state — the frequent-items sketch
    // (fixed maxMapSize entries per partial, one image per partition
    // across the exchange) gated e8d-style: every token whose exact count
    // exceeds the sketch's a-priori ε·N must be returned with its bounds
    // bracketing the exact count (the published no-false-negatives
    // guarantee — deterministic TRUE under any stream order)
    "t27_heavy_hitters" -> ((s, d) =>
      TermStats.heavyHittersGate(Tables.documents(s, d), "text", 1024)
        .orderBy("token")),

    // T27c: the t27 gate as PURE SQL TEXT — the registered
    // graft_freq_sketch aggregate + graft_freq_items decode (the s5l/x12c
    // lift applied to the sketch family); same oracle relation as t27
    "t27c_heavy_hitters_sql" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        "WITH tok AS (SELECT explode(split(lower(trim(text)), '\\\\s+')) AS token " +
          "FROM documents), " +
          "sk AS (SELECT graft_freq_sketch(token, 1024) AS s FROM tok), " +
          "it AS (SELECT inline(graft_freq_items(s)) FROM sk), " +
          "n AS (SELECT CAST(count(*) AS DOUBLE) AS N FROM tok), " +
          "e AS (SELECT token, count(*) AS n_exact FROM tok GROUP BY token) " +
          "SELECT e.token, e.n_exact, " +
          "(it.estimate IS NOT NULL AND it.lower <= e.n_exact AND e.n_exact <= it.upper) AS within_tol " +
          "FROM e CROSS JOIN n LEFT JOIN it ON e.token = it.token " +
          "WHERE e.n_exact > 0.00341796875 * n.N ORDER BY e.token")
    }),

    // T27b: the heavy-hitter STATE LIFECYCLE (x10b/x10c applied to the
    // frequency question) — day-1 builds 3 of 4 shard images to parquet,
    // day-2 delta-appends the 4th shard's image rows, merge-on-read folds
    // every image with the sketch's own union; the merged state must
    // satisfy the t27 guarantee over the FULL corpus
    "t27b_heavy_hitter_state" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val stateDir = s"${scratchDir(d)}/t27b_hh_state_${stageKey(srcFile, "m1024s4")}"
      if (!new java.io.File(s"$stateDir/_UPDATED").exists()) {
        TermStats.buildHeavyHitterShardStates(
          docs.filter(pmod(col("doc_id"), lit(4)) =!= 3), "doc_id", "text",
          maxMapSize = 1024, shards = 4)
          .write.mode("overwrite").parquet(s"$stateDir/states")
        TermStats.buildHeavyHitterShardStates(
          docs.filter(pmod(col("doc_id"), lit(4)) === 3), "doc_id", "text",
          maxMapSize = 1024, shards = 4)
          .write.mode("append").parquet(s"$stateDir/states")
        new java.io.File(s"$stateDir/_UPDATED").createNewFile()
      }
      TermStats.heavyHittersGateFrom(
        TermStats.mergedHeavyHitters(s.read.parquet(s"$stateDir/states"), 1024),
        docs, "text", 1024)
        .orderBy("token")
    }),

    // T18: cross-document repeated-span coverage — the duplicate-n-gram
    // fraction gate (boilerplate/templated spam that doc-level dedup and
    // within-doc repetition both miss): tokens covered by 5-token windows
    // appearing verbatim in >= 2 distinct documents, exact merged-interval
    // coverage, all integer arithmetic
    "t18_dup_spans" -> ((s, d) =>
      TermStats.duplicateSpanCoverage(Tables.documents(s, d), "doc_id", "text", w = 5)
        .orderBy("doc_id")),

    // T19: span scrubbing — the transform t18 measures: remove every token
    // covered by a cross-doc duplicated 5-token window, md5-pin the
    // scrubbed text (survivors in original order); fully-duplicated docs
    // keep 0 tokens but keep their row
    "t19_span_scrub" -> ((s, d) =>
      TermStats.scrubDuplicateSpans(Tables.documents(s, d), "doc_id", "text", w = 5)
        .orderBy("doc_id")),

    // T11: unigram-LM corpus-frequency score (CCNet-style head/middle/tail
    // quality bucketing proxy) — integer-exact mean token frequency
    "t11_unigram_lm" -> ((s, d) =>
      TermStats.unigramLmScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // T22: bigram fluency — per-doc mean corpus frequency of its adjacent
    // token pairs (order-sensitive: scrambled text scores low even when
    // its words are common); <2-token docs → null
    "t22_bigram_lm" -> ((s, d) =>
      TermStats.bigramLmScore(Tables.documents(s, d), "doc_id", "text")
        .orderBy("doc_id")),

    // T23: hashed-feature linear quality score (fasttext-filter shape) —
    // token → md5 bucket → weight-vector fold, all per-row narrow
    // arithmetic: applying the model to 100 TB is a zero-shuffle map
    "t23_linear_quality" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          Text.hashedLinearScore(col("text")).as("lin_score"))
        .select(col("doc_id"), col("lin_score"),
          (col("lin_score") >= 0).as("keep"))
        .orderBy("doc_id")),

    // X3: fixed-width histogram — the range/skew profiling pass
    "x3_histogram" -> ((s, d) =>
      Analytics.histogram(Tables.orders(s, d), "o_totalprice", 0.0, 50000.0, 12)
        .orderBy("bin")),

    // X4: per-column null/distinct profile — first contact with a table
    "x4_profile" -> ((s, d) =>
      Analytics.profile(Tables.customer(s, d),
        Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_nationkey"))
        .orderBy("col_name")),

    // X5: numeric describe — count/mean/std/min/max per column, one pass
    "x5_describe" -> ((s, d) =>
      Analytics.describe(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount"))
        .orderBy("col_name")),

    // A21: per-customer running spend — cumulative sum in declared order
    // (date, then orderkey tiebreak), rows framing so the double-summation
    // order is fixed and engine-identical
    "a21_running_total" -> ((s, d) =>
      Analytics.runningTotal(
        Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
        Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"), "o_totalprice")
        .select(col("o_custkey"), col("o_orderkey"),
          round(col("running_total"), 2).as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")),

    // T15: document chunking — 120-char windows with 20-char overlap;
    // md5 of each chunk keeps the row compact while pinning content exactly
    "t15_chunking" -> ((s, d) =>
      Chunking.chunkByChars(Tables.documents(s, d), "doc_id", "text", 120, 20)
        .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
          col("chunk_chars"), md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    // T15b: token-budget chunking — 40-token windows, 8-token overlap
    // (stride 32); the context-window form of t15
    "t15b_chunk_tokens" -> ((s, d) =>
      Chunking.chunkByTokens(Tables.documents(s, d), "doc_id", "text", 40, 8)
        .select(col("doc_id"), col("chunk_id"), col("tok_start"), col("n_tokens"),
          md5(col("chunk")).as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")),

    // X6: z-score standardization — one moments pass broadcast back onto
    // a narrow projection; round-4 moments = the cross-engine bit-stable
    // recipe (see standardize's roundMoments doc)
    "x6_zscore" -> ((s, d) =>
      Analytics.standardize(
        Tables.lineitem(s, d).select("l_orderkey", "l_linenumber",
          "l_quantity", "l_extendedprice"),
        Seq("l_quantity", "l_extendedprice"), roundMoments = Some(4))
        .select(col("l_orderkey"), col("l_linenumber"),
          (round(col("l_quantity_z"), 4) + lit(0.0)).as("qty_z"),
          (round(col("l_extendedprice_z"), 4) + lit(0.0)).as("price_z"))
        .orderBy("l_orderkey", "l_linenumber")),

    // X6b: z-score WITHIN groups — grouped moments broadcast back on the
    // key; same round-4 engine-portable recipe
    "x6b_zscore_by" -> ((s, d) =>
      Analytics.standardizeBy(
        Tables.lineitem(s, d).select("l_orderkey", "l_linenumber",
          "l_returnflag", "l_quantity"),
        Seq("l_returnflag"), Seq("l_quantity"), roundMoments = Some(4))
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          (round(col("l_quantity_z"), 4) + lit(0.0)).as("qty_z"))
        .orderBy("l_orderkey", "l_linenumber")),

    // X7: pairwise correlation matrix, all cells in one aggregate pass
    "x7_corr_matrix" -> ((s, d) =>
      Analytics.corrMatrix(Tables.lineitem(s, d),
        Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
        .orderBy("col_1", "col_2")),

    // X8: snapshot diff — the incremental-reprocessing delta. Two derived
    // snapshots of documents (yesterday: no %10 ids, ' v1' texts on %7;
    // today: no %13 ids, texts as-is) diff to added/removed/changed rows
    // only; unchanged rows never leave the join
    "x8_snapshot_diff" -> ((s, d) => {
      val (oldSnap, newSnap) = x8Snapshots(s, d)
      Ops.snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text"))
        .orderBy("doc_id")
    }),

    // X8c: the diff→apply round trip — yesterday's snapshot + the delta
    // (snapshotDiff joined back to today's content for added/changed keys)
    // must reconstruct today's snapshot EXACTLY; the oracle is today's
    // snapshot itself, so any key lost or duplicated by the apply fails
    // the hash
    "x8c_apply_changeset" -> ((s, d) => {
      val (oldSnap, newSnap) = x8Snapshots(s, d)
      val diff = Ops.snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text"))
      val changes = diff.join(newSnap, Seq("doc_id"), "left")
        .select(col("doc_id"), col("change"), col("text"))
      Ops.applyChangeset(oldSnap, changes, "doc_id")
        .orderBy("doc_id")
    }),

    // E9 STREAMING, driver-gated via batch replay: predicate ROUTING to
    // two parquet sinks in one foreachBatch pass — the accept/quarantine
    // fork of a streaming ingest (failures reviewable, never dropped).
    // Dirs keyed by source identity; the replay happens once, repeat
    // calls read the routed sinks (parquet appends are not idempotent
    // across replays)
    "e9_stream_route" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val key = stageKey(srcFile, "nchars300")
      val stageDir = s"${scratchDir(d)}/e9_docs_$key"
      if (!new java.io.File(s"$stageDir/_SUCCESS").exists()) {
        docs.select("doc_id", "text", "n_chars")
          .coalesce(4).write.mode("overwrite").parquet(stageDir)
      }
      val routeBase = s"${scratchDir(d)}/e9_route_$key"
      val marker = new java.io.File(s"$routeBase/_ROUTED")
      if (!marker.exists()) {
        // rerun safety: a prior run that died after some foreachBatch
        // appends but before the marker would otherwise replay into the
        // SAME checkpoint+sink trio and duplicate rows (parquet appends
        // are at-least-once across replays) — absent marker means the trio
        // is unfinished, so always restart it from empty
        graft.sources.ParquetSink.deleteRecursively(new java.io.File(routeBase))
        val schema = s.read.parquet(stageDir).schema
        val src = s.readStream.schema(schema).parquet(stageDir)
        StreamOps.routeToSinks(src, col("n_chars") >= 300,
          s"$routeBase/pass", s"$routeBase/fail", s"$routeBase/ckpt")
        marker.createNewFile()
      }
      s.read.parquet(s"$routeBase/pass")
        .select(col("doc_id"), lit("pass").as("route"))
        .unionByName(s.read.parquet(s"$routeBase/fail")
          .select(col("doc_id"), lit("fail").as("route")))
        .orderBy("doc_id")
    }),

    // T24: pre-tokenization text normalization — NFC (native codegen'd
    // Expression over the JDK Normalizer) → control chars to spaces →
    // lowercase → whitespace collapse → trim, one narrow projection
    "t24_normalize" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          graft.functions.TextNorm.normalizeText(col("text")).as("norm_text"))
        .orderBy("doc_id")),

    // X11: MAD robust outlier scores — the curation outlier gate that a
    // single wild value can't blind (classical z inflates its own
    // denominator); round(4)+0.0 for the cross-engine hash
    "x11_mad_outliers" -> ((s, d) =>
      Analytics.madScores(Tables.lineitem(s, d)
          .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
          Seq("l_returnflag"), "l_quantity")
        .select(col("l_orderkey"), col("l_linenumber"),
          (round(col("mad_z"), 4) + lit(0.0)).as("mad_z"))
        .orderBy("l_orderkey", "l_linenumber")),

    // X12: semi-structured extraction — lift a typed field out of the
    // events JSON props blob with an EXPLICIT schema (from_json, narrow,
    // no inference job) and aggregate it; count(k) vs count(*) is the
    // parse-success census the PERMISSIVE contract makes meaningful
    "x12_json_extract" -> ((s, d) =>
      SemiStructured.extractJson(
          Tables.events(s, d).select("event_type", "props"),
          "props", StructType(Seq(StructField("k", LongType))))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"), count(col("k")).as("n_k"),
          sum("k").as("sum_k"), min("k").as("min_k"), max("k").as("max_k"))
        .orderBy("event_type")),

    // X12b: nested/array JSON round-trip — to_json packs a struct with an
    // ARRAY field, extractJson lifts it back against the declared nested
    // schema; the oracle recomputes the fields straight from the table, so
    // serialize→parse must be lossless for strings and string arrays
    "x12b_json_nested" -> ((s, d) => {
      val packed = Tables.documents(s, d)
        .select(col("doc_id"),
          to_json(struct(col("lang"),
            split(trim(col("text")), "\\s+").as("words"))).as("blob"))
      SemiStructured.extractJson(packed, "blob", StructType(Seq(
          StructField("lang", StringType),
          StructField("words", ArrayType(StringType)))))
        .select(col("doc_id"), col("lang"),
          size(col("words")).cast("long").as("n_words"))
        .orderBy("doc_id")
    }),

    // X9: single-pass data-quality expectations — the ingest gate. Five
    // rules (three row predicates, two uniqueness checks) fold into ONE
    // corpus aggregate; violations include null-predicate rows (3VL-safe)
    "x9_expectations" -> ((s, d) =>
      Ops.expectations(Tables.documents(s, d),
        Seq(
          "text_not_null" -> col("text").isNotNull,
          "min_50_chars" -> (length(col("text")) >= 50),
          "doc_id_nonneg" -> (col("doc_id") >= 0)),
        uniqueCols = Seq("doc_id", "lang"))
        .orderBy("rule")),

    // X10: incremental aggregate maintenance — yesterday's state + today's
    // delta state merged must equal the full recompute. Lineitem split
    // into two disjoint batches by l_orderkey % 3; the merged+finalized
    // state is compared to DuckDB's direct GROUP BY over the whole table.
    // Decimal state sums make the merge order-independent (bit-exact).
    "x10_incremental_agg" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val batchA = li.where(col("l_orderkey") % 3 =!= 0)
      val batchB = li.where(col("l_orderkey") % 3 === 0)
      val keys = Seq("l_returnflag")
      val merged = Agg.mergeAggState(
        Seq(Agg.buildAggState(batchA, keys, "l_quantity"),
          Agg.buildAggState(batchB, keys, "l_quantity")), keys)
      Agg.finalizeAggState(merged, keys)
        .select(col("l_returnflag"), col("n"),
          (round(col("sum"), 2) + lit(0.0)).as("sum_qty"),
          col("min").as("min_qty"), col("max").as("max_qty"),
          col("avg").as("avg_qty"))
        .orderBy("l_returnflag")
    }),

    // X10b: the agg-state LIFECYCLE — day-1 state sharded to parquet,
    // day-2 batch delta-appended, COMPACTED (pre-merged to one row per
    // key), then merge-on-read + finalize must equal the direct GROUP BY
    // over both days (x10's oracle verbatim)
    "x10b_agg_state_lifecycle" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val keys = Seq("l_returnflag")
      val srcFile = new java.io.File(s"$d/lineitem.parquet")
      val stateDir = s"${scratchDir(d)}/x10b_agg_state_${stageKey(srcFile, "mod3qty")}"
      if (!new java.io.File(s"$stateDir/_UPDATED").exists()) {
        ParquetSink.writeSharded(
          Agg.buildAggState(li.where(col("l_orderkey") % 3 =!= 0), keys, "l_quantity"),
          stateDir, keys.head, shards = 2)
        Agg.updateAggState(li.where(col("l_orderkey") % 3 === 0),
          stateDir, keys, "l_quantity", shards = 2)
        Agg.compactAggState(s, stateDir, keys, shards = 2)
        new java.io.File(s"$stateDir/_UPDATED").createNewFile()
      }
      Agg.finalizeAggState(Agg.readAggState(s, stateDir, keys), keys)
        .select(col("l_returnflag"), col("n"),
          (round(col("sum"), 2) + lit(0.0)).as("sum_qty"),
          col("min").as("min_qty"), col("max").as("max_qty"),
          col("avg").as("avg_qty"))
        .orderBy("l_returnflag")
    }),

    // X10c: mergeable approx-distinct sketch state — three "daily"
    // batches build per-key HLL sketches, the union folds them
    // (register-wise max — associative, so the merged state IS the
    // whole-corpus sketch), and the estimate hard-gates against the
    // exact distinct count with the e8d tolerance pattern (3·rsd + an
    // absolute floor; rsd = 1.04/√2^12 ≈ 1.6% at the default lgK)
    "x10c_distinct_sketch_state" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val keys = Seq("l_returnflag")
      val batches = Seq(0, 1, 2).map(r =>
        Agg.buildDistinctSketchState(li.filter(pmod(col("l_orderkey"), lit(3)) === r),
          keys, "l_orderkey"))
      val est = Agg.estimateDistinctState(
        Agg.mergeDistinctSketchState(batches, keys), keys)
      val rsd = 1.04 / math.sqrt(1 << 12)
      est.join(li.groupBy("l_returnflag")
          .agg(count_distinct(col("l_orderkey")).as("n_exact")), "l_returnflag")
        .select(col("l_returnflag"), col("n_exact"),
          (abs(col("approx_distinct") - col("n_exact"))
            <= greatest(lit(3 * rsd) * col("n_exact"), lit(4.0))).as("within_tol"))
        .orderBy("l_returnflag")
    }),

    // X8b: the same diff over CATALOG-BUCKETED snapshots — the
    // exchange-free form for repeatedly-diffed corpora. Both snapshots are
    // staged once per session as bucketed tables
    // (ParquetSink.writeBucketedTable, hash(doc_id) into 8 buckets); the
    // full-outer then plans as scan+merge with ZERO shuffle (PlanSpec pins
    // it) and must bit-match x8's relation.
    "x8b_snapshot_diff_bucketed" -> ((s, d) => {
      val (oldT, newT) = x8bBucketed(s, d)
      Ops.snapshotDiff(oldT, newT, "doc_id", Seq("text"))
        .orderBy("doc_id")
    }),

    // S5e: deterministic train/val/test split — hash-banded, so no row can
    // migrate between bands across runs/engines/retries
    "s5e_split" -> ((s, d) =>
      Sampling.datasetSplit(Tables.documents(s, d), "doc_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "split").orderBy("doc_id")),

    // S5j: LEAKAGE-SAFE dataset split — the split coin is tossed on the
    // near-dup CLUSTER (d6 connected component, canonical = min id), not
    // the document, so a train/test boundary can never separate two
    // near-duplicates — the contamination an id-keyed split silently
    // allows. Singleton docs (no pair) group as themselves.
    "s5j_group_split" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val labels = Dedup.connectedComponents(
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.1))
        .withColumnRenamed("id", "doc_id")
      val grouped = docs.select("doc_id")
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("group_id"))
      Sampling.datasetSplit(grouped, "group_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "group_id", "split").orderBy("doc_id")
    }),

    // S5j2: s5j's PRODUCTION form (VERDICT r11 #2) — the same leakage-safe
    // group split, but the near-dup pair set comes from the MATERIALIZED
    // MinHash index (d2c's staging pattern: build+shard once, keyed on the
    // source file identity; replays scan ONLY the index): components over
    // minhashNearDupPairsFromIndex, then the identical group-keyed coin.
    // At 100 TB the split job stops riding a full exact-pairs pipeline
    // over raw text — it reads the ~1% index, never the corpus. Trigram
    // j >= 0.5 pairs (the d2 family's regime; banding recall gated there)
    "s5j2_group_split_indexed" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val idxDir =
        s"${scratchDir(d)}/s5j2_minhash_index_${stageKey(srcFile, "full_n3b32r2")}"
      if (!new java.io.File(s"$idxDir/bands/_SUCCESS").exists()) {
        Dedup.writeMinhashIndex(
          Dedup.buildMinhashIndex(docs, "doc_id", "text"), idxDir, "doc_id", shards = 4)
      }
      val pairs = Dedup.minhashNearDupPairsFromIndex(
        Dedup.readMinhashIndex(s, idxDir), "doc_id", threshold = 0.5)
      val labels = Dedup.connectedComponents(pairs)
        .withColumnRenamed("id", "doc_id")
      val grouped = docs.select("doc_id")
        .join(labels, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("component"), col("doc_id")).as("group_id"))
      Sampling.datasetSplit(grouped, "group_id",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select("doc_id", "group_id", "split").orderBy("doc_id")
    }),

    // S5k: per-source token budgets — the best-scored prefix of EACH
    // source until that source's budget fills (fixed budgets so the
    // oracle carries the same literals; src3 absent → dropped)
    "s5k_group_token_budget" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          col("n_chars").cast("double").as("score"),
          Text.bpeTokens(col("text")).cast("long").as("n_tokens"))
      Sampling.tokenBudgetSelectPerGroup(toks, "doc_id", "source",
        "score", "n_tokens", Map("src0" -> 40000L, "src1" -> 25000L, "src2" -> 10000L))
        .select("doc_id", "source", "score", "n_tokens")
        .orderBy("doc_id")
    }),

    // S5l: the s5k relation stated as PURE SQL TEXT on the registered
    // views, tokenized by the REGISTERED graft_bpe_tokens function
    // (VERDICT r11 #7): proves a SQL-only front-end user can run the
    // per-group token-budget curation cut — same literals, same greedy
    // window — without touching the Scala API. Catalyst plans the same
    // keyed exchange + sorted window as the operator form.
    "s5l_sql_token_budget" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        "WITH toks AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score, " +
          "CAST(graft_bpe_tokens(text) AS BIGINT) AS n_tokens FROM documents), " +
          "sel AS (SELECT doc_id, source, score, n_tokens, " +
          "sum(n_tokens) OVER (PARTITION BY source ORDER BY score DESC, doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM toks) " +
          "SELECT doc_id, source, score, n_tokens FROM sel " +
          "WHERE cum <= CASE source WHEN 'src0' THEN 40000 WHEN 'src1' THEN 25000 " +
          "WHEN 'src2' THEN 10000 ELSE -1 END " +
          "ORDER BY doc_id")
    }),

    // X12c: the x12 JSON lift as PURE SQL TEXT — from_json with a DDL
    // schema string on the events view (the SQL spelling of extractJson's
    // declared-schema contract; same PERMISSIVE null-on-malformed)
    "x12c_json_sql" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        "SELECT event_type, count(*) AS n_events, count(k) AS n_k, " +
          "sum(k) AS sum_k, min(k) AS min_k, max(k) AS max_k " +
          "FROM (SELECT event_type, from_json(props, 'k BIGINT').k AS k FROM events) " +
          "GROUP BY event_type ORDER BY event_type")
    }),

    // S5n: deterministic fixed-size sample — exactly k rows, the k
    // smallest id-hashes (stable eval-set selection; TakeOrderedAndProject
    // plan, never a global sort)
    "s5n_fixed_sample" -> ((s, d) =>
      Sampling.fixedSample(Tables.documents(s, d), "doc_id", k = 100)
        .select("doc_id", "source").orderBy("doc_id")),

    // S5o: deterministic EPOCH REPLICATION — fractional per-source repeat
    // factors (the upsampling half of a mixing recipe): 2.5× exercises
    // whole+fractional, 1.0× the identity, 0.25× pure-fractional; the
    // oracle re-derives the coin arithmetic and the epoch fan-out
    "s5o_epoch_replicate" -> ((s, d) =>
      Sampling.epochReplicate(Tables.documents(s, d), "doc_id", "source",
        Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25))
        .select("doc_id", "source", "epoch").orderBy("doc_id", "epoch")),

    // X13: cross-source duplicate overlap matrix — distinct shared
    // fingerprints per source pair (diagonal = per-source distinct count);
    // the pre-weighting triage view of a mixing recipe
    "x13_source_overlap" -> ((s, d) =>
      Dedup.sourceOverlapMatrix(Tables.documents(s, d), "text", "source")
        .orderBy("src_a", "src_b")),

    // X14: the dataset card in one query — per-source docs/tokens/chars/
    // distinct fingerprints + exact-dup fraction, one corpus pass, no
    // float summation (the single double is one division of exact longs)
    "x14_corpus_report" -> ((s, d) =>
      Analytics.corpusReport(Tables.documents(s, d), "text", "source")
        .orderBy("source")),

    // S5m: TEMPERATURE-scaled mixture — shares ∝ (n_g/N)^(1/T), T = 2
    // (the multilingual up-weight-the-tail rule). The fixture's sources
    // are uniform (temperature of a flat distribution is the identity),
    // so the row first SKEWS them deterministically — keep a doc iff
    // doc_id % (1 + srcnum % 4) = 0, giving group sizes n, n/2, n/3, n/4
    // — and then the sqrt flattening must downsample the large groups
    // toward the tail (the smallest group is share-limiting and keeps
    // everything). Oracle re-derives the skew, the shares
    // (round(pow, 9)), and the mixture coin arithmetic.
    "s5m_temperature_mixture" -> ((s, d) =>
      Sampling.temperatureSample(
        Tables.documents(s, d).filter(
          pmod(col("doc_id"),
            lit(1) + pmod(expr("CAST(substring(source, 4) AS INT)"), lit(4))) === 0),
        "doc_id", "source", temperature = 2.0)
        .select("doc_id", "source").orderBy("doc_id")),

    // S5p: the mixing-recipe SOLVER — per-source temperature shares, the
    // budget split, and the repeat factors that realize it (the missing
    // middle between x13's overlap pricing and s5o's replication). All
    // integer arithmetic except two single IEEE divisions; the oracle
    // re-derives every column including the 38-digit budget split
    "s5p_mixing_plan" -> ((s, d) =>
      Sampling.mixingPlan(Tables.documents(s, d), "source", "n_chars",
        temperature = 2.0, budget = 300000L)
        .orderBy("source")),

    // the solved plan EXECUTED: mixingPlan's repeat factors (bounded
    // driver collect — one row per source, the s5m pattern) feed
    // epochReplicate; at sf0.01 the 300k budget ≈ 2× the corpus
    // (upsample regime, whole+fractional epochs), at sf0.1 ≈ 0.2×
    // (pure-fractional downsample) — one row, both branches
    "q_mixing_chain" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val factors = Sampling.mixingPlan(docs, "source", "n_chars",
        temperature = 2.0, budget = 300000L)
        .select("source", "repeat_factor").collect()
        .map(r => r.getString(0) -> r.getDouble(1)).toMap
      Sampling.epochReplicate(docs, "doc_id", "source", factors)
        .select("doc_id", "source", "epoch").orderBy("doc_id", "epoch")
    }),

    // S5f: data mixing — resample to a 50/30/20 target blend of three
    // sources (largest feasible output; other sources drop)
    "s5f_mixture" -> ((s, d) =>
      Sampling.mixtureSample(Tables.documents(s, d), "doc_id", "source",
        Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select("doc_id", "source").orderBy("doc_id")),

    // S5h: mixture resampling in a WEIGHTED unit — the 50/30/20 blend held
    // in characters (the token-budget analogue), not document counts;
    // per-source thresholds derive from char sums, membership stays the
    // per-document hash coin
    "s5h_mixture_weighted" -> ((s, d) =>
      Sampling.mixtureSampleByWeight(Tables.documents(s, d), "doc_id", "source",
        "n_chars", Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
        .select("doc_id", "source", "n_chars").orderBy("doc_id")),

    // S5g: quality-weighted Bernoulli sample — keep probability
    // min(1, rate·w), w = n_chars/500 (longer docs kept preferentially)
    "s5g_weighted" -> ((s, d) =>
      Sampling.weightedSample(
        Tables.documents(s, d).withColumn("w", col("n_chars") / lit(500.0)),
        "doc_id", "w", rate = 0.2)
        .select("doc_id", "n_chars").orderBy("doc_id")),

    // S5i: token-budget selection — the best-scored documents until a
    // quarter of the corpus's tokens are filled (budget relative to the
    // corpus so the cut is nontrivial at every SF). Score = n_chars with
    // doc_id tiebreak: a total order, so the greedy prefix is exact and
    // engine-portable. One-row total collect is the bounded driver step.
    "s5i_token_budget" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars").cast("double").as("score"),
          Text.bpeTokens(col("text")).cast("long").as("n_tokens"))
      val totalRow = toks.agg(sum("n_tokens")).head()
      val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
      Sampling.tokenBudgetSelect(toks, "doc_id", "score", "n_tokens", total / 4)
        .select("doc_id", "score", "n_tokens")
        .orderBy("doc_id")
    }),

    // G9: exact median via the custom counts-map TypedImperativeAggregate
    // (SURVEY 7.3's documented escape hatch, now closed) — must agree with
    // DuckDB's median on both a low-cardinality column (quantity: dozens
    // of distinct values, the buffer's sweet spot) and a high-cardinality
    // one (extendedprice: ~rows/4 distinct — the stress case)
    "g9_exact_median" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(round(graft.functions.ExactMedian.exactMedian(col("l_quantity")), 4)
            .as("med_qty"),
          round(graft.functions.ExactMedian.exactMedian(col("l_extendedprice")), 4)
            .as("med_price"))
        .orderBy("l_returnflag")),

    // G7c: approx_percentile under a HARD rank gate (the e8d pattern for
    // quantile sketches): the sketch's median must sit within the
    // documented rank tolerance eps = 1/accuracy of the true median rank.
    // Ties make VALUE tolerance meaningless (l_quantity has ~50 distinct
    // values), so the gate is the tie-aware rank-interval test: the
    // target-rank window [n(0.5-eps), n(0.5+eps)] must intersect
    // [count_lt(apx), count_le(apx)]. Oracle asserts TRUE per group.
    "g7c_approx_quantile_gate" -> ((s, d) => {
      val acc = 1000
      val eps = 1.0 / acc
      val li = Tables.lineitem(s, d).select("l_returnflag", "l_quantity")
      val ap = li.groupBy("l_returnflag")
        .agg(expr(s"approx_percentile(l_quantity, 0.5, $acc)").as("_apx"))
      li.join(broadcast(ap), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_quantity") < col("_apx"), 1L).otherwise(0L)).as("_lt"),
          sum(when(col("l_quantity") <= col("_apx"), 1L).otherwise(0L)).as("_le"))
        .select(col("l_returnflag"), col("n"),
          (col("_lt") <= (lit(0.5) + lit(eps)) * col("n") &&
            col("_le") >= (lit(0.5) - lit(eps)) * col("n")).as("within_tol"))
        .orderBy("l_returnflag")
    }),

    // G7: grouped exact percentiles (linear-interpolating, matches
    // DuckDB quantile_cont) — the quantile surface beyond median
    "g7_percentiles" -> ((s, d) =>
      Tables.lineitem(s, d).groupBy("l_returnflag")
        .agg(round(expr("percentile(l_quantity, 0.25)"), 4).as("p25_l_quantity"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_l_quantity"),
          round(expr("percentile(l_quantity, 0.75)"), 4).as("p75_l_quantity"),
          round(expr("percentile(l_quantity, 0.99)"), 4).as("p99_l_quantity"))
        .orderBy("l_returnflag")),

    // T5: corpus statistics — doc count, token totals, mean quality.
    // avg computed as exact decimal sum of per-row 4dp scores ÷ count (the
    // q1 pattern) so summation order cannot flip the rounded result.
    "t5_corpus_stats" -> ((s, d) =>
      Tables.documents(s, d).agg(
        count(lit(1)).as("n_docs"),
        sum(Text.wsTokens(col("text")).cast("long")).as("total_ws_tokens"),
        sum(Text.bpeTokens(col("text")).cast("long")).as("total_bpe_tokens"),
        round(sum(Text.qualityScore(col("text")).cast(DecimalType(18, 4)))
          .cast(D384).cast("double") / count(lit(1)), 4).as("avg_quality"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))),

    // T6: token-budget sequence packing — documents → training batches
    "t6_packing" -> ((s, d) => {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), Text.bpeTokens(col("text")).cast("long").as("n_tokens"))
      Packing.packByTokenBudget(toks, "doc_id", "n_tokens", budget = 2048, shards = 8,
        shardExpr = Some(pmod(col("doc_id"), lit(8)))) // engine-portable shard
        .select("doc_id", "n_tokens", "shard", "bin")
        .orderBy("doc_id")
    }),

    // E1: tumbling-window event aggregation (batch form of the stream op)
    "e1_events_window" -> ((s, d) =>
      StreamOps.tumblingCounts(Tables.events(s, d), 3600000000L)
        .orderBy("bucket", "event_type")),

    // E4: hopping (sliding) windows — 2 h windows starting every hour,
    // each event replicated into width/slide windows BEFORE the partial agg
    "e4_hopping_window" -> ((s, d) =>
      StreamOps.hoppingCounts(Tables.events(s, d), 7200000000L, 3600000000L)
        .orderBy("win_start", "event_type")),

    // E8: hourly distinct users (exact) — the canonical active-users metric
    "e8_window_distinct" -> ((s, d) =>
      StreamOps.windowDistinctUsers(Tables.events(s, d), 3600000000L)
        .orderBy("bucket")),

    // E8d: hourly distinct users via HyperLogLog++ — ONE stateful op with
    // fixed-size per-window state (vs the exact dedup-then-count chain's
    // per-user rows). The sketch VALUE is engine-specific, so the
    // driver-checkable relation is the TOLERANCE form: join the approx
    // against the exact e8 counts and emit (bucket, n_users,
    // within_tol = |approx − exact| ≤ max(3·rsd·exact, 4)). The oracle
    // recomputes the exact counts and asserts within_tol TRUE — so the
    // driver's hash compare is a HARD gate on both the window-key row set
    // and the sketch's error bound. The absolute floor of 4 covers the
    // small-cardinality regime: Spark's HLL++ is dense-only (no sparse
    // representation), so tiny windows carry a few counts of absolute
    // error where 3·rsd·exact < 1 — measured worst |Δ| across
    // sf0.001/0.01/0.1 is 3 (at exact = 17); relative worst is 0.108
    // (at exact = 139), inside the 0.15 band. The estimate itself is
    // deterministic (max-merged registers), so the gate is stable.
    "e8d_window_approx_distinct" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val rsd = 0.05
      StreamOps.windowApproxDistinctUsers(ev, 3600000000L, rsd)
        .join(StreamOps.windowDistinctUsers(ev, 3600000000L)
          .select("bucket", "n_users"), Seq("bucket"))
        .select(col("bucket"), col("n_users"),
          (abs(col("n_users_approx") - col("n_users"))
            <= greatest(lit(3 * rsd) * col("n_users"), lit(4.0))).as("within_tol"))
        .orderBy("bucket")
    }),

    // E8 STREAMING, driver-gated via batch replay: the dedup-then-count
    // chain (watermarked dropDuplicates on (window, user) feeding a
    // windowed count — streaming forbids distinct aggregates, so this IS
    // the production pattern; two chained stateful operators, append
    // mode). Append emits a window only when the watermark closes it, so
    // the staged copy appends one far-future sentinel event whose
    // watermark passes every real window's end; the sentinel's own window
    // never closes and never emits (the e2b trick). Replay shared with
    // e8c via e8DistinctSink.
    "e8b_stream_distinct" -> ((s, d) =>
      e8DistinctSink(s, d) match {
        case None => { import s.implicits._
          s.emptyDataset[(Long, Long)].toDF("bucket", "n_users") }
        case Some(sink) => sink
          .select(expr("unix_micros(window.start) div 3600000000").as("bucket"),
            col("n_users"))
          .orderBy("bucket")
      }),

    // E8c STREAMING: the distinct-users row WITH event multiplicity
    // restored — the dedup that makes n_users exact necessarily discards
    // n_events, so a SECOND watermarked windowed count (no dedup, one
    // stateful op) runs over the same staged source and the two
    // append-mode outputs join on the window. This two-query fork is the
    // production active-users shape; the join is a plain batch join of
    // closed windows (inner: both queries emit exactly the real windows —
    // the sentinel's window never closes in either)
    "e8c_distinct_with_events" -> ((s, d) =>
      e8DistinctSink(s, d) match {
        case None => { import s.implicits._
          s.emptyDataset[(Long, Long, Long)].toDF("bucket", "n_users", "n_events") }
        case Some(users) =>
          val counts = e8CountsSink(s, d).get
          users.join(counts, "window")
            .select(expr("unix_micros(window.start) div 3600000000").as("bucket"),
              col("n_users"), col("n_events"))
            .orderBy("bucket")
      }),

    // E2: gap-based sessionization (batch form of the stream op)
    "e2_sessionize" -> ((s, d) =>
      StreamOps.sessionize(Tables.events(s, d), 1800000000L)
        .orderBy("user_id", "session_id")),

    // E3 STREAMING, driver-gated via batch replay: the documents corpus
    // replayed through a parquet FILE SOURCE into dropDuplicatesWithinWatermark
    // (Trigger.AvailableNow), then compared to the batch dedup oracle.
    // Output is the distinct-fingerprint set: WHICH row survives per
    // fingerprint is arrival-order-dependent across partitions (true in any
    // streaming engine), but the fingerprint set itself is exact. Synthetic
    // event time = doc_id micros — the whole corpus sits inside the
    // watermark horizon, so the replay dedups exactly.
    "e3_stream_dedup" -> ((s, d) => {
      val schema = s.read.parquet(s"$d/documents.parquet").schema
      // the file source requires a directory path; the testdata table is a
      // bare file, so select it with a glob (whose base IS the directory)
      val src = s.readStream.schema(schema)
        .parquet(s"$d/documents.*")
        // offset past epoch 0: the initial watermark IS epoch 0, and a row
        // sitting exactly on it is discarded as late (doc_id 0 was dropped)
        .withColumn("ts_us", col("doc_id") + lit(1000000000000000L))
      val deduped = StreamOps.dedupExactStreaming(src, "text", "ts_us", "1 hour")
      StreamOps.runToMemoryTable(s, deduped, "e3_stream_dedup_sink",
        stateWidth = stateWidthFor(s"$d/documents.parquet"))
        .select("fingerprint").orderBy("fingerprint")
    }),

    // E1 STREAMING, driver-gated via batch replay: the events table through
    // the watermarked windowed aggregate. Complete output mode so the final
    // snapshot equals the batch result (append mode would hold back windows
    // newer than the final watermark — correct streaming semantics, but not
    // comparable to a batch oracle). window.start maps back to the batch
    // form's epoch-hour bucket.
    "e1b_stream_window" -> ((s, d) => {
      val schema = s.read.parquet(s"$d/events.parquet").schema
      val src = s.readStream.schema(schema)
        .parquet(s"$d/events.*")
        .withColumn("ts_us", Tables.tsUsColumn(schema("ts").dataType))
      val agg = StreamOps.tumblingCountsStreaming(src, "1 hour", "1 minute")
      StreamOps.runToMemoryTable(s, agg, "e1b_stream_window_sink", mode = "complete",
        stateWidth = stateWidthFor(s"$d/events.parquet"))
        .select(expr("unix_micros(window.start) div 3600000000").as("bucket"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("bucket", "event_type")
    }),

    // E5 STREAMING, driver-gated via batch replay: events stream from the
    // parquet file source, each micro-batch enriched by a stream–static
    // join against a user-cohort dim (stateless — no watermark needed),
    // aggregated per cohort and compared to the batch oracle.
    "e5_stream_enrich" -> ((s, d) => {
      val schema = s.read.parquet(s"$d/events.parquet").schema
      val src = s.readStream.schema(schema)
        .parquet(s"$d/events.*")
        .withColumn("ts_us", Tables.tsUsColumn(schema("ts").dataType))
      val dim = s.read.parquet(s"$d/events.parquet")
        .select(col("user_id")).distinct()
        .withColumn("cohort", col("user_id") % 10)
      val enriched = StreamOps.enrichWithStatic(src, dim, "user_id")
        .groupBy("cohort")
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      StreamOps.runToMemoryTable(s, enriched, "e5_stream_enrich_sink", mode = "complete",
        stateWidth = stateWidthFor(s"$d/events.parquet"))
        .orderBy("cohort")
    }),

    // E2 STREAMING, driver-gated via batch replay: events replayed through
    // the flatMapGroupsWithState sessionizer (AvailableNow, NoTimeout).
    // Append-mode custom state only EMITS a session when a later event of
    // the same user closes it, so each user's FINAL session would sit in
    // state forever; the staging copy appends one sentinel event per user
    // at global-max-ts + gap + 1 — it closes every real session and, never
    // being followed, never emits itself. Output = exactly the batch
    // session set (e2's relation minus the session_id numbering, which a
    // streaming engine does not assign). Single AvailableNow batch over
    // the staged files, so in-batch per-user sort fixes event order.
    "e2b_stream_sessionize" -> ((s, d) => {
      import s.implicits._
      val gapUs = 1800000000L
      val ev = Tables.events(s, d).select("user_id", "ts_us", "event_id")
      val maxTsRow = ev.agg(max("ts_us")).head()
      // empty events: nothing to replay — degrade to the empty session set
      // (max over zero rows is NULL; getLong would NPE)
      if (maxTsRow.isNullAt(0)) s.emptyDataset[StreamOps.SessionOut].toDF()
      else {
        // staging is a pure function of the events table; the dir key folds
        // in the source file's (mtime, size) so regenerated testdata never
        // replays against a stale sentinel copy, and a completed write is
        // reused so repeat runs measure the REPLAY, not fixture staging.
        // (Concurrent same-dir runs write identical bytes; the driver runs
        // rounds serially.)
        val srcFile = new java.io.File(s"$d/events.parquet")
        val stageDir =
          s"${scratchDir(d)}/e2b_events_${stageKey(srcFile, s"gap$gapUs")}"
        if (!new java.io.File(s"$stageDir/_SUCCESS").exists()) {
          val maxTs = maxTsRow.getLong(0)
          val sentinels = ev.select("user_id").distinct()
            .withColumn("ts_us", lit(maxTs + gapUs + 1))
            .withColumn("event_id", lit(-1L))
          ev.union(sentinels.select("user_id", "ts_us", "event_id"))
            .coalesce(4).write.mode("overwrite").parquet(stageDir)
        }
        val src = s.readStream.schema(s.read.parquet(stageDir).schema).parquet(stageDir)
        val sess = StreamOps.sessionizeStreaming(s, src, gapUs, withTimeout = false)
        StreamOps.runToMemoryTable(s, sess.toDF(), "e2b_stream_sessionize_sink",
          stateWidth = stateWidthFor(stageDir))
          .orderBy("user_id", "session_start_us")
      }
    }),

    // E4 STREAMING, driver-gated via batch replay: hopping windows through
    // Spark's native window(width, slide) under a watermark, complete mode
    // (as e1b), window.start mapped back to the batch form's epoch-us
    // win_start — must reproduce e4's batch relation exactly
    "e4b_stream_hopping" -> ((s, d) => {
      val schema = s.read.parquet(s"$d/events.parquet").schema
      val src = s.readStream.schema(schema)
        .parquet(s"$d/events.*")
        .withColumn("ts_us", Tables.tsUsColumn(schema("ts").dataType))
      val agg = StreamOps.hoppingCountsStreaming(src, "2 hours", "1 hour", "1 minute")
      StreamOps.runToMemoryTable(s, agg, "e4b_stream_hopping_sink", mode = "complete",
        stateWidth = stateWidthFor(s"$d/events.parquet"))
        .select(expr("unix_micros(window.start)").as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .orderBy("win_start", "event_type")
    }),

    // E2c: gap sessionization via Spark's BUILT-IN session_window aggregate
    // — the declarative sibling of e2's lag-diff form; identical break
    // semantics (strictly-exceeded gap), so it shares e2's session relation
    "e2c_session_window" -> ((s, d) =>
      StreamOps.sessionizeWindow(Tables.events(s, d), "30 minutes")
        .orderBy("user_id", "session_start_us")),

    // E6 STREAMING, driver-gated via batch replay: the purchase and click
    // slices of the events table replayed as TWO live streams through the
    // watermarked interval join + latest-click aggregate (two chained
    // stateful operators — the one streaming family member r6 flagged as
    // missing). Horizon 1 h bounds click state (the streamable form of the
    // as-of; the oracle applies the same horizon). Append-mode groups
    // flush via one far-future sentinel per stream (non-joining negative
    // user ids) — the e2b staging recipe, keyed on the source (mtime,
    // size). The replay itself is SHARED with e6b ([[e6SharedAsof]]): the
    // inner relation = the left-outer rows with a non-null click side, so
    // one checkpointed pass serves both gates. The sentinel purchase
    // matches no click → its row carries a null click side → the
    // isNotNull filter drops it, exactly as the inner join never emits it.
    "e6_stream_stream_asof" -> ((s, d) => {
      import s.implicits._
      e6SharedAsof(s, d) match {
        case None =>
          Seq.empty[(Long, Long, Long, Long, Long)]
            .toDF("event_id", "user_id", "ts_us", "r_event_id", "r_ts_us")
        case Some(shared) =>
          shared.filter(col("r_event_id").isNotNull).orderBy("event_id")
      }
    }),

    // E6c: the KEY-DENSE form — the same as-of relation with the join key
    // sub-bucketed by a horizon-width time slice, so per-(user, slice)
    // state stays bounded where e6's per-user value lists go quadratic on
    // a key-densifying stream (the measured 1000× wall: 88 min
    // non-completion, all workers in the state manager's per-key scan;
    // the sliced form COMPLETES the same probe — BENCH_SCALE r16). Same
    // staged source, same oracle SQL as e6: the mitigation is gated to be
    // relation-identical, not just plausible.
    "e6c_stream_asof_sliced" -> ((s, d) => {
      import s.implicits._
      e6cSlicedAsof(s, d) match {
        case None =>
          Seq.empty[(Long, Long, Long, Long, Long)]
            .toDF("event_id", "user_id", "ts_us", "r_event_id", "r_ts_us")
        case Some(shared) =>
          shared.filter(col("r_event_id").isNotNull).orderBy("event_id")
      }
    }),

    // E6d: the sliced LEFT-OUTER form — e6b's emit-on-timeout semantics
    // under the bounded-key plan, same shared replay as e6c, gated by
    // e6b's oracle verbatim (both sliced join types are hash-gated, not
    // just the inner one)
    "e6d_stream_asof_sliced_left" -> ((s, d) => {
      import s.implicits._
      e6cSlicedAsof(s, d) match {
        case None =>
          Seq.empty[(Long, Long, Long, Long, Long)]
            .toDF("event_id", "user_id", "ts_us", "r_event_id", "r_ts_us")
        case Some(shared) =>
          shared.filter(col("event_id") >= 0).orderBy("event_id")
      }
    }),

    // E6e: the slice-width DIAGNOSTIC (the d4c/d9c/d5e measured-knob
    // pattern for streaming state): per halving-ladder rung, the
    // per-(user, slice) slot occupancy the sliced as-of join's right-side
    // state would hold, plus the left-stream amplification that rung
    // costs — the relation deriveSliceUs reads. Oracle re-derives the
    // ladder, floor-div slotting, and both aggregates in SQL.
    "e6e_asof_slice_stats" -> ((s, d) =>
      StreamOps.asofSliceStats(
        Tables.events(s, d).filter(col("event_type") === "click"),
        "user_id", "ts_us", E6HorizonUs)
        .orderBy("slice_us")),

    // E6f: the DERIVED-width sliced replay — diagnostic → derivation →
    // plan: sliceUs comes from deriveSliceUs at the tightest bound
    // (maxPerSlot = 1, forcing a sub-horizon rung on this fixture), and
    // the relation must still bit-match e6's oracle SQL verbatim (the
    // sliced join is width-invariant by construction; this row gates it
    // at a measured, non-default width)
    "e6f_stream_asof_derived" -> ((s, d) => {
      import s.implicits._
      e6fDerivedAsof(s, d) match {
        case None =>
          Seq.empty[(Long, Long, Long, Long, Long)]
            .toDF("event_id", "user_id", "ts_us", "r_event_id", "r_ts_us")
        case Some(shared) =>
          shared.filter(col("r_event_id").isNotNull).orderBy("event_id")
      }
    }),

    // E6b: the LEFT-OUTER form — batch j3's left semantics under
    // streaming: an unattributed purchase emits with a null click side
    // once the watermark proves no in-horizon click can still arrive
    // (emit-on-timeout). Same shared replay as e6; the sentinel purchase
    // (user -1, which matches nothing) is filtered by event_id >= 0 —
    // in left mode it WOULD emit.
    "e6b_stream_asof_left" -> ((s, d) => {
      import s.implicits._
      e6SharedAsof(s, d) match {
        case None =>
          Seq.empty[(Long, Long, Long, Long, Long)]
            .toDF("event_id", "user_id", "ts_us", "r_event_id", "r_ts_us")
        case Some(shared) =>
          shared.filter(col("event_id") >= 0).orderBy("event_id")
      }
    }),

    // E7 STREAMING, driver-gated via batch replay: the daily-ingest probe
    // as a LIVE STREAM — incoming documents fingerprint narrowly and
    // stream-static ANTI-join the materialized fingerprint index (d8c's
    // staged dir, same build) per micro-batch. Stateless: the index IS
    // the state, owned by the pipeline (advanced between batches via
    // updateFingerprintIndex), so this is the streaming face of the whole
    // materialized-index story. Same oracle as d8/d8c.
    "e7_stream_ingest_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val idxDir = s"${scratchDir(d)}/d8c_fp_index_${stageKey(srcFile, "mod10")}"
      if (!new java.io.File(s"$idxDir/_SUCCESS").exists()) {
        ParquetSink.writeSharded(
          Dedup.fingerprintIndex(docs.filter(col("doc_id") % 10 =!= 0), "text"),
          idxDir, "fingerprint", shards = 4)
      }
      val stageDir = s"${scratchDir(d)}/e7_docs_${stageKey(srcFile, "mod10")}"
      if (!new java.io.File(s"$stageDir/_SUCCESS").exists()) {
        docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
          .coalesce(4).write.mode("overwrite").parquet(stageDir)
      }
      val schema = s.read.parquet(stageDir).schema
      val src = s.readStream.schema(schema).parquet(stageDir)
      StreamOps.runToMemoryTable(s,
        StreamOps.ingestDedupStreaming(src, s.read.parquet(idxDir), "text"),
        "e7_stream_ingest_sink")
        .select("doc_id", "fingerprint").orderBy("doc_id")
    }),

    // E10: streaming maintenance of the heavy-hitter state — docs staged
    // as 4 files replayed one per micro-batch (maxFilesPerTrigger=1), each
    // batch delta-appends its shard images, and the merged state must
    // satisfy the t27 full-corpus guarantee: the sketch union's bound is
    // associative over ANY batch split, which is exactly what this gates
    "e10_stream_heavy_hitters" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val stageDir = s"${scratchDir(d)}/e10_docs_${stageKey(srcFile, "seg4")}"
      if (!new java.io.File(s"$stageDir/_SUCCESS").exists()) {
        docs.select("doc_id", "text")
          .repartition(4, pmod(col("doc_id"), lit(4)))
          .write.mode("overwrite").parquet(stageDir)
      }
      val stateDir = s"${scratchDir(d)}/e10_hh_state_${stageKey(srcFile, "m1024s4b")}"
      if (!new java.io.File(s"$stateDir/_DONE").exists()) {
        val schema = s.read.parquet(stageDir).schema
        val src = s.readStream.schema(schema)
          .option("maxFilesPerTrigger", 1).parquet(stageDir)
        StreamOps.maintainHeavyHitterState(src, "doc_id", "text",
          maxMapSize = 1024, shards = 4,
          statePath = s"$stateDir/states", checkpointPath = s"$stateDir/ckpt")
        new java.io.File(s"$stateDir/_DONE").createNewFile()
      }
      TermStats.heavyHittersGateFrom(
        TermStats.mergedHeavyHitters(s.read.parquet(s"$stateDir/states"), 1024),
        docs, "text", 1024)
        .orderBy("token")
    }),

    // E7b: the streaming ingest loop ACROSS the day boundary — the cadence
    // a production pipeline actually runs: stream-replay segment 1 against
    // the day-1 index, fold the survivors in via updateFingerprintIndex
    // (delta-append, the d8d lifecycle), then stream-replay segment 2
    // against the UPDATED index — two AvailableNow passes bracketing one
    // index mutation. d8d proves the batch lifecycle and e7 proves
    // stream-probe; this gates their composition. Segment-1 survivors are
    // staged to parquet inside the mutation guard so reruns (the index is
    // already advanced) replay only the pure-read segment-2 pass. Oracle =
    // the batch two-day screen: s1 = seg1 \ base, s2 = seg2 \ (base ∪ s1).
    "e7b_stream_day_boundary" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val key = stageKey(srcFile, "mod9e7b")
      val idxDir = s"${scratchDir(d)}/e7b_fp_index_$key"
      val surv1Dir = s"${scratchDir(d)}/e7b_surv1_$key"
      val seg2Dir = s"${scratchDir(d)}/e7b_seg2_$key"
      if (!new java.io.File(s"$idxDir/_UPDATED").exists()) {
        ParquetSink.writeSharded(
          Dedup.fingerprintIndex(docs.filter(col("doc_id") % 9 >= 2), "text"),
          idxDir, "fingerprint", shards = 4)
        val seg1Dir = s"${scratchDir(d)}/e7b_seg1_$key"
        docs.filter(col("doc_id") % 9 === 0).select("doc_id", "text")
          .coalesce(4).write.mode("overwrite").parquet(seg1Dir)
        val src1 = s.readStream.schema(s.read.parquet(seg1Dir).schema).parquet(seg1Dir)
        StreamOps.runToMemoryTable(s,
          StreamOps.ingestDedupStreaming(src1, s.read.parquet(idxDir), "text"),
          "e7b_day1_sink")
          .select("doc_id", "text", "fingerprint")
          .write.mode("overwrite").parquet(surv1Dir)
        Dedup.updateFingerprintIndex(s.read.parquet(surv1Dir), idxDir, "text", shards = 4)
        new java.io.File(s"$idxDir/_UPDATED").createNewFile()
      }
      if (!new java.io.File(s"$seg2Dir/_SUCCESS").exists()) {
        docs.filter(col("doc_id") % 9 === 1).select("doc_id", "text")
          .coalesce(4).write.mode("overwrite").parquet(seg2Dir)
      }
      val src2 = s.readStream.schema(s.read.parquet(seg2Dir).schema).parquet(seg2Dir)
      val day2 = StreamOps.runToMemoryTable(s,
        StreamOps.ingestDedupStreaming(src2, s.read.parquet(idxDir), "text"),
        "e7b_day2_sink")
      s.read.parquet(surv1Dir).select("doc_id", "fingerprint")
        .unionAll(day2.select("doc_id", "fingerprint"))
        .orderBy("doc_id")
    }),

    // Q-COVID-SQL: the reference's flagship entry-point-3 chain (filter →
    // dim join → latest-per-group → 7-fn aggregate → meta join) as ONE SQL
    // string on the textual front-end — and the string IS the DuckDB
    // oracle, verbatim (see qCovidOracleSql). Catalyst plans the same
    // shape as the DataFrame chain: broadcast dim joins, windowed dedup,
    // partial+final aggregate.
    "q_covid_sql" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(qCovidOracleSql)
    }),

    // Q-SQL: the TEXTUAL SQL front-end end-to-end — Tables.registerAll
    // views + a spark.sql string (join → grouped decimal-exact aggregate →
    // window rank), driver-verified against the DuckDB oracle rather than
    // only pinned in SqlSurfaceSpec. The engine work is all Catalyst: the
    // dim join broadcasts, the aggregate partial-aggregates, the window
    // runs over segment-year groups, never the fact table.
    "q_sql_surface" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(
        "WITH ny AS (" +
          "SELECT c.c_mktsegment AS segment, " +
          "CAST(year(o.o_orderdate) AS INT) AS o_year, " +
          "count(*) AS n_orders, " +
          "CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_price " +
          "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
          "GROUP BY c.c_mktsegment, CAST(year(o.o_orderdate) AS INT)) " +
          "SELECT segment, o_year, n_orders, total_price, " +
          "CAST(row_number() OVER (PARTITION BY segment ORDER BY total_price DESC, o_year) AS BIGINT) AS rn " +
          "FROM ny ORDER BY segment, o_year")
    }),

    // Q-DASHBOARD-SQL: the dashboard chain (pivot → forward-fill →
    // per-nation stats) on the TEXTUAL front-end — the one entry-point
    // chain q_covid_sql left unclosed. DuckDB's PIVOT/strftime and Spark's
    // syntax differ in two fragments, so this is the twin-text form: one
    // template, two renderings, one canonical oracle (shared with
    // q_dashboard_chain — the DataFrame chain, this SQL text, and the
    // DuckDB replay must all produce the same relation). Catalyst plans
    // the same shape as the chain: broadcast dim joins, pivot as grouped
    // CASE-max, LOCF as a running window.
    "q_dashboard_sql" -> ((s, d) => {
      Tables.registerAll(s, d)
      s.sql(dashboardSqlText(forSpark = true))
    }),

    // D2b: incremental NEAR-dup ingest dedup — the daily-batch analogue of
    // d8 for MinHash similarity: new docs (doc_id % 9 = 0) kept only where
    // no corpus doc (doc_id % 9 != 0) sits at trigram Jaccard >= 0.5. The
    // corpus is band-indexed once and probed by the batch's band keys only
    // — never self-joined; candidates exact-verify before the anti join.
    "d2b_incremental_minhash" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dedup.minhashIncremental(
        docs.filter(col("doc_id") % 9 === 0), docs.filter(col("doc_id") % 9 =!= 0),
        "doc_id", "text", threshold = 0.5)
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),

    // D2c: d2b REPLAYED FROM THE MATERIALIZED INDEX — the corpus band
    // index + shingle sets are built once, sharded to parquet, loaded
    // back, and the same batch probes the LOADED frames: the daily-ingest
    // story ("keep the index materialized between batches") exercised
    // end-to-end, not asserted. Must bit-match d2b (same oracle SQL); the
    // corpus text is never re-shingled — PlanSpec pins that the replay
    // plan scans only the index. Index staging is keyed on the source
    // file's (mtime, size), exactly like e2b's sentinel copy, so repeat
    // runs measure the probe, not the build.
    "d2c_index_replay" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val idxDir =
        s"${scratchDir(d)}/d2c_minhash_index_${stageKey(srcFile, "n3b32r2")}"
      if (!new java.io.File(s"$idxDir/bands/_SUCCESS").exists()) {
        Dedup.writeMinhashIndex(
          Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 9 =!= 0), "doc_id", "text"),
          idxDir, "doc_id", shards = 4)
      }
      Dedup.minhashIncrementalFromIndex(
        docs.filter(col("doc_id") % 9 === 0), Dedup.readMinhashIndex(s, idxDir),
        "doc_id", "text", threshold = 0.5)
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),

    // D2d: the FULL index lifecycle — day-1 build, day-2 probe + UPDATE
    // (survivors folded back in as delta shards), day-3 probe against the
    // UPDATED index. The result must bit-match a from-scratch rebuild over
    // (day-1 corpus ∪ day-2 survivors) — which is exactly what the oracle
    // computes brute-force — proving the delta-append maintains the same
    // relation the builder derives. Day-3 never re-shingles the corpus:
    // its probe plan scans only the index parquet (PlanSpec pin). The
    // whole build+update chain is staged once behind an _UPDATED marker
    // (writeSharded's overwrite makes a crashed half-chain self-healing);
    // repeat runs measure the day-3 probe.
    "d2d_index_update" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val idxDir =
        s"${scratchDir(d)}/d2d_minhash_index_${stageKey(srcFile, "n3b32r2m7")}"
      if (!new java.io.File(s"$idxDir/_UPDATED").exists()) {
        Dedup.writeMinhashIndex(
          Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 7 >= 2), "doc_id", "text"),
          idxDir, "doc_id", shards = 4)
        // materialize day-2 survivors BEFORE the append so the update job
        // reads the cached rows, not the index dir it is writing into
        val surv = Dedup.minhashIncrementalFromIndex(
          docs.filter(col("doc_id") % 7 === 0), Dedup.readMinhashIndex(s, idxDir),
          "doc_id", "text", threshold = 0.5)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        surv.count()
        Dedup.updateMinhashIndex(surv, idxDir, "doc_id", "text", shards = 4)
        surv.unpersist()
        // settle the delta shards before day 3 — the probe result must be
        // identical before and after compaction (same oracle row gates it)
        Dedup.compactMinhashIndex(s, idxDir, "doc_id", shards = 4)
        new java.io.File(s"$idxDir/_UPDATED").createNewFile()
      }
      Dedup.minhashIncrementalFromIndex(
        docs.filter(col("doc_id") % 7 === 1), Dedup.readMinhashIndex(s, idxDir),
        "doc_id", "text", threshold = 0.5)
        .select("doc_id", "n_chars").orderBy("doc_id")
    }),

    // D2e: the d2c index PROBE stated as PURE SQL TEXT (the s5l/x12c
    // pattern extended to the index lifecycle): the staged minhash index
    // registers as views (graft_minhash_sets / graft_minhash_bands), and
    // the whole probe — batch shingling, the 64-perm signature, 32×2
    // banding, the band-key equi-join, exact-Jaccard verify with the
    // registered graft_sorted_intersect_size kernel, the anti join — is
    // one SQL statement a front-end user could run against the same
    // materialized index the Scala API probes. Shares d2c's staged dir
    // (same stage key) and must bit-match d2b (same oracle). Spark plans
    // the same shape: index-scan joins, never a corpus re-shingle.
    "d2e_index_probe_sql" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val idxDir =
        s"${scratchDir(d)}/d2c_minhash_index_${stageKey(srcFile, "n3b32r2")}"
      if (!new java.io.File(s"$idxDir/bands/_SUCCESS").exists()) {
        Dedup.writeMinhashIndex(
          Dedup.buildMinhashIndex(docs.filter(col("doc_id") % 9 =!= 0), "doc_id", "text"),
          idxDir, "doc_id", shards = 4)
      }
      Tables.registerAll(s, d)
      val idx = Dedup.readMinhashIndex(s, idxDir)
      idx.sets.createOrReplaceTempView("graft_minhash_sets")
      idx.bands.createOrReplaceTempView("graft_minhash_bands")
      s.sql(minhashProbeSql("doc_id % 9 = 0",
        "graft_minhash_sets", "graft_minhash_bands"))
    }),

    // D2h: the d2d MinHash index LIFECYCLE as PURE SQL TEXT — the d8f
    // recipe generalized to a two-table index (r14 #3): day-1 build = two
    // INSERT INTOs (set rows + band keys) from the shared CTE chain into
    // external parquet tables; day-2 = the d2e probe statement's matched
    // set folded back as two survivor INSERTs; compaction = the
    // CTAS-stage compose per table; day-3 probe = the same probe
    // statement. Same splits as d2d, same from-scratch oracle — a
    // SQL-only consumer can now maintain two of the three index families
    // (exact d8f, MinHash here). UPDATE ORDER MATTERS: survivor SET rows
    // insert BEFORE survivor band keys — candidates draw id_2 from the
    // BANDS table, so inserting bands first would pair each survivor
    // with itself (Jaccard 1.0) and mark the whole batch as matched; with
    // sets first, the added set rows are unreachable (no band entry yet)
    // until the bands insert completes the fold.
    "d2h_index_update_sql" -> ((s, d) => {
      Tables.registerAll(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val idxDir = s"${scratchDir(d)}/d2h_mh_index_${stageKey(srcFile, "n3b32r2m7sql")}"
      minhashIndexSqlStage(s, idxDir, "graft_mh_sets_sql", "graft_mh_bands_sql",
        buildPred = "doc_id % 7 >= 2", dayPreds = Seq("doc_id % 7 = 0"))
      s.sql(minhashProbeSql("doc_id % 7 = 1",
        "graft_mh_sets_sql", "graft_mh_bands_sql"))
    }),

    // D2i: d2h under REPEATED maintenance — build, then TWO fold+compact
    // cycles (day-2 %7=2, day-3 %7=0), then the day-4 probe: proves the
    // SQL CTAS-compact is idempotent under the update→compact→update
    // cadence a daily pipeline actually runs (the d8d lesson applied to
    // the two-table index), not just a single settle. Oracle = the
    // from-scratch three-generation relation (each day screened against
    // everything admitted before it).
    "d2i_index_multi_compact_sql" -> ((s, d) => {
      Tables.registerAll(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val idxDir = s"${scratchDir(d)}/d2i_mh_index_${stageKey(srcFile, "n3b32r2m7sql2c")}"
      minhashIndexSqlStage(s, idxDir, "graft_mh_sets_sql2", "graft_mh_bands_sql2",
        buildPred = "doc_id % 7 >= 3",
        dayPreds = Seq("doc_id % 7 = 2", "doc_id % 7 = 0"))
      s.sql(minhashProbeSql("doc_id % 7 = 1",
        "graft_mh_sets_sql2", "graft_mh_bands_sql2"))
    }),

    // D8c: d8 replayed from the materialized fingerprint index — the
    // exact-ingest analogue of d2c (same oracle as d8)
    "d8c_index_replay" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val idxDir =
        s"${scratchDir(d)}/d8c_fp_index_${stageKey(srcFile, "mod10")}"
      if (!new java.io.File(s"$idxDir/_SUCCESS").exists()) {
        ParquetSink.writeSharded(
          Dedup.fingerprintIndex(docs.filter(col("doc_id") % 10 =!= 0), "text"),
          idxDir, "fingerprint", shards = 4)
      }
      Dedup.exactIncrementalFromIndex(
        docs.filter(col("doc_id") % 10 === 0), s.read.parquet(idxDir), "doc_id", "text")
        .select("doc_id", "fingerprint").orderBy("doc_id")
    }),

    // D8d: the exact-family index lifecycle (d2d's recipe on the
    // fingerprint index): day-1 build, day-2 probe + delta-append of the
    // survivors' distinct fingerprints, then COMPACTION (delta shards fold
    // back to the base shard count — pure physical rewrite, the row set is
    // unchanged by the probe contract), day-3 probe of the compacted index
    // — oracle = the from-scratch day-3 relation (base ∪ day-2 survivors)
    "d8d_index_update" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val idxDir = s"${scratchDir(d)}/d8d_fp_index_${stageKey(srcFile, "mod8c")}"
      if (!new java.io.File(s"$idxDir/_UPDATED").exists()) {
        ParquetSink.writeSharded(
          Dedup.fingerprintIndex(docs.filter(col("doc_id") % 8 >= 2), "text"),
          idxDir, "fingerprint", shards = 4)
        val surv = Dedup.exactIncrementalFromIndex(
          docs.filter(col("doc_id") % 8 === 0), s.read.parquet(idxDir), "doc_id", "text")
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        surv.count()
        Dedup.updateFingerprintIndex(surv, idxDir, "text", shards = 4)
        surv.unpersist()
        Dedup.compactFingerprintIndex(s, idxDir, shards = 4)
        new java.io.File(s"$idxDir/_UPDATED").createNewFile()
      }
      Dedup.exactIncrementalFromIndex(
        docs.filter(col("doc_id") % 8 === 1), s.read.parquet(idxDir), "doc_id", "text")
        .select("doc_id", "fingerprint").orderBy("doc_id")
    }),

    // D8f: the index UPDATE lifecycle as PURE SQL TEXT — the d2e pattern
    // extended to WRITES, so a SQL-only consumer can MAINTAIN an index,
    // not just probe one. Day-1 build = INSERT INTO an external parquet
    // table; day-2 = probe + INSERT INTO of the survivors' new
    // fingerprints; compaction = the documented staging compose (managed
    // CTAS snapshot → INSERT OVERWRITE → DROP — a file-source table
    // cannot INSERT OVERWRITE from itself); day-3 probe = one anti-join
    // statement. Same splits as d8d, so the same from-scratch oracle
    // gates the whole lifecycle. The table NAME re-points to the
    // content-keyed location on every call (multi-dir sessions must not
    // probe a stale corpus through a stale catalog entry); dup rows in
    // the index are harmless by construction (membership semantics).
    "d8f_index_update_sql" -> ((s, d) => {
      Tables.registerAll(s, d)
      val srcFile = new java.io.File(s"$d/documents.parquet")
      val idxDir = s"${scratchDir(d)}/d8f_fp_index_${stageKey(srcFile, "mod8sql")}"
      val fpExpr = "md5(regexp_replace(lower(text), '[^a-z0-9]', ''))"
      s.sql("DROP TABLE IF EXISTS graft_fp_index_sql")
      s.sql("CREATE TABLE graft_fp_index_sql (fingerprint STRING) " +
        s"USING parquet LOCATION '$idxDir'")
      if (!new java.io.File(s"$idxDir/_UPDATED").exists()) {
        s.sql("INSERT INTO graft_fp_index_sql " +
          s"SELECT DISTINCT $fpExpr FROM documents WHERE doc_id % 8 >= 2")
        s.sql("INSERT INTO graft_fp_index_sql " +
          s"SELECT DISTINCT f.fingerprint FROM (SELECT $fpExpr AS fingerprint " +
          "FROM documents WHERE doc_id % 8 = 0) f " +
          "LEFT ANTI JOIN graft_fp_index_sql i ON f.fingerprint = i.fingerprint")
        s.sql("DROP TABLE IF EXISTS graft_fp_index_stage")
        s.sql("CREATE TABLE graft_fp_index_stage USING parquet AS " +
          "SELECT /*+ REPARTITION(4) */ fingerprint FROM graft_fp_index_sql")
        s.sql("INSERT OVERWRITE graft_fp_index_sql " +
          "SELECT fingerprint FROM graft_fp_index_stage")
        s.sql("DROP TABLE graft_fp_index_stage")
        new java.io.File(s"$idxDir/_UPDATED").createNewFile()
      }
      s.sql(
        s"WITH batch AS (SELECT doc_id, $fpExpr AS fingerprint " +
          "FROM documents WHERE doc_id % 8 = 1) " +
          "SELECT b.doc_id, b.fingerprint FROM batch b " +
          "LEFT ANTI JOIN graft_fp_index_sql i ON b.fingerprint = i.fingerprint " +
          "ORDER BY doc_id")
    }),

    // D5d: d5c replayed from the materialized embedding index — vectors +
    // sketch bands loaded from parquet, batch probes only (same oracle as
    // d5c)
    "d5d_index_replay" -> ((s, d) => {
      val emb = Tables.embeddings(s, d)
      val srcFile = new java.io.File(s"$d/embeddings.parquet")
      val idxDir =
        s"${scratchDir(d)}/d5d_emb_index_${stageKey(srcFile, "d64b32p4ord")}"
      if (!new java.io.File(s"$idxDir/bands/_SUCCESS").exists()) {
        Dedup.writeEmbeddingIndex(
          Dedup.buildEmbeddingIndex(emb.filter(col("vec_id") % 11 =!= 0), "vec_id",
            "embedding", dim = 64, bands = 32, bitsPerBand = 4, ordinal = true),
          idxDir, "vec_id", shards = 4)
      }
      Dedup.embeddingIncrementalFromIndex(
        emb.filter(col("vec_id") % 11 === 0), Dedup.readEmbeddingIndex(s, idxDir),
        "vec_id", "embedding", 0.45, dim = 64, bands = 32, bitsPerBand = 4,
        ordinal = true)
        .select("vec_id", "label").orderBy("vec_id")
    }),

    // D5j: the embedding band index is SQL-MAINTAINABLE — the d2h recipe
    // on the (vec_id, embedding) + (vec_id, band, bkey) table pair:
    // day-1 build = two INSERTs from the shared banding CTE chain into
    // external parquet tables; day-2 = the probe statement's matched set
    // folded back as two survivor INSERTs (vectors BEFORE band keys —
    // see the stage helper's ordering note); compaction = the CTAS-stage
    // compose per table; day-3 probe = the same statement, cosine verify
    // via the registered graft_cosine kernel. Oracle = the from-scratch
    // two-generation relation — a SQL-only consumer can now maintain all
    // four index families (exact d8f, MinHash d2h/d2i, containment d7f,
    // and the vector index here).
    "d5j_embed_index_update_sql" -> ((s, d) => {
      Tables.registerAll(s, d)
      val srcFile = new java.io.File(s"$d/embeddings.parquet")
      val idxDir = s"${scratchDir(d)}/d5j_emb_index_${stageKey(srcFile, "d64b32p4m4sql")}"
      // guardPairs = 0 pins the UNGUARDED reference regime (the d4b
      // discipline): this row documents what the raw lifecycle costs;
      // the plain guarded form is the d5k row below
      embIndexSqlStage(s, idxDir, "graft_emb_vecs_sql", "graft_emb_bands_sql",
        buildPred = "vec_id % 4 >= 2", dayPreds = Seq("vec_id % 4 = 0"),
        guardPairs = 0L)
      s.sql(embProbeSql("vec_id % 4 = 1",
        "graft_emb_vecs_sql", "graft_emb_bands_sql"))
    }),

    // D5k: the d5j lifecycle behind the IN-SQL admission guard (the d4f
    // pattern applied to the last measured-fatal plainly-reachable
    // regime — r17 Next #1): every fold day and the probe run the
    // banded-bill pricing statement first (the d5h/d5i numerator as pure
    // SQL) and REFUSE over the 50M-pair guard, before any insert touches
    // the index. On the canonical fixture every day admits, so the row
    // shares d5j's from-scratch oracle VERBATIM — the guard is gated to
    // be relation-invisible where it admits, and SqlSurfaceSpec pins the
    // refusal on a dense fixture the unguarded form would go quadratic
    // on.
    "d5k_embed_index_guarded_sql" -> ((s, d) => {
      Tables.registerAll(s, d)
      val srcFile = new java.io.File(s"$d/embeddings.parquet")
      val idxDir = s"${scratchDir(d)}/d5k_emb_index_${stageKey(srcFile, "d64b32p4m4gsql")}"
      embIndexSqlStage(s, idxDir, "graft_emb_vecs_gsql", "graft_emb_bands_gsql",
        buildPred = "vec_id % 4 >= 2", dayPreds = Seq("vec_id % 4 = 0"))
      requireEmbBillUnder(s, "vec_id % 4 = 1", "graft_emb_bands_gsql",
        EmbSqlGuardPairs)
      s.sql(embProbeSql("vec_id % 4 = 1",
        "graft_emb_vecs_gsql", "graft_emb_bands_gsql"))
    })
  )

  /** The SQL-text rendition of the minhash batch pipeline — trigram
    * shingling, the 64-perm signature, 32×2 banding — over `documents`
    * rows matching `pred`: ONE definition shared by the SQL probe (d2e),
    * the SQL index build and the SQL survivor fold (d2h), so the SQL
    * surface can never drift from itself. Mirrors `Dedup.shingleSets` /
    * `Dedup.bandKeys` at n=3, 64 perms, 32 bands × 2 rows per band.
    */
  private def minhashBatchCtes(pred: String): String =
    s"${shingleSetCtes(pred)}, " +
      "bsigs AS (SELECT doc_id, size(shs) AS n_sh, shs, " +
      "transform(sequence(0, 63), p -> array_min(transform(shs, h -> xxhash64(p, h)))) AS sigs " +
      "FROM bsets), " +
      "bbands AS (SELECT doc_id, band, hash(slice(sigs, band * 2 + 1, 2)) AS bkey " +
      "FROM bsigs LATERAL VIEW explode(sequence(0, 31)) t AS band)"

  /** The d2h/d2i SQL index lifecycle, staged once per `idxDir`: (re)point
    * the two external-LOCATION tables at it, and if the `_UPDATED` marker
    * is absent run day-1 build from `buildPred` then ONE fold+compact
    * cycle per `dayPreds` entry, in order — every statement pure SQL
    * text. UPDATE ORDER MATTERS: survivor SET rows insert BEFORE survivor
    * band keys — candidates draw id_2 from the BANDS table, so inserting
    * bands first would pair each survivor with itself (Jaccard 1.0) and
    * mark the whole batch as matched; with sets first, the added set rows
    * are unreachable (no band entry yet) until the bands insert completes
    * the fold. Compaction per cycle = the CTAS-stage compose per table (a
    * file-source table cannot INSERT OVERWRITE from itself). Crash
    * idempotency: `_UPDATED` is written only after all inserts +
    * compactions, and DROP TABLE does not clear a LOCATION dir, so an
    * absent marker clears both table dirs before the build — a run that
    * died mid-update cannot leave partial rows for the rerun to re-adopt.
    */
  private def minhashIndexSqlStage(s: SparkSession, idxDir: String,
                                   setsT: String, bandsT: String,
                                   buildPred: String,
                                   dayPreds: Seq[String]): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $setsT")
    s.sql(s"DROP TABLE IF EXISTS $bandsT")
    val staged = new java.io.File(s"$idxDir/_UPDATED").exists()
    if (!staged) {
      def rm(f: java.io.File): Unit =
        graft.sources.ParquetSink.deleteRecursively(f)
      rm(new java.io.File(s"$idxDir/sets"))
      rm(new java.io.File(s"$idxDir/bands"))
    }
    s.sql(s"CREATE TABLE $setsT (doc_id BIGINT, n_sh INT, " +
      s"shs ARRAY<BIGINT>) USING parquet LOCATION '$idxDir/sets'")
    s.sql(s"CREATE TABLE $bandsT (doc_id BIGINT, band INT, " +
      s"bkey INT) USING parquet LOCATION '$idxDir/bands'")
    if (!staged) {
      // day-1 build: the corpus' set rows and band keys
      s.sql(s"WITH ${minhashBatchCtes(buildPred)} " +
        s"INSERT INTO $setsT SELECT doc_id, n_sh, shs FROM bsigs")
      s.sql(s"WITH ${minhashBatchCtes(buildPred)} " +
        s"INSERT INTO $bandsT SELECT doc_id, band, bkey FROM bbands")
      dayPreds.foreach { pred =>
        // probe + fold: survivors (batch anti-join matched) append their
        // set rows, then their band keys — see ordering note above
        def fold(insert: String) =
          s"WITH ${minhashBatchCtes(pred)}, " +
            "cand AS (SELECT DISTINCT b.doc_id AS id_1, i.doc_id AS id_2 " +
            s"FROM bbands b JOIN $bandsT i " +
            "ON b.band = i.band AND b.bkey = i.bkey), " +
            "scored AS (SELECT c.id_1, " +
            "CAST(graft_sorted_intersect_size(l.shs, r.shs) AS DOUBLE) AS inter, " +
            "CAST(l.n_sh + r.n_sh AS DOUBLE) AS sz FROM cand c " +
            "JOIN bsigs l ON c.id_1 = l.doc_id " +
            s"JOIN $setsT r ON c.id_2 = r.doc_id), " +
            "matched AS (SELECT DISTINCT id_1 FROM scored " +
            "WHERE round(CASE WHEN sz - inter > 0 THEN inter / (sz - inter) " +
            "ELSE 0.0 END, 6) >= 0.5) " + insert
        s.sql(fold(s"INSERT INTO $setsT " +
          "SELECT s2.doc_id, s2.n_sh, s2.shs FROM bsigs s2 " +
          "LEFT ANTI JOIN matched m ON s2.doc_id = m.id_1"))
        s.sql(fold(s"INSERT INTO $bandsT " +
          "SELECT bb.doc_id, bb.band, bb.bkey FROM bbands bb " +
          "LEFT ANTI JOIN matched m ON bb.doc_id = m.id_1"))
        // compaction: settle the delta files per table (the d8f compose)
        Seq(setsT -> "doc_id, n_sh, shs",
          bandsT -> "doc_id, band, bkey").foreach { case (t, cols) =>
          s.sql(s"DROP TABLE IF EXISTS ${t}_stage")
          s.sql(s"CREATE TABLE ${t}_stage USING parquet AS " +
            s"SELECT /*+ REPARTITION(4) */ $cols FROM $t")
          s.sql(s"INSERT OVERWRITE $t SELECT $cols FROM ${t}_stage")
          s.sql(s"DROP TABLE ${t}_stage")
        }
      }
      new java.io.File(s"$idxDir/_UPDATED").createNewFile()
    }
  }

  /** The SQL-text trigram shingle-set chain over `documents` rows matching
    * `pred` — `bsets(doc_id, n_chars, shs)`, mirroring `Dedup.shingleSets`
    * at n=3 (sorted distinct xxhash64 keys). The shared base of the
    * minhash SQL surface ([[minhashBatchCtes]]) and the containment SQL
    * lifecycle (d7f), so the two families' shingling can never drift.
    */
  private def shingleSetCtes(pred: String): String =
    s"batch AS (SELECT doc_id, text, n_chars FROM documents WHERE $pred), " +
      "words AS (SELECT doc_id, n_chars, split(lower(trim(text)), '\\\\s+') AS w FROM batch), " +
      "bsets AS (SELECT doc_id, n_chars, CASE WHEN size(w) - 2 > 0 THEN " +
      "array_sort(transform(array_distinct(transform(sequence(0, size(w) - 3), " +
      "i -> concat_ws(' ', element_at(w, CAST(i + 1 AS INT)), " +
      "element_at(w, CAST(i + 2 AS INT)), element_at(w, CAST(i + 3 AS INT))))), " +
      "s -> xxhash64(s))) ELSE CAST(array() AS ARRAY<BIGINT>) END AS shs FROM words)"

  /** The batch inverted-pair + df CTEs over a prepared `bsets` — the d7f
    * lifecycle's working set: `binv(train_id, sk)` and `bdf(sk, df)`.
    */
  private val containmentBatchCtes: String =
    "binv AS (SELECT doc_id AS train_id, sk FROM bsets " +
      "LATERAL VIEW explode(shs) t AS sk), " +
      "bdf AS (SELECT sk, count(*) AS df FROM binv GROUP BY sk)"

  /** The SQL-text minhash ingest probe: band-key equi-join candidates
    * against `bandsTable`, exact-Jaccard verify against `setsTable` with
    * the registered graft_sorted_intersect_size kernel, anti join back to
    * the batch. The one probe statement d2e and d2h both run.
    */
  private def minhashProbeSql(pred: String, setsTable: String,
                              bandsTable: String): String =
    s"WITH ${minhashBatchCtes(pred)}, " +
      "cand AS (SELECT DISTINCT b.doc_id AS id_1, i.doc_id AS id_2 " +
      s"FROM bbands b JOIN $bandsTable i ON b.band = i.band AND b.bkey = i.bkey), " +
      "scored AS (SELECT c.id_1, " +
      "CAST(graft_sorted_intersect_size(l.shs, r.shs) AS DOUBLE) AS inter, " +
      "CAST(l.n_sh + r.n_sh AS DOUBLE) AS sz FROM cand c " +
      "JOIN bsigs l ON c.id_1 = l.doc_id " +
      s"JOIN $setsTable r ON c.id_2 = r.doc_id), " +
      "matched AS (SELECT DISTINCT id_1 FROM scored " +
      "WHERE round(CASE WHEN sz - inter > 0 THEN inter / (sz - inter) ELSE 0.0 END, 6) >= 0.5) " +
      "SELECT b.doc_id, b.n_chars FROM batch b " +
      "LEFT ANTI JOIN matched m ON b.doc_id = m.id_1 ORDER BY doc_id"

  /** Spark-SQL rendition of the ordinal sketch ([[graft.operators
    * .Similarity.ordinalSketch]]): the same md5-derived coordinate pairs,
    * 1-based via element_at (Spark's `[]` is 0-based, unlike DuckDB's —
    * the one divergence between this and [[ordinalSketchSql]]).
    */
  private def ordinalSketchSparkSql(vecExpr: String, dim: Int, bits: Int,
                                    seed: Long): String =
    Similarity.ordinalIndexPairs(dim, bits, seed).zipWithIndex.map { case ((a, b), h) =>
      s"(CASE WHEN element_at($vecExpr, ${a + 1}) > element_at($vecExpr, ${b + 1}) " +
        s"THEN ${1L << h}L ELSE 0L END)"
    }.mkString("(", " + ", ")")

  /** The SQL-text rendition of the embedding banding pipeline — 32 bands
    * × 4-bit ordinal sketches at seeds 1000+b, d5c/d5d's exact
    * parameterization — over `embeddings` rows matching `pred`: ONE
    * definition shared by the SQL index build, the survivor fold and the
    * probe (d5j), so the SQL surface can never drift from itself.
    * `ebatch(vec_id, embedding, label)`, `ebands(vec_id, band, bkey)` —
    * a single LATERAL VIEW explode scan, the plan shape the Scala
    * bandRows takes, not 32 UNION ALL scans.
    */
  private def embBandCtes(pred: String): String = {
    val structs = (0 until 32).map { b =>
      s"named_struct('band', $b, 'bkey', " +
        ordinalSketchSparkSql("embedding", dim = 64, bits = 4, seed = 1000L + b) + ")"
    }.mkString(", ")
    s"ebatch AS (SELECT vec_id, embedding, label FROM embeddings WHERE $pred), " +
      s"ebands AS (SELECT vec_id, bd.band AS band, bd.bkey AS bkey FROM ebatch " +
      s"LATERAL VIEW explode(array($structs)) t AS bd)"
  }

  /** The d5j SQL index lifecycle — the d2h recipe applied to the
    * embedding band index (two external-LOCATION tables: vectors +
    * band keys), staged once per `idxDir`: day-1 build from `buildPred`,
    * then ONE fold+compact cycle per `dayPreds` entry, every statement
    * pure SQL text (the registered `graft_cosine` kernel is the verify).
    * UPDATE ORDER MATTERS, exactly as d2h: survivor VECTORS insert
    * BEFORE survivor band keys — candidates draw id_2 from the BANDS
    * table, so inserting bands first would pair each survivor with
    * itself (cosine 1.0) and mark the whole batch as matched; with
    * vectors first, the added rows are unreachable (no band entry yet)
    * until the bands insert completes the fold. Compaction per cycle =
    * the CTAS-stage compose per table; crash idempotency = the d2h
    * marker discipline (`_UPDATED` written only after all statements;
    * an absent marker clears both LOCATION dirs before the build).
    *
    * SCALE REGIME: the fold/probe statements run the banded candidate
    * join — d5c's 32×4-at-0.45 parameterization, i.e. the pinned d5b
    * reference regime, quadratic per (band, bkey) bucket once corpus/16
    * rows share a 4-bit key (measured family-wide: the r16 sweep's
    * ~4e10-row admission arithmetic). `guardPairs > 0` puts the d4f gate
    * IN the lifecycle (the r17 ask): before every fold cycle the stage
    * runs [[embBandBillSql]] — the d5h/d5i pricing numerator, Σ
    * n_batch·n_index over the joined (band, bkey) bucket counts, itself
    * pure SQL a consumer can run — and REFUSES when the bill exceeds the
    * guard, naming the priced volume and the escapes, BEFORE any fold
    * insert mutates the index (a refused day leaves both tables exactly
    * as the previous day left them). `guardPairs = 0` pins the unguarded
    * reference regime (the d5j row) and owns its cost — at the oracle
    * scales the buckets hold tens of rows; at 100×+ the r17 probe
    * measured the unguarded fold fatal, and the guarded form refuses it
    * in seconds (BENCH_SCALE r18). The build/compact statements are
    * linear and scale-safe, and are not priced.
    */
  private def embIndexSqlStage(s: SparkSession, idxDir: String,
                               vecsT: String, bandsT: String,
                               buildPred: String,
                               dayPreds: Seq[String],
                               guardPairs: Long = EmbSqlGuardPairs): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $vecsT")
    s.sql(s"DROP TABLE IF EXISTS $bandsT")
    val staged = new java.io.File(s"$idxDir/_UPDATED").exists()
    if (!staged) {
      def rm(f: java.io.File): Unit =
        graft.sources.ParquetSink.deleteRecursively(f)
      rm(new java.io.File(s"$idxDir/vecs"))
      rm(new java.io.File(s"$idxDir/bands"))
    }
    s.sql(s"CREATE TABLE $vecsT (vec_id BIGINT, embedding ARRAY<FLOAT>) " +
      s"USING parquet LOCATION '$idxDir/vecs'")
    s.sql(s"CREATE TABLE $bandsT (vec_id BIGINT, band INT, " +
      s"bkey BIGINT) USING parquet LOCATION '$idxDir/bands'")
    if (!staged) {
      s.sql(s"INSERT INTO $vecsT " +
        s"SELECT vec_id, embedding FROM embeddings WHERE $buildPred")
      s.sql(s"WITH ${embBandCtes(buildPred)} " +
        s"INSERT INTO $bandsT SELECT vec_id, band, bkey FROM ebands")
      dayPreds.foreach { pred =>
        if (guardPairs > 0) requireEmbBillUnder(s, pred, bandsT, guardPairs)
        def fold(insert: String) =
          s"WITH ${embBandCtes(pred)}, " +
            "cand AS (SELECT DISTINCT b.vec_id AS id_1, i.vec_id AS id_2 " +
            s"FROM ebands b JOIN $bandsT i " +
            "ON b.band = i.band AND b.bkey = i.bkey), " +
            "matched AS (SELECT DISTINCT c.id_1 FROM cand c " +
            "JOIN ebatch l ON c.id_1 = l.vec_id " +
            s"JOIN $vecsT r ON c.id_2 = r.vec_id " +
            "WHERE round(graft_cosine(l.embedding, r.embedding), 6) >= 0.45) " +
            insert
        s.sql(fold(s"INSERT INTO $vecsT " +
          "SELECT v.vec_id, v.embedding FROM ebatch v " +
          "LEFT ANTI JOIN matched m ON v.vec_id = m.id_1"))
        s.sql(fold(s"INSERT INTO $bandsT " +
          "SELECT bb.vec_id, bb.band, bb.bkey FROM ebands bb " +
          "LEFT ANTI JOIN matched m ON bb.vec_id = m.id_1"))
        Seq(vecsT -> "vec_id, embedding",
          bandsT -> "vec_id, band, bkey").foreach { case (t, cols) =>
          s.sql(s"DROP TABLE IF EXISTS ${t}_stage")
          s.sql(s"CREATE TABLE ${t}_stage USING parquet AS " +
            s"SELECT /*+ REPARTITION(4) */ $cols FROM $t")
          s.sql(s"INSERT OVERWRITE $t SELECT $cols FROM ${t}_stage")
          s.sql(s"DROP TABLE ${t}_stage")
        }
      }
      new java.io.File(s"$idxDir/_UPDATED").createNewFile()
    }
  }

  /** The SQL-text embedding ingest probe: band-key equi-join candidates
    * against `bandsT`, exact-cosine verify against `vecsT` with the
    * registered graft_cosine kernel, anti join back to the batch — the
    * one probe statement the d5j row runs against the maintained index.
    */
  private def embProbeSql(pred: String, vecsT: String,
                          bandsT: String): String =
    s"WITH ${embBandCtes(pred)}, " +
      "cand AS (SELECT DISTINCT b.vec_id AS id_1, i.vec_id AS id_2 " +
      s"FROM ebands b JOIN $bandsT i ON b.band = i.band AND b.bkey = i.bkey), " +
      "matched AS (SELECT DISTINCT c.id_1 FROM cand c " +
      "JOIN ebatch l ON c.id_1 = l.vec_id " +
      s"JOIN $vecsT r ON c.id_2 = r.vec_id " +
      "WHERE round(graft_cosine(l.embedding, r.embedding), 6) >= 0.45) " +
      "SELECT b.vec_id, b.label FROM ebatch b " +
      "LEFT ANTI JOIN matched m ON b.vec_id = m.id_1 ORDER BY vec_id"

  /** The banded-candidate BILL of one fold/probe day, as pure SQL text —
    * the d5h/d5i admission numerator (Σ n_batch·n_index over the joined
    * (band, bkey) bucket counts; two linear scans + tiny aggregates,
    * never the candidate join itself). This is the statement a SQL-only
    * consumer runs in front of a fold/probe against a corpus whose
    * density they do not know; [[embIndexSqlStage]] runs it for them
    * when `guardPairs > 0`.
    */
  private def embBandBillSql(pred: String, bandsT: String): String =
    s"WITH ${embBandCtes(pred)}, " +
      "bb AS (SELECT band, bkey, count(*) AS n FROM ebands GROUP BY band, bkey), " +
      s"ib AS (SELECT band, bkey, count(*) AS n FROM $bandsT GROUP BY band, bkey) " +
      "SELECT coalesce(sum(bb.n * ib.n), 0L) AS banded_bill " +
      "FROM bb JOIN ib ON bb.band = ib.band AND bb.bkey = ib.bkey"

  /** Default guard for the SQL index lifecycle's banded candidate bill —
    * the d4 family's 50M-pair ceiling ([[graft.operators.Dedup
    * .FixedCapGuardPairs]]): past it the candidate join's task memory and
    * shuffle are the measured scale-killers (the r17 100× probe).
    */
  private val EmbSqlGuardPairs: Long = 50000000L

  /** Run [[embBandBillSql]] and REFUSE a day whose banded candidate bill
    * exceeds `guardPairs` — the d4f contract on the SQL lifecycle: the
    * refusal costs the pricing aggregates only and happens before any
    * fold insert, so a refused day cannot half-mutate the index.
    */
  private def requireEmbBillUnder(s: SparkSession, pred: String,
                                  bandsT: String, guardPairs: Long): Unit = {
    val bill = s.sql(embBandBillSql(pred, bandsT)).head().getLong(0)
    if (bill > guardPairs)
      throw new IllegalArgumentException(
        s"embIndexSqlStage: the day '$pred' prices $bill banded candidate " +
          s"pairs against $bandsT, over the $guardPairs guard. Gate " +
          "admission first (the d5h/d5i statement: compare the bill to " +
          "batch*corpus and route to the measured branch), shrink the " +
          "day's batch, or pass guardPairs = 0 to pin the unguarded " +
          "reference regime and own its cost (measured fatal at 100x - " +
          "BENCH_SCALE r17).")
  }

  // ------------------------------------------------------------- oracle SQL

  /** DuckDB rendition of [[graft.operators.Dedup.simhash]]: the 60-bit
    * sketch as a machine-generated sum of per-bit vote terms over the
    * md5-derived token hashes (`Text.tokenHash60`). Shared by the
    * d3/d3b oracles.
    */
  private val simhashCte: String = {
    val bitTerms = (0 until Dedup.SimhashBits).map { i =>
      s"(CASE WHEN list_sum(list_transform(hh, h -> CASE WHEN (h >> $i) & 1 = 1 " +
        s"THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)"
    }.mkString(" + ")
    "hs AS (SELECT doc_id, list_transform(" +
      "list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')), " +
      "t -> ('0x' || substr(md5(t),1,15))::BIGINT) AS hh FROM documents), " +
      s"sh AS (SELECT doc_id, ($bitTerms)::BIGINT AS simhash FROM hs)"
  }

  /** The fuzzy family's banded-cell CTE chain (d9b/d9c): [[simhashCte]]
    * extended with text length, the 4×15-bit chunk rows, the home length
    * bucket (width = maxDist+1 = 41 at the d9 parameterization), and the
    * (chunk, ckey, hb) cell sizes — the one SQL definition both the
    * histogram and the capped-admission oracles read, mirroring
    * `Dedup.fuzzyChunked`.
    */
  private val fuzzyCellsCte: String =
    s"$simhashCte, " +
      "shl AS (SELECT s.doc_id, s.simhash, length(d.text) AS len " +
      "FROM sh s JOIN documents d ON s.doc_id = d.doc_id), " +
      "ch AS (SELECT doc_id, simhash, len, c.chunk AS chunk, " +
      "(simhash >> (c.chunk * 15)) & 32767 AS ckey, len // 41 AS hb " +
      "FROM shl, (VALUES (0), (1), (2), (3)) c(chunk)), " +
      "cells AS (SELECT chunk, ckey, hb, count(*) AS cell_size " +
      "FROM ch GROUP BY chunk, ckey, hb)"

  /** DuckDB expression snippets for the text gates — single definitions
    * shared by the t1/t2/t8 oracles and the q_pipeline_chain composition
    * (`t` = a text-typed column reference).
    */
  private def langHitsSql(t: String, pat: String): String =
    s"len(regexp_extract_all(lower($t), '$pat'))"
  private def langIdSql(t: String): String = {
    val Seq(en, de, fr, es) = Text.LangPatterns.map { case (_, p) => langHitsSql(t, p) }
    s"(CASE WHEN $en = 0 AND $de = 0 AND $fr = 0 AND $es = 0 THEN 'und' " +
      s"WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en' " +
      s"WHEN $de >= $fr AND $de >= $es THEN 'de' " +
      s"WHEN $fr >= $es THEN 'fr' ELSE 'es' END)"
  }
  private def qualitySql(t: String): String = {
    val en = langHitsSql(t, Text.LangPatterns.head._2)
    val toks = s"len(regexp_split_to_array(trim($t), '\\s+'))::DOUBLE"
    s"round(least(1.0, $toks / 200.0) * 0.5 + " +
      s"least(1.0, $en::DOUBLE / greatest($toks * 0.05, 1.0)) * 0.3 + " +
      s"(1.0 - least(1.0, len(regexp_extract_all($t, '[^\\w\\s]'))::DOUBLE / " +
      s"greatest(length($t)::DOUBLE, 1.0))) * 0.2, 4)"
  }
  /** Gopher-signal CTE prefix (`gsig` = one row per doc with the t13
    * signals) and the pass predicate over its columns — single definitions
    * shared by the t13 oracle and the q_quality_funnel composition so the
    * two can never drift.
    */
  private val gopherCtesSql: String =
    "gw AS (SELECT doc_id, " +
      "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0) AS words, " +
      "string_split(text, chr(10)) AS lines, " +
      "len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS sym FROM documents), " +
      "gsig AS (SELECT doc_id, len(words)::BIGINT AS n_words, " +
      "CASE WHEN len(words) > 0 THEN round(list_sum(list_transform(words, x -> len(x)))::DOUBLE / len(words), 4) END AS mean_word_len, " +
      "CASE WHEN len(words) > 0 THEN round(sym::DOUBLE / len(words), 4) END AS symbol_ratio, " +
      "CASE WHEN len(words) > 0 THEN round(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(words), 4) END AS alpha_frac, " +
      "CASE WHEN len(list_filter(lines, l -> len(trim(l)) > 0)) > 0 THEN " +
      "round(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE / len(list_filter(lines, l -> len(trim(l)) > 0)), 4) END AS bullet_frac, " +
      "CASE WHEN len(list_filter(lines, l -> len(trim(l)) > 0)) > 0 THEN " +
      "round(len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))::DOUBLE / len(list_filter(lines, l -> len(trim(l)) > 0)), 4) END AS ellipsis_frac, " +
      "len(list_filter(['the','be','to','of','and','that','have','with'], " +
      "sw -> list_contains(list_transform(words, x -> lower(x)), sw)))::BIGINT AS stop_hits FROM gw)"

  private val gopherPassSql: String =
    "(n_words >= 50 AND n_words <= 100000 " +
      "AND (mean_word_len IS NULL OR (mean_word_len >= 3.0 AND mean_word_len <= 10.0)) " +
      "AND (symbol_ratio IS NULL OR symbol_ratio < 0.1) " +
      "AND (bullet_frac IS NULL OR bullet_frac < 0.9) " +
      "AND (ellipsis_frac IS NULL OR ellipsis_frac < 0.3) " +
      "AND (alpha_frac IS NULL OR alpha_frac >= 0.8) " +
      "AND stop_hits >= 2)"

  /** Repetition-fraction CTE prefix (`rfrac` = one row per doc with t20's
    * three fractions over the lower/trim/split words) — shared by the t20
    * oracle and the q_quality_funnel composition. Top-word share via an
    * explicit per-word count (the Spark side's sorted-run fold computes
    * the same maximum without a shuffle).
    */
  private val repetitionCtesSql: String =
    "rw AS (SELECT doc_id, " +
      "regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents), " +
      "ru AS (SELECT doc_id, unnest(ws) AS word FROM rw), " +
      "rwc AS (SELECT doc_id, word, count(*)::BIGINT AS c FROM ru GROUP BY doc_id, word), " +
      "rst AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*)::BIGINT AS nd, " +
      "max(c)::BIGINT AS mx FROM rwc GROUP BY doc_id), " +
      "rtri AS (SELECT doc_id, " +
      "CASE WHEN len(ws) >= 3 THEN len(ws) - 2 ELSE 0 END AS tot, " +
      "CASE WHEN len(ws) >= 3 THEN len(list_distinct(list_transform(" +
      "generate_series(1, len(ws) - 2), " +
      "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) ELSE 0 END AS dis FROM rw), " +
      "rfrac AS (SELECT s.doc_id, s.n AS n_words, " +
      "round(1.0 - s.nd::DOUBLE / s.n, 6) AS dup_word_frac, " +
      "round(s.mx::DOUBLE / s.n, 6) AS top_word_frac, " +
      "CASE WHEN t.tot > 0 THEN round(1.0 - t.dis::DOUBLE / t.tot, 6) END AS dup_3gram_frac " +
      "FROM rst s JOIN rtri t USING (doc_id))"

  private def repetitionSql(t: String): String = {
    val words = s"regexp_split_to_array(lower(trim($t)), '\\s+')"
    s"round(CASE WHEN len($words) > 0 THEN 1.0 - " +
      s"len(list_distinct($words))::DOUBLE / len($words)::DOUBLE ELSE 0.0 END, 4)"
  }

  /** DuckDB rendition of [[graft.operators.Similarity.ordinalSketch]]:
    * Σ_h CASE WHEN vec[a_h+1] > vec[b_h+1] THEN 2^h — the SAME md5-derived
    * index pairs the Scala side uses (the pairs are the operator's
    * parameters, like a seed; the sketch/bucketing/ranking computation
    * itself is expressed independently in SQL). DuckDB lists are 1-based.
    */
  /** The d5f/d5g gated-choice oracle: re-derives embeddingNearDupsLSH's
    * plan decision in SQL — the banded bucket pricing, the integer
    * admission comparison (× 10 = the 1/10 admission gate), and BOTH
    * branch pipelines, with the unchosen branch filtered out by the gate —
    * so the CHOICE arithmetic is what the hash compare verifies.
    */
  private def embedAutoOracleSql(bands: Int, bits: Int): String = {
    val bandSelects = (0 until bands).map { b =>
      s"SELECT vec_id, $b AS band, " +
        ordinalSketchSql("embedding", dim = 64, bits = bits, seed = 1000L + b) +
        " AS bkey FROM embeddings"
    }.mkString(" UNION ALL ")
    s"WITH bands AS ($bandSelects), " +
      "gate AS (SELECT (SELECT sum(b * (b - 1) // 2) FROM " +
      "(SELECT count(*) AS b FROM bands GROUP BY band, bkey)) * 10 <= " +
      "(SELECT count(*) * (count(*) - 1) // 2 FROM embeddings) AS use_lsh), " +
      "cand AS (SELECT DISTINCT a.vec_id AS id_1, b.vec_id AS id_2 " +
      "FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey " +
      "AND a.vec_id < b.vec_id), " +
      "lshres AS (SELECT c.id_1, c.id_2, " +
      "round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) AS cosine " +
      "FROM cand c JOIN embeddings e1 ON c.id_1 = e1.vec_id " +
      "JOIN embeddings e2 ON c.id_2 = e2.vec_id " +
      "WHERE round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) >= 0.45), " +
      "exres AS (SELECT a.vec_id AS id_1, b.vec_id AS id_2, " +
      "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine " +
      "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
      "WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45) " +
      "SELECT * FROM lshres WHERE (SELECT use_lsh FROM gate) " +
      "UNION ALL SELECT * FROM exres WHERE NOT (SELECT use_lsh FROM gate) " +
      "ORDER BY id_1, id_2"
  }

  /** The d5h/d5i gated-choice ingest oracle — [[embedAutoOracleSql]]'s
    * cross-corpus form: bucket counts per side, Σ n_batch·n_corpus vs
    * batch×corpus under the ×10 integer gate, both branch match-sets
    * (banded-candidate verify vs exact cross scan) gated on the choice,
    * surviving batch rows out.
    */
  private def embedIncrAutoOracleSql(bands: Int, bits: Int): String = {
    val bandSelects = (0 until bands).map { b =>
      s"SELECT vec_id, $b AS band, " +
        ordinalSketchSql("embedding", dim = 64, bits = bits, seed = 1000L + b) +
        " AS bkey FROM embeddings"
    }.mkString(" UNION ALL ")
    s"WITH bands AS ($bandSelects), " +
      "nb AS (SELECT * FROM bands WHERE vec_id % 11 = 0), " +
      "cb AS (SELECT * FROM bands WHERE vec_id % 11 != 0), " +
      "gate AS (SELECT coalesce((SELECT sum(x.n * y.n) FROM " +
      "(SELECT band, bkey, count(*) AS n FROM nb GROUP BY band, bkey) x " +
      "JOIN (SELECT band, bkey, count(*) AS n FROM cb GROUP BY band, bkey) y " +
      "USING (band, bkey)), 0) * 10 <= " +
      "(SELECT count(*) FILTER (vec_id % 11 = 0) * count(*) FILTER (vec_id % 11 != 0) " +
      "FROM embeddings) AS use_lsh), " +
      "cand AS (SELECT DISTINCT n.vec_id AS id_1, c.vec_id AS id_2 " +
      "FROM nb n JOIN cb c ON n.band = c.band AND n.bkey = c.bkey), " +
      "mlsh AS (SELECT DISTINCT c.id_1 FROM cand c " +
      "JOIN embeddings e1 ON c.id_1 = e1.vec_id " +
      "JOIN embeddings e2 ON c.id_2 = e2.vec_id " +
      "WHERE round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) >= 0.45), " +
      "mex AS (SELECT DISTINCT a.vec_id AS id_1 FROM embeddings a " +
      "JOIN embeddings b ON a.vec_id % 11 = 0 AND b.vec_id % 11 != 0 " +
      "WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45), " +
      "m AS (SELECT id_1 FROM mlsh WHERE (SELECT use_lsh FROM gate) " +
      "UNION ALL SELECT id_1 FROM mex WHERE NOT (SELECT use_lsh FROM gate)) " +
      "SELECT vec_id, label FROM embeddings WHERE vec_id % 11 = 0 " +
      "AND vec_id NOT IN (SELECT id_1 FROM m) ORDER BY vec_id"
  }

  private def ordinalSketchSql(vecExpr: String, dim: Int, bits: Int, seed: Long): String =
    Similarity.ordinalIndexPairs(dim, bits, seed).zipWithIndex.map { case ((a, b), h) =>
      s"(CASE WHEN $vecExpr[${a + 1}] > $vecExpr[${b + 1}] THEN ${1L << h} ELSE 0 END)"
    }.mkString("(", " + ", ")::BIGINT")

  /** DuckDB rendition of [[graft.operators.Similarity.kmeansAssign]] (Lloyd
    * iterations with md5 seeding) feeding the IVF probe path — the
    * sim_ivf_trained oracle. Mirrors the Scala side step for step: seeds =
    * k smallest md5("<seed>:<id>") rows; each pass assigns by argmax of
    * round(cosine, 6) with ties to the lowest cell; re-centering is the
    * 4dp-rounded, -0.0-normalized, float-quantized per-coordinate mean.
    * The final IVF stage recomputes cell centroids from the trained
    * assignment exactly as `ivfTopK` does via `labelCentroidVectors`.
    */
  /** The deterministic-Lloyd training CTEs shared by every trained-IVF
    * oracle (`a2` = the final assignment, `cents` = its centroids) —
    * [[kmeansIvfSql]] probes them, the sim_ivf_stats oracle counts them.
    */
  /** `tag` suffixes every CTE name (c0→c0r, …, cents→centsr) so TWO
    * trainings over different sources can compose in one statement (the
    * sim_ivf_retrain oracle trains the frozen quantizer AND the
    * from-scratch union rebuild); the default "" keeps every existing
    * consumer's `a2`/`cents` references intact.
    */
  private def kmeansCtesSql(dim: Int, k: Int, seed: String,
                            src: String = "embeddings",
                            tag: String = ""): String =
    kmeansCtesSqlExpr(dim, k.toString, seed, src, tag)

  /** [[kmeansCtesSql]] with k stated as a SQL EXPRESSION — the derived-k
    * oracle's form (r18 VERDICT #1): `kExpr` may be a scalar subquery
    * over an earlier CTE (e.g. `(SELECT dk FROM kd)`), so the training's
    * own seed-set size is re-derived by the oracle from the data rather
    * than interpolated as a constant the Spark side happens to agree
    * with. Only the c0 seed filter consumes k — every later CTE is
    * k-generic (GROUP BY over whatever cells survive).
    */
  private def kmeansCtesSqlExpr(dim: Int, kExpr: String, seed: String,
                                src: String = "embeddings",
                                tag: String = ""): String = {
    val centCols = (1 to dim).map(i =>
      s"CAST(CAST(round(avg(embedding[$i]), 4) + 0.0 AS FLOAT) AS DOUBLE)").mkString(", ")
    def cos(a: String, b: String) = s"round(list_cosine_similarity($a, $b), 6)"
    def assign(from: String, cents: String) =
      s"SELECT vec_id, embedding, cell FROM (SELECT e.vec_id, e.embedding, c.cell, " +
        s"row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
        s"${cos("e.embedding::DOUBLE[]", "c.centroid")} DESC, c.cell ASC) AS rn " +
        s"FROM $from e CROSS JOIN $cents c) WHERE rn = 1"
    s"WITH c0$tag AS (SELECT cell, centroid FROM (SELECT embedding::DOUBLE[] AS centroid, " +
      s"row_number() OVER (ORDER BY md5('$seed:' || CAST(vec_id AS VARCHAR)), " +
      s"CAST(vec_id AS VARCHAR)) - 1 AS cell FROM $src) WHERE cell < $kExpr), " +
      s"a1$tag AS (${assign(src, s"c0$tag")}), " +
      s"c1$tag AS (SELECT cell, [$centCols] AS centroid FROM a1$tag GROUP BY cell), " +
      s"a2$tag AS (${assign(src, s"c1$tag")}), " +
      s"cents$tag AS (SELECT cell, [$centCols] AS centroid FROM a2$tag GROUP BY cell)"
  }

  private def kmeansIvfSql(dim: Int, k: Int, probes: Int, topK: Int,
                           seed: String): String = {
    def cos(a: String, b: String) = s"round(list_cosine_similarity($a, $b), 6)"
    s"${kmeansCtesSql(dim, k, seed)}, " +
      "q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10), " +
      "cellrank AS (SELECT q.query_id, q.qe, c.cell, row_number() OVER (" +
      "PARTITION BY q.query_id ORDER BY " +
      s"${cos("q.qe::DOUBLE[]", "c.centroid")} DESC, c.cell ASC) AS crn " +
      "FROM q CROSS JOIN cents c), " +
      s"probed AS (SELECT query_id, qe, cell FROM cellrank WHERE crn <= $probes), " +
      "scored AS (SELECT p.query_id, e.vec_id AS neighbor_id, " +
      s"${cos("p.qe::DOUBLE[]", "e.embedding::DOUBLE[]")} AS cosine " +
      "FROM probed p JOIN a2 e ON e.cell = p.cell AND e.vec_id != p.query_id), " +
      "ranked AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (" +
      "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored) " +
      s"SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= $topK " +
      "ORDER BY query_id, rank"
  }

  /** The sim_ivf_update_sql from-scratch oracle: deterministic Lloyd on
    * the BASE split only (the trained, frozen quantizer), the day-2
    * batch assigned to those same centroids by the argmax window, and
    * the probe's top-k over the UNION of base and batch cells — the
    * update lifecycle (INSERT + CTAS compaction) must be invisible
    * relative to this.
    */
  private def ivfUpdateOracleSql(dim: Int, k: Int, probes: Int, topK: Int,
                                 seed: String): String = {
    def cos(a: String, b: String) = s"round(list_cosine_similarity($a, $b), 6)"
    val base = "(SELECT * FROM embeddings WHERE vec_id % 5 != 0)"
    s"${kmeansCtesSql(dim, k, seed, src = base)}, " +
      "nb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0), " +
      "anew AS (SELECT vec_id, embedding, cell FROM (SELECT e.vec_id, e.embedding, c.cell, " +
      s"row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
      s"${cos("e.embedding::DOUBLE[]", "c.centroid")} DESC, c.cell ASC) AS rn " +
      "FROM nb e CROSS JOIN cents c) WHERE rn = 1), " +
      "cells AS (SELECT vec_id, embedding, cell FROM a2 " +
      "UNION ALL SELECT vec_id, embedding, cell FROM anew), " +
      "q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10), " +
      "cellrank AS (SELECT q.query_id, q.qe, c.cell, row_number() OVER (" +
      "PARTITION BY q.query_id ORDER BY " +
      s"${cos("q.qe::DOUBLE[]", "c.centroid")} DESC, c.cell ASC) AS crn " +
      "FROM q CROSS JOIN cents c), " +
      s"probed AS (SELECT query_id, qe, cell FROM cellrank WHERE crn <= $probes), " +
      "scored AS (SELECT p.query_id, e.vec_id AS neighbor_id, " +
      s"${cos("p.qe::DOUBLE[]", "e.embedding::DOUBLE[]")} AS cosine " +
      "FROM probed p JOIN cells e ON e.cell = p.cell AND e.vec_id != p.query_id), " +
      "ranked AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (" +
      "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored) " +
      s"SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= $topK " +
      "ORDER BY query_id, rank"
  }

  /** The sim_ivf_retrain from-scratch oracle — the WHOLE arc re-derived
    * in SQL (the d4d discipline: the decision arithmetic is what the
    * hash verifies, not just a chosen branch's output): train the
    * frozen bootstrap quantizer on the first 16 vectors (`a2`/`cents`),
    * argmax the remaining append against it, aggregate the PRE
    * occupancy and its imbalance, train the union rebuild from scratch
    * (`a2r`, the tag'd second Lloyd), aggregate the POST occupancy, and
    * emit ONE ARM PER THRESHOLD with every post-decision column
    * CASE-gated on `pre.imbalance > threshold` — an engine that
    * retrained without the trigger, or skipped the rebuild with it,
    * hash-mismatches on that arm's branch columns.
    */
  private def ivfRetrainOracleSql(dim: Int, k: Int, seed: String,
                                  thresholds: Seq[Double]): String = {
    def cos(a: String, b: String) = s"round(list_cosine_similarity($a, $b), 6)"
    def occStats(src: String) =
      s"SELECT count(*)::BIGINT AS cells, sum(n)::BIGINT AS vectors, " +
        s"max(n)::BIGINT AS max_cell, round(avg(n), 6) AS mean_cell, " +
        s"round(max(n) / avg(n), 6) AS imbalance FROM $src"
    def arm(threshold: Double) = {
      val trig = s"pre.imbalance > $threshold"
      val branch = Seq("cells", "vectors", "max_cell", "mean_cell", "imbalance")
        .map(c => s"CASE WHEN $trig THEN post.$c ELSE pre.$c END AS $c")
        .mkString(", ")
      s"SELECT CAST($threshold AS DOUBLE) AS threshold, " +
        s"pre.imbalance AS pre_imbalance, " +
        s"$trig AS retrained, $branch FROM pre, post"
    }
    s"${kmeansCtesSql(dim, k, seed, src = "(SELECT * FROM embeddings WHERE vec_id < 16)")}, " +
      "nb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 16), " +
      "anew AS (SELECT vec_id, cell FROM (SELECT e.vec_id, c.cell, " +
      s"row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
      s"${cos("e.embedding::DOUBLE[]", "c.centroid")} DESC, c.cell ASC) AS rn " +
      "FROM nb e CROSS JOIN cents c) WHERE rn = 1), " +
      "occpre AS (SELECT cell, count(*)::BIGINT AS n FROM " +
      "(SELECT cell FROM a2 UNION ALL SELECT cell FROM anew) GROUP BY cell), " +
      s"pre AS (${occStats("occpre")}), " +
      s"${kmeansCtesSql(dim, k, seed, src = "embeddings", tag = "r").stripPrefix("WITH ")}, " +
      "occpost AS (SELECT cell, count(*)::BIGINT AS n FROM a2r GROUP BY cell), " +
      s"post AS (${occStats("occpost")}) " +
      thresholds.map(arm).mkString(" UNION ALL ") +
      " ORDER BY threshold"
  }

  /** The sim_ivf_retrain_k from-scratch oracle (r18 VERDICT #1): the k
    * DERIVATION re-derived in SQL and then USED — per arm, `kd` computes
    * want = ceil(vectors/target), derived = min(maxK, max(1, cells,
    * want)) and clamp = the same at maxK = clampMaxK from the bootstrap-
    * append pre-occupancy, and the union rebuild's Lloyd training takes
    * its seed count FROM that derivation (`(SELECT dk_<tag> FROM kd)` in
    * the c0 filter) — so the post-occupancy columns gate the k'-rebuild
    * against a from-scratch build at the ORACLE's own derived k, not at
    * a constant both sides were handed.
    */
  private def ivfRetrainKOracleSql(dim: Int, bootK: Int, seed: String,
                                   targets: Seq[(Long, String)],
                                   clampMaxK: Int, maxK: Int): String = {
    def cos(a: String, b: String) = s"round(list_cosine_similarity($a, $b), 6)"
    def occStats(src: String) =
      s"SELECT count(*)::BIGINT AS cells, sum(n)::BIGINT AS vectors, " +
        s"max(n)::BIGINT AS max_cell, round(avg(n), 6) AS mean_cell, " +
        s"round(max(n) / avg(n), 6) AS imbalance FROM $src"
    val kdCols = targets.map { case (t, tg) =>
      def want = s"CAST(ceil(vectors / $t.0) AS BIGINT)"
      s"$want AS want_$tg, " +
        s"CAST(LEAST($maxK, GREATEST(1, cells, $want)) AS BIGINT) AS dk_$tg, " +
        s"CAST(LEAST($clampMaxK, GREATEST(1, cells, $want)) AS BIGINT) AS ck_$tg"
    }.mkString(", ")
    val trainings = targets.map { case (_, tg) =>
      s"${kmeansCtesSqlExpr(dim, s"(SELECT dk_$tg FROM kd)", seed,
        src = "embeddings", tag = tg).stripPrefix("WITH ")}, " +
        s"occpost$tg AS (SELECT cell, count(*)::BIGINT AS n FROM a2$tg GROUP BY cell), " +
        s"post$tg AS (${occStats(s"occpost$tg")})"
    }.mkString(", ")
    val arms = targets.map { case (t, tg) =>
      s"SELECT CAST($t AS BIGINT) AS target_mean_cell, " +
        "pre.cells AS pre_cells, pre.vectors AS pre_vectors, " +
        "pre.imbalance AS pre_imbalance, " +
        s"kd.want_$tg AS want_k, kd.dk_$tg AS derived_k, kd.ck_$tg AS clamp_k, " +
        s"post$tg.cells, post$tg.vectors, post$tg.max_cell, " +
        s"post$tg.mean_cell, post$tg.imbalance FROM pre, kd, post$tg"
    }.mkString(" UNION ALL ")
    s"${kmeansCtesSql(dim, bootK, seed, src = "(SELECT * FROM embeddings WHERE vec_id < 16)")}, " +
      "nb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 16), " +
      "anew AS (SELECT vec_id, cell FROM (SELECT e.vec_id, c.cell, " +
      s"row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
      s"${cos("e.embedding::DOUBLE[]", "c.centroid")} DESC, c.cell ASC) AS rn " +
      "FROM nb e CROSS JOIN cents c) WHERE rn = 1), " +
      "occpre AS (SELECT cell, count(*)::BIGINT AS n FROM " +
      "(SELECT cell FROM a2 UNION ALL SELECT cell FROM anew) GROUP BY cell), " +
      s"pre AS (${occStats("occpre")}), " +
      s"kd AS (SELECT $kdCols FROM pre), " +
      s"$trainings " +
      arms + " ORDER BY target_mean_cell"
  }

  /** The t17 query's fixed term set — shared by the Spark row and the
    * oracle builder so they can never drift.
    */
  private val Bm25Terms = Seq("spark", "vector", "merge")

  /** DuckDB rendition of [[graft.operators.TermStats.bm25]], constants
    * interpolated from the SAME Scala doubles the Spark expression uses
    * (shortest-repr `toString` round-trips exactly), per-term conditional
    * sums added in the same fixed order.
    */
  private def bm25OracleSql(terms: Seq[String], k1: Double, b: Double): String = {
    val inList = terms.map(t => s"'$t'").mkString(", ")
    val sums = terms.zipWithIndex.map { case (t, i) =>
      s"sum(CASE WHEN term = '$t' THEN cell ELSE 0.0 END) AS s$i"
    }.mkString(", ")
    val total = terms.indices.map(i => s"s$i").mkString(" + ")
    "WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term FROM documents), " +
      "tk AS (SELECT doc_id, term FROM toks WHERE len(term) > 0), " +
      "dl AS (SELECT d.doc_id, count(t.term)::BIGINT AS dl FROM documents d " +
      "LEFT JOIN tk t USING (doc_id) GROUP BY d.doc_id), " +
      "st AS (SELECT count(*)::DOUBLE AS n, sum(dl)::DOUBLE AS tot FROM dl), " +
      s"tf AS (SELECT doc_id, term, count(*)::BIGINT AS tf FROM tk WHERE term IN ($inList) GROUP BY doc_id, term), " +
      "dfx AS (SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term), " +
      "cells AS (SELECT tf.doc_id, tf.term, " +
      s"ln((st.n - dfx.df + 0.5) / (dfx.df + 0.5) + 1.0) * (tf.tf::DOUBLE * ${(k1 + 1).toString}) / " +
      s"(tf.tf::DOUBLE + ${k1.toString} * (${(1 - b).toString} + ${b.toString} * dl.dl::DOUBLE / (st.tot / st.n))) AS cell " +
      "FROM tf JOIN dfx USING (term) JOIN dl USING (doc_id) CROSS JOIN st), " +
      s"ps AS (SELECT doc_id, $sums FROM cells GROUP BY doc_id) " +
      s"SELECT dl.doc_id, dl.dl, round(coalesce($total, 0.0), 4) AS bm25 " +
      "FROM dl LEFT JOIN ps USING (doc_id) ORDER BY doc_id"
  }

  /** As-of-join oracle (union-merge in SQL) — shared by j3_asof_join and
    * j3b_asof_bucketed: the bucketed two-pass variant must reproduce the
    * same relation bit for bit.
    */
  private val asofOracleSql: String =
    "WITH clicks AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
      "WHERE event_type = 'click'), " +
      "purchases AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
      "WHERE event_type = 'purchase'), " +
      "u AS (SELECT user_id AS k, ts_us AS t, 0 AS tag, event_id AS tb, " +
      "NULL::BIGINT AS l_event, event_id AS b_event, ts_us AS b_ts FROM clicks " +
      "UNION ALL SELECT user_id, ts_us, 1, NULL, event_id, NULL, NULL FROM purchases), " +
      "f AS (SELECT *, last_value(b_event IGNORE NULLS) OVER w AS r_event_id, " +
      "last_value(b_ts IGNORE NULLS) OVER w AS r_ts_us FROM u " +
      "WINDOW w AS (PARTITION BY k ORDER BY t, tag, tb NULLS FIRST " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
      "SELECT l_event AS event_id, k AS user_id, t AS ts_us, r_event_id, r_ts_us " +
      "FROM f WHERE tag = 1 ORDER BY event_id"

  /** Distinct word-trigram shingle sets over relation `src` (exposing
    * doc_id, text) — the decontamination oracle's gram builder, mirroring
    * `Dedup.shingleSets(n = 3)` semantics.
    */
  private def trigramGramsSqlOver(src: String): String =
    "SELECT doc_id, list_distinct(list_transform(" +
      "range(1, len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 1), " +
      "i -> regexp_split_to_array(lower(trim(text)), '\\s+')[i] || ' ' || " +
      "regexp_split_to_array(lower(trim(text)), '\\s+')[i+1] || ' ' || " +
      "regexp_split_to_array(lower(trim(text)), '\\s+')[i+2])) AS grams FROM " + src

  /** [[trigramGramsSqlOver]] generalized to any gram width — the d7e
    * exact-13-gram oracle's builder, mirroring `Dedup.shingleSets(n)`:
    * distinct space-joined word n-grams (raw strings here; Spark counts
    * 64-bit shingle keys — identical modulo hash collisions, as
    * everywhere).
    */
  private def ngramGramsSqlOver(src: String, n: Int): String = {
    val w = "regexp_split_to_array(lower(trim(text)), '\\s+')"
    val terms = (0 until n).map(j => s"$w[i+$j]").mkString(" || ' ' || ")
    s"SELECT doc_id, list_distinct(list_transform(range(1, len($w) - ${n - 2}), " +
      s"i -> $terms)) AS grams FROM $src"
  }

  /** Containment CTE chain over pre-built `tsh` (train) / `xsh` (test) gram
    * relations: yields `contam(test_id, train_id, containment)` — shared by
    * the d7 oracle and the curation-chain oracle. Mirrors
    * `Dedup.decontaminationPairs`' candidate cap + exact verify.
    */
  private def decontaminationCtes(maxDf: Int): String =
    "ti AS (SELECT doc_id AS train_id, unnest(grams) AS s FROM tsh), " +
      s"rare AS (SELECT s FROM (SELECT s, count(*) AS df FROM ti GROUP BY s) WHERE df <= $maxDf), " +
      "xi AS (SELECT doc_id AS test_id, unnest(grams) AS s FROM xsh), " +
      "cand AS (SELECT DISTINCT x.test_id, t.train_id FROM xi x JOIN rare r ON x.s = r.s " +
      "JOIN ti t ON t.s = x.s), " +
      "contam AS (SELECT c.test_id, c.train_id, " +
      "round(len(list_intersect(xs.grams, ts.grams))::DOUBLE / len(xs.grams), 6) AS containment " +
      "FROM cand c JOIN xsh xs ON xs.doc_id = c.test_id JOIN tsh ts ON ts.doc_id = c.train_id)"

  /** Exact word-bigram Jaccard pairs over relation `src` (threshold `th`) —
    * shared by the d4_ngram_jaccard / d6_components / q_pipeline_chain
    * oracles. `src` must expose (doc_id, text).
    */
  private def bigramJaccardSqlOver(src: String, th: Double): String =
    s"WITH sh AS (SELECT doc_id, list_distinct(list_transform(" +
      s"range(1, len(regexp_split_to_array(lower(trim(text)), '\\s+'))), " +
      s"i -> regexp_split_to_array(lower(trim(text)), '\\s+')[i] || ' ' || " +
      s"regexp_split_to_array(lower(trim(text)), '\\s+')[i+1])) AS grams FROM $src), " +
      "inv AS (SELECT doc_id, len(grams) AS n_sh, unnest(grams) AS s FROM sh) " +
      "SELECT a.doc_id AS id_1, b.doc_id AS id_2, " +
      "round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) AS jaccard " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id " +
      "GROUP BY a.doc_id, b.doc_id " +
      s"HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= $th"

  private val bigramJaccardSql: String = bigramJaccardSqlOver("documents", 0.1)

  /** Shared by t27 / t27b / t27c / e10 — four gates over the SAME
    * heavy-hitter guarantee (direct, materialized-state, SQL-text,
    * streamed-state); one string so the epsilon literal can never
    * diverge between siblings. 0.00341796875 = 3.5/1024, the sketch's
    * own a-priori constant (spec-pinned against FreqItems.epsilon).
    */
  private val hhGateOracleSql: String =
    "WITH tok AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS token " +
      "FROM documents), " +
      "n AS (SELECT count(*)::DOUBLE AS N FROM tok), " +
      "e AS (SELECT token, count(*)::BIGINT AS n_exact FROM tok GROUP BY token) " +
      "SELECT token, n_exact, TRUE AS within_tol FROM e, n " +
      "WHERE n_exact > 0.00341796875 * N ORDER BY token"

  /** Shared by d2f / d2g — the exact all-pairs relation over the
    * dup-injected fixture both rows use (the auto entry is
    * result-identical to the collapsed one by construction).
    */
  private def dupInjectedMinhashOracleSql: String =
    "WITH dd AS (SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0), " +
      trigramShCteOver("dd") + ", " +
      "inv AS (SELECT doc_id, len(grams) AS n_sh, unnest(grams) AS s FROM sh) " +
      "SELECT a.doc_id AS id_1, b.doc_id AS id_2, " +
      "round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) AS jaccard " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id " +
      "GROUP BY a.doc_id, b.doc_id " +
      "HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= 0.5 " +
      "ORDER BY id_1, id_2"

  /** The distinct-trigram sets CTE over `documents` — shared by the d4b /
    * d4c / d4d oracles so the shingling text can never drift between the
    * fixed-cap, diagnostic, and derived-cap rows. Declared BEFORE its
    * consumers: object vals initialize in order.
    */
  private def trigramShCteOver(rel: String): String =
    "sh AS (SELECT doc_id, list_distinct(list_transform(" +
      "range(1, len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 1), " +
      "i -> regexp_split_to_array(lower(trim(text)), '\\s+')[i] || ' ' || " +
      "regexp_split_to_array(lower(trim(text)), '\\s+')[i+1] || ' ' || " +
      s"regexp_split_to_array(lower(trim(text)), '\\s+')[i+2])) AS grams FROM $rel)"

  private val trigramShCte: String = trigramShCteOver("documents")

  /** The fixed-cap (maxDf = 50) sparse-Jaccard oracle — shared VERBATIM by
    * d4b (the unguarded reference plan) and d4f (the guarded public
    * name): the guard prices and refuses, never alters the
    * admitted candidate set, so one SQL text gating both rows is what
    * proves that.
    */
  private val d4bSparseOracleSql: String =
    s"WITH $trigramShCte, " +
      "inv AS (SELECT doc_id, unnest(grams) AS g FROM sh), " +
      "rare AS (SELECT g FROM inv GROUP BY g HAVING count(*) <= 50), " +
      "cand AS (SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2 " +
      "FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id " +
      "WHERE a.g IN (SELECT g FROM rare)), " +
      "v AS (SELECT c.id_1, c.id_2, " +
      "len(list_intersect(s1.grams, s2.grams))::DOUBLE AS inter, " +
      "(len(s1.grams) + len(s2.grams))::DOUBLE AS sz " +
      "FROM cand c JOIN sh s1 ON c.id_1 = s1.doc_id JOIN sh s2 ON c.id_2 = s2.doc_id) " +
      "SELECT id_1, id_2, round(CASE WHEN sz > inter THEN inter / (sz - inter) " +
      "ELSE 0 END, 6) AS jaccard FROM v " +
      "WHERE round(CASE WHEN sz > inter THEN inter / (sz - inter) ELSE 0 END, 6) >= 0.2 " +
      "ORDER BY id_1, id_2"

  /** The d6 components relation (transitive closure over the bigram pair
    * set, canonical = min id) — shared verbatim by the from-scratch row
    * (d6) and the incremental-fold row (d6c), whose whole contract is
    * producing this exact relation.
    */
  private lazy val d6OracleSql: String =
    s"WITH RECURSIVE pairs AS ($bigramJaccardSql), " +
      "bidir AS (SELECT id_1, id_2 FROM pairs UNION SELECT id_2, id_1 FROM pairs), " +
      "nodes AS (SELECT DISTINCT id_1 AS id FROM bidir), " +
      "reach(id, r) AS (SELECT id, id FROM nodes " +
      "UNION SELECT b.id_1, r.r FROM reach r JOIN bidir b ON b.id_2 = r.id) " +
      "SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id ORDER BY doc_id"

  /** The s5k relation's oracle — shared verbatim by the operator row
    * (s5k) and the SQL-text row (s5l): one canonical DuckDB statement,
    * two engine-side renderings.
    */
  private val s5kOracleSql: String =
    "WITH toks AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score, " +
      "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens " +
      "FROM documents), " +
      "sel AS (SELECT doc_id, source, score, n_tokens, " +
      "sum(n_tokens) OVER (PARTITION BY source ORDER BY score DESC, doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM toks) " +
      "SELECT doc_id, source, score, n_tokens FROM sel " +
      "WHERE cum <= CASE source WHEN 'src0' THEN 40000 WHEN 'src1' THEN 25000 " +
      "WHEN 'src2' THEN 10000 ELSE -1 END " +
      "ORDER BY doc_id"

  /** The x12 JSON-lift oracle — DuckDB's NATIVE json path, faithful to
    * from_json(LongType) on every regime (malformed → NULL via
    * json_valid; nested $.k absent → NULL; float → json_type DOUBLE →
    * NULL). Shared by the typed row (x12) and the SQL-text row (x12c).
    */
  private val x12OracleSql: String =
    "SELECT event_type, count(*) AS n_events, count(k) AS n_k, " +
      "CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k " +
      "FROM (SELECT event_type, " +
      "CASE WHEN json_valid(props) AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT') " +
      "THEN try_cast(json_extract(props, '$.k') AS BIGINT) END AS k " +
      "FROM events) GROUP BY 1 ORDER BY 1"

  /** Exact trigram-Jaccard pairs at j ≥ 0.5 over `documents` — the d2
    * family's oracle relation (the LSH output equals it: full banding
    * recall at this threshold on the corpus, no false positives by exact
    * verify). Shared by the d2 row and the s5j2 indexed-split oracle.
    */
  private val trigramJaccardSql: String =
    s"WITH $trigramShCte, " +
      "inv AS (SELECT doc_id, len(grams) AS n_sh, unnest(grams) AS s FROM sh) " +
      "SELECT a.doc_id AS id_1, b.doc_id AS id_2, " +
      "round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) AS jaccard " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id " +
      "GROUP BY a.doc_id, b.doc_id " +
      "HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= 0.5"

  /** DuckDB SQL equivalents — one per `queries` entry, zero omissions: the
    * LSH paths use ordinal sketches (comparisons only, no float
    * arithmetic), so even the approximate paths replay bit-identically.
    */
  def oracleSql: Map[String, String] = Map(
    "d5b_embed_lsh" -> {
      // 32 bands × 4-bit ordinal band keys, seeds 1000+b — mirrors
      // Similarity.lshCandidates(ordinal = true) + exact cosine verify
      val bandSelects = (0 until 32).map { b =>
        s"SELECT vec_id, $b AS band, " +
          ordinalSketchSql("embedding", dim = 64, bits = 4, seed = 1000L + b) +
          " AS bkey FROM embeddings"
      }.mkString(" UNION ALL ")
      s"WITH bands AS ($bandSelects), " +
        "cand AS (SELECT DISTINCT a.vec_id AS id_1, b.vec_id AS id_2 " +
        "FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey " +
        "AND a.vec_id < b.vec_id) " +
        "SELECT c.id_1, c.id_2, " +
        "round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) AS cosine " +
        "FROM cand c JOIN embeddings e1 ON c.id_1 = e1.vec_id " +
        "JOIN embeddings e2 ON c.id_2 = e2.vec_id " +
        "WHERE round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) >= 0.45 " +
        "ORDER BY id_1, id_2"
    },

    // the same 32×4-bit ordinal bands reduced to per-band bucket stats —
    // bucket structure (and so every count) must match the Spark side's
    "d5e_lsh_band_stats" -> {
      val bandSelects = (0 until 32).map { b =>
        s"SELECT vec_id, $b AS band, " +
          ordinalSketchSql("embedding", dim = 64, bits = 4, seed = 1000L + b) +
          " AS bkey FROM embeddings"
      }.mkString(" UNION ALL ")
      s"WITH bands AS ($bandSelects), " +
        "bs AS (SELECT band, bkey, count(*) AS b FROM bands GROUP BY band, bkey) " +
        "SELECT band, count(*) AS n_buckets, max(b) AS max_bucket, " +
        "(sum(b * (b - 1) // 2))::BIGINT AS pair_cost " +
        "FROM bs GROUP BY band ORDER BY band"
    },

    // the auto entry's gated plan choice: 32×4 prices over the admission
    // gate → the exact branch's all-pairs result must be what comes back
    "d5f_embed_auto" -> embedAutoOracleSql(bands = 32, bits = 4),

    // 16×8 prices under the gate → the LSH branch's banded-candidate set
    "d5g_embed_auto_lsh" -> embedAutoOracleSql(bands = 16, bits = 8),

    // d5b's banded-ordinal recipe in the cross-corpus probe shape, then
    // the surviving batch rows (exact-cosine verified matches anti-join)
    "d5c_embed_incremental" -> d5cOracleSql,

    // the ingest auto gate: 32×4 prices over → exact cross branch; 16×8
    // prices under → the banded probe branch — choice arithmetic gated
    "d5h_embed_incr_auto" -> embedIncrAutoOracleSql(bands = 32, bits = 4),
    "d5i_embed_incr_auto_lsh" -> embedIncrAutoOracleSql(bands = 16, bits = 8),

    // the index replay must reproduce d5c exactly — sketch bands + vectors
    // are the same relations whether derived inline or loaded from parquet
    "d5d_index_replay" -> d5cOracleSql,

    // the SQL-maintained vector index against the from-scratch
    // two-generation oracle: day-2 survivors screened against the base,
    // the day-3 probe screened against base ∪ survivors — the fold, the
    // compaction and the probe must be invisible relative to this
    "d5j_embed_index_update_sql" -> d5jOracleSql,
    // the guarded lifecycle admits every canonical day, so it must
    // reproduce the unguarded relation bit-for-bit (the d4b/d4f shared
    // oracle discipline)
    "d5k_embed_index_guarded_sql" -> d5jOracleSql,

    "sim_lsh_topk" -> {
      // 6-bit ordinal bucket (seed 42) + 1-bit multiprobe + exact cosine +
      // deterministic rank — mirrors Similarity.lshTopK(ordinal = true)
      val bucket = ordinalSketchSql("embedding", dim = 64, bits = 6, seed = 42L)
      s"WITH sk AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings), " +
        "q AS (SELECT vec_id AS query_id, embedding AS qe, bucket AS qb FROM sk WHERE vec_id < 10), " +
        "probes AS (SELECT query_id, qe, qb AS bucket FROM q " +
        "UNION ALL SELECT query_id, qe, xor(qb, (1::BIGINT << r.range)) AS bucket " +
        "FROM q CROSS JOIN range(0, 6) r), " +
        "scored AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id, " +
        "round(list_cosine_similarity(p.qe::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine " +
        "FROM probes p JOIN sk c ON p.bucket = c.bucket AND c.vec_id != p.query_id), " +
        "ranked AS (SELECT query_id, neighbor_id, cosine, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank " +
        "FROM scored) " +
        "SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5 " +
        "ORDER BY query_id, rank"
    },

    "q_load_chain" ->
      ("SELECT o_custkey, max(o_orderdate) AS o_orderdate, " +
        "max(o_totalprice) AS o_totalprice FROM orders " +
        "WHERE o_orderpriority IS NOT NULL GROUP BY o_custkey ORDER BY o_custkey"),

    "q_dashboard_chain" -> dashboardSqlText(forSpark = false),

    // the twin text rendered for DuckDB — same template as the Spark-side
    // string, so the oracle is canonically shared with q_dashboard_chain
    "q_dashboard_sql" -> dashboardSqlText(forSpark = false),

    "q_pipeline_chain" -> {
      val sampleTh = (BigDecimal(0.5) * BigDecimal(1L << 60)).toLong
      "WITH RECURSIVE " +
        s"gated AS (SELECT doc_id, text FROM documents WHERE ${langIdSql("text")} = 'en' " +
        s"AND ${qualitySql("text")} >= 0.3 AND ${repetitionSql("text")} <= 0.5), " +
        "dmin AS (SELECT min(doc_id) AS doc_id FROM gated " +
        "GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))), " +
        "kept AS (SELECT g.doc_id, g.text FROM gated g JOIN dmin USING (doc_id)), " +
        s"pairs AS (${bigramJaccardSqlOver("kept", 0.1)}), " +
        "bidir AS (SELECT id_1, id_2 FROM pairs UNION SELECT id_2, id_1 FROM pairs), " +
        "nodes AS (SELECT DISTINCT id_1 AS id FROM bidir), " +
        "reach(id, r) AS (SELECT id, id FROM nodes " +
        "UNION SELECT b.id_1, r.r FROM reach r JOIN bidir b ON b.id_2 = r.id), " +
        "losers AS (SELECT id FROM (SELECT id, min(r) AS component FROM reach GROUP BY id) " +
        "WHERE id != component), " +
        "final AS (SELECT doc_id, " +
        "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens, " +
        "doc_id % 8 AS shard FROM kept " +
        "WHERE doc_id NOT IN (SELECT id FROM losers) " +
        s"AND ('0x' || substr(md5(doc_id::VARCHAR || '_0'), 1, 15))::BIGINT < $sampleTh) " +
        "SELECT doc_id, n_tokens, shard, " +
        "CAST(((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - n_tokens) AS BIGINT) // 4096 AS bin " +
        "FROM final ORDER BY doc_id"
    },

    // t15's stride walk (300/50 → stride 250) + d1's fingerprint recipe
    "q_chunk_chain" ->
      ("WITH ch AS (SELECT doc_id, substr(text, s, 300) AS chunk " +
        "FROM (SELECT doc_id, text, unnest(range(1, greatest(len(text) - 50, 1) + 1, 250)) AS s " +
        "FROM documents WHERE len(text) > 0)) " +
        "SELECT d.source, count(*) AS n_chunks, " +
        "count(DISTINCT md5(regexp_replace(lower(ch.chunk), '[^a-z0-9]', '', 'g'))) AS n_unique " +
        "FROM ch JOIN documents d USING (doc_id) GROUP BY d.source ORDER BY d.source"),

    "q_curation_chain" -> {
      val splitTh = Sampling.splitThresholds(Seq("train" -> 0.9, "val" -> 0.1))
      "WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0), " +
        "corpus AS (SELECT * FROM documents WHERE doc_id % 17 != 0), " +
        "dmin AS (SELECT min(doc_id) AS doc_id FROM corpus " +
        "GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))), " +
        "kept AS (SELECT c.* FROM corpus c JOIN dmin USING (doc_id)), " +
        s"tsh AS (${trigramGramsSqlOver("kept")}), " +
        s"xsh AS (${trigramGramsSqlOver("bench")}), " +
        decontaminationCtes(maxDf = 50) + ", " +
        "dirty AS (SELECT DISTINCT train_id AS doc_id FROM contam WHERE containment >= 0.5), " +
        "clean AS (SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dirty)), " +
        "shmap AS (SELECT * FROM (VALUES ('src0', CAST(0.4 AS DOUBLE)), " +
        "('src1', CAST(0.3 AS DOUBLE)), ('src2', CAST(0.2 AS DOUBLE)), " +
        "('src3', CAST(0.1 AS DOUBLE))) AS t(source, share)), " +
        "cnt AS (SELECT source, count(*) AS n FROM clean GROUP BY source), " +
        "mj AS (SELECT c.source, c.n, s.share FROM cnt c JOIN shmap s USING (source)), " +
        "mt AS (SELECT min(n / share) AS T FROM mj), " +
        "pm AS (SELECT mj.source, CAST(floor(least(CAST(1.0 AS DOUBLE), " +
        "mt.T * mj.share / mj.n) * 1152921504606846976) AS BIGINT) AS th " +
        "FROM mj CROSS JOIN mt), " +
        "mixed AS (SELECT c.* FROM clean c JOIN pm USING (source) " +
        "WHERE ('0x' || substr(md5(c.doc_id::VARCHAR || '_mx0'), 1, 15))::BIGINT < pm.th), " +
        "train AS (SELECT * FROM mixed WHERE " +
        s"('0x' || substr(md5(doc_id::VARCHAR || '_sp0'), 1, 15))::BIGINT < ${splitTh(0)}), " +
        "final AS (SELECT doc_id, " +
        "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens, " +
        "doc_id % 8 AS shard FROM train) " +
        "SELECT doc_id, n_tokens, shard, " +
        "CAST(((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - n_tokens) AS BIGINT) // 4096 AS bin " +
        "FROM final ORDER BY doc_id"
    },

    // the incremental family composed: self-dedup → corpus-fingerprint
    // anti (bloom path is exact, so the plain NOT IN is its oracle) →
    // cross-corpus trigram-jaccard anti (the d2b form) → quality gate →
    // shard-packed token budget
    "q_ingest_chain" ->
      ("WITH batch AS (SELECT * FROM documents WHERE doc_id % 13 = 0), " +
        "corpus AS (SELECT * FROM documents WHERE doc_id % 13 != 0), " +
        "dmin AS (SELECT min(doc_id) AS doc_id FROM batch " +
        "GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))), " +
        "selfkept AS (SELECT b.* FROM batch b JOIN dmin USING (doc_id)), " +
        "cfp AS (SELECT DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp FROM corpus), " +
        "ex AS (SELECT * FROM selfkept " +
        "WHERE md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) NOT IN (SELECT fp FROM cfp)), " +
        s"sh AS (${trigramGramsSqlOver("documents")}), " +
        "inv AS (SELECT doc_id, len(grams) AS n_sh, unnest(grams) AS s FROM sh), " +
        "m AS (SELECT a.doc_id AS id_1 FROM inv a JOIN inv b ON a.s = b.s " +
        "AND a.doc_id % 13 = 0 AND b.doc_id % 13 != 0 GROUP BY a.doc_id, b.doc_id " +
        "HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= 0.5), " +
        "near AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT id_1 FROM m)), " +
        s"gated AS (SELECT * FROM near WHERE ${qualitySql("text")} >= 0.3), " +
        "final AS (SELECT doc_id, " +
        "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens, " +
        "doc_id % 4 AS shard FROM gated) " +
        "SELECT doc_id, n_tokens, shard, " +
        "CAST(((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - n_tokens) AS BIGINT) // 2048 AS bin " +
        "FROM final ORDER BY doc_id"),

    "g4_custom_agg" ->
      ("SELECT round((min(c_acctbal) + max(c_acctbal)) / 2.0, 4) AS midrange_c_acctbal, " +
        "round(max(c_acctbal) - min(c_acctbal), 4) AS spread_c_acctbal FROM customer"),

    "g4b_custom_group_agg" ->
      ("SELECT c_mktsegment, " +
        "round((min(c_acctbal) + max(c_acctbal)) / 2.0, 4) AS midrange_c_acctbal, " +
        "round(max(c_acctbal) - min(c_acctbal), 4) AS spread_c_acctbal " +
        "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"),

    "d3_simhash" ->
      s"WITH $simhashCte SELECT doc_id, simhash FROM sh ORDER BY doc_id",

    "d3b_simhash_pairs" ->
      (s"WITH $simhashCte " +
        "SELECT a.doc_id AS id_1, b.doc_id AS id_2, " +
        "bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 ORDER BY id_1, id_2"),

    // d3b's candidate set re-verified by levenshtein on the raw texts
    "d9_fuzzy_pairs" ->
      (s"WITH $simhashCte, " +
        "cand AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2 " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3) " +
        "SELECT c.id_1, c.id_2, levenshtein(d1.text, d2.text)::BIGINT AS edit_dist " +
        "FROM cand c JOIN documents d1 ON c.id_1 = d1.doc_id " +
        "JOIN documents d2 ON c.id_2 = d2.doc_id " +
        "WHERE levenshtein(d1.text, d2.text) <= 40 ORDER BY id_1, id_2"),

    // the cross-corpus fuzzy gate: hamming-pruned candidates (pigeonhole-
    // complete at <= 3, as in the d9 oracle) re-verified by levenshtein,
    // then the surviving batch rows
    "d9d_fuzzy_incremental" ->
      (s"WITH $simhashCte, " +
        "m AS (SELECT DISTINCT a.doc_id AS id_1 " +
        "FROM sh a JOIN sh b ON a.doc_id % 9 = 0 AND b.doc_id % 9 != 0 " +
        "JOIN documents d1 ON a.doc_id = d1.doc_id " +
        "JOIN documents d2 ON b.doc_id = d2.doc_id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 " +
        "AND levenshtein(d1.text, d2.text) <= 40) " +
        "SELECT doc_id, n_chars FROM documents WHERE doc_id % 9 = 0 " +
        "AND doc_id NOT IN (SELECT id_1 FROM m) ORDER BY doc_id"),

    // the fuzzy family's (chunk, ckey, lenBucket) cell histogram — the
    // frame d9b's cap derivation reads; cell_size*(cell_size-1) is even
    // so // 2 is exact integer arithmetic in both engines
    "d9c_cell_stats" ->
      (s"WITH $fuzzyCellsCte, " +
        "hist AS (SELECT cell_size, count(*)::BIGINT AS n_cells FROM cells GROUP BY cell_size), " +
        "c AS (SELECT cell_size, n_cells, " +
        "(n_cells * (cell_size * (cell_size - 1) // 2))::BIGINT AS pair_cost FROM hist) " +
        "SELECT cell_size, n_cells, pair_cost, " +
        "(sum(pair_cost) OVER (ORDER BY cell_size))::BIGINT AS cum_pair_cost " +
        "FROM c ORDER BY cell_size"),

    // d9's pipeline with the admission cap DERIVED in SQL from the same
    // cell histogram + budget the Spark side uses — gates the derivation
    // arithmetic AND the capped candidate join, not just the verified set.
    // abs(hb diff) <= 1 in SQL == Spark's adjacent-bucket replication
    "d9b_fuzzy_budget" ->
      (s"WITH $fuzzyCellsCte, " +
        "hist AS (SELECT cell_size, count(*) AS n FROM cells GROUP BY cell_size), " +
        "cum AS (SELECT cell_size, sum(n * (cell_size * (cell_size - 1) // 2)) " +
        "OVER (ORDER BY cell_size) AS c FROM hist), " +
        "cap AS (SELECT greatest(coalesce((SELECT max(cell_size) FROM cum WHERE c <= 3000), 2), 2) AS cap), " +
        "adm AS (SELECT ch.* FROM ch JOIN cells USING (chunk, ckey, hb) " +
        "WHERE cells.cell_size <= (SELECT cap FROM cap)), " +
        "cand AS (SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2 " +
        "FROM adm a JOIN adm b ON a.chunk = b.chunk AND a.ckey = b.ckey " +
        "AND abs(a.hb - b.hb) <= 1 AND a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 AND abs(a.len - b.len) <= 40) " +
        "SELECT c.id_1, c.id_2, levenshtein(d1.text, d2.text)::BIGINT AS edit_dist " +
        "FROM cand c JOIN documents d1 ON c.id_1 = d1.doc_id " +
        "JOIN documents d2 ON c.id_2 = d2.doc_id " +
        "WHERE levenshtein(d1.text, d2.text) <= 40 ORDER BY id_1, id_2"),

    // the auto gate's FULL derivation in SQL: budget = 64 × |documents|,
    // cap from the same histogram (non-binding budget ⇒ cap = max cell
    // size ⇒ admits everything ⇒ identical to the full-admission plan,
    // which is exactly the Spark gate's uncapped branch) — one capped
    // formulation gates both branches of the plan choice
    "d9e_fuzzy_auto" ->
      (s"WITH $fuzzyCellsCte, " +
        "hist AS (SELECT cell_size, count(*) AS n FROM cells GROUP BY cell_size), " +
        "cum AS (SELECT cell_size, sum(n * (cell_size * (cell_size - 1) // 2)) " +
        "OVER (ORDER BY cell_size) AS c FROM hist), " +
        "budget AS (SELECT 64 * (SELECT count(*) FROM documents) AS b), " +
        "cap AS (SELECT greatest(coalesce((SELECT max(cell_size) FROM cum " +
        "WHERE c <= (SELECT b FROM budget)), 2), 2) AS cap), " +
        "adm AS (SELECT ch.* FROM ch JOIN cells USING (chunk, ckey, hb) " +
        "WHERE cells.cell_size <= (SELECT cap FROM cap)), " +
        "cand AS (SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2 " +
        "FROM adm a JOIN adm b ON a.chunk = b.chunk AND a.ckey = b.ckey " +
        "AND abs(a.hb - b.hb) <= 1 AND a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 AND abs(a.len - b.len) <= 40) " +
        "SELECT c.id_1, c.id_2, levenshtein(d1.text, d2.text)::BIGINT AS edit_dist " +
        "FROM cand c JOIN documents d1 ON c.id_1 = d1.doc_id " +
        "JOIN documents d2 ON c.id_2 = d2.doc_id " +
        "WHERE levenshtein(d1.text, d2.text) <= 40 ORDER BY id_1, id_2"),

    "d4b_jaccard_sparse" -> d4bSparseOracleSql,

    // the guarded plain name must reproduce the fixed-cap relation
    // EXACTLY (the guard only prices and refuses; it never changes the
    // admitted candidate set) — same oracle text as d4b
    "d4f_jaccard_sparse_guarded" -> d4bSparseOracleSql,

    // the df histogram recomputed over raw grams (Spark counts 64-bit
    // shingle keys — identical modulo hash collisions, as everywhere);
    // df*(df-1) is even so // 2 is exact integer arithmetic in both engines
    "d4c_df_stats" ->
      (s"WITH $trigramShCte, " +
        "inv AS (SELECT doc_id, unnest(grams) AS g FROM sh), " +
        "dfs AS (SELECT g, count(*) AS df FROM inv GROUP BY g), " +
        "hist AS (SELECT df, count(*)::BIGINT AS n_shingles FROM dfs GROUP BY df), " +
        "c AS (SELECT df, n_shingles, " +
        "(n_shingles * (df * (df - 1) // 2))::BIGINT AS pair_cost FROM hist) " +
        "SELECT df, n_shingles, pair_cost, " +
        "(sum(pair_cost) OVER (ORDER BY df))::BIGINT AS cum_pair_cost " +
        "FROM c ORDER BY df"),

    // the same histogram over the deterministic 25% md5-coin sample (the
    // s5 coin, same seed-0 literal), with the 1/rate² scaled estimate
    // columns — exact arithmetic on the sample gates the sampling itself
    "d4e_df_stats_sampled" ->
      ("WITH dd AS (SELECT doc_id, text FROM documents WHERE " +
        "('0x' || substr(md5(doc_id::VARCHAR || '_0'), 1, 15))::BIGINT < " +
        s"${(BigDecimal(0.25) * BigDecimal(1L << 60)).toLong}), " +
        trigramShCteOver("dd") + ", " +
        "inv AS (SELECT doc_id, unnest(grams) AS g FROM sh), " +
        "dfs AS (SELECT g, count(*) AS df FROM inv GROUP BY g), " +
        "hist AS (SELECT df, count(*)::BIGINT AS n_shingles FROM dfs GROUP BY df), " +
        "c AS (SELECT df, n_shingles, " +
        "(n_shingles * (df * (df - 1) // 2))::BIGINT AS pair_cost FROM hist), " +
        "cc AS (SELECT df, n_shingles, pair_cost, " +
        "(sum(pair_cost) OVER (ORDER BY df))::BIGINT AS cum_pair_cost FROM c) " +
        "SELECT df, n_shingles, pair_cost, cum_pair_cost, " +
        "round(pair_cost / 0.0625, 6) AS est_pair_cost, " +
        "round(cum_pair_cost / 0.0625, 6) AS est_cum_pair_cost " +
        "FROM cc ORDER BY df"),

    // d4b's pipeline with the ceiling DERIVED in SQL from the same
    // histogram + budget the Spark side uses: greatest(max df with
    // cum cost <= 12000, 2) — gates the derivation arithmetic, not just
    // the pruned pair set
    "d4d_jaccard_sparse_auto" ->
      (s"WITH $trigramShCte, " +
        "inv AS (SELECT doc_id, unnest(grams) AS g FROM sh), " +
        "dfs AS (SELECT g, count(*) AS df FROM inv GROUP BY g), " +
        "hist AS (SELECT df, count(*) AS n FROM dfs GROUP BY df), " +
        "cum AS (SELECT df, sum(n * (df * (df - 1) // 2)) OVER (ORDER BY df) AS c FROM hist), " +
        "lim AS (SELECT greatest(coalesce((SELECT max(df) FROM cum WHERE c <= 12000), 2), 2) AS maxdf), " +
        "rare AS (SELECT g FROM dfs WHERE df <= (SELECT maxdf FROM lim)), " +
        "cand AS (SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2 " +
        "FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id " +
        "WHERE a.g IN (SELECT g FROM rare)), " +
        "v AS (SELECT c.id_1, c.id_2, " +
        "len(list_intersect(s1.grams, s2.grams))::DOUBLE AS inter, " +
        "(len(s1.grams) + len(s2.grams))::DOUBLE AS sz " +
        "FROM cand c JOIN sh s1 ON c.id_1 = s1.doc_id JOIN sh s2 ON c.id_2 = s2.doc_id) " +
        "SELECT id_1, id_2, round(CASE WHEN sz > inter THEN inter / (sz - inter) " +
        "ELSE 0 END, 6) AS jaccard FROM v " +
        "WHERE round(CASE WHEN sz > inter THEN inter / (sz - inter) ELSE 0 END, 6) >= 0.2 " +
        "ORDER BY id_1, id_2"),

    "m2_multimodal_decode" ->
      ("SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' " +
        "ELSE 'video' END AS media_type, octet_length(encode(text))::BIGINT AS byte_len, " +
        "sha256(text) AS sha256, " +
        "(1 + ('0x' || substr(sha256(text),1,6))::BIGINT % 4096)::BIGINT AS width, " +
        "(1 + ('0x' || substr(sha256(text),7,6))::BIGINT % 2160)::BIGINT AS height, " +
        "(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 1 + ('0x' || substr(sha256(text),13,6))::BIGINT % 14400 END)::BIGINT AS n_frames, " +
        "(CASE WHEN doc_id % 3 = 0 THEN 0 ELSE ('0x' || substr(sha256(text),19,12))::BIGINT % 600000 END)::BIGINT AS duration_ms " +
        "FROM documents ORDER BY doc_id"),

    "s1_csv_scan" ->
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey",

    // round-trip fidelity: the JSONL write/read must reproduce the parquet
    // original bit-for-bit, so the oracle is the original table itself
    "s6_jsonl_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",

    // the partitioned detour must reproduce the en slice exactly
    "s7_partitioned_roundtrip" ->
      ("SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "WHERE lang = 'en' ORDER BY doc_id"),

    "s6b_jsonl_gz" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",

    // exactly the 5 injected garbage lines quarantine; every real doc
    // parses — the counts are derivable without running the parser
    "s6c_jsonl_quarantine" ->
      ("SELECT * FROM (SELECT 'corrupt' AS kind, 5::BIGINT AS n " +
        "UNION ALL SELECT 'well', count(*) FROM documents) ORDER BY kind"),

    // old rows surface with a null for the later-added column; new rows
    // carry the derived value — recomputed directly from the base table
    "s13_schema_evolution" ->
      ("SELECT doc_id, text, CASE WHEN doc_id % 2 = 1 " +
        "THEN round(n_chars / 100.0, 4) + 0.0 END AS quality " +
        "FROM documents ORDER BY doc_id"),

    // format round trips: the oracle is the ORIGINAL relation — the format
    // may only change bytes on disk, never data
    "s10_orc_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",

    "s11_text_roundtrip" ->
      ("SELECT text AS value FROM documents " +
        "WHERE position(chr(10) IN text) = 0 AND position(chr(13) IN text) = 0 ORDER BY value"),

    "s12_zstd_roundtrip" ->
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id",

    // the export's shard membership and in-shard key range recomputed from
    // first principles: key = md5-60bit('epoch0:' || id), shard = key % 8
    "s8_shuffle_export" ->
      ("WITH k AS (SELECT doc_id, " +
        "('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS key " +
        "FROM documents) " +
        "SELECT key % 8 AS shard, count(*)::BIGINT AS n_docs, " +
        "sum(doc_id)::BIGINT AS sum_doc_id, min(key) AS min_key, max(key) AS max_key " +
        "FROM k GROUP BY shard ORDER BY shard"),

    // the layout is invisible to semantics: the box filter over the
    // z-ordered export must return exactly the source table's rows
    "s9_zorder_export" ->
      ("SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem " +
        "WHERE l_quantity BETWEEN 10 AND 15 AND l_extendedprice <= 20000 " +
        "ORDER BY l_orderkey, l_linenumber"),

    "f1_filter" ->
      "SELECT * FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R' ORDER BY l_orderkey, l_linenumber",

    "p1_select" ->
      "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem ORDER BY l_orderkey, l_partkey, l_quantity",

    "o1_sort" ->
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_orderkey ASC NULLS LAST",

    "g2_group_agg" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS count_l_quantity, " +
        "sum(l_quantity) AS sum_l_quantity, round(avg(l_quantity), 4) AS avg_l_quantity, " +
        "min(l_quantity) AS min_l_quantity, max(l_quantity) AS max_l_quantity, " +
        "round(median(l_quantity), 4) AS median_l_quantity, " +
        "round(stddev_samp(l_quantity), 4) AS std_l_quantity " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),

    "g3_global_agg" ->
      ("SELECT count(*) AS count_c_acctbal, round(sum(c_acctbal), 2) AS sum_c_acctbal, " +
        "round(avg(c_acctbal), 4) AS avg_c_acctbal, min(c_acctbal) AS min_c_acctbal, " +
        "max(c_acctbal) AS max_c_acctbal, round(median(c_acctbal), 4) AS median_c_acctbal, " +
        "round(stddev_samp(c_acctbal), 4) AS std_c_acctbal FROM customer"),

    "j1_join_inner" ->
      ("SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate, " +
        "o.o_orderpriority, c.c_custkey AS r_c_custkey, c.c_name AS r_c_name, " +
        "c.c_nationkey AS r_c_nationkey, c.c_acctbal AS r_c_acctbal, " +
        "c.c_mktsegment AS r_c_mktsegment " +
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY o.o_orderkey"),

    // the salted plan must reproduce the plain inner join bit for bit
    "j5_salted_join" ->
      ("SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate, " +
        "o.o_orderpriority, c.c_custkey AS r_c_custkey, c.c_name AS r_c_name, " +
        "c.c_nationkey AS r_c_nationkey, c.c_acctbal AS r_c_acctbal, " +
        "c.c_mktsegment AS r_c_mktsegment " +
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY o.o_orderkey"),

    // counts/share/skew recomputed from first principles; ties at the
    // top-k boundary break by key so membership is deterministic
    "j6_skew_stats" ->
      ("WITH c AS (SELECT l_suppkey, count(*)::BIGINT AS n FROM lineitem GROUP BY l_suppkey), " +
        "t AS (SELECT sum(n)::BIGINT AS tot, count(*)::BIGINT AS nk FROM c) " +
        "SELECT l_suppkey, n, round(n::DOUBLE / tot, 6) AS share, " +
        "round(n::DOUBLE * nk / tot, 4) AS skew " +
        "FROM c CROSS JOIN t ORDER BY n DESC, l_suppkey ASC LIMIT 20"),

    "j1_join_left" ->
      ("SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment, " +
        "o.o_orderkey AS r_o_orderkey, o.o_custkey AS r_o_custkey, " +
        "o.o_orderstatus AS r_o_orderstatus, o.o_totalprice AS r_o_totalprice, " +
        "o.o_orderdate AS r_o_orderdate, o.o_orderpriority AS r_o_orderpriority " +
        "FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey " +
        "ORDER BY c.c_custkey, r_o_orderkey ASC NULLS FIRST"),

    "j2_join_semi" ->
      ("SELECT * FROM customer c WHERE EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) ORDER BY c_custkey"),

    "j2_join_anti" ->
      ("SELECT * FROM customer c WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) ORDER BY c_custkey"),

    "x2_setops" ->
      ("SELECT o_orderkey FROM (" +
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'O' " +
        "UNION " +
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'P' " +
        "EXCEPT " +
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_totalprice > 200000" +
        ") ORDER BY o_orderkey"),

    "j1_join_full" ->
      ("SELECT b.c_nationkey, b.n_building, s.s_nationkey AS r_s_nationkey, " +
        "s.n_suppliers AS r_n_suppliers FROM " +
        "(SELECT c_nationkey, count(*) AS n_building FROM customer " +
        "WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey) b " +
        "FULL JOIN (SELECT s_nationkey, count(*) AS n_suppliers FROM supplier " +
        "GROUP BY s_nationkey) s ON b.c_nationkey = s.s_nationkey " +
        "ORDER BY b.c_nationkey ASC NULLS FIRST, r_s_nationkey ASC NULLS FIRST"),

    "g6b_cube" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS count_l_quantity, " +
        "sum(l_quantity) AS sum_l_quantity FROM lineitem " +
        "GROUP BY CUBE (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),

    "g5_distinct_count" ->
      ("SELECT l_returnflag, count(DISTINCT l_suppkey) AS distinct_l_suppkey " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    "g6_rollup" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS count_l_quantity, " +
        "sum(l_quantity) AS sum_l_quantity FROM lineitem " +
        "GROUP BY ROLLUP (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),

    "a2_notnull" ->
      "SELECT * FROM orders WHERE o_orderpriority IS NOT NULL ORDER BY o_orderkey",

    "a4_isin" ->
      "SELECT * FROM orders WHERE o_orderstatus IN ('O', 'P') ORDER BY o_orderkey",

    "a5_between" ->
      ("SELECT * FROM orders WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND " +
        "TIMESTAMP '1996-12-31' ORDER BY o_orderkey"),

    "a3_latest_table" ->
      ("SELECT l_suppkey, max(l_quantity) AS l_quantity, " +
        "max(l_extendedprice) AS l_extendedprice, max(l_discount) AS l_discount, " +
        "max(l_shipdate) AS l_shipdate FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey"),

    "a6_distinct" ->
      "SELECT DISTINCT p_brand FROM part ORDER BY p_brand",

    "a7_minmax" ->
      "SELECT min(o_orderdate) AS min_o_orderdate, max(o_orderdate) AS max_o_orderdate FROM orders",

    "a8_argmax" ->
      ("SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority " +
        "FROM (SELECT o.*, row_number() OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders o) WHERE rn = 1 " +
        "ORDER BY o_custkey"),

    "a9_pivot" ->
      ("SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, " +
        "max(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) AS \"O\", " +
        "max(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) AS \"F\", " +
        "max(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END) AS \"P\" " +
        "FROM orders GROUP BY 1 ORDER BY o_year"),

    "a10_ffill" ->
      ("SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
        "last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled " +
        "FROM events ORDER BY user_id, ts_us, event_id"),

    "a17_rolling" ->
      ("SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
        "round(avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS rolling_avg " +
        "FROM events ORDER BY user_id, ts_us, event_id"),

    "a18_lag_delta" ->
      ("SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
        "round(value - lag(value) OVER (PARTITION BY user_id " +
        "ORDER BY epoch_us(ts), event_id), 4) + 0.0 AS delta " +
        "FROM events ORDER BY user_id, ts_us, event_id"),

    "a19_rank" ->
      ("SELECT c_custkey, c_mktsegment, acct_cents, bal_rank, bal_dense_rank FROM (" +
        "SELECT c_custkey, c_mktsegment, " +
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acct_cents, " +
        "rank() OVER w AS bal_rank, dense_rank() OVER w AS bal_dense_rank " +
        "FROM customer WINDOW w AS (PARTITION BY c_mktsegment " +
        "ORDER BY CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) DESC)) " +
        "WHERE bal_rank <= 10 ORDER BY c_mktsegment, bal_rank, c_custkey"),

    "x2b_intersect" ->
      ("SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' " +
        "INTERSECT " +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' ORDER BY o_custkey"),

    "g8_having" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem " +
        "GROUP BY l_returnflag, l_linestatus HAVING count(*) >= 1000 " +
        "ORDER BY l_returnflag, l_linestatus"),

    "x1_corr" ->
      ("SELECT round(CASE WHEN count(CASE WHEN l_quantity IS NOT NULL AND " +
        "l_extendedprice IS NOT NULL THEN 1 END) >= 3 " +
        "THEN coalesce(corr(l_quantity, l_extendedprice), 0.0) END, 4) + 0.0 AS corr_qty_price " +
        "FROM lineitem"),

    "a12_topn" ->
      "SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10",

    "a13_rename" ->
      "SELECT n_nationkey, n_name AS nation_name, n_regionkey FROM nation ORDER BY n_nationkey",

    "a14_count" ->
      "SELECT count(*) AS n_rows FROM lineitem",

    "q_covid_chain" -> qCovidOracleSql,

    // the textual-SQL rendition runs the SAME relation, so it shares the
    // chain's oracle verbatim
    "q_covid_sql" -> qCovidOracleSql,

    "q1_pricing" ->
      ("SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_base_price, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price, " +
        "round(avg(l_quantity), 4) AS avg_qty, round(avg(l_extendedprice), 4) AS avg_price, " +
        "count(*) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),

    "q6_forecast" ->
      ("SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue, " +
        "count(*) AS n_items FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.02 AND 0.04 AND l_quantity < 24"),

    "q7_volume_shipping" ->
      ("SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "CAST(year(l_shipdate) AS INT) AS l_year, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
        "WHERE n1.n_name != n2.n_name " +
        "GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS INT) " +
        "ORDER BY supp_nation, cust_nation, l_year"),

    "q10_returned_items" ->
      ("SELECT c_custkey, c_name, n_name, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1995-01-01' " +
        "AND o_orderdate < TIMESTAMP '1996-01-01' " +
        "GROUP BY c_custkey, c_name, n_name " +
        "ORDER BY revenue DESC, c_custkey LIMIT 20"),

    "q3_shipping" ->
      ("SELECT l_orderkey, o_orderdate, o_orderpriority, CAST(revenue AS DOUBLE) AS revenue FROM (" +
        "SELECT l_orderkey, o_orderdate, o_orderpriority, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1996-06-01' " +
        "AND l_shipdate > TIMESTAMP '1996-06-01' " +
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority " +
        "ORDER BY revenue DESC, l_orderkey ASC LIMIT 10)"),

    "q5_region" ->
      ("SELECT n_name, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name ASC"),

    "q18_large_orders" ->
      ("SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty FROM (" +
        "SELECT l_orderkey, sum(l_quantity) AS total_qty FROM lineitem " +
        "GROUP BY l_orderkey HAVING sum(l_quantity) > 250) big " +
        "JOIN orders ON o_orderkey = big.l_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"),

    "d1_dedup_exact" ->
      ("SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint, " +
        "min(doc_id) AS doc_id, count(*) AS n_dups FROM documents GROUP BY 1 ORDER BY 1"),

    "d2_minhash_lsh" -> (trigramJaccardSql + " ORDER BY id_1, id_2"),

    // the collapsed path's contract IS the plain relation over the
    // dup-injected union — the oracle replays the injection and computes
    // exact trigram Jaccard over it, blind to the collapse
    "d2f_collapsed_minhash" ->
      dupInjectedMinhashOracleSql,

    // the auto entry is result-identical to d2f on the same fixture
    "d2g_minhash_auto" ->
      dupInjectedMinhashOracleSql,

    "d4_ngram_jaccard" -> (bigramJaccardSql + " ORDER BY id_1, id_2"),

    "d7_decontaminate" -> d7OracleSql,

    // the exact-13-gram gate recomputed over raw gram strings (Spark
    // counts 64-bit shingle keys — identical modulo hash collisions)
    "d7e_exact_ngram_decon" ->
      (s"WITH tsh AS (${ngramGramsSqlOver("documents WHERE doc_id % 4 != 0", 13)}), " +
        s"xsh AS (${ngramGramsSqlOver("documents WHERE doc_id % 4 = 0", 13)}), " +
        "bg AS (SELECT DISTINCT unnest(grams) AS g FROM xsh), " +
        "tg AS (SELECT doc_id, unnest(grams) AS g FROM tsh) " +
        "SELECT tg.doc_id AS train_id, count(*)::BIGINT AS n_hit_grams " +
        "FROM tg JOIN bg USING (g) GROUP BY tg.doc_id ORDER BY train_id"),

    // the index replay must reproduce d7 exactly — sets + df-capped
    // inverted index are the same relations whether derived inline or
    // loaded from the sharded parquet index
    "d7b_decon_replay" -> d7OracleSql,

    // the lifecycle gate: build(train₁) → update(train₂) must equal the
    // from-scratch index over train₁ ∪ train₂ — d7's relation exactly,
    // including entries tombstoned when the update pushed a shingle past
    // the df cap
    "d7c_decon_update" -> d7OracleSql,

    // compaction is a physical rewrite only: build → update → COMPACT →
    // probe must still produce d7's relation bit-for-bit (tombstones now
    // applied into inv/ instead of anti-joined at read time)
    "d7d_decon_compact" -> d7OracleSql,

    // the SQL-text lifecycle (build → fold → compact → probe as pure SQL,
    // df-cap tombstones included) must land on the same from-scratch
    // relation as every other d7 sibling
    "d7f_decon_lifecycle_sql" -> d7OracleSql,

    // components over the same pairs via transitive closure (recursive CTE)
    "d6_components" -> d6OracleSql,

    // the incremental fold must reproduce the FROM-SCRATCH components over
    // the full pair union — the label-contraction identity, driver-gated
    "d6c_components_incremental" -> d6OracleSql,

    "d5_embed_neardup" ->
      ("SELECT a.vec_id AS id_1, b.vec_id AS id_2, " +
        "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35 " +
        "ORDER BY id_1, id_2"),

    // the sim_ivf_trained k-means replay (a2 = trained cell assignment),
    // then within-cell cosine pairs and d6b's component/min-id keep
    "d10_semdedup" ->
      (kmeansCtesSql(dim = 64, k = 8, seed = "kmeans")
        .replaceFirst("^WITH ", "WITH RECURSIVE ") + ", " +
        "pairs AS (SELECT a.vec_id AS id_1, b.vec_id AS id_2 FROM a2 a " +
        "JOIN a2 b ON a.cell = b.cell AND a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4), " +
        "bidir AS (SELECT id_1, id_2 FROM pairs UNION SELECT id_2, id_1 FROM pairs), " +
        "nodes AS (SELECT DISTINCT id_1 AS id FROM bidir), " +
        "reach(id, r) AS (SELECT id, id FROM nodes " +
        "UNION SELECT b.id_1, r.r FROM reach r JOIN bidir b ON b.id_2 = r.id), " +
        "losers AS (SELECT id FROM (SELECT id, min(r) AS component FROM reach GROUP BY id) " +
        "WHERE id != component) " +
        "SELECT vec_id, label FROM embeddings " +
        "WHERE vec_id NOT IN (SELECT id FROM losers) ORDER BY vec_id"),

    // the corpus-trained quantizer (a2/cents over vec_id % 11 != 0), the
    // batch assigned to the FROZEN cents (cos DESC, cell ASC — the
    // packed-argmax tie rule), then the within-cell probe + anti join
    "d10c_semdedup_incremental" ->
      (kmeansCtesSql(dim = 64, k = 8, seed = "kmeans",
        src = "(SELECT * FROM embeddings WHERE vec_id % 11 <> 0)") + ", " +
        "bq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 11 = 0), " +
        "ba AS (SELECT vec_id, embedding, cell FROM (SELECT b.vec_id, b.embedding, c.cell, " +
        "row_number() OVER (PARTITION BY b.vec_id ORDER BY " +
        "round(list_cosine_similarity(b.embedding::DOUBLE[], c.centroid), 6) DESC, c.cell ASC) AS rn " +
        "FROM bq b CROSS JOIN cents c) WHERE rn = 1), " +
        "matched AS (SELECT DISTINCT ba.vec_id FROM ba JOIN a2 e ON e.cell = ba.cell " +
        "WHERE round(list_cosine_similarity(ba.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) >= 0.4) " +
        "SELECT vec_id, label FROM embeddings WHERE vec_id % 11 = 0 " +
        "AND vec_id NOT IN (SELECT vec_id FROM matched) ORDER BY vec_id"),

    // same trained cells (a2), then the d9c histogram arithmetic
    "d10b_cell_stats" ->
      (kmeansCtesSql(dim = 64, k = 8, seed = "kmeans") + ", " +
        "cs AS (SELECT cell, count(*)::BIGINT AS cell_size FROM a2 GROUP BY cell), " +
        "hist AS (SELECT cell_size, count(*)::BIGINT AS n_cells FROM cs GROUP BY cell_size), " +
        "c AS (SELECT cell_size, n_cells, " +
        "(n_cells * (cell_size * (cell_size - 1) // 2))::BIGINT AS pair_cost FROM hist) " +
        "SELECT cell_size, n_cells, pair_cost, " +
        "(sum(pair_cost) OVER (ORDER BY cell_size))::BIGINT AS cum_pair_cost " +
        "FROM c ORDER BY cell_size"),

    "sim_ivf_topk" -> {
      // float-quantized 4dp centroids — the exact values the Spark side
      // computes (see Similarity.labelCentroidVectors)
      val centCols = (1 to 64).map(i =>
        s"CAST(CAST(round(avg(embedding[$i]), 4) + 0.0 AS FLOAT) AS DOUBLE)").mkString(", ")
      s"WITH cents AS (SELECT label, [$centCols] AS centroid FROM embeddings GROUP BY label), " +
        "q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10), " +
        "cellrank AS (SELECT q.query_id, q.qe, c.label, row_number() OVER (" +
        "PARTITION BY q.query_id ORDER BY " +
        "round(list_cosine_similarity(q.qe::DOUBLE[], c.centroid), 6) DESC, c.label ASC) AS crn " +
        "FROM q CROSS JOIN cents c), " +
        "probed AS (SELECT query_id, qe, label FROM cellrank WHERE crn <= 3), " +
        "scored AS (SELECT p.query_id, e.vec_id AS neighbor_id, " +
        "round(list_cosine_similarity(p.qe::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine " +
        "FROM probed p JOIN embeddings e ON e.label = p.label AND e.vec_id != p.query_id), " +
        "ranked AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (" +
        "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored) " +
        "SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5 " +
        "ORDER BY query_id, rank"
    },

    "sim_ivf_trained" -> kmeansIvfSql(dim = 64, k = 8, probes = 3, topK = 5,
      seed = "kmeans"),

    // the materialized-index replay must reproduce the inline trained form
    // exactly — cells and centroids are the same relations whether derived
    // by the builder or loaded from the sharded parquet index
    "sim_ivf_index_replay" -> kmeansIvfSql(dim = 64, k = 8, probes = 3, topK = 5,
      seed = "kmeans"),

    // the SQL-text probe runs against the same materialized index as the
    // replay row — one oracle covers both surfaces
    "sim_probe_sql" -> kmeansIvfSql(dim = 64, k = 8, probes = 3, topK = 5,
      seed = "kmeans"),

    // the SQL-maintained cells table against the from-scratch oracle:
    // base-trained frozen centroids, batch folded by the same argmax,
    // top-k over the union — INSERT + compaction must be invisible
    "sim_ivf_update_sql" -> ivfUpdateOracleSql(dim = 64, k = 8, probes = 3,
      topK = 5, seed = "kmeans"),

    "sim_ivf_retrain" -> ivfRetrainOracleSql(dim = 64, k = 8,
      seed = "kmeans", thresholds = Seq(SimRetrainFire, SimRetrainHold)),

    "sim_ivf_retrain_k" -> ivfRetrainKOracleSql(dim = 64, bootK = 8,
      seed = "kmeans",
      targets = Seq(SimRetrainKGrow -> "g", SimRetrainKFloor -> "f"),
      clampMaxK = SimRetrainKClampMax, maxK = 1 << 20),

    // the quota sampler's rank applied to the deterministic Lloyd
    // assignment — at most 40 per cell, smallest id-hashes win
    "sim_cluster_cap" ->
      (s"${kmeansCtesSql(dim = 64, k = 8, seed = "kmeans")} " +
        "SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() OVER (" +
        "PARTITION BY cell ORDER BY " +
        "('0x' || substr(md5(vec_id::VARCHAR || '_q0'), 1, 15))::BIGINT ASC, vec_id ASC" +
        ") AS qrn FROM a2) WHERE qrn <= 40 ORDER BY vec_id"),

    // occupancy of the SAME deterministic Lloyd assignment the index
    // materializes — cells/vectors/extremes plus the max/mean imbalance
    // retrain trigger
    "sim_ivf_stats" ->
      (s"${kmeansCtesSql(dim = 64, k = 8, seed = "kmeans")}, " +
        "occ AS (SELECT cell, count(*)::BIGINT AS n FROM a2 GROUP BY cell) " +
        "SELECT count(*)::BIGINT AS cells, sum(n)::BIGINT AS vectors, " +
        "max(n)::BIGINT AS max_cell, round(avg(n), 6) AS mean_cell, " +
        "round(max(n) / avg(n), 6) AS imbalance FROM occ"),

    "sim_topk" ->
      ("SELECT query_id, neighbor_id, cosine, rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
        "round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC, " +
        "c.vec_id ASC) AS rank " +
        "FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id " +
        "WHERE q.vec_id < 10) WHERE rank <= 5 ORDER BY query_id, rank"),

    "t1_langid" ->
      s"SELECT doc_id, ${langIdSql("text")} AS lang_pred FROM documents ORDER BY doc_id",

    "t2_quality" ->
      s"SELECT doc_id, ${qualitySql("text")} AS quality FROM documents ORDER BY doc_id",

    "t3_tokens" ->
      ("SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS ws_tokens, " +
        "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS bpe_tokens " +
        "FROM documents ORDER BY doc_id"),

    "t4_fingerprint" ->
      ("SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint " +
        "FROM documents ORDER BY doc_id"),

    "t8_repetition" ->
      s"SELECT doc_id, ${repetitionSql("text")} AS repetition FROM documents ORDER BY doc_id",

    "t9_pii_scrub" -> {
      // DuckDB single-quoted literals pass backslashes through verbatim
      // (same as the \b patterns in the t1/t2 oracles) — no re-escaping
      val email = Text.EmailPattern
      val digits = Text.LongDigitPattern
      s"SELECT doc_id, (len(regexp_extract_all(text, '$email')) + " +
        s"len(regexp_extract_all(text, '$digits')))::BIGINT AS n_pii, " +
        s"md5(regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'), " +
        s"'$digits', '<NUMBER>', 'g')) AS scrubbed_md5 " +
        "FROM documents ORDER BY doc_id"
    },

    // mirrors chiSquareDrift: e = n·c/N in the same operand order; cells
    // over the full source × vocabulary frame (absent terms contribute e)
    "t16_chisq_drift" ->
      ("WITH tk AS (SELECT source, term FROM (SELECT source, " +
        "unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term FROM documents) " +
        "WHERE len(term) > 0), " +
        "o AS (SELECT source, term, count(*) AS o FROM tk GROUP BY 1, 2), " +
        "ns AS (SELECT source, count(*) AS n FROM tk GROUP BY 1), " +
        "ct AS (SELECT term, count(*) AS c FROM tk GROUP BY 1), " +
        "tot AS (SELECT count(*) AS N FROM tk), " +
        "cells AS (SELECT ns.source, ns.n, ct.term, coalesce(o.o, 0)::DOUBLE AS o0, " +
        "ns.n::DOUBLE * ct.c::DOUBLE / tot.N::DOUBLE AS e " +
        "FROM ns CROSS JOIN ct CROSS JOIN tot " +
        "LEFT JOIN o ON o.source = ns.source AND o.term = ct.term) " +
        // fixed-order fold (term-ascending), mirroring the Spark side's
        // sorted-array aggregate — bit-identical chi2, no ulp caveat
        "SELECT source, max(n)::BIGINT AS n_tokens, " +
        "round(list_reduce(list((o0 - e) * (o0 - e) / e ORDER BY term) || [0.0], " +
        "(a, b) -> a + b), 4) AS chi2 " +
        "FROM cells GROUP BY source ORDER BY source"),

    // mirrors gopherSignals/gopherPass: integer counts, one round(4)
    // division per ratio, zero denominators → NULL (which passes its rule)
    "t13_gopher" ->
      (s"WITH $gopherCtesSql " +
        "SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, bullet_frac, ellipsis_frac, stop_hits, " +
        s"$gopherPassSql AS pass FROM gsig ORDER BY doc_id"),

    "t20_repetition" ->
      (s"WITH $repetitionCtesSql " +
        "SELECT doc_id, n_words, dup_word_frac, top_word_frac, dup_3gram_frac " +
        "FROM rfrac ORDER BY doc_id"),

    // the staged survival funnel over the same shared CTEs: Gopher pass →
    // repetition cut → language cut, counted per source in one aggregation
    "q_quality_funnel" ->
      (s"WITH $gopherCtesSql, $repetitionCtesSql, " +
        s"fg AS (SELECT doc_id, $gopherPassSql AS gpass FROM gsig), " +
        "fr AS (SELECT doc_id, (dup_word_frac <= 0.3 AND " +
        "(dup_3gram_frac IS NULL OR dup_3gram_frac <= 0.2)) AS rpass FROM rfrac), " +
        s"fl AS (SELECT doc_id, (${langIdSql("text")} = 'en') AS lpass FROM documents) " +
        "SELECT d.source, count(*)::BIGINT AS n_docs, " +
        "sum(CASE WHEN gpass THEN 1 ELSE 0 END)::BIGINT AS n_quality, " +
        "sum(CASE WHEN gpass AND rpass THEN 1 ELSE 0 END)::BIGINT AS n_low_repetition, " +
        "sum(CASE WHEN gpass AND rpass AND lpass THEN 1 ELSE 0 END)::BIGINT AS n_english " +
        "FROM documents d JOIN fg USING (doc_id) JOIN fr USING (doc_id) " +
        "JOIN fl USING (doc_id) GROUP BY d.source ORDER BY d.source"),

    "m1_multimodal_meta" ->
      ("SELECT doc_id, CASE WHEN doc_id % 3 = 0 THEN 'image' WHEN doc_id % 3 = 1 THEN 'audio' " +
        "ELSE 'video' END AS media_type, octet_length(encode(text))::BIGINT AS byte_len, " +
        "sha256(text) AS sha256 FROM documents ORDER BY doc_id"),

    "m4_resize" ->
      ("WITH m AS (SELECT doc_id, " +
        "CASE WHEN doc_id % 3 = 0 THEN 'image' ELSE 'video' END AS media_type, " +
        "sha256(text) AS sha, " +
        "(1 + ('0x' || substr(sha256(text),1,6))::BIGINT % 4096)::BIGINT AS width, " +
        "(1 + ('0x' || substr(sha256(text),7,6))::BIGINT % 2160)::BIGINT AS height " +
        "FROM documents WHERE doc_id % 3 != 1) " +
        "SELECT doc_id, media_type, width, height, " +
        "CASE WHEN width <= 640 AND height <= 480 THEN width " +
        "WHEN width * 480 >= height * 640 THEN 640 " +
        "ELSE greatest(1, (width * 480) // height) END AS new_width, " +
        "CASE WHEN width <= 640 AND height <= 480 THEN height " +
        "WHEN width * 480 >= height * 640 THEN greatest(1, (height * 640) // width) " +
        "ELSE 480 END AS new_height, " +
        "CASE WHEN width <= 640 AND height <= 480 THEN sha " +
        "ELSE sha256(sha || '->640x480') END AS resized_sha " +
        "FROM m ORDER BY doc_id"),

    "m3_frame_sample" ->
      ("WITH m AS (SELECT doc_id, " +
        "(1 + ('0x' || substr(sha256(text),13,6))::BIGINT % 14400)::BIGINT AS n_frames " +
        "FROM documents WHERE doc_id % 3 = 2) " +
        "SELECT DISTINCT doc_id, (r.range * n_frames) // 8 AS frame_idx " +
        "FROM m CROSS JOIN range(0, 8) r ORDER BY doc_id, frame_idx"),

    "v1_label_centroids" ->
      ("SELECT label, count(*) AS n_vecs, r.range AS dim_idx, " +
        // + 0.0 normalizes -0.0 (matches the Spark side; see labelCentroids)
        "round(avg(embedding[r.range + 1]), 4) + 0.0 AS centroid_val " +
        "FROM embeddings CROSS JOIN range(0, 64) r " +
        "GROUP BY label, r.range ORDER BY label, dim_idx"),

    // centroids rebuilt with v1's arithmetic + the float quantize
    // (labelCentroidVectors), cosine in double as d5, ties → larger label
    // (Spark's max(struct(cos, label)) ≡ ORDER BY cos DESC, label DESC)
    "v3_nearest_centroid" ->
      ("WITH cvals AS (SELECT label, r.range AS d, " +
        "CAST(round(avg(embedding[r.range + 1]), 4) + 0.0 AS FLOAT) AS v " +
        "FROM embeddings CROSS JOIN range(0, 64) r GROUP BY label, r.range), " +
        "cents AS (SELECT label, (list(v ORDER BY d))::DOUBLE[] AS centroid " +
        "FROM cvals GROUP BY label), " +
        "scored AS (SELECT e.vec_id, c.label, " +
        "round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) AS cos " +
        "FROM embeddings e CROSS JOIN cents c), " +
        "ranked AS (SELECT vec_id, label, cos, row_number() OVER (" +
        "PARTITION BY vec_id ORDER BY cos DESC, label DESC) AS rn FROM scored) " +
        "SELECT vec_id, label AS nearest, cos + 0.0 AS cosine FROM ranked " +
        "WHERE rn = 1 ORDER BY vec_id"),

    // mirrors l2Normalize: double-cast elementwise squares summed in index
    // order (list_sum folds sequentially, as Spark's aggregate() does).
    // The WHERE mirrors the Spark side's NULL-on-zero-norm contract: a
    // zero-norm or NULL vector yields a NULL unit array there, which
    // posexplode skips — so the oracle must emit 0 rows for it too, not 64
    // NULL/inf rows.
    "v2_l2norm" ->
      ("SELECT vec_id, r.range AS dim_idx, " +
        "round(embedding[r.range + 1]::DOUBLE / " +
        "sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y))), 6) + 0.0 AS unit_val " +
        "FROM embeddings CROSS JOIN range(0, 64) r " +
        "WHERE embedding IS NOT NULL " +
        "AND list_sum(list_transform(embedding::DOUBLE[], y -> y * y)) > 0 " +
        "ORDER BY vec_id, dim_idx"),

    "j3_asof_join" -> asofOracleSql,

    // the bucketed two-pass variant must reproduce the exact same relation
    "j3b_asof_bucketed" -> asofOracleSql,

    "j4_range_join" ->
      ("WITH marked AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_break " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)), " +
        "numbered AS (SELECT user_id, ts_us, " +
        "CAST(sum(is_break) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM marked), " +
        "sessions AS (SELECT user_id, session_id, min(ts_us) AS session_start_us, " +
        "max(ts_us) AS session_end_us FROM numbered GROUP BY user_id, session_id), " +
        "errors AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
        "WHERE event_type = 'error') " +
        "SELECT e.event_id, e.user_id, e.ts_us, s.session_id " +
        "FROM errors e JOIN sessions s ON e.user_id = s.user_id " +
        "AND e.ts_us BETWEEN s.session_start_us AND s.session_end_us " +
        "ORDER BY event_id"),

    "s5_sample" ->
      (s"SELECT doc_id FROM documents WHERE " +
        s"('0x' || substr(md5(doc_id::VARCHAR || '_0'), 1, 15))::BIGINT < " +
        s"${(BigDecimal(0.1) * BigDecimal(1L << 60)).toLong} ORDER BY doc_id"),

    "s5b_stratified" -> {
      def th(f: Double) = (BigDecimal(f) * BigDecimal(1L << 60)).toLong
      "SELECT doc_id, lang FROM documents WHERE " +
        "('0x' || substr(md5(doc_id::VARCHAR || '_0'), 1, 15))::BIGINT < " +
        s"(CASE WHEN lang = 'en' THEN ${th(0.5)} WHEN lang = 'de' THEN ${th(0.25)} " +
        s"WHEN lang = 'fr' THEN ${th(1.0)} ELSE -1 END) ORDER BY doc_id"
    },

    "d6b_keep_canonical" ->
      (s"WITH RECURSIVE pairs AS ($bigramJaccardSql), " +
        "bidir AS (SELECT id_1, id_2 FROM pairs UNION SELECT id_2, id_1 FROM pairs), " +
        "nodes AS (SELECT DISTINCT id_1 AS id FROM bidir), " +
        "reach(id, r) AS (SELECT id, id FROM nodes " +
        "UNION SELECT b.id_1, r.r FROM reach r JOIN bidir b ON b.id_2 = r.id), " +
        "losers AS (SELECT id FROM (SELECT id, min(r) AS component FROM reach GROUP BY id) " +
        "WHERE id != component) " +
        "SELECT doc_id, n_chars FROM documents " +
        "WHERE doc_id NOT IN (SELECT id FROM losers) ORDER BY doc_id"),

    // d6b's components, then the keep-best rule: max n_chars per
    // component, min id among the max-scored — the exact two-aggregate
    // tie semantics of Dedup.keepBest
    "d6d_keep_best" ->
      (s"WITH RECURSIVE pairs AS ($bigramJaccardSql), " +
        "bidir AS (SELECT id_1, id_2 FROM pairs UNION SELECT id_2, id_1 FROM pairs), " +
        "nodes AS (SELECT DISTINCT id_1 AS id FROM bidir), " +
        "reach(id, r) AS (SELECT id, id FROM nodes " +
        "UNION SELECT b.id_1, r.r FROM reach r JOIN bidir b ON b.id_2 = r.id), " +
        "comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id), " +
        "scored AS (SELECT c.id, c.component, d.n_chars FROM comp c " +
        "JOIN documents d ON d.doc_id = c.id), " +
        "best AS (SELECT component, max(n_chars) AS s FROM scored GROUP BY component), " +
        "win AS (SELECT s.component, min(s.id) AS win FROM scored s " +
        "JOIN best b ON b.component = s.component AND s.n_chars = b.s GROUP BY s.component), " +
        "losers AS (SELECT c.id FROM comp c JOIN win w ON w.component = c.component " +
        "WHERE c.id != w.win) " +
        "SELECT doc_id, n_chars FROM documents " +
        "WHERE doc_id NOT IN (SELECT id FROM losers) ORDER BY doc_id"),

    "t7_vocab" ->
      ("SELECT token, count(*) AS n FROM (SELECT unnest(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+')) AS token FROM documents) " +
        "GROUP BY token ORDER BY n DESC, token ASC LIMIT 100"),

    "d8_incremental_dedup" -> d8OracleSql,

    // the index replay must reproduce d8 exactly — the fingerprint set is
    // the same relation whether derived inline or loaded from parquet
    "d8c_index_replay" -> d8OracleSql,

    // the streaming replay of the same probe: stream-static anti join
    // against the loaded index must reproduce d8's batch relation
    "e7_stream_ingest_dedup" -> d8OracleSql,

    // the two-day screen: day-2 rows are deduped against base ∪ day-1
    // survivors (whose prints the update folded into the index)
    "e7b_stream_day_boundary" ->
      ("WITH fp AS (SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint " +
        "FROM documents), " +
        "s1 AS (SELECT doc_id, fingerprint FROM fp WHERE doc_id % 9 = 0 " +
        "AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 9 >= 2)), " +
        "s2 AS (SELECT doc_id, fingerprint FROM fp WHERE doc_id % 9 = 1 " +
        "AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 9 >= 2) " +
        "AND fingerprint NOT IN (SELECT fingerprint FROM s1)) " +
        "SELECT doc_id, fingerprint FROM s1 UNION ALL " +
        "SELECT doc_id, fingerprint FROM s2 ORDER BY doc_id"),

    // the bloom is a pruning device only — the exact result is the same
    // anti-join semantics as d8, on the %7 split
    "d8b_bloom_incremental" ->
      ("WITH fp AS (SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint " +
        "FROM documents) " +
        "SELECT doc_id, fingerprint FROM fp WHERE doc_id % 7 = 0 " +
        "AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 7 != 0) " +
        "ORDER BY doc_id"),

    "t11_unigram_lm" ->
      ("WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents), " +
        "vocab AS (SELECT term, count(*) AS n FROM toks GROUP BY term) " +
        "SELECT t.doc_id, round(avg(v.n), 4) AS lm_score FROM toks t JOIN vocab v USING (term) " +
        "GROUP BY t.doc_id ORDER BY t.doc_id"),

    // t11's score feeding a quartile CASE; quantile_cont matches Spark's
    // percentile interpolation (the g7 parity), fractions 0.25/0.75 are
    // exact binary doubles
    "t26_quality_buckets" ->
      ("WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents), " +
        "vocab AS (SELECT term, count(*) AS n FROM toks GROUP BY term), " +
        "scored AS (SELECT t.doc_id, round(avg(v.n), 4) AS lm_score " +
        "FROM toks t JOIN vocab v USING (term) GROUP BY t.doc_id), " +
        "th AS (SELECT quantile_cont(lm_score, 0.25) AS t1, " +
        "quantile_cont(lm_score, 0.75) AS t2 FROM scored) " +
        "SELECT s.doc_id, s.lm_score, " +
        "CASE WHEN s.lm_score <= th.t1 THEN 'tail' " +
        "WHEN s.lm_score <= th.t2 THEN 'middle' ELSE 'head' END AS bucket " +
        "FROM scored s, th ORDER BY s.doc_id"),

    // the deterministic half of the t27 gate re-derived exactly (token set
    // + exact counts above ε·N, ε = 3.5/1024 = the sketch's own a-priori
    // constant, spec-pinned); the sketch's no-false-negatives + bracketing
    // guarantee makes within_tol TRUE under any stream order
    "t27_heavy_hitters" ->
      hhGateOracleSql,

    // the SQL-text form states the same guarantee — identical oracle
    "t27c_heavy_hitters_sql" ->
      hhGateOracleSql,

    // the streamed state must satisfy the same full-corpus guarantee
    "e10_stream_heavy_hitters" ->
      hhGateOracleSql,

    // the lifecycle's merged state must satisfy the same full-corpus
    // guarantee — identical oracle relation to t27
    "t27b_heavy_hitter_state" ->
      hhGateOracleSql,

    // adjacent-pair frequencies over the same lower/trim/split words;
    // <2-token docs left-join to null
    "t22_bigram_lm" ->
      ("WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\\s+') AS ws " +
        "FROM documents), " +
        "bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(ws) - 1), " +
        "i -> ws[i] || ' ' || ws[i+1])) AS b FROM w WHERE len(ws) >= 2), " +
        "v AS (SELECT b, count(*)::BIGINT AS n FROM bg GROUP BY b), " +
        "s AS (SELECT bg.doc_id, round(avg(v.n), 4) AS lm2_score " +
        "FROM bg JOIN v USING (b) GROUP BY bg.doc_id) " +
        "SELECT d.doc_id, s.lm2_score FROM documents d LEFT JOIN s USING (doc_id) " +
        "ORDER BY d.doc_id"),

    // same md5-bucket + dyadic weight formula; list_sum of multiples of
    // 1/8 is exact in double in any order, so no rounding is needed
    "t23_linear_quality" ->
      ("WITH s AS (SELECT doc_id, list_sum(list_transform(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+'), " +
        "w -> ((((('0x' || substr(md5(w),1,4))::BIGINT % 64) * 37 + 11) % 21 - 10) / 8.0)" +
        ")) AS lin_score FROM documents) " +
        "SELECT doc_id, lin_score, lin_score >= 0 AS keep FROM s ORDER BY doc_id"),

    "s5e_split" -> {
      val ths = Sampling.splitThresholds(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      "WITH h AS (SELECT doc_id, " +
        "('0x' || substr(md5(doc_id::VARCHAR || '_sp0'), 1, 15))::BIGINT AS h FROM documents) " +
        s"SELECT doc_id, CASE WHEN h < ${ths(0)} THEN 'train' " +
        s"WHEN h < ${ths(1)} THEN 'val' WHEN h < ${ths(2)} THEN 'test' END AS split " +
        "FROM h ORDER BY doc_id"
    },

    // d6's component CTE (canonical = min id) feeding s5e's hash-CASE on
    // the GROUP id — every member of a cluster draws the same coin
    "s5j_group_split" -> {
      val ths = Sampling.splitThresholds(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      s"WITH RECURSIVE pairs AS ($bigramJaccardSql), " +
        "bidir AS (SELECT id_1, id_2 FROM pairs UNION SELECT id_2, id_1 FROM pairs), " +
        "nodes AS (SELECT DISTINCT id_1 AS id FROM bidir), " +
        "reach(id, r) AS (SELECT id, id FROM nodes " +
        "UNION SELECT b.id_1, r.r FROM reach r JOIN bidir b ON b.id_2 = r.id), " +
        "comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id), " +
        "g AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id " +
        "FROM documents d LEFT JOIN comp c ON c.id = d.doc_id), " +
        "h AS (SELECT doc_id, group_id, " +
        "('0x' || substr(md5(group_id::VARCHAR || '_sp0'), 1, 15))::BIGINT AS h FROM g) " +
        s"SELECT doc_id, group_id, CASE WHEN h < ${ths(0)} THEN 'train' " +
        s"WHEN h < ${ths(1)} THEN 'val' WHEN h < ${ths(2)} THEN 'test' END AS split " +
        "FROM h ORDER BY doc_id"
    },

    // s5j's split over the INDEX-derived pair set: the d2 relation (exact
    // trigram j >= 0.5 — what the banded index yields, recall gated by the
    // d2 row) feeding the same component CTE and hash-CASE coin
    "s5j2_group_split_indexed" -> {
      val ths = Sampling.splitThresholds(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      s"WITH RECURSIVE pairs AS ($trigramJaccardSql), " +
        "bidir AS (SELECT id_1, id_2 FROM pairs UNION SELECT id_2, id_1 FROM pairs), " +
        "nodes AS (SELECT DISTINCT id_1 AS id FROM bidir), " +
        "reach(id, r) AS (SELECT id, id FROM nodes " +
        "UNION SELECT b.id_1, r.r FROM reach r JOIN bidir b ON b.id_2 = r.id), " +
        "comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id), " +
        "g AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id " +
        "FROM documents d LEFT JOIN comp c ON c.id = d.doc_id), " +
        "h AS (SELECT doc_id, group_id, " +
        "('0x' || substr(md5(group_id::VARCHAR || '_sp0'), 1, 15))::BIGINT AS h FROM g) " +
        s"SELECT doc_id, group_id, CASE WHEN h < ${ths(0)} THEN 'train' " +
        s"WHEN h < ${ths(1)} THEN 'val' WHEN h < ${ths(2)} THEN 'test' END AS split " +
        "FROM h ORDER BY doc_id"
    },

    // per-source greedy prefix as a partitioned window; the CASE budget
    // mirrors the operator's literal map (absent source → -1 → dropped)
    "s5k_group_token_budget" -> s5kOracleSql,

    // the SQL-text twin states the identical relation (registered
    // graft_bpe_tokens == the oracle's regex tokenizer)
    "s5l_sql_token_budget" -> s5kOracleSql,

    // the same k smallest md5-derived hashes, same id tiebreak
    "s5n_fixed_sample" ->
      ("SELECT doc_id, source FROM (SELECT doc_id, source, " +
        "('0x' || substr(md5(doc_id::VARCHAR || '_fx0'), 1, 15))::BIGINT AS h " +
        "FROM documents ORDER BY h ASC, doc_id ASC LIMIT 100) " +
        "ORDER BY doc_id"),

    // the replication arithmetic re-derived: copies = whole + (coin <
    // frac·2^60), epochs = the 0-based fan-out below that count
    "s5o_epoch_replicate" ->
      (s"WITH n AS (SELECT doc_id, source, CASE source " +
        s"WHEN 'src0' THEN 2 + (('0x' || substr(md5(doc_id::VARCHAR || '_ep0'), 1, 15))::BIGINT < ${(BigDecimal(0.5) * BigDecimal(1L << 60)).toLong})::BIGINT " +
        "WHEN 'src1' THEN 1 " +
        s"WHEN 'src2' THEN 0 + (('0x' || substr(md5(doc_id::VARCHAR || '_ep0'), 1, 15))::BIGINT < ${(BigDecimal(0.25) * BigDecimal(1L << 60)).toLong})::BIGINT " +
        "ELSE 0 END AS copies FROM documents) " +
        "SELECT doc_id, source, r.range AS epoch FROM n, range(0, 3) r " +
        "WHERE r.range < n.copies ORDER BY doc_id, epoch"),

    // the card re-derived: t3's token arithmetic, d1's fingerprint, one
    // division of exact longs rounded 6
    "x14_corpus_report" ->
      ("SELECT source, count(*)::BIGINT AS n_docs, " +
        "sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS n_tokens, " +
        "sum(length(text))::BIGINT AS n_chars, " +
        "count(DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')))::BIGINT AS n_unique, " +
        "round(1.0 - count(DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')))::DOUBLE / count(*), 6) AS dup_frac " +
        "FROM documents WHERE source IS NOT NULL GROUP BY source ORDER BY source"),

    // the overlap matrix over the same normalized fingerprint as d1/d8
    "x13_source_overlap" ->
      ("WITH fs AS (SELECT DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp, " +
        "source AS src FROM documents) " +
        "SELECT a.src AS src_a, b.src AS src_b, count(*)::BIGINT AS n_shared " +
        "FROM fs a JOIN fs b ON a.fp = b.fp AND a.src <= b.src " +
        "GROUP BY a.src, b.src ORDER BY src_a, src_b"),

    // the temperature rule re-derived in SQL: share = round(pow(n/N, 1/T), 9)
    // (the 9-dp round collapses libm-vs-Math.pow ulp differences), then
    // the exact mixtureSample arithmetic (cap, least, floor·2^60 coin)
    "s5m_temperature_mixture" ->
      ("WITH docs AS (SELECT doc_id, source FROM documents " +
        "WHERE doc_id % (1 + CAST(substr(source, 4) AS INT) % 4) = 0), " +
        "cnt AS (SELECT source, count(*)::BIGINT AS n FROM docs " +
        "WHERE source IS NOT NULL GROUP BY source), " +
        "tot AS (SELECT sum(n)::DOUBLE AS total FROM cnt), " +
        "sh AS (SELECT source, n, round(power(n / t.total, 0.5), 9) AS share FROM cnt, tot t), " +
        "mt AS (SELECT min(n / share) AS T FROM sh), " +
        "p AS (SELECT sh.source, " +
        "CAST(floor(least(CAST(1.0 AS DOUBLE), mt.T * sh.share / sh.n) * 1152921504606846976) AS BIGINT) AS th " +
        "FROM sh CROSS JOIN mt) " +
        "SELECT d.doc_id, d.source FROM docs d JOIN p USING (source) " +
        "WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || '_mx0'), 1, 15))::BIGINT < p.th " +
        "ORDER BY d.doc_id"),

    // the solver re-derived: integer share weights raw = round(round(pow,
    // 9)·1e9) (exact order-free sum), budget split in 128-bit integer
    // division, the two doubles each one IEEE division of exact integers
    "s5p_mixing_plan" ->
      ("WITH cnt AS (SELECT source, count(*)::BIGINT AS n_docs, " +
        "sum(n_chars)::BIGINT AS n_weight FROM documents " +
        "WHERE source IS NOT NULL GROUP BY source HAVING sum(n_chars) > 0), " +
        "tot AS (SELECT sum(n_weight)::DOUBLE AS total FROM cnt), " +
        "raw AS (SELECT source, n_docs, n_weight, " +
        "CAST(round(round(power(n_weight::DOUBLE / t.total, 0.5), 9) * 1e9) AS BIGINT) AS raw " +
        "FROM cnt, tot t), " +
        "sr AS (SELECT sum(raw)::BIGINT AS sumraw FROM raw) " +
        "SELECT source, n_docs, n_weight, " +
        "raw::DOUBLE / sumraw::DOUBLE AS share, " +
        "CAST((300000::HUGEINT * raw) // sumraw AS BIGINT) AS target_weight, " +
        "(CAST((300000::HUGEINT * raw) // sumraw AS BIGINT))::DOUBLE / n_weight::DOUBLE AS repeat_factor " +
        "FROM raw, sr ORDER BY source"),

    // plan → factors → the epochReplicate coin: copies = ⌊f⌋ + (hash <
    // floor(frac(f)·2^60)) — frac(f) and frac·2^60 are EXACT in doubles
    // (Sterbenz subtraction; power-of-two multiply), so the SQL threshold
    // bit-matches the Scala BigDecimal one
    "q_mixing_chain" ->
      ("WITH cnt AS (SELECT source, sum(n_chars)::BIGINT AS w FROM documents " +
        "WHERE source IS NOT NULL GROUP BY source HAVING sum(n_chars) > 0), " +
        "tot AS (SELECT sum(w)::DOUBLE AS total FROM cnt), " +
        "raw AS (SELECT source, w, " +
        "CAST(round(round(power(w::DOUBLE / t.total, 0.5), 9) * 1e9) AS BIGINT) AS raw " +
        "FROM cnt, tot t), " +
        "sr AS (SELECT sum(raw)::BIGINT AS sumraw FROM raw), " +
        "f AS (SELECT source, " +
        "(CAST((300000::HUGEINT * raw) // sumraw AS BIGINT))::DOUBLE / w::DOUBLE AS f " +
        "FROM raw, sr), " +
        "c AS (SELECT d.doc_id, d.source, CAST(floor(f.f) AS BIGINT) + " +
        "(('0x' || substr(md5(d.doc_id::VARCHAR || '_ep0'), 1, 15))::BIGINT < " +
        "CAST(floor((f.f - floor(f.f)) * 1152921504606846976) AS BIGINT))::BIGINT AS copies " +
        "FROM documents d JOIN f USING (source)) " +
        "SELECT doc_id, source, unnest(range(0, c.copies)) AS epoch FROM c " +
        "ORDER BY doc_id, epoch"),

    // mirrors mixtureSample's fixed arithmetic shape: cap = n/share,
    // T = min(cap), p = least(1, T*share/n), threshold = floor(p * 2^60)
    "s5f_mixture" ->
      ("WITH sh AS (SELECT * FROM (VALUES " +
        "('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)), " +
        "('src2', CAST(0.2 AS DOUBLE))) AS t(source, share)), " +
        "cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source), " +
        "j AS (SELECT c.source, c.n, s.share FROM cnt c JOIN sh s USING (source)), " +
        "mt AS (SELECT min(n / share) AS T FROM j), " +
        "p AS (SELECT j.source, " +
        "CAST(floor(least(CAST(1.0 AS DOUBLE), mt.T * j.share / j.n) * 1152921504606846976) AS BIGINT) AS th " +
        "FROM j CROSS JOIN mt) " +
        "SELECT d.doc_id, d.source FROM documents d JOIN p USING (source) " +
        "WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || '_mx0'), 1, 15))::BIGINT < p.th " +
        "ORDER BY d.doc_id"),

    // s5f's arithmetic with char sums as the mixing unit; sums cast BIGINT
    // so the HUGEINT default doesn't change the double conversion
    "s5h_mixture_weighted" ->
      ("WITH sh AS (SELECT * FROM (VALUES " +
        "('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)), " +
        "('src2', CAST(0.2 AS DOUBLE))) AS t(source, share)), " +
        "cnt AS (SELECT source, sum(n_chars)::BIGINT AS n FROM documents GROUP BY source), " +
        "j AS (SELECT c.source, c.n, s.share FROM cnt c JOIN sh s USING (source)), " +
        "mt AS (SELECT min(n / share) AS T FROM j), " +
        "p AS (SELECT j.source, " +
        "CAST(floor(least(CAST(1.0 AS DOUBLE), mt.T * j.share / j.n) * 1152921504606846976) AS BIGINT) AS th " +
        "FROM j CROSS JOIN mt) " +
        "SELECT d.doc_id, d.source, d.n_chars FROM documents d JOIN p USING (source) " +
        "WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || '_mx0'), 1, 15))::BIGINT < p.th " +
        "ORDER BY d.doc_id"),

    // mirrors weightedSample's fixed shape: p = least(1, rate·(n_chars/500)),
    // threshold = floor(p · 2^60) — identical double ops in both engines
    "s5g_weighted" ->
      ("SELECT doc_id, n_chars FROM documents " +
        "WHERE (n_chars / 500.0) >= 0.0 " +
        "AND ('0x' || substr(md5(doc_id::VARCHAR || '_w0'), 1, 15))::BIGINT < " +
        "CAST(floor(least(CAST(1.0 AS DOUBLE), 0.2 * (n_chars / 500.0)) * 1152921504606846976) AS BIGINT) " +
        "ORDER BY doc_id"),

    // the same greedy prefix as ONE global window — correct in DuckDB at
    // oracle scale; the Spark side's distributed prefix sum must match it
    // exactly (integer-division budget, (score DESC, doc_id) total order)
    "s5i_token_budget" ->
      ("WITH toks AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS score, " +
        "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens " +
        "FROM documents), " +
        "sel AS (SELECT doc_id, score, n_tokens, " +
        "sum(n_tokens) OVER (ORDER BY score DESC, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM toks) " +
        "SELECT doc_id, score, n_tokens FROM sel " +
        "WHERE cum <= (SELECT sum(n_tokens) FROM toks) // 4 " +
        "ORDER BY doc_id"),

    "t12_bigram_counts" ->
      ("SELECT gram, count(*) AS n FROM (" +
        "SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram " +
        "FROM (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM documents)) " +
        "GROUP BY gram ORDER BY n DESC, gram ASC LIMIT 100"),

    // pmi recomputed with the SAME division association as the Spark side
    // ((cab/N2) / ((ca/N1)*(cb/N1))) so the doubles agree; +0.0 kills -0.0
    "t25_pmi_collocations" ->
      ("WITH w AS (SELECT regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM documents), " +
        "uni AS (SELECT u AS wd, count(*)::BIGINT AS cw FROM (SELECT unnest(w) AS u FROM w) GROUP BY u), " +
        "n1 AS (SELECT sum(cw)::DOUBLE AS N1 FROM uni), " +
        "bc AS (SELECT gram, count(*)::BIGINT AS cab FROM (" +
        "SELECT unnest(list_transform(range(1, len(w)), i -> w[i] || ' ' || w[i+1])) AS gram FROM w) " +
        "GROUP BY gram), " +
        "n2 AS (SELECT sum(cab)::DOUBLE AS N2 FROM bc), " +
        "j AS (SELECT b.gram, b.cab, ua.cw AS ca, ub.cw AS cb FROM bc b " +
        "JOIN uni ua ON ua.wd = split_part(b.gram, ' ', 1) " +
        "JOIN uni ub ON ub.wd = split_part(b.gram, ' ', 2) " +
        "WHERE b.cab >= 5) " +
        "SELECT gram, cab AS n, " +
        "round(ln((cab / n2.N2) / ((ca / n1.N1) * (cb / n1.N1))), 6) + 0.0 AS pmi " +
        "FROM j, n1, n2 ORDER BY pmi DESC, gram ASC LIMIT 50"),

    "x3_histogram" ->
      ("SELECT CAST(floor((o_totalprice - 0.0) / 50000.0) AS BIGINT) AS bin, count(*) AS n " +
        "FROM orders WHERE o_totalprice >= 0.0 AND o_totalprice < 600000.0 " +
        "GROUP BY 1 ORDER BY bin"),

    "x4_profile" -> (Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_nationkey")
      .map(c => s"SELECT '$c' AS col_name, " +
        s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, " +
        s"count(DISTINCT $c) AS n_distinct FROM customer")
      .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")),

    "x5_describe" -> (Seq("l_quantity", "l_extendedprice", "l_discount")
      .map(c => s"SELECT '$c' AS col_name, count($c) AS n, " +
        s"round(avg($c), 4) AS mean, round(stddev_samp($c), 4) AS std, " +
        s"CAST(min($c) AS DOUBLE) AS min, CAST(max($c) AS DOUBLE) AS max FROM lineitem")
      .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")),

    "a21_running_total" ->
      ("SELECT o_custkey, o_orderkey, " +
        "round(sum(o_totalprice) OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) " +
        "AS running_spend FROM orders ORDER BY o_custkey, o_orderkey"),

    // mirrors chunkByChars: stride walk capped at len-overlap, 1-based substr
    "t15_chunking" ->
      ("SELECT doc_id, (s - 1) // 100 AS chunk_id, s::BIGINT AS chunk_start, " +
        "len(substr(text, s, 120))::BIGINT AS chunk_chars, md5(substr(text, s, 120)) AS chunk_md5 " +
        "FROM (SELECT doc_id, text, unnest(range(1, greatest(len(text) - 20, 1) + 1, 100)) AS s " +
        "FROM documents WHERE len(text) > 0) ORDER BY doc_id, chunk_id"),

    // token stride walk; DuckDB bracket slices are 1-based stop-inclusive,
    // mirroring Spark's slice(arr, start, length)
    "t15b_chunk_tokens" ->
      ("WITH w AS (SELECT doc_id, " +
        "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0) AS words " +
        "FROM documents), " +
        "b AS (SELECT doc_id, words, len(words) AS n, " +
        "unnest(range(1, greatest(len(words) - 8, 1) + 1, 32)) AS s FROM w WHERE len(words) > 0) " +
        "SELECT doc_id, (s - 1) // 32 AS chunk_id, s::BIGINT AS tok_start, " +
        "least(n - s + 1, 40)::BIGINT AS n_tokens, " +
        "md5(array_to_string(words[s : s + 39], ' ')) AS chunk_md5 " +
        "FROM b ORDER BY doc_id, chunk_id"),

    // round-4 moments BEFORE the division (standardize roundMoments) —
    // rounded doubles are engine-identical, raw aggregates are not
    "x6_zscore" ->
      ("WITH st AS (SELECT round(avg(l_quantity), 4) AS mq, round(stddev_samp(l_quantity), 4) AS sq, " +
        "round(avg(l_extendedprice), 4) AS mp, round(stddev_samp(l_extendedprice), 4) AS sp FROM lineitem) " +
        "SELECT l_orderkey, l_linenumber, " +
        "round((l_quantity - mq) / sq, 4) + 0.0 AS qty_z, " +
        "round((l_extendedprice - mp) / sp, 4) + 0.0 AS price_z " +
        "FROM lineitem CROSS JOIN st ORDER BY l_orderkey, l_linenumber"),

    "x6b_zscore_by" ->
      ("WITH st AS (SELECT l_returnflag, round(avg(l_quantity), 4) AS mq, " +
        "round(stddev_samp(l_quantity), 4) AS sq FROM lineitem GROUP BY l_returnflag) " +
        "SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, " +
        "round((l.l_quantity - st.mq) / st.sq, 4) + 0.0 AS qty_z " +
        "FROM lineitem l JOIN st USING (l_returnflag) " +
        "ORDER BY l_orderkey, l_linenumber"),

    // one SELECT per cell, same safeCorr guards as x1 (pairwise-complete
    // count >= 3, zero variance -> 0), corr_samp ≡ corr_pop
    "x7_corr_matrix" -> {
      val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
        yield (cols(i), cols(j))
      pairs.map { case (a, b) =>
        s"SELECT '$a' AS col_1, '$b' AS col_2, " +
          s"round(CASE WHEN count(CASE WHEN $a IS NOT NULL AND $b IS NOT NULL THEN 1 END) >= 3 " +
          s"THEN coalesce(corr($a, $b), 0.0) END, 4) + 0.0 AS corr FROM lineitem"
      }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_1, col_2")
    },

    // same derived snapshots; content compared directly (the md5
    // fingerprint is a pure pre-shuffle size reduction, not semantics)
    "x8_snapshot_diff" ->
      ("WITH old AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v1' " +
        "ELSE text END AS text FROM documents WHERE doc_id % 10 != 0), " +
        "new AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 != 0), " +
        "j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, " +
        "CASE WHEN o.doc_id IS NULL THEN 'added' " +
        "WHEN n.doc_id IS NULL THEN 'removed' " +
        "WHEN o.text != n.text THEN 'changed' END AS change " +
        "FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id) " +
        "SELECT doc_id, change FROM j WHERE change IS NOT NULL ORDER BY doc_id"),

    // the lifecycle (shard -> delta-append -> compact -> merge-on-read)
    // is pure physical plumbing: the relation must stay the direct
    // aggregate, same oracle as x10
    "x10b_agg_state_lifecycle" ->
      ("SELECT l_returnflag, count(l_quantity)::BIGINT AS n, " +
        "round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 2) + 0.0 AS sum_qty, " +
        "min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, " +
        "round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(l_quantity), 4) + 0.0 AS avg_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    // the reconstruction target IS the new snapshot — no reimplementation
    // of the apply on the oracle side at all
    "x8c_apply_changeset" ->
      ("SELECT doc_id, text FROM documents WHERE doc_id % 13 != 0 ORDER BY doc_id"),

    // every doc lands on exactly one side of the fork
    "e9_stream_route" ->
      ("SELECT doc_id, CASE WHEN n_chars >= 300 THEN 'pass' ELSE 'fail' END " +
        "AS route FROM documents ORDER BY doc_id"),

    // the identical five steps in SQL (DuckDB's nfc_normalize is the
    // utf8proc twin of the JDK Normalizer's NFC)
    "t24_normalize" ->
      ("SELECT doc_id, trim(regexp_replace(lower(regexp_replace(" +
        "nfc_normalize(text), '[\\p{Cc}]', ' ', 'g')), '\\s+', ' ', 'g')) " +
        "AS norm_text FROM documents ORDER BY doc_id"),

    // same two nested exact medians; the score expression is shaped
    // identically ((x - med) / (1.4826 * mad)) so the doubles agree
    "x11_mad_outliers" ->
      ("WITH med AS (SELECT l_returnflag, median(l_quantity) AS med " +
        "FROM lineitem GROUP BY 1), " +
        "dev AS (SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, " +
        "l.l_quantity, m.med, abs(l.l_quantity - m.med) AS ad " +
        "FROM lineitem l JOIN med m USING (l_returnflag)), " +
        "mad AS (SELECT l_returnflag, median(ad) AS mad FROM dev GROUP BY 1) " +
        "SELECT d.l_orderkey, d.l_linenumber, " +
        "round(CASE WHEN m.mad IS NOT NULL AND m.mad != 0 " +
        "THEN (d.l_quantity - d.med) / (1.4826 * m.mad) END, 4) + 0.0 AS mad_z " +
        "FROM dev d JOIN mad m USING (l_returnflag) " +
        "ORDER BY d.l_orderkey, d.l_linenumber"),

    "x12_json_extract" -> x12OracleSql,

    // the SQL-text twin (from_json with a DDL schema string) computes the
    // identical relation
    "x12c_json_sql" -> x12OracleSql,

    // the round-trip oracle: fields recomputed straight from the table —
    // Spark's serialize→parse must land on the same values
    "x12b_json_nested" ->
      ("SELECT doc_id, lang, " +
        "len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_words " +
        "FROM documents ORDER BY doc_id"),

    // each rule recomputed as an independent conditional sum / distinct
    // count; violations count predicate-false OR predicate-null rows
    "x9_expectations" ->
      ("WITH a AS (SELECT count(*) AS n, " +
        "sum(CASE WHEN NOT (doc_id >= 0) OR doc_id IS NULL THEN 1 ELSE 0 END) AS v_doc, " +
        "sum(CASE WHEN NOT (length(text) >= 50) OR text IS NULL THEN 1 ELSE 0 END) AS v_len, " +
        "sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS v_null, " +
        "count(doc_id) - count(DISTINCT doc_id) AS v_uid, " +
        "count(lang) - count(DISTINCT lang) AS v_ulang FROM documents) " +
        "SELECT rule, violations::BIGINT AS violations, n::BIGINT AS n_rows FROM (" +
        "SELECT 'doc_id_nonneg' AS rule, v_doc AS violations, n FROM a " +
        "UNION ALL SELECT 'min_50_chars', v_len, n FROM a " +
        "UNION ALL SELECT 'text_not_null', v_null, n FROM a " +
        "UNION ALL SELECT 'unique_doc_id', v_uid, n FROM a " +
        "UNION ALL SELECT 'unique_lang', v_ulang, n FROM a) ORDER BY rule"),

    // the oracle is the DIRECT aggregate over the whole table — the
    // incremental merge must be indistinguishable from a full recompute
    "x10_incremental_agg" ->
      ("SELECT l_returnflag, count(l_quantity)::BIGINT AS n, " +
        "round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 2) + 0.0 AS sum_qty, " +
        "min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, " +
        "round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(l_quantity), 4) + 0.0 AS avg_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    // bucketing is a physical-layout property; the logical diff relation is
    // identical to x8's
    "x8b_snapshot_diff_bucketed" ->
      ("WITH old AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v1' " +
        "ELSE text END AS text FROM documents WHERE doc_id % 10 != 0), " +
        "new AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 != 0), " +
        "j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, " +
        "CASE WHEN o.doc_id IS NULL THEN 'added' " +
        "WHEN n.doc_id IS NULL THEN 'removed' " +
        "WHEN o.text != n.text THEN 'changed' END AS change " +
        "FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id) " +
        "SELECT doc_id, change FROM j WHERE change IS NOT NULL ORDER BY doc_id"),

    "t10_distinctive" ->
      ("WITH toks AS (SELECT doc_id, unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS term " +
        "FROM documents), " +
        "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term), " +
        "dfq AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM toks) GROUP BY term), " +
        "scored AS (SELECT t.doc_id, t.term, t.tf, d.df, " +
        "round(t.tf::DOUBLE / d.df::DOUBLE, 6) AS score FROM tf t JOIN dfq d USING (term)), " +
        "ranked AS (SELECT doc_id, term, tf, df, score, row_number() OVER (" +
        "PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank FROM scored) " +
        "SELECT doc_id, term, tf, df, score, rank FROM ranked WHERE rank <= 3 " +
        "ORDER BY doc_id, rank"),

    "sim_q8_topk" ->
      ("WITH q8 AS (SELECT vec_id, list_transform(embedding, " +
        "x -> CAST(CASE WHEN ma > 0 THEN round(x::DOUBLE * 127.0 / ma, 0) ELSE 0 END AS BIGINT)) AS q " +
        "FROM (SELECT vec_id, embedding, " +
        "list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS ma FROM embeddings)), " +
        "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "CAST(list_dot_product(q.q::DOUBLE[], c.q::DOUBLE[]) AS BIGINT) AS dot_q8 " +
        "FROM q8 q JOIN q8 c ON q.vec_id != c.vec_id WHERE q.vec_id < 10), " +
        "ranked AS (SELECT query_id, neighbor_id, dot_q8, row_number() OVER (" +
        "PARTITION BY query_id ORDER BY dot_q8 DESC, neighbor_id ASC) AS rank FROM scored) " +
        "SELECT query_id, neighbor_id, dot_q8, rank FROM ranked WHERE rank <= 5 " +
        "ORDER BY query_id, rank"),

    "sim_q8_rerank" ->
      ("WITH q8 AS (SELECT vec_id, list_transform(embedding, " +
        "x -> CAST(CASE WHEN ma > 0 THEN round(x::DOUBLE * 127.0 / ma, 0) ELSE 0 END AS BIGINT)) AS q " +
        "FROM (SELECT vec_id, embedding, " +
        "list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS ma FROM embeddings)), " +
        "wscored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "CAST(list_dot_product(q.q::DOUBLE[], c.q::DOUBLE[]) AS BIGINT) AS dot_q8 " +
        "FROM q8 q JOIN q8 c ON q.vec_id != c.vec_id WHERE q.vec_id < 10), " +
        "short AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY dot_q8 DESC, neighbor_id ASC) AS wr " +
        "FROM wscored) WHERE wr <= 25), " +
        "rescored AS (SELECT s.query_id, s.neighbor_id, " +
        "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine " +
        "FROM short s JOIN embeddings a ON a.vec_id = s.query_id " +
        "JOIN embeddings b ON b.vec_id = s.neighbor_id), " +
        "ranked AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (" +
        "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM rescored) " +
        "SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5 " +
        "ORDER BY query_id, rank"),

    "a20_top_per_group" ->
      ("SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (" +
        "SELECT o_orderpriority, o_orderkey, o_totalprice, row_number() OVER (" +
        "PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank " +
        "FROM orders) WHERE rank <= 3 ORDER BY o_orderpriority, rank"),

    // quantile_cont(0.5) = the interpolated median, exactly the custom
    // aggregate's even-count mean-of-middles
    "g9_exact_median" ->
      ("SELECT l_returnflag, " +
        "round(quantile_cont(l_quantity::DOUBLE, 0.5), 4) AS med_qty, " +
        "round(quantile_cont(l_extendedprice::DOUBLE, 0.5), 4) AS med_price " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    // the sketch gate: exact group counts + TRUE — the Spark side computes
    // within_tol from the GK summary's rank interval, so a sketch outside
    // its documented eps (or a wrong group set) breaks the hash compare
    "g7c_approx_quantile_gate" ->
      ("SELECT l_returnflag, count(*) AS n, TRUE AS within_tol " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),

    "g7_percentiles" ->
      ("SELECT l_returnflag, " +
        "round(quantile_cont(l_quantity, 0.25), 4) AS p25_l_quantity, " +
        "round(quantile_cont(l_quantity, 0.5), 4) AS p50_l_quantity, " +
        "round(quantile_cont(l_quantity, 0.75), 4) AS p75_l_quantity, " +
        "round(quantile_cont(l_quantity, 0.99), 4) AS p99_l_quantity " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    "s5c_quota" ->
      ("SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER (" +
        "PARTITION BY lang ORDER BY " +
        "('0x' || substr(md5(doc_id::VARCHAR || '_q0'), 1, 15))::BIGINT ASC, doc_id ASC" +
        ") AS qrn FROM documents) WHERE qrn <= 20 ORDER BY doc_id"),

    "t5_corpus_stats" ->
      ("SELECT count(*) AS n_docs, " +
        "sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS total_ws_tokens, " +
        "sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')))::BIGINT AS total_bpe_tokens, " +
        "round(CAST(CAST(sum(CAST(round(" +
        "least(1.0, len(regexp_split_to_array(trim(text), '\\s+'))::DOUBLE / 200.0) * 0.5 + " +
        "least(1.0, len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is)\\b'))::DOUBLE / " +
        "greatest(len(regexp_split_to_array(trim(text), '\\s+'))::DOUBLE * 0.05, 1.0)) * 0.3 + " +
        "(1.0 - least(1.0, len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE / " +
        "greatest(length(text)::DOUBLE, 1.0))) * 0.2, 4) AS DECIMAL(18,4))) " +
        "AS DECIMAL(38,4)) AS DOUBLE) / count(*), 4) AS avg_quality, " +
        "min(n_chars) AS min_chars, max(n_chars) AS max_chars FROM documents"),

    "t6_packing" ->
      ("SELECT doc_id, n_tokens, shard, " +
        "CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 2048.0) AS BIGINT) AS bin " +
        "FROM (SELECT doc_id, " +
        "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens, " +
        "doc_id % 8 AS shard FROM documents) ORDER BY doc_id"),

    "e1_events_window" ->
      ("SELECT epoch_us(ts) // 3600000000 AS bucket, event_type, count(*) AS n_events, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2 ORDER BY bucket, event_type"),

    "e8_window_distinct" ->
      ("SELECT epoch_us(ts) // 3600000000 AS bucket, count(DISTINCT user_id) AS n_users, " +
        "count(*) AS n_events FROM events GROUP BY 1 ORDER BY bucket"),

    // the e8d gate applied to the batch sketch-state lifecycle: the Spark
    // side computes within_tol from the MERGED DataSketches HLL estimate,
    // so a drifting sketch, a broken union, or a wrong key set breaks the
    // hash compare
    "x10c_distinct_sketch_state" ->
      ("SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_exact, " +
        "TRUE AS within_tol FROM lineitem GROUP BY 1 ORDER BY l_returnflag"),

    // the e8d tolerance gate (VERDICT r11 #3): exact counts + a TRUE
    // within_tol column — the Spark side computes within_tol from the HLL
    // sketch, so a drifting sketch (or a wrong window-key row set) breaks
    // the hash compare
    "e8d_window_approx_distinct" ->
      ("SELECT epoch_us(ts) // 3600000000 AS bucket, count(DISTINCT user_id) AS n_users, " +
        "TRUE AS within_tol FROM events GROUP BY 1 ORDER BY bucket"),

    // the streaming dedup-then-count chain must reproduce the exact batch
    // distinct relation (sentinel window excluded by construction)
    "e8b_stream_distinct" ->
      ("SELECT epoch_us(ts) // 3600000000 AS bucket, count(DISTINCT user_id) AS n_users " +
        "FROM events GROUP BY 1 ORDER BY bucket"),

    // the two-query fork (dedup-then-count + plain count, joined on the
    // window) must reproduce the batch form's BOTH-column relation
    "e8c_distinct_with_events" ->
      ("SELECT epoch_us(ts) // 3600000000 AS bucket, count(DISTINCT user_id) AS n_users, " +
        "count(*) AS n_events FROM events GROUP BY 1 ORDER BY bucket"),

    // each event belongs to width/slide = 2 hour-aligned windows
    "e4_hopping_window" ->
      ("SELECT ws AS win_start, event_type, count(*) AS n_events, " +
        "round(sum(value), 2) AS sum_value FROM (" +
        "SELECT unnest(range((epoch_us(ts) // 3600000000 - 1) * 3600000000, " +
        "epoch_us(ts) // 3600000000 * 3600000000 + 3600000000, 3600000000)) AS ws, " +
        "event_type, value FROM events) " +
        "GROUP BY 1, 2 ORDER BY win_start, event_type"),

    // hopping streaming replay must equal e4's batch relation exactly
    "e4b_stream_hopping" ->
      ("SELECT ws AS win_start, event_type, count(*) AS n_events, " +
        "round(sum(value), 2) AS sum_value FROM (" +
        "SELECT unnest(range((epoch_us(ts) // 3600000000 - 1) * 3600000000, " +
        "epoch_us(ts) // 3600000000 * 3600000000 + 3600000000, 3600000000)) AS ws, " +
        "event_type, value FROM events) " +
        "GROUP BY 1, 2 ORDER BY win_start, event_type"),

    // streaming replay must equal the batch-form oracle exactly
    "e1b_stream_window" ->
      ("SELECT epoch_us(ts) // 3600000000 AS bucket, event_type, count(*) AS n_events, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2 ORDER BY bucket, event_type"),

    // streaming enrich replay must equal the batch join + aggregate
    "e5_stream_enrich" ->
      ("SELECT u.cohort, count(*) AS n_events, round(sum(e.value), 2) AS sum_value " +
        "FROM events e JOIN (SELECT DISTINCT user_id, user_id % 10 AS cohort FROM events) u " +
        "USING (user_id) GROUP BY u.cohort ORDER BY u.cohort"),

    "e3_stream_dedup" ->
      ("SELECT DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint " +
        "FROM documents ORDER BY fingerprint"),

    "e2_sessionize" ->
      ("WITH marked AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_break " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)), " +
        "sessions AS (SELECT user_id, ts_us, " +
        "CAST(sum(is_break) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM marked) " +
        "SELECT user_id, session_id, count(*) AS n_events, min(ts_us) AS session_start_us, " +
        "max(ts_us) AS session_end_us, max(ts_us) - min(ts_us) AS duration_us " +
        "FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_id"),

    // the streaming replay must reproduce e2's batch sessions exactly,
    // minus the session_id numbering (a streaming engine does not assign
    // one); ordered by session start instead
    "e2b_stream_sessionize" ->
      ("WITH marked AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_break " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)), " +
        "sessions AS (SELECT user_id, ts_us, " +
        "CAST(sum(is_break) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM marked) " +
        "SELECT user_id, count(*) AS n_events, min(ts_us) AS session_start_us, " +
        "max(ts_us) AS session_end_us, max(ts_us) - min(ts_us) AS duration_us " +
        "FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_start_us"),

    "t17_bm25" -> bm25OracleSql(Bm25Terms, k1 = 1.2, b = 0.75),

    // t17's BM25 as one candidate list, cosine-to-vec_id-0 as the other;
    // rank over each LIMITed list, fuse 1/(rank+60), fused top-10
    "h1_hybrid_rrf" ->
      ("WITH bm AS (" + bm25OracleSql(Bm25Terms, k1 = 1.2, b = 0.75) + "), " +
        "bmtop AS (SELECT doc_id, row_number() OVER (ORDER BY bm25 DESC, doc_id) AS rank FROM " +
        "(SELECT doc_id, bm25 FROM bm WHERE bm25 > 0 ORDER BY bm25 DESC, doc_id LIMIT 20)), " +
        "qv AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0), " +
        "cs AS (SELECT vec_id AS doc_id, " +
        "round(list_cosine_similarity(embedding::DOUBLE[], qe::DOUBLE[]), 6) AS cosine " +
        "FROM embeddings CROSS JOIN qv WHERE vec_id != 0), " +
        "cstop AS (SELECT doc_id, row_number() OVER (ORDER BY cosine DESC, doc_id) AS rank FROM " +
        "(SELECT doc_id, cosine FROM cs ORDER BY cosine DESC, doc_id LIMIT 20)), " +
        "u AS (SELECT doc_id, rank FROM bmtop UNION ALL SELECT doc_id, rank FROM cstop), " +
        "f AS (SELECT doc_id, round(sum(1.0::DOUBLE / (rank + 60)), 6) AS rrf, " +
        "count(*) AS n_lists FROM u GROUP BY doc_id) " +
        "SELECT doc_id, rrf, n_lists FROM f ORDER BY rrf DESC, doc_id LIMIT 10"),

    // duplicated window = exact 5-token sequence in >= 2 distinct docs
    // (the oracle groups the window STRINGS; Spark groups their xxhash64 —
    // the d2/d4 hash-equivalence precedent); coverage = the sorted-starts
    // merged-interval formula (w for the first start, min(gap, w) after)
    "t18_dup_spans" ->
      ("WITH t AS (SELECT doc_id, list_filter(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS w " +
        "FROM documents), " +
        "n AS (SELECT doc_id, w, len(w)::BIGINT AS n_tokens FROM t), " +
        "wins AS (SELECT doc_id, n_tokens, unnest(range(0, n_tokens - 4)) AS start, w " +
        "FROM n WHERE n_tokens >= 5), " +
        "ws AS (SELECT doc_id, start, " +
        "array_to_string(w[start + 1 : start + 5], ' ') AS win FROM wins), " +
        "dup AS (SELECT win FROM ws GROUP BY win HAVING count(DISTINCT doc_id) >= 2), " +
        "ds AS (SELECT doc_id, start, " +
        "lag(start) OVER (PARTITION BY doc_id ORDER BY start) AS prev " +
        "FROM ws JOIN dup USING (win)), " +
        "cov AS (SELECT doc_id, sum(CASE WHEN prev IS NULL THEN 5 " +
        "ELSE least(start - prev, 5) END)::BIGINT AS dup_tokens FROM ds GROUP BY doc_id) " +
        "SELECT n.doc_id, n.n_tokens, coalesce(c.dup_tokens, 0)::BIGINT AS dup_tokens, " +
        "round(coalesce(c.dup_tokens, 0)::DOUBLE / greatest(n.n_tokens, 1), 6) AS dup_frac " +
        "FROM n LEFT JOIN cov c USING (doc_id) ORDER BY doc_id"),

    // t18's duplicated windows, then the SCRUB: anti-join covered
    // positions (dup starts exploded w wide) against token positions,
    // re-join survivors in order, md5 the scrubbed text. Parallel unnest
    // zips (token, position); string_agg ORDER BY pins the join order.
    "t19_span_scrub" ->
      ("WITH t AS (SELECT doc_id, list_filter(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+'), x -> len(x) > 0) AS w " +
        "FROM documents), " +
        "n AS (SELECT doc_id, w, len(w)::BIGINT AS n_tokens FROM t), " +
        "wins AS (SELECT doc_id, n_tokens, unnest(range(0, n_tokens - 4)) AS start, w " +
        "FROM n WHERE n_tokens >= 5), " +
        "ws AS (SELECT doc_id, start, " +
        "array_to_string(w[start + 1 : start + 5], ' ') AS win FROM wins), " +
        "dup AS (SELECT win FROM ws GROUP BY win HAVING count(DISTINCT doc_id) >= 2), " +
        "ds AS (SELECT DISTINCT doc_id, start FROM ws JOIN dup USING (win)), " +
        "covered AS (SELECT DISTINCT doc_id, start + r.range AS pos " +
        "FROM ds CROSS JOIN range(0, 5) r), " +
        "toks AS (SELECT doc_id, unnest(w) AS tok, " +
        "unnest(range(0, len(w))) AS pos FROM n), " +
        "kept AS (SELECT tk.doc_id, tk.pos, tk.tok FROM toks tk " +
        "LEFT JOIN covered c ON tk.doc_id = c.doc_id AND tk.pos = c.pos " +
        "WHERE c.pos IS NULL), " +
        "agg AS (SELECT doc_id, count(*)::BIGINT AS kept_tokens, " +
        "md5(string_agg(tok, ' ' ORDER BY pos)) AS cleaned_md5 " +
        "FROM kept GROUP BY doc_id) " +
        "SELECT n.doc_id, n.n_tokens, coalesce(a.kept_tokens, 0)::BIGINT AS kept_tokens, " +
        "coalesce(a.cleaned_md5, md5('')) AS cleaned_md5 " +
        "FROM n LEFT JOIN agg a USING (doc_id) ORDER BY doc_id"),

    // the stream-stream replay must equal the horizon-bounded batch as-of:
    // latest click per purchase within [p_ts - 1h, p_ts], ties to the
    // greatest click event_id (asofJoin's tiebreak), inner semantics
    "e6_stream_stream_asof" ->
      ("WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
        "WHERE event_type = 'purchase'), " +
        "c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
        "WHERE event_type = 'click'), " +
        "j AS (SELECT p.event_id, p.user_id, p.ts_us, " +
        "c.event_id AS ce, c.ts_us AS cts, " +
        "row_number() OVER (PARTITION BY p.event_id " +
        "ORDER BY c.ts_us DESC, c.event_id DESC) AS rn " +
        "FROM p JOIN c ON p.user_id = c.user_id " +
        "AND c.ts_us <= p.ts_us AND c.ts_us >= p.ts_us - 3600000000) " +
        "SELECT event_id, user_id, ts_us, ce AS r_event_id, cts AS r_ts_us " +
        "FROM j WHERE rn = 1 ORDER BY event_id"),

    // the sliced (key-dense) replay must produce the SAME relation as e6 —
    // identical oracle text, so a drift in the slice arithmetic is a hash
    // mismatch, not a silent recall loss
    "e6c_stream_asof_sliced" ->
      ("WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
        "WHERE event_type = 'purchase'), " +
        "c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
        "WHERE event_type = 'click'), " +
        "j AS (SELECT p.event_id, p.user_id, p.ts_us, " +
        "c.event_id AS ce, c.ts_us AS cts, " +
        "row_number() OVER (PARTITION BY p.event_id " +
        "ORDER BY c.ts_us DESC, c.event_id DESC) AS rn " +
        "FROM p JOIN c ON p.user_id = c.user_id " +
        "AND c.ts_us <= p.ts_us AND c.ts_us >= p.ts_us - 3600000000) " +
        "SELECT event_id, user_id, ts_us, ce AS r_event_id, cts AS r_ts_us " +
        "FROM j WHERE rn = 1 ORDER BY event_id"),

    // the slice-ladder diagnostic: the ladder literals come from the SAME
    // sliceLadder arithmetic the Spark side explodes (machine-generated,
    // the simhashCte pattern), slotting is the identical pmod floor-div,
    // and the two aggregates mirror exactly
    "e6e_asof_slice_stats" -> {
      val ladder = StreamOps.sliceLadder(E6HorizonUs, 6)
        .map { case (s, a) => s"(${s}::BIGINT, ${a}::BIGINT)" }.mkString(", ")
      "WITH clicks AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events " +
        "WHERE event_type = 'click'), " +
        s"l(slice_us, amplification) AS (VALUES $ladder), " +
        "per AS (SELECT slice_us, amplification, user_id, " +
        "(ts_us - ((ts_us % slice_us) + slice_us) % slice_us) // slice_us AS slot, " +
        "count(*) AS n FROM clicks CROSS JOIN l GROUP BY 1, 2, 3, 4) " +
        "SELECT slice_us, amplification, count(*)::BIGINT AS n_slots, " +
        "max(n)::BIGINT AS max_slot, sum(n)::BIGINT AS n_rows " +
        "FROM per GROUP BY 1, 2 ORDER BY slice_us"
    },

    // the derived-width sliced replay is the same as-of relation — e6's
    // oracle verbatim: the slice width may change the physical state
    // layout, never the relation
    "e6f_stream_asof_derived" ->
      ("WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
        "WHERE event_type = 'purchase'), " +
        "c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
        "WHERE event_type = 'click'), " +
        "j AS (SELECT p.event_id, p.user_id, p.ts_us, " +
        "c.event_id AS ce, c.ts_us AS cts, " +
        "row_number() OVER (PARTITION BY p.event_id " +
        "ORDER BY c.ts_us DESC, c.event_id DESC) AS rn " +
        "FROM p JOIN c ON p.user_id = c.user_id " +
        "AND c.ts_us <= p.ts_us AND c.ts_us >= p.ts_us - 3600000000) " +
        "SELECT event_id, user_id, ts_us, ce AS r_event_id, cts AS r_ts_us " +
        "FROM j WHERE rn = 1 ORDER BY event_id"),

    // the sliced left-outer replay must keep unattributed purchases with
    // a null click side exactly as e6b does — e6b's oracle verbatim
    "e6d_stream_asof_sliced_left" ->
      ("WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
        "WHERE event_type = 'purchase'), " +
        "c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
        "WHERE event_type = 'click'), " +
        "j AS (SELECT p.event_id, p.user_id, p.ts_us, " +
        "c.event_id AS ce, c.ts_us AS cts, " +
        "row_number() OVER (PARTITION BY p.event_id " +
        "ORDER BY c.ts_us DESC NULLS LAST, c.event_id DESC NULLS LAST) AS rn " +
        "FROM p LEFT JOIN c ON p.user_id = c.user_id " +
        "AND c.ts_us <= p.ts_us AND c.ts_us >= p.ts_us - 3600000000) " +
        "SELECT event_id, user_id, ts_us, ce AS r_event_id, cts AS r_ts_us " +
        "FROM j WHERE rn = 1 ORDER BY event_id"),

    // the left-outer replay keeps unattributed purchases with a null
    // click side — batch j3's left semantics, horizon-bounded
    "e6b_stream_asof_left" ->
      ("WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
        "WHERE event_type = 'purchase'), " +
        "c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
        "WHERE event_type = 'click'), " +
        "j AS (SELECT p.event_id, p.user_id, p.ts_us, " +
        "c.event_id AS ce, c.ts_us AS cts, " +
        "row_number() OVER (PARTITION BY p.event_id " +
        "ORDER BY c.ts_us DESC NULLS LAST, c.event_id DESC NULLS LAST) AS rn " +
        "FROM p LEFT JOIN c ON p.user_id = c.user_id " +
        "AND c.ts_us <= p.ts_us AND c.ts_us >= p.ts_us - 3600000000) " +
        "SELECT event_id, user_id, ts_us, ce AS r_event_id, cts AS r_ts_us " +
        "FROM j WHERE rn = 1 ORDER BY event_id"),

    // the built-in session_window merges up to and INCLUDING session-end
    // (last + gap), so the break condition is e2's strict >; output drops
    // the session_id numbering
    "e2c_session_window" ->
      ("WITH marked AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_break " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)), " +
        "sessions AS (SELECT user_id, ts_us, " +
        "CAST(sum(is_break) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM marked) " +
        "SELECT user_id, count(*) AS n_events, min(ts_us) AS session_start_us, " +
        "max(ts_us) AS session_end_us, max(ts_us) - min(ts_us) AS duration_us " +
        "FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_start_us"),

    // closed-form PNG round-trip: width/height/pixel-sum recomputed from
    // the fixture formula (1+id%31, 1+id%17, gray = (7x+13y+id) mod 256)
    "m2b_image_decode" ->
      ("WITH px AS (SELECT d.doc_id, " +
        "sum((x.range * 7 + y.range * 13 + d.doc_id) % 256) AS px_sum " +
        "FROM documents d CROSS JOIN range(0, 31) x CROSS JOIN range(0, 17) y " +
        "WHERE d.doc_id < 100 AND x.range < 1 + d.doc_id % 31 " +
        "AND y.range < 1 + d.doc_id % 17 GROUP BY d.doc_id) " +
        "SELECT doc_id, (1 + doc_id % 31)::BIGINT AS width, " +
        "(1 + doc_id % 17)::BIGINT AS height, 1::BIGINT AS n_frames, " +
        "px_sum::BIGINT AS px_sum FROM px ORDER BY doc_id"),

    // closed-form resized-raster oracle: target dims from the integer
    // fit-to-box formula (>=1 clamp), source pixel for (x, y) =
    // (x*w // nw, y*h // nh), gray = (7*sx + 13*sy + id) mod 256 — the
    // m2b fixture formula sampled on the resized grid
    "m4b_resize_pixels" ->
      ("WITH f AS (SELECT doc_id, 1 + doc_id % 31 AS w, 1 + doc_id % 17 AS h " +
        "FROM documents WHERE doc_id < 100), " +
        "dims AS (SELECT doc_id, w, h, " +
        "CASE WHEN w <= 8 AND h <= 6 THEN w WHEN w * 6 >= h * 8 THEN 8 " +
        "ELSE greatest(1, (w * 6) // h) END AS nw, " +
        "CASE WHEN w <= 8 AND h <= 6 THEN h WHEN w * 6 >= h * 8 " +
        "THEN greatest(1, (h * 8) // w) ELSE 6 END AS nh FROM f), " +
        "px AS (SELECT dm.doc_id, " +
        "sum((((x.range * dm.w) // dm.nw) * 7 + ((y.range * dm.h) // dm.nh) * 13 + dm.doc_id) % 256) AS s " +
        "FROM dims dm CROSS JOIN range(0, 8) x CROSS JOIN range(0, 6) y " +
        "WHERE x.range < dm.nw AND y.range < dm.nh GROUP BY dm.doc_id) " +
        "SELECT dm.doc_id, dm.w::BIGINT AS width, dm.h::BIGINT AS height, " +
        "dm.nw::BIGINT AS new_width, dm.nh::BIGINT AS new_height, " +
        "p.s::BIGINT AS px_sum FROM dims dm JOIN px p USING (doc_id) " +
        "ORDER BY doc_id"),

    "m2c_audio_decode" -> audioFixtureOracleSql,

    // identical closed-form fixture, AIFF container — same oracle
    "m2d_aiff_decode" -> audioFixtureOracleSql,

    // exact-integer linear interpolation at 12 kHz: output frame j reads
    // source position j·src/12000 as quotient i0 + remainder fr; with the
    // fixture's sample+256 = (31·i + id) mod 512 the interpolated value is
    // a pure integer expression, so the resample oracle is closed-form
    // (floor == // throughout, every dividend non-negative)
    "m2g_resample" ->
      ("WITH p AS (SELECT doc_id, 8000 + (doc_id % 8) * 1000 AS src, " +
        "1 + doc_id % 2 AS ch, 500 + doc_id % 251 AS frames " +
        "FROM documents WHERE doc_id < 100), " +
        "v AS (SELECT p.doc_id, p.ch, p.frames, (p.frames * 12000) // p.src AS n_out, " +
        "j.range * p.src AS num FROM p CROSS JOIN range(0, 1125) j " +
        "WHERE j.range < (p.frames * 12000) // p.src), " +
        "o AS (SELECT doc_id, ch, n_out, " +
        "((((num // 12000) * 31 + doc_id) % 512) * (12000 - num % 12000) " +
        "+ ((LEAST(num // 12000 + 1, frames - 1) * 31 + doc_id) % 512) * (num % 12000)) " +
        "// 12000 - 256 AS outv FROM v), " +
        "a AS (SELECT doc_id, ch, n_out, sum(outv) AS s FROM o GROUP BY doc_id, ch, n_out) " +
        "SELECT doc_id, 12000::BIGINT AS sample_rate, ch::BIGINT AS channels, " +
        "n_out::BIGINT AS n_frames, ((n_out * 1000) // 12000)::BIGINT AS duration_ms, " +
        "(ch * s)::BIGINT AS amp_sum FROM a ORDER BY doc_id"),

    // closed-form uncompressed-AVI round-trip: header fields and the
    // triple-range pixel-channel sum (3 identical BGR bytes per pixel,
    // v = (7x + 13y + 31f + id) mod 256; stride padding is zero so the
    // chunk-byte sum IS the pixel sum)
    "m2e_video_decode" ->
      ("WITH px AS (SELECT d.doc_id, " +
        "sum(3 * ((x.range * 7 + y.range * 13 + f.range * 31 + d.doc_id) % 256)) AS s " +
        "FROM documents d CROSS JOIN range(0, 8) x CROSS JOIN range(0, 6) y " +
        "CROSS JOIN range(0, 7) f " +
        "WHERE d.doc_id < 100 AND x.range < 1 + d.doc_id % 8 " +
        "AND y.range < 1 + d.doc_id % 6 AND f.range < 2 + d.doc_id % 5 " +
        "GROUP BY d.doc_id) " +
        "SELECT doc_id, (1 + doc_id % 8)::BIGINT AS width, " +
        "(1 + doc_id % 6)::BIGINT AS height, " +
        "(2 + doc_id % 5)::BIGINT AS n_frames, " +
        "(((2 + doc_id % 5) * 20000 * (1 + doc_id % 3)) // 1000)::BIGINT AS duration_ms, " +
        "s::BIGINT AS px_sum FROM px ORDER BY doc_id"),

    // MJPEG sibling: header fields are the same closed form; the pixel sum
    // is codec-defined (lossy JPEG), so the gate is px_ok — the per-chunk
    // ImageIO decode inside the RIFF walk must bit-match the generator's
    // encode-time whole-image round trip
    "m2f_mjpeg_decode" ->
      ("SELECT doc_id, (1 + doc_id % 8)::BIGINT AS width, " +
        "(1 + doc_id % 6)::BIGINT AS height, " +
        "(2 + doc_id % 5)::BIGINT AS n_frames, " +
        "(((2 + doc_id % 5) * 20000 * (1 + doc_id % 3)) // 1000)::BIGINT AS duration_ms, " +
        "TRUE AS px_ok FROM documents WHERE doc_id < 100 ORDER BY doc_id"),

    // GIF sibling: lossless palettized frames, so the pixel sum is the
    // raw formula (one channel) and the duration comes from the per-frame
    // delay metadata — frames × 20 ms × (1 + id % 3)
    "m2h_gif_decode" ->
      ("WITH px AS (SELECT d.doc_id, " +
        "sum((x.range * 7 + y.range * 13 + f.range * 31 + d.doc_id) % 256) AS s " +
        "FROM documents d CROSS JOIN range(0, 8) x CROSS JOIN range(0, 6) y " +
        "CROSS JOIN range(0, 7) f " +
        "WHERE d.doc_id < 100 AND x.range < 1 + d.doc_id % 8 " +
        "AND y.range < 1 + d.doc_id % 6 AND f.range < 2 + d.doc_id % 5 " +
        "GROUP BY d.doc_id) " +
        "SELECT doc_id, (1 + doc_id % 8)::BIGINT AS width, " +
        "(1 + doc_id % 6)::BIGINT AS height, " +
        "(2 + doc_id % 5)::BIGINT AS n_frames, " +
        "((2 + doc_id % 5) * 20 * (1 + doc_id % 3))::BIGINT AS duration_ms, " +
        "s::BIGINT AS px_sum FROM px ORDER BY doc_id"),

    // the same SQL text shape the Spark side runs via spark.sql
    "q_sql_surface" ->
      ("WITH ny AS (SELECT c.c_mktsegment AS segment, " +
        "CAST(year(o.o_orderdate) AS INT) AS o_year, count(*) AS n_orders, " +
        "CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_price " +
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
        "GROUP BY c.c_mktsegment, CAST(year(o.o_orderdate) AS INT)) " +
        "SELECT segment, o_year, n_orders, total_price, " +
        "CAST(row_number() OVER (PARTITION BY segment ORDER BY total_price DESC, o_year) AS BIGINT) AS rn " +
        "FROM ny ORDER BY segment, o_year"),

    // brute-force cross-corpus near-dup matches (the d2 convention: LSH
    // banding at 32x2 has ~full recall at j >= 0.5, so the exact relation
    // is the oracle), then the surviving batch rows
    "d2b_incremental_minhash" -> d2bOracleSql,

    // the index replay must reproduce d2b exactly — band keys + shingle
    // sets are the same relations whether derived inline or loaded from
    // the sharded parquet index
    "d2c_index_replay" -> d2bOracleSql,

    // the SQL-text probe must reproduce the SAME relation as the typed
    // probe and the one-shot incremental form — one oracle for all three
    "d2e_index_probe_sql" -> d2bOracleSql,

    // the lifecycle gate: day-3 probe of the build→probe→update index must
    // equal the brute-force from-scratch relation over day-1 ∪ survivors
    "d2d_index_update" -> d2dOracleSql,

    // the SQL-text lifecycle must maintain the SAME relation the typed
    // lifecycle maintains — one from-scratch oracle gates both
    "d2h_index_update_sql" -> d2dOracleSql,

    // two fold+compact cycles must land on the three-generation
    // from-scratch relation — the CTAS-compact proven idempotent under
    // repeated maintenance
    "d2i_index_multi_compact_sql" -> d2iOracleSql,

    "d8d_index_update" -> d8dOracleSql,

    // the SQL-text lifecycle must land on the exact same day-3 relation
    // as the Scala-API lifecycle it mirrors (same splits, same oracle)
    "d8f_index_update_sql" -> d8dOracleSql
  )

  /** d8d's lifecycle oracle (shared verbatim by the SQL-text lifecycle
    * d8f): day-3 survivors against the from-scratch day-1 ∪ day-2-survivor
    * fingerprint set.
    */
  private def d8dOracleSql: String =
    "WITH fp AS (SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint " +
      "FROM documents), " +
      "s2 AS (SELECT fingerprint FROM fp WHERE doc_id % 8 = 0 " +
      "AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 8 >= 2)) " +
      "SELECT doc_id, fingerprint FROM fp WHERE doc_id % 8 = 1 " +
      "AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 8 >= 2) " +
      "AND fingerprint NOT IN (SELECT fingerprint FROM s2) " +
      "ORDER BY doc_id"

  /** d7's decontamination oracle — shared verbatim by the index replay
    * (d7b): the train shingle sets and df-capped inverted index are the
    * same relations whether derived inline or loaded from parquet.
    */
  private val d7OracleSql: String =
    s"WITH tsh AS (${trigramGramsSqlOver("documents WHERE doc_id % 4 != 0")}), " +
      s"xsh AS (${trigramGramsSqlOver("documents WHERE doc_id % 4 = 0")}), " +
      decontaminationCtes(maxDf = 50) + " " +
      "SELECT c.test_id, c.train_id, c.containment FROM contam c " +
      "WHERE c.containment >= 0.5 ORDER BY test_id, train_id"

  /** d8's exact-ingest oracle — shared verbatim by the index replay (d8c):
    * the distinct-fingerprint relation is identical whether computed
    * inline or loaded from the materialized index.
    */
  private val d8OracleSql: String =
    "WITH fp AS (SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint " +
      "FROM documents) " +
      "SELECT doc_id, fingerprint FROM fp WHERE doc_id % 10 = 0 " +
      "AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 10 != 0) " +
      "ORDER BY doc_id"

  /** d5c's embedding-ingest oracle (d5b's banded-ordinal recipe in the
    * cross-corpus probe shape, then the surviving batch rows) — shared
    * verbatim by the index replay (d5d).
    */
  /** The d5j from-scratch oracle: the three-way %4 split (base ≥2, day-2
    * = 0, day-3 probe = 1) replayed WITHOUT the index — day-2 survivors
    * are the batch rows with no banded-candidate cosine match in the
    * base, the probe screens against base ∪ survivors. Any fold-ordering
    * bug, partial compaction, or band/vector drift in the SQL lifecycle
    * shows up as a hash mismatch against this.
    */
  private val d5jOracleSql: String = {
    val bandSelects = (0 until 32).map { b =>
      s"SELECT vec_id, $b AS band, " +
        ordinalSketchSql("embedding", dim = 64, bits = 4, seed = 1000L + b) +
        " AS bkey FROM embeddings"
    }.mkString(" UNION ALL ")
    def cos = "round(list_cosine_similarity(e1.embedding::DOUBLE[], " +
      "e2.embedding::DOUBLE[]), 6) >= 0.45"
    s"WITH bands AS ($bandSelects), " +
      "base AS (SELECT * FROM bands WHERE vec_id % 4 >= 2), " +
      "day2 AS (SELECT * FROM bands WHERE vec_id % 4 = 0), " +
      "cand2 AS (SELECT DISTINCT n.vec_id AS id_1, c.vec_id AS id_2 " +
      "FROM day2 n JOIN base c ON n.band = c.band AND n.bkey = c.bkey), " +
      "m2 AS (SELECT DISTINCT c.id_1 FROM cand2 c " +
      "JOIN embeddings e1 ON c.id_1 = e1.vec_id " +
      s"JOIN embeddings e2 ON c.id_2 = e2.vec_id WHERE $cos), " +
      "idx AS (SELECT * FROM base UNION ALL " +
      "SELECT * FROM day2 WHERE vec_id NOT IN (SELECT id_1 FROM m2)), " +
      "day3 AS (SELECT * FROM bands WHERE vec_id % 4 = 1), " +
      "cand3 AS (SELECT DISTINCT n.vec_id AS id_1, c.vec_id AS id_2 " +
      "FROM day3 n JOIN idx c ON n.band = c.band AND n.bkey = c.bkey), " +
      "m3 AS (SELECT DISTINCT c.id_1 FROM cand3 c " +
      "JOIN embeddings e1 ON c.id_1 = e1.vec_id " +
      s"JOIN embeddings e2 ON c.id_2 = e2.vec_id WHERE $cos) " +
      "SELECT vec_id, label FROM embeddings WHERE vec_id % 4 = 1 " +
      "AND vec_id NOT IN (SELECT id_1 FROM m3) ORDER BY vec_id"
  }

  private val d5cOracleSql: String = {
    val bandSelects = (0 until 32).map { b =>
      s"SELECT vec_id, $b AS band, " +
        ordinalSketchSql("embedding", dim = 64, bits = 4, seed = 1000L + b) +
        " AS bkey FROM embeddings"
    }.mkString(" UNION ALL ")
    s"WITH bands AS ($bandSelects), " +
      "nb AS (SELECT * FROM bands WHERE vec_id % 11 = 0), " +
      "cb AS (SELECT * FROM bands WHERE vec_id % 11 != 0), " +
      "cand AS (SELECT DISTINCT n.vec_id AS id_1, c.vec_id AS id_2 " +
      "FROM nb n JOIN cb c ON n.band = c.band AND n.bkey = c.bkey), " +
      "m AS (SELECT DISTINCT c.id_1 FROM cand c " +
      "JOIN embeddings e1 ON c.id_1 = e1.vec_id " +
      "JOIN embeddings e2 ON c.id_2 = e2.vec_id " +
      "WHERE round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) >= 0.45) " +
      "SELECT vec_id, label FROM embeddings WHERE vec_id % 11 = 0 " +
      "AND vec_id NOT IN (SELECT id_1 FROM m) ORDER BY vec_id"
  }

  /** d2b's MinHash-ingest oracle (brute-force cross-corpus trigram-Jaccard
    * matches ≥ 0.5, then the surviving batch rows) — shared verbatim by
    * the index replay (d2c).
    */
  /** The dashboard chain (pivot → forward-fill → per-nation stats, the
    * reference's entry-point-2 at app.py:1004-1176) as ONE SQL TEMPLATE
    * rendered for either engine — unlike q_covid_sql's single shared
    * string, the dashboard needs two engine-specific fragments (DuckDB's
    * `strftime`/inside-parens `IGNORE NULLS` vs Spark's `date_format`/
    * ANSI-position `IGNORE NULLS`); everything else — the pivot CASE, the
    * LOCF window, the decimal-exact averages — is byte-identical, so the
    * two renderings remain ONE canonical query. `forSpark = false` is
    * simultaneously q_dashboard_chain's oracle and q_dashboard_sql's,
    * making the DataFrame chain, the Spark SQL text, and the DuckDB replay
    * three renderings of the same relation.
    */
  private def dashboardSqlText(forSpark: Boolean): String = {
    val month =
      if (forSpark) "date_format(o_orderdate, 'yyyy-MM')"
      else "strftime(o_orderdate, '%Y-%m')"
    val locf =
      if (forSpark) "last_value(building) IGNORE NULLS OVER "
      else "last_value(building IGNORE NULLS) OVER "
    "WITH enriched AS (" +
      "SELECT o.*, c.c_nationkey AS r_c_nationkey, c.c_mktsegment AS r_c_mktsegment " +
      "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
      "WHERE o.o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31' " +
      "AND c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')), " +
      s"mo AS (SELECT *, $month AS o_month FROM enriched), " +
      "tile AS (SELECT round(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) " +
      "AS DECIMAL(38,2)) AS DOUBLE) / count(*), 4) AS tile_avg_totalprice FROM mo), " +
      "piv AS (SELECT r_c_nationkey, o_month, " +
      "max(CASE WHEN r_c_mktsegment = 'BUILDING' THEN o_totalprice END) AS building " +
      "FROM mo GROUP BY 1, 2), " +
      "filled AS (SELECT r_c_nationkey, o_month, " +
      s"$locf(PARTITION BY r_c_nationkey " +
      "ORDER BY o_month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS building_filled " +
      "FROM piv), " +
      "stats AS (SELECT r_c_nationkey, count(*) AS count_months, " +
      "round(CAST(CAST(sum(CAST(building_filled AS DECIMAL(18,2))) AS DECIMAL(38,2)) " +
      "AS DOUBLE) / count(building_filled), 4) AS avg_building, " +
      "max(building_filled) AS max_building, " +
      "round(median(building_filled), 4) AS median_building, " +
      "round(stddev_samp(building_filled), 4) AS std_building " +
      "FROM filled GROUP BY r_c_nationkey) " +
      "SELECT s.*, n.n_nationkey AS r_n_nationkey, n.n_name AS r_n_name, " +
      "n.n_regionkey AS r_n_regionkey, t.tile_avg_totalprice " +
      "FROM stats s JOIN nation n ON s.r_c_nationkey = n.n_nationkey CROSS JOIN tile t " +
      "ORDER BY r_c_nationkey"
  }

  /** q_covid_chain's oracle — shared verbatim by q_covid_sql, which also
    * RUNS this very string through `spark.sql`: the text stays inside the
    * ANSI intersection both engines parse (decimal-cast sums, one IEEE
    * division for avg, `median`/`stddev_samp`, window dedup), so one
    * string is simultaneously the Spark query and the DuckDB oracle — the
    * strongest possible "the reference's query, as SQL text, on this
    * engine" loop-closure.
    */
  private val qCovidOracleSql: String =
    "WITH enriched AS (" +
      "SELECT o.*, c.c_custkey AS r_c_custkey, c.c_name AS r_c_name, " +
      "c.c_nationkey AS r_c_nationkey, c.c_acctbal AS r_c_acctbal, " +
      "c.c_mktsegment AS r_c_mktsegment " +
      "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
      "WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' " +
      "AND c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')), " +
      "latest AS (SELECT * FROM (SELECT e.*, row_number() OVER (PARTITION BY o_custkey " +
      "ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM enriched e) WHERE rn = 1), " +
      "g AS (SELECT r_c_nationkey, count(*) AS count_o_totalprice, " +
      "CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_o_totalprice, " +
      "round(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) / count(*), 4) AS avg_o_totalprice, " +
      "max(o_totalprice) AS max_o_totalprice, " +
      "round(median(o_totalprice), 4) AS median_o_totalprice, " +
      "round(stddev_samp(o_totalprice), 4) AS std_o_totalprice " +
      "FROM latest GROUP BY r_c_nationkey) " +
      "SELECT g.*, n.n_nationkey AS r_n_nationkey, n.n_name AS r_n_name, " +
      "n.n_regionkey AS r_n_regionkey " +
      "FROM g JOIN nation n ON g.r_c_nationkey = n.n_nationkey ORDER BY r_c_nationkey"

  /** Closed-form audio round-trip oracle (m2c WAV / m2d AIFF — the
    * containers carry the SAME formula-derived signal, so one oracle
    * serves both): rate/channels/frames/duration and the PCM amplitude
    * sum recomputed from the fixture formula (rate = 8000 + (id%8)*1000,
    * channels = 1 + id%2, frames = 500 + id%251,
    * sample_i = ((31i + id) mod 512) − 256, every channel of a frame
    * carries the same value).
    */
  private val audioFixtureOracleSql: String =
    "WITH amp AS (SELECT d.doc_id, " +
      "sum(((r.range * 31 + d.doc_id) % 512) - 256) AS s " +
      "FROM documents d CROSS JOIN range(0, 751) r " +
      "WHERE d.doc_id < 100 AND r.range < 500 + d.doc_id % 251 " +
      "GROUP BY d.doc_id) " +
      "SELECT doc_id, (1 + doc_id % 2)::BIGINT AS channels, " +
      "(8000 + (doc_id % 8) * 1000)::BIGINT AS sample_rate, " +
      "(500 + doc_id % 251)::BIGINT AS n_frames, " +
      "(((500 + doc_id % 251) * 1000) // (8000 + (doc_id % 8) * 1000))::BIGINT AS duration_ms, " +
      "(s * (1 + doc_id % 2))::BIGINT AS amp_sum FROM amp ORDER BY doc_id"

  private val trigramInvCtes: String =
    "sh AS (SELECT doc_id, list_distinct(list_transform(" +
      "range(1, len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 1), " +
      "i -> regexp_split_to_array(lower(trim(text)), '\\s+')[i] || ' ' || " +
      "regexp_split_to_array(lower(trim(text)), '\\s+')[i+1] || ' ' || " +
      "regexp_split_to_array(lower(trim(text)), '\\s+')[i+2])) AS grams FROM documents), " +
      "inv AS (SELECT doc_id, len(grams) AS n_sh, unnest(grams) AS s FROM sh)"

  private val d2bOracleSql: String =
    s"WITH $trigramInvCtes, " +
      "m AS (SELECT a.doc_id AS id_1 " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id % 9 = 0 AND b.doc_id % 9 != 0 " +
      "GROUP BY a.doc_id, b.doc_id " +
      "HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= 0.5) " +
      "SELECT doc_id, n_chars FROM documents WHERE doc_id % 9 = 0 " +
      "AND doc_id NOT IN (SELECT id_1 FROM m) ORDER BY doc_id"

  /** d2d's lifecycle oracle: day-2 survivors are computed brute-force
    * against the day-1 corpus (doc_id % 7 >= 2), then day-3 (doc_id % 7 =
    * 1) screens against day-1 ∪ those survivors — the from-scratch rebuild
    * of the updated index's corpus. The Spark side must bit-match via
    * build → probe+update → probe on the materialized index.
    */
  private val d2dOracleSql: String =
    s"WITH $trigramInvCtes, " +
      "m2 AS (SELECT a.doc_id AS id_1 " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id % 7 = 0 AND b.doc_id % 7 >= 2 " +
      "GROUP BY a.doc_id, b.doc_id " +
      "HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= 0.5), " +
      "s2 AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0 " +
      "AND doc_id NOT IN (SELECT id_1 FROM m2)), " +
      "m3 AS (SELECT a.doc_id AS id_1 " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id % 7 = 1 " +
      "AND (b.doc_id % 7 >= 2 OR b.doc_id IN (SELECT doc_id FROM s2)) " +
      "GROUP BY a.doc_id, b.doc_id " +
      "HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= 0.5) " +
      "SELECT doc_id, n_chars FROM documents WHERE doc_id % 7 = 1 " +
      "AND doc_id NOT IN (SELECT id_1 FROM m3) ORDER BY doc_id"

  /** d2i's three-generation from-scratch relation: day-2 (%7=2) screens
    * against the day-1 build (%7>=3), day-3 (%7=0) against day-1 ∪ day-2
    * survivors, the day-4 probe (%7=1) against everything admitted.
    */
  private val d2iOracleSql: String = {
    val jac = "GROUP BY a.doc_id, b.doc_id HAVING round(count(*)::DOUBLE / " +
      "(any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= 0.5"
    s"WITH $trigramInvCtes, " +
      "m2 AS (SELECT a.doc_id AS id_1 " +
      s"FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id % 7 = 2 AND b.doc_id % 7 >= 3 $jac), " +
      "s2 AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 2 " +
      "AND doc_id NOT IN (SELECT id_1 FROM m2)), " +
      "m3 AS (SELECT a.doc_id AS id_1 " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id % 7 = 0 " +
      s"AND (b.doc_id % 7 >= 3 OR b.doc_id IN (SELECT doc_id FROM s2)) $jac), " +
      "s3 AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0 " +
      "AND doc_id NOT IN (SELECT id_1 FROM m3)), " +
      "m4 AS (SELECT a.doc_id AS id_1 " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id % 7 = 1 " +
      "AND (b.doc_id % 7 >= 3 OR b.doc_id IN (SELECT doc_id FROM s2) " +
      s"OR b.doc_id IN (SELECT doc_id FROM s3)) $jac) " +
      "SELECT doc_id, n_chars FROM documents WHERE doc_id % 7 = 1 " +
      "AND doc_id NOT IN (SELECT id_1 FROM m4) ORDER BY doc_id"
  }
}
