package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators.
  *
  * The `events` table models the stream; whatever physical encoding the
  * producer wrote `ts` in (bigint nanos, timestamp[us], …), Tables.events
  * normalizes it to a `ts_us` epoch-micros column, which is the event-time
  * every operator here keys on. Each event-window operator is ONE def
  * whose plan runs on a batch frame and on a streaming one alike: it
  * aggregates over Spark's `window`/`session_window` of `ts_us` under
  * `withWatermark` (streaming bounds window state by the watermark and,
  * in append mode, emits a window once the watermark closes it; Spark
  * drops the watermark from a batch plan). Widths and gaps are `Long`
  * microseconds, the oracle's unit, and the window keys come back in that
  * unit: a FLOOR-division `bucket` for tumbling windows and an epoch-micros
  * `win_start` for hopping ones, so pre-1970 timestamps key exactly as the
  * oracle's `//` does. An event with a null `ts_us` falls in no window.
  */
object StreamOps {

  /** `events` with its `event_time` (= `ts_us`) under the watermark. */
  private def watermarked(events: DataFrame, watermark: String): DataFrame =
    events.withColumn("event_time", timestamp_micros(col("ts_us")))
      .withWatermark("event_time", watermark)

  private def duration(us: Long): String = s"$us microseconds"

  /** The tumbling window's floor index: `window.start` is an exact
    * multiple of the width, so `div` is exact on negative starts too. */
  private def bucket(widthUs: Long): Column =
    expr(s"unix_micros(window.start) div ${widthUs}L").as("bucket")

  /** E1 — tumbling-window aggregate: events and rounded value sum per
    * (bucket, event_type). Partial aggregation happens map-side; one
    * shuffle of (window, type) partials regardless of event volume.
    */
  def tumblingCounts(events: DataFrame, widthUs: Long, watermark: String): DataFrame = {
    require(widthUs > 0, "tumblingCounts: width must be positive")
    watermarked(events, watermark)
      .groupBy(window(col("event_time"), duration(widthUs)), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(bucket(widthUs), col("event_type"), col("n_events"), col("sum_value"))
  }

  /** E4 — HOPPING (sliding) window aggregate: windows of `widthUs`
    * starting every `slideUs` (width must be a multiple of slide), so each
    * event lands in width/slide windows, keyed by `win_start` in epoch
    * micros. Spark's `window(col, width, slide)` replicates each event with
    * an `Expand` BEFORE the aggregation's partial phase, so the exchange
    * carries (window, type) partials only, exactly like the tumbling form;
    * the cost is the width/slide input blow-up every hopping-window engine
    * pays, never a second shuffle.
    */
  def hoppingCounts(events: DataFrame, widthUs: Long, slideUs: Long,
                    watermark: String): DataFrame = {
    require(widthUs > 0 && slideUs > 0 && widthUs % slideUs == 0,
      "hoppingCounts: width must be a positive multiple of slide")
    watermarked(events, watermark)
      .groupBy(window(col("event_time"), duration(widthUs), duration(slideUs)),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .select(expr("unix_micros(window.start)").as("win_start"), col("event_type"),
        col("n_events"), col("sum_value"))
  }

  /** E8 — per-window DISTINCT-user count (the canonical "hourly active
    * users" metric) as (bucket, n_users). Structured Streaming disallows
    * distinct aggregates outright, so the one body is DEDUP-THEN-COUNT: a
    * watermarked `dropDuplicates` on (window, user) — the window struct
    * carries the event-time metadata, so dedup state evicts as the
    * watermark passes each window — feeding a windowed count that sees
    * every (window, user) pair exactly once. Streaming runs the two
    * chained stateful operators in append mode only, which is also the
    * right production mode (each window's count emits once, when the
    * watermark closes it). Null users are dropped first, as SQL's
    * `count(DISTINCT user_id)` skips them. The dedup discards event
    * multiplicity; per-window event counts are [[tumblingCounts]] summed
    * per bucket.
    */
  def windowDistinctUsers(events: DataFrame, widthUs: Long, watermark: String): DataFrame = {
    require(widthUs > 0, "windowDistinctUsers: width must be positive")
    watermarked(events.filter(col("user_id").isNotNull), watermark)
      .select(window(col("event_time"), duration(widthUs)).as("window"), col("user_id"))
      .dropDuplicates("window", "user_id")
      .groupBy(col("window"))
      .agg(count(lit(1)).as("n_users"))
      .select(bucket(widthUs), col("n_users"))
  }

  /** E8d — approximate per-window distinct users via HyperLogLog++
    * (`approx_count_distinct`) as (bucket, n_users_approx). Unlike the
    * exact dedup-then-count chain of [[windowDistinctUsers]] (TWO stateful
    * operators), the HLL sketch is an ordinary partial aggregate — ONE
    * stateful operator whose per-window state is a fixed-size sketch
    * (~kilobytes at rsd 0.05) no matter how many distinct users the window
    * sees. That bounded state per window is why dashboards run HLL and
    * reconcile exact counts offline; `rsd` is the standard-error knob.
    * Register merges are max-based, so the estimate does not depend on
    * partitioning or arrival order.
    */
  def windowApproxDistinctUsers(events: DataFrame, widthUs: Long, watermark: String,
                                rsd: Double = 0.05): DataFrame = {
    require(widthUs > 0, "windowApproxDistinctUsers: width must be positive")
    watermarked(events, watermark)
      .groupBy(window(col("event_time"), duration(widthUs)))
      .agg(approx_count_distinct(col("user_id"), rsd).as("n_users_approx"))
      .select(bucket(widthUs), col("n_users_approx"))
  }

  /** Spark's bundled RocksDB state-store provider. At production state
    * sizes (watermark horizon × active keys) the default HDFS-backed
    * in-memory store is the first thing to fall over; RocksDB spills state
    * off-heap. The provider conf is read at QUERY START, so wrapping a
    * replay in `Session.withConf(spark,
    * "spark.sql.streaming.stateStore.providerClass" -> RocksDbProvider)` is
    * enough — and the operators here carry no provider assumptions
    * (StreamOpsSpec replays the dedup-then-count chain under RocksDB
    * against the batch oracle).
    */
  val RocksDbProvider =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** E2 — gap-based sessionization by lag-diff + running-sum session ids:
    * a session breaks when the gap from the previous event of the same
    * user exceeds `gapUs`; one shuffle to co-locate users. Batch only (a
    * stream cannot number a user's sessions); it is the reference
    * [[sessionizeWindow]] is pinned against.
    */
  def sessionize(events: DataFrame, gapUs: Long): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
    val withBreaks = events
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn("is_break",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > gapUs, 1L).otherwise(0L))
      .withColumn("session_id", sum(col("is_break")).over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    withBreaks.groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
  }

  /** E2c — gap-based sessionization via Spark's BUILT-IN `session_window`
    * aggregate: [[sessionize]]'s relation minus the session_id numbering,
    * on a batch or a streaming frame. State merging and eviction are the
    * engine's; in append mode a session emits once the watermark passes
    * its end (last event + gap).
    *
    * Boundary semantics MATCH the lag-diff form exactly: the built-in
    * merges an event into the open session when it lands at or before
    * session-end (= last + gap), i.e. a break happens only when the gap is
    * STRICTLY exceeded — verified against [[sessionize]] in StreamOpsSpec,
    * exact-boundary case included.
    */
  def sessionizeWindow(events: DataFrame, gapUs: Long, watermark: String): DataFrame =
    watermarked(events, watermark)
      .groupBy(session_window(col("event_time"), duration(gapUs)), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        max(col("ts_us")).as("session_end_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"))
      .select("user_id", "n_events", "session_start_us", "session_end_us", "duration_us")

  /** Streaming exact dedup (E3): keep the FIRST arrival of each normalized-
    * text fingerprint, drop later duplicates — ingest-time dedup for a
    * continuously-fed corpus (batch analogue: [[graft.operators.Dedup.exact]]).
    * `dropDuplicatesWithinWatermark` bounds the fingerprint state: dups
    * arriving within the watermark horizon dedup exactly, and state older
    * than the watermark is evicted — at continuous 100 TB-scale ingest,
    * unbounded dedup state is the failure mode, so the watermark is the
    * explicit knob trading dedup horizon for state size. Only the 16-byte
    * fingerprint + event-time is held per distinct document, never text.
    */
  def dedupExactStreaming(docs: DataFrame, textCol: String, tsCol: String,
                          watermark: String): DataFrame =
    docs.withColumn("fingerprint", graft.functions.Text.fingerprint(col(textCol)))
      .withColumn("event_time", timestamp_micros(col(tsCol)))
      .withWatermark("event_time", watermark)
      .dropDuplicatesWithinWatermark("fingerprint")

  /** Batch-replay to a PARQUET sink — the PRODUCTION catch-up shape. The
    * memory-sink harness below collects the result rows on the driver,
    * which is the right tool for driver-gated correctness replays at bench
    * SF but caps at `spark.driver.maxResultSize` when the RESULT is
    * corpus-sized (measured: the e3 dedup replay at 1000× emits ~5M rows
    * and killed the default 1 GB limit — the sink, not the streaming
    * state, was the ceiling). Append-mode parquet keeps the result on
    * executors/disk end to end; returns the written relation.
    *
    * The relation is read with the stream's own schema: reading it with
    * none starts a job that opens the parquet footers (90 ms per call on
    * 4 vCPU) to learn the same schema. The file sink's `_spark_metadata`
    * log still lists the files, so the frame holds exactly the committed
    * output. The query's fixed cost depends on two session confs that
    * `graft.Session` sets (`Session.NoArtifactIsolation`: a query of the
    * same shape as an earlier one reuses its compiled classes;
    * `Session.CheckpointManager`: the checkpoint logs of a local path are
    * written without forking `stat`).
    */
  def runToParquet(spark: SparkSession, streamed: DataFrame,
                   path: String): DataFrame = {
    val q = streamed.writeStream.format("parquet")
      .option("path", s"$path/out")
      .option("checkpointLocation", s"$path/cp")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.schema(streamed.schema).parquet(s"$path/out")
  }

  /** E5 — STREAM–STATIC enrichment join: each micro-batch of the stream
    * hash-joins against a static (batch) dimension frame — the standard
    * "attach user/document metadata at ingest" shape. Spark keeps the
    * static side as a regular batch relation (broadcast when small, as a
    * dim should be), re-planned per micro-batch with NO streaming state:
    * unlike stream-stream joins there is nothing to watermark — the
    * enrichment is stateless, so 100 TB of stream history costs no
    * executor memory. Inner by default; "left_outer" keeps unmatched
    * stream rows with null dims.
    */
  def enrichWithStatic(stream: DataFrame, dim: DataFrame, key: String,
                       joinType: String = "inner"): DataFrame =
    stream.join(dim, Seq(key), joinType)

  /** E7 — INGEST DEDUP against a MATERIALIZED fingerprint index
    * ([[graft.operators.Dedup.FingerprintIndex]]): [[graft.operators.Dedup
    * .exactIncremental]] with the corpus side prebuilt, so the corpus is
    * not scanned at all. `stream` may be a batch frame (the daily-ingest
    * probe) or a streaming one; the plan is the same anti join either way.
    * Each (micro-)batch of incoming documents fingerprints narrowly and
    * ANTI-joins the parquet-loaded index, emitting only never-seen
    * documents with their `fingerprint` column. The static side is a
    * regular batch relation re-planned per micro-batch:
    * NO streaming state at all (the index IS the state, owned by the
    * ingest pipeline and advanced between batches by appending the
    * survivors), so stream history costs no executor
    * memory, and the index can be 100 TB-corpus-sized — everything the
    * batch probe's plan does (broadcast or shuffled anti join, bloom
    * pruning via Catalyst) applies per micro-batch.
    *
    * Note this intentionally dedups ONLY against the index, not within
    * the stream ([[dedupExactStreaming]] is the within-stream watermarked
    * form; a real ingest runs both).
    */
  def ingestDedupStreaming(stream: DataFrame, index: DataFrame,
                           textCol: String): DataFrame =
    stream
      .withColumn("fingerprint", graft.functions.Text.fingerprint(col(textCol)))
      .join(index.select("fingerprint"), Seq("fingerprint"), "left_anti")

  /** The plain two-operator plan behind [[asofJoinStreaming]]: the same
    * relation with `user_id` alone as the join key. Its per-key state scan
    * ran 88 min without completing on the 1000× key-dense probe, where
    * the sliced plan finishes in ~91 s (and is 8.6× faster even at 100×),
    * so the public entry always slices. The e6/e6b rows and the specs call
    * this plan directly as the reference the sliced one is pinned against.
    */
  private[graft] def asofJoinStreamingPlain(purchases: DataFrame, clicks: DataFrame,
                                            horizonUs: Long, watermark: String,
                                            joinType: String = "inner"): DataFrame = {
    require(horizonUs > 0, "asofJoinStreaming: horizon must be positive")
    require(joinType == "inner" || joinType == "left_outer",
      s"asofJoinStreaming: unsupported join type '$joinType'")
    val p = purchases.select(col("event_id").as("p_event_id"), col("user_id"),
        col("ts_us").as("p_ts_us"), timestamp_micros(col("ts_us")).as("p_time"))
      .withWatermark("p_time", watermark)
    val c = clicks.select(col("event_id").as("c_event_id"),
        col("user_id").as("c_user_id"), col("ts_us").as("c_ts_us"),
        timestamp_micros(col("ts_us")).as("c_time"))
      .withWatermark("c_time", watermark)
    p.join(c,
        col("user_id") === col("c_user_id") &&
          col("c_time") <= col("p_time") &&
          col("c_time") >= col("p_time") - expr(s"INTERVAL $horizonUs MICROSECOND"),
        joinType)
      .groupBy(col("p_time"), col("p_event_id"), col("user_id"), col("p_ts_us"))
      .agg(max(struct(col("c_ts_us"), col("c_event_id"))).as("_best"))
      .select(col("p_event_id").as("event_id"), col("user_id"),
        col("p_ts_us").as("ts_us"), col("_best.c_event_id").as("r_event_id"),
        col("_best.c_ts_us").as("r_ts_us"))
  }

  /** E6 — STREAM-STREAM AS-OF JOIN: for each left-stream (purchase) event,
    * the LATEST right-stream (click) event of the same user at or before
    * it, looking back at most `horizonUs` — the j3 as-of shape as two
    * live streams (events-to-events attribution at ingest time).
    *
    * The unbounded batch as-of ("latest preceding, ever") is not
    * streamable: it would need infinite right-side state. The horizon is
    * what makes state finite — Spark derives the right side's state
    * retention from the time-interval join condition and evicts clicks
    * older than watermark − horizon; that bound is the semantic price of
    * streaming, and the oracle applies the same horizon. Two stateful
    * operators chain: the interval JOIN pairs each purchase with every
    * in-horizon click; the watermarked AGGREGATE (grouped on the
    * purchase's event-time column + id) reduces them to the latest one,
    * ties to the greatest click event_id — exactly
    * [[graft.operators.Joins.asofJoin]]'s tiebreak. Inner semantics: a
    * purchase with no in-horizon click drops (stream-stream outer would
    * hold it until the watermark anyway — emit-on-timeout, not
    * emit-never).
    *
    * Append-mode note (the e2b lesson's aggregate form): a group emits
    * only once the watermark passes its purchase time, so a finite replay
    * must push the watermark past the last real event — stage one
    * far-future sentinel per stream (non-joining user ids); the engine's
    * watermark-advancing no-data batch then flushes every real group.
    *
    * `joinType` "left_outer" restores the batch [[graft.operators.Joins
    * .asofJoin]]'s LEFT semantics: an unattributed purchase emits with a
    * null click side once the watermark proves no in-horizon click can
    * still arrive (emit-on-timeout — the join holds the row, the
    * downstream aggregate sees its single null-click row and max() of the
    * one all-null struct passes the nulls through).
    *
    * E6c — the join key is sub-bucketed by a TIME SLICE so per-key state
    * stays bounded on streams whose hot keys accumulate many in-horizon
    * values.
    *
    * Why: Spark's stream-stream join state
    * (`SymmetricHashJoinStateManager`) keeps one value LIST per join key
    * and walks it linearly on every probe. With `user_id` alone as the
    * key, a hot user's list holds every retained click — within one
    * micro-batch that is every click of the user in the batch — so a
    * key-densifying workload goes quadratic PER KEY: the 1000× replay of
    * the plain form ran 88 min without completing, all 32 workers inside
    * the per-key value scan (BENCH_SCALE 1000× e6 row, jstack-attributed).
    * Sub-bucketing the key by `floor(click_ts / sliceUs)` bounds each
    * (user, slice) list to one slice's clicks; a purchase probes only the
    * `horizonUs/sliceUs + 1` slices covering its look-back window, so
    * probe work tracks the clicks actually IN HORIZON instead of all
    * clicks ever retained.
    *
    * Exactness: a click belongs to exactly ONE slice, and any click
    * satisfying `p_ts - horizon <= c_ts <= p_ts` has its slice inside
    * `[floor((p_ts-horizon)/S), floor(p_ts/S)]` — the purchase-side
    * `sequence` explode covers precisely that closed range, so every
    * qualifying (purchase, click) pair meets in exactly one sliced key
    * (no duplicates to the downstream latest-click aggregate, which also
    * collapses the exploded purchase rows back to one output row). The
    * time-interval condition is unchanged, so the relation bit-matches
    * [[asofJoinStreamingPlain]] — spec-pinned, and the e6c oracle row
    * gates it against the same SQL as e6.
    *
    * Cost: the left stream amplifies `horizonUs/sliceUs + 1`× (2× at the
    * default `sliceUs = horizonUs`); the right stream adds one bigint
    * column. Shrink `sliceUs` below the horizon only when a single
    * horizon-width slice still holds too many values per hot key.
    *
    * The slice is floor division (via `pmod`, exact on longs), not
    * truncation — pre-1970 timestamps slice consistently with the window
    * family's FLOOR semantics.
    */
  def asofJoinStreaming(purchases: DataFrame, clicks: DataFrame,
                        horizonUs: Long, watermark: String,
                        joinType: String = "inner",
                        sliceUs: Long = 0L): DataFrame = {
    require(horizonUs > 0, "asofJoinStreaming: horizon must be positive")
    require(joinType == "inner" || joinType == "left_outer",
      s"asofJoinStreaming: unsupported join type '$joinType'")
    require(sliceUs >= 0, "asofJoinStreaming: sliceUs must be >= 0")
    val s = if (sliceUs > 0) sliceUs else horizonUs
    // exact long floor-div, PURE integer arithmetic: (x - pmod(x, s)) is
    // divisible by s, and SQL `div` is integral division on longs — no
    // float round-trip, so even ts_us past 2^53 µs slices exactly (the
    // earlier Column `/` went through double, exact only below ~year 2255)
    def sliceSql(x: String) = s"(($x) - pmod(($x), ${s}L)) div ${s}L"
    val p = purchases.select(col("event_id").as("p_event_id"), col("user_id"),
        col("ts_us").as("p_ts_us"), timestamp_micros(col("ts_us")).as("p_time"))
      .withWatermark("p_time", watermark)
      .withColumn("p_slice", expr(s"explode(sequence(" +
        sliceSql(s"p_ts_us - ${horizonUs}L") + ", " + sliceSql("p_ts_us") + "))"))
    val c = clicks.select(col("event_id").as("c_event_id"),
        col("user_id").as("c_user_id"), col("ts_us").as("c_ts_us"),
        timestamp_micros(col("ts_us")).as("c_time"))
      .withWatermark("c_time", watermark)
      .withColumn("c_slice", expr(sliceSql("c_ts_us")))
    p.join(c,
        col("user_id") === col("c_user_id") &&
          col("p_slice") === col("c_slice") &&
          col("c_time") <= col("p_time") &&
          col("c_time") >= col("p_time") - expr(s"INTERVAL $horizonUs MICROSECOND"),
        joinType)
      .groupBy(col("p_time"), col("p_event_id"), col("user_id"), col("p_ts_us"))
      .agg(max(struct(col("c_ts_us"), col("c_event_id"))).as("_best"))
      .select(col("p_event_id").as("event_id"), col("user_id"),
        col("p_ts_us").as("ts_us"), col("_best.c_event_id").as("r_event_id"),
        col("_best.c_ts_us").as("r_ts_us"))
  }

  /** E6e — the KEY-DENSITY diagnostic behind [[asofJoinStreaming]]'s
    * slice width (the d4c/d9c/d5e pattern applied to streaming state: a
    * cheap measured relation the plan choice consumes, instead of a
    * guessed knob): for each rung of a halving slice ladder starting at
    * the horizon, the per-(key, slice) slot occupancy a batch replay of
    * the CLICK stream would put in the join's right-side state — slot
    * count, the LARGEST slot (the quantity the state manager's linear
    * per-key value scan is quadratic in), total rows, and the left-stream
    * amplification that rung costs (`horizon/slice + 1` probes per
    * purchase; exact because every ladder rung divides the horizon —
    * odd-dividing rungs are skipped).
    *
    * Scale shape: ONE map-side-combined aggregate over (slice, key, slot)
    * — the exchange carries distinct slots, never raw clicks — reduced to
    * ≤`rungs` rows. Run it on a batch sample/replay of the stream's
    * source (the diagnostic is batch by design: state density is a
    * property of the DATA, measurable before any query starts).
    */
  def asofSliceStats(clicks: DataFrame, keyCol: String, tsCol: String,
                     horizonUs: Long, rungs: Int = 6): DataFrame = {
    require(horizonUs > 0, "asofSliceStats: horizon must be positive")
    require(rungs >= 1, "asofSliceStats: at least one ladder rung")
    val ladder = sliceLadder(horizonUs, rungs)
    val lad = array(ladder.map { case (s, a) =>
      struct(lit(s).as("slice_us"), lit(a).as("amplification"))
    }: _*)
    clicks.select(col(keyCol).as("_k"), col(tsCol).cast("long").as("_ts"))
      .withColumn("_l", explode(lad))
      .select(col("_l.slice_us").as("slice_us"),
        col("_l.amplification").as("amplification"), col("_k"),
        expr("(_ts - pmod(_ts, _l.slice_us)) div _l.slice_us").as("_slot"))
      .groupBy("slice_us", "amplification", "_k", "_slot")
      .agg(count(lit(1)).as("_n"))
      .groupBy("slice_us", "amplification")
      .agg(count(lit(1)).as("n_slots"), max("_n").as("max_slot"),
        sum("_n").as("n_rows"))
  }

  /** The halving slice ladder [[asofSliceStats]] measures: (slice_us,
    * amplification) per rung, keeping only rungs that divide the horizon
    * exactly (so the amplification column is exact, not a bound). Public
    * so an oracle can re-derive the identical ladder.
    *
    * Amplification is computed FROM the kept width (`horizon/s + 1`),
    * never from the rung index: a truncated shift `horizonUs >> r` can
    * divide an odd horizon while differing from `horizonUs / 2^r`
    * (horizon 9, rung 3 → width 1 divides, but 2^3+1 = 9 understates the
    * true 9/1+1 = 10 probes per left row) — so the divisibility filter
    * alone does not make the power-of-two label exact.
    */
  def sliceLadder(horizonUs: Long, rungs: Int): IndexedSeq[(Long, Long)] =
    (0 until rungs).map(r => horizonUs >> r)
      .filter(s => s > 0 && horizonUs % s == 0)
      .map(s => (s, horizonUs / s + 1))

  /** Derive [[asofJoinStreaming]]'s `sliceUs` from measured key
    * density instead of guessing: the LARGEST ladder rung whose maximum
    * per-(key, slice) occupancy stays within `maxPerSlot` — widest slice
    * (least left-stream amplification) that still bounds the per-key
    * state list the join's probe walks linearly. Falls back to the
    * smallest rung when every rung is denser than the bound (the data is
    * hot everywhere; the narrowest slice is the best available), and to
    * the horizon itself on an empty input (no density evidence — the
    * default slice). One bounded collect over the ≤`rungs`-row stats
    * frame (the s5i-total pattern); the derived slice feeds the sliced
    * join unchanged, so the relation is bit-identical at ANY rung —
    * spec- and oracle-gated.
    */
  def deriveSliceUs(clicks: DataFrame, keyCol: String, tsCol: String,
                    horizonUs: Long, maxPerSlot: Long = 4096,
                    rungs: Int = 6): Long = {
    require(maxPerSlot >= 1, "deriveSliceUs: maxPerSlot must be >= 1")
    val stats = asofSliceStats(clicks, keyCol, tsCol, horizonUs, rungs)
      .select("slice_us", "max_slot").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    if (stats.isEmpty) horizonUs
    else stats.filter(_._2 <= maxPerSlot).map(_._1).maxOption
      .getOrElse(stats.map(_._1).min)
  }

  /** E9 — predicate ROUTING to two parquet sinks in one pass: the
    * accept/quarantine fork every streaming ingest runs (pass rows flow to
    * the corpus, failures to a reviewable reject store — never dropped on
    * the floor). `foreachBatch` is the multi-sink escape hatch: each
    * micro-batch is persisted ONCE and written twice-filtered, so the
    * source is read once per batch regardless of sink count; a
    * null/violating predicate routes to the FAIL side (3VL-safe, as
    * [[graft.operators.Ops.expectations]]). AvailableNow + the caller's
    * checkpoint dir give exactly-once per replay; reruns must use a fresh
    * checkpoint+sink trio (parquet appends are not idempotent across
    * replays — the staged gate keys its dirs by source identity).
    */
  def routeToSinks(stream: DataFrame, pred: org.apache.spark.sql.Column,
                   passPath: String, failPath: String,
                   checkpointPath: String): Unit = {
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val b = graft.Caches.persistLoaned(batch)
        try {
          b.filter(pred).write.mode("append").parquet(passPath)
          b.filter(!coalesce(pred, lit(false))).write.mode("append").parquet(failPath)
        } finally graft.Caches.endLoan(b)
      }
      .option("checkpointLocation", checkpointPath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming STATE-STORE width derived from the replay's backlog size
    * instead of inherited from the session's core-count-sized
    * `spark.sql.shuffle.partitions` (r21, guide §2 "derive partitioning
    * from input size, not a constant"). The stateful exchange's partition
    * count fixes the number of state-store instances for the life of the
    * query, and each instance pays a fixed per-batch commit (delta file
    * create + fsync): measured on the sf0.1 window replay (e1b, 3,600
    * state rows), 32 instances spent a CUMULATIVE 119 s in commit
    * (concurrent fsyncs on one device go superlinear) where 1–4 instances
    * spent 0.1–1.2 s — 8.9 s → 2.9 s wall, identical results. Core count
    * is the wrong unit for state stores; backlog volume is the evidence
    * in hand at query start (the kernelWidth discipline applied to
    * streaming state). 16 MB of backlog per store keeps per-store state
    * far below task memory at any scale; `cap` bounds store count the way
    * kernelWidth's 8192 bounds task count — on a cluster whose
    * executors × cores exceed it, raise the cap or pass an explicit
    * width. NOTE state partition count is FROZEN into a checkpoint at
    * first start; this derivation is for fresh replays (catch-up runs,
    * the bench rows) — resuming an existing checkpoint keeps its width
    * regardless of conf, so changing the derivation never corrupts one.
    */
  def deriveStateWidth(backlogBytes: Long, bytesPerStore: Long = 16L << 20,
                       cap: Int = 4096): Int = {
    require(bytesPerStore > 0 && cap >= 1,
      "deriveStateWidth: bytesPerStore and cap must be positive")
    math.max(1L, math.min(cap.toLong,
      (math.max(0L, backlogBytes) + bytesPerStore - 1) / bytesPerStore)).toInt
  }

  /** Batch-replay harness: run an already-wired streaming frame to a memory
    * sink under `Trigger.AvailableNow` and block until the (finite) source
    * drains, returning the sink table. This is how the streaming operators
    * get DRIVER-GATED: replay the stream over a file source and compare the
    * result to the batch oracle — same logic, incremental execution, same
    * answer. AvailableNow processes the backlog in bounded batches and
    * stops, which is also the production shape for a catch-up run over an
    * ingest directory. The memory sink collects RESULT rows on the driver —
    * fine for aggregate/dedup outputs, which are reduced, not raw data.
    */
  def runToMemoryTable(spark: SparkSession, streamed: DataFrame, name: String,
                       mode: String = "append", stateWidth: Int = 0): DataFrame = {
    spark.catalog.dropTempView(name)
    // stateWidth > 0: run the query under a backlog-derived shuffle width
    // (read at query start, so wrapping start+drain is sufficient; the
    // prior session value is restored before the sink table is returned)
    def run(): DataFrame = {
      val q = streamed.writeStream.format("memory").queryName(name)
        .outputMode(mode).trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name)
    }
    if (stateWidth > 0)
      graft.Session.withConf(spark,
        "spark.sql.shuffle.partitions" -> stateWidth.toString)(run())
    else run()
  }
}
