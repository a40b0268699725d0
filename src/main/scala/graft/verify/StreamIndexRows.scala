package graft
package verify

import graft.operators._
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._

import OracleSql._
import RowHelpers._

/** Verify rows for the streaming operators, the SQL surface and the
  * index lifecycles. */
private[verify] object StreamIndexRows {

  val rows: Seq[VerifyRow] = Seq(
    // E1: tumbling-window event aggregation (batch form of the stream op)
    VerifyRow("e1_events_window",
      (s, d) =>
        StreamOps.tumblingCounts(Tables.events(s, d), 3600000000L)
          .orderBy("bucket", "event_type"),
      "SELECT epoch_us(ts) // 3600000000 AS bucket, event_type, count(*) AS n_events, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2 ORDER BY bucket, event_type"),

    // E4: hopping (sliding) windows — 2 h windows starting every hour,
    // each event replicated into width/slide windows BEFORE the partial agg
    //
    // each event belongs to width/slide = 2 hour-aligned windows
    VerifyRow("e4_hopping_window",
      (s, d) =>
        StreamOps.hoppingCounts(Tables.events(s, d), 7200000000L, 3600000000L)
          .orderBy("win_start", "event_type"),
      "SELECT ws AS win_start, event_type, count(*) AS n_events, " +
        "round(sum(value), 2) AS sum_value FROM (" +
        "SELECT unnest(range((epoch_us(ts) // 3600000000 - 1) * 3600000000, " +
        "epoch_us(ts) // 3600000000 * 3600000000 + 3600000000, 3600000000)) AS ws, " +
        "event_type, value FROM events) " +
        "GROUP BY 1, 2 ORDER BY win_start, event_type"),

    // E8: hourly distinct users (exact) — the canonical active-users metric
    VerifyRow("e8_window_distinct",
      (s, d) =>
        StreamOps.windowDistinctUsers(Tables.events(s, d), 3600000000L)
          .orderBy("bucket"),
      "SELECT epoch_us(ts) // 3600000000 AS bucket, count(DISTINCT user_id) AS n_users, " +
        "count(*) AS n_events FROM events GROUP BY 1 ORDER BY bucket"),

    // E8d: hourly distinct users via HyperLogLog++ — ONE stateful op with
    // fixed-size per-window state (vs the exact dedup-then-count chain's
    // per-user rows). The sketch VALUE is engine-specific, so the
    // oracle-checkable relation is the TOLERANCE form: join the approx
    // against the exact e8 counts and emit (bucket, n_users,
    // within_tol = |approx − exact| ≤ max(3·rsd·exact, 4)). The oracle
    // recomputes the exact counts and asserts within_tol TRUE — so the
    // compare's hash check is a HARD gate on both the window-key row set
    // and the sketch's error bound. The absolute floor of 4 covers the
    // small-cardinality regime: Spark's HLL++ is dense-only (no sparse
    // representation), so tiny windows carry a few counts of absolute
    // error where 3·rsd·exact < 1 — measured worst |Δ| across
    // sf0.001/0.01/0.1 is 3 (at exact = 17); relative worst is 0.108
    // (at exact = 139), inside the 0.15 band. The estimate itself is
    // deterministic (max-merged registers), so the gate is stable.
    //
    // the e8d tolerance gate (VERDICT r11 #3): exact counts + a TRUE
    // within_tol column — the Spark side computes within_tol from the HLL
    // sketch, so a drifting sketch (or a wrong window-key row set) breaks
    // the hash compare
    VerifyRow("e8d_window_approx_distinct",
      (s, d) => {
        val ev = Tables.events(s, d)
        val rsd = 0.05
        StreamOps.windowApproxDistinctUsers(ev, 3600000000L, rsd)
          .join(StreamOps.windowDistinctUsers(ev, 3600000000L)
            .select("bucket", "n_users"), Seq("bucket"))
          .select(col("bucket"), col("n_users"),
            (abs(col("n_users_approx") - col("n_users"))
              <= greatest(lit(3 * rsd) * col("n_users"), lit(4.0))).as("within_tol"))
          .orderBy("bucket")
      },
      "SELECT epoch_us(ts) // 3600000000 AS bucket, count(DISTINCT user_id) AS n_users, " +
        "TRUE AS within_tol FROM events GROUP BY 1 ORDER BY bucket"),

    // E8 STREAMING, oracle-gated via batch replay: the dedup-then-count
    // chain (watermarked dropDuplicates on (window, user) feeding a
    // windowed count — streaming forbids distinct aggregates, so this IS
    // the production pattern; two chained stateful operators, append
    // mode). Append emits a window only when the watermark closes it, so
    // the staged copy appends one far-future sentinel event whose
    // watermark passes every real window's end; the sentinel's own window
    // never closes and never emits (the e2b trick). e8c replays the
    // same staged source.
    //
    // the streaming dedup-then-count chain must reproduce the exact batch
    // distinct relation (sentinel window excluded by construction)
    VerifyRow("e8b_stream_distinct",
      (s, d) =>
        e8StageDir(s, d) match {
          case None => { import s.implicits._
            s.emptyDataset[(Long, Long)].toDF("bucket", "n_users") }
          case Some(stageDir) =>
            e8Sink(s, stageDir, "e8b_stream_distinct_sink")(
              StreamOps.windowDistinctUsersStreaming(_, "1 hour", "1 minute"))
              .select(expr("unix_micros(window.start) div 3600000000").as("bucket"),
                col("n_users"))
              .orderBy("bucket")
        },
      "SELECT epoch_us(ts) // 3600000000 AS bucket, count(DISTINCT user_id) AS n_users " +
        "FROM events GROUP BY 1 ORDER BY bucket"),

    // E8c STREAMING: the distinct-users row WITH event multiplicity
    // restored — the dedup that makes n_users exact necessarily discards
    // n_events, so a SECOND watermarked windowed count (no dedup, one
    // stateful op) runs over the same staged source and the two
    // append-mode outputs join on the window. This two-query fork is the
    // production active-users shape; the join is a plain batch join of
    // closed windows (inner: both queries emit exactly the real windows —
    // the sentinel's window never closes in either)
    //
    // the two-query fork (dedup-then-count + plain count, joined on the
    // window) must reproduce the batch form's BOTH-column relation
    VerifyRow("e8c_distinct_with_events",
      (s, d) =>
        e8StageDir(s, d) match {
          case None => { import s.implicits._
            s.emptyDataset[(Long, Long, Long)].toDF("bucket", "n_users", "n_events") }
          case Some(stageDir) =>
            val users = e8Sink(s, stageDir, "e8c_distinct_users_sink")(
              StreamOps.windowDistinctUsersStreaming(_, "1 hour", "1 minute"))
            val counts = e8Sink(s, stageDir, "e8c_window_counts_sink")(
              StreamOps.windowEventCountsStreaming(_, "1 hour", "1 minute"))
            users.join(counts, "window")
              .select(expr("unix_micros(window.start) div 3600000000").as("bucket"),
                col("n_users"), col("n_events"))
              .orderBy("bucket")
        },
      "SELECT epoch_us(ts) // 3600000000 AS bucket, count(DISTINCT user_id) AS n_users, " +
        "count(*) AS n_events FROM events GROUP BY 1 ORDER BY bucket"),

    // E2: gap-based sessionization (batch form of the stream op)
    VerifyRow("e2_sessionize",
      (s, d) =>
        StreamOps.sessionize(Tables.events(s, d), 1800000000L)
          .orderBy("user_id", "session_id"),
      "WITH marked AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_break " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)), " +
        "sessions AS (SELECT user_id, ts_us, " +
        "CAST(sum(is_break) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM marked) " +
        "SELECT user_id, session_id, count(*) AS n_events, min(ts_us) AS session_start_us, " +
        "max(ts_us) AS session_end_us, max(ts_us) - min(ts_us) AS duration_us " +
        "FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_id"),

    // E3 STREAMING, oracle-gated via batch replay: the documents corpus
    // replayed through a parquet FILE SOURCE into dropDuplicatesWithinWatermark
    // (Trigger.AvailableNow), then compared to the batch dedup oracle.
    // Output is the distinct-fingerprint set: WHICH row survives per
    // fingerprint is arrival-order-dependent across partitions (true in any
    // streaming engine), but the fingerprint set itself is exact. Synthetic
    // event time = doc_id micros — the whole corpus sits inside the
    // watermark horizon, so the replay dedups exactly.
    VerifyRow("e3_stream_dedup",
      (s, d) => {
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
      },
      "SELECT DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint " +
        "FROM documents ORDER BY fingerprint"),

    // E1 STREAMING, oracle-gated via batch replay: the events table through
    // the watermarked windowed aggregate. Complete output mode so the final
    // snapshot equals the batch result (append mode would hold back windows
    // newer than the final watermark — correct streaming semantics, but not
    // comparable to a batch oracle). window.start maps back to the batch
    // form's epoch-hour bucket.
    //
    // streaming replay must equal the batch-form oracle exactly
    VerifyRow("e1b_stream_window",
      (s, d) => {
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
      },
      "SELECT epoch_us(ts) // 3600000000 AS bucket, event_type, count(*) AS n_events, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1, 2 ORDER BY bucket, event_type"),

    // E5 STREAMING, oracle-gated via batch replay: events stream from the
    // parquet file source, each micro-batch enriched by a stream–static
    // join against a user-cohort dim (stateless — no watermark needed),
    // aggregated per cohort and compared to the batch oracle.
    //
    // streaming enrich replay must equal the batch join + aggregate
    VerifyRow("e5_stream_enrich",
      (s, d) => {
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
      },
      "SELECT u.cohort, count(*) AS n_events, round(sum(e.value), 2) AS sum_value " +
        "FROM events e JOIN (SELECT DISTINCT user_id, user_id % 10 AS cohort FROM events) u " +
        "USING (user_id) GROUP BY u.cohort ORDER BY u.cohort"),

    // E2 STREAMING, oracle-gated via batch replay: events replayed through
    // the flatMapGroupsWithState sessionizer (AvailableNow, NoTimeout).
    // Append-mode custom state only EMITS a session when a later event of
    // the same user closes it, so each user's FINAL session would sit in
    // state forever; the staging copy appends one sentinel event per user
    // at global-max-ts + gap + 1 — it closes every real session and, never
    // being followed, never emits itself. Output = exactly the batch
    // session set (e2's relation minus the session_id numbering, which a
    // streaming engine does not assign). Single AvailableNow batch over
    // the staged files, so in-batch per-user sort fixes event order.
    //
    // the streaming replay must reproduce e2's batch sessions exactly,
    // minus the session_id numbering (a streaming engine does not assign
    // one); ordered by session start instead
    VerifyRow("e2b_stream_sessionize",
      (s, d) => {
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
          // (Concurrent same-dir runs write identical bytes; Verify runs its
          // rows serially.)
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
      },
      sessionWindowOracleSql),

    // E4 STREAMING, oracle-gated via batch replay: hopping windows through
    // Spark's native window(width, slide) under a watermark, complete mode
    // (as e1b), window.start mapped back to the batch form's epoch-us
    // win_start — must reproduce e4's batch relation exactly
    //
    // hopping streaming replay must equal e4's batch relation exactly
    VerifyRow("e4b_stream_hopping",
      (s, d) => {
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
      },
      "SELECT ws AS win_start, event_type, count(*) AS n_events, " +
        "round(sum(value), 2) AS sum_value FROM (" +
        "SELECT unnest(range((epoch_us(ts) // 3600000000 - 1) * 3600000000, " +
        "epoch_us(ts) // 3600000000 * 3600000000 + 3600000000, 3600000000)) AS ws, " +
        "event_type, value FROM events) " +
        "GROUP BY 1, 2 ORDER BY win_start, event_type"),

    // E2c: gap sessionization via Spark's BUILT-IN session_window aggregate
    // — the declarative sibling of e2's lag-diff form; identical break
    // semantics (strictly-exceeded gap), so it shares e2's session relation
    //
    // the built-in session_window merges up to and INCLUDING session-end
    // (last + gap), so the break condition is e2's strict >; output drops
    // the session_id numbering
    VerifyRow("e2c_session_window",
      (s, d) =>
        StreamOps.sessionizeWindow(Tables.events(s, d), "30 minutes")
          .orderBy("user_id", "session_start_us"),
      sessionWindowOracleSql),

    // E6 STREAMING, oracle-gated via batch replay: the purchase and click
    // slices of the events table replayed as TWO live streams through the
    // watermarked interval join + latest-click aggregate (two chained
    // stateful operators — the one streaming family member r6 flagged as
    // missing). Horizon 1 h bounds click state (the streamable form of the
    // as-of; the oracle applies the same horizon). Append-mode groups
    // flush via one far-future sentinel per stream (non-joining negative
    // user ids) — the e2b staging recipe, keyed on the source (mtime,
    // size). The replay is the left-outer one e6b keeps too ([[e6Asof]]):
    // the inner relation = the left-outer rows with a non-null click side.
    // The sentinel purchase matches no click → its row carries a null
    // click side → the isNotNull filter drops it, exactly as the inner
    // join never emits it.
    //
    // the stream-stream replay must equal the horizon-bounded batch as-of:
    // latest click per purchase within [p_ts - 1h, p_ts], ties to the
    // greatest click event_id (asofJoin's tiebreak), inner semantics
    VerifyRow("e6_stream_stream_asof",
      (s, d) =>
        e6Asof(s, d, "e6_asof_sink", col("r_event_id").isNotNull) { (purchases, clicks) =>
          // the plain two-operator reference plan: the e6/e6b rows exist to
          // gate that regime (the public entry is the sliced plan, which e6c
          // gates)
          StreamOps.asofJoinStreamingPlain(purchases, clicks, E6HorizonUs, "1 minute",
            joinType = "left_outer")
        },
      streamAsofOracleSql),

    // E6c: the KEY-DENSE form — the same as-of relation with the join key
    // sub-bucketed by a horizon-width time slice, so per-(user, slice)
    // state stays bounded where e6's per-user value lists go quadratic on
    // a key-densifying stream (the measured 1000× wall: 88 min
    // non-completion, all workers in the state manager's per-key scan;
    // the sliced form COMPLETES the same probe — BENCH_SCALE r16). Same
    // staged source, same oracle SQL as e6: the mitigation is gated to be
    // relation-identical, not just plausible.
    //
    // the sliced (key-dense) replay must produce the SAME relation as e6 —
    // identical oracle text, so a drift in the slice arithmetic is a hash
    // mismatch, not a silent recall loss
    VerifyRow("e6c_stream_asof_sliced",
      (s, d) =>
        e6Asof(s, d, "e6c_asof_sink", col("r_event_id").isNotNull) { (purchases, clicks) =>
          StreamOps.asofJoinStreaming(purchases, clicks, E6HorizonUs, "1 minute",
            joinType = "left_outer")
        },
      streamAsofOracleSql),

    // E6d: the sliced LEFT-OUTER form — e6b's emit-on-timeout semantics
    // under the bounded-key plan, e6c's replay plan, gated by
    // e6b's oracle verbatim (both sliced join types are hash-gated, not
    // just the inner one)
    //
    // the sliced left-outer replay must keep unattributed purchases with
    // a null click side exactly as e6b does — e6b's oracle verbatim
    VerifyRow("e6d_stream_asof_sliced_left",
      (s, d) =>
        e6Asof(s, d, "e6d_asof_sink", col("event_id") >= 0) { (purchases, clicks) =>
          StreamOps.asofJoinStreaming(purchases, clicks, E6HorizonUs, "1 minute",
            joinType = "left_outer")
        },
      streamAsofLeftOracleSql),

    // E6e: the slice-width DIAGNOSTIC (the d4c/d9c/d5e measured-knob
    // pattern for streaming state): per halving-ladder rung, the
    // per-(user, slice) slot occupancy the sliced as-of join's right-side
    // state would hold, plus the left-stream amplification that rung
    // costs — the relation deriveSliceUs reads. Oracle re-derives the
    // ladder, floor-div slotting, and both aggregates in SQL.
    //
    // the slice-ladder diagnostic: the ladder literals come from the SAME
    // sliceLadder arithmetic the Spark side explodes (machine-generated,
    // the simhashCte pattern), slotting is the identical pmod floor-div,
    // and the two aggregates mirror exactly
    VerifyRow("e6e_asof_slice_stats",
      (s, d) =>
        StreamOps.asofSliceStats(
          Tables.events(s, d).filter(col("event_type") === "click"),
          "user_id", "ts_us", E6HorizonUs)
          .orderBy("slice_us"),
      {
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
      }),

    // E6f: the DERIVED-width sliced replay — diagnostic → derivation →
    // plan: sliceUs comes from deriveSliceUs at the tightest bound
    // (maxPerSlot = 1, forcing a sub-horizon rung on this fixture), and
    // the relation must still bit-match e6's oracle SQL verbatim (the
    // sliced join is width-invariant by construction; this row gates it
    // at a measured, non-default width)
    //
    // the derived-width sliced replay is the same as-of relation — e6's
    // oracle verbatim: the slice width may change the physical state
    // layout, never the relation
    VerifyRow("e6f_stream_asof_derived",
      (s, d) =>
        e6Asof(s, d, "e6f_asof_sink", col("r_event_id").isNotNull) { (purchases, clicks) =>
          val clicksAtRest = Tables.events(s, d).filter(col("event_type") === "click")
          val derived = StreamOps.deriveSliceUs(clicksAtRest, "user_id", "ts_us",
            E6HorizonUs, maxPerSlot = 1)
          StreamOps.asofJoinStreaming(purchases, clicks, E6HorizonUs, "1 minute",
            joinType = "left_outer", sliceUs = derived)
        },
      streamAsofOracleSql),

    // E6b: the LEFT-OUTER form — batch j3's left semantics under
    // streaming: an unattributed purchase emits with a null click side
    // once the watermark proves no in-horizon click can still arrive
    // (emit-on-timeout). Same replay plan as e6; the sentinel purchase
    // (user -1, which matches nothing) is filtered by event_id >= 0 —
    // in left mode it WOULD emit.
    //
    // the left-outer replay keeps unattributed purchases with a null
    // click side — batch j3's left semantics, horizon-bounded
    VerifyRow("e6b_stream_asof_left",
      (s, d) =>
        e6Asof(s, d, "e6b_asof_sink", col("event_id") >= 0) { (purchases, clicks) =>
          StreamOps.asofJoinStreamingPlain(purchases, clicks, E6HorizonUs, "1 minute",
            joinType = "left_outer")
        },
      streamAsofLeftOracleSql),

    // E7 STREAMING, oracle-gated via batch replay: the daily-ingest probe
    // as a LIVE STREAM — incoming documents fingerprint narrowly and
    // stream-static ANTI-join the materialized fingerprint index (d8c's
    // staged dir, same build) per micro-batch. Stateless: the index IS
    // the state, owned by the pipeline (advanced between batches by
    // FingerprintIndex.append), so this is the streaming face of the whole
    // materialized-index story. Same oracle as d8/d8c.
    //
    // the streaming replay of the same probe: stream-static anti join
    // against the loaded index must reproduce d8's batch relation
    VerifyRow("e7_stream_ingest_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val fp = Dedup.FingerprintIndex("text")
        val idxDir = s"${scratchDir(d)}/d8c_fp_index_${stageKey(srcFile, "mod10")}"
        if (!new java.io.File(s"$idxDir/fingerprint/_SUCCESS").exists())
          fp.write(docs.filter(col("doc_id") % 10 =!= 0), idxDir, shards = 4)
        val stageDir = s"${scratchDir(d)}/e7_docs_${stageKey(srcFile, "mod10")}"
        if (!new java.io.File(s"$stageDir/_SUCCESS").exists()) {
          docs.filter(col("doc_id") % 10 === 0).select("doc_id", "text")
            .coalesce(4).write.mode("overwrite").parquet(stageDir)
        }
        val schema = s.read.parquet(stageDir).schema
        val src = s.readStream.schema(schema).parquet(stageDir)
        StreamOps.runToMemoryTable(s,
          StreamOps.ingestDedupStreaming(src, fp.read(s, idxDir)("fingerprint"), "text"),
          "e7_stream_ingest_sink")
          .select("doc_id", "fingerprint").orderBy("doc_id")
      },
      d8OracleSql),

    // E10: streaming maintenance of the heavy-hitter state — docs staged
    // as 4 files replayed one per micro-batch (maxFilesPerTrigger=1), each
    // batch delta-appends its shard images, and the merged state must
    // satisfy the t27 full-corpus guarantee: the sketch union's bound is
    // associative over ANY batch split, which is exactly what this gates
    //
    // the streamed state must satisfy the same full-corpus guarantee
    VerifyRow("e10_stream_heavy_hitters",
      (s, d) => {
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
      },
      hhGateOracleSql),

    // E7b: the streaming ingest loop ACROSS the day boundary — the cadence
    // a production pipeline actually runs: stream-replay segment 1 against
    // the day-1 index, fold the survivors in via FingerprintIndex.append
    // (delta-append, the d8d lifecycle), then stream-replay segment 2
    // against the UPDATED index — two AvailableNow passes bracketing one
    // index mutation. d8d proves the batch lifecycle and e7 proves
    // stream-probe; this gates their composition. Segment-1 survivors are
    // staged to parquet inside the mutation guard so reruns (the index is
    // already advanced) replay only the pure-read segment-2 pass. Oracle =
    // the batch two-day screen: s1 = seg1 \ base, s2 = seg2 \ (base ∪ s1).
    //
    // the two-day screen: day-2 rows are deduped against base ∪ day-1
    // survivors (whose prints the update folded into the index)
    VerifyRow("e7b_stream_day_boundary",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val key = stageKey(srcFile, "mod9e7b_parts")
        val idxDir = s"${scratchDir(d)}/e7b_fp_index_$key"
        val surv1Dir = s"${scratchDir(d)}/e7b_surv1_$key"
        val seg2Dir = s"${scratchDir(d)}/e7b_seg2_$key"
        val fp = Dedup.FingerprintIndex("text")
        if (!new java.io.File(s"$idxDir/_UPDATED").exists()) {
          fp.write(docs.filter(col("doc_id") % 9 >= 2), idxDir, shards = 4)
          val seg1Dir = s"${scratchDir(d)}/e7b_seg1_$key"
          docs.filter(col("doc_id") % 9 === 0).select("doc_id", "text")
            .coalesce(4).write.mode("overwrite").parquet(seg1Dir)
          val src1 = s.readStream.schema(s.read.parquet(seg1Dir).schema).parquet(seg1Dir)
          StreamOps.runToMemoryTable(s,
            StreamOps.ingestDedupStreaming(src1, fp.read(s, idxDir)("fingerprint"), "text"),
            "e7b_day1_sink")
            .select("doc_id", "text", "fingerprint")
            .write.mode("overwrite").parquet(surv1Dir)
          fp.append(s.read.parquet(surv1Dir), idxDir, shards = 4)
          new java.io.File(s"$idxDir/_UPDATED").createNewFile()
        }
        if (!new java.io.File(s"$seg2Dir/_SUCCESS").exists()) {
          docs.filter(col("doc_id") % 9 === 1).select("doc_id", "text")
            .coalesce(4).write.mode("overwrite").parquet(seg2Dir)
        }
        val src2 = s.readStream.schema(s.read.parquet(seg2Dir).schema).parquet(seg2Dir)
        val day2 = StreamOps.runToMemoryTable(s,
          StreamOps.ingestDedupStreaming(src2, fp.read(s, idxDir)("fingerprint"), "text"),
          "e7b_day2_sink")
        s.read.parquet(surv1Dir).select("doc_id", "fingerprint")
          .unionAll(day2.select("doc_id", "fingerprint"))
          .orderBy("doc_id")
      },
      "WITH fp AS (SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint " +
        "FROM documents), " +
        "s1 AS (SELECT doc_id, fingerprint FROM fp WHERE doc_id % 9 = 0 " +
        "AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 9 >= 2)), " +
        "s2 AS (SELECT doc_id, fingerprint FROM fp WHERE doc_id % 9 = 1 " +
        "AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 9 >= 2) " +
        "AND fingerprint NOT IN (SELECT fingerprint FROM s1)) " +
        "SELECT doc_id, fingerprint FROM s1 UNION ALL " +
        "SELECT doc_id, fingerprint FROM s2 ORDER BY doc_id"),

    // Q-COVID-SQL: the reference's flagship entry-point-3 chain (filter →
    // dim join → latest-per-group → 7-fn aggregate → meta join) as ONE SQL
    // string on the textual front-end — and the string IS the DuckDB
    // oracle, verbatim (see qCovidOracleSql). Catalyst plans the same
    // shape as the DataFrame chain: broadcast dim joins, windowed dedup,
    // partial+final aggregate.
    //
    // the textual-SQL rendition runs the SAME relation, so it shares the
    // chain's oracle verbatim
    VerifyRow("q_covid_sql",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql(qCovidOracleSql)
      },
      qCovidOracleSql),

    // Q-SQL: the TEXTUAL SQL front-end end-to-end — Tables.registerAll
    // views + a spark.sql string (join → grouped decimal-exact aggregate →
    // window rank), verified against the DuckDB oracle rather than
    // only pinned in SqlSurfaceSpec. The engine work is all Catalyst: the
    // dim join broadcasts, the aggregate partial-aggregates, the window
    // runs over segment-year groups, never the fact table.
    //
    // the same SQL text shape the Spark side runs via spark.sql
    VerifyRow("q_sql_surface",
      (s, d) => {
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
      },
      "WITH ny AS (SELECT c.c_mktsegment AS segment, " +
        "CAST(year(o.o_orderdate) AS INT) AS o_year, count(*) AS n_orders, " +
        "CAST(CAST(sum(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS total_price " +
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
        "GROUP BY c.c_mktsegment, CAST(year(o.o_orderdate) AS INT)) " +
        "SELECT segment, o_year, n_orders, total_price, " +
        "CAST(row_number() OVER (PARTITION BY segment ORDER BY total_price DESC, o_year) AS BIGINT) AS rn " +
        "FROM ny ORDER BY segment, o_year"),

    // Q-DASHBOARD-SQL: the dashboard chain (pivot → forward-fill →
    // per-nation stats) on the TEXTUAL front-end — the one entry-point
    // chain q_covid_sql left unclosed. DuckDB's PIVOT/strftime and Spark's
    // syntax differ in two fragments, so this is the twin-text form: one
    // template, two renderings, one canonical oracle (shared with
    // q_dashboard_chain — the DataFrame chain, this SQL text, and the
    // DuckDB replay must all produce the same relation). Catalyst plans
    // the same shape as the chain: broadcast dim joins, pivot as grouped
    // CASE-max, LOCF as a running window.
    //
    // the twin text rendered for DuckDB — same template as the Spark-side
    // string, so the oracle is canonically shared with q_dashboard_chain
    VerifyRow("q_dashboard_sql",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql(dashboardSqlText(forSpark = true))
      },
      dashboardSqlText(forSpark = false)),

    // D2b: incremental NEAR-dup ingest dedup — the daily-batch analogue of
    // d8 for MinHash similarity: new docs (doc_id % 9 = 0) kept only where
    // no corpus doc (doc_id % 9 != 0) sits at trigram Jaccard >= 0.5. The
    // corpus is band-indexed once and probed by the batch's band keys only
    // — never self-joined; candidates exact-verify before the anti join.
    //
    // brute-force cross-corpus near-dup matches (the d2 convention: LSH
    // banding at 32x2 has ~full recall at j >= 0.5, so the exact relation
    // is the oracle), then the surviving batch rows
    VerifyRow("d2b_incremental_minhash",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.minhashIncremental(
          docs.filter(col("doc_id") % 9 === 0), docs.filter(col("doc_id") % 9 =!= 0),
          "doc_id", "text", threshold = 0.5)
          .select("doc_id", "n_chars").orderBy("doc_id")
      },
      d2bOracleSql),

    // D2c: d2b REPLAYED FROM THE MATERIALIZED INDEX — the corpus band
    // index + shingle sets are built once, sharded to parquet, loaded
    // back, and the same batch probes the LOADED frames: the daily-ingest
    // story ("keep the index materialized between batches") exercised
    // end-to-end, not asserted. Must bit-match d2b (same oracle SQL); the
    // corpus text is never re-shingled — PlanSpec pins that the replay
    // plan scans only the index. Index staging is keyed on the source
    // file's (mtime, size), exactly like e2b's sentinel copy, so repeat
    // runs measure the probe, not the build.
    //
    // the index replay must reproduce d2b exactly — band keys + shingle
    // sets are the same relations whether derived inline or loaded from
    // the sharded parquet index
    VerifyRow("d2c_index_replay",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val idxDir =
          s"${scratchDir(d)}/d2c_minhash_index_${stageKey(srcFile, "n3b32r2")}"
        val mh = Dedup.MinhashIndex("doc_id", "text")
        if (!new java.io.File(s"$idxDir/bands/_SUCCESS").exists())
          mh.write(docs.filter(col("doc_id") % 9 =!= 0), idxDir, shards = 4)
        mh.probe(docs.filter(col("doc_id") % 9 === 0), mh.read(s, idxDir), threshold = 0.5)
          .select("doc_id", "n_chars").orderBy("doc_id")
      },
      d2bOracleSql),

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
    //
    // the lifecycle gate: day-3 probe of the build→probe→update index must
    // equal the brute-force from-scratch relation over day-1 ∪ survivors
    VerifyRow("d2d_index_update",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val idxDir =
          s"${scratchDir(d)}/d2d_minhash_index_${stageKey(srcFile, "n3b32r2m7")}"
        val mh = Dedup.MinhashIndex("doc_id", "text")
        if (!new java.io.File(s"$idxDir/_UPDATED").exists()) {
          mh.write(docs.filter(col("doc_id") % 7 >= 2), idxDir, shards = 4)
          // materialize day-2 survivors BEFORE the append so the update job
          // reads the cached rows, not the index dir it is writing into
          val surv = mh.probe(docs.filter(col("doc_id") % 7 === 0), mh.read(s, idxDir),
            threshold = 0.5)
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          surv.count()
          mh.append(surv, idxDir, shards = 4)
          surv.unpersist()
          // settle the delta shards before day 3 — the probe result must be
          // identical before and after compaction (same oracle row gates it)
          mh.compact(s, idxDir, shards = 4)
          new java.io.File(s"$idxDir/_UPDATED").createNewFile()
        }
        mh.probe(docs.filter(col("doc_id") % 7 === 1), mh.read(s, idxDir), threshold = 0.5)
          .select("doc_id", "n_chars").orderBy("doc_id")
      },
      d2dOracleSql),

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
    //
    // the SQL-text probe must reproduce the SAME relation as the typed
    // probe and the one-shot incremental form — one oracle for all three
    VerifyRow("d2e_index_probe_sql",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val idxDir =
          s"${scratchDir(d)}/d2c_minhash_index_${stageKey(srcFile, "n3b32r2")}"
        val mh = Dedup.MinhashIndex("doc_id", "text")
        if (!new java.io.File(s"$idxDir/bands/_SUCCESS").exists())
          mh.write(docs.filter(col("doc_id") % 9 =!= 0), idxDir, shards = 4)
        Tables.registerAll(s, d)
        val idx = mh.read(s, idxDir)
        idx("sets").createOrReplaceTempView("graft_minhash_sets")
        idx("bands").createOrReplaceTempView("graft_minhash_bands")
        s.sql(minhashProbeSql("doc_id % 9 = 0",
          "graft_minhash_sets", "graft_minhash_bands"))
      },
      d2bOracleSql),

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
    //
    // the SQL-text lifecycle must maintain the SAME relation the typed
    // lifecycle maintains — one from-scratch oracle gates both
    VerifyRow("d2h_index_update_sql",
      (s, d) => {
        Tables.registerAll(s, d)
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val idxDir = s"${scratchDir(d)}/d2h_mh_index_${stageKey(srcFile, "n3b32r2m7sql")}"
        minhashIndexSqlStage(s, idxDir, "graft_mh_sets_sql", "graft_mh_bands_sql",
          buildPred = "doc_id % 7 >= 2", dayPreds = Seq("doc_id % 7 = 0"))
        s.sql(minhashProbeSql("doc_id % 7 = 1",
          "graft_mh_sets_sql", "graft_mh_bands_sql"))
      },
      d2dOracleSql),

    // D2i: d2h under REPEATED maintenance — build, then TWO fold+compact
    // cycles (day-2 %7=2, day-3 %7=0), then the day-4 probe: proves the
    // SQL CTAS-compact is idempotent under the update→compact→update
    // cadence a daily pipeline actually runs (the d8d lesson applied to
    // the two-table index), not just a single settle. Oracle = the
    // from-scratch three-generation relation (each day screened against
    // everything admitted before it).
    //
    // two fold+compact cycles must land on the three-generation
    // from-scratch relation — the CTAS-compact proven idempotent under
    // repeated maintenance
    VerifyRow("d2i_index_multi_compact_sql",
      (s, d) => {
        Tables.registerAll(s, d)
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val idxDir = s"${scratchDir(d)}/d2i_mh_index_${stageKey(srcFile, "n3b32r2m7sql2c")}"
        minhashIndexSqlStage(s, idxDir, "graft_mh_sets_sql2", "graft_mh_bands_sql2",
          buildPred = "doc_id % 7 >= 3",
          dayPreds = Seq("doc_id % 7 = 2", "doc_id % 7 = 0"))
        s.sql(minhashProbeSql("doc_id % 7 = 1",
          "graft_mh_sets_sql2", "graft_mh_bands_sql2"))
      },
      d2iOracleSql),

    // D8c: d8 replayed from the materialized fingerprint index — the
    // exact-ingest analogue of d2c (same oracle as d8)
    //
    // the index replay must reproduce d8 exactly — the fingerprint set is
    // the same relation whether derived inline or loaded from parquet
    VerifyRow("d8c_index_replay",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val idxDir =
          s"${scratchDir(d)}/d8c_fp_index_${stageKey(srcFile, "mod10")}"
        val fp = Dedup.FingerprintIndex("text")
        if (!new java.io.File(s"$idxDir/fingerprint/_SUCCESS").exists())
          fp.write(docs.filter(col("doc_id") % 10 =!= 0), idxDir, shards = 4)
        StreamOps.ingestDedupStreaming(
          docs.filter(col("doc_id") % 10 === 0), fp.read(s, idxDir)("fingerprint"), "text")
          .select("doc_id", "fingerprint").orderBy("doc_id")
      },
      d8OracleSql),

    // D8d: the exact-family index lifecycle (d2d's recipe on the
    // fingerprint index): day-1 build, day-2 probe + delta-append of the
    // survivors' distinct fingerprints, then COMPACTION (delta shards fold
    // back to the base shard count — pure physical rewrite, the row set is
    // unchanged by the probe contract), day-3 probe of the compacted index
    // — oracle = the from-scratch day-3 relation (base ∪ day-2 survivors)
    VerifyRow("d8d_index_update",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val idxDir = s"${scratchDir(d)}/d8d_fp_index_${stageKey(srcFile, "mod8c_parts")}"
        val fp = Dedup.FingerprintIndex("text")
        if (!new java.io.File(s"$idxDir/_UPDATED").exists()) {
          fp.write(docs.filter(col("doc_id") % 8 >= 2), idxDir, shards = 4)
          val surv = StreamOps.ingestDedupStreaming(
            docs.filter(col("doc_id") % 8 === 0), fp.read(s, idxDir)("fingerprint"), "text")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          surv.count()
          fp.append(surv, idxDir, shards = 4)
          surv.unpersist()
          fp.compact(s, idxDir, shards = 4)
          new java.io.File(s"$idxDir/_UPDATED").createNewFile()
        }
        StreamOps.ingestDedupStreaming(
          docs.filter(col("doc_id") % 8 === 1), fp.read(s, idxDir)("fingerprint"), "text")
          .select("doc_id", "fingerprint").orderBy("doc_id")
      },
      d8dOracleSql),

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
    //
    // the SQL-text lifecycle must land on the exact same day-3 relation
    // as the Scala-API lifecycle it mirrors (same splits, same oracle)
    VerifyRow("d8f_index_update_sql",
      (s, d) => {
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
      },
      d8dOracleSql),

    // D5d: d5c replayed from the materialized embedding index — vectors +
    // sketch bands loaded from parquet, batch probes only (same oracle as
    // d5c)
    //
    // the index replay must reproduce d5c exactly — sketch bands + vectors
    // are the same relations whether derived inline or loaded from parquet
    VerifyRow("d5d_index_replay",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val srcFile = new java.io.File(s"$d/embeddings.parquet")
        val idxDir =
          s"${scratchDir(d)}/d5d_emb_index_${stageKey(srcFile, "d64b32p4ord")}"
        val ei = Dedup.EmbeddingIndex("vec_id", "embedding", dim = 64, bands = 32,
          bitsPerBand = 4, ordinal = true)
        if (!new java.io.File(s"$idxDir/bands/_SUCCESS").exists())
          ei.write(emb.filter(col("vec_id") % 11 =!= 0), idxDir, shards = 4)
        ei.probe(emb.filter(col("vec_id") % 11 === 0), ei.read(s, idxDir), 0.45)
          .select("vec_id", "label").orderBy("vec_id")
      },
      d5cOracleSql),

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
    //
    // the SQL-maintained vector index against the from-scratch
    // two-generation oracle: day-2 survivors screened against the base,
    // the day-3 probe screened against base ∪ survivors — the fold, the
    // compaction and the probe must be invisible relative to this
    VerifyRow("d5j_embed_index_update_sql",
      (s, d) => {
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
      },
      d5jOracleSql),

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
    //
    // the guarded lifecycle admits every canonical day, so it must
    // reproduce the unguarded relation bit-for-bit (the d4b/d4f shared
    // oracle discipline)
    VerifyRow("d5k_embed_index_guarded_sql",
      (s, d) => {
        Tables.registerAll(s, d)
        val srcFile = new java.io.File(s"$d/embeddings.parquet")
        val idxDir = s"${scratchDir(d)}/d5k_emb_index_${stageKey(srcFile, "d64b32p4m4gsql")}"
        embIndexSqlStage(s, idxDir, "graft_emb_vecs_gsql", "graft_emb_bands_gsql",
          buildPred = "vec_id % 4 >= 2", dayPreds = Seq("vec_id % 4 = 0"))
        requireEmbBillUnder(s, "vec_id % 4 = 1", "graft_emb_bands_gsql",
          EmbSqlGuardPairs)
        s.sql(embProbeSql("vec_id % 4 = 1",
          "graft_emb_vecs_gsql", "graft_emb_bands_gsql"))
      },
      d5jOracleSql)
  )
}
