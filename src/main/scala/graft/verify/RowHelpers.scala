package graft
package verify

import graft.operators._
import graft.sources.ParquetSink
import graft.streaming.StreamOps
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import SparkEntry.dec

/** What the Verify rows share on the Spark side: scratch and stage
  * directories, the staged streaming replays, the row parameters the
  * oracle SQL reads too, and the SQL-text stages of the lifecycle rows.
  */
private[verify] object RowHelpers {

  /** Per-data-dir scratch root for queries that materialize intermediate
    * files (CSV/JSONL round-trips, streaming staging): two concurrent runs
    * at different scale factors must not race on one shared path. Scratch
    * cannot live under `d` itself — the testdata tree is read-only — so the
    * data dir is folded into a path under `target/tmp` of the working
    * directory (as [[Session.get]] places the warehouse dir), and two
    * checkouts never share staged artifacts.
    */
  def scratchDir(d: String): String =
    new java.io.File("target/tmp", d.replaceAll("[^A-Za-z0-9._-]", "_")).getAbsolutePath

  /** Directory key for a staged/materialized artifact: the source file's
    * identity (mtime, size) PLUS a literal fingerprint of every build
    * parameter the artifact depends on. Editing a query's parameters must
    * invalidate the staged copy — a (mtime, size)-only key silently reuses
    * an index built with the OLD parameters, and the resulting oracle
    * mismatch masquerades as an operator bug.
    */
  def stageKey(srcFile: java.io.File, params: String): String =
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
  def stateWidthFor(p: String): Int =
    StreamOps.deriveStateWidth(pathBytes(p))

  val D384 = DecimalType(38, 4)

  /** Discounted price in EXACT decimal arithmetic: cast the 2dp inputs to
    * decimal first, multiply in decimal (scale 4, no rounding). A per-row
    * double→decimal cast of the product is NOT portable — engines disagree
    * on the rounding of products that land near a half-cent.
    */
  def discPrice: Column =
    dec(col("l_extendedprice")) * (lit(1).cast(DecimalType(3, 2)) - dec(col("l_discount")))

  /** The d6 family's shared pair relation — exact bigram-Jaccard pairs at
    * threshold 0.1, reduced to (id_1, id_2), persisted under the loan
    * convention. FIVE sibling queries consume this one plan (d6, d6b, d6c,
    * d6d directly; s5j's `pairs.select(id_1, id_2)` inside
    * connectedComponents plan-matches the same cache entry), and each used
    * to pay the full B(B+1)/2 blocked merge-intersect kernel independently
    * — the quadratic pair GENERATION re-run four times for one relation
    * (guide §5: cache a reused subtree; the d6c row's comment measured
    * exactly this sharing, r21 extends it to the whole family). The cached
    * frame is the pair OUTPUT (two longs per qualifying pair — tiny), not
    * the shingle sets, so the r10 columnar-array-cache inversion measured
    * in ngramJaccardPairs does not apply. First consumer fills (inside its
    * timed region), the rest read; Caches.drain settles at end of run.
    */
  def d6SharedPairs(s: SparkSession, d: String): DataFrame =
    Caches.persistLoaned(
      Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", 2, 0.1)
        .select("id_1", "id_2"))

  /** The x8/x8b shared snapshot derivation: "yesterday" drops %10 ids and
    * edits %7 texts, "today" drops %13 ids — a deterministic pair with all
    * three change classes populated.
    */
  def x8Snapshots(s: SparkSession, d: String): (DataFrame, DataFrame) = {
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
    * no exchange. Each call re-stages both tables (the catalog entry is
    * session-scoped, and `writeBucketedTable` drops and rewrites it).
    */
  def x8bBucketed(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val (oldSnap, newSnap) = x8Snapshots(s, d)
    // collision-proof table names: sanitizing alone aliases distinct dirs
    // (".../sf0.1" vs ".../sf0_1") onto one catalog entry — fold an MD5 of
    // the RAW dir string in alongside the readable suffix
    val safe = d.replaceAll("[^A-Za-z0-9_]", "_")
    val dirHash = java.security.MessageDigest.getInstance("MD5")
      .digest(d.getBytes("UTF-8")).take(6).map("%02x".format(_)).mkString
    val (tOld, tNew) = (s"x8b_old_${dirHash}_$safe", s"x8b_new_${dirHash}_$safe")
    ParquetSink.writeBucketedTable(oldSnap, tOld, "doc_id", 8,
      s"${scratchDir(d)}/x8b_old")
    ParquetSink.writeBucketedTable(newSnap, tNew, "doc_id", 8,
      s"${scratchDir(d)}/x8b_new")
    (s.table(tOld), s.table(tNew))
  }

  /** Per-stage-dir build locks: a stage dir shared by several rows (e6's
    * replay source feeds e6 to e6f, e8's feeds both e8 replays) has a
    * check-then-act `_SUCCESS` probe that two first-callers could race —
    * one overwriting the dir while the other reads it. Serializing the
    * probe+write per dir closes that window; steady-state calls see the
    * marker and pay only an uncontended lock hop.
    */
  private val stageLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]
  private def withStageLock[T](dir: String)(body: => T): T =
    stageLocks.getOrElseUpdate(dir, new Object).synchronized(body)

  val E6HorizonUs = 3600000000L

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
  val SimRetrainFire = 1.0
  val SimRetrainHold = 6.0

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
  val SimRetrainKGrow = 32L
  val SimRetrainKFloor = 1L << 20
  val SimRetrainKClampMax = 12

  /** Stage the e6-family replay source ONCE per (events source, horizon):
    * events + one far-future sentinel per stream (non-joining negative
    * user ids) whose watermark flushes every real append-mode group.
    * Shared by every e6 replay — same staged bytes, so the relations can
    * only differ by operator. Returns None when the events table is empty.
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

  /** One e6-family streaming replay: `join` wires the purchase and click
    * slices of the staged source ([[e6StageDir]]) into a left-outer
    * stream-stream as-of join, which runs to the memory sink `sink`; the
    * row keeps the sink rows passing `keep`, ordered by event_id. One
    * left-outer pass answers both gates: the inner relation is the
    * left-outer rows with a non-null click side (`r_event_id` not null),
    * because the outer join adds a null-click row only for purchases with
    * NO in-horizon click and changes no matched group; the left relation
    * drops the sentinel purchase (`event_id >= 0`). An empty events table
    * yields an empty frame of the same columns.
    */
  def e6Asof(s: SparkSession, d: String, sink: String, keep: Column)
            (join: (DataFrame, DataFrame) => DataFrame): DataFrame =
    e6StageDir(s, d) match {
      case None =>
        import s.implicits._
        Seq.empty[(Long, Long, Long, Long, Long)]
          .toDF("event_id", "user_id", "ts_us", "r_event_id", "r_ts_us")
      case Some(stageDir) =>
        val schema = s.read.parquet(stageDir).schema
        def slice(t: String) =
          s.readStream.schema(schema).parquet(stageDir).filter(col("event_type") === t)
        StreamOps.runToMemoryTable(s, join(slice("purchase"), slice("click")), sink,
          stateWidth = stateWidthFor(stageDir))
          .filter(keep).orderBy("event_id")
    }

  /** e8b/e8c staging: events + one far-future sentinel (user −1) whose
    * watermark closes every real window (the sentinel's own window never
    * closes, so it never emits — the e2b trick). Returns None when the
    * events table is empty.
    */
  def e8StageDir(s: SparkSession, d: String): Option[String] = {
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
      withStageLock(stageDir) {
        if (!new java.io.File(s"$stageDir/_SUCCESS").exists()) {
          val maxTs = maxTsRow.getLong(0)
          val sentinel = Seq((-1L, maxTs + 2 * widthUs + wmUs + 1, -1L))
            .toDF("user_id", "ts_us", "event_id")
          ev.union(sentinel.select("user_id", "ts_us", "event_id"))
            .coalesce(4).write.mode("overwrite").parquet(stageDir)
        }
      }
      Some(stageDir)
    }
  }

  /** Replay the append-mode streaming `op` over the e8 staged source into
    * the memory sink `sink`.
    */
  def e8Sink(s: SparkSession, stageDir: String, sink: String)
            (op: DataFrame => DataFrame): DataFrame = {
    val src = s.readStream.schema(s.read.parquet(stageDir).schema).parquet(stageDir)
    StreamOps.runToMemoryTable(s, op(src), sink, stateWidth = stateWidthFor(stageDir))
  }


  /** The SQL-text rendition of the minhash batch pipeline — trigram
    * shingling, the 64-perm signature, 32×2 banding — over `documents`
    * rows matching `pred`: ONE definition shared by the SQL probe (d2e),
    * the SQL index build and the SQL survivor fold (d2h), so the SQL
    * surface can never drift from itself. Mirrors `Dedup.shingleSets` /
    * `Dedup.bandKeys` at n=3, 64 perms, 32 bands × 2 rows per band.
    */
  def minhashBatchCtes(pred: String): String =
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
  def minhashIndexSqlStage(s: SparkSession, idxDir: String,
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
  def shingleSetCtes(pred: String): String =
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
  val containmentBatchCtes: String =
    "binv AS (SELECT doc_id AS train_id, sk FROM bsets " +
      "LATERAL VIEW explode(shs) t AS sk), " +
      "bdf AS (SELECT sk, count(*) AS df FROM binv GROUP BY sk)"

  /** The SQL-text minhash ingest probe: band-key equi-join candidates
    * against `bandsTable`, exact-Jaccard verify against `setsTable` with
    * the registered graft_sorted_intersect_size kernel, anti join back to
    * the batch. The one probe statement d2e and d2h both run.
    */
  def minhashProbeSql(pred: String, setsTable: String,
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
  def ordinalSketchSparkSql(vecExpr: String, dim: Int, bits: Int,
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
  def embBandCtes(pred: String): String = {
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
  def embIndexSqlStage(s: SparkSession, idxDir: String,
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
  def embProbeSql(pred: String, vecsT: String,
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
  def embBandBillSql(pred: String, bandsT: String): String =
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
  val EmbSqlGuardPairs: Long = 50000000L

  /** Run [[embBandBillSql]] and REFUSE a day whose banded candidate bill
    * exceeds `guardPairs` — the d4f contract on the SQL lifecycle: the
    * refusal costs the pricing aggregates only and happens before any
    * fold insert, so a refused day cannot half-mutate the index.
    */
  def requireEmbBillUnder(s: SparkSession, pred: String,
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

}
