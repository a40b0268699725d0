package graft.operators

import graft.functions.{ArrayOps, Text, Vectors}
import graft.sources.ShardedIndex
import graft.sources.ShardedIndex.Part
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, exact n-gram Jaccard, and embedding-cosine near-dup.
  *
  * Scale design (the whole point of these ops is the 100 TB corpus case):
  *   - exact dedup shuffles a 16-byte fingerprint, never document bodies;
  *   - every set-similarity operator reduces documents ONCE to a sorted
  *     array of 8-byte shingle hashes ([[shingleSets]]); all pairwise
  *     verification is the codegen'd two-pointer merge
  *     [[graft.functions.SortedIntersectSize]] on those arrays — fixed
  *     width, no string re-shingling, no per-pair allocation;
  *   - MinHash reduces each document to a fixed signature before any
  *     pairwise work; candidates come from an equi-join on band hashes;
  *   - the explicitly-exact operators ([[ngramJaccardPairs]],
  *     [[embeddingNearDups]]) have inherently quadratic worst-case output,
  *     so they run on [[Pairs.blockedPairs]]: an equi-join on block-pair
  *     keys that distributes the n²/2 evaluations over B(B+1)/2 tasks with
  *     two-block memory per task and NO full-corpus broadcast.
  */
object Dedup {

  /** Exact dedup, canonical representative per duplicate class: groups by
    * [[Text.fingerprint]] and keeps the lowest id. Output: one row per
    * class with its size. Deterministic (min id), single shuffle of
    * (fingerprint, id) pairs only.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(Text.fingerprint(col(textCol)).as("fingerprint"), col(idCol))
      .groupBy("fingerprint")
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("n_dups"))

  /** Each document reduced to its distinct word-n-gram shingle set:
    * (id, n_sh = |set|, shs = SORTED array of xxhash64 shingle keys).
    * The one-time reduction every set-similarity operator here shares —
    * downstream joins/verification ship 8-byte keys, never text. (Two
    * distinct shingles colliding in 64 bits is the only divergence from
    * string sets — negligible and accepted, as in the inverted index.)
    *
    * The tokenization lives in its own projection: the words array is an
    * alias the shingle expression references n+2 times, which CollapseProject
    * refuses to inline — so the regex split runs ONCE per row. Inlined (as
    * `Text.wordShingles` composes for one-off use), the split re-executes
    * inside the transform lambda per element access: ~3× per gram, measured
    * 6× end-to-end slowdown on the d4b plan where the subtree appears 4
    * times.
    */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("_words"))
      .select(col(idCol), Text.shinglesFromWords(col("_words"), n).as("sh"))
      .select(col(idCol), size(col("sh")).as("n_sh"),
        array_sort(transform(col("sh"), s => xxhash64(s))).as("shs"))

  /** Exact-Jaccard verification of candidate pairs against the hashed
    * shingle sets: two hash joins attach id_1's sorted key array from
    * `setsL` and id_2's from `setsR` (the same frame for a self-join),
    * then the codegen'd merge-intersect. O(|candidates| × avg set size).
    *
    * `spreadRows` (r18 VERDICT #2): a PRICED verify-pair volume — the
    * exact candidate count where the caller materialized it, the
    * histogram's cum pair bill where it priced one — widens the two
    * verify-join exchanges via [[kernelWidth]] at the text-carrying
    * 2^16 rows/task rule. The 2000× d2 A/B showed wall tracking
    * verify/output MASS (3.98× pairs → 4.26× wall) with 1.38×
    * recoverable at identical shuffle volume purely by widening: the
    * band-row width rule prices the BAND exchange, which says nothing
    * about how many candidate pairs the bands produce, and AQE coalesces
    * the bytes-tiny pair frames onto too few kernel threads (the d9e
    * lesson). 0 (unpriced: the small-corpus paths) keeps today's plan — as does
    * any priced volume whose derived width would only hit the
    * parallelism floor: there the explicit exchange buys no width and
    * merely vetoes AQE's (correct, measured: d4d +0.4 s at sf0.1)
    * broadcast/coalesce choices for genuinely small pair frames.
    */
  private def verifyJaccard(candidates: DataFrame, setsL: DataFrame,
                            setsR: DataFrame, idCol: String,
                            threshold: Double,
                            spreadRows: Long = 0L): DataFrame = {
    val s1 = setsL.select(col(idCol).as("id_1"), col("n_sh").as("n_1"), col("shs").as("shs_1"))
    val s2 = setsR.select(col(idCol).as("id_2"), col("n_sh").as("n_2"), col("shs").as("shs_2"))
    def spread(df: DataFrame, key: String) =
      spreadIfWide(df, spreadRows, VerifyPairRowsPerPartition, col(key))
    spread(spread(candidates, "id_1").join(s1, "id_1"), "id_2").join(s2, "id_2")
      .withColumn("inter", ArrayOps.sortedIntersectSize(col("shs_1"), col("shs_2")).cast("double"))
      .withColumn("uni", (col("n_1") + col("n_2") - col("inter")).cast("double"))
      .withColumn("jaccard",
        round(when(col("uni") > 0, col("inter") / col("uni")).otherwise(0.0), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_1", "id_2", "jaccard")
  }

  /** Banded MinHash keys over a prepared shingle-set frame: one row per
    * (id aliased to `as`, band, bkey), the band key hashing the band's
    * slice of the signature. The ONE definition of the banding scheme —
    * the self-join ([[minhashNearDupsPlain]]), the saved index
    * ([[MinhashIndex]]) and its probe all band through it, so they can
    * never silently diverge on signature slicing or band hashing.
    */
  private[graft] def bandKeys(sets: DataFrame, idCol: String, as: String,
                              bands: Int, rowsPerBand: Int): DataFrame =
    ArrayOps.explodeDense(
      sets.select(col(idCol).as(as), sigArrayExpr(bands * rowsPerBand).as("_sigs")),
      Seq(col(as)),
      array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          hash(slice(col("_sigs"), b * rowsPerBand + 1, rowsPerBand)).as("bkey"))
      }: _*), "bd")
      .select(col(as), col("bd.band"), col("bd.bkey"))

  /** The MinHash band self-join: every pair (id_1 < id_2) whose band rows
    * meet on (band, bkey), one row per meeting band — callers dedup the
    * pairs. `side(as)` is one join side's (as, band, bkey) rows: banded
    * from the shingle sets ([[minhashNearDupsPlain]]) or read from a saved
    * index ([[MinhashIndex.nearDupPairs]]).
    */
  private def bandSelfJoin(side: String => DataFrame): DataFrame =
    side("id_1").join(side("id_2"), Seq("band", "bkey"))
      .filter(col("id_1") < col("id_2"))
      .select("id_1", "id_2")

  /** The incremental operators' last step: drop the batch rows whose id
    * appears as `id_1` in `matched`. The matched ids partial-aggregate to
    * at most |batch| rows before their distinct exchange, and the batch
    * keeps its original columns.
    */
  private def dropMatched(batch: DataFrame, idCol: String, matched: DataFrame): DataFrame = {
    val ids = matched.select("id_1").distinct()
    batch.join(ids, batch(idCol) === ids("id_1"), "left_anti")
  }

  /** A Catalyst bloom filter over `key` of `build` — the
    * `BloomFilterAggregate`/`BloomFilterMightContain` pair behind Spark's
    * `InjectRuntimeFilter` — sized for `n` items at `fpp` (-n·ln fpp /
    * (ln 2)² bits, at least 64, at most `maxNumBits`), collected to the
    * driver and returned as the might-contain test of `probe`. The filter
    * is a literal, so the probe side drops rows at scan speed BEFORE its
    * exchange; false positives only admit extra rows, and every caller
    * follows with an exact join.
    */
  private def bloomMightContain(build: DataFrame, key: Column, n: Long, fpp: Double,
                                maxNumBits: Long, probe: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.{graftshim => shim}
    val optimalBits = math.ceil(-n * math.log(fpp) / (math.log(2) * math.log(2))).toLong
    val numBits = math.min(math.max(optimalBits, 64L), maxNumBits)
    val bloomAgg = new BloomFilterAggregate(shim.toExpression(key), Literal(n), Literal(numBits))
    val bloomBytes = build.select(shim.toColumn(bloomAgg.toAggregateExpression()).as("bf"))
      .head().getAs[Array[Byte]](0)
    shim.toColumn(BloomFilterMightContain(
      Literal(bloomBytes, org.apache.spark.sql.types.BinaryType), shim.toExpression(probe)))
  }

  /** The MinHash signature array over a prepared `shs` (sorted shingle-key)
    * column: element p = min over xxhash64(p, shingleKey). ONE nested-HOF
    * expression — the tree (and codegen size) is O(1) in `perms` — shared
    * by the column-form signature API and the banded LSH path so the two
    * can never silently diverge on the hashing scheme.
    */
  private[operators] def sigArrayExpr(perms: Int): org.apache.spark.sql.Column =
    expr(s"transform(sequence(0, ${perms - 1}), " +
      "p -> array_min(transform(shs, h -> xxhash64(p, h))))")

  /** MinHash signature: `perms` independent min-hashes over the document's
    * word-`n`-gram shingle set — permutation p is min over
    * xxhash64(p, shingleKey), re-hashing an 8-byte long per element, never
    * re-shingling text. No shuffle. Column form (`mh_0..mh_{p-1}`) built
    * from the shared [[sigArrayExpr]] in its own projection (the array
    * alias is referenced `perms` times, which CollapseProject refuses to
    * inline — the signature computes once per row).
    */
  def minhashSignature(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, perms: Int = 64): DataFrame =
    shingleSets(df, idCol, textCol, n)
      .select(col(idCol), sigArrayExpr(perms).as("_sigs"))
      .select(col(idCol) +:
        (0 until perms).map(p => element_at(col("_sigs"), p + 1).as(s"mh_$p")): _*)

  /** Per-task row target for the band self-join's exchanges (the big-corpus
    * path only): each reduce task sorts ~this many (id, band, bkey) rows
    * per side (~40 B in-memory each → tens of MB of sort state), so the
    * sort stays in memory no matter how large the corpus grows — the
    * partition COUNT absorbs growth, as executor count does on a cluster.
    * Measured at 1000× (5M docs, 160M banded rows, 24 GB JVM, single
    * variable A/B): 32 fixed partitions = 5M rows/task/side → 270.2 s,
    * 9.7+1.8 GB spill (ALL of it in the band-join stage), 663 MB peak
    * task memory; corpus-derived width (160 partitions) = 1M rows/task →
    * 245.4 s, ZERO spill, 186 MB peak — identical 305,608-row output.
    * At the 8 GB JVM the same change trims 23.0→19.5 GB (the heap still
    * binds there); width is the lever, heap the ceiling.
    */
  private val BandRowsPerPartition: Long = 1L << 20

  /** Per-task row target for VERIFY-PAIR exchanges (the [[kernelWidth]]
    * doc's 2^16 text-carrying rule, given a name): each verify row joins
    * two KB-scale hashed shingle arrays and runs the merge-intersect
    * kernel, so ~64k rows/task bounds both the sort state (~128 MB at
    * ~2 KB/pair) and the kernel time per task. Fed by whatever pair
    * evidence the call already paid for — the materialized candidate
    * count on the minhash prune path, the histogram's cum pair bill on
    * the df-capped sparse path.
    */
  private val VerifyPairRowsPerPartition: Long = 1L << 16

  /** The kernel-exchange width rule, shared by every kernel-heavy verify
    * (r15 #7): turn a PRICED row volume into an explicit exchange width —
    * `pricedRows / rowsPerTask`, floored at `defaultParallelism` (never
    * narrower than the cluster), capped at 8192 (beyond which scheduling
    * overhead dominates a ~64k-row task). This is the reusable form of
    * the AQE bytes-coalescing fix: AQE sizes post-shuffle partitions by
    * BYTES, so a bytes-tiny but KERNEL-heavy frame (deduped candidate
    * pairs feeding levenshtein/cosine/intersect verifies) gets coalesced
    * to ~1 partition — 27 core-s of kernel on one thread in the measured
    * d9e case — and AQE can only MERGE partitions below the advisory
    * size, never split them back. An explicit width is the one lever AQE
    * respects. Pick `rowsPerTask` from the per-row kernel cost: 2^20 for
    * 32-byte band rows (sort-bound), 2^16 for text-carrying verify pairs
    * (~128 MB of sort state at ~2 KB/pair).
    */
  private[graft] def kernelWidth(spark: SparkSession, pricedRows: Long,
                                 rowsPerTask: Long): Int =
    math.max(spark.sparkContext.defaultParallelism.toLong,
      math.min(8192L, pricedRows / rowsPerTask)).toInt

  /** Repartition a kernel-heavy frame by `keys` at [[kernelWidth]] — the
    * call-site form of the width rule ([[minhashNearDupsPlain]]'s band exchange,
    * [[fuzzyVerify]]'s candidate/text exchanges ride it).
    */
  private[graft] def spreadKernel(df: DataFrame, pricedRows: Long, rowsPerTask: Long,
                                  keys: org.apache.spark.sql.Column*): DataFrame =
    df.repartition(kernelWidth(df.sparkSession, pricedRows, rowsPerTask),
      keys: _*)

  /** [[spreadKernel]] that engages only when the derived width EXCEEDS
    * the parallelism floor: below it the explicit exchange buys no width
    * and merely vetoes AQE's broadcast/coalesce choices for genuinely
    * small frames (measured +0.4 s on d4d at sf0.1 — r19).
    */
  private def spreadIfWide(df: DataFrame, pricedRows: Long, rowsPerTask: Long,
                           keys: org.apache.spark.sql.Column*): DataFrame =
    if (pricedRows / rowsPerTask > df.sparkSession.sparkContext.defaultParallelism)
      spreadKernel(df, pricedRows, rowsPerTask, keys: _*)
    else df

  /** The plain MinHash+LSH plan behind [[minhashNearDups]]: band self-join
    * candidates over every document, exact-Jaccard verify. The gate's
    * branch for an already-unique corpus, the collapsed plan's rep-pair
    * step, and the reference the d2 row and the specs call directly.
    */
  private[graft] def minhashNearDupsPlain(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, n: Int = 3,
                      bands: Int = 32, rowsPerBand: Int = 2,
                      pruneVerifyMinRows: Long = 1L << 20): DataFrame = {
    // the shared banded-keys persist (big-corpus path — one signature
    // pass for both join sides), settled the moment the candidates
    // materialize
    var sigCache: Option[DataFrame] = None
    // The verify prune below costs three extra driver-side jobs
    // (candidate count, distinct-id count, bloom build) — worth it only
    // when the verify joins would otherwise SORT a big array-carrying
    // sets stream. Below ~1M docs the streams fit memory and the prune is
    // pure overhead (measured at sf0.1: 0.93 → 1.89 s with it; at 1000×
    // it cuts a quarter of the row's 31 GB spill). The corpus-count read
    // is the [[Pairs.autoBlocks]] sizing precedent.
    val nDocs = df.count()
    val pruneVerifySides = nDocs >= pruneVerifyMinRows
    // sets feed the signature pipeline AND both verify sides — persist the
    // reduced (8-byte-keys) form once
    val sets = graft.Caches.persistLoaned(shingleSets(df, idCol, textCol, n))
    // Band key = hash of the band's signature slice ([[bandKeys]] — the
    // one banding definition; sigArrayExpr keeps the tree O(1) in
    // perms). Any hash is candidate-correct: equal band tuples always
    // collide, spurious collisions die in the exact verify stage.
    //
    // Past the big-corpus gate the band exchange is WIDENED IN-PLAN
    // from corpus stats: the join plans as a SortMergeJoin whose two
    // reduce-side sorts (bands × corpus rows EACH side, in one task)
    // are where the third-decade spill lives — at a fixed partition
    // count the per-task sort state grows linearly with the corpus and
    // falls out of memory (measured: 23 GB at 5M docs / 32 partitions).
    // Explicitly repartitioning both sides by the join keys at
    // nDocs×bands / BandRowsPerPartition keeps each task's sort at a
    // fixed row count — the cluster-proportional sizing a real
    // deployment gets from more executors, derived here from the same
    // corpus count the verify-prune gate already paid for. Both sides
    // share the partitioning (same keys, same N), so the join adds no
    // further exchange; AQE respects an explicit width. A SHUFFLE_HASH
    // hint was measured instead and REJECTED: the build side is
    // non-spillable and fails outright under the same memory share
    // ("Can't acquire 64 MB to build hash relation") where SMJ
    // degrades gracefully — exactly the wrong property at 100 TB.
    // Past the big-corpus gate the BANDED KEYS are persisted and both
    // join sides derive from the one frame: without a cache boundary
    // Spark evaluates the 64-minhash signature pipeline once PER SIDE,
    // and event-log stage attribution at 2000× (r19) put those two map
    // stages at ~60-70% of the row's entire wall — the dominant cost
    // was never an exchange. The cached relation is the EXPLODED
    // (id, band, bkey) frame, all primitive columns, ~20 B × bands per
    // doc: caching the signature ARRAYS instead was measured and
    // rejected (each side's cache read cost ~half a full recompute —
    // the r11 columnar array-deserialization penalty, which primitives
    // don't pay). Settled as soon as the candidates materialize.
    // Below the gate the inline double-compute stays: a persist on a
    // ~100k-doc corpus is pure overhead against sub-second signature
    // passes.
    val side: String => DataFrame =
      if (!pruneVerifySides) as => bandKeys(sets, idCol, as, bands, rowsPerBand)
      else {
        val banded = graft.Caches.persistLoaned(
          bandKeys(sets, idCol, "_bid", bands, rowsPerBand))
        sigCache = Some(banded)
        as => spreadKernel(banded.withColumnRenamed("_bid", as),
          nDocs * bands, BandRowsPerPartition, col("band"), col("bkey"))
      }
    // The candidate DISTINCT is the one exchange between the (already
    // spread) band join and the (already spread) verify joins — left at
    // the session default it re-narrows the collision stream to a
    // 32-wide sort whose per-task state grows with the corpus (r19
    // measured at 2000×: the distinct was the residual 155 s between
    // the derived-width run and the hand-tuned global-128 one). The
    // collision stream is ≥ the band-row volume in any dup-carrying
    // regime, so the band width rule is the evidence already in hand;
    // partitioning by exactly the distinct's keys means the aggregate
    // reuses the exchange rather than adding one.
    val rawCand0 = bandSelfJoin(side)
    val rawCand =
      (if (!pruneVerifySides) rawCand0
       else spreadIfWide(rawCand0, nDocs * bands, BandRowsPerPartition,
         col("id_1"), col("id_2"))).distinct()
    if (!pruneVerifySides) verifyJaccard(rawCand, sets, sets, idCol, threshold)
    else {
      // Materialize the candidates and bloom-prune BOTH verify sides to
      // their ids BEFORE the verify exchanges: AQE does not broadcast the
      // candidate frame (plan-audited at 100× — all SortMergeJoin), so
      // without the prune each verify join SORTS the full array-carrying
      // sets frame; at 1000× those two streams dominate the row's 31 GB
      // spill while candidates touch ~12% of ids. Ids feed the bloom as
      // xxhash64 (type-generic); false positives only ADMIT extra rows —
      // the equi-joins keep the result exact (the d8b pattern).
      val cand = graft.Caches.persistLoaned(rawCand)
      val nCand = cand.count()
      // the candidates are materialized — nothing downstream reads the
      // banded-keys frame again (verify consumes sets), so its loan
      // settles here, not at call end
      sigCache.foreach(graft.Caches.endLoan)
      sigCache = None
      // size the filter by DISTINCT ids, not pairs: a dense candidate set
      // shares ids heavily (5M pairs over ~600k ids at the 1000× probe),
      // and the capacity drives the filter bytes every task carries. The
      // distinct count is one cheap job over the persisted candidates.
      val ids = cand.select(xxhash64(col("id_1")).as("_cid"))
        .union(cand.select(xxhash64(col("id_2")).as("_cid")))
      val nIds = if (nCand == 0L) 0L else ids.distinct().count()
      // past ~16M distinct ids the filter is ~20 MB of task literal — fall
      // back to the un-pruned verify rather than ship a monster
      val res =
        if (nIds == 0L || nIds > (1L << 24))
          verifyJaccard(cand, sets, sets, idCol, threshold, spreadRows = nCand)
        else {
          val mightMatch = bloomMightContain(ids, col("_cid"), nIds, fpp = 0.01,
            maxNumBits = Long.MaxValue, probe = xxhash64(col(idCol)))
          val pruned = sets.filter(mightMatch)
          verifyJaccard(cand, pruned, pruned, idCol, threshold, spreadRows = nCand)
        }
      // no caller handle for the candidate persist — materialize the
      // (threshold-filtered, small) result and drop the candidates; the
      // result's persist is ledgered (Caches.releaseAll calls it in)
      val out = graft.Caches.persistLoaned(res)
      out.count()
      graft.Caches.endLoan(cand)
      out
    }
  }

  /** D2f — [[minhashNearDupsPlain]] with EXACT-DUPLICATE PRE-COLLAPSE: group
    * the corpus by its whitespace-normalized text, run the LSH pipeline
    * over one REPRESENTATIVE per class (min id), then expand class
    * members back into the pair relation. Result-identical to the plain
    * LSH over the full corpus — identical normalized token sequences have
    * identical shingle sets, so (a) every within-class pair scores
    * Jaccard exactly 1.0 (emitted directly; classes whose text has < n
    * words have the EMPTY shingle set, which [[verifyJaccard]] scores 0 —
    * excluded, matching the plain path), and (b) any cross-class pair's
    * Jaccard equals its representatives' Jaccard (attached by two
    * equi-joins on the rep ids).
    *
    * WHY this is the plan for real corpora: web-scale text is
    * 30–50% exact duplicates, and an exact-dup class of size g is the
    * degenerate LSH regime — all `bands` band keys agree for every
    * member, so the band self-join pays g(g−1)/2 candidate pairs PER BAND
    * (g²·bands/2 join rows) and the signature pipeline pays g × (64
    * minhash permutations × |shingles|) for texts that hash identically.
    * Collapsing first makes both costs per-UNIQUE-text: the classes are
    * found by one (16-byte md5, id) shuffle — no text moves — and the
    * quadratic reappears only as output cardinality (the within-class
    * pairs genuinely are the answer), as two narrow equi-joins with no
    * verify work and no band multiplication.
    *
    * [[minhashNearDups]] takes this plan when its measured dup share
    * clears the gate; the d2f row and the specs call it directly. The
    * member frame is a [[graft.Caches]] loan (it feeds the rep filter and
    * both expansion sides).
    */
  private[graft] def minhashNearDupsCollapsed(df: DataFrame, idCol: String,
                                              textCol: String, threshold: Double,
                                              n: Int = 3, bands: Int = 32,
                                              rowsPerBand: Int = 2): DataFrame =
    minhashNearDupsCollapsedFromNorm(df, idCol, textCol,
      normalizedClasses(df, idCol, textCol), threshold, n, bands, rowsPerBand)

  /** The (id, _fp, _ntok, _hasw) normalized-class frame shared by the
    * collapse and [[minhashNearDups]]' pricing aggregate. `_fp` is md5
    * of the space-joined token sequence — exactly the normalization
    * [[shingleSets]] applies, so fp-equal ⇒ identical shingle sets (NOT
    * Text.fingerprint, whose strip-all-punctuation normalization is
    * STRONGER than the shingle view and would merge texts with different
    * shingle sets). `_hasw` marks rows whose token array is non-null: the
    * pricing aggregate counts EVERY row (a null text contributes the
    * empty-string fingerprint, exactly as the pre-r21 inline aggregate
    * did), while class formation excludes null texts — see the null-text
    * note in [[minhashNearDupsCollapsedFromNorm]].
    */
  private def normalizedClasses(df: DataFrame, idCol: String,
                                textCol: String): DataFrame =
    df.select(col(idCol),
        split(lower(trim(col(textCol))), "\\s+").as("_words"))
      .select(col(idCol), md5(concat_ws(" ", col("_words"))).as("_fp"),
        size(col("_words")).as("_ntok"), col("_words").isNotNull.as("_hasw"))

  private def minhashNearDupsCollapsedFromNorm(df: DataFrame, idCol: String,
                                               textCol: String, norm0: DataFrame,
                                               threshold: Double, n: Int,
                                               bands: Int, rowsPerBand: Int): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      "minhashNearDupsCollapsed: threshold must be in (0, 1]")
    // Tokens cannot contain whitespace, so the space join behind `_fp` is
    // injective on token sequences — PROVIDED null texts are excluded
    // first: concat_ws skips a null array, so a NULL text (no shingle set
    // at all) would share the empty-text fingerprint and the within-class
    // branch would emit an (empty, null) pair at jaccard 1.0 that the
    // plain LSH path scores 0. Null-text rows can never appear in a
    // plain-path pair (no shingles), so dropping them from class
    // formation preserves result identity.
    val norm = norm0.filter(col("_hasw"))
      .select(col(idCol), col("_fp"), col("_ntok"))
    // one exchange of (16-byte fp, id, ntok) — texts never shuffle; the
    // rep is the min id of the class, attached by a window over the same
    // partitioning (no second shuffle, no join)
    val members = graft.Caches.persistLoaned(norm.withColumn("_rep",
      min(col(idCol)).over(Window.partitionBy("_fp"))))
    val reps = df.join(members.filter(col(idCol) === col("_rep"))
      .select(col(idCol)), Seq(idCol), "left_semi")
    val repPairs = minhashNearDupsPlain(reps, idCol, textCol, threshold, n,
      bands, rowsPerBand)
    val m1 = members.select(col("_rep").as("_r1"), col(idCol).as("_m1"))
    val m2 = members.select(col("_rep").as("_r2"), col(idCol).as("_m2"))
    // member ids interleave across classes, so the expanded pair is
    // re-oriented (least, greatest); rep pairs are their own classes'
    // members, so they re-emerge here unchanged
    val cross = repPairs
      .join(m1, col("id_1") === col("_r1"))
      .join(m2, col("id_2") === col("_r2"))
      .select(least(col("_m1"), col("_m2")).as("id_1"),
        greatest(col("_m1"), col("_m2")).as("id_2"), col("jaccard"))
    val within = members.select(col("_fp"), col(idCol).as("_m1"), col("_ntok"))
      .join(members.select(col("_fp"), col(idCol).as("_m2")), Seq("_fp"))
      .filter(col("_m1") < col("_m2") && col("_ntok") >= n)
      .select(col("_m1").as("id_1"), col("_m2").as("id_2"),
        lit(1.0).as("jaccard"))
    cross.unionByName(within)
  }

  /** D2 — MinHash+LSH near-duplicate pairs at Jaccard ≥ `threshold`
    * (banded signature candidates, exact-Jaccard verify), with the plan
    * chosen from the input (d2g, the d4d/d5f pattern): MEASURE the
    * exact-duplicate share with one cheap aggregate, then pick
    * [[minhashNearDupsCollapsed]] (the crawl-corpus plan: at 100× under a
    * size-9-class load it is 2.8× the wall and the only zero-spill path)
    * when duplication reaches [[DupFracGate]], else
    * [[minhashNearDupsPlain]] (whose collapse step would be a pure extra
    * exchange on an already-unique corpus). Result-identical either way —
    * the collapsed form is spec-pinned equal to the plain one — so the
    * gate trades only plan shape, never answers. The diagnostic is ONE
    * map-side-combined aggregate over the same 16-byte class fingerprint
    * the collapse itself uses (md5 of the space-joined token sequence):
    * two longs to the driver, the s5i-total bounded-collect pattern.
    *
    * `bands` × `rowsPerBand` is the signature length. A pair is a
    * candidate iff some band of the signature matches exactly; candidates
    * are verified with the TRUE shingle-set Jaccard, so the output has no
    * false positives (recall is the LSH S-curve P[candidate] =
    * 1-(1-j^r)^b). The default 32×2 banding recalls 1-(0.75)³² ≈ 0.9999
    * at j = 0.5 and →1 above; its wide low-j candidate tail is cheap
    * because verification is the codegen'd merge on prepared hash arrays.
    *
    * Output: (id_1, id_2, jaccard) with id_1 < id_2, jaccard rounded to 6.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      threshold: Double, n: Int = 3,
                      bands: Int = 32, rowsPerBand: Int = 2): DataFrame = {
    // The pricing aggregate and the collapse's class formation hash the
    // SAME normalization (md5 of the space-joined token sequence) — until
    // r21 the gate ran that tokenize+md5 corpus pass twice, once per
    // consumer. The norm frame is persisted (loan convention) so the
    // pricing aggregate's fill is the only tokenize pass; the collapsed
    // branch reads its classes from the cache, and the plain branch
    // settles the loan immediately (its pipeline never touches the class
    // fingerprint). Footprint ~50 B/doc (id, 32-char md5, int, bool) —
    // the cheapest cacheable form of the pass (caching token ARRAYS was
    // measured and rejected in the d2 signature path, r11). Pricing
    // arithmetic is bit-identical to the pre-r21 inline aggregate: every
    // row counts, null texts contribute the empty-string fingerprint.
    val norm0 = graft.Caches.persistLoaned(
      normalizedClasses(df, idCol, textCol))
    val row = norm0.agg(
      count(lit(1)).as("_n"),
      count_distinct(col("_fp")).as("_u")).head()
    val nDocs = row.getLong(0)
    val dupFrac = if (nDocs == 0L) 0.0 else 1.0 - row.getLong(1).toDouble / nDocs
    if (dupFrac >= DupFracGate)
      minhashNearDupsCollapsedFromNorm(df, idCol, textCol, norm0, threshold,
        n, bands, rowsPerBand)
    else {
      graft.Caches.endLoan(norm0)
      minhashNearDupsPlain(df, idCol, textCol, threshold, n, bands,
        rowsPerBand)
    }
  }

  /** The exact-duplicate share at which [[minhashNearDups]] collapses
    * classes before banding: web crawls carry 30–50%, where the collapse
    * is the measured winner, while a near-unique corpus pays only its
    * extra exchange.
    */
  private val DupFracGate = 0.2

  /** Exact word-n-gram Jaccard for ALL pairs above `threshold`, on the
    * block-partitioned all-pairs plan: every pair is evaluated exactly once
    * with the codegen'd merge-intersect — no inverted-index self-join, so
    * there is no Σ freq(shingle)² hot-key blowup no matter how skewed the
    * shingle distribution is (the measured testdata corpus has ~900
    * distinct shingles with avg document frequency ≈ 280: EVERY shingle is
    * hot and >80% of all pairs co-occur somewhere, so candidate pruning is
    * structurally impossible there). Exact low-threshold set joins are
    * inherently quadratic in that regime; this plan distributes the n²/2
    * merges over B(B+1)/2 equal tasks. For SPARSE corpora (real web text,
    * high threshold) prefer [[ngramJaccardPairsSparse]], which prunes with
    * an inverted index before the same exact verification.
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int, threshold: Double, blocks: Int = 0): DataFrame = {
    // blocks <= 0 → derive B from the corpus size: a fixed B at 10× the
    // corpus silently means 10× the per-task block memory
    val b = if (blocks > 0) blocks
            else Pairs.autoBlocks(df.count(),
              taskSlots = df.sparkSession.sparkContext.defaultParallelism)
    // The sets are deliberately NOT materialized: blockedPairs reads them
    // on two join sides, and the shingling recompute (one narrow codegen'd
    // projection per side) is CHEAPER than feeding the billion-iteration
    // intersect kernel from a columnar cache — measured at 10× scale
    // (BENCH_SCALE.md): persist() made the warm steady state 2.3× SLOWER
    // than inline recompute (340 s vs 140 s; cache-free cold = 137 s),
    // while inline stays flat across runs. The loan-pattern persist
    // remains right for the ≥3-read consumers (the sparse inverted-index
    // and MinHash paths, which showed no such inversion).
    Pairs.blockedPairs(shingleSets(df, idCol, textCol, n), idCol, b)
      .select(col("id_1"), col("id_2"),
        ArrayOps.sortedIntersectSize(col("s_1.shs"), col("s_2.shs")).cast("double").as("inter"),
        (col("s_1.n_sh") + col("s_2.n_sh")).cast("double").as("sz"))
      .withColumn("jaccard",
        round(when(col("sz") > col("inter"), col("inter") / (col("sz") - col("inter")))
          .otherwise(0.0), 6))
      .filter(col("jaccard") >= threshold)
      .select("id_1", "id_2", "jaccard")
  }

  /** The pair-cost histogram over a frame with one row per cell (a
    * shingle's posting list, a banded cell, a k-means cell) and its size
    * in `sizeCol`: one row per distinct size with the number of cells of
    * that size (`countCol`), the candidate pairs those cells cost
    * (`pair_cost = count · size·(size−1)/2` — each cell is a
    * size-choose-2 self-join block) and the running total by ascending
    * size (`cum_pair_cost`). The cost model every priced near-dup gate
    * reads: the candidate cost of admitting cells up to size c is exactly
    * `cum_pair_cost(c)`. ONE map-side-combined aggregate over the cells;
    * the cumulative window runs over the ≤ |distinct sizes| histogram
    * only.
    */
  private def pairCostHistogram(cells: DataFrame, sizeCol: String,
                                countCol: String): DataFrame = {
    val hist = cells.groupBy(sizeCol).agg(count(lit(1)).as(countCol))
      // s·(s−1) is even, so DIV 2 is exact long arithmetic
      .withColumn("pair_cost", expr(s"$countCol * ($sizeCol * ($sizeCol - 1) DIV 2)"))
    val wCum = Window.orderBy(sizeCol) // tiny frame: ≤ |distinct sizes| rows
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.withColumn("cum_pair_cost", sum("pair_cost").over(wCum))
  }

  /** [[pairCostHistogram]]'s (size, count, cum_pair_cost) strata collected
    * to the driver, ascending size — the form a gate derives its cap
    * from. ONE bounded collect (≤ |distinct sizes| rows, the s5i-total
    * pattern), sorted on the driver rather than in an exchange (every AQE
    * stage is ~100 ms of latency).
    */
  private def pairCostStrata(cells: DataFrame,
                             sizeCol: String): IndexedSeq[(Long, Long, Long)] =
    cells.groupBy(sizeCol).agg(count(lit(1)))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(_._1)
      .scanLeft((0L, 0L, 0L)) { case ((_, _, cum), (size, n)) =>
        (size, n, cum + n * (size * (size - 1) / 2))
      }.drop(1).toIndexedSeq

  /** The cap rule: the largest size whose cumulative pair cost stays
    * within `budgetPairs`, floored at 2 (below 2 a cell generates no
    * candidates at all — if even the size-2 cells blow the budget the
    * floor keeps the operator productive).
    */
  private def capWithin(strata: IndexedSeq[(Long, Long, Long)], budgetPairs: Long): Long =
    math.max(2L, strata.filter(_._3 <= budgetPairs).map(_._1).maxOption.getOrElse(2L))

  /** The cumulative pair cost of admitting every cell up to size `cap`. */
  private def pairCostAt(strata: IndexedSeq[(Long, Long, Long)], cap: Long): Long =
    strata.takeWhile(_._1 <= cap).lastOption.map(_._3).getOrElse(0L)

  /** D4d — inverted-index Jaccard for SPARSE shingle distributions, with
    * the document-frequency ceiling DERIVED from a candidate-pair budget:
    * candidates are pairs co-occurring under some shingle with df ≤ the
    * largest ceiling whose cumulative candidate cost ([[shingleDfStats]])
    * stays within `budgetPairs`, floored at 2. Hot shingles are excluded
    * from candidate GENERATION only — verification still uses full sets,
    * so there are no false positives and no score error; lowering the
    * ceiling loses exactly the pairs whose entire overlap sits in
    * shingles above it (document the budget with the corpus). A fixed
    * PAIR budget keeps per-task memory flat as the corpus grows: a fixed
    * hand-picked df cap admits ~quadratically more candidates at scale
    * (the r16 sweep: >60 GB of disk at the 100× probe), while the derived
    * cap adapts downward so the candidate volume stays bounded.
    *
    * The derived ceiling is returned nowhere; read it from
    * [[shingleDfStats]] + `budgetPairs` (one deterministic filter over
    * that histogram, which the d4d oracle reproduces in SQL). The
    * histogram pass reuses the SAME persisted sets as the pair pipeline,
    * and its evidence picks the plan: the rare keys broadcast when their
    * exact count fits the measured budget, and a budget within the
    * broadcast limit licenses the verify prune. For dense corpora at low
    * thresholds prefer [[ngramJaccardPairs]]' blocked all-pairs plan.
    */
  def ngramJaccardPairsSparse(df: DataFrame, idCol: String, textCol: String,
                              n: Int, threshold: Double,
                              budgetPairs: Long): DataFrame = {
    require(budgetPairs >= 0, "ngramJaccardPairsSparse: budget must be >= 0")
    // |candidates| ≤ cum_pair_cost(ceiling) ≤ budgetPairs by construction,
    // so a bounded budget licenses the verify prune
    sparseCappedFromHistogram(df, idCol, textCol, n, threshold,
      strata => (capWithin(strata, budgetPairs), budgetPairs <= BroadcastRareKeyLimit))
  }

  /** The fixed-ceiling sparse plan: [[ngramJaccardPairsSparse]]'s body at
    * a hand-picked `maxDf` instead of a budget-derived one — the d4b
    * reference the specs pin the derived ceiling against. Nothing bounds
    * its candidate volume.
    */
  private[graft] def ngramJaccardPairsSparseFixedCap(df: DataFrame, idCol: String,
                                                     textCol: String, n: Int,
                                                     threshold: Double,
                                                     maxDf: Int): DataFrame =
    sparseCappedFromHistogram(df, idCol, textCol, n, threshold,
      strata => (maxDf.toLong, pairCostAt(strata, maxDf) <= BroadcastRareKeyLimit))

  /** The histogram-evidenced df-capped pipeline: build the (shingle, df)
    * aggregate once, collect its [[pairCostStrata]], let `choose` turn
    * them into (ceiling, pruneVerify-license), then run
    * [[sparseJaccardFromSets]] with the broadcast decision read off the
    * exact qualifying-key count.
    */
  private def sparseCappedFromHistogram(df: DataFrame, idCol: String,
      textCol: String, n: Int, threshold: Double,
      choose: IndexedSeq[(Long, Long, Long)] => (Long, Boolean)): DataFrame = {
    // The reduced sets feed five plan positions (df-count, both sides of
    // the candidate self-join, both verify sides); without a cache
    // boundary Spark re-evaluates the shingling subtree for each. The sets
    // table is the corpus reduced to 8-byte keys (~1-2% of text size).
    val sets = graft.Caches.persistLoaned(shingleSets(df, idCol, textCol, n))
    // the (shingle, df) aggregate persisted ONCE for three consumers: the
    // strata collect (ceiling + key count), the rare-keys probe side,
    // and the bloom build — without it the corpus-wide distinct-key count
    // runs twice (measured at 1000×, 5M docs / ~500M distinct trigrams:
    // each pass sort-fallback-spills ~40 GB; this is the d4 family's
    // single biggest exchange and it must be paid exactly once)
    val skdf = graft.Caches.persistLoaned(
      ArrayOps.explodeDense(sets, Seq.empty, col("shs"), "sk")
        .groupBy("sk").agg(count(lit(1)).as("_df")))
    // one tiny collect serves the ceiling (from the cumulative candidate
    // cost), the count of qualifying keys (broadcast vs shuffle) and the
    // ceiling's cum pair cost (verify-width evidence, r18 VERDICT #2)
    val strata = pairCostStrata(skdf, "_df")
    val (ceiling, pruneVerify) = choose(strata)
    val rareKeyCount = strata.filter(t => t._1 >= 2 && t._1 <= ceiling).map(_._2).sum
    val (res, candidates) =
      sparseJaccardFromSets(sets, idCol, threshold,
        skdf.filter(col("_df") >= 2 && col("_df") <= ceiling).select("sk"), rareKeyCount,
        broadcastRareKeys = rareKeyCount <= BroadcastRareKeyLimit,
        pruneVerify = pruneVerify, pricedPairs = pairCostAt(strata, ceiling))
    // neither the candidate persist nor the df aggregate has a
    // caller-visible handle, so neither may outlive this call: materialize
    // the (budget-bounded, small) result into its own ledgered persist and
    // drop both. The SETS cache stays a loan until Caches.releaseAll / drain.
    val out = graft.Caches.persistLoaned(res)
    out.count()
    (candidates.toSeq :+ skdf).foreach(graft.Caches.endLoan)
    out
  }

  /** The df-capped candidate+verify body over prepared sets and their
    * qualifying rare keys (`rareKeys`, `nKeys` of them: the shingles with
    * df in [2, ceiling] — a df-1 shingle's self-join yields no pair, so
    * excluding it is correctness-neutral and shrinks the rare frame by
    * the heavy-tailed unique-shingle mass).
    *
    * `broadcastRareKeys`: when the key count fits the broadcast budget the
    * rare-key frame broadcasts and the posting list is pruned by a NARROW
    * filter — the corpus-sized postings exchange disappears and only the
    * cost-bounded rare postings shuffle for the self-join. Measured at
    * 100×: 1.9 GB shuffle + 1.8 GB spill → both gone (BENCH_SCALE.md).
    *
    * Returns the pair relation and, on the `pruneVerify` path, the
    * candidate persist the caller settles once the result is materialized.
    */
  private[graft] def sparseJaccardFromSets(sets: DataFrame, idCol: String,
                                           threshold: Double, rareKeys: DataFrame,
                                           nKeys: Long, broadcastRareKeys: Boolean,
                                           pruneVerify: Boolean,
                                           pricedPairs: Long): (DataFrame, Option[DataFrame]) = {
    val inv = ArrayOps.explodeDense(sets, Seq(col(idCol).as("id")), col("shs"), "sk")
    val rare =
      if (broadcastRareKeys) inv.join(broadcast(rareKeys), "sk")
      // past ~16M keys the bloom filter itself is tens of MB of task
      // literal — the plain join rather than broadcast a monster
      else if (!pruneVerify || nKeys == 0L || nKeys > (1L << 24)) inv.join(rareKeys, "sk")
      else {
        // The budget-gated path past the broadcast limit: a plain
        // rare-postings join sort-merges the ENTIRE posting stream.
        // d8b's answer applies verbatim: fold the rare keys into
        // Catalyst's BloomFilterAggregate and probe the posting stream
        // BEFORE its join exchange — only ~rare-mass + fpp·|inv| postings
        // shuffle, and the equi-join keeps the result exact.
        val mightMatch = bloomMightContain(rareKeys, col("sk"), nKeys, fpp = 0.01,
          maxNumBits = Long.MaxValue, probe = col("sk"))
        inv.filter(mightMatch).join(rareKeys, "sk")
      }
    // same distinct-width discipline as the minhash path: the priced cum
    // pair bill is exactly the pre-distinct volume of this stream
    val rawCandidates = spreadIfWide(
      rare.select(col("id").as("id_1"), col("sk"))
        .join(rare.select(col("id").as("id_2"), col("sk")), "sk")
        .filter(col("id_1") < col("id_2"))
        .select("id_1", "id_2"),
      pricedPairs, BandRowsPerPartition, col("id_1"), col("id_2")).distinct()
    if (!pruneVerify)
      // the priced bill (an upper bound on candidates, which only ever
      // widens) sizes the verify exchanges
      (verifyJaccard(rawCandidates, sets, sets, idCol, threshold, spreadRows = pricedPairs),
        None)
    else {
      // pruneVerify (|candidates| ≤ budgetPairs by construction):
      // MATERIALIZE the bounded candidate set once (without the cache
      // boundary the prune's broadcast subtree re-runs the whole candidate
      // pipeline — measured 2× the shuffle), then semi-prune the sets
      // table to candidate ids via a BROADCAST semi join (ids only — a few
      // hundred KB) before the verify joins, so the corpus-sized sets
      // frame never crosses an exchange.
      val candidates = graft.Caches.persistLoaned(rawCandidates)
      val nCand = candidates.count()
      val verifySets = sets.join(
        broadcast(candidates.select(col("id_1").as("_vid"))
          .union(candidates.select(col("id_2").as("_vid"))).distinct()),
        sets(idCol) === col("_vid"), "left_semi")
      (verifyJaccard(candidates, verifySets, verifySets, idCol, threshold,
        spreadRows = nCand), Some(candidates))
    }
  }

  /** D4c — document-frequency distribution diagnostic for the sparse
    * inverted-index path: [[pairCostHistogram]] over the shingles' posting
    * lists — one row per distinct shingle df with the number of shingles
    * at that df (`n_shingles`), the candidate pairs they generate and the
    * running total. The candidate-generation cost of
    * [[ngramJaccardPairsSparse]] at ceiling c is exactly
    * `cum_pair_cost(c)`, so choosing a budget is reading one column.
    *
    * Scale shape: ONE map-side-combined (shingle-key, count) aggregate —
    * the same exchange the sparse path's df-count already pays — reduced
    * to a ≤|distinct dfs| histogram (heavy-tailed corpora have thousands
    * of distinct df values, not millions). Shingles are the usual 64-bit
    * keys, so two grams colliding merge their dfs — the same accepted
    * divergence as the index itself. At the 1000× probe this corpus-wide
    * aggregate is the d4 family's knee (42.9 s with 18.8+2.4 GB spill).
    */
  def shingleDfStats(df: DataFrame, idCol: String, textCol: String,
                     n: Int): DataFrame =
    pairCostHistogram(
      ArrayOps.explodeDense(shingleSets(df, idCol, textCol, n), Seq.empty, col("shs"), "sk")
        .groupBy("sk").agg(count(lit(1)).as("df")),
      "df", "n_shingles")

  /** Broadcast footprint per 8-byte key, MEASURED from the real artifact:
    * the BroadcastExchange `dataSize` of a single-long-column relation at
    * 512K rows is exactly 64.0 bytes/row (33,554,432 B — the
    * LongToUnsafeRowMap's power-of-two page allocation for key slot +
    * 16-byte single-long UnsafeRow + index), i.e. 8× the raw key bytes
    * the old estimate counted. BroadcastSizeSpec re-measures and pins
    * this constant ≥ the measured value and within 2× of it, so the
    * budget can neither silently undercount the relation nor drift into
    * a blind guess when the Spark version moves.
    */
  private[graft] val BroadcastBytesPerKey: Long = 64L

  /** Total broadcast budget for the rare-keys frame: the executor-side
    * HashedRelation copy should stay well under the default 1g
    * spark.sql.autoBroadcastJoinThreshold-era comfort zone; 32 MB is the
    * repo-wide small-broadcast budget (the d8b bloom images budget the
    * same order).
    */
  private val BroadcastRareKeyBudgetBytes: Long = 32L << 20

  /** Rare-key frames below this many keys broadcast — derived as
    * budget / measured-bytes-per-key (= 512K keys at 64 B/key), never a
    * raw-key-bytes estimate: at 4M keys the raw 8-byte arithmetic says
    * "32 MB" while the real HashedRelation is several× that — a
    * driver/executor OOM exactly in the large-corpus regime this limit
    * exists to protect. The histogram gives the exact count, so the
    * decision is evidence-based, never a blind hint.
    */
  private val BroadcastRareKeyLimit = BroadcastRareKeyBudgetBytes / BroadcastBytesPerKey

  /** X13 — cross-source duplicate OVERLAP MATRIX: for every source pair
    * (a ≤ b), how many distinct normalized fingerprints appear in BOTH —
    * the "which sources duplicate each other" triage view a mixing recipe
    * needs before weighting (upweighting two 40%-overlapping crawls
    * double-counts their shared mass). Diagonal rows (a = a) are each
    * source's distinct-fingerprint count, so off-diagonal cells read
    * directly as overlap fractions of either side.
    *
    * Scale shape: the corpus reduces ONCE to distinct 16-byte
    * (fingerprint, source) pairs — everything after runs on that reduced
    * relation; the fingerprint self-join fans out at most #sources rows
    * per fingerprint (sources are few by construction), and the result is
    * #sources² rows. Text never shuffles.
    */
  def sourceOverlapMatrix(df: DataFrame, textCol: String,
                          groupCol: String): DataFrame = {
    val fs = df.select(Text.fingerprint(col(textCol)).as("fp"),
      col(groupCol).as("src")).distinct()
    val a = fs.select(col("fp"), col("src").as("src_a"))
    val b = fs.select(col("fp"), col("src").as("src_b"))
    a.join(b, "fp").filter(col("src_a") <= col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_shared"))
  }

  /** Incremental ingest dedup — the daily-batch form of [[exact]]: keep
    * only NEW documents whose normalized fingerprint does not already
    * exist in the corpus. The anti join ships 16-byte fingerprints only;
    * the corpus side reduces to its distinct fingerprints before the join
    * — [[FingerprintIndex]]'s rows, which at 100 TB are the thing to keep
    * materialized between ingest batches — and the batch probes them
    * through the ingest path itself
    * ([[graft.streaming.StreamOps.ingestDedupStreaming]]). Compose with
    * [[exact]] on the survivors to also dedup within the new batch.
    */
  def exactIncremental(newDocs: DataFrame, corpus: DataFrame, textCol: String): DataFrame =
    graft.streaming.StreamOps.ingestDedupStreaming(newDocs,
      FingerprintIndex(textCol).rows(corpus)("fingerprint"), textCol)

  /** [[exactIncremental]] with a RUNTIME BLOOM FILTER pruning the corpus
    * side — the shape that matters when the corpus is 100 TB and the daily
    * batch is small. The plain anti join must still `distinct()` every
    * corpus fingerprint (a full corpus-wide shuffle) even though only
    * fingerprints colliding with the BATCH can affect the result. Here the
    * small side's fingerprints are folded into a bloom filter (Catalyst's
    * own `BloomFilterAggregate`/`BloomFilterMightContain` pair — the
    * codegen'd expressions behind Spark's `InjectRuntimeFilter`), the
    * filter is broadcast as a literal, and the corpus scan drops every
    * fingerprint the filter rejects BEFORE the distinct exchange. Survivors
    * ≈ true matches + fpp × corpus-distinct, so the corpus-side shuffle
    * shrinks from |corpus| to roughly fpp×|corpus| while the result stays
    * EXACT — false positives are eliminated by the anti join that follows.
    *
    * Driver/executor footprint is the bloom's bit array: sized from the
    * observed batch count at `fpp` (~1.2 bytes/item at 1%), capped at
    * `maxNumBits` (64 M bits = 8 MB, Spark's own runtime-filter default
    * cap — past the cap fpp degrades gracefully and correctness is
    * unaffected). For batches large enough to saturate the cap the plain
    * [[exactIncremental]] is the right tool; this variant exists for the
    * common small-batch-vs-huge-corpus ingest.
    *
    * The batch frame is a [[graft.Caches]] loan: it is scanned for the
    * count, the bloom build, and the anti join.
    */
  def exactIncrementalBloom(newDocs: DataFrame, corpus: DataFrame,
                            idCol: String, textCol: String,
                            fpp: Double = 0.01,
                            maxNumBits: Long = 1L << 26): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, "exactIncrementalBloom: fpp must be in (0,1)")
    val nf = graft.Caches.persistLoaned(
      newDocs.withColumn("fingerprint", Text.fingerprint(col(textCol))))
    val batchCount = math.max(1L, nf.count()) // also materializes the persist
    val fpHash = xxhash64(col("fingerprint"))
    val mightMatchBatch = bloomMightContain(nf, fpHash, batchCount, fpp, maxNumBits,
      probe = fpHash)
    val cf = corpus.select(Text.fingerprint(col(textCol)).as("fingerprint"))
      .filter(mightMatchBatch)
      .distinct()
    nf.join(cf, Seq("fingerprint"), "left_anti")
  }

  /** Incremental NEAR-dup dedup — the daily-ingest analogue of
    * [[exactIncremental]] for MinHash similarity: keep only new-batch
    * documents with no corpus document at Jaccard ≥ `threshold`. This is
    * [[MinhashIndex.probe]] over in-memory parts: the corpus reduces to
    * sorted 8-byte shingle-key sets ONCE (`sets`) and is band-indexed from
    * them (`bands` — at 100 TB this index is the thing to keep
    * materialized between ingest batches, exactly like the
    * distinct-fingerprint set of the exact path); only the NEW BATCH's
    * band keys join against it — the corpus is never self-joined, so a
    * daily batch costs O(|batch| × bands) probe rows, not O(|corpus|²);
    * candidates verify with the TRUE shingle-set Jaccard (no false
    * positives; recall is the LSH S-curve — 32×2 banding ≈ 0.9999 at
    * j = 0.5), and matched batch ids are anti-joined away.
    *
    * Output: the surviving new-batch rows (original columns). Both
    * shingle-set frames are [[graft.Caches]] loans.
    */
  def minhashIncremental(newDocs: DataFrame, corpus: DataFrame, idCol: String,
                         textCol: String, threshold: Double, n: Int = 3,
                         bands: Int = 32, rowsPerBand: Int = 2): DataFrame = {
    val index = MinhashIndex(idCol, textCol, n, bands, rowsPerBand)
    index.probe(newDocs,
      index.fromSets(graft.Caches.persistLoaned(shingleSets(corpus, idCol, textCol, n))),
      threshold)
  }

  /** Benchmark DECONTAMINATION — the cross-corpus containment check every
    * training pipeline runs before shipping data: for each TEST (benchmark)
    * document, find every TRAIN document whose shingle overlap covers at
    * least `threshold` of the TEST document's shingles. Containment, not
    * Jaccard: a 50-word benchmark question buried in a 5000-word train doc
    * has tiny Jaccard but containment ≈ 1 — exactly the leak to catch.
    *
    * This is [[ContainmentIndex.probe]] over in-memory parts: candidates
    * come from an inverted index over the TRAIN side restricted to
    * shingles with train-document-frequency ≤ `maxDf` (ubiquitous
    * shingles generate candidate blowup but can't evidence contamination
    * on their own); containment is then verified EXACTLY on the full
    * hashed sets via the codegen'd merge-intersect, so scores carry no
    * approximation. Both corpora travel as 8-byte shingle keys, never
    * text.
    *
    * Output: (test_id, train_id, containment) for pairs ≥ threshold,
    * containment = |test ∩ train| / |test| rounded to 6. Both shingle-set
    * frames are [[graft.Caches]] loans.
    */
  def decontaminationPairs(train: DataFrame, test: DataFrame, idCol: String,
                           textCol: String, n: Int, threshold: Double,
                           maxDf: Int): DataFrame = {
    val index = ContainmentIndex(idCol, textCol, n, maxDf)
    index.probe(test,
      index.fromSets(graft.Caches.persistLoaned(shingleSets(train, idCol, textCol, n))),
      threshold)
  }

  /** Connected components over near-duplicate PAIRS — the final dedup
    * stage: pairs → clusters → one canonical representative per cluster.
    * Output: (id, component) for every id appearing in a pair, where
    * `component` is the cluster's minimum id (its canonical keep).
    *
    * Iterative min-label propagation: every node starts labeled with its
    * own id; each round, labels flow across (bidirectional) edges and each
    * node keeps the minimum seen; converged when no label changes. Rounds
    * needed = graph diameter — near-dup clusters are dense, so a handful.
    * Each round is one join + one aggregate, all distributed; the driver
    * only evaluates the converged? flag.
    *
    * Every round `localCheckpoint`s its result: without truncation the
    * LOGICAL plan doubles per iteration (cache substitution only happens
    * at physical planning), and analysis alone OOMs the driver within ~15
    * rounds — the standard iterative-on-Spark pitfall. Intermediate
    * checkpoints are released by Spark's ContextCleaner once the driver
    * loop drops their references (each round); only the returned labels
    * stay resident. On a cluster with executor loss concerns, set a
    * checkpoint dir and swap in reliable `checkpoint()`.
    *
    * The per-round label frames run at a fraction of the session's
    * parallelism: labels are a few machine-words per node, far smaller
    * than the corpus, and one task per corpus partition is pure overhead.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20,
                          localEdgeLimit: Long = 1L << 18): DataFrame = {
    // checkpoint the edge list ONCE: the (possibly heavy) pair-generation
    // pipeline runs exactly one time, and bidir/labels both derive from the
    // materialized edges (deriving them from `pairs` directly re-evaluated
    // the whole dedup pipeline per derivation — measured 2× the loop cost)
    val edges = pairs.select(col("id_1"), col("id_2")).localCheckpoint()
    // Size-gated LOCAL fast path — the standard hybrid (GraphFrames-style):
    // after heavy near-dup thresholds the PAIR graph is typically orders of
    // magnitude smaller than the corpus, and each distributed label round
    // costs several scheduler round-trips regardless of data size. When the
    // materialized edge list is small (≤ localEdgeLimit edges — the count
    // is a cheap scan of the checkpoint), union-find on the driver answers
    // in O(E α(E)) with identical output; anything larger takes the
    // distributed loop below, which remains the scale path. Pass
    // localEdgeLimit = 0 to force the distributed path.
    if (localEdgeLimit > 0 && edges.count() <= localEdgeLimit)
      return localComponents(edges)
    val lp = math.max(2, edges.sparkSession.sparkContext.defaultParallelism / 8)
    // bidir is read every round as the probe side of the propagate join —
    // materialize it ONCE, hash-partitioned by the join key at label scale
    // (a plain union would carry 2× the edge-pipeline partition count into
    // every round's join stage; the label frames are a few machine words
    // per node, so lp-wide stages, not corpus-wide ones)
    val bidir = edges.union(edges.select(col("id_2").as("id_1"), col("id_1").as("id_2")))
      .repartition(lp, col("id_2"))
      .localCheckpoint()
    // Round 1 folded into the seed: every node starts at its own id, so the
    // first propagate-merge is just min(self, neighbors) — one aggregation
    // (bidir holds both directions, so DISTINCT id_1 covers every node),
    // replacing a separate node-distinct job + checkpoint + full round.
    var labels = bidir
      .select(col("id_1").as("id"), least(col("id_1"), col("id_2")).as("component"))
      .repartition(lp, col("id"))
      .groupBy("id").agg(min("component").as("component"))
      .localCheckpoint()
    // Convergence check without a join: labels only ever DECREASE (every
    // round takes a min over {own label} ∪ neighbors ∪ label-of-label), so
    // the exact total Σ component is strictly smaller after any change and
    // identical iff the round was a no-op. One narrow aggregate over the
    // already-checkpointed frame replaces the per-round next⋈prev
    // changed-row count. Decimal sum: exact, overflow-free at any id range.
    // ONLY valid for integral id types — a non-numeric component would cast
    // to null and sum to a constant, silently declaring convergence after
    // one round — so other id types (string doc ids) take the join-based
    // changed-row count instead.
    import org.apache.spark.sql.types._
    val sumSafe = labels.schema("component").dataType match {
      case ByteType | ShortType | IntegerType | LongType | _: DecimalType => true
      case _ => false
    }
    def labelSum(df: DataFrame): java.math.BigDecimal = {
      val d = df.agg(sum(col("component").cast(DecimalType(38, 0))).as("s"))
        .head().getDecimal(0)
      if (d == null) java.math.BigDecimal.ZERO else d
    }
    def unchanged(next: DataFrame, prev: DataFrame): Boolean =
      next.as("n").join(prev.as("o"), "id")
        .filter(col("n.component") =!= col("o.component"))
        .limit(1).count() == 0
    var prevSum = if (sumSafe) labelSum(labels) else null
    var converged = false
    var i = 1 // the seed above IS round 1
    while (i < maxIter && !converged) {
      val prev = labels
      val propagated = bidir.join(prev, bidir("id_2") === prev("id"))
        .select(bidir("id_1").as("id"), col("component"))
      // checkpoint BEFORE the pointer-jump self-join: it both truncates the
      // per-round lineage and gives the self-join a clean leaf plan (a
      // self-join on the union-derived frame trips Union constraint
      // rewriting with a missing-attribute error)
      val merged = prev.select("id", "component").union(propagated)
        .repartition(lp, col("id"))
        .groupBy("id").agg(min("component").as("component"))
        .localCheckpoint()
      // pointer jumping: also adopt the label OF the current label — halves
      // the remaining diameter every round, so long chains converge in
      // O(log d) rounds instead of O(d)
      val byId = merged.select(col("id").as("cid"), col("component").as("ccomp"))
      // checkpointed too: un-materialized, this join re-executes for the
      // convergence sum AND inside the next round's merged
      val next = merged
        .join(byId, merged("component") === byId("cid"), "left")
        .select(merged("id"),
          least(merged("component"), coalesce(byId("ccomp"), merged("component")))
            .as("component"))
        .localCheckpoint()
      if (sumSafe) {
        val s = labelSum(next)
        converged = s.compareTo(prevSum) == 0
        prevSum = s
      } else converged = unchanged(next, prev)
      labels = next
      i += 1
    }
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass)
        .warn(s"connectedComponents: labels not converged after $maxIter rounds — " +
          "components may be split; raise maxIter")
    labels
  }

  /** Driver-side union-find with path compression for the small-graph fast
    * path of [[connectedComponents]]. Works for any Comparable id type
    * (long doc ids, string urls); component = the cluster's minimum id,
    * identical to the distributed loop's fixpoint. Output schema matches
    * the loop's: (id, component) with the input id type.
    */
  private def localComponents(edges: DataFrame): DataFrame = {
    val es = edges.collect()
    val parent = new java.util.HashMap[Any, Any]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != r) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != r) { val nxt = parent.get(c); parent.put(c, r); c = nxt }
      r
    }
    es.foreach { row =>
      val (a, b) = (row.get(0), row.get(1))
      if (!parent.containsKey(a)) parent.put(a, a)
      if (!parent.containsKey(b)) parent.put(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(ra, rb)
    }
    // Strings compare in UTF-8 byte order — Spark's least/min semantics —
    // NOT Java's UTF-16 compareTo (they diverge for supplementary chars vs
    // U+E000..U+FFFF, which would silently flip the canonical id between
    // the local and distributed paths). Other id types share one ordering.
    def utf8Lt(a: String, b: String): Boolean = {
      val x = a.getBytes("UTF-8"); val y = b.getBytes("UTF-8")
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c < 0
        i += 1
      }
      x.length < y.length
    }
    @annotation.nowarn("cat=unchecked")
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (s: String, t: String) => utf8Lt(s, t)
      case _ => a.asInstanceOf[Comparable[Any]].compareTo(b) < 0
    }
    val minOfRoot = new java.util.HashMap[Any, Any]()
    parent.keySet().forEach { id =>
      val r = find(id)
      val cur = minOfRoot.get(r)
      if (cur == null || lt(id, cur)) minOfRoot.put(r, id)
    }
    val idType = edges.schema.head.dataType
    val out = new scala.collection.mutable.ArrayBuffer[org.apache.spark.sql.Row]()
    parent.keySet().forEach { id =>
      out += org.apache.spark.sql.Row(id, minOfRoot.get(find(id)))
    }
    edges.sparkSession.createDataFrame(
      edges.sparkSession.sparkContext.parallelize(out.toSeq, 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("id", idType, nullable = false),
        org.apache.spark.sql.types.StructField("component", idType, nullable = false))))
  }

  /** D6c — INCREMENTAL connected components: fold a batch of NEW pairs
    * into existing (id, component) labels without re-walking the full
    * historical pair set. The saved labels are CONTRACTION edges — each
    * (id, component) is an edge into the cluster's canonical node, and
    * contraction preserves connectivity — so components over
    * (label edges ∪ new pairs) equal components over
    * (old pairs ∪ new pairs), with the same min-id canonical. This is how
    * a daily dedup pipeline maintains cluster membership: the label table
    * (one row per clustered id) replaces the pair history (quadratic in
    * cluster sizes), and each ingest folds in only the index-probe pairs
    * the new batch generated ([[MinhashIndex.nearDupPairs]] /
    * [[MinhashIndex.probe]]'s matched candidates).
    *
    * The self-labeled rows (id = component, the canonicals) contribute
    * self-loops that the component loop ignores; singleton ids that gain
    * their first pair enter through the new-pair side. Output contract is
    * [[connectedComponents]]'s: every id in any input edge, labeled with
    * its cluster's min id (driver-gated: d6c must bit-match a from-scratch
    * recompute over the full pair union).
    */
  def connectedComponentsIncremental(labels: DataFrame, newPairs: DataFrame,
                                     maxIter: Int = 20): DataFrame =
    connectedComponents(
      labels.select(col("id").as("id_1"), col("component").as("id_2"))
        .unionByName(newPairs.select("id_1", "id_2")),
      maxIter)

  /** Canonical-keep selection: drop every document that belongs to a
    * near-dup cluster but is not its minimum-id representative.
    */
  def keepCanonical(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = connectedComponents(pairs)
      .filter(col("id") =!= col("component")).select("id")
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** D6d — [[keepCanonical]] with a QUALITY keep rule: within each
    * duplicate cluster keep the member with the HIGHEST `scoreCol` (ties →
    * smallest id), not the smallest id. This is the keep rule production
    * dedup actually ships — near-duplicate clusters mix a full article
    * with its truncated or boilerplate-wrapped copies, and min-id keeps
    * whichever was crawled first; score-keep retains the best exemplar
    * (longest text, highest quality score) per cluster.
    *
    * Scale shape: [[connectedComponents]] labels only ids that appear in
    * `pairs` (untouched rows never enter the label relation); the winner
    * per component is [[Analytics.topNPerGroup]] with n = 1 over the
    * labeled rows, ordered by score descending with nulls last, then id
    * ascending — the A8 argmax body, which Spark cuts to one row per
    * component per partition before its exchange — and survivors emerge
    * from a single left_anti hash join. A null score loses to any score,
    * and an all-null cluster keeps its smallest id, so every cluster
    * elects exactly one winner, as [[keepCanonical]] does. Everything
    * after the caller-supplied pair generation runs at matched-rows
    * scale, not corpus scale.
    */
  def keepBest(df: DataFrame, idCol: String, pairs: DataFrame,
               scoreCol: String): DataFrame = {
    val labels = connectedComponents(pairs)
    val scored = labels
      .join(df.select(col(idCol).as("id"), col(scoreCol).as("_s")), "id")
    val winners = Analytics.topNPerGroup(scored, Seq("component"),
        Seq(col("_s").desc_nulls_last, col("id").asc), 1)
      .select(col("component"), col("id").as("_win"))
    val losers = labels.join(winners, "component")
      .filter(col("id") =!= col("_win")).select("id")
    df.join(losers, df(idCol) === losers("id"), "left_anti")
  }

  /** The SimHash sketch width, in bits. */
  val SimhashBits = 60

  /** 60-bit SimHash over whitespace tokens: bit i of the sketch is the sign
    * of Σ_tokens (bit i of tokenHash(token) ? +1 : -1). Near-dup docs differ
    * in few bits (small Hamming distance). Computed per-row with array
    * expressions — no explode, no shuffle. Uses [[Text.tokenHash60]]
    * (md5-derived, 60 bits) so the sketch is reproducible in any engine
    * with an md5 — which is what makes the result oracle-checkable.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // token hashes materialized as their own projection alias: the sketch
    // references it 60 times (once per bit), which keeps the projection
    // boundary (CollapseProject) — md5-per-token runs once per row, not
    // once per bit.
    val withHashes = df.select(col(idCol),
      transform(array_distinct(split(lower(trim(col(textCol))), "\\s+")),
        t => Text.tokenHash60(t)).as("_hh"))
    withHashes.select(col(idCol), simhashSketchExpr.as("simhash"))
  }

  /** The 60-bit majority-vote fold over the `_hh` token-hash alias — ONE
    * definition behind [[simhash]] and the length-carrying variant the
    * fuzzy path uses, so the sketch can never drift between them.
    */
  private def simhashSketchExpr: org.apache.spark.sql.Column =
    (0 until SimhashBits).map { i =>
      val vote = aggregate(col("_hh"), lit(0L),
        (acc, h) => acc + when(h.bitwiseAND(lit(1L << i)) =!= 0L, 1L).otherwise(-1L))
      when(vote > 0, lit(1L << i)).otherwise(0L)
    }.reduce(_ + _)

  /** [[simhash]] carrying the text length in the SAME narrow pass —
    * (id, simhash, _len) with zero extra exchanges (an id-keyed join of
    * lengths onto sketches measured 1.4× on the d9 row at 1×).
    */
  private def simhashWithLen(df: DataFrame, idCol: String,
                             textCol: String): DataFrame = {
    val withHashes = df.select(col(idCol), length(col(textCol)).as("_len"),
      transform(array_distinct(split(lower(trim(col(textCol))), "\\s+")),
        t => Text.tokenHash60(t)).as("_hh"))
    withHashes.select(col(idCol), col("_len"), simhashSketchExpr.as("simhash"))
  }

  /** The 15-bit chunk `c` (0..3) of a 60-bit sketch. */
  private def simhashChunk(sketch: Column, c: Int): Column =
    shiftrightunsigned(sketch, c * 15).bitwiseAND(lit(0x7FFFL))

  /** The ONE SimHash chunk scheme: each sketched row exploded into its
    * four (chunk, ckey) band rows, carrying the `keep` columns. A pair
    * within Hamming ≤ 3 of a 60-bit sketch agrees exactly on ≥ 1 of the
    * 4 chunks (pigeonhole), so equi-joining on (chunk, ckey) recalls
    * every such pair.
    */
  private def simhashChunkRows(sketched: DataFrame, keep: String*): DataFrame =
    sketched.select(keep.map(col) :+
        explode(array((0 until 4).map { c =>
          struct(lit(c).as("chunk"), simhashChunk(col("simhash"), c).as("ckey"))
        }: _*)).as("cd"): _*)
      .select(keep.map(col) ++ Seq(col("cd.chunk"), col("cd.ckey")): _*)

  /** FIRST-AGREEING-CHUNK test for a pair met at band `chunk`: true when
    * the two sketches already agree on an earlier chunk, where the pair
    * also met. Keeping only the meets where it is false emits each pair
    * exactly once with no pair dedup — three codegen'd mask compares on
    * the sketches in hand, not a join or a distinct.
    */
  private def earlierChunkAgrees(sh1: Column, sh2: Column): Column =
    (0 until 3).map { c =>
      col("chunk") > c && simhashChunk(sh1, c) === simhashChunk(sh2, c)
    }.reduce(_ || _)

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, banded into
    * 4×15-bit chunks for candidate generation (a pair within Hamming ≤ 3 of
    * a 60-bit sketch must agree exactly on ≥1 of 4 chunks — pigeonhole, so
    * recall is 100% for maxHamming ≤ 3).
    */
  def simhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4-chunk banding guarantees recall only for maxHamming <= 3")
    // PERSIST the sketch (r20, the d2 signature-sharing treatment): both
    // self-join sides derive from `sh`, and without a cache boundary Spark
    // evaluates the whole simhash pipeline (md5 per distinct token + the
    // 60-bit majority fold) once PER SIDE — event-log attribution at 100×
    // put the two sketch map stages at ~75% of this operator's entire
    // core-time. The cached frame is two primitive columns (~16 B/doc);
    // the chunk explode below is four cheap bit-ops rows per cached row.
    // Loan convention: the result is lazy, Caches.drain settles it.
    val sh = graft.Caches.persistLoaned(simhash(df, idCol, textCol))
    val chunked = simhashChunkRows(sh, idCol, "simhash")
    val l = chunked.select(col(idCol).as("id_1"), col("simhash").as("sh_1"), col("chunk"), col("ckey"))
    val r = chunked.select(col(idCol).as("id_2"), col("simhash").as("sh_2"), col("chunk"), col("ckey"))
    // FIRST-AGREEING-CHUNK collapse instead of a distinct (r16 sweep):
    // the .distinct() it replaces buffered up to 4 copies of every
    // within-threshold pair in its partial aggregate — 19.9 GB of memory
    // spill at 100×
    l.join(r, Seq("chunk", "ckey"))
      .filter(col("id_1") < col("id_2") && !earlierChunkAgrees(col("sh_1"), col("sh_2")))
      .select(col("id_1"), col("id_2"),
        bit_count(col("sh_1").bitwiseXOR(col("sh_2"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** D9 — fuzzy near-dup pairs verified by EDIT DISTANCE: SimHash banding
    * generates candidates ([[simhashNearDups]]'s pigeonhole chunks — full
    * recall at Hamming ≤ 3), then each candidate pair is verified with
    * `levenshtein` on the raw texts and kept at distance ≤ `maxDist`.
    * This is the "typo-level duplicate" gate token-set similarity can't
    * express: Jaccard/MinHash see bags of words (reorderings score high),
    * edit distance sees the character sequence.
    *
    * Scale shape: Levenshtein runs ONLY on banding survivors
    * (near-identical sketches), never all pairs, and in two prunes —
    * (a) |len₁ − len₂| > maxDist implies distance > maxDist, a codegen'd
    * length filter that kills the bulk of sketch collisions between
    * genuinely different documents before any edit arithmetic (measured
    * at sf0.1: 281 s → the banding candidate set is dominated by such
    * pairs); (b) the survivors run the BANDED `levenshtein(l, r,
    * threshold)` — O(len·maxDist) with early bailout, not O(len²) —
    * which returns the exact distance when ≤ threshold and −1 otherwise,
    * so the result relation is identical to the unbounded form. Texts
    * join onto the candidate list by id — two hash joins — so full
    * documents travel once per surviving candidate, not per chunk
    * collision.
    *
    * This is the full-admission plan: every banded candidate is verified,
    * so recall is full within the sketch, and nothing bounds the
    * candidate volume — on a low-entropy corpus it goes quadratic
    * (measured: 6.2 GB candidate-distinct spill at 100×).
    * [[fuzzyNearDups]] takes it only when the priced volume fits its
    * budget; the d9 row and the specs call it directly as the reference.
    */
  private[graft] def fuzzyNearDupsBanded(df: DataFrame, idCol: String, textCol: String,
                                         maxDist: Int, maxHamming: Int = 3): DataFrame = {
    require(maxDist >= 0, "fuzzyNearDupsBanded: maxDist must be >= 0")
    require(maxHamming <= 3, "4-chunk banding guarantees recall only for maxHamming <= 3")
    // LENGTH-SLICED banding: candidates join on (chunk, ckey, lenBucket)
    // with the right side replicated into the adjacent buckets (width
    // maxDist+1, so any pair with |Δlen| ≤ maxDist — a NECESSARY condition
    // for edit distance ≤ maxDist — lands in ≥1 common bucket: exact
    // recall). The length slice fragments the sketch buckets BEFORE any
    // pair materializes — on a low-entropy corpus the sketches cluster
    // and pure (chunk, ckey) buckets go quadratic (measured at 100×: ~20M
    // hamming-pass candidates, 30 GB of spill carrying texts through the
    // verify; the earlier narrow length POST-filter still materialized
    // every pair first). Join payloads stay 32 bytes (id, sketch, len);
    // texts ship only for pairs that already passed hamming + length.
    // Persist the banded sketch rows (r20): the verify's two join sides
    // each re-evaluated the simhash pipeline (md5 per token + 60-bit
    // fold) without a cache boundary — the same double-evaluation the
    // gated entry already avoids via its chunked persist. Loan
    // convention (lazy result, Caches.drain settles).
    fuzzyVerify(df, idCol, textCol, maxDist, maxHamming,
      graft.Caches.persistLoaned(fuzzyChunked(df, idCol, textCol, maxDist)),
      chunkDedup = true)
  }

  /** D9d — incremental FUZZY ingest, completing the incremental family's
    * fourth mode (exact: [[exactIncremental]], MinHash:
    * [[minhashIncremental]], embedding: [[embeddingIncremental]], and now
    * edit distance): keep only batch documents with NO corpus document
    * within Levenshtein ≤ `maxDist` — the typo-level variant of the
    * daily-ingest near-dup filter. Cross form of [[fuzzyNearDupsBanded]]'
    * length-sliced banding: the batch side sits in its home length
    * bucket, the corpus side replicates ±1 (any |Δlen| ≤ maxDist pair
    * still meets — same pigeonhole recall at hamming ≤ 3), candidates
    * carry the first-agreeing-chunk dedup (exactly-once by construction,
    * no candidate distinct), texts join once per survivor, the banded
    * `levenshtein(l, r, maxDist)` verifies, and matched batch ids (a
    * ≤|batch| set after map-side partial dedup) anti-join the batch.
    */
  def fuzzyIncremental(newDocs: DataFrame, corpus: DataFrame, idCol: String,
                       textCol: String, maxDist: Int,
                       maxHamming: Int = 3): DataFrame = {
    require(maxDist >= 0, "fuzzyIncremental: maxDist must be >= 0")
    require(maxHamming <= 3, "4-chunk banding guarantees recall only for maxHamming <= 3")
    val lSide = fuzzyHomeSide(fuzzyChunked(newDocs, idCol, textCol, maxDist), idCol)
    val rSide = fuzzyReplicatedSide(fuzzyChunked(corpus, idCol, textCol, maxDist), idCol)
    val cand = lSide.join(rSide, Seq("chunk", "ckey", "_lb"))
      .filter(bit_count(col("sh_1").bitwiseXOR(col("sh_2"))) <= maxHamming &&
        abs(col("_l1") - col("_l2")) <= maxDist &&
        !earlierChunkAgrees(col("sh_1"), col("sh_2")))
      .select("id_1", "id_2")
    val t1 = newDocs.select(col(idCol).as("id_1"), col(textCol).as("_t1"))
    val t2 = corpus.select(col(idCol).as("id_2"), col(textCol).as("_t2"))
    dropMatched(newDocs, idCol, cand.join(t1, "id_1").join(t2, "id_2")
      .filter(levenshtein(col("_t1"), col("_t2"), maxDist) >= 0))
  }

  /** The ONE definition of the fuzzy family's banded sketch rows —
    * (id, simhash, _len, chunk, ckey, _hb) where `_hb = floor(len / w)`
    * is the row's HOME length bucket (width w = maxDist+1) — shared by
    * the pair join, the cell diagnostic, and the capped admission so
    * the cell scheme can never drift between them.
    */
  private[graft] def fuzzyChunked(df: DataFrame, idCol: String, textCol: String,
                                  maxDist: Int): DataFrame = {
    val w = maxDist + 1
    simhashChunkRows(simhashWithLen(df, idCol, textCol), idCol, "simhash", "_len")
      .withColumn("_hb", floor(col("_len") / w))
  }

  /** The probing side of the fuzzy band join: each chunk row in its HOME
    * length bucket (`_lb`), as (id_1, sh_1, _l1, chunk, ckey, _lb). */
  private def fuzzyHomeSide(chunked: DataFrame, idCol: String): DataFrame =
    chunked.select(col(idCol).as("id_1"), col("simhash").as("sh_1"),
      col("_len").as("_l1"), col("chunk"), col("ckey"), col("_hb").as("_lb"))

  /** The build side of the fuzzy band join: each chunk row replicated into
    * its home and both adjacent length buckets, as (id_2, sh_2, _l2,
    * chunk, ckey, _lb) — any pair with |Δlen| ≤ maxDist meets the home
    * side in ≥ 1 bucket, and in exactly one per chunk. */
  private def fuzzyReplicatedSide(chunked: DataFrame, idCol: String): DataFrame =
    chunked.select(col(idCol).as("id_2"), col("simhash").as("sh_2"),
      col("_len").as("_l2"), col("chunk"), col("ckey"),
      explode(array(col("_hb") - 1, col("_hb"), col("_hb") + 1)).as("_lb"))

  /** The fuzzy family's candidate join + levenshtein verify over a given
    * (possibly admission-filtered) chunked frame: length-sliced banding
    * (rSide replicated into adjacent buckets — any |Δlen| ≤ maxDist pair
    * meets in ≥1 bucket), hamming + length prune at the join, texts
    * joined on only for surviving candidates, banded
    * `levenshtein(l, r, maxDist)` with early bailout.
    *
    * `chunkDedup = true` (the UNBOUNDED path): no candidate distinct.
    * Within one chunk a pair meets exactly once (the l-side sits in its
    * home bucket, the r-side's 3 replicas are distinct buckets), and
    * across chunks the FIRST-AGREEING-CHUNK predicate keeps only the
    * meet at the pair's lowest agreeing chunk — a narrow codegen'd
    * filter on the two sketches already in hand. Each surviving pair
    * appears exactly once BY CONSTRUCTION, retiring the candidate-dedup
    * exchange and the ≤4× duplicate rows it absorbed — measured 4.1× on
    * the 1× row (5.7 → 1.4 s; candidate shuffle 836 KB → 1.9 KB); recall
    * is unchanged (every pair still surfaces, just at one chunk). At
    * 100× the full-admission path still spills ~6 GB — the residue lives in
    * the banded JOIN's sort of the low-entropy buckets themselves, not
    * the dedup — which is exactly what [[fuzzyNearDups]]' capped
    * admission exists to bound (3.5 s, zero spill, same probe).
    *
    * `chunkDedup = false` (the CAPPED path): the old distinct stays —
    * there admission may have EXCLUDED a pair's first agreeing chunk
    * while a later chunk admits it, so collapsing to the first chunk
    * would silently shrink the documented any-admitted-chunk recall
    * contract; the distinct's input is already bounded by the budget,
    * which was the point of that path. (A first-ADMITTED-chunk variant —
    * per-doc admitted-chunk bitmask via broadcast lookups, mask-aware
    * predicate — was built and MEASURED in r14: result-identical, but
    * the four broadcast builds cost more fixed overhead than the
    * bounded distinct saves at every SF tried — d9b 1.93→3.62 s, d9e
    * 6.12→7.84 s focused A/B — and at corpus scale the distinct input
    * is budget-bounded by construction, so there is nothing to win
    * there either. Rejected on the numbers.)
    */
  private def fuzzyVerify(df: DataFrame, idCol: String, textCol: String,
                          maxDist: Int, maxHamming: Int,
                          chunked: DataFrame,
                          chunkDedup: Boolean,
                          pricedRows: Long = 0L): DataFrame = {
    val base = fuzzyHomeSide(chunked, idCol)
      .join(fuzzyReplicatedSide(chunked, idCol), Seq("chunk", "ckey", "_lb"))
      .filter(col("id_1") < col("id_2") &&
        bit_count(col("sh_1").bitwiseXOR(col("sh_2"))) <= maxHamming &&
        abs(col("_l1") - col("_l2")) <= maxDist)
    // `pricedRows` is the caller's priced candidate volume (×3 for the
    // unpriced adjacent-slice cross meets), turned into an exchange width
    // by [[kernelWidth]] (≈64k pairs/task): every verify stage downstream
    // of the banded join must run at it. Measured at 1000× (285M
    // candidates): with everything at the session's shuffle.partitions=32,
    // the text-carrying verify sorts held ~9 GB per task and spilled
    // 144 GB; AQE cannot help because it only MERGES post-shuffle
    // partitions below the advisory size, never splits them. Below one
    // task quantum (priced < 2^16) w stays 0 — no explicit spread, AQE
    // owns the layout.
    val VerifyRowsPerTask = 1L << 16
    val w = if (pricedRows >= VerifyRowsPerTask)
      kernelWidth(df.sparkSession, pricedRows, VerifyRowsPerTask)
      else 0
    val cand = if (chunkDedup) {
      val c = base.filter(!earlierChunkAgrees(col("sh_1"), col("sh_2"))).select("id_1", "id_2")
      if (w > 0) spreadKernel(c, pricedRows, VerifyRowsPerTask, col("id_1"))
      else c
    } else {
      // Candidate dedup runs WIDE too. Second measured failure mode of a
      // naive `.distinct()` here (besides the sort width): at sf0.1 the
      // deduped pair list is BYTES-tiny but KERNEL-heavy, and AQE's
      // size-based coalescing put the whole levenshtein verify on ~1
      // partition — 27 core-s of kernel on one thread, 10.3 s wall.
      // Hash-repartitioning the RAW pairs by the pair key satisfies the
      // distinct's required distribution (dedup at kernel width with no
      // map-side hash map in the join stage), and the id_1 repartition
      // then feeds the first text join at the same width.
      val d = spreadKernel(base.select("id_1", "id_2"),
          pricedRows, VerifyRowsPerTask, col("id_1"), col("id_2"))
        .distinct()
      if (w > 0) spreadKernel(d, pricedRows, VerifyRowsPerTask, col("id_1"))
      else d
    }
    val t1 = df.select(col(idCol).as("id_1"), col(textCol).as("_t1"))
    val t2 = df.select(col(idCol).as("id_2"), col(textCol).as("_t2"))
    // the second text join needs id_2 clustering; without the explicit
    // width its ENSURE_REQUIREMENTS exchange runs at shuffle.partitions —
    // the 1000× spill lived exactly in that sort (285M × ~1 KB rows / 32)
    val j1 = cand.join(t1, "id_1")
    val j1w = if (w > 0) spreadKernel(j1, pricedRows, VerifyRowsPerTask,
      col("id_2")) else j1
    j1w.join(t2, "id_2")
      .select(col("id_1"), col("id_2"),
        levenshtein(col("_t1"), col("_t2"), maxDist).cast("long").as("edit_dist"))
      .filter(col("edit_dist") >= 0L)
  }

  /** D9c — cell-size DIAGNOSTIC for the fuzzy banding join (the d4c
    * pattern applied to the fuzzy family): [[pairCostHistogram]] over the
    * (chunk, ckey, lenBucket) cells — one row per cell size with the
    * number of cells (`n_cells`), the candidate evaluations each size
    * stratum costs within its cells and the running total by ascending
    * size, the arithmetic [[fuzzyNearDups]]' gate prices with. One narrow
    * aggregate over 32-byte banded rows; never a join.
    *
    * The priced quantity is the WITHIN-cell quadratic term — the thing
    * that diverges on a low-entropy corpus (clustered sketches ⇒ one
    * huge cell). Adjacent-slice cross terms (a row also meets the two
    * neighboring length buckets of its sketch bucket) are not priced:
    * once every admitted cell is ≤ cap they are bounded by
    * 2·cap·|admitted rows| — linear, not quadratic — so the within-cell
    * sum is the right budget handle.
    */
  def fuzzyCellStats(df: DataFrame, idCol: String, textCol: String,
                     maxDist: Int): DataFrame =
    pairCostHistogram(fuzzyCells(fuzzyChunked(df, idCol, textCol, maxDist)),
      "cell_size", "n_cells")

  /** Over-cap cell frames below this many cells broadcast for the
    * admission anti join (3 small ints/longs per row; the histogram gives
    * the exact count, so the decision is evidence-based). Above it the
    * anti join shuffles — same result, no driver pressure.
    */
  private val BroadcastOverCapCellLimit = 1L << 19

  /** The (chunk, ckey, _hb) → cell_size aggregate, computed ONCE per
    * gated call and persisted (loan convention): the strata collect AND
    * the over-cap blacklist both read it. Before r15 each derived it
    * independently — a duplicated full-corpus aggregate+exchange over the
    * chunked frame (4 rows/doc: 20M rows at 1000×) per capped call.
    */
  private[graft] def fuzzyCells(chunked: DataFrame): DataFrame =
    chunked.groupBy("chunk", "ckey", "_hb").agg(count(lit(1)).as("cell_size"))

  /** The capped-admission body over a prepared chunked frame + its cells
    * aggregate + strata: derive the largest cap inside `budgetPairs`
    * ([[capWithin]]), anti-join over-cap HOME cells off both sides, verify
    * (with the candidate distinct — admission may exclude a pair's first
    * agreeing chunk, see [[fuzzyVerify]]).
    */
  private def fuzzyCapped(df: DataFrame, idCol: String, textCol: String,
                          maxDist: Int, maxHamming: Int, chunked: DataFrame,
                          cells: DataFrame, strata: IndexedSeq[(Long, Long, Long)],
                          budgetPairs: Long): DataFrame = {
    val cap = capWithin(strata, budgetPairs)
    val nOverCap = strata.filter(_._1 > cap).map(_._2).sum
    val overCap = cells.filter(col("cell_size") > cap)
      .select("chunk", "ckey", "_hb")
    val blacklist = if (nOverCap <= BroadcastOverCapCellLimit)
      broadcast(overCap) else overCap
    val admitted = chunked.join(blacklist, Seq("chunk", "ckey", "_hb"), "left_anti")
    // within-cell admitted pairs are PRICED EXACTLY by the strata's
    // cumulative cost at the cap; ×3 covers the unpriced adjacent-slice
    // cross meets (≤ 2·cap·rows, linear). [[kernelWidth]] sizes the verify
    // exchanges from it (≤ ~64k text-carrying rows per task, ≈128 MB of
    // sort state at ~2 KB/pair, capped at 8192) — measured at 1000×: the
    // r15 fixed-32 width put ~1M 2 KB rows in each verify sort and
    // spilled 144 GB.
    fuzzyVerify(df, idCol, textCol, maxDist, maxHamming, admitted,
      chunkDedup = false, pricedRows = 3 * pairCostAt(strata, cap))
  }

  /** D9 — fuzzy near-dup pairs at edit distance ≤ `maxDist`, with the
    * plan chosen from the input (d9e/d9b): one bounded strata collect
    * over the banded cells ([[fuzzyCellStats]]' arithmetic) prices the
    * within-cell quadratic, the budget derives from CORPUS SIZE
    * (`pairsPerDoc × nDocs` — candidate volume stays linear in the
    * corpus, the property every scale-safe entry here maintains), and the
    * gate picks:
    *
    *   - total cost ≤ budget → [[fuzzyNearDupsBanded]]'s full-admission
    *     plan (first-agreeing-chunk dedup, no candidate distinct — the
    *     fastest plan, and admission would not have excluded anything:
    *     result-identical by construction, spec-pinned);
    *   - total cost > budget → CAPPED admission: the cap is the largest
    *     cell size whose cumulative within-cell cost stays inside the
    *     budget (floored at 2), and rows whose HOME cell exceeds it are
    *     excluded from the join on BOTH sides (zero spill 1×→1000× under
    *     a binding budget, per the r12/r13 probes).
    *
    * `nDocs` comes free from the same strata (each doc contributes
    * exactly 4 chunk rows, so Σ cell_size·n_cells / 4 — no extra pass).
    *
    * Recall contract of the capped branch (document with the corpus, as
    * d4d documents its recall trade): only candidate GENERATION is
    * restricted — verification is exact on survivors — so a true pair
    * (edit distance ≤ maxDist) is lost iff EVERY chunk where its
    * sketches agree lands both ids in (or one id in) an over-cap cell.
    * Over-cap cells are precisely the degenerate near-identical
    * clusters; pairs bridging a normal cell in ANY of the 4 chunks
    * survive. The oracle re-derives budget, cap and admission in SQL, so
    * the gate arithmetic itself is hash-gated. The chunked frame and its
    * cells aggregate are [[graft.Caches]] loans.
    */
  def fuzzyNearDups(df: DataFrame, idCol: String, textCol: String,
                    maxDist: Int, maxHamming: Int = 3,
                    pairsPerDoc: Long = 64): DataFrame = {
    require(maxDist >= 0, "fuzzyNearDups: maxDist must be >= 0")
    require(maxHamming <= 3, "4-chunk banding guarantees recall only for maxHamming <= 3")
    require(pairsPerDoc >= 1, "fuzzyNearDups: pairsPerDoc must be >= 1")
    val chunked = graft.Caches.persistLoaned(fuzzyChunked(df, idCol, textCol, maxDist))
    val cells = graft.Caches.persistLoaned(fuzzyCells(chunked))
    val strata = pairCostStrata(cells, "cell_size")
    val nDocs = strata.map(t => t._1 * t._2).sum / 4
    // saturating: a pairsPerDoc meant as "unbounded" must not wrap negative
    val budget = (BigInt(pairsPerDoc) * nDocs).min(Long.MaxValue).toLong
    val total = strata.lastOption.map(_._3).getOrElse(0L)
    if (total <= budget) {
      // the full-admission branch never reads the cells again — settle the
      // loan now instead of at session drain
      graft.Caches.endLoan(cells)
      // same width derivation as the capped branch: `total` IS the
      // priced within-cell candidate volume this branch will verify
      fuzzyVerify(df, idCol, textCol, maxDist, maxHamming, chunked,
        chunkDedup = true, pricedRows = 3 * total)
    } else
      fuzzyCapped(df, idCol, textCol, maxDist, maxHamming, chunked, cells,
        strata, budget)
  }

  /** Embedding-cosine near-duplicate pairs, EXACT threshold join on the
    * block-partitioned all-pairs plan ([[Pairs.blockedPairs]]): an
    * equi-join on block-pair keys — NO broadcast of the corpus, no
    * BroadcastNestedLoopJoin; per-task memory is two blocks of vectors and
    * the n²/2 cosine evaluations (codegen'd) are spread over B(B+1)/2
    * tasks. Exactness matters here because low thresholds (the testdata's
    * 0.35 sits barely above the corpus' 0.2–0.3 background cosine) defeat
    * LSH pruning structurally. For HIGH thresholds (true near-dups,
    * cosine ≳ 0.8) use [[embeddingNearDupsLSH]], which prunes with banded
    * sign sketches before the same exact scoring. Output cosine rounded
    * to 6.
    */
  def embeddingNearDups(df: DataFrame, idCol: String, vecCol: String,
                        threshold: Double, blocks: Int = 0): DataFrame = {
    val vecs = df.select(col(idCol), col(vecCol))
    // blocks <= 0 → size B from the corpus so per-task memory (two blocks
    // of vectors) stays flat as the corpus grows; the count is a cheap
    // id+vec scan (the testdata embeddings are Tables-persisted upstream)
    val b = if (blocks > 0) blocks
            else Pairs.autoBlocks(vecs.count(),
              taskSlots = df.sparkSession.sparkContext.defaultParallelism)
    Pairs.blockedPairs(vecs, idCol, b)
      .withColumn("cosine", round(Vectors.cosine(col(s"s_1.$vecCol"), col(s"s_2.$vecCol")), 6))
      .filter(col("cosine") >= threshold)
      .select("id_1", "id_2", "cosine")
  }

  /** D10b — cell-size DIAGNOSTIC for [[semDedup]] (the d4c/d9c pattern
    * applied to the semantic family): histogram of k-means cell sizes
    * with the within-cell pair cost each size stratum contributes
    * (`n_cells · c(c−1)/2`) and the running total by ascending size —
    * prices the cosine bill BEFORE the cell join runs. The decision it
    * informs is the choice of `k`: SemDeDup's quadratic is Σ_c n_c(n_c−1)/2,
    * so a k too small for the corpus shows up here as one fat stratum
    * dominating `cum_pair_cost` — raise k (cells ≈ target size) and
    * re-price; one aggregate each time, no pair generation. Unlike
    * d4d/d9b there is no admission CAP to derive: dense cells are exactly
    * where the duplicates live, so excluding them would drop the pairs
    * the operator exists to find — the lever is k, not a cutoff.
    */
  def semDedupCellStats(df: DataFrame, idCol: String, vecCol: String,
                        dim: Int, k: Int, iters: Int = 2,
                        seed: String = "kmeans"): DataFrame = {
    // persisted for plan-identity with [[semDedup]]'s cells — the stats
    // row is one aggregate over the assignment d10 already cached; a
    // standalone call pays one fill for one read (scale note: the entry
    // is corpus-wide, see the BENCH_SCALE loan-footprint table)
    pairCostHistogram(
      graft.Caches.persistLoaned(
        Similarity.kmeansAssign(df, idCol, vecCol, dim, k, iters, seed))
        .groupBy("cell").agg(count(lit(1)).as("cell_size")),
      "cell_size", "n_cells")
  }

  /** D10c — incremental SemDeDup ingest, completing the incremental
    * family's fifth mode (exact d8, MinHash d2b, embedding-LSH d5c,
    * fuzzy d9d, semantic here): keep only new-batch vectors with no
    * CORPUS vector at cosine ≥ `threshold` inside the batch vector's
    * k-means cell. The quantizer is trained on the corpus
    * ([[Similarity.kmeansAssign]]) and FROZEN — the batch assigns to the
    * final cells' re-centered centroids ([[Similarity.labelCentroidVectors]])
    * by the same assignment [[Similarity.IvfIndex.append]] uses, faiss
    * add() semantics — so a daily ingest never retrains, and recall has IVF
    * semantics: a duplicate hiding in a NEIGHBORING cell is missed
    * (SemDeDup's own within-cell contract; raise k-probes by unioning
    * cells if the corpus demands it, or rebuild periodically as with the
    * IVF index).
    *
    * Scale shape: centroids are k×dim floats through the driver (the
    * classical distributed-Lloyd boundary); batch assignment is
    * [[Similarity.withAssignedCell]]'s argmax (zero sorts); the probe join
    * is an equi-join on `cell` — batch rows meet ONLY their own cell's members,
    * Σ |batch_c|·|cell_c| cosines, never batch × corpus — and matched ids
    * partial-agg to ≤ |batch| before the distinct exchange. At 100 TB the
    * trained (cells, centroids) pair is the thing to keep materialized
    * between batches, exactly as the IVF index rows do.
    */
  def semDedupIncremental(newVecs: DataFrame, corpus: DataFrame,
                          idCol: String, vecCol: String, dim: Int, k: Int,
                          threshold: Double, iters: Int = 2,
                          seed: String = "kmeans"): DataFrame = {
    // two consumers (the re-centered centroid collect and the probe
    // join's corpus side) — persist so the frozen quantizer's assignment
    // projection evaluates once (loan convention)
    val corpusCells = graft.Caches.persistLoaned(
      Similarity.kmeansAssign(corpus, idCol, vecCol, dim, k, iters, seed))
    val cents = Similarity.labelCentroidVectors(corpusCells, "cell", vecCol, dim)
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toIndexedSeq
    val b = Similarity.withAssignedCell(newVecs.select(col(idCol), col(vecCol)), idCol, vecCol,
        cents, "cell")
      .select(col("cell"), col(idCol).as("id_1"), col(vecCol).as("_bv"))
    val c = corpusCells.select(col("cell"), col(vecCol).as("_cv"))
    dropMatched(newVecs, idCol, b.join(c, "cell")
      .filter(round(Vectors.cosine(col("_bv"), col("_cv")), 6) >= threshold))
  }

  /** D10 — SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    * dedup via k-means cells. Embeddings are clustered into `k` coarse
    * cells ([[Similarity.kmeansAssign]] — deterministic seeding, so the
    * oracle replays the training); cosine pairs at ≥ `threshold` are
    * generated ONLY within a cell; each within-cell duplicate cluster
    * (connected components — cells are disjoint, so components never
    * cross them) keeps its smallest id. Returns the surviving rows.
    *
    * This is the semantic complement to the lexical family: d2/d4 catch
    * shared n-grams, d9 catches edit distance, SemDeDup catches
    * PARAPHRASES — same meaning, disjoint token sets — which is why
    * large-corpus curation runs it after exact/fuzzy dedup.
    *
    * Scale shape: the paper's own design IS the scale argument — the
    * quadratic is bounded per cell (Σ_c n_c(n_c−1)/2 candidates, priced
    * exactly like d9c's cells by one groupBy(cell).count() before the
    * join), and k grows with the corpus to hold cell sizes flat (the
    * paper uses n_c ≈ 10⁴ at corpus scale, k ∝ N). The cell join is an
    * equi-join on `cell` (PlanSpec: no cartesian); vectors travel into it
    * once per member, not per pair. At 100 TB the kmeansAssign centroids
    * are a broadcast (k×dim floats) and assignment is one narrow scan —
    * the same shape [[Similarity.ivfTopK]] already measures at 100×.
    */
  def semDedup(df: DataFrame, idCol: String, vecCol: String, dim: Int,
               k: Int, threshold: Double, iters: Int = 2,
               seed: String = "kmeans"): DataFrame = {
    // The trained assignment feeds BOTH sides of the within-cell pair
    // join — unpersisted, each side re-evaluates the k-centroid argmax
    // projection over the corpus (k cosines × dim per row per side), the
    // d3b double-evaluation pattern (guide §3/§5). Persist it (loan
    // convention; ~one int over the corpus width). The same plan is what
    // sim_ivf_trained and d10b derive from — CacheManager plan-matching
    // shares one entry across the family.
    val cells = graft.Caches.persistLoaned(
      Similarity.kmeansAssign(df, idCol, vecCol, dim, k, iters, seed))
    val l = cells.select(col("cell"), col(idCol).as("id_1"), col(vecCol).as("_v1"))
    val r = cells.select(col("cell"), col(idCol).as("id_2"), col(vecCol).as("_v2"))
    val pairs = l.join(r, "cell")
      .filter(col("id_1") < col("id_2"))
      .filter(round(Vectors.cosine(col("_v1"), col("_v2")), 6) >= threshold)
      .select("id_1", "id_2")
    keepCanonical(df, idCol, pairs)
  }

  /** Incremental EMBEDDING near-dup ingest — completes the incremental
    * family (exact: [[exactIncremental]], MinHash: [[minhashIncremental]])
    * for vector similarity: keep only new-batch vectors with no corpus
    * vector at cosine ≥ `threshold`. The corpus side is sketch-banded once
    * (at 100 TB that band index is the thing to keep materialized between
    * ingest batches — [[EmbeddingIndex]]) and probed ONLY by the new
    * batch's band keys; candidates verify with exact cosine before
    * the anti join, so admitted false candidates cost compute, never
    * correctness. Recall follows the band/bit S-curve exactly as in
    * [[embeddingNearDupsLSH]] — pick parameters for the target threshold.
    *
    * The plan is chosen from the measured cross-admission (d5h/d5i, the
    * [[embeddingNearDupsLSH]] gate in its cross-corpus form): near the
    * cosine background the bands stop pruning and the banded probe
    * OOM'd an 8 GB JVM outright at 100× (measured r13). Both sides'
    * per-(band, bucket) counts — one narrow aggregate each — join on the
    * tiny bucket key space and Σ n_batch·n_corpus prices the probe join's
    * candidate evaluations against |batch|·|corpus|. Bands admitting at most a tenth of that
    * → the banded probe ([[embeddingIncrementalBanded]], sub-linear in
    * the corpus); more → the bounded-broadcast exact scan
    * ([[embeddingIncrementalExact]], flat 17 MB tasks, zero spill: pay
    * compute, never memory). Same decision arithmetic as
    * [[embeddingNearDupsLSH]] (BigInt, no float ties), so the oracle
    * re-derives the choice from the same counts. The exact branch's
    * kept-set can be a strict SUBSET of the banded one's (it catches
    * duplicates the band S-curve misses, so it removes more).
    */
  def embeddingIncremental(newVecs: DataFrame, corpus: DataFrame, idCol: String,
                           vecCol: String, threshold: Double, dim: Int,
                           bands: Int = 16, bitsPerBand: Int = 8,
                           ordinal: Boolean = false): DataFrame = {
    // ONE sketch pass per side (r20, the d2 treatment in cross form): the
    // pricing bucket counts, the side counts, and — when the banded branch
    // is chosen — the probe join all read the two persisted sketch frames;
    // before this each side's sketch pipeline evaluated twice per call.
    // The counts double as the persists' materialization points.
    val skB = graft.Caches.persistLoaned(Similarity.sketchedVecs(
      newVecs, idCol, vecCol, dim, bands, bitsPerBand, ordinal))
    val skC = graft.Caches.persistLoaned(Similarity.sketchedVecs(
      corpus, idCol, vecCol, dim, bands, bitsPerBand, ordinal))
    val allPairs = BigInt(skB.count()) * BigInt(skC.count())
    val nb = Similarity.lshBucketCountsFromSketched(skB).withColumnRenamed("n", "n_b")
    val cb = Similarity.lshBucketCountsFromSketched(skC).withColumnRenamed("n", "n_c")
    val pairCost = nb.join(cb, Seq("band", "bkey"))
      .agg(sum(col("n_b") * col("n_c"))).head.getAs[Any](0) match {
        case null => 0L
        case l: Long => l
      }
    if (BigInt(pairCost) * BigInt(AdmissionDenom) <= allPairs)
      // the sketch loans stay live for the (lazy) probe — Caches.drain settles
      dropMatched(newVecs, idCol,
        bandedCosine(skB, Some(skC), threshold, pricedRows = pairCost))
    else {
      // the exact scan never reads the sketches again — settle both now
      graft.Caches.endLoan(skB)
      graft.Caches.endLoan(skC)
      embeddingIncrementalExact(newVecs, corpus, idCol, vecCol, threshold)
    }
  }

  /** The banded cross-probe: [[embeddingIncremental]]'s under-gate
    * branch with unpersisted sketches, and the reference the d5c row and
    * the specs call directly ([[bandedCosine]]'s cross form). Unpriced,
    * the band exchanges spread at the parallelism floor.
    */
  private[graft] def embeddingIncrementalBanded(newVecs: DataFrame, corpus: DataFrame,
                                         idCol: String, vecCol: String,
                                         threshold: Double, dim: Int,
                                         bands: Int, bitsPerBand: Int,
                                         ordinal: Boolean): DataFrame =
    dropMatched(newVecs, idCol, bandedCosine(
      Similarity.sketchedVecs(newVecs, idCol, vecCol, dim, bands, bitsPerBand, ordinal),
      Some(Similarity.sketchedVecs(corpus, idCol, vecCol, dim, bands, bitsPerBand, ordinal)),
      threshold, pricedRows = 0L))

  /** Exact cross-corpus embedding ingest — [[embeddingIncremental]]'s
    * semantics (keep batch vectors with no corpus vector at cosine ≥
    * `threshold`) computed WITHOUT candidate materialization: the (small)
    * batch side broadcasts and the corpus streams past it once. The plan
    * is a DELIBERATE bounded-broadcast nested-loop join — the shape this
    * repo otherwise pins against — and the bound is the contract: the
    * broadcast is |batch| (id, vector) rows (a daily-ingest batch, MBs),
    * per-task memory is that broadcast plus one corpus partition, and
    * the |batch|·|corpus| codegen'd cosines never materialize, shuffle,
    * or spill — the matched-id set partial-aggregates to ≤ |batch| rows
    * per partition before its (tiny) distinct exchange.
    *
    * This is the branch [[embeddingIncremental]] takes when the band
    * buckets are NOT discriminating (thresholds near the cosine
    * background): there the LSH probe admits ~everything and its
    * candidate-distinct exchange is what dies — measured at 100×
    * (18k-vector batch × 182k corpus, cosine 0.45 under 32×4 ordinal
    * banding): the banded probe OOMs an 8 GB JVM; this path completes
    * with zero spill at flat task memory.
    */
  private[graft] def embeddingIncrementalExact(newVecs: DataFrame, corpus: DataFrame,
                                               idCol: String, vecCol: String,
                                               threshold: Double): DataFrame = {
    val batch = broadcast(newVecs.select(col(idCol).as("id_1"), col(vecCol).as("v_1")))
    dropMatched(newVecs, idCol, corpus.select(col(vecCol).as("v_2"))
      .join(batch, round(Vectors.cosine(col("v_1"), col("v_2")), 6) >= threshold))
  }

  /** D7e — EXACT n-gram overlap decontamination, the published-eval
    * convention (flag a train document sharing ANY word n-gram, n ≈ 13,
    * with the benchmark set) next to [[decontaminationPairs]]'s
    * containment-ratio form: containment asks "how much of the test doc
    * leaks", this asks the stricter binary "does any verbatim n-gram
    * leak", which is the gate eval papers actually publish.
    *
    * Scale shape (the d8b recipe applied to grams instead of
    * fingerprints): the (small) benchmark side reduces to its distinct
    * 8-byte gram keys once; those fold into a bloom filter sized from the
    * observed count at `fpp` (capped at `maxNumBits` — past the cap fpp
    * degrades, correctness never does) and the bloom — a literal, not a
    * join — prunes the TRAIN gram stream at scan speed, so the corpus-
    * wide exchange carries ~fpp×|train grams| + true hits instead of
    * every gram in the corpus. Survivors exact-verify by semi join
    * against the real key set: bloom false positives die there, making
    * the result exact. Output (train_id, n_hit_grams) — the hit count
    * ranks leaks for triage; threshold at ≥ 1 for the published gate.
    *
    * The benchmark gram-key frame (read twice — bloom build + verify join)
    * is a [[graft.Caches]] loan.
    */
  def decontaminationExactNgram(train: DataFrame, bench: DataFrame,
                                idCol: String, textCol: String, n: Int = 13,
                                fpp: Double = 0.01,
                                maxNumBits: Long = 1L << 26): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0, "decontaminationExactNgram: fpp must be in (0,1)")
    // gram keys = chained xxhash64 fold of PER-WORD hashes over each
    // n-word window — each word hashes ONCE and a window costs n cheap
    // long-pair hashes, where hashing materialized n-word gram STRINGS
    // costs n string copies + a string-length hash per window (the fold
    // is also ANSI-safe: no overflow arithmetic). Keys are
    // oracle-invisible (the oracle recomputes over raw gram strings), so
    // distinctness is modulo 64-bit collisions — the repo-wide shingle
    // convention.
    def gramKeys(df: DataFrame): DataFrame = {
      val words = split(lower(trim(col(textCol))), "\\s+")
      df.select(col(idCol), transform(words, w => xxhash64(w)).as("_wh"))
        .select(col(idCol),
          when(size(col("_wh")) - (n - 1) > 0,
            array_distinct(transform(sequence(lit(0), size(col("_wh")) - n),
              i => aggregate(slice(col("_wh"), i + 1, lit(n)), lit(0L),
                (acc, h) => xxhash64(acc, h)))))
            .otherwise(array().cast("array<bigint>")).as("gks"))
    }
    val bg = graft.Caches.persistLoaned(
      ArrayOps.explodeDense(gramKeys(bench), Seq.empty, col("gks"), "gk").distinct())
    val gramCount = math.max(1L, bg.count()) // also materializes the persist
    val mightMatch = bloomMightContain(bg, col("gk"), gramCount, fpp, maxNumBits,
      probe = col("gk"))
    ArrayOps.explodeDense(gramKeys(train), Seq(col(idCol)), col("gks"), "gk")
      .filter(mightMatch)
      .join(bg, Seq("gk"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hit_grams"))
      .select(col(idCol).as("train_id"), col("n_hit_grams"))
  }

  // ------------------------------------------------------------------ //
  // Materialized incremental-ingest indexes.                            //
  //                                                                     //
  // Every incremental operator above reduces the corpus to a probe      //
  // structure — the distinct-fingerprint set (exact), the band index +  //
  // shingle sets (MinHash), the df-capped inverted index (containment), //
  // the sketch-band index + vectors (embedding) — and at 100 TB that    //
  // structure is the thing a daily pipeline KEEPS between batches       //
  // instead of re-deriving it from raw corpus text/vectors each         //
  // morning. Each family below is a [[ShardedIndex]]: it names its      //
  // parts, says which rows a document contributes to each (`rows`, the  //
  // frames the one-shot operators compute internally) and how a batch   //
  // probes them; write/append/compact/read are the shared lifecycle.    //
  // A probe is its family's ONE candidate/verify/anti-join body: the    //
  // exact, MinHash and containment one-shot operators are the probe run //
  // over in-memory parts, so a replay from the loaded parts is          //
  // bit-identical (Verify-gated: d2c_index_replay replays d2b) with the //
  // corpus never re-shingled / re-sketched / even scanned. The          //
  // build parameters (n, banding) are the family's own, so the batch    //
  // side of every probe is shaped exactly like the frozen corpus side.  //
  // ------------------------------------------------------------------ //

  /** The exact-ingest index: the corpus' distinct normalized fingerprints
    * ([[exactIncremental]]'s corpus side), 16 bytes per distinct document,
    * in one part `fingerprint/`. Its probe is
    * [[graft.streaming.StreamOps.ingestDedupStreaming]] against
    * `read(spark, path)("fingerprint")`. Appending probe survivors keeps
    * the distinct invariant (their prints are distinct within the batch and
    * absent from the base by the probe contract), so base ∪ delta equals
    * the index of (corpus ∪ survivors) (driver-gated, d8d_index_update);
    * compaction re-distincts, so the invariant holds even after a batch
    * that was not probe-screened.
    */
  final case class FingerprintIndex(textCol: String)
      extends ShardedIndex(Seq(Part("fingerprint", "fingerprint", _.distinct())), None) {

    def rows(docs: DataFrame): Map[String, DataFrame] = Map("fingerprint" ->
      docs.select(Text.fingerprint(col(textCol)).as("fingerprint")).distinct())
  }

  /** The MinHash-ingest index: `sets/` = one row per corpus doc (id, n_sh,
    * shs — the sorted 8-byte shingle keys the exact-Jaccard verify needs),
    * `bands/` = the banded signature index (id, band, bkey — what batch band
    * keys equi-join against). Both at 8-byte-key scale, never text.
    * Appending the survivors of a probe of THIS index (their ids are new,
    * so no dedup against the base is needed) leaves base ∪ delta EXACTLY
    * the index of (corpus ∪ survivors): day-3 probes bit-match a
    * from-scratch rebuild (driver-gated, d2d_index_update).
    */
  final case class MinhashIndex(idCol: String, textCol: String, n: Int = 3,
                                bands: Int = 32, rowsPerBand: Int = 2)
      extends ShardedIndex(Seq(Part("sets", idCol, identity), Part("bands", idCol, identity)),
        None) {

    def rows(docs: DataFrame): Map[String, DataFrame] =
      fromSets(shingleSets(docs, idCol, textCol, n))

    /** The parts over a prepared shingle-set frame: the sets themselves
      * and their [[bandKeys]]. */
    private[Dedup] def fromSets(sets: DataFrame): Map[String, DataFrame] =
      Map("sets" -> sets, "bands" -> bandKeys(sets, idCol, idCol, bands, rowsPerBand))

    /** The MinHash family's cross-corpus candidate → verify → anti-join
      * body, over saved parts or in-memory ones ([[minhashIncremental]]):
      * only the BATCH is shingled; the corpus side of candidates comes
      * from `bands` and of verification from `sets` — the corpus text is
      * never touched. A replay of the saved index bit-matches the one-shot
      * form on the same corpus (Verify-gated, d2c_index_replay). The BATCH
      * shingle-set frame is a [[graft.Caches]] loan.
      */
    def probe(newDocs: DataFrame, index: Map[String, DataFrame],
              threshold: Double): DataFrame = {
      val bsets = graft.Caches.persistLoaned(shingleSets(newDocs, idCol, textCol, n))
      val candidates = bandKeys(bsets, idCol, "id_1", bands, rowsPerBand)
        .join(index("bands").select(col(idCol).as("id_2"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .select("id_1", "id_2").distinct()
      dropMatched(newDocs, idCol,
        verifyJaccard(candidates, bsets, index("sets"), idCol, threshold))
    }

    /** ALL near-dup pairs of the indexed corpus, from the index alone — the
      * self-join form of [[probe]]: candidates are the band index
      * equi-joined against itself, verification runs on `sets`, and the
      * corpus TEXT is never touched (no re-shingling, no re-signing). This
      * is the production input to corpus-wide clustering jobs —
      * leakage-safe splits, canonical-keep — which otherwise ride a full
      * exact-pairs pipeline over raw text every run (s5j vs s5j2): at
      * 100 TB the index is a ~1% reduction of the corpus and the only
      * thing this ever scans. Recall is the banding S-curve, exactly as
      * [[minhashNearDups]] (bit-identical to it on the same corpus and
      * parameters — spec-gated); no false positives (exact verify).
      */
    def nearDupPairs(index: Map[String, DataFrame], threshold: Double): DataFrame =
      verifyJaccard(
        bandSelfJoin(as => index("bands").select(col(idCol).as(as), col("band"), col("bkey")))
          .distinct(),
        index("sets"), index("sets"), idCol, threshold)
  }

  /** The decontamination index over a TRAIN corpus: `sets/` = its shingle
    * sets (id, n_sh, shs — what exact containment verifies against),
    * `inv/` = the df-capped inverted index (sk, train_id) restricted to
    * shingles with train-document-frequency ≤ `maxDf`, `df/` = the full
    * vocabulary df table (sk, df) whose deltas sum per shingle. The df
    * ceiling is BAKED INTO the saved index — exactly what a real pipeline
    * freezes next to the training corpus so every benchmark release can be
    * screened without re-shingling 100 TB of train text.
    *
    * [[append]] is not a plain delta append: new documents raise shingle
    * document frequencies, and a shingle a batch pushes past `maxDf` must
    * lose its existing `inv/` entries, not just skip its new ones. They are
    * tombstoned: `tomb/` holds such shingle keys, [[read]] anti-joins them
    * out of `inv/`, and [[compact]] applies them into `inv/`, merges `df/`
    * to one row per shingle and drops `tomb/`, so a compacted probe plan
    * carries no anti join (PlanSpec-pinned). The effective index after any
    * sequence of appends and compactions is IDENTICAL to a from-scratch
    * build over the whole train corpus — d7c_decon_update and
    * d7d_decon_compact gate that bit-for-bit against d7's own oracle.
    */
  final case class ContainmentIndex(idCol: String, textCol: String, n: Int, maxDf: Int)
      extends ShardedIndex(
        Seq(Part("sets", idCol, identity), Part("inv", "train_id", identity),
          Part("df", "sk", _.groupBy("sk").agg(sum("df").as("df")))),
        Some(ShardedIndex.Tombstones("inv", "sk"))) {

    def rows(train: DataFrame): Map[String, DataFrame] =
      fromSets(shingleSets(train, idCol, textCol, n))

    /** The parts over a prepared train shingle-set frame: the sets, their
      * df table and the df-capped inverted index. */
    private[Dedup] def fromSets(tsets: DataFrame): Map[String, DataFrame] = {
      val ti = ArrayOps.explodeDense(tsets, Seq(col(idCol).as("train_id")), col("shs"), "sk")
      val dfTab = ti.groupBy("sk").agg(count(lit(1)).as("df"))
      Map("sets" -> tsets, "df" -> dfTab,
        "inv" -> ti.join(dfTab.filter(col("df") <= maxDf).select("sk"), "sk"))
    }

    /** Fold a batch of NEW train documents into the saved index, all
      * O(batch)-sized writes against vocabulary-scale reads: the batch is
      * shingled once; its (sk, df) deltas append to `df/`; its
      * (train_id, sk) pairs whose CUMULATIVE df stays ≤ maxDf append to
      * `inv/`; shingles it pushed PAST the cap (old ≤ maxDf < new, old ≥ 1)
      * append to `tomb/`; its sets append to `sets/`. df only grows, so a
      * tombstoned shingle is never resurrected and never re-tombstoned.
      */
    override def append(newTrain: DataFrame, path: String, shards: Int): Unit = {
      val bsets = graft.Caches.persistLoaned(shingleSets(newTrain, idCol, textCol, n))
      bsets.count()
      val bi = ArrayOps.explodeDense(bsets, Seq(col(idCol).as("train_id")), col("shs"), "sk")
      val bdf = bi.groupBy("sk").agg(count(lit(1)).as("df"))
      val oldDf = newTrain.sparkSession.read.parquet(s"$path/df")
        .groupBy("sk").agg(sum("df").as("_odf"))
      val merged = graft.Caches.persistLoaned(bdf.join(oldDf, Seq("sk"), "left")
        .withColumn("_odf", coalesce(col("_odf"), lit(0L)))
        .withColumn("_ndf", col("_odf") + col("df")))
      merged.count()
      // `put` writes df/ (declared last) after tomb/ and inv/: appending to
      // df/ re-caches `merged`, which read it
      put(Map("sets" -> bsets, "df" -> bdf,
        "inv" -> bi.join(merged.filter(col("_ndf") <= maxDf).select("sk"), "sk"),
        ShardedIndex.Tomb -> merged
          .filter(col("_odf") >= 1 && col("_odf") <= maxDf && col("_ndf") > maxDf)
          .select("sk")),
        path, shards, graft.sources.ParquetSink.appendSharded)
      graft.Caches.endLoan(merged)
      graft.Caches.endLoan(bsets)
    }

    /** The containment family's inverted-index candidate → exact verify
      * body, over saved parts or in-memory ones ([[decontaminationPairs]]):
      * only the TEST (benchmark) side is shingled; train candidates come
      * from `inv`, exact containment verifies against `sets` — the train
      * corpus is never re-shingled or scanned. A replay of the saved index
      * is identical to the one-shot form built with the same parameters
      * (Verify-gated, d7b_decon_replay). The TEST shingle-set frame is a
      * [[graft.Caches]] loan.
      */
    def probe(test: DataFrame, index: Map[String, DataFrame],
              threshold: Double): DataFrame = {
      val xsets = graft.Caches.persistLoaned(shingleSets(test, idCol, textCol, n))
      val xi = ArrayOps.explodeDense(xsets, Seq(col(idCol).as("test_id")), col("shs"), "sk")
      val candidates = xi.join(index("inv").select("train_id", "sk"), "sk")
        .select("test_id", "train_id").distinct()
      val t1 = index("sets").select(col(idCol).as("train_id"), col("shs").as("shs_t"))
      val x1 = xsets.select(col(idCol).as("test_id"), col("n_sh").as("n_test"),
        col("shs").as("shs_x"))
      candidates.join(x1, "test_id").join(t1, "train_id")
        .withColumn("containment",
          round(ArrayOps.sortedIntersectSize(col("shs_x"), col("shs_t")).cast("double") /
            col("n_test").cast("double"), 6))
        .filter(col("containment") >= threshold)
        .select("test_id", "train_id", "containment")
    }
  }

  /** The embedding-ingest index: `vecs/` = (id, vector) for exact cosine
    * verification, `bands/` = the sketch-band index (id, band, bkey).
    * Appending the survivors of a probe of THIS index keeps base ∪ delta
    * equal to a from-scratch build (DedupSpec pins the update chain).
    */
  final case class EmbeddingIndex(idCol: String, vecCol: String, dim: Int,
                                  bands: Int = 16, bitsPerBand: Int = 8,
                                  ordinal: Boolean = false)
      extends ShardedIndex(Seq(Part("vecs", idCol, identity), Part("bands", idCol, identity)),
        None) {

    def rows(docs: DataFrame): Map[String, DataFrame] = Map(
      "vecs" -> docs.select(col(idCol), col(vecCol)),
      "bands" -> Similarity.bandIndexRows(docs, idCol, vecCol, dim, bands, bitsPerBand,
        ordinal))

    /** [[embeddingIncremental]] probing the index: only the BATCH is
      * sketched; corpus candidates come from `bands/`, verification
      * vectors from `vecs/`.
      */
    def probe(newVecs: DataFrame, index: Map[String, DataFrame],
              threshold: Double): DataFrame = {
      val candidates = Similarity
        .bandIndexRows(newVecs, idCol, vecCol, dim, bands, bitsPerBand, ordinal)
        .select(col(idCol).as("id_1"), col("band"), col("bkey"))
        .join(index("bands").select(col(idCol).as("id_2"), col("band"), col("bkey")),
          Seq("band", "bkey"))
        .select("id_1", "id_2").distinct()
      val v1 = newVecs.select(col(idCol).as("id_1"), col(vecCol).as("v_1"))
      val v2 = index("vecs").select(col(idCol).as("id_2"), col(vecCol).as("v_2"))
      dropMatched(newVecs, idCol, candidates.join(v1, "id_1").join(v2, "id_2")
        .filter(round(Vectors.cosine(col("v_1"), col("v_2")), 6) >= threshold))
    }
  }
  /** D5b — embedding near-dup pairs at cosine ≥ `threshold` for HIGH
    * thresholds: banded sketch LSH candidates (a pair is a candidate iff
    * some band's sketch matches exactly) + exact cosine verification.
    * Sub-quadratic candidate generation; recall follows the sign-LSH
    * S-curve 1-(1-p^r)^L with p = 1 - acos(cos)/π — pick bands/bits for
    * the target threshold (e.g. 16×8 gives recall ≈ 0.98 at cosine 0.9,
    * and essentially 0 admission of the ~0.2-background pairs).
    *
    * The plan is chosen from the measured band-bucket structure (d5f/d5g,
    * the d4c→d4d pattern closing the d5e diagnostic loop): one narrow
    * aggregate ([[Similarity.lshBandStats]]' arithmetic, never a join)
    * prices the candidate evaluations Σ b(b−1)/2 (summed over bands: an
    * upper bound that counts a cross-band duplicate once per band)
    * against all-pairs n(n−1)/2. If the bands admit more than a tenth of
    * all pairs they are NOT discriminating at this parameterization — LSH
    * there is quadratic-with-extra-steps plus a 28 GB candidate spill
    * (measured at 10×, cosine 0.45 under 32×4 banding) — so the operator
    * takes [[embeddingNearDups]]'s blocked-exact plan (full recall, flat
    * per-task memory, zero spill at the same probe). Otherwise the banded
    * [[embeddingLshBanded]] plan runs (sub-quadratic candidates, the
    * S-curve recall), so its result can be a strict SUBSET of the exact
    * branch's.
    *
    * The decision is integer arithmetic (`pairCost · 10 ≤ allPairs`,
    * BigInt — no float ties), so an oracle can re-derive the same choice
    * from the same counts.
    */
  def embeddingNearDupsLSH(df: DataFrame, idCol: String, vecCol: String,
                           threshold: Double, dim: Int,
                           bands: Int = 16, bitsPerBand: Int = 8,
                           ordinal: Boolean = false): DataFrame = {
    // ONE sketch pass for the whole call (r20, the d2 signature-sharing
    // treatment): the gate's pricing aggregate, the corpus count, and —
    // when the banded branch is chosen — BOTH band-join sides read the
    // persisted sketch frame. Before this the sketch pipeline (bands ×
    // bitsPerBand dim-length folds per vector) evaluated three times per
    // call; event-log attribution at 100× put each evaluation at
    // ~800–1,350 core-s — essentially the entire d5g wall. The count()
    // doubles as the persist's materialization point.
    val sk = graft.Caches.persistLoaned(
      Similarity.sketchedVecs(df, idCol, vecCol, dim, bands, bitsPerBand, ordinal))
    // ONE pricing aggregate yields BOTH gate inputs: Σ b(b−1)/2 over all
    // (band, bucket) cells = the admitted candidate volume, and Σ b = n ×
    // bands (every vector lands in exactly one bucket per band), so the
    // corpus count needs no separate job. The aggregate is also the
    // persist's materialization point. Same arithmetic as before — the
    // oracle re-derivation is unchanged.
    val row = Similarity.bandRowsFromSketched(sk, "id")
      .groupBy("band", "bkey").agg(count(lit(1)).as("_b"))
      .agg(sum(expr("_b * (_b - 1) DIV 2")).as("_pc"), sum("_b").as("_rows"))
      .head()
    val pairCost = if (row.isNullAt(0)) 0L else row.getLong(0)
    val n = if (row.isNullAt(1)) 0L else row.getLong(1) / bands
    val allPairs = BigInt(n) * BigInt(n - 1) / 2
    if (BigInt(pairCost) * BigInt(AdmissionDenom) <= allPairs)
      // the banded branch rides the gate's own pricing: pairCost IS the
      // admitted candidate volume, so the verify exchanges run at the
      // kernel width it implies instead of the session default. The sketch
      // loan stays live for the (lazy) result — Caches.drain settles it.
      bandedCosine(sk, None, threshold, pricedRows = pairCost)
    else {
      // the exact branch never reads the sketch again — settle now
      graft.Caches.endLoan(sk)
      embeddingNearDups(df, idCol, vecCol, threshold)
    }
  }

  /** The LSH gates' admission bound: the banded plan runs only when its
    * priced candidate evaluations are at most 1/AdmissionDenom of the
    * exact plan's (all-pairs for [[embeddingNearDupsLSH]], batch×corpus
    * for [[embeddingIncremental]]).
    */
  private val AdmissionDenom = 10L

  /** The banded self-join LSH plan: [[embeddingNearDupsLSH]]'s under-gate
    * branch, and the reference the d5b row and the specs call directly
    * ([[bandedCosine]]'s self form). Unpriced, the band exchanges spread
    * at the parallelism floor.
    */
  private[graft] def embeddingLshBanded(df: DataFrame, idCol: String, vecCol: String,
                                 threshold: Double, dim: Int, bands: Int,
                                 bitsPerBand: Int, ordinal: Boolean): DataFrame =
    // the self-join reads the sketch once per side — persist it so the
    // bands × bits dim-length sketch folds run once per vector, not twice
    // (loan convention: lazy result, Caches.drain settles)
    bandedCosine(
      graft.Caches.persistLoaned(Similarity.sketchedVecs(
        df, idCol, vecCol, dim, bands, bitsPerBand, ordinal)),
      None, threshold, pricedRows = 0L)

  /** The embedding family's one VERIFY-IN-THE-BAND-JOIN body over prepared
    * sketch frames: vectors ride the band rows (`bands`× the corpus,
    * linear), the cosine evaluates inside the join stage, and only
    * SURVIVORS reach a dedup. The r16 sweep's find forced this shape: at
    * 100× the LSH gate correctly ADMITS ~1.2e9 candidates (sub-quadratic
    * — the admission contract holds), but distinct-first then shipped a
    * vector per candidate — the second id join's exchange alone priced
    * ~400 GB and exhausted the probe box's disk, and no exchange WIDTH
    * fixes a per-candidate payload. Kernel work matches the gate's bound
    * exactly (a pair costs one cosine per colliding band — Σ b(b−1)/2 is
    * precisely that count), and the band exchanges spread at
    * [[kernelWidth]] of `pricedRows` (the gate's pricing; 0 → the
    * parallelism floor) so per-task in-join work stays at the quantum.
    *
    * Self form (`corpus = None`): `sk` joins itself; `id_1 < id_2` filters
    * ahead of the cosine, so the kernel runs once per unordered pair and
    * band, and the result is the distinct (id_1, id_2, cosine) pairs.
    * Cross form (`corpus = Some(skC)`): the batch sketch `sk` probes the
    * corpus sketch, and the result is the matched batch rows (`id_1`)
    * for [[dropMatched]].
    */
  private def bandedCosine(sk: DataFrame, corpus: Option[DataFrame], threshold: Double,
                           pricedRows: Long): DataFrame = {
    def side(sketched: DataFrame, id: String, vec: String) =
      spreadKernel(Similarity.bandRowsWithVecFromSketched(sketched, id, vec),
        pricedRows, 1L << 16, col("band"), col("bkey"))
    val met = side(sk, "id_1", "v_1")
      .join(side(corpus.getOrElse(sk), "id_2", "v_2"), Seq("band", "bkey"))
    val cosine = round(Vectors.cosine(col("v_1"), col("v_2")), 6)
    if (corpus.isEmpty)
      met.filter(col("id_1") < col("id_2"))
        .withColumn("cosine", cosine)
        .filter(col("cosine") >= threshold)
        .select("id_1", "id_2", "cosine")
        .distinct()
    else met.filter(cosine >= threshold)
  }
}
