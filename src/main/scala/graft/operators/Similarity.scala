package graft.operators

import graft.functions.Vectors
import graft.sources.{ParquetSink, ShardedIndex}
import graft.sources.ShardedIndex.Part
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate/exact nearest-neighbor search over an embedding column.
  *
  * Two paths, per the standard large-scale recipe:
  *   - [[bruteForceTopK]]: exact. Queries are broadcast (Q is small);
  *     the corpus is scanned ONCE, never shuffled — the only exchange
  *     carries the Q×N scored pairs after a map-side cut to top-k per
  *     query.
  *   - [[lshTopK]]: sign-random-projection LSH. Corpus is bucketed by an
  *     H-bit hyperplane-sign sketch; a query probes its own bucket plus all
  *     buckets at Hamming distance 1 (H+1 probes), then exact-scores only
  *     the candidates. Sub-linear scored pairs at the cost of recall < 1 —
  *     the 100 TB path.
  */
object Similarity {

  /** Rank a (query_id, sn: struct<score,id>) frame to the top-k per query:
    * `row_number()` over the query's pairs ordered by score desc, id asc,
    * cut at `rank <= k`. Spark plans the cut as a `WindowGroupLimit`, and
    * a Partial one runs map-side below the exchange (PlanSpec-pinned), so
    * the exchange carries at most k rows per query per partition, never
    * every scored pair. Null-scored pairs (null embeddings) are dropped.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sn.score").desc, col("sn.id").asc)
    scored.filter(col("sn.score").isNotNull && col("sn.id").isNotNull)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("sn.id").as("neighbor_id"),
        col("sn.score").as("cosine"), col("rank"))
  }

  /** Exact cosine top-k. Ties broken by ascending neighbor id on the
    * 6-decimal-rounded score (fully deterministic output). Queries are
    * broadcast; the corpus is scanned once and never shuffled — only
    * each partition's k best rows per query cross the exchange.
    */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"),
        struct(round(Vectors.cosine(col("q_vec"), col("c_vec")), 6).as("score"),
          col("neighbor_id").as("id")).as("sn"))
    rankTopK(scored, k)
  }

  /** H-bit sign sketch under deterministic pseudo-random hyperplanes
    * (seeded Gaussian — no materialized random matrix to ship, identical
    * across executors and across retries).
    */
  def signSketch(vec: org.apache.spark.sql.Column, dim: Int, bits: Int,
                 seed: Long = 42L): org.apache.spark.sql.Column = {
    val planes = {
      val rnd = new scala.util.Random(seed)
      Array.fill(bits, dim)(rnd.nextGaussian().toFloat)
    }
    (0 until bits).map { h =>
      val proj = Vectors.dot(vec, lit(planes(h)))
      when(proj > 0, lit(1L << h)).otherwise(0L)
    }.reduce(_ + _)
  }

  /** md5-derived coordinate index pairs for [[ordinalSketch]] — reproducible
    * in any engine or language (no JVM RNG): a_h / b_h come from the leading
    * 8 bytes of md5("<seed>:<h>:a" / ":b"), b rejection-resampled ("b1",
    * "b2", ...) until distinct from a.
    */
  def ordinalIndexPairs(dim: Int, bits: Int, seed: Long): IndexedSeq[(Int, Int)] = {
    require(dim >= 2, "ordinalSketch needs at least 2 coordinates")
    val md = java.security.MessageDigest.getInstance("MD5")
    def idx(h: Int, tag: String): Int = {
      val d = md.digest(s"$seed:$h:$tag".getBytes("UTF-8"))
      ((BigInt(1, d.take(8)).toLong & Long.MaxValue) % dim).toInt
    }
    (0 until bits).map { h =>
      val a = idx(h, "a")
      var b = idx(h, "b")
      var k = 0
      while (b == a) { k += 1; b = idx(h, "b" + k) }
      (a, b)
    }
  }

  /** Ordinal (winner-take-all-style) H-bit sketch: bit h = 1 iff
    * vec[a_h] > vec[b_h] for md5-derived index pairs (a_h, b_h) — rank-
    * correlation LSH in the WTA-hashing family (Yagnik et al., ICCV 2011).
    * For jointly-Gaussian coordinates the bit-collision probability for a
    * pair with correlation ρ is 1 - acos(ρ)/π — the SAME S-curve as the
    * Gaussian sign sketch (the coordinate-difference vector plays the role
    * of the random hyperplane) — so banding parameters transfer unchanged.
    *
    * The point of this variant: ZERO floating-point arithmetic — only
    * comparisons of stored values — so the sketch is bit-identical in any
    * engine reading the same floats. A projection sketch's sign can flip
    * between engines when the dot product lands near 0 (summation-order
    * ulps), which is why [[signSketch]] paths are not oracle-checkable but
    * ordinal ones are.
    */
  def ordinalSketch(vec: org.apache.spark.sql.Column, dim: Int, bits: Int,
                    seed: Long = 42L): org.apache.spark.sql.Column =
    ordinalIndexPairs(dim, bits, seed).zipWithIndex.map { case ((a, b), h) =>
      when(element_at(vec, a + 1) > element_at(vec, b + 1), lit(1L << h)).otherwise(0L)
    }.reduce(_ + _)

  /** D5e — band-bucket DIAGNOSTIC for the LSH candidate join (the
    * j6/d4c pattern: measure before you choose a physical plan): per
    * band, the bucket count, the largest bucket, and the exact candidate
    * evaluations the band contributes (Σ b·(b−1)/2 over its buckets).
    * Σ pair_cost across bands UPPER-bounds the LSH join's work; compare
    * it against n·(n−1)/2 — when the ratio approaches 1 the sketches are
    * NOT discriminating at this threshold/parameterization (measured on
    * the fixture at cosine 0.45: 85% of all pairs collide — LSH is
    * quadratic-with-extra-steps there, and [[graft.operators.Dedup.embeddingNearDups]]'s
    * blocked-exact plan is the right tool; at cosine ≳ 0.8 the same
    * bands prune properly). One map-side-combined count over the banded
    * sketch rows — the diagnostic costs one narrow aggregate, never a
    * join.
    */
  def lshBandStats(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                   bands: Int = 16, bitsPerBand: Int = 8,
                   ordinal: Boolean = false): DataFrame =
    lshBandStatsFromSketched(
      sketchedVecs(df, idCol, vecCol, dim, bands, bitsPerBand, ordinal))

  /** Banded sketch rows under the ORIGINAL id column name — the
    * materialized-index form ([[graft.operators.Dedup.EmbeddingIndex]]
    * shards this frame to parquet between ingest batches). Same single
    * sketch-frame definition as the candidate joins ([[sketchedVecs]]), so
    * a saved index and a live probe can never drift on the sketch scheme.
    */
  def bandIndexRows(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                    bands: Int, bitsPerBand: Int, ordinal: Boolean): DataFrame =
    bandRowsFromSketched(
      sketchedVecs(df, idCol, vecCol, dim, bands, bitsPerBand, ordinal), idCol)

  /** The SKETCHED frame — `(_sid, _svec, _bds)` with the band-struct array
    * computed exactly once per vector — that every banded consumer below
    * derives from. This is the d2 signature-sharing treatment (r19) applied
    * to the embedding family: the sketch itself (`bands × bitsPerBand`
    * dim-length dot products / comparisons per vector) is the dominant map
    * cost of the d5 rows — stage-level event-log attribution at 100×
    * (r20) put each EVALUATION of this pipeline at ~800–1,350 core-s, and
    * the self-join paths evaluated it once per join side plus once for the
    * admission gate's pricing aggregate. Callers that consume the sketch
    * more than once persist this frame (loan convention) so the band join,
    * the verify vectors, and the gate's bucket counts all read one cached
    * copy; single-consumer paths use it unpersisted, where Catalyst
    * collapses it into the same plan as before.
    */
  private[graft] def sketchedVecs(df: DataFrame, idCol: String, vecCol: String,
                                  dim: Int, bands: Int, bitsPerBand: Int,
                                  ordinal: Boolean): DataFrame =
    df.select(col(idCol).as("_sid"), col(vecCol).as("_svec"),
      bandStructs(vecCol, dim, bands, bitsPerBand, ordinal).as("_bds"))

  /** Banded rows `(as, band, bkey)` derived from a [[sketchedVecs]] frame —
    * a cheap struct-array explode, no re-sketching.
    */
  private[graft] def bandRowsFromSketched(sk: DataFrame, as: String): DataFrame =
    graft.functions.ArrayOps.explodeDense(sk, Seq(col("_sid").as(as)),
      col("_bds"), "bd")
      .select(col(as), col("bd.band"), col("bd.bkey"))

  /** [[bandRowsFromSketched]] CARRYING the vector itself (`vecAs`) — the
    * verify-in-join input of [[graft.operators.Dedup]]'s banded embedding
    * body: vectors then shuffle once per BAND ROW (`bands`× the corpus —
    * linear), never once per candidate, and the cosine evaluates inside
    * the band-join stage so no candidate-sized exchange ever carries a
    * payload.
    */
  private[graft] def bandRowsWithVecFromSketched(sk: DataFrame, as: String,
                                                 vecAs: String): DataFrame =
    graft.functions.ArrayOps.explodeDense(sk,
      Seq(col("_sid").as(as), col("_svec").as(vecAs)), col("_bds"), "bd")
      .select(col(as), col(vecAs), col("bd.band"), col("bd.bkey"))

  /** Per-(band, bucket) sketch-row counts over a prepared [[sketchedVecs]]
    * frame — the cross-corpus pricing input: the incremental-ingest gate
    * joins two of these frames on the tiny bucket key space (≤
    * bands·2^bits rows per side) and sums n_batch·n_corpus to price the
    * probe join before running it.
    */
  private[graft] def lshBucketCountsFromSketched(sk: DataFrame): DataFrame =
    bandRowsFromSketched(sk, "id")
      .groupBy("band", "bkey").agg(count(lit(1)).as("n"))

  /** [[lshBandStats]] over a prepared [[sketchedVecs]] frame — the
    * self-join gate's pricing input without a second sketch pass.
    */
  private[graft] def lshBandStatsFromSketched(sk: DataFrame): DataFrame =
    bandRowsFromSketched(sk, "id")
      .groupBy("band", "bkey").agg(count(lit(1)).as("_b"))
      .groupBy("band").agg(
        count(lit(1)).as("n_buckets"),
        max("_b").as("max_bucket"),
        expr("sum(_b * (_b - 1) DIV 2)").as("pair_cost"))

  /** The ONE band-struct array — seed base, struct layout, sketch choice —
    * behind every banded row form, through [[sketchedVecs]]: extracting it
    * is what makes "the forms can never drift" structurally true rather
    * than a doc claim (two parallel sketch definitions could silently
    * diverge on a seed or field order and break the gated verify-in-join
    * branches' recall relative to the reference plan).
    */
  private def bandStructs(vecCol: String, dim: Int, bands: Int,
                          bitsPerBand: Int, ordinal: Boolean): Column = {
    def sketch(b: Int) =
      if (ordinal) ordinalSketch(col(vecCol), dim, bitsPerBand, seed = 1000L + b)
      else signSketch(col(vecCol), dim, bitsPerBand, seed = 1000L + b)
    array((0 until bands).map { b =>
      struct(lit(b).as("band"), sketch(b).as("bkey"))
    }: _*)
  }

  /** Per-label embedding centroids in long format: (label, n_vecs,
    * dim_idx, centroid_val). One aggregation with `dim` per-coordinate
    * `avg(element_at(vec, i))` columns — partial-aggregated map-side, so
    * the exchange carries #labels × dim doubles, never vectors (the
    * posexplode to long format runs AFTER the aggregate, on #labels rows).
    * The explode-first formulation (n×dim rows through the shuffle) is the
    * anti-pattern this avoids.
    *
    * Rounding note: `round(avg(double), roundTo)` follows the repo's avg
    * convention (a17/x1/e1 do the same), not the decimal-sum money
    * pattern — that pattern exists because DISCRETE cent values land
    * exactly on round boundaries; continuous embedding means sit within
    * ~1e-15 of their true value and a 4dp boundary hit needs a ~1e-11
    * coincidence. Verified stable across 32- and 16-core runs.
    */
  def labelCentroids(df: DataFrame, labelCol: String, vecCol: String,
                     dim: Int, roundTo: Int = 4): DataFrame = {
    // `+ 0.0` normalizes IEEE negative zero: a small negative mean rounds
    // to -0.0, which engines print/sort differently than 0.0 (found at
    // sf0.1: DuckDB kept the sign and the differential gate's string-sorted
    // row order diverged). -0.0 + 0.0 = +0.0 in IEEE 754, null-safe.
    val cent = df.groupBy(labelCol)
      .agg(count(lit(1)).as("n_vecs"),
        array((0 until dim).map(i =>
          round(avg(element_at(col(vecCol), i + 1)), roundTo) + lit(0.0)): _*).as("_centroid"))
    cent.select(col(labelCol), col("n_vecs"), posexplode(col("_centroid")))
      .select(col(labelCol), col("n_vecs"),
        col("pos").cast("long").as("dim_idx"), col("col").as("centroid_val"))
  }

  /** V3 — nearest-centroid ASSIGNMENT: label every vector with its closest
    * centroid by cosine — the application step of a centroid classifier
    * (domain labeling, topic routing) once [[labelCentroidVectors]] has
    * built the model. Output: (id, nearest, cosine).
    *
    * Scale shape: the centroid table is label-cardinality-sized →
    * broadcast; scoring is a narrow per-row loop over k centroids (the
    * cross join never shuffles the corpus) and the per-row argmax is a
    * `max(struct(cosine, label))` partial aggregate — one exchange of
    * (id, best-so-far) pairs, never the vectors. Ties at the rounded
    * cosine resolve to the LARGEST label (struct comparison), mirrored by
    * the oracle's `label DESC` rank.
    */
  def assignNearestCentroid(df: DataFrame, idCol: String, vecCol: String,
                            centroids: DataFrame, labelCol: String = "label",
                            centroidCol: String = "centroid"): DataFrame = {
    val cents = centroids.select(col(labelCol).as("_lab"), col(centroidCol).as("_cent"))
    df.select(col(idCol), col(vecCol))
      .crossJoin(broadcast(cents))
      .select(col(idCol),
        struct(round(Vectors.cosine(col(vecCol), col("_cent")), 6).as("cos"),
          col("_lab").as("label")).as("_sc"))
      .groupBy(idCol)
      .agg(max(col("_sc")).as("_m"))
      .select(col(idCol), col("_m.label").as("nearest"),
        (col("_m.cos") + lit(0.0)).as("cosine"))
  }

  /** Per-cell centroid VECTORS (array<float>) for the IVF coarse quantizer:
    * per-coordinate means rounded to `roundTo` decimals, -0.0-normalized,
    * then float-quantized — three steps that make the centroid bits
    * identical in any engine (see [[labelCentroids]] for why plain double
    * avgs are not), so centroid-distance ranking is oracle-reproducible.
    */
  def labelCentroidVectors(df: DataFrame, labelCol: String, vecCol: String,
                           dim: Int, roundTo: Int = 4): DataFrame =
    df.groupBy(labelCol).agg(array((0 until dim).map(i =>
      (round(avg(element_at(col(vecCol), i + 1)), roundTo) + lit(0.0)).cast("float")): _*)
      .as("centroid"))

  /** V2 — L2-normalize an embedding column to unit length (`outCol` =
    * v/‖v‖₂ as `array<double>`), the preprocessing step that makes dot
    * product ≡ cosine so downstream ANN can use the cheaper kernel.
    * Zero-norm and NULL vectors yield NULL (no NaN rows poisoning top-k
    * ranks downstream). Narrow, two projections per row, no shuffle; the
    * norm lives in its own projection so the division lambda references an
    * ATTRIBUTE — the HOF-recompute pitfall (see [[quantizeInt8]]).
    */
  def l2Normalize(df: DataFrame, vecCol: String, outCol: String = "unit"): DataFrame =
    df.withColumn("_nrm",
        sqrt(aggregate(col(vecCol), lit(0.0), (acc, x) => acc + x.cast("double") * x.cast("double"))))
      .withColumn(outCol, when(col("_nrm") > 0.0,
        transform(col(vecCol), x => x.cast("double") / col("_nrm"))))
      .drop("_nrm")

  /** Symmetric per-vector int8 quantization to a PACKED BINARY column
    * (q[i] = round(v[i] · 127 / max|v|), one signed byte per element via
    * the codegen'd [[graft.functions.PackInt8]]): 4× smaller than
    * `array<float>` at rest, in cache, and across every shuffle — the
    * memory story that makes a 100 TB ANN corpus fit a cluster. A zero
    * vector quantizes to all zeros (no divide-by-zero).
    *
    * Engine-portable by construction: max|v| is a float comparison of
    * stored values, each q[i] is one multiply + one divide + a half-up
    * round on identical operands — so the quantized codes, and any integer
    * arithmetic over them, are bit-identical in any engine.
    *
    * `_ma` lives in its own projection so the transform lambda references
    * an ATTRIBUTE, not a subexpression — the HOF-recompute pitfall.
    */
  def quantizeInt8(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol),
        array_max(transform(col(vecCol), v => abs(v))).cast("double").as("_ma"),
        col(vecCol))
      .select(col(idCol), Vectors.packInt8(
        transform(col(vecCol), v =>
          when(col("_ma") > 0, round(v.cast("double") * 127.0 / col("_ma"), 0))
            .otherwise(lit(0.0)).cast("int"))).as("q8"))

  /** Quantized exact top-k: brute-force over int8 codes with the exact
    * integer dot product ([[graft.functions.ByteDotProduct]] — a long, no
    * float accumulation at all, so scores and ranks are bit-identical in
    * any engine). Same scan shape as [[bruteForceTopK]] (queries broadcast,
    * corpus scanned once, k rows per query per partition across the
    * exchange) at a quarter of the memory bandwidth. Int8 symmetric quantization
    * preserves cosine ranking closely (recall measured in SimilaritySpec);
    * the standard rerank pattern is this as the wide pass + exact cosine
    * on the shortlist.
    */
  def quantizedTopK(corpus: DataFrame, queries: DataFrame,
                    idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = quantizeInt8(corpus, idCol, vecCol)
      .select(col(idCol).as("neighbor_id"), col("q8").as("c_q8"))
    val q = quantizeInt8(queries, idCol, vecCol)
      .select(col(idCol).as("query_id"), col("q8").as("q_q8"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"),
        struct(Vectors.byteDot(col("q_q8"), col("c_q8")).cast("double").as("score"),
          col("neighbor_id").as("id")).as("sn"))
    rankTopK(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        col("cosine").cast("long").as("dot_q8"), col("rank"))
  }

  /** The full quantize-then-rerank recipe: the int8 wide pass shortlists
    * `shortlist` candidates per query over packed codes (quarter
    * bandwidth), then ONLY the shortlist is rescored with exact float
    * cosine and cut to `k`. The expensive float scan shrinks from N to
    * `shortlist` rows per query; the shortlist frame is tiny, so the
    * rerank joins broadcast it against the corpus — the corpus itself is
    * scanned, never shuffled, in both passes.
    */
  def quantizedRerankTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                          vecCol: String, k: Int, shortlist: Int): DataFrame = {
    require(shortlist >= k, "quantizedRerankTopK: shortlist must be >= k")
    val wide = quantizedTopK(corpus, queries, idCol, vecCol, shortlist)
      .select("query_id", "neighbor_id")
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val scored = c.join(broadcast(wide), "neighbor_id")
      .join(broadcast(q), "query_id")
      .select(col("query_id"),
        struct(round(Vectors.cosine(col("q_vec"), col("c_vec")), 6).as("score"),
          col("neighbor_id").as("id")).as("sn"))
    rankTopK(scored, k)
  }

  /** One k-means assignment pass as a PURE PROJECTION: each row's cell is
    * the argmax of round(cosine, 6) against the k literal centroids, ties
    * to the LOWEST cell index (struct array_max compares (score, -cell)
    * lexicographically). The centroids ride inside the expression as
    * literals — no join, no shuffle, no broadcast variable: at 100 TB an
    * assignment pass is a narrow scan, embarrassingly parallel.
    */
  private def assignCellExpr(vecCol: String,
                             cents: Seq[(Int, Array[Float])]): org.apache.spark.sql.Column = {
    val scored = array(cents.map { case (c, v) =>
      struct(round(Vectors.cosine(col(vecCol), lit(v)), 6).as("s"), lit(-c).as("nc"))
    }: _*)
    -array_max(scored).getField("nc")
  }

  /** Cells ≤ this many assign via the inline k-branch argmax expression
    * (one narrow projection, zero joins — the right plan for IVF-size k).
    * Above it, the SAME argmax runs as a broadcast-join +
    * `max(struct(cos, −cell))` partial aggregate (the [[assignNearestCentroid]]
    * shape): the inline expression's size is O(k·dim) literals PER
    * OPERATOR, and at SemDeDup-scale k (7.8k cells, the d10 100× probe) it
    * OOMs the JVM before a single row is scored, while the join form
    * broadcasts only the k×dim centroid table and exchanges map-side-
    * reduced (id, best) pairs.
    */
  private val InlineAssignCells = 256

  /** (id, `outCol`) for every row of `df` — argmax of round(cosine, 6)
    * over `cents`, ties to the lowest cell, matching [[assignCellExpr]]'s
    * (cosine, −cell) ordering (parity spec-pinned).
    *
    * The argmax aggregates a PACKED LONG, not a struct: `max(struct)` has
    * no mutable buffer so Spark plans a SortAggregate — a full sort of
    * the n×k joined stream (measured at the d10 100× probe: 83 GB spill).
    * Packing (cos6, cell) as `(round(cos·1e6) + 2e6)·2³² + (MaxInt − cell)`
    * keeps the same total order (6dp-rounded cosines are ≥ 1e-6 apart, so
    * the integer scaling never collapses two distinct values; ties fall
    * to the smaller cell via the complemented low word) and `max(long)`
    * hash-aggregates with map-side combine — the exchange carries one row
    * per distinct (id, vector), the joined stream is never sorted or
    * materialized.
    *
    * The group key is (id, xxhash64(vec)), not id alone: duplicate ids
    * with DIFFERENT vectors keep per-row assignments (id-only grouping
    * collapsed them to one max-packed cell, diverging from the inline
    * expression path), and a null id still groups/joins (grouping and the
    * caller's null-safe join-back both treat null as a value, where a
    * plain equi-join would drop it). The extra `_ac_vh` column rides out
    * for [[withAssignedCell]]'s join-back; callers that key on a unique
    * id just ignore it.
    */
  private[graft] def assignCellsJoin(df: DataFrame, idCol: String,
                                         vecCol: String,
                                         cents: Seq[(Int, Array[Float])],
                                         outCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cdf = cents.map { case (c, v) => (c, v.toSeq) }.toDF("_ac_cell", "_ac_cent")
    val packed =
      (round(round(Vectors.cosine(col(vecCol), col("_ac_cent")), 6) * 1e6)
        .cast("long") + lit(2000000L)) * lit(1L << 32) +
        (lit(Int.MaxValue.toLong) - col("_ac_cell"))
    df.select(col(idCol), col(vecCol))
      .withColumn("_ac_vh", xxhash64(col(vecCol)))
      .crossJoin(broadcast(cdf))
      .groupBy(col(idCol), col("_ac_vh"))
      .agg(max(packed).as("_pk"))
      .select(col(idCol), col("_ac_vh"),
        (lit(Int.MaxValue.toLong) - col("_pk").bitwiseAND(lit(0xFFFFFFFFL)))
          .cast("int").as(outCol))
  }

  /** `df` + `outCol`, picking the inline-expression or broadcast-join
    * argmax by [[InlineAssignCells]]; the join path costs one id-keyed
    * hash join back onto `df` (the price of not building a k-branch
    * expression), which Catalyst prunes to the columns the caller uses.
    */
  private[graft] def withAssignedCell(df: DataFrame, idCol: String, vecCol: String,
                                      cents: Seq[(Int, Array[Float])],
                                      outCol: String): DataFrame =
    if (cents.size <= InlineAssignCells)
      df.withColumn(outCol, assignCellExpr(vecCol, cents))
    else {
      // join back on (id, vec-hash), null-safe on id: per-row assignment
      // survives duplicate and null ids, matching the inline path; left:
      // a null vector keeps its row (null cell), as the inline path does
      val a = assignCellsJoin(df, idCol, vecCol, cents, outCol)
      val keyed = df.withColumn("_ac_vh", xxhash64(col(vecCol)))
      keyed.join(a,
          keyed(idCol) <=> a(idCol) && keyed("_ac_vh") === a("_ac_vh"), "left")
        .drop(a(idCol)).drop(keyed("_ac_vh")).drop(a("_ac_vh"))
    }

  /** Deterministic Lloyd k-means over an embedding column — the IVF coarse
    * quantizer TRAINER ([[ivfTopK]] consumes the resulting cell column).
    *
    * Every step is engine-portable, so the trained cells (and any query on
    * top of them) hash-check bit-identically against a SQL oracle:
    *   - SEEDING: the k rows with the smallest md5("<seed>:<id>") hex —
    *     deterministic, uniform, no JVM RNG (k-means++ would need one).
    *   - ASSIGN: argmax of round(cosine, 6) vs the current centroids,
    *     ties to the lowest cell — float comparisons of identically-
    *     computed values only.
    *   - RE-CENTER: the 4dp-rounded, -0.0-normalized, float-quantized
    *     per-coordinate mean ([[labelCentroidVectors]]'s recipe).
    *
    * `iters` = assignment passes (Lloyd: assign, re-center, assign, ...);
    * the returned frame is `df` + `cell` from the FINAL pass. Between
    * passes only the k×dim centroid matrix visits the driver (the
    * classical distributed-Lloyd shape — MLlib's KMeans does the same);
    * each re-centering is one partial-aggregated pass over the corpus and
    * each assignment a narrow projection. A cell that loses all members
    * simply drops out for later passes (standard Lloyd behavior, identical
    * in the oracle's GROUP BY).
    *
    * `reseedEmpty` (OPT-IN) re-seeds each emptied cell from the corpus
    * point FARTHEST from every surviving centroid (smallest best-cosine;
    * ties by the md5 seeding hash then id — fully deterministic), the
    * standard Lloyd repair that restores cell balance when a bad seed
    * collapses. Off by default: the published oracle recipe (and the
    * sim_ivf_trained differential gate) mirrors the drop-out behavior, so
    * re-seeding is a caller choice, recall-tested in SimilaritySpec
    * rather than oracle-replayed.
    */
  def kmeansAssign(df: DataFrame, idCol: String, vecCol: String, dim: Int,
                   k: Int, iters: Int = 2, seed: String = "kmeans",
                   roundTo: Int = 4, reseedEmpty: Boolean = false): DataFrame = {
    require(k >= 1, "kmeansAssign: k must be >= 1")
    require(iters >= 1, "kmeansAssign: iters must be >= 1")
    val seedRows = df
      .select(col(vecCol).as("_v"),
        md5(concat(lit(s"$seed:"), col(idCol).cast("string"))).as("_h"),
        col(idCol).cast("string").as("_id"))
      .filter(col("_v").isNotNull)
      .orderBy(col("_h"), col("_id"))
      .limit(k)
      .collect()
    // empty input: no seeds to argmax over — emit a typed null cell (the
    // frame is empty anyway) instead of building a zero-branch expression
    if (seedRows.isEmpty) return df.withColumn("cell", lit(null).cast("int"))
    var cents: Seq[(Int, Array[Float])] = seedRows.toIndexedSeq.zipWithIndex.map {
      case (r, i) => (i, r.getSeq[Float](0).toArray)
    }
    for (_ <- 1 until iters) {
      cents = withAssignedCell(df, idCol, vecCol, cents, "_cell")
        .groupBy("_cell")
        .agg(array((0 until dim).map(i =>
          (round(avg(element_at(col(vecCol), i + 1)), roundTo) + lit(0.0)).cast("float")): _*)
          .as("_centroid"))
        .collect().toIndexedSeq
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
        .sortBy(_._1)
      if (reseedEmpty && cents.size < k) {
        // farthest-point repair: the emptied cell indices are re-seeded
        // from the rows whose BEST cosine to any surviving centroid is
        // smallest (deterministic ties: seeding hash, then id). One narrow
        // scan + a missing-count limit — only k' vectors visit the driver.
        val missing = (0 until k).filterNot(cents.map(_._1).toSet)
        val best = array_max(array(cents.map { case (_, v) =>
          round(Vectors.cosine(col(vecCol), lit(v)), 6)
        }: _*))
        val far = df.filter(col(vecCol).isNotNull)
          .select(col(vecCol).as("_v"), best.as("_best"),
            md5(concat(lit(s"$seed:"), col(idCol).cast("string"))).as("_h"),
            col(idCol).cast("string").as("_id"))
          .orderBy(col("_best").asc, col("_h"), col("_id"))
          .limit(missing.size)
          .collect()
        cents = (cents ++ missing.zip(far.toIndexedSeq).map { case (cell, r) =>
          (cell, r.getSeq[Float](0).toArray)
        }).sortBy(_._1)
      }
    }
    withAssignedCell(df, idCol, vecCol, cents, "cell")
  }

  /** IVF-flat approximate top-k: the corpus is partitioned into coarse
    * CELLS (`cellCol` — a cluster/label/shard assignment); each query
    * ranks the cell centroids by exact cosine and probes only the
    * `probes` nearest cells, exact-scoring just their members. Scored
    * pairs ≈ (probes / #cells) × N per query — the IVF win — and cells
    * are disjoint, so unlike multiprobe LSH no dedup pass is needed.
    * Recall depends on how well cells capture neighborhood structure
    * (classic IVF behavior; measured in SimilaritySpec). Scale shape:
    * centroids = one partial-aggregated pass; the Q×cells ranking and the
    * probed-cell list are broadcast; the corpus is scanned once.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, cellCol: String, dim: Int, k: Int,
              probes: Int = 2,
              maxBroadcastProbes: Long = 1L << 16): DataFrame =
    ivfProbe(corpus, labelCentroidVectors(corpus, cellCol, vecCol, dim),
      queries, idCol, vecCol, cellCol, k, probes, maxBroadcastProbes)

  /** The shared IVF probe: rank the (tiny, broadcast) centroid table per
    * query, keep the `probes` nearest cells, equi-join the corpus on cell
    * membership, exact-score only those members. Used by both the inline
    * [[ivfTopK]] (centroids derived from the assignment) and the
    * materialized [[IvfIndex.probe]] (centroids loaded from parquet).
    *
    * The probed frame is Q×`probes` rows, each carrying the full query
    * vector — broadcast-sized for the usual small query batch, but a bulk
    * re-embedding job probing with millions of queries would ship a
    * multi-GB broadcast to every executor. Same guard as [[lshTopK]]: when
    * the probe-row count exceeds `maxBroadcastProbes`, the cell-membership
    * join falls back to a plain shuffle hash-join on the cell key (both
    * sides exchange — correct at any scale, just not broadcast-cheap).
    * The guard costs one count() of the query frame.
    */
  private def ivfProbe(cells: DataFrame, cents: DataFrame, queries: DataFrame,
                       idCol: String, vecCol: String, cellCol: String,
                       k: Int, probes: Int,
                       maxBroadcastProbes: Long = 1L << 16): DataFrame = {
    require(probes >= 1, "ivfTopK: probes must be >= 1")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("_ccos").desc, col(cellCol).asc)
    val probed = q.crossJoin(broadcast(cents))
      .withColumn("_ccos", round(Vectors.cosine(col("q_vec"), col("centroid")), 6))
      .withColumn("_crn", row_number().over(w))
      .filter(col("_crn") <= probes)
      .select(col("query_id"), col("q_vec"), col(cellCol))
    val probeRows = queries.count() * probes
    val pSide = if (probeRows <= maxBroadcastProbes) broadcast(probed) else probed
    val c = cells.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"), col(cellCol))
    val scored = c.join(pSide, Seq(cellCol))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"),
        struct(round(Vectors.cosine(col("q_vec"), col("c_vec")), 6).as("score"),
          col("neighbor_id").as("id")).as("sn"))
    rankTopK(scored, k)
  }

  /** The materialized IVF/ANN index, a [[graft.sources.ShardedIndex]]
    * family like [[graft.operators.Dedup]]'s ingest indexes: `cells/` =
    * (id, vector, cell), the trained coarse-quantizer assignment, keyed by
    * id; `cents/` = (cell, centroid), the per-cell centroid vectors the
    * probe ranks, keyed by cell. Training (Lloyd iterations — driver
    * round-trips, full corpus passes) happens ONCE, in [[rows]]; every
    * query batch afterwards [[probe]]s the loaded parts, which is one
    * broadcast-ranked centroid table + one equi-join — no k-means in the
    * replay plan (PlanSpec-pinned; driver-gated sim_ivf_index_replay
    * bit-matches sim_ivf_trained). `cents/` is k rows, written in
    * `shards` small files like `cells/`.
    */
  final case class IvfIndex(idCol: String, vecCol: String, dim: Int, k: Int,
                            iters: Int = 2, seed: String = "kmeans", roundTo: Int = 4)
      extends ShardedIndex(Seq(Part("cells", idCol, identity), Part("cents", "cell", identity)),
        None) {

    def rows(docs: DataFrame): Map[String, DataFrame] = {
      val assigned = kmeansAssign(docs, idCol, vecCol, dim, k, iters, seed, roundTo)
      Map("cells" -> assigned.select(col(idCol), col(vecCol), col("cell")),
        "cents" -> labelCentroidVectors(assigned, "cell", vecCol, dim))
    }

    /** Fold new vectors into the saved index with the standard IVF
      * contract (faiss `add()` semantics): the batch is assigned to the
      * FROZEN centroids by one narrow argmax projection and delta-appended
      * to `cells/`; the coarse quantizer itself is not retrained (that is
      * [[retrain]]). Appended members are probed identically to built ones
      * — SimilaritySpec pins that an updated index returns new-batch
      * vectors ranked by the same exact cosine as a rebuilt cells frame.
      */
    override def append(newVecs: DataFrame, path: String, shards: Int): Unit = {
      val cents = newVecs.sparkSession.read.parquet(s"$path/cents").collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1).toIndexedSeq
      require(cents.nonEmpty, s"IvfIndex.append: index at $path has no centroids")
      put(Map("cells" -> withAssignedCell(newVecs, idCol, vecCol, cents, "cell")
          .select(col(idCol), col(vecCol), col("cell"))),
        path, shards, ParquetSink.appendSharded)
    }

    /** [[ivfTopK]] against the loaded index: identical probe path and
      * output (the centroid relation round-trips parquet bit-exactly), zero
      * training work per query batch.
      */
    def probe(queries: DataFrame, index: Map[String, DataFrame], topK: Int,
              probes: Int = 2, maxBroadcastProbes: Long = 1L << 16): DataFrame =
      ivfProbe(index("cells"), index("cents"), queries, idCol, vecCol, "cell", topK, probes,
        maxBroadcastProbes)

    /** The rebuild [[shouldRetrainIvf]] triggers: retrain the coarse
      * quantizer ON THE CURRENTLY INDEXED VECTORS (base build + every
      * appended delta) and replace the index in place; at a derived k it is
      * `copy(k = deriveIvfK(...)).retrain(...)`. The result is
      * BIT-IDENTICAL to a from-scratch [[write]] over the union — the
      * deterministic Lloyd seeding is a pure function of the id SET
      * (md5-smallest k), floats round-trip parquet exactly, and the
      * training input is set-equal to union-of-appends by construction —
      * so SimilaritySpec gates equality instead of plausibility.
      *
      * Swap discipline: the rebuild READS `cells/` lazily, so it fully
      * materializes into `retrain_stage/` before the live parts are
      * replaced (a direct overwrite would read-from-under-write). The swap
      * tears BOTH live parts down before renaming either staged part in: a
      * crash mid-swap then leaves a MISSING part — [[read]] fails naming
      * it and the complete staged index is still on disk for recovery —
      * never the silent wrongness of new cell assignments paired with old
      * centroids (which a swap-one-then-the-other order permits). On a
      * shared filesystem at scale the same shape applies with a manifest
      * repoint instead of a rename; the stage-then-swap is the portable
      * part.
      */
    def retrain(spark: SparkSession, path: String, shards: Int): Unit = {
      val stage = s"$path/retrain_stage"
      write(spark.read.parquet(s"$path/cells").select(col(idCol), col(vecCol)), stage, shards)
      val names = Seq("cells", "cents")
      names.foreach(n => ParquetSink.deleteRecursively(new java.io.File(s"$path/$n")))
      names.foreach { n =>
        require(new java.io.File(s"$stage/$n").renameTo(new java.io.File(s"$path/$n")),
          s"IvfIndex.retrain: could not swap $n into place")
      }
      ParquetSink.deleteRecursively(new java.io.File(stage))
    }
  }

  /** Retrain-trigger telemetry for a materialized [[IvfIndex]] — answers
    * WHEN [[IvfIndex.retrain]], the rebuild [[IvfIndex.append]]'s frozen
    * centroids eventually need, should actually fire. One row of cell-occupancy
    * stats computed from `cells/` alone (a count per cell — no vector
    * math, no centroid reads, one partial-aggregated pass):
    *
    *   - `cells`      occupied cells (dead centroids never appear in the
    *     index: both the builder and the updater derive cells from
    *     assignments, so occupancy is the live-cell count)
    *   - `vectors`    total indexed vectors (base + every appended delta)
    *   - `max_cell` / `mean_cell`  occupancy extremes
    *   - `imbalance`  max/mean occupancy — ~1.0 when the quantizer still
    *     fits the data; grows monotonically as [[IvfIndex.append]] adds
    *     batches the FROZEN centroids mis-fit (skew piles into few cells,
    *     and appends can never rebalance). A pipeline thresholds this
    *     (e.g. > 3.0) to schedule the rebuild: past it, probe cost is no
    *     longer ~`probes`/k of the corpus because the hot cells hold the
    *     bulk of it.
    *
    * Cheap enough to run after every update batch: the scan reads one
    * int column of `cells/`, and only k partial counts cross the exchange.
    */
  def ivfIndexStats(spark: org.apache.spark.sql.SparkSession,
                    path: String): DataFrame =
    spark.read.parquet(s"$path/cells").groupBy("cell")
      .agg(count(lit(1)).as("n"))
      .agg(
        count(lit(1)).as("cells"),
        sum("n").as("vectors"),
        max("n").as("max_cell"),
        round(avg("n"), 6).as("mean_cell"),
        round(max("n") / avg("n"), 6).as("imbalance"))

  /** The PLAN DERIVATION [[ivfIndexStats]] exists to feed (the
    * d4c/d9c/e6f pattern: diagnostic → derivation → plan, never a
    * guessed knob): true when the measured max/mean occupancy imbalance
    * exceeds `maxImbalance`, i.e. when the frozen quantizer mis-fits the
    * appended data badly enough that probe cost is no longer ~probes/k
    * of the corpus and the periodic rebuild [[IvfIndex.retrain]] should
    * fire. 3.0 is the production default (a
    * 3× hot cell triples the expected probe scan); an empty or
    * single-cell-degenerate index reports no imbalance and never
    * triggers. Reads the ≤1-row stats frame — one bounded collect.
    */
  def shouldRetrainIvf(spark: org.apache.spark.sql.SparkSession, path: String,
                       maxImbalance: Double = 3.0): Boolean = {
    require(maxImbalance >= 1.0, "shouldRetrainIvf: maxImbalance must be >= 1")
    val r = ivfIndexStats(spark, path).head()
    !r.isNullAt(4) && r.getDouble(4) > maxImbalance
  }

  /** The k DERIVATION for the triggered rebuild — the second half of the
    * r18 finding (BENCH_SCALE): a same-k retrain cannot flatten an
    * append whose mass is genuinely dense (max/mean at fixed k reports
    * true density), so the production rebuild grows k with the corpus.
    * k' = vectors / targetMeanCell (ceiling), floored at the CURRENT
    * cell count (a rebuild must never shrink the index's resolution) —
    * the same one-row stats frame every other derivation here reads, so
    * the whole arc is: [[ivfIndexStats]] → [[shouldRetrainIvf]] +
    * [[deriveIvfK]] → [[IvfIndex.retrain]] at k'. `targetMeanCell` is the
    * probe-cost knob: expected scan per query ≈ probes × targetMeanCell
    * rows. Clamped to `maxK` (the k×dim centroid matrix must stay
    * driver- and broadcast-small: 2^20 × 64 floats = 256 MB is the
    * practical ceiling the D10 packed-argmax path documents).
    */
  def deriveIvfK(spark: org.apache.spark.sql.SparkSession, path: String,
                 targetMeanCell: Long = 4096,
                 maxK: Int = 1 << 20): Int = {
    require(targetMeanCell >= 1, "deriveIvfK: targetMeanCell must be >= 1")
    val r = ivfIndexStats(spark, path).head()
    if (r.isNullAt(1)) 1
    else {
      val vectors = r.getLong(1)
      val cells = r.getLong(0)
      val want = (vectors + targetMeanCell - 1) / targetMeanCell
      math.min(maxK.toLong, math.max(math.max(1L, cells), want)).toInt
    }
  }

  /** LSH-bucketed approximate top-k with 1-bit multiprobe. Candidates from
    * bucket collisions only; exact scores; the same k-bounded window as
    * [[bruteForceTopK]] ranks them (multiprobe duplicates removed first so
    * one neighbor cannot occupy two top-k slots).
    *
    * The probe frame is the query set exploded bits+1 times (own bucket +
    * every 1-bit flip), each row carrying the full query vector — it grows
    * 13× at the default bits = 12. Broadcasting it is right for the usual
    * small query batch, but a LARGE query set would ship a multi-GB
    * broadcast to every executor; when the probe-row count exceeds
    * `maxBroadcastProbes` the join falls back to a plain shuffle
    * hash-join on the bucket key instead (both sides exchange — correct
    * at any scale, just not broadcast-cheap). The guard costs one count()
    * of the query frame, negligible next to the ANN scan it sizes.
    */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int, bits: Int = 12,
              ordinal: Boolean = false,
              maxBroadcastProbes: Long = 1L << 16): DataFrame = {
    val sketch =
      if (ordinal) ordinalSketch(col(vecCol), dim, bits)
      else signSketch(col(vecCol), dim, bits)
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      sketch.as("bucket"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      sketch.as("qb"))
      // probe own bucket + every bucket one bit-flip away
      .withColumn("bucket", explode(array(
        (col("qb") +: (0 until bits).map(b => col("qb").bitwiseXOR(lit(1L << b)))): _*)))
    val probeRows = queries.count() * (bits + 1)
    val qSide = if (probeRows <= maxBroadcastProbes) broadcast(q) else q
    val scored = c.join(qSide, Seq("bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(Vectors.cosine(col("q_vec"), col("c_vec")), 6).as("cosine"))
      .distinct()
      .select(col("query_id"),
        struct(col("cosine").as("score"), col("neighbor_id").as("id")).as("sn"))
    rankTopK(scored, k)
  }
}
