package graft.operators

import graft.sources.ShardedIndex
import graft.sources.ShardedIndex.Part
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

/** Grouped + global aggregation with the reference's semantics (G1–G3).
  *
  * Reference (`/root/reference/src/dataframe.py:28-87`):
  *   - supported fns: count, sum, avg, min, max, median, std;
  *   - output column naming `{fn}_{col}` (`dataframe.py:34`);
  *   - `count` = GROUP ROW COUNT (`dataframe.py:53-54`), even if every
  *     value in the column is null → `count(lit(1))`, not `count(col)`;
  *   - non-numeric values are skipped by numeric aggs (`dataframe.py:48`)
  *     — bridged here by `try_cast` when the column is a string (§7.4.1);
  *   - `std` is SAMPLE stddev, null for n<2 (`dataframe.py:76-82`) —
  *     Spark's `stddev_samp` already yields null at n=1 (divide-by-zero
  *     guard since 3.1), matching;
  *   - `median` exact, avg-of-middle-two for even n (`dataframe.py:68-75`)
  *     — Spark's `median` matches exactly.
  *
  * Scale notes: all of count/sum/avg/min/max/std aggregate with partial
  * (map-side) combine before the shuffle — one exchange of tiny partial
  * buffers regardless of input size. `median` has THREE paths (SURVEY
  * §7.3), selected per call:
  *   - default: built-in `median` — exact, but buffers each group's VALUES
  *     (`percentile` keeps a per-group array), fine at test scale;
  *   - `exactMedian = true`: [[graft.functions.ExactMedianAgg]] — still
  *     exact, buffer is a (value → count) map, O(DISTINCT values/group)
  *     instead of O(rows/group); the 100 TB path when the domain is
  *     quantized (prices, quantities, scores) and exactness is demanded;
  *   - `approxMedian = true`: `approx_percentile` — a fixed-size
  *     QuantileSummaries sketch that merges map-side like any other
  *     partial agg; the 100 TB path for unbounded-cardinality doubles.
  */
object Agg {

  val SupportedFns = Seq("count", "sum", "avg", "min", "max", "median", "std")

  /** One aggregate expression with reference naming + semantics. */
  def aggExpr(df: DataFrame, fn: String, c: String,
              approxMedian: Boolean = false,
              exactMedian: Boolean = false): Column = {
    require(!(approxMedian && exactMedian),
      "aggExpr: approxMedian and exactMedian are mutually exclusive")
    // §7.4.1 bridge: per-cell typed reference columns may arrive as
    // StringType; aggregate over try_cast-to-double so non-numerics skip.
    val isString = df.schema.find(_.name == c).exists(_.dataType == StringType)
    val v = if (isString) expr(s"try_cast(`$c` AS DOUBLE)") else col(c)
    val e = fn match {
      case "count"  => count(lit(1))
      case "sum"    => sum(v)
      case "avg"    => avg(v)
      case "min"    => min(v)
      case "max"    => max(v)
      case "median" => if (approxMedian) approx_percentile(v, lit(0.5), lit(10000))
                       else if (exactMedian) graft.functions.ExactMedian.exactMedian(v)
                       else median(v)
      case "std"    => stddev_samp(v)
      case other    => throw new IllegalArgumentException(s"unknown agg fn: $other")
    }
    e.as(s"${fn}_$c")
  }

  /** G1+G2 — hash groupBy + multi-fn aggregation, one shuffle for all
    * columns×fns (the reference loops one pass per metric —
    * `/root/reference/app.py:130-139` — which §4.2 flags as waste).
    * Spec preserves insertion order of `spec` for output column order.
    */
  def groupAgg(df: DataFrame, keys: Seq[String], spec: Seq[(String, Seq[String])],
               approxMedian: Boolean = false,
               exactMedian: Boolean = false): DataFrame = {
    val exprs =
      for ((c, fns) <- spec; fn <- fns) yield aggExpr(df, fn, c, approxMedian, exactMedian)
    require(exprs.nonEmpty, "groupAgg: empty aggregation spec")
    df.groupBy(keys.map(col): _*).agg(exprs.head, exprs.tail: _*)
  }

  /** G3/A11 — global (whole-table) aggregate: the reference wraps the column
    * in a dummy group (`/root/reference/app.py:938-988`); Spark aggregates
    * directly, no dummy key, no shuffle of raw rows (partial aggs only).
    */
  def globalAgg(df: DataFrame, spec: Seq[(String, Seq[String])],
                approxMedian: Boolean = false,
                exactMedian: Boolean = false): DataFrame = {
    val exprs =
      for ((c, fns) <- spec; fn <- fns) yield aggExpr(df, fn, c, approxMedian, exactMedian)
    df.agg(exprs.head, exprs.tail: _*)
  }

  /** A3 — "latest" (max-per-group) wide table in a SINGLE pass over the fact
    * table for all metrics (`/root/reference/app.py:122-157` does ~20
    * separate groupby passes). One shuffle, partial max map-side.
    */
  def latestTable(df: DataFrame, key: String, metrics: Seq[String]): DataFrame = {
    val exprs = metrics.map(m => max(col(m)).as(m))
    df.groupBy(col(key)).agg(exprs.head, exprs.tail: _*)
  }

  /** A7 — global min/max of one column (`/root/reference/app.py:248-251`). */
  def minMax(df: DataFrame, c: String): DataFrame =
    df.agg(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))

  /** Distinct-count per group — absent from the reference (SURVEY §2.3).
    * `exact = true` plans a two-phase expand+aggregate (exact, heavier
    * shuffle); `exact = false` uses HyperLogLog++ partial sketches
    * (`approx_count_distinct`, fixed-size buffers — the 100 TB path, with
    * `rsd` relative error).
    */
  def distinctCount(df: DataFrame, keys: Seq[String], c: String,
                    exact: Boolean = true, rsd: Double = 0.05): DataFrame = {
    val e = if (exact) countDistinct(col(c)) else approx_count_distinct(col(c), rsd)
    df.groupBy(keys.map(col): _*).agg(e.as(s"distinct_$c"))
  }

  /** Rollup aggregation (hierarchical subtotals + grand total) — absent
    * from the reference (SURVEY §2.3). Subtotal rows carry null group
    * keys, SQL ROLLUP semantics; one shuffle via Expand.
    */
  private def groupingSetAgg(grouped: org.apache.spark.sql.RelationalGroupedDataset,
                             df: DataFrame, spec: Seq[(String, Seq[String])],
                             approxMedian: Boolean, what: String): DataFrame = {
    val exprs = for ((c, fns) <- spec; fn <- fns) yield aggExpr(df, fn, c, approxMedian)
    require(exprs.nonEmpty, s"$what: empty aggregation spec")
    grouped.agg(exprs.head, exprs.tail: _*)
  }

  def rollupAgg(df: DataFrame, keys: Seq[String], spec: Seq[(String, Seq[String])],
                approxMedian: Boolean = false): DataFrame =
    groupingSetAgg(df.rollup(keys.map(col): _*), df, spec, approxMedian, "rollupAgg")

  /** CUBE — every grouping-set combination of the keys (rollup's sibling;
    * SURVEY §2.3 free built-in). Same single-shuffle expansion: Spark
    * replicates each row once per grouping set map-side and partial-
    * aggregates before the exchange.
    */
  def cubeAgg(df: DataFrame, keys: Seq[String], spec: Seq[(String, Seq[String])],
              approxMedian: Boolean = false): DataFrame =
    groupingSetAgg(df.cube(keys.map(col): _*), df, spec, approxMedian, "cubeAgg")

  /** X10 — MERGEABLE aggregate state, the primitive behind maintaining a
    * materialized aggregate over a growing corpus without recomputing it.
    * `buildAggState` reduces a batch to one row per key holding the
    * commutative-monoid components (count, decimal sum, min, max);
    * `mergeAggState` folds any number of such states together — counts and
    * sums add, min/max combine — and the result is bit-identical to the
    * state built from the concatenated batches, because every component is
    * associative and the sum is exact DECIMAL(38,6) (float summation order
    * could differ between merge orders; decimal cannot). `finalizeAggState`
    * derives the presentation row (n, sum, min, max, avg).
    *
    * Scale shape: each daily batch reduces map-side to its own small state
    * (one shuffle of partials over the BATCH, not the corpus); the merge
    * then shuffles state rows — bounded by the number of DISTINCT KEYS,
    * not corpus rows. A 100 TB history is never rescanned: yesterday's
    * state + today's delta state → today's state.
    */
  def buildAggState(df: DataFrame, keys: Seq[String], v: String): DataFrame = {
    val aggs = Seq(
      count(col(v)).as("state_n"),
      sum(col(v).cast(org.apache.spark.sql.types.DecimalType(38, 6))).as("state_sum"),
      min(col(v)).as("state_min"),
      max(col(v)).as("state_max"))
    df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  def mergeAggState(states: Seq[DataFrame], keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeAggState: no states to merge")
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(sum(col("state_n")).as("state_n"),
        sum(col("state_sum")).as("state_sum"),
        min(col("state_min")).as("state_min"),
        max(col("state_max")).as("state_max"))
  }

  /** X10b — the MATERIALIZED agg-state lifecycle: a
    * [[graft.sources.ShardedIndex]] family like
    * [[graft.operators.Dedup]]'s ingest indexes, with one part `state/`
    * (state rows keyed by the first key; [[rows]] is [[buildAggState]]).
    * After appends it holds several state rows per key; [[read]] merges on
    * read (idempotent once compacted), and compaction folds the delta
    * shards back to one pre-merged row per key through [[mergeAggState]]
    * — after which reads skip the re-reduce's regrouping of duplicates
    * entirely. Day N's update cost is one batch-sized build + a
    * delta-append; the 100 TB history is never rescanned.
    */
  final case class AggState(keys: Seq[String], v: String)
      extends ShardedIndex(Seq(Part("state", keys.head, df => mergeAggState(Seq(df), keys))),
        None) {

    def rows(df: DataFrame): Map[String, DataFrame] = Map("state" -> buildAggState(df, keys, v))

    override def read(spark: SparkSession, path: String): Map[String, DataFrame] =
      Map("state" -> mergeAggState(Seq(super.read(spark, path)("state")), keys))
  }

  /** Presentation row from a state: avg divides the exact decimal sum AS A
    * DOUBLE (both engines see the identical double dividend, so the 4dp
    * round is engine-independent; `+ 0.0` folds IEEE -0.0, the repo-wide
    * oracle convention).
    */
  def finalizeAggState(state: DataFrame, keys: Seq[String]): DataFrame =
    state.select(keys.map(col) ++ Seq(
      col("state_n").as("n"),
      col("state_sum").cast("double").as("sum"),
      col("state_min").as("min"),
      col("state_max").as("max"),
      (round(col("state_sum").cast("double") / col("state_n"), 4) + lit(0.0)).as("avg")): _*)

  /** X10c — mergeable APPROX-DISTINCT state: the [[buildAggState]] monoid's
    * sketch sibling for the one aggregate the exact state CAN'T carry —
    * count-distinct, whose exact mergeable state is the value set itself
    * (unbounded). Per-key Apache DataSketches HLL sketches via Spark's own
    * `hll_sketch_agg`; the state column is the sketch's binary image, a
    * FIXED-size register array (4 KB at the default lgK = 12), so per-key
    * state is bounded no matter how many distinct values flow through —
    * the property that lets "distinct users per day, merged across a year"
    * run as state-plus-delta instead of a year-long rescan. Merge
    * ([[mergeDistinctSketchState]]) is `hll_union_agg` — register-wise
    * max, associative and commutative, so batch states fold exactly like
    * the exact monoid and a union of daily sketches carries the SAME
    * registers as the whole-corpus sketch (estimate-identical,
    * spec-pinned; the union's serialized image re-codes HLL_4 → HLL_8,
    * so state bytes are canonical only per write path). Estimate error follows the
    * published HLL bound rsd ≈ 1.04/√2^lgK (~1.6% at lgK 12); the x10c
    * driver row hard-gates |estimate − exact| like e8d. The binary state
    * column round-trips parquet unchanged, so the x10b shard/append/
    * compact lifecycle applies as-is (compact with
    * [[mergeDistinctSketchState]] as the fold).
    */
  def buildDistinctSketchState(df: DataFrame, keys: Seq[String], v: String,
                               lgK: Int = 12): DataFrame =
    df.groupBy(keys.map(col): _*)
      .agg(hll_sketch_agg(col(v), lit(lgK)).as("state_hll"))

  def mergeDistinctSketchState(states: Seq[DataFrame],
                               keys: Seq[String]): DataFrame = {
    require(states.nonEmpty, "mergeDistinctSketchState: no states to merge")
    // lgK travels inside the sketch image; mixed-lgK unions are refused
    // (allowDifferentLgConfigK stays false) — a recipe drift between a
    // saved state and a new batch must fail loudly, not degrade silently
    states.reduce(_ unionByName _)
      .groupBy(keys.map(col): _*)
      .agg(hll_union_agg(col("state_hll"), lit(false)).as("state_hll"))
  }

  def estimateDistinctState(state: DataFrame, keys: Seq[String]): DataFrame =
    state.select(keys.map(col) :+
      hll_sketch_estimate(col("state_hll")).as("approx_distinct"): _*)
}
