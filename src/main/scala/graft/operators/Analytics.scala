package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Derived analytics the reference computes as driver-side Python loops
  * (SURVEY §2.2) — here each is a first-class distributed operator.
  */
object Analytics {

  /** A8 — latest full row per group (argmax by an ordering column).
    * Reference: row loop keeping max-date row per location
    * (`/root/reference/app.py:711-729`).
    *
    * `tiebreak` columns make the winner deterministic when `orderCol` ties.
    * Implementation is `max_by(struct(all columns), struct(order, tiebreak))`
    * — a regular aggregate with map-side partial combine: ONE shuffle of
    * one buffered row per (partition × group), strictly cheaper at scale
    * than the window/row_number formulation (full shuffle of every row +
    * per-group sort). SURVEY §4.3's suggested rewrite, applied directly.
    */
  def latestPerGroup(df: DataFrame, key: String, orderCol: String,
                     tiebreak: Seq[String] = Nil): DataFrame = {
    val payload = struct(df.columns.toIndexedSeq.map(col): _*)
    val ord = struct((orderCol +: tiebreak).map(col): _*)
    val picked = df.groupBy(col(key))
      .agg(max_by(payload, ord).as("_row"))
    picked.select(df.columns.toIndexedSeq.map(c => col(s"_row.$c").as(c)): _*)
  }

  /** A8 (window form) — kept for ordering-sensitive callers; shuffles every
    * row. Prefer [[latestPerGroup]] at scale.
    */
  def latestPerGroupWindow(df: DataFrame, key: String, orderCol: String,
                           tiebreak: Seq[String] = Nil): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy((col(orderCol).desc +: tiebreak.map(col(_).desc)): _*)
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Top-N rows per group (the A8 argmax generalized from 1 to n): rank by
    * `order` within each key group, keep ranks <= n, emit the rank. The
    * declarative window + rank-filter IS the scale-correct form on Spark 4:
    * `InferWindowGroupLimit` plants a `WindowGroupLimit` below the
    * exchange, so each map task forwards only its own top n per group —
    * the shuffle carries O(groups × n) per partition, not every row
    * (PlanSpec pins the WindowGroupLimit).
    */
  def topNPerGroup(df: DataFrame, keys: Seq[String],
                   order: Seq[org.apache.spark.sql.Column], n: Int): DataFrame = {
    require(keys.nonEmpty, "topNPerGroup: empty keys (use Ops.topN)")
    require(n >= 1, "topNPerGroup: n must be >= 1")
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= n)
  }

  /** Fixed-width histogram of a numeric column: bin = floor((x - lo) /
    * width) over [lo, lo + width·nbins); out-of-range rows drop. ONE
    * partial-aggregated pass (each task bins locally, the exchange carries
    * ≤ nbins partials per task) — the data-profiling primitive for range/
    * skew checks before choosing partition bounds at scale. Empty bins are
    * absent from the output (join `sequence` if a dense axis is needed).
    */
  def histogram(df: DataFrame, colName: String, lo: Double, width: Double,
                nbins: Int): DataFrame = {
    require(width > 0 && nbins >= 1, "histogram: width > 0 and nbins >= 1 required")
    df.filter(col(colName) >= lo && col(colName) < lo + width * nbins)
      .withColumn("bin", floor((col(colName) - lo) / width).cast("long"))
      .groupBy("bin").agg(count(lit(1)).as("n"))
  }

  /** Per-column data-quality profile: (col_name, n_nulls, n_distinct) for
    * each requested column, computed in ONE logical aggregate over the
    * table (Catalyst expands multi-distinct aggregates internally; null
    * counts ride along as plain sums). The first thing a pipeline runs on
    * an unfamiliar 100 TB table. Exact distinct counts — swap in
    * `approx_count_distinct` at extreme cardinality if ±2% is acceptable.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile: no columns requested")
    // coalesce: sum over an EMPTY table is null, but a profile of an empty
    // table should read "0 nulls, 0 distinct", not null
    val aggs = cols.flatMap(c => Seq(
      coalesce(sum(when(col(c).isNull, 1L).otherwise(0L)), lit(0L)).as(s"__nn_$c"),
      count_distinct(col(c)).as(s"__nd_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c => struct(lit(c).as("col_name"),
      col(s"__nn_$c").as("n_nulls"), col(s"__nd_$c").as("n_distinct")))
    row.select(explode(array(stacked: _*)).as("p")).select("p.*")
  }

  /** Numeric describe — the [[profile]] complement for numeric columns:
    * (col_name, n, mean, std, min, max) per requested column in ONE
    * aggregate pass (all statistics partial-aggregate; the exchange
    * carries one buffer per column). Mean/std round to 4 (the repo's
    * continuous-value convention — q1/dashboard oracles pin the same
    * recipe); min/max cast to double for a uniform long-format schema.
    */
  def describe(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "describe: no columns requested")
    val aggs = cols.flatMap(c => Seq(
      count(col(c)).as(s"__c_$c"),
      round(avg(col(c)), 4).as(s"__m_$c"),
      round(stddev_samp(col(c)), 4).as(s"__s_$c"),
      min(col(c)).cast("double").as(s"__lo_$c"),
      max(col(c)).cast("double").as(s"__hi_$c")))
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = cols.map(c => struct(lit(c).as("col_name"), col(s"__c_$c").as("n"),
      col(s"__m_$c").as("mean"), col(s"__s_$c").as("std"),
      col(s"__lo_$c").as("min"), col(s"__hi_$c").as("max")))
    row.select(explode(array(stacked: _*)).as("p")).select("p.*")
  }

  /** A9 — pivot (date × series matrix, `/root/reference/app.py:1013-1024`).
    * `values` must be supplied: with explicit pivot values Spark skips the
    * extra distinct-collect job AND the output schema is deterministic —
    * both required at scale and for oracle comparison. Conflicts keep max
    * (reference `app.py:1132`).
    */
  def pivotMax(df: DataFrame, rowKey: String, pivotCol: String,
               values: Seq[String], metric: String): DataFrame =
    pivotMax(df, Seq(rowKey), pivotCol, values, metric)

  /** A9, multi-key form — e.g. (series, month) × segment matrices. */
  def pivotMax(df: DataFrame, rowKeys: Seq[String], pivotCol: String,
               values: Seq[String], metric: String): DataFrame =
    df.groupBy(rowKeys.map(col): _*).pivot(pivotCol, values).agg(max(col(metric)))

  /** A10 — forward-fill (LOCF) per series (`/root/reference/app.py:1039-1045`).
    * `last(ignoreNulls).over(unboundedPreceding..current)` — one shuffle to
    * co-locate each series, then a single ordered pass per partition. Series
    * count (not series length) drives parallelism — fine when there are many
    * series, the common shape at scale.
    */
  def forwardFill(df: DataFrame, key: String, orderCols: Seq[String],
                  valueCol: String, filled: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(filled, last(col(valueCol), ignoreNulls = true).over(w))
  }

  /** A17 — trailing k-row rolling average per series
    * (`new_cases_smoothed` reproduction, SURVEY §2.2 A17).
    */
  def rollingAvg(df: DataFrame, key: String, orderCols: Seq[String],
                 valueCol: String, k: Int, out: String): DataFrame = {
    val w = Window.partitionBy(col(key))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(-(k - 1), Window.currentRow)
    df.withColumn(out, avg(col(valueCol)).over(w))
  }

  /** A18 — per-series lag difference (day-over-day-style delta): value −
    * previous value in (key, orderCols) order; null for each series' first
    * row. One shuffle to co-locate series, then a single sorted pass —
    * lag/lead share the window SortExec with any other same-spec window op.
    */
  def lagDelta(df: DataFrame, key: String, orderCols: Seq[String],
               valueCol: String, out: String): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(orderCols.map(col): _*)
    df.withColumn(out, col(valueCol) - lag(col(valueCol), 1).over(w))
  }

  /** X1 — guarded pairwise-complete Pearson r
    * (`/root/reference/src/dataframe.py:250-273`): null when fewer than
    * `minPairs` complete pairs, 0.0 on zero denominator (constant series).
    *
    * Built from covar_pop / stddev_pop rather than `corr`: under Spark 4's
    * ANSI default, `corr` raises DIVIDE_BY_ZERO on a constant series before
    * any outer guard can run (caught by AnalyticsSpec), while the
    * population moments never divide by a data-dependent zero and the one
    * explicit division sits behind a lazy CaseWhen. corr_pop ≡ corr_samp
    * (the n/(n-1) factors cancel), and the inputs are masked to
    * pairwise-complete rows so the stddevs see exactly the rows the
    * covariance sees.
    */
  def safeCorr(df: DataFrame, c1: String, c2: String, minPairs: Int = 3): Column = {
    val both = col(c1).isNotNull && col(c2).isNotNull
    val x = when(both, col(c1)); val y = when(both, col(c2))
    val pairs = count(when(both, 1))
    val den = stddev_pop(x) * stddev_pop(y)
    when(pairs >= minPairs,
      when(den === 0.0, 0.0).otherwise(covar_pop(x, y) / den))
  }

  /** X6 — per-column z-score standardization, the feature-scaling step of
    * a training pipeline: each requested column gains `{col}_z` =
    * (x − mean)/std (sample std, matching SQL `stddev`). ONE global
    * aggregate computes every column's moments (partials cross the
    * exchange, one buffer per column); the 1-row stats frame is broadcast
    * back onto a narrow projection — no second shuffle, no window over the
    * corpus. Degenerate columns (std NULL on n<2, or 0 on constant input)
    * yield NULL z-scores rather than an ANSI divide error; NULL inputs
    * stay NULL.
    *
    * `roundMoments = Some(k)` rounds mean/std to k decimals BEFORE the
    * division — the cross-engine-reproducibility switch: raw double
    * aggregates differ between engines (and between partitionings) in
    * their last ULPs because summation order differs, and that ULP rides
    * into every z-score; rounded moments are identical doubles everywhere,
    * making the standardized column bit-stable (the property the repo's
    * oracle gate — and any re-run of a 100 TB pipeline — needs).
    */
  def standardize(df: DataFrame, cols: Seq[String],
                  roundMoments: Option[Int] = None): DataFrame = {
    require(cols.nonEmpty, "standardize: no columns requested")
    def m(e: Column): Column = roundMoments.fold(e)(k => round(e, k))
    val aggs = cols.flatMap(c => Seq(
      m(avg(col(c))).as(s"__mu_$c"), m(stddev_samp(col(c))).as(s"__sd_$c")))
    val stats = df.agg(aggs.head, aggs.tail: _*)
    val zcols = cols.map { c =>
      when(col(s"__sd_$c").isNotNull && col(s"__sd_$c") =!= 0.0,
        (col(c) - col(s"__mu_$c")) / col(s"__sd_$c")).as(s"${c}_z")
    }
    df.crossJoin(broadcast(stats))
      .select(df.columns.toIndexedSeq.map(col) ++ zcols: _*)
  }

  /** X6b — [[standardize]] WITHIN groups (z-score per language, per
    * source, …): one grouped moments aggregate (partial+final, one buffer
    * per group × column), broadcast-joined back on the keys — the stats
    * side is #groups rows, vanishingly small next to the corpus, so the
    * join is a broadcast hash join with no corpus-side shuffle. Same
    * degenerate-input and `roundMoments` semantics as the global form.
    */
  def standardizeBy(df: DataFrame, keys: Seq[String], cols: Seq[String],
                    roundMoments: Option[Int] = None): DataFrame = {
    require(keys.nonEmpty, "standardizeBy: no group keys (use standardize)")
    require(cols.nonEmpty, "standardizeBy: no columns requested")
    def m(e: Column): Column = roundMoments.fold(e)(k => round(e, k))
    val aggs = cols.flatMap(c => Seq(
      m(avg(col(c))).as(s"__mu_$c"), m(stddev_samp(col(c))).as(s"__sd_$c")))
    val stats = df.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
    val zcols = cols.map { c =>
      when(col(s"__sd_$c").isNotNull && col(s"__sd_$c") =!= 0.0,
        (col(c) - col(s"__mu_$c")) / col(s"__sd_$c")).as(s"${c}_z")
    }
    df.join(broadcast(stats), keys, "left")
      .select(df.columns.toIndexedSeq.map(col) ++ zcols: _*)
  }

  /** X11 — robust per-group outlier scores via MAD (median absolute
    * deviation): mad_z = (x − median) / (1.4826·MAD), the outlier gate
    * that survives what wrecks the classical z-score — a single wild
    * value inflates mean AND stddev until nothing looks anomalous, while
    * the two medians barely move (curation use: doc-length / score
    * outlier cuts on heavy-tailed corpora). Zero or null MAD (≥ half the
    * group identical) → null score, as standardizeBy's degenerate rule.
    *
    * Scale shape: two grouped EXACT-median aggregates over the corpus
    * (a median's partial is a value → count map, not a fixed-size
    * number — two shuffles is the honest cost; Spark's
    * `approx_percentile` is the sketch escape), each producing a
    * #groups-row stats frame broadcast back onto narrow projections. The
    * corpus itself crosses each exchange as (keys, value) only.
    */
  def madScores(df: DataFrame, keys: Seq[String], c: String,
                outCol: String = "mad_z"): DataFrame = {
    require(keys.nonEmpty, "madScores: group keys required")
    val reserved = Set("__med", "__ad", "__mad")
    require(!df.columns.exists(reserved),
      s"madScores: input already has a reserved temp column (${reserved.mkString(", ")})")
    val med = df.groupBy(keys.map(col): _*).agg(median(col(c)).as("__med"))
    val withDev = df.join(broadcast(med), keys, "left")
      .withColumn("__ad", abs(col(c) - col("__med")))
    val mad = withDev.groupBy(keys.map(col): _*).agg(median(col("__ad")).as("__mad"))
    withDev.join(broadcast(mad), keys, "left")
      .select(df.columns.toIndexedSeq.map(col) :+
        when(col("__mad").isNotNull && col("__mad") =!= 0.0,
          (col(c) - col("__med")) / (lit(1.4826) * col("__mad"))).as(outCol): _*)
  }

  /** A21 — per-group running total (cumulative sum): the balance /
    * running-spend / cumulative-token-count window. One shuffle to
    * co-locate groups, one sorted pass; `orderCols` must totally order
    * each group (include a unique tiebreak) or the prefix sums are
    * ill-defined. Rows-between framing (not range) so ties still
    * accumulate one row at a time in the declared order — which also
    * makes the double summation ORDER fixed, hence reproducible across
    * engines and partitionings.
    */
  def runningTotal(df: DataFrame, keys: Seq[String], orderCols: Seq[String],
                   valueCol: String, outCol: String = "running_total"): DataFrame = {
    require(keys.nonEmpty && orderCols.nonEmpty, "runningTotal: keys and order required")
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(outCol, sum(col(valueCol)).over(w))
  }

  /** X7 — full pairwise Pearson correlation matrix over the requested
    * columns in ONE aggregate pass: all n·(n−1)/2 [[safeCorr]] cells
    * partial-aggregate together (one moments buffer each), then the
    * single result row explodes to long format (col_1, col_2, corr) —
    * the feature-redundancy screen run before training on tabular data.
    * Rounded to 4 (continuous-value convention); each cell carries
    * safeCorr's guards (pairwise-complete masking, n<minPairs → null,
    * zero variance → 0).
    */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "corrMatrix: need at least two columns")
    val pairs = for {
      i <- cols.indices; j <- (i + 1) until cols.size
    } yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      (round(safeCorr(df, a, b), 4) + lit(0.0)).as(s"__r_${a}__$b") }
    val row = df.agg(aggs.head, aggs.tail: _*)
    val stacked = pairs.map { case (a, b) =>
      struct(lit(a).as("col_1"), lit(b).as("col_2"),
        col(s"__r_${a}__$b").as("corr")) }
    row.select(explode(array(stacked: _*)).as("p")).select("p.*")
  }

  /** X14 — the DATASET CARD in one query: per-source document count, token
    * count, char count, distinct-fingerprint count, and the exact-duplicate
    * fraction — the manifest table every corpus release publishes (and the
    * input a mixing plan prices from: feed `n_tokens` to
    * [[Sampling.mixingPlan]]). ONE corpus pass: every column partial-
    * aggregates per source; the only exchange carries (source, 16-byte
    * fingerprint) pairs for the distinct count — the d1 fingerprint shape,
    * linear in the corpus with map-side distinct reduction. All columns are
    * exact integer arithmetic except `dup_frac` (one IEEE division of two
    * exact longs, rounded to 6) — no float summation anywhere, so the
    * relation hash-gates across engines.
    */
  def corpusReport(docs: DataFrame, textCol: String,
                   sourceCol: String): DataFrame = {
    import graft.functions.Text
    docs.filter(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol).as("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(Text.wsTokens(col(textCol))).cast("long").as("n_tokens"),
        sum(length(col(textCol))).cast("long").as("n_chars"),
        count_distinct(Text.fingerprint(col(textCol))).as("n_unique"))
      .withColumn("dup_frac",
        round(lit(1.0) - col("n_unique").cast("double") / col("n_docs").cast("double"), 6))
  }

}
