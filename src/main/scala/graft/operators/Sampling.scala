package graft.operators

import graft.functions.Text
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Reproducible corpus sampling for training-data pipelines.
  *
  * `rand()`-based sampling is nondeterministic across runs, engines, and
  * task retries — useless for reproducible dataset construction. These
  * samplers decide membership from an md5-derived 60-bit hash of the row's
  * id plus a seed: the same (id, seed) is kept or dropped identically on
  * any engine with an md5 (oracle-checkable in SQL), under any
  * partitioning, on any retry. Embarrassingly parallel — a narrow filter,
  * no shuffle, pushed work is one hash per row.
  */
object Sampling {

  private val HashSpace = 1L << 60

  /** Keep ~`fraction` of rows, decided by hash(id, seed). */
  def deterministicSample(df: DataFrame, idCol: String, fraction: Double,
                          seed: Long = 0L): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0,1]")
    val threshold = (BigDecimal(fraction) * BigDecimal(HashSpace)).toLong
    df.filter(
      Text.tokenHash60(concat(col(idCol).cast("string"), lit(s"_$seed"))) < threshold)
  }

  /** Fixed-size per-group quota sample: the `k` rows of each group with the
    * smallest id-hash (ties broken by id) — "keep 10k docs per language"
    * corpus balancing. Deterministic and engine-portable like the fraction
    * samplers: membership is a pure function of (id, seed, k). One shuffle
    * to co-locate groups, per-group sort of hashes; groups are the
    * parallelism unit (same shape as sessionization — fine when groups are
    * many, the corpus-balancing case).
    */
  def quotaSample(df: DataFrame, idCol: String, groupCol: String, k: Int,
                  seed: Long = 0L): DataFrame = {
    require(k >= 1, "quotaSample: k must be >= 1")
    val h = Text.tokenHash60(concat(col(idCol).cast("string"), lit(s"_q$seed")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(groupCol)).orderBy(h.asc, col(idCol).asc)
    df.withColumn("_qrn", row_number().over(w))
      .filter(col("_qrn") <= k)
      .drop("_qrn")
  }

  /** Deterministic dataset split (train/val/test): each row lands in
    * exactly ONE named band of the 60-bit id-hash space, bands sized by
    * cumulative fractions computed EXACTLY (BigDecimal — no float
    * accumulation drift in the thresholds). The assignment is a pure
    * function of (id, seed): stable across runs, engines, partitionings,
    * and retries — the property a train/test split must have, since a row
    * that migrates between train and test on a re-run silently contaminates
    * evaluation. Fractions summing to < 1 leave a null-split remainder
    * (dropped by the caller or kept as holdout). Narrow — one hash per row,
    * no shuffle.
    */
  def datasetSplit(df: DataFrame, idCol: String, splits: Seq[(String, Double)],
                   seed: Long = 0L): DataFrame = {
    require(splits.nonEmpty, "datasetSplit: no bands")
    require(splits.forall(_._2 >= 0.0), "datasetSplit: negative fraction")
    val total = splits.map(s => BigDecimal(s._2)).sum
    require(total <= BigDecimal(1), s"datasetSplit: fractions sum to $total > 1")
    val h = Text.tokenHash60(concat(col(idCol).cast("string"), lit(s"_sp$seed")))
    val thresholds = splitThresholds(splits)
    val assigned = splits.map(_._1).zip(thresholds).foldLeft(Option.empty[org.apache.spark.sql.Column]) {
      case (None, (name, th)) => Some(when(h < th, lit(name)))
      case (Some(acc), (name, th)) => Some(acc.when(h < th, lit(name)))
    }.get.otherwise(lit(null).cast("string"))
    df.withColumn("split", assigned)
  }

  /** Cumulative 60-bit-space thresholds for [[datasetSplit]] — shared with
    * the oracle-SQL generator so both sides use identical Long constants.
    */
  def splitThresholds(splits: Seq[(String, Double)]): Seq[Long] =
    splits.scanLeft(BigDecimal(0)) { case (acc, (_, f)) => acc + BigDecimal(f) }
      .tail.map(c => (c * BigDecimal(HashSpace)).toLong)

  /** Resample a multi-source corpus to TARGET MIXTURE proportions — the
    * data-mixing step of training-set construction ("the blend should be
    * 50% web, 30% code, 20% books"). The largest feasible output is taken:
    * the limiting source keeps everything (cap T = min over sources of
    * n_s / share_s) and every other source downsamples to T·share_s rows
    * in expectation. Membership is the same engine-portable id-hash
    * Bernoulli as the other samplers; the per-source thresholds derive
    * from the observed counts through a FIXED arithmetic shape
    * (T·share/n, floored into the 60-bit space) so an oracle computing the
    * same expression gets bit-identical thresholds. Sources absent from
    * `shares` are dropped (weight zero). Counts are one small aggregate;
    * the per-source threshold table broadcasts back onto a narrow filter.
    */
  def mixtureSample(df: DataFrame, idCol: String, sourceCol: String,
                    shares: Map[String, Double], seed: Long = 0L): DataFrame =
    mixtureImpl(df, idCol, sourceCol, count(lit(1)).as("_n"), shares, seed)

  /** [[mixtureSample]] generalized to a WEIGHTED mixing unit — blend by
    * token/char BUDGET instead of document count, which is what a target
    * like "50% of training TOKENS from web" actually means. With
    * w_s = Σ weight over source s and doc-level Bernoulli keep probability
    * p_s = min(1, T·share_s / w_s), the kept weight from source s is
    * T·share_s in expectation — the blend holds in the weighted unit while
    * membership stays the same engine-portable per-document id-hash coin
    * (a document is kept or dropped whole; fractional-document mixing
    * doesn't exist in corpus construction). T = min_s(w_s / share_s): the
    * budget-limiting source keeps everything. Weights must be non-negative
    * and that IS ENFORCED for every source in `shares`: min(weight) rides
    * the same per-source stats aggregate (no extra pass) and a negative
    * weight in a blended source raises — a negative-sum source would
    * otherwise be dropped by the `_n > 0` filter indistinguishably from an
    * absent one, and per-row negatives silently skew the kept-weight
    * expectation. Sources NOT in the share map are dropped unchecked,
    * like their zero-weight siblings — guaranteed by construction, not by
    * predicate ordering: the raise condition itself requires the source to
    * be in the share map. The fixed arithmetic shape matches
    * [[mixtureSample]] so the oracle replays bit-identically.
    */
  def mixtureSampleByWeight(df: DataFrame, idCol: String, sourceCol: String,
                            weightCol: String, shares: Map[String, Double],
                            seed: Long = 0L): DataFrame =
    mixtureImpl(df, idCol, sourceCol, sum(col(weightCol)).as("_n"), shares, seed,
      minAgg = Some(min(col(weightCol)).as("_minw")))

  private def mixtureImpl(df: DataFrame, idCol: String, sourceCol: String,
                          sizeAgg: org.apache.spark.sql.Column,
                          shares: Map[String, Double], seed: Long,
                          minAgg: Option[org.apache.spark.sql.Column] = None): DataFrame = {
    require(shares.nonEmpty, "mixtureSample: empty shares")
    require(shares.values.forall(_ > 0.0), "mixtureSample: shares must be > 0")
    val shareCol = shares.foldLeft(lit(null).cast("double")) { case (acc, (s, f)) =>
      when(col(sourceCol) === s, lit(f)).otherwise(acc)
    }
    // sources whose size/weight sum is 0 (or all-NULL) are dropped like
    // sources absent from the share map: a zero-weight source would
    // otherwise poison the cap (T = 0 zeroes every other threshold) while
    // its own keep probability divides 0/0 → NaN, which least(1.0, NaN)
    // resolves to 1.0 — keeping exactly the degenerate source and nothing
    // else. Never reachable for the count form (groups have >= 1 row).
    //
    // minAgg (the weighted form): min(weight), checked declaratively via
    // raise_error with zero extra passes (it rides the same stats
    // aggregate; the error fires when the threshold table materializes).
    // The raise is scoped to BLENDED sources inside the branch CONDITION
    // itself (`_share IS NOT NULL AND _minw < 0`): the raise_error sits in
    // the branch VALUE, so an unmapped source can never trip it no matter
    // how the optimizer orders the surrounding filter predicates, and a
    // blended negative-sum source raises whenever `_n` is evaluated —
    // including by the `_n > 0` predicate that would otherwise hide it.
    val stats = df.groupBy(sourceCol).agg(sizeAgg, minAgg.toSeq: _*)
      .withColumn("_share", shareCol)
    val checked = minAgg match {
      case Some(_) => stats.withColumn("_n",
        when(col("_share").isNotNull && col("_minw") < 0,
          raise_error(concat(lit("mixtureSampleByWeight: negative weight in source '"),
            col(sourceCol).cast("string"), lit("' (weights must be non-negative)"))))
          .otherwise(col("_n")))
      case None => stats
    }
    val j = checked
      .filter(col("_share").isNotNull && col("_n") > 0)
    val t = j.agg(min(col("_n") / col("_share")).as("_T"))
    val p = j.crossJoin(t)
      .withColumn("_p", least(lit(1.0), col("_T") * col("_share") / col("_n")))
      .withColumn("_th", floor(col("_p") * lit(HashSpace.toDouble)).cast("long"))
      .select(col(sourceCol), col("_th"))
    val h = Text.tokenHash60(concat(col(idCol).cast("string"), lit(s"_mx$seed")))
    df.join(broadcast(p), sourceCol)
      .filter(h < col("_th"))
      .select(df.columns.toIndexedSeq.map(col): _*)
  }

  /** S5m — TEMPERATURE-scaled mixture: resample the corpus toward shares
    * ∝ (n_g/N)^(1/T) — the multilingual sampling rule (mBERT/XLM-R style):
    * T = 1 reproduces the natural distribution, T → ∞ approaches uniform,
    * and intermediate T up-weights low-resource groups without the
    * replication an up-SAMPLER would need (this is a sampler: the
    * largest-feasible blend at those shares, via [[mixtureSample]]'s cap
    * arithmetic — the share-limiting group keeps everything and the rest
    * downsample to match).
    *
    * Scale shape: one map-side-combined per-group count, collected to the
    * driver (bounded by group cardinality — the languages/sources, the
    * s5i-total pattern), then the mixture sampler's broadcast-threshold
    * narrow filter. Derived shares are rounded to 9 decimals so the
    * `pow` is reproducible across engines (libm vs Math.pow agree well
    * inside 1 ulp; the rounding collapses that) — the oracle re-derives
    * the shares in SQL. Rows with a NULL group drop (no coin), matching
    * the mixture sampler's absent-source contract.
    */
  def temperatureSample(df: DataFrame, idCol: String, sourceCol: String,
                        temperature: Double, seed: Long = 0L): DataFrame = {
    require(temperature > 0.0, "temperatureSample: temperature must be > 0")
    val alpha = 1.0 / temperature
    val counts = df.filter(col(sourceCol).isNotNull)
      .groupBy(sourceCol).agg(count(lit(1)).as("_n"))
      .collect().map(r => (r.get(0).toString, r.getLong(1)))
    require(counts.nonEmpty, "temperatureSample: no non-null groups")
    val total = counts.map(_._2).sum.toDouble
    val shares = counts.map { case (g, n) =>
      g -> BigDecimal(math.pow(n / total, alpha))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.toMap
    mixtureSample(df, idCol, sourceCol, shares, seed)
  }

  /** Weighted Bernoulli sample: row kept with probability
    * `min(1, rate × weight)` — quality-weighted corpus selection ("keep
    * high-quality documents preferentially, at an overall ~rate·E[w]
    * yield"). Membership is the same engine-portable id-hash coin as the
    * other samplers — a pure function of (id, seed, weight), deterministic
    * under retry and identical in any engine with md5 — so upweighting a
    * document never flips an unrelated row's fate (each row has its own
    * fixed coin; raising its weight only raises its own threshold). NULL
    * or negative weights drop the row. Narrow: one hash + one multiply per
    * row, no shuffle.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     rate: Double, seed: Long = 0L): DataFrame = {
    require(rate >= 0.0, "weightedSample: rate must be >= 0")
    val p = least(lit(1.0), lit(rate) * col(weightCol))
    val threshold = floor(p * lit(HashSpace.toDouble)).cast("long")
    df.filter(col(weightCol) >= 0.0 &&
      Text.tokenHash60(concat(col(idCol).cast("string"), lit(s"_w$seed"))) < threshold)
  }

  /** S5i — token-budget selection: the highest-`scoreCol` documents, in
    * (score desc, id asc) order, until their cumulative `tokensCol` fills
    * `budgetTokens` — the greedy prefix every "train on the best N tokens"
    * curation cut needs. The first document that would overflow the budget
    * stops the prefix (later, smaller documents are NOT back-filled:
    * greedy-prefix, so the selected set is a pure function of the order).
    *
    * Scale shape — the global running total WITHOUT the single-partition
    * trap: a window with an empty partitionBy pulls the whole corpus into
    * ONE task, so instead this is the classic two-level distributed prefix
    * sum. Range-repartition on the selection order, per-partition running
    * sums (window partitioned by `spark_partition_id()` — partition-local),
    * per-partition token totals reduce to ≤`shuffle.partitions` rows whose
    * exclusive prefix becomes each partition's offset, broadcast-joined
    * back; the only single-partition window runs over the tiny totals
    * frame. The ranged frame is MATERIALIZED (persist, the A15 level)
    * before fan-out — this is correctness, not just the one-scan saving:
    * `spark_partition_id()` is nondeterministic to Catalyst, so the two
    * consumers would otherwise each re-execute the range exchange with
    * independently SAMPLED boundaries (RangePartitioner seeds by rdd id),
    * and a row's pid in the running-sum branch need not match the pids
    * behind the offsets it joins — silently shifted cumulative sums. One
    * materialization pins one boundary set for both (plan-pinned in the
    * spec: both branches read the InMemoryTableScan). Global cumulative
    * sums are a pure function of the TOTAL (score desc, id) order, so the
    * result is independent of input partitioning and of where the range
    * boundaries fall. Exact long arithmetic throughout (t6's rule: token
    * sums past 2^53 must not lose precision in doubles).
    *
    * Pass a narrow (id, score, tokens) projection — the selection shuffles
    * its input twice (range + pid co-location), so project before, join
    * bodies back after on the id.
    *
    * Token-count contract: `tokensCol` must be NON-NULL and ≥ 0 on every
    * row — a negative count makes the cumulative sum non-monotone (the
    * `cum ≤ budget` filter is then no longer the greedy prefix) and a null
    * is skipped by the window sum (the row would ride along at zero cost).
    * Both are data errors, so they FAIL the job loudly (a guarded
    * `raise_error` fused into the cast — no extra validation pass) rather
    * than silently corrupt the selection, mirroring
    * [[mixtureSampleByWeight]]'s negative-weight enforcement.
    *
    * Cache lifecycle: the ranged frame's persist is REQUIRED for
    * pid-consistency (see above); it is a [[graft.Caches]] loan.
    */
  def tokenBudgetSelect(df: DataFrame, idCol: String, scoreCol: String,
                        tokensCol: String, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 0, "tokenBudgetSelect: budget must be >= 0")
    val reserved = Set("_graft_pid", "_graft_run", "_graft_off")
    require(!df.columns.exists(reserved), s"tokenBudgetSelect: reserved column present")
    if (budgetTokens == 0) return df.limit(0)
    val toks = checkedTokens(tokensCol, "tokenBudgetSelect")
    val order = Seq(col(scoreCol).desc, col(idCol).asc)
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val ranged = graft.Caches.persistLoaned(
      df.repartitionByRange(parts, order: _*)
        .withColumn("_graft_pid", spark_partition_id()))
    val wRun = Window.partitionBy("_graft_pid").orderBy(order: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val run = ranged.withColumn("_graft_run", sum(toks).over(wRun))
    val totals = ranged.groupBy("_graft_pid").agg(sum(toks).as("_graft_t"))
    val wOff = Window.orderBy("_graft_pid")
      .rowsBetween(Window.unboundedPreceding, -1) // tiny frame: ≤ parts rows
    val offsets = totals
      .withColumn("_graft_off", coalesce(sum("_graft_t").over(wOff), lit(0L)))
      .drop("_graft_t")
    run.join(broadcast(offsets), "_graft_pid")
      .filter(col("_graft_run") + col("_graft_off") <= budgetTokens)
      .drop("_graft_pid", "_graft_run", "_graft_off")
  }

  /** Validated long token count: non-null and ≥ 0 or the job fails with a
    * row-level error (see [[tokenBudgetSelect]]'s token-count contract).
    */
  private def checkedTokens(tokensCol: String, op: String): Column =
    when(col(tokensCol).isNotNull && col(tokensCol) >= 0, col(tokensCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"$op: $tokensCol must be non-null and >= 0, got "),
        coalesce(col(tokensCol).cast("string"), lit("NULL")))))

  /** S5k — [[tokenBudgetSelect]] per GROUP: the best-scored prefix of each
    * group until that group's budget fills ("2B tokens per language" — the
    * form a mixing recipe actually states). Groups absent from `budgets`
    * are dropped.
    *
    * Scale shape: here the running sum needs no prefix-sum machinery — the
    * window partitions on the group key, so it is one keyed exchange and a
    * per-group sorted fold; groups are the parallelism unit (fine when
    * groups are many or group sizes bounded — the per-language case; for
    * ONE giant group use [[tokenBudgetSelect]]). Exact long arithmetic.
    * Token counts follow [[tokenBudgetSelect]]'s contract: null or
    * negative `tokensCol` fails the job loudly.
    */
  def tokenBudgetSelectPerGroup(df: DataFrame, idCol: String, groupCol: String,
                                scoreCol: String, tokensCol: String,
                                budgets: Map[String, Long]): DataFrame = {
    require(budgets.nonEmpty, "tokenBudgetSelectPerGroup: empty budgets")
    require(budgets.values.forall(_ >= 0), "tokenBudgetSelectPerGroup: negative budget")
    require(!df.columns.contains("_graft_run"),
      "tokenBudgetSelectPerGroup: reserved column _graft_run present")
    val w = Window.partitionBy(groupCol)
      .orderBy(col(scoreCol).desc, col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val budget = budgets.foldLeft(lit(-1L)) { case (acc, (g, b)) =>
      when(col(groupCol) === g, lit(b)).otherwise(acc)
    }
    df.withColumn("_graft_run",
        sum(checkedTokens(tokensCol, "tokenBudgetSelectPerGroup")).over(w))
      .filter(col("_graft_run") <= budget)
      .drop("_graft_run")
  }

  /** S5n — deterministic FIXED-SIZE sample: exactly min(k, n) rows,
    * chosen as the k smallest id-hashes — "give me a 10k-document eval
    * set" with none of `rand()`'s instability and none of a rate-based
    * sampler's size variance. Membership is a pure function of
    * (id, seed): stable under retry, partitioning, and engine (the same
    * md5 coin as every sampler here), and growing the corpus only evicts
    * the largest-hash members (bounded churn, like consistent hashing).
    *
    * Scale shape: `TakeOrderedAndProject` — per-partition k-heaps, k rows
    * per partition to the driver-side merge, never a global sort. For k
    * beyond driver memory use [[deterministicSample]] (rate form) — the
    * fixed-k contract is what wants the heap.
    */
  def fixedSample(df: DataFrame, idCol: String, k: Int,
                  seed: Long = 0L): DataFrame = {
    require(k >= 0, "fixedSample: k must be >= 0")
    require(!df.columns.contains("_graft_h"),
      "fixedSample: reserved column _graft_h present")
    val h = Text.tokenHash60(concat(col(idCol).cast("string"), lit(s"_fx$seed")))
    df.withColumn("_graft_h", h)
      .orderBy(col("_graft_h").asc, col(idCol).asc)
      .limit(k)
      .drop("_graft_h")
  }

  /** S5o — deterministic EPOCH REPLICATION: per-group FRACTIONAL repeat
    * factors, the upsampling half of a mixing recipe ("repeat the
    * high-quality source 2.5×") that the samplers' keep-fractions can't
    * express. Factor f ⇒ every row appears ⌊f⌋ times plus one more with
    * probability frac(f), decided by the same md5 coin as every sampler
    * here — so the realized mixture is a pure function of (id, seed),
    * stable under retry, partitioning, and engine. Output gains a
    * 0-based `epoch` column so replicas are DISTINCT rows downstream
    * (dedup-by-id after this operator would silently undo the recipe —
    * key on (id, epoch)). Groups absent from the map are dropped: the
    * recipe is explicit, as in [[stratifiedSample]].
    *
    * Scale shape: one narrow pass — the factor lookup is a literal CASE
    * chain, the replication an explode over a ≤⌈f⌉-element sequence; no
    * shuffle, no join. Expected output ≈ Σ_g f_g·n_g rows.
    */
  def epochReplicate(df: DataFrame, idCol: String, groupCol: String,
                     factors: Map[String, Double], seed: Long = 0L): DataFrame = {
    require(factors.nonEmpty, "epochReplicate: empty factors")
    require(factors.values.forall(_ >= 0.0), "epochReplicate: factors must be >= 0")
    val reserved = Set("epoch", "_graft_n")
    require(!df.columns.exists(reserved), "epochReplicate: reserved column present")
    val h = Text.tokenHash60(concat(col(idCol).cast("string"), lit(s"_ep$seed")))
    val copies = factors.foldLeft(lit(-1L)) { case (acc, (g, f)) =>
      val whole = f.toLong
      val thr = ((BigDecimal(f) - whole) * BigDecimal(HashSpace)).toLong
      when(col(groupCol) === g,
        lit(whole) + when(h < thr, 1L).otherwise(0L)).otherwise(acc)
    }
    df.withColumn("_graft_n", copies)
      .filter(col("_graft_n") >= 1) // absent groups (-1) and 0-copy rows drop
      .withColumn("epoch", explode(sequence(lit(0L), col("_graft_n") - 1)))
      .drop("_graft_n")
  }

  /** S5p — the mixing-recipe SOLVER: one row per source with the
    * temperature-derived share, the token/char budget it earns, and the
    * REPEAT FACTOR that realizes it — the missing middle of the recipe
    * arc this library already ships ([[Dedup.sourceOverlapMatrix]] prices
    * cross-source duplication, [[temperatureSample]] states the share
    * rule, [[epochReplicate]] executes a factor map). A training run
    * states "B tokens at temperature T over these sources"; this operator
    * turns that sentence into the per-source plan: share_g ∝ (w_g/W)^(1/T)
    * (T = 1 natural, T → ∞ uniform), target_g = B·share_g, factor_g =
    * target_g / w_g (> 1 ⇒ upsample via [[epochReplicate]], < 1 ⇒
    * downsample — the same factor map drives both, since the replicator's
    * fractional coin IS a Bernoulli keep below 1).
    *
    * Engine-portable arithmetic (the s5m discipline, extended to the
    * budget split): the share weights are frozen to INTEGERS
    * raw_g = round(round((w_g/W)^α, 9)·10⁹) — the 9-dp round collapses
    * libm-vs-Math.pow ulps, the integerization makes the normalizing sum
    * EXACT and order-independent — and the budget splits by integer
    * arithmetic target_g = ⌊B·raw_g / Σraw⌋ in 38-digit decimals (B·raw
    * overflows a long at real budgets: 10¹³ tokens × 10⁹ scale). The two
    * emitted doubles (`share`, `repeat_factor`) are each ONE IEEE division
    * of exact integers, bit-identical on any engine. NULL sources and
    * zero/negative-total sources are excluded (no share, no coin — the
    * mixture samplers' contract).
    *
    * Scale shape: one map-side-combined per-source aggregate (the corpus
    * pass), then two one-row broadcasts over the ≤|sources| plan relation
    * — the plan itself never shuffles the corpus again. Downstream
    * execution is [[epochReplicate]]'s narrow explode.
    */
  def mixingPlan(df: DataFrame, sourceCol: String, weightCol: String,
                 temperature: Double, budget: Long): DataFrame = {
    require(temperature > 0.0, "mixingPlan: temperature must be > 0")
    require(budget > 0L, "mixingPlan: budget must be > 0")
    val alpha = 1.0 / temperature
    val stats = df.filter(col(sourceCol).isNotNull)
      .groupBy(col(sourceCol).as("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col(weightCol)).cast("long").as("n_weight"))
      .filter(col("n_weight") > 0)
    val tot = stats.agg(sum("n_weight").cast("double").as("_total"))
    val raw = stats.crossJoin(broadcast(tot))
      .withColumn("_raw",
        round(round(pow(col("n_weight").cast("double") / col("_total"), alpha), 9)
          * lit(1e9)).cast("long"))
    val sumRaw = raw.agg(sum("_raw").as("_sumraw"))
    raw.crossJoin(broadcast(sumRaw))
      .withColumn("share", col("_raw").cast("double") / col("_sumraw").cast("double"))
      .withColumn("target_weight",
        expr(s"CAST(CAST($budget AS DECIMAL(38,0)) * _raw DIV _sumraw AS BIGINT)"))
      .withColumn("repeat_factor",
        col("target_weight").cast("double") / col("n_weight").cast("double"))
      .select("source", "n_docs", "n_weight", "share", "target_weight",
        "repeat_factor")
  }

  /** Stratified variant: per-stratum keep fractions (e.g. per-language
    * corpus balancing). Strata absent from the map are dropped.
    */
  def stratifiedSample(df: DataFrame, idCol: String, stratumCol: String,
                       fractions: Map[String, Double], seed: Long = 0L): DataFrame = {
    require(fractions.nonEmpty, "stratifiedSample: empty fractions")
    val h = Text.tokenHash60(concat(col(idCol).cast("string"), lit(s"_$seed")))
    val threshold = fractions.foldLeft(lit(-1L)) { case (acc, (stratum, f)) =>
      when(col(stratumCol) === stratum,
        lit((BigDecimal(f) * BigDecimal(HashSpace)).toLong)).otherwise(acc)
    }
    df.filter(h < threshold)
  }
}
