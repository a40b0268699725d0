package graft.operators

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.functions._

/** J1 — equi hash join with the reference's surface.
  *
  * Reference (`/root/reference/src/dataframe.py:214-248`): inner|left only;
  * right columns renamed `r_<name>`; null keys never equi-match (SQL
  * semantics — Spark matches); unmatched left rows null-padded under
  * 'left'. Unlike the reference (which silently corrupts on an existing
  * `r_x` collision, `dataframe.py:230-233`), we fail fast — documented
  * deviation, SURVEY §7.4.5.
  *
  * Scale notes: the physical strategy is Catalyst's choice — broadcast-hash
  * for a small build side (use [[broadcastJoin]] for known dimension
  * tables: ships the dim to every executor, NO shuffle of the fact table),
  * shuffled-hash/sort-merge otherwise, with AQE demoting/promoting at
  * runtime from observed sizes and splitting skewed partitions.
  */
object Joins {

  /** Renames every right column to `r_<name>`, failing fast if the rename
    * would collide with an existing left column — shared by all join paths
    * so none can silently produce ambiguous names.
    */
  private def prefixRight(left: DataFrame, right: DataFrame): DataFrame = {
    val collisions = left.columns.toSet.intersect(right.columns.map("r_" + _).toSet)
    require(collisions.isEmpty,
      s"join would collide on renamed right columns: ${collisions.mkString(",")}")
    right.columns.foldLeft(right)((d, c) => d.withColumnRenamed(c, s"r_$c"))
  }

  def hashJoin(left: DataFrame, right: DataFrame, on: (String, String),
               how: String = "inner"): DataFrame = {
    require(how == "inner" || how == "left",
      s"join type '$how' not supported by the reference surface (inner|left)")
    val r = prefixRight(left, right)
    left.join(r, col(on._1) === col(s"r_${on._2}"), how)
  }

  /** Same semantics, right side explicitly broadcast (dimension-table path).
    * At 100 TB the fact side never moves: each executor builds the hash
    * table from the broadcast dim locally.
    */
  def broadcastJoin(left: DataFrame, right: DataFrame, on: (String, String),
                    how: String = "inner"): DataFrame = {
    require(how == "inner" || how == "left", s"unsupported join type '$how'")
    val r = prefixRight(left, right)
    left.join(broadcast(r), col(on._1) === col(s"r_${on._2}"), how)
  }

  /** Full-outer join with the same `r_` prefixing — beyond the reference's
    * inner|left surface (it raises NotImplementedError for other modes,
    * `dataframe.py:222-223`; SURVEY §2.3 lists outer as a free built-in).
    * Null-padded on BOTH unmatched sides; null keys never equi-match, so
    * null-keyed rows from each side surface as their own padded rows.
    */
  def fullJoin(left: DataFrame, right: DataFrame, on: (String, String)): DataFrame = {
    val r = prefixRight(left, right)
    left.join(r, col(on._1) === col(s"r_${on._2}"), "full_outer")
  }

  /** Existence joins — absent from the reference (SURVEY §2.3) but part of
    * the complete join surface. Semi/anti ship NO right-side columns: the
    * build side reduces to its distinct keys before broadcast/shuffle, so
    * the probe side streams through unexpanded — the scale-correct form of
    * `WHERE [NOT] EXISTS`.
    */
  def semiJoin(left: DataFrame, right: DataFrame, on: (String, String)): DataFrame =
    left.join(right, left(on._1) === right(on._2), "left_semi")

  def antiJoin(left: DataFrame, right: DataFrame, on: (String, String)): DataFrame =
    left.join(right, left(on._1) === right(on._2), "left_anti")

  /** As-of join (point-in-time join): for each left row, attach the single
    * LATEST right row whose time is <= the left row's time, per key —
    * left-join semantics (no match → null right side), right columns
    * `r_`-prefixed. The operator Spark's built-ins lack; standard in
    * time-series/feature-store pipelines.
    *
    * Scale design — the union-merge formulation, NOT a range join: both
    * sides are tagged and unioned, ONE shuffle co-partitions by key, and a
    * running `last(right_payload, ignoreNulls)` window ordered by
    * (time, tag, tiebreak) carries the most recent right row forward onto
    * each left row. Build rows sort before probe rows at equal time (tag
    * 0 < 1 ⇒ "<=" semantics). Cost: one exchange + one per-key ordered
    * pass — no per-row probing, no range-bucket explosion, robust to any
    * time skew. Null-key and null-TIME right rows are excluded (a null
    * never satisfies `t <= point`); null-key or null-time left rows emit
    * with a null right side. Ties among right rows at the same (key, time)
    * resolve to the greatest `tiebreak` value when given, else arbitrarily.
    */
  /** Tagged union shared by the as-of join variants: probe rows (tag 1)
    * and build rows (tag 0) normalized to (_k, _t, _tag, _lrow, _rrow, _tb).
    * Build rows with null key or null time are excluded (a null never
    * satisfies `t <= point`); probe rows pass through (they emit with a
    * null right side downstream).
    */
  private def asofTagged(left: DataFrame, right: DataFrame, on: (String, String),
                         time: (String, String), tiebreak: Option[String]): DataFrame = {
    val collisions = left.columns.toSet.intersect(right.columns.map("r_" + _).toSet)
    require(collisions.isEmpty,
      s"asofJoin would collide on renamed right columns: ${collisions.mkString(",")}")
    val lStructT = left.select(struct(left.columns.toIndexedSeq.map(col): _*)).schema.head.dataType
    val rStructT = right.select(struct(right.columns.toIndexedSeq.map(col): _*)).schema.head.dataType
    val tbType = tiebreak.map(c => right.select(col(c)).schema.head.dataType.catalogString)
      .getOrElse("int")
    val l = left.select(
      col(on._1).as("_k"), col(time._1).as("_t"), lit(1).as("_tag"),
      struct(left.columns.toIndexedSeq.map(col): _*).as("_lrow"),
      lit(null).cast(rStructT).as("_rrow"),
      lit(null).cast(tbType).as("_tb"))
    val r = right.filter(col(on._2).isNotNull && col(time._2).isNotNull).select(
      col(on._2).as("_k"), col(time._2).as("_t"), lit(0).as("_tag"),
      lit(null).cast(lStructT).as("_lrow"),
      struct(right.columns.toIndexedSeq.map(col): _*).as("_rrow"),
      tiebreak.map(col(_).cast(tbType)).getOrElse(lit(null).cast(tbType)).as("_tb"))
    l.unionByName(r)
  }

  private def asofProject(left: DataFrame, right: DataFrame)(probes: DataFrame): DataFrame =
    probes.select(left.columns.toIndexedSeq.map(c => col(s"_lrow.$c").as(c)) ++
      right.columns.toIndexedSeq.map(c => col(s"_r.$c").as(s"r_$c")): _*)

  def asofJoin(left: DataFrame, right: DataFrame, on: (String, String),
               time: (String, String), tiebreak: Option[String] = None): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("_k"))
      .orderBy(col("_t").asc, col("_tag").asc, col("_tb").asc_nulls_first)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    asofProject(left, right)(
      asofTagged(left, right, on, time, tiebreak)
        .withColumn("_r", last(col("_rrow"), ignoreNulls = true).over(w))
        .filter(col("_tag") === 1))
  }

  /** Skew-hardened as-of join: [[asofJoin]] puts each key's FULL history in
    * one window task — correct, but a hot key (one device emitting half the
    * stream) serializes onto a single core. This variant buckets time into
    * `width`-sized blocks and runs two passes, mirroring [[rangeJoin]]'s
    * blocking:
    *   1. per (key, bucket): the running `last(build_row)` window — the hot
    *      key's history now spreads over its time buckets, so the heavy
    *      pass partitions on (key, bucket);
    *   2. per key over BUCKET SUMMARIES (one row per key×bucket — bounded
    *      by timespan/width, not by row count): the final build row of each
    *      bucket, carried forward into every later bucket (window ends at
    *      -1 PRECEDING: strictly-earlier buckets only).
    * A probe row takes its within-bucket carry if one exists, else the
    * carry-in from the latest earlier bucket. Same output as [[asofJoin]]
    * (JoinsSpec pins parity); ties among build rows at one (key, time)
    * resolve to the greatest tiebreak — pass `tiebreak` for full
    * determinism under duplicate times, as with [[asofJoin]].
    *
    * Integral times bucket with exact `div`; fractional times with
    * floor-division (documented: double floor past 2^53 can misbucket —
    * epoch-micros longs stay exact).
    */
  def asofJoinBucketed(left: DataFrame, right: DataFrame, on: (String, String),
                       time: (String, String), width: Long,
                       tiebreak: Option[String] = None): DataFrame = {
    require(width > 0, "asofJoinBucketed: width must be positive")
    val tagged = asofTagged(left, right, on, time, tiebreak)
    val isIntegral = tagged.schema("_t").dataType match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val u = tagged.withColumn("_b",
      if (isIntegral) expr(s"_t div $width") else floor(col("_t") / width).cast("long"))
    val W = org.apache.spark.sql.expressions.Window
    val wLocal = W.partitionBy(col("_k"), col("_b"))
      .orderBy(col("_t").asc, col("_tag").asc, col("_tb").asc_nulls_first)
      .rowsBetween(W.unboundedPreceding, W.currentRow)
    val local = u.withColumn("_rloc", last(col("_rrow"), ignoreNulls = true).over(wLocal))
    // Final build row per bucket, on every (key, bucket) that has ANY row:
    // one conditional aggregate — max over (t, tb, row) structs of the
    // build rows only (max skips the nulls the when() gives probe rows;
    // struct comparison puts null tb first, matching the window's
    // asc_nulls_first "last wins"), null _bfin for build-less buckets.
    // This replaces a separate build-only aggregate + a distinct over all
    // (key, bucket) + a left join reuniting them — three consumers of the
    // tagged union collapsed to two, one exchange and one join removed
    // (guide §2.4); same relation, JoinsSpec pins parity with asofJoin.
    val wCarry = W.partitionBy(col("_k")).orderBy(col("_b").asc_nulls_first)
      .rowsBetween(W.unboundedPreceding, -1)
    val carry = u.groupBy("_k", "_b")
      .agg(max(when(col("_tag") === 0, struct(col("_t"), col("_tb"), col("_rrow"))))
        .getField("_rrow").as("_bfin"))
      .withColumn("_carry", last(col("_bfin"), ignoreNulls = true).over(wCarry))
      .select("_k", "_b", "_carry")
    asofProject(left, right)(
      local.filter(col("_tag") === 1)
        .join(carry, Seq("_k", "_b"), "left")
        .withColumn("_r", coalesce(col("_rloc"), col("_carry"))))
  }

  /** Range (interval) join: match each left POINT row to every right
    * INTERVAL row with the same key whose `[lo, hi]` contains the point —
    * another operator Spark's built-ins lack (a naive `BETWEEN` join
    * condition plans a broadcast-nested-loop or per-key cartesian).
    *
    * Scale design — bucketized blocking: points map to ONE time bucket
    * (`floor(p / width)`), intervals explode to every bucket they overlap;
    * a plain shuffled equi-join on (key, bucket) then meets each
    * qualifying pair EXACTLY once (the point's single bucket), and the
    * residual `lo <= p <= hi` filter is evaluated only on bucket-colliding
    * pairs. Shuffle volume: points ×1, intervals ×(span/width + 1) — pick
    * `width` near the typical interval span. Right columns `r_`-prefixed;
    * inner-join semantics (unmatched points drop).
    */
  def rangeJoin(points: DataFrame, intervals: DataFrame,
                on: (String, String), pointCol: String,
                loCol: String, hiCol: String, width: Long): DataFrame = {
    require(width > 0, "rangeJoin: width must be positive")
    val r = prefixRight(points, intervals)
    val l = points.withColumn("_b", floor(col(pointCol) / width))
    val rb = r.filter(col(s"r_$loCol") <= col(s"r_$hiCol"))
      .withColumn("_b", explode(sequence(
        floor(col(s"r_$loCol") / width), floor(col(s"r_$hiCol") / width))))
    l.join(rb, l(on._1) === rb(s"r_${on._2}") && l("_b") === rb("_b"))
      .filter(col(pointCol) >= col(s"r_$loCol") && col(pointCol) <= col(s"r_$hiCol"))
      .drop("_b")
  }

  /** Skew escape hatch: salt the left (skewed) side's key into `buckets`
    * sub-keys and explode the right side once per bucket, so one hot key
    * spreads over `buckets` reducers. AQE's skew-join handles most cases
    * automatically; this is for deliberate, known-hot keys.
    *
    * The right side is replicated IN FULL `buckets`× — correct and cheap
    * for the intended dim-sized right table, a surprise 8× blow-up for a
    * fact-sized one. The guard counts the right side and refuses when
    * rows × buckets exceeds `maxExplodedRows`; raise the limit (or pass 0
    * to disable) only when the replication is a deliberate choice. For a
    * large skewed-right case, salt the other way around or rely on AQE's
    * skew-join split.
    *
    * NOTE the guard is an EAGER Spark job at call time (a behavior
    * departure from fully-lazy construction — the lshTopK-guard trade): the
    * right side is persisted around the count so a derived/uncached right
    * pipeline computes its lineage once, and the same persisted frame feeds
    * the join. Resource contract (Spark's CacheManager matches entries by
    * canonical plan, so persisting any plan-equal copy IS persisting the
    * caller's relation): a right side the caller or the Tables memo has
    * already cached is used as it is and never unpersisted by graft;
    * otherwise the guard persists it as ONE `Caches` loan, ended at once
    * when the guard trips and on the happy path left live so the join's
    * materialization reuses it, until `Caches.releaseAll` / `drain`.
    * Repeated calls on the same right frame share that single entry — they
    * do not accumulate. The caller may also release it early with
    * `right.unpersist()` (plan-matched). Pass `maxExplodedRows = 0` to keep
    * construction fully lazy (and cache-free) when the right side's size is
    * known by contract.
    */
  def saltedJoin(left: DataFrame, right: DataFrame, on: (String, String),
                 buckets: Int, maxExplodedRows: Long = 1L << 24): DataFrame = {
    require(buckets >= 1, "saltedJoin: buckets must be >= 1")
    val rightSide = if (maxExplodedRows > 0) {
      val cached = graft.Caches.persistLoaned(right)
      val rc = cached.count()
      if (rc * buckets > maxExplodedRows) graft.Caches.endLoan(cached)
      require(rc * buckets <= maxExplodedRows,
        s"saltedJoin: right side has $rc rows × $buckets buckets = " +
          s"${rc * buckets} exploded rows (limit $maxExplodedRows). saltedJoin " +
          "replicates the ENTIRE right side per bucket — it is a skew escape " +
          "hatch for dim-sized right tables. Raise maxExplodedRows (or pass 0) " +
          "to override deliberately, or use AQE skew-join for large right sides.")
      cached
    } else right
    // Salt derived from the row's own HASHABLE values (+ a fixed seed):
    // deterministic under task retry, unlike monotonically_increasing_id.
    // Map-typed columns are excluded — `hash` rejects MapType. Identical
    // rows land in the same bucket — acceptable: duplicates of one row are
    // bounded, the hot KEY still spreads across buckets.
    def hashable(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => false
      case s: org.apache.spark.sql.types.StructType => s.fields.forall(f => hashable(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hashable(a.elementType)
      case _ => true
    }
    val saltCols = left.schema.fields.toIndexedSeq
      .filter(f => hashable(f.dataType)).map(f => col(f.name))
    require(saltCols.nonEmpty, "saltedJoin: no hashable columns to derive a salt from")
    val salted = left.withColumn("_salt",
      pmod(hash(saltCols :+ lit(0x5a17): _*), lit(buckets)))
    val exploded = prefixRight(left, rightSide)
      .withColumn("_salt", explode(sequence(lit(0), lit(buckets - 1))))
    salted
      .join(exploded,
        col(on._1) === col(s"r_${on._2}") && salted("_salt") === exploded("_salt"),
        "inner")
      .drop("_salt")
  }

  /** J6 — pre-join skew diagnostic: the `topK` hottest key values with
    * their row count, global share, and skew factor (count ÷ mean rows per
    * distinct key). This is how a pipeline KNOWS a key is hot before
    * reaching for [[saltedJoin]] (deliberate salting wants a measured
    * culprit, not a guess) or before trusting AQE's runtime split to
    * handle it; skew ≈ 1 everywhere means neither is needed.
    *
    * Cost at 100 TB: one map-side-combined groupBy — only (key, count)
    * partials cross the exchange, never rows — then everything downstream
    * operates on the distinct-key frame: the totals reduce to ONE
    * broadcast row and the top-k is a `TakeOrderedAndProject` (per-
    * partition heaps of k), never a global sort.
    */
  def skewStats(df: DataFrame, keys: Seq[String], topK: Int = 20): DataFrame = {
    require(keys.nonEmpty && topK >= 1, "skewStats: keys and topK required")
    val counts = df.groupBy(keys.map(col): _*).agg(count(lit(1)).as("n"))
    val tot = counts.agg(sum(col("n")).as("_tot"), count(lit(1)).as("_keys"))
    counts.crossJoin(broadcast(tot))
      .select(keys.map(col) ++ Seq(col("n"),
        round(col("n").cast("double") / col("_tot"), 6).as("share"),
        round(col("n").cast("double") * col("_keys") / col("_tot"), 4).as("skew")): _*)
      .orderBy(col("n").desc +: keys.map(col(_).asc): _*)
      .limit(topK)
  }
}
