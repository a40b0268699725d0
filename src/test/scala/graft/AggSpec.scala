package graft

import graft.operators.Agg
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, expr}

/** G1–G3/A3/A7 edge semantics pinned to the reference
  * (`/root/reference/src/dataframe.py:28-87`).
  */
class AggSpec extends SparkTestBase {
  import spark.implicits._

  private def df = Seq(
    ("a", Some(1.0)), ("a", Some(3.0)),            // group a: n=2
    ("b", Some(2.0)),                              // group b: n=1
    ("c", None), ("c", None),                      // group c: all-null values
    (null.asInstanceOf[String], Some(10.0))        // null group key
  ).toDF("k", "v")

  test("count is GROUP ROW COUNT, even when every value is null (dataframe.py:53-54)") {
    val out = Agg.groupAgg(df, Seq("k"), Seq("v" -> Seq("count")))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(out("a") == 2 && out("b") == 1 && out("c") == 2)
  }

  test("null is a valid group key (dataframe.py:25; Spark groups nulls identically)") {
    val out = Agg.groupAgg(df, Seq("k"), Seq("v" -> Seq("sum")))
      .filter("k IS NULL").collect()
    assert(out.length == 1 && out(0).getDouble(1) == 10.0)
  }

  test("std is SAMPLE stddev and null for n<2 (dataframe.py:76-82)") {
    val out = Agg.groupAgg(df, Seq("k"), Seq("v" -> Seq("std")))
      .collect().map(r => (r.getString(0), Option(r.get(1)))).toMap
    assert(out("b").isEmpty, "n=1 group must be null, not NaN")
    assert(out("c").isEmpty, "all-null group must be null")
    assert(approx(out("a").get.asInstanceOf[Double], math.sqrt(2.0)), "sample std of {1,3} = sqrt(2)")
  }

  test("all-null value column yields null for sum/avg/min/max/median (dataframe.py:55-56)") {
    val out = Agg.groupAgg(df, Seq("k"), Seq("v" -> Seq("sum", "avg", "min", "max", "median")))
      .filter("k = 'c'").collect()(0)
    (1 to 5).foreach(i => assert(out.isNullAt(i), s"col $i must be null for all-null group"))
  }

  test("median exact: avg-of-middle-two for even n, middle for odd (dataframe.py:68-75)") {
    val even = Seq(("g", 1.0), ("g", 2.0), ("g", 10.0), ("g", 20.0)).toDF("k", "v")
    val odd = Seq(("g", 1.0), ("g", 5.0), ("g", 100.0)).toDF("k", "v")
    assert(Agg.groupAgg(even, Seq("k"), Seq("v" -> Seq("median"))).collect()(0).getDouble(1) == 6.0)
    assert(Agg.groupAgg(odd, Seq("k"), Seq("v" -> Seq("median"))).collect()(0).getDouble(1) == 5.0)
  }

  test("string column aggregates via try_cast bridge: non-numerics skipped (dataframe.py:48, SURVEY 7.4.1)") {
    val mixed = Seq(("g", "1"), ("g", "2.5"), ("g", "oops"), ("g", "")).toDF("k", "v")
    val out = Agg.groupAgg(mixed, Seq("k"), Seq("v" -> Seq("count", "sum")))
      .collect()(0)
    assert(out.getLong(1) == 4, "count stays row-count")
    assert(out.getDouble(2) == 3.5, "sum skips non-numeric cells")
  }

  test("unknown aggregate fn raises (dataframe.py:83-84)") {
    intercept[IllegalArgumentException] {
      Agg.groupAgg(df, Seq("k"), Seq("v" -> Seq("mode")))
    }
  }

  test("output columns follow {fn}_{col} naming (dataframe.py:34)") {
    val cols = Agg.groupAgg(df, Seq("k"), Seq("v" -> Agg.SupportedFns)).columns.toSeq
    assert(cols == Seq("k", "count_v", "sum_v", "avg_v", "min_v", "max_v", "median_v", "std_v"))
  }

  test("globalAgg aggregates without a dummy group key (app.py:938-988)") {
    val out = Agg.globalAgg(df, Seq("v" -> Seq("count", "sum")))
    assert(out.columns.toSeq == Seq("count_v", "sum_v"))
    val r = out.collect()(0)
    assert(r.getLong(0) == 6 && r.getDouble(1) == 16.0)
  }

  test("latestTable computes every metric in ONE pass (app.py:122-157 collapsed)") {
    val t = Seq((1, 5.0, "x"), (1, 9.0, "a"), (2, 3.0, "z")).toDF("id", "m1", "m2")
    val out = Agg.latestTable(t, "id", Seq("m1", "m2")).orderBy("id").collect()
    assert(out(0) == Row(1, 9.0, "x") && out(1) == Row(2, 3.0, "z"))
  }

  test("minMax returns global min/max (app.py:248-251)") {
    val r = Agg.minMax(df.filter("v IS NOT NULL"), "v").collect()(0)
    assert(r.getDouble(0) == 1.0 && r.getDouble(1) == 10.0)
  }

  test("distinctCount: exact per group") {
    val t = Seq(("a", 1), ("a", 1), ("a", 2), ("b", 9)).toDF("k", "v")
    val exact = Agg.distinctCount(t, Seq("k"), "v")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact == Map("a" -> 2L, "b" -> 1L))
  }

  test("rollupAgg emits subtotal rows with null keys plus a grand total") {
    val t = Seq(("a", "x", 1.0), ("a", "y", 2.0), ("b", "x", 4.0)).toDF("k1", "k2", "v")
    val out = Agg.rollupAgg(t, Seq("k1", "k2"), Seq("v" -> Seq("sum")))
      .collect().map(r => (Option(r.getString(0)), Option(r.getString(1)), r.getDouble(2))).toSet
    assert(out == Set(
      (Some("a"), Some("x"), 1.0), (Some("a"), Some("y"), 2.0), (Some("b"), Some("x"), 4.0),
      (Some("a"), None, 3.0), (Some("b"), None, 4.0), (None, None, 7.0)))
  }

  test("groupAgg median: nulls skipped, all-null group null, even n interpolated") {
    val hand = Seq(
      ("a", Some(1.0)), ("a", Some(3.0)), ("a", Some(2.0)),
      ("b", Some(1.0)), ("b", Some(2.0)), ("b", Some(3.0)), ("b", Some(10.0)),
      ("c", None), ("c", Some(7.0)),
      ("d", None)
    ).toDF("k", "v")
    val got = Agg.groupAgg(hand, Seq("k"), Seq("v" -> Seq("median"))).collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1)))).toMap
    assert(got == Map("a" -> Some(2.0), "b" -> Some(2.5), "c" -> Some(7.0), "d" -> None))
  }

  test("agg state: merge of disjoint batches == full recompute, any merge order (X10)") {
    val rnd = new scala.util.Random(7)
    val t = (1 to 2000).map(i => (s"k${i % 5}", rnd.nextDouble() * 100 - 50))
      .toDF("k", "v").repartition(8)
    val batches = Seq(
      t.where(expr("crc32(cast(v as string)) % 3 = 0")),
      t.where(expr("crc32(cast(v as string)) % 3 = 1")),
      t.where(expr("crc32(cast(v as string)) % 3 = 2")))
    val full = Agg.finalizeAggState(Agg.buildAggState(t, Seq("k"), "v"), Seq("k"))
      .orderBy("k").collect().map(_.toSeq).toSeq
    // merged in two different orders — decimal sums make both bit-equal
    // to the full recompute
    def merged(bs: Seq[org.apache.spark.sql.DataFrame]) =
      Agg.finalizeAggState(
        Agg.mergeAggState(bs.map(Agg.buildAggState(_, Seq("k"), "v")), Seq("k")),
        Seq("k")).orderBy("k").collect().map(_.toSeq).toSeq
    assert(merged(batches) == full)
    assert(merged(batches.reverse) == full)
    // a merge of one state is the identity
    assert(merged(Seq(t)) == full)
    // null values: count skips them, min/max ignore them
    val withNull = Seq(("a", Some(1.0)), ("a", None), ("b", Some(2.0)))
      .toDF("k", "v")
    val st = Agg.finalizeAggState(Agg.buildAggState(withNull, Seq("k"), "v"), Seq("k"))
      .orderBy("k").collect()
    assert(st(0).getLong(1) == 1L && st(0).getDouble(2) == 1.0)
  }

  test("distinct-sketch state: daily-union equals the whole-corpus sketch, survives parquet (X10c)") {
    import spark.implicits._
    val df = (1L to 5000L).map(i => (i, i % 700, if (i % 2 == 0) "a" else "b"))
      .toDF("row_id", "v", "g")
    // the union of batch sketches must carry the SAME REGISTERS as the
    // one-pass sketch - hll_union_agg is a register-wise max, the monoid
    // property the state-plus-delta lifecycle rests on. The serialized
    // image is NOT byte-comparable (the union emits an HLL_8-coded image
    // where the direct sketch is HLL_4 - same registers, wider encoding),
    // so the pin is the ESTIMATE, a pure function of the registers:
    // merged and one-pass must agree exactly (a long)
    val batches = Seq(0L, 1L, 2L).map(r =>
      Agg.buildDistinctSketchState(df.filter(col("row_id") % 3 === r), Seq("g"), "v"))
    val merged = Agg.mergeDistinctSketchState(batches, Seq("g"))
    val single = Agg.buildDistinctSketchState(df, Seq("g"), "v")
    def estimates(st: org.apache.spark.sql.DataFrame) =
      Agg.estimateDistinctState(st, Seq("g")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(estimates(merged) == estimates(single),
      "union of daily sketches must estimate exactly like the whole-corpus sketch")
    def images(st: org.apache.spark.sql.DataFrame) = st.collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]]("state_hll").toSeq).toMap
    // the estimate respects the published rsd bound against the exact count
    val est = estimates(merged)
    Seq("a", "b").foreach { g =>
      val exact = df.filter(col("g") === g).select("v").distinct().count()
      assert(math.abs(est(g) - exact) <= math.max(3 * 1.04 / math.sqrt(1 << 12) * exact, 4.0),
        s"estimate for $g: ${est(g)} vs exact $exact")
    }
    // the binary state round-trips parquet unchanged (the x10b lifecycle
    // applies as-is)
    val dir = "target/tmp/aggspec_x10c_state"
    merged.write.mode("overwrite").parquet(dir)
    assert(images(spark.read.parquet(dir)) == images(merged))
    // recipe drift (mixed lgK) must fail loudly, never degrade silently
    val other = Agg.buildDistinctSketchState(df, Seq("g"), "v", lgK = 10)
    intercept[Exception] {
      Agg.mergeDistinctSketchState(Seq(single, other), Seq("g")).collect()
    }
  }
}
