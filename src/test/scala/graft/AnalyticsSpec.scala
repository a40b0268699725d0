package graft

import graft.operators.Analytics
import org.apache.spark.sql.functions._

/** A8/A9/A10/A17/X1 semantics (reference loops → distributed operators). */
class AnalyticsSpec extends SparkTestBase {
  import spark.implicits._

  test("latestPerGroup keeps the argmax row; tiebreak makes it deterministic (app.py:711-729)") {
    val t = Seq(
      (1, Some("2020-01-01"), 100, "a"),
      (1, Some("2020-03-01"), 300, "b"),
      (1, Some("2020-03-01"), 200, "c"),  // date tie -> higher id wins
      (1, None, 900, "n"),                // a null date loses to any date
      (2, Some("2020-02-01"), 50, "d"),
      (3, None, 7, "e"),                  // all-null group: still one row,
      (3, None, 8, "f")                   // the tiebreak picks it
    ).toDF("g", "date", "id", "payload")
    val out = Analytics.latestPerGroup(t, "g", "date", Seq("id"))
      .orderBy("g").collect()
    assert(out.map(_.getString(3)).toSeq == Seq("b", "d", "f"),
      "one row per group: ties broken by max id, null dates last")
    assert(out(0).toSeq == Seq(1, "2020-03-01", 300, "b"), "every input column, in order")
    // the body's rank column would silently replace an input column of that name
    intercept[IllegalArgumentException](
      Analytics.latestPerGroup(t.withColumnRenamed("payload", "rank"), "g", "date"))
  }

  test("pivotMax keeps MAX on key conflicts (app.py:1132)") {
    val t = Seq(("r1", "A", 1.0), ("r1", "A", 9.0), ("r1", "B", 2.0)).toDF("k", "p", "v")
    val out = Analytics.pivotMax(t, "k", "p", Seq("A", "B"), "v").collect()(0)
    assert(out.getDouble(1) == 9.0 && out.getDouble(2) == 2.0)
  }

  test("forwardFill carries the last non-null within the series only (app.py:1039-1045)") {
    val t = Seq(
      ("u1", 1, Some(10.0)), ("u1", 2, None), ("u1", 3, None), ("u1", 4, Some(40.0)),
      ("u2", 1, None), ("u2", 2, Some(5.0))
    ).toDF("k", "t", "v")
    val out = Analytics.forwardFill(t, "k", Seq("t"), "v", "f")
      .orderBy("k", "t").select("f").collect().map(r => Option(r.get(0)))
    assert(out.toSeq == Seq(Some(10.0), Some(10.0), Some(10.0), Some(40.0), None, Some(5.0)),
      "fills forward per series; leading nulls stay null (no cross-series leak)")
  }

  test("forwardFill is idempotent (SURVEY 5.3 property)") {
    val t = Seq(("u", 1, Some(1.0)), ("u", 2, None), ("u", 3, Some(3.0))).toDF("k", "t", "v")
    val once = Analytics.forwardFill(t, "k", Seq("t"), "v", "f")
    val twice = Analytics.forwardFill(once.drop("v").withColumnRenamed("f", "v"),
      "k", Seq("t"), "v", "f")
    assert(once.select("k", "t", "f").collect().toSet ==
      twice.select("k", "t", "f").collect().toSet)
  }

  test("rollingAvg: trailing k-row mean per series (A17)") {
    val t = Seq(("u", 1, 2.0), ("u", 2, 4.0), ("u", 3, 6.0), ("u", 4, 8.0)).toDF("k", "t", "v")
    val out = Analytics.rollingAvg(t, "k", Seq("t"), "v", 2, "ra")
      .orderBy("t").select("ra").as[Double].collect().toSeq
    assert(out == Seq(2.0, 3.0, 5.0, 7.0))
  }

  test("safeCorr: null under min pairs; 0.0 for constant series; exact for linear (dataframe.py:250-273)") {
    val few = Seq((1.0, 1.0), (2.0, 2.0)).toDF("x", "y")
    assert(few.agg(Analytics.safeCorr(few, "x", "y")).collect()(0).isNullAt(0),
      "2 pairs < min_pairs=3 -> null")
    val const = Seq((1.0, 5.0), (2.0, 5.0), (3.0, 5.0)).toDF("x", "y")
    assert(const.agg(Analytics.safeCorr(const, "x", "y")).collect()(0).getDouble(0) == 0.0,
      "zero denominator -> 0.0, not null")
    val lin = Seq((1.0, 2.0), (2.0, 4.0), (3.0, 6.0)).toDF("x", "y")
    assert(approx(lin.agg(Analytics.safeCorr(lin, "x", "y")).collect()(0).getDouble(0), 1.0))
  }

  test("safeCorr counts pairwise-COMPLETE pairs toward the guard") {
    val t = Seq((Some(1.0), Some(1.0)), (Some(2.0), None), (None, Some(3.0)),
      (Some(4.0), Some(4.0))).toDF("x", "y")
    assert(t.agg(Analytics.safeCorr(t, "x", "y")).collect()(0).isNullAt(0),
      "only 2 complete pairs -> under guard -> null")
  }

  test("histogram: floor binning, inclusive lo, exclusive hi, out-of-range drops (X3)") {
    val df = Seq(-0.1, 0.0, 4.9, 5.0, 9.99, 10.0, 14.9, 15.0).toDF("v")
    val out = Analytics.histogram(df, "v", 0.0, 5.0, 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // [0,5): {0.0, 4.9}; [5,10): {5.0, 9.99}; [10,15): {10.0, 14.9}; -0.1 and 15.0 drop
    assert(out == Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
  }

  test("profile: per-column null and distinct counts in one pass (X4)") {
    val df = Seq((Some(1), Some("a")), (Some(1), None), (None, Some("b")), (Some(2), Some("a")))
      .toDF("x", "y")
    val out = Analytics.profile(df, Seq("x", "y"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out("x") == ((1L, 2L)), "one null x; distinct {1,2}")
    assert(out("y") == ((1L, 2L)), "one null y; distinct {a,b} (nulls excluded from distinct)")
  }

  test("standardize: z-columns have mean~0/std~1; constant and null-heavy columns degrade to null (X6)") {
    val df = Seq((1.0, 5.0, Some(2.0)), (2.0, 5.0, None), (3.0, 5.0, Some(4.0)),
      (4.0, 5.0, None)).toDF("x", "c", "n")
    val out = Analytics.standardize(df, Seq("x", "c", "n"))
    assert(out.columns.toSeq == Seq("x", "c", "n", "x_z", "c_z", "n_z"),
      "originals preserved, one _z per requested column")
    val xs = out.select("x_z").as[Double].collect()
    val mean = xs.sum / xs.length
    val std = math.sqrt(xs.map(v => (v - mean) * (v - mean)).sum / (xs.length - 1))
    assert(approx(mean, 0.0, 1e-12) && approx(std, 1.0, 1e-12))
    assert(out.filter($"c_z".isNotNull).count() == 0, "zero-variance column → null, not a divide error")
    val nz = out.select("n", "n_z").collect()
    assert(nz.count(_.isNullAt(1)) == 2, "null inputs stay null")
  }

  test("standardize(roundMoments): z from round-4 moments — the engine-portable recipe") {
    val df = Seq(10.0, 20.0, 30.0).toDF("v")
    val out = Analytics.standardize(df, Seq("v"), roundMoments = Some(4))
      .select("v_z").as[Double].collect().sorted
    assert(approx(out(0), -1.0, 1e-9) && approx(out(1), 0.0, 1e-9) && approx(out(2), 1.0, 1e-9))
  }

  test("standardizeBy: moments are per group, not global (X6b)") {
    val df = Seq(("a", 1.0), ("a", 2.0), ("a", 3.0), ("b", 10.0), ("b", 30.0))
      .toDF("g", "v")
    val out = Analytics.standardizeBy(df, Seq("g"), Seq("v"))
      .select("g", "v", "v_z").as[(String, Double, Double)].collect()
    val a = out.filter(_._1 == "a").sortBy(_._2).map(_._3)
    assert(approx(a(0), -1.0) && approx(a(1), 0.0) && approx(a(2), 1.0),
      "group a standardized against ITS mean 2/std 1")
    val b = out.filter(_._1 == "b").sortBy(_._2).map(_._3)
    // group b: mean 20, sample std sqrt(200) → z = ±10/sqrt(200)
    assert(approx(b(0), -10.0 / math.sqrt(200.0)) && approx(b(1), 10.0 / math.sqrt(200.0)),
      s"group b uses its own moments: ${b.toSeq}")
  }

  test("runningTotal: per-group prefix sums in declared order; groups independent (A21)") {
    val df = Seq(("a", 1L, 10.0), ("a", 2L, 5.0), ("a", 3L, 2.5),
      ("b", 1L, 100.0), ("b", 2L, 1.0)).toDF("g", "seq", "v")
    val out = Analytics.runningTotal(df, Seq("g"), Seq("seq"), "v")
      .select("g", "seq", "running_total").as[(String, Long, Double)]
      .collect().sortBy(t => (t._1, t._2)).toSeq
    assert(out == Seq(("a", 1L, 10.0), ("a", 2L, 15.0), ("a", 3L, 17.5),
      ("b", 1L, 100.0), ("b", 2L, 101.0)))
  }

  test("corrMatrix: one row per unordered pair; known correlations (X7)") {
    val df = Seq((1.0, 2.0, -1.0), (2.0, 4.0, -2.0), (3.0, 6.0, -3.0), (4.0, 8.0, -4.0))
      .toDF("x", "y", "z")
    val out = Analytics.corrMatrix(df, Seq("x", "y", "z"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out.size == 3, "3 unordered pairs for 3 columns")
    assert(approx(out(("x", "y")), 1.0) && approx(out(("x", "z")), -1.0) &&
      approx(out(("y", "z")), -1.0))
  }

  test("madScores: a single wild value cannot blind the gate the way it blinds z-scores (X11)") {
    import spark.implicits._
    // 100 values near 10 plus one at 10000: the outlier must still score
    // extreme under MAD, while its own presence drags the z denominator
    val base = (1 to 100).map(i => ("g", 10.0 + (i % 5))) :+ (("g", 10000.0))
    val df = base.toDF("k", "v")
    val mad = Analytics.madScores(df, Seq("k"), "v")
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    val z = Analytics.standardizeBy(df, Seq("k"), Seq("v"))
      .collect().map(r => r.getDouble(1) -> r.getDouble(2)).toMap
    assert(mad(10000.0) > 100.0, s"MAD keeps the outlier extreme: ${mad(10000.0)}")
    assert(z(10000.0) < 11.0, s"z is blinded by its own outlier: ${z(10000.0)}")
    assert(math.abs(mad(12.0)) < 2.0, "inliers stay small under MAD")
    // degenerate: constant group -> MAD 0 -> null scores, never a divide
    val const = Seq(("c", 5.0), ("c", 5.0), ("c", 5.0)).toDF("k", "v")
    assert(Analytics.madScores(const, Seq("k"), "v").collect().forall(_.isNullAt(2)))
  }

  test("corpusReport: the dataset card matches hand-computed values (X14)") {
    // src a: 3 docs, one exact dup pair (normalized: case/punct collapse);
    // src b: 2 unique docs; null source dropped
    val docs = Seq(
      (1L, "Alpha beta!", "a"), (2L, "alpha beta", "a"), (3L, "gamma delta", "a"),
      (4L, "one two three", "b"), (5L, "four", "b"),
      (6L, "ignored", null.asInstanceOf[String])
    ).toDF("doc_id", "text", "source")
    val got = Analytics.corpusReport(docs, "text", "source")
      .orderBy("source")
      .as[(String, Long, Long, Long, Long, Double)].collect().toSeq
    assert(got == Seq(
      // a: 3 docs, 2+2+2 tokens, 11+10+11 chars, 2 unique fps, dup 1/3
      ("a", 3L, 6L, 32L, 2L, BigDecimal(1.0 - 2.0 / 3.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble),
      // b: 2 docs, 3+1 tokens, 13+4 chars, 2 unique, dup 0
      ("b", 2L, 4L, 17L, 2L, 0.0)), s"got $got")
  }
}
