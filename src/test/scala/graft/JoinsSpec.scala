package graft

import graft.operators.Joins
import org.apache.spark.sql.functions.{lit, map}

/** J1 edge semantics pinned to `/root/reference/src/dataframe.py:214-248`. */
class JoinsSpec extends SparkTestBase {
  import spark.implicits._

  private def left = Seq(
    (Some(1), "l1"), (Some(2), "l2"), (Some(2), "l2b"), (None, "lnull"), (Some(9), "lmiss")
  ).toDF("k", "lv")

  private def right = Seq(
    (Some(1), "r1"), (Some(2), "r2a"), (Some(2), "r2b"), (None, "rnull")
  ).toDF("k", "rv")

  test("inner join: 1-to-many expansion, right columns r_-prefixed (dataframe.py:231-237)") {
    val out = Joins.hashJoin(left, right, ("k", "k"))
    assert(out.columns.toSeq == Seq("k", "lv", "r_k", "r_rv"))
    // l1 matches 1 row; each of l2/l2b matches 2 rows => 1 + 4 = 5
    assert(out.count() == 5)
  }

  test("null keys never match — not even null==null (dataframe.py:227; SQL semantics)") {
    val out = Joins.hashJoin(left, right, ("k", "k"))
    assert(out.filter("k IS NULL").count() == 0)
  }

  test("left join: unmatched left rows (incl. null-key) null-padded (dataframe.py:242-246)") {
    val out = Joins.hashJoin(left, right, ("k", "k"), "left")
    assert(out.count() == 7, "5 matches + lnull + lmiss")
    val padded = out.filter("r_k IS NULL").select("lv").as[String].collect().toSet
    assert(padded == Set("lnull", "lmiss"))
  }

  test("unsupported join type raises (dataframe.py:222-223)") {
    intercept[IllegalArgumentException](Joins.hashJoin(left, right, ("k", "k"), "outer"))
  }

  test("r_ prefix collision fails fast on all three join paths (SURVEY 7.4.5 deviation)") {
    val poisoned = left.withColumnRenamed("lv", "r_rv") // collides with renamed right rv
    intercept[IllegalArgumentException](Joins.hashJoin(poisoned, right, ("k", "k")))
    intercept[IllegalArgumentException](Joins.broadcastJoin(poisoned, right, ("k", "k")))
    intercept[IllegalArgumentException](Joins.saltedJoin(poisoned, right, ("k", "k"), 4))
  }

  test("semi join keeps matching left rows once, no right columns; anti is its complement") {
    val semi = Joins.semiJoin(left, right, ("k", "k"))
    assert(semi.columns.toSeq == Seq("k", "lv"), "semi join must not ship right columns")
    assert(semi.select("lv").as[String].collect().toSet == Set("l1", "l2", "l2b"),
      "matching rows appear ONCE despite 1-to-many right matches")
    val anti = Joins.antiJoin(left, right, ("k", "k"))
    assert(anti.select("lv").as[String].collect().toSet == Set("lnull", "lmiss"),
      "anti keeps non-matching rows incl. null keys")
  }

  test("asofJoin: latest right row at or before each left time, per key") {
    val probe = Seq((1L, "u1", 100L), (2L, "u1", 200L), (3L, "u2", 50L), (4L, "u3", 10L))
      .toDF("id", "k", "t")
    val build = Seq((10L, "u1", 90L), (11L, "u1", 100L), (12L, "u1", 150L),
      (13L, "u2", 60L)).toDF("id", "k", "t")
    val out = Joins.asofJoin(probe, build, ("k", "k"), ("t", "t"), tiebreak = Some("id"))
      .select("id", "r_id").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L) == Some(11L), "equal time matches (<= semantics)")
    assert(out(2L) == Some(12L), "latest preceding wins")
    assert(out(3L).isEmpty, "build row AFTER probe time does not match")
    assert(out(4L).isEmpty, "key with no build rows null-pads")
  }

  test("asofJoin ties at same (key,time) resolve to the greatest tiebreak deterministically") {
    val probe = Seq((1L, "u", 100L)).toDF("id", "k", "t")
    val build = Seq((7L, "u", 100L), (9L, "u", 100L), (8L, "u", 100L)).toDF("id", "k", "t")
    val out = Joins.asofJoin(probe, build, ("k", "k"), ("t", "t"), tiebreak = Some("id"))
    assert(out.select("r_id").collect()(0).getLong(0) == 9L)
  }

  test("asofJoin: null-time build rows never match; null-time probe rows null-pad") {
    val probe = Seq((1L, "u", Some(100L)), (2L, "u", None)).toDF("id", "k", "t")
    val build = Seq((10L, "u", None: Option[Long]), (11L, "u", Some(90L))).toDF("id", "k", "t")
    val out = Joins.asofJoin(probe, build, ("k", "k"), ("t", "t"), tiebreak = Some("id"))
      .select("id", "r_id").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L) == Some(11L), "null-time build row must not shadow the real predecessor")
    assert(out(2L).isEmpty, "a probe row with no defined time matches nothing")
  }

  test("asofJoinBucketed: cross-bucket carry, within-bucket match, and null handling match asofJoin") {
    val probe = Seq((1L, "u1", 100L), (2L, "u1", 200L), (3L, "u2", 50L), (4L, "u3", 10L),
      (5L, "u1", 9000L), (6L, "u2", 55L)).toDF("id", "k", "t")
    val build = Seq((10L, "u1", 90L), (11L, "u1", 100L), (12L, "u1", 150L),
      (13L, "u2", 60L)).toDF("id", "k", "t")
    // width 7: buckets split every probe from its predecessor at least once;
    // probe 5 carries across ~1200 empty buckets
    for (width <- Seq(7L, 64L, 100000L)) {
      val exact = Joins.asofJoin(probe, build, ("k", "k"), ("t", "t"), tiebreak = Some("id"))
        .collect().map(_.toSeq).toSet
      val bucketed = Joins.asofJoinBucketed(probe, build, ("k", "k"), ("t", "t"),
        width, tiebreak = Some("id")).collect().map(_.toSeq).toSet
      assert(bucketed == exact, s"width=$width must reproduce asofJoin exactly")
    }
  }

  test("asofJoinBucketed: ties and null keys/times behave as in asofJoin") {
    val probe = Seq((1L, Some("u"), Some(100L)), (2L, Some("u"), None), (3L, None, Some(5L)))
      .toDF("id", "k", "t")
    val build = Seq((7L, Some("u"), Some(100L)), (9L, Some("u"), Some(100L)),
      (8L, Some("u"), Some(100L)), (10L, Some("u"), None), (11L, None: Option[String], Some(1L)))
      .toDF("id", "k", "t")
    val out = Joins.asofJoinBucketed(probe, build, ("k", "k"), ("t", "t"), 10L,
      tiebreak = Some("id"))
      .select("id", "r_id").collect().map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(out(1L) == Some(9L), "greatest tiebreak wins on (key,time) ties")
    assert(out(2L).isEmpty, "null-time probe rows null-pad")
    assert(out(3L).isEmpty, "null-key probe rows null-pad (null keys never equi-match)")
  }

  test("asofJoinBucketed parity on the events corpus (randomized-scale differential)") {
    import org.apache.spark.sql.functions.{col => c}
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    val clicks = ev.filter(c("event_type") === "click").select("event_id", "user_id", "ts_us")
    val purchases = ev.filter(c("event_type") === "purchase").select("event_id", "user_id", "ts_us")
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted
    val exact = Joins.asofJoin(purchases, clicks, ("user_id", "user_id"),
      ("ts_us", "ts_us"), tiebreak = Some("event_id"))
    val bucketed = Joins.asofJoinBucketed(purchases, clicks, ("user_id", "user_id"),
      ("ts_us", "ts_us"), width = 3600000000L, tiebreak = Some("event_id"))
    assert(canon(bucketed) == canon(exact))
  }

  test("saltedJoin refuses a fact-sized right side unless the blow-up is deliberate (VERDICT r6)") {
    val bigRight = spark.range(100).toDF("k")
      .withColumn("rv", lit("x"))
    val ex = intercept[IllegalArgumentException](
      Joins.saltedJoin(left, bigRight, ("k", "k"), buckets = 4, maxExplodedRows = 200))
    assert(ex.getMessage.contains("exploded rows"), s"got: ${ex.getMessage}")
    // raising the limit (or passing 0) overrides deliberately
    assert(Joins.saltedJoin(left, bigRight, ("k", "k"), 4, maxExplodedRows = 0)
      .count() == left.filter("k IS NOT NULL").count())
  }

  test("saltedJoin guard cache: one plan-matched entry, caller-releasable (ADVICE r8)") {
    // the guard persists the right relation for reuse by the join; the
    // documented contract is (a) repeated calls share ONE cache entry (the
    // CacheManager matches by canonical plan — they must not accumulate)
    // and (b) the caller releases it with right.unpersist(), plan-matched,
    // whether or not they persisted themselves.
    val callerRight = spark.range(50).toDF("k").withColumn("rv", lit("y"))
    val entriesBefore = spark.sharedState.cacheManager.isEmpty
    Joins.saltedJoin(left, callerRight, ("k", "k"), 4).count()
    Joins.saltedJoin(left, callerRight, ("k", "k"), 2).count()
    assert(callerRight.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "guard must leave the right relation cached on the happy path (plan-matched)")
    callerRight.unpersist(true)
    assert(callerRight.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "caller's unpersist must release the guard's entry")
    assert(entriesBefore == spark.sharedState.cacheManager.isEmpty,
      "repeated calls + one unpersist must leave no accumulated entries")
  }

  test("saltedJoin never loans a right side the caller cached: it survives releaseAll") {
    val userRight = spark.range(40).toDF("k").withColumn("rv", lit("u"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    userRight.count()
    val loans = graft.Caches.outstanding(spark)
    assert(Joins.saltedJoin(left, userRight, ("k", "k"), 4).count() == 4)
    assert(graft.Caches.outstanding(spark) == loans, "the caller's cache must not become a loan")
    graft.Caches.releaseAll(spark)
    assert(userRight.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "releaseAll must leave the caller's cache alone")
    userRight.unpersist(true)
  }

  test("saltedJoin tolerates unhashable (map) columns by excluding them from the salt") {
    val l = left.withColumn("props", map(lit("a"), lit("b")))
    val base = Joins.hashJoin(left, right, ("k", "k")).count()
    assert(Joins.saltedJoin(l, right, ("k", "k"), 4).count() == base)
  }

  test("rangeJoin: each (point, containing interval) pair exactly once, inclusive bounds") {
    val points = Seq((1L, "u", 5L), (2L, "u", 10L), (3L, "u", 99L), (4L, "v", 5L))
      .toDF("id", "k", "p")
    // interval 100L..110L spans multiple width-4 buckets; 0..10 contains two points
    val intervals = Seq((100L, "u", 0L, 10L), (200L, "u", 8L, 50L), (300L, "u", 95L, 120L))
      .toDF("iid", "k", "lo", "hi")
    val out = Joins.rangeJoin(points, intervals, ("k", "k"), "p", "lo", "hi", width = 4L)
      .select("id", "r_iid").as[(Long, Long)].collect().toSeq.sorted
    assert(out == Seq((1L, 100L), (2L, 100L), (2L, 200L), (3L, 300L)),
      "inclusive bounds, exactly-once per qualifying pair, key isolation")
  }

  test("skewStats: hand-computed counts, shares, skew factors; deterministic tiebreak (J6)") {
    // a×4, b×2, c×1, d×1: total 8 rows over 4 distinct keys, mean 2
    val df = (Seq.fill(4)("a") ++ Seq.fill(2)("b") ++ Seq("c", "d"))
      .zipWithIndex.map { case (k, i) => (k, i.toLong) }.toDF("k", "v")
    val out = Joins.skewStats(df, Seq("k"), topK = 3)
      .as[(String, Long, Double, Double)].collect().toSeq
    assert(out == Seq(("a", 4L, 0.5, 2.0), ("b", 2L, 0.25, 1.0),
      ("c", 1L, 0.125, 0.5)),
      s"counts/share/skew must match the closed form, ties to the lower key: $out")
    // uniform keys: skew ~ 1 everywhere — the "nothing to salt" reading
    val uni = Joins.skewStats(Seq("x", "y", "z").zipWithIndex
      .map { case (k, i) => (k, i.toLong) }.toDF("k", "v"), Seq("k"), topK = 3)
      .select("skew").as[Double].collect()
    assert(uni.forall(_ == 1.0))
  }

  test("broadcastJoin and saltedJoin produce the same multiset as hashJoin") {
    def canon(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.mkString("|")).toSeq.sorted
    val base = canon(Joins.hashJoin(left, right, ("k", "k")))
    assert(canon(Joins.broadcastJoin(left, right, ("k", "k"))) == base)
    assert(canon(Joins.saltedJoin(left, right, ("k", "k"), 4)) == base)
  }
}
