package graft

import graft.operators.{Agg, Pairs}
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** SURVEY §5.3 algebraic invariants, scalacheck-driven (raw scalacheck —
  * the scalatestplus bridge isn't in the offline cache). Sample counts kept
  * small: each sample is a Spark job.
  */
class PropertySpec extends SparkTestBase {
  import spark.implicits._

  private def check(name: String, p: Prop, samples: Int = 5): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(samples).withMaxSize(40), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  test("groupBy sums are partition-invariant") {
    check("sum-partition-invariant", Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 5), Gen.choose(-100L, 100L)))) { xs =>
      val df = xs.toDF("k", "v")
      def sums(p: Int) = Agg.groupAgg(df.repartition(p), Seq("k"), Seq("v" -> Seq("sum")))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      sums(1) == sums(7)
    })
  }

  test("forward-fill is idempotent (SURVEY §5.3)") {
    import graft.operators.Analytics
    check("ffill-idempotent", Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 3), Gen.choose(0, 20),
        Gen.option(Gen.choose(-50.0, 50.0))))) { xs =>
      val df = xs.zipWithIndex.map { case ((k, o, v), i) => (k, o, i, v) }
        .toDF("k", "o", "tb", "v")
      val once = Analytics.forwardFill(df, "k", Seq("o", "tb"), "v", "f")
      val twice = Analytics.forwardFill(once.drop("v").withColumnRenamed("f", "v"),
        "k", Seq("o", "tb"), "v", "f")
      def canon(d: org.apache.spark.sql.DataFrame) =
        d.select("k", "o", "tb", "f").collect().map(_.toString).sorted.toSeq
      canon(once) == canon(twice)
    }, samples = 4)
  }

  test("repetitionScore stays in [0,1] for arbitrary text") {
    import graft.functions.Text
    check("repetition-bounds", Prop.forAll(Gen.listOfN(6, Gen.asciiPrintableStr)) { ss =>
      val scores = ss.zipWithIndex.map { case (s, i) => (i.toLong, s) }
        .toDF("id", "text")
        .select(Text.repetitionScore(col("text")).as("r"))
        .collect().map(_.getDouble(0))
      scores.forall(r => r >= 0.0 && r <= 1.0)
    }, samples = 4)
  }

  test("t20 repetition fractions equal the naive in-JVM computation (T20)") {
    import graft.functions.Text
    val word = Gen.oneOf("a", "b", "c", "ab", "x1")
    check("t20-vs-naive", Prop.forAll(Gen.nonEmptyListOf(word)) { ws =>
      val row = Seq(1).toDF("x").select(
        Text.dupWordFrac(typedLit(ws)).as("dw"),
        Text.topWordFrac(typedLit(ws)).as("tw"),
        Text.dupNgramFrac(typedLit(ws), 3).as("dn")).collect().head
      val n = ws.size.toDouble
      val dwN = 1.0 - ws.distinct.size / n
      val twN = ws.groupBy(identity).values.map(_.size).max / n
      val tris = ws.sliding(3).filter(_.size == 3).map(_.mkString(" ")).toSeq
      val dnOk =
        if (tris.isEmpty) row.isNullAt(2)
        else row.getDouble(2) == 1.0 - tris.distinct.size.toDouble / tris.size
      row.getDouble(0) == dwN && row.getDouble(1) == twN && dnOk
    }, samples = 5)
  }

  test("|inner join| equals sum of key-multiplicity products") {
    check("join-cardinality", Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(0, 4)), Gen.nonEmptyListOf(Gen.choose(0, 4))) { (ls, rs) =>
      val joined = ls.toDF("k")
        .join(rs.toDF("k").withColumnRenamed("k", "rk"), col("k") === col("rk")).count()
      val expect = ls.groupBy(identity).map { case (k, g) =>
        g.size.toLong * rs.count(_ == k)
      }.sum
      joined == expect
    })
  }

  test("blockedPairs covers all C(n,2) pairs exactly once for random n and B") {
    check("blocked-pairs-coverage", Prop.forAll(
      Gen.choose(2, 25), Gen.choose(1, 10)) { (n, b) =>
      val got = Pairs.blockedPairs((1 to n).map(_.toLong).toDF("id"), "id", b)
        .select("id_1", "id_2").as[(Long, Long)].collect()
      got.length == n * (n - 1) / 2 && got.distinct.length == got.length
    })
  }

  test("filter conjunction decomposes") {
    check("filter-conjunction", Prop.forAll(Gen.nonEmptyListOf(Gen.choose(-50, 50))) { xs =>
      val df = xs.toDF("v")
      df.filter(col("v") > -10).filter(col("v") < 10).count() ==
        df.filter(col("v") > -10 && col("v") < 10).count()
    })
  }

  test("int8 quantization is scale-invariant (symmetric quantizer property)") {
    import graft.operators.Similarity
    check("q8-scale-invariant", Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(-8.0f, 8.0f)).suchThat(_.exists(_ != 0.0f)),
      Gen.oneOf(0.5f, 2.0f, 16.0f)) { (v, c) =>
      def codes(vec: Seq[Float]) =
        Similarity.quantizeInt8(Seq((1L, vec.toArray)).toDF("id", "vec"), "id", "vec")
          .collect()(0).getAs[Array[Byte]]("q8").toSeq
      codes(v) == codes(v.map(_ * c))
    }, samples = 4)
  }

  test("histogram bin counts sum to the in-range row count") {
    import graft.operators.Analytics
    check("histogram-total", Prop.forAll(
      Gen.nonEmptyListOf(Gen.choose(-5.0, 25.0))) { xs =>
      val df = xs.toDF("v")
      val binned = Analytics.histogram(df, "v", 0.0, 5.0, 4)
        .agg(coalesce(sum("n"), lit(0L))).collect()(0).getLong(0)
      binned == xs.count(x => x >= 0.0 && x < 20.0)
    })
  }

  test("weightedSample yield is monotone in rate and a subset at lower rates (S5g)") {
    import graft.operators.Sampling
    check("weighted-monotone", Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(1L, 5000L), Gen.choose(0.0, 3.0)))) { xs =>
      val df = xs.distinct.toDF("id", "w")
      def kept(rate: Double) = Sampling.weightedSample(df, "id", "w", rate)
        .select("id").as[Long].collect().toSet
      val lo = kept(0.2); val hi = kept(0.8)
      lo.subsetOf(hi) // each row's threshold grows with rate; its coin is fixed
    }, samples = 4)
  }

  test("snapshot diff -> apply reconstructs ANY new snapshot from ANY old one (X8/X8c)") {
    import graft.operators.Ops
    // random keyed tables with overlapping key ranges and colliding texts
    val snapGen = Gen.listOf(Gen.zip(Gen.choose(0L, 15L), Gen.oneOf("a", "b", "c")))
      .map(_.toMap) // map: last write wins -> unique keys, like a snapshot
    check("diff-apply-roundtrip", Prop.forAll(snapGen, snapGen) { (o, n) =>
      val old = o.toSeq.toDF("id", "body")
      val neu = n.toSeq.toDF("id", "body")
      val diff = Ops.snapshotDiff(old, neu, "id", Seq("body"))
      val changes = diff.join(neu, Seq("id"), "left").select(col("id"), col("change"), col("body"))
      val rebuilt = Ops.applyChangeset(old, changes, "id")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      rebuilt == n.toSet
    }, samples = 6)
  }

  test("native TokenCount equals the regex tokenizer for ANY Unicode input (T3)") {
    import graft.functions.Text
    import org.apache.spark.sql.{graftshim => shim}
    // mix ASCII, Unicode BMP (incl. exotic whitespace, combining marks),
    // and supplementary-plane code points (surrogate pairs)
    val anyChar = Gen.frequency(
      6 -> Gen.asciiPrintableChar.map(_.toString),
      2 -> Gen.oneOf("é", "ß", "Σ", "İ", " ", " ", "ñ", "中", "́"),
      1 -> Gen.oneOf("😀", "𝕏", "👍"),
      1 -> Gen.oneOf(" ", "\t", "\n", "", "\f", "\r"))
    check("tokencount-vs-regex", Prop.forAll(
      Gen.listOf(anyChar).map(_.mkString)) { s =>
      val df = Seq(Tuple1(s)).toDF("t")
      val got = df.select(
        shim.toColumn(Text.bpeTokensExpr(shim.toExpression(col("t")))).as("a"),
        shim.toColumn(Text.bpeTokensRegexExpr(shim.toExpression(col("t")))).as("b"))
        .head()
      got.getInt(0) == got.getInt(1)
    }, samples = 30)
  }

  test("tokenBudgetSelect equals the local greedy takeWhile for ANY scores/tokens (S5i)") {
    import graft.operators.Sampling
    check("token-budget-greedy", Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(-50.0, 50.0), Gen.choose(0L, 30L))),
      Gen.choose(0L, 300L)) { (xs, budget) =>
      val rows = xs.zipWithIndex.map { case ((s, t), i) => (i.toLong, s, t) }
      val df = rows.toDF("id", "score", "n_tokens")
      var cum = 0L
      val expected = rows.sortBy(r => (-r._2, r._1)).takeWhile { r =>
        cum += r._3; cum <= budget
      }.map(_._1).toSet
      val got = Sampling.tokenBudgetSelect(df.repartition(5), "id", "score",
        "n_tokens", budget).select("id").as[Long].collect().toSet
      got == expected
    }, samples = 5)
  }

  test("incremental component fold equals from-scratch for ANY edges and ANY split (D6c)") {
    import graft.operators.Dedup
    val edge = Gen.zip(Gen.choose(0L, 12L), Gen.choose(0L, 12L)).suchThat(e => e._1 != e._2)
    check("components-incremental", Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(edge, Gen.oneOf(true, false)))) { es =>
      val pairs = es.map { case ((a, b), isNew) => (math.min(a, b), math.max(a, b), isNew) }
      val all = pairs.map(p => (p._1, p._2)).toDF("id_1", "id_2")
      val oldE = pairs.filter(!_._3).map(p => (p._1, p._2))
      val newE = pairs.filter(_._3).map(p => (p._1, p._2))
      val full = Dedup.connectedComponents(all)
        .as[(Long, Long)].collect().toMap
      val labels =
        if (oldE.isEmpty) Seq.empty[(Long, Long)].toDF("id", "component")
        else Dedup.connectedComponents(oldE.toDF("id_1", "id_2"))
      val newDf =
        if (newE.isEmpty) Seq.empty[(Long, Long)].toDF("id_1", "id_2")
        else newE.toDF("id_1", "id_2")
      val merged = Dedup.connectedComponentsIncremental(labels, newDf)
        .as[(Long, Long)].collect().toMap
      merged == full
    }, samples = 5)
  }

  test("agg-state merge over ANY batch partitioning bit-equals the full recompute (X10)") {
    check("state-merge-recompute", Prop.forAll(
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 3), Gen.choose(-1e6, 1e6), Gen.choose(0, 2)))) { xs =>
      val df = xs.toDF("k", "v", "batch")
      val full = Agg.finalizeAggState(Agg.buildAggState(df, Seq("k"), "v"), Seq("k"))
        .collect().map(_.toSeq).toSet
      val states = (0 to 2).map(b => Agg.buildAggState(df.where(col("batch") === b), Seq("k"), "v"))
      val merged = Agg.finalizeAggState(Agg.mergeAggState(states, Seq("k")), Seq("k"))
        .collect().map(_.toSeq).toSet
      merged == full
    }, samples = 5)
  }

  test("rrfFuse equals the hand-computed fusion for arbitrary candidate lists (H1)") {
    import graft.operators.Retrieval
    // lists of distinct ids; rank = 1-based position
    val listGen = Gen.choose(1, 12).flatMap(n => Gen.pick(n, 0L to 20L)).map(_.toList)
    check("rrf-hand-recompute", Prop.forAll(listGen, listGen) { (la, lb) =>
      val dfs = Seq(la, lb).map(l =>
        l.zipWithIndex.map { case (id, i) => (id, (i + 1).toLong) }.toDF("id", "rank"))
      val got = Retrieval.rrfFuse(dfs, "id", k0 = 60, topK = 100)
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toList
      def contrib(l: List[Long], id: Long) =
        l.indexOf(id) match { case -1 => None; case i => Some(1.0 / (i + 1 + 60)) }
      val want = (la ++ lb).distinct.map { id =>
        val cs = Seq(contrib(la, id), contrib(lb, id)).flatten
        (id, math.round(cs.sum * 1e6) / 1e6, cs.size.toLong)
      }.sortBy { case (id, s, _) => (-s, id) }
      got == want
    }, samples = 5)
  }
}
