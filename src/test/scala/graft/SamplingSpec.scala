package graft

import graft.operators.{Dedup, Sampling}
import graft.verify.VerifyRows
import org.apache.spark.sql.functions.lit

/** Reproducible hash-based sampling. */
class SamplingSpec extends SparkTestBase {
  import spark.implicits._

  private def docs = Tables.documents(spark, "/root/testdata/sf0.001")

  test("deterministicSample: identical membership across runs and partitionings") {
    val a = Sampling.deterministicSample(docs, "doc_id", 0.2)
      .select("doc_id").as[Long].collect().toSet
    val b = Sampling.deterministicSample(docs.repartition(13), "doc_id", 0.2)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b, "membership must not depend on partitioning or run")
    assert(math.abs(a.size - 100) < 40, s"~20% of 500 expected, got ${a.size}")
  }

  test("different seeds give different (but internally stable) samples") {
    val s0 = Sampling.deterministicSample(docs, "doc_id", 0.3, seed = 0)
      .select("doc_id").as[Long].collect().toSet
    val s1 = Sampling.deterministicSample(docs, "doc_id", 0.3, seed = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(s0 != s1, "seeds must decorrelate samples")
  }

  test("fraction bounds: 0 keeps nothing, 1 keeps everything") {
    assert(Sampling.deterministicSample(docs, "doc_id", 0.0).count() == 0)
    assert(Sampling.deterministicSample(docs, "doc_id", 1.0).count() == docs.count())
  }

  test("quotaSample: exactly min(k, group size) per group, deterministic, partitioning-invariant") {
    import org.apache.spark.sql.functions._
    val df = (1 to 200).map(i => (i.toLong, s"g${i % 3}")).toDF("id", "g")
    val out = Sampling.quotaSample(df, "id", "g", 15)
    val sizes = out.groupBy("g").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(sizes.values.forall(_ == 15L), s"each group capped at k: $sizes")
    val tiny = Sampling.quotaSample(df.filter(col("id") <= 4), "id", "g", 15)
    assert(tiny.count() == 4, "groups smaller than k keep all rows")
    def ids(d: org.apache.spark.sql.DataFrame) =
      d.select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids(out) == ids(Sampling.quotaSample(df.repartition(13), "id", "g", 15)),
      "membership must not depend on partitioning")
  }

  test("stratifiedSample honors per-stratum fractions and drops absent strata") {
    val out = Sampling.stratifiedSample(docs, "doc_id", "lang",
      Map("en" -> 1.0), seed = 0)
    val langs = out.select("lang").distinct().as[String].collect().toSet
    assert(langs == Set("en"), "strata absent from the map must be dropped")
    assert(out.count() == docs.filter($"lang" === "en").count(), "fraction 1.0 keeps all of stratum")
  }

  test("mixtureSample: limiting source keeps everything; blend near target shares (S5f)") {
    val df = (1 to 300).map(i =>
      (i.toLong, if (i <= 100) "a" else if (i <= 200) "b" else "c")).toDF("id", "src")
    val out = Sampling.mixtureSample(df, "id", "src", Map("a" -> 0.6, "b" -> 0.3, "c" -> 0.1))
    val counts = out.groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // caps: 100/0.6 < 100/0.3 < 100/0.1 -> source a limits and keeps ALL rows
    assert(counts("a") == 100L, s"limiting source keeps everything: $counts")
    // expectations: b ~ 50, c ~ 17 (Bernoulli thresholds)
    assert(math.abs(counts.getOrElse("b", 0L) - 50L) < 25 &&
      math.abs(counts.getOrElse("c", 0L) - 17L) < 15, s"blend near target: $counts")
    val only = Sampling.mixtureSample(df, "id", "src", Map("a" -> 1.0))
    assert(only.select("src").distinct().as[String].collect().toSeq == Seq("a"),
      "sources absent from the share map are dropped")
    assert(only.count() == 100L)
  }

  test("datasetSplit: total partition of ids, deterministic, near target proportions (S5e)") {
    val ids = (1L to 2000L).toDF("id")
    val splits = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
    def run() = Sampling.datasetSplit(ids, "id", splits)
      .select("id", "split").as[(Long, String)].collect().toMap
    val a = run()
    assert(a == run(), "assignment is a pure function of (id, seed)")
    assert(a.values.forall(_ != null), "fractions summing to 1 assign every row")
    val counts = a.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(math.abs(counts("train") - 1600) < 120 && math.abs(counts("val") - 200) < 60 &&
      math.abs(counts("test") - 200) < 60, s"proportions near targets: $counts")
    // sub-unit totals leave a null holdout band
    val partial = Sampling.datasetSplit(ids, "id", Seq("train" -> 0.5))
    assert(partial.filter($"split".isNull).count() > 0)
  }

  test("weightedSample: per-row keep probability min(1, rate*w), deterministic, monotone in weight") {
    import org.apache.spark.sql.functions._
    val df = (1 to 1000).map(i => (i.toLong, (i % 10).toDouble / 5.0)).toDF("id", "w")
    val a = Sampling.weightedSample(df, "id", "w", 0.5).select("id").as[Long].collect().toSet
    val b = Sampling.weightedSample(df.repartition(7), "id", "w", 0.5)
      .select("id").as[Long].collect().toSet
    assert(a == b, "membership is a pure function of (id, seed, weight)")
    // weight 0 → p 0; rate*w >= 1 → p 1
    assert(Sampling.weightedSample(df.filter($"w" === 0.0), "id", "w", 0.5).count() == 0)
    val heavy = df.withColumn("w", lit(10.0))
    assert(Sampling.weightedSample(heavy, "id", "w", 0.5).count() == 1000)
    // each row's coin is its own: raising ONE row's weight never evicts others
    val boosted = df.withColumn("w", when($"id" === 1L, 100.0).otherwise($"w"))
    val c = Sampling.weightedSample(boosted, "id", "w", 0.5).select("id").as[Long].collect().toSet
    assert((a - 1L).subsetOf(c) && c.contains(1L), "upweighting row 1 only adds row 1")
    // null/negative weights drop
    val nulls = df.withColumn("w", when($"id" <= 10, lit(null).cast("double")).otherwise(lit(-1.0)))
    assert(Sampling.weightedSample(nulls, "id", "w", 0.5).count() == 0)
  }

  test("mixtureSampleByWeight: blend holds in the WEIGHTED unit; limiting source keeps all (S5h)") {
    import org.apache.spark.sql.functions._
    // source a: 500 docs × weight 4 = 2000; b: 1000 docs × weight 1 = 1000
    // target 50/50 by WEIGHT → b limits (T = 2000): a keeps p = 1000/2000,
    // b keeps everything. A doc-count mixture at 50/50 would instead keep
    // a:500/b:500 docs — the weighted form must differ from it.
    val df = ((1 to 500).map(i => (i.toLong, "a", 4L)) ++
      (1001 to 2000).map(i => (i.toLong, "b", 1L))).toDF("id", "src", "w")
    val out = Sampling.mixtureSampleByWeight(df, "id", "src", "w",
      Map("a" -> 0.5, "b" -> 0.5))
    val kept = out.groupBy("src").agg(sum("w").as("kw"), count(lit(1)).as("kn"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(kept("b") == ((1000L, 1000L)), "limiting source keeps everything")
    // a's kept WEIGHT ≈ 1000 in expectation (hash Bernoulli, p = 0.5)
    assert(kept("a")._1 > 800L && kept("a")._1 < 1200L,
      s"weighted blend ≈ 50/50, got a=${kept("a")._1} vs b=1000")
    // deterministic + partitioning-invariant
    val again = Sampling.mixtureSampleByWeight(df.repartition(7), "id", "src", "w",
      Map("a" -> 0.5, "b" -> 0.5)).select("id").as[Long].collect().toSet
    assert(again == out.select("id").as[Long].collect().toSet)
    // sources absent from the share map drop
    assert(Sampling.mixtureSampleByWeight(df, "id", "src", "w",
      Map("a" -> 1.0)).select("src").distinct().as[String].collect().toSeq == Seq("a"))
    // a zero-weight source is dropped like an absent one — it must not
    // zero the cap (T=0) while keeping itself via 0/0 → NaN → least = 1
    val degenerate = df.withColumn("w", when($"src" === "b", 0L).otherwise($"w"))
    val kd = Sampling.mixtureSampleByWeight(degenerate, "id", "src", "w",
      Map("a" -> 0.5, "b" -> 0.5))
    assert(kd.filter($"src" === "b").count() == 0, "degenerate source drops")
    assert(kd.filter($"src" === "a").count() == 500L, "remaining source keeps everything")
  }

  test("mixtureSampleByWeight raises on a negative weight in a blended source (ADVICE r6)") {
    import org.apache.spark.sql.functions._
    val df = ((1 to 100).map(i => (i.toLong, "a", 2L)) ++
      (101 to 200).map(i => (i.toLong, "b", 1L))).toDF("id", "src", "w")
    // per-row negative with POSITIVE source sum: previously silently skewed
    // the kept-weight expectation — must now fail loudly
    val rowNeg = df.withColumn("w", when($"id" === 5L, -3L).otherwise($"w"))
    val e1 = intercept[Exception](Sampling.mixtureSampleByWeight(
      rowNeg, "id", "src", "w", Map("a" -> 0.5, "b" -> 0.5)).count())
    assert(e1.getMessage.contains("negative weight"), s"got: ${e1.getMessage}")
    // negative SUM: previously indistinguishable from an absent source
    val sumNeg = df.withColumn("w", when($"src" === "b", -1L).otherwise($"w"))
    val e2 = intercept[Exception](Sampling.mixtureSampleByWeight(
      sumNeg, "id", "src", "w", Map("a" -> 0.5, "b" -> 0.5)).count())
    assert(e2.getMessage.contains("negative weight"), s"got: ${e2.getMessage}")
  }

  test("s5j group split: near-duplicate pairs never straddle a split boundary") {
    import graft.operators.Dedup
    val dir = "/root/testdata/sf0.001"
    val split = VerifyRows("s5j_group_split").run(spark, dir)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val pairs = Dedup.ngramJaccardPairs(Tables.documents(spark, dir),
      "doc_id", "text", 2, 0.1)
      .select("id_1", "id_2").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "fixture must contain near-dup pairs for the gate to bite")
    val straddlers = pairs.filter { case (a, b) => split(a) != split(b) }
    assert(straddlers.isEmpty,
      s"near-dups split apart (train/test leak): ${straddlers.take(5).toSeq}")
    // and it IS a split: every doc assigned, all three bands populated
    assert(split.size == Tables.documents(spark, dir).count())
    assert(split.values.toSet == Set("train", "val", "test"))
  }

  test("s5j2 indexed split: no straddling pairs over ITS index pair set (VERDICT r11 #2)") {
    import graft.operators.Dedup
    val dir = "/root/testdata/sf0.001"
    val split = VerifyRows("s5j2_group_split_indexed").run(spark, dir)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // the pair set this split must respect is the INDEX's own relation —
    // replay it from the staged index the query just built
    val idxDir = {
      val f = new java.io.File(s"$dir/documents.parquet")
      import graft.verify.RowHelpers.{scratchDir, stageKey}
      s"${scratchDir(dir)}/s5j2_minhash_index_${stageKey(f, "full_n3b32r2")}"
    }
    val pairs = Dedup.minhashNearDupPairsFromIndex(
      Dedup.readMinhashIndex(spark, idxDir), "doc_id", 0.5)
      .select("id_1", "id_2").as[(Long, Long)].collect()
    assert(pairs.nonEmpty, "fixture must contain near-dup pairs for the gate to bite")
    val straddlers = pairs.filter { case (a, b) => split(a) != split(b) }
    assert(straddlers.isEmpty,
      s"index near-dups split apart (train/test leak): ${straddlers.take(5).toSeq}")
    assert(split.size == Tables.documents(spark, dir).count())
    assert(split.values.toSet == Set("train", "val", "test"))
  }

  test("fixedSample: exactly k, deterministic, bounded churn under growth (S5n)") {
    val a = Sampling.fixedSample(docs, "doc_id", 50)
      .select("doc_id").as[Long].collect().toSet
    assert(a.size == 50)
    val b = Sampling.fixedSample(docs.repartition(7), "doc_id", 50)
      .select("doc_id").as[Long].collect().toSet
    assert(b == a, "membership independent of partitioning")
    // k >= n keeps everything; k = 0 nothing
    assert(Sampling.fixedSample(docs, "doc_id", Int.MaxValue).count() == docs.count())
    assert(Sampling.fixedSample(docs, "doc_id", 0).count() == 0)
    // consistent-hashing property: a grown corpus only EVICTS members
    // (new small hashes push out the largest), never reshuffles wholesale
    val half = docs.filter($"doc_id" % 2 === 0)
    val fromHalf = Sampling.fixedSample(half, "doc_id", 50)
      .select("doc_id").as[Long].collect().toSet
    assert((a.filter(_ % 2 == 0) -- fromHalf).isEmpty,
      "every sampled even id survives when odd ids are removed... inverse: " +
        "the half-corpus sample contains all full-corpus members from that half")
    // the plan is a per-partition heap, not a global sort
    val plan = Sampling.fixedSample(docs, "doc_id", 50)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$plan")
  }

  test("temperatureSample: smallest group is share-limiting and keeps all; deterministic (S5m)") {
    import org.apache.spark.sql.functions._
    // skewed groups: g0 = 40 rows, g1 = 10 rows
    val df = spark.range(50).select($"id".as("doc_id"),
      when($"id" < 40, "g0").otherwise("g1").as("src"))
    val out = Sampling.temperatureSample(df, "doc_id", "src", temperature = 2.0)
      .select("doc_id", "src").as[(Long, String)].collect().toSet
    // the smallest group minimizes n/share (∝ sqrt(n·N)) → threshold 1.0 →
    // every one of its rows survives the coin
    assert(out.count(_._2 == "g1") == 10, "limiting (smallest) group keeps everything")
    // the large group downsamples toward the flattened blend: expected
    // keep ≈ T·share/n = sqrt(10·50)/40 ≈ 0.56 — assert it dropped SOME
    // rows and kept some (the coin is deterministic, so this is stable)
    val g0 = out.count(_._2 == "g0")
    assert(g0 > 0 && g0 < 40, s"large group must downsample, kept $g0/40")
    // deterministic across runs and partitionings
    val again = Sampling.temperatureSample(df.repartition(7), "doc_id", "src", 2.0)
      .select("doc_id", "src").as[(Long, String)].collect().toSet
    assert(again == out)
    // temperature 1 with EQUAL groups is the identity blend (natural
    // distribution): nothing drops
    val even = spark.range(40).select($"id".as("doc_id"),
      when($"id" % 2 === 0, "a").otherwise("b").as("src"))
    assert(Sampling.temperatureSample(even, "doc_id", "src", 1.0).count() == 40)
    intercept[IllegalArgumentException] {
      Sampling.temperatureSample(df, "doc_id", "src", 0.0)
    }
  }

  test("tokenBudgetSelect matches the local greedy prefix and is partition-invariant") {
    import org.apache.spark.sql.functions._
    val toks = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"n_chars".cast("double").as("score"),
        graft.functions.Text.bpeTokens($"text").cast("long").as("n_tokens"))
    val rows = toks.as[(Long, Double, Long)].collect()
    val budget = rows.map(_._3).sum / 4
    // local greedy prefix in (score desc, id asc) order
    var cum = 0L
    val expected = rows.sortBy(r => (-r._2, r._1)).takeWhile { r =>
      cum += r._3; cum <= budget
    }.map(_._1).toSet
    val got = Sampling.tokenBudgetSelect(toks, "doc_id", "score", "n_tokens", budget)
      .select("doc_id").as[Long].collect().toSet
    assert(got == expected, s"greedy prefix mismatch: ${got.size} vs ${expected.size}")
    val repart = Sampling.tokenBudgetSelect(toks.repartition(13), "doc_id", "score",
      "n_tokens", budget).select("doc_id").as[Long].collect().toSet
    assert(repart == expected, "selection must not depend on input partitioning")
  }

  test("tokenBudgetSelectPerGroup matches per-group local greedy; absent groups drop") {
    import org.apache.spark.sql.functions._
    val toks = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"source", $"n_chars".cast("double").as("score"),
        graft.functions.Text.bpeTokens($"text").cast("long").as("n_tokens"))
    val budgets = Map("src0" -> 3000L, "src1" -> 1500L)
    val rows = toks.as[(Long, String, Double, Long)].collect()
    val expected = rows.groupBy(_._2).collect {
      case (g, members) if budgets.contains(g) =>
        var cum = 0L
        members.sortBy(r => (-r._3, r._1)).takeWhile { r =>
          cum += r._4; cum <= budgets(g)
        }.map(_._1)
    }.flatten.toSet
    val got = Sampling.tokenBudgetSelectPerGroup(toks, "doc_id", "source",
      "score", "n_tokens", budgets).select("doc_id").as[Long].collect().toSet
    assert(got == expected, s"per-group prefix mismatch: ${got.size} vs ${expected.size}")
    assert(expected.nonEmpty, "fixture budgets must bind")
    val repart = Sampling.tokenBudgetSelectPerGroup(toks.repartition(7), "doc_id",
      "source", "score", "n_tokens", budgets).select("doc_id").as[Long].collect().toSet
    assert(repart == expected, "selection must not depend on input partitioning")
  }

  test("tokenBudgetSelect bounds: 0 keeps nothing, >= total keeps everything; no global-window partition") {
    import org.apache.spark.sql.functions._
    val toks = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"n_chars".cast("double").as("score"),
        graft.functions.Text.bpeTokens($"text").cast("long").as("n_tokens"))
    assert(Sampling.tokenBudgetSelect(toks, "doc_id", "score", "n_tokens", 0L).count() == 0)
    val total = toks.agg(sum("n_tokens")).head().getLong(0)
    assert(Sampling.tokenBudgetSelect(toks, "doc_id", "score", "n_tokens", total)
      .count() == toks.count(), "budget = total tokens keeps the whole corpus")
    // the CORPUS prefix sum must be partition-local (window keyed on the
    // partition id); only the tiny offsets frame may single-partition
    val plan = Sampling.tokenBudgetSelect(toks, "doc_id", "score", "n_tokens", total / 4)
      .queryExecution.executedPlan.toString
    assert(plan.contains("_graft_pid"), s"expected pid-partitioned prefix sum:\n$plan")
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      "offsets must come back via broadcast, not a corpus shuffle")
    // the ranged frame must be MATERIALIZED before fan-out: without it the
    // two consumers re-execute the range exchange with independently
    // sampled boundaries and the pid spaces of run and offsets can diverge
    assert(plan.contains("InMemoryTableScan") || plan.contains("TableCacheQueryStage"),
      s"both branches must read one materialized ranged frame:\n$plan")
  }

  test("null or negative token counts fail the job loudly (ADVICE r11)") {
    import org.apache.spark.sql.functions._
    val base = spark.range(20).select($"id".as("doc_id"),
      $"id".cast("double").as("score"), lit(10L).as("n_tokens"))
    val neg = base.withColumn("n_tokens",
      when($"doc_id" === 7, lit(-3L)).otherwise($"n_tokens"))
    val ex1 = intercept[Exception] {
      Sampling.tokenBudgetSelect(neg, "doc_id", "score", "n_tokens", 100L).collect()
    }
    assert(ex1.getMessage != null)
    val nul = base.withColumn("n_tokens",
      when($"doc_id" === 3, lit(null).cast("long")).otherwise($"n_tokens"))
    intercept[Exception] {
      Sampling.tokenBudgetSelect(nul, "doc_id", "score", "n_tokens", 100L).collect()
    }
    val grp = base.withColumn("g", lit("a"))
    intercept[Exception] {
      Sampling.tokenBudgetSelectPerGroup(
        grp.withColumn("n_tokens", when($"doc_id" === 7, lit(-3L)).otherwise($"n_tokens")),
        "doc_id", "g", "score", "n_tokens", Map("a" -> 100L)).collect()
    }
  }

  test("epochReplicate: fractional per-group repeat factors, deterministic (S5o)") {
    val df = (1L to 100L).map(i => (i, if (i <= 40) "a" else if (i <= 80) "b" else "c"))
      .toDF("doc_id", "g")
    val out = Sampling.epochReplicate(df, "doc_id", "g",
      Map("a" -> 2.5, "b" -> 1.0, "c" -> 0.0))
      .select("doc_id", "g", "epoch").as[(Long, String, Long)].collect()
    // b: exactly once, epoch 0; c and absent groups: dropped
    assert(out.filter(_._2 == "b").map(r => (r._1, r._3)).sorted.toSeq ==
      (41L to 80L).map(i => (i, 0L)), "factor 1.0 is the identity")
    assert(!out.exists(_._2 == "c"), "factor 0.0 drops the group")
    // a: every row 2 or 3 times with contiguous 0-based epochs
    val byDoc = out.filter(_._2 == "a").groupBy(_._1).view.mapValues(_.map(_._3).sorted.toSeq)
    assert(byDoc.keySet == (1L to 40L).toSet, "whole part keeps every row")
    byDoc.foreach { case (id, eps) =>
      assert(eps == (0L until eps.size), s"contiguous epochs for $id: $eps")
      assert(eps.size == 2 || eps.size == 3, s"2.5x gives 2 or 3 copies: $id -> $eps")
    }
    val extra = byDoc.count(_._2.size == 3)
    assert(extra > 5 && extra < 35, s"~half of the a-rows take the fractional copy: $extra")
    // deterministic: the realized mixture is a pure function of (id, seed)
    val again = Sampling.epochReplicate(df, "doc_id", "g",
      Map("a" -> 2.5, "b" -> 1.0, "c" -> 0.0))
      .select("doc_id", "g", "epoch").as[(Long, String, Long)].collect()
    assert(again.sorted.toSeq == out.sorted.toSeq)
    // reserved column guard
    intercept[IllegalArgumentException] {
      Sampling.epochReplicate(df.withColumn("epoch", lit(1)), "doc_id", "g", Map("a" -> 1.0))
    }
  }

  test("mixingPlan: exact hand-derived plan; budget conservation; temperature limits (S5p)") {
    // three sources with weights 4000 / 1000 / 250 — skewed enough that
    // T = 2 visibly flattens while T = 1 reproduces the natural shares
    val df = ((1L to 40L).map(i => (i, "web", 100L)) ++
      (41L to 50L).map(i => (i, "code", 100L)) ++
      (51L to 55L).map(i => (i, "books", 50L))).toDF("doc_id", "source", "w")
    val plan = Sampling.mixingPlan(df, "source", "w", temperature = 2.0,
      budget = 10000L)
      .as[(String, Long, Long, Double, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // hand-derive: raws = round(round(sqrt(w/5250), 9) * 1e9)
    val raws = Map("web" -> 4000L, "code" -> 1000L, "books" -> 250L).map {
      case (g, w) => g -> BigDecimal(BigDecimal(math.sqrt(w / 5250.0))
        .setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble * 1e9)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    }
    val sumRaw = raws.values.sum
    plan.foreach { case (g, (_, nDocs, nW, share, target, f)) =>
      val w = Map("web" -> 4000L, "code" -> 1000L, "books" -> 250L)(g)
      assert(nW == w && nDocs == df.filter(s"source = '$g'").count())
      assert(share == raws(g).toDouble / sumRaw.toDouble, s"share($g)")
      val want = (BigInt(10000) * raws(g) / sumRaw).toLong
      assert(target == want, s"target($g): $target != $want")
      assert(f == target.toDouble / w.toDouble, s"factor($g)")
    }
    // the integer split never exceeds the budget (floor division)
    assert(plan.values.map(_._5).sum <= 10000L)
    // T = 2 flattens: the small source's share grows vs natural
    assert(plan("books")._4 > 250.0 / 5250.0 && plan("web")._4 < 4000.0 / 5250.0)
    // T = 1 is the natural distribution: factor uniform across sources
    // (every source repeats budget/total within integer-floor jitter)
    val nat = Sampling.mixingPlan(df, "source", "w", temperature = 1.0,
      budget = 10500L).select("repeat_factor").as[Double].collect()
    nat.foreach(f => assert(math.abs(f - 2.0) < 1e-3, s"T=1 factor $f"))
    // executing the plan realizes the targets: replicated weight per
    // source lands within one doc-weight of target (coin expectation
    // exactness not asserted — conservation of the deterministic parts)
    val factors = plan.map { case (g, r) => g -> r._6 }
    val real = Sampling.epochReplicate(df, "doc_id", "source", factors)
      .groupBy("source").agg(org.apache.spark.sql.functions.sum("w").as("rw"))
      .as[(String, Long)].collect().toMap
    plan.foreach { case (g, r) =>
      val perDoc = Map("web" -> 100L, "code" -> 100L, "books" -> 50L)(g)
      val whole = r._6.toLong * r._3   // the deterministic floor floor(f)·w
      assert(real(g) >= whole && real(g) <= whole + r._3 + perDoc,
        s"realized weight for $g: ${real(g)} vs factor ${r._6}")
    }
  }

  test("sourceOverlapMatrix: shared-fingerprint counts per source pair (X13)") {
    val df = Seq(
      (1L, "Alpha beta!", "s1"), (2L, "alpha beta", "s2"), // cross-source dup (normalized)
      (3L, "gamma", "s1"), (4L, "gamma", "s1"),            // within-source dup: ONE fp
      (5L, "delta", "s2"), (6L, "epsilon", "s3")
    ).toDF("doc_id", "text", "source")
    val m = Dedup.sourceOverlapMatrix(df, "text", "source")
      .as[(String, String, Long)].collect().toSet
    assert(m == Set(
      ("s1", "s1", 2L), ("s2", "s2", 2L), ("s3", "s3", 1L),  // diagonal = distinct fps
      ("s1", "s2", 1L)),                                      // the normalized cross dup
      s"unexpected matrix: $m")
  }
}
