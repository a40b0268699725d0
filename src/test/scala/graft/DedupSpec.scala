package graft

import graft.functions.Text
import graft.operators.{Dedup, Sampling, Similarity}
import graft.streaming.StreamOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dedup operators: exactness against brute-force ground truth on small
  * corpora, plus recall of the approximate (LSH) scale paths.
  */
class DedupSpec extends SparkTestBase {
  import spark.implicits._

  private val corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"),   // near-dup of 1
    (3L, "THE QUICK BROWN FOX jumps over the lazy dog!!"), // exact dup of 1 mod case/punct
    (4L, "a completely different sentence about spark engines"),
    (5L, "yet another unrelated text with no overlap at all"),
    (6L, "the quick brown fox jumps over the lazy dog")    // identical to 1
  ).toDF("doc_id", "text")

  /** Brute-force exact word-n-gram Jaccard over ALL pairs (ground truth). */
  private def bruteJaccard(df: DataFrame, n: Int): Map[(Long, Long), Double] = {
    val sets = df.collect().map { r =>
      val words = r.getString(1).toLowerCase.trim.split("\\s+").toSeq
      r.getLong(0) -> words.sliding(n).filter(_.size == n).map(_.mkString(" ")).toSet
    }.toMap
    (for {
      a <- sets.keys; b <- sets.keys if a < b
      inter = (sets(a) intersect sets(b)).size.toDouble
      uni = (sets(a) union sets(b)).size.toDouble
    } yield (a, b) -> (if (uni > 0) inter / uni else 0.0)).toMap
  }

  test("exact dedup groups case/punct/whitespace-equal texts, keeps min id (D1)") {
    val out = Dedup.exact(corpus, "doc_id", "text")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.length == 4, "6 docs, {1,3,6} collapse into one class")
    assert(out.contains((1L, 3L)), "class representative is min id with n_dups=3")
  }

  test("wordShingles: fewer than n words yields empty set, not descending-sequence garbage") {
    val t = Seq((1L, "one two"), (2L, "one")).toDF("id", "text")
    val sizes = t.select(size(Text.wordShingles(col("text"), 3))).as[Int].collect().toSeq
    assert(sizes == Seq(0, 0))
  }

  test("ngramJaccardPairs (blocked all-pairs) equals brute-force ground truth (D4)") {
    val got = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 2, 0.1, blocks = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val want = bruteJaccard(corpus, 2).filter { case (_, j) =>
      BigDecimal(j).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble >= 0.1
    }
    assert(got.keySet == want.keySet)
    got.foreach { case (k, j) => assert(approx(j, want(k), 1e-6), s"pair $k") }
  }

  test("ngramJaccardPairsSparse with a permissive cap equals the exact blocked plan (D4b)") {
    val exact = Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 2, 0.1)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    val sparse = Dedup.ngramJaccardPairsSparse(corpus, "doc_id", "text", 2, 0.1, maxDf = 1000)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(sparse == exact, "uncapped inverted index must reproduce the exact result")
  }

  test("guarded fixed cap == unbounded fixed cap bit-for-bit; a blown guard refuses with pricing (D4f)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_1", "id_2", "jaccard").as[(Long, Long, Double)].collect().toSet
    // the guard prices and admits — it must never change the relation
    val guarded = rows(Dedup.ngramJaccardPairsSparse(docs, "doc_id", "text", 3, 0.2, maxDf = 50))
    val reference = rows(Dedup.ngramJaccardPairsSparseUnguarded(docs, "doc_id", "text", 3, 0.2,
      maxDf = 50))
    assert(guarded == reference, "guard admission must be relation-neutral")
    // STAGE 1 (sampled quick refusal): guardPairs = 0 puts any non-zero
    // estimate past the 4x escalation band, so the refusal comes from the
    // 1/16-sample pricing BEFORE the corpus-wide histogram
    val baseline = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      // quickPriceMinDocs = 0 arms the sampled stage on the small fixture
      Dedup.ngramJaccardPairsSparse(docs, "doc_id", "text", 3, 0.2, maxDf = 50,
        guardPairs = 0L, quickPriceMinDocs = 0L).count()
    }
    assert(e.getMessage.contains("ESTIMATED"), s"quick stage refuses: ${e.getMessage}")
    Seq("ngramJaccardPairsSparseAuto", "lower maxDf", "guardPairs").foreach { escape =>
      assert(e.getMessage.contains(escape), s"escape '$escape' named in message")
    }
    // STAGE 2 (exact refusal): a guard just below the true bill keeps the
    // estimate inside the 4x band, so the call escalates to the exact
    // histogram and refuses on the exact number
    val cum = Dedup.shingleDfStats(docs, "doc_id", "text", 3)
      .filter(col("df") <= 50).agg(org.apache.spark.sql.functions.max("cum_pair_cost"))
      .head().getLong(0)
    val est = Dedup.shingleDfStatsSampled(docs, "doc_id", "text", 3, rate = 0.0625)
      .filter(col("df") <= 3).agg(org.apache.spark.sql.functions.max("est_cum_pair_cost"))
      .head().getDouble(0)
    assert(est <= 4.0 * (cum - 1),
      s"fixture precondition for the escalation test (est=$est cum=$cum)")
    val e2 = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairsSparse(docs, "doc_id", "text", 3, 0.2, maxDf = 50,
        guardPairs = cum - 1).count()
    }
    assert(e2.getMessage.contains(s"prices $cum candidate"),
      s"exact stage refuses with the exact bill: ${e2.getMessage}")
    assert(!e2.getMessage.contains("ESTIMATED"), "exact refusal, not the sampled stage")
    Seq("ngramJaccardPairsSparseAuto", "lower maxDf", "guardPairs").foreach { escape =>
      assert(e2.getMessage.contains(escape), s"escape '$escape' named in message")
    }
    // either refusal releases its evidence caches — a refused call must
    // leave no new persists behind
    assert((spark.sparkContext.getPersistentRDDs.keySet -- baseline).isEmpty,
      "refusal must not leak persists")
  }

  test("ngramJaccardPairs (blocked) leaves NO cache behind — sets are built inline") {
    spark.sparkContext.getPersistentRDDs.size
    def cachedIds = spark.sparkContext.getPersistentRDDs.keySet
    val baseline = cachedIds
    Dedup.ngramJaccardPairs(corpus, "doc_id", "text", 2, 0.1).count()
    assert((cachedIds -- baseline).isEmpty,
      "the two-read blocked path must not materialize a sets cache")
  }

  test("decontaminationPairs: catches a benchmark question buried in a train doc (D7)") {
    val train = Seq(
      (100L, "preamble words here the quick brown fox jumps over the lazy dog and trailing text"),
      (101L, "completely unrelated training material about query engines")
    ).toDF("doc_id", "text")
    val test = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"), // contained in 100
      (2L, "no overlap with anything at all whatsoever truly")
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminationPairs(train, test, "doc_id", "text", 3, 0.5, maxDf = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.map(t => (t._1, t._2)).toSeq == Seq((1L, 100L)),
      "only the contaminated (test, train) pair may surface")
    assert(out.head._3 == 1.0, "every test trigram appears in the train doc")
    // the same pair's Jaccard is low — containment is the right metric here
    val jac = Dedup.ngramJaccardPairs(
      train.select(col("doc_id"), col("text"))
        .unionByName(test.filter(col("doc_id") === 1)), "doc_id", "text", 3, 0.0)
      .filter(col("id_1") === 1 && col("id_2") === 100)
      .select("jaccard").collect()(0).getDouble(0)
    assert(jac < 0.6, s"jaccard ($jac) understates the containment (1.0)")
  }

  test("minhashSignature: deterministic, one column per permutation (D2 API)") {
    val sig = Dedup.minhashSignature(corpus, "doc_id", "text", n = 2, perms = 16)
    assert(sig.columns.toSeq == "doc_id" +: (0 until 16).map(p => s"mh_$p"))
    val a = sig.collect().map(_.toString).sorted.toSeq
    val b = Dedup.minhashSignature(corpus, "doc_id", "text", n = 2, perms = 16)
      .collect().map(_.toString).sorted.toSeq
    assert(a == b, "signatures must be reproducible run-to-run")
  }

  test("minhashNearDups: bloom-pruned verify branch equals the plain verify (D2 1000× regime)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def run(minRows: Long) = Dedup.minhashNearDupsPlain(docs, "doc_id", "text", 0.5,
      pruneVerifyMinRows = minRows)
      .select("id_1", "id_2", "jaccard").as[(Long, Long, Double)].collect().toSet
    // minRows = 0 forces the WHOLE big-corpus path a >=1M-doc corpus
    // takes: the corpus-derived band-exchange widening (both self-join
    // sides repartitioned by the join keys), the candidate materialize,
    // and the distinct-id bloom prune of the verify sides. The widening
    // only re-keys exchanges and the bloom is a superset filter, so
    // results must be identical to the plain lazy verify
    assert(run(minRows = 0L) == run(minRows = Long.MaxValue),
      "pruned verify must be result-identical to the plain verify")
  }

  test("minhashNearDupsCollapsed: equals the plain LSH on a duplicate-heavy corpus (D2f)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // every 3rd doc re-enters with a shifted id — the exact-dup regime the
    // collapse exists for; the collapsed path must return the SAME relation
    val dups = docs.filter(col("doc_id") % 3 === 0)
      .withColumn("doc_id", col("doc_id") + 1000000L)
    val union = docs.unionByName(dups)
    def pairs(frame: org.apache.spark.sql.DataFrame) =
      frame.select("id_1", "id_2", "jaccard").as[(Long, Long, Double)].collect().toSet
    val plain = pairs(Dedup.minhashNearDupsPlain(union, "doc_id", "text", 0.5))
    val collapsed = pairs(Dedup.minhashNearDupsCollapsed(union, "doc_id", "text", 0.5))
    assert(collapsed == plain,
      "collapse-then-expand must be result-identical to the plain LSH")
  }

  test("minhashNearDupsCollapsed: identical short texts (< n words) emit no pair, like the plain path (D2f)") {
    val shorts = Seq((1L, "two words"), (2L, "two words"), (3L, "")).toDF("doc_id", "text")
    assert(Dedup.minhashNearDupsCollapsed(shorts, "doc_id", "text", 0.5).count() == 0L,
      "empty shingle sets score 0 in the plain verify — the expansion must agree")
    assert(Dedup.minhashNearDupsPlain(shorts, "doc_id", "text", 0.5).count() == 0L)
  }

  test("minhashNearDups: no false positives; full recall on high-jaccard pairs (D2)") {
    val got = Dedup.minhashNearDups(corpus, "doc_id", "text", 0.5, n = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val truth = bruteJaccard(corpus, 2)
    // verification stage guarantees zero false positives
    got.foreach { case (k, j) =>
      assert(truth(k) >= 0.5 - 1e-9, s"false positive $k at j=$j")
    }
    // 32x2 banding: P[candidate] at j>=0.5 is 1-(1-j^2)^32 >= 0.9999
    val want = truth.filter(_._2 >= 0.5).keySet
    assert(got.keySet == want, "high-jaccard pairs must all be found")
  }

  test("connectedComponents: multi-hop chains collapse; disjoint clusters stay apart (D6)") {
    // chain 1-2-3-4 (one component via transitivity) + pair 10-11 + 20-21;
    // both the local union-find fast path (default) and the distributed
    // label-propagation loop (localEdgeLimit = 0) must agree
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (21L, 20L))
      .toDF("id_1", "id_2")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L)
    for (limit <- Seq(1L << 20, 0L)) {
      val out = Dedup.connectedComponents(pairs, localEdgeLimit = limit)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out == want, s"localEdgeLimit=$limit")
    }
  }

  test("connectedComponents converges for STRING ids (join-based check path, D6)") {
    // a 6-hop path whose min id sits at one end: the decimal-sum
    // convergence shortcut would see null casts (constant zero sum) and
    // stop after one round, leaving far nodes mislabeled
    val pairs = Seq("u1" -> "u2", "u2" -> "u3", "u3" -> "u4", "u4" -> "u5",
      "u5" -> "u6", "u6" -> "u7", "x9" -> "x8")
      .toDF("id_1", "id_2")
    for (limit <- Seq(1L << 20, 0L)) {
      val out = Dedup.connectedComponents(pairs, localEdgeLimit = limit)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert((1 to 7).forall(i => out(s"u$i") == "u1"),
        s"chain must collapse to u1 (localEdgeLimit=$limit): $out")
      assert(out("x8") == "x8" && out("x9") == "x8")
    }
  }

  test("keepCanonical drops every cluster member except the min id (D6)") {
    val docs = Seq(1L, 2L, 3L, 4L, 10L, 11L, 99L).toDF("doc_id")
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_1", "id_2")
    val kept = Dedup.keepCanonical(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 10L, 99L), "min per cluster + untouched singletons survive")
  }

  test("keepBest keeps the max-score member, ties to min id (D6d)") {
    val docs = Seq((1L, 5L), (2L, 9L), (3L, 9L), (4L, 1L), (10L, 0L), (99L, 7L))
      .toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 10L)).toDF("id_1", "id_2")
    val kept = Dedup.keepBest(docs, "doc_id", pairs, "score")
      .select("doc_id").as[Long].collect().toSet
    // {1,2,3}: max score 9 held by 2 and 3 → min id 2 wins (NOT min-id 1,
    // which d6b would keep); {4,10}: 4 wins on score; singleton 99 untouched
    assert(kept == Set(2L, 4L, 99L), s"got $kept")
  }

  test("keepBest resolves clusters with null scores (all-null → min id; " +
    "partial-null → best non-null)") {
    val docs = Seq(
      (1L, Some(5L)), (2L, None), (3L, Some(9L)),   // cluster {1,2,3}: 3 wins
      (4L, None), (10L, None),                      // cluster {4,10}: all-null → min id 4
      (99L, None)                                   // untouched singleton survives
    ).toDF("doc_id", "score")
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 10L)).toDF("id_1", "id_2")
    val kept = Dedup.keepBest(docs, "doc_id", pairs, "score")
      .select("doc_id").as[Long].collect().toSet
    // pre-fix, {4,10} elected NO winner (max of nulls = null ≠ null under
    // equi-join) and BOTH survived; every cluster must resolve exactly one
    assert(kept == Set(3L, 4L, 99L), s"got $kept")
  }

  test("minhashNearDupsCollapsed excludes null texts (no empty↔null pair at n=1)") {
    val docs = Seq(
      (1L, "alpha beta"), (2L, "alpha beta"),  // exact-dup class
      (3L, ""),                                // empty text
      (5L, "gamma delta")
    ).toDF("doc_id", "text")
      .unionByName(Seq(Tuple1(4L)).toDF("doc_id")
        .withColumn("text", lit(null).cast("string")))
    for (n <- Seq(1, 3)) {
      val got = Dedup.minhashNearDupsCollapsed(docs, "doc_id", "text", 0.5, n = n)
        .select("id_1", "id_2").as[(Long, Long)].collect().toSet
      val want = Dedup.minhashNearDupsPlain(docs, "doc_id", "text", 0.5, n = n)
        .select("id_1", "id_2").as[(Long, Long)].collect().toSet
      // pre-fix, the null doc shared the empty doc's md5("") fingerprint and
      // n=1 emitted (3,4) at jaccard 1.0 — a pair the plain path scores 0
      assert(got == want, s"n=$n: collapsed=$got plain=$want")
      assert(!got.contains((3L, 4L)), s"n=$n: empty↔null must never pair")
    }
  }

  test("semDedup = keepCanonical over within-cell cosine pairs (D10)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val t = 0.4
    val got = Dedup.semDedup(emb, "vec_id", "embedding", dim = 64, k = 8,
      threshold = t).select("vec_id").as[Long].collect().toSet
    // reference: the same k-means cells joined onto the EXACT all-pairs
    // relation, pairs kept only when both sides share a cell
    val cells = Similarity
      .kmeansAssign(emb, "vec_id", "embedding", dim = 64, k = 8)
      .select(col("vec_id"), col("cell"))
    val all = Dedup.embeddingNearDups(emb, "vec_id", "embedding", t)
    val within = all
      .join(cells.select(col("vec_id").as("id_1"), col("cell").as("c1")), "id_1")
      .join(cells.select(col("vec_id").as("id_2"), col("cell").as("c2")), "id_2")
      .filter(col("c1") === col("c2")).select("id_1", "id_2")
    val want = Dedup.keepCanonical(emb, "vec_id", within)
      .select("vec_id").as[Long].collect().toSet
    assert(got == want, "semDedup must equal the composed reference")
    assert(got.size < emb.count(), "fixture must actually drop something")
  }

  test("sparse-path rare join: bloom-pruned shuffle branch equals broadcast branch (D4d 1000× regime)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val sets = Dedup.shingleSets(docs, "doc_id", "text", 3)
    def run(bcast: Boolean) =
      Dedup.sparseJaccardFromSets(sets, "doc_id", 0.2, maxDf = 6,
        broadcastRareKeys = bcast, pruneVerify = true)
        .select("id_1", "id_2", "jaccard").as[(Long, Long, Double)]
        .collect().toSet
    // broadcastRareKeys=false + pruneVerify=true is the bloom branch (the
    // past-the-broadcast-limit plan); the bloom is a superset filter and
    // the equi-join stays, so results must be identical
    assert(run(bcast = false) == run(bcast = true),
      "bloom-pruned rare join must be result-identical to the broadcast form")
  }

  test("semDedupIncremental: kept = batch minus within-cell corpus dups (D10c)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val batch = emb.filter(col("vec_id") % 11 === 0)
    val corpus = emb.filter(col("vec_id") % 11 =!= 0)
    val t = 0.4
    val kept = Dedup.semDedupIncremental(batch, corpus, "vec_id", "embedding",
      dim = 64, k = 4, threshold = t).select("vec_id").as[Long].collect().toSet
    // independent reference: frozen centroids from the trained corpus
    // cells, batch assigned by driver-side argmax (cos DESC, cell ASC),
    // dup check = any same-cell corpus vector at cosine >= t
    val cc = Similarity.kmeansAssign(corpus, "vec_id", "embedding", dim = 64, k = 4)
    val cents = Similarity.labelCentroidVectors(cc, "cell", "embedding", 64)
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      math.round(dot / (na * nb) * 1e6) / 1e6
    }
    val corpusByCell = cc.select("cell", "embedding").as[(Int, Seq[Float])]
      .collect().groupBy(_._1)
    val want = batch.select("vec_id", "embedding").as[(Long, Seq[Float])]
      .collect().filter { case (_, v) =>
        val cell = cents.map { case (cl, cv) => (cos(v, cv.toSeq), -cl) }
          .max match { case (_, negCl) => -negCl }
        !corpusByCell.getOrElse(cell, Array.empty).exists(e => cos(v, e._2) >= t)
      }.map(_._1).toSet
    assert(kept == want, "ingest must equal the driver-side reference")
    assert(kept.size < batch.count(), "fixture must actually drop something")
  }

  test("semDedupCellStats: histogram accounts for every vector; costs exact (D10b)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val hist = Dedup.semDedupCellStats(emb, "vec_id", "embedding", dim = 64, k = 4)
      .orderBy("cell_size").as[(Long, Long, Long, Long)].collect().toSeq
    assert(hist.map { case (cs, n, _, _) => cs * n }.sum == emb.count(),
      "strata must partition the corpus")
    var cum = 0L
    hist.foreach { case (cs, n, cost, cumCost) =>
      assert(cost == n * (cs * (cs - 1) / 2), s"cost at cell_size=$cs")
      cum += cost
      assert(cumCost == cum, s"cum at cell_size=$cs")
    }
  }

  test("simhash: deterministic, 60-bit, near-dups differ in few bits (D3)") {
    val sh = Dedup.simhash(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val again = Dedup.simhash(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh == again, "sketch must be run-deterministic")
    sh.values.foreach(v => assert(v >= 0 && v < (1L << 60)))
    assert(sh(1L) == sh(6L), "identical docs -> identical sketch")
    val hammingNear = java.lang.Long.bitCount(sh(1L) ^ sh(2L))
    val hammingFar = java.lang.Long.bitCount(sh(1L) ^ sh(5L))
    assert(hammingNear < hammingFar, "near-dup pair closer in Hamming space than unrelated")
  }

  test("simhashNearDups equals the all-pairs Hamming filter (pigeonhole recall, D3b)") {
    val sh = Dedup.simhash(corpus, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (for {
      a <- sh.keys; b <- sh.keys if a < b
      h = java.lang.Long.bitCount(sh(a) ^ sh(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    val got = Dedup.simhashNearDups(corpus, "doc_id", "text", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).toSet
    assert(got == want)
  }

  test("embeddingNearDups (blocked) equals brute-force cosine threshold join (D5)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val got = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.4, blocks = 8)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    val brute = emb.select(col("vec_id").as("id_1"), col("embedding").as("v1"))
      .crossJoin(emb.select(col("vec_id").as("id_2"), col("embedding").as("v2")))
      .filter(col("id_1") < col("id_2"))
      .filter(round(graft.functions.Vectors.cosine(col("v1"), col("v2")), 6) >= 0.4)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(got == brute)
  }

  test("embeddingNearDupsLSH: measured recall vs the exact path (D5b scale path)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.45)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    val lsh = Dedup.embeddingLshBanded(emb, "vec_id", "embedding", 0.45,
      dim = 64, bands = 32, bitsPerBand = 4, ordinal = false)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(lsh.subsetOf(exact), "exact verification stage forbids false positives")
    val recall = if (exact.isEmpty) 1.0 else lsh.size.toDouble / exact.size
    info(f"embeddingNearDupsLSH recall at 0.45 (32x4): $recall%.3f over ${exact.size} pairs")
    assert(recall >= 0.9, f"S-curve predicts ~0.998 recall; measured $recall%.3f")

    // the ordinal (oracle-checkable) sketch family shares the same
    // collision S-curve — same banding must deliver comparable recall
    val ord = Dedup.embeddingLshBanded(emb, "vec_id", "embedding", 0.45,
      dim = 64, bands = 32, bitsPerBand = 4, ordinal = true)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(ord.subsetOf(exact), "ordinal path: exact verify forbids false positives")
    val ordRecall = if (exact.isEmpty) 1.0 else ord.size.toDouble / exact.size
    info(f"embeddingNearDupsLSH(ordinal) recall at 0.45 (32x4): $ordRecall%.3f")
    assert(ordRecall >= 0.9, f"ordinal S-curve matches sign-LSH; measured $ordRecall%.3f")
  }

  test("exactIncrementalBloom: identical result to the plain anti join (bloom prunes, never changes semantics)") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val batch = docs.filter(col("doc_id") % 5 === 0)
    val corpus = docs.filter(col("doc_id") % 5 =!= 0)
    val plain = Dedup.exactIncremental(batch, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    val bloom = Dedup.exactIncrementalBloom(batch, corpus, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(bloom == plain, "bloom path must be exactly the anti-join result")
    // tight fpp changes bits, not semantics
    val tight = Dedup.exactIncrementalBloom(batch, corpus, "doc_id", "text", fpp = 0.001)
      .select("doc_id").as[Long].collect().toSet
    assert(tight == plain)
  }

  test("fuzzyNearDups: catches character edits, rejects reorderings token sims accept (D9)") {
    import org.apache.spark.sql.functions.col
    // "the" appears twice: dropping ONE occurrence leaves the distinct
    // token set (hence the simhash sketch) unchanged — a pure
    // character-level edit, the case token similarity cannot see
    val base = "the quick brown fox jumps over the lazy dog near a quiet river bank today"
    val docs = Seq(
      (1L, base),
      (2L, base.replaceFirst("over the lazy", "over lazy")),  // -4 chars, same token set
      (3L, base.split(" ").reverse.mkString(" ")),            // same tokens, reordered
      (4L, "an entirely different document about training data pipelines and dedup")
    ).toDF("doc_id", "text")
    val out = Dedup.fuzzyNearDups(docs, "doc_id", "text", maxDist = 5)
      .select("id_1", "id_2", "edit_dist").as[(Long, Long, Long)].collect().toSeq
    assert(out.map(p => (p._1, p._2)) == Seq((1L, 2L)),
      s"only the character-edit pair survives the edit gate: $out")
    assert(out.head._3 == 4L, "one dropped 'the ' = distance 4")
    // the reordering IS a simhash candidate (identical sketch) — the
    // edit gate is what rejects it
    val cand = Dedup.simhashNearDups(docs, "doc_id", "text", 3)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(cand.contains((1L, 3L)), "reordered doc collides in token space")
  }

  test("embedNearDupAuto picks the branch the measured admission dictates (D5f/D5g)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id_1", "id_2", "cosine").as[(Long, Long, Double)].collect().toSet
    // 32×4 bands price above the 1/10 admission gate → the blocked-exact
    // branch (full recall) must come back bit-for-bit
    val auto = rows(Dedup.embeddingNearDupsLSH(emb, "vec_id", "embedding", 0.45,
      dim = 64, bands = 32, bitsPerBand = 4, ordinal = true))
    val exact = rows(Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.45))
    assert(auto == exact, "over-gate admission must take the exact branch")
    // 16×8 bands price under the gate → the LSH branch (S-curve recall)
    val autoLsh = rows(Dedup.embeddingNearDupsLSH(emb, "vec_id", "embedding", 0.45,
      dim = 64, bands = 16, bitsPerBand = 8, ordinal = true))
    val lsh = rows(Dedup.embeddingLshBanded(emb, "vec_id", "embedding", 0.45,
      dim = 64, bands = 16, bitsPerBand = 8, ordinal = true))
    assert(autoLsh == lsh, "under-gate admission must take the LSH branch")
    assert(lsh.subsetOf(exact) && lsh != exact,
      "the two branches are genuinely different plans on this fixture")
    // degenerate frames choose without crashing
    assert(Dedup.embeddingNearDupsLSH(emb.limit(1), "vec_id", "embedding", 0.45,
      dim = 64, bands = 4, bitsPerBand = 4, ordinal = true).count() == 0)
  }

  test("fuzzyIncremental keeps only batch docs with no typo-level corpus dup (D9d)") {
    val base = "the quick brown fox jumps over the lazy dog near a quiet river bank today"
    val corpus = Seq((10L, base),
      (11L, "completely unrelated corpus content about distributed query planning")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (1L, base.replaceFirst("over the lazy", "over lazy")), // 4-char edit of corpus 10 → filtered
      (2L, base.split(" ").reverse.mkString(" ")),           // same token set (sketch collides), edit-far → kept
      (3L, "an entirely different new document about training data pipelines")
    ).toDF("doc_id", "text")
    val kept = Dedup.fuzzyIncremental(batch, corpus, "doc_id", "text", maxDist = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L),
      s"only the character-edit dup is filtered; the reordering passes the edit gate: $kept")
    // empty corpus keeps everything; empty batch survives
    assert(Dedup.fuzzyIncremental(batch, corpus.filter(col("doc_id") < 0),
      "doc_id", "text", 5).count() == 3)
    assert(Dedup.fuzzyIncremental(batch.filter(col("doc_id") < 0), corpus,
      "doc_id", "text", 5).count() == 0)
  }

  test("decontaminationExactNgram flags any verbatim n-gram overlap, exactly (D7e)") {
    val words = (1 to 30).map(i => s"w$i")
    val benchText = words.take(15).mkString(" ")
    val train = Seq(
      // shares the full 13-gram window w1..w13 and w2..w14, w3..w15 → 3 hits
      (1L, words.take(20).mkString(" ")),
      // shares 12 consecutive words only — under the 13-gram bar, clean
      (2L, (words.take(12) ++ Seq("zzz") ++ words.slice(20, 27)).mkString(" ")),
      (3L, "an entirely different document about nothing shared at all " +
        "padded out to be long enough for thirteen gram windows to exist ok")
    ).toDF("doc_id", "text")
    val bench = Seq((100L, benchText)).toDF("doc_id", "text")
    val hits = Dedup.decontaminationExactNgram(train, bench, "doc_id", "text", n = 13)
      .as[(Long, Long)].collect().toMap
    assert(hits == Map(1L -> 3L),
      s"only doc 1 leaks, with exactly 3 distinct shared 13-grams: $hits")
    // tight-fpp bloom changes bits, never the (exact) result
    val tight = Dedup.decontaminationExactNgram(train, bench, "doc_id", "text",
      n = 13, fpp = 0.3)
      .as[(Long, Long)].collect().toMap
    assert(tight == hits, "bloom fpp affects pruning, not the verified result")
  }

  test("embeddingIncrementalAuto picks the branch the cross-admission dictates (D5h/D5i)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val batch = emb.filter(col("vec_id") % 11 === 0)
    val corp = emb.filter(col("vec_id") % 11 =!= 0)
    def ids(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").as[Long].collect().toSet
    // 32×4: cross-admission over the gate → the bounded-broadcast exact
    // scan; its result is definitionally the exact kept-set
    val auto = ids(Dedup.embeddingIncremental(batch, corp, "vec_id", "embedding",
      0.45, dim = 64, bands = 32, bitsPerBand = 4, ordinal = true))
    val exact = ids(Dedup.embeddingIncrementalExact(batch, corp, "vec_id", "embedding", 0.45))
    assert(auto == exact, "over-gate cross-admission must take the exact branch")
    // 16×8: under the gate → the banded probe (S-curve recall)
    val autoLsh = ids(Dedup.embeddingIncremental(batch, corp, "vec_id", "embedding",
      0.45, dim = 64, bands = 16, bitsPerBand = 8, ordinal = true))
    val lsh = ids(Dedup.embeddingIncrementalBanded(batch, corp, "vec_id", "embedding",
      0.45, dim = 64, bands = 16, bitsPerBand = 8, ordinal = true))
    assert(autoLsh == lsh, "under-gate cross-admission must take the banded probe")
    // the exact scan is the recall ceiling: every exact-kept id survives
    // the (possibly recall-lossy) banded probe too
    assert(exact.subsetOf(lsh))
  }

  test("fuzzyCellStats: every chunk row lands in exactly one home cell (D9c)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val stats = Dedup.fuzzyCellStats(docs, "doc_id", "text", maxDist = 40)
      .select("cell_size", "n_cells", "pair_cost", "cum_pair_cost")
      .as[(Long, Long, Long, Long)].collect().sortBy(_._1)
    val rows = stats.map(s => s._1 * s._2).sum
    assert(rows == 4L * docs.count(), "4 chunk rows per doc, one home cell each")
    stats.foreach { case (c, n, cost, _) =>
      assert(cost == n * (c * (c - 1) / 2), "within-cell pricing is n·c(c−1)/2")
    }
    assert(stats.map(_._4).toSeq == stats.scanLeft(0L)(_ + _._3).tail.toSeq,
      "cum_pair_cost is the running total by ascending cell size")
  }

  test("fuzzyNearDupsBudget: unbounded budget reproduces fuzzyNearDups bit-for-bit (D9b)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val full = Dedup.fuzzyNearDupsBanded(docs, "doc_id", "text", maxDist = 40)
      .as[(Long, Long, Long)].collect().toSet
    val unbounded = Dedup.fuzzyNearDupsBudget(docs, "doc_id", "text",
      maxDist = 40, budgetPairs = Long.MaxValue)
      .as[(Long, Long, Long)].collect().toSet
    assert(unbounded == full, "no cell over an unbounded cap ⇒ identical result")
  }

  test("fuzzyNearDupsBudget: a binding budget prunes a subset, keeps exact distances (D9b)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val full = Dedup.fuzzyNearDupsBanded(docs, "doc_id", "text", maxDist = 40)
      .as[(Long, Long, Long)].collect()
      .map(t => ((t._1, t._2), t._3)).toMap
    val capped = Dedup.fuzzyNearDupsBudget(docs, "doc_id", "text",
      maxDist = 40, budgetPairs = 3000L)
      .as[(Long, Long, Long)].collect()
    assert(capped.nonEmpty, "budget 3000 must stay productive on the fixture")
    capped.foreach { case (a, b, dist) =>
      assert(full.get((a, b)).contains(dist),
        s"capped survivor ($a,$b) must carry the exact full-run distance")
    }
  }

  test("fuzzyNearDupsAuto: non-binding gate takes the unbounded plan, identical result (D9e)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val full = Dedup.fuzzyNearDupsBanded(docs, "doc_id", "text", maxDist = 40)
      .as[(Long, Long, Long)].collect().toSet
    // fixture: total within-cell cost ~4k ≤ 64 × 500 docs — the gate must
    // pick the full-admission branch and the result must be bit-identical
    val auto = Dedup.fuzzyNearDups(docs, "doc_id", "text", maxDist = 40,
      pairsPerDoc = 64L)
      .as[(Long, Long, Long)].collect().toSet
    assert(auto == full, "non-binding budget ⇒ identical to the full-admission plan")
  }

  test("fuzzyNearDupsAuto: binding gate equals fuzzyNearDupsBudget at the derived budget (D9e)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val nDocs = docs.count()
    // pairsPerDoc = 1 forces the capped branch (total cost ~4k > 500)
    val auto = Dedup.fuzzyNearDups(docs, "doc_id", "text", maxDist = 40,
      pairsPerDoc = 1L)
      .as[(Long, Long, Long)].collect().toSet
    val budget = Dedup.fuzzyNearDupsBudget(docs, "doc_id", "text",
      maxDist = 40, budgetPairs = nDocs)
      .as[(Long, Long, Long)].collect().toSet
    assert(auto == budget, "binding branch must equal the budget entry at pairsPerDoc × nDocs")
    val full = Dedup.fuzzyNearDupsBanded(docs, "doc_id", "text", maxDist = 40)
      .as[(Long, Long, Long)].collect().toSet
    assert(auto.subsetOf(full) && auto != full,
      "the binding cap must actually prune on the fixture (subset, not equal)")
  }

  test("exactIncrementalBloom: empty batch and empty corpus edges") {
    import org.apache.spark.sql.functions.col
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val none = docs.filter(col("doc_id") < 0)
    assert(Dedup.exactIncrementalBloom(none, docs, "doc_id", "text").count() == 0,
      "empty batch survives the bloom build (count clamped to 1 item)")
    assert(Dedup.exactIncrementalBloom(docs.limit(7), none, "doc_id", "text").count() == 7,
      "empty corpus keeps the whole batch")
  }

  test("minhashIncremental keeps only batch docs with no corpus near-dup (D2b)") {
    // batch: 1 (near-dup of corpus 2/3/6) and 4 (unrelated) — only 4 survives
    val batch = corpus.filter(col("doc_id").isin(1L, 4L))
    val corp = corpus.filter(!col("doc_id").isin(1L, 4L))
    val kept = Dedup.minhashIncremental(batch, corp, "doc_id", "text",
      threshold = 0.5, n = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(4L), s"doc 1 matches the corpus near-dups, got $kept")
    // empty corpus keeps the whole batch; empty batch yields nothing
    assert(Dedup.minhashIncremental(batch, corpus.filter(col("doc_id") < 0),
      "doc_id", "text", 0.5, n = 2).count() == 2)
    assert(Dedup.minhashIncremental(corpus.filter(col("doc_id") < 0), corp,
      "doc_id", "text", 0.5, n = 2).count() == 0)
  }

  test("embeddingIncremental keeps only batch vectors with no corpus near-dup (D5c)") {
    // batch 1 ≈ corpus 10 (cosine ~1); batch 2 orthogonal to everything
    val batch = Seq(
      (1L, Array(1.0f, 0.0f, 0.01f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val corp = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (11L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val kept = Dedup.embeddingIncremental(batch, corp, "vec_id", "embedding",
      threshold = 0.9, dim = 4, bands = 16, bitsPerBand = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(kept == Set(2L), s"vector 1 matches corpus 10 at cosine ~1, got $kept")
    // empty corpus keeps the batch; empty batch yields nothing
    val none = corp.filter(col("vec_id") < 0)
    assert(Dedup.embeddingIncremental(batch, none, "vec_id", "embedding",
      0.9, dim = 4).count() == 2)
    assert(Dedup.embeddingIncremental(none, corp, "vec_id", "embedding",
      0.9, dim = 4).count() == 0)
  }

  test("materialized-index replay bit-matches the one-shot incremental forms (D2c/D8c/D5d)") {
    val dir = "target/tmp/dedupspec_idx"
    val batch = corpus.filter(col("doc_id").isin(1L, 4L))
    val corp = corpus.filter(!col("doc_id").isin(1L, 4L))
    // MinHash: build → shard to parquet → reload → probe == one-shot
    val mhIndex = Dedup.MinhashIndex("doc_id", "text", n = 2)
    mhIndex.write(corp, s"$dir/mh", shards = 2)
    val mh = mhIndex.probe(batch, mhIndex.read(spark, s"$dir/mh"), 0.5)
      .select("doc_id").as[Long].collect().toSet
    val mhDirect = Dedup.minhashIncremental(batch, corp, "doc_id", "text", 0.5, n = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(mh == mhDirect && mh == Set(4L), s"minhash replay diverged: $mh vs $mhDirect")
    // exact: fingerprint index round-trip == one-shot
    val fpIndex = Dedup.FingerprintIndex("text")
    fpIndex.write(corp, s"$dir/fp", shards = 2)
    val ex = StreamOps.ingestDedupStreaming(batch, fpIndex.read(spark, s"$dir/fp")("fingerprint"),
      "text").select("doc_id").as[Long].collect().toSet
    val exDirect = Dedup.exactIncremental(batch, corp, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(ex == exDirect, s"exact replay diverged: $ex vs $exDirect")
    // decontamination: train sets + df-capped inverted index round-trip ==
    // one-shot (train = corp, test = batch — the d7 screening shape)
    val ciIndex = Dedup.ContainmentIndex("doc_id", "text", n = 2, maxDf = 10)
    ciIndex.write(corp, s"$dir/ci", shards = 2)
    val dc = ciIndex.probe(batch, ciIndex.read(spark, s"$dir/ci"), threshold = 0.5)
      .select("test_id", "train_id", "containment")
      .as[(Long, Long, Double)].collect().toSet
    val dcDirect = Dedup.decontaminationPairs(corp, batch, "doc_id", "text",
      n = 2, threshold = 0.5, maxDf = 10)
      .select("test_id", "train_id", "containment")
      .as[(Long, Long, Double)].collect().toSet
    assert(dc == dcDirect && dc.nonEmpty, s"decontamination replay diverged: $dc vs $dcDirect")
    // embedding: vectors + sketch bands round-trip == one-shot
    val vbatch = Seq(
      (1L, Array(1.0f, 0.0f, 0.01f, 0.0f)),
      (2L, Array(0.0f, 0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val vcorp = Seq(
      (10L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (11L, Array(0.0f, 1.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val embIndex = Dedup.EmbeddingIndex("vec_id", "embedding", dim = 4, bands = 16,
      bitsPerBand = 2)
    embIndex.write(vcorp, s"$dir/emb", shards = 2)
    val emb = embIndex.probe(vbatch, embIndex.read(spark, s"$dir/emb"), 0.9)
      .select("vec_id").as[Long].collect().toSet
    val embDirect = Dedup.embeddingIncrementalBanded(vbatch, vcorp, "vec_id", "embedding",
      0.9, dim = 4, bands = 16, bitsPerBand = 2, ordinal = false)
      .select("vec_id").as[Long].collect().toSet
    assert(emb == embDirect && emb == Set(2L), s"embedding replay diverged: $emb vs $embDirect")
  }

  test("index UPDATE lifecycle: build → probe+update → probe bit-matches a from-scratch rebuild (D2d/D8d/D5 family)") {
    val dir = "target/tmp/dedupspec_idx_update"
    // day-1 corpus; day-2 batch = one near-dup of day 1 + one survivor;
    // day-3 batch = one near-dup OF THE DAY-2 SURVIVOR (caught only if the
    // update landed), one near-dup of day 1, one clean doc
    val day1 = Seq(
      (101L, "alpha beta gamma delta epsilon zeta"),
      (102L, "one two three four five six")).toDF("doc_id", "text")
    val day2 = Seq(
      (201L, "alpha beta gamma delta epsilon eta"),
      (202L, "red orange yellow green blue violet")).toDF("doc_id", "text")
    val day3 = Seq(
      (301L, "red orange yellow green blue indigo"),
      (302L, "one two three four five seven"),
      (303L, "totally fresh content words here now")).toDF("doc_id", "text")

    // ---- MinHash family
    val mh = s"$dir/mh"
    val mhIndex = Dedup.MinhashIndex("doc_id", "text", n = 2)
    mhIndex.write(day1, mh, shards = 2)
    val surv2 = mhIndex.probe(day2, mhIndex.read(spark, mh), 0.5)
    assert(surv2.select("doc_id").as[Long].collect().toSet == Set(202L))
    // stale (day-1-only) index misses the day-2 survivor's near-dup
    val stale = mhIndex.probe(day3, mhIndex.read(spark, mh), 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(stale == Set(301L, 303L), s"stale index should keep 301: $stale")
    mhIndex.append(surv2, mh, shards = 2)
    val day3Updated = mhIndex.probe(day3, mhIndex.read(spark, mh), 0.5)
      .select("doc_id").as[Long].collect().toSet
    // from-scratch rebuild of the day-3 corpus: day-1 ∪ day-2 survivors
    val rebuilt = Dedup.minhashIncremental(day3,
      day1.union(day2.filter(col("doc_id") === 202L)), "doc_id", "text", 0.5, n = 2)
      .select("doc_id").as[Long].collect().toSet
    assert(day3Updated == rebuilt && day3Updated == Set(303L),
      s"updated-index probe $day3Updated != rebuild $rebuilt")

    // ---- exact (fingerprint) family: day-3 carries an exact copy (mod
    // case) of the day-2 survivor
    val fp = s"$dir/fp"
    val e3 = Seq(
      (301L, "red orange yellow green blue indigo"),  // ≠ fingerprint (word differs)
      (302L, "Red Orange Yellow Green Blue Violet!"), // = day-2 survivor's print
      (303L, "something else entirely again")).toDF("doc_id", "text")
    val fpIndex = Dedup.FingerprintIndex("text")
    fpIndex.write(day1, fp, shards = 2)
    val fsurv = StreamOps.ingestDedupStreaming(day2, fpIndex.read(spark, fp)("fingerprint"),
      "text")
    assert(fsurv.select("doc_id").as[Long].collect().toSet == Set(201L, 202L))
    fpIndex.append(fsurv, fp, shards = 2)
    val fUpdated = StreamOps.ingestDedupStreaming(e3, fpIndex.read(spark, fp)("fingerprint"),
      "text").select("doc_id").as[Long].collect().toSet
    val fRebuilt = Dedup.exactIncremental(e3, day1.union(day2), "doc_id", "text")
      .select("doc_id").as[Long].collect().toSet
    assert(fUpdated == fRebuilt && fUpdated == Set(301L, 303L),
      s"fingerprint updated-index probe $fUpdated != rebuild $fRebuilt")

    // ---- embedding family
    val em = s"$dir/emb"
    val v1 = Seq((101L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val v2 = Seq(
      (201L, Array(0.99f, 0.1f, 0.0f, 0.0f)),  // near-dup of 101 → dropped
      (202L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
    val v3 = Seq(
      (301L, Array(0.0f, 0.1f, 0.99f, 0.0f)),  // near-dup of the day-2 survivor
      (302L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val embIndex = Dedup.EmbeddingIndex("vec_id", "embedding", dim = 4, bands = 16,
      bitsPerBand = 2)
    embIndex.write(v1, em, shards = 2)
    val vsurv = embIndex.probe(v2, embIndex.read(spark, em), 0.9)
    assert(vsurv.select("vec_id").as[Long].collect().toSet == Set(202L))
    embIndex.append(vsurv, em, shards = 2)
    // settle the delta shards before day 3: the probe must be identical
    // before and after compaction (the rebuild-equivalence below gates it)
    embIndex.compact(spark, em, shards = 2)
    val vUpdated = embIndex.probe(v3, embIndex.read(spark, em), 0.9)
      .select("vec_id").as[Long].collect().toSet
    val vRebuilt = Dedup.embeddingIncrementalBanded(v3,
      v1.union(v2.filter(col("vec_id") === 202L)), "vec_id", "embedding", 0.9,
      dim = 4, bands = 16, bitsPerBand = 2, ordinal = false)
      .select("vec_id").as[Long].collect().toSet
    assert(vUpdated == vRebuilt && vUpdated == Set(302L),
      s"embedding updated-index probe $vUpdated != rebuild $vRebuilt")
  }

  test("containment index UPDATE: df-crossing shingles tombstone; probe equals from-scratch rebuild (D7c)") {
    val dir = "target/tmp/dedupspec_ci_update"
    // maxDf = 1: "alpha beta" has df 1 in train1 (indexed); the update's
    // doc 3 repeats it → df 2 > cap → its BASE entry must be invalidated,
    // not just the new one skipped
    val train1 = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val train2 = Seq((3L, "alpha beta theta")).toDF("doc_id", "text")
    val tests = Seq((10L, "alpha beta"), (11L, "beta gamma kappa"))
      .toDF("doc_id", "text")
    val ci = Dedup.ContainmentIndex("doc_id", "text", n = 2, maxDf = 1)
    ci.write(train1, dir, shards = 2)
    ci.append(train2, dir, shards = 2)
    val got = ci.probe(tests, ci.read(spark, dir), threshold = 0.5)
      .select("test_id", "train_id", "containment")
      .as[(Long, Long, Double)].collect().toSet
    val want = Dedup.decontaminationPairs(train1.union(train2), tests,
      "doc_id", "text", n = 2, threshold = 0.5, maxDf = 1)
      .select("test_id", "train_id", "containment")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want, s"updated index $got != from-scratch rebuild $want")
    // test 10's only link is the now-over-cap "alpha beta": a stale base
    // entry would resurrect it with containment 1.0
    assert(!got.exists(_._1 == 10L), s"tombstoned shingle resurrected a pair: $got")
    // test 11 still reaches doc 1 through the surviving "beta gamma"
    assert(got.exists(t => t._1 == 11L && t._2 == 1L),
      s"surviving shingles must still produce candidates: $got")
  }

  test("containment index COMPACTION: probe bit-matches pre-compaction; tomb/ dropped, df merged (D7d)") {
    val dir = "target/tmp/dedupspec_ci_compact"
    val train1 = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"))
      .toDF("doc_id", "text")
    val train2 = Seq((3L, "alpha beta theta")).toDF("doc_id", "text")
    val tests = Seq((10L, "alpha beta"), (11L, "beta gamma kappa"))
      .toDF("doc_id", "text")
    val ci = Dedup.ContainmentIndex("doc_id", "text", n = 2, maxDf = 1)
    ci.write(train1, dir, shards = 2)
    ci.append(train2, dir, shards = 2)
    val before = ci.probe(tests, ci.read(spark, dir), threshold = 0.5)
      .select("test_id", "train_id", "containment")
      .as[(Long, Long, Double)].collect().toSet
    ci.compact(spark, dir, shards = 2)
    // tombstones are applied into inv/, so tomb/ must be GONE (the read
    // path's anti-join disappears with it — PlanSpec pins the plan side)
    assert(!new java.io.File(s"$dir/tomb").exists(),
      "compaction must drop tomb/ after applying it")
    // df deltas merged: exactly one row per shingle, cumulative counts
    val dfTab = spark.read.parquet(s"$dir/df")
    assert(dfTab.count() == dfTab.select("sk").distinct().count(),
      "compacted df/ must hold one merged row per shingle")
    assert(dfTab.filter(col("sk").isNotNull).agg(max("df")).as[Long].head() == 2L,
      "merged df must be the SUM of deltas (alpha-beta: 1+1)")
    val after = ci.probe(tests, ci.read(spark, dir), threshold = 0.5)
      .select("test_id", "train_id", "containment")
      .as[(Long, Long, Double)].collect().toSet
    assert(after == before, s"compaction changed the relation: $after != $before")
    // a LATER update against the compacted index still works: tomb/ is
    // recreated on demand and df merges pick up from the compacted row
    val train3 = Seq((4L, "delta epsilon iota")).toDF("doc_id", "text")
    ci.append(train3, dir, shards = 2)
    val day3 = ci.probe(tests, ci.read(spark, dir), threshold = 0.5)
      .select("test_id", "train_id", "containment")
      .as[(Long, Long, Double)].collect().toSet
    val rebuilt = Dedup.decontaminationPairs(train1.union(train2).union(train3),
      tests, "doc_id", "text", n = 2, threshold = 0.5, maxDf = 1)
      .select("test_id", "train_id", "containment")
      .as[(Long, Long, Double)].collect().toSet
    assert(day3 == rebuilt,
      s"post-compaction update diverged from rebuild: $day3 != $rebuilt")
  }

  test("connectedComponentsIncremental: label-contraction fold equals from-scratch (D6c)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.1)
      .select("id_1", "id_2")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val full = Dedup.connectedComponents(pairs)
        .as[(Long, Long)].collect().toMap
      // fold in several disjoint splits — the identity must hold for any
      // partition of the edge set, including one that bridges old clusters
      for (m <- Seq(2L, 3L, 5L)) {
        val isNew = (col("id_1") + col("id_2")) % m === 0
        val labels = Dedup.connectedComponents(pairs.filter(!isNew))
        val merged = Dedup.connectedComponentsIncremental(labels, pairs.filter(isNew))
          .as[(Long, Long)].collect().toMap
        assert(merged == full, s"fold (mod $m) must equal from-scratch")
      }
      // new pairs introducing entirely new ids (no old label) still enter
      val extra = Seq((900001L, 900002L)).toDF("id_1", "id_2")
      val withExtra = Dedup.connectedComponentsIncremental(
        Dedup.connectedComponents(pairs), extra).as[(Long, Long)].collect().toMap
      assert(withExtra(900002L) == 900001L && withExtra(900001L) == 900001L)
      assert((withExtra - 900001L - 900002L) == full)
    } finally { pairs.unpersist(); () }
  }

  test("minhashNearDupPairsFromIndex bit-matches the one-shot self-join (S5j2 input)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val oneShot = Dedup.minhashNearDupsPlain(docs, "doc_id", "text", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val mh = Dedup.MinhashIndex("doc_id", "text")
    val fromIndex = mh.nearDupPairs(mh.rows(docs), 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(oneShot.nonEmpty, "fixture must contain near-dup pairs")
    assert(fromIndex == oneShot,
      "index self-join must reproduce the one-shot banding relation exactly")
  }

  test("shingleDfStats: histogram accounts for every posting; cost columns are exact (D4c)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val hist = Dedup.shingleDfStats(docs, "doc_id", "text", 3)
      .orderBy("df").as[(Long, Long, Long, Long)].collect().toSeq
    assert(hist.nonEmpty)
    // every posting lands in exactly one stratum: sum(df * n_shingles) ==
    // total postings (= sum of per-doc distinct-shingle counts)
    val postings = Dedup.shingleSets(docs, "doc_id", "text", 3)
      .agg(sum("n_sh")).head().getLong(0)
    assert(hist.map { case (df, n, _, _) => df * n }.sum == postings,
      "histogram must partition the posting list")
    // per-stratum cost is n · C(df,2); the cumulative column is its prefix sum
    var cum = 0L
    hist.foreach { case (df, n, cost, cumCost) =>
      assert(cost == n * (df * (df - 1) / 2), s"cost at df=$df")
      cum += cost
      assert(cumCost == cum, s"cum at df=$df")
    }
  }

  test("minhashNearDupsAuto: both branches equal the plain result; the gate picks by measured dup share (D2g)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // every doc re-enters twice: dup share 2/3, well above the 0.2 gate
    val dups = docs.withColumn("doc_id", col("doc_id") + 1000000L)
      .unionByName(docs.withColumn("doc_id", col("doc_id") + 2000000L))
    val corpus = docs.unionByName(dups)
    def pairs(df: DataFrame) = df.select("id_1", "id_2", "jaccard")
      .as[(Long, Long, Double)].collect().toSet
    // the branch is read off the plan: only the collapsed body carries the
    // class fingerprint (`_fp`) through the query
    def collapsed(df: DataFrame) =
      df.queryExecution.analyzed.toString.contains("_fp")
    val heavy = Dedup.minhashNearDups(corpus, "doc_id", "text", 0.5)
    assert(collapsed(heavy), "a dup share over the gate must take the collapsed branch")
    assert(pairs(heavy) == pairs(Dedup.minhashNearDupsPlain(corpus, "doc_id", "text", 0.5)),
      "collapsed branch must bit-match the plain relation")
    // the unique corpus takes the plain branch and stays correct
    val unique = Dedup.minhashNearDups(docs, "doc_id", "text", 0.5)
    assert(!collapsed(unique), "a near-unique corpus must take the plain branch")
    assert(pairs(unique) == pairs(Dedup.minhashNearDupsPlain(docs, "doc_id", "text", 0.5)))
  }

  test("shingleDfStatsSampled: rate=1 equals the exact histogram; sampled rate equals the histogram of the sample (D4e)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // rate = 1: identical to the exact diagnostic, est_* == exact columns
    val full = Dedup.shingleDfStatsSampled(docs, "doc_id", "text", 3, rate = 1.0)
      .orderBy("df")
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSeq
    val exact = Dedup.shingleDfStats(docs, "doc_id", "text", 3)
      .orderBy("df").as[(Long, Long, Long, Long)].collect().toSeq
    assert(full.map(r => (r._1, r._2, r._3, r._4)) == exact,
      "rate=1 must reproduce the exact histogram")
    full.foreach { case (_, _, cost, cum, estCost, estCum) =>
      assert(estCost == cost.toDouble && estCum == cum.toDouble,
        "rate=1 estimates must equal the exact columns")
    }
    // rate = 0.25: exact arithmetic on the deterministic sample — the
    // histogram must equal shingleDfStats over the SAME md5-coin sample,
    // and est_* must be pair_cost / rate^2 (the unbiased full-corpus bill)
    val rate = 0.25
    val sampled = Dedup.shingleDfStatsSampled(docs, "doc_id", "text", 3, rate)
      .orderBy("df")
      .as[(Long, Long, Long, Long, Double, Double)].collect().toSeq
    val replay = Dedup.shingleDfStats(
      Sampling.deterministicSample(docs, "doc_id", rate), "doc_id", "text", 3)
      .orderBy("df").as[(Long, Long, Long, Long)].collect().toSeq
    assert(sampled.map(r => (r._1, r._2, r._3, r._4)) == replay,
      "sampled histogram must be the exact histogram of the sample")
    assert(sampled.nonEmpty && sampled.map(_._2).sum < exact.map(_._2).sum,
      "the fixture sample must actually shrink the shingle space")
    sampled.foreach { case (_, _, cost, cum, estCost, estCum) =>
      assert(estCost == BigDecimal(cost / (rate * rate))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, "est_pair_cost")
      assert(estCum == BigDecimal(cum / (rate * rate))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, "est_cum_pair_cost")
    }
  }

  test("ngramJaccardPairsSparseAuto: unbounded budget = exact; binding budget = hand-derived ceiling (D4d)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // unbounded budget → ceiling = max df → candidates unrestricted; any
    // pair at jaccard >= t shares a shingle, so the result is the exact set
    val exact = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.2)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    val unbounded = Dedup.ngramJaccardPairsSparseAuto(docs, "doc_id", "text", 3, 0.2,
      budgetPairs = Long.MaxValue)
      .select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(unbounded == exact, "unbounded budget must reproduce the exact result")
    // binding budget → the same result as the fixed-cap path at the
    // ceiling derived by hand from the histogram
    val budget = 10000L
    val hist = Dedup.shingleDfStats(docs, "doc_id", "text", 3)
      .orderBy("df").as[(Long, Long, Long, Long)].collect().toSeq
    val ceiling = math.max(2L,
      hist.filter(_._4 <= budget).map(_._1).maxOption.getOrElse(2L))
    assert(ceiling < hist.map(_._1).max, "fixture budget must actually bind")
    val auto = Dedup.ngramJaccardPairsSparseAuto(docs, "doc_id", "text", 3, 0.2,
      budgetPairs = budget).select("id_1", "id_2").as[(Long, Long)].collect().toSet
    val fixed = Dedup.ngramJaccardPairsSparse(docs, "doc_id", "text", 3, 0.2,
      maxDf = ceiling.toInt).select("id_1", "id_2").as[(Long, Long)].collect().toSet
    assert(auto == fixed, s"auto(budget=$budget) must equal fixed(maxDf=$ceiling)")
    assert(auto.nonEmpty, "the binding budget must stay productive on the fixture")
    assert(auto.subsetOf(exact), "pruning may lose recall, never invent pairs")
  }

  test("plain names default into their auto gates (r14 #1): plain == auto bit-for-bit; unbounded = true restores the reference plan") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // each public name returns one of its reference plans, picked by its
    // gate from the input; the reference plans stay callable in graft
    // d9: the fixture's within-cell cost fits the budget → full admission
    def fz(df: org.apache.spark.sql.DataFrame) =
      df.as[(Long, Long, Long)].collect().toSet
    assert(fz(Dedup.fuzzyNearDups(docs, "doc_id", "text", maxDist = 40)) ==
      fz(Dedup.fuzzyNearDupsBanded(docs, "doc_id", "text", maxDist = 40)),
      "fuzzyNearDups under a non-binding budget is the full-admission plan")
    // d5: at 0.45 under 32x4 the gate prices OVER 1/10 admission, so the
    // public name must return the exact branch — a strict SUPERSET of the
    // banded relation on this fixture
    def pr(df: org.apache.spark.sql.DataFrame) =
      df.select("id_1", "id_2").as[(Long, Long)].collect().toSet
    val gatedLsh = pr(Dedup.embeddingNearDupsLSH(emb, "vec_id", "embedding",
      0.45, dim = 64, bands = 32, bitsPerBand = 4, ordinal = true))
    val banded = pr(Dedup.embeddingLshBanded(emb, "vec_id", "embedding",
      0.45, dim = 64, bands = 32, bitsPerBand = 4, ordinal = true))
    assert(banded.subsetOf(gatedLsh),
      "banded recall can never exceed the exact branch")
    assert(gatedLsh == pr(Dedup.embeddingNearDups(emb, "vec_id", "embedding", 0.45)),
      "at 0.45 under 32x4 the gate must have taken the exact branch")
    // d5 incremental: same gate in cross form → the exact scan, whose
    // kept-set is contained in the banded probe's
    val batch = emb.filter(col("vec_id") % 11 === 0)
    val corp = emb.filter(col("vec_id") % 11 =!= 0)
    def ks(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id").as[Long].collect().toSet
    val gatedIncr = ks(Dedup.embeddingIncremental(batch, corp, "vec_id", "embedding",
      0.45, dim = 64, bands = 32, bitsPerBand = 4, ordinal = true))
    assert(gatedIncr == ks(Dedup.embeddingIncrementalExact(batch, corp, "vec_id",
      "embedding", 0.45)), "at 0.45 under 32x4 the gate must take the exact scan")
    assert(gatedIncr.subsetOf(ks(Dedup.embeddingIncrementalBanded(batch, corp, "vec_id",
      "embedding", 0.45, dim = 64, bands = 32, bitsPerBand = 4, ordinal = true))))
  }
}
