package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** ANN paths: exact brute-force baseline and LSH recall. */
class SimilaritySpec extends SparkTestBase {
  import spark.implicits._

  test("bruteForceTopK: known ranking with deterministic tiebreak") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),   // closest to 0
      (2L, Array(0.0f, 1.0f)),   // orthogonal to 0
      (3L, Array(0.9f, 0.1f))    // same cosine as 1 -> tie broken by id
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === 0), "vec_id", "embedding", 3)
      .orderBy("rank").select("neighbor_id").as[Long].collect().toSeq
    assert(out == Seq(1L, 3L, 2L), "cosine ties broken by ascending neighbor id")
  }

  test("bruteForceTopK: string ids rank by score desc, ties by ascending id") {
    val vecs = Seq(
      ("q", Array(1.0f, 0.0f)), ("a", Array(0.9f, 0.1f)),
      ("b", Array(0.0f, 1.0f)), ("c", Array(0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(vecs, vecs.filter(col("vec_id") === "q"),
      "vec_id", "embedding", 3)
      .orderBy("rank").select("neighbor_id").as[String].collect().toSeq
    assert(out == Seq("a", "c", "b"), "string ids rank identically (ties by ascending id)")
  }

  test("bruteForceTopK excludes self and returns exactly k per query") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", 4)
    val counts = out.groupBy("query_id").count().select("count").as[Long].collect()
    assert(counts.length == 5 && counts.forall(_ == 4))
    assert(out.filter(col("query_id") === col("neighbor_id")).count() == 0)
  }

  test("signSketch is deterministic and within bit range") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(50)
    val a = emb.select(Similarity.signSketch(col("embedding"), 64, 12).as("s")).as[Long].collect()
    val b = emb.select(Similarity.signSketch(col("embedding"), 64, 12).as("s")).as[Long].collect()
    assert(a.toSeq == b.toSeq)
    a.foreach(v => assert(v >= 0 && v < (1L << 12)))
  }

  test("ordinalSketch: deterministic, in bit range, distinct md5-derived index pairs") {
    val pairs = Similarity.ordinalIndexPairs(64, 16, seed = 7L)
    assert(pairs.length == 16 && pairs.forall { case (a, b) => a != b })
    assert(pairs == Similarity.ordinalIndexPairs(64, 16, seed = 7L), "pairs are a pure function of (dim,bits,seed)")
    assert(pairs != Similarity.ordinalIndexPairs(64, 16, seed = 8L), "seed must matter")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001").limit(50)
    val a = emb.select(Similarity.ordinalSketch(col("embedding"), 64, 12).as("s")).as[Long].collect()
    val b = emb.select(Similarity.ordinalSketch(col("embedding"), 64, 12).as("s")).as[Long].collect()
    assert(a.toSeq == b.toSeq)
    a.foreach(v => assert(v >= 0 && v < (1L << 12)))
  }

  test("lshTopK(ordinal): recall comparable to the sign-sketch path") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ord = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5,
      dim = 64, bits = 6, ordinal = true)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect ord).size.toDouble / exact.size
    info(f"lshTopK(ordinal) recall@5: $recall%.3f")
    // ordinal bits share the sign-LSH collision S-curve (1 - acos(rho)/pi
    // for gaussian coordinates) — same floor as the sign-sketch test
    assert(recall >= 0.2, "ordinal ANN recall must clearly beat random sampling")
  }

  test("ivfTopK: probed-cell candidates only; recall beats random at equal budget") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = Similarity.ivfTopK(emb, queries, "vec_id", "embedding", "label",
      dim = 64, k = 5, probes = 3)
    val got = ivf.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(got.forall { case (q, n) => q != n })
    // every neighbor must come from one of the query's 3 probed cells
    val nCells = emb.select("label").distinct().count()
    val recall = (exact intersect got).size.toDouble / exact.size
    info(f"ivfTopK recall@5 (3 of $nCells cells probed): $recall%.3f")
    assert(recall >= 0.2, "IVF recall must clearly beat random-sampling at ~3/10 budget")
  }

  test("assignCellsJoin (large-k path) bit-matches the inline argmax expression") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    // centroids from a trained run — including ties-by-rounded-cosine
    // territory at 6dp; both paths must pick the lowest cell
    // the 2-iter run's FINAL assignment uses the centroids a 1-iter run
    // re-centers to — recompute those and replay them through the join path
    val viaExpr = Similarity.kmeansAssign(emb, "vec_id", "embedding", dim = 64,
      k = 8, iters = 2).select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val oneIter = Similarity.kmeansAssign(emb, "vec_id", "embedding", dim = 64,
      k = 8, iters = 1)
    val cents = Similarity.labelCentroidVectors(oneIter, "cell", "embedding", 64)
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1).toIndexedSeq
    val viaJoin = Similarity.assignCellsJoin(emb, "vec_id", "embedding",
      cents, "cell").select("vec_id", "cell").as[(Long, Int)].collect().toMap
    // k=8 ≤ the inline threshold, so viaExpr came from the k-branch
    // expression over these same centroids — equality pins path parity
    assert(viaJoin == viaExpr, "broadcast-join argmax must equal the k-branch expression")
  }

  test("assignCellsJoin keeps per-row assignments under duplicate and null ids") {
    val cents = Seq((0, Array(1f, 0f)), (1, Array(0f, 1f)))
    val df = Seq(
      (Option(7L), Seq(1f, 0.1f)),   // → cell 0
      (Option(7L), Seq(0.1f, 1f)),   // same id, different vector → cell 1
      (Option.empty[Long], Seq(0f, 1f)) // null id must still assign → cell 1
    ).toDF("id", "vec")
    val out = Similarity.assignCellsJoin(df, "id", "vec", cents, "cell")
    // pre-fix, id-only grouping collapsed the duplicate id to ONE max-packed
    // cell and a null id vanished under the equi-join; the (id, vec-hash)
    // key keeps one assignment per distinct (id, vector)
    assert(out.count() == 3, "one assignment row per distinct (id, vector)")
    val cells = out.select("id", "cell").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getInt(1))).toSet
    assert(cells == Set((Some(7L), 0), (Some(7L), 1), (None, 1)), s"got $cells")
  }

  test("kmeansAssign: deterministic cells in range; every member is nearest its own centroid") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val a = Similarity.kmeansAssign(emb, "vec_id", "embedding", dim = 64, k = 4, iters = 2)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val b = Similarity.kmeansAssign(emb, "vec_id", "embedding", dim = 64, k = 4, iters = 2)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    assert(a == b, "training is a pure function of (data, k, iters, seed)")
    assert(a.values.forall(c => c >= 0 && c < 4))
    assert(a.values.toSet.size > 1, "corpus must split across cells")
    // Lloyd invariant: after the final assignment, each row's cell is the
    // argmax-cosine centroid of the PREVIOUS re-centering — check via the
    // centroids the final pass actually used (recompute from a 1-iter run)
    val oneIter = Similarity.kmeansAssign(emb, "vec_id", "embedding", dim = 64, k = 4, iters = 1)
    val cents = Similarity.labelCentroidVectors(
      oneIter.withColumnRenamed("cell", "c1"), "c1", "embedding", 64)
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).sortBy(_._1)
    val manual = emb.collect().map { r =>
      val v = r.getAs[scala.collection.Seq[Float]]("embedding").toArray
      def cosine(x: Array[Float], y: Array[Float]): Double = {
        var d = 0.0; var nx = 0.0; var ny = 0.0
        for (i <- x.indices) { d += x(i).toDouble * y(i); nx += x(i).toDouble * x(i); ny += y(i).toDouble * y(i) }
        d / (math.sqrt(nx) * math.sqrt(ny))
      }
      val best = cents.map { case (c, ce) =>
        (BigDecimal(cosine(v, ce)).setScale(6, BigDecimal.RoundingMode.HALF_UP), c) }
        .maxBy { case (s, c) => (s, -c) }._2
      r.getAs[Long]("vec_id") -> best
    }.toMap
    assert(manual == a, "distributed assignment equals the driver-side argmax definition")
  }

  test("ivfTopK over trained k-means cells: recall beats random at equal probe budget") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val withCell = Similarity.kmeansAssign(emb, "vec_id", "embedding", dim = 64, k = 8, iters = 2)
    val got = Similarity.ivfTopK(withCell, queries, "vec_id", "embedding", "cell",
      dim = 64, k = 5, probes = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    info(f"trained-IVF recall@5 (3 of 8 cells probed): $recall%.3f")
    assert(recall >= 0.3, "trained cells must beat the ~3/8 random-sampling baseline")
  }

  test("IVF index round-trip: ivfTopKFromIndex bit-matches the inline trained form") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = "target/tmp/simspec_ivf_idx"
    val ivf = Similarity.IvfIndex("vec_id", "embedding", dim = 64, k = 8, iters = 2)
    ivf.write(emb, dir, shards = 2)
    val queries = emb.filter(col("vec_id") < 10)
    val replay = ivf.probe(queries, ivf.read(spark, dir), topK = 5, probes = 3)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .collect().map(_.mkString("|")).toSet
    val inline = Similarity.ivfTopK(
      Similarity.kmeansAssign(emb, "vec_id", "embedding", dim = 64, k = 8, iters = 2),
      queries, "vec_id", "embedding", "cell", dim = 64, k = 5, probes = 3)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .collect().map(_.mkString("|")).toSet
    assert(replay == inline && replay.nonEmpty,
      s"replay ${replay.size} rows diverged from inline ${inline.size}")
  }

  test("IVF index UPDATE: batch assigned to frozen centroids; probe equals a manual cells-union rebuild") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = "target/tmp/simspec_ivf_update"
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val batch = emb.filter(col("vec_id") % 5 === 0)
    val ivf = Similarity.IvfIndex("vec_id", "embedding", dim = 64, k = 8, iters = 2)
    ivf.write(base, dir, shards = 2)
    ivf.append(batch, dir, shards = 2)
    // settle the appended cell shards: the probe and the frozen-centroid
    // assignment checks below must hold identically after compaction
    ivf.compact(spark, dir, shards = 2)
    val updated = ivf.read(spark, dir)
    // every appended member lands in the cell of its nearest frozen
    // centroid (ties to the lowest cell — the assignment contract)
    val centMap = updated("cents").collect()
      .map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      BigDecimal(d / math.sqrt(na * nb)).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val appended = updated("cells").join(batch.select(col("vec_id")), "vec_id")
      .select("vec_id", "embedding", "cell")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
    assert(appended.length == batch.count())
    appended.foreach { case (id, v, cell) =>
      val best = centMap.toSeq.map { case (c, cv) => (cos(v, cv), -c) }.max
      assert(cell == -best._2, s"vec $id assigned to cell $cell, nearest is ${-best._2}")
    }
    // appended vectors are probe-reachable: querying with a COPY of a
    // batch vector (fresh id, so self-exclusion doesn't fire) must return
    // that very vector as the top neighbor at cosine 1
    val copies = batch.limit(3)
      .select((col("vec_id") + 1000000L).as("vec_id"), col("embedding"))
    val top = ivf.probe(copies, updated, topK = 1, probes = 3)
      .collect().map(r => (r.getLong(0) - 1000000L, r.getLong(1), r.getDouble(2)))
    assert(top.length == 3)
    top.foreach { case (orig, nbr, cosv) =>
      assert(nbr == orig && cosv == 1.0,
        s"copy of appended vec $orig should find it at cosine 1, got $nbr @ $cosv")
    }
  }

  test("ivfIndexStats: occupancy bookkeeping; post-update imbalance is monotone in appended skew") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val ivf = Similarity.IvfIndex("vec_id", "embedding", dim = 64, k = 8, iters = 2)
    def freshIndex(dir: String): Unit = ivf.write(base, dir, shards = 2)
    def stats(dir: String): (Long, Long, Long, Double, Double) = {
      val r = Similarity.ivfIndexStats(spark, dir).collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))
    }
    val dir0 = "target/tmp/simspec_ivf_stats_base"
    freshIndex(dir0)
    val s0 = stats(dir0)
    val baseCells = spark.read.parquet(s"$dir0/cells")
    val occ = baseCells.groupBy("cell").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // bookkeeping against an independently computed occupancy map
    assert(s0._1 == occ.size && s0._2 == occ.values.sum && s0._3 == occ.values.max)
    assert(s0._4 == BigDecimal(occ.values.sum.toDouble / occ.size)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    // same-size appends, opposite skew: all-one-cell copies vs one copy
    // per cell. Copied vectors re-assign to their own (frozen) centroid,
    // so the landing cells are known exactly.
    val hot = occ.maxBy { case (c, n) => (n, -c) }._1
    val cellCount = occ.size
    val skewBatch = baseCells.filter(col("cell") === hot).limit(cellCount)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
    val balBatch = baseCells.withColumn("_rn",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy("cell").orderBy("vec_id")))
      .filter(col("_rn") === 1)
      .select((col("vec_id") + 3000000L).as("vec_id"), col("embedding"))
    val dirSkew = "target/tmp/simspec_ivf_stats_skew"
    val dirBal = "target/tmp/simspec_ivf_stats_bal"
    freshIndex(dirSkew); freshIndex(dirBal)
    ivf.append(skewBatch, dirSkew, shards = 2)
    ivf.append(balBatch, dirBal, shards = 2)
    val (sSkew, sBal) = (stats(dirSkew), stats(dirBal))
    // both appended the same row count...
    assert(sSkew._2 == s0._2 + cellCount && sBal._2 == s0._2 + cellCount)
    // ...but imbalance orders by the skew of what was appended: piling the
    // batch into one cell must read WORSE than the base, and spreading it
    // one-per-cell must read BETTER (the retrain-trigger contract)
    assert(sSkew._5 > s0._5, s"skewed append should raise imbalance: ${sSkew._5} vs ${s0._5}")
    assert(sBal._5 <= s0._5, s"balanced append must not raise imbalance: ${sBal._5} vs ${s0._5}")
    assert(sSkew._5 > sBal._5, s"imbalance must order by appended skew: ${sSkew._5} vs ${sBal._5}")
  }

  test("shouldRetrainIvf derives from measured imbalance; retrainIvfIndex bit-matches a from-scratch union build (r17 #2)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val base = emb.filter(col("vec_id") % 5 =!= 0)
    val dir = "target/tmp/simspec_ivf_retrain"
    val ivf = Similarity.IvfIndex("vec_id", "embedding", dim = 64, k = 8, iters = 2)
    ivf.write(base, dir, shards = 2)
    // appended-skew load: copies of the hottest cell's vectors re-assign
    // to their own frozen centroid, so the append provably piles into one
    // cell and imbalance rises
    val baseCells = spark.read.parquet(s"$dir/cells")
    val hot = baseCells.groupBy("cell").count()
      .collect().maxBy(r => (r.getLong(1), -r.getInt(0))).getInt(0)
    // materialized locally: the lazy frame would re-read cells/ AFTER the
    // retrain swap replaces those files (the exact hazard IvfIndex.retrain's
    // stage-then-swap exists to avoid inside the API)
    val skewRows = baseCells.filter(col("cell") === hot).limit(24)
      .select((col("vec_id") + 2000000L).as("vec_id"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq
    val skewBatch = spark.createDataFrame(skewRows)
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"))
    ivf.append(skewBatch, dir, shards = 2)
    val preImb = Similarity.ivfIndexStats(spark, dir).head().getDouble(4)
    assert(preImb > 1.0, "the skewed append must register as imbalance")
    // the derivation is EXACTLY "measured imbalance exceeds the bound":
    // strictly-below fires, at-or-above holds
    assert(Similarity.shouldRetrainIvf(spark, dir, maxImbalance = preImb - 0.01))
    assert(!Similarity.shouldRetrainIvf(spark, dir, maxImbalance = preImb))
    // the k derivation reads the same stats row: ceil(vectors/target),
    // floored at the current cell count, clamped to maxK
    val vectors = Similarity.ivfIndexStats(spark, dir).head().getLong(1)
    assert(Similarity.deriveIvfK(spark, dir, targetMeanCell = 50)
      == ((vectors + 49) / 50).toInt, "k' = ceil(vectors/target) when it grows")
    assert(Similarity.deriveIvfK(spark, dir, targetMeanCell = 1000000) == 8,
      "a rebuild must never shrink the index's resolution (floor = current cells)")
    assert(Similarity.deriveIvfK(spark, dir, targetMeanCell = 1, maxK = 16) == 16,
      "k' clamps at maxK")
    // the triggered rebuild bit-matches a from-scratch build on the union
    val union = base.select(col("vec_id"), col("embedding"))
      .unionAll(skewBatch)
    ivf.retrain(spark, dir, shards = 4)
    val fresh = ivf.rows(union)
    def cellsSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell", "embedding").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toList)).toSet
    def centsSet(df: org.apache.spark.sql.DataFrame) =
      df.select("cell", "centroid").collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toList)).toSet
    val got = ivf.read(spark, dir)
    assert(cellsSet(got("cells")) == cellsSet(fresh("cells")),
      "retrained cells must equal a from-scratch union build")
    assert(centsSet(got("cents")) == centsSet(fresh("cents")),
      "retrained centroids must equal a from-scratch union build")
    // the stage dir must not survive the swap
    assert(!new java.io.File(s"$dir/retrain_stage").exists())
  }

  test("retrainIvfIndex at the DERIVED k bit-matches a from-scratch build at k' (r18 #1)") {
    // the production pairing (deriveIvfK → IvfIndex.retrain at k') holds the
    // same from-scratch-equality contract as the same-k rebuild: the
    // deterministic Lloyd seeding is a pure function of the id SET at ANY
    // k, so the gate is the identical argument at the derived value. The
    // oracle row (sim_ivf_retrain_k) hash-gates the k'-rebuild's
    // occupancy; this pins the FULL relation.
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val dir = "target/tmp/simspec_ivf_retrain_k"
    graft.sources.ParquetSink.deleteRecursively(new java.io.File(dir))
    val ivf = Similarity.IvfIndex("vec_id", "embedding", dim = 64, k = 8, iters = 2)
    ivf.write(emb.filter(col("vec_id") < 16), dir, shards = 2)
    ivf.append(emb.filter(col("vec_id") >= 16).select("vec_id", "embedding"), dir, shards = 2)
    val kPrime = Similarity.deriveIvfK(spark, dir, targetMeanCell = 32)
    val vectors = Similarity.ivfIndexStats(spark, dir).head().getLong(1)
    assert(kPrime == ((vectors + 31) / 32).toInt && kPrime > 8,
      "the growth branch must bind on this fixture (want > bootstrap cells)")
    ivf.copy(k = kPrime).retrain(spark, dir, shards = 4)
    val fresh = ivf.copy(k = kPrime).rows(emb.select("vec_id", "embedding"))
    def cellsSet(df: org.apache.spark.sql.DataFrame) =
      df.select("vec_id", "cell", "embedding").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toList)).toSet
    def centsSet(df: org.apache.spark.sql.DataFrame) =
      df.select("cell", "centroid").collect()
        .map(r => (r.getInt(0), r.getSeq[Float](1).toList)).toSet
    val got = ivf.read(spark, dir)
    assert(cellsSet(got("cells")) == cellsSet(fresh("cells")),
      "derived-k retrain must equal a from-scratch union build at k'")
    assert(centsSet(got("cents")) == centsSet(fresh("cents")),
      "derived-k retrained centroids must equal a from-scratch build at k'")
  }

  test("quantizeInt8: packed codes are deterministic, in range, zero-vector safe") {
    val vecs = Seq(
      (0L, Array(1.0f, -0.5f, 0.25f)),
      (1L, Array(0.0f, 0.0f, 0.0f)),        // zero vector must not divide by zero
      (2L, Array(-2.0f, 2.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
      .collect().map(r => r.getLong(0) -> r.getAs[Array[Byte]]("q8")).toMap
    assert(q(0L).toSeq == Seq[Byte](127, -64, 32), "round(v*127/max|v|) per element")
    assert(q(1L).toSeq == Seq[Byte](0, 0, 0))
    assert(q(2L).toSeq == Seq[Byte](-127, 127, 64))
  }

  test("byteDot: exact integer dot product over packed codes (codegen path)") {
    val df = Seq((Array(127, -1, 2), Array(127, 1, 3))).toDF("a", "b")
      .select(graft.functions.Vectors.byteDot(
        graft.functions.Vectors.packInt8(col("a")),
        graft.functions.Vectors.packInt8(col("b"))).as("d"))
    assert(df.as[Long].collect()(0) == 127L * 127 - 1 + 6)
  }

  test("quantizedTopK: int8 ranking closely tracks exact cosine top-k") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val got = Similarity.quantizedTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    info(f"int8-quantized recall@5 vs exact cosine: $recall%.3f")
    // int8 dot is an unnormalized cosine proxy — norms vary, so this is the
    // wide-pass recall, not a reranked one
    assert(recall >= 0.4, "quantized wide pass must retain most exact neighbors")
  }

  test("quantizedRerankTopK: rerank recovers exact-cosine ranks the wide pass misorders") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val wide = Similarity.quantizedTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val reranked = Similarity.quantizedRerankTopK(emb, queries, "vec_id", "embedding",
      k = 5, shortlist = 25)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(s: Set[(Long, Long)]) = (exact intersect s).size.toDouble / exact.size
    info(f"recall@5: wide=${recall(wide)}%.3f reranked=${recall(reranked)}%.3f")
    assert(recall(reranked) >= recall(wide), "reranking must not lose recall")
    assert(recall(reranked) >= 0.7, "a 5x shortlist reranked by exact cosine should be near-exact")
  }

  test("lshTopK: measured recall vs exact top-k (declared ANN tradeoff)") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val approxSet = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5, dim = 64, bits = 6)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val recall = (exact intersect approxSet).size.toDouble / exact.size
    info(f"lshTopK recall@5 (6-bit buckets, 1-bit multiprobe): $recall%.3f")
    // 6-bit sketch + 1-bit multiprobe scores ~11% of the corpus per query;
    // on isotropic (structureless) gaussian embeddings the sign-LSH S-curve
    // predicts ~0.3 recall@5 at that budget — real-corpus embeddings with
    // cluster structure do far better. Floor set at the random-scoring
    // baseline x2 (random 11% sampling would land ~0.11).
    assert(recall >= 0.2, "ANN recall must clearly beat the 0.11 random-sampling baseline")
    assert(approxSet.forall { case (q, n) => q != n })
  }

  test("lshTopK probe-broadcast guard: shuffle fallback beyond the cap, identical output") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
    def run(cap: Long) = Similarity.lshTopK(emb, queries, "vec_id", "embedding", 5,
      dim = 64, bits = 6, ordinal = true, maxBroadcastProbes = cap)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cosine", "rank")
        .collect().map(_.mkString("|")).toSeq.sorted
    import org.apache.spark.sql.execution.ExplainMode
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    // disable auto-broadcast so the assertion sees OUR join strategy, not
    // the planner's size-estimate choice (restored after)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hinted = run(Long.MaxValue)
      val guarded = run(0L)
      assert(plan(hinted).contains("BroadcastHashJoin"),
        "under the cap the probe frame is broadcast")
      val pg = plan(guarded)
      assert(!pg.contains("BroadcastHashJoin") && !pg.contains("BroadcastExchange"),
        s"beyond the cap the probe join must not plan a broadcast:\n$pg")
      assert(canon(hinted) == canon(guarded), "join strategy must not change the result")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("ivfTopK probe-broadcast guard: shuffle fallback beyond the cap, identical output") {
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
    def run(cap: Long) = Similarity.ivfTopK(emb, queries, "vec_id", "embedding",
      "label", dim = 64, k = 5, probes = 2, maxBroadcastProbes = cap)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "cosine", "rank")
        .collect().map(_.mkString("|")).toSeq.sorted
    import org.apache.spark.sql.execution.ExplainMode
    def plan(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val hinted = run(Long.MaxValue)
      val guarded = run(0L)
      // the centroid crossJoin broadcasts in BOTH modes (k rows — always
      // tiny); the guard governs only the cell-membership HASH join, so
      // that is the operator the pins look at
      assert(plan(hinted).contains("BroadcastHashJoin"),
        "under the cap the probed frame is broadcast into the cell join")
      assert(!plan(guarded).contains("BroadcastHashJoin"),
        s"beyond the cap the cell join must not plan a broadcast:\n${plan(guarded)}")
      assert(canon(hinted) == canon(guarded), "join strategy must not change the result")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("kmeansAssign reseedEmpty: farthest-point repair restores emptied cells, deterministically") {
    // 8 copies of A force >= 2 seeds onto identical vectors; assignment
    // ties go to the lowest cell, so the duplicate-seed cell EMPTIES after
    // the first re-center. Plain Lloyd drops it; reseedEmpty must re-seed
    // it from the farthest point (C — the one direction no centroid covers)
    // and end with all 3 cells populated.
    val data = ((0L to 7L).map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.0f))) ++
      Seq((8L, Array(0.0f, 1.0f, 0.0f, 0.0f)), (9L, Array(0.0f, 0.0f, 1.0f, 0.0f))))
      .toDF("vec_id", "embedding")
    def cells(reseed: Boolean) =
      Similarity.kmeansAssign(data, "vec_id", "embedding", dim = 4, k = 3, iters = 3,
        reseedEmpty = reseed)
        .select("cell").distinct().as[Int].collect().toSet
    val plain = cells(reseed = false)
    val repaired = cells(reseed = true)
    info(s"plain cells: $plain, repaired cells: $repaired")
    assert(repaired.size >= plain.size, "repair must never lose cells")
    assert(repaired == Set(0, 1, 2), s"all 3 cells populated after repair, got $repaired")
    assert(cells(reseed = true) == repaired, "repair is deterministic")
    // real-corpus recall non-regression: the repaired quantizer must not
    // rank worse than the drop-out quantizer against exact top-k
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(emb, queries, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(reseed: Boolean): Double = {
      val cellsDf = Similarity.kmeansAssign(emb, "vec_id", "embedding", dim = 64,
        k = 16, iters = 2, reseedEmpty = reseed)
      val got = Similarity.ivfTopK(cellsDf, queries, "vec_id", "embedding", "cell",
        dim = 64, k = 5, probes = 3)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val (r0, r1) = (recall(reseed = false), recall(reseed = true))
    info(f"ivf recall@5: plain $r0%.3f, reseeded $r1%.3f")
    assert(r1 >= r0 - 1e-9, "reseeding must not regress recall")
  }

  test("l2Normalize: unit norm, direction preserved, zero/null vectors → null (V2)") {
    import org.apache.spark.sql.functions._
    val df = Seq(
      (1L, Seq(3.0f, 4.0f)),
      (2L, Seq(0.0f, 0.0f)),
      (3L, Seq(-1.0f, 0.0f))
    ).toDF("id", "v")
    val out = Similarity.l2Normalize(df, "v", "unit")
      .select("id", "unit").collect().map(r =>
        r.getLong(0) -> Option(r.getSeq[Double](1))).toMap
    assert(out(1).get.zip(Seq(0.6, 0.8)).forall { case (a, b) => approx(a, b) })
    assert(out(2).isEmpty, "zero vector normalizes to null, not NaN")
    assert(out(3).get.zip(Seq(-1.0, 0.0)).forall { case (a, b) => approx(a, b) })
    val nullRow = Similarity.l2Normalize(
      Seq((4L, null.asInstanceOf[Seq[Float]])).toDF("id", "v"), "v", "unit")
    assert(nullRow.filter(col("unit").isNotNull).count() == 0)
    // corpus-wide: every non-null output has ||unit|| = 1
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val norms = Similarity.l2Normalize(emb, "embedding", "unit")
      .select(aggregate(col("unit"), lit(0.0), (acc, x) => acc + x * x).as("n2"))
      .as[Double].collect()
    assert(norms.forall(n2 => approx(n2, 1.0, 1e-9)), "all corpus vectors unit after normalize")
  }

  test("lshBandStats: per-band buckets account for every row; pair cost matches hand fold (D5e)") {
    import org.apache.spark.sql.functions._
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val n = emb.count()
    val stats = Similarity.lshBandStats(emb, "vec_id", "embedding",
      dim = 64, bands = 8, bitsPerBand = 4, ordinal = true)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(stats.length == 8, "one row per band")
    stats.foreach { case (band, nBuckets, maxB, cost) =>
      assert(nBuckets >= 1 && nBuckets <= 16, s"band $band: 4-bit keys => <=16 buckets")
      assert(maxB <= n && cost >= 0)
    }
    // the diagnostic's whole point: sum(pair_cost) upper-bounds the LSH
    // join's candidate evaluations, and at a low threshold on this corpus
    // it reveals near-total admission (quadratic regime)
    val totalCost = stats.map(_._4).sum
    val allPairs = n * (n - 1) / 2
    assert(totalCost > 0 && totalCost >= allPairs / 2,
      s"fixture regime: bands barely discriminate ($totalCost vs $allPairs)")
  }

  test("assignNearestCentroid: every vector labels with its own cluster's centroid (V3)") {
    import org.apache.spark.sql.functions._
    // two well-separated clusters along different axes
    val rows = (0 until 10).map { i =>
      val base = if (i < 5) Array(1f, 0f, 0f, 0f) else Array(0f, 1f, 0f, 0f)
      val v = base.clone(); v(2) = 0.01f * i // small deterministic jitter
      (i.toLong, if (i < 5) "x" else "y", v.toSeq)
    }
    val df = rows.toDF("vec_id", "label", "embedding")
    val cents = Similarity.labelCentroidVectors(df, "label", "embedding", 4)
    val out = Similarity.assignNearestCentroid(df, "vec_id", "embedding", cents)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(out.length == 10)
    out.foreach { case (id, nearest, cos) =>
      val want = if (id < 5) "x" else "y"
      assert(nearest == want, s"vec $id assigned $nearest, want $want")
      assert(cos > 0.9, s"vec $id cosine $cos to its own centroid")
    }
    // tie resolution: equidistant vector picks the LARGER label (the
    // max(struct) contract the oracle mirrors with label DESC)
    val tie = Seq((99L, "q", Seq(1f, 1f, 0f, 0f))).toDF("vec_id", "label", "embedding")
    val tieOut = Similarity.assignNearestCentroid(tie, "vec_id", "embedding",
      Seq(("a", Seq(1f, 0f, 0f, 0f)), ("b", Seq(0f, 1f, 0f, 0f)))
        .toDF("label", "centroid"))
      .collect().head
    assert(tieOut.getString(1) == "b", "cosine tie must resolve to the larger label")
  }
}
