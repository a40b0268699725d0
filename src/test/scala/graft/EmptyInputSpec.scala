package graft

import graft.operators._
import graft.functions.Text
import org.apache.spark.sql.functions._

/** Empty-relation semantics (SURVEY §7.4.8): the engine keeps schemas and
  * returns empty results where the reference loses schema or raises —
  * every operator family must degrade to empty, not throw or fabricate.
  */
class EmptyInputSpec extends SparkTestBase {
  import spark.implicits._

  private def emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  test("round-5 additions: empty inputs degrade to empty/zero, never throw") {
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val km = Similarity.kmeansAssign(emptyVecs, "vec_id", "embedding", dim = 4, k = 2, iters = 2)
    assert(km.columns.contains("cell") && km.count() == 0)
    assert(Similarity.quantizedTopK(emptyVecs, emptyVecs, "vec_id", "embedding", 5).count() == 0)
    assert(Dedup.decontaminationPairs(emptyDocs, emptyDocs, "doc_id", "text", 3, 0.5, 50).count() == 0)
    assert(Dedup.exactIncremental(emptyDocs, emptyDocs, "text").count() == 0)
    val emptyNums = Seq.empty[Double].toDF("v")
    assert(Analytics.histogram(emptyNums, "v", 0.0, 1.0, 4).count() == 0)
    val prof = Analytics.profile(emptyNums, Seq("v")).collect()
    assert(prof.length == 1 && prof(0).getLong(1) == 0L && prof(0).getLong(2) == 0L,
      "profile of an empty table reads (0 nulls, 0 distinct), not null")
    assert(Analytics.topNPerGroup(emptyNums.withColumn("k", lit(1)), Seq("k"),
      Seq(col("v").desc), 2).count() == 0)
  }

  test("round-6 additions: empty inputs degrade to empty/zero, never throw") {
    // incremental minhash: empty batch and/or empty corpus
    assert(Dedup.minhashIncremental(emptyDocs, emptyDocs, "doc_id", "text", 0.5).count() == 0)
    // built-in session_window over no events
    val noEvents = Seq.empty[(Long, Long)].toDF("user_id", "ts_us")
    assert(graft.streaming.StreamOps.sessionizeWindow(noEvents, 1800000000L, "1 minute").count() == 0)
  }

  test("round-7 additions: empty inputs degrade to empty/zero, never throw") {
    // materialized indexes built over an empty corpus: empty frames with
    // the right schemas, and probes against them keep the whole batch
    val batch = Seq((1L, "some new document text here")).toDF("doc_id", "text")
    val mh = Dedup.MinhashIndex("doc_id", "text")
    val mhRows = mh.rows(emptyDocs)
    assert(mhRows("sets").count() == 0 && mhRows("bands").count() == 0)
    assert(mh.probe(batch, mhRows, 0.5).count() == 1)
    assert(graft.streaming.StreamOps.ingestDedupStreaming(batch,
      Dedup.FingerprintIndex("text").rows(emptyDocs)("fingerprint"), "text").count() == 1)
    val ci = Dedup.ContainmentIndex("doc_id", "text", 3, 50)
    assert(ci.probe(batch, ci.rows(emptyDocs), 0.5).count() == 0)
    val noVecs7 = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val vb = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val ei = Dedup.EmbeddingIndex("vec_id", "embedding", dim = 4)
    assert(ei.probe(vb, ei.rows(noVecs7), 0.9).count() == 1)
    // exact median over an empty / all-null input yields a null (SQL agg)
    val med = Seq.empty[Double].toDF("v").agg(median(col("v"))).head
    assert(med.isNullAt(0))
  }

  test("round-8 additions: empty inputs degrade to empty/zero, never throw") {
    val dir = "target/tmp/emptyspec_r8"
    val batch = Seq((1L, "some new document text here")).toDF("doc_id", "text")
    // index UPDATE with an EMPTY survivor batch: appends empty deltas,
    // probes are unchanged
    val mh = Dedup.MinhashIndex("doc_id", "text")
    mh.write(batch, s"$dir/mh", shards = 2)
    val other = Seq((2L, "another doc")).toDF("doc_id", "text")
    val before = mh.probe(other, mh.read(spark, s"$dir/mh"), 0.5).count()
    mh.append(emptyDocs, s"$dir/mh", shards = 2)
    assert(mh.probe(other, mh.read(spark, s"$dir/mh"), 0.5).count() == before)
    val fp = Dedup.FingerprintIndex("text")
    fp.write(batch, s"$dir/fp", shards = 2)
    fp.append(emptyDocs, s"$dir/fp", shards = 2)
    assert(fp.read(spark, s"$dir/fp")("fingerprint").count() == 1)
    val ci = Dedup.ContainmentIndex("doc_id", "text", 2, 50)
    ci.write(batch, s"$dir/ci", shards = 2)
    ci.append(emptyDocs, s"$dir/ci", shards = 2)
    assert(ci.probe(batch, ci.read(spark, s"$dir/ci"), 0.5).count() == 1)
    // IVF: empty update is a no-op; empty queries probe to zero rows
    val vb = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val ivf = Similarity.IvfIndex("vec_id", "embedding", dim = 4, k = 1)
    ivf.write(vb, s"$dir/ivf", shards = 2)
    ivf.append(noVecs, s"$dir/ivf", shards = 2)
    val ivfParts = ivf.read(spark, s"$dir/ivf")
    assert(ivfParts("cells").count() == 1)
    assert(ivf.probe(noVecs, ivfParts, topK = 3).count() == 0)
  }

  test("dedup family: empty corpus -> empty outputs, schemas intact") {
    assert(Dedup.exact(emptyDocs, "doc_id", "text").count() == 0)
    val nd = Dedup.minhashNearDups(emptyDocs, "doc_id", "text", 0.5)
    assert(nd.columns.toSeq == Seq("id_1", "id_2", "jaccard") && nd.count() == 0)
    assert(Dedup.ngramJaccardPairs(emptyDocs, "doc_id", "text", 2, 0.1).count() == 0)
    assert(Dedup.simhashNearDups(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("connectedComponents: empty pair set -> empty labels (both paths)") {
    val noPairs = Seq.empty[(Long, Long)].toDF("id_1", "id_2")
    for (limit <- Seq(1L << 20, 0L))
      assert(Dedup.connectedComponents(noPairs, localEdgeLimit = limit).count() == 0)
    // keepCanonical over no pairs keeps everything
    val docs = Seq(1L, 2L).toDF("doc_id")
    assert(Dedup.keepCanonical(docs, "doc_id", noPairs).count() == 2)
  }

  test("pairs / similarity: empty inputs -> empty outputs") {
    assert(Pairs.blockedPairs(emptyDocs, "doc_id", 8).count() == 0)
    val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Similarity.bruteForceTopK(noVecs, noVecs, "vec_id", "embedding", 5).count() == 0)
    assert(Dedup.embeddingNearDups(noVecs, "vec_id", "embedding", 0.5).count() == 0)
  }

  test("aggregation / packing / sampling: empty -> empty (grouped) or null row (global)") {
    assert(Agg.groupAgg(emptyDocs, Seq("doc_id"), Seq("text" -> Seq("count"))).count() == 0)
    // global aggregate over empty input yields ONE row (SQL semantics):
    // count = 0, value aggs null — documented deviation from the
    // reference's schema-less DataFrame({})
    val g = Agg.globalAgg(emptyDocs.withColumn("v", lit(1.0)), Seq("v" -> Seq("count", "sum")))
    val row = g.head
    assert(row.getLong(0) == 0L && row.isNullAt(1))
    assert(Packing.packByTokenBudget(
      Seq.empty[(Long, Long)].toDF("doc_id", "n_tokens"), "doc_id", "n_tokens", 100).count() == 0)
    assert(Sampling.deterministicSample(emptyDocs, "doc_id", 0.5).count() == 0)
  }

  test("text functions: empty string and whitespace-only documents") {
    val edge = Seq((1L, ""), (2L, "   "), (3L, "one")).toDF("doc_id", "text")
    val out = edge.select(
      Text.wsTokens(col("text")).as("t"),
      Text.repetitionScore(col("text")).as("r"),
      Text.qualityScore(col("text")).as("q"),
      Text.fingerprint(col("text")).as("f")).collect()
    out.foreach { r =>
      assert(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2) && !r.isNullAt(3))
      assert(r.getDouble(1) >= 0.0 && r.getDouble(2) >= 0.0)
    }
    // empty and whitespace-only normalize to the same fingerprint
    assert(out(0).getString(3) == out(1).getString(3))
  }

  test("round-9 additions: empty inputs degrade to empty/zero, never throw") {
    // hashed linear scorer over an empty frame: no rows, no throw
    assert(emptyDocs.select(Text.hashedLinearScore(col("text"))).count() == 0)
    // snapshot diff: empty vs empty, empty vs non-empty (all added/removed)
    assert(Ops.snapshotDiff(emptyDocs, emptyDocs, "doc_id", Seq("text")).count() == 0)
    val some = Seq((1L, "a")).toDF("doc_id", "text")
    assert(Ops.snapshotDiff(emptyDocs, some, "doc_id", Seq("text"))
      .collect()(0).getString(1) == "added")
    assert(Ops.snapshotDiff(some, emptyDocs, "doc_id", Seq("text"))
      .collect()(0).getString(1) == "removed")
    // skew stats over an empty table: no rows, schema intact
    val sk = Joins.skewStats(emptyDocs, Seq("doc_id"))
    assert(sk.count() == 0)
  }

  test("round-10 additions: empty inputs degrade to empty/zero, never throw") {
    // bucketed snapshot staging of an empty frame: table registers, diff
    // of two empty bucketed snapshots is empty
    graft.sources.ParquetSink.writeBucketedTable(emptyDocs, "empty_x8b_a",
      "doc_id", 2, "target/tmp/empty_x8b_a")
    graft.sources.ParquetSink.writeBucketedTable(emptyDocs, "empty_x8b_b",
      "doc_id", 2, "target/tmp/empty_x8b_b")
    assert(Ops.snapshotDiff(spark.table("empty_x8b_a"), spark.table("empty_x8b_b"),
      "doc_id", Seq("text")).count() == 0)
    // MAD over an empty frame: empty stats, empty scores, no throw
    assert(Analytics.madScores(emptyDocs.withColumn("v", col("doc_id").cast("double")),
      Seq("text"), "v").count() == 0)
    // normalization of empty/blank strings: empty out, null passes through
    val blank = Seq((1L, ""), (2L, "   \t "), (3L, null.asInstanceOf[String]))
      .toDF("id", "t")
      .select(col("id"), graft.functions.TextNorm.normalizeText(col("t")).as("n"))
      .orderBy("id").collect()
    assert(blank(0).getString(1) == "" && blank(1).getString(1) == "")
    assert(blank(2).isNullAt(1))
    // per-window distinct users over zero events: empty relation
    assert(graft.streaming.StreamOps.windowDistinctUsers(
      emptyDocs.select(col("doc_id").as("user_id"), col("doc_id").as("ts_us")),
      3600000000L, "1 minute").count() == 0)
    // changeset apply with both sides empty: empty, schema intact
    val emptyChanges = emptyDocs.withColumn("change", lit("added"))
      .select("doc_id", "change", "text")
    assert(Ops.applyChangeset(emptyDocs, emptyChanges, "doc_id").count() == 0)
  }

  test("round-13 additions: empty inputs degrade to empty/zero, never throw") {
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    val emptyPairs = Seq.empty[(Long, Long)].toDF("id_1", "id_2")
    // keepBest with no pairs: everything survives (no clusters, no losers)
    val docs = Seq((1L, 3L), (2L, 9L)).toDF("doc_id", "score")
    assert(Dedup.keepBest(docs, "doc_id", emptyPairs, "score").count() == 2)
    assert(Dedup.keepBest(emptyDocs.withColumn("score", lit(1L)),
      "doc_id", emptyPairs, "score").count() == 0)
    // semDedup over an empty corpus: empty, never throws (kmeans emits its
    // typed-null cell column and the pair join finds nothing)
    assert(Dedup.semDedup(emptyVecs, "vec_id", "embedding", dim = 4, k = 2,
      threshold = 0.5).count() == 0)
    // RRF over empty candidate lists: empty fusion; topKRanked keeps schema
    val emptyScored = Seq.empty[(Long, Double)].toDF("id", "score")
    val ranked = operators.Retrieval.topKRanked(emptyScored, "id", "score", 5)
    assert(ranked.columns.toSeq == Seq("id", "rank") && ranked.count() == 0)
    assert(operators.Retrieval.rrfFuse(Seq(ranked, ranked), "id").count() == 0)
  }

  test("round-13 late additions (s5p/x14/t27/d4e): empty inputs degrade to empty, never throw") {
    val emptySrc = Seq.empty[(Long, String, String)].toDF("doc_id", "text", "source")
    // the mixing solver: empty corpus -> empty plan, schema intact
    val plan = Sampling.mixingPlan(emptySrc, "source", "doc_id",
      temperature = 2.0, budget = 1000L)
    assert(plan.columns.toSeq == Seq("source", "n_docs", "n_weight", "share",
      "target_weight", "repeat_factor") && plan.count() == 0)
    // the dataset card
    val card = Analytics.corpusReport(emptySrc, "text", "source")
    assert(card.columns.contains("dup_frac") && card.count() == 0)
    // the fuzzy gate: empty histogram -> nDocs 0, budget 0, total 0
    // -> full-admission branch over nothing (must not divide, throw, or emit)
    assert(Dedup.fuzzyNearDups(emptySrc, "doc_id", "text", maxDist = 40)
      .count() == 0)
  }

  test("round-16 additions: empty inputs degrade to empty/zero, never throw") {
    // the gated embedding LSH branches with an empty corpus: the gate's
    // pairCost/allPairs are both 0 -> banded branch over nothing
    val emptyVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")
    assert(Dedup.embeddingNearDupsLSH(emptyVecs, "vec_id", "embedding", 0.45,
      dim = 4, bands = 4, bitsPerBand = 2).count() == 0)
    assert(Dedup.embeddingIncremental(emptyVecs, emptyVecs, "vec_id",
      "embedding", 0.45, dim = 4, bands = 4, bitsPerBand = 2).count() == 0)
    // simhash pairs (first-agreeing-chunk form) over nothing
    assert(Dedup.simhashNearDups(emptyDocs, "doc_id", "text").count() == 0)
  }

  test("round-17 additions: empty inputs degrade to empty/zero, never throw") {
    // the sparse path on no docs: the df histogram is empty (priced 0),
    // so both the budget-derived and the fixed cap yield no pairs
    assert(Dedup.ngramJaccardPairsSparse(emptyDocs, "doc_id", "text", 3, 0.2,
      budgetPairs = 12000L).count() == 0)
    assert(Dedup.ngramJaccardPairsSparseFixedCap(emptyDocs, "doc_id", "text", 3, 0.2,
      maxDf = 50).count() == 0)
    // slice diagnostic over no clicks: schema intact, zero rows; the
    // derivation then falls back to the horizon (spec'd in StreamOpsSpec)
    val emptyClicks = Seq.empty[(Long, Long)].toDF("user_id", "ts_us")
    val st = graft.streaming.StreamOps.asofSliceStats(emptyClicks,
      "user_id", "ts_us", 3600000000L)
    assert(st.columns.toSeq == Seq("slice_us", "amplification", "n_slots",
      "max_slot", "n_rows") && st.count() == 0)
  }
}
