package graft

import graft.operators.Dedup
import graft.sources.ShardedIndex
import org.apache.spark.sql.DataFrame

/** One lifecycle for every ingest index family: build → append two
  * batches → compact reads exactly the relation a from-scratch build over
  * corpus ∪ batches reads, part by part, and appending an empty batch
  * changes nothing a reader sees.
  */
class ShardedIndexSpec extends SparkTestBase {
  import spark.implicits._

  private val root = "target/tmp/shardedindexspec"

  // the containment rows cross maxDf = 2 ("alpha beta" reaches df 4), so
  // the appends tombstone base entries; doc 8 repeats doc 1's fingerprint
  private val corpus = Seq((1L, "alpha beta gamma"), (2L, "delta epsilon zeta"),
    (3L, "alpha beta eta")).toDF("doc_id", "text")
  private val batch1 = Seq((4L, "alpha beta theta"), (5L, "iota kappa lambda"))
    .toDF("doc_id", "text")
  private val batch2 = Seq((6L, "delta epsilon mu"), (7L, "iota kappa nu"),
    (8L, "Alpha Beta Gamma")).toDF("doc_id", "text")
  private val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")

  private val vecs = Seq((1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
  private val vecs1 = Seq((3L, Array(0.99f, 0.1f, 0.0f, 0.0f)),
    (4L, Array(0.0f, 0.0f, 1.0f, 0.0f))).toDF("vec_id", "embedding")
  private val vecs2 = Seq((5L, Array(0.0f, 0.0f, 0.0f, 1.0f))).toDF("vec_id", "embedding")
  private val noVecs = Seq.empty[(Long, Array[Float])].toDF("vec_id", "embedding")

  private val families: Seq[(String, ShardedIndex, Seq[DataFrame])] = Seq(
    ("fingerprint", Dedup.FingerprintIndex("text"), Seq(corpus, batch1, batch2, noDocs)),
    ("minhash", Dedup.MinhashIndex("doc_id", "text", n = 2), Seq(corpus, batch1, batch2, noDocs)),
    ("containment", Dedup.ContainmentIndex("doc_id", "text", n = 2, maxDf = 2),
      Seq(corpus, batch1, batch2, noDocs)),
    ("embedding", Dedup.EmbeddingIndex("vec_id", "embedding", dim = 4, bands = 16,
      bitsPerBand = 2), Seq(vecs, vecs1, vecs2, noVecs)))

  /** Each part's rows, columns in name order, as a sorted multiset. */
  private def relation(index: Map[String, DataFrame]): Map[String, Seq[String]] =
    index.map { case (name, df) =>
      name -> df.select(df.columns.sorted.map(df(_)).toIndexedSeq: _*)
        .collect().map(_.toString).toSeq.sorted
    }

  for ((name, index, Seq(base, b1, b2, _)) <- families)
    test(s"$name: build, append two batches, compact reads as a from-scratch build") {
      val grown = s"$root/$name/grown"
      val scratch = s"$root/$name/scratch"
      index.write(base, grown, shards = 2)
      index.append(b1, grown, shards = 2)
      index.append(b2, grown, shards = 2)
      index.compact(spark, grown, shards = 2)
      index.write(base.union(b1).union(b2), scratch, shards = 2)
      val got = relation(index.read(spark, grown))
      val want = relation(index.read(spark, scratch))
      assert(got.keySet == want.keySet)
      want.foreach { case (part, rows) =>
        assert(rows.nonEmpty, s"$part: the fixture must fill every part")
        assert(got(part) == rows, s"$part after the lifecycle differs from a rebuild")
      }
    }

  for ((name, index, Seq(base, _, _, empty)) <- families)
    test(s"$name: appending an empty batch leaves the read relation unchanged") {
      val dir = s"$root/$name/empty"
      index.write(base, dir, shards = 2)
      val before = relation(index.read(spark, dir))
      index.append(empty, dir, shards = 2)
      assert(relation(index.read(spark, dir)) == before)
    }

  test("containment: compaction applies the tombstones and drops tomb/") {
    val ci = Dedup.ContainmentIndex("doc_id", "text", n = 2, maxDf = 2)
    val dir = s"$root/containment/tomb"
    ci.write(corpus, dir, shards = 2)
    ci.append(batch1, dir, shards = 2)
    val tomb = new java.io.File(s"$dir/${ShardedIndex.Tomb}")
    assert(tomb.exists() && spark.read.parquet(tomb.getPath).count() == 1,
      "the batch pushes \"alpha beta\" past the cap: one tombstone")
    val before = relation(ci.read(spark, dir))
    ci.compact(spark, dir, shards = 2)
    assert(!tomb.exists())
    assert(relation(ci.read(spark, dir)) - "df" == before - "df")
    // a later write starts from no tombstones even if an append left some
    ci.append(batch2, dir, shards = 2)
    ci.write(corpus, dir, shards = 2)
    assert(!tomb.exists())
  }
}
