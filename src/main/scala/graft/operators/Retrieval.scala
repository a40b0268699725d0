package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Rank-fusion retrieval — the hybrid-search composition a training-data
  * pipeline runs when one signal alone misranks: lexical scoring (e.g.
  * BM25) finds exact-term matches that embeddings blur, vector scoring
  * finds paraphrases lexical match misses. Reciprocal-rank fusion
  * (Cormack, Clarke & Büttcher, SIGIR 2009) combines the two WITHOUT
  * score calibration: only the RANKS travel into the fused score,
  * so a BM25 in [0, 12] and a cosine in [−1, 1] need no normalization pass.
  *
  * Extends the reference surface (which has no retrieval at all —
  * nearest analogue is the sort+limit top-N, `app.py:614`) the same way
  * the ANN family does: the corpus-scale primitives are Spark-native
  * top-k reductions, the fusion itself runs on bounded candidate lists.
  */
object Retrieval {

  /** Global top-`k` of `scored` by (`scoreCol` DESC, `idCol` ASC), with an
    * explicit 1-based `rank` column — the candidate-list form [[rrfFuse]]
    * consumes.
    *
    * Scale shape: the sort+limit is a `TakeOrderedAndProject` — each task
    * forwards only its local top-k, the driver merges k-row heaps; the
    * full corpus is never globally sorted (PlanSpec pins this). The
    * row_number window then runs over the ALREADY-BOUNDED k-row frame
    * (the wCum tiny-frame pattern — a single partition of ≤ k rows, not a
    * corpus-wide single-partition sort).
    */
  def topKRanked(scored: DataFrame, idCol: String, scoreCol: String,
                 k: Int): DataFrame = {
    require(k >= 1, "topKRanked: k must be >= 1")
    val top = scored.orderBy(col(scoreCol).desc, col(idCol).asc).limit(k)
    top.select(col(idCol), row_number()
        .over(Window.orderBy(col(scoreCol).desc, col(idCol).asc))
        .cast("long").as("rank"))
  }

  /** Reciprocal-rank fusion over per-system candidate lists: fused score =
    * Σ_lists 1 / (k0 + rank), summed over the lists that retrieved the id
    * (absent = contributes nothing — the standard RRF convention). Returns
    * the fused top-`topK` as (id, rrf, n_lists), n_lists = how many
    * systems retrieved the id (the agreement signal a curation reviewer
    * reads first). k0 = 60 is the paper's constant: it damps the head so
    * one system's #1 cannot drown the other's consensus.
    *
    * Determinism: rank is integral, so each term is one exact double
    * division; an id appears in ≤ |rankings| lists and IEEE addition is
    * commutative for two terms, with the rounded sum pinning any deeper
    * fusion — ties in the fused score break by id ascending.
    *
    * Scale shape: inputs are ≤ k-row candidate lists ([[topKRanked]]
    * reduced them), so the union/groupBy/top-`topK` all run at candidate
    * scale — fusing F systems' k-row lists costs O(F·k) regardless of
    * corpus size. At 100 TB the expensive part is each system's OWN
    * top-k reduction, which stays a parallel scan per system.
    */
  def rrfFuse(rankings: Seq[DataFrame], idCol: String,
              k0: Int = 60, topK: Int = 10): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse: need at least one ranking")
    require(k0 >= 1, "rrfFuse: k0 must be >= 1")
    val lists = rankings.map(_.select(col(idCol), col("rank")))
    lists.reduce(_ unionByName _)
      .groupBy(col(idCol))
      .agg(round(sum(lit(1.0) / (col("rank") + lit(k0))), 6).as("rrf"),
        count(lit(1)).as("n_lists"))
      .orderBy(col("rrf").desc, col(idCol).asc)
      .limit(topK)
  }
}
