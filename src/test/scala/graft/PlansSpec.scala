package graft

import org.apache.spark.sql.DataFrame

/** CseFilterProject optimizer rule: plan shape + semantic preservation. */
class PlansSpec extends SparkTestBase {

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.mkString("|")).toSeq.sorted

  private def kernelCount(df: DataFrame,
                          core: org.apache.spark.sql.catalyst.expressions.Expression => Boolean): Int =
    df.queryExecution.optimizedPlan.collect { case pl =>
      pl.expressions.map(_.collect { case e if core(e) => e }.size).sum
    }.sum

  test("verify kernels evaluate ONCE: filter/join predicate shares the projection's expression (CseFilterProject)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    // the session registers the rule at creation (Session.get); these pins
    // survive only if it stays registered — the point of the test
    val d9 = graft.operators.Dedup.fuzzyNearDups(docs, "doc_id", "text", maxDist = 40)
    val nLev = kernelCount(d9,
      _.isInstanceOf[org.apache.spark.sql.catalyst.expressions.Levenshtein])
    assert(nLev == 1,
      s"levenshtein must appear exactly once in the optimized plan, got $nLev " +
        "(2 = the filter/join condition re-evaluates the projection's kernel)")
    val d5 = graft.operators.Dedup.embeddingNearDups(
      Tables.embeddings(spark, "/root/testdata/sf0.001"), "vec_id", "embedding", 0.35)
    val nCos = kernelCount(d5,
      _.isInstanceOf[graft.functions.CosineSimilarity])
    assert(nCos == 1, s"cosine kernel must appear exactly once, got $nCos")
  }

  test("CseFilterProject never pulls an equi-join KEY out of the join condition") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextNorm.nfc
    val docs = Tables.documents(spark, "/root/testdata/sf0.001").limit(200)
    val a = docs.select(col("doc_id").as("id1"), col("text").as("t1"))
    val b = docs.select(col("doc_id").as("id2"), col("text").as("t2"))
    // kernel(l) = kernel(r) IS the join key; the projection recomputes the
    // kernel — the rule must leave the key on the join (pulling it demotes
    // the hash join to a cartesian product with a post-filter)
    val j = a.join(b, nfc(col("t1")) === nfc(col("t2")) && col("id1") <= col("id2"))
      .select(col("id1"), col("id2"), nfc(col("t1")).as("k"))
    val phys = j.queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct") && !phys.contains("BroadcastNestedLoop"),
      s"kernel equi-key must stay a real join key:\n$phys")
    assert(j.count() >= 200, "self-equality rows must survive")
  }

  test("extensions path (spark.sql.extensions=GraftExtensions) plans one kernel — no operator-batch churn") {
    import org.apache.spark.sql.SparkSession
    val shared = spark // keep a handle for restore
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // reuses the shared SparkContext; a `spark.sql.extensions` CONF would
      // be ignored here (extensions confs are read off the context at
      // creation), so apply the same class through withExtensions — the
      // identical GraftExtensions.apply code path a conf-built session runs
      val ext = SparkSession.builder()
        .withExtensions(new graft.plans.GraftExtensions())
        .getOrCreate()
      assert(ext ne shared, "must be a fresh session for extensions to apply")
      // the builder side effect must have routed CseFilterProject into the
      // final user batch, NOT the operator fixed-point batch
      val docs = Tables.documents(ext, "/root/testdata/sf0.001")
      val d9 = graft.operators.Dedup.fuzzyNearDups(docs, "doc_id", "text", maxDist = 40)
      val opt = d9.queryExecution.optimizedPlan
      assert(ext.experimental.extraOptimizations.contains(graft.plans.CseFilterProject),
        "builder side effect must register the rule in extraOptimizations")
      val nLev = opt.collect { case pl =>
        pl.expressions.map(_.collect {
          case e: org.apache.spark.sql.catalyst.expressions.Levenshtein => e
        }.size).sum
      }.sum
      assert(nLev == 1, s"extensions path must evaluate the kernel once, got $nLev")
      // stability: a second full optimizer pass (pushdown re-inlines the
      // kernel through the split projection, the user batch re-splits)
      // must still land on exactly one kernel — under the old
      // operator-batch registration the final count depended on
      // intra-batch rule order after a churn to the iteration cap
      val again = ext.sessionState.optimizer.execute(opt.clone())
      val nLev2 = again.collect { case pl =>
        pl.expressions.map(_.collect {
          case e: org.apache.spark.sql.catalyst.expressions.Levenshtein => e
        }.size).sum
      }.sum
      assert(nLev2 == 1, s"re-optimized plan must keep a single kernel, got $nLev2")
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("CseFilterProject preserves results (d9 pairs bit-identical with rule off)") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    def pairs = canon(graft.operators.Dedup
      .fuzzyNearDups(docs, "doc_id", "text", maxDist = 40))
    val withRuleOn = pairs
    val prev = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = Nil
    val withRuleOff = try pairs finally {
      spark.experimental.extraOptimizations = prev
    }
    assert(withRuleOn == withRuleOff, "the rewrite must never change the relation")
  }
}
