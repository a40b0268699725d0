package graft

import graft.operators.{Dedup, TermStats}

/** The cache-loan ledger: every persist graft leaves alive past its
  * creating call must be registered, and [[Caches.drain]] must call them
  * ALL in — a full run (Verify and perfbench end with drain) leaves zero
  * graft-owned persisted RDDs. Other suites in this JVM persist frames of
  * their own, so residue is measured against a pre-snapshot, not globally.
  */
class CachesSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("drain releases every graft loan — zero new persisted RDDs remain") {
    val before = spark.sparkContext.getPersistentRDDs.keySet

    val docs = Tables.documents(spark, sf)
    val loansBefore = Caches.outstanding(spark)
    // the three loan shapes that outlive their call:
    // 1. the shingle-set cache
    Dedup.ngramJaccardPairsSparse(docs, "doc_id", "text", 3, 0.2, maxDf = 50).count()
    assert(Caches.outstanding(spark) > loansBefore,
      "the shingle-set cache stays a loan after the call returns")
    // 2. the budget-bounded result persist handed back to the caller
    Dedup.ngramJaccardPairsSparseAuto(docs, "doc_id", "text", 3, 0.2,
      budgetPairs = 12000L).count()
    // 3. the A15 memoized table persist
    Meta.cachedTable(spark, sf, "region").count()

    assert(Caches.outstanding(spark) > 0,
      "the loan sites above must register in the ledger")

    Caches.drain(spark)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    val residue = after -- before
    assert(residue.isEmpty,
      s"graft loans leaked past drain: ${residue.size} new persisted RDDs")
    assert(Caches.outstanding(spark) == 0, "ledger must be empty after drain")
  }

  test("releaseAll calls in one session's loans and leaves another session's") {
    val s2 = Session.tune(spark.newSession())
    // distinct inputs: sessions share one cache manager, so the same plan
    // persisted in both would be one cache entry
    TermStats.distinctiveTerms(Tables.documents(spark, sf).limit(40),
      "doc_id", "text", k = 2).count()
    TermStats.distinctiveTerms(Tables.documents(s2, sf).limit(30),
      "doc_id", "text", k = 2).count()
    assert(Caches.outstanding(s2) > 0, "the s2 call must register its loan")
    assert(Caches.outstanding(spark) > 0, "the spark call must register its loan")

    Caches.releaseAll(s2)
    assert(Caches.outstanding(s2) == 0, "releaseAll(s2) must call in every s2 loan")
    assert(Caches.outstanding(spark) > 0, "releaseAll(s2) must leave spark's loans alone")
    Caches.releaseAll(spark)
  }

  test("settled loans are forgotten; unpersisted entries are harmless") {
    val df = spark.range(100).toDF("id")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    Caches.loan(df)
    assert(Caches.outstanding(spark) >= 1)
    df.unpersist(blocking = true)
    // still ledgered but no longer persisted — outstanding counts live only
    assert(Caches.outstanding(spark) == 0)
    // releaseAll on the stale entry is a no-op, not an error
    Caches.releaseAll(spark)
  }
}
