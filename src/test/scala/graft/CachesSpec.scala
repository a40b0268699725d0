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
    // the three loan shapes that outlive their call:
    // 1. non-released sets cache (the documented default trade)
    Dedup.ngramJaccardPairsSparse(docs, "doc_id", "text", 3, 0.2, maxDf = 50).count()
    // 2. budget-bounded result persist handed back in the default path
    Dedup.ngramJaccardPairsSparseAuto(docs, "doc_id", "text", 3, 0.2,
      budgetPairs = 12000L).count()
    // 3. the A15 memoized table persist
    Meta.cachedTable(spark, sf, "region").count()
    // 4. a release-mode out persist (caller-owned loan, also ledgered)
    TermStats.distinctiveTerms(docs.limit(50), "doc_id", "text", k = 2,
      release = true).count()

    assert(Caches.outstanding(spark) > 0,
      "the loan sites above must register in the ledger")

    Caches.drain(spark)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    val residue = after -- before
    assert(residue.isEmpty,
      s"graft loans leaked past drain: ${residue.size} new persisted RDDs")
    assert(Caches.outstanding(spark) == 0, "ledger must be empty after drain")
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
