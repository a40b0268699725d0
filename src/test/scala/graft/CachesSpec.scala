package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.Dedup
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

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
    Dedup.ngramJaccardPairsSparseFixedCap(docs, "doc_id", "text", 3, 0.2, maxDf = 50).count()
    assert(Caches.outstanding(spark) > loansBefore,
      "the shingle-set cache stays a loan after the call returns")
    // 2. the budget-bounded result persist handed back to the caller
    Dedup.ngramJaccardPairsSparse(docs, "doc_id", "text", 3, 0.2,
      budgetPairs = 12000L).count()
    // 3. the Tables small-scan persist (a memo entry, not a ledger loan)
    Tables.table(spark, sf, "region").count()

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
    Dedup.minhashNearDups(Tables.documents(spark, sf).limit(40),
      "doc_id", "text", threshold = 0.5).count()
    Dedup.minhashNearDups(Tables.documents(s2, sf).limit(30),
      "doc_id", "text", threshold = 0.5).count()
    assert(Caches.outstanding(s2) > 0, "the s2 call must register its loan")
    assert(Caches.outstanding(spark) > 0, "the spark call must register its loan")

    Caches.releaseAll(s2)
    assert(Caches.outstanding(s2) == 0, "releaseAll(s2) must call in every s2 loan")
    assert(Caches.outstanding(spark) > 0, "releaseAll(s2) must leave spark's loans alone")
    Caches.releaseAll(spark)
  }

  test("endLoan ends and forgets a loan; stale entries are harmless") {
    val df = Caches.persistLoaned(spark.range(100).toDF("id"))
    df.count()
    assert(Caches.outstanding(spark) >= 1)
    Caches.endLoan(df)
    assert(df.storageLevel == StorageLevel.NONE, "endLoan unpersists the loan")
    assert(Caches.outstanding(spark) == 0)
    // forgotten: the same frame persisted again by its user is theirs, and
    // releaseAll leaves it cached
    df.persist(StorageLevel.MEMORY_AND_DISK)
    Caches.releaseAll(spark)
    assert(df.storageLevel != StorageLevel.NONE, "an ended loan must leave the ledger")
    df.unpersist(blocking = true)
    // a loan unpersisted behind the ledger's back stays ledgered but is no
    // longer persisted — outstanding counts live only
    val stale = Caches.persistLoaned(spark.range(200).toDF("id"))
    stale.unpersist(blocking = true)
    assert(Caches.outstanding(spark) == 0)
    // releaseAll on the stale entry is a no-op, not an error
    Caches.releaseAll(spark)
  }
}

/** Guard for the one way into a loan: library code caches a frame only
  * through [[Caches.persistLoaned]], so every graft cache is a ledgered loan
  * that [[Caches.endLoan]] or [[Caches.releaseAll]] ends, and a plan another
  * owner cached is never loaned. `Caches` itself and the `Tables` memo
  * (which owns its small scans) persist directly, and so may the Verify
  * rows in `graft.verify`, which are fixtures rather than operators.
  */
class PersistGateSpec extends AnyFunSuite {

  private val exempt = Set("Caches.scala", "Tables.scala")
  private val rawPersist = """\.persist\b|\.cache\s*\(""".r

  test("library code persists only through Caches.persistLoaned") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val verify = root.resolve("graft/verify")
    val files = Files.walk(root).iterator.asScala
      .filter(f => f.toString.endsWith(".scala") && !f.startsWith(verify) &&
        !exempt(f.getFileName.toString))
      .toList
    assert(files.nonEmpty)
    val offending = for {
      f <- files
      src = SourceScan.blankComments(Files.readString(f))
      m <- rawPersist.findAllMatchIn(src).toSeq
    } yield s"$f:${src.substring(0, m.start).count(_ == '\n') + 1}"
    assert(offending.isEmpty,
      offending.mkString("raw persists outside Caches.persistLoaned:\n", "\n", ""))
  }
}
