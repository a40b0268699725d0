package graft

import scala.collection.concurrent.TrieMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Session-wide ledger of every persist GRAFT created, and the one rule for
  * how long it lives: a graft-internal persist is a LOAN that lives until
  * [[releaseAll]] (one session's loans) or [[drain]] (end of run) calls it
  * in. No operator takes a per-call switch to end its caches early.
  *
  * Operators leave some persists alive past the call that created them: a
  * shingle-set cache that every verify side re-reads, a shared pair cache
  * that three sibling queries re-read, a budget-bounded result frame whose
  * persist replaces the internal candidate cache it was materialized from.
  * That is the right trade DURING a run — unpersisting a shared frame
  * mid-run poisons its sibling consumers (measured: d6c 0.53→2.30 s with
  * an eager unpersist). Every such persist goes through [[persistLoaned]],
  * the one way in, and [[releaseAll]] unpersists exactly those frames
  * — never a frame the USER persisted, which a blunt
  * `spark.catalog.clearCache()` would also destroy. An operator may still
  * end an internal loan early ([[endLoan]], the one way out) once nothing
  * it returns can recompute through it.
  *
  * Scale note: a ledger entry is a plan reference (driver-side, KB), not
  * data; entries for frames the caller already unpersisted are harmless
  * (`unpersist` on a non-persisted frame is a no-op) and are dropped with
  * the rest on release. [[drain]] is the end-of-run form Verify and the
  * benchmark use: the ledger and the one Tables memo, then a count of
  * whatever is STILL persisted in the SparkContext (0 = the run left no
  * graft residue; asserted in CachesSpec and printed by Verify).
  */
object Caches {

  // identity-keyed (Dataset doesn't override equals); value = owning session
  // so a multi-session process releases per-session
  private val ledger = TrieMap.empty[DataFrame, SparkSession]

  /** Register `df` (just persisted by [[persistLoaned]]) as a graft-owned
    * loan; returns it unchanged.
    *
    * Entries no longer persisted (a loan someone else unpersisted) are
    * swept opportunistically once the ledger grows past a small bound, so
    * a long-lived library session looping over loaning operators cannot
    * retain plans without limit.
    */
  private def loan(df: DataFrame): DataFrame = {
    if (ledger.size > 256)
      ledger.keys.foreach { k => if (!isLive(k)) ledger.remove(k) }
    ledger.put(df, df.sparkSession)
    df
  }

  /** Persist-and-register in one step — MEMORY_AND_DISK, the repo default
    * (spill-safe: partitions that outgrow executor memory go to disk).
    *
    * A plan another owner already cached (the user, the Tables memo) is
    * returned as it is, neither persisted nor loaned: the cache manager
    * matches entries by plan, so a loan of it would be an unpersist of
    * THEIR entry at [[releaseAll]].
    */
  def persistLoaned(df: DataFrame,
                    level: StorageLevel = StorageLevel.MEMORY_AND_DISK): DataFrame =
    // storageLevel IS the cache manager's lookup of the plan
    if (df.storageLevel != StorageLevel.NONE) df
    else loan(df.persist(level))

  /** End a loan early: unpersist `df` (non-blocking) if it is a loan, and
    * forget it. A frame [[persistLoaned]] handed back unloaned is left
    * cached for its owner.
    */
  private[graft] def endLoan(df: DataFrame): Unit =
    if (ledger.remove(df).isDefined) df.unpersist(blocking = false)

  /** Unpersist every ledgered frame belonging to `spark` (blocking, so the
    * storage is actually gone when this returns) and drop the entries.
    * Returns how many frames were still persisted when called.
    */
  def releaseAll(spark: SparkSession): Int = {
    var live = 0
    ledger.keys.foreach { df =>
      if (df.sparkSession eq spark) {
        if (isLive(df)) live += 1
        try df.unpersist(blocking = true) catch { case _: Exception => () }
        ledger.remove(df)
      }
    }
    live
  }

  // storageLevel throws on a stopped SparkContext — treat dead as settled
  private def isLive(df: DataFrame): Boolean =
    try df.storageLevel != StorageLevel.NONE catch { case _: Exception => false }

  /** Frames ledgered for `spark` that are persisted right now. */
  def outstanding(spark: SparkSession): Int =
    ledger.keys.count(df => (df.sparkSession eq spark) && isLive(df))

  /** End-of-run drain: release the ledger and clear the one Tables memo,
    * then report how many RDDs the SparkContext STILL holds persisted.
    * 0 means the run left no cache residue at all; >0 means an unledgered
    * persist leaked (a bug — CachesSpec pins 0 across the loan sites).
    */
  def drain(spark: SparkSession): Int = {
    releaseAll(spark)
    Tables.clearMemo()
    spark.sparkContext.getPersistentRDDs.size
  }
}
