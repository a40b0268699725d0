package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sink side of the pipeline: write the processed corpus as parquet a
  * training dataloader (or the next pipeline stage) consumes in parallel.
  *
  * Two layouts:
  *   - [[writeSharded]]: exactly `shards` files, membership = hash(id) —
  *     deterministic (a row lands in the same shard no matter how the
  *     input was partitioned), which keeps re-runs byte-stable and lets a
  *     dataloader assign shards to workers reproducibly. Shard count sizes
  *     the files: pick `corpus bytes / target file size` (~256 MB-1 GB per
  *     file at 100 TB — thousands of shards, never one file per task).
  *   - [[writePartitioned]]: Hive-style `col=value` directories (e.g. per
  *     language). Downstream filters on the partition column prune whole
  *     directories at plan time (PartitionFilters in the scan) — the
  *     standard layout for per-slice consumption.
  */
object ParquetSink {

  /** Recursive local-filesystem delete — the ONE copy of the staging
    * helper every marker-gated lifecycle (index stages, retrain swaps,
    * probe scratch dirs) previously duplicated inline. Local paths only
    * (the staged-artifact scratch model); no-op on a missing path.
    */
  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete(); ()
  }

  def writeSharded(df: DataFrame, path: String, idCol: String, shards: Int): Unit = {
    require(shards >= 1, "writeSharded: shards must be >= 1")
    // hash-repartition, NOT round-robin repartition(n): round-robin shard
    // membership depends on the incoming partitioning and task order
    df.repartition(shards, col(idCol))
      .write.mode("overwrite").parquet(path)
  }

  /** Delta-append to a [[writeSharded]] table: adds `shards` new files
    * holding `df`'s rows; existing files are untouched (LSM-style — a scan
    * of `path` sees base ∪ all deltas). This is the maintenance write of
    * the materialized ingest indexes ([[graft.operators.Dedup]]'s
    * `update*Index`): each daily batch appends its delta instead of
    * rewriting a 100 TB base. File count grows by `shards` per append —
    * compact periodically with [[compactSharded]] (the reader-visible rows
    * are identical before and after, so compaction can happen any time
    * between batches).
    */
  def appendSharded(df: DataFrame, path: String, idCol: String, shards: Int): Unit = {
    require(shards >= 1, "appendSharded: shards must be >= 1")
    df.repartition(shards, col(idCol))
      .write.mode("append").parquet(path)
  }

  def writePartitioned(df: DataFrame, path: String, byCol: String): Unit =
    df.write.mode("overwrite").partitionBy(byCol).parquet(path)

  /** Catalog-registered BUCKETED snapshot: hash(idCol) % buckets decides the
    * file (Spark's native bucketing, murmur3 — the same partitioning a
    * shuffle on idCol would produce), sorted by idCol within each bucket.
    * Unlike [[writeSharded]] (same physical layout, no catalog entry) the
    * bucket spec is recorded in the table catalog, so every later join or
    * aggregation keyed on idCol between same-bucket-count tables plans with
    * ZERO exchange — the scan itself satisfies the clustering requirement.
    * That turns repeatedly-diffed / repeatedly-joined snapshots (x8b) from
    * one-shuffle-per-side into pure scan+merge: at 100 TB the diff of two
    * snapshots moves no bytes between executors at all. `path` makes the
    * table external (data lives with the rest of the corpus, not the
    * warehouse dir); re-writing the same table name replaces it.
    */
  def writeBucketedTable(df: DataFrame, table: String, idCol: String,
                         buckets: Int, path: String): Unit = {
    require(buckets >= 1, "writeBucketedTable: buckets must be >= 1")
    val spark = df.sparkSession
    // saveAsTable(Overwrite) refuses some external-table transitions; a
    // clean drop keeps re-staging idempotent (data dir is rewritten anyway)
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    df.write.mode("overwrite").format("parquet").option("path", path)
      .bucketBy(buckets, idCol).sortBy(idCol).saveAsTable(table)
  }

  /** S8 — deterministic global shuffle for training-data export. Every row
    * gets the pseudo-random 60-bit key `md5(seed ":" id)` (same
    * md5-derived form as `Text.tokenHash60`, so any SQL engine reproduces
    * it); `shard = key mod shards` becomes a Hive partition directory and
    * rows inside each shard are sorted by (key, id). The composition is a
    * uniform permutation of the corpus that is a PURE FUNCTION of
    * (seed, ids): re-runs are byte-stable, and a new epoch's reshuffle is
    * just a new seed — no second copy of the data to maintain. A
    * dataloader streams shard directories round-robin and gets the
    * shuffled order for free.
    *
    * Scaling: one hash exchange on the shard key + a per-partition sort —
    * NO global sort (a total-order shuffle would range-exchange the whole
    * corpus through a sampled boundary map; mod-sharding needs no
    * coordination at all) and no driver involvement. `shards` sizes the
    * output files exactly like [[writeSharded]].
    */
  def writeShuffled(df: DataFrame, path: String, idCol: String, seed: String,
                    shards: Int): Unit = {
    require(shards >= 1, "writeShuffled: shards must be >= 1")
    df.withColumn("_shuffle_key",
        conv(substring(md5(concat_ws(":", lit(seed), col(idCol))), 1, 15), 16, 10)
          .cast("long"))
      .withColumn("shard", pmod(col("_shuffle_key"), lit(shards)).cast("int"))
      .repartition(shards, col("shard"))
      .sortWithinPartitions("shard", "_shuffle_key", idCol)
      .write.mode("overwrite").partitionBy("shard").parquet(path)
  }

  /** Morton (Z-order) interleave of two grid coordinates in [0, 2^bits):
    * bit i of `a` lands at position 2i, bit i of `b` at 2i+1. Pure shift/
    * mask arithmetic — codegen'd, no UDF.
    */
  def zorderValue(a: Column, b: Column, bits: Int): Column = {
    require(bits >= 1 && bits <= 31, "zorderValue: bits in [1,31]")
    (0 until bits).map { i =>
      shiftright(a, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(b, i).bitwiseAND(lit(1L)) * lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }

  /** S9 — Z-order clustered export (the Delta/Iceberg `ZORDER BY` layout
    * technique): scale two numeric columns onto a 2^bits × 2^bits grid,
    * interleave the grid bits into a Morton key, range-partition and
    * locally sort by it, and write. Rows close in BOTH dimensions land in
    * the same files, so every file's (min,max) box is tight in both
    * columns at once — a box predicate on either or both columns skips
    * most files/row-groups by footer stats, where a single-column sort
    * only ever prunes its own column. [[fileStats]] exposes exactly the
    * per-file boxes a stats-based planner (or parquet's row-group pruner)
    * skips with.
    *
    * Scaling: one 4-value min/max aggregate (driver gets ONE row), then
    * one range exchange on the Morton key + per-partition sort — the same
    * cost as any global sort-and-write, no driver data path. Null
    * coordinates grid to cell 0 and cluster together; empty input (or an
    * all-null column — min/max come back null) degrades to a constant key
    * and writes the table with its schema intact. Values outside the
    * sampled [lo,hi] (possible when the upstream is non-deterministic
    * between the stats pass and the write pass) clamp to the grid edge
    * instead of sign-extending into aliased Morton keys. `shards` sizes
    * files as in [[writeSharded]].
    */
  def zorderExport(df: DataFrame, path: String, colA: String, colB: String,
                   shards: Int, bits: Int = 16): Unit = {
    require(shards >= 1, "zorderExport: shards must be >= 1")
    // internal key column: collision-proof against user schemas (a user
    // `_zorder` column would be silently overwritten then dropped)
    val zc = "_graft_zorder_key"
    require(!df.columns.contains(zc), s"zorderExport: input must not contain $zc")
    val r = df.agg(
      min(col(colA)).cast("double"), max(col(colA)).cast("double"),
      min(col(colB)).cast("double"), max(col(colB)).cast("double")).head()
    def grid(c: String, i: Int): Column = {
      val (lo, hi) =
        if (r.isNullAt(i) || r.isNullAt(i + 1)) (0.0, 0.0)
        else (r.getDouble(i), r.getDouble(i + 1))
      if (!(hi > lo)) lit(0L)
      else {
        val scaled = ((col(c).cast("double") - lit(lo)) / lit(hi - lo) *
          lit((1L << bits) - 1)).cast("long")
        // coalesce BEFORE clamping: least/greatest SKIP nulls (a null
        // coordinate would clamp to the max cell instead of cell 0)
        greatest(lit(0L), least(lit((1L << bits) - 1), coalesce(scaled, lit(0L))))
      }
    }
    val z = zorderValue(grid(colA, 0), grid(colB, 2), bits)
    df.withColumn(zc, z)
      .repartitionByRange(shards, col(zc))
      .sortWithinPartitions(zc)
      .drop(zc)
      .write.mode("overwrite").parquet(path)
  }

  /** Per-file (min,max) stats for `cols` over a parquet table — the
    * file-level pruning index a stats-based planner consults (what Delta
    * keeps in its transaction log, parquet in its footers). One scan, one
    * small aggregate keyed by file name.
    */
  def fileStats(spark: org.apache.spark.sql.SparkSession, path: String,
                cols: Seq[String]): DataFrame = {
    val aggs = cols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    spark.read.parquet(path)
      .groupBy(input_file_name().as("file"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Compact a delta-appended [[writeSharded]]/[[appendSharded]] table back
    * to exactly `shards` files: read base ∪ deltas, re-shard to `tmpPath`,
    * then atomically swap directories (rename old → `.old`, tmp → live,
    * delete `.old`). Rows are identical before and after — run it any time
    * between ingest batches once the delta file count grows past the
    * dataloader's comfort. The swap is two directory renames, so a reader
    * that opened the table BEFORE the compaction keeps its snapshot (the
    * open file handles), and one that opens after sees the compacted set;
    * don't run concurrently with a writer to the same path.
    */
  def compactSharded(spark: org.apache.spark.sql.SparkSession, path: String,
                     idCol: String, shards: Int): Unit =
    compactShardedWith(spark, path, idCol, shards)(identity)

  /** [[compactSharded]] with a row-level fold applied while rewriting —
    * the hook family-aware index compaction hangs off (dedup fingerprints,
    * merge df deltas, apply tombstones). `transform` must be a pure
    * function of the table's rows (it runs against the live snapshot and
    * its output REPLACES the table), and reads-after must see exactly
    * `transform(base ∪ deltas)`.
    */
  def compactShardedWith(spark: org.apache.spark.sql.SparkSession, path: String,
                         idCol: String, shards: Int)
                        (transform: DataFrame => DataFrame): Unit = {
    val tmp = path + ".compact_tmp"
    recoverSwap(path)
    writeSharded(transform(spark.read.parquet(path)), tmp, idCol, shards)
    val live = new java.io.File(path)
    val oldF = new java.io.File(path + ".old")
    deleteRecursively(oldF)
    require(live.renameTo(oldF), s"compactSharded: could not move $path aside")
    require(new java.io.File(tmp).renameTo(live),
      s"compactSharded: could not swap in $tmp")
    deleteRecursively(oldF)
  }

  /** The two-rename swap has a crash window where the live directory does
    * not exist (moved to `.old`, replacement not yet renamed in). On entry
    * to any compaction, if exactly that state is found, restore the `.old`
    * snapshot — every row is still in it (the swap happens only after the
    * replacement was fully written), so a rerun self-heals instead of
    * failing at `spark.read.parquet(path)`.
    */
  private def recoverSwap(path: String): Unit = {
    val live = new java.io.File(path)
    val oldF = new java.io.File(path + ".old")
    if (!live.exists() && oldF.exists())
      require(oldF.renameTo(live), s"compact: could not restore $path from .old")
  }
}
