package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided testdata tables (TESTDATA.md).
  *
  * All loads are plain parquet scans — Catalyst pushes filters and column
  * pruning into the scan, so callers should NOT pre-materialize. `events`
  * adapts to the producer's physical timestamp encoding (see [[tsUsColumn]]);
  * `Session.tune` sets the nanos conf so the legacy bigint encoding still
  * reads instead of failing.
  */
object Tables {

  /** A parquet file is splittable only at row-group granularity: a
    * single-row-group file arrives as ONE partition, serializing every
    * per-row pipeline upstream of the first shuffle onto one core (measured
    * 8-30× slowdowns on the text/dedup operators — the testdata writes one
    * row group per table). A bare `repartition(n)` does NOT fix this: the
    * optimizer pushes expensive projections BELOW the exchange to shrink
    * the shuffle, landing the per-row compute back on the single scan
    * partition (measured: the shingle pipeline stayed serial). So small
    * scans are repartitioned AND persisted — the InMemoryRelation is a
    * pushdown barrier with a fixed 32-way partitioning, and doubles as the
    * reference's load-once caching model (`app.py:84-85`, A15). Memoized so
    * every load of the same table shares one cached plan. A real large
    * table (many row groups ≥ session parallelism) is returned untouched —
    * no shuffle, no cache.
    */
  private val memo =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String, String), DataFrame]

  /** Drop memo entries whose owning session has stopped — their cached
    * frames can never be reused or unpersisted on a dead context, only
    * leaked.
    */
  private def evictStopped[K, V](m: scala.collection.concurrent.TrieMap[K, V])
                                (session: K => SparkSession): Unit =
    m.keys.foreach { k => if (session(k).sparkContext.isStopped) m.remove(k) }

  // keyed by session too: a memoized frame is bound to the session that
  // planned it — returning it to another (or a stopped) session would
  // execute on the wrong SparkContext. Large tables memoize their RAW plan
  // (no persist — just skips re-probing partition count, which re-plans the
  // df→RDD conversion on every call).
  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    evictStopped(memo)(_._1)
    memo.getOrElseUpdate((spark, dir, name), {
      val raw = spark.read.parquet(s"$dir/$name.parquet")
      val target = spark.sparkContext.defaultParallelism
      if (raw.rdd.getNumPartitions >= target) raw
      // MEMORY_AND_DISK: the measured winner at 1000× (BENCH_SCALE r18)
      else raw.repartition(target)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    })
  }

  /** Unpersist and forget every memoized small-scan table (all sessions). */
  def clearMemo(): Unit = {
    memo.values.foreach(df => try df.unpersist() catch { case _: Exception => () })
    memo.clear()
  }

  def region(s: SparkSession, d: String): DataFrame   = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")

  /** All testdata table names (the star schema + the LLM-pipeline tables). */
  val AllNames: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents", "embeddings", "events")

  /** Register every table as a temp view so the full `spark.sql(...)`
    * surface works over the corpus — ANSI SQL queries, joins, windows, CTEs
    * — on top of the same cached, parallelized scans the typed API uses.
    * (The reference has no SQL parser — SURVEY §1 — but Catalyst gives the
    * whole SQL front-end for free once the views exist.)
    *
    * Per-view isolation: a table that fails to load (missing file, schema
    * the loader rejects) costs only queries that reference IT — r9's events
    * breakage took down SQL-text queries that never touch events because
    * this loop was all-or-nothing. The first failure per call is re-thrown
    * AFTER the loop only when nothing registered at all (a fully-missing
    * dir should still fail loudly).
    */
  def registerAll(s: SparkSession, dir: String): Unit = {
    var registered = 0
    var firstErr: Option[Throwable] = None
    AllNames.foreach { n =>
      try {
        (if (n == "events") events(s, dir) else table(s, dir, n))
          .createOrReplaceTempView(n)
        registered += 1
      } catch { case e if scala.util.control.NonFatal(e) =>
        // NonFatal: a fatal JVM error (OOM, LinkageError) must propagate —
        // the session is broken, not just this one table
        System.err.println(s"[tables] view $n failed to register (continuing): ${e.getMessage}")
        if (firstErr.isEmpty) firstErr = Some(e)
      }
    }
    if (registered == 0) firstErr.foreach(throw _)
  }

  /** Epoch-microseconds from whatever physical encoding the producer wrote
    * the event-time column in. A 100 TB pipeline reads parquet from many
    * writers, and "what precision did this one use" is table stakes:
    *   - bigint            → nanos (parquet TIMESTAMP(NANOS) read under
    *                         `spark.sql.legacy.parquet.nanosAsLong=true`)
    *   - TIMESTAMP_NTZ     → micros; session is pinned UTC (Session.tune),
    *                         so the NTZ→LTZ cast is the identity reinterpret
    *   - TIMESTAMP (LTZ)   → micros directly
    * Anything else fails loudly at plan time with the offending type —
    * better than an analysis error deep inside a downstream operator.
    */
  private[graft] def tsUsColumn(dt: org.apache.spark.sql.types.DataType,
                                name: String = "ts"): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType                       => expr(s"`$name` div 1000")
      case TimestampNTZType               => unix_micros(col(name).cast(TimestampType))
      case TimestampType                  => unix_micros(col(name))
      case other => throw new IllegalArgumentException(
        s"events `$name` column: expected bigint nanos or a timestamp type, got $other")
    }
  }

  /** `events.parquet`: event-time `ts` arrives in producer-dependent
    * precision (the driver has shipped both TIMESTAMP(NANOS) and
    * timestamp[us] encodings across rounds). Exposes a uniform `ts_us`
    * (epoch microseconds, bigint) column — the precision every downstream
    * operator and the DuckDB oracle (`epoch_us(ts)`) agree on — derived
    * adaptively from the column's actual type via [[tsUsColumn]].
    */
  def events(s: SparkSession, d: String): DataFrame = {
    Session.tune(s)
    val raw = table(s, d, "events")
    raw.withColumn("ts_us", tsUsColumn(raw.schema("ts").dataType))
  }
}
