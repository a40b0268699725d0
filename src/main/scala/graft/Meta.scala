package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A16 execution log.
  *
  * Reference: every operation appends a wall-clock entry to an execution
  * log rendered in the UI (the reference's `app.py:913-918, 1387-1391`).
  *
  * Spark mapping: a `QueryExecutionListener`, which sees every completed
  * action with its DURATION and the full `QueryExecution` (logical +
  * executed plan) — strictly more than the reference's wall-clock lines,
  * with zero per-row overhead.
  */
object Meta {

  /** One completed action: the action name (`count`, `collect`, ...), its
    * duration, and the physical plan that ran.
    */
  final case class ExecEntry(action: String, durationNs: Long, physicalPlan: String)

  /** Execution log via `QueryExecutionListener` — the engine-level analogue
    * of the reference's per-op wall-clock log. Thread-safe (listener
    * callbacks arrive on the listener bus thread). BOUNDED: beyond
    * `maxEntries` the oldest entries drop (each entry holds a full physical
    * plan string — an unbounded log in a long-lived session is a slow
    * leak, the same hygiene class as the Tables memo).
    */
  final class ExecLog(maxEntries: Int = 10000) extends QueryExecutionListener {
    private val q = new ConcurrentLinkedQueue[ExecEntry]()
    private val n = new java.util.concurrent.atomic.AtomicInteger(0)

    private def add(e: ExecEntry): Unit = {
      q.add(e)
      if (n.incrementAndGet() > maxEntries && q.poll() != null) n.decrementAndGet()
    }

    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      add(ExecEntry(funcName, durationNs, qe.executedPlan.toString))

    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      add(ExecEntry(s"$funcName FAILED: ${exception.getClass.getSimpleName}", -1L, ""))

    def entries: Seq[ExecEntry] = q.asScala.toSeq
    def clear(): Unit = { q.clear(); n.set(0) }
  }

  /** Attach a fresh ExecLog to the session. Entries appear after each
    * completed action (the listener bus is asynchronous — tests should
    * `spark.sparkContext.listenerBus.waitUntilEmpty()` equivalent via
    * retry/eventually before asserting).
    */
  def attachExecLog(spark: SparkSession, maxEntries: Int = 10000): ExecLog = {
    val log = new ExecLog(maxEntries)
    spark.listenerManager.register(log)
    log
  }

  /** Surface the exec log as a queryable relation (the reference renders
    * its log in the UI, `app.py:1387-1391` — here it's a temp view, so
    * `SELECT * FROM graft_exec_log` works like any other table). One row
    * per completed action: seq (arrival order), action, duration_ms, and
    * an md5 digest of the physical plan (the full plan text is log-sized,
    * not cell-sized; the digest identifies re-runs of the same plan).
    * Driver-side data by construction — the log holds one row per ACTION,
    * not per data row, so localizing it is not a scale concern. Re-call
    * after new actions to refresh the snapshot.
    */
  def execLogTable(spark: SparkSession, log: ExecLog,
                   view: String = "graft_exec_log"): DataFrame = {
    val rows = log.entries.zipWithIndex.map { case (e, i) =>
      org.apache.spark.sql.Row(i.toLong, e.action, e.durationNs / 1e6,
        java.security.MessageDigest.getInstance("MD5")
          .digest(e.physicalPlan.getBytes("UTF-8"))
          .map("%02x".format(_)).mkString)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("seq", org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("action", org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("duration_ms", org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("plan_md5", org.apache.spark.sql.types.StringType, nullable = false)))
    val df = spark.createDataFrame(
      new java.util.ArrayList(scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava), schema)
    df.createOrReplaceTempView(view)
    df
  }
}
