package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{Caches, Session, Tables}
import graft.sources.ParquetSink

/** Benchmark harness: one JVM, `local[cores]`, one client thread issuing the
  * seeded plan in a closed loop. Writes raw records to `--out`:
  *   ops.jsonl     one line per measured operation (latency, result digest)
  *   events.jsonl  scheduler/streaming events (traced runs)
  *   spans.jsonl   spans around the calls into each layer (traced runs)
  *   summary.json  set-up times, cache sizes, end-of-run invariants
  * perfbench/run.py turns them into metrics and checks the digests.
  *
  * Usage: PerfBench <workload> <dataDir> <planFile> <outDir> <seconds> <trace 0|1> <cores>
  */
object PerfBench {

  final case class Op(template: String, key: String, params: Map[String, String])

  def readPlan(path: String): IndexedSeq[Op] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val f = line.split("\t")
      Op(f(0), f(1), f.drop(2).map { kv =>
        val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1)
      }.toMap)
    }.toIndexedSeq
    finally src.close()
  }

  // ------------------------------------------------------------ json out

  def q(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  /** A value that is already JSON text. */
  final case class RawJson(text: String)

  def arr(xs: Seq[Double]): RawJson = RawJson(xs.mkString("[", ",", "]"))

  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    val js = v match {
      case null | None => "null"
      case RawJson(t) => t
      case s: String => q(s)
      case Some(x) => x.toString
      case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
      case x => x.toString
    }
    s"${q(k)}:$js"
  }.mkString("{", ",", "}")

  // -------------------------------------------------------------- tracing

  /** Spans kept in memory, written when the run ends. */
  final class Spans {
    private val buf = new ConcurrentLinkedQueue[String]()
    private var next = 0L
    def open(): Long = synchronized { next += 1; next }
    def add(id: Long, name: String, start: Long, end: Long, parent: Long, op: Int): Unit =
      buf.add(obj("id" -> id, "name" -> name, "start_ms" -> start, "end_ms" -> end,
        "parent" -> parent, "op" -> op))
    def record[T](name: String, parent: Long, op: Int)(body: => T): T = {
      val id = open()
      val t0 = System.currentTimeMillis()
      try body finally add(id, name, t0, System.currentTimeMillis(), parent, op)
    }
    def lines: Seq[String] = buf.asScala.toSeq
  }

  /** Scheduler events, recorded with their own timestamps so they can be
    * attributed to the operation whose window contains them. */
  final class SchedulerRecorder extends SparkListener {
    val events = new ConcurrentLinkedQueue[String]()
    @volatile var openJobs = 0
    @volatile var seen = 0L
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      openJobs += 1; seen += 1
      events.add(obj("ev" -> "job_start", "job" -> e.jobId, "t" -> e.time))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      openJobs -= 1; seen += 1
      events.add(obj("ev" -> "job_end", "job" -> e.jobId, "t" -> e.time))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      seen += 1
      val i = e.stageInfo
      events.add(obj("ev" -> "stage", "t" -> i.submissionTime.getOrElse(0L),
        "end" -> i.completionTime.getOrElse(0L), "tasks" -> i.numTasks))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      seen += 1
      val m = e.taskMetrics
      if (m != null) events.add(obj("ev" -> "task", "t" -> e.taskInfo.launchTime,
        "end" -> e.taskInfo.finishTime, "run_ms" -> m.executorRunTime,
        "gc_ms" -> m.jvmGCTime, "sw_bytes" -> m.shuffleWriteMetrics.bytesWritten,
        "sr_bytes" -> m.shuffleReadMetrics.totalBytesRead,
        "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled)))
    }
    /** Wait until every started job has ended and no event arrived for a
      * short quiet period (the listener bus is asynchronous). */
    def settle(): Unit = {
      val deadline = System.currentTimeMillis() + 5000
      var last = -1L
      while (System.currentTimeMillis() < deadline && (openJobs > 0 || last != seen)) {
        last = seen
        Thread.sleep(50)
      }
    }
  }

  final class StreamRecorder extends StreamingQueryListener {
    val events = new ConcurrentLinkedQueue[String]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      events.add(obj("ev" -> "progress", "t" -> System.currentTimeMillis(),
        "rows" -> p.numInputRows,
        "get_batch" -> d.getOrElse("getBatch", 0L), "latest_offset" -> d.getOrElse("latestOffset", 0L),
        "add_batch" -> d.getOrElse("addBatch", 0L), "planning" -> d.getOrElse("queryPlanning", 0L),
        "wal_commit" -> d.getOrElse("walCommit", 0L), "commit" -> d.getOrElse("commitOffsets", 0L),
        "trigger" -> d.getOrElse("triggerExecution", 0L),
        "state_ops" -> p.stateOperators.length))
    }
  }

  /** Captures the executed QueryExecution of Dataset actions (writes). */
  final class ActionRecorder extends QueryExecutionListener {
    val executed = new ConcurrentLinkedQueue[QueryExecution]()
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = executed.add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def scanLeaves(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => scanLeaves(a.executedPlan)
    case s: QueryStageExec => scanLeaves(s.plan)
    case r: ReusedExchangeExec => scanLeaves(r.child)
    case m: InMemoryTableScanExec => Seq(m)
    case l if l.children.isEmpty => Seq(l)
    case o => o.children.flatMap(scanLeaves)
  }

  /** Planner phases, graft-rule activity and scan leaves of executed plans. */
  def planStats(qes: Seq[QueryExecution]): Seq[(String, Any)] = {
    var opt, phys, rulesNs, inv, eff, cached, scans = 0L
    qes.foreach { qe =>
      val ph = qe.tracker.phases
      opt += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      phys += ph.get("planning").map(_.durationMs).getOrElse(0L)
      qe.tracker.rules.foreach { case (name, r) =>
        if (name.startsWith("graft.plans.")) {
          rulesNs += r.totalTimeNs; inv += r.numInvocations; eff += r.numEffectiveInvocations
        }
      }
      val leaves = try scanLeaves(qe.executedPlan) catch { case NonFatal(_) => Nil }
      val sc = leaves.filter(l => l.isInstanceOf[InMemoryTableScanExec] ||
        l.nodeName.contains("Scan") && !l.nodeName.contains("LocalTableScan"))
      scans += sc.size
      cached += sc.count(_.isInstanceOf[InMemoryTableScanExec])
    }
    Seq("optimize_ms" -> opt, "physical_ms" -> phys, "graft_rules_ns" -> rulesNs,
      "graft_rules_inv" -> inv, "graft_rules_eff" -> eff,
      "cached_scans" -> cached, "scans" -> scans)
  }

  def storageMb(s: SparkSession): Double =
    s.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

  def dirStats(path: String): (Int, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk) else Seq(f)
    val files = walk(new File(path)).filter(f => f.getName.endsWith(".parquet"))
    (files.size, files.map(_.length).sum)
  }

  // ------------------------------------------------------------------ main

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, planFile, outDir, secondsS, traceS, coresS) = args
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = coresS.toInt
    new File(outDir).mkdirs()
    val plan = readPlan(planFile)
    val roundSize = workload match {
      case "dashboard" => dashboardRound(plan)
      case "curation" => 3
      case _ => 1
    }
    // the dashboard's warm pass issues the plan's first rounds; measuring
    // starts after them, so every measured query has parameters of its own
    val work = workload match {
      case "ingest" => plan.filter(_.template == "batch")
      case "dashboard" => plan.drop(DashboardWarmRounds * roundSize)
      case _ => plan
    }
    val spans = new Spans
    val opsOut = new PrintWriter(new File(outDir, "ops.jsonl"), "UTF-8")
    val summary = mutable.LinkedHashMap[String, Any]()
    val scratch = new File(outDir, "scratch").getAbsolutePath
    val indexDir = s"$scratch/index"

    // ---------------------------------------------------------- set-up
    var spark: SparkSession = null
    var docs: DataFrame = null
    var corpusRows = 0L
    // The repeatable part of set-up (session, tables) runs `Setups` times and
    // the median is reported; the warm pass runs once, after the last one,
    // right before the measured phase.
    val loadedS, buildS, loadS = mutable.ArrayBuffer[Double]()
    var setupError: Option[String] = None
    for (_ <- 0 until Setups) {
      if (spark != null) { Caches.drain(spark); spark.stop(); spark = null }
      ParquetSink.deleteRecursively(new File(scratch))
      val t0 = System.nanoTime()
      val ts0 = System.currentTimeMillis()
      val sid = spans.open()
      spark = spans.record("Session.get", sid, -1)(Session.get(cores))
      val t1 = System.nanoTime()
      try spans.record("Tables.load", sid, -1)(workload match {
        case "dashboard" =>
          Tables.registerAll(spark, dataDir)
          Seq("region", "nation", "customer", "orders", "lineitem")
            .foreach(n => Tables.table(spark, dataDir, n).queryExecution.toRdd.count())
        case "curation" =>
          docs = Tables.documents(spark, dataDir)
          corpusRows = docs.queryExecution.toRdd.count()
        case "ingest" =>
          val ids = scala.io.Source.fromFile(new File(new File(planFile).getParent,
            "batch_ids.txt")).getLines().filter(_.nonEmpty).map(_.toLong).toSeq
          Workloads.buildIndex(spark, dataDir, ids, indexDir, cores)
      }) catch { case NonFatal(e) =>
        setupError = Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val t2 = System.nanoTime()
      buildS += (t1 - t0) / 1e9
      loadS += (t2 - t1) / 1e9
      loadedS += (t2 - t0) / 1e9
      spans.add(sid, "setup", ts0, System.currentTimeMillis(), 0, -1)
    }
    val s = spark
    val w0 = System.nanoTime()
    if (setupError.isEmpty) try spans.record("warm", 0, -1)(
      warmPass(s, workload, dataDir, docs, plan, scratch, indexDir))
    catch { case NonFatal(e) => setupError = Some(s"warm: ${e.getClass.getSimpleName}") }
    summary ++= Seq("setup_loaded_s" -> arr(loadedS.toSeq),
      "session_build_s" -> arr(buildS.toSeq),
      "tables_load_s" -> arr(loadS.toSeq),
      "warm_s" -> (System.nanoTime() - w0) / 1e9,
      "tables_cached_mb" -> storageMb(s),
      "setup_error" -> setupError.orNull)

    // --------------------------------------------------------- tracing
    val sched = new SchedulerRecorder
    val streams = new StreamRecorder
    val actions = new ActionRecorder
    if (trace) s.listenerManager.register(actions)
    def setTracing(on: Boolean): Unit =
      if (on) { s.sparkContext.addSparkListener(sched); s.streams.addListener(streams) }
      else {
        sched.settle()
        s.sparkContext.removeSparkListener(sched); s.streams.removeListener(streams)
      }

    // ----------------------------------------------------- measured loop
    val runStart = System.nanoTime()
    val deadline = runStart + (seconds * 1e9).toLong
    var i = 0
    var checkNs = 0L
    var persistedPeak = 0
    var tracing = false
    // tracing alternates by round; ingest batches go in pairs, so that every
    // other compaction (each CompactEvery-th batch) falls in a traced pair
    val traceBlock = if (workload == "ingest") 2 else roundSize
    while (i < work.size && (System.nanoTime() < deadline || i % roundSize != 0)) {
      val traced = trace && (i / traceBlock) % 2 == 0
      if (traced != tracing) { setTracing(traced); tracing = traced }
      val op = work(i)
      actions.executed.clear()
      // ingest write accounting: the index before the batch, after its append
      val (idxFiles, idxBytes) = if (workload == "ingest") dirStats(indexDir) else (0, 0L)
      var appended = (idxFiles, idxBytes)
      var listingNs = 0L // the harness's own listing inside the window, not timed
      val opSpan = spans.open()
      val wall0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      var callNs = 0L
      var rows = -1L
      var err: String = null
      var result: DataFrame = null
      val extra = mutable.ArrayBuffer[(String, Any)]()
      try {
        workload match {
          case "dashboard" =>
            result = spans.record("operators.call", opSpan, i)(
              Workloads.dashboard(s, dataDir, op.template, op.params))
            callNs = System.nanoTime() - t0
            rows = spans.record("exec.toRdd.count", opSpan, i)(
              result.queryExecution.toRdd.count())
          case "curation" =>
            val df = spans.record("operators.call", opSpan, i)(
              Workloads.curation(docs, op.template, op.params))
            callNs = System.nanoTime() - t0
            val out = s"$scratch/out_$i"
            spans.record("exec.write", opSpan, i)(df.write.parquet(out))
            result = s.read.parquet(out)
          case "ingest" =>
            result = spans.record("streaming.runToParquet", opSpan, i)(
              Workloads.streamBatch(s, op.params("dir"), indexDir, s"$scratch/batch_$i"))
            val a0 = System.nanoTime()
            spans.record("sources.appendSharded", opSpan, i)(Workloads.appendIndex(result, indexDir))
            val a1 = System.nanoTime()
            // the files the append added have to be counted before a compaction
            // rewrites them; the listing is left out of the batch's time
            appended = dirStats(indexDir)
            val a2 = System.nanoTime()
            listingNs = a2 - a1
            val compact = (i + 1) % CompactEvery == 0
            if (compact) spans.record("sources.compactSharded", opSpan, i)(
              ParquetSink.compactSharded(s, indexDir, "fingerprint", cores))
            extra ++= Seq("append_ms" -> (a1 - a0) / 1e6,
              "compact_ms" -> (if (compact) (System.nanoTime() - a2) / 1e6 else 0.0))
        }
      } catch { case NonFatal(e) =>
        err = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("")}"
          .linesIterator.take(3).mkString(" | ")
      }
      val t1 = System.nanoTime()
      val wall1 = System.currentTimeMillis()
      spans.add(opSpan, s"op.${op.template}", wall0, wall1, 0, i)
      // ---- untimed: check the result, sample cache state, release loans
      val c0 = System.nanoTime()
      if (workload == "ingest") {
        val (outFiles, outBytes) = dirStats(s"$scratch/batch_$i/out")
        extra ++= Seq("index_files" -> idxFiles, "out_files" -> outFiles, "out_bytes" -> outBytes,
          "append_files" -> (appended._1 - idxFiles), "append_bytes" -> (appended._2 - idxBytes),
          "in_bytes" -> op.params("bytes").toLong)
      }
      var digest: String = null
      if (err == null) try {
        digest = workload match {
          case "dashboard" => Digest.ofExecuted(result.queryExecution.toRdd, result.schema)
          case "ingest" => Digest.of(result.select("doc_id"))
          case _ => Digest.of(result)
        }
      } catch { case NonFatal(e) => err = s"check: ${e.getClass.getSimpleName}" }
      if (traced) {
        val persisted = s.sparkContext.getPersistentRDDs.size
        persistedPeak = persistedPeak max persisted
        extra ++= Seq("loans_outstanding" -> Caches.outstanding(s), "persisted" -> persisted)
        val qes = workload match {
          case "dashboard" if result != null => Seq(result.queryExecution)
          case _ => actions.executed.asScala.toSeq
        }
        extra ++= planStats(qes)
      }
      if (workload == "curation" || workload == "dashboard") Caches.releaseAll(s)
      checkNs += System.nanoTime() - c0
      opsOut.println(obj(Seq("i" -> i, "template" -> op.template, "key" -> op.key,
        "start_ms" -> wall0, "end_ms" -> wall1, "ms" -> (t1 - t0 - listingNs) / 1e6,
        "call_ms" -> callNs / 1e6, "traced" -> traced,
        "items" -> (workload match {
          case "dashboard" => 1L
          case "curation" => corpusRows
          case _ => op.params("rows").toLong
        }),
        "rows" -> rows, "digest" -> digest, "error" -> err) ++ extra: _*))
      i += 1
    }
    val runNs = System.nanoTime() - runStart
    if (tracing) setTracing(false)
    opsOut.close()
    summary ++= Seq("ops" -> i, "run_s" -> runNs / 1e9, "check_s" -> checkNs / 1e9,
      "cached_mb_end" -> storageMb(s), "persisted_peak" -> persistedPeak)

    // ------------------------------------------------ end-of-run checks
    if (workload == "ingest") try {
      val idx = s.read.parquet(indexDir)
      summary ++= Seq("index_rows" -> idx.count(),
        "index_distinct" -> idx.select("fingerprint").distinct().count())
    } catch { case NonFatal(e) => summary += "index_error" -> e.getMessage }
    if (trace && workload == "ingest") try {
      // the functions layer, which ingest only reaches through Text.fingerprint,
      // on its own: the text functions projected over the whole corpus
      val corpus = Tables.documents(s, dataDir)
      val t0 = System.nanoTime()
      spans.record("functions.gates_s", 0, -1)(
        Workloads.textFunctions(corpus).queryExecution.toRdd.count())
      summary += "stages" -> RawJson(obj("functions.gates_s" -> (System.nanoTime() - t0) / 1e9))
    } catch { case NonFatal(e) => summary += "stages_error" -> e.getMessage }
    if (trace && workload == "curation" && docs != null) {
      val stage = mutable.ArrayBuffer[(String, Any)]()
      Workloads.curationStages(docs).foreach { case (name, df) =>
        val t0 = System.nanoTime()
        val n = try spans.record(name, 0, -1)(df.queryExecution.toRdd.count())
                catch { case NonFatal(_) => -1L }
        stage += name -> (System.nanoTime() - t0) / 1e9
        if (name == "operators.near_dup_s") stage += "operators.near_dup_pairs_out" -> n
        Caches.releaseAll(s)
      }
      summary += "stages" -> RawJson(obj(stage.toSeq: _*))
    }
    if (trace) {
      writeLines(new File(outDir, "events.jsonl"),
        sched.events.asScala.toSeq ++ streams.events.asScala.toSeq)
      writeLines(new File(outDir, "spans.jsonl"), spans.lines)
    }
    summary += "drained_residue" -> Caches.drain(s)
    s.stop()
    writeLines(new File(outDir, "summary.json"), Seq(obj(summary.toSeq: _*)))
  }

  /** Rounds of the dashboard plan the warm pass issues before measuring. */
  val DashboardWarmRounds = 1

  /** Batches the ingest warm pass streams (without committing them). After
    * fewer, the first measured batches run 20-60% slower than later ones,
    * so a run's median would depend on how many batches it holds. */
  val IngestWarmBatches = 8

  /** Ingest compacts the fingerprint index after every CompactEvery-th batch. */
  val CompactEvery = 10

  /** Set-ups per run; the first in a fresh JVM is cold, the median is reported. */
  val Setups = 3

  def dashboardRound(plan: IndexedSeq[Op]): Int = plan.map(_.template).distinct.size

  def writeLines(f: File, lines: Seq[String]): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try lines.foreach(w.println) finally w.close()
  }

  /** One untimed pass of every operation shape, so the measured phase sees
    * warm code paths: the first dashboard round (each template once); each
    * curation job on a quarter of the corpus; IngestWarmBatches ingest batches. */
  def warmPass(s: SparkSession, workload: String, dataDir: String, docs: DataFrame,
               plan: IndexedSeq[Op], scratch: String, indexDir: String): Unit = {
    workload match {
      case "dashboard" =>
        plan.take(DashboardWarmRounds * dashboardRound(plan)).foreach { op =>
          Workloads.dashboard(s, dataDir, op.template, op.params).queryExecution.toRdd.count()
          Caches.releaseAll(s)
        }
      case "curation" =>
        val part = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 4 === 0)
        plan.groupBy(_.template).values.map(_.head).foreach { op =>
          Workloads.curation(part, op.template, op.params).write.parquet(s"$scratch/warm_${op.template}")
          Caches.releaseAll(s)
        }
      case "ingest" =>
        // the plan's last batches, never reached by a measured run, each
        // deduped against the live index but appended to a scratch one
        val tmpIndex = s"$scratch/warm_index"
        plan.filter(_.template == "batch").takeRight(IngestWarmBatches).zipWithIndex
          .foreach { case (op, j) =>
            val out = Workloads.streamBatch(s, op.params("dir"), indexDir, s"$scratch/warm_$j")
            Workloads.appendIndex(out, tmpIndex)
          }
        ParquetSink.compactSharded(s, tmpIndex, "fingerprint", 2)
    }
  }
}
