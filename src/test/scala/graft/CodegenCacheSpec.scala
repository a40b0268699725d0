package graft

import java.sql.Timestamp
import java.time.{Instant, LocalDateTime, ZoneOffset}

import scala.jdk.CollectionConverters._

import graft.operators.Ops
import graft.plans.BoundLiteral
import org.scalatest.BeforeAndAfterAll
import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext, Logger => CoreLogger}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.Property
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FilterExec
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AdaptiveSparkPlanHelper}
import org.apache.spark.sql.functions.{col, count, lit, timestamp_seconds}

/** A repeated query shape reuses its generated classes: the JVM's codegen
  * class cache holds more than a dashboard round, and filter literals are
  * bound as parameters (`graft.plans.BindFilterLiterals`), so a re-run with new
  * parameters compiles no new stage class.
  */
class CodegenCacheSpec extends SparkTestBase with AdaptiveSparkPlanHelper with BeforeAndAfterAll {

  private val t0 = 1600000000L
  private val n = 2000

  /** `id`, `k = id % 10` (int), `ts = t0 + id minutes` and the same
    * instant as a timestamp without time zone (`ntz`), cached.
    */
  private lazy val events = Caches.persistLoaned(spark.range(0, n, 1, 4).select(col("id"),
    (col("id") % 10).cast("int").as("k"), timestamp_seconds(lit(t0) + col("id") * 60).as("ts"))
    .withColumn("ntz", col("ts").cast("timestamp_ntz")))

  private def ts(id: Long) = Timestamp.from(Instant.ofEpochSecond(t0 + id * 60))
  private def ntz(id: Long) = LocalDateTime.ofEpochSecond(t0 + id * 60, 0, ZoneOffset.UTC)

  private def compiles[T](body: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val r = body
    (r, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  /** The source of every class compiled while `body` runs: CodeGenerator
    * logs each one at DEBUG when it misses the cache.
    */
  private def compiledSources[T](body: => T): (T, Seq[String]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("codegen-sources", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    val logger = LogManager.getLogger(CodeGenerator.getClass.getName.stripSuffix("$"))
      .asInstanceOf[CoreLogger]
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val (level, configLevel) = (logger.getLevel, logger.get().getLevel)
    appender.start()
    logger.addAppender(appender)
    logger.setLevel(Level.DEBUG); logger.get().setLevel(Level.DEBUG); ctx.updateLoggers()
    try (body, seen.asScala.toSeq)
    finally {
      logger.removeAppender(appender); appender.stop()
      logger.setLevel(level); logger.get().setLevel(configLevel); ctx.updateLoggers()
    }
  }

  // runs `df` itself, so its adaptive plan is final when inspected afterwards
  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getAs[Long]("id")).toSeq.sorted

  private def boundFilters(df: DataFrame): Seq[FilterExec] = {
    val plan = df.queryExecution.executedPlan
    val fs = collect(plan) { case f: FilterExec => f }
    fs.filter(_.condition.exists(_.isInstanceOf[BoundLiteral]))
  }

  test("the class cache holds more than 100 shapes: the first one re-runs without compiling") {
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == Session.CodegenCacheEntries.toString)
    // the multiplier is a projection literal, inlined: one new class per shape
    def shape(m: Int) = spark.range(0, 50, 1, 1).selectExpr(s"id * ${m + 1000} AS v")
      .collect().map(_.getLong(0)).toSeq
    def expected(m: Int) = (0L until 50L).map(_ * (m + 1000))
    assert(shape(0) == expected(0))
    val (_, shapes) = compiles((1 to 200).foreach(m => assert(shape(m) == expected(m))))
    assert(shapes > 100, s"200 shapes compiled only $shapes classes")
    val (again, c) = compiles(shape(0))
    assert(again == expected(0))
    assert(c == 0, s"the first shape recompiled $c classes after $shapes others")
  }

  test("a between filter over a cached timestamp column re-runs with new bounds on the same stage class") {
    events.count()
    def run(lo: Long, hi: Long) = ids(Ops.between(events, "ts", ts(lo), ts(hi)))
    assert(run(100, 250) == (100L to 250L))
    val (second, sources) = compiledSources(run(731, 1402))
    assert(second == (731L to 1402L))
    // "GeneratedIterator", or "GeneratedIteratorForCodegenStage<id>" when
    // spark.sql.codegen.useIdInClassName is on
    val stages = sources.count(_.contains("class GeneratedIterator"))
    assert(stages == 0, s"new bounds compiled $stages stage classes")
  }

  test("timestamp, int and long literals are bound with and without a shuffle (AQE), rows unchanged") {
    events.count()
    val (lo, hi, below) = (400L, 1500L, 7)
    val kept = (lo to hi).filter(id => id % 10 < below)

    // no exchange: a non-adaptive plan
    val narrow = events.filter(col("ts") >= lit(ts(lo)) && col("ntz") <= lit(ntz(hi)) &&
      col("k") < lit(below))
    assert(ids(narrow) == kept)
    assert(!narrow.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec])
    val nf = boundFilters(narrow)
    assert(nf.nonEmpty, narrow.queryExecution.executedPlan.toString)
    assert(nf.head.condition.collect { case b: BoundLiteral => b.dataType.typeName }.toSet ==
      Set("timestamp", "timestamp_ntz", "integer"))

    // a shuffle: the filter above the exchange is planned by the adaptive
    // re-plan once the shuffle stage has run
    val grouped = narrow.groupBy("k").agg(count(lit(1)).as("c"))
      .filter(col("c") > lit(110L)).select(col("k").cast("long").as("id"))
    val want = kept.groupBy(_ % 10).collect { case (k, xs) if xs.size > 110 => k }.toSeq.sorted
    assert(want == Seq(0L))
    assert(ids(grouped) == want)
    val adaptive = grouped.queryExecution.executedPlan
    assert(adaptive.isInstanceOf[AdaptiveSparkPlanExec])
    val types = boundFilters(grouped)
      .flatMap(_.condition.collect { case b: BoundLiteral => b.dataType.typeName }).toSet
    assert(types == Set("timestamp", "timestamp_ntz", "integer", "long"), adaptive.toString)
  }

  test("a bound literal prints as the literal it replaces") {
    events.count()
    val df = events.filter(col("ts") > lit(ts(5)) && col("k").isin(1, 2, 3))
    val f = boundFilters(df).head
    val unbound = f.condition.transform { case b: BoundLiteral => b.literal }
    assert(f.condition.toString == unbound.toString)
    assert(f.condition.sql == unbound.sql)
    assert(f.condition.collect { case b: BoundLiteral => b }.size == 4)
  }

  test("scan pruning predicates keep their real literals") {
    val df = events.filter(col("k") === lit(3))
    assert(ids(df) == (3L until n by 10))
    val scans = collect(df.queryExecution.executedPlan) {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
    }
    assert(scans.nonEmpty)
    assert(scans.forall(_.predicates.forall(!_.exists(_.isInstanceOf[BoundLiteral]))))
  }

  // last: releaseAll ends every loan of the session, `events` included
  test("dashboardChain re-runs after Caches.releaseAll without compiling a class") {
    val d = "/root/testdata/sf0.001"
    val first = SparkEntry.dashboardChain(spark, d).collect().toSeq
    Caches.releaseAll(spark)
    val (second, c) = compiles(SparkEntry.dashboardChain(spark, d).collect().toSeq)
    assert(second == first)
    assert(c == 0, s"the second dashboardChain call compiled $c classes")
  }

  override def afterAll(): Unit =
    try events.unpersist(blocking = true) finally super.afterAll()
}
