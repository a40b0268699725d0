package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Schema portability of the events family across producer encodings.
  *
  * Round 9 proved the failure mode: the driver regenerated events.parquet
  * with `ts` as parquet timestamp[us] (was TIMESTAMP(NANOS) → bigint under
  * nanosAsLong) and a single hard-coded `ts div 1000` broke 19 queries at
  * analysis. This spec writes the SAME logical events table in both
  * physical encodings and pins that Tables.events, the as-of join, and the
  * tumbling window produce identical relations from either — so the next
  * producer change is caught here, not by the round driver.
  */
class EventsEncodingSpec extends SparkTestBase {
  import graft.operators.Joins
  import graft.streaming.StreamOps

  // whole-microsecond event times (a timestamp[us] producer cannot even
  // represent finer), including pre-1970 negatives — the floor-vs-truncate
  // edge the windowing code documents
  private val fixtureUs: Seq[(Long, Long, Long, String, Double)] = Seq(
    (1L, 1700000000000000L, 1L, "click", 1.0),
    (2L, 1700000000500000L, 1L, "purchase", 2.5),
    (3L, 1700000700000000L, 2L, "click", 0.5),
    (4L, 1700003600000000L, 2L, "view", 1.5),
    (5L, -7200000001L, 3L, "click", 3.0), // pre-1970
    (6L, 1700003600000000L, 1L, "purchase", 4.0))

  private def base: DataFrame = {
    import spark.implicits._
    fixtureUs.toDF("event_id", "ts_micro", "user_id", "event_type", "value")
      .withColumn("props", lit("{}"))
  }

  /** Legacy producer: bigint nanos (what nanosAsLong yields from parquet
    * TIMESTAMP(NANOS) — Spark cannot WRITE nanos, but the read result is a
    * plain LongType column, which this reproduces exactly). */
  private def writeNanos(dir: String): Unit =
    base.withColumn("ts", col("ts_micro") * lit(1000L))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")

  /** Current producer: timestamp[us] (TIMESTAMP_NTZ in Spark). */
  private def writeMicros(dir: String): Unit =
    base.withColumn("ts", timestamp_micros(col("ts_micro")).cast(TimestampNTZType))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")

  private lazy val dirs: (String, String) = {
    val (a, b) = ("target/tmp/events_enc_nanos", "target/tmp/events_enc_micros")
    writeNanos(a); writeMicros(b)
    (a, b)
  }

  private def collectSorted(df: DataFrame): Seq[Row] = {
    val cols = df.columns.sorted.toIndexedSeq.map(col)
    df.select(cols: _*).collect().toSeq.sortBy(_.toString)
  }

  test("Tables.events normalizes both physical ts encodings to the same ts_us") {
    val (a, b) = dirs
    val evA = Tables.events(spark, a)
    val evB = Tables.events(spark, b)
    // the raw ts column differs by design; everything downstream keys on ts_us
    val ua = evA.select("event_id", "ts_us", "user_id", "event_type", "value")
    val ub = evB.select("event_id", "ts_us", "user_id", "event_type", "value")
    assert(collectSorted(ua) == collectSorted(ub))
    assert(evA.schema("ts").dataType == LongType)
    assert(evB.schema("ts").dataType == TimestampNTZType)
    val expected = fixtureUs.map { case (id, us, _, _, _) => (id, us) }.toSet
    assert(ua.select("event_id", "ts_us").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet == expected)
  }

  test("tsUsColumn: LTZ timestamps convert; unsupported types fail loudly at plan time") {
    import spark.implicits._
    val ltz = Seq(123456789L).toDF("us")
      .select(timestamp_micros(col("us")).as("ts"))
    assert(ltz.schema("ts").dataType == TimestampType)
    val out = ltz.select(Tables.tsUsColumn(TimestampType).as("ts_us")).head().getLong(0)
    assert(out == 123456789L)
    intercept[IllegalArgumentException] { Tables.tsUsColumn(StringType) }
  }

  test("the STREAMING path is encoding-invariant too (the r9 breakage hit streamed re-reads)") {
    import org.apache.spark.sql.streaming.Trigger
    val (a, b) = dirs
    def streamed(d: String, sink: String): Seq[Row] = {
      val schema = spark.read.parquet(s"$d/events.parquet").schema
      val src = spark.readStream.schema(schema).parquet(s"$d/events.parquet")
        .withColumn("ts_us", Tables.tsUsColumn(schema("ts").dataType))
      val agg = StreamOps.tumblingCounts(src, 3600000000L, "1 minute")
      val q = agg.writeStream.format("memory").queryName(sink)
        .outputMode("complete").trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
      collectSorted(spark.table(sink)
        .select("bucket", "event_type", "n_events", "sum_value"))
    }
    assert(streamed(a, "enc_nanos_sink") == streamed(b, "enc_micros_sink"))
    assert(streamed(a, "enc_nanos_sink2").nonEmpty)
  }

  test("as-of join and tumbling window are encoding-invariant") {
    val (a, b) = dirs
    def asof(d: String): DataFrame = {
      val ev = Tables.events(spark, d)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts_us").as("p_ts"), col("event_id").as("p_id"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id").as("c_user"), col("ts_us").as("c_ts"), col("event_id").as("c_id"))
      Joins.asofJoin(purchases, clicks, ("p_user", "c_user"), ("p_ts", "c_ts"),
        tiebreak = Some("c_id"))
    }
    assert(collectSorted(asof(a)) == collectSorted(asof(b)))
    def tumble(d: String): DataFrame =
      StreamOps.tumblingCounts(Tables.events(spark, d), 3600000000L, "1 minute")
    assert(collectSorted(tumble(a)) == collectSorted(tumble(b)))
    assert(tumble(a).count() > 0)
  }
}
