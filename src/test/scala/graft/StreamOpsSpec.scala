package graft

import graft.streaming.StreamOps
import graft.verify.VerifyRows
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Batch semantics + the streaming forms under MemoryStream harnesses —
  * the r2 verdict's "untested code shipped as capability" gap.
  */
class StreamOpsSpec extends SparkTestBase {
  import spark.implicits._

  private def events = Seq(
    // user 1: two sessions split by a > 10us gap
    (1L, 100L, 1L, "click", 1.0), (1L, 105L, 2L, "click", 2.0), (1L, 200L, 3L, "view", 3.0),
    // user 2: one single-event session
    (2L, 50L, 4L, "click", 4.0)
  ).toDF("user_id", "ts_us", "event_id", "event_type", "value")

  test("sessionize: gap splits sessions; ids are per-user running counts (E2)") {
    val out = StreamOps.sessionize(events, gapUs = 10L)
      .orderBy("user_id", "session_id")
      .select("user_id", "session_id", "n_events", "duration_us")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(out == Seq((1L, 1L, 2L, 5L), (1L, 2L, 1L, 0L), (2L, 1L, 1L, 0L)))
  }

  test("tumblingCounts: bucket = floor(ts/width), counts and sums per type (E1)") {
    val out = StreamOps.tumblingCounts(events, widthUs = 100L)
      .orderBy("bucket", "event_type")
      .select("bucket", "event_type", "n_events", "sum_value")
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(out == Seq((0L, "click", 1L, 4.0), (1L, "click", 2L, 3.0), (2L, "view", 1L, 3.0)))
  }

  test("hoppingCounts: each event lands in width/slide windows; sums per window are correct (E4)") {
    // width 100, slide 50: event at ts t belongs to windows starting at
    // 50*(t div 50) and 50*(t div 50 - 1)
    val out = StreamOps.hoppingCounts(events, widthUs = 100L, slideUs = 50L)
      .orderBy("win_start", "event_type")
      .select("win_start", "event_type", "n_events", "sum_value")
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(out == Seq(
      (0L, "click", 1L, 4.0),            // ts 50
      (50L, "click", 3L, 7.0),           // ts 50, 100, 105
      (100L, "click", 2L, 3.0),          // ts 100, 105
      (150L, "view", 1L, 3.0),           // ts 200
      (200L, "view", 1L, 3.0)), s"got $out")
    // width == slide degenerates to the tumbling form
    val degen = StreamOps.hoppingCounts(events, 100L, 100L)
      .orderBy("win_start", "event_type")
      .select("win_start", "event_type", "n_events", "sum_value")
      .as[(Long, String, Long, Double)].collect().toSeq
    val tumbling = StreamOps.tumblingCounts(events, 100L)
      .withColumn("win_start", col("bucket") * 100L).drop("bucket")
      .orderBy("win_start", "event_type")
      .select("win_start", "event_type", "n_events", "sum_value")
      .as[(Long, String, Long, Double)].collect().toSeq
    assert(degen == tumbling)
  }

  test("hoppingCountsStreaming: incremental hopping result matches the batch form (E4 streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val src = mem.toDF().toDF("user_id", "ts_us", "event_id", "event_type", "value")
    val base = 1000000000L
    def us(offsetSec: Long) = (base + offsetSec) * 1000000L
    // data BEFORE start: AvailableNow snapshots available offsets at query
    // start, so later addData may fall outside the run (a race, not a bug)
    mem.addData((1L, us(30), 1L, "click", 1.0))
    mem.addData((2L, us(90), 2L, "click", 2.0))
    val q = StreamOps.hoppingCountsStreaming(src, "2 minutes", "1 minute", "10 seconds")
      .writeStream.format("memory").queryName("hopping_out")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hopping_out")
        .select((col("window.start").cast("long") * 1000000L).as("win_start"),
          col("event_type"), col("n_events"), col("sum_value"))
        .as[(Long, String, Long, Double)].collect()
        .groupBy(t => (t._1, t._2)).map { case (k, vs) => k -> vs.maxBy(_._3) }
        .values.map(v => (v._1, v._3, v._4)).toSet
      val batch = StreamOps.hoppingCounts(
        Seq((1L, us(30), 1L, "click", 1.0), (2L, us(90), 2L, "click", 2.0))
          .toDF("user_id", "ts_us", "event_id", "event_type", "value"),
        120000000L, 60000000L)
        .select("win_start", "n_events", "sum_value")
        .as[(Long, Long, Double)].collect().toSet
      assert(streamed == batch, s"streaming $streamed vs batch $batch")
    } finally q.stop()
  }

  test("enrichWithStatic: per-micro-batch dim join equals the batch join; left_outer keeps misses (E5)") {
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[(Long, Long, Double)]
    val src = mem.toDF().toDF("user_id", "ts_us", "value")
    mem.addData((1L, 100L, 1.0), (2L, 110L, 2.0), (3L, 120L, 4.0)) // user 3 not in dim
    val q = StreamOps.enrichWithStatic(src, dim, "user_id")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_out")
        .select("user_id", "tier", "value").as[(Long, String, Double)].collect().toSet
      assert(streamed == Set((1L, "gold", 1.0), (2L, "basic", 2.0)),
        s"inner enrich drops dimension misses: $streamed")
    } finally q.stop()
    val mem2 = MemoryStream[(Long, Long, Double)]
    val src2 = mem2.toDF().toDF("user_id", "ts_us", "value")
    mem2.addData((3L, 120L, 4.0))
    val q2 = StreamOps.enrichWithStatic(src2, dim, "user_id", "left_outer")
      .writeStream.format("memory").queryName("enrich_outer_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try {
      q2.processAllAvailable()
      val rows = spark.table("enrich_outer_out").select("user_id", "tier").collect()
      assert(rows.length == 1 && rows(0).getLong(0) == 3L && rows(0).isNullAt(1),
        "left_outer keeps the miss with null dims")
    } finally q2.stop()
  }

  test("tumblingCountsStreaming: incremental result matches the batch form (E1 streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long, String, Double)]
    val src = mem.toDF().toDF("user_id", "ts_us", "event_id", "event_type", "value")
    val base = 1000000000L // epoch seconds
    def us(offsetSec: Long) = (base + offsetSec) * 1000000L
    // data BEFORE start: AvailableNow snapshots available offsets at query
    // start, so later addData may fall outside the run (a race, not a bug)
    mem.addData((1L, us(30), 1L, "click", 1.0))  // minute window A
    mem.addData((1L, us(40), 2L, "click", 2.0))  // same window A
    mem.addData((2L, us(130), 3L, "view", 3.0))  // window C, two minutes later
    val q = StreamOps.tumblingCountsStreaming(src, "1 minute", "10 seconds")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode("update").trigger(Trigger.AvailableNow()).start()
    try {
      q.processAllAvailable()
      val out = spark.table("tumbling_out")
        .select(col("window.start").cast("long"), col("event_type"), col("n_events"), col("sum_value"))
        .as[(Long, String, Long, Double)].collect()
        .groupBy(t => (t._1, t._2)).map { case (k, vs) => k -> vs.maxBy(_._3) } // latest update wins
      assert(out.values.map(v => (v._2, v._3, v._4)).toSet == Set(("click", 2L, 3.0), ("view", 1L, 3.0)))
    } finally q.stop()
  }

  test("windowDistinctUsers: batch exact distinct; streaming dedup-then-count emits closed windows (E8)") {
    // batch: two users in hour A (one twice), one user in hour B
    val ev = Seq(
      (1L, 1000L * 3600000000L + 10L, 1L),
      (1L, 1000L * 3600000000L + 20L, 2L),
      (2L, 1000L * 3600000000L + 30L, 3L),
      (3L, 1001L * 3600000000L + 40L, 4L))
      .toDF("user_id", "ts_us", "event_id")
    val batch = StreamOps.windowDistinctUsers(ev, 3600000000L)
      .orderBy("bucket").collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(batch.toSeq == Seq((1000L, 2L, 3L), (1001L, 1L, 1L)))
    // streaming: same events + a sentinel far enough that the watermark
    // closes both real windows; append emits exactly the batch relation
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Long)]
    val src = mem.toDF().toDF("user_id", "ts_us", "event_id")
    mem.addData((1L, 1000L * 3600000000L + 10L, 1L))
    mem.addData((1L, 1000L * 3600000000L + 20L, 2L))
    mem.addData((2L, 1000L * 3600000000L + 30L, 3L))
    mem.addData((3L, 1001L * 3600000000L + 40L, 4L))
    mem.addData((-1L, 1004L * 3600000000L, 5L)) // sentinel: watermark passes hours 1000-1001
    val q = StreamOps.windowDistinctUsersStreaming(src, "1 hour", "1 minute")
      .writeStream.format("memory").queryName("e8_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try {
      q.processAllAvailable()
      val out = spark.table("e8_out")
        .select(expr("unix_micros(window.start) div 3600000000").as("bucket"),
          col("n_users"))
        .as[(Long, Long)].collect().sorted
      // the sentinel's own window never closes, so exactly the two real
      // hours emit, each with the exact distinct count
      assert(out.toSeq == Seq((1000L, 2L), (1001L, 1L)))
    } finally q.stop()
  }

  test("e8c two-query fork: distinct-users + event-counts joined on window equals batch (E8c)") {
    implicit val sqlCtx = spark.sqlContext
    val rows = Seq(
      (1L, 1000L * 3600000000L + 10L, 1L),
      (1L, 1000L * 3600000000L + 20L, 2L),
      (2L, 1000L * 3600000000L + 30L, 3L),
      (3L, 1001L * 3600000000L + 40L, 4L),
      (-1L, 1004L * 3600000000L, 5L)) // sentinel closes hours 1000-1001
    def replay(build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
               name: String) = {
      val mem = MemoryStream[(Long, Long, Long)]
      rows.foreach(r => { mem.addData(r); () })
      val q = build(mem.toDF().toDF("user_id", "ts_us", "event_id"))
        .writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name)
    }
    val users = replay(StreamOps.windowDistinctUsersStreaming(_, "1 hour", "1 minute"), "e8c_users")
    val counts = replay(StreamOps.windowEventCountsStreaming(_, "1 hour", "1 minute"), "e8c_counts")
    val got = users.join(counts, "window")
      .select(expr("unix_micros(window.start) div 3600000000").as("bucket"),
        col("n_users"), col("n_events"))
      .as[(Long, Long, Long)].collect().sorted.toSeq
    // batch both-column relation over the REAL events (sentinel never emits)
    assert(got == Seq((1000L, 2L, 3L), (1001L, 1L, 1L)))
  }

  test("dedup-then-count chain replays identically under the RocksDB state store") {
    // provider-agnosticism gate: at production state sizes the default
    // in-memory store is the first thing to fall over — the same chained
    // stateful operators must produce the same append-mode output with
    // spark.sql.streaming.stateStore.providerClass = RocksDB
    implicit val sqlCtx = spark.sqlContext
    val got = StreamOps.withStateStoreProvider(spark, StreamOps.RocksDbProvider) {
      assert(spark.conf.get("spark.sql.streaming.stateStore.providerClass")
        == StreamOps.RocksDbProvider)
      val mem = MemoryStream[(Long, Long, Long)]
      mem.addData((1L, 1000L * 3600000000L + 10L, 1L))
      mem.addData((1L, 1000L * 3600000000L + 20L, 2L))
      mem.addData((2L, 1000L * 3600000000L + 30L, 3L))
      mem.addData((3L, 1001L * 3600000000L + 40L, 4L))
      mem.addData((-1L, 1004L * 3600000000L, 5L))
      val src = mem.toDF().toDF("user_id", "ts_us", "event_id")
      val q = StreamOps.windowDistinctUsersStreaming(src, "1 hour", "1 minute")
        .writeStream.format("memory").queryName("e8_rocksdb_out")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table("e8_rocksdb_out")
        .select(expr("unix_micros(window.start) div 3600000000").as("bucket"),
          col("n_users"))
        .as[(Long, Long)].collect().sorted.toSeq
    }
    assert(got == Seq((1000L, 2L), (1001L, 1L)))
    // and the toggle restored the default provider for later suites
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .contains(StreamOps.RocksDbProvider))
  }

  test("windowApproxDistinctUsers: streaming replay equals batch bit-exactly; error within HLL bound (E8d)") {
    // HLL register merges are max-based — commutative and associative — so
    // the sketch estimate is deterministic under ANY partitioning or
    // arrival order: the streaming replay must equal the batch form
    // exactly, not approximately
    implicit val sqlCtx = spark.sqlContext
    val n = 500
    val rows = (0 until n).map { i =>
      (i.toLong % 173, 1000L * 3600000000L + (i % 3500) * 1000000L, i.toLong)
    } :+ ((-1L, 1004L * 3600000000L, 9999L)) // sentinel closes the real hour
    val batch = StreamOps.windowApproxDistinctUsers(
      rows.dropRight(1).toDF("user_id", "ts_us", "event_id"), 3600000000L)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val mem = MemoryStream[(Long, Long, Long)]
    rows.foreach(r => { mem.addData(r); () })
    val q = StreamOps.windowApproxDistinctUsersStreaming(
      mem.toDF().toDF("user_id", "ts_us", "event_id"), "1 hour", "1 minute")
      .writeStream.format("memory").queryName("e8d_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("e8d_out")
      .select(expr("unix_micros(window.start) div 3600000000").as("bucket"),
        col("n_users_approx"))
      .as[(Long, Long)].collect().toMap
    assert(streamed == batch, s"streaming $streamed != batch $batch")
    // 173 true distinct users in the hour; rsd 0.05 → assert a generous 3σ
    val est = batch(1000L).toDouble
    assert(math.abs(est - 173) / 173 <= 0.15, s"HLL estimate $est too far from 173")
  }

  test("e9 gate rerun-safety: an unfinished route trio (no _ROUTED marker) is wiped before replay") {
    // the ADVICE r10 fix: a crash after some foreachBatch appends but
    // before the marker must NOT let a rerun double-append into the same
    // checkpoint+sink trio — absent marker ⇒ the whole trio restarts empty
    val d = "/root/testdata/sf0.001"
    val fresh = VerifyRows("e9_stream_route").run(spark, d).collect()
    val scratch = new java.io.File(graft.verify.RowHelpers.scratchDir(d))
    val routeBase = Option(scratch.listFiles()).toSeq.flatten
      .find(_.getName.startsWith("e9_route_"))
      .getOrElse(fail("route dir not staged"))
    // simulate the crashed prior run: marker gone, sinks left with rows
    assert(new java.io.File(routeBase, "_ROUTED").delete())
    val junk = new java.io.File(routeBase, "pass/junk-from-crashed-run.txt")
    java.nio.file.Files.write(junk.toPath, "junk".getBytes)
    val rerun = VerifyRows("e9_stream_route").run(spark, d).collect()
    assert(!junk.exists(), "unfinished trio must be wiped before the replay")
    assert(rerun.map(_.toString).sorted.toSeq == fresh.map(_.toString).sorted.toSeq,
      "rerun after a simulated crash must reproduce the routed relation exactly")
    assert(new java.io.File(routeBase, "_ROUTED").exists())
  }

  test("routeToSinks: one batch read, two filtered sinks; null predicate routes to FAIL (E9)") {
    val base = "target/tmp/e9_route_spec"
    graft.sources.ParquetSink.deleteRecursively(new java.io.File(base))
    Seq((1L, Some(10)), (2L, Some(3)), (3L, None))
      .toDF("id", "score")
      .coalesce(1).write.mode("overwrite").parquet(s"$base/src")
    val schema = spark.read.parquet(s"$base/src").schema
    val src = spark.readStream.schema(schema).parquet(s"$base/src")
    StreamOps.routeToSinks(src, col("score") >= 5,
      s"$base/pass", s"$base/fail", s"$base/ckpt")
    val pass = spark.read.parquet(s"$base/pass").select("id").as[Long].collect().toSet
    val fail = spark.read.parquet(s"$base/fail").select("id").as[Long].collect().toSet
    assert(pass == Set(1L), s"pass: $pass")
    // the null-score row must land in the reviewable store, not vanish
    assert(fail == Set(2L, 3L), s"fail: $fail")
  }

  test("dedupExactStreaming: first arrival wins; later normalized-equal docs dropped (E3 streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Long)]
    val src = mem.toDF().toDF("doc_id", "text", "ts_us")
    val q = StreamOps.dedupExactStreaming(src, "text", "ts_us", "10 seconds")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      val t0 = 1000000000L * 1000000L
      mem.addData((1L, "Hello,  World!", t0), (2L, "hello world", t0 + 1))
      mem.addData((3L, "a different document", t0 + 2))
      mem.addData((4L, "HELLO WORLD?!", t0 + 3)) // same fingerprint as 1/2
      q.processAllAvailable()
      val kept = spark.table("dedup_out").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(1L, 3L), s"expected first-arrival dedup, got $kept")
    } finally q.stop()
  }

  test("ingestDedupStreaming: stream-static anti join probes the loaded index per micro-batch (E7)") {
    implicit val sqlCtx = spark.sqlContext
    val idxDir = "target/tmp/streamspec_e7_idx"
    val corpus = Seq((100L, "hello world"), (101L, "known document text"))
      .toDF("doc_id", "text")
    val fp = operators.Dedup.FingerprintIndex("text")
    fp.write(corpus, idxDir, shards = 2)
    val mem = MemoryStream[(Long, String)]
    val src = mem.toDF().toDF("doc_id", "text")
    val q = StreamOps.ingestDedupStreaming(src, fp.read(spark, idxDir)("fingerprint"), "text")
      .writeStream.format("memory").queryName("e7_out")
      .outputMode("append").start()
    try {
      mem.addData((1L, "HELLO, world!"), (2L, "a brand new document"))
      mem.addData((3L, "Known Document Text"), (4L, "another fresh one"))
      q.processAllAvailable()
      val kept = spark.table("e7_out").select("doc_id").as[Long].collect().toSet
      assert(kept == Set(2L, 4L),
        s"index-matching docs must drop across micro-batches, got $kept")
    } finally q.stop()
  }

  test("streaming ingest across the day boundary: probe → index update → probe again (E7b)") {
    // day-1 replay screens against the base index; its survivors fold in
    // via FingerprintIndex.append; the day-2 replay must then drop both
    // base-known AND day-1-survivor duplicates — the composed lifecycle.
    val idxDir = "target/tmp/streamspec_e7b_idx"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(idxDir))
    val corpus = Seq((100L, "base document")).toDF("doc_id", "text")
    val fp = operators.Dedup.FingerprintIndex("text")
    fp.write(corpus, idxDir, shards = 2)
    val seg1Dir = java.nio.file.Files.createTempDirectory("e7b_seg1").toString
    val seg2Dir = java.nio.file.Files.createTempDirectory("e7b_seg2").toString
    Seq((1L, "Base Document!"), (2L, "day one novelty"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(seg1Dir)
    Seq((3L, "DAY ONE NOVELTY"), (4L, "base document"), (5L, "day two novelty"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(seg2Dir)
    val schema = spark.read.parquet(seg1Dir).schema
    val surv1 = StreamOps.runToMemoryTable(spark,
      StreamOps.ingestDedupStreaming(
        spark.readStream.schema(schema).parquet(seg1Dir),
        fp.read(spark, idxDir)("fingerprint"), "text"), "e7b_day1_test")
    assert(surv1.select("doc_id").as[Long].collect().toSet == Set(2L),
      "day-1 replay must drop the base-known doc")
    fp.append(surv1, idxDir, shards = 2)
    val surv2 = StreamOps.runToMemoryTable(spark,
      StreamOps.ingestDedupStreaming(
        spark.readStream.schema(schema).parquet(seg2Dir),
        fp.read(spark, idxDir)("fingerprint"), "text"), "e7b_day2_test")
    assert(surv2.select("doc_id").as[Long].collect().toSet == Set(5L),
      "day-2 replay must drop base-known AND day-1-survivor duplicates")
  }

  /** One ingest batch as the library composes it: a JSONL arrival dir
    * deduped against a parquet fingerprint index of `known` texts. Returns
    * the streaming frame and a fresh `runToParquet` dir.
    */
  private def ingestBatch(s: org.apache.spark.sql.SparkSession, name: String,
                          docs: Seq[(Long, String)], known: Seq[String])
      : (org.apache.spark.sql.DataFrame, String) = {
    import s.implicits._
    val root = s"target/tmp/streamspec_rtp_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    docs.toDF("doc_id", "text").write.json(s"$root/in")
    val fp = operators.Dedup.FingerprintIndex("text")
    fp.write(known.map(t => (0L, t)).toDF("doc_id", "text"), s"$root/idx", shards = 2)
    val schema = "doc_id BIGINT, text STRING"
    (StreamOps.ingestDedupStreaming(s.readStream.schema(schema).json(s"$root/in"),
      fp.read(s, s"$root/idx")("fingerprint"), "text"), s"$root/run")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("runToParquet: its frame has the schema and rows of its parquet output, empty batch included") {
    val (stream, path) = ingestBatch(spark, "rows",
      Seq(1L -> "Known text!", 2L -> "fresh text", 3L -> "another one"), Seq("known text"))
    val out = StreamOps.runToParquet(spark, stream, path)
    val reread = spark.read.parquet(s"$path/out")
    assert(out.schema == reread.schema)
    assert(rows(out) == rows(reread))
    assert(out.select("doc_id").as[Long].collect().toSet == Set(2L, 3L))
    // a batch in which every document is already in the index
    val (dupes, dupPath) = ingestBatch(spark, "none", Seq(1L -> "known text"), Seq("known text"))
    val none = StreamOps.runToParquet(spark, dupes, dupPath)
    val noneReread = spark.read.parquet(s"$dupPath/out")
    assert(none.schema == noneReread.schema)
    assert(none.count() == 0 && noneReread.count() == 0)
  }

  test("runToParquet: a second query of the same shape compiles no class, under get and under tune") {
    import org.apache.spark.metrics.source.CodegenMetrics
    def compiles(s: org.apache.spark.sql.SparkSession, name: String): Long = {
      val (stream, path) = ingestBatch(s, name, Seq(1L -> "known", 2L -> s"fresh $name"), Seq("known"))
      val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = StreamOps.runToParquet(s, stream, path)
      val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
      assert(out.count() == 1)
      n
    }
    compiles(spark, "get_a")
    assert(compiles(spark, "get_b") == 0)
    outsideGraft() { plain =>
      // start from Spark's defaults, which tune must change
      plain.conf.set(Session.NoArtifactIsolation._1, "true")
      plain.conf.unset(Session.CheckpointManager._1)
      Session.tune(plain)
      compiles(plain, "tune_a")
      assert(compiles(plain, "tune_b") == 0)
    }
  }

  test("runToMemoryTable: parquet file-source replay equals the batch dedup (E3 replay)") {
    val dir = java.nio.file.Files.createTempDirectory("e3replay").toString
    val docs = Seq(
      (1L, "Hello,  World!"), (2L, "hello world"),
      (3L, "a different document"), (4L, "HELLO WORLD?!"))
      .toDF("doc_id", "text")
    docs.write.mode("overwrite").parquet(dir)
    val schema = spark.read.parquet(dir).schema
    val src = spark.readStream.schema(schema).parquet(dir)
      .withColumn("ts_us", col("doc_id"))
    val out = StreamOps.runToMemoryTable(spark,
      StreamOps.dedupExactStreaming(src, "text", "ts_us", "1 hour"), "e3_replay_test")
      .select("fingerprint").as[String].collect().toSet
    val batch = operators.Dedup.exact(docs, "doc_id", "text")
      .select("fingerprint").as[String].collect().toSet
    assert(out == batch, "streaming replay fingerprint set must equal the batch dedup")
  }

  test("sessionizeStreaming: a later event past the gap closes and emits the old session (E2 streaming)") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.Ev]
    val q = StreamOps.sessionizeStreaming(spark, mem.toDF(), gapUs = 10L, withTimeout = false)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode("append").start()
    try {
      mem.addData(StreamOps.Ev(1L, 100L, 1L), StreamOps.Ev(1L, 105L, 2L))
      q.processAllAvailable()
      // no session emitted yet (still open)
      assert(spark.table("sessions_out").count() == 0)
      mem.addData(StreamOps.Ev(1L, 500L, 3L)) // gap 395 > 10 -> closes first session
      q.processAllAvailable()
      val out = spark.table("sessions_out")
        .select("user_id", "n_events", "session_start_us", "session_end_us", "duration_us")
        .as[(Long, Long, Long, Long, Long)].collect().toSeq
      assert(out == Seq((1L, 2L, 100L, 105L, 5L)))
    } finally q.stop()
  }

  test("sessionizeWindow (built-in session_window) equals the lag-diff form, exact boundary included (E2c)") {
    val ev = Seq(
      (1L, 100L, 1L), (1L, 105L, 2L), (1L, 300L, 3L), // break at 300 (gap 195)
      (2L, 50L, 4L)
    ).toDF("user_id", "ts_us", "event_id")
    val viaWindow = StreamOps.sessionizeWindow(ev, "10 microseconds")
      .select("user_id", "n_events", "session_start_us", "session_end_us", "duration_us")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    val viaLag = StreamOps.sessionize(ev, 10L)
      .select("user_id", "n_events", "session_start_us", "session_end_us", "duration_us")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(viaWindow == viaLag, s"sessions must agree: $viaWindow vs $viaLag")
    // exact-boundary gap: the built-in merges up to and INCLUDING
    // session-end (last + gap), matching the lag-diff form's strict-> break
    val boundary = Seq((1L, 100L, 1L), (1L, 110L, 2L), (1L, 121L, 3L))
      .toDF("user_id", "ts_us", "event_id")
    assert(StreamOps.sessionizeWindow(boundary, "10 microseconds").count() == 2,
      "110 merges (diff == gap); 121 breaks (diff > gap)")
    assert(StreamOps.sessionize(boundary, 10L).count() == 2)
  }

  test("asofJoinStreaming: latest in-horizon click per purchase, greatest-id tiebreak, inner drop (E6)") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Long, Long, Long)]
    val clicks = MemoryStream[(Long, Long, Long)]
    val base = 1000000000000000L // comfortably past epoch 0 + watermark
    // user 1: clicks at +10, +20 (tie pair 21/22 at +20), purchase at +25
    //   -> latest click is ts +20, tiebreak picks event_id 22
    // user 1: second purchase at +500 with horizon 100 -> clicks too old, drops
    // user 2: purchase at +5 with no click at all -> drops (inner)
    clicks.addData((101L, 1L, base + 10), (21L, 1L, base + 20), (22L, 1L, base + 20))
    purchases.addData((1L, 1L, base + 25), (2L, 1L, base + 500), (3L, 2L, base + 5))
    // sentinels push both watermarks past every real event so append-mode
    // groups flush within the AvailableNow run (non-joining users)
    purchases.addData((-1L, -100L, base + 100000000L))
    clicks.addData((-2L, -200L, base + 100000000L))
    val out = StreamOps.asofJoinStreamingPlain(
      purchases.toDF().toDF("event_id", "user_id", "ts_us"),
      clicks.toDF().toDF("event_id", "user_id", "ts_us"),
      horizonUs = 100L, watermark = "1 second")
    val q = out.writeStream.format("memory").queryName("e6_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("e6_out")
        .select("event_id", "user_id", "ts_us", "r_event_id", "r_ts_us")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 1L, base + 25, 22L, base + 20)),
        s"expected one attributed purchase with tiebreak id 22, got $got")
    } finally q.stop()
  }

  test("asofJoinStreaming left_outer: unattributed purchases emit with null click side on timeout (E6b)") {
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[(Long, Long, Long)]
    val clicks = MemoryStream[(Long, Long, Long)]
    val base = 1000000000000000L
    clicks.addData((21L, 1L, base + 20))
    // purchase 1 attributed; purchase 2 beyond horizon; purchase 3 no user match
    purchases.addData((1L, 1L, base + 25), (2L, 1L, base + 500), (3L, 2L, base + 5))
    purchases.addData((-1L, -100L, base + 100000000L))
    clicks.addData((-2L, -200L, base + 100000000L))
    val out = StreamOps.asofJoinStreamingPlain(
      purchases.toDF().toDF("event_id", "user_id", "ts_us"),
      clicks.toDF().toDF("event_id", "user_id", "ts_us"),
      horizonUs = 100L, watermark = "1 second", joinType = "left_outer")
    val q = out.writeStream.format("memory").queryName("e6b_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("e6b_out").filter(col("event_id") >= 0)
        .select("event_id", "user_id", "ts_us", "r_event_id", "r_ts_us")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -999L else r.getLong(3),
          if (r.isNullAt(4)) -999L else r.getLong(4))).toSet
      assert(got == Set(
        (1L, 1L, base + 25, 21L, base + 20),
        (2L, 1L, base + 500, -999L, -999L),
        (3L, 2L, base + 5, -999L, -999L)),
        s"left form must keep unattributed purchases with nulls, got $got")
    } finally q.stop()
  }

  test("asofJoinStreamingSliced: bit-matches the plain as-of relation, both join types (E6c)") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1000000000000000L
    // a key-dense fixture: user 1 holds many clicks across several slice
    // boundaries (horizon 100 → slices of 100), including exact-boundary
    // timestamps (c_ts = p_ts - horizon must match; slice edges must not
    // drop or double pairs), plus a tie pair and an out-of-horizon click
    val clickRows = Seq(
      (101L, 1L, base + 10), (21L, 1L, base + 20), (22L, 1L, base + 20),
      (23L, 1L, base + 150), (24L, 1L, base + 199), (25L, 1L, base + 200),
      (26L, 1L, base + 300), (27L, 2L, base + 410))
    val purchRows = Seq(
      (1L, 1L, base + 25),  // latest in-horizon: tie at +20 → id 22
      (2L, 1L, base + 500), // horizon [400,500]: no user-1 click → drops/null
      (3L, 2L, base + 5),   // no click at all
      (4L, 1L, base + 250), // horizon [150,250]: latest +200 (boundary slice)
      (5L, 1L, base + 299), // horizon [199,299]: +199 boundary IN, +300 out
      (6L, 2L, base + 510)) // horizon [410,510]: +410 boundary IN
    // each replay gets FRESH MemoryStreams: the memory source purges
    // committed batches, so a second query over the same instances
    // silently reads nothing
    def run(slicedForm: Boolean, jt: String, name: String) = {
      val purchases = MemoryStream[(Long, Long, Long)]
      val clicks = MemoryStream[(Long, Long, Long)]
      clicks.addData(clickRows: _*)
      purchases.addData(purchRows: _*)
      purchases.addData((-1L, -100L, base + 100000000L))
      clicks.addData((-2L, -200L, base + 100000000L))
      val (pDf, cDf) = (purchases.toDF().toDF("event_id", "user_id", "ts_us"),
        clicks.toDF().toDF("event_id", "user_id", "ts_us"))
      val df = if (slicedForm)
        StreamOps.asofJoinStreaming(pDf, cDf, horizonUs = 100L,
          watermark = "1 second", joinType = jt)
      else StreamOps.asofJoinStreamingPlain(pDf, cDf, horizonUs = 100L,
        watermark = "1 second", joinType = jt)
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).filter(col("event_id") >= 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -999L else r.getLong(3),
          if (r.isNullAt(4)) -999L else r.getLong(4))).toSet
    }
    for (jt <- Seq("inner", "left_outer")) {
      val got = run(slicedForm = true, jt, s"e6c_${jt}_out")
      val want = run(slicedForm = false, jt, s"e6c_ref_${jt}_out")
      assert(got == want, s"sliced $jt relation must bit-match plain: $got vs $want")
      assert(want.nonEmpty && want.exists(_._4 == 22L),
        s"fixture must exercise the tiebreak, got $want")
    }
  }

  test("asofJoinStreamingSliced: sub-horizon slices (several per look-back) keep the relation (E6c)") {
    implicit val sqlCtx = spark.sqlContext
    val base = 1000000000000000L
    val purchases = MemoryStream[(Long, Long, Long)]
    val clicks = MemoryStream[(Long, Long, Long)]
    clicks.addData((21L, 1L, base + 20), (23L, 1L, base + 150),
      (25L, 1L, base + 200), (26L, 1L, base + 249))
    purchases.addData((1L, 1L, base + 250), (2L, 1L, base + 90))
    purchases.addData((-1L, -100L, base + 100000000L))
    clicks.addData((-2L, -200L, base + 100000000L))
    // slice 30 with horizon 100 → ceil(100/30)+1 = 5 probed slices/purchase
    val out = StreamOps.asofJoinStreaming(
      purchases.toDF().toDF("event_id", "user_id", "ts_us"),
      clicks.toDF().toDF("event_id", "user_id", "ts_us"),
      horizonUs = 100L, watermark = "1 second", sliceUs = 30L)
    val q = out.writeStream.format("memory").queryName("e6c_fine_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    try {
      q.processAllAvailable()
      val got = spark.table("e6c_fine_out").filter(col("event_id") >= 0)
        .select("event_id", "user_id", "ts_us", "r_event_id", "r_ts_us")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
      assert(got == Set(
        (1L, 1L, base + 250, 26L, base + 249),
        (2L, 1L, base + 90, 21L, base + 20)),
        s"fine-sliced as-of must keep latest-in-horizon exactly once, got $got")
    } finally q.stop()
  }

  test("asofSliceStats: ladder keeps horizon-dividing rungs; occupancy and amplification exact (E6e)") {
    // horizon 100: 100, 50, 25 divide; 12/6/3 (the >> truncations) do not
    assert(StreamOps.sliceLadder(100L, 6) == IndexedSeq((100L, 2L), (50L, 3L), (25L, 5L)))
    // odd horizon: the truncated shift 9 >> 3 = 1 divides 9 but is NOT
    // 9 / 2^3 — amplification must come from the kept width (9/1 + 1 =
    // 10 probes), not from the rung's power-of-two label (which would
    // understate it as 2^3 + 1 = 9)
    assert(StreamOps.sliceLadder(9L, 4) == IndexedSeq((9L, 2L), (1L, 10L)))
    val clicks = Seq((1L, 10L), (1L, 60L), (1L, 110L), (2L, 10L))
      .toDF("user_id", "ts_us")
    val got = StreamOps.asofSliceStats(clicks, "user_id", "ts_us",
        horizonUs = 100L, rungs = 2)
      .select("slice_us", "amplification", "n_slots", "max_slot", "n_rows")
      .as[(Long, Long, Long, Long, Long)].collect().toSet
    assert(got == Set(
      (100L, 2L, 3L, 2L, 4L),   // u1:{10,60},{110}; u2:{10}
      (50L, 3L, 4L, 1L, 4L)),   // every click in its own (user, slice) slot
      s"hand-computed occupancy expected, got $got")
  }

  test("deriveSliceUs: widest rung under the bound; smallest on all-dense; horizon on empty (E6f)") {
    val clicks = Seq((1L, 10L), (1L, 60L), (1L, 110L), (2L, 10L))
      .toDF("user_id", "ts_us")
    // bound 1 forces past the horizon rung (max_slot 2) to slice 50
    assert(StreamOps.deriveSliceUs(clicks, "user_id", "ts_us", 100L,
      maxPerSlot = 1, rungs = 2) == 50L)
    // bound 2 admits the widest (cheapest-amplification) rung
    assert(StreamOps.deriveSliceUs(clicks, "user_id", "ts_us", 100L,
      maxPerSlot = 2, rungs = 2) == 100L)
    // two same-timestamp clicks are dense at EVERY rung → smallest rung
    val dense = Seq((1L, 10L), (1L, 10L)).toDF("user_id", "ts_us")
    assert(StreamOps.deriveSliceUs(dense, "user_id", "ts_us", 100L,
      maxPerSlot = 1, rungs = 2) == 50L)
    // no clicks = no evidence → the default horizon-width slice
    val empty = Seq.empty[(Long, Long)].toDF("user_id", "ts_us")
    assert(StreamOps.deriveSliceUs(empty, "user_id", "ts_us", 100L,
      maxPerSlot = 1, rungs = 2) == 100L)
    // the derived width must reproduce the default-width relation (the
    // sliced join is width-invariant): gated end-to-end by the e6f
    // oracle row at maxPerSlot = 1 over the events fixture
  }

  test("deriveSliceUs at the DEFAULT bound picks a sub-horizon rung on a dense key; replay bit-matches unsliced (r17 #4)") {
    // r17's e6f forced a non-default rung with maxPerSlot = 1; this pins
    // the DEFAULT 4096 bound non-vacuously: one hot user with 6000 clicks
    // inside a single horizon-width slot (> 4096) that halving once
    // splits into ~3000-row slots (< 4096), so the default derivation
    // must step down exactly one rung — and the join relation at that
    // measured width must still bit-match the unsliced join.
    implicit val sqlCtx = spark.sqlContext
    val horizon = 1024L
    val base = 1000000000000000L
    val a = base - base % horizon // slot-aligned hot window
    val clickRows = (0 until 6000).map(i => (100L + i, 1L, a + (i % horizon)))
    val batchClicks = clickRows.toDF("event_id", "user_id", "ts_us")
    val derived = StreamOps.deriveSliceUs(batchClicks, "user_id", "ts_us",
      horizonUs = horizon) // default maxPerSlot = 4096, rungs = 6
    assert(derived == horizon / 2,
      s"default bound must step past the dense horizon rung, got $derived")
    val purchRows = Seq(
      (1L, 1L, a + 1000),    // dense window: latest in-horizon click wins
      (2L, 1L, a + horizon + 900), // horizon reaches back into the hot slot
      (3L, 2L, a + 500))     // user with no clicks at all
    def run(sliceUs: Long, name: String) = {
      val purchases = MemoryStream[(Long, Long, Long)]
      val clicks = MemoryStream[(Long, Long, Long)]
      clicks.addData(clickRows: _*)
      purchases.addData(purchRows: _*)
      purchases.addData((-1L, -100L, a + 100000000L))
      clicks.addData((-2L, -200L, a + 100000000L))
      val df = StreamOps.asofJoinStreaming(
        purchases.toDF().toDF("event_id", "user_id", "ts_us"),
        clicks.toDF().toDF("event_id", "user_id", "ts_us"),
        horizonUs = horizon, watermark = "1 second", sliceUs = sliceUs)
      val q = df.writeStream.format("memory").queryName(name)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      try q.processAllAvailable() finally q.stop()
      spark.table(name).filter(col("event_id") >= 0)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
    }
    val atDerived = run(derived, "e6f_default_derived_out")
    val unsliced = run(horizon, "e6f_default_ref_out")
    assert(atDerived == unsliced,
      s"derived-width relation must bit-match unsliced: $atDerived vs $unsliced")
    assert(unsliced.size == 2 && unsliced.exists(_._1 == 1L),
      s"fixture must join inside the dense window, got $unsliced")
  }

  test("window indices FLOOR negative (pre-1970) timestamps, matching SQL // semantics") {
    val w = 3600000000L // 1h in us
    val ev = Seq(
      (-1L, "a", 1.0),           // floor(-1/w)  = -1 (div would say 0)
      (-w - 1L, "a", 1.0),       // floor        = -2 (div would say -1)
      (1L, "a", 1.0),            //              = 0
      (w, "a", 1.0)              //              = 1 (exact boundary)
    ).toDF("ts_us", "event_type", "value")
    val buckets = StreamOps.tumblingCounts(ev, w)
      .select("bucket").as[Long].collect().toSet
    assert(buckets == Set(-1L, -2L, 0L, 1L), s"got $buckets")
    // hopping: the -1 event belongs to the 2h windows starting at -2w and -w
    val hops = StreamOps.hoppingCounts(ev.filter(col("ts_us") === -1L), 2 * w, w)
      .select("win_start").as[Long].collect().toSet
    assert(hops == Set(-2L * w, -w), s"got $hops")
  }
}
