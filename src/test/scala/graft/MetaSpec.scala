package graft

/** A16 execution log. */
class MetaSpec extends SparkTestBase {

  test("ExecLog records completed actions with duration and physical plan (A16)") {
    val log = Meta.attachExecLog(spark)
    try {
      Tables.nation(spark, "/root/testdata/sf0.001").count()
      // listener bus is async — poll briefly
      val deadline = System.nanoTime() + 10e9.toLong
      while (log.entries.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      val es = log.entries
      assert(es.nonEmpty, "an action must produce a log entry")
      assert(es.exists(e => e.durationNs > 0 && e.physicalPlan.nonEmpty))
    } finally spark.listenerManager.unregister(log)
  }

  test("ExecLog is bounded: oldest entries drop past maxEntries") {
    val log = new Meta.ExecLog(maxEntries = 3)
    val qe: org.apache.spark.sql.execution.QueryExecution =
      spark.range(1).queryExecution
    (1 to 5).foreach(i => log.onSuccess(s"action$i", qe, i.toLong))
    val es = log.entries
    assert(es.size == 3, s"cap must hold, got ${es.size}")
    assert(es.map(_.action) == Seq("action3", "action4", "action5"), "oldest drop first")
    log.clear()
    log.onSuccess("after", qe, 1L)
    assert(log.entries.size == 1, "clear resets the bound counter")
  }

  test("execLogTable surfaces the log as a SQL-queryable relation (A16 UI parity)") {
    val log = Meta.attachExecLog(spark)
    try {
      Tables.nation(spark, "/root/testdata/sf0.001").count()
      val deadline = System.nanoTime() + 10e9.toLong
      while (log.entries.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      Meta.execLogTable(spark, log)
      val rows = spark.sql(
        "SELECT action, duration_ms, plan_md5 FROM graft_exec_log WHERE duration_ms > 0")
        .collect()
      assert(rows.nonEmpty, "the view must round-trip through spark.sql")
      assert(rows.forall(_.getString(2).length == 32), "plan digest is a 32-hex md5")
      // refresh picks up later actions
      val before = spark.sql("SELECT count(*) FROM graft_exec_log").collect()(0).getLong(0)
      Tables.nation(spark, "/root/testdata/sf0.001").count()
      val dl2 = System.nanoTime() + 10e9.toLong
      while (log.entries.size <= before && System.nanoTime() < dl2) Thread.sleep(50)
      Meta.execLogTable(spark, log)
      val after = spark.sql("SELECT count(*) FROM graft_exec_log").collect()(0).getLong(0)
      assert(after > before, "re-calling execLogTable refreshes the snapshot")
    } finally spark.listenerManager.unregister(log)
  }
}
