package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Pins `Tables.registerAll`'s per-view isolation (the r9 failure mode):
  * one unloadable table must cost only queries that reference IT — the
  * other views still register and still answer SQL. Also pins the
  * `Tables.table` memo, graft's one table memo, and its end at
  * `Caches.drain`.
  */
class TablesSpec extends SparkTestBase {

  private val srcSf = "/root/testdata/sf0.001"

  /** Build a scratch data dir with 9 good tables (symlinked to the real
    * sf0.001 parquet) and ONE corrupt table (garbage bytes where a parquet
    * footer should be).
    */
  private def stageCorrupted(bad: String): String = {
    val dir = Paths.get(s"target/tmp/tables_spec_corrupt_$bad")
    graft.sources.ParquetSink.deleteRecursively(dir.toFile)
    Files.createDirectories(dir)
    Tables.AllNames.foreach { n =>
      val dst = dir.resolve(s"$n.parquet")
      if (n == bad) Files.write(dst, "this is not a parquet file".getBytes("UTF-8"))
      else Files.createSymbolicLink(dst, Paths.get(s"$srcSf/$n.parquet").toAbsolutePath)
    }
    dir.toString
  }

  test("registerAll: a corrupt table costs only its own view — the other nine register and query") {
    val dir = stageCorrupted("events")
    // drop any views a neighboring suite registered: createOrReplaceTempView
    // only replaces on a SUCCESSFUL load, so a pre-existing good `events`
    // view would mask the corrupt-table outcome this test pins
    Tables.AllNames.foreach(spark.catalog.dropTempView(_))
    Tables.registerAll(spark, dir)
    val good = Tables.AllNames.filterNot(_ == "events")
    assert(good.forall(spark.catalog.tableExists),
      s"missing views: ${good.filterNot(spark.catalog.tableExists)}")
    // every surviving view must actually answer a query, not just exist
    good.foreach { n =>
      assert(spark.sql(s"SELECT count(*) AS n FROM $n").head().getLong(0) > 0,
        s"view $n registered but returned no rows")
    }
    // ...and the corrupt one is genuinely unusable, not silently empty
    assert(!spark.catalog.tableExists("events") ||
      scala.util.Try(spark.sql("SELECT count(*) FROM events").head()).isFailure)
    // restore the real views for any suite running after this one
    Tables.registerAll(spark, srcSf)
  }

  test("registerAll: a fully-missing dir still fails loudly") {
    intercept[Throwable] {
      Tables.registerAll(spark, "target/tmp/tables_spec_definitely_missing")
    }
  }

  test("a memoized small scan whose view was dropped is persisted again on its next load") {
    Tables.registerAll(spark, srcSf)
    spark.catalog.dropTempView("nation") // uncaches the view's plan: the memo frame's
    val nation = Tables.table(spark, srcSf, "nation")
    assert(nation.storageLevel == org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assert(nation.count() == 25)
    Tables.registerAll(spark, srcSf) // restore the view for later suites
  }

  test("events tunes a session that lacks its read confs, and leaves a tuned one as it is") {
    val threshold = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    Session.withConf(spark, threshold -> "128") {
      assert(Tables.events(spark, srcSf).columns.contains("ts_us"))
      assert(spark.conf.get(threshold) == "128", "a tuned session must keep the caller's conf")
    }
    outsideGraft() { plain =>
      plain.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
      plain.conf.set(threshold, "128")
      assert(Tables.events(plain, srcSf).count() > 0)
      assert(plain.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
      assert(plain.conf.get(threshold) == "2048")
      Caches.drain(plain)
    }
  }

  test("table memoizes per (session, dir, name); drain unpersists the small scan") {
    // start from an empty memo: an earlier test may have dropped the cache
    // entry under a memoized frame (the first test above drops the views
    // `registerAll` made over the memo frames, which uncaches them)
    Caches.drain(spark)
    val a = Tables.table(spark, srcSf, "nation")
    val b = Tables.table(spark, srcSf, "nation")
    assert(a eq b, "a second load must return the memoized frame")
    assert(!(Tables.table(spark, srcSf, "region") eq a), "another name is another frame")
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK,
      s"the single-row-group scan must be persisted, got ${a.storageLevel}")
    assert(a.count() == 25)
    Caches.drain(spark)
    assert(a.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "drain must unpersist the memoized small scan")
    assert(!(Tables.table(spark, srcSf, "nation") eq a), "drain must forget the memo entry")
  }
}
