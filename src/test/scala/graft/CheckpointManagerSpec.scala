package graft

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8

import graft.streaming.{SchemeCheckpointFileManager, StreamOps}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}

/** A `FileContext` binding for a scheme no Spark default knows, so a test
  * can ask which manager a non-`file` path gets without a cluster.
  */
class GraftMockFs(uri: URI, conf: Configuration)
  extends DelegateToFileSystem(uri, new RawLocalFileSystem(), conf, "graftmock", false)

/** graft's sessions write checkpoints through [[SchemeCheckpointFileManager]]:
  * the `FileSystem` manager on local paths, Spark's default elsewhere, with
  * the default's no-overwrite guard, and readable checkpoints across the
  * switch.
  */
class CheckpointManagerSpec extends SparkTestBase {
  import spark.implicits._

  private def fresh(name: String): String = {
    val dir = s"target/tmp/cpspec_$name"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    dir
  }

  test("a local path gets the FileSystem manager; another scheme gets Spark's default") {
    val conf = spark.sessionState.newHadoopConf()
    val local = CheckpointFileManager.create(new Path(new java.io.File(fresh("local")).toURI), conf)
    assert(local.isInstanceOf[SchemeCheckpointFileManager], "the session must register the manager")
    assert(local.asInstanceOf[SchemeCheckpointFileManager].delegate
      .isInstanceOf[FileSystemBasedCheckpointFileManager])
    // a path with no scheme resolves against the default file system, file:
    assert(new SchemeCheckpointFileManager(new Path(fresh("relative")), conf).delegate
      .isInstanceOf[FileSystemBasedCheckpointFileManager])

    conf.set("fs.AbstractFileSystem.graftmock.impl", classOf[GraftMockFs].getName)
    val other = new Path(s"graftmock://${new java.io.File(fresh("mock")).getAbsolutePath}")
    val sparks = new Configuration(conf)
    sparks.unset(SchemeCheckpointFileManager.ConfKey)
    assert(CheckpointFileManager.create(other, sparks).isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(new SchemeCheckpointFileManager(other, conf).delegate
      .isInstanceOf[FileContextBasedCheckpointFileManager])
  }

  test("createAtomic without overwrite refuses an existing file, as Spark's default manager does") {
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(new java.io.File(fresh("atomic")).toURI)
    Seq[CheckpointFileManager](new SchemeCheckpointFileManager(dir, conf),
        new FileContextBasedCheckpointFileManager(dir, conf)).foreach { m =>
      val target = new Path(dir, m.getClass.getSimpleName)
      val first = m.createAtomic(target, overwriteIfPossible = false)
      first.write("first".getBytes(UTF_8))
      first.close()
      val second = m.createAtomic(target, overwriteIfPossible = false)
      second.write("second".getBytes(UTF_8))
      intercept[FileAlreadyExistsException](second.close())
      val in = m.open(target)
      try assert(new String(in.readAllBytes(), UTF_8) == "first", m.getClass.getSimpleName)
      finally in.close()
    }
  }

  test("a query checkpointed under Spark's default manager restarts under graft's from its last batch") {
    val root = fresh("restart")
    val (in, path) = (s"$root/in", s"$root/run")
    def replay() = StreamOps.runToParquet(spark,
      spark.readStream.schema("doc_id BIGINT, text STRING").json(in), path)
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text").write.json(in)
    Session.withConf(spark,
        SchemeCheckpointFileManager.ConfKey -> classOf[FileContextBasedCheckpointFileManager].getName) {
      assert(replay().count() == 2)
    }
    Seq((3L, "c")).toDF("doc_id", "text").write.mode("append").json(in)
    assert(spark.conf.get(SchemeCheckpointFileManager.ConfKey) ==
      classOf[SchemeCheckpointFileManager].getName)
    val out = replay()
    assert(out.select("doc_id").as[Long].collect().toSeq.sorted == Seq(1L, 2L, 3L),
      "the restart must read only the new file, once")
    val commits = new java.io.File(s"$path/cp/commits").list().filterNot(_.startsWith(".")).sorted
    assert(commits.toSeq == Seq("0", "1"))
  }
}
