package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** [[Session.tune]] holds graft's one list of runtime confs, optimizer rules
  * and SQL functions: [[Session.get]] applies it to its own session, and a
  * session built outside graft must reach the same settings through it.
  */
class SessionSpec extends SparkTestBase {

  private val inferRule = "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate"
  private val rules = Seq(graft.plans.ArgmaxRewrite, graft.plans.CseFilterProject)

  test("tune gives a plain session every graft conf, optimizer rule and graft_* function") {
    val plain = spark.newSession()
    // start from values tune must overwrite, plus a caller exclusion it must keep
    val callerRule = "org.apache.spark.sql.catalyst.optimizer.ConstantPropagation"
    Seq(
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "false",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "128",
      "spark.sql.session.timeZone" -> "America/Los_Angeles",
      "spark.sql.optimizer.excludedRules" -> callerRule
    ).foreach { case (k, v) => plain.conf.set(k, v) }
    val registry = plain.sessionState.functionRegistry
    val names = graft.plans.GraftExtensions.functions.map(_._1)
    assert(names.nonEmpty)
    assert(!names.exists(registry.functionExists), "a new session starts without graft_* functions")
    assert(!rules.exists(plain.experimental.extraOptimizations.contains))

    Session.tune(plain)
    Session.tune(plain) // idempotent: no duplicate rules or exclusions
    Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" -> "2048",
      "spark.sql.session.timeZone" -> "UTC"
    ).foreach { case (k, v) => assert(plain.conf.get(k) == v, k) }
    assert(plain.conf.get("spark.sql.optimizer.excludedRules").split(",").map(_.trim).toSeq ==
      Seq(callerRule, inferRule), "the exclusion must merge with the caller's, once")
    rules.foreach(r => assert(plain.experimental.extraOptimizations.count(_ == r) == 1, r.ruleName))
    names.foreach(n => assert(registry.functionExists(n), n.funcName))
  }

  test("get returns a session already carrying tune's settings") {
    assert(spark.conf.get("spark.sql.optimizer.excludedRules").split(",").contains(inferRule))
    assert(spark.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold") == "2048")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    rules.foreach(r => assert(spark.experimental.extraOptimizations.contains(r), r.ruleName))
  }
}

/** Guard against configuration creep: the library and its mains read only
  * the environment variables that callers actually set. Adding one means
  * adding it here, deliberately.
  */
class EnvKnobSpec extends AnyFunSuite {

  private val allowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_ONLY", "SPARK_GRAFT_SCALEGEN_TABLES")
  private val read = """sys\.env|System\.getenv""".r
  private val named = """(?:sys\.env(?:\.get|\.getOrElse|\.contains|\.apply)?|System\.getenv)\(\s*"(\w+)"""".r

  test("src/main/scala reads only SPARK_GRAFT_CPUS, SPARK_GRAFT_ONLY and SPARK_GRAFT_SCALEGEN_TABLES") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty)
    val offending = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      code = line.trim
      if !code.startsWith("*") && !code.startsWith("//") && !code.startsWith("/*")
      m <- read.findAllMatchIn(line)
      bad <- named.findPrefixMatchOf(line.substring(m.start)) match {
        case Some(n) if allowed(n.group(1)) => None
        case Some(n) => Some(n.group(1))
        case None => Some("<name not a literal>")
      }
    } yield s"$f:${i + 1}: $bad"
    assert(offending.isEmpty, offending.mkString("unexpected env reads:\n", "\n", ""))
  }
}

/** Guard against memo creep: a process-wide map keyed by session outlives
  * the call that filled it. `src/main/scala` declares three — the
  * `Tables` small-scan memo, the `Caches` loan ledger and the verify
  * stage-dir locks (`stageLocks`) — and adding one means adding it here,
  * deliberately.
  */
class MemoSpec extends AnyFunSuite {

  // the stage locks are allowed by name wherever the verify helpers live
  private val allowed = Set("Tables.memo", "Caches.ledger")
  private val locks = "stageLocks"
  // `val name = TrieMap...`, the initializer possibly on the next line
  private val declared =
    """(?:val|var)\s+(\w+)\s*(?::[^=\n]*)?=\s*(?:new\s+)?(?:scala\.collection\.concurrent\.)?TrieMap\b""".r
  // a TrieMap built, named or not (a `TrieMap[K, V]` type is not)
  private val built =
    """\bnew\s+(?:scala\.collection\.concurrent\.)?TrieMap\b|\bTrieMap\s*(?:\[[^\]\n]*\]\s*)?(?:\.empty|\.from|\.apply|\()""".r

  test("src/main/scala declares TrieMaps only for the Tables memo, the Caches ledger and the stage locks") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val files = Files.walk(root).iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    assert(files.nonEmpty)
    val offending = for {
      f <- files
      owner = f.getFileName.toString.stripSuffix(".scala")
      // blank out comments, keeping offsets and line numbers
      src = "(?s)/\\*.*?\\*/|//[^\n]*".r.replaceAllIn(Files.readString(f),
        m => m.matched.replaceAll("[^\n]", " "))
      names = declared.findAllMatchIn(src).map(m => (m.end - "TrieMap".length) -> m.group(1)).toMap
      m <- built.findAllMatchIn(src).toSeq
      name = names.get(src.indexOf("TrieMap", m.start))
      if !name.exists(n => allowed(s"$owner.$n") || n == locks)
    } yield s"$f:${src.substring(0, m.start).count(_ == '\n') + 1}: " +
      name.fold("unnamed TrieMap")(n => s"$owner.$n")
    assert(offending.isEmpty, offending.mkString("unexpected TrieMap declarations:\n", "\n", ""))
  }
}
