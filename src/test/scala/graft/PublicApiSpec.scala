package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Every Verify row is checked: each `SparkEntry.queries` entry has oracle
  * SQL, and every oracle entry has a query to check. Builds no session and
  * runs no Spark job.
  */
class OracleCoverageSpec extends AnyFunSuite {

  test("SparkEntry.queries and SparkEntry.oracleSql name the same rows") {
    val queries = SparkEntry.queries.keySet
    val oracle = SparkEntry.oracleSql.keySet
    assert((queries -- oracle).isEmpty, s"queries without oracle SQL: ${(queries -- oracle).toSeq.sorted}")
    assert((oracle -- queries).isEmpty, s"oracle SQL without a query: ${(oracle -- queries).toSeq.sorted}")
  }
}

/** Guard against plan and cache switches creeping back onto the operators:
  * each near-dup and as-of operator has one public name, and its measured
  * gate picks the plan from the input (the reference plans stay
  * `private[graft]`); no operator takes a per-call cache-release switch,
  * because graft's caches live until `Caches.releaseAll` / `Caches.drain`.
  */
class OperatorApiSpec extends AnyFunSuite {

  private val switches = Set("unbounded", "sliced", "dupFracGate", "expand", "admissionDenom",
    "release", "releaseSets")
  private val deletedNames = Set("minhashNearDupsAuto", "minhashNearDupsCollapsed",
    "fuzzyNearDupsAuto", "embedNearDupAuto", "embeddingIncrementalAuto",
    "asofJoinStreamingSliced")
  private val files = Seq("src/main/scala/graft/operators/Dedup.scala",
    "src/main/scala/graft/streaming/StreamOps.scala",
    "src/main/scala/graft/operators/Sampling.scala",
    "src/main/scala/graft/operators/TermStats.scala")

  // a def line with its modifiers; the parameter lists follow the name
  private val defLine =
    """(?m)^[ \t]*((?:(?:(?:private|protected)(?:\[\w+\])?|override|final|implicit)\s+)*)def\s+(\w+)""".r
  private val param = """[(,]\s*(?:implicit\s+)?(\w+)\s*:""".r

  /** The text of every parameter list following `from`: balanced
    * parentheses, as long as another list follows. */
  private def paramLists(src: String, from: Int): String = {
    val out = new StringBuilder
    var i = from
    def skipBlank(): Unit = while (i < src.length && src(i).isWhitespace) i += 1
    // a type parameter list comes before the value lists
    skipBlank()
    if (i < src.length && src(i) == '[') {
      var depth = 0
      do {
        if (src(i) == '[') depth += 1 else if (src(i) == ']') depth -= 1
        i += 1
      } while (depth > 0 && i < src.length)
      skipBlank()
    }
    while (i < src.length && src(i) == '(') {
      val start = i
      var depth = 0
      do {
        if (src(i) == '(') depth += 1 else if (src(i) == ')') depth -= 1
        i += 1
      } while (depth > 0 && i < src.length)
      out ++= src.substring(start, i)
      skipBlank()
    }
    out.toString
  }

  test("Dedup and StreamOps: no public plan switch, no deleted alias") {
    val offending = for {
      f <- files
      path = Paths.get(f)
      _ = assert(Files.isRegularFile(path), s"run from the repo root: ${path.toAbsolutePath}")
      src = Files.readString(path)
      m <- defLine.findAllMatchIn(src).toSeq
      if !m.group(1).contains("private") && !m.group(1).contains("protected")
      name = m.group(2)
      line = src.substring(0, m.start).count(_ == '\n') + 1
      bad <- (if (deletedNames(name)) Seq(s"public def $name") else Nil) ++
        param.findAllMatchIn(paramLists(src, m.end)).map(_.group(1))
          .filter(switches).map(p => s"$name($p)")
    } yield s"$f:$line: $bad"
    assert(offending.isEmpty, offending.mkString("plan switches or deleted aliases:\n", "\n", ""))
  }
}
