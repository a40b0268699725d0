package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.verify.VerifyRows
import org.scalatest.funsuite.AnyFunSuite

/** The Verify rows as records: each row is declared once, by name, and a
  * subset run names only rows that exist. Builds no session and runs no
  * Spark job.
  */
class VerifyRowsSpec extends AnyFunSuite {

  test("the 204 Verify row names are unique") {
    val names = VerifyRows.all.map(_.name)
    val dups = names.diff(names.distinct).distinct
    assert(dups.isEmpty, s"row names declared twice: ${dups.sorted}")
    assert(names.size == 204, s"expected 204 rows, got ${names.size}")
    assert(VerifyRows.all.forall(_.oracleSql.trim.nonEmpty), "every row carries oracle SQL")
  }

  test("SPARK_GRAFT_ONLY: unknown row names throw, naming each; known ones keep declared order") {
    val e = intercept[IllegalArgumentException](
      VerifyRows.select(Seq("s1_csv_scan", "s1_csv_scna", "no_such_row")))
    assert(e.getMessage.contains("s1_csv_scna") && e.getMessage.contains("no_such_row"),
      e.getMessage)
    assert(!e.getMessage.contains("s1_csv_scan,"), e.getMessage)
    assert(VerifyRows.select(Seq("a14_count", "s1_csv_scan")).map(_.name) ==
      Seq("s1_csv_scan", "a14_count"))
    assert(VerifyRows.select(Nil) == VerifyRows.all)
  }
}

/** Guard against plan and cache switches creeping back onto the operators:
  * each near-dup and as-of operator has one public name, and its measured
  * gate picks the plan from the input (the reference plans stay
  * `private[graft]`); no operator takes a per-call cache-release switch,
  * because graft's caches live until `Caches.releaseAll` / `Caches.drain`;
  * Dedup's ingest indexes keep one lifecycle, `graft.sources.ShardedIndex`;
  * each near-dup family keeps one candidate → verify body; each
  * event-window operator is one def for batch and streaming frames, with
  * no `*Streaming` twin and no session-timeout switch; `Agg` has one
  * median, Spark's, with no switch to another; and the modules
  * deleted as outside the north star (media codecs, term statistics,
  * frequency sketches, extra file formats, chunking, JSON lifting, the
  * hot-head scale fixture) and the hand-written median and top-k
  * aggregates that Spark's `median` and window limit replace stay
  * deleted.
  */
class OperatorApiSpec extends AnyFunSuite {

  private val switches = Set("unbounded", "sliced", "dupFracGate", "expand", "admissionDenom",
    "release", "releaseSets", "guardPairs", "quickPriceMinDocs", "labelPartitions",
    "withTimeout", "timeoutMs", "approxMedian", "exactMedian")
  private val deletedNames = Set("minhashNearDupsAuto", "minhashNearDupsCollapsed",
    "fuzzyNearDupsAuto", "embedNearDupAuto", "embeddingIncrementalAuto",
    "asofJoinStreamingSliced", "exactIncrementalFromIndex", "ngramJaccardPairsSparseAuto",
    "fuzzyNearDupsBudget", "shingleDfStatsSampled", "minhashSignatureFromSets",
    "lshCandidatesCross", "lshBucketCounts", "bandKeysCarrying", "lshCandidates",
    "tumblingCountsStreaming", "hoppingCountsStreaming", "windowDistinctUsersStreaming",
    "windowApproxDistinctUsersStreaming", "windowEventCountsStreaming", "sessionizeStreaming")
  // second copies of a family's candidate/verify body, folded into one
  // private def each: they fail at any visibility
  private val mergedBodies = Set("bandKeysCarrying", "explodeBands", "verifyJaccard2",
    "bandRowsWithVec", "embeddingLshBandedFromSketched", "embeddingIncrementalBandedSketched")
  private val files = Seq("src/main/scala/graft/operators/Dedup.scala",
    "src/main/scala/graft/streaming/StreamOps.scala",
    "src/main/scala/graft/operators/Sampling.scala",
    "src/main/scala/graft/operators/Similarity.scala",
    "src/main/scala/graft/operators/Agg.scala")

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
      isPublic = !m.group(1).contains("private") && !m.group(1).contains("protected")
      name = m.group(2)
      line = src.substring(0, m.start).count(_ == '\n') + 1
      bad <- (if (mergedBodies(name)) Seq(s"def $name") else Nil) ++ (if (!isPublic) Nil
        else (if (deletedNames(name)) Seq(s"public def $name") else Nil) ++
          param.findAllMatchIn(paramLists(src, m.end)).map(_.group(1))
            .filter(switches).map(p => s"$name($p)"))
    } yield s"$f:$line: $bad"
    assert(offending.isEmpty, offending.mkString("plan switches or deleted aliases:\n", "\n", ""))
  }

  test("Dedup declares none of the per-family index lifecycle defs ShardedIndex replaced") {
    val lifecycle = Set("fingerprintIndex", "updateFingerprintIndex", "compactFingerprintIndex",
      "buildMinhashIndex", "writeMinhashIndex", "readMinhashIndex", "updateMinhashIndex",
      "compactMinhashIndex", "minhashIncrementalFromIndex", "minhashNearDupPairsFromIndex",
      "buildContainmentIndex", "writeContainmentIndex", "readContainmentIndex",
      "updateContainmentIndex", "compactContainmentIndex", "decontaminationFromIndex",
      "buildEmbeddingIndex", "writeEmbeddingIndex", "readEmbeddingIndex",
      "updateEmbeddingIndex", "compactEmbeddingIndex", "embeddingIncrementalFromIndex",
      "buildIvfIndex", "writeIvfIndex", "readIvfIndex", "ivfTopKFromIndex", "updateIvfIndex",
      "retrainIvfIndex", "readAggState", "updateAggState", "compactAggState",
      "withStateStoreProvider")
    val paths = Seq("operators/Dedup.scala", "operators/Similarity.scala", "operators/Agg.scala",
      "streaming/StreamOps.scala").map(f => Paths.get(s"src/main/scala/graft/$f"))
    paths.foreach(p =>
      assert(Files.isRegularFile(p), s"run from the repo root: ${p.toAbsolutePath}"))
    val offending = for {
      path <- paths
      src = SourceScan.blankComments(Files.readString(path))
      m <- defLine.findAllMatchIn(src).toSeq
      if lifecycle(m.group(2))
    } yield s"$path:${src.substring(0, m.start).count(_ == '\n') + 1}: def ${m.group(2)}"
    assert(offending.isEmpty, offending.mkString("index lifecycle defs are back:\n", "\n", ""))
  }

  test("no library or benchmark source mentions a deleted module or SQL function") {
    val deleted = Seq("Multimodal", "TermStats", "FreqItems", "FreqSketch", "ColumnarSource",
      "Chunking", "SemiStructured", "graft_freq_", "maintainHeavyHitterState",
      "generateDocumentsHot", "ExactMedian", "functions.TopK", "object TopK",
      "bruteForceTopKWindow", "ArgmaxRewrite", "latestPerGroupWindow")
    val roots = Seq(Paths.get("src/main/scala"), Paths.get("perfbench/src"))
    roots.foreach(r => assert(Files.isDirectory(r), s"run from the repo root: ${r.toAbsolutePath}"))
    val offending = for {
      root <- roots
      f <- Files.walk(root).iterator.asScala.filter(Files.isRegularFile(_)).toList
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      name <- deleted.filter(line.contains)
    } yield s"$f:${i + 1}: $name"
    assert(offending.isEmpty, offending.mkString("deleted names are back:\n", "\n", ""))
  }
}
