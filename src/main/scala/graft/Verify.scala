package graft
import java.nio.file.{Files, Paths}
import graft.verify.VerifyRows
/** Correctness dump: each Verify row's result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (`tools/compare.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // SPARK_GRAFT_ONLY=q1,q2 dumps a subset — targeted re-checks at big SF
    // where a full DuckDB replay takes tens of minutes. The filtered
    // oracle_sql.json overwrites the one in outDir, so subset runs MUST
    // use their own outDir (warned below); a blank env var means "all".
    // An unknown name throws here, before any session starts.
    val only = sys.env.get("SPARK_GRAFT_ONLY").toSeq
      .flatMap(_.split(",").map(_.trim).filter(_.nonEmpty))
    val rows = VerifyRows.select(only)
    if (only.nonEmpty) System.err.println(
      s"[verify] SUBSET run (${rows.size} queries) — $outDir/oracle_sql.json covers only these; " +
        "do not reuse a full-run outDir")
    val spark = Session.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt)
    new java.io.File(outDir).mkdirs()
    // A throwing query must FAIL VISIBLY, not vanish: r9 silently dropped 19
    // formerly-green rows with no record anywhere, so the round's JSON
    // could not distinguish "not declared" from "broken". errors.json gives
    // the driver (and any reader of the artifact) the per-query exception.
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
    rows.foreach { row =>
      try row.run(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${row.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${row.name} failed: ${e.getMessage}")
        errors(row.name) = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = rows.map(r => s"${q(r.name)}: ${q(r.oracleSql)}").mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val errJson = errors.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (errors.nonEmpty)
      System.err.println(s"[verify] ${errors.size} queries FAILED — see $outDir/errors.json")
    // End-of-run cache hygiene: release every graft loan; 0 remaining
    // persisted RDDs = the full dump left no cache residue.
    val leftover = Caches.drain(spark)
    System.err.println(s"[verify] cache drain: $leftover persisted RDDs remain")
    spark.stop()
  }
}
