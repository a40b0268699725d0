package graft
package verify

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One Verify row: a graft query over the testdata tables in data dir `d`
  * (`run(session, d)`), and the DuckDB SQL (`oracleSql`) that computes the
  * same relation over the same parquet files. [[graft.Verify]] writes each
  * row's result and `tools/compare.py` replays the oracle and diffs.
  *
  * Oracle-parity conventions (every row follows them):
  *   - deterministic trailing ORDER BY on both sides (Catalyst's
  *     EliminateSorts removes it under a caller's count());
  *   - float aggregates rounded identically on both sides (avg/std/median/
  *     corr → 4dp, cosine/jaccard → 6dp, double sums → 2dp); money sums
  *     computed in DECIMAL(38,2) (exact, associative, order-independent);
  *   - integer-ish outputs cast so Spark and DuckDB types agree
  *     (size()→long, row_number→long, year→int).
  */
final case class VerifyRow(name: String, run: (SparkSession, String) => DataFrame,
                           oracleSql: String)

/** Every Verify row, one per implemented operator from SURVEY.md §2 (plus
  * the LLM-pipeline extensions), in declared order.
  */
object VerifyRows {

  // one Seq per family, each a contiguous run of the declared order
  val all: Seq[VerifyRow] =
    RelationalRows.rows ++ DedupRows.rows ++ CorpusRows.rows ++ StreamIndexRows.rows

  private val byName: Map[String, VerifyRow] = all.map(r => r.name -> r).toMap

  /** The row called `name`; throws NoSuchElementException for an unknown one. */
  def apply(name: String): VerifyRow =
    byName.getOrElse(name, throw new NoSuchElementException(s"no Verify row named $name"))

  /** The rows named in `names`, in declared order; every row when `names`
    * is empty. Throws IllegalArgumentException naming every unknown name,
    * so a misspelt subset fails instead of quietly running fewer rows.
    */
  def select(names: Seq[String]): Seq[VerifyRow] = {
    val unknown = names.filterNot(byName.contains)
    require(unknown.isEmpty, s"unknown Verify rows: ${unknown.mkString(", ")}")
    if (names.isEmpty) all else all.filter(r => names.contains(r.name))
  }
}
