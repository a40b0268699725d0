package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** One shared local session for the whole test JVM (Test / fork := true →
  * a single forked JVM runs all suites; per-suite sessions would pay ~5 s
  * of SparkContext startup each).
  */
object TestSpark {
  lazy val spark: SparkSession = Session.get(cores = 4)
}

/** The guard specs scan source text; a comment mentioning a banned call is
  * not a call.
  */
object SourceScan {
  /** `src` with its comments blanked, keeping offsets and line numbers. */
  def blankComments(src: String): String =
    "(?s)/\\*.*?\\*/|//[^\n]*".r.replaceAllIn(src, m => m.matched.replaceAll("[^\n]", " "))
}

trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark

  /** Rows of a single-column result as a sorted list (order-insensitive). */
  def sortedSeq[T](xs: Seq[T])(implicit ord: Ordering[T]): Seq[T] = xs.sorted

  def approx(a: Double, b: Double, eps: Double = 1e-9): Boolean = math.abs(a - b) <= eps

  /** Run `body` on a session built the way a caller outside graft builds
    * one (a session derived from graft's would share graft's extensions),
    * then make the shared test session current again.
    */
  def outsideGraft[T](
      extensions: Option[org.apache.spark.sql.SparkSessionExtensions => Unit] = None)(
      body: SparkSession => T): T = {
    val shared = spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val b = SparkSession.builder()
      val s = extensions.fold(b)(b.withExtensions).getOrCreate()
      assert(s ne shared, "must be a fresh session for extensions to apply")
      body(s)
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
