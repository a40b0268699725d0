package graft

import graft.verify.VerifyRows
import org.apache.spark.sql.functions._

/** The free SQL front-end: `Tables.registerAll` + `spark.sql` must agree
  * with the typed DataFrame surface on the same scans.
  */
class SqlSurfaceSpec extends SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("registerAll exposes every table; SQL join+agg matches the DataFrame API") {
    Tables.registerAll(spark, sf)
    assert(Tables.AllNames.forall(spark.catalog.tableExists))
    val viaSql = spark.sql(
      """SELECT c.c_mktsegment AS seg, count(*) AS n, round(avg(o.o_totalprice), 4) AS avg_price
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_mktsegment""".stripMargin)
      .orderBy("seg").collect().map(_.toString).toSeq
    val viaApi = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment").as("seg"))
      .agg(count(lit(1)).as("n"), round(avg(col("o_totalprice")), 4).as("avg_price"))
      .orderBy("seg").collect().map(_.toString).toSeq
    assert(viaSql == viaApi)
  }

  test("registered graft_* SQL functions expose the native kernels to SQL users") {
    graft.plans.GraftExtensions.registerFunctions(spark)
    Tables.registerAll(spark, sf)
    val viaSql = spark.sql(
      """SELECT a.vec_id AS id_1, b.vec_id AS id_2,
        |       round(graft_cosine(a.embedding, b.embedding), 6) AS cosine,
        |       graft_byte_dot(
        |         graft_pack_int8(transform(a.embedding, x -> CAST(round(x * 10, 0) AS INT))),
        |         graft_pack_int8(transform(b.embedding, x -> CAST(round(x * 10, 0) AS INT)))) AS q
        |FROM embeddings a JOIN embeddings b ON a.vec_id = 0 AND b.vec_id = 1""".stripMargin)
      .collect()(0)
    val emb = Tables.embeddings(spark, sf)
    val viaApi = emb.filter(col("vec_id") === 0).crossJoin(
        emb.filter(col("vec_id") === 1).select(col("embedding").as("e2")))
      .select(round(graft.functions.Vectors.cosine(col("embedding"), col("e2")), 6))
      .collect()(0).getDouble(0)
    assert(viaSql.getDouble(2) == viaApi, "SQL function = native expression, same value")
    assert(!viaSql.isNullAt(3), "packed int8 pipeline composes inside SQL")
    // the registry rejects wrong arities with a clear message
    val e = intercept[Exception](spark.sql("SELECT graft_cosine(array(1.0f))").collect())
    assert(e.getMessage.contains("2 arguments"))
  }

  test("graft token counters resolve in SQL text and equal the Column API (VERDICT r11 #7)") {
    graft.plans.GraftExtensions.registerFunctions(spark)
    Tables.registerAll(spark, sf)
    val viaSql = spark.sql(
      "SELECT doc_id, graft_bpe_tokens(text) AS bpe, graft_ws_tokens(text) AS ws " +
        "FROM documents ORDER BY doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    val viaApi = Tables.documents(spark, sf)
      .select(col("doc_id"), graft.functions.Text.bpeTokens(col("text")).as("bpe"),
        graft.functions.Text.wsTokens(col("text")).as("ws"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSeq
    assert(viaSql == viaApi, "one expression definition behind both surfaces")
    val e = intercept[Exception](spark.sql("SELECT graft_bpe_tokens('a', 'b')").collect())
    assert(e.getMessage.contains("1 argument"))
  }

  test("SQL CTE + window functions run over the registered views") {
    Tables.registerAll(spark, sf)
    val top = spark.sql(
      """WITH ranked AS (
        |  SELECT o_custkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) AS rn
        |  FROM orders)
        |SELECT count(*) AS n FROM ranked WHERE rn = 1""".stripMargin)
      .head.getLong(0)
    val expect = Tables.orders(spark, sf).select("o_custkey").distinct().count()
    assert(top == expect)
  }

  test("d7f SQL lifecycle applies df-cap tombstones (non-vacuous at maxDf=50)") {
    // the sf0.01 oracle fixture never pushes a trigram past df=50, so the
    // SQL tombstone arm would be green vacuously — this fixture forces it:
    // a hot trigram indexed at df=40 on day 1 crosses the cap (40+20=60)
    // on day 2, so its 40 BASE inv entries must vanish at probe time
    import spark.implicits._
    graft.plans.GraftExtensions.registerFunctions(spark)
    val hot = "alpha beta gamma"
    val day1 = (0 until 40).map(i => (1L + 4 * i, s"$hot filler$i pad$i"))
    val day2 = (0 until 20).map(i => (3L + 4 * i, s"$hot junk$i more$i"))
    val tests = Seq(
      (0L, hot),                       // only link is the over-cap trigram
      (4L, s"$hot filler5 pad5"))      // rare link to day-1 doc 21 survives
    val docs = (day1 ++ day2 ++ tests).toDF("doc_id", "text")
      .select(col("doc_id"), col("text"), lit("en").as("lang"),
        lit("spec").as("source"), length(col("text")).as("n_chars"))
    val dir = "target/tmp/sqlsurface_d7f"
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def run() = VerifyRows("d7f_decon_lifecycle_sql").run(spark, dir)
      .select("test_id", "train_id", "containment")
      .as[(Long, Long, Double)].collect().toSet
    val got = run()
    val want = graft.operators.Dedup.decontaminationPairs(
      docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0),
      "doc_id", "text", n = 3, threshold = 0.5, maxDf = 50)
      .select("test_id", "train_id", "containment")
      .as[(Long, Long, Double)].collect().toSet
    assert(got == want, s"SQL lifecycle $got != from-scratch $want")
    assert(!got.exists(_._1 == 0L),
      s"tombstoned trigram resurrected a pair through stale inv rows: $got")
    assert(got.exists(t => t._1 == 4L && t._2 == 21L),
      s"surviving rare trigrams must still produce candidates: $got")
    // staged idempotency: the second call takes the _UPDATED path over the
    // compacted tables and must land on the same relation
    assert(run() == got, "replay over the staged index diverged")
  }

  test("d5k guarded SQL lifecycle refuses a dense fold day before any insert (r17 #1)") {
    // 6000 copies of ONE vector: every row lands in the same (band, bkey)
    // bucket, so the fold day prices 32 x 1500 x 3000 = 144M banded
    // candidates - over the 50M guard the plain d5k name carries. The
    // unguarded d5j form would run that join; the guarded form must
    // refuse from the pricing aggregates alone, leaving the index exactly
    // as day-1 built it (no marker, no fold rows).
    import spark.implicits._
    graft.plans.GraftExtensions.registerFunctions(spark)
    val v = (0 until 64).map(i => (i % 7).toFloat / 7.0f).toArray
    val dense = (0L until 6000L).map(i => (i, v, 0)).toDF("vec_id", "embedding", "label")
      .select(col("vec_id"), col("embedding").cast("array<float>").as("embedding"),
        col("label"))
    val dir = "target/tmp/sqlsurface_d5k_dense"
    dense.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = intercept[IllegalArgumentException](
      VerifyRows("d5k_embed_index_guarded_sql").run(spark, dir).collect())
    assert(e.getMessage.contains("banded candidate") &&
      e.getMessage.contains("guard"),
      s"refusal must name the priced bill and the guard: ${e.getMessage}")
    // the priced quantity is EXACT, not an estimate: every identical
    // vector lands in one bucket per band, so the bill is precisely
    // 32 bands x 1500 batch x 3000 indexed = 144,000,000
    assert(e.getMessage.contains("144000000"),
      s"the bill must be the exact bucket-product sum: ${e.getMessage}")
    // refused BEFORE mutating: day-1 build rows only (3000 base vectors x
    // 32 bands), and the lifecycle marker was never written - a rerun
    // replays from scratch instead of adopting a half-folded index
    assert(spark.sql("SELECT count(*) FROM graft_emb_bands_gsql").head().getLong(0)
      == 3000L * 32, "a refused day must not have inserted fold rows")
    assert(!new java.io.File(
      s"target/tmp/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}").exists() ||
      !new java.io.File(s"target/tmp/${dir.replaceAll("[^A-Za-z0-9._-]", "_")}")
        .listFiles().exists(f => f.getName.startsWith("d5k_emb_index_") &&
          new java.io.File(f, "_UPDATED").exists()),
      "a refused lifecycle must not stage the _UPDATED marker")
  }

  test("d5k guarded lifecycle is relation-identical to unguarded d5j where it admits") {
    import spark.implicits._
    graft.plans.GraftExtensions.registerFunctions(spark)
    def rel(name: String) = VerifyRows(name).run(spark, sf)
      .as[(Long, Int)].collect().toSeq
    val guarded = rel("d5k_embed_index_guarded_sql")
    val plain = rel("d5j_embed_index_update_sql")
    assert(guarded == plain,
      "the admission guard must be invisible to the relation where it admits")
    assert(guarded.nonEmpty, "canonical fixture must produce survivors")
  }
}
