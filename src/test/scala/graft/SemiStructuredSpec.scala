package graft

import graft.operators.SemiStructured
import graft.verify.VerifyRows
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** JSON-string field extraction (x12). */
class SemiStructuredSpec extends SparkTestBase {
  import spark.implicits._

  private val kvSchema = StructType(Seq(
    StructField("k", LongType), StructField("tag", StringType)))

  test("extractJson lifts declared fields with declared types") {
    val df = Seq(
      (1L, """{"k": 7, "tag": "a"}"""),
      (2L, """{"k": -3, "tag": "b", "extra": true}""")).toDF("id", "props")
    val out = SemiStructured.extractJson(df, "props", kvSchema)
    assert(out.columns.toSeq == Seq("id", "k", "tag"), "raw column dropped by default")
    assert(out.schema("k").dataType == LongType)
    val rows = out.orderBy("id").as[(Long, Long, String)].collect().toSeq
    assert(rows == Seq((1L, 7L, "a"), (2L, -3L, "b")),
      "undeclared fields ignored, declared ones typed")
  }

  test("malformed JSON yields null fields, never a failed job (quarantine contract)") {
    val df = Seq(
      (1L, """{"k": 7, "tag": "a"}"""),
      (2L, """{not json at all"""),
      (3L, null.asInstanceOf[String])).toDF("id", "props")
    val out = SemiStructured.extractJson(df, "props", kvSchema, keepRaw = true)
    val quarantine = out.where($"props".isNotNull && $"k".isNull && $"tag".isNull)
      .select("id").as[Long].collect().toSeq
    assert(quarantine == Seq(2L), "exactly the malformed row is quarantinable")
    assert(out.count() == 3, "no row lost to a parse failure")
  }

  test("name collisions and missing source column are refused up front") {
    val df = Seq((1L, "{}", "x")).toDF("id", "props", "k")
    intercept[IllegalArgumentException] {
      SemiStructured.extractJson(df, "props", kvSchema)
    }
    intercept[IllegalArgumentException] {
      SemiStructured.extractJson(df.drop("k"), "nope", kvSchema)
    }
  }

  test("extraction is narrow: zero exchanges before the consumer") {
    val df = Seq((1L, """{"k": 1, "tag": "a"}""")).toDF("id", "props")
    val plan = SemiStructured.extractJson(df, "props", kvSchema)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"extractJson must not shuffle:\n$plan")
  }

  test("nested struct + array round-trips through to_json -> extractJson losslessly") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.ArrayType
    val df = Seq(
      (1L, "en", Seq("a", "b", "c")),
      (2L, "de", Seq.empty[String]),
      (3L, "fr", Seq("x\"y", "z\\w"))) // JSON-escaping stress
      .toDF("id", "lang", "words")
    val packed = df.select(col("id"),
      to_json(struct(col("lang"), col("words"))).as("blob"))
    val schema = StructType(Seq(
      StructField("lang", StringType),
      StructField("words", ArrayType(StringType))))
    val back = SemiStructured.extractJson(packed, "blob", schema)
      .orderBy("id").as[(Long, String, Seq[String])].collect().toSeq
    assert(back == Seq((1L, "en", Seq("a", "b", "c")), (2L, "de", Seq.empty[String]),
      (3L, "fr", Seq("x\"y", "z\\w"))), "escape-heavy arrays must survive the round trip")
  }

  test("x12 query row matches a hand-computed aggregate at sf0.001") {
    val out = VerifyRows("x12_json_extract").run(spark, "/root/testdata/sf0.001")
      .collect()
    assert(out.nonEmpty)
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_type", "props").as[(String, String)].collect()
    val expected = events.groupBy(_._1).map { case (t, rows) =>
      val ks = rows.flatMap(r => """"k":\s*(-?\d+)""".r.findFirstMatchIn(r._2)
        .map(_.group(1).toLong))
      (t, rows.length.toLong, ks.length.toLong, ks.sum, ks.min, ks.max)
    }.toSeq.sortBy(_._1)
    val got = out.map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getLong(5))).toSeq
    assert(got == expected, "from_json aggregate must equal the direct fold")
  }

  test("a field name containing a dot resolves as the exact field (ADVICE r11)") {
    val df = Seq((1L, """{"a.b": 7, "a": {"b": 99}}""")).toDF("id", "props")
    val out = SemiStructured.extractJson(df, "props",
      StructType(Seq(StructField("a.b", LongType))))
    // getField semantics: the literal top-level "a.b" key, NOT the nested
    // a→b path a parsed column string would have resolved to
    assert(out.select(out("`a.b`")).as[Long].head() == 7L)
  }
}
