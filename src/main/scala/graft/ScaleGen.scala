package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator for the 10× probe (VERDICT r10 task #1):
  * expands the sf0.1 testdata to `copies`× the FACT/corpus tables while
  * keeping dimensions fixed — the shape a real 10× data growth has.
  *
  * Copy transforms are chosen so the scaled corpus STRESSES cost without
  * distorting the operators' output regimes:
  *   - documents: copy c suffixes every word with `xc` — word shingles
  *     become disjoint ACROSS copies, so near-dup/fuzzy/component
  *     structure replicates per copy (output grows ~copies×, linearly)
  *     while the all-pairs COMPUTE grows copies²× — the honest quadratic
  *     probe. Exact-dedup fingerprints stay distinct across copies.
  *   - embeddings: copy c rotates the coordinate order by 7c (a
  *     permutation) — within-copy cosines are EXACTLY the originals
  *     (near-dup pairs replicate per copy), cross-copy cosines decorrelate
  *     to the corpus background.
  *   - lineitem/orders: orderkeys offset by a clean stride per copy, the
  *     customer/supplier key spaces untouched — each customer simply has
  *     copies× the orders, as growth actually arrives.
  *   - region/nation/customer/supplier/part: byte-identical 1× copies.
  *
  * Writes `copies`-scaled parquet to `dst` with multi-file layout (32-way)
  * so scans parallelize like real multi-row-group tables.
  *
  * A fourth argument `hotHead > 0` switches to the FREQUENCY-FAMILY
  * fixture mode (r14 #4): documents ONLY, with the top-`hotHead`
  * (lowercased) source tokens EXEMPT from the per-copy suffix — their
  * absolute counts then grow `copies`× while N grows `copies`×, so the
  * 1× heavy-hitter SHARE structure survives the scale-up and the
  * e10/t27 ε·N gates assert on a non-empty head instead of the
  * vacuous empty set the plain transform produces (every suffixed token
  * keeps its 1× count under a 1000× N). The exempt head re-links a few
  * all-hot-word shingles across copies, so this fixture is for the
  * frequency probes, NOT the dedup quadratics — write it to its own dir.
  *
  * Usage: runMain graft.ScaleGen [srcDir] [dstDir] [copies] [hotHead]
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/scaledata/sf1")
    val copies = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    val hotHead = args.lift(3).flatMap(_.toIntOption).getOrElse(0)
    val spark = Session.get(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    if (hotHead > 0) generateDocumentsHot(spark, src, dst, copies, hotHead)
    else generate(spark, src, dst, copies)
    spark.stop()
  }

  /** The hot-head documents fixture (see object scaladoc). One plan — the
    * source cross-joined with `range(copies)` — instead of a `copies`-way
    * union, so a DIRECT 1000× generation is a single broadcast-NL join
    * over 5M output rows rather than a 1000-branch plan. Suffixing uses
    * the array-rebuild form (split → transform → concat_ws) because the
    * exemption is per-word; copies > 0 therefore collapse runs of
    * whitespace — irrelevant to every \\s+-tokenizing consumer.
    */
  def generateDocumentsHot(spark: SparkSession, src: String, dst: String,
                           copies: Int, hotHead: Int): Unit = {
    require(copies >= 1 && hotHead >= 1)
    val docs = spark.read.parquet(s"$src/documents.parquet")
    // the head is picked on the SAME normalization the frequency family
    // counts (lower/trim/split) with a deterministic tie-break
    val hot = docs.select(explode(split(lower(trim(col("text"))), "\\s+")).as("t"))
      .groupBy("t").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("t")).limit(hotHead)
      .collect().map(_.getString(0))
    // fail with a message, not an NPE (empty source → null max(doc_id)) or
    // an analysis error (empty head → untyped array() literal)
    require(hot.nonEmpty,
      s"generateDocumentsHot: source $src/documents.parquet is empty or has no tokens")
    println(s"[scalegen] hot head ($hotHead): ${hot.take(16).mkString(", ")}…")
    val hotArr = array(hot.map(lit(_)): _*)
    val docStride = math.max(1L, docs.agg(max("doc_id")).head().getLong(0) + 1)
    val t = when(col("_c") === 0, col("text")).otherwise(concat_ws(" ",
      transform(split(col("text"), "\\s+"),
        w => when(array_contains(hotArr, lower(w)), w)
          .otherwise(concat(w, lit("x"), col("_c").cast("string"))))))
    val out = docs.crossJoin(spark.range(copies).select(col("id").as("_c")))
      .select((col("doc_id") + col("_c") * lit(docStride)).as("doc_id"),
        t.as("text"), col("lang"), col("source"), length(t).as("n_chars"))
    out.repartition(64).write.mode("overwrite").parquet(s"$dst/documents.parquet")
    println(s"[scalegen] wrote hot-head documents ($copies copies)")
  }

  def generate(spark: SparkSession, src: String, dst: String, copies: Int): Unit = {
    require(copies >= 1, "ScaleGen: copies must be >= 1")
    // SPARK_GRAFT_SCALEGEN_TABLES=documents[,events,…] restricts generation
    // to the named tables — the growth-axis probes past 1000× only need one
    // corpus table, and the full fixture would not fit the box
    val only = sys.env.get("SPARK_GRAFT_SCALEGEN_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
      .filter(_.nonEmpty)
    // a typo'd table name must fail fast, not silently generate nothing
    only.foreach { names =>
      val unknown = names -- Tables.AllNames.toSet
      require(unknown.isEmpty,
        s"SPARK_GRAFT_SCALEGEN_TABLES: unknown table(s) ${unknown.mkString(", ")}; " +
          s"known: ${Tables.AllNames.mkString(", ")}")
    }
    def want(t: String): Boolean = only.forall(_.contains(t))
    def read(t: String) = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit = {
      df.repartition(32).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scalegen] wrote $t")
    }

    // ------- documents: word-suffix per copy -------
    if (want("documents")) {
    val docs = read("documents")
    val docStride = math.max(1L, read("documents").agg(max("doc_id")).head().getLong(0) + 1)
    val docCopies = (0 until copies).map { c =>
      val t = if (c == 0) col("text")
              else regexp_replace(col("text"), "(\\S+)", "$1x" + c)
      docs.select((col("doc_id") + lit(c * docStride)).as("doc_id"),
        t.as("text"), col("lang"), col("source"), length(t).as("n_chars"))
    }
    write(docCopies.reduce(_ unionByName _), "documents")
    }

    // ------- embeddings: coordinate rotation per copy -------
    if (want("embeddings")) {
    val emb = read("embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val vecStride = math.max(1L, emb.agg(max("vec_id")).head().getLong(0) + 1)
    val embCopies = (0 until copies).map { c =>
      val rot = (c * 7) % dim
      val v = if (rot == 0) col("embedding")
              else array((0 until dim).map(i =>
                element_at(col("embedding"), ((i + rot) % dim) + 1)): _*)
      emb.select((col("vec_id") + lit(c * vecStride)).as("vec_id"),
        v.as("embedding"), col("label"))
    }
    write(embCopies.reduce(_ unionByName _), "embeddings")
    }

    // ------- lineitem/orders: orderkey stride per copy -------
    if (want("lineitem") || want("orders")) {
    val li = read("lineitem")
    val ord = read("orders")
    val okStride = math.max(1L, ord.agg(max("o_orderkey")).head().getLong(0) + 1)
    if (want("lineitem")) write((0 until copies).map { c =>
      li.withColumn("l_orderkey", col("l_orderkey") + lit(c * okStride))
    }.reduce(_ unionByName _), "lineitem")
    if (want("orders")) write((0 until copies).map { c =>
      ord.withColumn("o_orderkey", col("o_orderkey") + lit(c * okStride))
    }.reduce(_ unionByName _), "orders")
    }

    // ------- events: ts offset per copy (disjoint windows, same density) -------
    if (want("events")) {
    val evRaw = spark.read.parquet(s"$src/events.parquet")
    val tsType = evRaw.schema("ts").dataType
    val evStride = 1000000L // event_id stride; ts shifted by c days
    write((0 until copies).map { c =>
      evRaw.withColumn("event_id", col("event_id") + lit(c * evStride))
        .withColumn("ts", tsType match {
          case org.apache.spark.sql.types.LongType => // bigint nanos
            col("ts") + lit(c * 86400L * 1000000000L)
          case _ => col("ts") + expr(s"INTERVAL ${c * 86400L} SECOND")
        })
    }.reduce(_ unionByName _), "events")
    }

    // ------- dimensions: 1× passthrough -------
    Seq("region", "nation", "customer", "supplier", "part")
      .filter(want).foreach(t => write(read(t), t))
  }
}
