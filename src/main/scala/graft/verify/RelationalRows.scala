package graft
package verify

import graft.operators._
import graft.sources.{CsvSource, JsonlSource, ParquetSink}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import SparkEntry.{D382, dec}
import OracleSql._
import RowHelpers._

/** Verify rows for the sources, the relational operators (SURVEY §2) and
  * the chains. */
private[verify] object RelationalRows {

  val rows: Seq[VerifyRow] = Seq(
    // S1-S4: CSV scan with header/inference/coercion semantics
    VerifyRow("s1_csv_scan",
      (s, d) => {
        val nation = Tables.nation(s, d)
        val csvDir = s"${scratchDir(d)}/csv_nation"
        nation.coalesce(1).write.mode("overwrite").option("header", "true").csv(csvDir)
        CsvSource.read(s, csvDir).orderBy("n_nationkey")
      },
      "SELECT n_nationkey, n_name, n_regionkey FROM nation ORDER BY n_nationkey"),

    // S6b: gzip JSONL round-trip — the common corpus-RELEASE format
    // (.jsonl.gz). gzip is NOT splittable: each shard decompresses on one
    // core, so shard count = parallelism floor — fine for releases sized
    // shards≈workers, wrong for a monolithic 100 TB file (JsonlSource
    // scaladoc; zstd/parquet are the processing-tier formats)
    VerifyRow("s6b_jsonl_gz",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val gzDir = s"${scratchDir(d)}/jsonl_gz_documents"
        JsonlSource.writeSharded(docs, gzDir, "doc_id", 4, compression = "gzip")
        JsonlSource.readWithSchema(s, gzDir, docs.schema)
          .select("doc_id", "text", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"),

    // S6c: PERMISSIVE-mode quarantine — a raw dump always carries broken
    // lines; each becomes ONE quarantinable row (raw line preserved),
    // never a failed 100 TB job. Five garbage lines injected into the
    // staged dir; the gate checks both populations' counts
    //
    // exactly the 5 injected garbage lines quarantine; every real doc
    // parses — the counts are derivable without running the parser
    VerifyRow("s6c_jsonl_quarantine",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val qDir = s"${scratchDir(d)}/jsonl_quarantine_documents"
        JsonlSource.writeSharded(docs, qDir, "doc_id", 4)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$qDir/part-garbage.json"),
          ("{broken json\nnot json at all\n{\"doc_id\": }\n[1,2\n\"dangling"
            + "\n").getBytes("UTF-8"))
        val schema = org.apache.spark.sql.types.StructType(
          docs.schema.fields :+ org.apache.spark.sql.types.StructField(
            JsonlSource.CorruptCol, org.apache.spark.sql.types.StringType))
        // counts per population as one 2-row relation. The projection only
        // needs the corrupt column, and Spark refuses a raw-file scan
        // pruned down to JUST that column (SPARK-38523) — so cache the
        // parsed frame first, exactly as the JsonlSource scaladoc
        // prescribes: the cache materializes the full schema and the
        // kind-count reads from it, not from the raw files
        val parsed = graft.Caches.persistLoaned(
          JsonlSource.readWithSchema(s, qDir, schema))
        parsed.count()
        parsed
          .select(when(col(JsonlSource.CorruptCol).isNull, "well")
            .otherwise("corrupt").as("kind"))
          .groupBy("kind").agg(count(lit(1)).as("n"))
          .orderBy("kind")
      },
      "SELECT * FROM (SELECT 'corrupt' AS kind, 5::BIGINT AS n " +
        "UNION ALL SELECT 'well', count(*) FROM documents) ORDER BY kind"),

    // S13: parquet schema EVOLUTION — a later producer adds a column.
    // Base shards carry (doc_id, text); delta shards add `quality`; a
    // mergeSchema read unifies (old rows null) — the drift tolerance a
    // long-lived 100 TB table needs (mergeSchema costs a footer pass per
    // file, so production pins the unified schema once known)
    //
    // old rows surface with a null for the later-added column; new rows
    // carry the derived value — recomputed directly from the base table
    VerifyRow("s13_schema_evolution",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dir = s"${scratchDir(d)}/schema_evo_documents"
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val stamped = s"$dir/_DONE_${stageKey(srcFile, "mod2q")}"
        if (!new java.io.File(stamped).exists()) {
          ParquetSink.writeSharded(
            docs.where(col("doc_id") % 2 === 0).select("doc_id", "text"),
            dir, "doc_id", shards = 2)
          ParquetSink.appendSharded(
            docs.where(col("doc_id") % 2 === 1).select(col("doc_id"), col("text"),
              (round(col("n_chars") / 100.0, 4) + lit(0.0)).as("quality")),
            dir, "doc_id", shards = 2)
          new java.io.File(stamped).createNewFile()
        }
        s.read.option("mergeSchema", "true").parquet(dir)
          .select("doc_id", "text", "quality")
          .orderBy("doc_id")
      },
      "SELECT doc_id, text, CASE WHEN doc_id % 2 = 1 " +
        "THEN round(n_chars / 100.0, 4) + 0.0 END AS quality " +
        "FROM documents ORDER BY doc_id"),

    // S6: JSONL round-trip — documents → hash-sharded .jsonl → explicit-
    // schema read-back; must hash-match the parquet original (JSON
    // escaping preserves newlines/quotes/unicode exactly)
    //
    // round-trip fidelity: the JSONL write/read must reproduce the parquet
    // original bit-for-bit, so the oracle is the original table itself
    VerifyRow("s6_jsonl_roundtrip",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val jsonlDir = s"${scratchDir(d)}/jsonl_documents"
        JsonlSource.writeSharded(docs, jsonlDir, "doc_id", 4)
        JsonlSource.readWithSchema(s, jsonlDir, docs.schema)
          .select("doc_id", "text", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      "SELECT doc_id, text, lang, source, n_chars FROM documents ORDER BY doc_id"),

    // S7: hive-partitioned parquet round-trip — documents written
    // `lang=<v>/` partitioned, read back through a partition filter; the
    // plan-time directory pruning is PlanSpec-pinned, content parity is
    // this row (partition columns ride the directory name, so values and
    // types must survive the detour)
    //
    // the partitioned detour must reproduce the en slice exactly
    VerifyRow("s7_partitioned_roundtrip",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val outDir = s"${scratchDir(d)}/part_documents"
        ParquetSink.writePartitioned(docs, outDir, "lang")
        s.read.parquet(outDir)
          .filter(col("lang") === "en")
          .select("doc_id", "text", "lang", "source", "n_chars")
          .orderBy("doc_id")
      },
      "SELECT doc_id, text, lang, source, n_chars FROM documents " +
        "WHERE lang = 'en' ORDER BY doc_id"),

    // S8: deterministic shuffle-shard export — the corpus written in
    // md5(seed:id) pseudo-random order across hive shard directories
    // (epoch reshuffle = new seed, zero data rewrite); the readback
    // aggregates per-shard membership + key extremes, which the oracle
    // recomputes from first principles
    //
    // the export's shard membership and in-shard key range recomputed from
    // first principles: key = md5-60bit('epoch0:' || id), shard = key % 8
    VerifyRow("s8_shuffle_export",
      (s, d) => {
        val outDir = s"${scratchDir(d)}/shuffled_documents"
        ParquetSink.writeShuffled(
          Tables.documents(s, d).select("doc_id", "source", "n_chars"),
          outDir, "doc_id", seed = "epoch0", shards = 8)
        s.read.parquet(outDir)
          .groupBy(col("shard").cast("long").as("shard"))
          .agg(count(lit(1)).as("n_docs"), sum("doc_id").as("sum_doc_id"),
            min("_shuffle_key").as("min_key"), max("_shuffle_key").as("max_key"))
          .orderBy("shard")
      },
      "WITH k AS (SELECT doc_id, " +
        "('0x' || substr(md5('epoch0:' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS key " +
        "FROM documents) " +
        "SELECT key % 8 AS shard, count(*)::BIGINT AS n_docs, " +
        "sum(doc_id)::BIGINT AS sum_doc_id, min(key) AS min_key, max(key) AS max_key " +
        "FROM k GROUP BY shard ORDER BY shard"),

    // S9: Z-order clustered export — rows co-located in BOTH quantity and
    // price, so the box predicate below prunes most files by footer
    // stats; the read-back gates filter correctness over the new layout
    //
    // the layout is invisible to semantics: the box filter over the
    // z-ordered export must return exactly the source table's rows
    VerifyRow("s9_zorder_export",
      (s, d) => {
        val outDir = s"${scratchDir(d)}/zorder_lineitem"
        ParquetSink.zorderExport(
          Tables.lineitem(s, d)
            .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"),
          outDir, "l_quantity", "l_extendedprice", shards = 8)
        s.read.parquet(outDir)
          .where(col("l_quantity").between(10, 15) && col("l_extendedprice") <= 20000)
          .orderBy("l_orderkey", "l_linenumber")
      },
      "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem " +
        "WHERE l_quantity BETWEEN 10 AND 15 AND l_extendedprice <= 20000 " +
        "ORDER BY l_orderkey, l_linenumber"),

    // F1: WHERE via predicate expression (pushed into the scan)
    VerifyRow("f1_filter",
      (s, d) =>
        Ops.filter(Tables.lineitem(s, d),
          col("l_quantity") > 30 && col("l_returnflag") === "R")
          .orderBy("l_orderkey", "l_linenumber"),
      "SELECT * FROM lineitem WHERE l_quantity > 30 AND l_returnflag = 'R' ORDER BY l_orderkey, l_linenumber"),

    // P1: projection with silent drop of missing names
    VerifyRow("p1_select",
      (s, d) =>
        Ops.select(Tables.lineitem(s, d),
          Seq("l_orderkey", "l_partkey", "l_quantity", "no_such_column"))
          .orderBy("l_orderkey", "l_partkey", "l_quantity"),
      "SELECT l_orderkey, l_partkey, l_quantity FROM lineitem ORDER BY l_orderkey, l_partkey, l_quantity"),

    // O1: single-key sort, asc → nulls last
    VerifyRow("o1_sort",
      (s, d) =>
        Ops.sortValues(Tables.orders(s, d)
          .select("o_orderkey", "o_custkey", "o_totalprice"), "o_orderkey"),
      "SELECT o_orderkey, o_custkey, o_totalprice FROM orders ORDER BY o_orderkey ASC NULLS LAST"),

    // G1+G2: hash groupBy + the 7 reference agg fns, {fn}_{col} naming.
    VerifyRow("g2_group_agg",
      (s, d) => {
        val g = Agg.groupAgg(Tables.lineitem(s, d), Seq("l_returnflag", "l_linestatus"),
          Seq("l_quantity" -> Agg.SupportedFns))
        g.select(col("l_returnflag"), col("l_linestatus"),
          col("count_l_quantity"), col("sum_l_quantity"),
          round(col("avg_l_quantity"), 4).as("avg_l_quantity"),
          col("min_l_quantity"), col("max_l_quantity"),
          round(col("median_l_quantity"), 4).as("median_l_quantity"),
          round(col("std_l_quantity"), 4).as("std_l_quantity"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      "SELECT l_returnflag, l_linestatus, count(*) AS count_l_quantity, " +
        "sum(l_quantity) AS sum_l_quantity, round(avg(l_quantity), 4) AS avg_l_quantity, " +
        "min(l_quantity) AS min_l_quantity, max(l_quantity) AS max_l_quantity, " +
        "round(median(l_quantity), 4) AS median_l_quantity, " +
        "round(stddev_samp(l_quantity), 4) AS std_l_quantity " +
        "FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),

    // G3/A11: global whole-table aggregate (no dummy group key)
    VerifyRow("g3_global_agg",
      (s, d) => {
        val g = Agg.globalAgg(Tables.customer(s, d),
          Seq("c_acctbal" -> Agg.SupportedFns))
        g.select(col("count_c_acctbal"),
          round(col("sum_c_acctbal"), 2).as("sum_c_acctbal"),
          round(col("avg_c_acctbal"), 4).as("avg_c_acctbal"),
          col("min_c_acctbal"), col("max_c_acctbal"),
          round(col("median_c_acctbal"), 4).as("median_c_acctbal"),
          round(col("std_c_acctbal"), 4).as("std_c_acctbal"))
      },
      "SELECT count(*) AS count_c_acctbal, round(sum(c_acctbal), 2) AS sum_c_acctbal, " +
        "round(avg(c_acctbal), 4) AS avg_c_acctbal, min(c_acctbal) AS min_c_acctbal, " +
        "max(c_acctbal) AS max_c_acctbal, round(median(c_acctbal), 4) AS median_c_acctbal, " +
        "round(stddev_samp(c_acctbal), 4) AS std_c_acctbal FROM customer"),

    // J1 inner: hash join, right columns r_-prefixed, broadcast dim
    VerifyRow("j1_join_inner",
      (s, d) =>
        Joins.broadcastJoin(Tables.orders(s, d), Tables.customer(s, d),
          ("o_custkey", "c_custkey"))
          .orderBy("o_orderkey"),
      "SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate, " +
        "o.o_orderpriority, c.c_custkey AS r_c_custkey, c.c_name AS r_c_name, " +
        "c.c_nationkey AS r_c_nationkey, c.c_acctbal AS r_c_acctbal, " +
        "c.c_mktsegment AS r_c_mktsegment " +
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY o.o_orderkey"),

    // J1 left: unmatched left rows null-padded
    VerifyRow("j1_join_left",
      (s, d) =>
        Joins.hashJoin(Tables.customer(s, d), Tables.orders(s, d),
          ("c_custkey", "o_custkey"), "left")
          .orderBy(col("c_custkey"), col("r_o_orderkey").asc_nulls_first),
      "SELECT c.c_custkey, c.c_name, c.c_nationkey, c.c_acctbal, c.c_mktsegment, " +
        "o.o_orderkey AS r_o_orderkey, o.o_custkey AS r_o_custkey, " +
        "o.o_orderstatus AS r_o_orderstatus, o.o_totalprice AS r_o_totalprice, " +
        "o.o_orderdate AS r_o_orderdate, o.o_orderpriority AS r_o_orderpriority " +
        "FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey " +
        "ORDER BY c.c_custkey, r_o_orderkey ASC NULLS FIRST"),

    // J5: skew-salted hash join — the hot-key escape hatch must produce
    // exactly the plain inner-join relation (salting redistributes work,
    // never rows); shares j1_join_inner's oracle text
    //
    // the salted plan must reproduce the plain inner join bit for bit
    VerifyRow("j5_salted_join",
      (s, d) =>
        Joins.saltedJoin(Tables.orders(s, d), Tables.customer(s, d),
          ("o_custkey", "c_custkey"), buckets = 8)
          .orderBy("o_orderkey"),
      "SELECT o.o_orderkey, o.o_custkey, o.o_orderstatus, o.o_totalprice, o.o_orderdate, " +
        "o.o_orderpriority, c.c_custkey AS r_c_custkey, c.c_name AS r_c_name, " +
        "c.c_nationkey AS r_c_nationkey, c.c_acctbal AS r_c_acctbal, " +
        "c.c_mktsegment AS r_c_mktsegment " +
        "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey ORDER BY o.o_orderkey"),

    // J6: pre-join skew diagnostic — the measured top-20 hottest lineitem
    // suppliers with share and skew factor; the evidence a pipeline reads
    // BEFORE reaching for j5's deliberate salting. Only (key, count)
    // partials cross the exchange; top-k is a TakeOrderedAndProject
    //
    // counts/share/skew recomputed from first principles; ties at the
    // top-k boundary break by key so membership is deterministic
    VerifyRow("j6_skew_stats",
      (s, d) =>
        Joins.skewStats(Tables.lineitem(s, d), Seq("l_suppkey"), topK = 20),
      "WITH c AS (SELECT l_suppkey, count(*)::BIGINT AS n FROM lineitem GROUP BY l_suppkey), " +
        "t AS (SELECT sum(n)::BIGINT AS tot, count(*)::BIGINT AS nk FROM c) " +
        "SELECT l_suppkey, n, round(n::DOUBLE / tot, 6) AS share, " +
        "round(n::DOUBLE * nk / tot, 4) AS skew " +
        "FROM c CROSS JOIN t ORDER BY n DESC, l_suppkey ASC LIMIT 20"),

    // J2: left-semi join — customers WITH at least one order
    VerifyRow("j2_join_semi",
      (s, d) =>
        Joins.semiJoin(Tables.customer(s, d), Tables.orders(s, d), ("c_custkey", "o_custkey"))
          .orderBy("c_custkey"),
      "SELECT * FROM customer c WHERE EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) ORDER BY c_custkey"),

    // J2: left-anti join — customers WITHOUT orders
    VerifyRow("j2_join_anti",
      (s, d) =>
        Joins.antiJoin(Tables.customer(s, d), Tables.orders(s, d), ("c_custkey", "o_custkey"))
          .orderBy("c_custkey"),
      "SELECT * FROM customer c WHERE NOT EXISTS " +
        "(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) ORDER BY c_custkey"),

    // X2: set operations — (O ∪ P statuses) ∖ high-value, SET semantics
    VerifyRow("x2_setops",
      (s, d) => {
        val keys = Tables.orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
        val o = keys.filter(col("o_orderstatus") === "O")
        val p = keys.filter(col("o_orderstatus") === "P")
        val high = keys.filter(col("o_totalprice") > 200000)
        Ops.except(Ops.union(o, p), high).select("o_orderkey").orderBy("o_orderkey")
      },
      "SELECT o_orderkey FROM (" +
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'O' " +
        "UNION " +
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'P' " +
        "EXCEPT " +
        "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_totalprice > 200000" +
        ") ORDER BY o_orderkey"),

    // J1 full: full-outer join — both unmatched sides null-padded. The
    // supplier/customer nation keys only partially overlap per segment,
    // so both padding directions are exercised.
    VerifyRow("j1_join_full",
      (s, d) => {
        val bld = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
          .groupBy("c_nationkey").agg(count(lit(1)).as("n_building"))
        val sup = Tables.supplier(s, d)
          .groupBy("s_nationkey").agg(count(lit(1)).as("n_suppliers"))
        Joins.fullJoin(bld, sup, ("c_nationkey", "s_nationkey"))
          .orderBy(col("c_nationkey").asc_nulls_first, col("r_s_nationkey").asc_nulls_first)
      },
      "SELECT b.c_nationkey, b.n_building, s.s_nationkey AS r_s_nationkey, " +
        "s.n_suppliers AS r_n_suppliers FROM " +
        "(SELECT c_nationkey, count(*) AS n_building FROM customer " +
        "WHERE c_mktsegment = 'BUILDING' GROUP BY c_nationkey) b " +
        "FULL JOIN (SELECT s_nationkey, count(*) AS n_suppliers FROM supplier " +
        "GROUP BY s_nationkey) s ON b.c_nationkey = s.s_nationkey " +
        "ORDER BY b.c_nationkey ASC NULLS FIRST, r_s_nationkey ASC NULLS FIRST"),

    // G6b: CUBE — all grouping-set combinations (rollup's sibling)
    VerifyRow("g6b_cube",
      (s, d) =>
        Agg.cubeAgg(Tables.lineitem(s, d), Seq("l_returnflag", "l_linestatus"),
          Seq("l_quantity" -> Seq("count", "sum")))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      "SELECT l_returnflag, l_linestatus, count(*) AS count_l_quantity, " +
        "sum(l_quantity) AS sum_l_quantity FROM lineitem " +
        "GROUP BY CUBE (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),

    // G5: exact distinct-count per group (HLL sketch variant in tests)
    VerifyRow("g5_distinct_count",
      (s, d) =>
        Agg.distinctCount(Tables.lineitem(s, d), Seq("l_returnflag"), "l_suppkey")
          .orderBy("l_returnflag"),
      "SELECT l_returnflag, count(DISTINCT l_suppkey) AS distinct_l_suppkey " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    // G6: rollup — subtotals per returnflag plus grand total
    VerifyRow("g6_rollup",
      (s, d) =>
        Agg.rollupAgg(Tables.lineitem(s, d), Seq("l_returnflag", "l_linestatus"),
          Seq("l_quantity" -> Seq("count", "sum")))
          .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first),
      "SELECT l_returnflag, l_linestatus, count(*) AS count_l_quantity, " +
        "sum(l_quantity) AS sum_l_quantity FROM lineitem " +
        "GROUP BY ROLLUP (l_returnflag, l_linestatus) " +
        "ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST"),

    // A2: IS NOT NULL filter
    VerifyRow("a2_notnull",
      (s, d) =>
        Ops.dropNullRows(Tables.orders(s, d), "o_orderpriority")
          .orderBy("o_orderkey"),
      "SELECT * FROM orders WHERE o_orderpriority IS NOT NULL ORDER BY o_orderkey"),

    // A4: IN-set membership
    VerifyRow("a4_isin",
      (s, d) =>
        Ops.isInSet(Tables.orders(s, d), "o_orderstatus", Seq("O", "P"))
          .orderBy("o_orderkey"),
      "SELECT * FROM orders WHERE o_orderstatus IN ('O', 'P') ORDER BY o_orderkey"),

    // A5: BETWEEN range filter (inclusive)
    VerifyRow("a5_between",
      (s, d) =>
        Ops.between(Tables.orders(s, d), "o_orderdate", "1996-01-01", "1996-12-31")
          .orderBy("o_orderkey"),
      "SELECT * FROM orders WHERE o_orderdate BETWEEN TIMESTAMP '1996-01-01' AND " +
        "TIMESTAMP '1996-12-31' ORDER BY o_orderkey"),

    // A3: latest-value wide table — ALL metrics in one groupBy pass
    VerifyRow("a3_latest_table",
      (s, d) =>
        Agg.latestTable(Tables.lineitem(s, d), "l_suppkey",
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_shipdate"))
          .orderBy("l_suppkey"),
      "SELECT l_suppkey, max(l_quantity) AS l_quantity, " +
        "max(l_extendedprice) AS l_extendedprice, max(l_discount) AS l_discount, " +
        "max(l_shipdate) AS l_shipdate FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey"),

    // A6: distinct dimension values, sorted
    VerifyRow("a6_distinct",
      (s, d) =>
        Ops.distinctSorted(Tables.part(s, d), "p_brand"),
      "SELECT DISTINCT p_brand FROM part ORDER BY p_brand"),

    // A7: global min/max of one column
    VerifyRow("a7_minmax",
      (s, d) => Agg.minMax(Tables.orders(s, d), "o_orderdate"),
      "SELECT min(o_orderdate) AS min_o_orderdate, max(o_orderdate) AS max_o_orderdate FROM orders"),

    // A8: argmax-per-group via max_by (single partial-aggregated shuffle)
    VerifyRow("a8_argmax",
      (s, d) =>
        Analytics.latestPerGroup(Tables.orders(s, d), "o_custkey", "o_orderdate",
          Seq("o_orderkey"))
          .orderBy("o_custkey"),
      "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority " +
        "FROM (SELECT o.*, row_number() OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM orders o) WHERE rn = 1 " +
        "ORDER BY o_custkey"),

    // A9: pivot with explicit values, max-on-conflict
    VerifyRow("a9_pivot",
      (s, d) =>
        Analytics.pivotMax(
          Tables.orders(s, d).withColumn("o_year", year(col("o_orderdate"))),
          "o_year", "o_orderstatus", Seq("O", "F", "P"), "o_totalprice")
          .orderBy("o_year"),
      "SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year, " +
        "max(CASE WHEN o_orderstatus = 'O' THEN o_totalprice END) AS \"O\", " +
        "max(CASE WHEN o_orderstatus = 'F' THEN o_totalprice END) AS \"F\", " +
        "max(CASE WHEN o_orderstatus = 'P' THEN o_totalprice END) AS \"P\" " +
        "FROM orders GROUP BY 1 ORDER BY o_year"),

    // A10: forward-fill (LOCF) per series
    VerifyRow("a10_ffill",
      (s, d) => {
        val ev = Tables.events(s, d).withColumn("v",
          when(col("event_type") === "error", lit(null)).otherwise(col("value")))
        Analytics.forwardFill(ev, "user_id", Seq("ts_us", "event_id"), "v", "value_filled")
          .select("event_id", "user_id", "ts_us", "value_filled")
          .orderBy("user_id", "ts_us", "event_id")
      },
      "SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
        "last_value(CASE WHEN event_type = 'error' THEN NULL ELSE value END IGNORE NULLS) " +
        "OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_filled " +
        "FROM events ORDER BY user_id, ts_us, event_id"),

    // A17: trailing 7-row rolling average per series
    VerifyRow("a17_rolling",
      (s, d) =>
        Analytics.rollingAvg(Tables.events(s, d), "user_id", Seq("ts_us", "event_id"),
          "value", 7, "rolling_avg")
          .select(col("event_id"), col("user_id"), col("ts_us"),
            round(col("rolling_avg"), 4).as("rolling_avg"))
          .orderBy("user_id", "ts_us", "event_id"),
      "SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
        "round(avg(value) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS rolling_avg " +
        "FROM events ORDER BY user_id, ts_us, event_id"),

    // A18: lag-window per-series delta (the §2.3 lag/lead surface).
    // + 0.0: deltas cross zero, so a tiny negative difference rounds to
    // -0.0 — normalized on both sides (see v1_label_centroids).
    VerifyRow("a18_lag_delta",
      (s, d) =>
        Analytics.lagDelta(Tables.events(s, d), "user_id", Seq("ts_us", "event_id"),
          "value", "delta")
          .select(col("event_id"), col("user_id"), col("ts_us"),
            (round(col("delta"), 4) + lit(0.0)).as("delta"))
          .orderBy("user_id", "ts_us", "event_id"),
      "SELECT event_id, user_id, epoch_us(ts) AS ts_us, " +
        "round(value - lag(value) OVER (PARTITION BY user_id " +
        "ORDER BY epoch_us(ts), event_id), 4) + 0.0 AS delta " +
        "FROM events ORDER BY user_id, ts_us, event_id"),

    // A19: rank / dense_rank — the remaining §2.3 window functions. Ranks
    // by acctbal CENTS (exact decimal → bigint) so tie groups are value-
    // exact, then a deterministic final sort.
    VerifyRow("a19_rank",
      (s, d) => {
        val cents = (col("c_acctbal").cast(DecimalType(18, 2)) * 100).cast("long")
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("c_mktsegment")).orderBy(cents.desc)
        Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment"), cents.as("acct_cents"),
            rank().over(w).cast("long").as("bal_rank"),
            dense_rank().over(w).cast("long").as("bal_dense_rank"))
          .filter(col("bal_rank") <= 10)
          .orderBy("c_mktsegment", "bal_rank", "c_custkey")
      },
      "SELECT c_custkey, c_mktsegment, acct_cents, bal_rank, bal_dense_rank FROM (" +
        "SELECT c_custkey, c_mktsegment, " +
        "CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS acct_cents, " +
        "rank() OVER w AS bal_rank, dense_rank() OVER w AS bal_dense_rank " +
        "FROM customer WINDOW w AS (PARTITION BY c_mktsegment " +
        "ORDER BY CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) DESC)) " +
        "WHERE bal_rank <= 10 ORDER BY c_mktsegment, bal_rank, c_custkey"),

    // X2b: INTERSECT set semantics — customers with both O and F orders
    VerifyRow("x2b_intersect",
      (s, d) => {
        val o = Tables.orders(s, d)
        Ops.intersect(
          o.filter(col("o_orderstatus") === "O").select("o_custkey"),
          o.filter(col("o_orderstatus") === "F").select("o_custkey"))
          .orderBy("o_custkey")
      },
      "SELECT o_custkey FROM orders WHERE o_orderstatus = 'O' " +
        "INTERSECT " +
        "SELECT o_custkey FROM orders WHERE o_orderstatus = 'F' ORDER BY o_custkey"),

    // G8: HAVING — post-aggregation filter on the aggregate value
    VerifyRow("g8_having",
      (s, d) =>
        Tables.lineitem(s, d)
          .groupBy("l_returnflag", "l_linestatus")
          .agg(count(lit(1)).as("n"))
          .filter(col("n") >= 1000)
          .orderBy("l_returnflag", "l_linestatus"),
      "SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem " +
        "GROUP BY l_returnflag, l_linestatus HAVING count(*) >= 1000 " +
        "ORDER BY l_returnflag, l_linestatus"),

    // X1: guarded pairwise-complete Pearson correlation
    VerifyRow("x1_corr",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        li.agg((round(Analytics.safeCorr(li, "l_quantity", "l_extendedprice"), 4) + lit(0.0))
          .as("corr_qty_price"))
      },
      "SELECT round(CASE WHEN count(CASE WHEN l_quantity IS NOT NULL AND " +
        "l_extendedprice IS NOT NULL THEN 1 END) >= 3 " +
        "THEN coalesce(corr(l_quantity, l_extendedprice), 0.0) END, 4) + 0.0 AS corr_qty_price " +
        "FROM lineitem"),

    // A12: deterministic top-N
    VerifyRow("a12_topn",
      (s, d) =>
        Ops.topN(Tables.orders(s, d), 10,
          col("o_totalprice").desc, col("o_orderkey").asc),
      "SELECT * FROM orders ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10"),

    // A13: rename
    VerifyRow("a13_rename",
      (s, d) =>
        Ops.rename(Tables.nation(s, d), "n_name" -> "nation_name")
          .orderBy("n_nationkey"),
      "SELECT n_nationkey, n_name AS nation_name, n_regionkey FROM nation ORDER BY n_nationkey"),

    // A14: count / shape
    VerifyRow("a14_count",
      (s, d) =>
        Tables.lineitem(s, d).agg(count(lit(1)).as("n_rows")),
      "SELECT count(*) AS n_rows FROM lineitem"),

    // full pipeline: the reference's entry-point-3 chain (SURVEY §3)
    VerifyRow("q_covid_chain",
      (s, d) => SparkEntry.covidChain(s, d),
      qCovidOracleSql),

    // full pipeline: the reference's entry-point-1 load chain (SURVEY §3):
    // scan → required-column validation → IS NOT NULL filter → single-pass
    // latest-value table (the reference loops one groupBy per metric;
    // app.py:122-157) → persist (A15)
    VerifyRow("q_load_chain",
      (s, d) => {
        val orders = Ops.requireColumns(Tables.orders(s, d),
          Seq("o_custkey", "o_orderdate", "o_totalprice", "o_orderpriority"))
        val clean = Ops.dropNullRows(orders, "o_orderpriority")
        graft.Caches.persistLoaned(
          Agg.latestTable(clean, "o_custkey", Seq("o_orderdate", "o_totalprice")))
          .orderBy("o_custkey")
      },
      "SELECT o_custkey, max(o_orderdate) AS o_orderdate, " +
        "max(o_totalprice) AS o_totalprice FROM orders " +
        "WHERE o_orderpriority IS NOT NULL GROUP BY o_custkey ORDER BY o_custkey"),

    // full pipeline: the reference's entry-point-2 dashboard chain (SURVEY §3)
    VerifyRow("q_dashboard_chain",
      (s, d) => SparkEntry.dashboardChain(s, d),
      dashboardSqlText(forSpark = false)),

    // full pipeline: the LLM training-data funnel (gates → dedup → near-dup
    // keep → sample → packing), every stage composed end-to-end
    VerifyRow("q_pipeline_chain",
      (s, d) => SparkEntry.pipelineChain(s, d),
      {
        val sampleTh = (BigDecimal(0.5) * BigDecimal(1L << 60)).toLong
        "WITH RECURSIVE " +
          s"gated AS (SELECT doc_id, text FROM documents WHERE ${langIdSql("text")} = 'en' " +
          s"AND ${qualitySql("text")} >= 0.3 AND ${repetitionSql("text")} <= 0.5), " +
          "dmin AS (SELECT min(doc_id) AS doc_id FROM gated " +
          "GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))), " +
          "kept AS (SELECT g.doc_id, g.text FROM gated g JOIN dmin USING (doc_id)), " +
          s"pairs AS (${bigramJaccardSqlOver("kept", 0.1)}), " +
          "bidir AS (SELECT id_1, id_2 FROM pairs UNION SELECT id_2, id_1 FROM pairs), " +
          "nodes AS (SELECT DISTINCT id_1 AS id FROM bidir), " +
          "reach(id, r) AS (SELECT id, id FROM nodes " +
          "UNION SELECT b.id_1, r.r FROM reach r JOIN bidir b ON b.id_2 = r.id), " +
          "losers AS (SELECT id FROM (SELECT id, min(r) AS component FROM reach GROUP BY id) " +
          "WHERE id != component), " +
          "final AS (SELECT doc_id, " +
          "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens, " +
          "doc_id % 8 AS shard FROM kept " +
          "WHERE doc_id NOT IN (SELECT id FROM losers) " +
          s"AND ('0x' || substr(md5(doc_id::VARCHAR || '_0'), 1, 15))::BIGINT < $sampleTh) " +
          "SELECT doc_id, n_tokens, shard, " +
          "CAST(((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - n_tokens) AS BIGINT) // 4096 AS bin " +
          "FROM final ORDER BY doc_id"
      }),

    // full pipeline: the round-5 curation funnel (dedup → decontaminate →
    // mixture → split → pack) — cross-operator id flow and determinism
    VerifyRow("q_curation_chain",
      (s, d) => SparkEntry.curationChain(s, d),
      {
        val splitTh = Sampling.splitThresholds(Seq("train" -> 0.9, "val" -> 0.1))
        "WITH bench AS (SELECT doc_id, text FROM documents WHERE doc_id % 17 = 0), " +
          "corpus AS (SELECT * FROM documents WHERE doc_id % 17 != 0), " +
          "dmin AS (SELECT min(doc_id) AS doc_id FROM corpus " +
          "GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))), " +
          "kept AS (SELECT c.* FROM corpus c JOIN dmin USING (doc_id)), " +
          s"tsh AS (${trigramGramsSqlOver("kept")}), " +
          s"xsh AS (${trigramGramsSqlOver("bench")}), " +
          decontaminationCtes(maxDf = 50) + ", " +
          "dirty AS (SELECT DISTINCT train_id AS doc_id FROM contam WHERE containment >= 0.5), " +
          "clean AS (SELECT * FROM kept WHERE doc_id NOT IN (SELECT doc_id FROM dirty)), " +
          "shmap AS (SELECT * FROM (VALUES ('src0', CAST(0.4 AS DOUBLE)), " +
          "('src1', CAST(0.3 AS DOUBLE)), ('src2', CAST(0.2 AS DOUBLE)), " +
          "('src3', CAST(0.1 AS DOUBLE))) AS t(source, share)), " +
          "cnt AS (SELECT source, count(*) AS n FROM clean GROUP BY source), " +
          "mj AS (SELECT c.source, c.n, s.share FROM cnt c JOIN shmap s USING (source)), " +
          "mt AS (SELECT min(n / share) AS T FROM mj), " +
          "pm AS (SELECT mj.source, CAST(floor(least(CAST(1.0 AS DOUBLE), " +
          "mt.T * mj.share / mj.n) * 1152921504606846976) AS BIGINT) AS th " +
          "FROM mj CROSS JOIN mt), " +
          "mixed AS (SELECT c.* FROM clean c JOIN pm USING (source) " +
          "WHERE ('0x' || substr(md5(c.doc_id::VARCHAR || '_mx0'), 1, 15))::BIGINT < pm.th), " +
          "train AS (SELECT * FROM mixed WHERE " +
          s"('0x' || substr(md5(doc_id::VARCHAR || '_sp0'), 1, 15))::BIGINT < ${splitTh(0)}), " +
          "final AS (SELECT doc_id, " +
          "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens, " +
          "doc_id % 8 AS shard FROM train) " +
          "SELECT doc_id, n_tokens, shard, " +
          "CAST(((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - n_tokens) AS BIGINT) // 4096 AS bin " +
          "FROM final ORDER BY doc_id"
      }),

    // full pipeline: the round-6 daily-ingest funnel (incremental family
    // composed end-to-end; every pairwise stage is batch-probes-index)
    //
    // the incremental family composed: self-dedup → corpus-fingerprint
    // anti (bloom path is exact, so the plain NOT IN is its oracle) →
    // cross-corpus trigram-jaccard anti (the d2b form) → quality gate →
    // shard-packed token budget
    VerifyRow("q_ingest_chain",
      (s, d) => SparkEntry.ingestChain(s, d),
      "WITH batch AS (SELECT * FROM documents WHERE doc_id % 13 = 0), " +
        "corpus AS (SELECT * FROM documents WHERE doc_id % 13 != 0), " +
        "dmin AS (SELECT min(doc_id) AS doc_id FROM batch " +
        "GROUP BY md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g'))), " +
        "selfkept AS (SELECT b.* FROM batch b JOIN dmin USING (doc_id)), " +
        "cfp AS (SELECT DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp FROM corpus), " +
        "ex AS (SELECT * FROM selfkept " +
        "WHERE md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) NOT IN (SELECT fp FROM cfp)), " +
        s"sh AS (${trigramGramsSqlOver("documents")}), " +
        "inv AS (SELECT doc_id, len(grams) AS n_sh, unnest(grams) AS s FROM sh), " +
        "m AS (SELECT a.doc_id AS id_1 FROM inv a JOIN inv b ON a.s = b.s " +
        "AND a.doc_id % 13 = 0 AND b.doc_id % 13 != 0 GROUP BY a.doc_id, b.doc_id " +
        "HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= 0.5), " +
        "near AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT id_1 FROM m)), " +
        s"gated AS (SELECT * FROM near WHERE ${qualitySql("text")} >= 0.3), " +
        "final AS (SELECT doc_id, " +
        "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens, " +
        "doc_id % 4 AS shard FROM gated) " +
        "SELECT doc_id, n_tokens, shard, " +
        "CAST(((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) - n_tokens) AS BIGINT) // 2048 AS bin " +
        "FROM final ORDER BY doc_id"),

    // G3 arbitrary-function aggregate surface: typed Aggregator (order-
    // independent example fns so the oracle compare is exact)
    VerifyRow("g4_custom_agg",
      (s, d) =>
        CustomAgg.customGlobalAgg(Tables.customer(s, d), Seq(
          ("midrange", "c_acctbal", CustomAgg.midrange),
          ("spread", "c_acctbal", CustomAgg.spread)))
          .select(round(col("midrange_c_acctbal"), 4).as("midrange_c_acctbal"),
            round(col("spread_c_acctbal"), 4).as("spread_c_acctbal")),
      "SELECT round((min(c_acctbal) + max(c_acctbal)) / 2.0, 4) AS midrange_c_acctbal, " +
        "round(max(c_acctbal) - min(c_acctbal), 4) AS spread_c_acctbal FROM customer"),

    // G3 grouped form: the same arbitrary fold aggregators per group —
    // order-independent fns so the oracle compare is exact
    VerifyRow("g4b_custom_group_agg",
      (s, d) =>
        CustomAgg.customGroupAgg(Tables.customer(s, d), Seq("c_mktsegment"), Seq(
          ("midrange", "c_acctbal", CustomAgg.midrange),
          ("spread", "c_acctbal", CustomAgg.spread)))
          .select(col("c_mktsegment"),
            round(col("midrange_c_acctbal"), 4).as("midrange_c_acctbal"),
            round(col("spread_c_acctbal"), 4).as("spread_c_acctbal"))
          .orderBy("c_mktsegment"),
      "SELECT c_mktsegment, " +
        "round((min(c_acctbal) + max(c_acctbal)) / 2.0, 4) AS midrange_c_acctbal, " +
        "round(max(c_acctbal) - min(c_acctbal), 4) AS spread_c_acctbal " +
        "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment"),

    // TPC-H Q1-style pricing summary. Sums are computed EXACTLY in decimal
    // (associative, order-independent) and only the final value is cast to
    // double — both sides of the oracle compare as float64 (the compare's
    // canonicalizer hashes decimal128 and float64 differently).
    VerifyRow("q1_pricing",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") <= lit("1998-09-01"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(
            sum(col("l_quantity")).as("sum_qty"),
            sum(dec(col("l_extendedprice"))).cast(D382).cast("double").as("sum_base_price"),
            sum(discPrice).cast(D384).cast("double").as("sum_disc_price"),
            round(avg(col("l_quantity")), 4).as("avg_qty"),
            round(avg(col("l_extendedprice")), 4).as("avg_price"),
            count(lit(1)).as("count_order"))
          .orderBy("l_returnflag", "l_linestatus"),
      "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_base_price, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS sum_disc_price, " +
        "round(avg(l_quantity), 4) AS avg_qty, round(avg(l_extendedprice), 4) AS avg_price, " +
        "count(*) AS count_order FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01' " +
        "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus"),

    // TPC-H Q6-style: forecast revenue — tight range filters, one global
    // decimal-exact aggregate (pure scan+filter+agg, no join, no group)
    VerifyRow("q6_forecast",
      (s, d) =>
        Tables.lineitem(s, d)
          .filter(col("l_shipdate") >= lit("1996-01-01") &&
            col("l_shipdate") < lit("1997-01-01") &&
            dec(col("l_discount")).between(BigDecimal("0.02"), BigDecimal("0.04")) &&
            col("l_quantity") < 24)
          .agg(sum(dec(col("l_extendedprice")) * dec(col("l_discount")))
            .cast(D384).cast("double").as("revenue"),
            count(lit(1)).as("n_items")),
      "SELECT CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue, " +
        "count(*) AS n_items FROM lineitem " +
        "WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01' " +
        "AND CAST(l_discount AS DECIMAL(18,2)) BETWEEN 0.02 AND 0.04 AND l_quantity < 24"),

    // TPC-H Q10-style: returned-item revenue per customer — the canonical
    // reporting join (lineitem⋈orders shuffle on the shared fact key;
    // customer/nation DIMS broadcast), decimal-exact revenue, top-20 with
    // a custkey tiebreak for total determinism
    VerifyRow("q10_returned_items",
      (s, d) => {
        val l = Tables.lineitem(s, d).filter(col("l_returnflag") === "R")
        val o = Tables.orders(s, d)
          .filter(col("o_orderdate") >= lit("1995-01-01") &&
            col("o_orderdate") < lit("1996-01-01"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
          .groupBy("c_custkey", "c_name", "n_name")
          .agg(sum(discPrice).cast(D384).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("c_custkey"))
          .limit(20)
      },
      "SELECT c_custkey, c_name, n_name, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "WHERE l_returnflag = 'R' AND o_orderdate >= TIMESTAMP '1995-01-01' " +
        "AND o_orderdate < TIMESTAMP '1996-01-01' " +
        "GROUP BY c_custkey, c_name, n_name " +
        "ORDER BY revenue DESC, c_custkey LIMIT 20"),

    // TPC-H Q7-style: cross-nation trade volume — the two-sided dim
    // pattern (nation joined TWICE under different roles). Fact⋈fact
    // (lineitem⋈orders, then customer) shuffle on their keys; supplier
    // and both nation roles broadcast; cross-border rows only
    VerifyRow("q7_volume_shipping",
      (s, d) => {
        val l = Tables.lineitem(s, d)
        val o = Tables.orders(s, d).select("o_orderkey", "o_custkey")
        val sup = Tables.supplier(s, d).select("s_suppkey", "s_nationkey")
        val cus = Tables.customer(s, d).select("c_custkey", "c_nationkey")
        val n1 = Tables.nation(s, d)
          .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation"))
        val n2 = Tables.nation(s, d)
          .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation"))
        l.join(o, col("l_orderkey") === col("o_orderkey"))
          .join(cus, col("o_custkey") === col("c_custkey"))
          .join(broadcast(sup), col("l_suppkey") === col("s_suppkey"))
          .join(broadcast(n1), col("s_nationkey") === col("sn_key"))
          .join(broadcast(n2), col("c_nationkey") === col("cn_key"))
          .filter(col("supp_nation") =!= col("cust_nation"))
          .groupBy(col("supp_nation"), col("cust_nation"),
            year(col("l_shipdate")).cast("int").as("l_year"))
          .agg(sum(discPrice).cast(D384).cast("double").as("revenue"))
          .orderBy("supp_nation", "cust_nation", "l_year")
      },
      "SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation, " +
        "CAST(year(l_shipdate) AS INT) AS l_year, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * " +
        "(1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey " +
        "JOIN nation n1 ON s_nationkey = n1.n_nationkey " +
        "JOIN nation n2 ON c_nationkey = n2.n_nationkey " +
        "WHERE n1.n_name != n2.n_name " +
        "GROUP BY n1.n_name, n2.n_name, CAST(year(l_shipdate) AS INT) " +
        "ORDER BY supp_nation, cust_nation, l_year"),

    // TPC-H Q3-style: 3-way join, grouped revenue, top-10
    VerifyRow("q3_shipping",
      (s, d) => {
        val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
        val o = Tables.orders(s, d).filter(col("o_orderdate") < lit("1996-06-01"))
        val l = Tables.lineitem(s, d).filter(col("l_shipdate") > lit("1996-06-01"))
        l.join(broadcast(o.join(broadcast(c), col("o_custkey") === col("c_custkey"))),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
          .agg(sum(discPrice).cast(D384).as("revenue"))
          .orderBy(col("revenue").desc, col("l_orderkey").asc)
          .limit(10)
          // top-10 selected on the EXACT decimal; only the output is double
          .withColumn("revenue", col("revenue").cast("double"))
      },
      "SELECT l_orderkey, o_orderdate, o_orderpriority, CAST(revenue AS DOUBLE) AS revenue FROM (" +
        "SELECT l_orderkey, o_orderdate, o_orderpriority, " +
        "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment = 'BUILDING' AND o_orderdate < TIMESTAMP '1996-06-01' " +
        "AND l_shipdate > TIMESTAMP '1996-06-01' " +
        "GROUP BY l_orderkey, o_orderdate, o_orderpriority " +
        "ORDER BY revenue DESC, l_orderkey ASC LIMIT 10)"),

    // TPC-H Q5-style: star join through region→nation→customer→orders→lineitem→supplier
    VerifyRow("q5_region",
      (s, d) => {
        val joined = Tables.lineitem(s, d)
          .join(Tables.orders(s, d).filter(
            col("o_orderdate") >= lit("1996-01-01") && col("o_orderdate") < lit("1997-01-01")),
            col("l_orderkey") === col("o_orderkey"))
          .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
          .join(broadcast(Tables.supplier(s, d)),
            col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
          .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
          .join(broadcast(Tables.region(s, d).filter(col("r_name") === "ASIA")),
            col("n_regionkey") === col("r_regionkey"))
        joined.groupBy("n_name")
          .agg(sum(discPrice).cast(D384).cast("double").as("revenue"))
          .orderBy(col("revenue").desc, col("n_name").asc)
      },
      "SELECT n_name, " +
        "CAST(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1.00 - CAST(l_discount AS DECIMAL(18,2)))) AS DECIMAL(38,4)) AS DOUBLE) AS revenue " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey " +
        "JOIN nation ON s_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey " +
        "WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1997-01-01' " +
        "GROUP BY n_name ORDER BY revenue DESC, n_name ASC"),

    // TPC-H Q18-style: large-quantity orders — aggregate lineitem per
    // order, HAVING-filter, then enrich through orders→customer and take
    // the top 10 by value. The aggregate side shrinks BEFORE the joins
    // (AQE broadcasts the filtered survivors), and sum(long) is exact.
    VerifyRow("q18_large_orders",
      (s, d) => {
        val big = Tables.lineitem(s, d).groupBy("l_orderkey")
          .agg(sum(col("l_quantity")).as("total_qty"))
          .filter(col("total_qty") > 250)
        // broadcast the POST-HAVING agg side explicitly: it is ~1.5% of
        // orders (2.3k vs 150k rows at sf0.1) but the planner can't see
        // through the aggregate's estimate and was building the broadcast on
        // ORDERS — a 65×-larger hash relation rebuilt per execution, whose
        // driver-side build was the source of the r10 bimodal timings
        // (0.88 s vs 2.95 s warm). PlanSpec pins the build side.
        Tables.orders(s, d).join(broadcast(big), col("o_orderkey") === col("l_orderkey"))
          .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
          .select(col("c_name"), col("o_orderkey"), col("o_orderdate"),
            col("o_totalprice"), col("total_qty"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
          .limit(10)
      },
      "SELECT c_name, o_orderkey, o_orderdate, o_totalprice, total_qty FROM (" +
        "SELECT l_orderkey, sum(l_quantity) AS total_qty FROM lineitem " +
        "GROUP BY l_orderkey HAVING sum(l_quantity) > 250) big " +
        "JOIN orders ON o_orderkey = big.l_orderkey " +
        "JOIN customer ON o_custkey = c_custkey " +
        "ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10")
  )
}
