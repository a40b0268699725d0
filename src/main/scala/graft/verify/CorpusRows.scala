package graft
package verify

import graft.functions.Text
import graft.operators._
import graft.streaming.StreamOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import OracleSql._
import RowHelpers._

/** Verify rows for the text, vector, sampling and analytics
  * operators. */
private[verify] object CorpusRows {

  val rows: Seq[VerifyRow] = Seq(
    // T1: n-gram-heuristic language ID
    VerifyRow("t1_langid",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), Text.langId(col("text")).as("lang_pred"))
          .orderBy("doc_id"),
      s"SELECT doc_id, ${langIdSql("text")} AS lang_pred FROM documents ORDER BY doc_id"),

    // T2: heuristic quality score
    VerifyRow("t2_quality",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), Text.qualityScore(col("text")).as("quality"))
          .orderBy("doc_id"),
      s"SELECT doc_id, ${qualitySql("text")} AS quality FROM documents ORDER BY doc_id"),

    // T3: token counting (whitespace + BPE-ish regex)
    VerifyRow("t3_tokens",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            Text.wsTokens(col("text")).cast("long").as("ws_tokens"),
            Text.bpeTokens(col("text")).cast("long").as("bpe_tokens"))
          .orderBy("doc_id"),
      "SELECT doc_id, len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS ws_tokens, " +
        "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS bpe_tokens " +
        "FROM documents ORDER BY doc_id"),

    // T4: document fingerprint
    VerifyRow("t4_fingerprint",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), Text.fingerprint(col("text")).as("fingerprint"))
          .orderBy("doc_id"),
      "SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint " +
        "FROM documents ORDER BY doc_id"),

    // T8: repetition score — Gopher-style duplicate-token quality signal
    VerifyRow("t8_repetition",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("_w"))
          .select(col("doc_id"),
            Text.repetitionScoreFromWords(col("_w")).as("repetition"))
          .orderBy("doc_id"),
      s"SELECT doc_id, ${repetitionSql("text")} AS repetition FROM documents ORDER BY doc_id"),

    // T9: PII scrubbing — emails and long digit runs redacted, plus the
    // audit count (C4-style cleaning). Fingerprint of the scrubbed text
    // keeps the output compact while pinning every replacement exactly.
    VerifyRow("t9_pii_scrub",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            Text.piiCount(col("text")).as("n_pii"),
            md5(Text.scrubPii(col("text"))).as("scrubbed_md5"))
          .orderBy("doc_id"),
      {
        // DuckDB single-quoted literals pass backslashes through verbatim
        // (same as the \b patterns in the t1/t2 oracles) — no re-escaping
        val email = Text.EmailPattern
        val digits = Text.LongDigitPattern
        s"SELECT doc_id, (len(regexp_extract_all(text, '$email')) + " +
          s"len(regexp_extract_all(text, '$digits')))::BIGINT AS n_pii, " +
          s"md5(regexp_replace(regexp_replace(text, '$email', '<EMAIL>', 'g'), " +
          s"'$digits', '<NUMBER>', 'g')) AS scrubbed_md5 " +
          "FROM documents ORDER BY doc_id"
      }),

    // T13: Gopher quality rules — the published pre-training gate's seven
    // signals plus the combined pass verdict, all integer-count + one-
    // division arithmetic (engine-identical)
    //
    // mirrors gopherSignals/gopherPass: integer counts, one round(4)
    // division per ratio, zero denominators → NULL (which passes its rule)
    VerifyRow("t13_gopher",
      (s, d) => {
        val sig = Text.gopherSignals(col("text"))
        Tables.documents(s, d).select(
          (col("doc_id") +: sig.map { case (n, c) => c.as(n) }) :+
            Text.gopherPass(col("text")).as("pass"): _*)
          .orderBy("doc_id")
      },
      s"WITH $gopherCtesSql " +
        "SELECT doc_id, n_words, mean_word_len, symbol_ratio, alpha_frac, bullet_frac, ellipsis_frac, stop_hits, " +
        s"$gopherPassSql AS pass FROM gsig ORDER BY doc_id"),

    // T20: the repetition subfamily of the Gopher quality rules (t13 covers
    // the length/symbol/bullet rules) — duplicate-word, top-word and
    // duplicate-trigram fractions, all narrow array expressions over ONE
    // shared words projection (the projection alias keeps tokenization to
    // one pass per row; no shuffle anywhere)
    VerifyRow("t20_repetition",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"), split(lower(trim(col("text"))), "\\s+").as("ws"))
          .select(col("doc_id"),
            size(col("ws")).cast("long").as("n_words"),
            round(Text.dupWordFrac(col("ws")), 6).as("dup_word_frac"),
            round(Text.topWordFrac(col("ws")), 6).as("top_word_frac"),
            round(Text.dupNgramFrac(col("ws"), 3), 6).as("dup_3gram_frac"))
          .orderBy("doc_id"),
      s"WITH $repetitionCtesSql " +
        "SELECT doc_id, n_words, dup_word_frac, top_word_frac, dup_3gram_frac " +
        "FROM rfrac ORDER BY doc_id"),

    // CHAIN: the curation SURVIVAL FUNNEL — how much of each source clears
    // the Gopher quality gate, then the repetition cut, then the language
    // cut. ONE corpus pass: every stage predicate is a narrow expression
    // and the monotone stage counts are conditional sums inside a single
    // map-side-combined aggregation (the shape that reports a 100 TB
    // curation run's yield without re-scanning per stage).
    //
    // the staged survival funnel over the same shared CTEs: Gopher pass →
    // repetition cut → language cut, counted per source in one aggregation
    VerifyRow("q_quality_funnel",
      (s, d) => {
        val ws = split(lower(trim(col("text"))), "\\s+")
        val dupW = round(Text.dupWordFrac(col("ws")), 6)
        val dup3 = round(Text.dupNgramFrac(col("ws"), 3), 6)
        Tables.documents(s, d)
          .select(col("source"), col("text"), ws.as("ws"))
          .select(col("source"),
            Text.gopherPass(col("text")).as("gpass"),
            (dupW <= 0.3 && (dup3.isNull || dup3 <= 0.2)).as("rpass"),
            (Text.langId(col("text")) === "en").as("lpass"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("gpass"), 1L).otherwise(0L)).as("n_quality"),
            sum(when(col("gpass") && col("rpass"), 1L).otherwise(0L)).as("n_low_repetition"),
            sum(when(col("gpass") && col("rpass") && col("lpass"), 1L).otherwise(0L)).as("n_english"))
          .orderBy("source")
      },
      s"WITH $gopherCtesSql, $repetitionCtesSql, " +
        s"fg AS (SELECT doc_id, $gopherPassSql AS gpass FROM gsig), " +
        "fr AS (SELECT doc_id, (dup_word_frac <= 0.3 AND " +
        "(dup_3gram_frac IS NULL OR dup_3gram_frac <= 0.2)) AS rpass FROM rfrac), " +
        s"fl AS (SELECT doc_id, (${langIdSql("text")} = 'en') AS lpass FROM documents) " +
        "SELECT d.source, count(*)::BIGINT AS n_docs, " +
        "sum(CASE WHEN gpass THEN 1 ELSE 0 END)::BIGINT AS n_quality, " +
        "sum(CASE WHEN gpass AND rpass THEN 1 ELSE 0 END)::BIGINT AS n_low_repetition, " +
        "sum(CASE WHEN gpass AND rpass AND lpass THEN 1 ELSE 0 END)::BIGINT AS n_english " +
        "FROM documents d JOIN fg USING (doc_id) JOIN fr USING (doc_id) " +
        "JOIN fl USING (doc_id) GROUP BY d.source ORDER BY d.source"),

    // V1: per-label embedding centroids (class prototypes) — map-side
    // partial aggregation of per-coordinate means, long-format output
    VerifyRow("v1_label_centroids",
      (s, d) =>
        Similarity.labelCentroids(Tables.embeddings(s, d), "label", "embedding", 64)
          .orderBy("label", "dim_idx"),
      "SELECT label, count(*) AS n_vecs, r.range AS dim_idx, " +
        // + 0.0 normalizes -0.0 (matches the Spark side; see labelCentroids)
        "round(avg(embedding[r.range + 1]), 4) + 0.0 AS centroid_val " +
        "FROM embeddings CROSS JOIN range(0, 64) r " +
        "GROUP BY label, r.range ORDER BY label, dim_idx"),

    // V2: L2-normalize embeddings to unit vectors (dot ≡ cosine prep) —
    // narrow per-row arithmetic; long format + round(6) + (-0.0 → +0.0)
    // for the oracle hash, as in v1
    //
    // mirrors l2Normalize: double-cast elementwise squares summed in index
    // order (list_sum folds sequentially, as Spark's aggregate() does).
    // The WHERE mirrors the Spark side's NULL-on-zero-norm contract: a
    // zero-norm or NULL vector yields a NULL unit array there, which
    // posexplode skips — so the oracle must emit 0 rows for it too, not 64
    // NULL/inf rows.
    VerifyRow("v2_l2norm",
      (s, d) =>
        Similarity.l2Normalize(Tables.embeddings(s, d), "embedding", "unit")
          .select(col("vec_id"), posexplode(col("unit")))
          .select(col("vec_id"), col("pos").cast("long").as("dim_idx"),
            (round(col("col"), 6) + lit(0.0)).as("unit_val"))
          .orderBy("vec_id", "dim_idx"),
      "SELECT vec_id, r.range AS dim_idx, " +
        "round(embedding[r.range + 1]::DOUBLE / " +
        "sqrt(list_sum(list_transform(embedding::DOUBLE[], y -> y * y))), 6) + 0.0 AS unit_val " +
        "FROM embeddings CROSS JOIN range(0, 64) r " +
        "WHERE embedding IS NOT NULL " +
        "AND list_sum(list_transform(embedding::DOUBLE[], y -> y * y)) > 0 " +
        "ORDER BY vec_id, dim_idx"),

    // V3: nearest-centroid assignment — the centroid classifier's
    // application step: label every vector with its closest label
    // centroid (the v1 model in its float-quantized vector form)
    //
    // centroids rebuilt with v1's arithmetic + the float quantize
    // (labelCentroidVectors), cosine in double as d5, ties → larger label
    // (Spark's max(struct(cos, label)) ≡ ORDER BY cos DESC, label DESC)
    VerifyRow("v3_nearest_centroid",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.assignNearestCentroid(emb, "vec_id", "embedding",
          Similarity.labelCentroidVectors(emb, "label", "embedding", 64))
          .orderBy("vec_id")
      },
      "WITH cvals AS (SELECT label, r.range AS d, " +
        "CAST(round(avg(embedding[r.range + 1]), 4) + 0.0 AS FLOAT) AS v " +
        "FROM embeddings CROSS JOIN range(0, 64) r GROUP BY label, r.range), " +
        "cents AS (SELECT label, (list(v ORDER BY d))::DOUBLE[] AS centroid " +
        "FROM cvals GROUP BY label), " +
        "scored AS (SELECT e.vec_id, c.label, " +
        "round(list_cosine_similarity(e.embedding::DOUBLE[], c.centroid), 6) AS cos " +
        "FROM embeddings e CROSS JOIN cents c), " +
        "ranked AS (SELECT vec_id, label, cos, row_number() OVER (" +
        "PARTITION BY vec_id ORDER BY cos DESC, label DESC) AS rn FROM scored) " +
        "SELECT vec_id, label AS nearest, cos + 0.0 AS cosine FROM ranked " +
        "WHERE rn = 1 ORDER BY vec_id"),

    // J3: as-of join — for each purchase, the latest preceding click by
    // that user (union-merge formulation, one shuffle)
    VerifyRow("j3_asof_join",
      (s, d) => {
        val purchases = Tables.events(s, d).filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts_us")
        val clicks = Tables.events(s, d).filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts_us")
        Joins.asofJoin(purchases, clicks, ("user_id", "user_id"), ("ts_us", "ts_us"),
          tiebreak = Some("event_id"))
          .select("event_id", "user_id", "ts_us", "r_event_id", "r_ts_us")
          .orderBy("event_id")
      },
      asofOracleSql),

    // J3b: the skew-hardened two-pass as-of join — same semantics, heavy
    // pass partitioned on (key, hour-bucket) so a hot key cannot serialize
    // one task; must reproduce j3 exactly (same oracle SQL)
    //
    // the bucketed two-pass variant must reproduce the exact same relation
    VerifyRow("j3b_asof_bucketed",
      (s, d) => {
        val purchases = Tables.events(s, d).filter(col("event_type") === "purchase")
          .select("event_id", "user_id", "ts_us")
        val clicks = Tables.events(s, d).filter(col("event_type") === "click")
          .select("event_id", "user_id", "ts_us")
        Joins.asofJoinBucketed(purchases, clicks, ("user_id", "user_id"), ("ts_us", "ts_us"),
          width = 3600000000L, tiebreak = Some("event_id"))
          .select("event_id", "user_id", "ts_us", "r_event_id", "r_ts_us")
          .orderBy("event_id")
      },
      asofOracleSql),

    // J4: range join — assign each error event to its containing session
    // (bucketized interval blocking; inner semantics)
    VerifyRow("j4_range_join",
      (s, d) => {
        val errors = Tables.events(s, d).filter(col("event_type") === "error")
          .select("event_id", "user_id", "ts_us")
        val sessions = StreamOps.sessionize(Tables.events(s, d), 1800000000L)
          .select(col("user_id"), col("session_id"),
            col("session_start_us"), col("session_end_us"))
        Joins.rangeJoin(errors, sessions, ("user_id", "user_id"), "ts_us",
          "session_start_us", "session_end_us", width = 3600000000L)
          .select(col("event_id"), col("user_id"), col("ts_us"),
            col("r_session_id").as("session_id"))
          .orderBy("event_id")
      },
      "WITH marked AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
        "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
        "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_break " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)), " +
        "numbered AS (SELECT user_id, ts_us, " +
        "CAST(sum(is_break) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM marked), " +
        "sessions AS (SELECT user_id, session_id, min(ts_us) AS session_start_us, " +
        "max(ts_us) AS session_end_us FROM numbered GROUP BY user_id, session_id), " +
        "errors AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
        "WHERE event_type = 'error') " +
        "SELECT e.event_id, e.user_id, e.ts_us, s.session_id " +
        "FROM errors e JOIN sessions s ON e.user_id = s.user_id " +
        "AND e.ts_us BETWEEN s.session_start_us AND s.session_end_us " +
        "ORDER BY event_id"),

    // S5: reproducible hash-based sampling (engine-portable, retry-safe)
    VerifyRow("s5_sample",
      (s, d) =>
        Sampling.deterministicSample(Tables.documents(s, d), "doc_id", 0.1)
          .select("doc_id").orderBy("doc_id"),
      s"SELECT doc_id FROM documents WHERE " +
        s"('0x' || substr(md5(doc_id::VARCHAR || '_0'), 1, 15))::BIGINT < " +
        s"${(BigDecimal(0.1) * BigDecimal(1L << 60)).toLong} ORDER BY doc_id"),

    // S5b: stratified per-language sampling — corpus balancing with
    // per-stratum keep fractions (strata absent from the map are dropped)
    VerifyRow("s5b_stratified",
      (s, d) =>
        Sampling.stratifiedSample(Tables.documents(s, d), "doc_id", "lang",
          Map("en" -> 0.5, "de" -> 0.25, "fr" -> 1.0))
          .select("doc_id", "lang").orderBy("doc_id"),
      {
        def th(f: Double) = (BigDecimal(f) * BigDecimal(1L << 60)).toLong
        "SELECT doc_id, lang FROM documents WHERE " +
          "('0x' || substr(md5(doc_id::VARCHAR || '_0'), 1, 15))::BIGINT < " +
          s"(CASE WHEN lang = 'en' THEN ${th(0.5)} WHEN lang = 'de' THEN ${th(0.25)} " +
          s"WHEN lang = 'fr' THEN ${th(1.0)} ELSE -1 END) ORDER BY doc_id"
      }),

    // S5c: fixed-size per-language quota (k smallest id-hashes per group)
    VerifyRow("s5c_quota",
      (s, d) =>
        Sampling.quotaSample(Tables.documents(s, d), "doc_id", "lang", 20)
          .select("doc_id", "lang").orderBy("doc_id"),
      "SELECT doc_id, lang FROM (SELECT doc_id, lang, row_number() OVER (" +
        "PARTITION BY lang ORDER BY " +
        "('0x' || substr(md5(doc_id::VARCHAR || '_q0'), 1, 15))::BIGINT ASC, doc_id ASC" +
        ") AS qrn FROM documents) WHERE qrn <= 20 ORDER BY doc_id"),

    // D6b: canonical-keep — the corpus minus every near-dup cluster member
    // that is not its cluster's minimum id (the end-to-end dedup output)
    VerifyRow("d6b_keep_canonical",
      (s, d) =>
        Dedup.keepCanonical(Tables.documents(s, d), "doc_id", d6SharedPairs(s, d))
          .select("doc_id", "n_chars").orderBy("doc_id"),
      s"WITH RECURSIVE pairs AS ($bigramJaccardSql), " +
        "bidir AS (SELECT id_1, id_2 FROM pairs UNION SELECT id_2, id_1 FROM pairs), " +
        "nodes AS (SELECT DISTINCT id_1 AS id FROM bidir), " +
        "reach(id, r) AS (SELECT id, id FROM nodes " +
        "UNION SELECT b.id_1, r.r FROM reach r JOIN bidir b ON b.id_2 = r.id), " +
        "losers AS (SELECT id FROM (SELECT id, min(r) AS component FROM reach GROUP BY id) " +
        "WHERE id != component) " +
        "SELECT doc_id, n_chars FROM documents " +
        "WHERE doc_id NOT IN (SELECT id FROM losers) ORDER BY doc_id"),

    // D6d: the QUALITY keep rule — same pair relation as d6b, but each
    // cluster keeps its LONGEST member (n_chars, ties → min doc_id): the
    // keep-best-exemplar rule production dedup ships, vs d6b's
    // keep-first-crawled
    //
    // d6b's components, then the keep-best rule: max n_chars per
    // component, min id among the max-scored — the exact two-aggregate
    // tie semantics of Dedup.keepBest
    VerifyRow("d6d_keep_best",
      (s, d) =>
        Dedup.keepBest(Tables.documents(s, d), "doc_id", d6SharedPairs(s, d),
          "n_chars")
          .select("doc_id", "n_chars").orderBy("doc_id"),
      s"WITH RECURSIVE pairs AS ($bigramJaccardSql), " +
        "bidir AS (SELECT id_1, id_2 FROM pairs UNION SELECT id_2, id_1 FROM pairs), " +
        "nodes AS (SELECT DISTINCT id_1 AS id FROM bidir), " +
        "reach(id, r) AS (SELECT id, id FROM nodes " +
        "UNION SELECT b.id_1, r.r FROM reach r JOIN bidir b ON b.id_2 = r.id), " +
        "comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id), " +
        "scored AS (SELECT c.id, c.component, d.n_chars FROM comp c " +
        "JOIN documents d ON d.doc_id = c.id), " +
        "best AS (SELECT component, max(n_chars) AS s FROM scored GROUP BY component), " +
        "win AS (SELECT s.component, min(s.id) AS win FROM scored s " +
        "JOIN best b ON b.component = s.component AND s.n_chars = b.s GROUP BY s.component), " +
        "losers AS (SELECT c.id FROM comp c JOIN win w ON w.component = c.component " +
        "WHERE c.id != w.win) " +
        "SELECT doc_id, n_chars FROM documents " +
        "WHERE doc_id NOT IN (SELECT id FROM losers) ORDER BY doc_id"),

    // T7: vocabulary build — token histogram, deterministic top-100
    VerifyRow("t7_vocab",
      (s, d) =>
        Tables.documents(s, d)
          .select(explode(split(lower(trim(col("text"))), "\\s+")).as("token"))
          .groupBy("token").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("token").asc)
          .limit(100),
      "SELECT token, count(*) AS n FROM (SELECT unnest(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+')) AS token FROM documents) " +
        "GROUP BY token ORDER BY n DESC, token ASC LIMIT 100"),

    // A20: top-N rows per group — the argmax surface generalized to n,
    // map-side-pruned via Spark's WindowGroupLimit (PlanSpec-pinned)
    VerifyRow("a20_top_per_group",
      (s, d) =>
        Analytics.topNPerGroup(Tables.orders(s, d), Seq("o_orderpriority"),
          Seq(col("o_totalprice").desc, col("o_orderkey").asc), 3)
          .select("o_orderpriority", "o_orderkey", "o_totalprice", "rank")
          .orderBy("o_orderpriority", "rank"),
      "SELECT o_orderpriority, o_orderkey, o_totalprice, rank FROM (" +
        "SELECT o_orderpriority, o_orderkey, o_totalprice, row_number() OVER (" +
        "PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank " +
        "FROM orders) WHERE rank <= 3 ORDER BY o_orderpriority, rank"),

    // T23: hashed-feature linear quality score (fasttext-filter shape) —
    // token → md5 bucket → weight-vector fold, all per-row narrow
    // arithmetic: applying the model to 100 TB is a zero-shuffle map
    //
    // same md5-bucket + dyadic weight formula; list_sum of multiples of
    // 1/8 is exact in double in any order, so no rounding is needed
    VerifyRow("t23_linear_quality",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            Text.hashedLinearScore(col("text")).as("lin_score"))
          .select(col("doc_id"), col("lin_score"),
            (col("lin_score") >= 0).as("keep"))
          .orderBy("doc_id"),
      "WITH s AS (SELECT doc_id, list_sum(list_transform(" +
        "regexp_split_to_array(lower(trim(text)), '\\s+'), " +
        "w -> ((((('0x' || substr(md5(w),1,4))::BIGINT % 64) * 37 + 11) % 21 - 10) / 8.0)" +
        ")) AS lin_score FROM documents) " +
        "SELECT doc_id, lin_score, lin_score >= 0 AS keep FROM s ORDER BY doc_id"),

    // X3: fixed-width histogram — the range/skew profiling pass
    VerifyRow("x3_histogram",
      (s, d) =>
        Analytics.histogram(Tables.orders(s, d), "o_totalprice", 0.0, 50000.0, 12)
          .orderBy("bin"),
      "SELECT CAST(floor((o_totalprice - 0.0) / 50000.0) AS BIGINT) AS bin, count(*) AS n " +
        "FROM orders WHERE o_totalprice >= 0.0 AND o_totalprice < 600000.0 " +
        "GROUP BY 1 ORDER BY bin"),

    // X4: per-column null/distinct profile — first contact with a table
    VerifyRow("x4_profile",
      (s, d) =>
        Analytics.profile(Tables.customer(s, d),
          Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_nationkey"))
          .orderBy("col_name"),
      Seq("c_custkey", "c_name", "c_acctbal", "c_mktsegment", "c_nationkey")
        .map(c => s"SELECT '$c' AS col_name, " +
          s"CAST(sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls, " +
          s"count(DISTINCT $c) AS n_distinct FROM customer")
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")),

    // X5: numeric describe — count/mean/std/min/max per column, one pass
    VerifyRow("x5_describe",
      (s, d) =>
        Analytics.describe(Tables.lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount"))
          .orderBy("col_name"),
      Seq("l_quantity", "l_extendedprice", "l_discount")
        .map(c => s"SELECT '$c' AS col_name, count($c) AS n, " +
          s"round(avg($c), 4) AS mean, round(stddev_samp($c), 4) AS std, " +
          s"CAST(min($c) AS DOUBLE) AS min, CAST(max($c) AS DOUBLE) AS max FROM lineitem")
        .mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_name")),

    // A21: per-customer running spend — cumulative sum in declared order
    // (date, then orderkey tiebreak), rows framing so the double-summation
    // order is fixed and engine-identical
    VerifyRow("a21_running_total",
      (s, d) =>
        Analytics.runningTotal(
          Tables.orders(s, d).select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
          Seq("o_custkey"), Seq("o_orderdate", "o_orderkey"), "o_totalprice")
          .select(col("o_custkey"), col("o_orderkey"),
            round(col("running_total"), 2).as("running_spend"))
          .orderBy("o_custkey", "o_orderkey"),
      "SELECT o_custkey, o_orderkey, " +
        "round(sum(o_totalprice) OVER (PARTITION BY o_custkey " +
        "ORDER BY o_orderdate, o_orderkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) " +
        "AS running_spend FROM orders ORDER BY o_custkey, o_orderkey"),

    // X6: z-score standardization — one moments pass broadcast back onto
    // a narrow projection; round-4 moments = the cross-engine bit-stable
    // recipe (see standardize's roundMoments doc)
    //
    // round-4 moments BEFORE the division (standardize roundMoments) —
    // rounded doubles are engine-identical, raw aggregates are not
    VerifyRow("x6_zscore",
      (s, d) =>
        Analytics.standardize(
          Tables.lineitem(s, d).select("l_orderkey", "l_linenumber",
            "l_quantity", "l_extendedprice"),
          Seq("l_quantity", "l_extendedprice"), roundMoments = Some(4))
          .select(col("l_orderkey"), col("l_linenumber"),
            (round(col("l_quantity_z"), 4) + lit(0.0)).as("qty_z"),
            (round(col("l_extendedprice_z"), 4) + lit(0.0)).as("price_z"))
          .orderBy("l_orderkey", "l_linenumber"),
      "WITH st AS (SELECT round(avg(l_quantity), 4) AS mq, round(stddev_samp(l_quantity), 4) AS sq, " +
        "round(avg(l_extendedprice), 4) AS mp, round(stddev_samp(l_extendedprice), 4) AS sp FROM lineitem) " +
        "SELECT l_orderkey, l_linenumber, " +
        "round((l_quantity - mq) / sq, 4) + 0.0 AS qty_z, " +
        "round((l_extendedprice - mp) / sp, 4) + 0.0 AS price_z " +
        "FROM lineitem CROSS JOIN st ORDER BY l_orderkey, l_linenumber"),

    // X6b: z-score WITHIN groups — grouped moments broadcast back on the
    // key; same round-4 engine-portable recipe
    VerifyRow("x6b_zscore_by",
      (s, d) =>
        Analytics.standardizeBy(
          Tables.lineitem(s, d).select("l_orderkey", "l_linenumber",
            "l_returnflag", "l_quantity"),
          Seq("l_returnflag"), Seq("l_quantity"), roundMoments = Some(4))
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            (round(col("l_quantity_z"), 4) + lit(0.0)).as("qty_z"))
          .orderBy("l_orderkey", "l_linenumber"),
      "WITH st AS (SELECT l_returnflag, round(avg(l_quantity), 4) AS mq, " +
        "round(stddev_samp(l_quantity), 4) AS sq FROM lineitem GROUP BY l_returnflag) " +
        "SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, " +
        "round((l.l_quantity - st.mq) / st.sq, 4) + 0.0 AS qty_z " +
        "FROM lineitem l JOIN st USING (l_returnflag) " +
        "ORDER BY l_orderkey, l_linenumber"),

    // X7: pairwise correlation matrix, all cells in one aggregate pass
    //
    // one SELECT per cell, same safeCorr guards as x1 (pairwise-complete
    // count >= 3, zero variance -> 0), corr_samp ≡ corr_pop
    VerifyRow("x7_corr_matrix",
      (s, d) =>
        Analytics.corrMatrix(Tables.lineitem(s, d),
          Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))
          .orderBy("col_1", "col_2"),
      {
        val cols = Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
        val pairs = for { i <- cols.indices; j <- (i + 1) until cols.size }
          yield (cols(i), cols(j))
        pairs.map { case (a, b) =>
          s"SELECT '$a' AS col_1, '$b' AS col_2, " +
            s"round(CASE WHEN count(CASE WHEN $a IS NOT NULL AND $b IS NOT NULL THEN 1 END) >= 3 " +
            s"THEN coalesce(corr($a, $b), 0.0) END, 4) + 0.0 AS corr FROM lineitem"
        }.mkString("SELECT * FROM (", " UNION ALL ", ") ORDER BY col_1, col_2")
      }),

    // X8: snapshot diff — the incremental-reprocessing delta. Two derived
    // snapshots of documents (yesterday: no %10 ids, ' v1' texts on %7;
    // today: no %13 ids, texts as-is) diff to added/removed/changed rows
    // only; unchanged rows never leave the join
    //
    // same derived snapshots; content compared directly (the md5
    // fingerprint is a pure pre-shuffle size reduction, not semantics)
    VerifyRow("x8_snapshot_diff",
      (s, d) => {
        val (oldSnap, newSnap) = x8Snapshots(s, d)
        Ops.snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text"))
          .orderBy("doc_id")
      },
      snapshotDiffOracleSql),

    // X8c: the diff→apply round trip — yesterday's snapshot + the delta
    // (snapshotDiff joined back to today's content for added/changed keys)
    // must reconstruct today's snapshot EXACTLY; the oracle is today's
    // snapshot itself, so any key lost or duplicated by the apply fails
    // the hash
    //
    // the reconstruction target IS the new snapshot — no reimplementation
    // of the apply on the oracle side at all
    VerifyRow("x8c_apply_changeset",
      (s, d) => {
        val (oldSnap, newSnap) = x8Snapshots(s, d)
        val diff = Ops.snapshotDiff(oldSnap, newSnap, "doc_id", Seq("text"))
        val changes = diff.join(newSnap, Seq("doc_id"), "left")
          .select(col("doc_id"), col("change"), col("text"))
        Ops.applyChangeset(oldSnap, changes, "doc_id")
          .orderBy("doc_id")
      },
      "SELECT doc_id, text FROM documents WHERE doc_id % 13 != 0 ORDER BY doc_id"),

    // E9 STREAMING, oracle-gated via batch replay: predicate ROUTING to
    // two parquet sinks in one foreachBatch pass — the accept/quarantine
    // fork of a streaming ingest (failures reviewable, never dropped).
    // Dirs keyed by source identity; the replay happens once, repeat
    // calls read the routed sinks (parquet appends are not idempotent
    // across replays)
    //
    // every doc lands on exactly one side of the fork
    VerifyRow("e9_stream_route",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val key = stageKey(srcFile, "nchars300")
        val stageDir = s"${scratchDir(d)}/e9_docs_$key"
        if (!new java.io.File(s"$stageDir/_SUCCESS").exists()) {
          docs.select("doc_id", "text", "n_chars")
            .coalesce(4).write.mode("overwrite").parquet(stageDir)
        }
        val routeBase = s"${scratchDir(d)}/e9_route_$key"
        val marker = new java.io.File(s"$routeBase/_ROUTED")
        if (!marker.exists()) {
          // rerun safety: a prior run that died after some foreachBatch
          // appends but before the marker would otherwise replay into the
          // SAME checkpoint+sink trio and duplicate rows (parquet appends
          // are at-least-once across replays) — absent marker means the trio
          // is unfinished, so always restart it from empty
          graft.sources.ParquetSink.deleteRecursively(new java.io.File(routeBase))
          val schema = s.read.parquet(stageDir).schema
          val src = s.readStream.schema(schema).parquet(stageDir)
          StreamOps.routeToSinks(src, col("n_chars") >= 300,
            s"$routeBase/pass", s"$routeBase/fail", s"$routeBase/ckpt")
          marker.createNewFile()
        }
        s.read.parquet(s"$routeBase/pass")
          .select(col("doc_id"), lit("pass").as("route"))
          .unionByName(s.read.parquet(s"$routeBase/fail")
            .select(col("doc_id"), lit("fail").as("route")))
          .orderBy("doc_id")
      },
      "SELECT doc_id, CASE WHEN n_chars >= 300 THEN 'pass' ELSE 'fail' END " +
        "AS route FROM documents ORDER BY doc_id"),

    // T24: pre-tokenization text normalization — NFC (native codegen'd
    // Expression over the JDK Normalizer) → control chars to spaces →
    // lowercase → whitespace collapse → trim, one narrow projection
    //
    // the identical five steps in SQL (DuckDB's nfc_normalize is the
    // utf8proc twin of the JDK Normalizer's NFC)
    VerifyRow("t24_normalize",
      (s, d) =>
        Tables.documents(s, d)
          .select(col("doc_id"),
            graft.functions.TextNorm.normalizeText(col("text")).as("norm_text"))
          .orderBy("doc_id"),
      "SELECT doc_id, trim(regexp_replace(lower(regexp_replace(" +
        "nfc_normalize(text), '[\\p{Cc}]', ' ', 'g')), '\\s+', ' ', 'g')) " +
        "AS norm_text FROM documents ORDER BY doc_id"),

    // X11: MAD robust outlier scores — the curation outlier gate that a
    // single wild value can't blind (classical z inflates its own
    // denominator); round(4)+0.0 for the cross-engine hash
    //
    // same two nested exact medians; the score expression is shaped
    // identically ((x - med) / (1.4826 * mad)) so the doubles agree
    VerifyRow("x11_mad_outliers",
      (s, d) =>
        Analytics.madScores(Tables.lineitem(s, d)
            .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity"),
            Seq("l_returnflag"), "l_quantity")
          .select(col("l_orderkey"), col("l_linenumber"),
            (round(col("mad_z"), 4) + lit(0.0)).as("mad_z"))
          .orderBy("l_orderkey", "l_linenumber"),
      "WITH med AS (SELECT l_returnflag, median(l_quantity) AS med " +
        "FROM lineitem GROUP BY 1), " +
        "dev AS (SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, " +
        "l.l_quantity, m.med, abs(l.l_quantity - m.med) AS ad " +
        "FROM lineitem l JOIN med m USING (l_returnflag)), " +
        "mad AS (SELECT l_returnflag, median(ad) AS mad FROM dev GROUP BY 1) " +
        "SELECT d.l_orderkey, d.l_linenumber, " +
        "round(CASE WHEN m.mad IS NOT NULL AND m.mad != 0 " +
        "THEN (d.l_quantity - d.med) / (1.4826 * m.mad) END, 4) + 0.0 AS mad_z " +
        "FROM dev d JOIN mad m USING (l_returnflag) " +
        "ORDER BY d.l_orderkey, d.l_linenumber"),

    // X9: single-pass data-quality expectations — the ingest gate. Five
    // rules (three row predicates, two uniqueness checks) fold into ONE
    // corpus aggregate; violations include null-predicate rows (3VL-safe)
    //
    // each rule recomputed as an independent conditional sum / distinct
    // count; violations count predicate-false OR predicate-null rows
    VerifyRow("x9_expectations",
      (s, d) =>
        Ops.expectations(Tables.documents(s, d),
          Seq(
            "text_not_null" -> col("text").isNotNull,
            "min_50_chars" -> (length(col("text")) >= 50),
            "doc_id_nonneg" -> (col("doc_id") >= 0)),
          uniqueCols = Seq("doc_id", "lang"))
          .orderBy("rule"),
      "WITH a AS (SELECT count(*) AS n, " +
        "sum(CASE WHEN NOT (doc_id >= 0) OR doc_id IS NULL THEN 1 ELSE 0 END) AS v_doc, " +
        "sum(CASE WHEN NOT (length(text) >= 50) OR text IS NULL THEN 1 ELSE 0 END) AS v_len, " +
        "sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS v_null, " +
        "count(doc_id) - count(DISTINCT doc_id) AS v_uid, " +
        "count(lang) - count(DISTINCT lang) AS v_ulang FROM documents) " +
        "SELECT rule, violations::BIGINT AS violations, n::BIGINT AS n_rows FROM (" +
        "SELECT 'doc_id_nonneg' AS rule, v_doc AS violations, n FROM a " +
        "UNION ALL SELECT 'min_50_chars', v_len, n FROM a " +
        "UNION ALL SELECT 'text_not_null', v_null, n FROM a " +
        "UNION ALL SELECT 'unique_doc_id', v_uid, n FROM a " +
        "UNION ALL SELECT 'unique_lang', v_ulang, n FROM a) ORDER BY rule"),

    // X10: incremental aggregate maintenance — yesterday's state + today's
    // delta state merged must equal the full recompute. Lineitem split
    // into two disjoint batches by l_orderkey % 3; the merged+finalized
    // state is compared to DuckDB's direct GROUP BY over the whole table.
    // Decimal state sums make the merge order-independent (bit-exact).
    //
    // the oracle is the DIRECT aggregate over the whole table — the
    // incremental merge must be indistinguishable from a full recompute
    VerifyRow("x10_incremental_agg",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val batchA = li.where(col("l_orderkey") % 3 =!= 0)
        val batchB = li.where(col("l_orderkey") % 3 === 0)
        val keys = Seq("l_returnflag")
        val merged = Agg.mergeAggState(
          Seq(Agg.buildAggState(batchA, keys, "l_quantity"),
            Agg.buildAggState(batchB, keys, "l_quantity")), keys)
        Agg.finalizeAggState(merged, keys)
          .select(col("l_returnflag"), col("n"),
            (round(col("sum"), 2) + lit(0.0)).as("sum_qty"),
            col("min").as("min_qty"), col("max").as("max_qty"),
            col("avg").as("avg_qty"))
          .orderBy("l_returnflag")
      },
      "SELECT l_returnflag, count(l_quantity)::BIGINT AS n, " +
        "round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 2) + 0.0 AS sum_qty, " +
        "min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, " +
        "round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(l_quantity), 4) + 0.0 AS avg_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    // X10b: the agg-state LIFECYCLE — day-1 state sharded to parquet,
    // day-2 batch delta-appended, COMPACTED (pre-merged to one row per
    // key), then merge-on-read + finalize must equal the direct GROUP BY
    // over both days (x10's oracle verbatim)
    //
    // the lifecycle (shard -> delta-append -> compact -> merge-on-read)
    // is pure physical plumbing: the relation must stay the direct
    // aggregate, same oracle as x10
    VerifyRow("x10b_agg_state_lifecycle",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val keys = Seq("l_returnflag")
        val srcFile = new java.io.File(s"$d/lineitem.parquet")
        // the key names the `state/` part layout: a stage in another
        // layout is never reused
        val stateDir = s"${scratchDir(d)}/x10b_agg_state_${stageKey(srcFile, "mod3qty_parts")}"
        val state = Agg.AggState(keys, "l_quantity")
        if (!new java.io.File(s"$stateDir/_UPDATED").exists()) {
          state.write(li.where(col("l_orderkey") % 3 =!= 0), stateDir, shards = 2)
          state.append(li.where(col("l_orderkey") % 3 === 0), stateDir, shards = 2)
          state.compact(s, stateDir, shards = 2)
          new java.io.File(s"$stateDir/_UPDATED").createNewFile()
        }
        Agg.finalizeAggState(state.read(s, stateDir)("state"), keys)
          .select(col("l_returnflag"), col("n"),
            (round(col("sum"), 2) + lit(0.0)).as("sum_qty"),
            col("min").as("min_qty"), col("max").as("max_qty"),
            col("avg").as("avg_qty"))
          .orderBy("l_returnflag")
      },
      "SELECT l_returnflag, count(l_quantity)::BIGINT AS n, " +
        "round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE), 2) + 0.0 AS sum_qty, " +
        "min(l_quantity) AS min_qty, max(l_quantity) AS max_qty, " +
        "round(CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) / count(l_quantity), 4) + 0.0 AS avg_qty " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    // X10c: mergeable approx-distinct sketch state — three "daily"
    // batches build per-key HLL sketches, the union folds them
    // (register-wise max — associative, so the merged state IS the
    // whole-corpus sketch), and the estimate hard-gates against the
    // exact distinct count with the e8d tolerance pattern (3·rsd + an
    // absolute floor; rsd = 1.04/√2^12 ≈ 1.6% at the default lgK)
    //
    // the e8d gate applied to the batch sketch-state lifecycle: the Spark
    // side computes within_tol from the MERGED DataSketches HLL estimate,
    // so a drifting sketch, a broken union, or a wrong key set breaks the
    // hash compare
    VerifyRow("x10c_distinct_sketch_state",
      (s, d) => {
        val li = Tables.lineitem(s, d)
        val keys = Seq("l_returnflag")
        val batches = Seq(0, 1, 2).map(r =>
          Agg.buildDistinctSketchState(li.filter(pmod(col("l_orderkey"), lit(3)) === r),
            keys, "l_orderkey"))
        val est = Agg.estimateDistinctState(
          Agg.mergeDistinctSketchState(batches, keys), keys)
        val rsd = 1.04 / math.sqrt(1 << 12)
        est.join(li.groupBy("l_returnflag")
            .agg(count_distinct(col("l_orderkey")).as("n_exact")), "l_returnflag")
          .select(col("l_returnflag"), col("n_exact"),
            (abs(col("approx_distinct") - col("n_exact"))
              <= greatest(lit(3 * rsd) * col("n_exact"), lit(4.0))).as("within_tol"))
          .orderBy("l_returnflag")
      },
      "SELECT l_returnflag, count(DISTINCT l_orderkey) AS n_exact, " +
        "TRUE AS within_tol FROM lineitem GROUP BY 1 ORDER BY l_returnflag"),

    // X8b: the same diff over CATALOG-BUCKETED snapshots — the
    // exchange-free form for repeatedly-diffed corpora. Both snapshots are
    // staged as bucketed tables
    // (ParquetSink.writeBucketedTable, hash(doc_id) into 8 buckets); the
    // full-outer then plans as scan+merge with ZERO shuffle (PlanSpec pins
    // it) and must bit-match x8's relation.
    //
    // bucketing is a physical-layout property; the logical diff relation is
    // identical to x8's
    VerifyRow("x8b_snapshot_diff_bucketed",
      (s, d) => {
        val (oldT, newT) = x8bBucketed(s, d)
        Ops.snapshotDiff(oldT, newT, "doc_id", Seq("text"))
          .orderBy("doc_id")
      },
      snapshotDiffOracleSql),

    // S5e: deterministic train/val/test split — hash-banded, so no row can
    // migrate between bands across runs/engines/retries
    VerifyRow("s5e_split",
      (s, d) =>
        Sampling.datasetSplit(Tables.documents(s, d), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select("doc_id", "split").orderBy("doc_id"),
      {
        val ths = Sampling.splitThresholds(
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        "WITH h AS (SELECT doc_id, " +
          "('0x' || substr(md5(doc_id::VARCHAR || '_sp0'), 1, 15))::BIGINT AS h FROM documents) " +
          s"SELECT doc_id, CASE WHEN h < ${ths(0)} THEN 'train' " +
          s"WHEN h < ${ths(1)} THEN 'val' WHEN h < ${ths(2)} THEN 'test' END AS split " +
          "FROM h ORDER BY doc_id"
      }),

    // S5j: LEAKAGE-SAFE dataset split — the split coin is tossed on the
    // near-dup CLUSTER (d6 connected component, canonical = min id), not
    // the document, so a train/test boundary can never separate two
    // near-duplicates — the contamination an id-keyed split silently
    // allows. Singleton docs (no pair) group as themselves.
    //
    // d6's component CTE (canonical = min id) feeding s5e's hash-CASE on
    // the GROUP id — every member of a cluster draws the same coin
    VerifyRow("s5j_group_split",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val labels = Dedup.connectedComponents(
          Dedup.ngramJaccardPairs(docs, "doc_id", "text", 2, 0.1))
          .withColumnRenamed("id", "doc_id")
        val grouped = docs.select("doc_id")
          .join(labels, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("group_id"))
        Sampling.datasetSplit(grouped, "group_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select("doc_id", "group_id", "split").orderBy("doc_id")
      },
      {
        val ths = Sampling.splitThresholds(
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        s"WITH RECURSIVE pairs AS ($bigramJaccardSql), " +
          "bidir AS (SELECT id_1, id_2 FROM pairs UNION SELECT id_2, id_1 FROM pairs), " +
          "nodes AS (SELECT DISTINCT id_1 AS id FROM bidir), " +
          "reach(id, r) AS (SELECT id, id FROM nodes " +
          "UNION SELECT b.id_1, r.r FROM reach r JOIN bidir b ON b.id_2 = r.id), " +
          "comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id), " +
          "g AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id " +
          "FROM documents d LEFT JOIN comp c ON c.id = d.doc_id), " +
          "h AS (SELECT doc_id, group_id, " +
          "('0x' || substr(md5(group_id::VARCHAR || '_sp0'), 1, 15))::BIGINT AS h FROM g) " +
          s"SELECT doc_id, group_id, CASE WHEN h < ${ths(0)} THEN 'train' " +
          s"WHEN h < ${ths(1)} THEN 'val' WHEN h < ${ths(2)} THEN 'test' END AS split " +
          "FROM h ORDER BY doc_id"
      }),

    // S5j2: s5j's PRODUCTION form (VERDICT r11 #2) — the same leakage-safe
    // group split, but the near-dup pair set comes from the MATERIALIZED
    // MinHash index (d2c's staging pattern: build+shard once, keyed on the
    // source file identity; replays scan ONLY the index): components over
    // MinhashIndex.nearDupPairs, then the identical group-keyed coin.
    // At 100 TB the split job stops riding a full exact-pairs pipeline
    // over raw text — it reads the ~1% index, never the corpus. Trigram
    // j >= 0.5 pairs (the d2 family's regime; banding recall gated there)
    //
    // s5j's split over the INDEX-derived pair set: the d2 relation (exact
    // trigram j >= 0.5 — what the banded index yields, recall gated by the
    // d2 row) feeding the same component CTE and hash-CASE coin
    VerifyRow("s5j2_group_split_indexed",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val idxDir =
          s"${scratchDir(d)}/s5j2_minhash_index_${stageKey(srcFile, "full_n3b32r2")}"
        val mh = Dedup.MinhashIndex("doc_id", "text")
        if (!new java.io.File(s"$idxDir/bands/_SUCCESS").exists())
          mh.write(docs, idxDir, shards = 4)
        val pairs = mh.nearDupPairs(mh.read(s, idxDir), threshold = 0.5)
        val labels = Dedup.connectedComponents(pairs)
          .withColumnRenamed("id", "doc_id")
        val grouped = docs.select("doc_id")
          .join(labels, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("component"), col("doc_id")).as("group_id"))
        Sampling.datasetSplit(grouped, "group_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
          .select("doc_id", "group_id", "split").orderBy("doc_id")
      },
      {
        val ths = Sampling.splitThresholds(
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        s"WITH RECURSIVE pairs AS ($trigramJaccardSql), " +
          "bidir AS (SELECT id_1, id_2 FROM pairs UNION SELECT id_2, id_1 FROM pairs), " +
          "nodes AS (SELECT DISTINCT id_1 AS id FROM bidir), " +
          "reach(id, r) AS (SELECT id, id FROM nodes " +
          "UNION SELECT b.id_1, r.r FROM reach r JOIN bidir b ON b.id_2 = r.id), " +
          "comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id), " +
          "g AS (SELECT d.doc_id, coalesce(c.component, d.doc_id) AS group_id " +
          "FROM documents d LEFT JOIN comp c ON c.id = d.doc_id), " +
          "h AS (SELECT doc_id, group_id, " +
          "('0x' || substr(md5(group_id::VARCHAR || '_sp0'), 1, 15))::BIGINT AS h FROM g) " +
          s"SELECT doc_id, group_id, CASE WHEN h < ${ths(0)} THEN 'train' " +
          s"WHEN h < ${ths(1)} THEN 'val' WHEN h < ${ths(2)} THEN 'test' END AS split " +
          "FROM h ORDER BY doc_id"
      }),

    // S5k: per-source token budgets — the best-scored prefix of EACH
    // source until that source's budget fills (fixed budgets so the
    // oracle carries the same literals; src3 absent → dropped)
    //
    // per-source greedy prefix as a partitioned window; the CASE budget
    // mirrors the operator's literal map (absent source → -1 → dropped)
    VerifyRow("s5k_group_token_budget",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("source"),
            col("n_chars").cast("double").as("score"),
            Text.bpeTokens(col("text")).cast("long").as("n_tokens"))
        Sampling.tokenBudgetSelectPerGroup(toks, "doc_id", "source",
          "score", "n_tokens", Map("src0" -> 40000L, "src1" -> 25000L, "src2" -> 10000L))
          .select("doc_id", "source", "score", "n_tokens")
          .orderBy("doc_id")
      },
      s5kOracleSql),

    // S5l: the s5k relation stated as PURE SQL TEXT on the registered
    // views, tokenized by the REGISTERED graft_bpe_tokens function
    // (VERDICT r11 #7): proves a SQL-only front-end user can run the
    // per-group token-budget curation cut — same literals, same greedy
    // window — without touching the Scala API. Catalyst plans the same
    // keyed exchange + sorted window as the operator form.
    //
    // the SQL-text twin states the identical relation (registered
    // graft_bpe_tokens == the oracle's regex tokenizer)
    VerifyRow("s5l_sql_token_budget",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql(
          "WITH toks AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score, " +
            "CAST(graft_bpe_tokens(text) AS BIGINT) AS n_tokens FROM documents), " +
            "sel AS (SELECT doc_id, source, score, n_tokens, " +
            "sum(n_tokens) OVER (PARTITION BY source ORDER BY score DESC, doc_id " +
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM toks) " +
            "SELECT doc_id, source, score, n_tokens FROM sel " +
            "WHERE cum <= CASE source WHEN 'src0' THEN 40000 WHEN 'src1' THEN 25000 " +
            "WHEN 'src2' THEN 10000 ELSE -1 END " +
            "ORDER BY doc_id")
      },
      s5kOracleSql),

    // X12c: a typed JSON lift as PURE SQL TEXT — from_json with a DDL
    // schema string on the events view: a declared schema (no inference
    // job) and PERMISSIVE null-on-malformed, so count(k) vs count(*) is
    // the parse-success census
    VerifyRow("x12c_json_sql",
      (s, d) => {
        Tables.registerAll(s, d)
        s.sql(
          "SELECT event_type, count(*) AS n_events, count(k) AS n_k, " +
            "sum(k) AS sum_k, min(k) AS min_k, max(k) AS max_k " +
            "FROM (SELECT event_type, from_json(props, 'k BIGINT').k AS k FROM events) " +
            "GROUP BY event_type ORDER BY event_type")
      },
      x12OracleSql),

    // S5n: deterministic fixed-size sample — exactly k rows, the k
    // smallest id-hashes (stable eval-set selection; TakeOrderedAndProject
    // plan, never a global sort)
    //
    // the same k smallest md5-derived hashes, same id tiebreak
    VerifyRow("s5n_fixed_sample",
      (s, d) =>
        Sampling.fixedSample(Tables.documents(s, d), "doc_id", k = 100)
          .select("doc_id", "source").orderBy("doc_id"),
      "SELECT doc_id, source FROM (SELECT doc_id, source, " +
        "('0x' || substr(md5(doc_id::VARCHAR || '_fx0'), 1, 15))::BIGINT AS h " +
        "FROM documents ORDER BY h ASC, doc_id ASC LIMIT 100) " +
        "ORDER BY doc_id"),

    // S5o: deterministic EPOCH REPLICATION — fractional per-source repeat
    // factors (the upsampling half of a mixing recipe): 2.5× exercises
    // whole+fractional, 1.0× the identity, 0.25× pure-fractional; the
    // oracle re-derives the coin arithmetic and the epoch fan-out
    //
    // the replication arithmetic re-derived: copies = whole + (coin <
    // frac·2^60), epochs = the 0-based fan-out below that count
    VerifyRow("s5o_epoch_replicate",
      (s, d) =>
        Sampling.epochReplicate(Tables.documents(s, d), "doc_id", "source",
          Map("src0" -> 2.5, "src1" -> 1.0, "src2" -> 0.25))
          .select("doc_id", "source", "epoch").orderBy("doc_id", "epoch"),
      s"WITH n AS (SELECT doc_id, source, CASE source " +
        s"WHEN 'src0' THEN 2 + (('0x' || substr(md5(doc_id::VARCHAR || '_ep0'), 1, 15))::BIGINT < ${(BigDecimal(0.5) * BigDecimal(1L << 60)).toLong})::BIGINT " +
        "WHEN 'src1' THEN 1 " +
        s"WHEN 'src2' THEN 0 + (('0x' || substr(md5(doc_id::VARCHAR || '_ep0'), 1, 15))::BIGINT < ${(BigDecimal(0.25) * BigDecimal(1L << 60)).toLong})::BIGINT " +
        "ELSE 0 END AS copies FROM documents) " +
        "SELECT doc_id, source, r.range AS epoch FROM n, range(0, 3) r " +
        "WHERE r.range < n.copies ORDER BY doc_id, epoch"),

    // X13: cross-source duplicate overlap matrix — distinct shared
    // fingerprints per source pair (diagonal = per-source distinct count);
    // the pre-weighting triage view of a mixing recipe
    //
    // the overlap matrix over the same normalized fingerprint as d1/d8
    VerifyRow("x13_source_overlap",
      (s, d) =>
        Dedup.sourceOverlapMatrix(Tables.documents(s, d), "text", "source")
          .orderBy("src_a", "src_b"),
      "WITH fs AS (SELECT DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fp, " +
        "source AS src FROM documents) " +
        "SELECT a.src AS src_a, b.src AS src_b, count(*)::BIGINT AS n_shared " +
        "FROM fs a JOIN fs b ON a.fp = b.fp AND a.src <= b.src " +
        "GROUP BY a.src, b.src ORDER BY src_a, src_b"),

    // X14: the dataset card in one query — per-source docs/tokens/chars/
    // distinct fingerprints + exact-dup fraction, one corpus pass, no
    // float summation (the single double is one division of exact longs)
    //
    // the card re-derived: t3's token arithmetic, d1's fingerprint, one
    // division of exact longs rounded 6
    VerifyRow("x14_corpus_report",
      (s, d) =>
        Analytics.corpusReport(Tables.documents(s, d), "text", "source")
          .orderBy("source"),
      "SELECT source, count(*)::BIGINT AS n_docs, " +
        "sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS n_tokens, " +
        "sum(length(text))::BIGINT AS n_chars, " +
        "count(DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')))::BIGINT AS n_unique, " +
        "round(1.0 - count(DISTINCT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')))::DOUBLE / count(*), 6) AS dup_frac " +
        "FROM documents WHERE source IS NOT NULL GROUP BY source ORDER BY source"),

    // S5m: TEMPERATURE-scaled mixture — shares ∝ (n_g/N)^(1/T), T = 2
    // (the multilingual up-weight-the-tail rule). The fixture's sources
    // are uniform (temperature of a flat distribution is the identity),
    // so the row first SKEWS them deterministically — keep a doc iff
    // doc_id % (1 + srcnum % 4) = 0, giving group sizes n, n/2, n/3, n/4
    // — and then the sqrt flattening must downsample the large groups
    // toward the tail (the smallest group is share-limiting and keeps
    // everything). Oracle re-derives the skew, the shares
    // (round(pow, 9)), and the mixture coin arithmetic.
    //
    // the temperature rule re-derived in SQL: share = round(pow(n/N, 1/T), 9)
    // (the 9-dp round collapses libm-vs-Math.pow ulp differences), then
    // the exact mixtureSample arithmetic (cap, least, floor·2^60 coin)
    VerifyRow("s5m_temperature_mixture",
      (s, d) =>
        Sampling.temperatureSample(
          Tables.documents(s, d).filter(
            pmod(col("doc_id"),
              lit(1) + pmod(expr("CAST(substring(source, 4) AS INT)"), lit(4))) === 0),
          "doc_id", "source", temperature = 2.0)
          .select("doc_id", "source").orderBy("doc_id"),
      "WITH docs AS (SELECT doc_id, source FROM documents " +
        "WHERE doc_id % (1 + CAST(substr(source, 4) AS INT) % 4) = 0), " +
        "cnt AS (SELECT source, count(*)::BIGINT AS n FROM docs " +
        "WHERE source IS NOT NULL GROUP BY source), " +
        "tot AS (SELECT sum(n)::DOUBLE AS total FROM cnt), " +
        "sh AS (SELECT source, n, round(power(n / t.total, 0.5), 9) AS share FROM cnt, tot t), " +
        "mt AS (SELECT min(n / share) AS T FROM sh), " +
        "p AS (SELECT sh.source, " +
        "CAST(floor(least(CAST(1.0 AS DOUBLE), mt.T * sh.share / sh.n) * 1152921504606846976) AS BIGINT) AS th " +
        "FROM sh CROSS JOIN mt) " +
        "SELECT d.doc_id, d.source FROM docs d JOIN p USING (source) " +
        "WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || '_mx0'), 1, 15))::BIGINT < p.th " +
        "ORDER BY d.doc_id"),

    // S5p: the mixing-recipe SOLVER — per-source temperature shares, the
    // budget split, and the repeat factors that realize it (the missing
    // middle between x13's overlap pricing and s5o's replication). All
    // integer arithmetic except two single IEEE divisions; the oracle
    // re-derives every column including the 38-digit budget split
    //
    // the solver re-derived: integer share weights raw = round(round(pow,
    // 9)·1e9) (exact order-free sum), budget split in 128-bit integer
    // division, the two doubles each one IEEE division of exact integers
    VerifyRow("s5p_mixing_plan",
      (s, d) =>
        Sampling.mixingPlan(Tables.documents(s, d), "source", "n_chars",
          temperature = 2.0, budget = 300000L)
          .orderBy("source"),
      "WITH cnt AS (SELECT source, count(*)::BIGINT AS n_docs, " +
        "sum(n_chars)::BIGINT AS n_weight FROM documents " +
        "WHERE source IS NOT NULL GROUP BY source HAVING sum(n_chars) > 0), " +
        "tot AS (SELECT sum(n_weight)::DOUBLE AS total FROM cnt), " +
        "raw AS (SELECT source, n_docs, n_weight, " +
        "CAST(round(round(power(n_weight::DOUBLE / t.total, 0.5), 9) * 1e9) AS BIGINT) AS raw " +
        "FROM cnt, tot t), " +
        "sr AS (SELECT sum(raw)::BIGINT AS sumraw FROM raw) " +
        "SELECT source, n_docs, n_weight, " +
        "raw::DOUBLE / sumraw::DOUBLE AS share, " +
        "CAST((300000::HUGEINT * raw) // sumraw AS BIGINT) AS target_weight, " +
        "(CAST((300000::HUGEINT * raw) // sumraw AS BIGINT))::DOUBLE / n_weight::DOUBLE AS repeat_factor " +
        "FROM raw, sr ORDER BY source"),

    // the solved plan EXECUTED: mixingPlan's repeat factors (bounded
    // driver collect — one row per source, the s5m pattern) feed
    // epochReplicate; at sf0.01 the 300k budget ≈ 2× the corpus
    // (upsample regime, whole+fractional epochs), at sf0.1 ≈ 0.2×
    // (pure-fractional downsample) — one row, both branches
    //
    // plan → factors → the epochReplicate coin: copies = ⌊f⌋ + (hash <
    // floor(frac(f)·2^60)) — frac(f) and frac·2^60 are EXACT in doubles
    // (Sterbenz subtraction; power-of-two multiply), so the SQL threshold
    // bit-matches the Scala BigDecimal one
    VerifyRow("q_mixing_chain",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val factors = Sampling.mixingPlan(docs, "source", "n_chars",
          temperature = 2.0, budget = 300000L)
          .select("source", "repeat_factor").collect()
          .map(r => r.getString(0) -> r.getDouble(1)).toMap
        Sampling.epochReplicate(docs, "doc_id", "source", factors)
          .select("doc_id", "source", "epoch").orderBy("doc_id", "epoch")
      },
      "WITH cnt AS (SELECT source, sum(n_chars)::BIGINT AS w FROM documents " +
        "WHERE source IS NOT NULL GROUP BY source HAVING sum(n_chars) > 0), " +
        "tot AS (SELECT sum(w)::DOUBLE AS total FROM cnt), " +
        "raw AS (SELECT source, w, " +
        "CAST(round(round(power(w::DOUBLE / t.total, 0.5), 9) * 1e9) AS BIGINT) AS raw " +
        "FROM cnt, tot t), " +
        "sr AS (SELECT sum(raw)::BIGINT AS sumraw FROM raw), " +
        "f AS (SELECT source, " +
        "(CAST((300000::HUGEINT * raw) // sumraw AS BIGINT))::DOUBLE / w::DOUBLE AS f " +
        "FROM raw, sr), " +
        "c AS (SELECT d.doc_id, d.source, CAST(floor(f.f) AS BIGINT) + " +
        "(('0x' || substr(md5(d.doc_id::VARCHAR || '_ep0'), 1, 15))::BIGINT < " +
        "CAST(floor((f.f - floor(f.f)) * 1152921504606846976) AS BIGINT))::BIGINT AS copies " +
        "FROM documents d JOIN f USING (source)) " +
        "SELECT doc_id, source, unnest(range(0, c.copies)) AS epoch FROM c " +
        "ORDER BY doc_id, epoch"),

    // S5f: data mixing — resample to a 50/30/20 target blend of three
    // sources (largest feasible output; other sources drop)
    //
    // mirrors mixtureSample's fixed arithmetic shape: cap = n/share,
    // T = min(cap), p = least(1, T*share/n), threshold = floor(p * 2^60)
    VerifyRow("s5f_mixture",
      (s, d) =>
        Sampling.mixtureSample(Tables.documents(s, d), "doc_id", "source",
          Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
          .select("doc_id", "source").orderBy("doc_id"),
      "WITH sh AS (SELECT * FROM (VALUES " +
        "('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)), " +
        "('src2', CAST(0.2 AS DOUBLE))) AS t(source, share)), " +
        "cnt AS (SELECT source, count(*) AS n FROM documents GROUP BY source), " +
        "j AS (SELECT c.source, c.n, s.share FROM cnt c JOIN sh s USING (source)), " +
        "mt AS (SELECT min(n / share) AS T FROM j), " +
        "p AS (SELECT j.source, " +
        "CAST(floor(least(CAST(1.0 AS DOUBLE), mt.T * j.share / j.n) * 1152921504606846976) AS BIGINT) AS th " +
        "FROM j CROSS JOIN mt) " +
        "SELECT d.doc_id, d.source FROM documents d JOIN p USING (source) " +
        "WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || '_mx0'), 1, 15))::BIGINT < p.th " +
        "ORDER BY d.doc_id"),

    // S5h: mixture resampling in a WEIGHTED unit — the 50/30/20 blend held
    // in characters (the token-budget analogue), not document counts;
    // per-source thresholds derive from char sums, membership stays the
    // per-document hash coin
    //
    // s5f's arithmetic with char sums as the mixing unit; sums cast BIGINT
    // so the HUGEINT default doesn't change the double conversion
    VerifyRow("s5h_mixture_weighted",
      (s, d) =>
        Sampling.mixtureSampleByWeight(Tables.documents(s, d), "doc_id", "source",
          "n_chars", Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2))
          .select("doc_id", "source", "n_chars").orderBy("doc_id"),
      "WITH sh AS (SELECT * FROM (VALUES " +
        "('src0', CAST(0.5 AS DOUBLE)), ('src1', CAST(0.3 AS DOUBLE)), " +
        "('src2', CAST(0.2 AS DOUBLE))) AS t(source, share)), " +
        "cnt AS (SELECT source, sum(n_chars)::BIGINT AS n FROM documents GROUP BY source), " +
        "j AS (SELECT c.source, c.n, s.share FROM cnt c JOIN sh s USING (source)), " +
        "mt AS (SELECT min(n / share) AS T FROM j), " +
        "p AS (SELECT j.source, " +
        "CAST(floor(least(CAST(1.0 AS DOUBLE), mt.T * j.share / j.n) * 1152921504606846976) AS BIGINT) AS th " +
        "FROM j CROSS JOIN mt) " +
        "SELECT d.doc_id, d.source, d.n_chars FROM documents d JOIN p USING (source) " +
        "WHERE ('0x' || substr(md5(d.doc_id::VARCHAR || '_mx0'), 1, 15))::BIGINT < p.th " +
        "ORDER BY d.doc_id"),

    // S5g: quality-weighted Bernoulli sample — keep probability
    // min(1, rate·w), w = n_chars/500 (longer docs kept preferentially)
    //
    // mirrors weightedSample's fixed shape: p = least(1, rate·(n_chars/500)),
    // threshold = floor(p · 2^60) — identical double ops in both engines
    VerifyRow("s5g_weighted",
      (s, d) =>
        Sampling.weightedSample(
          Tables.documents(s, d).withColumn("w", col("n_chars") / lit(500.0)),
          "doc_id", "w", rate = 0.2)
          .select("doc_id", "n_chars").orderBy("doc_id"),
      "SELECT doc_id, n_chars FROM documents " +
        "WHERE (n_chars / 500.0) >= 0.0 " +
        "AND ('0x' || substr(md5(doc_id::VARCHAR || '_w0'), 1, 15))::BIGINT < " +
        "CAST(floor(least(CAST(1.0 AS DOUBLE), 0.2 * (n_chars / 500.0)) * 1152921504606846976) AS BIGINT) " +
        "ORDER BY doc_id"),

    // S5i: token-budget selection — the best-scored documents until a
    // quarter of the corpus's tokens are filled (budget relative to the
    // corpus so the cut is nontrivial at every SF). Score = n_chars with
    // doc_id tiebreak: a total order, so the greedy prefix is exact and
    // engine-portable. One-row total collect is the bounded driver step.
    //
    // the same greedy prefix as ONE global window — correct in DuckDB at
    // oracle scale; the Spark side's distributed prefix sum must match it
    // exactly (integer-division budget, (score DESC, doc_id) total order)
    VerifyRow("s5i_token_budget",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), col("n_chars").cast("double").as("score"),
            Text.bpeTokens(col("text")).cast("long").as("n_tokens"))
        val totalRow = toks.agg(sum("n_tokens")).head()
        val total = if (totalRow.isNullAt(0)) 0L else totalRow.getLong(0)
        Sampling.tokenBudgetSelect(toks, "doc_id", "score", "n_tokens", total / 4)
          .select("doc_id", "score", "n_tokens")
          .orderBy("doc_id")
      },
      "WITH toks AS (SELECT doc_id, CAST(n_chars AS DOUBLE) AS score, " +
        "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens " +
        "FROM documents), " +
        "sel AS (SELECT doc_id, score, n_tokens, " +
        "sum(n_tokens) OVER (ORDER BY score DESC, doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM toks) " +
        "SELECT doc_id, score, n_tokens FROM sel " +
        "WHERE cum <= (SELECT sum(n_tokens) FROM toks) // 4 " +
        "ORDER BY doc_id"),

    // G9: exact median via the custom counts-map TypedImperativeAggregate
    // (SURVEY 7.3's documented escape hatch, now closed) — must agree with
    // DuckDB's median on both a low-cardinality column (quantity: dozens
    // of distinct values, the buffer's sweet spot) and a high-cardinality
    // one (extendedprice: ~rows/4 distinct — the stress case)
    //
    // quantile_cont(0.5) = the interpolated median, exactly the custom
    // aggregate's even-count mean-of-middles
    VerifyRow("g9_exact_median",
      (s, d) =>
        Tables.lineitem(s, d).groupBy("l_returnflag")
          .agg(round(graft.functions.ExactMedian.exactMedian(col("l_quantity")), 4)
              .as("med_qty"),
            round(graft.functions.ExactMedian.exactMedian(col("l_extendedprice")), 4)
              .as("med_price"))
          .orderBy("l_returnflag"),
      "SELECT l_returnflag, " +
        "round(quantile_cont(l_quantity::DOUBLE, 0.5), 4) AS med_qty, " +
        "round(quantile_cont(l_extendedprice::DOUBLE, 0.5), 4) AS med_price " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    // G7c: approx_percentile under a HARD rank gate (the e8d pattern for
    // quantile sketches): the sketch's median must sit within the
    // documented rank tolerance eps = 1/accuracy of the true median rank.
    // Ties make VALUE tolerance meaningless (l_quantity has ~50 distinct
    // values), so the gate is the tie-aware rank-interval test: the
    // target-rank window [n(0.5-eps), n(0.5+eps)] must intersect
    // [count_lt(apx), count_le(apx)]. Oracle asserts TRUE per group.
    //
    // the sketch gate: exact group counts + TRUE — the Spark side computes
    // within_tol from the GK summary's rank interval, so a sketch outside
    // its documented eps (or a wrong group set) breaks the hash compare
    VerifyRow("g7c_approx_quantile_gate",
      (s, d) => {
        val acc = 1000
        val eps = 1.0 / acc
        val li = Tables.lineitem(s, d).select("l_returnflag", "l_quantity")
        val ap = li.groupBy("l_returnflag")
          .agg(expr(s"approx_percentile(l_quantity, 0.5, $acc)").as("_apx"))
        li.join(broadcast(ap), "l_returnflag")
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(when(col("l_quantity") < col("_apx"), 1L).otherwise(0L)).as("_lt"),
            sum(when(col("l_quantity") <= col("_apx"), 1L).otherwise(0L)).as("_le"))
          .select(col("l_returnflag"), col("n"),
            (col("_lt") <= (lit(0.5) + lit(eps)) * col("n") &&
              col("_le") >= (lit(0.5) - lit(eps)) * col("n")).as("within_tol"))
          .orderBy("l_returnflag")
      },
      "SELECT l_returnflag, count(*) AS n, TRUE AS within_tol " +
        "FROM lineitem GROUP BY 1 ORDER BY 1"),

    // G7: grouped exact percentiles (linear-interpolating, matches
    // DuckDB quantile_cont) — the quantile surface beyond median
    VerifyRow("g7_percentiles",
      (s, d) =>
        Tables.lineitem(s, d).groupBy("l_returnflag")
          .agg(round(expr("percentile(l_quantity, 0.25)"), 4).as("p25_l_quantity"),
            round(expr("percentile(l_quantity, 0.5)"), 4).as("p50_l_quantity"),
            round(expr("percentile(l_quantity, 0.75)"), 4).as("p75_l_quantity"),
            round(expr("percentile(l_quantity, 0.99)"), 4).as("p99_l_quantity"))
          .orderBy("l_returnflag"),
      "SELECT l_returnflag, " +
        "round(quantile_cont(l_quantity, 0.25), 4) AS p25_l_quantity, " +
        "round(quantile_cont(l_quantity, 0.5), 4) AS p50_l_quantity, " +
        "round(quantile_cont(l_quantity, 0.75), 4) AS p75_l_quantity, " +
        "round(quantile_cont(l_quantity, 0.99), 4) AS p99_l_quantity " +
        "FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),

    // T5: corpus statistics — doc count, token totals, mean quality.
    // avg computed as exact decimal sum of per-row 4dp scores ÷ count (the
    // q1 pattern) so summation order cannot flip the rounded result.
    VerifyRow("t5_corpus_stats",
      (s, d) =>
        Tables.documents(s, d).agg(
          count(lit(1)).as("n_docs"),
          sum(Text.wsTokens(col("text")).cast("long")).as("total_ws_tokens"),
          sum(Text.bpeTokens(col("text")).cast("long")).as("total_bpe_tokens"),
          round(sum(Text.qualityScore(col("text")).cast(DecimalType(18, 4)))
            .cast(D384).cast("double") / count(lit(1)), 4).as("avg_quality"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars")),
      "SELECT count(*) AS n_docs, " +
        "sum(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS total_ws_tokens, " +
        "sum(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')))::BIGINT AS total_bpe_tokens, " +
        "round(CAST(CAST(sum(CAST(round(" +
        "least(1.0, len(regexp_split_to_array(trim(text), '\\s+'))::DOUBLE / 200.0) * 0.5 + " +
        "least(1.0, len(regexp_extract_all(lower(text), '\\b(the|a|of|and|to|in|is)\\b'))::DOUBLE / " +
        "greatest(len(regexp_split_to_array(trim(text), '\\s+'))::DOUBLE * 0.05, 1.0)) * 0.3 + " +
        "(1.0 - least(1.0, len(regexp_extract_all(text, '[^\\w\\s]'))::DOUBLE / " +
        "greatest(length(text)::DOUBLE, 1.0))) * 0.2, 4) AS DECIMAL(18,4))) " +
        "AS DECIMAL(38,4)) AS DOUBLE) / count(*), 4) AS avg_quality, " +
        "min(n_chars) AS min_chars, max(n_chars) AS max_chars FROM documents"),

    // T6: token-budget sequence packing — documents → training batches
    VerifyRow("t6_packing",
      (s, d) => {
        val toks = Tables.documents(s, d)
          .select(col("doc_id"), Text.bpeTokens(col("text")).cast("long").as("n_tokens"))
        Packing.packByTokenBudget(toks, "doc_id", "n_tokens", budget = 2048, shards = 8,
          shardExpr = Some(pmod(col("doc_id"), lit(8)))) // engine-portable shard
          .select("doc_id", "n_tokens", "shard", "bin")
          .orderBy("doc_id")
      },
      "SELECT doc_id, n_tokens, shard, " +
        "CAST(floor((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 2048.0) AS BIGINT) AS bin " +
        "FROM (SELECT doc_id, " +
        "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens, " +
        "doc_id % 8 AS shard FROM documents) ORDER BY doc_id")
  )
}
