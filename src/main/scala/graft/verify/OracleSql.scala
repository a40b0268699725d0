package graft
package verify

import graft.functions.Text
import graft.operators._

/** The DuckDB oracle builders the Verify rows share: CTEs and whole
  * statements that more than one row's `oracleSql` uses, or that a row's
  * Spark side renders too.
  */
private[verify] object OracleSql {

  /** DuckDB rendition of [[graft.operators.Dedup.simhash]]: the 60-bit
    * sketch as a machine-generated sum of per-bit vote terms over the
    * md5-derived token hashes (`Text.tokenHash60`). Shared by the
    * d3/d3b oracles.
    */
  val simhashCte: String = {
    val bitTerms = (0 until Dedup.SimhashBits).map { i =>
      s"(CASE WHEN list_sum(list_transform(hh, h -> CASE WHEN (h >> $i) & 1 = 1 " +
        s"THEN 1 ELSE -1 END)) > 0 THEN (1::BIGINT << $i) ELSE 0::BIGINT END)"
    }.mkString(" + ")
    "hs AS (SELECT doc_id, list_transform(" +
      "list_distinct(regexp_split_to_array(lower(trim(text)), '\\s+')), " +
      "t -> ('0x' || substr(md5(t),1,15))::BIGINT) AS hh FROM documents), " +
      s"sh AS (SELECT doc_id, ($bitTerms)::BIGINT AS simhash FROM hs)"
  }

  /** The fuzzy family's banded-cell CTE chain (d9b/d9c): [[simhashCte]]
    * extended with text length, the 4×15-bit chunk rows, the home length
    * bucket (width = maxDist+1 = 41 at the d9 parameterization), and the
    * (chunk, ckey, hb) cell sizes — the one SQL definition both the
    * histogram and the fuzzy-gate oracles read, mirroring
    * `Dedup.fuzzyChunked`.
    */
  val fuzzyCellsCte: String =
    s"$simhashCte, " +
      "shl AS (SELECT s.doc_id, s.simhash, length(d.text) AS len " +
      "FROM sh s JOIN documents d ON s.doc_id = d.doc_id), " +
      "ch AS (SELECT doc_id, simhash, len, c.chunk AS chunk, " +
      "(simhash >> (c.chunk * 15)) & 32767 AS ckey, len // 41 AS hb " +
      "FROM shl, (VALUES (0), (1), (2), (3)) c(chunk)), " +
      "cells AS (SELECT chunk, ckey, hb, count(*) AS cell_size " +
      "FROM ch GROUP BY chunk, ckey, hb)"

  /** The fuzzy gate's full derivation in SQL (d9b/d9e):
    * `Dedup.fuzzyNearDups` at maxDist 40 with budget = `pairsPerDoc` ×
    * |documents|, the cap re-derived from the same cell histogram
    * (greatest(max cell size with cum cost <= budget, 2)), over-cap home
    * cells excluded, candidates verified by levenshtein. A non-binding
    * budget derives cap = max cell size, which admits everything and
    * equals the gate's full-admission branch, so one capped formulation
    * gates both branches. abs(hb diff) <= 1 == Spark's adjacent-bucket
    * replication.
    */
  def fuzzyGateOracleSql(pairsPerDoc: Long): String =
    s"WITH $fuzzyCellsCte, " +
      "hist AS (SELECT cell_size, count(*) AS n FROM cells GROUP BY cell_size), " +
      "cum AS (SELECT cell_size, sum(n * (cell_size * (cell_size - 1) // 2)) " +
      "OVER (ORDER BY cell_size) AS c FROM hist), " +
      s"budget AS (SELECT $pairsPerDoc * (SELECT count(*) FROM documents) AS b), " +
      "cap AS (SELECT greatest(coalesce((SELECT max(cell_size) FROM cum " +
      "WHERE c <= (SELECT b FROM budget)), 2), 2) AS cap), " +
      "adm AS (SELECT ch.* FROM ch JOIN cells USING (chunk, ckey, hb) " +
      "WHERE cells.cell_size <= (SELECT cap FROM cap)), " +
      "cand AS (SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2 " +
      "FROM adm a JOIN adm b ON a.chunk = b.chunk AND a.ckey = b.ckey " +
      "AND abs(a.hb - b.hb) <= 1 AND a.doc_id < b.doc_id " +
      "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 AND abs(a.len - b.len) <= 40) " +
      "SELECT c.id_1, c.id_2, levenshtein(d1.text, d2.text)::BIGINT AS edit_dist " +
      "FROM cand c JOIN documents d1 ON c.id_1 = d1.doc_id " +
      "JOIN documents d2 ON c.id_2 = d2.doc_id " +
      "WHERE levenshtein(d1.text, d2.text) <= 40 ORDER BY id_1, id_2"

  /** DuckDB expression snippets for the text gates — single definitions
    * shared by the t1/t2/t8 oracles and the q_pipeline_chain composition
    * (`t` = a text-typed column reference).
    */
  def langHitsSql(t: String, pat: String): String =
    s"len(regexp_extract_all(lower($t), '$pat'))"
  def langIdSql(t: String): String = {
    val Seq(en, de, fr, es) = Text.LangPatterns.map { case (_, p) => langHitsSql(t, p) }
    s"(CASE WHEN $en = 0 AND $de = 0 AND $fr = 0 AND $es = 0 THEN 'und' " +
      s"WHEN $en >= $de AND $en >= $fr AND $en >= $es THEN 'en' " +
      s"WHEN $de >= $fr AND $de >= $es THEN 'de' " +
      s"WHEN $fr >= $es THEN 'fr' ELSE 'es' END)"
  }
  def qualitySql(t: String): String = {
    val en = langHitsSql(t, Text.LangPatterns.head._2)
    val toks = s"len(regexp_split_to_array(trim($t), '\\s+'))::DOUBLE"
    s"round(least(1.0, $toks / 200.0) * 0.5 + " +
      s"least(1.0, $en::DOUBLE / greatest($toks * 0.05, 1.0)) * 0.3 + " +
      s"(1.0 - least(1.0, len(regexp_extract_all($t, '[^\\w\\s]'))::DOUBLE / " +
      s"greatest(length($t)::DOUBLE, 1.0))) * 0.2, 4)"
  }
  /** Gopher-signal CTE prefix (`gsig` = one row per doc with the t13
    * signals) and the pass predicate over its columns — single definitions
    * shared by the t13 oracle and the q_quality_funnel composition so the
    * two can never drift.
    */
  val gopherCtesSql: String =
    "gw AS (SELECT doc_id, " +
      "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0) AS words, " +
      "string_split(text, chr(10)) AS lines, " +
      "len(regexp_extract_all(text, '#|\\.\\.\\.|…')) AS sym FROM documents), " +
      "gsig AS (SELECT doc_id, len(words)::BIGINT AS n_words, " +
      "CASE WHEN len(words) > 0 THEN round(list_sum(list_transform(words, x -> len(x)))::DOUBLE / len(words), 4) END AS mean_word_len, " +
      "CASE WHEN len(words) > 0 THEN round(sym::DOUBLE / len(words), 4) END AS symbol_ratio, " +
      "CASE WHEN len(words) > 0 THEN round(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]')))::DOUBLE / len(words), 4) END AS alpha_frac, " +
      "CASE WHEN len(list_filter(lines, l -> len(trim(l)) > 0)) > 0 THEN " +
      "round(len(list_filter(lines, l -> regexp_matches(trim(l), '^[-*•]')))::DOUBLE / len(list_filter(lines, l -> len(trim(l)) > 0)), 4) END AS bullet_frac, " +
      "CASE WHEN len(list_filter(lines, l -> len(trim(l)) > 0)) > 0 THEN " +
      "round(len(list_filter(lines, l -> regexp_matches(rtrim(l), '(\\.\\.\\.|…)$')))::DOUBLE / len(list_filter(lines, l -> len(trim(l)) > 0)), 4) END AS ellipsis_frac, " +
      "len(list_filter(['the','be','to','of','and','that','have','with'], " +
      "sw -> list_contains(list_transform(words, x -> lower(x)), sw)))::BIGINT AS stop_hits FROM gw)"

  val gopherPassSql: String =
    "(n_words >= 50 AND n_words <= 100000 " +
      "AND (mean_word_len IS NULL OR (mean_word_len >= 3.0 AND mean_word_len <= 10.0)) " +
      "AND (symbol_ratio IS NULL OR symbol_ratio < 0.1) " +
      "AND (bullet_frac IS NULL OR bullet_frac < 0.9) " +
      "AND (ellipsis_frac IS NULL OR ellipsis_frac < 0.3) " +
      "AND (alpha_frac IS NULL OR alpha_frac >= 0.8) " +
      "AND stop_hits >= 2)"

  /** Repetition-fraction CTE prefix (`rfrac` = one row per doc with t20's
    * three fractions over the lower/trim/split words) — shared by the t20
    * oracle and the q_quality_funnel composition. Top-word share via an
    * explicit per-word count (the Spark side's sorted-run fold computes
    * the same maximum without a shuffle).
    */
  val repetitionCtesSql: String =
    "rw AS (SELECT doc_id, " +
      "regexp_split_to_array(lower(trim(text)), '\\s+') AS ws FROM documents), " +
      "ru AS (SELECT doc_id, unnest(ws) AS word FROM rw), " +
      "rwc AS (SELECT doc_id, word, count(*)::BIGINT AS c FROM ru GROUP BY doc_id, word), " +
      "rst AS (SELECT doc_id, sum(c)::BIGINT AS n, count(*)::BIGINT AS nd, " +
      "max(c)::BIGINT AS mx FROM rwc GROUP BY doc_id), " +
      "rtri AS (SELECT doc_id, " +
      "CASE WHEN len(ws) >= 3 THEN len(ws) - 2 ELSE 0 END AS tot, " +
      "CASE WHEN len(ws) >= 3 THEN len(list_distinct(list_transform(" +
      "generate_series(1, len(ws) - 2), " +
      "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))) ELSE 0 END AS dis FROM rw), " +
      "rfrac AS (SELECT s.doc_id, s.n AS n_words, " +
      "round(1.0 - s.nd::DOUBLE / s.n, 6) AS dup_word_frac, " +
      "round(s.mx::DOUBLE / s.n, 6) AS top_word_frac, " +
      "CASE WHEN t.tot > 0 THEN round(1.0 - t.dis::DOUBLE / t.tot, 6) END AS dup_3gram_frac " +
      "FROM rst s JOIN rtri t USING (doc_id))"

  def repetitionSql(t: String): String = {
    val words = s"regexp_split_to_array(lower(trim($t)), '\\s+')"
    s"round(CASE WHEN len($words) > 0 THEN 1.0 - " +
      s"len(list_distinct($words))::DOUBLE / len($words)::DOUBLE ELSE 0.0 END, 4)"
  }

  /** DuckDB rendition of [[graft.operators.Similarity.ordinalSketch]]:
    * Σ_h CASE WHEN vec[a_h+1] > vec[b_h+1] THEN 2^h — the SAME md5-derived
    * index pairs the Scala side uses (the pairs are the operator's
    * parameters, like a seed; the sketch/bucketing/ranking computation
    * itself is expressed independently in SQL). DuckDB lists are 1-based.
    */
  /** The d5f/d5g gated-choice oracle: re-derives embeddingNearDupsLSH's
    * plan decision in SQL — the banded bucket pricing, the integer
    * admission comparison (× 10 = the 1/10 admission gate), and BOTH
    * branch pipelines, with the unchosen branch filtered out by the gate —
    * so the CHOICE arithmetic is what the hash compare verifies.
    */
  def embedAutoOracleSql(bands: Int, bits: Int): String = {
    val bandSelects = (0 until bands).map { b =>
      s"SELECT vec_id, $b AS band, " +
        ordinalSketchSql("embedding", dim = 64, bits = bits, seed = 1000L + b) +
        " AS bkey FROM embeddings"
    }.mkString(" UNION ALL ")
    s"WITH bands AS ($bandSelects), " +
      "gate AS (SELECT (SELECT sum(b * (b - 1) // 2) FROM " +
      "(SELECT count(*) AS b FROM bands GROUP BY band, bkey)) * 10 <= " +
      "(SELECT count(*) * (count(*) - 1) // 2 FROM embeddings) AS use_lsh), " +
      "cand AS (SELECT DISTINCT a.vec_id AS id_1, b.vec_id AS id_2 " +
      "FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey " +
      "AND a.vec_id < b.vec_id), " +
      "lshres AS (SELECT c.id_1, c.id_2, " +
      "round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) AS cosine " +
      "FROM cand c JOIN embeddings e1 ON c.id_1 = e1.vec_id " +
      "JOIN embeddings e2 ON c.id_2 = e2.vec_id " +
      "WHERE round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) >= 0.45), " +
      "exres AS (SELECT a.vec_id AS id_1, b.vec_id AS id_2, " +
      "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine " +
      "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
      "WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45) " +
      "SELECT * FROM lshres WHERE (SELECT use_lsh FROM gate) " +
      "UNION ALL SELECT * FROM exres WHERE NOT (SELECT use_lsh FROM gate) " +
      "ORDER BY id_1, id_2"
  }

  /** The d5h/d5i gated-choice ingest oracle — [[embedAutoOracleSql]]'s
    * cross-corpus form: bucket counts per side, Σ n_batch·n_corpus vs
    * batch×corpus under the ×10 integer gate, both branch match-sets
    * (banded-candidate verify vs exact cross scan) gated on the choice,
    * surviving batch rows out.
    */
  def embedIncrAutoOracleSql(bands: Int, bits: Int): String = {
    val bandSelects = (0 until bands).map { b =>
      s"SELECT vec_id, $b AS band, " +
        ordinalSketchSql("embedding", dim = 64, bits = bits, seed = 1000L + b) +
        " AS bkey FROM embeddings"
    }.mkString(" UNION ALL ")
    s"WITH bands AS ($bandSelects), " +
      "nb AS (SELECT * FROM bands WHERE vec_id % 11 = 0), " +
      "cb AS (SELECT * FROM bands WHERE vec_id % 11 != 0), " +
      "gate AS (SELECT coalesce((SELECT sum(x.n * y.n) FROM " +
      "(SELECT band, bkey, count(*) AS n FROM nb GROUP BY band, bkey) x " +
      "JOIN (SELECT band, bkey, count(*) AS n FROM cb GROUP BY band, bkey) y " +
      "USING (band, bkey)), 0) * 10 <= " +
      "(SELECT count(*) FILTER (vec_id % 11 = 0) * count(*) FILTER (vec_id % 11 != 0) " +
      "FROM embeddings) AS use_lsh), " +
      "cand AS (SELECT DISTINCT n.vec_id AS id_1, c.vec_id AS id_2 " +
      "FROM nb n JOIN cb c ON n.band = c.band AND n.bkey = c.bkey), " +
      "mlsh AS (SELECT DISTINCT c.id_1 FROM cand c " +
      "JOIN embeddings e1 ON c.id_1 = e1.vec_id " +
      "JOIN embeddings e2 ON c.id_2 = e2.vec_id " +
      "WHERE round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) >= 0.45), " +
      "mex AS (SELECT DISTINCT a.vec_id AS id_1 FROM embeddings a " +
      "JOIN embeddings b ON a.vec_id % 11 = 0 AND b.vec_id % 11 != 0 " +
      "WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.45), " +
      "m AS (SELECT id_1 FROM mlsh WHERE (SELECT use_lsh FROM gate) " +
      "UNION ALL SELECT id_1 FROM mex WHERE NOT (SELECT use_lsh FROM gate)) " +
      "SELECT vec_id, label FROM embeddings WHERE vec_id % 11 = 0 " +
      "AND vec_id NOT IN (SELECT id_1 FROM m) ORDER BY vec_id"
  }

  def ordinalSketchSql(vecExpr: String, dim: Int, bits: Int, seed: Long): String =
    Similarity.ordinalIndexPairs(dim, bits, seed).zipWithIndex.map { case ((a, b), h) =>
      s"(CASE WHEN $vecExpr[${a + 1}] > $vecExpr[${b + 1}] THEN ${1L << h} ELSE 0 END)"
    }.mkString("(", " + ", ")::BIGINT")

  /** DuckDB rendition of [[graft.operators.Similarity.kmeansAssign]] (Lloyd
    * iterations with md5 seeding) feeding the IVF probe path — the
    * sim_ivf_trained oracle. Mirrors the Scala side step for step: seeds =
    * k smallest md5("<seed>:<id>") rows; each pass assigns by argmax of
    * round(cosine, 6) with ties to the lowest cell; re-centering is the
    * 4dp-rounded, -0.0-normalized, float-quantized per-coordinate mean.
    * The final IVF stage recomputes cell centroids from the trained
    * assignment exactly as `ivfTopK` does via `labelCentroidVectors`.
    */
  /** The deterministic-Lloyd training CTEs shared by every trained-IVF
    * oracle (`a2` = the final assignment, `cents` = its centroids) —
    * [[kmeansIvfSql]] probes them, the sim_ivf_stats oracle counts them.
    */
  /** `tag` suffixes every CTE name (c0→c0r, …, cents→centsr) so TWO
    * trainings over different sources can compose in one statement (the
    * sim_ivf_retrain oracle trains the frozen quantizer AND the
    * from-scratch union rebuild); the default "" keeps every existing
    * consumer's `a2`/`cents` references intact.
    */
  def kmeansCtesSql(dim: Int, k: Int, seed: String,
                    src: String = "embeddings",
                    tag: String = ""): String =
    kmeansCtesSqlExpr(dim, k.toString, seed, src, tag)

  /** [[kmeansCtesSql]] with k stated as a SQL EXPRESSION — the derived-k
    * oracle's form (r18 VERDICT #1): `kExpr` may be a scalar subquery
    * over an earlier CTE (e.g. `(SELECT dk FROM kd)`), so the training's
    * own seed-set size is re-derived by the oracle from the data rather
    * than interpolated as a constant the Spark side happens to agree
    * with. Only the c0 seed filter consumes k — every later CTE is
    * k-generic (GROUP BY over whatever cells survive).
    */
  def kmeansCtesSqlExpr(dim: Int, kExpr: String, seed: String,
                        src: String = "embeddings",
                        tag: String = ""): String = {
    val centCols = (1 to dim).map(i =>
      s"CAST(CAST(round(avg(embedding[$i]), 4) + 0.0 AS FLOAT) AS DOUBLE)").mkString(", ")
    def cos(a: String, b: String) = s"round(list_cosine_similarity($a, $b), 6)"
    def assign(from: String, cents: String) =
      s"SELECT vec_id, embedding, cell FROM (SELECT e.vec_id, e.embedding, c.cell, " +
        s"row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
        s"${cos("e.embedding::DOUBLE[]", "c.centroid")} DESC, c.cell ASC) AS rn " +
        s"FROM $from e CROSS JOIN $cents c) WHERE rn = 1"
    s"WITH c0$tag AS (SELECT cell, centroid FROM (SELECT embedding::DOUBLE[] AS centroid, " +
      s"row_number() OVER (ORDER BY md5('$seed:' || CAST(vec_id AS VARCHAR)), " +
      s"CAST(vec_id AS VARCHAR)) - 1 AS cell FROM $src) WHERE cell < $kExpr), " +
      s"a1$tag AS (${assign(src, s"c0$tag")}), " +
      s"c1$tag AS (SELECT cell, [$centCols] AS centroid FROM a1$tag GROUP BY cell), " +
      s"a2$tag AS (${assign(src, s"c1$tag")}), " +
      s"cents$tag AS (SELECT cell, [$centCols] AS centroid FROM a2$tag GROUP BY cell)"
  }

  def kmeansIvfSql(dim: Int, k: Int, probes: Int, topK: Int,
                   seed: String): String = {
    def cos(a: String, b: String) = s"round(list_cosine_similarity($a, $b), 6)"
    s"${kmeansCtesSql(dim, k, seed)}, " +
      "q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10), " +
      "cellrank AS (SELECT q.query_id, q.qe, c.cell, row_number() OVER (" +
      "PARTITION BY q.query_id ORDER BY " +
      s"${cos("q.qe::DOUBLE[]", "c.centroid")} DESC, c.cell ASC) AS crn " +
      "FROM q CROSS JOIN cents c), " +
      s"probed AS (SELECT query_id, qe, cell FROM cellrank WHERE crn <= $probes), " +
      "scored AS (SELECT p.query_id, e.vec_id AS neighbor_id, " +
      s"${cos("p.qe::DOUBLE[]", "e.embedding::DOUBLE[]")} AS cosine " +
      "FROM probed p JOIN a2 e ON e.cell = p.cell AND e.vec_id != p.query_id), " +
      "ranked AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (" +
      "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored) " +
      s"SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= $topK " +
      "ORDER BY query_id, rank"
  }

  /** The sim_ivf_update_sql from-scratch oracle: deterministic Lloyd on
    * the BASE split only (the trained, frozen quantizer), the day-2
    * batch assigned to those same centroids by the argmax window, and
    * the probe's top-k over the UNION of base and batch cells — the
    * update lifecycle (INSERT + CTAS compaction) must be invisible
    * relative to this.
    */
  def ivfUpdateOracleSql(dim: Int, k: Int, probes: Int, topK: Int,
                         seed: String): String = {
    def cos(a: String, b: String) = s"round(list_cosine_similarity($a, $b), 6)"
    val base = "(SELECT * FROM embeddings WHERE vec_id % 5 != 0)"
    s"${kmeansCtesSql(dim, k, seed, src = base)}, " +
      "nb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0), " +
      "anew AS (SELECT vec_id, embedding, cell FROM (SELECT e.vec_id, e.embedding, c.cell, " +
      s"row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
      s"${cos("e.embedding::DOUBLE[]", "c.centroid")} DESC, c.cell ASC) AS rn " +
      "FROM nb e CROSS JOIN cents c) WHERE rn = 1), " +
      "cells AS (SELECT vec_id, embedding, cell FROM a2 " +
      "UNION ALL SELECT vec_id, embedding, cell FROM anew), " +
      "q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10), " +
      "cellrank AS (SELECT q.query_id, q.qe, c.cell, row_number() OVER (" +
      "PARTITION BY q.query_id ORDER BY " +
      s"${cos("q.qe::DOUBLE[]", "c.centroid")} DESC, c.cell ASC) AS crn " +
      "FROM q CROSS JOIN cents c), " +
      s"probed AS (SELECT query_id, qe, cell FROM cellrank WHERE crn <= $probes), " +
      "scored AS (SELECT p.query_id, e.vec_id AS neighbor_id, " +
      s"${cos("p.qe::DOUBLE[]", "e.embedding::DOUBLE[]")} AS cosine " +
      "FROM probed p JOIN cells e ON e.cell = p.cell AND e.vec_id != p.query_id), " +
      "ranked AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (" +
      "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored) " +
      s"SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= $topK " +
      "ORDER BY query_id, rank"
  }

  /** The sim_ivf_retrain from-scratch oracle — the WHOLE arc re-derived
    * in SQL (the d4d discipline: the decision arithmetic is what the
    * hash verifies, not just a chosen branch's output): train the
    * frozen bootstrap quantizer on the first 16 vectors (`a2`/`cents`),
    * argmax the remaining append against it, aggregate the PRE
    * occupancy and its imbalance, train the union rebuild from scratch
    * (`a2r`, the tag'd second Lloyd), aggregate the POST occupancy, and
    * emit ONE ARM PER THRESHOLD with every post-decision column
    * CASE-gated on `pre.imbalance > threshold` — an engine that
    * retrained without the trigger, or skipped the rebuild with it,
    * hash-mismatches on that arm's branch columns.
    */
  def ivfRetrainOracleSql(dim: Int, k: Int, seed: String,
                          thresholds: Seq[Double]): String = {
    def cos(a: String, b: String) = s"round(list_cosine_similarity($a, $b), 6)"
    def occStats(src: String) =
      s"SELECT count(*)::BIGINT AS cells, sum(n)::BIGINT AS vectors, " +
        s"max(n)::BIGINT AS max_cell, round(avg(n), 6) AS mean_cell, " +
        s"round(max(n) / avg(n), 6) AS imbalance FROM $src"
    def arm(threshold: Double) = {
      val trig = s"pre.imbalance > $threshold"
      val branch = Seq("cells", "vectors", "max_cell", "mean_cell", "imbalance")
        .map(c => s"CASE WHEN $trig THEN post.$c ELSE pre.$c END AS $c")
        .mkString(", ")
      s"SELECT CAST($threshold AS DOUBLE) AS threshold, " +
        s"pre.imbalance AS pre_imbalance, " +
        s"$trig AS retrained, $branch FROM pre, post"
    }
    s"${kmeansCtesSql(dim, k, seed, src = "(SELECT * FROM embeddings WHERE vec_id < 16)")}, " +
      "nb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 16), " +
      "anew AS (SELECT vec_id, cell FROM (SELECT e.vec_id, c.cell, " +
      s"row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
      s"${cos("e.embedding::DOUBLE[]", "c.centroid")} DESC, c.cell ASC) AS rn " +
      "FROM nb e CROSS JOIN cents c) WHERE rn = 1), " +
      "occpre AS (SELECT cell, count(*)::BIGINT AS n FROM " +
      "(SELECT cell FROM a2 UNION ALL SELECT cell FROM anew) GROUP BY cell), " +
      s"pre AS (${occStats("occpre")}), " +
      s"${kmeansCtesSql(dim, k, seed, src = "embeddings", tag = "r").stripPrefix("WITH ")}, " +
      "occpost AS (SELECT cell, count(*)::BIGINT AS n FROM a2r GROUP BY cell), " +
      s"post AS (${occStats("occpost")}) " +
      thresholds.map(arm).mkString(" UNION ALL ") +
      " ORDER BY threshold"
  }

  /** The sim_ivf_retrain_k from-scratch oracle (r18 VERDICT #1): the k
    * DERIVATION re-derived in SQL and then USED — per arm, `kd` computes
    * want = ceil(vectors/target), derived = min(maxK, max(1, cells,
    * want)) and clamp = the same at maxK = clampMaxK from the bootstrap-
    * append pre-occupancy, and the union rebuild's Lloyd training takes
    * its seed count FROM that derivation (`(SELECT dk_<tag> FROM kd)` in
    * the c0 filter) — so the post-occupancy columns gate the k'-rebuild
    * against a from-scratch build at the ORACLE's own derived k, not at
    * a constant both sides were handed.
    */
  def ivfRetrainKOracleSql(dim: Int, bootK: Int, seed: String,
                           targets: Seq[(Long, String)],
                           clampMaxK: Int, maxK: Int): String = {
    def cos(a: String, b: String) = s"round(list_cosine_similarity($a, $b), 6)"
    def occStats(src: String) =
      s"SELECT count(*)::BIGINT AS cells, sum(n)::BIGINT AS vectors, " +
        s"max(n)::BIGINT AS max_cell, round(avg(n), 6) AS mean_cell, " +
        s"round(max(n) / avg(n), 6) AS imbalance FROM $src"
    val kdCols = targets.map { case (t, tg) =>
      def want = s"CAST(ceil(vectors / $t.0) AS BIGINT)"
      s"$want AS want_$tg, " +
        s"CAST(LEAST($maxK, GREATEST(1, cells, $want)) AS BIGINT) AS dk_$tg, " +
        s"CAST(LEAST($clampMaxK, GREATEST(1, cells, $want)) AS BIGINT) AS ck_$tg"
    }.mkString(", ")
    val trainings = targets.map { case (_, tg) =>
      s"${kmeansCtesSqlExpr(dim, s"(SELECT dk_$tg FROM kd)", seed,
        src = "embeddings", tag = tg).stripPrefix("WITH ")}, " +
        s"occpost$tg AS (SELECT cell, count(*)::BIGINT AS n FROM a2$tg GROUP BY cell), " +
        s"post$tg AS (${occStats(s"occpost$tg")})"
    }.mkString(", ")
    val arms = targets.map { case (t, tg) =>
      s"SELECT CAST($t AS BIGINT) AS target_mean_cell, " +
        "pre.cells AS pre_cells, pre.vectors AS pre_vectors, " +
        "pre.imbalance AS pre_imbalance, " +
        s"kd.want_$tg AS want_k, kd.dk_$tg AS derived_k, kd.ck_$tg AS clamp_k, " +
        s"post$tg.cells, post$tg.vectors, post$tg.max_cell, " +
        s"post$tg.mean_cell, post$tg.imbalance FROM pre, kd, post$tg"
    }.mkString(" UNION ALL ")
    s"${kmeansCtesSql(dim, bootK, seed, src = "(SELECT * FROM embeddings WHERE vec_id < 16)")}, " +
      "nb AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id >= 16), " +
      "anew AS (SELECT vec_id, cell FROM (SELECT e.vec_id, c.cell, " +
      s"row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
      s"${cos("e.embedding::DOUBLE[]", "c.centroid")} DESC, c.cell ASC) AS rn " +
      "FROM nb e CROSS JOIN cents c) WHERE rn = 1), " +
      "occpre AS (SELECT cell, count(*)::BIGINT AS n FROM " +
      "(SELECT cell FROM a2 UNION ALL SELECT cell FROM anew) GROUP BY cell), " +
      s"pre AS (${occStats("occpre")}), " +
      s"kd AS (SELECT $kdCols FROM pre), " +
      s"$trainings " +
      arms + " ORDER BY target_mean_cell"
  }

  /** As-of-join oracle (union-merge in SQL) — shared by j3_asof_join and
    * j3b_asof_bucketed: the bucketed two-pass variant must reproduce the
    * same relation bit for bit.
    */
  val asofOracleSql: String =
    "WITH clicks AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
      "WHERE event_type = 'click'), " +
      "purchases AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
      "WHERE event_type = 'purchase'), " +
      "u AS (SELECT user_id AS k, ts_us AS t, 0 AS tag, event_id AS tb, " +
      "NULL::BIGINT AS l_event, event_id AS b_event, ts_us AS b_ts FROM clicks " +
      "UNION ALL SELECT user_id, ts_us, 1, NULL, event_id, NULL, NULL FROM purchases), " +
      "f AS (SELECT *, last_value(b_event IGNORE NULLS) OVER w AS r_event_id, " +
      "last_value(b_ts IGNORE NULLS) OVER w AS r_ts_us FROM u " +
      "WINDOW w AS (PARTITION BY k ORDER BY t, tag, tb NULLS FIRST " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) " +
      "SELECT l_event AS event_id, k AS user_id, t AS ts_us, r_event_id, r_ts_us " +
      "FROM f WHERE tag = 1 ORDER BY event_id"

  /** Distinct word-trigram shingle sets over relation `src` (exposing
    * doc_id, text) — the decontamination oracle's gram builder, mirroring
    * `Dedup.shingleSets(n = 3)` semantics.
    */
  def trigramGramsSqlOver(src: String): String =
    "SELECT doc_id, list_distinct(list_transform(" +
      "range(1, len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 1), " +
      "i -> regexp_split_to_array(lower(trim(text)), '\\s+')[i] || ' ' || " +
      "regexp_split_to_array(lower(trim(text)), '\\s+')[i+1] || ' ' || " +
      "regexp_split_to_array(lower(trim(text)), '\\s+')[i+2])) AS grams FROM " + src

  /** [[trigramGramsSqlOver]] generalized to any gram width — the d7e
    * exact-13-gram oracle's builder, mirroring `Dedup.shingleSets(n)`:
    * distinct space-joined word n-grams (raw strings here; Spark counts
    * 64-bit shingle keys — identical modulo hash collisions, as
    * everywhere).
    */
  def ngramGramsSqlOver(src: String, n: Int): String = {
    val w = "regexp_split_to_array(lower(trim(text)), '\\s+')"
    val terms = (0 until n).map(j => s"$w[i+$j]").mkString(" || ' ' || ")
    s"SELECT doc_id, list_distinct(list_transform(range(1, len($w) - ${n - 2}), " +
      s"i -> $terms)) AS grams FROM $src"
  }

  /** Containment CTE chain over pre-built `tsh` (train) / `xsh` (test) gram
    * relations: yields `contam(test_id, train_id, containment)` — shared by
    * the d7 oracle and the curation-chain oracle. Mirrors
    * `Dedup.decontaminationPairs`' candidate cap + exact verify.
    */
  def decontaminationCtes(maxDf: Int): String =
    "ti AS (SELECT doc_id AS train_id, unnest(grams) AS s FROM tsh), " +
      s"rare AS (SELECT s FROM (SELECT s, count(*) AS df FROM ti GROUP BY s) WHERE df <= $maxDf), " +
      "xi AS (SELECT doc_id AS test_id, unnest(grams) AS s FROM xsh), " +
      "cand AS (SELECT DISTINCT x.test_id, t.train_id FROM xi x JOIN rare r ON x.s = r.s " +
      "JOIN ti t ON t.s = x.s), " +
      "contam AS (SELECT c.test_id, c.train_id, " +
      "round(len(list_intersect(xs.grams, ts.grams))::DOUBLE / len(xs.grams), 6) AS containment " +
      "FROM cand c JOIN xsh xs ON xs.doc_id = c.test_id JOIN tsh ts ON ts.doc_id = c.train_id)"

  /** Exact word-bigram Jaccard pairs over relation `src` (threshold `th`) —
    * shared by the d4_ngram_jaccard / d6_components / q_pipeline_chain
    * oracles. `src` must expose (doc_id, text).
    */
  def bigramJaccardSqlOver(src: String, th: Double): String =
    s"WITH sh AS (SELECT doc_id, list_distinct(list_transform(" +
      s"range(1, len(regexp_split_to_array(lower(trim(text)), '\\s+'))), " +
      s"i -> regexp_split_to_array(lower(trim(text)), '\\s+')[i] || ' ' || " +
      s"regexp_split_to_array(lower(trim(text)), '\\s+')[i+1])) AS grams FROM $src), " +
      "inv AS (SELECT doc_id, len(grams) AS n_sh, unnest(grams) AS s FROM sh) " +
      "SELECT a.doc_id AS id_1, b.doc_id AS id_2, " +
      "round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) AS jaccard " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id " +
      "GROUP BY a.doc_id, b.doc_id " +
      s"HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= $th"

  val bigramJaccardSql: String = bigramJaccardSqlOver("documents", 0.1)

  /** Shared by d2f / d2g — the exact all-pairs relation over the
    * dup-injected fixture both rows use (the auto entry is
    * result-identical to the collapsed one by construction).
    */
  def dupInjectedMinhashOracleSql: String =
    "WITH dd AS (SELECT doc_id, text FROM documents UNION ALL " +
      "SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 10 = 0), " +
      trigramShCteOver("dd") + ", " +
      "inv AS (SELECT doc_id, len(grams) AS n_sh, unnest(grams) AS s FROM sh) " +
      "SELECT a.doc_id AS id_1, b.doc_id AS id_2, " +
      "round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) AS jaccard " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id " +
      "GROUP BY a.doc_id, b.doc_id " +
      "HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= 0.5 " +
      "ORDER BY id_1, id_2"

  /** The distinct-trigram sets CTE over `documents` — shared by the d4b /
    * d4c / d4d oracles so the shingling text can never drift between the
    * fixed-cap, diagnostic, and derived-cap rows. Declared BEFORE its
    * consumers: object vals initialize in order.
    */
  def trigramShCteOver(rel: String): String =
    "sh AS (SELECT doc_id, list_distinct(list_transform(" +
      "range(1, len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 1), " +
      "i -> regexp_split_to_array(lower(trim(text)), '\\s+')[i] || ' ' || " +
      "regexp_split_to_array(lower(trim(text)), '\\s+')[i+1] || ' ' || " +
      s"regexp_split_to_array(lower(trim(text)), '\\s+')[i+2])) AS grams FROM $rel)"

  val trigramShCte: String = trigramShCteOver("documents")

  /** The d6 components relation (transitive closure over the bigram pair
    * set, canonical = min id) — shared verbatim by the from-scratch row
    * (d6) and the incremental-fold row (d6c), whose whole contract is
    * producing this exact relation.
    */
  lazy val d6OracleSql: String =
    s"WITH RECURSIVE pairs AS ($bigramJaccardSql), " +
      "bidir AS (SELECT id_1, id_2 FROM pairs UNION SELECT id_2, id_1 FROM pairs), " +
      "nodes AS (SELECT DISTINCT id_1 AS id FROM bidir), " +
      "reach(id, r) AS (SELECT id, id FROM nodes " +
      "UNION SELECT b.id_1, r.r FROM reach r JOIN bidir b ON b.id_2 = r.id) " +
      "SELECT id AS doc_id, min(r) AS component FROM reach GROUP BY id ORDER BY doc_id"

  /** The s5k relation's oracle — shared verbatim by the operator row
    * (s5k) and the SQL-text row (s5l): one canonical DuckDB statement,
    * two engine-side renderings.
    */
  val s5kOracleSql: String =
    "WITH toks AS (SELECT doc_id, source, CAST(n_chars AS DOUBLE) AS score, " +
      "len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]'))::BIGINT AS n_tokens " +
      "FROM documents), " +
      "sel AS (SELECT doc_id, source, score, n_tokens, " +
      "sum(n_tokens) OVER (PARTITION BY source ORDER BY score DESC, doc_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum FROM toks) " +
      "SELECT doc_id, source, score, n_tokens FROM sel " +
      "WHERE cum <= CASE source WHEN 'src0' THEN 40000 WHEN 'src1' THEN 25000 " +
      "WHEN 'src2' THEN 10000 ELSE -1 END " +
      "ORDER BY doc_id"

  /** The x12c JSON-lift oracle — DuckDB's NATIVE json path, faithful to
    * from_json(LongType) on every regime (malformed → NULL via
    * json_valid; nested $.k absent → NULL; float → json_type DOUBLE →
    * NULL).
    */
  val x12OracleSql: String =
    "SELECT event_type, count(*) AS n_events, count(k) AS n_k, " +
      "CAST(sum(k) AS BIGINT) AS sum_k, min(k) AS min_k, max(k) AS max_k " +
      "FROM (SELECT event_type, " +
      "CASE WHEN json_valid(props) AND json_type(props, '$.k') IN ('BIGINT', 'UBIGINT') " +
      "THEN try_cast(json_extract(props, '$.k') AS BIGINT) END AS k " +
      "FROM events) GROUP BY 1 ORDER BY 1"

  /** Exact trigram-Jaccard pairs at j ≥ 0.5 over `documents` — the d2
    * family's oracle relation (the LSH output equals it: full banding
    * recall at this threshold on the corpus, no false positives by exact
    * verify). Shared by the d2 row and the s5j2 indexed-split oracle.
    */
  val trigramJaccardSql: String =
    s"WITH $trigramShCte, " +
      "inv AS (SELECT doc_id, len(grams) AS n_sh, unnest(grams) AS s FROM sh) " +
      "SELECT a.doc_id AS id_1, b.doc_id AS id_2, " +
      "round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) AS jaccard " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id < b.doc_id " +
      "GROUP BY a.doc_id, b.doc_id " +
      "HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= 0.5"

  /** d8d's lifecycle oracle (shared verbatim by the SQL-text lifecycle
    * d8f): day-3 survivors against the from-scratch day-1 ∪ day-2-survivor
    * fingerprint set.
    */
  def d8dOracleSql: String =
    "WITH fp AS (SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint " +
      "FROM documents), " +
      "s2 AS (SELECT fingerprint FROM fp WHERE doc_id % 8 = 0 " +
      "AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 8 >= 2)) " +
      "SELECT doc_id, fingerprint FROM fp WHERE doc_id % 8 = 1 " +
      "AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 8 >= 2) " +
      "AND fingerprint NOT IN (SELECT fingerprint FROM s2) " +
      "ORDER BY doc_id"

  /** d7's decontamination oracle — shared verbatim by the index replay
    * (d7b): the train shingle sets and df-capped inverted index are the
    * same relations whether derived inline or loaded from parquet.
    */
  val d7OracleSql: String =
    s"WITH tsh AS (${trigramGramsSqlOver("documents WHERE doc_id % 4 != 0")}), " +
      s"xsh AS (${trigramGramsSqlOver("documents WHERE doc_id % 4 = 0")}), " +
      decontaminationCtes(maxDf = 50) + " " +
      "SELECT c.test_id, c.train_id, c.containment FROM contam c " +
      "WHERE c.containment >= 0.5 ORDER BY test_id, train_id"

  /** d8's exact-ingest oracle — shared verbatim by the index replay (d8c):
    * the distinct-fingerprint relation is identical whether computed
    * inline or loaded from the materialized index.
    */
  val d8OracleSql: String =
    "WITH fp AS (SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint " +
      "FROM documents) " +
      "SELECT doc_id, fingerprint FROM fp WHERE doc_id % 10 = 0 " +
      "AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 10 != 0) " +
      "ORDER BY doc_id"

  /** d5c's embedding-ingest oracle (d5b's banded-ordinal recipe in the
    * cross-corpus probe shape, then the surviving batch rows) — shared
    * verbatim by the index replay (d5d).
    */
  /** The d5j from-scratch oracle: the three-way %4 split (base ≥2, day-2
    * = 0, day-3 probe = 1) replayed WITHOUT the index — day-2 survivors
    * are the batch rows with no banded-candidate cosine match in the
    * base, the probe screens against base ∪ survivors. Any fold-ordering
    * bug, partial compaction, or band/vector drift in the SQL lifecycle
    * shows up as a hash mismatch against this.
    */
  val d5jOracleSql: String = {
    val bandSelects = (0 until 32).map { b =>
      s"SELECT vec_id, $b AS band, " +
        ordinalSketchSql("embedding", dim = 64, bits = 4, seed = 1000L + b) +
        " AS bkey FROM embeddings"
    }.mkString(" UNION ALL ")
    def cos = "round(list_cosine_similarity(e1.embedding::DOUBLE[], " +
      "e2.embedding::DOUBLE[]), 6) >= 0.45"
    s"WITH bands AS ($bandSelects), " +
      "base AS (SELECT * FROM bands WHERE vec_id % 4 >= 2), " +
      "day2 AS (SELECT * FROM bands WHERE vec_id % 4 = 0), " +
      "cand2 AS (SELECT DISTINCT n.vec_id AS id_1, c.vec_id AS id_2 " +
      "FROM day2 n JOIN base c ON n.band = c.band AND n.bkey = c.bkey), " +
      "m2 AS (SELECT DISTINCT c.id_1 FROM cand2 c " +
      "JOIN embeddings e1 ON c.id_1 = e1.vec_id " +
      s"JOIN embeddings e2 ON c.id_2 = e2.vec_id WHERE $cos), " +
      "idx AS (SELECT * FROM base UNION ALL " +
      "SELECT * FROM day2 WHERE vec_id NOT IN (SELECT id_1 FROM m2)), " +
      "day3 AS (SELECT * FROM bands WHERE vec_id % 4 = 1), " +
      "cand3 AS (SELECT DISTINCT n.vec_id AS id_1, c.vec_id AS id_2 " +
      "FROM day3 n JOIN idx c ON n.band = c.band AND n.bkey = c.bkey), " +
      "m3 AS (SELECT DISTINCT c.id_1 FROM cand3 c " +
      "JOIN embeddings e1 ON c.id_1 = e1.vec_id " +
      s"JOIN embeddings e2 ON c.id_2 = e2.vec_id WHERE $cos) " +
      "SELECT vec_id, label FROM embeddings WHERE vec_id % 4 = 1 " +
      "AND vec_id NOT IN (SELECT id_1 FROM m3) ORDER BY vec_id"
  }

  val d5cOracleSql: String = {
    val bandSelects = (0 until 32).map { b =>
      s"SELECT vec_id, $b AS band, " +
        ordinalSketchSql("embedding", dim = 64, bits = 4, seed = 1000L + b) +
        " AS bkey FROM embeddings"
    }.mkString(" UNION ALL ")
    s"WITH bands AS ($bandSelects), " +
      "nb AS (SELECT * FROM bands WHERE vec_id % 11 = 0), " +
      "cb AS (SELECT * FROM bands WHERE vec_id % 11 != 0), " +
      "cand AS (SELECT DISTINCT n.vec_id AS id_1, c.vec_id AS id_2 " +
      "FROM nb n JOIN cb c ON n.band = c.band AND n.bkey = c.bkey), " +
      "m AS (SELECT DISTINCT c.id_1 FROM cand c " +
      "JOIN embeddings e1 ON c.id_1 = e1.vec_id " +
      "JOIN embeddings e2 ON c.id_2 = e2.vec_id " +
      "WHERE round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) >= 0.45) " +
      "SELECT vec_id, label FROM embeddings WHERE vec_id % 11 = 0 " +
      "AND vec_id NOT IN (SELECT id_1 FROM m) ORDER BY vec_id"
  }

  /** d2b's MinHash-ingest oracle (brute-force cross-corpus trigram-Jaccard
    * matches ≥ 0.5, then the surviving batch rows) — shared verbatim by
    * the index replay (d2c).
    */
  /** The dashboard chain (pivot → forward-fill → per-nation stats, the
    * reference's entry-point-2 at app.py:1004-1176) as ONE SQL TEMPLATE
    * rendered for either engine — unlike q_covid_sql's single shared
    * string, the dashboard needs two engine-specific fragments (DuckDB's
    * `strftime`/inside-parens `IGNORE NULLS` vs Spark's `date_format`/
    * ANSI-position `IGNORE NULLS`); everything else — the pivot CASE, the
    * LOCF window, the decimal-exact averages — is byte-identical, so the
    * two renderings remain ONE canonical query. `forSpark = false` is
    * simultaneously q_dashboard_chain's oracle and q_dashboard_sql's,
    * making the DataFrame chain, the Spark SQL text, and the DuckDB replay
    * three renderings of the same relation.
    */
  def dashboardSqlText(forSpark: Boolean): String = {
    val month =
      if (forSpark) "date_format(o_orderdate, 'yyyy-MM')"
      else "strftime(o_orderdate, '%Y-%m')"
    val locf =
      if (forSpark) "last_value(building) IGNORE NULLS OVER "
      else "last_value(building IGNORE NULLS) OVER "
    "WITH enriched AS (" +
      "SELECT o.*, c.c_nationkey AS r_c_nationkey, c.c_mktsegment AS r_c_mktsegment " +
      "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
      "WHERE o.o_orderdate BETWEEN TIMESTAMP '1995-01-01' AND TIMESTAMP '1996-12-31' " +
      "AND c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')), " +
      s"mo AS (SELECT *, $month AS o_month FROM enriched), " +
      "tile AS (SELECT round(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) " +
      "AS DECIMAL(38,2)) AS DOUBLE) / count(*), 4) AS tile_avg_totalprice FROM mo), " +
      "piv AS (SELECT r_c_nationkey, o_month, " +
      "max(CASE WHEN r_c_mktsegment = 'BUILDING' THEN o_totalprice END) AS building " +
      "FROM mo GROUP BY 1, 2), " +
      "filled AS (SELECT r_c_nationkey, o_month, " +
      s"$locf(PARTITION BY r_c_nationkey " +
      "ORDER BY o_month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS building_filled " +
      "FROM piv), " +
      "stats AS (SELECT r_c_nationkey, count(*) AS count_months, " +
      "round(CAST(CAST(sum(CAST(building_filled AS DECIMAL(18,2))) AS DECIMAL(38,2)) " +
      "AS DOUBLE) / count(building_filled), 4) AS avg_building, " +
      "max(building_filled) AS max_building, " +
      "round(median(building_filled), 4) AS median_building, " +
      "round(stddev_samp(building_filled), 4) AS std_building " +
      "FROM filled GROUP BY r_c_nationkey) " +
      "SELECT s.*, n.n_nationkey AS r_n_nationkey, n.n_name AS r_n_name, " +
      "n.n_regionkey AS r_n_regionkey, t.tile_avg_totalprice " +
      "FROM stats s JOIN nation n ON s.r_c_nationkey = n.n_nationkey CROSS JOIN tile t " +
      "ORDER BY r_c_nationkey"
  }

  /** q_covid_chain's oracle — shared verbatim by q_covid_sql, which also
    * RUNS this very string through `spark.sql`: the text stays inside the
    * ANSI intersection both engines parse (decimal-cast sums, one IEEE
    * division for avg, `median`/`stddev_samp`, window dedup), so one
    * string is simultaneously the Spark query and the DuckDB oracle — the
    * strongest possible "the reference's query, as SQL text, on this
    * engine" loop-closure.
    */
  val qCovidOracleSql: String =
    "WITH enriched AS (" +
      "SELECT o.*, c.c_custkey AS r_c_custkey, c.c_name AS r_c_name, " +
      "c.c_nationkey AS r_c_nationkey, c.c_acctbal AS r_c_acctbal, " +
      "c.c_mktsegment AS r_c_mktsegment " +
      "FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey " +
      "WHERE o.o_orderdate >= TIMESTAMP '1996-01-01' " +
      "AND c.c_mktsegment IN ('BUILDING', 'AUTOMOBILE')), " +
      "latest AS (SELECT * FROM (SELECT e.*, row_number() OVER (PARTITION BY o_custkey " +
      "ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn FROM enriched e) WHERE rn = 1), " +
      "g AS (SELECT r_c_nationkey, count(*) AS count_o_totalprice, " +
      "CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) AS sum_o_totalprice, " +
      "round(CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DECIMAL(38,2)) AS DOUBLE) / count(*), 4) AS avg_o_totalprice, " +
      "max(o_totalprice) AS max_o_totalprice, " +
      "round(median(o_totalprice), 4) AS median_o_totalprice, " +
      "round(stddev_samp(o_totalprice), 4) AS std_o_totalprice " +
      "FROM latest GROUP BY r_c_nationkey) " +
      "SELECT g.*, n.n_nationkey AS r_n_nationkey, n.n_name AS r_n_name, " +
      "n.n_regionkey AS r_n_regionkey " +
      "FROM g JOIN nation n ON g.r_c_nationkey = n.n_nationkey ORDER BY r_c_nationkey"

  val trigramInvCtes: String =
    "sh AS (SELECT doc_id, list_distinct(list_transform(" +
      "range(1, len(regexp_split_to_array(lower(trim(text)), '\\s+')) - 1), " +
      "i -> regexp_split_to_array(lower(trim(text)), '\\s+')[i] || ' ' || " +
      "regexp_split_to_array(lower(trim(text)), '\\s+')[i+1] || ' ' || " +
      "regexp_split_to_array(lower(trim(text)), '\\s+')[i+2])) AS grams FROM documents), " +
      "inv AS (SELECT doc_id, len(grams) AS n_sh, unnest(grams) AS s FROM sh)"

  val d2bOracleSql: String =
    s"WITH $trigramInvCtes, " +
      "m AS (SELECT a.doc_id AS id_1 " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id % 9 = 0 AND b.doc_id % 9 != 0 " +
      "GROUP BY a.doc_id, b.doc_id " +
      "HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= 0.5) " +
      "SELECT doc_id, n_chars FROM documents WHERE doc_id % 9 = 0 " +
      "AND doc_id NOT IN (SELECT id_1 FROM m) ORDER BY doc_id"

  /** d2d's lifecycle oracle: day-2 survivors are computed brute-force
    * against the day-1 corpus (doc_id % 7 >= 2), then day-3 (doc_id % 7 =
    * 1) screens against day-1 ∪ those survivors — the from-scratch rebuild
    * of the updated index's corpus. The Spark side must bit-match via
    * build → probe+update → probe on the materialized index.
    */
  val d2dOracleSql: String =
    s"WITH $trigramInvCtes, " +
      "m2 AS (SELECT a.doc_id AS id_1 " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id % 7 = 0 AND b.doc_id % 7 >= 2 " +
      "GROUP BY a.doc_id, b.doc_id " +
      "HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= 0.5), " +
      "s2 AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0 " +
      "AND doc_id NOT IN (SELECT id_1 FROM m2)), " +
      "m3 AS (SELECT a.doc_id AS id_1 " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id % 7 = 1 " +
      "AND (b.doc_id % 7 >= 2 OR b.doc_id IN (SELECT doc_id FROM s2)) " +
      "GROUP BY a.doc_id, b.doc_id " +
      "HAVING round(count(*)::DOUBLE / (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= 0.5) " +
      "SELECT doc_id, n_chars FROM documents WHERE doc_id % 7 = 1 " +
      "AND doc_id NOT IN (SELECT id_1 FROM m3) ORDER BY doc_id"

  /** d2i's three-generation from-scratch relation: day-2 (%7=2) screens
    * against the day-1 build (%7>=3), day-3 (%7=0) against day-1 ∪ day-2
    * survivors, the day-4 probe (%7=1) against everything admitted.
    */
  val d2iOracleSql: String = {
    val jac = "GROUP BY a.doc_id, b.doc_id HAVING round(count(*)::DOUBLE / " +
      "(any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 6) >= 0.5"
    s"WITH $trigramInvCtes, " +
      "m2 AS (SELECT a.doc_id AS id_1 " +
      s"FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id % 7 = 2 AND b.doc_id % 7 >= 3 $jac), " +
      "s2 AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 2 " +
      "AND doc_id NOT IN (SELECT id_1 FROM m2)), " +
      "m3 AS (SELECT a.doc_id AS id_1 " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id % 7 = 0 " +
      s"AND (b.doc_id % 7 >= 3 OR b.doc_id IN (SELECT doc_id FROM s2)) $jac), " +
      "s3 AS (SELECT doc_id FROM documents WHERE doc_id % 7 = 0 " +
      "AND doc_id NOT IN (SELECT id_1 FROM m3)), " +
      "m4 AS (SELECT a.doc_id AS id_1 " +
      "FROM inv a JOIN inv b ON a.s = b.s AND a.doc_id % 7 = 1 " +
      "AND (b.doc_id % 7 >= 3 OR b.doc_id IN (SELECT doc_id FROM s2) " +
      s"OR b.doc_id IN (SELECT doc_id FROM s3)) $jac) " +
      "SELECT doc_id, n_chars FROM documents WHERE doc_id % 7 = 1 " +
      "AND doc_id NOT IN (SELECT id_1 FROM m4) ORDER BY doc_id"
  }

  /** The x8 snapshot-diff relation, shared verbatim by x8b: bucketing the
    * snapshots changes the plan, never the diff.
    */
  val snapshotDiffOracleSql: String =
    "WITH old AS (SELECT doc_id, CASE WHEN doc_id % 7 = 0 THEN text || ' v1' " +
      "ELSE text END AS text FROM documents WHERE doc_id % 10 != 0), " +
      "new AS (SELECT doc_id, text FROM documents WHERE doc_id % 13 != 0), " +
      "j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id, " +
      "CASE WHEN o.doc_id IS NULL THEN 'added' " +
      "WHEN n.doc_id IS NULL THEN 'removed' " +
      "WHEN o.text != n.text THEN 'changed' END AS change " +
      "FROM old o FULL OUTER JOIN new n ON o.doc_id = n.doc_id) " +
      "SELECT doc_id, change FROM j WHERE change IS NOT NULL ORDER BY doc_id"

  /** The gap-sessionization relation, shared verbatim by the streaming
    * replay (e2b) and the session_window form (e2c).
    */
  val sessionWindowOracleSql: String =
    "WITH marked AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, " +
      "CASE WHEN lag(epoch_us(ts)) OVER w IS NULL " +
      "OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > 1800000000 THEN 1 ELSE 0 END AS is_break " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)), " +
      "sessions AS (SELECT user_id, ts_us, " +
      "CAST(sum(is_break) OVER (PARTITION BY user_id ORDER BY ts_us, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id FROM marked) " +
      "SELECT user_id, count(*) AS n_events, min(ts_us) AS session_start_us, " +
      "max(ts_us) AS session_end_us, max(ts_us) - min(ts_us) AS duration_us " +
      "FROM sessions GROUP BY user_id, session_id ORDER BY user_id, session_start_us"

  /** The horizon-bounded inner as-of relation of the e6 streaming replays,
    * shared verbatim by the plain (e6), sliced (e6c) and derived-width
    * (e6f) plans.
    */
  val streamAsofOracleSql: String =
    "WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
      "WHERE event_type = 'purchase'), " +
      "c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
      "WHERE event_type = 'click'), " +
      "j AS (SELECT p.event_id, p.user_id, p.ts_us, " +
      "c.event_id AS ce, c.ts_us AS cts, " +
      "row_number() OVER (PARTITION BY p.event_id " +
      "ORDER BY c.ts_us DESC, c.event_id DESC) AS rn " +
      "FROM p JOIN c ON p.user_id = c.user_id " +
      "AND c.ts_us <= p.ts_us AND c.ts_us >= p.ts_us - 3600000000) " +
      "SELECT event_id, user_id, ts_us, ce AS r_event_id, cts AS r_ts_us " +
      "FROM j WHERE rn = 1 ORDER BY event_id"

  /** The left-outer form of [[streamAsofOracleSql]], shared verbatim by the
    * plain (e6b) and sliced (e6d) plans.
    */
  val streamAsofLeftOracleSql: String =
    "WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
      "WHERE event_type = 'purchase'), " +
      "c AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events " +
      "WHERE event_type = 'click'), " +
      "j AS (SELECT p.event_id, p.user_id, p.ts_us, " +
      "c.event_id AS ce, c.ts_us AS cts, " +
      "row_number() OVER (PARTITION BY p.event_id " +
      "ORDER BY c.ts_us DESC NULLS LAST, c.event_id DESC NULLS LAST) AS rn " +
      "FROM p LEFT JOIN c ON p.user_id = c.user_id " +
      "AND c.ts_us <= p.ts_us AND c.ts_us >= p.ts_us - 3600000000) " +
      "SELECT event_id, user_id, ts_us, ce AS r_event_id, cts AS r_ts_us " +
      "FROM j WHERE rn = 1 ORDER BY event_id"
}
