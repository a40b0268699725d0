package graft
package verify

import graft.operators._
import org.apache.spark.sql.functions._

import OracleSql._
import RowHelpers._

/** Verify rows for exact, near-dup and embedding dedup and vector search. */
private[verify] object DedupRows {

  val rows: Seq[VerifyRow] = Seq(
    // D1: exact dedup by normalized-text fingerprint
    VerifyRow("d1_dedup_exact",
      (s, d) =>
        Dedup.exact(Tables.documents(s, d), "doc_id", "text").orderBy("fingerprint"),
      "SELECT md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint, " +
        "min(doc_id) AS doc_id, count(*) AS n_dups FROM documents GROUP BY 1 ORDER BY 1"),

    // D2: MinHash+LSH near-dup candidates, exact-Jaccard verified — the
    // plain plan, called directly (d2g gates the public entry's choice)
    VerifyRow("d2_minhash_lsh",
      (s, d) =>
        Dedup.minhashNearDupsPlain(Tables.documents(s, d), "doc_id", "text", 0.5)
          .orderBy("id_1", "id_2"),
      trigramJaccardSql + " ORDER BY id_1, id_2"),

    // D2f: collapse-before-LSH — the minhash entry for corpora carrying a
    // real exact-duplicate load (30–50% on web text). Every 10th doc
    // re-enters with a shifted id (a deterministic dup injection the
    // oracle replays) and the collapsed pipeline must return the SAME
    // relation the plain LSH yields on that union: within-class 1.0 pairs
    // by construction, cross-class pairs through the representatives.
    //
    // the collapsed path's contract IS the plain relation over the
    // dup-injected union — the oracle replays the injection and computes
    // exact trigram Jaccard over it, blind to the collapse
    VerifyRow("d2f_collapsed_minhash",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dups = docs.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        Dedup.minhashNearDupsCollapsed(docs.unionByName(dups), "doc_id", "text", 0.5)
          .orderBy("id_1", "id_2")
      },
      dupInjectedMinhashOracleSql),

    // D2g: the public gated entry — the measured dup share (one
    // 16-byte-fp aggregate) picks collapse-first vs plain; this fixture's
    // share is 1/11 ≈ 9.1%, under the 0.2 gate, so the plain branch fires
    // (d2f gates the collapsed body), and the result bit-matches the exact
    // oracle either way (the branches are result-identical by
    // construction, DedupSpec-pinned)
    //
    // the auto entry is result-identical to d2f on the same fixture
    VerifyRow("d2g_minhash_auto",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val dups = docs.filter(col("doc_id") % 10 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000L)
        Dedup.minhashNearDups(docs.unionByName(dups), "doc_id", "text", 0.5)
          .orderBy("id_1", "id_2")
      },
      dupInjectedMinhashOracleSql),

    // D3: 60-bit md5-derived SimHash sketch per document (oracle-checkable)
    VerifyRow("d3_simhash",
      (s, d) =>
        Dedup.simhash(Tables.documents(s, d), "doc_id", "text").orderBy("doc_id"),
      s"WITH $simhashCte SELECT doc_id, simhash FROM sh ORDER BY doc_id"),

    // D3b: SimHash near-dup pairs, 4×15-bit pigeonhole banding (exact
    // recall for Hamming <= 3, so output == the all-pairs oracle)
    VerifyRow("d3b_simhash_pairs",
      (s, d) =>
        Dedup.simhashNearDups(Tables.documents(s, d), "doc_id", "text", 3)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy("id_1", "id_2"),
      s"WITH $simhashCte " +
        "SELECT a.doc_id AS id_1, b.doc_id AS id_2, " +
        "bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 ORDER BY id_1, id_2"),

    // D4: exact word-bigram Jaccard pairs via inverted shingle index
    VerifyRow("d4_ngram_jaccard",
      (s, d) =>
        Dedup.ngramJaccardPairs(Tables.documents(s, d), "doc_id", "text", 2, 0.1)
          .orderBy("id_1", "id_2"),
      bigramJaccardSql + " ORDER BY id_1, id_2"),

    // D4b: inverted-index sparse variant with a FIXED document-frequency
    // cap — the pinned reference regime, the unguarded plan called
    // directly (r17: the public name prices the cap against the df
    // histogram and refuses a volume that explodes at scale — the d9/d5
    // pattern). Cap mirrored exactly in the oracle.
    VerifyRow("d4b_jaccard_sparse",
      (s, d) =>
        Dedup.ngramJaccardPairsSparseUnguarded(Tables.documents(s, d), "doc_id", "text", 3, 0.2,
          maxDf = 50)
          .orderBy("id_1", "id_2"),
      d4bSparseOracleSql),

    // D4f: the GUARDED plain fixed-cap name — same cap, same relation as
    // d4b (shared oracle SQL), but the call runs only because the priced
    // candidate volume (1.27M pairs at sf0.1) fits the 50M guard; at the
    // 100× regime the r16 sweep measured DNF-ing, this same call refuses
    // instead (BENCH_SCALE)
    //
    // the guarded plain name must reproduce the fixed-cap relation
    // EXACTLY (the guard only prices and refuses; it never changes the
    // admitted candidate set) — same oracle text as d4b
    VerifyRow("d4f_jaccard_sparse_guarded",
      (s, d) =>
        Dedup.ngramJaccardPairsSparse(Tables.documents(s, d), "doc_id", "text", 3, 0.2, maxDf = 50)
          .orderBy("id_1", "id_2"),
      d4bSparseOracleSql),

    // D4c: the df-distribution diagnostic behind the sparse path's cap —
    // per-df shingle counts, the candidate pairs each df stratum costs,
    // and the running total (the cost model maxDf derivation reads)
    //
    // the df histogram recomputed over raw grams (Spark counts 64-bit
    // shingle keys — identical modulo hash collisions, as everywhere);
    // df*(df-1) is even so // 2 is exact integer arithmetic in both engines
    VerifyRow("d4c_df_stats",
      (s, d) =>
        Dedup.shingleDfStats(Tables.documents(s, d), "doc_id", "text", 3)
          .orderBy("df"),
      s"WITH $trigramShCte, " +
        "inv AS (SELECT doc_id, unnest(grams) AS g FROM sh), " +
        "dfs AS (SELECT g, count(*) AS df FROM inv GROUP BY g), " +
        "hist AS (SELECT df, count(*)::BIGINT AS n_shingles FROM dfs GROUP BY df), " +
        "c AS (SELECT df, n_shingles, " +
        "(n_shingles * (df * (df - 1) // 2))::BIGINT AS pair_cost FROM hist) " +
        "SELECT df, n_shingles, pair_cost, " +
        "(sum(pair_cost) OVER (ORDER BY df))::BIGINT AS cum_pair_cost " +
        "FROM c ORDER BY df"),

    // D4e: the df diagnostic over a deterministic 25% document sample —
    // the form a 100 TB corpus prices its plan with (the exact d4c is the
    // repo's most expensive third-decade row). Exact arithmetic on the
    // sample; est_* columns scale the pair bill by 1/rate² (unbiased).
    //
    // the same histogram over the deterministic 25% md5-coin sample (the
    // s5 coin, same seed-0 literal), with the 1/rate² scaled estimate
    // columns — exact arithmetic on the sample gates the sampling itself
    VerifyRow("d4e_df_stats_sampled",
      (s, d) =>
        Dedup.shingleDfStatsSampled(Tables.documents(s, d), "doc_id", "text", 3,
          rate = 0.25)
          .orderBy("df"),
      "WITH dd AS (SELECT doc_id, text FROM documents WHERE " +
        "('0x' || substr(md5(doc_id::VARCHAR || '_0'), 1, 15))::BIGINT < " +
        s"${(BigDecimal(0.25) * BigDecimal(1L << 60)).toLong}), " +
        trigramShCteOver("dd") + ", " +
        "inv AS (SELECT doc_id, unnest(grams) AS g FROM sh), " +
        "dfs AS (SELECT g, count(*) AS df FROM inv GROUP BY g), " +
        "hist AS (SELECT df, count(*)::BIGINT AS n_shingles FROM dfs GROUP BY df), " +
        "c AS (SELECT df, n_shingles, " +
        "(n_shingles * (df * (df - 1) // 2))::BIGINT AS pair_cost FROM hist), " +
        "cc AS (SELECT df, n_shingles, pair_cost, " +
        "(sum(pair_cost) OVER (ORDER BY df))::BIGINT AS cum_pair_cost FROM c) " +
        "SELECT df, n_shingles, pair_cost, cum_pair_cost, " +
        "round(pair_cost / 0.0625, 6) AS est_pair_cost, " +
        "round(cum_pair_cost / 0.0625, 6) AS est_cum_pair_cost " +
        "FROM cc ORDER BY df"),

    // D4d: sparse Jaccard with the cap DERIVED from a candidate-pair
    // budget — the oracle re-derives the same ceiling from the same
    // histogram in SQL, so the derivation arithmetic itself is gated.
    // Budget 12000 binds at every SF (ceiling 3 at sf0.001/0.01, 4 at
    // sf0.1), so the pruning path — not just the derivation — is exercised
    //
    // d4b's pipeline with the ceiling DERIVED in SQL from the same
    // histogram + budget the Spark side uses: greatest(max df with
    // cum cost <= 12000, 2) — gates the derivation arithmetic, not just
    // the pruned pair set
    VerifyRow("d4d_jaccard_sparse_auto",
      (s, d) =>
        Dedup.ngramJaccardPairsSparseAuto(Tables.documents(s, d), "doc_id", "text",
          3, 0.2, budgetPairs = 12000L)
          .orderBy("id_1", "id_2"),
      s"WITH $trigramShCte, " +
        "inv AS (SELECT doc_id, unnest(grams) AS g FROM sh), " +
        "dfs AS (SELECT g, count(*) AS df FROM inv GROUP BY g), " +
        "hist AS (SELECT df, count(*) AS n FROM dfs GROUP BY df), " +
        "cum AS (SELECT df, sum(n * (df * (df - 1) // 2)) OVER (ORDER BY df) AS c FROM hist), " +
        "lim AS (SELECT greatest(coalesce((SELECT max(df) FROM cum WHERE c <= 12000), 2), 2) AS maxdf), " +
        "rare AS (SELECT g FROM dfs WHERE df <= (SELECT maxdf FROM lim)), " +
        "cand AS (SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2 " +
        "FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id " +
        "WHERE a.g IN (SELECT g FROM rare)), " +
        "v AS (SELECT c.id_1, c.id_2, " +
        "len(list_intersect(s1.grams, s2.grams))::DOUBLE AS inter, " +
        "(len(s1.grams) + len(s2.grams))::DOUBLE AS sz " +
        "FROM cand c JOIN sh s1 ON c.id_1 = s1.doc_id JOIN sh s2 ON c.id_2 = s2.doc_id) " +
        "SELECT id_1, id_2, round(CASE WHEN sz > inter THEN inter / (sz - inter) " +
        "ELSE 0 END, 6) AS jaccard FROM v " +
        "WHERE round(CASE WHEN sz > inter THEN inter / (sz - inter) ELSE 0 END, 6) >= 0.2 " +
        "ORDER BY id_1, id_2"),

    // D6: connected components over the exact bigram-Jaccard pairs —
    // pairs → clusters, component = min id (the canonical keep)
    //
    // components over the same pairs via transitive closure (recursive CTE)
    VerifyRow("d6_components",
      (s, d) =>
        Dedup.connectedComponents(d6SharedPairs(s, d))
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id"),
      d6OracleSql),

    // D6c: INCREMENTAL components — the pair set split deterministically
    // into an "old" batch (labeled from scratch) and a "new" batch folded
    // in via label contraction; the merge must bit-match the from-scratch
    // recompute over the full union (the d6 oracle). Pairs come from the
    // family-shared persisted frame ([[d6SharedPairs]]): the result is
    // small and feeds two filters + two loops here, plus the d6/d6b/d6d
    // siblings and s5j. The cache deliberately stays for the RUN (r12
    // advice weighed and rejected with a measurement): unpersisting it
    // here poisons the sibling consumers — measured r13: d6c 0.53→2.30 s,
    // s5j 0.50→1.97 s with the unpersist in place — exactly the
    // dead-entry recompute the Caches loan convention documents. It is
    // LEDGERED (Caches.persistLoaned), so Caches.drain at end of run calls the
    // loan in — intra-run sharing without session-lifetime residue.
    //
    // the incremental fold must reproduce the FROM-SCRATCH components over
    // the full pair union — the label-contraction identity, oracle-gated
    VerifyRow("d6c_components_incremental",
      (s, d) => {
        val pairs = d6SharedPairs(s, d)
        val isNew = (col("id_1") + col("id_2")) % 3 === 0
        Dedup.connectedComponentsIncremental(
          Dedup.connectedComponents(pairs.filter(!isNew)), pairs.filter(isNew))
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      d6OracleSql),

    // D7: benchmark decontamination — for each held-out (test) document,
    // the train documents containing >= 50% of its trigram shingles
    // (containment, not Jaccard: a short benchmark question buried in a
    // long train doc is exactly the leak this catches)
    VerifyRow("d7_decontaminate",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.decontaminationPairs(
          docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0),
          "doc_id", "text", 3, 0.5, maxDf = 50)
          .orderBy("test_id", "train_id")
      },
      d7OracleSql),

    // D7e: EXACT 13-gram decontamination — the published-eval gate (flag
    // train docs sharing ANY verbatim 13-gram with the benchmark split);
    // benchmark gram keys fold into a broadcast bloom pruning the train
    // gram stream before its exchange, survivors exact-verify by semi
    // join (bloom false positives die there — result exact)
    //
    // the exact-13-gram gate recomputed over raw gram strings (Spark
    // counts 64-bit shingle keys — identical modulo hash collisions)
    VerifyRow("d7e_exact_ngram_decon",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.decontaminationExactNgram(
          docs.filter(col("doc_id") % 4 =!= 0), docs.filter(col("doc_id") % 4 === 0),
          "doc_id", "text", n = 13)
          .orderBy("train_id")
      },
      s"WITH tsh AS (${ngramGramsSqlOver("documents WHERE doc_id % 4 != 0", 13)}), " +
        s"xsh AS (${ngramGramsSqlOver("documents WHERE doc_id % 4 = 0", 13)}), " +
        "bg AS (SELECT DISTINCT unnest(grams) AS g FROM xsh), " +
        "tg AS (SELECT doc_id, unnest(grams) AS g FROM tsh) " +
        "SELECT tg.doc_id AS train_id, count(*)::BIGINT AS n_hit_grams " +
        "FROM tg JOIN bg USING (g) GROUP BY tg.doc_id ORDER BY train_id"),

    // D7b: decontamination replayed from the MATERIALIZED containment
    // index — train shingle sets + df-capped inverted index sharded to
    // parquet once, every benchmark screen probes the loaded frames (the
    // train corpus is never re-shingled). Same oracle as d7.
    //
    // the index replay must reproduce d7 exactly — sets + df-capped
    // inverted index are the same relations whether derived inline or
    // loaded from the sharded parquet index
    VerifyRow("d7b_decon_replay",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val idxDir =
          s"${scratchDir(d)}/d7b_contain_index_${stageKey(srcFile, "n3df50")}"
        val ci = Dedup.ContainmentIndex("doc_id", "text", n = 3, maxDf = 50)
        if (!new java.io.File(s"$idxDir/inv/_SUCCESS").exists())
          ci.write(docs.filter(col("doc_id") % 4 =!= 0), idxDir, shards = 4)
        ci.probe(docs.filter(col("doc_id") % 4 === 0), ci.read(s, idxDir), threshold = 0.5)
          .orderBy("test_id", "train_id")
      },
      d7OracleSql),

    // D7c: the containment-index UPDATE lifecycle — the df-capped family's
    // d2d: day-1 build over part of the train corpus, day-2
    // ContainmentIndex.append folds in the rest (df deltas appended,
    // over-cap shingles tombstoned so their stale entries vanish at read
    // time), day-3 screens the benchmark against the updated index. The
    // effective index must equal the from-scratch build over the FULL
    // train corpus — so the oracle is d7's own SQL, verbatim.
    //
    // the lifecycle gate: build(train₁) → update(train₂) must equal the
    // from-scratch index over train₁ ∪ train₂ — d7's relation exactly,
    // including entries tombstoned when the update pushed a shingle past
    // the df cap
    VerifyRow("d7c_decon_update",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val idxDir =
          s"${scratchDir(d)}/d7c_contain_index_${stageKey(srcFile, "n3df50m4")}"
        val ci = Dedup.ContainmentIndex("doc_id", "text", n = 3, maxDf = 50)
        if (!new java.io.File(s"$idxDir/_UPDATED").exists()) {
          ci.write(docs.filter(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2),
            idxDir, shards = 4)
          ci.append(docs.filter(col("doc_id") % 4 === 3), idxDir, shards = 4)
          new java.io.File(s"$idxDir/_UPDATED").createNewFile()
        }
        ci.probe(docs.filter(col("doc_id") % 4 === 0), ci.read(s, idxDir), threshold = 0.5)
          .orderBy("test_id", "train_id")
      },
      d7OracleSql),

    // D7d: d7c's lifecycle with COMPACTION before the probe — build day 1,
    // update day 2 (df deltas + tombstones land), ContainmentIndex.compact
    // settles the read debt (tombstones applied into inv/, df deltas merged
    // to one row per shingle, tomb/ dropped), then the day-3 probe runs
    // against the compacted index. Rows must still equal the from-scratch
    // build over the full train corpus (d7's oracle, verbatim) — and the
    // probe plan now carries NO anti-join (PlanSpec-pinned): the index got
    // FASTER to read after months of batches, not slower.
    //
    // compaction is a physical rewrite only: build → update → COMPACT →
    // probe must still produce d7's relation bit-for-bit (tombstones now
    // applied into inv/ instead of anti-joined at read time)
    VerifyRow("d7d_decon_compact",
      (s, d) => {
        val docs = Tables.documents(s, d)
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val idxDir =
          s"${scratchDir(d)}/d7d_contain_index_${stageKey(srcFile, "n3df50m4c")}"
        val ci = Dedup.ContainmentIndex("doc_id", "text", n = 3, maxDf = 50)
        if (!new java.io.File(s"$idxDir/_COMPACTED").exists()) {
          ci.write(docs.filter(col("doc_id") % 4 === 1 || col("doc_id") % 4 === 2),
            idxDir, shards = 4)
          ci.append(docs.filter(col("doc_id") % 4 === 3), idxDir, shards = 4)
          ci.compact(s, idxDir, shards = 4)
          new java.io.File(s"$idxDir/_COMPACTED").createNewFile()
        }
        ci.probe(docs.filter(col("doc_id") % 4 === 0), ci.read(s, idxDir), threshold = 0.5)
          .orderBy("test_id", "train_id")
      },
      d7OracleSql),

    // D7f: the d7d containment-index LIFECYCLE as PURE SQL TEXT — the
    // third and last index family a SQL-only consumer can now maintain
    // (exact d8f, MinHash d2h, df-capped inverted index here). The part
    // the other two don't have: UPDATE must apply df-cap semantics in
    // SQL — batch (train_id, sk) pairs insert only while the CUMULATIVE
    // df (pre-batch table + batch delta) stays ≤ cap, and shingles the
    // batch pushes PAST the cap insert TOMBSTONES whose stale inv entries
    // vanish at read time via the probe's anti-join. INSERT ORDER
    // MATTERS: the inv and tomb inserts read the PRE-batch df table, so
    // both run before the batch's df deltas land (mirroring
    // ContainmentIndex.append's read-before-append). Compaction = the
    // CTAS-stage compose per table, with the inv stage APPLYING the
    // tombstones (anti-join) and the df stage merging deltas to one row
    // per shingle; tomb then empties via INSERT OVERWRITE from an empty
    // literal relation, so post-compaction readers take the
    // no-anti-join path. Same splits as d7c/d7d, same from-scratch
    // oracle (d7's SQL verbatim).
    //
    // the SQL-text lifecycle (build → fold → compact → probe as pure SQL,
    // df-cap tombstones included) must land on the same from-scratch
    // relation as every other d7 sibling
    VerifyRow("d7f_decon_lifecycle_sql",
      (s, d) => {
        Tables.registerAll(s, d)
        val srcFile = new java.io.File(s"$d/documents.parquet")
        val idxDir = s"${scratchDir(d)}/d7f_ct_index_${stageKey(srcFile, "n3df50m4sql")}"
        val tables = Seq("sets", "inv", "df", "tomb")
        tables.foreach(t => s.sql(s"DROP TABLE IF EXISTS graft_ct_${t}_sql"))
        if (!new java.io.File(s"$idxDir/_UPDATED").exists()) {
          // crash idempotency (the d2h rule): no marker ⇒ any partial
          // LOCATION dirs are stale scratch from a dead run — clear them
          // before the re-created tables can re-adopt their rows
          def rm(f: java.io.File): Unit =
            graft.sources.ParquetSink.deleteRecursively(f)
          tables.foreach(t => rm(new java.io.File(s"$idxDir/$t")))
        }
        s.sql("CREATE TABLE graft_ct_sets_sql (doc_id BIGINT, n_sh INT, " +
          s"shs ARRAY<BIGINT>) USING parquet LOCATION '$idxDir/sets'")
        s.sql("CREATE TABLE graft_ct_inv_sql (train_id BIGINT, sk BIGINT) " +
          s"USING parquet LOCATION '$idxDir/inv'")
        s.sql("CREATE TABLE graft_ct_df_sql (sk BIGINT, df BIGINT) " +
          s"USING parquet LOCATION '$idxDir/df'")
        s.sql("CREATE TABLE graft_ct_tomb_sql (sk BIGINT) " +
          s"USING parquet LOCATION '$idxDir/tomb'")
        if (!new java.io.File(s"$idxDir/_UPDATED").exists()) {
          // day-1 build over train₁: sets, full-vocabulary df, df-capped inv
          val p1 = "doc_id % 4 = 1 OR doc_id % 4 = 2"
          s.sql(s"WITH ${shingleSetCtes(p1)} " +
            "INSERT INTO graft_ct_sets_sql SELECT doc_id, size(shs) AS n_sh, shs FROM bsets")
          s.sql(s"WITH ${shingleSetCtes(p1)}, $containmentBatchCtes " +
            "INSERT INTO graft_ct_df_sql SELECT sk, df FROM bdf")
          s.sql(s"WITH ${shingleSetCtes(p1)}, $containmentBatchCtes " +
            "INSERT INTO graft_ct_inv_sql SELECT i.train_id, i.sk FROM binv i " +
            "JOIN bdf b ON i.sk = b.sk WHERE b.df <= 50")
          // day-2 fold of train₂ under the cumulative df cap
          val p2 = "doc_id % 4 = 3"
          def upd(insert: String) =
            s"WITH ${shingleSetCtes(p2)}, $containmentBatchCtes, " +
              "odf AS (SELECT sk, sum(df) AS odf FROM graft_ct_df_sql GROUP BY sk), " +
              "m AS (SELECT b.sk, coalesce(o.odf, CAST(0 AS BIGINT)) AS odf, " +
              "coalesce(o.odf, CAST(0 AS BIGINT)) + b.df AS ndf " +
              "FROM bdf b LEFT JOIN odf o ON b.sk = o.sk) " + insert
          s.sql(upd("INSERT INTO graft_ct_inv_sql SELECT i.train_id, i.sk " +
            "FROM binv i JOIN m ON i.sk = m.sk WHERE m.ndf <= 50"))
          s.sql(upd("INSERT INTO graft_ct_tomb_sql SELECT sk FROM m " +
            "WHERE odf >= 1 AND odf <= 50 AND ndf > 50"))
          s.sql(s"WITH ${shingleSetCtes(p2)}, $containmentBatchCtes " +
            "INSERT INTO graft_ct_df_sql SELECT sk, df FROM bdf")
          s.sql(s"WITH ${shingleSetCtes(p2)} " +
            "INSERT INTO graft_ct_sets_sql SELECT doc_id, size(shs) AS n_sh, shs FROM bsets")
          // compaction: stage-compose per table (a file-source table cannot
          // INSERT OVERWRITE from itself)
          def compact(t: String, stageSelect: String, cols: String): Unit = {
            s.sql(s"DROP TABLE IF EXISTS ${t}_stage")
            s.sql(s"CREATE TABLE ${t}_stage USING parquet AS $stageSelect")
            s.sql(s"INSERT OVERWRITE $t SELECT $cols FROM ${t}_stage")
            s.sql(s"DROP TABLE ${t}_stage")
          }
          compact("graft_ct_inv_sql",
            "SELECT /*+ REPARTITION(4) */ i.train_id, i.sk FROM graft_ct_inv_sql i " +
              "LEFT ANTI JOIN graft_ct_tomb_sql t ON i.sk = t.sk",
            "train_id, sk")
          compact("graft_ct_df_sql",
            "SELECT /*+ REPARTITION(4) */ sk, sum(df) AS df " +
              "FROM graft_ct_df_sql GROUP BY sk",
            "sk, df")
          compact("graft_ct_sets_sql",
            "SELECT /*+ REPARTITION(4) */ doc_id, n_sh, shs FROM graft_ct_sets_sql",
            "doc_id, n_sh, shs")
          // tombstones are applied into inv — empty the table (0-row write)
          s.sql("INSERT OVERWRITE graft_ct_tomb_sql " +
            "SELECT CAST(NULL AS BIGINT) AS sk WHERE 1 = 0")
          new java.io.File(s"$idxDir/_UPDATED").createNewFile()
        }
        // day-3 probe: the ContainmentIndex.probe plan as one statement
        // (anti-join kept for generality — post-compaction tomb is empty)
        s.sql(s"WITH ${shingleSetCtes("doc_id % 4 = 0")}, " +
          "eff AS (SELECT i.train_id, i.sk FROM graft_ct_inv_sql i " +
          "LEFT ANTI JOIN graft_ct_tomb_sql tb ON i.sk = tb.sk), " +
          "xinv AS (SELECT doc_id AS test_id, sk FROM bsets " +
          "LATERAL VIEW explode(shs) t AS sk), " +
          "cand AS (SELECT DISTINCT x.test_id, e.train_id FROM xinv x " +
          "JOIN eff e ON x.sk = e.sk), " +
          "scored AS (SELECT c.test_id, c.train_id, " +
          "round(CAST(graft_sorted_intersect_size(x.shs, ts.shs) AS DOUBLE) / " +
          "CAST(size(x.shs) AS DOUBLE), 6) AS containment " +
          "FROM cand c JOIN bsets x ON c.test_id = x.doc_id " +
          "JOIN graft_ct_sets_sql ts ON c.train_id = ts.doc_id) " +
          "SELECT test_id, train_id, containment FROM scored " +
          "WHERE containment >= 0.5 ORDER BY test_id, train_id")
      },
      d7OracleSql),

    // D8: incremental ingest dedup — new batch (doc_id % 10 = 0) anti-joined
    // against the existing corpus's fingerprint set
    VerifyRow("d8_incremental_dedup",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.exactIncremental(
          docs.filter(col("doc_id") % 10 === 0), docs.filter(col("doc_id") % 10 =!= 0),
          "doc_id", "text")
          .select("doc_id", "fingerprint").orderBy("doc_id")
      },
      d8OracleSql),

    // D8b: same ingest dedup through the runtime-bloom path — the batch's
    // fingerprint bloom prunes the corpus side before the distinct
    // exchange; result is EXACT (bloom false positives die in the anti
    // join), so it shares d8's oracle shape
    //
    // the bloom is a pruning device only — the exact result is the same
    // anti-join semantics as d8, on the %7 split
    VerifyRow("d8b_bloom_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.exactIncrementalBloom(
          docs.filter(col("doc_id") % 7 === 0), docs.filter(col("doc_id") % 7 =!= 0),
          "doc_id", "text")
          .select("doc_id", "fingerprint").orderBy("doc_id")
      },
      "WITH fp AS (SELECT doc_id, md5(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS fingerprint " +
        "FROM documents) " +
        "SELECT doc_id, fingerprint FROM fp WHERE doc_id % 7 = 0 " +
        "AND fingerprint NOT IN (SELECT fingerprint FROM fp WHERE doc_id % 7 != 0) " +
        "ORDER BY doc_id"),

    // D9: typo-level duplicates — SimHash banding candidates verified by
    // edit distance (token-set similarity can't see character edits).
    // This row PINS the full-admission (full within-sketch recall) plan
    // its oracle replays; the public name's d9e gate is the d9e row
    //
    // d3b's candidate set re-verified by levenshtein on the raw texts
    VerifyRow("d9_fuzzy_pairs",
      (s, d) =>
        Dedup.fuzzyNearDupsBanded(Tables.documents(s, d), "doc_id", "text", maxDist = 40)
          .orderBy("id_1", "id_2"),
      s"WITH $simhashCte, " +
        "cand AS (SELECT a.doc_id AS id_1, b.doc_id AS id_2 " +
        "FROM sh a JOIN sh b ON a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3) " +
        "SELECT c.id_1, c.id_2, levenshtein(d1.text, d2.text)::BIGINT AS edit_dist " +
        "FROM cand c JOIN documents d1 ON c.id_1 = d1.doc_id " +
        "JOIN documents d2 ON c.id_2 = d2.doc_id " +
        "WHERE levenshtein(d1.text, d2.text) <= 40 ORDER BY id_1, id_2"),

    // D9d: incremental FUZZY ingest — the fourth incremental mode (after
    // exact/MinHash/embedding): batch docs kept only where no corpus doc
    // sits within edit distance 40; banded cross join, first-agreeing-
    // chunk dedup, banded levenshtein verify, matched-ids anti join
    //
    // the cross-corpus fuzzy gate: hamming-pruned candidates (pigeonhole-
    // complete at <= 3, as in the d9 oracle) re-verified by levenshtein,
    // then the surviving batch rows
    VerifyRow("d9d_fuzzy_incremental",
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.fuzzyIncremental(
          docs.filter(col("doc_id") % 9 === 0), docs.filter(col("doc_id") % 9 =!= 0),
          "doc_id", "text", maxDist = 40)
          .select("doc_id", "n_chars").orderBy("doc_id")
      },
      s"WITH $simhashCte, " +
        "m AS (SELECT DISTINCT a.doc_id AS id_1 " +
        "FROM sh a JOIN sh b ON a.doc_id % 9 = 0 AND b.doc_id % 9 != 0 " +
        "JOIN documents d1 ON a.doc_id = d1.doc_id " +
        "JOIN documents d2 ON b.doc_id = d2.doc_id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 " +
        "AND levenshtein(d1.text, d2.text) <= 40) " +
        "SELECT doc_id, n_chars FROM documents WHERE doc_id % 9 = 0 " +
        "AND doc_id NOT IN (SELECT id_1 FROM m) ORDER BY doc_id"),

    // D9c: the fuzzy banding's cell-size diagnostic (the d4c pattern) —
    // per (chunk, ckey, lenBucket) cell-size stratum: cell count, the
    // within-cell candidate evaluations it costs, and the running total
    // the d9b cap derivation reads
    //
    // the fuzzy family's (chunk, ckey, lenBucket) cell histogram — the
    // frame d9b's cap derivation reads; cell_size*(cell_size-1) is even
    // so // 2 is exact integer arithmetic in both engines
    VerifyRow("d9c_cell_stats",
      (s, d) =>
        Dedup.fuzzyCellStats(Tables.documents(s, d), "doc_id", "text", maxDist = 40)
          .orderBy("cell_size"),
      s"WITH $fuzzyCellsCte, " +
        "hist AS (SELECT cell_size, count(*)::BIGINT AS n_cells FROM cells GROUP BY cell_size), " +
        "c AS (SELECT cell_size, n_cells, " +
        "(n_cells * (cell_size * (cell_size - 1) // 2))::BIGINT AS pair_cost FROM hist) " +
        "SELECT cell_size, n_cells, pair_cost, " +
        "(sum(pair_cost) OVER (ORDER BY cell_size))::BIGINT AS cum_pair_cost " +
        "FROM c ORDER BY cell_size"),

    // D9b: fuzzy dedup with admission CAPPED by a candidate-pair budget —
    // the d4d pattern applied to the fuzzy family; the oracle re-derives
    // the same cap from the same histogram in SQL. Budget 3000 binds at
    // every SF (cap 20 at sf0.001, 23 at sf0.01, 3 at sf0.1), so the
    // over-cap pruning path — not just the derivation — is exercised
    //
    // d9's pipeline with the admission cap DERIVED in SQL from the same
    // cell histogram + budget the Spark side uses — gates the derivation
    // arithmetic AND the capped candidate join, not just the verified set.
    // abs(hb diff) <= 1 in SQL == Spark's adjacent-bucket replication
    VerifyRow("d9b_fuzzy_budget",
      (s, d) =>
        Dedup.fuzzyNearDupsBudget(Tables.documents(s, d), "doc_id", "text",
          maxDist = 40, budgetPairs = 3000L)
          .orderBy("id_1", "id_2"),
      s"WITH $fuzzyCellsCte, " +
        "hist AS (SELECT cell_size, count(*) AS n FROM cells GROUP BY cell_size), " +
        "cum AS (SELECT cell_size, sum(n * (cell_size * (cell_size - 1) // 2)) " +
        "OVER (ORDER BY cell_size) AS c FROM hist), " +
        "cap AS (SELECT greatest(coalesce((SELECT max(cell_size) FROM cum WHERE c <= 3000), 2), 2) AS cap), " +
        "adm AS (SELECT ch.* FROM ch JOIN cells USING (chunk, ckey, hb) " +
        "WHERE cells.cell_size <= (SELECT cap FROM cap)), " +
        "cand AS (SELECT DISTINCT a.doc_id AS id_1, b.doc_id AS id_2 " +
        "FROM adm a JOIN adm b ON a.chunk = b.chunk AND a.ckey = b.ckey " +
        "AND abs(a.hb - b.hb) <= 1 AND a.doc_id < b.doc_id " +
        "WHERE bit_count(xor(a.simhash, b.simhash)) <= 3 AND abs(a.len - b.len) <= 40) " +
        "SELECT c.id_1, c.id_2, levenshtein(d1.text, d2.text)::BIGINT AS edit_dist " +
        "FROM cand c JOIN documents d1 ON c.id_1 = d1.doc_id " +
        "JOIN documents d2 ON c.id_2 = d2.doc_id " +
        "WHERE levenshtein(d1.text, d2.text) <= 40 ORDER BY id_1, id_2"),

    // D9e: the fuzzy AUTO gate — the last diagnostic-without-a-derived-
    // plan-choice retired: budget = pairsPerDoc × nDocs (corpus-
    // proportional, so candidate volume stays linear), one histogram
    // collect picks full admission (cost fits) vs capped admission (cost
    // exceeds). At sf0.001/0.01 the total within-cell cost (~4k) fits
    // 64×500 → full-admission branch; at sf0.1 (~371k vs 320k) the capped
    // branch binds — the testdata SFs gate BOTH branches. The oracle
    // re-derives budget, cap, and admission in SQL; a non-binding budget
    // derives cap = max cell size, so the one capped SQL covers both.
    //
    // the auto gate's FULL derivation in SQL: budget = 64 × |documents|,
    // cap from the same histogram (non-binding budget ⇒ cap = max cell
    // size ⇒ admits everything ⇒ identical to the full-admission plan,
    // which is exactly the Spark gate's uncapped branch) — one capped
    // formulation gates both branches of the plan choice
    VerifyRow("d9e_fuzzy_auto",
      (s, d) =>
        Dedup.fuzzyNearDups(Tables.documents(s, d), "doc_id", "text",
          maxDist = 40, pairsPerDoc = 64L)
          .orderBy("id_1", "id_2"),
      s"WITH $fuzzyCellsCte, " +
        "hist AS (SELECT cell_size, count(*) AS n FROM cells GROUP BY cell_size), " +
        "cum AS (SELECT cell_size, sum(n * (cell_size * (cell_size - 1) // 2)) " +
        "OVER (ORDER BY cell_size) AS c FROM hist), " +
        "budget AS (SELECT 64 * (SELECT count(*) FROM documents) AS b), " +
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
        "WHERE levenshtein(d1.text, d2.text) <= 40 ORDER BY id_1, id_2"),

    // D5: embedding-cosine near-dup pairs (exact all-pairs, codegen'd cosine)
    VerifyRow("d5_embed_neardup",
      (s, d) =>
        Dedup.embeddingNearDups(Tables.embeddings(s, d), "vec_id", "embedding", 0.35)
          .orderBy("id_1", "id_2"),
      "SELECT a.vec_id AS id_1, b.vec_id AS id_2, " +
        "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine " +
        "FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.35 " +
        "ORDER BY id_1, id_2"),

    // D10: SemDeDup — k-means cells (the sim_ivf_trained training,
    // deterministic seeding so the oracle replays it), within-cell
    // cosine >= 0.4 pairs, keep min-id per connected cluster; the
    // paraphrase-level dedup the lexical family cannot see
    //
    // the sim_ivf_trained k-means replay (a2 = trained cell assignment),
    // then within-cell cosine pairs and d6b's component/min-id keep
    VerifyRow("d10_semdedup",
      (s, d) =>
        Dedup.semDedup(Tables.embeddings(s, d), "vec_id", "embedding",
          dim = 64, k = 8, threshold = 0.4)
          .select("vec_id", "label").orderBy("vec_id"),
      kmeansCtesSql(dim = 64, k = 8, seed = "kmeans")
        .replaceFirst("^WITH ", "WITH RECURSIVE ") + ", " +
        "pairs AS (SELECT a.vec_id AS id_1, b.vec_id AS id_2 FROM a2 a " +
        "JOIN a2 b ON a.cell = b.cell AND a.vec_id < b.vec_id " +
        "WHERE round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) >= 0.4), " +
        "bidir AS (SELECT id_1, id_2 FROM pairs UNION SELECT id_2, id_1 FROM pairs), " +
        "nodes AS (SELECT DISTINCT id_1 AS id FROM bidir), " +
        "reach(id, r) AS (SELECT id, id FROM nodes " +
        "UNION SELECT b.id_1, r.r FROM reach r JOIN bidir b ON b.id_2 = r.id), " +
        "losers AS (SELECT id FROM (SELECT id, min(r) AS component FROM reach GROUP BY id) " +
        "WHERE id != component) " +
        "SELECT vec_id, label FROM embeddings " +
        "WHERE vec_id NOT IN (SELECT id FROM losers) ORDER BY vec_id"),

    // D10b: the cell-pricing diagnostic (d4c/d9c pattern for the semantic
    // family) — per cell-size stratum: cell count, within-cell pair cost,
    // running total; says whether k fits the corpus BEFORE the quadratic
    // runs (the lever is k, not an admission cap — dense cells are where
    // the duplicates live)
    //
    // same trained cells (a2), then the d9c histogram arithmetic
    VerifyRow("d10b_cell_stats",
      (s, d) =>
        Dedup.semDedupCellStats(Tables.embeddings(s, d), "vec_id", "embedding",
          dim = 64, k = 8).orderBy("cell_size"),
      kmeansCtesSql(dim = 64, k = 8, seed = "kmeans") + ", " +
        "cs AS (SELECT cell, count(*)::BIGINT AS cell_size FROM a2 GROUP BY cell), " +
        "hist AS (SELECT cell_size, count(*)::BIGINT AS n_cells FROM cs GROUP BY cell_size), " +
        "c AS (SELECT cell_size, n_cells, " +
        "(n_cells * (cell_size * (cell_size - 1) // 2))::BIGINT AS pair_cost FROM hist) " +
        "SELECT cell_size, n_cells, pair_cost, " +
        "(sum(pair_cost) OVER (ORDER BY cell_size))::BIGINT AS cum_pair_cost " +
        "FROM c ORDER BY cell_size"),

    // D10c: incremental semantic ingest — quantizer trained on the corpus
    // (vec_id % 11 != 0, the d5c split) and FROZEN; batch vectors keep
    // only where no corpus vector in THEIR cell reaches cosine >= 0.4;
    // completes the fifth incremental dedup mode
    //
    // the corpus-trained quantizer (a2/cents over vec_id % 11 != 0), the
    // batch assigned to the FROZEN cents (cos DESC, cell ASC — the
    // packed-argmax tie rule), then the within-cell probe + anti join
    VerifyRow("d10c_semdedup_incremental",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Dedup.semDedupIncremental(
          emb.filter(col("vec_id") % 11 === 0), emb.filter(col("vec_id") % 11 =!= 0),
          "vec_id", "embedding", dim = 64, k = 8, threshold = 0.4)
          .select("vec_id", "label").orderBy("vec_id")
      },
      kmeansCtesSql(dim = 64, k = 8, seed = "kmeans",
        src = "(SELECT * FROM embeddings WHERE vec_id % 11 <> 0)") + ", " +
        "bq AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 11 = 0), " +
        "ba AS (SELECT vec_id, embedding, cell FROM (SELECT b.vec_id, b.embedding, c.cell, " +
        "row_number() OVER (PARTITION BY b.vec_id ORDER BY " +
        "round(list_cosine_similarity(b.embedding::DOUBLE[], c.centroid), 6) DESC, c.cell ASC) AS rn " +
        "FROM bq b CROSS JOIN cents c) WHERE rn = 1), " +
        "matched AS (SELECT DISTINCT ba.vec_id FROM ba JOIN a2 e ON e.cell = ba.cell " +
        "WHERE round(list_cosine_similarity(ba.embedding::DOUBLE[], e.embedding::DOUBLE[]), 6) >= 0.4) " +
        "SELECT vec_id, label FROM embeddings WHERE vec_id % 11 = 0 " +
        "AND vec_id NOT IN (SELECT vec_id FROM matched) ORDER BY vec_id"),

    // D5b: banded-LSH candidates + exact cosine verify — the scale path.
    // Ordinal (WTA-style) sketches: bit = vec[a] > vec[b] on md5-derived
    // index pairs — same collision S-curve as sign-LSH (recall ≈ 0.998 at
    // cosine 0.45 under 32×4 banding; measured in DedupSpec) but ZERO float
    // arithmetic, so the sketch is bit-identical in DuckDB and the whole
    // path is hash-checkable against the oracle.
    // This row PINS the banded (S-curve recall) plan its oracle replays;
    // the public name's d5f/d5g gate (which at 0.45 under 32×4 picks the
    // exact branch) is the d5f/d5g rows
    VerifyRow("d5b_embed_lsh",
      (s, d) =>
        Dedup.embeddingLshBanded(Tables.embeddings(s, d), "vec_id", "embedding",
          0.45, dim = 64, bands = 32, bitsPerBand = 4, ordinal = true)
          .orderBy("id_1", "id_2"),
      {
        // 32 bands × 4-bit ordinal band keys, seeds 1000+b — mirrors
        // Similarity.lshCandidates(ordinal = true) + exact cosine verify
        val bandSelects = (0 until 32).map { b =>
          s"SELECT vec_id, $b AS band, " +
            ordinalSketchSql("embedding", dim = 64, bits = 4, seed = 1000L + b) +
            " AS bkey FROM embeddings"
        }.mkString(" UNION ALL ")
        s"WITH bands AS ($bandSelects), " +
          "cand AS (SELECT DISTINCT a.vec_id AS id_1, b.vec_id AS id_2 " +
          "FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey " +
          "AND a.vec_id < b.vec_id) " +
          "SELECT c.id_1, c.id_2, " +
          "round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) AS cosine " +
          "FROM cand c JOIN embeddings e1 ON c.id_1 = e1.vec_id " +
          "JOIN embeddings e2 ON c.id_2 = e2.vec_id " +
          "WHERE round(list_cosine_similarity(e1.embedding::DOUBLE[], e2.embedding::DOUBLE[]), 6) >= 0.45 " +
          "ORDER BY id_1, id_2"
      }),

    // D5e: the LSH band-bucket diagnostic (j6/d4c pattern) — per band:
    // bucket count, largest bucket, and the candidate evaluations the
    // band contributes. Σ pair_cost vs n(n-1)/2 is the "is LSH actually
    // pruning here" answer BEFORE the join runs (measured: 85% admission
    // at cosine 0.45 on this corpus — the exact blocked path is the right
    // tool at low thresholds; the bands prune properly at ≳0.8)
    //
    // the same 32×4-bit ordinal bands reduced to per-band bucket stats —
    // bucket structure (and so every count) must match the Spark side's
    VerifyRow("d5e_lsh_band_stats",
      (s, d) =>
        Similarity.lshBandStats(Tables.embeddings(s, d), "vec_id", "embedding",
          dim = 64, bands = 32, bitsPerBand = 4, ordinal = true)
          .orderBy("band"),
      {
        val bandSelects = (0 until 32).map { b =>
          s"SELECT vec_id, $b AS band, " +
            ordinalSketchSql("embedding", dim = 64, bits = 4, seed = 1000L + b) +
            " AS bkey FROM embeddings"
        }.mkString(" UNION ALL ")
        s"WITH bands AS ($bandSelects), " +
          "bs AS (SELECT band, bkey, count(*) AS b FROM bands GROUP BY band, bkey) " +
          "SELECT band, count(*) AS n_buckets, max(b) AS max_bucket, " +
          "(sum(b * (b - 1) // 2))::BIGINT AS pair_cost " +
          "FROM bs GROUP BY band ORDER BY band"
      }),

    // D5f: the AUTO plan choice closing the d5e loop — 32×4 banding at
    // cosine 0.45 prices Σ b(b−1)/2 ≈ 2.1 × all-pairs (the bands admit
    // MORE work than brute force), so the operator must take the
    // blocked-exact branch; the oracle re-derives the same integer
    // comparison from the same counts, so the CHOICE is gated, not
    // assumed
    //
    // the auto entry's gated plan choice: 32×4 prices over the admission
    // gate → the exact branch's all-pairs result must be what comes back
    VerifyRow("d5f_embed_auto",
      (s, d) =>
        Dedup.embeddingNearDupsLSH(Tables.embeddings(s, d), "vec_id", "embedding",
          0.45, dim = 64, bands = 32, bitsPerBand = 4, ordinal = true)
          .orderBy("id_1", "id_2"),
      embedAutoOracleSql(bands = 32, bits = 4)),

    // D5g: the same auto entry under 16×8 banding — admission ≈ 0.078 of
    // all-pairs (under the 1/10 gate), so the LSH branch must fire; the
    // result is the banded-candidate + exact-verify set (S-curve recall)
    //
    // 16×8 prices under the gate → the LSH branch's banded-candidate set
    VerifyRow("d5g_embed_auto_lsh",
      (s, d) =>
        Dedup.embeddingNearDupsLSH(Tables.embeddings(s, d), "vec_id", "embedding",
          0.45, dim = 64, bands = 16, bitsPerBand = 8, ordinal = true)
          .orderBy("id_1", "id_2"),
      embedAutoOracleSql(bands = 16, bits = 8)),

    // D5c: incremental EMBEDDING near-dup ingest — new vectors (vec_id %
    // 11 = 0) kept only where no corpus vector reaches cosine >= 0.45;
    // ordinal-banded corpus index probed by batch band keys only (the d5b
    // recipe in the cross-corpus shape), exact-cosine verify before the
    // anti join
    // This row PINS the banded-probe plan its oracle replays; the public
    // name's d5h/d5i gate is the d5h/d5i rows
    //
    // d5b's banded-ordinal recipe in the cross-corpus probe shape, then
    // the surviving batch rows (exact-cosine verified matches anti-join)
    VerifyRow("d5c_embed_incremental",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Dedup.embeddingIncrementalBanded(
          emb.filter(col("vec_id") % 11 === 0), emb.filter(col("vec_id") % 11 =!= 0),
          "vec_id", "embedding", 0.45, dim = 64, bands = 32, bitsPerBand = 4,
          ordinal = true)
          .select("vec_id", "label").orderBy("vec_id")
      },
      d5cOracleSql),

    // D5h: the ingest probe's AUTO plan choice (the d5f gate in cross
    // form) — 32×4 banding prices its cross-admission over the 1/10 gate
    // at every SF (the cosine-0.45 background regime: the probe join
    // would evaluate MORE than batch×corpus), so the bounded-broadcast
    // exact scan must fire; the oracle re-derives the bucket pricing,
    // the gate, and both branch pipelines in SQL
    //
    // the ingest auto gate: 32×4 prices over → exact cross branch; 16×8
    // prices under → the banded probe branch — choice arithmetic gated
    VerifyRow("d5h_embed_incr_auto",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Dedup.embeddingIncremental(
          emb.filter(col("vec_id") % 11 === 0), emb.filter(col("vec_id") % 11 =!= 0),
          "vec_id", "embedding", 0.45, dim = 64, bands = 32, bitsPerBand = 4,
          ordinal = true)
          .select("vec_id", "label").orderBy("vec_id")
      },
      embedIncrAutoOracleSql(bands = 32, bits = 4)),

    // D5i: the same auto entry under 16×8 banding — cross-admission under
    // the gate, so the banded LSH probe must fire (S-curve recall: kept =
    // batch rows with no RECALLED corpus match)
    VerifyRow("d5i_embed_incr_auto_lsh",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Dedup.embeddingIncremental(
          emb.filter(col("vec_id") % 11 === 0), emb.filter(col("vec_id") % 11 =!= 0),
          "vec_id", "embedding", 0.45, dim = 64, bands = 16, bitsPerBand = 8,
          ordinal = true)
          .select("vec_id", "label").orderBy("vec_id")
      },
      embedIncrAutoOracleSql(bands = 16, bits = 8)),

    // SIM: brute-force cosine top-k (exact ANN baseline)
    VerifyRow("sim_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
      },
      "SELECT query_id, neighbor_id, cosine, rank FROM (" +
        "SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine, " +
        "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
        "round(list_cosine_similarity(q.embedding::DOUBLE[], c.embedding::DOUBLE[]), 6) DESC, " +
        "c.vec_id ASC) AS rank " +
        "FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id " +
        "WHERE q.vec_id < 10) WHERE rank <= 5 ORDER BY query_id, rank"),

    // SIM-IVF: IVF-flat approximate top-k — coarse cells (the label
    // column), probe the 3 nearest float-quantized centroids, exact-score
    // only those cells. The second ANN scale path next to LSH.
    VerifyRow("sim_ivf_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.ivfTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          "label", dim = 64, k = 5, probes = 3)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
      },
      {
        // float-quantized 4dp centroids — the exact values the Spark side
        // computes (see Similarity.labelCentroidVectors)
        val centCols = (1 to 64).map(i =>
          s"CAST(CAST(round(avg(embedding[$i]), 4) + 0.0 AS FLOAT) AS DOUBLE)").mkString(", ")
        s"WITH cents AS (SELECT label, [$centCols] AS centroid FROM embeddings GROUP BY label), " +
          "q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10), " +
          "cellrank AS (SELECT q.query_id, q.qe, c.label, row_number() OVER (" +
          "PARTITION BY q.query_id ORDER BY " +
          "round(list_cosine_similarity(q.qe::DOUBLE[], c.centroid), 6) DESC, c.label ASC) AS crn " +
          "FROM q CROSS JOIN cents c), " +
          "probed AS (SELECT query_id, qe, label FROM cellrank WHERE crn <= 3), " +
          "scored AS (SELECT p.query_id, e.vec_id AS neighbor_id, " +
          "round(list_cosine_similarity(p.qe::DOUBLE[], e.embedding::DOUBLE[]), 6) AS cosine " +
          "FROM probed p JOIN embeddings e ON e.label = p.label AND e.vec_id != p.query_id), " +
          "ranked AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (" +
          "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored) " +
          "SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5 " +
          "ORDER BY query_id, rank"
      }),

    // SIM-IVF with a TRAINED quantizer: deterministic Lloyd k-means builds
    // the cells (md5 seeding → assign → re-center → assign), then the same
    // IVF probe path runs over the trained assignment — the ANN story
    // end-to-end, quantizer included, and every step oracle-checkable.
    VerifyRow("sim_ivf_trained",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        // two consumers inside ivfTopK (the centroid aggregate + the probed
        // cell join's corpus side); persisted (loan) so the trained argmax
        // projection evaluates once — and the plan is identical to
        // d10/d10b's trained assignment, so the family shares one entry
        val withCell = graft.Caches.persistLoaned(
          Similarity.kmeansAssign(emb, "vec_id", "embedding",
            dim = 64, k = 8, iters = 2))
        Similarity.ivfTopK(withCell, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          "cell", dim = 64, k = 5, probes = 3)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
      },
      kmeansIvfSql(dim = 64, k = 8, probes = 3, topK = 5,
        seed = "kmeans")),

    // SIM-IVF INDEX REPLAY: sim_ivf_trained from a MATERIALIZED IvfIndex —
    // Lloyd training runs once at build and the (cells, centroids) pair is
    // sharded to parquet; the replay probes the loaded frames (one
    // broadcast centroid ranking + one cell equi-join, no k-means
    // anywhere in the plan — PlanSpec pin). Same oracle as sim_ivf_trained:
    // the centroid relation round-trips parquet bit-exactly.
    //
    // the materialized-index replay must reproduce the inline trained form
    // exactly — cells and centroids are the same relations whether derived
    // by the builder or loaded from the sharded parquet index
    VerifyRow("sim_ivf_index_replay",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val srcFile = new java.io.File(s"$d/embeddings.parquet")
        val idxDir = s"${scratchDir(d)}/sim_ivf_index_${stageKey(srcFile, "d64k8i2")}"
        if (!new java.io.File(s"$idxDir/cents/_SUCCESS").exists()) {
          Similarity.writeIvfIndex(
            Similarity.buildIvfIndex(emb, "vec_id", "embedding", dim = 64, k = 8,
              iters = 2),
            idxDir, "vec_id", shards = 4)
        }
        Similarity.ivfTopKFromIndex(Similarity.readIvfIndex(s, idxDir),
          emb.filter(col("vec_id") < 10), "vec_id", "embedding", k = 5, probes = 3)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
      },
      kmeansIvfSql(dim = 64, k = 8, probes = 3, topK = 5,
        seed = "kmeans")),

    // SIM-IVF STATS: retrain-trigger telemetry over the materialized index
    // — one row of cell-occupancy stats (max/mean imbalance) a pipeline
    // thresholds to schedule the periodic quantizer rebuild. Shares the
    // staged index with sim_ivf_index_replay; the oracle recomputes the
    // deterministic Lloyd assignment and counts the same cells.
    //
    // occupancy of the SAME deterministic Lloyd assignment the index
    // materializes — cells/vectors/extremes plus the max/mean imbalance
    // retrain trigger
    VerifyRow("sim_ivf_stats",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val srcFile = new java.io.File(s"$d/embeddings.parquet")
        val idxDir = s"${scratchDir(d)}/sim_ivf_index_${stageKey(srcFile, "d64k8i2")}"
        if (!new java.io.File(s"$idxDir/cents/_SUCCESS").exists()) {
          Similarity.writeIvfIndex(
            Similarity.buildIvfIndex(emb, "vec_id", "embedding", dim = 64, k = 8,
              iters = 2),
            idxDir, "vec_id", shards = 4)
        }
        Similarity.ivfIndexStats(s, idxDir)
      },
      s"${kmeansCtesSql(dim = 64, k = 8, seed = "kmeans")}, " +
        "occ AS (SELECT cell, count(*)::BIGINT AS n FROM a2 GROUP BY cell) " +
        "SELECT count(*)::BIGINT AS cells, sum(n)::BIGINT AS vectors, " +
        "max(n)::BIGINT AS max_cell, round(avg(n), 6) AS mean_cell, " +
        "round(max(n) / avg(n), 6) AS imbalance FROM occ"),

    // SIM-IVF-RETRAIN: the diagnostic → derivation → plan ARC for the
    // ANN family (r17 Next #2 — sim_ivf_stats' telemetry now feeds a
    // plan choice, the d4c/e6f discipline): bootstrap the quantizer on
    // the first 16 vectors (the tiny early sample a pipeline trains its
    // day-1 index on), append the other ~30× under the FROZEN centroids
    // (the documented updateIvfIndex regime: appends can never
    // rebalance), read the occupancy imbalance, derive shouldRetrainIvf,
    // and run the triggered rebuild. The arc runs at BOTH row
    // thresholds — the FIRE arm retrains and reports the rebuilt
    // occupancy, the HOLD arm reports the appended occupancy — so the
    // oracle (which re-derives both Lloyd trainings, the argmax append,
    // the occupancy arithmetic, and the CASE-gated branch choice in
    // SQL) hash-verifies BOTH branches of the gate, the d4d pattern
    // with no vacuous arm. The retrained index bit-matches a
    // from-scratch build on the union (SimilaritySpec).
    VerifyRow("sim_ivf_retrain",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d)
        val srcFile = new java.io.File(s"$d/embeddings.parquet")
        // the threshold literals are part of the stage key: editing an arm
        // must invalidate the staged decision rows, or a replay reports a
        // stale decision against a regenerated oracle (the stageKey doc's
        // exact failure mode)
        val idxDir = s"${scratchDir(d)}/sim_ivf_retrain_${stageKey(srcFile, s"d64k8i2b16f${SimRetrainFire}h$SimRetrainHold")}"
        if (!new java.io.File(s"$idxDir/_RETRAIN_DONE").exists()) {
          graft.sources.ParquetSink.deleteRecursively(new java.io.File(idxDir))
          Similarity.writeIvfIndex(
            Similarity.buildIvfIndex(emb.filter(col("vec_id") < 16),
              "vec_id", "embedding", dim = 64, k = 8, iters = 2),
            idxDir, "vec_id", shards = 4)
          Similarity.updateIvfIndex(emb.filter(col("vec_id") >= 16)
              .select("vec_id", "embedding"),
            idxDir, "vec_id", "embedding", shards = 4)
          def stats() = Similarity.ivfIndexStats(s, idxDir).head()
          val pre = stats()
          // shouldRetrainIvf's own null discipline, mirrored (r18 ADVICE):
          // a degenerate fixture (no vec_id < 16 rows → empty bootstrap
          // index) reports a NULL imbalance, and the unguarded getDouble
          // would throw an opaque NPE instead of naming the cause
          require(!pre.isNullAt(4),
            s"sim_ivf_retrain: index at $idxDir reports no occupancy " +
              s"imbalance — empty or degenerate bootstrap (no vec_id < 16 " +
              s"rows in $d/embeddings.parquet?)")
          // the verdicts ARE shouldRetrainIvf's arithmetic on the row just
          // collected (spec-pinned equivalence in SimilaritySpec) — deriving
          // them locally avoids two more full cells/ scans per cold stage
          val fire = pre.getDouble(4) > SimRetrainFire
          val hold = pre.getDouble(4) > SimRetrainHold
          if (fire || hold)
            Similarity.retrainIvfIndex(s, idxDir, "vec_id", "embedding",
              dim = 64, k = 8, iters = 2)
          val post = stats()
          // the decision rows persist WITH the staged index: a replay must
          // report the evidence each decision was taken on, not re-measure
          // an index the retrain already rebalanced
          def arm(threshold: Double, fired: Boolean) = {
            val r = if (fired) post else pre
            (threshold, pre.getDouble(4), fired, r.getLong(0), r.getLong(1),
              r.getLong(2), r.getDouble(3), r.getDouble(4))
          }
          Seq(arm(SimRetrainFire, fire), arm(SimRetrainHold, hold))
            .toDF("threshold", "pre_imbalance", "retrained", "cells",
              "vectors", "max_cell", "mean_cell", "imbalance")
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$idxDir/decision.parquet")
          new java.io.File(s"$idxDir/_RETRAIN_DONE").createNewFile()
        }
        s.read.parquet(s"$idxDir/decision.parquet").orderBy("threshold")
      },
      ivfRetrainOracleSql(dim = 64, k = 8,
        seed = "kmeans", thresholds = Seq(SimRetrainFire, SimRetrainHold))),

    // SIM-IVF-RETRAIN-K: the k DERIVATION oracle-gated (r18 VERDICT #1).
    // sim_ivf_retrain gates WHETHER to rebuild; this row gates WHAT K the
    // rebuild runs at — the round-18 measurement said the same-k rebuild
    // cannot flatten a dense append (1.792 vs derived-k 1.346 at 100×),
    // making deriveIvfK the production lever, so its arithmetic gets the
    // production gate, not just a spec. Per arm (see SimRetrainK*): the
    // bootstrap-append arc, the one-row stats read, deriveIvfK at the
    // arm's target (plus the clamp derivation at maxK = 12), then
    // retrainIvfIndex AT THE DERIVED k. The oracle re-derives the whole
    // thing — ceil, floor-at-cells, clamp — and trains the union rebuild
    // at ITS OWN derived k (a scalar subquery feeds the Lloyd seed
    // filter), so a wrong Spark derivation mismatches twice: on the
    // derived_k column and on every occupancy column of a rebuild sized
    // differently than the data says.
    VerifyRow("sim_ivf_retrain_k",
      (s, d) => {
        import s.implicits._
        val emb = Tables.embeddings(s, d)
        val srcFile = new java.io.File(s"$d/embeddings.parquet")
        val idxDir = s"${scratchDir(d)}/sim_ivf_retrain_k_${stageKey(srcFile,
          s"d64k8i2g${SimRetrainKGrow}f${SimRetrainKFloor}c$SimRetrainKClampMax")}"
        if (!new java.io.File(s"$idxDir/_RETRAIN_K_DONE").exists()) {
          graft.sources.ParquetSink.deleteRecursively(new java.io.File(idxDir))
          def arm(target: Long) = {
            val armDir = s"$idxDir/arm_$target"
            Similarity.writeIvfIndex(
              Similarity.buildIvfIndex(emb.filter(col("vec_id") < 16),
                "vec_id", "embedding", dim = 64, k = 8, iters = 2),
              armDir, "vec_id", shards = 4)
            Similarity.updateIvfIndex(emb.filter(col("vec_id") >= 16)
                .select("vec_id", "embedding"),
              armDir, "vec_id", "embedding", shards = 4)
            val pre = Similarity.ivfIndexStats(s, armDir).head()
            require(!pre.isNullAt(4),
              s"sim_ivf_retrain_k: degenerate bootstrap index at $armDir")
            val vectors = pre.getLong(1)
            // integer-exact ceil, the deriveIvfK arithmetic (the oracle's
            // ceil(vectors/target.0) agrees exactly below 2^53)
            val wantK = (vectors + target - 1) / target
            val derivedK = Similarity.deriveIvfK(s, armDir, targetMeanCell = target)
            val clampK = Similarity.deriveIvfK(s, armDir, targetMeanCell = target,
              maxK = SimRetrainKClampMax)
            Similarity.retrainIvfIndex(s, armDir, "vec_id", "embedding",
              dim = 64, k = derivedK, iters = 2)
            val post = Similarity.ivfIndexStats(s, armDir).head()
            (target, pre.getLong(0), vectors, pre.getDouble(4), wantK,
              derivedK.toLong, clampK.toLong, post.getLong(0), post.getLong(1),
              post.getLong(2), post.getDouble(3), post.getDouble(4))
          }
          Seq(arm(SimRetrainKGrow), arm(SimRetrainKFloor))
            .toDF("target_mean_cell", "pre_cells", "pre_vectors",
              "pre_imbalance", "want_k", "derived_k", "clamp_k", "cells",
              "vectors", "max_cell", "mean_cell", "imbalance")
            .coalesce(1).write.mode("overwrite")
            .parquet(s"$idxDir/decision.parquet")
          new java.io.File(s"$idxDir/_RETRAIN_K_DONE").createNewFile()
        }
        s.read.parquet(s"$idxDir/decision.parquet").orderBy("target_mean_cell")
      },
      ivfRetrainKOracleSql(dim = 64, bootK = 8,
        seed = "kmeans",
        targets = Seq(SimRetrainKGrow -> "g", SimRetrainKFloor -> "f"),
        clampMaxK = SimRetrainKClampMax, maxK = 1 << 20)),

    // SIM-PROBE-SQL: the sim_ivf_index_replay probe stated as PURE SQL
    // TEXT (the d2e pattern extended to the ANN index): the staged
    // IvfIndex registers as views (graft_ivf_cells / graft_ivf_cents)
    // and the whole probe — the k-row centroid ranking, the
    // probes-nearest-cells filter, the cell equi-join, exact cosine
    // scoring with the registered graft_cosine kernel, the per-query
    // top-k window — is one SQL statement a front-end user could run
    // against the same materialized index the Scala API probes. Shares
    // the replay row's staged dir (same stage key) and must bit-match it
    // (same oracle). Plan shape matches too: the 8-row cents view
    // broadcasts into the rank, the cells join is an equi-join on cell.
    //
    // the SQL-text probe runs against the same materialized index as the
    // replay row — one oracle covers both surfaces
    VerifyRow("sim_probe_sql",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val srcFile = new java.io.File(s"$d/embeddings.parquet")
        val idxDir = s"${scratchDir(d)}/sim_ivf_index_${stageKey(srcFile, "d64k8i2")}"
        if (!new java.io.File(s"$idxDir/cents/_SUCCESS").exists()) {
          Similarity.writeIvfIndex(
            Similarity.buildIvfIndex(emb, "vec_id", "embedding", dim = 64, k = 8,
              iters = 2),
            idxDir, "vec_id", shards = 4)
        }
        Tables.registerAll(s, d)
        val idx = Similarity.readIvfIndex(s, idxDir)
        idx.cells.createOrReplaceTempView("graft_ivf_cells")
        idx.cents.createOrReplaceTempView("graft_ivf_cents")
        s.sql(
          "WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings " +
            "WHERE vec_id < 10), " +
            "cellrank AS (SELECT q.query_id, q.qe, c.cell, row_number() OVER (" +
            "PARTITION BY q.query_id ORDER BY round(graft_cosine(q.qe, c.centroid), 6) DESC, " +
            "c.cell ASC) AS crn FROM q CROSS JOIN graft_ivf_cents c), " +
            "probed AS (SELECT query_id, qe, cell FROM cellrank WHERE crn <= 3), " +
            "scored AS (SELECT p.query_id, e.vec_id AS neighbor_id, " +
            "round(graft_cosine(p.qe, e.embedding), 6) AS cosine " +
            "FROM probed p JOIN graft_ivf_cells e ON e.cell = p.cell " +
            "AND e.vec_id != p.query_id), " +
            "ranked AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (" +
            "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank " +
            "FROM scored) " +
            "SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank " +
            "FROM ranked WHERE rank <= 5 ORDER BY query_id, rank")
      },
      kmeansIvfSql(dim = 64, k = 8, probes = 3, topK = 5,
        seed = "kmeans")),

    // SIM-IVF-UPDATE-SQL: the IVF index's UPDATE lifecycle as pure SQL
    // text (the d5j/d2h discipline applied to the ANN family): day-1 =
    // the Scala builder trains the quantizer on the BASE split (%5 != 0)
    // and shards cells + centroids to parquet; day-2 = a SQL-only
    // consumer assigns the new batch (%5 = 0) against the FROZEN
    // centroids — one argmax window over the 8-row cents view, the IVF
    // add() semantics d10c documents (production never retrains per
    // batch) — INSERTs into the external cells table and CTAS-compacts
    // it; the probe is sim_probe_sql's statement over the updated cells.
    // Oracle = from-scratch: deterministic Lloyd on the base split, the
    // batch assigned to the same centroids, top-k over the union.
    // Crash idempotency: one _UPDATED marker gates the WHOLE lifecycle
    // (build included) — a run that died anywhere clears the dir and
    // replays from scratch, so partial inserts can never be re-adopted.
    //
    // the SQL-maintained cells table against the from-scratch oracle:
    // base-trained frozen centroids, batch folded by the same argmax,
    // top-k over the union — INSERT + compaction must be invisible
    VerifyRow("sim_ivf_update_sql",
      (s, d) => {
        Tables.registerAll(s, d)
        val emb = Tables.embeddings(s, d)
        val srcFile = new java.io.File(s"$d/embeddings.parquet")
        val idxDir = s"${scratchDir(d)}/simivf_upd_${stageKey(srcFile, "d64k8i2m5sql")}"
        s.sql("DROP TABLE IF EXISTS graft_ivf_cells_upd")
        val staged = new java.io.File(s"$idxDir/_UPDATED").exists()
        if (!staged) {
          def rm(f: java.io.File): Unit =
            graft.sources.ParquetSink.deleteRecursively(f)
          rm(new java.io.File(idxDir))
          Similarity.writeIvfIndex(
            Similarity.buildIvfIndex(emb.filter(col("vec_id") % 5 =!= 0),
              "vec_id", "embedding", dim = 64, k = 8, iters = 2),
            idxDir, "vec_id", shards = 4)
        }
        // external table over the staged cells (schema inferred from the
        // day-1 files), frozen centroids as a read-only view
        s.sql(s"CREATE TABLE graft_ivf_cells_upd USING parquet LOCATION '$idxDir/cells'")
        s.read.parquet(s"$idxDir/cents").createOrReplaceTempView("graft_ivf_cents_upd")
        if (!staged) {
          s.sql("INSERT INTO graft_ivf_cells_upd " +
            "SELECT vec_id, embedding, cell FROM (" +
            "SELECT e.vec_id, e.embedding, c.cell, row_number() OVER (" +
            "PARTITION BY e.vec_id ORDER BY round(graft_cosine(e.embedding, c.centroid), 6) DESC, " +
            "c.cell ASC) AS rn " +
            "FROM (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 5 = 0) e " +
            "CROSS JOIN graft_ivf_cents_upd c) WHERE rn = 1")
          s.sql("DROP TABLE IF EXISTS graft_ivf_cells_upd_stage")
          s.sql("CREATE TABLE graft_ivf_cells_upd_stage USING parquet AS " +
            "SELECT /*+ REPARTITION(4) */ vec_id, embedding, cell FROM graft_ivf_cells_upd")
          s.sql("INSERT OVERWRITE graft_ivf_cells_upd " +
            "SELECT vec_id, embedding, cell FROM graft_ivf_cells_upd_stage")
          s.sql("DROP TABLE graft_ivf_cells_upd_stage")
          new java.io.File(s"$idxDir/_UPDATED").createNewFile()
        }
        s.sql(
          "WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings " +
            "WHERE vec_id < 10), " +
            "cellrank AS (SELECT q.query_id, q.qe, c.cell, row_number() OVER (" +
            "PARTITION BY q.query_id ORDER BY round(graft_cosine(q.qe, c.centroid), 6) DESC, " +
            "c.cell ASC) AS crn FROM q CROSS JOIN graft_ivf_cents_upd c), " +
            "probed AS (SELECT query_id, qe, cell FROM cellrank WHERE crn <= 3), " +
            "scored AS (SELECT p.query_id, e.vec_id AS neighbor_id, " +
            "round(graft_cosine(p.qe, e.embedding), 6) AS cosine " +
            "FROM probed p JOIN graft_ivf_cells_upd e ON e.cell = p.cell " +
            "AND e.vec_id != p.query_id), " +
            "ranked AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (" +
            "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank " +
            "FROM scored) " +
            "SELECT query_id, neighbor_id, cosine, CAST(rank AS BIGINT) AS rank " +
            "FROM ranked WHERE rank <= 5 ORDER BY query_id, rank")
      },
      ivfUpdateOracleSql(dim = 64, k = 8, probes = 3,
        topK = 5, seed = "kmeans")),

    // SIM CLUSTER CAP: cluster-balanced curation (the SemDeDup recipe's
    // outer loop) — train the deterministic Lloyd quantizer, then keep at
    // most k vectors per cell by the engine-portable id-hash quota
    // (s5c's sampler over sim_ivf_trained's clustering). Caps any one
    // semantic region's share of the training set; hash membership makes
    // the kept subset a pure function of (ids, seed, k).
    //
    // the quota sampler's rank applied to the deterministic Lloyd
    // assignment — at most 40 per cell, smallest id-hashes win
    VerifyRow("sim_cluster_cap",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        val assigned = Similarity.kmeansAssign(emb, "vec_id", "embedding",
          dim = 64, k = 8, iters = 2)
        Sampling.quotaSample(
          assigned.select(col("vec_id"), col("cell").cast("long").as("cell")),
          "vec_id", "cell", 40)
          .orderBy("vec_id")
      },
      s"${kmeansCtesSql(dim = 64, k = 8, seed = "kmeans")} " +
        "SELECT vec_id, cell FROM (SELECT vec_id, cell, row_number() OVER (" +
        "PARTITION BY cell ORDER BY " +
        "('0x' || substr(md5(vec_id::VARCHAR || '_q0'), 1, 15))::BIGINT ASC, vec_id ASC" +
        ") AS qrn FROM a2) WHERE qrn <= 40 ORDER BY vec_id"),

    // SIM-Q8: int8-quantized exact top-k — vectors packed to one signed
    // byte per coordinate (4× less memory/bandwidth than float32), scored
    // with the exact integer dot product (codegen'd ByteDotProduct): the
    // wide pass of the standard quantize-then-rerank ANN recipe, and fully
    // integer-exact so it hash-checks against the oracle with no rounding
    VerifyRow("sim_q8_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.quantizedTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding", 5)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
      },
      "WITH q8 AS (SELECT vec_id, list_transform(embedding, " +
        "x -> CAST(CASE WHEN ma > 0 THEN round(x::DOUBLE * 127.0 / ma, 0) ELSE 0 END AS BIGINT)) AS q " +
        "FROM (SELECT vec_id, embedding, " +
        "list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS ma FROM embeddings)), " +
        "scored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "CAST(list_dot_product(q.q::DOUBLE[], c.q::DOUBLE[]) AS BIGINT) AS dot_q8 " +
        "FROM q8 q JOIN q8 c ON q.vec_id != c.vec_id WHERE q.vec_id < 10), " +
        "ranked AS (SELECT query_id, neighbor_id, dot_q8, row_number() OVER (" +
        "PARTITION BY query_id ORDER BY dot_q8 DESC, neighbor_id ASC) AS rank FROM scored) " +
        "SELECT query_id, neighbor_id, dot_q8, rank FROM ranked WHERE rank <= 5 " +
        "ORDER BY query_id, rank"),

    // SIM-Q8-RERANK: the complete quantize-then-rerank recipe — int8 wide
    // pass shortlists 25 candidates per query, exact float cosine rescores
    // only those and cuts to 5
    VerifyRow("sim_q8_rerank",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.quantizedRerankTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 5, shortlist = 25)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
      },
      "WITH q8 AS (SELECT vec_id, list_transform(embedding, " +
        "x -> CAST(CASE WHEN ma > 0 THEN round(x::DOUBLE * 127.0 / ma, 0) ELSE 0 END AS BIGINT)) AS q " +
        "FROM (SELECT vec_id, embedding, " +
        "list_max(list_transform(embedding, x -> abs(x::DOUBLE))) AS ma FROM embeddings)), " +
        "wscored AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, " +
        "CAST(list_dot_product(q.q::DOUBLE[], c.q::DOUBLE[]) AS BIGINT) AS dot_q8 " +
        "FROM q8 q JOIN q8 c ON q.vec_id != c.vec_id WHERE q.vec_id < 10), " +
        "short AS (SELECT query_id, neighbor_id FROM (SELECT query_id, neighbor_id, " +
        "row_number() OVER (PARTITION BY query_id ORDER BY dot_q8 DESC, neighbor_id ASC) AS wr " +
        "FROM wscored) WHERE wr <= 25), " +
        "rescored AS (SELECT s.query_id, s.neighbor_id, " +
        "round(list_cosine_similarity(a.embedding::DOUBLE[], b.embedding::DOUBLE[]), 6) AS cosine " +
        "FROM short s JOIN embeddings a ON a.vec_id = s.query_id " +
        "JOIN embeddings b ON b.vec_id = s.neighbor_id), " +
        "ranked AS (SELECT query_id, neighbor_id, cosine, row_number() OVER (" +
        "PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM rescored) " +
        "SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5 " +
        "ORDER BY query_id, rank"),

    // SIM-LSH: bucketed approximate top-k with 1-bit multiprobe — the ANN
    // scale path. Ordinal sketch buckets (engine-portable, see d5b) make
    // the full candidate+rank pipeline hash-checkable in DuckDB; recall vs
    // the exact sim_topk is additionally asserted in SimilaritySpec.
    VerifyRow("sim_lsh_topk",
      (s, d) => {
        val emb = Tables.embeddings(s, d)
        Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10), "vec_id", "embedding",
          5, dim = 64, bits = 6, ordinal = true)
          .withColumn("rank", col("rank").cast("long"))
          .orderBy("query_id", "rank")
      },
      {
        // 6-bit ordinal bucket (seed 42) + 1-bit multiprobe + exact cosine +
        // deterministic rank — mirrors Similarity.lshTopK(ordinal = true)
        val bucket = ordinalSketchSql("embedding", dim = 64, bits = 6, seed = 42L)
        s"WITH sk AS (SELECT vec_id, embedding, $bucket AS bucket FROM embeddings), " +
          "q AS (SELECT vec_id AS query_id, embedding AS qe, bucket AS qb FROM sk WHERE vec_id < 10), " +
          "probes AS (SELECT query_id, qe, qb AS bucket FROM q " +
          "UNION ALL SELECT query_id, qe, xor(qb, (1::BIGINT << r.range)) AS bucket " +
          "FROM q CROSS JOIN range(0, 6) r), " +
          "scored AS (SELECT DISTINCT p.query_id, c.vec_id AS neighbor_id, " +
          "round(list_cosine_similarity(p.qe::DOUBLE[], c.embedding::DOUBLE[]), 6) AS cosine " +
          "FROM probes p JOIN sk c ON p.bucket = c.bucket AND c.vec_id != p.query_id), " +
          "ranked AS (SELECT query_id, neighbor_id, cosine, " +
          "row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank " +
          "FROM scored) " +
          "SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= 5 " +
          "ORDER BY query_id, rank"
      })
  )
}
