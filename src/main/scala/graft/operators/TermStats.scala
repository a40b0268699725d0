package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-relative term statistics — the tf-idf-style scoring a training-
  * data pipeline uses to surface what a document is ABOUT (topic terms for
  * domain filtering, dedup explanations, quality review). Extends the text
  * family (T1-T9) with the first CROSS-document text score: T7's vocabulary
  * is corpus-global, the quality/repetition scores are per-document; this
  * one needs both sides.
  */
object TermStats {

  /** Per-document top-k DISTINCTIVE terms: score = tf / df — term frequency
    * in this document over the term's document frequency in the corpus
    * (plain tf-idf with a 1/df weight instead of log(N/df): the ranking a
    * log idf gives per-document is dominated by the same monotone-in-df
    * ordering, and a single integer division is bit-identical across
    * engines where log(N/df) is at the mercy of libm rounding).
    * Ties break by term ascending; score rounded to 6.
    *
    * Scale shape: the corpus is tokenized and exchanged ONCE. tf = one
    * map-side-combined shuffle on (doc, term), PERSISTED (A15: the frame
    * feeds two plan positions — the score join and the df derivation; an
    * exchange-reuse formulation is not available because the optimizer
    * rewrites the df branch's copy of the tf aggregate into a plain
    * distinct, un-sharing the shuffle). df derives FROM tf (`tf` already
    * holds exactly one row per (doc, term), so df = count per term over
    * tf) — the old distinct-over-raw-tokens df paid a SECOND full corpus
    * tokenize + (doc, term) exchange for information tf already had. The
    * df aggregate itself exchanges vocabulary-sized partials, and the rank
    * window partitions per document over that document's own vocabulary,
    * never the corpus. Whitespace tokenization matches T7's vocabulary
    * build. The tf frame is a [[graft.Caches]] loan.
    */
  def distinctiveTerms(docs: DataFrame, idCol: String, textCol: String,
                       k: Int): DataFrame = {
    require(k >= 1, "distinctiveTerms: k must be >= 1")
    val toks = graft.functions.ArrayOps.explodeDense(docs, Seq(col(idCol)),
      split(lower(trim(col(textCol))), "\\s+"), "term")
    val tf = graft.Caches.persistLoaned(
      toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("score").desc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("score", round(col("tf").cast("double") / col("df").cast("double"), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("term"), col("tf"), col("df"), col("score"), col("rank"))
  }

  /** T26 — quality BUCKETS (the CCNet head/middle/tail split): bin each
    * document by its [[unigramLmScore]] against the corpus's exact
    * quartiles — bottom quartile `tail`, top quartile `head`, the middle
    * half `middle`. The standard cheap stratification before an expensive
    * model-based filter (train mostly on head, sample the tail for
    * diversity).
    *
    * Scale shape: the score is t11's (one vocab exchange + one keyed
    * join + per-doc partial-agged mean); the two thresholds are ONE
    * corpus aggregate broadcast back — the bucketing itself is a narrow
    * CASE. Quartile fractions 0.25/0.75 are exact binary doubles, so the
    * interpolated thresholds are engine-reproducible (the g7 percentile
    * parity); a score can only EQUAL a threshold when the threshold is an
    * actual data value (interpolation fraction 0), where both engines are
    * bit-exact — comparisons never straddle an ulp.
    */
  def qualityBuckets(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val scored = unigramLmScore(docs, idCol, textCol)
    val th = scored.agg(
      expr("percentile(lm_score, 0.25)").as("_t1"),
      expr("percentile(lm_score, 0.75)").as("_t2"))
    scored.crossJoin(broadcast(th))
      .select(col(idCol), col("lm_score"),
        when(col("lm_score") <= col("_t1"), "tail")
          .when(col("lm_score") <= col("_t2"), "middle")
          .otherwise("head").as("bucket"))
  }

  /** T25 — PMI collocations: pointwise mutual information of adjacent word
    * pairs, `pmi(a,b) = ln( (c_ab/N₂) / ((c_a/N₁)·(c_b/N₁)) )` — the
    * classic collocation detector (multiword expressions, named entities,
    * boilerplate phrases) a tokenizer-training or phrase-mining pass runs
    * over the corpus. `minCount` kills the low-frequency noise PMI is
    * notoriously fond of; output is the top `topN` by (pmi desc, gram asc).
    *
    * Scale shape: two map-side-combined count shuffles (unigrams, bigrams)
    * + two vocabulary-keyed joins to attach c_a/c_b (vocab-sized, not
    * corpus-sized, and the filtered bigram side is the small one), totals
    * are two one-row aggregates broadcast back, top-N rides
    * `TakeOrderedAndProject`. All counts are exact integers; the single
    * ln is rounded to 6 dp so both engines sort the same relation.
    */
  def pmiCollocations(docs: DataFrame, textCol: String, minCount: Long,
                      topN: Int): DataFrame = {
    require(minCount >= 1 && topN >= 1, "pmiCollocations: minCount and topN must be >= 1")
    val words = docs.select(split(lower(trim(col(textCol))), "\\s+").as("_words"))
    val uni = graft.functions.ArrayOps.explodeDense(words, Seq.empty, col("_words"), "w")
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val n1 = uni.agg(sum("cw").cast("double").as("N1"))
    val bi = graft.functions.ArrayOps.explodeDense(words, Seq.empty, graft.functions.Text.shinglesFromWords(
        col("_words"), 2, distinct = false), "gram")
      .groupBy("gram").agg(count(lit(1)).as("cab"))
    val n2 = bi.agg(sum("cab").cast("double").as("N2"))
    // words contain no whitespace (split-derived), so the bigram's single
    // space is an unambiguous separator
    bi.filter(col("cab") >= minCount)
      .withColumn("_a", element_at(split(col("gram"), " "), 1))
      .withColumn("_b", element_at(split(col("gram"), " "), 2))
      .join(uni.select(col("w").as("_a"), col("cw").as("ca")), Seq("_a"))
      .join(uni.select(col("w").as("_b"), col("cw").as("cb")), Seq("_b"))
      .crossJoin(broadcast(n1)).crossJoin(broadcast(n2))
      .select(col("gram"), col("cab").as("n"),
        (round(log((col("cab") / col("N2")) /
          ((col("ca") / col("N1")) * (col("cb") / col("N1")))), 6) + lit(0.0)).as("pmi"))
      .orderBy(col("pmi").desc, col("gram").asc)
      .limit(topN)
  }

  /** Corpus-wide word n-gram counts — the classic LM-statistics workload
    * (bigram/trigram tables with frequency cutoffs). One narrow explode +
    * one map-side-combined count shuffle; the top-N cut rides
    * `TakeOrderedAndProject` (per-partition heaps, no global sort). The
    * shingle expression is [[graft.functions.Text.shinglesFromWords]] over
    * its own words projection (HOF-recompute pitfall; see Dedup.shingleSets)
    * with DISTINCT OFF — counts weigh every occurrence.
    */
  def ngramCounts(docs: DataFrame, textCol: String, n: Int, topN: Int): DataFrame = {
    require(n >= 1 && topN >= 1, "ngramCounts: n and topN must be >= 1")
    graft.functions.ArrayOps.explodeDense(
      docs.select(split(lower(trim(col(textCol))), "\\s+").as("_words")),
      Seq.empty, graft.functions.Text.shinglesFromWords(col("_words"), n,
        distinct = false), "gram")
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram").asc)
      .limit(topN)
  }

  /** CCNet-style unigram language-model score: the mean corpus frequency
    * of the document's token OCCURRENCES (repeats count). High = built
    * from ubiquitous tokens (boilerplate/stereotype text); low = rare-token
    * text — the standard cheap LM proxy for corpus quality bucketing
    * (head/middle/tail) before an expensive model-based filter.
    *
    * Exact across engines: token counts are integers, their sum is exact,
    * and the mean is one division. Scale: vocabulary build = one
    * map-side-combined shuffle; the occurrence join is vocabulary-sized on
    * the build side; per-doc mean partial-aggregates.
    */
  /** T16 — per-source term-distribution DRIFT: Pearson's χ² statistic of
    * each source's unigram counts against the corpus-wide distribution,
    * the "did this slice of the corpus change composition" monitor a
    * continuously-ingesting pipeline alarms on (and the simplest honest
    * answer to "is source X statistically like the rest"). For source s
    * with n_s tokens, expected count of term t is e = n_s · c_t / N;
    * χ²_s = Σ_t (o_st − e)² / e over the FULL vocabulary — absent terms
    * contribute e (the textbook statistic; dropping them understates
    * drift), via a source × vocabulary frame left-joined with observed
    * counts. χ² over log-based divergences (KL): every term's cell is
    * one subtraction, one multiply, one divide on identical operands —
    * no libm, so cells are bit-identical across engines (the
    * [[distinctiveTerms]] 1/df argument, applied to divergence).
    *
    * Scale shape: token counts are map-side-combined shuffles keyed by
    * (source, term) / term; the cell frame is #sources × vocabulary —
    * vocabulary-sized, NOT corpus-sized; one final per-source sum.
    * Output: (source, n_tokens, chi2 round 4), one row per source.
    *
    * The final sum is ORDER-FIXED (r7, closing the r4-r6 documented ulp
    * caveat): each source's cells are collected, sorted by term, and
    * folded sequentially (`aggregate` over the sorted struct array), and
    * the oracle folds the identically-ordered list (`list_reduce` over
    * `list(cell ORDER BY term)`) — same operands, same order, zero libm,
    * so the pre-round χ² double is BIT-IDENTICAL across engines at any
    * vocabulary size, not just ulp-close. The per-source collect is
    * vocabulary-sized (the cell frame's own scale), never corpus-sized.
    */
  def chiSquareDrift(docs: DataFrame, sourceCol: String, textCol: String): DataFrame = {
    val toks = graft.functions.ArrayOps.explodeDense(docs, Seq(col(sourceCol)),
      split(lower(trim(col(textCol))), "\\s+"), "term")
      .filter(length(col("term")) > 0)
    val o = toks.groupBy(sourceCol, "term").agg(count(lit(1)).as("o"))
    val ns = toks.groupBy(sourceCol).agg(count(lit(1)).as("n"))
    val ct = toks.groupBy("term").agg(count(lit(1)).as("c"))
    // "_tot", not "N": Spark's default case-insensitive resolution would
    // make a column named N ambiguous with the per-source n
    val total = toks.agg(count(lit(1)).as("_tot"))
    val cells = ns.crossJoin(ct).crossJoin(total)
      .join(o, Seq(sourceCol, "term"), "left")
      .withColumn("o0", coalesce(col("o"), lit(0L)).cast("double"))
      .withColumn("e", col("n").cast("double") * col("c").cast("double") / col("_tot").cast("double"))
    cells.groupBy(col(sourceCol))
      .agg(max(col("n")).as("n_tokens"),
        round(aggregate(
          array_sort(collect_list(struct(col("term"),
            ((col("o0") - col("e")) * (col("o0") - col("e")) / col("e")).as("cell")))),
          lit(0.0), (acc, s) => acc + s.getField("cell")), 4).as("chi2"))
  }

  /** T17 — BM25 relevance of every document against a fixed query term set
    * (Robertson/Spärck Jones; the Okapi formulation with `+1` idf so scores
    * stay non-negative). The corpus-search primitive a curation pipeline
    * uses to pull topic-relevant slices ("find the docs about X") and to
    * grade retrieval corpora.
    *
    * score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)),
    * idf(t) = ln((N − df + 0.5)/(df + 0.5) + 1).
    *
    * Engine parity: every input is an exact integer (tf, df, dl, N, Σdl);
    * the per-cell arithmetic is a fixed chain of IEEE ops on identical
    * operands, and the per-document Σ_t is materialized as one conditional
    * sum PER TERM (at most one non-zero cell per (doc, term), so the
    * aggregate's order cannot matter) added in FIXED term order. The one
    * libm call is `ln` on identical doubles — engines may differ in the
    * last ulp there (the single remaining cross-engine tolerance in this
    * family; [[chiSquareDrift]]'s sum-order caveat was closed in r7);
    * round(4) output absorbs it in practice.
    *
    * Scale shape: ZERO corpus-sized exchanges — dl and every per-term tf
    * are PER-ROW functions of the token array (`size(filter(words, ...))`,
    * codegen'd; the query term set is a fixed literal list), so the corpus
    * is never exploded, grouped, or joined. The only aggregate is the
    * 1-row stats reduction (N / Σdl / every df), broadcast back for the
    * narrow scoring projection (the standardize/x6 pattern).
    * Output: (id, dl, bm25 round 4) for EVERY document (0.0 when no term
    * matches).
    */
  def bm25(docs: DataFrame, idCol: String, textCol: String, terms: Seq[String],
           k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25: query terms must be non-empty")
    require(terms.distinct == terms, "bm25: query terms must be distinct")
    // the words array lives in its own projection: it is referenced
    // |terms|+1 times, which CollapseProject refuses to inline — the regex
    // split runs ONCE per row (the shingleSets lesson)
    val words = filter(split(lower(trim(col(textCol))), "\\s+"), w => length(w) > 0)
    val perDoc = docs.select(col(idCol), words.as("_w"))
      .select(col(idCol) +: size(col("_w")).cast("long").as("dl") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter(col("_w"), w => w === t)).cast("long").as(s"_tf$i")
        }: _*)
    // N, Σdl, and every df in ONE stats row (broadcast back for scoring)
    val statCols = count(lit(1)).cast("double").as("_n") +:
      sum(col("dl")).cast("double").as("_tot") +:
      terms.indices.map(i =>
        sum(when(col(s"_tf$i") > 0L, 1L).otherwise(0L)).cast("double").as(s"_df$i"))
    val stats = perDoc.agg(statCols.head, statCols.tail: _*)
    val avgdl = col("_tot") / col("_n")
    def cell(i: Int) = {
      val tf = col(s"_tf$i").cast("double")
      val idf = log(((col("_n") - col(s"_df$i") + 0.5) / (col(s"_df$i") + 0.5)) + 1.0)
      when(col(s"_tf$i") > 0L,
        idf * (tf * (k1 + 1)) /
          (tf + lit(k1) * (lit(1 - b) + lit(b) * col("dl").cast("double") / avgdl)))
        .otherwise(0.0)
    }
    val score = terms.indices.map(cell).reduce(_ + _) // fixed term order
    perDoc.crossJoin(broadcast(stats))
      .select(col(idCol), col("dl"), round(score, 4).as("bm25"))
  }

  /** T18 — cross-document REPEATED-SPAN coverage: for each document, how
    * many of its tokens sit inside at least one `w`-token window that
    * appears VERBATIM in two or more distinct documents, plus the covered
    * fraction. The "duplicate n-gram fraction" signal large-corpus
    * curation pipelines gate on — it catches boilerplate and templated
    * spam that document-level dedup (D1/D2) misses because the documents
    * differ outside the repeated span, and that within-document repetition
    * (T8) cannot see at all.
    *
    * Semantics: a window is DUPLICATED iff its exact token sequence occurs
    * in ≥ 2 distinct documents (within-doc repeats alone don't qualify —
    * that is T8's signal). Token t of a doc is covered iff some duplicated
    * window starting in (t−w, t] exists; covered-token count = the merged
    * length of the [start, start+w) intervals, computed exactly with the
    * classic sorted-starts gap formula: w for the first duplicated start,
    * plus min(gap, w) per subsequent start. All integer arithmetic; the
    * fraction is one rounded division — engine-portable.
    *
    * Scale shape: the w× window explode is the honest cost every
    * dup-ngram-fraction implementation pays; windows travel as 8-byte
    * xxhash64 keys (never token text — the shingleSets argument), through
    * ONE map-side-combined (hash, doc) exchange for the distinct-doc
    * count. The duplicated-hash set is typically a tiny fraction of all
    * windows, so the coverage join + per-doc window run at matched-rows
    * scale, not corpus×w. Hash equivalence stands in for string equality
    * (64-bit collisions negligible — the d2/d4 precedent; the oracle
    * groups on the window strings themselves).
    */
  /** Shared T18/T19 machinery: the tokenized base frame (id, _w, n_tokens)
    * and, per document, the sorted start positions of its w-token windows
    * that occur verbatim in ≥ 2 distinct documents.
    */
  private def tokenizedBase(docs: DataFrame, idCol: String,
                            textCol: String): DataFrame =
    docs.select(col(idCol),
        filter(split(lower(trim(col(textCol))), "\\s+"), t => length(t) > 0).as("_w"))
      .select(col(idCol), col("_w"), size(col("_w")).cast("long").as("n_tokens"))

  /** Corpus token volume — the span family's priced row count (windows ≈
    * tokens ≈ exploded positions), turned into kernel-exchange widths by
    * [[graft.operators.Dedup.spreadKernel]]. One narrow tokenize+sum pass;
    * the r16 1000× probe measured WHY it is worth paying: at the fixed
    * session width the t18/t19 window/position exchanges held 1.4–1.8 GB
    * of per-task state that grew ~9× per decade — the corpus-derived
    * width keeps per-task state at the quantum, the sizing every other
    * kernel-heavy family already derives.
    */
  private def tokenVolume(base: DataFrame): Long = {
    val r = base.agg(sum(col("n_tokens"))).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** ~512k narrow rows (8–24 B + a token string) per task. */
  private val SpanRowsPerTask = 1L << 19

  private def dupWindowStarts(base: DataFrame, idCol: String, w: Int,
                              pricedTokens: Long): DataFrame = {
    val wins0 = base.filter(col("n_tokens") >= w)
      .select(col(idCol),
        explode(sequence(lit(0L), col("n_tokens") - w)).as("start"),
        col("_w"))
      .select(col(idCol), col("start"),
        xxhash64(concat_ws(" ",
          slice(col("_w"), (col("start") + 1).cast("int"), lit(w)))).as("whash"))
    // ONE whash-keyed exchange at the priced width serves BOTH consumers
    // (the dup-count aggregate and the probe join hash on the same key, so
    // the repartition satisfies each side's required distribution and the
    // exchange is REUSED) — previously the raw window stream shuffled
    // twice at the session width
    val wins = Dedup.spreadKernel(wins0, pricedTokens, SpanRowsPerTask,
      col("whash"))
    val dupHashes = wins.groupBy("whash")
      .agg(count_distinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= 2).select("whash")
    wins.join(dupHashes, "whash").select(col(idCol), col("start"))
  }

  def duplicateSpanCoverage(docs: DataFrame, idCol: String, textCol: String,
                            w: Int): DataFrame = {
    require(w >= 1, "duplicateSpanCoverage: w must be >= 1")
    // The tokenized base feeds THREE plan positions here (the eager
    // tokenVolume pricing aggregate, the window pass, the final per-doc
    // join) and FOUR in [[scrubDuplicateSpans]] — without a cache boundary
    // each one re-runs the regex tokenize over the full corpus (the d3b/
    // sketchedVecs double-evaluation pattern, r20). Loan convention:
    // Caches.drain settles it at end of run; the pricing aggregate below
    // fills it, so no extra job. Footprint ≈ the tokenized corpus
    // (token array + id + count per doc, MEMORY_AND_DISK — see
    // BENCH_SCALE's loan-footprint table).
    val base = graft.Caches.persistLoaned(tokenizedBase(docs, idCol, textCol))
    val priced = tokenVolume(base)
    val byDoc = Window.partitionBy(col(idCol)).orderBy(col("start"))
    // the doc-keyed repartition satisfies the window's required
    // distribution, so the coverage window runs at the priced width too
    val cov = Dedup.spreadKernel(dupWindowStarts(base, idCol, w, priced),
        priced, SpanRowsPerTask, col(idCol))
      .withColumn("_prev", lag(col("start"), 1).over(byDoc))
      .withColumn("_c", when(col("_prev").isNull, lit(w.toLong))
        .otherwise(least(col("start") - col("_prev"), lit(w.toLong))))
      .groupBy(col(idCol)).agg(sum(col("_c")).as("dup_tokens"))
    base.join(cov, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") /
          greatest(col("n_tokens"), lit(1L)).cast("double"), 6).as("dup_frac"))
  }

  /** T19 — SPAN SCRUBBING: the transform [[duplicateSpanCoverage]] is the
    * measurement for — REMOVE every token covered by a cross-document
    * duplicated w-token window and re-join the survivors ("exact substring
    * dedup", the curation step that strips boilerplate spans while keeping
    * the unique remainder of each document). Output per document:
    * n_tokens, kept_tokens, and the md5 of the scrubbed text (survivor
    * tokens in original order, single-space joined — md5 keeps the row
    * compact while pinning content exactly, the t9/t15 convention). Note
    * the scrubbed text is over NORMALIZED tokens (lowercased,
    * whitespace-collapsed) — the same normalization every window in the
    * family hashes. A fully-duplicated document keeps 0 tokens (md5 of
    * the empty string), it is NOT dropped — dropping is [[graft.operators.
    * Dedup]]'s job; scrubbing preserves the row.
    *
    * Scale shape: t18's window pass (w× explode, 8-byte hash exchange)
    * plus one posexplode of survivors; covered positions come from the
    * (tiny) duplicated-start set exploded w×, anti-joined against token
    * positions — matched-rows scale. The per-doc re-join sorts each
    * document's own survivor list (array_sort over collect_list — bounded
    * by document length, the t15 argument), never the corpus.
    */
  def scrubDuplicateSpans(docs: DataFrame, idCol: String, textCol: String,
                          w: Int): DataFrame = {
    require(w >= 1, "scrubDuplicateSpans: w must be >= 1")
    // persisted for the same reason as [[duplicateSpanCoverage]]'s base —
    // four consumers (pricing, window pass, posexplode, final join); the
    // two queries share the plan, so CacheManager reuses one entry
    val base = graft.Caches.persistLoaned(tokenizedBase(docs, idCol, textCol))
    val priced = tokenVolume(base)
    // covered positions explode the dup starts w× (worst case ≈ w·tokens
    // on a dup-heavy corpus); the (doc, pos)-keyed spread satisfies the
    // distinct AND the anti join's required distribution
    val covered = Dedup.spreadKernel(
        dupWindowStarts(base, idCol, w, priced)
          .select(col(idCol),
            explode(sequence(col("start"), col("start") + (w - 1))).as("pos")),
        priced * w, SpanRowsPerTask, col(idCol), col("pos"))
      .distinct()
    val toks = Dedup.spreadKernel(
      base.select(col(idCol), posexplode(col("_w")))
        .select(col(idCol), col("pos").cast("long").as("pos"), col("col").as("tok")),
      priced, SpanRowsPerTask, col(idCol), col("pos"))
    val kept = toks.join(covered, Seq(idCol, "pos"), "left_anti")
    // the survivor re-join aggregates per doc — doc-keyed spread keeps the
    // collect_list exchange at the priced width
    val agg = Dedup.spreadKernel(kept, priced, SpanRowsPerTask, col(idCol))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("kept_tokens"),
        md5(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            s => s.getField("tok")))).as("cleaned_md5"))
    base.join(agg, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        coalesce(col("cleaned_md5"), md5(lit(""))).as("cleaned_md5"))
  }

  def unigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = graft.functions.ArrayOps.explodeDense(docs, Seq(col(idCol)),
      split(lower(trim(col(textCol))), "\\s+"), "term")
    val vocab = toks.groupBy("term").agg(count(lit(1)).as("_n"))
    toks.join(vocab, "term")
      .groupBy(col(idCol))
      .agg(round(avg(col("_n")), 4).as("lm_score"))
  }

  /** T22 — bigram fluency: the order-sensitive extension of
    * [[unigramLmScore]] (the CCNet-style "does this read like the corpus"
    * signal, with corpus frequency as the integer-exact, engine-portable
    * stand-in for an external LM's probability): each document scores the
    * MEAN corpus-wide frequency of its adjacent token pairs. Scrambled or
    * garbled text is built of pairs the corpus rarely produces and scores
    * low even when its individual words are common — exactly what the
    * unigram form cannot see. Docs with fewer than two tokens have no
    * pairs to judge → null.
    *
    * Scale shape is t11/t12's: ONE corpus-sized exchange keyed by the
    * bigram (map-side-combined vocabulary count), one bigram-keyed join
    * back, one per-doc mean. The mean of long counts divides exactly the
    * same way in any engine — no logs, no float summation drift.
    */
  def bigramLmScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ids = docs.select(col(idCol))
    // pre-split into an alias boundary: shinglesFromWords references the
    // words array n+2 times, and an inline split would be EVALUATED that
    // many times per row (the t12/t25 discipline; round-13 plan audit)
    val pairs = graft.functions.ArrayOps.explodeDense(
      docs.select(col(idCol), split(lower(trim(col(textCol))), "\\s+").as("_words")),
      Seq(col(idCol)),
      graft.functions.Text.shinglesFromWords(col("_words"), 2, distinct = false), "bg")
    val vocab = pairs.groupBy("bg").agg(count(lit(1)).as("_n"))
    val scored = pairs.join(vocab, "bg")
      .groupBy(col(idCol))
      .agg(round(avg(col("_n")), 4).as("lm2_score"))
    ids.join(scored, Seq(idCol), "left")
  }

  /** T27 production path — heavy hitters with BOUNDED state: the t7
    * top-terms question answered by the [[graft.functions.FreqItems]]
    * frequent-items sketch instead of a vocabulary-sized exchange. One
    * corpus pass, ≤ maxMapSize entries of state per partial, one sketch
    * image per partition across the shuffle, decode on the single merged
    * row: `(token, estimate, lower, upper)` for every `NO_FALSE_NEGATIVES`
    * frequent item. At 100 TB this is the only shape that answers "what
    * are the dominant tokens" without shuffling the billions-entry
    * vocabulary. Estimates are stream-order-dependent within the
    * published ±ε·N bound — consume the BOUNDS (the gate below asserts
    * them), never hash-compare the estimates.
    */
  def heavyHitters(docs: DataFrame, textCol: String, maxMapSize: Int): DataFrame = {
    import graft.functions.FreqItems
    graft.functions.ArrayOps.explodeDense(docs, Seq.empty,
      split(lower(trim(col(textCol))), "\\s+"), "token")
      .agg(FreqItems.freqSketch(col("token"), maxMapSize).as("_sk"))
      .select(explode(FreqItems.freqItems(col("_sk"))).as("_it"))
      .select(col("_it.token").as("token"), col("_it.estimate").as("estimate"),
        col("_it.lower").as("lower"), col("_it.upper").as("upper"))
  }

  /** T27 oracle gate (the e8d/x10c discipline for approximate answers):
    * emits, for every token whose EXACT count exceeds the sketch's
    * a-priori error ε·N (ε = [[graft.functions.FreqItems.epsilon]], a pure
    * function of the map size), the exact count plus `within_tol` — true
    * iff the sketch returned the token (the published no-false-negatives
    * guarantee for counts above ε·N) with `lower ≤ exact ≤ upper`. The
    * token set and counts are deterministic exact arithmetic the oracle
    * re-derives; the booleans are guaranteed TRUE by the sketch's bound
    * under ANY stream order, so the row is hash-stable. The exact side is
    * the GATE's scaffolding (bench-SF cost), not the production path.
    */
  def heavyHittersGate(docs: DataFrame, textCol: String, maxMapSize: Int): DataFrame =
    heavyHittersGateFrom(heavyHitters(docs, textCol, maxMapSize),
      docs, textCol, maxMapSize)

  /** The t27 gate against an EXTERNALLY-built frequent-items list (the
    * merged state of [[buildHeavyHitterShardStates]], a reloaded index…):
    * same contract — every token above ε·N must be present with bounds
    * bracketing the exact count.
    */
  def heavyHittersGateFrom(sketched: DataFrame, docs: DataFrame,
                           textCol: String, maxMapSize: Int): DataFrame = {
    val toks = graft.functions.ArrayOps.explodeDense(docs, Seq.empty,
      split(lower(trim(col(textCol))), "\\s+"), "token")
    // N = sum over the grouped counts: the corpus is tokenized ONCE and
    // the total derives from the vocab-sized frame (round-13 self-review
    // — a second toks aggregate re-paid the full corpus explode)
    val counts = toks.groupBy("token").agg(count(lit(1)).as("n_exact"))
    val tot = counts.agg(sum("n_exact").cast("double").as("_N"))
    counts
      .crossJoin(broadcast(tot))
      .filter(col("n_exact") > lit(graft.functions.FreqItems.epsilon(maxMapSize)) * col("_N"))
      .join(sketched, Seq("token"), "left")
      .withColumn("within_tol", col("estimate").isNotNull &&
        col("lower") <= col("n_exact") && col("n_exact") <= col("upper"))
      .select("token", "n_exact", "within_tol")
  }

  /** T27b state build — per-shard frequent-items sketch images, the
    * materialized form of the t27 state (the x10b/x10c lifecycle applied
    * to the frequency question): one corpus pass, `shards` rows of
    * `(shard, state_freq BINARY)` out. Delta-append = build the new
    * day's shards and append the rows; merge-on-read =
    * [[mergedHeavyHitters]] folds every image with the sketch's own
    * union (associative, order-free within the published bound), so the
    * saved state answers the top-terms question without re-reading the
    * corpus.
    */
  def buildHeavyHitterShardStates(docs: DataFrame, idCol: String,
                                  textCol: String, maxMapSize: Int,
                                  shards: Int): DataFrame = {
    require(shards >= 1, "buildHeavyHitterShardStates: shards must be >= 1")
    graft.functions.ArrayOps.explodeDense(
      docs.withColumn("_shard", pmod(col(idCol), lit(shards))),
      Seq(col("_shard").as("shard")),
      split(lower(trim(col(textCol))), "\\s+"), "token")
      .groupBy("shard")
      .agg(graft.functions.FreqItems.freqSketch(col("token"), maxMapSize)
        .as("state_freq"))
  }

  /** Fold materialized heavy-hitter states (any number of image rows) into
    * the corpus frequent-items list — `(token, estimate, lower, upper)`.
    */
  def mergedHeavyHitters(states: DataFrame, maxMapSize: Int): DataFrame = {
    import graft.functions.FreqItems
    states.agg(FreqItems.freqSketchUnion(col("state_freq"), maxMapSize).as("_sk"))
      .select(explode(FreqItems.freqItems(col("_sk"))).as("_it"))
      .select(col("_it.token").as("token"), col("_it.estimate").as("estimate"),
        col("_it.lower").as("lower"), col("_it.upper").as("upper"))
  }
}
