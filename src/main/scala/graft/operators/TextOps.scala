package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFns

/** Text-corpus operators for LLM-data pipelines (SURVEY §2.11):
  * exact dedup, token stats, language-ID, quality scoring,
  * fingerprinting, and three near-dup families (n-gram Jaccard,
  * MinHash+LSH banding, SimHash).
  *
  * Scale notes (100 TB posture):
  *  - everything is expression-only (codegen'd), no UDFs;
  *  - the pairwise steps never do an unblocked cross join: Jaccard
  *    pairs come from a shingle-inverted-index self-join with a
  *    document-frequency cap (df ≤ maxShingleDf) that bounds the
  *    per-shingle fan-out (a shingle in d docs contributes d² pairs —
  *    the cap is part of the declared semantics, not a heuristic);
  *  - MinHash/SimHash reduce each doc to a constant-size signature
  *    first, so the candidate join is on tiny band buckets.
  */
object TextOps {
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** df cap for the Jaccard inverted-index join — part of the
    * declared semantics (documented in the oracle SQL too).
    */
  val maxShingleDf = 1000

  /** The df-cap's truncation, made observable: the shingles the
    * inverted index DROPS (df > cap), with their document frequency.
    * A silent cap reads as full coverage — a pipeline operator that
    * bounds its work must let the operator's user audit what was
    * bounded away (TextOpsSpec asserts the skewed-fixture count; a
    * production run would write this frame next to the pair output).
    * Input: (doc_id, shingle) rows, e.g. the docShingles table.
    */
  def shingleDfCapDropped(shingles: DataFrame, cap: Int): DataFrame =
    shingles.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") > cap)

  /** Persist a shared intermediate so consumers scan it once instead
    * of re-deriving it from raw text per branch. Spark's CacheManager
    * dedups cache entries by logical plan, so the same call from two
    * queries in one session shares one materialization. MEMORY_AND_DISK
    * spills instead of evicting; at 100 TB the same role is played by
    * a checkpoint/staged write of the tokenized corpus — either way
    * the principle is: tokenize the corpus ONCE, never per consumer
    * (re-tokenizing five times was 22% of the round-1 bench).
    * Registered with [[graft.Caches]] so a finished run can release
    * every entry instead of leaking them for the session lifetime.
    */
  private def cached(df: DataFrame): DataFrame = graft.Caches.cached(df)

  private[graft] def docTokens(s: SparkSession, dir: String): DataFrame =
    cached(t(s, dir, "documents")
      .select(col("doc_id"), explode(TextFns.tokens(col("text"))).as("tok")))

  /** Distinct (doc_id, tok) pairs — the document-frequency view of
    * the corpus, shared by tf-idf's df branch and both self-join
    * branches of q_cooccur (cache-manager plan dedup gives all
    * consumers one materialization).
    */
  private[graft] def docTokensDistinct(s: SparkSession, dir: String): DataFrame =
    cached(t(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(TextFns.tokens(col("text")))).as("tok")))

  /** Distinct (doc_id, 3-gram-shingle) pairs. The distinct is
    * MAP-SIDE (array_distinct within each document's shingle array
    * before the explode): a document's shingles all come from its one
    * source row, so per-doc array dedup IS the global (doc_id,
    * shingle) distinct — the `.distinct()` this replaces shuffled the
    * full exploded table (5B rows at sf100) purely to discover what
    * each row already knew. Every shingle consumer now starts
    * shuffle-free from the scan.
    */
  private[graft] def docShingles(s: SparkSession, dir: String): DataFrame =
    cached(t(s, dir, "documents")
      .select(col("doc_id"),
        explode(array_distinct(TextFns.shingles(col("text"), 3))).as("shingle")))

  // ── exact dedup (L1) ───────────────────────────────────────────────

  /** Exact dedup by content hash: keeper = min doc_id per md5(text).
    * One shuffle on the 128-bit hash; at 100 TB this is the standard
    * first dedup pass (hash is computed map-side, shuffle carries
    * only (hash, id)).
    */
  def q_text_dedup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("text_hash")

  // ── token stats (L2) ───────────────────────────────────────────────

  /** Tokenize + global term frequency, top-100. */
  def q_text_tokens(s: SparkSession, dir: String): DataFrame =
    docTokens(s, dir)
      .groupBy("tok")
      .agg(count(lit(1)).as("tf"))
      .orderBy(col("tf").desc, col("tok"))
      .limit(100)

  /** Per-document token counts, three tokenizers (whitespace,
    * regex-\s+, BPE-ish regex word/number/punct classes).
    */
  def q_token_count(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("n_tok"),
        size(regexp_extract_all(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]"), lit(0)))
          .cast("long").as("n_bpe"),
        length(col("text")).cast("long").as("len_chars"),
        col("n_chars"))
      .orderBy("doc_id")

  /** Heavy-hitter tokens by the two-pass sketch pattern: pass one
    * runs the Misra–Gries typed Aggregator
    * ([[graft.functions.FreqItemsAgg]], k = [[heavyHitterK]]) over
    * the token stream — constant memory per partition, constant-size
    * partial merges, NO full-vocabulary shuffle; pass two recounts
    * only the ≤ k surviving candidates exactly (broadcast semi-join
    * keeps the shuffle to candidate rows). MG guarantees every token
    * with true count > N/(k+1) survives pass one regardless of merge
    * order, so as long as the m-th true count clears that threshold
    * the top-m is EXACT — which is why this is oracle-declared as a
    * plain top-10 GROUP BY, unlike the sketch-internal queries.
    * At 100 TB this is how you get exact top-k from a vocabulary too
    * large to group: the full-corpus aggregate state is k counters,
    * not |vocab| rows. FreqItemsSpec pins the MG bounds on a skewed
    * eviction-forcing stream; tie-break (cnt desc, tok asc) keeps
    * the emitted 10 deterministic.
    */
  def q_heavy_hitters(s: SparkSession, dir: String): DataFrame = {
    val toks = docTokens(s, dir)
    val mg = udaf(new graft.functions.FreqItemsAgg(heavyHitterK),
      org.apache.spark.sql.Encoders.STRING)
    val candidates = toks
      .agg(mg(col("tok")).as("items"))
      .select(explode(col("items")).as("it"))
      .select(col("it._1").as("tok"))
    toks.join(broadcast(candidates), "tok")
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(10)
  }

  /** MG summary width: the exact-top-m guarantee needs the m-th true
    * count > N/(k+1); 32 gives headroom of ~3× over top-10 on any
    * corpus whose head is Zipf-ish.
    */
  val heavyHitterK = 32

  /** Per-group top-k kept rows, [[groupTopK]] per source: the
    * longest documents of every source by (n_chars DESC, doc_id ASC)
    * — the "keep the best K per domain" curation cap. Computed with
    * the bounded-state [[graft.functions.TopKAgg]] typed Aggregator
    * instead of a `row_number() <= k` window: the window shape
    * shuffles and sorts EVERY row of the corpus by source, while the
    * aggregate prunes to k pairs per (partition, source) map-side,
    * so the exchange carries k·|sources| tuples no matter how many
    * rows a 100 TB source holds. The ordering is total (no ties
    * possible), so the result is exactly the window's — which is what
    * the DuckDB oracle declares.
    */
  def q_group_topk(s: SparkSession, dir: String): DataFrame = {
    val topk = udaf(new graft.functions.TopKAgg(groupTopK),
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    t(s, dir, "documents")
      .groupBy("source")
      .agg(topk(col("n_chars"), col("doc_id")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("rk0", "p")))
      .select(col("source"), (col("rk0") + 1).cast("long").as("rk"),
        col("p._2").as("doc_id"), col("p._1").as("n_chars"))
      .orderBy("source", "rk")
  }

  /** Per-source keep cap for q_group_topk. */
  val groupTopK = 3

  // ── language ID + quality (text analysis) ──────────────────────────

  private val stopwords = Seq("the", "a", "of", "and", "to", "in")

  // ── shared curation-gate expressions ───────────────────────────────
  // One definition each for the lang-ID heuristic and quality score,
  // consumed by q_lang_id / q_quality_score / q_corpus_stats /
  // q_curate (threshold tweaks must not fork the gates across
  // queries; the DuckDB twins share snippets in Oracles the same way).
  // Each takes a MATERIALIZED token-array column: the old col("text")-
  // anchored forms each inlined their own TextFns.tokens(), so one
  // projection tokenized the text up to four times (Catalyst CSEs
  // only cheap expressions). Consumers stage the tokens in their own
  // select ([[withToks]]) and pass the attribute reference.
  // case-insensitive stopword count: sentence-initial 'The'/'To'/'In'
  // must count, or capitalized English prose undercounts toward the
  // 5% gate
  private def nstopOf(toks: Column) =
    size(filter(toks, x => lower(x).isInCollection(stopwords)))
  private def nospaceC = length(regexp_replace(col("text"), " ", ""))

  /** Stage `text`'s token array as a materialized column (tokenize
    * ONCE per row no matter how many gate expressions read it).
    */
  private def withToks(docs: DataFrame, keep: Column*): DataFrame =
    docs.select(keep :+ TextFns.tokens(col("text")).as("__toks"): _*)

  /** ≥5% English stopwords ⇒ 'en' (integer arithmetic, engine-exact). */
  private def predLangOf(toks: Column) =
    when(size(toks) > 0 && nstopOf(toks) * 20 >= size(toks), lit("en"))
      .otherwise(lit("unk"))

  /** Length band + avg-token-length band, integer comparisons.
    * `nospace` is the text's non-space char count (computed where
    * `text` is still in scope).
    */
  private def scoreOf(toks: Column, nospace: Column) =
    when(size(toks).between(50, 1000), 0.5).otherwise(0.0) +
      when(nospace >= size(toks) * 3 && nospace <= size(toks) * 10, 0.5)
        .otherwise(0.0)

  /** n-gram/stopword-ratio language heuristic: ≥5% English stopwords
    * ⇒ 'en'. Integer arithmetic only (20·n_stop ≥ n_tok) so the
    * decision is exact in any engine.
    */
  def q_lang_id(s: SparkSession, dir: String): DataFrame =
    withToks(t(s, dir, "documents"), col("doc_id"), col("lang"))
      .select(
        col("doc_id"), nstopOf(col("__toks")).cast("long").as("n_stop"),
        size(col("__toks")).cast("long").as("n_tok"),
        predLangOf(col("__toks")).as("pred_lang"),
        col("lang"))
      .orderBy("doc_id")

  /** Language-ID evaluation — the confusion matrix of the heuristic
    * classifier against the corpus's ground-truth lang column, the
    * eval every classifier in the pipeline owes its users (the
    * q_dedup_eval discipline applied to lang-id): per (truth,
    * predicted) cell the population, plus per-truth recall. The
    * measured readout is an honest indictment: on the synthetic
    * fixture the stopword heuristic labels 56–64% of NON-English
    * docs 'en' (their generated text still carries English
    * stopwords) — exactly the failure an eval operator exists to
    * surface before the classifier gates a mixture. One map-side
    * prediction + one bounded (langs × 2)-cell aggregate at any
    * corpus size.
    */
  def q_langid_eval(s: SparkSession, dir: String): DataFrame = {
    val per = withToks(t(s, dir, "documents"), col("lang"))
      .select(col("lang"), predLangOf(col("__toks")).as("pred_lang"))
    val cells = per.groupBy("lang", "pred_lang")
      .agg(count(lit(1)).as("n"))
    val truth = cells.groupBy("lang")
      .agg(sum(col("n")).as("n_truth"))
    cells.join(truth, "lang")
      .select(col("lang"), col("pred_lang"), col("n"),
        col("n_truth"),
        round(col("n").cast("double") / col("n_truth").cast("double"), 6)
          .as("cell_rate"),
        when(col("lang") === col("pred_lang") ||
          (col("lang") =!= "en" && col("pred_lang") === "unk"), 1L)
          .otherwise(0L).as("acceptable"))
      .orderBy("lang", "pred_lang")
  }

  /** Quality scoring: length band + average-token-length band, as
    * integer comparisons (avg ∈ [3,10] ⇔ 3·n_tok ≤ chars ≤ 10·n_tok)
    * so the score is float-drift-free.
    */
  def q_quality_score(s: SparkSession, dir: String): DataFrame =
    withToks(t(s, dir, "documents"), col("doc_id"),
      nospaceC.as("__nospace"),
      length(regexp_replace(col("text"), "[^0-9]", "")).as("__ndigit"),
      length(col("text")).as("__nchar"))
      .select(
        col("doc_id"),
        size(col("__toks")).cast("long").as("n_tok"),
        round(col("__nospace").cast("double")
          / greatest(size(col("__toks")), lit(1)), 4).as("avg_tok_len"),
        round(col("__ndigit").cast("double")
          / greatest(col("__nchar"), lit(1)), 4).as("digit_ratio"),
        scoreOf(col("__toks"), col("__nospace")).as("score"))
      .orderBy("doc_id")

  /** Gopher-style rule-based quality filter (Rae et al. 2021,
    * "Scaling Language Models", appendix A1.1 MassiveWeb rules) — the
    * flag-per-rule companion to q_quality_score's scalar score: word
    * count in [50, 100k], mean word length in [3, 10], ≥80% of words
    * containing an alphabetic character, ≥2 distinct stopwords from
    * Gopher's 8-word list. The line-level rules (bullet/ellipsis
    * line fractions) are omitted because the fixture corpus is
    * single-line; they are the same per-row arithmetic shape. Every
    * rule is a per-row expression over one whitespace split — a pure
    * map-only scan, zero shuffle at any corpus size. Flags are
    * emitted (not filtered on) so downstream mixture policy can
    * choose thresholds; filtering is a `.where(col("pass"))` away.
    */
  def q_quality_rules(s: SparkSession, dir: String): DataFrame = {
    val toks = filter(split(col("text"), " "), w => length(w) > lit(0))
    val wc = size(toks).cast("long")
    val nonspace = length(regexp_replace(col("text"), "\\s+", "")).cast("long")
    val meanWl = nonspace / wc // long/long → double in both engines
    val alphaWords = size(filter(toks, w => w.rlike("[a-zA-Z]"))).cast("long")
    val alphaFrac = alphaWords / wc
    val gopherStops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    val stopHits = size(array_intersect(
      array_distinct(toks), array(gopherStops.map(lit): _*))).cast("long")
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        wc.as("word_cnt"),
        round(meanWl, 4).as("mean_wl"),
        round(alphaFrac, 4).as("alpha_frac"),
        stopHits.as("stop_hits"),
        (wc >= 50 && wc <= 100000).as("r_words"),
        (meanWl >= 3.0 && meanWl <= 10.0).as("r_wl"),
        (alphaFrac >= 0.8).as("r_alpha"),
        (stopHits >= 2).as("r_stop"))
      .withColumn("pass",
        col("r_words") && col("r_wl") && col("r_alpha") && col("r_stop"))
      .orderBy("doc_id")
  }

  /** Compression-ratio quality signal: deflate(text) bytes over raw
    * utf-8 bytes — the gzip-ratio heuristic public web-corpus
    * pipelines use to catch low-entropy machine text (boilerplate,
    * keyword stuffing compresses far below prose; encrypted/random
    * junk compresses above it). Computed by the codegen'd
    * [[graft.functions.DeflateSize]] expression — map-only, the
    * payload never shuffles. Rows-only by declared design: DuckDB
    * has no deflate; CompressSpec pins the informative properties
    * (repetition ⇒ lower ratio, sub-additivity under concatenation,
    * interpreted ≡ codegen).
    */
  def q_compress_ratio(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        octet_length(col("text")).cast("long").as("n_bytes"),
        graft.functions.DeflateSize(col("text")).cast("long")
          .as("deflate_bytes"))
      .select(col("doc_id"), col("n_bytes"), col("deflate_bytes"),
        round(col("deflate_bytes") / col("n_bytes"), 4).as("ratio"))
      .orderBy("doc_id")

  /** Document fingerprints: exact (normalized md5) and order-invariant
    * bag-of-words shape hash.
    */
  def q_fingerprint(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        TextFns.fingerprintExact(col("text")).as("fp_exact"),
        TextFns.fingerprintShape(col("text")).as("fp_shape"))
      .orderBy("doc_id")

  /** Training-data scrubbing: redact email-/phone-/id-shaped spans
    * (regex classes chosen to behave identically under Java regex and
    * RE2). The fixture corpus has none — the redacted text must
    * round-trip unchanged, which the oracle also proves — but the
    * operator is the real scrubbing pass a corpus pipeline runs.
    */
  def q_redact(s: SparkSession, dir: String): DataFrame = {
    val email = piiEmailRe // shared with q_pii_scan (audit twin)
    val longnum = piiNumRe
    // chars_redacted must count EXACTLY what clean_text replaced, so
    // the digit pass counts over the email-MARKED text — deleting
    // emails instead would merge flanking digit runs into a ≥7-digit
    // run the clean path never saw (e.g. '123456a@b.co9876543').
    // The marked text is materialized in its OWN projection: it is
    // referenced three times, and CollapseProject keeps multi-use
    // non-cheap expressions in their own stage — inlining it (the old
    // shape) ran the email regex over every doc three times.
    val marked = regexp_replace(col("text"), email, "<EMAIL>")
    val emailChars = length(col("text")) - length(
      regexp_replace(col("text"), email, ""))
    val digitChars = length(col("__marked")) - length(
      regexp_replace(col("__marked"), longnum, ""))
    t(s, dir, "documents")
      .select(col("doc_id"), col("text"), marked.as("__marked"))
      .select(
        col("doc_id"),
        regexp_replace(col("__marked"), longnum, "<NUM>").as("clean_text"),
        (emailChars + digitChars).cast("long").as("chars_redacted"))
      .orderBy("doc_id")
  }

  /** Text normalization: lowercase, strip non-alphanumerics,
    * collapse whitespace, drop stopwords — the canonical cleaning
    * pass before dedup/fingerprinting.
    */
  def q_text_clean(s: SparkSession, dir: String): DataFrame = {
    // ONE regex pass: tokens are the maximal [a-z0-9]+ runs of the
    // lowered text, which is exactly what strip-to-space + collapse +
    // split produced in three passes (r5: this query topped the
    // sf1.0/sf0.1 scaling table at 5.3× purely on per-row regex
    // cost). The token array is materialized in its own projection —
    // it is used twice, and CollapseProject would otherwise inline
    // (and re-evaluate) the split+filter under both uses.
    val toks = filter(split(lower(col("text")), "[^a-z0-9]+"),
      x => length(x) > 0 && !x.isInCollection(stopwords))
    t(s, dir, "documents")
      .select(col("doc_id"), toks.as("__toks"))
      .select(
        col("doc_id"),
        array_join(col("__toks"), " ").as("clean_text"),
        size(col("__toks")).cast("long").as("n_clean_tok"))
      .orderBy("doc_id")
  }

  /** TF-IDF over the corpus: tf from token multiplicity per doc, idf
    * = ln(N / df) over distinct doc occurrence. ln of exact integer
    * ratios is deterministic in both engines; round(4) guards the
    * final multiply. Top terms per doc are not taken (that would need
    * a per-doc sort); output is (doc, term, tfidf) for the top-500
    * global rows — deterministic via (score desc, doc, tok).
    */
  def q_tfidf(s: SparkSession, dir: String): DataFrame = {
    val toks = docTokens(s, dir)
    // corpus size N computed INSIDE the plan as a broadcast 1-row
    // aggregate — constructing the query launches no Spark job, and at
    // scale N is a map-side count, not a driver-side action
    val n = broadcast(t(s, dir, "documents")
      .agg(count(lit(1)).cast("double").as("__n_docs")))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df_ = docTokensDistinct(s, dir)
      .groupBy("tok").agg(count(lit(1)).as("df"))
    tf.join(df_, "tok")
      .crossJoin(n)
      .select(col("doc_id"), col("tok"),
        round(col("tf") * log(col("__n_docs") / col("df")), 4).as("tfidf"))
      .orderBy(col("tfidf").desc, col("doc_id"), col("tok"))
      .limit(500)
  }

  // ── lexical retrieval (BM25 / postings / keyword extraction) ──────

  /** BM25 parameters, shared verbatim with the oracle SQL. */
  private[graft] val bm25Terms = Seq("hash", "merge", "scan")
  private[graft] val bm25K1 = 1.2
  private[graft] val bm25B = 0.75

  /** BM25 lexical retrieval for a fixed conjunctive query — the
    * classic sparse twin of the dense ANN family (q_sim_topk /
    * q_ann_*). Shape at 100 TB: ONE pass over the cached token
    * stream; tf is filtered to the broadcast-small query vocabulary
    * BEFORE its aggregate, so the heavy groupBy carries only
    * query-term hits; df derives from tf (3 rows, broadcast);
    * corpus stats (N, avgdl) are an in-plan broadcast 1-row
    * aggregate. Per-doc summation is over DECIMAL(18,6)-rounded
    * contributions — exact and order-independent under any
    * partitioning (§2.12 rule 2) — then cast to double once for the
    * final round, the q_agg_corr discipline.
    */
  /** The top-20 BM25 list — shared by [[q_bm25]] and the RRF fusion
    * in [[q_rrf]].
    */
  private def bm25Top(s: SparkSession, dir: String): DataFrame = {
    val toks = docTokens(s, dir)
    val dl = toks.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = broadcast(dl.agg(
      count(lit(1)).cast("double").as("__n"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("__avgdl")))
    val tf = toks.filter(col("tok").isin(bm25Terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df_ = broadcast(tf.groupBy("tok").agg(count(lit(1)).as("df")))
    val contrib =
      log((col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))
        + lit(1.0)) *
        (col("tf") * lit(bm25K1 + 1)) /
        (col("tf") + lit(bm25K1) *
          (lit(1.0 - bm25B) + lit(bm25B) * col("dl") / col("__avgdl")))
    tf.join(df_, "tok")
      .join(dl, "doc_id")
      .crossJoin(stats)
      .select(col("doc_id"),
        round(contrib, 6).cast("decimal(18,6)").as("c"))
      .groupBy("doc_id")
      .agg(round(sum(col("c")).cast("double"), 4).as("bm25"))
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(20)
  }

  def q_bm25(s: SparkSession, dir: String): DataFrame = bm25Top(s, dir)

  /** The top-20 query-TF-IDF list (Σ over query terms of the proven
    * [[q_tfidf]] per-term score) — the second retriever fused by
    * [[q_rrf]]. Same decimal-sum discipline as BM25.
    */
  private def qtfidfTop(s: SparkSession, dir: String): DataFrame = {
    val toks = docTokens(s, dir)
    val n = broadcast(t(s, dir, "documents")
      .agg(count(lit(1)).cast("double").as("__n")))
    val tf = toks.filter(col("tok").isin(bm25Terms: _*))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df_ = broadcast(docTokensDistinct(s, dir)
      .filter(col("tok").isin(bm25Terms: _*))
      .groupBy("tok").agg(count(lit(1)).as("df")))
    tf.join(df_, "tok")
      .crossJoin(n)
      .select(col("doc_id"),
        round(col("tf") * log(col("__n") / col("df")), 6)
          .cast("decimal(18,6)").as("c"))
      .groupBy("doc_id")
      .agg(round(sum(col("c")).cast("double"), 4).as("qscore"))
      .orderBy(col("qscore").desc, col("doc_id"))
      .limit(20)
  }

  /** Hybrid retrieval by reciprocal-rank fusion: RRF(d) =
    * Σ_retrievers 1/(60 + rank_r(d)) over the BM25 and query-TF-IDF
    * top-20 lists (Cormack et al.'s k=60). Ranks are integers derived
    * from rounded scores with a doc_id tie-break, so fusion is exact;
    * the two reciprocal terms are a single two-operand double add —
    * order-free by IEEE commutativity. Both inputs are 20-row frames:
    * the fusion join is driver-trivial at any corpus size, and the
    * per-retriever work is the linear shapes proven above.
    */
  def q_rrf(s: SparkSession, dir: String): DataFrame = {
    val wa = Window.orderBy(col("bm25").desc, col("doc_id"))
    val wb = Window.orderBy(col("qscore").desc, col("doc_id"))
    val ra = bm25Top(s, dir)
      .select(col("doc_id"), row_number().over(wa).cast("long").as("rank_bm25"))
    val rb = qtfidfTop(s, dir)
      .select(col("doc_id"), row_number().over(wb).cast("long").as("rank_tfidf"))
    ra.join(rb, Seq("doc_id"), "full_outer")
      .select(col("doc_id"), col("rank_bm25"), col("rank_tfidf"),
        round(
          coalesce(lit(1.0) / (lit(60) + col("rank_bm25")), lit(0.0)) +
            coalesce(lit(1.0) / (lit(60) + col("rank_tfidf")), lit(0.0)),
          6).as("rrf"))
      .orderBy(col("rrf").desc, col("doc_id"))
  }

  /** Ranking-quality evaluation of the BM25 retriever: NDCG@{5,10,20}
    * against term-overlap graded relevance (rel(d) = number of
    * distinct query terms d contains, 0–3) — the metric every
    * retrieval stack reports, computed inside the engine. DCG uses
    * the standard (2^rel − 1)/log₂(rank+1) gains; IDCG ranks the
    * WHOLE corpus by relevance (best achievable list, not just a
    * reshuffle of the retrieved one), so NDCG < 1 whenever BM25
    * misses a relevant doc. Per-rank contributions are rounded to
    * DECIMAL(18,6) before the exact sum — ten-term double fold order
    * can't drift between engines.
    *
    * Scale shape: relevance reuses the cached distinct-token frame
    * (one aggregate filtered to the broadcast query vocabulary);
    * everything after the retriever runs on ≤ corpus-relevant-docs
    * rows for IDCG and 20 rows for DCG.
    */
  def q_ndcg(s: SparkSession, dir: String): DataFrame = {
    val rel = docTokensDistinct(s, dir)
      .filter(col("tok").isin(bm25Terms: _*))
      .groupBy("doc_id").agg(count(lit(1)).as("rel"))
    val wR = Window.orderBy(col("bm25").desc, col("doc_id"))
    val ranked = bm25Top(s, dir)
      .select(col("doc_id"), row_number().over(wR).as("rank"))
      .join(rel, Seq("doc_id"), "left")
      .withColumn("rel", coalesce(col("rel"), lit(0L)))
    val wI = Window.orderBy(col("rel").desc, col("doc_id"))
    val ideal = rel
      .withColumn("rank", row_number().over(wI))
      .filter(col("rank") <= 20)
    val ks = s.range(1)
      .select(explode(array(lit(5), lit(10), lit(20))).as("k"))
    def contrib(df: DataFrame) = df.select(col("rank"),
      round((pow(lit(2.0), col("rel").cast("double")) - lit(1.0))
        / log2(col("rank").cast("double") + lit(1.0)), 6)
        .cast("decimal(18,6)").as("c"))
    def cut(df: DataFrame, out: String) = contrib(df)
      .crossJoin(broadcast(ks))
      .filter(col("rank") <= col("k"))
      .groupBy("k").agg(sum(col("c")).as(out))
    cut(ranked, "dcg_d")
      .join(cut(ideal, "idcg_d"), Seq("k"))
      .select(col("k").cast("long").as("k"),
        round(col("dcg_d").cast("double"), 4).as("dcg"),
        round(col("idcg_d").cast("double"), 4).as("idcg"),
        when(col("idcg_d") === 0, lit(0.0))
          .otherwise(round(col("dcg_d").cast("double")
            / col("idcg_d").cast("double"), 4)).as("ndcg"))
      .orderBy("k")
  }

  /** Inverted postings index materialization: per term, document
    * frequency + the first 8 postings (sorted — collect_list order is
    * partition-dependent, sort_array makes it canonical). This is the
    * build side of lexical retrieval at scale: one shuffle on the
    * term, postings capped so no group's state grows with the corpus.
    * The postings list is serialized to a comma-joined scalar: the
    * driver's comparator can't hash ARRAY columns (ContractSpec pins
    * the scalar-output rule), and value semantics are unchanged.
    */
  def q_postings(s: SparkSession, dir: String): DataFrame =
    docTokensDistinct(s, dir)
      .groupBy("tok")
      .agg(count(lit(1)).as("df"),
        array_join(transform(
          slice(sort_array(collect_list(col("doc_id"))), 1, 8),
          d => d.cast("string")), ",").as("postings"))
      .orderBy(col("df").desc, col("tok"))
      .limit(200)

  /** Per-document keyword extraction: top-3 terms by TF-IDF via a
    * per-doc window rank — same proven-parity scoring formula as
    * [[q_tfidf]], plus the (score desc, tok) total order inside each
    * document so ranks are cross-engine deterministic. The window
    * partitions by doc_id: state is bounded by a single document's
    * vocabulary, never the corpus.
    */
  def q_keywords(s: SparkSession, dir: String): DataFrame = {
    val toks = docTokens(s, dir)
    val n = broadcast(t(s, dir, "documents")
      .agg(count(lit(1)).cast("double").as("__n")))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val df_ = docTokensDistinct(s, dir)
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("tok"))
    tf.join(df_, "tok")
      .crossJoin(n)
      .select(col("doc_id"), col("tok"),
        round(col("tf") * log(col("__n") / col("df")), 4).as("score"))
      .select(col("doc_id"), col("tok"), col("score"),
        row_number().over(w).cast("long").as("rk"))
      .filter(col("rk") <= 3)
      .orderBy("doc_id", "rk")
  }

  // ── n-gram Jaccard near-dup ────────────────────────────────────────

  /** The df-capped inverted index: (doc_id, shingle) rows for
    * shingles with df ≤ [[maxShingleDf]], shared by q_dedup_ngram and
    * q_dedup_containment (persisted — it feeds three consumers:
    * sizes + both self-join branches; round 1 recomputed this subplan
    * ~5×, 22% of the whole bench). Two-phase DECLARATIVE shape on
    * purpose: df aggregate, then join back — both whole-stage-codegen
    * HashAggregate/SortMergeJoin with full spill support. A
    * bounded-state collect_list-style typed Aggregator would make it
    * one exchange, but ObjectHashAggregate's per-row object buffers
    * measured 2.6–5× SLOWER end-to-end at sf10 (17.5–35 s vs 6.6 s)
    * than the second codegen'd shuffle it saves — the declarative
    * form IS the scale form here.
    */
  private def shingleIndexCapped(s: SparkSession, dir: String): DataFrame = {
    val sh0 = docShingles(s, dir)
    val rare = sh0.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf).select("shingle")
    cached(sh0.join(rare, "shingle"))
  }

  /** Candidate pairs + intersection counts off the capped index: the
    * inverted-index self-join on the shingle (USING key — qualified
    * a(col)===b(col) on a self-derived frame degenerates to a
    * trivially-true predicate), then one narrow (a_id, b_id) count.
    * df ≤ cap bounds the per-shingle fan-out; the cap IS the declared
    * semantics.
    */
  private def shingleInterCounts(sh: DataFrame): DataFrame = {
    val a = sh.select(col("doc_id").as("a_id"), col("shingle"))
    val b = sh.select(col("doc_id").as("b_id"), col("shingle"))
    // cached: q_dedup_ngram and q_dedup_containment build the
    // IDENTICAL plan over the shared capped index — CacheManager
    // plan-dedup turns the expensive inverted-index self-join into
    // one materialization per session (the pair frame is df-cap
    // bounded; `none` mode recomputes as everywhere else)
    cached(a.join(b, Seq("shingle")).filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      .filter(col("inter") >= 2))
  }

  /** Per-doc capped-shingle counts (the |A|, |B| of the Jaccard
    * denominator).
    */
  private def shingleDocSizes(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(count(lit(1)).as("n"))

  /** Jaccard near-dup candidates over 3-gram word shingles via the
    * df-capped inverted-index self-join. Output: top-100 pairs by
    * rounded Jaccard. All arithmetic is integer until one final exact
    * double division.
    */
  def q_dedup_ngram(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleIndexCapped(s, dir)
    val sizes = shingleDocSizes(sh)
    shingleInterCounts(sh)
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .select(col("a_id"), col("b_id"), col("inter"), col("na"), col("nb"),
        round(col("inter").cast("double")
          / (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .orderBy(col("jaccard").desc, col("a_id"), col("b_id"))
      .limit(100)
  }

  /** Asymmetric near-dup: shingle CONTAINMENT inter/min(na, nb) —
    * the signal symmetric Jaccard structurally misses. A short doc
    * quoted whole inside a much longer one has Jaccard ≈ na/nb ≈ 0
    * but containment ≈ 1; quote-inflation and boilerplate-wrapping
    * dups in web corpora are exactly this shape. Pairs clear the
    * gate when 2·inter ≥ min(na, nb) (containment ≥ ½, decided in
    * INTEGER arithmetic — the q_dedup_eval τ discipline), and the
    * contained side is named so a curation pass knows which doc is
    * the subset. Cost: reuses q_dedup_ngram's cached df-capped
    * inverted index and candidate machinery verbatim — same
    * non-quadratic bound, one extra projection; when both run in a
    * session the index materializes once.
    */
  def q_dedup_containment(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleIndexCapped(s, dir)
    val sizes = shingleDocSizes(sh)
    shingleInterCounts(sh)
      .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")), "a_id")
      .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")), "b_id")
      .filter(col("inter") * 2 >= least(col("na"), col("nb")))
      .select(col("a_id"), col("b_id"), col("inter"), col("na"), col("nb"),
        round(col("inter").cast("double") / least(col("na"), col("nb")), 4)
          .as("containment"),
        when(col("na") <= col("nb"), col("a_id")).otherwise(col("b_id"))
          .as("contained_id"))
      .orderBy(col("containment").desc, col("a_id"), col("b_id"))
      .limit(100)
  }

  /** String-metric near-dup: Levenshtein distance between each doc's
    * head and the next doc's head (adjacent-id blocking keeps the
    * comparison linear; the metric itself is the integer DP both
    * engines implement identically).
    */
  def q_edit_distance(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents").select(col("doc_id"),
      substring(col("text"), 1, 40).as("head"))
    val a = d.select(col("doc_id"), col("head"))
    val b = d.select((col("doc_id") - 1).as("doc_id"), col("head").as("next_head"))
    a.join(b, Seq("doc_id"))
      .select(col("doc_id"),
        levenshtein(col("head"), col("next_head")).cast("long").as("edit_dist"))
      .orderBy("doc_id")
  }

  // ── MinHash + LSH banding ──────────────────────────────────────────

  /** 8-leg MinHash signature per document (min of seeded md5 over the
    * shingle set — string-min over hex, identical order in any
    * engine). Constant-size output per doc ⇒ the LSH join below never
    * touches raw text again.
    */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    cached(docShingles(s, dir)
      .groupBy("doc_id")
      .agg(
        TextFns.minhashLeg(col("shingle"), 0).as("h0"),
        TextFns.minhashLeg(col("shingle"), 1).as("h1"),
        TextFns.minhashLeg(col("shingle"), 2).as("h2"),
        TextFns.minhashLeg(col("shingle"), 3).as("h3"),
        TextFns.minhashLeg(col("shingle"), 4).as("h4"),
        TextFns.minhashLeg(col("shingle"), 5).as("h5"),
        TextFns.minhashLeg(col("shingle"), 6).as("h6"),
        TextFns.minhashLeg(col("shingle"), 7).as("h7")))

  /** Declared parity check for the MinHash computation itself. */
  def q_minhash_sig(s: SparkSession, dir: String): DataFrame =
    minhashSignatures(s, dir)
      .select("doc_id", "h0", "h1", "h2", "h3")
      .orderBy("doc_id")

  /** Unordered MinHash-LSH candidate pairs — the shared core of
    * q_dedup_minhash (which adds the declared ORDER BY) and
    * q_dedup_cluster (which feeds them into the component loop and
    * must NOT pay a pointless global sort first).
    */
  /** (doc_id, band, bucket) rows from the 4×2 MinHash band geometry —
    * the probe-able LSH index shared by the whole-corpus pairing
    * ([[minhashCandidatePairs]]) and the new-batch probe
    * ([[q_dedup_incremental]]).
    */
  private def minhashBandRows(s: SparkSession, dir: String): DataFrame =
    minhashSignatures(s, dir).select(col("doc_id"),
      explode(array(
        struct(lit(0).as("band"), md5(concat(col("h0"), col("h1"))).as("bucket")),
        struct(lit(1).as("band"), md5(concat(col("h2"), col("h3"))).as("bucket")),
        struct(lit(2).as("band"), md5(concat(col("h4"), col("h5"))).as("bucket")),
        struct(lit(3).as("band"), md5(concat(col("h6"), col("h7"))).as("bucket"))))
        .as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))

  private[graft] def minhashCandidatePairs(s: SparkSession, dir: String): DataFrame = {
    val bands = minhashBandRows(s, dir)
    val a = bands.select(col("doc_id").as("a_id"), col("band"), col("bucket"))
    val b = bands.select(col("doc_id").as("b_id"), col("band"), col("bucket"))
    // cached: TEN declared queries consume this pair list (dedup
    // family, triangle census, k-core, eval sweeps) — without the
    // registered cache each re-ran the band self-join + distinct from
    // the cached band rows (CacheManager dedups by plan, so all
    // consumers share this ONE materialization). LSH-banded pairs are
    // a small fraction of the corpus by construction; in cache mode
    // `none` (the fifth-decade posture) this is a no-op like every
    // other shared intermediate.
    cached(a.join(b, Seq("band", "bucket")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct())
  }

  /** MinHash-LSH candidate pairs: 4 bands × 2 rows; docs sharing any
    * band bucket are candidates. Join is on (band, 32-hex bucket) —
    * tiny constant-width keys.
    */
  def q_dedup_minhash(s: SparkSession, dir: String): DataFrame =
    minhashCandidatePairs(s, dir).orderBy("a_id", "b_id")

  /** Signature-only Jaccard ESTIMATE for every LSH candidate pair:
    * est = (#agreeing MinHash legs) / 8 — E[est] is the true Jaccard
    * (the MinHash identity), σ ≤ 1/√8 ≈ 0.35 at 8 legs. This is the
    * verify step a 100 TB near-dup pass actually runs: the exact
    * verify (q_dedup_ngram's shingle re-join) touches tokenized text
    * again, while the estimator reads ONLY the cached constant-width
    * signature table — two narrow hash joins on doc_id, nothing
    * proportional to document length. More legs buy accuracy at
    * constant-factor cost; the leg count is the declared geometry
    * (same 8 the band index uses). Oracle-exact because the legs are
    * min-md5 in both engines and n/8 is a terminating binary
    * fraction (no rounding drift possible).
    */
  def q_minhash_est(s: SparkSession, dir: String): DataFrame = {
    val sig = minhashSignatures(s, dir)
    val a = sig.select(col("doc_id").as("a_id") +:
      (0 until 8).map(j => col(s"h$j").as(s"a_h$j")): _*)
    val b = sig.select(col("doc_id").as("b_id") +:
      (0 until 8).map(j => col(s"h$j").as(s"b_h$j")): _*)
    val agree = (0 until 8)
      .map(j => when(col(s"a_h$j") === col(s"b_h$j"), 1).otherwise(0))
      .reduce(_ + _)
    minhashCandidatePairs(s, dir)
      .join(a, "a_id").join(b, "b_id")
      .select(col("a_id"), col("b_id"),
        agree.cast("long").as("n_agree"),
        round(agree.cast("double") / 8, 4).as("est_jaccard"))
      .orderBy("a_id", "b_id")
  }

  /** Near-dup CLUSTERS from the MinHash-LSH candidate pairs: treat
    * pairs as undirected edges, compute connected components by
    * iterative min-label propagation to fixpoint, and assign every
    * document its component's minimum doc_id as `cluster_id`
    * (singletons cluster to themselves). This is the canonicalization
    * step an actual dedup pipeline runs after candidate generation —
    * "keep one doc per near-dup cluster".
    *
    * Scale shape: the iteration runs only over nodes that appear in
    * some candidate pair (a small fraction of the corpus when LSH is
    * tuned sanely), each step one join + one aggregate on that frame.
    * Each step's result is `localCheckpoint()`ed — iterative
    * algorithms MUST truncate lineage, not merely cache: persisting
    * and unpersisting the previous step makes Spark clear and
    * recompile the dependent cache entries (non-cascading unpersist),
    * after which every later step re-derives the whole doubling union
    * chain from raw data — measured exponential blowup (iterations of
    * 1s, 1s, 230s, 830s at sf0.1). With per-step checkpoints each
    * iteration starts from a materialized RDD and costs the same.
    * Checkpoint mode is [[Checkpoints.ckpt]]: reliable `checkpoint()`
    * when the context has a checkpoint dir (cluster deployments —
    * local checkpoint blocks die with an executor), `localCheckpoint`
    * otherwise; ReliableCheckpointSpec proves both modes agree.
    * Driver-side work per step is a single empty-check — the
    * standard Pregel-style loop, inherent to iterate-to-fixpoint
    * graph algorithms.
    *
    * Round-3 stabilization (the one query whose round-2 run-time
    * varied 4.5 s → 113 s across attempts):
    *  - the candidate PAIRS are checkpointed BEFORE the symmetric
    *    union — previously the band-join + distinct subplan appeared
    *    twice under the union and was recomputed twice while
    *    materializing the edge checkpoint;
    *  - each step also propagates label(label(id)) (pointer jumping),
    *    so convergence is O(log diameter) rounds instead of
    *    O(diameter) — fewer driver-synced steps means fewer chances
    *    for a host stall to serialize into the chain;
    *  - the loop is BOUNDED: components reachable by ≤ 2^maxIters
    *    hops collapse within the cap; non-convergence raises instead
    *    of spinning forever on a pathological input.
    */
  /** Min-label connected components with pointer jumping over a
    * directed-symmetrized pair list — the convergent loop behind
    * q_dedup_cluster, factored so entity resolution (and any future
    * graph consumer) shares ONE proven implementation. Type-generic:
    * labels are min() over whatever ordered type the pair columns
    * carry (doc ids for dedup, surface strings for entities).
    * Returns (id, label) for every node appearing in `pairs`.
    */
  private[graft] def connectedComponents(pairs0: DataFrame): DataFrame = {
    import Checkpoints.ckpt
    // one materialization of the pair source; the union below then
    // reads the checkpointed rows twice instead of recomputing twice
    val pairs = ckpt(pairs0.toDF("a_id", "b_id"))
    val edges = pairs
      .union(pairs.select(col("b_id"), col("a_id")))
      .toDF("src", "dst")
    // start: every candidate node labels itself
    var labels = ckpt(edges.select(col("src").as("id"))
      .distinct()
      .withColumn("label", col("id")))
    val maxIters = 12 // collapses any component of diameter ≤ 2^12
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      iter += 1
      // candidate label for id = min over { own, neighbors', label's }
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .select(col("src").as("id"), col("label"))
      // pointer jumping: adopt my current label's own label (2-hop)
      val viaParent = labels.select(col("id"), col("label").as("mid"))
        .join(labels.select(col("id").as("mid"), col("label").as("plabel")), "mid")
        .select(col("id"), col("plabel").as("label"))
      val next = ckpt(labels.select(col("id"), col("label"))
        .union(viaNeighbors)
        .union(viaParent)
        .groupBy("id").agg(min(col("label")).as("label")))
      converged = next.join(labels.withColumnRenamed("label", "prev"), "id")
        .filter(col("label") < col("prev")).isEmpty
      labels = next
    }
    if (!converged)
      throw new IllegalStateException(
        s"connected components did not converge in $maxIters doubling rounds")
    labels
  }

  /** The minhash near-dup component labels, once per session: FOUR
    * declared queries (q_dedup_cluster, q_dedup_canonical,
    * q_cluster_stats-family, q_dup_share-family) consume the same
    * labeling, and the per-iteration checkpoints inside
    * [[connectedComponents]] defeat plan-dedup, so each consumer
    * re-ran the whole pointer-jumping loop (the bpeTrain lesson).
    */
  private val ccMinhashMemo = new SessionMemo[String, DataFrame]

  private def minhashComponents(s: SparkSession, dir: String): DataFrame =
    ccMinhashMemo.get(s, dir)(
      connectedComponents(minhashCandidatePairs(s, dir)))

  def q_dedup_cluster(s: SparkSession, dir: String): DataFrame = {
    val labels = minhashComponents(s, dir)
    t(s, dir, "documents").select(col("doc_id"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
      .orderBy("doc_id")
  }

  /** One-way ANOVA of the quality score across sources — the
    * stats-test family member (q_ks_drift two-sample, q_ab_test
    * two-group, q_contingency categorical, q_jackknife/q_bootstrap
    * resampling) for the k-group "does source explain quality?"
    * question a mixture audit asks. All moments are exact decimals
    * (the scorer emits halves, exactly representable): per-source
    * (n, Σx, Σx²) from ONE map-side-combined aggregate, the F-stat's
    * SSB/SSW derived from the k-row summary with doubles only in the
    * final divisions. Output: one row per source (group means) plus
    * the grand F/df readout repeated — flat scalar columns, k rows.
    */
  def q_anova(s: SparkSession, dir: String): DataFrame = {
    val scored = withToks(t(s, dir, "documents"), col("source"),
        nospaceC.as("__nospace"))
      .select(col("source"),
        scoreOf(col("__toks"), col("__nospace"))
          .cast("decimal(18,6)").as("x"))
    // the k-row summary feeds three consumers (tot, sums, the final
    // select) — cache it or the corpus tokenize+score aggregate runs
    // three times (the covCells rule)
    val g = cached(scored.groupBy("source")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum((col("x") * col("x")).cast("decimal(38,12)")).as("sxx")))
    val tot = broadcast(g.agg(
      sum(col("n")).as("__nt"), sum(col("sx")).as("__sxt"),
      sum(col("sxx").cast("decimal(38,12)")).as("__sxxt"),
      count(lit(1)).as("__k")))
    def d(c: String) = col(c).cast("double")
    // SSB = Σ sx_g²/n_g − sxt²/nt ; SSW = total SS − Σ sx_g²/n_g.
    // The per-group double sx²/n is identical in both engines (exact
    // operands, one IEEE division), rounded to 6dp BEFORE the exact
    // decimal sum so the k-row fold is order-free (q_kl_mixture rule)
    val withTot = g.crossJoin(tot)
    val sums = withTot.agg(
      sum(round(d("sx") * d("sx") / d("n"), 6)
        .cast("decimal(38,12)")).as("sqn"))
    withTot.crossJoin(broadcast(sums))
      .select(col("source"), col("n"),
        round(d("sx") / d("n"), 6).as("mean_score"),
        round((d("sqn") - d("__sxt") * d("__sxt") / d("__nt"))
          / (d("__k") - 1), 6).as("msb"),
        round((d("__sxxt") - d("sqn")) / (d("__nt") - d("__k")), 6)
          .as("msw"),
        (round((d("sqn") - d("__sxt") * d("__sxt") / d("__nt"))
          / (d("__k") - 1), 6) /
          round((d("__sxxt") - d("sqn")) / (d("__nt") - d("__k")), 6))
          .as("__f"))
      .select(col("source"), col("n"), col("mean_score"),
        col("msb"), col("msw"), round(col("__f"), 4).as("f_stat"))
      .orderBy("source")
  }

  /** Canonical-representative selection — the "which copy survives"
    * policy the dedup pass ends with: per multi-doc near-dup cluster
    * (the SAME MinHash components as q_dedup_cluster — one definition
    * of cluster membership), keep the HIGHEST-quality member (the
    * q_quality_score scorer, ties to the lowest doc_id) instead of
    * the naive min-id keeper. Output is the bounded per-cluster
    * audit: size, keeper id + score, and the dropped set pinned by
    * its exact id-sum (the q_mixture_sample checksum trick). Shape:
    * the shared cached component labels + one score scan + one
    * per-cluster window on the multi-doc subset (cluster sizes are
    * candidate-capped upstream) + one aggregate.
    */
  def q_dedup_canonical(s: SparkSession, dir: String): DataFrame = {
    val labels = minhashComponents(s, dir)
      .withColumnRenamed("id", "doc_id")
    val assign = t(s, dir, "documents").select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("label"), col("doc_id")).as("cluster_id"))
    val multi = assign.groupBy("cluster_id")
      .agg(count(lit(1)).as("csize")).filter(col("csize") > 1)
    val scored = withToks(t(s, dir, "documents"), col("doc_id"),
        nospaceC.as("__nospace"))
      .select(col("doc_id"),
        scoreOf(col("__toks"), col("__nospace")).as("score"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("score").desc, col("doc_id"))
    assign.join(multi, "cluster_id")
      .join(scored, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(min(col("csize")).as("csize"),
        min(when(col("rn") === 1, col("doc_id"))).as("keep_id"),
        min(when(col("rn") === 1, col("score"))).as("keep_score"),
        sum(when(col("rn") > 1, col("doc_id")).otherwise(0L))
          .as("dropped_id_sum"))
      .orderBy("cluster_id")
  }

  // ── SimHash ────────────────────────────────────────────────────────

  /** Hamming verify threshold. With `nBlocks - threshold` blocks per
    * combination (below), candidate generation is LOSSLESS for the
    * verify: ≤ threshold flipped bits can dirty at most `threshold`
    * of the 6 blocks, so at least 3 blocks are clean and the
    * combination of exactly those 3 matches (pigeonhole) — every true
    * pair survives candidate generation.
    */
  val simhashHammingMax = 3

  /** Signature geometry — block COMBINATIONS (the Manku/Jain/Sarma
    * WWW'07 near-duplicate scheme), replacing the round-2…4
    * contiguous-band layout. The 64-bit signature splits into 6
    * blocks (widths 11/11/10 per 32-bit half; blocks never straddle
    * the halves), and each doc fans to one row per C(6,3) = 20
    * combination of 3 blocks, keyed by the 30–33-bit packing of
    * those block values.
    *
    * Why: the prior 4 × 16-bit geometry had a FIXED 2^16-bucket
    * space per band, and the round-5 sf100 spot measured the
    * consequence — 74× time for 10× data at the fifth decade,
    * because past ~10M docs every bucket holds O(n/2^16) docs and
    * pair fan-out turns quadratic. Combination keys carry ≥ 30 bits,
    * pushing the saturation point past 10^9 docs for 5× the
    * replication (20 vs 4 rows/doc) — the right trade everywhere:
    * band rows are a linear map-side explode, bucket collisions are
    * the quadratic term.
    */
  val simhashBits = 64

  /** (inHighWord, startBit, width) per block; widths 11/11/10 tile
    * each 32-bit half exactly.
    */
  val simhashBlocks: Seq[(Boolean, Int, Int)] = Seq(
    (false, 0, 11), (false, 11, 11), (false, 22, 10),
    (true, 0, 11), (true, 11, 11), (true, 22, 10))
  val simhashNBlocks: Int = simhashBlocks.length

  /** All (nBlocks − hammingMax)-of-nBlocks block combinations; the
    * combination index is the band id. Shared verbatim with the
    * DuckDB oracle (Oracles.simhashBandSelects interpolates THIS
    * list), so the two engines' geometries cannot desynchronize.
    */
  val simhashCombos: Seq[Seq[Int]] =
    (0 until simhashNBlocks).combinations(simhashNBlocks - simhashHammingMax)
      .map(_.toSeq).toSeq

  /** Bit width of one packing lane in the bucket key: every block
    * value is < 2^11, so lane-11 packing is collision-free.
    */
  val simhashLaneBits = 11

  /** 64-bit SimHash per doc as two 32-bit halves (sim_hi, sim_lo):
    * per-bit ±1 votes from 64-bit token hashes (with multiplicity),
    * bit set iff vote sum > 0. Halves, not one BIGINT: bit 63 of a
    * single 64-bit assembly is the sign bit, which neither engine
    * represents portably (see TextFns.tokenHashHalf).
    */
  def simhashSignatures(s: SparkSession, dir: String): DataFrame = {
    val h = docTokens(s, dir)
      .select(col("doc_id"),
        TextFns.tokenHashHalf(col("tok"), hi = true).as("hh"),
        TextFns.tokenHashHalf(col("tok"), hi = false).as("hl"))
    val voteCols = (0 until 64).map { b =>
      val word = if (b < 32) col("hl") else col("hh")
      sum(TextFns.simhashVote(word, b % 32)).as(s"v$b")
    }
    val votes = h.groupBy("doc_id").agg(voteCols.head, voteCols.tail: _*)
    def assemble(bits: Range, base: Int) = bits.map(b =>
      when(col(s"v$b") > 0, lit(1L << (b - base))).otherwise(lit(0L)))
      .reduce(_ + _)
    // Cached: both LSH band branches of q_dedup_simhash (and the
    // q_simhash_sig parity query) read the signatures, not raw text.
    cached(votes.select(col("doc_id"),
      assemble(32 until 64, 32).as("sim_hi"),
      assemble(0 until 32, 0).as("sim_lo")))
  }

  /** Declared parity check for the SimHash computation. */
  def q_simhash_sig(s: SparkSession, dir: String): DataFrame =
    simhashSignatures(s, dir).orderBy("doc_id")

  /** Signature → (doc_id, sim_hi, sim_lo, band, bucket) rows, one per
    * block combination: band = combination index, bucket = lane-11
    * packing of the combination's block values. A map-side explode —
    * 20 rows per doc, no shuffle. Exposed for the TextOpsSpec
    * geometry assertions.
    */
  def simhashBandRows(sig: DataFrame): DataFrame = {
    def block(i: Int): Column = {
      val (hiWord, start, width) = simhashBlocks(i)
      val word = if (hiWord) col("sim_hi") else col("sim_lo")
      shiftright(word, start).bitwiseAND(lit((1L << width) - 1))
    }
    sig.select(col("doc_id"), col("sim_hi"), col("sim_lo"),
      explode(array(simhashCombos.zipWithIndex.map { case (c, j) =>
        struct(lit(j).as("band"),
          c.zipWithIndex.map { case (bi, pos) =>
            block(bi) * lit(1L << (simhashLaneBits * (c.size - 1 - pos)))
          }.reduce(_ + _).as("bucket"))
      }: _*)).as("bb"))
      .select(col("doc_id"), col("sim_hi"), col("sim_lo"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** SimHash near-dup pairs: candidates share at least one full
    * 3-block combination key (lossless for the ≤ simhashHammingMax
    * verify — see the geometry comment), verified by exact Hamming
    * distance over both halves.
    */
  def q_dedup_simhash(s: SparkSession, dir: String): DataFrame = {
    val bands = simhashBandRows(simhashSignatures(s, dir))
    val a = bands.select(col("doc_id").as("a_id"), col("sim_hi").as("hi_a"),
      col("sim_lo").as("lo_a"), col("band"), col("bucket"))
    val b = bands.select(col("doc_id").as("b_id"), col("sim_hi").as("hi_b"),
      col("sim_lo").as("lo_b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket")).filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b")))
          + bit_count(col("lo_a").bitwiseXOR(col("lo_b"))))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= simhashHammingMax)
      .orderBy("a_id", "b_id")
  }

  /** Audit ceiling for [[q_hamming_hist]] — shared verbatim with the
    * oracle. Distances past 16 of 64 bits are not near-dups under ANY
    * plausible verify threshold, so the histogram gates there: the
    * predicate pushes below the pair distinct exactly like
    * q_dedup_simhash's ≤ [[simhashHammingMax]] gate, which is what
    * keeps both queries Ω(close pairs) instead of Ω(bucket
    * collisions) — the ungated first cut measured 50 s at sf10 vs
    * 1.9 s at sf1.0 because banding hubs pay full distinct cost when
    * nothing prunes them.
    */
  private[graft] val hammingAuditMax = 16

  /** SimHash Hamming-distance histogram over the banded candidate
    * pairs — the threshold-TUNING readout for q_dedup_simhash: where
    * that query applies the ≤ [[simhashHammingMax]] verify gate, this
    * reports the distance distribution up to the wider
    * [[hammingAuditMax]] audit ceiling (with cumulative share) so an
    * operator can see what any other plausible threshold would admit
    * before re-running the dedup. Same candidate generation, one
    * bounded histogram + a bounded cumulative window — the corpus
    * never flows past the banded join.
    */
  def q_hamming_hist(s: SparkSession, dir: String): DataFrame = {
    val bands = simhashBandRows(simhashSignatures(s, dir))
    val a = bands.select(col("doc_id").as("a_id"), col("sim_hi").as("hi_a"),
      col("sim_lo").as("lo_a"), col("band"), col("bucket"))
    val b = bands.select(col("doc_id").as("b_id"), col("sim_hi").as("hi_b"),
      col("sim_lo").as("lo_b"), col("band"), col("bucket"))
    val pairs = a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b")))
          + bit_count(col("lo_a").bitwiseXOR(col("lo_b"))))
          .cast("long").as("hamming"))
      .filter(col("hamming") <= hammingAuditMax)
      .distinct()
    // cached: the ≤ 17-row histogram feeds both the cumulative branch
    // and its own total — without this the banded join runs twice
    val hist = cached(
      pairs.groupBy("hamming").agg(count(lit(1)).as("n_pairs")))
    val w = Window.orderBy("hamming")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist
      .withColumn("cum_pairs", sum(col("n_pairs")).over(w))
      .crossJoin(broadcast(hist.agg(sum(col("n_pairs")).as("t"))))
      .select(col("hamming"), col("n_pairs"), col("cum_pairs"),
        round(col("cum_pairs").cast("double") / col("t"), 4)
          .as("cum_share"))
      .orderBy("hamming")
  }

  /** Degree distribution of the near-dup candidate graph — the
    * shape diagnostic for LSH banding health: a long high-degree tail
    * means hub buckets are chaining unrelated docs (the q_kcore /
    * q_triangles failure mode), a mass at degree 1–2 means clean
    * pairwise duplication. Two hash aggregates over the symmetric
    * edge list; output bounded by the max degree.
    */
  def q_degree_dist(s: SparkSession, dir: String): DataFrame = {
    val p = minhashCandidatePairs(s, dir)
    val deg = p.select(col("a_id").as("id"))
      .union(p.select(col("b_id").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    deg.groupBy("deg").agg(count(lit(1)).as("n_nodes"))
      .orderBy("deg")
  }

  /** Repetition quality signals, the Gopher/RefinedWeb-style filters
    * real curation stacks gate on: within-document duplicate 2-gram
    * fraction (boilerplate/template detector) and top-token share
    * (keyword-stuffing detector). The 2-gram stats are pure per-row
    * expressions over the codegen'd WordShingles; top-token share
    * reuses the cached docTokens explode and two hash aggregates on
    * doc_id — one shuffle, no joins wider than the id.
    */
  def q_repetition(s: SparkSession, dir: String): DataFrame = {
    // 2-gram array staged in its own projection: referenced twice
    // (size + distinct-size), and CollapseProject keeps multi-use
    // non-cheap expressions staged instead of re-shingling per use
    val base = t(s, dir, "documents")
      .select(col("doc_id"), TextFns.shingles(col("text"), 2).as("__g2"))
      .select(
        col("doc_id"),
        size(col("__g2")).cast("long").as("n_2gram"),
        size(array_distinct(col("__g2"))).cast("long").as("n_2gram_distinct"))
      .withColumn("dup_2gram_ratio",
        when(col("n_2gram") === 0, lit(0.0)).otherwise(
          round(lit(1.0) - col("n_2gram_distinct").cast("double")
            / col("n_2gram"), 4)))
    val top = docTokens(s, dir)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(max(col("c")).as("top_c"), sum(col("c")).as("n_tok"))
      .select(col("doc_id"),
        round(col("top_c").cast("double") / col("n_tok"), 4)
          .as("top_tok_ratio"))
    base.join(top, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_2gram"), col("n_2gram_distinct"),
        col("dup_2gram_ratio"),
        coalesce(col("top_tok_ratio"), lit(0.0)).as("top_tok_ratio"))
      .orderBy("doc_id")
  }

  /** Corpus-level reporting rollup: per predicted language, document
    * count, total tokens, source diversity, and mean quality score —
    * the summary a curation run publishes next to its output. One
    * scan, one hash aggregate on a tiny key; count_distinct(source)
    * expands to a two-phase distinct aggregate that still partial-
    * aggregates map-side.
    */
  def q_corpus_stats(s: SparkSession, dir: String): DataFrame = {
    withToks(t(s, dir, "documents"),
      col("source"), nospaceC.as("__nospace"))
      .select(
        predLangOf(col("__toks")).as("pred_lang"),
        size(col("__toks")).cast("long").as("n_tok"),
        col("source"),
        scoreOf(col("__toks"), col("__nospace")).as("score"))
      .groupBy("pred_lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tok"),
        countDistinct(col("source")).as("n_sources"),
        // score is an exact half-integer (0/0.5/1): aggregate 2·score
        // as BIGINT and divide once, so the mean can never float-drift
        // across engines (§2.12 decimal discipline)
        round(sum((col("score") * 2).cast("long")).cast("double")
          / (count(lit(1)) * 2), 4).as("avg_score"))
      .orderBy("pred_lang")
  }

  /** Per-SOURCE data-quality dashboard — the governance readout every
    * ingest pipeline publishes per feed: volume (docs, tokens,
    * mean length), language yield (docs passing the en heuristic),
    * and mean quality score. One scan, one hash aggregate on the
    * source key; the score mean uses q_corpus_stats' exact
    * 2·half-integer BIGINT trick, so nothing can float-drift.
    * Complements q_corpus_stats (per predicted language) and
    * q_dup_share (per-source duplication) on the same axis.
    */
  def q_source_profile(s: SparkSession, dir: String): DataFrame =
    withToks(t(s, dir, "documents"),
      col("source"), nospaceC.as("__nospace"))
      .select(col("source"),
        size(col("__toks")).cast("long").as("n_tok"),
        predLangOf(col("__toks")).as("pl"),
        scoreOf(col("__toks"), col("__nospace")).as("score"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("total_tok"),
        sum(when(col("pl") === "en", 1L).otherwise(0L)).as("n_en"),
        round(sum((col("score") * 2).cast("long")).cast("double")
          / (count(lit(1)) * 2), 4).as("avg_score"),
        round(sum(col("n_tok")).cast("double") / count(lit(1)), 2)
          .as("avg_tok"))
      .orderBy("source")

  /** Cross-source near-dup pair matrix — WHERE duplication comes
    * from: each LSH candidate pair mapped to its (unordered) source
    * pair and counted. The diagonal is within-feed re-crawl; heavy
    * off-diagonal cells are mirror relationships between feeds — the
    * provenance view that q_source_overlap (raw shingle overlap) and
    * q_dup_share (per-source rate) don't resolve. Cost: two id-keyed
    * joins of the bounded pair list against the doc→source map.
    */
  def q_dup_matrix(s: SparkSession, dir: String): DataFrame = {
    val src = t(s, dir, "documents").select(col("doc_id"), col("source"))
    minhashCandidatePairs(s, dir)
      .join(src.select(col("doc_id").as("a_id"), col("source").as("sx")),
        Seq("a_id"))
      .join(src.select(col("doc_id").as("b_id"), col("source").as("sy")),
        Seq("b_id"))
      .select(least(col("sx"), col("sy")).as("src_a"),
        greatest(col("sx"), col("sy")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
      .orderBy("src_a", "src_b")
  }

  /** Width of the duplicated-span shingle window (tokens). */
  val dedupSpanW = 5

  /** Position-aware duplicated-SPAN detection — the exact-substring
    * dedup signal of Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better") at fixed shingle granularity:
    * a position is "shared" when its [[dedupSpanW]]-token window
    * occurs verbatim in another document. Per doc: how many window
    * positions are shared (n_shared), how many token positions those
    * windows cover (covered_tok — interval union via a bounded W-row
    * explode + distinct), and the longest maximal duplicated span in
    * tokens (max_span_tok — consecutive shared positions found with
    * the classic pos − row_number() run-group trick, so a run of R
    * windows is a span of R+W−1 tokens). Only docs with ≥1 shared
    * window are emitted — the candidates a span-level deduper would
    * actually cut.
    *
    * Scale shape: NO doc-pair join anywhere (contrast the near-dup
    * family) — two hash aggregates build the shared-shingle set, one
    * equi-join marks positions, and the window runs per-doc over at
    * most doc-length rows. Fan-outs are bounded by W. At 100 TB the
    * join key would be xxhash64(shingle) (constant width) instead of
    * the shingle text; the fixture keeps the text so the DuckDB twin
    * groups identically.
    */
  def q_dedup_span(s: SparkSession, dir: String): DataFrame = {
    val w = dedupSpanW
    // cached: both the shared-shingle aggregate and the position join
    // consume this frame — without the cache the corpus is tokenized
    // and exploded twice (the round-1 lesson: tokenize once, never
    // per consumer)
    val sh = cached(t(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(TextFns.shingles(col("text"), w)).as(Seq("pos", "shingle"))))
    val dup = sh.select("shingle", "doc_id").distinct()
      .groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2).select("shingle")
    // cached too: the coverage union and the run-grouping window are
    // two independent consumers of the (small) shared-position set
    val spos = cached(
      sh.join(dup, Seq("shingle")).select("doc_id", "pos").distinct())
    val cov = spos
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + lit(w - 1))).as("p"))
      .distinct()
      .groupBy("doc_id").agg(count(lit(1)).as("covered_tok"))
    val winSpec = Window.partitionBy("doc_id").orderBy("pos")
    val per = spos
      .withColumn("grp", col("pos") - row_number().over(winSpec))
      .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
      .groupBy("doc_id")
      .agg(sum(col("run")).as("n_shared"),
        (max(col("run")) + lit(w - 1)).cast("long").as("max_span_tok"))
    per.join(cov, Seq("doc_id"))
      .select(col("doc_id"), col("n_shared"), col("covered_tok"),
        col("max_span_tok"))
      .orderBy("doc_id")
  }

  /** Variable-width (log-scale) token-count histogram — the
    * distribution profile that stays readable when doc lengths span
    * four orders of magnitude (equi-width q_histogram puts 99% of a
    * heavy-tailed corpus in bucket 0). Bucket = floor(log2(n_tok)),
    * computed INTEGER-EXACTLY as length(binary(n_tok)) - 1 — float
    * log2 would drift across engines exactly at the power-of-two
    * bucket boundaries. Same one-scan, one-hash-agg shape as
    * q_histogram: the bucket key is tiny (≤ 64 values), so the
    * aggregate partial-combines map-side and the shuffle carries
    * next to nothing at any corpus size.
    */
  def q_histogram_log(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(size(TextFns.tokens(col("text"))).cast("long").as("n_tok"))
      .select((length(conv(col("n_tok"), 10, 2)) - 1).cast("long").as("bucket"),
        col("n_tok"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("cnt"),
        min(col("n_tok")).as("lo"), max(col("n_tok")).as("hi"))
      .orderBy("bucket")

  /** End-to-end curation pipeline — the composed workload a training-
    * data user actually runs, stage by stage over one pass of the
    * corpus:
    *
    *   1. language gate (the q_lang_id heuristic, keep 'en'),
    *   2. quality gate (the q_quality_score bands, keep score ≥ 0.5),
    *   3. exact dedup (keep the min doc_id per content md5),
    *   4. near-dup removal over the MinHash-LSH candidate pairs
    *      RESTRICTED to survivors of 1-3 (pairs whose loser was
    *      already filtered must not kill the remaining copy): one-shot
    *      pair-drop — EVERY doc that is the larger endpoint of ANY
    *      surviving pair is dropped, decisions taken simultaneously
    *      over the pair set. On a chain a–b, b–c this keeps {a} only
    *      (c is dropped for its pair with b even though b is dropped
    *      too). Stricter than cluster-min (q_dedup_cluster keeps one
    *      doc per component) but needs no iteration — the standard
    *      trade when a pass over 100 TB must stay join-only; use
    *      q_dedup_cluster's representatives when chain-aware keeps
    *      matter.
    *
    * Scale shape: stages 1-3 are scan + one groupBy-per-hash; stage 4
    * reuses the cached signature subplan (the pairs frame is the same
    * one q_dedup_minhash declares) and two semi-joins + one anti-join
    * on doc_id — every join key is the document id or a constant-width
    * hash, nothing quadratic, no iteration.
    */
  /** Shared curation stage 0: per-doc stats projection (one
    * definition for q_curate, q_corpus_stats consumers and the
    * streaming pipeline [[graft.streaming.Streams.curateStream]] —
    * the gates must not fork across batch and streaming).
    */
  def curationStats(docs: DataFrame): DataFrame =
    withToks(docs, col("doc_id"), col("text"), nospaceC.as("__nospace"))
      .select(
        col("doc_id"), col("text"),
        size(col("__toks")).cast("long").as("n_tok"),
        scoreOf(col("__toks"), col("__nospace")).as("score"),
        predLangOf(col("__toks")).as("pred_lang"))

  /** Shared curation stages 1-2: language + quality gates (stateless
    * filters — identical semantics in a stream).
    */
  def curationGate(stats: DataFrame): DataFrame =
    stats.filter(col("pred_lang") === "en" && col("score") >= 0.5)

  def q_curate(s: SparkSession, dir: String): DataFrame = {
    val stats = curationStats(t(s, dir, "documents"))
    val gated = curationGate(stats)
    val exactKeep = gated
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val surv = gated.join(exactKeep, Seq("doc_id"), "left_semi")
    val ids = surv.select("doc_id")
    val dropB = minhashCandidatePairs(s, dir)
      .join(ids.withColumnRenamed("doc_id", "a_id"), Seq("a_id"), "left_semi")
      .join(ids.withColumnRenamed("doc_id", "b_id"), Seq("b_id"), "left_semi")
      .select(col("b_id").as("doc_id")).distinct()
    surv.join(dropB, Seq("doc_id"), "left_anti")
      .select("doc_id", "n_tok", "score", "pred_lang")
      .orderBy("doc_id")
  }

  /** Composed end-to-end training-set build — the 100 TB usage shape
    * of the whole curation inventory in ONE materialized pass:
    * lang gate → quality gate → exact dedup → near-dup canonical
    * selection → decontaminate → mixture quotas → split assign →
    * pack. The output is the BOUNDED per-stage audit a production
    * run reports (stage order, rows in/out/dropped), with each
    * stage's surviving doc set pinned by exact id-sum/min/max
    * checksums (the q_mixture_sample discipline — the whole corpus
    * route is hash-gated without shipping it through the comparator)
    * and the final packed manifest pinned by Σ doc_id·(bin+1), so a
    * single doc landing in a different bin moves the checksum.
    *
    * Scale shape: text is read ONCE into the cached per-doc stats
    * frame (tokens, gates, text_hash — everything downstream is
    * narrow columns); the near-dup stage reuses the SAME cached
    * signature/pairs frames q_dedup_minhash declares; the decontam
    * shingle table is built once and its eval side broadcast; every
    * stage frame is cached so its audit aggregate and its successor
    * share one materialization; the mixture quota is an in-plan
    * 1-row broadcast (no driver action); pack is the sharded window.
    * The audits are one extra hash aggregate per stage over cached
    * narrow frames — the composed plan scans the corpus text exactly
    * twice (3-gram minhash shingles and stats share the tokenizer
    * scan budget; 4-gram decontam shingles are a different width),
    * which PlanSpec pins.
    */
  def q_pipeline_build(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents")
    // stage 0: one text scan → narrow per-doc stats (text itself is
    // reduced to md5 here and never travels further)
    val st = cached(withToks(docs, col("doc_id"), col("text"), col("lang"),
        col("source"), nospaceC.as("__nospace"))
      .select(col("doc_id"), col("lang"), col("source"),
        size(col("__toks")).cast("long").as("n_tok"),
        scoreOf(col("__toks"), col("__nospace")).as("score"),
        predLangOf(col("__toks")).as("pred_lang"),
        md5(col("text")).as("text_hash")))
    val s1 = st.filter(col("pred_lang") === "en")
    val s2 = s1.filter(col("score") >= 0.5)
    val keep = s2.groupBy(col("text_hash"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val s3 = cached(s2.join(keep, Seq("doc_id"), "left_semi"))
    val ids3 = s3.select("doc_id")
    val dropB = minhashCandidatePairs(s, dir)
      .join(ids3.withColumnRenamed("doc_id", "a_id"), Seq("a_id"), "left_semi")
      .join(ids3.withColumnRenamed("doc_id", "b_id"), Seq("b_id"), "left_semi")
      .select(col("b_id").as("doc_id")).distinct()
    val s4 = cached(s3.join(dropB, Seq("doc_id"), "left_anti"))
    // decontam: the 4-gram shingle table once; eval side broadcast
    val sh4 = cached(docs.select(col("doc_id"),
      explode(array_distinct(
        TextFns.shingles(col("text"), decontamNgram))).as("shingle")))
    val evalSh = sh4.filter(col("doc_id") % 50 === 0)
      .select("shingle").distinct()
    val contam = sh4.filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(evalSh), Seq("shingle"))
      .select("doc_id").distinct()
    val s5 = cached(s4.filter(col("doc_id") % 50 =!= 0)
      .join(contam, Seq("doc_id"), "left_anti"))
    // mixture quota over the CURRENT survivors (equal shares of a
    // ceil(N/den) target, capped by availability — q_mixture_sample's
    // rule applied as a drop stage)
    val tot = broadcast(s5.agg(count(lit(1)).as("__n"),
      countDistinct(col("source")).as("__k")))
    val wSrc = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val s6 = cached(s5.crossJoin(tot)
      .withColumn("__per", expr(
        s"(((__n + ${mixSampleDen - 1}) div $mixSampleDen) + __k - 1) div __k"))
      .withColumn("__rk", row_number().over(wSrc))
      .filter(col("__rk") <= col("__per"))
      .drop("__n", "__k", "__per", "__rk"))
    // split: keep the train fraction (q_split_assign's boundaries)
    val s7 = cached(s6.filter(substring(md5(concat(lit("split:"),
      col("doc_id").cast("string"))), 1, 2) < "cd"))
    // pack: sharded running-offset bins (q_pack's rule) — drops
    // nothing, pins the bin assignment through the manifest fold
    val wPack = Window.partitionBy("lang", "shard").orderBy("doc_id")
    val s8 = s7.select(col("doc_id"), col("lang"), col("n_tok"),
        pmod(col("doc_id"), lit(packShards)).as("shard"))
      .withColumn("tok_offset",
        sum(col("n_tok")).over(wPack) - col("n_tok"))
      .withColumn("bin", floor(col("tok_offset") / packBudget.toDouble))
    def audit(ord: Long, name: String, df: DataFrame,
      manifest: Column = lit(0L)): DataFrame =
      df.agg(count(lit(1)).as("n_out"),
          coalesce(sum(col("doc_id")), lit(0L)).as("id_sum"),
          coalesce(min(col("doc_id")), lit(-1L)).as("id_min"),
          coalesce(max(col("doc_id")), lit(-1L)).as("id_max"),
          coalesce(manifest, lit(0L)).as("manifest"))
        .select(lit(ord).as("stage_ord"), lit(name).as("stage"),
          col("n_out"), col("id_sum"), col("id_min"), col("id_max"),
          col("manifest"))
    val audits = Seq(
      audit(0L, "input", docs),
      audit(1L, "lang_gate", s1),
      audit(2L, "quality_gate", s2),
      audit(3L, "exact_dedup", s3),
      audit(4L, "near_dup", s4),
      audit(5L, "decontam", s5),
      audit(6L, "mixture_quota", s6),
      audit(7L, "split_assign", s7),
      audit(8L, "pack", s8, sum(col("doc_id") * (col("bin") + 1L))))
      .reduce(_.union(_))
    // n_in via lag over the 9-row audit frame (single partition is
    // the point — this is the bounded result, not the corpus)
    val wOrd = Window.orderBy("stage_ord")
    audits
      .withColumn("n_in",
        coalesce(lag(col("n_out"), 1).over(wOrd), col("n_out")))
      .select(col("stage_ord"), col("stage"), col("n_in"), col("n_out"),
        (col("n_in") - col("n_out")).as("n_dropped"),
        col("id_sum"), col("id_min"), col("id_max"), col("manifest"))
      .orderBy("stage_ord")
  }

  // ── decontamination / packing / lexical entropy ────────────────────

  /** Shingle width for eval-set decontamination. Wider than the
    * 3-gram dedup shingles on purpose: dedup wants recall on mostly-
    * similar docs, decontamination wants precision on verbatim
    * benchmark leakage (real pipelines use 8-13-gram exact overlap;
    * 4 is the same mechanism scaled to the fixture's short docs).
    */
  val decontamNgram = 4

  /** Distinct eval-split shingles — the broadcast probe set shared
    * with the streaming twin ([[graft.streaming.Streams.decontamHits]]).
    */
  def evalShingles(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents").filter(col("doc_id") % 50 === 0)
      // array_distinct pre-explode: per-doc dedup is free map-side
      // work; the global distinct shuffle then carries only each
      // doc's unique shingles
      .select(explode(array_distinct(
        TextFns.shingles(col("text"), decontamNgram))).as("shingle"))
      .distinct()

  /** Benchmark decontamination — flag corpus documents that share any
    * [[decontamNgram]]-gram with a held-out eval split (here the
    * deterministic `doc_id % 50 == 0` slice stands in for the
    * benchmark suite a training run must not train on). Emits, per
    * contaminated doc, the distinct overlapping shingles and how many
    * eval docs they leak from — the audit columns a curation run
    * reports next to the drop list.
    *
    * Scale shape: an eval suite is KBs-to-MBs against a 100 TB
    * corpus, so its shingle set is broadcast — the corpus side is one
    * shingle explode + broadcast hash-join + per-doc count. No
    * self-join, no shuffle of corpus text, and the corpus scan
    * prunes to (doc_id, text).
    */
  def q_decontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = t(s, dir, "documents")
      .select(col("doc_id"),
        // per-doc map-side distinct (the docShingles discipline)
        explode(array_distinct(
          TextFns.shingles(col("text"), decontamNgram))).as("shingle"))
    val evalSh = sh.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("eval_id"), col("shingle"))
    sh.filter(col("doc_id") % 50 =!= 0)
      .join(broadcast(evalSh), Seq("shingle"))
      .groupBy("doc_id")
      .agg(countDistinct(col("shingle")).as("n_hit"),
        countDistinct(col("eval_id")).as("n_eval_docs"))
      .orderBy("doc_id")
  }

  /** Context-window token budget for [[q_pack]]. */
  val packBudget = 256L

  /** Shard count for [[q_pack]] — bounds the longest window chain. */
  val packShards = 8L

  /** Sequence packing — assign documents to fixed-token-budget
    * training bins the way LLM pretraining packs a corpus: documents
    * are laid out in a deterministic order, the running token offset
    * is cut every [[packBudget]] tokens, and a doc's bin is the chunk
    * its offset starts in. Emits (bin, offset) per doc so a writer
    * can route each bin to one output group.
    *
    * Scale shape: a single global running sum would serialize the
    * corpus through one task, so packing is sharded — the window
    * partitions on (lang, doc_id % [[packShards]]), making each
    * chain 1/shards of the corpus and embarrassingly parallel.
    * Packing order within a shard is arbitrary-but-deterministic
    * (doc_id), which is exactly what concat-and-cut packing needs;
    * at 100 TB you raise the shard count with the cluster width.
    */
  def q_pack(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(
      col("doc_id"), col("lang"),
      TextFns.tokenCount(col("text")).cast("long").as("n_tok"),
      pmod(col("doc_id"), lit(packShards)).as("shard"))
    val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
    docs
      .withColumn("tok_offset", sum(col("n_tok")).over(w) - col("n_tok"))
      .withColumn("bin", floor(col("tok_offset") / packBudget.toDouble))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tok"),
        col("bin"), col("tok_offset"))
      .orderBy("doc_id")
  }

  /** Incremental near-dup dedup — probe a NEW ingest batch against
    * the historical corpus's LSH index instead of re-pairing the
    * whole corpus. This is the shape continuous ingest takes at
    * 100 TB: the historical (band, bucket) index is a maintained
    * table paid for once; each arriving batch joins its own band rows
    * against it, cost proportional to the BATCH, not the corpus.
    * Here the deterministic `doc_id % 5 == 0` slice stands in for the
    * arriving batch; within-batch duplicates are the batch-local
    * q_dedup_minhash pass's job and are deliberately out of scope.
    * Emits per new doc the match count and the first (min-id)
    * historical match — the keeper a drop decision would point at.
    */
  def q_dedup_incremental(s: SparkSession, dir: String): DataFrame = {
    val bands = minhashBandRows(s, dir)
    val hist = bands.filter(col("doc_id") % 5 =!= 0)
      .select(col("doc_id").as("hist_id"), col("band"), col("bucket"))
    val fresh = bands.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id").as("new_id"), col("band"), col("bucket"))
    fresh.join(hist, Seq("band", "bucket"))
      .select("new_id", "hist_id").distinct()
      .groupBy("new_id")
      .agg(count(lit(1)).as("n_matches"), min(col("hist_id")).as("first_match"))
      .orderBy("new_id")
  }

  /** Domain-mixture reweighting — per (lang, source) corpus cell, the
    * sampling weight that moves the observed mixture to the uniform
    * target: weight = target_share / observed_share, with the integer
    * up-sampling factor ceil(weight) a repeat-based sampler would
    * apply. The training-mixture knob every large pretraining run
    * tunes (uniform here; any target table can replace the constant).
    *
    * Scale shape: one hash aggregation over the corpus, then a 1-row
    * totals aggregate broadcast back over the cells (same in-plan
    * pattern as tf-idf's N — no driver-side action).
    */
  def q_mixture_weights(s: SparkSession, dir: String): DataFrame = {
    val g = t(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextFns.tokenCount(col("text")).cast("long")).as("n_tok"))
    val tot = g.agg(sum(col("n_docs")).as("total_docs"),
      count(lit(1)).as("n_cells"))
    val share = col("n_docs") / col("total_docs")
    val weight = (lit(1.0) / col("n_cells")) / share
    g.crossJoin(broadcast(tot))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tok"),
        round(share, 4).as("share"),
        round(weight, 4).as("weight"),
        ceil(weight).cast("long").as("repeat_factor"))
      .orderBy("lang", "source")
  }

  /** Target corpus fraction for [[q_mixture_sample]] (denominator —
    * the sample keeps ⌈N/4⌉ docs), shared with the oracle.
    */
  private[graft] val mixSampleDen = 4

  /** Mixture-sample materialization — the operator that EXECUTES the
    * weights q_mixture_weights computes: build a balanced training
    * mix of ⌈N/[[mixSampleDen]]⌉ docs with exact per-source quotas
    * (equal shares, capped by availability — a short source
    * contributes all it has, the cap is observable per row).
    * Selection within a source is by md5(doc_id) rank — deterministic
    * shuffle-free "randomness", the q_sample_hash discipline, so two
    * engines (and two runs) pick the SAME docs. Output is the bounded
    * per-source audit: availability, quota, taken, and the selected
    * set pinned by exact id-sum/min/max checksums — the selection is
    * hash-gated without shipping the sample itself through the
    * comparator. Scale: one count aggregate, then a per-source
    * row_number window (partitioned sort; source cardinality bounds
    * parallelism like q_decile_bands — the ScalableRank trade
    * documented there applies verbatim when sources are few and
    * huge), then a k-row aggregate.
    */
  def q_mixture_sample(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"), col("source"))
    val tot = broadcast(docs.agg(
      count(lit(1)).as("__n"),
      countDistinct(col("source")).as("__k")))
    // totalTarget = ceil(N/den); per-source share = ceil(target/k) —
    // integer `div` (Spark `/` on longs is a DOUBLE division)
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs.crossJoin(tot)
      .withColumn("__per", expr(
        s"(((__n + ${mixSampleDen - 1}) div $mixSampleDen) + __k - 1) div __k"))
      .withColumn("rk", row_number().over(w))
      .withColumn("take", col("rk") <= col("__per"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_avail"),
        min(col("__per")).as("quota"),
        sum(when(col("take"), 1L).otherwise(0L)).as("n_taken"),
        sum(when(col("take"), col("doc_id")).otherwise(0L)).as("id_sum"),
        min(when(col("take"), col("doc_id"))).as("id_min"),
        max(when(col("take"), col("doc_id"))).as("id_max"))
      .orderBy("source")
  }

  /** Context-window size (tokens) for [[q_chunk]]. */
  val chunkSize = 32

  /** Chunk stride for [[q_chunk]] — < [[chunkSize]] ⇒ overlapping
    * windows (the RAG/pretraining default: overlap keeps boundary
    * context in at least one chunk).
    */
  val chunkStride = 24

  /** Document chunking — split every document into fixed-token
    * windows of [[chunkSize]] tokens every [[chunkStride]] tokens,
    * the pass that turns a curated corpus into model-ready sequences
    * (RAG passages / pretraining windows). Emits one row per chunk
    * with its token span and text.
    *
    * Scale shape: pure per-row generate-explode (sequence +
    * posexplode + slice) — no shuffle at all until the declared
    * ORDER BY; at 100 TB this is a map-only pass whose output
    * partitioning is inherited from the scan. Zero-token documents
    * produce no chunks.
    */
  def q_chunk(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), TextFns.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) > 0)
      .select(col("doc_id"), col("tk"),
        posexplode(sequence(lit(0), size(col("tk")) - 1, lit(chunkStride))))
      .select(col("doc_id"),
        col("pos").cast("long").as("chunk_id"),
        col("col").cast("long").as("start_tok"),
        size(slice(col("tk"), col("col") + 1, lit(chunkSize))).cast("long").as("n_tok"),
        array_join(slice(col("tk"), col("col") + 1, lit(chunkSize)), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_id")

  /** Corpus document frequency above which a shingle counts as
    * boilerplate for [[q_boilerplate]] (tuned to the fixture's df
    * distribution — max 3-gram df there is 7; production corpora set
    * this orders of magnitude higher).
    */
  val boilerplateMinDf = 3

  /** Boilerplate fraction per document — the share of a doc's
    * distinct shingles that are corpus-frequent (df ≥
    * [[boilerplateMinDf]]). Template/navigation text shared across
    * many pages shows up as a high ratio; curation stacks gate on it
    * the same way they gate on within-doc repetition
    * ([[q_repetition]]) — this is the CROSS-doc complement.
    *
    * Scale shape: reuses the cached distinct shingle table; one hash
    * aggregate for df, one broadcast-join-free shuffle join back on
    * the shingle, one aggregate on doc_id. The df frame is the same
    * one the ngram index builds — at 100 TB it is a staged table paid
    * for once across all shingle consumers.
    */
  def q_boilerplate(s: SparkSession, dir: String): DataFrame = {
    val sh = docShingles(s, dir)
    val df_ = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val per = sh.join(df_, "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") >= boilerplateMinDf, 1L).otherwise(0L)).as("n_boiler"))
    t(s, dir, "documents").select(col("doc_id"))
      .join(per, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_boiler"), lit(0L)).as("n_boiler"),
        when(coalesce(col("n_shingles"), lit(0L)) === 0, lit(0.0))
          .otherwise(round(col("n_boiler").cast("double") / col("n_shingles"), 4))
          .as("boiler_ratio"))
      .orderBy("doc_id")
  }

  /** Vocabulary cap for [[q_cooccur]] — pairs are generated only over
    * the top-K tokens by document frequency, so the per-document
    * fan-out is ≤ C(K,2) REGARDLESS of corpus size (the same
    * bounded-blocking discipline as the shingle df-cap; an unbounded
    * vocabulary would make the pair count grow with the square of the
    * vocabulary).
    */
  val cooccurVocab = 40

  /** Minimum document co-occurrence for a pair to be emitted. */
  val cooccurMinPairDf = 5

  /** Token co-occurrence with pointwise mutual information — the
    * corpus-analysis pass behind collocation mining and topic
    * drift checks: for the top-[[cooccurVocab]] vocabulary, which
    * token pairs co-occur in documents more than independence
    * predicts. PMI = ln(n_pair·N / (df_a·df_b)) over exact integer
    * counts (engine-exact up to one final ln + round).
    *
    * Scale shape: the vocabulary is a top-K aggregate (tiny,
    * broadcast); the corpus side explodes only vocab hits, so the
    * doc_id self-join emits ≤ C(K,2) pairs per doc. N rides in-plan
    * as a broadcast 1-row aggregate (the tf-idf pattern).
    */
  def q_cooccur(s: SparkSession, dir: String): DataFrame = {
    val dt = docTokensDistinct(s, dir)
    val vocab = dt.groupBy("tok").agg(count(lit(1)).as("df"))
      .orderBy(col("df").desc, col("tok")).limit(cooccurVocab)
    val tv = dt.join(broadcast(vocab), Seq("tok"))
    val n = broadcast(t(s, dir, "documents")
      .agg(count(lit(1)).cast("double").as("__n_docs")))
    val a = tv.select(col("doc_id"), col("tok").as("tok_a"), col("df").as("df_a"))
    val b = tv.select(col("doc_id"), col("tok").as("tok_b"), col("df").as("df_b"))
    a.join(b, Seq("doc_id")).filter(col("tok_a") < col("tok_b"))
      .groupBy("tok_a", "tok_b", "df_a", "df_b")
      .agg(count(lit(1)).as("n_pair"))
      .filter(col("n_pair") >= cooccurMinPairDf)
      .crossJoin(n)
      .select(col("tok_a"), col("tok_b"), col("n_pair"),
        col("df_a"), col("df_b"),
        round(log(col("n_pair") * col("__n_docs")
          / (col("df_a") * col("df_b"))), 4).as("pmi"))
      .orderBy(col("pmi").desc, col("tok_a"), col("tok_b"))
      .limit(100)
  }

  /** Per-language length outliers — z-score of n_chars against the
    * document's own language stratum, the distribution-tail gate a
    * curation stack runs to catch truncated fragments and
    * concatenation blobs that absolute thresholds miss.
    *
    * Engine-exactness: the z denominator is the sample stddev derived
    * from EXACT integer moments (n, Σx, Σx²) — both engines evaluate
    * the identical double expression on identical integers, so z
    * agrees bit-for-bit before the round. The `is_outlier` decision
    * (|x−μ| > 2σ) is taken in pure integer arithmetic —
    * (n·x−Σx)²·(n−1) > 4·n·(n·Σx²−(Σx)²) — so the flag can never
    * straddle a float boundary.
    *
    * Scale shape: one hash aggregate to a per-language stats row
    * (broadcast — cardinality is the language count), one map-side
    * join back; no second pass over the data.
    */
  def q_outlier(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val stats = d.groupBy("lang").agg(
      count(lit(1)).as("n"),
      sum(col("n_chars")).as("sx"),
      sum(col("n_chars") * col("n_chars")).as("sxx"))
    val nx = col("n_chars") * col("n") - col("sx")
    val varNum = col("n") * col("sxx") - col("sx") * col("sx")
    d.join(broadcast(stats), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(nx.cast("double")
          / sqrt((col("n") * varNum).cast("double") / (col("n") - 1)), 4).as("z"),
        when(nx * nx * (col("n") - 1) > varNum * col("n") * 4, 1L)
          .otherwise(0L).as("is_outlier"))
      .orderBy("doc_id")
  }

  /** Unigram language-model scoring — per-document average negative
    * log-likelihood (and its exp, perplexity) under the corpus's own
    * unigram distribution: the CCNet-style perplexity filter that
    * flags documents whose token mix is unlike the corpus (spam,
    * wrong-language fragments, symbol soup) even when length and
    * ratio gates pass. nll = ln(T) − (Σᵢ ln tf(tokᵢ))/n, so the whole
    * query is: one corpus tf aggregate, a join back on the token, one
    * per-doc aggregate, and a 1-row broadcast of the corpus total —
    * no driver-side action, map-side combinable everywhere.
    *
    * (A production filter scores against a CLEAN reference LM rather
    * than the corpus itself; the dataflow is identical — the tf table
    * becomes a broadcast/staged side input.)
    */
  def q_lm_score(s: SparkSession, dir: String): DataFrame = {
    val tk = docTokens(s, dir)
    val tf = tk.groupBy("tok").agg(count(lit(1)).as("tf"))
    val tot = broadcast(tf.agg(sum(col("tf")).cast("double").as("__total")))
    val nll = log(col("__total")) - col("sll") / col("n_tok")
    tk.join(tf, Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(log(col("tf"))).as("sll"))
      .crossJoin(tot)
      .select(col("doc_id"), col("n_tok"),
        round(nll, 4).as("nll"),
        round(exp(nll), 4).as("ppl"))
      .orderBy("doc_id")
  }

  /** Lexical entropy + type-token ratio per document — the two
    * distribution-shape quality signals that catch what the ratio
    * gates (q_quality_score) and the repetition gates (q_repetition)
    * miss: keyword-stuffed or template text has low Shannon entropy
    * over its token distribution and a collapsed type-token ratio
    * even when lengths and stopword ratios look organic.
    *
    * H = ln(n) − (Σ c·ln c)/n over per-doc term frequencies — the
    * closed form needs only (Σc, Σc·ln c) per doc, so the whole query
    * is the shared cached docTokens scan + two hash aggregations,
    * map-side combinable at any scale. Documents with zero tokens
    * have no distribution and emit no row (same as the oracle's
    * inner grouping).
    */
  def q_token_entropy(s: SparkSession, dir: String): DataFrame = {
    val tf = docTokens(s, dir)
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    tf.groupBy("doc_id")
      .agg(sum(col("c")).as("n"),
        count(lit(1)).as("n_types"),
        sum(col("c") * log(col("c"))).as("clogc"))
      .select(col("doc_id"), col("n"), col("n_types"),
        round(log(col("n")) - col("clogc") / col("n"), 4).as("entropy"),
        round(col("n_types").cast("double") / col("n"), 4).as("ttr"))
      .orderBy("doc_id")
  }

  /** Tukey-fence winsorization of per-language document lengths —
    * the standard pre-aggregation treatment for heavy-tailed corpus
    * statistics: clamp n_chars into [p25 − 1.5·IQR, p75 + 1.5·IQR]
    * of the document's own language stratum (mixture-weight and
    * packing passes otherwise let one concatenation blob dominate a
    * stratum's token budget).
    *
    * Engine-exactness: quartiles of BIGINT values interpolate at
    * fractions {0, .25, .5, .75} — both engines' interpolation
    * formulas are exact there (every intermediate is a multiple of
    * 2⁻³, exactly representable), so the fences and the clamp agree
    * bit-for-bit with NO rounding guard. This is why the fences are
    * quartile-based rather than p05/p95: (n−1)·0.05 is inexact in
    * binary and Spark (lower·(1−f)+upper·f) and DuckDB
    * (lower+(upper−lower)·f) can then split by an ulp.
    *
    * Scale shape: one hash aggregate to a per-language quartile row
    * (cardinality = language count, broadcast), one map-side join
    * back + clamp; a second scan never happens. The exact percentile
    * buffers per-group values — at 100 TB the same query swaps in
    * approx_percentile for the fence aggregate (q_agg_quantile_approx
    * precedent) with everything downstream unchanged.
    */
  def q_winsorize(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    val fences = d.groupBy("lang")
      .agg(expr("percentile(n_chars, array(0.25, 0.75))").as("ps"))
      .select(col("lang"),
        (element_at(col("ps"), 1) * 2.5 - element_at(col("ps"), 2) * 1.5)
          .as("lo_fence"),
        (element_at(col("ps"), 2) * 2.5 - element_at(col("ps"), 1) * 1.5)
          .as("hi_fence"))
    d.join(broadcast(fences), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        least(greatest(col("n_chars").cast("double"), col("lo_fence")),
          col("hi_fence")).as("clamped"),
        when(col("n_chars").cast("double") < col("lo_fence")
          || col("n_chars").cast("double") > col("hi_fence"), 1L)
          .otherwise(0L).as("was_clamped"))
      .orderBy("doc_id")
  }

  /** Median-absolute-deviation outliers — the robust twin of
    * q_outlier's z-score gate: MAD is immune to the very outliers it
    * hunts (one 10 MB blob inflates a stratum's stddev enough to
    * hide itself; it moves the median of deviations not at all).
    * Flags documents with |n_chars − median| > 3·MAD within their
    * language stratum.
    *
    * Engine-exactness: medians of BIGINTs are exact halves and
    * medians of the integer deviations dev2 = |2·x − 2·median| are
    * exact halves of halves — every value is a multiple of 2⁻²,
    * exactly representable, so doubling them back to BIGINT is exact
    * and the outlier decision 2·dev2 > 3·mad4 is taken in pure
    * integer arithmetic (q_outlier discipline: a flag must never
    * straddle a float boundary).
    *
    * Scale shape: two per-language hash aggregates (median, then
    * median of deviations — both broadcast-size results) and two
    * map-side joins back. Exact medians buffer per-group values; the
    * 100 TB swap is approx_percentile, downstream unchanged.
    */
  def q_anomaly_mad(s: SparkSession, dir: String): DataFrame = {
    val d = t(s, dir, "documents")
    // med2 = 2·median(n_chars): integer-exact (median is a multiple of ½)
    val med = d.groupBy("lang")
      .agg((expr("percentile(n_chars, 0.5)") * 2).cast("long").as("med2"))
    val dev = d.join(broadcast(med), Seq("lang"))
      .withColumn("dev2", abs(col("n_chars") * 2 - col("med2")))
    // mad4 = 4·MAD = 2·median(dev2): again integer-exact
    val mad = dev.groupBy("lang")
      .agg((expr("percentile(dev2, 0.5)") * 2).cast("long").as("mad4"),
        first(col("med2")).as("med2"))
    d.join(broadcast(mad), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("n_chars"),
        (col("med2").cast("double") / 2).as("med"),
        (col("mad4").cast("double") / 4).as("mad"),
        when(abs(col("n_chars") * 2 - col("med2")) * 2 > col("mad4") * 3, 1L)
          .otherwise(0L).as("is_outlier"))
      .orderBy("doc_id")
  }

  /** BPE-trainer pair statistics — the inner loop of byte-pair /
    * word-pair tokenizer training is "count all adjacent symbol
    * pairs, take the most frequent": the top-k adjacent token
    * bigrams over the corpus with their occurrence counts
    * (overlapping occurrences all count, per the BPE convention).
    *
    * Scale shape: the pair explode is a map-side transform over the
    * staged token arrays (one tokenization per row, the CSE-staging
    * rule from the sf1.0 pass), then ONE partial-combining hash
    * aggregate whose key space is the bigram vocabulary — bounded by
    * corpus content, not corpus size — and a TakeOrderedAndProject
    * top-k. No window, no self-join. The merge-application half of
    * the trainer step is [[applyBpeMerge]] (spec-checked: greedy
    * left-to-right fold, the part SQL can't express portably).
    */
  def q_bpe_pairs(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(TextFns.tokens(col("text")).as("toks"))
      // explicit size guard: sequence(0, -1) runs DOWNWARD in Spark,
      // so an unguarded transform would index out of bounds on
      // zero/one-token documents
      .select(explode(when(size(col("toks")) >= 2, expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
        .otherwise(expr("cast(array() as array<string>)")))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(20)

  /** Bigram language-model scoring with add-one smoothing — the
    * sequence-aware upgrade of [[q_lm_score]]'s unigram perplexity
    * filter (CCNet-style: a real deployment scores against a clean
    * reference LM; the dataflow is identical with the count tables
    * as staged side inputs). Per doc: mean over adjacent token pairs
    * of −ln P(b|a), P = (c(ab)+1)/(c(a)+V).
    *
    * Engine-exactness: each position's contribution
    * ln(c(a)+V) − ln(c(ab)+1) is rounded to 6dp and cast to
    * DECIMAL(18,6) before the per-doc sum (the BM25 discipline —
    * decimal sums are order-independent where raw double sums depend
    * on partitioning).
    *
    * Scale shape: bigram/unigram count tables aggregate with map-side
    * partials to vocabulary-bounded sizes; the per-position joins
    * shuffle on the token keys; V rides as an in-plan 1-row
    * broadcast. Documents with <2 tokens have no bigrams and emit no
    * row (same as the oracle's inner grouping).
    */
  def q_lm_bigram(s: SparkSession, dir: String): DataFrame = {
    val dp = cached(t(s, dir, "documents")
      .select(col("doc_id"), TextFns.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(when(size(col("toks")) >= 2, expr(
        "transform(sequence(0, size(toks) - 2), i -> struct(toks[i] as a, toks[i + 1] as b))"))
        .otherwise(expr("cast(array() as array<struct<a:string,b:string>>)")))
        .as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b")))
    val cb = dp.groupBy("a", "b").agg(count(lit(1)).as("cb"))
    val cu = docTokens(s, dir).groupBy(col("tok").as("a"))
      .agg(count(lit(1)).as("cu"))
    val v = broadcast(docTokens(s, dir)
      .agg(count_distinct(col("tok")).as("__v")))
    dp.join(cb, Seq("a", "b"))
      .join(cu, Seq("a"))
      .crossJoin(v)
      .select(col("doc_id"),
        round(log(col("cu") + col("__v")) - log(col("cb") + 1), 6)
          .cast("decimal(18,6)").as("c"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_big"),
        round(sum(col("c")).cast("double") / count(lit(1)), 4)
          .as("nll_bigram"))
      .orderBy("doc_id")
  }

  /** Fuzzy dictionary join via SymSpell deletion-neighborhood
    * blocking — the scalable entity-resolution / spell-correction
    * shape: match a dictionary of corrupted terms against the corpus
    * vocabulary within edit distance 1 WITHOUT an all-pairs distance
    * computation. Two strings are within edit distance 1 only if
    * their 1-deletion neighborhoods (the string plus every
    * single-character deletion) intersect, so the candidate set is
    * an equi-join on exploded variants — fan-out is (len+1) per term,
    * linear in the vocabulary — followed by an exact levenshtein
    * verify that discards the blocking stage's false positives
    * (distance-2 pairs CAN share a deletion variant: "ab" and "ba"
    * both generate "a" and "b", yet levenshtein("ab","ba") = 2 — the
    * verify is load-bearing, not belt-and-braces).
    *
    * The "dictionary" is manufactured deterministically from the
    * corpus itself (md5-selected vocabulary terms with the 2nd
    * character dropped), so both engines derive the identical
    * fixture — the dataflow is what's declared, a production run
    * swaps in a real lookup table.
    */
  def q_fuzzy_join(s: SparkSession, dir: String): DataFrame = {
    val vocab = docTokens(s, dir).select("tok").distinct()
    val dict = vocab
      .filter(length(col("tok")) >= 4 &&
        substring(md5(concat(lit("dict:"), col("tok"))), 1, 2) < "80")
      .select(concat(substring(col("tok"), 1, 1), expr("substr(tok, 3)"))
        .as("term"))
      .distinct()
    fuzzyJoin(dict, vocab).orderBy("term", "tok")
  }

  /** The reusable half of [[q_fuzzy_join]]: `dict("term")` matched
    * against `vocab("tok")` within edit distance 1 via the deletion-
    * neighborhood equi-join + exact verify. Unordered (callers
    * declare their own sort).
    */
  private[graft] def fuzzyJoin(dict: DataFrame, vocab: DataFrame): DataFrame = {
    def variants(c: String): Column = expr(
      s"concat(array($c), transform(sequence(1, length($c)), " +
        s"i -> concat(substr($c, 1, i - 1), substr($c, i + 1))))")
    val dv = dict.select(col("term"),
      explode(variants("term")).as("v")).distinct()
    val vv = vocab.select(col("tok"),
      explode(variants("tok")).as("v")).distinct()
    dv.join(vv, "v")
      .select(col("term"), col("tok")).distinct()
      .select(col("term"), col("tok"),
        levenshtein(col("term"), col("tok")).cast("long").as("dist"))
      .filter(col("dist") <= 1)
  }

  /** Hashing-trick featurization audit (Weinberger et al. 2009): every
    * token maps to one of 16 buckets by its first md5 nibble with a
    * ±1 sign from the second nibble's parity — the signed feature
    * hashing ML pipelines use when the vocabulary is unbounded. The
    * report shows, per bucket, total token mass, distinct terms and
    * docs landing there, and the signed mass (whose cancellation is
    * the point of the sign bit: collisions add noise, not bias).
    * All-integer, engine-neutral (md5 nibbles, no float hash).
    *
    * Scale shape: map-side projection + ONE 16-group aggregate; the
    * distinct counts shuffle on (bucket, term)/(bucket, doc) — both
    * bounded by vocabulary/corpus cardinality, never quadratic.
    */
  def q_feature_hash(s: SparkSession, dir: String): DataFrame = {
    val evenNibbles = Seq("0", "2", "4", "6", "8", "a", "c", "e")
    def bucketOf(tok: org.apache.spark.sql.Column) =
      substring(md5(concat(lit("fh:"), tok)), 1, 1)
    def signOf(tok: org.apache.spark.sql.Column) =
      when(substring(md5(concat(lit("fh:"), tok)), 2, 1)
        .isin(evenNibbles: _*), lit(1L)).otherwise(lit(-1L))
    // token/term/sign stats from the VOCABULARY-sized per-term
    // aggregate (one shuffle on tok), doc counts from the cached
    // distinct (doc, tok) frame deduped to (doc, bucket) — a single
    // multi-countDistinct here would Expand the full token stream ×2
    val termStats = docTokens(s, dir)
      .groupBy("tok").agg(count(lit(1)).as("tf"))
      .select(bucketOf(col("tok")).as("bucket"),
        col("tf"), signOf(col("tok")).as("sign"))
      .groupBy("bucket")
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(col("sign") * col("tf")).as("signed_mass"))
    val docStats = docTokensDistinct(s, dir)
      .select(col("doc_id"), bucketOf(col("tok")).as("bucket"))
      .distinct()
      .groupBy("bucket").agg(count(lit(1)).as("n_docs"))
    termStats.join(docStats, Seq("bucket"))
      .select(col("bucket"), col("n_tokens"), col("n_terms"),
        col("n_docs"), col("signed_mass"))
      .orderBy("bucket")
  }

  /** Blocked fuzzy-name matching on the custom codegen'd
    * [[graft.functions.JaroWinkler]] expression (§2.9: Spark has no
    * built-in Jaro-Winkler; the Expression is DuckDB-bit-exact, so
    * the oracle is DuckDB's own `jaro_winkler_similarity`) — the
    * entity-resolution companion to [[q_fuzzy_join]]'s edit-distance
    * dictionary join: candidate pairs come from first-character
    * blocking over the DISTINCT name vocabulary, scored pairs keep
    * jw ≥ 0.5, top-50. The similarity join is quadratic only within
    * a block of the name VOCABULARY (bounded by name cardinality,
    * not corpus rows); a 100 TB deployment swaps the block key for
    * q_fuzzy_join's deletion neighborhoods or length+prefix bands to
    * tighten candidate sets — the scoring expression is the same.
    */
  def q_name_match(s: SparkSession, dir: String): DataFrame = {
    val names = t(s, dir, "part").select(col("p_name")).distinct()
    val a = names.select(col("p_name").as("name_a"),
      substring(col("p_name"), 1, 1).as("blk"))
    val b = names.select(col("p_name").as("name_b"),
      substring(col("p_name"), 1, 1).as("blk"))
    a.join(b, Seq("blk"))
      .filter(col("name_a") < col("name_b"))
      .select(col("name_a"), col("name_b"),
        round(graft.functions.JaroWinkler(col("name_a"), col("name_b")), 4)
          .as("jw"))
      .filter(col("jw") >= 0.5)
      .orderBy(col("jw").desc, col("name_a"), col("name_b"))
      .limit(50)
  }

  /** Readability scoring (Flesch reading ease, Kincaid 1975) — the
    * classic document-difficulty signal corpus curation uses next to
    * the Gopher rules: 206.835 − 1.015·(words/sentences) −
    * 84.6·(syllables/word). Sentences are [.!?]+ runs (floored at 1
    * so punctuation-free docs — this fixture — degrade to one
    * sentence, not a division by zero); syllables use the standard
    * dependency-free heuristic of counting [aeiouy]+ vowel groups.
    * All three counters are regexp counts over the raw text, the
    * formula is one fixed-shape double expression of exact BIGINTs
    * (identical IEEE evaluation both engines), rounded for display.
    *
    * Scale shape: pure map-only scan — zero shuffle beyond the
    * declared output sort at any corpus size.
    */
  def q_readability(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"),
        TextFns.tokenCount(col("text")).cast("long").as("n_words"),
        size(regexp_extract_all(col("text"), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("n_syll"),
        greatest(
          size(regexp_extract_all(col("text"), lit("[.!?]+"), lit(0))),
          lit(1)).cast("long").as("n_sent"))
      .filter(col("n_words") > 0)
      .select(col("doc_id"), col("n_words"), col("n_syll"), col("n_sent"),
        round(lit(206.835)
          - lit(1.015) * (col("n_words").cast("double")
            / col("n_sent").cast("double"))
          - lit(84.6) * (col("n_syll").cast("double")
            / col("n_words").cast("double")), 4).as("flesch"))
      .orderBy("doc_id")

  /** Vocabulary coverage / OOV-rate report — the tokenizer-design
    * metric: fix the vocabulary at the corpus's top-100 tokens by
    * total frequency (ties broken by token string, so the vocab is
    * deterministic), then measure per-document how many token
    * occurrences fall outside it. High OOV documents are exactly the
    * ones a subword tokenizer will fragment.
    *
    * Scale shape: reuses the cached corpus token frame (tokenize
    * once); the vocab is a bounded top-k of a hash aggregate
    * (TakeOrdered over |vocab| candidates, never corpus-sized) and
    * rejoins as a broadcast left-semi mark. One aggregate back to
    * per-doc rows; no shuffle scales with anything but |docs|.
    */
  def q_vocab_coverage(s: SparkSession, dir: String): DataFrame = {
    val vocab = docTokens(s, dir)
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("tok"))
      .limit(100)
      .select(col("tok"), lit(1).as("in_vocab"))
    docTokens(s, dir)
      .join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      .select(col("doc_id"), col("n_tok"), col("n_oov"),
        round(col("n_oov").cast("double")
          / col("n_tok").cast("double"), 4).as("oov_rate"))
      .orderBy("doc_id")
  }

  /** One greedy BPE merge application over a token array: every
    * leftmost non-overlapping occurrence of the adjacent pair (a, b)
    * is replaced by the concatenated symbol a+b, in one left-to-right
    * pass (after [a,b] merges, the result cannot immediately re-merge
    * with the next token — [a,a,a] with pair (a,a) yields [aa,a],
    * the BPE convention). Pure fold via the codegen'd aggregate()
    * HOF, so the merge runs map-side with zero shuffle; a full
    * trainer iterates q_bpe_pairs → applyBpeMerge, each round one
    * aggregate + one map pass over the corpus.
    *
    * Spec-checked (TextOpsSpec) against an independent Scala fold —
    * greedy left-to-right replacement is not portably expressible in
    * ANSI SQL, so this is a spec'd component, not an oracle query
    * (same declaration rule as the sketch families).
    */
  def applyBpeMerge(toks: Column, a: String, b: String): Column =
    aggregate(
      toks,
      array().cast("array<string>"),
      (acc, t) =>
        // the tail test only ever matches an UNMERGED a: right after
        // a merge the accumulated tail is a+b, which can't equal a
        // (tokens are non-empty by TextFns.tokens). get() is 0-based
        // and null-safe on the empty accumulator (element_at(-1)
        // raises under ANSI mode).
        when(
          get(acc, size(acc) - 1) === lit(a) && t === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
          .otherwise(concat(acc, array(t))))

  /** Merge rounds trained by [[q_bpe_train]] — shared verbatim with
    * the oracle (the unrolled-CTE round count).
    */
  private[graft] val bpeTrainMerges = 8

  /** L11: the full CHAR-level BPE TRAINER — [[bpeTrainMerges]] greedy
    * merge rounds over the word-frequency table, each round = count
    * every adjacent symbol pair (weighted by word frequency,
    * overlapping occurrences included — the standard trainer
    * objective), pick the argmax (ties: count desc, pair asc), apply
    * it to every word's segmentation, and report the learned merge
    * plus the corpus symbol count after it (the compression-progress
    * readout). Output: one row per merge.
    *
    * Merge application is the PORTABLE two-pass convention: symbols
    * are space-delimited with sentinel padding, and `replace(seg,
    * " a b ", " ab ")` applied TWICE is simultaneous non-overlapping
    * matching — both engines implement `replace` as the identical
    * leftmost non-overlapping scan, pass 1 can strand at most one
    * un-merged occurrence per scan gap (the consumed shared
    * delimiter), pass 2 clears exactly those (replacements never
    * create a new occurrence of the same pair), so two passes
    * provably reach the fixpoint. This differs from Sennrich's
    * sequential-greedy only in how odd runs of the pair tie-break
    * ([[applyBpeMerge]] stays the spec'd greedy token-level
    * component); the convention is DECLARED and the DuckDB twin pins
    * it rows+schema+hash.
    *
    * Scale shape — why this trains on 100 TB: the corpus collapses
    * to the distinct-word frequency table in ONE partial-combining
    * aggregate (vocabulary-sized, corpus-size-independent — the
    * classic trainer input); each round is one pair-count aggregate
    * over that bounded frame, a 1-row argmax broadcast, and a
    * map-side double replace; rounds are lineage-truncated via
    * [[Checkpoints.ckpt]] (the q_mmr discipline).
    */
  /** Per-(session, dir) memo of the trained BPE frames: q_bpe_train
    * and q_bpe_encode both invoke the trainer, and the per-round
    * checkpoints mint fresh LogicalRDDs each invocation, so
    * CacheManager plan-dedup (which shares docTokens etc. across
    * queries) can never unify the two training runs — the 8 greedy
    * rounds ran TWICE per session. Same within-session sharing the
    * graph substrate uses; entries evict with the owning context.
    */
  private val bpeMemo = new SessionMemo[String, (DataFrame, DataFrame)]

  private[graft] def bpeTrain(s: SparkSession, dir: String)
    : (DataFrame, DataFrame) =
    bpeMemo.get(s, dir)(bpeTrainImpl(s, dir))

  private def bpeTrainImpl(s: SparkSession, dir: String)
    : (DataFrame, DataFrame) = {
    val words0 = docTokens(s, dir).groupBy("tok")
      .agg(count(lit(1)).as("wc"))
      .select(col("tok"), col("wc"),
        concat(lit(" "), array_join(split(col("tok"), ""), " "), lit(" "))
          .as("seg"))
    var cur = Checkpoints.ckpt(words0)
    var out: DataFrame = null
    for (step <- 1 to bpeTrainMerges) {
      val arrd = cur.select(col("wc"), split(trim(col("seg")), " ").as("arr"))
      val pairs = arrd.select(col("wc"),
        explode(when(size(col("arr")) >= 2,
          expr("transform(sequence(0, size(arr) - 2), " +
            "i -> concat(arr[i], ' ', arr[i + 1]))"))
          .otherwise(expr("cast(array() as array<string>)"))).as("pair"))
        .groupBy("pair").agg(sum(col("wc")).as("cnt"))
      val best = Checkpoints.ckpt(
        pairs.orderBy(col("cnt").desc, col("pair")).limit(1)
          .select(col("pair"),
            replace(col("pair"), lit(" "), lit("")).as("merged"),
            col("cnt")))
      val pat = concat(lit(" "), col("pair"), lit(" "))
      val rep = concat(lit(" "), col("merged"), lit(" "))
      cur = Checkpoints.ckpt(cur.crossJoin(broadcast(best))
        .select(col("tok"), col("wc"),
          replace(replace(col("seg"), pat, rep), pat, rep).as("seg")))
      val stat = cur.agg(
        sum(col("wc") * size(split(trim(col("seg")), " ")))
          .as("symbols_after"))
      val row = best.crossJoin(broadcast(stat))
        .select(lit(step.toLong).as("step"), col("pair"), col("merged"),
          col("cnt"), col("symbols_after"))
      out = if (out == null) row else out.unionAll(row)
    }
    (cur, out)
  }

  def q_bpe_train(s: SparkSession, dir: String): DataFrame =
    bpeTrain(s, dir)._2.orderBy("step")

  /** L11: BPE ENCODE — the consumer half of [[q_bpe_train]]: every
    * document re-tokenized with the [[bpeTrainMerges]] learned
    * merges, reporting words vs emitted subword symbols per doc (the
    * budget every sequence-packing stage actually needs). The corpus
    * joins the final vocabulary-sized (token → segmentation) frame
    * on the token key — broadcastable at any corpus size since the
    * vocabulary, not the corpus, bounds it — then one hash
    * aggregate per doc. Integer-only output (no float rounding
    * surface at all).
    */
  def q_bpe_encode(s: SparkSession, dir: String): DataFrame = {
    val segs = bpeTrain(s, dir)._1
      .select(col("tok"),
        size(split(trim(col("seg")), " ")).cast("long").as("n_sym"))
    docTokens(s, dir).join(segs, Seq("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tok"), sum(col("n_sym")).as("n_symbols"))
      .orderBy("doc_id")
  }

  /** Jaccard thresholds for [[q_dedup_eval_sweep]], as exact
    * fractions (label, p, q) with the gate J ≥ p/q decided by the
    * integer compare (p+q)·inter ≥ p·(na+nb). Shared verbatim with
    * the oracle.
    */
  private[graft] val dedupEvalTaus =
    Seq(("1/3", 1, 3), ("1/2", 1, 2), ("2/3", 2, 3))

  /** Dedup-quality evaluation as a CURVE — [[q_dedup_eval]] pins one
    * operating point (τ = 1/2); this sweeps three exact-fraction
    * Jaccard thresholds against the SAME fixed LSH candidate set, so
    * an operator reads how precision/recall trade as the notion of
    * "true duplicate" tightens (the ANN-sweep discipline applied to
    * the dedup family). Every threshold decision is the integer
    * compare (p+q)·inter ≥ p·(na+nb) — no float can straddle
    * engines. One unthresholded truth-base computation (pair
    * intersections + sizes, cached) feeds all three rows; candidates
    * and panel are the shared cached frames.
    */
  def q_dedup_eval_sweep(s: SparkSession, dir: String): DataFrame = {
    val panel = cached(t(s, dir, "documents")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2)
        < dedupEvalPanelHex)
      .select("doc_id"))
    val sh = docShingles(s, dir).join(panel, "doc_id")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val base = cached(
      sh.select(col("doc_id").as("a_id"), col("shingle"))
        .join(sh.select(col("doc_id").as("b_id"), col("shingle")),
          Seq("shingle"))
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")),
          Seq("a_id"))
        .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")),
          Seq("b_id")))
    val cand = cached(minhashCandidatePairs(s, dir)
      .join(panel.select(col("doc_id").as("a_id")), Seq("a_id"))
      .join(panel.select(col("doc_id").as("b_id")), Seq("b_id")))
    val rows = dedupEvalTaus.map { case (label, p, q) =>
      val truth = base
        .filter(lit(p + q) * col("inter") >= lit(p) * (col("na") + col("nb")))
        .select("a_id", "b_id")
      truth.withColumn("t", lit(1))
        .join(cand.withColumn("c", lit(1)), Seq("a_id", "b_id"),
          "full_outer")
        .select(coalesce(col("t"), lit(0)).as("t"),
          coalesce(col("c"), lit(0)).as("c"))
        .agg(coalesce(sum(col("t")), lit(0)).cast("long").as("n_truth"),
          coalesce(sum(col("c")), lit(0)).cast("long").as("n_cand"),
          coalesce(sum(col("t") * col("c")), lit(0)).cast("long").as("tp"))
        .select(lit(label).as("tau"), col("n_truth"), col("n_cand"),
          col("tp"),
          when(col("n_cand") === 0, lit(0.0))
            .otherwise(round(col("tp").cast("double")
              / col("n_cand").cast("double"), 4)).as("precision_tau"),
          when(col("n_truth") === 0, lit(0.0))
            .otherwise(round(col("tp").cast("double")
              / col("n_truth").cast("double"), 4)).as("recall_tau"))
    }
    rows.reduce(_ unionAll _).orderBy("tau")
  }

  /** Corpus coverage curve — the marginal-utility readout behind
    * every "is more of this source worth ingesting" call: documents
    * bucket into ten equal-population deciles by doc_id order, and
    * each decile reports the NEW distinct shingles it contributes
    * (a shingle counts exactly once, at its min-doc_id first
    * appearance) plus the cumulative coverage share. A flattening
    * curve = the source is exhausted; near-linear = still novel.
    *
    * Scale shape: deciles come from [[ScalableRank.withNtile]]
    * (range-partitioned, bit-identical to window ntile — never a
    * single global sort); first-appearance is one min-aggregate over
    * the SHARED cached (doc, shingle) frame; everything after runs on
    * the 10-row decile frame. The cumulative share's 4-dp half-up
    * round is integer division (the q_target_encode discipline).
    */
  def q_coverage_curve(s: SparkSession, dir: String): DataFrame = {
    val docs = t(s, dir, "documents").select(col("doc_id"))
      .withColumn("g", lit(1))
    // partition count from the session conf, not a local constant
    // (ntile output is exact and partition-count-invariant)
    val dec = ScalableRank.withNtile(docs,
      graft.Session.shufflePartitions(s), "g",
      Seq("doc_id"), 10,
      "decile").select(col("doc_id"), col("decile"))
    val firstDoc = docShingles(s, dir)
      .groupBy("shingle").agg(min(col("doc_id")).as("doc_id"))
    val perDec = firstDoc.join(dec, "doc_id")
      .groupBy("decile").agg(count(lit(1)).as("new_shingles"))
    val docsPer = dec.groupBy("decile").agg(count(lit(1)).as("n_docs"))
    val tot = broadcast(perDec.agg(sum(col("new_shingles")).as("tot")))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docsPer.join(perDec, Seq("decile"), "left")
      .withColumn("new_shingles", coalesce(col("new_shingles"), lit(0L)))
      .withColumn("cum_shingles", sum(col("new_shingles")).over(w))
      .crossJoin(tot)
      // DECIMAL(38,0) guards the ×10⁴ against long overflow at
      // extreme shingle universes (the q_lorenz sf100 lesson)
      .select(col("decile"), col("n_docs"), col("new_shingles"),
        col("cum_shingles"),
        (expr("CAST((2 * CAST(cum_shingles AS DECIMAL(38,0)) * 10000 " +
          "+ tot) div (2 * CAST(tot AS DECIMAL(38,0))) AS DOUBLE)") / 10000)
          .as("cum_share"))
      .orderBy("decile")
  }

  /** PII audit report — the compliance-side twin of q_redact: per
    * source, how many documents carry emails / long digit runs, and
    * the total occurrence counts, using the SAME two patterns
    * q_redact replaces (one definition of "PII" across the scrub and
    * the audit, so the report provably describes what the scrubber
    * would touch). A training-data pipeline runs this BEFORE
    * deciding to redact-vs-drop, and again after, expecting zeros.
    *
    * Shape: map-only `regexp_extract_all` counts + one
    * partial-combining aggregate over the handful of sources —
    * linear scan, no shuffle beyond the k-row aggregate.
    */
  def q_pii_scan(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .select(col("source"),
        size(regexp_extract_all(col("text"), lit(piiEmailRe), lit(0)))
          .cast("long").as("n_email"),
        size(regexp_extract_all(col("text"), lit(piiNumRe), lit(0)))
          .cast("long").as("n_num"))
    counts.groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum((col("n_email") > 0).cast("long")).as("docs_with_email"),
        sum((col("n_num") > 0).cast("long")).as("docs_with_number"),
        sum(col("n_email")).as("email_hits"),
        sum(col("n_num")).as("number_hits"))
      .select(col("source"), col("n_docs"), col("docs_with_email"),
        col("docs_with_number"), col("email_hits"), col("number_hits"),
        round(col("docs_with_email").cast("double")
          / col("n_docs").cast("double") * 100, 4).as("pct_email"),
        round(col("docs_with_number").cast("double")
          / col("n_docs").cast("double") * 100, 4).as("pct_number"))
      .orderBy("source")
  }

  /** Shared verbatim with q_redact above and the q_pii_scan oracle. */
  private[graft] val piiEmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private[graft] val piiNumRe = "[0-9]{7,}"

  /** Dedup-quality evaluation — the measurement harness every
    * production dedup pass needs: precision and recall of the
    * MinHash-LSH candidate set against EXACT shingle-Jaccard ground
    * truth at τ = 1/2, computed on a deterministic md5 panel (1/16 of
    * docs — the q_sample_hash discipline, so the panel is stable
    * across engines, re-runs and replicas).
    *
    * The threshold is INTEGER-EXACT: J ≥ 1/2 ⟺ 3·inter ≥ na + nb —
    * no float comparison can straddle engines. Ground truth uses the
    * UNCAPPED inverted index on the panel (any pair with J ≥ τ > 0
    * shares a shingle, so the index finds every true pair; the panel
    * keeps df bounded where the corpus-wide pass needs the df cap).
    * Candidates are the SAME cached band rows q_dedup_minhash
    * declares, both ends restricted to the panel. One full-outer
    * join + one aggregate turns the two pair sets into
    * tp/fp/fn/precision/recall — no collect, no driver-side sets.
    *
    * Scale shape: panel pair work is (corpus/16) shingles through
    * one equi-join; the LSH side reuses the corpus band index. At
    * 100 TB the panel fraction is the dial — evaluation cost scales
    * with the panel, not the corpus.
    */
  def q_dedup_eval(s: SparkSession, dir: String): DataFrame = {
    val panel = cached(t(s, dir, "documents")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2)
        < dedupEvalPanelHex)
      .select("doc_id"))
    val sh = docShingles(s, dir).join(panel, "doc_id")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val truth = cached(
      sh.select(col("doc_id").as("a_id"), col("shingle"))
        .join(sh.select(col("doc_id").as("b_id"), col("shingle")),
          Seq("shingle"))
        .filter(col("a_id") < col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
        .join(sizes.select(col("doc_id").as("a_id"), col("n").as("na")),
          Seq("a_id"))
        .join(sizes.select(col("doc_id").as("b_id"), col("n").as("nb")),
          Seq("b_id"))
        .filter(lit(3) * col("inter") >= col("na") + col("nb"))
        .select("a_id", "b_id"))
    val cand = minhashCandidatePairs(s, dir)
      .join(panel.select(col("doc_id").as("a_id")), Seq("a_id"))
      .join(panel.select(col("doc_id").as("b_id")), Seq("b_id"))
    val j = truth.withColumn("t", lit(1))
      .join(cand.withColumn("c", lit(1)), Seq("a_id", "b_id"),
        "full_outer")
      .select(coalesce(col("t"), lit(0)).as("t"),
        coalesce(col("c"), lit(0)).as("c"))
    // coalesce: over an EMPTY pair universe sum() is NULL — the
    // report must read 0, not null (both engines share the rule)
    j.agg(coalesce(sum(col("t")), lit(0)).cast("long").as("n_truth"),
      coalesce(sum(col("c")), lit(0)).cast("long").as("n_cand"),
      coalesce(sum(col("t") * col("c")), lit(0)).cast("long").as("tp"),
      coalesce(sum(col("c") * (lit(1) - col("t"))), lit(0))
        .cast("long").as("fp"),
      coalesce(sum(col("t") * (lit(1) - col("c"))), lit(0))
        .cast("long").as("fn"))
      .select(col("n_truth"), col("n_cand"), col("tp"), col("fp"),
        col("fn"),
        when(col("n_cand") === 0, lit(0.0))
          .otherwise(round(col("tp").cast("double")
            / col("n_cand").cast("double"), 4)).as("precision_tau"),
        when(col("n_truth") === 0, lit(0.0))
          .otherwise(round(col("tp").cast("double")
            / col("n_truth").cast("double"), 4)).as("recall_tau"))
  }

  /** End-to-end entity resolution — the composition every record-
    * linkage pipeline runs: blocked fuzzy matching (the SymSpell
    * deletion-neighborhood join, q_fuzzy_join's engine) closed into
    * connected components (the SHARED pointer-jumping loop behind
    * q_dedup_cluster), each surface form canonicalized to its
    * component's lexicographic min with the member count alongside.
    * Self-matches (distance 0, term = tok) are dropped — an entity
    * needs at least one genuine variant pair.
    *
    * Scale shape: match fan-out is (len+1) per vocabulary term
    * (never all-pairs); the component loop runs on the MATCH graph —
    * vocabulary-bounded, not corpus-bounded.
    */
  def q_entity_resolve(s: SparkSession, dir: String): DataFrame = {
    val vocab = docTokens(s, dir).select("tok").distinct()
    val dict = vocab
      .filter(length(col("tok")) >= 4 &&
        substring(md5(concat(lit("dict:"), col("tok"))), 1, 2) < "80")
      .select(concat(substring(col("tok"), 1, 1), expr("substr(tok, 3)"))
        .as("term"))
      .distinct()
    val matches = fuzzyJoin(dict, vocab)
      .filter(col("term") =!= col("tok"))
      .select(col("term"), col("tok"))
    val labels = connectedComponents(matches)
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n_members"))
    labels.join(sizes, Seq("label"))
      .select(col("label").as("entity_id"), col("id").as("member"),
        col("n_members"))
      .orderBy("entity_id", "member")
  }

  /** Dedup-cluster size report — the operational readout of
    * q_dedup_cluster: how many clusters exist at each size, and how
    * many documents sit in each size class (n_docs = size ×
    * n_clusters, the self-checksum). The histogram a dedup pass
    * publishes so a reviewer sees the dedup RATE at a glance
    * (singletons = untouched docs; the tail row = the biggest
    * near-dup family). Cost beyond the component loop itself: two
    * k-row hash aggregates.
    */
  def q_cluster_stats(s: SparkSession, dir: String): DataFrame =
    q_dedup_cluster(s, dir)
      .groupBy("cluster_id").agg(count(lit(1)).as("csize"))
      .groupBy("csize")
      .agg(count(lit(1)).as("n_clusters"),
        sum(col("csize")).as("n_docs"))
      .orderBy("csize")

  /** Panel fraction: md5 2-hex-prefix < '40' = 1/4 of documents —
    * wide enough that the panel contains near-dup PAIRS (both ends
    * must land in it: a 1/16 panel keeps only 1/256 of pairs and was
    * measured empty at sf0.01). Shared verbatim with the oracle.
    */
  private[graft] val dedupEvalPanelHex = "40"

  // ── corpus diversity: distinct-n (L33) ─────────────────────────────

  /** Distinct-n corpus diversity report: for n ∈ {1,2,3}, total
    * n-gram occurrences, distinct n-grams, and the distinct/total
    * ratio — the "distinct-n" metric used to audit generated or
    * synthetic corpora for mode collapse (a distilled corpus whose
    * distinct-2 ratio collapses is repeating itself, whatever its
    * per-doc quality scores say). Shape per n: gram counts first
    * (one hash aggregate, partial-combining map-side), then a 1-row
    * rollup of that frame — the two-step form deliberately avoids
    * `agg(count, countDistinct)`, whose Expand would double the
    * token stream (the q_feature_hash lesson). n = 1 reuses the
    * shared cached token frame; the corpus is scanned once per
    * remaining n with the codegen'd [[graft.functions.WordShingles]]
    * expression, and nothing but (gram, count) pairs ever shuffles.
    */
  def q_distinct_ngrams(s: SparkSession, dir: String): DataFrame = {
    def grams(n: Int): DataFrame = {
      val g =
        if (n == 1) docTokens(s, dir).select(col("tok").as("g"))
        else t(s, dir, "documents")
          .select(explode(TextFns.shingles(col("text"), n)).as("g"))
      g.groupBy("g").agg(count(lit(1)).as("c"))
        .agg(sum(col("c")).as("total_grams"),
          count(lit(1)).as("distinct_grams"))
        .select(lit(n).cast("long").as("n"), col("total_grams"),
          col("distinct_grams"),
          round(col("distinct_grams").cast("double") /
            col("total_grams"), 6).as("distinct_ratio"))
    }
    grams(1).union(grams(2)).union(grams(3)).orderBy("n")
  }

  // ── data-mixture audit: per-source KL divergence (L34) ─────────────

  /** Per-source unigram KL divergence to the corpus mixture:
    * KL(P_source ‖ P_corpus) = Σ_t p·ln(p/q) with p = c_st/T_s and
    * q = c_t/T — the standard "how far does this source's token
    * distribution sit from the blend" readout used to weight or flag
    * sources when composing a training mixture (a source with high
    * KL dominates its own niche; KL → 0 means it looks like the
    * blend). No smoothing is needed: every term in a source has
    * c_t ≥ c_st > 0, so q > 0 wherever p > 0. Cross-engine
    * exactness: each term's double contribution is rounded to
    * DECIMAL(18,6) before the per-source sum (the q_bm25
    * discipline), so summation order cannot drift the result.
    * Scale shape: the token stream collapses to per-(doc, tok)
    * counts BEFORE joining document metadata (the join carries the
    * compact tf frame, not raw tokens), the (source, tok) frame is
    * cached and re-aggregated for both marginals (no second corpus
    * scan), and the per-source totals / corpus total are
    * broadcast-joined k-row/1-row frames.
    */
  /** (source, tok, c) token counts at the source grain — the shared
    * substrate of q_kl_mixture (distribution distance) and
    * q_topic_terms (distinctive vocabulary): the token stream
    * collapses to per-(doc, tok) counts BEFORE the metadata join, and
    * the cached frame gives both consumers one materialization.
    */
  private def sourceTermCounts(s: SparkSession, dir: String): DataFrame = {
    val tf = docTokens(s, dir).groupBy("doc_id", "tok")
      .agg(count(lit(1)).as("c"))
    val meta = t(s, dir, "documents").select(col("doc_id"), col("source"))
    cached(tf.join(meta, "doc_id")
      .groupBy("source", "tok").agg(sum(col("c")).as("c")))
  }

  def q_kl_mixture(s: SparkSession, dir: String): DataFrame = {
    val st = sourceTermCounts(s, dir)
    val srcTot = st.groupBy("source").agg(sum(col("c")).as("ts"))
    val ctok = st.groupBy("tok").agg(sum(col("c")).as("ct"))
    val tot = ctok.agg(sum(col("ct")).as("tt"))
    val p = col("c").cast("double") / col("ts")
    val q = col("ct").cast("double") / col("tt")
    st.join(ctok, "tok")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(tot))
      .select(col("source"),
        round(p * log(p / q), 6).cast("decimal(18,6)").as("term"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        round(sum(col("term")).cast("double"), 4).as("kl"))
      .orderBy("source")
  }

  // ── distinctive terms per source (L39) ─────────────────────────────

  /** Terms kept per source — shared verbatim with the oracle. */
  private[graft] val topicTermsK = 10

  /** Top-[[topicTermsK]] DISTINCTIVE terms per source by smoothed
    * log-odds ratio — the domain-signature readout (q_kl_mixture says
    * HOW FAR a source sits from the blend; this names the terms that
    * put it there): score = ln of the (+1-smoothed) odds of drawing
    * the term inside the source vs outside it.
    *
    * Exactness: the four odds factors are exact BIGINT counts cast to
    * double (exact below 2^53), so both engines feed ln() the
    * IDENTICAL double and the rounded score can only diverge if two
    * DIFFERENT count tuples land within an ulp of the same 6-dp
    * rounding boundary; ties (equal counts ⇒ equal scores) break by
    * term. Ranking is [[graft.functions.ScoredTopKAgg]] — bounded
    * k-pair state with map-side pruning, not a #sources-parallel
    * window sort; the oracle's row_number formulation independently
    * derives the same total order.
    */
  def q_topic_terms(s: SparkSession, dir: String): DataFrame = {
    val st = sourceTermCounts(s, dir)
    val srcTot = st.groupBy("source").agg(sum(col("c")).as("ts"))
    val ctok = st.groupBy("tok").agg(sum(col("c")).as("ct"))
    val tot = ctok.agg(sum(col("ct")).as("tt"))
    val cs = col("c")
    val co = col("ct") - cs
    val num = (cs + 1).cast("double") *
      ((col("tt") - col("ts")) - co + 1).cast("double")
    val topk = udaf(new graft.functions.ScoredTopKAgg(topicTermsK),
      Encoders.tuple(Encoders.scalaDouble, Encoders.STRING))
    st.join(ctok, "tok")
      .join(broadcast(srcTot), "source")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("tok"),
        round(log(num /
          ((col("ts") - cs + 1).cast("double") * (co + 1).cast("double"))),
          6).as("score"))
      .groupBy("source")
      .agg(topk(col("score"), col("tok")).as("top"))
      .select(col("source"), posexplode(col("top")).as(Seq("rk0", "p")))
      .select(col("source"), (col("rk0") + 1).cast("long").as("rk"),
        col("p._2").as("tok"), col("p._1").as("score"))
      .orderBy("source", "rk")
  }

  // ── source-pair overlap (L35) ──────────────────────────────────────

  /** Pairwise SOURCE-level shingle Jaccard — the corpus-overlap audit
    * for mixture planning: how much raw n-gram material two ingest
    * sources share (a high-overlap pair means their mixture weights
    * double-count the same text; q_kl_mixture answers the
    * distribution-distance version of the same question).
    *
    * Shape: distinct (source, shingle) — one linear shuffle — then a
    * self-join INVERTED BY SHINGLE, so per-shingle fan-out is bounded
    * by C(k,2) with k = #sources (a handful), never by corpus size;
    * per-source set sizes broadcast back onto the C(k,2)-row result.
    * At 100 TB the only growing cost is the distinct; a df-cap like
    * q_dedup_ngram's is unnecessary because k is small.
    */
  def q_source_overlap(s: SparkSession, dir: String): DataFrame = {
    val ss = cached(t(s, dir, "documents")
      .select(col("source"),
        // per-doc array_distinct cuts the exploded volume map-side;
        // the distinct() must stay — (source, shingle) dedup spans
        // documents within a source
        explode(array_distinct(TextFns.shingles(col("text"), 3)))
          .as("shingle"))
      .distinct())
    val sizes = ss.groupBy("source").agg(count(lit(1)).as("n"))
    val inter = ss.select(col("source").as("src_a"), col("shingle"))
      .join(ss.select(col("source").as("src_b"), col("shingle")),
        Seq("shingle"))
      .filter(col("src_a") < col("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("src_a"),
        col("n").as("na"))), Seq("src_a"))
      .join(broadcast(sizes.select(col("source").as("src_b"),
        col("n").as("nb"))), Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("inter"), col("na"),
        col("nb"),
        round(col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")), 4).as("jaccard"))
      .orderBy("src_a", "src_b")
  }

  // ── per-source duplication audit (L36) ─────────────────────────────

  /** Per-source duplication share: how much of each ingest source a
    * keep-min near-dup dedup would REMOVE — the per-source readout of
    * q_dedup_cluster (which labels docs) and q_cluster_stats (which
    * histograms cluster sizes). A source with a high removed share is
    * mostly re-crawled/mirrored material and its mixture weight
    * overstates its real contribution.
    *
    * A doc is removed iff its cluster label differs from its own id
    * (labels are min-member ids, so the representative keeps itself
    * and singletons never appear in the pair graph) — no cluster-size
    * join needed. Cost beyond the shared component labels: one
    * broadcast-scale join + one 5-row aggregate.
    */
  def q_dup_share(s: SparkSession, dir: String): DataFrame = {
    val labels = minhashComponents(s, dir)
    t(s, dir, "documents").select(col("doc_id"), col("source"))
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
        "left_outer")
      .select(col("source"),
        when(coalesce(col("label"), col("doc_id")) =!= col("doc_id"), 1L)
          .otherwise(0L).as("removed"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("removed")).as("n_removed"),
        (count(lit(1)) - sum(col("removed"))).as("n_keep"),
        round(sum(col("removed")).cast("double") / count(lit(1)), 4)
          .as("removed_share"))
      .orderBy("source")
  }

  /** Quality × duplication composition audit — the curation-policy
    * cross-tab "are the low-quality documents also the duplicated
    * ones?": per quality-score band (the q_quality_score scalar, a
    * 3-value key), the share of documents the cluster dedup would
    * remove (label ≠ own id, exactly [[q_dup_share]]'s rule — one
    * definition of "removed" across both audits). If dup share
    * concentrates in the low band, dedup and quality filtering are
    * redundant passes; if not, they prune different mass — the
    * readout that decides pipeline stage ORDER. Reuses the shared
    * component labels and candidate frames; one corpus-side join +
    * one 3-row aggregate.
    */
  def q_quality_vs_dup(s: SparkSession, dir: String): DataFrame = {
    val labels = minhashComponents(s, dir)
    val scored = withToks(t(s, dir, "documents"), col("doc_id"),
      nospaceC.as("__nospace"))
      .select(col("doc_id"),
        scoreOf(col("__toks"), col("__nospace")).as("score"))
    scored
      .join(labels.withColumnRenamed("id", "doc_id"), Seq("doc_id"),
        "left_outer")
      .select(col("score"),
        when(coalesce(col("label"), col("doc_id")) =!= col("doc_id"), 1L)
          .otherwise(0L).as("removed"))
      .groupBy("score")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("removed")).as("n_removed"),
        round(sum(col("removed")).cast("double") / count(lit(1)), 4)
          .as("removed_share"))
      .orderBy("score")
  }

  // ── Zipf fit (L37) ─────────────────────────────────────────────────

  /** Terms entering the Zipf fit (shared with the oracle). */
  private[graft] val zipfTopN = 200

  /** Zipf's-law fit over the top-[[zipfTopN]] token frequencies: OLS
    * slope of ln(count) on ln(rank) — the corpus-health scalar that
    * flags template/synthetic corpora (natural text sits near −1;
    * machine-generated boilerplate flattens, token soup steepens).
    *
    * Exactness discipline (q_kl_mixture / q_linreg): each point's
    * ln() doubles are rounded to DECIMAL(18,6) BEFORE the sums, so
    * the OLS moments accumulate exactly and order-free in both
    * engines; the final slope/intercept divisions are single IEEE
    * ops rounded to 6. Shape: one token count (map-side partial),
    * top-N via TakeOrdered, then a [[zipfTopN]]-row bounded window +
    * one-row aggregate — the corpus is touched once.
    */
  // ── count-min sketch (the mergeable frequency sketch) ─────────────

  /** CMS geometry, shared verbatim with the oracle SQL: depth d rows
    * of width 256 counters. Width 256 = exactly the first TWO hex
    * chars of md5("<i>:<tok>") — no modulo, so the bucket function is
    * a string slice both engines compute identically.
    */
  private[graft] val cmsDepth = 4
  private[graft] val cmsProbeTopN = 30

  /** Bucket of token `tok` in CMS row `i`: first two hex chars of
    * md5("i:tok") as an integer 0..255. Shared with the streaming
    * sketch twin (Streams.cmsCounters) — one bucket function, so the
    * batch and streaming sketches are cellwise-mergeable with each
    * other, not just with themselves.
    */
  private[graft] def cmsBucket(i: Int, tok: Column): Column =
    conv(substring(md5(concat(lit(s"$i:"), tok)), 1, 2), 16, 10)
      .cast("long")

  /** Count-min sketch error audit: build a d×256 CMS over the token
    * stream, then probe it with the exact top-[[cmsProbeTopN]] tokens
    * and report estimate vs truth. The sketch fills the one gap in
    * the engine's sketch family (HLL distinct, MinHash similarity,
    * SimHash fingerprints, Bloom membership — CMS is point
    * frequency), and its 100 TB story is the whole point: the counter
    * table is d·256 = 1024 rows REGARDLESS of corpus size, built by
    * one map-side-combined aggregate (the shuffle carries ≤1024 rows
    * per mapper), and two sketches merge by cell-wise addition — the
    * canonical mergeable-summary shape for a 1000-executor corpus
    * profile. Every value is an exact integer (counts and md5-slice
    * buckets), so the oracle gate hashes bit-for-bit; the declared
    * overcount column is the sketch's error made observable (CMS
    * never undercounts — TextOpsSpec asserts overcount ≥ 0 and the
    * ε·N bound).
    */
  def q_cms_err(s: SparkSession, dir: String): DataFrame = {
    val toks = docTokens(s, dir)
    // (i, bucket) per token occurrence, all d rows in one pass
    val keyed = toks.select(posexplode(
      array((0 until cmsDepth).map(i => cmsBucket(i, col("tok"))): _*))
      .as(Seq("i", "bucket")))
    val counters = keyed.groupBy("i", "bucket")
      .agg(count(lit(1)).as("c"))
    val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_tf"))
      .orderBy(col("exact_tf").desc, col("tok"))
      .limit(cmsProbeTopN)
    // probe side: d keys per probed token, broadcast (≤ d·topN rows)
    val probes = broadcast(top.select(col("tok"), col("exact_tf"),
      posexplode(array((0 until cmsDepth)
        .map(i => cmsBucket(i, col("tok"))): _*)).as(Seq("i", "bucket"))))
    probes.join(counters, Seq("i", "bucket"))
      .groupBy("tok", "exact_tf")
      .agg(min(col("c")).as("cms_est"))
      .select(col("tok"), col("exact_tf"), col("cms_est"),
        (col("cms_est") - col("exact_tf")).as("overcount"))
      .orderBy(col("exact_tf").desc, col("tok"))
  }

  // ── sparse similarity join (candidate-gen + exact verify) ─────────

  /** Per-document prefix size for [[q_sparse_sim]]'s candidate
    * generation: each doc indexes only its [[sparseSimPrefix]]
    * globally-rarest tokens (order by global df asc, tok). The
    * postings table is exactly prefix·N rows at ANY corpus size —
    * the property a fixed absolute df cap lacks (a cap that finds
    * pairs at sf0.01 generates zero candidates at 10× when every
    * token's df grows past it; measured before this form replaced
    * it).
    */
  private[graft] val sparseSimPrefix = 5

  /** Safety df cap on prefix postings (a token that is "rarest" for
    * many docs could still fan out; same role as [[maxShingleDf]]).
    */
  private[graft] val sparseSimDfCap = 1000

  /** Cosine threshold for [[q_sparse_sim]] (applied to the rounded
    * value in both engines). 0.9 on raw count vectors is the
    * near-dup regime — below ~0.8 the shared-stopword mass of
    * UNRELATED documents already clears the bar (67k pairs at 0.6 vs
    * 42 at 0.9 on the sf0.01 fixture), so a lower τ measures corpus
    * homogeneity, not duplication.
    */
  private[graft] val sparseSimTau = 0.90

  /** Sparse count-vector cosine similarity join — the lexical twin of
    * the dense embedding near-dup family, in the shape that survives
    * 100 TB: (1) candidate pairs come from PREFIX FILTERING — the
    * inverted index holds only each doc's [[sparseSimPrefix]] rarest
    * tokens (rarest = lowest global df, ties by token), so the index
    * is prefix·N rows at any scale and near-dups (which share their
    * rare tokens) are found at every corpus size; a df safety cap
    * bounds per-token fan-out. (2) Each candidate is then verified
    * with the EXACT cosine over the full token-count vectors, carried
    * as bounded per-doc maps (a doc's vector rides with it — no third
    * shuffle per pair; the dot product is a map-lookup fold inside
    * codegen'd HOFs). Dot and norms are exact BIGINTs; the one double
    * op is sqrt·sqrt at the end (IEEE-identical in both engines), so
    * the pair list is hash-gated exactly. Declared contract: pairs
    * whose prefixes share ≥1 token, with rounded full-vector cosine ≥
    * [[sparseSimTau]] — prefix recall is the documented trade
    * (complete for exact dups, which share identical prefixes).
    */
  def q_sparse_sim(s: SparkSession, dir: String): DataFrame =
    sparseSimFromTf(
      cached(docTokens(s, dir)
        .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))),
      docTokensDistinct(s, dir)
        .groupBy("tok").agg(count(lit(1)).as("df")))

  /** The prefix-filtered candidate-pair frame — factored so the
    * linearity of |candidates| across decades is measurable on its
    * own (tools.SparseSimDiag records the curve next to the timings
    * in BENCH_SCALE; a superlinear bend here is the early warning
    * that the prefix filter needs a bucket-size cap, the df-cap
    * lesson).
    */
  private[graft] def sparseSimCandidates(tf: DataFrame,
    dfTok: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy(col("df"), col("tok"))
    // cached: the self-join below instantiates this plan TWICE and
    // Catalyst executes both copies (self-joins don't auto-dedup
    // uncached subtrees) — each paying the df join + per-doc window.
    // The prefix postings are prefix·N rows, bounded at any SF.
    val post = cached(tf.join(dfTok, "tok")
      .filter(col("df") <= sparseSimDfCap)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= sparseSimPrefix)
      .select("tok", "doc_id"))
    post.as("a").join(post.as("b"),
        col("a.tok") === col("b.tok") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
      .distinct()
  }

  /** The pair search over a prepared (doc_id, tok, tf) frame and its
    * (tok, df) document frequencies — separated so the completeness
    * property (identical docs are ALWAYS paired, any corpus) is
    * spec-testable on constructed corpora, which the fixtures can't
    * provide (their planted near-dups are perturbed, never identical).
    */
  private[graft] def sparseSimFromTf(tf: DataFrame,
    dfTok: DataFrame): DataFrame = {
    val cand = sparseSimCandidates(tf, dfTok)
    val vecs = tf.groupBy("doc_id").agg(
      map_from_entries(collect_list(struct(col("tok"), col("tf"))))
        .as("vec"),
      sum(col("tf") * col("tf")).as("n2"))
    val dot = expr(
      """aggregate(map_entries(va), CAST(0 AS BIGINT),
        |  (acc, e) -> acc + e.value * coalesce(vb[e.key], CAST(0 AS BIGINT)))
        |""".stripMargin)
    cand
      .join(vecs.select(col("doc_id").as("ia"), col("vec").as("va"),
        col("n2").as("n2a")), "ia")
      .join(vecs.select(col("doc_id").as("ib"), col("vec").as("vb"),
        col("n2").as("n2b")), "ib")
      .withColumn("dot", dot)
      .select(col("ia"), col("ib"), col("dot"),
        round(col("dot").cast("double") /
          (sqrt(col("n2a").cast("double")) * sqrt(col("n2b").cast("double"))), 4)
          .as("cos"))
      .filter(col("cos") >= sparseSimTau)
      .orderBy(col("cos").desc, col("ia"), col("ib"))
  }

  // ── distributed iterative classifier training (L-family) ──────────

  /** Training geometry, shared with the in-test reference
    * (TextOpsSpec re-implements the loop independently and pins the
    * weights EXACTLY): [[logregSteps]] full-batch gradient steps at
    * rate [[logregEta]], weights held at [[logregScale]] decimal
    * places between steps.
    */
  private[graft] val logregSteps = 20
  private[graft] val logregEta = new java.math.BigDecimal("8.0")
  private[graft] val logregScale = 12
  private[graft] val logregFeatureNames =
    Seq("bias", "n_tok100", "avg_tok_len10", "digit_ratio")

  /** The labeled design matrix for [[q_logreg]]: DISTILL the
    * rule-based quality gate into a trained classifier — label =
    * [[scoreOf]] passes both bands, features = the raw statistics the
    * gate thresholds (token count, average token length) plus a
    * deliberately signal-free distractor (digit ratio) whose learned
    * weight should shrink toward zero — the workflow every curation
    * pipeline runs when it replaces hand rules with a model (the
    * fixture corpus has no external labels; lang was measured
    * label-independent of the text, so the gate is the one teacher
    * with real signal). Features are O(1)-scaled so a fixed learning
    * rate converges without per-feature schedules; every feature is a
    * per-row expression rounded to 6 dp, so the matrix is
    * deterministic under any partitioning.
    */
  private[graft] def logregFeatures(s: SparkSession, dir: String): DataFrame =
    withToks(t(s, dir, "documents"),
      nospaceC.as("__nospace"),
      length(regexp_replace(col("text"), "[^0-9]", "")).as("__ndigit"),
      length(col("text")).as("__nchar"))
      .select(
        when(scoreOf(col("__toks"), col("__nospace")) >= 1.0, 1.0)
          .otherwise(0.0).as("y"),
        lit(1.0).as("x0"),
        round(size(col("__toks")).cast("double") / 100.0, 6).as("x1"),
        round(col("__nospace").cast("double")
          / greatest(size(col("__toks")), lit(1)) / 10.0, 6).as("x2"),
        round(col("__ndigit").cast("double")
          / greatest(col("__nchar"), lit(1)), 6).as("x3"))

  /** md5-deterministic initial weights in [−0.05, 0.05): w_j(0) =
    * (u_j/2³² − ½)/10 at [[logregScale]] dp, u_j = the first 4 bytes
    * of md5("logreg:<j>") — the q_bootstrap draw discipline, so the
    * init is reproducible in any engine or none.
    */
  private[graft] def logregInit(d: Int): Seq[java.math.BigDecimal] =
    (0 until d).map { j =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"logreg:$j".getBytes("US-ASCII"))
      val u = ((h(0) & 0xffL) << 24) | ((h(1) & 0xffL) << 16) |
        ((h(2) & 0xffL) << 8) | (h(3) & 0xffL)
      // u/2^32 is exact at 32 fractional bits; one explicit rounding
      // to the weight scale keeps init on the shared decimal grid
      java.math.BigDecimal.valueOf(u)
        .divide(new java.math.BigDecimal(4294967296L), logregScale + 4,
          java.math.RoundingMode.HALF_UP)
        .subtract(new java.math.BigDecimal("0.5"))
        .divide(java.math.BigDecimal.TEN, logregScale,
          java.math.RoundingMode.HALF_UP)
    }

  /** Full-batch logistic-regression training as `steps` unrolled
    * deterministic gradient steps — the iterate-over-aggregates shape
    * PageRank/BPE already exercise, now with a driver-held model:
    * each step is ONE partial-combining aggregate over the feature
    * frame (d exact-decimal gradient sums + the row count), the
    * bounded d-vector comes back to the driver, and the update runs
    * in BigDecimal at [[logregScale]] dp.
    *
    * Determinism contract (the q_kl_mixture rule): per-row doubles
    * (margin, sigmoid, per-term gradient) are deterministic
    * expressions; each gradient TERM is rounded to 9 dp and cast to
    * DECIMAL(38,9) before the sum, so the fold is order-independent
    * under any partitioning; the weight update is exact decimal
    * arithmetic. Re-running on any cluster layout yields bit-equal
    * weights (DeterminismSpec family).
    *
    * Scale shape: the feature frame is computed once (caller caches
    * it); each step shuffles only d+1 aggregation buffers per
    * partition, and the model that moves driver↔executors is d
    * doubles — no per-row state, no driver-side data pass. 100 TB
    * posture: identical, with the feature frame staged to the object
    * store; k passes over the staged matrix are the textbook
    * full-batch GD layout (per-worker partials, driver update).
    */
  private[graft] def logregTrain(feats: DataFrame, steps: Int)
    : Seq[java.math.BigDecimal] = {
    val d = logregFeatureNames.length
    var w = logregInit(d)
    for (_ <- 1 to steps) {
      val margin = (0 until d)
        .map(j => col(s"x$j") * lit(w(j).doubleValue)).reduce(_ + _)
      val sig = lit(1.0) / (lit(1.0) + exp(-margin))
      // (σ − y) is PROJECTED once per row: embedding it in each of
      // the d gradient cells made every update expression carry the
      // full margin+exp subtree (the q_boost codegen lesson); the
      // per-term product, 9-dp round and decimal cast are unchanged,
      // so the summed grid values — and the fitted weights — are
      // bit-identical
      val proj = feats.select(
        (0 until d).map(j => col(s"x$j")) :+ (sig - col("y")).as("e"): _*)
      val gs = (0 until d).map(j =>
        sum(round(col("e") * col(s"x$j"), 9)
          .cast("decimal(38,9)")).as(s"g$j"))
      val r = proj.agg(gs.head, (gs.tail :+ count(lit(1)).as("n")): _*)
        .collect()(0)
      val n = r.getLong(d)
      require(n > 0, "q_logreg: empty training frame")
      val nBd = java.math.BigDecimal.valueOf(n)
      w = (0 until d).map { j =>
        w(j).subtract(
          logregEta.multiply(r.getDecimal(j))
            .divide(nBd, logregScale, java.math.RoundingMode.HALF_UP))
          .setScale(logregScale, java.math.RoundingMode.HALF_UP)
      }
    }
    w
  }

  /** Declared query: train the classifier, report one row per
    * coefficient plus the training-set decision-boundary accuracy
    * (margin ≥ 0 ⇔ σ ≥ ½ — a sign test, no float threshold).
    * Rows-only by design (§2.12): the sigmoid's IEEE exp has no
    * faithful DuckDB twin; TextOpsSpec pins the weights bit-exactly
    * against an independent in-test reference (the jacobiEigen
    * precedent), monotone loss decrease, and an accuracy floor.
    */
  def q_logreg(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // the k training steps + the accuracy pass each scan the design
    // matrix, so it must be STAGED even in cache mode `none` (where
    // Caches.cached is a no-op): without this, mode-none runs would
    // re-tokenize the whole corpus 21× — the exact pathology the
    // graph substrate fixed. The matrix is bounded (5 doubles/doc),
    // nothing like the exploded shingle table the `none` mode exists
    // for, so Caches.staged's lazy checkpoint is safe at any declared
    // scale.
    // r11 verdict item 9, measured and REJECTED twice: (a) batching
    // two gradient steps per job needs the BigDecimal HALF_UP weight
    // update re-expressed in Spark decimal SQL, whose division
    // double-rounds (type-rule scale, then 12 dp) — the bit-identical
    // spec pin would ride on rounding-boundary luck; (b) repartitioning
    // the staged matrix to its byte size (single-task step stages)
    // measured −9..15% on SpotBench pairs but +0.2 s in the full
    // cold-protocol bench (the sizing count() job and the extra
    // exchange eat the stage-floor saving) — both inside host noise,
    // so the simpler shape stays.
    val feats = graft.Caches.staged(logregFeatures(s, dir))
    val w = logregTrain(feats, logregSteps)
    val d = logregFeatureNames.length
    val margin = (0 until d)
      .map(j => col(s"x$j") * lit(w(j).doubleValue)).reduce(_ + _)
    val acc = feats.agg(
      round(sum(when((margin >= 0) === (col("y") === 1.0), 1L)
        .otherwise(0L)).cast("double") / count(lit(1)), 6).as("train_acc"))
    logregFeatureNames.zip(w.map(_.doubleValue)).toDF("feature", "weight")
      .crossJoin(broadcast(acc))
      .orderBy("feature")
  }

  /** Boosting geometry, shared with the in-test reference: 8 rounds
    * of discrete AdaBoost over depth-1 stumps on a fixed 16-bin grid
    * (bin k of feature x covers [k/8, (k+1)/8); thresholds at bin
    * edges), stump votes in α-units held at [[boostScale]] dp.
    */
  private[graft] val boostRounds = 8
  private[graft] val boostBins = 16
  private[graft] val boostScale = 8

  private[graft] val boostFeatureNames =
    Seq("n_tok100", "avg_tok_len10", "stop_ratio10")

  /** The boosted trainer's design matrix — teacher = the COMBINED
    * curation gate (length band AND the stopword lang gate, the
    * q_curate pair): y = [n_tok ≥ 50 ∧ 20·n_stop ≥ n_tok]. A
    * two-rule AND that no single stump can express (measured at
    * sf0.01: 55% pass length, 62% pass lang, 38% pass both — the
    * single-band scoreOf teacher q_logreg distills was measured
    * one-stump-separable at fixture scales, which degenerates
    * boosting to one repeated stump). Features are scaled so BOTH
    * gate thresholds land exactly on the stump grid's bin edges
    * (n_tok ≥ 50 ⇔ x1 ≥ 4/8; ratio ≥ 0.05 ⇔ x3 ≥ 4/8): the fitted
    * ensemble must COMPOSE stumps on two different features, which
    * the spec asserts.
    */
  private[graft] def boostFeatures(s: SparkSession, dir: String): DataFrame =
    withToks(t(s, dir, "documents"), nospaceC.as("__nospace"))
      .select(
        when(size(col("__toks")) >= 50 &&
          nstopOf(col("__toks")) * 20 >= size(col("__toks")), 1.0)
          .otherwise(0.0).as("y"),
        round(size(col("__toks")).cast("double") / 100.0, 6).as("x1"),
        round(col("__nospace").cast("double")
          / greatest(size(col("__toks")), lit(1)) / 10.0, 6).as("x2"),
        round(nstopOf(col("__toks")).cast("double") * 10
          / greatest(size(col("__toks")), lit(1)), 6).as("x3"))

  /** One fitted stump: h(x) = +pol where x_feature < thrNum/8, −pol
    * at/above; vote weight alpha.
    */
  private[graft] final case class Stump(feature: Int, thrNum: Int,
    pol: Int, alpha: java.math.BigDecimal)

  private def boostStumpCol(st: Stump): Column =
    when(col(s"x${st.feature}") < lit(st.thrNum.toDouble / 8),
      lit(st.pol.toDouble)).otherwise(lit(-st.pol.toDouble))

  /** The ensemble margin F(x) = Σ α_m·h_m(x) as one column. */
  private def boostMarginCol(model: Seq[Stump]): Column =
    model.foldLeft(lit(0.0)) { (acc, st) =>
      acc + boostStumpCol(st) * lit(st.alpha.doubleValue) }

  /** Discrete AdaBoost over decision stumps — the NONLINEAR member of
    * the classifier-training family (q_logreg is the linear one; a
    * production quality filter is usually a boosted ensemble). The
    * distributed shape per round is ONE partial-combining aggregate:
    * 3 features × 16 bins × 2 classes = 96 weighted-count cells
    * computed as conditional sums inside the row (the q_vec_cov
    * cells-inside-the-row discipline — no row fan-out, the exchange
    * carries 96 buffers per partition); every candidate stump's
    * weighted error then derives from PREFIX SUMS of the bounded cell
    * frame, driver-side. Boosting row weights are NOT per-row state:
    * w_i = exp(−s_i·F(x_i)) is recomputed from the broadcast model
    * (α's and stumps as literals), so rounds never shuffle row state.
    *
    * Determinism (the q_logreg contract): per-row weights are
    * deterministic doubles (exponent clamped to ±25 so saturation
    * stays finite AND representable on the term grid — see the round
    * body), each cell term is round(w, 12) cast DECIMAL(38,12)
    * before the order-independent fold; the stump argmin compares
    * EXACT decimal error sums with a total (err, feature, thr, pol)
    * tie-break; α = ½ln((1−ε)/ε) on the clamped double ratio, rounded
    * to [[boostScale]] dp before it enters the next round's
    * expression. Any partitioning fits the same ensemble.
    */
  private[graft] def boostTrain(feats: DataFrame, rounds: Int)
    : Seq[Stump] = {
    import java.math.{BigDecimal => JBD, RoundingMode => RM}
    val d = 3
    var model = Vector.empty[Stump]
    for (_ <- 1 to rounds) {
      val sCol = col("y") * 2 - 1
      // exponent clamp ±25 and 12-dp terms are a matched pair with the
      // eps floor below: alpha <= ln(1/eps)/2 ~ 6.9 per round, so a
      // saturated 8-round ensemble has |F| <= 55, and the clamped
      // worst-case weights exp(-25) = 1.4e-11 still ROUND NONZERO at
      // 12 dp (a 9-dp grid zeroed every weight once two perfect stumps
      // stacked, and the error ratio divided by a zero total)
      val ex = greatest(least(sCol * boostMarginCol(model) * -1,
        lit(25.0)), lit(-25.0))
      val wTerm = round(exp(ex), 12).cast("decimal(38,12)")
      // grouped cell aggregate, NOT 96 sum(when(...)) columns: the
      // single-row form re-evaluated the round-growing margin+exp
      // weight inside every cell's update expression, so each round
      // codegen-compiled a 96-cell method whose size grew with the
      // model — 13.5 s of the bench was this fixed compile cost
      // (guide §1.2 "per-task work", §4-analogue for JVM codegen).
      // Here the weight and the three bin ids are PROJECTED once per
      // row, a 3-way explode fans out constant-width (j, b, pos, w)
      // quads, and one partial-combining hash aggregate reduces them
      // to ≤ 96 cells (map-side combine keeps the exchange at 96
      // buffers per partition). Decimal sums are exact and
      // order-independent, so the fitted model is bit-identical to
      // the single-row form (TextOpsSpec pins the stump sequence).
      val binCols = (1 to d).map(j =>
        struct(lit(j).as("j"),
          least(floor(col(s"x$j") * 8), lit(15)).cast("int").as("b")))
      val rows = feats.select(
          (col("y") === 1.0).as("pos"), wTerm.as("w"),
          explode(array(binCols: _*)).as("jb"))
        .groupBy(col("jb.j").as("j"), col("jb.b").as("b"), col("pos"))
        .agg(sum(col("w")).as("sw"))
        .collect()
      val cellMap = rows.map(row =>
        (row.getInt(0), row.getInt(1), row.getBoolean(2))
          -> row.getDecimal(3)).toMap
      def cell(j: Int, b: Int, pos: Boolean): JBD =
        cellMap.getOrElse((j, b, pos), JBD.ZERO)
      // prefix sums per feature; total weight per class
      var best: (JBD, Int, Int, Int) = null
      val wp = (1 to d).map(j => (0 until boostBins).map(cell(j, _, pos = true)))
      val wn = (1 to d).map(j => (0 until boostBins).map(cell(j, _, pos = false)))
      val totP = wp.head.foldLeft(JBD.ZERO)(_.add(_))
      val totN = wn.head.foldLeft(JBD.ZERO)(_.add(_))
      for (j <- 1 to d) {
        var belowP = JBD.ZERO
        var belowN = JBD.ZERO
        for (k <- 1 until boostBins) {
          belowP = belowP.add(wp(j - 1)(k - 1))
          belowN = belowN.add(wn(j - 1)(k - 1))
          // pol=+1 (positive below thr): errors = neg below + pos above
          val errPlus = belowN.add(totP.subtract(belowP))
          // pol=−1: errors = pos below + neg above
          val errMinus = belowP.add(totN.subtract(belowN))
          for ((err, pol) <- Seq((errPlus, 1), (errMinus, -1))) {
            val cand = (err, j, k, pol)
            if (best == null ||
              err.compareTo(best._1) < 0 ||
              (err.compareTo(best._1) == 0 &&
                (j < best._2 || (j == best._2 && (k < best._3 ||
                  (k == best._3 && pol < best._4))))))
              best = cand
          }
        }
      }
      val tot = totP.add(totN)
      val eps = math.min(math.max(
        best._1.divide(tot, 15, RM.HALF_UP).doubleValue, 1e-6), 1 - 1e-6)
      val alpha = JBD.valueOf(0.5 * math.log((1 - eps) / eps))
        .setScale(boostScale, RM.HALF_UP)
      model = model :+ Stump(best._2, best._3, best._4, alpha)
    }
    model
  }

  /** Declared query: the fitted ensemble, one row per boosting round
    * (feature name, threshold, polarity, vote weight) plus the
    * training-set decision-boundary accuracy (F ≥ 0). Rows-only by
    * design (§2.12, the q_logreg precedent — IEEE exp/ln);
    * TextOpsSpec pins the stump sequence + α's bit-exactly against an
    * independent in-test reference, every round's weighted error
    * < 1/2 (the boosting guarantee's precondition), and an accuracy
    * floor at least q_logreg's.
    */
  def q_boost(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feats = graft.Caches.staged(boostFeatures(s, dir))
    val model = boostTrain(feats, boostRounds)
    val acc = feats.agg(
      round(sum(when((boostMarginCol(model) >= 0) === (col("y") === 1.0),
        1L).otherwise(0L)).cast("double") / count(lit(1)), 6)
        .as("train_acc"))
    model.zipWithIndex.map { case (st, m) =>
      (m.toLong + 1, boostFeatureNames(st.feature - 1),
        st.thrNum.toDouble / 8, st.pol.toLong, st.alpha.doubleValue)
    }.toDF("round", "feature", "threshold", "polarity", "alpha")
      .crossJoin(broadcast(acc))
      .orderBy("round")
  }

  /** Probability grid for [[q_nbayes]] — micro-units (10⁶), shared
    * verbatim with the oracle. The grid is what makes the trainer
    * ORACLE-GATED where q_logreg/q_boost are rows-only: every model
    * probability is an integer division (c+1)·10⁶ div (n_c+2) —
    * exact, order-independent, identical in any engine — and a
    * posterior is a product of FIVE such ≤10⁶ factors, ≤ 10³⁰, which
    * fits DECIMAL(38,0) (Spark) and HUGEINT (DuckDB) exactly at ANY
    * corpus size. No log, no IEEE division anywhere in train or
    * score. 10⁶ resolution is far below the posterior gaps the
    * binary-feature model produces (the q_boost matched-grid
    * discipline).
    */
  private[graft] val nbScale = 1000000L

  /** Naive Bayes distillation of the rule-based quality gate — the
    * FIRST fully oracle-gated trainer (q_logreg and q_boost pin
    * bit-exact references in specs but their exp/ln keeps them off
    * the DuckDB gate). Binary features = the gate's four band edges
    * (n_tok ≥ 50, n_tok ≤ 1000, nospace ≥ 3·n_tok, nospace ≤
    * 10·n_tok); label = the gate itself (their conjunction — NB's
    * independence assumption CANNOT represent a conjunction exactly,
    * so the confusion matrix is a real measurement of the
    * model-class gap, not a tautology). Laplace-smoothed class/
    * feature probabilities on the % 5 ≠ 0 training split, argmax
    * posterior on the held-out % 5 = 0 split with the exact-integer
    * P₁ ≥ P₀ tie-break. Output: the held-out confusion matrix with
    * an id-sum checksum pinning WHICH docs land in each cell.
    *
    * Scale shape: the model is ONE partial-combining 10-cell
    * aggregate over the training split (counts only — the canonical
    * distributed NB trainer); scoring broadcasts the 1-row model and
    * is a per-row expression; the confusion is a 4-group aggregate.
    * One corpus scan end-to-end (the feature frame is cached and
    * feeds both splits).
    */
  def q_nbayes(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    val feats = cached(t(s, dir, "documents")
      .select(col("doc_id"), size(toks).as("__ntok"),
        nospaceC.as("__nospace"))
      .select(col("doc_id"),
        when(col("__ntok") >= 50, 1L).otherwise(0L).as("f1"),
        when(col("__ntok") <= 1000, 1L).otherwise(0L).as("f2"),
        when(col("__nospace") >= col("__ntok") * 3, 1L).otherwise(0L).as("f3"),
        when(col("__nospace") <= col("__ntok") * 10, 1L).otherwise(0L).as("f4"))
      .withColumn("y",
        when(col("f1") + col("f2") + col("f3") + col("f4") === 4L, 1L)
          .otherwise(0L)))
    val train = feats.filter(col("doc_id") % 5 =!= 0)
    val test = feats.filter(col("doc_id") % 5 === 0)
    val counts = Seq(count(lit(1)).as("n"), sum(col("y")).as("n1")) ++
      (1 to 4).flatMap(j => Seq(
        sum(col(s"f$j") * col("y")).as(s"c1$j"),
        sum(col(s"f$j") * (lit(1L) - col("y"))).as(s"c0$j")))
    val model = broadcast(train.agg(counts.head, counts.tail: _*))
    // per-class factor columns, all integer `div` on the micro grid;
    // nc(1) = n1, nc(0) = n − n1
    def nc(c: Int) = if (c == 1) "n1" else "(n - n1)"
    def prior(c: Int) =
      expr(s"((${nc(c)}) + 1) * ${nbScale}L div (n + 2)")
    def term(c: Int, j: Int) = when(col(s"f$j") === 1L,
      expr(s"(c$c$j + 1) * ${nbScale}L div ((${nc(c)}) + 2)"))
      .otherwise(
        expr(s"((${nc(c)}) - c$c$j + 1) * ${nbScale}L div ((${nc(c)}) + 2)"))
    def posterior(c: Int) =
      (prior(c) +: (1 to 4).map(term(c, _)))
        .map(_.cast("decimal(38,0)")).reduce(_ * _)
    test.crossJoin(model)
      .select(col("doc_id"), col("y"),
        when(posterior(1) >= posterior(0), 1L).otherwise(0L).as("y_hat"))
      .groupBy("y", "y_hat")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
      .orderBy("y", "y_hat")
  }

  // ─────────────────── decision tree + k-means (L71/L72) ───────────────

  /** Doc-shape integer feature frame shared by [[q_dtree]] and
    * [[q_kmeans]]: x1 = token count, x2 = non-space characters in
    * EIGHTHS of a token (`nospace·8 div n_tok` — one integer
    * division, exact and engine-identical), y = the rule-based
    * quality gate (the q_nbayes teacher). The gate's boundary needs
    * TWO cuts per feature (x1 ∈ [50, 1000] ∧ x2 ∈ [24, 80]), so a
    * depth-2 axis-aligned tree (3 cuts total) cannot represent it
    * exactly — tree accuracy is a real model-class measurement, the
    * nbayes discipline.
    */
  private[graft] def docShape(s: SparkSession, dir: String): DataFrame = {
    val toks = TextFns.tokens(col("text"))
    t(s, dir, "documents")
      .select(col("doc_id"), size(toks).cast("long").as("__ntok"),
        nospaceC.cast("long").as("__nospace"))
      .select(col("doc_id"), col("__ntok").as("x1"),
        expr("__nospace * 8 div greatest(__ntok, 1)").as("x2"),
        when(col("__ntok") >= 50 && col("__ntok") <= 1000 &&
          col("__nospace") >= col("__ntok") * 3 &&
          col("__nospace") <= col("__ntok") * 10, 1L).otherwise(0L).as("y"))
  }

  /** Candidate-threshold grid for [[q_dtree]] — FIXED and
    * data-independent (shared verbatim with the oracle), the
    * approximate-split discipline every distributed tree learner
    * uses (Spark MLlib's maxBins, XGBoost hist mode): the split
    * search scans a bounded candidate frame, never the per-value
    * midpoint set, so its cost is independent of corpus cardinality.
    * The teacher's edges (x1 ∈ {50, 1000}, x2 ∈ {24, 80}) are
    * deliberately NOT all on the grid (24 and 80 are; 50 and 1000
    * are not), so the fitted tree approximates the gate instead of
    * memorising it.
    */
  private[graft] val dtreeThr: Seq[(Int, Long)] =
    Seq(16L, 32L, 64L, 128L, 256L, 512L, 768L, 1024L, 1536L, 2048L)
      .map((1, _)) ++
      Seq(8L, 16L, 24L, 32L, 40L, 48L, 56L, 64L, 72L, 80L).map((2, _))

  /** Micro-unit scale for the Gini objective — the nbScale
    * discipline: the argmin compares `score·10⁶ div denominator`
    * integer divisions, exact and order-free in any engine.
    */
  private[graft] val dtreeScale = 1000000L

  /** Weighted-Gini split objective on the micro grid. For a node
    * (n, p) and a candidate sending (nl, pl) left: with q = n − p,
    * per-side impurity mass is n_s·Gini_s = (n_s² − p_s² − q_s²)/n_s
    * = 2·p_s·q_s/n_s, so the weighted sum over both sides is
    * 2·(pl·ql·nr + pr·qr·nl) / (nl·nr) — scaled by [[dtreeScale]]
    * and floor-divided exactly in BigInt. None ⇔ a degenerate split
    * (an empty side). Shared verbatim with the oracle's HUGEINT
    * arithmetic.
    */
  private def dtreeGini(nl: BigInt, pl: BigInt, n: BigInt, p: BigInt)
    : Option[BigInt] = {
    val nr = n - nl
    if (nl == 0 || nr == 0) None
    else {
      val pr = p - pl
      val m = pl * (nl - pl) * nr + pr * (nr - pr) * nl
      Some(2 * m * dtreeScale / (nl * nr))
    }
  }

  /** argmin over the candidate grid with the total (score, feature,
    * threshold) tie-break; None when the node is pure or no
    * candidate is non-degenerate.
    */
  private def dtreeBest(cells: (Int, Long) => (BigInt, BigInt),
    n: BigInt, p: BigInt): Option[(Int, Long)] = {
    if (p == 0 || p == n) return None
    var best: Option[(BigInt, Int, Long)] = None
    for ((j, thr) <- dtreeThr) {
      val (nl, pl) = cells(j, thr)
      dtreeGini(nl, pl, n, p).foreach { sc =>
        if (best.forall { case (bs, bj, bt) =>
          sc < bs || (sc == bs && (j < bj || (j == bj && thr < bt))) })
          best = Some((sc, j, thr))
      }
    }
    best.map { case (_, j, thr) => (j, thr) }
  }

  /** Majority label with the exact `2·p ≥ n` tie-to-positive rule. */
  private def dtreeLabel(n: BigInt, p: BigInt): Long =
    if (p * 2 >= n) 1L else 0L

  /** Distributed greedy decision-tree induction (CART, depth 2) —
    * the FOURTH trainer muscle and the SECOND fully oracle-gated one
    * (the q_nbayes precedent): the Gini objective is computed on the
    * micro-unit integer grid, so there is no float anywhere in
    * train or score and the whole fit — tree structure INCLUDED —
    * hash-gates against DuckDB.
    *
    * Scale shape (the q_boost discipline): one level = ONE
    * partial-combining conditional-sum aggregate over the cached
    * design frame (level 0: 2 cells per candidate + 2 totals = 42;
    * level 1: the same per side = 84 + 4), so a depth-d tree costs d
    * corpus scans and the model traffic is the bounded cell frame —
    * the layout a 1000-executor tree learner wants. Per-node split
    * selection is a driver-side exact-BigInt argmin over ≤20
    * candidates; scoring broadcasts the fitted tree as a nested CASE
    * expression. Leaves fall back to the nearest ancestor's majority
    * label when a node is pure or unsplittable (sentinel feature 0 /
    * threshold −1 in the descriptor), so the contract is total.
    *
    * Output: the held-out confusion matrix (the % 5 split) with
    * id-sum checksums, cross-joined with the 1-row tree descriptor —
    * one hash pins structure AND generalization. TextOpsSpec pins an
    * independent in-test reference tree node-for-node.
    */
  def q_dtree(s: SparkSession, dir: String): DataFrame = {
    val feats = graft.Caches.staged(docShape(s, dir))
    val train = feats.filter(col("doc_id") % 5 =!= 0)

    def below(j: Int, thr: Long): Column = col(s"x$j") < lit(thr)
    // level 0: one 42-cell aggregate → root split
    val cells0 = dtreeThr.zipWithIndex.flatMap { case ((j, thr), i) =>
      Seq(sum(when(below(j, thr), 1L).otherwise(0L)).as(s"n$i"),
        sum(when(below(j, thr), col("y")).otherwise(0L)).as(s"p$i"))
    } ++ Seq(count(lit(1)).as("n"), sum(col("y")).as("p"))
    val r0 = train.agg(cells0.head, cells0.tail: _*).collect()(0)
    val idx = dtreeThr.zipWithIndex.toMap
    def c0(j: Int, thr: Long): (BigInt, BigInt) = {
      val i = idx((j, thr))
      (BigInt(r0.getLong(2 * i)), BigInt(r0.getLong(2 * i + 1)))
    }
    val n = BigInt(r0.getLong(cells0.size - 2))
    val p = BigInt(r0.getLong(cells0.size - 1))
    val root = dtreeBest(c0, n, p)

    // level 1: one 84-cell aggregate conditioned on the root split
    case class Node(n: BigInt, p: BigInt, split: Option[(Int, Long)],
      nl: BigInt, pl: BigInt)
    def leafNode = Node(0, 0, None, 0, 0)
    val (left, right) = root match {
      case None => (leafNode, leafNode)
      case Some((rj, rt)) =>
        val sideL = below(rj, rt)
        def sideCells(cond: Column, tag: String) =
          dtreeThr.zipWithIndex.flatMap { case ((j, thr), i) =>
            Seq(sum(when(cond && below(j, thr), 1L).otherwise(0L))
              .as(s"${tag}n$i"),
              sum(when(cond && below(j, thr), col("y")).otherwise(0L))
                .as(s"${tag}p$i"))
          } ++ Seq(sum(when(cond, 1L).otherwise(0L)).as(s"${tag}n"),
            sum(when(cond, col("y")).otherwise(0L)).as(s"${tag}p"))
        val cells1 = sideCells(sideL, "l") ++ sideCells(!sideL, "r")
        val r1 = train.agg(cells1.head, cells1.tail: _*).collect()(0)
        val half = cells1.size / 2
        def mk(off: Int): Node = {
          def c1(j: Int, thr: Long): (BigInt, BigInt) = {
            val i = idx((j, thr))
            (BigInt(r1.getLong(off + 2 * i)),
              BigInt(r1.getLong(off + 2 * i + 1)))
          }
          val nn = BigInt(r1.getLong(off + half - 2))
          val pp = BigInt(r1.getLong(off + half - 1))
          val sp = dtreeBest(c1, nn, pp)
          val (nl, pl) = sp.map { case (j, t) => c1(j, t) }
            .getOrElse((BigInt(0), BigInt(0)))
          Node(nn, pp, sp, nl, pl)
        }
        (mk(0), mk(half))
    }

    // leaf labels, falling back to the nearest non-empty ancestor
    def leafLabs(nd: Node): (Long, Long) = nd.split match {
      case Some(_) =>
        (dtreeLabel(nd.nl, nd.pl), dtreeLabel(nd.n - nd.nl, nd.p - nd.pl))
      case None =>
        val lab = if (nd.n > 0) dtreeLabel(nd.n, nd.p) else dtreeLabel(n, p)
        (lab, lab)
    }
    val (labLL, labLR) = leafLabs(left)
    val (labRL, labRR) = leafLabs(right)
    def featOf(sp: Option[(Int, Long)]) = sp.map(_._1.toLong).getOrElse(0L)
    def thrOf(sp: Option[(Int, Long)]) = sp.map(_._2).getOrElse(-1L)

    // broadcast scoring expression (nested CASE over the fitted tree)
    def branch(sp: Option[(Int, Long)], labL: Long, labR: Long): Column =
      sp match {
        case Some((j, thr)) =>
          when(below(j, thr), lit(labL)).otherwise(lit(labR))
        case None => lit(labL)
      }
    val yHat = root match {
      case Some((rj, rt)) =>
        when(below(rj, rt), branch(left.split, labLL, labLR))
          .otherwise(branch(right.split, labRL, labRR))
      case None => lit(dtreeLabel(n, p))
    }
    val conf = feats.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("y"), yHat.as("y_hat"))
      .groupBy("y", "y_hat")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_sum"))
    val desc = s.createDataFrame(java.util.List.of(
      org.apache.spark.sql.Row(featOf(root), thrOf(root),
        featOf(left.split), thrOf(left.split),
        featOf(right.split), thrOf(right.split),
        labLL, labLR, labRL, labRR)),
      org.apache.spark.sql.types.StructType(
        Seq("root_feat", "root_thr", "left_feat", "left_thr",
          "right_feat", "right_thr", "lab_ll", "lab_lr", "lab_rl",
          "lab_rr").map(org.apache.spark.sql.types.StructField(_,
          org.apache.spark.sql.types.LongType, nullable = false))))
    conf.crossJoin(broadcast(desc)).orderBy("y", "y_hat")
  }

  // ─────────────── bagged stump forest with OOB error (L77) ───────────────

  /** Forest size — odd so most out-of-bag votes are untied, but the
    * exact `2·v ≥ n` tie rule still decides docs whose OOB tree count
    * is even. Shared verbatim with the oracle.
    */
  private[graft] val forestB = 15

  /** Poisson(1) resample weight for (tree, doc) — q_bootstrap's md5
    * scaled-CDF draw (Relational.bootstrapCdf), shared verbatim with
    * the oracle: both engines compare the same 32-bit md5 slice
    * against the same thresholds, so every (tree, doc) multiplicity
    * is bit-identical.
    */
  private def forestW(b: Column, id: Column): Column = {
    val u = conv(substring(md5(concat(b.cast("string"), lit(":"),
      id.cast("string"))), 1, 8), 16, 10).cast("long")
    Relational.bootstrapCdf.foldLeft(lit(0L)) { (acc, t) =>
      acc + when(u >= t, 1L).otherwise(0L)
    }
  }

  /** Grid-bin index for feature j: how many of [[dtreeThr]]'s
    * thresholds the value clears (0..10) — the stump "x ≥ t_k
    * predicts 1" is then exactly "bin ≥ k".
    */
  private def forestBin(j: Int): Column =
    dtreeThr.filter(_._1 == j).map(_._2)
      .foldLeft(lit(0L)) { (acc, t) =>
        acc + when(col(s"x$j") >= lit(t), 1L).otherwise(0L)
      }

  /** Bagged-stump random forest with out-of-bag evaluation — the
    * SIXTH trainer family (bagging, next to boosting/q_boost): B
    * Poisson(1)-bootstrapped depth-1 trees over the [[docShape]]
    * frame, each stump the exact weighted-error argmin over the
    * SAME fixed candidate grid q_dtree scans, and the eval set is
    * the bags' own complement — each doc is scored by majority vote
    * of the trees that did NOT sample it (Breiman, "Random Forests",
    * Machine Learning 2001; "Out-of-bag estimation", 1996). No
    * held-out split is spent: OOB is the free cross-validation a
    * 100 TB training pipeline wants.
    *
    * Everything hash-gates (the q_nbayes no-float argument): Poisson
    * weights are integers from the shared md5 grid, stump errors are
    * weighted integer counts with the total (err, feat, thr, pol)
    * tie-break, votes are exact `2·v ≥ n`. Scale shape: training is
    * ONE partial-combining aggregate over a B×2-exploded frame into
    * a BOUNDED cell frame (B·2·11 groups — all B bags trained in one
    * pass, the q_bootstrap one-pass-B-replicas layout); the argmin
    * is a driver-side fold over those cells; OOB scoring joins the
    * broadcast B-row model and folds to one confusion row. Two
    * corpus scans end-to-end, no per-row model state.
    */
  def q_forest(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feats = graft.Caches.staged(docShape(s, dir))
    val bagged = feats
      .select(col("doc_id"), col("y"), col("x1"), col("x2"),
        forestBin(1).as("bin1"), forestBin(2).as("bin2"),
        explode(sequence(lit(0), lit(forestB - 1))).as("bi"))
      .select(col("doc_id"), col("y"), col("x1"), col("x2"),
        col("bin1"), col("bin2"), col("bi").cast("long").as("b"))
      .withColumn("w", forestW(col("b"), col("doc_id")))
    // one pass: weighted per-(bag, feature, bin, label) cell counts
    val cells = bagged
      .select(col("b"), col("y"), col("w"),
        explode(array(
          struct(lit(1).as("feat"), col("bin1").as("bin")),
          struct(lit(2).as("feat"), col("bin2").as("bin")))).as("fb"))
      .groupBy(col("b"), col("fb.feat").as("feat"), col("fb.bin").as("bin"))
      .agg(sum(when(col("y") === 1L, col("w")).otherwise(0L)).as("pw"),
        sum(when(col("y") === 0L, col("w")).otherwise(0L)).as("nw"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)) ->
        (r.getLong(3), r.getLong(4))).toMap
    // driver-side exact argmin per bag (bounded: B × 20 × 2 candidates)
    case class Stump(b: Long, feat: Int, thr: Long, pol: Int,
      errW: Long, totW: Long)
    val model = (0L until forestB.toLong).map { b =>
      def pn(feat: Int, bin: Long) =
        cells.getOrElse((b, feat, bin), (0L, 0L))
      // the grid size is derived from dtreeThr (the single source of
      // truth the SQL twin and forestBin also derive from), never
      // hardcoded: bins run 0..thrs.size per feature (ADVICE r9)
      val nthr1 = dtreeThr.count(_._1 == 1)
      val totP = (0L to nthr1.toLong).map(pn(1, _)._1).sum
      val totN = (0L to nthr1.toLong).map(pn(1, _)._2).sum
      var best: (Long, Int, Long, Int) = null
      for (j <- 1 to 2) {
        val thrs = dtreeThr.filter(_._1 == j).map(_._2)
        var belowP = 0L; var belowN = 0L
        for (k <- 1 to thrs.size) {
          belowP += pn(j, k - 1L)._1; belowN += pn(j, k - 1L)._2
          // pol −1: predict 1 below the threshold; pol +1: at/above
          val cand = Seq((belowN + (totP - belowP), -1),
            (belowP + (totN - belowN), 1))
          for ((err, pol) <- cand) {
            val t = thrs(k - 1)
            if (best == null || err < best._1 || (err == best._1 &&
              (j < best._2 || (j == best._2 && (t < best._3 ||
                (t == best._3 && pol < best._4))))))
              best = (err, j, t, pol)
          }
        }
      }
      Stump(b, best._2, best._3, best._4, best._1, totP + totN)
    }
    val stumpDf = broadcast(model
      .map(st => (st.b, st.feat, st.thr, st.pol)).toDF("b", "sfeat", "sthr", "spol"))
    // OOB: every doc scored by majority vote of the bags that missed it
    val votes = bagged.filter(col("w") === 0L)
      .join(stumpDf, "b")
      .withColumn("xv",
        when(col("sfeat") === 1, col("x1")).otherwise(col("x2")))
      .withColumn("pred", when(col("spol") === 1,
        when(col("xv") >= col("sthr"), 1L).otherwise(0L))
        .otherwise(when(col("xv") < col("sthr"), 1L).otherwise(0L)))
      .groupBy("doc_id", "y")
      .agg(count(lit(1)).as("n_oob"), sum(col("pred")).as("v1"))
      .select(col("doc_id"), col("y"),
        when(col("v1") * 2 >= col("n_oob"), 1L).otherwise(0L).as("yhat"))
    val conf = votes.agg(
      count(lit(1)).as("n_oob_docs"),
      sum(when(col("y") === 1L && col("yhat") === 1L, 1L).otherwise(0L))
        .as("oob_tp"),
      sum(when(col("y") === 0L && col("yhat") === 1L, 1L).otherwise(0L))
        .as("oob_fp"),
      sum(when(col("y") === 1L && col("yhat") === 0L, 1L).otherwise(0L))
        .as("oob_fn"),
      sum(when(col("y") === 0L && col("yhat") === 0L, 1L).otherwise(0L))
        .as("oob_tn"),
      coalesce(sum(when(col("yhat") === 1L, col("doc_id"))), lit(0L))
        .as("oob_pos_id_sum"))
    val nd = feats.agg(count(lit(1)).as("n_docs"))
    model.map(st => (st.b, if (st.feat == 1) "n_tok" else "density8",
      st.thr, st.pol.toLong, st.errW, st.totW))
      .toDF("tree", "feature", "threshold", "polarity", "err_w", "tot_w")
      .crossJoin(broadcast(conf))
      .crossJoin(broadcast(nd))
      .select(col("tree"), col("feature"), col("threshold"),
        col("polarity"), col("err_w"), col("tot_w"),
        col("oob_tp"), col("oob_fp"), col("oob_fn"), col("oob_tn"),
        col("oob_pos_id_sum"),
        (col("n_docs") - col("n_oob_docs")).as("n_oob_excluded"),
        round((col("oob_tp") + col("oob_tn")).cast("double") /
          col("n_oob_docs").cast("double"), 6).as("oob_acc"))
      .orderBy("tree")
  }

  /** k-means geometry, shared verbatim with the oracle: k = 4
    * data-independent integer seeds in (x1, x2) doc-shape space,
    * [[kmIters]] = 4 Lloyd iterations. The assignment argmin is ONE
    * integer: `min(dist²·4 + c)` orders by (distance, centroid id)
    * lexicographically because c < 4, so `% 4` recovers the assigned
    * centroid and `div 4` the exact distance — no struct comparison,
    * no float, engine-identical.
    */
  private[graft] val kmIters = 4

  /** Data-INDEPENDENT seeds (no sampling, no order sensitivity —
    * deterministic at any partitioning), spread across the corpus'
    * structural doc-shape region (token counts are double-digit for
    * the fixture family, x2 = 8·avg-token-length sits in the 30s for
    * English-like text): all four basins are populated from the first
    * assignment, which the spec asserts.
    */
  private[graft] val kmInit: Seq[(Long, Long, Long)] =
    Seq((0L, 24L, 32L), (1L, 48L, 34L), (2L, 72L, 36L), (3L, 96L, 38L))

  /** Distributed exact k-means (Lloyd) — the clustering counterpart
    * of the oracle-gated trainer family. The rows-only IVF trainer
    * (q_ann_ivf) is the float/recall-curve form; THIS form is what
    * makes the canonical distributed k-means hash-gate: integer
    * features ([[docShape]]), integer squared distances, and
    * floor-division centroid updates `sum div count` mean every
    * iteration is exact in BIGINT in any engine.
    *
    * Scale shape: per iteration ONE partial-combining aggregate
    * (groupBy assigned-centroid → 3 sums), model traffic = 4×3 longs
    * collected to the driver and re-broadcast as literals in the
    * next assignment expression — k passes over a cached bounded
    * frame, no per-row state, the q_logreg layout. Empty clusters
    * keep their previous centroid (the standard Lloyd convention,
    * observable as n_points = 0 in the output).
    *
    * Output: one row per centroid — final position, membership
    * count, member id-sum (pins WHICH docs, the confusion-matrix
    * discipline) and exact integer inertia.
    */
  def q_kmeans(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feats = graft.Caches.staged(
      docShape(s, dir).select("doc_id", "x1", "x2"))
    def keyCol(cent: Seq[(Long, Long, Long)]): Column =
      cent.map { case (c, cu, cv) =>
        val d = (col("x1") - cu) * (col("x1") - cu) +
          (col("x2") - cv) * (col("x2") - cv)
        d * 4 + c
      }.reduce(least(_, _))
    var cent = kmInit
    for (_ <- 1 to kmIters) {
      val upd = feats.groupBy((keyCol(cent) % 4).as("c"))
        .agg(sum(col("x1")).as("su"), sum(col("x2")).as("sv"),
          count(lit(1)).as("n"))
        .collect().map(r => r.getLong(0) ->
          (r.getLong(1) / r.getLong(3), r.getLong(2) / r.getLong(3))).toMap
      cent = cent.map { case (c, cu, cv) =>
        upd.get(c).map { case (u, v) => (c, u, v) }.getOrElse((c, cu, cv))
      }
    }
    val stats = feats
      .select(keyCol(cent).as("__key"), col("doc_id"))
      .select((col("__key") % 4).as("cluster"),
        expr("__key div 4").as("d2"), col("doc_id"))
      .groupBy("cluster")
      .agg(count(lit(1)).as("n_points"), sum(col("doc_id")).as("id_sum"),
        sum(col("d2")).as("inertia"))
    cent.toDF("cluster", "cu", "cv")
      .join(stats, Seq("cluster"), "left")
      .na.fill(0L, Seq("n_points", "id_sum", "inertia"))
      .orderBy("cluster")
  }

  /** Exact ROC-AUC feature screening — the canonical trainer-pipeline
    * eval metric, made hash-gatable by the integer midrank form of
    * the Mann-Whitney U statistic: for each doc-shape feature, AUC
    * against the quality-gate label with ties handled by midranks,
    * computed entirely in BIGINT. Doubling the midrank keeps halves
    * integral: 2U = Σ_v pos_v·(2·below_v + c_v + 1) − n₊·(n₊+1),
    * where (c_v, pos_v) is the per-distinct-value histogram and
    * below_v its strict prefix count.
    *
    * Scale shape: ONE corpus scan folds to the per-value histogram
    * (bounded by the feature's VALUE DOMAIN — token counts, not
    * documents), the prefix sum is a window over that bounded frame,
    * and the U fold is a per-feature aggregate of it. The final AUC
    * is one IEEE division of exact integers, rounded at 6 dp —
    * engine-identical.
    */
  def q_auc(s: SparkSession, dir: String): DataFrame = {
    val shape = docShape(s, dir)
    val vals = shape.select(lit(1L).as("feat"), col("x1").as("v"), col("y"))
      .unionAll(shape.select(lit(2L).as("feat"), col("x2").as("v"), col("y")))
    val hist = vals.groupBy("feat", "v")
      .agg(count(lit(1)).as("c"), sum(col("y")).as("pos"))
    val w = Window.partitionBy("feat").orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = hist.withColumn("below",
      sum(col("c")).over(w) - col("c"))
    ranked.groupBy("feat")
      .agg(sum(col("pos")).as("n_pos"),
        (sum(col("c")) - sum(col("pos"))).as("n_neg"),
        (sum(col("pos") * (col("below") * 2 + col("c") + 1))).as("u_raw"))
      .select(col("feat"), col("n_pos"), col("n_neg"),
        (col("u_raw") - col("n_pos") * (col("n_pos") + 1)).as("u2"))
      .select(col("feat"), col("n_pos"), col("n_neg"), col("u2"),
        round(col("u2").cast("double") /
          (col("n_pos") * col("n_neg") * 2).cast("double"), 6).as("auc"))
      .orderBy("feat")
  }

  // ─────────────────── gradient-boosted trees (L78) ───────────────

  /** Boosting geometry for [[q_gbt]], shared verbatim with the
    * oracle. Labels and the boosted score F live in MILLI-units
    * ([[gbtScale]]); every leaf value is a floor division made
    * engine-identical by the positivity shift [[gbtShift]] (Spark
    * `div` truncates toward zero, DuckDB `//` floors — they agree
    * only on non-negative operands, so every divided quantity is
    * shifted ≥ 0 first). The residual bound that makes the shift
    * safe: |r₀| ≤ 10³ and each round's update adds at most half the
    * current bound plus 1 (ν = ½ with floor error ≤ 1), so after m
    * rounds |r| ≤ 10³·1.5^m + 2 — 3 380 at [[gbtRounds]] = 3, and
    * still under [[gbtShift]] = 8 000 through 5 rounds. The split
    * score is milli-scaled too: maximizing S_L²/n_L + S_R²/n_R is
    * SSE-minimization, compared as the exact integer
    * (S_L²·n_R + S_R²·n_L)·10³ div (n_L·n_R) with the (j, thr)
    * tie-break — bounded ≤ 3.3·10³⁶ at sf100 (|S| ≤ 4·10³·n,
    * n ≤ 5·10⁸), inside DECIMAL(38,0) and HUGEINT alike.
    */
  private[graft] val gbtRounds = 3
  private[graft] val gbtScale = 1000L
  private[graft] val gbtShift = 8000L

  /** One fitted depth-2 regression tree: feat 0 / thr −1 is the
    * unsplittable-node sentinel (q_dtree's convention); contribs are
    * post-shrinkage milli-unit leaf values (cLL = cLR when the left
    * child is a leaf; root leaf ⇒ all four equal).
    */
  private[graft] case class GbtTree(rootFeat: Int, rootThr: Long,
    lFeat: Int, lThr: Long, rFeat: Int, rThr: Long,
    cLL: Long, cLR: Long, cRL: Long, cRR: Long)

  /** leaf contribution = ν·mean(residual), both floor steps on
    * shifted non-negative operands: ((S + n·shift) div n) div 2 −
    * shift/2 ≡ (mean + shift) div 2 − shift/2 with mean ≥ −shift.
    */
  private def gbtContrib(sum: BigInt, n: BigInt): Long =
    (((sum + n * gbtShift) / n) / 2 - gbtShift / 2).toLong

  /** argmax of the milli-scaled SSE-reduction score over the
    * candidate grid; None when every candidate is degenerate.
    */
  private def gbtBest(cells: (Int, Long) => (Long, BigInt),
    n: Long, stot: BigInt): Option[(Int, Long)] = {
    var best: Option[(BigInt, Int, Long)] = None
    for ((j, thr) <- dtreeThr) {
      val (nl, sl) = cells(j, thr)
      val nr = n - nl
      if (nl > 0 && nr > 0) {
        val sr = stot - sl
        val sc = (sl * sl * nr + sr * sr * nl) * gbtScale /
          (BigInt(nl) * nr)
        if (best.forall { case (bs, bj, bt) =>
          sc > bs || (sc == bs && (j < bj || (j == bj && thr < bt))) })
          best = Some((sc, j, thr))
      }
    }
    best.map { case (_, j, thr) => (j, thr) }
  }

  /** Gradient-boosted depth-2 regression trees (Friedman's LS_Boost,
    * "Greedy Function Approximation", Annals of Statistics 2001) —
    * the SEVENTH trainer family and the one the stump ensembles
    * can't imitate: each round fits a depth-2 tree to the RESIDUAL
    * of the running model (squared loss ⇒ gradient = residual), so
    * round 2 corrects exactly where round 1 is wrong — q_boost
    * reweights points but its stumps stay 1-cut, q_forest averages
    * independent stumps; only this one composes cuts ACROSS rounds.
    * Fully oracle-gated where q_boost is rows-only: squared loss
    * needs no exp/ln — base score, split scores, leaf means and the
    * ν = ½ shrinkage are all shifted floor divisions on the milli
    * grid (see [[gbtScale]]), so the whole boosted model — structure
    * AND leaf values AND per-round train SSE — hash-matches DuckDB.
    *
    * Scale shape (the q_dtree discipline, per round): level 0 is ONE
    * partial-combining 42-cell aggregate over the cached design
    * frame, level 1 the same per root side (2 groups); split argmax
    * is driver-side BigInt over ≤20 candidates; F is carried as a
    * LITERAL nested-CASE column (model traffic = 10 longs per tree,
    * no per-row state, no division anywhere in the distributed
    * path). 3 rounds = 6 aggregate scans + 2 output passes.
    *
    * Output: one row per round — tree descriptor, post-shrinkage
    * leaf contribs, exact train SSE after the round (descent:
    * sse_m ≤ sse_{m−1} up to the ≤1 floor slack per leaf) — cross-
    * joined with the base score and the held-out confusion of the
    * final model at the F ≥ 500 milli-threshold (id-sum pins WHICH
    * docs, the q_nbayes checksum discipline).
    */
  def q_gbt(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feats = graft.Caches.staged(docShape(s, dir))
    val train = feats.filter(col("doc_id") % 5 =!= 0)
    def xj(j: Int): Column = if (j == 1) col("x1") else col("x2")
    def leftOf(j: Int, thr: Long): Column = xj(j) < lit(thr)

    val g0 = train.agg(count(lit(1)).as("n"), sum(col("y")).as("p"))
      .collect()(0)
    val n0 = g0.getLong(0)
    val f0 = (BigInt(g0.getLong(1)) * gbtScale / n0).toLong

    def contribCol(t: GbtTree): Column = {
      def side(feat: Int, thr: Long, cL: Long, cR: Long): Column =
        if (feat == 0) lit(cL)
        else when(leftOf(feat, thr), lit(cL)).otherwise(lit(cR))
      if (t.rootFeat == 0) lit(t.cLL)
      else when(leftOf(t.rootFeat, t.rootThr), side(t.lFeat, t.lThr, t.cLL, t.cLR))
        .otherwise(side(t.rFeat, t.rThr, t.cRL, t.cRR))
    }
    var trees = Vector.empty[GbtTree]
    def fCol: Column =
      trees.foldLeft(lit(f0).cast("long"))((acc, t) => acc + contribCol(t))

    val idx = dtreeThr.zipWithIndex.toMap
    for (_ <- 1 to gbtRounds) {
      // the residual is PROJECTED once per row, not re-evaluated
      // inside every cell: the 42 sum(when(...)) update expressions
      // each embedded the round-growing nested-CASE model column, so
      // the codegen'd aggregate grew quadratically with rounds (the
      // q_boost lesson, guide §1.2 per-task work); the cells now
      // reference the two feature longs + one projected residual long
      val proj = train.select(col("x1"), col("x2"),
        (col("y") * gbtScale - fCol).as("r"))
      val cellAggs = Seq(count(lit(1)).cast("long").as("n"),
        sum(col("r")).as("sr")) ++
        dtreeThr.zipWithIndex.flatMap { case ((j, thr), i) => Seq(
          sum(when(leftOf(j, thr), 1L).otherwise(0L)).as(s"n$i"),
          sum(when(leftOf(j, thr), col("r")).otherwise(0L)).as(s"s$i")) }
      // level 0: one bounded-cell aggregate, argmax on the driver
      val c0 = proj.agg(cellAggs.head, cellAggs.tail: _*).collect()(0)
      def cell0(j: Int, thr: Long): (Long, BigInt) = {
        val i = idx((j, thr))
        (c0.getLong(2 + 2 * i), BigInt(c0.getLong(3 + 2 * i)))
      }
      val tree = gbtBest(cell0, c0.getLong(0), BigInt(c0.getLong(1))) match {
        case None =>
          val c = gbtContrib(BigInt(c0.getLong(1)), BigInt(c0.getLong(0)))
          GbtTree(0, -1L, 0, -1L, 0, -1L, c, c, c, c)
        case Some((rj, rt)) =>
          // level 1: the same cells per root side (2 groups)
          val c1 = proj
            .groupBy(when(leftOf(rj, rt), 0L).otherwise(1L).as("sd"))
            .agg(cellAggs.head, cellAggs.tail: _*)
            .collect().map(row => row.getLong(0) -> row).toMap
          def childOf(sd: Long): (Int, Long, Long, Long) = {
            val row = c1(sd)
            def cells(j: Int, thr: Long): (Long, BigInt) = {
              val i = idx((j, thr))
              (row.getLong(3 + 2 * i), BigInt(row.getLong(4 + 2 * i)))
            }
            val n = row.getLong(1)
            val stot = BigInt(row.getLong(2))
            gbtBest(cells, n, stot) match {
              case None =>
                val c = gbtContrib(stot, BigInt(n))
                (0, -1L, c, c)
              case Some((j, thr)) =>
                val (nl, sl) = cells(j, thr)
                (j, thr, gbtContrib(sl, BigInt(nl)),
                  gbtContrib(stot - sl, BigInt(n - nl)))
            }
          }
          val (lj, lt, cll, clr) = childOf(0L)
          val (rj2, rt2, crl, crr) = childOf(1L)
          GbtTree(rj, rt, lj, lt, rj2, rt2, cll, clr, crl, crr)
      }
      trees = trees :+ tree
    }

    // per-round exact SSE in one pass (F_m is a literal expression)
    val fAfter = (1 to gbtRounds).map(m =>
      trees.take(m).foldLeft(lit(f0).cast("long"))(
        (acc, t) => acc + contribCol(t)))
    val sseAggs = fAfter.zipWithIndex.map { case (f, i) =>
      val rm = col("y") * gbtScale - f
      sum(rm * rm).as(s"sse${i + 1}")
    }
    val sseRow = train.agg(sseAggs.head, sseAggs.tail: _*).collect()(0)
    val conf = broadcast(feats.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("y"),
        when(fCol >= gbtScale / 2, 1L).otherwise(0L).as("yhat"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("y") === 1L && col("yhat") === 1L, 1L).otherwise(0L))
          .as("tp"),
        sum(when(col("y") === 0L && col("yhat") === 1L, 1L).otherwise(0L))
          .as("fp"),
        sum(when(col("y") === 1L && col("yhat") === 0L, 1L).otherwise(0L))
          .as("fn"),
        sum(when(col("y") === 0L && col("yhat") === 0L, 1L).otherwise(0L))
          .as("tn"),
        coalesce(sum(when(col("yhat") === 1L, col("doc_id"))), lit(0L))
          .as("pos_id_sum")))
    trees.zipWithIndex.map { case (t, i) =>
      (i.toLong + 1, t.rootFeat.toLong, t.rootThr, t.lFeat.toLong, t.lThr,
        t.rFeat.toLong, t.rThr, t.cLL, t.cLR, t.cRL, t.cRR,
        sseRow.getLong(i))
    }.toDF("round", "root_feat", "root_thr", "left_feat", "left_thr",
      "right_feat", "right_thr", "c_ll", "c_lr", "c_rl", "c_rr",
      "train_sse")
      .withColumn("f0", lit(f0))
      .crossJoin(conf)
      .orderBy("round")
  }

  // ──────────── hashing-trick collision audit (L82) ────────────

  /** Bucket count for [[q_feat_hash]] — deliberately SMALLER than
    * the fixture vocabulary so collisions exist to audit (the
    * hashing trick's k is always ≪ vocab; that is its point).
    * Shared verbatim with the oracle.
    */
  private[graft] val fhBuckets = 64L

  /** Hashing-trick collision audit (Weinberger et al., ICML 2009) —
    * the pre-flight a pipeline runs before committing to a hashed
    * feature space: for each of the k buckets, how much
    * document-frequency mass lands there, which term dominates it,
    * and what share of the bucket's mass is NOT the dominant term
    * (the conflated mass a downstream linear model cannot
    * disentangle). The report answers "is k big enough" with exact
    * numbers instead of the folklore 2^18 default.
    *
    * Scale shape: one corpus scan → distinct (doc, token) pairs →
    * vocabulary-bounded df frame (the tf-idf df branch, shared
    * cache); bucket assignment is an md5 expression, the per-bucket
    * rollup a k-row aggregate, and the dominant term a window
    * row_number over the vocab-bounded frame — nothing scales with
    * corpus rows past the first scan. Output: k rows, exact integers
    * + the deterministic (df desc, tok asc) dominant term —
    * hash-gates.
    */
  def q_feat_hash(s: SparkSession, dir: String): DataFrame = {
    // cache the VOCAB-bounded df frame: both consumers (bucket rollup
    // and dominant-term window) would otherwise each re-aggregate the
    // corpus-sized distinct-pairs frame
    val df = cached(docTokensDistinct(s, dir)
      .groupBy("tok").agg(count(lit(1)).as("df")))
    val bkt = pmod(conv(substring(md5(concat(lit("fh:"), col("tok"))),
      1, 8), 16, 10).cast("long"), lit(fhBuckets))
    val vb = df.withColumn("bucket", bkt)
    val w = Window.partitionBy("bucket")
      .orderBy(col("df").desc, col("tok"))
    val top = vb.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("bucket"), col("tok").as("top_term"),
        col("df").as("top_df"))
    vb.groupBy("bucket")
      .agg(count(lit(1)).as("n_terms"), sum("df").as("df_sum"))
      .join(top, Seq("bucket"))
      .withColumn("conflated_ppm",
        expr("(df_sum - top_df) * 1000000 div df_sum"))
      .select("bucket", "n_terms", "df_sum", "top_term", "top_df",
        "conflated_ppm")
      .orderBy("bucket")
  }

  // ───────────────── learning curve (L81) ─────────────────

  /** Cumulative training fractions for [[q_learning_curve]], in
    * sixteenths of the md5-bucketed train pool — shared verbatim
    * with the oracle.
    */
  private[graft] val lcFracs: Seq[Long] = Seq(3L, 6L, 9L, 12L, 16L)

  /** Learning curve — the "is more data worth it" trainer readout
    * (the L54 corpus-coverage marginal-utility question asked of a
    * MODEL instead of a vocabulary): fit the stump on nested
    * md5-bucketed subsets of the train split (3/16 … 16/16) and
    * evaluate every fit on the SAME held-out split, so the curve
    * isolates training-set size as the only moving part. Subsets are
    * nested by construction (bucket < f), the property that makes the
    * curve monotone-in-information rather than resample noise.
    *
    * Scale shape: ONE bucket-grouped 42-cell partial-combining
    * aggregate (16 rows) gives every fraction's training cells as a
    * driver-side prefix sum — all 5 fits from one scan (the
    * q_crossval subtraction argument, with prefixes instead); the 5
    * stumps ride ONE exploded eval scan (5× the 20 % eval split ≈
    * one corpus-scan equivalent) into a per-fraction confusion.
    * Driver argmin per fraction is exact BigInt over the fixed grid
    * ([[dtreeBest]] verbatim).
    *
    * Output per fraction: frac_x16, exact n_train, stump descriptor
    * (0/−1 sentinel + train-majority labels when unsplittable),
    * n_test, n_correct, positive-prediction id-sum checksum, acc in
    * ppm — the whole curve hash-gates.
    */
  def q_learning_curve(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feats = graft.Caches.staged(docShape(s, dir))
    def xj(j: Int): Column = if (j == 1) col("x1") else col("x2")
    def below(j: Int, thr: Long): Column = xj(j) < lit(thr)
    // bucket = first md5 hex nibble of the salted id: 16 buckets,
    // independent of the %-5 eval split by the salt
    val bkt = conv(substring(md5(concat(lit("lc:"),
      col("doc_id").cast("string"))), 1, 1), 16, 10).cast("long")

    val cellAggs = Seq(count(lit(1)).as("n"), sum(col("y")).as("p")) ++
      dtreeThr.zipWithIndex.flatMap { case ((j, thr), i) => Seq(
        sum(when(below(j, thr), 1L).otherwise(0L)).as(s"n$i"),
        sum(when(below(j, thr), col("y")).otherwise(0L)).as(s"p$i")) }
    val byBkt = feats.filter(col("doc_id") % 5 =!= 0)
      .groupBy(bkt.as("bkt")).agg(cellAggs.head, cellAggs.tail: _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    val idx = dtreeThr.zipWithIndex.toMap

    case class Stump(feat: Long, thr: Long, labL: Long, labR: Long)
    val stumps: Seq[(Long, Long, Stump)] = lcFracs.map { f =>
      val rows = (0L until f).flatMap(byBkt.get)
      val n = rows.map(r => BigInt(r.getLong(1))).sum
      val p = rows.map(r => BigInt(r.getLong(2))).sum
      def cells(j: Int, thr: Long): (BigInt, BigInt) = {
        val i = idx((j, thr))
        (rows.map(r => BigInt(r.getLong(3 + 2 * i))).sum,
          rows.map(r => BigInt(r.getLong(4 + 2 * i))).sum)
      }
      val st = dtreeBest(cells, n, p) match {
        case Some((j, thr)) =>
          val (nl, pl) = cells(j, thr)
          Stump(j.toLong, thr, dtreeLabel(nl, pl),
            dtreeLabel(n - nl, p - pl))
        case None =>
          val lab = dtreeLabel(n, p)
          Stump(0L, -1L, lab, lab)
      }
      (f, n.toLong, st)
    }

    def branch(st: Stump): Column =
      if (st.feat == 0L) lit(st.labL)
      else when(below(st.feat.toInt, st.thr), lit(st.labL))
        .otherwise(lit(st.labR))
    // one exploded eval scan scores all fractions
    val perF = stumps.map { case (f, _, st) =>
      struct(lit(f).as("frac_x16"), branch(st).as("y_hat")) }
    val conf = feats.filter(col("doc_id") % 5 === 0)
      .select(col("doc_id"), col("y"),
        explode(array(perF: _*)).as("e"))
      .groupBy(col("e.frac_x16").as("frac_x16"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("y") === col("e.y_hat"), 1L).otherwise(0L))
          .as("n_correct"),
        coalesce(sum(when(col("e.y_hat") === 1L, col("doc_id"))), lit(0L))
          .as("pos_id_sum"))
    val desc = stumps
      .map { case (f, nTr, st) => (f, nTr, st.feat, st.thr, st.labL, st.labR) }
      .toDF("frac_x16", "n_train", "feat", "thr", "lab_l", "lab_r")
    conf.join(broadcast(desc), Seq("frac_x16"))
      .withColumn("acc_ppm", expr("n_correct * 1000000 div n_test"))
      .select("frac_x16", "n_train", "feat", "thr", "lab_l", "lab_r",
        "n_test", "n_correct", "pos_id_sum", "acc_ppm")
      .orderBy("frac_x16")
  }

  // ──────────── chi-squared feature screening (L80) ────────────

  /** Scale for [[q_chi2]]'s φ² output — ppm of the mean-square
    * contingency (χ²/N ∈ [0,1]), shared verbatim with the oracle.
    * φ² instead of raw χ² keeps the integer arithmetic inside
    * HUGEINT/DECIMAL(38) bounds through sf100 (numerator
    * (ad−bc)²·10⁶ ≤ (N²/4)²·10⁶ ≈ 4·10³⁵ at N = 5·10⁷).
    */
  private[graft] val chi2Scale = 1000000L

  /** Chi-squared (φ²) feature screening over the fixed indicator
    * grid — the filter-method companion of [[q_auc]]'s ranking
    * screen: each of the 20 grid candidates (x_j < thr) forms a 2×2
    * contingency table against the quality label, ranked by the
    * exact mean-square contingency φ² = (ad−bc)²/(row·col margins).
    *
    * Scale shape: ONE 42-cell partial-combining aggregate (the
    * q_dtree level-0 frame verbatim) reduces the corpus to the
    * bounded cell row; φ² and the ranking are driver-side exact
    * BigInt over ≤20 candidates, emitted as a literal report — one
    * corpus scan total, model traffic 42 longs. Degenerate margins
    * (constant indicator or constant label) rank last with the φ²=0
    * sentinel, so the contract is total.
    *
    * Output: one row per candidate — rank (by φ² desc with the
    * (j, thr) tie-break), feature, threshold, the four exact table
    * cells, and φ² in ppm (integer div) — the whole screen
    * hash-gates.
    */
  def q_chi2(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val raw = docShape(s, dir)
    def xj(j: Int): Column = if (j == 1) col("x1") else col("x2")
    val cellAggs = Seq(count(lit(1)).as("n"), sum(col("y")).as("p")) ++
      dtreeThr.zipWithIndex.flatMap { case ((j, thr), i) => Seq(
        sum(when(xj(j) < lit(thr), 1L).otherwise(0L)).as(s"n$i"),
        sum(when(xj(j) < lit(thr), col("y")).otherwise(0L)).as(s"p$i")) }
    val r = raw.agg(cellAggs.head, cellAggs.tail: _*).collect()(0)
    val n = BigInt(r.getLong(0))
    val p = BigInt(r.getLong(1))
    val scored = dtreeThr.zipWithIndex.map { case ((j, thr), i) =>
      val nl = BigInt(r.getLong(2 + 2 * i))
      val a = BigInt(r.getLong(3 + 2 * i)) // x<thr ∧ y=1
      val b = nl - a                       // x<thr ∧ y=0
      val c = p - a                        // x≥thr ∧ y=1
      val d = (n - nl) - c                 // x≥thr ∧ y=0
      val den = nl * (n - nl) * p * (n - p)
      val phi2 =
        if (den == 0) BigInt(0)
        else {
          val diff = a * d - b * c
          diff * diff * chi2Scale / den
        }
      (j.toLong, thr, a, b, c, d, phi2)
    }
    val ranked = scored
      .sortBy { case (j, thr, _, _, _, _, phi2) => (-phi2, j, thr) }
      .zipWithIndex
      .map { case ((j, thr, a, b, c, d, phi2), i) =>
        (i.toLong + 1, j, thr, a.toLong, b.toLong, c.toLong, d.toLong,
          phi2.toLong)
      }
    ranked.toDF("rank", "feat", "thr", "n_lt_pos", "n_lt_neg",
      "n_ge_pos", "n_ge_neg", "phi2_ppm")
      .orderBy("rank")
  }

  // ──────────────── k-fold cross-validation (L79) ────────────────

  /** Fold count for [[q_crossval]] — shared verbatim with the oracle. */
  private[graft] val cvFolds = 5

  /** 5-fold cross-validated stump — the model-SELECTION muscle next
    * to the seven trainers: every fold's model is fit on the other
    * four folds and evaluated on its own, so the reported accuracy is
    * an out-of-sample estimate with no split spent (the L77 OOB
    * argument, made systematic).
    *
    * Scale shape — the reason CV is cheap here when the naive form is
    * k× a full fit: ONE fold-grouped 42-cell aggregate produces every
    * fold's TRAINING cells by subtraction (train_k = global − fold_k;
    * the grouped partial-combine is the same map-side work as one
    * ungrouped fit, just k reduce rows), the per-fold argmin is
    * driver-side exact BigInt over ≤20 candidates ([[dtreeBest]], the
    * q_dtree objective verbatim), and scoring is a SECOND single scan
    * with each doc routed to its own fold's broadcast stump — two
    * corpus scans total for all k fits + k evals, independent of k.
    *
    * Output: one row per fold — stump descriptor (feature 0 /
    * threshold −1 sentinel when a fold's train set is pure or
    * unsplittable, labels falling back to the train majority), test
    * count, exact correct count, id-sum checksum, accuracy in ppm
    * (integer div), and the cross-fold mean ppm (exact integer mean
    * of the 5 per-fold ppms) — the whole selection report hash-gates.
    */
  def q_crossval(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val feats = graft.Caches.staged(docShape(s, dir))
    def xj(j: Int): Column = if (j == 1) col("x1") else col("x2")
    def below(j: Int, thr: Long): Column = xj(j) < lit(thr)
    val foldC = (col("doc_id") % cvFolds).cast("long")

    // one fold-grouped cell aggregate: cvFolds rows × (2 + 2·|grid|)
    val cellAggs = Seq(count(lit(1)).as("n"), sum(col("y")).as("p")) ++
      dtreeThr.zipWithIndex.flatMap { case ((j, thr), i) => Seq(
        sum(when(below(j, thr), 1L).otherwise(0L)).as(s"n$i"),
        sum(when(below(j, thr), col("y")).otherwise(0L)).as(s"p$i")) }
    val byFold = feats.groupBy(foldC.as("fold"))
      .agg(cellAggs.head, cellAggs.tail: _*)
      .collect().map(r => r.getLong(0) -> r).toMap
    val idx = dtreeThr.zipWithIndex.toMap
    def nOf(k: Long): BigInt =
      byFold.get(k).map(r => BigInt(r.getLong(1))).getOrElse(BigInt(0))
    def pOf(k: Long): BigInt =
      byFold.get(k).map(r => BigInt(r.getLong(2))).getOrElse(BigInt(0))
    def cellOf(k: Long, j: Int, thr: Long): (BigInt, BigInt) =
      byFold.get(k).map { r =>
        val i = idx((j, thr))
        (BigInt(r.getLong(3 + 2 * i)), BigInt(r.getLong(4 + 2 * i)))
      }.getOrElse((BigInt(0), BigInt(0)))
    val folds = (0L until cvFolds.toLong).toSeq
    val nG = folds.map(nOf).sum
    val pG = folds.map(pOf).sum
    def cellG(j: Int, thr: Long): (BigInt, BigInt) = {
      val cs = folds.map(cellOf(_, j, thr))
      (cs.map(_._1).sum, cs.map(_._2).sum)
    }

    // per-fold stump: train cells by subtraction, argmin on the driver
    case class Stump(feat: Long, thr: Long, labL: Long, labR: Long)
    val stumps: Map[Long, Stump] = folds.map { k =>
      val nTr = nG - nOf(k)
      val pTr = pG - pOf(k)
      def trCells(j: Int, thr: Long): (BigInt, BigInt) = {
        val (gl, gp) = cellG(j, thr)
        val (fl, fp) = cellOf(k, j, thr)
        (gl - fl, gp - fp)
      }
      k -> (dtreeBest(trCells, nTr, pTr) match {
        case Some((j, thr)) =>
          val (nl, pl) = trCells(j, thr)
          Stump(j.toLong, thr, dtreeLabel(nl, pl),
            dtreeLabel(nTr - nl, pTr - pl))
        case None =>
          val lab = dtreeLabel(nTr, pTr)
          Stump(0L, -1L, lab, lab)
      })
    }.toMap

    // scoring scan: each doc routed to its own fold's broadcast stump
    def branch(st: Stump): Column =
      if (st.feat == 0L) lit(st.labL)
      else when(below(st.feat.toInt, st.thr), lit(st.labL))
        .otherwise(lit(st.labR))
    val yHat = folds.tail.foldLeft(
      when(foldC === folds.head, branch(stumps(folds.head)))) {
      (acc, k) => acc.when(foldC === k, branch(stumps(k)))
    }
    val perFold = feats
      .select(foldC.as("fold"), col("doc_id"), col("y"), yHat.as("y_hat"))
      .groupBy("fold")
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("y") === col("y_hat"), 1L).otherwise(0L))
          .as("n_correct"),
        sum(col("doc_id")).as("id_sum"))
    val desc = stumps.toSeq.sortBy(_._1)
      .map { case (k, st) => (k, st.feat, st.thr, st.labL, st.labR) }
      .toDF("fold", "feat", "thr", "lab_l", "lab_r")
    perFold.join(broadcast(desc), Seq("fold"))
      .withColumn("acc_ppm", expr("n_correct * 1000000 div n_test"))
      .withColumn("mean_acc_ppm",
        expr(s"sum(acc_ppm) over () div $cvFolds"))
      .select("fold", "feat", "thr", "lab_l", "lab_r", "n_test",
        "n_correct", "id_sum", "acc_ppm", "mean_acc_ppm")
      .orderBy("fold")
  }

  def q_zipf(s: SparkSession, dir: String): DataFrame = {
    val top = docTokens(s, dir).groupBy("tok")
      .agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("tok"))
      .limit(zipfTopN)
    val w = Window.orderBy(col("c").desc, col("tok"))
    val pts = top.withColumn("rk", row_number().over(w))
      .select(
        round(log(col("rk").cast("double")), 6).cast("decimal(18,6)").as("x"),
        round(log(col("c").cast("double")), 6).cast("decimal(18,6)").as("y"))
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val cov = n * d("sxy") - d("sx") * d("sy")
    val vx = n * d("sxx") - d("sx") * d("sx")
    pts.agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum((col("x") * col("y")).cast("decimal(30,12)")).as("sxy"),
        sum((col("x") * col("x")).cast("decimal(30,12)")).as("sxx"))
      .select(col("n").as("n_terms"),
        round(cov / vx, 6).as("slope"),
        round((d("sy") - cov / vx * d("sx")) / n, 6).as("intercept"))
  }
}
