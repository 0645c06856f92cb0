package graft

/** DuckDB oracle SQL for every declared query (SURVEY §2.12).
  *
  * Parity rules baked into each statement (mirroring the Spark side
  * in graft.operators.*):
  *  - identical column NAMES (driver sorts columns by name, then
  *    hashes values) and identical logical types: computed integers
  *    are BIGINT on both sides (DuckDB len()/count()/rank() are
  *    BIGINT, so Spark int-typed results are cast to long there);
  *  - every statement ends in an ORDER BY that makes the full row
  *    sequence deterministic; nullable sort keys are coalesced first
  *    (Spark sorts NULLS FIRST, DuckDB NULLS LAST);
  *  - double aggregation goes through DECIMAL casts (exact,
  *    order-independent) or derives from exact operands;
  *  - regexp_replace carries the 'g' flag (DuckDB is first-match by
  *    default; Spark replaces all);
  *  - float vector math folds sequentially in DOUBLE on both engines
  *    (list_sum(list_transform(...)) ≡ aggregate(transform(...))).
  */
object Oracles {

  // shared fragments ───────────────────────────────────────────────
  private val tokL = "list_filter(string_split(text, ' '), x -> length(x) > 0)"
  private def guard(v: String) =
    s"(lower(trim(CAST($v AS VARCHAR))) NOT LIKE '%inf%' AND " +
      s"lower(trim(CAST($v AS VARCHAR))) NOT LIKE '%nan%' AND " +
      s"lower(trim(CAST($v AS VARCHAR))) NOT LIKE '%e%')"
  private val longRe = """^[+-]?[0-9]{1,18}$"""
  private val dblRe = """^[+-]?([0-9]+\.?[0-9]*|\.[0-9]+)$"""
  private def dot(a: String, b: String) =
    s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))"
  private def norm2(a: String) =
    s"list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))"
  // shared curation-gate snippets (DuckDB twins of TextOps.predLangC /
  // scoreC — one definition, interpolated into every consuming oracle)
  private val predLangSql =
    s"""CASE WHEN len($tokL) > 0 AND len(list_filter($tokL,
       |      x -> list_contains(['the','a','of','and','to','in'],
       |        lower(x)))) * 20
       |        >= len($tokL)
       |    THEN 'en' ELSE 'unk' END""".stripMargin
  private val scoreSql =
    s"""(CASE WHEN len($tokL) BETWEEN 50 AND 1000 THEN 0.5 ELSE 0.0 END
       |   + CASE WHEN length(replace(text, ' ', ''))
       |       BETWEEN len($tokL) * 3 AND len($tokL) * 10
       |     THEN 0.5 ELSE 0.0 END)""".stripMargin

  private val shinglesExpr =
    "list_transform(range(greatest(len(l)-2, 0)), i -> concat_ws(' ', l[i+1], l[i+2], l[i+3]))"
  private val shinglesCte =
    s"""WITH toks AS (SELECT doc_id, $tokL AS l FROM documents),
       |sh AS (SELECT DISTINCT doc_id, shingle FROM
       |  (SELECT doc_id, unnest($shinglesExpr) AS shingle FROM toks))""".stripMargin

  // simhash: 64-bit token hash from md5's first 16 hex chars, kept as
  // two 32-bit halves (hh = chars 1-8, hl = chars 9-16) — mirrors
  // TextFns.tokenHashHalf / TextOps.simhashSignatures geometry
  // (simhashBits=64; banding geometry interpolated below)
  private def hexDigit(i: Int) =
    s"(strpos('0123456789abcdef', substr(md5(tok), $i, 1)) - 1)"
  private def hexWord(start: Int) = (0 until 8)
    .map(k => s"${hexDigit(start + k)}*${1L << (4 * (7 - k))}")
    .mkString("(", " + ", ")")
  private val voteCols = (0 until 64)
    .map { b =>
      val w = if (b < 32) "hl" else "hh"
      s"SUM(CASE WHEN ($w >> ${b % 32}) & 1 = 1 THEN 1 ELSE -1 END) AS v$b"
    }
    .mkString(", ")
  private def simhashAssemble(bits: Range, base: Int) = bits
    .map(b => s"(CASE WHEN v$b > 0 THEN ${1L << (b - base)} ELSE 0 END)")
    .mkString(" + ")
  private val simhashCte =
    s"""WITH toks AS (SELECT doc_id, unnest($tokL) AS tok FROM documents),
       |h AS (SELECT doc_id, CAST(${hexWord(1)} AS BIGINT) AS hh,
       |  CAST(${hexWord(9)} AS BIGINT) AS hl FROM toks),
       |votes AS (SELECT doc_id, $voteCols FROM h GROUP BY doc_id),
       |sig AS (SELECT doc_id,
       |  CAST(${simhashAssemble(32 until 64, 32)} AS BIGINT) AS sim_hi,
       |  CAST(${simhashAssemble(0 until 32, 0)} AS BIGINT) AS sim_lo FROM votes)""".stripMargin
  // Manku block-combination banding — the block layout and the
  // 3-of-6 combination list are interpolated from TextOps'
  // simhashBlocks/simhashCombos, so the two engines' candidate
  // geometries cannot desynchronize (the q_dedup_span discipline)
  private val simhashBlockCols =
    graft.operators.TextOps.simhashBlocks.zipWithIndex
      .map { case ((hi, start, w), i) =>
        val word = if (hi) "sim_hi" else "sim_lo"
        s"(($word >> $start) & ${(1L << w) - 1}) AS b$i"
      }.mkString(", ")
  private val simhashBlkCte =
    s"blk AS (SELECT doc_id, sim_hi, sim_lo, $simhashBlockCols FROM sig)"
  private val simhashBandSelects = {
    val lane = graft.operators.TextOps.simhashLaneBits
    graft.operators.TextOps.simhashCombos.zipWithIndex.map { case (c, j) =>
      val key = c.zipWithIndex
        .map { case (bi, pos) => s"b$bi * ${1L << (lane * (c.size - 1 - pos))}" }
        .mkString(" + ")
      s"SELECT doc_id, sim_hi, sim_lo, $j AS band, $key AS bucket FROM blk"
    }.mkString("\nUNION ALL ")
  }

  private val minhashLegs = (0 until 8)
    .map(j => s"min(md5(concat('$j:', shingle))) AS h$j").mkString(", ")

  /** The BPE trainer's unrolled rounds (w0 → w_n with per-round pair
    * counts p_r, argmax b_r, corpus stat s_r), shared by the
    * q_bpe_train and q_bpe_encode oracles. `tok` is carried through
    * every round so the encode oracle can join the corpus back on it.
    */
  private lazy val bpeTrainCtes: String = {
    val rounds = graft.operators.TextOps.bpeTrainMerges
    val roundCtes = (1 to rounds).map { r =>
      s"""p$r AS MATERIALIZED (SELECT pr AS pair,
         |    CAST(sum(wc) AS BIGINT) AS cnt FROM (
         |  SELECT wc, unnest(list_transform(range(greatest(len(arr) - 1, 0)),
         |      i -> arr[i + 1] || ' ' || arr[i + 2])) AS pr
         |  FROM (SELECT wc, string_split(trim(seg), ' ') AS arr
         |        FROM w${r - 1})) GROUP BY 1),
         |b$r AS MATERIALIZED (SELECT pair, replace(pair, ' ', '') AS merged,
         |  cnt FROM p$r ORDER BY cnt DESC, pair LIMIT 1),
         |w$r AS MATERIALIZED (SELECT tok, wc,
         |  replace(replace(seg, ' ' || pair || ' ', ' ' || merged || ' '),
         |    ' ' || pair || ' ', ' ' || merged || ' ') AS seg
         |  FROM w${r - 1} CROSS JOIN b$r),
         |s$r AS (SELECT CAST(sum(wc * len(string_split(trim(seg), ' ')))
         |  AS BIGINT) AS symbols_after FROM w$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH toks AS (SELECT unnest($tokL) AS tok FROM documents),
       |w0 AS MATERIALIZED (SELECT tok, CAST(count(*) AS BIGINT) AS wc,
       |  ' ' || array_to_string(string_split(tok, ''), ' ') || ' ' AS seg
       |  FROM toks GROUP BY tok),
       |$roundCtes""".stripMargin
  }

  /** Deletion-neighborhood fuzzy candidates ending in a
    * `cand(term, tok)` CTE — shared by q_fuzzy_join and
    * q_entity_resolve.
    */
  private lazy val fuzzyCandCte =
    s"""WITH tk AS (SELECT DISTINCT unnest($tokL) AS tok FROM documents),
       |dict AS (SELECT DISTINCT substr(tok, 1, 1) || substr(tok, 3) AS term
       |  FROM tk WHERE length(tok) >= 4
       |    AND substr(md5('dict:' || tok), 1, 2) < '80'),
       |dv AS (SELECT DISTINCT term, v FROM (
       |  SELECT term, unnest(list_prepend(term,
       |    list_transform(range(1, length(term) + 1),
       |      i -> substr(term, 1, i - 1) || substr(term, i + 1)))) AS v
       |  FROM dict)),
       |vv AS (SELECT DISTINCT tok, v FROM (
       |  SELECT tok, unnest(list_prepend(tok,
       |    list_transform(range(1, length(tok) + 1),
       |      i -> substr(tok, 1, i - 1) || substr(tok, i + 1)))) AS v
       |  FROM tk)),
       |cand AS (SELECT DISTINCT term, tok FROM dv JOIN vv USING (v))""".stripMargin

  /** Recursive connected-component assignment over the MinHash-LSH
    * candidate graph, ending in an `assign(doc_id, cluster_id)` CTE —
    * shared by q_dedup_cluster and q_cluster_stats.
    */
  /** LSH candidate pairs + symmetric edge list — the shared prefix of
    * every oracle that walks the near-dup graph (cluster assignment,
    * k-core peel, per-source duplication share).
    */
  private lazy val candEdgesCtes =
    s"""sig AS (SELECT doc_id, $minhashLegs FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, 0 AS band, md5(concat(h0, h1)) AS bucket FROM sig
       |  UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM sig
       |  UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM sig
       |  UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM sig),
       |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
       |edges AS MATERIALIZED (SELECT a_id AS src, b_id AS dst FROM cand
       |  UNION ALL SELECT b_id, a_id FROM cand)""".stripMargin

  private lazy val clusterAssignCte =
    s"""${shinglesCte.replace("WITH ", "WITH RECURSIVE ")},
       |$candEdgesCtes,
       |reach(id, r) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
       |assign AS (
       |  SELECT d.doc_id, coalesce(m.cluster_id, d.doc_id) AS cluster_id
       |  FROM documents d LEFT JOIN
       |    (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id) m
       |    ON d.doc_id = m.id)""".stripMargin

  // JL projection twin: the SAME ±1 literals as the Spark plan
  // (graft.functions.RandomProjection.signs) — no per-row hashing in
  // either engine, so parity rests only on the sequential fold +
  // round(,4) discipline already proven by q_sim_topk/q_vec_norm
  private val projCols = (0 until graft.functions.RandomProjection.outDims)
    .map { j =>
      val lits = graft.functions.RandomProjection.signs(j)
        .map(v => if (v > 0) "1.0" else "-1.0").mkString("[", ", ", "]")
      // + 0.0 canonicalizes IEEE -0.0 (same discipline as the Spark
      // side — the engines disagree on the sign of an exactly-zero sum)
      s"round(list_sum(list_transform(range(1, ${graft.functions.RandomProjection.srcDims + 1}), i -> embedding[i] * ($lits)[i])), 4) + 0.0 AS p$j"
    }.mkString(",\n  ")

  val sql: Map[String, String] = sqlBase ++ Map(
    // the single-scan window rewrite must give the correlated form's
    // answer exactly — one oracle, two independent Spark plans
    "q_subquery_scalar_1scan" -> sqlBase("q_subquery_scalar"),
    // streaming fMGWS twins (Streams.q_stream_markov/_retention):
    // the state machine's final emissions must agree bit-for-bit with
    // the batch operator, so the oracle IS the batch twin's oracle
    "q_stream_markov" -> sqlBase("q_markov"),
    "q_stream_retention" -> sqlBase("q_retention"),
    "q_stream_paths" -> sqlBase("q_paths"),
    // the PSI monitor's drain lands in batch q_psi_drift's exact
    // output shape (shared psiFromBinned arithmetic) — one oracle
    "q_stream_psi" -> sqlBase("q_psi_drift"),
    // ingest-time content-hash dedup: the state machine's final
    // (min doc_id, copies) per md5 must equal the batch group-by
    "q_stream_dedup" -> sqlBase("q_text_dedup"),
    // stream-stream interval join: matched pairs are emitted exactly
    // once regardless of batch slicing, so the drained + projected
    // result must equal the batch self-join — one oracle, two plans
    "q_stream_join" -> sqlBase("q_join_followup"),
    // q_stream_sessionize reduces to a bounded histogram (its raw
    // emission volume is session-count-sized, unlike the other
    // twins), so its oracle is the batch gap-rule CTE aggregated to
    // the same shape; date_diff('second') is the floor-second
    // difference, matching the snapshots' cast-to-long arithmetic
    "q_stream_sessionize" ->
      """WITH sess AS (
        |  SELECT user_id, session_id, min(ts) AS session_start,
        |    max(ts) AS session_end, count(*) AS n_events
        |  FROM (SELECT user_id, ts, event_id,
        |      CAST(sum(new_session) OVER (PARTITION BY user_id
        |        ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |    FROM (SELECT user_id, ts, event_id,
        |        CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |               OR date_diff('second',
        |                    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |                    ts) >= 1800
        |             THEN 1 ELSE 0 END AS new_session
        |      FROM events))
        |  GROUP BY user_id, session_id)
        |SELECT n_events, count(*) AS n_sessions,
        |  CAST(sum(date_diff('second', session_start, session_end)) AS BIGINT)
        |    AS sum_duration_s
        |FROM sess GROUP BY n_events ORDER BY n_events""".stripMargin,
    // complete-mode drain of the tumbling-window aggregate: the final
    // emission IS the batch hour bucketing
    "q_stream_windowed" -> sqlBase("q_time_bucket"),
    // statefulLww's final winners profiled per type; the decimal-exact
    // value sum moves if any user's winner differs from the batch
    // ranking window's
    "q_stream_lww" ->
      """WITH w AS (
        |  SELECT event_type, value FROM (
        |    SELECT event_type, value,
        |      row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn
        |    FROM events) WHERE rn = 1)
        |SELECT event_type, count(*) AS n_winners,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4)
        |    AS sum_value
        |FROM w GROUP BY event_type ORDER BY event_type""".stripMargin)

  private lazy val sqlBase: Map[String, String] = Map(
    // ── scans / predicates ─────────────────────────────────────────
    "q_scan_project" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_extendedprice
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_extendedprice""".stripMargin,

    "q_filter_eq" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
        |FROM lineitem WHERE l_returnflag = 'R'
        |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin,

    "q_filter_nonempty" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE length(trim(text)) > 0 AND source <> 'src0'
        |ORDER BY doc_id""".stripMargin,

    "q_filter_range" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_discount
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 20 AND l_linenumber IN (1, 2, 3)
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin,

    // ── sort / top-k ───────────────────────────────────────────────
    "q_topk_desc" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q_topk_offset" ->
      """SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 50 OFFSET 50""".stripMargin,

    // ── aggregations ───────────────────────────────────────────────
    "q_groupby_count" ->
      """SELECT l_returnflag, l_linestatus, count(*) AS cnt FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_agg_sum" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_price,
        |  min(l_extendedprice) AS min_price,
        |  max(l_extendedprice) AS max_price,
        |  count(*) AS cnt,
        |  round(round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) / count(*), 4) AS avg_qty
        |FROM lineitem GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q_agg_distinct" ->
      """SELECT l_returnflag, count(DISTINCT l_partkey) AS nd_part,
        |  count(DISTINCT l_suppkey) AS nd_supp, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_agg_stats" ->
      """SELECT l_returnflag, n,
        |  round((s2 - s1*s1/n) / (n-1), 4) AS var_qty,
        |  round(sqrt((s2 - s1*s1/n) / (n-1)), 4) AS std_qty
        |FROM (SELECT l_returnflag,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS s1,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS s2,
        |    count(*) AS n
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    // tie-robust twin of the Spark struct-extrema: lexicographic
    // (value, event_id) struct min/max — value ties break by id on
    // both engines identically (DuckDB arg_max cannot take a
    // composite ordering value, struct_pack max/min can)
    "q_agg_argminmax" ->
      """SELECT event_type,
        |  (max(struct_pack(v := value, id := event_id))).id AS max_event,
        |  (min(struct_pack(v := value, id := event_id))).id AS min_event,
        |  round(max(value), 4) AS max_value,
        |  round(min(value), 4) AS min_value,
        |  count(*) AS cnt
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // exact decimal co-moments cast to double ONCE, then identical
    // closed-form double arithmetic — same determinism discipline as
    // q_agg_stats (streaming corr/covar_samp merge partition-ordered)
    "q_agg_corr" ->
      """SELECT l_returnflag, n,
        |  round((n*sxy - sx*sy) / sqrt((n*sxx - sx*sx) * (n*syy - sy*sy)), 4) AS corr_qp,
        |  round((n*sxy - sx*sy) / (n*(n-1)), 2) AS covar_qp,
        |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope_pq
        |FROM (SELECT l_returnflag, count(*) AS n,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxy,
        |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS sxx,
        |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |ORDER BY l_returnflag""".stripMargin,

    "q_agg_quantile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 2) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 2) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // VERBATIM q_agg_quantile's oracle: same contract, independent
    // rank-selection plan on the Spark side (Relational.scala)
    "q_quantile_scalable" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_extendedprice, 0.25), 2) AS p25,
        |  round(quantile_cont(l_extendedprice, 0.5), 2) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.75), 2) AS p75
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q_time_parts" ->
      """SELECT event_id, CAST(year(ts) AS BIGINT) AS y,
        |  CAST(month(ts) AS BIGINT) AS m, CAST(day(ts) AS BIGINT) AS d,
        |  CAST(hour(ts) AS BIGINT) AS h
        |FROM events ORDER BY event_id""".stripMargin,

    "q_pivot" ->
      """SELECT o_orderpriority,
        |  count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS n_F,
        |  count(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS n_O,
        |  count(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS n_P,
        |  round(CAST(sum(CASE WHEN o_orderstatus = 'F' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS rev_F,
        |  round(CAST(sum(CASE WHEN o_orderstatus = 'O' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS rev_O,
        |  round(CAST(sum(CASE WHEN o_orderstatus = 'P' THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE), 2) AS rev_P
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // GROUPING() distinguishes subtotal rows from genuine NULL key
    // values (coalesce alone would conflate them on nullable keys)
    "q_agg_rollup" ->
      """SELECT
        |  CASE WHEN GROUPING(l_returnflag) = 1 THEN 'ALL'
        |       ELSE coalesce(l_returnflag, 'NULL') END AS returnflag,
        |  CASE WHEN GROUPING(l_linestatus) = 1 THEN 'ALL'
        |       ELSE coalesce(l_linestatus, 'NULL') END AS linestatus,
        |  count(*) AS cnt,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,

    "q_agg_cube" ->
      """SELECT
        |  CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
        |       ELSE coalesce(o_orderstatus, 'NULL') END AS status,
        |  CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
        |       ELSE coalesce(o_orderpriority, 'NULL') END AS priority,
        |  count(*) AS cnt,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS rev
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, priority""".stripMargin,

    "q_profile" -> {
      def one(c: String, expr: String) =
        s"""SELECT '$c' AS col_name, count($expr) AS n_nonnull,
           |  count(*) - count($expr) AS n_null,
           |  count(DISTINCT $expr) AS n_distinct,
           |  CAST(min($expr) AS VARCHAR) AS min_str,
           |  CAST(max($expr) AS VARCHAR) AS max_str FROM customer""".stripMargin
      Seq(
        one("c_acctbal", "CAST(c_acctbal AS DECIMAL(18,2))"),
        one("c_custkey", "c_custkey"),
        one("c_mktsegment", "c_mktsegment"),
        one("c_name", "c_name"),
        one("c_nationkey", "c_nationkey"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },

    // ── joins ──────────────────────────────────────────────────────
    "q_join_enrich" ->
      """SELECT l_orderkey, l_linenumber, o_custkey, o_orderdate, l_extendedprice
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |ORDER BY l_orderkey, l_linenumber, l_extendedprice""".stripMargin,

    "q_join_left" ->
      """SELECT c_custkey, coalesce(o_orderkey, -1) AS o_orderkey,
        |  coalesce(o_orderstatus, 'NONE') AS o_orderstatus
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |ORDER BY c_custkey, o_orderkey""".stripMargin,

    "q_join_multi" ->
      """SELECT r_name, n_name, count(*) AS cnt,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,

    "q_join_star" ->
      """SELECT p_brand, s_name, count(*) AS cnt,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue,
        |  min(p_retailprice) AS min_retail
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey
        |JOIN supplier ON l_suppkey = s_suppkey
        |GROUP BY p_brand, s_name ORDER BY p_brand, s_name""".stripMargin,

    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    "q_join_semi" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_totalprice > 100000.0)
        |ORDER BY c_custkey""".stripMargin,

    // J8 subquery forms: the oracle states the IDENTICAL SQL shapes —
    // DuckDB decorrelates them its own way; the semantics must agree
    "q_subquery_scalar" ->
      """SELECT l.l_returnflag AS rflag, count(*) AS n_small,
        |  round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4)
        |    AS rev
        |FROM lineitem l
        |WHERE l.l_quantity * 5 < (SELECT sum(l2.l_quantity) FROM lineitem l2
        |                          WHERE l2.l_partkey = l.l_partkey)
        |GROUP BY l.l_returnflag ORDER BY rflag""".stripMargin,

    "q_subquery_exists" ->
      """SELECT c.c_mktsegment AS segment, count(*) AS n_customers,
        |  round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 4)
        |    AS bal
        |FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_orderpriority = '1-URGENT')
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F')
        |GROUP BY c.c_mktsegment ORDER BY segment""".stripMargin,

    "q_subquery_in" ->
      """SELECT p.p_brand AS brand, count(*) AS n_parts
        |FROM part p
        |WHERE p.p_partkey IN (SELECT l_partkey FROM lineitem
        |                      WHERE l_returnflag = 'R')
        |  AND p.p_partkey NOT IN (SELECT l_partkey FROM lineitem
        |                          WHERE l_quantity >= 49)
        |GROUP BY p.p_brand ORDER BY brand""".stripMargin,

    // the NAIVE range join — DuckDB plans it with its own IEJoin;
    // Spark reaches the same values through RangeJoinRule's bucketed
    // rewrite, which must be invisible here
    "q_join_range_auto" ->
      """WITH hot AS (
        |  SELECT win_start_s, win_start_s + 3599 AS win_end_s FROM (
        |    SELECT (CAST(floor(epoch(ts)) AS BIGINT) // 3600) * 3600
        |        AS win_start_s,
        |      count(*) AS n_in_hour
        |    FROM events GROUP BY 1
        |    ORDER BY n_in_hour DESC, win_start_s LIMIT 20))
        |SELECT h.win_start_s, count(*) AS n_events
        |FROM events e JOIN hot h
        |  ON CAST(floor(epoch(e.ts)) AS BIGINT) >= h.win_start_s
        | AND CAST(floor(epoch(e.ts)) AS BIGINT) <= h.win_end_s
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_lateral_topn" ->
      """SELECT c.c_mktsegment AS segment, count(*) AS n_top_orders,
        |  round(CAST(sum(CAST(t.o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
        |    AS top2_rev
        |FROM customer c, LATERAL (
        |  SELECT o_totalprice FROM orders o
        |  WHERE o.o_custkey = c.c_custkey
        |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |GROUP BY c.c_mktsegment ORDER BY segment""".stripMargin,

    // same linear recursion over the trailing-24-month window; DuckDB
    // floor-divides with `//` (operands nonnegative, so it agrees
    // with Spark's `div` truncation) and subtracts INTERVAL 23 MONTH
    // where Spark's spine uses add_months(-23) — both land on the
    // same first-of-month boundary
    "q_recursive_decay" ->
      """WITH RECURSIVE monthly AS (
        |  SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        |      AS rev_cents
        |  FROM orders GROUP BY 1
        |  HAVING CAST(date_trunc('month', o_orderdate) AS DATE) >=
        |    (SELECT CAST(date_trunc('month', max(o_orderdate)) AS DATE)
        |       - INTERVAL 23 MONTH FROM orders)),
        |idx AS (SELECT mon, rev_cents,
        |    CAST(row_number() OVER (ORDER BY mon) AS BIGINT) AS i
        |  FROM monthly),
        |bal(i, mon, rev_cents, balance_cents) AS (
        |  SELECT i, mon, rev_cents, rev_cents FROM idx WHERE i = 1
        |  UNION ALL
        |  SELECT x.i, x.mon, x.rev_cents,
        |    (b.balance_cents * 99) // 100 + x.rev_cents
        |  FROM bal b JOIN idx x ON x.i = b.i + 1)
        |SELECT mon, rev_cents, balance_cents FROM bal
        |ORDER BY mon""".stripMargin,

    // plain range-join statement of q_join_range's semantics — the
    // Spark side reaches the same result through the bucketed
    // equi-join rewrite
    "q_join_range" ->
      """SELECT e.event_id, CAST(count(p.ts) AS BIGINT) AS n_recent_purchases
        |FROM (SELECT event_id, user_id, ts FROM events
        |      WHERE event_type = 'error') e
        |LEFT JOIN (SELECT user_id, ts FROM events
        |           WHERE event_type = 'purchase') p
        |  ON p.user_id = e.user_id AND p.ts <= e.ts
        |     AND p.ts >= e.ts - INTERVAL 1 HOUR
        |GROUP BY e.event_id ORDER BY e.event_id""".stripMargin,

    // the bloom prefilter is exact-transparent (the real equi-join
    // follows it), so the oracle is the plain join with no bloom
    "q_join_bloom" ->
      """SELECT o_orderpriority, count(*) AS cnt,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 480000
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // the PLAIN join is the oracle for the salted plan — salting must
    // be invisible in the result or the hash compare fails
    "q_join_salted" ->
      """SELECT p_brand, count(*) AS n_items,
        |  round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE), 2) AS revenue
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,

    "q_join_asof" ->
      """SELECT event_id, coalesce((
        |    SELECT p.event_id FROM events p
        |    WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
        |      AND p.ts <= e.ts
        |    ORDER BY p.ts DESC, p.event_id DESC LIMIT 1), -1) AS prev_purchase_id
        |FROM (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'error') e
        |ORDER BY event_id""".stripMargin,

    // exact audience-overlap matrix (Relational.q_user_overlap): the
    // ground-truth twin of the HLL sketch form
    "q_user_overlap" ->
      """WITH t AS (SELECT DISTINCT event_type FROM events),
        |pairs AS (SELECT a.event_type AS ta, b.event_type AS tb
        |  FROM t a JOIN t b ON a.event_type < b.event_type),
        |pu AS (SELECT DISTINCT p.ta, p.tb, e.user_id, e.event_type
        |  FROM events e JOIN pairs p
        |    ON e.event_type = p.ta OR e.event_type = p.tb),
        |su AS (SELECT ta, tb, user_id, count(*) AS sides
        |  FROM pu GROUP BY ta, tb, user_id)
        |SELECT ta, tb, count(*) AS n_union,
        |  CAST(sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_inter,
        |  round(CAST(sum(CASE WHEN sides = 2 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 6) AS jaccard
        |FROM su GROUP BY ta, tb ORDER BY ta, tb""".stripMargin,

    // tolerance as-of (AsOfJoin.q_join_asof_tol): the backward match
    // is discarded when older than the shared tolerance
    "q_join_asof_tol" -> {
      val tol = graft.operators.AsOfJoin.asofTolSecs
      s"""SELECT event_id, coalesce((
         |    SELECT p.event_id FROM events p
         |    WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
         |      AND p.ts <= e.ts
         |      AND epoch_us(e.ts) - epoch_us(p.ts) <= ${tol}000000
         |    ORDER BY p.ts DESC, p.event_id DESC LIMIT 1), -1)
         |  AS prev_purchase_id_tol
         |FROM (SELECT user_id, ts, event_id FROM events
         |      WHERE event_type = 'error') e
         |ORDER BY event_id""".stripMargin
    },

    // native-operator tolerance as-of: SAME oracle as the composed
    // q_join_asof_tol — the in-merge staleness check must be
    // invisible in the values
    "q_join_asof_tol_native" -> {
      val tol = graft.operators.AsOfJoin.asofTolSecs
      s"""SELECT event_id, coalesce((
         |    SELECT p.event_id FROM events p
         |    WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
         |      AND p.ts <= e.ts
         |      AND epoch_us(e.ts) - epoch_us(p.ts) <= ${tol}000000
         |    ORDER BY p.ts DESC, p.event_id DESC LIMIT 1), -1)
         |  AS prev_purchase_id_tol
         |FROM (SELECT user_id, ts, event_id FROM events
         |      WHERE event_type = 'error') e
         |ORDER BY event_id""".stripMargin
    },

    // native-operator forward as-of: SAME oracle as the composed
    // q_join_asof_fwd — the reverse-order merge must be invisible in
    // the values
    "q_join_asof_fwd_native" ->
      """SELECT event_id, coalesce((
        |    SELECT p.event_id FROM events p
        |    WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
        |      AND p.ts >= e.ts
        |    ORDER BY p.ts ASC, p.event_id ASC LIMIT 1), -1) AS next_purchase_id
        |FROM (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'error') e
        |ORDER BY event_id""".stripMargin,

    // forward as-of (AsOfJoin.q_join_asof_fwd): first purchase at or
    // after — min (ts, event_id)
    "q_join_asof_fwd" ->
      """SELECT event_id, coalesce((
        |    SELECT p.event_id FROM events p
        |    WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
        |      AND p.ts >= e.ts
        |    ORDER BY p.ts ASC, p.event_id ASC LIMIT 1), -1) AS next_purchase_id
        |FROM (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'error') e
        |ORDER BY event_id""".stripMargin,

    // nearest as-of (AsOfJoin.q_join_asof_nearest): the same
    // backward/forward subqueries CASE-chosen by exact micros
    // distance, ties to backward — mirrors the Spark composition
    "q_join_asof_nearest" ->
      """WITH e AS (SELECT user_id, ts, event_id FROM events
        |    WHERE event_type = 'error'),
        |m AS (SELECT e.event_id, e.ts,
        |  (SELECT p.ts FROM events p WHERE p.event_type = 'purchase'
        |     AND p.user_id = e.user_id AND p.ts <= e.ts
        |   ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS bts,
        |  (SELECT p.event_id FROM events p WHERE p.event_type = 'purchase'
        |     AND p.user_id = e.user_id AND p.ts <= e.ts
        |   ORDER BY p.ts DESC, p.event_id DESC LIMIT 1) AS bid,
        |  (SELECT p.ts FROM events p WHERE p.event_type = 'purchase'
        |     AND p.user_id = e.user_id AND p.ts >= e.ts
        |   ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS fts,
        |  (SELECT p.event_id FROM events p WHERE p.event_type = 'purchase'
        |     AND p.user_id = e.user_id AND p.ts >= e.ts
        |   ORDER BY p.ts ASC, p.event_id ASC LIMIT 1) AS fid
        |  FROM e)
        |SELECT event_id,
        |  CASE WHEN bts IS NULL AND fts IS NULL THEN -1
        |       WHEN bts IS NULL THEN fid
        |       WHEN fts IS NULL THEN bid
        |       WHEN epoch_us(ts) - epoch_us(bts)
        |            <= epoch_us(fts) - epoch_us(ts) THEN bid
        |       ELSE fid END AS nearest_purchase_id
        |FROM m ORDER BY event_id""".stripMargin,

    // streaming as-of enrichment (Streams.asofEnrich): the THIRD
    // implementation sharing this oracle — composition, native
    // physical operator, and streaming state machine must all agree
    "q_stream_asof" ->
      """SELECT event_id, coalesce((
        |    SELECT p.event_id FROM events p
        |    WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
        |      AND p.ts <= e.ts
        |    ORDER BY p.ts DESC, p.event_id DESC LIMIT 1), -1) AS prev_purchase_id
        |FROM (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'error') e
        |ORDER BY event_id""".stripMargin,

    // native physical as-of join (plans/AsOfJoinExec): SAME oracle as
    // the composition form — the custom operator must be invisible in
    // the values
    "q_join_asof_native" ->
      """SELECT event_id, coalesce((
        |    SELECT p.event_id FROM events p
        |    WHERE p.event_type = 'purchase' AND p.user_id = e.user_id
        |      AND p.ts <= e.ts
        |    ORDER BY p.ts DESC, p.event_id DESC LIMIT 1), -1) AS prev_purchase_id
        |FROM (SELECT user_id, ts, event_id FROM events
        |      WHERE event_type = 'error') e
        |ORDER BY event_id""".stripMargin,

    // ── set ops ────────────────────────────────────────────────────
    "q_set_union" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |UNION SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q_set_union_all" ->
      """SELECT nationkey, count(*) AS cnt FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  UNION ALL SELECT s_nationkey FROM supplier)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,

    "q_set_except_all" ->
      """SELECT nationkey, count(*) AS cnt FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT ALL SELECT s_nationkey FROM supplier)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,

    "q_set_intersect_all" ->
      """SELECT nationkey, count(*) AS cnt FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT ALL SELECT s_nationkey FROM supplier)
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,

    "q_set_except" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |EXCEPT SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    "q_set_intersect" ->
      """SELECT c_nationkey AS nationkey FROM customer
        |INTERSECT SELECT s_nationkey FROM supplier
        |ORDER BY nationkey""".stripMargin,

    // ── windows ────────────────────────────────────────────────────
    "q_window_dedup_lww" ->
      """SELECT user_id, event_id, event_type, value FROM (
        |  SELECT user_id, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |                       ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1
        |ORDER BY user_id""".stripMargin,

    "q_window_rank" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice, rnk, drnk FROM (
        |  SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS rnk,
        |    dense_rank() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC) AS drnk
        |  FROM orders) WHERE rnk <= 10
        |ORDER BY o_orderpriority, rnk, o_orderkey""".stripMargin,

    "q_window_frame" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) OVER (
        |    PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_partkey, l_suppkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS running_qty,
        |  coalesce(lag(l_quantity) OVER (
        |    PARTITION BY l_orderkey
        |    ORDER BY l_linenumber, l_partkey, l_suppkey), -1.0) AS prev_qty
        |FROM lineitem
        |ORDER BY l_orderkey, l_linenumber, running_qty, prev_qty""".stripMargin,

    "q_window_ntile" ->
      """SELECT o_orderpriority, o_orderkey,
        |  CAST(ntile(4) OVER (PARTITION BY o_orderpriority
        |    ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS quartile
        |FROM orders ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q_window_percent" ->
      """SELECT c_custkey, c_mktsegment,
        |  round(CAST(c_acctbal AS DOUBLE), 2) AS acctbal,
        |  round(percent_rank() OVER w, 4) AS pr,
        |  round(cume_dist() OVER w, 4) AS cd,
        |  round(CAST(lag(c_acctbal, 1) OVER w AS DOUBLE), 2) AS prev_bal,
        |  round(CAST(lead(c_acctbal, 1) OVER w AS DOUBLE), 2) AS next_bal
        |FROM customer
        |WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        |ORDER BY c_custkey""".stripMargin,

    // streaming funnel (Streams.q_stream_funnel): SAME oracle as the
    // batch form — an AvailableNow drain keeps every event inside the
    // staleness horizon, so the state machine's stages must be exact
    "q_stream_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
        |    WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
        |    JOIN v USING (user_id)
        |    WHERE e.event_type = 'click' AND e.ts > v.v_ts
        |    GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
        |    JOIN c USING (user_id)
        |    WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        |    GROUP BY e.user_id),
        |n AS (SELECT (SELECT count(*) FROM v) AS nv,
        |    (SELECT count(*) FROM c) AS nc,
        |    (SELECT count(*) FROM p) AS np)
        |SELECT '1_view' AS stage, nv AS users, CAST(1.0 AS DOUBLE) AS pct FROM n
        |UNION ALL SELECT '2_click', nc, round(CAST(nc AS DOUBLE) / nv, 4) FROM n
        |UNION ALL SELECT '3_purchase', np, round(CAST(np AS DOUBLE) / nv, 4) FROM n
        |ORDER BY stage""".stripMargin,

    "q_funnel" ->
      """WITH v AS (SELECT user_id, min(ts) AS v_ts FROM events
        |    WHERE event_type = 'view' GROUP BY user_id),
        |c AS (SELECT e.user_id, min(e.ts) AS c_ts FROM events e
        |    JOIN v USING (user_id)
        |    WHERE e.event_type = 'click' AND e.ts > v.v_ts
        |    GROUP BY e.user_id),
        |p AS (SELECT e.user_id, min(e.ts) AS p_ts FROM events e
        |    JOIN c USING (user_id)
        |    WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        |    GROUP BY e.user_id),
        |n AS (SELECT (SELECT count(*) FROM v) AS nv,
        |    (SELECT count(*) FROM c) AS nc,
        |    (SELECT count(*) FROM p) AS np)
        |SELECT '1_view' AS stage, nv AS users, CAST(1.0 AS DOUBLE) AS pct FROM n
        |UNION ALL SELECT '2_click', nc, round(CAST(nc AS DOUBLE) / nv, 4) FROM n
        |UNION ALL SELECT '3_purchase', np, round(CAST(np AS DOUBLE) / nv, 4) FROM n
        |ORDER BY stage""".stripMargin,

    "q_retention" ->
      """WITH cohort AS (SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY user_id),
        |act AS (SELECT DISTINCT user_id,
        |    CAST(date_trunc('week', ts) AS DATE) AS act_week FROM events)
        |SELECT cohort_week,
        |  CAST(date_diff('day', cohort_week, act_week) / 7 AS BIGINT)
        |    AS week_offset,
        |  count(*) AS n_users
        |FROM act JOIN cohort USING (user_id)
        |GROUP BY cohort_week, week_offset
        |ORDER BY cohort_week, week_offset""".stripMargin,

    // dow × hour seasonality (Relational.q_seasonality): Spark
    // weekday ≡ DuckDB isodow − 1 (Monday = 0); identical double
    // expression shape for share and the χ² term, rounded once
    "q_seasonality" ->
      """WITH cell AS (SELECT CAST(isodow(ts) - 1 AS BIGINT) AS dow,
        |    CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n_events
        |  FROM events GROUP BY 1, 2),
        |tot AS (SELECT CAST(sum(n_events) AS BIGINT) AS total FROM cell)
        |SELECT dow, hr, n_events,
        |  round(CAST(n_events AS DOUBLE) / total, 6) AS share,
        |  round((n_events - CAST(total AS DOUBLE) / 168)
        |      * (n_events - CAST(total AS DOUBLE) / 168)
        |      / (CAST(total AS DOUBLE) / 168), 4) AS chi2_term
        |FROM cell CROSS JOIN tot
        |ORDER BY dow, hr""".stripMargin,

    // weekly cohort LTV (Relational.q_cohort_ltv): retention's revenue
    // twin — exact DECIMAL(18,2) weekly sums, decimal cumulative
    // window, doubles only in the final one-shot casts
    "q_cohort_ltv" ->
      """WITH cohort AS (SELECT user_id,
        |    CAST(date_trunc('week', min(ts)) AS DATE) AS cohort_week
        |  FROM events GROUP BY user_id),
        |sizes AS (SELECT cohort_week, count(*) AS n_users
        |  FROM cohort GROUP BY cohort_week),
        |rev AS (SELECT cohort_week,
        |    CAST(date_diff('day', cohort_week,
        |      CAST(date_trunc('week', ts) AS DATE)) / 7 AS BIGINT)
        |      AS week_offset,
        |    sum(CAST(value AS DECIMAL(18,2))) AS wk_rev
        |  FROM events JOIN cohort USING (user_id)
        |  WHERE event_type = 'purchase'
        |  GROUP BY 1, 2),
        |cum AS (SELECT cohort_week, week_offset, wk_rev,
        |    sum(wk_rev) OVER (PARTITION BY cohort_week
        |      ORDER BY week_offset
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
        |  FROM rev)
        |SELECT cohort_week, week_offset, n_users,
        |  CAST(wk_rev AS DOUBLE) AS week_rev,
        |  CAST(c AS DOUBLE) AS cum_rev,
        |  round(CAST(c AS DOUBLE) / n_users, 4) AS ltv
        |FROM cum JOIN sizes USING (cohort_week)
        |ORDER BY cohort_week, week_offset""".stripMargin,

    "q_sessionize" ->
      """SELECT user_id, session_id, min(ts) AS session_start,
        |  max(ts) AS session_end, count(*) AS n_events
        |FROM (SELECT user_id, ts, event_id,
        |    CAST(sum(new_session) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
        |  FROM (SELECT user_id, ts, event_id,
        |      CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
        |             OR date_diff('second',
        |                  lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id),
        |                  ts) >= 1800
        |           THEN 1 ELSE 0 END AS new_session
        |    FROM events))
        |GROUP BY user_id, session_id ORDER BY user_id, session_id""".stripMargin,

    "q_sample_hash" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '20'
        |ORDER BY doc_id""".stripMargin,

    "q_sample_stratified" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE substr(md5(concat(lang, ':', CAST(doc_id AS VARCHAR))), 1, 2) <
        |  CASE WHEN lang = 'en' THEN '80' ELSE '20' END
        |ORDER BY doc_id""".stripMargin,

    // deterministic train/val/test split (Relational.q_split_assign):
    // first salted-md5 byte against the 0xcd/0xe6 boundaries
    "q_split_assign" ->
      """SELECT doc_id, lang,
        |  CASE WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |         < 'cd' THEN 'train'
        |       WHEN substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2)
        |         < 'e6' THEN 'val'
        |       ELSE 'test' END AS split
        |FROM documents ORDER BY doc_id""".stripMargin,

    // gap-fill + linear interpolation (Relational.q_interp): hourly
    // spine per type, DECIMAL hourly sums, neighbor lookup via
    // last/first IGNORE NULLS, identical double interpolation shape
    "q_interp" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |    sum(CAST(value AS DECIMAL(18,2))) AS v
        |  FROM events GROUP BY event_type, date_trunc('hour', ts)),
        |b AS (SELECT date_trunc('hour', min(ts)) AS lo,
        |    date_trunc('hour', max(ts)) AS hi FROM events),
        |types AS (SELECT DISTINCT event_type FROM events),
        |spine AS (SELECT event_type,
        |    unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS h
        |  FROM types, b),
        |j AS (SELECT s.event_type, s.h, CAST(v AS DOUBLE) AS v,
        |    last_value(CAST(v AS DOUBLE) IGNORE NULLS) OVER w_prev AS pv,
        |    last_value(CASE WHEN v IS NOT NULL THEN s.h END IGNORE NULLS)
        |      OVER w_prev AS ph,
        |    first_value(CAST(v AS DOUBLE) IGNORE NULLS) OVER w_next AS nv,
        |    first_value(CASE WHEN v IS NOT NULL THEN s.h END IGNORE NULLS)
        |      OVER w_next AS nh
        |  FROM spine s LEFT JOIN hourly USING (event_type, h)
        |  WINDOW w_prev AS (PARTITION BY s.event_type ORDER BY s.h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |    w_next AS (PARTITION BY s.event_type ORDER BY s.h
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT event_type, h,
        |  CAST(CASE WHEN v IS NOT NULL THEN 1 ELSE 0 END AS BIGINT)
        |    AS observed,
        |  round(CASE WHEN v IS NOT NULL THEN v
        |    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
        |      pv + (nv - pv) * (CAST(date_diff('hour', ph, h) AS DOUBLE)
        |        / CAST(date_diff('hour', ph, nh) AS DOUBLE))
        |    WHEN pv IS NOT NULL THEN pv ELSE nv END, 4) AS filled
        |FROM j ORDER BY event_type, h""".stripMargin,

    // A/B experiment readout (Relational.q_ab_test): salted-md5
    // variant split, exact BIGINT conversion counts, decimal revenue
    // moments cast to double once, identical closed-form z / Welch-t
    "q_ab_test" ->
      """WITH u AS (SELECT user_id,
        |    CASE WHEN substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 2)
        |           < '80' THEN 'A' ELSE 'B' END AS variant,
        |    max(CASE WHEN event_type = 'purchase' AND value > 90
        |      THEN 1 ELSE 0 END) AS conv,
        |    coalesce(sum(CASE WHEN event_type = 'purchase'
        |        THEN CAST(value AS DECIMAL(18,2)) END),
        |      CAST(0 AS DECIMAL(18,2))) AS rev
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT
        |    CAST(sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_a,
        |    CAST(sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_b,
        |    CAST(sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END)
        |      AS BIGINT) AS conv_a,
        |    CAST(sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END)
        |      AS BIGINT) AS conv_b,
        |    CAST(sum(CASE WHEN variant = 'A' THEN rev END) AS DOUBLE)
        |      AS s_a,
        |    CAST(sum(CASE WHEN variant = 'B' THEN rev END) AS DOUBLE)
        |      AS s_b,
        |    CAST(sum(CASE WHEN variant = 'A'
        |      THEN CAST(rev * rev AS DECIMAL(28,4)) END) AS DOUBLE) AS ss_a,
        |    CAST(sum(CASE WHEN variant = 'B'
        |      THEN CAST(rev * rev AS DECIMAL(28,4)) END) AS DOUBLE) AS ss_b
        |  FROM u)
        |SELECT n_a, n_b, conv_a, conv_b,
        |  round(CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE), 6) AS rate_a,
        |  round(CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE), 6) AS rate_b,
        |  CASE WHEN conv_a + conv_b = 0 OR conv_a + conv_b = n_a + n_b
        |    THEN 0.0
        |    ELSE round((CAST(conv_a AS DOUBLE) / CAST(n_a AS DOUBLE)
        |        - CAST(conv_b AS DOUBLE) / CAST(n_b AS DOUBLE))
        |      / sqrt(CAST(conv_a + conv_b AS DOUBLE)
        |          / CAST(n_a + n_b AS DOUBLE)
        |        * (1.0 - CAST(conv_a + conv_b AS DOUBLE)
        |            / CAST(n_a + n_b AS DOUBLE))
        |        * (1.0 / CAST(n_a AS DOUBLE) + 1.0 / CAST(n_b AS DOUBLE))),
        |      4) END AS z_conv,
        |  round(s_a / CAST(n_a AS DOUBLE), 4) AS rev_a,
        |  round(s_b / CAST(n_b AS DOUBLE), 4) AS rev_b,
        |  CASE WHEN ((ss_a - s_a * s_a / CAST(n_a AS DOUBLE))
        |        / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
        |      + ((ss_b - s_b * s_b / CAST(n_b AS DOUBLE))
        |        / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE) = 0.0
        |    THEN 0.0
        |    ELSE round((s_a / CAST(n_a AS DOUBLE) - s_b / CAST(n_b AS DOUBLE))
        |      / sqrt(((ss_a - s_a * s_a / CAST(n_a AS DOUBLE))
        |          / (CAST(n_a AS DOUBLE) - 1.0)) / CAST(n_a AS DOUBLE)
        |        + ((ss_b - s_b * s_b / CAST(n_b AS DOUBLE))
        |          / (CAST(n_b AS DOUBLE) - 1.0)) / CAST(n_b AS DOUBLE)),
        |      4) END AS t_rev
        |FROM g ORDER BY n_a""".stripMargin,

    // data-quality audit (Relational.q_dq_checks): per-constraint
    // violation counts — fused single-pass scan checks per table,
    // count-distinct uniqueness, anti-join referential integrity
    "q_dq_checks" ->
      """WITH li AS (SELECT count(*) AS total,
        |    CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity < 1
        |        OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
        |    CAST(sum(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_null,
        |    CAST(sum(CASE WHEN l_discount IS NULL OR l_discount < 0
        |        OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc,
        |    CAST(sum(CASE WHEN l_extendedprice IS NULL
        |        OR l_extendedprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS v_price,
        |    CAST(sum(CASE WHEN NOT coalesce(
        |        l_returnflag IN ('A', 'N', 'R'), FALSE)
        |        THEN 1 ELSE 0 END) AS BIGINT) AS v_domain
        |  FROM lineitem),
        |o AS (SELECT count(*) AS total,
        |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS v_uniq,
        |    CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END)
        |      AS BIGINT) AS v_date
        |  FROM orders),
        |fk AS (SELECT (SELECT count(*) FROM orders os
        |      WHERE NOT EXISTS (SELECT 1 FROM customer c
        |        WHERE c.c_custkey = os.o_custkey)) AS violations,
        |    (SELECT count(*) FROM orders) AS total),
        |rows_ AS (
        |  SELECT 'lineitem.discount_in_0_1' AS check_name, total,
        |    v_disc AS violations FROM li
        |  UNION ALL SELECT 'lineitem.extendedprice_positive', total,
        |    v_price FROM li
        |  UNION ALL SELECT 'lineitem.quantity_in_1_50', total,
        |    v_range FROM li
        |  UNION ALL SELECT 'lineitem.returnflag_domain', total,
        |    v_domain FROM li
        |  UNION ALL SELECT 'lineitem.shipdate_not_null', total,
        |    v_null FROM li
        |  UNION ALL SELECT 'orders.orderdate_not_null', total,
        |    v_date FROM o
        |  UNION ALL SELECT 'orders.orderkey_unique', total, v_uniq FROM o
        |  UNION ALL SELECT 'orders.custkey_in_customer', total,
        |    violations FROM fk)
        |SELECT check_name, total, violations,
        |  round(1.0 - CAST(violations AS DOUBLE) / CAST(total AS DOUBLE), 6)
        |    AS pass_rate
        |FROM rows_ ORDER BY check_name""".stripMargin,

    // categorical association (Relational.q_contingency): chi-square
    // over the FULL RxC grid (zero cells included), MI over observed
    // cells; per-cell terms rounded to 8 decimals and summed as
    // DECIMAL(28,8) so the aggregate is fold-order-independent
    "q_contingency" ->
      """WITH cells AS (SELECT lang, source, count(*) AS n_ij
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, CAST(sum(n_ij) AS BIGINT) AS r_i
        |  FROM cells GROUP BY 1),
        |c AS (SELECT source, CAST(sum(n_ij) AS BIGINT) AS c_j
        |  FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_ij) AS BIGINT) AS n,
        |    CAST(count(DISTINCT lang) AS BIGINT) AS n_r,
        |    CAST(count(DISTINCT source) AS BIGINT) AS n_c
        |  FROM cells),
        |grid AS (SELECT r.r_i, c.c_j,
        |    coalesce(cells.n_ij, 0) AS n_ij, tot.n, tot.n_r, tot.n_c
        |  FROM r CROSS JOIN c
        |  LEFT JOIN cells ON cells.lang = r.lang
        |    AND cells.source = c.source
        |  CROSS JOIN tot),
        |terms AS (SELECT n, n_r, n_c,
        |    CAST(round(
        |      (CAST(n_ij AS DOUBLE) - CAST(r_i AS DOUBLE)
        |          * CAST(c_j AS DOUBLE) / CAST(n AS DOUBLE))
        |        * (CAST(n_ij AS DOUBLE) - CAST(r_i AS DOUBLE)
        |          * CAST(c_j AS DOUBLE) / CAST(n AS DOUBLE))
        |        / (CAST(r_i AS DOUBLE) * CAST(c_j AS DOUBLE)
        |          / CAST(n AS DOUBLE)), 8) AS DECIMAL(28,8)) AS chi_t,
        |    CAST(round(CASE WHEN n_ij > 0
        |      THEN (CAST(n_ij AS DOUBLE) / CAST(n AS DOUBLE))
        |        * ln(CAST(n_ij AS DOUBLE) / CAST(n AS DOUBLE)
        |          * CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
        |          / (CAST(r_i AS DOUBLE) * CAST(c_j AS DOUBLE)))
        |      ELSE 0.0 END, 8) AS DECIMAL(28,8)) AS mi_t
        |  FROM grid)
        |SELECT n, n_r, n_c, (n_r - 1) * (n_c - 1) AS dof,
        |  round(CAST(sum(chi_t) AS DOUBLE), 4) AS chi2,
        |  round(sqrt(CAST(sum(chi_t) AS DOUBLE)
        |    / (CAST(n AS DOUBLE)
        |      * CAST(least(n_r, n_c) - 1 AS DOUBLE))), 4) AS cramers_v,
        |  round(CAST(sum(mi_t) AS DOUBLE), 4) AS mutual_info
        |FROM terms GROUP BY n, n_r, n_c ORDER BY n""".stripMargin,

    // last-touch attribution (Relational.q_attribution): IGNORE NULLS
    // last() over preceding rows, 7-day lookback, per-channel rollup
    "q_attribution" ->
      """WITH h AS (SELECT event_type, ts, value,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |        THEN event_type END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS attr_type,
        |    last_value(CASE WHEN event_type <> 'purchase'
        |        THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS attr_ts
        |  FROM events),
        |p AS (SELECT CASE WHEN attr_ts IS NOT NULL
        |      AND attr_ts >= ts - INTERVAL 7 DAY
        |    THEN attr_type ELSE 'direct' END AS channel, value
        |  FROM h WHERE event_type = 'purchase'),
        |g AS (SELECT channel, count(*) AS purchases,
        |    sum(CAST(value AS DECIMAL(18,2))) AS rev
        |  FROM p GROUP BY 1)
        |SELECT channel, purchases,
        |  round(CAST(rev AS DOUBLE), 2) AS revenue,
        |  round(CAST(rev AS DOUBLE) / CAST(purchases AS DOUBLE), 4)
        |    AS rev_per_purchase
        |FROM g ORDER BY channel""".stripMargin,

    // unpivot/melt (Relational.q_unpivot): four measure columns to
    // (metric, value) rows; full physical key + metric in the sort
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  metric, value
        |FROM (
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    'discount' AS metric, l_discount AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    'extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    'quantity', l_quantity FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |    'tax', l_tax FROM lineitem)
        |WHERE l_orderkey % 50 = 0
        |ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  metric""".stripMargin,

    // vocab coverage (TextOps.q_vocab_coverage): top-100 corpus vocab
    // (freq DESC, tok ASC), per-doc OOV occurrence rate
    "q_vocab_coverage" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokL) AS tok
         |  FROM documents),
         |vocab AS (SELECT tok FROM (
         |    SELECT tok, count(*) AS freq FROM toks GROUP BY 1)
         |  ORDER BY freq DESC, tok LIMIT 100)
         |SELECT doc_id, count(*) AS n_tok,
         |  CAST(sum(CASE WHEN tok IN (SELECT tok FROM vocab)
         |    THEN 0 ELSE 1 END) AS BIGINT) AS n_oov,
         |  round(CAST(sum(CASE WHEN tok IN (SELECT tok FROM vocab)
         |      THEN 0 ELSE 1 END) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE), 4) AS oov_rate
         |FROM toks GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // CUSUM change-point (Relational.q_changepoint): exact BIGINT
    // running sums, cusum = runsum - t*mean as one double expression,
    // top-10 |cusum| hours (ordering uses the ROUNDED value, as Spark)
    "q_changepoint" ->
      """WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
        |    count(*) AS cnt
        |  FROM events GROUP BY 1),
        |s AS (SELECT h, cnt,
        |    CAST(sum(cnt) OVER (ORDER BY h
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS runsum,
        |    row_number() OVER (ORDER BY h) AS rn,
        |    CAST(sum(cnt) OVER () AS BIGINT) AS total,
        |    count(*) OVER () AS n_hours
        |  FROM hourly),
        |c AS (SELECT h, cnt,
        |    round(CAST(runsum AS DOUBLE) - CAST(rn AS DOUBLE)
        |      * (CAST(total AS DOUBLE) / CAST(n_hours AS DOUBLE)), 4)
        |      AS cusum
        |  FROM s)
        |SELECT h, cnt, cusum FROM c
        |ORDER BY abs(cusum) DESC, h LIMIT 10""".stripMargin,

    // lead-lag cross-correlation (Relational.q_cross_corr): one lead()
    // family over the observed-hour series, exact BIGINT co-moments,
    // closed-form Pearson r per lag with a zero-variance guard
    "q_cross_corr" ->
      """WITH hourly AS (SELECT date_trunc('hour', ts) AS h,
        |    CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS x,
        |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY 1),
        |led AS (SELECT x,
        |    lead(y, 0) OVER (ORDER BY h) AS y0,
        |    lead(y, 1) OVER (ORDER BY h) AS y1,
        |    lead(y, 2) OVER (ORDER BY h) AS y2,
        |    lead(y, 3) OVER (ORDER BY h) AS y3,
        |    lead(y, 4) OVER (ORDER BY h) AS y4,
        |    lead(y, 5) OVER (ORDER BY h) AS y5,
        |    lead(y, 6) OVER (ORDER BY h) AS y6
        |  FROM hourly),
        |stacked AS (
        |  SELECT x, 0 AS lag, y0 AS y FROM led
        |  UNION ALL SELECT x, 1, y1 FROM led
        |  UNION ALL SELECT x, 2, y2 FROM led
        |  UNION ALL SELECT x, 3, y3 FROM led
        |  UNION ALL SELECT x, 4, y4 FROM led
        |  UNION ALL SELECT x, 5, y5 FROM led
        |  UNION ALL SELECT x, 6, y6 FROM led),
        |m AS (SELECT lag, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy
        |  FROM stacked WHERE y IS NOT NULL GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, n,
        |  CASE WHEN CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) = 0.0
        |    OR CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0.0
        |    THEN 0.0
        |    ELSE round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
        |      / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
        |        * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |          - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4)
        |  END AS r
        |FROM m ORDER BY lag""".stripMargin,

    // exact per-group mode (Relational.q_agg_mode): (lang, source)
    // counts, rank by (cnt DESC, source ASC) for a deterministic tie
    "q_agg_mode" ->
      """WITH c AS (SELECT lang, source, count(*) AS cnt
        |  FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, source, cnt,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY cnt DESC, source) AS rk,
        |    sum(cnt) OVER (PARTITION BY lang) AS lang_total
        |  FROM c)
        |SELECT lang, source AS mode_source, cnt,
        |  CAST(lang_total AS BIGINT) AS lang_total,
        |  round(CAST(cnt AS DOUBLE) / CAST(lang_total AS DOUBLE), 4)
        |    AS share
        |FROM r WHERE rk = 1 ORDER BY lang""".stripMargin,

    // sharding balance report (Relational.q_shard_assign): first hex
    // nibble of salted md5 -> 16 shards, per-shard totals + skew
    "q_shard_assign" ->
      """WITH s AS (SELECT
        |    substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 1)
        |      AS shard,
        |    n_chars
        |  FROM documents),
        |g AS (SELECT shard, count(*) AS n_docs,
        |    CAST(sum(n_chars) AS BIGINT) AS chars
        |  FROM s GROUP BY 1)
        |SELECT shard, n_docs, chars,
        |  round(CAST(n_docs AS DOUBLE) * 16.0
        |    / CAST(sum(n_docs) OVER () AS DOUBLE), 4) AS skew_vs_ideal
        |FROM g ORDER BY shard""".stripMargin,

    // Flesch reading ease (TextOps.q_readability): regexp counters
    // over raw text, one fixed-shape double formula, sentences
    // floored at 1
    "q_readability" ->
      s"""WITH c AS (SELECT doc_id,
         |    CAST(len($tokL) AS BIGINT) AS n_words,
         |    CAST(len(regexp_extract_all(text, '[aeiouy]+')) AS BIGINT)
         |      AS n_syll,
         |    CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
         |      AS BIGINT) AS n_sent
         |  FROM documents)
         |SELECT doc_id, n_words, n_syll, n_sent,
         |  round(206.835
         |    - 1.015 * (CAST(n_words AS DOUBLE) / CAST(n_sent AS DOUBLE))
         |    - 84.6 * (CAST(n_syll AS DOUBLE) / CAST(n_words AS DOUBLE)),
         |    4) AS flesch
         |FROM c WHERE n_words > 0 ORDER BY doc_id""".stripMargin,

    // Markov transition matrix (Relational.q_markov): lead() per
    // user, counts over the |types|^2 key space, per-source
    // normalization as one exact-integer double division
    "q_markov" ->
      """WITH tr AS (SELECT event_type AS src_type,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS dst_type
        |  FROM events),
        |c AS (SELECT src_type, dst_type, count(*) AS cnt FROM tr
        |  WHERE dst_type IS NOT NULL GROUP BY src_type, dst_type),
        |tot AS (SELECT src_type, sum(cnt) AS tot FROM c GROUP BY src_type)
        |SELECT src_type, dst_type, cnt,
        |  round(CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS p
        |FROM c JOIN tot USING (src_type)
        |ORDER BY src_type, dst_type""".stripMargin,

    // SCD2 history build (Relational.q_scd2): run starts via lag,
    // interval close via lead over the change rows; (ts, event_id)
    // total tie order; open intervals closed with the 2262-01-01
    // sentinel on both sides (pandas datetime64[ns]-safe; its max is
    // 2262-04-11, so the classic 9999-12-31 would break the harness)
    "q_scd2" ->
      """WITH r AS (SELECT user_id, event_type, ts, event_id,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS prev
        |  FROM events),
        |c AS (SELECT user_id, event_type, ts, event_id FROM r
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, event_type, ts AS valid_from,
        |  coalesce(lead(ts) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id),
        |    TIMESTAMP '2262-01-01 00:00:00') AS valid_to,
        |  event_id AS first_event_id
        |FROM c ORDER BY user_id, valid_from, first_event_id""".stripMargin,

    // ── scalar functions ───────────────────────────────────────────
    // clean_key chains the four marker replaces in the reference's
    // order, mirroring Scalars.stripMarkers (literal replace-all, not
    // a one-pass regex alternation — exact str.replace parity)
    "q_regex_clean" ->
      """SELECT doc_id,
        |  trim(replace(replace(replace(replace(
        |    concat('BIS232Request.', source),
        |    'BIS232Request.', ''), 'JSONData.', ''),
        |    'BIS232Objection.', ''), 'BIS232ObjectionRebuttal', ''))
        |    AS clean_key,
        |  coalesce(
        |    CASE WHEN length(trim(lang)) > 0 THEN trim(lang) END,
        |    CASE WHEN length(trim(source)) > 0 THEN trim(source) END,
        |    concat('Untitled', CAST(doc_id AS VARCHAR))) AS keyname,
        |  regexp_replace(substr(text, 1, 40), '\s+', '_', 'g') AS squished
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_typify_cast" -> {
      val k = "trim(CAST(json_extract_string(props, '$.k') AS VARCHAR))"
      val u = "trim(concat(CAST(user_id AS VARCHAR), '.5'))"
      s"""SELECT event_id,
         |  CASE WHEN ${guard(k)} AND regexp_matches($k, '$longRe')
         |       THEN CAST($k AS BIGINT) END AS k_typed,
         |  coalesce(
         |    CASE WHEN ${guard(u)} AND regexp_matches($u, '$longRe')
         |         THEN CAST(CAST($u AS BIGINT) AS DOUBLE) END,
         |    CASE WHEN ${guard(u)} AND NOT regexp_matches($u, '$longRe')
         |              AND regexp_matches($u, '$dblRe')
         |         THEN CAST($u AS DOUBLE) END) AS u_typed,
         |  ${guard("event_type")} AS guard_pass
         |FROM events ORDER BY event_id""".stripMargin
    },

    "q_json_extract" ->
      """SELECT event_id,
        |  CAST(json_extract_string(props, '$.k') AS BIGINT) AS k,
        |  CAST(json_extract_string(
        |    json_extract_string(concat('"', regexp_replace(
        |      regexp_replace(props, '\\', '\\\\', 'g'), '"', '\\"', 'g'),
        |      '"'), '$'),
        |    '$.k') AS BIGINT) AS k_double_decoded,
        |  json_extract_string(
        |    regexp_extract(concat('<script>var x = [{"OriginCountry":"',
        |      event_type, '"}];</script>'), '\[\{"OriginCountry"[^]]*\]'),
        |    '$[0].OriginCountry') AS origin_country
        |FROM events ORDER BY event_id""".stripMargin,

    "q_explode" ->
      """SELECT doc_id, tok FROM
        |  (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
        |WHERE length(tok) > 0 ORDER BY doc_id, tok""".stripMargin,

    // expected parse output derived from the base columns — checks the
    // Spark side's real HTML parse (key fallback, marker strip, drops,
    // str(None), textarea trim, URL entry) value-for-value
    "q_html_inputs" ->
      """WITH d AS (SELECT doc_id, lang, source,
        |    substr(text, 1, 30) AS head_raw FROM documents)
        |SELECT doc_id, key, value FROM (
        |  SELECT doc_id, 'Lang' AS key, lang AS value FROM d
        |  UNION ALL SELECT doc_id, 'Source', source FROM d
        |  UNION ALL SELECT doc_id, 'Untitled2', 'h' FROM d
        |  UNION ALL SELECT doc_id, 'NoVal', 'None' FROM d
        |  UNION ALL SELECT doc_id, 'Head',
        |    CASE WHEN length(head_raw) = 0 THEN 'None'
        |         ELSE regexp_replace(head_raw, '^\s+|\s+$', '', 'g') END FROM d
        |  UNION ALL SELECT doc_id, 'URL',
        |    concat('https://portal/Forms/Item/', CAST(doc_id AS VARCHAR)) FROM d)
        |WHERE length(value) > 0
        |ORDER BY doc_id, key""".stripMargin,

    "q_time_bucket" ->
      """SELECT date_trunc('hour', ts) AS bucket, event_type, count(*) AS cnt,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // ── text / dedup (SURVEY §2.11) ────────────────────────────────
    "q_text_dedup" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "q_text_tokens" ->
      s"""SELECT tok, count(*) AS tf FROM
         |  (SELECT unnest($tokL) AS tok FROM documents)
         |GROUP BY tok ORDER BY tf DESC, tok LIMIT 100""".stripMargin,

    "q_token_count" ->
      s"""SELECT doc_id, CAST(len($tokL) AS BIGINT) AS n_tok,
         |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS n_bpe,
         |  CAST(length(text) AS BIGINT) AS len_chars, n_chars
         |FROM documents ORDER BY doc_id""".stripMargin,

    // the Spark side's MG sketch pass is exact-transparent (pass two
    // recounts candidates exactly; the top-10's counts clear the
    // N/(k+1) survival bound), so the oracle is the plain top-10
    "q_heavy_hitters" ->
      s"""WITH toks AS (SELECT unnest($tokL) AS tok FROM documents)
         |SELECT tok, count(*) AS cnt FROM toks
         |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 10""".stripMargin,

    "q_lang_id" ->
      s"""SELECT doc_id, n_stop, n_tok,
         |  CASE WHEN n_tok > 0 AND n_stop * 20 >= n_tok THEN 'en' ELSE 'unk' END AS pred_lang,
         |  lang
         |FROM (SELECT doc_id, lang,
         |    CAST(len(list_filter($tokL,
         |      x -> list_contains(['the','a','of','and','to','in'],
         |        lower(x)))) AS BIGINT) AS n_stop,
         |    CAST(len($tokL) AS BIGINT) AS n_tok
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "q_quality_score" ->
      s"""SELECT doc_id, n_tok,
         |  round(CAST(nospace AS DOUBLE) / greatest(n_tok, 1), 4) AS avg_tok_len,
         |  round(CAST(ndig AS DOUBLE) / greatest(nchar, 1), 4) AS digit_ratio,
         |  (CASE WHEN n_tok BETWEEN 50 AND 1000 THEN 0.5 ELSE 0.0 END
         |   + CASE WHEN nospace BETWEEN n_tok * 3 AND n_tok * 10 THEN 0.5 ELSE 0.0 END) AS score
         |FROM (SELECT doc_id,
         |    CAST(len($tokL) AS BIGINT) AS n_tok,
         |    length(replace(text, ' ', '')) AS nospace,
         |    length(regexp_replace(text, '[^0-9]', '', 'g')) AS ndig,
         |    length(text) AS nchar
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,

    // Gopher A1.1 rules; BIGINT/BIGINT divides to DOUBLE in both
    // engines, so mean_wl/alpha_frac are bit-identical closed forms
    "q_quality_rules" ->
      s"""SELECT doc_id, word_cnt,
         |  round(CAST(nonspace AS DOUBLE) / word_cnt, 4) AS mean_wl,
         |  round(CAST(alpha_words AS DOUBLE) / word_cnt, 4) AS alpha_frac,
         |  stop_hits,
         |  word_cnt BETWEEN 50 AND 100000 AS r_words,
         |  CAST(nonspace AS DOUBLE) / word_cnt BETWEEN 3.0 AND 10.0 AS r_wl,
         |  CAST(alpha_words AS DOUBLE) / word_cnt >= 0.8 AS r_alpha,
         |  stop_hits >= 2 AS r_stop,
         |  (word_cnt BETWEEN 50 AND 100000)
         |    AND (CAST(nonspace AS DOUBLE) / word_cnt BETWEEN 3.0 AND 10.0)
         |    AND (CAST(alpha_words AS DOUBLE) / word_cnt >= 0.8)
         |    AND (stop_hits >= 2) AS pass
         |FROM (SELECT doc_id,
         |    CAST(len($tokL) AS BIGINT) AS word_cnt,
         |    CAST(length(regexp_replace(text, '\\s+', '', 'g')) AS BIGINT) AS nonspace,
         |    CAST(len(list_filter($tokL, w -> regexp_matches(w, '[a-zA-Z]'))) AS BIGINT) AS alpha_words,
         |    CAST(len(list_intersect(list_distinct($tokL),
         |      ['the','be','to','of','and','that','have','with'])) AS BIGINT) AS stop_hits
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "q_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(lower(regexp_replace(text, '\\s+', ' ', 'g'))) AS fp_exact,
         |  md5(array_to_string(list_sort(list_distinct($tokL)), ' ')) AS fp_shape
         |FROM documents ORDER BY doc_id""".stripMargin,

    // digit count runs over the email-MARKED text (same order as the
    // clean path) so deletion can't merge flanking digit runs
    "q_redact" ->
      s"""SELECT doc_id,
         |  regexp_replace(marked, '[0-9]{7,}', '<NUM>', 'g') AS clean_text,
         |  CAST((length(text) - length(regexp_replace(text,
         |      '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}', '', 'g')))
         |    + (length(marked) - length(regexp_replace(marked,
         |      '[0-9]{7,}', '', 'g'))) AS BIGINT) AS chars_redacted
         |FROM (SELECT doc_id, text,
         |    regexp_replace(text, '[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}',
         |      '<EMAIL>', 'g') AS marked
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin,

    "q_text_clean" ->
      """SELECT doc_id,
        |  array_to_string(toks, ' ') AS clean_text,
        |  CAST(len(toks) AS BIGINT) AS n_clean_tok
        |FROM (SELECT doc_id,
        |    list_filter(string_split(trim(regexp_replace(regexp_replace(
        |      lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')), ' '),
        |      x -> length(x) > 0 AND NOT list_contains(
        |        ['the','a','of','and','to','in'], x)) AS toks
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,

    "q_tfidf" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokL) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(*) AS df FROM
         |  (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT tf.doc_id, tf.tok, round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS tfidf
         |FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n
         |ORDER BY tfidf DESC, tf.doc_id, tf.tok LIMIT 500""".stripMargin,

    // distinct-n diversity (TextOps.q_distinct_ngrams): per n, gram
    // counts first, then the 1-row rollup — integer totals, one
    // double division at the end
    "q_distinct_ngrams" ->
      s"""WITH toks AS (SELECT doc_id, $tokL AS l FROM documents),
         |g1 AS (SELECT unnest(l) AS g FROM toks),
         |g2 AS (SELECT unnest(list_transform(range(greatest(len(l)-1, 0)),
         |  i -> concat_ws(' ', l[i+1], l[i+2]))) AS g FROM toks),
         |g3 AS (SELECT unnest(list_transform(range(greatest(len(l)-2, 0)),
         |  i -> concat_ws(' ', l[i+1], l[i+2], l[i+3]))) AS g FROM toks),
         |r1 AS (SELECT g, count(*) AS c FROM g1 GROUP BY g),
         |r2 AS (SELECT g, count(*) AS c FROM g2 GROUP BY g),
         |r3 AS (SELECT g, count(*) AS c FROM g3 GROUP BY g)
         |SELECT n, total_grams, distinct_grams,
         |  round(CAST(distinct_grams AS DOUBLE) / total_grams, 6)
         |    AS distinct_ratio
         |FROM (
         |  SELECT 1 AS n, CAST(sum(c) AS BIGINT) AS total_grams,
         |    count(*) AS distinct_grams FROM r1
         |  UNION ALL
         |  SELECT 2, CAST(sum(c) AS BIGINT), count(*) FROM r2
         |  UNION ALL
         |  SELECT 3, CAST(sum(c) AS BIGINT), count(*) FROM r3)
         |ORDER BY n""".stripMargin,

    // per-source KL divergence to the corpus mixture
    // (TextOps.q_kl_mixture): identical double expression shape in
    // both engines — p = c/ts, q = ct/tt, term = p*ln(p/q) — rounded
    // to DECIMAL(18,6) per term before the exact per-source sum
    "q_kl_mixture" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokL) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS c FROM toks GROUP BY 1, 2),
         |st AS (SELECT d.source, tf.tok, CAST(sum(tf.c) AS BIGINT) AS c
         |  FROM tf JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |srct AS (SELECT source, CAST(sum(c) AS BIGINT) AS ts
         |  FROM st GROUP BY source),
         |ctok AS (SELECT tok, CAST(sum(c) AS BIGINT) AS ct
         |  FROM st GROUP BY tok),
         |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt FROM ctok),
         |contrib AS (SELECT st.source,
         |    CAST(round((CAST(st.c AS DOUBLE) / srct.ts)
         |      * ln((CAST(st.c AS DOUBLE) / srct.ts)
         |          / (CAST(ctok.ct AS DOUBLE) / tot.tt)), 6)
         |      AS DECIMAL(18,6)) AS term
         |  FROM st JOIN ctok USING (tok) JOIN srct USING (source)
         |  CROSS JOIN tot)
         |SELECT source, count(*) AS n_terms,
         |  round(CAST(sum(term) AS DOUBLE), 4) AS kl
         |FROM contrib GROUP BY source ORDER BY source""".stripMargin,

    // parameters interpolated from TextOps so the twins cannot drift;
    // per-doc summation over DECIMAL(18,6)-rounded contributions is
    // exact and order-independent (the q_agg_corr discipline)
    "q_bm25" -> {
      import graft.operators.TextOps.{bm25Terms, bm25K1, bm25B}
      val terms = bm25Terms.map("'" + _ + "'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, unnest($tokL) AS tok FROM documents),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
         |  WHERE tok IN ($terms) GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |contrib AS (SELECT tf.doc_id,
         |  CAST(round(ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |    * (tf.tf * ${bm25K1 + 1}) / (tf.tf + $bm25K1
         |      * (${1.0 - bm25B} + $bm25B * dl.dl / s.avgdl)), 6)
         |    AS DECIMAL(18,6)) AS c
         |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id)
         |  CROSS JOIN stats s)
         |SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 4) AS bm25
         |FROM contrib GROUP BY doc_id
         |ORDER BY bm25 DESC, doc_id LIMIT 20""".stripMargin
    },

    "q_postings" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id, unnest($tokL) AS tok FROM documents)
         |SELECT tok, count(*) AS df,
         |  array_to_string((list(doc_id ORDER BY doc_id))[1:8], ',') AS postings
         |FROM dt GROUP BY tok ORDER BY df DESC, tok LIMIT 200""".stripMargin,

    // 2-D Pareto frontier (Relational.q_skyline): one row per distinct
    // price (max size), running-max window keeps strictly-improving
    // levels, parts re-attach by (price, size)
    "q_skyline" ->
      """WITH lvl AS (SELECT p_retailprice, max(p_size) AS lvl_size
        |  FROM part GROUP BY 1),
        |f AS (SELECT p_retailprice, lvl_size,
        |    max(lvl_size) OVER (ORDER BY p_retailprice
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS best_cheaper
        |  FROM lvl)
        |SELECT p.p_partkey, p.p_name, p.p_retailprice,
        |  CAST(p.p_size AS BIGINT) AS p_size
        |FROM part p JOIN f ON p.p_retailprice = f.p_retailprice
        |  AND p.p_size = f.lvl_size
        |WHERE f.best_cheaper IS NULL OR f.lvl_size > f.best_cheaper
        |ORDER BY p.p_retailprice, p.p_partkey""".stripMargin,

    // exact weighted median (Relational.q_weighted_median): integer
    // 2*cumw >= W crossing in (price, orderkey) order
    "q_weighted_median" ->
      """WITH weights AS (SELECT l_orderkey, CAST(count(*) AS BIGINT)
        |    AS w FROM lineitem GROUP BY 1),
        |ord AS (SELECT o_orderpriority AS prio, o_orderkey,
        |    o_totalprice AS price, w
        |  FROM orders JOIN weights ON o_orderkey = l_orderkey),
        |r AS (SELECT prio, price,
        |    sum(w) OVER (PARTITION BY prio
        |      ORDER BY price, o_orderkey
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS cumw,
        |    sum(w) OVER (PARTITION BY prio) AS wtot
        |  FROM ord)
        |SELECT prio, count(*) AS n_at_or_above,
        |  CAST(max(wtot) AS BIGINT) AS w_total,
        |  round(CAST(CAST(min(price) AS DECIMAL(18,2)) AS DOUBLE), 2)
        |    AS w_median
        |FROM r WHERE cumw * 2 >= wtot GROUP BY prio
        |ORDER BY prio""".stripMargin,

    // gaps-and-islands (Relational.q_streak): epoch-hour minus
    // row_number island ids, longest island by (len DESC, start)
    "q_streak" ->
      """WITH hrs AS (SELECT DISTINCT event_type,
        |    date_trunc('hour', ts) AS h,
        |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS eh
        |  FROM events),
        |isl AS (SELECT event_type,
        |    eh - row_number() OVER (PARTITION BY event_type
        |      ORDER BY eh) AS grp, h
        |  FROM hrs),
        |runs AS (SELECT event_type, grp,
        |    CAST(count(*) AS BIGINT) AS len, min(h) AS start_h
        |  FROM isl GROUP BY 1, 2),
        |best AS (SELECT event_type, len, start_h,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY len DESC, start_h) AS rk,
        |    CAST(sum(len) OVER (PARTITION BY event_type) AS BIGINT)
        |      AS n_active_hours,
        |    count(*) OVER (PARTITION BY event_type) AS n_streaks
        |  FROM runs)
        |SELECT event_type, n_active_hours, n_streaks,
        |  len AS longest, start_h AS longest_start
        |FROM best WHERE rk = 1 ORDER BY event_type""".stripMargin,

    // CDC merge accounting (Relational.q_cdc_merge): LWW per half,
    // one full-outer join, op classification, exact checksums
    "q_cdc_merge" ->
      """WITH snap AS (SELECT user_id, event_type AS snap_et FROM
        |  (SELECT user_id, event_type, row_number() OVER
        |      (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
        |      AS rk
        |    FROM events WHERE ts < TIMESTAMP '2024-01-16 00:00:00')
        |  WHERE rk = 1),
        |delta AS (SELECT user_id, event_type AS delta_et FROM
        |  (SELECT user_id, event_type, row_number() OVER
        |      (PARTITION BY user_id ORDER BY ts DESC, event_id DESC)
        |      AS rk
        |    FROM events WHERE ts >= TIMESTAMP '2024-01-16 00:00:00')
        |  WHERE rk = 1),
        |m AS (SELECT coalesce(snap.user_id, delta.user_id) AS user_id,
        |    CASE WHEN delta_et IS NULL THEN 'carry'
        |      WHEN delta_et = 'error' THEN 'delete'
        |      WHEN snap.user_id IS NULL THEN 'insert'
        |      ELSE 'update' END AS op
        |  FROM snap FULL OUTER JOIN delta
        |    ON snap.user_id = delta.user_id)
        |SELECT op, count(*) AS n_users,
        |  CAST(sum(user_id) AS BIGINT) AS checksum
        |FROM m GROUP BY op ORDER BY op""".stripMargin,

    // hashing-trick featurization (TextOps.q_feature_hash): md5-nibble
    // bucket + parity sign, one 16-group aggregate
    "q_feature_hash" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokL) AS tok FROM documents),
         |f AS (SELECT doc_id, tok,
         |    substr(md5('fh:' || tok), 1, 1) AS bucket,
         |    CASE WHEN substr(md5('fh:' || tok), 2, 1) IN
         |      ('0','2','4','6','8','a','c','e')
         |      THEN 1 ELSE -1 END AS sign
         |  FROM toks)
         |SELECT bucket, count(*) AS n_tokens,
         |  CAST(count(DISTINCT tok) AS BIGINT) AS n_terms,
         |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(sum(sign) AS BIGINT) AS signed_mass
         |FROM f GROUP BY bucket ORDER BY bucket""".stripMargin,

    // blocked fuzzy-name matching (TextOps.q_name_match): the Spark
    // side scores with the custom JaroWinkler expression, built
    // DuckDB-bit-exact — so the oracle can use DuckDB's own builtin
    "q_name_match" ->
      """WITH names AS (SELECT DISTINCT p_name FROM part),
        |b AS (SELECT p_name AS name, substr(p_name, 1, 1) AS blk
        |  FROM names)
        |SELECT x.name AS name_a, y.name AS name_b,
        |  round(jaro_winkler_similarity(x.name, y.name), 4) AS jw
        |FROM b x JOIN b y ON x.blk = y.blk AND x.name < y.name
        |WHERE round(jaro_winkler_similarity(x.name, y.name), 4) >= 0.5
        |ORDER BY jw DESC, name_a, name_b LIMIT 50""".stripMargin,

    // NDCG@{5,10,20} of the BM25 top-20 (TextOps.q_ndcg): the bm25
    // CTEs repeat q_bm25 verbatim; relevance = distinct query terms
    // per doc; IDCG over the whole corpus; per-rank contributions
    // rounded to DECIMAL(18,6) before the exact sum
    "q_ndcg" -> {
      import graft.operators.TextOps.{bm25Terms, bm25K1, bm25B}
      val terms = bm25Terms.map("'" + _ + "'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, unnest($tokL) AS tok FROM documents),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
         |  WHERE tok IN ($terms) GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |contrib AS (SELECT tf.doc_id,
         |  CAST(round(ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |    * (tf.tf * ${bm25K1 + 1}) / (tf.tf + $bm25K1
         |      * (${1.0 - bm25B} + $bm25B * dl.dl / s.avgdl)), 6)
         |    AS DECIMAL(18,6)) AS c
         |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id)
         |  CROSS JOIN stats s),
         |bm AS (SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 4) AS bm25
         |  FROM contrib GROUP BY doc_id
         |  ORDER BY bm25 DESC, doc_id LIMIT 20),
         |rel AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS rel
         |  FROM (SELECT DISTINCT doc_id, unnest($tokL) AS tok
         |    FROM documents)
         |  WHERE tok IN ($terms) GROUP BY doc_id),
         |ranked AS (SELECT r.rank, coalesce(rel.rel, 0) AS rel
         |  FROM (SELECT doc_id, row_number()
         |      OVER (ORDER BY bm25 DESC, doc_id) AS rank FROM bm) r
         |  LEFT JOIN rel USING (doc_id)),
         |ideal AS (SELECT rank, rel FROM
         |  (SELECT row_number() OVER (ORDER BY rel DESC, doc_id)
         |      AS rank, rel FROM rel)
         |  WHERE rank <= 20),
         |ks AS (SELECT unnest([5, 10, 20]) AS k),
         |dcg AS (SELECT k, sum(CAST(round(
         |    (power(2.0, CAST(rel AS DOUBLE)) - 1.0)
         |    / log2(CAST(rank AS DOUBLE) + 1.0), 6)
         |    AS DECIMAL(18,6))) AS dcg_d
         |  FROM ranked CROSS JOIN ks WHERE rank <= k GROUP BY k),
         |idcg AS (SELECT k, sum(CAST(round(
         |    (power(2.0, CAST(rel AS DOUBLE)) - 1.0)
         |    / log2(CAST(rank AS DOUBLE) + 1.0), 6)
         |    AS DECIMAL(18,6))) AS idcg_d
         |  FROM ideal CROSS JOIN ks WHERE rank <= k GROUP BY k)
         |SELECT CAST(k AS BIGINT) AS k,
         |  round(CAST(dcg_d AS DOUBLE), 4) AS dcg,
         |  round(CAST(idcg_d AS DOUBLE), 4) AS idcg,
         |  CASE WHEN idcg_d = 0 THEN 0.0
         |    ELSE round(CAST(dcg_d AS DOUBLE) / CAST(idcg_d AS DOUBLE), 4)
         |  END AS ndcg
         |FROM dcg JOIN idcg USING (k) ORDER BY k""".stripMargin
    },

    // the two retriever CTEs repeat q_bm25 / the query-filtered tfidf
    // verbatim; ranks are integers off rounded scores (+doc_id
    // tie-break) so the fusion arithmetic is a single two-operand
    // double add — order-free
    "q_rrf" -> {
      import graft.operators.TextOps.{bm25Terms, bm25K1, bm25B}
      val terms = bm25Terms.map("'" + _ + "'").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, unnest($tokL) AS tok FROM documents),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n,
         |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
         |  WHERE tok IN ($terms) GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
         |contrib AS (SELECT tf.doc_id,
         |  CAST(round(ln((s.n - df.df + 0.5) / (df.df + 0.5) + 1.0)
         |    * (tf.tf * ${bm25K1 + 1}) / (tf.tf + $bm25K1
         |      * (${1.0 - bm25B} + $bm25B * dl.dl / s.avgdl)), 6)
         |    AS DECIMAL(18,6)) AS c
         |  FROM tf JOIN df USING (tok) JOIN dl USING (doc_id)
         |  CROSS JOIN stats s),
         |bm AS (SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 4) AS bm25
         |  FROM contrib GROUP BY doc_id
         |  ORDER BY bm25 DESC, doc_id LIMIT 20),
         |n2 AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |dfd AS (SELECT tok, count(*) AS df FROM
         |  (SELECT DISTINCT doc_id, tok FROM toks WHERE tok IN ($terms))
         |  GROUP BY tok),
         |qc AS (SELECT tf.doc_id,
         |  CAST(round(tf.tf * ln(n2.n / dfd.df), 6) AS DECIMAL(18,6)) AS c
         |  FROM tf JOIN dfd USING (tok) CROSS JOIN n2),
         |qt AS (SELECT doc_id, round(CAST(sum(c) AS DOUBLE), 4) AS qscore
         |  FROM qc GROUP BY doc_id
         |  ORDER BY qscore DESC, doc_id LIMIT 20),
         |ra AS (SELECT doc_id, CAST(row_number() OVER
         |  (ORDER BY bm25 DESC, doc_id) AS BIGINT) AS rank_bm25 FROM bm),
         |rb AS (SELECT doc_id, CAST(row_number() OVER
         |  (ORDER BY qscore DESC, doc_id) AS BIGINT) AS rank_tfidf FROM qt)
         |SELECT doc_id, rank_bm25, rank_tfidf,
         |  round(coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_bm25), 0.0)
         |    + coalesce(CAST(1.0 AS DOUBLE) / (60 + rank_tfidf), 0.0), 6)
         |    AS rrf
         |FROM ra FULL JOIN rb USING (doc_id)
         |ORDER BY rrf DESC, doc_id""".stripMargin
    },

    "q_keywords" ->
      s"""WITH toks AS (SELECT doc_id, unnest($tokL) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY doc_id, tok),
         |df AS (SELECT tok, count(*) AS df FROM
         |  (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
         |n AS (SELECT count(*) AS n FROM documents),
         |scored AS (SELECT tf.doc_id, tf.tok,
         |  round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 4) AS score
         |  FROM tf JOIN df ON tf.tok = df.tok CROSS JOIN n),
         |ranked AS (SELECT doc_id, tok, score, CAST(row_number() OVER
         |  (PARTITION BY doc_id ORDER BY score DESC, tok) AS BIGINT) AS rk
         |  FROM scored)
         |SELECT doc_id, tok, score, rk FROM ranked WHERE rk <= 3
         |ORDER BY doc_id, rk""".stripMargin,

    "q_edit_distance" ->
      """SELECT a.doc_id,
        |  CAST(levenshtein(substr(a.text, 1, 40), substr(b.text, 1, 40)) AS BIGINT) AS edit_dist
        |FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
        |ORDER BY a.doc_id""".stripMargin,

    "q_dedup_ngram" ->
      s"""$shinglesCte,
         |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
         |shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shr GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2)
         |SELECT a_id, b_id, inter, sa.n AS na, sb.n AS nb,
         |  round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
         |FROM pairs JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
         |ORDER BY jaccard DESC, a_id, b_id LIMIT 100""".stripMargin,

    // asymmetric containment (TextOps.q_dedup_containment): shares
    // q_dedup_ngram's index CTEs; the >= 1/2 gate is integer (2*inter
    // vs least), the division happens once on survivors
    "q_dedup_containment" ->
      s"""$shinglesCte,
         |rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
         |shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
         |sizes AS (SELECT doc_id, count(*) AS n FROM shr GROUP BY doc_id),
         |pairs AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
         |  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2)
         |SELECT a_id, b_id, inter, sa.n AS na, sb.n AS nb,
         |  round(CAST(inter AS DOUBLE) / least(sa.n, sb.n), 4) AS containment,
         |  CASE WHEN sa.n <= sb.n THEN a_id ELSE b_id END AS contained_id
         |FROM pairs JOIN sizes sa ON a_id = sa.doc_id JOIN sizes sb ON b_id = sb.doc_id
         |WHERE 2 * inter >= least(sa.n, sb.n)
         |ORDER BY containment DESC, a_id, b_id LIMIT 100""".stripMargin,

    "q_minhash_sig" ->
      s"""$shinglesCte
         |SELECT doc_id, min(md5(concat('0:', shingle))) AS h0,
         |  min(md5(concat('1:', shingle))) AS h1,
         |  min(md5(concat('2:', shingle))) AS h2,
         |  min(md5(concat('3:', shingle))) AS h3
         |FROM sh GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "q_dedup_minhash" ->
      s"""$shinglesCte,
         |sig AS (SELECT doc_id, $minhashLegs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, md5(concat(h0, h1)) AS bucket FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM sig)
         |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |ORDER BY a_id, b_id""".stripMargin,

    // signature-agreement estimator over the same candidate pairs;
    // n/8 is a terminating binary fraction, so round(,4) is drift-free
    "q_minhash_est" -> {
      val agree = (0 until 8)
        .map(j => s"(CASE WHEN sa.h$j = sb.h$j THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""$shinglesCte,
         |sig AS (SELECT doc_id, $minhashLegs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, md5(concat(h0, h1)) AS bucket FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM sig),
         |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id)
         |SELECT p.a_id, p.b_id,
         |  CAST($agree AS BIGINT) AS n_agree,
         |  round(CAST($agree AS DOUBLE) / 8, 4) AS est_jaccard
         |FROM pairs p
         |JOIN sig sa ON p.a_id = sa.doc_id
         |JOIN sig sb ON p.b_id = sb.doc_id
         |ORDER BY a_id, b_id""".stripMargin
    },

    // same candidate pairs as q_dedup_minhash, closed into connected
    // components with a recursive CTE (min reachable id = cluster id);
    // docs in no pair cluster to themselves
    "q_dedup_cluster" ->
      s"""$clusterAssignCte
         |SELECT doc_id, cluster_id FROM assign
         |ORDER BY doc_id""".stripMargin,

    // streaming per-type top-k (Streams.q_stream_topk): the bounded
    // state machine must reproduce the global ranking window's head
    // under the identical (value desc, event_id asc) total order
    "q_stream_topk" -> {
      val k = graft.streaming.Streams.streamTopK
      s"""WITH r AS (SELECT event_type, event_id, value,
         |    row_number() OVER (PARTITION BY event_type
         |      ORDER BY value DESC, event_id) AS rk
         |  FROM events)
         |SELECT event_type, CAST(rk AS BIGINT) AS rk, event_id, value
         |FROM r WHERE rk <= $k
         |ORDER BY event_type, rk""".stripMargin
    },

    // lang-id confusion matrix (TextOps.q_langid_eval): shared
    // predLang heuristic, bounded (langs x 2) cells with per-truth
    // recall
    "q_langid_eval" ->
      s"""WITH per AS (SELECT lang, $predLangSql AS pred_lang
         |  FROM documents),
         |cells AS (SELECT lang, pred_lang, count(*) AS n
         |  FROM per GROUP BY lang, pred_lang),
         |truth AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_truth
         |  FROM cells GROUP BY lang)
         |SELECT c.lang, c.pred_lang, c.n, t.n_truth,
         |  round(CAST(c.n AS DOUBLE) / CAST(t.n_truth AS DOUBLE), 6)
         |    AS cell_rate,
         |  CAST(CASE WHEN c.lang = c.pred_lang
         |      OR (c.lang <> 'en' AND c.pred_lang = 'unk')
         |    THEN 1 ELSE 0 END AS BIGINT) AS acceptable
         |FROM cells c JOIN truth t ON c.lang = t.lang
         |ORDER BY c.lang, c.pred_lang""".stripMargin,

    // one-way ANOVA across sources (TextOps.q_anova): shared scorer,
    // exact decimal moments, per-group sx²/n rounded to 6dp before
    // the exact k-row sum (the q_kl_mixture fold rule), F from the
    // same rounded MSB/MSW in both engines
    "q_anova" ->
      s"""WITH sc AS (SELECT source,
         |    CAST($scoreSql AS DECIMAL(18,6)) AS x FROM documents),
         |g AS (SELECT source, count(*) AS n, sum(x) AS sx,
         |    sum(CAST(x * x AS DECIMAL(38,12))) AS sxx
         |  FROM sc GROUP BY source),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS nt, sum(sx) AS sxt,
         |    sum(CAST(sxx AS DECIMAL(38,12))) AS sxxt, count(*) AS k
         |  FROM g),
         |q AS (SELECT sum(CAST(round(
         |    CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / CAST(n AS DOUBLE),
         |    6) AS DECIMAL(38,12))) AS sqn FROM g)
         |SELECT g.source, g.n,
         |  round(CAST(g.sx AS DOUBLE) / CAST(g.n AS DOUBLE), 6)
         |    AS mean_score,
         |  round((CAST(sqn AS DOUBLE)
         |      - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE)
         |        / CAST(nt AS DOUBLE)) / (k - 1), 6) AS msb,
         |  round((CAST(sxxt AS DOUBLE) - CAST(sqn AS DOUBLE))
         |    / (nt - k), 6) AS msw,
         |  round(
         |    round((CAST(sqn AS DOUBLE)
         |        - CAST(sxt AS DOUBLE) * CAST(sxt AS DOUBLE)
         |          / CAST(nt AS DOUBLE)) / (k - 1), 6)
         |    / round((CAST(sxxt AS DOUBLE) - CAST(sqn AS DOUBLE))
         |        / (nt - k), 6), 4) AS f_stat
         |FROM g CROSS JOIN t CROSS JOIN q ORDER BY source""".stripMargin,

    // canonical-representative selection (TextOps.q_dedup_canonical):
    // the same recursive component assignment, keeper = highest
    // q_quality_score (shared scoreSql), ties to lowest doc_id;
    // dropped set pinned by exact id-sum
    "q_dedup_canonical" ->
      s"""$clusterAssignCte,
         |sc AS (SELECT doc_id, $scoreSql AS score FROM documents),
         |m AS (SELECT cluster_id, count(*) AS csize FROM assign
         |  GROUP BY cluster_id HAVING count(*) > 1),
         |r AS (SELECT a.cluster_id, m.csize, a.doc_id, sc.score,
         |    row_number() OVER (PARTITION BY a.cluster_id
         |      ORDER BY sc.score DESC, a.doc_id) AS rn
         |  FROM assign a
         |  JOIN m ON a.cluster_id = m.cluster_id
         |  JOIN sc ON a.doc_id = sc.doc_id)
         |SELECT cluster_id, min(csize) AS csize,
         |  min(CASE WHEN rn = 1 THEN doc_id END) AS keep_id,
         |  min(CASE WHEN rn = 1 THEN score END) AS keep_score,
         |  CAST(sum(CASE WHEN rn > 1 THEN doc_id ELSE 0 END) AS BIGINT)
         |    AS dropped_id_sum
         |FROM r GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    // cluster size histogram (TextOps.q_cluster_stats): the same
    // recursive component assignment, two aggregates deeper
    "q_cluster_stats" ->
      s"""$clusterAssignCte,
         |sizes AS (SELECT cluster_id, count(*) AS csize
         |  FROM assign GROUP BY 1)
         |SELECT csize, count(*) AS n_clusters,
         |  CAST(sum(csize) AS BIGINT) AS n_docs
         |FROM sizes GROUP BY 1 ORDER BY csize""".stripMargin,

    // per-source duplication share (TextOps.q_dup_share): the same
    // recursive component assignment; a doc is "removed" iff its
    // cluster label is not its own id (labels are min-member ids)
    "q_dup_share" ->
      s"""$clusterAssignCte
         |SELECT d.source, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN a.cluster_id <> a.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_removed,
         |  CAST(count(*) - sum(CASE WHEN a.cluster_id <> a.doc_id
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
         |  round(CAST(sum(CASE WHEN a.cluster_id <> a.doc_id THEN 1
         |    ELSE 0 END) AS DOUBLE) / count(*), 4) AS removed_share
         |FROM assign a JOIN documents d USING (doc_id)
         |GROUP BY d.source ORDER BY d.source""".stripMargin,

    // quality × duplication cross-tab (TextOps.q_quality_vs_dup):
    // the same recursive component assignment + the shared quality
    // score snippet; "removed" is q_dup_share's rule verbatim
    "q_quality_vs_dup" ->
      s"""$clusterAssignCte
         |SELECT CAST($scoreSql AS DOUBLE) AS score,
         |  CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(sum(CASE WHEN a.cluster_id <> a.doc_id THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_removed,
         |  round(CAST(sum(CASE WHEN a.cluster_id <> a.doc_id THEN 1
         |    ELSE 0 END) AS DOUBLE) / count(*), 4) AS removed_share
         |FROM assign a JOIN documents d USING (doc_id)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // 3-core of the candidate graph (GraphOps.q_kcore): the peel is
    // unrolled to exactly kcoreMaxPeels rounds — peeling is monotone,
    // so rounds past the fixed point are idempotent, and the Spark
    // side THROWS unless it converges within the same bound, so a
    // green run proves both engines sit at the identical fixed point
    "q_kcore" -> {
      val k = graft.operators.GraphOps.kcoreK
      val n = graft.operators.GraphOps.kcoreMaxPeels
      // MATERIALIZED is load-bearing: every round references the
      // previous alive set TWICE, so default CTE inlining expands
      // 2^rounds plan copies (observed as an fd-exhaustion blowup)
      val rounds = (1 to n).map { i =>
        s"""d$i AS MATERIALIZED (
           |  SELECT e.src AS id, count(*) AS deg FROM edges e
           |  JOIN a${i - 1} x ON e.src = x.id
           |  JOIN a${i - 1} y ON e.dst = y.id GROUP BY e.src),
           |a$i AS MATERIALIZED (SELECT id FROM d$i WHERE deg >= $k)""".stripMargin
      }.mkString(",\n")
      s"""$shinglesCte,
         |$candEdgesCtes,
         |a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM edges),
         |$rounds
         |SELECT id AS doc_id, deg AS core_deg FROM d$n
         |WHERE deg >= $k ORDER BY doc_id""".stripMargin
    },

    // source-pair shingle Jaccard (TextOps.q_source_overlap): the
    // self-join is inverted by shingle, distinct at the source grain
    "q_source_overlap" ->
      s"""$shinglesCte,
         |ssrc AS (SELECT DISTINCT d.source, s.shingle
         |  FROM sh s JOIN documents d USING (doc_id)),
         |sizes AS (SELECT source, count(*) AS n FROM ssrc GROUP BY source),
         |inter AS (SELECT a.source AS src_a, b.source AS src_b,
         |    count(*) AS inter
         |  FROM ssrc a JOIN ssrc b
         |    ON a.shingle = b.shingle AND a.source < b.source
         |  GROUP BY 1, 2)
         |SELECT src_a, src_b, inter, sa.n AS na, sb.n AS nb,
         |  round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4)
         |    AS jaccard
         |FROM inter JOIN sizes sa ON src_a = sa.source
         |JOIN sizes sb ON src_b = sb.source
         |ORDER BY src_a, src_b""".stripMargin,

    // distinctive terms per source (TextOps.q_topic_terms): smoothed
    // log-odds of drawing the term inside vs outside the source; the
    // odds factors are exact integer counts cast to double, so both
    // engines feed ln() identical doubles; ranking here is a window
    // row_number — an independent derivation of the ScoredTopKAgg
    // total order (score DESC, tok)
    "q_topic_terms" -> {
      val k = graft.operators.TextOps.topicTermsK
      s"""WITH tf AS (SELECT doc_id, tok, count(*) AS c
         |  FROM (SELECT doc_id, unnest($tokL) AS tok FROM documents)
         |  GROUP BY doc_id, tok),
         |st AS (SELECT d.source, tf.tok, sum(tf.c) AS c
         |  FROM tf JOIN documents d USING (doc_id) GROUP BY 1, 2),
         |ts AS (SELECT source, sum(c) AS ts FROM st GROUP BY source),
         |ct AS (SELECT tok, sum(c) AS ct FROM st GROUP BY tok),
         |tt AS (SELECT sum(ct) AS tt FROM ct),
         |scored AS (SELECT st.source, st.tok,
         |  round(ln((CAST(st.c + 1 AS DOUBLE)
         |      * CAST(tt.tt - ts.ts - (ct.ct - st.c) + 1 AS DOUBLE))
         |    / (CAST(ts.ts - st.c + 1 AS DOUBLE)
         |      * CAST(ct.ct - st.c + 1 AS DOUBLE))), 6) AS score
         |  FROM st JOIN ct USING (tok) JOIN ts USING (source)
         |  CROSS JOIN tt),
         |ranked AS (SELECT source, tok, score,
         |  CAST(row_number() OVER (PARTITION BY source
         |    ORDER BY score DESC, tok) AS BIGINT) AS rk FROM scored)
         |SELECT source, rk, tok, score FROM ranked WHERE rk <= $k
         |ORDER BY source, rk""".stripMargin
    },

    // Zipf fit (TextOps.q_zipf): per-point ln() rounded to
    // DECIMAL(18,6) before the exact moment sums (q_kl_mixture
    // discipline); slope/intercept are single IEEE divisions with the
    // operation order mirrored from the Spark expressions
    "q_zipf" -> {
      val topN = graft.operators.TextOps.zipfTopN
      s"""WITH tc AS (SELECT tok, count(*) AS c
         |  FROM (SELECT unnest($tokL) AS tok FROM documents)
         |  GROUP BY tok),
         |top AS (SELECT tok, c FROM tc ORDER BY c DESC, tok LIMIT $topN),
         |pts AS (SELECT
         |  CAST(round(ln(CAST(row_number() OVER (ORDER BY c DESC, tok)
         |    AS DOUBLE)), 6) AS DECIMAL(18,6)) AS x,
         |  CAST(round(ln(CAST(c AS DOUBLE)), 6) AS DECIMAL(18,6)) AS y
         |  FROM top),
         |m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         |  sum(CAST(x * y AS DECIMAL(30,12))) AS sxy,
         |  sum(CAST(x * x AS DECIMAL(30,12))) AS sxx FROM pts)
         |SELECT n AS n_terms,
         |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |    / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) AS slope,
         |  round((CAST(sy AS DOUBLE)
         |      - (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |        / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
         |          - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
         |        * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6)
         |    AS intercept
         |FROM m""".stripMargin
    },

    // mixture-sample materialization (TextOps.q_mixture_sample):
    // identical md5(doc_id)-rank selection, integer ceil-divisions,
    // and the selected set pinned by exact id-sum/min/max checksums
    "q_mixture_sample" -> {
      val den = graft.operators.TextOps.mixSampleDen
      s"""WITH t AS (SELECT count(*) AS n, count(DISTINCT source) AS k
         |  FROM documents),
         |p AS (SELECT CAST((((n + ${den - 1}) // $den) + k - 1) // k
         |    AS BIGINT) AS per FROM t),
         |r AS (SELECT doc_id, source,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
         |  FROM documents)
         |SELECT source, count(*) AS n_avail, min(per) AS quota,
         |  CAST(sum(CASE WHEN rk <= per THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_taken,
         |  CAST(sum(CASE WHEN rk <= per THEN doc_id ELSE 0 END) AS BIGINT)
         |    AS id_sum,
         |  min(CASE WHEN rk <= per THEN doc_id END) AS id_min,
         |  max(CASE WHEN rk <= per THEN doc_id END) AS id_max
         |FROM r CROSS JOIN p GROUP BY source ORDER BY source""".stripMargin
    },

    // count-min sketch audit (TextOps.q_cms_err): geometry (depth,
    // probe-N) interpolated from TextOps so the two engines' sketches
    // cannot desynchronize; bucket = first two md5 hex chars of
    // "<i>:<tok>" as an integer 0..255, exactly the Spark
    // conv(substring(md5(...),1,2),16,10)
    "q_cms_err" -> {
      val d = graft.operators.TextOps.cmsDepth
      val topN = graft.operators.TextOps.cmsProbeTopN
      def bucket(h: String) =
        s"((strpos('0123456789abcdef', substr($h, 1, 1)) - 1) * 16 + " +
          s"(strpos('0123456789abcdef', substr($h, 2, 1)) - 1))"
      val bTok = bucket("md5(CAST(i AS VARCHAR) || ':' || tok)")
      s"""WITH toks AS (SELECT unnest($tokL) AS tok FROM documents),
         |ks AS (SELECT tok, i, CAST($bTok AS BIGINT) AS bucket
         |  FROM toks CROSS JOIN (SELECT unnest(range($d)) AS i)),
         |counters AS (SELECT i, bucket, count(*) AS c
         |  FROM ks GROUP BY i, bucket),
         |top AS (SELECT tok, count(*) AS exact_tf FROM toks
         |  GROUP BY tok ORDER BY exact_tf DESC, tok LIMIT $topN),
         |probe AS (SELECT tok, exact_tf, i, CAST($bTok AS BIGINT) AS bucket
         |  FROM top CROSS JOIN (SELECT unnest(range($d)) AS i)),
         |est AS (SELECT tok, exact_tf, min(c) AS cms_est
         |  FROM probe JOIN counters USING (i, bucket)
         |  GROUP BY tok, exact_tf)
         |SELECT tok, exact_tf, cms_est,
         |  cms_est - exact_tf AS overcount
         |FROM est ORDER BY exact_tf DESC, tok""".stripMargin
    },

    // sparse cosine similarity join (TextOps.q_sparse_sim): prefix
    // filtering (each doc's 5 globally-rarest tokens, df safety cap)
    // for candidates; the verified cosine is then computed over the
    // FULL vectors, restricted to candidate pairs (value-identical to
    // the engine's map-verify plan; restricting dots to candidates
    // keeps the oracle itself tractable at the sf1.0 sweep)
    "q_sparse_sim" -> {
      val pfx = graft.operators.TextOps.sparseSimPrefix
      val cap = graft.operators.TextOps.sparseSimDfCap
      val tau = graft.operators.TextOps.sparseSimTau
      s"""WITH toks AS (SELECT doc_id, unnest($tokL) AS tok FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks
         |  GROUP BY doc_id, tok),
         |dft AS (SELECT tok, count(*) AS df FROM
         |  (SELECT DISTINCT doc_id, tok FROM toks) GROUP BY tok),
         |pfx AS (SELECT doc_id, tok FROM
         |  (SELECT t.doc_id, t.tok,
         |     row_number() OVER (PARTITION BY t.doc_id
         |       ORDER BY d.df, t.tok) AS rn
         |   FROM tf t JOIN dft d ON t.tok = d.tok
         |   WHERE d.df <= $cap)
         |  WHERE rn <= $pfx),
         |cand AS (SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
         |  FROM pfx a JOIN pfx b
         |    ON a.tok = b.tok AND a.doc_id < b.doc_id),
         |dots AS (SELECT c.ia, c.ib,
         |    CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
         |  FROM cand c
         |  JOIN tf a ON a.doc_id = c.ia
         |  JOIN tf b ON b.doc_id = c.ib AND b.tok = a.tok
         |  GROUP BY c.ia, c.ib),
         |n2 AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
         |  FROM tf GROUP BY doc_id),
         |pairs AS (SELECT d.ia, d.ib, d.dot,
         |    round(CAST(d.dot AS DOUBLE)
         |      / (sqrt(CAST(na.n2 AS DOUBLE)) * sqrt(CAST(nb.n2 AS DOUBLE))),
         |      4) AS cos
         |  FROM dots d
         |  JOIN n2 na ON d.ia = na.doc_id
         |  JOIN n2 nb ON d.ib = nb.doc_id)
         |SELECT ia, ib, dot, cos FROM pairs WHERE cos >= $tau
         |ORDER BY cos DESC, ia, ib""".stripMargin
    },

    // embedding covariance matrix (VectorOps.q_vec_cov): identical
    // float → DOUBLE → DECIMAL(18,8) element casts, exact
    // DECIMAL(38,16) product sums, one double division; + 0.0
    // canonicalizes −0.0 on both sides
    "q_vec_cov" -> {
      val d = graft.operators.VectorOps.vecDim
      s"""WITH x AS (SELECT vec_id, i,
         |    CAST(CAST(embedding[i + 1] AS DOUBLE) AS DECIMAL(18,8)) AS v
         |  FROM embeddings CROSS JOIN (SELECT unnest(range($d)) AS i)),
         |cells AS (SELECT a.i AS i, b.i AS j,
         |    sum(CAST(a.v * b.v AS DECIMAL(38,16))) AS spp,
         |    count(*) AS n
         |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
         |  GROUP BY a.i, b.i),
         |m AS (SELECT i, sum(v) AS sv FROM x GROUP BY i)
         |SELECT c.i, c.j,
         |  round((CAST(c.n AS DOUBLE) * CAST(c.spp AS DOUBLE)
         |      - CAST(ma.sv AS DOUBLE) * CAST(mb.sv AS DOUBLE))
         |    / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE)), 6) + 0.0 AS cov
         |FROM cells c JOIN m ma ON c.i = ma.i JOIN m mb ON c.j = mb.i
         |ORDER BY c.i, c.j""".stripMargin
    },

    // sampled covariance (VectorOps.q_vec_cov_sample): the SAME
    // exact-decimal moment pipeline over the SAME deterministic md5
    // hash-sample (threshold interpolated from the shared constant) —
    // the sampled estimator is hash-gated, not just error-bounded
    "q_vec_cov_sample" -> {
      val d = graft.operators.VectorOps.vecDim
      val lt = graft.operators.VectorOps.covSampleHexLt
      s"""WITH e AS (SELECT * FROM embeddings
         |  WHERE substr(md5(CAST(vec_id AS VARCHAR)), 1, 2) < '$lt'),
         |x AS (SELECT vec_id, i,
         |    CAST(CAST(embedding[i + 1] AS DOUBLE) AS DECIMAL(18,8)) AS v
         |  FROM e CROSS JOIN (SELECT unnest(range($d)) AS i)),
         |cells AS (SELECT a.i AS i, b.i AS j,
         |    sum(CAST(a.v * b.v AS DECIMAL(38,16))) AS spp,
         |    count(*) AS n
         |  FROM x a JOIN x b ON a.vec_id = b.vec_id AND a.i <= b.i
         |  GROUP BY a.i, b.i),
         |m AS (SELECT i, sum(v) AS sv FROM x GROUP BY i)
         |SELECT c.i, c.j,
         |  round((CAST(c.n AS DOUBLE) * CAST(c.spp AS DOUBLE)
         |      - CAST(ma.sv AS DOUBLE) * CAST(mb.sv AS DOUBLE))
         |    / (CAST(c.n AS DOUBLE) * CAST(c.n AS DOUBLE)), 6) + 0.0 AS cov
         |FROM cells c JOIN m ma ON c.i = ma.i JOIN m mb ON c.j = mb.i
         |ORDER BY c.i, c.j""".stripMargin
    },

    // Poisson bootstrap (Relational.q_bootstrap): identical md5-slice
    // uniform, identical scaled-CDF integer thresholds (interpolated
    // from the shared constants), exact decimal sums
    "q_bootstrap" -> {
      val nb = graft.operators.Relational.bootstrapB
      val cdf = graft.operators.Relational.bootstrapCdf
      def hd(i: Int) =
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1)"
      val u = (1 to 8).map(i => s"${hd(i)}*${1L << (4 * (8 - i))}")
        .mkString("(", " + ", ")")
      val w = cdf.map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
        .mkString(" + ")
      s"""WITH e AS (SELECT o_orderkey,
         |    CAST(o_totalprice AS DECIMAL(18,2)) AS x,
         |    unnest(range($nb)) AS b
         |  FROM orders),
         |hh AS (SELECT b, x,
         |    md5(CAST(b AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR))
         |      AS h FROM e),
         |uu AS (SELECT b, x, CAST($u AS BIGINT) AS u FROM hh),
         |wgt AS (SELECT b, x, $w AS w FROM uu)
         |SELECT b, CAST(sum(w) AS BIGINT) AS n_eff,
         |  CASE WHEN sum(w) > 0 THEN
         |    round(CAST(sum(CAST(x * w AS DECIMAL(38,2))) AS DOUBLE)
         |      / CAST(sum(w) AS DOUBLE), 6) END AS mean_b
         |FROM wgt GROUP BY b ORDER BY b""".stripMargin
    },

    // calibration/reliability table (Relational.q_calibration):
    // fixed-width binning of the declared linear price score,
    // DECIMAL(18,6)-exact mean-prediction sum
    "q_calibration" ->
      """WITH s AS (SELECT
        |    CAST(least(floor(least(o_totalprice / 400000.0, 1.0) * 10), 9)
        |      AS BIGINT) AS bin,
        |    CAST(round(least(o_totalprice / 400000.0, 1.0), 6)
        |      AS DECIMAL(18,6)) AS pr,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS y
        |  FROM orders)
        |SELECT bin, count(*) AS n,
        |  round(CAST(sum(pr) AS DOUBLE) / count(*), 6) AS mean_p,
        |  round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pos_rate
        |FROM s GROUP BY bin ORDER BY bin""".stripMargin,

    // isotonic-calibration twin (Relational.q_isotonic): the same
    // micro-unit interval rates over the bounded bin frame and the
    // same minimax fold — floor is monotone, so min/max commute with
    // the per-interval floor division and the fitted curve is the
    // exact rational PAV fit floored to micro-units in BOTH engines
    "q_isotonic" ->
      """WITH src AS (SELECT
        |    least(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      * 20 // 40000000, 19) AS bin,
        |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
        |      THEN 1 ELSE 0 END AS y
        |  FROM orders),
        |bins AS MATERIALIZED (SELECT bin, count(*) AS n,
        |    CAST(sum(y) AS BIGINT) AS pos
        |  FROM src GROUP BY bin),
        |rates AS (SELECT k.bin AS kb, j.bin AS jb,
        |    sum(m.pos) * 1000000 // sum(m.n) AS rate
        |  FROM bins k JOIN bins j ON k.bin <= j.bin
        |    JOIN bins m ON m.bin BETWEEN k.bin AND j.bin
        |  GROUP BY 1, 2),
        |mins AS (SELECT i.bin AS ib, r.kb, min(r.rate) AS mrate
        |  FROM rates r JOIN bins i ON r.kb <= i.bin AND r.jb >= i.bin
        |  GROUP BY 1, 2),
        |iso AS (SELECT ib, CAST(max(mrate) AS BIGINT) AS iso_microrate
        |  FROM mins GROUP BY ib)
        |SELECT b.bin, b.n, b.pos,
        |  CAST(b.pos * 1000000 // b.n AS BIGINT) AS raw_microrate,
        |  iso_microrate
        |FROM bins b JOIN iso ON b.bin = iso.ib ORDER BY bin""".stripMargin,

    // split-conformal twin (Relational.q_conformal): the same
    // floor-division cent model, exact residuals, and the SAME
    // ⌈(n+1)(1−α)⌉-th order statistic — selected by (resid, id) rank
    // in both engines, so the interval and the covered set hash-gate
    "q_conformal" ->
      """WITH nlines AS (SELECT l_orderkey, count(*) AS nl
        |  FROM lineitem GROUP BY 1),
        |oc AS MATERIALIZED (SELECT o_orderkey AS id,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents, nl
        |  FROM orders JOIN nlines ON o_orderkey = l_orderkey),
        |model AS (SELECT nl, sum(cents) // count(*) AS pred
        |  FROM oc WHERE id % 5 >= 2 GROUP BY nl),
        |gm AS (SELECT sum(cents) // count(*) AS gpred,
        |    count(*) AS n_train FROM oc WHERE id % 5 >= 2),
        |cal AS MATERIALIZED (SELECT id,
        |    abs(cents - coalesce(pred, gpred)) AS resid
        |  FROM oc LEFT JOIN model USING (nl), gm WHERE id % 5 = 1),
        |nn AS (SELECT count(*) AS n_cal,
        |    least((9 * (count(*) + 1) + 9) // 10, count(*)) AS k
        |  FROM cal),
        |rk AS (SELECT resid,
        |    row_number() OVER (ORDER BY resid, id) AS rn FROM cal),
        |rad AS (SELECT CAST(resid AS BIGINT) AS radius_cents
        |  FROM rk, nn WHERE rn = k),
        |tst AS (SELECT id, CASE WHEN abs(cents - coalesce(pred, gpred))
        |      <= radius_cents THEN 1 ELSE 0 END AS cov
        |  FROM oc LEFT JOIN model USING (nl), gm, rad WHERE id % 5 = 0)
        |SELECT n_train, n_cal, k, radius_cents,
        |  count(*) AS n_test, CAST(sum(cov) AS BIGINT) AS n_covered,
        |  CAST(coalesce(sum(CASE WHEN cov = 1 THEN id END), 0) AS BIGINT)
        |    AS covered_id_sum,
        |  round(CAST(sum(cov) AS DOUBLE) / count(*), 6) AS coverage
        |FROM tst, gm, nn, rad
        |GROUP BY 1, 2, 3, 4 ORDER BY n_train""".stripMargin,

    "q_grouping_sets" ->
      """SELECT
        |  CASE WHEN GROUPING(o_orderstatus) = 1 THEN 'ALL'
        |       ELSE coalesce(o_orderstatus, 'NULL') END AS status,
        |  CASE WHEN GROUPING(o_orderpriority) = 1 THEN 'ALL'
        |       ELSE coalesce(o_orderpriority, 'NULL') END AS priority,
        |  count(*) AS cnt,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS rev
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
        |ORDER BY status, priority""".stripMargin,

    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket,
        |  count(*) AS cnt,
        |  round(CAST(min(o_totalprice) AS DOUBLE), 2) AS lo,
        |  round(CAST(max(o_totalprice) AS DOUBLE), 2) AS hi
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin,

    // duplicated-span twin: shared = W-token window seen in ≥2 docs
    // (W interpolated from TextOps.dedupSpanW so the engines cannot
    // desynchronize); runs via the same pos - row_number() grouping;
    // sums CAST to BIGINT (DuckDB sum(BIGINT) = HUGEINT)
    "q_dedup_span" -> {
      val w = graft.operators.TextOps.dedupSpanW
      val winTok = (1 to w).map(j => s"l[i+$j]").mkString(", ")
      s"""WITH toks AS (SELECT doc_id, $tokL AS l FROM documents),
         |sh AS (SELECT doc_id, i AS pos,
         |    concat_ws(' ', $winTok) AS shingle
         |  FROM (SELECT doc_id, l,
         |        unnest(range(greatest(len(l)-${w - 1}, 0))) AS i
         |        FROM toks)),
         |dup AS (SELECT shingle FROM
         |    (SELECT shingle, count(DISTINCT doc_id) AS df FROM sh
         |     GROUP BY shingle) WHERE df >= 2),
         |spos AS (SELECT DISTINCT doc_id, pos FROM sh JOIN dup USING (shingle)),
         |runs AS (SELECT doc_id,
         |    pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
         |  FROM spos),
         |rl AS (SELECT doc_id, grp, count(*) AS run FROM runs
         |  GROUP BY doc_id, grp),
         |per AS (SELECT doc_id, CAST(sum(run) AS BIGINT) AS n_shared,
         |    CAST(max(run) + ${w - 1} AS BIGINT) AS max_span_tok
         |  FROM rl GROUP BY doc_id),
         |cov AS (SELECT doc_id,
         |    CAST(count(DISTINCT pos + u) AS BIGINT) AS covered_tok
         |  FROM spos CROSS JOIN range($w) t(u) GROUP BY doc_id)
         |SELECT per.doc_id, n_shared, covered_tok, max_span_tok
         |FROM per JOIN cov USING (doc_id)
         |ORDER BY per.doc_id""".stripMargin
    },

    // bucket = floor(log2(n_tok)) computed integer-exactly as
    // length-of-binary-string minus one in BOTH engines (Spark conv /
    // DuckDB to_base) — float log2 drifts at power-of-two boundaries
    "q_histogram_log" ->
      s"""SELECT CAST(length(to_base(n_tok, 2)) - 1 AS BIGINT) AS bucket,
         |  count(*) AS cnt,
         |  CAST(min(n_tok) AS BIGINT) AS lo,
         |  CAST(max(n_tok) AS BIGINT) AS hi
         |FROM (SELECT CAST(len($tokL) AS BIGINT) AS n_tok FROM documents)
         |GROUP BY 1 ORDER BY bucket""".stripMargin,

    // total_tok must be CAST: DuckDB's sum(BIGINT) returns HUGEINT
    // (INT128) while Spark emits LongType — the round-3 hash-red.
    // avg_score aggregates 2·score (an exact integer) as BIGINT and
    // divides once, mirroring the Spark side's drift-free mean.
    "q_corpus_stats" ->
      s"""SELECT pred_lang, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS total_tok,
         |  count(DISTINCT source) AS n_sources,
         |  round(CAST(sum(score2) AS DOUBLE) / (2 * count(*)), 4)
         |    AS avg_score
         |FROM (SELECT
         |    $predLangSql AS pred_lang,
         |    CAST(len($tokL) AS BIGINT) AS n_tok,
         |    source,
         |    CAST(($scoreSql) * 2 AS BIGINT) AS score2
         |  FROM documents)
         |GROUP BY pred_lang ORDER BY pred_lang""".stripMargin,

    "q_repetition" ->
      s"""WITH toks AS (SELECT doc_id, $tokL AS l FROM documents),
         |g AS (SELECT doc_id, list_transform(range(greatest(len(l)-1, 0)),
         |    i -> concat_ws(' ', l[i+1], l[i+2])) AS g2 FROM toks),
         |top AS (SELECT doc_id, max(c) AS top_c, sum(c) AS n_tok FROM
         |    (SELECT doc_id, tok, count(*) AS c FROM
         |      (SELECT doc_id, unnest(l) AS tok FROM toks)
         |     GROUP BY doc_id, tok)
         |  GROUP BY doc_id)
         |SELECT g.doc_id,
         |  CAST(len(g2) AS BIGINT) AS n_2gram,
         |  CAST(len(list_distinct(g2)) AS BIGINT) AS n_2gram_distinct,
         |  CASE WHEN len(g2) = 0 THEN 0.0
         |       ELSE round(1.0 - CAST(len(list_distinct(g2)) AS DOUBLE)
         |         / len(g2), 4) END AS dup_2gram_ratio,
         |  coalesce(round(CAST(top_c AS DOUBLE) / n_tok, 4), 0.0)
         |    AS top_tok_ratio
         |FROM g LEFT JOIN top ON g.doc_id = top.doc_id
         |ORDER BY g.doc_id""".stripMargin,

    // eval-split decontamination: 4-gram shingle overlap against the
    // deterministic doc_id % 50 = 0 slice (TextOps.decontamNgram)
    "q_decontaminate" ->
      s"""WITH toks AS (SELECT doc_id, $tokL AS l FROM documents),
         |sh AS (SELECT DISTINCT doc_id, shingle FROM
         |  (SELECT doc_id, unnest(list_transform(
         |     range(1, greatest(len(l) - 3, 0) + 1),
         |     i -> concat_ws(' ', l[i], l[i+1], l[i+2], l[i+3])))
         |   AS shingle FROM toks)),
         |ev AS (SELECT doc_id AS eval_id, shingle FROM sh WHERE doc_id % 50 = 0)
         |SELECT s.doc_id, count(DISTINCT s.shingle) AS n_hit,
         |  count(DISTINCT ev.eval_id) AS n_eval_docs
         |FROM sh s JOIN ev USING (shingle) WHERE s.doc_id % 50 <> 0
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,

    // sharded sequence packing: running token offset cut every 256
    // tokens within (lang, doc_id % 8) chains (TextOps.packBudget/
    // packShards)
    "q_pack" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |    CAST(len($tokL) AS BIGINT) AS n_tok,
         |    doc_id % 8 AS shard FROM documents),
         |c AS (SELECT doc_id, lang, shard, n_tok,
         |    CAST(sum(n_tok) OVER (PARTITION BY lang, shard
         |      ORDER BY doc_id) - n_tok AS BIGINT) AS tok_offset
         |  FROM d)
         |SELECT doc_id, lang, shard, n_tok,
         |  CAST(floor(tok_offset / 256.0) AS BIGINT) AS bin, tok_offset
         |FROM c ORDER BY doc_id""".stripMargin,

    // incremental dedup: new batch (doc_id % 5 = 0) probes the
    // historical corpus's MinHash band index — same 4×2 geometry as
    // q_dedup_minhash
    "q_dedup_incremental" ->
      s"""$shinglesCte,
         |sig AS (SELECT doc_id, $minhashLegs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, md5(concat(h0, h1)) AS bucket FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM sig),
         |hits AS (SELECT DISTINCT n.doc_id AS new_id, h.doc_id AS hist_id
         |  FROM bands n JOIN bands h
         |    ON n.band = h.band AND n.bucket = h.bucket
         |  WHERE n.doc_id % 5 = 0 AND h.doc_id % 5 <> 0)
         |SELECT new_id, count(*) AS n_matches, min(hist_id) AS first_match
         |FROM hits GROUP BY new_id ORDER BY new_id""".stripMargin,

    // domain-mixture reweighting vs a uniform target over the
    // (lang, source) cells
    "q_mixture_weights" ->
      s"""WITH g AS (SELECT lang, source, count(*) AS n_docs,
         |    CAST(sum(len($tokL)) AS BIGINT) AS n_tok
         |  FROM documents GROUP BY lang, source),
         |t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs,
         |    count(*) AS n_cells FROM g)
         |SELECT lang, source, n_docs, n_tok,
         |  round(n_docs / total_docs, 4) AS share,
         |  round((1.0 / n_cells) / (n_docs / total_docs), 4) AS weight,
         |  CAST(ceil((1.0 / n_cells) / (n_docs / total_docs)) AS BIGINT)
         |    AS repeat_factor
         |FROM g CROSS JOIN t ORDER BY lang, source""".stripMargin,

    // lexical entropy: H = ln(n) - sum(c*ln c)/n over per-doc term
    // frequencies; ttr = types/tokens
    "q_token_entropy" ->
      s"""WITH tf AS (SELECT doc_id, tok, count(*) AS c FROM
         |    (SELECT doc_id, unnest($tokL) AS tok FROM documents)
         |  GROUP BY doc_id, tok)
         |SELECT doc_id, CAST(sum(c) AS BIGINT) AS n,
         |  count(*) AS n_types,
         |  round(ln(CAST(sum(c) AS DOUBLE))
         |    - sum(c * ln(c)) / sum(c), 4) AS entropy,
         |  round(CAST(count(*) AS DOUBLE) / sum(c), 4) AS ttr
         |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // corpus-unigram LM scoring: nll = ln(T) − (Σ ln tf)/n, ppl =
    // exp(nll) (TextOps.q_lm_score)
    "q_lm_score" ->
      s"""WITH tk AS (SELECT doc_id, unnest($tokL) AS tok FROM documents),
         |tf AS (SELECT tok, count(*) AS tf FROM tk GROUP BY tok),
         |tot AS (SELECT CAST(sum(tf) AS DOUBLE) AS total FROM tf),
         |per AS (SELECT doc_id, count(*) AS n_tok, sum(ln(tf)) AS sll
         |  FROM tk JOIN tf USING (tok) GROUP BY doc_id)
         |SELECT doc_id, n_tok,
         |  round(ln((SELECT total FROM tot)) - sll / n_tok, 4) AS nll,
         |  round(exp(ln((SELECT total FROM tot)) - sll / n_tok), 4) AS ppl
         |FROM per ORDER BY doc_id""".stripMargin,

    // SymSpell fuzzy join (TextOps.q_fuzzy_join): 1-deletion
    // neighborhoods block the candidates, exact levenshtein verifies
    "q_fuzzy_join" ->
      s"""$fuzzyCandCte
         |SELECT term, tok, CAST(levenshtein(term, tok) AS BIGINT) AS dist
         |FROM cand WHERE levenshtein(term, tok) <= 1
         |ORDER BY term, tok""".stripMargin,

    // entity resolution (TextOps.q_entity_resolve): the fuzzy match
    // edges closed into components (recursive reach, min canonical)
    "q_entity_resolve" ->
      s"""${fuzzyCandCte.replace("WITH ", "WITH RECURSIVE ")},
         |m AS (SELECT DISTINCT term, tok FROM cand
         |  WHERE levenshtein(term, tok) <= 1 AND term <> tok),
         |edges AS (SELECT term AS src, tok AS dst FROM m
         |  UNION ALL SELECT tok, term FROM m),
         |reach(id, r) AS (
         |  SELECT src, src FROM edges
         |  UNION
         |  SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r),
         |lab AS (SELECT id, min(r) AS label FROM reach GROUP BY id),
         |sizes AS (SELECT label, count(*) AS n_members FROM lab GROUP BY 1)
         |SELECT lab.label AS entity_id, lab.id AS member, sizes.n_members
         |FROM lab JOIN sizes USING (label)
         |ORDER BY entity_id, member""".stripMargin,

    // bigram LM with add-one smoothing (TextOps.q_lm_bigram):
    // per-position contributions rounded to 6dp and summed as
    // DECIMAL(18,6) — the BM25 order-independence discipline
    "q_lm_bigram" ->
      s"""WITH toks AS (SELECT doc_id, $tokL AS l FROM documents),
         |dp AS (SELECT doc_id,
         |    unnest(list_transform(range(greatest(len(l) - 1, 0)),
         |      i -> concat(l[i + 1], ' ', l[i + 2]))) AS pair FROM toks),
         |dp2 AS (SELECT doc_id, split_part(pair, ' ', 1) AS a,
         |    split_part(pair, ' ', 2) AS b FROM dp),
         |cb AS (SELECT a, b, count(*) AS cb FROM dp2 GROUP BY a, b),
         |tk AS (SELECT unnest(l) AS tok FROM toks),
         |cu AS (SELECT tok AS a, count(*) AS cu FROM tk GROUP BY tok),
         |v AS (SELECT count(DISTINCT tok) AS v FROM tk)
         |SELECT doc_id, count(*) AS n_big,
         |  round(CAST(sum(c) AS DOUBLE) / count(*), 4) AS nll_bigram
         |FROM (SELECT doc_id,
         |    CAST(round(ln(cu + v) - ln(cb + 1), 6) AS DECIMAL(18,6)) AS c
         |  FROM dp2 JOIN cb USING (a, b) JOIN cu USING (a) CROSS JOIN v)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // fixed-token-window chunking (size 32, stride 24; TextOps.q_chunk)
    "q_chunk" ->
      s"""WITH toks AS (SELECT doc_id, $tokL AS l FROM documents),
         |st AS (SELECT doc_id, l, unnest(range(0, len(l), 24)) AS start
         |  FROM toks WHERE len(l) > 0)
         |SELECT doc_id, CAST(start // 24 AS BIGINT) AS chunk_id,
         |  CAST(start AS BIGINT) AS start_tok,
         |  CAST(len(list_slice(l, start + 1, start + 32)) AS BIGINT) AS n_tok,
         |  array_to_string(list_slice(l, start + 1, start + 32), ' ') AS chunk_text
         |FROM st ORDER BY doc_id, chunk_id""".stripMargin,

    // cross-doc boilerplate fraction (distinct-shingle df ≥ 3;
    // TextOps.q_boilerplate — boilerplateMinDf)
    "q_boilerplate" ->
      s"""$shinglesCte,
         |dfs AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
         |per AS (SELECT doc_id, count(*) AS n_shingles,
         |    sum(CASE WHEN df >= 3 THEN 1 ELSE 0 END) AS n_boiler
         |  FROM sh JOIN dfs USING (shingle) GROUP BY doc_id)
         |SELECT d.doc_id, CAST(coalesce(n_shingles, 0) AS BIGINT) AS n_shingles,
         |  CAST(coalesce(n_boiler, 0) AS BIGINT) AS n_boiler,
         |  CASE WHEN coalesce(n_shingles, 0) = 0 THEN 0.0
         |       ELSE round(CAST(n_boiler AS DOUBLE) / n_shingles, 4) END
         |    AS boiler_ratio
         |FROM documents d LEFT JOIN per USING (doc_id) ORDER BY doc_id""".stripMargin,

    // top-40-vocab PMI collocations (TextOps.q_cooccur — cooccurVocab /
    // cooccurMinPairDf); integer counts inside one final ln
    "q_cooccur" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id, tok FROM
         |    (SELECT doc_id, unnest($tokL) AS tok FROM documents)),
         |vocab AS (SELECT tok, count(*) AS df FROM dt GROUP BY tok
         |  ORDER BY count(*) DESC, tok LIMIT 40),
         |tv AS (SELECT dt.doc_id, dt.tok, vocab.df FROM dt JOIN vocab USING (tok)),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents)
         |SELECT a.tok AS tok_a, b.tok AS tok_b, count(*) AS n_pair,
         |  a.df AS df_a, b.df AS df_b,
         |  round(ln(count(*) * (SELECT n_docs FROM n) / (a.df * b.df)), 4) AS pmi
         |FROM tv a JOIN tv b ON a.doc_id = b.doc_id AND a.tok < b.tok
         |GROUP BY a.tok, b.tok, a.df, b.df
         |HAVING count(*) >= 5
         |ORDER BY pmi DESC, tok_a, tok_b LIMIT 100""".stripMargin,

    // per-language length z-scores from exact integer moments; the
    // outlier flag is pure integer arithmetic (TextOps.q_outlier)
    "q_outlier" ->
      """WITH s AS (SELECT lang, count(*) AS n, sum(n_chars) AS sx,
        |    sum(n_chars * n_chars) AS sxx FROM documents GROUP BY lang)
        |SELECT doc_id, lang, n_chars,
        |  round(CAST(n_chars * n - sx AS DOUBLE)
        |    / sqrt(CAST(n * (n * sxx - sx * sx) AS DOUBLE) / (n - 1)), 4) AS z,
        |  CAST(CASE WHEN (n_chars * n - sx) * (n_chars * n - sx) * (n - 1)
        |       > (n * sxx - sx * sx) * n * 4 THEN 1 ELSE 0 END AS BIGINT)
        |    AS is_outlier
        |FROM documents JOIN s USING (lang) ORDER BY doc_id""".stripMargin,

    // Tukey-fence winsorization (TextOps.q_winsorize): quartiles of
    // BIGINTs interpolate at exact binary fractions, so the fences
    // (multiples of 1/8) and the clamp agree bit-for-bit — no round
    "q_winsorize" ->
      """WITH f AS (SELECT lang,
        |    quantile_cont(n_chars, 0.25) * 2.5
        |      - quantile_cont(n_chars, 0.75) * 1.5 AS lo_fence,
        |    quantile_cont(n_chars, 0.75) * 2.5
        |      - quantile_cont(n_chars, 0.25) * 1.5 AS hi_fence
        |  FROM documents GROUP BY lang)
        |SELECT doc_id, lang, n_chars,
        |  least(greatest(CAST(n_chars AS DOUBLE), lo_fence), hi_fence)
        |    AS clamped,
        |  CAST(CASE WHEN CAST(n_chars AS DOUBLE) < lo_fence
        |         OR CAST(n_chars AS DOUBLE) > hi_fence
        |       THEN 1 ELSE 0 END AS BIGINT) AS was_clamped
        |FROM documents JOIN f USING (lang) ORDER BY doc_id""".stripMargin,

    // MAD outliers (TextOps.q_anomaly_mad): med2 = 2·median and
    // mad4 = 4·MAD are integer-exact (medians of BIGINTs are exact
    // halves; medians of the integer deviations exact quarters), so
    // the flag comparison is pure integer arithmetic in both engines
    "q_anomaly_mad" ->
      """WITH med AS (SELECT lang,
        |    CAST(quantile_cont(n_chars, 0.5) * 2 AS BIGINT) AS med2
        |  FROM documents GROUP BY lang),
        |dev AS (SELECT d.lang, abs(d.n_chars * 2 - m.med2) AS dev2
        |  FROM documents d JOIN med m USING (lang)),
        |mad AS (SELECT lang,
        |    CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
        |  FROM dev GROUP BY lang)
        |SELECT doc_id, d.lang, n_chars,
        |  CAST(m.med2 AS DOUBLE) / 2 AS med,
        |  CAST(a.mad4 AS DOUBLE) / 4 AS mad,
        |  CAST(CASE WHEN abs(n_chars * 2 - m.med2) * 2 > a.mad4 * 3
        |       THEN 1 ELSE 0 END AS BIGINT) AS is_outlier
        |FROM documents d JOIN med m USING (lang) JOIN mad a USING (lang)
        |ORDER BY doc_id""".stripMargin,

    // BPE-trainer pair statistics (TextOps.q_bpe_pairs): adjacent
    // token bigram counts, overlapping occurrences all counted; the
    // (cnt DESC, pair) order makes the LIMIT deterministic
    "q_bpe_pairs" ->
      s"""WITH toks AS (SELECT $tokL AS l FROM documents),
         |p AS (SELECT unnest(list_transform(range(greatest(len(l) - 1, 0)),
         |    i -> concat(l[i + 1], ' ', l[i + 2]))) AS pair FROM toks)
         |SELECT pair, count(*) AS cnt FROM p
         |GROUP BY pair ORDER BY cnt DESC, pair LIMIT 20""".stripMargin,

    // dedup-quality threshold sweep (TextOps.q_dedup_eval_sweep):
    // the q_dedup_eval machinery with the truth gate parameterized
    // over the shared exact-fraction tau list; tr/cand MATERIALIZED
    // (read once per threshold)
    "q_dedup_eval_sweep" -> {
      val hex = operators.TextOps.dedupEvalPanelHex
      val tauBlocks = operators.TextOps.dedupEvalTaus
        .map { case (label, p, q) =>
          s"""SELECT '$label' AS tau,
             |  CAST(coalesce(sum(t), 0) AS BIGINT) AS n_truth,
             |  CAST(coalesce(sum(c), 0) AS BIGINT) AS n_cand,
             |  CAST(coalesce(sum(t * c), 0) AS BIGINT) AS tp,
             |  CASE WHEN coalesce(sum(c), 0) = 0 THEN 0.0
             |    ELSE round(CAST(sum(t * c) AS DOUBLE)
             |      / CAST(sum(c) AS DOUBLE), 4) END AS precision_tau,
             |  CASE WHEN coalesce(sum(t), 0) = 0 THEN 0.0
             |    ELSE round(CAST(sum(t * c) AS DOUBLE)
             |      / CAST(sum(t) AS DOUBLE), 4) END AS recall_tau
             |FROM (SELECT
             |    CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END AS t,
             |    CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END AS c
             |  FROM (SELECT a_id, b_id FROM tr
             |      JOIN sizes sa ON a_id = sa.doc_id
             |      JOIN sizes sb ON b_id = sb.doc_id
             |      WHERE ${p + q} * inter >= $p * (sa.n + sb.n)) t
             |  FULL OUTER JOIN cand c
             |    ON t.a_id = c.a_id AND t.b_id = c.b_id)""".stripMargin
        }.mkString("\nUNION ALL ")
      s"""$shinglesCte,
        |ids AS (SELECT doc_id FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$hex'),
        |shs AS (SELECT sh.doc_id, sh.shingle FROM sh
        |  JOIN ids USING (doc_id)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM shs GROUP BY 1),
        |tr AS MATERIALIZED (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    count(*) AS inter
        |  FROM shs a JOIN shs b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |sig AS (SELECT doc_id, $minhashLegs FROM sh GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(concat(h0, h1)) AS bucket FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM sig),
        |cand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS a_id,
        |    b.doc_id AS b_id
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bucket = b.bucket
        |      AND a.doc_id < b.doc_id
        |  JOIN ids ia ON a.doc_id = ia.doc_id
        |  JOIN ids ib ON b.doc_id = ib.doc_id)
        |$tauBlocks
        |ORDER BY tau""".stripMargin
    },

    // corpus coverage curve (TextOps.q_coverage_curve): deciles via
    // window ntile (ScalableRank is bit-identical by construction),
    // first-appearance min per shingle, bounded decile frame after
    "q_coverage_curve" ->
      s"""$shinglesCte,
         |dec AS (SELECT doc_id,
         |    CAST(ntile(10) OVER (ORDER BY doc_id) AS BIGINT) AS decile
         |  FROM documents),
         |fd AS (SELECT shingle, min(doc_id) AS doc_id FROM sh GROUP BY 1),
         |pd AS (SELECT decile, CAST(count(*) AS BIGINT) AS new_shingles
         |  FROM fd JOIN dec USING (doc_id) GROUP BY 1),
         |dp AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_docs
         |  FROM dec GROUP BY 1),
         |t AS (SELECT CAST(sum(new_shingles) AS BIGINT) AS tot FROM pd),
         |c AS (SELECT dp.decile, n_docs,
         |    coalesce(new_shingles, 0) AS new_shingles,
         |    CAST(sum(coalesce(new_shingles, 0)) OVER (ORDER BY dp.decile
         |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_shingles
         |  FROM dp LEFT JOIN pd USING (decile))
         |SELECT decile, n_docs, new_shingles, cum_shingles,
         |  CAST((2 * CAST(cum_shingles AS HUGEINT) * 10000 + tot)
         |    // (2 * CAST(tot AS HUGEINT)) AS DOUBLE) / 10000 AS cum_share
         |FROM c CROSS JOIN t ORDER BY decile""".stripMargin,

    // char-level BPE trainer (TextOps.q_bpe_train): bpeTrainMerges
    // unrolled MATERIALIZED rounds (the q_kcore discipline — default
    // inlining would blow the plan up exponentially); the two-pass
    // padded replace is the same declared merge-application
    // convention the Spark side uses
    "q_bpe_train" -> {
      val rows = (1 to graft.operators.TextOps.bpeTrainMerges).map(r =>
        s"SELECT CAST($r AS BIGINT) AS step, pair, merged, cnt, " +
          s"symbols_after FROM b$r CROSS JOIN s$r")
        .mkString("\nUNION ALL ")
      s"""$bpeTrainCtes
         |$rows
         |ORDER BY step""".stripMargin
    },

    // BPE encode (TextOps.q_bpe_encode): the corpus re-tokenized with
    // the trained merges — same round CTEs, final join on the
    // vocabulary frame; integer-only output
    "q_bpe_encode" -> {
      val last = graft.operators.TextOps.bpeTrainMerges
      s"""$bpeTrainCtes,
         |d AS (SELECT doc_id, unnest($tokL) AS tok FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tok,
         |  CAST(sum(len(string_split(trim(seg), ' '))) AS BIGINT)
         |    AS n_symbols
         |FROM d JOIN w$last USING (tok)
         |GROUP BY 1 ORDER BY doc_id""".stripMargin
    },

    // Efraimidis–Spirakis weighted sampling: key = ln(u)/w from a
    // salted md5 uniform, top-k keys = the weighted sample
    // (Relational.q_sample_weighted)
    "q_sample_weighted" -> {
      val hexw = (0 until 8).map(i =>
        s"(strpos('0123456789abcdef', substr(md5('wsamp:' || " +
          s"CAST(doc_id AS VARCHAR)), ${i + 1}, 1)) - 1)*${1L << (4 * (7 - i))}")
        .mkString("(", " + ", ")")
      s"""WITH k AS (SELECT doc_id, lang, n_chars,
         |  round(ln((CAST($hexw AS BIGINT) + 1) / 4294967296.0)
         |    / n_chars, 8) AS es_key
         |FROM documents)
         |SELECT doc_id, lang, n_chars, es_key FROM k
         |ORDER BY es_key DESC, doc_id LIMIT 150""".stripMargin
    },

    // trailing-hour RANGE frame over epoch seconds
    // (Relational.q_rolling_time)
    "q_rolling_time" ->
      """SELECT event_id, event_type, ts,
        |  count(*) OVER w AS n_1h,
        |  round(sum(value) OVER w, 4) AS sum_1h
        |FROM events
        |WINDOW w AS (PARTITION BY event_type
        |  ORDER BY CAST(floor(epoch(ts)) AS BIGINT)
        |  RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,

    // composed curation pipeline: lang gate → quality gate → exact
    // dedup keep-min → greedy near-dup pair-drop over survivors
    "q_curate" ->
      s"""$shinglesCte,
         |sig AS (SELECT doc_id, $minhashLegs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, md5(concat(h0, h1)) AS bucket FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |stats AS (SELECT doc_id, text,
         |    CAST(len($tokL) AS BIGINT) AS n_tok,
         |    $scoreSql AS score,
         |    $predLangSql AS pred_lang
         |  FROM documents),
         |gated AS (SELECT * FROM stats WHERE pred_lang = 'en' AND score >= 0.5),
         |keep AS (SELECT min(doc_id) AS doc_id FROM gated GROUP BY md5(text)),
         |surv AS (SELECT g.* FROM gated g JOIN keep k ON g.doc_id = k.doc_id),
         |dropb AS (SELECT DISTINCT c.b_id FROM cand c
         |  JOIN surv sa ON c.a_id = sa.doc_id
         |  JOIN surv sb ON c.b_id = sb.doc_id)
         |SELECT s.doc_id, n_tok, score, pred_lang
         |FROM surv s LEFT JOIN dropb d ON s.doc_id = d.b_id
         |WHERE d.b_id IS NULL ORDER BY doc_id""".stripMargin,

    // composed training-set build (TextOps.q_pipeline_build): the
    // q_curate chain extended through decontam → mixture quota →
    // split → pack, audited per stage with id-sum/min/max checksums
    // and the packed-bin manifest fold. Every stage rule is the SAME
    // SQL its standalone twin uses (constants interpolated from the
    // Scala vals); stage CTEs are MATERIALIZED — each feeds its audit
    // AND its successor (the q_pagerank_conv inlining lesson).
    "q_pipeline_build" -> {
      val den = graft.operators.TextOps.mixSampleDen
      val ng = graft.operators.TextOps.decontamNgram
      val budget = graft.operators.TextOps.packBudget
      val shards = graft.operators.TextOps.packShards
      def aud(ord: Int, name: String, from: String, manifest: String = "CAST(0 AS BIGINT)") =
        s"""SELECT CAST($ord AS BIGINT) AS stage_ord, '$name' AS stage,
           |  CAST(count(*) AS BIGINT) AS n_out,
           |  CAST(coalesce(sum(doc_id), 0) AS BIGINT) AS id_sum,
           |  CAST(coalesce(min(doc_id), -1) AS BIGINT) AS id_min,
           |  CAST(coalesce(max(doc_id), -1) AS BIGINT) AS id_max,
           |  $manifest AS manifest FROM $from""".stripMargin
      s"""$shinglesCte,
         |sig AS (SELECT doc_id, $minhashLegs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, md5(concat(h0, h1)) AS bucket FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM sig),
         |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |stats AS MATERIALIZED (SELECT doc_id, lang, source,
         |    CAST(len($tokL) AS BIGINT) AS n_tok,
         |    $scoreSql AS score,
         |    $predLangSql AS pred_lang,
         |    md5(text) AS text_hash
         |  FROM documents),
         |s1 AS MATERIALIZED (SELECT * FROM stats WHERE pred_lang = 'en'),
         |s2 AS MATERIALIZED (SELECT * FROM s1 WHERE score >= 0.5),
         |keep AS (SELECT min(doc_id) AS doc_id FROM s2 GROUP BY text_hash),
         |s3 AS MATERIALIZED (SELECT g.* FROM s2 g JOIN keep k ON g.doc_id = k.doc_id),
         |dropb AS (SELECT DISTINCT c.b_id FROM cand c
         |  JOIN s3 sa ON c.a_id = sa.doc_id
         |  JOIN s3 sb ON c.b_id = sb.doc_id),
         |s4 AS MATERIALIZED (SELECT s.* FROM s3 s LEFT JOIN dropb d ON s.doc_id = d.b_id
         |  WHERE d.b_id IS NULL),
         |toks4 AS (SELECT doc_id, $tokL AS l FROM documents),
         |sh4 AS MATERIALIZED (SELECT DISTINCT doc_id, shingle FROM
         |  (SELECT doc_id, unnest(list_transform(
         |     range(1, greatest(len(l) - ${ng - 1}, 0) + 1),
         |     i -> concat_ws(' ', l[i], l[i+1], l[i+2], l[i+3])))
         |   AS shingle FROM toks4)),
         |ev AS (SELECT DISTINCT shingle FROM sh4 WHERE doc_id % 50 = 0),
         |contam AS (SELECT DISTINCT s.doc_id FROM sh4 s JOIN ev USING (shingle)
         |  WHERE s.doc_id % 50 <> 0),
         |s5 AS MATERIALIZED (SELECT s.* FROM s4 s LEFT JOIN contam c ON s.doc_id = c.doc_id
         |  WHERE s.doc_id % 50 <> 0 AND c.doc_id IS NULL),
         |t5 AS (SELECT count(*) AS n, count(DISTINCT source) AS k FROM s5),
         |p5 AS (SELECT CAST((((n + ${den - 1}) // $den) + k - 1) // k
         |    AS BIGINT) AS per FROM t5),
         |r6 AS (SELECT s.*, row_number() OVER (PARTITION BY source
         |    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk FROM s5 s),
         |s6 AS MATERIALIZED (SELECT r6.doc_id, r6.lang, r6.source, r6.n_tok
         |  FROM r6 CROSS JOIN p5 WHERE rk <= per),
         |s7 AS MATERIALIZED (SELECT * FROM s6
         |  WHERE substr(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'),
         |p8 AS (SELECT doc_id, lang, n_tok, doc_id % $shards AS shard FROM s7),
         |c8 AS (SELECT doc_id,
         |    CAST(sum(n_tok) OVER (PARTITION BY lang, shard
         |      ORDER BY doc_id) - n_tok AS BIGINT) AS tok_offset
         |  FROM p8),
         |s8 AS MATERIALIZED (SELECT doc_id,
         |    CAST(floor(tok_offset / $budget.0) AS BIGINT) AS bin FROM c8),
         |a AS (
         |${aud(0, "input", "documents")}
         |UNION ALL ${aud(1, "lang_gate", "s1")}
         |UNION ALL ${aud(2, "quality_gate", "s2")}
         |UNION ALL ${aud(3, "exact_dedup", "s3")}
         |UNION ALL ${aud(4, "near_dup", "s4")}
         |UNION ALL ${aud(5, "decontam", "s5")}
         |UNION ALL ${aud(6, "mixture_quota", "s6")}
         |UNION ALL ${aud(7, "split_assign", "s7")}
         |UNION ALL ${aud(8, "pack", "s8",
        "CAST(coalesce(sum(doc_id * (bin + 1)), 0) AS BIGINT)")})
         |SELECT stage_ord, stage,
         |  coalesce(lag(n_out) OVER (ORDER BY stage_ord), n_out) AS n_in,
         |  n_out,
         |  coalesce(lag(n_out) OVER (ORDER BY stage_ord), n_out) - n_out
         |    AS n_dropped,
         |  id_sum, id_min, id_max, manifest
         |FROM a ORDER BY stage_ord""".stripMargin
    },

    "q_simhash_sig" ->
      s"""$simhashCte
         |SELECT doc_id, sim_hi, sim_lo FROM sig ORDER BY doc_id""".stripMargin,

    "q_dedup_simhash" ->
      s"""$simhashCte,
         |$simhashBlkCte,
         |bands AS ($simhashBandSelects)
         |SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.sim_hi, b.sim_hi))
         |    + bit_count(xor(a.sim_lo, b.sim_lo)) AS BIGINT) AS hamming
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
         |WHERE CAST(bit_count(xor(a.sim_hi, b.sim_hi))
         |    + bit_count(xor(a.sim_lo, b.sim_lo)) AS BIGINT) <= 3
         |ORDER BY a_id, b_id""".stripMargin,

    // threshold-tuning histogram (TextOps.q_hamming_hist): the same
    // candidate pairs under the WIDER audit ceiling (the gate pushes
    // below the distinct, like the dedup's verify threshold),
    // distance-bucketed with a bounded cumulative window
    "q_hamming_hist" ->
      s"""$simhashCte,
         |$simhashBlkCte,
         |bands AS ($simhashBandSelects),
         |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
         |  CAST(bit_count(xor(a.sim_hi, b.sim_hi))
         |    + bit_count(xor(a.sim_lo, b.sim_lo)) AS BIGINT) AS hamming
         |FROM bands a JOIN bands b
         |  ON a.band = b.band AND a.bucket = b.bucket
         |    AND a.doc_id < b.doc_id
         |WHERE CAST(bit_count(xor(a.sim_hi, b.sim_hi))
         |    + bit_count(xor(a.sim_lo, b.sim_lo)) AS BIGINT)
         |  <= ${graft.operators.TextOps.hammingAuditMax}),
         |hist AS (SELECT hamming, count(*) AS n_pairs FROM pairs
         |  GROUP BY 1),
         |tot AS (SELECT CAST(sum(n_pairs) AS BIGINT) AS t FROM hist)
         |SELECT hamming, n_pairs,
         |  CAST(sum(n_pairs) OVER (ORDER BY hamming) AS BIGINT)
         |    AS cum_pairs,
         |  round(CAST(sum(n_pairs) OVER (ORDER BY hamming) AS DOUBLE)
         |    / t, 4) AS cum_share
         |FROM hist CROSS JOIN tot ORDER BY hamming""".stripMargin,

    // per-source quality dashboard (TextOps.q_source_profile): the
    // same predLang/score snippets every gate oracle shares; score
    // mean via the exact 2·half-integer BIGINT trick (q_corpus_stats)
    "q_source_profile" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(len($tokL)) AS BIGINT) AS total_tok,
         |  CAST(sum(CASE WHEN $predLangSql = 'en' THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_en,
         |  round(CAST(sum(CAST($scoreSql * 2 AS BIGINT)) AS DOUBLE)
         |    / (count(*) * 2), 4) AS avg_score,
         |  round(CAST(sum(len($tokL)) AS DOUBLE) / count(*), 2)
         |    AS avg_tok
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,

    // cross-source near-dup provenance (TextOps.q_dup_matrix): each
    // candidate pair mapped to its unordered source pair
    "q_dup_matrix" ->
      s"""$shinglesCte,
         |$candEdgesCtes,
         |m AS (SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b
         |  FROM cand
         |  JOIN documents da ON cand.a_id = da.doc_id
         |  JOIN documents db ON cand.b_id = db.doc_id)
         |SELECT src_a, src_b, count(*) AS n_pairs FROM m
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // LSH banding-health readout (TextOps.q_degree_dist): degree
    // histogram of the symmetric candidate edge list
    "q_degree_dist" ->
      s"""$shinglesCte,
         |$candEdgesCtes,
         |deg AS (SELECT src AS id, count(*) AS deg FROM edges
         |  GROUP BY src)
         |SELECT deg, count(*) AS n_nodes FROM deg
         |GROUP BY deg ORDER BY deg""".stripMargin,

    // ── vectors (SURVEY §2.11) ─────────────────────────────────────
    "q_sim_topk" ->
      s"""WITH q AS (SELECT embedding AS q_emb FROM embeddings WHERE vec_id = 0)
         |SELECT vec_id, round(dp / (sqrt(na) * sqrt(nq)), 4) AS sim FROM (
         |  SELECT e.vec_id, ${dot("e.embedding", "q.q_emb")} AS dp,
         |    ${norm2("e.embedding")} AS na, ${norm2("q.q_emb")} AS nq
         |  FROM embeddings e, q WHERE e.vec_id <> 0)
         |ORDER BY sim DESC, vec_id LIMIT 10""".stripMargin,

    // per-source top-k twin: the bounded-state TopKAgg result equals a
    // row_number window because the (n_chars DESC, doc_id ASC) order
    // is total — the window IS the declarative spec of the aggregate
    "q_group_topk" -> {
      val k = graft.operators.TextOps.groupTopK
      s"""SELECT source, rk, doc_id, n_chars
         |FROM (SELECT source, doc_id, n_chars,
         |    row_number() OVER (PARTITION BY source
         |      ORDER BY n_chars DESC, doc_id) AS rk
         |  FROM documents)
         |WHERE rk <= $k ORDER BY source, rk""".stripMargin
    },

    // scalar-quantization twin: exact min/max bounds, floor binning
    // (no round-tie semantics anywhere), MSE via the same
    // operation-order arithmetic and list_sum fold as the Spark side
    "q_vec_quantize" -> {
      val bins = graft.operators.VectorOps.sqBins
      s"""WITH comp AS (
         |  SELECT i, min(CAST(x AS DOUBLE)) AS mn, max(CAST(x AS DOUBLE)) AS mx
         |  FROM (SELECT unnest(embedding) AS x,
         |          unnest(range(1, len(embedding)+1)) AS i FROM embeddings)
         |  GROUP BY i),
         |b AS (SELECT list(mn ORDER BY i) AS mins, list(mx ORDER BY i) AS maxs
         |  FROM comp),
         |coded AS (
         |  SELECT e.vec_id, e.embedding, b.mins, b.maxs,
         |    list_transform(range(1, len(e.embedding)+1), i ->
         |      CASE WHEN b.maxs[i] = b.mins[i] THEN 0
         |        ELSE least(255, CAST(floor((CAST(e.embedding[i] AS DOUBLE) - b.mins[i])
         |          / (b.maxs[i] - b.mins[i]) * $bins) AS BIGINT)) END) AS codes
         |  FROM embeddings e, b)
         |SELECT vec_id, array_to_string(codes, ',') AS codes,
         |  round(list_sum(list_transform(range(1, len(embedding)+1), i ->
         |    (CAST(embedding[i] AS DOUBLE) - (mins[i]
         |       + (CAST(codes[i] AS DOUBLE) + 0.5) * (maxs[i] - mins[i]) / $bins))
         |    * (CAST(embedding[i] AS DOUBLE) - (mins[i]
         |       + (CAST(codes[i] AS DOUBLE) + 0.5) * (maxs[i] - mins[i]) / $bins))))
         |    / len(embedding), 6) AS mse
         |FROM coded ORDER BY vec_id""".stripMargin
    },

    // semantic-dedup twin: DECIMAL-exact per-(label, component) means
    // (float → DOUBLE exact, DOUBLE → DECIMAL(20,8) rounds identically
    // in both engines — q_vec_norm precedent), centroid rebuilt as an
    // ordered list, cosine via the same sequential fold as q_sim_topk
    // class-centroid cosine matrix (VectorOps.q_centroid_sim):
    // shares q_dedup_semantic's DECIMAL-exact centroid CTE; the pair
    // stage is k×k on centroids only
    "q_centroid_sim" ->
      s"""WITH comp AS (
         |  SELECT label, i,
         |    CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8)))
         |      / count(*) AS DOUBLE) AS m
         |  FROM (SELECT label, unnest(embedding) AS x,
         |          unnest(range(1, len(embedding)+1)) AS i
         |        FROM embeddings)
         |  GROUP BY label, i),
         |cent AS (SELECT label, list(m ORDER BY i) AS c
         |  FROM comp GROUP BY label)
         |SELECT a.label AS label_a, b.label AS label_b,
         |  round(${dot("a.c", "b.c")} /
         |    (sqrt(${norm2("a.c")}) * sqrt(${norm2("b.c")})), 4) + 0.0
         |    AS cos_c
         |FROM cent a JOIN cent b ON a.label < b.label
         |ORDER BY label_a, label_b""".stripMargin,

    "q_dedup_semantic" -> {
      val tau = graft.operators.VectorOps.semDedupTau
      s"""WITH comp AS (
         |  SELECT label, i,
         |    CAST(sum(CAST(CAST(x AS DOUBLE) AS DECIMAL(20,8)))
         |      / count(*) AS DOUBLE) AS m
         |  FROM (SELECT label, unnest(embedding) AS x,
         |          unnest(range(1, len(embedding)+1)) AS i
         |        FROM embeddings)
         |  GROUP BY label, i),
         |cent AS (SELECT label, list(m ORDER BY i) AS c
         |  FROM comp GROUP BY label),
         |scored AS (
         |  SELECT e.vec_id, e.label,
         |    round(${dot("e.embedding", "c.c")} /
         |      (sqrt(${norm2("e.embedding")}) * sqrt(${norm2("c.c")})), 4)
         |      + 0.0 AS cos_c
         |  FROM embeddings e JOIN cent c USING (label)),
         |keep AS (SELECT label, min(vec_id) AS keep_id FROM scored
         |  WHERE cos_c >= $tau GROUP BY label)
         |SELECT s.vec_id, s.label, s.cos_c,
         |  coalesce(s.cos_c >= $tau AND s.vec_id <> k.keep_id, false)
         |    AS is_dup
         |FROM scored s LEFT JOIN keep k USING (label)
         |ORDER BY s.vec_id""".stripMargin
    },

    "q_vec_norm" ->
      s"""SELECT label, n, round(CAST(sum_norm AS DOUBLE) / n, 4) AS avg_norm
         |FROM (SELECT label, count(*) AS n,
         |    sum(CAST(sqrt(${norm2("embedding")}) AS DECIMAL(18,6))) AS sum_norm
         |  FROM embeddings GROUP BY label)
         |ORDER BY label""".stripMargin,

    "q_vec_project" ->
      s"""SELECT vec_id,
         |  $projCols
         |FROM embeddings ORDER BY vec_id""".stripMargin,

    "q_dedup_embed" -> {
      // banded axis-sign LSH: band j's bucket = 4 sign bits from
      // components [4j+1, 4j+4] (1-based); 8 bands (VectorOps
      // dedupBands/dedupBandBits). Pair enumeration is BOUNDED per
      // block (r9 contract): only the `dedupPairCap` lowest-id block
      // members anchor pairs, and every pair reports whether any of
      // its blocks was truncated (capped, the observable-truncation
      // discipline) — constants interpolated from the Scala vals.
      def bucket(j: Int) = (0 until 4)
        .map(i => s"(CASE WHEN embedding[${j * 4 + i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)")
        .mkString(" + ")
      val bandSelects = (0 until 8)
        .map(j => s"SELECT vec_id, label, $j AS band, ${bucket(j)} AS bucket FROM v")
        .mkString("\nUNION ALL ")
      val cap = graft.operators.VectorOps.dedupPairCap
      s"""WITH v AS (SELECT vec_id, label, embedding FROM embeddings),
         |bands AS ($bandSelects),
         |ranked AS (SELECT vec_id, label, band, bucket,
         |  row_number() OVER (PARTITION BY label, band, bucket
         |    ORDER BY vec_id) AS rk,
         |  count(*) OVER (PARTITION BY label, band, bucket) AS bn
         |  FROM bands),
         |cand AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    a.label AS label,
         |    CAST(max(CASE WHEN a.bn > ${cap + 1} THEN 1 ELSE 0 END)
         |      AS BIGINT) AS capped
         |  FROM ranked a JOIN ranked b
         |    ON a.label = b.label AND a.band = b.band AND a.bucket = b.bucket
         |      AND a.vec_id < b.vec_id
         |  WHERE a.rk <= $cap
         |  GROUP BY 1, 2, 3)
         |SELECT a_id, b_id, label, cos, capped FROM (
         |  SELECT c.a_id, c.b_id, c.label, c.capped,
         |    round(${dot("va.embedding", "vb.embedding")} /
         |      (sqrt(${norm2("va.embedding")}) * sqrt(${norm2("vb.embedding")})), 4) AS cos
         |  FROM cand c JOIN v va ON c.a_id = va.vec_id JOIN v vb ON c.b_id = vb.vec_id)
         |WHERE cos >= ${graft.operators.VectorOps.nearDupTau} ORDER BY a_id, b_id""".stripMargin
    },

    "q_dedup_embed_star" -> {
      // same 8×4 axis-sign banding as q_dedup_embed, but candidates
      // are star edges to each (label, band, bucket) block's min-id
      // representative — the linear-candidate dedup-decision shape
      def bucket(j: Int) = (0 until 4)
        .map(i => s"(CASE WHEN embedding[${j * 4 + i + 1}] >= 0 THEN ${1 << i} ELSE 0 END)")
        .mkString(" + ")
      val bandSelects = (0 until 8)
        .map(j => s"SELECT vec_id, label, $j AS band, ${bucket(j)} AS bucket FROM v")
        .mkString("\nUNION ALL ")
      s"""WITH v AS (SELECT vec_id, label, embedding FROM embeddings),
         |bands AS ($bandSelects),
         |edges AS (SELECT DISTINCT rep_id, vec_id, label FROM (
         |  SELECT min(vec_id) OVER (PARTITION BY label, band, bucket) AS rep_id,
         |    vec_id, label FROM bands)
         |  WHERE vec_id <> rep_id)
         |SELECT rep_id, vec_id, label, cos FROM (
         |  SELECT e.rep_id, e.vec_id, e.label,
         |    round(${dot("vr.embedding", "vv.embedding")} /
         |      (sqrt(${norm2("vr.embedding")}) * sqrt(${norm2("vv.embedding")})), 4) AS cos
         |  FROM edges e JOIN v vr ON e.rep_id = vr.vec_id JOIN v vv ON e.vec_id = vv.vec_id)
         |WHERE cos >= ${graft.operators.VectorOps.nearDupTau} ORDER BY rep_id, vec_id""".stripMargin
    },

    // ── multimodal ─────────────────────────────────────────────────
    "q_media_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  CAST(octet_length(CAST(text AS BLOB)) % 640 + 1 AS BIGINT) AS fake_width,
        |  CAST(octet_length(CAST(text AS BLOB)) % 480 + 1 AS BIGINT) AS fake_height,
        |  CAST(octet_length(CAST(text AS BLOB)) % 5 + 1 AS BIGINT) AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,

    "q_media_frames" ->
      """SELECT doc_id, n_frames, unnest(range(n_frames)) AS frame_idx
        |FROM (SELECT doc_id,
        |    CAST(octet_length(CAST(text AS BLOB)) % 5 + 1 AS BIGINT) AS n_frames
        |  FROM documents)
        |ORDER BY doc_id, frame_idx""".stripMargin,

    // ── connector ──────────────────────────────────────────────────
    // The DSv2 source IS the table (no parquet twin), but the fixture
    // is a pure function of the row index
    // (DataTablesQueries.fixtureRecords), so DuckDB regenerates the
    // identical rows from range() and checks the connector end-to-end
    // — row count, paging, projection, and pushdown semantics all
    // hash-gated instead of rows-only.
    "q_datatables_scan" -> {
      val n = graft.sources.datatables.DataTablesQueries.fixtureCount
      s"""WITH t AS (
         |  SELECT printf('%06d', i) AS ID,
         |    'Co' || (i % 7) AS Company,
         |    '72' || (i % 5) AS HTSUSCode,
         |    CASE WHEN i % 3 = 0 THEN 'GRANTED' ELSE 'PENDING' END
         |      AS PublicStatus
         |  FROM range(1, ${n + 1}) r(i)),
         |f AS (SELECT HTSUSCode, count(*) AS cnt,
         |    min(ID) AS min_id, max(ID) AS max_id
         |  FROM t GROUP BY HTSUSCode),
         |p AS (SELECT HTSUSCode, count(*) AS pushed_cnt
         |  FROM t WHERE HTSUSCode = '722' GROUP BY HTSUSCode)
         |SELECT f.HTSUSCode, cnt, min_id, max_id, pushed_cnt
         |FROM f LEFT JOIN p USING (HTSUSCode)
         |ORDER BY f.HTSUSCode""".stripMargin
    },

    // ── graph ──────────────────────────────────────────────────────
    // Iterations unrolled from the SAME constants the Spark side uses
    // (GraphOps.prIters/prScale/prTeleportNano/prDampNum/prDampDen)
    // so the twin can never silently desynchronize. All rank math is
    // FIXED-POINT BIGINT (see GraphOps scaladoc): DuckDB `//` and
    // Spark `div` both truncate, identical on the all-positive ranks;
    // the only float op is the final nano→double rescale, a
    // BIGINT/10⁹ division both engines compute identically in IEEE.
    "q_pagerank" -> {
      import graft.operators.GraphOps.{prDampDen, prDampNum, prIters, prScale, prTeleportNano}
      val base =
        s"""WITH li AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
           |edges AS (SELECT DISTINCT src, dst FROM (
           |  SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM li
           |  UNION ALL
           |  SELECT 'p' || l_partkey AS src, 's' || l_suppkey AS dst FROM li)),
           |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |nn AS (SELECT count(*) AS n FROM deg),
           |r0 AS (SELECT src AS node, $prScale // n AS nr FROM deg, nn)""".stripMargin
      val iters = (1 to prIters).map { i =>
        s""",
           |c$i AS (SELECT e.dst, sum(r.nr // d.deg) AS sc
           |  FROM edges e
           |  JOIN r${i - 1} r ON e.src = r.node
           |  JOIN deg d ON e.src = d.src
           |  GROUP BY e.dst),
           |r$i AS (SELECT dst AS node,
           |    $prTeleportNano // n + ($prDampNum * sc) // $prDampDen AS nr
           |  FROM c$i, nn)""".stripMargin
      }.mkString
      base + iters +
        s"""
           |SELECT r.node, d.deg,
           |  CAST(r.nr AS DOUBLE) / CAST($prScale AS DOUBLE) AS pagerank
           |FROM r$prIters r JOIN deg d ON r.node = d.src
           |ORDER BY pagerank DESC, node
           |LIMIT 50""".stripMargin
    },

    // run-to-convergence PageRank (GraphOps.q_pagerank_conv): the
    // SAME fixed-point iteration unrolled to the cap, with the
    // converged depth SELECTED IN SQL — per-depth exact L1 deltas,
    // first depth under θ wins (coalesce to the cap when none does),
    // so the twin needs no fixture-measured depth constant and stays
    // correct at any SF where convergence happens within the cap
    // (the Spark side's loop enforces the identical rule). Every
    // multi-referenced CTE is AS MATERIALIZED: each r_i is consumed
    // by c_{i+1}, two deltas, and the rall union — inlined, the
    // expression tree is 4^depth and the statement never finishes.
    "q_pagerank_conv" -> {
      import graft.operators.GraphOps.{prConvMaxIters, prConvThetaDen,
        prDampDen, prDampNum, prScale, prTeleportNano}
      val k = prConvMaxIters
      val theta = prScale / prConvThetaDen
      val base =
        s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
           |edges AS MATERIALIZED (SELECT DISTINCT src, dst FROM (
           |  SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM li
           |  UNION ALL
           |  SELECT 'p' || l_partkey AS src, 's' || l_suppkey AS dst FROM li)),
           |deg AS MATERIALIZED (SELECT src, count(*) AS deg FROM edges GROUP BY src),
           |nn AS MATERIALIZED (SELECT count(*) AS n FROM deg),
           |r0 AS MATERIALIZED (SELECT src AS node, $prScale // n AS nr FROM deg, nn)""".stripMargin
      val iters = (1 to k).map { i =>
        s""",
           |c$i AS (SELECT e.dst, sum(r.nr // d.deg) AS sc
           |  FROM edges e
           |  JOIN r${i - 1} r ON e.src = r.node
           |  JOIN deg d ON e.src = d.src
           |  GROUP BY e.dst),
           |r$i AS MATERIALIZED (SELECT dst AS node,
           |    $prTeleportNano // n + ($prDampNum * sc) // $prDampDen AS nr
           |  FROM c$i, nn)""".stripMargin
      }.mkString
      val deltas = (1 to k).map { i =>
        s"SELECT $i AS i, (SELECT sum(abs(a.nr - b.nr)) " +
          s"FROM r$i a JOIN r${i - 1} b ON a.node = b.node) AS delta"
      }.mkString(",\ndeltas AS MATERIALIZED (", " UNION ALL ", ")")
      val conv =
        s""",
           |conv AS (SELECT coalesce(min(i), $k) AS ci FROM deltas
           |  WHERE delta < $theta)""".stripMargin
      val rall = (1 to k).map { i =>
        s"SELECT $i AS i, node, nr FROM r$i"
      }.mkString(",\nrall AS (", " UNION ALL ", ")")
      base + iters + deltas + conv + rall +
        s"""
           |SELECT r.node, d.deg,
           |  CAST(r.nr AS DOUBLE) / CAST($prScale AS DOUBLE) AS pagerank,
           |  CAST(c.ci AS BIGINT) AS n_iters
           |FROM rall r JOIN conv c ON r.i = c.ci JOIN deg d ON r.node = d.src
           |ORDER BY pagerank DESC, node
           |LIMIT 50""".stripMargin
    },

    // label propagation (GraphOps.q_label_prop): synchronous rounds,
    // majority label with (count DESC, label) deterministic tie-break
    "q_label_prop" -> {
      val iters = graft.operators.GraphOps.lpIters
      val base =
        s"""WITH li AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
           |edges AS (SELECT DISTINCT src, dst FROM (
           |  SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM li
           |  UNION ALL
           |  SELECT 'p' || l_partkey AS src, 's' || l_suppkey AS dst FROM li)),
           |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges)""".stripMargin
      val rounds = (1 to iters).map { i =>
        s""",
           |g$i AS (SELECT e.dst, l.lbl, count(*) AS c
           |  FROM edges e JOIN l${i - 1} l ON e.src = l.node
           |  GROUP BY 1, 2),
           |l$i AS (SELECT dst AS node, lbl FROM (
           |  SELECT dst, lbl, row_number() OVER (PARTITION BY dst
           |    ORDER BY c DESC, lbl) AS rn FROM g$i) WHERE rn = 1)""".stripMargin
      }.mkString
      base + rounds +
        s"""
           |SELECT lbl AS community, count(*) AS size
           |FROM l$iters GROUP BY 1
           |ORDER BY size DESC, community LIMIT 20""".stripMargin
    },

    // bounded-hop BFS (GraphOps.q_bfs): unrolled frontier expansion
    // over the same co-purchase edges as q_pagerank; min(dist)
    // absorbs re-reaching a node on a later hop
    "q_bfs" -> {
      import graft.operators.GraphOps.{bfsHops, bfsSeed}
      val base =
        s"""WITH li AS (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
           |edges AS (SELECT DISTINCT src, dst FROM (
           |  SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM li
           |  UNION ALL
           |  SELECT 'p' || l_partkey AS src, 's' || l_suppkey AS dst FROM li)),
           |d0 AS (SELECT '$bfsSeed' AS node, CAST(0 AS BIGINT) AS dist)""".stripMargin
      val iters = (1 to bfsHops).map { i =>
        s""",
           |d$i AS (SELECT node, min(dist) AS dist FROM (
           |  SELECT node, dist FROM d${i - 1}
           |  UNION ALL
           |  SELECT e.dst AS node, CAST($i AS BIGINT) AS dist
           |  FROM d${i - 1} r JOIN edges e ON r.node = e.src) GROUP BY node)""".stripMargin
      }.mkString
      base + iters +
        s"\nSELECT node, dist FROM d$bfsHops ORDER BY node"
    },

    // HITS (GraphOps.q_hits): unrolled mutual-reinforcement rounds on
    // the DIRECTED s→p half of the co-purchase graph; all scores
    // exact BIGINT (seeded 1, unnormalized), the rescale an exact
    // integer division on the micro grid (HUGEINT product, // , cast
    // back to BIGINT — the nbScale discipline; zero float surface).
    // CTEs MATERIALIZED: each h_i/a_i is referenced by the next round
    // AND the final top-k (the q_pagerank_conv inlining lesson).
    // Each round's sum is CAST back to BIGINT: DuckDB widens
    // sum(BIGINT) to HUGEINT, and an exposed HUGEINT column converts
    // to float64 on the pandas fetch path (4001210615380 →
    // "4.001211e+12") — the r9/r10 driver hash mismatch on `raw` while
    // rows/schema matched and the fetchall-based repo comparator
    // passed. Values are unchanged (3-round scores bound ≈8·10¹⁵ ≪
    // 2⁶³, see the q_hits scaladoc); only the declared result type
    // narrows to what the Spark dump already writes (int64).
    "q_hits" -> {
      import graft.operators.GraphOps.{hitsIters, hitsTopK, hitsScale}
      val base =
        s"""WITH li AS MATERIALIZED (SELECT DISTINCT l_suppkey, l_partkey FROM lineitem),
           |sedges AS MATERIALIZED (
           |  SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst FROM li),
           |a0 AS MATERIALIZED (
           |  SELECT DISTINCT dst AS node, CAST(1 AS BIGINT) AS a FROM sedges)""".stripMargin
      val rounds = (1 to hitsIters).map { i =>
        s""",
           |h$i AS MATERIALIZED (SELECT e.src AS node,
           |  CAST(sum(a.a) AS BIGINT) AS h
           |  FROM sedges e JOIN a${i - 1} a ON e.dst = a.node GROUP BY e.src),
           |a$i AS MATERIALIZED (SELECT e.dst AS node,
           |  CAST(sum(h.h) AS BIGINT) AS a
           |  FROM sedges e JOIN h$i h ON e.src = h.node GROUP BY e.dst)""".stripMargin
      }.mkString
      base + rounds +
        s""",
           |hm AS (SELECT max(h) AS m FROM h$hitsIters),
           |am AS (SELECT max(a) AS m FROM a$hitsIters),
           |hubs AS (SELECT 'hub' AS role, node, h AS raw,
           |    CAST(CAST(h AS HUGEINT) * $hitsScale // m AS BIGINT) AS score
           |  FROM h$hitsIters, hm ORDER BY raw DESC, node LIMIT $hitsTopK),
           |auths AS (SELECT 'auth' AS role, node, a AS raw,
           |    CAST(CAST(a AS HUGEINT) * $hitsScale // m AS BIGINT) AS score
           |  FROM a$hitsIters, am ORDER BY raw DESC, node LIMIT $hitsTopK)
           |SELECT * FROM (SELECT * FROM hubs UNION ALL SELECT * FROM auths)
           |ORDER BY role, raw DESC, node""".stripMargin
    },

    // bounded-hop weighted SSSP (GraphOps.q_sssp): Bellman-Ford
    // rounds unrolled over min-quantity edge weights; all distance
    // arithmetic BIGINT (quantities integral by construction — the
    // rounding CAST here and Spark's truncating cast agree exactly on
    // whole numbers). Each d_i is referenced twice (relaxation +
    // carry), hence MATERIALIZED.
    "q_sssp" -> {
      import graft.operators.GraphOps.{bfsSeed, ssspHops}
      val base =
        s"""WITH li AS MATERIALIZED (SELECT l_suppkey, l_partkey,
           |    CAST(min(l_quantity) AS BIGINT) AS w
           |  FROM lineitem GROUP BY 1, 2),
           |edges AS MATERIALIZED (
           |  SELECT 's' || l_suppkey AS src, 'p' || l_partkey AS dst, w FROM li
           |  UNION ALL
           |  SELECT 'p' || l_partkey AS src, 's' || l_suppkey AS dst, w FROM li),
           |d0 AS MATERIALIZED (SELECT '$bfsSeed' AS node, CAST(0 AS BIGINT) AS dist)""".stripMargin
      val rounds = (1 to ssspHops).map { i =>
        s""",
           |d$i AS MATERIALIZED (SELECT node, min(dist) AS dist FROM (
           |  SELECT node, dist FROM d${i - 1}
           |  UNION ALL
           |  SELECT e.dst AS node, r.dist + e.w AS dist
           |  FROM d${i - 1} r JOIN edges e ON r.node = e.src) GROUP BY node)""".stripMargin
      }.mkString
      base + rounds +
        s"\nSELECT node, dist FROM d$ssspHops ORDER BY node"
    },

    // Naive Bayes gate distillation (TextOps.q_nbayes): counts,
    // Laplace smoothing and the posterior argmax all on the shared
    // micro-unit integer grid (nbScale) — probabilities are integer
    // divisions, posteriors products of five ≤10⁶ factors computed in
    // HUGEINT (Spark: DECIMAL(38,0)); no float anywhere, so the
    // trainer itself is hash-gated
    "q_nbayes" -> {
      val k = graft.operators.TextOps.nbScale
      def cls(c: Int) = if (c == 1) "n1" else "(n - n1)"
      def post(c: Int) = {
        val pri = s"CAST((${cls(c)} + 1) * $k // (n + 2) AS HUGEINT)"
        val terms = (1 to 4).map { j =>
          s"(CASE WHEN f$j = 1 THEN (c$c$j + 1) * $k // (${cls(c)} + 2) " +
            s"ELSE (${cls(c)} - c$c$j + 1) * $k // (${cls(c)} + 2) END)"
        }
        (pri +: terms).mkString("\n        * ")
      }
      s"""WITH f AS (SELECT doc_id,
         |    CAST(len($tokL) AS BIGINT) AS n_tok,
         |    length(replace(text, ' ', '')) AS nospace
         |  FROM documents),
         |feats AS (SELECT doc_id,
         |    CASE WHEN n_tok >= 50 THEN 1 ELSE 0 END AS f1,
         |    CASE WHEN n_tok <= 1000 THEN 1 ELSE 0 END AS f2,
         |    CASE WHEN nospace >= n_tok * 3 THEN 1 ELSE 0 END AS f3,
         |    CASE WHEN nospace <= n_tok * 10 THEN 1 ELSE 0 END AS f4
         |  FROM f),
         |lab AS (SELECT doc_id, f1, f2, f3, f4,
         |    CASE WHEN f1 + f2 + f3 + f4 = 4 THEN 1 ELSE 0 END AS y
         |  FROM feats),
         |m AS (SELECT count(*) AS n, sum(y) AS n1,
         |    sum(f1 * y) AS c11, sum(f1 * (1 - y)) AS c01,
         |    sum(f2 * y) AS c12, sum(f2 * (1 - y)) AS c02,
         |    sum(f3 * y) AS c13, sum(f3 * (1 - y)) AS c03,
         |    sum(f4 * y) AS c14, sum(f4 * (1 - y)) AS c04
         |  FROM lab WHERE doc_id % 5 != 0),
         |scored AS (SELECT doc_id, y,
         |    CASE WHEN ${post(1)}
         |      >= ${post(0)}
         |    THEN 1 ELSE 0 END AS y_hat
         |  FROM lab, m WHERE doc_id % 5 = 0)
         |SELECT CAST(y AS BIGINT) AS y, CAST(y_hat AS BIGINT) AS y_hat,
         |  count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_sum
         |FROM scored GROUP BY 1, 2 ORDER BY y, y_hat""".stripMargin
    },

    // depth-2 CART twin (TextOps.q_dtree): the split search scans the
    // SAME fixed candidate grid, the weighted-Gini objective is the
    // SAME micro-unit integer division (2·p·q impurity mass, HUGEINT
    // cross-products), and leaves fall back to the nearest ancestor's
    // majority via the same coalesce chain — the whole FIT, tree
    // structure included, hash-gates (the q_nbayes no-float argument
    // extended to structure search)
    "q_dtree" -> {
      val k = graft.operators.TextOps.dtreeScale
      val cand = graft.operators.TextOps.dtreeThr
        .map { case (j, t) => s"($j, $t)" }.mkString(", ")
      def score(nl: String, pl: String, n: String, p: String) =
        s"2 * (CAST($pl AS HUGEINT) * (($nl) - ($pl)) * (($n) - ($nl))" +
          s" + CAST(($p) - ($pl) AS HUGEINT)" +
          s" * ((($n) - ($nl)) - (($p) - ($pl))) * ($nl))" +
          s" * $k // (CAST($nl AS HUGEINT) * (($n) - ($nl)))"
      def lab(p: String, n: String) =
        s"(CASE WHEN 2 * ($p) >= ($n) THEN 1 ELSE 0 END)"
      def pick(sd: Int) =
        s"""SELECT s.j, s.thr, s.nl, s.pl FROM s1 s JOIN tot1 t USING (sd)
           |  WHERE s.sd = $sd AND s.nl > 0 AND s.nl < t.n
           |    AND t.p > 0 AND t.p < t.n
           |  ORDER BY ${score("s.nl", "s.pl", "t.n", "t.p")}, s.j, s.thr
           |  LIMIT 1""".stripMargin
      def leafLab(ch: String, side: String, leftLeaf: Boolean) = {
        val gc =
          if (leftLeaf) lab(s"$ch.pl", s"$ch.nl")
          else lab(s"$side.p - $ch.pl", s"$side.n - $ch.nl")
        s"""coalesce(CASE WHEN $ch.j IS NOT NULL THEN $gc END,
           |    CASE WHEN $side.n IS NOT NULL
           |      THEN ${lab(s"$side.p", s"$side.n")} END,
           |    ${lab("tot.p", "tot.n")})""".stripMargin
      }
      s"""WITH raw AS (SELECT doc_id, CAST(len($tokL) AS BIGINT) AS n_tok,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS nospace
         |  FROM documents),
         |f AS MATERIALIZED (SELECT doc_id, n_tok AS x1,
         |    nospace * 8 // greatest(n_tok, 1) AS x2,
         |    CASE WHEN n_tok >= 50 AND n_tok <= 1000
         |      AND nospace >= n_tok * 3 AND nospace <= n_tok * 10
         |    THEN 1 ELSE 0 END AS y
         |  FROM raw),
         |tr AS MATERIALIZED (SELECT * FROM f WHERE doc_id % 5 != 0),
         |cand(j, thr) AS (VALUES $cand),
         |tot AS MATERIALIZED (SELECT count(*) AS n, sum(y) AS p FROM tr),
         |s0 AS (SELECT c.j, c.thr,
         |    sum(CASE WHEN (CASE WHEN c.j = 1 THEN x1 ELSE x2 END) < c.thr
         |      THEN 1 ELSE 0 END) AS nl,
         |    sum(CASE WHEN (CASE WHEN c.j = 1 THEN x1 ELSE x2 END) < c.thr
         |      THEN y ELSE 0 END) AS pl
         |  FROM tr CROSS JOIN cand c GROUP BY c.j, c.thr),
         |rootc AS (SELECT s.j, s.thr FROM s0 s, tot
         |  WHERE s.nl > 0 AND s.nl < tot.n AND tot.p > 0 AND tot.p < tot.n
         |  ORDER BY ${score("s.nl", "s.pl", "tot.n", "tot.p")}, s.j, s.thr
         |  LIMIT 1),
         |root AS MATERIALIZED (SELECT coalesce(r.j, 0) AS j,
         |    coalesce(r.thr, CAST(-1 AS BIGINT)) AS thr
         |  FROM (SELECT 1) one LEFT JOIN rootc r ON true),
         |sided AS MATERIALIZED (SELECT t.*,
         |    CASE WHEN r.j > 0 AND
         |      (CASE WHEN r.j = 1 THEN t.x1 ELSE t.x2 END) < r.thr
         |    THEN 0 ELSE 1 END AS sd
         |  FROM tr t, root r),
         |tot1 AS MATERIALIZED (
         |  SELECT sd, count(*) AS n, sum(y) AS p FROM sided GROUP BY sd),
         |s1 AS (SELECT sd, c.j, c.thr,
         |    sum(CASE WHEN (CASE WHEN c.j = 1 THEN x1 ELSE x2 END) < c.thr
         |      THEN 1 ELSE 0 END) AS nl,
         |    sum(CASE WHEN (CASE WHEN c.j = 1 THEN x1 ELSE x2 END) < c.thr
         |      THEN y ELSE 0 END) AS pl
         |  FROM sided CROSS JOIN cand c GROUP BY sd, c.j, c.thr),
         |lc AS (${pick(0)}),
         |rc AS (${pick(1)}),
         |tl AS (SELECT * FROM tot1 WHERE sd = 0),
         |trr AS (SELECT * FROM tot1 WHERE sd = 1),
         |descr AS MATERIALIZED (SELECT
         |    root.j AS root_feat, root.thr AS root_thr,
         |    coalesce(lc.j, 0) AS left_feat,
         |    coalesce(lc.thr, CAST(-1 AS BIGINT)) AS left_thr,
         |    coalesce(rc.j, 0) AS right_feat,
         |    coalesce(rc.thr, CAST(-1 AS BIGINT)) AS right_thr,
         |    ${leafLab("lc", "tl", leftLeaf = true)} AS lab_ll,
         |    ${leafLab("lc", "tl", leftLeaf = false)} AS lab_lr,
         |    ${leafLab("rc", "trr", leftLeaf = true)} AS lab_rl,
         |    ${leafLab("rc", "trr", leftLeaf = false)} AS lab_rr
         |  FROM (SELECT 1) one CROSS JOIN root CROSS JOIN tot
         |    LEFT JOIN lc ON true LEFT JOIN rc ON true
         |    LEFT JOIN tl ON true LEFT JOIN trr ON true),
         |scored AS (SELECT f.doc_id, f.y,
         |    CASE WHEN d.root_feat > 0 AND
         |        (CASE WHEN d.root_feat = 1 THEN f.x1 ELSE f.x2 END)
         |          < d.root_thr
         |      THEN CASE WHEN d.left_feat > 0 AND
         |          (CASE WHEN d.left_feat = 1 THEN f.x1 ELSE f.x2 END)
         |            < d.left_thr
         |        THEN d.lab_ll ELSE d.lab_lr END
         |      ELSE CASE WHEN d.right_feat > 0 AND
         |          (CASE WHEN d.right_feat = 1 THEN f.x1 ELSE f.x2 END)
         |            < d.right_thr
         |        THEN d.lab_rl ELSE d.lab_rr END
         |    END AS y_hat
         |  FROM f, descr d WHERE f.doc_id % 5 = 0)
         |SELECT CAST(s.y AS BIGINT) AS y, CAST(s.y_hat AS BIGINT) AS y_hat,
         |  count(*) AS n_docs, CAST(sum(s.doc_id) AS BIGINT) AS id_sum,
         |  CAST(d.root_feat AS BIGINT) AS root_feat,
         |  CAST(d.root_thr AS BIGINT) AS root_thr,
         |  CAST(d.left_feat AS BIGINT) AS left_feat,
         |  CAST(d.left_thr AS BIGINT) AS left_thr,
         |  CAST(d.right_feat AS BIGINT) AS right_feat,
         |  CAST(d.right_thr AS BIGINT) AS right_thr,
         |  CAST(d.lab_ll AS BIGINT) AS lab_ll,
         |  CAST(d.lab_lr AS BIGINT) AS lab_lr,
         |  CAST(d.lab_rl AS BIGINT) AS lab_rl,
         |  CAST(d.lab_rr AS BIGINT) AS lab_rr
         |FROM scored s, descr d
         |GROUP BY ALL ORDER BY y, y_hat""".stripMargin
    },

    // exact integer Lloyd twin (TextOps.q_kmeans): the assignment
    // argmin is the SAME single-integer key min(dist²·4 + c), centroid
    // updates the SAME floor divisions, so every iteration — and the
    // final geometry — is bit-identical in both engines
    "q_kmeans" -> {
      val iters = graft.operators.TextOps.kmIters
      val initVals = graft.operators.TextOps.kmInit
        .map { case (c, u, v) => s"($c, $u, $v)" }.mkString(", ")
      def distKey(cent: String) =
        s"((f.x1 - $cent.cu) * (f.x1 - $cent.cu)" +
          s" + (f.x2 - $cent.cv) * (f.x2 - $cent.cv)) * 4 + $cent.c"
      val steps = (0 until iters).map { i =>
        s"""a$i AS (SELECT f.doc_id, f.x1, f.x2,
           |    min(${distKey(s"c$i")}) AS m
           |  FROM f CROSS JOIN cent$i c$i GROUP BY f.doc_id, f.x1, f.x2),
           |u$i AS (SELECT m % 4 AS c, sum(x1) // count(*) AS cu,
           |    sum(x2) // count(*) AS cv FROM a$i GROUP BY m % 4),
           |cent${i + 1} AS MATERIALIZED (SELECT p.c,
           |    CAST(coalesce(u.cu, p.cu) AS BIGINT) AS cu,
           |    CAST(coalesce(u.cv, p.cv) AS BIGINT) AS cv
           |  FROM cent$i p LEFT JOIN u$i u USING (c))""".stripMargin
      }.mkString(",\n")
      s"""WITH raw AS (SELECT doc_id, CAST(len($tokL) AS BIGINT) AS n_tok,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS nospace
         |  FROM documents),
         |f AS MATERIALIZED (SELECT doc_id, n_tok AS x1,
         |    nospace * 8 // greatest(n_tok, 1) AS x2 FROM raw),
         |cent0(c, cu, cv) AS (VALUES $initVals),
         |$steps,
         |af AS (SELECT f.doc_id, min(${distKey("cf")}) AS m
         |  FROM f CROSS JOIN cent$iters cf GROUP BY f.doc_id),
         |stats AS (SELECT m % 4 AS c, count(*) AS n_points,
         |    sum(doc_id) AS id_sum, sum(m // 4) AS inertia
         |  FROM af GROUP BY m % 4)
         |SELECT CAST(cf.c AS BIGINT) AS cluster, CAST(cf.cu AS BIGINT) AS cu,
         |  CAST(cf.cv AS BIGINT) AS cv,
         |  CAST(coalesce(s.n_points, 0) AS BIGINT) AS n_points,
         |  CAST(coalesce(s.id_sum, 0) AS BIGINT) AS id_sum,
         |  CAST(coalesce(s.inertia, 0) AS BIGINT) AS inertia
         |FROM cent$iters cf LEFT JOIN stats s ON s.c = cf.c
         |ORDER BY cluster""".stripMargin
    },

    // exact midrank-U AUC twin (TextOps.q_auc): the per-value
    // histogram, strict-prefix window and doubled-midrank fold are
    // the same BIGINT arithmetic; the only float op is the final
    // rounded IEEE division of exact integers
    "q_auc" ->
      s"""WITH raw AS (SELECT doc_id, CAST(len($tokL) AS BIGINT) AS n_tok,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS nospace
         |  FROM documents),
         |f AS MATERIALIZED (SELECT doc_id, n_tok AS x1,
         |    nospace * 8 // greatest(n_tok, 1) AS x2,
         |    CASE WHEN n_tok >= 50 AND n_tok <= 1000
         |      AND nospace >= n_tok * 3 AND nospace <= n_tok * 10
         |    THEN 1 ELSE 0 END AS y
         |  FROM raw),
         |vals AS (SELECT 1 AS feat, x1 AS v, y FROM f
         |  UNION ALL SELECT 2, x2, y FROM f),
         |hist AS (SELECT feat, v, count(*) AS c, sum(y) AS pos
         |  FROM vals GROUP BY feat, v),
         |ranked AS (SELECT feat, v, c, pos,
         |    sum(c) OVER (PARTITION BY feat ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c
         |      AS below
         |  FROM hist),
         |u AS (SELECT feat, sum(pos) AS n_pos,
         |    sum(c) - sum(pos) AS n_neg,
         |    sum(pos * (below * 2 + c + 1)) AS u_raw
         |  FROM ranked GROUP BY feat)
         |SELECT CAST(feat AS BIGINT) AS feat, CAST(n_pos AS BIGINT) AS n_pos,
         |  CAST(n_neg AS BIGINT) AS n_neg,
         |  CAST(u_raw - n_pos * (n_pos + 1) AS BIGINT) AS u2,
         |  round(CAST(u_raw - n_pos * (n_pos + 1) AS DOUBLE)
         |    / CAST(n_pos * n_neg * 2 AS DOUBLE), 6) AS auc
         |FROM u ORDER BY feat""".stripMargin,

    // hashing-trick collision-audit twin (TextOps.q_feat_hash): same
    // distinct-(doc,tok) df frame, the q_bootstrap nibble-sum u32
    // parse mod k for the bucket, dominant term by the (df desc, tok
    // asc) row_number — exact integers + ppm floor divisions
    "q_feat_hash" -> {
      val k = graft.operators.TextOps.fhBuckets
      def hd(i: Int) =
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1)"
      val u = (1 to 8).map(i => s"${hd(i)}*${1L << (4 * (8 - i))}")
        .mkString("(", " + ", ")")
      s"""WITH toks AS (SELECT DISTINCT doc_id, unnest($tokL) AS tok
         |  FROM documents),
         |df AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
         |vb AS (SELECT tok, df,
         |    CAST($u AS BIGINT) % $k AS bucket
         |  FROM (SELECT tok, df, md5('fh:' || tok) AS h FROM df)),
         |top AS (SELECT bucket, tok AS top_term, df AS top_df
         |  FROM (SELECT bucket, tok, df, row_number() OVER (
         |      PARTITION BY bucket ORDER BY df DESC, tok) AS rn
         |    FROM vb) WHERE rn = 1),
         |agg AS (SELECT bucket, count(*) AS n_terms, sum(df) AS df_sum
         |  FROM vb GROUP BY bucket)
         |SELECT CAST(a.bucket AS BIGINT) AS bucket,
         |  CAST(a.n_terms AS BIGINT) AS n_terms,
         |  CAST(a.df_sum AS BIGINT) AS df_sum,
         |  t.top_term, CAST(t.top_df AS BIGINT) AS top_df,
         |  CAST((a.df_sum - t.top_df) * 1000000 // a.df_sum AS BIGINT)
         |    AS conflated_ppm
         |FROM agg a JOIN top t ON t.bucket = a.bucket
         |ORDER BY bucket""".stripMargin
    },

    // learning-curve twin (TextOps.q_learning_curve): per-nibble
    // bucket cells prefix-summed per fraction, the q_dtree objective
    // / tie-break per fraction via ROW_NUMBER, every fit scored on
    // the same held-out split — curve, descriptors and checksums all
    // hash-gate
    "q_learning_curve" -> {
      val k = graft.operators.TextOps.dtreeScale
      val cand = graft.operators.TextOps.dtreeThr
        .map { case (j, t) => s"($j, $t)" }.mkString(", ")
      val fracs = graft.operators.TextOps.lcFracs
        .map(f => s"($f)").mkString(", ")
      def score(nl: String, pl: String, n: String, p: String) =
        s"2 * (CAST($pl AS HUGEINT) * (($nl) - ($pl)) * (($n) - ($nl))" +
          s" + CAST(($p) - ($pl) AS HUGEINT)" +
          s" * ((($n) - ($nl)) - (($p) - ($pl))) * ($nl))" +
          s" * $k // (CAST($nl AS HUGEINT) * (($n) - ($nl)))"
      s"""WITH raw AS (SELECT doc_id, CAST(len($tokL) AS BIGINT) AS n_tok,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS nospace
         |  FROM documents),
         |f AS MATERIALIZED (SELECT doc_id, n_tok AS x1,
         |    nospace * 8 // greatest(n_tok, 1) AS x2,
         |    CASE WHEN n_tok >= 50 AND n_tok <= 1000
         |      AND nospace >= n_tok * 3 AND nospace <= n_tok * 10
         |    THEN 1 ELSE 0 END AS y
         |  FROM raw),
         |tr AS MATERIALIZED (SELECT f.*,
         |    CAST(strpos('0123456789abcdef',
         |      substr(md5('lc:' || CAST(doc_id AS VARCHAR)), 1, 1)) - 1
         |      AS BIGINT) AS bkt
         |  FROM f WHERE doc_id % 5 != 0),
         |cand(j, thr) AS (VALUES $cand),
         |frac(fx) AS (VALUES $fracs),
         |bt AS MATERIALIZED (
         |  SELECT bkt, count(*) AS n, sum(y) AS p FROM tr GROUP BY bkt),
         |bc AS MATERIALIZED (SELECT bkt, c.j, c.thr,
         |    sum(CASE WHEN (CASE WHEN c.j = 1 THEN x1 ELSE x2 END) < c.thr
         |      THEN 1 ELSE 0 END) AS nl,
         |    sum(CASE WHEN (CASE WHEN c.j = 1 THEN x1 ELSE x2 END) < c.thr
         |      THEN y ELSE 0 END) AS pl
         |  FROM tr CROSS JOIN cand c GROUP BY bkt, c.j, c.thr),
         |ftot AS MATERIALIZED (SELECT fr.fx, sum(t.n) AS n, sum(t.p) AS p
         |  FROM frac fr JOIN bt t ON t.bkt < fr.fx GROUP BY fr.fx),
         |fcells AS (SELECT fr.fx, b.j, b.thr,
         |    sum(b.nl) AS nl, sum(b.pl) AS pl
         |  FROM frac fr JOIN bc b ON b.bkt < fr.fx GROUP BY fr.fx, b.j, b.thr),
         |pick AS (SELECT s.fx, s.j, s.thr,
         |    CASE WHEN 2 * s.pl >= s.nl THEN 1 ELSE 0 END AS lab_l,
         |    CASE WHEN 2 * (t.p - s.pl) >= (t.n - s.nl) THEN 1 ELSE 0 END
         |      AS lab_r,
         |    row_number() OVER (PARTITION BY s.fx
         |      ORDER BY ${score("s.nl", "s.pl", "t.n", "t.p")}, s.j, s.thr)
         |      AS rn
         |  FROM fcells s JOIN ftot t ON t.fx = s.fx
         |  WHERE s.nl > 0 AND s.nl < t.n AND t.p > 0 AND t.p < t.n),
         |descr AS MATERIALIZED (SELECT t.fx, t.n AS n_train,
         |    coalesce(pk.j, 0) AS feat,
         |    coalesce(pk.thr, CAST(-1 AS BIGINT)) AS thr,
         |    coalesce(pk.lab_l, CASE WHEN 2 * t.p >= t.n THEN 1 ELSE 0 END)
         |      AS lab_l,
         |    coalesce(pk.lab_r, CASE WHEN 2 * t.p >= t.n THEN 1 ELSE 0 END)
         |      AS lab_r
         |  FROM ftot t
         |    LEFT JOIN (SELECT * FROM pick WHERE rn = 1) pk
         |      ON pk.fx = t.fx),
         |scored AS (SELECT d.fx, e.doc_id, e.y,
         |    CASE WHEN d.feat > 0 AND
         |        (CASE WHEN d.feat = 1 THEN e.x1 ELSE e.x2 END) < d.thr
         |      THEN d.lab_l ELSE d.lab_r END AS y_hat
         |  FROM f e CROSS JOIN descr d WHERE e.doc_id % 5 = 0),
         |pf AS (SELECT fx, count(*) AS n_test,
         |    sum(CASE WHEN y = y_hat THEN 1 ELSE 0 END) AS n_correct,
         |    coalesce(sum(CASE WHEN y_hat = 1 THEN doc_id END), 0)
         |      AS pos_id_sum
         |  FROM scored GROUP BY fx)
         |SELECT CAST(pf.fx AS BIGINT) AS frac_x16,
         |  CAST(d.n_train AS BIGINT) AS n_train,
         |  CAST(d.feat AS BIGINT) AS feat, CAST(d.thr AS BIGINT) AS thr,
         |  CAST(d.lab_l AS BIGINT) AS lab_l,
         |  CAST(d.lab_r AS BIGINT) AS lab_r,
         |  CAST(pf.n_test AS BIGINT) AS n_test,
         |  CAST(pf.n_correct AS BIGINT) AS n_correct,
         |  CAST(pf.pos_id_sum AS BIGINT) AS pos_id_sum,
         |  CAST(pf.n_correct * 1000000 // pf.n_test AS BIGINT) AS acc_ppm
         |FROM pf JOIN descr d ON d.fx = pf.fx
         |ORDER BY frac_x16""".stripMargin
    },

    // chi-squared feature-screen twin (TextOps.q_chi2): the same
    // 2×2 contingency cells from the fold-free cell frame, φ²·10⁶ as
    // one exact HUGEINT floor division, ranked with the (φ² desc,
    // j, thr) tie-break — degenerate margins pinned to the φ²=0
    // sentinel in both engines
    "q_chi2" -> {
      val k = graft.operators.TextOps.chi2Scale
      val cand = graft.operators.TextOps.dtreeThr
        .map { case (j, t) => s"($j, $t)" }.mkString(", ")
      s"""WITH raw AS (SELECT doc_id, CAST(len($tokL) AS BIGINT) AS n_tok,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS nospace
         |  FROM documents),
         |f AS MATERIALIZED (SELECT doc_id, n_tok AS x1,
         |    nospace * 8 // greatest(n_tok, 1) AS x2,
         |    CASE WHEN n_tok >= 50 AND n_tok <= 1000
         |      AND nospace >= n_tok * 3 AND nospace <= n_tok * 10
         |    THEN 1 ELSE 0 END AS y
         |  FROM raw),
         |cand(j, thr) AS (VALUES $cand),
         |tot AS (SELECT count(*) AS n, sum(y) AS p FROM f),
         |cells AS (SELECT c.j, c.thr,
         |    sum(CASE WHEN (CASE WHEN c.j = 1 THEN x1 ELSE x2 END) < c.thr
         |      THEN 1 ELSE 0 END) AS nl,
         |    sum(CASE WHEN (CASE WHEN c.j = 1 THEN x1 ELSE x2 END) < c.thr
         |      THEN y ELSE 0 END) AS a
         |  FROM f CROSS JOIN cand c GROUP BY c.j, c.thr),
         |sc AS (SELECT s.j, s.thr, s.a, s.nl - s.a AS b,
         |    t.p - s.a AS c, (t.n - s.nl) - (t.p - s.a) AS d,
         |    CASE WHEN s.nl = 0 OR s.nl = t.n OR t.p = 0 OR t.p = t.n
         |      THEN CAST(0 AS HUGEINT)
         |      ELSE (CAST(s.a AS HUGEINT) * ((t.n - s.nl) - (t.p - s.a))
         |          - CAST(s.nl - s.a AS HUGEINT) * (t.p - s.a))
         |        * (CAST(s.a AS HUGEINT) * ((t.n - s.nl) - (t.p - s.a))
         |          - CAST(s.nl - s.a AS HUGEINT) * (t.p - s.a))
         |        * $k // (CAST(s.nl AS HUGEINT) * (t.n - s.nl)
         |          * t.p * (t.n - t.p))
         |    END AS phi2
         |  FROM cells s CROSS JOIN tot t)
         |SELECT CAST(row_number() OVER (ORDER BY phi2 DESC, j, thr)
         |    AS BIGINT) AS rank,
         |  CAST(j AS BIGINT) AS feat, CAST(thr AS BIGINT) AS thr,
         |  CAST(a AS BIGINT) AS n_lt_pos, CAST(b AS BIGINT) AS n_lt_neg,
         |  CAST(c AS BIGINT) AS n_ge_pos, CAST(d AS BIGINT) AS n_ge_neg,
         |  CAST(phi2 AS BIGINT) AS phi2_ppm
         |FROM sc ORDER BY rank""".stripMargin
    },

    // 5-fold cross-validated stump twin (TextOps.q_crossval): the
    // fold-grouped cell frame, subtraction-derived train cells
    // (train_k = global − fold_k), the q_dtree Gini objective /
    // (score, j, thr) tie-break verbatim per fold via ROW_NUMBER,
    // and the same ppm integer divisions — the whole selection
    // report hash-gates
    "q_crossval" -> {
      val k = graft.operators.TextOps.dtreeScale
      val nf = graft.operators.TextOps.cvFolds
      val cand = graft.operators.TextOps.dtreeThr
        .map { case (j, t) => s"($j, $t)" }.mkString(", ")
      def score(nl: String, pl: String, n: String, p: String) =
        s"2 * (CAST($pl AS HUGEINT) * (($nl) - ($pl)) * (($n) - ($nl))" +
          s" + CAST(($p) - ($pl) AS HUGEINT)" +
          s" * ((($n) - ($nl)) - (($p) - ($pl))) * ($nl))" +
          s" * $k // (CAST($nl AS HUGEINT) * (($n) - ($nl)))"
      s"""WITH raw AS (SELECT doc_id, CAST(len($tokL) AS BIGINT) AS n_tok,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS nospace
         |  FROM documents),
         |f AS MATERIALIZED (SELECT doc_id, doc_id % $nf AS fold,
         |    n_tok AS x1, nospace * 8 // greatest(n_tok, 1) AS x2,
         |    CASE WHEN n_tok >= 50 AND n_tok <= 1000
         |      AND nospace >= n_tok * 3 AND nospace <= n_tok * 10
         |    THEN 1 ELSE 0 END AS y
         |  FROM raw),
         |cand(j, thr) AS (VALUES $cand),
         |ft AS MATERIALIZED (
         |  SELECT fold, count(*) AS n, sum(y) AS p FROM f GROUP BY fold),
         |fc AS MATERIALIZED (SELECT fold, c.j, c.thr,
         |    sum(CASE WHEN (CASE WHEN c.j = 1 THEN x1 ELSE x2 END) < c.thr
         |      THEN 1 ELSE 0 END) AS nl,
         |    sum(CASE WHEN (CASE WHEN c.j = 1 THEN x1 ELSE x2 END) < c.thr
         |      THEN y ELSE 0 END) AS pl
         |  FROM f CROSS JOIN cand c GROUP BY fold, c.j, c.thr),
         |gt AS (SELECT sum(n) AS n, sum(p) AS p FROM ft),
         |gc AS (SELECT j, thr, sum(nl) AS nl, sum(pl) AS pl
         |  FROM fc GROUP BY j, thr),
         |tc AS (SELECT ft.fold, g.j, g.thr,
         |    g.nl - c.nl AS nl, g.pl - c.pl AS pl,
         |    gt.n - ft.n AS n, gt.p - ft.p AS p
         |  FROM ft CROSS JOIN gt
         |    JOIN fc c ON c.fold = ft.fold
         |    JOIN gc g ON g.j = c.j AND g.thr = c.thr),
         |pick AS (SELECT fold, j, thr,
         |    CASE WHEN 2 * pl >= nl THEN 1 ELSE 0 END AS lab_l,
         |    CASE WHEN 2 * (p - pl) >= (n - nl) THEN 1 ELSE 0 END AS lab_r,
         |    row_number() OVER (PARTITION BY fold
         |      ORDER BY ${score("nl", "pl", "n", "p")}, j, thr) AS rn
         |  FROM tc WHERE nl > 0 AND nl < n AND p > 0 AND p < n),
         |descr AS MATERIALIZED (SELECT ft.fold,
         |    coalesce(pk.j, 0) AS feat,
         |    coalesce(pk.thr, CAST(-1 AS BIGINT)) AS thr,
         |    coalesce(pk.lab_l, CASE WHEN 2 * (gt.p - ft.p) >= gt.n - ft.n
         |      THEN 1 ELSE 0 END) AS lab_l,
         |    coalesce(pk.lab_r, CASE WHEN 2 * (gt.p - ft.p) >= gt.n - ft.n
         |      THEN 1 ELSE 0 END) AS lab_r
         |  FROM ft CROSS JOIN gt
         |    LEFT JOIN (SELECT * FROM pick WHERE rn = 1) pk
         |      ON pk.fold = ft.fold),
         |scored AS (SELECT f.fold, f.doc_id, f.y,
         |    CASE WHEN d.feat > 0 AND
         |        (CASE WHEN d.feat = 1 THEN f.x1 ELSE f.x2 END) < d.thr
         |      THEN d.lab_l ELSE d.lab_r END AS y_hat
         |  FROM f JOIN descr d ON d.fold = f.fold),
         |pf AS (SELECT fold, count(*) AS n_test,
         |    sum(CASE WHEN y = y_hat THEN 1 ELSE 0 END) AS n_correct,
         |    sum(doc_id) AS id_sum
         |  FROM scored GROUP BY fold)
         |SELECT CAST(pf.fold AS BIGINT) AS fold,
         |  CAST(d.feat AS BIGINT) AS feat, CAST(d.thr AS BIGINT) AS thr,
         |  CAST(d.lab_l AS BIGINT) AS lab_l,
         |  CAST(d.lab_r AS BIGINT) AS lab_r,
         |  CAST(pf.n_test AS BIGINT) AS n_test,
         |  CAST(pf.n_correct AS BIGINT) AS n_correct,
         |  CAST(pf.id_sum AS BIGINT) AS id_sum,
         |  CAST(pf.n_correct * 1000000 // pf.n_test AS BIGINT) AS acc_ppm,
         |  CAST(sum(pf.n_correct * 1000000 // pf.n_test) OVER () // $nf
         |    AS BIGINT) AS mean_acc_ppm
         |FROM pf JOIN descr d ON d.fold = pf.fold
         |ORDER BY fold""".stripMargin
    },

    // gradient-boosted depth-2 trees twin (TextOps.q_gbt): squared
    // loss keeps every quantity on the milli grid — residual sums are
    // exact integers, the split score an SSE-reduction integer
    // compared with the (j, thr) tie-break, leaf means and the nu=1/2
    // shrinkage shifted floor divisions (all operands >= 0, where
    // Spark div and DuckDB // agree) — so structure, leaf values,
    // per-round SSE and the held-out confusion all hash-gate
    "q_gbt" -> {
      import graft.operators.TextOps.{gbtRounds, gbtScale, gbtShift}
      val cand = graft.operators.TextOps.dtreeThr
        .map { case (j, t) => s"($j, $t)" }.mkString(", ")
      // SSE-reduction score over candidate (nl, sl) within node
      // (n, sr) — maximized, HUGEINT-exact
      def score(nl: String, sl: String, n: String, sr: String) =
        s"(CAST($sl AS HUGEINT) * CAST($sl AS HUGEINT)" +
          s" * (($n) - ($nl))" +
          s" + CAST(($sr) - ($sl) AS HUGEINT)" +
          s" * CAST(($sr) - ($sl) AS HUGEINT) * ($nl))" +
          s" * $gbtScale // (CAST($nl AS HUGEINT) * (($n) - ($nl)))"
      // contrib = ((s + n*shift) // n) // 2 - shift/2, operands >= 0
      def contrib(sv: String, n: String) =
        s"(((CAST($sv AS HUGEINT) + CAST($n AS HUGEINT) * $gbtShift)" +
          s" // ($n)) // 2 - ${gbtShift / 2})"
      def xsel(j: String, a: String) =
        s"(CASE WHEN $j = 1 THEN $a.x1 ELSE $a.x2 END)"
      // per-tree contribution of descriptor d to row a
      def treeContrib(d: String, a: String) =
        s"""CASE WHEN $d.root_feat > 0 AND
           |    ${xsel(s"$d.root_feat", a)} < $d.root_thr
           |  THEN CASE WHEN $d.left_feat > 0 AND
           |      ${xsel(s"$d.left_feat", a)} < $d.left_thr
           |    THEN $d.c_ll ELSE $d.c_lr END
           |  ELSE CASE WHEN $d.right_feat > 0 AND
           |      ${xsel(s"$d.right_feat", a)} < $d.right_thr
           |    THEN $d.c_rl ELSE $d.c_rr END END""".stripMargin
      def contribChain(ch: String, side: String, tot: String,
        leftLeaf: Boolean) = {
        val gc =
          if (leftLeaf) contrib(s"$ch.sl", s"$ch.nl")
          else contrib(s"$side.sr - $ch.sl", s"$side.n - $ch.nl")
        s"""coalesce(CASE WHEN $ch.j IS NOT NULL THEN $gc END,
           |    CASE WHEN $side.n IS NOT NULL
           |      THEN ${contrib(s"$side.sr", s"$side.n")} END,
           |    ${contrib(s"$tot.sr", s"$tot.n")})""".stripMargin
      }
      val base =
        s"""WITH raw AS (SELECT doc_id, CAST(len($tokL) AS BIGINT) AS n_tok,
           |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS nospace
           |  FROM documents),
           |f AS MATERIALIZED (SELECT doc_id, n_tok AS x1,
           |    nospace * 8 // greatest(n_tok, 1) AS x2,
           |    CASE WHEN n_tok >= 50 AND n_tok <= 1000
           |      AND nospace >= n_tok * 3 AND nospace <= n_tok * 10
           |    THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS y
           |  FROM raw),
           |g0 AS (SELECT count(*) AS n, sum(y) AS p
           |  FROM f WHERE doc_id % 5 != 0),
           |f0v AS MATERIALIZED (
           |  SELECT CAST(p * $gbtScale // n AS BIGINT) AS f0 FROM g0),
           |cand(j, thr) AS (VALUES $cand),
           |f0t AS MATERIALIZED (SELECT f.doc_id, f.x1, f.x2, f.y,
           |    CAST(v.f0 AS HUGEINT) AS fv
           |  FROM f, f0v v WHERE f.doc_id % 5 != 0)""".stripMargin
      val rounds = (1 to gbtRounds).map { m =>
        val fp = if (m == 1) "f0t" else s"f${m - 1}"
        s""",
           |t$m AS MATERIALIZED (SELECT count(*) AS n,
           |    sum(y * $gbtScale - fv) AS sr FROM $fp),
           |s${m}0 AS (SELECT c.j, c.thr,
           |    sum(CASE WHEN ${xsel("c.j", fp)} < c.thr
           |      THEN 1 ELSE 0 END) AS nl,
           |    sum(CASE WHEN ${xsel("c.j", fp)} < c.thr
           |      THEN y * $gbtScale - fv ELSE 0 END) AS sl
           |  FROM $fp CROSS JOIN cand c GROUP BY c.j, c.thr),
           |rootc$m AS (SELECT s.j, s.thr FROM s${m}0 s, t$m t
           |  WHERE s.nl > 0 AND s.nl < t.n
           |  ORDER BY ${score("s.nl", "s.sl", "t.n", "t.sr")} DESC,
           |    s.j, s.thr LIMIT 1),
           |root$m AS MATERIALIZED (SELECT coalesce(r.j, 0) AS j,
           |    coalesce(r.thr, CAST(-1 AS BIGINT)) AS thr
           |  FROM (SELECT 1) one LEFT JOIN rootc$m r ON true),
           |sided$m AS MATERIALIZED (SELECT t.*,
           |    CASE WHEN r.j > 0 AND ${xsel("r.j", "t")} < r.thr
           |    THEN 0 ELSE 1 END AS sd
           |  FROM $fp t, root$m r),
           |tot${m}1 AS MATERIALIZED (SELECT sd, count(*) AS n,
           |    sum(y * $gbtScale - fv) AS sr FROM sided$m GROUP BY sd),
           |s${m}1 AS (SELECT sd, c.j, c.thr,
           |    sum(CASE WHEN ${xsel("c.j", s"sided$m")} < c.thr
           |      THEN 1 ELSE 0 END) AS nl,
           |    sum(CASE WHEN ${xsel("c.j", s"sided$m")} < c.thr
           |      THEN y * $gbtScale - fv ELSE 0 END) AS sl
           |  FROM sided$m CROSS JOIN cand c GROUP BY sd, c.j, c.thr),
           |lc$m AS (SELECT s.j, s.thr, s.nl, s.sl
           |  FROM s${m}1 s JOIN tot${m}1 t USING (sd)
           |  WHERE s.sd = 0 AND s.nl > 0 AND s.nl < t.n
           |  ORDER BY ${score("s.nl", "s.sl", "t.n", "t.sr")} DESC,
           |    s.j, s.thr LIMIT 1),
           |rc$m AS (SELECT s.j, s.thr, s.nl, s.sl
           |  FROM s${m}1 s JOIN tot${m}1 t USING (sd)
           |  WHERE s.sd = 1 AND s.nl > 0 AND s.nl < t.n
           |  ORDER BY ${score("s.nl", "s.sl", "t.n", "t.sr")} DESC,
           |    s.j, s.thr LIMIT 1),
           |tl$m AS (SELECT * FROM tot${m}1 WHERE sd = 0),
           |tr$m AS (SELECT * FROM tot${m}1 WHERE sd = 1),
           |d$m AS MATERIALIZED (SELECT
           |    r.j AS root_feat, r.thr AS root_thr,
           |    coalesce(lc$m.j, 0) AS left_feat,
           |    coalesce(lc$m.thr, CAST(-1 AS BIGINT)) AS left_thr,
           |    coalesce(rc$m.j, 0) AS right_feat,
           |    coalesce(rc$m.thr, CAST(-1 AS BIGINT)) AS right_thr,
           |    CAST(${contribChain(s"lc$m", s"tl$m", s"t$m", leftLeaf = true)}
           |      AS BIGINT) AS c_ll,
           |    CAST(${contribChain(s"lc$m", s"tl$m", s"t$m", leftLeaf = false)}
           |      AS BIGINT) AS c_lr,
           |    CAST(${contribChain(s"rc$m", s"tr$m", s"t$m", leftLeaf = true)}
           |      AS BIGINT) AS c_rl,
           |    CAST(${contribChain(s"rc$m", s"tr$m", s"t$m", leftLeaf = false)}
           |      AS BIGINT) AS c_rr
           |  FROM (SELECT 1) one CROSS JOIN root$m r CROSS JOIN t$m
           |    LEFT JOIN lc$m ON true LEFT JOIN rc$m ON true
           |    LEFT JOIN tl$m ON true LEFT JOIN tr$m ON true),
           |f$m AS MATERIALIZED (SELECT t.doc_id, t.x1, t.x2, t.y,
           |    t.fv + (${treeContrib(s"d", "t").replace("\n", " ")}) AS fv
           |  FROM $fp t, d$m d),
           |sse$m AS (SELECT sum((y * $gbtScale - fv)
           |    * (y * $gbtScale - fv)) AS sse FROM f$m)""".stripMargin
      }.mkString
      val contribSum = (1 to gbtRounds)
        .map(m => s"(${treeContrib(s"d$m", "f").replace("\n", " ")})")
        .mkString(" + ")
      val descRows = (1 to gbtRounds).map { m =>
        s"""SELECT CAST($m AS BIGINT) AS round,
           |    CAST(d$m.root_feat AS BIGINT) AS root_feat,
           |    d$m.root_thr AS root_thr,
           |    CAST(d$m.left_feat AS BIGINT) AS left_feat,
           |    d$m.left_thr AS left_thr,
           |    CAST(d$m.right_feat AS BIGINT) AS right_feat,
           |    d$m.right_thr AS right_thr,
           |    d$m.c_ll, d$m.c_lr, d$m.c_rl, d$m.c_rr,
           |    CAST(sse$m.sse AS BIGINT) AS train_sse
           |  FROM d$m, sse$m""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      base + rounds +
        s""",
           |tst AS (SELECT f.doc_id, f.y,
           |    CASE WHEN (SELECT f0 FROM f0v) + $contribSum
           |      >= ${gbtScale / 2} THEN 1 ELSE 0 END AS yhat
           |  FROM f${(1 to gbtRounds).map(m => s", d$m").mkString}
           |  WHERE f.doc_id % 5 = 0),
           |conf AS (SELECT count(*) AS n_test,
           |    sum(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS tp,
           |    sum(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS fp,
           |    sum(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS fn,
           |    sum(CASE WHEN y = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS tn,
           |    coalesce(sum(CASE WHEN yhat = 1 THEN doc_id END), 0)
           |      AS pos_id_sum
           |  FROM tst),
           |descr AS ($descRows)
           |SELECT r.round, r.root_feat, r.root_thr, r.left_feat,
           |  r.left_thr, r.right_feat, r.right_thr,
           |  r.c_ll, r.c_lr, r.c_rl, r.c_rr, r.train_sse,
           |  v.f0,
           |  CAST(c.n_test AS BIGINT) AS n_test, CAST(c.tp AS BIGINT) AS tp,
           |  CAST(c.fp AS BIGINT) AS fp, CAST(c.fn AS BIGINT) AS fn,
           |  CAST(c.tn AS BIGINT) AS tn,
           |  CAST(c.pos_id_sum AS BIGINT) AS pos_id_sum
           |FROM descr r, f0v v, conf c ORDER BY r.round""".stripMargin
    },

    // bagged-stump-forest twin (TextOps.q_forest): the same md5
    // Poisson(1) weights (the q_bootstrap draw), the same fixed
    // candidate grid (dtreeThr), weighted-error argmin with the
    // total (err, feat, thr, pol) tie-break, and the exact 2·v ≥ n
    // OOB majority vote — integers everywhere, the full fit + OOB
    // confusion hash-gates
    "q_forest" -> {
      val bb = graft.operators.TextOps.forestB
      val cdf = graft.operators.Relational.bootstrapCdf
      def hd(i: Int) =
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1)"
      val u = (1 to 8).map(i => s"${hd(i)}*${1L << (4 * (8 - i))}")
        .mkString("(", " + ", ")")
      val w = cdf.map(t => s"(CASE WHEN u >= $t THEN 1 ELSE 0 END)")
        .mkString(" + ")
      def binSql(j: Int, x: String) =
        graft.operators.TextOps.dtreeThr.filter(_._1 == j).map(_._2)
          .map(t => s"(CASE WHEN $x >= $t THEN 1 ELSE 0 END)")
          .mkString(" + ")
      val thrVals = (for {
        j <- 1 to 2
        (t, i) <- graft.operators.TextOps.dtreeThr
          .filter(_._1 == j).map(_._2).zipWithIndex
      } yield s"($j, ${i + 1}, $t)").mkString(", ")
      s"""WITH raw AS (SELECT doc_id, CAST(len($tokL) AS BIGINT) AS n_tok,
         |    CAST(length(replace(text, ' ', '')) AS BIGINT) AS nospace
         |  FROM documents),
         |f AS MATERIALIZED (SELECT doc_id, n_tok AS x1,
         |    nospace * 8 // greatest(n_tok, 1) AS x2,
         |    CASE WHEN n_tok >= 50 AND n_tok <= 1000
         |      AND nospace >= n_tok * 3 AND nospace <= n_tok * 10
         |    THEN 1 ELSE 0 END AS y
         |  FROM raw),
         |wt AS MATERIALIZED (SELECT doc_id, x1, x2, y, b, $w AS w FROM (
         |  SELECT doc_id, x1, x2, y, b, CAST($u AS BIGINT) AS u FROM (
         |    SELECT doc_id, x1, x2, y, b,
         |      md5(CAST(b AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR)) AS h
         |    FROM f, (SELECT unnest(range($bb)) AS b)))),
         |binned AS (SELECT b, y, w, 1 AS feat, ${binSql(1, "x1")} AS bin
         |    FROM wt
         |  UNION ALL SELECT b, y, w, 2, ${binSql(2, "x2")} FROM wt),
         |cells AS (SELECT b, feat, bin,
         |    sum(CASE WHEN y = 1 THEN w ELSE 0 END) AS pw,
         |    sum(CASE WHEN y = 0 THEN w ELSE 0 END) AS nw
         |  FROM binned GROUP BY 1, 2, 3),
         |grid(feat, k, thr) AS (SELECT * FROM (VALUES $thrVals)),
         |tot AS (SELECT b, sum(pw) AS tp, sum(nw) AS tn
         |  FROM cells WHERE feat = 1 GROUP BY b),
         |pre AS (SELECT t.b, g.feat, g.k, g.thr, t.tp, t.tn,
         |    coalesce(sum(c.pw), 0) AS bp, coalesce(sum(c.nw), 0) AS bn
         |  FROM tot t CROSS JOIN grid g
         |    LEFT JOIN cells c ON c.b = t.b AND c.feat = g.feat
         |      AND c.bin < g.k
         |  GROUP BY 1, 2, 3, 4, 5, 6),
         |errs AS (SELECT b, feat, thr, -1 AS pol,
         |    bn + (tp - bp) AS err, tp + tn AS tot FROM pre
         |  UNION ALL SELECT b, feat, thr, 1,
         |    bp + (tn - bn), tp + tn FROM pre),
         |stumps AS MATERIALIZED (SELECT b, feat, thr, pol, err, tot FROM (
         |  SELECT *, row_number() OVER (PARTITION BY b
         |    ORDER BY err, feat, thr, pol) AS rn FROM errs) WHERE rn = 1),
         |preds AS (SELECT wt.doc_id, wt.y, CASE WHEN s.pol = 1
         |    THEN (CASE WHEN (CASE WHEN s.feat = 1 THEN wt.x1 ELSE wt.x2
         |      END) >= s.thr THEN 1 ELSE 0 END)
         |    ELSE (CASE WHEN (CASE WHEN s.feat = 1 THEN wt.x1 ELSE wt.x2
         |      END) < s.thr THEN 1 ELSE 0 END) END AS pred
         |  FROM wt JOIN stumps s USING (b) WHERE wt.w = 0),
         |vote AS (SELECT doc_id, y,
         |    CASE WHEN 2 * sum(pred) >= count(*) THEN 1 ELSE 0 END AS yhat
         |  FROM preds GROUP BY 1, 2),
         |conf AS (SELECT count(*) AS n_oob_docs,
         |    sum(CASE WHEN y = 1 AND yhat = 1 THEN 1 ELSE 0 END) AS oob_tp,
         |    sum(CASE WHEN y = 0 AND yhat = 1 THEN 1 ELSE 0 END) AS oob_fp,
         |    sum(CASE WHEN y = 1 AND yhat = 0 THEN 1 ELSE 0 END) AS oob_fn,
         |    sum(CASE WHEN y = 0 AND yhat = 0 THEN 1 ELSE 0 END) AS oob_tn,
         |    coalesce(sum(CASE WHEN yhat = 1 THEN doc_id END), 0)
         |      AS oob_pos_id_sum
         |  FROM vote),
         |nd AS (SELECT count(*) AS n_docs FROM f)
         |SELECT CAST(s.b AS BIGINT) AS tree,
         |  CASE WHEN s.feat = 1 THEN 'n_tok' ELSE 'density8' END AS feature,
         |  CAST(s.thr AS BIGINT) AS threshold, CAST(s.pol AS BIGINT)
         |    AS polarity,
         |  CAST(s.err AS BIGINT) AS err_w, CAST(s.tot AS BIGINT) AS tot_w,
         |  CAST(oob_tp AS BIGINT) AS oob_tp, CAST(oob_fp AS BIGINT) AS oob_fp,
         |  CAST(oob_fn AS BIGINT) AS oob_fn, CAST(oob_tn AS BIGINT) AS oob_tn,
         |  CAST(oob_pos_id_sum AS BIGINT) AS oob_pos_id_sum,
         |  CAST(n_docs - n_oob_docs AS BIGINT) AS n_oob_excluded,
         |  round(CAST(oob_tp + oob_tn AS DOUBLE) / n_oob_docs, 6) AS oob_acc
         |FROM stumps s, conf, nd ORDER BY tree""".stripMargin
    },

    // rank-1 ALS twin (Recommender.q_als): the same micro-unit
    // half-sweeps — every factor update is one floor division of two
    // exact HUGEINT sums (Spark: DECIMAL(38,0)), all terms positive,
    // so the whole two-sweep fit hash-gates including the exact
    // integer SSE of both sweep models
    "q_als" -> {
      val k = graft.operators.Recommender.alsScale
      s"""WITH ratings AS MATERIALIZED (
         |  SELECT o_custkey AS c, p_brand AS b,
         |    CAST(sum(l_quantity) AS BIGINT) AS r
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |                JOIN part  ON l_partkey = p_partkey
         |  GROUP BY 1, 2),
         |v0 AS (SELECT DISTINCT b, CAST($k AS HUGEINT) AS v FROM ratings),
         |u1 AS MATERIALIZED (
         |  SELECT c, sum(CAST(r AS HUGEINT) * v) * $k * $k // sum(v * v) AS u
         |  FROM ratings JOIN v0 USING (b) GROUP BY c),
         |v1 AS MATERIALIZED (
         |  SELECT b, sum(CAST(r AS HUGEINT) * u) * $k * $k // sum(u * u) AS v
         |  FROM ratings JOIN u1 USING (c) GROUP BY b),
         |u2 AS MATERIALIZED (
         |  SELECT c, sum(CAST(r AS HUGEINT) * v) * $k * $k // sum(v * v) AS u
         |  FROM ratings JOIN v1 USING (b) GROUP BY c),
         |v2 AS MATERIALIZED (
         |  SELECT b, sum(CAST(r AS HUGEINT) * u) * $k * $k // sum(u * u) AS v
         |  FROM ratings JOIN u2 USING (c) GROUP BY b),
         |e1 AS (SELECT CAST(sum(d * d) AS BIGINT) AS sse1 FROM (
         |  SELECT r - CAST(CAST(u AS HUGEINT) * v // $k // $k AS BIGINT) AS d
         |  FROM ratings JOIN u1 USING (c) JOIN v1 USING (b))),
         |e2 AS (SELECT CAST(sum(d * d) AS BIGINT) AS sse2 FROM (
         |  SELECT r - CAST(CAST(u AS HUGEINT) * v // $k // $k AS BIGINT) AS d
         |  FROM ratings JOIN u2 USING (c) JOIN v2 USING (b))),
         |g AS (SELECT count(*) AS n_users, CAST(sum(u) AS BIGINT) AS u_sum,
         |    CAST(min(u) AS BIGINT) AS u_min, CAST(max(u) AS BIGINT) AS u_max
         |  FROM u2),
         |m AS (SELECT b, count(*) AS n_raters, CAST(sum(r) AS BIGINT) AS r_sum
         |  FROM ratings GROUP BY b)
         |SELECT m.b AS brand, n_raters, r_sum,
         |  CAST(v1.v AS BIGINT) AS v1, CAST(v2.v AS BIGINT) AS v2,
         |  n_users, u_sum, u_min, u_max, sse1, sse2
         |FROM m JOIN v1 ON m.b = v1.b JOIN v2 ON m.b = v2.b, g, e1, e2
         |ORDER BY brand""".stripMargin
    },

    // event-followup self-join (Relational.q_join_followup and its
    // stream-stream twin): pairs within the 10-minute horizon,
    // aggregated per triggering hour with exact-µs gap mass and
    // id-sum checksums pinning the pair set; epoch_us arithmetic so
    // the horizon comparison is the same integer test in both engines
    "q_join_followup" ->
      """WITH pairs AS (
        |  SELECT a.ts AS a_ts, a.event_id AS a_event,
        |    b.ts AS b_ts, b.event_id AS b_event
        |  FROM events a JOIN events b ON a.user_id = b.user_id
        |    AND b.event_id != a.event_id
        |    AND epoch_us(b.ts) > epoch_us(a.ts)
        |    AND epoch_us(b.ts) <= epoch_us(a.ts) + 600000000)
        |SELECT date_trunc('hour', a_ts) AS hour, count(*) AS n_pairs,
        |  CAST(sum(epoch_us(b_ts) - epoch_us(a_ts)) AS BIGINT)
        |    AS sum_gap_us,
        |  CAST(sum(a_event) AS BIGINT) AS a_id_sum,
        |  CAST(sum(b_event) AS BIGINT) AS b_id_sum
        |FROM pairs GROUP BY 1 ORDER BY hour""".stripMargin,

    // triangle census of the SAME LSH pair graph q_dedup_minhash
    // declares; the naive x<y<z formulation here independently
    // cross-checks the Spark side's degree-oriented enumeration
    "q_triangles" ->
      s"""$shinglesCte,
         |sig AS (SELECT doc_id, $minhashLegs FROM sh GROUP BY doc_id),
         |bands AS (
         |  SELECT doc_id, 0 AS band, md5(concat(h0, h1)) AS bucket FROM sig
         |  UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM sig
         |  UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM sig
         |  UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM sig),
         |pairs AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b
         |    ON a.band = b.band AND a.bucket = b.bucket
         |    AND a.doc_id < b.doc_id),
         |deg AS (SELECT node, count(*) AS deg FROM
         |  (SELECT a_id AS node FROM pairs
         |   UNION ALL SELECT b_id FROM pairs) GROUP BY node),
         |tri AS (SELECT e1.a_id AS x, e1.b_id AS y, e2.b_id AS z
         |  FROM pairs e1 JOIN pairs e2 ON e2.a_id = e1.b_id
         |  JOIN pairs e3 ON e3.a_id = e1.a_id AND e3.b_id = e2.b_id),
         |tn AS (SELECT node, count(*) AS n_tri FROM
         |  (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
         |   UNION ALL SELECT z FROM tri) GROUP BY node)
         |SELECT d.node, d.deg, coalesce(tn.n_tri, 0) AS n_tri,
         |  CASE WHEN d.deg >= 2 THEN round(CAST(2 AS DOUBLE)
         |      * coalesce(tn.n_tri, 0) / (d.deg * (d.deg - 1)), 4)
         |    ELSE CAST(0 AS DOUBLE) END AS cc
         |FROM deg d LEFT JOIN tn USING (node)
         |ORDER BY n_tri DESC, cc DESC, node
         |LIMIT 50""".stripMargin,

    // per-series OLS trend (Relational.q_linreg): rebased hour index,
    // exact BIGINT co-moments, closed-form slope/intercept/R² with the
    // same double expression order as the Spark side
    "q_linreg" ->
      """WITH hourly AS (SELECT event_type,
        |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600 AS eh,
        |    CAST(count(*) AS BIGINT) AS y
        |  FROM events GROUP BY 1, 2),
        |based AS (SELECT event_type,
        |    eh - min(eh) OVER (PARTITION BY event_type) AS x, y
        |  FROM hourly),
        |m AS (SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy,
        |    CAST(sum(x * x) AS BIGINT) AS sxx,
        |    CAST(sum(y * y) AS BIGINT) AS syy,
        |    CAST(max(x) AS BIGINT) AS mx
        |  FROM based GROUP BY 1),
        |c AS (SELECT event_type, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
        |    CAST(sy AS DOUBLE) AS syd, CAST(mx AS DOUBLE) AS mxd,
        |    CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cov,
        |    CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
        |      - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS vx,
        |    CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
        |      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) AS vy
        |  FROM m)
        |SELECT event_type, n,
        |  CASE WHEN vx = 0.0 THEN 0.0
        |    ELSE round(cov / vx, 6) END AS slope,
        |  CASE WHEN vx = 0.0 THEN round(syd / nd, 4)
        |    ELSE round((syd - cov / vx * sxd) / nd, 4) END AS intercept,
        |  CASE WHEN vx = 0.0 OR vy = 0.0 THEN 0.0
        |    ELSE round(cov * cov / (vx * vy), 4) END AS r2,
        |  CASE WHEN vx = 0.0 THEN round(syd / nd, 4)
        |    ELSE round((syd - cov / vx * sxd) / nd
        |      + cov / vx * (mxd + 1.0), 4) END AS next_hour_forecast
        |FROM c ORDER BY event_type""".stripMargin,

    // market-basket rules (Relational.q_basket): per-order distinct
    // brands, pair counts via the order-key self-join, exact integer
    // support/confidence/lift, top-20 by lift
    "q_basket" ->
      """WITH ob AS (SELECT DISTINCT l_orderkey AS okey, p_brand AS brand
        |  FROM lineitem JOIN part ON l_partkey = p_partkey),
        |pairs AS (SELECT a.brand AS b1, b.brand AS b2,
        |    CAST(count(*) AS BIGINT) AS pair_cnt
        |  FROM ob a JOIN ob b
        |    ON a.okey = b.okey AND a.brand < b.brand
        |  GROUP BY 1, 2),
        |marg AS (SELECT brand, CAST(count(*) AS BIGINT) AS cnt
        |  FROM ob GROUP BY 1),
        |tot AS (SELECT CAST(count(DISTINCT okey) AS BIGINT) AS n_orders
        |  FROM ob)
        |SELECT b1, b2, pair_cnt,
        |  round(CAST(pair_cnt AS DOUBLE) / CAST(n_orders AS DOUBLE), 6)
        |    AS support,
        |  round(CAST(pair_cnt AS DOUBLE) / CAST(m1.cnt AS DOUBLE), 4)
        |    AS confidence,
        |  round(CAST(pair_cnt AS DOUBLE) * CAST(n_orders AS DOUBLE)
        |    / (CAST(m1.cnt AS DOUBLE) * CAST(m2.cnt AS DOUBLE)), 4)
        |    AS lift
        |FROM pairs
        |JOIN marg m1 ON pairs.b1 = m1.brand
        |JOIN marg m2 ON pairs.b2 = m2.brand
        |CROSS JOIN tot
        |ORDER BY lift DESC, b1, b2 LIMIT 20""".stripMargin,

    // revenue concentration (Relational.q_concentration): exact
    // DECIMAL Gini/HHI/top-decile numerators, double only in the final
    // closed-form division
    "q_concentration" ->
      """WITH rev AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |      AS DECIMAL(18,2)) AS rev
        |  FROM orders GROUP BY 1),
        |per AS (SELECT n_name, c_custkey, rev
        |  FROM customer
        |  JOIN rev ON c_custkey = o_custkey
        |  JOIN nation ON c_nationkey = n_nationkey),
        |rk AS (SELECT n_name, rev,
        |    row_number() OVER (PARTITION BY n_name
        |      ORDER BY rev, c_custkey) AS i,
        |    count(*) OVER (PARTITION BY n_name) AS nn
        |  FROM per),
        |m AS (SELECT n_name, count(*) AS n,
        |    sum(rev) AS t,
        |    sum(CAST(rev * rev AS DECIMAL(38,4))) AS ssq,
        |    sum(CAST(i AS DECIMAL(18,0)) * rev) AS siw,
        |    sum(CASE WHEN i > nn - CAST(floor(
        |        CAST(nn + 9 AS DOUBLE) / 10) AS BIGINT)
        |      THEN rev END) AS topsum
        |  FROM rk GROUP BY 1)
        |SELECT n_name, n,
        |  round(CAST(t AS DOUBLE), 2) AS total_rev,
        |  round(2.0 * CAST(siw AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * CAST(t AS DOUBLE))
        |    - (CAST(n AS DOUBLE) + 1.0) / CAST(n AS DOUBLE), 4) AS gini,
        |  round(CAST(ssq AS DOUBLE)
        |    / (CAST(t AS DOUBLE) * CAST(t AS DOUBLE)), 6) AS hhi,
        |  round(CAST(topsum AS DOUBLE) / CAST(t AS DOUBLE), 4)
        |    AS top_decile_share
        |FROM m ORDER BY n_name""".stripMargin,

    // Benford first-digit audit (Relational.q_benford): first
    // significant digit from the DECIMAL(18,4) string rendering,
    // libm log10 expectation, χ² contribution per digit
    "q_benford" ->
      """WITH d AS (SELECT regexp_extract(
        |    CAST(CAST(o_totalprice AS DECIMAL(18,4)) AS VARCHAR),
        |    '[1-9]', 0) AS digit
        |  FROM orders),
        |o AS (SELECT digit, CAST(count(*) AS BIGINT) AS obs
        |  FROM d WHERE digit <> '' GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM orders)
        |SELECT digit, obs,
        |  round(CAST(obs AS DOUBLE) / CAST(n_total AS DOUBLE), 6)
        |    AS obs_p,
        |  round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)), 6)
        |    AS benford_p,
        |  round((CAST(obs AS DOUBLE) - CAST(n_total AS DOUBLE)
        |      * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
        |    * (CAST(obs AS DOUBLE) - CAST(n_total AS DOUBLE)
        |      * log10(1.0 + 1.0 / CAST(digit AS DOUBLE)))
        |    / (CAST(n_total AS DOUBLE)
        |      * log10(1.0 + 1.0 / CAST(digit AS DOUBLE))), 4) AS chi2
        |FROM o CROSS JOIN t ORDER BY digit""".stripMargin,

    // seasonal-naive backtest (Relational.q_forecast_eval): hourly
    // series densified onto the per-series min→max hour spine
    // (missing hour = 0 events) so lag-24 is exactly one day back,
    // exact BIGINT error sums
    "q_forecast_eval" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |spine AS (SELECT event_type,
        |    unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        |  FROM (SELECT event_type, min(h) AS mn, max(h) AS mx
        |    FROM hourly GROUP BY 1)),
        |dense AS (SELECT s.event_type, s.h,
        |    coalesce(hourly.cnt, 0) AS cnt
        |  FROM spine s LEFT JOIN hourly
        |    ON s.event_type = hourly.event_type AND s.h = hourly.h),
        |l AS (SELECT event_type, h, cnt,
        |    lag(cnt, 24) OVER (PARTITION BY event_type ORDER BY h) AS f
        |  FROM dense),
        |m AS (SELECT event_type, count(*) AS n_eval,
        |    CAST(sum(abs(cnt - f)) AS BIGINT) AS sae,
        |    CAST(sum(cnt - f) AS BIGINT) AS sbias,
        |    CAST(sum((cnt - f) * (cnt - f)) AS BIGINT) AS sse
        |  FROM l WHERE f IS NOT NULL GROUP BY 1)
        |SELECT event_type, n_eval,
        |  round(CAST(sae AS DOUBLE) / CAST(n_eval AS DOUBLE), 4) AS mae,
        |  round(sqrt(CAST(sse AS DOUBLE) / CAST(n_eval AS DOUBLE)), 4)
        |    AS rmse,
        |  round(CAST(sbias AS DOUBLE) / CAST(n_eval AS DOUBLE), 4)
        |    AS bias
        |FROM m ORDER BY event_type""".stripMargin,

    // RFM quartile segmentation (Relational.q_rfm): ntile tie-broken
    // by c_custkey so both engines walk one total order
    "q_rfm" ->
      """WITH pc AS (SELECT c_custkey, c_mktsegment,
        |    date_diff('day', max(CAST(o_orderdate AS DATE)),
        |      (SELECT max(CAST(o_orderdate AS DATE)) FROM orders))
        |      AS rec_days,
        |    count(*) AS freq,
        |    sum(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
        |  FROM orders JOIN customer ON o_custkey = c_custkey
        |  GROUP BY 1, 2),
        |qq AS (SELECT c_mktsegment, mon,
        |    CAST(ntile(4) OVER (PARTITION BY c_mktsegment
        |      ORDER BY rec_days, c_custkey) AS BIGINT) AS r_q,
        |    CAST(ntile(4) OVER (PARTITION BY c_mktsegment
        |      ORDER BY freq DESC, c_custkey) AS BIGINT) AS f_q,
        |    CAST(ntile(4) OVER (PARTITION BY c_mktsegment
        |      ORDER BY mon DESC, c_custkey) AS BIGINT) AS m_q
        |  FROM pc)
        |SELECT c_mktsegment, r_q, f_q, m_q,
        |  count(*) AS n_customers,
        |  round(CAST(sum(mon) AS DOUBLE), 2) AS total_monetary
        |FROM qq GROUP BY 1, 2, 3, 4 ORDER BY 1, 2, 3, 4""".stripMargin,

    // month-over-month / year-over-year growth (Relational.q_growth)
    "q_growth" ->
      """WITH m AS (SELECT date_trunc('month', o_orderdate) AS mon,
        |    count(*) AS n_orders,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |      AS rev_d
        |  FROM orders GROUP BY 1),
        |l AS (SELECT mon, n_orders, rev_d,
        |    lag(rev_d, 1) OVER (ORDER BY mon) AS prev,
        |    lag(rev_d, 12) OVER (ORDER BY mon) AS prev12
        |  FROM m)
        |SELECT mon, n_orders, round(rev_d, 2) AS revenue,
        |  round((rev_d - prev) / prev * 100, 4) AS mom_pct,
        |  round((rev_d - prev12) / prev12 * 100, 4) AS yoy_pct
        |FROM l ORDER BY mon""".stripMargin,

    // top-20 3-step event paths (Relational.q_paths)
    "q_paths" ->
      """WITH s AS (SELECT user_id, event_type,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT concat_ws('>', event_type, e2, e3) AS path,
        |  count(*) AS n
        |FROM s WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 20""".stripMargin,

    // 8-tap power-of-two EWMA over the densified hourly series
    // (Relational.q_ewma; taps interpolated from ewmaTaps)
    "q_ewma" -> {
      val taps = operators.Relational.ewmaTaps
      val chain = (0 until taps)
        .map(k => s"lag(cnt, $k) OVER w * ${1L << (taps - 1 - k)}")
        .mkString(" + ")
      s"""WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |spine AS (SELECT event_type,
        |    unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        |  FROM (SELECT event_type, min(h) AS mn, max(h) AS mx
        |    FROM hourly GROUP BY 1)),
        |dense AS (SELECT s.event_type, s.h,
        |    coalesce(hourly.cnt, 0) AS cnt
        |  FROM spine s LEFT JOIN hourly
        |    ON s.event_type = hourly.event_type AND s.h = hourly.h),
        |l AS (SELECT event_type, h, cnt,
        |    $chain AS wnum
        |  FROM dense
        |  WINDOW w AS (PARTITION BY event_type ORDER BY h))
        |SELECT event_type, h, cnt,
        |  round(CAST(wnum AS DOUBLE) / ${(1L << taps) - 1}.0, 4) AS smooth
        |FROM l WHERE wnum IS NOT NULL
        |ORDER BY event_type, h""".stripMargin
    },

    // hourly-count autocorrelation (Relational.q_acf): the estimator
    // multiplied through by n² so every factor is an exact integer
    // (HUGEINT here ≡ Spark's DECIMAL(38,0)); lags unrolled from the
    // shared acfMaxLag
    "q_acf" -> {
      val maxLag = operators.Relational.acfMaxLag
      val leads = (1 to maxLag)
        .map(k => s"lead(cnt, $k) OVER w AS l$k").mkString(", ")
      val moments = (1 to maxLag).map(k =>
        s"CAST(sum(cnt * l$k) AS BIGINT) AS q$k, " +
          s"CAST(sum(CASE WHEN l$k IS NOT NULL THEN cnt END) AS BIGINT) AS a$k, " +
          s"CAST(sum(l$k) AS BIGINT) AS b$k").mkString(", ")
      val lagSelects = (1 to maxLag).map { k =>
        val num = s"CAST(n AS HUGEINT)*n*q$k - CAST(n AS HUGEINT)*s*(a$k+b$k)" +
          s" + (CAST(n AS HUGEINT) - $k)*s*s"
        val den = "CAST(n AS HUGEINT)*(CAST(n AS HUGEINT)*q - CAST(s AS HUGEINT)*s)"
        s"SELECT event_type, CAST($k AS BIGINT) AS lag, " +
          s"CAST(n - $k AS BIGINT) AS n_pairs, " +
          s"round(CAST($num AS DOUBLE) / CAST($den AS DOUBLE), 6) AS acf FROM m"
      }.mkString("\nUNION ALL ")
      s"""WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |spine AS (SELECT event_type,
        |    unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        |  FROM (SELECT event_type, min(h) AS mn, max(h) AS mx
        |    FROM hourly GROUP BY 1)),
        |dense AS (SELECT s.event_type, s.h,
        |    coalesce(hourly.cnt, 0) AS cnt
        |  FROM spine s LEFT JOIN hourly
        |    ON s.event_type = hourly.event_type AND s.h = hourly.h),
        |l AS (SELECT event_type, cnt, $leads
        |  FROM dense
        |  WINDOW w AS (PARTITION BY event_type ORDER BY h)),
        |m AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cnt) AS BIGINT) AS s,
        |    CAST(sum(cnt * cnt) AS BIGINT) AS q, $moments
        |  FROM l GROUP BY 1)
        |$lagSelects
        |ORDER BY event_type, lag""".stripMargin
    },

    // PSI drift report (Relational.q_psi_drift): midpoint split via
    // the integer-exact 2e <= mn+mx compare, equi-width bins, +1
    // Laplace smoothing, per-bin contributions rounded DECIMAL(18,6)
    // before the exact sum (the q_kl_mixture discipline)
    "q_psi_drift" -> {
      val bw = operators.Relational.psiBinWidth
      val bound = operators.Relational.psiDriftBound
      s"""WITH e AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS e,
        |    CAST(floor(value / $bw) AS BIGINT) AS bin FROM events),
        |bd AS (SELECT min(e) AS mn, max(e) AS mx FROM e),
        |binned AS (SELECT event_type, bin,
        |    CAST(sum(CASE WHEN e * 2 <= mn + mx THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c_ref,
        |    CAST(sum(CASE WHEN e * 2 <= mn + mx THEN 0 ELSE 1 END)
        |      AS BIGINT) AS c_cur
        |  FROM e CROSS JOIN bd GROUP BY 1, 2),
        |c AS (SELECT event_type, bin, c_ref, c_cur,
        |    CAST(sum(c_ref) OVER t AS BIGINT) AS n_ref,
        |    CAST(sum(c_cur) OVER t AS BIGINT) AS n_cur,
        |    CAST(count(*) OVER t AS BIGINT) AS k
        |  FROM binned WINDOW t AS (PARTITION BY event_type)),
        |con AS (SELECT event_type, n_ref, n_cur,
        |    CAST(round((CAST(c_ref + 1 AS DOUBLE) / (n_ref + k)
        |        - CAST(c_cur + 1 AS DOUBLE) / (n_cur + k))
        |      * ln(CAST((c_ref + 1) * (n_cur + k) AS DOUBLE)
        |        / CAST((c_cur + 1) * (n_ref + k) AS DOUBLE)), 6)
        |      AS DECIMAL(18,6)) AS contrib
        |  FROM c)
        |SELECT event_type, max(n_ref) AS n_ref, max(n_cur) AS n_cur,
        |  CAST(count(*) AS BIGINT) AS n_bins,
        |  CAST(sum(contrib) AS DOUBLE) AS psi,
        |  CAST(CASE WHEN sum(contrib) > $bound THEN 1 ELSE 0 END AS BIGINT)
        |    AS drifted
        |FROM con GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // leave-one-out + smoothed mean target encoding
    // (Relational.q_target_encode): exact DECIMAL(18,2) sums; the
    // 4-dp half-up round is INTEGER arithmetic (⌊(2a+d)/(2d)⌋) in
    // both engines — rounding the float quotient flips the 4th
    // decimal on exact half boundaries
    "q_target_encode" -> {
      val m = operators.Relational.encodePrior
      s"""WITH ev AS (SELECT event_id, user_id,
        |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |pu AS (SELECT user_id, sum(v) AS s, CAST(count(*) AS BIGINT) AS n
        |  FROM ev GROUP BY 1),
        |g AS (SELECT sum(v) AS gs, CAST(count(*) AS BIGINT) AS gn FROM ev)
        |SELECT event_id, user_id,
        |  CASE WHEN n > 1 THEN
        |    CAST((2 * CAST((s - v) * 10000 AS HUGEINT) + (n - 1))
        |      // (2 * CAST(n - 1 AS HUGEINT)) AS DOUBLE) / 10000 END AS loo_enc,
        |  CAST((2 * (CAST(s * 10000 AS HUGEINT) * gn
        |        + $m * CAST(gs * 10000 AS HUGEINT))
        |      + CAST(gn AS HUGEINT) * (n + $m))
        |    // (2 * CAST(gn AS HUGEINT) * (n + $m)) AS DOUBLE) / 10000
        |    AS smooth_enc
        |FROM ev JOIN pu USING (user_id) CROSS JOIN g
        |ORDER BY event_id""".stripMargin
    },

    // interval-overlap join (Relational.q_join_interval): sessions ×
    // hot hours; the oracle keeps the RANGE predicate implicit the
    // same way — each session explodes to exactly the hour buckets
    // its interval intersects
    "q_join_interval" -> {
      val f = operators.Relational.hotHourFactor
      s"""WITH ev AS (SELECT user_id, event_id, ts,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS e FROM events),
        |se AS (SELECT user_id, ts, event_id, e,
        |    CASE WHEN lag(e, 1) OVER w IS NULL
        |      OR e - lag(e, 1) OVER w >= 1800 THEN 1 ELSE 0 END AS ns
        |  FROM ev
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |sid AS (SELECT user_id, e,
        |    CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        |  FROM se),
        |sess AS (SELECT user_id, session_id, min(e) AS s_start,
        |    max(e) AS s_end, CAST(count(*) AS BIGINT) AS n_events
        |  FROM sid GROUP BY 1, 2),
        |hh AS (SELECT e - e % 3600 AS h, CAST(count(*) AS BIGINT) AS cnt
        |  FROM ev GROUP BY 1),
        |tt AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
        |    CAST(count(*) AS BIGINT) AS n_hours FROM hh),
        |hot AS (SELECT h AS hot_h FROM hh CROSS JOIN tt
        |  WHERE cnt * n_hours > $f * total),
        |ex AS (SELECT user_id, session_id, s_start, s_end, n_events,
        |    unnest(generate_series(s_start // 3600, s_end // 3600)) AS hb
        |  FROM sess)
        |SELECT user_id, session_id, s_start, s_end, n_events,
        |  CAST(count(hot_h) AS BIGINT) AS n_hot_hours,
        |  min(hot_h) AS first_hot_h
        |FROM ex LEFT JOIN hot ON hb * 3600 = hot_h
        |GROUP BY 1, 2, 3, 4, 5 ORDER BY user_id, session_id""".stripMargin
    },

    // multi-grain time rollup (Relational.q_time_rollup): the same
    // ROLLUP hierarchy in one pass; date_trunc('week') is
    // Monday-based in both engines
    "q_time_rollup" ->
      """SELECT
        |  CASE WHEN grouping(h) = 0 THEN 'hour'
        |       WHEN grouping(d) = 0 THEN 'day'
        |       WHEN grouping(w) = 0 THEN 'week'
        |       ELSE 'total' END AS grain,
        |  coalesce(h, d, w) AS bucket,
        |  CAST(count(*) AS BIGINT) AS cnt,
        |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
        |    AS total_value
        |FROM (SELECT value, date_trunc('week', ts) AS w,
        |        date_trunc('day', ts) AS d, date_trunc('hour', ts) AS h
        |      FROM events)
        |GROUP BY ROLLUP (w, d, h)
        |ORDER BY grain, bucket""".stripMargin,

    // per-user lag features (Relational.q_lag_features): one window
    // pass; the trailing-3 mean's 4-dp round provably never hits a
    // half boundary (see the Spark-side proof)
    "q_lag_features" ->
      """SELECT event_id, user_id,
        |  round(CAST(lag(v, 1) OVER w AS DOUBLE), 2) AS prev_value,
        |  CAST(count(v) OVER t3 AS BIGINT) AS trail3_n,
        |  CASE WHEN count(v) OVER t3 > 0 THEN
        |    round(CAST(sum(v) OVER t3 AS DOUBLE) / (count(v) OVER t3), 4)
        |  END AS trail3_mean,
        |  e - lag(e, 1) OVER w AS secs_since_prev
        |FROM (SELECT event_id, user_id, ts,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS e,
        |    CAST(value AS DECIMAL(18,2)) AS v FROM events)
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
        |  t3 AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING)
        |ORDER BY event_id""".stripMargin,

    // two-sample KS drift (Relational.q_ks_drift): D·n1·n2 as an
    // exact integer max over per-value cumulative counts; the oracle
    // uses the plain per-type cumsum (the Spark side's two-level
    // prefix is a plan choice, same math); significance decided by
    // the exact integer compare
    "q_ks_drift" ->
      """WITH e AS (SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS e,
        |    value FROM events),
        |bd AS (SELECT min(e) AS mn, max(e) AS mx FROM e),
        |pv AS (SELECT event_type, value,
        |    CAST(sum(CASE WHEN e * 2 <= mn + mx THEN 1 ELSE 0 END)
        |      AS BIGINT) AS cr,
        |    CAST(sum(CASE WHEN e * 2 <= mn + mx THEN 0 ELSE 1 END)
        |      AS BIGINT) AS cc
        |  FROM e CROSS JOIN bd GROUP BY 1, 2),
        |c AS (SELECT event_type, cr, cc,
        |    CAST(sum(cr) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c1,
        |    CAST(sum(cc) OVER (PARTITION BY event_type ORDER BY value
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS c2
        |  FROM pv),
        |t AS (SELECT event_type, CAST(sum(cr) AS BIGINT) AS n1,
        |    CAST(sum(cc) AS BIGINT) AS n2 FROM pv GROUP BY 1),
        |d AS (SELECT c.event_type, n1, n2,
        |    CAST(max(abs(c1 * n2 - c2 * n1)) AS BIGINT) AS d_num
        |  FROM c JOIN t USING (event_type) GROUP BY 1, 2, 3)
        |SELECT event_type, n1, n2, d_num,
        |  round(CAST(d_num AS DOUBLE)
        |    / (CAST(n1 AS DOUBLE) * CAST(n2 AS DOUBLE)), 6) AS d,
        |  CAST(CASE WHEN CAST(d_num AS HUGEINT) * d_num * 1000000
        |      > CAST(1844164 AS HUGEINT) * (n1 + n2) * n1 * n2
        |    THEN 1 ELSE 0 END AS BIGINT) AS significant
        |FROM d ORDER BY event_type""".stripMargin,

    // delete-one-group jackknife SE (Relational.q_jackknife):
    // md5-bucketed groups, integer 1e-6-unit LOO means, exact
    // integer moments, IEEE sqrt last
    "q_jackknife" -> {
      val bkts = operators.Relational.jackBuckets
      val hex = "strpos('0123456789abcdef', substr(md5('jk:' || " +
        "CAST(event_id AS VARCHAR)), %d, 1)) - 1"
      s"""WITH ev AS (SELECT event_type,
        |    CAST(((${hex.format(1)}) * 16 + (${hex.format(2)})) % $bkts
        |      AS BIGINT) AS b,
        |    CAST(value AS DECIMAL(18,2)) AS v FROM events),
        |g AS (SELECT event_type, b, sum(v) AS sb,
        |    CAST(count(*) AS BIGINT) AS nb FROM ev GROUP BY 1, 2),
        |t AS (SELECT event_type, sum(sb) AS s,
        |    CAST(sum(nb) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS nbuckets FROM g GROUP BY 1),
        |m AS (SELECT g.event_type, n, s, nbuckets,
        |    (2 * CAST((s - sb) * 100 AS BIGINT) * 10000 + (n - nb))
        |      // (2 * (n - nb)) AS r
        |  FROM g JOIN t USING (event_type)),
        |a AS (SELECT event_type, n, s, nbuckets,
        |    CAST(sum(r) AS BIGINT) AS msum,
        |    CAST(sum(CAST(r AS HUGEINT) * r) AS HUGEINT) AS msq
        |  FROM m GROUP BY 1, 2, 3, 4)
        |SELECT event_type, n AS n_rows,
        |  CAST((2 * CAST(s * 100 AS BIGINT) * 100 + n) // (2 * n)
        |    AS DOUBLE) / 10000 AS mean,
        |  round(sqrt(CAST(CAST(nbuckets - 1 AS HUGEINT)
        |      * (nbuckets * msq - CAST(msum AS HUGEINT) * msum)
        |      AS DOUBLE))
        |    / (CAST(nbuckets AS DOUBLE) * 1000000), 6) AS se_jack
        |FROM a ORDER BY event_type""".stripMargin
    },

    // trailing-24h rolling median of hourly counts
    // (Relational.q_rolling_median): dense spine + one quantile
    // window; med2 = 2·median is integer-exact on BIGINT counts
    "q_rolling_median" ->
      """WITH hourly AS (SELECT event_type, date_trunc('hour', ts) AS h,
        |    CAST(count(*) AS BIGINT) AS cnt
        |  FROM events GROUP BY 1, 2),
        |spine AS (SELECT event_type,
        |    unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
        |  FROM (SELECT event_type, min(h) AS mn, max(h) AS mx
        |    FROM hourly GROUP BY 1)),
        |dense AS (SELECT s.event_type, s.h,
        |    coalesce(hourly.cnt, 0) AS cnt
        |  FROM spine s LEFT JOIN hourly
        |    ON s.event_type = hourly.event_type AND s.h = hourly.h)
        |SELECT event_type, h, cnt,
        |  CAST(CAST(quantile_cont(cnt, 0.5) OVER (PARTITION BY event_type
        |    ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) * 2
        |    AS BIGINT) AS DOUBLE) / 2 AS med_24h
        |FROM dense ORDER BY event_type, h""".stripMargin,

    // Kaplan-Meier weekly survival with right-censoring
    // (Relational.q_survival): exact integer risk sets, per-offset
    // ln from one integer ratio rounded DECIMAL(18,6) before the
    // exact cumulative sum
    "q_survival" ->
      """WITH ev AS (SELECT user_id,
        |    CAST(floor(epoch(CAST(date_trunc('week', ts) AS TIMESTAMP)))
        |      AS BIGINT) AS w FROM events),
        |u AS (SELECT user_id, min(w) AS w0, max(w) AS wl
        |  FROM ev GROUP BY 1),
        |e AS (SELECT max(w) AS we FROM ev),
        |sp AS (SELECT CAST(CASE WHEN wl = we THEN (we - w0) // 604800
        |      ELSE (wl - w0) // 604800 + 1 END AS BIGINT) AS off,
        |    CAST(CASE WHEN wl <> we THEN 1 ELSE 0 END AS BIGINT)
        |      AS is_event
        |  FROM u CROSS JOIN e),
        |p AS (SELECT off, CAST(count(*) AS BIGINT) AS ending,
        |    CAST(sum(is_event) AS BIGINT) AS d FROM sp GROUP BY 1),
        |r AS (SELECT off, ending, d,
        |    CAST(sum(ending) OVER (ORDER BY off ROWS BETWEEN CURRENT ROW
        |      AND UNBOUNDED FOLLOWING) AS BIGINT) AS n_risk FROM p),
        |l AS (SELECT off, n_risk, d, ending,
        |    CAST(CASE WHEN d > 0 THEN
        |      round(ln(CAST(n_risk - d AS DOUBLE)
        |        / CAST(n_risk AS DOUBLE)), 6)
        |      ELSE 0 END AS DECIMAL(18,6)) AS lnfac FROM r)
        |SELECT off, n_risk, d AS n_events, ending - d AS n_censored,
        |  round(exp(CAST(sum(lnfac) OVER (ORDER BY off
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE)), 4) AS survival
        |FROM l ORDER BY off""".stripMargin,

    // cumulative distinct users by day (Relational.q_cume_users):
    // first-seen day per user, then a bounded daily cumsum
    "q_cume_users" ->
      """WITH fd AS (SELECT user_id,
        |    min(CAST(date_trunc('day', ts) AS TIMESTAMP)) AS day
        |  FROM events GROUP BY 1),
        |d AS (SELECT day, CAST(count(*) AS BIGINT) AS new_users
        |  FROM fd GROUP BY 1)
        |SELECT day, new_users,
        |  CAST(sum(new_users) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
        |    AS BIGINT) AS cume_users
        |FROM d ORDER BY day""".stripMargin,

    // Gini coefficient of customer revenue (Relational.q_gini):
    // Σ(2i−n−1)·x_i / (n·Σx) with exact integer cents and the
    // integer-div 6-dp round
    "q_gini" ->
      """WITH sp AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |r AS (SELECT cents,
        |    CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT)
        |      AS i FROM sp),
        |t AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(cents) AS BIGINT) AS total FROM sp),
        |m AS (SELECT CAST(sum(CAST(2 * i - n - 1 AS HUGEINT) * cents)
        |    AS HUGEINT) AS num FROM r CROSS JOIN t)
        |SELECT n AS n_customers,
        |  round(CAST(total AS DOUBLE) / 100, 2) AS total_spend,
        |  CAST((2 * num * 1000000 + CAST(n AS HUGEINT) * total)
        |    // (2 * CAST(n AS HUGEINT) * total) AS DOUBLE) / 1000000
        |    AS gini
        |FROM m CROSS JOIN t ORDER BY n_customers""".stripMargin,

    // Lorenz curve by customer decile (Relational.q_lorenz): window
    // ntile ≡ ScalableRank by construction; integer-div 4-dp share
    "q_lorenz" ->
      """WITH sp AS (SELECT o_custkey,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS BIGINT)
        |      AS cents
        |  FROM orders GROUP BY 1),
        |d AS (SELECT cents,
        |    CAST(ntile(10) OVER (ORDER BY cents, o_custkey) AS BIGINT)
        |      AS decile FROM sp),
        |pd AS (SELECT decile, CAST(count(*) AS BIGINT) AS n_customers,
        |    CAST(sum(cents) AS BIGINT) AS dc FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(dc) AS BIGINT) AS tot FROM pd),
        |c AS (SELECT decile, n_customers, dc,
        |    CAST(sum(dc) OVER (ORDER BY decile ROWS UNBOUNDED PRECEDING)
        |      AS BIGINT) AS cum_cents FROM pd)
        |SELECT decile, n_customers,
        |  round(CAST(dc AS DOUBLE) / 100, 2) AS decile_spend,
        |  CAST((2 * CAST(cum_cents AS HUGEINT) * 10000 + tot)
        |    // (2 * CAST(tot AS HUGEINT)) AS DOUBLE) / 10000 AS cum_share
        |FROM c CROSS JOIN t ORDER BY decile""".stripMargin,

    // snapshot reconciliation diff (Relational.q_snapshot_diff): both
    // snapshots from one conditional aggregate; exact-decimal compare
    // decides `changed`
    "q_snapshot_diff" -> {
      val (c1, c2) =
        (operators.Relational.snapCut1, operators.Relational.snapCut2)
      s"""WITH s AS (SELECT o_custkey,
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '$c1'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN o_orderdate < TIMESTAMP '$c2'
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n2,
        |    sum(CASE WHEN o_orderdate < TIMESTAMP '$c1'
        |      THEN CAST(o_totalprice AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS s1,
        |    sum(CASE WHEN o_orderdate < TIMESTAMP '$c2'
        |      THEN CAST(o_totalprice AS DECIMAL(18,2))
        |      ELSE CAST(0 AS DECIMAL(18,2)) END) AS s2
        |  FROM orders GROUP BY 1)
        |SELECT o_custkey,
        |  CASE WHEN n1 = 0 THEN 'added'
        |    WHEN n1 <> n2 OR s1 <> s2 THEN 'changed'
        |    ELSE 'unchanged' END AS status,
        |  n1, n2,
        |  round(CAST(s1 AS DOUBLE), 2) AS spend1,
        |  round(CAST(s2 AS DOUBLE), 2) AS spend2
        |FROM s WHERE n2 > 0 ORDER BY o_custkey""".stripMargin
    },

    // one-pass 4-column Pearson matrix (Relational.q_corr_matrix):
    // moment names and the float op ORDER mirror the Spark side
    "q_corr_matrix" -> {
      val names = Seq("l_quantity" -> "quantity",
        "l_extendedprice" -> "extendedprice",
        "l_discount" -> "discount", "l_tax" -> "tax")
      val castCols = names
        .map { case (c, a) => s"CAST($c AS DECIMAL(18,2)) AS $a" }
        .mkString(", ")
      val sums = names.map { case (_, a) => s"sum($a) AS s_$a" }
      val prods = for {
        i <- names.indices; j <- i until names.size
        a = names(i)._2; b = names(j)._2
      } yield s"sum(CAST($a * $b AS DECIMAL(30,4))) AS s_${a}_$b"
      def dd(c: String) = s"CAST($c AS DOUBLE)"
      def varOf(a: String) =
        s"(${dd("n")} * ${dd(s"s_${a}_$a")} - ${dd(s"s_$a")} * ${dd(s"s_$a")})"
      val cells = for {
        i <- names.indices; j <- (i + 1) until names.size
        a = names(i)._2; b = names(j)._2
      } yield s"SELECT '$a~$b' AS pair, " +
        s"round((${dd("n")} * ${dd(s"s_${a}_$b")} - " +
        s"${dd(s"s_$a")} * ${dd(s"s_$b")}) / " +
        s"sqrt(${varOf(a)} * ${varOf(b)}), 6) AS corr FROM m"
      s"""WITH b AS (SELECT $castCols FROM lineitem),
        |m AS (SELECT count(*) AS n, ${(sums ++ prods).mkString(", ")}
        |  FROM b)
        |SELECT pair, corr FROM (${cells.mkString(" UNION ALL ")})
        |ORDER BY pair""".stripMargin
    },

    // navigation-function journey matrix (Relational.q_window_nav):
    // full-partition frame, floor-epoch span, sum/count mean
    "q_window_nav" ->
      """WITH per0 AS (SELECT user_id,
        |    first_value(event_type) OVER w AS first_et,
        |    nth_value(event_type, 2) OVER w AS second_et,
        |    last_value(event_type) OVER w AS last_et,
        |    CAST(floor(epoch(max(ts) OVER w)) AS BIGINT)
        |      - CAST(floor(epoch(min(ts) OVER w)) AS BIGINT) AS span_s
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND UNBOUNDED FOLLOWING)),
        |per AS (SELECT DISTINCT user_id, first_et,
        |    coalesce(second_et, 'none') AS second_et, last_et, span_s
        |  FROM per0)
        |SELECT first_et, second_et, last_et,
        |  CAST(count(*) AS BIGINT) AS n_users,
        |  round(CAST(sum(span_s) AS DOUBLE)
        |    / CAST(count(*) AS DOUBLE), 4) AS avg_span_s
        |FROM per GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // exact sliding distinct users (Relational.q_sliding_uniques):
    // activity exploded onto the W windows it covers
    "q_sliding_uniques" -> {
      val w = operators.Relational.slidingHours
      s"""WITH act AS (SELECT DISTINCT user_id,
        |    CAST(epoch(date_trunc('hour', ts)) AS BIGINT) // 3600
        |      AS eh
        |  FROM events),
        |hours AS (SELECT DISTINCT eh FROM act),
        |cov AS (SELECT DISTINCT c.w, c.user_id FROM (
        |    SELECT user_id,
        |      unnest(generate_series(eh, eh + ${w - 1})) AS w
        |    FROM act) c JOIN hours h ON c.w = h.eh)
        |SELECT w AS window_eh, count(*) AS n_users
        |FROM cov GROUP BY 1 ORDER BY window_eh""".stripMargin
    },

    // funnel time-to-convert (Relational.q_funnel_time): at-or-after
    // predicate inside the LEFT JOIN so never-converting viewers stay
    "q_funnel_time" ->
      """WITH v AS (SELECT user_id,
        |    min(CAST(floor(epoch(ts)) AS BIGINT)) AS v_ts
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |p AS (SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS p_ts
        |  FROM events WHERE event_type = 'purchase'),
        |d AS (SELECT v.user_id, v.v_ts, min(p.p_ts) AS first_p
        |  FROM v LEFT JOIN p
        |    ON v.user_id = p.user_id AND p.p_ts >= v.v_ts
        |  GROUP BY 1, 2),
        |delays AS (SELECT user_id, first_p - v_ts AS delay_s FROM d)
        |SELECT count(*) AS n_viewers,
        |  count(delay_s) AS n_converted,
        |  round(CAST(sum(delay_s) AS DOUBLE)
        |    / CAST(count(delay_s) AS DOUBLE), 4) AS mean_delay_s,
        |  round(quantile_cont(delay_s, 0.5), 4) AS median_delay_s
        |FROM delays ORDER BY n_viewers""".stripMargin,

    // PII audit twin (TextOps.q_pii_scan) — SAME two patterns
    // q_redact replaces, interpolated from the shared constants
    "q_pii_scan" -> {
      val em = operators.TextOps.piiEmailRe
      val nm = operators.TextOps.piiNumRe
      s"""WITH p AS (SELECT source,
        |    CAST(len(regexp_extract_all(text, '$em')) AS BIGINT)
        |      AS n_email,
        |    CAST(len(regexp_extract_all(text, '$nm')) AS BIGINT)
        |      AS n_num
        |  FROM documents),
        |g AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(CASE WHEN n_email > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS docs_with_email,
        |    CAST(sum(CASE WHEN n_num > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS docs_with_number,
        |    CAST(sum(n_email) AS BIGINT) AS email_hits,
        |    CAST(sum(n_num) AS BIGINT) AS number_hits
        |  FROM p GROUP BY 1)
        |SELECT source, n_docs, docs_with_email, docs_with_number,
        |  email_hits, number_hits,
        |  round(CAST(docs_with_email AS DOUBLE)
        |    / CAST(n_docs AS DOUBLE) * 100, 4) AS pct_email,
        |  round(CAST(docs_with_number AS DOUBLE)
        |    / CAST(n_docs AS DOUBLE) * 100, 4) AS pct_number
        |FROM g ORDER BY source""".stripMargin
    },

    // equi-depth decile bands (Relational.q_decile_bands)
    "q_decile_bands" ->
      """WITH o AS (SELECT o_orderpriority, o_orderkey,
        |    CAST(o_totalprice AS DECIMAL(18,2)) AS p
        |  FROM orders),
        |b AS (SELECT o_orderpriority, p,
        |    CAST(ntile(10) OVER (PARTITION BY o_orderpriority
        |      ORDER BY p, o_orderkey) AS BIGINT) AS band
        |  FROM o)
        |SELECT o_orderpriority, band, count(*) AS n,
        |  round(CAST(min(p) AS DOUBLE), 2) AS lo,
        |  round(CAST(max(p) AS DOUBLE), 2) AS hi,
        |  round(CAST(sum(p) AS DOUBLE), 2) AS band_total
        |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // dedup-quality eval (TextOps.q_dedup_eval): LSH candidates vs
    // exact-Jaccard truth on the md5 panel; τ=1/2 as 3·inter ≥ na+nb
    "q_dedup_eval" -> {
      val hex = operators.TextOps.dedupEvalPanelHex
      s"""$shinglesCte,
        |ids AS (SELECT doc_id FROM documents
        |  WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '$hex'),
        |shs AS (SELECT sh.doc_id, sh.shingle FROM sh
        |  JOIN ids USING (doc_id)),
        |sizes AS (SELECT doc_id, count(*) AS n FROM shs GROUP BY 1),
        |tr AS (SELECT a.doc_id AS a_id, b.doc_id AS b_id,
        |    count(*) AS inter
        |  FROM shs a JOIN shs b
        |    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2),
        |truth AS (SELECT a_id, b_id FROM tr
        |  JOIN sizes sa ON a_id = sa.doc_id
        |  JOIN sizes sb ON b_id = sb.doc_id
        |  WHERE 3 * inter >= sa.n + sb.n),
        |sig AS (SELECT doc_id, $minhashLegs FROM sh GROUP BY doc_id),
        |bands AS (
        |  SELECT doc_id, 0 AS band, md5(concat(h0, h1)) AS bucket FROM sig
        |  UNION ALL SELECT doc_id, 1, md5(concat(h2, h3)) FROM sig
        |  UNION ALL SELECT doc_id, 2, md5(concat(h4, h5)) FROM sig
        |  UNION ALL SELECT doc_id, 3, md5(concat(h6, h7)) FROM sig),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
        |  FROM bands a JOIN bands b
        |    ON a.band = b.band AND a.bucket = b.bucket
        |      AND a.doc_id < b.doc_id
        |  JOIN ids ia ON a.doc_id = ia.doc_id
        |  JOIN ids ib ON b.doc_id = ib.doc_id),
        |j AS (SELECT
        |    CASE WHEN t.a_id IS NOT NULL THEN 1 ELSE 0 END AS t,
        |    CASE WHEN c.a_id IS NOT NULL THEN 1 ELSE 0 END AS c
        |  FROM truth t FULL OUTER JOIN cand c
        |    ON t.a_id = c.a_id AND t.b_id = c.b_id)
        |SELECT CAST(coalesce(sum(t), 0) AS BIGINT) AS n_truth,
        |  CAST(coalesce(sum(c), 0) AS BIGINT) AS n_cand,
        |  CAST(coalesce(sum(t * c), 0) AS BIGINT) AS tp,
        |  CAST(coalesce(sum(c * (1 - t)), 0) AS BIGINT) AS fp,
        |  CAST(coalesce(sum(t * (1 - c)), 0) AS BIGINT) AS fn,
        |  CASE WHEN coalesce(sum(c), 0) = 0 THEN 0.0
        |    ELSE round(CAST(sum(t * c) AS DOUBLE)
        |      / CAST(sum(c) AS DOUBLE), 4) END AS precision_tau,
        |  CASE WHEN coalesce(sum(t), 0) = 0 THEN 0.0
        |    ELSE round(CAST(sum(t * c) AS DOUBLE)
        |      / CAST(sum(t) AS DOUBLE), 4) END AS recall_tau
        |FROM j ORDER BY n_truth""".stripMargin
    },

    // MMR diversified top-k (VectorOps.q_mmr): the greedy selection
    // unrolled as generated pick_k CTEs — identical λ/β literals,
    // identical float op order, identical (mmr DESC, vec_id) argmax
    "q_mmr" -> {
      import operators.VectorOps._
      val lam = mmrLambda
      val beta = mmrBeta
      def selUnion(k: Int) = (1 until k)
        .map(i => s"SELECT qid, vec_id FROM pick$i")
        .mkString(" UNION ALL ")
      val steps = (2 to mmrK).map { k =>
        s"""mx$k AS (SELECT sm.qid, sm.b_id AS vec_id,
          |    max(sm.sim) AS mxsim
          |  FROM simmat sm JOIN (${selUnion(k)}) s
          |    ON sm.qid = s.qid AND sm.a_id = s.vec_id
          |  GROUP BY 1, 2),
          |pick$k AS MATERIALIZED (SELECT qid, vec_id, rel, step, mmr FROM (
          |  SELECT c.qid, c.vec_id, c.rel, CAST($k AS BIGINT) AS step,
          |    $lam * c.rel - $beta * m.mxsim AS mmr,
          |    row_number() OVER (PARTITION BY c.qid
          |      ORDER BY $lam * c.rel - $beta * m.mxsim DESC, c.vec_id)
          |      AS rn
          |  FROM cand c JOIN mx$k m
          |    ON c.qid = m.qid AND c.vec_id = m.vec_id
          |  WHERE NOT EXISTS (SELECT 1 FROM (${selUnion(k)}) s2
          |    WHERE s2.qid = c.qid AND s2.vec_id = c.vec_id))
          |  WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      val allPicks = (1 to mmrK)
        .map(i => s"SELECT * FROM pick$i").mkString(" UNION ALL ")
      s"""WITH qs AS (SELECT vec_id AS qid, embedding AS qe
        |  FROM embeddings WHERE vec_id < $mmrQueries),
        |cand AS MATERIALIZED (SELECT qid, vec_id, rel, embedding FROM (
        |  SELECT t.qid, t.vec_id, t.embedding,
        |    t.dp / (sqrt(t.na) * sqrt(t.nq)) AS rel,
        |    row_number() OVER (PARTITION BY t.qid
        |      ORDER BY t.dp / (sqrt(t.na) * sqrt(t.nq)) DESC, t.vec_id)
        |      AS rn
        |  FROM (SELECT q.qid, e.vec_id, e.embedding,
        |      ${dot("e.embedding", "q.qe")} AS dp,
        |      ${norm2("e.embedding")} AS na, ${norm2("q.qe")} AS nq
        |    FROM embeddings e, qs q
        |    WHERE e.vec_id >= $mmrQueries) t) WHERE rn <= $mmrCandidates),
        |simmat AS MATERIALIZED (SELECT a.qid, a.vec_id AS a_id, b.vec_id AS b_id,
        |    ${dot("a.embedding", "b.embedding")}
        |      / (sqrt(${norm2("a.embedding")})
        |        * sqrt(${norm2("b.embedding")})) AS sim
        |  FROM cand a JOIN cand b
        |    ON a.qid = b.qid AND a.vec_id <> b.vec_id),
        |pick1 AS MATERIALIZED (SELECT qid, vec_id, rel, CAST(1 AS BIGINT) AS step,
        |    rel AS mmr FROM (
        |  SELECT qid, vec_id, rel,
        |    row_number() OVER (PARTITION BY qid
        |      ORDER BY rel DESC, vec_id) AS rn
        |  FROM cand) WHERE rn = 1),
        |$steps
        |SELECT qid, step, vec_id, round(rel, 6) AS rel,
        |  round(mmr, 6) AS mmr
        |FROM ($allPicks) ORDER BY qid, step""".stripMargin
    }
  )
}
