package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.Scalars
import graft.sinks.LwwSink

/** Core relational operator surface (SURVEY §2.1–§2.10, declared
  * queries). Each def is one `SparkEntry.queries` contract key.
  *
  * Determinism rules (SURVEY §2.12) applied throughout:
  *  - every query ends with an ORDER BY whose key set makes the full
  *    row sequence deterministic;
  *  - doubles are cast to DECIMAL before any aggregation (exact,
  *    order-independent) and only then optionally widened back;
  *  - nullable output columns are coalesced to sentinels so Spark's
  *    NULLS FIRST vs DuckDB's NULLS LAST sort default cannot diverge.
  *
  * Scale posture (100 TB): only genuinely small dimension tables
  * (region: 5 rows, nation: 25 rows) are broadcast; fact-fact joins
  * stay shuffle joins keyed on the join column so AQE can pick
  * SMJ/shuffled-hash and split skew. No collect() anywhere.
  */
object Relational {
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** Exact, order-independent sum of a double column: cast each value
    * to DECIMAL(18,2) first (SURVEY §2.12 rule 2). The exact decimal
    * sum is then widened back to a rounded DOUBLE for the *final*
    * projection — the driver's hash canonicalizes DOUBLE identically
    * across Spark parquet and DuckDB but not DECIMAL (CORRECTNESS_r01:
    * every DECIMAL-emitting query was value-correct yet hash-red;
    * every rounded-DOUBLE one was green). Exactness is preserved:
    * the sum itself is still decimal, only the output representation
    * changes. Magnitude bound of that representation: a double holds
    * cents exactly up to 2^53/100 ≈ 9e13 — beyond that the EMITTED
    * value rounds to the nearest representable double (identically in
    * both engines, so parity is unaffected); a consumer needing exact
    * trillion-scale cents should read the decimal aggregate, not this
    * display projection.
    */
  private def dsum2(c: org.apache.spark.sql.Column) =
    round(sum(c.cast("decimal(18,2)")).cast("double"), 2)

  // ── §2.1/§2.2 scans, projection, predicates ────────────────────────

  /** P1/S8: projection narrows the parquet ReadSchema to 4 of 11 cols
    * (reference's fixed column descriptor list, config.py:13-22).
    */
  def q_scan_project(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")
      // (l_orderkey, l_linenumber) is NOT unique in the testdata —
      // sort covers every output column for a deterministic sequence
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_extendedprice")

  /** P2: equality predicate, pushed to the parquet scan (the
    * reference pushes HTSUSCode server-side,
    * clients/exclusion_requests.py:81-82).
    */
  def q_filter_eq(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity")

  /** P3/P4: non-empty + de-noise predicates
    * (clients/exclusion_requests.py:158,161-164).
    */
  def q_filter_nonempty(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(length(trim(col("text"))) > 0 && col("source") =!= "src0")
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")

  /** P6: range + IN predicates (the reference's Min/Max
    * Thickness/Diameter GSIs exist to serve exactly these,
    * __main__.py:39-43). Both reach PushedFilters.
    */
  def q_filter_range(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_quantity").between(10, 20) && col("l_linenumber").isin(1, 2, 3))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount")

  // ── §2.6 sort / limit / top-k ──────────────────────────────────────

  /** O1+O2: orderBy desc + limit ⇒ Catalyst plans TakeOrderedAndProject
    * (a distributed top-k, no global sort — the plan that survives
    * 100×: each partition keeps k rows, driver merges k·p rows).
    */
  def q_topk_desc(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(100)

  /** O3: OFFSET — page 2 of the same top-k (the reference's
    * DataTables `start` parameter, /root/reference/config.py:27).
    * offset+limit after a sort still plans a bounded top-(n+k)
    * collect, not a global sort.
    */
  def q_topk_offset(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .offset(50)
      .limit(50)

  // ── §2.4 aggregations ──────────────────────────────────────────────

  /** A1: per-group count (the reference's len(summaries) per HTS code,
    * __main__.py:55). Partial aggregation map-side, then one shuffle
    * on the (low-cardinality) group key.
    */
  def q_groupby_count(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"))
      .orderBy("l_returnflag", "l_linestatus")

  /** A3: hash agg with sum/min/max/avg. Sums are decimal-exact; avg is
    * derived deterministically as exact-sum / count (double division
    * of exact operands — no fold-order drift).
    */
  def q_agg_sum(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum2(col("l_quantity")).as("sum_qty"),
        dsum2(col("l_extendedprice")).as("sum_price"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"),
        count(lit(1)).as("cnt"))
      .withColumn("avg_qty", round(col("sum_qty").cast("double") / col("cnt"), 4))
      .orderBy("l_returnflag", "l_linestatus")

  /** A4 (exact): COUNT(DISTINCT) — Catalyst expands to a two-phase
    * partial-distinct aggregate; the approx variant is
    * q_agg_approx_distinct (not oracle-declared).
    */
  def q_agg_distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        countDistinct(col("l_partkey")).as("nd_part"),
        countDistinct(col("l_suppkey")).as("nd_supp"),
        count(lit(1)).as("cnt"))
      .orderBy("l_returnflag")

  /** A4 (approx): HyperLogLog++ sketch — the 100 TB path where exact
    * distinct would shuffle every key. No DuckDB twin (different
    * sketch) ⇒ rows-only check (SURVEY §2.12 rule on omission).
    */
  def q_agg_approx_distinct(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("apx_part"))
      .orderBy("l_returnflag")

  /** A3 extension: arg-extrema — which row attains the group's
    * extreme, not just the extreme value (the "top event per type"
    * lookup an N-row window rank would over-solve). Single hash
    * aggregate, no window, no join. TIE-ROBUST: the ordering value is
    * the (value, event_id) struct — lexicographic struct min/max is a
    * plain hash aggregate in both engines and breaks value ties by
    * event_id deterministically (max side keeps the largest tied id,
    * min side the smallest), so the query carries no tie-uniqueness
    * precondition. (Round-5 scale validation caught the old max_by
    * formulation diverging between engines on the replicated sf1.0
    * fixture, where every value is tied 10 ways.)
    */
  def q_agg_argminmax(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy("event_type")
      .agg(
        max(struct(col("value"), col("event_id")))
          .getField("event_id").as("max_event"),
        min(struct(col("value"), col("event_id")))
          .getField("event_id").as("min_event"),
        round(max(col("value")), 4).as("max_value"),
        round(min(col("value")), 4).as("min_value"),
        count(lit(1)).as("cnt"))
      .orderBy("event_type")

  /** A3 extension: bivariate statistics — correlation, sample
    * covariance, and the regression slope of price on quantity, each
    * derived from EXACT decimal co-moments (n, Σx, Σy, Σxy, Σx², Σy²)
    * rather than the built-in corr/covar_samp: the streaming
    * co-moment aggregates merge in partition order, so their low bits
    * vary with partitioning — the same reason q_agg_stats derives
    * stddev from exact moments. Each moment is cast to double ONCE
    * (decimal → nearest double, identical in both engines), then the
    * closed forms are identical double expressions. One hash
    * aggregate; moments are map-side combinable at any scale.
    */
  def q_agg_corr(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(18,2)")
    val y = col("l_extendedprice").cast("decimal(18,2)")
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val covNum = n * d("sxy") - d("sx") * d("sy")
    val varX = n * d("sxx") - d("sx") * d("sx")
    val varY = n * d("syy") - d("sy") * d("sy")
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"),
        sum(x).as("sx"), sum(y).as("sy"),
        sum(x * y).as("sxy"), sum(x * x).as("sxx"), sum(y * y).as("syy"))
      .select(col("l_returnflag"), col("n"),
        round(covNum / sqrt(varX * varY), 4).as("corr_qp"),
        round(covNum / (n * (n - 1)), 2).as("covar_qp"),
        round(covNum / varX, 6).as("slope_pq"))
      .orderBy("l_returnflag")
  }

  /** A3 extension: variance/stddev derived from decimal-exact sum and
    * sum-of-squares (sqrt((Σx² − (Σx)²/n)/(n−1)) over exact operands)
    * — deterministic in any engine, unlike streaming Welford whose
    * fold order varies with partitioning.
    */
  def q_agg_stats(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity").cast("decimal(18,2)")
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        sum(x).cast("double").as("s1"),
        sum((x * x).cast("decimal(28,4)")).cast("double").as("s2"),
        count(lit(1)).as("n"))
      .select(
        col("l_returnflag"), col("n"),
        round((col("s2") - col("s1") * col("s1") / col("n"))
          / (col("n") - 1), 4).as("var_qty"),
        round(sqrt((col("s2") - col("s1") * col("s1") / col("n"))
          / (col("n") - 1)), 4).as("std_qty"))
      .orderBy("l_returnflag")
  }

  /** A3 extension: interpolated quantiles — Spark's exact percentile()
    * and DuckDB's quantile_cont share the (n−1)·q interpolation rule.
    * ONE array-percentile aggregate, not three scalar ones: each
    * percentile() call keeps its own per-group value-count buffer, so
    * the scalar form triples the aggregation state and the shuffle
    * payload for identical output (the bench showed it as the suite's
    * slowest query once full evaluation was measured).
    */
  def q_agg_quantile(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(expr("percentile(l_extendedprice, array(0.25, 0.5, 0.75))")
        .as("ps"))
      .select(col("l_returnflag"),
        round(element_at(col("ps"), 1), 2).as("p25"),
        round(element_at(col("ps"), 2), 2).as("p50"),
        round(element_at(col("ps"), 3), 2).as("p75"))
      .orderBy("l_returnflag")

  /** EXACT grouped quantiles at scale — q_agg_quantile's results from
    * a rank-selection plan instead of Spark's `percentile` aggregate.
    * `percentile` buffers every (value, count) per group in the
    * aggregation buffer: memory ∝ distinct values per group, which on
    * a 100 TB fact table with 3 groups is an executor OOM, and the
    * documented dodge (approx_percentile) surrenders exactness. Rank
    * selection keeps it exact with bounded memory: [[ScalableRank]]
    * ranks the values (one range shuffle, group-count-independent
    * parallelism), a 3-row total frame turns each requested quantile
    * into its two bracketing ranks ((n−1)·q is exact in IEEE for
    * dyadic q), a broadcast semi-join plucks those ~18 rows, and the
    * weighted (1−d)·lo + d·hi interpolation — the exact arithmetic
    * `percentile`/`quantile_cont` define, so the DuckDB twin is
    * VERBATIM q_agg_quantile's oracle: two independent plans, one
    * contract, both hash-gated.
    *
    * Measured trade (BENCH_SCALE r5b): at sf10 the aggregate wins
    * wall-clock (5.7 s vs 15.3 s) because per-group distinct values
    * still fit its buffer and it shuffles only partial maps, while
    * this plan range-shuffles every row. The rank plan is the
    * exactness-preserving path once the value-distinct count per
    * group exceeds executor memory — pick by data shape, the
    * contract is identical either way.
    */
  def q_quantile_scalable(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem").select(col("l_returnflag").as("g"),
      col("l_extendedprice").cast("double").as("v"),
      col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
      col("l_suppkey"))
    val np = graft.Session.shufflePartitions(s)
    // ties in v are harmless: order statistics are tie-order invariant
    val ranked = ScalableRank.withRank(li, np, "g",
      Seq("v", "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"),
      "rk")
    val totals = ranked.groupBy("g").agg(count(lit(1)).as("n"))
    val idx = (col("n") - 1).cast("double") * col("q") // exact: dyadic q
    val targets = totals
      .select(col("g"), col("n"),
        posexplode(array(lit(0.25), lit(0.5), lit(0.75)))
          .as(Seq("qi", "q")))
      .select(col("g"), col("qi"),
        floor(idx).cast("long").as("lo0"),
        (idx - floor(idx)).as("frac"), col("n"))
    val want = targets.select(col("g"), col("qi"), col("frac"),
        (col("lo0") + 1).as("rk"), lit(true).as("isLo"))
      .union(targets.select(col("g"), col("qi"), col("frac"),
        least(col("lo0") + 2, col("n")).as("rk"), lit(false).as("isLo")))
    val picked = ranked.join(broadcast(want), Seq("g", "rk"))
      .groupBy("g", "qi")
      .agg(max(when(col("isLo"), col("v"))).as("vlo"),
        max(when(!col("isLo"), col("v"))).as("vhi"),
        first(col("frac")).as("frac"))
      .select(col("g"), col("qi"),
        // vhi is NULL when both bracketing ranks coincide (frac = 0,
        // single-row group): coalesce to vlo. Interpolation is the
        // WEIGHTED form (1−d)·lo + d·hi — Spark's Percentile and
        // DuckDB's quantile_cont both compute this shape, and it
        // differs from lo + d·(hi−lo) by an ulp (observed as a
        // last-cent mismatch on the R group)
        round((lit(1.0) - col("frac")) * col("vlo") + col("frac")
          * coalesce(col("vhi"), col("vlo")), 2).as("p"))
    picked.groupBy(col("g").as("l_returnflag"))
      .agg(max(when(col("qi") === 0, col("p"))).as("p25"),
        max(when(col("qi") === 1, col("p"))).as("p50"),
        max(when(col("qi") === 2, col("p"))).as("p75"))
      .orderBy("l_returnflag")
  }

  /** A5 completion: explicit GROUPING SETS — exactly the two
    * single-key subtotal sets, which neither rollup (adds the grand
    * total + hierarchy) nor cube (adds the full cross) expresses.
    * SQL form because the Dataset API has no grouping-sets verb; one
    * Expand + one hash aggregate, same engine shape as rollup/cube.
    * Subtotal markers via grouping(), same null-safety as q_agg_cube.
    */
  def q_grouping_sets(s: SparkSession, dir: String): DataFrame = {
    // dir-scoped view name: a fixed name would race under concurrent
    // construction against different data dirs (shared session state)
    val view = s"orders_gs_${Integer.toHexString(dir.hashCode)}"
    t(s, dir, "orders").createOrReplaceTempView(view)
    s.sql(s"""SELECT
      |  CASE WHEN grouping(o_orderstatus) = 1 THEN 'ALL'
      |       ELSE coalesce(o_orderstatus, 'NULL') END AS status,
      |  CASE WHEN grouping(o_orderpriority) = 1 THEN 'ALL'
      |       ELSE coalesce(o_orderpriority, 'NULL') END AS priority,
      |  count(*) AS cnt,
      |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE), 2)
      |    AS rev
      |FROM $view
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))
      |ORDER BY status, priority""".stripMargin)
  }

  /** A-family extension: equi-width histogram — floor-bucket the
    * value then one hash aggregate; the profiling shape for value
    * distributions at scale (no sort, no window; bucket count is
    * data-independent). Both engines evaluate floor(double/width)
    * identically.
    */
  def q_histogram(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .groupBy(floor(col("o_totalprice") / 50000).cast("long").as("bucket"))
      .agg(count(lit(1)).as("cnt"),
        round(min(col("o_totalprice")).cast("double"), 2).as("lo"),
        round(max(col("o_totalprice")).cast("double"), 2).as("hi"))
      .orderBy("bucket")

  /** A3 scale path: approx_percentile (KLL-style sketch) — constant-
    * size partial aggregates where exact percentile buffers every
    * value per group (q_agg_quantile's collect-and-interpolate shape
    * cannot stream 100 TB through an executor). Engine-specific
    * sketch ⇒ rows-only check, same declaration rule as
    * q_agg_approx_distinct.
    */
  def q_agg_quantile_approx(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .groupBy("l_returnflag")
      .agg(
        round(expr("approx_percentile(l_extendedprice, 0.25, 1000)"), 2).as("p25"),
        round(expr("approx_percentile(l_extendedprice, 0.5, 1000)"), 2).as("p50"),
        round(expr("approx_percentile(l_extendedprice, 0.75, 1000)"), 2).as("p75"))
      .orderBy("l_returnflag")

  /** F9 extension: calendar part extraction (year/month/day/hour —
    * identical numbering in Spark and DuckDB; dayofweek is NOT and is
    * deliberately excluded).
    */
  def q_time_parts(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        col("event_id"),
        year(col("ts")).cast("long").as("y"),
        month(col("ts")).cast("long").as("m"),
        dayofmonth(col("ts")).cast("long").as("d"),
        hour(col("ts")).cast("long").as("h"))
      .orderBy("event_id")

  /** A5 extension: pivot — expressed as conditional aggregation
    * (engine-portable; Spark's pivot() compiles to the same plan
    * for a known value list).
    */
  def q_pivot(s: SparkSession, dir: String): DataFrame = {
    def cnt(status: String) =
      count(when(col("o_orderstatus") === status, 1)).as(s"n_$status")
    def rev(status: String) =
      round(sum(when(col("o_orderstatus") === status,
        col("o_totalprice").cast("decimal(18,2)"))).cast("double"), 2)
        .as(s"rev_$status")
    t(s, dir, "orders")
      .groupBy("o_orderpriority")
      .agg(cnt("F"), cnt("O"), cnt("P"), rev("F"), rev("O"), rev("P"))
      .orderBy("o_orderpriority")
  }

  /** Subtotal-row marker for rollup/cube output keys: 'ALL' only
    * where grouping() said the key was rolled away (carried out of
    * the Aggregate as g_<col> — Spark only allows grouping() inside
    * the agg projection), 'NULL' for a GENUINE null key value. A bare
    * coalesce(key, 'ALL') would conflate the two on nullable keys —
    * safe on TPC-H, unsafe as a pattern; DuckDB supports GROUPING()
    * too, so parity holds.
    */
  private def gkey(c: String, flag: String, out: String) =
    when(col(flag) === 1, lit("ALL"))
      .otherwise(coalesce(col(c), lit("NULL"))).as(out)

  /** A5: rollup (subtotal markers via grouping(), engine-independent
    * sort order).
    */
  def q_agg_rollup(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), dsum2(col("l_quantity")).as("sum_qty"),
        grouping(col("l_returnflag")).as("g_rf"),
        grouping(col("l_linestatus")).as("g_ls"))
      .select(
        gkey("l_returnflag", "g_rf", "returnflag"),
        gkey("l_linestatus", "g_ls", "linestatus"),
        col("cnt"), col("sum_qty"))
      .orderBy("returnflag", "linestatus")

  /** A5: cube — all four grouping-set combinations, subtotal markers
    * via grouping() (same determinism + null-safety as rollup).
    */
  def q_agg_cube(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "orders")
      .cube("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double"), 2)
          .as("rev"),
        grouping(col("o_orderstatus")).as("g_st"),
        grouping(col("o_orderpriority")).as("g_pr"))
      .select(
        gkey("o_orderstatus", "g_st", "status"),
        gkey("o_orderpriority", "g_pr", "priority"),
        col("cnt"), col("rev"))
      .orderBy("status", "priority")

  // ── §2.3 joins ─────────────────────────────────────────────────────

  /** J1: enrichment equi-join (summary ⋈ detail by id,
    * __main__.py:56-57). Shuffle join on the key — both sides are
    * fact-sized at scale; AQE picks the physical strategy.
    */
  def q_join_enrich(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders").filter(col("o_orderstatus") === "F")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .select("l_orderkey", "l_linenumber", "o_custkey", "o_orderdate", "l_extendedprice")
      .orderBy("l_orderkey", "l_linenumber", "l_extendedprice")
  }

  /** J2: left-outer merge (detail ± optional summary,
    * clients/exclusion_requests.py:97-99); null sides coalesced to
    * sentinels per §2.12.
    */
  def q_join_left(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
      .select(
        col("c_custkey"),
        coalesce(col("o_orderkey"), lit(-1L)).as("o_orderkey"),
        coalesce(col("o_orderstatus"), lit("NONE")).as("o_orderstatus"))
      .orderBy("c_custkey", "o_orderkey")
  }

  /** J3/J4: multi-way star join. nation (25 rows) and region (5 rows)
    * are broadcast — the only sides that stay broadcastable at 100 TB;
    * lineitem⋈orders⋈customer remain shuffle joins on their keys.
    */
  def q_join_multi(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val n = t(s, dir, "nation")
    val r = t(s, dir, "region")
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(count(lit(1)).as("cnt"), dsum2(col("l_extendedprice")).as("revenue"))
      .orderBy("r_name", "n_name")
  }

  /** J4 (full star): every fixture dimension in one query —
    * lineitem ⋈ part ⋈ supplier with broadcast hints on the true
    * dimension tables (supplier: 10·sf rows; part: 200·sf rows —
    * both stay broadcastable at cluster scale, unlike orders or
    * customer).
    */
  def q_join_star(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
    val p = t(s, dir, "part")
    val su = t(s, dir, "supplier")
    li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
      .join(broadcast(su), li("l_suppkey") === su("s_suppkey"))
      .groupBy("p_brand", "s_name")
      .agg(count(lit(1)).as("cnt"),
        dsum2(col("l_extendedprice")).as("revenue"),
        min(col("p_retailprice")).as("min_retail"))
      .orderBy("p_brand", "s_name")
  }

  /** J6 (range/interval join): for each error event, count the same
    * user's purchases in the preceding hour. Naively this is a
    * non-equi join (BroadcastNestedLoop at scale = death); here it is
    * composed as an EQUI-join on (user_id, hour-bucket): each
    * purchase claims its own bucket and the next one (the only two
    * buckets whose errors can look back at it), the join runs on the
    * bucket key, and the exact range predicate is a residual filter.
    * Shuffle cost = one equi-join at 2× the purchase rows — the plan
    * that survives 100 TB, vs. the quadratic per-user nested loop.
    * The oracle states the same semantics as a plain range join.
    */
  def q_join_range(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts").as("e_ts"),
        floor(col("ts").cast("long") / 3600).as("bucket"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts").as("p_ts"),
        explode(array(
          floor(col("ts").cast("long") / 3600),
          floor(col("ts").cast("long") / 3600) + 1)).as("bucket"))
    errors.join(purchases, Seq("user_id", "bucket"), "left_outer")
      .withColumn("hit",
        when(col("p_ts").isNotNull &&
          col("p_ts") <= col("e_ts") &&
          col("p_ts") >= col("e_ts") - expr("INTERVAL 1 HOUR"), 1L)
          .otherwise(0L))
      .groupBy("event_id")
      .agg(sum(col("hit")).as("n_recent_purchases"))
      .orderBy("event_id")
  }

  /** J6 through the OPTIMIZER-RULE path: the range join written
    * NAIVELY — a declarative BETWEEN predicate with no hand-bucketing
    * — counting events inside each of the 20 busiest hour windows.
    * The session registers [[graft.plans.RangeJoinRule]] (the
    * production form is `spark.sql.extensions=graft.GraftExtensions`;
    * `experimental.extraOptimizations` is the documented equivalent
    * for an already-built session) and sets the 3600-unit bucket
    * width, so Catalyst itself rewrites the nested-loop shape into
    * the bucketed equi-join q_join_range builds by hand — PlanSpec
    * asserts no BroadcastNestedLoopJoin survives in THIS query's
    * physical plan. The oracle is the same naive SQL: the rewrite
    * must be invisible in the values.
    *
    * The rule + width conf live on an ISOLATED child session
    * (`cloneSession()` via the sql shim: own SessionState/conf/
    * experimental, shared SparkContext and cache), NOT the caller's:
    * a session-global registration would silently rewrite every
    * later Long-bounded inner join in the session, and a user
    * interval much wider than the 3600 width would explode
    * `sequence()` per build row in an unrelated query. Clone — not
    * `newSession()` — and clone PER CALL: a new session starts from
    * SparkConf defaults and a memoized child freezes them, so
    * harness runtime conf (shuffle partitions, cache mode, AQE
    * toggles) would silently stop applying to this one query; the
    * clone inherits the caller's runtime conf at call time and is
    * GC'd with the returned frame.
    */
  def q_join_range_auto(s0: SparkSession, dir: String): DataFrame = {
    val s = org.apache.spark.sql.GraftSqlShim.cloneSession(s0)
    s.experimental.extraOptimizations =
      s.experimental.extraOptimizations :+ graft.plans.RangeJoinRule
    s.conf.set(graft.plans.RangeJoinRule.widthKey, "3600")
    val evs = t(s, dir, "events").select(col("ts").cast("long").as("ts_s"))
    val hot = t(s, dir, "events")
      .groupBy((col("ts").cast("long")
        - pmod(col("ts").cast("long"), lit(3600L))).as("win_start_s"))
      .agg(count(lit(1)).as("n_in_hour"))
      .orderBy(col("n_in_hour").desc, col("win_start_s"))
      .limit(20)
      .select(col("win_start_s"),
        (col("win_start_s") + 3599L).as("win_end_s"))
    evs.join(hot, col("ts_s") >= col("win_start_s") &&
        col("ts_s") <= col("win_end_s"))
      .groupBy("win_start_s")
      .agg(count(lit(1)).as("n_events"))
      .orderBy("win_start_s")
  }

  /** Skew-salted join on the DECLARED surface: the big side's rows
    * scatter over `salts` deterministic sub-keys (xxhash64 of the
    * row), the small side replicates once per salt, and the join runs
    * on (key, salt) — the standard hot-key defusal when one join key
    * holds a double-digit share of a 100 TB shuffle and AQE's skew
    * split can't help (it only splits SORT-MERGE partitions, not a
    * hash-aggregated hot key's downstream group). Salting is
    * semantics-preserving, which is exactly what the oracle proves:
    * the DuckDB twin is the PLAIN join + aggregate, so any row lost
    * or duplicated by the salt plumbing is a hash mismatch. Per-brand
    * rollup keeps the output compact and the aggregate exercises the
    * post-join re-merge of scattered keys.
    */
  def q_join_salted(s: SparkSession, dir: String): DataFrame = {
    val li = t(s, dir, "lineitem")
      .select(col("l_partkey"), col("l_extendedprice"))
    val p = t(s, dir, "part")
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    SkewUtils.saltedJoin(li, p, "l_partkey", salts = 4)
      .groupBy("p_brand")
      .agg(count(lit(1)).as("n_items"),
        dsum2(col("l_extendedprice")).as("revenue"))
      .orderBy("p_brand")
  }

  /** J5: anti join — the integrity check the reference wished for
    * (TODO at clients/exclusion_requests.py:89).
    */
  def q_join_anti(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")
  }

  /** J5: semi join (EXISTS). */
  def q_join_semi(s: SparkSession, dir: String): DataFrame = {
    val c = t(s, dir, "customer")
    val o = t(s, dir, "orders").filter(col("o_totalprice") > 100000.0)
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select("c_custkey", "c_nationkey")
      .orderBy("c_custkey")
  }

  // ── J8: subquery forms (Catalyst decorrelation) ────────────────────

  /** J8a: correlated SCALAR subquery — the TPC-H Q17 shape: lineitems
    * whose quantity is under 1/5 of their part's total ordered
    * quantity. Declared through the `spark.sql` entry so the plan is
    * Catalyst's actual DECORRELATION rewrite (the per-row correlated
    * aggregate becomes one grouped aggregate + equi-join — PlanSpec
    * asserts the join and that no per-row subquery survives), not a
    * hand-written join. Exactness: l_quantity is integral (1..50), so
    * `l_quantity * 5 < sum(l_quantity)` is an exact double compare in
    * both engines (sums ≤ 3e6 ≪ 2^53); revenue follows the
    * DECIMAL(18,4) sum discipline.
    *
    * Scale shape: the decorrelated aggregate is one partial-combining
    * pass over lineitem keyed on l_partkey, joined back on the same
    * key — the self-join co-partitions, no row-at-a-time subquery
    * execution at any scale.
    */
  def q_subquery_scalar(s: SparkSession, dir: String): DataFrame = {
    val view = s"li_sq_${Integer.toHexString(dir.hashCode)}"
    t(s, dir, "lineitem").createOrReplaceTempView(view)
    s.sql(s"""SELECT l.l_returnflag AS rflag, count(*) AS n_small,
      |  round(CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 4)
      |    AS rev
      |FROM $view l
      |WHERE l.l_quantity * 5 < (SELECT sum(l2.l_quantity) FROM $view l2
      |                          WHERE l2.l_partkey = l.l_partkey)
      |GROUP BY l.l_returnflag ORDER BY rflag""".stripMargin)
  }

  /** The single-scan rewrite of [[q_subquery_scalar]] — same answer,
    * same oracle, half the lineitem work. Catalyst decorrelates the
    * correlated scalar subquery into a grouped aggregate + self-join:
    * TWO lineitem scans and TWO shuffles on l_partkey (plus the
    * join's sorts), measured 12.1×/decade into sf100 (173 s). The
    * per-partkey total is a partition-wide WINDOW over one scan —
    * `sum(l_quantity) over (partition by l_partkey)` — so the plan
    * becomes one scan + ONE exchange + one partition sort, then the
    * same filter and final aggregate. The q_snapshot_diff discipline
    * (derive the threshold and consume it in one keyed pass instead
    * of joining the table to its own aggregate); a grouped
    * conditional aggregate alone cannot express this one because the
    * threshold is only known after the group closes, which is exactly
    * what the window frame provides.
    *
    * Exactness: identical arithmetic to the SQL form — l_quantity is
    * integral so `l_quantity * 5 < tot` is exact, revenue follows the
    * DECIMAL(18,4) sum discipline. Oracle: q_subquery_scalar's
    * correlated SQL verbatim (DuckDB decorrelates its own way; the
    * semantics must agree).
    */
  def q_subquery_scalar_1scan(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("l_partkey")
    t(s, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"),
        col("l_extendedprice"), col("l_partkey"))
      .withColumn("tot", sum(col("l_quantity")).over(w))
      .filter(col("l_quantity") * 5 < col("tot"))
      .groupBy(col("l_returnflag").as("rflag"))
      .agg(count(lit(1)).as("n_small"),
        round(sum(col("l_extendedprice").cast("decimal(18,4)"))
          .cast("double"), 4).as("rev"))
      .orderBy("rflag")
  }

  /** J8b: EXISTS + NOT EXISTS — customers with at least one urgent
    * order and no finished one, profiled per segment. Catalyst
    * decorrelates the pair into one left-semi and one left-anti join
    * (PlanSpec-asserted); the account-balance sum follows the
    * DECIMAL(18,4) discipline.
    */
  def q_subquery_exists(s: SparkSession, dir: String): DataFrame = {
    val cv = s"cust_sq_${Integer.toHexString(dir.hashCode)}"
    val ov = s"ord_sq_${Integer.toHexString(dir.hashCode)}"
    t(s, dir, "customer").createOrReplaceTempView(cv)
    t(s, dir, "orders").createOrReplaceTempView(ov)
    s.sql(s"""SELECT c.c_mktsegment AS segment, count(*) AS n_customers,
      |  round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 4)
      |    AS bal
      |FROM $cv c
      |WHERE EXISTS (SELECT 1 FROM $ov o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_orderpriority = '1-URGENT')
      |  AND NOT EXISTS (SELECT 1 FROM $ov o2
      |                  WHERE o2.o_custkey = c.c_custkey
      |                    AND o2.o_orderstatus = 'F')
      |GROUP BY c.c_mktsegment ORDER BY segment""".stripMargin)
  }

  /** J8c: IN + NOT IN subqueries — parts with a returned lineitem but
    * never ordered near the quantity cap. `l_partkey` is non-null, so
    * NOT IN's three-valued-logic trap (one NULL empties the result)
    * cannot fire and both engines agree; Catalyst plans semi + anti
    * joins like the EXISTS pair.
    */
  def q_subquery_in(s: SparkSession, dir: String): DataFrame = {
    val pv = s"part_sq_${Integer.toHexString(dir.hashCode)}"
    val lv = s"li_sq_${Integer.toHexString(dir.hashCode)}"
    t(s, dir, "part").createOrReplaceTempView(pv)
    t(s, dir, "lineitem").createOrReplaceTempView(lv)
    s.sql(s"""SELECT p.p_brand AS brand, count(*) AS n_parts
      |FROM $pv p
      |WHERE p.p_partkey IN (SELECT l_partkey FROM $lv
      |                      WHERE l_returnflag = 'R')
      |  AND p.p_partkey NOT IN (SELECT l_partkey FROM $lv
      |                          WHERE l_quantity >= 49)
      |GROUP BY p.p_brand ORDER BY brand""".stripMargin)
  }

  /** J8d: LATERAL (correlated inline) subquery with ORDER BY + LIMIT —
    * each customer's two most expensive orders, profiled per segment.
    * Catalyst decorrelates the per-row top-n into a ranking window
    * over one equi-join (no per-customer re-execution); the tie-break
    * on o_orderkey makes the top-2 set deterministic in both engines.
    * Customers without orders drop out (comma-LATERAL is CROSS
    * APPLY / inner semantics in Spark and DuckDB alike).
    */
  def q_lateral_topn(s: SparkSession, dir: String): DataFrame = {
    val cv = s"cust_lat_${Integer.toHexString(dir.hashCode)}"
    val ov = s"ord_lat_${Integer.toHexString(dir.hashCode)}"
    t(s, dir, "customer").createOrReplaceTempView(cv)
    t(s, dir, "orders").createOrReplaceTempView(ov)
    s.sql(s"""SELECT c.c_mktsegment AS segment, count(*) AS n_top_orders,
      |  round(CAST(sum(CAST(t.o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 4)
      |    AS top2_rev
      |FROM $cv c, LATERAL (
      |  SELECT o_totalprice FROM $ov o
      |  WHERE o.o_custkey = c.c_custkey
      |  ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
      |GROUP BY c.c_mktsegment ORDER BY segment""".stripMargin)
  }

  /** W-family extension: RECURSIVE CTE rollforward — month-over-month
    * decayed balance (balanceₘ = ⌊99·balanceₘ₋₁/100⌋ + revₘ in exact
    * integer cents). The stepwise integer floor-division makes this
    * genuinely recursive — no closed-form window sum reproduces the
    * per-step truncation — and the recursion is LINEAR (one row per
    * step, months-bounded), the shape Spark's UNION ALL-only
    * recursive CTE executes safely: each iteration joins the 1-row
    * frontier to the month spine, never fanning out. Cents come from
    * the DECIMAL(18,2) cast discipline; DuckDB's twin uses `//` for
    * the same floor division (operands are nonnegative, so floor ≡
    * truncation in both engines).
    */
  def q_recursive_decay(s: SparkSession, dir: String): DataFrame = {
    // Spark re-plans every CTE referenced from the recursive step on
    // EVERY iteration — with the month spine inlined, each of the ~80
    // steps re-ran the full orders aggregate (33 s at sf0.1). The
    // spine is calendar-bounded (~80 rows no matter the SF), so
    // materialize it ONCE (eager checkpoint — the Pregel discipline)
    // and recurse over the materialized view: the corpus is scanned
    // exactly once, and each step joins a 1-row frontier to 80 rows.
    val ov = s"ord_rec_${Integer.toHexString(dir.hashCode)}"
    val iv = s"idx_rec_${Integer.toHexString(dir.hashCode)}"
    t(s, dir, "orders").createOrReplaceTempView(ov)
    // trailing-24-month replay window: the recursion depth (= Spark
    // jobs, ~0.1 s scheduling each) stays CONSTANT as data grows —
    // at any SF the corpus contributes one aggregate pass, the
    // recursion a fixed 24 steps
    // coalesce(1): the spine is ≤ 24 calendar rows, and every one of
    // the 24 recursion steps below joins the 1-row frontier against
    // it — materializing it as one partition makes each step a
    // single-task stage instead of shuffle.partitions near-empty
    // tasks (calendar-bounded at ANY corpus size, so this is not a
    // local-only constant)
    // r11: the recursive CTE executed one Spark job per step (24
    // driver-synced ~0.1 s jobs over a ≤24-row spine — 3.0 s of pure
    // scheduling at any SF). The recursion is linear over a
    // calendar-bounded array, so it now runs INSIDE one row: collect
    // the spine into a sorted array (array_sort on the (i, …) struct
    // makes the order partition-independent) and compute each month's
    // balance with the higher-order aggregate() — the SAME exact
    // integer steps, (acc·99) div 100 + rev, re-folded per prefix
    // (≤ 24² = 576 integer ops, one job). The corpus is still scanned
    // exactly once for the spine aggregate; only the step machinery
    // changed. The DuckDB twin keeps its recursive CTE — an
    // independent derivation of the same values, verified at sf0.01
    // and sf0.1.
    s.sql(
      s"""SELECT mon, rev_cents,
        |  CAST(row_number() OVER (ORDER BY mon) AS BIGINT) AS i
        |FROM (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS mon,
        |    CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT)
        |      AS rev_cents
        |  FROM $ov GROUP BY 1)
        |WHERE mon >= add_months(
        |  (SELECT CAST(date_trunc('month', max(o_orderdate)) AS DATE)
        |   FROM $ov), -23)""".stripMargin)
      .createOrReplaceTempView(iv)
    s.sql(s"""WITH arr AS (
      |  SELECT array_sort(collect_list(struct(i, mon, rev_cents))) AS a
      |  FROM $iv)
      |SELECT x.mon, x.rev_cents,
      |  aggregate(slice(a, 1, CAST(x.i AS INT)), CAST(0 AS BIGINT),
      |    (acc, e) -> (acc * 99) div 100 + e.rev_cents) AS balance_cents
      |FROM arr LATERAL VIEW explode(a) AS x
      |ORDER BY x.mon""".stripMargin)
  }

  // ── §2.7 set operations ────────────────────────────────────────────

  /** Set union (distinct). */
  def q_set_union(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .distinct()
      .orderBy("nationkey")

  /** Bag union (UNION ALL): no dedup shuffle at all — union is pure
    * partition concatenation, the zero-cost combinator at any scale.
    * Aggregated per key so the declared output is deterministic while
    * the multiplicity (the bag part) stays observable.
    */
  def q_set_union_all(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .union(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .groupBy("nationkey").agg(count(lit(1)).as("cnt"))
      .orderBy("nationkey")

  /** Bag difference (EXCEPT ALL): multiplicity-aware — a key
    * appearing m times left and n times right survives max(m−n, 0)
    * times. One shuffle on the key (Spark plans a single aggregate
    * with signed counts), aggregated per key for determinism.
    */
  def q_set_except_all(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .exceptAll(
        t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .groupBy("nationkey").agg(count(lit(1)).as("cnt"))
      .orderBy("nationkey")

  /** Bag intersection (INTERSECT ALL): min(m, n) copies per key. */
  def q_set_intersect_all(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersectAll(
        t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .groupBy("nationkey").agg(count(lit(1)).as("cnt"))
      .orderBy("nationkey")

  /** Set difference. */
  def q_set_except(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .except(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  /** Set intersection (distinct semantics in both engines). */
  def q_set_intersect(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
      .intersect(t(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
      .orderBy("nationkey")

  // ── §2.5 windows ───────────────────────────────────────────────────

  /** W1: last-write-wins dedup — the DynamoDB PUT-by-ID semantics
    * (__main__.py:11-23) through the engine's LWW reduce,
    * [[LwwSink.reduce]]: one shuffle on the dedup key, tie-broken by
    * event_id for determinism.
    */
  def q_window_dedup_lww(s: SparkSession, dir: String): DataFrame = {
    LwwSink.reduce(t(s, dir, "events"), Seq("user_id"), col("ts"), col("event_id"))
      .select("user_id", "event_id", "event_type", "value")
      .orderBy("user_id")
  }

  /** W2: ranking within partitions (rank + dense_rank agree on
    * deterministic double comparisons).
    */
  def q_window_rank(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority").orderBy(col("o_totalprice").desc)
    t(s, dir, "orders")
      .select(
        col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        rank().over(w).cast("long").as("rnk"),
        dense_rank().over(w).cast("long").as("drnk"))
      .filter(col("rnk") <= 10)
      .orderBy(col("o_orderpriority"), col("rnk"), col("o_orderkey"))
  }

  /** W2 extension: ntile quartiles — identical bucket-boundary rule
    * ((i·n)/k split) in Spark and DuckDB when the window order is
    * unique (totalprice desc, orderkey).
    */
  def q_window_ntile(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_orderpriority")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy("o_orderpriority", "o_orderkey")
  }

  /** W2: distribution analytics — percent_rank + cume_dist + lag/lead
    * neighbors over each market segment. The window order is the
    * unique composite (c_acctbal, c_custkey) so neighbor values are
    * engine-independent; balances project as round(double) per the
    * DECIMAL hashing rule. One shuffle on the partition key, all five
    * analytics share the single sorted pass.
    */
  def q_window_percent(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("c_acctbal"), col("c_custkey"))
    t(s, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"),
        round(col("c_acctbal").cast("double"), 2).as("acctbal"),
        round(percent_rank().over(w), 4).as("pr"),
        round(cume_dist().over(w), 4).as("cd"),
        round(lag(col("c_acctbal"), 1).over(w).cast("double"), 2).as("prev_bal"),
        round(lead(col("c_acctbal"), 1).over(w).cast("double"), 2).as("next_bal"))
      .orderBy("c_custkey")
  }

  /** W3: analytic frame — running decimal-exact sum + lag. The window
    * order uses the full unique composite (l_linenumber, l_partkey,
    * l_suppkey) — (l_orderkey, l_linenumber) alone is not unique, and
    * a tied window order would make running/lag values
    * engine-dependent.
    */
  def q_window_frame(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
      .orderBy("l_linenumber", "l_partkey", "l_suppkey")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "lineitem")
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(sum(col("l_quantity").cast("decimal(18,2)")).over(run)
          .cast("double"), 2).as("running_qty"),
        coalesce(lag(col("l_quantity"), 1).over(w), lit(-1.0)).as("prev_qty"))
      .orderBy("l_orderkey", "l_linenumber", "running_qty", "prev_qty")
  }

  /** §2.10 session windows, batch form: gap-based sessionization via
    * the portable lag + cumulative-sum formulation (new session when
    * the gap to the previous event is ≥ 30 min; session id = count of
    * boundaries so far). The ≥ boundary matches Spark's
    * `session_window` rule (windows are [start, last+gap), so an
    * exactly-gap-sized pause starts a new session) — the streaming
    * twin graft.streaming.Streams.sessionCounts is spec'd equal to
    * this query. The lag/cumsum form is used here because it is
    * expressible identically in the oracle. One shuffle on user_id.
    */
  def q_sessionize(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(s, dir, "events")
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          col("ts").cast("long") - col("prev_ts").cast("long") >= 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(run))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id", "session_id")
  }

  /** Time-RANGE rolling window — per event type, the trailing-hour
    * event count and value sum at every event. This is the
    * value-range frame (`RANGE BETWEEN 3600 PRECEDING AND CURRENT
    * ROW` over epoch seconds) — a genuinely different frame semantics
    * from q_window_frame's ROWS frame: peers at the same second share
    * one frame, and the window width is wall-clock, not row-count.
    * Ordering by the epoch-second cast keeps the frame boundary
    * integer-exact in both engines (DuckDB orders by
    * floor(epoch(ts))).
    *
    * Scale shape: one shuffle on the partition key + one sorted pass.
    * The fixture partitions by event_type (5 keys); a 100 TB stream
    * would partition by a high-cardinality entity (user_id, device)
    * or pre-bucket time and overlap the frame width across bucket
    * boundaries — the frame logic is unchanged.
    */
  def q_rolling_time(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("ts"),
        col("value"), col("ts").cast("long").as("tsl"))
    val (fanned, w) = RangeHalo.trailing(ev, "event_type", "tsl", 3600L)
    fanned
      .select(col("event_id"), col("event_type"), col("ts"),
        col("__home"),
        count(lit(1)).over(w).as("n_1h"),
        round(sum(col("value")).over(w), 4).as("sum_1h"))
      .filter(col("__home"))
      .drop("__home")
      .orderBy("event_id")
  }

  /** Ordered funnel analysis — the classic event-analytics operator:
    * per user, first `view`, first `click` strictly AFTER that view,
    * first `purchase` strictly after that click; stage rows carry
    * reached-user counts and conversion vs the first stage. Each
    * stage is a filtered min-aggregate joined on user_id (partial
    * map-side combine, shuffle bounded by the user universe); stage
    * counts are in-plan broadcast 1-row aggregates, so the final
    * 3-row result never touches the driver. Conversion is one double
    * division of exact integers — identical IEEE in both engines.
    */
  def q_funnel(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"))
    val v = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("ts")).as("v_ts"))
    val c = ev.filter(col("event_type") === "click")
      .join(v, "user_id").filter(col("ts") > col("v_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("c_ts"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").filter(col("ts") > col("c_ts"))
      .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
    broadcast(v.agg(count(lit(1)).as("nv")))
      .crossJoin(broadcast(c.agg(count(lit(1)).as("nc"))))
      .crossJoin(broadcast(p.agg(count(lit(1)).as("np"))))
      .select(explode(array(
        struct(lit("1_view").as("stage"), col("nv").as("users"),
          lit(1.0).as("pct")),
        struct(lit("2_click").as("stage"), col("nc").as("users"),
          round(col("nc").cast("double") / col("nv"), 4).as("pct")),
        struct(lit("3_purchase").as("stage"), col("np").as("users"),
          round(col("np").cast("double") / col("nv"), 4).as("pct"))))
        .as("r"))
      .select(col("r.stage").as("stage"), col("r.users").as("users"),
        col("r.pct").as("pct"))
      .orderBy("stage")
  }

  /** Weekly cohort retention — per (cohort week = Monday-truncated
    * week of a user's first event, week offset), how many users were
    * active. Both engines Monday-truncate (`date_trunc('week')`), so
    * day differences are exact multiples of 7 and the offset division
    * is integer-exact. Shape: two aggregates (first-event per user,
    * distinct user-week activity) joined on user_id — everything
    * partial-combines map-side; no window, no driver loop.
    */
  def q_retention(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("user_id"), col("ts"))
    val cohort = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
    val act = ev.select(col("user_id"),
      date_trunc("week", col("ts")).cast("date").as("act_week")).distinct()
    act.join(cohort, "user_id")
      .select(col("cohort_week"),
        (datediff(col("act_week"), col("cohort_week")) / 7)
          .cast("long").as("week_offset"))
      .groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Kaplan-Meier weekly survival curve with right-censoring —
    * [[q_retention]]'s principled churn companion: retention counts
    * who CAME BACK at offset k; KM estimates the probability of
    * still being active, treating users whose last activity falls in
    * the final observed week as CENSORED (still alive as far as the
    * data can say) instead of churned — the standard correction
    * without which every curve dives to zero at the observation
    * boundary. Per user: churn event at offset (last − first)/wk + 1,
    * or censoring at (end − first)/wk when last == end. Risk set
    * n_k = users with event-or-censor offset ≥ k; S(k) =
    * Π_{j≤k} (1 − d_j/n_j), computed as exp of the cumulative sum of
    * per-offset ln((n−d)/n) — each ln formed from one exact integer
    * ratio and rounded DECIMAL(18,6) before the exact sum (the
    * q_kl_mixture ln discipline).
    *
    * Scale shape: one partial-combining aggregate per user, a second
    * bounded aggregate per offset, and window math on the ≤ #weeks
    * frame. Nothing corpus-sized past the first aggregate.
    */
  def q_survival(s: SparkSession, dir: String): DataFrame =
    survivalOf(t(s, dir, "events").select(col("user_id"),
      date_trunc("week", col("ts")).cast("long").as("w")))

  /** KM core over a (user_id, week-epoch) frame — factored out so the
    * spec can drive it with a constructed sparse cohort (the fixture
    * is dense: 150 users, ~all censored, a 1-row curve).
    */
  private[graft] def survivalOf(ev: DataFrame): DataFrame = {
    val wk = 604800L
    val users = ev.groupBy("user_id")
      .agg(min(col("w")).as("w0"), max(col("w")).as("wl"))
    val endW = broadcast(ev.agg(max(col("w")).as("we")))
    val spans = users.crossJoin(endW)
      .select(
        when(col("wl") === col("we"), (col("we") - col("w0")) / wk)
          .otherwise((col("wl") - col("w0")) / wk + 1).cast("long").as("off"),
        (col("wl") =!= col("we")).cast("long").as("is_event"))
    val perOff = spans.groupBy("off")
      .agg(count(lit(1)).as("ending"), sum(col("is_event")).as("d"))
    val byOff = Window.orderBy("off")
    val risk = perOff
      .withColumn("n_risk",
        sum(col("ending")).over(
          byOff.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("lnfac",
        when(col("d") > 0,
          round(log(((col("n_risk") - col("d"))).cast("double") /
            col("n_risk").cast("double")), 6))
          .otherwise(lit(0.0)).cast("decimal(18,6)"))
      .withColumn("lnsurv",
        sum(col("lnfac")).over(
          byOff.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    risk.select(col("off"), col("n_risk"), col("d").as("n_events"),
      (col("ending") - col("d")).as("n_censored"),
      round(exp(col("lnsurv").cast("double")), 4).as("survival"))
      .orderBy("off")
  }

  /** Two-sample Kolmogorov-Smirnov drift test per event type — the
    * bin-free companion of [[q_psi_drift]]: D = max_v |F_ref(v) −
    * F_cur(v)| over the same epoch-midpoint split, computed EXACTLY
    * in integers (D·n1·n2 = max |c_ref·n2 − c_cur·n1| over the
    * per-value cumulative counts) with the α=0.05 significance flag
    * decided by the exact integer compare 10⁶·D_num² >
    * 1.358²·10⁶·(n1+n2)·n1·n2 — no float ever enters a decision.
    *
    * Scale shape: the per-value cumulative counts use a TWO-LEVEL
    * prefix sum (the ScalableRank discipline): per-(type, value-
    * bucket) partial totals roll up on the bounded bucket frame and
    * broadcast back as offsets, and the in-bucket cumsum window
    * partitions on (type, bucket) — parallelism is types × buckets,
    * never a single per-type sorted partition.
    */
  def q_ks_drift(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_type"),
      col("ts").cast("long").as("e"), col("value"))
    val bounds = broadcast(e.agg(min(col("e")).as("mn"), max(col("e")).as("mx")))
    val perVal = e.crossJoin(bounds)
      .withColumn("is_ref", (col("e") * 2 <= col("mn") + col("mx")).cast("long"))
      .groupBy(col("event_type"), col("value"))
      .agg(sum(col("is_ref")).as("cr"), sum(lit(1L) - col("is_ref")).as("cc"))
      .withColumn("bucket", floor(col("value") / psiBinWidth).cast("long"))
    val bucketTot = perVal.groupBy("event_type", "bucket")
      .agg(sum(col("cr")).as("bcr"), sum(col("cc")).as("bcc"))
    val offW = Window.partitionBy("event_type").orderBy("bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = bucketTot
      .withColumn("ocr", coalesce(sum(col("bcr")).over(offW), lit(0L)))
      .withColumn("occ", coalesce(sum(col("bcc")).over(offW), lit(0L)))
      .select(col("event_type"), col("bucket"), col("ocr"), col("occ"))
    val inB = Window.partitionBy("event_type", "bucket").orderBy("value")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cums = perVal.join(broadcast(offsets), Seq("event_type", "bucket"))
      .withColumn("c1", col("ocr") + sum(col("cr")).over(inB))
      .withColumn("c2", col("occ") + sum(col("cc")).over(inB))
    val totals = perVal.groupBy("event_type")
      .agg(sum(col("cr")).as("n1"), sum(col("cc")).as("n2"))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    cums.join(broadcast(totals), Seq("event_type"))
      .select(col("event_type"), col("n1"), col("n2"),
        abs(col("c1") * col("n2") - col("c2") * col("n1")).as("dnum"))
      .groupBy("event_type", "n1", "n2")
      .agg(max(col("dnum")).as("d_num"))
      .select(col("event_type"), col("n1"), col("n2"), col("d_num"),
        round(col("d_num").cast("double") /
          (col("n1").cast("double") * col("n2").cast("double")), 6).as("d"),
        (dec(col("d_num")) * dec(col("d_num")) * lit(1000000L) >
          dec(lit(1844164L)) * dec(col("n1") + col("n2")) *
            dec(col("n1")) * dec(col("n2")))
          .cast("long").as("significant"))
      .orderBy("event_type")
  }

  /** Delete-one-group jackknife standard error of the per-type mean
    * value — the resampling-based uncertainty readout (the family
    * PSI/KS flag membership in, this one quantifies). Rows assign to
    * [[jackBuckets]] deterministic md5 buckets (the salted-hash
    * discipline — reproducible across engines and re-runs); each
    * leave-one-bucket-out mean m_b = (S − s_b)/(N − n_b) rounds to
    * 6-dp DECIMAL before the exact moment sums, and
    * SE² = (B−1)/B · Σ(m_b − m̄)² divides exact decimals with the
    * one float op last. IEEE sqrt is exactly rounded (unlike ln/exp),
    * so the emitted SE is engine-identical. Everything after the one
    * per-(type, bucket) aggregate runs on the B × types frame.
    */
  private[graft] val jackBuckets = 32

  def q_jackknife(s: SparkSession, dir: String): DataFrame = {
    val b = conv(substring(md5(concat(lit("jk:"),
      col("event_id").cast("string"))), 1, 2), 16, 10)
      .cast("long") % jackBuckets
    val grp = t(s, dir, "events")
      .select(col("event_type"), b.as("b"),
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy("event_type", "b")
      .agg(sum(col("v")).as("sb"), count(lit(1)).as("nb"))
    val tot = grp.groupBy("event_type")
      .agg(sum(col("sb")).as("s"), sum(col("nb")).as("n"),
        count(lit(1)).as("nbuckets"))
    // leave-one-out means as INTEGER 10⁻⁶-units (the q_target_encode
    // ⌊(2a+d)/(2d)⌋ half-up), so the moment sums stay exact integers
    // and the only floats are the final sqrt (IEEE exactly rounded)
    // and two display divisions
    val m = grp.join(broadcast(tot), "event_type")
      .withColumn("cents", ((col("s") - col("sb")) * 100).cast("long"))
      .withColumn("dd", col("n") - col("nb"))
      .withColumn("r",
        expr("CAST((2 * cents * 10000 + dd) div (2 * dd) AS BIGINT)"))
    def dec38(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    m.groupBy(col("event_type"), col("n"), col("s"), col("nbuckets"))
      .agg(sum(col("r")).as("msum"),
        sum(dec38(col("r")) * dec38(col("r"))).as("msq"))
      .withColumn("scents", (col("s") * 100).cast("long"))
      .select(col("event_type"), col("n").as("n_rows"),
        (expr("CAST((2 * scents * 100 + n) div (2 * n) AS DOUBLE)") / 10000)
          .as("mean"),
        // SE = sqrt((B−1)·(B·Σr² − (Σr)²)) / (B·10⁶), X exact integer
        round(sqrt((dec38(col("nbuckets") - 1) *
          (dec38(col("nbuckets")) * col("msq") -
            dec38(col("msum")) * dec38(col("msum")))).cast("double")) /
          (col("nbuckets").cast("double") * 1000000), 6).as("se_jack"))
      .orderBy("event_type")
  }

  /** Trailing-24-hour rolling MEDIAN of the hourly event count per
    * type — the robust baseline [[q_ewma]]'s mean-based smoother
    * can't give (one spike drags a mean for 8 taps; the median
    * shrugs it off). Densified spine first (the shared lesson), then
    * one `percentile` window over a 24-row frame; medians of BIGINT
    * counts are exact half-integers, emitted via the med2 = 2·median
    * BIGINT trick (q_anomaly_mad discipline) so no float rounding
    * surface exists. Calendar-bounded frames throughout.
    */
  def q_rolling_median(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
    val spine = hourly.groupBy("event_type")
      .agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"),
          expr("INTERVAL 1 HOUR"))).as("h"))
    spine.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("med2",
        expr("CAST(percentile(cnt, 0.5) OVER (PARTITION BY event_type " +
          "ORDER BY h ROWS BETWEEN 23 PRECEDING AND CURRENT ROW) * 2 " +
          "AS BIGINT)"))
      .select(col("event_type"), col("h"), col("cnt"),
        (col("med2").cast("double") / 2).as("med_24h"))
      .orderBy("event_type", "h")
  }

  /** Weekly cohort LTV curve — [[q_retention]]'s revenue twin: per
    * (cohort week, week offset), purchase revenue that week, the
    * running cumulative, and cumulative revenue per cohort MEMBER
    * (n_users counts the whole cohort, purchasers or not — LTV is
    * revenue over everyone you acquired, not over spenders).
    * Exactness: per-row revenue is cast to DECIMAL(18,2) before any
    * sum, the cumulative window runs over the exact decimal, and
    * doubles appear only in the final one-shot casts (the q_ab_test
    * discipline). Scale shape: two user-level aggregates + one
    * (cohort, offset) aggregate — everything partial-combines
    * map-side; the cumulative window runs on the post-aggregate
    * frame, bounded by cohorts × offsets, never on raw events.
    */
  def q_cohort_ltv(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
      .select(col("user_id"), col("ts"), col("event_type"), col("value"))
    val cohort = ev.groupBy("user_id")
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("cohort_week"))
    val sizes = cohort.groupBy("cohort_week")
      .agg(count(lit(1)).as("n_users"))
    val rev = ev.filter(col("event_type") === "purchase")
      .join(cohort, "user_id")
      .select(col("cohort_week"),
        (datediff(date_trunc("week", col("ts")).cast("date"),
          col("cohort_week")) / 7).cast("long").as("week_offset"),
        col("value").cast("decimal(18,2)").as("v"))
      .groupBy("cohort_week", "week_offset")
      .agg(sum(col("v")).as("wk_rev"))
    val w = Window.partitionBy("cohort_week").orderBy("week_offset")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.join(broadcast(sizes), "cohort_week")
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        col("wk_rev"), sum(col("wk_rev")).over(w).as("cum"))
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
        col("wk_rev").cast("double").as("week_rev"),
        col("cum").cast("double").as("cum_rev"),
        round(col("cum").cast("double") / col("n_users"), 4).as("ltv"))
      .orderBy("cohort_week", "week_offset")
  }

  /** Day-of-week × hour seasonality profile with per-cell χ²
    * contributions against the uniform-rate null — the load-shape
    * readout behind batch scheduling and anomaly baselines ("is
    * Tuesday 3am genuinely quiet or just unsampled"). dow is
    * Monday-based 0–6 in both engines (Spark `weekday` ≡ DuckDB
    * `isodow − 1` — the built-ins' Sunday conventions differ, so the
    * twins pin the ISO form). Exactness: cell counts are integers;
    * the two derived doubles (share, χ² term) are computed with the
    * identical expression shape in both engines and rounded once.
    * Scale shape: one hash aggregate collapses the corpus to ≤ 168
    * cells; the total re-aggregates that frame (no second scan) and
    * joins back as a broadcast 1-row.
    */
  def q_seasonality(s: SparkSession, dir: String): DataFrame = {
    val cell = t(s, dir, "events")
      .select(weekday(col("ts")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"))
      .groupBy("dow", "hr").agg(count(lit(1)).as("n_events"))
    val tot = cell.agg(sum(col("n_events")).as("total"))
    val e = col("total").cast("double") / lit(168)
    cell.crossJoin(broadcast(tot))
      .select(col("dow"), col("hr"), col("n_events"),
        round(col("n_events").cast("double") / col("total"), 6)
          .as("share"),
        round((col("n_events") - e) * (col("n_events") - e) / e, 4)
          .as("chi2_term"))
      .orderBy("dow", "hr")
  }

  /** Sample size for [[q_sample_weighted]]. */
  val weightedSampleK = 150

  /** Weighted sampling without replacement (Efraimidis–Spirakis
    * A-ES): each doc gets key = ln(u)/w with u a deterministic
    * md5-derived uniform and w its weight (n_chars here — any
    * positive quality/importance column works); the top-k keys ARE a
    * weighted sample without replacement. The standard one-pass
    * distributed algorithm for "sample 1M docs proportional to
    * quality" — rand()-based weighted sampling is neither reproducible
    * across retries nor expressible as one scan.
    *
    * Determinism: u = (first-8-hex-of-md5 + 1)/2^32 ∈ (0,1] from the
    * salted doc_id, so keys are identical doubles in both engines;
    * the emitted key is rounded and the ORDER BY covers (key,
    * doc_id). Scale shape: map-only key computation +
    * TakeOrderedAndProject — per-partition top-k then a k-row merge,
    * never a global sort.
    */
  def q_sample_weighted(s: SparkSession, dir: String): DataFrame = {
    val v = conv(substring(
      md5(concat(lit("wsamp:"), col("doc_id").cast("string"))), 1, 8),
      16, 10).cast("long")
    val u = (v + 1).cast("double") / lit(4294967296.0)
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"),
        round(log(u) / col("n_chars"), 8).as("es_key"))
      .orderBy(col("es_key").desc, col("doc_id"))
      .limit(weightedSampleK)
  }

  /** Deterministic hash sampling — the reproducible corpus-subsetting
    * op every training pipeline needs (rand()-based sampling is not
    * stable across retries/engines). Keeps ids whose md5 starts below
    * the threshold ⇒ a stable ~1/8 sample.
    */
  def q_sample_hash(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(substring(md5(col("doc_id").cast("string")), 1, 2) < "20")
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  /** Stratified deterministic sampling: per-stratum rates (here ~50%
    * of English, ~12.5% of everything else — the language-rebalancing
    * pass of a training-corpus mix). Hash includes the stratum key so
    * strata subsample independently; still one scan, no shuffle, and
    * retry-stable like q_sample_hash.
    */
  def q_sample_stratified(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .filter(
        substring(md5(concat(col("lang"), lit(":"), col("doc_id").cast("string"))), 1, 2) <
          when(col("lang") === "en", lit("80")).otherwise(lit("20")))
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")

  /** Deterministic train/val/test split assignment — the companion
    * to q_sample_hash every training pipeline runs exactly once per
    * corpus: each document lands in a split by the first md5 byte of
    * its id (salted so the split is independent of the sampling
    * hashes), ~80/10/10 by the 256-bucket boundaries 0xcd and 0xe6.
    * Hash-based (not rand()) so the assignment is reproducible across
    * retries, engines and re-runs, and any later pipeline stage can
    * recompute membership from the id alone instead of joining a
    * split table. Map-only: one scan, no shuffle beyond the declared
    * output sort.
    */
  def q_split_assign(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), col("lang"),
        when(substring(md5(concat(lit("split:"),
          col("doc_id").cast("string"))), 1, 2) < "cd", "train")
          .when(substring(md5(concat(lit("split:"),
            col("doc_id").cast("string"))), 1, 2) < "e6", "val")
          .otherwise("test").as("split"))
      .orderBy("doc_id")

  /** SCD2 history build — the warehouse-standard temporal versioning
    * the reference's last-write-wins sink discards: collapse each
    * user's event stream into validity intervals [valid_from,
    * valid_to) per run of consecutive equal event_type, open
    * intervals closed with a 2262-01-01 sentinel (also keeps the
    * emitted column non-null, per the §2.12 null-sort rule; the
    * classic 9999-12-31 sentinel sits outside pandas datetime64[ns]
    * — max 2262-04-11 — and the driver's comparator mangles it, so
    * the harness contract pins declared timestamps below that; see
    * ContractSpec). Total
    * tie order (ts, event_id) makes runs well-defined when one user
    * has simultaneous events.
    *
    * Scale shape: both window passes share the (user_id) partitioning
    * and (ts, event_id) sort, so Catalyst plans ONE shuffle + ONE
    * sort and the second Window reuses the child's ordering — the
    * change-row filter in between only shrinks partitions in place.
    */
  def q_scd2(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(col("user_id"), col("event_type"),
        col("ts").as("valid_from"),
        coalesce(lead(col("ts"), 1).over(w),
          lit("2262-01-01 00:00:00").cast("timestamp")).as("valid_to"),
        col("event_id").as("first_event_id"))
      .orderBy("user_id", "valid_from", "first_event_id")
  }

  /** First-order Markov transition matrix over per-user event
    * sequences — the behavioral-model statistic behind funnel design
    * and anomaly detection (which state transitions exist, how
    * likely each is). One lead() window per user + one hash
    * aggregate whose key space is |event types|² — bounded by the
    * type vocabulary, not the event volume — then the per-source
    * normalization joins against a broadcast total frame of the same
    * tiny cardinality. p is one double division of exact counts
    * (identical IEEE both engines), rounded for display.
    */
  def q_markov(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val tr = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("dst_type", lead(col("event_type"), 1).over(w))
      .filter(col("dst_type").isNotNull)
      .groupBy(col("event_type").as("src_type"), col("dst_type"))
      .agg(count(lit(1)).as("cnt"))
    val tot = tr.groupBy("src_type").agg(sum(col("cnt")).as("tot"))
    tr.join(broadcast(tot), Seq("src_type"))
      .select(col("src_type"), col("dst_type"), col("cnt"),
        round(col("cnt").cast("double") / col("tot").cast("double"), 6)
          .as("p"))
      .orderBy("src_type", "dst_type")
  }

  /** Gap-fill + linear interpolation — the time-series densification
    * every monitoring/feature pipeline runs: an hourly spine per
    * event_type over the table's full range, observed hourly sums
    * where present, linear interpolation between the neighboring
    * observations where absent (carry-forward / backfill at the
    * edges).
    *
    * Shapes: one hash aggregate to hourly sums; the spine is a
    * map-side sequence() explode against in-plan broadcast 1-row
    * bounds (never a driver loop); the neighbor lookup is
    * last/first-ignoring-nulls over ONE (event_type) window
    * partitioning — both directions share the shuffle+sort.
    *
    * Engine-exactness: hourly sums go through DECIMAL(18,2) (exact,
    * order-independent); hour offsets are exact BIGINTs
    * (hour-truncated timestamps); the interpolation
    * prev + (next−prev)·(dh/DH) is the identical double expression
    * shape on identical exact inputs, then rounded to 4dp.
    */
  def q_interp(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    val hourly = ev.groupBy(col("event_type"),
      date_trunc("hour", col("ts")).as("h"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
    val bounds = broadcast(ev.agg(
      date_trunc("hour", min(col("ts"))).as("__lo"),
      date_trunc("hour", max(col("ts"))).as("__hi")))
    val spine = ev.select("event_type").distinct()
      .crossJoin(bounds)
      .select(col("event_type"), explode(
        expr("sequence(__lo, __hi, interval 1 hour)")).as("h"))
    val wPrev = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wNext = Window.partitionBy("event_type").orderBy("h")
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val joined = spine.join(hourly, Seq("event_type", "h"), "left")
      .select(col("event_type"), col("h"),
        col("v").cast("double").as("v"),
        last(col("v").cast("double"), ignoreNulls = true).over(wPrev).as("pv"),
        last(when(col("v").isNotNull, col("h")), ignoreNulls = true)
          .over(wPrev).as("ph"),
        first(col("v").cast("double"), ignoreNulls = true).over(wNext).as("nv"),
        first(when(col("v").isNotNull, col("h")), ignoreNulls = true)
          .over(wNext).as("nh"))
    joined.select(col("event_type"), col("h"),
      when(col("v").isNotNull, 1L).otherwise(0L).as("observed"),
      round(
        when(col("v").isNotNull, col("v"))
          .when(col("pv").isNotNull && col("nv").isNotNull,
            col("pv") + (col("nv") - col("pv"))
              * (expr("timestampdiff(HOUR, ph, h)").cast("double")
                / expr("timestampdiff(HOUR, ph, nh)").cast("double")))
          .when(col("pv").isNotNull, col("pv"))
          .otherwise(col("nv")), 4).as("filled"))
      .orderBy("event_type", "h")
  }

  /** Experimentation analytics: deterministic 50/50 hash split of
    * users into variants (the same salted-md5 device as
    * q_split_assign), then a two-proportion z-test on purchase
    * conversion and a Welch t-test on per-user revenue. Every test
    * statistic derives from EXACT aggregates (§2.12): user counts and
    * conversions are BIGINTs, revenue moments (Σrev, Σrev²) are
    * decimal sums cast to double ONCE, and the closed forms are then
    * identical double expressions in both engines — no streaming
    * variance whose low bits depend on partition fold order.
    *
    * Scale shape: one hash aggregate keyed on user_id (map-side
    * combinable), then a single global conditional aggregate to one
    * row. No join anywhere; at 100 TB this is the minimal two-shuffle
    * experiment readout, and the variant assignment is a pure
    * projection so exposure logging never needs a lookup table.
    */
  def q_ab_test(s: SparkSession, dir: String): DataFrame = {
    val variant = when(substring(md5(concat(lit("ab:"),
      col("user_id").cast("string"))), 1, 2) < "80", "A").otherwise("B")
    val perUser = t(s, dir, "events")
      .groupBy(col("user_id"))
      .agg(
        max(when(col("event_type") === "purchase"
          && col("value") > 90, 1L).otherwise(0L)).as("conv"),
        coalesce(
          sum(when(col("event_type") === "purchase",
            col("value").cast("decimal(18,2)"))),
          lit(0).cast("decimal(18,2)")).as("rev"))
      .select(variant.as("variant"), col("conv"), col("rev"))
    val g = perUser.agg(
      sum(when(col("variant") === "A", 1L).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === "B", 1L).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === "A", col("conv")).otherwise(0L))
        .as("conv_a"),
      sum(when(col("variant") === "B", col("conv")).otherwise(0L))
        .as("conv_b"),
      sum(when(col("variant") === "A", col("rev")))
        .cast("double").as("s_a"),
      sum(when(col("variant") === "B", col("rev")))
        .cast("double").as("s_b"),
      sum(when(col("variant") === "A",
        (col("rev") * col("rev")).cast("decimal(28,4)")))
        .cast("double").as("ss_a"),
      sum(when(col("variant") === "B",
        (col("rev") * col("rev")).cast("decimal(28,4)")))
        .cast("double").as("ss_b"))
    val na = col("n_a").cast("double")
    val nb = col("n_b").cast("double")
    val ra = col("conv_a").cast("double") / na
    val rb = col("conv_b").cast("double") / nb
    val p = (col("conv_a") + col("conv_b")).cast("double") / (na + nb)
    val va = (col("ss_a") - col("s_a") * col("s_a") / na) / (na - lit(1.0))
    val vb = (col("ss_b") - col("s_b") * col("s_b") / nb) / (nb - lit(1.0))
    g.select(
      col("n_a"), col("n_b"), col("conv_a"), col("conv_b"),
      round(ra, 6).as("rate_a"),
      round(rb, 6).as("rate_b"),
      // degenerate-experiment guards (§2.12 sentinel rule + ANSI
      // divide-by-zero): all-convert / none-convert pins z to 0,
      // zero pooled variance pins t to 0 — identically in the oracle
      when(col("conv_a") + col("conv_b") === 0L
        || col("conv_a") + col("conv_b") === col("n_a") + col("n_b"),
        lit(0.0))
        .otherwise(round((ra - rb) / sqrt(p * (lit(1.0) - p)
          * (lit(1.0) / na + lit(1.0) / nb)), 4)).as("z_conv"),
      round(col("s_a") / na, 4).as("rev_a"),
      round(col("s_b") / nb, 4).as("rev_b"),
      when(va / na + vb / nb === 0.0, lit(0.0))
        .otherwise(round((col("s_a") / na - col("s_b") / nb)
          / sqrt(va / na + vb / nb), 4)).as("t_rev"))
      .orderBy("n_a")
  }

  /** Data-quality audit — the "expectations" pass a training pipeline
    * runs before ingesting a data drop: one output row per declared
    * constraint with total rows, violation count, and pass rate.
    * Check classes: completeness (NOT NULL), range, domain
    * membership, non-negativity, key uniqueness, referential
    * integrity.
    *
    * Scale shape: the five lineitem constraints FUSE into one
    * scan/aggregate (K checks = one pass, the whole point at
    * 100 TB), orders' two scan-checks fuse the same way, uniqueness
    * rides the same aggregate via count-distinct, and the FK check is
    * a left-anti join on the key counted into one row. Every
    * violation counter is a map-side-combinable conditional sum; the
    * tiny per-constraint rows union at the end.
    */
  def q_dq_checks(s: SparkSession, dir: String): DataFrame = {
    def row(name: String, v: org.apache.spark.sql.Column) =
      struct(lit(name).as("check_name"), v.as("violations"), col("total"))
    val li = t(s, dir, "lineitem")
    val liRows = li.agg(
      count(lit(1)).as("total"),
      sum(when(col("l_quantity").isNull
        || col("l_quantity") < 1 || col("l_quantity") > 50, 1L)
        .otherwise(0L)).as("v_range"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("v_null"),
      sum(when(col("l_discount").isNull
        || col("l_discount") < 0 || col("l_discount") > 1, 1L)
        .otherwise(0L)).as("v_disc"),
      sum(when(col("l_extendedprice").isNull
        || col("l_extendedprice") <= 0, 1L).otherwise(0L)).as("v_price"),
      sum(when(!coalesce(col("l_returnflag").isin("A", "N", "R"),
        lit(false)), 1L).otherwise(0L)).as("v_domain"))
      .select(explode(array(
        row("lineitem.discount_in_0_1", col("v_disc")),
        row("lineitem.extendedprice_positive", col("v_price")),
        row("lineitem.quantity_in_1_50", col("v_range")),
        row("lineitem.returnflag_domain", col("v_domain")),
        row("lineitem.shipdate_not_null", col("v_null")))).as("r"))
      .select(col("r.check_name"), col("r.violations"), col("r.total"))
    val o = t(s, dir, "orders")
    val oRows = o.agg(
      count(lit(1)).as("total"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).as("v_uniq"),
      sum(when(col("o_orderdate").isNull, 1L).otherwise(0L)).as("v_date"))
      .select(explode(array(
        row("orders.orderdate_not_null", col("v_date")),
        row("orders.orderkey_unique", col("v_uniq")))).as("r"))
      .select(col("r.check_name"), col("r.violations"), col("r.total"))
    val fkRows = o.select(col("o_custkey"))
      .join(t(s, dir, "customer").select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("violations"))
      .crossJoin(broadcast(o.agg(count(lit(1)).as("total"))))
      .select(lit("orders.custkey_in_customer").as("check_name"),
        col("violations"), col("total"))
    liRows.unionByName(oRows).unionByName(fkRows)
      .select(col("check_name"), col("total"), col("violations"),
        round(lit(1.0) - col("violations").cast("double")
          / col("total").cast("double"), 6).as("pass_rate"))
      .orderBy("check_name")
  }

  // ── §2.8 scalar functions ──────────────────────────────────────────

  /** F1–F3+F8: key normalization pipeline on synthesized scrape-shaped
    * keys (prefix strip, trim, Untitled fallback, whitespace
    * squashing).
    */
  def q_regex_clean(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(
        col("doc_id"),
        Scalars.normalizeKey(concat(lit("BIS232Request."), col("source"))).as("clean_key"),
        Scalars.keyOrUntitled(col("lang"), col("source"), col("doc_id")).as("keyname"),
        regexp_replace(substring(col("text"), 1, 40), "\\s+", "_").as("squished"))
      .orderBy("doc_id")

  /** F5+F6: typify cast cascade with the inf/nan/e guard
    * (clients/dynamodb.py:51-63). k comes from embedded JSON; the
    * synthesized "<user_id>.5" exercises the float leg; event_type
    * exercises the guard ('signup' passes it but isn't numeric,
    * 'purchase'/'error' contain 'e' and are guard-blocked).
    */
  def q_typify_cast(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .select(
        col("event_id"),
        Scalars.typifyLong(get_json_object(col("props"), "$.k")).as("k_typed"),
        Scalars.typifyNumber(concat(col("user_id").cast("string"), lit(".5"))).as("u_typed"),
        Scalars.numifiable(col("event_type")).as("guard_pass"))
      .orderBy("event_id")

  /** F5: regex extraction of embedded JSON + path reads — the
    * reference's Source-Countries scrape
    * (clients/exclusion_requests.py:100-106) reproduced end-to-end:
    * build page-like text, regex-extract the JSON array, read fields.
    */
  def q_json_extract(s: SparkSession, dir: String): DataFrame = {
    val page = concat(lit("<script>var x = [{\"OriginCountry\":\""),
      col("event_type"), lit("\"}];</script>"))
    // double-encoded JSON (the dashboard endpoints return a JSON
    // string containing JSON — json.loads(json.loads(r.text)),
    // clients/exclusion_requests.py:116): decode the outer string,
    // then path into the inner document
    // JSON string re-encoding must escape backslashes BEFORE quotes —
    // quote-only escaping corrupts any props containing a backslash.
    // Literal replace(), not regexp_replace: the escapes are fixed
    // strings, and the regex engine was ~a third of this query's
    // per-row cost under full evaluation.
    val doubleEncoded = concat(lit("\""),
      replace(
        replace(col("props"), lit("\\"), lit("\\\\")),
        lit("\""), lit("\\\"")), lit("\""))
    // sort FIRST, decode AFTER: the parse/regex projection sits above
    // the ORDER BY's range exchange, so it runs on all post-shuffle
    // partitions instead of on however few splits the source file
    // offers (one, for a small single-row-group parquet — which made
    // this the bench's slowest query, single-threaded). No extra
    // shuffle: the sort needed that exchange anyway, and sorting by
    // event_id alone is cheaper than sorting the decoded row.
    t(s, dir, "events")
      .select(col("event_id"), col("props"), col("event_type"))
      .orderBy("event_id")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"),
        get_json_object(get_json_object(doubleEncoded, "$"), "$.k")
          .cast("long").as("k_double_decoded"),
        get_json_object(
          regexp_extract(page, "\\[\\{\"OriginCountry\"[^]]*\\]", 0),
          "$[0].OriginCountry").as("origin_country"))
  }

  /** Exact per-group mode — the deterministic companion to
    * q_heavy_hitters' Misra-Gries sketch: for each language, the
    * modal source with its exact count and share, ties broken by the
    * LOWEST source string so the answer is total-order deterministic
    * (approximate frequent-items can't promise either property).
    *
    * Scale shape: one hash aggregate on (lang, source) — map-side
    * combinable, cardinality bounded by the value vocabulary, not the
    * corpus — then a rank window over that tiny frame. The raw rows
    * are never re-scanned; at 100 TB this is two stages over
    * |langs|·|sources| intermediate rows.
    */
  def q_agg_mode(s: SparkSession, dir: String): DataFrame = {
    val counts = t(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("lang")
      .orderBy(col("cnt").desc, col("source"))
    counts
      .withColumn("rk", row_number().over(w))
      .withColumn("lang_total", sum(col("cnt"))
        .over(Window.partitionBy("lang")))
      .filter(col("rk") === 1)
      .select(col("lang"), col("source").as("mode_source"),
        col("cnt"), col("lang_total"),
        round(col("cnt").cast("double")
          / col("lang_total").cast("double"), 4).as("share"))
      .orderBy("lang")
  }

  /** Deterministic output sharding report — the write-side companion
    * to q_split_assign: each document lands in one of 16 shards by
    * the first hex nibble of a salted md5 of its id (reproducible
    * across engines/retries, recomputable from the id alone), and
    * the query reports per-shard document and character totals plus
    * each shard's skew vs the ideal 1/16 share — the balance check a
    * pipeline runs before committing a sharded training dump.
    *
    * Scale shape: shard assignment is a pure projection; the report
    * is one 16-group map-side-combinable hash aggregate plus a
    * broadcast-sized window for the global total. The write itself
    * would be `.repartition(16, col("shard"))` on the same
    * expression — co-partitioned with this report for free.
    */
  def q_shard_assign(s: SparkSession, dir: String): DataFrame = {
    val shard = substring(md5(concat(lit("shard:"),
      col("doc_id").cast("string"))), 1, 1)
    t(s, dir, "documents")
      .select(shard.as("shard"), col("n_chars"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("chars"))
      .withColumn("total_docs", sum(col("n_docs")).over(Window.partitionBy()))
      .select(col("shard"), col("n_docs"), col("chars"),
        round(col("n_docs").cast("double") * 16.0
          / col("total_docs").cast("double"), 4).as("skew_vs_ideal"))
      .orderBy("shard")
  }

  /** Categorical-association readout — chi-square independence test,
    * Cramér's V, and mutual information over the (lang, source)
    * contingency table: the statistic a mixture-design pass runs to
    * learn whether two corpus facets are independent before
    * stratifying on both. The chi-square runs over the FULL R×C grid
    * (zero-observed cells contribute their expected mass), built by
    * cross-joining the two tiny margin frames; MI sums observed
    * cells only (0·log 0 = 0).
    *
    * Engine-exactness (§2.12): every per-cell term is a double of
    * exact BIGINT counts, rounded to 8 decimals and summed as
    * DECIMAL(28,8) — the q_bm25 device — so the aggregate is
    * order-independent and the engines agree bit-for-bit regardless
    * of partition fold order.
    *
    * Scale shape: ONE hash aggregate over the corpus to the
    * |langs|·|sources| cell frame; margins, the R×C grid, and the
    * statistics all derive from that broadcast-sized frame — the
    * corpus is scanned once at any scale.
    */
  def q_contingency(s: SparkSession, dir: String): DataFrame = {
    val cells = t(s, dir, "documents")
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_ij"))
    val rows_ = cells.groupBy("lang").agg(sum(col("n_ij")).as("r_i"))
    val cols_ = cells.groupBy("source").agg(sum(col("n_ij")).as("c_j"))
    val tot = cells.agg(sum(col("n_ij")).as("n"),
      countDistinct(col("lang")).as("n_r"),
      countDistinct(col("source")).as("n_c"))
    val grid = broadcast(rows_).crossJoin(broadcast(cols_))
      .join(cells, Seq("lang", "source"), "left")
      .select(col("r_i"), col("c_j"),
        coalesce(col("n_ij"), lit(0L)).as("n_ij"))
      .crossJoin(broadcast(tot))
    val nD = col("n").cast("double")
    val e = col("r_i").cast("double") * col("c_j").cast("double") / nD
    val pij = col("n_ij").cast("double") / nD
    val chiTerm = (col("n_ij").cast("double") - e) * (col("n_ij").cast("double") - e) / e
    val miTerm = when(col("n_ij") > 0,
      pij * log(pij * nD * nD
        / (col("r_i").cast("double") * col("c_j").cast("double"))))
      .otherwise(lit(0.0))
    grid
      .groupBy(col("n"), col("n_r"), col("n_c"))
      .agg(
        sum(round(chiTerm, 8).cast("decimal(28,8)")).as("chi2s"),
        sum(round(miTerm, 8).cast("decimal(28,8)")).as("mis"))
      .select(col("n"), col("n_r"), col("n_c"),
        ((col("n_r") - 1) * (col("n_c") - 1)).as("dof"),
        round(col("chi2s").cast("double"), 4).as("chi2"),
        round(sqrt(col("chi2s").cast("double") / (col("n").cast("double")
          * (least(col("n_r"), col("n_c")) - lit(1L)).cast("double"))), 4)
          .as("cramers_v"),
        round(col("mis").cast("double"), 4).as("mutual_info"))
      .orderBy("n")
  }

  /** Last-touch attribution — credit each purchase to the user's most
    * recent preceding non-purchase event within a 7-day lookback
    * ('direct' when none), then roll credited purchases and revenue
    * up per channel: the readout that connects the funnel
    * (q_funnel) to revenue.
    *
    * The credited channel is one IGNORE NULLS last() over the
    * user's (ts, event_id)-ordered history restricted to preceding
    * rows — no self-join against the event history, which is the
    * naive quadratic formulation. The paired timestamp rides the
    * same window so the lookback check is a plain comparison.
    *
    * Scale shape: one (user_id) window partition + one
    * channel-cardinality hash aggregate; revenue sums are
    * DECIMAL(18,2) (order-independent), divisions happen once on
    * the final tiny frame.
    */
  def q_attribution(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touched = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"),
        col("event_id"), col("value"))
      .select(col("event_type"), col("ts"), col("value"),
        last(when(col("event_type") =!= "purchase", col("event_type")),
          ignoreNulls = true).over(w).as("attr_type"),
        last(when(col("event_type") =!= "purchase", col("ts")),
          ignoreNulls = true).over(w).as("attr_ts"))
      .filter(col("event_type") === "purchase")
      .select(
        when(col("attr_ts").isNotNull
          && col("attr_ts") >= col("ts") - expr("INTERVAL 7 DAYS"),
          col("attr_type")).otherwise(lit("direct")).as("channel"),
        col("value"))
    touched.groupBy("channel")
      .agg(count(lit(1)).as("purchases"),
        sum(col("value").cast("decimal(18,2)")).as("rev"))
      .select(col("channel"), col("purchases"),
        round(col("rev").cast("double"), 2).as("revenue"),
        round(col("rev").cast("double")
          / col("purchases").cast("double"), 4).as("rev_per_purchase"))
      .orderBy("channel")
  }

  /** Unpivot (melt) — the inverse reshape of q_pivot: the four
    * lineitem measure columns stack into (metric, value) rows, wide →
    * long, the form every generic metrics store and plotting layer
    * ingests. Implemented with the codegen'd stack() table generator —
    * a pure map-side row expansion (no Expand-on-shuffle, no join);
    * at 100 TB this is a 4× row multiplier inside the scan stage and
    * nothing else. The ORDER BY carries the full physical key
    * (orderkey, linenumber, partkey, suppkey — the fixture has
    * duplicate (orderkey, linenumber) pairs) plus metric, so
    * cross-engine row order is total.
    */
  def q_unpivot(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem")
      .filter(col("l_orderkey") % 50 === 0)
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"))
      .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"),
        expr("""stack(4,
          'discount', l_discount,
          'extendedprice', l_extendedprice,
          'quantity', l_quantity,
          'tax', l_tax) AS (metric, value)"""))
      .orderBy("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "metric")

  /** CUSUM change-point scan — mean-shift detection over the hourly
    * event-count series: cumulative sum of deviations from the
    * series mean, reported at the ten hours where |CUSUM| peaks (the
    * classic location estimate for a level shift). Everything
    * upstream of the final division is exact: hourly counts and
    * their running sum are BIGINTs, so cusum_t = runsum_t − t·mean
    * is one fixed-shape double expression of exact integers in both
    * engines.
    *
    * Scale shape: one hash aggregate corpus → hours (bounded by the
    * time span, not event volume), then windows + a top-k over that
    * tiny series frame. The raw table is scanned once.
    */
  def q_changepoint(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
    val wSeq = Window.orderBy("h")
    val wAll = Window.partitionBy()
    val mean = col("total").cast("double") / col("n_hours").cast("double")
    hourly
      .withColumn("runsum", sum(col("cnt")).over(
        wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("rn", row_number().over(wSeq))
      .withColumn("total", sum(col("cnt")).over(wAll))
      .withColumn("n_hours", count(lit(1)).over(wAll))
      .select(col("h"), col("cnt"),
        round(col("runsum").cast("double")
          - col("rn").cast("double") * mean, 4).as("cusum"))
      .withColumn("abs_cusum", abs(col("cusum")))
      .orderBy(col("abs_cusum").desc, col("h"))
      .limit(10)
      .select("h", "cnt", "cusum")
  }

  /** Lead-lag cross-correlation — Pearson correlation between the
    * hourly view series and the purchase series shifted by 0..6
    * hours: the demand-forecasting probe for "do views predict
    * purchases, and at what delay". Each lagged pair comes from ONE
    * lead() family sharing a single sort of the observed-hour
    * series (missing hours shift to the next observed hour,
    * identically in both engines); the seven lags then stack() into
    * rows and reduce to exact BIGINT co-moments (n, Σx, Σy, Σxy,
    * Σx², Σy²), from which the correlation is one closed-form
    * double expression. Zero-variance series pin r to 0 rather than
    * dividing by zero.
    *
    * Scale shape: the corpus collapses to the bounded hourly frame
    * in one aggregate; everything after — windows, stack, the
    * 7-group moment aggregate — runs on series-sized data. At a
    * 100 TB span the BIGINT moments swap to DECIMAL sums, nothing
    * else changes.
    */
  def q_cross_corr(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(date_trunc("hour", col("ts")).as("h"))
      .agg(
        sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("x"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("y"))
    val w = Window.orderBy("h")
    val lagged = hourly
      .select(col("x") +: (0 to 6).map(l =>
        lead(col("y"), l).over(w).as(s"y$l")): _*)
      .select(col("x"), expr("""stack(7,
        0, y0, 1, y1, 2, y2, 3, y3, 4, y4, 5, y5, 6, y6)
        AS (lag, y)"""))
      .filter(col("y").isNotNull)
    val n = col("n").cast("double")
    // NB: the binary operator must end the line (or the whole RHS be
    // parenthesized) — a leading `-` starts a NEW statement under
    // Scala semicolon inference and silently drops the subtraction
    val cov = (n * col("sxy").cast("double")
      - col("sx").cast("double") * col("sy").cast("double"))
    val vx = (n * col("sxx").cast("double")
      - col("sx").cast("double") * col("sx").cast("double"))
    val vy = (n * col("syy").cast("double")
      - col("sy").cast("double") * col("sy").cast("double"))
    lagged.groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(col("lag").cast("long").as("lag"), col("n"),
        when(vx === 0.0 || vy === 0.0, lit(0.0))
          .otherwise(round(cov / sqrt(vx * vy), 4)).as("r"))
      .orderBy("lag")
  }

  /** F7/F10: explode list column to rows, empty tokens dropped (P3). */
  def q_explode(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(length(col("tok")) > 0)
      .orderBy("doc_id", "tok")

  /** F9/§2.10 batch-equivalent: event-time tumbling window as
    * date_trunc (streaming window() twin lives in graft.streaming).
    */
  def q_time_bucket(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "events")
      .groupBy(
        date_trunc("hour", col("ts")).as("bucket"),
        col("event_type"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 4).as("sum_value"))
      .orderBy("bucket", "event_type")

  /** Per-series OLS trend fit — regress the hourly event count on the
    * hour index per event_type: slope (events/hour of drift),
    * intercept, R², and a next-hour forecast. The hour index is
    * rebased to each series' first observed hour so the exact BIGINT
    * co-moments (Σx, Σy, Σxy, Σx², Σy²) stay small; the closed-form
    * OLS solution is then one double expression per coefficient.
    * Zero-variance series (constant count, or a single hour) pin
    * R² to 0 and slope to 0 rather than dividing by zero.
    *
    * Scale shape: the corpus collapses to the bounded hourly frame in
    * one aggregate (same contract as q_changepoint/q_cross_corr);
    * windows and the per-series moment aggregate run on series-sized
    * data. A 100 TB span swaps the BIGINT moments to DECIMAL sums.
    */
  def q_linreg(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"),
        (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
          .cast("long").as("eh"))
      .agg(count(lit(1)).as("y"))
    val w = Window.partitionBy("event_type")
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val cov = n * d("sxy") - d("sx") * d("sy")
    val vx = n * d("sxx") - d("sx") * d("sx")
    val vy = n * d("syy") - d("sy") * d("sy")
    val slope = cov / vx
    val icept = (d("sy") - cov / vx * d("sx")) / n
    hourly
      .withColumn("x", col("eh") - min(col("eh")).over(w))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"),
        max(col("x")).as("mx"))
      .select(col("event_type"), col("n"),
        when(vx === 0.0, lit(0.0)).otherwise(round(slope, 6)).as("slope"),
        when(vx === 0.0, round(d("sy") / n, 4))
          .otherwise(round(icept, 4)).as("intercept"),
        when(vx === 0.0 || vy === 0.0, lit(0.0))
          .otherwise(round(cov * cov / (vx * vy), 4)).as("r2"),
        when(vx === 0.0, round(d("sy") / n, 4))
          .otherwise(round(icept + slope * (d("mx") + 1.0), 4))
          .as("next_hour_forecast"))
      .orderBy("event_type")
  }

  /** Market-basket association rules over co-purchased brands: for
    * each ordered brand pair appearing in the same order, support,
    * confidence and lift from exact integer counts, top-20 by lift.
    * The per-order distinct-brand frame self-joins ONLY on the order
    * key, so fan-out is bounded by C(brands-per-order, 2) — ≤ C(11,2)
    * in the testdata and O(lines²/orders) in general, never corpus-
    * quadratic. Brand marginals and the order total are broadcast
    * back onto the pair counts (25 brands / 1 row — dimension-sized
    * at any corpus scale).
    */
  def q_basket(s: SparkSession, dir: String): DataFrame = {
    // the distinct (order, brand) frame feeds BOTH self-join sides,
    // the marginals and the order total — persist it once (cache
    // -manager plan dedup then gives all four consumers one scan)
    val ob = graft.Caches.cached(
      t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        .join(t(s, dir, "part").select("p_partkey", "p_brand"),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("okey"), col("p_brand").as("brand"))
        .distinct())
    val pairs = ob.as("a")
      .join(ob.as("b"),
        col("a.okey") === col("b.okey") && col("a.brand") < col("b.brand"))
      .groupBy(col("a.brand").as("b1"), col("b.brand").as("b2"))
      .agg(count(lit(1)).as("pair_cnt"))
    val marg = ob.groupBy("brand").agg(count(lit(1)).as("cnt"))
    val total = ob.agg(countDistinct(col("okey")).as("n_orders"))
    val nOrd = col("n_orders").cast("double")
    pairs
      .join(broadcast(marg.select(col("brand").as("b1"), col("cnt").as("cnt1"))), "b1")
      .join(broadcast(marg.select(col("brand").as("b2"), col("cnt").as("cnt2"))), "b2")
      .crossJoin(broadcast(total))
      .select(col("b1"), col("b2"), col("pair_cnt"),
        round(col("pair_cnt").cast("double") / nOrd, 6).as("support"),
        round(col("pair_cnt").cast("double") / col("cnt1").cast("double"), 4)
          .as("confidence"),
        round(col("pair_cnt").cast("double") * nOrd
          / (col("cnt1").cast("double") * col("cnt2").cast("double")), 4)
          .as("lift"))
      .orderBy(col("lift").desc, col("b1"), col("b2"))
      .limit(20)
  }

  /** Revenue-concentration report per nation: Gini coefficient, HHI,
    * and top-decile revenue share over per-customer order revenue.
    * Every numerator is an exact DECIMAL aggregate — Gini via the
    * sorted-index identity (2·Σ i·xᵢ)/(n·Σx) − (n+1)/n (tie order
    * among equal revenues cannot change the sum), HHI as Σx²/(Σx)²
    * so no per-row double share is ever summed — and only the final
    * closed-form division happens in double.
    *
    * Scale shape: one shuffle to per-customer revenue, one window
    * rank per nation, one hash aggregate; nation is the only
    * broadcast (25 rows).
    */
  def q_concentration(s: SparkSession, dir: String): DataFrame = {
    val rev = t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val per = t(s, dir, "customer")
      .join(rev, col("c_custkey") === col("o_custkey"))
      .join(broadcast(t(s, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      // narrow the summed revenue back to (18,2): per-customer revenue
      // fits with room to spare, and (18,2)×(18,2) → (37,4) multiplies
      // exactly under the 38-precision cap (no precision-loss rescale)
      .select(col("n_name"), col("c_custkey"),
        col("rev").cast("decimal(18,2)").as("rev"))
    val w = Window.partitionBy("n_name")
      .orderBy(col("rev").asc, col("c_custkey").asc)
    val n = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    per
      .withColumn("i", row_number().over(w))
      .withColumn("nn", count(lit(1)).over(Window.partitionBy("n_name")))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"),
        sum(col("rev")).as("t"),
        sum((col("rev") * col("rev")).cast("decimal(38,4)")).as("ssq"),
        sum(col("i").cast("decimal(18,0)") * col("rev")).as("siw"),
        sum(when(col("i") > col("nn") - floor((col("nn") + 9) / 10),
          col("rev"))).as("topsum"))
      .select(col("n_name"), col("n"),
        round(d("t"), 2).as("total_rev"),
        round(lit(2.0) * d("siw") / (n * d("t")) - (n + 1.0) / n, 4)
          .as("gini"),
        round(d("ssq") / (d("t") * d("t")), 6).as("hhi"),
        round(d("topsum") / d("t"), 4).as("top_decile_share"))
      .orderBy("n_name")
  }

  /** Benford first-digit audit of order totals: observed digit
    * frequency vs the Benford expectation log₁₀(1+1/d), with the
    * χ² contribution per digit — the classic synthetic-data /
    * fraud screen, as a data-quality operator. The first significant
    * digit comes from the DECIMAL(18,4) string rendering (identical
    * in both engines; no float-log extraction that could mis-bucket
    * values sitting on a power of ten). Map-side digit extraction,
    * one 9-row aggregate, one broadcast total.
    */
  def q_benford(s: SparkSession, dir: String): DataFrame = {
    val digit = regexp_extract(
      col("o_totalprice").cast("decimal(18,4)").cast("string"), "[1-9]", 0)
    val total = t(s, dir, "orders").agg(count(lit(1)).as("n_total"))
    val nT = col("n_total").cast("double")
    // log10(), not log(10, x): Spark's two-arg log computes ln(x)/ln(10)
    // while DuckDB's log10 is libm log10 — same function via Math.log10
    // on both sides keeps the last-ulp behavior aligned
    val expP = log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))
    val expCnt = nT * expP
    t(s, dir, "orders")
      .select(digit.as("digit"))
      .filter(col("digit") =!= "")
      .groupBy("digit").agg(count(lit(1)).as("obs"))
      .crossJoin(broadcast(total))
      .select(col("digit"), col("obs"),
        round(col("obs").cast("double") / nT, 6).as("obs_p"),
        round(expP, 6).as("benford_p"),
        round((col("obs").cast("double") - expCnt)
          * (col("obs").cast("double") - expCnt) / expCnt, 4).as("chi2"))
      .orderBy("digit")
  }

  /** 2-D Pareto frontier (skyline operator): parts not dominated on
    * (price ↓ better, size ↑ better) — cheapest-for-their-capability
    * candidates, the classic multi-criteria shortlist. No self-join:
    * collapse to one row per distinct price (max size at that
    * price — same-price smaller parts are dominated by it), then one
    * ordered window pass keeps the price levels whose size strictly
    * exceeds every cheaper level's running max; parts re-attach by
    * (price, size) equality against the frontier-level frame, which
    * is bounded by the distinct-size cardinality.
    *
    * Scale shape: one hash aggregate on price + a window over
    * distinct-price rows + one join against the ≤|sizes| frontier
    * frame. The window's single ordered pass is the skyline
    * algorithm itself — sort-based skyline, Börzsönyi et al. 2001 —
    * with the sort delegated to Spark's range-partitioned exchange.
    */
  def q_skyline(s: SparkSession, dir: String): DataFrame = {
    val lvl = t(s, dir, "part")
      .groupBy("p_retailprice").agg(max(col("p_size")).as("lvl_size"))
    val w = Window.orderBy("p_retailprice")
      .rowsBetween(Window.unboundedPreceding, -1)
    val frontier = lvl
      .withColumn("best_cheaper", max(col("lvl_size")).over(w))
      .filter(col("best_cheaper").isNull ||
        col("lvl_size") > col("best_cheaper"))
      .select(col("p_retailprice"), col("lvl_size"))
    t(s, dir, "part")
      .join(frontier, Seq("p_retailprice"))
      .filter(col("p_size") === col("lvl_size"))
      .select(col("p_partkey"), col("p_name"),
        col("p_retailprice"), col("p_size").cast("long").as("p_size"))
      .orderBy("p_retailprice", "p_partkey")
  }

  /** Exact weighted median of order value per priority, weighted by
    * the order's line count — "the order price at which half the
    * LINES sit below" (a volume-weighted center, robust where the
    * plain median over-weights single-line orders). Lower weighted
    * median: the first price (in price order) whose running weight
    * reaches half the total, found with two windows and an exact
    * integer 2·cumw ≥ W comparison — no doubles anywhere until the
    * display rounding.
    *
    * Scale shape: one aggregate for weights, one partitioned window
    * pass, one final aggregate — all shuffles on the group key.
    */
  def q_weighted_median(s: SparkSession, dir: String): DataFrame = {
    val weights = t(s, dir, "lineitem")
      .groupBy("l_orderkey").agg(count(lit(1)).as("w"))
    val ord = t(s, dir, "orders")
      .join(weights, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderpriority").as("prio"), col("o_orderkey"),
        col("o_totalprice").as("price"), col("w"))
    val wRun = Window.partitionBy("prio")
      .orderBy(col("price"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window.partitionBy("prio")
    ord
      .withColumn("cumw", sum(col("w")).over(wRun))
      .withColumn("wtot", sum(col("w")).over(wAll))
      .filter(col("cumw") * 2 >= col("wtot"))
      .groupBy("prio")
      .agg(count(lit(1)).as("n_at_or_above"),
        max(col("wtot")).as("w_total"),
        round(min(col("price")).cast("decimal(18,2)").cast("double"), 2)
          .as("w_median"))
      .orderBy("prio")
  }

  /** Gaps-and-islands: per event_type, the activity-streak profile of
    * the hourly series — total active hours, number of maximal
    * consecutive-hour runs, and the longest run with its start hour
    * (earliest on ties). The island id is the classic epoch-hour −
    * row_number() difference (constant within a consecutive run,
    * distinct across gaps); the longest island is picked by a
    * rank over (len DESC, start) so both engines tie-break
    * identically without struct-extremum support.
    *
    * Scale shape: the corpus collapses to distinct (type, hour) in
    * one aggregate; islands and ranks run on series-sized data.
    */
  def q_streak(s: SparkSession, dir: String): DataFrame = {
    val hrs = t(s, dir, "events")
      .select(col("event_type"), date_trunc("hour", col("ts")).as("h"),
        (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
          .cast("long").as("eh"))
      .distinct()
    val wSeq = Window.partitionBy("event_type").orderBy("eh")
    val isl = hrs
      .withColumn("grp", col("eh") - row_number().over(wSeq))
      .groupBy("event_type", "grp")
      .agg(count(lit(1)).as("len"), min(col("h")).as("start_h"))
    val wBest = Window.partitionBy("event_type")
      .orderBy(col("len").desc, col("start_h"))
    isl
      .withColumn("rk", row_number().over(wBest))
      .withColumn("n_active_hours",
        sum(col("len")).over(Window.partitionBy("event_type")))
      .withColumn("n_streaks",
        count(lit(1)).over(Window.partitionBy("event_type")))
      .filter(col("rk") === 1)
      .select(col("event_type"),
        col("n_active_hours").cast("long").as("n_active_hours"),
        col("n_streaks"), col("len").as("longest"),
        col("start_h").as("longest_start"))
      .orderBy("event_type")
  }

  /** CDC merge accounting: apply the second half of the event stream
    * as a change feed onto the LWW user-state snapshot built from the
    * first half, and report the MERGE INTO outcome per operation —
    * insert (new key), update (existing key, new last event), delete
    * (the feed's last event is the modeled `error` tombstone), carry
    * (key untouched by the feed). Both halves reduce to one row per
    * user through the engine's LWW reduce, [[LwwSink.reduce]] over
    * (ts, event_id) — the order q_window_dedup_lww declares — and the
    * merge itself is ONE full-outer join on the user key with exact
    * count/checksum aggregates, the shape a table-format MERGE
    * executes at scale.
    */
  def q_cdc_merge(s: SparkSession, dir: String): DataFrame = {
    val cutoff = lit("2024-01-16 00:00:00").cast("timestamp")
    val ev = t(s, dir, "events")
    val snap = LwwSink.reduce(ev.filter(col("ts") < cutoff),
      Seq("user_id"), col("ts"), col("event_id"))
      .select(col("user_id"), col("event_type").as("snap_et"))
    val delta = LwwSink.reduce(ev.filter(col("ts") >= cutoff),
      Seq("user_id"), col("ts"), col("event_id"))
      .select(col("user_id"), col("event_type").as("delta_et"))
    snap.join(delta, Seq("user_id"), "full_outer")
      .select(col("user_id"),
        when(col("delta_et").isNull, lit("carry"))
          .when(col("delta_et") === "error", lit("delete"))
          .when(col("snap_et").isNull, lit("insert"))
          .otherwise(lit("update")).as("op"))
      .groupBy("op")
      .agg(count(lit(1)).as("n_users"), sum(col("user_id")).as("checksum"))
      .orderBy("op")
  }

  /** Seasonal-naive forecast backtest: predict each hour's event
    * count by the same hour one day earlier, then score MAE / RMSE /
    * mean bias per event_type from exact BIGINT error sums. The
    * hourly series is first densified onto each series' complete
    * min→max hour spine (a missing hour IS a real observation of 0
    * events), so the lag-24 forecast always aligns to exactly one
    * day back — on a sparse series a row-based lag would silently
    * compare across gaps, and at sf0.001 would leave no aligned
    * rows at all. The baseline every real forecasting pipeline must
    * beat — and the evaluation harness for one.
    *
    * Scale shape: identical to q_linreg — corpus → bounded hourly
    * frame in one aggregate; the spine explode, window and final
    * aggregate run on series-sized data (≤ hours-in-span rows per
    * series regardless of corpus size).
    */
  def q_forecast_eval(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
    val spine = hourly.groupBy("event_type")
      .agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"),
          expr("INTERVAL 1 HOUR"))).as("h"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val err = col("cnt") - col("f")
    val n = col("n_eval").cast("double")
    spine
      .join(hourly, Seq("event_type", "h"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("f", lag(col("cnt"), 24).over(w))
      .filter(col("f").isNotNull)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_eval"),
        sum(abs(err)).as("sae"),
        sum(err).as("sbias"),
        sum(err * err).as("sse"))
      .select(col("event_type"), col("n_eval"),
        round(col("sae").cast("double") / n, 4).as("mae"),
        round(sqrt(col("sse").cast("double") / n), 4).as("rmse"),
        round(col("sbias").cast("double") / n, 4).as("bias"))
      .orderBy("event_type")
  }

  /** RFM customer segmentation — the classic marketing-analytics
    * cohorting: per customer, recency (days from the latest order
    * date in the table back to the customer's last order), frequency
    * (order count) and monetary (exact DECIMAL revenue), each cut
    * into quartiles with `ntile(4)`, then segment populations and
    * revenue reported per (segment, R, F, M) cell.
    *
    * Determinism: ntile is tie-broken by appending c_custkey to each
    * ORDER BY, making the quartile assignment a total order both
    * engines walk identically. Scale shape: the ntile windows are
    * PARTITIONED by c_mktsegment (quartiles-within-segment), so no
    * global single-partition sort exists; the per-customer frame is
    * one hash aggregate over orders, and the reference date is a
    * broadcast 1-row aggregate.
    */
  def q_rfm(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
    val c = t(s, dir, "customer")
    val ref = broadcast(
      o.agg(max(to_date(col("o_orderdate"))).as("__ref")))
    val perCust = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_custkey"), col("c_mktsegment"))
      .agg(max(to_date(col("o_orderdate"))).as("last_d"),
        count(lit(1)).as("freq"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("mon"))
      .crossJoin(ref)
      .select(col("c_custkey"), col("c_mktsegment"),
        datediff(col("__ref"), col("last_d")).cast("long").as("rec_days"),
        col("freq"), col("mon"))
    def q4(keys: org.apache.spark.sql.Column*) =
      ntile(4).over(Window.partitionBy("c_mktsegment").orderBy(keys: _*))
        .cast("long")
    perCust
      .withColumn("r_q", q4(col("rec_days"), col("c_custkey")))
      .withColumn("f_q", q4(col("freq").desc, col("c_custkey")))
      .withColumn("m_q", q4(col("mon").desc, col("c_custkey")))
      .groupBy("c_mktsegment", "r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("mon")).cast("double"), 2).as("total_monetary"))
      .orderBy("c_mktsegment", "r_q", "f_q", "m_q")
  }

  /** Period-over-period growth: monthly order revenue with
    * month-over-month and year-over-year percent change via `lag(1)`
    * / `lag(12)` on the monthly frame. The row-based lag is the
    * declared semantic ("previous observed month") — the testdata's
    * order stream has no empty months at any SF; a sparse calendar
    * would densify onto a month spine first exactly as
    * q_forecast_eval does for hours.
    *
    * Growth is computed in DOUBLE from the exact decimal revenue
    * (cents→double is exact far past this magnitude), one IEEE
    * division both engines share. The unpartitioned window runs on
    * the AGGREGATED monthly frame — bounded by the calendar (≤ a few
    * hundred rows however large the corpus), the q_linreg /
    * q_changepoint scale pattern.
    */
  def q_growth(s: SparkSession, dir: String): DataFrame = {
    // month grain is a DATE (DuckDB's date_trunc('month') yields DATE)
    val monthly = t(s, dir, "orders")
      .groupBy(date_trunc("month", col("o_orderdate")).cast("date").as("mon"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("rev_d"))
    val w = Window.orderBy("mon")
    monthly
      .withColumn("prev", lag(col("rev_d"), 1).over(w))
      .withColumn("prev12", lag(col("rev_d"), 12).over(w))
      .select(col("mon"), col("n_orders"),
        round(col("rev_d"), 2).as("revenue"),
        round((col("rev_d") - col("prev")) / col("prev") * 100, 4)
          .as("mom_pct"),
        round((col("rev_d") - col("prev12")) / col("prev12") * 100, 4)
          .as("yoy_pct"))
      .orderBy("mon")
  }

  /** Top event paths — sequential pattern mining's workhorse query:
    * every length-3 step sequence a user walks (ordered by (ts,
    * event_id), the engine-identical total order), counted corpus-wide,
    * top-20. Two `lead`s in ONE window materialize each trigram at its
    * first step, so a user with n events contributes exactly n−2
    * paths with no self-join. Scale: the window is partitioned by
    * user; the count is one partial-combining hash aggregate over
    * 125 distinct paths.
    */
  def q_paths(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(20)
  }

  /** EWMA smoothing constants — shared verbatim with the oracle:
    * α = 1/2 over a [[ewmaTaps]]-tap truncated horizon, so the weight
    * of lag k is 2^(taps−1−k) and the normalizer is 2^taps − 1.
    * Power-of-two weights keep the weighted sum EXACT BIGINT
    * arithmetic; the single final division is the only float op.
    */
  private[graft] val ewmaTaps = 8

  /** Exponentially-weighted moving average of the hourly event count
    * per event_type — the smoothing primitive behind anomaly
    * dashboards and rate limiters. The hourly series is densified
    * onto each series' min→max hour spine first (a missing hour is a
    * real 0 — the q_forecast_eval lesson: row-based lags on a sparse
    * series silently span gaps), then one window with an 8-tap
    * integer-weighted lag chain computes
    * `Σ 2^(7−k)·cnt[t−k]` exactly; smooth = that sum / 255.
    *
    * Scale shape: corpus → bounded hourly frame in one aggregate;
    * the spine explode and window run on calendar-sized data.
    */
  def q_ewma(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
    val spine = hourly.groupBy("event_type")
      .agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"),
          expr("INTERVAL 1 HOUR"))).as("h"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val taps = ewmaTaps
    val wsum = (0 until taps)
      .map(k => lag(col("cnt"), k).over(w) * lit(1L << (taps - 1 - k)))
      .reduce(_ + _)
    spine
      .join(hourly, Seq("event_type", "h"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
      .withColumn("wnum", wsum)
      .filter(col("wnum").isNotNull) // first taps−1 hours: no full window
      .select(col("event_type"), col("h"), col("cnt"),
        round(col("wnum").cast("double") /
          lit(((1L << taps) - 1).toDouble), 4).as("smooth"))
      .orderBy("event_type", "h")
  }

  /** Max ACF lag in hours — 24 so a daily cycle shows as a ridge at
    * the last lag. Shared verbatim with the oracle.
    */
  private[graft] val acfMaxLag = 24

  /** Autocorrelation function of the hourly event-count series per
    * event type, lags 1..[[acfMaxLag]] — the periodicity detector
    * complementing q_seasonality's χ² cells (a daily cycle is a ridge
    * at lag 24, weekly at 168). The series is densified onto each
    * type's min→max hour spine first (the q_ewma lesson: row lags on
    * a sparse series silently span gaps), then ONE pass computes
    * every lag's aligned products via [[acfMaxLag]] lead columns and
    * a single hash aggregate. The standard estimator
    * r_k = Σ(x_t−x̄)(x_{t+k}−x̄) / Σ(x_t−x̄)² is assembled from
    * integer moments only — multiplied through by n² it becomes
    * (n²·Q_k − n·S·(A_k+B_k) + (n−k)·S²) / (n·(n·Q − S²)) with every
    * factor an exact DECIMAL(38,0) — so both engines compute the
    * identical rational and the single float op is the final
    * division.
    *
    * Scale shape: corpus → bounded hourly frame in one partial-
    * combining aggregate; the lead chain, moment aggregate and lag
    * explode all run on calendar-sized data (hours × types),
    * constant in SF.
    */
  def q_acf(s: SparkSession, dir: String): DataFrame = {
    val hourly = t(s, dir, "events")
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("h"))
      .agg(count(lit(1)).as("cnt"))
    val spine = hourly.groupBy("event_type")
      .agg(min(col("h")).as("mn"), max(col("h")).as("mx"))
      .select(col("event_type"),
        explode(sequence(col("mn"), col("mx"),
          expr("INTERVAL 1 HOUR"))).as("h"))
    val w = Window.partitionBy("event_type").orderBy("h")
    val dense = spine.join(hourly, Seq("event_type", "h"), "left")
      .withColumn("cnt", coalesce(col("cnt"), lit(0L)))
    val withLeads = (1 to acfMaxLag).foldLeft(dense)((d, k) =>
      d.withColumn(s"l$k", lead(col("cnt"), k).over(w)))
    val aggs = Seq(count(lit(1)).as("n"), sum(col("cnt")).as("s"),
      sum(col("cnt") * col("cnt")).as("q")) ++
      (1 to acfMaxLag).flatMap(k => Seq(
        sum(col("cnt") * col(s"l$k")).as(s"q$k"),
        sum(when(col(s"l$k").isNotNull, col("cnt"))).as(s"a$k"),
        sum(col(s"l$k")).as(s"b$k")))
    val m = withLeads.groupBy("event_type").agg(aggs.head, aggs.tail: _*)
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    val rows = (1 to acfMaxLag).map { k =>
      val num = dec(col("n")) * dec(col("n")) * dec(col(s"q$k")) -
        dec(col("n")) * dec(col("s")) *
          (dec(col(s"a$k")) + dec(col(s"b$k"))) +
        (dec(col("n")) - lit(k)) * dec(col("s")) * dec(col("s"))
      val den = dec(col("n")) *
        (dec(col("n")) * dec(col("q")) - dec(col("s")) * dec(col("s")))
      struct(lit(k.toLong).as("lag"),
        (col("n") - lit(k)).cast("long").as("n_pairs"),
        round(num.cast("double") / den.cast("double"), 6).as("acf"))
    }
    m.select(col("event_type"), explode(array(rows: _*)).as("r"))
      .select(col("event_type"), col("r.lag").as("lag"),
        col("r.n_pairs").as("n_pairs"), col("r.acf").as("acf"))
      .orderBy("event_type", "lag")
  }

  /** PSI drift threshold (the industry-standard 0.2 = "significant
    * shift" rule) and the equi-width value bin size — shared verbatim
    * with the oracle.
    */
  private[graft] val psiBinWidth = 50
  private[graft] val psiDriftBound = "0.2"

  /** Population-stability-index drift report per event type: the
    * event stream splits at its epoch midpoint into a reference and a
    * current window (the compare `2·e ≤ mn+mx` keeps the boundary
    * integer-exact — no division), values bin equi-width (the
    * q_histogram discipline), and PSI = Σ (p−q)·ln(p/q) over the
    * type's observed bins with +1 Laplace smoothing so one-sided bins
    * stay finite: p = (c_ref+1)/(n_ref+K), q = (c_cur+1)/(n_cur+K).
    * The ln argument is formed as one exact integer ratio
    * ((c_ref+1)·(n_cur+K)) / ((c_cur+1)·(n_ref+K)) before the float
    * divide, and each bin's contribution rounds to DECIMAL(18,6)
    * BEFORE the exact decimal sum (the q_kl_mixture discipline —
    * order-independent, engine-identical).
    *
    * Scale shape: one scan → one partial-combining hash aggregate on
    * (type, window, bin); everything after runs on the bounded
    * (types × bins) frame. The drift flag compares the exact decimal
    * sum against [[psiDriftBound]].
    */
  def q_psi_drift(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "events").select(col("event_type"),
      col("ts").cast("long").as("e"),
      floor(col("value") / psiBinWidth).cast("long").as("bin"))
    val bounds = broadcast(e.agg(min(col("e")).as("mn"), max(col("e")).as("mx")))
    val binned = e.crossJoin(bounds)
      .withColumn("is_ref", (col("e") * 2 <= col("mn") + col("mx")).cast("long"))
      .groupBy("event_type", "bin")
      .agg(sum(col("is_ref")).as("c_ref"),
        sum(lit(1L) - col("is_ref")).as("c_cur"))
    psiFromBinned(binned)
  }

  /** The PSI arithmetic over a (event_type, bin, c_ref, c_cur) frame —
    * FACTORED so the streaming twin's drain projection shares the
    * exact per-bin float path and rounding with the batch query (the
    * shared-snippet discipline: a re-derived p/q division could
    * differ in the last ulp and flip a 6-dp rounding).
    */
  private[graft] def psiFromBinned(binned: DataFrame): DataFrame = {
    val typ = Window.partitionBy("event_type")
    val contrib = binned
      .withColumn("n_ref", sum(col("c_ref")).over(typ))
      .withColumn("n_cur", sum(col("c_cur")).over(typ))
      .withColumn("k", count(lit(1)).over(typ))
      .withColumn("p",
        (col("c_ref") + 1).cast("double") / (col("n_ref") + col("k")))
      .withColumn("q",
        (col("c_cur") + 1).cast("double") / (col("n_cur") + col("k")))
      .withColumn("lr",
        log(((col("c_ref") + 1) * (col("n_cur") + col("k"))).cast("double") /
          ((col("c_cur") + 1) * (col("n_ref") + col("k"))).cast("double")))
      .withColumn("contrib",
        round((col("p") - col("q")) * col("lr"), 6).cast("decimal(18,6)"))
    contrib.groupBy("event_type")
      .agg(max(col("n_ref")).as("n_ref"), max(col("n_cur")).as("n_cur"),
        count(lit(1)).as("n_bins"),
        sum(col("contrib")).as("psi_d"))
      .select(col("event_type"), col("n_ref"), col("n_cur"), col("n_bins"),
        col("psi_d").cast("double").as("psi"),
        (col("psi_d") > expr(psiDriftBound)).cast("long").as("drifted"))
      .orderBy("event_type")
  }

  /** Smoothing prior strength for the mean target encoder (in
    * pseudo-observation count units) — shared verbatim with the
    * oracle.
    */
  private[graft] val encodePrior = 10

  /** Leave-one-out mean target encoding of the high-cardinality
    * user_id key against the event value — the standard ML feature
    * transform (LOO so a row never leaks its own target into its
    * feature; a smoothed variant shrinks rare users toward the global
    * mean). Per-user sums are exact DECIMAL(18,2) (§2.12 rule 2), so
    * LOO = (S − x)/(n−1) subtracts exactly and the smoothed encoding
    * (S + m·ḡ)/(n + m) is formed as the exact rational
    * (S·G_n + m·G_s)/(G_n·(n + m)). The 4-dp half-up rounding is then
    * done in INTEGER arithmetic — ⌊(2a + d)/(2d)⌋ for a/d·10⁴ —
    * because rounding the float quotient disagrees across engines
    * exactly when the rational lands on a half boundary (4 of 10k
    * rows in the first cut flipped the 4th decimal).
    *
    * PRECONDITION: the ⌊(2a+d)/(2d)⌋ convention is round-HALF-UP only
    * for non-negative numerators a (here: event values ≥ 0, so every
    * sum/LOO difference is ≥ 0). With negative values both engines'
    * `div` truncates toward zero, which shifts the convention to
    * round-half-AWAY-from-zero territory inconsistently — a corpus
    * with refunds must first split sign or use a sign-aware formula
    * (⌊(2a+sgn(a)·d)/(2d)⌋). Same caveat applies to q_jackknife's
    * LOO means.
    *
    * Scale shape: one partial-combining aggregate on user_id, the
    * 1-row global frame broadcast, and one equi-join back on user_id
    * — two shuffles on the same key (AQE coalesces), output linear in
    * the events scanned. No window, no sort except the declared
    * output order.
    */
  def q_target_encode(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select(col("event_id"), col("user_id"),
      col("value").cast("decimal(18,2)").as("v"))
    val perUser = ev.groupBy("user_id")
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
    val g = broadcast(ev.agg(
      sum(col("v")).as("gs"), count(lit(1)).as("gn")))
    val m = encodePrior
    ev.join(perUser, "user_id").crossJoin(g)
      // all ×10⁴ integer-division operands go through DECIMAL(38,0),
      // not BIGINT: s·gn·10⁴ passes 2⁶³ around sf100 event volumes,
      // where Spark's cast silently NULLs while DuckDB errors — the
      // exact defect class the q_lorenz sf100 spot caught (there the
      // fix was DECIMAL(38,0) / HUGEINT; mirrored in the oracle here)
      .withColumn("loo_num",
        ((col("s") - col("v")) * 10000).cast("decimal(38,0)"))
      .withColumn("loo_den", (col("n") - 1).cast("decimal(38,0)"))
      .withColumn("sm_num",
        ((col("s") * 10000).cast("decimal(38,0)") * col("gn")
          + lit(m) * (col("gs") * 10000).cast("decimal(38,0)"))
          .cast("decimal(38,0)"))
      .withColumn("sm_den",
        (col("gn").cast("decimal(38,0)") * (col("n") + lit(m)))
          .cast("decimal(38,0)"))
      .select(col("event_id"), col("user_id"),
        when(col("n") > 1,
          expr("CAST((2 * loo_num + loo_den) div (2 * loo_den) AS DOUBLE)")
            / 10000).as("loo_enc"),
        (expr("CAST((2 * sm_num + sm_den) div (2 * sm_den) AS DOUBLE)")
          / 10000).as("smooth_enc"))
      .orderBy("event_id")
  }

  /** Hot-hour factor: an hour is "hot" when its event count exceeds
    * this multiple of the mean hourly count (compared integer-exactly
    * as cnt·n_hours > factor·total). Shared verbatim with the oracle.
    */
  private[graft] val hotHourFactor = 2

  /** Interval-overlap join — sessions × hot hours: each user session
    * (the q_sessionize gap rule) is joined against the calendar hours
    * whose global event count ran above [[hotHourFactor]]× the mean,
    * reporting how much of each session overlapped a load spike. The
    * inequality join (s_start ≤ h+3599 AND s_end ≥ h) is re-expressed
    * as an EQUI-join: each session explodes to its covered hour
    * buckets (`sequence(s_start/3600, s_end/3600)` — exactly the
    * hours its interval intersects), the hot-hour frame is
    * calendar-bounded and broadcast, and the matches aggregate back
    * per session. The RangeHalo discipline applied to joins: no
    * BroadcastNestedLoop, no range condition at scale — fan-out is
    * session-hours (linear: sessions are gap-bounded), the join is
    * hash-on-hour.
    */
  def q_join_interval(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val run = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val sessions = t(s, dir, "events")
      .withColumn("e", col("ts").cast("long"))
      .withColumn("prev_e", lag(col("e"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_e").isNull || col("e") - col("prev_e") >= 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum(col("new_session")).over(run))
      .groupBy("user_id", "session_id")
      .agg(min(col("e")).as("s_start"), max(col("e")).as("s_end"),
        count(lit(1)).as("n_events"))
    val hourly = t(s, dir, "events")
      .groupBy((col("ts").cast("long") -
        pmod(col("ts").cast("long"), lit(3600))).as("h"))
      .agg(count(lit(1)).as("cnt"))
    val tot = broadcast(hourly.agg(
      sum(col("cnt")).as("total"), count(lit(1)).as("n_hours")))
    val hot = broadcast(hourly.crossJoin(tot)
      .filter(col("cnt") * col("n_hours") > lit(hotHourFactor) * col("total"))
      .select(col("h").as("hot_h"), col("cnt").as("hot_cnt")))
    sessions
      .select(col("user_id"), col("session_id"), col("s_start"), col("s_end"),
        col("n_events"),
        explode(sequence(floor(col("s_start") / 3600).cast("long"),
          floor(col("s_end") / 3600).cast("long"))).as("hb"))
      .join(hot, col("hb") * 3600 === col("hot_h"), "left")
      .groupBy("user_id", "session_id")
      .agg(min(col("s_start")).as("s_start"), min(col("s_end")).as("s_end"),
        min(col("n_events")).as("n_events"),
        count(col("hot_h")).as("n_hot_hours"),
        min(col("hot_h")).as("first_hot_h"))
      .select(col("user_id"), col("session_id"), col("s_start"),
        col("s_end"), col("n_events"), col("n_hot_hours"),
        col("first_hot_h"))
      .orderBy("user_id", "session_id")
  }

  /** Event-followup self-join — the BATCH twin of the stream-stream
    * interval join ([[graft.streaming.Streams.followupJoin]], shared
    * code: the watermark nodes it attaches are eliminated by the
    * batch planner, so both declared queries execute the IDENTICAL
    * join expression). For every event, the same user's events in
    * the next 10 minutes. Unlike q_join_interval's keyless range
    * join (which needs the bucketed equi-rewrite), this join HAS an
    * equi key — user_id — so the range condition is a residual
    * predicate on a plain shuffled hash/sort-merge join: per-user
    * fan-out is activity within a bounded horizon, linear at scale.
    */
  def q_join_followup(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select("event_id", "ts", "user_id")
    graft.streaming.Streams.followupProject(
      graft.streaming.Streams.followupJoin(ev, ev))
  }

  /** Snapshot cutoffs for the reconciliation diff — shared verbatim
    * with the oracle.
    */
  private[graft] val snapCut1 = "1998-01-01"
  private[graft] val snapCut2 = "2001-01-01"

  /** Snapshot reconciliation diff — the dataset-compare primitive
    * behind every migration/backfill audit: per-customer order count
    * and exact-decimal spend are materialized as-of two order-date
    * cutoffs and classified `added` (absent from the earlier
    * snapshot), `changed` (present in both, any measure differs) or
    * `unchanged`. Both snapshots come from ONE scan and ONE
    * partial-combining aggregate (conditional sums on the cutoff
    * predicates) — no self-join, no second pass; the status column is
    * a map-side compare of exact decimals. Output is linear in the
    * customers observed; spend emits via the dsum2 rounded-DOUBLE
    * display discipline.
    */
  def q_snapshot_diff(s: SparkSession, dir: String): DataFrame = {
    val in1 = col("o_orderdate") < lit(snapCut1).cast("timestamp")
    val in2 = col("o_orderdate") < lit(snapCut2).cast("timestamp")
    val v = col("o_totalprice").cast("decimal(18,2)")
    t(s, dir, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(when(in1, lit(1L)).otherwise(lit(0L))).as("n1"),
        sum(when(in2, lit(1L)).otherwise(lit(0L))).as("n2"),
        sum(when(in1, v).otherwise(lit(0).cast("decimal(18,2)"))).as("s1"),
        sum(when(in2, v).otherwise(lit(0).cast("decimal(18,2)"))).as("s2"))
      .filter(col("n2") > 0)
      .select(col("o_custkey"),
        when(col("n1") === 0, lit("added"))
          .when(col("n1") =!= col("n2") || col("s1") =!= col("s2"),
            lit("changed"))
          .otherwise(lit("unchanged")).as("status"),
        col("n1"), col("n2"),
        round(col("s1").cast("double"), 2).as("spend1"),
        round(col("s2").cast("double"), 2).as("spend2"))
      .orderBy("o_custkey")
  }

  /** Multi-grain time rollup — the hour→day→week→total hierarchy
    * materialized in ONE pass with `ROLLUP` over derived time
    * columns: one scan, one Expand(4), one partial-combining hash
    * aggregate on calendar-bounded keys, where the naive form is four
    * scans of the corpus. `date_trunc('week')` is Monday-based in
    * both engines (the q_seasonality convention note); exact decimal
    * value sums emit via the dsum2 rounded-DOUBLE discipline.
    */
  def q_time_rollup(s: SparkSession, dir: String): DataFrame = {
    val view = s"events_tr_${Integer.toHexString(dir.hashCode)}"
    t(s, dir, "events").createOrReplaceTempView(view)
    s.sql(s"""SELECT
      |  CASE WHEN grouping(h) = 0 THEN 'hour'
      |       WHEN grouping(d) = 0 THEN 'day'
      |       WHEN grouping(w) = 0 THEN 'week'
      |       ELSE 'total' END AS grain,
      |  coalesce(h, d, w) AS bucket,
      |  count(*) AS cnt,
      |  round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 2)
      |    AS total_value
      |FROM (SELECT value, date_trunc('week', ts) AS w,
      |        date_trunc('day', ts) AS d, date_trunc('hour', ts) AS h
      |      FROM $view)
      |GROUP BY ROLLUP (w, d, h)
      |ORDER BY grain, bucket""".stripMargin)
  }

  /** Per-user lag features — the standard sequence-model feature
    * block (previous value, trailing-3 mean EXCLUDING the current
    * row, seconds since the previous event) in one window pass over
    * one shuffle on user_id. The trailing mean divides an exact
    * DECIMAL(18,2) sum by the frame row count; with 2-decimal inputs
    * and n ≤ 3 the quotient provably never lands on a 4-dp half
    * boundary (cents·50 is an integer for n=2; cents·200/3 is always
    * even for n=3), so the float round is engine-identical without
    * the q_target_encode integer-div detour.
    */
  def q_lag_features(s: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val trail3 = byUser.rowsBetween(-3, -1)
    t(s, dir, "events")
      .withColumn("e", col("ts").cast("long"))
      .withColumn("v", col("value").cast("decimal(18,2)"))
      .withColumn("prev_value",
        round(lag(col("v"), 1).over(byUser).cast("double"), 2))
      .withColumn("trail3_n", count(col("v")).over(trail3))
      .withColumn("trail3_mean",
        when(col("trail3_n") > 0,
          round(sum(col("v")).over(trail3).cast("double") / col("trail3_n"),
            4)))
      .withColumn("secs_since_prev", col("e") - lag(col("e"), 1).over(byUser))
      .select(col("event_id"), col("user_id"), col("prev_value"),
        col("trail3_n"), col("trail3_mean"), col("secs_since_prev"))
      .orderBy("event_id")
  }

  /** Cumulative distinct users by day — the growth-accounting curve
    * ("how many users have we EVER seen as of day d"): each user
    * collapses to their first-seen day in one partial-combining
    * aggregate, a second bounded aggregate counts new users per day,
    * and the running total is a window over the calendar-sized daily
    * frame. The naive per-day `countDistinct` over expanding
    * prefixes is quadratic in days × corpus; this is two hash
    * aggregates and a ≤ #days window.
    */
  def q_cume_users(s: SparkSession, dir: String): DataFrame = {
    val firstDay = t(s, dir, "events")
      .groupBy("user_id").agg(min(date_trunc("day", col("ts"))).as("day"))
    val w = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    firstDay.groupBy("day").agg(count(lit(1)).as("new_users"))
      .withColumn("cume_users", sum(col("new_users")).over(w))
      .orderBy("day")
  }

  /** Gini coefficient of per-customer revenue — the inequality
    * readout behind every "top x% of customers drive y% of revenue"
    * dashboard (q_concentration's scale-free companion). Formula
    * G = Σ(2i − n − 1)·x_i / (n·Σx) over spend sorted ascending with
    * i the exact global rank — ranks come from [[ScalableRank]]
    * (range partition + local indices), NOT a single-partition
    * window sort, so the sort parallelizes at any customer count.
    * Spend is exact DECIMAL(18,2) converted to integer cents; the
    * numerator/denominator are exact DECIMAL(38,0) and the 6-dp
    * half-up rounding is integer division (the q_target_encode
    * discipline), so the single emitted double is engine-identical.
    */
  def q_gini(s: SparkSession, dir: String): DataFrame = {
    val spend = t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("s"))
      .select(col("o_custkey"), (col("s") * 100).cast("long").as("cents"))
    val ranked = ScalableRank.withRank(
      spend.withColumn("g", lit(1)), 32, "g",
      Seq("cents", "o_custkey"), "i")
    val tot = broadcast(ranked.groupBy("g")
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("total")))
    def dec(c: org.apache.spark.sql.Column) = c.cast("decimal(38,0)")
    ranked.join(tot, "g")
      .select(col("n"), col("total"),
        (dec(lit(2) * col("i") - col("n") - 1) * dec(col("cents")))
          .as("term"))
      .groupBy("n", "total").agg(sum(col("term")).as("num"))
      .withColumn("den", dec(col("n")) * dec(col("total")))
      .select(col("n").as("n_customers"),
        round((col("total").cast("double")) / 100, 2).as("total_spend"),
        (expr("CAST((2 * num * 1000000 + den) div (2 * den) AS DOUBLE)")
          / 1000000).as("gini"))
      .orderBy("n_customers")
  }

  /** Lorenz curve by customer decile — [[q_gini]]'s readable
    * companion: customers sort ascending by exact-cents spend into
    * ten equal-population deciles ([[ScalableRank.withNtile]] —
    * range-partitioned, bit-identical to window ntile, never a
    * global single-partition sort), and each decile reports its
    * population, exact spend, and the cumulative revenue share — the
    * "bottom k% of customers drive x% of revenue" table. The 4-dp
    * share is integer division (the q_target_encode discipline);
    * everything after the rank runs on the 10-row decile frame.
    */
  def q_lorenz(s: SparkSession, dir: String): DataFrame = {
    val spend = t(s, dir, "orders")
      .groupBy("o_custkey")
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("s"))
      .select(col("o_custkey"), (col("s") * 100).cast("long").as("cents"))
      .withColumn("g", lit(1))
    // partition count from the session conf, not a local constant
    // (rank/ntile output is exact and partition-count-invariant, so
    // this only sets parallelism — scale-adaptive per the brief)
    val dec = ScalableRank.withNtile(spend,
      graft.Session.shufflePartitions(s), "g",
      Seq("cents", "o_custkey"), 10, "decile")
    val perDec = dec.groupBy("decile")
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("dc"))
    val tot = broadcast(perDec.agg(sum(col("dc")).as("tot")))
    val w = Window.orderBy("decile")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDec
      .withColumn("cum_cents", sum(col("dc")).over(w))
      .crossJoin(tot)
      // DECIMAL(38,0), not BIGINT: 2·cum·10⁴ overflows a long once
      // total cents pass ~4.6e14 — the sf100 spot caught exactly this
      .select(col("decile"), col("n_customers"),
        round(col("dc").cast("double") / 100, 2).as("decile_spend"),
        (expr("CAST((2 * CAST(cum_cents AS DECIMAL(38,0)) * 10000 + tot) " +
          "div (2 * CAST(tot AS DECIMAL(38,0))) AS DOUBLE)") / 10000)
          .as("cum_share"))
      .orderBy("decile")
  }

  /** Pairwise Pearson correlation matrix of four lineitem measures
    * (quantity, extendedprice, discount, tax) from ONE pass: a single
    * global hash aggregate collects every exact-decimal moment (4
    * sums, 4 sum-of-squares, 6 cross-products — partial-combining,
    * map-side), and all six correlations are derived from that one
    * 1-row frame. The multi-column generalization of q_agg_corr:
    * profiling k columns costs one scan and C(k,2) scalar divisions,
    * never k² passes.
    */
  def q_corr_matrix(s: SparkSession, dir: String): DataFrame = {
    val names = Seq("l_quantity" -> "quantity",
      "l_extendedprice" -> "extendedprice",
      "l_discount" -> "discount", "l_tax" -> "tax")
    val base = t(s, dir, "lineitem").select(
      names.map { case (c, a) => col(c).cast("decimal(18,2)").as(a) }: _*)
    val aggs = Seq(count(lit(1)).as("n")) ++
      names.map { case (_, a) => sum(col(a)).as(s"s_$a") } ++
      (for { i <- names.indices; j <- i until names.size } yield {
        val (a, b) = (names(i)._2, names(j)._2)
        sum((col(a) * col(b)).cast("decimal(30,4)")).as(s"s_${a}_$b")
      })
    val one = base.agg(aggs.head, aggs.tail: _*)
    def d(c: String) = col(c).cast("double")
    def corrOf(a: String, b: String) = {
      val n = col("n").cast("double")
      val cov = n * d(s"s_${a}_$b") - d(s"s_$a") * d(s"s_$b")
      val va = n * d(s"s_${a}_$a") - d(s"s_$a") * d(s"s_$a")
      val vb = n * d(s"s_${b}_$b") - d(s"s_$b") * d(s"s_$b")
      round(cov / sqrt(va * vb), 6)
    }
    val cells = for {
      i <- names.indices; j <- (i + 1) until names.size
    } yield struct(
      lit(s"${names(i)._2}~${names(j)._2}").as("pair"),
      corrOf(names(i)._2, names(j)._2).as("corr"))
    one.select(explode(array(cells: _*)).as("pc"))
      .select(col("pc.pair").as("pair"), col("pc.corr").as("corr"))
      .orderBy("pair")
  }

  /** Equi-DEPTH histogram — the quantile-band complement of
    * q_histogram's equi-width buckets: per order priority, order
    * totals are cut into ten equal-population bands with `ntile(10)`
    * (tie-broken by o_orderkey for an engine-identical total order),
    * and each band reports population, value range and exact-decimal
    * revenue share. Band membership needs a total order per group,
    * but a `ntile` window partitioned by the 5-value priority bounds
    * the sort's parallelism at 5 tasks — the super-linear watch item
    * BENCH_SCALE flagged (13× for 10× data). [[ScalableRank]] keeps
    * the exact ntile semantics (same oracle) while sorting on the
    * full range-partitioned width: one range shuffle, a tiny
    * per-(partition, group) offset aggregate, broadcast back.
    */
  def q_decile_bands(s: SparkSession, dir: String): DataFrame = {
    val o = t(s, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("p"))
    val np = graft.Session.shufflePartitions(s)
    ScalableRank.withNtile(o, np, "o_orderpriority",
        Seq("p", "o_orderkey"), 10, "band")
      .withColumn("band", col("band").cast("long"))
      .groupBy("o_orderpriority", "band")
      .agg(count(lit(1)).as("n"),
        round(min(col("p")).cast("double"), 2).as("lo"),
        round(max(col("p")).cast("double"), 2).as("hi"),
        round(sum(col("p")).cast("double"), 2).as("band_total"))
      .orderBy("o_orderpriority", "band")
  }

  /** Sliding-window span — shared verbatim with the oracle. */
  private[graft] val slidingHours = 6

  /** Exact sliding-window distinct users: for every hour, the count
    * of distinct users active in the trailing [[slidingHours]]-hour
    * window — the batch twin of streaming sliding counts, with EXACT
    * cardinality. Set-valued window frames can't be expressed as a
    * window aggregate, so each (user, hour) activity row is exploded
    * onto the ≤ W windows it covers (the standard sliding-window
    * surjection) and one (window, user)-distinct + one count
    * aggregate finish it: cost W × activity rows, linear, shuffles
    * keyed on the window hour. Only windows ending at an OBSERVED
    * activity hour are emitted (dense in this corpus; a spine join
    * adds empty windows when the calendar matters).
    */
  def q_sliding_uniques(s: SparkSession, dir: String): DataFrame = {
    val act = t(s, dir, "events")
      .select(col("user_id"),
        (unix_timestamp(date_trunc("hour", col("ts"))) / 3600L)
          .cast("long").as("eh"))
      .distinct()
    val hours = act.select(col("eh")).distinct()
    val covered = act
      .withColumn("w", explode(sequence(col("eh"),
        col("eh") + lit(slidingHours.toLong - 1))))
      .join(hours.withColumnRenamed("eh", "w"), Seq("w"))
      .select(col("w"), col("user_id")).distinct()
    covered.groupBy("w")
      .agg(count(lit(1)).as("n_users"))
      .select(col("w").as("window_eh"), col("n_users"))
      .orderBy("window_eh")
  }

  /** Funnel time-to-convert: per user, the delay from FIRST view to
    * the first purchase at-or-after it, summarized as population,
    * conversion count, mean and exact interpolated median delay —
    * the latency half of q_funnel's conversion-rate story. Exact
    * floor-epoch BIGINT deltas; mean = sum/count (one shared IEEE
    * division), median via the (n−1)·q interpolation both engines
    * share (§2.12 / q_agg_quantile). Shape: two filtered min
    * aggregates + one equi-join + one global aggregate.
    */
  def q_funnel_time(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events")
    def firstAt(et: String, as: String) =
      ev.filter(col("event_type") === et)
        .groupBy("user_id")
        .agg(min(unix_timestamp(col("ts"))).as(as))
    val v = firstAt("view", "v_ts")
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_timestamp(col("ts")).as("p_ts"))
    // the at-or-after predicate must be IN the join: a post-join
    // filter would silently drop a viewer whose purchases all
    // precede the first view, undercounting n_viewers
    val delays = v.as("v")
      .join(p.as("p"),
        col("v.user_id") === col("p.user_id")
          && col("p.p_ts") >= col("v.v_ts"), "left")
      .groupBy(col("v.user_id").as("user_id"), col("v.v_ts").as("v_ts"))
      .agg(min(col("p.p_ts")).as("first_p"))
      .select(col("user_id"), (col("first_p") - col("v_ts")).as("delay_s"))
    delays.agg(
      count(lit(1)).as("n_viewers"),
      count(col("delay_s")).as("n_converted"),
      sum(col("delay_s")).as("sdelay"),
      percentile(col("delay_s"), lit(0.5)).as("med"))
      .select(col("n_viewers"), col("n_converted"),
        round(col("sdelay").cast("double")
          / col("n_converted").cast("double"), 4).as("mean_delay_s"),
        round(col("med"), 4).as("median_delay_s"))
  }

  /** Navigation-function journey matrix: each user's first, second
    * and last event type from `first/nth_value/last` over ONE
    * whole-partition window frame (ROWS UNBOUNDED PRECEDING →
    * UNBOUNDED FOLLOWING — the frame `last_value` needs to mean
    * "partition last", not "running last"), plus the first→last span
    * in floor-epoch seconds; journeys then grouped into a bounded
    * (first, second, last) matrix with populations and mean span.
    * second_et is coalesced to 'none' for single-event users (sort
    * key, §2.12 NULL rule). Mean span is sum/count of exact BIGINTs
    * — one shared IEEE division, not avg()'s engine-internal fold.
    */
  /** HLL audience-overlap matrix — pairwise distinct-user
    * intersection between event types by inclusion–exclusion on
    * HyperLogLog sketches: |A∩B| ≈ |A| + |B| − |A∪B|, each term an
    * approx_count_distinct. The exact form (q_source_overlap's shape)
    * shuffles the full (user, type) universe per pair; the sketch
    * form's per-pair state is a CONSTANT-size HLL regardless of
    * audience size — the mergeable-summary shape again (the CMS/HLL
    * family). Each event row fans to its k−1 pairs map-side (bounded
    * by the type universe, not rows). Spark's HLL hash is fixed, so
    * the estimates are deterministic and partition-invariant —
    * rows-only by §2.12 (no DuckDB HLL twin); AnalyticsSpec pins
    * every estimate within the configured rsd envelope of the exact
    * intersection.
    */
  val hllOverlapRsd = 0.02

  def q_hll_overlap(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select("event_type", "user_id")
    val types = ev.select("event_type").distinct()
    val perType = ev.groupBy("event_type")
      .agg(approx_count_distinct(col("user_id"), hllOverlapRsd).as("n"))
    val pairs = types.as("a").join(types.as("b"),
      col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
    // pair membership EXPANDED to (member, ta, tb) rows so the fan-out
    // join is a broadcast EQUI-join (hash lookup, codegen'd) — the
    // OR-predicate form planned a BroadcastNestedLoopJoin testing
    // every row against all C(k,2) pairs. Fan-out per row stays (k−1).
    val members = broadcast(pairs.select(
      explode(array(col("ta"), col("tb"))).as("event_type"),
      col("ta"), col("tb")))
    val unions = ev.join(members, "event_type")
      .groupBy("ta", "tb")
      .agg(approx_count_distinct(col("user_id"), hllOverlapRsd)
        .as("n_union"))
    // inclusion–exclusion on three independent sketches can land
    // outside the feasible region — clamp the intersection into
    // [0, min(n_a, n_b)] and the ratio into [0, 1] (its own spec'd
    // contract; unclamped, near-identical audiences can read 1.0x+)
    val interRaw = greatest(col("n_a") + col("n_b") - col("n_union"), lit(0L))
    val inter = least(interRaw, least(col("n_a"), col("n_b")))
    unions
      .join(perType.select(col("event_type").as("ta"), col("n").as("n_a")), "ta")
      .join(perType.select(col("event_type").as("tb"), col("n").as("n_b")), "tb")
      .select(col("ta"), col("tb"), col("n_a"), col("n_b"), col("n_union"),
        inter.as("n_inter_est"),
        least(round(inter.cast("double") / col("n_union").cast("double"), 4),
          lit(1.0)).as("jaccard_est"))
      .orderBy("ta", "tb")
  }

  /** Exact audience-overlap matrix — the ground-truth twin of
    * [[q_hll_overlap]] under the oracle gate (the agg_distinct /
    * approx_distinct pairing applied to pairwise intersections): the
    * same exploded pair membership, but exact per-pair
    * (user, ta, tb)-distinct counts. The cost contrast IS the point:
    * this form shuffles the distinct (user, pair) universe (rows ×
    * (k−1) before dedup) where the sketch form's per-pair state is
    * constant — at 100 TB you run the sketch and calibrate it against
    * this exact form on a sample, exactly what AnalyticsSpec does.
    */
  def q_user_overlap(s: SparkSession, dir: String): DataFrame = {
    val ev = t(s, dir, "events").select("event_type", "user_id")
    val types = ev.select("event_type").distinct()
    val pairs = types.as("a").join(types.as("b"),
        col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("ta"), col("b.event_type").as("tb"))
    val members = broadcast(pairs.select(
      explode(array(col("ta"), col("tb"))).as("event_type"),
      col("ta"), col("tb")))
    val perUser = ev.join(members, "event_type")
      .select("ta", "tb", "user_id", "event_type").distinct()
    perUser.groupBy("ta", "tb", "user_id")
      .agg(count(lit(1)).as("sides"))
      .groupBy("ta", "tb")
      .agg(count(lit(1)).as("n_union"),
        sum(when(col("sides") === 2, 1L).otherwise(0L)).as("n_inter"))
      .select(col("ta"), col("tb"), col("n_union"), col("n_inter"),
        round(col("n_inter").cast("double") / col("n_union").cast("double"), 6)
          .as("jaccard"))
      .orderBy("ta", "tb")
  }

  /** Poisson-bootstrap geometry, shared verbatim with the oracle:
    * [[bootstrapB]] replicas; per (replica, row) the resample weight
    * is Poisson(1), drawn DETERMINISTICALLY by comparing the row's
    * 32-bit md5 slice against the fixed scaled CDF thresholds
    * ⌈CDF_Pois(1)(k)·2³²⌉ below (k = 0..7 covers 1−10⁻⁵ of the mass;
    * the tail is clamped to 8). Everything is integer compares on
    * identical md5 values — both engines draw the SAME weights.
    */
  private[graft] val bootstrapB = 32
  private[graft] val bootstrapCdf = Seq(1580030169L, 3160060337L,
    3950075422L, 4213413783L, 4279248374L, 4292415292L, 4294609778L,
    4294923276L)

  /** Poisson bootstrap of the mean order value — the resampling
    * technique that actually works at 100 TB: classic bootstrap needs
    * a GLOBAL sample-with-replacement (a coordinated shuffle per
    * replica); the Poisson approximation gives every row an
    * independent Poisson(1) multiplicity per replica, so all
    * [[bootstrapB]] replicas fold in ONE pass (Chamandy et al.,
    * "Estimating Uncertainty for Massive Data Streams", Google 2012).
    *
    * Single-pass typed-Aggregator form ([[graft.functions
    * .BootstrapAgg]]): each input row folds its B deterministic
    * weights directly into a fixed 2×B-long buffer — the earlier
    * `explode(sequence(0, B−1))` generator materialized a 32× row
    * fan-out through the aggregate (11.9×/decade at sf10, 79.9 s,
    * the suite's second-slowest query) for state that was always
    * just 2×B numbers. Weights are hash-deterministic (md5 scaled-CDF
    * above, bit-identical in the Aggregator), sums are exact integer
    * cents — the replica means stay hash-gated against the SAME
    * DuckDB oracle; [[bootstrapExploded]] keeps the generator
    * formulation as the in-repo cross-check (AnalyticsSpec pins
    * equality). q_jackknife is the delete-group complement.
    */
  def q_bootstrap(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val agg = new graft.functions.BootstrapAgg(
      bootstrapB, bootstrapCdf.toArray)
    val rows = t(s, dir, "orders")
      .select(col("o_orderkey"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("long").as("cents"))
      .as[(Long, Long)]
    rows.select(agg.toColumn)
      .flatMap(identity(_))
      .toDF("b", "n_eff", "sx_cents")
      // cents → dollars through DECIMAL (exact; scale ≥ 2 keeps every
      // cent), then the oracle's double division + round. The n_eff>0
      // guard (shared by the exploded form and the oracle's CASE)
      // makes an all-zero replica a clear NULL instead of a 0/0 NaN —
      // Poisson(1) over any fixture cardinality makes it practically
      // impossible (p = (1−19/32·…)ⁿ ≈ e⁻ⁿ·ᶜ), but a NaN here would
      // surface as a confusing gate diff rather than a readable row
      .select(col("b"), col("n_eff"),
        when(col("n_eff") > 0,
          round((col("sx_cents").cast("decimal(38,2)") / 100).cast("double")
            / col("n_eff").cast("double"), 6)).as("mean_b"))
      .orderBy("b")
  }

  /** The generator formulation q_bootstrap replaced — kept as the
    * independent in-repo derivation of the same draws (spec-pinned
    * equal to the Aggregator form; the DuckDB oracle is the third).
    */
  private[graft] def bootstrapExploded(s: SparkSession, dir: String): DataFrame = {
    val u = conv(substring(md5(concat(col("b").cast("string"), lit(":"),
      col("o_orderkey").cast("string"))), 1, 8), 16, 10).cast("long")
    val wExpr = bootstrapCdf.foldLeft(lit(0L)) { (acc, t) =>
      acc + when(u >= t, 1L).otherwise(0L)
    }
    t(s, dir, "orders")
      .select(col("o_orderkey"),
        col("o_totalprice").cast("decimal(18,2)").as("x"),
        explode(sequence(lit(0), lit(bootstrapB - 1))).as("b"))
      .select(col("b").cast("long").as("b"), col("x"), wExpr.as("w"))
      .groupBy("b")
      .agg(sum(col("w")).as("n_eff"),
        sum((col("x") * col("w")).cast("decimal(38,2)")).as("sx"))
      .select(col("b"), col("n_eff"),
        when(col("n_eff") > 0,
          round(col("sx").cast("double") / col("n_eff").cast("double"), 6))
          .as("mean_b"))
      .orderBy("b")
  }

  /** Model-calibration (reliability) table — the eval-metrics row
    * every scoring pipeline needs next to q_ndcg/q_forecast_eval/
    * q_ab_test: bucket a [0,1] predicted score into 10 fixed-width
    * bins and report, per bin, the population, the mean prediction,
    * and the empirical positive rate; a calibrated scorer has the
    * two tracking each other. The score here is the declared linear
    * price score least(o_totalprice/400000, 1) and the outcome is
    * urgent/high order priority — fixed-width binning (NOT ntile)
    * deliberately: bin assignment is a map-side expression with no
    * global sort, so the whole query is one map-side-combined
    * 10-group aggregate at any corpus size (the q_decile_bands
    * contrast, where rank-deciles genuinely need ScalableRank).
    * Mean prediction sums DECIMAL(18,6)-rounded scores exactly;
    * the two rates are single IEEE divisions rounded at the end.
    */
  def q_calibration(s: SparkSession, dir: String): DataFrame = {
    val p = least(col("o_totalprice") / lit(400000.0), lit(1.0))
    val y = when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
      .otherwise(0L)
    t(s, dir, "orders")
      .select(least(floor(p * 10), lit(9L)).cast("long").as("bin"),
        round(p, 6).cast("decimal(18,6)").as("pr"), y.as("y"))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("pr")).as("sp"),
        sum(col("y")).as("sy"))
      .select(col("bin"), col("n"),
        round(col("sp").cast("double") / col("n").cast("double"), 6)
          .as("mean_p"),
        round(col("sy").cast("double") / col("n").cast("double"), 6)
          .as("pos_rate"))
      .orderBy("bin")
  }

  /** Monotone (isotonic) calibration of q_calibration's linear price
    * score — pool-adjacent-violators via its minimax closed form
    * ŷᵢ = max_{k≤i} min_{j≥i} rate(k..j) (Barlow et al., "Statistical
    * Inference under Order Restrictions", 1972), the calibration step
    * every scored pipeline runs when the raw reliability table is
    * non-monotone. Interval rates live on the micro-unit grid
    * (Σpos·10⁶ div Σn — exact integer division, engine-identical),
    * and because floor is monotone the minimax over floored rates IS
    * the floor of the exact rational PAV fit: the fitted monotone
    * curve hash-gates bit-for-bit (AnalyticsSpec pins a driver-side
    * exact-fraction PAV reference, monotonicity, and mass
    * conservation of each pooled block).
    *
    * Scale shape: one map-side-combined 20-group aggregate reduces
    * the corpus to the bin frame; the minimax is a triple join of
    * that BOUNDED broadcast frame (≤20³ rows at any corpus size) —
    * the q_dtree bounded-model-frame discipline applied to a fit
    * whose classical formulation is a sequential driver-side sweep.
    */
  def q_isotonic(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
      .cast("long")
    val y = when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
      .otherwise(0L)
    // pinned, not just cached: five consumers (three broadcast legs
    // of the rates triangle, the ib leg, the final join) would race a
    // cold fill from concurrent broadcast threads (ADVICE r9)
    val bins = graft.Caches.pinned(t(s, dir, "orders")
      .select(cents.as("cents"), y.as("y"))
      .selectExpr("least(cents * 20 div 40000000, 19) AS bin", "y")
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos")))
    isotonicFit(bins)
  }

  /** The minimax PAV core over a (bin, n, pos) frame — factored out
    * so the spec can drive a synthetic violator pattern through the
    * SAME plan the declared query runs.
    */
  private[graft] def isotonicFit(bins: DataFrame): DataFrame = {
    // interval rates over every (k ≤ j) bin span — bounded triangle
    val rates = broadcast(bins.select(col("bin").as("kb")))
      .join(broadcast(bins.select(col("bin").as("jb"))),
        col("kb") <= col("jb"))
      .join(broadcast(bins.select(col("bin").as("mb"), col("n"), col("pos"))),
        col("mb").between(col("kb"), col("jb")))
      .groupBy("kb", "jb")
      .agg(sum(col("pos")).as("sp"), sum(col("n")).as("sn"))
      .selectExpr("kb", "jb", "sp * 1000000 div sn AS rate")
    // ŷᵢ = max over k ≤ i of (min over j ≥ i of rate(k, j))
    val iso = rates
      .join(broadcast(bins.select(col("bin").as("ib"))),
        col("kb") <= col("ib") && col("jb") >= col("ib"))
      .groupBy("ib", "kb").agg(min(col("rate")).as("mrate"))
      .groupBy("ib").agg(max(col("mrate")).as("iso_microrate"))
    bins.join(broadcast(iso), col("bin") === col("ib"))
      .selectExpr("bin", "n", "pos",
        "pos * 1000000 div n AS raw_microrate", "iso_microrate")
      .orderBy("bin")
  }

  /** Split-conformal prediction intervals (Vovk's inductive conformal
    * prediction; Lei et al., "Distribution-Free Predictive Inference
    * for Regression", JASA 2018) — the distribution-free uncertainty
    * layer a scoring pipeline wraps around ANY point predictor. The
    * three-way split is by order key (train % 5 ∈ {2,3,4} fits the
    * per-line-count mean-price model, calibration % 5 = 1 supplies
    * the residual quantile, test % 5 = 0 measures coverage); the
    * conformal radius is the ⌈(n+1)(1−α)⌉-th smallest calibration
    * residual at α = 0.1, which guarantees ≥ 90% marginal coverage
    * under exchangeability — the output row carries the measured
    * test coverage next to the guarantee.
    *
    * Exactness: the model is floor-division means in cents, residuals
    * exact BIGINTs, and the radius an ORDER STATISTIC — a value
    * selected, not computed — so the whole interval hash-gates. The
    * rank is [[ScalableRank]] (range-partitioned, no single-task
    * global sort); ties broken by order key so rank k names one row
    * in both engines.
    */
  def q_conformal(s: SparkSession, dir: String): DataFrame = {
    val cents = (col("o_totalprice").cast("decimal(18,2)") * 100)
      .cast("long")
    val nlines = t(s, dir, "lineitem")
      .groupBy(col("l_orderkey")).agg(count(lit(1)).as("nl"))
    // pinned, not just cached: the model/gm/radius broadcast subtrees
    // run in concurrent exchange threads and raced the cold fill,
    // recomputing the lineitem⋈orders join (measured 7.7 s cold vs
    // 3.3 s warm at sf1.0 — the q_als disease, smaller dose).
    // r11 measured-and-rejected: swapping the pin for an eager
    // localCheckpoint leaf (the q_triangles plan-truncation move —
    // this query's explain is 2394 lines / 138 embedded scans) made
    // the cold standalone WORSE (2.79 → 3.3 s): oc is corpus-sized,
    // and the checkpoint's extra materialized copy costs more than
    // the planning it saves. Leaf-truncation pays on TINY
    // multiply-referenced frames only.
    val oc = graft.Caches.pinned(t(s, dir, "orders")
      .select(col("o_orderkey").as("id"), cents.as("cents"))
      .join(nlines, col("id") === col("l_orderkey"))
      .select("id", "cents", "nl"))
    val train = oc.filter(col("id") % 5 >= 2)
    val model = broadcast(train.groupBy("nl")
      .agg(sum(col("cents")).as("sc"), count(lit(1)).as("cn"))
      .selectExpr("nl", "sc div cn AS pred"))
    val gm = broadcast(train
      .agg(sum(col("cents")).as("sc"), count(lit(1)).as("n_train"))
      .selectExpr("sc div n_train AS gpred", "n_train"))
    def withPred(df: DataFrame): DataFrame =
      df.join(model, Seq("nl"), "left").crossJoin(gm)
        .withColumn("p", coalesce(col("pred"), col("gpred")))
    val cal = withPred(oc.filter(col("id") % 5 === 1))
      .select(col("id"), abs(col("cents") - col("p")).as("resid"))
      .withColumn("g", lit(1L))
    val nn = broadcast(cal.agg(count(lit(1)).as("n_cal"))
      .selectExpr("n_cal",
        "least((9 * (n_cal + 1) + 9) div 10, n_cal) AS k"))
    val np = graft.Session.shufflePartitions(s)
    val radius = broadcast(
      ScalableRank.withRank(cal, np, "g", Seq("resid", "id"), "rn")
        .crossJoin(nn).filter(col("rn") === col("k"))
        .select(col("resid").as("radius_cents")))
    withPred(oc.filter(col("id") % 5 === 0))
      .crossJoin(radius)
      .select(col("id"),
        when(abs(col("cents") - col("p")) <= col("radius_cents"), 1L)
          .otherwise(0L).as("cov"))
      .agg(count(lit(1)).as("n_test"), sum(col("cov")).as("n_covered"),
        coalesce(sum(when(col("cov") === 1L, col("id"))), lit(0L))
          .as("covered_id_sum"))
      .crossJoin(broadcast(gm.select("n_train")))
      .crossJoin(nn)
      .crossJoin(radius)
      .select(col("n_train"), col("n_cal"), col("k"),
        col("radius_cents"), col("n_test"), col("n_covered"),
        col("covered_id_sum"),
        round(col("n_covered").cast("double") /
          col("n_test").cast("double"), 6).as("coverage"))
      .orderBy("n_train")
  }

  def q_window_nav(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val per = t(s, dir, "events")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("first_et", first(col("event_type")).over(w))
      .withColumn("second_et", nth_value(col("event_type"), 2).over(w))
      .withColumn("last_et", last(col("event_type")).over(w))
      .withColumn("span_s",
        unix_timestamp(max(col("ts")).over(w)) -
          unix_timestamp(min(col("ts")).over(w)))
      .select(col("user_id"), col("first_et"),
        coalesce(col("second_et"), lit("none")).as("second_et"),
        col("last_et"), col("span_s"))
      .distinct()
    per.groupBy("first_et", "second_et", "last_et")
      .agg(count(lit(1)).as("n_users"), sum(col("span_s")).as("sspan"))
      .select(col("first_et"), col("second_et"), col("last_et"),
        col("n_users"),
        round(col("sspan").cast("double") /
          col("n_users").cast("double"), 4).as("avg_span_s"))
      .orderBy("first_et", "second_et", "last_et")
  }
}
