package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Collaborative-filtering trainer (SURVEY §2.11 L74): rank-1
  * alternating least squares over the customer × brand purchase
  * matrix — the matrix-factorization family next to the classifier
  * trainers (q_logreg/q_boost/q_nbayes/q_dtree) and the clustering
  * trainer (q_kmeans). Semantics follow the classic ALS formulation
  * (Koren/Bell/Volinsky, "Matrix Factorization Techniques for
  * Recommender Systems", IEEE Computer 2009) restricted to one latent
  * factor, which keeps every half-sweep a closed-form division:
  *   u_c = Σ_b r_cb·v_b / Σ_b v_b²   then   v_b = Σ_c r_cb·u_c / Σ_c u_c²
  *
  * Exactness discipline (the q_nbayes/q_kmeans hash-gate argument):
  * factors live on a micro-unit integer grid ([[alsScale]]) and every
  * update is ONE floor division of two exact DECIMAL(38,0) sums
  * (DuckDB: HUGEINT) — all inputs positive, so floor ≡ truncation and
  * the result is order-independent under any partitioning and
  * bit-identical in any engine. Magnitude headroom is structural:
  * per-customer rating mass is bounded (customers scale WITH the
  * corpus; r = Σ l_quantity per brand ≤ a few thousand), so
  * u ≤ ~10¹⁰ micro-units, per-row products ≤ 10¹⁶, and the largest
  * intermediate (the v-sweep numerator ×10¹²) stays under 10³² at
  * sf100 — six digits of slack inside DECIMAL(38,0).
  *
  * Scale shape — the canonical distributed-ALS layout: the ratings
  * frame is built once (one shuffle) and cached; the ITEM side is
  * dimension-bounded (25 brands), so each u-half-sweep broadcasts the
  * item factors and runs ONE partial-combining per-customer aggregate
  * (no shuffle of the factors), and each v-half-sweep is one
  * ratings⋈u equi-join on the customer key (u already carries
  * hash(c) partitioning from its groupBy) into a 25-group aggregate.
  * Model traffic per sweep = 25 longs down (broadcast) and |C| longs
  * through one exchange — there is no per-row model state anywhere.
  * At 100 TB the ratings frame would be bucketed by customer key
  * (the GraphOps substrate discipline), deleting the v-sweep join
  * exchange; the aggregate structure is already that shape.
  */
object Recommender {
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)
  private def cached(df: DataFrame): DataFrame = graft.Caches.cached(df)

  /** Fixed-point factor scale — micro-units (10⁶), shared verbatim
    * with the oracle; v₀ ≡ 1.0 on this grid seeds the first sweep.
    */
  private[graft] val alsScale = 1000000L

  /** The implicit-feedback rating matrix: r_cb = total quantity of
    * brand b ever ordered by customer c. Exact BIGINT (quantities are
    * integral); one shuffle to the (c, b) grain.
    */
  private[graft] def alsRatings(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "lineitem").select("l_orderkey", "l_partkey", "l_quantity")
      .join(t(s, dir, "orders").select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(t(s, dir, "part").select("p_partkey", "p_brand"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_custkey").as("c"), col("p_brand").as("b"))
      .agg(sum(col("l_quantity")).cast("long").as("r"))

  /** One customer half-sweep: u_c = ⌊S²·Σ r·v / Σ v²⌋ against the
    * broadcast item factors (b, v). The two sums are exact
    * DECIMAL(38,0); `div` floors (all terms positive).
    */
  private def usweep(rat: DataFrame, v: DataFrame): DataFrame =
    rat.join(broadcast(v), "b")
      .groupBy("c")
      .agg(
        sum(col("r").cast("decimal(38,0)") * col("v").cast("decimal(38,0)"))
          .as("srv"),
        sum(col("v").cast("decimal(38,0)") * col("v").cast("decimal(38,0)"))
          .as("svv"))
      .selectExpr("c",
        s"CAST(srv * ${alsScale}L * ${alsScale}L div svv AS BIGINT) AS u")

  /** One item half-sweep: v_b = ⌊S²·Σ r·u / Σ u²⌋ — one equi-join on
    * the customer key into a brand-bounded aggregate.
    */
  private def vsweep(rat: DataFrame, u: DataFrame): DataFrame =
    rat.join(u, "c")
      .groupBy("b")
      .agg(
        sum(col("r").cast("decimal(38,0)") * col("u").cast("decimal(38,0)"))
          .as("sru"),
        sum(col("u").cast("decimal(38,0)") * col("u").cast("decimal(38,0)"))
          .as("suu"))
      .selectExpr("b",
        s"CAST(sru * ${alsScale}L * ${alsScale}L div suu AS BIGINT) AS v")

  /** Exact integer training error of a (u, v) model: predictions are
    * ⌊u·v / S²⌋ back in rating units, the SSE an exact BIGINT.
    */
  private def sse(rat: DataFrame, u: DataFrame, v: DataFrame,
                  as: String): DataFrame =
    rat.join(u, "c").join(broadcast(v), "b")
      .selectExpr("r - CAST(CAST(u AS DECIMAL(38,0)) * CAST(v AS DECIMAL(38,0))" +
        s" div ${alsScale}L div ${alsScale}L AS BIGINT) AS d")
      .agg(sum((col("d") * col("d")).cast("decimal(38,0)"))
        .cast("long").as(as))

  /** Eagerly materialize a sweep frame. ALS is inherently iterative:
    * u₂ depends on v₁ depends on u₁, and the final output composes
    * SIX consumers of the ratings/factor frames (two SSEs, the
    * factor summary, the marginals, both v joins) that Spark
    * executes in CONCURRENT broadcast-exchange threads — unpinned,
    * every one of those threads raced to fill the same caches cold
    * and recomputed the lineitem⋈orders join (measured: 335 s cold
    * vs 3.4 s warm at sf1.0). Pinning each frame ONCE, in sweep
    * order, is the trainer discipline (q_logreg/q_dtree): persist
    * mode fills the cache with one count(); recompute mode (the
    * sf100 probe posture) takes an eager localCheckpoint, which
    * also truncates the per-sweep lineage.
    */
  private def pin(s: SparkSession, df: DataFrame): DataFrame =
    graft.Caches.pinned(df)

  /** Declared query: two full ALS sweeps from the v₀ ≡ 1 seed, one
    * output row per brand — the fitted item factors after each sweep
    * (v1, v2), the brand's rating marginals, the customer-factor
    * summary (count / exact sum / min / max of u₂), and the exact
    * integer SSE of both sweep models (sse2 ≤ sse1 is the ALS descent
    * property; floor truncation on the micro-grid leaves it intact at
    * every tested scale — RecommenderSpec pins the whole fit
    * bit-exactly against an independent driver-side BigInt reference,
    * plus descent and positivity). The dimension-bounded item factors
    * are COLLECTED between sweeps and re-broadcast as literal frames
    * — the real distributed-ALS model exchange (25 longs of traffic),
    * which also keeps every downstream consumer's subplan free of the
    * sweep lineage.
    */
  def q_als(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // Pin the ratings CO-PARTITIONED BY CUSTOMER KEY (the in-session
    // form of the bucketed-substrate discipline): hash(c) satisfies
    // the ClusteredDistribution of both u-sweeps' groupBy(c) AND the
    // rat⋈u joins in the v-sweeps and SSEs, so after the one
    // repartition NO later consumer exchanges the |R|-sized frame
    // again — measured at sf10 (29M ratings, 1.5M customers), each
    // avoided exchange + re-hash is tens of seconds.
    val np = graft.Session.shufflePartitions(s)
    val rat = pin(s, alsRatings(s, dir).repartition(np, col("c")))
    def asLit(v: DataFrame): DataFrame =
      v.collect().map { r =>
        // fail FAST on a degenerate sweep: a zero denominator makes
        // non-ANSI `div` yield null, which getLong would silently
        // read as 0 while the DuckDB twin errors on `// 0` — surface
        // it loudly in both engines instead (ADVICE r9)
        require(!r.isNullAt(1),
          s"ALS v-sweep produced a null factor for brand ${r.getString(0)}")
        (r.getString(0), r.getLong(1))
      }.toSeq.toDF("b", "v")
    val v0 = rat.select("b").distinct()
      .select(col("b"), lit(alsScale).as("v"))
    val u1 = pin(s, usweep(rat, v0))
    val v1 = asLit(vsweep(rat, u1))
    val u2 = pin(s, usweep(rat, v1))
    val v2 = asLit(vsweep(rat, u2))
    val g = u2.agg(count(lit(1)).as("n_users"),
      sum(col("u")).cast("long").as("u_sum"),
      min(col("u")).as("u_min"), max(col("u")).as("u_max"))
    val marg = rat.groupBy("b")
      .agg(count(lit(1)).as("n_raters"), sum(col("r")).as("r_sum"))
    marg
      .join(broadcast(v1.withColumnRenamed("v", "v1")), "b")
      .join(broadcast(v2.withColumnRenamed("v", "v2")), "b")
      .crossJoin(broadcast(g))
      .crossJoin(broadcast(sse(rat, u1, v1, "sse1")))
      .crossJoin(broadcast(sse(rat, u2, v2, "sse2")))
      .select(col("b").as("brand"), col("n_raters"), col("r_sum"),
        col("v1"), col("v2"), col("n_users"), col("u_sum"),
        col("u_min"), col("u_max"), col("sse1"), col("sse2"))
      .orderBy("brand")
  }
}
