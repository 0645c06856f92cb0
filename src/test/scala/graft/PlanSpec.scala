package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Relational, TextOps, VectorOps}

/** Scale-posture checks: the physical plans must have the shape that
  * survives a 100× scale-up — filters and projections pushed into the
  * parquet scan, small dims broadcast (and only those), top-k as
  * TakeOrderedAndProject instead of a global sort, no cartesian
  * products outside the intentional 1-row broadcast cross join.
  */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  private def planOf(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("no declared query plans a CartesianProduct") {
    // a same-lineage self-join silently degenerating to trivially-true
    // (the classic a(c)===b(c) trap) would surface here as a cartesian;
    // intentional 1-row broadcast cross joins plan as
    // BroadcastNestedLoopJoin and are allowed
    for ((name, fn) <- SparkEntry.queries) {
      val plan = planOf(fn(spark, dir))
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a cartesian product:\n${plan.take(2000)}")
    }
  }

  test("subquery forms decorrelate into joins — no per-row subquery " +
    "execution survives") {
    // EXISTS / NOT EXISTS → one left-semi + one left-anti join
    val ex = planOf(Relational.q_subquery_exists(spark, dir))
    assert(ex.contains("LeftSemi"), ex.take(2000))
    assert(ex.contains("LeftAnti"), ex.take(2000))
    // IN / NOT IN → the same semi/anti pair
    val in = planOf(Relational.q_subquery_in(spark, dir))
    assert(in.contains("LeftSemi"), in.take(2000))
    assert(in.contains("LeftAnti"), in.take(2000))
    // correlated scalar aggregate → grouped aggregate + equi-join;
    // an InSubquery/ScalarSubquery surviving to the physical plan
    // would mean row-at-a-time execution
    val sc = planOf(Relational.q_subquery_scalar(spark, dir))
    assert(sc.contains("Join"), sc.take(2000))
    // LATERAL top-n → ranking window over one equi-join, not
    // per-customer re-execution
    val lat = planOf(Relational.q_lateral_topn(spark, dir))
    assert(lat.contains("Join"), lat.take(2000))
    for (p <- Seq(ex, in, sc, lat))
      assert(!p.contains("InSubqueryExec") && !p.contains("ScalarSubquery"),
        p.take(2000))
  }

  test("q_subquery_scalar_1scan: the window rewrite scans lineitem " +
    "ONCE and joins nothing — the decorrelated form's self-join is gone") {
    val p = planOf(Relational.q_subquery_scalar_1scan(spark, dir))
    assert(!p.contains("Join"), p.take(2000))
    val scans = "Scan parquet".r.findAllIn(p).size
    assert(scans == 1, s"expected 1 lineitem scan, found $scans:\n${p.take(2000)}")
    assert(p.contains("Window"), p.take(2000))
  }

  test("q_join_range_auto: RangeJoinRule turns the declared naive " +
    "BETWEEN join into a bucketed equi-join in the real query path") {
    val p = planOf(Relational.q_join_range_auto(spark, dir))
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p.take(2000))
    assert(p.contains("__graft_range_bucket"), p.take(2000))
  }

  test("q_filter_eq pushes the predicate into the parquet scan") {
    val p = planOf(Relational.q_filter_eq(spark, dir))
    assert(p.contains("PushedFilters") &&
      p.contains("EqualTo(l_returnflag,R)"), p.take(2000))
  }

  test("q_scan_project prunes the read schema to selected columns") {
    val p = planOf(Relational.q_scan_project(spark, dir))
    assert(p.contains("ReadSchema"))
    assert(!p.contains("l_shipdate") && !p.contains("l_tax"),
      "scan reads columns the query never touches")
  }

  test("q_filter_range pushes range + IN predicates down") {
    val p = planOf(Relational.q_filter_range(spark, dir))
    assert(p.contains("GreaterThanOrEqual(l_quantity,10.0)") ||
      p.contains("PushedFilters: [In(l_linenumber"), p.take(2000))
  }

  test("q_join_multi broadcasts only the small dims") {
    val p = planOf(Relational.q_join_multi(spark, dir))
    assert(p.contains("BroadcastHashJoin"), "nation/region should broadcast")
  }

  test("q_topk_desc plans a distributed top-k, not a global sort") {
    val p = planOf(Relational.q_topk_desc(spark, dir))
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q_sim_topk broadcasts the 1-row query side") {
    val p = planOf(VectorOps.q_sim_topk(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
  }

  test("q_cooccur broadcasts the capped vocabulary to the corpus side") {
    val p = planOf(graft.operators.TextOps.q_cooccur(spark, dir))
    // the vocab (top-K aggregate) must reach the token table as a
    // broadcast, never a shuffle of the corpus onto a 40-row frame
    assert(p.contains("BroadcastExchange"), p.take(2000))
  }

  test("q_lm_score rides the corpus total as a 1-row broadcast") {
    val p = planOf(graft.operators.TextOps.q_lm_score(spark, dir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
  }

  test("IVF Lloyd assign is map-only on the vector side") {
    import org.apache.spark.sql.functions._
    val e = Tables(spark, dir, "embeddings")
    // materialized centroids (lineage truncated) so the plan under
    // inspection is exactly one assign pass, not the seed chain
    val centroidOf = udaf(graft.functions.CentroidAgg)
    val cent = e.groupBy(col("label").as("cell"))
      .agg(centroidOf(col("embedding")).as("centroid"))
      .localCheckpoint()
    val p = planOf(VectorOps.assignToCells(e, cent))
    // the k-row centroid fold may plan an Exchange SinglePartition;
    // the corpus side must never hash-repartition (the round-3 shape
    // shuffled one embedding-carrying row per vector per iteration)
    assert(!p.contains("Exchange hashpartitioning"),
      "assign stage shuffles the vector side:\n" + p.take(2000))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      p.take(2000))
  }

  test("q_vec_project is map-only: no hash exchange before the " +
    "declared sort") {
    val p = planOf(VectorOps.q_vec_project(spark, dir))
    // rangepartitioning for the final ORDER BY is expected; any
    // hashpartitioning would mean the projection grew a shuffle
    assert(!p.contains("Exchange hashpartitioning"), p.take(2000))
  }

  test("q_dedup_span consumers read the cached explode and the cached " +
    "shared-position set, not fresh corpus scans") {
    val p = planOf(TextOps.q_dedup_span(spark, dir))
    // every branch must enter through a cache read ("Scan parquet"
    // still APPEARS in the string — InMemoryRelation prints its
    // cached child plan — but execution reads the materialization)
    assert("InMemoryTableScan".r.findAllIn(p).size >= 2, p.take(2000))
  }

  test("q_html_inputs dedups last-wins as a partial-combining " +
    "aggregate (no per-(id,key) window sort) and parses tags as " +
    "top-level projections, not a transform lambda") {
    val p = planOf(graft.pipeline.ExclusionPipeline.q_html_inputs(spark, dir))
    // r11: the r5 parse-output cache is gone (under AQE the final
    // sort's range sampling reads the dedup stage's materialized
    // shuffle, not the raw parse) and the last-wins dedup is a
    // max_by aggregate — map-side combining before the exchange —
    // instead of a row_number window that sorted every partition
    assert(!p.contains("Window"),
      "last-wins dedup regressed into a window sort:\n" + p.take(2000))
    assert(p.contains("max_by") || p.contains("maxby"), p.take(2000))
    // the pairs are generated from the codegen'd FormInputs kernel
    // (Generate over its array), not built inside an interpreted
    // array-transform: a transform() lambda over the pair structs
    // would print as "transform(" in the projection
    assert(p.contains("Generate"), p.take(2000))
    assert(!p.contains("transform("),
      "tag parse regressed into an interpreted transform() lambda:\n" +
        p.take(2000))
  }

  test("parsePages reads its pages once and evaluates the FormInputs " +
    "kernel in exactly one node, with no regex or lower() left in the plan") {
    import org.apache.spark.sql.catalyst.expressions.{Expression, Lower,
      RegExpExtract, RegExpExtractAll}
    import org.apache.spark.sql.catalyst.plans.logical.Range
    import org.apache.spark.sql.functions.{col, concat, lit}
    // a non-local source, so the optimizer cannot fold the parse away
    val pages = spark.range(4).select(col("id").cast("string").as("id"),
      concat(lit("<form><input title=\"k\" value=\""), col("id"),
        lit("\"/></form>")).as("page"),
      concat(lit("u"), col("id")).as("url"))
    val plan = graft.pipeline.ExclusionPipeline.parsePages(pages)
      .queryExecution.optimizedPlan
    def uses(n: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)(
      p: Expression => Boolean) = n.expressions.exists(_.exists(p))
    val banned = plan.collect { case n if uses(n) {
      case _: RegExpExtract | _: RegExpExtractAll | _: Lower => true
      case _ => false
    } => n }
    assert(banned.isEmpty, s"per-tag regex/lower() in the plan:\n$plan")
    val scans = plan.collect { case r: Range => r }
    assert(scans.size == 1, s"pages read ${scans.size} times:\n$plan")
    val kernels = plan.collect {
      case n if uses(n)(_.isInstanceOf[graft.functions.FormInputs]) => n.nodeName
    }
    assert(kernels.size == 1,
      s"FormInputs evaluated in ${kernels.mkString(", ")}:\n$plan")
    assert(graft.pipeline.ExclusionPipeline.parsePages(pages).count() == 8)
  }

  test("q_join_range is a bucketed equi-join, not a nested loop") {
    val p = planOf(Relational.q_join_range(spark, dir))
    assert(!p.contains("NestedLoop"),
      "range join fell back to a nested loop:\n" + p.take(2000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("profile is one scan; approx avoids the Expand of exact multi-distinct") {
    val df = Tables(spark, dir, "customer")
    val exact = planOf(graft.operators.Profiler.profile(df))
    val approx = planOf(graft.operators.Profiler.profile(df, exact = false))
    // single Scan in both modes — the profile must never multiply
    // table scans by column count
    assert("Scan parquet".r.findAllIn(exact).size == 1, exact.take(1500))
    assert("Scan parquet".r.findAllIn(approx).size == 1)
    assert(exact.contains("Expand"), "exact multi-distinct should Expand")
    assert(!approx.contains("Expand"), "approx profile must stay one-pass")
    // sketch counts are within HLL tolerance of the truth on this data
    val e = graft.operators.Profiler.profile(df).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    graft.operators.Profiler.profile(df, exact = false).collect().foreach { r =>
      val (c, nd) = (r.getString(0), r.getLong(3))
      assert(math.abs(nd - e(c)) <= math.max(3L, (e(c) * 0.05).toLong), s"col $c")
    }
  }

  test("shingle queries contain the codegen'd word_shingles expression") {
    val p = planOf(TextOps.q_minhash_sig(spark, dir))
    assert(p.contains("word_shingles"), p.take(2000))
  }

  test("word_shingles is SQL-callable after extension registration") {
    GraftExtensions.register(spark)
    val got = spark.sql("SELECT word_shingles('a  b c d ', 3) AS sh")
      .collect().head.getSeq[String](0)
    assert(got == Seq("a b c", "b c d"))
    val two = spark.sql("SELECT word_shingles('a b c', 2) AS sh")
      .collect().head.getSeq[String](0)
    assert(two == Seq("a b", "b c"))
  }

  test("deflate_size and morton_code are SQL-callable after " +
    "extension registration") {
    GraftExtensions.register(spark)
    val d = spark.sql("SELECT deflate_size('spark spark spark') AS n")
      .collect().head.getInt(0)
    assert(d == graft.functions.DeflateSize.deflatedSize(
      org.apache.spark.unsafe.types.UTF8String.fromString("spark spark spark")))
    val z = spark.sql("SELECT morton_code(3, 5) AS z").collect().head.getLong(0)
    assert(z == graft.functions.MortonCode.interleave(3, 5))
  }

  test("q_corr_matrix derives all six correlations from ONE scan and " +
    "one aggregate") {
    val plan = planOf(graft.operators.Relational.q_corr_matrix(spark, dir))
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan.take(1500))
    assert("HashAggregate".r.findAllIn(plan).size <= 2, // partial+final
      "the moment matrix must be one partial-combining aggregate pair")
  }

  test("q_pii_scan is one scan with no joins") {
    val plan = planOf(graft.operators.TextOps.q_pii_scan(spark, dir))
    assert("Scan parquet".r.findAllIn(plan).size == 1, plan.take(1500))
    assert(!plan.contains("Join"), plan.take(1500))
  }

  test("q_label_prop plans no window sort: the per-round argmax is a " +
    "hash aggregate") {
    val plan = planOf(graft.operators.GraphOps.q_label_prop(spark, dir))
    assert(!plan.contains("Window"), plan.take(1500))
  }

  test("q_join_interval joins hot hours with a broadcast HASH join — " +
    "the interval predicate never plans a nested loop over sessions") {
    val plan = planOf(Relational.q_join_interval(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    // the only nested loop is the intentional 1-row totals cross join
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(bnl <= 1, s"unexpected nested loops ($bnl):\n${plan.take(2000)}")
  }

  test("the quadratic embed pair join exists ONLY in q_dedup_embed: " +
    "no other declared query plans an intra-block embedding self-join") {
    // q_dedup_embed's all-pairs contract is Θ(Σ_block C(n_b,2)) on
    // clustered corpora (509 s at sf10) — priced-in for its own
    // declared output, but the 100 TB dedup-DECISION default is the
    // linear star form (q_dedup_embed_star, window-min rep — no self
    // join). This guard keeps any composed pipeline (q_curate,
    // q_quality_vs_dup, future consumers) from silently planning the
    // pair join: the shape's signature is a join keyed on the LSH
    // (band, bucket) pair over the embeddings table.
    for ((name, fn) <- SparkEntry.queries if name != "q_dedup_embed") {
      val p = planOf(fn(spark, dir))
      val pairJoin = p.contains("embeddings") && p.linesIterator.exists(l =>
        l.contains("Join") && l.contains("band") && l.contains("bucket"))
      assert(!pairJoin,
        s"$name plans the quadratic embed pair join — use the star form")
    }
  }

  test("q_pipeline_build: every stage's consumers read cached " +
    "materializations — the composed pass never re-derives a shared " +
    "subplan from a fresh corpus scan") {
    val p = planOf(TextOps.q_pipeline_build(spark, dir))
    // stage frames (stats, s3-s7), the decontam shingle table and the
    // minhash signature family all enter through InMemoryTableScan;
    // the audit aggregates and the successor stages SHARE those
    // materializations (the q_dedup_span discipline). 8 is the floor:
    // st + sh4 + s3..s7 + at least one minhash cache.
    assert("InMemoryTableScan".r.findAllIn(p).size >= 8, p.take(3000))
    Caches.releaseAll()
  }

  test("q_ks_drift's heavy cumsum window partitions on (type, bucket), " +
    "never one sorted partition per type") {
    val plan = Relational.q_ks_drift(spark, dir)
      .queryExecution.executedPlan.toString
    // the per-value running sums must carry BOTH partition keys
    val heavy = plan.linesIterator
      .filter(l => l.contains("windowspecdefinition") && l.contains("value"))
      .mkString("\n")
    assert(heavy.nonEmpty, "per-value cumsum window missing")
    assert(heavy.contains("event_type") && heavy.contains("bucket"),
      s"cumsum window not bucketed:\n$heavy")
  }
}
