package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph analytics over relational data. Companion to the
  * connected-components clustering in TextOps (q_dedup_cluster): that
  * one converges by pointer-jumping; the operators here are
  * fixed-iteration algorithms whose per-iteration arithmetic is made
  * EXACT so the DuckDB twin can hash-match (§2.12).
  *
  * The arithmetic contract is FIXED-POINT: ranks are integer
  * nano-units (rank × 10⁹ as BIGINT), per-edge contributions are
  * integer division `nr div deg`, and the damping update is
  * `teleportNano div n + (17 · Σc) div 20`. Every operation is exact
  * integer arithmetic — order-independent under Spark's partitioned
  * sums and bit-identical in any engine. A float formulation cannot
  * get there: a 9-dp rank divided by an integer degree lands exactly
  * on decimal midpoints, where HALF_UP (Spark) and HALF_EVEN-family
  * (DuckDB) rounding split systematically (observed: 38/50 rows off
  * by 1-3e-9 at sf0.01). Fixed-point is also the production answer —
  * deterministic re-runs regardless of partitioning or engine.
  *
  * Scale shape (100 TB posture): one cached symmetric edge list; each
  * iteration is edges ⋈ ranks (shuffle on node key) + one partial-
  * combining hash aggregate — the canonical distributed PageRank; no
  * driver-side state, no collect. A real deployment pre-partitions
  * edges and ranks on the node key once so every iteration's join is
  * co-located (the Bucketing substrate), and checkpoints ranks every
  * ~10 iterations to cut lineage.
  */
object GraphOps {
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)
  private def cached(df: DataFrame): DataFrame = graft.Caches.cached(df)

  /** Shared verbatim with the oracle SQL (interpolated there).
    * damping 0.85 = dampNum/dampDen; teleport 0.15 = teleportNano/10⁹.
    */
  private[graft] val prIters = 3
  private[graft] val prScale = 1000000000L // 1 rank = 1e9 nano-units
  private[graft] val prTeleportNano = 150000000L
  private[graft] val prDampNum = 17L
  private[graft] val prDampDen = 20L

  /** PageRank (3 fixed iterations, d=0.85) over the supplier↔part
    * co-purchase graph: nodes are `s<l_suppkey>` / `p<l_partkey>`,
    * with a symmetric edge per distinct (supplier, part) pair in
    * lineitem. Symmetry guarantees deg ≥ 1 and no dangling mass
    * (every node also receives ≥ 1 contribution, so the iterated
    * frame never loses nodes). Output: top-50 nodes by fixed-point
    * rank (nano-units rescaled to a double for readability — a
    * BIGINT/10⁹ division both engines compute identically in IEEE).
    */
  def q_pagerank(s: SparkSession, dir: String): DataFrame = {
    // encoded-long edge substrate (shared cache with q_bfs and
    // q_label_prop): every iteration shuffles (node, rank) as two
    // longs instead of an ~8-char string + long, and every
    // join/aggregate hashes longs. The ORDER-ISOMORPHIC encoding
    // ([[lpEnc]]) keeps the `node` tie-break of the final ordering
    // identical to the oracle's string order; decode touches only
    // the top-50 rows.
    val edges = coEdgesEnc(s, dir)
    // degree lives on the |V|-row side, never staged onto the edges:
    // the earlier edgesDeg cache (edges ⋈ deg, materialized) built
    // and held a second |E|-sized frame per session — at the fifth
    // decade that's an extra ~24 GB cache whose build cost and memory
    // pressure outweighed the join it saved. The per-edge message
    // `nr div deg` is constant per src, so it's computed ONCE per
    // node on the |V| frame and the edge join ships the finished
    // message — same integer arithmetic, strictly less work.
    val deg = cached(edges.groupBy("src").agg(count(lit(1)).as("deg")))
    val n = broadcast(deg.agg(count(lit(1)).as("__n")))
    var rank = deg.crossJoin(n)
      .select(col("src").as("node"),
        expr(s"${prScale}L div __n").as("nr"))
    for (_ <- 1 to prIters) {
      val msg = rank
        .join(deg.withColumnRenamed("src", "node"), "node")
        .select(col("node").as("src"), expr("nr div deg").as("m"))
      // shuffle_hash on the |V|-row message side — an SMJ would
      // re-sort the |E| edge side every iteration (the lpVote rule);
      // the bucketed substrate side joins exchange-free
      val contrib = edges.join(msg.hint("shuffle_hash"), "src")
        .select(col("dst"), col("m").as("c"))
        .groupBy("dst").agg(sum(col("c")).as("sc"))
      rank = contrib.crossJoin(n)
        .select(col("dst").as("node"),
          expr(s"${prTeleportNano}L div __n" +
            s" + (${prDampNum}L * sc) div ${prDampDen}L").as("nr"))
    }
    rank.join(deg.withColumnRenamed("src", "node"), "node")
      .select(col("node"), col("deg"),
        (col("nr").cast("double") / lit(prScale).cast("double"))
          .as("pagerank"))
      .orderBy(col("pagerank").desc, col("node"))
      .limit(50)
      .select(lpDecode(col("node")).as("node"), col("deg"),
        col("pagerank"))
  }

  /** Convergence parameters for [[q_pagerank_conv]] — shared verbatim
    * with the oracle. θ is SCALE-FREE: 1% of the total rank mass
    * (prScale nano-units) rather than a per-node count, so the L1
    * delta's geometric decay (≈ damping^i of the mass) crosses it at
    * roughly the same depth at every corpus size — the property that
    * lets one unrolled oracle serve every fixture. The stopping test
    * is EXACT BIGINT arithmetic: `sum(abs(nr_i − nr_{i-1})) <
    * prScale div prConvThetaDen` — no float ever enters the loop
    * decision, so two engines (and two cluster layouts) stop at the
    * same depth by construction.
    */
  private[graft] val prConvThetaDen = 100L
  private[graft] val prConvMaxIters = 40

  /** Sub-iterations chained per driver-synced job in
    * [[q_pagerank_conv]]. The r10 measurement showed the query is
    * per-iteration scheduling-floor-bound (12.2 s for 32 iterations,
    * 8-vs-32-core scaling ratio 1.02): each driver round trip costs
    * ~0.4 s regardless of data. Batching trades ≤ k−1 sub-iterations
    * of overshoot compute (the convergence test now runs every k) for
    * ⌈iters/k⌉ jobs instead of `iters` — and the oracle twin unrolls
    * ALL [[prConvMaxIters]] rounds unconditionally, so overshoot can
    * never diverge from it. k=8: at the observed crossing depth (~32
    * at every SF — θ is scale-free) that is 4 driver actions and zero
    * expected overshoot, capping wasted |E|-join work at 7 rounds if
    * a fixture crosses mid-batch; k=4 measured 11.0 s, k=8 10.5 s,
    * k=16 REGRESSED to 14.0 s (AQE re-optimizes the whole remaining
    * chain at every stage materialization — O(k²) in batch depth).
    */
  private[graft] val prConvBatch = 8

  /** Run-to-convergence PageRank — the production form of
    * [[q_pagerank]] (fixed 3 iterations is the oracle-gated demo;
    * real link analysis iterates until the rank vector stops moving).
    * Same substrate, same fixed-point integer update; the loop exits
    * when the exact L1 delta drops below [[prConvThetaDen]]⁻¹ of the
    * total mass or at [[prConvMaxIters]], and the depth taken is
    * observable in the output (`n_iters` — every row carries it).
    *
    * Scale shape: one |E| join + partial-combining aggregate per
    * sub-iteration against the bucketed substrate (exchange-free on
    * the edge side), a |V|-row checkpoint per sub-iteration (the
    * q_dedup_cluster lineage-truncation discipline — without it the
    * plan tree doubles per round), and ONE driver-side action per
    * [[prConvBatch]] sub-iterations: the batch's per-sub-iteration
    * exact L1 deltas are unioned (k single-row aggregates over the
    * chained lazily-checkpointed rank frames) and collected together,
    * so the driver still observes EVERY delta and stops at the exact
    * first iteration under θ — identical n_iters and ranks to the
    * one-job-per-iteration form, at ⌈depth/k⌉ driver syncs.
    */
  def q_pagerank_conv(s: SparkSession, dir: String): DataFrame = {
    val edges = coEdgesEnc(s, dir)
    val deg = cached(edges.groupBy("src").agg(count(lit(1)).as("deg")))
    val degN = deg.withColumnRenamed("src", "node")
    val n = deg.count()
    val theta = prScale / prConvThetaDen
    // |V|-sized shuffle-partition override for the loop (scoped by
    // Session.withConf, which restores the prior state): stack
    // sampling showed the iteration floor is the bypass-merge
    // shuffle writer's per-partition file churn — every
    // tiny |V| exchange wrote session-parallelism² blocks per
    // iteration (32 maps × 32 reducers at bench scale) and the mmap
    // concat of those ~KB files dominated executor time. The rank
    // frame is |V| rows (~24 B each), so partitions derive from |V|
    // (~250k rows ≈ 6 MB per partition, floor 4, capped at the
    // session setting so cluster-sized sessions keep cluster
    // parallelism — the streamShuffleParts discipline). The |E| side
    // is untouched: the bucketed substrate join keeps its own bucket
    // count, so per-iteration edge parallelism is unchanged.
    val vParts = math.max(4L, math.min(
      graft.Session.shufflePartitions(s).toLong, n / 250000L + 1)).toInt
    // deg RIDES THE RANK FRAME: every node receives mass every round
    // (symmetric substrate ⇒ deg ≥ 1 and no dangling nodes), so the
    // node set is invariant and deg can be carried through each
    // checkpoint instead of re-joined — the per-iteration
    // rank ⋈ degN message join (one |V| exchange + join stage per
    // round, 32 rounds) disappears; msg becomes a pure projection of
    // the checkpointed frame. Arithmetic is unchanged.
    var rank = degN.select(col("node"), lit(prScale / n).as("nr"),
      col("deg"))
    var iters = 0      // first iteration index where delta < θ, once found
    var converged = false
    graft.Session.withConf(s,
      "spark.sql.shuffle.partitions" -> vParts.toString) {
    while (!converged && iters < prConvMaxIters) {
      val batch = math.min(prConvBatch, prConvMaxIters - iters)
      // chain `batch` sub-iterations lazily: each next_j carries its
      // own prev column, so its delta is a scan-only aggregate of the
      // (lazily local-checkpointed) frame — materialized inside the
      // single collect below, never by a per-sub-iteration job
      val nexts = new Array[DataFrame](batch)
      var cur = rank
      for (j <- 0 until batch) {
        // ONE shared exchange per sub-iteration: the checkpoint's
        // LogicalRDD scan reports UnknownPartitioning (verified in the
        // r11 plan dumps — even eager checkpoints lose it under AQE),
        // so the msg branch and the prev branch each re-keyed the rank
        // frame separately (hash(src) exchange + shuffle→broadcast,
        // ~5 AQE stage-jobs per iteration at ~100 ms scheduling floor
        // each). An explicit repartition(node) is ONE exchange that
        // both branches reuse (ReuseExchange unifies the identical
        // subplans), the bucketed edge join reads the alias-rewritten
        // hash(node→src) side exchange-free, and the prev join is
        // co-partitioned with the groupBy(dst) output — no broadcast
        // stage. (A persist-based cut would keep partitioning without
        // the explicit exchange, but each iteration references the
        // prior frame TWICE, so an un-truncated plan string grows
        // 2^depth — the stringification hang is why the checkpoint
        // stays.)
        val curP = cur.repartition(col("node"))
        val msg = curP
          .select(col("node").as("src"), expr("nr div deg").as("m"))
        val contrib = edges.join(msg.hint("shuffle_hash"), "src")
          .select(col("dst"), col("m").as("c"))
          .groupBy("dst").agg(sum(col("c")).as("sc"))
        val next = Checkpoints.ckptLazy(contrib
          .select(col("dst").as("node"),
            expr(s"${prTeleportNano}L div ${n}L" +
              s" + (${prDampNum}L * sc) div ${prDampDen}L").as("nr"))
          .join(curP.select(col("node"), col("nr").as("prev"),
            col("deg")).hint("shuffle_hash"), "node"))
        nexts(j) = next
        cur = next.select("node", "nr", "deg")
      }
      // ONE action per batch, ONE aggregate for ALL k deltas: a
      // tagged union into a single groupBy(j) replaces k separate
      // SinglePartition exchanges (k−1 fewer tiny AQE stages per
      // batch); the explicit index is what the stopping rule reads
      val deltas = nexts.zipWithIndex.map { case (df, j) =>
        df.select(lit(j).as("j"), col("nr"), col("prev"))
      }.reduce(_ union _)
        .groupBy("j").agg(sum(abs(col("nr") - col("prev"))).as("d"))
        .collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      val firstUnder = (0 until batch).find(j => deltas(j) < theta)
      firstUnder match {
        case Some(j) =>
          converged = true
          iters += j + 1
          rank = nexts(j).select("node", "nr", "deg")
        case None =>
          iters += batch
          rank = nexts(batch - 1).select("node", "nr", "deg")
      }
    }
    }
    // deg already rides the rank frame — no final degN join either
    rank
      .select(col("node"), col("deg"),
        (col("nr").cast("double") / lit(prScale).cast("double"))
          .as("pagerank"),
        lit(iters.toLong).as("n_iters"))
      .orderBy(col("pagerank").desc, col("node"))
      .limit(50)
      .select(lpDecode(col("node")).as("node"), col("deg"),
        col("pagerank"), col("n_iters"))
  }

  /** BFS hop count for q_bfs — shared verbatim with the oracle. */
  private[graft] val bfsHops = 3
  private[graft] val bfsSeed = "s1"

  /** Bounded-hop BFS — shortest hop distance from a seed node to
    * every node within [[bfsHops]] hops of the co-purchase graph
    * (the "blast radius" traversal: which parts/suppliers are within
    * k procurement links of a flagged supplier).
    *
    * Delta-frontier traversal (the connected-components discipline):
    * each unrolled hop joins ONLY the nodes first reached last round
    * against the cached edge list, dedups the candidate set, and
    * anti-joins the already-reached set — so hop i's join input is
    * the frontier (≤ ball growth), never the whole reached set, and
    * no hop re-aggregates the full distance frame. BFS levels make
    * this exact: a node's first discovery round IS its hop distance,
    * so the min-aggregate of the naive formulation is subsumed by the
    * anti-join. The early frontiers are tiny (1 node at hop 1) and
    * AQE broadcasts them into the edge join.
    */
  def q_bfs(s: SparkSession, dir: String): DataFrame = {
    // encoded-long substrate (shared cache with q_pagerank and
    // q_label_prop); the seed is PARSED from the shared bfsSeed
    // constant (the oracle interpolates the same string and
    // GraphSpec's reference BFS walks from it — one edit must move
    // all three). Frontier dedup/anti-joins hash longs; the final
    // ORDER BY on the encoded node ≡ the oracle's string order (the
    // [[lpEnc]] isomorphism), decode is the last projection.
    val e = coEdgesEnc(s, dir)
    val seed = s.range(1)
      .select(lpEnc(lit(bfsSeed.tail.toLong),
        isS = bfsSeed.head == 's').as("node"), lit(0L).as("dist"))
    var dist = seed
    var frontier = seed.select("node")
    for (i <- 1 to bfsHops) {
      // lazy lineage cut: each hop's delta is referenced twice
      // (next frontier + the distance union), so without this the
      // plan re-derives every earlier hop along each path — ~2^hops
      // subtrees whose task-scheduling overhead dominated the bench
      // (200-node plan for 3 hops). The lazy checkpoint keeps query
      // CONSTRUCTION free (ContractSpec builds all plans) and
      // materializes each tiny delta once at execution.
      val novel = Checkpoints.ckptLazy(frontier
        .withColumnRenamed("node", "src")
        .join(e, "src")
        .select(col("dst").as("node")).distinct()
        .join(dist, Seq("node"), "left_anti")
        .select(col("node"), lit(i.toLong).as("dist")))
      dist = dist.union(novel)
      frontier = novel.select("node")
    }
    dist.orderBy("node")
      .select(lpDecode(col("node")).as("node"), col("dist"))
  }

  /** Per-node triangle counts + local clustering coefficient over an
    * undirected edge list (canonical `a_id < b_id`, deduplicated).
    *
    * Degree-oriented enumeration: every edge is directed from its
    * (deg, id)-smaller endpoint to the larger, so each triangle is
    * produced exactly once — at its unique vertex with two out-edges.
    * At scale this is the load-bearing trick: per-vertex out-degree
    * is bounded by graph arboricity (≤ √m), so the wedge join
    * generates O(m^1.5) rows worst-case instead of Σdeg² — a
    * high-degree hub contributes wedges only through its LOW-degree
    * neighbors. All three steps are equi-joins + one partial-
    * combining count; nothing driver-side.
    *
    * cc = 2·tri / (deg·(deg−1)): one IEEE division of exact integers
    * (identical in any engine), 0.0 where deg < 2.
    */
  private[graft] def triangleCounts(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("a_id").as("node"))
      .union(edges.select(col("b_id").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    val da = deg.select(col("node").as("a_id"), col("deg").as("a_deg"))
    val db = deg.select(col("node").as("b_id"), col("deg").as("b_deg"))
    val aFirst = col("a_deg") < col("b_deg") ||
      (col("a_deg") === col("b_deg") && col("a_id") < col("b_id"))
    val o = edges.join(da, "a_id").join(db, "b_id")
      .select(when(aFirst, col("a_id")).otherwise(col("b_id")).as("src"),
        when(aFirst, col("b_id")).otherwise(col("a_id")).as("dst"),
        when(aFirst, col("b_deg")).otherwise(col("a_deg")).as("ddeg"))
    val w1 = o.select(col("src"), col("dst").as("y"), col("ddeg").as("ydeg"))
    val w2 = o.select(col("src"), col("dst").as("z"), col("ddeg").as("zdeg"))
    val wedges = w1.join(w2, "src")
      .filter(col("ydeg") < col("zdeg") ||
        (col("ydeg") === col("zdeg") && col("y") < col("z")))
      .select(col("src").as("x"), col("y"), col("z"))
    // the closing edge {y,z} is oriented y→z because y precedes z in
    // the same (deg, id) total order the wedge filter used
    val tris = wedges.join(o.select(col("src").as("y"),
      col("dst").as("z")), Seq("y", "z"))
    val perNode = tris.select(col("x").as("node"))
      .union(tris.select(col("y").as("node")))
      .union(tris.select(col("z").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    deg.join(perNode, Seq("node"), "left_outer")
      .select(col("node"), col("deg"),
        coalesce(col("n_tri"), lit(0L)).as("n_tri"),
        when(col("deg") >= 2,
          round(lit(2.0).cast("double") * coalesce(col("n_tri"), lit(0L))
            / (col("deg") * (col("deg") - 1)), 4))
          .otherwise(lit(0.0)).as("cc"))
  }

  /** Triangle census of the MinHash-LSH near-dup pair graph — the
    * transitivity diagnostic for clustering dedup: near-dup clusters
    * whose pair graphs are triangle-dense (cc → 1) are safe to
    * collapse to one representative (q_dedup_cluster's move), while
    * triangle-free chains flag LSH bucket collisions chaining
    * UNRELATED docs through a shared middle element. Runs on the
    * SAME candidate pairs q_dedup_minhash declares, so the oracle's
    * naive x<y<z triangle join independently cross-checks the
    * degree-oriented enumeration.
    */
  def q_triangles(s: SparkSession, dir: String): DataFrame =
    // plan-TRUNCATED pair list (r11): triangleCounts references its
    // input ~6 times (two degree joins, the orientation, both wedge
    // legs, the closing join), and each reference re-embeds the whole
    // nested LSH subtree — the printed plan was 3679 lines with 95
    // parquet-scan subtrees, and q_triangles spent ~3.5 s PLANNING a
    // 826-pair graph (skew absent — max outdeg 12, 2374 wedge rows,
    // measured in r11; the wedge join itself is trivial here). ckpt
    // collapses the input to one leaf, exactly why q_kcore (which
    // already ckpt's the same pairs) ran 4× faster on the same input.
    // Eager, so the shared family cache fills here as before;
    // reliable mode upgrades automatically.
    triangleCounts(Checkpoints.ckpt(cached(
      graft.operators.TextOps.minhashCandidatePairs(s, dir))))
      .orderBy(col("n_tri").desc, col("cc").desc, col("node"))
      .limit(50)

  /** Label-propagation rounds — shared verbatim with the oracle. */
  private[graft] val lpIters = 3

  /** Community detection via synchronous label propagation (Raghavan
    * et al. 2007) over the co-purchase graph: every node starts as
    * its own community; each round adopts the MOST FREQUENT label
    * among neighbors, ties broken by smallest label — a deterministic
    * total order both engines walk identically (classic LPA breaks
    * ties randomly; a data engine cannot). Three synchronous rounds,
    * then the top-20 communities by population.
    *
    * Complements the component operators: connected components
    * (q_dedup_cluster) answer "what is REACHABLE", LPA answers "what
    * is DENSELY connected" — on the bipartite co-purchase graph the
    * communities are supplier/part market neighborhoods. Scale shape
    * = the PageRank step: per round one equi-join on the cached edge
    * list + one (dst, label) hash aggregate + one partitioned
    * window argmax; no driver state, unroll linear in rounds.
    */
  /** The synchronous LPA rounds on a symmetric (src, dst) edge list —
    * factored for fixture specs. Returns (node, lbl) after `iters`
    * rounds.
    */
  /** One synchronous vote round restricted to `edges`: majority
    * neighbor label with smallest-label tie-break, as count +
    * struct-min hash aggregates. One exchange: hash(dst) satisfies
    * BOTH downstream clusterings — (dst, lbl) for the count (subset
    * rule) and (dst) for the argmax. The struct-min argmax
    * (min((−c, lbl)) = max count then min label) partial-combines
    * map-side; a window row_number here sorted every (dst, lbl)
    * partition — measured 23.5 s vs q_pagerank's 4.0 s at sf1.0 on
    * the same joins. The oracle keeps the row_number formulation —
    * an independent derivation of the same total order.
    */
  private[graft] def lpVote(edges: DataFrame, lbl: DataFrame): DataFrame =
    // shuffle_hash, not sort-merge: the label side is |V| rows (the
    // per-partition hash build is small) while SMJ would re-SORT the
    // |E| edge side every round — with the edge cache pre-partitioned
    // on src the hash join touches the big side exchange-free and
    // sort-free. (Broadcast is the sf≤1 winner but |V| outgrows any
    // broadcast threshold; shuffle-hash is the shape that survives.)
    edges.join(lbl.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
      .repartition(col("dst"))
      .groupBy("dst", "lbl").agg(count(lit(1)).as("c"))
      .groupBy("dst")
      .agg(min(struct((-col("c")).as("nc"), col("lbl"))).as("m"))
      .select(col("dst").as("node"), col("m.lbl").as("lbl"))

  private[graft] def labelPropagate(e: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "LPA needs at least one round")
    // round 1 specialization: against the identity seed every
    // neighbor label is distinct (the edge list is distinct), so all
    // counts are 1 and majority-with-min-tie-break IS min(neighbor) —
    // one hash aggregate, no join, no (dst, lbl) fan-out. This was
    // the most expensive round of the general path (self labels make
    // the count frame exactly |E| rows).
    var lbl = e.groupBy(col("dst").as("node"))
      .agg(min(col("src")).as("lbl"))
    if (iters == 1) return lbl
    // The canonical Pregel round shape: the caller hands edges
    // cached PARTITIONED on the join key (coEdgesEnc), so each round
    // ships only the LABEL frame (|V| ≪ |E|; shuffle-hash build, or
    // AQE broadcast at small SF) and pays exactly ONE |E| exchange
    // (the vote's hash(dst) repartition). The unpartitioned string
    // form shuffled the full edge list TWICE per round (sort-merge
    // join + repartition) — the round-6 scale watch (12.5×/decade
    // at sf10).
    //
    // Delta-propagation (the q_bfs frontier discipline) was measured
    // and REJECTED for this graph: synchronous LPA on a bipartite
    // edge list oscillates — every node's label flips prefix side
    // every round (round-r labels of s-nodes are p-labels for even
    // r, s-labels for odd, by induction on the two-coloring), so the
    // changed set is 100% of V at every round (measured at sf1.0:
    // changed=210000/210000, edges-into-affected=100% of E, all
    // rounds) and a frontier restriction adds pure overhead
    // (measured 14.0 s vs 6.9 s at sf1.0). [[labelPropagateDelta]]
    // keeps the frontier form for graphs that do converge.
    for (_ <- 2 to iters) lbl = lpVote(e, lbl)
    lbl
  }

  /** Frontier-restricted LPA — re-votes only nodes with ≥ 1 changed
    * in-neighbor, carrying everyone else forward (exact: a
    * synchronous round is a function of the neighbor multiset only).
    * Worth it ONLY on graphs whose churn actually decays; on the
    * declared bipartite co-purchase graph churn is structurally 100%
    * per round (see [[labelPropagate]]), so the default path stays
    * the full vote. GraphSpec pins delta ≡ full at every depth on
    * both converging fixtures and the oscillating real graph.
    */
  private[graft] def labelPropagateDelta(e: DataFrame, iters: Int): DataFrame = {
    require(iters >= 1, "LPA needs at least one round")
    var prev = e.groupBy(col("dst").as("node"))
      .agg(min(col("src")).as("lbl"))
    if (iters == 1) return prev
    prev = Checkpoints.ckptLazy(prev)
    var lbl = Checkpoints.ckptLazy(lpVote(e, prev))
    for (_ <- 3 to iters) {
      val delta = lbl.join(prev.withColumnRenamed("lbl", "plbl"), "node")
        .filter(col("lbl") =!= col("plbl"))
        .select(col("node").as("src"))
      val affected = Checkpoints.ckptLazy(e.join(delta, "src")
        .select(col("dst")).distinct())
      val revoted = lpVote(e.join(affected, "dst"), lbl)
      val next = Checkpoints.ckptLazy(revoted.unionByName(
        lbl.join(affected.withColumnRenamed("dst", "node"),
          Seq("node"), "left_anti")))
      prev = lbl
      lbl = next
    }
    lbl
  }

  /** Order-isomorphic LONG encoding of the co-purchase node strings
    * ("s<key>" / "p<key>") — the label rounds shuffle |E| (dst, lbl)
    * records three times, and doing that over two ~8-char strings
    * (~2× the bytes of two longs, plus string hashing/compares in
    * every aggregate) was most of q_label_prop's remaining sf10
    * cost. The vote's ONLY order-sensitive operation is the
    * min-label tie-break, which both engines take in STRING order,
    * so the encoding must be an order-isomorphism onto that string
    * order, not just an injection:
    *
    *   enc("s<d>") = S_BIT + leftAlign(d)·16 + len(d)
    *   enc("p<d>") = leftAlign(d)·16 + len(d),  leftAlign(d) = d·10^(17−len(d))
    *
    *  - 'p' < 's' in ASCII ⇔ the S_BIT (4·10^18) term;
    *  - equal-length digit strings: left-aligned numeric order ≡ lex
    *    order; unequal length: the aligned values agree exactly on a
    *    shared prefix ("1" vs "10" both align to 10…0) and '0' is the
    *    least digit, so lex order is prefix-first — the +len term;
    *    any other first difference already decides both orders.
    *  - Bounds: d < 10^15 — the length rides in a 4-bit nibble, so
    *    len ≤ 15 is hard (a 16-digit key would carry into aligned's
    *    low bit and corrupt both digits and ordering); lpEnc
    *    raise_errors loudly past it (still far beyond any key
    *    domain; 10^k is exact in double for k ≤ 22 so the BIGINT
    *    cast is exact); max enc = 4e18 + 1.6e18 < Long.Max.
    *
    * Counts/grouping are injection-invariant, so the whole vote runs
    * on longs; the decode (inverse arithmetic) touches only the
    * final top-20 rows. GraphSpec pins encoded ≡ string-path output
    * on the real graph, and the DuckDB oracle (all-string) stays
    * verbatim.
    */
  private val lpSBit = 4000000000000000000L

  private[graft] def lpEnc(key: org.apache.spark.sql.Column, isS: Boolean)
    : org.apache.spark.sql.Column = {
    val len = length(key.cast("string")).cast("long")
    // 10^k is exact in double for k ≤ 22, so the BIGINT cast is exact
    val aligned = key.cast("long") *
      pow(lit(10.0), lit(17L) - len).cast("long")
    // ·16 + len as shifts: Spark's `/` on longs is DOUBLE division
    // (unsafe past 2^53), so the decode must be bit-exact shifts.
    // The length rides in a 4-bit NIBBLE, so len ≤ 15 (key < 10^15)
    // is a hard bound — at 16 digits the +len would carry into
    // aligned's low bit and silently corrupt both the digits and the
    // ordering, hence the loud guard instead (GraphSpec pins the
    // 15-digit boundary and the 16-digit rejection).
    val body = when(len <= 15L, shiftleft(aligned, 4) + len)
      .otherwise(raise_error(concat(
        lit("lpEnc: key exceeds the 15-digit bound: "),
        key.cast("string"))))
    if (isS) body + lpSBit else body
  }

  private[graft] def lpDecode(enc: org.apache.spark.sql.Column)
    : org.apache.spark.sql.Column = {
    val isS = enc >= lpSBit
    val body = when(isS, enc - lpSBit).otherwise(enc)
    val len = body.bitwiseAND(15L).cast("int")
    // aligned = d·10^(17−len) prints as d's `len` digits then zeros
    // (d ≥ 1 ⇒ exactly 17 digits; d = 0 ⇒ "0") — take the digit
    // prefix instead of dividing, which stays integer-exact
    val d = shiftright(body, 4).cast("string").substr(lit(1), len)
    concat(when(isS, lit("s")).otherwise(lit("p")), d)
  }

  /** Table-name memo for the materialized edge substrate, one entry
    * per (CONTEXT, data dir). The value names a BUCKETED parquet
    * table (hash-partitioned AND sorted on `src`) written once per
    * context — entries evict when the owning context ends (the
    * accumulator-memo discipline in graft.streaming.Streams).
    *
    * Keyed by SparkContext, not SparkSession: `saveAsTable` registers
    * in the context-SHARED external catalog (only temp views are
    * per-session), so sibling sessions of one context see the same
    * table. A session-keyed memo would make `newSession()` (the
    * DeterminismSpec / RangeJoinRule pattern) re-materialize and
    * DROP+delete the live table out from under the first session's
    * cached scans — and would retain stopped sessions until context
    * end.
    */
  private val substrateMemo = new java.util.concurrent.ConcurrentHashMap[
    (org.apache.spark.SparkContext, String),
    java.util.concurrent.FutureTask[String]]()

  /** One eviction listener per CONTEXT (not per memo entry): the r8
    * shape registered a listener per (context, dir) that removed only
    * its own key and was itself never unregistered — harmless at two
    * dirs, a slow leak under many. This one sweeps every entry of the
    * ending context and unregisters itself.
    */
  private val evictionHook = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, Unit]()

  private def registerEviction(sc: org.apache.spark.SparkContext): Unit =
    evictionHook.computeIfAbsent(sc, { _ =>
      sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
          e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit = {
          substrateMemo.keySet.removeIf(_._1 eq sc)
          evictionHook.remove(sc)
          sc.removeSparkListener(this)
        }
      })
      ()
    })

  /** The encoded-long co-purchase edge list, MATERIALIZED once per
    * (session, data dir) as a bucketed+sorted parquet table and read
    * by every graph operator from then on.
    *
    * Why a disk artifact and not just the in-memory cache it replaces:
    * the fifth-decade spots showed every graph query independently
    * re-deriving the ~1B-edge distinct co-purchase list from 600M
    * lineitem rows (one full-table shuffle each) — with caches
    * released between measured queries, q_label_prop's and
    * q_pagerank's sf100 numbers were mostly re-derivation, not graph
    * rounds (788 s / 259 s). The substrate is the 100 TB posture made
    * literal: a real deployment stages the edge list to the object
    * store once, bucketed on the join key, and every downstream
    * iteration reads it co-located. Three properties the bucketed
    * layout buys:
    *
    *  1. derivation happens ONCE per session (lineitem is never
    *     rescanned by graph ops after materialization, across queries
    *     AND across Caches.releaseAll);
    *  2. the scan reports hash(src) partitioning, so the per-round
    *     label join and the degree aggregate need NO exchange on the
    *     |E| side — the Pregel shape's pre-partitioning requirement,
    *     now satisfied from disk (GraphSpec pins the exchange-free
    *     aggregate plan);
    *  3. sortBy(src) gives parquet tight row-group min/max on the
    *     join key and run-length-friendly pages (two delta-encodable
    *     long columns).
    *
    * The per-pair fan-out to both directions is a single explode of
    * the distinct pair list (the earlier union form re-ran the
    * distinct shuffle once per direction). Bucket count follows the
    * session's shuffle-partition setting at materialization time; the
    * table overwrites any stale copy from a previous JVM, so at most
    * one substrate per data dir ever exists on disk.
    */
  /** Scale-adaptive bucket count for the edge substrate: the
    * session's shuffle-partition setting as the parallelism FLOOR
    * (the graph loops are depth-bounded sequential, so per-iteration
    * parallelism is the only parallelism they get — a 1-bucket layout
    * at bench scale measured q_pagerank_conv 12 → 16 s), growing with
    * the SOURCE table's bytes at ~64 MB per bucket (guide §2.2/§6:
    * partitions in the 100 MB–1 GB range) and capped at 4× the floor.
    * The previous constant (= shuffle.partitions exactly) was the
    * floor with no growth: at the fifth decade the substrate is
    * hundreds of GB and 32 buckets would be multi-GB single-task
    * sorts — this derivation grows with data while leaving the
    * measured local behavior unchanged.
    */
  private def substrateBuckets(s: SparkSession, d: String): Int = {
    // Hadoop-FS sizing (r10 verdict item 5): the java.nio walk this
    // replaces threw on hdfs://‌/s3a:// URIs and silently fell back to
    // the floor exactly at cluster scale. lineitem IS the substrate's
    // source table (the edge list is derived from it alone).
    val bytes = graft.sinks.Layout.sourceBytes(
      s, d.stripSuffix("/") + "/lineitem.parquet")
    val floor = graft.Session.shufflePartitions(s)
    val perBucket = 64L << 20
    val sized = (bytes + perBucket - 1) / perBucket
    math.max(floor.toLong, math.min(4L * floor, sized)).toInt
  }

  private def materializeSubstrate(s: SparkSession, d: String): String = {
    // the distinct-pair aggregate carries the min-quantity edge
    // weight along (same shuffle as the bare distinct — groupBy on
    // the pair IS the distinct): the weighted operators (q_sssp) read
    // it, the unweighted ones never select it, and the substrate
    // stays ONE artifact per data dir instead of a second |E|-sized
    // weighted derivation paid from lineitem per session
    val li = t(s, d, "lineitem")
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(min(col("l_quantity")).cast("long").as("w"))
    val encS = lpEnc(col("l_suppkey"), isS = true)
    val encP = lpEnc(col("l_partkey"), isS = false)
    val edges = li
      .select(explode(array(
        struct(encS.as("src"), encP.as("dst"), col("w")),
        struct(encP.as("src"), encS.as("dst"), col("w")))).as("e"))
      .select(col("e.src").as("src"), col("e.dst").as("dst"),
        col("e.w").as("w"))
    // deterministic per data dir, so at most one substrate per dir ever
    // exists on disk — which also means two concurrent DRIVERS (separate
    // JVMs sharing one warehouse dir) would race the DROP+CTAS below.
    // Single-driver-per-warehouse is the assumption, and the standard
    // Spark deployment shape (a warehouse dir belongs to one driver; a
    // real 100 TB deployment stages the edge list to the lake once,
    // through its own orchestration, not via concurrent ad-hoc CTAS).
    val tbl = "graft_edges_" + java.security.MessageDigest
      .getInstance("MD5").digest(d.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(12)
    val buckets = substrateBuckets(s, d)
    // a previous JVM may have left the same table's files without a
    // catalog entry (the catalog is in-memory); drop + delete so the
    // CTAS never trips over a non-empty location
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    val loc = substrateLocation(s.conf.get("spark.sql.warehouse.dir"), tbl)
    loc.getFileSystem(s.sparkContext.hadoopConfiguration).delete(loc, true)
    // repartition on the bucket key first: bucketed writers emit one
    // file per (task, bucket), so without it every task sprays all
    // `buckets` files
    edges.repartition(buckets, col("src"))
      .write.mode("overwrite").format("parquet").option("path", loc.toString)
      .bucketBy(buckets, "src").sortBy("src").saveAsTable(tbl)
    tbl
  }

  /** The substrate table's directory under the warehouse: a Hadoop
    * path, so an `hdfs://` or `s3a://` warehouse keeps its scheme and
    * authority (a `java.nio` path reads such a URI as a relative
    * local file name).
    */
  private[graft] def substrateLocation(warehouseDir: String, tbl: String): Path =
    new Path(warehouseDir, tbl)

  private[graft] def coEdgesEnc(s: SparkSession, dir: String): DataFrame = {
    // memoize a lazily-RUN FutureTask, not the result: the r8 shape ran
    // the whole CTAS (minutes at sf100) inside computeIfAbsent, holding
    // that CHM bin's lock for the duration — concurrent callers for
    // unrelated (context, dir) keys hashing to the same bin blocked on
    // the materialization, and a re-entrant same-key call would have
    // deadlocked. putIfAbsent is a constant-time map op; the winning
    // caller runs the task OUTSIDE any map lock, losers block on the
    // future (they need the table), and a failed materialization
    // removes its entry so a later call retries instead of caching the
    // exception forever.
    val key = (s.sparkContext, dir)
    val fresh = new java.util.concurrent.FutureTask[String](
      () => materializeSubstrate(s, dir))
    val prior = substrateMemo.putIfAbsent(key, fresh)
    val task = if (prior == null) { registerEviction(s.sparkContext); fresh.run(); fresh }
      else prior
    val name =
      try task.get()
      catch {
        case e: java.util.concurrent.ExecutionException =>
          substrateMemo.remove(key, task)
          throw e.getCause
      }
    // the cached wrapper keeps hot rounds in memory where the mode
    // allows; after a releaseAll (or in cache mode `none`) consumers
    // fall back to the bucketed scan, never to a lineitem re-derive
    cached(s.table(name))
  }


  def q_label_prop(s: SparkSession, dir: String): DataFrame =
    labelPropagate(coEdgesEnc(s, dir), lpIters)
      .groupBy(col("lbl"))
      .agg(count(lit(1)).as("size"))
      .orderBy(col("size").desc, col("lbl"))
      .limit(20)
      .select(lpDecode(col("lbl")).as("community"), col("size"))

  /** k-core parameters — shared verbatim with the oracle (the SQL
    * twin unrolls exactly [[kcoreMaxPeels]] peel rounds; the Spark
    * side ASSERTS convergence within that many, so both engines are
    * provably at the same fixed point whenever the query succeeds —
    * the connectedComponents maxIters discipline).
    */
  private[graft] val kcoreK = 2
  private[graft] val kcoreMaxPeels = 16

  /** Iterative k-core peel on a symmetric edge list built from
    * undirected (a_id, b_id) pairs: repeatedly drop nodes with fewer
    * than k neighbors among the survivors until nothing changes.
    * Returns (id, deg) for core members, deg = degree WITHIN the
    * core. Each round is two semi-shaped equi-joins (edges against
    * the shrinking alive set) + one hash-aggregate degree count —
    * shuffles keyed on node id, partial-combining, no driver state
    * beyond the two convergence counters; lineage is truncated per
    * round ([[Checkpoints.ckpt]]: reliable when a checkpoint dir is
    * set, local otherwise). Peeling shrinks monotonically, so rounds
    * past the fixed point are idempotent — which is what lets the
    * oracle unroll a FIXED count instead of detecting convergence.
    */
  private[graft] def kcore(pairs: DataFrame, k: Int,
                           maxPeels: Int): DataFrame = {
    import Checkpoints.ckpt
    val p = ckpt(pairs.toDF("a_id", "b_id"))
    val edges = ckpt(p.union(p.select(col("b_id"), col("a_id")))
      .toDF("src", "dst"))
    var alive = edges.select(col("src").as("id")).distinct()
    var nAlive = alive.count()
    var deg = alive.select(col("id").as("src"), lit(0L).as("deg"))
    var converged = nAlive == 0
    var round = 0
    while (!converged && round < maxPeels) {
      round += 1
      deg = ckpt(edges
        .join(alive.withColumnRenamed("id", "src"), "src")
        .join(alive.withColumnRenamed("id", "dst"), "dst")
        .groupBy("src").agg(count(lit(1)).as("deg")))
      val next = deg.filter(col("deg") >= k).select(col("src").as("id"))
      val nNext = next.count()
      converged = nNext == nAlive
      alive = next
      nAlive = nNext
    }
    if (!converged)
      throw new IllegalStateException(
        s"$k-core peel did not converge in $maxPeels rounds")
    // converged ⇒ the last deg frame was computed over exactly the
    // core's node set, so its ≥ k rows are the in-core degrees
    deg.filter(col("deg") >= k)
  }

  /** [[kcoreK]]-core of the near-dup candidate graph: the cyclic
    * backbone of the dedup pair list. Complements q_triangles (local
    * density) and q_dedup_cluster (reachability): the 2-core peels
    * away every TREE-shaped appendage, which is exactly the shape an
    * LSH chaining artifact takes (one bridge doc linking unrelated
    * docs through shared boilerplate dangles as a path and peels),
    * while genuine mirrored-content groups close cycles and survive —
    * the high-confidence dup set reachability clustering absorbs
    * uncritically. Output: (doc_id, core_deg) per core member.
    */
  def q_kcore(s: SparkSession, dir: String): DataFrame =
    kcore(graft.operators.TextOps.minhashCandidatePairs(s, dir),
        kcoreK, kcoreMaxPeels)
      .select(col("src").as("doc_id"), col("deg").as("core_deg"))
      .orderBy("doc_id")

  /** HITS rounds / output size — shared verbatim with the oracle. */
  private[graft] val hitsIters = 3
  private[graft] val hitsTopK = 20

  /** Score grid for [[q_hits]] — micro-units (10⁶), shared verbatim
    * with the oracle (the q_nbayes [[graft.operators.TextOps.nbScale]]
    * discipline).
    */
  private[graft] val hitsScale = 1000000L

  /** HITS hubs & authorities (Kleinberg 1999) on the DIRECTED
    * supplier→part half of the co-purchase graph: suppliers are the
    * hub side (they point at the parts they provide), parts the
    * authority side. [[hitsIters]] full mutual-reinforcement rounds —
    * h_i(s) = Σ_{s→p} a_{i−1}(p), a_i(p) = Σ_{s→p} h_i(s) — seeded
    * a_0 ≡ 1, UNNORMALIZED: the classic per-round L2 normalization
    * exists only to stop float overflow, and on exact BIGINT scores
    * the ranking it preserves is available without it. Overflow
    * headroom is structural: one full round multiplies scores by at
    * most max-supplier-degree × max-part-degree, so after 3 rounds
    * the bound is (maxdeg_s · maxdeg_p)³ — parts are supplied by a
    * handful of suppliers (deg_p ~ tens), so even pathological
    * degrees (2·10³ × 10²)³ = 8·10¹⁵ sit well inside Long. The
    * readability rescale is the §2.12 micro grid, NOT IEEE: score =
    * raw · 10⁶ div max(raw), computed on DECIMAL(38,0) (HUGEINT in
    * the twin) so the intermediate product can't overflow — the last
    * float surface in the graph family, removed after the round-9
    * driver gate hash-flagged this query. Top-k ties break on the
    * DECODED string node in BOTH engines (Spark used to tie-break on
    * the encoded long, where 'p2' > 'p10' sorts the other way).
    *
    * Scale shape: the substrate carries BOTH edge directions bucketed
    * on `src`, so each half-round reads its direction exchange-free
    * on the |E| side (s→p rows for the authority update, p→s rows for
    * the hub update) and pays exactly one hash(dst) exchange in the
    * partial-combining sum — the PageRank iteration cost, ×2 per
    * round. Output: top-[[hitsTopK]] per role.
    */
  def q_hits(s: SparkSession, dir: String): DataFrame = {
    val edges = coEdgesEnc(s, dir)
    // an encoded node is an s-node iff enc ≥ lpSBit, so the symmetric
    // substrate splits into the two directed halves by a src range
    // predicate — each half stays bucketed (exchange-free) on src.
    // Each half feeds one join per ROUND (3 bucketed scans each);
    // caching the halves instead was MEASURED a wash: sf10 13.6 →
    // 19.0 s (InMemoryRelation read loses to a page-cached bucketed
    // scan), sf100 596 → 492 s (inside this host's stall variance),
    // so the straight scans stay — on a cluster the substrate scan
    // is the cheap, partition-local path. A second measured
    // alternative, per-direction SPLIT TABLES, was deleted in r11:
    // its win sat inside host noise.
    hitsCore(edges.filter(col("src") >= lpSBit), // s → p
      edges.filter(col("src") < lpSBit))         // p → s
  }

  private def hitsCore(sEdges: DataFrame, pEdges: DataFrame): DataFrame = {
    var auth = sEdges.select(col("dst").as("node")).distinct()
      .select(col("node"), lit(1L).as("a"))
    var hub: DataFrame = null
    for (_ <- 1 to hitsIters) {
      // hub update reads the p→s direction so the edge side is again
      // joined on its bucket key; the score frame is |V|-sized
      // (shuffle_hash: never re-sort the |E| side — the lpVote rule).
      // Each half-round's score frame is lineage-cut (lazy
      // checkpoint, the q_bfs discipline): hub_i is referenced by
      // auth_i AND the final max + top-k, so without the cut the
      // reference count of round i's subtree doubles per later round
      // (measured at sf10: 142 s of mostly re-execution without the
      // cuts).
      hub = Checkpoints.ckptLazy(pEdges
        .join(auth.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
        .groupBy("dst").agg(sum(col("a")).as("h"))
        .select(col("dst").as("node"), col("h")))
      auth = Checkpoints.ckptLazy(sEdges
        .join(hub.withColumnRenamed("node", "src").hint("shuffle_hash"), "src")
        .groupBy("dst").agg(sum(col("h")).as("a"))
        .select(col("dst").as("node"), col("a")))
    }
    def top(scores: DataFrame, c: String, role: String): DataFrame = {
      val m = broadcast(scores.agg(max(col(c)).as("__m")))
      // decode BEFORE the top-k so the LIMIT tie-break is on the
      // string node both engines order by ('p2' > 'p10' as strings,
      // the opposite of the encoded-long order)
      scores.select(lpDecode(col("node")).as("node"), col(c).as("raw"))
        .orderBy(col("raw").desc, col("node")).limit(hitsTopK)
        .crossJoin(m)
        .select(lit(role).as("role"), col("node"), col("raw"),
          expr(s"cast(raw as decimal(38,0)) * ${hitsScale}L div __m")
            .as("score"))
    }
    top(hub, "h", "hub").unionByName(top(auth, "a", "auth"))
      .orderBy(col("role"), col("raw").desc, col("node"))
  }

  /** Bounded-hop count — shared verbatim with the oracle; the seed is
    * [[bfsSeed]] (one edit moves BFS, SSSP and both oracles).
    */
  private[graft] val ssspHops = 3

  /** Weighted single-source shortest paths, bounded to [[ssspHops]]
    * relaxation rounds (Bellman-Ford unrolled): edge weight = the
    * MINIMUM l_quantity ever shipped for the (supplier, part) pair —
    * the "cheapest procurement chain" cost — and dist(v) after round
    * i is the exact least total weight over paths of ≤ i edges.
    * Complements q_bfs: hop COUNT is replaced by additive integer
    * weight, so a 2-edge detour can beat a 1-edge direct link and the
    * frontier-only BFS optimization is no longer exact — every round
    * must re-relax the full reached set (a node's dist can improve
    * after first discovery), which is why the rounds fold
    * union+min over the whole dist frame rather than an anti-joined
    * frontier. Quantities are integral doubles (1..50 by
    * construction; min-then-truncating-cast is exact and matches the
    * oracle's rounding-cast on integral values), so all distance
    * arithmetic is exact BIGINT.
    *
    * Scale shape: per round one |dist|⋈|E| equi-join against the
    * WEIGHTED substrate (the bucketed table carries the min-quantity
    * weight column, so the edge side is exchange-free on the join key
    * and lineitem is never rescanned — reading it from lineitem per
    * session cost 112 s of the first sf10 spot) + one
    * partial-combining min aggregate keyed on node; lineage truncated
    * per round (the dist frame is referenced twice — relaxation input
    * and union carry).
    */
  def q_sssp(s: SparkSession, dir: String): DataFrame = {
    val edges = coEdgesEnc(s, dir)
    var dist = s.range(1)
      .select(lpEnc(lit(bfsSeed.tail.toLong),
        isS = bfsSeed.head == 's').as("node"), lit(0L).as("dist"))
    for (_ <- 1 to ssspHops) {
      val relaxed = edges
        .join(dist.withColumnRenamed("node", "src").hint("shuffle_hash"),
          "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("dist"))
      dist = Checkpoints.ckptLazy(dist.union(relaxed)
        .groupBy("node").agg(min(col("dist")).as("dist")))
    }
    dist.orderBy("node")
      .select(lpDecode(col("node")).as("node"), col("dist"))
  }
}
