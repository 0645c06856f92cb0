package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFns._

/** Embedding-vector operators (SURVEY §2.11 L3/L4): brute-force
  * cosine top-k (the correctness baseline), LSH-bucketed ANN (the
  * scale path), per-class vector stats, and cosine near-dup pairs.
  *
  * Scale posture: the only broadcast is the 1-row query vector; the
  * near-dup join is blocked by banded sign-LSH buckets whose count
  * (2^bits per band) is a tunable that grows with corpus size, so
  * per-bucket pair fan-out stays bounded; the ANN path reduces the
  * candidate set by 2^bits before any distance math. No collect() —
  * the query vector travels as a broadcast DataFrame.
  */
object VectorOps {
  private def t(s: SparkSession, dir: String, n: String) = Tables(s, dir, n)

  /** Cosine-similarity threshold for q_dedup_embed — the testdata has
    * no planted near-dups (max pairwise cos ≈ 0.5), so the declared
    * threshold is 0.4 to keep the contract output non-trivial.
    */
  val nearDupTau = 0.4

  /** L3 baseline: brute-force cosine top-k against the vec_id=0 query
    * vector. One scan, one broadcast of a single row, distributed
    * TakeOrderedAndProject for the top-k.
    */
  def q_sim_topk(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    e.filter(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q_emb")), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** L4: per-class vector stats. Per-row L2 norms are deterministic
    * sequential folds; the group-sum is made order-independent by a
    * DECIMAL(18,6) cast before aggregation (SURVEY §2.12).
    */
  def q_vec_norm(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings")
      .select(col("label"), l2norm(col("embedding")).as("l2"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum(col("l2").cast("decimal(18,6)")).as("sum_norm"))
      .select(col("label"), col("n"),
        round(col("sum_norm").cast("double") / col("n"), 4).as("avg_norm"))
      .orderBy("label")

  /** Bands × bits-per-band for the near-dup sign-LSH blocking. With
    * 8 bands of 4 axis-sign bits (first 32 components), a pair is a
    * candidate iff ALL bits of SOME band agree — the same
    * band-amplification as MinHash-LSH. Per-band match probability
    * for a pair at angle θ is (1−θ/π)^bits, so at a real near-dup
    * threshold (cos ≥ 0.9 ⇒ p≈0.86/plane) 8 bands give ~99.8%
    * recall while non-dups (cos≈0 ⇒ p=0.5/plane) match a band only
    * 6% of the time.
    *
    * Scale honesty (measured, sf10 probe): raising `bits` shrinks
    * buckets only for DISPERSED data. A tight cluster agrees on
    * every sign bit — any cosine-LSH family keeps near vectors
    * together, that is its purpose — so pair-ENUMERATING dedup is
    * Θ(Σ_block C(n_b, 2)) no matter the bit width: q_dedup_embed ran
    * 509 s at sf10 (100× vectors ⇒ ~10⁴× block pairs) vs 2.9 s at
    * sf1.0. That cost is inherent to the "all pairs + cosines"
    * contract, not the plan. The 100 TB dedup-DECISION path is
    * [[q_dedup_embed_star]] (linear star edges to each block's
    * representative — same connected components, no pair join) or
    * [[q_dedup_semantic]]; keep the pair contract for corpora where
    * the near-dup graph itself is sparse.
    */
  val dedupBands = 8
  val dedupBandBits = 4

  /** Embedding-cosine near-dup pairs: candidates from banded
    * axis-sign LSH within label, verified by exact cosine ≥ tau.
    * Two-phase shape a 100 TB dedup needs: the band self-join touches
    * only (id, label, band, bucket) rows — constant width, never the
    * vectors — and the exact cosine verify runs once per DISTINCT
    * candidate pair after two narrow joins back to the vector table.
    */
  /** Per-block anchor cap for [[q_dedup_embed]] — each (label, band,
    * bucket) block enumerates pairs only against its [[dedupPairCap]]
    * lowest-id members (the anchors). Candidate count per block is
    * then ≤ n_b · cap (LINEAR in the corpus) instead of C(n_b, 2);
    * blocks with ≤ cap+1 members are enumerated in full, so the
    * bounded contract is EXACTLY the old unbounded one wherever the
    * near-dup graph is sparse. This is the r9 resolution of the
    * declared surface's last weak component: three rounds of sf10
    * spots proved the unbounded pair contract Θ(Σ C(n_b,2)) on
    * tight-cluster data BY CONTRACT (509 s at sf10, any cosine-LSH
    * family keeps near vectors together), so the contract itself is
    * re-declared with the bucket-size-cap shape that defused the
    * same blow-up for dhash (dhashBandCap) — per-block, never a
    * fixed absolute candidate count (the df≤50 lesson). Truncation
    * is OBSERVABLE: every emitted pair carries `capped` = 1 iff any
    * contributing block exceeded cap+1 members, so a consumer can
    * see exactly which components of the near-dup graph are
    * partially enumerated and route them to the linear star/cluster
    * path. The unbounded form stays available to specs (cap = None)
    * as the cross-check oracle on small panels.
    */
  val dedupPairCap = 16

  private[graft] def dedupEmbedPairs(s: SparkSession, dir: String,
    cap: Option[Int]): DataFrame = {
    val v = t(s, dir, "embeddings").select(col("vec_id"), col("label"), col("embedding"))
    val bands = v.select(col("vec_id"), col("label"),
      explode(array((0 until dedupBands).map(j =>
        struct(lit(j).as("band"),
          signBandBucket(col("embedding"), j, dedupBandBits).as("bucket"))): _*))
        .as("bb"))
      .select(col("vec_id"), col("label"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
    val wBlock = Window.partitionBy("label", "band", "bucket")
    val ranked = bands
      .withColumn("rk", row_number().over(wBlock.orderBy("vec_id")))
      .withColumn("bn", count(lit(1)).over(wBlock))
    val capN = cap.map(_.toLong).getOrElse(Long.MaxValue - 1L)
    val a = ranked.filter(col("rk") <= capN)
      .select(col("vec_id").as("a_id"), col("label"), col("band"),
        col("bucket"), col("bn"))
    val b = ranked.select(col("vec_id").as("b_id"), col("label"),
      col("band"), col("bucket"))
    val cand = a.join(b, Seq("label", "band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .groupBy("a_id", "b_id", "label")
      .agg(max(when(col("bn") > capN + 1L, 1L).otherwise(0L)).as("capped"))
    cand
      .join(v.select(col("vec_id").as("a_id"), col("embedding").as("emb_a")), "a_id")
      .join(v.select(col("vec_id").as("b_id"), col("embedding").as("emb_b")), "b_id")
      .select(col("a_id"), col("b_id"), col("label"),
        round(cosine(col("emb_a"), col("emb_b")), 4).as("cos"),
        col("capped"))
      .filter(col("cos") >= nearDupTau)
      .orderBy("a_id", "b_id")
  }

  def q_dedup_embed(s: SparkSession, dir: String): DataFrame =
    dedupEmbedPairs(s, dir, Some(dedupPairCap))

  /** Linear-cost embedding near-dup: star edges to each LSH block's
    * minimum-id representative instead of all intra-block pairs.
    * Every non-representative member of a (label, band, bucket)
    * block emits ONE candidate edge (rep, vec), verified by exact
    * cosine ≥ [[nearDupTau]] — candidate count is Σ_block n_b
    * (linear in the corpus) versus q_dedup_embed's Σ_block C(n_b,2),
    * and the plan has NO self-join at all: the representative comes
    * from a window min over the block, the verify from one narrow
    * join back to the vector table. Any vector cosine-joined to its
    * rep lands in the same connected component the full pair set
    * would produce, so downstream keep-one-per-cluster decisions are
    * unchanged — this is the shape that survived the sf10 probe
    * (the pair-enumerating twin is quadratic in tight-cluster data
    * by contract).
    */
  def q_dedup_embed_star(s: SparkSession, dir: String): DataFrame = {
    val v = t(s, dir, "embeddings").select(col("vec_id"), col("label"), col("embedding"))
    val bands = v.select(col("vec_id"), col("label"),
      explode(array((0 until dedupBands).map(j =>
        struct(lit(j).as("band"),
          signBandBucket(col("embedding"), j, dedupBandBits).as("bucket"))): _*))
        .as("bb"))
      .select(col("vec_id"), col("label"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
    val w = Window.partitionBy("label", "band", "bucket")
    val edges = bands
      .withColumn("rep_id", min(col("vec_id")).over(w))
      .filter(col("vec_id") =!= col("rep_id"))
      .select(col("rep_id"), col("vec_id"), col("label"))
      .distinct()
    edges
      .join(v.select(col("vec_id").as("rep_id"), col("embedding").as("emb_r")), "rep_id")
      .join(v.select(col("vec_id"), col("embedding").as("emb_v")), "vec_id")
      .select(col("rep_id"), col("vec_id"), col("label"),
        round(cosine(col("emb_r"), col("emb_v")), 4).as("cos"))
      .filter(col("cos") >= nearDupTau)
      .orderBy("rep_id", "vec_id")
  }

  /** Semantic-dedup threshold on centroid cosine: a vector this close
    * to its class centroid is an interchangeable near-prototype
    * (SemDeDup's insight — Abbas et al. 2023, "SemDeDup: Data-
    * efficient learning at web-scale through semantic deduplication":
    * within a cluster, keep one representative of the tight core).
    */
  val semDedupTau = 0.2

  /** Semantic dedup, cluster-centroid variant: per class, flag every
    * vector whose cosine to the CLASS CENTROID clears [[semDedupTau]]
    * as a semantic duplicate of the class representative (the min
    * vec_id in the near-centroid core); the representative itself is
    * kept. Complements the pairwise embedding near-dup
    * (q_dedup_embed): that finds near-IDENTICAL pairs anywhere,
    * this prunes the redundant prototype mass at each cluster's
    * center — no pair join at all.
    *
    * Scale shape: centroids via a posexplode + per-(label, pos)
    * DECIMAL-exact mean — the component explode is 64× rows map-side
    * but partial-aggregates down to labels×dims tiny rows (the
    * one-pass [[graft.functions.CentroidAgg]] is the faster
    * production path; the declared query pays the decimal explode so
    * the DuckDB twin is bit-identical, §2.12). Scoring is a map-only
    * broadcast join (k centroid rows); the keep-set is a second k-row
    * broadcast. Vectors never shuffle.
    */
  /** Per-label DECIMAL-exact mean vectors (the §2.12 bit-identical
    * centroid shape from [[q_dedup_semantic]]'s Scaladoc), cached so
    * the dedup pass and the centroid-similarity matrix share one
    * materialization of the k tiny rows.
    */
  private def labelCentroids(s: SparkSession, dir: String): DataFrame = {
    val comp = t(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("label", "pos")
      .agg((sum(col("x").cast("double").cast("decimal(20,8)")) / count(lit(1)))
        .cast("double").as("m"))
    graft.Caches.cached(comp.groupBy("label")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        sm => sm.getField("m")).as("c")))
  }

  def q_dedup_semantic(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val cent = labelCentroids(s, dir)
    val scored = e.join(broadcast(cent), Seq("label"))
      .select(col("vec_id"), col("label"),
        // + 0.0 canonicalizes IEEE −0.0: a cosine of −1e-9 rounds to
        // −0.0 in DuckDB but +0.0 here (q_vec_project precedent;
        // caught by the sf1.0 sweep — sf0.01 has no zero-rounding cos)
        (round(cosine(col("embedding"), col("c")), 4) + lit(0.0)).as("cos_c"))
    val keep = scored.filter(col("cos_c") >= semDedupTau)
      .groupBy("label").agg(min(col("vec_id")).as("keep_id"))
    scored.join(broadcast(keep), Seq("label"), "left_outer")
      .select(col("vec_id"), col("label"), col("cos_c"),
        coalesce(col("cos_c") >= semDedupTau && col("vec_id") =!= col("keep_id"),
          lit(false)).as("is_dup"))
      .orderBy("vec_id")
  }

  /** Class-centroid similarity matrix: cosine between every pair of
    * per-label centroids (label_a < label_b) — the semantic-overlap
    * readout for mixture planning: two classes whose centroids sit at
    * cosine ≈ 1 cover the same region of embedding space, so their
    * sampling weights are redundant (the corpus-level complement of
    * [[q_dedup_semantic]]'s within-class pruning). Scale shape: the
    * corpus collapses to k centroid rows first (shared cached frame),
    * then a k×k broadcast cross join — corpus size never touches the
    * pair stage, and the pair count is bounded by C(k,2), not rows.
    */
  def q_centroid_sim(s: SparkSession, dir: String): DataFrame = {
    val cent = labelCentroids(s, dir)
    val b = broadcast(cent
      .select(col("label").as("label_b"), col("c").as("cb")))
    cent.select(col("label").as("label_a"), col("c").as("ca"))
      .crossJoin(b)
      .filter(col("label_a") < col("label_b"))
      .select(col("label_a"), col("label_b"),
        (round(cosine(col("ca"), col("cb")), 4) + lit(0.0)).as("cos_c"))
      .orderBy("label_a", "label_b")
  }

  /** Scalar-quantization bin count (8-bit codes). */
  val sqBins = 256

  /** Int8 scalar quantization of the embedding column — the standard
    * 4× compression pass an embedding store runs before ANN indexing
    * (each float32 component → an 8-bit bin index against per-
    * dimension corpus min/max). Output: the code array plus the
    * per-vector reconstruction MSE against bin midpoints, so the
    * accuracy cost of the compression is observable in the result.
    *
    * Scale shape, same skeleton as [[q_dedup_semantic]]: bounds via
    * posexplode + per-dimension partial-combined min/max (dims tiny
    * rows), rebuilt into one broadcast 1-row array frame; coding and
    * MSE are then pure map-side arithmetic — vectors never shuffle,
    * nothing is driver-side. Cross-engine parity: min/max and floor
    * are exact on doubles, every arithmetic expression is written in
    * the same operation order as the DuckDB twin, and the MSE fold is
    * the sequential double sum [[graft.functions.VectorFns]] pins
    * bit-identical to list_sum.
    */
  def q_vec_quantize(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val comp = e.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy("pos")
      .agg(min(col("x").cast("double")).as("mn"),
        max(col("x").cast("double")).as("mx"))
    val bounds = comp.agg(
      transform(array_sort(collect_list(struct(col("pos"), col("mn")))),
        p => p.getField("mn")).as("mins"),
      transform(array_sort(collect_list(struct(col("pos"), col("mx")))),
        p => p.getField("mx")).as("maxs"))
    val coded = e.crossJoin(broadcast(bounds))
      .select(col("vec_id"), col("embedding"), col("mins"), col("maxs"),
        transform(col("embedding"), (x, i) => {
          val mn = element_at(col("mins"), i + 1)
          val mx = element_at(col("maxs"), i + 1)
          when(mx === mn, lit(0L)).otherwise(
            least(lit(255L),
              floor((x.cast("double") - mn) / (mx - mn) * sqBins).cast("long")))
        }).as("codes"))
    coded.select(col("vec_id"), col("codes"),
      round(aggregate(
        transform(col("embedding"), (x, i) => {
          val mn = element_at(col("mins"), i + 1)
          val mx = element_at(col("maxs"), i + 1)
          val xhat = mn +
            (element_at(col("codes"), i + 1).cast("double") + 0.5) * (mx - mn) / sqBins
          (x.cast("double") - xhat) * (x.cast("double") - xhat)
        }),
        lit(0.0), (acc, v) => acc + v) / size(col("embedding")), 6).as("mse"))
      // declared output serializes codes to a comma-joined scalar in a
      // SEPARATE projection (the mse expression above needs the array;
      // aliasing the string over it in the same select would shadow it
      // via lateral alias resolution): the driver's comparator can't
      // hash ARRAY columns (ContractSpec pins the scalar-output rule)
      .select(col("vec_id"),
        array_join(transform(col("codes"), c => c.cast("string")), ",")
          .as("codes"),
        col("mse"))
      .orderBy("vec_id")
  }

  /** JL random projection 64 → 16 dims ([[graft.functions.RandomProjection]]):
    * the map-only dimensionality-reduction pass a 100 TB embedding
    * pipeline runs before ANN indexing — 4× less distance math and
    * index memory, distances preserved within the JL (1±ε). Pure
    * projection: zero shuffles before the declared ORDER BY; the
    * ±1 sign matrix is a shared literal (no per-row hashing), so the
    * DuckDB twin computes the identical dot products. Sequential
    * left-to-right folds + round(,4) give cross-engine float parity
    * (same discipline as q_sim_topk, SURVEY §2.12).
    */
  def q_vec_project(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.RandomProjection._
    val cols = (0 until outDims).map { j =>
      // + 0.0 canonicalizes IEEE negative zero (an exactly-cancelling
      // ±pair, or a -0.0 input component, yields -0.0 in one engine
      // and +0.0 in the other — caught by the sf1.0 scale compare);
      // every other double is unchanged
      (round(aggregate(
        zip_with(col("embedding"), typedlit(signs(j).toSeq),
          (x, sg) => x.cast("double") * sg),
        lit(0.0), (a, x) => a + x), 4) + lit(0.0)).as(s"p$j")
    }
    t(s, dir, "embeddings")
      .select(col("vec_id") +: cols: _*)
      .orderBy("vec_id")
  }

  // ── Product quantization ──────────────────────────────────────────

  /** PQ geometry: m subspaces × k centroids each. With 64-dim
    * embeddings this is 4 × 16-dim subvectors and 4-bit codes — a
    * 64× compression (256 B float32 → 2 B codes), the layout under
    * every billion-scale IVF-PQ index. k and the Lloyd depth are the
    * accuracy dials; the spec pins MSE monotone in k.
    */
  val pqSubspaces = 4
  val pqK = 16
  val pqLloydIters = 2

  /** Squared L2 between a float subvector and a double codeword. */
  private def l2sq(a: org.apache.spark.sql.Column,
    b: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast("double") - y.cast("double"); d * d
    }), lit(0.0), (acc, v) => acc + v)

  /** (vec_id, sub, sv) subvector rows: a map-side explode, one row
    * per (vector, subspace); slice() never copies the full corpus
    * anywhere.
    */
  private[graft] def pqSubvectors(e: DataFrame): DataFrame = {
    val subDim = 64 / pqSubspaces
    e.select(col("vec_id"),
      explode(array((0 until pqSubspaces).map(j =>
        struct(lit(j).as("sub"),
          slice(col("embedding"), j * subDim + 1, subDim).as("sv"))): _*))
        .as("s"))
      .select(col("vec_id"), col("s.sub").as("sub"), col("s.sv").as("sv"))
  }

  /** One map-only PQ assignment pass — the [[assignToCells]]
    * discipline per subspace: each subspace's k codewords fold into
    * one array row, the 4-row codebook frame broadcast-joins on
    * `sub`, and every subvector picks its nearest codeword (min L2,
    * ties to the higher cell id) as a pure projection. Subvectors
    * never shuffle.
    */
  private[graft] def pqAssign(subs: DataFrame, cb: DataFrame): DataFrame = {
    val cbArr = cb.groupBy("sub")
      .agg(collect_list(struct(col("cell"), col("centroid"))).as("cents"))
    subs.join(broadcast(cbArr), Seq("sub"))
      .select(col("vec_id"), col("sub"), col("sv"),
        array_max(transform(col("cents"), c =>
          struct((-l2sq(col("sv"), c.getField("centroid"))).as("nd"),
            c.getField("cell").as("cell"))))
          .getField("cell").as("cell"))
  }

  /** Per-subspace k-means codebooks: deterministic `vec_id mod k`
    * seeding, `iters` Lloyd rounds (map-only assign + one partial-
    * combining CentroidAgg per (sub, cell) — the shuffle carries
    * m·k constant-size buffers per partition, never subvectors),
    * checkpointed so both consumers (codes, reconstruction) share
    * one build.
    */
  def pqCodebooks(subs: DataFrame, iters: Int): DataFrame = {
    val centroidOf = udaf(graft.functions.CentroidAgg)
    var cb = subs
      .groupBy(col("sub"), pmod(col("vec_id"), lit(pqK.toLong)).as("cell"))
      .agg(centroidOf(col("sv")).as("centroid"))
    for (_ <- 1 to iters)
      cb = pqAssign(subs, cb).groupBy("sub", "cell")
        .agg(centroidOf(col("sv")).as("centroid"))
    Checkpoints.ckpt(cb)
  }

  /** L6: product quantization of the embedding column — codes +
    * per-vector reconstruction MSE, completing the compression
    * ladder q_vec_quantize (scalar int8, 4×) → PQ (codeword ids,
    * 64×) that feeds billion-scale IVF-PQ serving. Not
    * oracle-declared (k-means has no DuckDB twin — SURVEY §2.12);
    * VectorOpsSpec pins determinism, MSE monotone in k, ADC recall
    * vs the exact scan, and the no-shuffle assign plan.
    *
    * Scale shape: subvector explode is map-side; each Lloyd round
    * shuffles only m·k centroid buffers; coding is one broadcast
    * join + projection; the final per-vector regroup is ONE shuffle
    * of (vec_id, sub, cell, err) quads — constant width, no
    * embedding payload.
    */
  def q_vec_pq(s: SparkSession, dir: String): DataFrame = {
    val subs = pqSubvectors(t(s, dir, "embeddings"))
    val cb = pqCodebooks(subs, pqLloydIters)
    val coded = pqAssign(subs, cb)
      .join(broadcast(cb), Seq("sub", "cell"))
      .select(col("vec_id"), col("sub"), col("cell"),
        l2sq(col("sv"), col("centroid")).as("err"))
    coded.groupBy("vec_id")
      // codes serialized to a comma-joined scalar so the driver's
      // rows-only loader survives the column (ContractSpec rule)
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("sub"), col("cell")))),
        p => p.getField("cell").cast("string")), ",").as("codes"),
        round(sum(col("err")) / lit(64.0), 6).as("mse"))
      .orderBy("vec_id")
  }

  /** ADC shortlist size for the IVF-PQ exact re-rank stage. */
  val ivfpqShortlist = 50

  /** L6: composed IVF-PQ search — the billion-scale serving stack
    * end-to-end: coarse k-means cells route the query ([[kmeansCells]]),
    * vectors are PQ-coded on their RESIDUALS against their cell
    * centroid (residual coding is what makes PQ work under IVF: the
    * residual distribution is far tighter than the raw one), search
    * scans only the probed cells' codes with an ADC lookup table
    * (nprobe × m × k = 128 scalar distances, computed once per
    * query), and the ADC top-[[ivfpqShortlist]] is re-ranked with
    * exact cosine — the standard shortlist+rerank recipe that buys
    * back ADC's quantization error.
    *
    * Scale shape: codes are built with the same map-only assigns and
    * constant-size Lloyd shuffles as [[q_vec_pq]]; at query time the
    * corpus-side work is ONE broadcast-joined projection over the
    * probed cells' code rows (2 B/vector read, no embedding payload)
    * and the exact re-rank touches [[ivfpqShortlist]] full vectors.
    * Rows-only (k-means, SURVEY §2.12); VectorOpsSpec holds recall
    * vs brute force and the shortlist-beats-raw-ADC property.
    */
  def q_ann_ivfpq(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val (cells, cent) = kmeansCellsFor(s, dir, ivfLloydIters)
    // residual frame, named like an embedding so pqSubvectors applies
    // array<float> like the raw embeddings: CentroidAgg's input
    // encoder is Seq[Float] (the codebook precision is floats anyway)
    val res = cells.join(broadcast(cent), Seq("cell"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("centroid"),
          (x, y) => x.cast("double") - y.cast("double"))
          .cast("array<float>").as("embedding"))
    val subs = pqSubvectors(res.select(col("vec_id"), col("embedding")))
    val cb = pqCodebooks(subs, pqLloydIters)
    val codes = pqAssign(subs, cb)
      .select(col("vec_id"), col("sub"), col("cell").as("code"))
    // query routing: nprobe nearest cells by centroid cosine
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    val probes = cent.crossJoin(broadcast(q))
      .select(col("cell"), col("centroid"),
        cosine(col("centroid"), col("q_emb")).as("cc"))
      .orderBy(col("cc").desc, col("cell")).limit(ivfNProbe)
    // ADC lookup table: per (probed cell, sub, code) the exact L2
    // between the query's residual subvector and the codeword —
    // nprobe·m·k rows, built entirely from broadcast-sized frames
    val subDim = 64 / pqSubspaces
    val lut = probes.crossJoin(broadcast(q))
      .select(col("cell"),
        explode(array((0 until pqSubspaces).map(j =>
          struct(lit(j).as("sub"),
            slice(zip_with(col("q_emb"), col("centroid"),
              (x, y) => x.cast("double") - y.cast("double")),
              j * subDim + 1, subDim).as("qsv"))): _*)).as("s"))
      .select(col("cell"), col("s.sub").as("sub"), col("s.qsv").as("qsv"))
      .join(cb.withColumnRenamed("cell", "code"), Seq("sub"))
      .select(col("cell"), col("sub"), col("code"),
        l2sq(col("qsv"), col("centroid")).as("err"))
    // scan ONLY the probed cells' codes; ADC = Σ_sub lut(err)
    val adc = cells.filter(col("vec_id") =!= 0)
      .join(broadcast(probes.select(col("cell"))), Seq("cell"))
      .select(col("vec_id"), col("cell"))
      .join(codes, Seq("vec_id"))
      .join(broadcast(lut), Seq("cell", "sub", "code"))
      .groupBy("vec_id").agg(sum(col("err")).as("adc_dist"))
      .orderBy(col("adc_dist").asc, col("vec_id")).limit(ivfpqShortlist)
    // exact re-rank of the shortlist
    e.join(broadcast(adc), Seq("vec_id"))
      .crossJoin(broadcast(q))
      .select(col("vec_id"), round(cosine(col("embedding"), col("q_emb")), 4).as("sim"))
      .orderBy(col("sim").desc, col("vec_id")).limit(10)
  }

  /** Bits in the sign-random-projection LSH bucket id. */
  val lshBits = 6

  /** ANN scale path: sign-random-projection LSH buckets with
    * multi-probe (the query probes its own bucket plus every
    * hamming-1 neighbor — standard multi-probe LSH, so near
    * neighbors that landed one hyperplane away are still found).
    * Candidate set shrinks ~(bits+1)/2^bits vs brute force; exact
    * cosine re-ranks within it. Not oracle-declared (the hyperplane
    * family is engine-hash-specific); the recall spec checks it
    * against q_sim_topk.
    */
  /** Parameterized LSH candidate set (the accuracy dial the sweep
    * spec measures): `bits` hyperplanes, query bucket + all hamming-1
    * probes. Returns every candidate with its exact cosine — callers
    * top-k it; the spec also counts it (candidate fraction vs recall).
    */
  private[graft] def annLshCandidates(e: DataFrame, bits: Int,
    queryId: Long): DataFrame = {
    val eb = e.withColumn("bucket", lshBucket(col("embedding"), bits))
    // query row fans out to its bucket + all hamming-1 probes
    val probes = eb.filter(col("vec_id") === queryId)
      .select(col("embedding").as("q_emb"),
        explode(array(
          (col("bucket") +: (0 until bits).map(b =>
            col("bucket").bitwiseXOR(lit(1 << b)))): _*)).as("bucket"))
    eb.filter(col("vec_id") =!= queryId)
      .join(broadcast(probes), Seq("bucket"))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q_emb")), 4).as("sim"))
  }

  def q_ann_lsh(s: SparkSession, dir: String): DataFrame =
    annLshCandidates(t(s, dir, "embeddings"), lshBits, 0)
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)

  /** Lloyd refinement rounds for the IVF coarse quantizer. */
  val ivfLloydIters = 2

  /** K-means cells for IVF: seeded from the per-label centroids,
    * refined with `iters` Lloyd iterations, then one final assignment
    * against the refined centroids (the inverted lists an IVF index
    * actually stores). Each round is (a) assign: MAP-ONLY — the k
    * centroids are folded into ONE broadcast row holding an
    * array<struct<cell,centroid>>, and each vector picks its cell
    * with an `array_max(transform(...))` argmax over that array
    * (ties broken deterministically by (cosine, cell) struct
    * ordering). The vectors genuinely never shuffle: the only
    * exchange in a Lloyd round is (b) update — one CentroidAgg pass
    * per cell, which partial-aggregates map-side so the shuffle
    * carries k constant-size buffers per partition, not rows. (The
    * previous shape — crossJoin(broadcast k-row frame) reduced by a
    * per-vec_id aggregate — shuffled one embedding-carrying row per
    * vector per iteration; at 100 TB that is iters+1 corpus-wide
    * shuffles for zero information.) At 100 TB cell quality
    * determines recall: per-label seeds inherit whatever the labels
    * happened to mean; Lloyd rounds move the cells to the embedding
    * geometry.
    *
    * @return (assignments (vec_id, cell, embedding), centroids
    *         (cell, centroid)) — assignments are against the FINAL
    *         centroids, so probe routing and list membership agree.
    */
  /** One map-only Lloyd assignment pass: k rows → one array-valued
    * broadcast row, per-vector argmax as a pure projection. The k-row
    * single-row aggregate is trivially cheap; the vector side plans
    * no hash-partitioned exchange at all (PlanSpec asserts this).
    */
  private[graft] def assignToCells(e: DataFrame, cent: DataFrame): DataFrame = {
    // empty-centroid guard: collect_list over zero rows yields ONE row
    // with an empty array, so array_max would emit cell = null for
    // every vector (the old crossJoin shape produced an empty frame).
    // Unreachable from kmeansCells (seeding always yields ≥1 cell) but
    // fail loudly rather than silently null-routing all vectors.
    // Expressed IN the projection (the lpEnc raise_error idiom), not
    // as a driver-side `cent.isEmpty`: that guard was a whole extra
    // JOB executing the centroid lineage once per assign call — three
    // redundant corpus passes per kmeansCells invocation (guide §1.2).
    val centArr = cent.agg(
      collect_list(struct(col("cell"), col("centroid"))).as("cents"))
    e.crossJoin(broadcast(centArr))
      .select(col("vec_id"),
        when(size(col("cents")) > 0,
          array_max(transform(col("cents"), c =>
            struct(cosine(col("embedding"), c.getField("centroid")).as("cc"),
              c.getField("cell").as("cell"))))
            .getField("cell"))
          .otherwise(raise_error(
            lit("assignToCells: centroid frame is empty"))).as("cell"),
        col("embedding"))
  }

  def kmeansCells(e: DataFrame, iters: Int): (DataFrame, DataFrame) = {
    val centroidOf = udaf(graft.functions.CentroidAgg)
    def assign(cent: DataFrame): DataFrame = assignToCells(e, cent)
    var cent = e.groupBy(col("label").as("cell"))
      .agg(centroidOf(col("embedding")).as("centroid"))
    // each Lloyd round is checkpointed (k rows — trivial at any SF):
    // without the cut, round i's plan re-derived rounds 1..i−1 from
    // the corpus on every action, so `iters` rounds cost a quadratic
    // number of corpus passes (the q_dedup_cluster lineage lesson).
    // The final round's checkpoint doubles as the shared
    // materialization both return values hang off (previously a
    // separate post-loop ckpt). Checkpoints.ckpt: reliable mode when
    // a checkpoint dir is configured (cluster), local otherwise.
    for (_ <- 1 to iters)
      cent = Checkpoints.ckpt(assign(cent).groupBy("cell")
        .agg(centroidOf(col("embedding")).as("centroid")))
    val centF = if (iters >= 1) cent else Checkpoints.ckpt(cent)
    (assign(centF), centF)
  }

  /** Per-(session, dir, iters) memo of the embedding-table k-means:
    * q_ann_ivf and q_ann_ivfpq each build the identical coarse
    * quantizer, and the per-round checkpoints mint fresh LogicalRDDs,
    * so CacheManager plan-dedup can never unify the two Lloyd chains
    * (the bpeTrain lesson). FutureTask outside the map lock — the
    * coEdgesEnc discipline.
    */
  private val kmeansMemo =
    new SessionMemo[(String, Int), (DataFrame, DataFrame)]

  private[graft] def kmeansCellsFor(s: SparkSession, dir: String,
    iters: Int): (DataFrame, DataFrame) =
    kmeansMemo.get(s, (dir, iters))(
      kmeansCells(t(s, dir, "embeddings"), iters))

  /** Cells probed per query — the standard IVF recall/cost dial: a
    * query near a cell boundary has true neighbors in the adjacent
    * cell, so nprobe=1 caps recall no matter how good the centroids
    * are. Candidate set is still ~nprobe/k of the corpus.
    */
  val ivfNProbe = 2

  /** IVF-style ANN: coarse quantize to k-means cells ([[kmeansCells]]:
    * per-label seeds + Lloyd refinement), probe the [[ivfNProbe]]
    * nearest refined cells' inverted lists only. Centroids come from
    * the one-pass typed CentroidAgg (constant-size partial
    * aggregation; see its Scaladoc for why the posexplode/
    * collect_list alternative doesn't scale). Not oracle-declared
    * (rows-only); VectorOpsSpec holds the recall bar vs the
    * brute-force q_sim_topk.
    */
  /** Parameterized IVF search against a pre-built index — `nprobe`
    * nearest cells' inverted lists, every candidate with its exact
    * cosine. Probe sets are NESTED in nprobe (the top-n cells are a
    * prefix of the top-(n+1)), so recall is genuinely monotone
    * nondecreasing — the property the sweep spec asserts.
    */
  private[graft] def ivfCandidates(cells: DataFrame, cent: DataFrame,
    queryEmb: DataFrame, queryId: Long, nprobe: Int): DataFrame = {
    val probes = cent.crossJoin(broadcast(queryEmb))
      .select(col("cell"), col("q_emb"), cosine(col("centroid"), col("q_emb")).as("cc"))
      .orderBy(col("cc").desc, col("cell")).limit(nprobe)
    cells.filter(col("vec_id") =!= queryId)
      .join(broadcast(probes), Seq("cell"))
      .select(col("vec_id"),
        round(cosine(col("embedding"), col("q_emb")), 4).as("sim"))
  }

  def q_ann_ivf(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val (cells, cent) = kmeansCellsFor(s, dir, ivfLloydIters)
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("q_emb"))
    ivfCandidates(cells, cent, q, 0, ivfNProbe)
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(10)
  }

  /** MMR constants — shared verbatim with the oracle. λ and β=1−λ are
    * SEPARATE literals: `1 - 0.7` in IEEE is 0.30000000000000004, so
    * deriving β at runtime would diverge from an engine writing the
    * literal 0.3.
    */
  private[graft] val mmrQueries = 3 // qids 0,1,2
  private[graft] val mmrCandidates = 20
  private[graft] val mmrK = 8
  private[graft] val mmrLambda = 0.7
  private[graft] val mmrBeta = 0.3

  /** Maximal Marginal Relevance — diversified top-k selection, the
    * standard redundancy-defusing re-ranker for retrieval and for
    * diverse-sample curation: greedily pick
    * argmax λ·rel(c,q) − (1−λ)·max_{s∈selected} sim(c,s).
    *
    * The greedy loop is inherently sequential in k, so it is unrolled
    * as [[mmrK]] dataflow steps — but every step operates on the
    * BOUNDED per-query candidate frame ([[mmrCandidates]] rows/query,
    * taken by partitioned window rank over the broadcast query set)
    * and the cached candidate×candidate sim matrix (≤ q·C² rows).
    * Corpus size only affects the ONE distributed stage: the initial
    * relevance scan + top-C rank. Selection state is
    * lineage-truncated each step (Checkpoints.ckpt) so the unrolled
    * plan stays linear in k, the q_dedup_cluster discipline.
    */
  def q_mmr(s: SparkSession, dir: String): DataFrame = {
    val e = t(s, dir, "embeddings")
    val qs = broadcast(e.filter(col("vec_id") < mmrQueries)
      .select(col("vec_id").as("qid"), col("embedding").as("qe")))
    val wCand = Window.partitionBy("qid")
      .orderBy(col("rel").desc, col("vec_id"))
    // pinned, not just cached: with the lazy step checkpoints below,
    // step 1's selection, the anti-join legs and the simmat build all
    // become parallel stages of ONE job, and a cold `cand` fill would
    // race (the q_als disease — each leg recomputes the corpus scan +
    // window). One eager fill, everything downstream reads warm.
    val cand = graft.Caches.pinned(
      e.filter(col("vec_id") >= mmrQueries).crossJoin(qs)
        .select(col("qid"), col("vec_id"),
          cosine(col("embedding"), col("qe")).as("rel"), col("embedding"))
        .withColumn("rn", row_number().over(wCand))
        .filter(col("rn") <= mmrCandidates).drop("rn"))
    val simmat = graft.Caches.cached(
      cand.select(col("qid"), col("vec_id").as("a_id"),
        col("embedding").as("ea"))
        .join(cand.select(col("qid"), col("vec_id").as("b_id"),
          col("embedding").as("eb")), Seq("qid"))
        .filter(col("a_id") =!= col("b_id"))
        .select(col("qid"), col("a_id"), col("b_id"),
          cosine(col("ea"), col("eb")).as("sim")))
    val candSlim = cand.drop("embedding")
    // lazy checkpoints: no driver decision separates the k greedy
    // steps, so the final action materializes the whole chain as one
    // job cascade instead of k eager checkpoint jobs (guide §1.2 —
    // the steps run over ≤ q·C-row frames; scheduling dominated)
    var sel = Checkpoints.ckptLazy(
      candSlim.withColumn("rn", row_number().over(wCand))
        .filter(col("rn") === 1)
        .select(col("qid"), col("vec_id"), col("rel"),
          lit(1L).as("step"), col("rel").as("mmr")))
    for (k <- 2 to mmrK) {
      val mx = simmat
        .join(sel.select(col("qid"), col("vec_id").as("a_id")),
          Seq("qid", "a_id"))
        .groupBy("qid", "b_id").agg(max(col("sim")).as("mxsim"))
        .withColumnRenamed("b_id", "vec_id")
      val wPick = Window.partitionBy("qid")
        .orderBy(col("mmr").desc, col("vec_id"))
      val pick = candSlim
        .join(sel.select("qid", "vec_id"), Seq("qid", "vec_id"),
          "left_anti")
        .join(mx, Seq("qid", "vec_id"))
        .withColumn("mmr",
          lit(mmrLambda) * col("rel") - lit(mmrBeta) * col("mxsim"))
        .withColumn("rn", row_number().over(wPick))
        .filter(col("rn") === 1)
        .select(col("qid"), col("vec_id"), col("rel"),
          lit(k.toLong).as("step"), col("mmr"))
      sel = Checkpoints.ckptLazy(sel.union(pick))
    }
    sel.select(col("qid"), col("step"), col("vec_id"),
      round(col("rel"), 6).as("rel"), round(col("mmr"), 6).as("mmr"))
      .orderBy("qid", "step")
  }

  // ── covariance matrix + PCA (the whitening / drift-axis pair) ──────

  /** Fixture embedding dimensionality (validated in VectorOpsSpec).
    * The covariance aggregate's cell count is d(d+1)/2 = 2080 — the
    * corpus collapses to a constant-size summary regardless of rows.
    */
  private[graft] val vecDim = 64

  /** Exact upper-triangle second-moment cells + per-dim sums for the
    * embedding covariance: ONE generator pass emits the d(d+1)/2
    * products per vector MAP-SIDE (no self-join — the pair structure
    * is within each row's own array), then a partial-combining
    * aggregate leaves ≤ 2080 cells per mapper on the shuffle. Element
    * values go through the float → DOUBLE → DECIMAL(18,8) cast (the
    * labelCentroids rounding at a width that keeps products exact):
    * a DECIMAL(18,8) product is DECIMAL(37,16), so every product and
    * sum is exact in Spark and in the DuckDB twin alike. (At
    * DECIMAL(20,8) Spark typed the product DECIMAL(38,13) — precision
    * 41 overflows 38 — and rounded each product to 13 places where
    * DuckDB kept 16.) Elements must stay below 1e10 in magnitude.
    */
  private[graft] def covCells(s: SparkSession, dir: String): DataFrame =
    graft.Caches.cached(covCellsOf(t(s, dir, "embeddings")))

  private[graft] def covCellsOf(e: DataFrame): DataFrame = {
    // r11 (cold-pass protocol exposed this at ~7 s standalone for
    // 2000×64 floats): the previous shape re-cast vi/vj float→double→
    // decimal PER PAIR (8.3M casts for 4.16M pairs) and built a
    // struct(i,j,p) per pair inside interpreted nested lambdas.
    // Now: cast the array to DECIMAL once per vector (128k casts),
    // emit a FLAT product array (no per-pair struct), aggregate by
    // flat position, and recover (i, j) from the position through a
    // broadcast d(d+1)/2-row lookup built from the same upper-
    // triangle walk. Same products, same sums (VectorOpsSpec pins
    // every cell against a driver-side BigDecimal reference);
    // measured 8.5 → 2.7 s. Scale shape unchanged: map-local
    // generation, partial-combining aggregate, d²-bounded lookup.
    val d = vecDim
    // the flat-position lookup holds only for d-element vectors: a
    // shorter array would map positions to the wrong (i, j) and a
    // longer one past the lookup (dropped by the join), so a ragged
    // vector fails the query instead of mislabeling cells
    val checked = e.select(
      when(col("embedding").isNull || size(col("embedding")) === d,
        col("embedding"))
        .otherwise(raise_error(concat(
          lit("covCellsOf: embedding of size "),
          size(col("embedding")).cast("string"),
          lit(s", expected vecDim = $d"))))
        .as("embedding"))
    // integer `div`: pos is BIGINT like the aggregate side's key
    val lut = e.sparkSession.range(0, d.toLong).select(col("id").as("i"))
      .select(col("i"), explode(expr(s"sequence(i, ${d - 1})")).as("j"))
      .select(expr(s"i * $d - i * (i - 1) div 2 + j - i").as("pos"),
        col("i"), col("j"))
    val prods = checked.select(expr(
      "transform(embedding, v -> CAST(CAST(v AS DOUBLE) AS DECIMAL(18,8)))")
      .as("d"))
      .select(posexplode(expr(
        """flatten(transform(d, (vi, i) ->
          |  transform(slice(d, i + 1, size(d) - i), vj ->
          |    CAST(vi * vj AS DECIMAL(38,16)))))""".stripMargin))
        .as(Seq("pos", "p")))
      .groupBy(col("pos").cast("long").as("pos"))
      .agg(sum(col("p")).as("spp"), count(lit(1)).as("n"))
      .join(broadcast(lut), "pos")
      .select("i", "j", "spp", "n")
    val sums = checked.select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("pos").cast("long").as("pos"))
      .agg(sum(col("x").cast("double").cast("decimal(18,8)")).as("sv"))
    // covCells wraps this in the registered shared cache: q_vec_cov
    // and q_vec_pca both consume the 2080-row summary — CacheManager
    // plan-dedup gives the two queries ONE covariance pass per
    // session (the docTokens rule)
    prods
      .join(broadcast(sums.select(col("pos").as("i"), col("sv").as("si"))), "i")
      .join(broadcast(sums.select(col("pos").as("j"), col("sv").as("sj"))), "j")
      .select("i", "j", "spp", "n", "si", "sj")
  }

  /** Declared covariance-matrix query: all d(d+1)/2 upper-triangle
    * cells of the embedding covariance, cov = (n·Σxy − Σx·Σy)/n² from
    * the exact-decimal moments of [[covCells]] — the d=64
    * generalization of q_corr_matrix's one-pass moment discipline,
    * and the distributed half of PCA (the eigen step runs on this
    * 2080-cell summary, not on the corpus).
    *
    * Honest scale note: this pass is corpus×d²/2 work by definition
    * (measured 8.9×/decade, linear in vectors). At 100 TB you run it
    * on a deterministic hash-sample of the vectors — covariance
    * estimator error shrinks as 1/√n, so full-corpus exactness buys
    * nothing there; the declared exact full form is the
    * oracle-gateable correctness anchor the sampled variant is
    * validated against.
    */
  private def covProjection(cells: DataFrame): DataFrame = {
    def d(c: String) = col(c).cast("double")
    cells
      .select(col("i"), col("j"),
        // + 0.0 canonicalizes IEEE −0.0 (the q_vec_project /
        // q_dedup_semantic precedent) — mirrored in the oracle
        (round((d("n") * d("spp") - d("si") * d("sj"))
          / (d("n") * d("n")), 6) + lit(0.0)).as("cov"))
      .orderBy("i", "j")
  }

  def q_vec_cov(s: SparkSession, dir: String): DataFrame =
    covProjection(covCells(s, dir))

  /** Hash-sample keep threshold for [[q_vec_cov_sample]], shared
    * verbatim with the oracle: first-2-hex-chars of md5(vec_id) <
    * "40" keeps exactly 64/256 = 25% of vectors, deterministically
    * and engine-independently (the q_sample_hash discipline).
    */
  private[graft] val covSampleHexLt = "40"

  /** Declared query: the 100 TB covariance path — [[q_vec_cov]]'s
    * exact pipeline over a DETERMINISTIC 25% md5 hash-sample of the
    * vectors. The full-corpus form is the correctness anchor, but
    * covariance estimator error shrinks as 1/√n, so at corpus scale
    * a sample buys the same matrix for a fraction of the scan: this
    * declares that path instead of leaving it a Scaladoc claim
    * (round-6 verdict item 4). Fully deterministic ⇒ fully
    * oracle-able: the DuckDB twin applies the same md5 predicate and
    * the same exact-decimal moments, so this is hash-gated like the
    * exact form — while VectorOpsSpec separately bounds
    * |sampled − exact| by the delta-method 1/√n envelope
    * (Var(ĉᵢⱼ) ≈ (cᵢᵢcⱼⱼ + cᵢⱼ²)/n).
    */
  def q_vec_cov_sample(s: SparkSession, dir: String): DataFrame =
    covProjection(covCellsOf(t(s, dir, "embeddings")
      .filter(substring(md5(col("vec_id").cast("string")), 1, 2)
        < covSampleHexLt)))

  /** Cyclic Jacobi eigendecomposition of a symmetric d×d matrix:
    * [[pcaSweeps]] fixed full sweeps in deterministic (p,q) order —
    * no convergence threshold, so the op sequence (and result) is
    * identical on every run and every machine. Returns
    * (eigenvalues, eigenvectors as rows), sorted descending.
    * Driver-side by design: the input is the BOUNDED d² covariance
    * summary (the k-means-codebook precedent), never corpus data.
    */
  private[graft] val pcaSweeps = 16

  private[graft] def jacobiEigen(a0: Array[Array[Double]])
    : (Array[Double], Array[Array[Double]]) = {
    val d = a0.length
    val a = a0.map(_.clone())
    val v = Array.tabulate(d, d)((r, c) => if (r == c) 1.0 else 0.0)
    for (_ <- 1 to pcaSweeps; p <- 0 until d - 1; q <- p + 1 until d) {
      val apq = a(p)(q)
      if (apq != 0.0) {
        val theta = (a(q)(q) - a(p)(p)) / (2.0 * apq)
        val t = math.signum(theta) match {
          case 0.0 => 1.0 / (theta + math.sqrt(theta * theta + 1.0))
          case sgn => sgn / (math.abs(theta) + math.sqrt(theta * theta + 1.0))
        }
        val c = 1.0 / math.sqrt(t * t + 1.0)
        val sn = t * c
        for (k <- 0 until d) {
          val akp = a(k)(p); val akq = a(k)(q)
          a(k)(p) = c * akp - sn * akq
          a(k)(q) = sn * akp + c * akq
        }
        for (k <- 0 until d) {
          val apk = a(p)(k); val aqk = a(q)(k)
          a(p)(k) = c * apk - sn * aqk
          a(q)(k) = sn * apk + c * aqk
        }
        for (k <- 0 until d) {
          val vkp = v(k)(p); val vkq = v(k)(q)
          v(k)(p) = c * vkp - sn * vkq
          v(k)(q) = sn * vkp + c * vkq
        }
      }
    }
    val order = (0 until d).sortBy(i => (-a(i)(i), i))
    (order.map(i => a(i)(i)).toArray,
      order.map(i => (0 until d).map(k => v(k)(i)).toArray).toArray)
  }

  /** Number of principal components the declared query projects onto. */
  private[graft] val pcaTopK = 2

  /** Declared rows-only query: PCA projection profile — per label, the
    * population and mean/stddev of the projections onto the top-2
    * principal components (the drift-axis readout: which classes
    * separate along the corpus's dominant variance directions). Shape
    * at 100 TB: the corpus collapses to the 2080-cell exact covariance
    * summary ([[covCells]], one generator + one partial-combining
    * aggregate); the eigen step is driver-side on that BOUNDED d×d
    * summary ([[jacobiEigen]], fixed-sweep deterministic); the
    * projection pass is map-side (PCs ride as literals), one 10-group
    * aggregate. Rows-only by §2.12 (no DuckDB eigen twin); the
    * covariance HALF is hash-gated through q_vec_cov, and
    * VectorOpsSpec pins orthonormality, trace preservation, descending
    * eigenvalues, and projection variance ≡ eigenvalue.
    */
  /** Collected 2080-cell covariance summaries, memoized per data dir
    * (the fixture dirs are immutable): q_vec_pca needs the cells on
    * the DRIVER for the eigen step, but paying a corpus pass at
    * DataFrame-CONSTRUCTION time on every invocation broke the
    * "construction is analysis-only" assumption the plan-shape/
    * schema test loops rely on — each ContractSpec/PlanSpec iteration
    * was re-running the covariance job. Cleared by every
    * Caches.releaseAll (the hook below): a driver memo that outlived
    * the Spark caches would make DeterminismSpec's 3-vs-7-partition
    * q_vec_pca runs compare the memo with itself.
    */
  private val covCellsCollected = new java.util.concurrent.ConcurrentHashMap[
    String, Array[org.apache.spark.sql.Row]]()
  graft.Caches.addReleaseHook(() => covCellsCollected.clear())

  def q_vec_pca(s: SparkSession, dir: String): DataFrame = {
    val cells = covCellsCollected.computeIfAbsent(
      java.nio.file.Paths.get(dir).toAbsolutePath.normalize.toString,
      _ => covCells(s, dir).collect())
    val d = vecDim
    val cov = Array.ofDim[Double](d, d)
    cells.foreach { r =>
      val (i, j) = (r.getLong(0).toInt, r.getLong(1).toInt)
      val n = r.getLong(3).toDouble
      val c = (n * r.getDecimal(2).doubleValue() -
        r.getDecimal(4).doubleValue() * r.getDecimal(5).doubleValue()) / (n * n)
      cov(i)(j) = c; cov(j)(i) = c
    }
    val (ev, vecs) = jacobiEigen(cov)
    val trace = (0 until d).map(i => cov(i)(i)).sum
    val pcCols = (0 until pcaTopK).map { k =>
      val pc = vecs(k)
      // deterministic sign convention: largest-|loading| positive
      val lead = pc.indices.maxBy(i => (math.abs(pc(i)), -i))
      val sgn = if (pc(lead) < 0) -1.0 else 1.0
      val arr = array(pc.map(x => lit(x * sgn)): _*)
      // projection double, then the exact-moment discipline: rounded
      // to DECIMAL(20,8) so group sums are order-independent under
      // any partitioning (rows-only queries are still bound by the
      // DeterminismSpec partition-invariance rule)
      aggregate(zip_with(col("embedding"), arr,
          (a, b) => a.cast("double") * b),
        lit(0.0), (acc, x) => acc + x)
        .cast("decimal(20,8)").as(s"p$k")
    }
    val e = t(s, dir, "embeddings")
      .select(Seq(col("label")) ++ pcCols: _*)
    def dd(c: org.apache.spark.sql.Column) = c.cast("double")
    val aggs = (0 until pcaTopK).flatMap { k =>
      Seq(sum(col(s"p$k")).as(s"sx$k"),
        sum((col(s"p$k") * col(s"p$k")).cast("decimal(38,16)")).as(s"sxx$k"))
    }
    val evCols = (0 until pcaTopK).flatMap { k =>
      Seq(lit(math.rint(ev(k) * 1e6) / 1e6).as(s"ev$k"),
        lit(math.rint(ev(k) / trace * 1e6) / 1e6).as(s"ev${k}_ratio"))
    }
    val allAggs = Seq(count(lit(1)).as("n")) ++ aggs
    e.groupBy("label")
      .agg(allAggs.head, allAggs.tail: _*)
      .select(Seq(col("label"), col("n")) ++
        (0 until pcaTopK).flatMap { k =>
          Seq(round(dd(col(s"sx$k")) / dd(col("n")), 6).as(s"mean_p$k"),
            round(sqrt((dd(col("n")) * dd(col(s"sxx$k"))
              - dd(col(s"sx$k")) * dd(col(s"sx$k")))
              / (dd(col("n")) * dd(col("n")))), 6).as(s"sd_p$k"))
        } ++ evCols: _*)
      .orderBy("label")
  }
}
