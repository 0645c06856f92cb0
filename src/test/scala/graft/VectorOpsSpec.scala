package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.VectorFns
import graft.operators.VectorOps

class VectorOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._
  private val dir = TestSpark.sf0001

  test("cosine of a vector with itself is 1") {
    val got = Seq((Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
      .select(round(VectorFns.cosine($"a", $"b"), 9)).as[Double].head()
    assert(got == 1.0)
  }

  test("cosine of orthogonal vectors is 0") {
    val got = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 2.0f))).toDF("a", "b")
      .select(VectorFns.cosine($"a", $"b")).as[Double].head()
    assert(got == 0.0)
  }

  test("q_sim_topk: 10 rows, sims descending, query vec excluded") {
    val rows = VectorOps.q_sim_topk(spark, dir).collect()
    assert(rows.length == 10)
    val sims = rows.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    assert(!rows.map(_.getLong(0)).contains(0L))
  }

  test("q_ann_lsh: results are a subset of the brute-force ranking's " +
    "universe and self-consistent") {
    val ann = VectorOps.q_ann_lsh(spark, dir).collect()
    assert(ann.nonEmpty) // query's own bucket is never empty at sf0.001
    val sims = ann.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
  }

  test("q_ann_ivf: Lloyd-refined cells hold the recall bar vs brute force") {
    val exact = VectorOps.q_sim_topk(spark, dir).collect().map(_.getLong(0)).toSet
    val ivf = VectorOps.q_ann_ivf(spark, dir).collect()
    assert(ivf.nonEmpty)
    val got = ivf.map(_.getLong(0)).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF one-probe recall $recall below bar")
  }

  test("q_ann_ivfpq: shortlist+rerank holds the IVF recall bar and " +
    "emits exact cosines in descending order") {
    val exact = VectorOps.q_sim_topk(spark, dir).collect().map(_.getLong(0)).toSet
    val out = VectorOps.q_ann_ivfpq(spark, dir).collect()
    assert(out.length == 10)
    val sims = out.map(_.getDouble(1))
    assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    assert(!out.map(_.getLong(0)).contains(0L), "query vec must be excluded")
    // exact re-rank of the ADC shortlist must not fall below the
    // plain-IVF bar by more than the shortlist truncation allows;
    // with shortlist=50 of ~nprobe/k of 500 vectors the shortlist is
    // effectively the whole probed set, so the same 0.3 bar applies
    val got = out.map(_.getLong(0)).toSet
    val recall = (exact intersect got).size.toDouble / exact.size
    assert(recall >= 0.3, s"IVF-PQ recall $recall below bar")
    // sims must be EXACT cosines (re-ranked), matching the brute-force
    // values for the same ids
    val bf = VectorOps.q_sim_topk(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    out.foreach { r =>
      bf.get(r.getLong(0)).foreach(v =>
        assert(math.abs(v - r.getDouble(1)) < 1e-9))
    }
  }

  // ── accuracy-dial sweeps (VERDICT r4 item #6): the rows-only ANN
  // entries' accuracy story as a measured CURVE, not a single bar ──

  private def truthTop10(e: org.apache.spark.sql.DataFrame, qid: Long): Set[Long] = {
    val q = e.filter($"vec_id" === qid).select($"embedding".as("q_emb"))
    e.filter($"vec_id" =!= qid).crossJoin(broadcast(q))
      .select($"vec_id",
        round(VectorFns.cosine($"embedding", $"q_emb"), 4).as("sim"))
      .orderBy($"sim".desc, $"vec_id").limit(10)
      .collect().map(_.getLong(0)).toSet
  }

  private def recallAt10(cand: org.apache.spark.sql.DataFrame,
    truth: Set[Long]): Double = {
    val got = cand.orderBy($"sim".desc, $"vec_id").limit(10)
      .collect().map(_.getLong(0)).toSet
    (truth intersect got).size.toDouble / truth.size
  }

  test("LSH sweep: candidate-set fraction shrinks with bits and recall " +
    "does not improve as candidates shrink (the dial is real)") {
    val e = graft.Tables(spark, dir, "embeddings")
    val n = e.count() - 1
    val qids = Seq(0L, 7L, 23L, 41L, 99L)
    val curve = Seq(2, 4, 8).map { bits =>
      val (recSum, fracSum) = qids.foldLeft((0.0, 0.0)) { case ((r, f), qid) =>
        val cand = VectorOps.annLshCandidates(e, bits, qid)
        (r + recallAt10(cand, truthTop10(e, qid)),
          f + cand.count().toDouble / n)
      }
      (bits, recSum / qids.size, fracSum / qids.size)
    }
    info(f"bits  recall@10  cand_frac")
    curve.foreach { case (b, r, f) => info(f"$b%4d  $r%9.2f  $f%9.3f") }
    val frac = curve.map(_._3)
    // candidate cost strictly decreases as hyperplanes are added
    assert(frac(0) > frac(1) && frac(1) > frac(2),
      s"candidate fraction not decreasing in bits: $frac")
    // the multi-probe keeps ~ (bits+1)/2^bits of the corpus: 8 bits
    // must be a real index, not a near-full scan
    assert(frac(2) < 0.15, s"8-bit candidate fraction ${frac(2)} too high")
    val rec = curve.map(_._2)
    // paying more candidates can only help: the coarse end of the dial
    // dominates the fine end
    assert(rec(0) >= rec(2),
      s"recall rose as candidates shrank: $rec — dial is broken")
    assert(rec(0) >= 0.6, s"2-bit (75% candidates) recall ${rec(0)} too low")
  }

  test("IVF sweep: nested probe sets give monotone nondecreasing recall " +
    "as nprobe grows") {
    val e = graft.Tables(spark, dir, "embeddings")
    val n = e.count() - 1
    val (cells, cent) = VectorOps.kmeansCells(e, VectorOps.ivfLloydIters)
    val qids = Seq(0L, 7L, 23L, 41L, 99L)
    val curve = Seq(1, 2, 4).map { nprobe =>
      val (recSum, fracSum) = qids.foldLeft((0.0, 0.0)) { case ((r, f), qid) =>
        val q = e.filter($"vec_id" === qid).select($"embedding".as("q_emb"))
        val cand = VectorOps.ivfCandidates(cells, cent, q, qid, nprobe)
        (r + recallAt10(cand, truthTop10(e, qid)),
          f + cand.count().toDouble / n)
      }
      (nprobe, recSum / qids.size, fracSum / qids.size)
    }
    info(f"nprobe  recall@10  cand_frac")
    curve.foreach { case (p, r, f) => info(f"$p%6d  $r%9.2f  $f%9.3f") }
    val rec = curve.map(_._2)
    val frac = curve.map(_._3)
    // probe sets are nested ⇒ recall cannot drop, candidates cannot
    // shrink, as nprobe grows
    assert(rec(0) <= rec(1) && rec(1) <= rec(2),
      s"IVF recall not monotone in nprobe: $rec")
    assert(frac(0) <= frac(1) && frac(1) <= frac(2),
      s"IVF candidate fraction not monotone in nprobe: $frac")
    // the wide end of the dial must actually reach good recall
    assert(rec(2) >= 0.5, s"nprobe=4 recall ${rec(2)} too low")
    // and the narrow end must actually bound work
    assert(frac(0) < 0.5, s"nprobe=1 candidate fraction ${frac(0)} too high")
  }

  test("q_dedup_embed bounded contract: a subset of the unbounded " +
    "enumeration with identical cosines, equal wherever no block " +
    "was truncated, and cap=1 degenerates toward the star shape") {
    val unb = VectorOps.dedupEmbedPairs(spark, dir, None).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    val unbSet = unb.toSet
    // the unbounded cross-check never reports truncation
    VectorOps.dedupEmbedPairs(spark, dir, None).collect()
      .foreach(r => assert(r.getLong(4) == 0L))
    val capped = VectorOps.q_dedup_embed(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(3), r.getLong(4)))
    capped.foreach { case ((a, b), cos, c) =>
      assert(a < b, s"pair ($a,$b) out of order")
      assert(c == 0L || c == 1L, s"capped flag $c not 0/1")
      assert(unbSet.contains((a, b, cos)),
        s"bounded pair ($a,$b,$cos) absent from the unbounded relation")
    }
    // if no pair saw a truncated block, the bound changed nothing
    if (capped.forall(_._3 == 0L))
      assert(capped.map(p => (p._1._1, p._1._2, p._2)).toSet == unbSet,
        "no truncation reported but the pair sets differ")
    // cap=1: only block-min anchors pair — still a subset, never larger
    val one = VectorOps.dedupEmbedPairs(spark, dir, Some(1)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3)))
    one.foreach(p => assert(unbSet.contains(p)))
    assert(one.length <= capped.length)
    Caches.releaseAll()
  }

  test("q_dedup_embed_star: star edges are a subset of the pair " +
    "variant's near-dup relation and touch every flagged vector") {
    val pairs = VectorOps.q_dedup_embed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val stars = VectorOps.q_dedup_embed_star(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(stars.nonEmpty, "no star edges on the fixture")
    // every star edge (rep < vec by construction) is a pair the full
    // enumeration also verifies — the star output never invents a dup
    stars.foreach { case (rep, vec) =>
      assert(rep < vec, s"rep $rep not the min of its edge")
      assert(pairs.contains((rep, vec)),
        s"star edge ($rep,$vec) absent from the pair variant")
    }
  }

  test("q_dedup_semantic: representatives kept, dup flags confined to " +
    "the near-centroid core, exactly one keeper per flagged class") {
    val rows = VectorOps.q_dedup_semantic(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty && rows.exists(_._4), "no semantic dups flagged")
    val tau = VectorOps.semDedupTau
    // a flagged dup is always inside the near-centroid core
    assert(rows.filter(_._4).forall(_._3 >= tau))
    // per class: every core member EXCEPT the min-id representative is
    // flagged, and nothing outside the core is
    rows.groupBy(_._2).foreach { case (label, rs) =>
      val core = rs.filter(_._3 >= tau)
      if (core.nonEmpty) {
        val rep = core.map(_._1).min
        core.foreach { r =>
          assert(r._4 == (r._1 != rep),
            s"label $label vec ${r._1}: flag ${r._4} vs rep $rep")
        }
      }
      rs.filter(_._3 < tau).foreach(r => assert(!r._4))
    }
  }

  test("q_centroid_sim: exactly C(k,2) ordered pairs, cosines in " +
    "[-1,1], every label participates") {
    val labels = Tables(spark, dir, "embeddings")
      .select("label").distinct().collect().map(_.getInt(0)).sorted
    val k = labels.length
    val out = VectorOps.q_centroid_sim(spark, dir).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    assert(out.length == k * (k - 1) / 2, "pair count != C(k,2)")
    assert(out.forall(p => p._1 < p._2), "unordered pair emitted")
    assert(out.map(p => (p._1, p._2)).distinct.length == out.length)
    assert(out.forall(p => p._3 >= -1.0001 && p._3 <= 1.0001))
    if (k >= 2) {
      val seen = out.flatMap(p => Seq(p._1, p._2)).distinct.sorted
      assert(seen.sameElements(labels), "a label is missing from the matrix")
    }
  }

  test("q_vec_quantize: codes are 8-bit, reconstruction MSE is within " +
    "the uniform-quantizer bound") {
    val rows = VectorOps.q_vec_quantize(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val codes = r.getString(1).split(",").toSeq.map(_.toLong)
      assert(codes.nonEmpty && codes.forall(c => c >= 0 && c <= 255))
      val mse = r.getDouble(2)
      // unit-normalized fixture: per-dim range << 1, so the midpoint
      // quantizer's per-dim error bound (range/bins)^2/4 is far under
      // 1e-5; an MSE above that means the binning math is wrong
      assert(mse >= 0 && mse < 1e-5, s"vec ${r.getLong(0)} mse $mse")
    }
  }

  test("q_vec_project: projected squared norms concentrate at " +
    "outDims x the original (the JL expectation)") {
    import graft.functions.RandomProjection.{outDims, srcDims}
    val proj = VectorOps.q_vec_project(spark, dir)
    val orig = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), VectorFns.norm2(col("embedding")).as("n2"))
    // E[‖Pv‖²] = outDims·‖v‖² for ±1 sign projections; the MEAN ratio
    // over the fixture must sit near outDims even though any single
    // vector's ratio can wander
    val pn2 = (0 until outDims)
      .map(j => col(s"p$j") * col(s"p$j")).reduce(_ + _)
    val ratios = proj.join(orig, "vec_id")
      .select((pn2 / col("n2")).as("r")).as[Double].collect()
    assert(ratios.length > 0)
    val mean = ratios.sum / ratios.length
    assert(mean > outDims * 0.75 && mean < outDims * 1.25,
      s"mean norm ratio $mean far from $outDims")
    // and the projection is 4x narrower than the source
    assert(proj.schema.fieldNames.length == 1 + outDims && outDims * 4 == srcDims)
  }

  test("kmeansCells: assignments agree with final centroids and cover " +
    "every vector exactly once") {
    val e = Tables(spark, dir, "embeddings")
    val (cells, cent) = VectorOps.kmeansCells(e, VectorOps.ivfLloydIters)
    assert(cells.count() == e.count())
    assert(cells.select("vec_id").distinct().count() == e.count())
    // every assigned cell exists in the centroid table
    assert(cells.join(cent, Seq("cell"), "left_anti").count() == 0)
  }

  test("q_vec_norm: unit-normalized fixture embeddings have avg norm ≈ 1") {
    VectorOps.q_vec_norm(spark, dir).collect()
      .foreach(r => assert(math.abs(r.getDouble(2) - 1.0) < 0.01))
  }

  test("lshBucket is deterministic across evaluations") {
    val e = Tables(spark, dir, "embeddings").limit(50)
    val b1 = e.select($"vec_id", VectorFns.lshBucket($"embedding", 8).as("b"))
      .orderBy("vec_id").as[(Long, Int)].collect().toSeq
    val b2 = e.select($"vec_id", VectorFns.lshBucket($"embedding", 8).as("b"))
      .orderBy("vec_id").as[(Long, Int)].collect().toSeq
    assert(b1 == b2)
    assert(b1.forall { case (_, b) => b >= 0 && b < 256 })
  }

  test("q_mmr: 8 distinct picks per query, step 1 is the relevance " +
    "argmax, every pick comes from the top-20 candidate set") {
    import org.apache.spark.sql.expressions.Window
    val out = VectorOps.q_mmr(spark, dir).collect()
    val byQ = out.groupBy(_.getLong(0))
    assert(byQ.size == VectorOps.mmrQueries)
    byQ.foreach { case (qid, rows) =>
      assert(rows.length == VectorOps.mmrK, s"qid $qid")
      val ids = rows.map(_.getLong(2))
      assert(ids.distinct.length == ids.length, s"qid $qid repeated a pick")
      // step-1 pick maximizes rel; its mmr equals its rel
      val s1 = rows.find(_.getLong(1) == 1L).get
      assert(rows.forall(_.getDouble(3) <= s1.getDouble(3) + 1e-9))
      assert(math.abs(s1.getDouble(3) - s1.getDouble(4)) < 1e-9)
      // mmr = λ·rel − β·maxsim with maxsim ∈ [−1, 1] (cosines go
      // negative: an anti-correlated nearest-selected RAISES the
      // score), so the bound is two-sided: |mmr − λ·rel| ≤ β
      rows.filter(_.getLong(1) > 1L).foreach { r =>
        assert(math.abs(
          r.getDouble(4) - VectorOps.mmrLambda * r.getDouble(3))
          <= VectorOps.mmrBeta + 1e-9)
      }
    }
  }

  test("q_vec_pq: codes are m 4-bit ids per vector, deterministic " +
    "across runs, and MSE beats the k=4 codebook (monotone in k)") {
    val out = VectorOps.q_vec_pq(spark, dir)
      .as[(Long, String, Double)].collect()
      .map { case (id, cs, mse) =>
        (id, cs.split(",").toSeq.map(_.toLong), mse) }
    assert(out.nonEmpty)
    out.foreach { case (_, codes, mse) =>
      assert(codes.length == VectorOps.pqSubspaces)
      assert(codes.forall(c => c >= 0 && c < VectorOps.pqK))
      assert(mse >= 0.0)
    }
    // deterministic rebuild
    val again = VectorOps.q_vec_pq(spark, dir)
      .as[(Long, String, Double)].collect()
      .map { case (id, cs, mse) =>
        (id, cs.split(",").toSeq.map(_.toLong), mse) }
    assert(out.toSeq == again.toSeq)
    // MSE monotone in codebook size: a k=16 codebook must beat the
    // nested-seed k=4 one on mean reconstruction error (k-means with
    // more cells can only tile the subspace finer)
    val subs = VectorOps.pqSubvectors(Tables(spark, dir, "embeddings"))
    val centroidOf = udaf(graft.functions.CentroidAgg)
    var cb4 = subs
      .groupBy($"sub", pmod($"vec_id", lit(4L)).as("cell"))
      .agg(centroidOf($"sv").as("centroid"))
    for (_ <- 1 to VectorOps.pqLloydIters)
      cb4 = VectorOps.pqAssign(subs, cb4).groupBy("sub", "cell")
        .agg(centroidOf($"sv").as("centroid"))
    val mse4 = VectorOps.pqAssign(subs, cb4)
      .join(broadcast(cb4), Seq("sub", "cell"))
      .select(aggregate(zip_with($"sv", $"centroid", (x, y) => {
        val d = x.cast("double") - y.cast("double"); d * d
      }), lit(0.0), (a, v) => a + v).as("err"))
      .agg(sum($"err")).as[Double].head()
    val mse16 = out.map(_._3).sum * 64.0
    assert(mse16 < mse4,
      s"k=16 total err $mse16 not below k=4 total err $mse4")
  }

  test("q_vec_pq: ADC distances correlate with exact L2, the exact " +
    "top-10 concentrates in the ADC candidate head, and the codes " +
    "capture real variance") {
    // On this isotropic unit-vector fixture 2-byte PQ codes retain
    // ~26% of the per-vector variance (4-bit codes per 16 dims), so
    // ADC is a CANDIDATE GENERATOR here, not a ranker — the honest
    // bars are correlation + candidate-head recall (measured 0.46 /
    // 4-of-10-in-top-50 on the fixture), not top-10 ∩ top-10.
    val e = Tables(spark, dir, "embeddings")
      .as[(Long, Seq[Float], Int)].collect()
    val q = e.find(_._1 == 0L).get._2.map(_.toDouble).toArray
    def l2(a: Array[Double], b: Array[Double]) =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val exact = e.filter(_._1 != 0L)
      .map(v => v._1 -> l2(v._2.map(_.toDouble).toArray, q))
      .sortBy { case (id, d) => (d, id) }.take(10).map(_._1).toSet
    // codebooks + codes
    val subs = VectorOps.pqSubvectors(Tables(spark, dir, "embeddings"))
    val cb = VectorOps.pqCodebooks(subs, VectorOps.pqLloydIters)
      .as[(Int, Long, Seq[Double])].collect()
      .map { case (sub, cell, c) => (sub, cell) -> c.toArray }.toMap
    val codes = VectorOps.q_vec_pq(spark, dir)
      .as[(Long, String, Double)].collect()
      .map { case (id, cs, mse) =>
        (id, cs.split(",").toSeq.map(_.toLong), mse) }
    val subDim = 64 / VectorOps.pqSubspaces
    // ADC: distance(query, vec) ≈ Σ_j l2(q_sub_j, codeword(j, code_j))
    val adc = codes.filter(_._1 != 0L).map { case (id, cs, _) =>
      id -> cs.zipWithIndex.map { case (c, j) =>
        l2(q.slice(j * subDim, (j + 1) * subDim), cb((j, c)))
      }.sum
    }
    // (1) ADC correlates with exact distance across the corpus
    val exactAll = e.filter(_._1 != 0L)
      .map(v => v._1 -> l2(v._2.map(_.toDouble).toArray, q)).toMap
    val xs = adc.map(_._2)
    val ys = adc.map(p => exactAll(p._1))
    val n = xs.length
    val (mx, my) = (xs.sum / n, ys.sum / n)
    val cov = xs.zip(ys).map { case (a, b) => (a - mx) * (b - my) }.sum
    val r = cov / math.sqrt(
      xs.map(a => (a - mx) * (a - mx)).sum * ys.map(b => (b - my) * (b - my)).sum)
    assert(r > 0.3, s"ADC/exact Pearson $r below 0.3")
    // (2) candidate-head recall: exact top-10 concentrates in the ADC
    // top-50 (chance would put 1 there)
    val adcTop50 = adc.sortBy { case (id, d) => (d, id) }
      .take(50).map(_._1).toSet
    val hits = exact.intersect(adcTop50).size
    assert(hits >= 2, s"only $hits of exact top-10 in ADC top-50")
    // (3) codes capture real variance: mean reconstruction MSE below
    // the per-dimension variance of unit vectors (1/64)
    val meanMse = codes.map(_._3).sum / codes.length
    assert(meanMse < 1.0 / 64, s"mean MSE $meanMse not below 1/64")
  }

  test("jacobiEigen: recovers a known spectrum exactly enough, " +
    "eigenvectors orthonormal, eigenvalues descending, trace preserved") {
    // D = diag(5, 2, 1) rotated by a fixed orthogonal basis
    val c = math.cos(0.7); val sn = math.sin(0.7)
    val r = Array(
      Array(c, -sn, 0.0), Array(sn, c, 0.0), Array(0.0, 0.0, 1.0))
    val diag = Array(5.0, 2.0, 1.0)
    val m = Array.tabulate(3, 3)((i, j) =>
      (0 until 3).map(k => r(i)(k) * diag(k) * r(j)(k)).sum)
    val (ev, vecs) = VectorOps.jacobiEigen(m)
    assert(ev.zip(Array(5.0, 2.0, 1.0)).forall {
      case (a, b) => math.abs(a - b) < 1e-12 }, ev.toSeq.toString)
    assert(ev.sliding(2).forall(p => p(0) >= p(1)))
    assert(math.abs(ev.sum - (m(0)(0) + m(1)(1) + m(2)(2))) < 1e-12)
    for (a <- 0 until 3; b <- 0 until 3) {
      val dot = (0 until 3).map(k => vecs(a)(k) * vecs(b)(k)).sum
      assert(math.abs(dot - (if (a == b) 1.0 else 0.0)) < 1e-12,
        s"vec $a . vec $b = $dot")
    }
    // determinism: bit-identical on a second run
    val (ev2, vecs2) = VectorOps.jacobiEigen(m)
    assert(ev.toSeq == ev2.toSeq && vecs.map(_.toSeq).toSeq == vecs2.map(_.toSeq).toSeq)
  }

  test("q_vec_cov is symmetric-complete and its diagonal is the " +
    "per-dimension variance; q_vec_pca projection variance matches " +
    "the top eigenvalues of that matrix") {
    val cells = VectorOps.q_vec_cov(spark, dir).collect()
      .map(r => ((r.getLong(0).toInt, r.getLong(1).toInt), r.getDouble(2)))
      .toMap
    val d = VectorOps.vecDim
    assert(cells.size == d * (d + 1) / 2)
    cells.foreach { case ((i, j), _) => assert(i <= j) }
    (0 until d).foreach(i => assert(cells((i, i)) >= 0.0,
      s"negative variance at $i"))
    // PCA: eigen of the full matrix, compare against the query's
    // pooled projection variance (law of total variance across the
    // per-label groups the query reports)
    val cov = Array.ofDim[Double](d, d)
    cells.foreach { case ((i, j), v) => cov(i)(j) = v; cov(j)(i) = v }
    val (ev, _) = VectorOps.jacobiEigen(cov)
    val rows = VectorOps.q_vec_pca(spark, dir).collect()
    assert(rows.nonEmpty)
    val nTot = rows.map(_.getLong(1)).sum.toDouble
    (0 until VectorOps.pcaTopK).foreach { k =>
      val (mCol, sCol) = (2 + 2 * k, 3 + 2 * k)
      val gm = rows.map(r => r.getLong(1) * r.getDouble(mCol)).sum / nTot
      val pooled = rows.map { r =>
        val n = r.getLong(1).toDouble
        val m = r.getDouble(mCol); val sd = r.getDouble(sCol)
        n * (sd * sd + (m - gm) * (m - gm))
      }.sum / nTot
      val evK = rows.head.getDouble(rows.head.schema.fieldIndex(s"ev$k"))
      assert(math.abs(pooled - evK) < 1e-3,
        s"PC$k pooled variance $pooled vs eigenvalue $evK")
      assert(evK > 0.0)
    }
    // explained ratios descending and within (0, 1]
    val r0 = rows.head.getDouble(rows.head.schema.fieldIndex("ev0_ratio"))
    val r1 = rows.head.getDouble(rows.head.schema.fieldIndex("ev1_ratio"))
    assert(r0 >= r1 && r1 > 0.0 && r0 <= 1.0)
    graft.Caches.releaseAll()
  }

  test("q_vec_cov_sample: the deterministic 25% hash-sample estimator " +
    "tracks the exact covariance within the delta-method 1/sqrt(n) " +
    "envelope in every cell - the declared 100 TB sampling path is " +
    "quantified, not asserted") {
    val exact = VectorOps.q_vec_cov(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val sampled = VectorOps.q_vec_cov_sample(spark, dir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(sampled.keySet == exact.keySet, "sample lost cells")
    val nS = Tables(spark, dir, "embeddings")
      .filter(substring(md5(col("vec_id").cast("string")), 1, 2)
        < VectorOps.covSampleHexLt).count()
    val nAll = Tables(spark, dir, "embeddings").count()
    // the md5 keep-rate is itself ~Binomial(n, 1/4)
    assert(math.abs(nS.toDouble / nAll - 0.25)
      <= 4 * math.sqrt(0.25 * 0.75 / nAll), s"keep rate ${nS}/${nAll}")
    val diag = exact.collect { case ((i, j), c) if i == j => i -> c }
    // delta-method SE of a sample covariance (near-gaussian):
    // Var(c_ij) ~ (c_ii*c_jj + c_ij^2)/n. Expected max |z| over 2080
    // cells ~ 3.5 sigma; 6 is a non-flaky envelope that still fails
    // on any real estimator bug (wrong scaling shows up as z ~ 30+).
    val worst = exact.map { case ((i, j), c) =>
      val se = math.sqrt((diag(i) * diag(j) + c * c) / nS)
      math.abs(sampled((i, j)) - c) / se
    }.max
    assert(worst <= 6.0,
      f"worst |sampled-exact|/SE = $worst%.2f exceeds the 6-sigma envelope")
    graft.Caches.releaseAll()
  }

  test("covCellsOf: every one of the 2080 cells equals a driver-side " +
    "BigDecimal reference on hand-made 64-d vectors; a ragged vector " +
    "fails the query instead of mislabeling cells") {
    val d = VectorOps.vecDim
    val rnd = new scala.util.Random(11)
    // mixed signs and magnitudes, plus exact zeros and repeated values
    val vecs = Seq.tabulate(5) { v =>
      Array.tabulate(d) { k =>
        if ((v + k) % 13 == 0) 0.0f
        else ((rnd.nextFloat() - 0.5f) * math.pow(10, v % 3 - 1)).toFloat
      }
    }
    // Spark's rules: float -> DOUBLE -> DECIMAL(18,8) rounds HALF_UP
    // from the double's shortest decimal form; a DECIMAL(18,8) product
    // is DECIMAL(37,16), so products and sums are exact
    def dec(f: Float) = BigDecimal(f.toDouble)
      .setScale(8, BigDecimal.RoundingMode.HALF_UP)
    def prod(a: BigDecimal, b: BigDecimal) = a * b
    val dv = vecs.map(_.map(dec))
    val sum = (0 until d).map(i => dv.map(_(i)).sum)
    val want = (for (i <- 0 until d; j <- i until d) yield
      (i.toLong, j.toLong) ->
        (dv.map(x => prod(x(i), x(j))).sum, vecs.size.toLong, sum(i), sum(j))
    ).toMap
    val got = VectorOps.covCellsOf(vecs.zipWithIndex
      .map { case (x, k) => (k.toLong, x) }.toDF("vec_id", "embedding"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (BigDecimal(r.getDecimal(2)), r.getLong(3),
          BigDecimal(r.getDecimal(4)), BigDecimal(r.getDecimal(5))))
      .toMap
    assert(got.size == d * (d + 1) / 2)
    assert(got.keySet == want.keySet)
    val bad = want.collect { case (k, w) if got(k) != w => (k, got(k), w) }
    assert(bad.isEmpty, s"${bad.size} cells differ, e.g. ${bad.take(3)}")

    val ragged = (vecs :+ vecs.head.take(d - 1)).zipWithIndex
      .map { case (x, k) => (k.toLong, x) }.toDF("vec_id", "embedding")
    val e = intercept[Exception](VectorOps.covCellsOf(ragged).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains(s"embedding of size ${d - 1}")),
      s"ragged vector did not fail loudly: $e")
  }
}
