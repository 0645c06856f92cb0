package graft.tools

/** Dev spot-bench: time a named subset of declared queries at an
  * arbitrary SF dir (args: sfDir, then query names; min of 2 runs
  * each, same noop-write meter as Bench). Used for the sf10
  * fourth-decade scaling probe — running the full 100-query suite at
  * 2 GB is slow for no extra signal; the heavy families are the
  * scaling question.
  *
  * Unlike Bench, caches are released BETWEEN queries: at probe scale a
  * single accumulated MEMORY_AND_DISK subplan (e.g. the exploded
  * shingle table) is tens of GB, and letting the whole dedup family's
  * caches pile up in one heap measures GC pressure, not the queries
  * (the 96g-heap sf10 first attempt died to the kernel OOM killer
  * exactly this way). Engine settings come from [[graft.Session]];
  * a probe overrides them with Spark's own knobs, e.g.
  * `-Dspark.sql.shuffle.partitions=256` (at 10×-bench scale
  * cpus-many partitions leave ~everything in one spilling
  * partition-set — a real deployment sizes this up and lets AQE
  * coalesce), `-Dspark.graft.cache.mode=none` (the recompute posture
  * for intermediates that exceed RAM+scratch, see graft.Caches) and
  * `SPARK_LOCAL_DIRS` to move scratch off tmpfs (tmpfs spill is still
  * RAM — at probe scale that *adds* memory pressure instead of
  * relieving it). `SPARK_GRAFT_SPOT_RUNS=5` plus PlanDump is the
  * single-query profiling loop.
  */
object SpotBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val queries = args.drop(1).toSeq
    val spark = graft.Session.getOrCreate()
    // warmup on the smallest fixture
    queries.foreach { q =>
      try graft.SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .write.format("noop").mode("overwrite").save()
      catch { case _: Throwable => () }
    }
    graft.Caches.releaseAll()
    def d3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    // SPARK_GRAFT_SPOT_RUNS: min-of-N protocol (default 2); 1 for
    // very long single-evidence spots (e.g. run-to-convergence
    // PageRank at sf100, ~25 min/run)
    val runs = sys.env.getOrElse("SPARK_GRAFT_SPOT_RUNS", "2").toInt
    val best = queries.map { q =>
      val times = (1 to runs).map { i =>
        val t0 = System.nanoTime()
        val ok = try {
          graft.SparkEntry.queries(q)(spark, sfDir)
            .write.format("noop").mode("overwrite").save(); true
        } catch { case t: Throwable =>
          System.err.println(s"[spot] $q FAILED: ${t.getMessage}"); false
        }
        val dt = (System.nanoTime() - t0) / 1e9
        System.err.println(f"[spot] $q run$i ${dt}%.2fs ok=$ok")
        if (ok) dt else -1.0
      }
      graft.Caches.releaseAll() // don't let cached subplans accumulate across queries
      q -> times.min
    }
    val qs = best.map { case (k, v) => "\"" + k + "\":" + d3(v) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"spot","sf":"$sfDir","queries":$qs}""")
    spark.stop()
  }
}
