package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one place an entry point configures the engine. Bench, Verify,
  * Smoke, the tools and the test session all build through
  * [[getOrCreate]], so the correctness run and the timed run share one
  * engine config (Spark SQL's rule: the session is where a program
  * configures the engine).
  *
  * Every setting is a DEFAULT: it is applied only when the
  * `SparkConf` does not already carry the key. Spark's own
  * `-Dspark.*=…` system properties therefore override any of them
  * (e.g. `-Dspark.sql.shuffle.partitions=256`,
  * `-Dspark.graft.cache.mode=none`), and `SPARK_LOCAL_DIRS` overrides
  * the scratch dir as it does for any Spark application.
  */
object Session {
  /** Local parallelism: `SPARK_GRAFT_CPUS`, else every core the JVM
    * sees.
    */
  private def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  private def defaults: Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    // fixtures up to r4 store events.ts as TIMESTAMP(NANOS): read as
    // long, Tables truncates to µs (DuckDB-identical; see graft.Tables)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // AQE coalescing stays at the parallelism-first default:
    // respecting the 64 MB advisory size instead
    // (parallelismFirst=false, the docs' batch-ETL suggestion) was
    // MEASURED and reverted — at bench scale it coalesces every
    // post-shuffle stage to ONE partition, serializing
    // sort/window/state-heavy operators (A/B, min of 3:
    // q_window_frame 1.0 → 3.2 s, q_agg_quantile 1.6 → 3.4 s,
    // q_stream_psi 1.8 → 7.6 s, q_pagerank_conv 12.6 → 19.0 s).
    "spark.sql.adaptive.enabled" -> "true",
    // the generated-class cache defaults to 100 entries — a 256-query
    // session compiles thousands of codegen fragments, so by the time
    // a query is re-run (the min-of-passes protocol, or any
    // production re-submission) its classes are long evicted and
    // every pass pays full janino recompilation. Sized for this
    // workload; a few hundred KB per entry.
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    // shuffle/spill scratch on tmpfs: the VM's block device shows
    // multi-second I/O stalls (high iowait, zero GC) that dwarf the
    // actual query work at these data sizes. At probe scale tmpfs
    // spill is still RAM, so large runs move it with SPARK_LOCAL_DIRS.
    "spark.local.dir" -> "/dev/shm/graft-spark")

  /** The running session, or a new one from [[defaults]] plus
    * `extra` (further defaults for one entry point, applied only when
    * missing like the rest).
    */
  def getOrCreate(extra: (String, String)*): SparkSession = {
    val conf = new SparkConf()
    (defaults ++ extra).foreach { case (k, v) => conf.setIfMissing(k, v) }
    val s = SparkSession.builder().config(conf).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The shuffle-partition count the session actually plans with —
    * Spark's default when the key is unset, never a guessed fallback.
    */
  def shufflePartitions(s: SparkSession): Int =
    s.sessionState.conf.numShufflePartitions

  /** Run `body` with session conf `settings` in force, then restore
    * the exact prior state: a key that was set gets its old value
    * back, a key that was unset ends up unset (a literal fallback
    * would pin it). The override is session-global for its duration,
    * so a query running CONCURRENTLY on the same session plans with
    * it too; every entry point runs queries sequentially on one
    * session, which is the contract this code declares.
    */
  def withConf[T](s: SparkSession, settings: (String, String)*)(body: => T): T = {
    val prior = settings.map { case (k, _) => k -> s.conf.getAll.get(k) }
    settings.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prior.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
