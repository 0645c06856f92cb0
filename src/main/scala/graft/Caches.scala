package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel
import graft.operators.Checkpoints

/** Session-scoped registry of persisted shared intermediates (the
  * tokenized corpus, shingle tables, signature frames — see
  * TextOps.cached). Persisting is how one materialization serves many
  * consumers within a run; this registry is the matching RELEASE path:
  * without it, cache entries accumulate for the session lifetime (one
  * set per data dir), which on a long-lived cluster session is a slow
  * leak. Bench and Verify call [[releaseAll]] when a measured run
  * ends; at 100 TB the same role is played by dropping the staged
  * table that stood in for the cache.
  */
object Caches {
  private val registry =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Session conf selecting the shared-intermediate strategy:
    *  - `persist` (default): MEMORY_AND_DISK — right whenever the
    *    intermediate fits the executors' storage fraction + scratch;
    *  - `disk`: DISK_ONLY — the intermediate dwarfs memory but fits
    *    local disk (columnar-compressed), and >1 consumer still
    *    amortizes the one materialization;
    *  - `none`: recompute-per-consumer — NOTHING is persisted; each
    *    consumer re-derives the subplan from the source scan. This is
    *    the 100×-scale posture for the exploded shingle family: at
    *    sf100 the distinct (doc_id, shingle) table exceeds RAM+scratch
    *    on this host, and a persist that cannot fit is strictly worse
    *    than recompute (it pays the write AND evicts). A real cluster
    *    run would instead stage the table to the object store once
    *    (the cache's role at 100 TB); recompute mode is the
    *    single-host stand-in that keeps memory flat.
    */
  val modeKey = "spark.graft.cache.mode"

  /** Persist per [[modeKey]] and remember for later release.
    * Idempotent on an already-persisted plan: `df.storageLevel`
    * resolves through the CacheManager by PLAN, so a second DataFrame
    * over the same logical plan (the graph substrate's repeated
    * `s.table(...)` reads) neither re-persists nor double-registers —
    * the original registration releases it.
    */
  def cached(df: DataFrame): DataFrame =
    df.sparkSession.conf.get(modeKey, "persist") match {
      case "none" => df
      case _ if df.storageLevel != StorageLevel.NONE => df
      case "disk" =>
        registry.add(df)
        df.persist(StorageLevel.DISK_ONLY)
      case _ =>
        registry.add(df)
        df.persist(StorageLevel.MEMORY_AND_DISK)
    }

  /** Eagerly materialize a frame that feeds MULTIPLE broadcast legs:
    * concurrent broadcast-exchange threads race a COLD cache fill and
    * each recomputes the full subtree (measured 68× on q_als, 2.3× on
    * q_conformal). Persist mode fills the cache with one count();
    * "none" mode (the scale-probe posture) takes an eager checkpoint
    * ([[Checkpoints.ckpt]]), which also truncates lineage. Use for any
    * frame with ≥2 consumers where at least one sits under a broadcast.
    */
  def pinned(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get(modeKey, "persist") == "none")
      Checkpoints.ckpt(df)
    else { val c = cached(df); c.count(); c }

  /** Stage a BOUNDED frame that an iterative trainer scans once per
    * step: it must be materialized even in mode "none" (where
    * [[cached]] is a no-op), or every step re-derives it from the
    * source scan — re-tokenizing the corpus per gradient step. "none"
    * mode takes a lazy checkpoint ([[Checkpoints.ckptLazy]]: the first
    * step's job materializes it), every other mode persists. Only for
    * frames far smaller than the exploded tables mode "none" exists
    * for (a few doubles per document).
    */
  def staged(df: DataFrame): DataFrame =
    if (df.sparkSession.conf.get(modeKey, "persist") == "none")
      Checkpoints.ckptLazy(df)
    else cached(df)

  /** Permanent callbacks run on every [[releaseAll]] — for
    * DRIVER-side memos that shadow a Spark cache (q_vec_pca's
    * collected covariance summary): anything that invalidates the
    * Spark caches (a partitioning change in DeterminismSpec, the end
    * of a measured run) must drop those memos too, or a spec that
    * re-runs the query compares the memo with itself.
    */
  private val releaseHooks =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  def addReleaseHook(f: () => Unit): Unit = releaseHooks.add(f)

  /** Unpersist everything registered since the last call. Non-blocking
    * (the executors drop blocks asynchronously); NOT cascading — by
    * the time a run ends no dependent query is still executing.
    *
    * Every hook runs even if one throws: the caches are already
    * drained by the time the hooks fire, so skipping the remaining
    * hooks would leave driver memos (q_vec_pca's summary) outliving
    * the Spark caches they shadow — exactly the staleness the hook
    * mechanism exists to prevent. A failing hook is logged, never
    * propagated.
    */
  def releaseAll(): Unit = {
    var df = registry.poll()
    while (df != null) {
      df.unpersist(blocking = false)
      df = registry.poll()
    }
    releaseHooks.forEach { f =>
      try f()
      catch { case t: Throwable =>
        System.err.println(s"[graft.Caches] release hook failed: $t")
      }
    }
  }
}
