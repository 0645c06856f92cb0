package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{GraphOps, TextOps}

/** VERDICT r4 item #2: iterative loops must survive executor loss on
  * a real cluster — localCheckpoint blocks die with their executor.
  * Checkpoints upgrades to reliable `checkpoint()` whenever the
  * context has a checkpoint dir; this spec proves, for q_dedup_cluster,
  * a graph loop and a trainer staged in cache mode `none`, that
  * (a) reliable mode actually writes checkpoint files under the dir,
  * and (b) the output is identical to local mode's.
  */
class ReliableCheckpointSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  /** `q`'s rows with no checkpoint dir, its rows under a fresh
    * reliable dir, and the checkpoint part files that run wrote.
    */
  private def localVsReliable(q: => Seq[Row]): (Seq[Row], Seq[Row], Long) = {
    val sc = spark.sparkContext
    assert(sc.getCheckpointDir.isEmpty,
      "precondition: no checkpoint dir configured for the shared test session")
    val local = q
    val ckptDir = java.nio.file.Files
      .createTempDirectory("graft-ckpt").toString
    sc.setCheckpointDir(ckptDir)
    try {
      val reliable = q
      // RDD checkpoints materialize as rdd-*/part-* files under the
      // configured dir
      val wrote = java.nio.file.Files.walk(java.nio.file.Paths.get(ckptDir))
        .filter(p => p.getFileName.toString.startsWith("part-"))
        .count()
      (local, reliable, wrote)
    } finally {
      // restore isolation for the shared context: SparkContext has no
      // public unset, so clear the private field (other suites assert
      // localCheckpoint behavior and must not inherit reliable mode)
      val f = sc.getClass.getDeclaredField("checkpointDir")
      f.setAccessible(true)
      f.set(sc, None)
      assert(sc.getCheckpointDir.isEmpty, "failed to restore checkpoint dir")
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(ckptDir))
    }
  }

  test("q_dedup_cluster under a reliable checkpoint dir writes " +
    "checkpoint files and matches localCheckpoint output") {
    val (local, reliable, wrote) =
      localVsReliable(TextOps.q_dedup_cluster(spark, dir).collect().toSeq)
    assert(reliable == local,
      "reliable-checkpoint mode changed cluster assignments")
    assert(wrote > 0, "no checkpoint part files under the reliable dir")
  }

  test("graph loop (q_sssp) under a reliable checkpoint dir writes " +
    "checkpoint files and matches local mode") {
    val (local, reliable, wrote) =
      localVsReliable(GraphOps.q_sssp(spark, dir).collect().toSeq)
    assert(local.nonEmpty)
    assert(reliable == local, "reliable-checkpoint mode changed distances")
    assert(wrote > 0, "no checkpoint part files under the reliable dir")
  }

  test("a trainer staged in cache mode none (q_kmeans) under a " +
    "reliable checkpoint dir writes checkpoint files and matches " +
    "local mode") {
    val (local, reliable, wrote) =
      Session.withConf(spark, Caches.modeKey -> "none") {
        localVsReliable(TextOps.q_kmeans(spark, dir).collect().toSeq)
      }
    assert(local.nonEmpty)
    assert(reliable == local, "reliable-checkpoint mode changed centroids")
    assert(wrote > 0, "no checkpoint part files under the reliable dir")
  }
}
