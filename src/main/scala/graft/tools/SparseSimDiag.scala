package graft.tools

import org.apache.spark.sql.functions._

/** Scaling diagnostic for q_sparse_sim: counts the candidate-pair
  * frame (post prefix filter, pre verification) plus its inputs at a
  * given SF dir, so BENCH_SCALE can record the |candidates| curve
  * next to the timings. The query's cost model is
  * |candidates| · avg-doc-length; if candidates bend superlinear
  * across decades the prefix filter needs a per-token bucket cap
  * (the df-cap lesson) — the timings alone can't distinguish that
  * from host I/O.
  */
object SparseSimDiag {
  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = graft.Session.getOrCreate()
    val ops = graft.operators.TextOps
    val tf = graft.Caches.cached(ops.docTokens(spark, dir)
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")))
    val dfTok = ops.docTokensDistinct(spark, dir)
      .groupBy("tok").agg(count(lit(1)).as("df"))
    val docs = tf.select("doc_id").distinct().count()
    val cand = ops.sparseSimCandidates(tf, dfTok).count()
    println(s"""{"metric":"sparse_sim_diag","dir":"$dir",""" +
      s""""docs":$docs,"candidates":$cand,""" +
      s""""cand_per_doc":${"%.3f".formatLocal(java.util.Locale.ROOT,
        cand.toDouble / docs)}}""")
    graft.Caches.releaseAll()
    spark.stop()
  }
}
