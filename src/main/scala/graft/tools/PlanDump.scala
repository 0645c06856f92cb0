package graft.tools

import graft.SparkEntry

/** Dump `.explain("formatted")` for declared queries to files —
  * the optimization-round evidence trail (plans/rN/<q>_{before,after}).
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <q1> [q2 ...]
  * Plans are CONSTRUCTED only (no execution), so the dump is cheap;
  * when a claim depends on runtime adaptation, time the query with
  * SpotBench and read the AQE final plan from its run instead.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val qs = args.drop(2)
    val spark = graft.Session.getOrCreate()
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    qs.foreach { q =>
      try {
        val df = SparkEntry.queries(q)(spark, dir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(outDir, s"${q}_$suffix.txt"),
          txt.getBytes("UTF-8"))
        System.err.println(s"[plandump] wrote ${q}_$suffix.txt")
      } catch { case t: Throwable =>
        System.err.println(s"[plandump] $q FAILED: $t")
      }
    }
    spark.stop()
  }
}
