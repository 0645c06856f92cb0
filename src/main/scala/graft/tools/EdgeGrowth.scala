package graft.tools

import org.apache.spark.sql.functions._

/** Records the co-purchase graph's actual size per fixture decade
  * (r9, VERDICT item 7): the graph family's ×/decade timings are
  * attributed to SUPERLINEAR distinct co-purchase edge growth — this
  * makes that attribution a recorded number instead of prose. Prints
  * one JSON line per dir: |V| (distinct suppliers + parts appearing
  * in lineitem), |pairs| (distinct (suppkey, partkey)), |E| = 2·pairs
  * (the symmetric substrate row count), lineitem row count, and
  * pairs-per-lineitem-row (the dedup ratio — 1.0 means every row is a
  * new pair, i.e. edge growth tracks data growth).
  *
  * Args: one or more fixture dirs.
  */
object EdgeGrowth {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.getOrCreate()
    args.foreach { dir =>
      val li = graft.Tables(spark, dir, "lineitem")
        .select(col("l_suppkey"), col("l_partkey"))
      val rows = li.count()
      val r = li.distinct()
        .agg(count(lit(1)).as("pairs"),
          approx_count_distinct(col("l_suppkey")).as("s"),
          approx_count_distinct(col("l_partkey")).as("p"))
        .collect()(0)
      val pairs = r.getLong(0)
      val v = r.getLong(1) + r.getLong(2)
      println(s"""{"metric":"edge_growth","dir":"$dir","lineitem":$rows,""" +
        s""""pairs":$pairs,"edges":${2 * pairs},"nodes_approx":$v,""" +
        s""""pairs_per_row":${"%.4f".formatLocal(java.util.Locale.ROOT,
          pairs.toDouble / rows)}}""")
    }
    spark.stop()
  }
}
