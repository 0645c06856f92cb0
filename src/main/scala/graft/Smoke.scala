package graft

/** Local mirror of the driver's t1 smoke gate: SparkEntry.entry must
  * return >0 rows on sf0.001.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Session.getOrCreate()
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length}")
    rows.take(5).foreach(r => println(s"[smoke] $r"))
    assert(rows.nonEmpty, "entry returned 0 rows")
    spark.stop()
  }
}
