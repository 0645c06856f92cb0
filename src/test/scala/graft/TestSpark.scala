package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole test run (SURVEY §5 — one
  * SparkSession per suite via lazy singleton; suites share it since
  * Spark sessions are heavyweight). Built by the same [[Session]]
  * factory as every main, so the specs run the engine config the
  * bench and the oracle dump run.
  */
object TestSpark {
  lazy val spark: SparkSession = Session.getOrCreate()
  val sf0001 = "/root/testdata/sf0.001"
}
