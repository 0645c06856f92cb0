package graft.sources.datatables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Declared-query wrapper around the DataTables DSv2 source (SURVEY
  * §2.1 S1) so the driver exercises the connector end-to-end every
  * round, not just through its ScalaTest suite: paged parallel read
  * (3 input partitions at 2 500 rows / 1 000-row pages), search-value
  * filter pushdown (the protocol's `search.value`,
  * reference clients/exclusion_requests.py:81-82), and
  * column-descriptor projection all sit on the executed path.
  *
  * Hash-gated despite the source BEING the table: the fixture is a
  * pure function of the row index, so the DuckDB oracle
  * (Oracles.scala q_datatables_scan) regenerates identical rows from
  * range() and the driver's rows+schema+hash compare applies. The
  * wire-level semantics are additionally pinned by
  * DataTablesSourceSpec / HttpTransportSpec.
  */
object DataTablesQueries {
  private val pageSize = 1000

  /** Fixture row count — shared with the DuckDB oracle twin
    * (Oracles.scala q_datatables_scan), which regenerates the same
    * rows from `range()` so the connector query is hash-gated.
    */
  val fixtureCount = 2500

  /** Deterministic stand-in for the portal: same shape as the
    * reference's SummaryView rows (ID, company, HTS code, status).
    * Lazy val: the bench loop invokes the query repeatedly; the
    * materialized fixture is reused instead of rebuilt per call.
    */
  private lazy val fixtureRecords: Seq[Map[String, String]] =
    (1 to fixtureCount).map { i =>
      Map(
        "ID" -> f"$i%06d",
        "Company" -> s"Co${i % 7}",
        "HTSUSCode" -> s"72${i % 5}",
        "PublicStatus" -> (if (i % 3 == 0) "GRANTED" else "PENDING"))
    }

  def q_datatables_scan(s: SparkSession, dir: String): DataFrame = {
    // idempotent per-call registration: the registry is JVM-local, so
    // this works only where driver and executors share the JVM (local
    // mode); an HTTP transport reaches the scan the same way
    TransportRegistry.register("erc_declared",
      FixtureTransport(fixtureRecords, "ID"))
    val df = s.read.format("graft.sources.datatables.DefaultSource")
      .option("transport", "erc_declared")
      .option("columns", "ID,Company,HTSUSCode,PublicStatus")
      .option("searchableColumn", "HTSUSCode")
      .option("pageSize", pageSize.toString)
      .load()
    // full scan: pages through all records in parallel partitions
    val full = df.groupBy("HTSUSCode")
      .agg(count(lit(1)).as("cnt"),
        min(col("ID")).as("min_id"), max(col("ID")).as("max_id"))
    // pushed scan: equality on the searchable column rides the wire
    // as search.value and shrinks paging to a single page
    val pushed = df.filter(col("HTSUSCode") === "722")
      .groupBy("HTSUSCode").agg(count(lit(1)).as("pushed_cnt"))
    full.join(pushed, Seq("HTSUSCode"), "left")
      .orderBy("HTSUSCode")
  }
}
