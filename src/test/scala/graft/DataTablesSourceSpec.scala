package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.datatables.{DataTablesTransport, FixtureTransport, PageRequest, TransportRegistry}

/** S1: the DataTables-protocol DSv2 source — pushdowns must reach the
  * transport exactly like the reference's hand-built payloads
  * (clients/exclusion_requests.py:78-90).
  */
class DataTablesSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val records = (1 to 2500).map { i =>
    Map(
      "ID" -> f"$i%06d",
      "Company" -> s"Co${i % 7}",
      "HTSUSCode" -> s"72${i % 5}",
      "PublicStatus" -> (if (i % 3 == 0) "GRANTED" else "PENDING"))
  }
  TransportRegistry.register("erc_fixture", FixtureTransport(records, "ID"))

  private def read =
    spark.read.format("graft.sources.datatables.DefaultSource")
      .option("transport", "erc_fixture")
      .option("columns", "ID,Company,HTSUSCode,PublicStatus")
      .option("searchableColumn", "HTSUSCode")
      .option("pageSize", "1000")
      .load()

  test("full scan pages through all records in parallel partitions") {
    assert(read.count() == 2500)
    assert(read.rdd.getNumPartitions == 3) // 2500 rows / 1000-page
  }

  test("equality filter on the searchable column is pushed to the server") {
    val df = read.filter(col("HTSUSCode") === "722")
    val plan = df.queryExecution.executedPlan.toString
    // scan description carries the pushed search; Spark keeps only an
    // isnotnull residual filter post-scan
    assert(plan.contains("search=Some((HTSUSCode,722))"), plan.take(1500))
    assert(!plan.contains("Filter (isnotnull(HTSUSCode#") ||
      !plan.matches("(?s).*Filter .*= 722.*"), "equality re-evaluated post-scan")
    assert(df.count() == 500)
    // pushed search shrinks paging: one 500-row page, not three
    assert(df.rdd.getNumPartitions == 1)
  }

  test("non-searchable filters stay post-scan but still apply") {
    val df = read.filter(col("Company") === "Co3")
    assert(df.count() == records.count(_("Company") == "Co3"))
  }

  test("limit is pushed as the protocol length") {
    assert(read.limit(42).count() == 42)
    assert(read.limit(42).rdd.getNumPartitions == 1)
  }

  test("column pruning reaches the column-descriptor list") {
    val df = read.select("ID")
    assert(df.schema.fieldNames.toSeq == Seq("ID"))
    assert(df.distinct().count() == 2500)
  }

  test("orderBy+limit is pushed as server-side order (TopN) and fetches only ⌈k/pageSize⌉ pages") {
    TransportRegistry.register("erc_counting",
      CountingTransport(FixtureTransport(records, "ID"), DataTablesSourceSpec.fetches))
    val counted = spark.read.format("graft.sources.datatables.DefaultSource")
      .option("transport", "erc_counting")
      .option("columns", "ID,Company,HTSUSCode,PublicStatus")
      .option("searchableColumn", "HTSUSCode")
      .option("pageSize", "1000")
      .load()
    DataTablesSourceSpec.fetches.set(0)
    val top = counted.orderBy(col("ID").desc).limit(5)
    val got = top.select("ID").collect().map(_.getString(0)).toSeq
    // correct top-5 by ID desc, served from ONE page, not all three
    assert(got == records.map(_("ID")).sorted.reverse.take(5))
    assert(DataTablesSourceSpec.fetches.get() == 1,
      s"expected 1 page fetch, saw ${DataTablesSourceSpec.fetches.get()}")
    assert(top.queryExecution.executedPlan.toString.contains("(ID,false)"),
      "pushed order missing from scan description")

    // k spanning two pages: still only ⌈1500/1000⌉ = 2 fetches
    DataTablesSourceSpec.fetches.set(0)
    assert(counted.orderBy(col("ID").asc).limit(1500).count() == 1500)
    assert(DataTablesSourceSpec.fetches.get() == 2)
  }

  test("TopN on a column the projection prunes still sorts by THAT " +
    "column (sort-only column rides in the wire request)") {
    // orderBy(ID desc).limit(3).select(Company): pruning drops ID from
    // the output schema, but the wire request must still carry its
    // descriptor or the server would sort by column 0 (= Company)
    TransportRegistry.register("erc_recording",
      RecordingTransport(FixtureTransport(records, "ID"),
        DataTablesSourceSpec.lastRequest))
    val rec = spark.read.format("graft.sources.datatables.DefaultSource")
      .option("transport", "erc_recording")
      .option("columns", "ID,Company,HTSUSCode,PublicStatus")
      .option("searchableColumn", "HTSUSCode")
      .option("pageSize", "1000")
      .load()
    val got = rec.orderBy(col("ID").desc).limit(3)
      .select("Company").collect().map(_.getString(0)).toSeq
    val expected = records.sortBy(_("ID")).reverse.take(3).map(_("Company"))
    assert(got == expected,
      s"rows not ordered by the pruned sort column: $got vs $expected")
    val sent = DataTablesSourceSpec.lastRequest.get()
    assert(sent.order == Seq("ID" -> false))
    assert(sent.columns.contains("ID"),
      s"sort-only column missing from wire columns ${sent.columns} — " +
        "an index-addressed order payload cannot reference it")
  }

  test("OFFSET is pushed as the protocol start: limit+offset windows " +
    "skip whole pages and plan only the reachable ones") {
    TransportRegistry.register("erc_counting_off",
      CountingTransport(FixtureTransport(records, "ID"), DataTablesSourceSpec.fetches))
    val counted = spark.read.format("graft.sources.datatables.DefaultSource")
      .option("transport", "erc_counting_off")
      .option("columns", "ID,Company,HTSUSCode,PublicStatus")
      .option("searchableColumn", "HTSUSCode")
      .option("pageSize", "1000")
      .load()
    // plain offset+limit (no sort): rows [2000, 2200) of the server's
    // natural order — ONE page fetch starting inside page 3, the two
    // skipped pages never planned
    val win = counted.offset(2000).limit(200)
    val plan = win.queryExecution.executedPlan.toString
    assert(plan.contains("offset=2000"),
      "pushed offset missing from scan description:\n" + plan.take(1500))
    // partition count read off the scan node, NOT via .rdd: Spark
    // keeps a residual CollectLimit above the fully-pushed scan, so
    // rdd.getNumPartitions would itself execute a (second) job
    val scanParts = win.queryExecution.executedPlan.collectLeaves().collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.inputRDD.getNumPartitions
    }
    assert(scanParts == Seq(1),
      s"skipped pages should not be planned as partitions: $scanParts")
    DataTablesSourceSpec.fetches.set(0)
    val got = win.select("ID").collect().map(_.getString(0)).toSeq
    assert(got == records.map(_("ID")).slice(2000, 2200),
      "offset window returned the wrong slice")
    assert(DataTablesSourceSpec.fetches.get() == 1,
      s"expected 1 page fetch, saw ${DataTablesSourceSpec.fetches.get()}")

    // TopN + offset inside one page: order/start/length all ride the
    // wire, one fetch, exact rows [5, 10) of the ID-desc order
    DataTablesSourceSpec.fetches.set(0)
    val topOff = counted.orderBy(col("ID").desc).offset(5).limit(5)
    val ids = topOff.select("ID").collect().map(_.getString(0)).toSeq
    assert(ids == records.map(_("ID")).sorted.reverse.slice(5, 10))
    assert(DataTablesSourceSpec.fetches.get() == 1,
      s"expected 1 page fetch, saw ${DataTablesSourceSpec.fetches.get()}")
  }

  test("one count probe per scan per query execution: a cached " +
    "summary-plus-parsePages frame probes each source once and fetches " +
    "each detail page once; a new query probes again") {
    import graft.pipeline.ExclusionPipeline
    val probes = new AtomicInteger(0)
    val detailFetches = new AtomicInteger(0)
    val pages = (1 to 30).map { i =>
      Map("id" -> f"$i%06d", "url" -> s"u$i",
        "page" -> s"""<form><input title="Grade" value="g$i"/></form>""")
    }
    TransportRegistry.register("erc_probe_summary", CountingTransport(
      FixtureTransport(records.take(30), "ID"), new AtomicInteger(0), probes))
    TransportRegistry.register("erc_probe_detail", CountingTransport(
      FixtureTransport(pages, "id"), detailFetches, probes))
    def load(transport: String, cols: String) =
      spark.read.format("graft.sources.datatables.DefaultSource")
        .option("transport", transport).option("columns", cols)
        .option("pageSize", "1000").load()
    val summaries = load("erc_probe_summary", "ID,Company")
      .withColumnRenamed("ID", "id")
    val docs = ExclusionPipeline.mergeSummaries(
      ExclusionPipeline.detailsToDocuments(ExclusionPipeline.parsePages(
        load("erc_probe_detail", "id,page,url"))), summaries, Seq("Company"))
    val out = Caches.cached(docs)
    try {
      assert(out.count() == 30)
      assert(probes.get() == 2, s"count probes: ${probes.get()}")
      assert(detailFetches.get() == 1, s"detail page fetches: ${detailFetches.get()}")
    } finally out.unpersist()
    // no count outlives its query: each new execution probes afresh
    val detail = load("erc_probe_detail", "id,page,url")
    assert(detail.count() == 30 && detail.count() == 30)
    assert(probes.get() == 4, s"count probes: ${probes.get()}")
  }

  test("non-default null ordering is not pushed (server sorts absent-as-empty)") {
    val top = read.orderBy(col("ID").asc_nulls_last).limit(5)
    val plan = top.queryExecution.executedPlan.toString
    assert(!plan.contains("(ID,true)") && !plan.contains("(ID,false)"),
      "NULLS LAST asc must not reach the order payload:\n" + plan.take(1500))
    // Spark keeps its own sort; the result is still the correct top-5
    assert(top.select("ID").collect().map(_.getString(0)).toSeq ==
      records.map(_("ID")).sorted.take(5))
  }
}

object DataTablesSourceSpec {
  val fetches = new AtomicInteger(0)
  val lastRequest = new java.util.concurrent.atomic.AtomicReference[PageRequest]()
}

/** Decorator recording the last PageRequest — asserts wire-request
  * content (e.g. sort-only columns present for the order payload).
  */
case class RecordingTransport(inner: DataTablesTransport,
  ref: java.util.concurrent.atomic.AtomicReference[PageRequest])
  extends DataTablesTransport {
  override def count(sc: Option[String], sv: Option[String]): Long =
    inner.count(sc, sv)
  override def fetch(req: PageRequest): Seq[Seq[String]] = {
    ref.set(req)
    inner.fetch(req)
  }
}

/** Decorator counting page fetches — asserts the TopN pushdown's
  * paging claim — and count probes.
  */
case class CountingTransport(inner: DataTablesTransport, counter: AtomicInteger,
  probes: AtomicInteger = new AtomicInteger(0))
  extends DataTablesTransport {
  override def count(sc: Option[String], sv: Option[String]): Long = {
    probes.incrementAndGet()
    inner.count(sc, sv)
  }
  override def fetch(req: PageRequest): Seq[Seq[String]] = {
    counter.incrementAndGet()
    inner.fetch(req)
  }
}
