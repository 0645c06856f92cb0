package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sinks.Layout

class LayoutSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.sf0001

  test("partitioned layout prunes at plan time (PartitionFilters, " +
    "not data filters)") {
    val path = Files.createTempDirectory("layout_part").resolve("t").toString
    val orders = Tables(spark, dir, "orders")
    Layout.writePartitioned(orders, path, "o_orderstatus")
    val scan = spark.read.parquet(path).filter(col("o_orderstatus") === "F")
    val physical = scan.queryExecution.executedPlan.toString
    // the partition predicate must land in PartitionFilters (directory
    // pruning before any file opens), NOT survive as a row-level Filter
    assert(physical.contains("PartitionFilters"))
    assert(physical.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
      .contains("o_orderstatus"))
    assert(scan.count() ==
      orders.filter(col("o_orderstatus") === "F").count())
  }

  test("compact collapses a small-file explosion and preserves data") {
    val path = Files.createTempDirectory("layout_comp").resolve("t").toString
    val orders = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    // simulate a streaming sink's small-file debris
    orders.repartition(40).write.parquet(path)
    val before = orders.orderBy("o_orderkey").collect().toSeq
    val st = Layout.compact(spark, path)
    assert(st.filesBefore == 40)
    assert(st.filesAfter < 40)
    assert(st.filesAfter == math.max(1,
      math.ceil(st.bytesTotal.toDouble / Layout.defaultTargetBytes).toInt))
    val after = spark.read.parquet(path)
      .orderBy("o_orderkey").collect().toSeq
    assert(after == before)
  }

  test("writeSorted produces disjoint ascending per-file key ranges " +
    "(total order across files)") {
    val path = Files.createTempDirectory("layout_sort").resolve("t").toString
    val orders = Tables(spark, dir, "orders")
      .select("o_orderkey", "o_totalprice")
    Layout.writeSorted(orders, path, "o_totalprice", 4)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(path))
      .toArray.map(_.toString).filter(_.matches(".*part-.*\\.parquet"))
      .sorted
    assert(files.length == 4)
    // range partitions map ascending key ranges to ascending file ids
    val bounds = files.map { f =>
      val r = spark.read.parquet(f).agg(
        min("o_totalprice").as("lo"), max("o_totalprice").as("hi"))
        .collect()(0)
      (r.getDouble(0), r.getDouble(1))
    }
    bounds.sliding(2).foreach { case Array((_, hi), (lo, _)) =>
      assert(hi <= lo, s"file ranges overlap: $hi > $lo")
    }
    // nothing lost in the reshape
    assert(spark.read.parquet(path).count() == orders.count())
  }

  test("partitioned compact keeps the layout: one file per leaf, " +
    "pruning still works") {
    val path = Files.createTempDirectory("layout_pcomp").resolve("t").toString
    val orders = Tables(spark, dir, "orders")
    // partitioned write with multiple tasks ⇒ several files per leaf
    orders.repartition(8).write.partitionBy("o_orderstatus").parquet(path)
    val st = Layout.compact(spark, path, Some("o_orderstatus"))
    val statuses = orders.select("o_orderstatus").distinct().count()
    assert(st.filesAfter == statuses)  // one file per partition value
    assert(st.filesBefore > st.filesAfter)
    val scan = spark.read.parquet(path).filter(col("o_orderstatus") === "F")
    assert(scan.queryExecution.executedPlan.toString
      .contains("PartitionFilters"))
    assert(scan.count() ==
      orders.filter(col("o_orderstatus") === "F").count())
  }

  test("morton interleave: exact bit placement and eval ≡ codegen") {
    import graft.functions.MortonCode
    assert(MortonCode.interleave(0, 0) == 0L)
    assert(MortonCode.interleave(1, 0) == 1L)   // a → even bits
    assert(MortonCode.interleave(0, 1) == 2L)   // b → odd bits
    assert(MortonCode.interleave(3, 5) == 39L)  // 5 | (17 << 1)
    assert(MortonCode.interleave(0xffff, 0xffff) == 0xffffffffL)
    // via the planned (codegen) path
    import spark.implicits._
    val got = Seq((3, 5), (7, 2), (255, 0))
      .toDF("a", "b")
      .select(MortonCode(col("a"), col("b")).as("z"))
      .as[Long].collect().toSeq
    assert(got == Seq(MortonCode.interleave(3, 5),
      MortonCode.interleave(7, 2), MortonCode.interleave(255, 0)))
  }

  test("writeZOrdered localizes BOTH dimensions per file; linear sort " +
    "localizes one and scatters the other") {
    val ev = Tables(spark, dir, "events")
      .select("event_id", "user_id", "value")
    // per-file fractional span of a dim = (file max-min)/(global max-min)
    def spans(path: String, c: String): Seq[Double] = {
      val g = ev.agg(min(col(c)).cast("double"),
        max(col(c)).cast("double")).collect()(0)
      val width = g.getDouble(1) - g.getDouble(0)
      java.nio.file.Files.list(java.nio.file.Paths.get(path))
        .toArray.map(_.toString).filter(_.matches(".*part-.*\\.parquet"))
        .toSeq.map { f =>
          val r = spark.read.parquet(f).agg(min(col(c)).cast("double"),
            max(col(c)).cast("double")).collect()(0)
          (r.getDouble(1) - r.getDouble(0)) / width
        }
    }
    val zPath = Files.createTempDirectory("layout_z").resolve("t").toString
    Layout.writeZOrdered(ev, zPath, "user_id", "value", 16)
    val sPath = Files.createTempDirectory("layout_s").resolve("t").toString
    Layout.writeSorted(ev, sPath, "user_id", 16)
    def mean(xs: Seq[Double]) = xs.sum / xs.size
    val (zU, zV) = (mean(spans(zPath, "user_id")), mean(spans(zPath, "value")))
    val (sU, sV) = (mean(spans(sPath, "user_id")), mean(spans(sPath, "value")))
    // z-order: BOTH dims localized — each file's box is a fraction of
    // the global range on each axis (16 files ⇒ ~1/4 per axis ideal)
    assert(zU < 0.5 && zV < 0.5, s"z spans: user=$zU value=$zV")
    // linear sort: the sort key is tighter than z-order's, but the
    // second dim scatters — far wider per-file spans than under
    // z-order (value is heavy-tailed, so the absolute span fraction
    // sits below the uniform ideal; the CONTRAST is the claim)
    assert(sU < zU, s"linear sort should beat z on its own key: $sU vs $zU")
    assert(sV > zV * 1.5 && sV > 0.6,
      s"unsorted dim unexpectedly localized: sorted=$sV z=$zV")
    // nothing lost in the reshape
    assert(spark.read.parquet(zPath).count() == ev.count())
  }

  test("sourceBytes resolves through the Hadoop FileSystem API " +
    "(URI paths size correctly; missing paths are 0, not an error)") {
    val plain = s"$dir/lineitem.parquet"
    val bytes = Layout.sourceBytes(spark, plain)
    assert(bytes > 0, s"local sizing broke: $plain -> $bytes")
    // a scheme-qualified URI is what an object-store deployment
    // passes (hdfs://, s3a://). java.nio.Paths.get treated the scheme
    // as a relative path component and sized it 0 — the r10 silent
    // floor-collapse; the Hadoop Path must resolve it identically to
    // the plain form
    assert(Layout.sourceBytes(spark, s"file:$plain") == bytes,
      "scheme-qualified URI sized differently from the plain path")
    assert(Layout.sourceBytes(spark, s"$dir/no_such.parquet") == 0L)
  }

  private lazy val orderCols = Tables(spark, dir, "orders")
    .select("o_orderkey", "o_orderstatus", "o_totalprice")

  private def rows(path: String) =
    spark.read.parquet(path).select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey").collect().toSeq

  test("compact takes a file:// URI path, partitioned and unpartitioned") {
    val base = Files.createTempDirectory("layout_uri")
    val want = orderCols.orderBy("o_orderkey").collect().toSeq
    val flat = base.resolve("f").toUri.toString
    orderCols.repartition(8).write.parquet(flat)
    val st = Layout.compact(spark, flat)
    assert(st.filesBefore == 8 && st.filesAfter == 1 && st.bytesTotal > 0)
    assert(rows(flat) == want)
    val part = base.resolve("p").toUri.toString
    orderCols.repartition(8).write.partitionBy("o_orderstatus").parquet(part)
    val pst = Layout.compact(spark, part, Some("o_orderstatus"))
    assert(pst.filesAfter == orderCols.select("o_orderstatus").distinct().count())
    assert(pst.filesBefore > pst.filesAfter)
    assert(rows(part) == want)
  }

  test("a compaction that dies between its swap renames loses nothing: " +
    "the next compaction restores the prior state and completes") {
    val path = CrashingFs.path(spark,
      Files.createTempDirectory("layout_crash").resolve("t"))
    orderCols.repartition(8).write.parquet(path)
    val want = rows(path)
    val crash = intercept[java.io.IOException] {
      CrashingFs.crashingOnce(Layout.compact(spark, path))
    }
    assert(crash.getMessage.contains("injected crash"))
    val st = Layout.compact(spark, path)
    assert(st.filesBefore == 8 && st.filesAfter == 1)
    assert(rows(path) == want)
  }
}
