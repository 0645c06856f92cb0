package graftbench

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.{Caches, SparkEntry}
import graft.pipeline.ExclusionPipeline
import graft.sinks.{KvSink, LwwSink}
import graft.sources.datatables.{HttpTransport, RetryingTransport, SessionBootstrap, TransportRegistry, UrlConnectionHttpClient}

/** Outcome of one op: its timed wall, whether it passed its output
  * check, and (traced runs only) its layer measurements.
  */
final case class OpResult(name: String, ms: Double, ok: Boolean,
  layers: Map[String, Double], detail: String = "")

trait Workload {
  def name: String
  /** Inputs, fixtures and untimed warm-up ops, so timing starts with
    * the JIT past its steepest warm-up.
    */
  def setup(spark: SparkSession): Unit
  /** Stop what [[setup]] started. */
  def teardown(): Unit
  /** Whether another op runs, given the timed wall so far. Query
    * workloads only stop at the end of a full pass over their list.
    */
  def hasNext(timedMs: Double, targetMs: Double, traced: Boolean): Boolean
  def runOp(t: Tracer): OpResult
  /** Checks that need the whole run (final sink state); None = pass. */
  def finalCheck(): Option[String]
  def inputs: String
}

object Cold {
  /** Release the shared caches and wait until the blocks they held are
    * gone, so the eviction is not charged to the next op.
    */
  def release(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs
    Caches.releaseAll()
    val after = sc.getPersistentRDDs
    before.foreach { case (id, rdd) => if (!after.contains(id)) awaitRemoved(rdd) }
  }

  /** A blocking unpersist of an RDD whose asynchronous removal is still
    * running can race it and find a block half removed; it succeeds
    * once the removal is done.
    */
  private def awaitRemoved(rdd: org.apache.spark.rdd.RDD[_]): Unit = {
    var tries = 0
    var done = false
    while (!done) {
      try { rdd.unpersist(blocking = true); done = true }
      catch {
        case e: org.apache.spark.SparkException if tries < 1000 =>
          tries += 1
          Thread.sleep(2)
      }
    }
  }
}

/** Order-insensitive fingerprint of a frame's rows, computed while the
  * op's own write runs: row count and two 32-bit-half sums of the
  * rows' xxhash64. Maps are hashed as their sorted entries.
  */
object Fingerprint {
  def observe(df: DataFrame, obs: Observation): DataFrame = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    df.observe(obs, count(lit(1)).as("rows"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"))
  }

  def of(obs: Observation): String = {
    val m = obs.get
    s"${m("rows")}:${m("hi")}:${m("lo")}"
  }
}

final class QueryWorkload(val name: String, queries: Seq[String],
  warm: Seq[String], dataDir: String, goldens: Map[String, String],
  seed: Long) extends Workload {
  private var spark: SparkSession = _
  private var pass = 0
  private var order: Seq[String] = Nil
  private var pos = 0

  def inputs: String = s"${queries.size} queries on $dataDir"

  def setup(s: SparkSession): Unit = {
    spark = s
    warm.foreach { q =>
      Cold.release(spark)
      SparkEntry.queries(q)(spark, dataDir).write.format("noop").mode("overwrite").save()
    }
    Cold.release(spark)
  }

  def teardown(): Unit = Cold.release(spark)

  def hasNext(timedMs: Double, targetMs: Double, traced: Boolean): Boolean = {
    if (pos < order.size) return true
    // stop at the pass boundary nearest the target: another pass runs
    // only while more than half a pass of the target is left
    if (pass > 0 && (traced || timedMs + timedMs / pass / 2 >= targetMs)) return false
    pass += 1
    order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries)
    pos = 0
    true
  }

  def runOp(t: Tracer): OpResult = {
    val q = order(pos)
    pos += 1
    val layers = mutable.LinkedHashMap[String, Double]()
    t.span("op", Map("query" -> q)) {
      val r0 = System.nanoTime()
      t.span("caches.release")(Cold.release(spark))
      layers("caches.release_ms") = (System.nanoTime() - r0) / 1e6
      val obs = Observation("fp")
      val t0 = System.nanoTime()
      val (res, t1, t2) =
        try {
          val df = t.span("query.build")(SparkEntry.queries(q)(spark, dataDir))
          val t1 = System.nanoTime()
          t.span("query.write")(Fingerprint.observe(df, obs)
            .write.format("noop").mode("overwrite").save())
          (Right(Fingerprint.of(obs)), t1, System.nanoTime())
        } catch {
          case e: Throwable => (Left(e.toString), System.nanoTime(), System.nanoTime())
        }
      layers("query.build_ms") = (t1 - t0) / 1e6
      layers("query.write_ms") = (t2 - t1) / 1e6
      layers("caches.persisted") = spark.sparkContext.getPersistentRDDs.size.toDouble
      val ms = (t2 - t0) / 1e6
      res match {
        case Right(fp) if goldens.get(q).contains(fp) => OpResult(q, ms, ok = true, layers.toMap)
        case Right(fp) => OpResult(q, ms, ok = false, layers.toMap,
          s"fingerprint $fp != golden ${goldens.getOrElse(q, "(none)")}")
        case Left(err) => OpResult(q, ms, ok = false, layers.toMap, err)
      }
    }
  }

  def finalCheck(): Option[String] = None
}

/** The paper's dataflow as repeated incremental loads: a DataTables
  * read over HTTP, the page parse, pivot, summary merge and typify,
  * then the KV upsert and the last-write-wins parquet merge.
  */
final class EtlWorkload(val model: EtlModel, runDir: Path, cores: Int,
  warmLoads: Int = 3, tracedLoads: Int = 6) extends Workload {
  val name = "etl_load"
  private var spark: SparkSession = _
  private var portal: Portal = _
  private var load = 0
  private var timedLoads = 0
  private val stateDir: Path = runDir.resolve("lww-state")
  private val expected = mutable.HashMap[String, Version]()

  def inputs: String =
    s"key space ${model.p.keySpace}, ${model.p.perLoad} records/load, page size ${model.p.pageSize}"

  def setup(s: SparkSession): Unit = {
    spark = s
    portal = new Portal(model, cores)
    BenchKv.reset()
    BenchKv.seed = model.seed
    (0 until warmLoads).foreach { _ =>
      val r = runOp(new Tracer(false))
      if (!r.ok) sys.error(s"etl warm-up load failed: ${r.detail}")
    }
  }

  def teardown(): Unit = {
    Cold.release(spark)
    portal.stop()
  }

  def hasNext(timedMs: Double, targetMs: Double, traced: Boolean): Boolean =
    if (traced) timedLoads < tracedLoads else timedMs < targetMs

  private def read(transport: String, cols: Seq[String]): DataFrame =
    spark.read.format("graft.sources.datatables.DefaultSource")
      .option("transport", transport)
      .option("columns", cols.mkString(","))
      .option("pageSize", model.p.pageSize.toString)
      .load()

  private def files(): Map[String, Long] =
    if (!Files.exists(stateDir)) Map.empty
    else Files.walk(stateDir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> Files.size(p)).toMap

  private def noopMs(df: DataFrame): Double = {
    val t0 = System.nanoTime()
    df.write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e6
  }

  def runOp(t: Tracer): OpResult = {
    val k = load
    load += 1
    if (k >= warmLoads) timedLoads += 1
    BenchKv.load = k
    val layers = mutable.LinkedHashMap[String, Double]()
    val src0 = (SourceCounters.probes.get, SourceCounters.pages.get,
      SourceCounters.rows.get, SourceCounters.fetchNs.get,
      portal.retriesServed.get, portal.wireBytes.get)
    val kv0 = (BenchKv.batches.get, BenchKv.items.get, BenchKv.unprocessed.get,
      BenchKv.putNs.get, BenchKv.backoffNs.get)
    BenchKv.keys.clear()
    val before = files()
    val result = t.span("op", Map("load" -> k.toString)) {
      val r0 = System.nanoTime()
      t.span("caches.release")(Cold.release(spark))
      layers("caches.release_ms") = (System.nanoTime() - r0) / 1e6
      val t0 = System.nanoTime()
      try {
        val http = UrlConnectionHttpClient
        val session = t.span("datatables.bootstrap") {
          SessionBootstrap.login(http, portal.base,
            SessionBootstrap.bootstrap(http, portal.base), "loader@example.com", "secret")
        }
        layers("datatables.bootstrap_ms") = (System.nanoTime() - t0) / 1e6
        def transport(kind: String, cols: Seq[String]) = CountingTransport(RetryingTransport(
          HttpTransport(s"${portal.base}/api/$kind/$k", cols, session.headers(portal.base)), 3))
        TransportRegistry.register("graftbench_summary", transport("summary", EtlModel.wireCols))
        TransportRegistry.register("graftbench_detail", transport("detail", EtlModel.pageCols))
        var summaries = read("graftbench_summary", EtlModel.wireCols)
          .withColumn("scrape_ts", lit(k.toLong))
          .withColumn("scrape_pos", col("Pos").cast("long")).drop("Pos")
        var pages = read("graftbench_detail", EtlModel.pageCols)
        if (t.enabled) {
          // materialize the source once so the stage prefixes below
          // time the transforms, not the wire
          t.span("datatables.fetch") {
            summaries = Caches.cached(summaries); summaries.count()
            pages = Caches.cached(pages); pages.count()
          }
        }
        val b0 = System.nanoTime()
        val parsed = ExclusionPipeline.parsePages(pages)
        val docs = ExclusionPipeline.detailsToDocuments(parsed)
        val merged = ExclusionPipeline.mergeSummaries(docs, summaries, EtlModel.summaryCols)
        val typed = ExclusionPipeline.typifyColumns(merged, Seq("Quantity"), Seq("UnitPrice"))
        val out = Caches.cached(typed.withColumn("fields", to_json(col("fields"))))
        layers("query.build_ms") = (System.nanoTime() - b0) / 1e6
        if (t.enabled) {
          // lazy stages: time each cumulative prefix with a noop write;
          // a stage's own time is its prefix minus the one before
          val p0 = t.span("pipeline.source")(noopMs(pages))
          val pairsObs = Observation("pairs")
          val p1 = t.span("pipeline.parse")(noopMs(parsed.observe(pairsObs, count(lit(1)).as("n"))))
          val p2 = t.span("pipeline.pivot")(noopMs(docs))
          val p3 = t.span("pipeline.merge")(noopMs(merged))
          val p4 = t.span("pipeline.typify")(noopMs(out))
          layers("pipeline.pairs") = pairsObs.get("n").asInstanceOf[Long].toDouble
          layers("pipeline.parse_ms") = math.max(0, p1 - p0)
          layers("pipeline.pivot_ms") = math.max(0, p2 - p1)
          layers("pipeline.merge_ms") = math.max(0, p3 - p2)
          layers("pipeline.typify_ms") = math.max(0, p4 - p3)
        }
        val w0 = System.nanoTime()
        t.span("kv.upsert") {
          KvSink.upsert(out, "id", "scrape_ts", "scrape_pos", BenchKvFactory)
        }
        val w1 = System.nanoTime()
        t.span("lww.merge") {
          LwwSink.merge(spark, out, stateDir.toString, "id", "scrape_ts", "scrape_pos", Some("Region"))
        }
        val w2 = System.nanoTime()
        val after = files()
        layers("kv.upsert_ms") = (w1 - w0) / 1e6
        layers("lww.merge_ms") = (w2 - w1) / 1e6
        layers("query.write_ms") = (w2 - w0) / 1e6
        val written = after.filter { case (p, _) => !before.contains(p) }.values.sum.toDouble
        val stateBytes = after.values.sum.toDouble
        model.loadOf(k).foreach(v => expected(v.id) = v)
        layers("lww.bytes_written") = written
        layers("lww.state_bytes") = stateBytes
        layers("lww.files") = after.size.toDouble
        layers("lww.write_amp") =
          written / math.max(1.0, stateBytes * model.p.perLoad / expected.size)
        Right(w2 - t0)
      } catch {
        case e: Throwable => Left((e.toString, System.nanoTime() - t0))
      }
    }
    layers("caches.persisted") = spark.sparkContext.getPersistentRDDs.size.toDouble
    layers("datatables.count_probes") = (SourceCounters.probes.get - src0._1).toDouble
    layers("datatables.pages") = (SourceCounters.pages.get - src0._2).toDouble
    layers("datatables.rows") = (SourceCounters.rows.get - src0._3).toDouble
    layers("datatables.fetch_ms") = (SourceCounters.fetchNs.get - src0._4) / 1e6
    layers("datatables.retries") = (portal.retriesServed.get - src0._5).toDouble
    layers("datatables.wire_bytes") = (portal.wireBytes.get - src0._6).toDouble
    layers("kv.batches") = (BenchKv.batches.get - kv0._1).toDouble
    layers("kv.items") = (BenchKv.items.get - kv0._2).toDouble
    layers("kv.unprocessed") = (BenchKv.unprocessed.get - kv0._3).toDouble
    layers("kv.put_ms") = (BenchKv.putNs.get - kv0._4) / 1e6
    layers("kv.backoff_ms") = (BenchKv.backoffNs.get - kv0._5) / 1e6
    layers("kv.items_per_key") = layers("kv.items") / math.max(1, BenchKv.keys.size)
    result match {
      case Left((err, ns)) => OpResult(s"load$k", ns / 1e6, ok = false, layers.toMap, err)
      case Right(ns) =>
        checkLoad(k) match {
          case None => OpResult(s"load$k", ns / 1e6, ok = true, layers.toMap)
          case Some(err) => OpResult(s"load$k", ns / 1e6, ok = false, layers.toMap, err)
        }
    }
  }

  /** The KV items of this load's keys are exactly their newest version. */
  private def checkLoad(k: Int): Option[String] = {
    val errs = model.loadOf(k).iterator.flatMap { v =>
      Option(BenchKv.store.get(v.id)) match {
        case None => Some(s"${v.id}: missing from KV")
        case Some(item) => EtlModel.diff(v, item, withId = true)
      }
    }
    if (errs.hasNext) Some(errs.next())
    else if (BenchKv.store.size != expected.size)
      Some(s"KV holds ${BenchKv.store.size} keys, expected ${expected.size}")
    else None
  }

  /** Full KV contents and parquet state equal the newest version per key. */
  def finalCheck(): Option[String] = {
    val want = model.expectedState(load)
    val kvKeys = BenchKv.store.keySet.asScala.toSet
    if (kvKeys != want.keySet) return Some(s"KV keys differ: ${kvKeys.size} vs ${want.size}")
    val kvErr = want.valuesIterator.flatMap(v => EtlModel.diff(v, BenchKv.store.get(v.id), withId = true))
    if (kvErr.hasNext) return Some("KV " + kvErr.next())
    val rows = spark.read.parquet(stateDir.toString).collect()
    val state = rows.map { r =>
      r.schema.fieldNames.zipWithIndex.collect {
        case (c, i) if !r.isNullAt(i) => c -> r.get(i).toString
      }.toMap
    }
    if (state.length != want.size) return Some(s"state has ${state.length} rows, expected ${want.size}")
    val stErr = state.iterator.flatMap { row =>
      want.get(row.getOrElse("id", "")) match {
        case None => Some(s"state holds unknown key ${row.get("id")}")
        case Some(v) => EtlModel.diff(v, row, withId = false)
      }
    }
    if (stErr.hasNext) Some("state " + stErr.next()) else None
  }
}
