package graftbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** The `query_floor` list: short, oracle-declared queries whose time is
  * mostly fixed per-query cost (planning, job and stage submission,
  * AQE, codegen, table resolution) across Relational, TextOps, AsOfJoin
  * and the DataTables connector, plus one streaming drain so the
  * streaming layer is measured too.
  */
object Lists {
  val floor: Seq[String] = Seq(
    // Relational
    "q_topk_desc", "q_sample_hash", "q_filter_nonempty", "q_groupby_count",
    "q_set_union", "q_window_dedup_lww", "q_pivot", "q_filter_range", "q_agg_sum",
    // TextOps
    "q_text_tokens", "q_postings", "q_group_topk", "q_text_dedup", "q_token_count",
    // AsOfJoin
    "q_join_asof", "q_join_asof_native",
    // DataTables connector
    "q_datatables_scan",
    // Streams
    "q_stream_dedup")
  /** Untimed warm-up ops before timing starts. */
  val floorWarm: Seq[String] = "q_agg_sum" +: floor.indices.filter(_ % 6 == 0).map(floor)
}

final case class Args(m: Map[String, String]) {
  def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
  def get(k: String, d: String): String = m.getOrElse(k, d)
}

object Session {
  /** Every setting the measurements depend on is pinned here rather
    * than inherited: parallelism, shuffle partitions, AQE, the codegen
    * cache size the engine's own bench uses, and scratch, warehouse
    * and checkpoint directories under the run's private directory.
    */
  def create(runDir: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", runDir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toUri.toString)
      .config("spark.sql.streaming.checkpointLocation", runDir.resolve("checkpoints").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

object Main {
  /** Hard cap on the process, well inside the 180 s a run may take. */
  val ProcessCapMs = 150000L

  def parse(args: Array[String]): Args =
    Args(args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val code =
      try {
        a.get("mode", "run") match {
          case "run" => run(a)
          case "selftest" => SelfTest.run(a)
          case "goldens" => Goldens.make(a)
          case m => sys.error(s"unknown mode $m")
        }
        0
      } catch {
        case t: Throwable =>
          System.err.println("[graftbench] FAILED")
          t.printStackTrace()
          1
      }
    System.out.flush()
    System.exit(code)
  }

  /** Two cores fewer than the host has, at most two: query planning,
    * the JIT, the collector and the portal's handlers keep cores of
    * their own.
    */
  def cores: Int = math.max(1, math.min(2, Runtime.getRuntime.availableProcessors() - 2))

  def goldens(benchDir: Path): Map[String, String] = {
    import org.json4s._
    val txt = new String(Files.readAllBytes(benchDir.resolve("goldens.json")), "UTF-8")
    org.json4s.jackson.JsonMethods.parse(txt) match {
      case JObject(kv) => kv.collect { case (q, o: JObject) =>
        q -> (o \ "fingerprint").values.toString
      }.toMap
      case _ => sys.error("goldens.json is not an object")
    }
  }

  def workload(a: Args, runDir: Path): Workload = {
    val benchDir = Paths.get(a("bench-dir"))
    val data = benchDir.resolve("data").resolve("sf0.1").toString
    val seed = a("seed").toLong
    a("workload") match {
      case "etl_load" => new EtlWorkload(new EtlModel(seed, EtlParams()), runDir, cores)
      case "query_floor" =>
        new QueryWorkload("query_floor", Lists.floor, Lists.floorWarm, data, goldens(benchDir), seed)
      case w => sys.error(s"unknown workload $w")
    }
  }

  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p * (s.size - 1)
      val lo = math.floor(r).toInt
      val hi = math.ceil(r).toInt
      s(lo) + (s(hi) - s(lo)) * (r - lo)
    }
  }

  def run(a: Args): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val runDir = Paths.get(a("run-dir"))
    val traced = a.get("trace", "0") == "1"
    val targetMs = a("seconds").toDouble * 1000
    val w = workload(a, runDir)

    // set-up: JVM start to the first timed op, warm-up ops included
    val spark = Session.create(runDir, cores)
    w.setup(spark)
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    System.err.println(f"[graftbench] ${w.name}: ${w.inputs}; set-up $setupS%.3f s")
    // untimed: lets Spark's cleaner drop the warm-up ops' blocks before
    // the first op's heap sample
    Heap.liveMb()

    val tracer = new Tracer(traced)
    SourceCounters.tracer = tracer
    BenchKv.tracer = tracer
    val probe = if (traced) Some(new SparkProbe(spark)) else None
    probe.foreach(_.drain())
    var snap = probe.map(_.snapshot()).getOrElse(Map.empty)

    val results = mutable.ArrayBuffer[OpResult]()
    var timedMs = 0.0
    var heapPeak = 0.0
    var capped = false
    while (!capped && w.hasNext(timedMs, targetMs, traced)) {
      val r = w.runOp(tracer)
      timedMs += r.ms
      val sparkLayers = probe.map { p =>
        p.drain()
        val s2 = p.snapshot()
        val d = s2.map { case (k, v) => k -> (v - snap.getOrElse(k, 0.0)) }
        snap = s2
        d - "codegen.compile_ms_mean" ++ Map(
          "codegen.compile_ms" -> d.getOrElse("codegen.compiles", 0.0) * s2("codegen.compile_ms_mean"),
          "streams.state_rows_peak" -> p.takeStatePeak())
      }.getOrElse(Map.empty)
      val heap = Heap.liveMb()
      heapPeak = math.max(heapPeak, heap)
      System.err.println(f"[graftbench] op ${r.name}%-22s ${r.ms}%9.1f ms heap $heap%7.1f MB${if (r.ok) "" else " FAILED: " + r.detail}")
      results += r.copy(layers = r.layers ++ sparkLayers)
      capped = System.currentTimeMillis() - jvmStartMs > ProcessCapMs
      if (capped) System.err.println("[graftbench] process time cap reached; stopping early")
    }
    val finalErr = w.finalCheck()
    finalErr.foreach(e => System.err.println(s"[graftbench] final check FAILED: $e"))

    val failed = results.count(!_.ok)
    val passed = results.size - failed
    val lat = results.map(_.ms).toSeq
    System.err.println(f"[graftbench] ${results.size} ops, $failed failed (failed_ratio ${failed.toDouble / results.size}%.4f), timed ${timedMs / 1e3}%.2f s, op p50 ${percentile(lat, 0.5)}%.1f ms p90 ${percentile(lat, 0.9)}%.1f ms")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", passed / (timedMs / 1e3), "ops/s"),
        ("op_p50_ms", percentile(lat, 0.5), "ms"),
        ("heap_live_peak_mb", heapPeak, "MB"))
      else Layers.all.map { case (n, unit) =>
        val vs = results.map(_.layers.getOrElse(n, 0.0))
        val v = if (n.endsWith("_peak")) vs.max else vs.sum / vs.size
        (n, v, unit)
      }

    a.m.get("trace-out").filter(_ => traced).foreach { out =>
      val dir = Paths.get(out)
      Files.createDirectories(dir.getParent)
      tracer.writeJson(Paths.get(out + ".spans.jsonl"))
      val ops = results.map { r =>
        Json.obj(Seq("op" -> Json.str(r.name), "ms" -> Json.num(r.ms), "ok" -> r.ok.toString,
          "layers" -> Json.obj(r.layers.toSeq.sorted.map { case (k, v) => k -> Json.num(v) })))
      }
      Files.write(Paths.get(out + ".ops.jsonl"), (ops.mkString("\n") + "\n").getBytes("UTF-8"))
    }

    w.teardown()
    spark.stop()
    val line = Json.obj(Seq(
      "correct" -> (failed == 0 && finalErr.isEmpty && results.nonEmpty).toString,
      "attempted" -> results.size.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      })))
    println(line)
  }
}

/** Per-layer metric names and units, as listed in BENCHMARK.json. */
object Layers {
  val all: Seq[(String, String)] = Seq(
    "datatables.pages" -> "count", "datatables.rows" -> "count",
    "datatables.wire_bytes" -> "bytes", "datatables.fetch_ms" -> "ms",
    "datatables.count_probes" -> "count", "datatables.retries" -> "count",
    "datatables.bootstrap_ms" -> "ms",
    "pipeline.parse_ms" -> "ms", "pipeline.pairs" -> "count",
    "pipeline.pivot_ms" -> "ms", "pipeline.merge_ms" -> "ms",
    "pipeline.typify_ms" -> "ms",
    "kv.upsert_ms" -> "ms", "kv.put_ms" -> "ms", "kv.batches" -> "count",
    "kv.items" -> "count", "kv.items_per_key" -> "ratio",
    "kv.unprocessed" -> "count", "kv.backoff_ms" -> "ms",
    "lww.merge_ms" -> "ms", "lww.bytes_written" -> "bytes",
    "lww.write_amp" -> "ratio", "lww.state_bytes" -> "bytes", "lww.files" -> "count",
    "query.build_ms" -> "ms", "query.write_ms" -> "ms",
    "caches.persisted" -> "count", "caches.release_ms" -> "ms",
    "streams.batches" -> "count", "streams.input_rows" -> "count",
    "streams.state_rows_peak" -> "count",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.query_executions" -> "count", "spark.executor_run_ms" -> "ms",
    "spark.executor_cpu_ms" -> "ms", "spark.task_wait_ms" -> "ms",
    "spark.shuffle_write_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.gc_ms" -> "ms",
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms",
    "codegen.compiles" -> "count", "codegen.compile_ms" -> "ms")
}
