package graftbench

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval of the traced run. `parent` is the id of the
  * enclosing span (-1 for an op root); every span of one op carries
  * the op's id.
  */
final case class Span(id: Long, op: Long, parent: Long, name: String,
  startNs: Long, endNs: Long, attrs: Map[String, String]) {
  def durNs: Long = endNs - startNs
}

/** Span recorder for the traced run. Spans are kept in memory and
  * written once at exit. Spans opened by the benchmark's own thread
  * nest through a stack; spans recorded from task threads (KV puts,
  * page fetches) attach to the span that is open when they end.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = mutable.Stack[(Long, String, Long, Map[String, String])]()
  @volatile private var top: Long = -1
  @volatile private var op: Long = -1

  def span[T](name: String, attrs: Map[String, String] = Map.empty)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      if (stack.isEmpty) op = id
      val parent = top
      stack.push((id, name, System.nanoTime(), attrs))
      top = id
      try body
      finally {
        val (_, n, start, a) = stack.pop()
        spans.add(Span(id, op, parent, n, start, System.nanoTime(), a))
        top = parent
      }
    }

  /** Record an interval measured on another thread. */
  def record(name: String, startNs: Long, endNs: Long): Unit =
    if (enabled)
      spans.add(Span(ids.incrementAndGet(), op, top, name, startNs, endNs, Map.empty))

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.op, s.startNs))

  /** Duration minus the time covered by the span's children (the union
    * of their intervals, so parallel children are not double counted).
    */
  def selfNs(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.durNs - covered)
    }.toMap
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val all0 = all
    val self = selfNs(all0)
    val sb = new StringBuilder
    all0.foreach { s =>
      sb.append(Json.obj(Seq(
        "op" -> Json.num(s.op), "id" -> Json.num(s.id),
        "parent" -> Json.num(s.parent), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startNs / 1e6), "dur_ms" -> Json.num(s.durNs / 1e6),
        "self_ms" -> Json.num(self(s.id) / 1e6),
        "attrs" -> Json.obj(s.attrs.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }))))
      sb.append('\n')
    }
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}

/** Counters the engine's layers expose only from outside: Spark's
  * listener buses, the query-execution listener with its planning
  * tracker, the streaming listener and the codegen metrics source.
  * Registered only for traced runs.
  */
final class SparkProbe(spark: SparkSession) {
  private val sc: SparkContext = spark.sparkContext
  val DrainGroup = "graftbench-drain"

  private val c = new ConcurrentHashMap[String, LongAdder]()
  private def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new LongAdder).add(v)
  private val drainStages = ConcurrentHashMap.newKeySet[Int]()
  private val drainJobs = ConcurrentHashMap.newKeySet[Int]()
  private val stageSubmit = new ConcurrentHashMap[Int, Long]()
  @volatile private var drainLatch = new CountDownLatch(1)
  private val statePeak = new AtomicLong(0)
  private val streamsStarted = new AtomicLong(0)
  private val streamsEnded = new AtomicLong(0)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      if (g == DrainGroup) { drainJobs.add(e.jobId); e.stageIds.foreach(drainStages.add) }
      else add("spark.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (drainJobs.remove(e.jobId)) drainLatch.countDown()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      stageSubmit.put(e.stageInfo.stageId,
        e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (!drainStages.contains(e.stageInfo.stageId)) add("spark.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (!drainStages.contains(e.stageId)) {
        add("spark.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add("spark.executor_run_ms", m.executorRunTime)
          add("spark.executor_cpu_ns", m.executorCpuTime)
          add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
          add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
          add("spark.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
          add("spark.gc_ms", m.jvmGCTime)
        }
        val sub = stageSubmit.get(e.stageId)
        if (sub > 0) add("spark.task_wait_ms", math.max(0L, e.taskInfo.launchTime - sub))
      }
  }

  private val qeListener = new QueryExecutionListener {
    private def phases(qe: QueryExecution): Unit = {
      add("spark.query_executions", 1)
      val p = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { k =>
        p.get(k).foreach(s => add(s"catalyst.${k}_ms", s.durationMs))
      }
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
      streamsStarted.incrementAndGet()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("streams.batches", 1)
      add("streams.input_rows", p.numInputRows)
      val state = p.stateOperators.map(_.numRowsTotal).sum
      statePeak.accumulateAndGet(state, math.max)
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      streamsEnded.incrementAndGet()
  }

  sc.addSparkListener(listener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Wait until every event posted so far has reached the listeners:
    * a marker job's end event queues behind them on the shared bus;
    * streaming events travel on their own queue, so wait for every
    * started stream to report its termination.
    */
  def drain(): Unit = {
    drainLatch = new CountDownLatch(1)
    sc.setJobGroup(DrainGroup, "listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    if (!drainLatch.await(30, TimeUnit.SECONDS))
      System.err.println("[graftbench] listener drain timed out")
    val deadline = System.nanoTime() + 10000000000L
    while (streamsEnded.get() < streamsStarted.get() && System.nanoTime() < deadline)
      Thread.sleep(5)
  }

  /** Counter values now; per-op values are differences of two
    * snapshots (the state peak is reset instead).
    */
  def snapshot(): Map[String, Double] = {
    val base = c.asScala.map { case (k, v) => k -> v.sum().toDouble }.toMap
    val cpu = base.getOrElse("spark.executor_cpu_ns", 0.0) / 1e6
    val hist = CodegenMetrics.METRIC_COMPILATION_TIME
    base - "spark.executor_cpu_ns" ++ Map(
      "spark.executor_cpu_ms" -> cpu,
      "codegen.compiles" -> hist.getCount.toDouble,
      "codegen.compile_ms_mean" -> hist.getSnapshot.getMean)
  }

  def takeStatePeak(): Double = statePeak.getAndSet(0).toDouble
}

object Heap {
  private val mem = java.lang.management.ManagementFactory.getMemoryMXBean

  /** Heap in use right after a full collection, in MB. Collected twice,
    * with finalization and a pause between, so objects that were only
    * waiting for their finalizer, or for Spark's context cleaner to
    * drop the blocks of collected broadcasts and RDDs (it runs on the
    * reference queue the first collection fills), are not counted as
    * live.
    */
  def liveMb(): Double = {
    System.gc()
    System.runFinalization()
    Thread.sleep(150)
    System.gc()
    mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }
}

/** Minimal JSON writer for the result line and the trace file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case ch if ch < ' ' => b.append(f"\\u${ch.toInt}%04x")
      case ch => b.append(ch)
    }
    b.append('"').toString
  }
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.math.BigDecimal.valueOf(v).toPlainString
  def num(v: Long): String = v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
