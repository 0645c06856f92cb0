package graft.streaming

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._
import graft.sinks.LwwSink

/** Structured Streaming surface (SURVEY §2.10). The reference is
  * batch-only, but its write path is a hand-rolled micro-batcher:
  * accumulate 20 records, flush a batch_write_item PUT (last-write-
  * wins by ID), final partial flush
  * (/root/reference/__main__.py:50,61-66). Declared Spark surface:
  *
  *  - [[eventsStream]]: file-source stream over the events table;
  *  - [[windowedCounts]]: event-time tumbling window + watermark
  *    (batch twin: q_time_bucket);
  *  - [[statefulLww]]: per-key last-write-wins via
  *    flatMapGroupsWithState (batch twin: q_window_dedup_lww);
  *  - [[lwwUpsertQuery]]: foreachBatch [[graft.sinks.LwwSink]]
  *    upsert reproducing the PUT-by-ID semantics over parquet.
  *
  * Scale posture: watermark bounds state; LWW state is one row per
  * key; the foreachBatch sink is the object-store analog of the
  * reference's KV PUT — a real deployment swaps in a KV/table-format
  * writer with the same merge semantics.
  */
object Streams {

  /** Raw parquet schema of events (ts is TIMESTAMP(MICROS,
    * isAdjustedToUTC=false) on disk ⇒ TIMESTAMP_NTZ; normalized to µs
    * TimestampType in [[eventsStream]], same re-annotation as
    * graft.Tables — sessions run in UTC so the micros are identical).
    */
  val eventsRawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType)) :+ StructField("props", StringType))

  val docsRawSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source stream over a landing directory of documents parquet
    * files — the ingest side of the curation pipeline.
    */
  def docsStream(spark: SparkSession, docsDir: String): DataFrame =
    spark.readStream
      .schema(docsRawSchema)
      .parquet(docsDir)

  /** Continuous-ingest decontamination (streaming twin of
    * q_decontaminate's n_hit surface): each arriving document's
    * shingles probe the static eval-split shingle set via a
    * stream-static BROADCAST join (the eval suite is tiny and fixed —
    * no state, no shuffle of the stream side for the join), then a
    * stateful (doc, shingle) dedup + complete-mode per-doc count.
    * The per-eval-doc audit column (n_eval_docs) stays batch-only:
    * streaming aggregation cannot express countDistinct, and the
    * drop decision only needs n_hit.
    */
  def decontamHits(docs: DataFrame, evalShingles: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        explode(graft.functions.TextFns.shingles(
          col("text"), graft.operators.TextOps.decontamNgram)).as("shingle"))
      .join(broadcast(evalShingles), Seq("shingle"))
      .dropDuplicates("doc_id", "shingle")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_hit"))

  /** File-source stream over a DIRECTORY of events parquet files
    * (Spark's file stream source requires a directory — new files
    * appearing there become micro-batches, the standard landing-zone
    * layout). Tests stage `events.parquet` into a temp dir.
    */
  def eventsStream(spark: SparkSession, eventsDir: String): DataFrame =
    eventsStream(spark, eventsDir, None)

  /** As above, optionally bounding each micro-batch's file intake
    * (`maxFilesPerTrigger`) — with a time-sliced landing dir
    * ([[sliceEventsByTime]]) this forces a REAL multi-batch drain, so
    * the cross-batch state path is exercised at scale instead of one
    * drain-everything batch (the r8 fifth-decade spots' blind spot).
    */
  def eventsStream(spark: SparkSession, eventsDir: String,
    maxFilesPerTrigger: Option[Int]): DataFrame = {
    val r = spark.readStream.schema(eventsRawSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(eventsDir)
      .withColumn("ts", col("ts").cast(TimestampType))
  }

  /** Stage the events table into a landing dir of TIME-SLICED parquet
    * files — the log-rotation layout a real deployment's landing zone
    * has: slice k holds ts ∈ [b_{k-1}, b_k) (approx-quantile epoch-
    * second boundaries; equal-ts events never straddle a slice, so
    * per-user (ts, event_id) delivery order across micro-batches is
    * preserved by construction — the contract the state machines
    * declare). Each slice is written as `filesPerSlice` part files
    * whose names AND mtimes both increase with the slice index, so
    * the file source's intake order matches event time whichever key
    * it sorts by; streaming with maxFilesPerTrigger = filesPerSlice
    * then yields one micro-batch per slice.
    */
  private[graft] def sliceEventsByTime(spark: SparkSession,
    eventsPath: String, outDir: String, slices: Int,
    filesPerSlice: Int): Int = {
    import scala.jdk.CollectionConverters._
    val out = Paths.get(outDir)
    Files.createDirectories(out)
    val raw = spark.read.schema(eventsRawSchema).parquet(eventsPath)
      .withColumn("__s", col("ts").cast(TimestampType).cast("long"))
    val probs = (1 until slices).map(_.toDouble / slices).toArray
    val bounds = raw.stat.approxQuantile("__s", probs, 0.001).map(_.toLong)
    val cuts = (Seq(Long.MinValue) ++ bounds :+ Long.MaxValue).distinct
    val base = System.currentTimeMillis() - cuts.size * 120000L
    var written = 0
    for (k <- 0 until cuts.size - 1) {
      val slice = raw.filter(col("__s") >= cuts(k) && col("__s") < cuts(k + 1))
        .drop("__s")
      val tmp = out.resolve(s"__tmp$k")
      slice.repartition(filesPerSlice)
        .write.mode("overwrite").parquet(tmp.toString)
      val parts = {
        val ls = Files.list(tmp)
        try ls.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .toSeq.sortBy(_.getFileName.toString)
        finally ls.close()
      }
      parts.zipWithIndex.foreach { case (p, j) =>
        val dst = out.resolve(f"slice$k%03d_p$j%03d.parquet")
        Files.move(p, dst, StandardCopyOption.REPLACE_EXISTING)
        Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime.fromMillis(base + k * 60000L))
      }
      graft.sinks.Layout.deleteRecursively(tmp)
      written += parts.size
    }
    written
  }

  /** Event-time tumbling window + watermark for late data. */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        // decimal-exact sum, projected as rounded DOUBLE — same output
        // contract as the batch twin q_time_bucket
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 4)
          .as("sum_value"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Event-time SLIDING windows (1-hour width every 15 minutes) +
    * watermark — the streaming form of the trailing-window analytics
    * the batch side declares as q_rolling_time's value-RANGE frame.
    * Each event lands in width/slide = 4 overlapping windows (Spark
    * plans this as a 4-row generator expand, state is bounded by the
    * watermark); the spec asserts the complete-mode output equals the
    * identical window() aggregation run in batch over the same files.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        round(sum(col("value").cast("decimal(18,4)")).cast("double"), 4)
          .as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  /** Streaming count-min sketch over event types — the streaming twin
    * of batch q_cms_err's counter build, and the operator that makes
    * the CMS's POINT scale: a plain streaming aggregation over (i,
    * bucket) keys whose state is AT MOST d×256 = 1024 rows forever,
    * regardless of stream length or event-type cardinality (contrast
    * frequentItems' per-key Misra-Gries state). Partial-combining
    * makes each micro-batch's contribution a map-side 1024-row merge;
    * the same cellwise addition merges this sketch with the BATCH
    * sketch (shared TextOps.cmsBucket hash), which is the lambda-
    * architecture property the spec pins: complete-mode counters over
    * any micro-batch split ≡ the batch aggregation over the same rows.
    */
  def cmsCounters(events: DataFrame): DataFrame =
    events.select(posexplode(array(
        (0 until graft.operators.TextOps.cmsDepth)
          .map(i => graft.operators.TextOps.cmsBucket(i, col("event_type"))): _*))
        .as(Seq("i", "bucket")))
      .groupBy("i", "bucket")
      .agg(count(lit(1)).as("c"))

  /** Sliding DISTINCT-user counts (6-hour window every hour) — the
    * streaming twin of batch q_sliding_uniques, with the honest
    * streaming trade stated in the operator: exact distinct needs a
    * per-window user SET (what the batch twin materializes via its
    * window surjection; `countDistinct` is unsupported on streams
    * for exactly that unbounded-state reason), so the streaming form
    * carries an HLL sketch instead — constant state per window
    * regardless of user cardinality, mergeable across partitions and
    * micro-batches. The sketch hash is deterministic, so the
    * complete-mode result is BIT-equal to the same aggregation in
    * batch (spec'd), and within HLL error of the exact batch twin
    * (spec'd against q_sliding_uniques).
    */
  def slidingUniques(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "6 hours", "1 hour"))
      .agg(approx_count_distinct(col("user_id")).as("n_users_approx"))
      .select(col("window.end").as("win_end"), col("n_users_approx"))

  /** Event-time SESSION windows (30-minute gap) + watermark — the
    * native streaming form of gap sessionization. Batch twin:
    * q_sessionize (lag/cumsum formulation, oracle-checkable); the
    * spec asserts the two agree on (user, session_start, session_end,
    * n_events). Gap rule: windows are [start, last+gap), so a pause of
    * exactly the gap starts a new session — q_sessionize uses the
    * same ≥ boundary.
    */
  def sessionCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"),
        count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"))

  /** Streaming exact dedup: first-seen event_id wins. The watermark
    * is what makes this scale — dropDuplicatesWithinWatermark keeps a
    * key's dedup state only until the watermark passes it, instead of
    * growing state forever the way plain dropDuplicates does on a
    * stream (the batch twin q_text_dedup has no such problem; a
    * stream does). Duplicates arriving within the horizon — the
    * at-least-once redelivery case, e.g. the same landing file picked
    * up twice — are dropped; later-than-horizon replays are the
    * ts-conditional sink's job (see kvUpsertQuery).
    */
  def dedupEvents(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: for each event, the same user's
    * follow-up events within the next 10 minutes. Both sides carry
    * watermarks and the join condition bounds b.ts to a finite range
    * of a.ts — that pair is what lets Spark EXPIRE buffered state
    * (an unbounded stream-stream join would buffer both streams
    * forever). State per key ≈ one watermark horizon of events.
    * Batch twin in StreamingSpec: the identical join over the static
    * events table.
    */
  def followupJoin(a: DataFrame, b: DataFrame): DataFrame =
    a.withWatermark("ts", "1 hour").alias("a")
      .join(
        b.withWatermark("ts", "1 hour").alias("b"),
        expr("""a.user_id = b.user_id AND
                b.event_id != a.event_id AND
                b.ts > a.ts AND
                b.ts <= a.ts + interval 10 minutes"""))
      .select(col("a.user_id").as("user_id"),
        col("a.event_id").as("a_event"), col("b.event_id").as("b_event"),
        col("a.ts").as("a_ts"), col("b.ts").as("b_ts"))

  /** Streaming frequent items: a per-key Misra–Gries summary held in
    * mapGroupsWithState — state is k counters per group NO MATTER how
    * many items the stream delivers, so an unbounded stream cannot
    * grow state (contrast a naive per-item count whose state is the
    * full item vocabulary). Each micro-batch folds its rows into the
    * summary with the same reduce the batch aggregator uses
    * ([[graft.functions.FreqItemsAgg]]), inheriting MG's guarantee:
    * any item with true count > N/(k+1) is in the summary, counters
    * are lower bounds within N/(k+1). Batch twin: pass one of
    * TextOps.q_heavy_hitters. Input contract: columns `key`, `item`.
    */
  def frequentItems(spark: SparkSession, rows: DataFrame, k: Int)
    : Dataset[(String, Long, Seq[(String, Long)])] = {
    import spark.implicits._
    val agg = new graft.functions.FreqItemsAgg(k)
    rows.select(col("key").cast("string"), col("item").cast("string"))
      .as[(String, String)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, it: Iterator[(String, String)],
         st: GroupState[(Map[String, Long], Long)]) =>
          val (buf0, n0) = st.getOption.getOrElse((agg.zero, 0L))
          var n = n0
          val updated = it.foldLeft(buf0) { (b, r) =>
            n += 1; agg.reduce(b, r._2)
          }
          st.update((updated, n))
          // n (items processed) is the N in the N/(k+1) error bound a
          // consumer applies to the counters; it is also monotone, so
          // the max-n emission per key is the final summary
          (key, n, agg.finish(updated))
      }
  }

  case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
    event_type: String, value: Double)
  case class LwwWinner(user_id: Long, event_id: Long, event_type: String,
    value: Double, ts: java.sql.Timestamp)

  /** One observed state transition for one user (streaming twin of a
    * q_markov input row; downstream counts these).
    */
  case class Transition(user_id: Long, src_type: String, dst_type: String)
  case class Trigram(user_id: Long, path: String)

  /** Streaming twin of batch q_markov's transition extraction, under
    * the per-user in-order delivery contract (the keyed-log
    * deployment: a stream keyed by user delivers each user's events
    * in (ts, event_id) order — batches may interleave users freely).
    * State is ONE row per user — the last seen event's
    * (ts-millis, nanos, event_id, type) — so state is bounded by the
    * user universe, never by event volume. Each micro-batch emits the
    * newly observed transitions; a partial-combining count over them
    * is q_markov's cnt column, and the per-source normalization is a
    * display projection over those counts.
    *
    * An incoming event older than the stored last event is a contract
    * violation: it is DROPPED (detectably — the transition count then
    * undershoots the batch twin), never silently mis-sequenced. An
    * exact order-robust streaming Markov needs the user's full event
    * sequence (a late event splits one adjacent pair into two and
    * retracts a previously emitted transition) — the same
    * unbounded-state obstruction documented on [[retentionSnapshots]]
    * for the exact streaming funnel.
    */
  def markovTransitions(spark: SparkSession,
    events: DataFrame): Dataset[Transition] = {
    import spark.implicits._
    // state: (millis, nanos, event_id, last event_type)
    def key(e: EventRow): (Long, Int, Long) =
      (e.ts.getTime, e.ts.getNanos, e.event_id)
    events.select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow],
          st: GroupState[(Long, Int, Long, String)]) =>
          val sorted = rows.toSeq.sortBy(key)
          var last = st.getOption
          val out = Seq.newBuilder[Transition]
          for (e <- sorted) {
            val k = key(e)
            last match {
              case Some((lm, ln, lid, ltype)) =>
                if (Ordering[(Long, Int, Long)].gt(k, (lm, ln, lid))) {
                  out += Transition(uid, ltype, e.event_type)
                  last = Some((k._1, k._2, k._3, e.event_type))
                } // older than the stored last: contract violation, drop
              case None =>
                last = Some((k._1, k._2, k._3, e.event_type))
            }
          }
          last.foreach(st.update)
          out.result().iterator
      }
  }

  /** Streaming 3-step path mining — the stateful twin of batch
    * q_paths: state = the last TWO events per user (constant-size, the
    * markovTransitions discipline one step deeper), each arriving
    * event newer than the stored tail emits one completed trigram.
    * Downstream, `groupBy(path).count()` reproduces the batch
    * trigram counts exactly under the same per-user in-order
    * delivery contract; out-of-order stragglers are dropped, never
    * double-counted.
    */
  def pathTrigrams(spark: SparkSession,
    events: DataFrame): Dataset[Trigram] = {
    import spark.implicits._
    def key(e: EventRow): (Long, Int, Long) =
      (e.ts.getTime, e.ts.getNanos, e.event_id)
    events.select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow],
          st: GroupState[Seq[(Long, Int, Long, String)]]) =>
          val sorted = rows.toSeq.sortBy(key)
          var tail = st.getOption.getOrElse(Seq.empty)
          val out = Seq.newBuilder[Trigram]
          for (e <- sorted) {
            val k = key(e)
            val newer = tail.isEmpty ||
              Ordering[(Long, Int, Long)].gt(
                k, (tail.last._1, tail.last._2, tail.last._3))
            if (newer) {
              if (tail.size == 2)
                out += Trigram(uid,
                  s"${tail.head._4}>${tail.last._4}>${e.event_type}")
              tail = (tail :+ ((k._1, k._2, k._3, e.event_type)))
                .takeRight(2)
            } // older than the stored tail: contract violation, drop
          }
          st.update(tail)
          out.result().iterator
      }
  }

  /** Streaming anomaly detector — tumbling hourly counts per
    * event_type flagged against a STATIC baseline of per-(type,
    * hour-of-day) doubled medians (batch-trained, e.g. from
    * q_rolling_median / q_seasonality's frames — the deployment
    * shape: baseline frozen at training time, stream scored against
    * it, exactly like [[psiDrift]]'s reference). The flag is the
    * integer-exact compare 4·cnt > 3·med2 (⇔ cnt > 1.5·median; med2
    * = 2·median is integral for count series), so no float enters
    * the decision. One windowed aggregation + one broadcastable
    * static join — watermark-bounded state, nothing stateful beyond
    * the window store.
    *
    * Missing-baseline policy (explicit): a (event_type, hour-of-day)
    * cell absent from the baseline scores med2 = NULL and
    * anomalous = NULL — "unknown", NOT flagged. Coalescing a missing
    * baseline to 0 would flag EVERY nonempty window of an unseen
    * type/hour (cnt·4 > 0), drowning the monitor in alerts whenever
    * a new event type ships; downstream decides how to treat
    * unknowns (typically: route to baseline retraining, not paging).
    */
  def anomalyFlags(spark: SparkSession, events: DataFrame,
    baseline: Map[(String, Int), Long]): DataFrame = {
    import spark.implicits._
    val base = baseline.toSeq
      .map { case ((t, h), m) => (t, h, m) }
      .toDF("event_type", "hod", "med2")
    // the baseline joins BEFORE the aggregation (the event's
    // hour-of-day equals its tumbling window's — windows are
    // hour-aligned), because a stream-static join AFTER a streaming
    // aggregation is a restricted plan shape; med2 is constant per
    // group, surfaced with min()
    events
      .withColumn("hod", hour(col("ts")))
      .join(broadcast(base), Seq("event_type", "hod"), "left")
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), min(col("med2")).as("med2"))
      .select(col("window.start").as("bucket"), col("event_type"),
        col("cnt"), col("med2"),
        when(col("med2").isNotNull,
          (col("cnt") * 4 > col("med2") * 3).cast("long")).as("anomalous"))
  }

  /** One streaming drift reading: the PSI of a (window, event_type)
    * cell's accumulated value histogram against the static reference.
    */
  case class DriftRow(win_start: Long, event_type: String,
    n_cur: Long, n_bins: Long, psi: Double)

  /** Streaming drift monitor — the stateful twin of batch
    * q_psi_drift: per (tumbling window, event_type) key, state is the
    * BOUNDED bin-count map of observed values (≤ value-range /
    * psiBinWidth entries, ~10 on this data — constant regardless of
    * event volume, the StateBound discipline), and each micro-batch
    * emits the key's refreshed PSI against a STATIC reference
    * histogram (computed batch-side, e.g. from the training window,
    * and passed in as a plain map — the standard deployment shape:
    * reference fixed at model-training time, stream monitored against
    * it). Same +1-Laplace-smoothed formula as the batch twin over the
    * union of reference and observed bins; the last emission per key
    * is the key's final reading (append mode re-emits on update).
    *
    * State lifetime: each key's bin map is bounded, but the NUMBER of
    * (window, event_type) keys grows with elapsed windows, so closed
    * windows' state is evicted via event-time timeout — a watermark
    * on ts plus a per-key timeout at window-end + 1 h lateness. After
    * the watermark passes that point no event can reach the window
    * (the watermark drops it first), so eviction never loses an
    * update; long-running streams hold state only for open windows.
    */
  def psiDrift(spark: SparkSession, events: DataFrame,
    ref: Map[(String, Long), Long],
    windowSecs: Long = 21600L): Dataset[DriftRow] = {
    import spark.implicits._
    val binW = graft.operators.Relational.psiBinWidth
    events.withWatermark("ts", "1 hour")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventRow]
      .groupByKey(e =>
        (e.ts.getTime / 1000 / windowSecs * windowSecs, e.event_type))
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (key: (Long, String), rows: Iterator[EventRow],
          st: GroupState[Map[Long, Long]]) =>
          if (st.hasTimedOut) {
            // window closed past the lateness horizon: the last
            // emission was the final reading; drop the state
            st.remove()
            Iterator.empty
          } else {
          val bins = st.getOption.getOrElse(Map.empty)
          val updated = rows.foldLeft(bins) { (m, e) =>
            val b = math.floor(e.value / binW).toLong
            m.updated(b, m.getOrElse(b, 0L) + 1L)
          }
          st.update(updated)
          // evict once the watermark passes window-end + 1 h; clamp
          // above the current watermark (Spark rejects a timeout in
          // the past when late-but-in-watermark rows touch the key)
          val target = (key._1 + windowSecs + 3600L) * 1000L
          st.setTimeoutTimestamp(math.max(target, st.getCurrentWatermarkMs + 1L))
          val refBins = ref.collect {
            case ((t, b), c) if t == key._2 => b -> c
          }
          val all = (refBins.keySet ++ updated.keySet).toSeq.sorted
          val k = all.size
          val nRef = refBins.values.sum
          val nCur = updated.values.sum
          val psi = all.map { b =>
            val p = (refBins.getOrElse(b, 0L) + 1).toDouble / (nRef + k)
            val q = (updated.getOrElse(b, 0L) + 1).toDouble / (nCur + k)
            BigDecimal((p - q) * math.log(p / q))
              .setScale(6, BigDecimal.RoundingMode.HALF_UP)
          }.sum
          Iterator.single(DriftRow(key._1, key._2, nCur, k.toLong,
            psi.toDouble))
          }
      }
  }

  /** One revisioned histogram snapshot of a type's CURRENT-window
    * value bins — the emission unit of [[currentHistSnapshots]].
    */
  case class HistSnap(event_type: String, rev: Long, bins: Map[Long, Long])

  /** Bounded per-type histogram accumulation — the stateful current
    * side of the PSI monitor, shaped for an ORACLE-gated drain
    * (unlike [[psiDrift]], which computes its PSI inside the state
    * machine and so cannot share the batch query's exact float path):
    * state per event_type is the bin-count map of values at or after
    * the boundary (≤ value-range / psiBinWidth entries — constant in
    * event volume, the StateBound discipline); each micro-batch emits
    * an Update-mode revisioned snapshot of the full map. Histogram
    * accumulation is a commutative fold, so the final snapshot is
    * EXACT under any batch split or within-stream disorder — the
    * drain projection joins it against the batch-side reference
    * histogram and runs [[graft.operators.Relational.psiFromBinned]],
    * the SAME arithmetic the batch query runs (shared-snippet rule).
    *
    * `boundary2` = (min + max epoch seconds of the reference corpus)
    * — an event is current iff 2·e > boundary2, the batch query's
    * integer-exact midpoint split. The deployment shape: reference
    * histogram and boundary fixed batch-side at training time, the
    * stream monitored against them.
    */
  def currentHistSnapshots(spark: SparkSession, events: DataFrame,
    boundary2: Long): Dataset[HistSnap] = {
    import spark.implicits._
    val binW = graft.operators.Relational.psiBinWidth
    events
      .select(col("event_type"),
        col("ts").cast("long").as("e"),
        floor(col("value") / binW).cast("long").as("bin"))
      .filter(col("e") * 2 > boundary2)
      .select("event_type", "bin")
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[(String, Long)],
          st: GroupState[(Map[Long, Long], Long)]) =>
          val (bins, rev) = st.getOption.getOrElse((Map.empty[Long, Long], 0L))
          val updated = rows.foldLeft(bins) { (m, r) =>
            m.updated(r._2, m.getOrElse(r._2, 0L) + 1L)
          }
          if (updated == bins) Iterator.empty
          else {
            st.update((updated, rev + 1))
            Iterator.single(HistSnap(tpe, rev + 1, updated))
          }
      }
  }

  /** Declared query: the PSI drift monitor drained end-to-end into
    * batch q_psi_drift's exact output shape — the 11th oracle-gated
    * twin. Batch-side (the training-time artifacts): the epoch
    * midpoint boundary and the reference-half histogram. Stream-side:
    * [[currentHistSnapshots]]. The projection takes each type's
    * max-rev snapshot, explodes it, full-outer joins the reference
    * bins (the batch query's union-of-observed-bins universe), and
    * hands the (type, bin, c_ref, c_cur) frame to the SAME
    * psiFromBinned the batch query uses — bit-identical contributions
    * by construction. Oracle = q_psi_drift's DuckDB twin verbatim.
    */
  def q_stream_psi(s: SparkSession, dir: String): DataFrame = {
    val binW = graft.operators.Relational.psiBinWidth
    val batch = graft.Tables(s, dir, "events")
      .select(col("event_type"), col("ts").cast("long").as("e"),
        floor(col("value") / binW).cast("long").as("bin"))
    val b = batch.agg(min(col("e")).as("mn"), max(col("e")).as("mx"))
      .collect()(0)
    val boundary2 = b.getLong(0) + b.getLong(1)
    val ref = batch.filter(col("e") * 2 <= boundary2)
      .groupBy("event_type", "bin").agg(count(lit(1)).as("c_ref"))
    val evDir = streamableDir(s"$dir/events.parquet")
    val events = eventsStream(s, evDir)
    drainAndProject(s, currentHistSnapshots(s, events, boundary2),
      OutputMode.Update, "stream_psi", Seq(evDir)) { sink =>
      val cur = LwwSink.reduce(sink, Seq("event_type"), col("rev"))
        .select(col("event_type"), explode(map_entries(col("bins"))).as("kv"))
        .select(col("event_type"), col("kv.key").as("bin"),
          col("kv.value").as("c_cur"))
      val binned = ref.join(cur, Seq("event_type", "bin"), "full_outer")
        .select(col("event_type"), col("bin"),
          coalesce(col("c_ref"), lit(0L)).as("c_ref"),
          coalesce(col("c_cur"), lit(0L)).as("c_cur"))
      graft.operators.Relational.psiFromBinned(binned)
    }
  }

  /** Stateful last-write-wins: state = current winner per user_id;
    * each micro-batch emits keys whose winner changed. Tie-break
    * (ts, event_id) matches the batch q_window_dedup_lww.
    */
  def statefulLww(spark: SparkSession, events: DataFrame): Dataset[LwwWinner] = {
    import spark.implicits._
    def newer(a: LwwWinner, b: LwwWinner): Boolean =
      a.ts.after(b.ts) || (a.ts.equals(b.ts) && a.event_id > b.event_id)
    events
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[EventRow], state: GroupState[LwwWinner]) =>
          val candidates = rows.map(e =>
            LwwWinner(e.user_id, e.event_id, e.event_type, e.value, e.ts))
          val incoming = candidates.reduceOption((a, b) => if (newer(a, b)) a else b)
          incoming match {
            case Some(inc) =>
              val winner = state.getOption match {
                case Some(cur) if newer(cur, inc) => cur
                case _ => inc
              }
              val changed = !state.getOption.contains(winner)
              state.update(winner)
              if (changed) Iterator(winner) else Iterator.empty
            case None => Iterator.empty
          }
      }
  }

  /** One user's retention snapshot: Monday epoch-day of the cohort
    * week + sorted week offsets with activity, revisioned so
    * downstream keeps the latest. Epoch-day longs (not DATEs) keep
    * the contract timezone-free.
    */
  case class RetentionSnap(user_id: Long, cohort_day: Long,
    offsets: Seq[Long], rev: Long)

  /** One revisioned per-session snapshot (streaming sessionization
    * emission): the session's boundaries and size AS OF this
    * micro-batch. Timestamps are floor-epoch-second longs — the same
    * integer the batch twin's `cast(ts as long)` gap rule uses, so
    * duration arithmetic downstream is integer-exact. Downstream
    * keeps max-rev per (user_id, session_id); a session that spans
    * micro-batches is simply re-emitted with its extended end.
    */
  case class SessionSnap(user_id: Long, session_id: Long,
    start_s: Long, end_s: Long, n_events: Long, rev: Long)

  /** Monday-truncated epoch day of a timestamp — the JVM twin of
    * `date_trunc('week')` under UTC (1970-01-01 was a Thursday, so
    * epoch day d is a Monday iff (d+3) % 7 == 0).
    */
  private[graft] def mondayEpochDay(ts: java.sql.Timestamp): Int = {
    val days = Math.floorDiv(ts.getTime, 86400000L).toInt
    days - Math.floorMod(days + 3, 7)
  }

  /** Streaming twin of batch q_retention: per-user state machine via
    * flatMapGroupsWithState. State = the user's set of distinct
    * activity weeks (epoch-day ints) — the cohort is its MIN, which is
    * order-robust: late-arriving earlier events simply lower the min,
    * and the emitted snapshot CORRECTS every offset in one row (this
    * is why the twin is retention and not the funnel — an exact
    * streaming funnel must re-qualify discarded clicks when an
    * earlier view arrives, which needs unbounded state under
    * adversarial arrival order).
    *
    * State is bounded by the stream's wall-clock span in weeks per
    * user (one int per active week), NOT by event count; an infinite
    * deployment ages out closed cohorts with a state TTL. Emission is
    * one revisioned snapshot per user per changed micro-batch;
    * downstream keeps max-rev (idempotent against replays).
    */
  def retentionSnapshots(spark: SparkSession,
    events: DataFrame): Dataset[RetentionSnap] = {
    import spark.implicits._
    events.select(col("user_id"), col("ts"))
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp)],
          st: GroupState[(Set[Int], Long)]) =>
          val incoming = rows.map(r => mondayEpochDay(r._2)).toSet
          val (oldWeeks, rev) = st.getOption.getOrElse((Set.empty[Int], 0L))
          val weeks = oldWeeks ++ incoming
          if (weeks == oldWeeks) Iterator.empty // no new activity week
          else {
            st.update((weeks, rev + 1))
            val cohort = weeks.min
            Iterator(RetentionSnap(uid, cohort.toLong,
              weeks.toSeq.sorted.map(w => ((w - cohort) / 7).toLong),
              rev + 1))
          }
      }
  }

  /** Memoize a named LongAccumulator per SparkContext, EVICTING the
    * entry when that context ends: without the listener, stopped
    * contexts (and their accumulators) would be retained forever in a
    * long-lived JVM that cycles sessions (the spec suites create and
    * stop dozens). The listener is registered at most once per
    * (map, context) because computeIfAbsent runs the factory exactly
    * once per absent key.
    */
  private def contextAcc(
    map: java.util.concurrent.ConcurrentHashMap[
      org.apache.spark.SparkContext, org.apache.spark.util.LongAccumulator],
    sc: org.apache.spark.SparkContext,
    name: String): org.apache.spark.util.LongAccumulator =
    map.computeIfAbsent(sc, { c =>
      c.addSparkListener(new org.apache.spark.scheduler.SparkListener {
        override def onApplicationEnd(
          e: org.apache.spark.scheduler.SparkListenerApplicationEnd): Unit =
          map.remove(c)
      })
      c.longAccumulator(name)
    })

  /** Dead-letter counter for [[sessionSnapshots]]' straggler-drop
    * path, memoized per SparkContext (named, so it also shows in the
    * UI/status APIs). Zero after a drain ⇔ the per-user in-order
    * delivery contract held; a positive count is the observable
    * signal that session splits downstream may be wrong.
    */
  private val dropAccs = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, org.apache.spark.util.LongAccumulator]()

  def sessionizeDrops(spark: SparkSession): org.apache.spark.util.LongAccumulator =
    contextAcc(dropAccs, spark.sparkContext,
      "graft.sessionize.stragglerDrops")

  /** Streaming sessionization — the stateful twin of batch
    * q_sessionize's gap rule (a ≥ 30-minute pause in floor-epoch-
    * seconds starts a new session). State is ONE open session per
    * user: (session counter, start, last-seen key, size) — bounded by
    * the user universe like [[markovTransitions]], never by event
    * volume; an infinite deployment ages idle users out with a state
    * TTL (an idle user's open session is by then immutable, since any
    * later event necessarily starts a new one).
    *
    * Emission is Update-mode revisioned snapshots: every session
    * TOUCHED in a micro-batch re-emits its current (start, end, n) —
    * this is what makes the twin exact where a watermark-flushed
    * `session_window` aggregate is not: Append-mode session windows
    * only emit once the watermark passes them, so sessions ending
    * inside the final watermark horizon are never flushed by a
    * drained AvailableNow run. Re-emission needs no flush; the last
    * revision per (user, session) IS the closed session. Same
    * in-order contract as [[markovTransitions]]: per-user (ts,
    * event_id) order across batches; stragglers older than the
    * user's stored last key are dropped AND counted in the
    * [[sessionizeDrops]] accumulator, so a violated delivery
    * contract is observable (non-zero drop count) instead of only
    * inferable from wrong session splits downstream.
    */
  def sessionSnapshots(spark: SparkSession,
    events: DataFrame): Dataset[SessionSnap] = {
    import spark.implicits._
    val drops = sessionizeDrops(spark)
    def key(e: EventRow): (Long, Int, Long) =
      (e.ts.getTime, e.ts.getNanos, e.event_id)
    // state: (sid, start_s, lastMs, lastNanos, lastId, n, rev)
    events.select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow],
          st: GroupState[(Long, Long, Long, Int, Long, Long, Long)]) =>
          val sorted = rows.toSeq.sortBy(key)
          var (sid, startS, lastMs, lastNanos, lastId, n, rev) =
            st.getOption.getOrElse(
              (0L, 0L, Long.MinValue, 0, Long.MinValue, 0L, 0L))
          val touched =
            scala.collection.mutable.LinkedHashMap.empty[Long, SessionSnap]
          for (e <- sorted) {
            val k = key(e)
            if (sid == 0L ||
              Ordering[(Long, Int, Long)].gt(k, (lastMs, lastNanos, lastId))) {
              val sec = Math.floorDiv(k._1, 1000L)
              // the batch twin's gap rule: cast-to-long (floor-second)
              // difference ≥ 1800 starts a new session
              if (sid == 0L || sec - Math.floorDiv(lastMs, 1000L) >= 1800L) {
                sid += 1; startS = sec; n = 0L
              }
              n += 1; lastMs = k._1; lastNanos = k._2; lastId = k._3
              touched(sid) = SessionSnap(uid, sid, startS, sec, n, rev + 1)
            } else if (Ordering[(Long, Int, Long)]
              .lt(k, (lastMs, lastNanos, lastId))) {
              // strictly OLDER than the stored last: contract
              // violation — drop, but observably (dead-letter
              // counter; a re-executed task may double-count, which
              // is fine for a violation DETECTOR: zero still means
              // clean). An EQUAL key is a benign at-least-once
              // redelivery of the newest event: ignored silently, it
              // changes no session split and must not trip the
              // zero ⇔ contract-held invariant.
              drops.add(1L)
            }
          }
          if (touched.nonEmpty) {
            rev += 1
            st.update((sid, startS, lastMs, lastNanos, lastId, n, rev))
          }
          touched.valuesIterator
      }
  }

  case class FunnelSnap(user_id: Long, v: Long, c: Long, p: Long, rev: Long)

  /** Dead-letter counter for [[funnelStages]]' beyond-horizon drop
    * path (same contract as [[sessionizeDrops]]): zero after a drain
    * ⇔ no event arrived more than the staleness horizon behind its
    * user's frontier, i.e. the emitted stages are EXACT.
    */
  private val funnelDropAccs = new java.util.concurrent.ConcurrentHashMap[
    org.apache.spark.SparkContext, org.apache.spark.util.LongAccumulator]()

  def funnelDrops(spark: SparkSession): org.apache.spark.util.LongAccumulator =
    contextAcc(funnelDropAccs, spark.sparkContext,
      "graft.funnel.stragglerDrops")

  /** Default staleness horizon for the declared streaming funnel:
    * 30 days of event time. */
  private[graft] val funnelHorizonMicros: Long = 30L * 24 * 3600 * 1000000L

  /** Streaming ordered funnel — the bounded approximation of batch
    * q_funnel a practitioner actually deploys. The exact streaming
    * funnel needs unbounded state: a click is only stage-2 if it
    * falls strictly after the user's FIRST view, so a late view can
    * re-qualify a click discarded arbitrarily long ago (the
    * obstruction documented on [[retentionSnapshots]]). The bounded
    * form keeps, per user:
    *
    *  - `cutoff` = (max event time seen) − `horizonMicros`;
    *  - the FROZEN stage firsts (v, c, p in micros, −1 = unreached)
    *    folded from events already evicted past the cutoff;
    *  - a re-qualification BUFFER of the events still inside the
    *    horizon (the state bound: events per user per horizon).
    *
    * Each batch inserts events at-or-after the cutoff (older ones
    * are beyond-horizon stragglers: dropped + counted in
    * [[funnelDrops]]), advances the cutoff, folds newly-evicted
    * events into the frozen triple in event-time order, and emits an
    * Update-mode snapshot of fold(frozen, buffer). Every buffered
    * event is strictly newer than every evicted one, so within-
    * horizon disorder is invisible: any arrival order whose lateness
    * stays under the horizon yields EXACTLY batch q_funnel's stages
    * (StreamingSpec pins both the exactness inside the horizon on an
    * adversarially reversed split, and the measured divergence + drop
    * count once the horizon is deliberately undersized). The stage
    * fold itself is order-independent at equal timestamps because a
    * qualifying event must be STRICTLY after the prior stage.
    */
  def funnelStages(spark: SparkSession, events: DataFrame,
    horizonMicros: Long = funnelHorizonMicros): Dataset[FunnelSnap] = {
    import spark.implicits._
    val drops = funnelDrops(spark)
    def micros(e: EventRow): Long =
      Math.floorDiv(e.ts.getTime, 1000L) * 1000000L + e.ts.getNanos / 1000L
    // fold one event into a stage triple (ascending-ts discipline)
    def fold(st: (Long, Long, Long), tpe: String, ts: Long)
      : (Long, Long, Long) = {
      val (v, c, p) = st
      tpe match {
        case "view" if v < 0 => (ts, c, p)
        case "click" if v >= 0 && ts > v && c < 0 => (v, ts, p)
        case "purchase" if c >= 0 && ts > c && p < 0 => (v, c, ts)
        case _ => st
      }
    }
    // state: (cutoff, frozen v, frozen c, frozen p, rev, buffer)
    events.select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow],
          st: GroupState[(Long, Long, Long, Long, Long, Seq[(Long, String)])]) =>
          var (cutoff, fv, fc, fp, rev, buf) = st.getOption.getOrElse(
            (Long.MinValue, -1L, -1L, -1L, 0L, Seq.empty[(Long, String)]))
          // the merge below REQUIRES a sorted buffer; state written by
          // the pre-sorted-invariant version stored arrival order, so
          // establish the invariant on restore (O(n) check each batch,
          // an actual sort only once per legacy group)
          if (buf.length > 1 && buf.sliding(2).exists(p =>
            Ordering[(Long, String)].gt(p.head, p.last)))
            buf = buf.sorted
          val incoming = rows.map(e => (micros(e), e.event_type)).toSeq
          val (fresh, stale) = incoming.partition(_._1 >= cutoff)
          if (stale.nonEmpty) drops.add(stale.size.toLong)
          if (fresh.isEmpty) Iterator.empty
          else {
            val maxSeen = math.max(
              if (cutoff == Long.MinValue) Long.MinValue
              else cutoff + horizonMicros,
              fresh.iterator.map(_._1).max)
            // saturating subtraction: the first batch's cutoff must
            // not wrap below MinValue
            cutoff =
              if (maxSeen < Long.MinValue + horizonMicros) Long.MinValue
              else maxSeen - horizonMicros
            // the stored buffer is ALWAYS sorted (invariant below), so
            // only the fresh slice pays a sort and the combined buffer
            // comes from one linear merge — a hot user inside the
            // horizon costs O(|fresh| log |fresh| + |buf|) per batch,
            // not O(|buf| log |buf|) twice (the pre-fix shape re-sorted
            // the whole buffer for eviction AND again for the snapshot)
            val merged = {
              val fs = fresh.sorted
              val out = Vector.newBuilder[(Long, String)]
              var i = 0
              var j = 0
              while (i < buf.length && j < fs.length) {
                if (Ordering[(Long, String)].lteq(buf(i), fs(j))) {
                  out += buf(i); i += 1
                } else { out += fs(j); j += 1 }
              }
              while (i < buf.length) { out += buf(i); i += 1 }
              while (j < fs.length) { out += fs(j); j += 1 }
              out.result()
            }
            // sorted ⇒ the beyond-cutoff prefix IS the eviction set
            val (evict, keep) = merged.span(_._1 < cutoff)
            var frozen = (fv, fc, fp)
            evict.foreach { case (ts, tpe) => frozen = fold(frozen, tpe, ts) }
            buf = keep
            rev += 1
            st.update((cutoff, frozen._1, frozen._2, frozen._3, rev, buf))
            var cur = frozen
            buf.foreach { case (ts, tpe) => cur = fold(cur, tpe, ts) }
            Iterator(FunnelSnap(uid, cur._1, cur._2, cur._3, rev))
          }
      }
  }

  /** Declared query: [[funnelStages]] drained end-to-end, the max-rev
    * snapshot per user counted into batch q_funnel's exact 3-row
    * output shape (stage, users, pct). Oracle = q_funnel's DuckDB
    * twin verbatim: an AvailableNow drain is one micro-batch, where
    * every event is inside the horizon and the emitted stages are
    * exact by construction.
    */
  def q_stream_funnel(s: SparkSession, dir: String): DataFrame = {
    val evDir = streamableDir(s"$dir/events.parquet")
    val events = eventsStream(s, evDir)
    drainAndProject(s, funnelStages(s, events),
      OutputMode.Update, "stream_funnel", Seq(evDir)) { sink =>
      val last = LwwSink.reduce(sink, Seq("user_id"), col("rev"))
      last.agg(
          sum(when(col("v") >= 0, 1L).otherwise(0L)).as("nv"),
          sum(when(col("c") >= 0, 1L).otherwise(0L)).as("nc"),
          sum(when(col("p") >= 0, 1L).otherwise(0L)).as("np"))
        .select(explode(array(
          struct(lit("1_view").as("stage"), col("nv").as("users"),
            lit(1.0).as("pct")),
          struct(lit("2_click").as("stage"), col("nc").as("users"),
            round(col("nc").cast("double") / col("nv"), 4).as("pct")),
          struct(lit("3_purchase").as("stage"), col("np").as("users"),
            round(col("np").cast("double") / col("nv"), 4).as("pct"))))
          .as("r"))
        .select(col("r.stage").as("stage"), col("r.users").as("users"),
          col("r.pct").as("pct"))
        .orderBy("stage")
    }
  }

  /** Wire the events stream through [[graft.sinks.LwwSink.merge]]:
    * newest (ts, event_id) per user (availableNow-style drain is up to
    * the caller's trigger choice).
    */
  def lwwUpsertQuery(spark: SparkSession, eventsDir: String, outPath: String,
    checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    eventsStream(spark, eventsDir)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        LwwSink.merge(batch.sparkSession, batch.toDF(), outPath,
          "user_id", "ts", "event_id", None)
      }
      .start()

  /** Composed streaming curation pipeline (VERDICT r4 item #5) — the
    * full document-intake workload as ONE streaming query, each stage
    * the streaming form of its batch twin:
    *
    *   1. language gate + quality gate: [[graft.operators.TextOps
    *      .curationStats]]/[[graft.operators.TextOps.curationGate]] —
    *      the SAME column expressions q_curate evaluates (stateless
    *      filters, identical in a stream);
    *   2. decontamination probe: stateless `arrays_overlap` against
    *      the eval-suite shingle set folded into a literal — an eval
    *      suite is KBs against a 100 TB corpus, so it rides the plan
    *      as a broadcast-sized constant and the probe is a pure
    *      map-side filter (no state, no shuffle; the audit-count
    *      variant is [[decontamHits]]);
    *   3. streaming exact dedup: groupBy(content md5) keeping the
    *      min-doc_id row (`min_by` struct) in update mode — the state
    *      store holds ONE row per DISTINCT surviving content hash, so
    *      state is bounded by corpus content, not stream length
    *      (re-delivered files re-reduce into the same key), and the
    *      final state equals the batch `min(doc_id) per hash` exactly
    *      regardless of arrival order;
    *   4. LWW sink: each update row REPLACES its hash's entry
    *      ([[graft.sinks.LwwSink]] keyed on text_hash by batch id).
    *
    * Mode-agnostic: applied to a BATCH frame this is a plain query —
    * StreamingCurateSpec runs the same function in both modes over
    * the same fixture and asserts identical survivors, with
    * StateBoundSpec-style bounded-state metrics across micro-batches.
    */
  def curateStream(docs: DataFrame, evalShingles: Seq[String]): DataFrame =
    graft.operators.TextOps.curationGate(
      graft.operators.TextOps.curationStats(docs))
      .filter(!arrays_overlap(
        graft.functions.TextFns.shingles(col("text"),
          graft.operators.TextOps.decontamNgram),
        lit(evalShingles.toArray)))
      .groupBy(md5(col("text")).as("text_hash"))
      .agg(min_by(
        struct(col("doc_id"), col("n_tok"), col("score"), col("pred_lang")),
        col("doc_id")).as("winner"))
      .select(col("text_hash"), col("winner.doc_id").as("doc_id"),
        col("winner.n_tok").as("n_tok"), col("winner.score").as("score"),
        col("winner.pred_lang").as("pred_lang"))

  /** Wire [[curateStream]] from a landing directory to the parquet
    * LWW sink: update-mode aggregation, each emitted row overwrites
    * its text_hash entry (batch id is the LWW order — a later
    * micro-batch's min supersedes an earlier one's).
    */
  def curateQuery(spark: SparkSession, docsDir: String,
    evalShingles: Seq[String], outPath: String, checkpoint: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    curateStream(docsStream(spark, docsDir), evalShingles)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        // a replayed micro-batch meets its own identical rows under the
        // same batch_id, so the key itself serves as the tie-break
        LwwSink.merge(batch.sparkSession,
          batch.toDF().withColumn("batch_id", lit(id)), outPath,
          "text_hash", "batch_id", "text_hash", None)
      }
      .start()

  /** Streaming form of the KV upsert: each micro-batch flows through
    * [[graft.sinks.KvSink.upsert]] — per-partition grouped PUT batches
    * with unprocessed-item retry. Exactly-once story: KvSink
    * LWW-reduces the batch per key and PUTs are full-item overwrites,
    * so a replayed micro-batch (foreachBatch is at-least-once) writes
    * the same items again — idempotent, no dedup ledger needed. The
    * one semantics caveat is cross-batch regression: a replay of an
    * OLD micro-batch after a newer one has written could regress a
    * key, which the ts-conditional PUT of a real store (DynamoDB
    * ConditionExpression on ts) would reject — KvSinkSpec's
    * ConditionalFakeKvClient proves that upgrade path; the plain fake
    * models the unconditional reference behavior
    * (__main__.py:8-24 PutRequest has no condition).
    */
  def kvUpsertQuery(spark: SparkSession, eventsDir: String, checkpoint: String,
    clientFor: graft.sinks.KvClientFactory):
      org.apache.spark.sql.streaming.StreamingQuery =
    eventsStream(spark, eventsDir)
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        graft.sinks.KvSink.upsert(batch.toDF(), "user_id", "ts", "event_id",
          clientFor)
      }
      .start()

  // ── declared streaming queries (driver-gated fMGWS output) ───────
  //
  // The streaming surface above is spec-pinned against its batch
  // twins, but specs run outside the driver's oracle gate. These two
  // queries put flatMapGroupsWithState OUTPUT under that gate: each
  // runs a REAL Structured Streaming query (file source over the
  // events table, Trigger.AvailableNow, memory sink), then projects
  // the final emissions to the batch twin's exact output shape — so
  // the DuckDB oracle that hash-gates q_markov / q_retention gates
  // the state machine's emissions too.

  /** File-source streams need a directory; the driver fixtures are
    * single files at small SF and part-file directories from ScaleGen
    * — symlink the single-file case into a temp landing dir. Landing
    * dirs are memoized per resolved source path: a fresh dir per
    * invocation leaked one temp dir per declared-query call across
    * repeated bench/oracle passes (the checkpoint dirs, by contrast,
    * are deleted after each drain).
    */
  private val landingDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  private def streamableDir(eventsPath: String): String = {
    val p = Paths.get(eventsPath)
    if (Files.isDirectory(p)) eventsPath
    else landingDirs.computeIfAbsent(
      p.toAbsolutePath.normalize.toString, { resolved =>
        val d = Files.createTempDirectory("graft_stream_events")
        Files.createSymbolicLink(d.resolve("events.parquet"),
          Paths.get(resolved))
        d.toString
      })
  }

  /** Drain one streaming Dataset to completion (AvailableNow) into a
    * memory sink, apply `project` to the sink's rows (a DISTRIBUTED
    * aggregation — only its bounded result is ever collected), tear
    * down the sink + checkpoint, and return the result re-hosted as a
    * local relation. The collect is safe by construction: both
    * callers reduce to frames bounded by type/week cardinality, never
    * by event volume.
    */
  /** One micro-batch's execution evidence, pulled from the query's
    * progress after a drain: input volume, state-store row counts
    * (the StateBoundSpec discipline, now observable at ANY scale) and
    * wall time. `stateRowsTotal` is summed across the query's state
    * operators.
    */
  private[graft] case class BatchEvidence(batchId: Long, numInputRows: Long,
    stateRowsTotal: Long, stateRowsUpdated: Long, batchDurationMs: Long)

  private def drainAndProject[T](spark: SparkSession, stream: Dataset[T],
    mode: OutputMode, tag: String, srcDirs: Seq[String] = Nil)
    (project: DataFrame => DataFrame)
    : DataFrame =
    drainWithEvidence(spark, stream, mode, tag, srcDirs)(project)._1

  /** Scale-adaptive shuffle-partition count for a drain: stateful
    * streaming parallelism IS the shuffle-partition count (every
    * partition is a state store with fixed per-batch commit cost, and
    * AQE cannot coalesce stateful exchanges), so it must track the
    * stream's volume, not the batch session's core count — at bench
    * scale 32 state stores over a 2 MB source measured 2.3× the
    * drain cost of 4 (q_stream_join 9.3 → 4.0 s, q_stream_markov
    * 2.1 → 1.4 s, min of 2). ~32 MB of source per partition, floor 4
    * (state-store parallelism never collapses to one), capped at the
    * session setting (cluster-sized sessions keep cluster
    * parallelism; a real deployment pins this per-job the same way —
    * the partition count is baked into the checkpoint).
    */
  private def streamShuffleParts(spark: SparkSession,
    srcDirs: Seq[String]): Option[Int] =
    if (srcDirs.isEmpty) None
    else {
      // Hadoop-FS sizing (r10 verdict item 5): the java.nio walk this
      // replaces threw on hdfs://‌/s3a:// URIs, was swallowed to 0,
      // and the scale-adaptive sizing collapsed to its floor exactly
      // where it matters
      val bytes =
        srcDirs.map(graft.sinks.Layout.sourceBytes(spark, _)).sum
      if (bytes <= 0L) None
      else {
        val sess = graft.Session.shufflePartitions(spark)
        val per = 32L << 20
        val sized = math.max(4L, (bytes + per - 1) / per)
        Some(math.min(sess.toLong, sized).toInt)
      }
    }

  /** [[drainAndProject]] plus the per-batch [[BatchEvidence]] trail —
    * the multi-batch scale-evidence path (same code path as every
    * declared streaming twin; the evidence is read from progress, it
    * never changes execution).
    */
  /** Per-drain scratch root (checkpoint + emission landing): tmpfs
    * when available, else java.io.tmpdir, overridable via
    * `SPARK_GRAFT_STREAM_SCRATCH`. Rationale (guide §6 + the repo's
    * documented host pathology): a drain writes per-partition state
    * deltas, commit logs and the landing parquet per micro-batch —
    * dozens of tiny files whose fsync latency on this VM's stalling
    * block device dwarfed the state machine's compute, exactly why
    * Bench already puts spark.local.dir on /dev/shm. These dirs are
    * per-invocation scratch, deleted after the drain — a PRODUCTION
    * streaming job instead checkpoints to reliable storage (that knob
    * is this env var; the KV/LWW sink paths take explicit checkpoint
    * locations already).
    */
  private def scratchTempDir(prefix: String): java.nio.file.Path = {
    val base = sys.env.get("SPARK_GRAFT_STREAM_SCRATCH")
      .map(Paths.get(_))
      .orElse {
        val shm = Paths.get("/dev/shm")
        if (Files.isDirectory(shm) && Files.isWritable(shm))
          Some(shm.resolve("graft-stream")) else None
      }
      .getOrElse(Paths.get(sys.props("java.io.tmpdir")))
    Files.createDirectories(base)
    Files.createTempDirectory(base, prefix)
  }

  /** NOTE (ADVICE r10, documented assumption): the partition override
    * below is scoped by [[graft.Session.withConf]] to the drain but is
    * session-global while it lasts — a query running CONCURRENTLY on
    * the same SparkSession would pick up the stream's partition count.
    * Every declared entry point (Bench, Verify, the specs) runs
    * queries sequentially on one session, which is the contract this
    * code declares; a deployment that multiplexes concurrent jobs
    * must give each drain its own `spark.newSession()` WITH the
    * streams built on that session (the override is read at query
    * start from the stream's own session, so cloning here — after the
    * caller already built the stream on the shared session — would
    * not isolate anything).
    */
  private[graft] def drainWithEvidence[T](spark: SparkSession,
    stream: Dataset[T], mode: OutputMode, tag: String,
    srcDirs: Seq[String] = Nil)
    (project: DataFrame => DataFrame): (DataFrame, Seq[BatchEvidence]) = {
    // stateful-stream parallelism (see [[streamShuffleParts]]): set
    // for the drain, restored before the batch projection below —
    // the conf is read once at query start and the fresh checkpoint
    // pins it, so this is exactly the per-job state-partition choice
    // a production deployment makes
    val partsOverride = streamShuffleParts(spark, srcDirs)
    val ck = scratchTempDir(s"ck_$tag")
    // Emissions land in a temp PARQUET dir via foreachBatch (which
    // accepts every output mode), NOT a memory sink: the memory sink
    // serializes EVERY emission to the driver, which is exactly the
    // unbounded piece — measured at sf100, the 100M-transition drain
    // died on spark.driver.maxResultSize (1 GiB) before the bounded
    // projection ever ran. With a file landing zone the emissions
    // stay on executors/disk and `project` runs as a distributed
    // aggregation; only its bounded result is collected.
    val land = scratchTempDir(s"emit_$tag")
    val emitSchema = stream.schema
    // one OVERWRITTEN subdir per batchId: foreachBatch is
    // at-least-once, so a replayed batch must land idempotently (a
    // bare append would double-count its rows), and Complete mode
    // re-emits the WHOLE aggregate each batch, so only the last
    // batch's subdir may be read — the memory sink's skip-committed
    // and truncate semantics, reproduced on files
    val q = graft.Session.withConf(spark, partsOverride.toSeq.map(n =>
      "spark.sql.shuffle.partitions" -> n.toString): _*) {
      val started = stream.toDF().writeStream
        .outputMode(mode)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.write.mode("overwrite")
            .parquet(s"$land/b${"%09d".format(id)}")
        }
        .option("checkpointLocation", ck.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      started.awaitTermination()
      started
    }
    val evidence = q.recentProgress.toSeq
      .filter(p => p.numInputRows > 0 || p.stateOperators.nonEmpty)
      .groupBy(_.batchId).map(_._2.last).toSeq.sortBy(_.batchId)
      .map { p =>
        BatchEvidence(p.batchId, p.numInputRows,
          p.stateOperators.map(_.numRowsTotal).sum,
          p.stateOperators.map(_.numRowsUpdated).sum,
          p.batchDuration)
      }
    val batchDirs = {
      val ls = Files.list(land)
      try {
        import scala.jdk.CollectionConverters._
        ls.filter(p => p.getFileName.toString.startsWith("b"))
          .sorted().iterator().asScala.map(_.toString).toList
      } finally ls.close()
    }
    val readDirs =
      if (mode == OutputMode.Complete()) batchDirs.takeRight(1)
      else batchDirs
    val emitted =
      if (readDirs.nonEmpty)
        spark.read.schema(emitSchema).parquet(readDirs: _*)
      else spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), emitSchema)
    val out = project(emitted)
    val rows = java.util.Arrays.asList(out.collect(): _*)
    val schema = out.schema
    // checkpoint + landing dirs are per-invocation scratch — drop
    // them so repeated bench passes don't accumulate state
    Seq(ck, land).foreach(graft.sinks.Layout.deleteRecursively)
    (spark.createDataFrame(rows, schema), evidence)
  }

  /** Declared query: [[markovTransitions]] drained end-to-end, its
    * emitted transitions counted into q_markov's exact output shape
    * (src_type, dst_type, cnt, p). Oracle = q_markov's DuckDB twin —
    * the batch and streaming state machines must agree bit-for-bit.
    * AvailableNow over a static landing dir is one micro-batch, where
    * the per-user in-order delivery contract holds trivially (the
    * state fn sorts each user's rows by (ts, event_id) within the
    * batch); the multi-batch / late-arrival behavior is pinned
    * separately in StreamingSpec.
    */
  def q_stream_markov(s: SparkSession, dir: String): DataFrame = {
    val evDir = streamableDir(s"$dir/events.parquet")
    val events = eventsStream(s, evDir)
    drainAndProject(s, markovTransitions(s, events),
      OutputMode.Append, "stream_markov", Seq(evDir)) { sink =>
      val tr = sink.groupBy("src_type", "dst_type")
        .agg(count(lit(1)).as("cnt"))
      // per-source total via window, not the batch twin's broadcast
      // self-join: tr is ≤ |types|² rows post-aggregate (bounded, so
      // the window costs nothing), and a self-join through the memory
      // sink's view hits Catalyst's conflicting-reference check
      val wtot = org.apache.spark.sql.expressions.Window
        .partitionBy("src_type")
      tr.select(col("src_type"), col("dst_type"), col("cnt"),
          round(col("cnt").cast("double") /
            sum(col("cnt")).over(wtot).cast("double"), 6).as("p"))
        .orderBy("src_type", "dst_type")
    }
  }

  /** Declared query: [[pathTrigrams]] drained end-to-end, its emitted
    * completed trigrams counted into q_paths' exact output shape
    * (path, n, top-20). Oracle = q_paths' DuckDB twin — the two-deep
    * state machine (last TWO events per user) must reproduce the
    * batch window's trigram extraction exactly under the in-order
    * delivery contract.
    */
  def q_stream_paths(s: SparkSession, dir: String): DataFrame = {
    val evDir = streamableDir(s"$dir/events.parquet")
    val events = eventsStream(s, evDir)
    drainAndProject(s, pathTrigrams(s, events),
      OutputMode.Append, "stream_paths", Seq(evDir)) { sink =>
      sink.groupBy("path").agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("path"))
        .limit(20)
    }
  }

  /** Declared query: [[retentionSnapshots]] drained end-to-end, the
    * max-rev snapshot per user (the LWW discipline its consumers
    * apply) exploded into q_retention's exact output shape
    * (cohort_week, week_offset, n_users). Oracle = q_retention's
    * DuckDB twin. Epoch-day cohort longs convert to DATE via
    * date_add from 1970-01-01 — timezone-free on both sides (UTC
    * sessions).
    */
  def q_stream_retention(s: SparkSession, dir: String): DataFrame = {
    val evDir = streamableDir(s"$dir/events.parquet")
    val events = eventsStream(s, evDir)
    drainAndProject(s, retentionSnapshots(s, events),
      OutputMode.Update, "stream_retention", Seq(evDir)) { sink =>
      LwwSink.reduce(sink, Seq("user_id"), col("rev"))
        .select(
          date_add(lit("1970-01-01").cast("date"),
            col("cohort_day").cast("int")).as("cohort_week"),
          explode(col("offsets")).as("week_offset"))
        .groupBy("cohort_week", "week_offset")
        .agg(count(lit(1)).as("n_users"))
        .orderBy("cohort_week", "week_offset")
    }
  }

  /** Declared query: [[sessionSnapshots]] drained end-to-end, the
    * max-rev snapshot per (user, session) reduced to the
    * session-length histogram with an integer-exact duration sum per
    * length — n_events, n_sessions, sum_duration_s. Every session the
    * state machine closes contributes its exact (start, end, size),
    * so a single mis-split session moves two histogram rows AND a
    * duration sum; the oracle is the batch gap-rule sessionization
    * (q_sessionize's CTE) aggregated to the same shape. Unlike the
    * other three twins this one's raw emission volume is
    * session-count-sized, so the drained sink reduces it with a
    * DISTRIBUTED max-rev + histogram aggregate and only the bounded
    * (≤ max session length) result is collected.
    */
  private[graft] def sessionizeDrain(s: SparkSession, eventsDir: String,
    maxFiles: Option[Int]): (DataFrame, Seq[BatchEvidence]) = {
    val events = eventsStream(s, eventsDir, maxFiles)
    drainWithEvidence(s, sessionSnapshots(s, events),
      OutputMode.Update, "stream_sessionize", Seq(eventsDir)) { sink =>
      LwwSink.reduce(sink, Seq("user_id", "session_id"), col("rev"))
        .groupBy("n_events")
        .agg(count(lit(1)).as("n_sessions"),
          sum(col("end_s") - col("start_s")).as("sum_duration_s"))
        .orderBy("n_events")
    }
  }

  def q_stream_sessionize(s: SparkSession, dir: String): DataFrame =
    sessionizeDrain(s, streamableDir(s"$dir/events.parquet"), None)._1

  /** Declared query: [[windowedCounts]] — the canonical
    * watermark + event-time tumbling-window aggregate — drained in
    * Complete mode, where each trigger's emission REPLACES the memory
    * sink, so after an AvailableNow drain the sink IS the final
    * aggregate over every window (complete mode retains all window
    * state; the watermark's state-eviction role belongs to the
    * unbounded Append deployment, pinned in StreamingSpec). Oracle =
    * batch q_time_bucket: window('1 hour').start and
    * date_trunc('hour') are the same epoch-aligned boundary. Output
    * is calendar-bounded (hours × types).
    */
  def q_stream_windowed(s: SparkSession, dir: String): DataFrame = {
    val evDir = streamableDir(s"$dir/events.parquet")
    val events = eventsStream(s, evDir)
    drainAndProject(s, windowedCounts(events),
      OutputMode.Complete, "stream_windowed", Seq(evDir)) { sink =>
      sink.orderBy("bucket", "event_type")
    }
  }

  /** Declared query: [[statefulLww]] drained end-to-end — the
    * PUT-by-ID last-write-wins state machine that mirrors the
    * reference's DynamoDB batch-put semantics — reduced to the
    * per-type winner profile (n_winners, decimal-exact sum of winning
    * values, ≤ |event types| rows). The sink's re-emissions are
    * resolved with the SAME LWW discipline downstream consumers
    * apply ((ts, event_id) max per user); any user whose final winner
    * differs from the batch window's moves counts AND value sums
    * across type rows. Oracle = batch q_window_dedup_lww's ranking
    * CTE aggregated to the same shape.
    */
  /** Streaming as-of enrichment — the streaming twin of q_join_asof
    * (and of the native AsOfJoinExec): state = ONE row per user (the
    * max-(ts, event_id) purchase seen so far); each error event
    * emits with the current match. Within a micro-batch each user's
    * rows are sorted by (ts, side, id) — purchases before errors at
    * equal ts, the batch tie rule — so the machine is order-robust
    * per batch; across batches the per-user in-order delivery
    * contract applies (the markovTransitions deployment shape). An
    * error can only ever match a purchase with ts ≤ its own, so
    * in-order batches make the streaming result ≡ the batch as-of
    * join exactly.
    */
  case class AsOfMatch(event_id: Long, prev_purchase_id: Long)

  def asofEnrich(spark: SparkSession, events: DataFrame): Dataset[AsOfMatch] = {
    import spark.implicits._
    events.select("event_id", "ts", "user_id", "event_type", "value")
      .filter(col("event_type").isin("error", "purchase"))
      .as[EventRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Long, rows: Iterator[EventRow],
         st: GroupState[(Long, Long)]) => // (ts-micros, purchase id)
          // micros: getTime carries the millis, getNanos carries the
          // FULL fraction (millis included) — combine without
          // double-counting
          def micros(t: java.sql.Timestamp): Long =
            t.getTime / 1000 * 1000000L + t.getNanos / 1000
          val ordered = rows.toSeq.sortBy(e =>
            (micros(e.ts),
              if (e.event_type == "purchase") 0 else 1, e.event_id))
          var cur = st.getOption
          val out = ordered.flatMap { e =>
            val tsMicros = micros(e.ts)
            if (e.event_type == "purchase") {
              if (cur.forall(c => tsMicros > c._1 ||
                  (tsMicros == c._1 && e.event_id > c._2)))
                cur = Some((tsMicros, e.event_id))
              None
            } else Some(AsOfMatch(e.event_id, cur.map(_._2).getOrElse(-1L)))
          }
          cur.foreach(st.update)
          out.iterator
      }
  }

  /** Declared query: [[asofEnrich]] drained end-to-end — shares
    * q_join_asof's oracle verbatim: the streaming state machine, the
    * union + running-last composition, and the native physical
    * operator must all agree bit-for-bit.
    */
  private[graft] def asofDrain(s: SparkSession, eventsDir: String,
    maxFiles: Option[Int]): (DataFrame, Seq[BatchEvidence]) = {
    val events = eventsStream(s, eventsDir, maxFiles)
    drainWithEvidence(s, asofEnrich(s, events),
      OutputMode.Append, "stream_asof", Seq(eventsDir)) { sink =>
      sink.select("event_id", "prev_purchase_id").orderBy("event_id")
    }
  }

  def q_stream_asof(s: SparkSession, dir: String): DataFrame =
    asofDrain(s, streamableDir(s"$dir/events.parquet"), None)._1

  /** Streaming per-key top-k: state = the CURRENT top-[[streamTopK]]
    * (value desc, event_id asc) list per event type plus a monotone
    * processed-count — the TopKAgg bounded-state discipline lifted
    * into mapGroupsWithState (state is k tuples per key FOREVER,
    * independent of stream length). Each micro-batch folds its rows
    * into the list and re-emits it with the count; the max-count
    * emission per key is the final answer (the frequentItems rule).
    */
  val streamTopK = 3

  def topkPerType(spark: SparkSession, events: DataFrame)
    : Dataset[(String, Long, Seq[(Double, Long)])] = {
    import spark.implicits._
    def better(a: (Double, Long), b: (Double, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    events.select("event_id", "ts", "user_id", "event_type", "value")
      .as[EventRow]
      .groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[EventRow],
         st: GroupState[(Seq[(Double, Long)], Long)]) =>
          val (top0, n0) = st.getOption.getOrElse((Seq.empty, 0L))
          var n = n0
          val merged = rows.foldLeft(top0) { (acc, e) =>
            n += 1
            ((e.value, e.event_id) +: acc)
              .sortWith(better).take(streamTopK)
          }
          st.update((merged, n))
          (key, n, merged)
      }
  }

  /** Declared query: [[topkPerType]] drained end-to-end, final
    * emission per type flattened to (event_type, rk, event_id,
    * value). Oracle = the batch ranking window with the identical
    * (value desc, event_id asc) total order — the bounded state
    * machine must reproduce the global sort's head exactly.
    */
  def q_stream_topk(s: SparkSession, dir: String): DataFrame = {
    val evDir = streamableDir(s"$dir/events.parquet")
    val events = eventsStream(s, evDir)
    drainAndProject(s, topkPerType(s, events),
      OutputMode.Update, "stream_topk", Seq(evDir)) { sink =>
      LwwSink.reduce(sink, Seq("_1"), col("_2"))
        .select(col("_1").as("event_type"), posexplode(col("_3"))
          .as(Seq("rk0", "p")))
        .select(col("event_type"),
          (col("rk0") + 1).cast("long").as("rk"),
          col("p._2").as("event_id"), col("p._1").as("value"))
        .orderBy("event_type", "rk")
    }
  }

  /** Streaming exact dedup — q_text_dedup's streaming twin (the 12th
    * oracle-gated twin): the ingest-time content-hash dedup every
    * continuous curation pipeline runs. State = (lowest doc_id seen,
    * copies) per DISTINCT md5(text) — one bounded row per distinct
    * content, the same state a production streaming
    * dropDuplicates holds, except the canonical-id-by-MIN contract
    * makes the final emission ARRIVAL-ORDER-INDEPENDENT: min and
    * count are commutative folds over the copies, so any batch
    * slicing and any within/cross-batch order reach the same final
    * state (the q_stream_psi no-delivery-contract argument;
    * StreamingSpec pins exactness under a multi-file drain of an
    * UNORDERED landing dir). Update-mode emissions re-state a hash's
    * current (min, count) whenever a batch touches it; the projection
    * keeps each hash's last emission (count is strictly monotone per
    * key) — the topkPerType drain discipline.
    */
  def dedupState(spark: SparkSession, docs: DataFrame)
    : Dataset[(String, Long, Long)] = {
    import spark.implicits._
    docs.select(md5(col("text")).as("h"), col("doc_id"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Long)],
         st: GroupState[(Long, Long)]) =>
          var (mn, n) = st.getOption.getOrElse((Long.MaxValue, 0L))
          rows.foreach { case (_, id) =>
            if (id < mn) mn = id
            n += 1
          }
          st.update((mn, n))
          (key, mn, n)
      }
  }

  private[graft] def dedupDrain(s: SparkSession, docsDir: String,
    maxFiles: Option[Int]): (DataFrame, Seq[BatchEvidence]) = {
    val r = s.readStream.schema(docsRawSchema)
    maxFiles.foreach(n => r.option("maxFilesPerTrigger", n))
    drainWithEvidence(s, dedupState(s, r.parquet(docsDir)),
      OutputMode.Update, "stream_dedup", Seq(docsDir)) { sink =>
      LwwSink.reduce(sink, Seq("_1"), col("_3"))
        .select(col("_1").as("text_hash"), col("_2").as("keep_id"),
          col("_3").as("n_copies"))
        .orderBy("text_hash")
    }
  }

  /** Declared query: [[dedupState]] drained end-to-end — shares
    * q_text_dedup's oracle verbatim.
    */
  def q_stream_dedup(s: SparkSession, dir: String): DataFrame =
    dedupDrain(s, streamableDir(s"$dir/documents.parquet"), None)._1

  private[graft] def lwwDrain(s: SparkSession, eventsDir: String,
    maxFiles: Option[Int]): (DataFrame, Seq[BatchEvidence]) = {
    val events = eventsStream(s, eventsDir, maxFiles)
    drainWithEvidence(s, statefulLww(s, events),
      OutputMode.Update, "stream_lww", Seq(eventsDir)) { sink =>
      LwwSink.reduce(sink, Seq("user_id"), col("ts"), col("event_id"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_winners"),
          round(sum(col("value").cast("decimal(18,4)")).cast("double"), 4)
            .as("sum_value"))
        .orderBy("event_type")
    }
  }

  def q_stream_lww(s: SparkSession, dir: String): DataFrame =
    lwwDrain(s, streamableDir(s"$dir/events.parquet"), None)._1

  /** Bounded projection shared by q_join_followup and its streaming
    * twin: the pair stream aggregated per hour of the TRIGGERING
    * event, with exact-µs gap mass and id-sum checksums pinning the
    * pair SET (the q_pipeline_build audit discipline) — bounded by
    * calendar hours, never by pair volume, so the drain's collect is
    * safe at any SF.
    */
  private[graft] def followupProject(pairs: DataFrame): DataFrame =
    pairs.groupBy(date_trunc("hour", col("a_ts")).as("hour"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(unix_micros(col("b_ts")) - unix_micros(col("a_ts")))
          .as("sum_gap_us"),
        sum(col("a_event")).as("a_id_sum"),
        sum(col("b_event")).as("b_id_sum"))
      .orderBy("hour")

  /** The 13th oracle-gated twin, and the one that exercises the LAST
    * untouched piece of the streaming surface: a true STREAM-STREAM
    * join ([[followupJoin]] — both sides unbounded, watermark-bounded
    * buffer state, the range condition is what lets Spark EXPIRE
    * per-key state instead of buffering both streams forever). Every
    * other twin is a stateful aggregation or map/flatMapGroups
    * machine; none holds two-sided join state. Emissions are
    * append-mode matched pairs (inner stream-stream joins emit a
    * match exactly once, when both sides have arrived — matching is
    * delivery-order-INDEPENDENT, so no delivery contract is needed
    * beyond the watermark horizon covering the slice skew);
    * [[followupProject]] reduces them to the batch twin's bounded
    * hourly shape. Shares q_join_followup's oracle verbatim.
    */
  private[graft] def followupDrain(s: SparkSession, eventsDir: String,
    maxFiles: Option[Int]): (DataFrame, Seq[BatchEvidence]) = {
    val pairs = followupJoin(
      eventsStream(s, eventsDir, maxFiles).select("event_id", "ts", "user_id"),
      eventsStream(s, eventsDir, maxFiles).select("event_id", "ts", "user_id"))
    drainWithEvidence(s, pairs, OutputMode.Append, "stream_join",
      Seq(eventsDir))(followupProject)
  }

  def q_stream_join(s: SparkSession, dir: String): DataFrame =
    followupDrain(s, streamableDir(s"$dir/events.parquet"), None)._1
}
