package graft.tools

import org.apache.spark.sql.functions._
import graft.streaming.Streams

/** Multi-batch streaming scale evidence (r9): stage the events table
  * into K time-sliced landing files ([[Streams.sliceEventsByTime]] —
  * the log-rotation layout a real landing zone has), drain the
  * heaviest stream twins TWICE over the same landing dir — once with
  * maxFilesPerTrigger forcing one micro-batch per slice, once as the
  * single-batch drain the r8 spots measured — and print per-batch
  * state-store evidence plus an exact checksum equivalence of the two
  * final projections. Proves the cross-batch state path (the property
  * that makes these twins "streaming") at the measured scale, not
  * just at spec scale, with the state bound observable per batch.
  *
  * Args: sfDir slices filesPerSlice query...
  * Engine settings and their overrides as for SpotBench
  * ([[graft.Session]]).
  */
object StreamBatchSpot {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val slices = args(1).toInt
    val filesPerSlice = args(2).toInt
    val queries = args.drop(3).toSeq
    val spark = graft.Session.getOrCreate(
      "spark.driver.maxResultSize" -> "4g")
    val landing = java.nio.file.Files
      .createTempDirectory("graft_slices").toString
    val staged = Streams.sliceEventsByTime(
      spark, s"$sfDir/events.parquet", landing, slices, filesPerSlice)
    System.err.println(s"[sbs] staged $staged files into $landing")

    def drain(q: String, maxFiles: Option[Int]) = q match {
      case "q_stream_asof" => Streams.asofDrain(spark, landing, maxFiles)
      case "q_stream_lww" => Streams.lwwDrain(spark, landing, maxFiles)
      case "q_stream_sessionize" =>
        Streams.sessionizeDrain(spark, landing, maxFiles)
      case "q_stream_join" => Streams.followupDrain(spark, landing, maxFiles)
      case other => sys.error(s"no evidence drain wired for $other")
    }
    // exact whole-result checksum: row count + sum of xxhash64 over
    // every column — same JVM, same engine, so equal checksums on
    // equal relations and a single moved row flips the sum
    def checksum(df: org.apache.spark.sql.DataFrame): (Long, String) = {
      // hash values span the full long range — sum in DECIMAL(38,0)
      // or the fold overflows under ANSI arithmetic
      val r = df.agg(count(lit(1)),
        sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)")))
        .collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
    }
    def fmt(v: Double) =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    queries.foreach { q =>
      val t0 = System.nanoTime()
      val (outM, evM) = drain(q, Some(filesPerSlice))
      val tMulti = (System.nanoTime() - t0) / 1e9
      val csM = checksum(outM)
      val t1 = System.nanoTime()
      val (outS, evS) = drain(q, None)
      val tSingle = (System.nanoTime() - t1) / 1e9
      val csS = checksum(outS)
      val drops = Streams.sessionizeDrops(spark).value
      val batches = evM.map(e =>
        s"""{"batch":${e.batchId},"rows_in":${e.numInputRows},""" +
          s""""state_rows":${e.stateRowsTotal},""" +
          s""""state_updated":${e.stateRowsUpdated},""" +
          s""""ms":${e.batchDurationMs}}""").mkString("[", ",", "]")
      println(
        s"""{"metric":"stream_multibatch","query":"$q","sf":"$sfDir",""" +
          s""""slices":$slices,"batches_multi":${evM.size},""" +
          s""""batches_single":${evS.size},""" +
          s""""multi_sec":${fmt(tMulti)},"single_sec":${fmt(tSingle)},""" +
          s""""rows":${csM._1},"match":${csM == csS},""" +
          s""""sessionize_drops":$drops,"evidence":$batches}""")
    }
    spark.stop()
  }
}
