package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.ExclusionPipeline

/** Batch last-write-wins upsert sink over a partitioned parquet
  * layout — the batch form of the reference's DynamoDB
  * batch_write_item PUT loop (/root/reference/__main__.py:8-24,
  * 61-66): re-running a load with overlapping keys leaves exactly the
  * newest version of each key, and re-runs are idempotent.
  *
  * Scale posture: state is stored partitioned by a caller-chosen
  * column (date/tenant at 100 TB), and a merge only rewrites the
  * partitions the incoming batch touches — the object-store pattern
  * that replaces per-item KV PUTs. (A table format with row-level
  * merge is the production upgrade; the semantics here are the
  * contract it must keep.)
  */
object LwwSink {

  /** Merge `batch` into the keyed parquet state at `path`.
    *
    * @param key       upsert key column
    * @param ts        version column — larger wins
    * @param tieBreak  deterministic tie-break for equal ts
    * @param partition optional partition column for the layout
    */
  def merge(spark: SparkSession, batch: DataFrame, path: String, key: String,
    ts: String, tieBreak: String, partition: Option[String] = None): Unit = {
    // Hadoop FileSystem, not java.io.File: a `file:`, `hdfs://` or
    // `s3a://` path must see its state (java.io.File reads a URI as a
    // relative file name that never exists, and a merge then replaced
    // the touched partitions with the batch alone). One metadata call
    // per merge: this check is on every load's write path.
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = fs.exists(target)
    val unioned =
      if (!exists) batch
      else {
        val cur = spark.read.parquet(path)
        partition match {
          case Some(p) =>
            // only touched partitions participate in the merge;
            // untouched ones are left as-is on disk
            val touched = batch.select(p).distinct()
            cur.join(broadcast(touched), Seq(p), "left_semi").unionByName(batch)
          case None => cur.unionByName(batch)
        }
      }
    val merged = ExclusionPipeline.lwwByKey(unioned, key, col(ts), col(tieBreak))
    val writer = merged.write.mode(SaveMode.Overwrite)
    partition match {
      case Some(p) =>
        // dynamic overwrite: replace only partitions present in merged
        writer
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(p)
          .parquet(path)
      case None =>
        // full-state swap via staging dir (small keyed states)
        val tmp = new Path(path + ".staging")
        merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
        if (exists) fs.delete(target, true)
        if (!fs.rename(tmp, target))
          sys.error(s"atomic swap failed: $tmp -> $path")
    }
  }
}
