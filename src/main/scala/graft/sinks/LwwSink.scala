package graft.sinks

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch last-write-wins upsert sink over a partitioned parquet
  * layout — the batch form of the reference's DynamoDB
  * batch_write_item PUT loop (/root/reference/__main__.py:8-24,
  * 61-66): re-running a load with overlapping keys leaves exactly the
  * newest version of each key, and re-runs are idempotent. [[reduce]]
  * is the engine's one LWW policy: KvSink, the batch pipeline and the
  * streaming sinks apply it too.
  *
  * Scale posture: state is stored partitioned by a caller-chosen
  * column (date/tenant at 100 TB), and a merge only rewrites the
  * partitions the incoming batch touches — the object-store pattern
  * that replaces per-item KV PUTs. (A table format with row-level
  * merge is the production upgrade; the semantics here are the
  * contract it must keep.)
  *
  * Crash limits:
  *  - unpartitioned state goes live through [[Layout.swap]], which
  *    keeps the prior state recoverable. On `s3a://` a rename is a
  *    file-by-file copy plus delete, not atomic: a crash inside one
  *    can leave a partial directory no recovery repairs;
  *  - the partitioned path commits through Spark's dynamic overwrite,
  *    whose `HadoopMapReduceCommitProtocol.commitJob` deletes each
  *    touched partition before renaming its staged copy in, so a
  *    crash between the two loses that partition (the merged rows
  *    stay in `.spark-staging-<job>`, which no merge reads). Closing
  *    that needs a table format's commit.
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
    // per merge over existing state: this is every load's write path.
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = Layout.openState(fs, target)
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
    val merged = reduce(unioned, key, col(ts), col(tieBreak))
    partition match {
      case Some(p) =>
        // dynamic overwrite: replace only partitions present in merged
        merged.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(p)
          .parquet(path)
      case None =>
        // full-state swap via staging dir (small keyed states)
        val staging = target.suffix(".staging")
        merged.write.mode(SaveMode.Overwrite).parquet(staging.toString)
        Layout.swap(fs, staging, target, live = exists)
    }
  }

  /** Newest row per `key`: the one that sorts first on `order`, each
    * column descending. A null in an order column ranks LOWEST (a
    * null-ts row loses to any dated one), and the `order` tuple, e.g.
    * (ts, tieBreak), must be unique per key: on an exact tie the
    * survivor is whichever row the sort meets first. A window, not
    * `max_by(struct(row), struct(order))`: with mostly-unique keys the
    * partial combine saves nothing, and the immutable struct buffer
    * plans a SortAggregate that sorts on both sides of the exchange.
    */
  def reduce(df: DataFrame, key: String, order: Column*): DataFrame = {
    val w = Window.partitionBy(key).orderBy(order.map(_.desc_nulls_last): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
