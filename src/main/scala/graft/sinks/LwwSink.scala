package graft.sinks

import java.util.Locale
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
  * A key's partition value must never change: a merge reads only the
  * partitions its batch touches, so a key that moves out of an
  * untouched partition keeps its old row there as well.
  *
  * Crash safety: the merged state is written to `<path>.staging` and
  * goes live through [[Layout]], which keeps the prior state
  * recoverable by the next merge's [[Layout.openState]]:
  *  - unpartitioned state swaps whole ([[Layout.swap]]);
  *  - partitioned state swaps each touched partition
  *    ([[Layout.swapPartitions]]), so a crash mid-swap leaves some
  *    partitions merged and the rest as they were, and a re-run of the
  *    batch completes it.
  * On `s3a://` a rename is a file-by-file copy plus delete, not
  * atomic: a crash inside one can leave a partial directory no
  * recovery repairs.
  */
object LwwSink {

  /** Merge `batch` into the keyed parquet state at `path`. Three jobs
    * when partitioned: one collects the touched partition values, and
    * the reduce's shuffle and its write are the other two.
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
    // the touched partitions with the batch alone).
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val exists = Layout.openState(fs, target)
    val staging = target.suffix(".staging")
    def state = readState(spark, fs, target, batch.schema, partition)
    def merged(cur: Option[DataFrame]) =
      reduce(cur.fold(batch)(_.unionByName(batch)), Seq(key), col(ts), col(tieBreak))
    partition match {
      case Some(p) =>
        // only touched partitions participate in the merge; untouched
        // ones stay as they are on disk
        merged(Option.when(exists)(state.filter(touched(batch, p))))
          .write.mode(SaveMode.Overwrite).partitionBy(p).parquet(staging.toString)
        Layout.swapPartitions(fs, staging, target)
      case None =>
        merged(Option.when(exists)(state))
          .write.mode(SaveMode.Overwrite).parquet(staging.toString)
        Layout.swap(fs, staging, target, live = exists)
    }
  }

  /** `p` is one of the values `batch` holds: a partition filter, so the
    * state scan prunes at planning, with no join. The values come from
    * one job with no shuffle, deduplicated per task.
    */
  private def touched(batch: DataFrame, p: String): Column = {
    val (nulls, values) = batch.select(p).rdd.mapPartitions(_.toSet.iterator)
      .collect().map(_.get(0)).distinct.partition(_ == null)
    val in = col(p).isin(values.toIndexedSeq: _*)
    if (nulls.isEmpty) in else in || col(p).isNull
  }

  /** The state at `target`, read with the batch's `schema`: no schema
    * inference job, and a partition column keeps the batch's type (an
    * inferred "007" reads back as the int 7, and the merge then writes
    * the key again under `part=7`). A column mismatch stays loud: the
    * column names of one data file's footer, read on the driver, must
    * be the batch's, less the partition column.
    */
  private def readState(spark: SparkSession, fs: FileSystem, target: Path,
    schema: StructType, partition: Option[String]): DataFrame = {
    val caseSensitive = spark.conf.get("spark.sql.caseSensitive").toBoolean
    def norm(names: Seq[String]) =
      names.map(n => if (caseSensitive) n else n.toLowerCase(Locale.ROOT)).sorted
    dataFile(fs, target).foreach { f =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, fs.getConf))
      val stored =
        try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.map(_.getName).toSeq
        finally reader.close()
      val expected = schema.fieldNames.toSeq.filterNot(n => partition.contains(n))
      if (norm(stored) != norm(expected))
        throw new IllegalArgumentException(s"batch columns ${expected.mkString(", ")} " +
          s"do not match the state's ${stored.mkString(", ")} (in $f)")
    }
    spark.read.schema(schema).parquet(target.toString)
  }

  /** Some file under `dir` that Spark's listing reads, if any. */
  private def dataFile(fs: FileSystem, dir: Path): Option[Path] =
    fs.listStatus(dir).iterator.filterNot(s => Layout.hidden(s.getPath))
      .flatMap(s => if (s.isDirectory) dataFile(fs, s.getPath) else Some(s.getPath))
      .nextOption()

  /** Newest row per `key` (one or more columns): the one that sorts
    * first on `order`, each column descending. A null in an order
    * column ranks LOWEST (a null-ts row loses to any dated one), and
    * the `order` tuple, e.g. (ts, tieBreak), must be unique per key: on
    * an exact tie the survivor is whichever row the sort meets first.
    * A window, not `max_by(struct(row), struct(order))`: with
    * mostly-unique keys the partial combine saves nothing, and the
    * immutable struct buffer plans a SortAggregate that sorts on both
    * sides of the exchange.
    */
  def reduce(df: DataFrame, key: Seq[String], order: Column*): DataFrame = {
    require(key.nonEmpty, "reduce needs a key column")
    val w = Window.partitionBy(key.map(col): _*).orderBy(order.map(_.desc_nulls_last): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }
}
