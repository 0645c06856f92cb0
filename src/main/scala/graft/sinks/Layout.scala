package graft.sinks

import java.nio.file.Files
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Output-layout management — the piece of a 100 TB pipeline that
  * lives AFTER the query: how results land on storage decides every
  * later scan's cost.
  *
  *  - [[writePartitioned]]: hive-style partition layout so downstream
  *    filters on the partition column become directory pruning
  *    (LayoutSpec asserts PartitionFilters in the scan, i.e. pruning
  *    happens at planning, before any file is opened);
  *  - [[compact]]: small-file compaction. Streaming sinks and
  *    per-task writers leave thousands of tiny files per partition;
  *    at 100 TB the resulting open/seek storm dominates scan time
  *    (the classic small-files problem). Compaction rewrites a
  *    directory into ~[[defaultTargetBytes]] files and reports what
  *    it did — observable, not silent.
  */
object Layout {

  /** Target compacted file size. 128 MB = one HDFS-ish block / one
    * comfortable parquet row-group span; also the default
    * files.maxPartitionBytes, so one compacted file ≈ one scan task.
    */
  val defaultTargetBytes: Long = 128L * 1024 * 1024

  /** Hard per-file row bound for skew: hash-partitioning by the
    * partition column puts each partition value in ONE task, so a hot
    * partition would otherwise become one giant file.
    */
  val maxRecordsPerFile: Long = 5000000L

  /** Total bytes under a source path via the Hadoop FileSystem API —
    * the object-store-safe sizing the scale-adaptive helpers
    * (GraphOps.substrateBuckets, Streams.streamShuffleParts) need.
    * Their previous java.nio walk threw on any non-local URI
    * (hdfs://, s3a://) and the swallowed exception collapsed the
    * sizing to its floor exactly at cluster scale (r10 verdict item
    * 5). `getContentSummary` resolves through the path's own
    * FileSystem: local paths behave as before, object stores size via
    * listing. 0 on a missing path or any FS error — callers treat 0
    * as "size unknown, use the floor".
    */
  def sourceBytes(spark: SparkSession, dir: String): Long =
    try {
      val p = new Path(dir)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    } catch { case _: Throwable => 0L }

  def writePartitioned(df: DataFrame, path: String, partitionCol: String): Unit =
    df.write.mode("overwrite").partitionBy(partitionCol).parquet(path)

  /** Globally-ordered layout: repartitionByRange gives file k keys
    * that all precede file k+1's, and sortWithinPartitions orders
    * rows inside each file — a TOTAL order across the directory
    * without ever sorting on one task. Parquet row-group min/max
    * stats become tight, disjoint intervals, so a range predicate
    * skips whole files/row-groups at scan time (the poor man's
    * clustered index; at 100 TB this is the difference between
    * reading one file and reading all of them for a point lookup).
    * The range boundaries come from Spark's reservoir sampling of the
    * key — no prior knowledge of the distribution needed.
    */
  def writeSorted(df: DataFrame, path: String, sortCol: String,
    nFiles: Int): Unit =
    df.repartitionByRange(nFiles, col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** Z-ordered layout: cluster files on TWO dimensions at once, so
    * range predicates on EITHER (or both) skip most files via parquet
    * min/max stats — [[writeSorted]] localizes one column perfectly
    * and leaves the other scattered across every file; Z-order trades
    * a little locality on each for locality on both (the lakehouse
    * Z-ORDER BY). Mechanics, all distributed:
    *
    *  1. per-dimension quantile boundaries from one
    *     `approx_percentile` aggregate (a 1-row frame — rank-based
    *     bucketing, so skew cannot collapse buckets the way
    *     equi-width `width_bucket` would);
    *  2. broadcast the boundary row; bucket id = count of boundaries
    *     ≤ value (a `filter` HOF over ≤ [[zBuckets]] elements — at a
    *     larger bucket count this becomes a binary-search expression,
    *     same shape as [[graft.functions.DeflateSize]]);
    *  3. interleave the two bucket ids with the codegen'd
    *     [[graft.functions.MortonCode]];
    *  4. `repartitionByRange` + `sortWithinPartitions` on the
    *     z-value — the [[writeSorted]] total-order machinery, keyed
    *     by z instead of a single column.
    */
  def writeZOrdered(df: DataFrame, path: String, colA: String,
    colB: String, nFiles: Int): Unit = {
    import org.apache.spark.sql.functions._
    val ps = (1 until zBuckets).map(_.toDouble / zBuckets).toArray
    val bounds = df.agg(
      approx_percentile(col(colA).cast("double"), lit(ps), lit(10000))
        .as("ba"),
      approx_percentile(col(colB).cast("double"), lit(ps), lit(10000))
        .as("bb"))
    def bucket(bnd: org.apache.spark.sql.Column, v: org.apache.spark.sql.Column) =
      size(filter(bnd, b => b <= v.cast("double"))).cast("int")
    df.join(broadcast(bounds))
      .withColumn("__z", graft.functions.MortonCode(
        bucket(col("ba"), col(colA)), bucket(col("bb"), col(colB))))
      .drop("ba", "bb")
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }

  /** Buckets per dimension for [[writeZOrdered]] — 256 gives 8 bits
    * of resolution per dim (65,536 z-cells), far more cells than any
    * sane file count, so file boundaries land inside uniform cell
    * runs.
    */
  val zBuckets = 256

  /** What a compaction did. bytesTotal is the input payload size —
    * the caller can alert on filesBefore/filesAfter ratios.
    */
  final case class CompactionStats(filesBefore: Int, filesAfter: Int,
    bytesTotal: Long)

  /** Rewrite the parquet directory at `path` into ~targetBytes files,
    * preserving a hive partition layout when `partitionCol` is given
    * (each partition value collapses to one file, bounded by
    * [[maxRecordsPerFile]]). The rewrite stages to a sibling
    * directory and goes live through [[swap]]: readers never see MIXED
    * old/new data, but one racing the swap may find no `path` and must
    * retry. True atomicity needs a metastore location flip or a
    * table-format rewrite-files commit — there, compaction also runs
    * per-partition so one job never rewrites the whole table.
    */
  def compact(spark: SparkSession, path: String,
    partitionCol: Option[String] = None,
    targetBytes: Long = defaultTargetBytes): CompactionStats = {
    val target = new Path(path)
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    openState(fs, target)
    val (before, bytes) = stats(fs, target)
    val df = spark.read.parquet(path)
    val reshaped = partitionCol match {
      // one task per partition value ⇒ one file per leaf dir
      case Some(p) => df.repartition(col(p))
      case None =>
        val n = math.max(1, math.ceil(bytes.toDouble / targetBytes).toInt)
        df.repartition(n)
    }
    val staging = target.suffix(".compacting")
    val w = reshaped.write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
    partitionCol.fold(w)(w.partitionBy(_)).parquet(staging.toString)
    swap(fs, staging, target, live = true)
    CompactionStats(before, stats(fs, target)._1, bytes)
  }

  /** (data file count, total data bytes) under `dir`. */
  private def stats(fs: FileSystem, dir: Path): (Int, Long) = {
    val it = fs.listFiles(dir, true)
    val sizes = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(_.getPath.getName.startsWith("part-")).map(_.getLen).toSeq
    (sizes.size, sizes.sum)
  }

  /** Whether state exists at `target`, after a crashed swap's repair:
    * `<target>.old` is renamed back when a [[swap]] died between its
    * renames, and a [[swapPartitions]] backup goes back wherever its
    * live partition is missing. Opening existing state makes two
    * metadata calls when no swap crashed.
    */
  private[sinks] def openState(fs: FileSystem, target: Path): Boolean = {
    val exists = fs.exists(target) || {
      val old = target.suffix(".old")
      fs.exists(old) && { rename(fs, old, target); true }
    }
    val bak = backups(target)
    if (exists && fs.exists(bak)) {
      fs.listStatus(bak).foreach { s =>
        val live = new Path(target, s.getPath.getName)
        if (!fs.exists(live)) rename(fs, s.getPath, live)
      }
      fs.delete(bak, true)
    }
    exists
  }

  /** Put `staging` live at `target`: drop a leftover `.old`, move the
    * `live` state to `.old`, `staging` to `target`, then drop `.old`.
    * A crash leaves the whole prior state at `target` or at `.old`,
    * where [[openState]] finds it. Each rename's destination is absent
    * first: Hadoop's `rename` onto a directory moves the source INTO it.
    */
  private[sinks] def swap(fs: FileSystem, staging: Path, target: Path,
    live: Boolean): Unit = {
    val old = target.suffix(".old")
    fs.delete(old, true)
    if (live) rename(fs, target, old)
    rename(fs, staging, target)
    fs.delete(old, true)
  }

  /** Put each partition directory of `staging` live under `target`,
    * leaving every other partition as it is: move the live partition
    * to [[backups]], the staged one in, and after the last partition
    * drop the backups and `staging`. A crash leaves each partition
    * whole at `target` or in the backups, where [[openState]] finds
    * it; the partitions already swapped hold the new rows, which a
    * re-run of the same merge writes again unchanged.
    */
  private[sinks] def swapPartitions(fs: FileSystem, staging: Path,
    target: Path): Unit = {
    val bak = backups(target)
    fs.mkdirs(bak) // and `target`, on a first merge
    val live = fs.listStatus(target).map(_.getPath.getName).toSet
    for (s <- fs.listStatus(staging) if s.isDirectory && !hidden(s.getPath)) {
      val name = s.getPath.getName
      val dst = new Path(target, name)
      if (live(name)) rename(fs, dst, new Path(bak, name))
      rename(fs, s.getPath, dst)
    }
    fs.delete(bak, true)
    fs.delete(staging, true)
  }

  /** Backup directory of [[swapPartitions]]: a dot name, which Spark's
    * file listing skips. A `<part>.old` sibling would not do: inside
    * the table, `Region=R0.old` reads back as a partition.
    */
  private def backups(target: Path): Path = new Path(target, ".backup")

  /** A name Spark's file listing skips (`_SUCCESS`, `_temporary`,
    * `.crc` files, [[backups]]); `_k=v` is a partition, not hidden.
    */
  private[sinks] def hidden(p: Path): Boolean = {
    val n = p.getName
    n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
  }

  private def rename(fs: FileSystem, from: Path, to: Path): Unit =
    if (!fs.rename(from, to)) sys.error(s"rename failed: $from -> $to")

  /** Deletes a LOCAL directory tree: the streaming drains' checkpoint
    * and landing dirs and the stream fixture slices, all under local
    * scratch. A path that may be a URI (`hdfs://`, `s3a://`) goes
    * through its Hadoop `FileSystem` instead, as the graph substrate
    * and the sinks do. One definition, so a future hardening
    * (symlinks, delete races) lands everywhere.
    */
  private[graft] def deleteRecursively(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
      finally walk.close()
    }
}
