package graft

import java.net.URI
import java.util.concurrent.atomic.AtomicBoolean
import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession

/** The local file system under its own `crashfs` scheme, whose
  * `rename` throws once, inside [[CrashingFs.crashingOnce]], when the
  * source is a staging directory (name ending `.staging` or
  * `.compacting`) or lies directly under one (as does a staged
  * partition, also in Spark's own `.spark-staging-<job>`): a process
  * dying between a state swap's renames.
  * The FileSystem cache is off for the scheme, so every lookup builds
  * a fresh instance and the armed flag lives here in the companion.
  */
class CrashingFs extends RawLocalFileSystem {
  override def getUri: URI = CrashingFs.uri
  override def getScheme: String = CrashingFs.scheme

  override def rename(src: Path, dst: Path): Boolean = {
    if ((CrashingFs.staging(src) || Option(src.getParent).exists(CrashingFs.staging)) &&
      CrashingFs.armed.getAndSet(false))
      throw new java.io.IOException(s"injected crash renaming $src -> $dst")
    super.rename(src, dst)
  }

  // RawLocalFileSystem's statuses load their permissions lazily
  // through java.io.File(uri), which rejects any scheme but `file`;
  // hand out plain statuses with the default permissions instead
  override def getFileStatus(f: Path): FileStatus = plain(super.getFileStatus(f))
  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(plain)

  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication, s.getBlockSize,
      s.getModificationTime, s.getPath)
}

object CrashingFs {
  val scheme = "crashfs"
  val uri: URI = URI.create(s"$scheme:///")
  private val armed = new AtomicBoolean(false)

  private def staging(p: Path): Boolean = {
    val n = p.getName
    n.endsWith(".staging") || n.endsWith(".compacting") || n.startsWith(".spark-staging")
  }

  /** `crashfs:` URI of local `dir`, with the scheme registered on the
    * session's Hadoop configuration.
    */
  def path(spark: SparkSession, dir: java.nio.file.Path): String = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set(s"fs.$scheme.impl", classOf[CrashingFs].getName)
    conf.setBoolean(s"fs.$scheme.impl.disable.cache", true)
    s"$scheme://${dir.toAbsolutePath}"
  }

  /** Run `body` with the next staging rename armed to throw. */
  def crashingOnce[T](body: => T): T = {
    armed.set(true)
    try body finally armed.set(false)
  }
}
