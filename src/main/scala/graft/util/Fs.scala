package graft.util

import java.nio.charset.StandardCharsets
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Small-file I/O through the Hadoop FileSystem API so metadata sidecars and
  * snapshot pointers live on the SAME filesystem as the parquet data
  * (local, HDFS, s3a, …) — java.nio would silently target the driver's
  * local disk for any non-local deployment.
  *
  * Pointer updates go through write-temp + rename; rename is atomic on
  * HDFS/local. On object stores without atomic rename, pair this with a
  * store that offers it (or accept last-writer-wins on the tiny pointer).
  */
object Fs {
  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  def exists(spark: SparkSession, path: String): Boolean =
    fs(spark, path).exists(new Path(path))

  def readString(spark: SparkSession, path: String): String = {
    val in = fs(spark, path).open(new Path(path))
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Write `content` to a temp sibling then atomically rename over `path`
    * (FileContext rename with OVERWRITE — no delete-then-rename window in
    * which the pointer doesn't exist). */
  def writeStringAtomic(spark: SparkSession, path: String, content: String): Unit = {
    val f = fs(spark, path)
    val tmp = new Path(path + ".tmp")
    val dst = new Path(path)
    val out = f.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dst.toUri, spark.sparkContext.hadoopConfiguration)
    fc.rename(tmp, dst, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  def mkdirs(spark: SparkSession, path: String): Unit = {
    fs(spark, path).mkdirs(new Path(path)); ()
  }

  def deleteRecursive(spark: SparkSession, path: String): Unit = {
    fs(spark, path).delete(new Path(path), true); ()
  }

  /** Child entry NAMES of `path` (empty when the dir is missing) — one
    * listStatus round-trip, used by retention pruning / as-of version
    * discovery over the snapshot-chain layout. */
  def list(spark: SparkSession, path: String): Seq[String] =
    listStatus(spark, path).map(_.getPath.getName)

  /** Child entries of `path` with their size and mtime (empty when the
    * dir is missing). */
  def listStatus(spark: SparkSession, path: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val f = fs(spark, path)
    val p = new Path(path)
    if (!f.exists(p)) Seq.empty else f.listStatus(p).toSeq
  }

  /** Directory rename (atomic on HDFS/local). Hadoop signals failure by
    * RETURNING false (dest exists, permissions, missing src) rather than
    * throwing — swallowing it would let a caller's swap silently no-op. */
  def rename(spark: SparkSession, src: String, dst: String): Unit = {
    if (!fs(spark, src).rename(new Path(src), new Path(dst)))
      throw new java.io.IOException(s"rename failed: $src -> $dst")
  }

  /** Create a local temp directory that is recursively deleted on JVM
    * exit — for process-lifetime memo artifacts (derived-pair parquet,
    * per-process index builds) that would otherwise accumulate across
    * runs. Driver-local java.nio on purpose: these memos are per-process
    * scratch, not cluster state. */
  def tempDirDeletedOnExit(prefix: String): String = {
    val p = java.nio.file.Files.createTempDirectory(prefix)
    sys.addShutdownHook {
      import java.nio.file.Files
      import scala.jdk.CollectionConverters._
      if (Files.exists(p)) {
        Files.walk(p).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(q => { Files.deleteIfExists(q); () })
      }
    }
    p.toString
  }
}
