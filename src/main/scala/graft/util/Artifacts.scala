package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Build-once memo for everything the query harness derives from a
  * fixture data dir: loaded tables, fixture counts and dispatch stats,
  * persisted build artifacts, facade stores, catalog names, checkpointed
  * audit towers and graph snapshots.
  *
  * Contract:
  *  - Key: (session, data dir, name). One entry per key; a name is unique
  *    within its dir, so callers namespace their names. Session-bound
  *    values (DataFrames, checkpoints, stores, broadcasts, catalog names)
  *    are therefore never served to another session.
  *  - Session eviction: every access first drops the entries of sessions
  *    whose SparkContext is stopped, so a long-lived multi-session host
  *    does not pin dead sessions' plans and blocks.
  *  - Fixture stamp: an entry records the (name, size, mtime) of the dir's
  *    top-level `*.parquet` entries when it is built. A hit under a
  *    different stamp throws, naming the dir and the artifact: fixture
  *    dirs are assumed immutable for the process lifetime, and a stale
  *    entry is never served.
  *  - Scratch space: [[parquet]] writes under [[Fs.tempDirDeletedOnExit]],
  *    so persisted artifacts are deleted when the JVM exits.
  *
  * Builds may nest (an artifact built from another artifact); each key
  * is built once per session. Two threads missing the same key at once
  * may both build it, and the first stored value wins. */
object Artifacts {

  private final case class Entry(stamp: Seq[(String, Long, Long)], value: Any)

  private val memo = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String, String), Entry]

  /** The value `build` returns, built once per (session, dir, name). */
  def apply[T](s: SparkSession, dir: String, name: String)(build: => T): T = {
    memo.keys.foreach { k =>
      if (k._1.sparkContext.isStopped) memo.remove(k)
    }
    val stamp = stampOf(s, dir)
    val e = memo.getOrElseUpdate((s, dir, name), Entry(stamp, build))
    if (e.stamp != stamp)
      throw new IllegalStateException(
        s"fixture dir $dir changed after artifact '$name' was built from " +
          s"it (built from ${e.stamp.mkString(", ")}; now ${stamp.mkString(", ")})")
    e.value.asInstanceOf[T]
  }

  /** `build` written once to a scratch parquet dir; every call returns a
    * fresh `read.parquet` of it. */
  def parquet(s: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame =
    s.read.parquet(apply(s, dir, name) {
      val p = Fs.tempDirDeletedOnExit(s"graft-art-${name.replace('/', '-')}")
      build.write.mode("overwrite").parquet(p)
      p
    })

  /** `build`, local-checkpointed once. */
  def checkpoint(s: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame =
    apply(s, dir, name)(build.localCheckpoint())

  private def stampOf(s: SparkSession, dir: String): Seq[(String, Long, Long)] =
    Fs.listStatus(s, dir).filter(_.getPath.getName.endsWith(".parquet"))
      .map(f => (f.getPath.getName, f.getLen, f.getModificationTime))
      .sortBy(_._1)
}
