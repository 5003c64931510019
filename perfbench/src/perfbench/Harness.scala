package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable.ArrayBuffer

/** One facade call as the client saw it. `eager` runs from the call until
  * its DataFrame (or Unit) returns: facade prelude, memo builds and eager
  * checkpoints. `plan` is physical planning of the returned DataFrame and
  * `exec` is collecting it. `units` is queries answered, rows written or
  * docs assembled. A call that threw or failed its check has `ok = false`
  * and is never timed into a metric. */
final case class Call(op: String, kind: String, n: Int, cycle: Int,
    startNs: Long, eagerS: Double, planS: Double, execS: Double,
    units: Long, var ok: Boolean, var problem: String = "") {
  def wallS: Double = eagerS + planS + execS
}

/** The closed-loop client's stopwatch: one caller, the next call starts
  * only after the previous one (and its untimed check) is done. */
final class Harness(spark: SparkSession) {
  val calls = ArrayBuffer.empty[Call]
  var cycle = 0

  /** Times a call that returns a DataFrame, collects it, and returns the
    * call record with the rows, or throws what the call threw after
    * recording the failure. */
  def query(op: String, kind: String, units: Long)(body: => DataFrame)
      : (Call, Array[Row]) = run(op, kind, units) { () =>
    val df = body
    val t1 = System.nanoTime()
    df.queryExecution.executedPlan
    val t2 = System.nanoTime()
    val rows = df.collect()
    (t1, t2, rows)
  }

  /** Times a call whose work is all eager (a write), returning its value. */
  def write[T](op: String, kind: String, units: Long)(body: => T)
      : (Call, T) = run(op, kind, units) { () =>
    val v = body
    val t = System.nanoTime()
    (t, t, v)
  }

  private def run[T](op: String, kind: String, units: Long)(
      body: () => (Long, Long, T)): (Call, T) = {
    val seq = Harness.seq.incrementAndGet()
    val sc = spark.sparkContext
    sc.setJobGroup(Trace.group(op, seq), op, interruptOnCancel = false)
    val t0 = System.nanoTime()
    try {
      val (t1, t2, v) = body()
      val t3 = System.nanoTime()
      val c = Call(op, kind, seq, cycle, t0, (t1 - t0) / 1e9,
        (t2 - t1) / 1e9, (t3 - t2) / 1e9, units, ok = true)
      calls += c
      (c, v)
    } catch {
      case e: Throwable =>
        calls += Call(op, kind, seq, cycle, t0, 0, 0, 0, units, ok = false,
          problem = s"threw ${e.getClass.getName}: ${e.getMessage}")
        throw e
    } finally sc.clearJobGroup()
  }

  /** Records that the current cycle threw outside a call (a check or the
    * input of the next call): its last call counts as failed, since its
    * check never completed, or, when the cycle made no call yet, a failed
    * `cycle` record is added. A call that threw itself is already failed
    * and is not counted twice. */
  def fail(problem: String): Unit =
    calls.lastOption.filter(_.cycle == cycle) match {
      case Some(c) if c.ok => c.ok = false; c.problem = problem
      case Some(_) => ()
      case None =>
        calls += Call("cycle", "cycle", Harness.seq.incrementAndGet(), cycle,
          System.nanoTime(), 0, 0, 0, 0, ok = false, problem = problem)
    }

  /** Marks a call failed by its check; returns whether it passed. */
  def check(c: Call, problems: Seq[String]): Boolean = {
    if (problems.nonEmpty) {
      c.ok = false
      c.problem = problems.take(3).mkString("; ")
    }
    problems.isEmpty
  }
}

object Harness {
  /** Call numbers, unique within the process, so job groups never repeat. */
  private val seq = new java.util.concurrent.atomic.AtomicInteger()
}
