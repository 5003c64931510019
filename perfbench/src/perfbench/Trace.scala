package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark-side profile of a traced run.
  *
  * Work is attributed by job group, never by wall-clock window: the
  * listener bus is asynchronous, so an event may arrive after the call
  * that caused it has returned. The benchmark gives every facade call its
  * own group (`Trace.group`), and each job is further attributed to a
  * program module: the first `graft` source file in the call site Spark
  * recorded for the job. A job whose call site holds no `graft` frame
  * (a lazy result the benchmark itself collects) is "unattributed".
  *
  * Everything stays in memory; `Main` writes one JSON file at exit. */
final class Trace extends SparkListener {
  import Trace._

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageDone = new ConcurrentHashMap[Int, Stage]()
  private val ended = ConcurrentHashMap.newKeySet[String]()
  private val execModule = new ConcurrentHashMap[Long, String]()

  /** AQE runs query stages on pool threads whose stacks hold no program
    * frame; their jobs take the module of the SQL execution they belong
    * to, whose call site is the action's. */
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execModule.put(s.executionId, moduleOf(s.details))
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val site = if (e.stageInfos.isEmpty) ""
      else e.stageInfos.maxBy(_.stageId).details
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(x => Option(execModule.get(x.toLong)))
    val module = moduleOf(site) match {
      case Unattributed => exec.getOrElse(Unattributed)
      case m => m
    }
    jobs.put(e.jobId, Job(e.jobId, group, module,
      site.split('\n').take(4).mkString(" <- "), e.time, -1L))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = jobs.get(e.jobId)
    if (j != null) {
      jobs.put(e.jobId, j.copy(end = e.time))
      ended.add(j.group)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id")))
      .foreach(g => stageGroup.put(e.stageInfo.stageId, g))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val s = e.stageInfo
    val m = s.taskMetrics
    stageDone.put(s.stageId, Stage(
      s.numTasks,
      if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
      if (m == null) 0L else m.diskBytesSpilled + m.memoryBytesSpilled,
      if (m == null) 0.0 else m.executorRunTime / 1000.0))
  }

  /** Waits until the bus has delivered every event posted so far: a
    * sentinel job runs under its own group, and events are delivered in
    * order, so once its end arrives all earlier events have too. */
  def drain(sc: SparkContext): Unit = {
    val g = s"perfbench-drain-${System.nanoTime()}"
    sc.setJobGroup(g, "listener drain", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (!ended.contains(g)) {
      if (System.nanoTime() > deadline)
        throw new IllegalStateException("listener bus did not drain")
      Thread.sleep(5)
    }
  }

  /** Every job seen, in job order. */
  def allJobs: Seq[Job] = jobs.asScala.values.toSeq.sortBy(_.id)

  /** Totals per benchmark group (one facade call each). */
  def byGroup: Map[String, GroupTotals] = {
    val st = stageDone.asScala
    val stagesOf = stageGroup.asScala.toSeq.groupBy(_._2)
      .map { case (g, ss) => g -> ss.flatMap(x => st.get(x._1)) }
    jobs.asScala.values.groupBy(_.group).map { case (g, js) =>
      val ss = stagesOf.getOrElse(g, Nil)
      g -> GroupTotals(js.size,
        if (ss.isEmpty) 0 else ss.map(_.tasks).max,
        ss.map(_.shuffleBytes).sum, ss.map(_.spillBytes).sum,
        ss.map(_.taskS).sum)
    }
  }

  /** Jobs of the calls to `ops` per module, as (job count, summed job
    * wall seconds). */
  def byModule(ops: Set[String]): Map[String, (Int, Double)] =
    jobs.asScala.values.filter(j => opOf(j.group).exists(ops)).groupBy(_.module)
      .map { case (m, js) =>
        m -> (js.size, js.map(j => math.max(0L, j.end - j.start)).sum / 1000.0)
      }
}

object Trace {
  val Prefix = "perfbench|"
  val Unattributed = "unattributed"

  /** Job group of call `n` of facade operation `op`. */
  def group(op: String, n: Int): String = s"$Prefix$op|$n"
  def opOf(group: String): Option[String] =
    if (group.startsWith(Prefix)) Some(group.split('|')(1)) else None

  final case class Job(id: Int, group: String, module: String, site: String,
      start: Long, end: Long)
  final case class Stage(tasks: Int, shuffleBytes: Long, spillBytes: Long,
      taskS: Double)
  final case class GroupTotals(jobs: Int, maxStageTasks: Int,
      shuffleBytes: Long, spillBytes: Long, taskS: Double)

  private val GraftFrame = """(?:^|[\s/])graft\.[\w.$]+\((\w+)\.scala:\d+\)""".r

  /** The module of a call site: the file of its first `graft` frame. */
  def moduleOf(callSite: String): String =
    callSite.split('\n').iterator
      .flatMap(l => GraftFrame.findFirstMatchIn(l).map(_.group(1)))
      .nextOption().getOrElse(Unattributed)
}
