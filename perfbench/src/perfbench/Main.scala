package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Runs one workload against the `VectorStore`/`CorpusStore` facades and
  * prints the result line.
  *
  * Usage: Main --workload serve|churn|corpus --seed N --seconds S
  *   --trace 0|1 --work DIR [--trace-out FILE]
  *
  * A run sets the store up `Setups` times (each from scratch, into its own
  * directory; the last one is measured), runs the workload's unmeasured
  * warm-up cycles on it, then drives one closed-loop client until
  * `--seconds` of facade-call time are spent and the workload's
  * `minCycles` are done. With `--trace 1`, after the same warm-up, traced
  * cycles (the profiling listener registered) and untraced ones alternate
  * until each side is as full; the per-layer metrics come from the traced
  * cycles and the ratio of the two sides' throughputs is the tracing
  * overhead. */
object Main {
  val Ops = Seq("search_auto", "search_pq", "append_pq", "append_docs",
    "refresh_chunks", "assemble", "search_chunks")
  val Modules = Seq("AnnSearch", "AdaptiveSearch", "IndexBuild", "IvfIndex",
    "PqIndex", "ChunkedServe", "KnnSearch", "Mutations", "Snapshots",
    "VectorStore", "CorpusStore", "TextDedup", "CorpusOps", "TextFeaturizer")
  val SetupPhases = Seq("session_s", "generate_s", "load_s", "pq_build_s",
    "graph_build_s", "chunk_build_s")
  val Strategies = Seq("UseExact", "UseLsh", "UseGraphSeeded",
    "UseGraphSeededIvf", "UseIvf", "UsePq")
  /** Set-ups per run; `setup_s` is their median. The first carries the
    * JVM's warm-up; a third would not fit a run's time budget. */
  val Setups = 2

  final case class Metric(name: String, value: Double, unit: String)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = opt.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    val workload = need("--workload")
    val seed = need("--seed").toLong
    val seconds = need("--seconds").toDouble
    val traced = need("--trace") == "1"
    val work = Paths.get(need("--work")).toAbsolutePath.toString
    val cores = Runtime.getRuntime.availableProcessors()

    val (spark, sessionS) = Workload.time {
      graft.Bench.tunedBuilder(cores.toString)
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
    }
    spark.sparkContext.setLogLevel("ERROR")
    val w = Workload(workload, spark, seed, cores)

    // set-ups: each builds a fresh store; only the last one is kept. A
    // traced run records their jobs too, for the trace file.
    val trace = if (traced) Some(new Trace) else None
    trace.foreach(spark.sparkContext.addSparkListener)
    val setupRuns = (1 to Setups).map { i =>
      val dir = s"$work/store-$i"
      val (phases, total) = Workload.time(w.setup(dir))
      if (i > 1) graft.util.Fs.deleteRecursive(spark, s"$work/store-${i - 1}")
      (phases, total)
    }

    // the warm-up runs on the measured store, so the window starts with
    // its memos built (`serve` never invalidates them)
    trace.foreach(spark.sparkContext.removeSparkListener)
    val plain = new Harness(spark)
    val warm = new Harness(spark)
    var ok = (1 to w.warmCycles).forall(_ => runCycle(w, warm))
    val (h, gcS) = trace match {
      case None =>
        if (ok) ok = window(w, plain, seconds)
        (plain, 0.0)
      case Some(t) =>
        // traced and untraced cycles alternate, so both sides see the same
        // warm JVM
        val th = new Harness(spark)
        val sc = spark.sparkContext
        var gc = 0.0
        val cap = System.nanoTime() + (math.max(8 * seconds, 40) * 1e9).toLong
        while (ok && !(full(w, th, seconds) && full(w, plain, seconds)) &&
            System.nanoTime() < cap) {
          if (full(w, plain, seconds) ||
              (!full(w, th, seconds) && spent(th) <= spent(plain))) {
            sc.addSparkListener(t)
            val gc0 = gcSeconds()
            ok = runCycle(w, th)
            gc += gcSeconds() - gc0
            t.drain(sc)
            sc.removeSparkListener(t)
          } else ok = runCycle(w, plain)
        }
        (th, gc)
    }

    val measured = (warm.calls ++ plain.calls ++
      (if (h eq plain) Nil else h.calls)).toSeq
    val failed = measured.count(!_.ok)
    measured.filterNot(_.ok).take(5).foreach(c =>
      System.err.println(s"FAILED ${c.op} #${c.n}: ${c.problem}"))
    val metrics = trace match {
      case None => endToEnd(h, setupRuns.map(_._2))
      case Some(t) =>
        perLayer(spark, w, h, t, plain, cores, sessionS,
          setupRuns.map(_._1), gcS)
    }
    opt.get("--trace-out").foreach(p =>
      Files.writeString(Paths.get(p), spans(workload, seed, sessionS,
        setupRuns, warm, plain, trace.map(t => (h, t)), informational(w, h))))
    val correct = ok && failed == 0 && h.calls.nonEmpty
    println(resultLine(correct, measured.length, failed, metrics))
    spark.stop()
    if (!correct) sys.exit(1)
  }

  /** Facade-call seconds of the calls that succeeded. */
  def spent(h: Harness): Double = h.calls.filter(_.ok).map(_.wallS).sum

  /** One cycle; false once a call threw or failed its check. A throw
    * outside a call (a check, or the next call's input) fails the cycle's
    * last call, so it counts in `failed` and is never timed. */
  def runCycle(w: Workload, h: Harness): Boolean = {
    h.cycle += 1
    try w.cycle(h) catch {
      case e: Exception =>
        System.err.println(s"cycle ${h.cycle} threw: $e")
        h.fail(s"threw ${e.getClass.getName}: ${e.getMessage}")
        false
    }
  }

  /** Whether a window has spent `seconds` of facade-call time and holds
    * the workload's `minCycles`. */
  def full(w: Workload, h: Harness, seconds: Double): Boolean =
    spent(h) >= seconds && h.cycle >= w.minCycles

  /** The closed loop: cycles until the window is full or a call fails. A
    * wall-clock cap of 4× `seconds` or 20 s, whichever is longer, bounds a
    * run whose untimed checks are slow. False once a cycle failed. */
  def window(w: Workload, h: Harness, seconds: Double): Boolean = {
    val cap = System.nanoTime() + (math.max(4 * seconds, 20) * 1e9).toLong
    var ok = true
    while (ok && !full(w, h, seconds) && System.nanoTime() < cap)
      ok = runCycle(w, h)
    ok
  }

  private def okCalls(h: Harness, kind: String) =
    h.calls.filter(c => c.ok && c.kind == kind)

  /** Seconds of every cycle whose calls all succeeded. */
  private def cycleWalls(h: Harness): Seq[Double] =
    h.calls.groupBy(_.cycle).values.filter(_.forall(_.ok))
      .map(_.map(_.wallS).sum).toSeq

  /** Median, or 0 for no samples (a run that failed before any). */
  private def p50(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** `search_qps` is not among these: with three to six searches in a
    * window it is nearly the batch size over `search_p50_s`. */
  def endToEnd(h: Harness, setupS: Seq[Double]): Seq[Metric] = Seq(
    Metric("setup_s", Stats.median(setupS), "s"),
    Metric("search_p50_s", p50(okCalls(h, "search").map(_.wallS).toSeq), "s"),
    Metric("cycle_p50_s", p50(cycleWalls(h)), "s"))

  def perLayer(spark: SparkSession, w: Workload, h: Harness, t: Trace,
      untraced: Harness, cores: Int, sessionS: Double,
      setupPhases: Seq[Seq[(String, Double)]], gcS: Double): Seq[Metric] = {
    val groups = t.byGroup
    val perOp = Ops.flatMap { op =>
      val cs = h.calls.filter(c => c.ok && c.op == op)
      val n = math.max(1, cs.length)
      val tot = cs.flatMap(c => groups.get(Trace.group(op, c.n)))
      val wall = cs.map(_.wallS).sum
      val taskS = tot.map(_.taskS).sum
      Seq(
        Metric(s"$op.eager_s", cs.map(_.eagerS).sum / n, "s"),
        Metric(s"$op.plan_s", cs.map(_.planS).sum / n, "s"),
        Metric(s"$op.exec_s", cs.map(_.execS).sum / n, "s"),
        Metric(s"$op.jobs", tot.map(_.jobs).sum.toDouble / n, "count"),
        Metric(s"$op.max_stage_tasks",
          if (tot.isEmpty) 0 else tot.map(_.maxStageTasks).max, "count"),
        Metric(s"$op.shuffle_bytes", tot.map(_.shuffleBytes).sum.toDouble / n, "B"),
        Metric(s"$op.spill_bytes", tot.map(_.spillBytes).sum.toDouble / n, "B"),
        Metric(s"$op.task_s", taskS / n, "s"),
        Metric(s"$op.core_util",
          if (wall == 0) 0 else taskS / (wall * cores), "ratio"))
    }
    val cycles = math.max(1, h.cycle)
    val mods = t.byModule(Ops.toSet)
    val other = mods.filter { case (m, _) =>
      !Modules.contains(m) && m != "unattributed" }.values
    val perModule = (Modules.map(m => m -> mods.getOrElse(m, (0, 0.0))) ++
      Seq("unattributed" -> mods.getOrElse("unattributed", (0, 0.0)),
        "other" -> (other.map(_._1).sum, other.map(_._2).sum)))
      .flatMap { case (m, (jobs, jobS)) =>
        Seq(Metric(s"module.$m.jobs", jobs.toDouble / cycles, "count"),
          Metric(s"module.$m.job_s", jobS / cycles, "s"))
      }
    val setup = SetupPhases.map { p =>
      val v = if (p == "session_s") sessionS
        else Stats.median(setupPhases.map(_.toMap.getOrElse(p, 0.0)))
      Metric(s"setup.$p", v, "s")
    }
    val ctr = w.counters
    val amp = Seq("append_pq", "append_docs").map(op =>
      Metric(s"$op.write_amp", ctr.getOrElse(s"$op.write_amp", 0.0), "ratio"))
    val storageMb = spark.sparkContext.getExecutorMemoryStatus.values
      .map { case (max, free) => max - free }.sum / 1048576.0
    System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
    val jvm = Seq(Metric("jvm.gc_s", gcS / cycles, "s"),
      Metric("jvm.heap_after_gc_mb", heapMb, "MB"),
      Metric("blockmgr.storage_mb", storageMb, "MB"))

    // the user-facing numbers the end-to-end set leaves out because not
    // every workload has them; 0 where a workload has no such call
    def tail(xs: Seq[Double]) = Stats.tail(xs).map(_._2).getOrElse(0.0)
    val search = okCalls(h, "search").map(_.wallS).toSeq
    val writes = writeCalls(h)
    val asm = okCalls(h, "assemble")
    def thr(h: Harness) = {
      val c = cycleWalls(h)
      if (c.isEmpty) 0.0 else c.length / c.sum
    }
    val user = Seq(
      Metric("recall_at_10", ctr.getOrElse("recall_at_10", 0.0), "ratio"),
      Metric("search_qps", if (search.isEmpty) 0
        else okCalls(h, "search").map(_.units).sum / search.sum, "1/s"),
      Metric("search_tail_s", tail(search), "s"),
      Metric("write_rows_per_s",
        if (writes.isEmpty) 0 else writes.map(_._2).sum / writes.map(_._1).sum,
        "1/s"),
      Metric("write_p50_s", p50(writes.map(_._1)), "s"),
      Metric("write_tail_s", tail(writes.map(_._1)), "s"),
      Metric("assemble_docs_per_s",
        if (asm.isEmpty) 0 else asm.map(_.units).sum / asm.map(_.wallS).sum,
        "1/s"),
      Metric("failed_op_frac",
        h.calls.count(!_.ok).toDouble / math.max(1, h.calls.length), "ratio"),
      Metric("trace.throughput_ratio",
        if (thr(untraced) == 0) 0 else thr(h) / thr(untraced), "ratio"))
    perOp ++ perModule ++ setup ++ amp ++ jvm ++ user
  }

  /** Readings without a better direction, kept for the trace file only:
    * the `searchAuto` arm chosen per call, and the percentile each tail
    * stands at (0 when there are too few samples for a tail). */
  def informational(w: Workload, h: Harness): Seq[(String, Double)] = {
    def pct(xs: Seq[Double]) = Stats.tail(xs).map(_._1).getOrElse(0.0)
    Strategies.map(s => s"dispatch.$s" -> w.counters.getOrElse(s"dispatch.$s", 0.0)) ++
      Seq("search_tail_pct" -> pct(okCalls(h, "search").map(_.wallS).toSeq),
        "write_tail_pct" -> pct(writeCalls(h).map(_._1)))
  }

  /** One write call as the user sees it: `appendPqIndex`, or
    * `appendDocuments` plus the `refreshChunkIndex` that makes it
    * searchable; as (seconds, rows). */
  private def writeCalls(h: Harness): Seq[(Double, Double)] =
    okCalls(h, "write").groupBy(_.cycle).values.map { cs =>
      (cs.map(_.wallS).sum, cs.head.units.toDouble)
    }.toSeq

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else v.toString

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def resultLine(correct: Boolean, attempted: Int, failed: Int,
      ms: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      ms.map(m => s"""${str(m.name)}: {"value": ${num(m.value)}, "unit": ${str(m.unit)}}""")
        .mkString(", ") + "}}"

  /** The trace file: every set-up phase and facade call as a span, with
    * the Spark totals of its job group when the window was traced, and
    * the undirected readings. */
  def spans(workload: String, seed: Long, sessionS: Double,
      setups: Seq[(Seq[(String, Double)], Double)], warm: Harness,
      untraced: Harness, traced: Option[(Harness, Trace)],
      readings: Seq[(String, Double)]): String = {
    val groups = traced.map(_._2.byGroup).getOrElse(Map.empty)
    def call(c: Call, window: String) = {
      val g = groups.get(Trace.group(c.op, c.n))
      s"""{"window": ${str(window)}, "op": ${str(c.op)}, "n": ${c.n}, "cycle": ${c.cycle}, """ +
        s""""start_ns": ${c.startNs}, "eager_s": ${num(c.eagerS)}, "plan_s": ${num(c.planS)}, """ +
        s""""exec_s": ${num(c.execS)}, "units": ${c.units}, "ok": ${c.ok}, "problem": ${str(c.problem)}""" +
        g.map(t => s""", "jobs": ${t.jobs}, "max_stage_tasks": ${t.maxStageTasks}, """ +
          s""""shuffle_bytes": ${t.shuffleBytes}, "spill_bytes": ${t.spillBytes}, "task_s": ${num(t.taskS)}""")
          .getOrElse("") + "}"
    }
    val setupJs = setups.zipWithIndex.map { case ((ph, total), i) =>
      s"""{"setup": ${i + 1}, "total_s": ${num(total)}, """ +
        ph.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ") + "}"
    }
    val calls = warm.calls.map(call(_, "warm-up")) ++
      untraced.calls.map(call(_, "untraced")) ++
      traced.toSeq.flatMap(_._1.calls.map(call(_, "traced")))
    val modules = traced.map(_._2.byModule(Ops.toSet)).getOrElse(Map.empty).toSeq.sorted
      .map { case (m, (j, s)) => s"""${str(m)}: {"jobs": $j, "job_s": ${num(s)}}""" }
    val jobs = traced.toSeq.flatMap(_._2.allJobs).map(j =>
      s"""{"job": ${j.id}, "group": ${str(j.group)}, "module": ${str(j.module)}, """ +
        s""""start_ms": ${j.start}, "end_ms": ${j.end}, "site": ${str(j.site)}}""")
    s"""{"workload": ${str(workload)}, "seed": $seed, "session_s": ${num(sessionS)},
       |"setups": [${setupJs.mkString(",\n")}],
       |"calls": [${calls.mkString(",\n")}],
       |"jobs": [${jobs.mkString(",\n")}],
       |"modules": {${modules.mkString(", ")}},
       |"readings": {${readings.map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString(", ")}}}
       |""".stripMargin
  }
}
