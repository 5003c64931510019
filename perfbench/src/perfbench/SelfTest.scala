package perfbench

/** Unit tests of the benchmark's own rules: the tail percentile (at least
  * 10 samples beyond), recall, the churn ledger, call-site attribution
  * and the counting of a cycle that throws.
  * Run with `python3 perfbench/run.py --selftest`; exits 1 on a failure. */
object SelfTest {
  private var failures = 0
  private def check(what: String)(ok: Boolean): Unit =
    if (ok) println(s"ok   $what")
    else { failures += 1; println(s"FAIL $what") }

  def main(args: Array[String]): Unit = {
    val xs = (1 to 100).map(_.toDouble)
    check("median of odd and even samples") {
      Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0 &&
        Stats.median(Seq(4.0, 1.0, 3.0, 2.0)) == 2.5
    }
    check("no tail below 20 samples") {
      Stats.tail(xs.take(19)).isEmpty
    }
    check("20 samples support p50 with exactly 10 beyond") {
      Stats.tail(xs.take(20)).contains((50.0, 10.0))
    }
    check("100 samples support p90, not p95") {
      Stats.tail(xs).contains((90.0, 90.0))
    }
    check("1000 samples support p99") {
      Stats.tail((1 to 1000).map(_.toDouble)).contains((99.0, 990.0))
    }
    check("the tail has at least 10 samples beyond it") {
      (20 to 400).forall { n =>
        val s = (1 to n).map(_.toDouble)
        Stats.tail(s).forall { case (_, v) => s.count(_ > v) >= 10 }
      }
    }

    check("recall counts served ids in the exact list") {
      Stats.recall(Seq(1L, 2L, 9L), Seq(1L, 2L, 3L, 4L)) == 0.5
    }
    check("recall ignores repeats and order") {
      Stats.recall(Seq(2L, 1L, 1L), Seq(1L, 2L)) == 1.0
    }
    check("recall of an empty exact list") {
      Stats.recall(Nil, Nil) == 1.0 && Stats.recall(Seq(1L), Nil) == 0.0
    }
    check("exact top-k ranks by cosine, ties by id, above the threshold") {
      val ids = Array(5L, 3L, 7L, 1L)
      val vecs = Array(Array(1f, 0f), Array(1f, 0f), Array(0f, 1f),
        Array(-1f, 0f))
      val norms = vecs.map(v => math.sqrt(v.map(x => x.toDouble * x).sum))
      Stats.exactTopK(Array(2f, 0f), ids, vecs, norms, 3, 0.0) ==
        Seq(3L, 5L, 7L) &&
        Stats.exactTopK(Array(2f, 0f), ids, vecs, norms, 3, 0.5) ==
        Seq(3L, 5L)
    }

    check("ledger tracks live and tombstoned ids") {
      val l = new Stats.Ledger
      l.put(1, Array(1f)); l.put(2, Array(2f)); l.delete(2)
      l.live.keySet == Set(1L) && l.tombstoned == Set(2L)
    }
    check("ledger flags a tombstoned or unknown id served") {
      val l = new Stats.Ledger
      l.put(1, Array(1f)); l.put(2, Array(2f)); l.delete(2)
      l.servedProblems(Seq(1L)).isEmpty &&
        l.servedProblems(Seq(1L, 2L)).exists(_.contains("tombstoned id 2")) &&
        l.servedProblems(Seq(7L)).exists(_.contains("unknown id 7"))
    }
    check("a re-inserted id is live again") {
      val l = new Stats.Ledger
      l.put(4, Array(1f)); l.delete(4); l.put(4, Array(3f))
      l.servedProblems(Seq(4L)).isEmpty && l.tombstoned.isEmpty
    }
    check("ledger count check") {
      val l = new Stats.Ledger
      l.put(1, Array(1f)); l.put(2, Array(2f))
      l.countProblem(2).isEmpty && l.countProblem(3).nonEmpty
    }

    check("a call site is attributed to its first graft frame") {
      Trace.moduleOf(Seq(
        "org.apache.spark.sql.classic.Dataset.localCheckpoint(Dataset.scala:231)",
        "graft.operators.AnnSearch$.expandAndRank(AnnSearch.scala:497)",
        "graft.VectorStore.searchAuto(VectorStore.scala:1142)",
        "perfbench.Serve.cycle(Workloads.scala:10)").mkString("\n")) ==
        "AnnSearch"
    }
    check("a call site without graft frames is unattributed") {
      Trace.moduleOf("perfbench.Harness.run(Harness.scala:3)\n" +
        "java.base/java.lang.Thread.run(Thread.java:840)") ==
        Trace.Unattributed
    }

    // a workload whose check throws after its call returned, one that
    // throws before any call, and one whose call itself throws
    def throwing(body: Harness => Boolean): Workload = new Workload {
      def setup(dir: String) = Nil
      def cycle(h: Harness) = body(h)
      def warmCycles = 0
      def minCycles = 1
      def counters = Map.empty
    }
    def ran(h: Harness, op: String) = {
      h.calls += Call(op, "search", h.calls.length + 1, h.cycle, 0L, 1, 0, 0,
        1, ok = true)
      h.calls.last
    }
    check("a check that throws fails its call and the cycle") {
      val h = new Harness(null)
      val w = throwing { h => ran(h, "a"); Array(1)(5) > 0 }
      !Main.runCycle(w, h) && h.calls.map(_.ok) == Seq(false) &&
        h.calls.head.problem.contains("ArrayIndexOutOfBounds") &&
        Main.spent(h) == 0
    }
    check("a throw before any call records one failed call") {
      val h = new Harness(null)
      val w = throwing(_ => throw new IllegalStateException("no input"))
      !Main.runCycle(w, h) && h.calls.map(c => (c.op, c.ok)) ==
        Seq(("cycle", false))
    }
    check("a call that threw is counted once") {
      val h = new Harness(null)
      val w = throwing { h =>
        ran(h, "a").ok = false
        throw new IllegalStateException("call threw")
      }
      !Main.runCycle(w, h) && h.calls.count(!_.ok) == 1
    }
    check("a throw fails only the current cycle's last call") {
      val h = new Harness(null)
      Main.runCycle(throwing { h => ran(h, "a"); true }, h)
      !Main.runCycle(throwing(_ => sys.error("boom")), h) &&
        h.calls.map(c => (c.op, c.ok)) == Seq(("a", true), ("cycle", false))
    }

    // a workload whose every cycle makes one call of `callS` seconds
    def timed(callS: Double, min: Int): Workload = new Workload {
      def setup(dir: String) = Nil
      def cycle(h: Harness) = {
        h.calls += Call("a", "search", h.calls.length + 1, h.cycle, 0L,
          callS, 0, 0, 1, ok = true)
        true
      }
      def warmCycles = 0
      def minCycles = min
      def counters = Map.empty
    }
    check("a window runs until its seconds are spent") {
      val h = new Harness(null)
      Main.window(timed(1.0, 2), h, 5) && h.cycle == 5
    }
    check("a window holds at least minCycles cycles") {
      val h = new Harness(null)
      Main.window(timed(10.0, 3), h, 5) && h.cycle == 3
    }

    println(if (failures == 0) "all passed" else s"$failures failed")
    if (failures > 0) sys.exit(1)
  }
}
