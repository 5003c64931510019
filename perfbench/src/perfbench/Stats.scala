package perfbench

/** The benchmark's own statistics and correctness rules, kept free of
  * Spark so that `SelfTest` can pin them. */
object Stats {

  /** Median of a non-empty sample (mean of the two middle values when the
    * count is even). */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The tail a sample supports: the highest percentile of the ladder
    * 50, 75, 90, 95, 99, 99.9 that has at least 10 samples strictly beyond
    * it, as (percentile, value). The value is the order statistic at that
    * rank (nearest rank), so exactly `n - rank` samples lie beyond it.
    * None below 20 samples, where even the median has fewer than 10
    * beyond it. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = xs.sorted
    val n = s.length
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).iterator.map { p =>
      val rank = math.max(1, math.ceil(p / 100 * n).toInt)
      (p, rank)
    }.collectFirst { case (p, rank) if n - rank >= 10 => (p, s(rank - 1)) }
  }

  /** Recall of one query's served ids against its exact top-k ids. An
    * exact list shorter than k (fewer candidates above the threshold)
    * is the denominator; an empty exact list is recall 1 when nothing
    * was served. */
  def recall(served: Seq[Long], exact: Seq[Long]): Double =
    if (exact.isEmpty) { if (served.isEmpty) 1.0 else 0.0 }
    else served.distinct.count(exact.toSet).toDouble / exact.length

  /** Exact top-k by cosine similarity, ties broken by lower id (the
    * program's own order), keeping only scores >= minSim. */
  def exactTopK(query: Array[Float], ids: Array[Long],
      vecs: Array[Array[Float]], norms: Array[Double], k: Int,
      minSim: Double): Seq[Long] = {
    val qn = math.sqrt(query.map(x => x.toDouble * x).sum)
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)] { case (s, id) => (-s, id) })
    var i = 0
    while (i < ids.length) {
      val v = vecs(i)
      var dot = 0.0
      var j = 0
      while (j < v.length) { dot += query(j).toDouble * v(j); j += 1 }
      val sim = if (qn == 0 || norms(i) == 0) 0.0 else dot / (qn * norms(i))
      if (sim >= minSim) {
        heap.enqueue((sim, ids(i)))
        if (heap.size > k) heap.dequeue()
      }
      i += 1
    }
    heap.toSeq.sortBy { case (s, id) => (-s, id) }.map(_._2)
  }

  /** The churn workload's ledger: the benchmark's own record of which ids
    * are live (with their current vectors) and which were tombstoned.
    * Every write the benchmark sends to the store is applied here too. */
  final class Ledger {
    val live = scala.collection.mutable.LinkedHashMap.empty[Long, Array[Float]]
    val tombstoned = scala.collection.mutable.HashSet.empty[Long]

    def put(id: Long, v: Array[Float]): Unit = {
      live(id) = v; tombstoned -= id
    }
    def delete(id: Long): Unit = { live -= id; tombstoned += id }

    /** Problems with one search answer: ids served that are tombstoned
      * or that the ledger never saw. Empty when the answer is clean. */
    def servedProblems(served: Iterable[Long]): Seq[String] =
      served.toSeq.distinct.flatMap { id =>
        if (tombstoned(id)) Some(s"tombstoned id $id served")
        else if (!live.contains(id)) Some(s"unknown id $id served")
        else None
      }

    /** Problem with the store's live count, if it differs from the
      * ledger's. */
    def countProblem(storeLive: Long): Option[String] =
      if (storeLive == live.size) None
      else Some(s"store has $storeLive live rows, ledger ${live.size}")
  }
}
