package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every input the program sees is made here
  * from the run's seed, so one seed always yields the same store, deltas,
  * queries and corpus.
  *
  * Vectors are clustered with a low effective dimension: points live near
  * `clusters` centres of a `latent`-dimensional space and are lifted into
  * `dim` dimensions by one fixed random basis plus a little ambient noise.
  * Real embedding tables look like this (a few dozen directions carry most
  * of the variance), and it is the regime the graph and IVF-PQ indexes are
  * built for. */
final class VectorGen(seed: Long, val dim: Int, latent: Int = 32,
    clusters: Int = 128, spread: Double = 0.5, noise: Double = 0.02) {
  private val rng = new SplittableRandom(seed)
  private val basis = Array.fill(latent, dim)(rng.nextDouble() * 2 - 1)
  private val centres = Array.fill(clusters, latent)(gauss(rng) * 1.0)

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller on SplittableRandom (java.util.Random is not splittable)
    val u = math.max(r.nextDouble(), 1e-300)
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }

  /** One point near a random centre, drawn from stream `r`. */
  def point(r: SplittableRandom): Array[Float] = {
    val c = centres(r.nextInt(clusters))
    val z = Array.tabulate(latent)(i => c(i) + gauss(r) * spread)
    Array.tabulate(dim) { j =>
      var s = 0.0
      var i = 0
      while (i < latent) { s += z(i) * basis(i)(j); i += 1 }
      (s + gauss(r) * noise).toFloat
    }
  }

  /** An independent stream for one purpose (store rows, queries, deltas):
    * held-out queries never coincide with stored points. */
  def stream(tag: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + tag)
}

/** Zipf word-salad documents with planted exact duplicates, near
  * duplicates and a benchmark-contamination slice.
  *
  * Ordinary text draws words from a Zipf(1.1) law over `vocab` words.
  * Benchmark (held-out evaluation) texts draw only from a disjoint tail
  * vocabulary, so an ordinary doc shares no 8-gram with them; a
  * contaminated doc carries a 24-word span of one benchmark text and so
  * shares 17 of its 8-grams. */
final class DocGen(seed: Long, vocab: Int = 4000, nBench: Int = 40) {
  import DocGen._
  private val cdf = {
    val w = Array.tabulate(vocab)(i => 1.0 / math.pow(i + 1, 1.1))
    val s = w.sum
    w.scanLeft(0.0)(_ + _ / s).tail
  }
  private def word(i: Int): String = "w" + Integer.toString(i, 36)
  private def zipfWord(r: SplittableRandom): String = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    word(math.min(if (i >= 0) i else -i - 1, vocab - 1))
  }
  private def salad(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(zipfWord(r))

  val benchTexts: IndexedSeq[String] = {
    val r = new SplittableRandom(seed * 7919L + 1)
    IndexedSeq.fill(nBench)(Array.fill(40)("b" +
      Integer.toString(r.nextInt(1 << 20), 36)).mkString(" "))
  }

  /** Draws one document of the mix: 82 % fresh text, 6 % an exact copy
    * of an earlier doc (with different whitespace, which cleaning
    * removes), 6 % a near copy (5 % of words replaced), 6 % contaminated.
    * `earlier` supplies texts of existing docs to copy from. */
  def doc(r: SplittableRandom, earlier: () => Option[String]): Doc = {
    val src = sources(math.min(sources.length - 1,
      (math.abs(gaussLike(r)) * 2.2).toInt))
    val roll = r.nextInt(100)
    def fresh = salad(r, 40 + r.nextInt(120))
    if (roll < 6) earlier() match {
      case Some(t) => Doc(t.replace(" ", "  "), src, Kind.ExactCopy)
      case None => Doc(fresh.mkString(" "), src, Kind.Fresh)
    }
    else if (roll < 12) earlier() match {
      case Some(t) =>
        val ws = t.split(" +")
        Doc(ws.map(w => if (r.nextInt(20) == 0) zipfWord(r) else w)
          .mkString(" "), src, Kind.NearCopy)
      case None => Doc(fresh.mkString(" "), src, Kind.Fresh)
    }
    else if (roll < 18) {
      val b = benchTexts(r.nextInt(nBench)).split(" ")
      val at = r.nextInt(b.length - 24 + 1)
      val ws = fresh
      val cut = r.nextInt(ws.length)
      Doc((ws.take(cut) ++ b.slice(at, at + 24) ++ ws.drop(cut))
        .mkString(" "), src, Kind.Contaminated)
    }
    else Doc(fresh.mkString(" "), src, Kind.Fresh)
  }

  private def gaussLike(r: SplittableRandom): Double =
    (0 until 4).map(_ => r.nextDouble() - 0.5).sum * 1.7

  def stream(tag: Long): SplittableRandom =
    new SplittableRandom(seed * 1000003L + tag)
}

object DocGen {
  val sources: IndexedSeq[String] =
    IndexedSeq("web", "books", "code", "news", "forum", "wiki")
  object Kind extends Enumeration {
    val Fresh, ExactCopy, NearCopy, Contaminated = Value
  }
  final case class Doc(text: String, source: String, kind: Kind.Value)
}
