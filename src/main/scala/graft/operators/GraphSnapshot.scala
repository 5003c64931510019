package graft.operators

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.unsafe.Platform
import scala.collection.mutable.ArrayBuilder
import graft.functions.ScalarKernels

/** One graph in primitive arrays: node `i` has id `ids(i)` (ids ascending,
  * so index order is id order), tombstone flag `deleted(i)` and its
  * vector at bytes `vecOff(i) until vecOff(i+1)` of `vecs`, laid out as
  * an `UnsafeArrayData` (the form the SQL kernels read, so a score reads
  * it in place); level `l`'s out-neighbors of node `i` are
  * `adj(l)(adjOff(l)(i) until adjOff(l)(i+1))`, as node indices.
  * `entries` are the nodes on the top node level `entryLevel` (−1 when
  * the node table has no `level` column). */
private[operators] final class GraphData(
    val ids: Array[Long],
    val vecOff: Array[Int],
    val vecs: Array[Byte],
    val deleted: Array[Boolean],
    val entryLevel: Int,
    val entries: Array[Int],
    val adjOff: Array[Array[Int]],
    val adj: Array[Array[Int]]) extends Serializable {

  def indexOf(id: Long): Int = {
    val i = java.util.Arrays.binarySearch(ids, id)
    if (i >= 0) i else -1
  }

  /** One query's whole walk, the in-memory mirror of the frame walk in
    * [[AnnSearch]]: `start` (id, score) is the initial frontier, or the
    * entry layer scored against `q` and cut to the first level's `ef`
    * when null; `seeds` join the frontier when the walk reaches level 0.
    * Each hop adds the level's out-neighbors of the frontier that are
    * not in it yet and pass `allowed` (null: all), scored against `q`
    * (null: a query without a vector scores nothing), and keeps the best
    * `ef`. The result is the final rank: live nodes with a non-NaN score
    * above `minSim`, best `k`, as (id, score) in rank order. Start and
    * seed ids that are not nodes are dropped (callers pass node ids). */
  def walk(metric: String, qv: Array[Float], start: Array[(Long, Double)],
      seeds: Array[(Long, Double)], levels: Array[WalkLevel],
      allowed: java.util.BitSet, k: Int, minSim: Double)
      : Array[(Long, Double)] = {
    val q: ArrayData =
      if (qv == null) null else UnsafeArrayData.fromPrimitiveArray(qv)
    def ranked(xs: Array[(Int, Double)]): Array[(Int, Double)] =
      xs.sortWith(GraphData.before)
    // the frontier plus rows not in it yet, first occurrence of an id
    // kept (a repeated id carries the same score)
    def merged(f: Array[(Int, Double)], add: Iterator[(Int, Double)])
        : Array[(Int, Double)] = {
      val present = scala.collection.mutable.HashSet.empty[Int]
      f.foreach(present += _._1)
      f ++ add.filter(c => present.add(c._1))
    }
    def nodes(rows: Array[(Long, Double)]): Iterator[(Int, Double)] =
      rows.iterator.map { case (id, s) => (indexOf(id), s) }
        .filter(_._1 >= 0)
    var frontier: Array[(Int, Double)] =
      if (start != null) merged(Array.empty, nodes(start))
      else if (q == null) Array.empty
      else ranked(entries.map(i => (i, score(metric, q, i))))
        .take(levels.head.ef)
    for (lv <- levels) {
      if (lv.level == 0 && seeds != null)
        frontier = ranked(merged(frontier, nodes(seeds))).take(lv.ef)
      var it = 0
      while (it < lv.iters) {
        val cand =
          if (q == null || lv.level >= adj.length) Iterator.empty
          else {
            val off = adjOff(lv.level); val nb = adj(lv.level)
            frontier.iterator.flatMap { case (i, _) =>
              (off(i) until off(i + 1)).iterator.map(nb(_))
            }.filter(j => allowed == null || allowed.get(j))
          }
        // a candidate already in the frontier keeps its frontier row, so
        // it is scored once
        val present = scala.collection.mutable.HashSet.empty[Int]
        frontier.foreach(present += _._1)
        val added = cand.filter(present.add).map(j => (j, score(metric, q, j)))
        frontier = ranked(frontier ++ added).take(lv.ef)
        it += 1
      }
    }
    ranked(frontier.filter { case (i, s) =>
        !deleted(i) && !s.isNaN && s > minSim })
      .take(k).map { case (i, s) => (ids(i), s) }
  }

  /** The walk's score of node `i` against query vector `q`: the scalar
    * kernel `cosine_sim` / `euclidean_dist` evaluate. */
  def score(metric: String, q: ArrayData, i: Int): Double = {
    val v = new UnsafeArrayData()
    v.pointTo(vecs, Platform.BYTE_ARRAY_OFFSET + vecOff(i),
      vecOff(i + 1) - vecOff(i))
    metric match {
      case "euclidean" => ScalarKernels.euclideanSim(q, v)
      case _ => ScalarKernels.cosine(q, v)
    }
  }
}

/** One level of a walk: `iters` hops over level `level`'s edges, each
  * keeping the best `ef` candidates per query. */
private[operators] final case class WalkLevel(level: Int, ef: Int,
    iters: Int)

private[operators] object GraphData {
  /** Spark's descending double order with ties on ascending id: NaN
    * sorts highest and −0.0 equals 0.0 (`SQLOrderingUtil.compareDoubles`),
    * the order of the frame walk's `row_number()` windows. Node index
    * order is id order. */
  def before(a: (Int, Double), b: (Int, Double)): Boolean = {
    val c = if (a._2 == b._2) 0 else java.lang.Double.compare(a._2, b._2)
    if (c != 0) c > 0 else a._1 < b._1
  }
}

/** A broadcast [[GraphData]] of a graph small enough to ship whole to
  * every executor, which the fused walk ([[AnnSearch]]) reads in place of
  * per-hop joins. `bytes` is the arithmetic size the gate measured.
  * Nothing destroys it: the ContextCleaner frees its blocks once no owner
  * and no result DataFrame refers to it, so a built result stays
  * readable. */
final class GraphSnapshot private (
    private[operators] val data: Broadcast[GraphData],
    val nodes: Int, val entryLevel: Int, val bytes: Long)

object GraphSnapshot {

  /** What a caller hands the walk about its graph's snapshot. */
  sealed trait Known
  /** Nothing: the walk counts the graph on this call and snapshots it if
    * it fits the gate. */
  case object Unknown extends Known
  /** The caller's outcome of that measurement: the snapshot, or `None`
    * when the graph is past the gate. Measured at the first walk that
    * reads it, then kept. */
  final class Held private (read: () => Option[GraphSnapshot])
      extends Known {
    lazy val snapshot: Option[GraphSnapshot] = read()
  }
  object Held {
    def apply(snapshot: => Option[GraphSnapshot]): Held =
      new Held(() => snapshot)
  }

  /** Bytes of one `dim`-float vector in `UnsafeArrayData` layout: an
    * element count, a null bitmap word per 64 elements, the values padded
    * to a word. */
  def vectorBytes(dim: Int): Long =
    8L * (1L + (dim + 63L) / 64L + (4L * dim + 7L) / 8L)

  /** The snapshot's arithmetic size: per node an 8-byte id, a 4-byte
    * vector offset, a tombstone byte and its vector ([[vectorBytes]]);
    * per edge one int. */
  def bytesFor(nodes: Long, dim: Int, edges: Long): Long =
    nodes * (13L + vectorBytes(dim)) + 4L * edges

  /** Count `nodes` (id, vector[, deleted][, level]) and `edges`
    * (level, src, dst); when their [[bytesFor]] fits `broadcastBytes`,
    * collect them and broadcast the snapshot. `None` past the gate, and
    * also for a graph the walk cannot mirror the frame walk on (a null
    * id or vector, or a repeated id) — those take the frame walk. */
  def fitting(nodes: DataFrame, edges: DataFrame, dim: Int,
      broadcastBytes: Long): Option[GraphSnapshot] = {
    val n = nodes.count()
    if (bytesFor(n, dim, 0L) > broadcastBytes) None
    else {
      val e = edges.count()
      val bytes = bytesFor(n, dim, e)
      // one byte array holds every vector
      if (bytes > broadcastBytes || bytes >= Int.MaxValue) None
      else build(nodes, edges).map { d =>
        val sc = nodes.sparkSession.sparkContext
        new GraphSnapshot(sc.broadcast(d), d.ids.length, d.entryLevel, bytes)
      }
    }
  }

  /** One partition's nodes, packed where they are read: `sizes(t)` bytes
    * of `vecs` hold node `t`'s vector. `complete` is false when the
    * partition held a null id or vector. */
  private final class NodeBlock(val ids: Array[Long], val sizes: Array[Int],
      val vecs: Array[Byte], val deleted: Array[Boolean],
      val levels: Array[Int], val complete: Boolean) extends Serializable

  /** The graph in the snapshot's arrays. Both tables arrive as one packed
    * block of primitive arrays per partition, never as a row object per
    * node or edge, so the driver's peak is a small multiple of the
    * snapshot's [[bytesFor]]: the collected blocks, then the arrays they
    * are copied into (edges arrive as 12-byte node-index triples). */
  private def build(nodes: DataFrame, edges: DataFrame): Option[GraphData] = {
    val cols = nodes.columns.toSet
    val blocks = nodes.select(col("id").cast("long"),
        col("vector").cast("array<float>"),
        (if (cols("deleted")) col("deleted") else lit(false)),
        (if (cols("level")) col("level").cast("int")
         else lit(null).cast("int")))
      .queryExecution.toRdd.mapPartitions { rows =>
        val ids = new ArrayBuilder.ofLong; val sizes = new ArrayBuilder.ofInt
        val del = new ArrayBuilder.ofBoolean; val lv = new ArrayBuilder.ofInt
        var buf = new Array[Byte](1 << 16); var used = 0
        var complete = true
        rows.foreach { r =>
          if (r.isNullAt(0) || r.isNullAt(1)) complete = false
          else {
            val v = r.getArray(1) match {
              case u: UnsafeArrayData => u
              case a => UnsafeArrayData.fromPrimitiveArray(a.toFloatArray())
            }
            val size = v.getSizeInBytes
            if (used + size > buf.length)
              buf = java.util.Arrays.copyOf(buf,
                math.max(used + size, math.min(2L * buf.length,
                  Int.MaxValue - 8L).toInt))
            v.writeToMemory(buf, Platform.BYTE_ARRAY_OFFSET + used)
            used += size
            ids += r.getLong(0); sizes += size
            // `!deleted` keeps only rows whose flag is false: a null flag
            // is not live at the final rank, the frame walk's filter
            del += r.isNullAt(2) || r.getBoolean(2)
            lv += (if (r.isNullAt(3)) -1 else r.getInt(3))
          }
        }
        Iterator.single(new NodeBlock(ids.result(), sizes.result(),
          java.util.Arrays.copyOf(buf, used), del.result(), lv.result(),
          complete))
      }.collect()
    if (blocks.exists(!_.complete)) return None
    val ids = Array.concat(blocks.map(_.ids).toIndexedSeq: _*)
    java.util.Arrays.sort(ids)
    val n = ids.length
    if ((1 until n).exists(i => ids(i) == ids(i - 1))) return None
    // each node's place in id order, in block order
    val pos = Array.concat(blocks.map(
      _.ids.map(java.util.Arrays.binarySearch(ids, _))).toIndexedSeq: _*)
    val vecOff = new Array[Int](n + 1)
    val deleted = new Array[Boolean](n)
    val levels = new Array[Int](n)
    var j = 0
    blocks.foreach { b =>
      var t = 0
      while (t < b.ids.length) {
        val p = pos(j)
        vecOff(p + 1) = b.sizes(t); deleted(p) = b.deleted(t)
        levels(p) = b.levels(t); t += 1; j += 1
      }
    }
    var i = 0
    while (i < n) { vecOff(i + 1) += vecOff(i); i += 1 }
    val vecs = new Array[Byte](vecOff(n))
    j = 0
    blocks.indices.foreach { bi =>
      val b = blocks(bi)
      var t = 0; var src = 0
      while (t < b.ids.length) {
        System.arraycopy(b.vecs, src, vecs, vecOff(pos(j)), b.sizes(t))
        src += b.sizes(t); t += 1; j += 1
      }
      blocks(bi) = null
    }
    val entryLevel = if (n == 0) -1 else levels.max
    val entries =
      if (entryLevel < 0) Array.empty[Int]
      else (0 until n).filter(levels(_) == entryLevel).toArray

    // per-level CSR adjacency; an edge whose src or dst is not a node can
    // never fire in the frame walk (frontier ids are node ids, and the
    // expansion joins the node table), so it is dropped where it is read
    val idsB = nodes.sparkSession.sparkContext.broadcast(ids)
    val triples = try edges.select(col("level").cast("int"),
        col("src").cast("long"), col("dst").cast("long"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val index = idsB.value
        val out = new ArrayBuilder.ofInt // (level, src, dst) per edge
        rows.foreach { r =>
          if (!r.anyNull && r.getInt(0) >= 0) {
            val s = java.util.Arrays.binarySearch(index, r.getLong(1))
            val d = java.util.Arrays.binarySearch(index, r.getLong(2))
            if (s >= 0 && d >= 0) { out += r.getInt(0); out += s; out += d }
          }
        }
        Iterator.single(out.result())
      }.collect()
    finally idsB.destroy() // read only by the collect above
    var nLevels = 0
    triples.foreach { b =>
      var t = 0
      while (t < b.length) { nLevels = math.max(nLevels, b(t) + 1); t += 3 }
    }
    val adjOff = Array.fill(nLevels)(new Array[Int](n + 1))
    triples.foreach { b =>
      var t = 0
      while (t < b.length) { adjOff(b(t))(b(t + 1) + 1) += 1; t += 3 }
    }
    adjOff.foreach { off =>
      var k = 0
      while (k < n) { off(k + 1) += off(k); k += 1 }
    }
    val adj = adjOff.map(off => new Array[Int](off(n)))
    val fill = adjOff.map(_.clone())
    triples.foreach { b =>
      var t = 0
      while (t < b.length) {
        val l = b(t); val s = b(t + 1)
        adj(l)(fill(l)(s)) = b(t + 2); fill(l)(s) += 1; t += 3
      }
    }
    Some(new GraphData(ids, vecOff, vecs, deleted, entryLevel, entries,
      adjOff, adj))
  }
}
