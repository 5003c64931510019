package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IndexParams

/** The streamed graph delta chain ([[VectorStore]] `appendIndexGraphDelta`
  * / `loadIndexOverlay`): per-batch graph maintenance writes ONE
  * delta-sized directory instead of rewriting the generation, and the
  * served overlay must equal — row for row — what sequential FULL merges
  * ([[VectorStore.mergeIndex]]) produce from the same deltas. That
  * equality is the whole contract: every structural rule of the merge
  * (adjacency replacement for delta ∪ touched sources, staling of edges
  * into moved/dead nodes, latest-wins nodes) is exercised across a chain
  * of two batches with upserts, an update and a delete. */
class GraphDeltaSpec extends SparkSpec {
  import spark.implicits._

  private val params =
    IndexParams(dim = 8, m = 4, levelMax = 1, bucketBits = 2, nBands = 2)
  private def vec(i: Long): Seq[Float] =
    (0 until 8).map(j => ((i * 7 + j * 3) % 257).toFloat / 257f + 0.1f)
  private def baseRows = (0L until 40L).map(i => (i, vec(i)))

  // batch 1: three new ids + one moved existing id; batch 2: one delete
  // (id 5 — a base id), one more new id
  private def d1 = Seq(
    (100L, vec(100L), false), (101L, vec(101L), false),
    (102L, vec(102L), false), (7L, vec(700L), false))
  private def d2 = Seq((5L, vec(5L), true), (103L, vec(103L), false))

  private def edgeSet(e: DataFrame): Set[(Int, Long, Long)] =
    e.select(col("level").cast("int"), col("src"), col("dst"))
      .as[(Int, Long, Long)].collect().toSet
  private def nodeSet(n: DataFrame): Set[(Long, Boolean)] =
    n.select(col("id"), col("deleted")).as[(Long, Boolean)]
      .collect().toSet

  private def freshStore(tag: String): VectorStore =
    VectorStore.openOrCreate(spark,
      java.nio.file.Files.createTempDirectory(s"graft-gd-$tag").toString,
      params)

  test("delta chain ≡ sequential full merges: identical served nodes " +
      "and edges across two batches (upsert, update, delete)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext

    // store A: streamed delta chain
    val a = freshStore("chain")
    a.addBatch(baseRows.toDF("id", "vector"))
    a.rebuild()
    val stream = MemoryStream[(Long, Seq[Float], String, Long)]
    val q = a.startIngest(stream.toDF().toDF("id", "vector", "op", "seq"))
    try {
      stream.addData(d1.map { case (i, v, _) => (i, v, "upsert", i) })
      q.processAllAvailable()
      stream.addData(d2.map { case (i, v, del) =>
        (i, v, if (del) "delete" else "upsert", i) })
      q.processAllAvailable()
    } finally q.stop()
    assert(a.indexPointer === "0 2") // base 0 ⊕ two pending deltas

    // store B: the same deltas as sequential FULL merges
    val b = freshStore("full")
    b.addBatch(baseRows.toDF("id", "vector"))
    b.rebuild()
    b.mergeIndex(d1.toDF("id", "vector", "deleted"))
    b.mergeIndex(d2.toDF("id", "vector", "deleted"))

    val (an, ae, _) = a.servedIndex
    val (bn, be, _) = b.servedIndex
    assert(nodeSet(an) === nodeSet(bn))
    assert(edgeSet(ae) === edgeSet(be))
    // the merge rules actually fired: new ids are wired, the dead id is
    // unlinked, the moved id's old neighborhood no longer points at it
    assert(edgeSet(ae).exists { case (_, s, d) => s == 103L || d == 103L })
    assert(!edgeSet(ae).exists { case (_, s, d) => s == 5L || d == 5L })

    // serving through the chain: the batch-2 insert is findable
    val q103 = Seq((103L, vec(103L))).toDF("query_id", "query_vec")
    assert(a.searchAnnSeeded(q103, k = 1, strengthSetting = 0)
      .select("id").as[Long].head() === 103L)
    a.delete(); b.delete()
  }

  test("a searchAuto result built before a streamed batch still reads " +
      "after the batch and a later search") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val s = freshStore("stale-read")
    s.addBatch(baseRows.toDF("id", "vector"))
    s.rebuild()
    val queries = Seq(3L, 17L, 29L).map(i => (i, vec(i)))
      .toDF("query_id", "query_vec")
    def auto() = {
      val (arm, res) = s.searchAuto(queries, 5, strengthSetting = 0,
        exactCutoff = 10, skewCutoff = 1.1)
      assert(arm === graft.operators.AdaptiveSearch.UseGraphSeeded)
      res
    }
    def rows(df: DataFrame) = df.select("query_id", "rn", "id", "score")
      .as[(Long, Int, Long, Double)].collect().toSeq.sorted
    val old = auto()
    val expected = rows(old)
    assert(expected.nonEmpty)
    val stream = MemoryStream[(Long, Seq[Float], String, Long)]
    val q = s.startIngest(stream.toDF().toDF("id", "vector", "op", "seq"))
    try {
      stream.addData(d1.map { case (i, v, _) => (i, v, "upsert", i) })
      q.processAllAvailable()
    } finally q.stop()
    assert(s.indexPointer === "0 1")
    // the new generation's first search replaces the memoized overlay
    // and walk snapshot; the old result keeps reading its own
    assert(rows(auto()).nonEmpty)
    assert(rows(old) === expected)
    s.delete()
  }

  test("membership chain ≡ fresh recompute over the served nodes — the " +
      "persisted memb table + O(|Δ|) delta rows replace the per-batch " +
      "corpus-wide projection exactly (upsert, move, delete)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val s = freshStore("memb")
    s.addBatch(baseRows.toDF("id", "vector"))
    s.rebuild()
    assert(graft.util.Fs.exists(spark, s.path + "/index_g0/memb"),
      "rebuild must write the generation's membership table")
    val stream = MemoryStream[(Long, Seq[Float], String, Long)]
    val q = s.startIngest(stream.toDF().toDF("id", "vector", "op", "seq"))
    try {
      stream.addData(d1.map { case (i, v, _) => (i, v, "upsert", i) })
      q.processAllAvailable()
      stream.addData(d2.map { case (i, v, del) =>
        (i, v, if (del) "delete" else "upsert", i) })
      q.processAllAvailable()
    } finally q.stop()
    assert(graft.util.Fs.exists(spark, s.path + "/index_g0_delta_1/memb"))
    def membSet(df: DataFrame): Set[(Int, String, Long)] =
      df.select(col("layer").cast("int"), col("b"), col("id"))
        .as[(Int, String, Long)].collect().toSet
    val served = membSet(s.servedMembership)
    val fresh = membSet(graft.operators.IndexBuild.membershipNarrow(
      s.servedIndex._1, params))
    assert(served === fresh)
    // the delete actually retired id 5's rows and the moved id 7 serves
    // its NEW vector's buckets only
    assert(!served.exists(_._3 == 5L))
    assert(served.exists(_._3 == 103L))
    s.delete()
  }

  test("compactIndex folds the chain into a fresh base that serves " +
      "identically; pointer resets single-token, chain dirs pruned") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val s = freshStore("compact")
    s.addBatch(baseRows.toDF("id", "vector"))
    s.rebuild()
    val stream = MemoryStream[(Long, Seq[Float], String, Long)]
    val q = s.startIngest(stream.toDF().toDF("id", "vector", "op", "seq"))
    try {
      stream.addData(d1.map { case (i, v, _) => (i, v, "upsert", i) })
      q.processAllAvailable()
    } finally q.stop()
    val before = edgeSet(s.servedIndex._2)
    s.compactIndex()
    assert(s.indexPointer === "1")
    assert(edgeSet(s.servedIndex._2) === before)
    assert(!graft.util.Fs.exists(spark, s.path + "/index_g0_delta_1"))
    // the fold materialized the membership overlay as the new base table
    assert(graft.util.Fs.exists(spark, s.path + "/index_g1/memb"))
    s.delete()
  }

  test("node-table delta chain: streamed batches append O(batch) node " +
      "deltas; batch-path mutations fold the chain implicitly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val s = freshStore("nodechain")
    s.addBatch(baseRows.toDF("id", "vector")) // full snapshot v0
    def current = graft.util.Fs.readString(spark, s.path + "/CURRENT").trim
    assert(current === "0")
    val stream = MemoryStream[(Long, Seq[Float], String, Long)]
    val q = s.startIngest(stream.toDF().toDF("id", "vector", "op", "seq"))
    try {
      stream.addData(Seq((300L, vec(300L), "upsert", 1L)))
      q.processAllAvailable()
      assert(current === "0 1") // one O(batch) node delta, no rewrite
      stream.addData(Seq((300L, vec(301L), "upsert", 2L), // update again
        (2L, Seq.empty[Float], "delete", 3L)))
      q.processAllAvailable()
      assert(current === "0 2")
    } finally q.stop()
    // the overlay serves latest-wins: the SECOND upsert's vector wins,
    // the tombstone shows, untouched base rows remain
    assert(s.count() === 40L) // 40 base + 1 new - 1 deleted
    assert(s.getNode(300L).exists(_._2 === vec(301L)))
    assert(s.getNode(2L).exists(_._3 === true))
    // a batch-path mutation derives from the overlay and folds the
    // chain into a full snapshot (single-token pointer)
    s.add(400L, vec(400L))
    assert(!current.contains(" "))
    assert(s.count() === 41L)
    assert(s.getNode(300L).exists(_._2 === vec(301L)))
    s.delete()
  }

  test("startIngest compactEvery folds the graph chain in-stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val s = freshStore("auto")
    s.addBatch(baseRows.toDF("id", "vector"))
    s.rebuild()
    val stream = MemoryStream[(Long, Seq[Float], String, Long)]
    val q = s.startIngest(stream.toDF().toDF("id", "vector", "op", "seq"),
      config = VectorStore.IngestConfig(compactEvery = 2))
    try {
      stream.addData(Seq((200L, vec(200L), "upsert", 1L)))
      q.processAllAvailable()
      assert(s.indexPointer === "0 1")
      stream.addData(Seq((201L, vec(201L), "upsert", 2L)))
      q.processAllAvailable()
      assert(s.indexPointer === "1") // second delta hit compactEvery
    } finally q.stop()
    val q201 = Seq((201L, vec(201L))).toDF("query_id", "query_vec")
    assert(s.searchAnnSeeded(q201, k = 1, strengthSetting = 0)
      .select("id").as[Long].head() === 201L)
    s.delete()
  }
}
