package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorFunctions

/** The fused walk over a broadcast [[GraphSnapshot]] against the frame
  * walk it replaces below the gate: identical rows and identical raw
  * score bits on seeded random graphs that hold zero vectors (NaN cosine
  * scores, which rank highest mid-walk), repeated vectors (score ties,
  * broken by id), tombstones, edges to ids that are not nodes, a query
  * without seeds, a zero query vector and an id filter — for the seeded
  * hybrid shape and the routed multi-level descent, both metrics. */
class GraphWalkSpec extends graft.SparkSpec {

  private val Dim = 6

  private final case class Fixture(nodes: DataFrame, edges: DataFrame,
      queries: DataFrame, seeds: DataFrame, filter: DataFrame)

  private def fixture(seed: Long, metric: String): Fixture = {
    val r = new scala.util.Random(seed)
    val n = 90
    val vecs = Array.fill(n)(Array.fill(Dim)(r.nextGaussian().toFloat))
    vecs(7) = Array.fill(Dim)(0f)
    vecs(41) = Array.fill(Dim)(0f)
    vecs(12) = vecs(11).clone()
    vecs(60) = vecs(11).clone()
    val ids = Array.tabulate(n)(i => i * 3L + 1L) // not contiguous
    val level = Array.tabulate(n)(i =>
      if (i % 10 == 0) 2 else if (i % 4 == 0) 1 else 0)
    val nodeRows = (0 until n).map(i =>
      Row(ids(i), vecs(i).toSeq, level(i), r.nextDouble() < 0.15))
    val nodes = spark.createDataFrame(
      spark.sparkContext.parallelize(nodeRows, 3),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("vector", ArrayType(FloatType, containsNull = false)),
        StructField("level", IntegerType),
        StructField("deleted", BooleanType))))
    val edgeRows = for {
      i <- 0 until n
      l <- 0 to level(i)
      members = (0 until n).filter(j => j != i && level(j) >= l)
      j <- r.shuffle(members).take(5).map(ids(_)) ++
        (if (r.nextDouble() < 0.2) Seq(100000L + i) else Nil)
    } yield Row(l, ids(i), j)
    val edges = spark.createDataFrame(
      spark.sparkContext.parallelize(edgeRows, 3),
      StructType(Seq(StructField("level", IntegerType),
        StructField("src", LongType), StructField("dst", LongType))))
    val qvecs = Array.fill(10)(Array.fill(Dim)(r.nextGaussian().toFloat)) ++
      Seq(Array.fill(Dim)(0f), vecs(11).clone())
    val queries = spark.createDataFrame(
      spark.sparkContext.parallelize(
        qvecs.indices.map(q => Row(q.toLong, qvecs(q).toSeq)), 2),
      StructType(Seq(StructField("query_id", LongType, nullable = false),
        StructField("query_vec", ArrayType(FloatType, containsNull = false)))))
    // seeds as a seeding stage emits them: node ids with their true score;
    // query 3 has none
    val pairs = for {
      q <- qvecs.indices if q != 3
      i <- r.shuffle((0 until n).toList).take(6)
    } yield (q.toLong, ids(i))
    val score = metric match {
      case "euclidean" => VectorFunctions.euclideanSim _
      case _ => VectorFunctions.cosineSim _
    }
    val seeds = spark.createDataFrame(pairs).toDF("query_id", "id")
      .join(nodes.select("id", "vector"), "id")
      .join(queries, "query_id")
      .select(col("query_id"), col("id"),
        score(col("query_vec"), col("vector")).as("score"))
    val filter = nodes.filter(col("id") % 3 =!= 1 || col("id") % 2 === 0)
      .select("id")
    Fixture(nodes, edges, queries, seeds, filter)
  }

  private def rows(df: DataFrame): Seq[(Long, Int, Long, Long)] =
    df.select("query_id", "rn", "id", "score").collect().map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2),
        java.lang.Double.doubleToRawLongBits(r.getDouble(3)))).toSeq.sorted

  for (metric <- Seq("cosine", "euclidean"); seed <- Seq(11L, 12L)) {
    test(s"fused walk ≡ frame walk, rows and score bits ($metric, seed $seed)") {
      VectorFunctions.register(spark)
      val f = fixture(seed, metric)
      val snap = GraphSnapshot.fitting(f.nodes, f.edges, Dim, 1L << 20)
      assert(snap.isDefined)
      def both(start: Option[DataFrame], levels: Seq[WalkLevel],
          seeds: Option[DataFrame], filter: Option[DataFrame],
          minSim: Double): (Seq[(Long, Int, Long, Long)], Seq[(Long, Int, Long, Long)]) = {
        def run(s: Option[GraphSnapshot]) = rows(AnnSearch.walk(f.nodes,
          f.edges, f.queries, s, start, levels, seeds, k = 5, minSim,
          metric, 1L << 20, filter, queryCount = -1L, edgeCap = 6))
        (run(snap), run(None))
      }
      // the seeded hybrid: seeds are the start frontier, level-0 hops
      val (fs, ws) = both(Some(f.seeds), Seq(WalkLevel(0, 8, 3)), None,
        None, -2.0)
      assert(fs.nonEmpty)
      assert(!fs.exists(_._1 == 3L)) // no seeds → no rows
      assert(fs === ws)
      // filtered, with a similarity floor
      val (ff, wf) = both(Some(f.seeds), Seq(WalkLevel(0, 6, 2)), None,
        Some(f.filter), 0.1)
      assert(ff === wf)
      // the routed descent: entry layer, one hop per upper level, the
      // seeds joining at level 0
      val routed = Seq(WalkLevel(2, 4, 1), WalkLevel(1, 4, 1),
        WalkLevel(0, 8, 2))
      val (fr, wr) = both(None, routed, Some(f.seeds), None, -2.0)
      assert(fr.exists(_._1 == 3L))
      assert(fr === wr)
    }
  }

  test("public graph searches: the fused walk reproduces the frame walk " +
      "on an index build") {
    VectorFunctions.register(spark)
    val emb = graft.Tables.embeddings(spark, sf001)
    val nodesDf = graft.queries.VectorQueries.asVectorTable(emb)
    val queriesDf = graft.queries.VectorQueries.querySet(emb)
    val params = IndexParams(m = 8, levelMax = 3, bucketBits = 4, nBands = 4)
    val (gn, ge) = IndexBuild.build(nodesDf, params)
    val nodes = gn.withColumn("deleted", col("id") % 7 === 0)
      .localCheckpoint()
    val edges = ge.localCheckpoint()
    val frame = GraphSnapshot.Held(None)
    val filter = Some(nodesDf.filter(col("id") % 2 === 0).select("id"))
    assert(rows(AnnSearch.searchGraph(nodes, edges, queriesDf, 10, -2.0,
        params, ef = 24)) ===
      rows(AnnSearch.searchGraph(nodes, edges, queriesDf, 10, -2.0,
        params, ef = 24, snapshot = frame)))
    val seeded = rows(AnnSearch.searchGraphSeeded(nodes, edges, queriesDf,
      10, 0.2, params, ef = 24, idFilter = filter))
    assert(seeded.nonEmpty)
    assert(seeded === rows(AnnSearch.searchGraphSeeded(nodes, edges,
      queriesDf, 10, 0.2, params, ef = 24, idFilter = filter,
      snapshot = frame)))
  }

  test("snapshot gate: the arithmetic size against broadcastBytes") {
    val f = fixture(13L, "cosine")
    val n = f.nodes.count(); val e = f.edges.count()
    val bytes = GraphSnapshot.bytesFor(n, Dim, e)
    // per node an 8-byte id, a 4-byte offset, a tombstone byte and 6
    // floats as a 40-byte UnsafeArrayData; per edge one int
    assert(bytes === n * 53 + 4 * e)
    for (d <- Seq(1, 6, 64, 65, 384))
      assert(GraphSnapshot.vectorBytes(d) === UnsafeArrayData
        .fromPrimitiveArray(new Array[Float](d)).getSizeInBytes)
    assert(GraphSnapshot.fitting(f.nodes, f.edges, Dim, bytes - 1).isEmpty)
    val s = GraphSnapshot.fitting(f.nodes, f.edges, Dim, bytes)
    assert(s.map(_.bytes) === Some(bytes))
    assert(s.map(_.nodes) === Some(n.toInt))
    assert(s.map(_.entryLevel) === Some(2))
  }
}
