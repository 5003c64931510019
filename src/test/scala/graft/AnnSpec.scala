package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{AnnSearch, IndexBuild, IndexParams, KnnSearch}
import graft.queries.VectorQueries

/** ANN build + search: recall vs the exact oracle, persistence round-trip,
  * structural invariants of the built graph. Distributed builds are
  * insert-order-free, so tests assert recall and invariants, not graph
  * isomorphism (SURVEY §7.5). */
class AnnSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf001)
  private lazy val nodesDf = VectorQueries.asVectorTable(emb)
  private lazy val queriesDf = VectorQueries.querySet(emb)
  private val params = IndexParams(m = 8, levelMax = 3, bucketBits = 4, nBands = 4)

  private def recallAt(k: Int, approx: DataFrame): Double = {
    val exact = KnnSearch.knnExact(nodesDf, queriesDf, k, minSim = -2.0)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val got = approx.select("query_id", "id").as[(Long, Long)].collect().toSet
    exact.intersect(got).size.toDouble / exact.size
  }

  test("LSH search recall@10 beats 0.6 with coarse buckets") {
    // coarser buckets (8 per band) trade candidate volume for recall —
    // the knob a caller turns per workload
    val coarse = params.copy(bucketBits = 3)
    val r = recallAt(10,
      AnnSearch.searchLsh(nodesDf, queriesDf, 10, minSim = -2.0, coarse))
    assert(r > 0.6, s"recall@10 = $r")
  }

  test("JL-projected seeding pre-cut (projDim): same output contract, " +
      "recall floor holds, and the exact tail still applies the floor") {
    val coarse = params.copy(bucketBits = 3)
    val base = AnnSearch.searchLsh(nodesDf, queriesDf, 10,
      minSim = -2.0, coarse)
    val jl = AnnSearch.searchLsh(nodesDf, queriesDf, 10,
      minSim = -2.0, coarse, projDim = 32)
    assert(jl.columns.toSeq === base.columns.toSeq)
    val rJl = recallAt(10, jl)
    // the projected cut keeps 4·k per query before the exact tail — at
    // 64→32 (the serving shape is 384→32) most LSH recall survives; a
    // 64→16 cut on this iid-noise fixture measured 0.41 (JL distortion
    // on structureless data — the production embedder case is gentler)
    assert(rJl > 0.5, s"JL recall@10 = $rJl")
    // scores in the output are the TRUE metric (the raw re-rank), so a
    // row present in both runs carries the identical score
    val bs = base.select("query_id", "id", "score")
      .as[(Long, Long, Double)].collect()
      .map { case (q, i, s) => ((q, i), s) }.toMap
    val js = jl.select("query_id", "id", "score")
      .as[(Long, Long, Double)].collect()
    val common = js.filter { case (q, i, _) => bs.contains((q, i)) }
    assert(common.nonEmpty)
    assert(common.forall { case (q, i, s) => bs((q, i)) == s })
    // seeded hybrid accepts the knob end-to-end
    val (gn, ge) = IndexBuild.build(nodesDf, coarse)
    val seeded = AnnSearch.searchGraphSeeded(gn, ge, queriesDf, 10,
      minSim = -2.0, coarse, ef = 32, iters = 1, seedProjDim = 32)
    assert(recallAt(10, seeded) > 0.5)
  }

  test("euclidean LSH: p-stable buckets beat sign-bit recall on non-normalized data") {
    // scale each vector by 1 + id%5: norms now carry signal that the
    // sign-bit (angle-only) family cannot see — exactly the case the
    // p-stable family exists for
    val scaled = nodesDf.withColumn("vector",
      transform(col("vector"),
        x => (x * (lit(1.0) + col("id") % 5)).cast("float")))
    val scaledQ = queriesDf.withColumn("query_vec",
      transform(col("query_vec"),
        x => (x * (lit(1.0) + col("query_id") % 5)).cast("float")))
    val exact = KnnSearch.knnExact(scaled, scaledQ, 10, minSim = -2.0,
        metric = "euclidean")
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    def recallOf(got: DataFrame): Double = {
      val g = got.select("query_id", "id").as[(Long, Long)].collect().toSet
      exact.intersect(g).size.toDouble / exact.size
    }
    val eu = params.copy(metric = "euclidean", bucketBits = 3, bucketWidth = 4.0)
    val pstable = recallOf(
      AnnSearch.searchLsh(scaled, scaledQ, 10, minSim = -2.0, eu))
    // the pre-dispatch behavior, hand-rolled to isolate the BUCKETS:
    // sign-bit (angle-only) candidate generation, euclidean scoring
    val cp = eu.copy(metric = "cosine")
    val cand = scaled
      .withColumn("b", explode(IndexBuild.bucketKeys(col("vector"), cp)))
      .select(col("b"), col("id"))
      .join(scaledQ.withColumn("b",
          explode(IndexBuild.bucketKeys(col("query_vec"), cp)))
        .select(col("b"), col("query_id")), Seq("b"))
      .dropDuplicates("query_id", "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id")).orderBy(col("score").desc, col("id").asc)
    val signBit = recallOf(cand
      .join(scaled.select(col("id"), col("vector")), Seq("id"))
      .join(scaledQ.select(col("query_id"), col("query_vec")), Seq("query_id"))
      .withColumn("score", graft.functions.VectorFunctions.euclideanSim(
        col("query_vec"), col("vector")))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10))
    assert(pstable > 0.6, s"p-stable recall@10 = $pstable")
    assert(pstable >= signBit,
      s"p-stable $pstable < sign-bit $signBit on non-normalized data")
  }

  test("large query set: non-broadcast kNN path, identical results") {
    // force the gate shut: any query set is "too big" at 0 bytes
    val big = KnnSearch.knnExact(nodesDf, queriesDf, 10, minSim = -2.0,
      broadcastBytes = 0L)
    val small = KnnSearch.knnExact(nodesDf, queriesDf, 10, minSim = -2.0)
    val plan = { big.collect(); big.queryExecution.executedPlan.toString }
    assert(!plan.contains("BroadcastExchange"), plan)
    val a = big.select("query_id", "id", "rn").as[(Long, Long, Int)]
      .collect().toSet
    val b = small.select("query_id", "id", "rn").as[(Long, Long, Int)]
      .collect().toSet
    assert(a === b)
  }

  test("IVF search: the Q×nProbe probed join is size-gated — gate=0 " +
      "forces a shuffled equi-join with identical results") {
    import graft.operators.IvfIndex
    val centroids = IvfIndex.train(nodesDf, k = 16, iters = 3)
      .localCheckpoint()
    val base = IvfIndex.search(nodesDf, centroids, queriesDf, 10,
        minSim = -2.0, nProbe = 4)
      .select("query_id", "id", "rn").as[(Long, Long, Int)].collect().toSet
    val autoBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBc = spark.conf
      .get("spark.sql.adaptive.autoBroadcastJoinThreshold", autoBc)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val gated = IvfIndex.search(nodesDf, centroids, queriesDf, 10,
        minSim = -2.0, nProbe = 4, broadcastBytes = 0L)
      val rows = gated.collect()
      val plan = gated.queryExecution.executedPlan.toString
      // the centroid-table broadcasts (assign + rank) are cells-bounded
      // and stay forced by design; the PROBED table — a query vector per
      // (query, probe) row, the Q-scaled relation — must meet the
      // members through a SHUFFLED equi-join on `cell`, never a
      // broadcast
      assert(!"BroadcastHashJoin \\[cell".r.findFirstIn(plan).isDefined &&
        ("SortMergeJoin \\[cell|ShuffledHashJoin \\[cell".r
          .findFirstIn(plan).isDefined), plan)
      val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(got === base)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", autoBc)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", aqeBc)
    }
  }

  test("graph search: the query-set broadcasts are size-gated — gate=0 " +
      "runs unhinted with identical results") {
    val (nodes, edges) = IndexBuild.build(nodesDf, params)
    val base = AnnSearch.searchGraph(nodes, edges, queriesDf, 10,
        minSim = -2.0, params, ef = 32)
      .select("query_id", "id", "rn").as[(Long, Long, Int)].collect().toSet
    val autoBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBc = spark.conf
      .get("spark.sql.adaptive.autoBroadcastJoinThreshold", autoBc)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val gated = AnnSearch.searchGraph(nodes, edges, queriesDf, 10,
        minSim = -2.0, params, ef = 32, broadcastBytes = 0L)
      val rows = gated.collect()
      val plan = gated.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), plan)
      val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(got === base)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", autoBc)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", aqeBc)
    }
  }

  test("LSH search: query broadcast gate=0 forces shuffle with identical results") {
    val coarse = params.copy(bucketBits = 3)
    val base = AnnSearch.searchLsh(nodesDf, queriesDf, 10, minSim = -2.0,
        coarse)
      .select("query_id", "id", "rn").as[(Long, Long, Int)].collect().toSet
    // gate shut + Spark's own auto-broadcast off, so the executed plan
    // contains no BroadcastExchange at all (the PqSpec gate pattern)
    val autoBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBc = spark.conf
      .get("spark.sql.adaptive.autoBroadcastJoinThreshold", autoBc)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val gated = AnnSearch.searchLsh(nodesDf, queriesDf, 10, minSim = -2.0,
        coarse, broadcastBytes = 0L)
      // collect THIS frame so executedPlan is the AQE-final plan of what ran
      val rows = gated.collect()
      val plan = gated.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastExchange"), plan)
      val got = rows.map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSet
      assert(got === base)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", autoBc)
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", aqeBc)
    }
  }

  test("anchored LSH search: sane recall, and ⊆ exact-candidate semantics") {
    // data-derived anchor planes (lowest-id vectors, 4 bands × 3 bits) —
    // the exact derivation a01 runs (shared helper, not a re-implementation)
    val anchors = graft.queries.AnnQueries.anchorPlanes(emb, nBands = 4, bits = 3)
    val got = AnnSearch.searchLshAnchored(
      nodesDf, queriesDf, 10, minSim = -2.0, anchors)
    val r = recallAt(10, got)
    assert(r > 0.3, s"recall@10 = $r")
    // per-query ranks are dense 1..n and scores are within [-1, 1]
    val badRank = got.groupBy("query_id")
      .agg(max("rn").as("mx"), count(lit(1)).as("n"))
      .filter(col("mx") =!= col("n")).count()
    assert(badRank === 0)
  }

  test("IVF sample codebook: k cells in id order, search matches exact at nProbe=k") {
    import graft.operators.IvfIndex
    val cb = IvfIndex.sampleCodebook(nodesDf, 10)
    val cells = cb.select("cell").as[Int].collect().sorted
    assert(cells.toSeq === (0 until 10))
    // probing every cell degrades IVF to exact search — results must match
    val ivfAll = IvfIndex.search(nodesDf, cb, queriesDf,
      k = 10, minSim = -2.0, nProbe = 10)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val exact = KnnSearch.knnExact(nodesDf, queriesDf, 10, minSim = -2.0)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(ivfAll === exact)
  }

  test("IVF k-means++ seeding: k cells, deterministic across " +
      "partitionings, full-probe search still exact") {
    import graft.operators.IvfIndex
    val s1 = IvfIndex.seedCentroidsPP(nodesDf.coalesce(1), 10)
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSet
    val s2 = IvfIndex.seedCentroidsPP(nodesDf.repartition(7), 10)
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1))).toSet
    assert(s1 === s2)
    assert(s1.map(_._1) === (0 until 10).toSet)
    // probing every cell degrades IVF to exact search regardless of the
    // seeding scheme — the PP-trained codebook must preserve that
    val cbPP = IvfIndex.trainPP(nodesDf, 10, iters = 2)
    val ivfAll = IvfIndex.search(nodesDf, cbPP, queriesDf,
      k = 10, minSim = -2.0, nProbe = 10)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val exact = KnnSearch.knnExact(nodesDf, queriesDf, 10, minSim = -2.0)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(ivfAll === exact)
  }

  test("built graph: degree ≤ M per level, edges bidirectional-deduped, no self loops") {
    val (nodes, edges) = IndexBuild.build(nodesDf, params)
    val maxDeg = edges.groupBy("level", "src").count()
      .agg(max("count")).head.getLong(0)
    assert(maxDeg <= params.m)
    assert(edges.filter(col("src") === col("dst")).count() === 0)
    assert(edges.groupBy("level", "src", "dst").count()
      .filter(col("count") > 1).count() === 0)
    // every edge endpoint is a member of that level
    val members = nodes.select(col("id"), col("level").as("node_level"))
    val bad = edges.join(members, edges("src") === members("id"))
      .filter(col("node_level") < col("level")).count()
    assert(bad === 0)
  }

  test("graph search checkpoints before the last hop: the final action " +
      "holds exactly one hop subplan") {
    val (nodes, edges) = IndexBuild.build(nodesDf, params)
    val out = AnnSearch.searchGraph(nodes, edges, queriesDf, k = 10,
      minSim = -2.0, params, ef = 32, itersPerLevel = 2)
    // each hop's dedup repartitions by query_id; a pending hop under the
    // last one would appear twice more (its union and expand branches)
    val hops = out.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical
          .RepartitionByExpression => r
    }
    assert(hops.size === 1, out.queryExecution.optimizedPlan)
    assert(out.count() > 0)
  }

  test("graph search recall@10 beats 0.4 and excludes tombstones") {
    val (nodes, edges) = IndexBuild.build(nodesDf, params)
    val r = recallAt(10, AnnSearch.searchGraph(nodes, edges, queriesDf,
      k = 10, minSim = -2.0, params, ef = 48, itersPerLevel = 2))
    assert(r > 0.4, s"graph recall@10 = $r")

    val deadId = 100L // a query's own best match — delete it
    val tombstoned = nodes.withColumn("deleted", col("id") === deadId)
    val got = AnnSearch.searchGraph(tombstoned, edges, queriesDf,
      k = 10, minSim = -2.0, params)
      .filter(col("id") === deadId).count()
    assert(got === 0)
  }

  test("LSH-seeded graph search: recall >= plain LSH at the same ef, " +
      "tombstones excluded from results but routable") {
    val (nodes, edges) = IndexBuild.build(nodesDf, params)
    val lshHits = AnnSearch.searchLsh(nodesDf, queriesDf, 10,
        minSim = -2.0, params)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val seeded = AnnSearch.searchGraphSeeded(nodes, edges, queriesDf,
      k = 10, minSim = -2.0, params, ef = 48, iters = 2)
    val seededHits = seeded.select("query_id", "id")
      .as[(Long, Long)].collect().toSet
    val exact = KnnSearch.knnExact(nodesDf, queriesDf, 10, minSim = -2.0)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val rLsh = exact.intersect(lshHits).size.toDouble / exact.size
    val rSeeded = exact.intersect(seededHits).size.toDouble / exact.size
    // expansions only ADD candidates before the true-score rank, so the
    // hybrid can never do worse than its seeds
    assert(rSeeded >= rLsh, s"seeded $rSeeded < lsh $rLsh")
    assert(rSeeded > 0.4, s"seeded recall@10 = $rSeeded")

    val deadId = 100L
    val tombstoned = nodes.withColumn("deleted", col("id") === deadId)
    val got = AnnSearch.searchGraphSeeded(tombstoned, edges, queriesDf,
      k = 10, minSim = -2.0, params)
      .filter(col("id") === deadId).count()
    assert(got === 0)
  }

  test("IVF-seeded graph search: recall >= its IVF seeds at the same " +
      "budget, tombstones excluded") {
    import graft.operators.IvfIndex
    val (nodes, edges) = IndexBuild.build(nodesDf, params)
    val centroids = IvfIndex.sampleCodebook(nodesDf, 16)
    val exact = KnnSearch.knnExact(nodesDf, queriesDf, 10, minSim = -2.0)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    def recallOf(df: DataFrame): Double = {
      val got = df.select("query_id", "id").as[(Long, Long)].collect().toSet
      exact.intersect(got).size.toDouble / exact.size
    }
    val rIvf = recallOf(IvfIndex.search(nodesDf, centroids, queriesDf,
      10, minSim = -2.0, nProbe = 4))
    val seeded = AnnSearch.searchGraphSeededIvf(nodes, edges, queriesDf,
      k = 10, minSim = -2.0, params, centroids, ef = 48, iters = 2,
      nProbe = 4)
    val rSeeded = recallOf(seeded)
    // expansions only ADD candidates before the true-score rank
    assert(rSeeded >= rIvf, s"ivf-seeded $rSeeded < ivf $rIvf")
    assert(rSeeded > 0.4, s"ivf-seeded recall@10 = $rSeeded")
    val deadId = 100L
    val tombstoned = nodes.withColumn("deleted", col("id") === deadId)
    assert(AnnSearch.searchGraphSeededIvf(tombstoned, edges, queriesDf,
        k = 10, minSim = -2.0, params, centroids, ef = 48, iters = 1)
      .filter(col("id") === deadId).count() === 0)
  }

  test("band-agreement shortlist: a generous shortlist reproduces the " +
      "unshortlisted results exactly; a tight one stays query-specific " +
      "with sane recall") {
    val base = AnnSearch.searchLsh(nodesDf, queriesDf, 10, minSim = -2.0,
        params)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    // shortlist >= every query's candidate count (500-node fixture) —
    // the cap never bites, results identical
    val generous = AnnSearch.searchLsh(nodesDf, queriesDf, 10,
        minSim = -2.0, params, shortlist = 100000)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(generous === base)
    // a tight cap still yields k rows per query with usable recall (the
    // fixture's buckets are small, so most of the top-k collide in >= 1
    // band and survive the agreement rank)
    val tight = AnnSearch.searchLsh(nodesDf, queriesDf, 10,
      minSim = -2.0, params, shortlist = 64)
    val nQ = queriesDf.count()
    assert(tight.groupBy("query_id").count()
      .filter(col("count") =!= 10).count() === 0)
    assert(tight.select("query_id").distinct().count() === nQ)
    val r = recallAt(10, tight)
    assert(r > 0.3, s"shortlisted recall@10 = $r")
  }

  test("save/load round-trip preserves params (incl. metric) and tables") {
    val dir = java.nio.file.Files.createTempDirectory("graft-index").toString
    val (nodes, edges) = IndexBuild.build(nodesDf,
      params.copy(metric = "euclidean"))
    IndexBuild.save(nodes, edges, params.copy(metric = "euclidean"), dir)
    val (n2, e2, p2) = IndexBuild.load(spark, dir)
    assert(p2 === params.copy(metric = "euclidean")) // no metric loss on reload
    assert(n2.count() === nodes.count())
    assert(e2.count() === edges.count())
  }

  test("level assignment is geometric-ish: level 0 dominates 10:1") {
    val levels = nodesDf.withColumn("level", IndexBuild.levelOf(col("id")))
      .groupBy("level").count().as[(Int, Long)].collect().toMap
    assert(levels.getOrElse(0, 0L) > 10 * levels.getOrElse(1, 1L))
  }
}
