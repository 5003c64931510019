package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators._
import graft.queries.VectorQueries

/** Filtered (predicate-pushed) search across every index arm: PRE-filter
  * semantics — the predicate's id set semi-joins the id-keyed index
  * tables BEFORE probing/ranking, so results are exact top-k OVER THE
  * FILTERED SUBSET and work shrinks with the filtered fraction. A
  * post-filter implementation (rank first, filter after) returns < k
  * rows and misses matches under selective predicates — the exactness
  * tests here distinguish the two. */
class FilteredSearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf001)
  private lazy val nodesDf = VectorQueries.asVectorTable(emb)
  private lazy val queriesDf = VectorQueries.querySet(emb)
  private val params = IndexParams(m = 8, levelMax = 3, bucketBits = 4,
    nBands = 4)

  private def pred: Column = col("id") % 3 === 0
  private lazy val fIds = nodesDf.filter(pred).select(col("id"))

  /** Exact top-k over the filtered subset — the ground truth every
    * pre-filtering arm must be able to reach. */
  private def exactFiltered(k: Int): Set[(Long, Long)] =
    KnnSearch.knnExact(nodesDf.filter(pred), queriesDf, k, minSim = -2.0)
      .select("query_id", "id").as[(Long, Long)].collect().toSet

  private def pairs(df: DataFrame): Set[(Long, Long)] =
    df.select("query_id", "id").as[(Long, Long)].collect().toSet

  test("filtered IVF with every cell probed EQUALS exact filtered top-k " +
      "(pre-filter, not post-filter)") {
    val centroids = IvfIndex.sampleCodebook(nodesDf, k = 10)
    val got = pairs(IvfIndex.search(nodesDf, centroids, queriesDf,
      k = 10, minSim = -2.0, nProbe = 10, idFilter = Some(fIds)))
    assert(got === exactFiltered(10))
  }

  test("filtered SQ rerank with corpus-deep shortlist EQUALS exact " +
      "filtered top-k; plain filtered SQ stays inside the filter") {
    val bounds = SqIndex.trainBounds(nodesDf)
    val codes = SqIndex.encode(nodesDf, bounds)
    val deep = pairs(SqIndex.searchSqRerankScored(nodesDf, codes, bounds,
      queriesDf, k = 10, shortlist = 1000, minSim = -2.0,
      idFilter = Some(fIds)))
    assert(deep === exactFiltered(10))
    val sq = SqIndex.searchSq(codes, bounds, queriesDf, k = 10,
      idFilter = Some(fIds))
    assert(sq.join(nodesDf.filter(!pred), Seq("id"), "left_semi")
      .count() === 0L)
  }

  test("filtered BQ / PQ arms return only matching ids and full ranks " +
      "(k results per query — a post-filter would return fewer)") {
    val bounds = SqIndex.trainBounds(nodesDf)
    val bits = BqIndex.encode(nodesDf, bounds)
    val bq = BqIndex.searchBqRerankScored(nodesDf, bits, bounds, queriesDf,
      k = 5, shortlist = 60, minSim = -2.0, idFilter = Some(fIds))
    assert(bq.join(nodesDf.filter(!pred), Seq("id"), "left_semi")
      .count() === 0L)
    // 1/3 of 500 nodes match: every query must still fill k = 5 ranks
    assert(bq.groupBy("query_id").count()
      .filter(col("count") =!= 5).count() === 0L)
    val cb = PqIndex.sampleCodebooks(nodesDf, m = 8, subLen = 8, ksub = 16)
    val codes = PqIndex.encode(nodesDf, cb, m = 8, subLen = 8)
    val pq = PqIndex.searchAdcRerankScored(nodesDf, codes, cb, queriesDf,
      k = 5, shortlist = 60, m = 8, subLen = 8, minSim = -2.0,
      idFilter = Some(fIds))
    assert(pq.join(nodesDf.filter(!pred), Seq("id"), "left_semi")
      .count() === 0L)
    assert(pq.groupBy("query_id").count()
      .filter(col("count") =!= 5).count() === 0L)
  }

  test("the restriction is a semi-join BELOW the pairing join — the " +
      "filter reaches the scan side, shrinking scored rows") {
    val bounds = SqIndex.trainBounds(nodesDf)
    val codes = SqIndex.encode(nodesDf, bounds)
    val df = SqIndex.searchSq(codes, bounds, queriesDf, k = 10,
      idFilter = Some(fIds))
    val p = df.queryExecution.executedPlan.toString
    val semiAt = p.indexOf("LeftSemi")
    val pairAt = math.max(p.indexOf("BroadcastNestedLoopJoin"),
      p.indexOf("CartesianProduct"))
    assert(semiAt >= 0, s"no semi-join in plan:\n$p")
    // executed plans print top-down: the pairing join must appear ABOVE
    // (= before) the semi-join feeding its scan side
    assert(pairAt >= 0 && pairAt < semiAt,
      s"semi-join not below the pairing join:\n$p")
  }

  test("searchGraphSeededIvf honors the filter: results ⊆ matching ids, " +
      "recall vs exact filtered clears 0.8 at full probe") {
    val (nodes, edges) = IndexBuild.build(nodesDf, params)
    val centroids = IvfIndex.sampleCodebook(nodesDf, k = 10)
    val got = AnnSearch.searchGraphSeededIvf(nodes, edges, queriesDf,
      k = 10, minSim = -2.0, params, centroids, ef = 48, iters = 2,
      nProbe = 10, idFilter = Some(fIds))
    assert(got.join(nodesDf.filter(!pred), Seq("id"), "left_semi")
      .count() === 0L)
    val exact = exactFiltered(10)
    val r = exact.intersect(pairs(got)).size.toDouble / exact.size
    assert(r > 0.8, s"filtered seeded recall@10 = $r")
  }

  test("AdaptiveSearch dispatches on the FILTERED size: a selective " +
      "predicate under the cutoff serves exact over just the subset") {
    val (sUnf, _) = AdaptiveSearch.search(nodesDf, queriesDf, k = 10,
      minSim = -2.0, params, exactCutoff = 200)
    assert(sUnf !== AdaptiveSearch.UseExact) // 500 nodes > 200
    val (sF, res) = AdaptiveSearch.search(nodesDf, queriesDf, k = 10,
      minSim = -2.0, params, exactCutoff = 200, idFilter = Some(fIds))
    assert(sF === AdaptiveSearch.UseExact) // 167 matching < 200
    assert(pairs(res) === exactFiltered(10))
  }

  test("selectivity-aware probe escalation: a starved seed budget under " +
      "a selective predicate is escalated to ~nProbe/selectivity and " +
      "clears an exact-level recall floor") {
    val (nodes, edges) = IndexBuild.build(nodesDf, params)
    val centroids = IvfIndex.sampleCodebook(nodesDf, k = 10)
    val asg = IvfIndex.assign(nodesDf, centroids)
      .select(col("id"), col("cell"))
    val cb = PqIndex.sampleCodebooks(nodesDf, m = 8, subLen = 8, ksub = 16)
    val pre = AdaptiveSearch.PqPrebuilt(centroids, asg, cb,
      PqIndex.encode(nodesDf, cb, m = 8, subLen = 8))
    // 1/10 selectivity × seededNProbe 1 → escalated probe = all 10 cells;
    // without escalation a single probed cell holds ~5 matching rows and
    // the walk cannot recover the rest (AnnSearch.walk's filtered-walk
    // contract: expansions only reach matching neighbors of matching
    // seeds)
    val p10: Column = col("id") % 10 === 0
    val f10 = nodesDf.filter(p10).select(col("id"))
    val (strat, res) = AdaptiveSearch.search(nodesDf, queriesDf, k = 5,
      minSim = -2.0, params, exactCutoff = 10, skewCutoff = 1.1,
      seededNProbe = 1,
      prebuiltPq = Some(pre), prebuiltGraph = Some((nodes, edges)),
      idFilter = Some(f10))
    assert(strat === AdaptiveSearch.UseGraphSeededIvf)
    val exact = KnnSearch.knnExact(nodesDf.filter(p10), queriesDf, 5,
        minSim = -2.0)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val r = exact.intersect(pairs(res)).size.toDouble / exact.size
    assert(r >= 0.9, s"escalated filtered seeded recall@5 = $r")
  }

  test("filtered PQ probe escalation: a 1-probe budget under a 1/10 " +
      "filter still fills k ranks (a starved fixed probe returns fewer)") {
    val dir = graft.util.Fs.tempDirDeletedOnExit("graft-filtered-pqesc")
    val store = VectorStore.openOrCreate(spark, dir, IndexParams(dim = 64))
    store.addBatch(nodesDf.select(col("id"), col("vector")))
    store.buildPqIndex(cells = 10)
    val p10: Column = col("id") % 10 === 0 // 50 of 500 rows match
    val got = store.searchPq(queriesDf, k = 10, strengthSetting = 0,
      nProbe = 1, predicate = Some(p10))
    assert(got.join(nodesDf.filter(!p10), Seq("id"), "left_semi")
      .count() === 0L)
    // escalation probes min(cells, 1/selectivity) = all 10 cells, so
    // every query reaches the full 50-row matching set and fills k = 10;
    // an unescalated single cell holds ~5 matching rows
    assert(got.groupBy("query_id").count()
      .filter(col("count") =!= 10).count() === 0L)
    // with the shortlist ALSO escalated (capped at the filtered count),
    // the re-rank covers the whole 50-row subset: the facade's filtered
    // PQ serve is EXACT over the filter here, not merely k-filling
    assert(pairs(got) ===
      pairs(store.searchWhere(queriesDf, k = 10, p10, strengthSetting = 0)))
    store.delete()
  }

  test("retrieval tower predicates: BM25 stats recompute on the subset " +
      "(pre-filter), hybrid filters each side on its own columns") {
    import spark.implicits._
    val dir = graft.util.Fs.tempDirDeletedOnExit("graft-filtered-ret")
    val store = VectorStore.openOrCreate(spark, dir, IndexParams(dim = 64))
    // "rare" appears once among matching docs, in every non-matching doc:
    // subset idf is high, corpus idf ~0 — pre-filter semantics rank doc 0
    // first for the "rare" query; a post-filter of corpus-wide BM25 would
    // score it near zero
    store.putDocuments(Seq(
      (0L, "rare alpha beta"), (3L, "alpha beta gamma"),
      (6L, "beta gamma delta"),
      (1L, "rare rare rare"), (2L, "rare rare"), (4L, "rare gamma"),
      (5L, "rare beta")).toDF("doc_id", "text"))
    val q = Seq((100L, "rare")).toDF("query_id", "text")
    val hits = store.searchBm25(q, topK = 5,
        predicate = Some(col("doc_id") % 3 === 0))
      .select("id").as[Long].collect().toSet
    assert(hits === Set(0L)) // only matching docs serve; doc 0 scores > 0
    // hybrid: doc predicate on doc_id, vector predicate on id
    store.addBatch(nodesDf.select(col("id"), col("vector")))
    val qv = queriesDf.limit(1)
    val fused = store.searchHybrid(q, qv, topK = 5,
      docPredicate = Some(col("doc_id") % 3 === 0),
      vecPredicate = Some(pred))
    assert(fused.join(nodesDf.filter(!pred)
        .select(col("id")), Seq("id"), "left_semi")
      .filter(col("id") =!= 0L).count() === 0L)
    store.delete()
  }

  test("VectorStore facade: searchWhere (exact) and the index arms " +
      "agree on the filtered top-k through a persisted store") {
    val dir = graft.util.Fs.tempDirDeletedOnExit("graft-filtered-store")
    val store = VectorStore.openOrCreate(spark, dir,
      IndexParams(dim = 64))
    store.addBatch(nodesDf.select(col("id"), col("vector")))
    store.buildPqIndex(cells = 10)
    store.buildSqIndex()
    val exact = pairs(store.searchWhere(queriesDf, k = 5, pred,
      strengthSetting = 0))
    val viaSq = pairs(store.searchSq(queriesDf, k = 5,
      strengthSetting = 0, shortlist = 1000, predicate = Some(pred)))
    assert(viaSq === exact)
    val viaPq = store.searchPq(queriesDf, k = 5, strengthSetting = 0,
      nProbe = 10, predicate = Some(pred))
    assert(viaPq.join(nodesDf.filter(!pred), Seq("id"), "left_semi")
      .count() === 0L)
    // searchAuto with the predicate: filtered size (167) under the
    // default exact cutoff → exact arm over the subset
    val (strat, auto) = store.searchAuto(queriesDf, k = 5,
      strengthSetting = 0, predicate = Some(pred))
    assert(strat === AdaptiveSearch.UseExact)
    assert(pairs(auto) === exact)
  }

  test("CORRELATED predicate (filter aligned with the cluster structure): " +
      "the probed ranking runs over cells that CONTAIN matching members — " +
      "an all-cells rank would probe only empty cells and return nothing") {
    // two well-separated clusters: A on axis 0 (ids 0-199), B on axis 1
    // (ids 200-399); the filter selects exactly cluster B, queries come
    // from cluster A — the search-within-source worst case FilterProbe's
    // escalation mode measured at recall 0.0 without the cell guard
    def clustered(ids: Range, axis: Int): DataFrame =
      ids.map { i =>
        val v = Array.fill(16)(0.05f * ((i * 7 + axis) % 5 - 2))
        v(axis) = 1.0f
        (i.toLong, v.toSeq)
      }.toDF("id", "vector")
    val nodes = clustered(0 until 200, 0)
      .unionByName(clustered(200 until 400, 1))
      .withColumn("deleted", lit(false)).localCheckpoint()
    val queries = clustered(0 until 3, 0)
      .select(col("id").as("query_id"), col("vector").as("query_vec"))
    val fB = nodes.filter(col("id") >= 200L).select(col("id"))
    val centroids = IvfIndex.train(nodes, k = 8, iters = 2)
    // nProbe = 2 << cells: under an all-cells rank the two most
    // query-similar cells are cluster-A cells with ZERO matching members
    val ivf = IvfIndex.search(nodes, centroids, queries, k = 5,
      minSim = -2.0, nProbe = 2, idFilter = Some(fB))
    assert(ivf.filter(col("id") < 200L).count() === 0L)
    assert(ivf.groupBy("query_id").count()
      .filter(col("count") =!= 5).count() === 0L,
      "a query returned < k rows — the probe starved on empty cells")
    // the compressed-arm probe shares the guard
    val asg = IvfIndex.assign(nodes, centroids).select(col("id"), col("cell"))
    val cb = PqIndex.sampleCodebooks(nodes, m = 8, subLen = 2, ksub = 16)
    val codes = PqIndex.encode(nodes, cb, m = 8, subLen = 2)
    val pq = PqIndex.searchIvfPq(codes, asg, centroids, cb, queries,
      k = 5, nProbe = 2, m = 8, subLen = 2, idFilter = Some(fB))
    assert(pq.filter(col("id") < 200L).count() === 0L)
    assert(pq.groupBy("query_id").count()
      .filter(col("count") =!= 5).count() === 0L)
  }

  test("CORRELATED predicate on the LSH arm: the exact-bucket equi-join " +
      "starves (query buckets hold zero matching members); occupied-bucket " +
      "multi-probe at full escalation EQUALS exact filtered top-k") {
    // the IVF correlated fixture's shape: cluster A on axis 0 (ids
    // 0-199), cluster B on axis 1 (ids 200-399), filter = cluster B,
    // queries from cluster A — sign-bit buckets separate the axes, so
    // the query's own bucket never contains a matching member
    def clustered(ids: Range, axis: Int): DataFrame =
      ids.map { i =>
        val v = Array.fill(16)(0.05f * ((i * 7 + axis) % 5 - 2))
        v(axis) = 1.0f
        (i.toLong, v.toSeq)
      }.toDF("id", "vector")
    val nodes = clustered(0 until 200, 0)
      .unionByName(clustered(200 until 400, 1)).localCheckpoint()
    val queries = clustered(0 until 3, 0)
      .select(col("id").as("query_id"), col("vector").as("query_vec"))
    val fB = nodes.filter(col("id") >= 200L).select(col("id"))
    val p = IndexParams(dim = 16, bucketBits = 4, nBands = 4)
    val starved = AnnSearch.searchLsh(nodes, queries, k = 5,
      minSim = -2.0, p, idFilter = Some(fB))
    val truth = KnnSearch.knnExact(nodes.filter(col("id") >= 200L),
      queries, k = 5, minSim = -2.0)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    // probeBuckets ≥ occupied buckets per band ⇒ every filtered member
    // is a candidate ⇒ exact top-k over the filtered subset by
    // construction (scoring within probed buckets is exact)
    val escalated = AnnSearch.searchLsh(nodes, queries, k = 5,
      minSim = -2.0, p, idFilter = Some(fB),
      probeBuckets = AnnSearch.escalatedProbes(1, 1, 100, 1L << 4))
    assert(pairs(escalated) === truth)
    assert(starved.count() < escalated.count(),
      "the exact-bucket join should starve under the cluster-aligned " +
        "filter — if it ever stops starving, tighten the fixture")
    // facade: searchAnn(predicate=) escalates from the memoized counts
    val dir = graft.util.Fs.tempDirDeletedOnExit("graft-filtered-lshmp")
    val store = VectorStore.openOrCreate(spark, dir, p)
    store.addBatch(nodes)
    store.rebuild()
    // strength -200 → threshold -2.0: cross-cluster cosines can be
    // slightly negative and must not be threshold-dropped here
    val got = store.searchAnn(queries, k = 5, strengthSetting = -200,
      predicate = Some(col("id") >= 200L))
    assert(got.join(nodes.filter(col("id") < 200L), Seq("id"),
      "left_semi").count() === 0L)
    assert(got.groupBy("query_id").count()
      .filter(col("count") =!= 5).count() === 0L,
      "a query returned < k rows through the facade — escalation " +
        "did not engage")
    // the LSH-SEEDED arm rides the same seed probe: the filtered-walk
    // contract puts its recall on the seeds (expansions never route
    // through non-matching nodes), so without the escalated seed probe
    // this starves identically
    val seeded = store.searchAnnSeeded(queries, k = 5,
      strengthSetting = -200, predicate = Some(col("id") >= 200L))
    assert(seeded.join(nodes.filter(col("id") < 200L), Seq("id"),
      "left_semi").count() === 0L)
    assert(seeded.groupBy("query_id").count()
      .filter(col("count") =!= 5).count() === 0L,
      "the seeded arm's filtered seed probe did not escalate")
  }

  test("the DISPATCHER's no-artifact LSH arm escalates probeBuckets under " +
      "a correlated filter: k ranks filled, results inside the filter") {
    def clustered(ids: Range, axis: Int): DataFrame =
      ids.map { i =>
        val v = Array.fill(16)(0.05f * ((i * 7 + axis) % 5 - 2))
        v(axis) = 1.0f
        (i.toLong, v.toSeq)
      }.toDF("id", "vector")
    val nodes = clustered(0 until 200, 0)
      .unionByName(clustered(200 until 400, 1)).localCheckpoint()
    val queries = clustered(0 until 3, 0)
      .select(col("id").as("query_id"), col("vector").as("query_vec"))
    // filter = a 40-row slice of cluster B: selectivity 1/10 escalates
    // the occupied-bucket probe to 10 per band — enough to cover the
    // slice's buckets; skewCutoff = 1.0 pins the UseLsh arm (this
    // fixture is deliberately hot-bucketed, which would otherwise
    // dispatch to IVF), exactCutoff = 10 keeps the 40 rows above it
    val fB = nodes.filter(col("id") >= 200L && col("id") < 240L)
      .select(col("id"))
    val p = IndexParams(dim = 16, bucketBits = 4, nBands = 4)
    val (strat, res) = AdaptiveSearch.search(nodes, queries, k = 5,
      minSim = -2.0, p, exactCutoff = 10, skewCutoff = 1.0,
      idFilter = Some(fB))
    assert(strat === AdaptiveSearch.UseLsh)
    assert(res.filter(col("id") < 200L || col("id") >= 240L)
      .count() === 0L)
    assert(res.groupBy("query_id").count()
      .filter(col("count") =!= 5).count() === 0L,
      "a query returned < k rows — the dispatcher's LSH arm did not " +
        "escalate probeBuckets")
    // RECALL FLOOR at 1/10 selectivity (the r12 verdict's gap: the
    // volume-constant budget served 0.76–0.835 here): the default path
    // now probes 3×/sel with the probe-all clause armed, and on this
    // fixture that reaches every occupied bucket — the result must
    // EQUAL the exact filtered top-k, not approximate it
    val truth = KnnSearch.knnExact(
        nodes.filter(col("id") >= 200L && col("id") < 240L),
        queries, k = 5, minSim = -2.0)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(pairs(res) === truth,
      "the dispatcher's default filtered-LSH path must serve exact " +
        "filtered top-k on a probe-all-covered fixture")
  }

  test("probe-all clause: a band the filter shrank to few occupied " +
      "buckets is probed in FULL — exact filtered top-k even at a " +
      "starved probeBuckets budget") {
    def clustered(ids: Range, axis: Int): DataFrame =
      ids.map { i =>
        val v = Array.fill(16)(0.05f * ((i * 7 + axis) % 5 - 2))
        v(axis) = 1.0f
        (i.toLong, v.toSeq)
      }.toDF("id", "vector")
    val nodes = clustered(0 until 200, 0)
      .unionByName(clustered(200 until 400, 1)).localCheckpoint()
    val queries = clustered(0 until 3, 0)
      .select(col("id").as("query_id"), col("vector").as("query_vec"))
    val fB = nodes.filter(col("id") >= 200L).select(col("id"))
    val p = IndexParams(dim = 16, bucketBits = 4, nBands = 4)
    val truth = KnnSearch.knnExact(nodes.filter(col("id") >= 200L),
      queries, k = 5, minSim = -2.0)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    // probeBuckets = 1 alone starves on this correlated fixture (the
    // spec above pins that); arming probeAllOcc ≥ the 2^4 = 16 possible
    // buckets per band probes every occupied bucket → exact by
    // construction, regardless of the rank budget
    val probedAll = AnnSearch.searchLsh(nodes, queries, k = 5,
      minSim = -2.0, p, idFilter = Some(fB),
      probeBuckets = 1, probeAllOcc = 16)
    assert(pairs(probedAll) === truth,
      "probe-all must make the filtered LSH arm exact over the subset")
    // a cap BELOW every band's occupancy leaves the clause dormant: the
    // probe set stays the ranked top-`probeBuckets` (a fully-probed
    // 1-bucket band is its own top-1, a subset of any rank budget), so
    // results must EQUAL the clause-off ranked run — pinning that the
    // clause keys on occupancy, not on mere arming
    val dormant = AnnSearch.searchLsh(nodes, queries, k = 5,
      minSim = -2.0, p, idFilter = Some(fB),
      probeBuckets = 2, probeAllOcc = 1)
    val rankedOnly = AnnSearch.searchLsh(nodes, queries, k = 5,
      minSim = -2.0, p, idFilter = Some(fB),
      probeBuckets = 2, probeAllOcc = 0)
    assert(pairs(dormant) === pairs(rankedOnly),
      "a sub-occupancy probeAllOcc must not expand the probe set")
  }

  test("CORRELATED predicate on the EUCLIDEAN p-stable arm: occupied-cell " +
      "multi-probe ranks by L1 cell distance and at full escalation " +
      "EQUALS exact filtered top-k") {
    // clusters separated in DATA units (the p-stable family hashes raw
    // L2 positions): A at 10·e0, B at 10·e1 — cells differ at the
    // default bucketWidth 4, so the exact-cell equi-join starves
    def clustered(ids: Range, axis: Int): DataFrame =
      ids.map { i =>
        val v = Array.fill(16)(0.2f * ((i * 7 + axis) % 5 - 2))
        v(axis) = 10.0f
        (i.toLong, v.toSeq)
      }.toDF("id", "vector")
    val nodes = clustered(0 until 200, 0)
      .unionByName(clustered(200 until 400, 1)).localCheckpoint()
    val queries = clustered(0 until 3, 0)
      .select(col("id").as("query_id"), col("vector").as("query_vec"))
    val fB = nodes.filter(col("id") >= 200L).select(col("id"))
    val p = IndexParams(dim = 16, bucketBits = 4, nBands = 4,
      metric = "euclidean")
    val starved = AnnSearch.searchLsh(nodes, queries, k = 5,
      minSim = -2.0, p, idFilter = Some(fB))
    val truth = KnnSearch.knnExact(nodes.filter(col("id") >= 200L),
      queries, k = 5, minSim = -2.0, metric = "euclidean")
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    // probeBuckets ≥ occupied cells per band (≤ 400 members) ⇒ every
    // filtered member is a candidate ⇒ exact over the filtered subset
    val escalated = AnnSearch.searchLsh(nodes, queries, k = 5,
      minSim = -2.0, p, idFilter = Some(fB), probeBuckets = 400)
    assert(pairs(escalated) === truth)
    assert(starved.count() < escalated.count(),
      "the exact-cell join should starve under the cluster-aligned " +
        "filter — if it ever stops starving, tighten the fixture")
    // the dispatcher's euclidean LSH arm escalates with the
    // filtered-count cap (p-stable integer cells are unbounded — 2^bits
    // is the wrong occupancy bound for this family)
    val fSlice = nodes.filter(col("id") >= 200L && col("id") < 240L)
      .select(col("id"))
    val (strat, res) = AdaptiveSearch.search(nodes, queries, k = 5,
      minSim = -2.0, p, exactCutoff = 10, skewCutoff = 1.0,
      idFilter = Some(fSlice))
    assert(strat === AdaptiveSearch.UseLsh)
    assert(res.filter(col("id") < 200L || col("id") >= 240L)
      .count() === 0L)
    assert(res.groupBy("query_id").count()
      .filter(col("count") =!= 5).count() === 0L,
      "a euclidean query returned < k rows — the dispatcher's LSH arm " +
        "did not escalate probeBuckets for the p-stable family")
  }
}
