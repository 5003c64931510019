package graft

import org.apache.spark.sql.functions.{col, lit}
import graft.operators.{AdaptiveSearch, GraphSnapshot, IndexBuild,
  IndexParams, KnnSearch}
import graft.queries.VectorQueries

class AdaptiveSearchSpec extends SparkSpec {
  import spark.implicits._

  test("decision rules: size gate, then memory gate, then skew gate") {
    import AdaptiveSearch._
    assert(decide(1000, 0.5) === UseExact)   // tiny → exact regardless of skew
    assert(decide(1000000, 0.2) === UseIvf)  // big + hot bucket → IVF
    assert(decide(1000000, 0.001) === UseLsh) // big + uniform → LSH
    // past the memory cutoff the compressed path wins on bytes alone —
    // unless the dim doesn't factor into subspaces
    assert(decide(10000000, 0.2) === UsePq)
    assert(decide(10000000, 0.2, pqEligible = false) === UseIvf)
  }

  test("forced PQ dispatch runs the compressed path end to end") {
    val emb = Tables.embeddings(spark, sf001)
    val nodesDf = VectorQueries.asVectorTable(emb)
    val queriesDf = VectorQueries.querySet(emb)
    // size gate fires before the memory gate — pqCutoff=1 alone still
    // yields EXACT for 500 rows
    val (sPrec, _) = AdaptiveSearch.search(
      nodesDf, queriesDf, k = 5, minSim = 0.2, IndexParams(bucketBits = 4),
      pqCutoff = 1L)
    assert(sPrec === AdaptiveSearch.UseExact)
    // dropping both cutoffs reaches the PQ arm; a corpus-vector query
    // must re-find itself through the compressed scan + exact re-rank
    val (sPq, res) = AdaptiveSearch.search(
      nodesDf, queriesDf, k = 5, minSim = 0.2, IndexParams(bucketBits = 4),
      exactCutoff = 0L, pqCutoff = 1L)
    assert(sPq === AdaptiveSearch.UsePq)
    val selfHits = res.filter(col("query_id") === col("id")).count()
    assert(selfHits === queriesDf.count())
    // contract parity with the other arms: same schema, minSim honored
    assert(res.columns.toSeq === Seq("query_id", "id", "score", "rn"))
    assert(res.filter(col("score") <= 0.2).isEmpty)
  }

  test("Q-aware PQ arm: budgets that force chunking serve the identical " +
      "rows as the unchunked dispatch") {
    val emb = Tables.embeddings(spark, sf001)
    val nodesDf = VectorQueries.asVectorTable(emb)
    val queriesDf = VectorQueries.querySet(emb)
    val (s1, direct) = AdaptiveSearch.search(
      nodesDf, queriesDf, k = 5, minSim = 0.2, IndexParams(bucketBits = 4),
      exactCutoff = 0L, pqCutoff = 1L)
    assert(s1 === AdaptiveSearch.UsePq)
    // 1-byte budgets drive pqChunkRows to 1 → every query its own chunk;
    // the union must equal the single-call result row-for-row
    val (s2, chunked) = AdaptiveSearch.search(
      nodesDf, queriesDf, k = 5, minSim = 0.2, IndexParams(bucketBits = 4),
      exactCutoff = 0L, pqCutoff = 1L,
      lutBudgetBytes = 1L, rerankBudgetBytes = 1L)
    assert(s2 === AdaptiveSearch.UsePq)
    val a = direct.select("query_id", "id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    val b = chunked.select("query_id", "id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    assert(b === a)
    chunked.unpersist()
  }

  test("Q-aware EXACT arm: a gate budget that forces chunking serves the " +
      "identical rows as the unchunked broadcast sweep") {
    val emb = Tables.embeddings(spark, sf001)
    val nodesDf = VectorQueries.asVectorTable(emb)
    val queriesDf = VectorQueries.querySet(emb)
    val (s1, direct) = AdaptiveSearch.search(
      nodesDf, queriesDf, k = 5, minSim = 0.2, IndexParams(bucketBits = 4))
    assert(s1 === AdaptiveSearch.UseExact)
    // a ~3-query gate (dim 64 → 320 B/query) fails the stats read AND
    // drives exactChunkRows to 3 → the query set splits into many
    // chunks, each localCheckpointed back inside the broadcast plan;
    // the union must equal the single-sweep result row-for-row
    val (s2, chunked) = AdaptiveSearch.search(
      nodesDf, queriesDf, k = 5, minSim = 0.2, IndexParams(bucketBits = 4),
      exactGateBytes = 1000L)
    assert(s2 === AdaptiveSearch.UseExact)
    val a = direct.select("query_id", "id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    val b = chunked.select("query_id", "id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    assert(b === a)
    chunked.unpersist()
  }

  test("LSH arm upgrades to the seeded hybrid when a prebuilt graph " +
      "index is provided; without one it stays plain LSH") {
    import graft.operators.{AnnSearch, IndexBuild}
    val emb = Tables.embeddings(spark, sf001)
    val nodesDf = VectorQueries.asVectorTable(emb)
    val queriesDf = VectorQueries.querySet(emb)
    val p = IndexParams(m = 12, bucketBits = 4, nBands = 4)
    // exactCutoff=0 + disabled skew gate → the decision is UseLsh (the
    // clustered fixture's hot bucket would otherwise pick IVF)
    val (sNone, _) = AdaptiveSearch.search(nodesDf, queriesDf, k = 5,
      minSim = 0.2, p, exactCutoff = 0L, skewCutoff = 1.1)
    assert(sNone === AdaptiveSearch.UseLsh)
    val (gn, ge) = IndexBuild.build(nodesDf, p)
    val (sG, res) = AdaptiveSearch.search(nodesDf, queriesDf, k = 5,
      minSim = 0.2, p, exactCutoff = 0L, skewCutoff = 1.1,
      prebuiltGraph = Some((gn.localCheckpoint(), ge.localCheckpoint())))
    assert(sG === AdaptiveSearch.UseGraphSeeded)
    // contract parity + the hybrid's guarantee: recall >= the LSH arm's
    assert(res.columns.toSeq === Seq("query_id", "id", "score", "rn"))
    assert(res.filter(col("score") <= 0.2).isEmpty)
    val exact = KnnSearch.knnExact(nodesDf, queriesDf, 5, minSim = 0.2)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val lsh = AnnSearch.searchLsh(nodesDf, queriesDf, 5, minSim = 0.2, p)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    val hybrid = res.select("query_id", "id")
      .as[(Long, Long)].collect().toSet
    assert(exact.intersect(hybrid).size >= exact.intersect(lsh).size)
  }

  test("IVF arm upgrades to the IVF-seeded hybrid when a prebuilt graph " +
      "is provided under skew; without one it stays plain IVF") {
    import graft.operators.IndexBuild
    val emb = Tables.embeddings(spark, sf001)
    val nodesDf = VectorQueries.asVectorTable(emb)
    val queriesDf = VectorQueries.querySet(emb)
    val p = IndexParams(m = 12, bucketBits = 4, nBands = 4)
    // force the skew branch: every corpus lands in SOME bucket, so
    // skewCutoff=0 makes maxBucketShare >= cutoff always true
    val (sIvf, _) = AdaptiveSearch.search(nodesDf, queriesDf, k = 5,
      minSim = 0.2, p, exactCutoff = 0L, skewCutoff = 0.0)
    assert(sIvf === AdaptiveSearch.UseIvf)
    val (gn, ge) = IndexBuild.build(nodesDf, p)
    val (sG, res) = AdaptiveSearch.search(nodesDf, queriesDf, k = 5,
      minSim = 0.2, p, exactCutoff = 0L, skewCutoff = 0.0,
      prebuiltGraph = Some((gn.localCheckpoint(), ge.localCheckpoint())))
    assert(sG === AdaptiveSearch.UseGraphSeededIvf)
    // contract parity with every other arm
    assert(res.columns.toSeq === Seq("query_id", "id", "score", "rn"))
    assert(res.filter(col("score") <= 0.2).isEmpty)
    assert(res.select("query_id").distinct().count() === queriesDf.count())
  }

  test("seeded graph arm forwards queryCount: the frame walk's hop " +
      "exchange is bounded by the query count") {
    val emb = Tables.embeddings(spark, sf001)
    val nodesDf = VectorQueries.asVectorTable(emb)
    val queriesDf = VectorQueries.querySet(emb)
    val p = IndexParams(m = 12, bucketBits = 4, nBands = 4)
    val (gn, ge) = IndexBuild.build(nodesDf, p)
    val (arm, res) = AdaptiveSearch.search(nodesDf, queriesDf, k = 5,
      minSim = 0.2, p, exactCutoff = 0L, skewCutoff = 1.1,
      prebuiltGraph = Some((gn.localCheckpoint(), ge.localCheckpoint())),
      graphSnapshot = GraphSnapshot.Held(None),
      queryCount = queriesDf.count())
    assert(arm === AdaptiveSearch.UseGraphSeeded)
    // Q × ef × 32 B is far below 4 MB, so a forwarded count sizes the
    // hop exchange at one partition; without it the exchange takes the
    // session's 4
    val parts = res.queryExecution.optimizedPlan.collect {
      case r: org.apache.spark.sql.catalyst.plans.logical
          .RepartitionByExpression => r.numPartitions
    }
    assert(parts.nonEmpty && parts.forall(_ == 1), parts)
  }

  test("a corpus past the snapshot gate sends the seeded arm to the frame " +
      "walk without measuring the graph") {
    val emb = Tables.embeddings(spark, sf001)
    val nodesDf = VectorQueries.asVectorTable(emb)
    val queriesDf = VectorQueries.querySet(emb)
    val p = IndexParams(m = 12, bucketBits = 4, nBands = 4)
    val (gn, ge) = IndexBuild.build(nodesDf, p)
    val graph = Some((gn.localCheckpoint(), ge.localCheckpoint()))
    def hopExchanges(statsHint: Option[(Long, Double)]) = {
      val (arm, res) = AdaptiveSearch.search(nodesDf, queriesDf, k = 5,
        minSim = 0.2, p, exactCutoff = 0L, skewCutoff = 1.1,
        pqCutoff = Long.MaxValue, prebuiltGraph = graph,
        statsHint = statsHint)
      assert(arm === AdaptiveSearch.UseGraphSeeded)
      res.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.catalyst.plans.logical
            .RepartitionByExpression => r
      }.size
    }
    // the fixture's graph fits: fused walk, no hop exchange
    assert(hopExchanges(None) === 0)
    // a reported corpus of 10 M vectors is past the gate by its count
    // alone, so the walk runs as joins without counting the graph
    assert(hopExchanges(Some((10000000L, 0.0))) > 0)
  }

  test("PQ arm accepts a prebuilt residual index and matches the in-line " +
      "build") {
    val emb = Tables.embeddings(spark, sf001)
    val nodesDf = VectorQueries.asVectorTable(emb)
    val queriesDf = VectorQueries.querySet(emb)
    val params = IndexParams(bucketBits = 4)
    val mSub = 8
    val subLen = params.dim / mSub
    // the same residual IVF-PQ pipeline the dispatcher builds in-line:
    // coarse train → assign → residuals → residual codebooks → codes
    val cells = math.min(256, math.max(16, math.sqrt(500.0).toInt))
    val centroids = graft.operators.IvfIndex.train(nodesDf, cells, iters = 3)
    val asg = graft.operators.IvfIndex.assign(nodesDf, centroids)
      .select(col("id"), col("cell"))
    val res = graft.operators.PqIndex.residuals(nodesDf, asg, centroids)
      .select(col("id"), col("vector"))
    val rcb = graft.operators.PqIndex.trainCodebooks(res, mSub, subLen,
      ksub = 256, iters = 1)
    val codes = graft.operators.PqIndex.encode(res, rcb, mSub, subLen)
    val pre = AdaptiveSearch.PqPrebuilt(centroids, asg, rcb, codes)
    val (sPre, resPre) = AdaptiveSearch.search(
      nodesDf, queriesDf, k = 5, minSim = 0.2, params,
      exactCutoff = 0L, pqCutoff = 1L, prebuiltPq = Some(pre))
    assert(sPre === AdaptiveSearch.UsePq)
    val (_, resInline) = AdaptiveSearch.search(
      nodesDf, queriesDf, k = 5, minSim = 0.2, params,
      exactCutoff = 0L, pqCutoff = 1L)
    // the whole build chain is deterministic (sample init + fixed Lloyd
    // rounds), so prebuilt vs in-line must agree exactly
    val a = resPre.select("query_id", "id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    val b = resInline.select("query_id", "id", "rn")
      .as[(Long, Long, Int)].collect().toSet
    assert(a === b)
  }

  test("PQ arm rejects a prebuilt index with mismatched geometry") {
    val emb = Tables.embeddings(spark, sf001)
    val nodesDf = VectorQueries.asVectorTable(emb)
    val queriesDf = VectorQueries.querySet(emb)
    val params = IndexParams(bucketBits = 4)
    // m=4 codebooks/codes against the dispatcher's m=8: shapes still line
    // up arithmetically, so without the gate this would mis-score silently
    val centroids = graft.operators.IvfIndex.sampleCodebook(nodesDf, k = 10)
    val asg = graft.operators.IvfIndex.assign(nodesDf, centroids)
      .select(col("id"), col("cell"))
    val res = graft.operators.PqIndex.residuals(nodesDf, asg, centroids)
      .select(col("id"), col("vector"))
    val cbBad = graft.operators.PqIndex.sampleCodebooks(res,
      m = 4, subLen = 16, ksub = 16)
    val codesBad = graft.operators.PqIndex.encode(res, cbBad,
      m = 4, subLen = 16)
    val preBad = AdaptiveSearch.PqPrebuilt(centroids, asg, cbBad, codesBad)
    val e = intercept[IllegalArgumentException] {
      AdaptiveSearch.search(nodesDf, queriesDf, k = 5, minSim = 0.2, params,
        exactCutoff = 0L, pqCutoff = 1L, prebuiltPq = Some(preBad))
    }
    assert(e.getMessage.contains("geometry"))
  }

  test("PQ geometry gate on an EMPTY packed codes table reports the " +
      "m-mismatch, not an NPE from the message itself") {
    val emb = Tables.embeddings(spark, sf001)
    val nodesDf = VectorQueries.asVectorTable(emb)
    val queriesDf = VectorQueries.querySet(emb)
    val params = IndexParams(bucketBits = 4)
    val centroids = graft.operators.IvfIndex.sampleCodebook(nodesDf, k = 10)
    val asg = graft.operators.IvfIndex.assign(nodesDf, centroids)
      .select(col("id"), col("cell"))
    val res = graft.operators.PqIndex.residuals(nodesDf, asg, centroids)
      .select(col("id"), col("vector"))
    val rcb = graft.operators.PqIndex.sampleCodebooks(res,
      m = 8, subLen = 8, ksub = 16)
    // packed layout ((id, codes)) with zero rows: the validation
    // aggregate is null — the failure must still be the m diagnostic
    val emptyPacked = graft.operators.PqIndex
      .packCodes(graft.operators.PqIndex.encode(res, rcb, 8, 8))
      .filter(lit(false))
    val pre = AdaptiveSearch.PqPrebuilt(centroids, asg, rcb, emptyPacked)
    val e = intercept[IllegalArgumentException] {
      AdaptiveSearch.search(nodesDf, queriesDf, k = 5, minSim = 0.2, params,
        exactCutoff = 0L, pqCutoff = 1L, prebuiltPq = Some(pre))
    }
    assert(e.getMessage.contains("empty codes table"))
  }

  test("stats: share in [0,1]; adaptive result equals exact on the fixture") {
    val emb = Tables.embeddings(spark, sf001)
    val nodesDf = VectorQueries.asVectorTable(emb)
    val queriesDf = VectorQueries.querySet(emb)
    val params = IndexParams(bucketBits = 4)

    val (n, share) = AdaptiveSearch.stats(nodesDf, params)
    assert(n === 500L && share >= 0.0 && share <= 1.0)

    // 500 nodes → the size gate picks EXACT, so results match knnExact
    val (strategy, result) = AdaptiveSearch.search(
      nodesDf, queriesDf, k = 5, minSim = 0.2, params)
    assert(strategy === AdaptiveSearch.UseExact)
    val got = result.select("query_id", "id").as[(Long, Long)].collect().toSet
    val want = KnnSearch.knnExact(nodesDf, queriesDf, 5, 0.2)
      .select("query_id", "id").as[(Long, Long)].collect().toSet
    assert(got === want)
  }
}
