package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators._

/** Manual scale probe (not part of the driver harness): deterministic
  * synthetic clustered vectors at arbitrary N — evidence for the SCALING.md
  * claims that index build and ANN search stay sub-quadratic as N grows far
  * beyond the committed fixtures.
  *
  * Usage: `sbt "runMain graft.ScaleProbe 100000 64"`.
  * Vectors: 10 cluster centers + noise, every component a pure column
  * expression (hash-derived) — generated distributed, nothing collected.
  */
object ScaleProbe {

  def syntheticVectors(spark: SparkSession, n: Long, dim: Int): DataFrame = {
    def unit(h: org.apache.spark.sql.Column) =
      (h.cast("double") / Int.MaxValue)
    val center = transform(sequence(lit(0), lit(dim - 1)),
      j => unit(hash(pmod(col("id"), lit(10)) * 1000 + 7, j)))
    val noise = transform(sequence(lit(0), lit(dim - 1)),
      j => unit(hash(col("id"), j)) * lit(0.4))
    spark.range(n).select(col("id"),
      zip_with(center, noise, (c, x) => (c + x).cast("float")).as("vector"),
      lit(false).as("deleted"))
  }

  /** Low-EFFECTIVE-dimension synthetic vectors — the realistic high-dim
    * fixture ([[syntheticVectors]] is per-dimension iid hash noise, so
    * at 384 dims every vector is near-orthogonal to every other: recall
    * floors measured on it are honest but not comparable to literature
    * numbers on real embeddings, whose variance concentrates in a few
    * dozen principal directions — the SCALING.md dim-384 caveat). Here
    * each vector = cluster center + a `latent`-dim coefficient vector
    * pushed through a FIXED pseudo-random basis + small iid noise, so
    * the corpus has ~`latent` effective dimensions and a decaying
    * spectrum regardless of ambient `dim`. Deterministic in (id, dim,
    * latent) like every fixture here. */
  def syntheticVectorsLowDim(spark: SparkSession, n: Long, dim: Int,
      latent: Int = 16, clusters: Int = 10,
      noise: Double = 0.05): DataFrame = {
    def unit(h: org.apache.spark.sql.Column) =
      (h.cast("double") / Int.MaxValue)
    val center = transform(sequence(lit(0), lit(dim - 1)),
      j => unit(hash(pmod(col("id"), lit(clusters)) * 1000 + 7, j)))
    // vector[j] += Σ_r coef_r(id) · basis_r[j] / √latent: coefficients
    // vary per id, the basis is global — variance concentrates in the
    // latent subspace
    val latentMix = transform(sequence(lit(0), lit(dim - 1)), j =>
      aggregate(sequence(lit(0), lit(latent - 1)), lit(0.0d),
        (acc, r) => acc +
          unit(hash(col("id"), r + lit(777))) *
          unit(hash(r * lit(31) + lit(13), j))) /
        lit(math.sqrt(latent.toDouble)))
    val jitter = transform(sequence(lit(0), lit(dim - 1)),
      j => unit(hash(col("id"), j)) * lit(noise))
    spark.range(n).select(col("id"),
      zip_with(zip_with(center, latentMix, (c, m) => c + m), jitter,
        (cm, x) => (cm + x).cast("float")).as("vector"),
      lit(false).as("deleted"))
  }

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 100000L
    val dim = if (args.length > 1) args(1).toInt else 64
    // third arg "lowdim" swaps in the low-effective-dimension fixture
    // (decaying spectrum — the realistic high-dim recall regime); the
    // default stays the historical iid-noise generator so existing rows
    // remain comparable
    val lowDim = args.length > 2 && args(2) == "lowdim"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // partitions scale with n: big windows/joins need units of work small
    // enough that concurrent tasks fit the execution-memory budget
    val partitions = math.max(cpus.toInt, (n / 20000L).toInt)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.VectorFunctions.register(spark)

    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }

    val nodes = (if (lowDim) syntheticVectorsLowDim(spark, n, dim)
                 else syntheticVectors(spark, n, dim))
    nodes.count() // materialize cost excluded from timings below
    val queries = nodes.filter(col("id") % math.max(1L, n / 100) === 0)
      .select(col("id").as("query_id"), col("vector").as("query_vec"))
    val params = IndexParams(m = 16, dim = dim, levelMax = 7,
      bucketBits = math.max(4, (math.log(n / 64.0) / math.log(2)).toInt),
      nBands = 4)

    val (_, tExact) = timed {
      KnnSearch.knnExact(nodes, queries, 10, minSim = -2.0).count()
    }
    val ((nodesIdx, edges), tBuild) = timed {
      val r = IndexBuild.build(nodes, params)
      r._2.count(); r
    }
    val (annRows, tLsh) = timed {
      AnnSearch.searchLsh(nodes, queries, 10, minSim = -2.0, params)
        .select("query_id", "id").collect()
    }
    val exact = KnnSearch.knnExact(nodes, queries, 10, minSim = -2.0)
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = annRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exact.contains).toDouble / exact.size
    val nEdges = edges.count()
    // the walk's snapshot, measured once per graph outside the timed arms
    val snap = GraphSnapshot.Held(GraphSnapshot.fitting(nodesIdx, edges,
      dim, AnnSearch.DefaultBroadcastBytes))
    snap.snapshot

    // graph-traversal search over the index just built (a03's path): the
    // one search whose JOB COUNT grows with levelMax (one frontier
    // expansion per iteration per level) — measured here so the ladder
    // bounds it instead of extrapolating from fixture scale
    val (graphRows, tGraph) = timed {
      AnnSearch.searchGraph(nodesIdx, edges, queries, 10, minSim = -2.0,
          params, ef = 96, itersPerLevel = 3, efUpper = 16, snapshot = snap)
        .select("query_id", "id").collect()
    }
    val graphRecall = graphRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exact.contains).toDouble / exact.size
    // the scale-correct hybrid: LSH-seeded frontier + level-0 expansions
    // (no cross-graph routing) — judged against the same exact set
    val (seededRows, tSeeded) = timed {
      AnnSearch.searchGraphSeeded(nodesIdx, edges, queries, 10,
          minSim = -2.0, params, ef = 64, iters = 2, snapshot = snap)
        .select("query_id", "id").collect()
    }
    val seededRecall = seededRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exact.contains).toDouble / exact.size
    // JL-projected seeding (the high-dim serve lever the facade defaults
    // to at dim ≥ 192): seeds score in a 32-dim projection, top-8·ef
    // re-rank raw — the seeding scan's re-attach join carries 32 floats
    // instead of `dim`
    val (jlRows, tJl) = timed {
      AnnSearch.searchGraphSeeded(nodesIdx, edges, queries, 10,
          minSim = -2.0, params, ef = 64, iters = 2,
          seedProjDim = 32, snapshot = snap)
        .select("query_id", "id").collect()
    }
    val jlRecall = jlRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exact.contains).toDouble / exact.size

    // IVF comparison: centroids adapt to clusters, so candidate volume per
    // query is n×nProbe/k regardless of how clustered the data is — the
    // counterpoint to LSH's hot-bucket sensitivity
    val kCells = math.min(1024, math.max(16, math.sqrt(n.toDouble).toInt))
    val (centroids, tIvfTrain) = timed {
      val c = IvfIndex.train(nodes, kCells, iters = 3); c.count(); c
    }
    // cell assignment is part of INDEX BUILD (one n×k pass, persisted with
    // the index); search probes the prebuilt cells — timed separately
    val (asg, tIvfAssign) = timed {
      val a = IvfIndex.assign(nodes, centroids).localCheckpoint()
      a.count(); a
    }
    val (ivfRows, tIvf) = timed {
      IvfIndex.search(nodes, centroids, queries, 10, minSim = -2.0,
          nProbe = 8, assignments = Some(asg))
        .select("query_id", "id").collect()
    }
    val ivfRecall = ivfRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exact.contains).toDouble / exact.size

    // PQ: encode is part of index build (one n×m map-side argmin pass,
    // persisted like the IVF assignment); ADC search reads codes only.
    // Recall is judged against the EUCLIDEAN exact ranking (ADC
    // approximates euclidean distance; cosine order differs on these
    // non-normalized vectors).
    // THE shipped geometry rule ([[PqIndex.subspaces]]): dim 64 → m = 8
    // (identical to every historical run), dim 384 → m = 48. The probe
    // must ride the rule or the final dispatch phase fails
    // validateGeometry at any non-64 dim (loudly, as designed); the
    // fixed-m control at production dims lives in [[PqDimProbe]].
    val mSub = PqIndex.subspaces(dim)
    val subLen = dim / mSub
    val ksub = 256
    val (cbPq, tPqTrain) = timed {
      val c = PqIndex.trainCodebooks(nodes, mSub, subLen, ksub, iters = 2)
      c.count(); c
    }
    val (codes, tPqEncode) = timed {
      val c = PqIndex.encode(nodes, cbPq, mSub, subLen).localCheckpoint()
      c.count(); c
    }
    val exactEuc = KnnSearch.knnExact(nodes, queries, 10, minSim = -2.0,
        metric = "euclidean")
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val (adcRows, tPqAdc) = timed {
      PqIndex.searchAdc(codes, cbPq, queries, 10, mSub, subLen)
        .select("query_id", "id").collect()
    }
    val pqRecall = adcRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exactEuc.contains).toDouble / exactEuc.size
    val (rrRows, tPqRerank) = timed {
      PqIndex.searchAdcRerank(nodes, codes, cbPq, queries, 10,
          shortlist = 1000, mSub, subLen)
        .select("query_id", "id").collect()
    }
    val pqRerankRecall = rrRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exactEuc.contains).toDouble / exactEuc.size

    // IVF-PQ raw vs RESIDUAL coding at the same probe budget: the residual
    // codebook covers only within-cell displacements, so its ADC ranks
    // should track the true euclidean order more closely — a14's claimed
    // accuracy win, measured here instead of asserted
    val (ivfpqRows, tIvfPq) = timed {
      PqIndex.searchIvfPq(codes, asg, centroids, cbPq, queries, 10,
          nProbe = 8, mSub, subLen)
        .select("query_id", "id").collect()
    }
    val ivfpqRecall = ivfpqRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exactEuc.contains).toDouble / exactEuc.size
    val res = PqIndex.residuals(nodes, asg, centroids)
      .select(col("id"), col("vector"))
    val (rcb, tResTrain) = timed {
      val c = PqIndex.trainCodebooks(res, mSub, subLen, ksub, iters = 2)
      c.count(); c
    }
    val (rcodes, tResEncode) = timed {
      val c = PqIndex.encode(res, rcb, mSub, subLen).localCheckpoint()
      c.count(); c
    }
    val (resRows, tResSearch) = timed {
      PqIndex.searchIvfPqResidual(rcodes, asg, centroids, rcb, queries, 10,
          nProbe = 8, mSub, subLen)
        .select("query_id", "id").collect()
    }
    val resRecall = resRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exactEuc.contains).toDouble / exactEuc.size

    // SQ8: per-dimension 8-bit codes, symmetric exact-integer L2 — the
    // 4×-compression alternative to PQ's 32×, with a training-light build
    val (sqArt, tSqBuild) = timed {
      val b = SqIndex.trainBounds(nodes).localCheckpoint()
      val c = SqIndex.encode(nodes, b).localCheckpoint()
      c.count(); (b, c)
    }
    val (sqRows, tSqSearch) = timed {
      SqIndex.searchSq(sqArt._2, sqArt._1, queries, 10)
        .select("query_id", "id").collect()
    }
    val sqRecall = sqRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exactEuc.contains).toDouble / exactEuc.size
    val (sqRrRows, tSqRerank) = timed {
      SqIndex.searchSqRerankScored(nodes, sqArt._2, sqArt._1, queries, 10,
          shortlist = 100, minSim = -2.0, metric = "euclidean")
        .select("query_id", "id").collect()
    }
    val sqRerankRecall = sqRrRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exactEuc.contains).toDouble / exactEuc.size

    // Binary quantization: 1 bit/dim, Hamming ranking — the compression
    // extreme; raw recall is the coarse-code floor, the rerank tail is
    // the quality recovery
    val (bqBits, tBqBuild) = timed {
      val c = BqIndex.encode(nodes, sqArt._1).localCheckpoint()
      c.count(); c
    }
    val (bqRows, tBqSearch) = timed {
      BqIndex.searchBq(bqBits, sqArt._1, queries, 10)
        .select("query_id", "id").collect()
    }
    val bqRecall = bqRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exactEuc.contains).toDouble / exactEuc.size
    val (bqRrRows, tBqRerank) = timed {
      BqIndex.searchBqRerankScored(nodes, bqBits, sqArt._1, queries, 10,
          shortlist = 1000, minSim = -2.0, metric = "euclidean")
        .select("query_id", "id").collect()
    }
    val bqRerankRecall = bqRrRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exactEuc.contains).toDouble / exactEuc.size

    // k-means++-seeded COARSE quantizer at the same probe budget: D²
    // seeding spreads the coarse cells, so true neighbors land in probed
    // cells more often — the full residual pipeline re-derived over the
    // PP-seeded cells, measured against the id-hash-seeded run above.
    // (Residual-CODEBOOK init was also measured and moved nothing on this
    // noise-dominated residual space — the coarse quantizer is the lever.)
    val (centroidsPP, tPpTrain) = timed {
      val c = IvfIndex.trainPP(nodes, kCells, iters = 3); c.count(); c
    }
    val (asgPP, tPpAssign) = timed {
      val a = IvfIndex.assign(nodes, centroidsPP).localCheckpoint()
      a.count(); a
    }
    val resPP = PqIndex.residuals(nodes, asgPP, centroidsPP)
      .select(col("id"), col("vector"))
    val (rcodesPP, tPpEncode) = timed {
      val rcbPP = PqIndex.trainCodebooks(resPP, mSub, subLen, ksub,
        iters = 2)
      val c = PqIndex.encode(resPP, rcbPP, mSub, subLen).localCheckpoint()
      c.count(); (rcbPP, c)
    }
    val (ppRows, tPpSearch) = timed {
      PqIndex.searchIvfPqResidual(rcodesPP._2, asgPP, centroidsPP,
          rcodesPP._1, queries, 10, nProbe = 8, mSub, subLen)
        .select("query_id", "id").collect()
    }
    val ppRecall = ppRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exactEuc.contains).toDouble / exactEuc.size
    // and the coarse-IVF recall itself at the same probe budget
    val ivfPpRows = IvfIndex.search(nodes, centroidsPP, queries, 10,
        minSim = -2.0, nProbe = 8, assignments = Some(asgPP))
      .select("query_id", "id").collect()
    val ivfPpRecall = ivfPpRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exact.contains).toDouble / exact.size

    // OPQ (parametric, Ge et al. CVPR 2013): PCA rotation + eigenvalue
    // allocation in FRONT of the residual pipeline, same cells and probe
    // budget (centroids rotate instead of retraining — orthogonal
    // rotation preserves cosine, so assignments/probes are unchanged and
    // the measurement isolates the subspace-split effect on the residual
    // codebooks)
    val (rotArt, tOpqTrain) = timed {
      val rot = OpqRotation.trainRotation(nodes, mSub)
      val rn = OpqRotation.rotate(nodes, rot).localCheckpoint()
      rn.count(); (rot, rn)
    }
    val (rot, rnodes) = rotArt
    val rqueries = OpqRotation.rotate(queries, rot, vecCol = "query_vec")
      .localCheckpoint()
    val rcentroids = OpqRotation.rotate(centroids, rot,
      vecCol = "centroid").localCheckpoint()
    val resO = PqIndex.residuals(rnodes, asg, rcentroids)
      .select(col("id"), col("vector"))
    val (rcodesO, tOpqEncode) = timed {
      val rcbO = PqIndex.trainCodebooks(resO, mSub, subLen, ksub, iters = 2)
      val c = PqIndex.encode(resO, rcbO, mSub, subLen).localCheckpoint()
      c.count(); (rcbO, c)
    }
    val (opqRows, tOpqSearch) = timed {
      PqIndex.searchIvfPqResidual(rcodesO._2, asg, rcentroids,
          rcodesO._1, rqueries, 10, nProbe = 8, mSub, subLen)
        .select("query_id", "id").collect()
    }
    val opqRecall = opqRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exactEuc.contains).toDouble / exactEuc.size

    // the dispatcher's >pqCutoff arm end-to-end: prebuilt residual index,
    // cutoffs forced so UsePq fires — it must ride the residual shortlist
    // (+ exact cosine re-rank), so its recall is judged against the
    // COSINE exact set the arm's contract scores with
    val pre = AdaptiveSearch.PqPrebuilt(centroids, asg, rcb, rcodes)
    val (dispatchRows, tDispatch) = timed {
      val (st, r) = AdaptiveSearch.search(nodes, queries, 10,
        minSim = -2.0, params, nProbe = 8, exactCutoff = 0L, pqCutoff = 1L,
        prebuiltPq = Some(pre))
      require(st == AdaptiveSearch.UsePq, s"expected UsePq, got $st")
      r.select("query_id", "id").collect()
    }
    val dispatchRecall = dispatchRows.map(r => (r.getLong(0), r.getLong(1)))
      .count(exact.contains).toDouble / exact.size

    println(s"""{"n":$n,"dim":$dim,"bucketBits":${params.bucketBits},""" +
      s""""exact_search_sec":$tExact,"index_build_sec":$tBuild,""" +
      s""""lsh_search_sec":$tLsh,"lsh_recall_at_10":$recall,"edges":$nEdges,""" +
      s""""graph_search_sec":$tGraph,"graph_recall_at_10":$graphRecall,""" +
      s""""graph_seeded_sec":$tSeeded,""" +
      s""""graph_seeded_recall_at_10":$seededRecall,""" +
      s""""graph_seeded_jl32_sec":$tJl,""" +
      s""""graph_seeded_jl32_recall_at_10":$jlRecall,""" +
      s""""ivf_cells":$kCells,"ivf_train_sec":$tIvfTrain,""" +
      s""""ivf_assign_sec":$tIvfAssign,""" +
      s""""ivf_search_sec":$tIvf,"ivf_recall_at_10":$ivfRecall,""" +
      s""""pq_train_sec":$tPqTrain,""" +
      s""""pq_encode_sec":$tPqEncode,"pq_adc_sec":$tPqAdc,""" +
      s""""pq_adc_recall_at_10":$pqRecall,"pq_rerank_sec":$tPqRerank,""" +
      s""""pq_rerank_recall_at_10":$pqRerankRecall,""" +
      s""""ivfpq_sec":$tIvfPq,"ivfpq_recall_at_10":$ivfpqRecall,""" +
      s""""residual_train_sec":$tResTrain,""" +
      s""""residual_encode_sec":$tResEncode,""" +
      s""""residual_search_sec":$tResSearch,""" +
      s""""residual_recall_at_10":$resRecall,""" +
      s""""sq_build_sec":$tSqBuild,"sq_search_sec":$tSqSearch,""" +
      s""""sq_recall_at_10":$sqRecall,"sq_rerank_sec":$tSqRerank,""" +
      s""""sq_rerank_recall_at_10":$sqRerankRecall,""" +
      s""""bq_build_sec":$tBqBuild,"bq_search_sec":$tBqSearch,""" +
      s""""bq_recall_at_10":$bqRecall,"bq_rerank_sec":$tBqRerank,""" +
      s""""bq_rerank_recall_at_10":$bqRerankRecall,""" +
      s""""coarsepp_train_sec":$tPpTrain,""" +
      s""""coarsepp_assign_sec":$tPpAssign,""" +
      s""""coarsepp_encode_sec":$tPpEncode,""" +
      s""""coarsepp_search_sec":$tPpSearch,""" +
      s""""coarsepp_residual_recall_at_10":$ppRecall,""" +
      s""""coarsepp_ivf_recall_at_10":$ivfPpRecall,""" +
      s""""opq_train_sec":$tOpqTrain,"opq_encode_sec":$tOpqEncode,""" +
      s""""opq_search_sec":$tOpqSearch,""" +
      s""""opq_residual_recall_at_10":$opqRecall,""" +
      s""""adaptive_pq_sec":$tDispatch,""" +
      s""""adaptive_pq_recall_at_10":$dispatchRecall}""")
    spark.stop()
  }
}
