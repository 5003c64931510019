package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cost-based search-strategy selection — a small physical "optimizer" over
  * the three kNN paths, driven by measured corpus statistics instead of
  * guesswork (the ScaleProbe findings in SCALING.md, distilled into rules):
  *
  *  - small corpus → EXACT: one codegen'd broadcast pass, zero shuffle,
  *    beats any index below the candidate-generation overhead;
  *  - heavy bucket skew (a dense similarity cluster owns a big share of an
  *    LSH bucket) → IVF: centroids adapt to clusters, candidate volume is
  *    n × nProbe / cells regardless of clustering;
  *  - otherwise → LSH: cheapest candidates on uniform-ish corpora, no
  *    training step.
  *
  * Statistics come from one aggregation over a sampled bucket histogram —
  * O(sample) work, reusable across queries of one session.
  */
object AdaptiveSearch {

  sealed trait Strategy
  case object UseExact extends Strategy
  case object UseLsh extends Strategy
  case object UseGraphSeeded extends Strategy
  case object UseGraphSeededIvf extends Strategy
  case object UseIvf extends Strategy
  case object UsePq extends Strategy

  /** A persisted residual IVF-PQ index, the build-once artifact the
    * production PQ arm consumes: coarse `centroids` (cell, centroid),
    * `assignments` (id, cell), and RESIDUAL-space `codebooks`
    * (sub, code, centroid) / `codes` (id, sub, code) — i.e.
    * [[PqIndex.encode]] over [[PqIndex.residuals]]. */
  final case class PqPrebuilt(centroids: DataFrame, assignments: DataFrame,
      codebooks: DataFrame, codes: DataFrame)

  /** Geometry validation memo: a prebuilt index with a different PQ
    * geometry would not error — the LUT/code shapes still line up
    * arithmetically and ADC returns plausible-but-wrong rankings — so
    * BOTH tables are pinned (a codebook-only check misses codes encoded
    * at a different m). The check aggregates over the corpus-sized codes
    * table, so it runs ONCE per index identity (keyed by the DataFrame
    * references a production caller naturally reuses across query
    * batches), not once per dispatch. */
  private val validatedPq = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[DataFrame, java.lang.Boolean]())

  /** Cell-count memo (same identity-keyed pattern as [[validatedPq]]):
    * the UsePq arm's adaptive defaults need the generation's cell count —
    * a k-row aggregate, but once per index identity, not per dispatch. */
  private val cellCountMemo = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[DataFrame, java.lang.Long]())
  private def countCells(centroids: DataFrame): Long = {
    val c = cellCountMemo.get(centroids)
    if (c != null) c.longValue
    else {
      val n = centroids.count()
      cellCountMemo.put(centroids, java.lang.Long.valueOf(n))
      n
    }
  }

  /** ksub memo (the [[cellCountMemo]] pattern): the UsePq arm's batch
    * chunking needs the codebook entry count for the per-query LUT
    * arithmetic — one k-row aggregate per index identity. */
  private val ksubMemo = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[DataFrame, java.lang.Integer]())
  private def countKsub(codebooks: DataFrame): Int = {
    val c = ksubMemo.get(codebooks)
    if (c != null) c.intValue
    else {
      val k = codebooks.agg(max(col("code")).cast("long")).head()
      val n = if (k.isNullAt(0)) 0 else (k.getLong(0) + 1L).toInt
      ksubMemo.put(codebooks, java.lang.Integer.valueOf(n))
      n
    }
  }

  private def validateGeometry(pre: PqPrebuilt, mSub: Int, subLen: Int)
      : Unit = {
    if (!validatedPq.containsKey(pre.codebooks)) {
      // min(size) too: a ragged codebook (some centroids shorter than
      // subLen) passes a max-only check and still mis-scores silently
      val r = pre.codebooks.agg(max(col("sub")),
        max(size(col("centroid"))), min(size(col("centroid")))).head()
      require(!r.isNullAt(0), "prebuilt PQ codebook is empty")
      require(r.getInt(0) + 1 == mSub && r.getInt(1) == subLen &&
          r.getInt(2) == subLen,
        s"prebuilt PQ codebook geometry (m=${r.getInt(0) + 1}, " +
          s"subLen=[${r.getInt(2)},${r.getInt(1)}]) does not match the " +
          s"dispatcher's (m=$mSub, subLen=$subLen)")
      validatedPq.put(pre.codebooks, java.lang.Boolean.TRUE)
    }
    if (!validatedPq.containsKey(pre.codes)) {
      if (pre.codes.columns.contains("codes")) {
        // pre-PACKED serving codes ((id, codes) — the VectorStore
        // per-generation memo): the array width IS the geometry
        val c = pre.codes.agg(max(size(col("codes"))),
          min(size(col("codes")))).head()
        // read the slots BEFORE the require: on an empty codes table the
        // aggregates are null and getInt would NPE inside the message,
        // masking the intended diagnostic (the long-form branch's guard)
        val (mx, mn) =
          if (c.isNullAt(0)) (0, 0) else (c.getInt(0), c.getInt(1))
        require(!c.isNullAt(0) && mx == mSub && mn == mSub,
          s"prebuilt packed PQ codes have m=[$mn,$mx]" +
            s"${if (c.isNullAt(0)) " (empty codes table)" else ""}, " +
            s"dispatcher expects m=$mSub")
      } else {
        val c = pre.codes.agg(max(col("sub"))).head()
        require(!c.isNullAt(0) && c.getInt(0) + 1 == mSub,
          s"prebuilt PQ codes have m=${if (c.isNullAt(0)) 0
            else c.getInt(0) + 1}, dispatcher expects m=$mSub")
      }
      validatedPq.put(pre.codes, java.lang.Boolean.TRUE)
    }
  }

  /** Decide from corpus stats. `maxBucketShare` is the largest fraction of
    * the (sampled) corpus landing in one band-0 LSH bucket. Past
    * `pqCutoff` rows, full-vector candidate scoring stops fitting executor
    * memory/IO budgets and the compressed IVF-PQ path wins on bytes alone
    * (32× smaller scanned rows — SCALING.md PQ section); `pqEligible`
    * gates on dim divisibility by the subspace count. */
  def decide(n: Long, maxBucketShare: Double,
      exactCutoff: Long = 50000, skewCutoff: Double = 0.05,
      pqCutoff: Long = 5000000L, pqEligible: Boolean = true): Strategy =
    if (n <= exactCutoff) UseExact
    else if (n >= pqCutoff && pqEligible) UsePq
    else if (maxBucketShare >= skewCutoff) UseIvf
    else UseLsh

  /** Measure the decision inputs: corpus size + hot-bucket share under the
    * band-0 hyperplanes (sampled — the histogram shape, not exact counts). */
  def stats(nodes: DataFrame, params: IndexParams,
      sampleFraction: Double = 0.1): (Long, Double) = {
    val n = nodes.count()
    val sampled =
      if (sampleFraction >= 1.0 || n < 10000) nodes
      else nodes.sample(withReplacement = false, sampleFraction, seed = 42L)
    val hist = sampled
      .withColumn("b", IndexBuild.bucketKey(col("vector"), params, band = 0))
      .groupBy(col("b")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("mx"), sum(col("c")).as("tot")).head()
    val share =
      if (hist.isNullAt(0) || hist.getLong(1) == 0L) 0.0
      else hist.getLong(0).toDouble / hist.getLong(1)
    (n, share)
  }

  /** One-call adaptive search: measure, decide, dispatch. Returns the
    * chosen strategy alongside the result for observability. Every arm
    * honors the same contract — (query_id, id, score, rn) with the
    * `minSim` floor applied — so callers never branch on the strategy.
    * `graphSnapshot` is what the caller holds for `prebuiltGraph`'s walk
    * ([[GraphSnapshot.Known]]); `queryCount` also arms the graph arms'
    * bounded-frontier gates.
    *
    * `prebuiltPq` carries a persisted residual IVF-PQ index
    * ([[PqPrebuilt]]) from an index build, the way [[IvfIndex.search]]
    * accepts persisted assignments; without it the PQ arm trains coarse
    * centroids and residual codebooks and encodes in-line, which is a
    * per-corpus (not per-query-batch!) cost — production callers past
    * `pqCutoff` should build once and pass it in. */
  def search(nodes: DataFrame, queries: DataFrame, k: Int, minSim: Double,
      params: IndexParams, nProbe: Int = 8, ivfCells: Int = 256,
      exactCutoff: Long = 50000, skewCutoff: Double = 0.05,
      pqCutoff: Long = 5000000L,
      prebuiltPq: Option[PqPrebuilt] = None,
      prebuiltGraph: Option[(DataFrame, DataFrame)] = None,
      graphSnapshot: GraphSnapshot.Known = GraphSnapshot.Unknown,
      seededNProbe: Int = 32,
      idFilter: Option[DataFrame] = None,
      idFilterCount: Option[Long] = None,
      statsHint: Option[(Long, Double)] = None,
      queryCount: Long = -1L,
      lutBudgetBytes: Long = ChunkedServe.DefaultLutBudgetBytes,
      rerankBudgetBytes: Long = ChunkedServe.DefaultRerankBudgetBytes,
      exactGateBytes: Long = 64L << 20)
      : (Strategy, DataFrame) = {
    val mSub = PqIndex.subspaces(params.dim)
    // `statsHint` skips the two per-call decision jobs (corpus count +
    // sampled bucket histogram) when the caller already measured them —
    // the VectorStore facade memoizes stats per table version
    val (nAll, share) = statsHint.getOrElse(stats(nodes, params))
    // the DECISION size is the work size: a selective predicate that
    // leaves <= exactCutoff matching rows makes the exact scan over just
    // those rows the cheapest correct plan, regardless of corpus size —
    // filtered dispatch measures the filtered set, not the corpus.
    // (Bucket-skew geometry stays corpus-derived: the index artifacts
    // the arms serve from were built over the full corpus.)
    // The count is over the LIVE subset — a raw operator-level idFilter
    // may include tombstoned ids, which must not inflate the decision
    // size (the VectorStore facade pre-filters deleted; the public
    // operator contract doesn't require it). `idFilterCount` skips the
    // per-call count job when the caller already knows the size (the
    // facade memoizes it per table version).
    val live =
      if (nodes.columns.contains("deleted")) nodes.filter(!col("deleted"))
      else nodes
    val n = idFilter match {
      case None => nAll
      case Some(f) => idFilterCount.getOrElse(
        KnnSearch.restrictIds(live, Some(f)).count())
    }
    // Selectivity-aware probe escalation for every probed arm — THE
    // shared rule ([[AnnSearch.escalatedProbes]]): keep the MATCHING
    // candidate volume constant under a selective filter. Measured
    // (GraphProbe filtered sweep, SCALING.md): at 200 k / selectivity
    // 1/100, escalation lifts recall@10 0.968 → 1.0 AND runs faster
    // (2.8 s vs 3.1 s — the escalated probe replaces frontier work the
    // starved fixed-probe walk paid anyway).
    def escalated(base: Int, cells: Long): Int =
      if (idFilter.isEmpty || nAll == 0L) base
      else AnnSearch.escalatedProbes(base, n, nAll, cells)
    // a corpus past the snapshot gate rules the walk's snapshot out
    // without counting the graph
    val snapshot = graphSnapshot match {
      case GraphSnapshot.Unknown if GraphSnapshot.bytesFor(nAll, params.dim,
          0L) > AnnSearch.DefaultBroadcastBytes => GraphSnapshot.Held(None)
      case known => known
    }
    decide(n, share, exactCutoff = exactCutoff, skewCutoff = skewCutoff,
        pqCutoff = pqCutoff,
        pqEligible = params.dim % mSub == 0) match {
      case UseExact =>
        // Q-AWARE serving, exact flavor: while the query side fits the
        // broadcast gate the arm is one map-side corpus sweep and needs
        // no bounding — the cheap plan-stats read below keeps that path
        // job-free. Past the gate, knnExact's fallback is the
        // shuffle-replicated nested loop (corpus re-shuffled per
        // query-side partition) — at serving-batch Q that is the exact
        // tower's Q-wall, so the dispatcher bounds the batch the same
        // way the UsePq arm does: chunk at the broadcast budget and
        // sweep the corpus once per chunk, never through a shuffle.
        // Each chunk's slice is localCheckpointed so the in-chunk gate
        // reads the TRUE chunk size (a derived query relation's default
        // stats estimate would otherwise push every chunk back to the
        // nested loop — the r14 recommend gate lesson). chunked ≡
        // unchunked row-for-row (per-query independence).
        val restricted = KnnSearch.restrictIds(nodes, idFilter)
        def serveExact(qs: DataFrame): DataFrame =
          KnnSearch.knnExact(restricted, qs, k, minSim, params.metric)
        if (queries.queryExecution.optimizedPlan.stats.sizeInBytes
            <= exactGateBytes)
          (UseExact, serveExact(queries))
        else {
          val q = if (queryCount >= 0L) queryCount else queries.count()
          val chunkRows =
            ChunkedServe.exactChunkRows(params.dim, exactGateBytes)
          if (q <= chunkRows) (UseExact, serveExact(queries))
          else (UseExact, ChunkedServe.serveChunked(queries, "query_id",
            chunkRows, q)(qs => serveExact(qs.localCheckpoint())))
        }
      case UseLsh =>
        // With a persisted graph index at hand, this arm upgrades to a
        // SEEDED hybrid (expansions can only improve on the seeds). The
        // SEEDING choice follows the r10 multi-probe measurement: with a
        // coarse quantizer ALSO at hand (the prebuilt PQ generation's
        // centroids + assignments), multi-probe IVF seeding now
        // DOMINATES LSH seeding on the uniform fixture too (200 k×64:
        // 0.994 recall @ 3.8 s at nProbe=32 vs the LSH hybrid's 0.871 @
        // 4.3 s — SCALING.md), refuting the old uniform-keeps-LSH
        // crossover at multi-probe settings. LSH seeding remains the
        // ZERO-TRAINING fallback (graph but no quantizer); plain LSH
        // the no-index answer.
        (prebuiltGraph, prebuiltPq) match {
          case (Some((gn, ge)), Some(pre)) if params.metric == "cosine" =>
            (UseGraphSeededIvf, AnnSearch.searchGraphSeededIvf(gn, ge,
              queries, k, minSim, params, pre.centroids,
              ef = math.max(64, k),
              nProbe = escalated(seededNProbe,
                if (idFilter.isEmpty) Long.MaxValue
                else pre.centroids.count()),
              assignments = Some(pre.assignments
                .join(gn.select(col("id"), col("vector")), Seq("id"))),
              idFilter = idFilter, queryCount = queryCount,
              snapshot = snapshot))
          case (Some((gn, ge)), _) =>
            // same seed-probe escalation as the no-index arm below: the
            // filtered walk's recall rides on the seeds
            val spb = if (idFilter.isEmpty) 1
              else escalated(3,
                if (params.metric == "euclidean") math.max(1L, n)
                else 1L << params.bucketBits)
            (UseGraphSeeded, AnnSearch.searchGraphSeeded(gn, ge, queries,
              k, minSim, params, ef = math.max(64, k), idFilter = idFilter,
              seedProbeBuckets = spb,
              seedProbeAllOcc = if (idFilter.isEmpty) 0
                else math.min(10L * spb, Int.MaxValue.toLong).toInt,
              queryCount = queryCount, snapshot = snapshot))
          case _ =>
            // the no-index arm's selectivity lever: occupied-bucket
            // multi-probe (see [[AnnSearch.searchLshKeyed]]) — the
            // shared escalation rule at the 3×/sel multiplier the
            // SCALING.md ladder measured (volume-constant 1×/sel
            // under-probes at moderate selectivity: recall 0.76–0.835
            // at 1-in-10); the cap is the occupancy bound (2^bits
            // sign-bit buckets per band; p-stable integer cells are
            // unbounded, so the filtered members themselves bound it).
            // probeAllOcc arms the probe-all short-circuit: a band the
            // filter shrank to ≤ 10 × budget occupied buckets is probed
            // in FULL — exact over the filtered subset by construction,
            // measured at-or-faster than partial probing there.
            val pb = if (idFilter.isEmpty) 1
              else escalated(3,
                if (params.metric == "euclidean") math.max(1L, n)
                else 1L << params.bucketBits)
            (UseLsh, AnnSearch.searchLsh(nodes, queries, k, minSim, params,
              idFilter = idFilter, probeBuckets = pb,
              probeAllOcc = if (idFilter.isEmpty) 0
                else math.min(10L * pb, Int.MaxValue.toLong).toInt))
        }
      case UseIvf =>
        val cells = math.min(ivfCells, math.max(16, math.sqrt(n.toDouble).toInt))
        val centroids = IvfIndex.train(nodes, cells, iters = 3)
        // with a persisted graph at hand the IVF arm upgrades to the
        // IVF-SEEDED hybrid (the UseLsh-arm rule applied to the skew
        // regime): same bounded coarse-probe seeding, plus expansions
        // that can only improve on the seeds. MULTI-PROBE seeding
        // (`seededNProbe`, default 32 — deliberately separate from the
        // plain-IVF/PQ arms' `nProbe`) is the measured knee at 500 k×64:
        // recall@10 0.902 at 3.5-5.1 s serving vs 0.654 at 8 probes,
        // vs plain-LSH seeding's 87.7 s / 0.635 (SCALING.md sweep)
        prebuiltGraph match {
          case Some((gn, ge)) if params.metric == "cosine" =>
            (UseGraphSeededIvf, AnnSearch.searchGraphSeededIvf(gn, ge,
              queries, k, minSim, params, centroids,
              ef = math.max(64, k),
              nProbe = escalated(seededNProbe, cells.toLong),
              idFilter = idFilter, queryCount = queryCount,
              snapshot = snapshot))
          case _ =>
            // the plain-IVF probe starves under a selective filter the
            // same way the seeded arm's seeding does — escalate it too
            (UseIvf, IvfIndex.search(nodes, centroids, queries, k, minSim,
              escalated(nProbe, cells.toLong), idFilter = idFilter))
        }
      case UsePq =>
        // residual IVF-PQ shortlist + exact re-rank: the one path whose
        // scanned bytes do not grow with dim × n (coarse cells cut the
        // scanned fraction, residual codes cut bytes per row 32×), and
        // the measurably best shortlist the repo has at equal probe
        // budget (residual vs raw codes: 1.6× recall@10 — SCALING.md).
        // The scored re-rank applies the true-metric similarity + minSim
        // floor, so this arm's output schema matches the other three.
        val subLen = params.dim / mSub
        val pre = prebuiltPq.getOrElse {
          val cells = math.min(ivfCells,
            math.max(16, math.sqrt(n.toDouble).toInt))
          val centroids = IvfIndex.train(nodes, cells, iters = 3)
          val asg = IvfIndex.assign(nodes, centroids)
            .select(col("id"), col("cell")).localCheckpoint()
          val res = PqIndex.residuals(nodes, asg, centroids)
            .select(col("id"), col("vector"))
          val rcb = PqIndex.trainCodebooks(res, mSub, subLen,
            ksub = 256, iters = 1)
          PqPrebuilt(centroids, asg, rcb,
            PqIndex.encode(res, rcb, mSub, subLen))
        }
        // only caller-provided indexes need the geometry gate — the
        // in-line build is correct by construction
        if (prebuiltPq.isDefined) validateGeometry(pre, mSub, subLen)
        // the arm's serving defaults SCALE WITH THE INDEX: probe ≥ 1/32
        // of cells and shortlist ~1/64 of candidate volume
        // ([[PqIndex.adaptiveNProbe]]/[[PqIndex.adaptiveShortlist]]) —
        // this arm exists precisely for n past the memory cutoff, where
        // the old constant defaults under-served (recall@10 0.42 at the
        // 10 M flagship vs 0.765 at the scaled knobs — SCALING.md).
        // Cell count is one k-row aggregate per call; production callers
        // go through the VectorStore facade, which memoizes it per
        // generation.
        val pqCells = countCells(pre.centroids)
        val baseNp = PqIndex.adaptiveNProbe(nProbe, pqCells)
        // filtered PQ: the coarse probe is the starvation point (probed
        // cells may hold < k MATCHING rows) — escalate it with the same
        // constant-matching-volume rule; the ADC scan still only touches
        // filtered members, so cost tracks the filtered fraction
        val np = if (idFilter.isEmpty) baseNp else escalated(baseNp, pqCells)
        val short = PqIndex.adaptiveShortlist(k, n, np, pqCells)
        // the shortlist ranks by EUCLIDEAN residual ADC for every store
        // metric — the IP + stored-norm estimate was measured and
        // refuted as a default (trails euclid on both fixtures at 1 M —
        // SCALING.md r14 A/B); the scaled knobs above are the lever
        def serveArm(qs: DataFrame): DataFrame =
          PqIndex.searchIvfPqResidualScored(nodes, pre.codes,
            pre.assignments, pre.centroids, pre.codebooks, qs, k,
            shortlist = short, np, mSub, subLen, minSim,
            params.metric, idFilter = idFilter)
        // Q-AWARE serving: this arm carries two structures proportional
        // to the query-batch size — the per-(query, probed-cell) LUT
        // (np·m·ksub·8 B/query) and the exact-rerank re-attach
        // (shortlist·dim·4 B/query) — whose measured walls killed
        // Q = 10 k–100 k batches at dim 384 (SCALING.md query-batch
        // matrix). The arm exists precisely for huge corpora where huge
        // batches are routine, so the dispatcher bounds them itself:
        // count Q (one narrow job — noise next to any serve at this
        // arm's corpus scale; `queryCount` skips it when the caller
        // knows Q) and serve in [[ChunkedServe]] chunks when the batch
        // exceeds the per-chunk byte budgets. chunked ≡ unchunked
        // row-for-row (per-query independence), so the contract and the
        // a24 oracle are untouched.
        val q = if (queryCount >= 0L) queryCount else queries.count()
        val ksub = math.max(1, countKsub(pre.codebooks))
        val chunkRows = ChunkedServe.pqChunkRows(np, mSub, ksub, short,
          params.dim, lutBudgetBytes, rerankBudgetBytes)
        if (q <= chunkRows) (UsePq, serveArm(queries))
        else {
          val perQueryBytes = math.max(np.toLong * mSub * ksub * 8L,
            short.toLong * params.dim * 4L)
          val parts = ChunkedServe.volumePartitions(
            chunkRows * perQueryBytes,
            nodes.sparkSession.sparkContext.defaultParallelism)
          (UsePq, ChunkedServe.serveChunked(queries, "query_id",
            chunkRows, q, Some(parts))(serveArm))
        }
      // decide() never RETURNS the seeded strategies — they are chosen
      // inside the UseLsh/UseIvf arms when a prebuilt graph is at hand.
      // Spelled out (not `case _`) so the compiler's exhaustiveness
      // check stays armed if Strategy grows a new decidable member.
      case s @ (UseGraphSeeded | UseGraphSeededIvf) =>
        throw new IllegalStateException(
          s"decide() returned serving-only strategy $s")
    }
  }
}
