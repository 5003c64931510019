package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorFunctions

/** Approximate kNN search over a built index — the batch analogs of
  * `searchKNNOptimized` (`hnsw.ts:241-299`) that avoid scoring every node.
  *
  * Two strategies:
  *  - [[searchLsh]] (primary): bucket the queries with the same hyperplanes
  *    as the index, equi-join per band for candidates, score only those —
  *    candidate volume is O(Σ bucket overlap), not O(Q × N).
  *  - graph search ([[searchGraph]] and the seeded hybrids
  *    [[searchGraphSeeded]], [[searchGraphSeededIvf]]): a frontier walk
  *    over the edge table — the set-at-a-time analog of the reference's
  *    per-layer beam walk (`hnsw.ts:301-375`): expand the frontier along
  *    its out-edges, score, keep top-ef per query, repeat, then rank.
  *    All three run one [[walk]]. A graph that fits the broadcast gate is
  *    walked in memory: every hop and the final rank of a query run in
  *    one task over a broadcast [[GraphSnapshot]], one exchange for the
  *    whole walk. Past the gate each hop is a frontier ⋈ edges ⋈ nodes
  *    join pair with a checkpoint every two hops, the form that scales
  *    past what one executor can hold.
  */
object AnnSearch {

  /** Conservative multiplier between the hand-rolled ~32 B/24 B per-row
    * frontier estimates and what a materialized broadcast actually
    * costs (UnsafeRow framing + BroadcastHashedRelation overhead is
    * typically 3–5× the raw column bytes): the bounded-frontier gates
    * require `estimate × this ≤ broadcastBytes`, so a bound sized right
    * at the gate can't pin several-hundred-MB built relations per hop. */
  private val BroadcastOverheadX = 4L

  /** Shuffle partitions for a frontier-sized exchange, derived from the
    * ARITHMETIC bound the caller knows (the frontier is ≤ Q × ef narrow
    * rows by construction): the session default
    * (`spark.sql.shuffle.partitions` = cluster parallelism) fragments a
    * KB-scale frontier into parallelism-many near-empty tasks — r15
    * measured the walk rows ANTI-scaling from 8 → 32 cores for exactly
    * this reason (a03 0.86, a18 0.92). Partition count tracks the bound
    * (one partition per ~4 MB), clamped to [1, session default], so a
    * large query batch keeps full parallelism while a small one stops
    * paying per-task scheduling it can't use — scale-adaptive, not a
    * local-mode constant. `queryCount` < 0 (bound unknown) keeps the
    * session default, i.e. the pre-r16 plan exactly. */
  private def boundedPartitions(spark: org.apache.spark.sql.SparkSession,
      queryCount: Long, ef: Int): Int = {
    val session = spark.sessionState.conf.numShufflePartitions
    if (queryCount < 0) session
    else {
      val bound = queryCount * ef.toLong * 32L
      math.min(session.toLong,
        math.max(1L, bound / (4L << 20) + 1L)).toInt
    }
  }

  private def scoreFn(metric: String): (Column, Column) => Column =
    metric match {
      case "euclidean" => VectorFunctions.euclideanSim
      case _ => VectorFunctions.cosineSim
    }

  /** Bucket-key distance for the occupied-bucket multi-probe ranking
    * (see [[searchLshKeyed]]): sign-bit keys rank by character Hamming;
    * p-stable euclidean keys ("band:,c1,c2,…",
    * [[IndexBuild.euclideanBucketKey]]) by L1 over the integer cells —
    * one cell step ≈ one `bucketWidth` in each projected coordinate.
    * Both are deterministic and external-engine-derivable (DuckDB
    * `hamming` / list arithmetic). */
  private def bucketDist(metric: String)(a: Column, b: Column): Column =
    metric match {
      case "euclidean" =>
        // "band:,c1,c2,…" → [c1, c2, …]; the first split token is the
        // band prefix (equal within a band) and is sliced away before
        // the cast, so the cast never sees a non-numeric string
        def cells(c: Column) = {
          val arr = split(c, ",")
          // length = size(arr): slice caps at the array end (an
          // Int.MaxValue literal overflows Slice's start+length int math)
          transform(slice(arr, lit(2), size(arr)), x => x.cast("long"))
        }
        aggregate(zip_with(cells(a), cells(b), (x, y) => abs(x - y)),
          lit(0L), (acc, v) => acc + v)
      case _ =>
        aggregate(
          zip_with(split(a, ""), split(b, ""),
            (x, y) => when(x <=> y, lit(0L)).otherwise(lit(1L))),
          lit(0L), (acc, v) => acc + v)
    }

  /** LSH-bucketed ANN: same output shape as [[KnnSearch.knnExact]]
    * (query_id, id, score, rn). Recall depends on nBands × bucketBits;
    * measured against the exact oracle in AnnSpec.
    *
    * `broadcastBytes` gates the query-side broadcasts (the
    * [[KnnSearch.knnExact]] rule) — past it the joins run unhinted and
    * AQE picks the strategy, so a large query batch cannot pin
    * Q-proportional state in every executor. NOTE there is deliberately
    * no search-time bucket cap: a hash-rank cap was prototyped and
    * REFUTED by measurement (SCALING.md — a query's true top-k are
    * specific rows a query-agnostic subset drops, and the rank shuffle
    * cost more than the scoring it saved); clustered hot buckets at
    * search time are [[IvfIndex]]'s job ([[AdaptiveSearch]] dispatches
    * there from bucket-skew stats). */
  def searchLsh(nodes: DataFrame, queries: DataFrame, k: Int, minSim: Double,
      params: IndexParams, broadcastBytes: Long = 64L << 20,
      shortlist: Int = 0, idFilter: Option[DataFrame] = None,
      probeBuckets: Int = 1, probeAllOcc: Int = 0,
      projDim: Int = 0, projShortFactor: Int = 8): DataFrame =
    searchLshKeyed(nodes, queries, k, minSim, params.metric,
      v => IndexBuild.bucketKeys(v, params), broadcastBytes, shortlist,
      idFilter, probeBuckets, probeAllOcc,
      projDim, params.dim, projShortFactor)

  /** [[searchLsh]] with data-derived anchor hyperplanes instead of the
    * seeded-random ones: bit p of band b = sign(vec · anchors(b)(p)).
    * Anchors sampled from the corpus split it along its own density
    * directions, and — being plain data rows — make the whole search
    * reproducible by an external engine (the DuckDB oracle re-derives the
    * buckets from the same parquet). `anchors` is tiny (nBands × bits rows
    * collected once on the driver) and is inlined into the projection as
    * literals, so bucketing stays a single narrow scan per side. */
  def searchLshAnchored(nodes: DataFrame, queries: DataFrame, k: Int,
      minSim: Double, anchors: Seq[Seq[Array[Float]]],
      metric: String = "cosine",
      broadcastBytes: Long = 64L << 20,
      shortlist: Int = 0, idFilter: Option[DataFrame] = None,
      probeBuckets: Int = 1, probeAllOcc: Int = 0): DataFrame =
    searchLshKeyed(nodes, queries, k, minSim, metric,
      v => anchorBucketKeys(v, anchors), broadcastBytes, shortlist,
      idFilter, probeBuckets, probeAllOcc)

  /** All band keys for anchor-hyperplane LSH in one projection (same
    * band-prefixed shape as [[IndexBuild.bucketKeys]]). */
  def anchorBucketKeys(vec: Column, anchors: Seq[Seq[Array[Float]]]): Column =
    array(anchors.zipWithIndex.map { case (planes, b) =>
      concat(lit(s"$b:") +: planes.map { w =>
        when(VectorFunctions.dotProduct(vec, typedLit(w.toSeq)) >= 0, "1")
          .otherwise("0")
      }: _*)
    }: _*)

  /** `shortlist` > 0 bounds the expensive true-score pass per query:
    * candidates rank by BAND-AGREEMENT COUNT (how many of the nBands
    * buckets they share with the query — a similarity proxy the
    * candidate join yields for free, no vectors touched) and only the
    * top-`shortlist` per query get scored. This is the scale lever for
    * hot-bucket corpora (clustered data keeps cluster-sized buckets at
    * ANY bits setting): the dot-product volume drops from O(Σ bucket
    * overlap) to O(Q × shortlist) while staying QUERY-SPECIFIC — unlike
    * the query-agnostic bucket cap SCALING.md refutes, every query keeps
    * its own most-agreeing candidates. Ties at equal agreement break by
    * id (deterministic, oracle-derivable). 0 = score every candidate
    * (the exact-within-buckets default all fixture oracles pin).
    *
    * `probeBuckets` > 1 is the LSH arm's recall lever under CORRELATED
    * predicates (the [[IvfIndex.probeCells]] analog): a filter aligned
    * with the data's cluster structure leaves the query's OWN bucket
    * with zero matching members, so the exact-bucket equi-join starves
    * at any band/bit setting. Instead of enumerating blind bit flips
    * (classic multi-probe LSH, Lv et al. VLDB'07), each query ranks the
    * buckets the (already filtered) members ACTUALLY OCCUPY by Hamming
    * distance from its own band key (tie: bucket key asc — deterministic,
    * oracle-derivable via DuckDB's `hamming`) and probes the nearest
    * `probeBuckets` per band. The occupied-bucket table is a distinct
    * over the bucketing scan the arm already pays and SHRINKS with the
    * filter — the ranking join costs O(Q × occupied) exactly when
    * occupied is small. 1 = the plain equi-join (default; unfiltered
    * plans untouched). Escalate with [[escalatedProbes]] (base 3, cells
    * = 2^bits) — the shared selectivity rule at the ≥3×/sel multiplier
    * the SCALING.md occupied-bucket ladder measured (the volume-constant
    * 1×/sel budget under-probes when one cluster spreads over > 1/sel
    * buckets per band: recall@10 0.76–0.835 at 1 M–200 k / 1-in-10;
    * 3×/sel restores 1.0).
    *
    * `probeAllOcc` > 0 arms the PROBE-ALL short-circuit: a band whose
    * occupied-bucket count (over the filtered members) is ≤ `probeAllOcc`
    * is probed in FULL, regardless of rank — probing every occupied
    * bucket makes the arm EXACT over the filtered subset by construction,
    * and the ladder measured it at-or-faster than partial probing once
    * occupancy is filter-shrunk (1 M / 1-in-10: all 256 buckets 7.8 s vs
    * 3×/sel's 30 at 11.0 s; 1/100: 1.6 vs 1.7 s). Zero extra jobs: the
    * per-band occupancy is a window count over the ranking rows the
    * probe join already builds. 0 (default) disables the clause — the
    * ranked plan stays byte-identical for callers that pin it. */
  /** `projDim` > 0 runs the expensive true-score pass in a
    * JL-PROJECTED space first (the [[RandomProjection.searchRerank]]
    * composition applied INSIDE the LSH arm): candidates score against
    * `projDim`-dim projections (dim/projDim× fewer bytes through the
    * re-attach join — the wall at high dim: 113 s at 200 k×384 vs 3.7 s
    * at 64, SCALING.md), the top `projShortFactor`·k per query survive,
    * and ONLY those re-attach raw vectors for the exact rank that the
    * output contract (true-metric score, `minSim` floor) requires.
    * `projInDim` must be the raw dimension when projDim > 0. Recall is
    * bounded by JL distortion on the shortlist cut — the serving
    * default engages it only at high dim where the measured trade is
    * decisively positive. */
  private def searchLshKeyed(nodes: DataFrame, queries: DataFrame, k: Int,
      minSim: Double, metric: String, keyFn: Column => Column,
      broadcastBytes: Long = 64L << 20, shortlist: Int = 0,
      idFilter: Option[DataFrame] = None, probeBuckets: Int = 1,
      probeAllOcc: Int = 0, projDim: Int = 0, projInDim: Int = 0,
      projShortFactor: Int = 8): DataFrame = {
    def maybeBroadcast(df: DataFrame): DataFrame =
      KnnSearch.maybeBroadcast(df, broadcastBytes)
    // pre-filter restriction on the NODE side, before bucketing — a
    // selective predicate shrinks both the bucket join and the scoring
    // pass ([[KnnSearch.restrictIds]] pre-filter semantics)
    val live = KnnSearch.restrictIds(
      if (nodes.columns.contains("deleted")) nodes.filter(!col("deleted"))
      else nodes, idFilter)
    // one scan per side: all band keys in a single projection, exploded.
    // Candidates stay NARROW (query_id, id) through the multi-band dedup —
    // node vectors re-attach by one id join afterwards; shuffling them
    // through hot-bucket candidate sets dominated wall time at 500k nodes
    // (measured: 2.7× slower than this shape)
    val n = live
      .withColumn("b", explode(keyFn(col("vector"))))
      .select(col("b"), col("id"))
    val q = queries
      .withColumn("b", explode(keyFn(col("query_vec"))))
      .select(col("b"), col("query_id"))
    val joined =
      if (probeBuckets <= 1 && probeAllOcc <= 0)
        n.join(maybeBroadcast(q), Seq("b")).drop("b")
      else {
        // occupied-bucket multi-probe: rank the filtered members' actual
        // buckets by distance to the query's band key, probe the nearest
        // `probeBuckets` per band. Sign-bit keys rank by Hamming (both
        // keys share the "band:" prefix — equal within a band — so
        // whole-string Hamming equals bit Hamming); p-stable euclidean
        // keys ("band:,c1,c2,…") rank by L1 cell distance (each cell
        // step is one bucketWidth in the projected space).
        // `occ` ≤ nBands × min(distinct buckets, filtered) rows.
        val occ = n.select(col("b").as("nb")).distinct()
          .withColumn("band", substring_index(col("nb"), ":", 1))
        val pw = Window.partitionBy(col("query_id"), col("band"))
          .orderBy(col("dist").asc, col("nb").asc)
        val ranked = q
          .select(col("query_id"), col("b").as("qb"),
            substring_index(col("b"), ":", 1).as("band"))
          .join(maybeBroadcast(occ), Seq("band"))
          .withColumn("dist", bucketDist(metric)(col("qb"), col("nb")))
          .withColumn("prn", row_number().over(pw))
        // probe-all short-circuit (see scaladoc): the band occupancy is a
        // count over the SAME window partition the rank pays — when the
        // filter has shrunk a band to ≤ probeAllOcc occupied buckets,
        // probe all of them (exact over the filtered subset by
        // construction, measured at-or-faster than partial probing)
        val kept =
          if (probeAllOcc <= 0) ranked.filter(col("prn") <= probeBuckets)
          else ranked
            .withColumn("occ_band", count(lit(1)).over(
              Window.partitionBy(col("query_id"), col("band"))))
            .filter(col("prn") <= probeBuckets ||
              col("occ_band") <= probeAllOcc)
        val probes = kept.select(col("nb").as("b"), col("query_id"))
        n.join(maybeBroadcast(probes), Seq("b")).drop("b")
      }
    val candidates =
      if (shortlist <= 0) joined.dropDuplicates("query_id", "id")
      else {
        // same shuffle the dedup pays (narrow (query_id, id) keys), but
        // the aggregate keeps the agreement count the dedup throws away
        val sw = Window.partitionBy(col("query_id"))
          .orderBy(col("n_bands").desc, col("id").asc)
        joined.groupBy(col("query_id"), col("id"))
          .agg(count(lit(1)).as("n_bands"))
          .withColumn("srn", row_number().over(sw))
          .filter(col("srn") <= shortlist)
          .select(col("query_id"), col("id"))
      }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("id").asc)
    // JL pre-cut (projDim > 0): the candidate volume scores against
    // projDim-dim projections first, and only the projected top
    // `projShortFactor`·k per query pay the raw-vector re-attach —
    // the exact tail below is unchanged, so the output contract
    // (true-metric score + minSim floor) holds either way
    val toScore =
      if (projDim <= 0) candidates
      else {
        require(projInDim > 0, "projDim > 0 needs projInDim (raw dim)")
        val seed = 0x4A4CL // fixed: seeding must be deterministic
        val pn = RandomProjection.project(live, seed, projDim, projInDim)
          .select(col("id"), col("vector").as("__pv"))
        val pq = RandomProjection.project(queries, seed, projDim,
            projInDim, idCol = "query_id", vecCol = "query_vec")
          .select(col("id").as("query_id"), col("vector").as("__pq"))
        val pw = Window.partitionBy(col("query_id"))
          .orderBy(col("__ps").desc, col("id").asc)
        candidates
          .join(pn, Seq("id"))
          .join(maybeBroadcast(pq), Seq("query_id"))
          .withColumn("__ps", scoreFn(metric)(col("__pq"), col("__pv")))
          .withColumn("__prn", row_number().over(pw))
          .filter(col("__prn") <= math.max(projShortFactor * k, k))
          .select(col("query_id"), col("id"))
      }
    toScore
      .join(live.select(col("id"), col("vector")), Seq("id"))
      .join(maybeBroadcast(queries.select(col("query_id"), col("query_vec"))),
        Seq("query_id"))
      // barrier: one kernel evaluation per candidate (KnnSearch rule)
      .withColumn("score", VectorFunctions.once(
        scoreFn(metric)(col("query_vec"), col("vector"))))
      .filter(col("score") > lit(minSim) && !isnan(col("score"))) // see KnnSearch NaN note
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("id"), col("score"), col("rn"))
  }

  /** LSH-seeded graph search — the scale-correct hybrid: seed each
    * query's frontier with its LSH bucket candidates (top-`ef` by true
    * score, the [[searchLsh]] path), then run `iters` level-0 frontier
    * expansions to pull in true neighbors whose buckets the query
    * missed. [[searchGraph]]'s upper-layer descent exists to ROUTE from
    * a global entry set to the query's neighborhood; a hop-budgeted
    * frontier walk cannot do that across a large graph (measured:
    * recall 0.0 at 200 k under the default budgets — SCALING.md), while
    * LSH seeding lands the frontier in the right neighborhood in O(1)
    * jobs, after which each expansion can only improve on the seeds
    * (the final rank scores seeds ∪ expansions with the true metric).
    * Tombstoned nodes stay routable mid-walk and are filtered from
    * results ([[searchGraph]]'s reference semantics). Output
    * (query_id, id, score, rn) — the [[KnnSearch.knnExact]] contract.
    * `snapshot` and `queryCount` choose how the expansions run
    * ([[walk]]). */
  def searchGraphSeeded(nodes: DataFrame, edges: DataFrame,
      queries: DataFrame, k: Int, minSim: Double, params: IndexParams,
      ef: Int = 64, iters: Int = 2,
      anchors: Option[Seq[Seq[Array[Float]]]] = None,
      broadcastBytes: Long = DefaultBroadcastBytes,
      seedShortlist: Int = 0,
      idFilter: Option[DataFrame] = None,
      seedProbeBuckets: Int = 1, seedProbeAllOcc: Int = 0,
      seedProjDim: Int = 0,
      queryCount: Long = -1L,
      snapshot: GraphSnapshot.Known = GraphSnapshot.Unknown): DataFrame = {
    require(ef >= k, s"ef $ef < k $k")
    // seeds: the LSH candidates' top-ef by TRUE score (no similarity
    // floor yet — a floor here could empty the frontier and the final
    // rank applies it anyway). Data-derived `anchors` make the whole
    // hybrid oracle-derivable (the a01/a07 pattern — a18 hash-checks it).
    // `seedShortlist` bounds the seeding scan on hot-bucket corpora (the
    // [[searchLshKeyed]] band-agreement shortlist); the expansions then
    // recover neighbors the truncated seed set missed via graph edges.
    // `idFilter` pre-filters seeds AND expansion candidates (see
    // [[walk]]'s filtered-walk contract). The filtered-walk
    // contract puts the RECALL on the seed probe (expansions never route
    // through non-matching nodes), so a correlated filter starves this
    // arm exactly like plain LSH — `seedProbeBuckets`/`seedProbeAllOcc`
    // are the same occupied-bucket multi-probe levers, escalated by the
    // caller with the shared rule (facade + dispatcher pass base 3 with
    // probe-all at 10× budget).
    val seedSearch = anchors match {
      case Some(a) => searchLshAnchored(nodes, queries, ef,
        Double.NegativeInfinity, a, params.metric, broadcastBytes,
        seedShortlist, idFilter, seedProbeBuckets, seedProbeAllOcc)
      case None => searchLsh(nodes, queries, ef,
        Double.NegativeInfinity, params, broadcastBytes, seedShortlist,
        idFilter, seedProbeBuckets, seedProbeAllOcc,
        // seedProjDim > 0: JL-projected seeding — the high-dim lever
        // (the seeding scan's re-attach join carries dim-width vectors;
        // at 384 it dominated the serve wall, SCALING.md dim-384 rung).
        // The seeds still re-rank raw before the walk, and expansions
        // score raw, so the hybrid's contract is unchanged.
        projDim = seedProjDim, projShortFactor = 8)
    }
    val withDel = withDeleted(nodes)
    walk(withDel, edges, queries,
      snapshotOf(snapshot, withDel, edges, params.dim, broadcastBytes),
      Some(seedSearch), Seq(WalkLevel(0, ef, iters)), None, k, minSim,
      params.metric, broadcastBytes, idFilter, queryCount, params.m)
  }

  /** THE selectivity-escalation rule, shared by every probed arm (the
    * VectorStore facade and [[AdaptiveSearch]] both delegate here): a
    * pre-filter shrinks each probed cell's MATCHING members by the
    * filtered fraction, so a fixed probe budget sees proportionally
    * fewer seeds/candidates — probing ~nProbe/selectivity cells (capped
    * at the cell count) keeps the MATCHING candidate volume constant
    * while per-cell work still tracks the filtered fraction (only
    * matching members are ever scored). Measured strictly better than
    * fixed probes (GraphProbe filtered sweep, SCALING.md): at 1 M /
    * 1-in-100 selectivity, recall@10 0.776 → 1.0 at EQUAL OR LOWER
    * wall. The reference's recall levers are ef/beam (hnsw.ts:244-246);
    * probe volume is their coarse-quantizer analog. */
  def escalatedProbes(nProbe: Int, filtered: Long, total: Long,
      cells: Long): Int = {
    val sel = math.max(filtered.toDouble / math.max(1L, total).toDouble,
      1e-9)
    math.min(cells, math.ceil(nProbe / sel).toLong).toInt
  }

  /** IVF-seeded graph search — the seeded hybrid for HOT-BUCKET corpora
    * (cosine metric): clustered data keeps cluster-sized LSH buckets at
    * any bits setting, so LSH seeding pays O(Σ bucket overlap) in the
    * candidate shuffle (measured 149 s at 500 k×64 — SCALING.md; the
    * band-agreement shortlist was measured AND REFUTED there: no wall
    * win, recall 0.726 → 0.41, because the SHUFFLE is the cost, not the
    * scoring pass). Coarse-quantizer seeding bounds the same stage at
    * O(Q × nProbe × n/cells) by construction — the [[IvfIndex]] probe —
    * and the bounded level-0 expansions then recover neighbors outside
    * the probed cells exactly as in [[searchGraphSeeded]]. Pass the
    * build-time `assignments` to skip the O(n × cells) re-assignment
    * (the [[AdaptiveSearch.PqPrebuilt]] rule).
    *
    * MULTI-PROBE is the recall lever (IVF's standard nprobe knob):
    * seed coverage grows with probed cells while seeding cost stays
    * O(Q × nProbe × n/cells) by construction. Measured on the 500 k×64
    * ladder (GraphProbe ivf sweep, SCALING.md): nProbe 8 → recall@10
    * 0.654; 16 → 0.756; **32 → 0.902 at 3.5–5.1 s serving**;
    * 48 → 0.966 — past the LSH-seeded hybrid's 0.726 ceiling at ~1/20
    * its cost. Default 32: the knee of that curve. */
  def searchGraphSeededIvf(nodes: DataFrame, edges: DataFrame,
      queries: DataFrame, k: Int, minSim: Double, params: IndexParams,
      centroids: DataFrame, ef: Int = 64, iters: Int = 2, nProbe: Int = 32,
      assignments: Option[DataFrame] = None,
      broadcastBytes: Long = DefaultBroadcastBytes,
      idFilter: Option[DataFrame] = None,
      queryCount: Long = -1L,
      snapshot: GraphSnapshot.Known = GraphSnapshot.Unknown): DataFrame = {
    require(ef >= k, s"ef $ef < k $k")
    // the coarse quantizer AND the final rank are cosine — silently
    // serving a euclidean index would change both the top-k and the
    // threshold semantics vs every sibling search path
    require(params.metric == "cosine",
      s"IVF-seeded search is cosine-only; index metric is ${params.metric}")
    val withDel = withDeleted(nodes)
    val seeds = IvfIndex.search(withDel, centroids, queries, ef,
      Double.NegativeInfinity, nProbe, assignments, idFilter,
      broadcastBytes)
    walk(withDel, edges, queries,
      snapshotOf(snapshot, withDel, edges, params.dim, broadcastBytes),
      Some(seeds), Seq(WalkLevel(0, ef, iters)), None, k, minSim,
      "cosine", broadcastBytes, idFilter, queryCount, params.m)
  }

  /** Graph-traversal ANN over the built (nodes, edges) index.
    *
    * Starts from the top-layer membership (the entry-point set) and walks
    * down: each level > 0 gets ONE frontier expansion bounded by
    * `max(efUpper, k)` (routing — the reference descends upper layers with
    * a width-1 greedy walk, `hnsw.ts:99-110`), and level 0 gets
    * `itersPerLevel` expansions keeping the best `ef` candidates per query
    * (the actual search, `hnsw.ts:112-140`). Tombstoned nodes stay
    * routable but are filtered from final results — the reference's
    * traversal semantics (`hnsw.ts:292,392`; SURVEY §7.5).
    *
    * REACHABILITY AT SCALE: a hop-budgeted set-at-a-time descent cannot
    * route from a global entry set to a query's neighborhood across a
    * large graph — the walk alone measured recall 0.000 at 200 k under
    * ANY sane budget (the reference's sequential greedy runs unbounded
    * hops per layer, `hnsw.ts:301-375`; an engine paying one scheduled
    * job per hop cannot — SCALING.md r8). The level-0 frontier therefore
    * also seeds from the index's own LSH buckets (top-`ef` by true
    * score, the [[searchGraphSeeded]] seeding stage): O(1) jobs to land
    * in the right neighborhood, after which the expansions refine, and
    * the final true-metric rank over descent ∪ seeds ∪ expansions can
    * only improve on either part. `routedOnly = true` restores the bare
    * descent (measurement/diagnostics — NOT a serving configuration). */
  def searchGraph(nodes: DataFrame, edges: DataFrame, queries: DataFrame,
      k: Int, minSim: Double, params: IndexParams,
      ef: Int = 32, itersPerLevel: Int = 2, efUpper: Int = 8,
      broadcastBytes: Long = DefaultBroadcastBytes,
      routedOnly: Boolean = false,
      queryCount: Long = -1L,
      snapshot: GraphSnapshot.Known = GraphSnapshot.Unknown): DataFrame = {
    val withDel = withDeleted(nodes)
    val snap = snapshotOf(snapshot, withDel, edges, params.dim,
      broadcastBytes)
    val entryLevel = snap match {
      case Some(s) =>
        require(s.nodes == 0 || s.entryLevel >= 0,
          "routed graph search needs the node table's `level` column")
        if (s.nodes == 0) None else Some(s.entryLevel)
      case None =>
        val r = withDel.agg(max(col("level"))).head()
        if (r.isNullAt(0)) None else Some(r.getInt(0))
    }
    entryLevel match {
      case None => // empty index → empty result, not an NPE
        withDel.sparkSession.emptyDataFrame
          .select(lit(0L).as("query_id"), lit(0L).as("id"),
            lit(0.0).as("score"), lit(0).as("rn")).limit(0)
      case Some(top) =>
        val levels = (top to 0 by -1).map(l =>
          if (l > 0) WalkLevel(l, math.max(efUpper, k), 1)
          else WalkLevel(0, ef, itersPerLevel))
        // the reachability seeds join the frontier where the actual
        // search happens — level 0 — so the upper-layer routing budget
        // stays the reference's and the seeds aren't truncated by the
        // narrow routing window
        val seeds =
          if (routedOnly) None
          else Some(searchLsh(withDel, queries, ef,
              Double.NegativeInfinity, params, broadcastBytes)
            .select(col("query_id"), col("id"), col("score")))
        walk(withDel, edges, queries, snap, None, levels, seeds, k, minSim,
          params.metric, broadcastBytes, None, queryCount, params.m)
    }
  }

  /** The `broadcastBytes` default of every search here. */
  val DefaultBroadcastBytes: Long = 64L << 20

  private def withDeleted(nodes: DataFrame): DataFrame =
    if (nodes.columns.contains("deleted")) nodes
    else nodes.withColumn("deleted", lit(false))

  private def snapshotOf(known: GraphSnapshot.Known, nodes: DataFrame,
      edges: DataFrame, dim: Int, broadcastBytes: Long)
      : Option[GraphSnapshot] = known match {
    case h: GraphSnapshot.Held => h.snapshot
    case GraphSnapshot.Unknown =>
      GraphSnapshot.fitting(nodes, edges, dim, broadcastBytes)
  }

  /** THE graph walk, shared by every graph search: from the `start`
    * frontier (query_id, id, score) — or, when `None`, the entry layer
    * (the nodes on `levels.head.level`) scored against every query and
    * cut to that level's `ef` — run each [[WalkLevel]]'s hops; `seeds`
    * (query_id, id, score) join the frontier when the walk reaches
    * level 0. A hop scores the frontier's out-neighbors on the level
    * with the true metric and keeps the best `ef` per query, deduped on
    * (query_id, id), ties broken by id. The final rank keeps live
    * (`nodes.deleted` false) rows with a non-NaN score above `minSim`,
    * best `k` per query, as (query_id, id, score, rn): tombstoned nodes
    * stay routable mid-walk and are filtered only here.
    *
    * Filtered-walk contract (`idFilter`): expansion CANDIDATES restrict
    * to the filtered set before scoring — the frontier holds only
    * matching nodes, so a selective predicate can never crowd matching
    * candidates out of the ef window with non-matching high scorers,
    * results are provably ⊆ the filtered set, and per-hop work shrinks
    * with the filtered fraction. The trade is that the walk does not
    * route THROUGH non-matching nodes (their out-edges never fire); the
    * filtered seed probe carries the recall — it lands in every probed
    * cell/bucket independent of graph connectivity — and expansions add
    * matching neighbors of matching seeds. Under very selective
    * predicates raise nProbe/ef rather than relying on the walk.
    *
    * Two executions, one result: with a `snapshot` (the graph fit the
    * broadcast gate, [[GraphSnapshot.fitting]]) every hop and the final
    * rank of a query run in one task over the broadcast arrays
    * ([[fusedWalk]]); past the gate the hops run as joins over the
    * edge and node tables ([[frameWalk]]), the only form that works on
    * a graph too large to broadcast. */
  private[operators] def walk(nodes: DataFrame, edges: DataFrame,
      queries: DataFrame, snapshot: Option[GraphSnapshot],
      start: Option[DataFrame],
      levels: Seq[WalkLevel], seeds: Option[DataFrame], k: Int,
      minSim: Double, metric: String, broadcastBytes: Long,
      idFilter: Option[DataFrame], queryCount: Long, edgeCap: Int)
      : DataFrame = snapshot match {
    case Some(s) => fusedWalk(s, nodes, queries, start, levels, seeds, k,
      minSim, metric, idFilter)
    case None => frameWalk(nodes, edges, queries, start, levels, seeds, k,
      minSim, metric, broadcastBytes, idFilter, queryCount, edgeCap)
  }

  private val FusedSchema = StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("score", DoubleType, nullable = false),
    StructField("rn", IntegerType, nullable = false)))

  /** [[walk]] over a broadcast snapshot: the start, seed and query rows
    * meet in ONE exchange on query_id, and each query's group runs its
    * whole walk ([[GraphData.walk]]) in the task — no per-hop join,
    * checkpoint or action. The plan stays lazy: the seeding stages run
    * inside the action that reads the result. An `idFilter` is collected
    * once per call into a bitset over the snapshot's nodes (at most the
    * snapshot's node count, which the gate bounds). A null start or seed
    * score ranks as −∞: lowest, and never above `minSim`. */
  private def fusedWalk(snap: GraphSnapshot, nodes: DataFrame,
      queries: DataFrame, start: Option[DataFrame], levels: Seq[WalkLevel],
      seeds: Option[DataFrame], k: Int, minSim: Double, metric: String,
      idFilter: Option[DataFrame]): DataFrame = {
    val data = snap.data
    val allowed = idFilter.map { f =>
      val g = data.value
      val bits = new java.util.BitSet(snap.nodes)
      f.select(col("id").cast("long")).collect().foreach { r =>
        if (!r.isNullAt(0)) {
          val i = g.indexOf(r.getLong(0))
          if (i >= 0) bits.set(i)
        }
      }
      bits
    }.orNull
    val vecType = ArrayType(FloatType)
    def tagged(df: DataFrame, kind: Int): DataFrame =
      df.select(col("query_id").cast("long").as("query_id"),
        lit(kind).as("kind"), col("id").cast("long").as("id"),
        col("score").cast("double").as("score"),
        lit(null).cast(vecType).as("query_vec"))
    val queryRows = queries.select(
      col("query_id").cast("long").as("query_id"), lit(2).as("kind"),
      lit(null).cast("long").as("id"), lit(null).cast("double").as("score"),
      col("query_vec").cast(vecType).as("query_vec"))
    val rows = (start.map(tagged(_, 0)).toSeq ++ seeds.map(tagged(_, 1))
      :+ queryRows).reduce(_ union _)
    val lv = levels.toArray
    val startFromEntries = start.isEmpty
    val hasSeeds = seeds.isDefined
    rows.groupByKey((r: Row) => r.getLong(0))(Encoders.scalaLong)
      .flatMapGroups { (qid: Long, group: Iterator[Row]) =>
        var q: Array[Float] = null
        val st = Array.newBuilder[(Long, Double)]
        val sd = Array.newBuilder[(Long, Double)]
        group.foreach { r =>
          def row = (r.getLong(2),
            if (r.isNullAt(3)) Double.NegativeInfinity else r.getDouble(3))
          r.getInt(1) match {
            case 0 => if (!r.isNullAt(2)) st += row
            case 1 => if (!r.isNullAt(2)) sd += row
            case _ => if (!r.isNullAt(4)) q = r.getSeq[Float](4).toArray
          }
        }
        data.value.walk(metric, q, if (startFromEntries) null else st.result(),
            if (hasSeeds) sd.result() else null, lv, allowed, k, minSim)
          .iterator.zipWithIndex.map { case ((id, s), i) =>
            Row(qid, id, s, i + 1)
          }
      }(Encoders.row(FusedSchema))
      .select(col("query_id").cast(queries.schema("query_id").dataType),
        col("id").cast(nodes.schema("id").dataType), col("score"),
        col("rn"))
  }

  /** [[walk]] as DataFrame joins, for graphs past the snapshot gate.
    *
    * `queryCount` ≥ 0 arms the BOUNDED-FRONTIER broadcast gates (r15,
    * guide §2.4/§3.1): the frontier is ≤ Q × ef narrow rows BY
    * CONSTRUCTION (every hop re-caps it through the top-ef window) and
    * the per-hop expansion is ≤ Q × ef × edgeCap rows (the build caps
    * out-degree at M), so when those ARITHMETIC bounds fit
    * `broadcastBytes` the hop joins broadcast the query-proportional
    * side and the CORPUS-side relations (edge table, node re-attach)
    * are never shuffled — without the gate every hop planned a
    * sort-merge join that re-shuffled the edge and node tables because
    * a checkpointed frontier has no usable stats. Past the gate the
    * joins keep the stats-driven shape; −1 keeps it always.
    *
    * The frontier stays NARROW (query_id, id, score) through every
    * window and checkpoint — query vectors re-attach per expansion from
    * the (size-gated) broadcast query set, so no dim-width payload rides
    * the per-query rank shuffles or the checkpointed blocks. */
  private def frameWalk(nodes: DataFrame, edges: DataFrame,
      queries: DataFrame, start: Option[DataFrame], levels: Seq[WalkLevel],
      seeds: Option[DataFrame], k: Int, minSim: Double, metric: String,
      broadcastBytes: Long, idFilter: Option[DataFrame], queryCount: Long,
      edgeCap: Int): DataFrame = {
    val sf = scoreFn(metric)
    val ef = levels.last.ef // the level-0 search width
    val topW = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("id").asc)
    def topEf(df: DataFrame, n: Int): DataFrame =
      df.withColumn("rn", row_number().over(topW))
        .filter(col("rn") <= n).drop("rn")
    // one exchange for dedup + rank: pre-clustering by query_id
    // satisfies BOTH the (query_id, id) dedup's and the rank window's
    // required distribution (partitioning expressions ⊆ clustering
    // keys), so the old dedup-exchange → window-exchange pair collapses
    // to a single hash(query_id) shuffle per hop
    def dedupTopEf(df: DataFrame, n: Int): DataFrame =
      topEf(df.repartition(
          boundedPartitions(queries.sparkSession, queryCount, ef),
          col("query_id"))
        .dropDuplicates("query_id", "id"), n)
    val frontierFits = queryCount >= 0 &&
      queryCount * ef.toLong * 32L * BroadcastOverheadX <= broadcastBytes
    val candFits = queryCount >= 0 && edgeCap > 0 &&
      queryCount * ef.toLong * edgeCap.toLong * 24L * BroadcastOverheadX <=
        broadcastBytes
    val qvs = KnnSearch.maybeBroadcast(
      queries.select(col("query_id"), col("query_vec")), broadcastBytes)
    var frontier = (start match {
      case Some(s) => s.select(col("query_id"), col("id"), col("score"))
      case None =>
        // size-gated (the [[KnnSearch.knnExact]] rule): past the gate the
        // entry cross join runs unhinted at identical results
        topEf(nodes.filter(col("level") === levels.head.level)
            .select(col("id"), col("vector"))
            .crossJoin(KnnSearch.maybeBroadcast(queries, broadcastBytes))
            .withColumn("score", sf(col("query_vec"), col("vector")))
            .select(col("query_id"), col("id"), col("score")),
          levels.head.ef)
    }).localCheckpoint()
    // Hops compose LAZILY across the whole descent, re-checkpointing
    // every 2 hops REGARDLESS of level boundaries: each hop's
    // (union ∪ expand) references the previous frontier twice, so the
    // duplication factor stays ≤ 4 between checkpoints — bounded
    // planning cost — while every eager checkpoint REMOVED is one fewer
    // sequential action paying its own planning/broadcast round trip
    // (r16 measured the walk rows spending ~half their wall BETWEEN
    // jobs). dedupTopEf rows are deterministic (ties break by id), so a
    // re-executed duplicated subtree yields identical rows. The LAST hop
    // plus the final rank run in ONE action. Lazy hop checkpoints
    // (localCheckpoint(eager=false)) were prototyped in r15 and REFUTED:
    // steady-state wall unchanged, the cold first call ~50% slower.
    var pending = 0
    for (lv <- levels) {
      val e = edges.filter(col("level") === lv.level)
        .select(col("src"), col("dst"))
      // the seeds' subplan is the one LARGE subtree of the walk —
      // checkpoint the merge so later hops duplicate a checkpointed
      // leaf, never the seeding join itself
      if (lv.level == 0) seeds.foreach { s =>
        frontier = dedupTopEf(frontier.unionByName(s), lv.ef)
          .localCheckpoint()
        pending = 0
      }
      for (it <- 1 to lv.iters) {
        val lastHop = lv.level == 0 && it == lv.iters
        // checkpoint before the LAST hop when anything is pending: the
        // last hop's (union ∪ expand) references its input twice, so a
        // pending hop below it would execute twice inside the final
        // action (measured: re-ran hop 1 inside a18/a19's final action)
        if (lastHop && pending > 0) {
          frontier = frontier.localCheckpoint(); pending = 0
        }
        val fsrc = if (frontierFits) broadcast(frontier) else frontier
        val cand = KnnSearch.restrictIds(fsrc
          .join(e, fsrc("id") === e("src"))
          .select(col("query_id"), col("dst").as("id"))
          .dropDuplicates("query_id", "id"), idFilter)
        val expanded = (if (candFits) broadcast(cand) else cand)
          .join(nodes.select(col("id"), col("vector")), Seq("id"))
          .join(qvs, Seq("query_id"))
          .withColumn("score", sf(col("query_vec"), col("vector")))
          .select(col("query_id"), col("id"), col("score"))
        frontier = dedupTopEf(frontier.unionByName(expanded), lv.ef)
        pending += 1
        if (pending >= 2 && !lastHop) {
          frontier = frontier.localCheckpoint(); pending = 0
        }
      }
    }
    (if (frontierFits) broadcast(frontier) else frontier)
      .join(nodes.filter(!col("deleted")).select(col("id")), Seq("id"))
      .filter(col("score") > lit(minSim) && !isnan(col("score")))
      .withColumn("rn", row_number().over(topW)) // single final rank pass
      .filter(col("rn") <= k)
      .select(col("query_id"), col("id"), col("score"), col("rn"))
  }
}
