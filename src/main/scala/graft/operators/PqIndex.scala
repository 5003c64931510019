package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Product quantization (PQ) — the memory-compression scale path for vector
  * search (Jégou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011). The reference engine keeps every full vector in RAM
  * (`hnsw.ts` stores `Array<number>` per node); at 100 TB that is the
  * dominant cost, and PQ is the standard answer: split each `dim` vector
  * into `m` subspaces, quantize each subspace against its own `ksub`-entry
  * codebook, and keep only the `m` small codes per vector (64-dim float =
  * 256 B → 8 B at m=8). Search then never touches the original vectors:
  * asymmetric distance computation (ADC) scores a query against the
  * CODES via a per-query lookup table of query-to-centroid distances.
  *
  * Spark shape, sized for 100 TB:
  *  - codebooks are tiny (m × ksub rows) and BROADCAST everywhere; the
  *    corpus never shuffles during encode (explode to n×m narrow slices,
  *    map-side argmin, partial-agg collapse back to one codes-array row
  *    per vector).
  *  - ADC: per-query LUTs (m × ksub distances each, flattened to one
  *    array) are computed on the query's own row by the
  *    [[graft.functions.PqLutExpr]] kernel (codebooks as a literal — no
  *    exploded rows, no regroup shuffle; [[lutTable]]) and BROADCAST
  *    against the packed codes table — n × Q rows, the
  *    same row count as exact kNN, but each row is a codegen'd m-lookup
  *    sum ([[graft.functions.PqAdcExpr]]) instead of a dim-length float
  *    kernel, and the scanned side carries 8-byte codes instead of
  *    256-byte vectors (32× less I/O — the advantage that compounds at
  *    scale). Composable with [[IvfIndex]] cell probing (IVF-PQ) to cut
  *    `n` before the scan.
  *  - Determinism without decimals: each ADC value sums exactly m
  *    distances in FIXED sub order inside one row, so results are
  *    partition-order-free and reproducible by any engine that sums the
  *    per-sub distances in sub order (the oracle's ordered list_reduce).
  *    LUT entries round to 8 dp so both engines feed identical doubles in.
  *
  * Codebooks: [[sampleCodebooks]] is plain data selection (sub-slices of
  * the `ksub` lowest-id live vectors) so an external engine re-derives
  * every code and ADC total from the same parquet — the oracle-checkable
  * bootstrap, like [[IvfIndex.sampleCodebook]]. [[trainCodebooks]] is the
  * quality path: per-subspace euclidean Lloyd iterations (same broadcast
  * argmin shape per round); its float means are engine-internal, so recall
  * is pinned by PqSpec rather than the DuckDB gate.
  */
object PqIndex {

  /** THE subspace-count rule every PQ lifecycle site shares (build,
    * append, serve, dispatcher): ~8-dim subvectors, minimum 8
    * subspaces — dim 64 → m = 8 (the r1–r12 geometry, every hash row
    * unchanged), dim 384 → m = 48. A FIXED m = 8 at the reference's
    * recommended 384-dim embedder quantizes 48-dim subvectors with one
    * byte each and recall collapses (measured 0.275 recall@10 at
    * 200 k×384 — SCALING.md dim-384 rung); bytes/vector stay dim/8 =
    * 32× under float32 at any dim. Persisted generations are guarded by
    * [[AdaptiveSearch.validateGeometry]] — a store built under a
    * different rule fails loudly at dispatch, not silently. */
  def subspaces(dim: Int): Int = math.max(8, dim / 8)

  private def live(nodes: DataFrame): DataFrame =
    if (nodes.columns.contains("deleted")) nodes.filter(!col("deleted"))
    else nodes

  /** Query-proportional side tables (LUTs, candidate shortlists) route
    * through [[KnnSearch.maybeBroadcast]] — the single gate definition. */
  private def maybeBroadcast(df: DataFrame, bytes: Long): DataFrame =
    KnnSearch.maybeBroadcast(df, bytes)

  /** 8-dp LUT quantization via `floor(x·1e8 + 0.5)/1e8` — pure IEEE ops
    * both engines evaluate identically. `round(double, n)` is NOT
    * cross-engine portable at boundary values (the Retrieval.scala
    * determinism note), so it appears nowhere in a hash-checked path.
    * [[graft.functions.PqLutExpr]] applies the same ops to every LUT
    * entry. */
  private def q8(c: Column): Column =
    floor(c * lit(100000000.0) + lit(0.5)).cast("double") /
      lit(100000000.0)

  /** (id, sub, subvec) slices — one narrow row per vector per subspace. */
  private[graft] def subSlices(nodes: DataFrame, m: Int, subLen: Int): DataFrame =
    live(nodes)
      .select(col("id"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("vector"))
      .select(col("id"), col("sub"),
        slice(col("vector"), col("sub") * subLen + 1, lit(subLen))
          .as("subvec"))

  /** Sub-codebooks as a (sub, code, centroid) table: subspace `sub`'s
    * centroids are the `[sub*subLen, (sub+1)*subLen)` slices of the `ksub`
    * lowest-id live vectors, codes numbered in id order. */
  def sampleCodebooks(nodes: DataFrame, m: Int, subLen: Int, ksub: Int)
      : DataFrame =
    live(nodes).orderBy(col("id").asc).limit(ksub)
      .withColumn("code",
        row_number().over(Window.orderBy(col("id").asc)) - 1)
      .select(col("code"), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("vector"))
      .select(col("sub"), col("code"),
        slice(col("vector"), col("sub") * subLen + 1, lit(subLen))
          .as("centroid"))

  /** Per-subspace euclidean k-means refinement of [[sampleCodebooks]]:
    * assign = broadcast argmin per (id, sub); update = per-(sub, code, pos)
    * mean (map-side combinable). Cells that lose all members keep their
    * previous centroid. On the heavily-noised 200k×64 probe data training
    * moves raw ADC recall only marginally (0.16 → 0.17 — subspace
    * distortion there is noise-dominated); the measured quality lever is
    * the [[searchAdcRerank]] shortlist depth (SCALING.md). */
  def trainCodebooks(nodes: DataFrame, m: Int, subLen: Int, ksub: Int,
      iters: Int): DataFrame =
    lloydRefine(subSlices(nodes, m, subLen).localCheckpoint(),
      sampleCodebooks(nodes, m, subLen, ksub), iters)

  /** (books, ids) literals for [[graft.functions.NearestCodeExpr]] from a
    * (sub, code, centroid) codebook table: books(sub) = that subspace's
    * centroids in code-ascending order (so the kernel's first-win strict
    * improvement reproduces `max_by`'s (−d, −code) tiebreak — lowest code
    * on exact-distance ties), ids(sub) = the matching code numbers. One
    * bounded collect — m × ksub rows, the codebook itself. */
  private def collectBooks(codebooks: DataFrame)
      : (Seq[Seq[Seq[Float]]], Seq[Seq[Int]]) = {
    val rows = bookEntries(codebooks)
    // corrupt-input guard: the broadcast-join formulation this kernel
    // replaced surfaced an empty codebook as an explicit geometry error
    // downstream; a bare `empty.max` UnsupportedOperationException hides
    // the actual problem
    require(rows.nonEmpty, "empty PQ codebook table")
    booksOf(rows, rows.map(_._1).max + 1)
  }

  /** The codebook table's (sub, code, centroid) rows, collected. */
  private def bookEntries(codebooks: DataFrame)
      : Array[(Int, Int, Seq[Float])] =
    codebooks.select(col("sub"), col("code"), col("centroid"))
      .collect().map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))

  /** Subspaces 0 until m as (centroids, codes), each in code order. */
  private def booksOf(rows: Array[(Int, Int, Seq[Float])], m: Int)
      : (Seq[Seq[Seq[Float]]], Seq[Seq[Int]]) = {
    val bySub = rows.groupBy(_._1)
    val empty = Array.empty[(Int, Int, Seq[Float])]
    (Seq.tabulate(m)(s =>
        bySub.getOrElse(s, empty).sortBy(_._2).map(_._3.toSeq).toSeq),
      Seq.tabulate(m)(s =>
        bySub.getOrElse(s, empty).sortBy(_._2).map(_._2).toSeq))
  }

  /** (keys…, lut) — THE ADC lookup tables every PQ serving path
    * shares: one [[graft.functions.PqLutExpr]] evaluation on each input
    * row, the codebooks shipped as a literal (one bounded collect of
    * m × ksub rows, the [[encode]] rule). Entry (sub, code) is the
    * 8-dp-quantized `metric` — `euclidean` distance or `dot` product —
    * of `vec`'s sub-slice and that centroid, in (sub, code) order: the
    * flat layout [[graft.functions.PqAdcExpr]] reads. Codebook entries
    * outside subspaces [0, m) never enter a LUT, and a codebook with
    * none inside yields no LUT rows. A map-side projection of `rows`:
    * no generator, no join, no shuffle. */
  private def lutTable(rows: DataFrame, keys: Seq[String], vec: Column,
      codebooks: DataFrame, m: Int, subLen: Int, metric: String)
      : DataFrame = {
    val entries = bookEntries(codebooks).filter(e => e._1 >= 0 && e._1 < m)
    val lut = rows.select(keys.map(col) :+ VectorFunctions.pqLut(vec,
      booksOf(entries, m)._1, subLen, metric).as("lut"): _*)
    if (entries.isEmpty) lut.where(lit(false)) else lut
  }

  /** Per-subspace Lloyd refinement of `init`: assign = codegen'd argmin
    * on the slice's own row ([[graft.functions.NearestCodeExpr]] — no
    * joined candidates, no sort; the codebook rides as a literal);
    * update = per-(sub, code, pos) mean (map-side combinable). Cells
    * that lose all members keep their previous centroid. */
  private def lloydRefine(slices: DataFrame, init: DataFrame, iters: Int)
      : DataFrame = {
    var cb = init.localCheckpoint()
    for (_ <- 1 to iters) {
      val (books, ids) = collectBooks(cb)
      val assigned = slices.withColumn("code",
        VectorFunctions.nearestCode(col("sub"), col("subvec"),
          books, ids, "euclidean"))
      val means = assigned
        .select(col("sub"), col("code"),
          posexplode(col("subvec")).as(Seq("pos", "x")))
        .groupBy(col("sub"), col("code"), col("pos"))
        .agg(avg(col("x")).as("mval"))
        .groupBy(col("sub"), col("code"))
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mval")))),
          e => e.getField("mval").cast("float")).as("centroid"))
      cb = cb.select(col("sub"), col("code"), col("centroid").as("old"))
        .join(means, Seq("sub", "code"), "left")
        .select(col("sub"), col("code"),
          coalesce(col("centroid"), col("old")).as("centroid"))
        .localCheckpoint()
    }
    cb
  }

  /** Deterministic k-means++-style seeds (Arthur & Vassilvitskii 2007),
    * batched for the distributed setting the way k-means|| batches the
    * sequential D² pass (Bahmani et al., VLDB 2012): start from the
    * lowest-id vector's slices, then over `rounds` rounds sample a batch
    * per subspace WITHOUT replacement with probability ∝ D² (distance²
    * to the nearest already-chosen seed). The weighted sample uses
    * Efraimidis–Spirakis A-Res keys — rank by u^(1/D²) with u a
    * hash-derived uniform in (0,1) — so seeding is a pure function of
    * the data and the round number: deterministic across runs,
    * partitionings and cluster sizes, like every other index-build
    * derivation here. Each round is one broadcast join over the slices
    * (seeds ≤ m × ksub rows — tiny), so the full pass is `rounds`
    * map-side scans: scale-safe at any corpus size. */
  def seedCodebooksPP(nodes: DataFrame, m: Int, subLen: Int, ksub: Int,
      rounds: Int = 8): DataFrame = {
    val slices = subSlices(nodes, m, subLen).localCheckpoint()
    var cb = sampleCodebooks(nodes, m, subLen, 1).localCheckpoint()
    var total = 1
    val batch = math.max(1, math.ceil((ksub - 1).toDouble / rounds).toInt)
    for (r <- 1 to rounds if total < ksub) {
      val take = math.min(batch, ksub - total)
      // narrow (id, sub, dd) through the agg — min(double) hash-aggs
      // with no sort; first(subvec) would force a SortAggregate over
      // the full slices×seeds volume (the [[IvfIndex.seedCentroidsPP]]
      // note); the subvec re-attaches by (id, sub) from the
      // checkpointed slices
      val d2 = slices.join(broadcast(cb), Seq("sub"))
        .withColumn("dd", VectorFunctions.euclideanDist(col("subvec"),
          col("centroid")))
        .groupBy(col("id"), col("sub"))
        .agg(min(col("dd")).as("d"))
        // zero-distance points are existing seeds (or duplicates of one):
        // weight 0 under D² sampling, so drop instead of pow(u, 1/0)
        .filter(col("d") > 0)
        .join(slices, Seq("id", "sub"))
      val u = (pmod(xxhash64(col("id"), col("sub"), lit(r)),
        lit(1000000000L)) + lit(1)).cast("double") / lit(1000000001.0)
      // two-level top-take per sub: a per-sub window alone would funnel
      // the corpus-sized slice table through m single partitions. Level 1
      // takes the top `take` within each (sub, physical partition) — a
      // superset of the per-sub global top `take` under ANY partitioning,
      // so the result is still partitioning-invariant; level 2 ranks only
      // the ≤ take·nPart survivors per sub.
      val keyed = d2
        .withColumn("skey", pow(u, lit(1.0) / (col("d") * col("d"))))
      val local = keyed
        .withColumn("pid", spark_partition_id())
        .withColumn("lrn", row_number().over(
          Window.partitionBy(col("sub"), col("pid"))
            .orderBy(col("skey").desc, col("id").asc)))
        .filter(col("lrn") <= take)
      val picked = local
        .withColumn("rn", row_number().over(Window.partitionBy(col("sub"))
          .orderBy(col("skey").desc, col("id").asc)))
        .filter(col("rn") <= take)
        .select(col("sub"), (col("rn") + lit(total - 1)).as("code"),
          col("subvec").as("centroid"))
      cb = cb.unionByName(picked).localCheckpoint()
      total += take
    }
    cb
  }

  /** [[trainCodebooks]] with k-means++-style initialization instead of
    * lowest-id sample slices — the cheapest codebook-quality lever: D²
    * seeding spreads initial centroids across the occupied subspace
    * volume, so Lloyd starts near a good partition instead of wherever
    * the first `ksub` ids happened to land. Same per-round dataflow
    * (broadcast argmin + map-side means); deterministic end to end. */
  def trainCodebooksPP(nodes: DataFrame, m: Int, subLen: Int, ksub: Int,
      iters: Int, rounds: Int = 8): DataFrame =
    lloydRefine(subSlices(nodes, m, subLen).localCheckpoint(),
      seedCodebooksPP(nodes, m, subLen, ksub, rounds), iters)

  /** Encode: per (id, subspace) the euclidean-nearest sub-centroid, ties
    * toward the lowest code. Returns (id, sub, code) — the compressed
    * corpus. The argmin runs on the slice's OWN row
    * ([[graft.functions.NearestCodeExpr]], codebook as a literal): the
    * former join-then-`max_by` formulation materialized n × m × ksub
    * scored rows through a SORT-based partial aggregate (`max_by`'s
    * struct key is not hash-aggregable) — at 1 M × 64 that is 2 billion
    * sorted rows for an 8 M-row output. */
  def encode(nodes: DataFrame, codebooks: DataFrame, m: Int, subLen: Int)
      : DataFrame = {
    val (books, ids) = collectBooks(codebooks)
    subSlices(nodes, m, subLen)
      .withColumn("code", VectorFunctions.nearestCode(col("sub"),
        col("subvec"), books, ids, "euclidean"))
      .select(col("id"), col("sub"), col("code"))
  }

  /** (id, codes ARRAY<INT> ordered by sub) — the packed 8-byte-per-vector
    * representation the ADC scan reads. */
  def packCodes(codes: DataFrame): DataFrame =
    codes.groupBy(col("id"))
      .agg(transform(
        array_sort(collect_list(struct(col("sub"), col("code")))),
        e => e.getField("code")).as("codes"))

  /** (id, nrm) — 8-dp-quantized L2 norm per live vector, the stored-norm
    * correction the cosine-consistent ADC divides by
    * ([[searchIvfPqResidualIp]]). One map-side projection; both engines
    * re-derive it bit-for-bit (ordered double dot + IEEE sqrt + the
    * shared floor quantizer). */
  def norms(nodes: DataFrame): DataFrame =
    live(nodes).select(col("id"),
      q8(sqrt(VectorFunctions.dotProduct(col("vector"), col("vector"))))
        .as("nrm"))

  /** [[packCodes]] + the stored norm — the serving-shaped codes table for
    * cosine stores ((id, codes, nrm)): the norm join is paid ONCE per
    * generation alongside the pack groupBy (the [[graft.VectorStore]]
    * pack-once memo), never per serve. Inner join: an id missing from
    * the live node table could not survive the exact re-rank anyway. */
  def packCodesWithNorms(codes: DataFrame, nodes: DataFrame): DataFrame =
    packedOf(codes).join(norms(nodes), Seq("id"))

  /** The ADC scan accepts EITHER code layout: a long (id, sub, code)
    * table packs here per call (fixture-scale callers), a pre-packed
    * (id, codes) table passes through — the [[VectorStore]] serving
    * paths memoize ONE packed table per PQ generation, because packing
    * is an n×m-row groupBy and paying it per serve dominated the wall
    * at 10 M vectors (158 s/serve, vs a 33 s exact scan). */
  private def packedOf(codes: DataFrame): DataFrame =
    if (codes.columns.contains("codes")) codes else packCodes(codes)

  /** ADC top-k: per-query flattened LUT ([sub*ksub + code] → 8-dp-rounded
    * distance) broadcasts onto the packed codes while the LUT set fits
    * `broadcastBytes`; a larger query batch falls back to a
    * shuffle-replicated nested loop (both sides stay partitioned — the
    * [[KnnSearch.knnExact]] fallback shape). Each (query, vector) row is
    * one codegen'd lookup-sum; rank ascending (ties id asc). Output
    * (query_id, id, rn) matches the other search paths. */
  def searchAdc(codes: DataFrame, codebooks: DataFrame, queries: DataFrame,
      k: Int, m: Int, subLen: Int,
      broadcastBytes: Long = 64L << 20,
      idFilter: Option[DataFrame] = None): DataFrame = {
    val scanCodes = KnnSearch.restrictIds(codes, idFilter)
    val lut = lutTable(queries, Seq("query_id"), col("query_vec"),
      codebooks, m, subLen, "euclidean")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("id").asc)
    val lutSmall =
      lut.queryExecution.optimizedPlan.stats.sizeInBytes <= broadcastBytes
    val paired =
      if (lutSmall) packedOf(scanCodes).crossJoin(broadcast(lut))
      else packedOf(scanCodes).crossJoin(lut.hint("SHUFFLE_REPLICATE_NL"))
    paired
      .withColumn("adc", VectorFunctions.pqAdc(col("codes"), col("lut")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("id"), col("rn"))
  }

  /** IVF-PQ: probe the `nProbe` nearest coarse cells per query
    * ([[IvfIndex]]-style), then ADC-score only their members' codes — the
    * composed architecture that cuts BOTH the scanned fraction
    * (nProbe/cells) and the bytes per scanned row (32×). `assignments` is
    * the persisted (id, cell) table from index build; candidates stay
    * narrow (query_id, id) end-to-end. Cosine cell ranking mirrors
    * [[IvfIndex.search]]; ADC stays euclidean over the same codes as
    * [[searchAdc]]. The probed-candidate and LUT tables grow with
    * Q × nProbe·(n/cells) and Q × m·ksub respectively, so both pass the
    * `broadcastBytes` gate — beyond it the id/query_id equi-joins run
    * unhinted and AQE shuffles them instead of pinning query-batch state
    * in every executor. */
  def searchIvfPq(codes: DataFrame, assignments: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int, m: Int, subLen: Int,
      broadcastBytes: Long = 64L << 20,
      idFilter: Option[DataFrame] = None): DataFrame = {
    // the restriction lands on the assignment table BEFORE the probe
    // join — candidate volume shrinks with the filtered fraction — and
    // the probed ranking runs over the cells the filtered members
    // actually occupy ([[IvfIndex.probeCells]] correlated-predicate
    // guard)
    val fasg = KnnSearch.restrictIds(
      assignments.select(col("cell"), col("id")), idFilter)
    val probed = IvfIndex.probeCells(queries, centroids, nProbe,
        idFilter.map(_ => fasg))
      .select(col("query_id"), col("cell"))
    val cand = fasg
      .join(maybeBroadcast(probed, broadcastBytes), Seq("cell"))
      .select(col("query_id"), col("id"))
    val lut = lutTable(queries, Seq("query_id"), col("query_vec"),
      codebooks, m, subLen, "euclidean")
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("id").asc)
    packedOf(codes).join(maybeBroadcast(cand, broadcastBytes), Seq("id"))
      .join(maybeBroadcast(lut, broadcastBytes), Seq("query_id"))
      .withColumn("adc", VectorFunctions.pqAdc(col("codes"), col("lut")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("id"), col("rn"))
  }

  /** Mean squared quantization error of `codes` against `codebooks` over
    * the vectors they encode, in MICRO units (⌊avg·10⁶⌋) — the drift
    * statistic behind the compressed-index append lifecycle
    * ([[graft.VectorStore.appendPqIndex]]): codes produced by FROZEN
    * codebooks degrade as the data distribution drifts away from the
    * build-time one, and the ratio delta-QE / build-QE is the standard
    * retrain gate. `vectors` must be the table `codes` encodes (raw or
    * residual space — whichever the codebooks live in). One narrow
    * join pass (codebooks broadcast), map-side squared distances,
    * single avg — O(n·m) slim rows, no corpus shuffle. Float-mean
    * accumulation is engine-internal (a GATE statistic, not an
    * oracle-checked column). */
  def meanQeMicro(vectors: DataFrame, codebooks: DataFrame,
      codes: DataFrame, m: Int, subLen: Int): Long = {
    val sl = subSlices(vectors, m, subLen)
    val row = sl.join(codes.select(col("id"), col("sub"), col("code")),
        Seq("id", "sub"))
      .join(broadcast(codebooks), Seq("sub", "code"))
      .select((VectorFunctions.euclideanDist(col("subvec"), col("centroid"))
        * VectorFunctions.euclideanDist(col("subvec"), col("centroid")))
        .as("e"))
      .agg(avg(col("e"))).head()
    if (row.isNullAt(0)) 0L else math.floor(row.getDouble(0) * 1e6).toLong
  }

  /** Residual table for IVF-PQ: v − coarse_centroid[cell], per live
    * vector. Subtraction stays in FLOAT — Spark float-minus-float and
    * DuckDB FLOAT−FLOAT produce the identical float (verified: both
    * round to float then widen), so an external engine re-derives every
    * residual bit-for-bit. Centroids broadcast (small by contract); the
    * corpus is touched map-side only. */
  def residuals(nodes: DataFrame, assignments: DataFrame,
      centroids: DataFrame): DataFrame =
    // project the assignment contract (id, cell) — IvfIndex.assign keeps
    // payload columns (incl. `vector`) that would otherwise collide
    live(nodes).join(assignments.select(col("id"), col("cell")), Seq("id"))
      .join(broadcast(centroids), Seq("cell"))
      .select(col("id"), col("cell"),
        zip_with(col("vector"), col("centroid"), (x, y) => x - y)
          .as("vector"))

  /** Residual IVF-PQ — the canonical composition (Jégou et al. §IV):
    * codes quantize the RESIDUAL from the coarse centroid instead of the
    * raw vector, so the codebook only has to cover the within-cell
    * displacement distribution (much tighter than the global one — the
    * accuracy win that makes IVF-PQ the production architecture). The
    * price is per-(query, probed-cell) LUTs — the query's residual
    * differs per cell — so the LUT table grows Q × nProbe × m·ksub
    * instead of Q × m·ksub; every query-proportional table passes the
    * `broadcastBytes` gate. `codes` must come from [[encode]] over
    * [[residuals]] with `codebooks` sampled/trained on the same residual
    * space; cell ranking mirrors [[IvfIndex.search]] (cosine on raw
    * vectors). Output (query_id, id, rn) by ADC ascending, ties id. */
  def searchIvfPqResidual(codes: DataFrame, assignments: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int, m: Int, subLen: Int,
      broadcastBytes: Long = 64L << 20,
      idFilter: Option[DataFrame] = None): DataFrame = {
    // probed ranking over the filtered members' cells only
    // ([[IvfIndex.probeCells]] correlated-predicate guard); the same
    // restricted assignment table then bounds the candidate join below
    val fasg = KnnSearch.restrictIds(
      assignments.select(col("cell"), col("id")), idFilter)
    val probed = IvfIndex.probeCells(queries, centroids, nProbe,
        idFilter.map(_ => fasg))
      .select(col("query_id"), col("cell"))
    val qres = probed
      .join(broadcast(centroids), Seq("cell"))
      .join(maybeBroadcast(queries, broadcastBytes), Seq("query_id"))
      .select(col("query_id"), col("cell"),
        zip_with(col("query_vec"), col("centroid"), (x, y) => x - y)
          .as("qr"))
    val lut = lutTable(qres, Seq("query_id", "cell"), col("qr"), codebooks,
      m, subLen, "euclidean")
    val cand = fasg
      .join(maybeBroadcast(probed, broadcastBytes), Seq("cell"))
      .select(col("query_id"), col("cell"), col("id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").asc, col("id").asc)
    packedOf(codes).join(maybeBroadcast(cand, broadcastBytes), Seq("id"))
      .join(maybeBroadcast(lut, broadcastBytes), Seq("query_id", "cell"))
      .withColumn("adc", VectorFunctions.pqAdc(col("codes"), col("lut")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("id"), col("rn"))
  }

  /** Inner-product residual IVF-PQ shortlist — IP ADC + stored-norm
    * correction (Jégou et al. §III.D asymmetric IP variant):
    * ⟨q, x⟩ ≈ ⟨q, c_cell⟩ + Σ_sub ⟨q_sub, codeword_sub⟩, ranked over
    * the STORED ‖x‖ (cos(q,x) · ‖q‖ — ‖q‖ constant per query, so the
    * estimate targets cosine's ranking). Cheaper than the euclidean
    * residual path per query batch: the lookup table is per QUERY (the
    * raw-query-slice × residual-codeword dot does not depend on the
    * cell), Q × m·ksub instead of Q × nProbe × m·ksub — only the scalar
    * ⟨q, c_cell⟩ stays per (query, probed cell).
    *
    * MEASURED, AND NOT THE SERVING DEFAULT: despite targeting the
    * ground-truth metric directly, the estimate trails the euclidean
    * residual ADC on BOTH 1 M×64 fixtures at equal budgets (iid-noise:
    * recall@10 0.555 vs 0.700; low-effective-dim: 0.94 vs 0.945 — the
    * r14 `PqIpProbe` A/B, SCALING.md). Under real quantization error
    * the euclidean distance's implicit −‖r̂‖²/2 magnitude term corrects
    * for codeword error where the IP estimate divides by the
    * UNQUANTIZED norm and keeps it. The operator stays available (and
    * a36 hash-checks it end-to-end) for workloads whose geometry
    * favors MIP-style ranking; [[graft.VectorStore.searchPq]] and the
    * [[AdaptiveSearch]] UsePq arm serve the euclidean shortlist.
    *
    * `codes` must carry the packed serving shape WITH norms
    * ((id, codes, nrm) — [[packCodesWithNorms]]); pass `nodes` to
    * derive it in-line at fixture scale. Output (query_id, id, rn) by
    * estimated cosine DESC, ties id asc — every value 8-dp-quantized
    * doubles through one add + one divide, re-derivable by an external
    * engine (the a36 oracle re-derives every rank). */
  def searchIvfPqResidualIp(codes: DataFrame, assignments: DataFrame,
      centroids: DataFrame, codebooks: DataFrame, queries: DataFrame,
      k: Int, nProbe: Int, m: Int, subLen: Int,
      broadcastBytes: Long = 64L << 20,
      idFilter: Option[DataFrame] = None,
      nodes: Option[DataFrame] = None): DataFrame = {
    val packed =
      if (codes.columns.contains("nrm")) codes
      else packCodesWithNorms(codes, nodes.getOrElse(
        throw new IllegalArgumentException(
          "searchIvfPqResidualIp needs (id, codes, nrm) serving codes " +
            "(packCodesWithNorms) or the node table to derive norms")))
    val fasg = KnnSearch.restrictIds(
      assignments.select(col("cell"), col("id")), idFilter)
    val probed = IvfIndex.probeCells(queries, centroids, nProbe,
        idFilter.map(_ => fasg))
      .select(col("query_id"), col("cell"))
    // the per-(query, probed cell) scalar ⟨q, c_cell⟩ — Q × nProbe rows
    val qc = probed
      .join(broadcast(centroids), Seq("cell"))
      .join(maybeBroadcast(queries, broadcastBytes), Seq("query_id"))
      .select(col("query_id"), col("cell"),
        q8(VectorFunctions.dotProduct(col("query_vec"), col("centroid")))
          .as("qc"))
    // the per-QUERY inner-product LUT: raw query slices × residual
    // codewords — cell-independent, so Q × m·ksub total
    val lut = lutTable(queries, Seq("query_id"), col("query_vec"),
      codebooks, m, subLen, "dot")
    val cand = fasg
      .join(maybeBroadcast(probed, broadcastBytes), Seq("cell"))
      .select(col("query_id"), col("cell"), col("id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("est").desc, col("id").asc)
    packed.join(maybeBroadcast(cand, broadcastBytes), Seq("id"))
      .join(maybeBroadcast(lut, broadcastBytes), Seq("query_id"))
      .join(maybeBroadcast(qc, broadcastBytes), Seq("query_id", "cell"))
      // a zero-norm vector has no cosine — rank it last (the exact
      // re-rank's NaN guard drops it anyway)
      .withColumn("est",
        when(col("nrm") > 0,
          (col("qc") + VectorFunctions.pqAdc(col("codes"), col("lut")))
            / col("nrm"))
          .otherwise(lit(-1.0e18)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("id"), col("rn"))
  }

  /** [[searchIvfPqResidualIp]] shortlist + exact cosine re-rank with the
    * [[KnnSearch.knnExact]] result contract — the cosine store's
    * production serving composition (the euclidean-store analog is
    * [[searchIvfPqResidualScored]]). */
  def searchIvfPqResidualIpScored(nodes: DataFrame, codes: DataFrame,
      assignments: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      queries: DataFrame, k: Int, shortlist: Int, nProbe: Int,
      m: Int, subLen: Int, minSim: Double,
      broadcastBytes: Long = 64L << 20,
      idFilter: Option[DataFrame] = None): DataFrame = {
    val cand = searchIvfPqResidualIp(codes, assignments, centroids,
        codebooks, queries, shortlist, nProbe, m, subLen, broadcastBytes,
        idFilter, nodes = Some(nodes))
      .select(col("query_id"), col("id"))
    rerankScored(nodes, cand, queries, k, minSim, "cosine", broadcastBytes)
  }

  /** Default ADC shortlist scaled to candidate volume — THE recall lever
    * at large n: candidates/query = n·nProbe/cells grows with the corpus
    * while a constant shortlist keeps a shrinking fraction (measured
    * recall@10 0.42 at 10 M under the old constant default vs 0.765 at
    * ~1/64 of candidates — SCALING.md UsePq table). The floor keeps
    * every fixture-scale row where shortlist ≥ candidates (hash-pinned
    * results unchanged); the cap bounds the exact-re-rank tail
    * (Q × shortlist full-vector reads). */
  def adaptiveShortlist(k: Int, n: Long, nProbe: Int, cells: Long): Int = {
    val floor = math.max(100, 50 * k)
    if (cells <= 0 || n <= 0) floor
    else {
      val candidates = n.toDouble * nProbe / cells.toDouble
      math.max(floor,
        math.min(100000, math.ceil(candidates / 64.0).toInt))
    }
  }

  /** Default coarse-probe budget scaled to the cell count: probe ≥ 1/32
    * of cells (capped — re-rank volume grows with nProbe too), so the
    * probed FRACTION doesn't collapse as builds grow cells with √n.
    * Fixture/default builds (≤ 256 cells) keep the base — hash-pinned
    * rows unchanged; the 10 M flagship's 1024 cells get the measured
    * knee of 32 ([[graft.VectorStore.searchPq]] recall table). */
  def adaptiveNProbe(base: Int, cells: Long): Int =
    math.max(base, math.min(64, math.ceil(cells / 32.0).toInt))

  /** ADC shortlist + exact re-rank — the standard PQ quality tail: the
    * compressed scan keeps only `shortlist` candidates per query cheap,
    * then the TRUE euclidean distance re-ranks just those (Q × shortlist
    * full-vector reads instead of Q × n). The shortlist stays narrow
    * (query_id, id) and broadcasts back onto the vector table, so the
    * full corpus is touched once, map-side, and only for scoring the
    * survivors. Output (query_id, id, rn) by true distance. The shortlist
    * (Q × `shortlist` rows) and query-vector tables pass the
    * `broadcastBytes` gate — large query batches shuffle instead. */
  def searchAdcRerank(nodes: DataFrame, codes: DataFrame,
      codebooks: DataFrame, queries: DataFrame, k: Int, shortlist: Int,
      m: Int, subLen: Int, broadcastBytes: Long = 64L << 20,
      idFilter: Option[DataFrame] = None): DataFrame = {
    val cand = searchAdc(codes, codebooks, queries, shortlist, m, subLen,
        broadcastBytes, idFilter)
      .select(col("query_id"), col("id"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dist").asc, col("id").asc)
    live(nodes).select(col("id"), col("vector"))
      .join(maybeBroadcast(cand, broadcastBytes), Seq("id"))
      .join(maybeBroadcast(queries, broadcastBytes), Seq("query_id"))
      .withColumn("dist",
        VectorFunctions.euclideanDist(col("query_vec"), col("vector")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("id"), col("rn"))
  }

  /** [[searchAdcRerank]] with the [[KnnSearch.knnExact]] result contract:
    * the re-rank scores the shortlist with the TRUE metric similarity
    * (cosine, or euclidean via 1/(1+d)), applies the `minSim` floor and
    * NaN guard, and emits (query_id, id, score, rn) — so a dispatcher
    * ([[AdaptiveSearch]]) can swap this in for the exact/LSH/IVF arms
    * without changing downstream consumers. The ADC shortlist itself
    * stays euclidean over the codes (the PQ codebooks quantize L2 space);
    * for cosine workloads the shortlist is the usual PQ approximation and
    * the metric only governs the final scoring/floor. */
  def searchAdcRerankScored(nodes: DataFrame, codes: DataFrame,
      codebooks: DataFrame, queries: DataFrame, k: Int, shortlist: Int,
      m: Int, subLen: Int, minSim: Double, metric: String = "cosine",
      broadcastBytes: Long = 64L << 20,
      idFilter: Option[DataFrame] = None): DataFrame = {
    val cand = searchAdc(codes, codebooks, queries, shortlist, m, subLen,
        broadcastBytes, idFilter)
      .select(col("query_id"), col("id"))
    rerankScored(nodes, cand, queries, k, minSim, metric, broadcastBytes)
  }

  /** Residual IVF-PQ shortlist + exact re-rank with the
    * [[KnnSearch.knnExact]] result contract — the production serving
    * composition past the memory cutoff: coarse cells cut the scanned
    * fraction to nProbe/cells, residual codes track within-cell geometry
    * (measurably higher shortlist recall than raw-vector codes at equal
    * probe budget — SCALING.md), and the exact tail scores only
    * Q × `shortlist` full vectors with the TRUE metric similarity +
    * `minSim` floor. `codes`/`codebooks` must live in residual space
    * ([[encode]] over [[residuals]]); `assignments`/`centroids` are the
    * coarse index. Output (query_id, id, score, rn). */
  def searchIvfPqResidualScored(nodes: DataFrame, codes: DataFrame,
      assignments: DataFrame, centroids: DataFrame, codebooks: DataFrame,
      queries: DataFrame, k: Int, shortlist: Int, nProbe: Int,
      m: Int, subLen: Int, minSim: Double, metric: String = "cosine",
      broadcastBytes: Long = 64L << 20,
      idFilter: Option[DataFrame] = None): DataFrame = {
    val cand = searchIvfPqResidual(codes, assignments, centroids, codebooks,
        queries, shortlist, nProbe, m, subLen, broadcastBytes, idFilter)
      .select(col("query_id"), col("id"))
    rerankScored(nodes, cand, queries, k, minSim, metric, broadcastBytes)
  }

  /** Shared exact-rerank tail: TRUE-metric scoring of a narrow
    * (query_id, id) shortlist against the full vectors, `minSim` floor,
    * NaN guard, (query_id, id, score, rn) output. The corpus is touched
    * once, map-side; both side tables pass the broadcast gate. */
  private[operators] def rerankScored(nodes: DataFrame, cand: DataFrame,
      queries: DataFrame, k: Int, minSim: Double, metric: String,
      broadcastBytes: Long): DataFrame = {
    val scoreFn = metric match {
      case "cosine" => VectorFunctions.cosineSim _
      case "euclidean" => VectorFunctions.euclideanSim _
      case other => throw new IllegalArgumentException(
        s"unknown metric $other") // hnsw.ts:39-49 throws likewise
    }
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("id").asc)
    live(nodes).select(col("id"), col("vector"))
      .join(maybeBroadcast(cand, broadcastBytes), Seq("id"))
      .join(maybeBroadcast(queries, broadcastBytes), Seq("query_id"))
      .withColumn("score", scoreFn(col("query_vec"), col("vector")))
      .filter(col("score") > lit(minSim) && !isnan(col("score")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("id"), col("score"), col("rn"))
  }
}
