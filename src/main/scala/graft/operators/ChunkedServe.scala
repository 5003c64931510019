package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Chunked batch serving — the SCALING.md query-batch walls as an
  * operator instead of a deployment footnote.
  *
  * The r13/r14 QueryBatchProbe matrix measured two Q-proportional
  * structures that kill large query batches on the compressed serving
  * arms long before the corpus side is the problem:
  *
  *  1. the euclidean residual-ADC arm's per-(query, probed-cell) LUT —
  *     `Q × nProbe × m × ksub × 8 B` (98 KB per (query, cell) at
  *     dim 384): Q = 10 k at 384 built ~14 GiB of LUT and exhausted a
  *     56 GB disk through 4–5× sort/shuffle spill amplification;
  *     Q = 100 k (~128 GiB) spill-OOM'd outright. Those walls were
  *     measured with the exploded long-form LUT (m × ksub rows
  *     per LUT, regrouped through a shuffle and a sort). The LUT is now
  *     one map-side `pq_lut` expression per (query, cell) row
  *     ([[graft.functions.PqLutExpr]]), so that amplification is gone,
  *     but the flat LUT arrays themselves still ride the
  *     (query, cell) join into the ADC scan — broadcast, or shuffled
  *     past the gate — so their bytes still bound a chunk;
  *  2. the exact-rerank re-attach tail every compressed arm shares —
  *     `Q × shortlist × dim × 4 B` of raw vectors through one shuffle
  *     (77 GB at Q = 100 k × shortlist 500 × dim 384): the wall the
  *     IP arm hit after its per-query LUT dodged wall 1.
  *
  * Neither structure grows with corpus size — both are pure functions
  * of the query batch and the serving knobs — so the fix is not a
  * bigger cluster, it is bounding the batch: split Q into chunks whose
  * dominant structure fits a budget, serve chunks SEQUENTIALLY (each
  * chunk's k-rows-per-query result is materialized before the next
  * chunk launches, so peak pressure is ONE chunk's intermediate volume,
  * never the batch's), and return the union of the materialized chunk
  * results. Per-query independence of every serving arm (ranking
  * windows partition by query_id; knobs derive from the corpus, not
  * from Q) makes chunked ≡ unchunked EXACTLY — pinned by the a37
  * oracle row and ChunkedServeSpec.
  *
  * Reference anchor: batch search over the query set is the driver's
  * own serving loop (driver/driver.ts:296-312); the reference never
  * meets these walls because its batches are process-local arrays.
  */
object ChunkedServe {

  /** Per-chunk byte budget for the euclidean arm's per-(query, cell)
    * residual LUT — the flat `pq_lut` arrays the ADC join carries.
    * 2 GiB keeps the dominant chunk structure around the measured-safe
    * regime (~2 k queries at dim 384 with the flagship knobs — the
    * SCALING.md guidance this operator encodes). */
  val DefaultLutBudgetBytes: Long = 2L << 30

  /** Per-chunk byte budget for the exact-rerank re-attach shuffle
    * (`chunkQ × shortlist × dim × 4 B` of raw vectors). */
  val DefaultRerankBudgetBytes: Long = 2L << 30

  /** Shuffle-partition sizing target for a chunk's candidate volume —
    * the QueryBatchProbe "partitions must track volume" rule (the
    * 100 k IVF rung ran 3× past linear at default partitions). */
  val DefaultPartitionBytes: Long = 64L << 20

  /** Queries per chunk so BOTH measured Q-scaled structures of the
    * euclidean residual-PQ arm stay inside their budgets. */
  def pqChunkRows(nProbe: Int, m: Int, ksub: Int, shortlist: Int, dim: Int,
      lutBudgetBytes: Long = DefaultLutBudgetBytes,
      rerankBudgetBytes: Long = DefaultRerankBudgetBytes): Long = {
    val lutPerQuery = nProbe.toLong * m.toLong * ksub.toLong * 8L
    math.max(1L, math.min(
      lutBudgetBytes / math.max(1L, lutPerQuery),
      rerankChunkRows(shortlist, dim, rerankBudgetBytes)))
  }

  /** Queries per chunk so the EXACT arm's query side stays inside the
    * broadcast gate ([[KnnSearch.maybeBroadcast]]'s ceiling). The exact
    * tower's Q-scaled structure is different from the compressed arms':
    * while the query relation broadcasts, the score pass is one
    * map-side sweep of the node table (no corpus shuffle, candidates
    * collapse through WindowGroupLimit before the one O(Q×k) rank
    * exchange); past the gate it falls back to the shuffle-replicated
    * nested loop, which re-shuffles the CORPUS once per query-side
    * partition — the volume chunking exists to avoid. Chunked at this
    * budget every chunk keeps the broadcast plan, so a Q of any size
    * costs `chunks` sequential map-side corpus sweeps and never ships
    * corpus bytes through a shuffle. Per-query bytes mirror the plan
    * estimate the gate reads: vector floats + per-row overhead. */
  def exactChunkRows(dim: Int, broadcastBytes: Long = 64L << 20): Long = {
    val perQuery = dim.toLong * 4L + 64L
    math.max(1L, broadcastBytes / perQuery)
  }

  /** Queries per chunk so the exact-rerank re-attach tail stays inside
    * budget — the binding wall for the per-query-LUT IP arm and the
    * uncompressed shortlist+rerank arms (JL/MRL/OPQ). */
  def rerankChunkRows(shortlist: Int, dim: Int,
      rerankBudgetBytes: Long = DefaultRerankBudgetBytes): Long = {
    val perQuery = shortlist.toLong * dim.toLong * 4L
    math.max(1L, rerankBudgetBytes / math.max(1L, perQuery))
  }

  /** Shuffle partitions for a chunk moving `chunkBytes` through its
    * widest shuffle, clamped to [parallelism, 4096]. */
  def volumePartitions(chunkBytes: Long, parallelism: Int,
      targetPartitionBytes: Long = DefaultPartitionBytes): Int = {
    val byVolume = math.ceil(
      chunkBytes.toDouble / math.max(1L, targetPartitionBytes)).toLong
    math.min(4096L, math.max(parallelism.toLong, byVolume)).toInt
  }

  /** Number of chunks for `queryCount` rows at `rowsPerChunk`. */
  def chunkCount(queryCount: Long, rowsPerChunk: Long): Int =
    math.max(1L, math.ceil(
      queryCount.toDouble / math.max(1L, rowsPerChunk)).toLong).toInt

  /** Serve `queries` through `serve` in `rowsPerChunk`-sized chunks.
    *
    * Chunk membership is `xxhash64(idCol) mod chunks` — deterministic,
    * uniform, and independent of row order, so a chunk is a plain
    * pushed-down filter over the query relation (each chunk job re-scans
    * the query source; queries are the SMALL side by construction —
    * materialize upstream if the scan itself is expensive). Chunks run
    * sequentially; each chunk's result (k rows per query) is
    * materialized with LINEAGE SEVERED (`localCheckpoint`) before the
    * next chunk starts. Severing is load-bearing, not a nicety: a
    * lineage-kept chunk cache pins the chunk's SHUFFLE FILES on disk
    * (the union references every chunk's dependencies until the caller
    * unpersists), so a long chunk sequence accumulates the very volume
    * chunking exists to bound — the r15 QueryBatchProbe measured the
    * 100 k × 384 rung filling a 77 GB disk at ~15 of 64 chunks; with
    * per-chunk severing + the GC hint below, retired chunks' shuffle
    * files delete between chunks and peak disk stays ~one chunk. The
    * trade (same as every delta-chain overlay's `localCheckpoint`): a
    * severed chunk result is not recomputable on storage loss — its
    * blocks are k-rows-per-query narrow and MEMORY_AND_DISK, so the
    * exposure is executor death, where the caller re-runs the serve.
    * The returned relation is the persisted UNION of the chunk
    * results — O(Q × k) narrow rows total — re-materialized once from
    * the chunk checkpoints, which are then released, so ONE
    * `.unpersist()` on the returned DataFrame frees everything this
    * call cached.
    *
    * `shufflePartitions`, when set, is applied to the session for the
    * duration of EACH chunk's materialization and restored after —
    * sound because chunks are sequential — so a chunk's shuffles track
    * its candidate volume ([[volumePartitions]]) instead of whatever
    * the session default was sized for.
    *
    * `queryCount` < 0 means count `queries` here (one narrow job).
    */
  /** Drive an explicit driver GC after every `GcEveryChunks` completed
    * chunks (r15 measurement: a full `System.gc()` costs 100–400 ms of
    * pure driver wall — at the 64-chunk 100 k × 384 wall that is noise
    * next to ~33 s chunks, but a 4-chunk fixture-scale serve spent more
    * wall in its four GCs than in its chunk jobs). Retired chunks'
    * shuffle files now accumulate for at most `GcEveryChunks` chunks
    * before ContextCleaner's weak refs are forced, so peak disk is
    * bounded at ~`GcEveryChunks` chunk volumes instead of one — still a
    * constant, and the 77 GB lineage-pinned accumulation the per-chunk
    * GC was introduced against (EVERY chunk pinned until the union
    * materialized) cannot recur. */
  val GcEveryChunks: Int = 4

  /** `reliableDir`, when set, materializes each chunk as parquet under
    * `$reliableDir/chunk_<i>` instead of `localCheckpoint` — the
    * CLUSTER-MODE durability knob (r15 verdict item 8): a severed
    * localCheckpoint lives in executor storage and is NOT recomputable,
    * so in cluster mode an executor death mid-sequence fails the serve
    * and the CALLER re-runs it (the documented local-mode trade, shared
    * with the pagination cache and the graph-fold overlays). Pointing
    * `reliableDir` at reliable storage (HDFS/object store) makes every
    * materialized chunk re-readable across executor loss at the cost of
    * one parquet round-trip per chunk. Default None keeps the
    * local-mode behavior byte-identical. */
  def serveChunked(queries: DataFrame, idCol: String, rowsPerChunk: Long,
      queryCount: Long = -1L, shufflePartitions: Option[Int] = None,
      reliableDir: Option[String] = None)
      (serve: DataFrame => DataFrame): DataFrame = {
    val q = if (queryCount >= 0L) queryCount else queries.count()
    val chunks = chunkCount(q, rowsPerChunk)
    if (chunks == 1) return serve(queries)
    val spark = queries.sparkSession
    val chunkOf = pmod(xxhash64(col(idCol)), lit(chunks.toLong))
    val outs = (0 until chunks).map { i =>
      val part = queries.filter(chunkOf === i.toLong)
      withShufflePartitions(spark, shufflePartitions) {
        // localCheckpoint(eager): the materialization barrier (one
        // chunk's volume in flight at a time) AND the lineage sever
        // that lets ContextCleaner retire this chunk's shuffle files
        // once the loop iteration drops the plan reference
        val out = reliableDir match {
          case Some(dir) =>
            val p = s"$dir/chunk_$i"
            serve(part).write.mode("overwrite").parquet(p)
            spark.read.parquet(p)
          case None => serve(part).localCheckpoint(true)
        }
        // ContextCleaner is weak-reference-driven: without a driver GC
        // the retired dependencies survive until an incidental GC,
        // which on a large driver heap can be never — a periodic
        // explicit GC ([[GcEveryChunks]]) makes the shuffle-file
        // retirement deterministic while keeping the fixture-scale
        // serve (few chunks) free of per-chunk full-GC stalls
        if ((i + 1) % GcEveryChunks == 0 && i + 1 < chunks) System.gc()
        out
      }
    }
    // one persisted relation to hand back, filled from the (already
    // materialized) chunk checkpoints. The caller owns one unpersist();
    // the chunk checkpoint blocks themselves are OUTPUT-sized (k rows
    // per query, narrow), stay referenced through the union's plan as
    // its recompute path, and are garbage-collected with the returned
    // DataFrame — the volume chunking bounds (LUT/rerank shuffles) is
    // already retired per chunk above
    val union = outs.reduce(_.unionByName(_))
      .persist(StorageLevel.MEMORY_AND_DISK)
    union.count()
    union
  }

  /** Run `body` with `spark.sql.shuffle.partitions` overridden (when
    * `partitions` is set), restoring the previous session value after.
    * `body` must MATERIALIZE the work it wants sized (the conf is read
    * at execution, not plan construction). */
  private[graft] def withShufflePartitions[A](
      spark: org.apache.spark.sql.SparkSession,
      partitions: Option[Int])(body: => A): A =
    partitions match {
      case None => body
      case Some(p) =>
        val key = "spark.sql.shuffle.partitions"
        val saved = spark.conf.getOption(key)
        spark.conf.set(key, p.toString)
        try body
        finally saved match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
    }
}
