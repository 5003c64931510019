package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{AnnSearch, GraphSnapshot, IndexBuild, IndexParams,
  IvfIndex, KnnSearch}

/** Manual scale probe for LARGE QUERY BATCHES: the serving arms were
  * measured at harness-sized query sets (~100 rows) where a forced
  * query-side broadcast is KB-scale and free; the library's own pitch
  * (SURVEY §1.4) is many-queries-at-once batch search, and at 100 k–1 M
  * queries an ungated broadcast of a Q-scaled relation (the IVF probed
  * table — a query vector per (query, probe) row — or the graph walk's
  * query set) pins Q-proportional state in every executor and trips the
  * driver's broadcast ceiling. This probe drives the exact, IVF and
  * IVF-seeded-graph arms at growing Q with the DEFAULT 64 MB gates —
  * past the gate the joins shuffle — and reports wall + result volume;
  * the evidence for SCALING.md's query-batch-scaling row.
  *
  * Usage: `sbt "runMain graft.QueryBatchProbe 200000 64 1000,10000,100000"`.
  * The exact arm runs only while Q × n ≤ 2e9 kernel evaluations (beyond
  * that the O(Q × n) scan is the honest cost the index arms exist to
  * avoid — the probe prints the skip).
  */
object QueryBatchProbe {

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 200000L
    val dim = if (args.length > 1) args(1).toInt else 64
    val qs = (if (args.length > 2) args(2) else "1000,10000,100000")
      .split(",").map(_.toLong).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // candidate volume scales with Q × nProbe × members/cell — partitions
    // must track it or the scoring stage spills (measured: the 100 k rung
    // at 16 partitions runs 3× past linear). Overridable for sweeps.
    val partitions = sys.env.get("SPARK_GRAFT_PARTITIONS").map(_.toInt)
      .getOrElse(math.max(cpus.toInt,
        math.max((n / 20000L).toInt, (qs.max / 500L).toInt)))
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
    // an arm that exhausts memory/disk at a rung RECORDS the failure and
    // the probe moves on — the failure is the measurement (the honest
    // wall), and one dying arm must not cost the rest of the matrix
    // sweep subsetting: SPARK_GRAFT_ARMS=pq,pq_chunked reruns just those
    // arms (a chunked-arm rung must not re-pay the 10-minute exact scan)
    val armFilter = sys.env.get("SPARK_GRAFT_ARMS")
      .map(_.split(",").map(_.trim).toSet)
    def armEnabled(name: String): Boolean = armFilter.forall(_.contains(name))
    def arm(name: String)(f: => Long): Option[String] =
      if (!armEnabled(name)) None
      else Some(scala.util.Try(timed(f)) match {
        case scala.util.Success((c, t)) =>
          s"""{"arm":"$name","sec":$t,"rows":$c}"""
        case scala.util.Failure(e) =>
          val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
            .replaceAll("[\"\\\\\n\r\t]", " ").take(160)
          s"""{"arm":"$name","error":"$msg"}"""
      })

    val nodes = ScaleProbe.syntheticVectors(spark, n, dim).localCheckpoint()
    // serving artifacts built once (their cost is not what this probe
    // measures): a coarse quantizer + assignments for the IVF/seeded
    // arms, an anchored graph for the seeded walk. The GRAPH build is
    // minutes-scale at 200 k×384 — skip it when an SPARK_GRAFT_ARMS
    // subset doesn't run the seeded arm (a pq_chunked-only matrix rerun
    // must not pay it)
    val cells = math.max(16, math.sqrt(n.toDouble).toInt)
    val centroids = IvfIndex.train(nodes, cells, iters = 3).localCheckpoint()
    val assignments = IvfIndex.assign(nodes, centroids)
      .select(col("cell"), col("id"), col("vector")).localCheckpoint()
    val p = IndexParams(dim = dim)
    lazy val graphArt = {
      val (gn, ge) = IndexBuild.build(nodes, p)
      val (gnC, geC) = (gn.localCheckpoint(), ge.localCheckpoint())
      (gnC, geC, GraphSnapshot.Held(GraphSnapshot.fitting(gnC, geC, dim,
        AnnSearch.DefaultBroadcastBytes)))
    }
    def gnC = graphArt._1
    def geC = graphArt._2
    def snapC = graphArt._3
    // residual IVF-PQ serving artifacts (the compressed arm): sample
    // codebooks — quality is not what this probe measures, the
    // query-proportional LUT table is (m·ksub doubles per query:
    // 98 KB at 384 — past the 64 MB gate the LUT join must shuffle)
    val mSub = graft.operators.PqIndex.subspaces(dim)
    val subLen = dim / mSub
    val asgN = assignments.select(col("id"), col("cell")).localCheckpoint()
    val res = graft.operators.PqIndex.residuals(nodes, asgN, centroids)
      .select(col("id"), col("vector")).localCheckpoint()
    val rcb = graft.operators.PqIndex
      .sampleCodebooks(res, mSub, subLen, ksub = 256).localCheckpoint()
    val pqCodes = graft.operators.PqIndex.packCodesWithNorms(
        graft.operators.PqIndex.encode(res, rcb, mSub, subLen), nodes)
      .localCheckpoint()
    val np = graft.operators.PqIndex.adaptiveNProbe(8, cells.toLong)
    val pqShort = graft.operators.PqIndex
      .adaptiveShortlist(10, n, np, cells.toLong)

    val rows = for (q <- qs) yield {
      // queries = perturbed corpus rows (every query has true neighbors);
      // one id range sliced, never re-generated (the fixture-aliasing rule)
      val queries = ScaleProbe.syntheticVectors(spark, q, dim)
        .select(col("id").as("query_id"),
          transform(col("vector"), x => (x * lit(1.001f)).cast("float"))
            .as("query_vec"))
        .localCheckpoint()
      val arms = scala.collection.mutable.ListBuffer.empty[String]
      if (q * n <= 2000000000L) {
        arms ++= arm("exact")(KnnSearch.knnExact(nodes, queries, 10,
          minSim = -2.0).select("query_id", "id").count())
      } else if (armEnabled("exact"))
        arms += s"""{"arm":"exact","skipped":"Q*n>2e9"}"""
      arms ++= arm("ivf")(IvfIndex.search(nodes, centroids, queries, 10,
        minSim = -2.0, nProbe = 8, assignments = Some(assignments))
        .select("query_id", "id").count())
      arms ++= arm("seeded")(AnnSearch.searchGraphSeededIvf(gnC, geC,
        queries, 10, minSim = -2.0, p, centroids, ef = 64,
        nProbe = 8, assignments = Some(assignments), snapshot = snapC)
        .select("query_id", "id").count())
      // the SHIPPED PQ serving arm (euclidean residual ADC): its LUT is
      // per (query, probed cell) — Q × nProbe × m·ksub doubles, the
      // Q-scaled structure that forces the shuffled-join fallback past
      // the 64 MB gate (98 KB per (query, cell) at dim 384). MEASURED
      // WALL: at Q = 100 k × 384 that table is ~137 GB and the arm dies
      // in spill-OOM on a 48 g single node; at Q = 10 k (~14 GB LUT) it
      // exhausts a 56 GB disk through ~4-5× spill amplification in the
      // sort/shuffle stages. The gate below skips past ~4 GiB of LUT
      // with the arithmetic instead of dying 20 minutes in (no silent
      // caps: the skip IS the finding; chunk the batch to ~2 k queries
      // per chunk at 384, or use the per-query-LUT IP arm)
      val lutBytes = q * np.toLong * mSub * 256L * 8L
      if (lutBytes <= (4L << 30)) {
        arms ++= arm("pq")(graft.operators.PqIndex
          .searchIvfPqResidualScored(nodes, pqCodes, asgN, centroids,
            rcb, queries, 10, shortlist = pqShort, np, mSub, subLen,
            minSim = -2.0)
          .select("query_id", "id").count())
      } else if (armEnabled("pq"))
        arms += s"""{"arm":"pq","skipped":"LUT ~${
        lutBytes >> 30} GiB (Q x nProbe x m x ksub x 8B) - disk/memory """ +
        s"""exhaustion measured at this rung; chunk to ~2k queries """ +
        s"""or use pq_ip"}"""
      // the SAME euclid arm through [[ChunkedServe]] DEFAULT budgets —
      // the operator that exists because the unchunked arm dies at these
      // rungs; its wall here is the deployment number for large batches
      arms ++= arm("pq_chunked") {
        val rowsPerChunk = graft.operators.ChunkedServe.pqChunkRows(
          np, mSub, 256, pqShort, dim)
        val perQ = math.max(np.toLong * mSub * 256L * 8L,
          pqShort.toLong * dim * 4L)
        val parts = graft.operators.ChunkedServe.volumePartitions(
          rowsPerChunk * perQ, cpus.toInt)
        val out = graft.operators.ChunkedServe.serveChunked(
          queries, "query_id", rowsPerChunk, q, Some(parts)) { chunk =>
          graft.operators.PqIndex.searchIvfPqResidualScored(nodes,
            pqCodes, asgN, centroids, rcb, chunk, 10,
            shortlist = pqShort, np, mSub, subLen, minSim = -2.0)
        }
        val c = out.select("query_id", "id").count()
        out.unpersist(); c
      }
      // the IP alternative's LUT is per QUERY only (nProbe× smaller) —
      // the batch-scaling trade a36 exists for
      arms ++= arm("pq_ip")(graft.operators.PqIndex
        .searchIvfPqResidualIpScored(nodes, pqCodes, asgN, centroids,
          rcb, queries, 10, shortlist = pqShort, np, mSub, subLen,
          minSim = -2.0)
        .select("query_id", "id").count())
      s"""{"q":$q,"arms":[${arms.mkString(",")}]}"""
    }
    println(s"""{"n":$n,"dim":$dim,"cells":$cells,""" +
      s""""query_batches":[${rows.mkString(",")}]}""")
    spark.stop()
  }
}
