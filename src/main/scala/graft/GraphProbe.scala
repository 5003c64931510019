package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession
import graft.operators.{AnnSearch, GraphSnapshot, IndexBuild, IndexParams,
  KnnSearch}

/** Manual scale probe for the GRAPH search paths only (not part of the
  * driver harness): the routed frontier walk (a03's shape) vs the
  * LSH-seeded hybrid vs plain LSH, at N beyond the committed fixtures —
  * the full [[ScaleProbe]] measures every family and takes much longer.
  * Usage: `sbt "runMain graft.GraphProbe 200000 64"`.
  *
  * A third arg `ivf` runs the FOCUSED multi-probe sweep instead: skip
  * the expensive LSH arms and measure the IVF-seeded hybrid across
  * (nProbe, iters) settings — the serving-recall lever (seed coverage
  * grows with probed cells at O(Q × nProbe × n/cells) seeding cost,
  * while expansions recover cross-cell neighbors).
  *
  * A third arg `filtered` runs the FILTERED-recall sweep instead:
  * recall@10 of the filtered IVF-seeded hybrid vs the filtered-exact
  * ground truth at selectivities 1/10 and 1/100, at the default
  * nProbe=32 AND at the escalated nProbe that keeps the MATCHING-seed
  * candidate volume constant (nProbe × 1/selectivity, capped at
  * cells) — the evidence behind selectivity-aware probe escalation:
  * a pre-filter shrinks each probed cell's matching members by the
  * filtered fraction, so fixed probes see proportionally fewer seeds. */
object GraphProbe {

  def main(args: Array[String]): Unit = {
    val n = if (args.nonEmpty) args(0).toLong else 200000L
    val dim = if (args.length > 1) args(1).toInt else 64
    val ivfSweep = args.length > 2 && args(2) == "ivf"
    val filteredSweep = args.length > 2 && args(2) == "filtered"
    // "lowdim" swaps in the low-effective-dimension fixture (the
    // realistic high-dim recall regime — ScaleProbe.syntheticVectorsLowDim)
    val lowDim = args.length > 2 && args(2) == "lowdim"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
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

    val nodes = (if (lowDim) ScaleProbe.syntheticVectorsLowDim(spark, n, dim)
                 else ScaleProbe.syntheticVectors(spark, n, dim))
      .localCheckpoint()
    val queries = nodes.filter(col("id") % math.max(1L, n / 100) === 0)
      .select(col("id").as("query_id"), col("vector").as("query_vec"))
      .localCheckpoint()
    val params = IndexParams(m = 16, dim = dim, levelMax = 7,
      bucketBits = math.max(4, (math.log(n / 64.0) / math.log(2)).toInt),
      nBands = 4)

    val exact = KnnSearch.knnExact(nodes, queries, 10, minSim = -2.0)
      .select("query_id", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(rows: Array[org.apache.spark.sql.Row]): Double =
      rows.map(r => (r.getLong(0), r.getLong(1)))
        .count(exact.contains).toDouble / exact.size

    val ((nodesIdx, edges), tBuild) = timed {
      val r = IndexBuild.build(nodes, params)
      val ni = r._1.localCheckpoint(); val e = r._2.localCheckpoint()
      e.count(); (ni, e)
    }
    // the walk's snapshot, measured once per graph outside the timed arms
    val snap = GraphSnapshot.Held(GraphSnapshot.fitting(nodesIdx, edges,
      dim, AnnSearch.DefaultBroadcastBytes))
    snap.snapshot

    if (ivfSweep) {
      val cells = math.max(16, math.sqrt(n.toDouble).toInt)
      val (ivfPre, tIvfBuild) = timed {
        val c = graft.operators.IvfIndex.train(nodes, cells, iters = 2)
          .localCheckpoint()
        val a = graft.operators.IvfIndex.assign(nodes, c)
          .select(col("id"), col("vector"), col("cell")).localCheckpoint()
        a.count(); (c, a)
      }
      val arms = for {
        nProbe <- Seq(8, 16, 32, 48)
        iters <- Seq(2, 3)
      } yield {
        val (rows, t) = timed {
          AnnSearch.searchGraphSeededIvf(nodesIdx, edges, queries, 10,
              minSim = -2.0, params, ivfPre._1, ef = 64, iters = iters,
              nProbe = nProbe, assignments = Some(ivfPre._2), snapshot = snap)
            .select("query_id", "id").collect()
        }
        s"""{"n_probe":$nProbe,"iters":$iters,"sec":$t,""" +
          s""""recall_at_10":${recallOf(rows)}}"""
      }
      println(s"""{"n":$n,"dim":$dim,"build_sec":$tBuild,""" +
        s""""cells":$cells,"ivf_build_sec":$tIvfBuild,""" +
        s""""arms":[${arms.mkString(",")}]}""")
      spark.stop()
      return
    }

    if (filteredSweep) {
      val cells = math.max(16, math.sqrt(n.toDouble).toInt)
      val (ivfPre, tIvfBuild) = timed {
        val c = graft.operators.IvfIndex.train(nodes, cells, iters = 2)
          .localCheckpoint()
        val a = graft.operators.IvfIndex.assign(nodes, c)
          .select(col("id"), col("vector"), col("cell")).localCheckpoint()
        a.count(); (c, a)
      }
      val arms = for (m <- Seq(10L, 100L)) yield {
        val fnodes = nodes.filter(col("id") % m === 0L).localCheckpoint()
        val idF = fnodes.select("id").localCheckpoint()
        val fexact = KnnSearch.knnExact(fnodes, queries, 10, minSim = -2.0)
          .select("query_id", "id").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        val probes = Seq(32, math.min(cells.toLong, 32L * m).toInt).distinct
        val runs = for (nProbe <- probes) yield {
          val (rows, t) = timed {
            AnnSearch.searchGraphSeededIvf(nodesIdx, edges, queries, 10,
                minSim = -2.0, params, ivfPre._1, ef = 64, iters = 2,
                nProbe = nProbe, assignments = Some(ivfPre._2),
                idFilter = Some(idF), snapshot = snap)
              .select("query_id", "id").collect()
          }
          val rec = rows.map(r => (r.getLong(0), r.getLong(1)))
            .count(fexact.contains).toDouble / fexact.size
          s"""{"mod":$m,"n_probe":$nProbe,"sec":$t,"recall_at_10":$rec}"""
        }
        runs.mkString(",")
      }
      println(s"""{"n":$n,"dim":$dim,"build_sec":$tBuild,""" +
        s""""cells":$cells,"ivf_build_sec":$tIvfBuild,""" +
        s""""filtered_arms":[${arms.mkString(",")}]}""")
      spark.stop()
      return
    }

    val (lshRows, tLsh) = timed {
      AnnSearch.searchLsh(nodes, queries, 10, minSim = -2.0, params)
        .select("query_id", "id").collect()
    }
    val (graphRows, tGraph) = timed {
      AnnSearch.searchGraph(nodesIdx, edges, queries, 10, minSim = -2.0,
          params, ef = 96, itersPerLevel = 3, efUpper = 16, snapshot = snap)
        .select("query_id", "id").collect()
    }
    // the bare routed descent (routedOnly) — the r8 hop-budget wall,
    // kept measurable for the record; never a serving configuration
    val (routedRows, tRouted) = timed {
      AnnSearch.searchGraph(nodesIdx, edges, queries, 10, minSim = -2.0,
          params, ef = 96, itersPerLevel = 3, efUpper = 16,
          routedOnly = true, snapshot = snap)
        .select("query_id", "id").collect()
    }
    val (seededRows, tSeeded) = timed {
      AnnSearch.searchGraphSeeded(nodesIdx, edges, queries, 10,
          minSim = -2.0, params, ef = 64, iters = 2, snapshot = snap)
        .select("query_id", "id").collect()
    }
    // JL-projected seeding (the high-dim serve lever; facade default at
    // dim ≥ 192): seeds score in 32 projected dims, top-8·ef re-rank raw
    val (jlSeededRows, tJlSeeded) = timed {
      AnnSearch.searchGraphSeeded(nodesIdx, edges, queries, 10,
          minSim = -2.0, params, ef = 64, iters = 2, seedProjDim = 32,
          snapshot = snap)
        .select("query_id", "id").collect()
    }
    // the band-agreement shortlist bounds the seeding scan's true-score
    // pass at O(Q × shortlist) — the hot-bucket lever (clustered data
    // keeps cluster-sized buckets at any bits setting)
    val (shortRows, tShort) = timed {
      AnnSearch.searchGraphSeeded(nodesIdx, edges, queries, 10,
          minSim = -2.0, params, ef = 64, iters = 2,
          seedShortlist = 512, snapshot = snap)
        .select("query_id", "id").collect()
    }
    // IVF-seeded hybrid: coarse-quantizer seeds bound the seeding stage
    // at O(Q × nProbe × n/cells) BY CONSTRUCTION — the hot-bucket answer
    // (build-time artifacts prebuilt, the serving pattern)
    val cells = math.max(16, math.sqrt(n.toDouble).toInt)
    val (ivfPre, tIvfBuild) = timed {
      val c = graft.operators.IvfIndex.train(nodes, cells, iters = 2)
        .localCheckpoint()
      val a = graft.operators.IvfIndex.assign(nodes, c)
        .select(col("id"), col("vector"), col("cell")).localCheckpoint()
      a.count(); (c, a)
    }
    val (ivfSeededRows, tIvfSeeded) = timed {
      AnnSearch.searchGraphSeededIvf(nodesIdx, edges, queries, 10,
          minSim = -2.0, params, ivfPre._1, ef = 64, iters = 2,
          nProbe = 8, assignments = Some(ivfPre._2), snapshot = snap)
        .select("query_id", "id").collect()
    }
    println(s"""{"n":$n,"dim":$dim,"build_sec":$tBuild,""" +
      s""""lsh_sec":$tLsh,"lsh_recall_at_10":${recallOf(lshRows)},""" +
      s""""graph_sec":$tGraph,"graph_recall_at_10":${recallOf(graphRows)},""" +
      s""""routed_only_sec":$tRouted,""" +
      s""""routed_only_recall_at_10":${recallOf(routedRows)},""" +
      s""""graph_seeded_sec":$tSeeded,""" +
      s""""graph_seeded_recall_at_10":${recallOf(seededRows)},""" +
      s""""graph_seeded_jl32_sec":$tJlSeeded,""" +
      s""""graph_seeded_jl32_recall_at_10":${recallOf(jlSeededRows)},""" +
      s""""graph_seeded_short_sec":$tShort,""" +
      s""""graph_seeded_short_recall_at_10":${recallOf(shortRows)},""" +
      s""""ivf_build_sec":$tIvfBuild,""" +
      s""""graph_seeded_ivf_sec":$tIvfSeeded,""" +
      s""""graph_seeded_ivf_recall_at_10":${recallOf(ivfSeededRows)}}""")
    spark.stop()
  }
}
