package graft

import graft.queries.{RelationalQueries, VectorQueries}

/** Physical-plan assertions — the properties that make these operators
  * viable at 100 TB: filters and column pruning reach the parquet scan,
  * small sides broadcast, top-k windows use the group-limit pushdown
  * (running heap below the exchange) instead of full partition sorts, and
  * the scalar kernels stay inside whole-stage codegen.
  */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String = {
    val fn = SparkEntry.queries(name)
    val df = fn(spark, sf001)
    df.collect() // action on THIS plan finalizes AQE → codegen annotated
    df.queryExecution.executedPlan.toString
  }

  test("q02: predicate + projection pushed to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters:") &&
      p.contains("GreaterThan(l_quantity,45"), p)
    // pruned read schema: only the needed columns reach the scan
    assert(p.contains("ReadSchema") && !p.contains("l_extendedprice"), p)
  }

  test("q04: dimension joins are broadcast, not shuffled") {
    val p = plan("q04_customers_per_region")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q05: window top-k runs as WindowGroupLimit (no full sort per group)") {
    val p = plan("q05_top_orders_per_customer")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("t12: per-source cap runs as partial WindowGroupLimit (hot domains prune map-side)") {
    val p = plan("t12_source_caps")
    // Partial mode is the scale property: each task keeps ≤ cap rows per
    // source BEFORE the rank shuffle, so a billion-doc domain moves cap
    // rows per task, not its full membership
    assert(p.contains("WindowGroupLimit"), p)
    assert(p.contains("Partial"), p)
  }

  test("q09: global sort+limit is TakeOrderedAndProject, not a total sort") {
    val p = plan("q09_top20_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q28: KMV bottom-k bounds the window map-side (WindowGroupLimit)") {
    val p = plan("q28_distinct_sketch")
    assert(p.contains("WindowGroupLimit"), p)
  }

  test("v17: BOTH grouped-serving limits run as WindowGroupLimit " +
      "(group quota and final rank prune map-side)") {
    val p = plan("v17_grouped_knn")
    // two row_number windows → two WindowGroupLimit operators; without
    // them the per-(query, group) rank would sort the full scored
    // candidate volume through the exchange
    assert("WindowGroupLimit".r.findAllIn(p).size >= 2, p)
  }

  test("v11: candidate generation is bucketed equi-joins, never all-pairs") {
    val p = plan("v11_knn_graph")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("d06: near-dup blocking is bucketed equi-joins, never all-pairs") {
    val p = plan("d06_embedding_neardup")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("a10: PQ LUT broadcasts onto packed codes; ADC kernel stays in codegen") {
    val p = plan("a10_pq_adc_search")
    // the scan side meets the per-query LUTs through a broadcast, and the
    // lookup-sum runs inside a whole-stage-codegen project
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.exists(l =>
      l.contains("pq_adc") && l.contains("*(")), p)
    // the per-query LUT is a pq_lut projection inside codegen as well
    assert(p.linesIterator.exists(l =>
      l.contains("pq_lut") && l.contains("*(")), p)
  }

  test("t09: BM25 candidates come from the term equi-join, never corpus x queries") {
    // build the operator directly: the registry entry memoizes its
    // result per (dir, config) behind a checkpoint (the audit-tower
    // memo), so its plan is a block scan — the OPERATOR plan is what
    // this test pins
    val df = graft.operators.Retrieval.bm25TopK(
      Tables.documents(spark, sf001),
      Tables.documents(spark, sf001).filter(
          org.apache.spark.sql.functions.col("doc_id") % 100 === 0)
        .select(
          org.apache.spark.sql.functions.col("doc_id").as("query_id"),
          org.apache.spark.sql.functions.col("text")),
      topK = 10)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the only nested-loop inputs are the single-row stats broadcasts;
    // a corpus-sized cartesian would also surface as CartesianProduct
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("term"), p)
  }

  test("a20: frozen artifacts broadcast; the append encode never " +
      "shuffles the corpus into a cartesian") {
    val p = plan("a20_pq_append_encode")
    // centroids + codebooks are broadcast side tables on both the base
    // and the delta encode paths; no all-pairs join anywhere
    assert(p.contains("BroadcastHashJoin") ||
      p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("v01: query side broadcasts; kernel stays in whole-stage codegen") {
    val p = plan("v01_knn_exact")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    // "*(n)" prefixes mark whole-stage-codegen stages in the plan string;
    // the scoring Project must carry one
    assert(p.linesIterator.exists(l =>
      l.contains("cosine_sim") && l.contains("*(")), p)
  }

  test("a29: multi-probe bucket ranking broadcasts the tiny occupancy " +
      "table; candidates stay bucketed equi-joins, never all-pairs") {
    val p = plan("a29_lsh_multiprobe")
    // probes (Q x nBands x probeBuckets) and occ (<= bands x 2^bits)
    // both sit under the broadcast gate; the node-side candidate join
    // keys on the bucket string exactly like the single-probe arm
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("v01 executes with zero codegen compile failures") {
    // CodegenFallback-style silent degradation would still pass result
    // checks — catch it by scanning for the kernel inside a codegen stage.
    val df = SparkEntry.queries("v01_knn_exact")(spark, sf001)
    val codegen = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(codegen.contains("Found"), codegen.take(200))
    assert(!codegen.contains("Redefinition"), "codegen local name collision")
  }

  test("residual IVF-PQ: the LUT is one map-side pq_lut projection — no " +
      "Generate or aggregate builds it, and the ADC rank's exchange is " +
      "the only shuffle") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.functions.col
    import graft.operators.{IvfIndex, PqIndex}
    // every input as a local relation, so the plan holds only the
    // search's own operators (packed codes: no per-call pack aggregate)
    def local(df: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*),
        df.schema)
    val emb = Tables.embeddings(spark, sf001)
    val nodes = VectorQueries.asVectorTable(emb)
    val coarse = local(IvfIndex.sampleCodebook(nodes, k = 10))
    val asg = local(IvfIndex.assign(nodes, coarse)
      .select(col("id"), col("cell")))
    val res = PqIndex.residuals(nodes, asg, coarse)
      .select(col("id"), col("vector"))
    val rcb = local(PqIndex.sampleCodebooks(res, 8, 8, 16))
    val packed = local(PqIndex.packCodes(PqIndex.encode(res, rcb, 8, 8)))
    val out = PqIndex.searchIvfPqResidual(packed, asg, coarse, rcb,
      local(VectorQueries.querySet(emb)), k = 10, nProbe = 3, m = 8,
      subLen = 8)
    val opt = out.queryExecution.optimizedPlan
    // the only generator left is the probe list's explode of top_cells
    val gens = opt.collect { case g: Generate => g.generator.toString }
    assert(gens.nonEmpty && gens.forall(_.contains("top_cells")), opt)
    assert(opt.collect { case a: Aggregate => a }.isEmpty, opt)
    out.collect()
    val shuffles = new AdaptiveSparkPlanHelper {}
      .collect(out.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e
      }
    assert(shuffles.size === 1, out.queryExecution.executedPlan)
  }
}
