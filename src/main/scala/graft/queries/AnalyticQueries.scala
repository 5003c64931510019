package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.Sketches
import graft.operators.{AsOfJoin, BloomPrune, RangeJoin}

/** Temporal-join + statistical-aggregate coverage (beyond the reference's
  * surface — SURVEY §2 Table B "joins"/"aggregations" rows at pipeline
  * scale): backward as-of join, banded interval join, exact percentiles,
  * and decimal-exact statistical moments.
  *
  * Float-determinism approach for the moments: all SUMS are decimal
  * (exact, order-independent); the closed-form variance/correlation
  * formulas then run in double with the same expression shape the oracle
  * uses — a single deterministic IEEE evaluation per group, no parallel
  * float accumulation anywhere.
  */
object AnalyticQueries {

  /** q30's bucketed fact tables, written once: repartition on the
    * bucket key first → exactly ONE file per bucket (task i holds
    * precisely bucket i's rows — HashPartitioning and the bucket spec
    * share the same murmur3 pmod), each file internally sorted for
    * min/max pruning. Table names carry a per-dir and per-session suffix
    * so sf dirs and sessions never collide in the shared catalog. */
  private def bucketedTablesFor(s: SparkSession, d: String)
      : (String, String) =
    graft.util.Artifacts(s, d, "analytic/bucketed-tables") {
      val sfx = (d.hashCode.toLong & 0xffffffffL).toHexString +
        "_" + (System.identityHashCode(s).toLong & 0xffffffffL).toHexString
      val base = graft.util.Fs.tempDirDeletedOnExit("graft-bucketed")
      val (ot, lt) = (s"graft_orders_b_$sfx", s"graft_lineitem_b_$sfx")
      s.sql(s"DROP TABLE IF EXISTS $ot")
      s.sql(s"DROP TABLE IF EXISTS $lt")
      Tables.orders(s, d).select("o_orderkey", "o_orderpriority")
        .repartition(8, col("o_orderkey"))
        .write.mode("overwrite").option("path", s"$base/orders")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable(ot)
      Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice")
        .repartition(8, col("l_orderkey"))
        .write.mode("overwrite").option("path", s"$base/lineitem")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable(lt)
      (ot, lt)
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Backward as-of join: each click attributed to the user's most recent
    // error at-or-before it (argmax on (ts, event_id) — deterministic).
    "q24_asof_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts", "value")
      AsOfJoin.backward(clicks, errors, Seq("user_id"), "ts",
          tieCol = "event_id", rightValCols = Seq("event_id", "value"),
          asofPrefix = "err_")
        .select(col("event_id"), col("err_event_id"), col("err_value"))
    }),

    // Forward as-of with tolerance (pandas merge_asof direction='forward'):
    // every click carries the NEXT error of the same user, but only if it
    // lands within 10 minutes — ties at equal (ts) resolve to the lowest
    // event_id, equal-time errors ARE visible. Complements q24's backward
    // pick; the tolerance mask NULLs both carried columns together.
    "q43_asof_forward" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts", "value")
      AsOfJoin.forward(clicks, errors, Seq("user_id"), "ts",
          tieCol = "event_id", rightValCols = Seq("event_id", "value"),
          asofPrefix = "err_", toleranceSec = Some(600L))
        .select(col("event_id"), col("err_event_id"), col("err_value"))
    }),

    // Z-ORDER layout kernel: the Morton z-value of every lineitem over
    // (l_partkey, l_suppkey) — the data-skipping sort key whose
    // contiguous ranges are rectangles in BOTH columns (Delta/Hudi's
    // OPTIMIZE ZORDER BY technique). Exact integer bucket arithmetic
    // (div truncation identical in both engines) + shift/mask
    // interleave ⇒ the oracle re-derives every z bit; ZOrderSpec proves
    // the locality property the value buys.
    "q44_zorder" -> ((s, d) =>
      graft.operators.ZOrder.zValues(
          Tables.lineitem(s, d)
            .select(col("l_orderkey"), col("l_linenumber"),
              col("l_partkey"), col("l_suppkey")),
          Seq("l_partkey", "l_suppkey"), bits = 8)
        .select(col("l_orderkey"), col("l_linenumber"), col("z"))),

    // Windowed FUNNEL analysis (view → click → purchase, each step
    // within 1 hour of the previous) — the product-analytics staple,
    // with deterministic GREEDY-ANCHORED semantics: the funnel anchors
    // at each user's FIRST view, advances to the earliest qualifying
    // next step, and reports how far it got plus the step times as
    // epoch micros. Three stage tables, each one hash-agg + one
    // user-keyed join — no window over the event stream, no
    // match_recognize state machine; at scale each stage shuffles only
    // its event type's rows on user_id.
    "q45_funnel" -> ((s, d) => {
      val ev = Tables.events(s, d)
      def stage(t: String) = ev.filter(col("event_type") === t)
        .select(col("user_id"), col("ts"))
      val v = stage("view").groupBy("user_id").agg(min(col("ts")).as("v_ts"))
      val c = stage("click").join(v, Seq("user_id"))
        .filter(col("ts") > col("v_ts") &&
          col("ts") <= col("v_ts") + expr("INTERVAL 1 HOUR"))
        .groupBy("user_id").agg(min(col("ts")).as("c_ts"))
      val p = stage("purchase").join(c, Seq("user_id"))
        .filter(col("ts") > col("c_ts") &&
          col("ts") <= col("c_ts") + expr("INTERVAL 1 HOUR"))
        .groupBy("user_id").agg(min(col("ts")).as("p_ts"))
      v.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
        .select(col("user_id"),
          (lit(1) + when(col("c_ts").isNotNull, 1).otherwise(0) +
            when(col("p_ts").isNotNull, 1).otherwise(0)).as("n_stages"),
          expr("unix_micros(v_ts)").as("v_us"),
          expr("unix_micros(c_ts)").as("c_us"),
          expr("unix_micros(p_ts)").as("p_us"))
    }),

    // Banded interval join: (error, click) pairs of the same user with the
    // click 0..10 minutes after the error.
    "q25_range_join" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val errors = ev.filter(col("event_type") === "error")
        .select("event_id", "user_id", "ts")
      val clicks = ev.filter(col("event_type") === "click")
        .select("event_id", "user_id", "ts")
      RangeJoin.banded(errors, clicks, Seq("user_id"), "ts",
          lowerSec = 0, upperSec = 600)
        .select(col("l_event_id").as("err_id"),
          col("r_event_id").as("click_id"))
    }),

    // Exact linear-interpolation percentiles per group (Spark `percentile`,
    // not approx_percentile — bit-reproducible, matches quantile_cont).
    "q26_percentiles" -> ((s, d) => {
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
          round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
          round(expr("percentile(l_quantity, 0.99)"), 6).as("p99"))
    }),

    // Statistical moments via decimal-exact sums: mean, sample variance,
    // stddev of quantity, and quantity↔discount correlation per group.
    "q27_stat_moments" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val q = col("l_quantity").cast("decimal(9,2)")
      val disc = col("l_discount").cast("decimal(9,2)")
      val agg = li.groupBy(col("l_returnflag")).agg(
        count(lit(1)).as("n"),
        sum(q).cast("double").as("sq"),
        sum(q * q).cast("double").as("sqq"),
        sum(disc).cast("double").as("sd"),
        sum(disc * disc).cast("double").as("sdd"),
        sum(q * disc).cast("double").as("sqd"))
      val n = col("n").cast("double")
      agg.select(
        col("l_returnflag"),
        col("n"),
        round(col("sq") / n, 6).as("mean_qty"),
        round((n * col("sqq") - col("sq") * col("sq")) / (n * (n - 1)), 6)
          .as("var_qty"),
        round(sqrt((n * col("sqq") - col("sq") * col("sq")) / (n * (n - 1))), 6)
          .as("std_qty"),
        round((n * col("sqd") - col("sq") * col("sd")) /
          (sqrt(n * col("sqq") - col("sq") * col("sq")) *
           sqrt(n * col("sdd") - col("sd") * col("sd"))), 6)
          .as("corr_qty_disc"))
    }),
    // KMV bottom-k distinct-count sketch — mergeable AND engine-portable
    // (the oracle recomputes the identical sketch), vs HLL++ whose register
    // state is engine-internal. Compared against the exact count.
    "q28_distinct_sketch" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val est = Sketches.kmvDistinct(li, Seq("l_returnflag"), "l_partkey",
        k = 64)
      val exact = li.groupBy(col("l_returnflag"))
        .agg(countDistinct(col("l_partkey")).as("n_exact"))
      est.join(exact, Seq("l_returnflag"))
        .select(col("l_returnflag"), col("est_distinct"), col("n_kept"),
          col("n_exact"))
    }),

    // Window frames: running totals (decimal-exact), bounded moving
    // average (explicit sum/count in double — no engine-specific
    // incremental-avg rounding), offsets and partition extremes.
    "q29_window_frames" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val ord = Window.partitionBy(col("user_id"))
        .orderBy(col("ts").asc, col("event_id").asc)
      val run = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val m3 = ord.rowsBetween(-2, Window.currentRow)
      ev.select(
        col("event_id"), col("user_id"),
        sum(col("value").cast("decimal(18,2)")).over(run)
          .cast("double").as("running_value"),
        round(sum(col("value").cast("decimal(18,2)")).over(m3).cast("double")
          / count(lit(1)).over(m3), 6).as("avg3"),
        round(col("value") - coalesce(lag(col("value"), 1).over(ord),
          col("value")), 6).as("delta_prev"),
        first(col("event_type")).over(run).as("first_type"))
    }),
    // Explicit GROUPING SETS (the general form behind q10's rollup and
    // q13's cube): chosen aggregation lattice points in ONE pass, with
    // grouping_id disambiguating the null-vs-total encoding.
    "q33_grouping_sets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("graft_orders_gs")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS INT)
                 AS gid,
               count(*) AS n,
               CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                 AS revenue
        FROM graft_orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
      """)
    }),

    // Wide→long unpivot (melt) + re-aggregation per measure — the schema
    // normalization step feature pipelines run before per-feature stats.
    "q31_unpivot" -> ((s, d) => {
      Tables.lineitem(s, d)
        .unpivot(
          ids = Array(col("l_returnflag")),
          values = Array(col("l_quantity"), col("l_discount"), col("l_tax")),
          variableColumnName = "measure",
          valueColumnName = "val")
        .groupBy(col("l_returnflag"), col("measure"))
        .agg(count(lit(1)).as("n"),
          sum(col("val").cast("decimal(18,2)")).cast("double").as("total"))
    }),

    // Semi-structured VARIANT ingestion (Spark 4): parse once into the
    // binary variant encoding, then typed path extraction — the
    // shred-on-read pattern for heterogeneous JSON event payloads
    // (vs q21's per-access string parsing with get_json_object).
    "q32_variant_extract" -> ((s, d) => {
      Tables.events(s, d)
        .withColumn("v", parse_json(col("props")))
        .select(col("event_type"),
          expr("variant_get(v, '$.k', 'bigint')").as("k"))
        .groupBy(col("event_type"))
        .agg(sum(col("k")).as("sum_k"), max(col("k")).as("max_k"),
          count(col("k")).as("n_k"))
    }),

    // Bucketed-table co-located join: both fact tables written bucketed +
    // sorted on the join key, so the SortMergeJoin needs NO exchange on
    // either side (BucketedJoinSpec pins the plan). At 100 TB this is the
    // difference between re-shuffling every join and paying the shuffle
    // once at write time. The join-time Sort stays: Spark 3+ deliberately
    // ignores write-time sortBy order at read (multi-file buckets would
    // make an elided sort silently wrong — SPARK-28595), and sorting
    // already-sorted runs is cheap; we keep the safe upstream default
    // rather than flipping the legacy session-wide conf.
    "q30_bucketed_join" -> ((s, d) => {
      // bucketed tables are a WRITE-ONCE layout investment (that is the
      // operator's whole point at 100 TB — pay the shuffle at write
      // time, join shuffle-free forever after), so the tables persist
      // once per session and data dir and every invocation runs only
      // the co-located join ([[bucketedTablesFor]]; pre-r15 every call
      // re-dropped and re-wrote both tables, timing the build alongside
      // the serve)
      val (ordersT, lineitemT) = bucketedTablesFor(s, d)
      s.table(lineitemT).hint("merge")
        .join(s.table(ordersT),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
    }),

    // Date/time function battery over event timestamps: field extraction,
    // week truncation, interval arithmetic, epoch round-trips, day
    // difference vs a fixed anchor — the calendar surface a time-series
    // pipeline leans on (all evaluated identically by DuckDB).
    "q35_datetime_funcs" -> ((s, d) => {
      Tables.events(s, d).select(
        col("event_id"),
        year(col("ts")).as("y"),
        month(col("ts")).as("mo"),
        dayofmonth(col("ts")).as("dom"),
        hour(col("ts")).as("h"),
        date_trunc("week", col("ts")).cast("date").as("week_start"),
        (col("ts") + expr("INTERVAL 90 minutes")).cast("long").as("ts_plus90m"),
        datediff(to_date(col("ts")), lit("2024-01-01").cast("date"))
          .as("days_since"),
        unix_timestamp(col("ts")).as("epoch_s"))
    }),

    // Correlated LATERAL subquery with ORDER BY + LIMIT (Spark 4 lateral
    // join surface): per region, the top-2 customers by account balance —
    // the per-row-parameterized-subquery construct that window functions
    // only approximate (q05's shape through a different engine path).
    "q42_lateral_topk" -> ((s, d) => {
      Tables.region(s, d).createOrReplaceTempView("graft_region_lat")
      Tables.nation(s, d).createOrReplaceTempView("graft_nation_lat")
      Tables.customer(s, d).createOrReplaceTempView("graft_customer_lat")
      s.sql("""
        SELECT r.r_name, l.c_custkey, l.c_acctbal
        FROM graft_region_lat r,
        LATERAL (
          SELECT c.c_custkey, c.c_acctbal
          FROM graft_customer_lat c
          JOIN graft_nation_lat n ON c.c_nationkey = n.n_nationkey
          WHERE n.n_regionkey = r.r_regionkey
          ORDER BY c.c_acctbal DESC, c.c_custkey
          LIMIT 2) l
      """)
    }),

    // Null-handling battery: nulls synthesized deterministically (the
    // fixtures are fully non-null), then routed through coalesce / nullif
    // / nvl2-style branches, null-safe equality, and null-aware counts —
    // the semantics corner where engines silently diverge.
    "q41_null_handling" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(
        col("l_orderkey"), col("l_linenumber"),
        // qty is NULL for every 7th row; disc NULL where discount = 0
        when(col("l_orderkey") % 7 === 0, lit(null))
          .otherwise(col("l_quantity")).as("qty"),
        nullif(col("l_discount"), lit(0.0)).as("disc"))
      li.groupBy((col("l_orderkey") % 3).as("grp"))
        .agg(
          count(lit(1)).as("n_rows"),
          count(col("qty")).as("n_qty"), // null-skipping count
          sum(when(col("qty").isNull, 1).otherwise(0)).as("n_null_qty"),
          sum(when(col("qty") <=> lit(null), 1).otherwise(0))
            .as("n_nullsafe_eq"),
          round(sum(coalesce(col("qty"), lit(0.0))
            .cast("decimal(18,2)")).cast("double"), 6).as("qty_total"),
          round(sum(coalesce(col("disc"), lit(0.05)).cast("decimal(9,2)"))
            .cast("double") / count(lit(1)), 6).as("avg_disc_filled"))
    }),

    // Recursive CTE (Spark 4): iterative transitive chain key → key/2
    // walked to 0 from a sparse seed set — the linear-recursion shape
    // (hierarchy walks, reachability) that needed driver-side loops before
    // WITH RECURSIVE landed. Summarized per seed (chain length + terminal).
    "q40_recursive_cte" -> ((s, d) => {
      Tables.part(s, d).createOrReplaceTempView("graft_part_rec")
      s.sql("""
        WITH RECURSIVE chain(start_key, key, step) AS (
          SELECT p_partkey, p_partkey, 0
          FROM graft_part_rec WHERE p_partkey % 97 = 0
          UNION ALL
          SELECT start_key, key DIV 2, step + 1 FROM chain WHERE key > 0
        )
        SELECT start_key, CAST(max(step) AS INT) AS n_steps,
               count(*) AS n_rows
        FROM chain GROUP BY start_key
      """)
    }),

    // Map-typed columns: per-user event-type→count maps built with
    // map_from_entries, then interrogated via element_at / map_keys /
    // map_filter / transform_values + aggregate-HOF over values. Output
    // flattens to scalars (map column ordering is engine-specific; the
    // VALUES are what must match the oracle).
    "q39_map_funcs" -> ((s, d) => {
      val perType = Tables.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("cnt"))
      perType
        .groupBy(col("user_id"))
        .agg(map_from_entries(sort_array(
          collect_list(struct(col("event_type"), col("cnt"))))).as("m"))
        .select(
          col("user_id"),
          coalesce(element_at(col("m"), "click"), lit(0L)).as("n_clicks"),
          size(map_keys(col("m"))).as("n_types"),
          size(map_filter(col("m"), (_, v) => v >= 3)).as("n_frequent"),
          aggregate(map_values(transform_values(col("m"), (_, v) => v * 2)),
            lit(0L), (acc, x) => acc + x).as("double_total"))
    }),

    // Multiset (bag) set operations — EXCEPT ALL / INTERSECT ALL keep
    // duplicate multiplicity (the q15 variants collapse it): customer
    // nation keys vs supplier nation keys as bags.
    "q37_multiset_ops" -> ((s, d) => {
      val c = Tables.customer(s, d).select(col("c_nationkey").as("key"))
      val su = Tables.supplier(s, d).select(col("s_nationkey").as("key"))
      val exAll = c.exceptAll(su).groupBy(col("key"))
        .agg(count(lit(1)).as("n")).withColumn("which", lit("except_all"))
      val inAll = c.intersectAll(su).groupBy(col("key"))
        .agg(count(lit(1)).as("n")).withColumn("which", lit("intersect_all"))
      exAll.unionByName(inAll).select(col("which"), col("key"), col("n"))
    }),

    // Ranking-function battery: rank / dense_rank / ntile / percent_rank /
    // cume_dist over a fully-determined ordering (totalprice desc, key asc
    // tiebreak) within order-priority partitions.
    "q38_ranking_funcs" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      Tables.orders(s, d).select(
        col("o_orderkey"), col("o_orderpriority"),
        rank().over(w).cast("int").as("rnk"),
        dense_rank().over(w).cast("int").as("drnk"),
        ntile(4).over(w).cast("int").as("quartile"),
        round(percent_rank().over(w), 6).as("pr"),
        round(cume_dist().over(w), 6).as("cd"))
    }),

    // Edit-distance similarity join (fuzzy matching): part names compared
    // within (brand, size) blocks — never all-pairs — keeping pairs within
    // levenshtein ≤ 15, summarized per brand. The string-similarity
    // complement to the token-set dedup family (d03/d04/d07).
    "q36_fuzzy_name_join" -> ((s, d) => {
      val p = Tables.part(s, d)
        .select("p_partkey", "p_brand", "p_size", "p_name")
      val a = p.select(col("p_brand"), col("p_size"),
        col("p_partkey").as("a_key"), col("p_name").as("a_name"))
      val b = p.select(col("p_brand"), col("p_size"),
        col("p_partkey").as("b_key"), col("p_name").as("b_name"))
      a.join(b, Seq("p_brand", "p_size"))
        .filter(col("a_key") < col("b_key"))
        .withColumn("dist", levenshtein(col("a_name"), col("b_name")))
        .filter(col("dist") <= 15)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_pairs"),
          min(col("dist")).as("min_d"), max(col("dist")).as("max_d"))
    }),

    // Bloom-pruned selective join: lineitem rows pass a bloom filter of the
    // urgent orders' keys before the join shuffle. Oracle = the PLAIN join:
    // the prune must be result-invariant (no false negatives; the join
    // removes false positives), so a hash mismatch here means the
    // optimization broke semantics.
    "q34_bloom_prune_join" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select("l_orderkey", "l_extendedprice")
      val dim = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderstatus")
      BloomPrune.prunedEquiJoin(li, dim, "l_orderkey", "o_orderkey")
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
    }),
  )

  /** The Morton interleave as SQL bit terms: bit i of bucket column j
    * lands at position i·2 + j (mirrors [[graft.operators.ZOrder]]). */
  private val zorderTerms: String = (0 until 8).flatMap(i => Seq(
    s"(((bp >> $i) & 1) << ${2 * i})",
    s"(((bs >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")

  val oracleSql: Map[String, String] = Map(
    "q45_funnel" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS v_ts FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS c_ts
        |  FROM events e JOIN v ON v.user_id = e.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.v_ts
        |    AND e.ts <= v.v_ts + INTERVAL 1 HOUR
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS p_ts
        |  FROM events e JOIN c ON c.user_id = e.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.c_ts
        |    AND e.ts <= c.c_ts + INTERVAL 1 HOUR
        |  GROUP BY e.user_id)
        |SELECT v.user_id,
        |  (1 + CASE WHEN c.c_ts IS NULL THEN 0 ELSE 1 END
        |     + CASE WHEN p.p_ts IS NULL THEN 0 ELSE 1 END) AS n_stages,
        |  epoch_us(v.v_ts) AS v_us, epoch_us(c.c_ts) AS c_us,
        |  epoch_us(p.p_ts) AS p_us
        |FROM v
        |LEFT JOIN c ON c.user_id = v.user_id
        |LEFT JOIN p ON p.user_id = v.user_id""".stripMargin,
    "q44_zorder" ->
      s"""WITH st AS (
        |  SELECT min(l_partkey)::BIGINT AS mnp, max(l_partkey)::BIGINT AS mxp,
        |         min(l_suppkey)::BIGINT AS mns, max(l_suppkey)::BIGINT AS mxs
        |  FROM lineitem),
        |b AS (
        |  SELECT l_orderkey, l_linenumber,
        |    ((l_partkey::BIGINT - mnp) * 256) // (mxp - mnp + 1) AS bp,
        |    ((l_suppkey::BIGINT - mns) * 256) // (mxs - mns + 1) AS bs
        |  FROM lineitem, st)
        |SELECT l_orderkey, l_linenumber,
        |  ($zorderTerms)::BIGINT AS z
        |FROM b""".stripMargin,
    "q42_lateral_topk" ->
      """SELECT r.r_name, l.c_custkey, l.c_acctbal
        |FROM region r,
        |LATERAL (
        |  SELECT c.c_custkey, c.c_acctbal
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  ORDER BY c.c_acctbal DESC, c.c_custkey
        |  LIMIT 2) l""".stripMargin,
    "q41_null_handling" ->
      """WITH li AS (
        |  SELECT l_orderkey,
        |    CASE WHEN l_orderkey % 7 = 0 THEN NULL ELSE l_quantity END AS qty,
        |    nullif(l_discount, 0.0) AS disc
        |  FROM lineitem)
        |SELECT l_orderkey % 3 AS grp,
        |  count(*) AS n_rows,
        |  count(qty) AS n_qty,
        |  CAST(sum(CASE WHEN qty IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_null_qty,
        |  CAST(sum(CASE WHEN qty IS NOT DISTINCT FROM NULL
        |           THEN 1 ELSE 0 END) AS BIGINT) AS n_nullsafe_eq,
        |  round(sum(coalesce(qty, 0.0)::DECIMAL(18,2))::DOUBLE, 6)
        |    AS qty_total,
        |  round(sum(coalesce(disc, 0.05)::DECIMAL(9,2))::DOUBLE / count(*), 6)
        |    AS avg_disc_filled
        |FROM li GROUP BY 1""".stripMargin,
    "q40_recursive_cte" ->
      """WITH RECURSIVE chain(start_key, key, step) AS (
        |  SELECT p_partkey, p_partkey, 0
        |  FROM part WHERE p_partkey % 97 = 0
        |  UNION ALL
        |  SELECT start_key, key // 2, step + 1 FROM chain WHERE key > 0)
        |SELECT start_key, CAST(max(step) AS INT) AS n_steps,
        |  count(*) AS n_rows
        |FROM chain GROUP BY start_key""".stripMargin,
    "q39_map_funcs" ->
      """WITH pt AS (
        |  SELECT user_id, event_type, count(*) AS cnt
        |  FROM events GROUP BY user_id, event_type)
        |SELECT user_id,
        |  coalesce(sum(CASE WHEN event_type = 'click' THEN cnt END),
        |    0)::BIGINT AS n_clicks,
        |  CAST(count(*) AS INT) AS n_types,
        |  CAST(sum(CASE WHEN cnt >= 3 THEN 1 ELSE 0 END) AS INT)
        |    AS n_frequent,
        |  (sum(cnt) * 2)::BIGINT AS double_total
        |FROM pt GROUP BY user_id""".stripMargin,
    "q37_multiset_ops" ->
      """WITH c AS (SELECT c_nationkey AS key FROM customer),
        |su AS (SELECT s_nationkey AS key FROM supplier)
        |SELECT 'except_all' AS which, key, count(*) AS n
        |FROM (SELECT key FROM c EXCEPT ALL SELECT key FROM su)
        |GROUP BY key
        |UNION ALL
        |SELECT 'intersect_all' AS which, key, count(*) AS n
        |FROM (SELECT key FROM c INTERSECT ALL SELECT key FROM su)
        |GROUP BY key""".stripMargin,
    "q38_ranking_funcs" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(rank() OVER w AS INT) AS rnk,
        |  CAST(dense_rank() OVER w AS INT) AS drnk,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice DESC, o_orderkey ASC)""".stripMargin,
    "q36_fuzzy_name_join" ->
      """WITH p AS (SELECT p_partkey, p_brand, p_size, p_name FROM part)
        |SELECT a.p_brand, count(*) AS n_pairs,
        |  CAST(min(levenshtein(a.p_name, b.p_name)) AS INT) AS min_d,
        |  CAST(max(levenshtein(a.p_name, b.p_name)) AS INT) AS max_d
        |FROM p a JOIN p b
        |  ON a.p_brand = b.p_brand AND a.p_size = b.p_size
        |  AND a.p_partkey < b.p_partkey
        |WHERE levenshtein(a.p_name, b.p_name) <= 15
        |GROUP BY a.p_brand""".stripMargin,
    "q35_datetime_funcs" ->
      """SELECT event_id,
        |  CAST(year(ts) AS INT) AS y,
        |  CAST(month(ts) AS INT) AS mo,
        |  CAST(day(ts) AS INT) AS dom,
        |  CAST(hour(ts) AS INT) AS h,
        |  CAST(date_trunc('week', ts) AS DATE) AS week_start,
        |  epoch_us(ts + INTERVAL 90 MINUTE) // 1000000 AS ts_plus90m,
        |  CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE))
        |    AS INT) AS days_since,
        |  epoch_us(ts) // 1000000 AS epoch_s
        |FROM events""".stripMargin,
    "q34_bloom_prune_join" ->
      """SELECT o.o_orderstatus, count(*) AS n_items,
        |  sum(l.l_extendedprice::DECIMAL(18,2))::DOUBLE AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |WHERE o.o_orderpriority = '1-URGENT'
        |GROUP BY o.o_orderstatus""".stripMargin,
    "q33_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS INT) AS gid,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
        |                        (o_orderstatus), ())""".stripMargin,
    "q32_variant_extract" ->
      """SELECT event_type,
        |  CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
        |  max(CAST(props->>'$.k' AS BIGINT)) AS max_k,
        |  count(CAST(props->>'$.k' AS BIGINT)) AS n_k
        |FROM events GROUP BY event_type""".stripMargin,
    "q31_unpivot" ->
      """WITH long AS (
        |  SELECT l_returnflag, 'l_quantity' AS measure, l_quantity AS val
        |  FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
        |SELECT l_returnflag, measure, count(*) AS n,
        |  sum(val::DECIMAL(18,2))::DOUBLE AS total
        |FROM long GROUP BY l_returnflag, measure""".stripMargin,
    "q30_bucketed_join" ->
      """SELECT o.o_orderpriority, count(*) AS n_items,
        |  sum(l.l_extendedprice::DECIMAL(18,2))::DOUBLE AS revenue
        |FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
        |GROUP BY o.o_orderpriority""".stripMargin,
    "q24_asof_join" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |e AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'error'),
        |m AS (
        |  SELECT c.event_id AS click_id, e.event_id AS err_event_id,
        |    e.value AS err_value,
        |    row_number() OVER (PARTITION BY c.event_id
        |                       ORDER BY e.ts DESC, e.event_id DESC) AS rn
        |  FROM c JOIN e ON c.user_id = e.user_id AND e.ts <= c.ts)
        |SELECT c.event_id, m.err_event_id, m.err_value
        |FROM c LEFT JOIN m ON m.click_id = c.event_id AND m.rn = 1""".stripMargin,
    "q43_asof_forward" ->
      """WITH c AS (
        |  SELECT event_id, user_id, ts FROM events WHERE event_type = 'click'),
        |e AS (
        |  SELECT event_id, user_id, ts, value FROM events
        |  WHERE event_type = 'error'),
        |m AS (
        |  SELECT c.event_id AS click_id, e.event_id AS err_event_id,
        |    e.value AS err_value,
        |    row_number() OVER (PARTITION BY c.event_id
        |                       ORDER BY e.ts ASC, e.event_id ASC) AS rn
        |  FROM c JOIN e ON c.user_id = e.user_id AND e.ts >= c.ts
        |    AND epoch_us(e.ts) <= epoch_us(c.ts) + 600000000)
        |SELECT c.event_id, m.err_event_id, m.err_value
        |FROM c LEFT JOIN m ON m.click_id = c.event_id AND m.rn = 1""".stripMargin,
    "q25_range_join" ->
      """SELECT e.event_id AS err_id, c.event_id AS click_id
        |FROM events e JOIN events c
        |  ON e.user_id = c.user_id
        | AND e.event_type = 'error' AND c.event_type = 'click'
        | AND epoch_us(c.ts) >= epoch_us(e.ts)
        | AND epoch_us(c.ts) <= epoch_us(e.ts) + 600000000""".stripMargin,
    "q26_percentiles" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |  round(quantile_cont(l_quantity, 0.9), 6) AS p90,
        |  round(quantile_cont(l_quantity, 0.99), 6) AS p99
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q28_distinct_sketch" ->
      """WITH dv AS (SELECT DISTINCT l_returnflag, l_partkey FROM lineitem),
        |h AS (
        |  SELECT l_returnflag,
        |    (('0x' || substr(md5(l_partkey::VARCHAR), 1, 15))::BIGINT)::DOUBLE
        |      / 1152921504606846976 AS f
        |  FROM dv),
        |r AS (
        |  SELECT l_returnflag, f,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY f) AS rn
        |  FROM h),
        |g AS (
        |  SELECT l_returnflag, count(*)::INT AS n_kept, max(f) AS kth
        |  FROM r WHERE rn <= 64 GROUP BY l_returnflag),
        |x AS (
        |  SELECT l_returnflag, count(DISTINCT l_partkey) AS n_exact
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT g.l_returnflag,
        |  round(CASE WHEN g.n_kept < 64 THEN g.n_kept::DOUBLE
        |             ELSE 63.0 / g.kth END, 3) AS est_distinct,
        |  g.n_kept, x.n_exact
        |FROM g JOIN x USING (l_returnflag)""".stripMargin,
    "q29_window_frames" ->
      """SELECT event_id, user_id,
        |  (sum(value::DECIMAL(18,2)) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::DOUBLE
        |    AS running_value,
        |  round((sum(value::DECIMAL(18,2)) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id
        |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW))::DOUBLE
        |    / count(*) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 6) AS avg3,
        |  round(value - coalesce(lag(value, 1) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id), value), 6) AS delta_prev,
        |  first_value(event_type) OVER (PARTITION BY user_id
        |     ORDER BY ts, event_id
        |     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_type
        |FROM events""".stripMargin,
    "q27_stat_moments" ->
      """WITH s AS (
        |  SELECT l_returnflag,
        |    count(*)::BIGINT AS n,
        |    sum(l_quantity::DECIMAL(9,2))::DOUBLE AS sq,
        |    sum(l_quantity::DECIMAL(9,2) * l_quantity::DECIMAL(9,2))::DOUBLE AS sqq,
        |    sum(l_discount::DECIMAL(9,2))::DOUBLE AS sd,
        |    sum(l_discount::DECIMAL(9,2) * l_discount::DECIMAL(9,2))::DOUBLE AS sdd,
        |    sum(l_quantity::DECIMAL(9,2) * l_discount::DECIMAL(9,2))::DOUBLE AS sqd
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, n,
        |  round(sq / n, 6) AS mean_qty,
        |  round((n * sqq - sq * sq) / (n * (n - 1)), 6) AS var_qty,
        |  round(sqrt((n * sqq - sq * sq) / (n * (n - 1))), 6) AS std_qty,
        |  round((n * sqd - sq * sd) /
        |    (sqrt(n * sqq - sq * sq) * sqrt(n * sdd - sd * sd)), 6)
        |    AS corr_qty_disc
        |FROM s""".stripMargin,
  )
}
