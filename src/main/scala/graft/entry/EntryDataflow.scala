package graft

import graft.analysis._
import graft.core._
import graft.ops._
import graft.spark._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** dataflow-primitive and OLAP-surface tier (the a_* family) of the driver contract: the `queries` / `oracleSql`
  * fragments [[SparkEntry]] composes. Split out of SparkEntry.scala in
  * round 8 purely for file size — every entry is verbatim; semantics and
  * the gate are unchanged. See SparkEntry's scaladoc for the conventions
  * (zero-noise DP, integer-valued oracle arithmetic, column aliasing).
  */
private[graft] object EntryDataflow {
  import EntryHelpers._

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---- §2.A dataflow primitives over the TPC-H-ish tables ----
    "a_map" -> ((s, dir) => {
      // map / select(expr): per-row revenue (deterministic per-row arithmetic)
      readParquet(s, s"$dir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("revenue"))
    }),
    "a_flat_map" -> ((s, dir) => {
      // flat_map / explode: document tokens
      readParquet(s, s"$dir/documents.parquet")
        .select(col("doc_id"), explode(TextAnalysis.tokens(col("text"))).as("token"))
    }),
    "a_filter" -> ((s, dir) => {
      readParquet(s, s"$dir/lineitem.parquet")
        .filter(col("l_quantity") > 25 && col("l_returnflag") === "R")
        .select("l_orderkey", "l_linenumber", "l_quantity")
    }),
    "a_group_by_key" -> ((s, dir) => {
      // group_by_key: values gathered per key (sorted for determinism)
      // (string-joined so the parquet/oracle comparison avoids nested arrays)
      readParquet(s, s"$dir/orders.parquet")
        .groupBy(col("o_custkey"))
        .agg(concat_ws(",", sort_array(collect_list(col("o_orderkey")))).as("orderkeys"))
    }),
    "a_filter_by_key" -> ((s, dir) => {
      // filter_by_key / semi-join: lineitems of urgent orders
      val urgent = readParquet(s, s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      readParquet(s, s"$dir/lineitem.parquet")
        .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
        .select("l_orderkey", "l_linenumber")
    }),
    "a_filter_by_key_sharded" -> ((s, dir) => {
      // skew-resilient filter_by_key: salted semi-join; output identical to
      // the plain semi-join (the salt only changes physical distribution)
      val urgent = readParquet(s, s"$dir/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
      Dataflow.filterByKeySharded(
        readParquet(s, s"$dir/lineitem.parquet").withColumnRenamed("l_orderkey", "o_orderkey"),
        urgent, Seq("o_orderkey"))
        .select(col("o_orderkey").as("l_orderkey"), col("l_linenumber"))
    }),
    "a_bloom_join" -> ((s, dir) => {
      // Bloom-pre-filtered shuffle join: big side (orders) is filtered by a
      // portable bitmap over the BUILDING customers' keys before its rows
      // reach the shuffle; the join removes false positives, so the result
      // is exactly the plain join. Cents-integer sum => order-free.
      val cust = readParquet(s, s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING")
        .select("c_custkey")
      val ords = readParquet(s, s"$dir/orders.parquet")
        .select("o_custkey", "o_totalprice")
      Dataflow.bloomFilteredJoin(ords, cust, "o_custkey", "c_custkey")
        .groupBy(col("c_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("total_cents"))
    }),
    "a_count_per_element" -> ((s, dir) => {
      readParquet(s, s"$dir/lineitem.parquet")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n"))
    }),
    "a_sum_per_key" -> ((s, dir) => {
      // sum_per_key with map-side combine (l_quantity is integer-valued)
      readParquet(s, s"$dir/lineitem.parquet")
        .groupBy(col("l_partkey")).agg(sum(col("l_quantity")).as("sum_qty"))
    }),
    "a_min_max_per_key" -> ((s, dir) => {
      readParquet(s, s"$dir/orders.parquet")
        .groupBy(col("o_custkey"))
        .agg(min(col("o_totalprice")).as("min_price"), max(col("o_totalprice")).as("max_price"))
    }),
    "a_flatten" -> ((s, dir) => {
      // flatten / union-all of two branches
      val e = events(s, dir)
      e.filter(col("event_type") === "click").select("event_id")
        .unionByName(e.filter(col("event_type") === "purchase").select("event_id"))
    }),
    "a_distinct" -> ((s, dir) => {
      readParquet(s, s"$dir/lineitem.parquet").select("l_returnflag", "l_linestatus").distinct()
    }),
    "a_sample_per_key" -> ((s, dir) => {
      // sample_fixed_per_key: uniform <=3 rows per key; the sampled rows are
      // random, the per-key counts are deterministic = least(n, 3)
      Dataflow.sampleRowsPerKey(
        readParquet(s, s"$dir/orders.parquet").select("o_custkey", "o_orderkey"),
        Seq("o_custkey"), 3)
        .groupBy("o_custkey").agg(count(lit(1)).as("n_sampled"))
    }),
    "a_join_agg" -> ((s, dir) => {
      // broadcast-joined aggregation: revenue per market segment per priority
      // (floor per-row so the double sum is order-independent for the oracle)
      val cust = readParquet(s, s"$dir/customer.parquet").select("c_custkey", "c_mktsegment")
      val orders = readParquet(s, s"$dir/orders.parquet")
      orders.join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .groupBy(col("c_mktsegment"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice"))).cast("double").as("revenue_floor"))
    }),
    "a_tpch_q1" -> ((s, dir) => {
      // TPC-H Q1 shape (pricing summary): one scan, one hash-aggregate on a
      // low-cardinality key, every metric map-side combined. Money terms
      // floor()ed per row after their one/two IEEE multiplies so all sums
      // are order-independent; averages divide two exact aggregates.
      val li = readParquet(s, s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") <= "2001-06-01")
      li.groupBy("l_returnflag", "l_linestatus")
        .agg(
          sum(floor(col("l_quantity"))).cast("double").as("sum_qty"),
          sum(floor(col("l_extendedprice"))).cast("double").as("sum_base_price"),
          sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
            .cast("double").as("sum_disc_price"),
          sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))
              * (lit(1.0) + col("l_tax"))))
            .cast("double").as("sum_charge"),
          (sum(floor(col("l_quantity"))).cast("double") / count(lit(1)))
            .as("avg_qty"),
          (sum(floor(col("l_discount") * lit(100.0))).cast("double") / count(lit(1)))
            .as("avg_disc_pct"),
          count(lit(1)).as("count_order"))
    }),
    "a_tpch_q3" -> ((s, dir) => {
      // TPC-H Q3 shape (shipping-priority top-10): selective dim filter ->
      // broadcast, fact-fact equi-join on the order key, group + top-10 via
      // TakeOrderedAndProject (no global sort). Revenue floor()ed per row
      // after ONE IEEE multiply, so the sum is order-independent.
      val cust = readParquet(s, s"$dir/customer.parquet")
        .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val orders = readParquet(s, s"$dir/orders.parquet")
        .filter(col("o_orderdate") < "1998-06-01")
        .select("o_orderkey", "o_custkey", "o_orderdate")
      val li = readParquet(s, s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") > "1998-06-01")
        .select("l_orderkey", "l_extendedprice", "l_discount")
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .join(broadcast(cust), orders("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double").as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey"))
        .limit(10)
    }),
    "a_tpch_q5" -> ((s, dir) => {
      // TPC-H Q5 shape (local supplier volume): the classic star-join —
      // region/nation/supplier are BROADCAST (dims stay small at any fact
      // scale), orders⋈customer and the lineitem join shuffle on their keys
      // and AQE picks the fact-side order. Revenue floor()ed per row after
      // one IEEE multiply => order-free sums.
      val asiaNations = readParquet(s, s"$dir/nation.parquet")
        .join(broadcast(readParquet(s, s"$dir/region.parquet")
            .filter(col("r_name") === "ASIA").select("r_regionkey")),
          col("n_regionkey") === col("r_regionkey"))
        .select("n_nationkey", "n_name")
      val supp = readParquet(s, s"$dir/supplier.parquet")
        .select("s_suppkey", "s_nationkey")
      val cust = readParquet(s, s"$dir/customer.parquet")
        .select("c_custkey", "c_nationkey")
      val orders = readParquet(s, s"$dir/orders.parquet")
        .filter(col("o_orderdate") >= "1996-01-01" &&
          col("o_orderdate") < "1997-01-01")
        .select("o_orderkey", "o_custkey")
      val li = readParquet(s, s"$dir/lineitem.parquet")
        .select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
      li.join(orders, li("l_orderkey") === orders("o_orderkey"))
        .join(cust, orders("o_custkey") === cust("c_custkey"))
        .join(broadcast(supp),
          li("l_suppkey") === supp("s_suppkey") &&
            cust("c_nationkey") === supp("s_nationkey"))
        .join(broadcast(asiaNations),
          supp("s_nationkey") === col("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(floor(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("double").as("revenue"))
    }),
    "a_tpch_q18" -> ((s, dir) => {
      // TPC-H Q18 shape (large-volume orders): aggregate-then-join — the
      // qualifying-order set is computed by a map-side-combined rollup of
      // lineitem FIRST, and only that tail joins back to orders/customer, so
      // the fact-fact join input shrinks from all orders to the heavy tail.
      // Quantities are integer-valued doubles => order-free sums.
      val big = readParquet(s, s"$dir/lineitem.parquet")
        .groupBy(col("l_orderkey"))
        .agg(sum(floor(col("l_quantity"))).cast("long").as("total_qty"))
        .filter(col("total_qty") > 150)
      val orders = readParquet(s, s"$dir/orders.parquet")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      val cust = readParquet(s, s"$dir/customer.parquet")
        .select("c_custkey", "c_name")
      orders.join(big, orders("o_orderkey") === big("l_orderkey"))
        .join(cust, orders("o_custkey") === cust("c_custkey"))
        .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_orderdate"),
          floor(col("o_totalprice")).cast("long").as("totalprice_floor"),
          col("total_qty"))
    }),
    "a_asof_join" -> ((s, dir) => {
      // as-of join (attribution): for each purchase, the user's latest click
      // at-or-before it. Merge-join formulation — one shuffle, no range
      // explosion; oracle = DuckDB's native ASOF LEFT JOIN.
      // ts truncated to micros on both sides: DuckDB reads the parquet
      // TIMESTAMP(NANOS) at microsecond precision, so the oracle can only
      // reproduce the match at that resolution
      val ev = events(s, dir).withColumn("tu", expr("ts div 1000"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("tu"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id"), col("tu"))
      TemporalOps.asofJoinTs(purchases, clicks, Seq("user_id"), "tu", "tu",
          "last_click_ts")
        .select(col("user_id"), col("event_id"), col("tu").as("purchase_ts"),
          coalesce(col("last_click_ts"), lit(-1L)).as("last_click_ts"))
    }),
    "a_range_join" -> ((s, dir) => {
      // interval join: events bucketed-equi-joined to 240 derived 1-hour
      // maintenance windows (one every 6h from 2024-01-01), then rolled up
      // per window. The bucketed formulation keeps the plan an equi-join —
      // no cartesian range scan at any scale.
      val hourNs = 3600L * 1000000000L
      val startNs = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z
      val windows = s.range(0, 240).select(col("id").as("window_id"),
        (lit(startNs) + col("id") * lit(6 * hourNs)).as("lo"),
        (lit(startNs) + col("id") * lit(6 * hourNs) + lit(hourNs)).as("hi"))
      val ev = events(s, dir).select("event_id", "user_id", "value", "ts")
      TemporalOps.rangeJoin(ev, windows, "ts", "lo", "hi", hourNs)
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(floor(col("value"))).cast("double").as("value_floor_sum"))
    }),
    "a_window_topn" -> ((s, dir) => {
      // window function: top-2 orders by price per customer (deterministic:
      // ties broken by orderkey)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("o_custkey")).orderBy(col("o_totalprice").desc, col("o_orderkey"))
      readParquet(s, s"$dir/orders.parquet")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("rk").cast("long").as("rk"))
    }),
    "a_winsorize" -> ((s, dir) => {
      // per-type outlier capping profile: exact p05/p95 of floor(value)
      // (sort-based agg — at 100 TB swap percentile_approx, same shape)
      // plus the winsorized sum under integerized clamp bounds (sum of
      // integer-valued doubles => order-free, hashable).
      graft.ops.EventAnalytics.winsorizeProfile(
        events(s, dir), "event_type", "value", 0.05, 0.95)
    }),
    "a_rollup" -> ((s, dir) => {
      // multi-level OLAP aggregate: ROLLUP (flag, status) — detail rows,
      // per-flag subtotals, grand total, disambiguated by grouping_id.
      // Spark expands rollup into a single Expand + one hash aggregate
      // (map-side combined): one shuffle for all three levels.
      readParquet(s, s"$dir/lineitem.parquet")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity")).cast("double").as("sum_qty"),
          grouping_id().cast("long").as("gid"))
    }),
    "a_cube" -> ((s, dir) => {
      // full CUBE over (status, priority): all four grouping sets in one
      // Expand + one shuffle; price floor()ed so the double sum is
      // integer-exact.
      readParquet(s, s"$dir/orders.parquet")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice"))).cast("double").as("price_floor_sum"),
          grouping_id().cast("long").as("gid"))
    }),
    "a_pivot" -> ((s, dir) => {
      // pivot: per-day event counts, one column per event type. The value
      // list is EXPLICIT (the unlisted-pivot variant runs a distinct scan
      // job first and its column order is data-dependent — never in a
      // fixed-schema gate); absent cells coalesce to 0.
      val types = Seq("click", "error", "purchase", "signup", "view")
      val p = events(s, dir).withColumn("day", tsDay)
        .groupBy("day").pivot("event_type", types)
        .agg(count(lit(1)))
      p.select(col("day") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
    }),
    "a_session_paths" -> ((s, dir) => {
      // behavioral sequence extraction: per (user, 30-min session) the
      // ordered event-type path, order pinned by (ts, event_id) so the
      // string replays exactly. One shuffle on user serves both the lag
      // window and the session rollup.
      graft.ops.EventAnalytics.sessionSequences(
        events(s, dir).withColumn("tu", expr("ts div 1000")),
        "user_id", "tu", "event_type", "event_id",
        gapMicros = 1800L * 1000000L)
    }),
    "a_transition_matrix" -> ((s, dir) => {
      // empirical Markov transitions of the clickstream: counts + row
      // fractions over consecutive (prev -> cur) event types per user.
      // Lag window on the user key, then a bounded |types|^2 aggregate.
      graft.ops.EventAnalytics.transitionCounts(
        events(s, dir).withColumn("tu", expr("ts div 1000")),
        "user_id", "tu", "event_type", "event_id")
    }),
    "a_full_outer" -> ((s, dir) => {
      // FULL OUTER join: every customer with their order rollup, keeping
      // customers who never ordered AND (defensively) orders with no
      // customer row — the reconciliation shape. Null-safe rollup per
      // nation over the joined frame.
      val cust = readParquet(s, s"$dir/customer.parquet")
        .select(col("c_custkey"), col("c_nationkey"))
      val ords = readParquet(s, s"$dir/orders.parquet")
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"),
          sum(floor(col("o_totalprice"))).cast("double").as("spend_floor"))
      cust.join(ords, cust("c_custkey") === ords("o_custkey"), "full_outer")
        .groupBy(coalesce(col("c_nationkey"), lit(-1L)).as("nation"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("o_custkey").isNull, 1L).otherwise(0L)).as("n_never_ordered"),
          sum(when(col("c_custkey").isNull, 1L).otherwise(0L)).as("n_orphan_orders"),
          sum(coalesce(col("n_orders"), lit(0L))).as("n_orders"),
          sum(coalesce(col("spend_floor"), lit(0.0))).cast("double").as("spend_floor"))
    }),
    "a_tpch_q6" -> ((s, dir) => {
      // TPC-H Q6 forecast-revenue: pure filter + scalar aggregate — the
      // pushdown showcase (every predicate reaches the parquet scan,
      // revenue in exact cents so the one-row double is order-free).
      readParquet(s, s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp") &&
          col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
          col("l_quantity") < 24)
        .agg(sum(round(col("l_extendedprice") * 100).cast("long") *
            round(col("l_discount") * 100).cast("long")).as("revenue_e4"),
          count(lit(1)).as("n_rows"))
    }),
    "a_tpch_q12" -> ((s, dir) => {
      // TPC-H Q12 shipmode/priority: broadcast-joined fact scan with
      // conditional aggregation per group (the CASE-inside-SUM shape).
      val li = readParquet(s, s"$dir/lineitem.parquet")
        .filter(col("l_shipdate") >= lit("1995-01-01").cast("timestamp") &&
          col("l_shipdate") < lit("1996-01-01").cast("timestamp"))
        .select(col("l_orderkey"), col("l_linestatus"))
      val ords = readParquet(s, s"$dir/orders.parquet")
        .select(col("o_orderkey"), col("o_orderpriority"))
      li.join(ords, col("l_orderkey") === col("o_orderkey"))
        .groupBy("l_linestatus")
        .agg(sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("high_line_count"),
          sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L)
            .otherwise(0L)).as("low_line_count"))
    }),
    "a_json_extract" -> ((s, dir) => {
      // semi-structured extraction: parse the events.props JSON column
      // with an EXPLICIT schema (from_json — codegen'd, no inference
      // scan) and roll up the extracted value per type. The string-path
      // variant (get_json_object) is exercised alongside and must agree:
      // n_path_mismatch is an in-query invariant, provably 0.
      val parsed = events(s, dir)
        .withColumn("k", from_json(col("props"),
          org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k"))
        .withColumn("k_str", get_json_object(col("props"), "$.k").cast("long"))
      parsed.groupBy("event_type")
        .agg(count(lit(1)).as("n"),
          sum("k").as("k_sum"), min("k").as("k_min"), max("k").as("k_max"),
          // null-safe inequality: a one-sided null IS a disagreement (the
          // class this probe exists to catch); =!= would null it out of
          // the sum
          sum((!(col("k") <=> col("k_str"))).cast("long")).as("n_path_mismatch"))
    }),
    "a_set_ops" -> ((s, dir) => {
      // set operators the reference lacks (SURVEY 2.E): distinct-user
      // INTERSECT and EXCEPT across behavior segments, emitted as tagged
      // counts. Spark plans both as aggregates over a union with count
      // disambiguation — one shuffle each, never a driver-side set.
      val ev = events(s, dir)
      val clickers = ev.filter(col("event_type") === "click")
        .select(col("user_id"))
      val purchasers = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"))
      val both = clickers.intersect(purchasers)
        .agg(count(lit(1)).as("n_users"))
        .select(lit("click_and_purchase").as("segment"), col("n_users"))
      val only = clickers.except(purchasers)
        .agg(count(lit(1)).as("n_users"))
        .select(lit("click_no_purchase").as("segment"), col("n_users"))
      both.unionByName(only)
    }),
    "a_grouping_sets" -> ((s, dir) => {
      // explicit GROUPING SETS through the spark.sql entry point (the one
      // grouping-set shape rollup/cube can't express: two disjoint
      // single-column sets, no detail level). Same Expand + single
      // hash-aggregate plan as a_rollup.
      readParquet(s, s"$dir/orders.parquet")
        .createOrReplaceTempView("g_orders")
      s.sql("""
        SELECT o_orderstatus, o_orderpriority, count(1) AS n_orders,
               CAST(sum(floor(o_totalprice)) AS DOUBLE) AS price_floor_sum,
               CAST(grouping_id() AS BIGINT) AS gid
        FROM g_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""")
    }),
    "a_ntile" -> ((s, dir) => {
      // quartile bucketing per group: ntile(4) under a DETERMINISTIC total
      // order (floor(value), event_id — a value-only order would tie and
      // make bucket membership engine-dependent), rolled up per (type,
      // quartile) with integer-exact bounds and mass.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("event_type").orderBy(col("v"), col("event_id"))
      events(s, dir)
        .select(col("event_type"), col("event_id"),
          floor(col("value")).cast("long").as("v"))
        .withColumn("q", ntile(4).over(w).cast("long"))
        .groupBy("event_type", "q")
        .agg(count(lit(1)).as("n"),
          min("v").as("v_min"), max("v").as("v_max"),
          sum("v").cast("double").as("v_sum"))
    })
  )

  def oracleSql: Map[String, String] = {
    import OracleFragments._
    Map(
      "a_map" ->
        "SELECT l_orderkey, l_linenumber, l_extendedprice * (1 - l_discount) AS revenue FROM lineitem",
      "a_flat_map" ->
        "SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS token FROM documents",
      "a_filter" ->
        "SELECT l_orderkey, l_linenumber, l_quantity FROM lineitem WHERE l_quantity > 25 AND l_returnflag = 'R'",
      "a_group_by_key" ->
        "SELECT o_custkey, array_to_string(list_sort(list(o_orderkey)), ',') AS orderkeys FROM orders GROUP BY o_custkey",
      "a_filter_by_key" ->
        """SELECT l_orderkey, l_linenumber FROM lineitem
           WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')""",
      "a_filter_by_key_sharded" ->
        """SELECT l_orderkey, l_linenumber FROM lineitem
           WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_orderpriority = '1-URGENT')""",
      // the Bloom pre-filter only drops shuffle bytes; the result is the
      // plain equi-join
      "a_bloom_join" ->
        """SELECT c_custkey, CAST(count(*) AS BIGINT) AS n_orders,
                  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS total_cents
           FROM orders JOIN customer ON o_custkey = c_custkey
           WHERE c_mktsegment = 'BUILDING'
           GROUP BY c_custkey""",
      "a_count_per_element" ->
        "SELECT l_returnflag, l_linestatus, count(*) AS n FROM lineitem GROUP BY 1, 2",
      "a_sum_per_key" ->
        "SELECT l_partkey, sum(l_quantity) AS sum_qty FROM lineitem GROUP BY l_partkey",
      "a_min_max_per_key" ->
        "SELECT o_custkey, min(o_totalprice) AS min_price, max(o_totalprice) AS max_price FROM orders GROUP BY o_custkey",
      "a_flatten" ->
        """SELECT event_id FROM events WHERE event_type = 'click'
           UNION ALL SELECT event_id FROM events WHERE event_type = 'purchase'""",
      "a_distinct" ->
        "SELECT DISTINCT l_returnflag, l_linestatus FROM lineitem",
      "a_sample_per_key" ->
        "SELECT o_custkey, least(count(*), 3) AS n_sampled FROM orders GROUP BY o_custkey",
      "a_tpch_q1" ->
        """SELECT l_returnflag, l_linestatus,
                  CAST(sum(floor(l_quantity)) AS DOUBLE) AS sum_qty,
                  CAST(sum(floor(l_extendedprice)) AS DOUBLE) AS sum_base_price,
                  CAST(sum(floor(l_extendedprice * (1.0 - l_discount))) AS DOUBLE)
                    AS sum_disc_price,
                  CAST(sum(floor(l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)))
                    AS DOUBLE) AS sum_charge,
                  CAST(sum(floor(l_quantity)) AS DOUBLE) / count(*) AS avg_qty,
                  CAST(sum(floor(l_discount * 100.0)) AS DOUBLE) / count(*) AS avg_disc_pct,
                  CAST(count(*) AS BIGINT) AS count_order
           FROM lineitem
           WHERE l_shipdate <= TIMESTAMP '2001-06-01'
           GROUP BY 1, 2""",
      "a_tpch_q3" ->
        """SELECT l.l_orderkey,
                  strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
                  CAST(sum(floor(l.l_extendedprice * (1.0 - l.l_discount))) AS DOUBLE) AS revenue
           FROM lineitem l
           JOIN orders o ON l.l_orderkey = o.o_orderkey
           JOIN customer c ON o.o_custkey = c.c_custkey
           WHERE c.c_mktsegment = 'BUILDING'
             AND o.o_orderdate < TIMESTAMP '1998-06-01'
             AND l.l_shipdate > TIMESTAMP '1998-06-01'
           GROUP BY 1, 2
           ORDER BY revenue DESC, l_orderkey
           LIMIT 10""",
      "a_tpch_q5" ->
        """SELECT n_name,
                  CAST(sum(floor(l_extendedprice * (1.0 - l_discount))) AS DOUBLE) AS revenue
           FROM lineitem, orders, customer, supplier, nation, region
           WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
             AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
             AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
             AND r_name = 'ASIA'
             AND o_orderdate >= TIMESTAMP '1996-01-01'
             AND o_orderdate < TIMESTAMP '1997-01-01'
           GROUP BY n_name""",
      "a_tpch_q18" ->
        """SELECT c_name, c_custkey, o_orderkey,
                  strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
                  CAST(floor(o_totalprice) AS BIGINT) AS totalprice_floor,
                  total_qty
           FROM orders
           JOIN (SELECT l_orderkey, CAST(sum(floor(l_quantity)) AS BIGINT) AS total_qty
                 FROM lineitem GROUP BY l_orderkey
                 HAVING CAST(sum(floor(l_quantity)) AS BIGINT) > 150) big
             ON o_orderkey = big.l_orderkey
           JOIN customer ON o_custkey = c_custkey""",
      "a_join_agg" ->
        """SELECT c_mktsegment, o_orderpriority, count(*) AS n_orders,
              CAST(sum(floor(o_totalprice)) AS DOUBLE) AS revenue_floor
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY 1, 2""",
      // ASOF on epoch_us BIGINTs (micros both sides; DuckDB reads the
      // nanos parquet timestamp at microsecond precision)
      "a_asof_join" ->
        """SELECT p.user_id, p.event_id, p.t AS purchase_ts,
                  coalesce(c.t, -1) AS last_click_ts
           FROM (SELECT user_id, event_id, epoch_us(ts) AS t FROM events
                 WHERE event_type = 'purchase') p
           ASOF LEFT JOIN (SELECT user_id, epoch_us(ts) AS t FROM events
                           WHERE event_type = 'click') c
             ON p.user_id = c.user_id AND p.t >= c.t""",
      "a_window_topn" ->
        """SELECT o_custkey, o_orderkey,
              CAST(row_number() OVER (PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rk
           FROM orders QUALIFY rk <= 2""",
      "a_range_join" ->
        """WITH w AS (SELECT k AS window_id,
                1704067200000000000 + k*21600000000000 AS lo,
                1704067200000000000 + k*21600000000000 + 3600000000000 AS hi
              FROM range(0, 240) t(k)),
            e AS (SELECT event_id, user_id, value, epoch_ns(ts) AS tn FROM events)
           SELECT w.window_id, count(*) AS n_events,
                  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
                  CAST(sum(floor(value)) AS DOUBLE) AS value_floor_sum
           FROM e JOIN w ON e.tn >= w.lo AND e.tn < w.hi
           GROUP BY 1""",
      "a_winsorize" ->
        """WITH q AS (
              SELECT event_type AS k,
                     quantile_cont(CAST(floor(value) AS DOUBLE), 0.05) AS lo,
                     quantile_cont(CAST(floor(value) AS DOUBLE), 0.95) AS hi
              FROM events GROUP BY 1)
           SELECT e.event_type, q.lo AS p_lo, q.hi AS p_hi,
                  count(*) AS n_rows,
                  CAST(sum(least(greatest(floor(value), floor(q.lo)), ceil(q.hi)))
                       AS DOUBLE) AS clamped_sum
           FROM events e JOIN q ON e.event_type = q.k
           GROUP BY 1, q.lo, q.hi""",
      "a_rollup" ->
        """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
                  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
                  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
           FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",
      "a_cube" ->
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                  CAST(sum(floor(o_totalprice)) AS DOUBLE) AS price_floor_sum,
                  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
           FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""",
      "a_pivot" ->
        """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
                  count(*) FILTER (event_type = 'click') AS click,
                  count(*) FILTER (event_type = 'error') AS error,
                  count(*) FILTER (event_type = 'purchase') AS purchase,
                  count(*) FILTER (event_type = 'signup') AS signup,
                  count(*) FILTER (event_type = 'view') AS view
           FROM events GROUP BY 1""",
      "a_session_paths" ->
        """WITH e AS (
             SELECT user_id, epoch_ns(ts) // 1000 AS tu, event_type, event_id
             FROM events),
           m AS (
             SELECT *, CASE WHEN tu - lag(tu) OVER
                    (PARTITION BY user_id ORDER BY tu, event_id)
                    >= 1800000000 THEN 1 ELSE 0 END AS brk
             FROM e),
           s AS (
             SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY tu, event_id
                                      ROWS UNBOUNDED PRECEDING) AS sid
             FROM m)
           SELECT user_id, MIN(tu) AS session_start, count(*) AS n_events,
                  string_agg(event_type, '>' ORDER BY tu, event_id) AS seq
           FROM s GROUP BY user_id, sid""",
      "a_transition_matrix" ->
        """WITH e AS (
             SELECT user_id, epoch_ns(ts) // 1000 AS tu,
                    event_type AS cur, event_id
             FROM events),
           l AS (
             SELECT cur, lag(cur) OVER
                    (PARTITION BY user_id ORDER BY tu, event_id) AS prev
             FROM e),
           p AS (SELECT prev, cur, count(*) AS n FROM l
                 WHERE prev IS NOT NULL GROUP BY 1, 2),
           t AS (SELECT prev, sum(n) AS rt FROM p GROUP BY 1)
           SELECT p.prev, p.cur, p.n, CAST(p.n AS DOUBLE) / t.rt AS frac
           FROM p JOIN t USING (prev)""",
      "a_full_outer" ->
        """WITH o AS (
              SELECT o_custkey, count(*) AS n_orders,
                     CAST(sum(floor(o_totalprice)) AS DOUBLE) AS spend_floor
              FROM orders GROUP BY 1)
           SELECT CAST(coalesce(c_nationkey, -1) AS BIGINT) AS nation,
                  count(*) AS n_rows,
                  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_never_ordered,
                  CAST(sum(CASE WHEN c_custkey IS NULL THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_orphan_orders,
                  CAST(sum(coalesce(n_orders, 0)) AS BIGINT) AS n_orders,
                  CAST(sum(coalesce(spend_floor, 0)) AS DOUBLE) AS spend_floor
           FROM customer FULL OUTER JOIN o ON c_custkey = o_custkey
           GROUP BY 1""",
      "a_tpch_q6" ->
        """SELECT CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                           * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
                    AS revenue_e4,
                  count(*) AS n_rows
           FROM lineitem
           WHERE l_shipdate >= TIMESTAMP '1995-01-01'
             AND l_shipdate < TIMESTAMP '1996-01-01'
             AND l_discount >= 0.05 AND l_discount <= 0.07
             AND l_quantity < 24""",
      "a_tpch_q12" ->
        """SELECT l_linestatus,
                  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
                  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE l_shipdate >= TIMESTAMP '1995-01-01'
             AND l_shipdate < TIMESTAMP '1996-01-01'
           GROUP BY 1""",
      "a_json_extract" ->
        """SELECT event_type, count(*) AS n,
                  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                       AS BIGINT) AS k_sum,
                  min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_min,
                  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS k_max,
                  CAST(0 AS BIGINT) AS n_path_mismatch
           FROM events GROUP BY 1""",
      "a_set_ops" ->
        """SELECT 'click_and_purchase' AS segment, count(*) AS n_users FROM (
              SELECT user_id FROM events WHERE event_type = 'click'
              INTERSECT
              SELECT user_id FROM events WHERE event_type = 'purchase')
           UNION ALL
           SELECT 'click_no_purchase', count(*) FROM (
              SELECT user_id FROM events WHERE event_type = 'click'
              EXCEPT
              SELECT user_id FROM events WHERE event_type = 'purchase')""",
      "a_grouping_sets" ->
        """SELECT o_orderstatus, o_orderpriority, count(*) AS n_orders,
                  CAST(sum(floor(o_totalprice)) AS DOUBLE) AS price_floor_sum,
                  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
           FROM orders
           GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority))""",
      "a_ntile" ->
        """WITH v AS (
              SELECT event_type, event_id, CAST(floor(value) AS BIGINT) AS v,
                     ntile(4) OVER (PARTITION BY event_type
                                    ORDER BY floor(value), event_id) AS q
              FROM events)
           SELECT event_type, CAST(q AS BIGINT) AS q, count(*) AS n,
                  min(v) AS v_min, max(v) AS v_max,
                  CAST(sum(v) AS DOUBLE) AS v_sum
           FROM v GROUP BY 1, 2"""
    )
  }
}
