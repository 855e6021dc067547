package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.functions.MultisetAgg
import QueryDefs._

/** Batch relational surface: the reference's Table/SQL operator inventory
  * (SURVEY.md §2.2–2.8) re-expressed as declarative Spark plans. Everything
  * here is "free" Spark — Catalyst owns pushdown, join strategy selection,
  * partial aggregation and codegen; our job is to declare plans that stay
  * inside those fast paths (broadcast the dims, aggregate before joining
  * where semantics allow, never collect to the driver).
  *
  * Reference anchors: Flink 1.19 batch SQL runtime — hash/sort-merge joins
  * ([U] flink-table-runtime operators/join/HashJoinOperator.java), hash/sort
  * aggregates (BytesHashMap), OVER windows (operators/over/), rank
  * (operators/rank/), set-op planner rules (SURVEY.md §2.7).
  */
object Relational {

  /** TPC-H Q1 shape: scan-side filter + 6-group hash aggregate.
    * At 100 TB this is a pure map-side-partial + tiny shuffle plan; the
    * shipdate filter and 7-column projection push into the parquet scan.
    */
  val q01_pricing_summary: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_shipdate" <= ntz("2000-01-01 00:00:00"))
      .groupBy($"l_returnflag", $"l_linestatus")
      .agg(
        money(sum($"l_quantity")).as("sum_qty"),
        money(sum($"l_extendedprice")).as("sum_base_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4).as("sum_disc_price"),
        round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount") * (lit(1.0) + $"l_tax")), 6).as("sum_charge"),
        rate(avg($"l_quantity")).as("avg_qty"),
        rate(avg($"l_extendedprice")).as("avg_price"),
        rate(avg($"l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy($"l_returnflag", $"l_linestatus")
  }

  /** Row-level projection + predicate; both push into the scan. */
  val q02_filter_project: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .filter($"l_quantity" >= 10 && $"l_quantity" <= 20 && $"l_returnflag" === "R")
      .select(
        $"l_orderkey", $"l_linenumber",
        round($"l_extendedprice" * (lit(1.0) - $"l_discount"), 4).as("net_price"),
        concat($"l_returnflag", lit("/"), $"l_linestatus").as("flag_status"))
  }

  /** TPC-H Q3 shape: 3-way join narrowed by selective filters before the
    * joins (Catalyst pushes them below), then hash agg on the join output.
    */
  val q03_shipping_priority: Q = (s, d) => {
    import s.implicits._
    Tables.customer(s, d).filter($"c_mktsegment" === "BUILDING")
      .join(Tables.orders(s, d).filter($"o_orderdate" < ntz("1998-01-01 00:00:00")),
        $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(s, d).filter($"l_shipdate" > ntz("1998-01-01 00:00:00")),
        $"o_orderkey" === $"l_orderkey")
      .groupBy($"l_orderkey", $"o_orderdate")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4).as("revenue"))
      .select($"l_orderkey", $"revenue", $"o_orderdate")
  }

  /** TPC-H Q5 shape: star join. region/nation are broadcast explicitly —
    * at 100 TB the fact-side shuffle is on the orders/lineitem keys only.
    */
  val q04_star_join_revenue: Q = (s, d) => {
    import s.implicits._
    Tables.customer(s, d)
      .join(Tables.orders(s, d)
        .filter($"o_orderdate" >= ntz("1998-01-01 00:00:00") && $"o_orderdate" < ntz("2000-01-01 00:00:00")),
        $"c_custkey" === $"o_custkey")
      .join(Tables.lineitem(s, d), $"o_orderkey" === $"l_orderkey")
      .join(Tables.supplier(s, d), $"l_suppkey" === $"s_suppkey" && $"c_nationkey" === $"s_nationkey")
      .join(broadcast(Tables.nation(s, d)), $"s_nationkey" === $"n_nationkey")
      .join(broadcast(Tables.region(s, d).filter($"r_name".isin("ASIA", "EUROPE"))),
        $"n_regionkey" === $"r_regionkey")
      .groupBy($"n_name")
      .agg(round(sum($"l_extendedprice" * (lit(1.0) - $"l_discount")), 4).as("revenue"))
  }

  /** EXISTS → left-semi join (Flink ReplaceIntersectWithSemiJoinRule family;
    * Catalyst RewritePredicateSubquery does the same — we declare it directly).
    */
  val q05_semi_join: Q = (s, d) => {
    import s.implicits._
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter($"o_orderpriority" === "1-URGENT"),
        $"c_custkey" === $"o_custkey", "left_semi")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_cust"))
  }

  /** NOT EXISTS → left-anti join. */
  val q06_anti_join: Q = (s, d) => {
    import s.implicits._
    Tables.customer(s, d)
      .join(Tables.orders(s, d).filter($"o_orderpriority" === "1-URGENT"),
        $"c_custkey" === $"o_custkey", "left_anti")
      .groupBy($"c_mktsegment")
      .agg(count(lit(1)).as("n_cust"))
  }

  /** TPC-H Q13 shape: left outer join + two-level aggregation. */
  val q07_outer_join_counts: Q = (s, d) => {
    import s.implicits._
    Tables.customer(s, d)
      .join(Tables.orders(s, d), $"c_custkey" === $"o_custkey", "left")
      .groupBy($"c_custkey")
      .agg(count($"o_orderkey").as("order_cnt"))
      .groupBy($"order_cnt")
      .agg(count(lit(1)).as("n_cust"))
  }

  /** OVER-window gauntlet: ranking + navigation + running frames in one
    * pass (Flink operators/over/). Order is made total with a key tiebreak
    * so results are deterministic on both engines.
    */
  val q08_window_funcs: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"s_nationkey").orderBy($"s_acctbal".desc, $"s_suppkey")
    val wr = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.supplier(s, d).select(
      $"s_suppkey", $"s_nationkey", money($"s_acctbal").as("acctbal"),
      rank().over(w).as("rnk"),
      dense_rank().over(w).as("drnk"),
      row_number().over(w).as("rn"),
      ntile(4).over(w).as("quartile"),
      percent_rank().over(w).as("prk"),
      cume_dist().over(w).as("cd"),
      money(lag($"s_acctbal", 1).over(w)).as("prev_bal"),
      money(lead($"s_acctbal", 1).over(w)).as("next_bal"),
      money(sum($"s_acctbal").over(wr)).as("run_sum"),
      rate(avg($"s_acctbal").over(wr)).as("run_avg"))
  }

  /** Batch Top-N per group: row_number + filter (Flink rank operators;
    * Catalyst collapses this to a rank-limited window — no full sort).
    */
  val q09_topn_per_group: Q = (s, d) => {
    import s.implicits._
    val w = Window.partitionBy($"c_mktsegment").orderBy($"c_acctbal".desc, $"c_custkey")
    Tables.customer(s, d)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= 10)
      .select($"c_mktsegment", $"rn", $"c_custkey", money($"c_acctbal").as("acctbal"))
  }

  /** ROLLUP + GROUPING (Flink planner expand; Catalyst Expand). */
  val q10_rollup_agg: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .rollup($"o_orderstatus", $"o_orderpriority")
      .agg(
        count(lit(1)).as("n"),
        money(sum($"o_totalprice")).as("total_price"),
        grouping($"o_orderstatus").cast("int").as("g_status"),
        grouping($"o_orderpriority").cast("int").as("g_prio"))
  }

  /** INTERSECT / EXCEPT in one tagged result (SURVEY.md §2.7). */
  val q11_set_ops: Q = (s, d) => {
    import s.implicits._
    val c = Tables.customer(s, d).select($"c_nationkey".as("nationkey"))
    val su = Tables.supplier(s, d).select($"s_nationkey".as("nationkey"))
    c.intersect(su).withColumn("op", lit("intersect"))
      .unionByName(c.except(su).withColumn("op", lit("except")))
  }

  /** DISTINCT aggregates (Flink SplitAggregateRule ≙ Catalyst
    * RewriteDistinctAggregates expand — skew-safe at scale by construction).
    */
  val q12_distinct_agg: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .groupBy($"o_orderstatus")
      .agg(
        countDistinct($"o_custkey").as("uniq_cust"),
        countDistinct($"o_orderpriority").as("uniq_prio"),
        count(lit(1)).as("n"))
  }

  /** Scalar string-function surface (SURVEY.md §2.8 "String"). */
  val q13_string_funcs: Q = (s, d) => {
    import s.implicits._
    Tables.part(s, d).select(
      $"p_partkey",
      upper($"p_name").as("up_name"),
      lower($"p_brand").as("lo_brand"),
      length($"p_name").as("name_len"),
      substring($"p_type", 1, 6).as("type_pre"),
      regexp_replace($"p_name", " ", "_").as("uname"),
      element_at(split($"p_type", " "), 1).as("first_word"),
      lpad($"p_brand", 12, "*").as("pad_brand"),
      reverse($"p_name").as("rev_name"),
      instr($"p_name", "a").as("a_pos"),
      concat_ws("|", $"p_brand", $"p_type").as("bt"),
      md5($"p_name").as("name_md5"),
      translate($"p_brand", "#", "_").as("brand_tr"),
      repeat($"p_brand", 2).as("brand2x"))
  }

  /** Temporal scalar surface (SURVEY.md §2.8 "Temporal"). */
  val q14_datetime_funcs: Q = (s, d) => {
    import s.implicits._
    val od = $"o_orderdate"
    Tables.orders(s, d).select(
      $"o_orderkey",
      year(od).as("y"),
      month(od).as("m"),
      dayofmonth(od).as("dom"),
      quarter(od).as("q"),
      dayofweek(od).as("dow"),
      dayofyear(od).as("doy"),
      weekofyear(od).as("woy"),
      date_format(od, "yyyy-MM").as("ym"),
      to_date(date_trunc("month", od)).as("mon_start"),
      datediff(lit("2002-01-01").cast("date"), to_date(od)).as("days_to_2002"),
      date_add(to_date(od), 30).as("plus30"),
      add_months(to_date(od), 3).as("plus3m"),
      last_day(to_date(od)).as("eom"),
      unix_millis(od.cast("timestamp")).as("em"))
  }

  /** CASE / COALESCE / GREATEST / LEAST family over bucketed aggregation. */
  val q15_conditional_buckets: Q = (s, d) => {
    import s.implicits._
    val bucket = when($"c_acctbal" < 0, "neg")
      .when($"c_acctbal" < 3000, "low")
      .when($"c_acctbal" < 7000, "mid")
      .otherwise("high")
    Tables.customer(s, d)
      .select(bucket.as("bucket"), $"c_acctbal")
      .groupBy($"bucket")
      .agg(
        count(lit(1)).as("n"),
        money(sum($"c_acctbal")).as("total_bal"),
        rate(avg($"c_acctbal")).as("avg_bal"),
        money(sum(greatest($"c_acctbal", lit(0.0)))).as("pos_bal"),
        money(min(least($"c_acctbal", lit(100.0)))).as("capped_min"))
  }

  /** ORDER BY + LIMIT → TakeOrderedAndProject (no global sort at scale);
    * order made total by the key tiebreak.
    */
  val q16_sort_limit: Q = (s, d) => {
    import s.implicits._
    Tables.orders(s, d)
      .orderBy($"o_totalprice".desc, $"o_orderkey")
      .limit(100)
      .select($"o_orderkey", $"o_totalprice")
  }

  /** Statistical aggregates (STDDEV/VAR/CORR/COVAR — SURVEY.md §2.4). */
  val q17_stat_aggs: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .groupBy($"l_returnflag")
      .agg(
        rate(stddev_samp($"l_quantity")).as("sd_qty"),
        rate(var_samp($"l_quantity")).as("var_qty"),
        rate(stddev_pop($"l_quantity")).as("sdp_qty"),
        rate(var_pop($"l_quantity")).as("varp_qty"),
        round(corr($"l_quantity", $"l_extendedprice"), 6).as("corr_qp"),
        money(covar_samp($"l_quantity", $"l_extendedprice")).as("cov_qp"),
        money(min($"l_extendedprice")).as("min_price"),
        money(max($"l_extendedprice")).as("max_price"),
        count(lit(1)).as("n"))
  }

  /** COLLECT → multiset (Flink's COLLECT agg returns MULTISET<T>; here a
    * custom Aggregator producing map<value,count>, formatted canonically
    * so the oracle can compare it as a string — SURVEY.md §2.4).
    */
  val q18_collect_multiset: Q = (s, d) => {
    import s.implicits._
    val ms = MultisetAgg.column($"c_mktsegment").as("seg_ms")
    Tables.customer(s, d)
      .groupBy($"c_nationkey")
      .agg(
        array_join(array_sort(collect_set($"c_mktsegment")), ",").as("segs"),
        ms)
      .select(
        $"c_nationkey", $"segs",
        array_join(
          transform(array_sort(map_entries($"seg_ms")),
            e => concat(e.getField("key"), lit(":"), e.getField("value").cast("string"))),
          ",").as("seg_counts"))
  }

  /** CUBE + per-column GROUPING flags. */
  val q19_cube_grouping: Q = (s, d) => {
    import s.implicits._
    Tables.lineitem(s, d)
      .cube($"l_returnflag", $"l_linestatus")
      .agg(
        count(lit(1)).as("n"),
        money(sum($"l_quantity")).as("sum_qty"),
        grouping($"l_returnflag").cast("int").as("g_rf"),
        grouping($"l_linestatus").cast("int").as("g_ls"))
  }

  /** Pivot (Flink has no PIVOT; Table API does it via agg+filter — this is
    * the conditional-aggregation equivalent, with the Spark `pivot` API).
    */
  val q20_pivot_events: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d)
      .groupBy($"user_id")
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .count()
      .na.fill(0)
  }

  /** SQL:2016 JSON family over events.props (SURVEY.md §2.8 "JSON"). */
  val q21_json_funcs: Q = (s, d) => {
    import s.implicits._
    Tables.events(s, d).select(
      $"event_id",
      get_json_object($"props", "$.k").as("k_str"),
      get_json_object($"props", "$.k").cast("int").as("k_int"),
      size(json_object_keys($"props")).as("n_keys"))
  }

  val queries: Map[String, Q] = Map(
    "q01_pricing_summary" -> q01_pricing_summary,
    "q02_filter_project" -> q02_filter_project,
    "q03_shipping_priority" -> q03_shipping_priority,
    "q04_star_join_revenue" -> q04_star_join_revenue,
    "q05_semi_join" -> q05_semi_join,
    "q06_anti_join" -> q06_anti_join,
    "q07_outer_join_counts" -> q07_outer_join_counts,
    "q08_window_funcs" -> q08_window_funcs,
    "q09_topn_per_group" -> q09_topn_per_group,
    "q10_rollup_agg" -> q10_rollup_agg,
    "q11_set_ops" -> q11_set_ops,
    "q12_distinct_agg" -> q12_distinct_agg,
    "q13_string_funcs" -> q13_string_funcs,
    "q14_datetime_funcs" -> q14_datetime_funcs,
    "q15_conditional_buckets" -> q15_conditional_buckets,
    "q16_sort_limit" -> q16_sort_limit,
    "q17_stat_aggs" -> q17_stat_aggs,
    "q18_collect_multiset" -> q18_collect_multiset,
    "q19_cube_grouping" -> q19_cube_grouping,
    "q20_pivot_events" -> q20_pivot_events,
    "q21_json_funcs" -> q21_json_funcs,
  )

  val oracle: Map[String, String] = Map(
    "q01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        | round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice),2) AS sum_base_price,
        | round(sum(l_extendedprice*(1.0-l_discount)),4) AS sum_disc_price,
        | round(sum(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)),6) AS sum_charge,
        | round(avg(l_quantity),4) AS avg_qty,
        | round(avg(l_extendedprice),4) AS avg_price,
        | round(avg(l_discount),4) AS avg_disc,
        | count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '2000-01-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
        | round(l_extendedprice*(1.0-l_discount),4) AS net_price,
        | l_returnflag || '/' || l_linestatus AS flag_status
        |FROM lineitem
        |WHERE l_quantity >= 10 AND l_quantity <= 20 AND l_returnflag = 'R'""".stripMargin,
    "q03_shipping_priority" ->
      """SELECT l_orderkey,
        | round(sum(l_extendedprice*(1.0-l_discount)),4) AS revenue,
        | o_orderdate
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
        |  AND l_shipdate > TIMESTAMP '1998-01-01 00:00:00'
        |GROUP BY l_orderkey, o_orderdate""".stripMargin,
    "q04_star_join_revenue" ->
      """SELECT n_name,
        | round(sum(l_extendedprice*(1.0-l_discount)),4) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('ASIA','EUROPE')
        |  AND o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
        |  AND o_orderdate <  TIMESTAMP '2000-01-01 00:00:00'
        |GROUP BY n_name""".stripMargin,
    "q05_semi_join" ->
      """SELECT c_mktsegment, count(*) AS n_cust
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |              WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin,
    "q06_anti_join" ->
      """SELECT c_mktsegment, count(*) AS n_cust
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |                  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        |GROUP BY c_mktsegment""".stripMargin,
    "q07_outer_join_counts" ->
      """SELECT order_cnt, count(*) AS n_cust
        |FROM (SELECT c_custkey, count(o_orderkey) AS order_cnt
        |      FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |      GROUP BY c_custkey)
        |GROUP BY order_cnt""".stripMargin,
    "q08_window_funcs" ->
      """SELECT s_suppkey, s_nationkey, round(s_acctbal,2) AS acctbal,
        | CAST(rank() OVER w AS INTEGER) AS rnk,
        | CAST(dense_rank() OVER w AS INTEGER) AS drnk,
        | CAST(row_number() OVER w AS INTEGER) AS rn,
        | CAST(ntile(4) OVER w AS INTEGER) AS quartile,
        | percent_rank() OVER w AS prk,
        | cume_dist() OVER w AS cd,
        | round(lag(s_acctbal, 1) OVER w, 2) AS prev_bal,
        | round(lead(s_acctbal, 1) OVER w, 2) AS next_bal,
        | round(sum(s_acctbal) OVER wr, 2) AS run_sum,
        | round(avg(s_acctbal) OVER wr, 4) AS run_avg
        |FROM supplier
        |WINDOW
        | w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey),
        | wr AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""".stripMargin,
    "q09_topn_per_group" ->
      """SELECT c_mktsegment, CAST(rn AS INTEGER) AS rn, c_custkey, round(c_acctbal,2) AS acctbal
        |FROM (SELECT c_mktsegment, c_custkey, c_acctbal,
        |             row_number() OVER (PARTITION BY c_mktsegment
        |                                ORDER BY c_acctbal DESC, c_custkey) AS rn
        |      FROM customer)
        |WHERE rn <= 10""".stripMargin,
    "q10_rollup_agg" ->
      """SELECT o_orderstatus, o_orderpriority,
        | count(*) AS n,
        | round(sum(o_totalprice),2) AS total_price,
        | CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
        | CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_prio
        |FROM orders
        |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)""".stripMargin,
    "q11_set_ops" ->
      """SELECT nationkey, 'intersect' AS op
        |FROM (SELECT c_nationkey AS nationkey FROM customer
        |      INTERSECT
        |      SELECT s_nationkey FROM supplier)
        |UNION ALL
        |SELECT nationkey, 'except' AS op
        |FROM (SELECT c_nationkey AS nationkey FROM customer
        |      EXCEPT
        |      SELECT s_nationkey FROM supplier)""".stripMargin,
    "q12_distinct_agg" ->
      """SELECT o_orderstatus,
        | count(DISTINCT o_custkey) AS uniq_cust,
        | count(DISTINCT o_orderpriority) AS uniq_prio,
        | count(*) AS n
        |FROM orders GROUP BY o_orderstatus""".stripMargin,
    "q13_string_funcs" ->
      """SELECT p_partkey,
        | upper(p_name) AS up_name,
        | lower(p_brand) AS lo_brand,
        | CAST(length(p_name) AS INTEGER) AS name_len,
        | substring(p_type, 1, 6) AS type_pre,
        | replace(p_name, ' ', '_') AS uname,
        | split_part(p_type, ' ', 1) AS first_word,
        | lpad(p_brand, 12, '*') AS pad_brand,
        | reverse(p_name) AS rev_name,
        | CAST(instr(p_name, 'a') AS INTEGER) AS a_pos,
        | concat_ws('|', p_brand, p_type) AS bt,
        | md5(p_name) AS name_md5,
        | replace(p_brand, '#', '_') AS brand_tr,
        | repeat(p_brand, 2) AS brand2x
        |FROM part""".stripMargin,
    "q14_datetime_funcs" ->
      """SELECT o_orderkey,
        | CAST(year(o_orderdate) AS INTEGER) AS y,
        | CAST(month(o_orderdate) AS INTEGER) AS m,
        | CAST(day(o_orderdate) AS INTEGER) AS dom,
        | CAST(quarter(o_orderdate) AS INTEGER) AS q,
        | CAST(dayofweek(o_orderdate) + 1 AS INTEGER) AS dow,
        | CAST(dayofyear(o_orderdate) AS INTEGER) AS doy,
        | CAST(weekofyear(o_orderdate) AS INTEGER) AS woy,
        | strftime(o_orderdate, '%Y-%m') AS ym,
        | CAST(date_trunc('month', o_orderdate) AS DATE) AS mon_start,
        | CAST(date_diff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INTEGER) AS days_to_2002,
        | CAST(o_orderdate AS DATE) + 30 AS plus30,
        | CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus3m,
        | last_day(CAST(o_orderdate AS DATE)) AS eom,
        | epoch_ms(o_orderdate) AS em
        |FROM orders""".stripMargin,
    "q15_conditional_buckets" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'neg'
        |            WHEN c_acctbal < 3000 THEN 'low'
        |            WHEN c_acctbal < 7000 THEN 'mid'
        |            ELSE 'high' END AS bucket,
        | count(*) AS n,
        | round(sum(c_acctbal),2) AS total_bal,
        | round(avg(c_acctbal),4) AS avg_bal,
        | round(sum(greatest(c_acctbal, 0.0)),2) AS pos_bal,
        | round(min(least(c_acctbal, 100.0)),2) AS capped_min
        |FROM customer GROUP BY 1""".stripMargin,
    "q16_sort_limit" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,
    "q17_stat_aggs" ->
      """SELECT l_returnflag,
        | round(stddev_samp(l_quantity),4) AS sd_qty,
        | round(var_samp(l_quantity),4) AS var_qty,
        | round(stddev_pop(l_quantity),4) AS sdp_qty,
        | round(var_pop(l_quantity),4) AS varp_qty,
        | round(corr(l_quantity, l_extendedprice),6) AS corr_qp,
        | round(covar_samp(l_quantity, l_extendedprice),2) AS cov_qp,
        | round(min(l_extendedprice),2) AS min_price,
        | round(max(l_extendedprice),2) AS max_price,
        | count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,
    "q18_collect_multiset" ->
      """WITH per AS (
        |  SELECT c_nationkey, c_mktsegment, count(*) AS cnt
        |  FROM customer GROUP BY c_nationkey, c_mktsegment)
        |SELECT c_nationkey,
        | string_agg(c_mktsegment, ',' ORDER BY c_mktsegment) AS segs,
        | string_agg(c_mktsegment || ':' || CAST(cnt AS VARCHAR), ',' ORDER BY c_mktsegment) AS seg_counts
        |FROM per GROUP BY c_nationkey""".stripMargin,
    "q19_cube_grouping" ->
      """SELECT l_returnflag, l_linestatus,
        | count(*) AS n,
        | round(sum(l_quantity),2) AS sum_qty,
        | CAST(GROUPING(l_returnflag) AS INTEGER) AS g_rf,
        | CAST(GROUPING(l_linestatus) AS INTEGER) AS g_ls
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)""".stripMargin,
    "q20_pivot_events" ->
      """SELECT user_id,
        | count(CASE WHEN event_type='click' THEN 1 END) AS click,
        | count(CASE WHEN event_type='error' THEN 1 END) AS error,
        | count(CASE WHEN event_type='purchase' THEN 1 END) AS purchase,
        | count(CASE WHEN event_type='signup' THEN 1 END) AS signup,
        | count(CASE WHEN event_type='view' THEN 1 END) AS view
        |FROM events GROUP BY user_id""".stripMargin,
    "q21_json_funcs" ->
      """SELECT event_id,
        | json_extract_string(props, '$.k') AS k_str,
        | CAST(json_extract_string(props, '$.k') AS INTEGER) AS k_int,
        | CAST(len(json_keys(props)) AS INTEGER) AS n_keys
        |FROM events""".stripMargin,
  )
}
