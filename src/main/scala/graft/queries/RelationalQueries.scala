package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.{Coordinates, TimeFns}

/** Relational operator inventory (SURVEY.md §2.2-2.8) demonstrated over the
  * driver's TPC-H-ish tables, each with a DuckDB oracle. Every aggregate /
  * computed column is aliased identically in Spark and SQL (driver compares
  * by sorted column name). Floats are rounded; counts cast to long.
  */
object RelationalQueries {

  type Q = (SparkSession, String) => DataFrame

  val defs: Map[String, Q] = Map(
    // A-series: grouped aggregation with partial (map-side) combine for free.
    "q01_agg_pricing" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(sum("l_quantity"), 2).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_discount"), 6).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")
    }),

    // J1/J2: inner equi-join, dimension side broadcast by AQE.
    "q02_join_inner" -> ((s, dir) => {
      Tables(s, dir, "orders").join(
          broadcast(Tables(s, dir, "customer")),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(round(sum("o_totalprice"), 2).as("total_price"),
          count(lit(1)).as("n_orders"))
        .orderBy("c_mktsegment")
    }),

    // Multi-way join chain; small dims broadcast, fact-side shuffle only on
    // orderkey. TPC-H Q5 shape.
    "q03_join_chain" -> ((s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val o  = Tables(s, dir, "orders")
      val c  = Tables(s, dir, "customer")
      val n  = Tables(s, dir, "nation")
      val r  = Tables(s, dir, "region")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(c), col("o_custkey") === col("c_custkey"))
        .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name", "n_name")
        .agg(round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("revenue"))
        .orderBy("r_name", "n_name")
    }),

    // J3: left outer join preserving customers with zero orders.
    "q04_join_left" -> ((s, dir) => {
      Tables(s, dir, "customer")
        .join(Tables(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(count(col("o_orderkey")).as("n_orders"),
          round(coalesce(sum("o_totalprice"), lit(0.0)), 2).as("total_spent"))
        .orderBy("c_custkey")
    }),

    // J7: full outer join of two aggregates (every nation on either side).
    "q05_join_full" -> ((s, dir) => {
      val sup = Tables(s, dir, "supplier").groupBy("s_nationkey")
        .agg(count(lit(1)).as("n_suppliers"))
      val cus = Tables(s, dir, "customer").groupBy("c_nationkey")
        .agg(count(lit(1)).as("n_customers"))
      sup.join(cus, col("s_nationkey") === col("c_nationkey"), "full")
        .select(
          coalesce(col("s_nationkey"), col("c_nationkey")).cast("int").as("nationkey"),
          coalesce(col("n_suppliers"), lit(0L)).as("n_suppliers"),
          coalesce(col("n_customers"), lit(0L)).as("n_customers"))
        .orderBy("nationkey")
    }),

    // Left-semi join (EXISTS).
    "q06_join_semi" -> ((s, dir) => {
      Tables(s, dir, "customer")
        .join(Tables(s, dir, "orders").where(col("o_orderstatus") === "O"),
          col("c_custkey") === col("o_custkey"), "left_semi")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    }),

    // Left-anti join (NOT EXISTS): customers with no orders.
    "q07_join_anti" -> ((s, dir) => {
      Tables(s, dir, "customer")
        .join(Tables(s, dir, "orders"), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_acctbal")
        .orderBy("c_custkey")
    }),

    // P5/J10: interval-containment (range) predicate alongside the equi-key —
    // the reference's per-row interval-lookup UDF re-expressed as a join
    // predicate Catalyst can plan.
    "q08_range_join" -> ((s, dir) => {
      Tables(s, dir, "lineitem").as("l")
        .join(Tables(s, dir, "orders").as("o"),
          col("l.l_orderkey") === col("o.o_orderkey") &&
            col("l.l_shipdate") >= col("o.o_orderdate") &&
            col("l.l_shipdate") <= col("o.o_orderdate") + expr("INTERVAL 30 DAYS"))
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lineitems"))
        .orderBy("o_orderpriority")
    }),

    // W1: lead() over per-supplier ship order — gap sums kept as exact longs.
    "q09_window_lead" -> ((s, dir) => {
      val w = Window.partitionBy("l_suppkey")
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"))
      Tables(s, dir, "lineitem")
        .withColumn("next_ship", lead(col("l_shipdate"), 1).over(w))
        .withColumn("gap_s",
          unix_timestamp(col("next_ship")) - unix_timestamp(col("l_shipdate")))
        .groupBy("l_suppkey")
        .agg(sum("gap_s").as("sum_gap_s"), count(col("gap_s")).as("n_gaps"))
        .orderBy("l_suppkey")
    }),

    // W2: surrogate-id minting — Ids.denseId (one range-partitioned sort
    // numbered by zipWithIndex), not a single-partition global window.
    // Same values as row_number, oracle-checked.
    "q11_surrogate_ids" -> ((s, dir) => {
      graft.operators.Ids.denseId(
          Tables(s, dir, "part").select("p_brand").distinct(),
          "brand_id", Seq(col("p_brand")))
        .select("brand_id", "p_brand")
        .orderBy("brand_id")
    }),

    // N1/F3: explode split words and count.
    "q12_explode_words" -> ((s, dir) => {
      Tables(s, dir, "part")
        .select(explode(split(col("p_name"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy("word")
    }),

    // P6: conditional classification (when/otherwise).
    "q15_case_when" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .withColumn("prio_class",
          when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), "high")
            .otherwise("normal"))
        .groupBy("o_orderstatus", "prio_class")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy("o_orderstatus", "prio_class")
    }),

    // F8/F11: datetime arithmetic + parts.
    "q16_datetime" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .withColumn("due", col("o_orderdate") + expr("INTERVAL 90 DAYS"))
        .groupBy(year(col("due")).cast("long").as("due_year"),
          month(col("due")).cast("long").as("due_month"))
        .agg(count(lit(1)).as("n"))
        .orderBy("due_year", "due_month")
    }),

    // F12: MJD -> timestamp as pure arithmetic (astropy UDF eliminated).
    "q17_mjd" -> ((s, dir) => {
      Tables(s, dir, "lineitem")
        .select((lit(60000.0) + (col("l_orderkey") % 500).cast("double") * 0.5).as("mjd"))
        .distinct()
        .select(col("mjd"),
          unix_micros(TimeFns.mjdToTimestamp(col("mjd"))).as("epoch_us"))
        .orderBy("mjd")
    }),

    // F13: HMS/DMS strings built from integers, parsed back natively; the
    // oracle computes degrees directly from the integers, so a parse bug
    // cannot cancel out.
    "q18_hms_dms" -> ((s, dir) => {
      val k = col("s_suppkey")
      val withParts = Tables(s, dir, "supplier").select(
        k.as("s_suppkey"),
        (k % 24).as("h"), ((k * 7) % 60).as("m"), ((k * 13) % 60).as("sec"),
        ((k * 3) % 90).as("d"), when(k % 2 === 0, "-").otherwise("").as("sgn"))
      withParts
        .withColumn("ra_hms", format_string("%d:%02d:%02d.5", col("h"), col("m"), col("sec")))
        .withColumn("dec_dms", format_string("%s%d:%02d:%02d.5", col("sgn"), col("d"), col("m"), col("sec")))
        .select(col("s_suppkey"),
          Coordinates.hmsToDeg(col("ra_hms")).as("ra_deg"),
          Coordinates.dmsToDeg(col("dec_dms")).as("dec_deg"))
        .orderBy("s_suppkey")
    }),

    // F4: separator concat + parenthesis wrap (pure string, both engines).
    "q19_concat" -> ((s, dir) => {
      Tables(s, dir, "customer")
        .select(col("c_custkey"),
          concat(lit("("), concat_ws(",", col("c_name"), col("c_mktsegment")), lit(")"))
            .as("tag"))
        .orderBy("c_custkey")
    }),

    // A5: horizontal least/greatest.
    "q20_least_greatest" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          round(sum(least(col("o_totalprice"), lit(100000.0))), 2).as("sum_capped"),
          round(max(greatest(col("o_totalprice"), lit(200000.0))), 2).as("max_floored"))
        .orderBy("o_orderstatus")
    }),

    // A7: exact distinct count per group.
    "q21_distinct_count" -> ((s, dir) => {
      Tables(s, dir, "customer")
        .groupBy("c_nationkey")
        .agg(countDistinct("c_mktsegment").as("n_segments"),
          count(lit(1)).as("n_customers"))
        .orderBy("c_nationkey")
    }),

    // O-series: deterministic top-k (rounded sort key + unique tiebreak).
    "q22_topk" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy("o_custkey")
        .agg(round(sum("o_totalprice"), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("o_custkey").asc)
        .limit(10)
    }),

    // Set ops: union + intersect-free distinct.
    "q23_union" -> ((s, dir) => {
      Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey"))
        .union(Tables(s, dir, "customer").select(col("c_nationkey").as("nationkey")))
        .distinct()
        .orderBy("nationkey")
    }),

    // Set ops: except (nations with customers but no suppliers).
    "q24_except" -> ((s, dir) => {
      Tables(s, dir, "customer").select(col("c_nationkey").as("nationkey"))
        .except(Tables(s, dir, "supplier").select(col("s_nationkey").as("nationkey")))
        .orderBy("nationkey")
    }),

    // F1: regexp_extract_all + aggregate over the extracted list.
    "q39_regex_extract_all" -> ((s, dir) => {
      Tables(s, dir, "part")
        .groupBy("p_brand")
        .agg(sum(size(regexp_extract_all(col("p_name"), lit("([a-z]{5,})"), lit(1))))
          .cast("long").as("n_long_words"))
        .orderBy("p_brand")
    }),

    // F16: key-map remap as a broadcast join with pass-through for unmapped
    // keys (the reference's dict.get(x, x)).
    "q46_keymap_remap" -> ((s, dir) => {
      graft.operators.KeyMap.remap(
          Tables(s, dir, "customer"), "c_nationkey",
          Tables(s, dir, "nation"), "n_nationkey", "n_regionkey")
        .select(col("c_custkey"), col("c_nationkey"))
        .orderBy("c_custkey")
    }),

    // Edit-distance text similarity (builtin levenshtein, matched by the
    // DuckDB implementation of the same metric).
    "q54_levenshtein" -> ((s, dir) => {
      Tables(s, dir, "part")
        .select(col("p_partkey"),
          levenshtein(element_at(split(col("p_type"), " "), 1),
            element_at(split(col("p_type"), " "), -1)).cast("long").as("edit_dist"))
        .orderBy("p_partkey")
    }),

    // Correlated-subquery semantics: parts priced above their brand's
    // average (window formulation in Spark, correlated SQL in the oracle).
    "q55_above_brand_avg" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("p_brand")
      Tables(s, dir, "part")
        .withColumn("brand_avg", avg("p_retailprice").over(w))
        .where(col("p_retailprice") > col("brand_avg"))
        .select(col("p_partkey"), col("p_brand"))
        .orderBy("p_partkey")
    }),

    // Skew-safe two-phase (salted) aggregation — must produce EXACTLY the
    // plain groupBy result (the oracle is the unsalted SQL).
    "q53_salted_agg" -> ((s, dir) => {
      graft.operators.Skew.saltedCountSum(
          Tables(s, dir, "lineitem"),
          keys = Seq("l_returnflag"), sumCol = "l_quantity",
          saltCol = "l_orderkey", saltBuckets = 16)
        .select(col("l_returnflag"), col("n"),
          round(col("sum_val"), 2).as("sum_qty"))
        .orderBy("l_returnflag")
    }),

    // Rollup (grouping-set) aggregation — beyond the reference's surface,
    // part of a complete engine.
    "q47_rollup" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .rollup("o_orderstatus", "o_orderpriority")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
        .orderBy(asc_nulls_first("o_orderstatus"), asc_nulls_first("o_orderpriority"))
    }),

    // Exact interpolated percentiles (matches DuckDB quantile_cont).
    "q48_percentile" -> ((s, dir) => {
      Tables(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.95)"), 4).as("p95"))
        .orderBy("o_orderstatus")
    }),

    // F3: split + element_at projection.
    "q25_split_fields" -> ((s, dir) => {
      Tables(s, dir, "part")
        .select(element_at(split(col("p_type"), " "), 1).as("t1"),
          element_at(split(col("p_type"), " "), -1).as("t_last"))
        .groupBy("t1", "t_last").agg(count(lit(1)).as("n"))
        .orderBy("t1", "t_last")
    })
  )

  val oracles: Map[String, String] = Map(
    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity),2) AS sum_qty,
        | round(sum(l_extendedprice*(1.0-l_discount)),2) AS sum_disc_price,
        | round(avg(l_discount),6) AS avg_disc, count(*) AS count_order
        | FROM lineitem GROUP BY l_returnflag, l_linestatus
        | ORDER BY l_returnflag, l_linestatus""".stripMargin.replaceAll("\n", " "),
    "q02_join_inner" ->
      """SELECT c_mktsegment, round(sum(o_totalprice),2) AS total_price, count(*) AS n_orders
        | FROM orders JOIN customer ON o_custkey = c_custkey
        | GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin.replaceAll("\n", " "),
    "q03_join_chain" ->
      """SELECT r_name, n_name, round(sum(l_extendedprice*(1.0-l_discount)),2) AS revenue
        | FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        | JOIN customer ON o_custkey=c_custkey
        | JOIN nation ON c_nationkey=n_nationkey
        | JOIN region ON n_regionkey=r_regionkey
        | GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin.replaceAll("\n", " "),
    "q04_join_left" ->
      """SELECT c_custkey, count(o_orderkey) AS n_orders,
        | round(coalesce(sum(o_totalprice),0.0),2) AS total_spent
        | FROM customer LEFT JOIN orders ON c_custkey=o_custkey
        | GROUP BY c_custkey ORDER BY c_custkey""".stripMargin.replaceAll("\n", " "),
    "q05_join_full" ->
      """SELECT CAST(coalesce(s_nationkey, c_nationkey) AS INTEGER) AS nationkey,
        | coalesce(n_suppliers, 0) AS n_suppliers, coalesce(n_customers, 0) AS n_customers
        | FROM (SELECT s_nationkey, count(*) AS n_suppliers FROM supplier GROUP BY s_nationkey) s
        | FULL OUTER JOIN (SELECT c_nationkey, count(*) AS n_customers FROM customer GROUP BY c_nationkey) c
        | ON s_nationkey = c_nationkey ORDER BY nationkey""".stripMargin.replaceAll("\n", " "),
    "q06_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        | WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus='O')
        | ORDER BY c_custkey""".stripMargin.replaceAll("\n", " "),
    "q07_join_anti" ->
      """SELECT c_custkey, c_acctbal FROM customer
        | WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
        | ORDER BY c_custkey""".stripMargin.replaceAll("\n", " "),
    "q08_range_join" ->
      """SELECT o_orderpriority, count(*) AS n_lineitems
        | FROM lineitem JOIN orders ON l_orderkey=o_orderkey
        |  AND l_shipdate >= o_orderdate AND l_shipdate <= o_orderdate + INTERVAL 30 DAY
        | GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin.replaceAll("\n", " "),
    "q09_window_lead" ->
      """SELECT l_suppkey, CAST(sum(gap_s) AS BIGINT) AS sum_gap_s, count(gap_s) AS n_gaps FROM (
        |  SELECT l_suppkey, CAST(epoch(lead(l_shipdate) OVER (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber)) - epoch(l_shipdate) AS BIGINT) AS gap_s
        |  FROM lineitem) GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin.replaceAll("\n", " "),
    "q11_surrogate_ids" ->
      """SELECT row_number() OVER (ORDER BY p_brand) AS brand_id, p_brand
        | FROM (SELECT DISTINCT p_brand FROM part) ORDER BY brand_id""".stripMargin.replaceAll("\n", " "),
    "q12_explode_words" ->
      """SELECT word, count(*) AS n FROM (
        | SELECT unnest(string_split(p_name, ' ')) AS word FROM part)
        | GROUP BY word ORDER BY word""".stripMargin.replaceAll("\n", " "),
    "q15_case_when" ->
      """SELECT o_orderstatus,
        | CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'high' ELSE 'normal' END AS prio_class,
        | count(*) AS n, round(sum(o_totalprice),2) AS total
        | FROM orders GROUP BY o_orderstatus, prio_class
        | ORDER BY o_orderstatus, prio_class""".stripMargin.replaceAll("\n", " "),
    "q16_datetime" ->
      """SELECT CAST(year(due) AS BIGINT) AS due_year, CAST(month(due) AS BIGINT) AS due_month, count(*) AS n
        | FROM (SELECT o_orderdate + INTERVAL 90 DAY AS due FROM orders)
        | GROUP BY due_year, due_month ORDER BY due_year, due_month""".stripMargin.replaceAll("\n", " "),
    "q17_mjd" ->
      """SELECT mjd, CAST(round((mjd - 40587.0) * 86400.0 * 1000000.0) AS BIGINT) AS epoch_us
        | FROM (SELECT DISTINCT 60000.0 + CAST(l_orderkey % 500 AS DOUBLE) * 0.5 AS mjd FROM lineitem)
        | ORDER BY mjd""".stripMargin.replaceAll("\n", " "),
    "q18_hms_dms" ->
      """SELECT s_suppkey,
        | round(((s_suppkey % 24) + ((s_suppkey*7) % 60)/60.0 + (((s_suppkey*13) % 60) + 0.5)/3600.0) * 15.0, 5) AS ra_deg,
        | round((CASE WHEN s_suppkey % 2 = 0 THEN -1.0 ELSE 1.0 END) *
        |   (((s_suppkey*3) % 90) + ((s_suppkey*7) % 60)/60.0 + (((s_suppkey*13) % 60) + 0.5)/3600.0), 5) AS dec_deg
        | FROM supplier ORDER BY s_suppkey""".stripMargin.replaceAll("\n", " "),
    "q19_concat" ->
      """SELECT c_custkey, '(' || c_name || ',' || c_mktsegment || ')' AS tag
        | FROM customer ORDER BY c_custkey""".stripMargin.replaceAll("\n", " "),
    "q20_least_greatest" ->
      """SELECT o_orderstatus, round(sum(least(o_totalprice, 100000.0)),2) AS sum_capped,
        | round(max(greatest(o_totalprice, 200000.0)),2) AS max_floored
        | FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replaceAll("\n", " "),
    "q21_distinct_count" ->
      """SELECT c_nationkey, count(DISTINCT c_mktsegment) AS n_segments, count(*) AS n_customers
        | FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin.replaceAll("\n", " "),
    "q22_topk" ->
      """SELECT o_custkey, round(sum(o_totalprice),2) AS revenue FROM orders
        | GROUP BY o_custkey ORDER BY revenue DESC, o_custkey ASC LIMIT 10""".stripMargin.replaceAll("\n", " "),
    "q23_union" ->
      """SELECT DISTINCT nationkey FROM (
        | SELECT s_nationkey AS nationkey FROM supplier
        | UNION ALL SELECT c_nationkey FROM customer) ORDER BY nationkey""".stripMargin.replaceAll("\n", " "),
    "q24_except" ->
      """SELECT nationkey FROM (
        | SELECT DISTINCT c_nationkey AS nationkey FROM customer
        | EXCEPT SELECT DISTINCT s_nationkey FROM supplier) ORDER BY nationkey""".stripMargin.replaceAll("\n", " "),
    "q25_split_fields" ->
      """SELECT string_split(p_type,' ')[1] AS t1, string_split(p_type,' ')[-1] AS t_last,
        | count(*) AS n FROM part GROUP BY t1, t_last ORDER BY t1, t_last""".stripMargin.replaceAll("\n", " "),
    "q39_regex_extract_all" ->
      """SELECT p_brand, CAST(sum(len(regexp_extract_all(p_name, '([a-z]{5,})', 1))) AS BIGINT) AS n_long_words
        | FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin.replaceAll("\n", " "),
    "q46_keymap_remap" ->
      """SELECT c_custkey, coalesce(n_regionkey, c_nationkey) AS c_nationkey
        | FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
        | ORDER BY c_custkey""".stripMargin.replaceAll("\n", " "),
    "q47_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n, round(sum(o_totalprice),2) AS total
        | FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        | ORDER BY o_orderstatus ASC NULLS FIRST, o_orderpriority ASC NULLS FIRST""".stripMargin.replaceAll("\n", " "),
    "q48_percentile" ->
      """SELECT o_orderstatus, round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        | round(quantile_cont(o_totalprice, 0.95), 4) AS p95
        | FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin.replaceAll("\n", " "),
    "q53_salted_agg" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_quantity),2) AS sum_qty
        | FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin.replaceAll("\n", " "),
    "q54_levenshtein" ->
      """SELECT p_partkey, CAST(levenshtein(string_split(p_type,' ')[1], string_split(p_type,' ')[-1]) AS BIGINT) AS edit_dist
        | FROM part ORDER BY p_partkey""".stripMargin.replaceAll("\n", " "),
    "q55_above_brand_avg" ->
      """SELECT p_partkey, p_brand FROM part p
        | WHERE p_retailprice > (SELECT avg(p2.p_retailprice) FROM part p2 WHERE p2.p_brand = p.p_brand)
        | ORDER BY p_partkey""".stripMargin.replaceAll("\n", " ")
  )
}
