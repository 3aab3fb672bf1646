package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.Num._
import graft.operators.{Pagination, Search, TopKPerGroup}

/** One driver-checkable binding of a library operator to the testdata.
  *
  * `oracle` is the equivalent DuckDB SQL over the same parquet tables;
  * None → the driver records a weaker rows-only check (reserved for
  * genuinely non-SQL-expressible ops like iterative ML).
  * `headline` marks the queries Bench times.
  */
final case class BoundQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    headline: Boolean = false)

/** The §2 coverage inventory of SURVEY.md, one BoundQuery per row.
  *
  * Numeric-parity rules (see graft.functions.Num): aggregates only
  * over exact integers (cents-scaled per row), divisions last, output
  * columns only BIGINT / deterministically-derived DOUBLE / STRING /
  * DATE / BOOLEAN, every ORDER BY carries a unique tie-break.
  */
object Registry {

  // ---------------------------------------------------------------
  // §2.5 TPC-H-style headline queries (bench anchors)
  // ---------------------------------------------------------------

  /** TPC-H Q1 shape: single wide scan, map-side partial agg, tiny
    * result. At 100 TB this is scan-bound; cents-longs keep the agg in
    * whole-stage codegen with exact (partition-invariant) sums. */
  private val q1 = BoundQuery("q1_pricing_summary", (s, d) => {
    val li = Tables.lineitem(s, d)
    val disc = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val charge = disc * (lit(1.0) + col("l_tax"))
    li.where(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sumCents(col("l_quantity")).as("sq"),
        sumCents(col("l_extendedprice")).as("sb"),
        sumCents(disc).as("sd"),
        sumCents(charge).as("sc"),
        count(lit(1)).as("count_order"))
      .select(
        col("l_returnflag"), col("l_linestatus"),
        money(col("sq")).as("sum_qty"),
        money(col("sb")).as("sum_base_price"),
        money(col("sd")).as("sum_disc_price"),
        money(col("sc")).as("sum_charge"),
        (money(col("sq")) / col("count_order").cast("double")).as("avg_qty"),
        (money(col("sb")) / col("count_order").cast("double")).as("avg_price"),
        col("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }, Some("""
    SELECT l_returnflag, l_linestatus,
      CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty,
      CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_base_price,
      CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_disc_price,
      CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*(1.0+l_tax)*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_charge,
      (CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100.0)/CAST(count(*) AS DOUBLE) AS avg_qty,
      (CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS DOUBLE)/100.0)/CAST(count(*) AS DOUBLE) AS avg_price,
      CAST(count(*) AS BIGINT) AS count_order
    FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus
  """), headline = true)

  /** TPC-H Q3 shape: selective dim filter -> two shuffle joins -> agg
    * -> distributed top-k (TakeOrdered, no global sort). AQE converts
    * the post-filter customer side to broadcast when it fits. */
  private val q3 = BoundQuery("q3_shipping_priority", (s, d) => {
    val cutoff = lit("1998-01-01").cast("timestamp")
    val cust = Tables.customer(s, d).where(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val ord = Tables.orders(s, d).where(col("o_orderdate") < cutoff)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
    val li = Tables.lineitem(s, d).where(col("l_shipdate") > cutoff)
      .select("l_orderkey", "l_extendedprice", "l_discount")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sumCents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rc"))
      .select(col("l_orderkey"), money(col("rc")).as("revenue"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"),
        col("o_orderpriority"))
      .orderBy(desc("revenue"), col("orderdate"), col("l_orderkey"))
      .limit(10)
  }, Some("""
    SELECT l_orderkey,
      CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS revenue,
      strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority
    FROM lineitem, orders, customer
    WHERE l_orderkey = o_orderkey AND o_custkey = c_custkey
      AND c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01' AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, orderdate, l_orderkey LIMIT 10
  """), headline = true)

  /** TPC-H Q5 shape: star join. region/nation are always-broadcast
    * dims (tiny at any SF); customer/supplier co-membership closes the
    * loop. Revenue grouped per nation. */
  private val q5 = BoundQuery("q5_local_volume", (s, d) => {
    val r = Tables.region(s, d).where(col("r_name") === "ASIA")
    val n = Tables.nation(s, d)
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select("n_nationkey", "n_name")
    val sup = Tables.supplier(s, d).join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "s_nationkey", "n_name")
    val ord = Tables.orders(s, d)
      .where(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
             col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
      .select("o_orderkey", "o_custkey")
    val li = Tables.lineitem(s, d).select("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount")
    val cust = Tables.customer(s, d).select("c_custkey", "c_nationkey")
    // Round-7 (q10's pattern, verdict item 2): every non-lineitem side
    // of this star is a SLIM slice Catalyst can't statically size —
    // the 1-of-7-years orders slice, the one-region supplier set, the
    // 2-column customer projection — so the default plan sort-merges
    // and the fact table shuffles three times. Size-gated broadcasts
    // keep lineitem shuffle-free (single scan + 25-row agg); each gate
    // estimates the true build from scan-rooted file stats × analytic
    // selectivity and falls back to AQE conversion once a slice
    // outgrows a safe build (customer: full dim, gate disarms first).
    val ordGated = graft.util.Hints.gatedBroadcast(ord,
      scanProxy = Tables.orders(s, d).select("o_orderkey", "o_custkey"),
      selectivity = 0.15)
    val supGated = graft.util.Hints.gatedBroadcast(sup,
      scanProxy = Tables.supplier(s, d).select("s_suppkey", "s_nationkey"),
      selectivity = 0.25)
    val custGated = graft.util.Hints.gatedBroadcast(cust,
      scanProxy = Tables.customer(s, d).select("c_custkey", "c_nationkey"),
      selectivity = 1.0)
    li.join(ordGated, col("l_orderkey") === col("o_orderkey"))
      .join(supGated, col("l_suppkey") === col("s_suppkey"))
      .join(custGated, col("o_custkey") === col("c_custkey") &&
                  col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(sumCents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rc"))
      .select(col("n_name"), money(col("rc")).as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))
  }, Some("""
    SELECT n_name,
      CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
    FROM customer, orders, lineitem, supplier, nation, region
    WHERE c_custkey = o_custkey AND l_orderkey = o_orderkey
      AND l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      AND s_nationkey = n_nationkey AND n_regionkey = r_regionkey
      AND r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY n_name ORDER BY revenue DESC, n_name
  """), headline = true)

  /** TPC-H Q7 shape: bilateral trade volume — supplier nation x
    * customer nation pairs (both directions), revenue by year. The
    * nation pair filter broadcasts; the fact joins shuffle on their
    * natural keys. */
  private val q7 = BoundQuery("q7_volume_shipping", (s, d) => {
    val n = Tables.nation(s, d).select("n_nationkey", "n_name")
    val sup = Tables.supplier(s, d)
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val cust = Tables.customer(s, d)
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val pairs = Seq("NATION_1", "NATION_2", "NATION_3")
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d), col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(cust, col("o_custkey") === col("c_custkey"))
      .where(col("o_orderdate").isNotNull &&
        col("supp_nation") =!= col("cust_nation") &&
        col("supp_nation").isin(pairs: _*) && col("cust_nation").isin(pairs: _*))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("o_orderdate")).cast("long").as("l_year"))
      .agg(sumCents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rc"))
      .select(col("supp_nation"), col("cust_nation"), col("l_year"),
        money(col("rc")).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "l_year")
  }, Some("""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(o_orderdate) AS BIGINT) AS l_year,
           CAST(sum(CAST(round(l_extendedprice*(1.0-l_discount)*100,0) AS BIGINT)) AS DOUBLE)/100.0
             AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey
    JOIN nation sn ON s_nationkey = sn.n_nationkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation cn ON c_nationkey = cn.n_nationkey
    WHERE o_orderdate IS NOT NULL
      AND sn.n_name <> cn.n_name
      AND sn.n_name IN ('NATION_1','NATION_2','NATION_3')
      AND cn.n_name IN ('NATION_1','NATION_2','NATION_3')
    GROUP BY 1, 2, 3 ORDER BY supp_nation, cust_nation, l_year
  """))

  // ---------------------------------------------------------------
  // §2.1 Reference analytics (queries.py)
  // ---------------------------------------------------------------

  /** Reference: queries.py:31 get_years. */
  private val qYears = BoundQuery("q_years", (s, d) => {
    Tables.orders(s, d).where(col("o_orderdate").isNotNull)
      .select(year(col("o_orderdate")).cast("long").as("year"))
      .distinct().orderBy("year")
  }, Some("""
    SELECT DISTINCT CAST(year(o_orderdate) AS BIGINT) AS year
    FROM orders WHERE o_orderdate IS NOT NULL ORDER BY year
  """))

  /** Reference: queries.py:42 get_first_n_rows — `.limit(n)`, made
    * deterministic with an explicit order (a bare limit is
    * partition-order dependent and would flake any comparison). */
  private val qFirstRows = BoundQuery("q_first_rows", (s, d) => {
    Tables.orders(s, d)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
      .orderBy("o_orderkey").limit(25)
  }, Some("""
    SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
    FROM orders ORDER BY o_orderkey LIMIT 25
  """))

  /** Reference: queries.py:10 paginate_dataframe_sql (page 3, size 20). */
  private val qPaginate = BoundQuery("q_paginate", (s, d) => {
    Pagination.page(
      Tables.customer(s, d).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal"),
      Seq(col("c_custkey")), pageNo = 3, pageSize = 20)
  }, Some("""
    SELECT c_custkey, c_name, c_mktsegment, c_acctbal
    FROM customer ORDER BY c_custkey LIMIT 20 OFFSET 40
  """))

  /** Reference: queries.py:51 count_photos_by_coordinates — 2-column
    * groupBy count ordered by count. */
  private val qCountByGroup = BoundQuery("q_count_by_group", (s, d) => {
    Tables.customer(s, d)
      .groupBy(col("c_nationkey").cast("long").as("nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("nationkey"), col("c_mktsegment"))
  }, Some("""
    SELECT CAST(c_nationkey AS BIGINT) AS nationkey, c_mktsegment,
           CAST(count(*) AS BIGINT) AS cnt
    FROM customer GROUP BY 1, 2 ORDER BY cnt DESC, nationkey, c_mktsegment
  """))

  /** Reference: queries.py:61 get_photos_by_tag — token membership.
    * The reference explodes the array then filters; `array_contains`
    * expresses the same semi-join without row multiplication. */
  private val qFilterByToken = BoundQuery("q_filter_by_token", (s, d) => {
    Tables.documents(s, d)
      .where(array_contains(split(col("text"), " "), "spark"))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }, Some("""
    SELECT doc_id, lang, source, n_chars
    FROM documents WHERE list_contains(string_split(text, ' '), 'spark')
    ORDER BY doc_id
  """))

  private def countByDatePart(table: String, ts: String, part: String, alias: String) =
    BoundQuery(s"q_${alias}", (s, d) => {
      val f = part match { case "month" => month(col(ts)); case "year" => year(col(ts)) }
      Tables.load(s, d, table).where(col(ts).isNotNull)
        .groupBy(f.cast("long").as(part))
        .agg(count(lit(1)).as("cnt"))
        .orderBy(part)
    }, Some(s"""
      SELECT CAST($part($ts) AS BIGINT) AS $part, CAST(count(*) AS BIGINT) AS cnt
      FROM $table WHERE $ts IS NOT NULL GROUP BY 1 ORDER BY 1
    """))

  /** Reference: queries.py:73/84/95/106 photo_count_by_{month,year}_{posted,taken}. */
  private val qMonthlyPosted = countByDatePart("orders", "o_orderdate", "month", "monthly_posted")
  private val qYearlyPosted = countByDatePart("orders", "o_orderdate", "year", "yearly_posted")
  private val qMonthlyShipped = countByDatePart("lineitem", "l_shipdate", "month", "monthly_shipped")
  private val qYearlyShipped = countByDatePart("lineitem", "l_shipdate", "year", "yearly_shipped")

  /** Reference: queries.py:117 photo_posted_per_month_by_year (year=1998). */
  private val qMonthInYear = BoundQuery("q_month_in_year", (s, d) => {
    Tables.orders(s, d)
      .where(col("o_orderdate").isNotNull && year(col("o_orderdate")) === 1998)
      .groupBy(month(col("o_orderdate")).cast("long").as("month"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("month")
  }, Some("""
    SELECT CAST(month(o_orderdate) AS BIGINT) AS month, CAST(count(*) AS BIGINT) AS cnt
    FROM orders WHERE o_orderdate IS NOT NULL AND year(o_orderdate) = 1998
    GROUP BY 1 ORDER BY 1
  """))

  /** Reference: queries.py:141 count_photos_posted_per_hour, on the
    * events stream table. */
  private val qHourlyPosted = BoundQuery("q_hourly_posted", (s, d) => {
    Tables.events(s, d).where(col("ts").isNotNull)
      .groupBy(hour(col("ts")).cast("long").as("hour_of_day"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("hour_of_day")
  }, Some("""
    SELECT CAST(hour(ts) AS BIGINT) AS hour_of_day, CAST(count(*) AS BIGINT) AS cnt
    FROM events WHERE ts IS NOT NULL GROUP BY 1 ORDER BY 1
  """))

  /** Reference: queries.py:153 count_photos_taken_per_hour — second
    * per-hour profile, here sliced by event_type. */
  private val qHourlyByType = BoundQuery("q_hourly_by_type", (s, d) => {
    Tables.events(s, d).where(col("ts").isNotNull)
      .groupBy(col("event_type"), hour(col("ts")).cast("long").as("hour_of_day"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("event_type", "hour_of_day")
  }, Some("""
    SELECT event_type, CAST(hour(ts) AS BIGINT) AS hour_of_day,
           CAST(count(*) AS BIGINT) AS cnt
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2 ORDER BY 1, 2
  """))

  /** Reference: queries.py:165 calculate_views_by_year. */
  private val qAvgValueByYear = BoundQuery("q_avg_value_by_year", (s, d) => {
    Tables.orders(s, d).where(col("o_orderdate").isNotNull)
      .groupBy(year(col("o_orderdate")).cast("long").as("year"))
      .agg(sumCents(col("o_totalprice")).as("sc"), count(lit(1)).as("cnt"))
      .select(col("year"), (money(col("sc")) / col("cnt").cast("double")).as("avg_value"))
      .orderBy("year")
  }, Some("""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
      (CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS DOUBLE)/100.0)/CAST(count(*) AS DOUBLE) AS avg_value
    FROM orders WHERE o_orderdate IS NOT NULL GROUP BY 1 ORDER BY 1
  """))

  /** Reference: queries.py:176 calculate_comments_by_year — average
    * item count per order per year (ratio of two exact counts). */
  private val qAvgItemsByYear = BoundQuery("q_avg_items_by_year", (s, d) => {
    val ord = Tables.orders(s, d).select("o_orderkey", "o_orderdate")
    Tables.lineitem(s, d).select("l_orderkey")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("year"))
      .agg(count(lit(1)).as("items"), countDistinct(col("o_orderkey")).as("orders"))
      .select(col("year"),
        (col("items").cast("double") / col("orders").cast("double")).as("avg_items"))
      .orderBy("year")
  }, Some("""
    SELECT CAST(year(o_orderdate) AS BIGINT) AS year,
      CAST(count(*) AS DOUBLE)/CAST(count(DISTINCT o_orderkey) AS DOUBLE) AS avg_items
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY 1 ORDER BY 1
  """))

  /** Reference: queries.py:187 calculate_pro_user_distribution. */
  private val qStatusDistribution = BoundQuery("q_status_distribution", (s, d) => {
    Tables.orders(s, d).where(col("o_orderstatus").isNotNull)
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(desc("o_orderstatus"))
  }, Some("""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt
    FROM orders WHERE o_orderstatus IS NOT NULL
    GROUP BY 1 ORDER BY o_orderstatus DESC
  """))

  /** Reference: queries.py:198 calculate_average_time_to_post — mean
    * minutes between two timestamps; summed as exact whole seconds
    * (unix_timestamp floors to seconds) then divided once. */
  private val qAvgTimeToShip = BoundQuery("q_avg_time_to_ship", (s, d) => {
    val ord = Tables.orders(s, d).select("o_orderkey", "o_orderdate")
    Tables.lineitem(s, d).select("l_orderkey", "l_shipdate")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .where(col("o_orderdate").isNotNull && col("l_shipdate").isNotNull)
      .agg(
        sum(unix_timestamp(col("l_shipdate")) - unix_timestamp(col("o_orderdate"))).as("dsec"),
        count(lit(1)).as("cnt"))
      .select((col("dsec").cast("double") / col("cnt").cast("double") / lit(60.0))
        .as("avg_minutes_to_ship"))
  }, Some("""
    SELECT CAST(sum(date_diff('second', o_orderdate, l_shipdate)) AS DOUBLE)
           / CAST(count(*) AS DOUBLE) / 60.0 AS avg_minutes_to_ship
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderdate IS NOT NULL AND l_shipdate IS NOT NULL
  """))

  /** Reference: queries.py:214 first_post_per_year_month — per-user
    * min timestamp, then cohort counts by year/month. */
  private val qFirstOrderCohort = BoundQuery("q_first_order_cohort", (s, d) => {
    Tables.orders(s, d).where(col("o_orderdate").isNotNull)
      .groupBy(col("o_custkey"))
      .agg(min(col("o_orderdate")).as("first_ts"))
      .groupBy(year(col("first_ts")).cast("long").as("year"),
               month(col("first_ts")).cast("long").as("month"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("year", "month")
  }, Some("""
    WITH firsts AS (
      SELECT o_custkey, min(o_orderdate) AS first_ts
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY o_custkey)
    SELECT CAST(year(first_ts) AS BIGINT) AS year,
           CAST(month(first_ts) AS BIGINT) AS month,
           CAST(count(*) AS BIGINT) AS cnt
    FROM firsts GROUP BY 1, 2 ORDER BY 1, 2
  """))

  /** Reference: queries.py:246 calculate_views_stats — mean + exact
    * median. Exact `percentile` (not approx): both engines interpolate
    * (lo+hi)/2 over exact cents-ints, so results are bit-identical.
    * At 100 TB swap in percentile_approx — the query shape is the
    * same single partial-aggregable pass. */
  private val qValueStats = BoundQuery("q_value_stats", (s, d) => {
    Tables.orders(s, d).withColumn("c", cents(col("o_totalprice")))
      .agg(sum(col("c")).as("sc"), count(lit(1)).as("cnt"),
           expr("percentile(c, 0.5)").as("medc"))
      .select(
        (col("sc").cast("double") / lit(100.0) / col("cnt").cast("double")).as("avg_value"),
        (col("medc") / lit(100.0)).as("median_value"))
  }, Some("""
    SELECT
      CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS DOUBLE)/100.0
        /CAST(count(*) AS DOUBLE) AS avg_value,
      quantile_cont(CAST(round(o_totalprice*100,0) AS BIGINT), 0.5)/100.0 AS median_value
    FROM orders
  """))

  /** Reference: queries.py:257 calculate_comments_stats — same stats
    * sliced per group (order priority). */
  private val qPriorityStats = BoundQuery("q_priority_stats", (s, d) => {
    Tables.orders(s, d).withColumn("c", cents(col("o_totalprice")))
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("c")).as("sc"), count(lit(1)).as("cnt"),
           expr("percentile(c, 0.5)").as("medc"))
      .select(col("o_orderpriority"),
        (col("sc").cast("double") / lit(100.0) / col("cnt").cast("double")).as("avg_value"),
        (col("medc") / lit(100.0)).as("median_value"))
      .orderBy("o_orderpriority")
  }, Some("""
    SELECT o_orderpriority,
      CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS DOUBLE)/100.0
        /CAST(count(*) AS DOUBLE) AS avg_value,
      quantile_cont(CAST(round(o_totalprice*100,0) AS BIGINT), 0.5)/100.0 AS median_value
    FROM orders GROUP BY 1 ORDER BY 1
  """))

  /** Reference: queries.py:268 calculate_accuracy_distribution. */
  private val qSizeDistribution = BoundQuery("q_size_distribution", (s, d) => {
    Tables.part(s, d).where(col("p_size").isNotNull)
      .groupBy(col("p_size").cast("long").as("size"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy("size")
  }, Some("""
    SELECT CAST(p_size AS BIGINT) AS size, CAST(count(*) AS BIGINT) AS cnt
    FROM part WHERE p_size IS NOT NULL GROUP BY 1 ORDER BY 1
  """))

  /** Reference: queries.py:278 get_top_tags — explode + count desc.
    * Split-explode shuffles token rows once; partial agg combines
    * per-partition counts before the shuffle (word-count shape). */
  private val qTopWords = BoundQuery("q_top_words", (s, d) => {
    Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .orderBy(desc("cnt"), col("word"))
      .limit(50)
  }, Some("""
    SELECT word, CAST(count(*) AS BIGINT) AS cnt
    FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
    WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word LIMIT 50
  """))

  /** Reference: queries.py:289 count_user. */
  private val qUserCount = BoundQuery("q_user_count", (s, d) => {
    Tables.orders(s, d)
      .agg(countDistinct(col("o_custkey")).as("user_count"))
  }, Some("""
    SELECT CAST(count(DISTINCT o_custkey) AS BIGINT) AS user_count FROM orders
  """))

  /** Reference: queries.py:298 search_owner — per-owner totals,
    * max_by-struct "best item", global rank, formatted URL. The
    * reference used a Python UDF for the URL (flickrapi_utils.py:31
    * construct_photo_url); `format_string` keeps it in codegen. The
    * top-100 selection is a distributed TakeOrdered over the
    * aggregated rollup and ranks come from Ranking.globalRowNumber on
    * the 100 survivors — no unpartitioned rank window anywhere, so
    * the plan stays single-task-free even when the owner rollup is
    * millions of rows. */
  private val qOwnerLeaderboard = BoundQuery("q_owner_leaderboard", (s, d) => {
    val per = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(
        sumCents(col("o_totalprice")).as("spent_c"),
        count(lit(1)).as("order_count"),
        max(struct(cents(col("o_totalprice")).as("pc"), col("o_orderkey").as("ok")))
          .as("best"))
      .select(col("o_custkey"), col("spent_c"), col("order_count"),
        col("best.ok").as("best_orderkey"), col("best.pc").as("best_price_c"))
    val top = TopKPerGroup.topKGlobal(per,
      Seq(desc("spent_c"), col("o_custkey")), 100)
    // rank over the TakeOrdered top-100 slice: a bare window over an
    // input BOUNDED at 100 rows (the q_zipf whitelist contract).
    // Round 9: this was Ranking.globalRowNumber — correct at any
    // scale, but its machinery (range-repartition sampling job,
    // pinned persist, P×P offset self-join, broadcast join) cost ~4
    // extra stages per run on a 100-row relation; the distributed
    // operator stays for data-sized callers.
    val ranked = top.withColumn("rank",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("spent_c").desc, col("o_custkey").asc)).cast("long"))
    ranked
      .join(Tables.customer(s, d).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(
        col("rank"),
        col("o_custkey").as("custkey"),
        col("c_name").as("name"),
        col("order_count"),
        money(col("spent_c")).as("total_spent"),
        money(col("best_price_c")).as("best_order_price"),
        col("best_orderkey"),
        format_string("https://orders.example.com/%d/%d",
          col("o_custkey"), col("best_orderkey")).as("best_order_url"))
      .orderBy("rank")
  }, Some("""
    WITH per AS (
      SELECT o_custkey,
             sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS spent_c,
             CAST(count(*) AS BIGINT) AS order_count
      FROM orders GROUP BY o_custkey),
    best AS (
      SELECT o_custkey, o_orderkey AS best_orderkey, pc AS best_price_c FROM (
        SELECT o_custkey, o_orderkey, CAST(round(o_totalprice*100,0) AS BIGINT) AS pc,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY CAST(round(o_totalprice*100,0) AS BIGINT) DESC,
                                           o_orderkey DESC) AS rn
        FROM orders) WHERE rn = 1),
    ranked AS (
      SELECT per.o_custkey AS custkey, spent_c, order_count, best_orderkey, best_price_c,
             row_number() OVER (ORDER BY spent_c DESC, per.o_custkey) AS rank
      FROM per JOIN best ON per.o_custkey = best.o_custkey)
    SELECT CAST(rank AS BIGINT) AS rank, custkey, c_name AS name, order_count,
           CAST(spent_c AS DOUBLE)/100.0 AS total_spent,
           CAST(best_price_c AS DOUBLE)/100.0 AS best_order_price,
           best_orderkey,
           printf('https://orders.example.com/%d/%d', custkey, best_orderkey) AS best_order_url
    FROM ranked JOIN customer ON custkey = c_custkey
    WHERE rank <= 100 ORDER BY rank
  """), headline = true)

  /** Reference: queries.py:354 top_50_owners. */
  private val qTop50Owners = BoundQuery("q_top50_owners", (s, d) => {
    val per = Tables.orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sumCents(col("o_totalprice")).as("spent_c"))
    TopKPerGroup.topKGlobal(per, Seq(desc("spent_c"), col("o_custkey")), 50)
      .join(Tables.customer(s, d).select("c_custkey", "c_name"),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_name").as("name"), money(col("spent_c")).as("total_spent"),
        col("o_custkey").as("custkey"))
      .orderBy(desc("total_spent"), col("custkey"))
  }, Some("""
    WITH per AS (
      SELECT o_custkey, sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS spent_c
      FROM orders GROUP BY o_custkey
      ORDER BY spent_c DESC, o_custkey LIMIT 50)
    SELECT c_name AS name, CAST(spent_c AS DOUBLE)/100.0 AS total_spent,
           o_custkey AS custkey
    FROM per JOIN customer ON o_custkey = c_custkey
    ORDER BY total_spent DESC, custkey
  """))

  /** Reference: queries.py:367 search_photos — keyword OR token-set
    * match, AND range, dedup on key, formatted output column. */
  private val qSearch = BoundQuery("q_search", (s, d) => {
    Search.search(
      Tables.part(s, d),
      keyword = Some("red"),
      keywordFields = Seq(col("p_name"), col("p_type")),
      range = Some((col("p_retailprice"), lit(100.0), lit(2000.0))),
      tokenCol = Some(col("p_brand")),
      tokens = Seq("Brand#1", "Brand#2"),
      dedupKey = Seq("p_partkey"))
      .select(
        format_string("https://parts.example.com/%d", col("p_partkey")).as("url"),
        col("p_name").as("name"), col("p_brand").as("brand"),
        col("p_type").as("ptype"), col("p_retailprice").as("price"),
        col("p_partkey").as("partkey"))
      .orderBy("partkey")
  }, Some("""
    SELECT printf('https://parts.example.com/%d', p_partkey) AS url,
           p_name AS name, p_brand AS brand, p_type AS ptype,
           p_retailprice AS price, p_partkey AS partkey
    FROM part
    WHERE (contains(lower(p_name), 'red') OR contains(lower(p_type), 'red')
           OR p_brand IN ('Brand#1', 'Brand#2'))
      AND p_retailprice BETWEEN 100.0 AND 2000.0
    ORDER BY partkey
  """))

  /** Reference: queries.py:442 top_brands_with_models — top-5 groups
    * by total, top-5 members within each via rank window; the tiny
    * top-brand list is broadcast back onto the counts. */
  private val qTopBrandsModels = BoundQuery("q_top_brands_models", (s, d) => {
    val counts = Tables.part(s, d)
      .where(col("p_brand").isNotNull && col("p_type").isNotNull)
      .groupBy(col("p_brand"), col("p_type"))
      .agg(count(lit(1)).as("cnt"))
    val top5 = counts.groupBy(col("p_brand")).agg(sum(col("cnt")).as("total"))
      .orderBy(desc("total"), col("p_brand")).limit(5)
      .select(col("p_brand").as("tb"))
    val ranked = TopKPerGroup.topK(
      counts.join(broadcast(top5), col("p_brand") === col("tb")),
      Seq(col("p_brand")), Seq(desc("cnt"), col("p_type")), 5)
    ranked.select(col("p_brand").as("brand"), col("p_type").as("model"),
        col("cnt"), col("rnk"))
      .orderBy("brand", "rnk")
  }, Some("""
    WITH counts AS (
      SELECT p_brand, p_type, CAST(count(*) AS BIGINT) AS cnt
      FROM part WHERE p_brand IS NOT NULL AND p_type IS NOT NULL GROUP BY 1, 2),
    top5 AS (
      SELECT p_brand AS tb FROM (
        SELECT p_brand, sum(cnt) AS total FROM counts GROUP BY 1)
      ORDER BY total DESC, p_brand LIMIT 5),
    ranked AS (
      SELECT p_brand AS brand, p_type AS model, cnt,
             CAST(row_number() OVER (PARTITION BY p_brand
                                     ORDER BY cnt DESC, p_type) AS BIGINT) AS rnk
      FROM counts JOIN top5 ON p_brand = tb)
    SELECT brand, model, cnt, rnk FROM ranked WHERE rnk <= 5 ORDER BY brand, rnk
  """))

  /** Reference: queries.py:481 top_models_per_year — per-year rank
    * window over a 3-way join (fact->orders for the year, ->part for
    * the brand). */
  private val qTopBrandsPerYear = BoundQuery("q_top_brands_per_year", (s, d) => {
    val ord = Tables.orders(s, d).where(col("o_orderdate").isNotNull)
      .select(col("o_orderkey"), year(col("o_orderdate")).cast("long").as("year"))
    val pt = Tables.part(s, d).select("p_partkey", "p_brand")
    val counts = Tables.lineitem(s, d).select("l_orderkey", "l_partkey")
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(pt, col("l_partkey") === col("p_partkey"))
      .groupBy(col("year"), col("p_brand"))
      .agg(count(lit(1)).as("cnt"))
    TopKPerGroup.topK(counts, Seq(col("year")), Seq(desc("cnt"), col("p_brand")), 5)
      .select(col("year"), col("p_brand").as("brand"), col("cnt"), col("rnk"))
      .orderBy("year", "rnk")
  }, Some("""
    WITH counts AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS year, p_brand, CAST(count(*) AS BIGINT) AS cnt
      FROM lineitem
      JOIN orders ON l_orderkey = o_orderkey
      JOIN part ON l_partkey = p_partkey
      WHERE o_orderdate IS NOT NULL
      GROUP BY 1, 2)
    SELECT year, p_brand AS brand, cnt,
           CAST(rnk AS BIGINT) AS rnk
    FROM (SELECT *, row_number() OVER (PARTITION BY year ORDER BY cnt DESC, p_brand) AS rnk
          FROM counts)
    WHERE rnk <= 5 ORDER BY year, rnk
  """), headline = true)

  // ---------------------------------------------------------------

  private val coreQueries: Seq[BoundQuery] = Seq(
    q1, q3, q5, q7,
    qYears, qFirstRows, qPaginate, qCountByGroup, qFilterByToken,
    qMonthlyPosted, qYearlyPosted, qMonthlyShipped, qYearlyShipped,
    qMonthInYear, qHourlyPosted, qHourlyByType,
    qAvgValueByYear, qAvgItemsByYear, qStatusDistribution,
    qAvgTimeToShip, qFirstOrderCohort, qValueStats, qPriorityStats,
    qSizeDistribution, qTopWords, qUserCount,
    qOwnerLeaderboard, qTop50Owners, qSearch,
    qTopBrandsModels, qTopBrandsPerYear)

  val allQueries: Seq[BoundQuery] =
    coreQueries ++ TextQueries.all ++ VectorQueries.all ++
      PipelineQueries.all ++ ExtraQueries.all ++
      ExtraQueries2.all ++ TextQueries2.all ++ EventQueries.all ++
      GraphQueries.all ++ CorpusQueries.all ++ QualityQueries.all ++
      TemporalQueries.all ++ IndexQueries.all ++ DriftQueries.all ++
      RetrievalQueries.all ++ MlQueries.all ++ PackingQueries.all ++
      CorpusQueries2.all ++ StatsQueries.all ++ EvalQueries.all ++
      CorpusQueries3.all ++ VectorQueries2.all ++ RecsysQueries.all ++
      StatsQueries2.all ++ MlQueries2.all ++ StatsQueries3.all ++
      GovernanceQueries.all ++ SeriesQueries.all ++ TpchQueries.all ++
      StatsQueries4.all ++ EvalQueries2.all ++ MonitoringQueries.all ++
      ExtraQueries3.all ++ BanditQueries.all ++ FeatureQueries.all ++
      TreeQueries.all ++ AgreementQueries.all ++ EconQueries.all ++
      StatsQueries5.all ++ MetricsQueries.all ++ SeriesQueries2.all ++
      DistributionQueries.all ++ CorpusQueries4.all ++ StatsQueries6.all ++
      ExplainQueries.all ++ LmStatsQueries.all ++ DiagnosticsQueries.all ++
      AuditQueries.all ++ CorpusQueries5.all ++ GraphQueries2.all ++
      SeriesQueries3.all
      // (q_kcore / q_neighbor_jaccard ride in GraphQueries.all above)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.run).toMap

  def oracles: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap

  def headlines: Seq[BoundQuery] = allQueries.filter(_.headline)

  /** bench30 (round-5 verdict item 3): a FROZEN 30-query regression
    * set covering one representative per operator family OUTSIDE the
    * 12 cross-round headliners, so a performance regression in the
    * graph / streaming-twin / stats / retrieval / governance surface
    * shows up in BENCH_r{N}.json instead of hiding behind a green
    * correctness gate. Graded against its own BASELINE.md row; the
    * 12-headliner `value` metric is unchanged. Do not reorder or
    * swap members across rounds — cross-round comparability is the
    * whole point. */
  val bench30Names: Seq[String] = Seq(
    "q_dedup_incremental", "q_dedup_clusters", "q_semdedup",
    "q_simhash_pairs", "q_minhash_pairs", "q_ivf_pq", "q_bq_topk",
    "q_ann_eval", "q_tfidf", "q_bpe_encode", "q_contamination",
    "q_seq_pack", "q_dsir", "q_bm25", "q_mmr", "q_pagerank",
    "q_triangles", "q_kcore", "q_scd2", "q_holt_winters",
    "q_changepoint", "q_psi_drift", "q_dq_checks", "q_k_anonymity",
    "q_ndcg", "q_ewma", "q_naive_bayes", "q_kmeans",
    "q_global_median", "q_retention")

  def bench30: Seq[BoundQuery] = resolve("bench30", bench30Names)

  /** tpch10: the ten TPC-H completions, timed by Bench as a tracked,
    * non-headline subtotal graded against its own same-session DuckDB
    * row in BASELINE.md. Frozen like bench30. */
  val tpch10Names: Seq[String] = Seq(
    "q6_forecast_revenue", "q8_market_share", "q10_returned_items",
    "q13_order_distribution", "q14_promo_effect", "q15_top_supplier",
    "q17_small_qty_revenue", "q18_large_orders", "q19_discounted_revenue",
    "q22_dormant_customers")

  def tpch10: Seq[BoundQuery] = resolve("tpch10", tpch10Names)

  private def resolve(set: String, names: Seq[String]): Seq[BoundQuery] = {
    val byName = allQueries.map(q => q.name -> q).toMap
    val missing = names.filterNot(byName.contains)
    require(missing.isEmpty,
      s"$set lost queries (renamed/removed?): ${missing.mkString(", ")}")
    names.map(byName)
  }

  /** Flagship for the driver smoke check. */
  def flagship(spark: SparkSession): DataFrame =
    qOwnerLeaderboard.run(spark, "/root/testdata/sf0.001")
}
