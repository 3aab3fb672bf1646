package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.sources.Tables
import graft.functions.Num._
import graft.operators.{Profiling, RangeJoin, Upsert}

/** Second analytic-surface wave: pivot/cube reshaping, the full
  * window-function suite, deterministic hash sampling, semi-join
  * pruning, CDC upsert, single-pass profiling, and bucketed range
  * join — rounding out the OLAP + pipeline-maintenance toolbox. */
object ExtraQueries2 {

  /** Wide pivot: year x event_type count matrix. Explicit pivot values
    * keep the plan single-pass (no distinct-values pre-query) — the
    * 100 TB form pivots only enumerable-domain columns. */
  private val qPivot = BoundQuery("q_pivot", (s, d) => {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val p = Tables.events(s, d).where(col("ts").isNotNull)
      .groupBy(year(col("ts")).cast("long").as("year"))
      .pivot("event_type", types).count()
    p.select(col("year") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
      .orderBy("year")
  }, Some("""
    SELECT CAST(year(ts) AS BIGINT) AS year,
      CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
      CAST(sum(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
      CAST(sum(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
      CAST(sum(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
      CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events WHERE ts IS NOT NULL GROUP BY 1 ORDER BY year
  """))

  /** CUBE(year, priority): all 2^2 grouping sets in one pass
    * (sentinel-coalesced like q_rollup_revenue). */
  private val qCube = BoundQuery("q_cube", (s, d) => {
    Tables.orders(s, d).where(col("o_orderdate").isNotNull)
      .cube(year(col("o_orderdate")).cast("long").as("year"), col("o_orderpriority"))
      .agg(count(lit(1)).as("cnt"), sumCents(col("o_totalprice")).as("rc"))
      .select(
        coalesce(col("year"), lit(-1L)).as("year_g"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority_g"),
        col("cnt"), money(col("rc")).as("revenue"))
      .orderBy("year_g", "priority_g")
  }, Some("""
    SELECT coalesce(CAST(year(o_orderdate) AS BIGINT), -1) AS year_g,
           coalesce(o_orderpriority, 'ALL') AS priority_g,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
    FROM orders WHERE o_orderdate IS NOT NULL
    GROUP BY CUBE(CAST(year(o_orderdate) AS BIGINT), o_orderpriority)
    ORDER BY year_g, priority_g
  """))

  /** Window-function suite over per-customer order history: lag /
    * lead / ntile / percent_rank / cume_dist in ONE window (one
    * shuffle + one sort serves all five). */
  private val qWindowSuite = BoundQuery("q_window_suite", (s, d) => {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    Tables.orders(s, d)
      .where(col("o_custkey") < 50 && col("o_orderdate").isNotNull)
      .select(
        col("o_custkey").as("custkey"), col("o_orderkey").as("orderkey"),
        money(lag(cents(col("o_totalprice")), 1).over(w)).as("prev_price"),
        money(lead(cents(col("o_totalprice")), 1).over(w)).as("next_price"),
        ntile(4).over(w).cast("long").as("quartile"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"))
      .orderBy("custkey", "orderkey")
  }, Some("""
    SELECT o_custkey AS custkey, o_orderkey AS orderkey,
      CAST(lag(CAST(round(o_totalprice*100,0) AS BIGINT), 1)
        OVER w AS DOUBLE)/100.0 AS prev_price,
      CAST(lead(CAST(round(o_totalprice*100,0) AS BIGINT), 1)
        OVER w AS DOUBLE)/100.0 AS next_price,
      CAST(ntile(4) OVER w AS BIGINT) AS quartile,
      percent_rank() OVER w AS pr,
      cume_dist() OVER w AS cd
    FROM orders WHERE o_custkey < 50 AND o_orderdate IS NOT NULL
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    ORDER BY custkey, orderkey
  """))

  /** Deterministic ~10% hash sample (md5 prefix of the key), then a
    * stratified aggregate. Hash sampling is reproducible across
    * engines, runs, and partitionings — the only sane sample at
    * 100 TB (BERNOULLI samples differ per run). 0x1a/0x100 = 10.2%. */
  private val qHashSample = BoundQuery("q_hash_sample", (s, d) => {
    Tables.orders(s, d)
      .where(substring(md5(col("o_orderkey").cast("string").cast("binary")), 1, 2) < "1a")
      .groupBy(col("o_orderstatus"))
      .agg(count(lit(1)).as("n_sampled"),
        sumCents(col("o_totalprice")).as("rc"))
      .select(col("o_orderstatus"), col("n_sampled"), money(col("rc")).as("sample_revenue"))
      .orderBy("o_orderstatus")
  }, Some("""
    SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_sampled,
           CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sample_revenue
    FROM orders
    WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '1a'
    GROUP BY o_orderstatus ORDER BY o_orderstatus
  """))

  /** Semi-join pruning: lineitems of urgent orders via LEFT SEMI —
    * the fact table is filtered by key existence without duplicating
    * rows or carrying the dimension's columns through the shuffle. */
  private val qSemiPrune = BoundQuery("q_semi_prune", (s, d) => {
    val urgent = Tables.orders(s, d)
      .where(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    Tables.lineitem(s, d)
      .join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"), sumCents(col("l_quantity")).as("qc"))
      .select(col("l_returnflag"), col("cnt"), money(col("qc")).as("sum_qty"))
      .orderBy("l_returnflag")
  }, Some("""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_qty
    FROM lineitem
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
    GROUP BY l_returnflag ORDER BY l_returnflag
  """))

  /** CDC upsert (operators.Upsert): latest order value per customer
    * applied over the customer balance snapshot; op column marks
    * update / insert / keep. */
  private val qUpsert = BoundQuery("q_upsert", (s, d) => {
    val base = Tables.customer(s, d)
      .select(col("c_custkey").as("key"), cents(col("c_acctbal")).as("bal_c"))
    val changes = Tables.orders(s, d).where(col("o_orderdate").isNotNull)
      .select(col("o_custkey").as("key"), cents(col("o_totalprice")).as("bal_c"),
        col("o_orderdate").as("v"), col("o_orderkey").as("tb"))
    Upsert.applyChanges(base, changes, "key", col("v"), col("tb"))
      .select(col("key"), money(col("bal_c")).as("balance"), col("op"))
      .orderBy("key")
  }, Some("""
    WITH latest AS (
      SELECT key, bal_c FROM (
        SELECT o_custkey AS key, CAST(round(o_totalprice*100,0) AS BIGINT) AS bal_c,
               row_number() OVER (PARTITION BY o_custkey
                                  ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
        FROM orders WHERE o_orderdate IS NOT NULL) WHERE rn = 1),
    base AS (SELECT c_custkey AS key, CAST(round(c_acctbal*100,0) AS BIGINT) AS bal_c
             FROM customer)
    SELECT coalesce(l.key, b.key) AS key,
           CAST(CASE WHEN l.key IS NOT NULL THEN l.bal_c ELSE b.bal_c END
                AS DOUBLE)/100.0 AS balance,
           CASE WHEN l.key IS NOT NULL AND b.key IS NOT NULL THEN 'U'
                WHEN l.key IS NOT NULL THEN 'I' ELSE 'K' END AS op
    FROM base b FULL OUTER JOIN latest l ON b.key = l.key
    ORDER BY key
  """))

  /** Single-pass column profiling (operators.Profiling): nulls /
    * distincts / min / max for five columns from ONE scan. */
  private val qProfile = BoundQuery("q_profile", (s, d) => {
    Profiling.profile(Tables.orders(s, d),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority", "o_orderdate"))
      .withColumnRenamed("column", "col_name")
      .orderBy("col_name")
  }, Some("""
    WITH p AS (
      SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
             sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS n_null,
             count(DISTINCT o_orderkey) AS n_distinct,
             CAST(min(o_orderkey) AS VARCHAR) AS min_val,
             CAST(max(o_orderkey) AS VARCHAR) AS max_val FROM orders
      UNION ALL
      SELECT 'o_custkey', count(*),
             sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT o_custkey),
             CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR) FROM orders
      UNION ALL
      SELECT 'o_orderstatus', count(*),
             sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT o_orderstatus),
             min(o_orderstatus), max(o_orderstatus) FROM orders
      UNION ALL
      SELECT 'o_orderpriority', count(*),
             sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT o_orderpriority),
             min(o_orderpriority), max(o_orderpriority) FROM orders
      UNION ALL
      SELECT 'o_orderdate', count(*),
             sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END),
             count(DISTINCT o_orderdate),
             CAST(min(o_orderdate) AS VARCHAR), CAST(max(o_orderdate) AS VARCHAR) FROM orders)
    SELECT col_name, CAST(n_rows AS BIGINT) AS n_rows, CAST(n_null AS BIGINT) AS n_null,
           CAST(n_distinct AS BIGINT) AS n_distinct, min_val, max_val
    FROM p ORDER BY col_name
  """))

  /** Bucketed range join (operators.RangeJoin): orders matched to
    * overlapping price bands as an EQUI join on bucket id + residual
    * filter — never the BroadcastNestedLoop a raw BETWEEN plans. */
  private val qRangeJoin = BoundQuery("q_range_join", (s, d) => {
    val bands = s.range(0, 45).select(
      col("id").as("band_id"),
      (col("id") * 12000.0).as("lo"),
      (col("id") * 12000.0 + 30000.0).as("hi"))
    RangeJoin.bucketed(Tables.orders(s, d), col("o_totalprice"),
      bands, col("lo"), col("hi"), bucketWidth = 10000.0)
      .groupBy("band_id")
      .agg(count(lit(1)).as("cnt"), sumCents(col("o_totalprice")).as("rc"))
      .select(col("band_id"), col("cnt"), money(col("rc")).as("revenue"))
      .orderBy("band_id")
  }, Some("""
    WITH bands AS (SELECT i AS band_id, i*12000.0 AS lo, i*12000.0+30000.0 AS hi
                   FROM range(0,45) t(i))
    SELECT band_id, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
    FROM bands JOIN orders ON o_totalprice >= lo AND o_totalprice <= hi
    GROUP BY band_id ORDER BY band_id
  """))

  /** Approximate quantile sketch GRADED against the exact answer
    * inside the engine: percentile_approx(accuracy=10000) guarantees
    * rank error ≤ n/accuracy, so for each probed q the gate computes
    * the TRUE rank of the returned value and checks
    * |rank − q·n| ≤ n/10000 + 1. The sketch internals stay
    * engine-specific (rows-only before this grade); the oracle
    * replays the exact interpolated percentiles and expects every
    * rank check to hold — a sketch regression flips a boolean and
    * breaks the hash. */
  private val qApproxQuantiles = BoundQuery("q_approx_quantiles", (s, d) => {
    val o = Tables.orders(s, d)
    val agg = o.agg(
      percentile_approx(col("o_totalprice"),
        array(lit(0.5), lit(0.9), lit(0.99)), lit(10000)).as("approx"),
      expr("percentile(o_totalprice, array(0.5D, 0.9D, 0.99D))").as("exact"),
      count(lit(1)).as("n"))
    val graded = o.crossJoin(broadcast(agg))
      .agg(
        first(col("exact")).as("exact"), first(col("n")).as("n"),
        sum(when(col("o_totalprice") <= element_at(col("approx"), 1), 1L)
          .otherwise(0L)).as("r50"),
        sum(when(col("o_totalprice") <= element_at(col("approx"), 2), 1L)
          .otherwise(0L)).as("r90"),
        sum(when(col("o_totalprice") <= element_at(col("approx"), 3), 1L)
          .otherwise(0L)).as("r99"))
    def rankOk(r: org.apache.spark.sql.Column, q: Double): org.apache.spark.sql.Column =
      abs(r.cast("double") - lit(q) * col("n").cast("double")) <=
        col("n").cast("double") / 10000.0 + 1.0
    graded.select(
      round(element_at(col("exact"), 1), 6).as("exact_p50"),
      round(element_at(col("exact"), 2), 6).as("exact_p90"),
      round(element_at(col("exact"), 3), 6).as("exact_p99"),
      rankOk(col("r50"), 0.5).as("p50_rank_ok"),
      rankOk(col("r90"), 0.9).as("p90_rank_ok"),
      rankOk(col("r99"), 0.99).as("p99_rank_ok"))
  }, Some("""
    SELECT round(quantile_cont(o_totalprice, 0.5), 6) AS exact_p50,
           round(quantile_cont(o_totalprice, 0.9), 6) AS exact_p90,
           round(quantile_cont(o_totalprice, 0.99), 6) AS exact_p99,
           TRUE AS p50_rank_ok, TRUE AS p90_rank_ok, TRUE AS p99_rank_ok
    FROM orders
  """))

  /** Mergeable KLL quantile sketch (expressions.KllSketch) probed at
    * five quantiles. Capacity 2^21 exceeds the row count through sf1,
    * so level 0 never compacts and the sketch is provably EXACT —
    * rank = max(1, ceil(q·n)), which is precisely DuckDB's
    * quantile_disc convention, hence a full oracle; KllSpec pins the
    * error envelope under tight capacities where compaction runs. */
  private val qKllQuantiles = BoundQuery("q_kll_quantiles", (s, d) => {
    import graft.expressions.KllSketch._
    val sk = Tables.orders(s, d)
      .agg(kllAgg(s, col("o_totalprice"), 1 << 21)).first().getAs[Array[Byte]](0)
    import s.implicits._
    Seq(0.1, 0.25, 0.5, 0.75, 0.9).toDF("q")
      .select(col("q"), kllQuantile(s, lit(sk), col("q")).as("value"))
      .orderBy("q")
  }, Some {
    val arms = Seq(0.1, 0.25, 0.5, 0.75, 0.9).map(q =>
      s"SELECT CAST($q AS DOUBLE) AS q, quantile_disc(o_totalprice, $q) AS value FROM orders")
    arms.mkString("", " UNION ALL ", " ORDER BY q")
  })

  /** Fixed-width histogram of order values. Bin id from one double
    * division + floor — identical IEEE ops on both engines, so bin
    * edges can't disagree. One partial-agg pass. */
  private val qHistogram = BoundQuery("q_histogram", (s, d) => {
    Tables.orders(s, d)
      .groupBy(floor(col("o_totalprice") / lit(25000.0)).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt"), sumCents(col("o_totalprice")).as("rc"))
      .select(col("bin"), col("cnt"), money(col("rc")).as("bin_revenue"))
      .orderBy("bin")
  }, Some("""
    SELECT CAST(floor(o_totalprice/25000.0) AS BIGINT) AS bin,
           CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS bin_revenue
    FROM orders GROUP BY 1 ORDER BY bin
  """))

  /** Pearson correlation per group, computed from exact integer
    * moment sums (n, Σx, Σy, Σxx, Σxy, Σyy over cents ints) converted
    * to double only for the final closed-form — the Num discipline
    * applied to second moments, so the statistic is bit-identical
    * across engines AND partitionings (a naive corr() accumulates
    * doubles in partition order). */
  private val qCorrelation = BoundQuery("q_correlation", (s, d) => {
    val qc = cents(col("l_quantity"))
    val dc = cents(col("l_discount"))
    Tables.lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(qc).as("sx"), sum(dc).as("sy"),
        sum(qc * qc).as("sxx"), sum(qc * dc).as("sxy"), sum(dc * dc).as("syy"))
      .select(col("l_returnflag"), col("n"),
        round((col("n").cast("double") * col("sxy").cast("double") -
               col("sx").cast("double") * col("sy").cast("double")) /
          (sqrt(col("n").cast("double") * col("sxx").cast("double") -
                col("sx").cast("double") * col("sx").cast("double")) *
           sqrt(col("n").cast("double") * col("syy").cast("double") -
                col("sy").cast("double") * col("sy").cast("double"))), 9).as("corr_qty_disc"))
      .orderBy("l_returnflag")
  }, Some("""
    WITH m AS (
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS BIGINT) AS sx,
        CAST(sum(CAST(round(l_discount*100,0) AS BIGINT)) AS BIGINT) AS sy,
        CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)*CAST(round(l_quantity*100,0) AS BIGINT)) AS BIGINT) AS sxx,
        CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)*CAST(round(l_discount*100,0) AS BIGINT)) AS BIGINT) AS sxy,
        CAST(sum(CAST(round(l_discount*100,0) AS BIGINT)*CAST(round(l_discount*100,0) AS BIGINT)) AS BIGINT) AS syy
      FROM lineitem GROUP BY 1)
    SELECT l_returnflag, n,
      round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE)) /
        (sqrt(CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) *
         sqrt(CAST(n AS DOUBLE)*CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE)*CAST(sy AS DOUBLE))), 9)
        AS corr_qty_disc
    FROM m ORDER BY l_returnflag
  """))

  /** Decile bucketing (feature engineering): ntile over a uniquely
    * tie-broken global order. Global-sort window — same quarantine
    * contract as Pagination: bounded inputs only (here a customer
    * slice); the scalable form buckets by pre-computed quantile
    * thresholds instead. */
  private val qDecile = BoundQuery("q_decile", (s, d) => {
    val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d).where(col("o_custkey") < 200)
      .withColumn("decile", ntile(10).over(w).cast("long"))
      .groupBy("decile")
      .agg(count(lit(1)).as("n"), sumCents(col("o_totalprice")).as("rc"))
      .select(col("decile"), col("n"), money(col("rc")).as("revenue"))
      .orderBy("decile")
  }, Some("""
    WITH t AS (
      SELECT o_totalprice,
             CAST(ntile(10) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS decile
      FROM orders WHERE o_custkey < 200)
    SELECT decile, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS revenue
    FROM t GROUP BY decile ORDER BY decile
  """))

  /** Z-order key (LayoutFunctions.zValue2) over (custkey, nationkey):
    * the layout sort key for two-dimensional clustering. Oracle builds
    * the identical 16-bit interleave with SQL shift/mask terms. */
  private val qZorder = {
    val duckZ = (0 until 21).map { i =>
      s"(((c_custkey >> $i) & 1) << ${2 * i}) | (((c_nationkey >> $i) & 1) << ${2 * i + 1})"
    }.mkString("(", ") | (", ")")
    BoundQuery("q_zorder", (s, d) => {
      Tables.customer(s, d)
        .select(col("c_custkey"),
          col("c_nationkey").cast("long").as("nationkey"),
          graft.functions.LayoutFunctions
            .zValue2(col("c_custkey"), col("c_nationkey").cast("long")).as("z"))
        .orderBy("c_custkey")
    }, Some(s"""
      SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nationkey,
             CAST($duckZ AS BIGINT) AS z
      FROM customer ORDER BY c_custkey
    """))
  }

  /** PII scrubbing: pseudonymize the user key (salted sha-256) and
    * redact digit runs from the free-form props payload — the
    * anonymization pass a training-data pipeline runs before anything
    * leaves the trust boundary. All codegen'd (sha2/regexp_replace),
    * no UDF. */
  private val qPiiScrub = BoundQuery("q_pii_scrub", (s, d) => {
    Tables.events(s, d)
      .select(col("event_id"),
        sha2(concat(lit("pepper:"), col("user_id").cast("string")), 256).as("user_pseud"),
        regexp_replace(col("props"), "[0-9]+", "#").as("props_redacted"))
      .orderBy("event_id")
  }, Some("""
    SELECT event_id,
           sha256('pepper:' || CAST(user_id AS VARCHAR)) AS user_pseud,
           regexp_replace(props, '[0-9]+', '#', 'g') AS props_redacted
    FROM events ORDER BY event_id
  """))

  /** Bloom-filter runtime pruning (expressions.BloomFilter): the
    * urgent-order keys build one ~128 KB bit set; the fact scan drops
    * non-members BEFORE the shuffle; the exact semi join then removes
    * the false positives. Same answer as q_semi_prune's direct EXISTS
    * (the oracle), but the shuffle carries only ~matching rows — at
    * 100 TB the bloom probe runs inside the scan's codegen stage and
    * the exchange shrinks by the selectivity factor. */
  private val qBloomPrune = BoundQuery("q_bloom_prune", (s, d) => {
    import graft.expressions.BloomFilter._
    val urgent = Tables.orders(s, d)
      .where(col("o_orderpriority") === "1-URGENT").select("o_orderkey")
    val bloom = urgent
      .agg(bloomAgg(s, col("o_orderkey"), numBits = 1 << 20, numHashes = 5).as("bf"))
      .first().getAs[Array[Byte]](0)
    val pruned = Tables.lineitem(s, d)
      .where(mightContain(s, lit(bloom), col("l_orderkey"), numHashes = 5))
    pruned.join(urgent, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"), sumCents(col("l_extendedprice")).as("pc"))
      .select(col("l_returnflag"), col("cnt"), money(col("pc")).as("sum_price"))
      .orderBy("l_returnflag")
  }, Some("""
    SELECT l_returnflag, CAST(count(*) AS BIGINT) AS cnt,
           CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS sum_price
    FROM lineitem
    WHERE EXISTS (SELECT 1 FROM orders
                  WHERE o_orderkey = l_orderkey AND o_orderpriority = '1-URGENT')
    GROUP BY l_returnflag ORDER BY l_returnflag
  """))

  /** Equi-depth histogram: ntile assigns equal-count buckets, then
    * per-bucket [min, max] boundaries — the histogram a cost optimizer
    * keeps (equi-WIDTH q_histogram is its fixed-bin sibling). Bounded
    * input per the Pagination global-sort contract. */
  private val qEquiDepth = BoundQuery("q_equi_depth", (s, d) => {
    val w = Window.orderBy(col("o_totalprice"), col("o_orderkey"))
    Tables.orders(s, d).where(col("o_custkey") < 300)
      .withColumn("bucket", ntile(8).over(w).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"),
        min(cents(col("o_totalprice"))).as("lo_c"),
        max(cents(col("o_totalprice"))).as("hi_c"))
      .select(col("bucket"), col("n"),
        money(col("lo_c")).as("lo"), money(col("hi_c")).as("hi"))
      .orderBy("bucket")
  }, Some("""
    WITH t AS (
      SELECT o_totalprice,
             CAST(ntile(8) OVER (ORDER BY o_totalprice, o_orderkey) AS BIGINT) AS bucket
      FROM orders WHERE o_custkey < 300)
    SELECT bucket, CAST(count(*) AS BIGINT) AS n,
           CAST(min(CAST(round(o_totalprice*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS lo,
           CAST(max(CAST(round(o_totalprice*100,0) AS BIGINT)) AS DOUBLE)/100.0 AS hi
    FROM t GROUP BY bucket ORDER BY bucket
  """))

  /** Chi-square statistic for event_type x weekday independence, from
    * exact integer contingency counts (expected/deviation math in
    * identically-ordered doubles; one deterministic statistic out). */
  private val qChiSquare = BoundQuery("q_chi_square", (s, d) => {
    val cells = Tables.events(s, d)
      .groupBy(col("event_type").as("r"), dayofweek(col("ts")).cast("long").as("c"))
      .agg(count(lit(1)).as("o"))
    val rows = cells.groupBy("r").agg(sum("o").as("rt"))
    val colsT = cells.groupBy("c").agg(sum("o").as("ct"))
    val total = cells.agg(sum("o").as("t"))
    // the cell-term SUM is an order-dependent float fold — pin it like
    // q_ewma: sort the terms on (r, c), fold left. (Engines label
    // weekdays differently — Spark 1-7, DuckDB 0-6 — but both order
    // Sun<..<Sat, so the sorted term SEQUENCE is identical and the
    // statistic is label-invariant.)
    cells.join(rows, "r").join(colsT, "c").crossJoin(broadcast(total))
      .select(col("r"), col("c"),
        ((col("o").cast("double") -
          col("rt").cast("double") * col("ct").cast("double") / col("t").cast("double")) *
         (col("o").cast("double") -
          col("rt").cast("double") * col("ct").cast("double") / col("t").cast("double")) /
         (col("rt").cast("double") * col("ct").cast("double") / col("t").cast("double")))
          .as("term"))
      .agg(sort_array(collect_list(struct(col("r"), col("c"), col("term")))).as("ts"))
      .select(
        round(aggregate(col("ts"), lit(0.0), (a, x) => a + x("term")), 6).as("chi2"),
        size(col("ts")).cast("long").as("n_cells"))
  }, Some("""
    WITH cells AS (
      SELECT event_type AS r, CAST(dayofweek(ts) AS BIGINT) AS c,
             CAST(count(*) AS BIGINT) AS o
      FROM events GROUP BY 1, 2),
    rt AS (SELECT r, CAST(sum(o) AS BIGINT) AS rt FROM cells GROUP BY r),
    ct AS (SELECT c, CAST(sum(o) AS BIGINT) AS ct FROM cells GROUP BY c),
    tot AS (SELECT CAST(sum(o) AS BIGINT) AS t FROM cells),
    terms AS (
      SELECT r, c,
             (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(t AS DOUBLE))
           * (CAST(o AS DOUBLE) - CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(t AS DOUBLE))
           / (CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(t AS DOUBLE)) AS term
      FROM cells JOIN rt USING (r) JOIN ct USING (c) CROSS JOIN tot)
    SELECT round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             list_transform(list_sort(list(struct_pack(r := r, c := c, term := term))),
               x -> x.term)), (a, b) -> a + b), 6) AS chi2,
           CAST(count(*) AS BIGINT) AS n_cells
    FROM terms
  """))

  /** Bottom-k-by-hash sampling: the k rows with the smallest md5 of
    * the key — a FIXED-SIZE uniform sample that is deterministic and
    * mergeable across partitions (each partition's bottom-k union'd
    * and re-trimmed), unlike rand()-based sampling. */
  private val qBottomkSample = BoundQuery("q_bottomk_sample", (s, d) => {
    Tables.orders(s, d)
      .select(col("o_orderkey"), md5(col("o_orderkey").cast("string").cast("binary")).as("h"))
      .orderBy("h")
      .limit(100)
      .select(col("o_orderkey"), col("h"))
      .orderBy("o_orderkey")
  }, Some("""
    SELECT o_orderkey, h FROM (
      SELECT o_orderkey, md5(CAST(o_orderkey AS VARCHAR)) AS h
      FROM orders ORDER BY h LIMIT 100)
    ORDER BY o_orderkey
  """))

  /** Closed-form least squares (discount ~ quantity per return flag)
    * from the same exact integer moment sums as q_correlation — ML as
    * partial-aggregable DataFrame math: one scan, five exact sums, a
    * deterministic closed form. slope = (n·Σxy − ΣxΣy)/(n·Σxx − Σx²),
    * intercept = (Σy − slope·Σx)/n, in cents units. */
  private val qLinreg = BoundQuery("q_linreg", (s, d) => {
    val qc = cents(col("l_quantity"))
    val dc = cents(col("l_discount"))
    val n = col("n").cast("double"); val sx = col("sx").cast("double")
    val sy = col("sy").cast("double"); val sxx = col("sxx").cast("double")
    val sxy = col("sxy").cast("double")
    val slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    Tables.lineitem(s, d).groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(qc).as("sx"), sum(dc).as("sy"),
        sum(qc * qc).as("sxx"), sum(qc * dc).as("sxy"))
      .select(col("l_returnflag"), col("n"),
        round(slope, 9).as("slope"),
        round((sy - slope * sx) / n, 9).as("intercept"))
      .orderBy("l_returnflag")
  }, Some("""
    WITH m AS (
      SELECT l_returnflag, CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)) AS BIGINT) AS sx,
        CAST(sum(CAST(round(l_discount*100,0) AS BIGINT)) AS BIGINT) AS sy,
        CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)*CAST(round(l_quantity*100,0) AS BIGINT)) AS BIGINT) AS sxx,
        CAST(sum(CAST(round(l_quantity*100,0) AS BIGINT)*CAST(round(l_discount*100,0) AS BIGINT)) AS BIGINT) AS sxy
      FROM lineitem GROUP BY 1)
    SELECT l_returnflag, n,
      round((CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
          / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)), 9) AS slope,
      round((CAST(sy AS DOUBLE)
             - (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
             / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE))
               * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 9) AS intercept
    FROM m ORDER BY l_returnflag
  """))

  /** Weighted sampling without replacement, derandomized
    * (Efraimidis–Spirakis '06 via exponential clocks): each row gets
    * priority -ln(u)/w where u is a hash-derived uniform — higher
    * weight, earlier clock, so the k smallest priorities are a
    * weighted sample that is REPRODUCIBLE across runs and engines.
    * Selection ranks on the rounded priority + key tiebreak, so a
    * last-ulp libm divergence can't flip the k-th boundary. */
  private val qWeightedSample = BoundQuery("q_weighted_sample", (s, d) => {
    // u in (0,1] from the first 8 md5 hex digits; w = o_totalprice
    val u = (conv(substring(md5(col("o_orderkey").cast("string").cast("binary")), 1, 8),
      16, 10).cast("double") + lit(1.0)) / lit(4294967296.0)
    Tables.orders(s, d)
      .withColumn("priority", round(-log(u) / col("o_totalprice"), 15))
      .orderBy(col("priority"), col("o_orderkey"))
      .limit(50)
      .select(col("o_orderkey"), col("priority"))
      .orderBy("o_orderkey")
  }, Some("""
    SELECT o_orderkey, priority FROM (
      SELECT o_orderkey,
        round(-ln((CAST('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)),1,8) AS UBIGINT)
                   + 1.0) / 4294967296.0) / o_totalprice, 15) AS priority
      FROM orders ORDER BY priority, o_orderkey LIMIT 50)
    ORDER BY o_orderkey
  """))

  /** Keyed snapshot diff (operators.Diff): the current orders table
    * against a deterministically-derived "next release" (every 11th
    * key deleted, every 7th repriced) — per-status counts must match
    * the full-outer CASE oracle. */
  private val qTableDiff = BoundQuery("q_table_diff", (s, d) => {
    val o = Tables.orders(s, d)
      .select(col("o_orderkey"), cents(col("o_totalprice")).as("v"))
    val next = o.where(col("o_orderkey") % 11 =!= 0)
      .select(col("o_orderkey"),
        when(col("o_orderkey") % 7 === 0, col("v") + 100).otherwise(col("v")).as("v"))
    graft.operators.Diff.byKey(o, next, "o_orderkey", Seq("v"))
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")
  }, Some("""
    WITH a AS (SELECT o_orderkey, CAST(round(o_totalprice*100,0) AS BIGINT) AS v
               FROM orders),
    b AS (SELECT o_orderkey,
                 CASE WHEN o_orderkey % 7 = 0 THEN v + 100 ELSE v END AS v
          FROM a WHERE o_orderkey % 11 <> 0)
    SELECT status, CAST(count(*) AS BIGINT) AS n FROM (
      SELECT CASE WHEN a.o_orderkey IS NULL THEN 'added'
                  WHEN b.o_orderkey IS NULL THEN 'removed'
                  WHEN a.v IS DISTINCT FROM b.v THEN 'changed'
                  ELSE 'same' END AS status
      FROM a FULL OUTER JOIN b ON a.o_orderkey = b.o_orderkey)
    GROUP BY status ORDER BY status
  """))

  /** Robust statistics: median absolute deviation and IQR outlier
    * fences — the outlier toolkit mean/stddev can't provide (one
    * extreme value moves the mean; the median shrugs). Two passes:
    * exact quartiles broadcast as a 1-row aggregate, then MAD and
    * fence counts in a second scan. Exact-interpolation percentiles
    * agree across engines (proven by q_value_stats). */
  private val qRobustStats = BoundQuery("q_robust_stats", (s, d) => {
    val o = Tables.orders(s, d)
    val quartiles = o.agg(
      expr("percentile(o_totalprice, 0.25D)").as("q1"),
      expr("percentile(o_totalprice, 0.5D)").as("med"),
      expr("percentile(o_totalprice, 0.75D)").as("q3"))
    o.crossJoin(broadcast(quartiles))
      .agg(
        first(col("med")).as("median"),
        expr("percentile(abs(o_totalprice - med), 0.5D)").as("mad"),
        sum(when(col("o_totalprice") < col("q1") - (col("q3") - col("q1")) * 1.5, 1L)
          .otherwise(0L)).as("low_outliers"),
        sum(when(col("o_totalprice") > col("q3") + (col("q3") - col("q1")) * 1.5, 1L)
          .otherwise(0L)).as("high_outliers"))
      .select(round(col("median"), 6).as("median"), round(col("mad"), 6).as("mad"),
        col("low_outliers"), col("high_outliers"))
  }, Some("""
    WITH q AS (SELECT quantile_cont(o_totalprice, 0.25) AS q1,
                      quantile_cont(o_totalprice, 0.5) AS med,
                      quantile_cont(o_totalprice, 0.75) AS q3
               FROM orders)
    SELECT round(med, 6) AS median,
           round((SELECT quantile_cont(abs(o_totalprice - med), 0.5)
                  FROM orders), 6) AS mad,
           CAST(sum(CASE WHEN o_totalprice < q1 - (q3 - q1) * 1.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS low_outliers,
           CAST(sum(CASE WHEN o_totalprice > q3 + (q3 - q1) * 1.5 THEN 1 ELSE 0 END) AS BIGINT)
             AS high_outliers
    FROM orders CROSS JOIN q
    GROUP BY q1, med, q3
  """))

  /** RFM customer segmentation (recency / frequency / monetary), the
    * classic CRM cube: per-customer aggregates scored into quartiles
    * by three ntile windows with total orders (metric desc, custkey),
    * then rolled up per (r,f,m) cell. Scores are rank-based so both
    * engines agree bit-exactly — no float fences anywhere.
    *
    * The ntile windows are GLOBAL but run over the per-customer
    * AGGREGATE (|customers| ≪ |orders|, the q_decile bounded-input
    * contract); the 100 TB path replaces them with fences from the
    * mergeable quantile sketch (q_kll_quantiles) at the cost of
    * approximate boundaries. */
  private val qRfm = BoundQuery("q_rfm", (s, d) => {
    val cust = Tables.orders(s, d).groupBy("o_custkey").agg(
      max(col("o_orderdate")).as("last_d"),
      count(lit(1)).as("freq"),
      sumCents(col("o_totalprice")).as("mon"))
    val scored = cust
      .withColumn("r_score", (lit(5) - ntile(4).over(
        Window.orderBy(col("last_d").desc, col("o_custkey")))).cast("long"))
      .withColumn("f_score", (lit(5) - ntile(4).over(
        Window.orderBy(col("freq").desc, col("o_custkey")))).cast("long"))
      .withColumn("m_score", (lit(5) - ntile(4).over(
        Window.orderBy(col("mon").desc, col("o_custkey")))).cast("long"))
    scored.groupBy("r_score", "f_score", "m_score").agg(
        count(lit(1)).as("n_customers"),
        sum(col("mon")).as("mon_cents"))
      .select(col("r_score"), col("f_score"), col("m_score"),
        col("n_customers"), money(col("mon_cents")).as("revenue"))
      .orderBy("r_score", "f_score", "m_score")
  }, Some("""
    WITH cust AS (
      SELECT o_custkey, max(o_orderdate) AS last_d,
        CAST(count(*) AS BIGINT) AS freq,
        CAST(sum(CAST(round(o_totalprice * 100, 0) AS BIGINT)) AS BIGINT) AS mon
      FROM orders GROUP BY 1),
    scored AS (
      SELECT o_custkey, mon,
        CAST(5 - ntile(4) OVER (ORDER BY last_d DESC, o_custkey) AS BIGINT) AS r_score,
        CAST(5 - ntile(4) OVER (ORDER BY freq DESC, o_custkey) AS BIGINT) AS f_score,
        CAST(5 - ntile(4) OVER (ORDER BY mon DESC, o_custkey) AS BIGINT) AS m_score
      FROM cust)
    SELECT r_score, f_score, m_score,
      CAST(count(*) AS BIGINT) AS n_customers,
      CAST(sum(mon) AS DOUBLE) / 100.0 AS revenue
    FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
  """))

  /** Benford first-digit audit over order totals — the data-quality
    * forensic: fabricated or truncated monetary data departs from
    * log10(1 + 1/d). Observed and expected shares are integer ppm,
    * the per-digit chi term is integer division of exact longs — a
    * one-scan groupBy on the leading digit of the cents string. */
  private val qBenford = BoundQuery("q_benford", (s, d) => {
    val digits = Tables.orders(s, d)
      .where(col("o_totalprice") > 0)
      .select(substring(cents(col("o_totalprice")).cast("string"), 1, 1)
        .cast("long").as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val tot = digits.agg(sum("n").as("t"))
    digits.crossJoin(broadcast(tot))
      .withColumn("obs_ppm", expr("(n * 1000000) div t"))
      .withColumn("exp_ppm",
        round(log(10.0, lit(1.0) + lit(1.0) / col("digit").cast("double")) * 1e6, 0)
          .cast("long"))
      .withColumn("chi_u", expr("((obs_ppm - exp_ppm) * (obs_ppm - exp_ppm)) div exp_ppm"))
      .select(col("digit"), col("n"), col("obs_ppm"), col("exp_ppm"), col("chi_u"))
      .orderBy("digit")
  }, Some("""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100, 0) AS BIGINT) AS VARCHAR), 1, 1)
               AS BIGINT) AS digit,
        CAST(count(*) AS BIGINT) AS n
      FROM orders WHERE o_totalprice > 0 GROUP BY 1),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM digits)
    SELECT digit, n,
      CAST((n * 1000000) // t AS BIGINT) AS obs_ppm,
      CAST(round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1e6, 0) AS BIGINT) AS exp_ppm,
      CAST(((n * 1000000) // t - CAST(round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1e6, 0) AS BIGINT))
           * ((n * 1000000) // t - CAST(round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1e6, 0) AS BIGINT))
           // CAST(round(log10(1.0 + 1.0 / CAST(digit AS DOUBLE)) * 1e6, 0) AS BIGINT) AS BIGINT) AS chi_u
    FROM digits CROSS JOIN tot ORDER BY digit
  """))

  /** Welch two-sample t-test between md5-split user cohorts on
    * purchase value — the A/B experiment readout (unequal variances,
    * Welch–Satterthwaite df), complementing q_chi_square's
    * independence test. Group moments come from exact cents and
    * cents² long sums (value ≤ ~1e3 → squares ≤ 1e10·rows, far
    * inside long); mean/variance/t/df are then single-shot double
    * expressions on identical operands in both engines. One scan,
    * one 2-key partial-agg groupBy, one broadcast-joined 1×1 cross —
    * trivially 100 TB-shaped. */
  private val qAbTest = BoundQuery("q_ab_test", (s, d) => {
    val g = Tables.events(s, d)
      .where(col("event_type") === "purchase")
      .withColumn("grp",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A").otherwise("B"))
      .withColumn("c", cents(col("value")))
      .groupBy("grp").agg(
        count(lit(1)).as("n"), sum("c").as("sc"), sum(col("c") * col("c")).as("ssc"))
      .withColumn("mean", col("sc").cast("double") / col("n").cast("double") / 100.0)
      .withColumn("variance",
        (col("ssc").cast("double") - col("sc").cast("double") * col("sc").cast("double")
          / col("n").cast("double")) / (col("n") - 1).cast("double") / 10000.0)
    val a = g.where(col("grp") === "A").select(col("n").as("n_a"),
      col("mean").as("mean_a"), col("variance").as("var_a"))
    val b = g.where(col("grp") === "B").select(col("n").as("n_b"),
      col("mean").as("mean_b"), col("variance").as("var_b"))
    a.crossJoin(broadcast(b))
      .withColumn("se2", col("var_a") / col("n_a") + col("var_b") / col("n_b"))
      .select(col("n_a"), col("n_b"),
        round(col("mean_a"), 6).as("mean_a"), round(col("mean_b"), 6).as("mean_b"),
        round((col("mean_a") - col("mean_b")) / sqrt(col("se2")), 6).as("t_stat"),
        round(col("se2") * col("se2") /
          ((col("var_a") / col("n_a")) * (col("var_a") / col("n_a")) / (col("n_a") - 1)
            + (col("var_b") / col("n_b")) * (col("var_b") / col("n_b")) / (col("n_b") - 1)),
          3).as("df"))
  }, Some("""
    WITH g AS (
      SELECT CASE WHEN substr(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS grp,
        CAST(count(*) AS BIGINT) AS n,
        CAST(sum(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS sc,
        CAST(sum(CAST(round(value * 100, 0) AS BIGINT)
               * CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS ssc
      FROM events WHERE event_type = 'purchase' GROUP BY 1),
    m AS (
      SELECT grp, n,
        CAST(sc AS DOUBLE) / CAST(n AS DOUBLE) / 100.0 AS mean,
        (CAST(ssc AS DOUBLE) - CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE)
          / CAST(n AS DOUBLE)) / CAST(n - 1 AS DOUBLE) / 10000.0 AS variance
      FROM g),
    ab AS (
      SELECT a.n AS n_a, b.n AS n_b, a.mean AS mean_a, b.mean AS mean_b,
        a.variance AS var_a, b.variance AS var_b,
        a.variance / a.n + b.variance / b.n AS se2
      FROM m a CROSS JOIN m b WHERE a.grp = 'A' AND b.grp = 'B')
    SELECT n_a, n_b, round(mean_a, 6) AS mean_a, round(mean_b, 6) AS mean_b,
      round((mean_a - mean_b) / sqrt(se2), 6) AS t_stat,
      round(se2 * se2 / ((var_a / n_a) * (var_a / n_a) / (n_a - 1)
        + (var_b / n_b) * (var_b / n_b) / (n_b - 1)), 3) AS df
    FROM ab
  """))

  /** Gini coefficient + top-decile share of customer revenue — the
    * inequality/concentration audit (Lorenz 1905, Gini 1912) run on
    * marketplaces and token-budget allocations alike. Uses the exact
    * rank-sum identity G = (2·Σ i·xᵢ − (n+1)·Σ xᵢ) / (n·Σ xᵢ) over
    * revenues sorted ascending — everything stays in integer cents /
    * decimal(38,0) until a final integral division to exact ppm, so
    * the output is engine-invariant with no float summation anywhere.
    *
    * Scale shape: the global ascending rank is Ranking.globalRowNumber
    * (two-phase range-partition decomposition — no single-partition
    * window); the rank-weighted products sum as decimal(38,0), whose
    * partial sums are order-invariant (exact arithmetic), so the
    * map-side-combined shuffle stays one round. Totals broadcast. */
  private val qGini = BoundQuery("q_gini", (s, d) => {
    val rev = Tables.orders(s, d).groupBy(col("o_custkey").as("ck"))
      .agg(sum(cents(col("o_totalprice"))).as("rc"))
    val tot = rev.agg(count(lit(1)).as("n"), sum(col("rc")).as("tsum"))
    val ranked = graft.operators.Ranking
      .globalRowNumber(rev, "i0", col("rc"), col("ck"))
      .crossJoin(broadcast(tot))
      .withColumn("i", col("i0") + 1)
      .withColumn("k", col("n") - expr("n div 10"))
    val agg = ranked.agg(
      max(col("n")).as("n"), max(col("tsum")).as("tsum"),
      sum((col("i") * col("rc")).cast("decimal(38,0)")).as("t_dec"),
      sum(when(col("i") <= col("k"), col("rc")).otherwise(0L))
        .as("bottom_sum"))
    agg.select(
      col("n").as("n_customers"), col("tsum").as("total_cents"),
      expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) *
                (2 * t_dec - (CAST(n AS DECIMAL(38,0)) + 1) * tsum))
              DIV (CAST(n AS DECIMAL(38,0)) * tsum) AS BIGINT)""")
        .as("gini_ppm"),
      expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) *
                (CAST(tsum AS DECIMAL(38,0)) - bottom_sum))
              DIV CAST(tsum AS DECIMAL(38,0)) AS BIGINT)""")
        .as("top10_share_ppm"))
  }, Some("""
    WITH rev AS (
      SELECT o_custkey AS ck,
             CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT)
               AS rc
      FROM orders GROUP BY 1),
    ranked AS (
      SELECT rc, row_number() OVER (ORDER BY rc, ck) AS i FROM rev),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(rc) AS BIGINT) AS tsum FROM rev)
    SELECT n AS n_customers, tsum AS total_cents,
      CAST((1000000 * (2 * sum(CAST(i AS HUGEINT) * rc)
                       - (CAST(n AS HUGEINT) + 1) * tsum))
           // (CAST(n AS HUGEINT) * tsum) AS BIGINT) AS gini_ppm,
      CAST((1000000 * (CAST(tsum AS HUGEINT)
                       - sum(CASE WHEN i <= n - n // 10
                                  THEN rc ELSE 0 END)))
           // CAST(tsum AS HUGEINT) AS BIGINT) AS top10_share_ppm
    FROM ranked, tot GROUP BY n, tsum
  """))

  /** Poisson bootstrap (Chamandy et al. 2012, "Estimating uncertainty
    * for massive data streams" — Google's one-pass bootstrap): 64
    * resample replicas of the mean order value, where each row's
    * multiplicity in replica r is an independent ~Poisson(1) draw
    * derived from the corpus's replayable arithmetic fingerprint of
    * (orderkey, r) through an exact inverse-CDF table in ppm
    * (truncated at 4 copies — cum pmf 367879/735759/919699/981012;
    * the ~1.9% tail maps to 4, a <0.5% mean-weight bias, disclosed).
    * The spread of the 64 replica means IS the sampling distribution
    * of the estimator — a CI without ever materializing a resample.
    *
    * Scale shape: THE reason this bootstrap exists — one pass, no
    * per-resample shuffle of the data: rows explode ×64 map-side,
    * combine collapses each task to 64 partial sums, and the only
    * shuffle is 64 groups wide regardless of data size. Weighted sums
    * stay in exact long cents; each replica mean is one final double
    * division of two longs. */
  private val qBootstrap = BoundQuery("q_bootstrap", (s, d) => {
    val reps = Tables.orders(s, d)
      .select(col("o_orderkey").as("ok"), cents(col("o_totalprice")).as("vc"))
      .select(col("ok"), col("vc"),
        explode(sequence(lit(0L), lit(63L))).as("r"))
      .withColumn("u6", pmod(graft.functions.TextFunctions.rollingFingerprint(
        concat_ws("|", col("ok"), col("r"))), lit(1000000L)))
      .withColumn("w", when(col("u6") < 367879L, 0L)
        .when(col("u6") < 735759L, 1L).when(col("u6") < 919699L, 2L)
        .when(col("u6") < 981012L, 3L).otherwise(4L))
    reps.groupBy("r")
      .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("vc")).as("sum_c"))
      .select(col("r").as("replica"), col("n_eff"),
        round(col("sum_c").cast("double") / col("n_eff").cast("double")
          / 100.0, 6).as("mean_value"))
      .orderBy("replica")
  }, Some("""
    WITH reps AS (
      SELECT o_orderkey AS ok,
        CAST(round(o_totalprice*100,0) AS BIGINT) AS vc,
        unnest(range(0, 64)) AS r
      FROM orders),
    h AS (
      SELECT r, vc,
        list_reduce(list_prepend(CAST(0 AS BIGINT),
          list_transform(range(1, len(CAST(ok AS VARCHAR) || '|'
              || CAST(r AS VARCHAR)) + 1),
            i -> CAST(ascii(substring(CAST(ok AS VARCHAR) || '|'
              || CAST(r AS VARCHAR), i, 1)) AS BIGINT))),
          (a, c) -> (a*31 + c) % 1000000007) % 1000000 AS u6
      FROM reps),
    w8 AS (
      SELECT r, vc,
        CASE WHEN u6 < 367879 THEN 0 WHEN u6 < 735759 THEN 1
             WHEN u6 < 919699 THEN 2 WHEN u6 < 981012 THEN 3
             ELSE 4 END AS w
      FROM h)
    SELECT CAST(r AS BIGINT) AS replica,
      CAST(sum(w) AS BIGINT) AS n_eff,
      round(CAST(sum(w * vc) AS DOUBLE) / CAST(sum(w) AS DOUBLE) / 100.0, 6)
        AS mean_value
    FROM w8 GROUP BY r ORDER BY replica
  """))

  /** Two-sample Kolmogorov–Smirnov statistic between the hash-split
    * cohorts (q_ab_test's md5 halves) over purchase values — the
    * distribution-level companion to the mean-level Welch test: KS
    * sees shape drift (variance, tails, bimodality) a t-test is blind
    * to. D = max_v |F_A(v) − F_B(v)| computed exactly: per-value
    * cohort counts, cumulated, then the cross-multiplied integer
    * |cumA·n_B − cumB·n_A| — no float CDFs anywhere; the statistic
    * emerges from ONE integral division to ppm, with the (smallest)
    * value attaining the supremum reported alongside.
    *
    * Scale shape: value-keyed count aggregation, then BOTH cumulative
    * sums run through Ranking.globalCumSum's two-phase decomposition
    * (range partitions + offset join) — no single-partition window
    * over the distinct-value set, which IS data-scaled (unlike the
    * bounded calendar domains quarantined elsewhere). The final
    * argmax is one tiny all-reduce. */
  private val qKsTest = BoundQuery("q_ks_test", (s, d) => {
    val vals = Tables.events(s, d)
      .where(col("event_type") === "purchase")
      .withColumn("grp",
        when(substring(md5(col("user_id").cast("string")), 1, 1) < "8", "A")
          .otherwise("B"))
      .select(col("grp"), cents(col("value")).as("v"))
    val perValue = vals.groupBy("v").agg(
      sum(when(col("grp") === "A", 1L).otherwise(0L)).as("ca"),
      sum(when(col("grp") === "B", 1L).otherwise(0L)).as("cb"))
    val cum = graft.operators.Ranking.globalCumSum(
      graft.operators.Ranking.globalCumSum(perValue, col("ca"), "cuma", col("v")),
      col("cb"), "cumb", col("v"))
    val tot = vals.groupBy().agg(
      sum(when(col("grp") === "A", 1L).otherwise(0L)).as("na"),
      sum(when(col("grp") === "B", 1L).otherwise(0L)).as("nb"))
    val dd = cum.crossJoin(broadcast(tot))
      .withColumn("dscaled", abs(col("cuma") * col("nb") - col("cumb") * col("na")))
    val mx = dd.agg(max(col("dscaled")).as("m"))
    dd.crossJoin(broadcast(mx)).where(col("dscaled") === col("m"))
      .groupBy(col("na"), col("nb"), col("m"))
      .agg(min(col("v")).as("at_value_cents"))
      .select(col("na").as("n_a"), col("nb").as("n_b"),
        expr("""CAST((CAST(1000000 AS DECIMAL(38,0)) * m)
                DIV (CAST(na AS DECIMAL(38,0)) * nb) AS BIGINT)""")
          .as("ks_ppm"),
        col("at_value_cents"))
  }, Some("""
    WITH vals AS (
      SELECT CASE WHEN substring(md5(CAST(user_id AS VARCHAR)), 1, 1) < '8'
                  THEN 'A' ELSE 'B' END AS grp,
             CAST(round(value*100,0) AS BIGINT) AS v
      FROM events WHERE event_type = 'purchase'),
    pv AS (
      SELECT v,
        CAST(sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
        CAST(sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS cb
      FROM vals GROUP BY 1),
    cum AS (
      SELECT v,
        CAST(sum(ca) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
          AND CURRENT ROW) AS BIGINT) AS cuma,
        CAST(sum(cb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
          AND CURRENT ROW) AS BIGINT) AS cumb
      FROM pv),
    tot AS (
      SELECT CAST(sum(CASE WHEN grp = 'A' THEN 1 ELSE 0 END) AS BIGINT) AS na,
             CAST(sum(CASE WHEN grp = 'B' THEN 1 ELSE 0 END) AS BIGINT) AS nb
      FROM vals),
    dd AS (
      SELECT v, abs(cuma * nb - cumb * na) AS dscaled, na, nb
      FROM cum, tot),
    mx AS (SELECT max(dscaled) AS m FROM dd)
    SELECT na AS n_a, nb AS n_b,
      CAST((1000000 * CAST(m AS HUGEINT))
           // (CAST(na AS HUGEINT) * nb) AS BIGINT) AS ks_ppm,
      min(v) AS at_value_cents
    FROM dd, mx WHERE dscaled = m
    GROUP BY na, nb, m
  """))

  /** EXACT global order statistics (p25/median/p75 of document length)
    * — the query q_dataset_card deliberately refuses (its per-source
    * medians come from partitioned windows; a global median through
    * one WindowExec task is the classic scale-killer) and
    * q_approx_quantiles/q_kll_quantiles only bound. This closes the
    * triangle: when the exact global quantile is genuinely required,
    * the scale-correct shape is Ranking.globalRowNumber's two-phase
    * rank + three picked type-1 order statistics (rank-k selects, the
    * q_winsorize fence convention — picked values, never
    * interpolated, so the output is engine-invariant by construction).
    *
    * Scale shape: one range-partitioned two-phase rank (no
    * single-partition window), then a 3-condition conditional-max
    * all-reduce. Cost ≈ one sort-shuffle of (value, id) pairs —
    * what an exact global quantile costs at minimum. */
  private val qGlobalMedian = BoundQuery("q_global_median", (s, d) => {
    // Round 9: exact rank statistics from the VALUE-DOMAIN histogram
    // instead of a global row number over every document. The value at
    // row rank r (ordered by n_chars, doc_id) is fully determined by
    // per-value counts — it is the smallest v with cum(≤v) ≥ r — so
    // one map-side-partial groupBy(n_chars) plus a cumulative window
    // over the DISTINCT LENGTH DOMAIN (bounded: ~thousands of rows at
    // any corpus size, the q_quantile_norm whitelist contract)
    // replaces Ranking.globalRowNumber's range-sampling job, pinned
    // persist, P×P offset join and broadcast join: 5 stages → 2,
    // 0.42 → ~0.2 s at sf0.1. Identical output by construction; the
    // doc_id tiebreak never matters for the VALUE at a rank.
    val byLen = Tables.documents(s, d).groupBy(col("n_chars"))
      .agg(count(lit(1)).as("c"))
    // NULL lengths rank LAST, as in the oracle's ORDER BY n_chars: first
    // (Spark's ascending default) would shift every rank threshold
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n_chars").asc_nulls_last)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val cum = byLen
      .withColumn("cum", sum(col("c")).over(w))
      .crossJoin(broadcast(byLen.agg(sum(col("c")).as("n"))))
    // smallest value whose cumulative count reaches the rank: min()
    // over the qualifying values
    cum.agg(
        max(col("n")).as("n_docs"),
        min(when(col("cum") >= expr("(n + 3) div 4"), col("n_chars")))
          .as("p25"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("n_chars")))
          .as("median"),
        min(when(col("cum") >= expr("(3 * n + 3) div 4"), col("n_chars")))
          .as("p75"))
  }, Some("""
    WITH ranked AS (
      SELECT n_chars,
        CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS rn
      FROM documents),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents)
    SELECT n AS n_docs,
      max(CASE WHEN rn = (n + 3) // 4 THEN n_chars END) AS p25,
      max(CASE WHEN rn = (n + 1) // 2 THEN n_chars END) AS median,
      max(CASE WHEN rn = (3 * n + 3) // 4 THEN n_chars END) AS p75
    FROM ranked, tot GROUP BY n
  """))

  /** Huber M-estimator of location (Huber 1964) by two unrolled IRLS
    * steps from the median, scale = 1.4826·MAD, tuning k = 1.345σ
    * (95% efficiency) — the robust mean between q_robust_stats'
    * median (too blunt) and the raw mean (outlier-dragged), the
    * location every monitoring threshold should anchor on. Each step
    * is ONE scan: the Huber weight min(1, k/|x−μ|) is rounded ONCE
    * per row to ppm, so the weighted sums are exact decimal integer
    * work and the step's μ is a single division — partial-sum-order
    * invariant at any parallelism, replayed verbatim in DuckDB. */
  private val qHuber = BoundQuery("q_huber", (s, d) => {
    val o = Tables.orders(s, d)
      .select(cents(col("o_totalprice")).as("x"))
    val base = o.agg(expr("percentile(x, 0.5D)").as("med"))
      .crossJoin(broadcast(o.agg(count(lit(1)).as("n"))))
    val scaled = o.crossJoin(broadcast(base))
      .agg(first(col("med")).as("med"), first(col("n")).as("n"),
        expr("percentile(abs(x - med), 0.5D)").as("mad"))
      .withColumn("k", lit(1.345) * lit(1.4826) * col("mad"))
    def wppm(mu: org.apache.spark.sql.Column) =
      round(lit(1e6) * least(lit(1.0),
        col("k") / abs(col("x").cast("double") - mu)), 0).cast("long")
    // each step CARRIES every prior model column through its 1-row
    // agg (first() of each) so step 2's readout still sees step 1's μ
    def step(muCol: String, outCol: String)(df: org.apache.spark.sql.DataFrame) = {
      val carried = df.columns.map(c => first(col(c)).as(c))
      val mu = (sum(col("w").cast("decimal(38,0)") * col("x")).cast("double")
        / sum(col("w")).cast("double")).as(outCol)
      o.crossJoin(broadcast(df))
        .withColumn("w", when(abs(col("x").cast("double") - col(muCol)) <= col("k"),
          lit(1000000L)).otherwise(wppm(col(muCol))))
        .groupBy()
        .agg(carried.head, (carried.tail :+ mu): _*)
    }
    val s1 = step("med", "mu1")(scaled)
    val s2 = step("mu1", "mu2")(s1)
    s2.select(col("n").cast("long").as("n_orders"),
      round(col("med") / 100.0, 6).as("median"),
      round(col("mad") / 100.0, 6).as("mad"),
      round(col("mu1") / 100.0, 6).as("huber_mu1"),
      round(col("mu2") / 100.0, 6).as("huber_mu2"))
  }, Some("""
    WITH o AS (SELECT CAST(round(o_totalprice*100, 0) AS BIGINT) AS x
               FROM orders),
    base AS (SELECT quantile_cont(x, 0.5) AS med,
                    CAST(count(*) AS BIGINT) AS n FROM o),
    scaled AS (
      SELECT med, n,
        (SELECT quantile_cont(abs(x - med), 0.5) FROM o) AS mad,
        1.345 * 1.4826 * (SELECT quantile_cont(abs(x - med), 0.5) FROM o) AS k
      FROM base),
    s1 AS (
      SELECT med, n, mad, k,
        CAST(sum(CAST(w AS HUGEINT) * x) AS DOUBLE)
          / CAST(sum(w) AS DOUBLE) AS mu1
      FROM (
        SELECT o.x, scaled.*,
          CASE WHEN abs(CAST(o.x AS DOUBLE) - med) <= k THEN 1000000
               ELSE CAST(round(1e6 * least(1.0,
                 k / abs(CAST(o.x AS DOUBLE) - med)), 0) AS BIGINT) END AS w
        FROM o, scaled)
      GROUP BY med, n, mad, k),
    s2 AS (
      SELECT med, n, mad, k, mu1,
        CAST(sum(CAST(w AS HUGEINT) * x) AS DOUBLE)
          / CAST(sum(w) AS DOUBLE) AS mu2
      FROM (
        SELECT o.x, s1.*,
          CASE WHEN abs(CAST(o.x AS DOUBLE) - mu1) <= k THEN 1000000
               ELSE CAST(round(1e6 * least(1.0,
                 k / abs(CAST(o.x AS DOUBLE) - mu1)), 0) AS BIGINT) END AS w
        FROM o, s1)
      GROUP BY med, n, mad, k, mu1)
    SELECT n AS n_orders,
      round(med / 100.0, 6) AS median,
      round(mad / 100.0, 6) AS mad,
      round(mu1 / 100.0, 6) AS huber_mu1,
      round(mu2 / 100.0, 6) AS huber_mu2
    FROM s2
  """))

  val all: Seq[BoundQuery] = Seq(
    qPivot, qCube, qWindowSuite, qHashSample, qSemiPrune, qUpsert,
    qProfile, qRangeJoin, qApproxQuantiles, qKllQuantiles, qHistogram,
    qCorrelation, qDecile, qZorder, qPiiScrub, qBloomPrune, qEquiDepth,
    qChiSquare, qBottomkSample, qLinreg, qWeightedSample, qTableDiff,
    qRobustStats, qRfm, qBenford, qAbTest, qGini, qBootstrap, qKsTest,
    qGlobalMedian, qHuber)
}
