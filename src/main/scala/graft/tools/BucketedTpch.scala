package graft.tools

import graft.Bench

/** Plain-vs-bucketed layout A/B for the sf100 shuffle-join headliners
  * (round-8 verdict item 1): q8/q10/q13/q22 are the four tpch10 lines
  * that read >2× DuckDB at sf100, all attributed to the distributed
  * scan+exchange floor. The 100 TB design answer to that floor is the
  * LAYOUT — pay the join-key shuffle once at ingest (bucketed tables,
  * BucketingSpec's exchange-free SMJ shape) and never again per query.
  * This tool measures exactly that trade on the real queries:
  *
  *   1. writes bucket-materialized twins of the join-heavy tables
  *      into a throwaway warehouse — lineitem/orders on o_orderkey
  *      (the fact-fact join q8/q10 pay), orders/customer on custkey
  *      (the joins q13/q22 pay; q10's customer join too);
  *   2. times each query against the PLAIN parquet layout, then
  *      installs Tables.overlay entries pointing the SAME bound query
  *      code at the bucketed tables and times again (untimed warm-up +
  *      best-of-2 per layout, the Bench convention, one CacheScope per
  *      section);
  *   3. prints one JSON line with both timings per query + loadavg
  *      stamps, for the BASELINE.md A/B table.
  *
  * Usage: runMain graft.tools.BucketedTpch <sfDir> [skipWrite]
  *   SPARK_GRAFT_CPUS / SPARK_DRIVER_MEM as Bench; `skipWrite` reuses
  *   an existing warehouse from a previous run (the write is the slow
  *   one-time ingest cost — reported too, it's part of the trade).
  */
object BucketedTpch {

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val skipWrite = args.lift(1).contains("skipWrite")
    val warehouse = sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE",
      "/tmp/graft_bucketed_warehouse")
    // Bench's session, so the plain side reproduces the graded numbers
    val spark = graft.util.BenchConfs.session(warehouse = Some(warehouse))
    val buckets = graft.util.BenchConfs.cpus

    def la(): String = Bench.loadavg()
    val laStart = la()

    // --- one-time ingest: the bucketed twins --------------------------
    // skipWrite re-attaches the previous run's bucket files: the
    // default catalog is in-memory (metadata dies with the JVM), but
    // the LAYOUT is in the filenames — a CREATE TABLE ... CLUSTERED BY
    // over the same LOCATION with the same bucket spec reads them as
    // bucketed again.
    def reattach(table: String, bucketCol: String): Unit = {
      val loc = s"$warehouse/$table"
      val schema = spark.read.parquet(loc).schema.toDDL
      spark.sql(s"""CREATE TABLE $table ($schema) USING parquet
        CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol)
        INTO $buckets BUCKETS LOCATION '$loc'""")
    }
    val writeSecs: Double =
      if (skipWrite) {
        reattach("lineitem_bo", "l_orderkey")
        reattach("orders_bo", "o_orderkey")
        reattach("orders_bc", "o_custkey")
        reattach("customer_bc", "c_custkey")
        0.0
      }
      else {
        val t0 = System.nanoTime()
        graft.sources.Tables.writeBucketed(
          graft.sources.Tables.lineitem(spark, sfDir), "lineitem_bo",
          buckets, Seq("l_orderkey"), Seq("l_orderkey"))
        graft.sources.Tables.writeBucketed(
          graft.sources.Tables.orders(spark, sfDir), "orders_bo",
          buckets, Seq("o_orderkey"), Seq("o_orderkey"))
        graft.sources.Tables.writeBucketed(
          graft.sources.Tables.orders(spark, sfDir), "orders_bc",
          buckets, Seq("o_custkey"), Seq("o_custkey"))
        graft.sources.Tables.writeBucketed(
          graft.sources.Tables.customer(spark, sfDir), "customer_bc",
          buckets, Seq("c_custkey"), Seq("c_custkey"))
        (System.nanoTime() - t0) / 1e9
      }

    val byName = graft.queries.Registry.allQueries.map(q => q.name -> q).toMap
    def timeOnce(name: String): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        byName(name).run(spark, sfDir).count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        System.err.println(s"[bucketed] $name failed: ${e.getMessage}"); None
      }
    }
    // Bench's section semantics: untimed warm-up, then best-of-2, one
    // cache scope per (layout, query set)
    def section(names: Seq[String]): Map[String, Option[Double]] =
      graft.util.CacheScope.withScope {
        names.foreach(timeOnce) // warm-up (JIT + codegen + page cache)
        names.map(n => n -> Bench.pairedTime(timeOnce(n), timeOnce(n))).toMap
      }

    def withOverlays[T](m: Map[String, String])(body: => T): T = {
      val prev = m.toSeq.map { case (name, table) =>
        (name, graft.sources.Tables.overlay(spark, sfDir, name,
          spark.table(table)))
      }
      try body
      finally prev.foreach { case (name, p) =>
        graft.sources.Tables.restore(spark, sfDir, name, p) }
    }

    val ordQs = Seq("q8_market_share", "q10_returned_items")
    val custQs = Seq("q13_order_distribution", "q22_dormant_customers")

    val plain = section(ordQs ++ custQs)
    val bucketedOrd = withOverlays(Map(
      "lineitem" -> "lineitem_bo", "orders" -> "orders_bo")) {
      section(ordQs)
    }
    val bucketedCust = withOverlays(Map(
      "orders" -> "orders_bc", "customer" -> "customer_bc")) {
      section(custQs)
    }
    val bucketed = bucketedOrd ++ bucketedCust

    def j(m: Map[String, Option[Double]], q: String): String =
      m.get(q).flatten.fold("null")(_.toString)
    val body = (ordQs ++ custQs).map { q =>
      s""""$q":{"plain":${j(plain, q)},"bucketed":${j(bucketed, q)}}"""
    }.mkString(",")
    println(s"""{"bucketed_ab":{$body},"write_secs":$writeSecs,"buckets":$buckets,"loadavg_start":"$laStart","loadavg_end":"${la()}","sf":"$sfDir"}""")
    spark.stop()
  }
}
