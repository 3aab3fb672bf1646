package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark._

/** Bucketed tables co-locate join keys at write time — the
  * pre-shuffle strategy for repeated large-large joins at 100 TB
  * (SURVEY §5). This spec proves the bucketed join plan has no
  * shuffle exchange on either side. */
class BucketingSpec extends AnyFunSuite {

  test("bucketed-bucketed join plans without a shuffle exchange") {
    // managed tables land in the session's default warehouse dir and
    // are dropped (files included) in the finally block
    val ord = graft.sources.Tables.orders(spark, sfTiny)
    val li = graft.sources.Tables.lineitem(spark, sfTiny)
    graft.sources.Tables.writeBucketed(ord, "orders_b", 8,
      Seq("o_orderkey"), Seq("o_orderkey"))
    graft.sources.Tables.writeBucketed(li, "lineitem_b", 8,
      Seq("l_orderkey"), Seq("l_orderkey"))
    val joined = spark.table("lineitem_b")
      .join(spark.table("orders_b"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus").count()
    // disable broadcast so the join strategy itself is exercised
    try withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val plan = joined.queryExecution.executedPlan.toString
      val joinSection = plan.split("HashAggregate").last
      assert(joinSection.contains("SortMergeJoin") || plan.contains("SortMergeJoin"),
        s"expected SMJ in:\n$plan")
      // no Exchange on the JOIN keys: bucketing supplied the hash
      // distribution (the rollup's own status-key exchange is expected)
      assert(graft.tools.PlanChecks.shuffleExchangesOn(joined, "l_orderkey").isEmpty &&
             graft.tools.PlanChecks.shuffleExchangesOn(joined, "o_orderkey").isEmpty,
        s"bucketed join still shuffles join keys:\n$plan")
      assert(graft.tools.PlanChecks.shuffleExchangesOn(joined, "o_orderstatus").nonEmpty,
        "sanity: the rollup's own status-key exchange should exist")
      assert("Bucketed: true".r.findAllIn(plan).length == 2, plan)
      val expected = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = joined.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == expected)
    } finally {
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("salted aggregate matches the direct groupBy exactly") {
    val li = graft.sources.Tables.lineitem(spark, sfTiny)
    val salted = graft.operators.SkewTools.saltedAggregate(
      li, Seq("l_returnflag"), col("l_orderkey"),
      Map("q" -> graft.functions.Num.cents(col("l_quantity"))))
      .collect().map(r => (r.getAs[String]("l_returnflag"),
        r.getAs[Long]("cnt"), r.getAs[Long]("q"))).toSet
    val direct = li.groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        sum(graft.functions.Num.cents(col("l_quantity"))).as("q"))
      .collect().map(r => (r.getAs[String]("l_returnflag"),
        r.getAs[Long]("cnt"), r.getAs[Long]("q"))).toSet
    assert(salted == direct)
  }
}
