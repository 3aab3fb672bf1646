package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark._

class PlansSpec extends AnyFunSuite {

  private def points = graft.sources.Tables.orders(spark, sfTiny)
    .select("o_orderkey", "o_totalprice")
  private def bands = spark.range(0, 30).select(
    col("id").as("band_id"),
    (col("id") * 15000.0).as("lo"),
    (col("id") * 15000.0 + 40000.0).as("hi"))
  private def betweenCond =
    col("o_totalprice") >= col("lo") && col("o_totalprice") <= col("hi")

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select(col("o_orderkey"), col("band_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

  private def withRule[A](body: => A): A = {
    val old = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = old :+ graft.plans.RangeJoinRewrite
    try body finally spark.experimental.extraOptimizations = old
  }

  test("RangeJoinRewrite: BETWEEN join becomes a hash join, identical results") {
    val naive = points.join(bands, betweenCond)
    assert(naive.queryExecution.executedPlan.toString.contains("NestedLoop"))
    val expected = pairs(naive)
    withRule {
      val rewritten = points.join(bands, betweenCond)
      val plan = rewritten.queryExecution.executedPlan.toString
      // the bucketed equi branch carries the data; the NestedLoop that
      // remains is the (empty here) oversized-span fallback branch
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"))
      assert(pairs(rewritten) == expected && expected.nonEmpty)
    }
  }

  test("RangeJoinRewrite handles the ranges-on-the-left orientation") {
    val expected = pairs(bands.join(points, betweenCond))
    withRule {
      val rewritten = bands.join(points, betweenCond)
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"))
      assert(pairs(rewritten) == expected)
    }
  }

  test("RangeJoinRewrite: oversized-span rows fall back losslessly instead of exploding") {
    // one band spans 1e9 price units = 1e5 buckets at width 10000 —
    // above maxBucketsPerRow (10000), so it must take the fallback
    // branch; without the guard this row alone would sequence() 100k
    // elements per row (and OOM/abort at wider spans).
    val wild = bands.union(
      spark.range(1).select(lit(999L).as("band_id"),
        lit(0.0).as("lo"), lit(1.0e9).as("hi")))
    val expected = pairs(points.join(wild, betweenCond))
    withRule {
      val rewritten = points.join(wild, betweenCond)
      assert(pairs(rewritten) == expected)
      // every point falls inside the wild band
      assert(pairs(rewritten).count(_._2 == 999L) == points.count())
    }
  }

  test("RangeJoinRewrite maxBucketsPerRow=0 sends everything to the fallback, still correct") {
    val expected = pairs(points.join(bands, betweenCond))
    withRule {
      withConf("spark.graft.rangeJoin.maxBucketsPerRow" -> "0") {
        val rewritten = points.join(bands, betweenCond)
        assert(pairs(rewritten) == expected)
      }
    }
  }

  test("RangeJoinRewrite leaves equi joins and non-interval conditions alone") {
    withRule {
      val equi = points.join(bands, col("o_orderkey") === col("band_id"))
      assert(equi.queryExecution.executedPlan.toString.contains("HashJoin"))
      // one-sided inequality: not an interval, stays a nested loop
      val half = points.join(bands, col("o_totalprice") >= col("lo"))
      assert(half.queryExecution.executedPlan.toString.contains("NestedLoop"))
    }
  }

  test("RangeJoinRewrite respects the enabled flag") {
    withRule {
      withConf("spark.graft.rangeJoin.enabled" -> "false") {
        val q = points.join(bands, betweenCond)
        assert(q.queryExecution.executedPlan.toString.contains("NestedLoop"))
      }
    }
  }

  // -------------------------------------------------------------
  // IntervalJoinRewrite (interval × interval overlap)
  // -------------------------------------------------------------

  private def ivA = spark.range(0, 400).select(
    col("id").as("a_id"),
    (col("id") * 700.0).as("a_s"),
    (col("id") * 700.0 + 2500.0).as("a_e"))
  // deliberately includes duplicate rows (same interval twice) so the
  // multiplicity-preservation claim is actually exercised
  private def ivB = spark.range(0, 300).select(
    (col("id") % 150).as("b_id"),
    ((col("id") % 150) * 1300.0 + 101.0).as("b_s"),
    ((col("id") % 150) * 1300.0 + 3600.0).as("b_e"))
  private def overlapCond =
    col("a_s") <= col("b_e") && col("b_s") <= col("a_e")

  private def ivPairs(df: org.apache.spark.sql.DataFrame): Map[(Long, Long), Long] =
    df.select(col("a_id"), col("b_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap

  private def withIvRule[A](body: => A): A = {
    val old = spark.experimental.extraOptimizations
    spark.experimental.extraOptimizations = old :+ graft.plans.IntervalJoinRewrite
    try body finally spark.experimental.extraOptimizations = old
  }

  test("IntervalJoinRewrite: overlap join becomes a hash join, identical MULTISET") {
    val naive = ivA.join(ivB, overlapCond)
    assert(naive.queryExecution.executedPlan.toString.contains("NestedLoop"))
    val expected = ivPairs(naive)
    assert(expected.nonEmpty && expected.values.exists(_ > 1),
      "fixture must contain duplicate pairs to test multiplicity")
    withIvRule {
      withConf("spark.graft.intervalJoin.bucketWidth" -> "1000.0") {
        val rewritten = ivA.join(ivB, overlapCond)
        val plan = rewritten.queryExecution.executedPlan.toString
        assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
        assert(ivPairs(rewritten) == expected)
      }
    }
  }

  test("IntervalJoinRewrite: oversized spans fall back losslessly") {
    val huge = ivB.union(spark.range(0, 1).select(
      lit(999L).as("b_id"), lit(-1.0e9).as("b_s"), lit(1.0e9).as("b_e")))
    val expected = ivPairs(ivA.join(huge, overlapCond))
    withIvRule {
      withConf("spark.graft.intervalJoin.bucketWidth" -> "1000.0",
               "spark.graft.intervalJoin.maxBucketsPerRow" -> "100") {
        assert(ivPairs(ivA.join(huge, overlapCond)) == expected)
      }
    }
  }

  test("IntervalJoinRewrite: reversed spans (s > e) route to the fallback, not dropped") {
    // a reversed "interval" can still satisfy a_s <= b_e AND b_s <= a_e
    // (e.g. [5000, 1000] vs [0, 10000]); the bucketed branch cannot
    // represent it (empty bucket sequence), so it must reach the
    // fallback branch instead of silently vanishing
    // [3500+i, 150] matches ivB's k=0 band [101, 3600]; buckets 3 vs 0
    // → span -3, unrepresentable in the bucketed branch
    val revA = ivA.union(spark.range(0, 3).select(
      (col("id") + 900L).as("a_id"),
      (lit(3500.0) + col("id")).as("a_s"), lit(150.0).as("a_e")))
    // [2400, 40] (span -2) matches ivA's id=0 row [0, 2500]
    val revB = ivB.union(spark.range(0, 1).select(
      lit(800L).as("b_id"), lit(2400.0).as("b_s"), lit(40.0).as("b_e")))
    val expected = ivPairs(revA.join(revB, overlapCond))
    assert(expected.keys.exists(_._1 >= 900L),
      "fixture must produce matches involving reversed left rows")
    assert(expected.keys.exists(_._2 == 800L),
      "fixture must produce matches involving reversed right rows")
    withIvRule {
      withConf("spark.graft.intervalJoin.bucketWidth" -> "1000.0") {
        assert(ivPairs(revA.join(revB, overlapCond)) == expected)
      }
    }
  }

  test("IntervalJoinRewrite: mixed numeric bound types still rewrite and agree") {
    // left bounds long, right bounds double — the canonical-bucket
    // Greatest must not be built over mismatched child types
    val la = spark.range(0, 200).select(col("id").as("a_id"),
      (col("id") * 700L).as("a_s"), (col("id") * 700L + 2500L).as("a_e"))
    val expected = ivPairs(la.join(ivB, overlapCond))
    withIvRule {
      withConf("spark.graft.intervalJoin.bucketWidth" -> "1000.0") {
        val rewritten = la.join(ivB, overlapCond)
        val plan = rewritten.queryExecution.executedPlan.toString
        assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"), plan)
        assert(ivPairs(rewritten) == expected)
      }
    }
  }

  test("IntervalJoinRewrite leaves BETWEEN and equi joins to other rules") {
    withIvRule {
      // point-in-interval (degenerate [p,p] interval) must NOT match —
      // that is RangeJoinRewrite's territory
      val between = points.join(bands, betweenCond)
      assert(between.queryExecution.executedPlan.toString.contains("NestedLoop"))
      val equi = ivA.join(ivB, col("a_id") === col("b_id"))
      assert(equi.queryExecution.executedPlan.toString.contains("HashJoin"))
    }
  }

  test("IntervalJoinRewrite respects the enabled flag") {
    withIvRule {
      withConf("spark.graft.intervalJoin.enabled" -> "false") {
        val q = ivA.join(ivB, overlapCond)
        assert(q.queryExecution.executedPlan.toString.contains("NestedLoop"))
      }
    }
  }

  test("IntervalJoinRewrite composes with the operator twin on real data") {
    // the declarative rewrite and operators.IntervalJoin agree on the
    // session-overlap pairs the bound q_interval_join computes
    val expected = graft.queries.Registry.queries("q_interval_join")(
      spark, sfTiny).count()
    withIvRule {
      def spans(t: String) = graft.sources.Tables.events(spark, sfTiny)
        .where(col("event_type") === t)
        .groupBy(col("user_id"), expr("unix_date(CAST(ts AS DATE))").as("dd"))
        .agg(min(unix_micros(col("ts"))).as("s"),
          max(unix_micros(col("ts"))).as("e"))
      withConf("spark.graft.intervalJoin.bucketWidth" -> "21600000000.0") {
        val a = spans("click").select(col("user_id").as("u1"),
          col("s").as("a_s"), col("e").as("a_e"))
        val b = spans("error").select(col("user_id").as("u2"),
          col("s").as("b_s"), col("e").as("b_e"))
        val joined = a.join(b, col("u1") === col("u2") &&
          col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
        assert(joined.count() == expected)
      }
    }
  }
}
