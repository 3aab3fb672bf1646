package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.queries.Registry

/** Smoke + invariants for every bound query at sf0.001. */
class RegistrySpec extends AnyFunSuite {
  import TestSpark._

  test("all queries run and produce sane schemas") {
    Registry.allQueries.foreach { q =>
      val df = q.run(spark, sfTiny)
      assert(df.schema.fields.nonEmpty, s"${q.name}: empty schema")
      val n = df.count()
      assert(n >= 0, s"${q.name}: count failed")
    }
  }

  test("query names are unique and every oracle key has a query") {
    val names = Registry.allQueries.map(_.name)
    assert(names.distinct.size == names.size)
    assert(Registry.oracles.keySet.subsetOf(Registry.queries.keySet))
  }

  test("SURVEY §2 inventory and the Registry agree (no doc drift)") {
    val survey = scala.io.Source.fromFile("SURVEY.md", "UTF-8").getLines().mkString("\n")
    val documented = "\\| (q_?[a-z0-9_]+) \\|".r
      .findAllMatchIn(survey).map(_.group(1)).toSet
      .filter(n => n.startsWith("q_") || n.matches("q\\d.*"))
    val bound = Registry.queries.keySet
    // every documented query row must be runnable...
    val missing = documented -- bound
    assert(missing.isEmpty, s"SURVEY rows with no bound query: $missing")
    // ...and every bound query must be documented
    val undocumented = bound -- documented
    assert(undocumented.isEmpty, s"bound queries missing from SURVEY: $undocumented")
    // the README's bound-query count is pinned to the Registry too
    val readme = scala.io.Source.fromFile("README.md", "UTF-8").mkString
    val counts = "Registry: (\\d+) bound queries".r
      .findAllMatchIn(readme).map(_.group(1).toInt).toSeq
    assert(counts.nonEmpty, "README states no bound-query count")
    assert(counts.forall(_ == Registry.queries.size),
      s"README says $counts bound queries; the Registry binds ${Registry.queries.size}")
  }

  test("q1 aggregates match a hand check at sf0.001") {
    val row = Registry.queries("q1_pricing_summary")(spark, sfTiny)
      .where("l_returnflag = 'A' and l_linestatus = 'F'")
      .collect()
    assert(row.length == 1)
    assert(row(0).getAs[Long]("count_order") > 0)
  }

  test("leaderboard rank is dense from 1 and urls are formatted") {
    val rows = Registry.queries("q_owner_leaderboard")(spark, sfTiny).collect()
    assert(rows.map(_.getAs[Long]("rank")).toSeq == (1L to rows.length))
    assert(rows.forall(_.getAs[String]("best_order_url")
      .startsWith("https://orders.example.com/")))
  }

  test("top-k per group respects k and ranks within group") {
    val rows = Registry.queries("q_top_brands_models")(spark, sfTiny).collect()
    val byBrand = rows.groupBy(_.getAs[String]("brand"))
    assert(byBrand.size <= 5)
    byBrand.values.foreach { g =>
      assert(g.length <= 5)
      assert(g.map(_.getAs[Long]("rnk")).sorted.toSeq == (1L to g.length))
    }
  }

  test("bench30 is a frozen, resolvable, oracle-backed 30-query set") {
    // tpch10, Bench's other frozen subtotal, is pinned the same way
    Seq("bench30" -> (Registry.bench30, 30), "tpch10" -> (Registry.tpch10, 10))
      .foreach { case (set, (qs, size)) =>
        assert(qs.length == size, s"$set size")
        assert(qs.map(_.name).distinct.length == size, s"$set has duplicates")
        // regression visibility needs a DuckDB twin for every member
        val noOracle = qs.filter(_.oracle.isEmpty).map(_.name)
        assert(noOracle.isEmpty, s"$set members without oracle: $noOracle")
        // none of the 12 cross-round headliners may be double-counted here
        val overlap = qs.map(_.name).toSet intersect Registry.headlines.map(_.name).toSet
        assert(overlap.isEmpty, s"$set overlaps headliners: $overlap")
      }
    assert(Registry.bench30Names.toSet.intersect(Registry.tpch10Names.toSet).isEmpty,
      "bench30 and tpch10 share members")
  }
}
