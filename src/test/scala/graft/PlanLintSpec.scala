package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.joins.CartesianProductExec
import graft.queries.Registry

/** Lint: a CartesianProductExec pairs EVERY left partition with every
  * right partition — O(n·m) rows AND O(p²) tasks, the plan shape that
  * detonates first at 100 TB. The house rule is that any cross join
  * must be `crossJoin(broadcast(<tiny agg>))` (the scalar-subquery
  * pattern), which plans as BroadcastNestedLoopJoin over a 1-row
  * side, never CartesianProduct. Like WindowLintSpec, this walks
  * EVERY bound query's physical plan so a future query that slips
  * into a true cartesian fails CI instead of shipping; legitimate
  * exceptions would need an explicit whitelist entry here.
  */
class PlanLintSpec extends AnyFunSuite {
  import TestSpark._

  /** query name -> why its cartesian is bounded (currently none). */
  private val whitelist: Map[String, String] = Map.empty

  test("no bound query plans a CartesianProduct") {
    withConf("spark.sql.adaptive.enabled" -> "false") {
      val offenders = Registry.allQueries.flatMap { q =>
        val plan =
          try q.run(spark, sfTiny).queryExecution.executedPlan
          catch { case e: Throwable => fail(s"${q.name} failed to plan: $e") }
        val carts = plan.collect { case c: CartesianProductExec => c }
        if (carts.nonEmpty) Some(q.name -> carts.size) else None
      }.toMap
      val unexplained = offenders.keySet -- whitelist.keySet
      assert(unexplained.isEmpty,
        s"queries planning a true CartesianProduct (broadcast the small side " +
          s"or add an equi key): ${unexplained.toSeq.sorted.map(n => s"$n(${offenders(n)})").mkString(", ")}")
      val stale = whitelist.keySet -- offenders.keySet
      assert(stale.isEmpty, s"stale cartesian whitelist entries: ${stale.toSeq.sorted.mkString(", ")}")
    }
  }
}
