package graft

import org.apache.spark.sql.SparkSession

/** Shared local session for specs (one JVM-wide session; Test/fork),
  * built by the same recipe as Bench and Verify. */
object TestSpark {
  lazy val spark: SparkSession = {
    // the graded conf (util.BenchConfs), at 4 cores whatever the box
    val s = graft.util.BenchConfs.session(4)
    // Fixture-window noise control (round-5 verdict item 8): spec
    // fixtures and oracle replays execute the whitelisted bounded-input
    // windows thousands of times, and WindowExec's per-execution "No
    // Partition Defined" WARN drowned any NEW warning (11k lines in the
    // r5 test log). The raw logger is silenced here and REPLACED by the
    // listener below, which prints one deduped "[window-lint]" line per
    // DISTINCT bare-window shape — so the test log carries ~whitelist-
    // size lines and a new unpartitioned window is visible again. The
    // hard gate is unchanged: every bound query's plan still goes
    // through graft.plans.WindowLint at Verify dump time.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window",
      org.apache.logging.log4j.Level.ERROR)
    val seenBare = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    s.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             durationNs: Long): Unit =
        graft.plans.WindowLint.bareWindows(qe.sparkPlan).foreach { w =>
          val key = w.nodeName + " " + w.output.map(_.name).mkString(",")
          if (seenBare.add(key))
            // scalastyle:off println — deliberate: one line per distinct shape
            println(s"[window-lint] bare (unpartitioned) window executed in tests: $key")
        }
      override def onFailure(funcName: String,
                             qe: org.apache.spark.sql.execution.QueryExecution,
                             exception: Exception): Unit = ()
    })
    s
  }
  val sfTiny = "/root/testdata/sf0.001"

  /** Runs `body` with the given session confs set, then restores each
    * key's previous value, or unsets a key that had none. */
  def withConf[T](kvs: (String, String)*)(body: => T): T = {
    val saved = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
