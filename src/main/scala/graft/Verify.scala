package graft

import java.nio.file.{Files, Paths}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg (local use): comma-separated query names to dump
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    // the graded bench conf (util.BenchConfs); its codegen.fallback=false
    // makes a whole-stage method janino rejects fail that query's dump
    val spark = graft.util.BenchConfs.session()
    new java.io.File(outDir).mkdirs()
    // Dump queries a few at a time: Spark's scheduler interleaves the
    // independent jobs (planning/IO of one overlaps compute of
    // another). Sessions are thread-safe; failures stay per-query.
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val dumps = SparkEntry.queries.toSeq
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
      Future {
        // scope: unpersist THIS query's operator-internal caches once
        // its dump finishes — ~125 queries in one session would
        // otherwise accumulate every intermediate cache block
        try graft.util.CacheScope.withScope {
          val df = fn(spark, sfDir)
          // Window lint rides the gate too: an unpartitioned window
          // outside WindowLint's bounded-input whitelist fails the
          // dump (pre-AQE sparkPlan — partitionSpec is plan-static).
          graft.plans.WindowLint.check(name, df.queryExecution.sparkPlan)
            .foreach(msg => sys.error(msg))
          df.coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    Await.result(Future.sequence(dumps), Duration.Inf)
    pool.shutdown()
    // oracle dump + escape rules live in util.JsonOut (shared with
    // Bench's same-session DuckDB co-reading since round 7)
    graft.util.JsonOut.dumpOracleSql(outDir)
    // Machine-generated ledger counts (round-5 verdict item 7): commit
    // messages and round summaries must quote THESE numbers, never a
    // hand-typed count (the r5 "432 vs 429" prose drift). Printed to
    // stdout and dumped beside the oracle SQL so the artifact travels
    // with the round.
    val counts = s"bound_queries=${SparkEntry.queries.size} " +
      s"oracle_sql=${SparkEntry.oracleSql.size}"
    println(s"[verify] $counts")
    Files.writeString(Paths.get(s"$outDir/counts.txt"), counts + "\n")
    spark.stop()
  }
}
