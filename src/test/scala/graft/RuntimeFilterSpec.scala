package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** The two runtime-filtering features a 1000-executor plan lives on,
  * PROVEN firing rather than assumed from docs:
  *
  *  - DYNAMIC PARTITION PRUNING: a fact table partitioned by a dim
  *    key must scan only the partitions the filtered dim side selects
  *    — at 100 TB this is the difference between reading one day and
  *    reading the lake. Pinned on the scan's dynamicpruning subquery
  *    AND on the actual files read.
  *  - RUNTIME BLOOM-FILTER JOIN PREJUDICE: a selective non-partition
  *    join should inject a bloom_filter_might_contain predicate into
  *    the probe-side scan, discarding rows before the shuffle.
  */
class RuntimeFilterSpec extends AnyFunSuite {
  import TestSpark._

  test("dynamic partition pruning reaches the fact scan and the file list") {
    val dir = java.nio.file.Files.createTempDirectory("dpp").toString
    graft.sources.Tables.documents(spark, sfTiny)
      .write.mode("overwrite").partitionBy("source").parquet(s"$dir/fact")
    val confs = Seq(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "true",
      // tiny test tables: disable the benefit heuristics so the
      // feature itself (not its cost model) is what's under test
      "spark.sql.optimizer.dynamicPartitionPruning.useStats" -> "false",
      "spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio" -> "100.0")
    withConf(confs: _*) {
      val fact = spark.read.parquet(s"$dir/fact")
      val sources = fact.select("source").distinct()
        .collect().map(_.getString(0)).sorted
      assert(sources.length >= 2, "fixture needs several partitions")
      val keep = sources.take(1)
      import spark.implicits._
      // the dim carries the filter and must be a FILE scan: a local
      // relation folds the predicate away before the DPP rule can see
      // a selective filter on the pruning side
      sources.map(s => (s, if (keep.contains(s)) 1 else 0))
        .toSeq.toDF("src", "flag")
        .write.mode("overwrite").parquet(s"$dir/dim")
      val dim = spark.read.parquet(s"$dir/dim")
      val q = fact.join(dim, fact("source") === dim("src"))
        .where(col("flag") === 1)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("dynamicpruning") ||
        plan.contains("dynamicpruningexpression"),
        s"no dynamic pruning subquery in:\n$plan")
      assert(q.collect().forall(_.getAs[String]("source") == keep.head))
      // runtime proof: the fact scan's metrics show ONE partition
      // actually read (inputFiles is a static listing — useless here)
      // manual traversal: AQE hides executed stages inside
      // AdaptiveSparkPlanExec/QueryStageExec leaves that collect()
      // does not descend into
      def scans(p: org.apache.spark.sql.execution.SparkPlan)
          : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
        val here = p match {
          case f: org.apache.spark.sql.execution.FileSourceScanExec
            if f.output.exists(_.name == "doc_id") => Seq(f)
          case _ => Seq.empty
        }
        val kids = p match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            Seq(a.executedPlan)
          case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
            Seq(qs.plan)
          case o => o.children
        }
        here ++ kids.flatMap(scans) ++ p.subqueries.flatMap(scans)
      }
      val factScan = scans(q.queryExecution.executedPlan).head
      val partsRead = factScan.metrics("numPartitions").value
      assert(partsRead == 1L,
        s"fact scan read $partsRead partitions, expected 1 of ${sources.length}")
    }
  }

  test("runtime bloom filter injects a probe-side might_contain predicate") {
    val dir = java.nio.file.Files.createTempDirectory("rbf").toString
    // fact large-ish, build side selective — the injection preconditions
    spark.range(0, 200000).select(col("id"), (col("id") % 5000).as("k"))
      .write.mode("overwrite").parquet(s"$dir/fact")
    spark.range(0, 5000).select(col("id").as("k"))
      .write.mode("overwrite").parquet(s"$dir/dim")
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      // force a shuffle join so the filter has a shuffle to save
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    withConf(confs: _*) {
      val fact = spark.read.parquet(s"$dir/fact")
      // the selective predicate must exist as a Filter node at
      // optimization time — that is what marks the creation side
      val dim = spark.read.parquet(s"$dir/dim")
        .where(col("k") % 100 === 0)
      val q = fact.join(dim, "k")
      val plan = q.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter in:\n$plan")
      assert(q.count() == 50L * 40L) // 50 surviving keys × 40 fact rows each
    }
  }
}
