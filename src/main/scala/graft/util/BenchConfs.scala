package graft.util

import org.apache.spark.sql.SparkSession

/** The one session recipe. Every graft SparkSession (Bench, Verify, the
  * test session, the data generators) is built by [[session]], so the
  * oracle dump, the specs and the graded bench all plan under the same
  * shuffle width, broadcast threshold and lints. A plan observed under
  * a different conf is evidence about a different query.
  *
  * Why these values:
  * - advisoryPartitionSizeInBytes=2m and autoBroadcastJoinThreshold=64m:
  *   at tens-of-MB shuffle sizes AQE's default 64 MB advisory coalesces
  *   post-shuffle stages below the core count, and the 10 MB broadcast
  *   default shuffle-joins dimension tables that fit in memory many
  *   times over (sf1 knob study, BASELINE.md: tpch10 11.7 → 10.5 s).
  * - initialPartitionNum=8×cores: AQE can coalesce post-shuffle
  *   partitions but never split non-skewed ones, so a static width
  *   equal to the core count spills as soon as one shuffle outgrows
  *   executor memory. Start wide and let the 2 MB advisory coalesce
  *   small stages back down (sf1 q_triangles 242 → 61 s).
  * - codegen.fallback=false: a whole-stage method janino rejects
  *   (>64 KB) fails its query instead of silently running interpreted.
  * - nanosAsLong: events.parquet carries TIMESTAMP(NANOS)
  *   (see graft.sources.Tables).
  * - outputTimestampType=TIMESTAMP_MICROS: written timestamps are
  *   microseconds (never INT96), so pyarrow and DuckDB read them alike.
  */
object BenchConfs {

  /** Cores for a local session: `SPARK_GRAFT_CPUS`, default 4. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.trim.toInt)

  /** The `local[cpus]` session under the standard confs, log level WARN.
    * `warehouse` places managed tables (a deployment path, not a
    * planner conf). */
  def session(cpus: Int = BenchConfs.cpus,
              warehouse: Option[String] = None): SparkSession = {
    val b = apply(SparkSession.builder().master(s"local[$cpus]"), cpus.toString)
    warehouse.foreach(b.config("spark.sql.warehouse.dir", _))
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Apply the standard confs for `cpus` cores to `b`. Master is not set
    * here; [[session]] sets `local[cpus]`. */
  def apply(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2m")
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus.toInt * 8).toString)
      .config("spark.sql.autoBroadcastJoinThreshold", "64m")
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
}
