package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Cleaning, Pagination, Search, Sessionize, TopKPerGroup, Upsert}
import graft.queries.Registry
import graft.sources.Tables

/** How an operation's result leaves the engine. */
sealed trait Sink
/** Fetch the full result to the driver, as an endpoint does. */
case object Collect extends Sink
/** Materialise every row and column, then discard them. */
case object Noop extends Sink
/** Write real files through `Tables.write*`; `readBack` reads them again
  * for the correctness check. */
final case class Write(write: (DataFrame, String) => Unit,
                       readBack: (SparkSession, String) => DataFrame) extends Sink

/** One operation of a workload. `key` names its result for the check
  * and is unique per distinct (template, parameters) pair; `oracle` is
  * the Registry's DuckDB SQL when the op is a Registry query. */
final case class Op(key: String, template: String, build: SparkSession => DataFrame,
                    sink: Sink, oracle: Option[String] = None)

object Ops {
  private lazy val registry = Registry.allQueries.map(q => q.name -> q).toMap

  def registryOp(name: String, dir: String, sink: Sink): Op = {
    val q = registry.getOrElse(name, sys.error(s"unknown Registry query $name"))
    Op(name, name, s => q.run(s, dir), sink, q.oracle.map(_.trim))
  }

  /** Iterative operators: per-round jobs, checkpoints and persists. A
    * slice of the graph and ML families, cut so that the cold pass, the
    * measured passes and the check of one run take about half a minute
    * on 4 cores; q_pagerank alone takes longer than that cold. */
  val iterativeNames: Seq[String] = Seq("q_kcore", "q_kmeans")

  private def customerRows(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select("c_custkey", "c_name", "c_mktsegment", "c_acctbal")

  /** A serve request: `fields` is one line of the generated request
    * stream, `key \t template \t params...`. */
  def request(fields: Array[String], dir: String): Op = {
    val key = fields(0)
    fields(1) match {
      case "page" =>
        Op(key, "page", s => Pagination.page(customerRows(s, dir), Seq(col("c_custkey")),
          pageNo = fields(2).toInt, pageSize = 20), Collect)
      case "keyset" =>
        val last = fields(2).toLong
        Op(key, "keyset", s => Pagination.keysetPage(customerRows(s, dir), col("c_custkey"),
          if (last < 0) None else Some(lit(last)), pageSize = 20), Collect)
      case "search" =>
        val brands = fields(5).split(',').toSeq
        Op(key, "search", s => Search.search(Tables.part(s, dir),
            keyword = Some(fields(2)),
            keywordFields = Seq(col("p_name"), col("p_type")),
            range = Some((col("p_retailprice"), lit(fields(3).toDouble), lit(fields(4).toDouble))),
            tokenCol = Some(col("p_brand")), tokens = brands, dedupKey = Seq("p_partkey"))
          .select(col("p_partkey").as("partkey"), col("p_name").as("name"),
            col("p_brand").as("brand"), col("p_retailprice").as("price"))
          .orderBy("partkey"), Collect)
      case "topk" =>
        Op(key, "topk", s => TopKPerGroup.topK(customerRows(s, dir), Seq(col("c_mktsegment")),
          Seq(desc("c_acctbal"), col("c_custkey")), fields(2).toInt), Collect)
      case name => registryOp(name, dir, Collect).copy(key = key)
    }
  }

  // ---- etl: the shape of the reference's cleaning and adjust scripts ----

  private def parquetOut(partitionBy: String, sortBy: String): Write =
    Write((df, p) => Tables.writeParquet(df, p, Seq(partitionBy), Seq(sortBy)),
      (s, p) => s.read.parquet(p))

  private def jsonOut(schema: StructType): Write =
    Write((df, p) => Tables.writeJson(df, p), (s, p) => Tables.readJson(s, p, schema))

  /** `changes` is the generated change set for customer; `gapMinutes`
    * the generated session gap. */
  def etl(dir: String, changes: String, gapMinutes: Long): Seq[Op] = Seq(
    Op("etl_lineitem_clean", "etl_lineitem_clean", s => {
      val li = Tables.lineitem(s, dir)
      val nulled = Cleaning.nullifySentinels(li, "l_returnflag", Seq("N"))
      val imputed = Cleaning.imputeDefault(nulled, "l_returnflag", lit("U"))
      Cleaning.clamp(imputed, "l_quantity", 5.0, 45.0)
    }, parquetOut("l_returnflag", "l_shipdate")),
    registryOp("q_clean_pipeline", dir, jsonOut(StructType(Seq(
      StructField("doc_id", LongType), StructField("lang_clean", StringType),
      StructField("source", StringType), StructField("n_chars", LongType))))),
    Op("etl_customer_upsert", "etl_customer_upsert", s => {
      val base = Tables.customer(s, dir)
      Upsert.applyChanges(base, s.read.parquet(changes), "c_custkey",
        col("version"), col("change_id"))
    }, parquetOut("op", "c_custkey")),
    Op("etl_sessions", "etl_sessions", s =>
      Sessionize.sessionStats(Tables.events(s, dir), col("user_id"), col("ts_ns"),
        gapMinutes * 60L * 1000000000L),
      jsonOut(StructType(Seq(StructField("key", LongType), StructField("n_sessions", LongType),
        StructField("n_events", LongType), StructField("events_per_session", DoubleType)))))
  )


  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}
