package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Schema-ful table registry over the driver-generated testdata
  * (TESTDATA.md). Mirrors the reference's explicit-schema ingest
  * (reference main.py:142 — `spark.read.schema(schema).json`) done
  * Spark-first: parquet scans so Catalyst gets column pruning and
  * filter pushdown for free; at 100 TB every query still starts from
  * a pruned columnar scan, never a full-row materialization.
  */
object Tables {
  val all: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** `events.ts` is parquet TIMESTAMP(NANOS); Spark 4 rejects it
    * (PARQUET_TYPE_ILLEGAL) unless read as a raw ns-epoch long via the
    * legacy conf. We expose both `ts_ns` (exact long, equals DuckDB
    * `epoch_ns(ts)`) and `ts` (microsecond-truncated timestamp for
    * calendar functions). Integer `div` — a double division of a
    * ~1.7e18 ns epoch would lose precision past 2^53.
    */
  private val registry =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String), DataFrame]()

  /** Memoized per (session, dir, name): repeated loads of a table
    * return the same DataFrame object, so a later `warm()` persist is
    * visible to every query — the reference's architecture (main.py:147
    * caches the served DataFrame once and every endpoint reuses it). */
  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    registry.computeIfAbsent((System.identityHashCode(spark).toString, dir, name), _ =>
      if (name == "events") {
        // The driver's events.ts has shipped as BOTH parquet
        // TIMESTAMP(NANOS) (read as a ns-epoch long under
        // nanosAsLong) and TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ)
        // across rounds. Normalize either encoding to the same pair
        // the whole query surface consumes: ts_ns (exact ns-epoch
        // long, trailing zeros when the source is µs) + ts (µs
        // TimestampType). Session timezone is pinned UTC by every
        // entrypoint, so the NTZ cast is the identity on the naive
        // clock reading — same instant DuckDB's epoch_us(ts) sees.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = spark.read.parquet(s"$dir/events.parquet")
        val normalized = raw.schema("ts").dataType match {
          case org.apache.spark.sql.types.LongType =>
            raw.withColumnRenamed("ts", "ts_ns")
          case _ =>
            raw.select(col("event_id"),
              expr("unix_micros(cast(ts as timestamp)) * 1000").as("ts_ns"),
              col("user_id"), col("event_type"), col("value"), col("props"))
        }
        normalized.withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      } else {
        spark.read.parquet(s"$dir/$name.parquet")
      })

  /** Persist every table of a directory (lazy — materialized on first
    * use). Long-lived service mode, mirroring the reference's
    * `df.cache()`; batch one-shot jobs skip this.
    *
    * Measured note (sf0.1, local[32]): the testdata ships one
    * single-row-group file per table, so the cache holds ONE partition
    * per table. An unconditional repartition-before-persist was tried
    * and REGRESSED the bench ~35% — at tens of MB the extra exchange
    * and 32-way task overhead cost more than the scan parallelism
    * wins. But the SAME single-file shape above ~100 MB is the
    * file-bound starvation util.Spread guards against: sf1's 113 MB
    * lineitem.parquet is one input split, so every downstream scan
    * stage ran ONE core of 32 (measured: tpch10 at sf1 16.8 s → see
    * BASELINE.md round-5 appendix). So the spread is SIZE-GATED:
    * tables whose scan is ≥ 16 MB yet still under defaultParallelism
    * partitions are repartitioned before persisting (and the memoized
    * registry entry swapped so every query reads the spread cache).
    * Tiny sf0.1 tables stay exactly as before; real multi-file
    * inputs already exceed the parallelism and are untouched.
    *
    * ORDERING CONTRACT (round-5 advice item): warm() swaps the
    * memoized registry entry to the spread DataFrame, so a DataFrame
    * obtained via load() BEFORE warm() retains the unspread plan and
    * silently misses the spread cache. Every entrypoint (Bench,
    * Verify's table-first queries, service mode) therefore calls
    * warm() before issuing queries; query code always goes through
    * load()/the named accessors at run time (never caches a
    * DataFrame across warm()), which this registry makes cheap.
    *
    * SIZE-GATED (round-8 verdict item 4): warm() used to be
    * all-or-nothing, and the sf100 fixtures needed an operator-level
    * SPARK_GRAFT_NO_WARM escape because the cached facts outgrow the
    * heap (MEMORY_AND_DISK then churns serialization + disk for
    * tables a plain parquet re-read serves faster via the OS page
    * cache). Now each table is cached only while the BUDGET — the
    * session's own storage region, spark.memory.fraction ×
    * spark.memory.storageFraction of (heap − 300 MB reserved),
    * overridable via spark.graft.warm.heapFraction — still fits its
    * estimated CACHED size (parquet scan bytes × CachedExpansion,
    * measured on the sf0.1 fixtures). Tables are considered smallest
    * first, so at sf100 the big facts fall out automatically while
    * every dimension stays warm — the exact degradation a long-lived
    * service wants, no env knob required. */
  def warm(spark: SparkSession, dir: String): Unit = {
    val budget = warmBudgetBytes(spark)
    // A directory may carry only a SUBSET of the registry (the round-9
    // ScaleUp `tables` arg writes e.g. documents/embeddings-only scale
    // fixtures; a real deployment likewise warms the tables it has,
    // not a fixed catalog). Absent tables are skipped, not fatal —
    // queries that need them still fail loudly at load() time.
    val present = all.filter { n =>
      val p = new org.apache.hadoop.fs.Path(s"$dir/$n.parquet")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val sized = present.map { n =>
      val df = load(spark, dir, n)
      val scanBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      (n, df, scanBytes * CachedExpansion)
    }
    val chosen = warmSelection(sized.map(t => (t._1, t._3)), budget)
    sized.foreach { case (n, df, _) =>
      if (chosen(n)) {
        val p = spark.sparkContext.defaultParallelism
        val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
        val spread =
          if (bytes >= (16L << 20) && graft.util.Spread.estimatedPartitions(df) < p)
            df.repartition(p)
          else df
        if (spread ne df)
          registry.put((System.identityHashCode(spark).toString, dir, n), spread)
        spread.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }
    }
  }

  /** Parquet-scan bytes → in-memory-columnar cached bytes, MEASURED
    * (cached size over scan stats per table, sf0.1 fixtures): the cache
    * re-encodes snappy parquet into Spark's compressed columnar
    * batches, which land anywhere from 0.32× (region — parquet footer
    * overhead dominates tiny files) to 3.32× (lineitem — low-entropy
    * numeric columns that snappy squeezed hard) the scan stats; 4
    * bounds the measured max so the gate errs toward NOT caching a
    * borderline fact table (falling out costs a re-scan the OS page
    * cache largely absorbs; caching past the storage region costs
    * eviction churn on every query). */
  private[graft] val CachedExpansion: Int = 4

  /** The session's storage-region budget for warm(): heap minus
    * Spark's 300 MB reserved system memory, × spark.memory.fraction ×
    * spark.memory.storageFraction (the region cached blocks occupy
    * without eviction pressure — defaults 0.6 × 0.5). Override the
    * combined fraction via spark.graft.warm.heapFraction. */
  private[graft] def warmBudgetBytes(spark: SparkSession): Long = {
    val heap = Runtime.getRuntime.maxMemory()
    val usable = math.max(0L, heap - (300L << 20))
    val frac = spark.conf.getOption("spark.graft.warm.heapFraction") match {
      case Some(f) => f.toDouble
      case None =>
        spark.conf.get("spark.memory.fraction", "0.6").toDouble *
          spark.conf.get("spark.memory.storageFraction", "0.5").toDouble
    }
    (usable * frac).toLong
  }

  /** Greedy smallest-first selection: which tables fit the budget.
    * Ascending by estimated cached size, so dimensions always win the
    * budget before a fact table can take it — the degradation order a
    * service wants (a dim re-scan is cheap to avoid; a heap-sized fact
    * cache is the thing that hurt). Deterministic tie-break by name. */
  private[graft] def warmSelection(sizes: Seq[(String, BigInt)],
                                   budget: Long): Set[String] = {
    var left = BigInt(budget)
    val out = Set.newBuilder[String]
    sizes.sortBy { case (n, b) => (b, n) }.foreach { case (n, b) =>
      if (b <= left) { out += n; left -= b }
    }
    out.result()
  }

  /** Swap the memoized registry entry for (spark, dir, name) to `df`,
    * returning the previous entry so the caller can restore it. The
    * LAYOUT-EXPERIMENT hook (tools.BucketedTpch): bound queries
    * resolve every table through load(), so an overlay pointing at a
    * bucketed catalog table re-runs the SAME committed query code
    * against the alternate physical layout — no per-experiment query
    * forks to keep in sync. Measurement surface, not a serving API
    * (warm() after an overlay would persist the overlaid frame). */
  private[graft] def overlay(spark: SparkSession, dir: String, name: String,
                             df: DataFrame): Option[DataFrame] =
    Option(registry.put(
      (System.identityHashCode(spark).toString, dir, name), df))

  /** Undo an overlay: restore the previous entry (or drop the key so
    * the next load() re-reads the parquet). */
  private[graft] def restore(spark: SparkSession, dir: String, name: String,
                             prev: Option[DataFrame]): Unit = {
    val key = (System.identityHashCode(spark).toString, dir, name)
    prev match {
      case Some(df) => registry.put(key, df)
      case None     => registry.remove(key)
    }
  }

  /** Schema-ful JSON reader — the reference's ingest shape
    * (main.py:144 `spark.read.schema(schema).json(path)`): an explicit
    * schema skips the full inference pass (which at 100 TB would scan
    * everything twice) and pins column types. */
  def readJson(s: SparkSession, path: String,
               schema: org.apache.spark.sql.types.StructType): DataFrame =
    s.read.schema(schema).json(path)

  /** JSON writer (reference data_cleaner.py:100 wrote
    * `coalesce(1).write.json` — the coalesce(1) is dropped here: a
    * single-file funnel is a driver-side convenience that serializes
    * the whole write through one task at scale). */
  def writeJson(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** Schema-ful CSV reader (same explicit-schema discipline as
    * readJson — inference would double-scan at scale). */
  def readCsv(s: SparkSession, path: String,
              schema: org.apache.spark.sql.types.StructType,
              header: Boolean = true): DataFrame =
    s.read.schema(schema).option("header", header.toString).csv(path)

  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").option("header", "true").csv(path)

  /** ORC reader/writer — the other columnar interchange format a
    * complete engine must speak (warehouse migrations routinely mix
    * parquet and ORC lakes). Same predicate-pushdown/column-pruning
    * behavior as parquet under Spark's vectorized ORC reader; schema
    * travels in the file so no explicit schema is needed. */
  def readOrc(s: SparkSession, path: String): DataFrame =
    s.read.orc(path)

  def writeOrc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** Raw binary-file ingest — the front door of the multimodal
    * pipeline (multimodal.BinaryColumns). Spark's `binaryFile` source
    * yields (path, modificationTime, length, content) rows with the
    * payload as a single binary cell; `pathGlobFilter` prunes by
    * extension AT LISTING TIME (files that don't match are never
    * opened — at 100 TB of mixed media that is the difference between
    * listing and reading), and recursive lookup walks nested
    * date/shard layouts. Spark caps single-cell size (~2 GB array
    * limit); production media at that size belongs in chunked
    * payloads, which packPayload's schema already models. */
  def readBinaryFiles(s: SparkSession, path: String,
                      globFilter: Option[String] = None,
                      recursive: Boolean = true): DataFrame = {
    val r = s.read.format("binaryFile")
      .option("recursiveFileLookup", recursive.toString)
    globFilter.fold(r)(g => r.option("pathGlobFilter", g)).load(path)
  }

  /** Partitioned parquet writer for derived tables (hive-style
    * partition pruning on the partition columns at read time).
    * `sortBy` sorts WITHIN each output file — clustered layout so a
    * later range filter on those columns skips row groups via
    * parquet min/max stats (the poor man's z-order; at 100 TB layout
    * is the difference between scanning 1% and 100%). */
  def writeParquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil,
                   sortBy: Seq[String] = Nil): Unit = {
    val sorted =
      if (sortBy.nonEmpty)
        df.sortWithinPartitions(sortBy.map(org.apache.spark.sql.functions.col): _*)
      else df
    val w = sorted.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Bucket-materialize as a managed table: rows are hash-distributed
    * into `numBuckets` files per partition BY THE WRITE, and the
    * metastore records it, so every later equi-join or aggregation on
    * the bucket columns gets its required hash distribution from the
    * LAYOUT — zero exchange at query time. The pre-shuffle strategy
    * for repeated large-large joins at 100 TB: pay the shuffle once at
    * ingest, never again per query (BucketingSpec proves the no-
    * exchange plan via tools.PlanChecks). `sortCols` additionally
    * sorts within each bucket file (sort-merge joins skip their sort).
    * Both sides of a join must agree on numBuckets; bucket pruning
    * applies to point filters on the first bucket column. */
  def writeBucketed(df: DataFrame, table: String, numBuckets: Int,
                    bucketCols: Seq[String], sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "writeBucketed needs at least one bucket column")
    val w = df.write.mode("overwrite")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(table)
  }

  /** Globally-sorted parquet: range-partition on the sort key, sort
    * within each partition — file k's values all precede file k+1's,
    * so the dataset has a TOTAL order across files without any single
    * task ever seeing all rows (contrast a global .orderBy().write,
    * which funnels through one sort per output split of a single
    * range-shuffled stage anyway — this is the same plan made
    * explicit, with the file count under caller control). */
  def writeSortedParquet(df: DataFrame, path: String, sortCol: String,
                         numFiles: Int): Unit =
    df.repartitionByRange(numFiles, org.apache.spark.sql.functions.col(sortCol))
      .sortWithinPartitions(sortCol)
      .write.mode("overwrite").parquet(path)

  /** Register every table as a temp view (plus the custom SQL
    * functions) so the engine serves raw ANSI SQL next to the
    * DataFrame API — the reference's users talk to a query surface,
    * not a Scala API, and `spark.sql` over these views hits the very
    * same cached/pruned scans the DataFrame bindings use. */
  def registerViews(s: SparkSession, d: String): Unit = {
    all.foreach(n => load(s, d, n).createOrReplaceTempView(n))
    graft.expressions.GraftExtensions.registerAll(s)
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  def events(s: SparkSession, d: String): DataFrame = load(s, d, "events")
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
