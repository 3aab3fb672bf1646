package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.TestSpark._
import graft.streaming.EventStreams

class StreamingSpec extends AnyFunSuite {

  test("streaming hourly rollup replayed over parquet equals the batch twin") {
    // file stream sources need a directory, not a single file
    val dir = java.nio.file.Files.createTempDirectory("events_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventStreams.hourlyCounts(spark, dir.toString)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly_out")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      val batch = graft.queries.Registry.queries("q_stream_hourly")(spark, sfTiny)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(streamed == batch, s"stream/batch diverge: ${streamed.size} vs ${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming OHLC bars replayed over parquet equal the batch q_ohlc_bars") {
    val dir = java.nio.file.Files.createTempDirectory("events_ohlc")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventStreams.ohlcBars(spark, dir.toString)
      .writeStream.outputMode("complete")
      .format("memory").queryName("ohlc_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ohlc_out")
        .collect().map(r => (r.getLong(0), r.getString(1),
          (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)), r.getLong(6))).toSet
      // batch hour id × 3600s = the window start epoch
      val batch = graft.queries.Registry.queries("q_ohlc_bars")(spark, sfTiny)
        .collect().map(r => (r.getLong(1) * 3600000000L, r.getString(0),
          (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5)), r.getLong(6))).toSet
      assert(streamed == batch, s"stream/batch diverge: ${streamed.size} vs ${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stateful mapGroupsWithState converges to batch per-user counts on replay") {
    val dir = java.nio.file.Files.createTempDirectory("events_state")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventStreams.userRunningCounts(spark, dir.toString)
      .writeStream.outputMode("update")
      .format("memory").queryName("user_state_out")
      .start()
    try {
      q.processAllAvailable()
      // update mode may emit a row per micro-batch; the LAST state per
      // user must equal the batch truth
      val streamed = spark.table("user_state_out")
        .groupBy("user_id").agg(org.apache.spark.sql.functions.max("n_events").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = graft.sources.Tables.events(spark, sfTiny)
        .groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming dedup drops re-delivered events, equals batch distinct") {
    // simulate at-least-once delivery: the same parquet file lands twice
    val dir = java.nio.file.Files.createTempDirectory("events_dup")
    Seq("events_a.parquet", "events_b.parquet").foreach { n =>
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(s"$sfTiny/events.parquet"), dir.resolve(n))
    }
    val q = EventStreams.dedupedTypeCounts(spark, dir.toString)
      .writeStream.outputMode("complete")
      .format("memory").queryName("dedup_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("dedup_out")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.sources.Tables.events(spark, sfTiny)
        .dropDuplicates("event_id")
        .groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch, s"dedup diverges: $streamed vs $batch")
    } finally q.stop()
  }

  test("stream-stream interval join equals the batch join on replay") {
    val dir = java.nio.file.Files.createTempDirectory("events_ssj")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventStreams.viewPurchaseJoin(spark, dir.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("ssj_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ssj_out")
        .select("v_user_event", "p_user_event")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val ev = graft.sources.Tables.events(spark, sfTiny)
      val v = ev.where(col("event_type") === "view")
        .select(col("user_id").as("vu"), col("event_id").as("ve"), col("ts").as("vts"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("user_id").as("pu"), col("event_id").as("pe"), col("ts").as("pts"))
      val batch = v.join(p, col("vu") === col("pu") &&
          col("pts") >= col("vts") &&
          col("pts") <= col("vts") + expr("INTERVAL 30 MINUTES"))
        .select("ve", "pe").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("foreachBatch + Incremental.merge maintains exact per-key state") {
    // the streaming face of q_incremental: each micro-batch is
    // partially aggregated and merged into driver-held state; after
    // replay the state equals the batch aggregate exactly
    val dir = java.nio.file.Files.createTempDirectory("events_fb")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/events.parquet"),
      dir.resolve("events.parquet"))
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = EventStreams.raw(spark, dir.toString)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = batch.groupBy("event_type")
          .agg(count(lit(1)).as("cnt"))
        val merged = state match {
          case Some(s0) => graft.operators.Incremental.merge(
            s0, delta, keys = Seq("event_type"), sums = Seq("cnt"))
          case None => delta
        }
        // materialize so the merged state doesn't re-read consumed batches
        state = Some(merged.localCheckpoint(true))
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val got = state.get.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = graft.sources.Tables.events(spark, sfTiny)
        .groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want)
    } finally q.stop()
  }

  test("streaming anomaly detection: incrementally-maintained daily state == batch q_anomaly") {
    // the streaming face of q_anomaly: per-batch partial daily sums
    // merged into maintained state (exact cents-longs, so merge order
    // is irrelevant), the shared z-scorer applied to the state; after
    // replay the flagged set equals the batch query exactly
    val dir = java.nio.file.Files.createTempDirectory("events_anom")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/events.parquet"),
      dir.resolve("events.parquet"))
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = EventStreams.raw(spark, dir.toString)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = graft.queries.QualityQueries.dailySums(batch)
        val merged = state match {
          case Some(s0) => graft.operators.Incremental.merge(
            s0, delta, keys = Seq("user_id", "day"), sums = Seq("vc"))
          case None => delta
        }
        state = Some(merged.localCheckpoint(true))
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      val got = graft.queries.QualityQueries.anomalies(state.get)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Date]("day").toString,
          r.getAs[Double]("z")))
        .toSet
      val want = graft.queries.Registry.queries("q_anomaly")(spark, sfTiny)
        .collect()
        .map(r => (r.getAs[Long]("user_id"), r.getAs[java.sql.Date]("day").toString,
          r.getAs[Double]("z")))
        .toSet
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("streaming Page-Hinkley: merged daily partials scored == batch q_page_hinkley") {
    // same twin pattern as the streaming anomaly test: per-batch
    // (type, day) cents partials merge into maintained state (exact
    // longs — merge order irrelevant), and the SHARED sequential PH
    // fold runs over the state after replay
    val dir = java.nio.file.Files.createTempDirectory("events_ph")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/events.parquet"),
      dir.resolve("events.parquet"))
    var state: Option[org.apache.spark.sql.DataFrame] = None
    val q = EventStreams.raw(spark, dir.toString)
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val delta = graft.queries.MonitoringQueries.dailyTypeSums(batch)
        val merged = state match {
          case Some(s0) => graft.operators.Incremental.merge(
            s0, delta, keys = Seq("event_type", "day"), sums = Seq("y"))
          case None => delta
        }
        state = Some(merged.localCheckpoint(true))
        ()
      }
      .start()
    try {
      q.processAllAvailable()
      def canon(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getString(0), r.getAs[Long]("n_days"),
          r.getAs[Double]("m_final"), r.getAs[Double]("ph_inc"),
          r.getAs[Double]("ph_dec"))).toSet
      val got = canon(graft.queries.MonitoringQueries.pageHinkleyOf(state.get))
      val want = canon(graft.queries.Registry.queries("q_page_hinkley")(
        spark, sfTiny))
      assert(got == want && got.nonEmpty)
    } finally q.stop()
  }

  test("flatMapGroupsWithState sessionizer emits closed sessions incl. watermark-flushed trailers") {
    val dir = java.nio.file.Files.createTempDirectory("events_fmgs")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventStreams.sessionizedCounts(spark, dir.toString, gapMinutes = 30,
        watermarkDelay = "1 hour")
      .writeStream.outputMode("append")
      .format("memory").queryName("fmgs_out")
      .start()
    try {
      q.processAllAvailable()
      val emitted = spark.table("fmgs_out")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // batch truth: native session_window with the same gap.
      // session_window.end = last event + gap = exactly the event-time
      // timeout the stream sets, so a session must be emitted iff its
      // window end is at or below the final watermark (max ts - delay)
      // — data-closed sessions trivially are, and the timeout flushes
      // the trailing ones up to the watermark.
      val batch = graft.sources.Tables.events(spark, sfTiny)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("w"))
        .agg(count(lit(1)).as("n"))
        .select(col("user_id"), unix_micros(col("w.start")).as("s"),
          unix_micros(col("w.end")).as("e"), col("n"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val maxTsUs = graft.sources.Tables.events(spark, sfTiny)
        .agg(max(unix_micros(col("ts")))).first().getLong(0)
      val watermarkUs = maxTsUs - 3600L * 1000000L
      val expected = batch.filter(_._3 <= watermarkUs).map(t => (t._1, t._2, t._4)).toSet
      val all = batch.map(t => (t._1, t._2, t._4)).toSet
      assert(emitted.subsetOf(all), s"phantom sessions: ${emitted -- all}")
      assert(emitted == expected,
        s"missing: ${expected -- emitted}; extra: ${emitted -- expected}")
      // the flush is doing real work: strictly more than the data-closed
      // sessions of the old NoTimeout behavior
      val users = all.map(_._1)
      assert(all.size - emitted.size < users.size)
    } finally q.stop()
  }

  test("mapGroupsWithState TTL evicts idle users; generous TTL preserves convergence") {
    // 4 synthetic micro-batches (maxFilesPerTrigger=1):
    //   f1: user1+user2 @t0 · f2: user2 @t0+10h · f3: user2 @t0+12h
    //   f4: user1+user2 @t0+20h
    // With ttl=1h, f3's batch has watermark t0+10h-1m > user1's timeout
    // t0+1h and no user1 data, so user1's state is evicted; their f4
    // event restarts at 1. With the default 30-day ttl nothing evicts
    // and user1 converges to the full count 2.
    import spark.implicits._
    val t0 = 1700000000L * 1000000000L // ns epoch
    def hours(h: Long) = h * 3600L * 1000000000L
    def mkFile(dir: java.nio.file.Path, name: String, seq: Int,
               rows: Seq[(Long, Long, Long)]): Unit = {
      val stage = java.nio.file.Files.createTempDirectory("events_ttl_stage")
      rows.map { case (id, ts, user) => (id, ts, user, "view", 1.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dir.resolve(name))
      // explicit increasing mod times pin the file processing order
      java.nio.file.Files.setLastModifiedTime(dir.resolve(name),
        java.nio.file.attribute.FileTime.fromMillis(1000000000000L + seq * 60000L))
    }
    def run(ttl: String, sink: String): Map[Long, Long] = {
      val dir = java.nio.file.Files.createTempDirectory(s"events_ttl_$sink")
      mkFile(dir, "f1.parquet", 1, Seq((1L, t0, 1L), (2L, t0, 2L)))
      mkFile(dir, "f2.parquet", 2, Seq((3L, t0 + hours(10), 2L)))
      mkFile(dir, "f3.parquet", 3, Seq((4L, t0 + hours(12), 2L)))
      mkFile(dir, "f4.parquet", 4, Seq((5L, t0 + hours(20), 1L), (6L, t0 + hours(20), 2L)))
      val q = EventStreams.userRunningCounts(spark, dir.toString, ttl = ttl,
          watermarkDelay = "1 minute",
          readerOptions = Map("maxFilesPerTrigger" -> "1"))
        .writeStream.outputMode("update")
        .format("memory").queryName(sink)
        .start()
      try {
        q.processAllAvailable()
        spark.table(sink).groupBy("user_id").agg(max("n_events").as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      } finally q.stop()
    }
    val evicted = run("1 hour", "ttl_tiny_out")
    assert(evicted(1L) == 1L, s"user1 state should have been TTL-evicted: $evicted")
    assert(evicted(2L) == 4L, s"active user2 must keep full state: $evicted")
    val kept = run("30 days", "ttl_big_out")
    assert(kept == Map(1L -> 2L, 2L -> 4L), s"generous TTL must converge to batch truth: $kept")
  }

  test("streaming corpus dedup: stream-static anti-join equals the batch exact layer") {
    // the continuous-ingest front gate: arriving documents drop when
    // their digest already exists in the static corpus table; no
    // state store involved (contrast dropDuplicatesWithinWatermark,
    // which dedups stream-vs-stream)
    val dir = java.nio.file.Files.createTempDirectory("docs_dedup")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/documents.parquet"),
      dir.resolve("documents.parquet"))
    val corpus = graft.sources.Tables.documents(spark, sfTiny)
      .where(substring(md5(col("text")), 1, 2) < "c0")
      .select(md5(col("text")).as("dg")).distinct()
    val q = EventStreams.streamCorpusDedup(spark, dir.toString, corpus)
      .writeStream.outputMode("complete")
      .format("memory").queryName("corpus_dedup_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("corpus_dedup_out")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.sources.Tables.documents(spark, sfTiny)
        .withColumn("dg", md5(col("text")))
        .join(corpus, Seq("dg"), "left_anti")
        .groupBy("source").agg(count(lit(1)).as("kept"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch && batch.nonEmpty, s"$streamed vs $batch")
    } finally q.stop()
  }

  test("stream-static enrichment join equals the batch join on replay") {
    // the dimension-enrichment shape: an unbounded stream joined to a
    // bounded static table — Spark broadcasts/rescans the static side
    // per micro-batch, no state store involved (contrast the
    // stream-stream interval join, which buffers watermarked state)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("events_ss")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/events.parquet"),
      dir.resolve("events.parquet"))
    val dim = Seq(("view", "browse"), ("click", "browse"),
      ("cart", "intent"), ("purchase", "convert"), ("like", "social"))
      .toDF("event_type", "category")
    val q = EventStreams.raw(spark, dir.toString)
      .join(dim, "event_type")
      .groupBy("category").agg(count(lit(1)).as("cnt"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("ss_join_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("ss_join_out")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = graft.sources.Tables.events(spark, sfTiny)
        .join(dim, "event_type")
        .groupBy("category").agg(count(lit(1)).as("cnt"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed == batch && batch.nonEmpty)
    } finally q.stop()
  }

  test("stateful operators run on the RocksDB state store (the at-scale provider)") {
    // the default HDFSBackedStateStoreProvider keeps state on the
    // executor heap — at 100 TB/day the store must spill; RocksDB is
    // the production provider, so the TTL operator must behave
    // identically on it
    val dir = java.nio.file.Files.createTempDirectory("events_rocks")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/events.parquet"),
      dir.resolve("events.parquet"))
    withConf("spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
      val q = EventStreams.userRunningCounts(spark, dir.toString)
        .writeStream.outputMode("update")
        .format("memory").queryName("rocks_out")
        .start()
      try {
        q.processAllAvailable()
        val streamed = spark.table("rocks_out")
          .groupBy("user_id").agg(org.apache.spark.sql.functions.max("n_events").as("n"))
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        val batch = graft.sources.Tables.events(spark, sfTiny)
          .groupBy("user_id").count()
          .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        assert(streamed == batch)
      } finally q.stop()
    }
  }

  test("exactly-once sink: idempotent partition overwrite survives redelivery") {
    // the production sink pattern: each micro-batch dynamically
    // overwrites ONLY the partitions it carries, so replaying a batch
    // (restart, at-least-once source) rewrites the same partitions with
    // the same rows instead of appending duplicates
    val src = java.nio.file.Files.createTempDirectory("events_eo_src")
    val out = java.nio.file.Files.createTempDirectory("events_eo_out").toString + "/agg"
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/events.parquet"),
      src.resolve("events.parquet"))
    def runOnce(): Unit = {
      val q = EventStreams.raw(spark, src.toString)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
          batch.groupBy("event_type").agg(count(lit(1)).as("cnt"))
            .write.mode("overwrite").partitionBy("event_type").parquet(out)
          ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    withConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      runOnce()
      runOnce() // fresh query, no checkpoint: the whole input replays
      val got = spark.read.parquet(out)
        .collect().map(r => r.getAs[String]("event_type") -> r.getAs[Long]("cnt")).toMap
      val want = graft.sources.Tables.events(spark, sfTiny)
        .groupBy("event_type").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want, s"replay duplicated or lost rows: $got vs $want")
    }
  }

  test("failure injection: crash AFTER the sink write, checkpointed restart replays to identical output") {
    // the r3-verdict item 8 proof: the exactly-once contract must hold
    // not just for a cold full replay but for the nasty window where a
    // micro-batch's WRITE landed and the CHECKPOINT commit didn't —
    // kill there, restart on the same checkpoint, and the redelivered
    // batch must overwrite its own partitions into the same final
    // state a crash-free run produces
    val ev = graft.sources.Tables.events(spark, sfTiny)
      .withColumn("day", col("ts").cast("date").cast("string"))
    val days = ev.select("day").distinct().orderBy("day")
      .collect().map(_.getString(0))
    val src = java.nio.file.Files.createTempDirectory("events_fi_src").toString
    // three source files over disjoint day groups → three micro-batches,
    // each owning whole day partitions (the production event-time layout)
    days.grouped(math.max(1, (days.length + 2) / 3)).zipWithIndex.foreach {
      case (g, i) =>
        ev.where(col("day").isin(g: _*)).coalesce(1)
          .write.mode("overwrite").parquet(s"$src/chunk_$i")
    }
    val out = java.nio.file.Files.createTempDirectory("events_fi_out").toString + "/agg"
    val ckpt = java.nio.file.Files.createTempDirectory("events_fi_ck").toString
    val crashOnce = new java.util.concurrent.atomic.AtomicBoolean(true)
    var sawCrash = false
    def start() = spark.readStream
      .schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$src/chunk_*")
      .writeStream.outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        batch.groupBy("day", "event_type").agg(count(lit(1)).as("cnt"))
          .write.mode("overwrite").partitionBy("day").parquet(out)
        // batch 1's write is durable; its checkpoint commit never happens
        if (id == 1 && crashOnce.getAndSet(false))
          throw new RuntimeException("injected crash after write")
        ()
      }
      .start()
    withConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic") {
      val q1 = start()
      try q1.processAllAvailable()
      catch { case _: Throwable => () }
      finally q1.stop()
      sawCrash = q1.exception.isDefined
      assert(sawCrash, "the injected crash must terminate the first run")
      val q2 = start() // same checkpoint: batch 1 redelivers
      try q2.processAllAvailable() finally q2.stop()
      assert(q2.exception.isEmpty, s"restart failed: ${q2.exception}")
      // partition-column type inference reads `day` back as DATE —
      // normalize to string for the compare
      val got = spark.read.parquet(out)
        .select(col("day").cast("string"), col("event_type"), col("cnt"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val want = ev.groupBy("day", "event_type").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == want,
        s"redelivered batch duplicated or lost rows: ${got.size} vs ${want.size}")
    }
  }

  test("GraftExtensions registers custom SQL functions") {
    graft.expressions.GraftExtensions.registerAll(spark)
    val r = spark.sql(
      """SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       simhash64(array('a','b')) AS s,
        |       size(shingle_hash64(array('a','b','c'), 2)) AS n""".stripMargin)
      .collect()(0)
    assert(r.getDouble(0) == 11.0)
    assert(r.getInt(2) == 2)
    // the round-8 native expressions face the same SQL surface (r9
    // advice: the cluster-wide entry point exposed an inconsistent
    // function set vs the per-session registries)
    val r2 = spark.sql(
      """SELECT sq_dist(array(0.0D, 0.0D), array(3.0D, 4.0D)) AS sq,
        |       sign_sig63(array(1.0D, -2.0D, 3.0D)) AS sig,
        |       agree_count(array(1L, 2L, 3L), array(1L, 9L, 3L)) AS ag""".stripMargin)
      .collect()(0)
    assert(r2.getDouble(0) == 25.0)
    assert(r2.getLong(1) == ((1L << 0) | (1L << 2)),
      "sign bits: positive dims 0 and 2 set, negative dim 1 clear")
    assert(r2.getInt(2) == 2)
  }

  test("streaming transition bigrams replayed equal the batch transition counts") {
    val dir = java.nio.file.Files.createTempDirectory("events_trans")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/events.parquet"),
      dir.resolve("events.parquet"))
    // sink the raw bigrams (Spark vetoes an agg downstream of
    // flatMapGroupsWithState under the global watermark) and count in
    // a batch query over the sink — the counts are the twin's claim
    val q = EventStreams.userTransitions(spark, dir.toString)
      .writeStream.outputMode("append")
      .format("memory").queryName("trans_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("trans_out")
        .groupBy("cur", "nxt").count()
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      val batch = graft.queries.Registry.queries("q_transition_matrix")(spark, sfTiny)
        .collect().map(r => (r.getAs[String]("cur"), r.getAs[String]("nxt"))
          -> r.getAs[Long]("n")).toMap
      assert(streamed == batch,
        s"stream/batch bigram counts diverge: ${streamed.size} vs ${batch.size}")
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("stateful counts under the RocksDB state store match the batch truth") {
    // same twin as the mapGroupsWithState test, but with the state
    // store swapped for RocksDB — the provider production clusters run
    // for state that outgrows the JVM heap. Results must be identical:
    // state-store choice is an executor-memory decision, not semantics.
    val ns = spark.newSession()
    ns.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val dir = java.nio.file.Files.createTempDirectory("events_rocks")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sfTiny/events.parquet"),
      dir.resolve("events.parquet"))
    val q = EventStreams.userRunningCounts(ns, dir.toString)
      .writeStream.outputMode("update")
      .format("memory").queryName("rocks_state_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = ns.table("rocks_state_out")
        .groupBy("user_id").agg(org.apache.spark.sql.functions.max("n_events").as("n"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val batch = graft.sources.Tables.events(spark, sfTiny)
        .groupBy("user_id").count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("multimodal feature extraction is deterministic and complete") {
    val docs = graft.sources.Tables.documents(spark, sfTiny)
    val packed = graft.multimodal.BinaryColumns.packPayload(docs, col("doc_id"), col("text"), "text")
    val f1 = graft.multimodal.BinaryColumns.extractFeatures(packed)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val f2 = graft.multimodal.BinaryColumns.extractFeatures(packed)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(f1 == f2)
    assert(f1.size == docs.count())
    assert(f1.forall { case (_, w, h) => w >= 64 && h >= 64 })
  }
}
