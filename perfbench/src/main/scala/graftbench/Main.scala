package graftbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.sources.Tables
import graftbench.Main.Sample

/** The JVM side of the benchmark: sets up a session, runs one workload's
  * cold pass and measured window(s), dumps each distinct result for the
  * DuckDB check, and writes `result.json` into the run directory.
  * perfbench/run.py generates the inputs, starts this program, runs the
  * check and turns `result.json` into metrics.
  *
  * Arguments: `<workload> <dataDir> <runDir> <seconds> <trace 0|1> <seed>
  * <cores> <clients> <passes> <setups> <warmups>`: batch workloads run
  * `warmups` untimed passes between the cold pass and the measured ones,
  * serve sends `warmups` untimed rounds of every template. With trace 1
  * the window runs three times: untraced, traced, untraced. */
object Main {

  final case class Sample(key: String, template: String, ms: Double, ok: Boolean)

  final case class Window(wall: Double, passes: Seq[Double], samples: Seq[Sample])

  def main(args: Array[String]): Unit = {
    val Array(workload, dataDir, runDirS, secondsS, traceS, seedS, coresS, clientsS,
      passesS, setupsS, warmupsS) = args
    val warmups = warmupsS.toInt
    val runDir = Paths.get(runDirS)
    val seconds = secondsS.toDouble
    val traced = traceS == "1"
    val seed = seedS.toLong
    val cores = coresS.toInt
    val jvmStart = System.nanoTime()
    val h = new Harness(workload, dataDir, runDir, cores)

    val setups = (1 to setupsS.toInt).map(_ => h.setup())
    val spark = h.spark
    val cachedAfterSetup = h.cachedBytes()
    val cachedTables = spark.sparkContext.getRDDStorageInfo.count(_.numCachedPartitions > 0)

    val out = new Json
    out.obj("env") { e =>
      e.str("spark_version", spark.version)
      e.str("java_version", System.getProperty("java.version"))
      e.num("heap_max_bytes", Runtime.getRuntime.maxMemory().toDouble)
      e.num("cores", cores)
      val (budget, estimated) = h.warmFit()
      e.num("warm_budget_bytes", budget.toDouble)
      e.num("est_cached_bytes", estimated.toDouble)
    }
    out.nums("setup_s", setups.map(_._1))
    out.nums("sources_setup_s", setups.map(_._2))
    out.num("cached_bytes_after_setup", cachedAfterSetup.toDouble)
    out.num("cached_tables", cachedTables)

    val w = workload match {
      case "serve" =>
        val cold = h.readRequests("cold.tsv")
        val stream = h.readRequests("stream.tsv")
        val coldW = h.serial(Seq(cold), None)
        h.serve(stream.take(warmups * cold.size), None, clientsS.toInt, None)
        val warm = h.serve(stream, Some(seconds), clientsS.toInt, None)
        val tracedW = if (traced) Some((h.traced(t => h.serve(stream, Some(seconds), clientsS.toInt, Some(t))),
          h.serve(stream, Some(seconds), clientsS.toInt, None))) else None
        val d0 = System.nanoTime()
        h.dumpCollected()
        out.num("dump_s", (System.nanoTime() - d0) / 1e9)
        (coldW, warm, tracedW, cold ++ stream)
      case "iterative" | "etl" =>
        val ops = workload match {
          case "iterative" => Ops.iterativeNames.map(Ops.registryOp(_, dataDir, Noop))
          case _ =>
            val p = h.readParams()
            Ops.etl(dataDir, p("changes"), p("gap_minutes").toLong)
        }
        def orders(from: Int, n: Int) = (from until from + n).map(i => new Random(seed * 1000 + i).shuffle(ops))
        val passes = passesS.toInt
        val coldW = h.serial(orders(0, 1), None)
        h.serial(orders(1, warmups), None)
        val warm = h.serial(orders(1 + warmups, passes), None)
        val tracedW = if (traced) Some((h.traced(t => h.serial(orders(1 + warmups, passes), Some(t))),
          h.serial(orders(1 + warmups, passes), None))) else None
        val d0 = System.nanoTime()
        h.dumpBatch(ops)
        out.num("dump_s", (System.nanoTime() - d0) / 1e9)
        (coldW, warm, tracedW, ops)
      case other => sys.error(s"unknown workload $other")
    }
    val (coldW, warm, tracedW, allOps) = w
    out.num("jvm_s", (System.nanoTime() - jvmStart) / 1e9)
    out.window("cold", coldW)
    out.window("window", warm)
    // traced runs measure untraced, traced, untraced again: the two
    // untraced windows bracket the traced one, so the JIT warming up
    // across the run does not read as negative tracing overhead
    tracedW.foreach { case ((tw, t), after) =>
      out.window("traced_window", tw)
      out.window("after_window", after)
      h.writeTrace(out, t, tw)
    }
    out.num("cached_bytes_end", h.cachedBytes().toDouble)
    out.obj("written") { o =>
      o.nums("pass_bytes", h.written.asScala.map(_._1.toDouble).toSeq)
      o.nums("pass_files", h.written.asScala.map(_._2.toDouble).toSeq)
    }
    out.obj("oracles") { o =>
      allOps.filter(_.oracle.isDefined).map(op => op.key -> op.oracle.get).distinct
        .foreach { case (k, sql) => o.str(k, sql) }
    }
    out.obj("errors") { o => h.errors.asScala.foreach { case (k, m) => o.str(k, m) } }
    Files.writeString(runDir.resolve("result.json"), out.render())
    spark.stop()
  }
}

/** The session, the op runner and the per-workload loops. */
final class Harness(workload: String, dataDir: String, runDir: Path, cores: Int) {
  var spark: SparkSession = _
  /** (key, message) of every op that threw, in any phase */
  val errors = new ConcurrentLinkedQueue[(String, String)]()
  /** bytes and files written per etl pass */
  val written = new ConcurrentLinkedQueue[(Long, Long)]()
  private val collected = new ConcurrentHashMap[String, (Array[Row], StructType)]()
  private val checkDir = runDir.resolve("check")
  private var etlPass = 0

  /** Builds a fresh session and runs the sources layer's set-up: the
    * service warm-up for `serve`, a first full read of lineitem otherwise.
    * Returns (total seconds, sources seconds). */
  def setup(): (Double, Double) = {
    if (spark != null) {
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val t0 = System.nanoTime()
    spark = graft.util.BenchConfs(SparkSession.builder().master(s"local[$cores]")
        .appName("graft-perfbench"), cores.toString)
      .config("spark.sql.codegen.fallback", "false")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = System.nanoTime()
    if (workload == "serve") {
      Tables.warm(spark, dataDir)
      Tables.all.foreach(n => Ops.noop(Tables.load(spark, dataDir, n)))
    } else {
      Ops.noop(Tables.lineitem(spark, dataDir))
    }
    val t2 = System.nanoTime()
    ((t2 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  /** The storage budget Tables.warm fits its table choice to, and the
    * cached size it estimates for every table (scan bytes times the
    * factor 4 it assumes), in bytes. */
  def warmFit(): (Long, BigInt) = {
    val heap = Runtime.getRuntime.maxMemory()
    val budget = (math.max(0L, heap - (300L << 20)) *
      spark.conf.get("spark.memory.fraction", "0.6").toDouble *
      spark.conf.get("spark.memory.storageFraction", "0.5").toDouble).toLong
    (budget, Tables.all.map(n =>
      Tables.load(spark, dataDir, n).queryExecution.optimizedPlan.stats.sizeInBytes * 4).sum)
  }

  def cachedBytes(): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  def readRequests(file: String): Seq[Op] =
    Files.readAllLines(runDir.resolve(file)).asScala.filter(_.nonEmpty)
      .map(l => Ops.request(l.split('\t'), dataDir)).toSeq

  def readParams(): Map[String, String] =
    Files.readAllLines(runDir.resolve("params.tsv")).asScala.filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split('\t'); k -> v }.toMap

  private val opCounter = new AtomicInteger(0)

  /** Runs one op: build, then sink. Returns the wall milliseconds and
    * whether it succeeded. Under a tracer the op runs in its own job
    * group and each layer call is a span. */
  def run(op: Op, tracer: Option[Tracer]): Sample = {
    val opId = s"${op.key}#${opCounter.incrementAndGet()}"
    val sc = spark.sparkContext
    sc.setJobGroup(opId, op.key, interruptOnCancel = false)
    def sp[T](parent: Long, name: String, layer: String)(body: Long => T): T =
      tracer.fold(body(0L))(_.span(opId, parent, name, layer)(body))
    val t0 = System.nanoTime()
    val ok = try {
      // scoped like graft.Verify scopes each query: operator-internal
      // persists are released when the op returns
      sp(0L, "op", "harness") { root => graft.util.CacheScope.withScope {
        val df = sp(root, "queries.build", "queries")(_ => op.build(spark))
        tracer.foreach { t =>
          df.queryExecution.tracker.phases.get("analysis").foreach(p =>
            t.buildPhases.add((opId, p.startTimeMs.toDouble, p.endTimeMs.toDouble)))
        }
        op.sink match {
          case Collect =>
            val rows = sp(root, "driver.collect", "driver")(_ => df.collect())
            collected.putIfAbsent(op.key, (rows, df.schema))
          case Noop =>
            sp(root, "driver.noop", "driver")(_ => Ops.noop(df))
          case Write(write, _) =>
            sp(root, "sources.write", "sources")(_ => write(df, etlPath(op.key).toString))
        }
      }}
      true
    } catch {
      case e: Throwable =>
        errors.add((op.key, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
        false
    } finally sc.clearJobGroup()
    tracer.foreach(_.heldAfterOp.add(cachedBytes()))
    Sample(op.key, op.template, (System.nanoTime() - t0) / 1e6, ok)
  }

  private def etlPath(key: String): Path = runDir.resolve(s"etl/p$etlPass/$key")

  /** Runs each pass's ops one after another on this thread. */
  def serial(passes: Seq[Seq[Op]], tracer: Option[Tracer]): Main.Window = {
    val t0 = System.nanoTime()
    val walls = Seq.newBuilder[Double]
    val samples = Seq.newBuilder[Main.Sample]
    passes.foreach { ops =>
      if (workload == "etl") {
        deleteTree(runDir.resolve(s"etl/p$etlPass"))
        etlPass += 1
      }
      val p0 = System.nanoTime()
      ops.foreach(op => samples += run(op, tracer))
      walls += (System.nanoTime() - p0) / 1e9
      if (workload == "etl") {
        val files = Files.walk(runDir.resolve(s"etl/p$etlPass")).iterator().asScala
          .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-")).toSeq
        written.add((files.map(Files.size).sum, files.size.toLong))
      }
    }
    Main.Window((System.nanoTime() - t0) / 1e9, walls.result(), samples.result())
  }

  /** Closed loop: `clients` threads each send the next request of the
    * stream as soon as their previous one returns, until `seconds` pass
    * (cycling through the stream), or once through the stream if None. */
  def serve(stream: Seq[Op], seconds: Option[Double], clients: Int,
            tracer: Option[Tracer]): Main.Window = {
    val next = new AtomicInteger(0)
    val samples = new ConcurrentLinkedQueue[Main.Sample]()
    val t0 = System.nanoTime()
    def more(i: Int): Boolean = seconds match {
      case Some(s) => System.nanoTime() - t0 < s * 1e9
      case None    => i < stream.size
    }
    val pool = Executors.newFixedThreadPool(clients)
    (1 to clients).foreach(_ => pool.submit(new Runnable {
      def run(): Unit = {
        var i = next.getAndIncrement()
        while (more(i)) {
          samples.add(Harness.this.run(stream(i % stream.size), tracer))
          i = next.getAndIncrement()
        }
      }
    }))
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
    Main.Window((System.nanoTime() - t0) / 1e9, Nil, samples.asScala.toSeq)
  }

  /** Runs `body` with the listeners registered, then drains them. */
  def traced(body: Tracer => Main.Window): (Main.Window, Tracer) = {
    val t = new Tracer
    t.register(spark)
    t.recording = true
    val w = body(t)
    t.recording = false
    t.drain()
    t.unregister(spark)
    (w, t)
  }

  /** Dumps the first collected result of every distinct request. */
  def dumpCollected(): Unit = {
    val pool = Executors.newFixedThreadPool(cores)
    collected.asScala.foreach { case (key, (rows, schema)) =>
      pool.submit(new Runnable {
        def run(): Unit = dump(key, spark.createDataFrame(rows.toSeq.asJava, schema))
      })
    }
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
  }

  /** Re-runs each batch op once into parquet (etl: reads its last
    * written output back) for the DuckDB check, two at a time. */
  def dumpBatch(ops: Seq[Op]): Unit = {
    val pool = Executors.newFixedThreadPool(2)
    ops.foreach { op =>
      pool.submit(new Runnable {
        def run(): Unit = graft.util.CacheScope.withScope {
          op.sink match {
            case Write(_, readBack) => dump(op.key, readBack(spark, etlPath(op.key).toString))
            case _                  => dump(op.key, op.build(spark))
          }
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(10, TimeUnit.MINUTES)
  }

  private def dump(key: String, df: => DataFrame): Unit =
    try df.coalesce(1).write.mode("overwrite").parquet(checkDir.resolve(key).toString)
    catch {
      case e: Throwable =>
        errors.add((key, s"check dump: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"))
    }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))

  /** Per-layer figures of the traced window. */
  def writeTrace(out: Json, t: Tracer, w: Main.Window): Unit = {
    val spans = Tracer.withSparkSpans(t)
    val c = t.c
    out.obj("trace") { o =>
      o.num("ops", w.samples.size)
      o.num("wall_s", w.wall)
      Seq("jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "failed_tasks" -> c.failedTasks, "task_run_ms" -> c.runMs, "task_cpu_ns" -> c.cpuNs,
        "gc_ms" -> c.gcMs, "sched_delay_ms" -> c.schedMs, "result_bytes" -> c.resultBytes,
        "input_bytes" -> c.inBytes, "input_records" -> c.inRecords,
        "output_bytes" -> c.outBytes, "output_records" -> c.outRecords,
        "shuffle_write_bytes" -> c.shWrite, "shuffle_read_bytes" -> c.shRead,
        "fetch_wait_ms" -> c.fetchWaitMs, "spill_bytes" -> c.spillBytes,
        "rdd_stored_bytes" -> c.rddStored, "qe_failures" -> c.qeFailures,
        "qe_seen" -> c.qeSeen, "qe_unmatched" -> c.qeUnmatched)
        .foreach { case (k, v) => o.num(k, v.sum().toDouble) }
      o.nums("cache_held_bytes_after_op", t.heldAfterOp.asScala.map(_.toDouble).toSeq)
      val planned = t.planned.asScala.toSeq
      o.num("exchanges", planned.map(_.exchanges).sum)
      o.num("broadcasts", planned.map(_.broadcasts).sum)
      Seq("analysis", "optimization", "planning").foreach { ph =>
        o.num(s"${ph}_ms", spans.filter(_.name == s"plans.$ph").map(_.dur).sum)
      }
      o.num("build_ms", spans.filter(_.name == "queries.build").map(_.dur).sum)
      o.num("write_ms", spans.filter(_.name == "sources.write").map(_.dur).sum)
      // driver fetch: from the op's last job end to the return of its
      // sink call (collect, noop save or Tables.write*)
      val lastJobEnd = t.jobSpans.asScala.groupBy(_._1).map { case (op, js) => op -> js.map(_._3).max }
      val sinks = spans.filter(s => s.name.startsWith("driver.") || s.name == "sources.write")
      o.num("fetch_ms", sinks.map { s =>
        lastJobEnd.get(s.op).filter(e => e >= s.start && e <= s.end).fold(0.0)(s.end - _)
      }.sum)
      o.num("result_rows", collectedRowsIn(w))
      o.obj("self_ms") { s => Tracer.selfTimes(spans).foreach { case (k, v) => s.num(k, v) } }
      o.obj("fingerprints") { f =>
        planned.filter(_.op.nonEmpty).groupBy(_.op.takeWhile(_ != '#'))
          .foreach { case (k, ps) => f.str(k, ps.map(_.fingerprint).distinct.sorted.mkString(",")) }
      }
    }
  }

  private def collectedRowsIn(w: Main.Window): Double =
    w.samples.filter(_.ok).map(s => Option(collected.get(s.key)).fold(0)(_._1.length)).sum.toDouble
}

/** A small JSON writer for result.json. */
final class Json {
  private val sb = new StringBuilder("{")
  private var first = true
  private def key(k: String): Unit = {
    if (!first) sb.append(',')
    first = false
    sb.append(graft.util.JsonOut.quote(k)).append(':')
  }
  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
  def num(k: String, v: Double): Unit = { key(k); sb.append(fmt(v)) }
  def str(k: String, v: String): Unit = { key(k); sb.append(graft.util.JsonOut.quote(v)) }
  def nums(k: String, vs: Seq[Double]): Unit = { key(k); sb.append(vs.map(fmt).mkString("[", ",", "]")) }
  def obj(k: String)(body: Json => Unit): Unit = {
    val j = new Json; body(j); key(k); sb.append(j.render())
  }
  def window(k: String, w: Main.Window): Unit = obj(k) { o =>
    o.num("wall_s", w.wall)
    o.nums("passes_s", w.passes)
    o.key("samples")
    o.sb.append(w.samples.map(s => Seq(graft.util.JsonOut.quote(s.key),
      graft.util.JsonOut.quote(s.template), fmt(s.ms), s.ok.toString).mkString("[", ",", "]"))
      .mkString("[", ",", "]"))
  }
  def render(): String = sb.toString + "}"
}
