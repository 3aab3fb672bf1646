package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `op` groups the spans of
  * one operation; `parent` is the id of the span that caused it (0 for
  * a root). Times are epoch milliseconds. */
final case class Span(id: Long, parent: Long, op: String, name: String,
                      layer: String, start: Double, end: Double) {
  def dur: Double = end - start
}

/** Plan facts of one query, from the QueryExecutionListener. */
final case class Planned(op: String, func: String, phases: Map[String, (Double, Double)],
                         exchanges: Int, broadcasts: Int, fingerprint: String)

/** Spans and counters for the traced run. Spans around each call into
  * a layer are recorded by the harness; Spark's own jobs and query
  * planning phases arrive through a SparkListener and a
  * QueryExecutionListener and are attached to the operation whose
  * job group they ran under. Everything stays in memory until
  * the window ends. */
final class Tracer {
  private val nanos0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nanos0) / 1e6

  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  /** Times `body` as a span; the span is recorded even if it throws. */
  def span[T](op: String, parent: Long, name: String, layer: String)(body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = nowMs
    try body(id)
    finally spans.add(Span(id, parent, op, name, layer, t0, nowMs))
  }

  def newId(): Long = ids.incrementAndGet()

  // ---- counters, all over the window in which `recording` is on ----
  @volatile var recording = false
  final class Counters {
    val jobs, stages, tasks, failedTasks = new LongAdder
    val runMs, cpuNs, gcMs, schedMs, resultBytes = new LongAdder
    val inBytes, inRecords, outBytes, outRecords = new LongAdder
    val shWrite, shRead, fetchWaitMs, spillBytes, rddStored = new LongAdder
    val qeFailures, qeSeen, qeUnmatched = new LongAdder
  }
  val c = new Counters

  /** (op, jobStartMs, jobEndMs) */
  val jobSpans = new ConcurrentLinkedQueue[(String, Double, Double)]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Double)]()
  private val execGroup = new java.util.concurrent.ConcurrentHashMap[Long, String]()
  private val qeExec = java.util.Collections.synchronizedMap(
    new java.util.IdentityHashMap[AnyRef, Long]())

  val planned = new ConcurrentLinkedQueue[Planned]()
  /** (op, start, end) of the analysis of each op's final DataFrame,
    * which runs eagerly inside the op's build call */
  val buildPhases = new ConcurrentLinkedQueue[(String, Double, Double)]()
  /** Spark storage held after each op, in bytes */
  val heldAfterOp = new ConcurrentLinkedQueue[java.lang.Long]()
  private val pendingQe = new ConcurrentLinkedQueue[(String, QueryExecution)]()

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (recording) {
      val props = Option(e.properties)
      val g = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .foreach(x => execGroup.put(x.toLong, g))
      jobStart.put(e.jobId, (g, e.time.toDouble))
      c.jobs.increment()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStart.remove(e.jobId)
      if (s != null) jobSpans.add((s._1, s._2, e.time.toDouble))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (recording) c.stages.increment()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (recording) {
      c.tasks.increment()
      if (!e.taskInfo.successful) c.failedTasks.increment()
      val m = e.taskMetrics
      if (m != null) {
        c.runMs.add(m.executorRunTime); c.cpuNs.add(m.executorCpuTime)
        c.gcMs.add(m.jvmGCTime); c.resultBytes.add(m.resultSize)
        c.schedMs.add(math.max(0L, e.taskInfo.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime))
        c.inBytes.add(m.inputMetrics.bytesRead); c.inRecords.add(m.inputMetrics.recordsRead)
        c.outBytes.add(m.outputMetrics.bytesWritten); c.outRecords.add(m.outputMetrics.recordsWritten)
        c.shWrite.add(m.shuffleWriteMetrics.bytesWritten)
        c.shRead.add(m.shuffleReadMetrics.totalBytesRead)
        c.fetchWaitMs.add(m.shuffleReadMetrics.fetchWaitTime)
        c.spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = if (recording) {
      val i = e.blockUpdatedInfo
      if (i.blockId.isRDD && i.storageLevel.isValid) c.rddStored.add(i.memSize + i.diskSize)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart if recording =>
        s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
      case end: SparkListenerSQLExecutionEnd if recording =>
        // The QueryExecution the QueryExecutionListener receives is
        // carried by this event; its accessor is package-private in
        // Scala but a public method of the class, so it is read
        // reflectively to learn the query's execution id.
        val qe = end.getClass.getMethod("qe").invoke(end)
        if (qe != null) qeExec.put(qe, end.executionId)
      case _ =>
    }
  }

  val qeListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      if (recording) { c.qeSeen.increment(); pendingQe.add((func, qe)) }
    override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
      if (recording) c.qeFailures.increment()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Waits until listener delivery goes quiet: the bus is asynchronous,
    * so the last jobs of a window arrive after the harness returns. */
  def drain(): Unit = {
    var last = -1L
    var quiet = 0
    var waited = 0
    while (quiet < 3 && waited < 60) {
      Thread.sleep(50); waited += 1
      val now = c.tasks.sum() + c.qeSeen.sum() + jobSpans.size
      if (now == last && jobStart.isEmpty) quiet += 1 else quiet = 0
      last = now
    }
    pendingQe.asScala.foreach { case (func, qe) =>
      val op = Option(qeExec.get(qe)).map(x => execGroup.get(x)).orNull
      if (op == null) c.qeUnmatched.increment()
      val nodes = Tracer.nodes(qe.executedPlan).toSeq
      val phases = qe.tracker.phases.map { case (k, v) =>
        k -> (v.startTimeMs.toDouble, v.endTimeMs.toDouble) }
      planned.add(Planned(Option(op).getOrElse(""), func, phases,
        nodes.count(_.isInstanceOf[ShuffleExchangeLike]),
        nodes.count(_.isInstanceOf[BroadcastExchangeLike]),
        Tracer.fingerprint(nodes)))
    }
    pendingQe.clear()
  }
}

object Tracer {

  /** Every node of a physical plan, looking through AQE's wrappers
    * into the final adaptive plan and into subqueries. */
  def nodes(p: SparkPlan): Iterator[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec        => Seq(q.plan)
      case other                    => other.children ++ other.subqueries
    }
    Iterator(p) ++ kids.iterator.flatMap(nodes)
  }

  /** Short stable hash of a plan's operator tree (node names in
    * pre-order): equal plans share it, so a plan change shows as a
    * changed fingerprint in the artifact. */
  def fingerprint(ns: Seq[SparkPlan]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    ns.foreach(n => md.update((n.nodeName + ";").getBytes("UTF-8")))
    md.digest().take(6).map(b => f"${b & 0xff}%02x").mkString
  }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb))            => total += cb - ca; cur = Some((a, b))
        case None                      => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0.0)
  }

  /** Self time per layer: each span's duration minus the part of it
    * that its child spans cover. */
  def selfTimes(all: Seq[Span]): Map[String, Double] = {
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        s.dur - covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)), s.start, s.end)
      }.sum
    }
  }

  /** Attaches Spark's job and planning-phase intervals to the harness
    * spans of their op: each becomes a child of the innermost harness
    * span of the same op that contains its midpoint. */
  def withSparkSpans(t: Tracer): Seq[Span] = {
    val harness = t.spans.asScala.toSeq
    val byOp = harness.groupBy(_.op)
    def attach(op: String, name: String, layer: String, a: Double, b: Double): Option[Span] =
      byOp.get(op).flatMap { ss =>
        val mid = (a + b) / 2
        val inner = ss.filter(s => s.start <= mid && mid <= s.end).sortBy(_.dur).headOption
        inner.map(p => Span(t.newId(), p.id, op, name, layer, a, b))
      }
    val jobs = t.jobSpans.asScala.toSeq.flatMap { case (op, a, b) =>
      attach(op, "exec.job", "exec", a, b) }
    // a collect runs on the DataFrame's own QueryExecution, whose
    // analysis is already in buildPhases
    val phases = t.planned.asScala.toSeq.flatMap { p =>
      p.phases.toSeq.filter { case (ph, _) =>
        ph != "parsing" && !(ph == "analysis" && p.func == "collect")
      }.flatMap { case (ph, (a, b)) => attach(p.op, s"plans.$ph", "plans", a, b) }
    }
    val analysis = t.buildPhases.asScala.toSeq.flatMap { case (op, a, b) =>
      attach(op, "plans.analysis", "plans", a, b) }
    harness ++ jobs ++ phases ++ analysis
  }
}
