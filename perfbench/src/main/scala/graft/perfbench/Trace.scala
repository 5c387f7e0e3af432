package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One span: a timed interval at a layer boundary. `req` is the request id
  * shared by every span of one call (and set as the Spark job group);
  * `parent` is 0 for a root.
  */
final case class SpanRec(id: Int, parent: Int, name: String, req: String, op: String,
    startNs: Long, endNs: Long, startMs: Long, endMs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Per-call layer split assembled from the spans and the listener events. */
final case class CallLayers(op: String, totalMs: Double,
    constructMs: Double, planMs: Option[Double], actionMs: Double,
    constructJobs: Int, jobs: Int, stages: Int, tasks: Long, taskMs: Long,
    gcMs: Long, schedWaitMs: Long, shuffleBytes: Long, spillBytes: Long,
    writeBytes: Long, skew: Double, catalystMs: Double, sqlExecs: Int)

/** Span recorder plus the two Spark hooks that attribute work to spans: a
  * `SparkListener` maps each job (by its job group, the request id) to the
  * call and phase that launched it and sums its stages' task metrics; a
  * `QueryExecutionListener` records each SQL execution's Catalyst phase
  * times, attributed to the call whose interval holds its planning start
  * (one client thread, so calls never overlap). Spans stay in memory until
  * [[writeSpans]].
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  @volatile var enabled = false
  val sc = spark.sparkContext
  val spans = ArrayBuffer.empty[SpanRec]
  private var nextId = 1
  private var open: List[Int] = Nil
  private var reqSeq = 0

  def newReq(): String = { reqSeq += 1; s"$ReqPrefix$reqSeq" }

  /** Run `f` as a span, child of the innermost open span. */
  def span[T](name: String, req: String, op: String)(f: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(0)
    open = id :: open
    val (n0, m0) = (System.nanoTime, System.currentTimeMillis)
    try f
    finally {
      open = open.tail
      spans += SpanRec(id, parent, name, req, op, n0, System.nanoTime, m0,
        System.currentTimeMillis)
    }
  }

  final class StageAgg(val req: String) {
    var submitted = -1L
    var firstLaunch = Long.MaxValue
    var tasks = 0L
    var runMs, gcMs, shuffleBytes, spillBytes, writeBytes = 0L
    val durations = ArrayBuffer.empty[Long]
  }
  private val jobs = new ConcurrentHashMap[Int, (String, String)]()
  private val stages = new ConcurrentHashMap[Int, StageAgg]()
  private val qes = new ConcurrentLinkedQueue[(Long, Double)]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).foreach { p =>
      val g = p.getProperty("spark.jobGroup.id")
      if (g != null && g.startsWith(ReqPrefix)) {
        val phase = Option(p.getProperty(PhaseKey)).getOrElse("call")
        jobs.put(e.jobId, (g, phase))
        e.stageIds.foreach(s => stages.putIfAbsent(s, new StageAgg(g)))
      }
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(stages.get(e.stageInfo.stageId)).foreach(a =>
      a.synchronized { a.submitted = e.stageInfo.submissionTime.getOrElse(-1L) })

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = stages.get(e.stageId)
    if (a != null && e.taskMetrics != null) a.synchronized {
      val m = e.taskMetrics
      a.tasks += 1
      a.firstLaunch = math.min(a.firstLaunch, e.taskInfo.launchTime)
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.writeBytes += m.outputMetrics.bytesWritten
      a.durations += e.taskInfo.duration
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordQe(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordQe(qe)

  private def recordQe(qe: QueryExecution): Unit = {
    val phases = qe.tracker.phases
    phases.get("planning").foreach(p =>
      qes.add((p.startTimeMs, phases.values.map(_.durationMs.toDouble).sum)))
  }

  /** Wait for the listener bus, then split every traced call by layer. */
  def callLayers(): Seq[CallLayers] = {
    org.apache.spark.graftbench.Bus.drain(sc)
    val children = spans.groupBy(_.parent)
    val jobsByReq = jobs.asScala.values.groupBy(_._1)
    val stagesByReq = stages.asScala.values.filter(_.tasks > 0).groupBy(_.req)
    val qeList = qes.asScala.toSeq
    spans.filter(s => s.parent == 0 && s.name == "call").toSeq.map { root =>
      val kids = children.getOrElse(root.id, Nil)
      def phaseMs(n: String) = kids.filter(_.name == n).map(_.ms).sum
      val js = jobsByReq.getOrElse(root.req, Nil)
      val ss = stagesByReq.getOrElse(root.req, Nil).toSeq
      val big = if (ss.isEmpty) None else Some(ss.maxBy(_.runMs))
      val skew = big.map { s =>
        val med = Stats.median(s.durations.map(_.toDouble))
        if (med > 0) s.durations.max / med else 1.0
      }.getOrElse(1.0)
      val q = qeList.filter { case (t, _) => t >= root.startMs && t <= root.endMs }
      CallLayers(root.op, root.ms,
        phaseMs("construct"),
        if (kids.exists(_.name == "plan")) Some(phaseMs("plan")) else None,
        phaseMs("action"),
        js.count(_._2 == "construct"), js.size, ss.size, ss.map(_.tasks).sum,
        ss.map(_.runMs).sum, ss.map(_.gcMs).sum,
        ss.filter(s => s.submitted >= 0).map(s => math.max(0L, s.firstLaunch - s.submitted)).sum,
        ss.map(_.shuffleBytes).sum, ss.map(_.spillBytes).sum, ss.map(_.writeBytes).sum,
        skew, q.map(_._2).sum, q.size)
    }
  }

  /** Write every span as one JSON line with its self time (its duration
    * minus the part its child spans cover).
    */
  def writeSpans(path: String): Unit = {
    val children = spans.groupBy(_.parent)
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.sortBy(_.startNs).foreach { s =>
      val childMs = children.getOrElse(s.id, Nil).map(_.ms).sum
      w.println(Json.enc(Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "req" -> s.req, "op" -> s.op, "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "dur_ms" -> s.ms, "self_ms" -> math.max(0.0, s.ms - childMs))))
    } finally w.close()
  }
}

object Tracer {
  val ReqPrefix = "bench-"
  val PhaseKey = "graft.bench.phase"

  def install(spark: SparkSession): Tracer = {
    val t = new Tracer(spark)
    spark.sparkContext.addSparkListener(t)
    spark.listenerManager.register(t)
    t
  }
}

/** Handle for the phases of one call: construction (building the
  * DataFrame, including any eager jobs), planning (forcing the executed
  * plan) and the final action.
  */
final class Call(val op: String, req: String, tracer: Option[Tracer]) {
  def phase[T](name: String)(f: => T): T = tracer match {
    case Some(t) =>
      val prev = t.sc.getLocalProperty(Tracer.PhaseKey)
      t.sc.setLocalProperty(Tracer.PhaseKey, name)
      try t.span(name, req, op)(f)
      finally t.sc.setLocalProperty(Tracer.PhaseKey, prev)
    case None => f
  }
  def construct[T](f: => T): T = phase("construct")(f)
  def plan(df: DataFrame): Unit = phase("plan") { df.queryExecution.executedPlan; () }
  def action[T](f: => T): T = phase("action")(f)
}

/** The closed-loop client: one thread issues each call after the previous
  * one returns. Times calls, runs each output check after the call (outside
  * its time), counts attempts and failures, and keeps traced-only probe
  * values.
  */
final class Runner(val spark: SparkSession, val tracer: Option[Tracer],
    fault: Option[String]) {
  import Runner.Sample

  val samples = ArrayBuffer.empty[Sample]
  val notes = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var measuring = false
  var cycle = 0
  var checkNs = 0L

  /** True when the run was asked to corrupt `op`'s output before its check
    * (the benchmark's self-test that checks catch wrong answers).
    */
  def faulty(op: String): Boolean = fault.contains(op)

  def call[T](op: String)(body: Call => T)(check: T => Unit): Option[T] = {
    attempted += 1
    val t = tracer.filter(_.enabled)
    val req = t.map(_.newReq()).getOrElse("")
    t.foreach(_ => spark.sparkContext.setJobGroup(req, op, interruptOnCancel = false))
    val c = new Call(op, req, t)
    val t0 = System.nanoTime
    val res =
      try Right(t match {
        case Some(tr) => tr.span("call", req, op)(body(c))
        case None => body(c)
      })
      catch { case NonFatal(e) => Left(e) }
    val ms = (System.nanoTime - t0) / 1e6
    t.foreach(_ => spark.sparkContext.clearJobGroup())
    val c0 = System.nanoTime
    val err = res match {
      case Left(e) => Some(s"$op raised $e")
      case Right(v) =>
        try { check(v); None }
        catch { case NonFatal(e) => Some(s"$op check failed: ${e.getMessage}") }
    }
    checkNs += System.nanoTime - c0
    err match {
      case Some(m) =>
        failed += 1
        if (failures.size < 20) { failures += m; System.err.println(s"FAIL $m") }
        None
      case None =>
        if (measuring) samples += Sample(op, ms, t.isDefined, cycle)
        res.toOption
    }
  }

  /** Record a traced-only layer value (untimed probes). */
  def note(name: String, v: Double): Unit =
    notes.getOrElseUpdate(name, ArrayBuffer.empty[Double]) += v

  /** Time `f` as a probe span and note its duration under `name`. */
  def probe[T](name: String)(f: => T): T = tracer.filter(_.enabled) match {
    case Some(t) =>
      val t0 = System.nanoTime
      val v = t.span(name, "probe", "probe")(f)
      note(name, (System.nanoTime - t0) / 1e6)
      v
    case None => f
  }
}

object Runner {
  final case class Sample(op: String, ms: Double, traced: Boolean, cycle: Int)
}
