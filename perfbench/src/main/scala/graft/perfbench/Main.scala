package graft.perfbench

import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Benchmark entry point: one workload, one seed, one measured window.
  *
  * {{{
  *   Main --workload serve|churn|curate --seed N --seconds S --trace 0|1
  *        --work DIR [--size full|smoke] [--spans FILE] [--fault OP]
  * }}}
  *
  * Set-up (generate inputs, write and commit layouts, build sidecars) runs
  * once untimed in the cold JVM, then three more times, and `setup_s` is
  * the median of those three; the smoke size sets up once and times
  * that. Untimed warm-up cycles then let the JIT reach steady state, and the
  * window runs a fixed number of cycles, both counts set from `--seconds`
  * (see `Workload.cycleSeconds`).
  * With `--trace 1` every other cycle is traced and the result carries the
  * per-layer metrics; with `--trace 0` it carries the end-to-end ones. The
  * last stdout line is `RESULT {json}`. Exit code 0 when every output check
  * passed, 3 when one failed.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val size = if (opts.getOrElse("size", "full") == "smoke") Size.Smoke else Size.Full
    val work = opts("work")
    require(Set("serve", "churn", "curate")(workload), s"unknown workload $workload")

    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mark("session ready")
    val code =
      try run(spark, workload, seed, seconds, trace, size, work,
        opts.get("spans"), opts.get("fault"))
      finally spark.stop()
    mark("stopped")
    sys.exit(code)
  }

  private val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

  /** Progress marks on stderr (the run log), seconds since JVM start. */
  private def mark(what: String): Unit =
    System.err.println(f"perfbench ${(System.currentTimeMillis - jvmStart) / 1000.0}%.1fs $what")

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def rmrf(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(rmrf))
    f.delete()
  }

  def unit(name: String): String =
    if (name.endsWith("ns_per_row")) "ns"
    else if (name.endsWith("_ms")) "ms"
    else if (name.endsWith("per_s")) "1/s"
    else if (name.endsWith("_s")) "s"
    else if (name.endsWith("_mb")) "MB"
    else if (Seq("_frac", "_amp", "skew", "yield", "recall_at_k").exists(name.endsWith)) "ratio"
    else "count"

  private def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      trace: Boolean, size: Size.Value, work: String,
      spansPath: Option[String], fault: Option[String]): Int = {
    val ctx = new Ctx(spark, seed, size)
    val tracer = if (trace) Some(Tracer.install(spark)) else None
    val r = new Runner(spark, tracer, fault)

    // set-up, repeated; the last instance is the one measured. The first
    // full-size set-up runs in a cold JVM and is not timed.
    val (cold, timed) = if (size == Size.Smoke) (0, 1) else (1, 3)
    val setupS = ArrayBuffer.empty[Double]
    var wl: Workload = null
    for (i <- 1 to cold + timed) {
      val dir = new java.io.File(s"$work/data/setup-$i")
      val t0 = System.nanoTime
      val w = workload match {
        case "serve" => new Serve(ctx)
        case "churn" => new Churn(ctx)
        case _ => new Curate(ctx)
      }
      w.setup(dir.getAbsolutePath)
      if (i > cold) setupS += (System.nanoTime - t0) / 1e9
      if (i > 1) rmrf(new java.io.File(s"$work/data/setup-${i - 1}"))
      wl = w
      mark(s"setup $i done")
    }

    // untimed warm-up as long as the window, so the JIT and caches settle
    // before anything is timed
    val cycles = math.max(if (trace) 4 else 2, math.ceil(seconds / wl.cycleSeconds).toInt)
    (1 to math.max(2, math.ceil(seconds / wl.cycleSeconds).toInt)).foreach(_ => wl.cycle(r))
    mark("warm-up done")

    // measured window
    r.measuring = true
    val gc0 = gcMs()
    val check0 = r.checkNs
    var probeNs = 0L
    val t0 = System.nanoTime
    while (r.cycle < cycles) {
      val traced = tracer.isDefined && r.cycle % 2 == 1
      tracer.foreach(_.enabled = traced)
      wl.cycle(r)
      if (traced) {
        val p0 = System.nanoTime
        wl.probes(r)
        probeNs += System.nanoTime - p0
      }
      tracer.foreach(_.enabled = false)
      r.cycle += 1
    }
    val wall = (System.nanoTime - t0) / 1e9
    val callWall = wall - (r.checkNs - check0) / 1e9 - probeNs / 1e9
    val driverGcMs = gcMs() - gc0
    r.measuring = false
    mark("window done")
    wl.finish(r)
    mark("finish done")

    val untraced = r.samples.filterNot(_.traced)
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val detail = scala.collection.mutable.LinkedHashMap.empty[String, Any]

    if (!trace) {
      metrics("setup_s") = Stats.median(setupS)
      metrics("ops_per_s") = untraced.size / callWall
      metrics("call_p50_ms") = Stats.quantile(untraced.map(_.ms), 0.5)
      metrics("call_p90_ms") = Stats.quantile(untraced.map(_.ms), 0.9)
      detail("call_n") = untraced.size
      untraced.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, xs) =>
        detail(s"${op}_p50_ms") = Stats.quantile(xs.map(_.ms), 0.5)
        detail(s"${op}_p90_ms") = Stats.quantile(xs.map(_.ms), 0.9)
        detail(s"${op}_n") = xs.size
      }
      detail("cycle_p50_ms") = Stats.median(untraced.groupBy(_.cycle).values.map(_.map(_.ms).sum))
    } else {
      val t = tracer.get
      Layers.kernels(r, wl.kernelInput)
      val layers = t.callLayers()
      def split(prefix: String, ls: Seq[CallLayers], into: scala.collection.mutable.Map[String, Double]): Unit = {
        def mean(f: CallLayers => Double) = Stats.mean(ls.map(f))
        def med(f: CallLayers => Double) = Stats.median(ls.map(f))
        into(s"${prefix}construct_ms") = med(_.constructMs)
        into(s"${prefix}construct_jobs") = mean(_.constructJobs)
        into(s"${prefix}plan_ms") = med(l => l.planMs.getOrElse(l.catalystMs))
        into(s"${prefix}catalyst_ms") = mean(_.catalystMs)
        into(s"${prefix}sql_execs") = mean(_.sqlExecs)
        into(s"${prefix}action_ms") = med(_.actionMs)
        into(s"${prefix}jobs") = mean(_.jobs)
        into(s"${prefix}stages") = mean(_.stages)
        into(s"${prefix}tasks") = mean(_.tasks.toDouble)
        into(s"${prefix}task_ms") = mean(_.taskMs.toDouble)
        into(s"${prefix}gc_ms") = mean(_.gcMs.toDouble)
        into(s"${prefix}sched_wait_ms") = mean(_.schedWaitMs.toDouble)
        into(s"${prefix}shuffle_mb") = mean(_.shuffleBytes / 1e6)
        into(s"${prefix}spill_mb") = mean(_.spillBytes / 1e6)
        into(s"${prefix}write_mb") = mean(_.writeBytes / 1e6)
        into(s"${prefix}skew") = med(_.skew)
      }
      split("", layers, metrics)
      val perOp = scala.collection.mutable.LinkedHashMap.empty[String, Double]
      layers.groupBy(_.op).toSeq.sortBy(_._1).foreach { case (op, ls) =>
        perOp(s"$op.call_ms") = Stats.median(ls.map(_.totalMs))
        split(s"$op.", ls, perOp)
      }
      r.notes.foreach { case (k, xs) =>
        val v = if (k.endsWith("_ms") || k.endsWith("ns_per_row")) Stats.median(xs) else Stats.mean(xs)
        if (Layers.SharedNotes(k) || k.startsWith("functions.")) metrics(k) = v else perOp(k) = v
      }
      System.gc()
      val rt = Runtime.getRuntime
      metrics("jvm.heap_after_gc_mb") = (rt.totalMemory - rt.freeMemory) / 1e6
      metrics("jvm.driver_gc_ms") = driverGcMs.toDouble
      // per-op medians, traced over untraced, weighted by each op's call count
      val byOp = r.samples.groupBy(_.op).values.filter(xs => xs.exists(_.traced) && xs.exists(!_.traced))
      def cost(traced: Boolean) = byOp.map(xs => xs.size * Stats.median(xs.filter(_.traced == traced).map(_.ms))).sum
      metrics("trace.overhead_frac") = cost(true) / cost(false) - 1
      detail ++= perOp
      detail("trace.spans") = t.spans.size
      spansPath.foreach(t.writeSpans)
    }
    detail ++= wl.detail(r)
    detail("fail_frac") = if (r.attempted > 0) r.failed.toDouble / r.attempted else 0.0
    detail("setup_runs_s") = setupS.toSeq
    detail("cycles") = r.cycle
    detail("window_s") = wall
    detail("cpus") = Runtime.getRuntime.availableProcessors

    def withUnits(m: scala.collection.Map[String, Any]) = m.map {
      case (k, v: Double) => k -> Json.obj("value" -> v, "unit" -> unit(k))
      case (k, v: Int) => k -> Json.obj("value" -> v, "unit" -> unit(k))
      case (k, v) => k -> v
    }
    val correct = r.failed == 0
    println("RESULT " + Json.enc(Json.obj(
      "correct" -> correct, "attempted" -> r.attempted, "failed" -> r.failed,
      "metrics" -> withUnits(metrics), "detail" -> withUnits(detail),
      "failures" -> r.failures.toSeq,
      "samples" -> r.samples.map(x => Seq(x.op, x.ms, x.traced, x.cycle)),
      "env" -> Json.obj("jvm_version" -> System.getProperty("java.version"),
        "spark_version" -> spark.version))))
    if (correct) 0 else 3
  }
}
