package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One traced interval. Times are epoch milliseconds (fractional), the
  * clock Spark's scheduler events use, so benchmark-side spans and
  * listener-side job/stage spans share one axis. */
final case class Span(id: Long, parent: Long, kind: String, name: String,
                      layer: String, start: Double, var end: Double) {
  def dur: Double = end - start
}

/** Per-stage task aggregates, folded from task-end events. */
final class StageAgg {
  var tasks = 0
  var maxTaskMs = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var inBytes = 0L
  var inRows = 0L
  var shufReadBytes = 0L
  var shufWriteBytes = 0L
  var spillBytes = 0L
}

/** Benchmark-side tracer: spans for workload pass → operation → phase are
  * opened around calls into the engine; Spark jobs and stages attach to
  * the phase whose span id the benchmark set as the job group. Catalyst
  * planning time comes from each QueryExecution's phase tracker. Spans
  * stay in memory and are written out once, at the end of the run.
  *
  * The listener is registered only for traced runs; untraced runs pay
  * nothing for it. */
final class Tracer(sc: SparkContext) extends SparkListener with QueryExecutionListener {

  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis().toDouble
  def now(): Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private var nextId = 1L
  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]

  // listener-side state (listener bus thread; guarded by `this`)
  private val stageAgg = mutable.HashMap.empty[Int, StageAgg]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val jobSpan = mutable.HashMap.empty[Int, Span]
  private var jobsStarted = 0
  private var jobsEnded = 0
  /** Task aggregates per stage span id. */
  val stageOf = mutable.HashMap.empty[Long, StageAgg]
  /** Catalyst analysis + optimisation + planning time so far. */
  @volatile var planMs = 0.0

  private def newSpan(parent: Long, kind: String, name: String, layer: String,
                      start: Double): Span = synchronized {
    val s = Span(nextId, parent, kind, name, layer, start, start)
    nextId += 1
    spans += s
    s
  }

  /** The innermost open span. */
  def current: Span = open.top

  /** Run `body` inside a span that is a child of the innermost open one;
    * Spark jobs launched inside it carry its id as their job group. */
  def span[T](kind: String, name: String, layer: String)(body: => T): T = {
    val parent = if (open.isEmpty) 0L else open.top.id
    val s = newSpan(parent, kind, name, layer, now())
    open.push(s)
    sc.setJobGroup(s.id.toString, s"$kind $name", interruptOnCancel = false)
    try body
    finally {
      s.end = now()
      open.pop()
      if (open.isEmpty) sc.clearJobGroup()
      else sc.setJobGroup(open.top.id.toString, s"${open.top.kind} ${open.top.name}",
        interruptOnCancel = false)
    }
  }

  /** Block until the listener bus has delivered every job this tracer saw
    * start (events are asynchronous), so a pass's numbers are complete. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10_000_000_000L
    Thread.sleep(50)
    while (synchronized(jobsEnded < jobsStarted) && System.nanoTime() < deadline)
      Thread.sleep(20)
    Thread.sleep(100) // query-execution events trail the job-end events
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsStarted += 1
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .flatMap(_.toLongOption).getOrElse(0L)
    val s = newSpan(group, "job", s"job ${e.jobId}", "spark.job", e.time.toDouble)
    jobSpan(e.jobId) = s
    e.stageIds.foreach(sid => stageJob.getOrElseUpdate(sid, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobsEnded += 1
    jobSpan.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val a = stageAgg.getOrElseUpdate(e.stageId, new StageAgg)
    a.tasks += 1
    a.maxTaskMs = math.max(a.maxTaskMs, e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.inBytes += m.inputMetrics.bytesRead
      a.inRows += m.inputMetrics.recordsRead
      a.shufReadBytes += m.shuffleReadMetrics.totalBytesRead
      a.shufWriteBytes += m.shuffleWriteMetrics.bytesWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    val job = stageJob.get(info.stageId).flatMap(jobSpan.get)
    val start = info.submissionTime.getOrElse(0L).toDouble
    val s = newSpan(job.map(_.id).getOrElse(0L), "stage", s"stage ${info.stageId}",
      "spark.stage", start)
    s.end = info.completionTime.map(_.toDouble).getOrElse(start)
    stageOf(s.id) = stageAgg.remove(info.stageId).getOrElse(new StageAgg)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    synchronized(planMs += ms)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Spans as JSON lines (written once, when the run ends). */
  def spansJson: Iterator[String] = synchronized(spans.toList).iterator.map { s =>
    val agg = stageOf.get(s.id).map { a =>
      s""","tasks":${a.tasks},"max_task_ms":${a.maxTaskMs},"run_ms":${a.runMs},""" +
        s""""cpu_ns":${a.cpuNs},"gc_ms":${a.gcMs},"in_bytes":${a.inBytes},""" +
        s""""in_rows":${a.inRows},"shuffle_read_bytes":${a.shufReadBytes},""" +
        s""""shuffle_write_bytes":${a.shufWriteBytes},"spill_bytes":${a.spillBytes}"""
    }.getOrElse("")
    s"""{"id":${s.id},"parent":${s.parent},"kind":"${s.kind}","name":"${Json.esc(s.name)}",""" +
      s""""layer":"${s.layer}","start_ms":${s.start},"end_ms":${s.end}$agg}"""
  }
}

/** Layer metrics derived from the spans under one pass span. */
object LayerSummary {

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (curS.isNaN || s > curE) {
          if (!curS.isNaN) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Over the spans recorded so far: from a span id to every span below
    * it, at any depth. */
  def below(t: Tracer): Long => List[Span] = {
    val children = t.synchronized(t.spans.toList).groupBy(_.parent)
    def under(id: Long): List[Span] =
      children.getOrElse(id, Nil).flatMap(c => c :: under(c.id))
    under
  }

  /** Metrics for one traced pass: its children are the operations, their
    * children the phases, and jobs hang off phases (or ops). */
  def of(t: Tracer, pass: Span): Map[String, Double] = {
    val under = below(t)
    val inPass = under(pass.id)
    val jobs = inPass.filter(_.kind == "job")
    val stages = inPass.filter(_.kind == "stage")
    val aggs = stages.flatMap(s => t.stageOf.get(s.id))
    val ops = inPass.filter(s => s.parent == pass.id && s.kind == "op")
    val wallS = pass.dur / 1000
    val runS = aggs.map(_.runMs).sum / 1000.0
    // op wall time not covered by any stage of the op: query
    // planning, eager collects, scheduling gaps between stages
    val gapS = ops.map { op =>
      val st = under(op.id).filter(_.kind == "stage").map(s => (s.start, s.end))
      op.dur - covered(st, op.start, op.end)
    }.sum / 1000
    val buildSpans = inPass.filter(s => s.kind == "phase" && s.name == "build")
    val eagerJobs = buildSpans.map(b => under(b.id).count(_.kind == "job")).sum
    Map(
      "wall_s" -> wallS,
      "operators.build_s" -> buildSpans.map(_.dur).sum / 1000,
      "operators.eager_jobs" -> eagerJobs.toDouble,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> aggs.map(_.tasks).sum.toDouble,
      "spark.single_task_stages" -> aggs.count(_.tasks == 1).toDouble,
      "spark.sched_gap_s" -> gapS,
      "spark.crit_path_s" -> aggs.map(_.maxTaskMs).sum / 1000.0,
      "spark.exec_run_s" -> runS,
      "spark.exec_cpu_s" -> aggs.map(_.cpuNs).sum / 1e9,
      "spark.parallelism" -> (if (wallS > 0) runS / wallS else 0.0),
      "spark.shuffle_read_mb" -> aggs.map(_.shufReadBytes).sum / 1e6,
      "spark.shuffle_write_mb" -> aggs.map(_.shufWriteBytes).sum / 1e6,
      "spark.spill_mb" -> aggs.map(_.spillBytes).sum / 1e6,
      "Tables.input_mb" -> aggs.map(_.inBytes).sum / 1e6,
      "Tables.input_rows" -> aggs.map(_.inRows).sum.toDouble)
  }

  /** Self time per span kind under `pass`: a span's duration minus the
    * part of it its children cover. */
  def selfTimes(t: Tracer, pass: Span): Seq[(String, Double)] = {
    val all = t.synchronized(t.spans.toList)
    val children = all.groupBy(_.parent)
    def walk(s: Span): List[(String, Double)] = {
      val kids = children.getOrElse(s.id, Nil)
      val self = s.dur - covered(kids.map(k => (k.start, k.end)), s.start, s.end)
      (s.kind -> self / 1000) :: kids.flatMap(walk)
    }
    walk(pass).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).sum }
      .toSeq.sortBy(_._1)
  }
}

/** The traced part of a run, the same for every workload: the kernel
  * microbench, then traced passes with the listeners registered until
  * half the run length is used (at least one pass). Per pass it takes
  * the [[LayerSummary]] metrics, planning and GC time, `<layer>.busy_s`
  * for each operation layer and the workload's own metrics; it returns
  * their medians over passes with the kernel figures, the tracing
  * overhead against `untracedWall` and the gap between the pass wall
  * time and the busy times, which `gapWhy` explains in the report. */
object TracedRun {
  def apply[R](spark: SparkSession, a: Args, untracedWall: Double,
               report: mutable.Buffer[String], gapWhy: String)
              (prepare: () => Unit)(pass: Tracer => R)
              (finish: (List[Span], R) => Map[String, Double]): Map[String, Double] = {
    val tracer = new Tracer(spark.sparkContext)
    spark.sparkContext.addSparkListener(tracer)
    spark.listenerManager.register(tracer)
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    val kernels = try {
      val k = Kernels.run(spark, a.kernelDocs, a.seed)
      val tRun = System.nanoTime()
      do {
        prepare()
        Stats.settle()
        tracer.drain()
        val plan0 = tracer.planMs
        val gc0 = Stats.gcSeconds()
        var passSpan: Span = null
        val r = tracer.span("pass", a.workload, "perfbench") {
          passSpan = tracer.current
          pass(tracer)
        }
        val gcS = Stats.gcSeconds() - gc0
        tracer.drain()
        val inPass = LayerSummary.below(tracer)(passSpan.id)
        val busy = inPass.filter(s => s.parent == passSpan.id && s.kind == "op")
          .groupBy(_.layer).map { case (l, ops) => s"$l.busy_s" -> ops.map(_.dur).sum / 1000 }
        perPass += LayerSummary.of(tracer, passSpan) ++ busy ++ finish(inPass, r) ++ Map(
          "catalyst.plan_s" -> (tracer.planMs - plan0) / 1000,
          "jvm.gc_s" -> gcS)
        if (perPass.size == 1)
          report += s"[perfbench] self time by span kind, first traced pass: " +
            LayerSummary.selfTimes(tracer, passSpan).map { case (k, v) => f"$k=$v%.3fs" }.mkString(" ")
      } while ((System.nanoTime() - tRun) / 1e9 < a.seconds / 2)
      k
    } finally {
      spark.sparkContext.removeSparkListener(tracer)
      spark.listenerManager.unregister(tracer)
    }
    if (a.traceOut.nonEmpty)
      java.nio.file.Files.write(java.nio.file.Paths.get(a.traceOut),
        tracer.spansJson.toSeq.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    val keys = perPass.flatMap(_.keys).distinct
    val med = keys.map(k => k -> Stats.median(perPass.map(_.getOrElse(k, 0.0)).toSeq)).toMap
    val wall = med("wall_s")
    val busy = med.collect { case (k, v) if k.endsWith(".busy_s") => v }.sum
    report += f"[perfbench] traced wall_s=$wall%.3f untraced wall_s=$untracedWall%.3f " +
      f"overhead=${wall / untracedWall - 1}%.4f; operation busy_s sum=$busy%.3f, " +
      f"gap=${wall - busy}%.3f s (${(wall - busy) / wall * 100}%.2f%%: $gapWhy)"
    report ++= med.toSeq.sortBy(_._1).map { case (k, v) => f"[perfbench] layer $k = $v%.6f" }
    med ++ kernels ++ Map(
      "trace.overhead_frac" -> (wall / untracedWall - 1),
      "trace.gap_s" -> (wall - busy))
  }
}
