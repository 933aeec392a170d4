package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One traced call into the program (or one benchmark phase). Spans of one
  * micro-batch or epoch share `batch`; `parent` is the enclosing span.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long, batch: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and written out at exit. Disabled, `span` only runs
  * its body: the untraced run pays a branch per call.
  */
object Tracer {
  @volatile var enabled = false
  /** Set while tracing: jobs launched inside a span carry its module (the
    * part of the span name before the first dot) as a local property.
    */
  @volatile var sc: org.apache.spark.SparkContext = null
  val ModuleProperty = "perfbench.module"
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong(0)
  private val stack = new ThreadLocal[List[Long]] { override def initialValue(): List[Long] = Nil }

  def span[T](name: String, batch: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      stack.set(id :: stack.get())
      val ctx = sc
      val outer = if (ctx == null) null else ctx.getLocalProperty(ModuleProperty)
      if (ctx != null) ctx.setLocalProperty(ModuleProperty, name.takeWhile(_ != '.'))
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime(), batch))
        stack.set(stack.get().tail)
        if (ctx != null) ctx.setLocalProperty(ModuleProperty, outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.startNs)

  def write(file: File, extra: Seq[(String, String)]): Unit = {
    file.getParentFile.mkdirs()
    val out = new PrintWriter(file, "UTF-8")
    try {
      val t0 = all.headOption.map(_.startNs).getOrElse(0L)
      out.println("{")
      extra.foreach { case (k, v) => out.println(s"  ${Json.str(k)}: $v,") }
      out.println("  \"spans\": [")
      out.println(all.map { s =>
        Json.obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
          "name" -> Json.str(s.name), "start_ms" -> Json.num((s.startNs - t0) / 1e6),
          "end_ms" -> Json.num((s.endNs - t0) / 1e6), "batch" -> s.batch.toString))
      }.mkString("    ", ",\n    ", ""))
      out.println("  ]\n}")
    } finally out.close()
  }
}

/** The phase a job or progress event belongs to (set by the workload). */
object Phase {
  @volatile var current = "setup"
  /** Runs before a phase ends; tracing sets it to drain the listener bus, so
    * events are attributed to the phase that posted them.
    */
  @volatile var beforeEnd: () => Unit = () => ()
  private val walls = mutable.ArrayBuffer.empty[(String, Long, Long)]
  /** Run `body` as phase `name`, recording the phase's wall interval. */
  def apply[T](name: String)(body: => T): T = {
    val prev = current
    current = name
    val t0 = System.currentTimeMillis()
    try Tracer.span(s"perfbench.phase.$name")(body)
    finally {
      beforeEnd()
      walls.synchronized(walls += ((name, t0, System.currentTimeMillis())))
      current = prev
    }
  }
  def intervals: Seq[(String, Long, Long)] = walls.synchronized(walls.toSeq)
  def reset(): Unit = walls.synchronized(walls.clear())
}

/** The benchmark's own SparkListener: per-phase job, stage and task totals,
  * and job count/seconds per program source file: the file of the job's
  * call site (`parquet at Dedup.scala:523` → `Dedup`) when that is a
  * program file, else the module of the benchmark span that launched it
  * (an action the benchmark runs on a frame the program built).
  */
final class SparkLayer extends SparkListener {
  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, schedMs, spill, shRead, shWrite = 0L
    var peakMem = 0L
    val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val jobsBy = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val jobMsBy = mutable.Map.empty[String, Long].withDefaultValue(0L)
  }
  val byPhase = mutable.LinkedHashMap.empty[String, Acc]
  private val open = mutable.Map.empty[Int, (String, String, Long)]
  private def acc(p: String) = byPhase.getOrElseUpdate(p, new Acc)

  private val SiteFile = """at ([A-Za-z0-9_$]+)\.scala:\d+""".r.unanchored
  private val BenchFiles = Set("CityMood", "Curation", "NearDup", "Main", "Common", "Trace")
  val unattributed = mutable.LinkedHashSet.empty[String]
  private def fileOf(site: String, module: String): String = site match {
    case SiteFile(f) if !BenchFiles(f) => f
    case _ if module != null && module.nonEmpty => module
    case _ => if (unattributed.size < 20) unattributed += site; "other"
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    val module = Option(e.properties).map(_.getProperty(Tracer.ModuleProperty)).orNull
    val p = Phase.current
    open(e.jobId) = (p, fileOf(site, module), e.time)
    acc(p).jobs += 1
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (p, f, t0) =>
      val a = acc(p)
      a.jobIntervals += ((t0, e.time))
      a.jobsBy(f) += 1
      a.jobMsBy(f) += e.time - t0
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    acc(Phase.current).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = acc(Phase.current)
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.shRead += m.shuffleReadMetrics.totalBytesRead
      a.shWrite += m.shuffleWriteMetrics.bytesWritten
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      val i = e.taskInfo
      a.schedMs += math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - i.gettingResultTime)
    }
  }

  /** Wall time of the phases minus the union of job intervals inside them. */
  private def driverGapS(phases: Set[String]): Double = synchronized {
    Phase.intervals.filter(i => phases(i._1)).map { case (p, w0, w1) =>
      val jobs = byPhase.get(p).toSeq.flatMap(_.jobIntervals)
        .map { case (a, b) => (math.max(a, w0), math.min(b, w1)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      jobs.foreach { case (a, b) =>
        if (a > end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      (w1 - w0 - covered) / 1000.0
    }.sum
  }

  /** Totals over `phases`, named as in BENCHMARK.json. */
  def metrics(phases: Set[String], files: Seq[String]): Map[String, Double] = synchronized {
    val as = byPhase.filter(kv => phases(kv._1)).values.toSeq
    def sum(f: Acc => Long) = as.map(f).sum.toDouble
    Map(
      "spark.jobs" -> sum(_.jobs), "spark.stages" -> sum(_.stages),
      "spark.tasks" -> sum(_.tasks), "spark.task_run_s" -> sum(_.runMs) / 1e3,
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9, "spark.gc_s" -> sum(_.gcMs) / 1e3,
      "spark.sched_delay_s" -> sum(_.schedMs) / 1e3, "spark.spill_bytes" -> sum(_.spill),
      "spark.shuffle_read_bytes" -> sum(_.shRead), "spark.shuffle_write_bytes" -> sum(_.shWrite),
      "spark.peak_exec_mem_bytes" -> as.map(_.peakMem).maxOption.getOrElse(0L).toDouble,
      "spark.driver_gap_s" -> driverGapS(phases)) ++
      files.flatMap { f =>
        Seq(s"jobs.$f" -> as.map(_.jobsBy(f)).sum.toDouble,
          s"job_s.$f" -> as.map(_.jobMsBy(f)).sum / 1e3)
      }
  }

  def describe(): String = synchronized {
    byPhase.map { case (p, a) =>
      val top = a.jobMsBy.toSeq.sortBy(-_._2).take(6)
        .map { case (f, ms) => s"$f ${a.jobsBy(f)}j/${ms / 1e3}s" }.mkString(", ")
      s"phase $p: ${a.jobs} jobs, ${a.stages} stages, ${a.tasks} tasks, " +
        s"run ${a.runMs / 1e3}s, gc ${a.gcMs / 1e3}s, shuffle r/w ${a.shRead}/${a.shWrite} B, " +
        s"spill ${a.spill} B; by call site: $top"
    }.mkString("\n") + s"\nunattributed call sites: ${unattributed.mkString(" | ")}"
  }
}

/** The benchmark's own StreamingQueryListener: every progress record,
  * tagged with the phase it arrived in.
  */
final class StreamLayer extends StreamingQueryListener {
  final case class Rec(phase: String, batch: Long, durations: Map[String, Long],
      stateRows: Long, stateMem: Long, stateCommitMs: Long, dropped: Long, inputRows: Long)
  val recs = new ConcurrentLinkedQueue[Rec]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val ops = p.stateOperators.toSeq
    recs.add(Rec(Phase.current, p.batchId,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
      ops.map(_.commitTimeMs).sum, ops.map(_.numRowsDroppedByWatermark).sum,
      p.numInputRows))
  }

  /** p50 over the phase's batches, named as in BENCHMARK.json. */
  def metrics(phase: String): Map[String, Double] = {
    val rs = recs.asScala.toSeq.filter(_.phase == phase)
    def p50(f: Rec => Double) = Stats.p50OrZero(rs.map(f))
    def dur(k: String) = p50(_.durations.getOrElse(k, 0L).toDouble)
    Map(
      "stream.batches" -> rs.size.toDouble,
      "stream.trigger_ms" -> dur("triggerExecution"), "stream.add_batch_ms" -> dur("addBatch"),
      "stream.query_planning_ms" -> dur("queryPlanning"),
      "stream.latest_offset_ms" -> dur("latestOffset"), "stream.wal_commit_ms" -> dur("walCommit"),
      "stream.commit_offsets_ms" -> dur("commitOffsets"),
      "stream.state_rows" -> p50(_.stateRows.toDouble),
      "stream.state_mem_bytes" -> p50(_.stateMem.toDouble),
      "stream.state_commit_ms" -> p50(_.stateCommitMs.toDouble),
      "stream.late_rows_dropped" -> rs.map(_.dropped).sum.toDouble)
  }
}
