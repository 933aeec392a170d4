package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** A seeded workload driven through the program's public functions. */
trait Workload {
  /** Run the program's functions once on tiny inline data. */
  def warmup(spark: SparkSession, dir: String): Unit
  /** Write the inputs for `ctx.seed` under `ctx.in`, with plain file I/O
    * where they are text; print the measured share of every varied property.
    */
  def generate(spark: SparkSession, ctx: Ctx): Map[String, Double]
  /** One measured round on fresh output directories under `dir`; checks the
    * outputs after the timed window.
    */
  def measure(spark: SparkSession, ctx: Ctx, dir: String, traced: Boolean): Round
  /** The phase whose streaming progress the per-layer `stream.*` metrics summarize. */
  def streamPhase: String = ""
  /** Extra traced-only measurements that may replace the session; returns
    * the session to continue with. `warm` is an untraced round run after the
    * traced one.
    */
  def traceExtras(spark: SparkSession, ctx: Ctx, warm: Round): (SparkSession, Map[String, Double]) =
    (spark, Map.empty)
}

final class Ctx(val opts: Opts, val ops: Ops) {
  def seed: Long = opts.seed
  def seconds: Int = opts.seconds
  val in = new File(opts.work, "in")
  def log(s: String): Unit = System.err.println(s"[perfbench] $s")
  def check(cond: Boolean, what: => String): Unit = ops.check(cond, what)
}

object Main {
  /** Program source files whose jobs the traced run reports by name. */
  val JobFiles = Seq("Sinks", "ExportPipeline", "QualityCheck", "SummaryPipeline", "CurationStream",
    "BudgetStream", "Dedup", "Html", "LangId", "Wet", "other")

  /** The benchmark's session factory: local[cores], shuffle partitions =
    * cores, everything Spark writes under the run's directory.
    */
  def session(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def workload(name: String): Workload = name match {
    case "city_mood" => CityMood
    case "curation_stream" => Curation
    case "near_dup_batch" => NearDup
    case other => sys.error(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val ctx = new Ctx(opts, new Ops)
    val wl = workload(opts.workload)
    var spark: SparkSession = null
    var metrics: Seq[(String, String, Double)] = Nil
    try {
      // set-up, several times: session start, then the program's warm-up
      val setups = (1 to 3).map { i =>
        if (spark != null) spark.stop()
        val t0 = System.nanoTime()
        spark = session(opts.cores, opts.work)
        val t1 = System.nanoTime()
        wl.warmup(spark, s"${opts.work}/warmup$i")
        ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
      }
      val setupS = Stats.median(setups.map { case (a, b) => a + b })
      ctx.log(f"setup: ${setups.map { case (a, b) => f"$a%.3f+$b%.3f" }.mkString(" ")} s (session+warm-up)")

      val g0 = System.nanoTime()
      val genProps = wl.generate(spark, ctx)
      val genS = Stats.secondsSince(g0)
      ctx.log(f"inputs generated in $genS%.3f s: " +
        genProps.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(" "))

      val untraced = wl.measure(spark, ctx, s"${opts.work}/round-u", traced = false)
      val e2e = untraced.e2e ++ Map("setup_s" -> setupS, "peak_rss_mb" -> Stats.peakRssMb())
      ctx.log("end-to-end: " + Layers.endToEnd.map { case (k, u) => f"$k=${e2e(k)}%.4f $u" }.mkString(", "))

      if (!opts.trace) metrics = Layers.endToEnd.map { case (k, u) => (k, u, e2e(k)) }
      else {
        val sparkLayer = new SparkLayer
        val streamLayer = new StreamLayer
        val sc = spark.sparkContext
        sc.addSparkListener(sparkLayer)
        spark.streams.addListener(streamLayer)
        Phase.beforeEnd = () => org.apache.spark.BenchBus.drain(sc)
        Phase.reset()
        Tracer.sc = sc
        Tracer.enabled = true
        val traced = wl.measure(spark, ctx, s"${opts.work}/round-t", traced = true)
        Tracer.enabled = false
        Tracer.sc = null
        org.apache.spark.BenchBus.drain(sc)
        sc.removeSparkListener(sparkLayer)
        spark.streams.removeListener(streamLayer)
        Phase.beforeEnd = () => ()
        val measured = Phase.intervals.map(_._1).filterNot(_.startsWith("check")).toSet
        val layers = sparkLayer.metrics(measured, JobFiles) ++ streamLayer.metrics(wl.streamPhase)
        ctx.log(sparkLayer.describe())
        // the overhead compares the traced round with an untraced round run
        // after it: the first round still pays JIT warm-up and first-query
        // start-up, which would read as negative tracing overhead
        val warm = wl.measure(spark, ctx, s"${opts.work}/round-u2", traced = false)
        // signed so that a positive overhead is what tracing costs: lost
        // throughput, added time
        val overhead = Layers.endToEnd.map(_._1).filter(traced.e2e.contains).map { k =>
          val d = traced.e2e(k) - warm.e2e(k)
          s"trace.overhead.$k" -> (if (k == "throughput_per_s") -d else d)
        }
        val (next, extras) = wl.traceExtras(spark, ctx, warm)
        spark = next
        val layer = traced.layer ++ overhead ++ extras ++ layers ++
          Map("setup.session_s" -> Stats.median(setups.map(_._1)),
            "setup.warmup_s" -> Stats.median(setups.map(_._2)), "gen.inputs_s" -> genS)
        // a layer this workload does not exercise reports 0
        val idle = Layers.perLayer.map(_._1).filterNot(layer.contains)
        ctx.log(s"layers not exercised (reported as 0): ${idle.mkString(" ")}")
        metrics = Layers.perLayer.map { case (k, u) => (k, u, layer.getOrElse(k, 0.0)) }
        val spanFile = new File(opts.traceDir, s"${opts.workload}-seed${opts.seed}.spans.json")
        Tracer.write(spanFile, Seq(
          "workload" -> Json.str(opts.workload), "seed" -> opts.seed.toString,
          "generated" -> Json.obj(genProps.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.num(v) }),
          "spark_phases" -> Json.str(sparkLayer.describe()),
          "stream_progress" -> streamLayer.recs.toArray.map(_.toString).map(Json.str).mkString("[", ", ", "]"),
          "per_layer" -> Json.obj(metrics.map { case (k, _, v) => k -> Json.num(v) })))
        ctx.log(s"spans written to $spanFile")
        metrics.foreach { case (k, u, v) => ctx.log(f"  $k%-36s $v%.6f $u") }
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.ops.fail(s"run aborted: $e")
    } finally {
      if (spark != null) spark.stop()
    }
    val (attempted, failed) = ctx.ops.counts
    ctx.log(f"operations: $attempted attempted, $failed failed, failed_op_ratio=${failed.toDouble / math.max(attempted, 1)}%.6f")
    val correct = failed == 0 && metrics.nonEmpty
    if (metrics.nonEmpty)
      println(Json.obj(Seq(
        "correct" -> correct.toString, "attempted" -> math.max(attempted, 1).toString,
        "failed" -> failed.toString,
        "metrics" -> Json.obj(metrics.map { case (k, u, v) =>
          k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
        }))))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }
}

/** The build's class-data-sharing run: starts Spark and warms up every
  * workload once, so the classes a benchmark run loads at set-up are in the
  * archive the JVM writes at exit. Nothing is measured.
  */
object ArchiveRun {
  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = m("work")
    val spark = Main.session(m("cores").toInt, work)
    try Seq("city_mood", "curation_stream", "near_dup_batch").foreach { w =>
      Main.workload(w).warmup(spark, s"$work/warmup-$w")
    } finally spark.stop()
  }
}
