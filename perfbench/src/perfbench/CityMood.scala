package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{BatchSink, JsonFileSource, NdjsonSink, ParquetSink, Sinks}
import graft.model.Schemas
import graft.pipeline.{ExportPipeline, MoodPipeline, PipelineRunner, QualityCheck, SummaryPipeline}
import graft.streaming.MoodStream

/** Seeded traffic/weather/news events, one NDJSON file per stream per tick.
  *
  * A tick covers `MinutesPerTick` event minutes. Field domains and rates
  * follow the reference producers (see `CityMood`). Traffic keys are
  * Zipf-skewed over the intersections; inside a file events are shuffled (out of order);
  * a `LateShare` of traffic events carries an event minute 3–8 minutes
  * behind its tick (late, so the watermark may drop it), at most one per
  * (minute, intersection), with a vehicle id starting `L`. Weather label and
  * news sentiment are fixed per minute, so `first()` is deterministic.
  *
  * The generator also tracks, per event minute M, the creation time of the
  * file after which every stream had reached minute M + 1: with the
  * program's one-minute watermark that is the event that moved the
  * watermark past M, the start of M's latency.
  */
final class MoodGen(seed: Long) {
  import CityMood._
  private val r = new SplittableRandom(seed)
  private val zipf = new Zipf(Names.size, KeySkew)
  private val maxMinute = Array.fill(3)(-1)
  private var closedBelow = 0
  private val lateKeys = mutable.HashSet.empty[(Int, Int)]
  private val lastTs = Array.fill(3)(Long.MinValue)
  /** minute → (creation ms of the advancing file, whether it was a live tick) */
  val advancedAt = mutable.LongMap.empty[(Long, Boolean)]
  var traffic, late, outOfOrder, events = 0L
  val perKey = new Array[Long](Names.size)

  private def ts(minute: Int, sec: Int) =
    TsFormat.format(java.time.Instant.ofEpochMilli(T0 + minute * 60000L + sec * 1000L))

  private def shuffled(xs: mutable.ArrayBuffer[(Long, String)], stream: Int) = {
    for (i <- xs.indices.reverse) {
      val j = r.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
    }
    xs.foreach { case (t, _) =>
      if (t < lastTs(stream)) outOfOrder += 1 else lastTs(stream) = t
    }
    events += xs.size
    xs.map(_._2)
  }

  /** The three files' lines (without the creation stamp) of tick `i`. */
  def tick(i: Int): Seq[Seq[String]] = {
    val t, w, n = mutable.ArrayBuffer.empty[(Long, String)]
    for (m <- i * MinutesPerTick until (i + 1) * MinutesPerTick) {
      for (_ <- 0 until TrafficPerMinute) {
        val k = zipf.sample(r)
        val lag = 3 + r.nextInt(6)
        val isLate = r.nextDouble() < LateShare && m - lag >= 0 && lateKeys.add((m - lag, k))
        val minute = if (isLate) m - lag else m
        val sec = r.nextInt(60)
        traffic += 1; perKey(k) += 1
        if (isLate) late += 1
        val vid = (if (isLate) "L" else "") + s"veh-${1000 + r.nextInt(9000)}"
        val speed = (1000 + r.nextInt(8000)) / 100.0
        t += ((minute * 60L + sec,
          s"""{"intersection":"${Names(k)}","vehicle_id":"$vid","speed":$speed,"timestamp":"${ts(minute, sec)}""""))
      }
      val label = WeatherLabels(Math.floorMod((m * 7919L + seed).toInt, WeatherLabels.size))
      for (_ <- 0 until WeatherPerMinute) {
        val sec = r.nextInt(60)
        val temp = (r.nextInt(400) - 50) / 10.0
        w += ((m * 60L + sec,
          s"""{"timestamp":"${ts(m, sec)}","temp":$temp,"windspeed":${r.nextInt(300) / 10.0},"weather":"$label""""))
      }
      val sentiment = Sentiments(Math.floorMod((m * 104729L + seed).toInt, Sentiments.size))
      for (_ <- 0 until NewsPerMinute) {
        val sec = r.nextInt(60)
        n += ((m * 60L + sec,
          s"""{"timestamp":"${ts(m, sec)}","headline":"headline ${r.nextInt(1000)}","sentiment":"$sentiment""""))
      }
    }
    Seq(shuffled(t, 0).toSeq, shuffled(w, 1).toSeq, shuffled(n, 2).toSeq)
  }

  /** Record that stream `s`'s file of tick `i` became visible at `createdMs`. */
  def written(i: Int, s: Int, createdMs: Long, live: Boolean): Unit = {
    maxMinute(s) = math.max(maxMinute(s), (i + 1) * MinutesPerTick - 1)
    val g = maxMinute.min
    while (closedBelow <= g - 1) { advancedAt(closedBelow.toLong) = (createdMs, live); closedBelow += 1 }
  }

  /** The highest minute whose watermark has passed, after everything written. */
  def closedMinutes: Int = closedBelow

  /** Tick `i` as file contents stamped with `createdMs`. */
  def files(lines: Seq[Seq[String]], createdMs: Long): Seq[String] =
    lines.map(_.map(l => s"""$l,"created_ms":$createdMs}""").mkString("", "\n", "\n"))
}

/** Writes ticks into the three stream directories on a fixed schedule
  * (open loop: it never waits for the system), one thread.
  */
final class LiveGenerator(gen: MoodGen, dirs: Seq[File], from: Int, ticks: Int, periodMs: Double)
    extends Thread("perfbench-live-generator") {
  val lateMs = mutable.ArrayBuffer.empty[Double]
  @volatile var error: Option[Throwable] = None
  private val pending = (from until from + ticks).map(i => i -> gen.tick(i))
  override def run(): Unit = try {
    val start = System.nanoTime()
    pending.zipWithIndex.foreach { case ((i, lines), k) =>
      val dueNs = start + (k * periodMs * 1e6).toLong
      val waitNs = dueNs - System.nanoTime()
      if (waitNs > 0) Thread.sleep(waitNs / 1000000, (waitNs % 1000000).toInt)
      lateMs += math.max(0.0, (System.nanoTime() - dueNs) / 1e6)
      val created = System.currentTimeMillis()
      gen.files(lines, created).zip(dirs).zipWithIndex.foreach { case ((content, dir), s) =>
        FileIO.writeAtomic(dir, f"tick-$i%05d.json", content)
        gen.written(i, s, created, live = true)
      }
    }
  } catch { case e: Throwable => error = Some(e) }
}

/** A BatchSink decorator timing each ParquetSink write and noting, per
  * write, its commit time and the part files it added.
  */
final class TimedSink(inner: BatchSink, dir: File) extends BatchSink {
  val writes = mutable.ArrayBuffer.empty[(String, Long, Double, Set[String])]
  private var seen = Set.empty[String]
  def write(df: DataFrame): Unit = {
    val t0 = System.nanoTime()
    Tracer.span("Sinks.ParquetSink.write")(inner.write(df))
    val ms = (System.nanoTime() - t0) / 1e6
    val commit = System.currentTimeMillis()
    val files = FileIO.dataFiles(dir).map(_.getName).toSet
    val fresh = files -- seen
    seen = files
    writes.synchronized(writes += ((Phase.current, commit, ms, fresh)))
  }
}

/** The traffic follows the reference producers: four named intersections
  * drawn per event, speed uniform in [10, 90) with two decimals, vehicle ids
  * veh-1000…veh-9999 (`traffic_producer.py`), the weather vocabulary of
  * `WEATHER_CODE_MAP` (`weather_producer.py`), and one event per second on
  * each of the three topics, i.e. 60 per event minute per stream. Event time
  * runs faster than wall time: the live phase writes `LiveMinutes` event
  * minutes in `--seconds`. Two properties the reference does not have are
  * set by the benchmark and measured on every run: a Zipf skew over the
  * intersections (the reference draws them uniformly) and a `LateShare` of
  * late traffic events (the reference stamps each event when it is sent).
  */
object CityMood extends Workload {
  val Names: IndexedSeq[String] = IndexedSeq("north_avenue", "mashtots", "komitas", "tumanyan")
  val TrafficPerMinute = 60
  val WeatherPerMinute = 60
  val NewsPerMinute = 60
  /** Zipf exponent of the intersection draw: the classic rank-frequency law, 1/rank. */
  val KeySkew = 1.0
  val MinutesPerTick = 10
  val BacklogTicks = 30
  val LiveMinutes = 220
  val MaxFilesPerTrigger = 10
  val LateShare = 0.02
  val DagRuns = 5
  val T0: Long = java.time.Instant.parse("2026-01-01T00:00:00Z").toEpochMilli
  val WeatherLabels = Seq("clear", "mainly_clear", "partly_cloudy", "overcast", "fog", "depositing_rime_fog",
    "drizzle_light", "drizzle_moderate", "drizzle_dense", "rain_slight", "rain_moderate", "rain_heavy",
    "rain_showers_slight", "rain_showers_moderate", "rain_showers_heavy", "snow_slight", "snow_moderate",
    "snow_heavy", "snow_showers_slight", "snow_showers_heavy", "thunderstorm", "thunderstorm_with_hail", "unknown")
  val Sentiments = Seq("negative", "positive", "neutral", "neutral")
  val Streams = Seq("traffic", "weather", "news")
  val TsFormat: java.time.format.DateTimeFormatter =
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
  def liveTicks: Int = (LiveMinutes + MinutesPerTick - 1) / MinutesPerTick

  /** The batch and streaming compositions once each, on static frames of one
    * tick (the streaming query's own start-up stays in the catch-up).
    */
  def warmup(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val Seq(t, w, n) = new MoodGen(0L).tick(0).zip(Seq(Schemas.traffic, Schemas.weather, Schemas.news)).map {
      case (lines, schema) => spark.read.schema(schema).json(spark.createDataset(lines.map(_ + "}")))
    }
    MoodPipeline.run(t, w, n).collect()
    MoodStream.aggregatedJoined(t, w, n).collect()
  }

  private def sources(spark: SparkSession, in: File) =
    Seq(Schemas.traffic, Schemas.weather, Schemas.news).zip(Streams).map { case (schema, s) =>
      new JsonFileSource(new File(in, s).getPath, Some(MaxFilesPerTrigger)).stream(spark, schema)
    }

  private def streamTo(spark: SparkSession, in: File, sink: BatchSink, ckpt: String) = {
    val Seq(t, w, n) = Tracer.span("Sources.JsonFileSource.stream")(sources(spark, in))
    val mood = Tracer.span("MoodStream.aggregatedJoined")(MoodStream.aggregatedJoined(t, w, n))
    Tracer.span("Sinks.streamInto")(Sinks.streamInto(mood, sink, ckpt).start())
  }

  def generate(spark: SparkSession, ctx: Ctx): Map[String, Double] = {
    val gen = new MoodGen(ctx.seed)
    val now = System.currentTimeMillis()
    for (i <- 0 until BacklogTicks) {
      // strictly increasing, past mtimes: the file source takes the backlog in tick order
      val mtime = now - (BacklogTicks - i + 60) * 1000L
      gen.files(gen.tick(i), mtime).zip(Streams).foreach { case (c, s) =>
        FileIO.writeAtomic(new File(ctx.in, s), f"tick-$i%05d.json", c, mtime)
      }
    }
    // the live ticks too, in memory only, so the shares cover the whole input
    (BacklogTicks until BacklogTicks + liveTicks).foreach(gen.tick)
    Map("gen.late_share" -> gen.late.toDouble / gen.traffic,
      "gen.out_of_order_share" -> gen.outOfOrder.toDouble / gen.events,
      "gen.top_key_share" -> gen.perKey.max.toDouble / gen.traffic)
  }

  private def backlogEvents(in: File): Long =
    FileIO.dataFiles(in).map(f => java.nio.file.Files.readAllLines(f.toPath).size.toLong).sum

  /** The round's inputs: the generated backlog, hard-linked (mtimes kept). */
  private def linkBacklog(ctx: Ctx, dir: String): File = {
    val in = new File(dir, "in")
    for (s <- Streams; f <- FileIO.dataFiles(new File(ctx.in, s))) {
      new File(in, s).mkdirs()
      java.nio.file.Files.createLink(new File(new File(in, s), f.getName).toPath, f.toPath)
    }
    in
  }

  override def streamPhase: String = "live"

  /** The catch-up drained once more at local[1]: the single-threaded baseline,
    * against the warm untraced catch-up at local[cores].
    */
  override def traceExtras(spark: SparkSession, ctx: Ctx, warm: Round): (SparkSession, Map[String, Double]) = {
    spark.stop()
    val dir = s"${ctx.opts.work}/round-1core"
    val one = Main.session(1, ctx.opts.work)
    val eps1 = try {
      val in = linkBacklog(ctx, dir)
      val t0 = System.nanoTime()
      val q = streamTo(one, in, new ParquetSink(s"$dir/sink"), s"$dir/ckpt")
      try q.processAllAvailable() finally q.stop()
      backlogEvents(in) / Stats.secondsSince(t0)
    } finally one.stop()
    ctx.log(f"city_mood: catch-up at local[1] $eps1%.1f events/s")
    (Main.session(ctx.opts.cores, ctx.opts.work),
      Map("scale.mood_catchup_speedup" -> warm.e2e("throughput_per_s") / eps1))
  }

  def measure(spark: SparkSession, ctx: Ctx, dir: String, traced: Boolean): Round = {
    val in = linkBacklog(ctx, dir)
    val nBacklog = backlogEvents(in)
    val gen = new MoodGen(ctx.seed)
    for (i <- 0 until BacklogTicks) { gen.tick(i); (0 until 3).foreach(s => gen.written(i, s, 0L, live = false)) }
    val sinkDir = new File(dir, "sink")
    val sink = new TimedSink(new ParquetSink(sinkDir.getPath), sinkDir)

    // catch-up: a restart facing the backlog
    val t0 = System.nanoTime()
    val q = Phase("catchup") {
      val q = streamTo(spark, in, sink, s"$dir/ckpt")
      q.processAllAvailable()
      q
    }
    val catchupS = Stats.secondsSince(t0)
    // live: the open-loop generator; event time runs faster than wall time
    val live = new LiveGenerator(gen, Streams.map(new File(in, _)), BacklogTicks, liveTicks,
      ctx.seconds * 1000.0 / liveTicks)
    var backlogEnd = 0L
    Phase("live") {
      live.start()
      live.join()
      if (traced) backlogEnd = unprocessedFiles(in, s"$dir/ckpt")
    }
    live.error.foreach(e => throw e)
    Phase("drain") { q.processAllAvailable() }
    q.stop()
    q.exception.foreach(e => throw e)
    ctx.ops.ok(sink.writes.size)

    // the nightly DAG over the sink, `DagRuns` times on fresh output directories
    val dags = Phase("dag")((0 until DagRuns).map(i => nightlyDag(spark, ctx, sinkDir.getPath, s"$dir/dag$i")))
    val moodDagS = Stats.median(dags.map(_._2))
    val dagOk = dags.forall(_._1)
    val dagS = if (!traced) Map.empty[String, Double]
      else dags.head._3.keys.map(k => k -> Stats.median(dags.map(_._3(k)))).toMap

    val latencies = Phase("check") {
      checkSink(spark, ctx, in, sinkDir.getPath, gen.closedMinutes)
      if (dagOk) (0 until DagRuns).foreach(i => checkSummary(spark, ctx, sinkDir.getPath, s"$dir/dag$i/summary"))
      latency(spark, sinkDir.getPath, sink, gen)
    }
    ctx.check(latencies.size >= 200, s"only ${latencies.size} latency samples (< 200 closed live minutes)")
    val p50 = Stats.median(latencies)
    val p95 = Stats.pct(latencies, 95)
    ctx.log(f"city_mood: catch-up $nBacklog events in $catchupS%.3f s; ${sink.writes.size} sink writes; " +
      f"latency p50 $p50%.1f ms p95 $p95%.1f ms over ${latencies.size} minutes; " +
      f"generator late p99 ${Stats.pct(live.lateMs.toSeq, 99)}%.2f ms; dag $moodDagS%.3f s")
    val liveWrites = sink.writes.filter(_._1 == "live").map(_._3).toSeq
    Round(
      Map("throughput_per_s" -> nBacklog / catchupS, "latency_p50_ms" -> p50, "batch_s" -> moodDagS),
      Map("mood.latency_p95_ms" -> p95, "mood.latency_samples" -> latencies.size.toDouble,
        "gen.late_ms_p99" -> Stats.pct(live.lateMs.toSeq, 99),
        "stream.backlog_files_end" -> backlogEnd.toDouble,
        "io.sink_write_ms_p50" -> Stats.p50OrZero(liveWrites)) ++ dagS)
  }

  /** Input files the query has not yet taken: all input files minus those
    * the file sources' logs in its checkpoint list (`sources/<i>/<batch>`,
    * folded into `<batch>.compact` every few batches).
    */
  private def unprocessedFiles(in: File, ckpt: String): Long = {
    val taken = Option(new File(s"$ckpt/sources").listFiles()).toSeq.flatten.map { logDir =>
      val ids = Option(logDir.listFiles()).toSeq.flatten.filterNot(_.getName.startsWith("."))
        .map(f => f.getName.stripSuffix(".compact").toLong -> f)
      val lastCompact = ids.filter(_._2.getName.endsWith(".compact")).map(_._1).maxOption.getOrElse(-1L)
      ids.filter(_._1 >= lastCompact)
        .map { case (_, f) => java.nio.file.Files.readAllLines(f.toPath).asScala.count(_.startsWith("{")) }.sum
    }.sum
    FileIO.dataFiles(in).size.toLong - taken
  }

  /** QualityCheck → NdjsonSink export → ExportPipeline.loadNdjson (with an
    * object-store copy beside it) → cleanup, then SummaryPipeline over the
    * loaded warehouse table.
    */
  private def nightlyDag(spark: SparkSession, ctx: Ctx, sinkDir: String, dir: String): (Boolean, Double, Map[String, Double]) = {
    val (export, wh, store) = (s"$dir/export", s"$dir/warehouse_mood", s"$dir/store")
    val mood = spark.read.parquet(sinkDir)
    def task(name: String)(body: => Unit): () => Unit = () => Tracer.span(s"dag.$name")(body)
    val dag = PipelineRunner.moodExportDag("nightly_mood",
      task("export_to_file") {
        val report = Tracer.span("QualityCheck.run")(
          QualityCheck.run(mood, Seq("event_time", "intersection", "avg_speed", "weather")))
        require(report.passed, s"quality gate failed: $report")
        Tracer.span("Sinks.NdjsonSink.write")(new NdjsonSink(export).write(mood))
      },
      task("load_to_warehouse") {
        Tracer.span("ExportPipeline.loadNdjson")(ExportPipeline.loadNdjson(spark, export, new ParquetSink(wh)))
      },
      task("upload_to_store") {
        Tracer.span("Sinks.NdjsonSink.copy")(new NdjsonSink(store).write(spark.read.json(export)))
      },
      task("cleanup")(Tracer.span("Sinks.truncatePath")(Sinks.truncatePath(spark, export)): Unit),
      onFailure = c => ctx.log(PipelineRunner.formatFailure(c)))
    val w0 = System.nanoTime()
    val report = dag.run()
    val dagWall = Stats.secondsSince(w0)
    report.results.foreach(r =>
      ctx.check(r.status == PipelineRunner.Succeeded, s"DAG task ${r.name}: ${r.status} ${r.error.getOrElse("")}"))
    if (report.succeeded)
      Tracer.span("SummaryPipeline.fullSummary")(
        new ParquetSink(s"$dir/summary").write(SummaryPipeline.fullSummary(spark.read.parquet(wh))))
    ctx.ops.ok()
    val spans = Tracer.all.filter(_.startNs >= w0)
    def total(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    (report.succeeded, Stats.secondsSince(w0), Map(
      "pipeline.quality_check_s" -> total("QualityCheck.run"),
      "io.ndjson_export_s" -> total("Sinks.NdjsonSink.write"),
      "pipeline.export_load_s" -> total("ExportPipeline.loadNdjson"),
      "pipeline.summary_s" -> total("SummaryPipeline.fullSummary"),
      "pipeline.dag_overhead_s" -> (dagWall - spans.filter(_.name.startsWith("dag.")).map(_.seconds).sum)))
  }

  private def key(r: Row) = (r.getAs[java.sql.Timestamp]("event_time").getTime, r.getAs[String]("intersection"))

  /** Sink rows equal MoodPipeline.run over the same events for every closed
    * minute; a row whose key received a late event may equal the result
    * with or without it (the watermark decides whether it was dropped).
    */
  private def checkSink(spark: SparkSession, ctx: Ctx, in: File, sinkDir: String, closedBelow: Int): Unit = {
    def read(s: Int) = spark.read.schema(Seq(Schemas.traffic, Schemas.weather, Schemas.news)(s))
      .json(new File(in, Streams(s)).getPath)
    val (t, w, n) = (read(0), read(1), read(2))
    def rows(df: DataFrame) = df.collect().map(r => key(r) -> r.toSeq).toMap
    val withLate = rows(MoodPipeline.run(t, w, n))
    val onTime = rows(MoodPipeline.run(t.filter(!col("vehicle_id").startsWith("L")), w, n))
    val got = spark.read.parquet(sinkDir).select("event_time", "intersection", "avg_speed",
      "avg_temp", "weather", "sentiment", "mood").collect()
    ctx.check(got.length == got.map(key).distinct.length, "sink holds duplicate (minute, intersection) rows")
    val bad = got.filterNot { r =>
      val k = key(r)
      onTime.get(k).contains(r.toSeq) || withLate.get(k).contains(r.toSeq)
    }
    ctx.check(bad.isEmpty, s"${bad.length} sink rows differ from MoodPipeline.run, e.g. ${bad.take(3).mkString("; ")}")
    // every on-time key of a minute the watermark closed well before the end
    val lastMs = T0 + (closedBelow - 3) * 60000L
    val gotKeys = got.map(key).toSet
    val missing = onTime.keys.filter(k => k._1 < lastMs && !gotKeys(k))
    ctx.check(missing.isEmpty, s"${missing.size} closed (minute, intersection) keys missing from the sink, e.g. ${missing.take(3)}")
    ctx.check(got.nonEmpty, "sink is empty")
  }

  private def checkSummary(spark: SparkSession, ctx: Ctx, sinkDir: String, summaryDir: String): Unit = {
    val want = SummaryPipeline.fullSummary(spark.read.parquet(sinkDir)).collect().map(_.toSeq).toSet
    val got = spark.read.parquet(summaryDir).collect().map(_.toSeq).toSet
    ctx.check(got == want && want.nonEmpty,
      s"DAG summary differs from SummaryPipeline.fullSummary of the sink: ${(got -- want).take(3)} vs ${(want -- got).take(3)}")
  }

  /** Per closed live minute: sink commit of its rows − creation of the event
    * that moved the watermark past it.
    */
  private def latency(spark: SparkSession, sinkDir: String, sink: TimedSink, gen: MoodGen): Seq[Double] = {
    val commitOf = sink.writes.flatMap { case (_, ms, _, files) => files.map(_ -> ms) }.toMap
    spark.read.parquet(sinkDir).select(col("event_time"), input_file_name().as("f")).distinct()
      .collect().toSeq
      .map(r => ((r.getTimestamp(0).getTime - T0) / 60000L, commitOf(new File(new java.net.URI(r.getString(1)).getPath).getName)))
      .groupBy(_._1).toSeq.flatMap { case (m, cs) =>
        gen.advancedAt.get(m).collect { case (created, true) => (cs.map(_._2).max - created).toDouble }
      }
  }
}
