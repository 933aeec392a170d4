package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.io.Wet
import graft.operators.{Dedup, Html, LangId}
import graft.streaming.CurationStream
import graft.util.OperatorCaches

/** Seeded WET backlog: `Files` files of `DocsPerFile` pages, doc ids rising
  * across files (so any micro-batching keeps global id order). Domains are
  * Zipf-skewed; a share of pages are exact re-crawls of an earlier page, a
  * share carry `meta robots noindex`, and a share is drawn from a second,
  * non-English vocabulary.
  */
final class WetGen(seed: Long) {
  import Curation._
  private val r = new SplittableRandom(seed)
  private val zipf = new Zipf(Domains, DomainSkew)
  private val bodies = mutable.ArrayBuffer.empty[(String, String, Boolean)]
  var docs, recrawls, noindex, foreign = 0L
  val perDomain = new Array[Long](Domains)

  private def words(pool: IndexedSeq[String], n: Int) =
    Seq.fill(n)(pool(r.nextInt(pool.size))).mkString(" ")

  private def record(uri: String, payload: String) = {
    val len = payload.getBytes("UTF-8").length
    s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Target-URI: $uri\r\n" +
      s"WARC-Date: 2026-01-01T00:00:00Z\r\nContent-Length: $len\r\n\r\n$payload"
  }

  /** File `f`'s bytes as text: one conversion record per page. */
  def file(f: Int, docsPerFile: Int = DocsPerFile): String = (0 until docsPerFile).map { j =>
    val id = 1L + f * docsPerFile + j
    val d = zipf.sample(r)
    perDomain(d) += 1; docs += 1
    val (title, body, isForeign) =
      if (bodies.nonEmpty && r.nextDouble() < RecrawlShare) { recrawls += 1; bodies(r.nextInt(bodies.size)) }
      else {
        val f = r.nextDouble() < ForeignShare
        val pool = if (f) Foreign else English
        val b = (words(pool, 12 + r.nextInt(20)), words(pool, 12 + r.nextInt(30)))
        val t = s"${words(pool, 3)} $id"
        bodies += ((t, s"<p>${b._1}</p>\n<p>${b._2}</p>", f))
        bodies.last
      }
    if (isForeign) foreign += 1
    val meta = if (r.nextDouble() < NoindexShare) { noindex += 1; "<meta name=\"robots\" content=\"noindex\">" } else ""
    record(s"https://www.site$d.net/doc/$id",
      s"<html><head><title>$title</title>$meta</head><body>\n$body\n</body></html>")
  }.mkString("", Wet.RecordSeparator, Wet.RecordSeparator)
}

/** Where the shares come from: `Domains` is the number of `source` values
  * of the repository's `documents` fixture (FIXTURES.md), `ForeignShare` its
  * measured share of documents outside the kept languages {en, it}
  * (2059 of 5000 are `en` at sf0.1), and `NoindexShare` the noindex plant of
  * q190's WET corpus (every 13th page). The reference system has no crawl
  * tier, and neither corpus has a usable re-crawl rate (the fixture repeats
  * 0.16% of its texts, q190 shares text within blocks of ten), so
  * `RecrawlShare` and the Zipf skew over domains are set by the benchmark;
  * every run prints the measured shares.
  */
object Curation extends Workload {
  val Files = 8
  val DocsPerFile = 200
  val WarmupDocs = 40
  val Domains = 20
  /** Zipf exponent of the domain draw: the classic rank-frequency law, 1/rank. */
  val DomainSkew = 1.0
  val RecrawlShare = 0.15
  val NoindexShare = 1.0 / 13
  val ForeignShare = 0.59
  val Budget = 3000L
  val CompactEvery = 2
  val English: IndexedSeq[String] = ("the of and to in is it that was for on are with as his they be at one have this " +
    "from or had by word but what some we can out other were all there when up use your how said an each she which " +
    "do their time if will way about many then them write would like so these her long make thing see him two has " +
    "look more day could go come did number sound no most people my over know water than call first who may down " +
    "side been now find any new work part take get place made live where after back little only round man year came " +
    "show every good me give our under name very through just form sentence great think say help low line differ " +
    "turn cause much mean before move right boy old too same tell does set three want air well also play small end " +
    "put home read hand port large spell add even land here must big high such follow act why ask men change went " +
    "light kind off need house picture try us again animal point mother world near build self earth father").split(" ").toIndexedSeq
  val Foreign: IndexedSeq[String] = ("der die und in den von zu das mit sich des auf für ist im dem nicht ein eine als " +
    "auch es an werden aus er hat dass sie nach wird bei einer um am sind noch wie einem über einen so zum war haben " +
    "nur oder aber vor zur bis mehr durch man sein wurde sei prozent hatte kann gegen vom können schon wenn habe " +
    "seine mark ihre dann unter wir soll ich eines jahr zwei jahren diese dieser wieder keine seiner worden und " +
    "zwischen immer millionen ersten weil gibt ihr sagte").split(" ").toIndexedSeq

  def warmup(spark: SparkSession, dir: String): Unit = {
    val wet = new File(dir, "wet")
    FileIO.writeAtomic(wet, "w.wet", new WetGen(0L).file(0, WarmupDocs))
    val cs = new CurationStream(spark, s"$dir/dedup", s"$dir/budget", s"$dir/out", Budget)
    val (_, frames) = OperatorCaches.collecting(cs.processBatch(Wet.read(spark, wet.getPath), 0L).collect())
    OperatorCaches.releaseFrames(spark, frames)
    dropGenTable(spark, s"$dir/dedup")
  }

  def generate(spark: SparkSession, ctx: Ctx): Map[String, Double] = {
    val gen = new WetGen(ctx.seed)
    val base = System.currentTimeMillis() - 3600000L
    // strictly increasing mtimes: the file source takes the files in id order
    (0 until Files).foreach(f => FileIO.writeAtomic(new File(ctx.in, "wet"), f"b$f%03d.wet", gen.file(f), base + f * 1000L))
    Map("gen.exact_dup_share" -> gen.recrawls.toDouble / gen.docs,
      "gen.noindex_share" -> gen.noindex.toDouble / gen.docs,
      "gen.foreign_share" -> gen.foreign.toDouble / gen.docs,
      "gen.top_key_share" -> gen.perDomain.max.toDouble / gen.docs)
  }

  private def dropGenTable(spark: SparkSession, dedupDir: String): Unit =
    Dedup.FingerprintStore.currentGenTable(spark, dedupDir).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private val DecisionCols = Seq("doc_id", "source", "n_tokens", "cum_before", "admitted")

  def measure(spark: SparkSession, ctx: Ctx, dir: String, traced: Boolean): Round = {
    val wet = new File(ctx.in, "wet").getPath
    val (dedupDir, budgetDir) = (s"$dir/dedup", s"$dir/budget")
    val cs = new CurationStream(spark, dedupDir, budgetDir, s"$dir/out", Budget, compactEvery = CompactEvery)
    val sink = cs.sink()
    val batches = mutable.ArrayBuffer.empty[(Long, Double)]
    try {
      val t0 = System.nanoTime()
      Phase("drain") {
        val q = Tracer.span("Wet.readStream")(Wet.readStream(spark, wet, 1)).writeStream
          .option("checkpointLocation", s"$dir/ckpt")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (df: DataFrame, id: Long) =>
            val b0 = System.nanoTime()
            Tracer.span("CurationStream.sink", id)(sink(df, id))
            batches.synchronized(batches += ((id, (System.nanoTime() - b0) / 1e6)))
            ()
          }.start()
        q.awaitTermination()
        q.exception.foreach(e => throw e)
      }
      val drainS = Stats.secondsSince(t0)
      ctx.ops.ok(batches.size)
      ctx.check(batches.size == Files, s"${batches.size} micro-batches for $Files files")

      // the same backlog in one processBatch pass on fresh stores
      val b0 = System.nanoTime()
      val (ref, frames) = Phase("batch") {
        OperatorCaches.collecting(Tracer.span("CurationStream.processBatch")(
          new CurationStream(spark, s"$dir/ref_dedup", s"$dir/ref_budget", s"$dir/ref_out", Budget)
            .processBatch(Wet.read(spark, wet), 0L).select(DecisionCols.map(col): _*).collect()))
      }
      val batchS = Stats.secondsSince(b0)
      OperatorCaches.releaseFrames(spark, frames)

      val layer = Phase("check") {
        val got = cs.decisions().select(DecisionCols.map(col): _*).collect()
        ctx.check(got.length == got.map(_.getLong(0)).distinct.length, "a document decided twice")
        ctx.check(got.toSet == ref.toSet && ref.nonEmpty,
          s"streamed decisions differ from one processBatch pass: ${(got.toSet -- ref).take(3)} vs ${(ref.toSet -- got).take(3)}")
        val admitted = got.count(_.getBoolean(4))
        val docs = Files * DocsPerFile
        val m = Map(
          "curation.admit_ratio" -> admitted.toDouble / math.max(got.length, 1),
          "curation.sink_ms_p50_compacting" -> Stats.p50OrZero(batches.filter(b => compacts(b._1)).map(_._2).toSeq),
          "curation.sink_ms_p50_plain" -> Stats.p50OrZero(batches.filterNot(b => compacts(b._1)).map(_._2).toSeq),
          "store.dedup_segments" -> Dedup.FingerprintStore.segments(spark, dedupDir).size.toDouble,
          "store.dedup_bytes" -> FileIO.bytes(new File(dedupDir)).toDouble,
          "store.budget_segments" -> Option(new File(budgetDir).listFiles()).toSeq.flatten
            .count(f => f.isDirectory && f.getName.startsWith("m_")).toDouble,
          "store.budget_bytes" -> FileIO.bytes(new File(budgetDir)).toDouble)
        if (!traced) m
        else {
          // documents reaching the dedup step: the extract → langid routing of processBatch
          val routed = routedDocs(spark, wet)
          ctx.log(f"curation_stream: ${routed.toDouble / docs}%.4f of documents pass noindex/extract/language routing")
          m + ("curation.dup_hit_ratio" -> (routed - got.length).toDouble / routed)
        }
      }
      val p50 = Stats.median(batches.map(_._2).toSeq)
      ctx.log(f"curation_stream: ${Files * DocsPerFile} docs in ${batches.size} batches, $drainS%.3f s; " +
        f"batch p50 $p50%.1f ms; one-pass processBatch $batchS%.3f s; ${ref.length} decisions")
      Round(Map("throughput_per_s" -> Files * DocsPerFile / drainS, "latency_p50_ms" -> p50, "batch_s" -> batchS), layer)
    } finally {
      Seq(dedupDir, s"$dir/ref_dedup").foreach(dropGenTable(spark, _))
    }
  }

  override def streamPhase: String = "drain"

  private def compacts(id: Long) = id > 0 && id % CompactEvery == 0

  private def routedDocs(spark: SparkSession, wet: String): Long = {
    val docs = Wet.read(spark, wet).filter(col("length_ok"))
      .select(regexp_extract(col("target_uri"), "([0-9]+)$", 1).cast("long").as("doc_id"), col("payload"))
    val main = Html.extractMain(Html.metaRobots(docs, "payload", "doc_id", carry = Seq("payload")),
      "payload", "doc_id", blockSep = "\n", carry = Seq("noindex"))
    LangId.scoreDocs(main, "main_text", "doc_id", carry = Seq("noindex", "n_kept"))
      .filter(!col("noindex") && col("n_kept") > 0 && col("lang_pred").isin("en", "it"))
      .count()
  }
}
