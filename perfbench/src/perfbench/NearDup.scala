package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.Dedup
import graft.util.OperatorCaches

/** Seeded document corpus: token lengths 40–120, a Zipf vocabulary behind a
  * few very frequent tokens (the prefix filter's fan-out), planted
  * near-duplicate clusters (variants at Jaccard ≥ 0.90 of a base) and exact
  * copies of unclustered documents.
  */
final class DocGen(seed: Long) {
  import NearDup._
  private val r = new SplittableRandom(seed)
  private val zipf = new Zipf(Vocabulary, 1.0)
  val texts = mutable.ArrayBuffer.empty[String]
  /** Planted pairs (id_a < id_b) at Jaccard ≥ 0.90, with their Jaccard. */
  val planted = mutable.ArrayBuffer.empty[(Long, Long, Double)]
  var exactCopies, clustered = 0L

  private def doc(): Array[String] = {
    val n = 40 + r.nextInt(81)
    Array.fill(n)(if (r.nextDouble() < 0.25) Hot(r.nextInt(Hot.size)) else s"w${zipf.sample(r)}")
  }

  /** A variant of `base` at Jaccard ≥ 0.90 over distinct tokens. */
  private def variant(base: Array[String]): Array[String] = {
    var v = base
    var tries = 0
    while (tries < 20) {
      v = base.clone()
      (0 until 1 + r.nextInt(3)).foreach(_ => v(r.nextInt(v.length)) = s"x${r.nextInt(1 << 30)}")
      if (jaccard(v, base) >= 0.9 && !v.sameElements(base)) return v
      tries += 1
    }
    v = base.clone()
    v(0) = s"x${r.nextInt(1 << 30)}"
    v
  }

  /** Units in a fixed order, so every seed has the same structure: every
    * `ClusterEvery`-th unit is a cluster (a base and two variants), every
    * `CopyEvery`-th an exact copy of an earlier unclustered document, the
    * rest single documents.
    */
  def generate(): Unit = {
    val plain = mutable.ArrayBuffer.empty[Int]
    var unit = 0
    while (texts.size < Docs) {
      unit += 1
      if (unit % ClusterEvery == 0) {
        val base = doc()
        val members = Seq(base, variant(base), variant(base))
        val ids = members.map { m => texts += m.mkString(" "); texts.size.toLong }
        clustered += members.size
        for (i <- ids.indices; j <- i + 1 until ids.size) {
          val jac = jaccard(members(i), members(j))
          if (jac >= 0.9) planted += ((ids(i), ids(j), jac))
        }
      } else if (unit % CopyEvery == 0 && plain.nonEmpty) {
        texts += texts(plain(r.nextInt(plain.size)))
        exactCopies += 1
      } else {
        plain += texts.size
        texts += doc().mkString(" ")
      }
    }
  }
}

object NearDup extends Workload {
  val Docs = 2400
  val Vocabulary = 20000
  val ClusterEvery = 16
  val CopyEvery = 29
  val MinPasses = 7
  val Hot = IndexedSeq("the", "of", "and", "to", "in", "a")
  val T100 = 90
  val K = 8

  /** Jaccard over distinct tokens, the measure allPairsJaccard reports. */
  def jaccard(a: Array[String], b: Array[String]): Double = {
    val (x, y) = (a.toSet, b.toSet)
    (x intersect y).size.toDouble / (x union y).size
  }

  private var gen: DocGen = _

  def warmup(spark: SparkSession, dir: String): Unit = {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e f g h i j"), (2L, "a b c d e f g h i k"), (3L, "a b c d e f g h i j"))
      .toDF("doc_id", "text")
    docs.write.parquet(s"$dir/docs")
    pass(spark, s"$dir/docs", s"$dir/out")
  }

  def generate(spark: SparkSession, ctx: Ctx): Map[String, Double] = {
    import spark.implicits._
    gen = new DocGen(ctx.seed)
    gen.generate()
    gen.texts.toSeq.zipWithIndex.map { case (t, i) => (i + 1L, t) }.toDF("doc_id", "text")
      .repartition(ctx.opts.cores).write.parquet(new File(ctx.in, "docs").getPath)
    val hotDf = gen.texts.count(_.split(" ").contains(Hot.head)).toDouble / gen.texts.size
    Map("gen.exact_dup_share" -> gen.exactCopies.toDouble / gen.texts.size,
      "gen.near_dup_share" -> gen.clustered.toDouble / gen.texts.size,
      "gen.hot_token_df" -> hotDf)
  }

  /** One pass: exact dedup → all-pairs Jaccard → duplicate-span strip, each
    * result written. Returns the seconds of each step.
    */
  private def pass(spark: SparkSession, docsDir: String, out: String): (Double, Double, Double) = {
    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      Tracer.span(name)(body)
      OperatorCaches.release(spark)
      Stats.secondsSince(t0)
    }
    val exactS = timed("Dedup.exact") {
      val docs = spark.read.parquet(docsDir)
      val keep = Dedup.exact(docs, "text", "doc_id").select(col("keep_id").as("doc_id"))
      docs.join(keep, "doc_id").write.parquet(s"$out/survivors")
    }
    val survivors = spark.read.parquet(s"$out/survivors")
    val allS = timed("Dedup.allPairsJaccard") {
      Dedup.allPairsJaccard(survivors, "text", "doc_id", T100).write.parquet(s"$out/pairs")
    }
    val stripS = timed("Dedup.stripDupSpans") {
      Dedup.stripDupSpans(survivors, "text", "doc_id", K).write.parquet(s"$out/strip")
    }
    (exactS, allS, stripS)
  }

  def measure(spark: SparkSession, ctx: Ctx, dir: String, traced: Boolean): Round = {
    val docsDir = new File(ctx.in, "docs").getPath
    val passes = mutable.ArrayBuffer.empty[(Double, Double, Double)]
    // one pass on the real corpus before timing: JIT and caches settle
    pass(spark, docsDir, s"$dir/warm")
    val t0 = System.nanoTime()
    Phase("passes") {
      while (passes.size < MinPasses || Stats.secondsSince(t0) < ctx.seconds) {
        val out = s"$dir/pass${passes.size}"
        passes += pass(spark, docsDir, out)
        ctx.ops.ok(3)
        if (passes.size > 1) FileIO.deleteTree(new File(out))
      }
    }
    val wall = Stats.secondsSince(t0)
    val (pairs, stripRatio) = Phase("check")(check(spark, ctx, s"$dir/pass0"))
    val total = passes.map(p => p._1 + p._2 + p._3).toSeq
    ctx.log(f"near_dup_batch: ${passes.size} passes, pass p50 ${Stats.median(total)}%.3f s, " +
      f"allPairs p50 ${Stats.median(passes.map(_._2).toSeq)}%.3f s, $pairs pairs, strip ratio $stripRatio%.4f; " +
      "passes (exact/allPairs/strip s): " + passes.map(p => f"${p._1}%.2f/${p._2}%.2f/${p._3}%.2f").mkString(" "))
    Round(
      Map("throughput_per_s" -> gen.texts.size * passes.size / wall,
        "latency_p50_ms" -> Stats.median(passes.map(_._2 * 1000).toSeq),
        "batch_s" -> Stats.median(total)),
      Map("dedup.exact_s" -> Stats.median(passes.map(_._1).toSeq),
        "dedup.allpairs_s" -> Stats.median(passes.map(_._2).toSeq),
        "dedup.strip_spans_s" -> Stats.median(passes.map(_._3).toSeq),
        "dedup.allpairs_pairs" -> pairs.toDouble, "dedup.strip_ratio" -> stripRatio))
  }

  /** Every planted pair at ≥ 0.90 whose documents survive exact dedup is
    * reported, and every reported pair's Jaccard recomputes exactly.
    */
  private def check(spark: SparkSession, ctx: Ctx, out: String): (Long, Double) = {
    val tokens = gen.texts.map(_.split(" "))
    val survivors = spark.read.parquet(s"$out/survivors").select("doc_id").collect().map(_.getLong(0)).toSet
    val firstOf = mutable.HashMap.empty[String, Long]
    gen.texts.zipWithIndex.foreach { case (t, i) => firstOf.getOrElseUpdate(t, i + 1L) }
    val wantSurvivors = firstOf.values.toSet
    ctx.check(survivors == wantSurvivors, s"exact dedup kept ${survivors.size} docs, expected ${wantSurvivors.size}")
    val pairs = spark.read.parquet(s"$out/pairs").collect()
    val got = pairs.map(p => (p.getAs[Long]("id_a"), p.getAs[Long]("id_b"))).toSet
    val missed = gen.planted.filter(p => survivors(p._1) && survivors(p._2) && !got((p._1, p._2)))
    ctx.check(missed.isEmpty, s"${missed.size} planted pairs at J >= 0.90 not reported, e.g. ${missed.take(3)}")
    val wrong = pairs.filterNot { p =>
      val (a, b) = (tokens(p.getAs[Long]("id_a").toInt - 1).toSet, tokens(p.getAs[Long]("id_b").toInt - 1).toSet)
      val inter = (a intersect b).size.toLong
      val union = (a union b).size.toLong
      p.getAs[Long]("n_common") == inter && p.getAs[Long]("jaccard_pp10k") == inter * 10000 / union &&
        inter * 100 >= T100 * union
    }
    ctx.check(wrong.isEmpty, s"${wrong.length} reported pairs fail the Jaccard recomputation, e.g. ${wrong.take(3).mkString("; ")}")
    val strip = spark.read.parquet(s"$out/strip").agg(sum("n_tokens"), sum("kept_tokens")).head()
    ctx.check(spark.read.parquet(s"$out/strip").count() == survivors.size, "strip output does not cover every survivor")
    (pairs.length.toLong, 1.0 - strip.getLong(1).toDouble / strip.getLong(0))
  }
}
