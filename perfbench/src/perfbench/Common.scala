package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, StandardCopyOption}

/** Command-line options, as passed by run.py. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    cores: Int,
    work: String,
    traceDir: String)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("cores").toInt, need("work"), need("trace-dir"))
  }
}

/** What one measured round of a workload reports. */
final case class Round(e2e: Map[String, Double], layer: Map[String, Double])

/** Operations attempted and failed (micro-batches, DAG tasks, calls into the
  * program, output checks). A failed output check also names what differed.
  */
final class Ops {
  private var attempted = 0L
  private var failed = 0L
  def ok(n: Long = 1): Unit = synchronized { attempted += n }
  def fail(what: String): Unit = synchronized {
    attempted += 1; failed += 1
    System.err.println(s"[perfbench] FAILED: $what")
  }
  def check(cond: Boolean, what: => String): Unit = if (cond) ok() else fail(what)
  def counts: (Long, Long) = synchronized((attempted, failed))
}

object Stats {
  /** Linear-interpolated percentile (q in [0, 100]) of a non-empty sample. */
  def pct(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    val r = q / 100.0 * (s.size - 1)
    val lo = math.floor(r).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (r - lo)
  }
  def median(xs: Seq[Double]): Double = pct(xs, 50)
  def p50OrZero(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse(sys.error("no VmHWM in /proc/self/status"))
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
  def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not a finite number")
    if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString else d.toString
  }
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Plain file I/O for generated inputs: a file becomes visible under its
  * final name only once complete (written hidden, then renamed), so a
  * streaming file source never reads half a file.
  */
object FileIO {
  def writeAtomic(dir: File, name: String, content: String, mtimeMs: Long = -1L): File = {
    dir.mkdirs()
    val tmp = new File(dir, s".$name.tmp")
    Files.write(tmp.toPath, content.getBytes(StandardCharsets.UTF_8))
    if (mtimeMs > 0) tmp.setLastModified(mtimeMs)
    val dst = new File(dir, name)
    Files.move(tmp.toPath, dst.toPath, StandardCopyOption.ATOMIC_MOVE)
    dst
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  /** Regular files under `dir` (recursively), excluding hidden ones. */
  def dataFiles(dir: File): Seq[File] =
    if (!dir.exists()) Nil
    else Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else if (f.isDirectory) dataFiles(f) else Seq(f)
    }

  def bytes(dir: File): Long = dataFiles(dir).map(_.length).sum
}

/** Zipf(s) sampler over ranks 0 until n. */
final class Zipf(n: Int, s: Double) {
  private val cdf = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
  }
  def sample(r: java.util.SplittableRandom): Int = {
    val u = r.nextDouble()
    val i = java.util.Arrays.binarySearch(cdf, u)
    math.min(if (i >= 0) i else -i - 1, n - 1)
  }
}

/** Metric names and units, read from BENCHMARK.json at the checkout root
  * (the one list the benchmark reports against).
  */
object Layers {
  import org.json4s._
  private lazy val spec: JValue = {
    val src = scala.io.Source.fromFile("BENCHMARK.json", "UTF-8")
    try org.json4s.jackson.JsonMethods.parse(src.mkString) finally src.close()
  }
  private def list(key: String): Seq[(String, String)] = (spec \ key) match {
    case JArray(xs) => xs.map { x =>
      ((x \ "name").asInstanceOf[JString].s, (x \ "unit").asInstanceOf[JString].s)
    }
    case _ => sys.error(s"BENCHMARK.json: no $key list")
  }
  lazy val endToEnd: Seq[(String, String)] = list("end_to_end")
  lazy val perLayer: Seq[(String, String)] = list("per_layer")
}
