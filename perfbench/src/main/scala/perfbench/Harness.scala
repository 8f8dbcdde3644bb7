package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command line of the benchmark JVM (run.py passes it through). */
final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    size: String, work: Path, local: Path, out: Path)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val size = m.getOrElse("size", "full")
    require(Set("full", "smoke")(size), s"--size must be full or smoke, got $size")
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", size, Paths.get(need("work")), Paths.get(need("local")),
      Paths.get(need("out")))
  }
}

/** Everything a workload needs: the session, its options and the span
  * recorder, plus the counters every workload reports.
  */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {
  val smoke: Boolean = opts.size == "smoke"
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  val context = mutable.LinkedHashMap.empty[String, String]

  def dir(name: String): String = opts.work.resolve(name).toString

  /** Record a failed check or operation; the run keeps going. */
  def fail(what: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += what
  }

  /** Run one counted operation; an exception counts as a failure. */
  def attempt[T](what: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case e: Exception =>
        fail(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** Generate the run's inputs, timed as corpus.generate_s. */
  def generate[T](body: => T): T = {
    val (r, ms) = Stats.timed(tracer.span("corpus.generate")(body))
    layers("corpus.generate_s") = ms / 1e3
    r
  }

  /** The run's set-up (input generation, build or create, warm-up), timed
    * as setup_s: from the start of input generation to the first timed
    * operation. It runs once per run, in a fresh JVM, so it includes the
    * JVM's warm-up of the code it runs.
    */
  def setup[S](body: => S): S = {
    val (r, ms) = Stats.timed(body)
    e2e("setup_s") = ms / 1e3
    r
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def ratio(num: Double, den: Double): Double = if (den == 0) 0.0 else num / den

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def dirBytes(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) return 0L
    val s = Files.walk(root)
    try {
      var total = 0L
      s.forEach(f => if (Files.isRegularFile(f)) total += Files.size(f))
      total
    } finally s.close()
  }

  def fileCount(p: String): Long = {
    val root = Paths.get(p)
    if (!Files.exists(root)) return 0L
    val s = Files.walk(root)
    try s.filter(f => Files.isRegularFile(f)).count() finally s.close()
  }

  /** Summed collection time of every JVM garbage collector, in ms. */
  def gcMs: Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.toDouble).sum
  }
}

/** The little JSON the harness writes (outcome, spans, curation rows). */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => f.toDouble.toString
    case n: java.lang.Number => n.toString
    case s: String => string(s)
    case other => string(other.toString)
  }

  def string(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
}
