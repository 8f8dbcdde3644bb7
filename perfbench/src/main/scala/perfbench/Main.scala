package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

import graft.Bench

/** Benchmark JVM: runs one workload once and writes its outcome as JSON
  * to `--out`. run.py builds the classpath, checks the host, launches
  * this, and prints the final result line.
  *
  * Usage: perfbench.Main --workload serve|ingest --seed N
  *   --seconds S --trace 0|1 --size full|smoke --work DIR --local DIR --out FILE
  */
object Main {
  val EndToEnd = Seq("setup_s", "op_p50_ms", "work_per_s")

  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val localDir = opts.local.toString
    Files.createDirectories(opts.work)
    // the shared bench local-dir policy: purge dead leftovers of killed runs
    Bench.purgeStaleTmp(Seq(localDir), ageMinutes = 0)
    val cores = Runtime.getRuntime.availableProcessors
    // the start markers run on their own thread while Spark starts up
    // (single-threaded calibration loops; the machine has cores to spare)
    val calib = new java.util.concurrent.FutureTask[(Double, Double)](() =>
      (Bench.calibrate(), Bench.calibrateMem()))
    new Thread(calib, "perfbench-calibrate").start()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${opts.workload}")
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", (cores * 2).toString)
      .config("spark.sql.warehouse.dir", opts.work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark.sparkContext, opts.trace)
    val ctx = new Ctx(spark, opts, tracer)
    ctx.context("nproc") = cores.toString
    ctx.context("heap_mb") = (Runtime.getRuntime.maxMemory / (1 << 20)).toString
    val (c0, m0) = calib.get()
    ctx.context("calib_start_s") = f"$c0%.4f"
    ctx.context("mem_calib_start_s") = f"$m0%.4f"
    try {
      opts.workload match {
        case "serve" => Serve.run(ctx)
        case "ingest" => Ingest.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      tracer.finish()
      ctx.context("calib_end_s") = f"${Bench.calibrate()}%.4f"
      ctx.context("mem_calib_end_s") = f"${Bench.calibrateMem()}%.4f"
      if (opts.trace) Files.write(opts.work.resolve("spans.json"), tracer.toJson.getBytes(StandardCharsets.UTF_8))
      Files.write(opts.out, outcome(ctx).getBytes(StandardCharsets.UTF_8))
    } finally spark.stop()
  }

  private def outcome(ctx: Ctx): String = {
    require(ctx.opts.trace || ctx.e2e.keySet == EndToEnd.toSet,
      s"end-to-end metrics ${ctx.e2e.keySet} != ${EndToEnd.toSet}")
    def obj(kv: Iterable[(String, String)]) =
      kv.map { case (k, v) => s"${Json.string(k)}:$v" }.mkString("{", ",", "}")
    val metrics =
      if (ctx.opts.trace) ctx.layers.map { case (n, v) => n -> Json.value(v) }
      else EndToEnd.map(n => n -> Json.value(ctx.e2e(n)))
    obj(Seq(
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "failures" -> ctx.failures.map(Json.string).mkString("[", ",", "]"),
      "metrics" -> obj(metrics),
      "context" -> obj(ctx.context.map { case (k, v) => k -> Json.string(v) })))
  }
}
