package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.query._

/** Scaling-efficiency evidence (BASELINE.json north rule: >= 0.8 from N
  * to 4N executors). No real cluster in this sandbox, so the same job
  * runs at local[8] and local[32] on the identical deterministic input
  * (the corpus generator is seeded per docId, so both levels index the
  * same files), and efficiency = throughput(32) / (4 x throughput(8)).
  * Prints one line per run; the no-arg run also writes SCALING_AUTO.md.
  */
object ScalingBench {

  final case class LevelResult(cores: Int, buildSec: Double, filesPerSec: Double,
      queryBatchSec: Double, calibSec: Double, memCalibSec: Double,
      traffic: BuildTraffic.Snap)

  def runLevel(cores: Int, nDocs: Long, docIdStrategy: String, parts: Int): LevelResult = {
    val spark = BenchSession(cores, parts)
    try {
      val config = IndexConfig(Seq("repo", "path", "commit"), Seq("content"),
        shardDocs = 8192, buildPartitions = parts, docIdStrategy = docIdStrategy)
      // warm-up build: JIT + codegen + shuffle plumbing, excluded from
      // the measurement (cold-start is a constant, not a scaling term)
      IndexBuilder.build(CodeCorpus.generate(spark, 20000, parts), config).unpersist()
      val corpus = CodeCorpus.generate(spark, nDocs, parts)
      // task-level traffic counters for the timed build ONLY (snapshot
      // deltas bracket it): bytes shuffled/spilled are plan properties,
      // identical across host regimes — the wall-independent evidence
      // that every level runs the same job (see BuildTraffic)
      val traffic = new BuildTraffic
      spark.sparkContext.addSparkListener(traffic)
      val t0 = traffic.settle()
      val (idx, tBuild) = Bench.time(IndexBuilder.build(corpus, config))
      val tTraffic = traffic.settle() - t0
      val engine = new QueryEngine(idx)
      val qs = Seq("fn return license", "binary search merge segment",
        "needle checkpoint epoch", "hash map block max", "token stream query plan")
      qs.foreach(q => engine.searchF32(Seq(Fts("content", q)), 10, useWand = true).collect()) // warm
      val (_, tQ) = Bench.time {
        for (_ <- 0 until 4; q <- qs)
          engine.searchF32(Seq(Fts("content", q)), 10, useWand = true).collect()
      }
      // per-level regime markers: levels run minutes apart (one JVM
      // each), so each carries its own CPU-steal marker (Bench.calibrate)
      // AND memory-fabric marker (Bench.calibrateMem — the xorshift loop
      // is blind to fabric degradation, which has hit 5x; BENCH.md r4)
      LevelResult(cores, tBuild, nDocs.toDouble / tBuild, tQ,
        Bench.calibrate(), Bench.calibrateMem(), tTraffic)
    } finally spark.stop()
  }

  /** `runMain graft.ScalingBench <cores> [docIdStrategy]` runs one level
    * in this JVM and prints a single line (docIdStrategy: keyRange |
    * scan — see IndexConfig); with no args, runs both levels in-process
    * (subject to same-JVM GC interference — prefer one JVM per level,
    * see tools/scaling.sh). The no-arg path writes its summary to
    * SCALING_AUTO.md — NOT SCALING.md/BENCH.md, which are hand-curated
    * across rounds (SCALING.md is the north-rule evidence document and
    * must never be clobbered by a quick in-process run).
    */
  def main(args: Array[String]): Unit = {
    val nDocs = sys.env.getOrElse("SPARK_GRAFT_SCALE_DOCS", "80000").toLong
    // partitions PINNED across levels (128, the default scaling.sh
    // exports, = the 32-core level x 4 task waves): letting them scale
    // with cores makes the levels run DIFFERENT jobs — the first
    // traffic-instrumented drive measured 59.9 vs 70.2 shuffle-write MB
    // for "the same" 80k build at 32 vs 128 partitions, which is exactly
    // the non-comparability the traffic columns exist to catch
    val pinned = sys.env.get("SPARK_GRAFT_SCALE_PARTS").map(_.toInt).getOrElse(128)
    if (args.length >= 1) {
      val strategy = if (args.length > 1) args(1) else graft.index.DocIdStrategy.KeyRange
      val r = runLevel(args(0).toInt, nDocs, strategy, pinned)
      val t = r.traffic
      // LEVEL <cores> <buildSec> <filesPerSec> <queryBatchSec> <calibSec>
      //   <memCalibSec> <inputMB> <shufWriteMB> <shufReadMB> <spillMB>
      // The four MB fields are the timed build's task-metric deltas —
      // plan properties, flat across core counts and host regimes
      // (BuildTraffic); shufWriteMB/nDocs is the bytes-per-doc exchange
      // cost the north-rule extrapolation rests on.
      println(f"LEVEL ${r.cores} ${r.buildSec} ${r.filesPerSec} ${r.queryBatchSec} " +
        f"${r.calibSec} ${r.memCalibSec} ${t.inputBytes / 1e6}%.1f " +
        f"${t.shuffleWriteBytes / 1e6}%.1f ${t.shuffleReadBytes / 1e6}%.1f " +
        f"${t.spilledBytes / 1e6}%.1f")
      return
    }
    val lo = runLevel(8, nDocs, graft.index.DocIdStrategy.KeyRange, pinned)
    val hi = runLevel(32, nDocs, graft.index.DocIdStrategy.KeyRange, pinned)
    val eff = hi.filesPerSec / (4.0 * lo.filesPerSec)
    val qSpeedup = lo.queryBatchSec / hi.queryBatchSec
    val md =
      s"""# SCALING_AUTO — quick in-process 2-level run (NOT the north-rule evidence; see SCALING.md)
         |
         |North rule: throughput scaling efficiency >= 0.8 between N and 4N
         |parallelism. No real cluster in this sandbox (BASELINE.md), so the
         |same index-build + query job runs at two local parallelism levels
         |on the identical deterministic ${nDocs}-file synthetic source-code
         |corpus (CodeCorpus, seeded per docId).
         |
         || level | build sec | files/sec | 20-query batch sec | calib sec | mem calib sec | shuffle write MB | spill MB |
         ||---|---|---|---|---|---|---|---|
         || local[8]  | ${f"${lo.buildSec}%.2f"} | ${f"${lo.filesPerSec}%.0f"} | ${f"${lo.queryBatchSec}%.2f"} | ${f"${lo.calibSec}%.2f"} | ${f"${lo.memCalibSec}%.2f"} | ${f"${lo.traffic.shuffleWriteBytes / 1e6}%.1f"} | ${f"${lo.traffic.spilledBytes / 1e6}%.1f"} |
         || local[32] | ${f"${hi.buildSec}%.2f"} | ${f"${hi.filesPerSec}%.0f"} | ${f"${hi.queryBatchSec}%.2f"} | ${f"${hi.calibSec}%.2f"} | ${f"${hi.memCalibSec}%.2f"} | ${f"${hi.traffic.shuffleWriteBytes / 1e6}%.1f"} | ${f"${hi.traffic.spilledBytes / 1e6}%.1f"} |

         |Shuffle-write / spill MB are the timed build's task-metric deltas
         |(BuildTraffic): plan properties, identical across host regimes —
         |matching values on both rows is the proof the two levels ran the
         |same job and only the wall differed.
         |
         |Per-level regime markers (CPU steal + memory fabric): the two
         |levels run minutes apart in one process, so a marker drift between
         |rows means a regime shift corrupted the efficiency ratio.
         |
         |**Index-build throughput scaling efficiency (8 -> 32 cores):
         |${f"$eff%.3f"}** (target >= 0.8)
         |
         |Query-batch speedup 8 -> 32: ${f"$qSpeedup%.2f"}x (small top-k jobs are
         |scheduler-latency bound at this corpus size; build throughput is the
         |scaling-relevant metric per the north rule).
         |
         |Generated by `sbt "runMain graft.ScalingBench"` (SPARK_GRAFT_SCALE_DOCS=$nDocs).
         |""".stripMargin
    Files.write(Paths.get("SCALING_AUTO.md"), md.getBytes(StandardCharsets.UTF_8))
    println(s"""{"metric":"scaling_efficiency","value":$eff,"unit":"ratio",""" +
      s""""build8":${lo.buildSec},"build32":${hi.buildSec},""" +
      s""""files_per_sec8":${lo.filesPerSec},"files_per_sec32":${hi.filesPerSec},""" +
      s""""calib8":${lo.calibSec},"calib32":${hi.calibSec},""" +
      s""""mem_calib8":${lo.memCalibSec},"mem_calib32":${hi.memCalibSec}}""")
  }
}
