package graft

import graft.corpus.CodeCorpus
import graft.index.{IndexConfig, IndexStore}
import graft.streaming.StreamingIndexer

/** Structured-Streaming ingest LATENCY: per-micro-batch commit latency
  * distribution through StreamingIndexer (file source -> dedup ->
  * appendEpoch -> manifest commit), the end-to-end measurement of the
  * reference's "millisecond indexing on tens of thousands of inserts"
  * claim (README.md:21) re-expressed on Spark's micro-batch model.
  *
  * Each wave stages one parquet file of `batchDocs` fresh docs into the
  * watched dir; the timed window is processAllAvailable() — file
  * discovery, batch read, intra-batch dedup, index build, tombstone
  * pass, segment write, manifest CAS commit, checkpoint commit. The
  * staging write itself is excluded (source production is not indexing
  * latency). An IDLE leg times processAllAvailable() with no new data —
  * the pure Spark scheduling round-trip floor that a single-process
  * fsync engine does not pay.
  *
  * Usage: runMain graft.StreamBench [baseDocs] [batchDocs] [nBatches]
  * [compactEvery] — prints one JSON line with p50/p95/min/max and the
  * idle floor. compactEvery > 0 folds segments back every N batches
  * (the growth bound: un-compacted commit latency rises with segment
  * count because the tombstone pass unions per-segment doc stores).
  */
object StreamBench {

  def main(args: Array[String]): Unit = {
    val baseDocs = if (args.length > 0) args(0).toLong else 100000L
    val batchDocs = if (args.length > 1) args(1).toLong else 10000L
    val nBatches = if (args.length > 2) args(2).toInt else 20
    val compactEvery = if (args.length > 3) args(3).toInt else 0
    val cpus = BenchSession.cpus
    val spark = BenchSession(cpus, cpus)

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    results("calib_sec_start") = Bench.calibrate()
    results("mem_calib_sec_start") = Bench.calibrateMem()

    val parts = math.max(cpus, (baseDocs / 62500L).toInt)
    // epoch builds inherit buildPartitions; batches are small, so size
    // the config to the BATCH (waves of 32 tasks), not the base corpus
    val config = IndexConfig(Seq("repo", "path", "commit"), Seq("content"),
      shardDocs = 8192, buildPartitions = cpus)
    val base = java.nio.file.Files.createTempDirectory("graftstreambench").toString
    val idxDir = s"$base/idx"
    val srcDir = s"$base/src"
    val cpDir = s"$base/cp"
    val c0 = CodeCorpus.generateRange(spark, 0L, baseDocs, parts)
    val (_, tCreate) = Bench.time(IndexStore.create(c0, config, idxDir, "snap-0").unpersist())
    results("create_base_sec") = tCreate
    // the file-stream source analyzes the dir at start(): it must exist
    // (empty is fine) before the first wave is staged
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(srcDir))

    val q = StreamingIndexer.start(
      StreamingIndexer.fromParquetDir(spark, srcDir, c0.schema), idxDir, cpDir,
      compactEvery = compactEvery)
    val latencies =
      try {
        val lats = (0 until nBatches).map { i =>
          val lo = baseDocs + i.toLong * batchDocs
          CodeCorpus.generateRange(spark, lo, lo + batchDocs, math.max(1, cpus / 4))
            .write.mode("append").parquet(srcDir)
          val t0 = System.nanoTime()
          q.processAllAvailable()
          (System.nanoTime() - t0) / 1e9
        }.toVector
        // idle floor AFTER the waves: no new files, the round trip is
        // pure source-discovery + scheduler latency
        val idle = (1 to 5).map { _ =>
          val t0 = System.nanoTime()
          q.processAllAvailable()
          (System.nanoTime() - t0) / 1e9
        }.toVector
        results("idle_roundtrip_p50_sec") = idle.sorted.apply(idle.size / 2)
        lats
      } finally q.stop()

    val sorted = latencies.sorted
    def pct(p: Int): Double = sorted(math.min(sorted.size - 1, sorted.size * p / 100))
    results("batch_p50_sec") = pct(50)
    results("batch_p95_sec") = pct(95)
    results("batch_min_sec") = sorted.head
    results("batch_max_sec") = sorted.last
    results("docs_per_sec_p50") = batchDocs.toDouble / pct(50)

    // correctness anchor: every staged doc is live exactly once
    val live = IndexStore.load(spark, idxDir, cacheDocs = false)
    results("live_docs") = live.docs.count().toDouble // = baseDocs + nBatches*batchDocs
    live.unpersist()

    results("calib_sec") = Bench.calibrate()
    results("mem_calib_sec") = Bench.calibrateMem()
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"stream_bench","baseDocs":$baseDocs,"batchDocs":$batchDocs,""" +
      s""""nBatches":$nBatches,"compactEvery":$compactEvery,"cpus":$cpus,"queries":$qs}""")
    IndexStore.drop(base)
    spark.stop()
  }
}
