package graft

import org.apache.spark.sql.SparkSession

import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.query._

/** Driver-run benchmark: one JSON line on stdout.
  *
  * Headline numbers: index-build throughput over the synthetic
  * source-code corpus (the BASELINE.json north-star metric), top-k BM25
  * latency (exhaustive vs block-max WAND), fuzzy/fast-fuzzy, and the
  * training-data ops on the driver tables. Build time is reported as
  * its own entry so query latencies aren't polluted by it.
  */
object Bench {

  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Min-of-2 timing for the driver-run legs: this VM's hypervisor
    * noise swings identical legs up to 2.5x with FLAT calibration
    * markers (BENCH.md), and the driver gets ONE run per round — so
    * each timed leg executes twice and reports the minimum, measuring
    * steady-state capability rather than whichever transient the host
    * injected. Work is identical both times (same plan, same bytes:
    * WAND counters and BuildTraffic deltas are per-pass properties).
    */
  def time2[T](body: => T): (T, Double) = {
    val (_, t1) = time(body)
    val (r, t2) = time(body)
    (r, math.min(t1, t2))
  }

  /** Single-thread CPU-steal calibration: 1e9 xorshift64 rounds of pure
    * register arithmetic — fixed work whose wall time scales 1:1 with
    * host CPU steal (this VM swings ~4-5x between regimes, BENCH.md, so
    * raw cross-round wall comparisons are meaningless without it).
    * Cross-round comparisons should use latency / calib_sec.
    */
  def calibrate(): Double = {
    var x = 88172645463325252L
    var i = 0L
    val t0 = System.nanoTime()
    while (i < 1000000000L) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      i += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (x == 42L) System.err.println("xorshift fixpoint") // keep the loop live
    dt
  }

  /** Single-thread DRAM-bandwidth calibration: the register-only loop above
    * is blind to the VM's OTHER degradation mode — memory-fabric pressure,
    * which has hit 5x on identical binaries with matching CPU calibs
    * (BENCH.md r4). This times 4 sequential XOR-sum passes over a 512 MB
    * long array (far beyond LLC, so every pass streams from DRAM): fixed
    * work whose wall time scales with fabric bandwidth contention.
    *
    * Scope honesty: the buffer lives in the pretouch-committed heap, so
    * the timed passes never enter the kernel fault path — a regime that is
    * bandwidth-clean but page-fault-degraded (the AlwaysPreTouch
    * 10-15-min mode in CLAUDE.md) will NOT show here. A round is
    * regime-comparable only when calib_sec AND mem_calib_sec both match;
    * matching markers make a mismatch unlikely, not impossible.
    * Healthy-regime anchor on this VM: ~0.28 s (~7 GB/s single-thread).
    */
  private lazy val memCalibBuf: Array[Long] = {
    val n = 64 * 1024 * 1024 // 64M longs = 512 MB, allocated once per JVM
    val a = new Array[Long](n)
    var i = 0
    while (i < n) { a(i) = i.toLong * 0x9E3779B97F4A7C15L; i += 1 }
    a
  }

  def calibrateMem(): Double = {
    val a = memCalibBuf
    var acc = 0L
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 4) {
      var j = 0
      while (j < a.length) { acc ^= a(j); j += 1 }
      pass += 1
    }
    val dt = (System.nanoTime() - t0) / 1e9
    if (acc == 42L) System.err.println("memsum fixpoint") // keep the loop live
    dt
  }

  /** The shared bench local-dir policy, used by every harness main:
    * honor SPARK_GRAFT_LOCAL_DIR first (tmpfs pages count against host
    * RAM — an exchange that no longer fits beside the heap must be
    * routable to disk), shuffle on /dev/shm/graft-tmp otherwise (the VM
    * disk thrashes under concurrent shuffle writers, BENCH.md), and
    * ALWAYS purge stale leftovers from killed runs first: leaked tmpfs
    * pages silently starve later heaps (the 106 GB incident,
    * CLAUDE.md). Same >60-min guard as scaling.sh — old enough that no
    * live Spark job still owns them.
    */
  def benchLocalDir(): String = {
    purgeStaleTmp(Seq("/dev/shm/graft-tmp", "/dev/shm/spark-tmp"), ageMinutes = 60)
    sys.env.get("SPARK_GRAFT_LOCAL_DIR").getOrElse {
      try {
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get("/dev/shm/graft-tmp"))
        "/dev/shm/graft-tmp"
      } catch { case _: Throwable => System.getProperty("java.io.tmpdir", "/tmp") }
    }
  }

  /** Delete first-level children of `dirs` that are genuinely DEAD —
    * the leaked-shuffle-dir reaper (tools/scaling.sh:36 ported to the
    * entry points the driver gate actually invokes). "No Spark job is
    * live" (the CLAUDE.md manual rule) is approximated two ways, both
    * required to purge, because the top-level dir's creation mtime
    * alone would flag a LIVE multi-hour leg as stale and kill it
    * mid-job:
    *  - recency runs two levels deep (an active job keeps writing into
    *    its blockmgr hash subdirs, refreshing their mtimes);
    *  - no live process holds an open fd under the dir (/proc scan).
    * Best-effort: any IO error is ignored, never fatal to the bench.
    */
  def purgeStaleTmp(dirs: Seq[String], ageMinutes: Long): Unit = {
    val cutoff = System.currentTimeMillis() - ageMinutes * 60000L
    dirs.foreach { d =>
      val base = java.nio.file.Paths.get(d)
      if (java.nio.file.Files.isDirectory(base)) {
        val children = java.nio.file.Files.list(base)
        try children.forEach { p =>
          try {
            if (newestMtimeShallow(p) < cutoff && !heldOpenByLiveProcess(p.toString))
              deleteTreeQuiet(p)
          } catch { case _: Throwable => }
        } finally children.close()
      }
    }
  }

  /** Newest mtime among the dir, its children, and grandchildren. */
  private def newestMtimeShallow(p: java.nio.file.Path): Long = {
    var newest = 0L
    val walk = java.nio.file.Files.walk(p, 2)
    try {
      val it = walk.iterator()
      while (it.hasNext) {
        val q = it.next()
        try {
          val t = java.nio.file.Files.getLastModifiedTime(q).toMillis
          if (t > newest) newest = t
        } catch { case _: Throwable => }
      }
    } finally walk.close()
    newest
  }

  /** True if any live process holds an open fd under `prefix`. */
  private def heldOpenByLiveProcess(prefix: String): Boolean = {
    val pids = Option(new java.io.File("/proc").listFiles())
      .getOrElse(Array.empty[java.io.File]).filter(_.getName.forall(_.isDigit))
    pids.exists { pd =>
      val fds = Option(new java.io.File(pd, "fd").listFiles())
        .getOrElse(Array.empty[java.io.File])
      fds.exists { fd =>
        try java.nio.file.Files.readSymbolicLink(fd.toPath).toString.startsWith(prefix)
        catch { case _: Throwable => false }
      }
    }
  }

  /** Best-effort recursive delete, per-entry errors swallowed — the
    * ONE copy shared by the reaper above and Verify's stale-dump
    * cleanup (IndexStore.deleteTree stays separate: the store's delete
    * is fail-loud by contract).
    */
  def deleteTreeQuiet(p: java.nio.file.Path): Unit = {
    if (!java.nio.file.Files.exists(p)) return
    val walk = java.nio.file.Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder())
      .forEach { q =>
        try { java.nio.file.Files.deleteIfExists(q); () }
        catch { case _: Throwable => () }
      }
    finally walk.close()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val localDir = benchLocalDir()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", localDir)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // tolerate trailing slashes and sf-free custom dirs: a crashed
    // bench emits NO JSON line, zeroing the round's perf evidence over
    // a path-formatting nit
    val sf = raw"sf(\d+(?:\.\d+)?)".r.findAllMatchIn(sfDir).toSeq.lastOption
      .map(_.group(1).toDouble).getOrElse(0.0)
    val nCorpus = math.max(5000L, (sf * 500000).toLong) // sf0.1 -> 50k files
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // steal calibration brackets the run (the regime can shift mid-run)
    val calibStart = calibrate()
    val memCalibStart = calibrateMem()

    // 1. index-build throughput on the synthetic source-code corpus.
    // Partitioning is scale-dependent: 4 task waves win at millions of
    // files (BENCH.md round-2 scaling), but at this sf's ~50k files
    // that would leave ~400 docs/task and per-task overhead dominates
    // (measured 9-11s vs 7-9s) — 2 waves is right here.
    val corpus = CodeCorpus.generate(spark, nCorpus, cpus * 2)
    // traffic counters bracket the build: bytes shuffled/spilled are
    // plan properties, identical across host regimes — the third
    // regime marker, and unlike calib/memCalib one that the PLAN, not
    // the host, determines (BuildTraffic)
    val traffic = new BuildTraffic
    spark.sparkContext.addSparkListener(traffic)
    val buildConfig = IndexConfig(Seq("repo", "path", "commit"), Seq("content"),
      shardDocs = 8192, buildPartitions = cpus * 2)
    // build leg min-of-2 (see time2): two full builds, traffic deltas
    // from the first pass only (plan properties — identical across
    // passes), the first pass's caches released before the second
    val traffic0 = traffic.settle()
    val (idx1, tBuild1) = time(IndexBuilder.build(corpus, buildConfig))
    val trafficD = traffic.settle() - traffic0
    // blocking: async drop would leave pass-1 blocks competing with
    // pass 2 for storage memory, contaminating build_pass2_sec
    idx1.unpersist(blocking = true)
    val (idx, tBuild2) = time(IndexBuilder.build(corpus, buildConfig))
    val trafficD2 = traffic.settle() - traffic0 - trafficD
    val tBuild = math.min(tBuild1, tBuild2)
    // per-pass observability (excluded from total): pass-2 shuffle-write
    // must MATCH pass 1 — equal bytes prove the second pass re-executed
    // the full job (no cross-pass stage reuse) and its speedup is
    // JIT/allocator steady state, not skipped work
    results("build_pass1_sec") = tBuild1
    results("build_pass2_sec") = tBuild2
    results("build_pass2_shuffle_write_mb") = trafficD2.shuffleWriteBytes / 1e6
    results(s"build_index_${nCorpus}_files") = tBuild
    results("build_shuffle_write_mb") = trafficD.shuffleWriteBytes / 1e6
    results("build_shuffle_read_mb") = trafficD.shuffleReadBytes / 1e6
    results("build_spill_mb") = trafficD.spilledBytes / 1e6
    val engine = new QueryEngine(idx)

    // 2. top-k BM25 latency: hot/mixed/rare terms, WAND vs exhaustive
    val queries = Seq(
      "hot" -> "fn return license",
      "mixed" -> "binary search merge segment",
      "rare" -> "needle checkpoint epoch",
      // rare beacon + ultra-hot terms: the block-max skip shape
      "skew" -> "rareAuditBeacon license fn")
    // warm-up every path once (codegen + cache materialization +
    // dictionary snapshot); timed runs below are steady-state latency
    queries.foreach { case (_, q) =>
      engine.searchF32(Seq(Fts("content", q)), 10, useWand = true).collect()
      engine.searchF32(Seq(Fts("content", q)), 10, useWand = false).collect()
    }
    engine.searchF32(Seq(FuzzyC("content", "serach")), 10).collect()
    engine.searchF32(Seq(FastFuzzy("content", "serach")), 10).collect()

    queries.foreach { case (name, q) =>
      val (_, tw) = time2(engine.searchF32(Seq(Fts("content", q)), 10, useWand = true).collect())
      val (_, te) = time2(engine.searchF32(Seq(Fts("content", q)), 10, useWand = false).collect())
      results(s"q_fts_${name}_wand") = tw
      results(s"q_fts_${name}_exhaustive") = te
    }
    // conjunctions (the reference's flagship WHERE shape): a dense one
    // (cost heuristic routes it to the exhaustive scorer) and a
    // selective one (conj-WAND skips the hot side's blocks)
    val conj = Seq(Fts("content", "binary search"), Fts("content", "license"))
    val conjSkew = Seq(Fts("content", "rareAuditBeacon"), Fts("content", "license fn"))
    Seq(conj, conjSkew).foreach { c =>
      engine.searchF32(c, 10, useWand = true).collect()
      engine.searchF32(c, 10, useWand = false).collect()
    }
    val (_, tcw) = time2(engine.searchF32(conj, 10, useWand = true).collect())
    val (_, tce) = time2(engine.searchF32(conj, 10, useWand = false).collect())
    results("q_conj_wand") = tcw
    results("q_conj_exhaustive") = tce
    val (_, tsw) = time2(engine.searchF32(conjSkew, 10, useWand = true).collect())
    val (_, tse) = time2(engine.searchF32(conjSkew, 10, useWand = false).collect())
    results("q_conj_skew_wand") = tsw
    results("q_conj_skew_exhaustive") = tse
    // block-skip evidence: counters over the skew (rare+hot) paths
    val stats = graft.query.Wand.Stats.register(spark)
    engine.searchF32(Seq(Fts("content", "rareAuditBeacon license fn")), 10,
      useWand = true, wandStats = Some(stats)).collect()
    engine.searchF32(conjSkew, 10, useWand = true, wandStats = Some(stats)).collect()
    results("wand_blocks_decoded") = stats.decodedBlocks.value.toDouble
    results("wand_blocks_skipped") = stats.skippedBlocks.value.toDouble
    // fuzzy pair: timed tokens differ from the warm-up tokens, so the
    // compiled-query LRU can't hide the dictionary-lookup cost being
    // compared (fast-fuzzy must be the FAST path, README.md:28).
    // min-of-2 here uses two DIFFERENT typo pairs (same shape: two
    // transposition typos of the same dictionary words) — repeating one
    // pair would make the second pass an LRU hit, hiding the very
    // dictionary-expansion cost this leg measures
    val (_, tFuzzyA) = time(engine.searchF32(Seq(FuzzyC("content", "serach mrege")), 10).collect())
    val (_, tFuzzyB) = time(engine.searchF32(Seq(FuzzyC("content", "saerch megre")), 10).collect())
    results("q_fuzzy") = math.min(tFuzzyA, tFuzzyB)
    val (_, tFastA) = time(engine.searchF32(Seq(FastFuzzy("content", "serach mrege")), 10).collect())
    val (_, tFastB) = time(engine.searchF32(Seq(FastFuzzy("content", "saerch megre")), 10).collect())
    results("q_fastfuzzy") = math.min(tFastA, tFastB)
    // batched serving throughput: 32 mixed queries in ONE scoring pass
    // (searchManyF32 — decode-once per shard + per-query top-k heaps).
    // The sequential-vs-batched A/B and its two-core-level scaling
    // evidence live in QpsBench (BENCH.md); this leg tracks the batched
    // path per round.
    val batch32 = QpsBench.queryPool(32).zipWithIndex.map { case (q, i) => i -> q }
    engine.searchManyF32(batch32, 10).collect() // warm-up: compileMany + codegen
    val (_, tBatch32) = time2(engine.searchManyF32(batch32, 10).collect())
    results("q_batch32") = tBatch32
    results("batch_qps") = 32.0 / tBatch32
    // batch block-skip evidence: shared-cache decode/skip partition of
    // the batch's matched blocks (a block decodes only if some query of
    // the batch lands on it — Wand.topKMany). Below the batch-split
    // floor the whole batch takes the exhaustive replay and decodes no
    // WAND block, so this stats-only call (and only it: the timed calls
    // above keep default routing) lowers the floor to 0
    val bStats = graft.query.Wand.Stats.register(spark)
    EagerPlanConfs.withConfs(spark, Seq("graft.batch.splitMinDocs" -> "0")) {
      engine.searchManyF32(batch32, 10, wandStats = Some(bStats)).collect()
    }
    results("batch_blocks_decoded") = bStats.decodedBlocks.value.toDouble
    results("batch_blocks_skipped") = bStats.skippedBlocks.value.toDouble

    // 3. training-data ops on the driver tables
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val (_, tMinhash) = time2(graft.ops.Dedup.minhashPairs(docs, "doc_id", "text").count())
    results("op_dedup_minhash") = tMinhash
    val (_, tSim) = time2(graft.ops.Dedup.simhash(docs, "doc_id", "text").count())
    results("op_simhash") = tSim
    val (_, tAnn) = time2(graft.ops.Similarity.bruteTopK(emb, "vec_id", "embedding").count())
    results("op_ann_brute") = tAnn

    val filesPerSec = nCorpus.toDouble / tBuild
    results("build_files_per_sec") = filesPerSec

    val calibEnd = calibrate()
    val memCalibEnd = calibrateMem()
    val calib = (calibStart + calibEnd) / 2
    val memCalib = (memCalibStart + memCalibEnd) / 2
    results("calib_start_sec") = calibStart
    results("calib_end_sec") = calibEnd
    results("mem_calib_start_sec") = memCalibStart
    results("mem_calib_end_sec") = memCalibEnd

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val total = results // only latencies sum into the headline (not rates/counters/calibration)
      .filterNot { case (k, _) =>
        k == "build_files_per_sec" || k == "batch_qps" || k.startsWith("wand_blocks") ||
          k.startsWith("batch_blocks") ||
          k.startsWith("calib") || k.startsWith("mem_calib") ||
          k.startsWith("build_shuffle") || k == "build_spill_mb" ||
          k.startsWith("build_pass") }
      .values.sum
    // total_norm = total in units of the calibration loop: regime-free
    // cross-round comparisons compare THIS, not raw wall seconds — and
    // only when mem_calib_sec ALSO matches (fabric blind spot, BENCH.md)
    println(s"""{"metric":"total","value":$total,"unit":"sec","calib_sec":$calib,""" +
      s""""mem_calib_sec":$memCalib,"total_norm":${total / calib},"queries":$qs,"sf":"$sfDir"}""")
    spark.stop()
  }
}
