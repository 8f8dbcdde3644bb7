package graft

import graft.corpus.CodeCorpus
import graft.index.{IndexConfig, IndexStore}
import graft.query._

/** Persisted-path A/B at scale: the same queries through
  * IndexStore.load with docs cached (interactive mode) vs NOT cached
  * (scale mode — stored fields stream from the docId-sorted segment
  * parquet, top-k lookups pruned via QueryEngine.lookupDocs). The scale
  * mode must stay within ~1.5x of the cached mode: that is what makes
  * it safe as the default entry at corpus sizes where the doc store
  * cannot fit executor memory.
  *
  * Usage: runMain graft.StoreBench [nDocs] — prints one JSON line.
  */
object StoreBench {

  private def bestOf3(body: => Unit): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 8000000L
    val cpus = BenchSession.cpus
    // SPARK_GRAFT_LOCAL_DIR routes a 27M keyRange exchange (~20 GB) to
    // disk instead of the OOM killer
    val spark = BenchSession(cpus, cpus)

    // SPARK_GRAFT_STORE_PARTS pins docs/task independently of cpu count:
    // the partial-postings accumulator is sized per task, so corpus-size
    // jumps (8M -> 27M) must grow partitions, not per-task load (the
    // same fixed-docs-per-task rule the scaling protocol uses)
    val parts = sys.env.get("SPARK_GRAFT_STORE_PARTS").map(_.toInt).getOrElse(cpus * 4)
    // keyRange stays the default (oracle tie-break parity); `scan` is
    // the documented bulk-build strategy (deterministic for this
    // spark.range-derived corpus) and drops the build exchange from
    // 740 to 141 B/doc — required to fit a 27M-doc store build beside
    // the doc cache on this single box
    val strategy = sys.env.getOrElse("SPARK_GRAFT_STORE_STRATEGY",
      graft.index.DocIdStrategy.KeyRange)
    val corpus = CodeCorpus.generate(spark, nDocs, parts)
    val config = IndexConfig(Seq("repo", "path", "commit"), Seq("content"),
      shardDocs = 65536, buildPartitions = parts, docIdStrategy = strategy)
    val dir = java.nio.file.Files.createTempDirectory("graftstorebench").toString
    // regime markers BRACKET the run (start here, end below): a
    // mid-run host shift must show as start/end drift, not hide behind
    // one healthy end-of-run sample while the multi-minute create leg
    // ran degraded
    val calibStart = Bench.calibrate()
    val memCalibStart = Bench.calibrateMem()
    val (_, tCreate) = Bench.time {
      IndexStore.create(corpus, config, dir).unpersist()
    }

    val shapes = Seq(
      "hot" -> Seq(Fts("content", "fn return license")),
      "mixed" -> Seq(Fts("content", "binary search merge segment")),
      "skew" -> Seq(Fts("content", "rareAuditBeacon license fn")),
      "conj_skew" -> Seq(Fts("content", "rareAuditBeacon"), Fts("content", "license fn")))

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    results("create_store") = tCreate

    // one query = top-k scoring + stored-field fetch of the k winners
    def runQuery(e: QueryEngine, clauses: Seq[SearchClause]): Unit = {
      val top = e.searchF32(clauses, 10).collect()
      e.lookupDocs(top.map(_.getLong(0)).toSeq, Seq("repo", "path")).collect()
    }

    for (cache <- Seq(true, false)) {
      val idx = IndexStore.load(spark, dir, cacheDocs = cache)
      val e = new QueryEngine(idx)
      val tag = if (cache) "cached" else "uncached"
      shapes.foreach { case (_, clauses) => runQuery(e, clauses) } // warm postings cache + codegen
      shapes.foreach { case (name, clauses) =>
        results(s"${name}_$tag") = bestOf3(runQuery(e, clauses))
      }
      idx.unpersist()
    }

    val ratios = shapes.map { case (name, _) =>
      results(s"${name}_uncached") / math.max(1e-9, results(s"${name}_cached"))
    }
    results("uncached_over_cached_max_ratio") = ratios.max

    // durable delete-by-query at scale (AFTER the A/B, so the mutation
    // can't disturb the cached/uncached comparison): the tombstone job
    // must exchange slim docId longs only, never documents — the
    // traffic columns are the proof (plan properties, regime-free).
    // Two shapes: a rare term (tiny tombstone set) and a hot-ish term
    // (corpus-fraction tombstone set); both run over the live view, so
    // the hot leg also exercises matching through prior tombstones.
    val traffic = new BuildTraffic
    spark.sparkContext.addSparkListener(traffic)
    val t0 = traffic.settle()
    val (removedRare, tDelRare) = Bench.time(
      IndexStore.deleteByQuery(spark, dir, Seq(Fts("content", "rareAuditBeacon")), "bench-del-rare"))
    val t1 = traffic.settle()
    val (removedHot, tDelHot) = Bench.time(
      IndexStore.deleteByQuery(spark, dir, Seq(Fts("content", "merge")), "bench-del-hot"))
    val t2 = traffic.settle()
    results("delete_rare_sec") = tDelRare
    results("delete_rare_docs") = removedRare.toDouble
    results("delete_rare_shuffle_write_mb") = (t1 - t0).shuffleWriteBytes / 1e6
    results("delete_hot_sec") = tDelHot
    results("delete_hot_docs") = removedHot.toDouble
    results("delete_hot_shuffle_write_mb") = (t2 - t1).shuffleWriteBytes / 1e6
    // post-delete serving through the scale-mode load: deleted terms
    // match nothing; an untouched term still serves
    val idxAfter = IndexStore.load(spark, dir, cacheDocs = false)
    val eAfter = new QueryEngine(idxAfter)
    val (nAfter, tQAfter) = Bench.time(
      eAfter.searchF32(Seq(Fts("content", "rareAuditBeacon")), 10).collect().length)
    results("post_delete_query_sec") = tQAfter
    results("post_delete_hits") = nAfter.toDouble
    idxAfter.unpersist()

    // compaction/GC leg: physically absorb the tombstones (after the hot
    // delete that's most of the corpus) — the LSM-merge cost a real
    // curation pipeline pays after heavy churn. Traffic bracketed like
    // the deletes; post-compact serving re-checked on a fresh load.
    val tPre = traffic.settle() // re-settle: the post-delete probe query ran since t2
    val (_, tCompact) = Bench.time(IndexStore.compact(spark, dir))
    val t3 = traffic.settle()
    results("compact_sec") = tCompact
    results("compact_shuffle_write_mb") = (t3 - tPre).shuffleWriteBytes / 1e6
    val idxC = IndexStore.load(spark, dir, cacheDocs = false)
    val eC = new QueryEngine(idxC)
    val (nDel, tQDel) = Bench.time(
      eC.searchF32(Seq(Fts("content", "rareAuditBeacon")), 10).collect().length)
    val (nLive, _) = Bench.time(
      eC.searchF32(Seq(Fts("content", "binary search")), 10).collect().length)
    results("post_compact_query_sec") = tQDel
    results("post_compact_deleted_hits") = nDel.toDouble
    results("post_compact_live_hits") = nLive.toDouble
    idxC.unpersist()

    // the same per-run regime markers every other harness emits: without
    // them a cross-session comparison of these numbers is meaningless
    // on this host (CLAUDE.md)
    results("calib_sec_start") = calibStart
    results("mem_calib_sec_start") = memCalibStart
    results("calib_sec") = Bench.calibrate()
    results("mem_calib_sec") = Bench.calibrateMem()

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"store_bench","nDocs":$nDocs,"cpus":$cpus,"queries":$qs}""")
    IndexStore.drop(dir)
    spark.stop()
  }
}
