package graft

import org.apache.spark.sql.functions.col

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
  *
  * Freshness leg: runMain graft.StoreBench freshness [baseDocs] [epochs]
  * — an append-and-read loop on a store of `baseDocs` files (default
  * 5000, 3 epochs): each epoch appends 200 upserts and 200 new files
  * (inputs written to parquet first), attaches the store on a fresh
  * session table, then runs a capped SQL read and a second one with
  * another query. The first read splits into the layers that make it
  * up: `load` (the attach: manifest, tombstones, docs relation),
  * `dictionary` (the cold engine's dictionary snapshot) and
  * `first_statement` (the capped statement, which builds the shard
  * tables). Prints one JSON line with each step's median milliseconds,
  * Spark jobs and SQL executions (`append`, `load`, `dictionary`,
  * `first_statement`, `next_read`) and the per-epoch values.
  */
object StoreBench {

  private def bestOf3(body: => Unit): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit =
    if (args.headOption.contains("freshness"))
      freshness(args.lift(1).fold(5000L)(_.toLong), args.lift(2).fold(3)(_.toInt))
    else scaleAB(args)

  private def freshness(baseDocs: Long, epochs: Int): Unit = {
    val cpus = BenchSession.cpus
    val spark = BenchSession(cpus, cpus)
    val parts = cpus * 2
    val half = 200
    val config = IndexConfig(Seq("repo", "path", "commit"), Seq("content"),
      shardDocs = 4096, buildPartitions = parts)
    val dir = java.nio.file.Files.createTempDirectory("graftfreshness").toString
    val inputs = java.nio.file.Files.createTempDirectory("graftfreshin").toString
    // epoch e: `half` upserts of base files spread over the corpus, and
    // `half` new files past every id so far
    val stride = math.max(1L, baseDocs / half)
    (1 to epochs).foreach { e =>
      val up = spark.range(0, half, 1, parts)
        .select(((col("id") * stride + e) % baseDocs).as("id"))
        .as(org.apache.spark.sql.Encoders.scalaLong)
        .map { id =>
          val d = CodeCorpus.genDoc(id)
          d.copy(content = d.content + s" revised epoch$e")
        }(org.apache.spark.sql.Encoders.product[CodeCorpus.SourceFile]).toDF()
      val fresh = CodeCorpus.generateRange(spark, baseDocs + (e - 1L) * half,
        baseDocs + e.toLong * half, parts)
      up.unionByName(fresh).write.parquet(s"$inputs/epoch-$e")
    }
    CodeCorpus.generate(spark, baseDocs, parts).write.parquet(s"$inputs/base")
    val (_, tCreate) = Bench.time(
      IndexStore.create(spark.read.parquet(s"$inputs/base"), config, dir).unpersist())

    val traffic = new BuildTraffic
    spark.sparkContext.addSparkListener(traffic)
    val session = new graft.sql.LnxSession(spark)
    val sql = "SELECT path, score() AS s FROM files WHERE fts(content, $1) ORDER BY s DESC LIMIT 10"
    /** (milliseconds, jobs, SQL executions) of `body`; the listener
      * settles outside the timing. */
    def step(body: => Unit): (Double, Long, Long) = {
      val before = traffic.settle()
      val (_, sec) = Bench.time(body)
      val d = traffic.settle() - before
      (sec * 1e3, d.jobs, d.sqlExecutions)
    }
    // a statement's rows are a local frame; collecting it is one SQL
    // execution with no job, so a step runs the statement alone
    def statement(q: String) = session.execute(sql, Seq(graft.sql.LnxSql.SLit(q)))
    val steps = Seq("append", "load", "dictionary", "first_statement", "next_read")
    val runs = (1 to epochs).map { e =>
      Seq(
        step(IndexStore.appendEpoch(spark.read.parquet(s"$inputs/epoch-$e"), dir, s"fresh-$e")),
        step(session.attach("files", dir)),
        step(session.table("files").engine.foreach(_.localDictActive)),
        step(statement("binary search")),
        step(statement("fn license")))
    }
    session.table("files").engine.foreach(_.release())
    def median(xs: Seq[Double]): Double = { val s = xs.sorted; s(s.size / 2) }
    val fields = steps.indices.flatMap { i =>
      val name = steps(i)
      Seq(f""""${name}_ms":${median(runs.map(_(i)._1))}%.1f""",
        s""""${name}_jobs":${median(runs.map(_(i)._2.toDouble)).toLong}""",
        s""""${name}_sql":${median(runs.map(_(i)._3.toDouble)).toLong}""",
        runs.map(r => f"${r(i)._1}%.1f").mkString(s""""${name}_ms_per_epoch":[""", ",", "]"),
        runs.map(_(i)._2).mkString(s""""${name}_jobs_per_epoch":[""", ",", "]"),
        runs.map(_(i)._3).mkString(s""""${name}_sql_per_epoch":[""", ",", "]"))
    }
    println(s"""{"metric":"store_freshness","baseDocs":$baseDocs,"epochs":$epochs,"cpus":$cpus,""" +
      f""""create_sec":$tCreate%.2f,${fields.mkString(",")}}""")
    IndexStore.drop(dir)
    IndexStore.drop(inputs)
    spark.stop()
  }

  private def scaleAB(args: Array[String]): Unit = {
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
