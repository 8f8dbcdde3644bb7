package graft

import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.query._

/** Query-THROUGHPUT benchmark: batched multi-query search
  * (QueryEngine.searchManyF32 — one scoring pass for the whole batch)
  * vs the same queries one Spark job at a time, over one index in one
  * JVM. The reference's serving envelope is many small queries per
  * second; on Spark the per-job scheduler round-trip dominates small
  * top-k queries, so a serving layer batches — this bench measures what
  * that buys and how it scales with cores.
  *
  * Usage: `runMain graft.QpsBench [nDocs] [nQueries]` (default 2M / 64).
  * Cores from SPARK_GRAFT_CPUS; partitions PINNED (128, or
  * SPARK_GRAFT_SCALE_PARTS) so every core level runs the identical job
  * — run one JVM per level back-to-back for the N-vs-4N query-side
  * scaling evidence (CLAUDE.md benching rules apply: pretouched heap,
  * /dev/shm shuffle dir, check free -g first).
  */
object QpsBench {

  /** Deterministic mixed query pool — the serving-mix shapes: ~70%
    * exact fts of 1-3 corpus tokens, 10% fuzzy, 10% fast-fuzzy, 10%
    * trailing-* prefix. Seeded: the pool is identical across runs and
    * core levels.
    */
  def queryPool(n: Int): Seq[Seq[SearchClause]] = {
    val words = Seq(
      "fn", "return", "license", "binary", "search", "merge", "segment",
      "filter", "reduce", "collect", "partition", "shuffle", "broadcast",
      "aggregate", "window", "join", "union", "distinct", "sample", "cache",
      "token", "stream", "query", "plan", "score", "doc", "posting", "list",
      "field", "norm", "term", "freq", "block", "max", "delta", "pack",
      "shard", "key", "checkpoint", "epoch")
    val rnd = new scala.util.Random(20260818L)
    (0 until n).map { i =>
      val toks = Seq.fill(1 + rnd.nextInt(3))(words(rnd.nextInt(words.size))).distinct
      i % 10 match {
        case 7 => Seq(FuzzyC("content", toks.head))
        case 8 => Seq(FastFuzzy("content", toks.mkString(" ")))
        case 9 => Seq(Fts("content", toks.head.take(3) + "*"))
        case _ => Seq(Fts("content", toks.mkString(" ")))
      }
    }
  }

  /** Zipf-skewed pool: half the queries pair a RARE corpus term (the
    * planted needles) with hot terms — the rank-threshold shape where
    * block-max pruning pays (the rare cursor lifts the top-k threshold
    * above the hot cursors' block maxima, so their blocks skip).
    * queryPool's all-hot mix is pruning's worst case (every block has a
    * subscriber that needs it); real serving loads are Zipf-distributed
    * and sit between the two.
    */
  def queryPoolSkewed(n: Int): Seq[Seq[SearchClause]] = {
    val hot = Seq("fn", "return", "license", "binary", "merge", "filter",
      "token", "stream", "plan", "score")
    val rare = Seq("rareAuditBeacon", "binarySearchNeedle", "prefab0", "prefab1", "prefab2")
    val rnd = new scala.util.Random(20260820L)
    (0 until n).map { i =>
      val h = Seq.fill(1 + rnd.nextInt(2))(hot(rnd.nextInt(hot.size))).distinct
      if (i % 2 == 0) Seq(Fts("content", (rare(i / 2 % rare.size) +: h).mkString(" ")))
      else Seq(Fts("content", h.mkString(" ")))
    }
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.length > 0) args(0).toLong else 2000000L
    val nQueries = if (args.length > 1) args(1).toInt else 64
    val cpus = BenchSession.cpus
    val parts = sys.env.get("SPARK_GRAFT_SCALE_PARTS").map(_.toInt).getOrElse(128)
    val spark = BenchSession(cpus, parts)

    val calibStart = Bench.calibrate()
    val memCalibStart = Bench.calibrateMem()

    val config = IndexConfig(Seq("repo", "path", "commit"), Seq("content"),
      shardDocs = 8192, buildPartitions = parts)
    // warm-up build (JIT + codegen + shuffle plumbing), then the timed corpus
    IndexBuilder.build(CodeCorpus.generate(spark, 20000, parts), config).unpersist()
    val corpus = CodeCorpus.generate(spark, nDocs, parts)
    val (idx, tBuild) = Bench.time(IndexBuilder.build(corpus, config))
    val engine = new QueryEngine(idx)

    val pool = queryPool(nQueries)
    val batch = pool.zipWithIndex.map { case (q, i) => i -> q }
    val seqN = math.min(nQueries, 32)
    // warm-up BOTH paths fully. Order matters: a batch wider than the
    // compiled-query LRU capacity evicts its own oldest entries, so the
    // sequential warm-up runs AFTER the batch warm-up and covers exactly
    // the timed sequential queries — both timed legs then compare
    // execution shape (one job vs seqN jobs), never compile luck
    engine.searchManyF32(batch, 10).collect()
    pool.take(seqN).foreach(q => engine.searchF32(q, 10).collect())

    val (_, tSeq) = Bench.time(
      pool.take(seqN).foreach(q => engine.searchF32(q, 10).collect()))
    val bStats = Wand.Stats.register(spark)
    val (_, tBatch) = Bench.time(
      engine.searchManyF32(batch, 10, wandStats = Some(bStats)).collect())

    // A/B: the pre-pruning exhaustive batch merge (decode EVERY matched
    // block once, replay per query — Scorer.scoreManyF32) vs the
    // shared-cache block-max path the engine now serves (Wand.topKMany):
    // both end in the engine's per-qid merge, so the delta is pure
    // block skipping
    def exhaustive(qs: Seq[(Int, CompiledQuery)]): Unit =
      engine.batchTopK(Scorer.scoreManyF32(idx, qs, 10), 10, qs.size, f64 = false).collect()
    val cqs = batch.map(_._1).zip(engine.compileMany(batch.map(_._2)))
      .filter(_._2.terms.nonEmpty)
    def runExhaustive(): Unit = exhaustive(cqs)
    runExhaustive() // warm-up
    val (_, tBatchEx) = Bench.time(runExhaustive())

    // the same A/B on the Zipf-skewed (rare+hot) mix — the shape where
    // per-query WAND inside the batch can actually skip shared blocks
    val skew = queryPoolSkewed(nQueries).zipWithIndex.map { case (q, i) => i -> q }
    engine.searchManyF32(skew, 10).collect() // warm-up
    val sStats = Wand.Stats.register(spark)
    val (_, tSkew) = Bench.time(
      engine.searchManyF32(skew, 10, wandStats = Some(sStats)).collect())
    val cqsSkew = skew.map(_._1).zip(engine.compileMany(skew.map(_._2)))
      .filter(_._2.terms.nonEmpty)
    def runSkewExhaustive(): Unit = exhaustive(cqsSkew)
    runSkewExhaustive() // warm-up
    val (_, tSkewEx) = Bench.time(runSkewExhaustive())

    val calibEnd = Bench.calibrate()
    val memCalibEnd = Bench.calibrateMem()
    val seqQps = seqN.toDouble / tSeq
    val batchQps = nQueries.toDouble / tBatch
    println(
      s"""{"metric":"qps","cores":$cpus,"docs":$nDocs,"parts":$parts,""" +
      s""""n_queries":$nQueries,"seq_n":$seqN,"build_sec":$tBuild,""" +
      s""""seq_sec":$tSeq,"seq_qps":$seqQps,"batch_sec":$tBatch,""" +
      s""""batch_qps":$batchQps,"batch_speedup_per_query":${batchQps / seqQps},""" +
      s""""batch_exhaustive_sec":$tBatchEx,""" +
      s""""batch_blocks_decoded":${bStats.decodedBlocks.value},""" +
      s""""batch_blocks_skipped":${bStats.skippedBlocks.value},""" +
      s""""skew_batch_sec":$tSkew,"skew_batch_exhaustive_sec":$tSkewEx,""" +
      s""""skew_blocks_decoded":${sStats.decodedBlocks.value},""" +
      s""""skew_blocks_skipped":${sStats.skippedBlocks.value},""" +
      s""""calib_start_sec":$calibStart,"calib_end_sec":$calibEnd,""" +
      s""""mem_calib_start_sec":$memCalibStart,"mem_calib_end_sec":$memCalibEnd}""")
    spark.stop()
  }
}
