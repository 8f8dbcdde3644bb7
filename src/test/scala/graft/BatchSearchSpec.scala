package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.query._

/** Batched multi-query search (QueryEngine.searchManyF32/F64): scoring
  * a batch in ONE pass must return, per query, EXACTLY what running the
  * query alone returns — bit-identical f32 scores (the batched merge
  * replays each query in the single-query accumulation order) and the
  * identical top-k rows under both total orders. Also gates compileMany:
  * the coalesced dictionary lookups must produce the same CompiledQuery
  * (terms, order, weights) as per-query compile().
  */
class BatchSearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val corpus: DataFrame = CodeCorpus.generate(spark, 1500, 8).cache()
  lazy val index = IndexBuilder.build(
    corpus, IndexConfig(Seq("repo", "path", "commit"), Seq("content"),
      shardDocs = 256, buildPartitions = 8))
  lazy val engine = new QueryEngine(index)

  // the full clause-shape mix: exact fts, conjunction, prefix, fuzzy,
  // fast-fuzzy, levenshtein, regex (regex exercises the per-query
  // fallback inside a batch compile)
  def batch: Seq[(Int, Seq[SearchClause])] = Seq(
    0 -> Seq(Fts("content", "fn return")),
    1 -> Seq(Fts("content", "binary"), Fts("content", "search")),
    2 -> Seq(Fts("content", "sor*")),
    3 -> Seq(FuzzyC("content", "retrun")),
    4 -> Seq(FastFuzzy("content", "serach")),
    5 -> Seq(LevC("content", "licens")),
    6 -> Seq(RegexC("content", "ret.+")))

  private def rowsF32(df: DataFrame): Seq[(Long, Float)] =
    df.collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      .sortBy { case (d, s) => (-s, d) }

  /** Run `body` with the sparse/dense split floor forced OFF, so the
    * batch genuinely splits (WAND pass + exhaustive pass) at this
    * suite's tiny test corpus — below graft.batch.splitMinDocs the
    * engine routes the whole batch exhaustive in one job.
    */
  private def withSplit[T](body: => T): T =
    EagerPlanConfs.withConfs(spark, Seq("graft.batch.splitMinDocs" -> "0"))(body)

  test("batched f32 results are bit-identical to per-query searchF32 (both split regimes)") {
    val k = 10
    // the two gate regimes must agree with the single-query paths AND
    // with each other: all-exhaustive (the small-corpus default) vs the
    // genuine sparse/dense split
    val gotDefault = engine.searchManyF32(batch, k).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getFloat(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq
        .sortBy { case (d, s) => (-s, d) }).toMap
    val gotSplit = withSplit(engine.searchManyF32(batch, k).collect())
      .map(r => (r.getInt(0), r.getLong(1), r.getFloat(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq
        .sortBy { case (d, s) => (-s, d) }).toMap
    batch.foreach { case (qid, clauses) =>
      val solo = rowsF32(engine.searchF32(clauses, k, useWand = false))
      assert(gotDefault.getOrElse(qid, Nil) === solo, s"qid=$qid diverged from single-query path")
      assert(gotSplit.getOrElse(qid, Nil) === solo, s"qid=$qid split regime diverged")
      // and exact equality with the WAND-gated default path too
      val wand = rowsF32(engine.searchF32(clauses, k))
      assert(gotDefault.getOrElse(qid, Nil) === wand, s"qid=$qid diverged from WAND path")
    }
  }

  test("below the split floor the whole batch runs exhaustive: no WAND pass, no block cache") {
    // this suite's corpus (1500 docs) is far below the default floor
    // (BatchSplitMinDocs = 1M), so the accounting counters must stay
    // untouched — the single-job exhaustive replay never registers
    // blocks with a shared cache
    val stats = Wand.Stats.register(spark)
    engine.searchManyF32(batch, 10, wandStats = Some(stats)).collect()
    assert(stats.decodedBlocks.value === 0L, "no WAND pass expected below the split floor")
    assert(stats.skippedBlocks.value === 0L)
  }

  test("batched f64 results match per-query presentation order exactly") {
    val k = 10
    val got = engine.searchManyF64(batch, k)
      .select(col("qid"), col("docId"), round(col("score"), 4).as("score"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    batch.foreach { case (qid, clauses) =>
      val solo = engine.matchF64(clauses)
        .select(col("docId"), round(col("score"), 4).as("score"))
        .orderBy(col("score").desc, col("docId").asc).limit(k)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(got.getOrElse(qid, Set.empty) === solo, s"qid=$qid f64 diverged")
    }
  }

  test("compileMany produces the same CompiledQuery as compile()") {
    // fresh engines over the same index so neither path hits a warm LRU
    val eBatch = new QueryEngine(index)
    val eSolo = new QueryEngine(index)
    val shapes = batch.map(_._2)
    val batched = eBatch.compileMany(shapes)
    shapes.zip(batched).foreach { case (clauses, viaBatch) =>
      val viaSolo = eSolo.compile(clauses)
      assert(viaBatch.groups === viaSolo.groups)
      // same term SET with identical weights/groups; order may differ
      // only between the ctx and non-ctx exact-term paths (Map vs Seq
      // iteration), which the scorer's deterministic re-sort absorbs —
      // but weights must agree term-for-term
      assert(viaBatch.terms.toSet === viaSolo.terms.toSet, s"$clauses compiled differently")
    }
  }

  test("a wide compileMany batch is fully LRU-served on repeat (no self-eviction)") {
    // regression: the compiled-query LRU once held 128 entries, so a
    // wider batch evicted its own fresh entries and the final lookup
    // silently RE-compiled the evicted majority via per-query
    // dictionary Spark jobs. The invariant now: cache capacity >=
    // MaxBatchWidth and compileMany assembles results out of band, so
    // one batch compiles each distinct query exactly once and a repeat
    // of the same batch is 100% cache hits.
    val e = new QueryEngine(index)
    val words = Seq("fn", "return", "binary", "search", "merge", "license",
      "filter", "reduce", "collect", "token", "stream", "query", "plan", "score")
    val wide: Seq[Seq[SearchClause]] = (0 until 200).map { i =>
      Seq(Fts("content", s"${words(i % words.size)} ${words((i / words.size) % words.size)}_$i"))
    }
    assert(wide.distinct.size === wide.size, "test premise: all queries distinct")
    val first = e.compileMany(wide)
    assert(first.size === wide.size)
    val hits0 = e.compileCacheHits
    val second = e.compileMany(wide)
    assert(e.compileCacheHits - hits0 === wide.size.toLong,
      "repeat batch must be served entirely from the compile LRU")
    first.zip(second).foreach { case (a, b) => assert(a eq b, "repeat must return the cached object") }
  }

  test("batched path accounts every matched block exactly once (decoded + skipped = total)") {
    val stats = Wand.Stats.register(spark)
    val e = new QueryEngine(index)
    withSplit(e.searchManyF32(batch, 10, wandStats = Some(stats)).collect())
    val decoded = stats.decodedBlocks.value
    val skipped = stats.skippedBlocks.value
    assert(skipped >= 0L)
    // the shared BlockCache decodes each block at most once per shard
    // and accounts the never-touched rest at shard close: the two
    // counters partition the matched posting blocks of the
    // WAND-ROUTABLE subset exactly (dense queries take the exhaustive
    // Scorer pass, outside the cache's accounting)
    val cqs = new QueryEngine(index).compileMany(batch.map(_._2))
    val routable = cqs.filter(cq =>
      cq.terms.nonEmpty && Wand.batchWandRoutable(cq, index.numDocs))
    assert(routable.nonEmpty, "test premise: some batch queries route to the WAND pass")
    val total = Scorer.matchedPostings(index, routable.flatMap(_.terms))
      .collect().map(_.blockOffset.length.toLong).sum
    assert(decoded > 0L, "the routable subset must decode something")
    assert(decoded + skipped === total,
      s"decoded=$decoded skipped=$skipped total=$total must partition the matched blocks")
  }

  test("store scoring == brute-force oracle over live docs only") {
    // StoreFixture's tombstones are applied once at load; BM25
    // statistics (N, df, avgdl) still count every doc version in the
    // segments until compaction, and only live docs may score
    import graft.index.IndexStore
    val dir = StoreFixture.dir
    val segs = IndexStore.readManifest(spark, dir)._1.map(_.path).distinct
    val allVersions = segs.flatMap(seg => spark.read.parquet(s"$dir/$seg/docs.parquet")
      .selectExpr("docId", "content").collect().map(r => (r.getLong(0), r.getString(1))))
    val e = new QueryEngine(IndexStore.load(spark, dir))
    val live = e.index.docs.select("docId").collect().map(_.getLong(0)).toSet
    assert(live.size < allVersions.size, "test premise: the store holds tombstoned versions")
    val qs = Seq("binary search needle", "fn return", "freshterm upserted", "search")
    val batched = withSplit(e.searchManyF32(qs.indices.map(i => i -> Seq(Fts("content", qs(i)))), 10)
      .collect()).map(r => (r.getInt(0), (r.getLong(1), r.getFloat(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sortBy { case (d, s) => (-s, d) }).toMap
    qs.zipWithIndex.foreach { case (q, i) =>
      val terms = e.tokenizeQuery("content", q)
      val all = BruteOracle.ftsScores(allVersions, terms)
      val expected = BruteOracle.topK(BruteOracle.ftsScores(allVersions, terms, live), 10)
      assert(expected.nonEmpty, s"test premise: '$q' matches live docs")
      assert(rowsF32(e.searchF32(Seq(Fts("content", q)), 10)) === expected, s"routed '$q'")
      assert(rowsF32(e.searchF32(Seq(Fts("content", q)), 10, useWand = false)) === expected,
        s"exhaustive '$q'")
      assert(batched.getOrElse(i, Nil) === expected, s"batched '$q'")
      if (i == 0) assert(BruteOracle.topK(all, 10) != expected,
        "test premise: tombstoned versions would rank in the top-10")
    }
    e.release()
  }

  test("repeats score again; wandStats calls match stats-free calls") {
    // searches plan nothing to memoize: every call scores again off the
    // shard tables, and equals a fresh engine's run
    val e = new QueryEngine(index)
    val q = Seq(Fts("content", "fn return"))
    val a = rowsF32(e.searchF32(q, 5))
    assert(a.nonEmpty && rowsF32(e.searchF32(q, 5)) === a)
    assert(rowsF32(new QueryEngine(index).searchF32(q, 5)) === a)
    // a wandStats call runs the same walk and fills its accumulators
    val stats = Wand.Stats.register(spark)
    val sq = Seq(Fts("content", "binarySearchNeedle license"))
    val c = rowsF32(e.searchF32(sq, 5, wandStats = Some(stats)))
    assert(c === rowsF32(e.searchF32(sq, 5)))
    assert(stats.decodedBlocks.value > 0L)
    // batched path: a repeat equals the first run, in either split regime
    val m1 = e.searchManyF32(batch, 5).collect().toSeq
    assert(e.searchManyF32(batch, 5).collect().toSeq === m1)
    assert(withSplit(e.searchManyF32(batch, 5).collect().toSeq) === m1)
    assert(e.planCacheHits === 0L, "no search is served a memoized plan")
  }

  test("the driver merge and the forced per-qid window select identical rows") {
    // the window branch serves batches whose candidates exceed the
    // driver-merge gate; force it here and compare every entry point
    val driver = new QueryEngine(index)
    val window = new QueryEngine(index)
    window.driverMergeRows = 0L
    def rows(df: DataFrame) = df.collect().map(r => (r.getInt(0), r.getLong(1), r.get(2))).toSet
    Seq(10, 1000).foreach { k =>
      Seq[(String, QueryEngine => DataFrame)](
        "searchManyF32" -> (_.searchManyF32(batch, k)),
        "searchManyF64" -> (_.searchManyF64(batch, k))
      ).foreach { case (what, run) =>
        val a = rows(run(driver))
        assert(a.nonEmpty)
        assert(a === rows(run(window)), s"$what k=$k")
      }
      val split = withSplit((rows(driver.searchManyF32(batch, k)), rows(window.searchManyF32(batch, k))))
      assert(split._1 === split._2, s"searchManyF32 split k=$k")
    }
  }

  test("a no-match query yields no rows for its qid and leaves the rest intact") {
    val withEmpty = batch :+ (99 -> Seq(Fts("content", "zzqqxxnomatchtoken")))
    val got = engine.searchManyF32(withEmpty, 5).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getFloat(2)))
    assert(!got.exists(_._1 == 99))
    val q0 = got.filter(_._1 == 0).map(t => (t._2, t._3)).toSeq.sortBy { case (d, s) => (-s, d) }
    assert(q0 === rowsF32(engine.searchF32(Seq(Fts("content", "fn return")), 5)))
  }

  test("an all-empty batch returns an empty (qid, docId, score) frame") {
    val got = engine.searchManyF32(Seq(7 -> Seq(Fts("content", "zzqqxxnomatchtoken"))), 5)
    assert(got.columns.toSeq === Seq("qid", "docId", "score"))
    assert(got.count() === 0)
  }

  test("batched scoring honors delete tombstones (store)") {
    // StoreFixture's deleteByQuery tombstoned every doc holding the
    // planted `needle`: the term's posting rows are still in the
    // segments, but a load drops them before any scorer runs
    import graft.index.IndexStore
    val dir = StoreFixture.dir
    val e = new QueryEngine(IndexStore.load(spark, dir))
    val q = Seq(Fts("content", "needle"))
    assert(e.compile(q).terms.map(_.df).sum > 0L, "test premise: 'needle' is in the dictionary")
    assert(e.searchManyF32(Seq(0 -> q), 3).count() === 0L)
    val mixed = Seq(Fts("content", "needle binary"))
    val got = e.searchManyF32(Seq(0 -> mixed), 3)
      .collect().map(r => (r.getLong(1), r.getFloat(2))).toSeq
      .sortBy { case (d, s) => (-s, d) }
    assert(got.nonEmpty)
    assert(got === rowsF32(e.searchF32(mixed, 3, useWand = false)))
    assert(e.matchF32(q).count() === 0L, "no needle doc survives the load")
    e.release()
  }

  test("batched == single-query on a MULTI-EPOCH store (several posting rows per term + tombstones)") {
    // an upserted store carries one PostingRow per (field, term, shard)
    // PER EPOCH plus delete tombstones — the batched merge must sum
    // every epoch's rows into the same per-doc f32 scores the
    // single-query merge gets
    import graft.index.IndexStore
    val dir = java.nio.file.Files.createTempDirectory("graftbatch").toString
    val base = CodeCorpus.generate(spark, 600, 4).cache()
    val cfg = graft.index.IndexConfig(Seq("repo", "path", "commit"), Seq("content"),
      shardDocs = 256, buildPartitions = 4)
    IndexStore.create(base, cfg, dir, "snap-0")
    val modified = base.filter(col("path").contains("file_1"))
      .withColumn("content", concat(col("content"), lit(" upserted freshterm")))
    assert(IndexStore.appendEpoch(modified, dir, "snap-1"))
    val e = new QueryEngine(IndexStore.load(spark, dir))
    // multi-epoch premise: at least one queried term has several
    // posting rows for one (field, term, shard)
    val multi = e.index.postings.filter(col("term") === "fn")
      .groupBy(col("shard")).count().filter(col("count") > 1).count()
    assert(multi > 0, "test premise: 'fn' must span several epochs in some shard")
    val b = Seq(
      0 -> Seq(Fts("content", "fn return")),
      1 -> Seq(Fts("content", "freshterm")),
      2 -> Seq(Fts("content", "binary"), Fts("content", "search")))
    // split forced on: the multi-epoch replay-order invariant must hold
    // on the WAND-routed pass too, not just the small-corpus default
    val got = withSplit(e.searchManyF32(b, 10).collect())
      .map(r => (r.getInt(0), r.getLong(1), r.getFloat(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSeq
        .sortBy { case (d, s) => (-s, d) }).toMap
    b.foreach { case (qid, clauses) =>
      val solo = rowsF32(e.searchF32(clauses, 10, useWand = false))
      assert(got.getOrElse(qid, Nil) === solo, s"qid=$qid diverged on the multi-epoch store")
    }
    // f64 through the same kernel on the store: the shard
    // heaps (round4 order) keep exactly the per-query oracle top-k, with
    // bit-equal raw doubles
    val got64 = e.searchManyF64(b, 10).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3)).toSet).toMap
    b.foreach { case (qid, clauses) =>
      val solo = e.matchF64(clauses)
        .orderBy(round(col("score"), 4).desc, col("docId").asc).limit(10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSet
      assert(solo.nonEmpty, s"test premise: qid=$qid matches")
      assert(got64.getOrElse(qid, Set.empty) === solo, s"qid=$qid f64 diverged on the multi-epoch store")
    }
    e.release()
  }

  test("shard-local heaps bound the exchanged candidates at k per (query, shard)") {
    // a hot single-term query matches far more docs than k; the
    // pre-window candidate set must stay <= shards x k, never the
    // match-set size
    val k = 5
    val cq = engine.compile(Seq(Fts("content", "fn")))
    val cand = Scorer.scoreManyF32(index, Seq(0 -> cq), k)
    val nShards = math.ceil(index.numDocs.toDouble / index.config.shardDocs).toInt
    val n = cand.count()
    val full = engine.matchF32(Seq(Fts("content", "fn"))).count()
    assert(n <= nShards.toLong * k, s"candidates $n exceed shards($nShards) x k($k)")
    assert(full > n, "test premise: the match set must exceed the candidate bound")
  }
}
