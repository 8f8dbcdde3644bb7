package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.query._

/** WAND must be exactly equal to the exhaustive scorer — same docIds,
  * same f32 scores, same tie-breaks — on every query/k (SURVEY.md
  * section 7 hard part 4: per-shard pruning is conservative, so the
  * merged top-k is exact).
  */
class WandSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val corpus = CodeCorpus.generate(spark, 3000, 8).cache()
  lazy val index = IndexBuilder.build(
    corpus, IndexConfig(Seq("repo", "path", "commit"), Seq("content"), shardDocs = 512, buildPartitions = 8))
  lazy val engine = new QueryEngine(index)

  val queries = Seq(
    "fn return license", // ultra-hot terms, heavy lists
    "binary search needle", // rare + medium
    "merge segment posting list block max", // many terms
    "checkpoint", // single term (UB == score: tie boundary)
    "prefab*", // dictionary expansion
    "zzzznotaterm") // no hits

  test("WAND top-k equals exhaustive top-k exactly") {
    for (q <- queries; k <- Seq(1, 7, 10, 100)) {
      val exhaustive = engine.searchF32(Seq(Fts("content", q)), k, useWand = false)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      // force the raw WAND driver (the density gate may legitimately
      // route uniform-hot disjunctions to the exhaustive scorer)
      val cq = engine.compile(Seq(Fts("content", q)))
      if (cq.terms.nonEmpty) {
        val forced = Scorer.topK(Wand.topK(engine.index, cq, k).toDF("docId", "score"), k)
          .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
        assert(forced === exhaustive, s"forced WAND, query '$q' k=$k")
      }
      // and whatever path the engine routes to agrees as well
      val routed = engine.searchF32(Seq(Fts("content", q)), k, useWand = true)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(routed === exhaustive, s"routed, query '$q' k=$k")
    }
  }

  test("density gate: uniform-hot disjunctions route to the exhaustive scorer") {
    // every term dense (df*4 > N): nothing to skip -> counters untouched
    val hotStats = Wand.Stats.register(spark)
    engine.searchF32(Seq(Fts("content", "fn return license")), 10,
      useWand = true, wandStats = Some(hotStats)).collect()
    assert(hotStats.decodedBlocks.value === 0L && hotStats.skippedBlocks.value === 0L,
      "uniform-hot disjunction should bypass WAND entirely")
    // at least one selective term: WAND engages (counters move)
    val skewStats = Wand.Stats.register(spark)
    engine.searchF32(Seq(Fts("content", "needle license fn")), 10,
      useWand = true, wandStats = Some(skewStats)).collect()
    assert(skewStats.decodedBlocks.value > 0L,
      "selective disjunction should take the WAND path")
  }

  test("conjunction WAND equals exhaustive exactly (fuzzy.sql WHERE shape)") {
    val conjQueries: Seq[Seq[SearchClause]] = Seq(
      Seq(Fts("content", "fn return"), Fts("content", "license")), // hot x hot
      Seq(Fts("content", "binary search"), Fts("content", "needle")), // mixed x rare
      Seq(FuzzyC("content", "serach"), FuzzyC("content", "mrege")), // fuzzy x fuzzy
      Seq(Fts("content", "merge"), RegexC("content", "lic.nse")), // sum x const group
      Seq(Fts("content", "fn"), Fts("content", "return"), Fts("content", "license")), // 3-way
      Seq(Fts("content", "fn"), Fts("content", "zzzznotaterm")), // empty group
      // SHARED term across groups: 'merge' contributes to both, so the
      // UB path multiplies a summed weight while exact scoring sums two
      // products — the ULP-margin case
      Seq(Fts("content", "merge"), Fts("content", "merge segment")),
      Seq(FuzzyC("content", "mrege"), FuzzyC("content", "merge"))) // overlapping expansions
    for (clauses <- conjQueries; k <- Seq(1, 7, 10, 100)) {
      val exhaustive = engine.searchF32(clauses, k, useWand = false)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      // force the conj-WAND path (the searchF32 cost heuristic may
      // legitimately route dense conjunctions to the exhaustive scorer)
      val cq = engine.compile(clauses)
      val forced = Scorer.topK(
        Wand.topKConj(engine.index, cq, k).toDF("docId", "score"), k)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(forced === exhaustive, s"forced conj-WAND, clauses $clauses k=$k")
      // and whatever path the engine routes to agrees as well
      val routed = engine.searchF32(clauses, k, useWand = true)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(routed === exhaustive, s"routed, clauses $clauses k=$k")
    }
  }

  test("WAND paths respect tombstones (applied at store load)") {
    import org.apache.spark.sql.functions.lit
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val cfg = IndexConfig(Seq("doc_id"), Seq("text"), shardDocs = 64, buildPartitions = 4)
    val dir = java.nio.file.Files.createTempDirectory("graftwand").toString
    graft.index.IndexStore.create(docs, cfg, dir).unpersist()
    // upsert half the current top-10 of a hot query with text that
    // matches nothing: their old docIds become tombstones
    val eng0 = new QueryEngine(graft.index.IndexStore.load(spark, dir))
    val top = eng0.searchF32(Seq(Fts("text", "the")), 10).collect().map(_.getLong(0))
    val dead = top.take(5).toSet
    val deadKeys = eng0.lookupDocs(dead.toSeq, Seq("doc_id")).collect().map(_.get(1))
    eng0.release()
    graft.index.IndexStore.appendEpoch(docs.filter(docs("doc_id").isin(deadKeys.toSeq: _*))
      .withColumn("text", lit("zzqqreplaced")), dir, "upsert-top")
    val eng = new QueryEngine(graft.index.IndexStore.load(spark, dir))
    for (clauses <- Seq(
        Seq(Fts("text", "the")): Seq[SearchClause],
        Seq(Fts("text", "the"), Fts("text", "data")): Seq[SearchClause])) {
      val wand = eng.searchF32(clauses, 10, useWand = true).collect().map(_.getLong(0)).toSeq
      val exhaustive = eng.searchF32(clauses, 10, useWand = false).collect().map(_.getLong(0)).toSeq
      assert(wand === exhaustive, s"clauses $clauses")
      assert(wand.toSet.intersect(dead).isEmpty, "deleted docs must not surface")
    }
    eng.release()
  }

  test("WAND skip counters: rare+hot top-k skips the hot term's blocks") {
    import spark.implicits._
    // 10 'needle' docs up front set a threshold the hay-only tail can
    // never beat, so WAND must terminate without decoding hay's ~23
    // remaining blocks; exhaustive has no choice but to decode all
    val df = (0 until 3000).map(i =>
      (i.toLong, if (i < 10) "needle hay" else "hay filler")).toDF("doc_id", "text")
    val idx = IndexBuilder.build(df, IndexConfig(Seq("doc_id"), Seq("text"),
      shardDocs = 4096, buildPartitions = 4))
    val eng = new QueryEngine(idx)
    val stats = Wand.Stats.register(spark)
    val wand = eng.searchF32(Seq(Fts("text", "needle hay")), 10,
      useWand = true, wandStats = Some(stats)).collect().toSeq
    val exhaustive = eng.searchF32(Seq(Fts("text", "needle hay")), 10,
      useWand = false).collect().toSeq
    assert(wand === exhaustive)
    assert(stats.decodedBlocks.value > 0)
    assert(stats.skippedBlocks.value >= 10,
      s"expected the hay tail skipped: decoded=${stats.decodedBlocks.value} " +
        s"skipped=${stats.skippedBlocks.value}")
  }

  test("WAND on the small documents table") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val idx = IndexBuilder.build(docs, IndexConfig(Seq("doc_id"), Seq("text"), shardDocs = 64, buildPartitions = 4))
    val eng = new QueryEngine(idx)
    for (q <- Seq("merge sort", "data table scan", "the"); k <- Seq(3, 10, 25)) {
      val a = eng.searchF32(Seq(Fts("text", q)), k, useWand = false).collect().toSeq
      val b = eng.searchF32(Seq(Fts("text", q)), k, useWand = true).collect().toSeq
      assert(a === b, s"query '$q' k=$k")
    }
  }
}
