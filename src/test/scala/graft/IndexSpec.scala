package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import graft.analyze.Analyzer
import graft.index.{IndexBuilder, IndexConfig, TermDf}

class IndexSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val documents = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
  lazy val config = IndexConfig(Seq("doc_id"), Seq("text"), shardDocs = 64, buildPartitions = 4)
  lazy val index = IndexBuilder.build(documents, config)

  test("docIds are dense, unique, and ordered by key") {
    val ids = index.docs.select("docId", "doc_id").orderBy("docId").collect()
    assert(ids.map(_.getLong(0)).toSeq === (0L until ids.length.toLong))
    // docId order == doc_id (key) order
    assert(ids.map(_.getLong(1)).toSeq === ids.map(_.getLong(1)).sorted.toSeq)
  }

  test("docId assignment is invariant to input partitioning") {
    val a = IndexBuilder.assignDocIds(documents.repartition(3), Seq("doc_id"), 4)
      .select("doc_id", "docId").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val b = IndexBuilder.assignDocIds(documents.repartition(11), Seq("doc_id"), 7)
      .select("doc_id", "docId").collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(a === b)
  }

  test("df in the term dictionary equals distinct (term, doc) pairs in raw text") {
    val expected = documents.select(col("doc_id"), explode(Analyzer.tokensCol(col("text"))).as("term"))
      .distinct().groupBy("term").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = spark.createDataset(index.termDfs)(Encoders.product[TermDf])
      .groupBy("field", "term").agg(sum("df"))
      .collect().map(r => r.getString(1) -> r.getLong(2)).toMap
    assert(got === expected)
  }

  test("field token totals equal the sum of raw token counts") {
    val expected = documents.select(sum(size(Analyzer.tokensCol(col("text"))))).collect()(0).getLong(0)
    assert(index.fieldTokens("text") === expected)
  }

  test("per-row content sha256 invariant vs the source table") {
    // BASELINE.json input_hint: per-row content sha256 equality
    val src = documents.select(col("doc_id"), sha2(col("text"), 256).as("h_src"))
    val idx = index.docs.select(col("doc_id"), sha2(col("text"), 256).as("h_idx"))
    val mismatches = src.join(idx, "doc_id")
      .filter(col("h_src") =!= col("h_idx")).count()
    assert(mismatches === 0L)
    assert(src.count() === index.numDocs)
  }

  test("ultra-hot terms are bounded by shardDocs (skew salting, SURVEY §4 O11)") {
    // 'the' appears in most documents; its posting list must be split
    // into docId-range shards, each row bounded by shardDocs — the
    // salted-repartition guarantee that no task or group scales with a
    // term's total df
    val hot = index.postings.filter(col("term") === "the").collect()
    assert(hot.length > 1, "expected the hot term to span multiple shards")
    assert(hot.forall(_.numDocs <= config.shardDocs))
    assert(hot.map(_.shard).distinct.length === hot.length)
  }

  test("posting lists cover every (term, doc) occurrence with exact tf") {
    import graft.index.PostingCodec
    val rows = index.postings.collect()
    val fromPostings = rows.flatMap { p =>
      val dec = PostingCodec.decodeAll(p.bytes, p.blockOffset, p.blockLast)
      dec.docIds.indices.map(i => ((p.term, dec.docIds(i)), dec.tfs(i)))
    }.toMap
    val idToDocId = index.docs.select("doc_id", "docId").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val expected = documents.select("doc_id", "text").collect().flatMap { r =>
      val (counts, _) = Analyzer.tokenCounts(r.getString(1))
      counts.map { case (t, tf) => ((t, idToDocId(r.getLong(0))), tf) }
    }.toMap
    assert(fromPostings === expected)
    // shard bounds respected
    rows.foreach { p =>
      val dec = PostingCodec.decodeAll(p.bytes, p.blockOffset, p.blockLast)
      assert(dec.docIds.forall(d => (d / config.shardDocs).toInt == p.shard))
    }
  }

  test("scan-strategy docIds: dense arrival order, deterministic for range-derived input") {
    import graft.index.DocIdStrategy
    // same 300 docs generated at two slice counts: scan-order ids follow
    // the range value order in both, so the assignment must be identical
    // (the strategy's determinism contract for spark.range-derived input)
    val keys = Seq("repo", "path", "commit")
    def ids(slices: Int): Map[String, Long] =
      IndexBuilder.assignDocIds(graft.corpus.CodeCorpus.generate(spark, 300, slices),
        keys, 4, strategy = DocIdStrategy.Scan)
        .select("path", "docId").collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val a = ids(3)
    assert(a === ids(7))
    assert(a.values.toSeq.sorted === (0L until 300L))
  }

  test("scan-strategy build: identical stats and bit-identical scores vs keyRange") {
    import graft.index.DocIdStrategy
    val corpus = graft.corpus.CodeCorpus.generate(spark, 500, 4)
    val cfg = IndexConfig(Seq("repo", "path", "commit"), Seq("content"),
      shardDocs = 64, buildPartitions = 4)
    val iKey = IndexBuilder.build(corpus, cfg)
    val iScan = IndexBuilder.build(corpus, cfg.copy(docIdStrategy = DocIdStrategy.Scan))
    try {
      assert(iScan.numDocs === iKey.numDocs)
      assert(iScan.fieldTokens === iKey.fieldTokens)
      // per-doc BM25 is docId-independent: the (path, score-bits) sets of
      // an unlimited match must agree exactly even though ids differ
      def resultSet(ix: graft.index.BuiltIndex): Set[(String, Int)] = {
        val e = new graft.query.QueryEngine(ix)
        e.searchF32(Seq(graft.query.Fts("content", "binarySearchNeedle serach")), 10000)
          .join(ix.docs, "docId")
          .select(col("path"), col("score"))
          .collect().map(r => (r.getString(0),
            java.lang.Float.floatToIntBits(r.getFloat(1)))).toSet
      }
      assert(resultSet(iScan) === resultSet(iKey))
      assert(resultSet(iScan).nonEmpty)
    } finally { iKey.unpersist(); iScan.unpersist() }
  }

  test("generateRange: id-keyed slices = prefix of generate, PK-disjoint across epochs") {
    import graft.corpus.CodeCorpus
    // slice [0, n) must equal generate(n) row-for-row (epoch benches
    // rely on the base build being the same corpus the full build sees)
    val full = CodeCorpus.generate(spark, 120, 3).collect().toSet
    val slice0 = CodeCorpus.generateRange(spark, 0, 120, 5).collect().toSet
    assert(slice0 === full)
    // successive epochs never collide on the (repo, path, commit) PK —
    // genDoc keys the path on the absolute id
    val e1 = CodeCorpus.generateRange(spark, 120, 240, 4)
      .select("repo", "path", "commit").collect().toSet
    val pk0 = CodeCorpus.generateRange(spark, 0, 120, 4)
      .select("repo", "path", "commit").collect().toSet
    assert(e1.intersect(pk0).isEmpty)
    assert(e1.size === 120)
  }

  test("build fails loud when an indexed field is not a string column") {
    // partialPostings reads fields via getUTF8String: on a LongType
    // column that misreads the value's bytes as an offset word —
    // garbage tokens or a crash deep inside a task, far from the cause
    val df = spark.range(10).selectExpr("id", "id as views", "'some text' as content")
    val e = intercept[IllegalArgumentException] {
      IndexBuilder.build(df, IndexConfig(Seq("id"), Seq("views"), 256, 2))
    }
    assert(e.getMessage.contains("views"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      IndexBuilder.build(df, IndexConfig(Seq("id"), Seq("nosuch"), 256, 2))
    }
    assert(e2.getMessage.contains("nosuch"), e2.getMessage)
  }
}
