package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.analyze.Analyzer
import graft.corpus.CodeCorpus
import graft.index.{Fieldnorm, IndexBuilder, IndexConfig}
import graft.query._

/** Analytic rank-identity oracle: an independent brute-force
  * implementation of the published tantivy BM25 formula (SURVEY.md
  * section 2.4) over the raw text, compared bit-exactly (f32) with the
  * engine's distributed posting-list scorer.
  */
object BruteOracle {
  final val K1 = 1.2f
  final val B = 0.75f

  /** BM25 over `docs`; only docs passing `live` score, while N, df and
    * avgdl count every doc in `docs` (a store's statistics before
    * compaction).
    */
  def ftsScores(docs: Seq[(Long, String)], terms: Seq[String],
      live: Long => Boolean = _ => true): Map[Long, Float] = {
    val tokenized = docs.map { case (id, t) => (id, Analyzer.tokenize(t)) }
    val n = docs.size.toLong
    val totalTokens = tokenized.map(_._2.length.toLong).sum
    val avgdl = totalTokens.toFloat / n.toFloat
    val dfs: Map[String, Long] =
      terms.map(t => t -> tokenized.count(_._2.contains(t)).toLong).toMap
    val res = scala.collection.mutable.HashMap.empty[Long, Float]
    tokenized.foreach { case (id, toks) =>
      val len = toks.length
      val norm = Fieldnorm.decode(Fieldnorm.encode(len.toLong)).toFloat
      val cache = K1 * (1.0f - B + B * norm / avgdl)
      var s = 0.0f
      var matched = false
      terms.sorted.foreach { t =>
        val tf = toks.count(_ == t)
        if (tf > 0 && dfs(t) > 0) {
          val x = ((n - dfs(t)).toFloat + 0.5f) / (dfs(t).toFloat + 0.5f)
          val idf = math.log((1.0f + x).toDouble).toFloat
          val w = idf * (1.0f + K1)
          s += w * tf.toFloat / (tf.toFloat + cache)
          matched = true
        }
      }
      if (matched && live(id)) res(id) = s
    }
    res.toMap
  }

  def topK(scores: Map[Long, Float], k: Int): Seq[(Long, Float)] =
    scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(k)
}

class SearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val corpus: DataFrame = CodeCorpus.generate(spark, 1200, 8).cache()
  lazy val index = IndexBuilder.build(
    corpus, IndexConfig(Seq("repo", "path", "commit"), Seq("content"), shardDocs = 256, buildPartitions = 8))
  lazy val engine = new QueryEngine(index)
  lazy val rawDocs: Seq[(Long, String)] =
    index.docs.selectExpr("docId", "content").collect().map(r => (r.getLong(0), r.getString(1))).toSeq

  private def engineTopK(query: String, k: Int): Seq[(Long, Float)] =
    engine.searchF32(Seq(Fts("content", query)), k)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq

  test("fts top-k is rank- and score-identical to the analytic oracle") {
    val qs = Seq("binary search", "fn return license", "merge segment posting list", "checkpoint epoch")
    // the exhaustive kernel is pinned to the oracle too, not only to the
    // other engine paths: the forced-exhaustive single query and ONE
    // batch (below the split floor the whole batch replays through the
    // same kernel), so an accumulation-order change there must fail here
    val batched = engine.searchManyF32(qs.zipWithIndex.map { case (q, i) => i -> Seq(Fts("content", q)) }, 10)
      .collect().map(r => (r.getInt(0), (r.getLong(1), r.getFloat(2))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq.sortBy { case (id, s) => (-s, id) }).toMap
    for ((q, i) <- qs.zipWithIndex) {
      val terms = engine.tokenizeQuery("content", q)
      val expected = BruteOracle.topK(BruteOracle.ftsScores(rawDocs, terms), 10)
      assert(engineTopK(q, 10) === expected, s"query '$q'")
      val exhaustive = engine.searchF32(Seq(Fts("content", q)), 10, useWand = false)
        .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
      assert(exhaustive === expected, s"exhaustive, query '$q'")
      assert(batched.getOrElse(i, Nil) === expected, s"batched, query '$q'")
    }
  }

  test("rare planted needle found with exact score") {
    val expected = BruteOracle.topK(BruteOracle.ftsScores(rawDocs, Seq("needle")), 5)
    assert(expected.nonEmpty)
    assert(engineTopK("needle", 5) === expected)
  }

  test("prefix fts expands over the term dictionary") {
    // 'prefab*' matches planted prefab0..prefab4
    val terms = Seq("prefab0", "prefab1", "prefab2", "prefab3", "prefab4")
    val expected = BruteOracle.topK(BruteOracle.ftsScores(rawDocs, terms), 10)
    val got = engineTopK("prefab*", 10)
    assert(got === expected)
  }

  test("conjunction of two fts clauses: intersection with summed scores") {
    val a = BruteOracle.ftsScores(rawDocs, Seq("needle"))
    val b = BruteOracle.ftsScores(rawDocs, Seq("license"))
    val expected = a.keySet.intersect(b.keySet).map { id =>
      // engine accumulates group 0 fully ordered before group 1 per doc:
      // groups sorted first => same order as a-then-b sum here
      (id, a(id) + b(id))
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(10)
    val got = engine.searchF32(Seq(Fts("content", "needle"), Fts("content", "license")), 10)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(got === expected)
  }

  test("levenshtein clause: 1.0/0.0 const score") {
    val got = engine.searchF32(Seq(LevC("content", "serach")), 2000)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    assert(got.nonEmpty)
    assert(got.forall(_._2 == 1.0f))
    // matches docs containing any term within distance 2 of 'serach'
    // ('search' and 'serach' itself among vocab)
    val expected = rawDocs.filter { case (_, t) =>
      Analyzer.tokenize(t).distinct.exists(term =>
        graft.analyze.Levenshtein.distance("serach", term, 2) <= 2)
    }.map(_._1).toSet
    assert(got.map(_._1).toSet === expected)
  }

  test("regex clause matches whole terms only") {
    val got = engine.searchF32(Seq(RegexC("content", "prefab[0-9]")), 2000)
      .collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val expected = rawDocs.filter { case (_, t) =>
      Analyzer.tokenize(t).exists(_.matches("prefab[0-9]"))
    }.map(_._1).toSet
    assert(got.map(_._1).toSet === expected)
    assert(got.forall(_._2 == 1.0f))
  }

  test("fuzzy reaches 2-char terms at distance 2 (empty-variant completeness); k=0 returns empty") {
    import spark.implicits._
    val tiny = Seq((1L, "ab corpus text"), (2L, "cd corpus text")).toDF("doc_id", "content")
    val idx = IndexBuilder.build(tiny,
      IndexConfig(Seq("doc_id"), Seq("content"), shardDocs = 64, buildPartitions = 2))
    val e = new QueryEngine(idx)
    // d("ab","cd") = 2: the SymSpell prefilter must surface BOTH docs —
    // the only shared delete variant of two 2-char tokens is the empty
    // string, which a length-1 string must emit
    val got = e.searchF32(Seq(FuzzyC("content", "ab")), 10)
      .collect().map(_.getLong(0)).toSet
    assert(got.size === 2, s"fuzzy('ab') must match both 'ab' and 'cd' docs, got $got")
    // LIMIT 0 is legal SQL: zero rows, not a WAND task crash
    assert(e.searchF32(Seq(Fts("content", "corpus")), 0).count() === 0)
    assert(e.searchF32(Seq(Fts("content", "corpus")), 0, useWand = false).count() === 0)
  }

  test("fuzzy clause weights BM25 by edit distance") {
    // 'serach' -> distance 0 to planted typo, 1..2 to 'search'
    val got = engine.searchF64(Seq(FuzzyC("content", "serach")), 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.nonEmpty)
    // independent check of the weighting: compute expected in double
    val exp = {
      val tokenized = rawDocs.map { case (id, t) => (id, Analyzer.tokenize(t)) }
      val n = rawDocs.size.toLong
      val tot = tokenized.map(_._2.length.toLong).sum
      val avg = tot.toDouble / n.toDouble
      val dict = tokenized.flatMap(_._2).distinct
      val expansions = dict.flatMap { term =>
        val d = graft.analyze.Levenshtein.distance("serach", term, 2)
        if (d <= 2) Some((term, Seq(1.0, 0.8, 0.6)(d))) else None
      }
      val dfs = expansions.map { case (t, _) => t -> tokenized.count(_._2.contains(t)).toLong }.toMap
      val scores = scala.collection.mutable.HashMap.empty[Long, Double]
      tokenized.foreach { case (id, toks) =>
        val norm = Fieldnorm.decode(Fieldnorm.encode(toks.length.toLong)).toDouble
        val cache = 1.2 * (1.0 - 0.75 + 0.75 * norm / avg)
        expansions.sortBy(_._1).foreach { case (term, mult) =>
          val tf = toks.count(_ == term)
          if (tf > 0) {
            val idf = math.log(1.0 + ((n - dfs(term)).toDouble + 0.5) / (dfs(term).toDouble + 0.5))
            scores(id) = scores.getOrElse(id, 0.0) + idf * 2.2 * mult * tf / (tf + cache)
          }
        }
      }
      // searchF64 selects under the oracle's total order: round4 desc, id asc
      scores.toSeq.sortBy { case (id, s) =>
        (-BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP), id)
      }.take(10)
    }
    got.zip(exp).foreach { case ((gid, gs), (eid, es)) =>
      assert(gid === eid)
      assert(math.abs(gs - es) < 1e-9, s"doc $gid: $gs vs $es")
    }
  }

  test("f32 rank path and f64 oracle path agree on top-k membership and order") {
    // The engine's rank contract is 4dp: searchF64 selects under the
    // oracle's total order (round(score,4) desc, docId asc), while the
    // f32 fast path breaks sub-4dp ties by raw float score. Normalize
    // both sides to the 4dp order before comparing — agreement below
    // 1e-4 is not promised (and DuckDB can't observe it either).
    def norm4(rows: Array[(Long, Double)]): Seq[Long] =
      rows.sortBy { case (id, s) =>
        (-BigDecimal(s).setScale(4, BigDecimal.RoundingMode.HALF_UP), id)
      }.map(_._1).toSeq
    for (q <- Seq("binary search", "fn return license", "needle", "prefab*")) {
      val f32 = norm4(engine.searchF32(Seq(Fts("content", q)), 10)
        .collect().map(r => (r.getLong(0), r.getFloat(1).toDouble)))
      val f64 = norm4(engine.searchF64(Seq(Fts("content", q)), 10)
        .collect().map(r => (r.getLong(0), r.getDouble(1))))
      assert(f32 === f64, s"query '$q'")
    }
  }

  test("more-like-this on a non-text column fails with a contract error, not a CCE") {
    val e = intercept[IllegalArgumentException] {
      engine.searchF32(Seq(MoreLikeThis("docId", 1L)), 5).collect()
    }
    assert(e.getMessage.contains("not a text column"), e.getMessage)
    // negative distance multipliers would invert WAND's block-max upper
    // bounds; the clause must reject them at construction
    intercept[IllegalArgumentException] {
      FuzzyC("content", "needle", multipliers = Seq(1.0, 0.8, -0.5))
    }
  }

  test("default limit is 1000") {
    val got = engine.searchF32(Seq(Fts("content", "fn")))
    assert(got.count() === 1000L)
  }
}
