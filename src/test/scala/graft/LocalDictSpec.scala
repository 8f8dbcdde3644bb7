package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.index.{BuiltIndex, IndexBuilder, IndexConfig, IndexStore, TermDf}
import graft.query._
import graft.query.LocalTermDict.DictAsk

/** Every dictionary lookup runs LocalTermDict over a sequence of pieces
  * whose answers the driver merges: the one driver snapshot under the
  * cap, one piece per partial-df partition above it. The merge must be
  * exact for any split, so every clause kind is compiled through BOTH
  * (the snapshot, and the N pieces forced by a snapshot cap of 0, the
  * "distributed" engine) and compared structurally — including the
  * UTF8-binary term order Spark sorts StringType by, which differs from
  * Java String order for supplementary codepoints. The capped
  * primitives are additionally pinned against Spark-computed references
  * with a tiny cap, so the tie-break order is exercised, not just the
  * uncapped set.
  */
class LocalDictSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // unicode-bearing corpus through the whitespace tokenizer (keeps
  // case + non-ASCII): BMP accents, a >= U+E000 private-use char and an
  // astral emoji — the exact shapes where Java order != UTF8 order
  lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "héllo héllq hallo hello merge serach"),
      (2L, "hllo h😀llo héllo zäta merge"),
      (3L, "hello hallo hullo hillo mergQ mergZ"),
      (4L, "pref prefa prefb prefc prefd préfa prfa pr😀fa"),
      (5L, "hello merge typo tzpo tipo"))
      .toDF("id", "content")
  }
  private def buildIndex(df: org.apache.spark.sql.DataFrame) = IndexBuilder.build(df,
    IndexConfig(Seq("id"), Seq("content"), shardDocs = 4, buildPartitions = 4,
      tokenizers = Map("content" -> "whitespace")))
  lazy val index = buildIndex(docs)

  lazy val engineLocal: QueryEngine = {
    val e = new QueryEngine(index)
    assert(e.localDictActive, "snapshot should fit under the default cap")
    e
  }
  /** The same index asked as one piece per partial-df partition: a
    * snapshot cap of 0 takes no snapshot. */
  lazy val engineDist: QueryEngine = {
    val e = new QueryEngine(index, 0)
    assert(!e.localDictActive, "cap 0 must disable the snapshot")
    val held = index.termDfs.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(held.count(_ > 0) > 1, s"test premise: several pieces hold terms, ${held.toSeq}")
    e
  }

  private def bothCompile(clauses: Seq[SearchClause]): Unit = {
    val a = engineLocal.compile(clauses)
    val b = engineDist.compile(clauses)
    assert(a.terms == b.terms, s"terms diverged for $clauses")
    assert(a.groups == b.groups)
  }

  test("exact df lookup: local == distributed (incl. missing terms)") {
    bothCompile(Seq(Fts("content", "hello merge absentterm")))
  }

  test("prefix expansion: local == distributed, unicode prefixes included") {
    bothCompile(Seq(Fts("content", "pref* hé*")))
    bothCompile(Seq(Fts("content", "pr* h*"))) // several prefixes in one clause
  }

  test("fuzzy expansion: local == distributed at d=1 and d=2, unicode tokens") {
    bothCompile(Seq(FuzzyC("content", "hellp")))
    bothCompile(Seq(FuzzyC("content", "héllo zata", maxDist = 1)))
    bothCompile(Seq(LevC("content", "merg")))
  }

  test("fuzzy expansion: d=3 takes the same length-banded set on both paths") {
    bothCompile(Seq(FuzzyC("content", "hillo", maxDist = 3,
      multipliers = Seq(1.0, 0.9, 0.8, 0.7))))
  }

  test("a distance-3 typo reaches its dictionary term on both paths") {
    val idx = IndexBuilder.build(spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet"),
      IndexConfig(Seq("doc_id"), Seq("text"), shardDocs = 1024, buildPartitions = 4))
    val local = new QueryEngine(idx)
    val pieces = new QueryEngine(idx, 0)
    try {
      val q = Seq(FuzzyC("text", "mergeabc", maxDist = 3))
      assert(local.compile(q).terms.map(_.term).contains("merge"))
      assert(pieces.compile(q).terms === local.compile(q).terms)
      assert(pieces.searchF32(q, 10).count() > 0)
    } finally pieces.release()
  }

  test("regex expansion: local == distributed, with and without literal prefix") {
    bothCompile(Seq(RegexC("content", "merg.")))
    bothCompile(Seq(RegexC("content", ".*llo")))
    bothCompile(Seq(RegexC("content", "h(é|a)llo")))
  }

  test("fast-fuzzy correction: local == distributed") {
    bothCompile(Seq(FastFuzzy("content", "serach tzpo")))
    bothCompile(Seq(FastFuzzy("content", "qqqqqq"))) // no candidate anywhere
    assert(engineDist.correct("content", "serach") === engineLocal.correct("content", "serach"))
    assert(engineDist.correct("content", "qqqqqq") === "qqqqqq")
  }

  test("search results identical through both engines") {
    val qs = Seq(
      Seq(Fts("content", "hello merge")),
      Seq(FuzzyC("content", "hellp"), Fts("content", "merge")): Seq[SearchClause],
      Seq(FastFuzzy("content", "serach")))
    qs.foreach { q =>
      val a = engineLocal.searchF32(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1)))
      val b = engineDist.searchF32(q, 10).collect().map(r => (r.getLong(0), r.getFloat(1)))
      assert(a.toSeq == b.toSeq, s"results diverged for $q")
    }
  }

  test("an over-cap compile of each clause kind runs 1 job, no SQL execution, no shuffle") {
    val idx = buildIndex(docs)
    val e = new QueryEngine(idx, 0)
    try {
      val kinds: Seq[Seq[SearchClause]] = Seq(
        Seq(Fts("content", "hello merge")),
        Seq(Fts("content", "pr* h*")),
        Seq(FuzzyC("content", "hellp")),
        Seq(LevC("content", "merg")),
        Seq(RegexC("content", "merg.")),
        Seq(FastFuzzy("content", "serach tzpo")),
        // every kind in one compile still asks the pieces once
        Seq(Fts("content", "hé* zäta"), FuzzyC("content", "hillo", maxDist = 3,
          multipliers = Seq(1.0, 0.9, 0.8, 0.7)), RegexC("content", ".*llo"),
          FastFuzzy("content", "tipo")))
      kinds.foreach { q =>
        val (cq, n) = SparkEvents.of(spark)(e.compile(q))
        assert(n.jobs === 1 && n.sqlExecutions === 0 && n.shuffleMapStages === 0, s"$q: $n")
        assert(cq === engineLocal.compile(q), q)
      }
      // more-like-this reads its seed doc first: that fetch, then the pieces
      val mlt = Seq(MoreLikeThis("content", 0L, topTerms = 4))
      val (cq, n) = SparkEvents.of(spark)(e.compile(mlt))
      assert(n.jobs === 2 && n.sqlExecutions === 0 && n.shuffleMapStages === 0, n)
      assert(cq.terms.nonEmpty && cq === engineLocal.compile(mlt))
    } finally e.release()
  }

  test("1 piece == N pieces: the merge is exact past the expansion cap, for any split") {
    val cap = SearchDefaults.MaxExpansions
    val rnd = new scala.util.Random(15)
    // more prefix / regex / fuzzy matches than the cap, some astral
    val terms = (0 until 3 * cap).map(i => if (i % 7 == 0) f"p😀$i%05d" else f"p$i%05d") ++
      Seq("pé", "p", "serach", "search", "sea")
    // each term's partial dfs in 1-3 of 4 pieces; the whole holds their sum
    val split = Array.fill(4)(Seq.newBuilder[TermDf])
    val whole = terms.map { t =>
      val holders = rnd.shuffle((0 until 4).toList).take(1 + rnd.nextInt(3))
      TermDf("f", t, holders.map { p =>
        val df = 1L + rnd.nextInt(20)
        split(p) += TermDf("f", t, df)
        df
      }.sum)
    }
    val ask = DictAsk(
      exact = Seq(("f", "p00003"), ("f", "absent"), ("g", "p00003")),
      prefix = Seq(("f", "p"), ("f", "p0"), ("f", "p😀"), ("f", "zz")),
      fuzzy = Seq(("f", 2, "p00100"), ("f", 3, "p00100"), ("f", 1, "pe")),
      correct = Seq(("f", "serach"), ("f", "saerch"), ("f", "qqqqqq")),
      regex = Seq(("f", "p0.*"), ("f", ".*9"), ("f", "p(😀|0).*")))
    val one = LocalTermDict.merge(ask, Seq(LocalTermDict.fromRows(whole).answer(ask)))
    val many = LocalTermDict.merge(ask, split.map(b => LocalTermDict.fromRows(b.result()).answer(ask)).toSeq)
    assert(one === many)
    assert(one.prefix(("f", "p")).length === cap, "test premise: the prefix is capped")
    assert(one.regex(("f", "p0.*")).length === cap, "test premise: the regex is capped")
    assert(one.dfs.get(("f", "p00003")) === whole.find(_.term == "p00003").map(_.df))
    assert(one.corrections(("f", "qqqqqq")) === None)
  }

  test("more-like-this reads its seed doc in one job with no SQL execution on a store") {
    val store = IndexStore.load(spark, StoreFixture.dir, cacheDocs = false)
    try {
      assert(store.docRanges.nonEmpty, "test premise: the store keeps its range table")
      val e = new QueryEngine(store)
      assert(e.localDictActive)
      val docId = store.docs.select("docId").head().getLong(0)
      val q = Seq(MoreLikeThis("content", docId, topTerms = 8))
      val (cq, n) = SparkEvents.of(spark)(e.compile(q))
      assert(n.jobs === 1 && n.sqlExecutions === 0, n)
      // the reference: the seed's top tf-idf terms over the summed dfs
      val text = store.docs.filter(col("docId") === docId).select("content").head().getString(0)
      val dfs = aggregated(store).collect { case ("content", t, df) => t -> df }.toMap
      val want = graft.analyze.Tokenizers.tokenCounts(store.config.tokenizerOf("content"), text)._1
        .toSeq.flatMap { case (t, tf) => dfs.get(t).map(df => (tf * Bm25.idfF64(df, store.numDocs), t)) }
        .sortBy { case (s, t) => (-s, t) }.take(8).map(_._2)
      assert(want.nonEmpty)
      assert(cq.terms.map(_.term) === want)
    } finally store.unpersist()
  }

  // ---- the snapshot's input: per-partition partial dfs ----

  /** The term dictionary, summed by Spark from the partial dfs. */
  private def aggregated(idx: BuiltIndex): Set[(String, String, Long)] = {
    import spark.implicits._
    spark.createDataset(idx.termDfs).groupBy("field", "term").agg(sum("df"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
  }

  private def snapshot(e: QueryEngine): Set[(String, String, Long)] =
    e.localDict.getOrElse(fail("the snapshot should fit")).entries.toSet

  test("the partial-df snapshot equals the aggregated dictionary: build and store") {
    assert(snapshot(engineLocal) === aggregated(index))
    val store = graft.index.IndexStore.load(spark, StoreFixture.dir, cacheDocs = false)
    try {
      val e = new QueryEngine(store)
      val (snap, built) = SparkEvents.of(spark)(snapshot(e))
      assert(built.jobs === 1 && built.shuffleMapStages === 0 && built.sqlExecutions === 0, built)
      assert(snap === aggregated(store))
      // the row count the snapshot is gated on, read from the files' footers
      assert(store.termDfRows === store.termDfs.count())
      // a term whose partial dfs sit in several termstats files is summed once
      val parts = spark.read.parquet(s"${StoreFixture.dir}/seg-*/termstats.parquet")
        .filter(col("field") === "content" && col("term") === "binary")
        .collect().map(_.getLong(2))
      assert(parts.length > 1, "test premise: 'binary' is split across pairs")
      assert(snap.collect { case ("content", "binary", df) => df } === Set(parts.sum))
    } finally store.unpersist()
  }

  test("the snapshot is None past the cap: cap = distinct - 1 None, cap = distinct Some") {
    val distinct = aggregated(index).size
    // engines over the shared index build no pieces: nothing to release
    assert(new QueryEngine(index, distinct - 1).localDict.isEmpty)
    assert(new QueryEngine(index, distinct).localDict.map(_.entries.toSet) === Some(aggregated(index)))
  }

  test("the snapshot job runs only when the partial dfs are few: partitions under the cap, their sum over it") {
    // 8 partitions of one doc each, 10 terms of its own per doc
    val rows = (0 until 8).map(i => (i.toLong, (0 until 10).map(j => s"t${i}w$j").mkString(" ")))
    val idx = IndexBuilder.build(spark.createDataFrame(rows).toDF("id", "content"),
      IndexConfig(Seq("id"), Seq("content"), shardDocs = 1, buildPartitions = 8,
        tokenizers = Map("content" -> "whitespace")))
    try {
      val perPartition = idx.termDfs.mapPartitions(it => Iterator.single(it.size)).collect()
      assert(perPartition.length === 8 && perPartition.forall(_ === 10), "test premise: 10 terms a partition")
      assert(idx.termDfRows === 80L && idx.termDfs.count() === 80L)
      // each partition is under the cap, but the 80 rows pass 4 x 15: no row is read
      val (none, skipped) = SparkEvents.of(spark)(new QueryEngine(idx, 15).localDict)
      assert(none.isEmpty && skipped.jobs === 0, skipped)
      // within 4 x 25 the job runs, every task answers, and the sum passes the cap
      val (alsoNone, ran) = SparkEvents.of(spark)(new QueryEngine(idx, 25).localDict)
      assert(alsoNone.isEmpty && ran.jobs === 1, ran)
      assert(new QueryEngine(idx, 80).localDict.map(_.entries.toSet) === Some(aggregated(idx)))
    } finally idx.unpersist()
  }

  // ---- capped-primitive order pins (tiny cap, Spark-computed refs) ----

  lazy val unicodeRows: Seq[(String, String, Long)] = Seq(
    ("f", "pref", 5L), ("f", "prefa", 4L), ("f", "préfa", 3L),
    ("f", "prfa", 2L), ("f", "pr😀fa", 1L),
    ("f", "prefb", 7L), ("f", "zz", 1L))
  lazy val dict = LocalTermDict.fromRows(unicodeRows.map(TermDf.tupled))
  lazy val refDf = {
    import spark.implicits._
    unicodeRows.toDF("field", "term", "df")
  }

  test("prefixCapped: UTF8-binary order and cap match Spark's TakeOrdered") {
    for (cap <- Seq(2, 3, 10)) {
      val local = dict.prefixCapped("f", "pr", cap)
      val ref = refDf.filter(col("term").startsWith("pr"))
        .orderBy(col("term")).limit(cap)
        .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
      assert(local == ref, s"cap=$cap")
    }
  }

  test("fuzzyCapped: (dist, UTF8 term) cap matches Spark's window order") {
    val tok = "prefa"
    for (cap <- Seq(1, 2, 3, 10)) {
      val local = dict.fuzzyCapped("f", tok, 2, cap)
      // builtin levenshtein, first `cap` by (dist, term), then the
      // (dist, Java term) re-sort
      val ref = refDf
        .withColumn("dist", levenshtein(col("term"), lit(tok)))
        .filter(col("dist") <= 2)
        .orderBy(col("dist"), col("term")).limit(cap)
        .collect().map(r => (r.getString(1), r.getLong(2), r.getInt(3)))
        .toSeq.sortBy(t => (t._3, t._1))
      assert(local == ref, s"cap=$cap")
    }
  }

  test("regexCapped: order and cap match Spark's rlike + TakeOrdered") {
    for (cap <- Seq(1, 2, 10)) {
      val local = dict.regexCapped("f", "pr.*", cap)
      val ref = refDf.filter(col("term").rlike("^(?:pr.*)$"))
        .orderBy(col("term")).limit(cap)
        .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
      assert(local == ref, s"cap=$cap")
    }
  }
}
