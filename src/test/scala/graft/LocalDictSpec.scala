package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.index.{IndexBuilder, IndexConfig}
import graft.query._

/** The driver-side dictionary snapshot (LocalTermDict) must be
  * result-IDENTICAL to the distributed lookup jobs it replaces: same
  * admitted candidate sets, same caps, same order — including the
  * UTF8-binary term order Spark sorts StringType by, which differs from
  * Java String order for supplementary codepoints. Every clause kind is
  * compiled through BOTH paths (snapshot on / forced off via
  * graft.dict.localMaxTerms=0) and compared structurally; the capped
  * primitives are additionally pinned against Spark-computed references
  * with a tiny cap so the tie-break order is exercised, not just the
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
      (2L, "hllo h😀llo héllo zäta merge"),
      (3L, "hello hallo hullo hillo mergQ mergZ"),
      (4L, "pref prefa prefb prefc prefd préfa prfa pr😀fa"),
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
  /** The same index built on a session clone whose cap is 0: the engine
    * reads the cap from its index's session, so the shared test
    * session's conf is never written.
    */
  lazy val engineDist: QueryEngine = {
    val s = spark.newSession()
    s.conf.set("graft.dict.localMaxTerms", "0")
    val e = new QueryEngine(buildIndex(s.createDataFrame(docs.rdd, docs.schema)))
    assert(!e.localDictActive, "cap 0 must disable the snapshot")
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
    bothCompile(Seq(Fts("content", "pr* h*"))) // multi-prefix window path
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

  test("regex expansion: local == distributed, with and without literal prefix") {
    bothCompile(Seq(RegexC("content", "merg.")))
    bothCompile(Seq(RegexC("content", ".*llo")))
    bothCompile(Seq(RegexC("content", "h(é|a)llo")))
  }

  test("fast-fuzzy correction: local == distributed") {
    bothCompile(Seq(FastFuzzy("content", "serach tzpo")))
    bothCompile(Seq(FastFuzzy("content", "qqqqqq"))) // no candidate anywhere
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

  // ---- the snapshot's input: per-partition partial dfs ----

  private def aggregated(idx: graft.index.BuiltIndex): Set[(String, String, Long)] =
    idx.termStats.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet

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
    def engineAt(cap: Int): QueryEngine = {
      val s = spark.newSession()
      s.conf.set("graft.dict.localMaxTerms", cap.toString)
      new QueryEngine(buildIndex(s.createDataFrame(docs.rdd, docs.schema)))
    }
    val under = engineAt(distinct - 1)
    assert(under.localDict.isEmpty)
    val at = engineAt(distinct)
    assert(at.localDict.map(_.entries.toSet) === Some(aggregated(index)))
    Seq(under, at).foreach(_.release())
  }

  test("the snapshot job runs only when the partial dfs are few: partitions under the cap, their sum over it") {
    // 8 partitions of one doc each, 10 terms of its own per doc
    def engineAt(cap: Int): QueryEngine = {
      val s = spark.newSession()
      s.conf.set("graft.dict.localMaxTerms", cap.toString)
      val rows = (0 until 8).map(i => (i.toLong, (0 until 10).map(j => s"t${i}w$j").mkString(" ")))
      new QueryEngine(IndexBuilder.build(s.createDataFrame(rows).toDF("id", "content"),
        IndexConfig(Seq("id"), Seq("content"), shardDocs = 1, buildPartitions = 8,
          tokenizers = Map("content" -> "whitespace"))))
    }
    val over = engineAt(15)
    val perPartition = over.index.termDfs.mapPartitions(it => Iterator.single(it.size)).collect()
    assert(perPartition.length === 8 && perPartition.forall(_ === 10), "test premise: 10 terms a partition")
    assert(over.index.termDfRows === 80L && over.index.termDfs.count() === 80L)
    // each partition is under the cap, but the 80 rows pass 4 x 15: no row is read
    val (none, skipped) = SparkEvents.of(spark)(over.localDict)
    assert(none.isEmpty && skipped.jobs === 0, skipped)
    // within 4 x 25 the job runs, every task answers, and the sum passes the cap
    val summed = engineAt(25)
    val (alsoNone, ran) = SparkEvents.of(spark)(summed.localDict)
    assert(alsoNone.isEmpty && ran.jobs === 1, ran)
    val fits = engineAt(80)
    assert(fits.localDict.map(_.entries.toSet) === Some(aggregated(fits.index)))
    Seq(over, summed, fits).foreach(_.release())
  }

  // ---- capped-primitive order pins (tiny cap, Spark-computed refs) ----

  lazy val unicodeRows: Array[(String, String, Long)] = Array(
    ("f", "pref", 5L), ("f", "prefa", 4L), ("f", "préfa", 3L),
    ("f", "prfa", 2L), ("f", "pr😀fa", 1L),
    ("f", "prefb", 7L), ("f", "zz", 1L))
  lazy val dict = LocalTermDict.fromRows(unicodeRows)
  lazy val refDf = {
    import spark.implicits._
    unicodeRows.toSeq.toDF("field", "term", "df")
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
      // the in-plan shape: builtin levenshtein, window by (dist, term),
      // then the driver's (dist, Java term) re-sort
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
