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
