package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{Join, LocalRelation}
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CodeCorpus
import graft.index.{BuiltIndex, DocIdStrategy, IndexBuilder, IndexConfig}
import graft.query.{Fts, QueryEngine, SearchDefaults}
import graft.sql.LnxSession
import graft.sql.LnxSql.SLit

/** A capped SQL search (no column predicate, score order, no threshold,
  * LIMIT <= MaxLookupIds) on an in-memory index runs as one job while
  * docs partitions x LIMIT <= MaxLookupIds — each task scores its shards
  * and fetches its local top-k from its own docs partition — and above
  * that as two (the top-k, then the stored fields of only the docs
  * partitions holding a hit). Either way it returns exactly the rows of
  * the docs-join path, which any LIMIT above MaxLookupIds still takes.
  */
class SqlFetchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val words = Seq("alpha", "beta", "gamma", "delta", "omega", "search", "binary", "tree")

  /** 240 generated titles over 8 words (many equal scores), 6 identical
    * `tiephrase` titles, an ip column (IPv4, IPv6, null) and no
    * `rating` column. */
  private def docsSession(): LnxSession = {
    val sess = new LnxSession(spark)
    sess.execute("CREATE TABLE docs (id bigint PRIMARY KEY, title text, addr ip, n bigint)")
    val gen = (1 to 240).map { i =>
      val title = Seq(i % 8, (i * 3) % 8, (i * 5 + 1) % 8, (i / 7) % 8).map(words).mkString(" ")
      val addr = i % 3 match {
        case 0 => s"'10.0.${i % 256}.${i % 7}'"
        case 1 => s"'2001:db8::${i.toHexString}'"
        case _ => "NULL"
      }
      s"($i, '$title', $addr, ${i * 11})"
    }
    val ties = (300 to 305).map(i => s"($i, 'unique tiephrase', '192.168.0.${i - 299}', $i)")
    sess.execute(s"INSERT INTO docs (id, title, addr, n) VALUES ${(gen ++ ties).mkString(", ")}")
    sess
  }

  private lazy val docs = docsSession()

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case j: Join => j }.isEmpty &&
      df.queryExecution.analyzed.collectLeaves().forall(_.isInstanceOf[LocalRelation])

  private def hasJoin(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst { case j: Join => j }.nonEmpty

  /** `sql` (no LIMIT clause) at `k` (None = the default limit) on the
    * fetch path, against the first rows of the same statement at a
    * LIMIT above the fetch bound (the docs-join path). */
  private def sameAsJoin(sql: String, k: Option[Int]): Array[org.apache.spark.sql.Row] = {
    val refLimit = 20000
    assert(refLimit > SearchDefaults.MaxLookupIds)
    val fast = docs.execute(sql + k.fold("")(n => s" LIMIT $n"))
    val ref = docs.execute(s"$sql LIMIT $refLimit")
    assert(isLocal(fast), s"expected the fetch path for: $sql")
    assert(hasJoin(ref), s"expected the docs join for: $sql LIMIT $refLimit")
    assert(fast.schema.map(f => f.name -> f.dataType) === ref.schema.map(f => f.name -> f.dataType))
    val got = fast.collect()
    val want = ref.collect().take(k.getOrElse(SearchDefaults.DefaultLimit))
    assert(got.toSeq === want.toSeq, sql)
    got
  }

  test("fetch path rows equal the docs-join rows: *, named columns, aliases, ORDER BY, default limit") {
    assert(sameAsJoin("SELECT * FROM docs WHERE fts(title, 'alpha')", Some(7)).length === 7)
    assert(sameAsJoin("SELECT id, title, score() FROM docs WHERE fts(title, 'beta gamma') " +
      "ORDER BY score() DESC", Some(10)).length === 10)
    assert(sameAsJoin("SELECT title AS tt, id AS ident, score() AS s FROM docs " +
      "WHERE fuzzy(title, 'gamna') ORDER BY s DESC", Some(5)).length === 5)
    assert(sameAsJoin("SELECT id, score() AS s FROM docs WHERE fts(title, 'delta') " +
      "AND fts(title, 'omega') ORDER BY s DESC", Some(12)).length === 12)
    // no ORDER BY: score order, default LIMIT 1000 (> the match count)
    val all = sameAsJoin("SELECT id, title FROM docs WHERE fts(title, 'omega')", None)
    assert(all.nonEmpty && all.length < SearchDefaults.DefaultLimit)
  }

  test("fetch path rows equal the docs-join rows: sparse null column, ip display, LIMIT 0, no match, large LIMIT") {
    val sparse = sameAsJoin("SELECT id, rating, score() AS s FROM docs WHERE fts(title, 'tree') " +
      "ORDER BY s DESC", Some(4))
    assert(sparse.length === 4 && sparse.forall(_.isNullAt(1)))
    val ips = sameAsJoin("SELECT id, addr FROM docs WHERE fts(title, 'search') ORDER BY score() DESC",
      Some(30))
    assert(ips.exists(r => !r.isNullAt(1) && r.getString(1).startsWith("10.0.")))
    assert(ips.exists(r => !r.isNullAt(1) && r.getString(1).startsWith("2001:db8:")))
    assert(ips.exists(_.isNullAt(1)))
    assert(sameAsJoin("SELECT id FROM docs WHERE fts(title, 'alpha')", Some(0)).isEmpty)
    assert(sameAsJoin("SELECT id, title FROM docs WHERE fts(title, 'zzzqqq')", Some(10)).isEmpty)
    assert(sameAsJoin("SELECT id, score() AS s FROM docs WHERE fts(title, 'tiephrase') ORDER BY s DESC",
      Some(500)).map(_.getLong(0)).toSeq === (300L to 305L))
  }

  test("a tie group cut at the k boundary keeps the smallest docIds") {
    val rows = sameAsJoin("SELECT id, score() AS s FROM docs WHERE fts(title, 'tiephrase') " +
      "ORDER BY s DESC", Some(3))
    assert(rows.map(_.getLong(0)).toSeq === Seq(300L, 301L, 302L))
    assert(rows.map(_.getFloat(1)).distinct.length === 1, "test premise: the group is tied")
  }

  test("a hit whose stored fields are missing fails loudly, naming its docId") {
    val sess = docsSession()
    val t = sess.table("docs")
    sess.execute("SELECT id FROM docs WHERE fts(title, 'alpha') LIMIT 5").collect()
    val idx = t.engine.get.index
    val victim = t.engine.get.searchF32(Seq(Fts("title", "alpha")), 5).collect()(2).getLong(0)
    // the same index with one doc's stored fields gone (the ranges still hold)
    val holed = new BuiltIndex(idx.docs.filter(col("docId") =!= victim), idx.shards,
      idx.termDfRows, idx.numDocs, idx.fieldTokens, idx.config, idx.docRanges)
    t.engine = Some(new QueryEngine(holed))
    val e = intercept[IllegalStateException](
      sess.execute("SELECT id FROM docs WHERE fts(title, 'alpha') LIMIT 5").collect())
    assert(e.getMessage.contains(s"docId $victim"), e.getMessage)
  }

  // ------------------------------------------------------------ job shape

  /** A code corpus of 24 grid shards whose docs cache has 16 partitions
    * (more than k), so task counts show the fetch's placement. */
  private lazy val files: LnxSession = {
    val sess = new LnxSession(spark)
    val rows = CodeCorpus.generate(spark, 3000, 4)
    sess.register("files", rows, Seq("repo", "path", "commit"), Seq("content"))
    val t = sess.table("files")
    t.engine = Some(new QueryEngine(IndexBuilder.build(rows,
      t.config.copy(buildPartitions = 16, shardDocs = 128))))
    sess
  }

  private val serveSql =
    "SELECT path, score() AS s FROM files WHERE fts(content, $1) ORDER BY s DESC LIMIT 10"
  private val serveParams = Seq(SLit("binary search"))

  private def run(sql: String, params: Seq[SLit]) =
    SparkEvents.of(spark)(files.execute(sql, params).collect())

  test("a warmed capped statement runs 1 job of one task per docs partition") {
    run(serveSql, serveParams) // warm: dictionary probe, compile, plan LRU
    val (rows, c) = run(serveSql, serveParams)
    assert(rows.length === 10)
    val e = files.table("files").engine.get
    val r = e.index.docRanges.get
    assert(r.length === 16, "test premise: 16 docs partitions")
    assert(e.fetchesInScoringJob(10), "test premise: 16 x 10 is under the gate")
    assert(c.jobs === 1, c)
    assert(c.jobTasks === Seq(r.length), c)
    assert(rows.toSeq === files.execute(serveSql.replace("LIMIT 10", "LIMIT 20000"), serveParams)
      .collect().take(10).toSeq)
  }

  test("above the partitions x k gate a capped statement runs 2 jobs and returns the same rows") {
    val sql = "SELECT path, score() AS s FROM files WHERE fts(content, $1) ORDER BY s DESC"
    val k = SearchDefaults.MaxLookupIds / 16 + 1
    val e = files.table("files").engine.get
    assert(!e.fetchesInScoringJob(k) && e.fetchesInScoringJob(k - 1), "test premise: k is just above the gate")
    run(s"$sql LIMIT $k", serveParams)
    val (rows, c) = run(s"$sql LIMIT $k", serveParams)
    val r = e.index.docRanges.get
    val hits = e.searchF32(Seq(Fts("content", "binary search")), k).collect().map(_.getLong(0))
    val holding = hits.map(id => r.indexWhere(_.contains(id))).distinct.length
    assert(c.jobs === 2, c)
    assert(c.jobTasks(1) === holding, c)
    assert(rows.length === hits.length && rows.length > 10)
    assert(rows.toSeq === files.execute(s"$sql LIMIT 20000", serveParams).collect().take(k).toSeq)
    assert(rows.take(10).toSeq === run(s"$sql LIMIT 10", serveParams)._1.toSeq)
  }

  test("a statement with no hit runs no fetch job") {
    val noHit = Seq(SLit("zzzqqqxx"))
    run(serveSql, noHit)
    val (rows, c) = run(serveSql, noHit)
    assert(rows.isEmpty)
    val e = files.table("files").engine.get
    val (_, scoring) = SparkEvents.of(spark)(e.searchF32(Seq(Fts("content", "zzzqqqxx")), 10).collect())
    assert(c.jobs === scoring.jobs, c)
    // a conjunction whose scoring job runs and finds nothing
    val conj = "SELECT path FROM files WHERE fts(content, 'binary') AND fts(content, $1) LIMIT 10"
    run(conj, noHit)
    val (rows2, c2) = run(conj, noHit)
    assert(rows2.isEmpty)
    assert(c2.jobs <= 1, c2)
  }

  test("a repeated capped statement scores and fetches again") {
    run(serveSql, serveParams)
    val (first, c1) = run(serveSql, serveParams)
    val (second, c2) = run(serveSql, serveParams)
    assert(c1.jobs === 1 && c2.jobTasks === c1.jobTasks, s"first $c1, repeat $c2")
    assert(c2.jobTasks.forall(_ > 0), c2)
    assert(second.toSeq === first.toSeq)
  }

  test("EXPLAIN of a capped statement on a warmed table starts no Spark job") {
    run(serveSql, serveParams)
    val (lines, c) = run("EXPLAIN " + serveSql, serveParams)
    assert(c.jobs === 0, c)
    val text = lines.map(_.getString(0)).mkString("\n")
    assert(text.contains("search clause: fts(content, ...)"))
    assert(text.contains("Physical Plan"))
    assert(text.contains("stored-field fetch: docId, path"), text)
    assert(text.contains("read by that partition's scoring task in the same job"), text)
    assert(text.contains("range table: 16 partitions"), text)
    // above the partitions x k gate the fetch is named as a second job
    val (above, c2) = run("EXPLAIN " + serveSql.replace("LIMIT 10", "LIMIT 1000"), serveParams)
    assert(c2.jobs === 0, c2)
    assert(above.map(_.getString(0)).mkString("\n").contains("of the top 1000 in a second job"))
  }

  test("EXPLAIN of a capped statement on a warmed attached store starts no Spark job") {
    val sess = new LnxSession(spark)
    sess.attach("files", StoreFixture.dir)
    try {
      sess.execute(serveSql, serveParams).collect() // warm: dictionary probe, shard tables
      val (lines, c) = SparkEvents.of(spark)(sess.execute("EXPLAIN " + serveSql, serveParams).collect())
      assert(c.jobs === 0, c)
      val text = lines.map(_.getString(0)).mkString("\n")
      assert(text.contains("search clause: fts(content, ...)"))
      assert(text.contains("Physical Plan"))
      // an attached store keeps its file pairs as search partitions: the
      // statement reads its stored fields in the scoring job's tasks
      val pairs = sess.table("files").engine.get.index.docRanges
        .getOrElse(fail("an attached store under the tombstone gate has a range table")).length
      assert(text.contains("stored-field fetch: docId, path"), text)
      assert(text.contains("read by that partition's scoring task in the same job"), text)
      assert(text.contains(s"range table: $pairs partitions"), text)
    } finally sess.table("files").engine.foreach(_.release())
  }

  // -------------------------------------------------------- range table

  /** Every docs partition holds exactly the ids of its range. */
  private def checkRanges(idx: BuiltIndex): Unit = {
    val ranges = idx.docRanges.getOrElse(fail("in-memory builds record docId ranges"))
    // a build's windows tile its ids: r(p) are their cut points
    assert(ranges.indices.tail.forall(p => ranges(p).from == ranges(p - 1).until))
    val r = ranges.map(_.from).toArray :+ ranges.last.until
    val ids = idx.docs.select("docId").queryExecution.toRdd
    assert(ids.getNumPartitions === r.length - 1)
    val spans = ids.mapPartitionsWithIndex { (p, it) =>
      val xs = it.map(_.getLong(0)).toArray
      Iterator.single((p, xs.length, if (xs.isEmpty) 0L else xs.min, if (xs.isEmpty) 0L else xs.max))
    }.collect()
    spans.foreach { case (p, n, lo, hi) =>
      assert(n === r(p + 1) - r(p), s"partition $p")
      if (n > 0) assert(lo >= r(p) && hi < r(p + 1), s"partition $p: [$lo, $hi] outside [${r(p)}, ${r(p + 1)})")
    }
    assert(r.last - r.head === idx.numDocs)
  }

  test("docs partition p holds exactly the docIds [r(p), r(p+1)): keyRange, scan, non-zero docIdBase") {
    val cfg = IndexConfig(Seq("repo", "path", "commit"), Seq("content"), shardDocs = 128, buildPartitions = 5)
    val src = CodeCorpus.generate(spark, 700, 3)
    Seq(
      IndexBuilder.build(src, cfg),
      IndexBuilder.build(src, cfg.copy(docIdStrategy = DocIdStrategy.Scan)),
      IndexBuilder.build(src, cfg, docIdBase = 5000L)).foreach { idx =>
      checkRanges(idx)
      idx.unpersist()
    }
  }

  test("lookupDocs over the range table returns what the IN filter returns") {
    val cfg = IndexConfig(Seq("repo", "path", "commit"), Seq("content"), shardDocs = 128, buildPartitions = 6)
    val idx = IndexBuilder.build(CodeCorpus.generate(spark, 600, 3), cfg, docIdBase = 100L)
    val noRanges = new BuiltIndex(idx.docs, idx.shards, idx.termDfRows, idx.numDocs,
      idx.fieldTokens, idx.config, docRanges = None)
    // ids from several partitions, a duplicate, and ids outside every range
    val ids = Seq(100L, 101L, 250L, 250L, 420L, 699L, 99L, 700L, 5000L)
    def rows(e: QueryEngine) = e.lookupDocs(ids, Seq("path", "repo")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
    val ranged = new QueryEngine(idx)
    val (got, c) = SparkEvents.of(spark)(rows(ranged))
    assert(got === rows(new QueryEngine(noRanges)))
    assert(got.map(_._1) === Seq(100L, 101L, 250L, 420L, 699L))
    assert(c.jobs === 1, c)
    assert(ranged.lookupDocs(Seq(5L, 10000L), Seq("path")).collect().isEmpty)
    idx.unpersist()
  }
}
