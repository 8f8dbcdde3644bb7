package graft.index

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEvents, StoreFixture, TestSpark}
import graft.corpus.CodeCorpus
import graft.query.{Fts, QueryEngine, SearchDefaults}
import graft.sql.LnxSession
import graft.sql.LnxSql.SLit

/** A loaded store keeps its segments' partitioning: search partition p
  * is file pair p, so shard table p holds the postings of exactly the
  * docs of docs partition p, whoever wrote the pair (create, append, a
  * partial or a full compaction). On that layout a capped SQL read of an
  * attached store scores and fetches in one Spark job, and the first
  * read builds the shard tables in that job, with no shuffle.
  */
class StoreReadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val keys = Seq("repo", "path", "commit")

  /** The pairing of a load of `dir`: every posting's docId lies in the
    * docs partition of its own table's index, and each docs partition is
    * docId-ascending inside its window. Returns the live docIds. */
  private def checkPairing(dir: String, what: String): Set[Long] = {
    val idx = IndexStore.load(spark, dir, cacheDocs = false)
    try {
      val ranges = idx.docRanges.getOrElse(fail(s"$what: no range table"))
      val docs = idx.docColumns(Nil)._2
        .mapPartitionsWithIndex((p, it) => Iterator.single(p -> it.map(_.getLong(0)).toArray))
        .collect().toMap
      val postings = idx.shards.rdd.mapPartitionsWithIndex { (p, it) =>
        Iterator.single(p -> it.flatMap(_.iterator).flatMap { row =>
          PostingCodec.decodeAll(row.bytes, row.blockOffset, row.blockLast).docIds
        }.toArray)
      }.collect().toMap
      assert(docs.size === ranges.length && postings.size === ranges.length, what)
      ranges.indices.foreach { p =>
        val ids = docs(p)
        assert(ids.sliding(2).forall(w => w.length < 2 || w(0) < w(1)),
          s"$what: docs partition $p is not docId-ascending")
        assert(ids.forall(ranges(p).contains), s"$what: docs partition $p leaves ${ranges(p)}")
        val held = ids.toSet
        assert(postings(p).forall(held), s"$what: a posting of table $p is not in docs partition $p")
      }
      val live = docs.values.flatten.toSeq
      assert(live.distinct.size === live.size, s"$what: a live doc is served twice")
      assert(postings.values.flatten.toSet.subsetOf(live.toSet), what)
      live.toSet
    } finally idx.unpersist()
  }

  test("file pair p holds table p's docs: create, appends, partial and full compact") {
    for (strategy <- Seq(DocIdStrategy.KeyRange, DocIdStrategy.Scan)) {
      val config = IndexConfig(keys, Seq("content"), shardDocs = 64, buildPartitions = 3,
        docIdStrategy = strategy)
      def upserts(from: Long, until: Long, n: Int): DataFrame =
        CodeCorpus.generateRange(spark, from, until, 2)
          .withColumn("content", concat(col("content"), lit(s" upsertmarker$n")))
      val dir = java.nio.file.Files.createTempDirectory("graftstoreread").toString
      IndexStore.create(CodeCorpus.generate(spark, 300, 3), config, dir, "snap-0").unpersist()
      checkPairing(dir, s"$strategy create")
      // ids 300..359 straddle the shard boundary at 320; then a large and
      // a small epoch, so the two smallest segments are not adjacent
      val epochs = Seq(
        upserts(0, 20, 1).unionByName(CodeCorpus.generateRange(spark, 300, 340, 2)),
        upserts(10, 30, 2).unionByName(CodeCorpus.generateRange(spark, 340, 440, 2)),
        upserts(40, 50, 3).unionByName(CodeCorpus.generateRange(spark, 440, 460, 2)))
      epochs.zipWithIndex.foreach { case (df, i) =>
        assert(IndexStore.appendEpoch(df, dir, s"snap-${i + 1}"))
        checkPairing(dir, s"$strategy append ${i + 1}")
      }
      val live = checkPairing(dir, s"$strategy appended")
      IndexStore.compact(spark, dir, maxSegments = 2)
      val m = IndexStore.readManifestFile(dir, IndexStore.currentVersion(dir))
      val merged = m.epochs.maxBy(_.epoch)
      val other = m.epochs.filter(e => e.path != merged.path && e.path != "seg-00000").head
      assert(merged.docIdBase < other.docIdBase && other.docIdEnd < merged.docIdEnd,
        s"test premise: the merged window [${merged.docIdBase}, ${merged.docIdEnd}) overlaps " +
          s"${other.path}'s")
      assert(checkPairing(dir, s"$strategy partial compact") === live)
      IndexStore.compact(spark, dir)
      assert(IndexStore.readManifestFile(dir, IndexStore.currentVersion(dir)).segments.size === 1)
      assert(checkPairing(dir, s"$strategy full compact") === live)
    }
  }

  test("lookupDocs on a store equals a docs filter, across overlapping windows") {
    val config = IndexConfig(keys, Seq("content"), shardDocs = 64, buildPartitions = 3)
    val dir = java.nio.file.Files.createTempDirectory("graftstorelookup").toString
    IndexStore.create(CodeCorpus.generate(spark, 200, 3), config, dir, "snap-0").unpersist()
    Seq(200L -> 220L, 220L -> 320L, 320L -> 330L).zipWithIndex.foreach { case ((a, b), i) =>
      assert(IndexStore.appendEpoch(CodeCorpus.generateRange(spark, a, b, 2), dir, s"snap-${i + 1}"))
    }
    // merges [200, 220) and [320, 330) around the unmerged [220, 320)
    IndexStore.compact(spark, dir, maxSegments = 2)
    val idx = IndexStore.load(spark, dir, cacheDocs = false)
    try {
      val ranges = idx.docRanges.get
      assert(ranges.exists(_.contains(250L)) && ranges.count(_.contains(250L)) > 1,
        s"test premise: overlapping windows $ranges")
      val e = new QueryEngine(idx)
      val ids = Seq(0L, 63L, 64L, 199L, 200L, 219L, 220L, 250L, 250L, 319L, 320L, 329L, 330L, 5000L)
      def rows(df: DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1).toSeq
      val got = rows(e.lookupDocs(ids, Seq("path", "repo")))
      assert(got === rows(idx.docs.filter(col("docId").isin(ids: _*)).select("docId", "path", "repo")))
      assert(got.map(_._1) === ids.filter(_ < 330L).distinct)
    } finally idx.unpersist()
  }

  // ------------------------------------------------- attached-store SQL

  private val serveSql =
    "SELECT path, score() AS s FROM files WHERE fts(content, $1) ORDER BY s DESC LIMIT 10"
  private val params = Seq(SLit("binary search"))

  private def attached(): LnxSession = {
    val sess = new LnxSession(spark)
    sess.attach("files", StoreFixture.dir)
    sess
  }

  /** A statement's rows, and the events of running it: the statement
    * scores and fetches eagerly, and its rows are a local frame whose
    * collect runs no job. */
  private def statement(sess: LnxSession, sql: String): (Array[Row], SparkEvents.Counts) = {
    val (df, c) = SparkEvents.of(spark)(sess.execute(sql, params))
    val (rows, collected) = SparkEvents.of(spark)(df.collect())
    assert(collected.jobs === 0, collected)
    (rows, c)
  }

  test("a warmed capped statement on an attached store runs 1 job and no SQL execution") {
    val sess = attached()
    try {
      statement(sess, serveSql)
      val (rows, c) = statement(sess, serveSql)
      assert(rows.length === 10)
      assert(c.jobs === 1, c)
      assert(c.sqlExecutions === 0, c)
      assert(c.jobTasks === Seq(sess.table("files").engine.get.index.docRanges.get.length), c)
    } finally sess.table("files").engine.foreach(_.release())
  }

  test("the first statement after attach builds the tables in its one job, with no shuffle") {
    val sess = attached()
    try {
      val e = sess.table("files").engine.get
      // the dictionary probe of the cold engine (query.compile) is its own cost
      e.compile(Seq(Fts("content", "binary search")))
      val (rows, c) = statement(sess, serveSql)
      assert(rows.length === 10)
      assert(c.jobs === 1, c)
      assert(c.shuffleMapStages === 0 && c.shuffleBytes === 0L, c)
    } finally sess.table("files").engine.foreach(_.release())
  }

  test("attach plus the first capped statement: <= 3 jobs, no SQL execution") {
    val sess = new LnxSession(spark)
    try {
      // tombstone collect (load), dictionary snapshot, scoring + fetch
      val (df, c) = SparkEvents.of(spark) {
        sess.attach("files", StoreFixture.dir)
        sess.execute(serveSql, params)
      }
      assert(c.jobs <= 3, c)
      assert(c.sqlExecutions === 0, c)
      val (rows, collected) = SparkEvents.of(spark)(df.collect())
      assert(collected.jobs === 0, collected)
      val ref = sess.execute(serveSql.replace("LIMIT 10",
        s"LIMIT ${SearchDefaults.MaxLookupIds + 1}"), params)
      assert(rows.toSeq === ref.collect().take(10).toSeq)
    } finally sess.table("files").engine.foreach(_.release())
  }

  test("a store with no tombstones loads with no job") {
    val config = IndexConfig(keys, Seq("content"), shardDocs = 64, buildPartitions = 3)
    val dir = java.nio.file.Files.createTempDirectory("graftstorenotomb").toString
    IndexStore.create(CodeCorpus.generate(spark, 200, 3), config, dir, "snap-0").unpersist()
    assert(IndexStore.appendEpoch(CodeCorpus.generateRange(spark, 200, 260, 2), dir, "snap-1"))
    val (idx, c) = SparkEvents.of(spark)(IndexStore.load(spark, dir, cacheDocs = false))
    try {
      assert(c.jobs === 0 && c.sqlExecutions === 0, c)
      assert(new QueryEngine(idx).searchF32(Seq(Fts("content", "binary search")), 5)
        .collect().length === 5)
    } finally idx.unpersist()
  }

  test("a pair with no postings file reads as one empty partition") {
    import spark.implicits._
    // docs 4..7 hold no term: partition 1 writes a docs file and no
    // postings file (an empty partition 0 would still write an empty one)
    val df = (0 until 8).map(i => (i.toLong, if (i < 4) s"needle word$i" else "")).toDF("id", "content")
    val config = IndexConfig(Seq("id"), Seq("content"), shardDocs = 4, buildPartitions = 2)
    val dir = java.nio.file.Files.createTempDirectory("graftstorenopostings").toString
    IndexStore.create(df, config, dir, "snap-0").unpersist()
    val pairs = IndexStore.readManifestFile(dir, IndexStore.currentVersion(dir)).segments.head.pairs
    assert(pairs.map(_.postings.isDefined) === Seq(true, false), s"test premise: $pairs")
    val idx = IndexStore.load(spark, dir, cacheDocs = false)
    try {
      val sizes = idx.shards.rdd.map(_.iterator.size).collect().toSeq
      assert(sizes.length === 2 && sizes.head > 0 && sizes(1) === 0, sizes)
      val e = new QueryEngine(idx)
      val hits = e.searchWithDocs(Seq(Fts("content", "needle")), 10, Seq("id")).collect()
      assert(hits.map(_.getLong(1)).sorted.toSeq === (0L until 4L))
      assert(e.lookupDocs(Seq(1L, 5L), Seq("content")).collect().map(_.getLong(0)).sorted.toSeq ===
        Seq(1L, 5L))
    } finally idx.unpersist()
  }

  test("a pinned load whose pair file is gone fails naming the file") {
    val config = IndexConfig(keys, Seq("content"), shardDocs = 64, buildPartitions = 3)
    val dir = java.nio.file.Files.createTempDirectory("graftstoregone").toString
    IndexStore.create(CodeCorpus.generate(spark, 200, 3), config, dir, "snap-0").unpersist()
    assert(IndexStore.appendEpoch(CodeCorpus.generateRange(spark, 200, 260, 2), dir, "snap-1"))
    IndexStore.compact(spark, dir)
    // a file version 2 lists and version 3 no longer does, removed as gc
    // removes what a retention window no longer covers
    val v2 = IndexStore.readManifestFile(dir, 2)
    val gone = s"$dir/${v2.segments.head.path}/${v2.segments.head.pairs.head.docs}"
    java.nio.file.Files.delete(java.nio.file.Paths.get(gone))
    val err = intercept[IllegalStateException](IndexStore.load(spark, dir, cacheDocs = false,
      atVersion = 2))
    assert(err.getMessage.contains(gone), err.getMessage)
    IndexStore.load(spark, dir, cacheDocs = false).unpersist()
  }

  test("an attached store's capped rows equal the docs-join path's") {
    val sess = attached()
    try {
      val refLimit = SearchDefaults.MaxLookupIds + 1
      for (q <- Seq("binary search", "fn license", "freshterm", "needle")) {
        val ps = Seq(SLit(q))
        val fast = sess.execute(serveSql, ps)
        assert(fast.queryExecution.analyzed.collectLeaves().forall(
          _.isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]), q)
        val ref = sess.execute(serveSql.replace("LIMIT 10", s"LIMIT $refLimit"), ps)
        assert(fast.collect().toSeq === ref.collect().take(10).toSeq, q)
      }
    } finally sess.table("files").engine.foreach(_.release())
  }
}
