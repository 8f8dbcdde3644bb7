package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.CodeCorpus

/** An in-memory build's docs partitions hold whole grid shards, and its
  * shard table p holds exactly the posting rows of docs partition p:
  * the layout a capped search relies on to score and fetch its hits in
  * one task per partition (QueryEngine.searchWithDocs).
  */
class ShardLayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val keys = Seq("repo", "path", "commit")

  /** Checks the layout of `idx`; returns its partition count. */
  private def checkLayout(idx: BuiltIndex, what: String): Int = {
    val sd = idx.config.shardDocs
    val ranges = idx.docRanges.getOrElse(fail(s"$what: in-memory builds record docId ranges"))
    // a build's windows tile its ids: r(p) are their cut points
    assert(ranges.indices.tail.forall(p => ranges(p).from == ranges(p - 1).until), what)
    val r = ranges.map(_.from).toArray :+ ranges.last.until
    val n = r.length - 1
    val base = r.head
    val shards = if (idx.numDocs == 0) 0L else (r.last - 1) / sd - base / sd + 1
    assert(n === math.max(1L, math.min(idx.config.buildPartitions.toLong, shards)), what)
    assert(r.last - base === idx.numDocs, what)
    // every interior bound is on the grid, and the bounds ascend strictly
    (1 until n).foreach { p =>
      assert(r(p) % sd === 0, s"$what: bound ${r(p)} is not a multiple of $sd")
      assert(r(p - 1) < r(p) && r(p) < r(n), s"$what: bounds ${r.mkString(",")}")
    }
    // docs partition p holds exactly [r(p), r(p+1)), ascending
    val ids = idx.docs.select("docId").queryExecution.toRdd
    assert(ids.getNumPartitions === n, what)
    ids.mapPartitionsWithIndex((p, it) => Iterator.single(p -> it.map(_.getLong(0)).toArray))
      .collect().foreach { case (p, xs) =>
        assert(xs.toSeq === (r(p) until r(p + 1)), s"$what: docs partition $p")
      }
    // every posting row of table p lies in p's range
    assert(idx.shards.rdd.getNumPartitions === n, what)
    idx.shards.rdd.mapPartitionsWithIndex((p, it) => it.flatMap(_.iterator).map(p -> _))
      .collect().foreach { case (p, row) =>
        assert(row.shard.toLong >= r(p) / sd && row.shard.toLong <= (r(p + 1) - 1) / sd,
          s"$what: shard ${row.shard} in table $p, range [${r(p)}, ${r(p + 1)})")
        val d = PostingCodec.decodeAll(row.bytes, row.blockOffset, row.blockLast)
        assert(d.docIds.forall(id => id >= r(p) && id < r(p + 1) && id / sd == row.shard),
          s"$what: a docId of (${row.field}, ${row.term}, ${row.shard}) outside table $p")
      }
    n
  }

  test("docs partitions hold whole shards and table p holds partition p's postings") {
    val src = CodeCorpus.generate(spark, 700, 3)
    val built = for {
      strategy <- Seq(DocIdStrategy.KeyRange, DocIdStrategy.Scan)
      // shardDocs below (64) and above (512) the ~140-doc partition size
      shardDocs <- Seq(64, 512)
      // docIdBase on the grid, and off it (as appendEpoch passes a store's max docIdEnd)
      base <- Seq(0L, 5003L)
    } yield {
      val cfg = IndexConfig(keys, Seq("content"), shardDocs = shardDocs, buildPartitions = 5,
        docIdStrategy = strategy)
      val idx = IndexBuilder.build(src, cfg, docIdBase = base)
      val n = try checkLayout(idx, s"$strategy, shardDocs $shardDocs, base $base")
        finally idx.unpersist()
      (shardDocs, base) -> n
    }
    // premise: both sides of the partition size and both cuts shapes ran
    assert(built.toMap.apply((64, 0L)) === 5)
    assert(built.toMap.apply((512, 0L)) === 2)
    assert(built.toMap.apply((512, 5003L)) === 3)
  }

  test("a 0-doc and a 1-doc corpus build one partition") {
    val cfg = IndexConfig(keys, Seq("content"), shardDocs = 64, buildPartitions = 4)
    for {
      nDocs <- Seq(0L, 1L)
      strategy <- Seq(DocIdStrategy.KeyRange, DocIdStrategy.Scan)
      base <- Seq(0L, 77L)
    } {
      val idx = IndexBuilder.build(CodeCorpus.generate(spark, nDocs, 2),
        cfg.copy(docIdStrategy = strategy), docIdBase = base)
      try {
        assert(idx.numDocs === nDocs)
        assert(checkLayout(idx, s"$nDocs docs, $strategy, base $base") === 1)
      } finally idx.unpersist()
    }
  }

  test("shardCuts: runs of whole shards, ends at base and base + n") {
    assert(IndexBuilder.shardCuts(0L, 0L, 64, 4).toSeq === Seq(0L, 0L))
    assert(IndexBuilder.shardCuts(77L, 1L, 64, 4).toSeq === Seq(77L, 78L))
    // 10 shards (0..9) in 4 runs
    assert(IndexBuilder.shardCuts(0L, 640L, 64, 4).toSeq === Seq(0L, 128L, 320L, 448L, 640L))
    // off-grid base: shards 1..3 touched, each its own run
    assert(IndexBuilder.shardCuts(100L, 120L, 64, 8).toSeq === Seq(100L, 128L, 192L, 220L))
    // shardDocs = 1 cuts anywhere (assignDocIds' default)
    assert(IndexBuilder.shardCuts(0L, 10L, 1, 4).toSeq === Seq(0L, 2L, 5L, 7L, 10L))
  }
}
