package graft

import org.scalatest.funsuite.AnyFunSuite

class BuildTrafficSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("snapshot deltas bracket exactly the jobs run inside the window") {
    val l = new BuildTraffic
    spark.sparkContext.addSparkListener(l)
    try {
      // settle() must return a stable snapshot even while idle
      val t0 = l.settle()
      // a job with a real exchange: groupBy forces shuffle write + read
      spark.range(0, 100000, 1, 4)
        .selectExpr("id % 97 AS k", "id AS v")
        .groupBy("k").count().collect()
      val d = l.settle() - t0
      assert(d.shuffleWriteBytes > 0, "groupBy produced no shuffle write")
      assert(d.shuffleReadBytes > 0, "groupBy produced no shuffle read")
      // a second window over a shuffle-free job must see ZERO new
      // shuffle traffic (the deltas isolate windows, not accumulate)
      val t1 = l.settle()
      spark.range(0, 1000, 1, 4).selectExpr("id * 2").collect()
      val d2 = l.settle() - t1
      assert(d2.shuffleWriteBytes === 0,
        s"shuffle-free window reported ${d2.shuffleWriteBytes} write bytes")
      assert(d2.shuffleReadBytes === 0)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("build shuffle traffic: bounded by corpus text, and scan mode strictly under keyRange") {
    val l = new BuildTraffic
    spark.sparkContext.addSparkListener(l)
    try {
      val corpus = graft.corpus.CodeCorpus.generate(spark, 2000, 4)
      def cfg(strategy: String) = graft.index.IndexConfig(Seq("repo", "path", "commit"),
        Seq("content"), shardDocs = 512, buildPartitions = 4, docIdStrategy = strategy)
      def buildDelta(strategy: String): BuildTraffic.Snap = {
        val t0 = l.settle()
        graft.index.IndexBuilder.build(corpus, cfg(strategy)).unpersist()
        l.settle() - t0
      }
      val keyRange = buildDelta(graft.index.DocIdStrategy.KeyRange)
      val scan = buildDelta(graft.index.DocIdStrategy.Scan)
      val textBytes = corpus.selectExpr("sum(length(content))")
        .collect()(0).getLong(0)
      // keyRange's docId range-partition DOES exchange the corpus rows
      // (the documented opt-out term) — lz4'd, so even it stays under
      // the raw text volume; everything else the build exchanges is
      // bit-packed posting partials + slim key rows. (CodeCorpus
      // synthesizes in-plan, so inputBytes is 0; text volume is
      // computed directly.)
      assert(keyRange.shuffleWriteBytes > 0, "build produced no shuffle at all?")
      assert(keyRange.shuffleWriteBytes < textBytes,
        s"build shuffled ${keyRange.shuffleWriteBytes} B >= corpus text $textBytes B")
      // scan mode deletes the range exchange outright — the plan
      // property behind the 8M-file 2.6-3.2x A/B (BENCH.md r4): its
      // build must shuffle strictly less than keyRange's on the
      // identical corpus
      assert(scan.shuffleWriteBytes < keyRange.shuffleWriteBytes,
        s"scan build shuffled ${scan.shuffleWriteBytes} B, not under " +
          s"keyRange's ${keyRange.shuffleWriteBytes} B — the range exchange is back?")
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a Scan build shuffles nothing; a keyRange build runs one shuffle-map stage, the range exchange") {
    val corpus = graft.corpus.CodeCorpus.generate(spark, 2000, 4)
    def built(strategy: String) = SparkEvents.of(spark)(graft.index.IndexBuilder.build(corpus,
      graft.index.IndexConfig(Seq("repo", "path", "commit"), Seq("content"), shardDocs = 256,
        buildPartitions = 4, docIdStrategy = strategy)))
    val (scanIdx, scan) = built(graft.index.DocIdStrategy.Scan)
    val (keyIdx, keyRange) = built(graft.index.DocIdStrategy.KeyRange)
    try {
      // the docs partitions hold whole shards and build their own
      // tables: no postings merge, no shard repartition
      assert(scan.shuffleBytes === 0L, scan)
      assert(scan.shuffleMapStages === 0, scan)
      assert(keyRange.shuffleMapStages === 1, keyRange)
      assert(keyRange.shuffleBytes > 0L, keyRange)
      // the premise: both builds cut 8 shards into 4 docs partitions
      assert(scanIdx.docRanges.get.length === 4 && keyIdx.docRanges.get.length === 4)
    } finally { scanIdx.unpersist(); keyIdx.unpersist() }
  }
}
