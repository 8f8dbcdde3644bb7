package graft.index

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.CodeCorpus

/** Every segment file meets the per-file read-path contract of
  * IndexStore's layout, whoever wrote it: create and appends (keyRange
  * and scan), which write each file straight from the build's
  * partitions, and compact, which writes after its own exchanges.
  *  - docs: every file docId-ascending, the files' ranges pairwise
  *    disjoint, every live docId once;
  *  - postings: every file sorted by (field, term, shard), the rows
  *    those of the build, as a multiset;
  *  - termstats: every file sorted by (field, term), df summed per
  *    (field, term) over the files equal to the build's summed term dfs.
  */
class SegmentLayoutSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val keys = Seq("repo", "path", "commit")

  /** Strings in Spark's sort order (UTF-8 bytes). */
  private def cmp(a: String, b: String): Int =
    UTF8String.fromString(a).compareTo(UTF8String.fromString(b))

  /** The rows of `cols` of a segment file kind, per parquet file, each
    * file's rows in file order. */
  private def perFile(dir: String, seg: String, file: String, schema: StructType,
      cols: Seq[String]): Seq[Seq[Row]] =
    spark.read.schema(schema).parquet(s"$dir/$seg/$file")
      .select((col("_metadata.file_path") +: cols.map(col)): _*)
      .collect().toSeq.groupBy(_.getString(0)).values.toSeq
      .map(_.map(r => Row.fromSeq(r.toSeq.tail)))

  private def docSchema(dir: String): StructType =
    org.apache.spark.sql.types.DataType.fromJson(
      IndexStore.readManifestFile(dir, IndexStore.currentVersion(dir)).docSchema)
      .asInstanceOf[StructType]

  /** The docs contract of segment `seg`; returns its docIds. */
  private def checkDocs(dir: String, seg: String, what: String): Seq[Long] = {
    val files = perFile(dir, seg, "docs.parquet", docSchema(dir), Seq("docId"))
      .map(_.map(_.getLong(0)))
    files.foreach(ids => assert(ids.sliding(2).forall(p => p.size < 2 || p(0) < p(1)),
      s"$what: a docs file is not docId-ascending: $ids"))
    val ranges = files.filter(_.nonEmpty).map(ids => (ids.head, ids.last)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 < b._1, s"$what: docs file ranges overlap: $ranges")
      case _ =>
    }
    files.flatten
  }

  /** Posting rows as a multiset of comparable values. */
  private def multiset(rows: Seq[PostingRow]) = rows.groupMapReduce(p => (p.field, p.term, p.shard,
      p.numDocs, p.sumTf, p.bytes.toSeq, p.blockOffset.toSeq, p.blockLast.toSeq, p.blockMaxTf.toSeq,
      p.blockMinNorm.toSeq))(_ => 1)(_ + _)

  /** The postings and termstats contracts of segment `seg`, against the build `idx`. */
  private def checkDictionary(dir: String, seg: String, idx: BuiltIndex, what: String): Unit = {
    val postingKeys = perFile(dir, seg, "postings.parquet", IndexStore.PostingsSchema,
      Seq("field", "term", "shard")).map(_.map(r => (r.getString(0), r.getString(1), r.getInt(2))))
    postingKeys.foreach(ks => ks.sliding(2).foreach {
      case Seq(a, b) =>
        val c = if (a._1 != b._1) cmp(a._1, b._1) else if (a._2 != b._2) cmp(a._2, b._2)
          else a._3.compare(b._3)
        assert(c < 0, s"$what: postings file out of (field, term, shard) order at $a, $b")
      case _ =>
    })
    val stored = spark.read.schema(IndexStore.PostingsSchema).parquet(s"$dir/$seg/postings.parquet")
      .as(Encoders.product[PostingRow]).collect().toSeq
    assert(multiset(stored) === multiset(idx.postings.collect().toSeq), what)

    val stats = perFile(dir, seg, "termstats.parquet", IndexStore.TermStatsSchema,
      Seq("field", "term", "df")).map(_.map(r => (r.getString(0), r.getString(1), r.getLong(2))))
    stats.foreach(ts => ts.sliding(2).foreach {
      case Seq(a, b) =>
        val c = if (a._1 != b._1) cmp(a._1, b._1) else cmp(a._2, b._2)
        assert(c < 0, s"$what: termstats file out of (field, term) order at $a, $b")
      case _ =>
    })
    val summed = stats.flatten.groupMapReduce(t => (t._1, t._2))(_._3)(_ + _)
    val built = idx.spark.createDataset(idx.termDfs)(Encoders.product[TermDf])
      .groupBy("field", "term").agg(sum("df"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(summed === built, what)
  }

  /** Every live docId is served once, and is the segments' ids minus the tombstones. */
  private def checkLive(dir: String, segIds: Seq[Long], what: String): Unit = {
    val m = IndexStore.readManifestFile(dir, IndexStore.currentVersion(dir))
    val dead = m.tombstones.flatMap(t => spark.read.schema(IndexStore.TombstoneSchema)
      .parquet(s"$dir/_deletes/epoch=${t.epoch}").collect().map(_.getLong(0))).toSet
    val idx = IndexStore.load(spark, dir)
    try {
      val live = idx.docs.select("docId").collect().map(_.getLong(0)).toSeq
      assert(live.distinct.size === live.size, s"$what: a live docId is served twice")
      assert(segIds.distinct.size === segIds.size, s"$what: a docId is stored twice")
      assert(live.toSet === segIds.toSet -- dead, what)
    } finally idx.unpersist()
  }

  test("create and appends write the per-file layout, under keyRange and scan; compact keeps docs'") {
    for (strategy <- Seq(DocIdStrategy.KeyRange, DocIdStrategy.Scan)) {
      val config = IndexConfig(keys, Seq("content"), shardDocs = 64, buildPartitions = 4,
        docIdStrategy = strategy)
      def upserts(from: Long, until: Long, n: Int): DataFrame =
        CodeCorpus.generateRange(spark, from, until, 2)
          .withColumn("content", concat(col("content"), lit(s" upsertmarker$n")))
      // epoch 1 takes ids 300..359, straddling the shard boundary at 320
      val inputs = Seq(
        CodeCorpus.generate(spark, 300, 3),
        upserts(0, 20, 1).unionByName(CodeCorpus.generateRange(spark, 300, 340, 2)),
        upserts(10, 30, 2).unionByName(CodeCorpus.generateRange(spark, 340, 370, 2)))
      val dir = java.nio.file.Files.createTempDirectory("graftseglayout").toString
      IndexStore.create(inputs.head, config, dir, "snap-0").unpersist()
      inputs.indices.tail.foreach(e => assert(IndexStore.appendEpoch(inputs(e), dir, s"snap-$e")))
      val m = IndexStore.readManifestFile(dir, IndexStore.currentVersion(dir))
      val epochs = m.epochs.sortBy(_.epoch)
      assert(epochs.map(_.path) === Seq("seg-00000", "seg-00001", "seg-00002"))
      assert(epochs(1).docIdBase === 300L && epochs(1).docIdEnd === 360L,
        "test premise: epoch 1 straddles a shard boundary")
      val segIds = epochs.flatMap { e =>
        val what = s"$strategy ${e.path}"
        // the segment's build, again: docIds are deterministic per input
        val idx = IndexBuilder.build(inputs(e.epoch), config, e.docIdBase)
        try checkDictionary(dir, e.path, idx, what) finally idx.unpersist()
        checkDocs(dir, e.path, what)
      }
      checkLive(dir, segIds, strategy)
      IndexStore.compact(spark, dir)
      val merged = IndexStore.readManifestFile(dir, IndexStore.currentVersion(dir)).epochs
      assert(merged.map(_.path).distinct.size === 1)
      checkLive(dir, checkDocs(dir, merged.head.path, s"$strategy compacted"), s"$strategy compacted")
    }
  }
}
