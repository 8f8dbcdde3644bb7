package graft.index

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.concurrent.Eventually
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.time.{Seconds, Span}

import graft.TestSpark
import graft.corpus.CodeCorpus

/** An append's upsert tombstones match keys exactly as the left-semi
  * join matches them, on the one-scan path and on the join path above
  * its gates; and an append leaves no cache or broadcast behind.
  */
class UpsertSpec extends AnyFunSuite with Eventually {
  lazy val spark = TestSpark.spark

  private val keys = Seq("repo", "path", "commit")
  private val config = IndexConfig(keys, Seq("content"), shardDocs = 64, buildPartitions = 2)

  private def tmpDir(): String = java.nio.file.Files.createTempDirectory("graftupsert").toString

  /** The docIds of the LATEST manifest's tombstone dir of `epoch` (none: empty). */
  private def tombstones(dir: String, epoch: Int): Set[Long] = {
    val m = IndexStore.readManifestFile(dir, IndexStore.currentVersion(dir))
    if (!m.tombstones.exists(_.epoch == epoch)) Set.empty
    else spark.read.schema(IndexStore.TombstoneSchema).parquet(s"$dir/_deletes/epoch=$epoch")
      .collect().map(_.getLong(0)).toSet
  }

  /** `scenario`'s tombstones on the one-scan path and on the join path
    * (forced by lowering the scan's key gate), which must agree. */
  private def bothPaths(scenario: String => Set[Long]): Set[Long] = {
    val scan = scenario(tmpDir())
    IndexStore.upsertScanKeys = 0L
    val join = try scenario(tmpDir()) finally IndexStore.upsertScanKeys = IndexStore.BroadcastKeys
    assert(scan === join, "the scan and join paths tombstone different docIds")
    scan
  }

  private def upserts(from: Long, until: Long, marker: String): DataFrame =
    CodeCorpus.generateRange(spark, from, until, 2)
      .withColumn("content", concat(col("content"), lit(s" $marker")))

  test("a batch with a null key column tombstones nothing") {
    val nullCommit = CodeCorpus.generate(spark, 60, 2)
      .withColumn("commit", when(col("path").contains("file_1"), lit(null).cast(StringType))
        .otherwise(col("commit")))
    val nNull = nullCommit.filter(col("commit").isNull).count()
    assert(nNull > 0, "test premise: some keys hold a null")
    val dead = bothPaths { dir =>
      IndexStore.create(nullCommit, config, dir, "snap-0").unpersist()
      IndexStore.appendEpoch(nullCommit.filter(col("commit").isNull), dir, "snap-1")
      val idx = IndexStore.load(spark, dir)
      try assert(idx.docs.count() === 60L + nNull) finally idx.unpersist()
      tombstones(dir, 1)
    }
    assert(dead.isEmpty)
  }

  test("a key upserted in two consecutive epochs tombstones only its live docId") {
    val dead = bothPaths { dir =>
      IndexStore.create(CodeCorpus.generate(spark, 100, 2), config, dir, "snap-0").unpersist()
      IndexStore.appendEpoch(upserts(0, 10, "first"), dir, "snap-1")
      assert(tombstones(dir, 1).size === 10)
      IndexStore.appendEpoch(upserts(0, 10, "second"), dir, "snap-2")
      tombstones(dir, 2)
    }
    // epoch 1 holds docIds 100..109: the live versions of the keys
    assert(dead === (100L until 110L).toSet)
  }

  test("float keys match after join normalization and binary keys by content") {
    val schema = StructType(Seq(StructField("k", DoubleType), StructField("b", BinaryType),
      StructField("text", StringType)))
    def frame(rows: Seq[Row]) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val base = frame(Seq(Row(0.0, Array[Byte](1, 2), "alpha"), Row(1.5, Array[Byte](3), "beta"),
      Row(Double.NaN, Array[Byte](4), "gamma"), Row(2.0, Array[Byte](5), "delta")))
    val batch = frame(Seq(Row(-0.0, Array[Byte](1, 2), "alpha two"),
      Row(Double.NaN, Array[Byte](4), "gamma two"), Row(2.0, Array[Byte](6), "delta two")))
    val cfg = IndexConfig(Seq("k", "b"), Seq("text"), shardDocs = 64, buildPartitions = 2)
    var expected = Set.empty[Long]
    val dead = bothPaths { dir =>
      IndexStore.create(base, cfg, dir, "snap-0").unpersist()
      val idx = IndexStore.load(spark, dir)
      expected = try idx.docs.filter(col("text").isin("alpha", "gamma")).select("docId")
        .collect().map(_.getLong(0)).toSet finally idx.unpersist()
      IndexStore.appendEpoch(batch, dir, "snap-1")
      tombstones(dir, 1)
    }
    assert(expected.size === 2)
    assert(dead === expected)
  }

  test("an append leaves no cached RDD and no broadcast probe behind, failed or not") {
    val sc = spark.sparkContext
    def probes = org.apache.spark.TestBroadcasts.values().count(_.isInstanceOf[UpsertKeys.Probe])
    val dir = tmpDir()
    IndexStore.create(CodeCorpus.generate(spark, 100, 2), config, dir, "snap-0").unpersist()
    IndexStore.appendEpoch(upserts(0, 10, "first"), dir, "snap-1")
    val cached = sc.getPersistentRDDs.keySet
    assert(IndexStore.appendEpoch(upserts(10, 20, "second"), dir, "snap-2"))
    assert(sc.getPersistentRDDs.keySet === cached)
    eventually(timeout(Span(10, Seconds)))(assert(probes === 0))
    // a corrupt docs file of the first segment fails the upsert scan,
    // after the probe is broadcast
    val docsFile = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "seg-00000", "docs.parquet"))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.write(docsFile, "not parquet".getBytes("UTF-8"))
    val version = IndexStore.currentVersion(dir)
    intercept[Exception](IndexStore.appendEpoch(upserts(20, 30, "third"), dir, "snap-3"))
    assert(IndexStore.currentVersion(dir) === version)
    assert(sc.getPersistentRDDs.keySet === cached)
    eventually(timeout(Span(10, Seconds)))(assert(probes === 0))
  }
}
