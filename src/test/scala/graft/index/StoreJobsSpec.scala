package graft.index

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.corpus.CodeCorpus

/** Store metadata is a driver-local file and segment reads pass known
  * schemas, so the store's fixed cost per operation runs no Spark job:
  * a regression here is a job count that grows again (one per manifest
  * read, per inferred segment file, or per segment of the store).
  */
class StoreJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  val config = IndexConfig(Seq("repo", "path", "commit"), Seq("content"), 256, 2)

  /** Spark jobs started while `body` runs. */
  private def jobsOf[T](body: => T): (T, Int) = {
    val (r, c) = graft.SparkEvents.of(spark)(body)
    (r, c.jobs)
  }

  private def tmpDir(): String = java.nio.file.Files.createTempDirectory("graftjobs").toString

  /** An upsert of the same 30 keys each time (so every append tombstones). */
  private def upsert(n: Int) = CodeCorpus.generateRange(spark, 0, 30, 2)
    .withColumn("content", concat(col("content"), lit(s" upsertmarker$n")))

  test("manifest reads and config updates start no Spark job") {
    val dir = tmpDir()
    IndexStore.create(CodeCorpus.generate(spark, 100, 2), config, dir, "snap-0").unpersist()
    assert(jobsOf(IndexStore.currentVersion(dir))._2 === 0)
    assert(jobsOf(IndexStore.readManifest(spark, dir))._2 === 0)
    assert(jobsOf(IndexStore.configKv(spark, dir))._2 === 0)
    assert(jobsOf(IndexStore.updateConfig(spark, dir, set = Map("k" -> "v")))._2 === 0)
    assert(IndexStore.configKv(spark, dir) === Map("k" -> "v"))
  }

  test("load of a 4-segment store with 3 tombstone dirs starts at most 1 job") {
    val dir = tmpDir()
    IndexStore.create(CodeCorpus.generate(spark, 200, 2), config, dir, "snap-0").unpersist()
    (1 to 3).foreach(i => IndexStore.appendEpoch(upsert(i), dir, s"snap-$i"))
    val m = IndexStore.readManifestFile(dir, IndexStore.currentVersion(dir))
    assert(m.epochs.map(_.path).distinct.size === 4)
    assert(m.tombstones.map(t => t.epoch -> t.rows) === Seq(1 -> 30L, 2 -> 30L, 3 -> 30L))
    val (idx, jobs) = jobsOf(IndexStore.load(spark, dir))
    assert(jobs <= 1, s"load started $jobs jobs")
    assert(idx.docs.count() === 200L)
    idx.unpersist()
  }

  test("appendEpoch starts as many jobs on a 4-segment store as on a 2-segment one") {
    val dir = tmpDir()
    IndexStore.create(CodeCorpus.generate(spark, 200, 2), config, dir, "snap-0").unpersist()
    IndexStore.appendEpoch(upsert(1), dir, "snap-1")
    val (_, jobs2) = jobsOf(IndexStore.appendEpoch(upsert(2), dir, "snap-2"))
    IndexStore.appendEpoch(upsert(3), dir, "snap-3")
    assert(IndexStore.readManifest(spark, dir)._1.map(_.path).distinct.size === 4)
    val (_, jobs4) = jobsOf(IndexStore.appendEpoch(upsert(4), dir, "snap-4"))
    assert(jobs2 === jobs4)
    val row = IndexStore.info(spark, dir).collect()(0)
    assert(row.getAs[Long]("liveDocs") === 200L)
    assert(row.getAs[Long]("pendingDeletes") === 120L)
  }

  test("an append on a 4-segment store: keyRange <= 10 jobs, 1 shuffle-map stage; scan none") {
    /** A 4-segment store with 3 tombstone dirs, built with `strategy`. */
    def store(strategy: String): String = {
      val dir = tmpDir()
      IndexStore.create(CodeCorpus.generate(spark, 200, 2), config.copy(docIdStrategy = strategy),
        dir, "snap-0").unpersist()
      (1 to 3).foreach(i => IndexStore.appendEpoch(upsert(i), dir, s"snap-$i"))
      val m = IndexStore.readManifestFile(dir, IndexStore.currentVersion(dir))
      assert(m.epochs.map(_.path).distinct.size === 4)
      assert(m.tombstones.size === 3)
      dir
    }
    def append(dir: String): graft.SparkEvents.Counts = {
      val c = graft.SparkEvents.of(spark)(IndexStore.appendEpoch(upsert(4), dir, "snap-4"))._2
      val m = IndexStore.readManifestFile(dir, IndexStore.currentVersion(dir))
      assert(m.tombstones.last === IndexStore.TombstoneDir(4, 30L))
      info(s"${m.config.docIdStrategy}: $c")
      c
    }
    val keyRange = append(store(DocIdStrategy.KeyRange))
    assert(keyRange.jobs <= 10, keyRange)
    // the build's docId range exchange, and nothing after it
    assert(keyRange.shuffleMapStages === 1, keyRange)
    val scan = append(store(DocIdStrategy.Scan))
    assert(scan.shuffleMapStages === 0, scan)
    assert(scan.shuffleBytes === 0L, scan)
  }

  test("the known read schemas are the ones parquet inference reports") {
    val dir = tmpDir()
    IndexStore.create(CodeCorpus.generate(spark, 100, 2), config, dir, "snap-0").unpersist()
    IndexStore.appendEpoch(upsert(1), dir, "snap-1")
    val m = IndexStore.readManifestFile(dir, IndexStore.currentVersion(dir))
    val docSchema = org.apache.spark.sql.types.DataType.fromJson(m.docSchema)
      .asInstanceOf[StructType]
    val files: Seq[(String, StructType)] = Seq(
      "seg-00000/postings.parquet" -> IndexStore.PostingsSchema,
      "seg-00000/docs.parquet" -> docSchema,
      "seg-00000/termstats.parquet" -> IndexStore.TermStatsSchema,
      "_deletes/epoch=1" -> IndexStore.TombstoneSchema)
    files.foreach { case (f, known) =>
      val inferred = spark.read.parquet(s"$dir/$f").schema
      assert(known === inferred, f)
      assert(spark.read.schema(known).parquet(s"$dir/$f").schema === inferred, f)
    }
  }
}
