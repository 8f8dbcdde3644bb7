package graft

import org.apache.spark.sql.functions._

import graft.corpus.CodeCorpus
import graft.index.{IndexConfig, IndexStore}
import graft.query.Fts

/** A multi-epoch store carrying upsert AND delete-by-query tombstones,
  * shared by the store scoring specs (built once per test JVM, never
  * mutated):
  *  - epoch 0: docs 0..599;
  *  - epoch 1: the `file_1*` paths upserted with " upserted freshterm";
  *  - epoch 2: docs 550..699 (550..599 re-upserted with unchanged
  *    content, 600..699 new);
  *  - a deleteByQuery of every doc holding the planted `needle` (ids
  *    divisible by 37), which are top hits of `binary search`.
  * So a (field, term, shard) spans several segments, and tombstoned
  * docs would rank among the live ones if the scorers kept them.
  */
object StoreFixture {
  val config = IndexConfig(Seq("repo", "path", "commit"), Seq("content"),
    shardDocs = 256, buildPartitions = 4)

  lazy val dir: String = {
    val spark = TestSpark.spark
    val d = java.nio.file.Files.createTempDirectory("graftstorefix").toString
    val base = CodeCorpus.generate(spark, 600, 4)
    IndexStore.create(base, config, d, "snap-0").unpersist()
    val upserted = base.filter(col("path").contains("file_1"))
      .withColumn("content", concat(col("content"), lit(" upserted freshterm")))
    require(IndexStore.appendEpoch(upserted, d, "snap-1"))
    require(IndexStore.appendEpoch(CodeCorpus.generateRange(spark, 550, 700, 2), d, "snap-2"))
    require(IndexStore.deleteByQuery(spark, d, Seq(Fts("content", "needle")), "needles") > 0L)
    d
  }
}
