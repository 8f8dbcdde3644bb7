package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.query._

/** The batched top-k merges each query's candidates on the driver: a
  * batch is ONE Spark job (the scoring stage), and a repeated batch —
  * served the same planned candidate frame by the plan LRU — scores
  * again instead of replaying a stored result.
  */
class BatchJobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val index = IndexBuilder.build(
    CodeCorpus.generate(spark, 1500, 8),
    IndexConfig(Seq("repo", "path", "commit"), Seq("content"), shardDocs = 256, buildPartitions = 8))

  val batch: Seq[(Int, Seq[SearchClause])] = Seq(
    0 -> Seq(Fts("content", "fn return")),
    1 -> Seq(Fts("content", "binary"), Fts("content", "search")),
    2 -> Seq(Fts("content", "sor*")),
    3 -> Seq(FuzzyC("content", "retrun")))

  test("a repeated identical batch runs its scoring tasks again, in one job") {
    val e = new QueryEngine(index)
    e.compileMany(batch.map(_._2)) // dictionary jobs out of the counts
    val (first, c1) = SparkEvents.of(spark)(e.searchManyF32(batch, 10).collect())
    val hits = e.planCacheHits
    val (second, c2) = SparkEvents.of(spark)(e.searchManyF32(batch, 10).collect())
    assert(e.planCacheHits === hits + 1, "test premise: the repeat is served the planned frame")
    assert(c1.jobs === 1 && c2.jobs === 1, s"first $c1, repeat $c2")
    assert(c1.tasks > 1, s"test premise: the scoring stage has several tasks ($c1)")
    assert(c2.tasks === c1.tasks, s"the repeat must score again: first $c1, repeat $c2")
    assert(second.toSeq === first.toSeq)
  }
}
