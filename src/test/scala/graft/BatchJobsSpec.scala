package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig, IndexStore}
import graft.query._

/** Searches score straight off the shard tables: searchF32 and a batch
  * under the driver-merge gate are each ONE Spark job of one stage,
  * planned by no Catalyst query, on a never-seen call and on its repeat
  * alike — and a repeat scores again instead of replaying a stored
  * result.
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
    val (second, c2) = SparkEvents.of(spark)(e.searchManyF32(batch, 10).collect())
    assert(c1.jobs === 1 && c2.jobs === 1, s"first $c1, repeat $c2")
    assert(c1.tasks > 1, s"test premise: the scoring stage has several tasks ($c1)")
    assert(c2.tasks === c1.tasks, s"the repeat must score again: first $c1, repeat $c2")
    assert(second.toSeq === first.toSeq)
  }

  private def split[T](body: => T): T =
    EagerPlanConfs.withConfs(spark, Seq("graft.batch.splitMinDocs" -> "0"))(body)

  /** Every search entry point on `e`, each call with clauses it has never
    * seen: 1 job, 1 stage and no SQL execution while it scores, then the
    * same on repeat. */
  private def checkShapes(e: QueryEngine, what: String): Unit = {
    // the engine's one-off work out of the counts: its dictionary probe
    // and, on a store, the first read that builds the shard tables
    e.searchF32(Seq(Fts("content", "license")), 10).collect()
    // a never-compiled clause list matching what `cs` matches: its first
    // clause's text gains a token no document holds
    var n = 0
    def fresh(q: String) = { n += 1; s"$q zzfresh$n" }
    def freshen(cs: Seq[SearchClause]): Seq[SearchClause] = (cs.head match {
      case f: Fts => f.copy(query = fresh(f.query))
      case f: FuzzyC => f.copy(query = fresh(f.query))
      case other => fail(s"unexpected clause $other")
    }) +: cs.tail
    def batchOf() = batch.map { case (q, cs) => q -> freshen(cs) }
    val calls: Seq[(String, () => DataFrame)] = Seq(
      "searchF32" -> { () => e.searchF32(Seq(Fts("content", fresh("binary search"))), 10) },
      "searchF32 exhaustive" -> { () =>
        e.searchF32(Seq(Fts("content", fresh("fn return"))), 10, useWand = false) },
      "searchManyF32" -> { () => e.searchManyF32(batchOf(), 10) },
      "searchManyF32 split" -> { () => split(e.searchManyF32(batchOf(), 10)) },
      "searchManyF64" -> { () => e.searchManyF64(batchOf(), 10) })
    calls.foreach { case (name, call) =>
      // a call scores eagerly; the frame it returns is local
      val (df1, c1) = SparkEvents.of(spark)(call())
      val (rows1, c2) = SparkEvents.of(spark)(df1.collect())
      val (df3, c3) = SparkEvents.of(spark)(call())
      assert(rows1.nonEmpty, s"$what $name: test premise: the call matches")
      assert(c1.jobs === 1 && c1.stages === 1, s"$what $name never-seen: $c1")
      assert(c3.jobs === 1 && c3.stages === 1, s"$what $name repeat: $c3")
      assert(c3.tasks === c1.tasks && c1.tasks > 1, s"$what $name: $c1 vs $c3")
      assert(c1.sqlExecutions === 0 && c3.sqlExecutions === 0,
        s"$what $name: scoring must plan no Catalyst query ($c1, $c3)")
      assert(c2.jobs === 0, s"$what $name: collecting the returned frame ran a job ($c2)")
      assert(df3.collect().toSeq === rows1.toSeq, s"$what $name")
    }
  }

  test("searches are 1 job of 1 stage with no SQL execution, never-seen or repeated: in-memory index") {
    checkShapes(new QueryEngine(index), "in-memory")
  }

  test("searches are 1 job of 1 stage with no SQL execution, never-seen or repeated: store") {
    val e = new QueryEngine(IndexStore.load(spark, StoreFixture.dir))
    try checkShapes(e, "store") finally e.release()
  }

  test("release drops the shard tables from block storage") {
    def cachedRdds = spark.sparkContext.getRDDStorageInfo.map(_.id).toSet
    val before = cachedRdds
    val e = new QueryEngine(IndexStore.load(spark, StoreFixture.dir))
    e.searchF32(Seq(Fts("content", "binary search")), 10).collect()
    val shards = e.index.shards.rdd.id
    assert(cachedRdds.contains(shards), "test premise: the first read caches the shard tables")
    assert(!before.contains(shards))
    e.release()
    val deadline = System.nanoTime() + 10000000000L // unpersist is asynchronous
    while (cachedRdds.contains(shards) && System.nanoTime() < deadline) Thread.sleep(50)
    assert(!cachedRdds.contains(shards), "release must drop the shard tables")
  }
}
