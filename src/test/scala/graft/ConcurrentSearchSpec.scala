package graft

import java.util.concurrent.{Callable, CyclicBarrier, Executors, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CodeCorpus
import graft.query.{Fts, QueryEngine, Wand}
import graft.sql.LnxSession
import graft.sql.LnxSql.SLit

/** One engine serving several threads at once: its compile LRU, the
  * index's shard tables and the SparkContext's WAND accumulators are
  * shared, and every thread must get exactly the rows (and WAND
  * counters) it gets when it runs alone.
  */
class ConcurrentSearchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val sql = "SELECT path, score() AS s FROM files WHERE fts(content, $1) ORDER BY s DESC LIMIT 10"

  private lazy val session: LnxSession = {
    val sess = new LnxSession(spark)
    sess.register("files", CodeCorpus.generate(spark, 2000, 4), Seq("repo", "path", "commit"),
      Seq("content"))
    sess.execute(sql, Seq(SLit("binary"))).collect() // builds the index
    sess
  }

  private val words = Seq("binary search", "fn return", "license", "sor*", "merge segment",
    "needle", "tree", "checkpoint", "binarySearchNeedle license", "ret*")

  private sealed trait Op
  private final case class Single(q: String) extends Op
  private final case class Batch(qs: Seq[String]) extends Op
  private final case class Sql(q: String) extends Op

  /** Thread t's fixed mix, overlapping the other threads' queries. */
  private def opsOf(t: Int): Seq[Op] = (0 until 9).map { i =>
    val w = words((t * 3 + i) % words.size)
    i % 3 match {
      case 0 => Single(w)
      case 1 => Batch((0 until 4).map(j => words((t + i + j) % words.size)))
      case _ => Sql(w)
    }
  }

  private def run(e: QueryEngine, op: Op, stats: Wand.Stats): Seq[Any] = op match {
    case Single(q) => e.searchF32(Seq(Fts("content", q)), 10, wandStats = Some(stats)).collect()
      .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    case Batch(qs) => e.searchManyF32(qs.zipWithIndex.map { case (q, i) => i -> Seq(Fts("content", q)) }, 10)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getFloat(2))).toSeq
    case Sql(q) => session.execute(sql, Seq(SLit(q))).collect()
      .map(r => (r.getString(0), r.getFloat(1))).toSeq
  }

  /** Thread t's results and its WAND (decoded, skipped) counters. */
  private def runAll(e: QueryEngine, t: Int): (Seq[Seq[Any]], (Long, Long)) = {
    val stats = Wand.Stats.register(spark)
    val rows = opsOf(t).map(run(e, _, stats))
    (rows, (stats.decodedBlocks.value.longValue, stats.skippedBlocks.value.longValue))
  }

  test("four threads sharing one engine each get exactly their serial results") {
    val t = session.table("files")
    val serial = (0 until 4).map(runAll(t.engine.get, _))
    assert(serial.exists(_._2._1 > 0L), "test premise: some single search takes a WAND walk")
    // a fresh engine over the same index: the threads race on its empty
    // compile LRU and dictionary probe, and share the cached shard tables
    t.engine = Some(new QueryEngine(t.engine.get.index))
    val e = t.engine.get
    val pool = Executors.newFixedThreadPool(4)
    try {
      val start = new CyclicBarrier(4)
      val futures = (0 until 4).map { i =>
        pool.submit(new Callable[(Seq[Seq[Any]], (Long, Long))] {
          def call(): (Seq[Seq[Any]], (Long, Long)) = { start.await(); runAll(e, i) }
        })
      }
      val got = futures.map(_.get(5, TimeUnit.MINUTES))
      (0 until 4).foreach { i =>
        assert(got(i)._1 === serial(i)._1, s"thread $i rows")
        assert(got(i)._2 === serial(i)._2, s"thread $i WAND counters")
      }
    } finally pool.shutdownNow()
  }
}
