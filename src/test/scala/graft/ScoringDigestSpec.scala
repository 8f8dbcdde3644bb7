package graft

import java.security.MessageDigest

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig, IndexStore}
import graft.query._

/** Bit-identity gate for scoring refactors: every f32/f64 entry point
  * runs BatchSearchSpec's 7-shape batch on the in-memory index and on
  * StoreFixture's multi-epoch tombstoned store; each entry point's
  * result set hashes to sha-256 over its sorted (qid, docId, raw score
  * bits) lines, and the digests are pinned. A change to accumulation
  * order, top-k selection or tombstone handling that moves any score by
  * one ULP, or any doc in or out of a top-k, changes a digest.
  *
  * The in-memory WAND decode/skip counters are pinned too (the same
  * rows must be walked the same way). The store's counters are only
  * reported: they depend on the posting rows' block layout, which
  * tombstone application at load may change without moving a score.
  */
class ScoringDigestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  lazy val memory = new QueryEngine(IndexBuilder.build(
    CodeCorpus.generate(spark, 1500, 8).cache(),
    IndexConfig(Seq("repo", "path", "commit"), Seq("content"), shardDocs = 256, buildPartitions = 8)))

  val batch: Seq[(Int, Seq[SearchClause])] = Seq(
    0 -> Seq(Fts("content", "fn return")),
    1 -> Seq(Fts("content", "binary"), Fts("content", "search")),
    2 -> Seq(Fts("content", "sor*")),
    3 -> Seq(FuzzyC("content", "retrun")),
    4 -> Seq(FastFuzzy("content", "serach")),
    5 -> Seq(LevC("content", "licens")),
    6 -> Seq(RegexC("content", "ret.+")))

  /** First 16 hex digits of sha-256 over the sorted "qid docId bits" lines. */
  private def sha(rows: Seq[(Int, Long, Long)]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach { case (q, d, b) => md.update(s"$q $d $b\n".getBytes("UTF-8")) }
    md.digest().take(8).map(b => f"${b & 0xff}%02x").mkString
  }

  private def f32(qid: Int, df: DataFrame): Seq[(Int, Long, Long)] =
    df.collect().map(r => (qid, r.getLong(0), java.lang.Float.floatToIntBits(r.getFloat(1)).toLong))
  private def f64(qid: Int, df: DataFrame): Seq[(Int, Long, Long)] =
    df.collect().map(r => (qid, r.getLong(0), java.lang.Double.doubleToLongBits(r.getDouble(1))))
  private def many32(df: DataFrame): Seq[(Int, Long, Long)] =
    df.collect().map(r => (r.getInt(0), r.getLong(1), java.lang.Float.floatToIntBits(r.getFloat(2)).toLong))
  private def many64(df: DataFrame): Seq[(Int, Long, Long)] =
    df.collect().map(r => (r.getInt(0), r.getLong(1), java.lang.Double.doubleToLongBits(r.getDouble(2))))

  private def split[T](body: => T): T =
    EagerPlanConfs.withConfs(spark, Seq("graft.batch.splitMinDocs" -> "0"))(body)

  /** Entry point name -> digest of its result set over the batch. */
  private def digests(e: QueryEngine): Seq[(String, String)] = {
    def each(run: (Int, Seq[SearchClause]) => Seq[(Int, Long, Long)]) =
      sha(batch.flatMap { case (q, cs) => run(q, cs) })
    Seq(10, 1000).flatMap { k =>
      Seq(
        s"searchF32.routed.k$k" -> each((q, cs) => f32(q, e.searchF32(cs, k))),
        s"searchF32.exhaustive.k$k" -> each((q, cs) => f32(q, e.searchF32(cs, k, useWand = false))),
        s"searchF64.k$k" -> each((q, cs) => f64(q, e.searchF64(cs, k))),
        s"searchManyF32.default.k$k" -> sha(many32(e.searchManyF32(batch, k))),
        s"searchManyF32.split.k$k" -> sha(split(many32(e.searchManyF32(batch, k)))),
        s"searchManyF64.k$k" -> sha(many64(e.searchManyF64(batch, k))))
    } ++ Seq(
      "matchF32" -> each((q, cs) => f32(q, e.matchF32(cs))),
      "matchF64" -> each((q, cs) => f64(q, e.matchF64(cs))))
  }

  /** (decoded, skipped) blocks of the routed single queries, then of the split batch. */
  private def counters(e: QueryEngine): Seq[(Long, Long)] = {
    val single = Wand.Stats.register(spark)
    batch.foreach { case (_, cs) => e.searchF32(cs, 10, wandStats = Some(single)).collect() }
    val many = Wand.Stats.register(spark)
    split(e.searchManyF32(batch, 10, wandStats = Some(many)).collect())
    Seq(single, many).map(s => (s.decodedBlocks.value.longValue, s.skippedBlocks.value.longValue))
  }

  private def check(got: Seq[(String, String)], pinned: Map[String, String]): Unit = {
    info(got.map { case (n, d) => s"$n=$d" }.mkString(" "))
    assert(got.map(_._1).toSet === pinned.keySet)
    got.foreach { case (n, d) => assert(d === pinned(n), s"$n digest moved") }
  }

  // measured on commit 4a693de (scoring with a per-query tombstone
  // cogroup on the store); the store's counters there were
  // single=(12,0) batch=(12,0)
  val memoryPins: Map[String, String] = Map(
    "searchF32.routed.k10" -> "5d901dba1f78acfc",
    "searchF32.exhaustive.k10" -> "5d901dba1f78acfc",
    "searchF64.k10" -> "c206aa78e901967a",
    "searchManyF32.default.k10" -> "5d901dba1f78acfc",
    "searchManyF32.split.k10" -> "5d901dba1f78acfc",
    "searchManyF64.k10" -> "c206aa78e901967a",
    "searchF32.routed.k1000" -> "61734e840b0a959a",
    "searchF32.exhaustive.k1000" -> "61734e840b0a959a",
    "searchF64.k1000" -> "69f7938e9954ccda",
    "searchManyF32.default.k1000" -> "61734e840b0a959a",
    "searchManyF32.split.k1000" -> "61734e840b0a959a",
    "searchManyF64.k1000" -> "69f7938e9954ccda",
    "matchF32" -> "c4a58159a1705dd1",
    "matchF64" -> "dc61f878449d36c9")
  val storePins: Map[String, String] = Map(
    "searchF32.routed.k10" -> "db1a8fb97e0218d8",
    "searchF32.exhaustive.k10" -> "db1a8fb97e0218d8",
    "searchF64.k10" -> "8263d8dbd47e478e",
    "searchManyF32.default.k10" -> "db1a8fb97e0218d8",
    "searchManyF32.split.k10" -> "db1a8fb97e0218d8",
    "searchManyF64.k10" -> "8263d8dbd47e478e",
    "searchF32.routed.k1000" -> "e7f1eef8b6a01024",
    "searchF32.exhaustive.k1000" -> "e7f1eef8b6a01024",
    "searchF64.k1000" -> "bbb951da7612d157",
    "searchManyF32.default.k1000" -> "e7f1eef8b6a01024",
    "searchManyF32.split.k1000" -> "e7f1eef8b6a01024",
    "searchManyF64.k1000" -> "bbb951da7612d157",
    "matchF32" -> "e7f1eef8b6a01024",
    "matchF64" -> "bbb951da7612d157")
  val memoryCounters: Seq[(Long, Long)] = Seq((12L, 0L), (12L, 0L))

  test("in-memory index: f32/f64 digests and WAND counters match the pins") {
    check(digests(memory), memoryPins)
    val c = counters(memory)
    info(s"WAND counters (decoded, skipped): single=${c(0)} batch=${c(1)}")
    assert(c === memoryCounters)
  }

  test("tombstoned multi-epoch store: f32/f64 digests match the pins") {
    val e = new QueryEngine(IndexStore.load(spark, StoreFixture.dir))
    try {
      check(digests(e), storePins)
      val c = counters(e)
      info(s"WAND counters (decoded, skipped), reported only: single=${c(0)} batch=${c(1)}")
    } finally e.release()
  }
}
