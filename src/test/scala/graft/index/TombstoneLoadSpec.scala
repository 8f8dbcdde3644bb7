package graft.index

import org.scalatest.funsuite.AnyFunSuite

import graft.{StoreFixture, TestSpark}

/** A store applies its tombstones once, at load: the postings cache
  * holds exactly the live docs' postings, whichever side of the
  * broadcast gate the tombstone count falls on.
  */
class TombstoneLoadSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def manifest(dir: String) = IndexStore.readManifestFile(dir, IndexStore.currentVersion(dir))

  /** Every (field, term, docId, tf, norm) posting of `rows`. */
  private def entries(rows: Seq[PostingRow]): Seq[(String, String, Long, Int, Int)] =
    rows.flatMap { p =>
      val d = PostingCodec.decodeAll(p.bytes, p.blockOffset, p.blockLast)
      d.docIds.indices.map(i => (p.field, p.term, d.docIds(i), d.tfs(i), d.norms(i)))
    }.sorted

  test("load keeps only live docs' postings, on both sides of the gate") {
    val dir = StoreFixture.dir
    val m = manifest(dir)
    assert(m.tombstones.nonEmpty, "test premise: the store has tombstones")
    val stored = m.epochs.map(_.path).distinct.flatMap(seg =>
      spark.read.schema(IndexStore.PostingsSchema).parquet(s"$dir/$seg/postings.parquet")
        .as(org.apache.spark.sql.Encoders.product[PostingRow]).collect())
    val broadcastLoad = IndexStore.loadManifest(spark, dir, m, cacheDocs = true)
    val shuffleLoad = IndexStore.loadManifest(spark, dir, m, cacheDocs = true, broadcastTombstones = 0L)
    val live = broadcastLoad.docs.select("docId").collect().map(_.getLong(0)).toSet
    val expected = entries(stored).filter(e => live(e._3))
    assert(expected.size < entries(stored).size, "test premise: tombstoned docs have postings")
    Seq(broadcastLoad, shuffleLoad).foreach { idx =>
      val rows = idx.postings.collect().toSeq
      assert(entries(rows) === expected)
      // every row's header agrees with its (re-encoded) content
      rows.foreach { p =>
        val d = PostingCodec.decodeAll(p.bytes, p.blockOffset, p.blockLast)
        assert(p.numDocs === d.docIds.length && p.numDocs > 0)
        assert(p.sumTf === d.tfs.map(_.toLong).sum)
        assert(d.docIds.forall(id => (id / StoreFixture.config.shardDocs).toInt == p.shard))
      }
      assert(idx.docs.select("docId").collect().map(_.getLong(0)).toSet === live)
      idx.unpersist()
    }
  }
}
