package graft.index

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.storage.StorageLevel

/** One partition of an index's postings cache: its posting rows keyed
  * by (field, term), so a query reaches its rows with a hash probe per
  * term instead of a scan — the analogue of a tantivy segment's term
  * dictionary pointing into its postings. A store's shard may hold
  * several rows per (field, term), one per segment, kept in arrival
  * order. Rows share their table's field strings.
  */
final class ShardTable private (
    byField: java.util.HashMap[String, java.util.HashMap[String, Array[PostingRow]]])
    extends Serializable {

  /** The rows of (field, term) in this partition; empty when absent. */
  def rows(field: String, term: String): Array[PostingRow] = {
    val terms = byField.get(field)
    val r = if (terms == null) null else terms.get(term)
    if (r == null) ShardTable.NoRows else r
  }

  /** Every row of the partition. */
  def iterator: Iterator[PostingRow] =
    byField.values().iterator().asScala.flatMap(_.values().iterator().asScala.flatMap(_.iterator))

  /** The number of (field, term) keys: the rows of `termDfs`. */
  def keys: Int = {
    var n = 0
    byField.values().forEach(terms => n += terms.size)
    n
  }

  /** One (field, term, df) per key of the partition, df summed over its
    * rows: a partial df when other partitions hold the term too. */
  def termDfs: Iterator[TermDf] =
    byField.entrySet().iterator().asScala.flatMap { f =>
      f.getValue.entrySet().iterator().asScala.map { t =>
        var df = 0L
        t.getValue.foreach(df += _.numDocs)
        TermDf(f.getKey, t.getKey, df)
      }
    }
}

object ShardTable {
  private val NoRows = new Array[PostingRow](0)

  def of(rows: Iterator[PostingRow]): ShardTable = {
    val grouped = new java.util.HashMap[String,
      java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[PostingRow]]]()
    val fieldNames = new java.util.HashMap[String, String]()
    rows.foreach { p =>
      val f = fieldNames.computeIfAbsent(p.field, (x: String) => x)
      val terms = grouped.computeIfAbsent(f, (_: String) => new java.util.HashMap())
      terms.computeIfAbsent(p.term, (_: String) => new scala.collection.mutable.ArrayBuffer())
        .append(if (p.field eq f) p else p.copy(field = f))
    }
    val byField = new java.util.HashMap[String, java.util.HashMap[String, Array[PostingRow]]]()
    grouped.forEach { (f, terms) =>
      val m = new java.util.HashMap[String, Array[PostingRow]](terms.size * 4 / 3 + 1)
      terms.forEach((t, rs) => m.put(t, rs.toArray))
      byField.put(f, m)
    }
    new ShardTable(byField)
  }
}

/** An index's postings cache: one persisted `ShardTable` per search
  * partition (an in-memory build's docs partition, a store's file
  * pair, or a heavy-churn store's shard repartition,
  * `IndexBuilder.shardTables`). The RDD is
  * frozen and persisted on first use — a build materializes it at once
  * (its statistics come from it), a loaded store on its first read —
  * and every search runs over it with no query planning.
  */
final class ShardTables(freeze: => RDD[ShardTable]) {
  @volatile private var frozen: RDD[ShardTable] = _

  def rdd: RDD[ShardTable] = {
    if (frozen == null) synchronized {
      if (frozen == null) frozen = freeze.persist(StorageLevel.MEMORY_AND_DISK)
    }
    frozen
  }

  /** Drops the cached tables; a never-used cache has nothing to drop. */
  def unpersist(blocking: Boolean): Unit = synchronized {
    if (frozen != null) frozen.unpersist(blocking)
  }
}
