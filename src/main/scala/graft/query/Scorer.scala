package graft.query

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._

import graft.index.{BuiltIndex, DecodedBlock, PostingCodec, PostingRow}

/** A compiled search term: one dictionary term contributing to one
  * clause group. `weightF32` is the full precomputed BM25 term weight
  * idf * (1 + k1) * userMultiplier (fuzzy distance multipliers bake in
  * here), computed driver-side from the term dictionary — the Spark
  * analogue of tantivy building a Bm25Weight per term.
  */
final case class CompiledTerm(
    field: String,
    term: String,
    group: Int,
    weightF32: Float,
    weightF64: Double,
    df: Long = 0L) // document frequency (drives the conj-WAND cost heuristic)

/** One clause group = one search-function call in the WHERE clause
  * (fts/fuzzy/levenshtein/regex). Terms within a group are a
  * disjunction; groups compose as a conjunction when `required`
  * (tantivy BooleanQuery: conjunction score = sum of clause scores,
  * SURVEY.md section 2.2 P4). `constScore` groups contribute a flat
  * 1.0 on match (levenshtein/regex semantics, apis/mod.rs:249-281).
  */
final case class CompiledGroup(id: Int, required: Boolean, constScore: Boolean)

final case class CompiledQuery(terms: Seq[CompiledTerm], groups: Seq[CompiledGroup]) {
  def requiredMask: Int = groups.filter(_.required).map(g => 1 << g.id).sum
}

final case class ScoredDocF32(docId: Long, score: Float)
final case class ScoredDocF64(docId: Long, score: Double)

/** A batch candidate of either precision; `raw` is its score as a double. */
sealed trait ScoredQDoc {
  def qid: Int
  def docId: Long
  def raw: Double
}
final case class ScoredQDocF32(qid: Int, docId: Long, score: Float) extends ScoredQDoc {
  def raw: Double = score.toDouble
}
final case class ScoredQDocF64(qid: Int, docId: Long, score: Double) extends ScoredQDoc {
  def raw: Double = score
}

/** A batch's candidates as primitive columns (qid, docId, raw score),
  * qids ascending and each qid's best first: what a scoring task hands
  * the driver, and the driver's merged result.
  */
final case class QCands(qids: Array[Int], docIds: Array[Long], scores: Array[Double]) {
  /** As (qid, docId, score) rows: score double for `f64`, else float. */
  def rows(f64: Boolean): Iterator[Row] = qids.indices.iterator.map { i =>
    if (f64) Row(qids(i), docIds(i), scores(i)) else Row(qids(i), docIds(i), scores(i).toFloat)
  }
}

/** Distributed scoring over the sharded posting lists.
  *
  * Plan shape (scale rationale): every index's postings cache is one
  * term-keyed `ShardTable` per partition, co-partitioned by docId shard,
  * so each task probes its table for the query's (field, term) keys —
  * a hash lookup per key, no scan, no query planning — merges all
  * clause postings for its disjoint docId ranges with no exchange at
  * all, and keeps a bounded per-shard top-k. Only those candidates
  * leave their task; the driver merges them (QueryEngine).
  */
object Scorer {

  /** The query's posting rows, probed out of each partition's shard
    * table in (field, term) order; a key's rows keep their table order.
    */
  def matchedPostings(index: BuiltIndex, terms: Seq[CompiledTerm]): RDD[PostingRow] = {
    val keys = terms.map(t => (t.field, t.term)).distinct.sorted.toArray
    index.shards.rdd.mapPartitions(_.flatMap(table => keys.iterator.flatMap(k => table.rows(k._1, k._2))))
  }

  /** Run a per-shard scoring function over the query's matched posting
    * rows — the ONE physical shape every index scores in: a narrow
    * mapPartitions over the persisted shard tables (`BuiltIndex.shards`),
    * one task per table, a single-stage job with NO exchange (guide
    * §2.4: the bucketing pattern — the build or load pays one
    * shard-keyed shuffle so that no query pays one). Callers run it
    * with one `runJob` (searchF32, the batches under the driver-merge
    * gate) or wrap it with `createDataset` (matchF32/matchF64, the
    * windowed batch).
    *
    * `f` receives exactly the matched rows of one shard, shards
    * ascending. A store's shard may hold several rows per (field, term),
    * one per segment; a docId lives in exactly one segment, so the order
    * of a key's rows cannot change any doc's sum. Tombstones never reach
    * `f`: they are applied to the postings once, when the store's tables
    * are built.
    */
  def shardGrouped[T: ClassTag](index: BuiltIndex, terms: Seq[CompiledTerm])(
      f: Array[PostingRow] => Iterator[T]): RDD[T] =
    matchedPostings(index, terms).mapPartitions { it =>
      // TreeMap: deterministic shard iteration order within a task
      // (output order feeds only order-insensitive consumers — heaps,
      // merges, aggregates — but determinism costs nothing here)
      val byShard = new java.util.TreeMap[Int, scala.collection.mutable.ArrayBuffer[PostingRow]]()
      it.foreach { p =>
        var b = byShard.get(p.shard)
        if (b == null) {
          b = new scala.collection.mutable.ArrayBuffer[PostingRow]()
          byShard.put(p.shard, b)
        }
        b += p
      }
      import scala.jdk.CollectionConverters._
      byShard.values().iterator().asScala.flatMap(rows => f(rows.toArray))
    }

  /** Exhaustive f32 path: tantivy-arithmetic scores for every matching
    * doc, accumulated by the one kernel (`replay`).
    */
  def scoreF32(index: BuiltIndex, cq: CompiledQuery): Dataset[ScoredDocF32] = {
    val caches = normCachesF32(index, cq.terms)
    index.spark.createDataset(scoreAll(index, cq)(new AccF32(_, caches))(
      (acc, docId, o) => ScoredDocF32(docId, acc.score(o))))(Encoders.product[ScoredDocF32])
  }

  /** Oracle-parity f64 path: the same kernel in pure double math
    * (mirrors the DuckDB oracle SQL exactly; see SparkEntry.oracleSql).
    */
  def scoreF64(index: BuiltIndex, cq: CompiledQuery): Dataset[ScoredDocF64] = {
    val caches = normCachesF64(index, cq.terms)
    index.spark.createDataset(scoreAll(index, cq)(new AccF64(_, caches))(
      (acc, docId, o) => ScoredDocF64(docId, acc.score(o))))(Encoders.product[ScoredDocF64])
  }

  /** Exhaustive f32 top-k candidates of one query: each shard's k best
    * under the engine total order (searchF32's exhaustive route).
    */
  def shardTopKF32(index: BuiltIndex, cq: CompiledQuery, k: Int): RDD[ScoredDocF32] = {
    val caches = normCachesF32(index, cq.terms)
    scoreMany(index, Seq(0 -> cq), k)(new AccF32(_, caches))(
      (_, docId, s) => ScoredDocF32(docId, s.toFloat))
  }

  /** Batched multi-query scoring — the cluster THROUGHPUT path: ONE
    * pass over the union of all queries' matched postings, each posting
    * row decoded once per shard and replayed per query; shard-local
    * per-query heaps bound the output at (#shards x #queries x k) rows,
    * so no stage ever carries a corpus-sized per-query match set.
    */
  def scoreManyF32(index: BuiltIndex, queries: Seq[(Int, CompiledQuery)],
      k: Int): RDD[ScoredQDoc] = {
    val caches = normCachesF32(index, queries.flatMap(_._2.terms))
    scoreMany[ScoredQDoc](index, queries, k)(new AccF32(_, caches))(
      (qid, docId, s) => ScoredQDocF32(qid, docId, s.toFloat))
  }

  /** f64 batched path (oracle parity): shard candidates selected under
    * the ROUNDED total order (round(score,4) desc, docId asc) the oracle
    * presentation uses.
    */
  def scoreManyF64(index: BuiltIndex, queries: Seq[(Int, CompiledQuery)],
      k: Int): RDD[ScoredQDoc] = {
    val caches = normCachesF64(index, queries.flatMap(_._2.terms))
    scoreMany[ScoredQDoc](index, queries, k)(new AccF64(_, caches))(ScoredQDocF64(_, _, _))
  }

  /** Global top-k with the engine's total order (score desc, docId asc
    * — tantivy breaks score ties by doc address; we pin docId,
    * SURVEY.md section 2.7 T1) over a lazy scored frame (SQL's
    * thresholded matches). Catalyst plans TakeOrderedAndProject:
    * per-partition heaps + driver merge = distributed top-k.
    */
  def topK(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(col("score").desc, col("docId").asc).limit(k)

  /** The global top-k (docId, score) of per-shard f32 candidates under
    * the engine total order, best first, in ONE job: the batch merge
    * with a single qid — each task merges its shards' heaps and returns
    * them as primitive arrays, and the driver merges those.
    */
  def collectTopK(cands: RDD[ScoredDocF32], k: Int): (Array[Long], Array[Float]) =
    mergeTopK(cands.sparkContext.runJob(cands, (it: Iterator[ScoredDocF32]) => localTopK(it, k)), k)

  /** A task's f32 candidates merged into its top-k (one qid, 0). */
  def localTopK(it: Iterator[ScoredDocF32], k: Int): QCands =
    preMerged(it.map(c => ScoredQDocF32(0, c.docId, c.score)), k, f64 = false)

  /** The global top-k of the tasks' `localTopK`s, best first. */
  def mergeTopK(parts: Iterable[QCands], k: Int): (Array[Long], Array[Float]) = {
    val top = new PerQueryTopK(k, f64 = false)
    parts.foreach(top.offerAll)
    val m = top.result
    (m.docIds, m.scores.map(_.toFloat))
  }

  // ------------------------------------------------- the exhaustive kernel

  /** Driver-side replay plan for ONE query: its distinct (field, term)
    * pairs in the exact order the kernel accumulates them — (min group,
    * field, term) — each pair's clause groups ascending, its compiled
    * terms, the const/required group masks and the group count.
    */
  private[query] final case class QueryPlan(
      qid: Int,
      order: Array[(String, String)],
      groupsOf: Map[(String, String), Array[Int]],
      terms: Map[(String, String, Int), CompiledTerm],
      constMask: Int,
      reqMask: Int,
      nGroups: Int)

  private[query] def mkPlan(qid: Int, cq: CompiledQuery): QueryPlan = {
    val groupsOf = cq.terms.groupBy(t => (t.field, t.term))
      .map { case (key, ts) => key -> ts.map(_.group).distinct.sorted.toArray }
    val order = groupsOf.keys.toArray.sortBy(key => (groupsOf(key)(0), key._1, key._2))
    QueryPlan(qid, order, groupsOf,
      cq.terms.map(t => (t.field, t.term, t.group) -> t).toMap,
      cq.groups.filter(_.constScore).map(g => 1 << g.id).sum,
      cq.requiredMask, cq.groups.size)
  }

  /** Dense per-shard accumulator: a shard is a contiguous docId range
    * of width shardDocs, so flat arrays indexed by (docId - base) beat a
    * boxing HashMap by an order of magnitude in the per-hit loop; `mask`
    * holds each doc's matched clause groups. Exactly two final
    * implementations, one per precision, chosen once per (shard, query):
    * the kernel's per-row call site is at most bimorphic and each
    * per-block loop is monomorphic.
    */
  private[query] sealed abstract class ShardAcc(val shardDocs: Int) {
    final val mask = new Array[Int](shardDocs)
    /** Accumulate one posting row's blocks for the clause group `gBit`. */
    def add(blocks: Array[DecodedBlock], base: Long, t: CompiledTerm, gBit: Int,
        isConst: Boolean): Unit
    def clear(): Unit
    /** Offer doc offset `o` to a shard heap under this precision's order. */
    def offer(heap: TopKHeap, docId: Long, o: Int): Unit
    final def isHit(o: Int, reqMask: Int): Boolean =
      mask(o) != 0 && (mask(o) & reqMask) == reqMask
  }

  /** tantivy f32 arithmetic (rank identity); heap key = the raw score. */
  private[query] final class AccF32(shardDocs: Int, caches: Map[String, Array[Float]])
      extends ShardAcc(shardDocs) {
    val score = new Array[Float](shardDocs)
    def add(blocks: Array[DecodedBlock], base: Long, t: CompiledTerm, gBit: Int,
        isConst: Boolean): Unit = {
      val w = t.weightF32
      val cache = caches(t.field)
      var b = 0
      while (b < blocks.length) {
        val dec = blocks(b)
        var i = 0
        while (i < dec.docIds.length) {
          val o = (dec.docIds(i) - base).toInt
          if (isConst) {
            if ((mask(o) & gBit) == 0) score(o) += 1.0f
          } else {
            score(o) += Bm25.tfScoreF32(w, dec.tfs(i), cache(dec.norms(i)))
          }
          mask(o) |= gBit
          i += 1
        }
        b += 1
      }
    }
    def clear(): Unit = { java.util.Arrays.fill(score, 0.0f); java.util.Arrays.fill(mask, 0) }
    def offer(heap: TopKHeap, docId: Long, o: Int): Unit =
      heap.offer(score(o).toDouble, docId, score(o).toDouble)
  }

  /** DuckDB-oracle f64 arithmetic; heap key = round4 of the score (the
    * oracle's presentation order), raw score carried alongside.
    */
  private[query] final class AccF64(shardDocs: Int, caches: Map[String, Array[Double]])
      extends ShardAcc(shardDocs) {
    val score = new Array[Double](shardDocs)
    def add(blocks: Array[DecodedBlock], base: Long, t: CompiledTerm, gBit: Int,
        isConst: Boolean): Unit = {
      val w = t.weightF64
      val cache = caches(t.field)
      var b = 0
      while (b < blocks.length) {
        val dec = blocks(b)
        var i = 0
        while (i < dec.docIds.length) {
          val o = (dec.docIds(i) - base).toInt
          if (isConst) {
            if ((mask(o) & gBit) == 0) score(o) += 1.0d
          } else {
            score(o) += Bm25.tfScoreF64(w, dec.tfs(i), cache(dec.norms(i)))
          }
          mask(o) |= gBit
          i += 1
        }
        b += 1
      }
    }
    def clear(): Unit = { java.util.Arrays.fill(score, 0.0d); java.util.Arrays.fill(mask, 0) }
    def offer(heap: TopKHeap, docId: Long, o: Int): Unit =
      heap.offer(round4(score(o)), docId, score(o))
  }

  /** THE exhaustive accumulate loop: every score not produced by a WAND
    * walk (scoreF32/F64, scoreManyF32/F64 and Wand.topKMany's exhaustive
    * route) comes out of it. Replays one query's rows of one shard into
    * `acc` in the order f32 rank identity depends on: keys in the plan's
    * (min group, field, term) order, groups ascending, docIds ascending.
    * A key's rows (one per store segment) replay in arrival order; each
    * docId sits in one of them, so their order moves no sum. `blocksOf`
    * decodes a row, or serves it from a shared cache — the caller owns
    * decode accounting.
    */
  private[query] def replay(q: QueryPlan, rowsOfKey: Map[(String, String), Array[PostingRow]],
      blocksOf: PostingRow => Array[DecodedBlock], base: Long, acc: ShardAcc): Unit = {
    acc.clear()
    q.order.foreach { key =>
      rowsOfKey.get(key).foreach(_.foreach { p =>
        val blocks = blocksOf(p)
        q.groupsOf(key).foreach { g =>
          val gBit = 1 << g
          acc.add(blocks, base, q.terms((key._1, key._2, g)), gBit, (q.constMask & gBit) != 0)
        }
      })
    }
  }

  /** `replay`, then the query's shard top-k under the accumulator's
    * total order; `emit` receives (docId, raw score) per kept doc.
    */
  private[query] def replayTopK(q: QueryPlan, rowsOfKey: Map[(String, String), Array[PostingRow]],
      blocksOf: PostingRow => Array[DecodedBlock], base: Long, acc: ShardAcc,
      k: Int)(emit: (Long, Double) => Unit): Unit = {
    replay(q, rowsOfKey, blocksOf, base, acc)
    val heap = new TopKHeap(math.max(1, math.min(k, acc.shardDocs)))
    var o = 0
    while (o < acc.shardDocs) {
      if (acc.isHit(o, q.reqMask)) acc.offer(heap, base + o, o)
      o += 1
    }
    heap.foreachKept(emit)
  }

  private def scoreAll[A <: ShardAcc, T: ClassTag](index: BuiltIndex,
      cq: CompiledQuery)(newAcc: Int => A)(out: (A, Long, Int) => T): RDD[T] = {
    val plan = mkPlan(0, cq)
    val shardDocs = index.config.shardDocs // capture: closures must not drag BuiltIndex in
    shardGrouped(index, cq.terms) { rows =>
      if (rows.isEmpty) Iterator.empty
      else {
        val base = rows(0).shard.toLong * shardDocs
        val acc = newAcc(shardDocs)
        replay(plan, rowsByKey(rows), decodeRow, base, acc)
        Iterator.range(0, shardDocs).filter(o => acc.isHit(o, plan.reqMask))
          .map(o => out(acc, base + o, o))
      }
    }
  }

  private def scoreMany[T: ClassTag](index: BuiltIndex,
      queries: Seq[(Int, CompiledQuery)], k: Int)(newAcc: Int => ShardAcc)(
      out: (Int, Long, Double) => T): RDD[T] = {
    val plans = queries.map { case (qid, cq) => mkPlan(qid, cq) }.toArray
    val shardDocs = index.config.shardDocs
    shardGrouped(index, queries.flatMap(_._2.terms)) { rows =>
      if (rows.isEmpty) Iterator.empty
      else {
        // each matched row decodes ONCE; every subscribing query replays it
        val decoded = new java.util.IdentityHashMap[PostingRow, Array[DecodedBlock]]()
        val blocksOf = (p: PostingRow) =>
          decoded.computeIfAbsent(p, (r: PostingRow) => decodeRow(r))
        val rowsOfKey = rowsByKey(rows)
        val base = rows(0).shard.toLong * shardDocs
        val acc = newAcc(shardDocs)
        val res = Seq.newBuilder[T]
        plans.foreach { q =>
          if (q.order.exists(rowsOfKey.contains))
            replayTopK(q, rowsOfKey, blocksOf, base, acc, k)(
              (d, s) => res += out(q.qid, d, s))
        }
        res.result().iterator
      }
    }
  }

  /** A shard's rows keyed by (field, term). */
  private[query] def rowsByKey(rows: Array[PostingRow]): Map[(String, String), Array[PostingRow]] =
    rows.groupBy(p => (p.field, p.term))

  private[query] def decodeBlock(p: PostingRow, b: Int): DecodedBlock =
    PostingCodec.decodeBlock(p.bytes, p.blockOffset(b), if (b == 0) -1L else p.blockLast(b - 1))

  private def decodeRow(p: PostingRow): Array[DecodedBlock] =
    Array.tabulate(p.blockOffset.length)(decodeBlock(p, _))

  /** Per-field BM25 norm caches, computed driver-side: closures carry
    * the arrays, never the BuiltIndex.
    */
  private[query] def normCachesF32(index: BuiltIndex,
      terms: Seq[CompiledTerm]): Map[String, Array[Float]] =
    terms.map(_.field).distinct.map(f => f -> Bm25.normCacheF32(index.avgFieldnormF32(f))).toMap

  private def normCachesF64(index: BuiltIndex,
      terms: Seq[CompiledTerm]): Map[String, Array[Double]] =
    terms.map(_.field).distinct.map(f => f -> Bm25.normCacheF64(index.avgFieldnormF64(f))).toMap

  /** Bounded top-k selection under the engine total order (sort key
    * desc, docId asc): a min-heap rooted at the worst kept candidate —
    * the exhaustive kernel's and every WAND walk's shard heaps, and the
    * batch's per-qid merges (`PerQueryTopK`). `raw` carries the
    * unrounded score when the sort key is a rounded form of it (f64
    * oracle order). Storage grows with the kept count up to k, so a
    * merge holding one heap per query of a wide batch pays for the
    * candidates it sees, not for queries x k.
    */
  private[query] final class TopKHeap(k: Int) {
    private var ks = new Array[Double](math.min(k, 16))
    private var ds = new Array[Long](ks.length)
    private var raw = new Array[Double](ks.length)
    private var n = 0
    @inline private def worse(k1: Double, d1: Long, k2: Double, d2: Long): Boolean =
      k1 < k2 || (k1 == k2 && d1 > d2)
    private def grow(): Unit = {
      val cap = math.min(k.toLong, 2L * ks.length).toInt
      ks = java.util.Arrays.copyOf(ks, cap)
      ds = java.util.Arrays.copyOf(ds, cap)
      raw = java.util.Arrays.copyOf(raw, cap)
    }
    def offer(key: Double, docId: Long, r: Double): Unit = {
      if (n < k) {
        if (n == ks.length) grow()
        var i = n; ks(i) = key; ds(i) = docId; raw(i) = r; n += 1
        while (i > 0) {
          val p = (i - 1) >> 1
          if (worse(ks(i), ds(i), ks(p), ds(p))) { swap(i, p); i = p } else i = 0
        }
      } else if (worse(ks(0), ds(0), key, docId)) {
        ks(0) = key; ds(0) = docId; raw(0) = r
        var i = 0
        var done = false
        while (!done) {
          val l = 2 * i + 1; val rr = l + 1; var m = i
          if (l < n && worse(ks(l), ds(l), ks(m), ds(m))) m = l
          if (rr < n && worse(ks(rr), ds(rr), ks(m), ds(m))) m = rr
          if (m == i) done = true else { swap(i, m); i = m }
        }
      }
    }
    private def swap(i: Int, j: Int): Unit = {
      val tk = ks(i); ks(i) = ks(j); ks(j) = tk
      val td = ds(i); ds(i) = ds(j); ds(j) = td
      val tr = raw(i); raw(i) = raw(j); raw(j) = tr
    }
    /** Sort key of the worst kept candidate; -inf until the heap is full. */
    def threshold: Double = if (n < k) Double.NegativeInfinity else ks(0)
    def foreachKept(f: (Long, Double) => Unit): Unit = {
      var i = 0; while (i < n) { f(ds(i), raw(i)); i += 1 }
    }
    /** The kept (docId, raw score) pairs, best first. */
    def sorted: Array[(Long, Double)] =
      (0 until n).sortWith((i, j) => worse(ks(j), ds(j), ks(i), ds(i)))
        .map(i => (ds(i), raw(i))).toArray
  }

  /** Mirrors Spark's `round(col, 4)` on DoubleType (BigDecimal.valueOf
    * + HALF_UP) — the f64 batch path selects shard candidates under the
    * SAME rounded total order the oracle presentation uses, so
    * shard-local then global selection compose exactly.
    */
  @inline private[query] def round4(x: Double): Double =
    java.math.BigDecimal.valueOf(x).setScale(4, java.math.RoundingMode.HALF_UP).doubleValue()

  // ------------------------------------------------- batched per-qid top-k

  /** Per-qid top-k of batch candidates under the batch's total order —
    * key desc, docId asc, where the key is the f32 score itself or, for
    * `f64`, its round4 (the oracle order) — with scores unchanged. The
    * order of the shard heaps and of topKPerQuery's window, so merging
    * shard candidates per task and then across tasks selects exactly
    * what the window selects.
    */
  private[query] final class PerQueryTopK(k: Int, f64: Boolean) {
    private val heaps = new java.util.TreeMap[Int, TopKHeap]()
    def offer(qid: Int, docId: Long, raw: Double): Unit = {
      var h = heaps.get(qid)
      if (h == null) { h = new TopKHeap(k); heaps.put(qid, h) }
      h.offer(if (f64) round4(raw) else raw, docId, raw)
    }
    def offerAll(c: QCands): Unit = {
      var i = 0
      while (i < c.qids.length) { offer(c.qids(i), c.docIds(i), c.scores(i)); i += 1 }
    }
    /** The kept candidates, qids ascending, each qid's best first. */
    def result: QCands = {
      import scala.jdk.CollectionConverters._
      val kept = heaps.entrySet().iterator().asScala
        .flatMap(e => e.getValue.sorted.iterator.map { case (d, s) => (e.getKey.intValue, d, s) })
        .toArray
      QCands(kept.map(_._1), kept.map(_._2), kept.map(_._3))
    }
  }

  /** A task's batch candidates merged per qid (at most k each). */
  def preMerged(it: Iterator[ScoredQDoc], k: Int, f64: Boolean): QCands = {
    val top = new PerQueryTopK(k, f64)
    it.foreach(c => top.offer(c.qid, c.docId, c.raw))
    top.result
  }

  /** Per-query global top-k over the batched candidates: the same total
    * order as topK, partitioned by qid — the lazy alternative to the
    * driver-side merge for batches whose candidates are too many to
    * collect. The window input is bounded by (#tasks x #queries x k)
    * thanks to the shard and task pre-merges, and each qid partition
    * holds at most (#tasks x k) rows — no reducer ever sees a
    * corpus-sized set.
    */
  def topKPerQuery(scored: DataFrame, k: Int,
      orderKey: org.apache.spark.sql.Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(orderKey.desc, col("docId").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }
}
