package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, Row}
import org.apache.spark.sql.functions._
import scala.reflect.runtime.universe.TypeTag

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
final case class ScoredQDocF32(qid: Int, docId: Long, score: Float)
final case class ScoredQDocF64(qid: Int, docId: Long, score: Double)

/** Distributed scoring over the sharded posting lists.
  *
  * Plan shape (scale rationale): the posting rows matching the query's
  * terms are a *tiny* Dataset (#terms x #shards rows) selected with a
  * `term IN (...)` filter against the postings cache, which is already
  * co-partitioned by docId shard — so each task merges all clause
  * postings for its disjoint docId ranges with no exchange at all,
  * per-doc aggregation happens in-task, and the global top-k is a
  * TakeOrdered over per-shard candidates. No query-time shuffle moves
  * posting rows; only the per-shard candidates leave their task.
  */
object Scorer {

  /** Pushdown-friendly selection of the query's posting rows. The exact
    * (field, term) pair match stays a Column expression (codegen'd, on
    * top of the pushed-down isin scans) instead of a typed filter that
    * would force row deserialization.
    */
  def matchedPostings(index: BuiltIndex, terms: Seq[CompiledTerm]): Dataset[PostingRow] = {
    val termKeys = terms.map(_.term).distinct
    val fieldKeys = terms.map(_.field).distinct
    val base = index.postings
      .filter(col("term").isin(termKeys: _*) && col("field").isin(fieldKeys: _*))
    if (fieldKeys.size <= 1) base
    else {
      val pairKeys = terms.map(t => t.field + "\u0000" + t.term).distinct
      base.filter(concat_ws("\u0000", col("field"), col("term")).isin(pairKeys: _*))
    }
  }

  /** Run a per-shard scoring function over the query's matched posting
    * rows — the ONE physical shape every index scores in. Every index's
    * postings cache is co-partitioned by docId shard
    * (`IndexBuilder.shardLocal`), so every row of a shard already sits
    * in one cache partition and the scorers run as a mapPartitions
    * directly over the pruned cache scan — a single-stage Spark job with
    * NO exchange (guide §2.4: the bucketing pattern — the build or load
    * pays one shard-keyed shuffle so that no query pays one).
    *
    * `f` receives exactly the matched rows of one shard. A store's shard
    * may hold several rows per (field, term), one per segment; a docId
    * lives in exactly one segment, so the order of a key's rows cannot
    * change any doc's sum. Tombstones never reach `f`: they are applied
    * to the postings once, when the store loads.
    */
  def shardGrouped[T](index: BuiltIndex, terms: Seq[CompiledTerm])(
      f: Array[PostingRow] => Iterator[T])(
      implicit enc: org.apache.spark.sql.Encoder[T]): Dataset[T] =
    matchedPostings(index, terms).mapPartitions { it =>
      // TreeMap: deterministic shard iteration order within a task
      // (output ROW order feeds only order-insensitive consumers —
      // topK / aggregates — but determinism costs nothing here)
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
    scoreAll(index, cq)(new AccF32(_, caches))(
      (acc, docId, o) => ScoredDocF32(docId, acc.score(o)))
  }

  /** Oracle-parity f64 path: the same kernel in pure double math
    * (mirrors the DuckDB oracle SQL exactly; see SparkEntry.oracleSql).
    */
  def scoreF64(index: BuiltIndex, cq: CompiledQuery): Dataset[ScoredDocF64] = {
    val caches = normCachesF64(index, cq.terms)
    scoreAll(index, cq)(new AccF64(_, caches))(
      (acc, docId, o) => ScoredDocF64(docId, acc.score(o)))
  }

  /** Batched multi-query scoring — the cluster THROUGHPUT path: ONE
    * pass over the union of all queries' matched postings, each posting
    * row decoded once per shard and replayed per query; shard-local
    * per-query heaps bound the output at (#shards x #queries x k) rows,
    * so no stage ever carries a corpus-sized per-query match set.
    */
  def scoreManyF32(index: BuiltIndex, queries: Seq[(Int, CompiledQuery)],
      k: Int): Dataset[ScoredQDocF32] = {
    val caches = normCachesF32(index, queries.flatMap(_._2.terms))
    scoreMany(index, queries, k)(new AccF32(_, caches))(
      (qid, docId, s) => ScoredQDocF32(qid, docId, s.toFloat))
  }

  /** f64 batched path (oracle parity): shard candidates selected under
    * the ROUNDED total order (round(score,4) desc, docId asc) the oracle
    * presentation uses.
    */
  def scoreManyF64(index: BuiltIndex, queries: Seq[(Int, CompiledQuery)],
      k: Int): Dataset[ScoredQDocF64] = {
    val caches = normCachesF64(index, queries.flatMap(_._2.terms))
    scoreMany(index, queries, k)(new AccF64(_, caches))(ScoredQDocF64(_, _, _))
  }

  /** Global top-k with the engine's total order (score desc, docId asc
    * — tantivy breaks score ties by doc address; we pin docId,
    * SURVEY.md section 2.7 T1). Catalyst plans TakeOrderedAndProject:
    * per-partition heaps + driver merge = distributed top-k.
    */
  def topK(scored: DataFrame, k: Int): DataFrame =
    scored.orderBy(col("score").desc, col("docId").asc).limit(k)

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

  private def scoreAll[A <: ShardAcc, T <: Product: TypeTag](index: BuiltIndex,
      cq: CompiledQuery)(newAcc: Int => A)(out: (A, Long, Int) => T): Dataset[T] = {
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
    }(Encoders.product[T])
  }

  private def scoreMany[T <: Product: TypeTag](index: BuiltIndex,
      queries: Seq[(Int, CompiledQuery)], k: Int)(newAcc: Int => ShardAcc)(
      out: (Int, Long, Double) => T): Dataset[T] = {
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
    }(Encoders.product[T])
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
    * batch's per-qid merges (`mergePerQuery`). `raw` carries the
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

  /** A batch candidate frame (qid int, docId long, score float|double)
    * holds f64 scores, i.e. merges under the rounded oracle order.
    */
  def isF64(candidates: DataFrame): Boolean =
    candidates.schema("score").dataType == org.apache.spark.sql.types.DoubleType

  /** Per-qid top-k of batch candidate rows (qid, docId, score) under
    * the batch's total order — key desc, docId asc, where the key is
    * the f32 score itself or, for `f64`, its round4 (the oracle order)
    * — emitted best first per qid, qids ascending, scores unchanged.
    * The order of the shard heaps and of topKPerQuery's window, so
    * merging shard candidates per task and then across tasks selects
    * exactly what the window selects.
    */
  def mergePerQuery(rows: Iterator[Row], k: Int, f64: Boolean): Iterator[Row] = {
    val heaps = new java.util.TreeMap[Int, TopKHeap]()
    rows.foreach { r =>
      val s = if (f64) r.getDouble(2) else r.getFloat(2).toDouble
      var h = heaps.get(r.getInt(0))
      if (h == null) { h = new TopKHeap(k); heaps.put(r.getInt(0), h) }
      h.offer(if (f64) round4(s) else s, r.getLong(1), s)
    }
    import scala.jdk.CollectionConverters._
    heaps.entrySet().iterator().asScala.flatMap { e =>
      e.getValue.sorted.iterator.map { case (d, s) =>
        if (f64) Row(e.getKey, d, s) else Row(e.getKey, d, s.toFloat)
      }
    }
  }

  /** The batch's candidate frame pre-merged per task: a narrow
    * mapPartitions in the scoring stage that merges the task's shard
    * heaps per qid, so a task returns at most #queries x k rows.
    */
  def preMerged(candidates: DataFrame, k: Int): DataFrame = {
    val f64 = isF64(candidates)
    candidates.mapPartitions(it => mergePerQuery(it, k, f64))(Encoders.row(candidates.schema))
  }

  /** Per-query global top-k over the batched candidates: the same total
    * order as topK, partitioned by qid — the lazy alternative to a
    * driver-side `mergePerQuery` for batches whose candidates are too
    * many to collect. The window input is bounded by
    * (#tasks x #queries x k) thanks to the shard and task pre-merges,
    * and each qid partition holds at most (#tasks x k) rows — no
    * reducer ever sees a corpus-sized set.
    */
  def topKPerQuery(scored: DataFrame, k: Int,
      orderKey: org.apache.spark.sql.Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("qid")).orderBy(orderKey.desc, col("docId").asc)
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k).drop("__rn")
  }
}
