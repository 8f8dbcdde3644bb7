package graft.query

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Dataset, Encoders}

import graft.index.{BuiltIndex, DecodedBlock, PostingRow}

/** Block-max WAND top-k pruning (SURVEY.md section 2.7 T4): the
  * performance semantics of tantivy 0.22's top-k execution, re-expressed
  * for a dataflow engine. Each docId shard runs an independent WAND with
  * its own heap (threshold starts at -inf); per-shard pruning is
  * conservative, so merging the per-shard top-k candidates by the global
  * total order (score desc, docId asc) is exact — asserted equal to the
  * exhaustive scorer in WandSpec.
  *
  * Applies to single-group sum-scored disjunctions (the hot top-k fts
  * path) and — via `topKConj` — to multi-group all-required
  * conjunctions (the reference's flagship WHERE shape, fuzzy.sql:10-12)
  * including const-score groups. Anything else uses the exhaustive
  * scorer.
  */
object Wand {

  /** Skip/decode counters (Spark accumulators, aggregated across
    * tasks) — the lineage-style evidence that block-max pruning
    * actually skips work at a given corpus size.
    */
  final case class Stats(
      decodedBlocks: org.apache.spark.util.LongAccumulator,
      skippedBlocks: org.apache.spark.util.LongAccumulator) extends Serializable

  object Stats {
    def register(spark: org.apache.spark.sql.SparkSession): Stats = Stats(
      spark.sparkContext.longAccumulator("wandDecodedBlocks"),
      spark.sparkContext.longAccumulator("wandSkippedBlocks"))
  }

  /** Shard-scoped lazy block store shared by every query of a batch:
    * each posting block decodes AT MOST once per shard, and only when
    * some query's execution actually lands on it — the batched analogue
    * of single-query block-max skipping (a block is decoded only if ANY
    * query of the batch could admit it). Blocks no query ever touched
    * are the batch's skip count.
    */
  private final class BlockCache(stats: Option[Stats]) {
    private val map = new java.util.IdentityHashMap[PostingRow, Array[DecodedBlock]]()
    private var decoded = 0L
    private var total = 0L
    def register(p: PostingRow): Unit =
      if (!map.containsKey(p)) {
        map.put(p, new Array[DecodedBlock](p.blockOffset.length))
        total += p.blockOffset.length
      }
    def block(p: PostingRow, b: Int): DecodedBlock = {
      val arr = map.get(p)
      var d = arr(b)
      if (d == null) {
        d = Scorer.decodeBlock(p, b)
        arr(b) = d
        decoded += 1
        stats.foreach(_.decodedBlocks.add(1L))
      }
      d
    }
    /** Whole-row decode for the exhaustive-replay route. */
    def decodeRow(p: PostingRow): Array[DecodedBlock] =
      Array.tabulate(p.blockOffset.length)(b => block(p, b))
    /** Account the blocks NO query of the batch ever decoded. */
    def finish(): Unit = stats.foreach(_.skippedBlocks.add(total - decoded))
  }

  /** Streaming block-decoding cursor over one term's posting row. When
    * `shared` is set (batched path), decodes go through the batch's
    * BlockCache — a block another query already pulled is free, and the
    * cache owns decode/skip accounting (per-cursor stats stay None).
    */
  private final class Cursor(
      val p: PostingRow,
      val weight: Float,
      val cache: Array[Float],
      val stats: Option[Stats] = None,
      val shared: BlockCache = null) {
    private var blockIdx = 0
    private var dec: DecodedBlock = _
    private var pos = 0
    private var exhausted = false
    decodeCurrent()

    // ULP safety margin on every BOUND (never on exact scores): the
    // driver loop sums per-cursor UBs in byDoc order while the exact
    // score sums in the original cursors order — each f32 addend
    // dominates its exact counterpart, but f32 addition is not
    // order-monotone, so the "upper" bound sum can land a few ULPs
    // below the true score and wrongly prune a threshold-tying doc
    // (same hazard wandShardConj documents for its weight sums).
    // ~8 ULPs of slack dominates the rounding hazard and only makes
    // pruning infinitesimally more conservative.
    private final val UbMargin = 1.000001f

    // suffix max of block UBs, precomputed once: remainingUB is O(1)
    private val ubSuffix: Array[Float] = {
      val n = p.blockOffset.length
      val a = new Array[Float](n)
      var b = n - 1
      var m = 0.0f
      while (b >= 0) {
        val ub = Bm25.tfScoreF32(weight, p.blockMaxTf(b), cache(p.blockMinNorm(b))) * UbMargin
        if (ub > m) m = ub
        a(b) = m
        b -= 1
      }
      a
    }

    /** UB of any doc still reachable from this cursor. */
    def remainingUB: Float = if (exhausted) 0.0f else ubSuffix(blockIdx)

    def currentBlockUB: Float =
      Bm25.tfScoreF32(weight, p.blockMaxTf(blockIdx), cache(p.blockMinNorm(blockIdx))) * UbMargin

    def currentBlockLast: Long = p.blockLast(blockIdx)

    private def decodeCurrent(): Unit = {
      dec = if (shared != null) shared.block(p, blockIdx) else Scorer.decodeBlock(p, blockIdx)
      pos = 0
      if (shared == null) stats.foreach(_.decodedBlocks.add(1L))
    }

    def done: Boolean = exhausted
    def curDoc: Long = if (exhausted) Long.MaxValue else dec.docIds(pos)
    def curScore: Float = Bm25.tfScoreF32(weight, dec.tfs(pos), cache(dec.norms(pos)))
    def curTf: Int = dec.tfs(pos)
    def curNorm: Int = dec.norms(pos)

    /** Account the never-decoded tail when pruning ends this cursor. */
    def skipRemaining(): Unit = {
      if (!exhausted)
        stats.foreach(_.skippedBlocks.add((p.blockOffset.length - blockIdx - 1).toLong))
      exhausted = true
    }

    def next(): Unit = {
      pos += 1
      if (pos >= dec.docIds.length) {
        blockIdx += 1
        if (blockIdx >= p.blockOffset.length) exhausted = true
        else decodeCurrent()
      }
    }

    /** Skip to the first doc >= target, decoding only the landing block. */
    def advanceTo(target: Long): Unit = {
      if (exhausted || curDoc >= target) return
      if (p.blockLast(blockIdx) < target) {
        var b = blockIdx
        while (b < p.blockLast.length && p.blockLast(b) < target) b += 1
        stats.foreach(_.skippedBlocks.add(
          (math.min(b, p.blockLast.length) - blockIdx - 1).toLong.max(0L)))
        if (b >= p.blockLast.length) { exhausted = true; return }
        blockIdx = b
        decodeCurrent()
      }
      while (pos < dec.docIds.length && dec.docIds(pos) < target) pos += 1
      if (pos >= dec.docIds.length) { // target falls between blocks
        blockIdx += 1
        if (blockIdx >= p.blockOffset.length) exhausted = true
        else decodeCurrent()
      }
    }
  }

  /** A shard heap's kept hits (f32 scores ride TopKHeap's raw doubles exactly). */
  private def kept(heap: Scorer.TopKHeap): Iterator[ScoredDocF32] = {
    val out = Array.newBuilder[ScoredDocF32]
    heap.foreachKept((d, s) => out += ScoredDocF32(d, s.toFloat))
    out.result().iterator
  }

  /** Exact per-shard top-k via WAND with block-max skipping. */
  private def wandShard(rows: Array[PostingRow], q: Scorer.QueryPlan,
      caches: Map[String, Array[Float]], k: Int,
      stats: Option[Stats] = None, shared: BlockCache = null): Iterator[ScoredDocF32] = {
    // scoring order must match the exhaustive scorer: (field, term) sorted
    val sortedRows = rows.sortBy(p => (p.field, p.term))
    val cursors = sortedRows.map { p =>
      val g = q.groupsOf((p.field, p.term))(0)
      new Cursor(p, q.terms((p.field, p.term, g)).weightF32, caches(p.field),
        if (shared == null) stats else None, shared)
    }
    val heap = new Scorer.TopKHeap(k)

    // working order: kept nearly-sorted by curDoc across iterations, so
    // the per-iteration insertion sort is ~O(n) and the driver loop is
    // allocation-free (a fresh sortBy+filter per pivot dominated WAND's
    // cost on dense queries where little can be skipped)
    val byDoc = cursors.clone()
    var nLive = byDoc.length
    var running = nLive > 0
    while (running) {
      var i = 1
      while (i < nLive) { // insertion sort by curDoc (exhausted = MaxValue)
        val c = byDoc(i)
        val d = c.curDoc
        var j = i - 1
        while (j >= 0 && byDoc(j).curDoc > d) { byDoc(j + 1) = byDoc(j); j -= 1 }
        byDoc(j + 1) = c
        i += 1
      }
      while (nLive > 0 && byDoc(nLive - 1).done) nLive -= 1
      if (nLive == 0) {
        running = false
      } else {
        // pivot: shortest prefix whose UB sum could still beat the heap
        // (>= not >: an equal score with a smaller docId still wins)
        var ubSum = 0.0f
        var p = -1
        i = 0
        while (i < nLive && p < 0) {
          ubSum += byDoc(i).remainingUB
          if (ubSum >= heap.threshold) p = i
          i += 1
        }
        if (p < 0) {
          i = 0
          while (i < nLive) { byDoc(i).skipRemaining(); i += 1 } // count the tails
          running = false // no doc can enter the heap anymore
        } else {
          val pivotDoc = byDoc(p).curDoc
          // include every cursor already sitting on the pivot doc, so the
          // block-max skip target is strictly beyond pivotDoc (progress)
          while (p + 1 < nLive && byDoc(p + 1).curDoc == pivotDoc) p += 1
          if (byDoc(0).curDoc == pivotDoc) {
            // shallow block-max refinement over cursors at/before pivot
            var bmSum = 0.0f
            var j = 0
            while (j <= p) { bmSum += byDoc(j).currentBlockUB; j += 1 }
            if (bmSum < heap.threshold) {
              // no doc up to the nearest block boundary can win: skip
              var boundary = Long.MaxValue
              j = 0
              while (j <= p) { boundary = math.min(boundary, byDoc(j).currentBlockLast); j += 1 }
              var nextDoc = boundary + 1
              j = p + 1
              while (j < nLive) { nextDoc = math.min(nextDoc, byDoc(j).curDoc); j += 1 }
              j = 0
              while (j <= p) { byDoc(j).advanceTo(nextDoc); j += 1 }
            } else {
              // full score of pivotDoc: f32 sum in (field, term) order —
              // the ORIGINAL cursors array preserves that order
              var s = 0.0f
              var ci = 0
              while (ci < cursors.length) {
                val c = cursors(ci)
                if (!c.done && c.curDoc == pivotDoc) s += c.curScore
                ci += 1
              }
              heap.offer(s, pivotDoc, s)
              // all cursors at pivotDoc are the sorted prefix 0..p
              j = 0
              while (j <= p) { if (byDoc(j).curDoc == pivotDoc) byDoc(j).next(); j += 1 }
            }
          } else {
            var j = 0
            while (j < p && byDoc(j).curDoc < pivotDoc) { byDoc(j).advanceTo(pivotDoc); j += 1 }
          }
        }
      }
    }
    kept(heap)
  }

  /** Exact per-shard top-k for multi-group ALL-REQUIRED conjunctions:
    * leapfrog intersection over per-group cursor sets (candidate = max
    * over groups of the group's min docId; blocks between candidates
    * are skipped via advanceTo), with two conservative prunes — a
    * global remaining-UB early exit and a per-candidate block-max
    * refinement before exact scoring. Exact vs the exhaustive scorer:
    * the intersection enumerates every doc matching all groups, the
    * prunes only drop docs whose UPPER bound is strictly below the
    * heap threshold, and exact scores accumulate in the exhaustive
    * f32 order (rows sorted (minGroup, field, term); groups ascending
    * within a row; const groups contribute 1.0 once).
    */
  private def wandShardConj(rows: Array[PostingRow],
      q: Scorer.QueryPlan,
      caches: Map[String, Array[Float]],
      k: Int,
      stats: Option[Stats],
      shared: BlockCache = null): Iterator[ScoredDocF32] = {
    val constMask = q.constMask
    val nGroups = q.nGroups
    val sortedRows = rows.sortBy(p => (q.groupsOf((p.field, p.term))(0), p.field, p.term))
    if (sortedRows.isEmpty) return Iterator.empty
    val rowGroups: Array[Array[Int]] = sortedRows.map(p => q.groupsOf((p.field, p.term)))
    val cursors = sortedRows.map { p =>
      // cursor UB weight = the row's total non-const BM25 weight (its
      // whole contribution to any one doc); const groups add flat 1.0s.
      // Inflate by 1e-6 relative: the exact score sums per-group f32
      // products while the UB multiplies the f32 SUM of weights — each
      // rounds independently, so without margin the "upper" bound can
      // land a few ULPs BELOW the true score and a tie-threshold doc
      // could be wrongly pruned (exactness contract). ~8 ULPs of slack
      // dominates the <=3 ULPs of rounding hazard and only makes
      // pruning infinitesimally more conservative.
      val wSum = q.groupsOf((p.field, p.term)).iterator
        .filter(g => (constMask & (1 << g)) == 0)
        .map(g => q.terms((p.field, p.term, g)).weightF32.toDouble).sum
      new Cursor(p, (wSum * (1.0 + 1e-6)).toFloat, caches(p.field),
        if (shared == null) stats else None, shared)
    }
    val cursorsOfGroup: Array[Array[Int]] =
      Array.tabulate(nGroups)(g => cursors.indices.filter(i => rowGroups(i).contains(g)).toArray)
    if (cursorsOfGroup.exists(_.isEmpty)) {
      cursors.foreach(_.skipRemaining()) // a required group has no terms here
      return Iterator.empty
    }
    val heap = new Scorer.TopKHeap(k)
    val constSeen = new Array[Boolean](nGroups)

    var done = false
    while (!done) {
      // intersection candidate = max over groups of the group min
      var cand = 0L
      var g = 0
      while (g < nGroups && !done) {
        var m = Long.MaxValue
        val cg = cursorsOfGroup(g)
        var j = 0
        while (j < cg.length) { val d = cursors(cg(j)).curDoc; if (d < m) m = d; j += 1 }
        if (m == Long.MaxValue) done = true // group exhausted: no more intersections
        else if (m > cand) cand = m
        g += 1
      }
      if (!done) {
        // global remaining-UB prune (equal UB can still win on docId, so <)
        var ub = 0.0f
        var ci = 0
        while (ci < cursors.length) { ub += cursors(ci).remainingUB; ci += 1 }
        g = 0
        while (g < nGroups) {
          if ((constMask & (1 << g)) != 0) ub += 1.0f
          g += 1
        }
        if (ub < heap.threshold) {
          cursors.foreach(_.skipRemaining())
          done = true
        } else {
          ci = 0
          while (ci < cursors.length) {
            val c = cursors(ci); if (c.curDoc < cand) c.advanceTo(cand); ci += 1
          }
          var all = true
          g = 0
          while (g < nGroups && all) {
            val cg = cursorsOfGroup(g)
            var has = false
            var j = 0
            while (j < cg.length && !has) { if (cursors(cg(j)).curDoc == cand) has = true; j += 1 }
            if (!has) all = false
            g += 1
          }
          if (all) {
            // block-max refinement: UB of cand from block metadata
            var bub = 0.0f
            java.util.Arrays.fill(constSeen, false)
            ci = 0
            while (ci < cursors.length) {
              val c = cursors(ci)
              if (!c.done && c.curDoc == cand) {
                bub += c.currentBlockUB
                val gs = rowGroups(ci)
                var gi = 0
                while (gi < gs.length) {
                  val gg = gs(gi)
                  if ((constMask & (1 << gg)) != 0 && !constSeen(gg)) {
                    bub += 1.0f; constSeen(gg) = true
                  }
                  gi += 1
                }
              }
              ci += 1
            }
            if (bub >= heap.threshold) {
              // exact f32 score, exhaustive accumulation order
              var s = 0.0f
              java.util.Arrays.fill(constSeen, false)
              ci = 0
              while (ci < cursors.length) {
                val c = cursors(ci)
                if (!c.done && c.curDoc == cand) {
                  val p = sortedRows(ci)
                  val gs = rowGroups(ci)
                  var gi = 0
                  while (gi < gs.length) {
                    val gg = gs(gi)
                    if ((constMask & (1 << gg)) != 0) {
                      if (!constSeen(gg)) { s += 1.0f; constSeen(gg) = true }
                    } else {
                      s += Bm25.tfScoreF32(
                        q.terms((p.field, p.term, gg)).weightF32, c.curTf, c.cache(c.curNorm))
                    }
                    gi += 1
                  }
                }
                ci += 1
              }
              heap.offer(s, cand, s)
            }
            ci = 0
            while (ci < cursors.length) {
              val c = cursors(ci); if (!c.done && c.curDoc == cand) c.next(); ci += 1
            }
          }
        }
      }
    }
    kept(heap)
  }

  /** Top-k for a multi-group all-required conjunction; exact w.r.t. the
    * exhaustive scorer under the (score desc, docId asc) total order.
    */
  def topKConj(index: BuiltIndex, cq: CompiledQuery, k: Int,
      stats: Option[Stats] = None): Dataset[ScoredDocF32] =
    topKConjShards(index, cq, k, stats).fold(
      index.spark.emptyDataset(Encoders.product[ScoredDocF32]))(
      index.spark.createDataset(_)(Encoders.product[ScoredDocF32]))

  /** The per-shard heaps of `topKConj`; None when some group matches no
    * dictionary term anywhere (the intersection is empty, no job runs).
    */
  private[query] def topKConjShards(index: BuiltIndex, cq: CompiledQuery, k: Int,
      stats: Option[Stats]): Option[RDD[ScoredDocF32]] = {
    require(cq.groups.nonEmpty && cq.groups.forall(_.required),
      "conjunction WAND covers all-required multi-group queries")
    if (cq.groups.exists(g => !cq.terms.exists(_.group == g.id))) None
    else Some(walkShards(index, cq, k)(wandShardConj(_, _, _, _, stats)))
  }

  /** One single-query WAND walk per shard. A store's tombstoned docs
    * were dropped from the postings when its tables were built, so the
    * walk never meets them and every heap fills with live docs only.
    */
  private def walkShards(index: BuiltIndex, cq: CompiledQuery, k: Int)(
      walk: (Array[PostingRow], Scorer.QueryPlan, Map[String, Array[Float]], Int) =>
        Iterator[ScoredDocF32]): RDD[ScoredDocF32] = {
    val plan = Scorer.mkPlan(0, cq)
    val caches = Scorer.normCachesF32(index, cq.terms)
    val kk = math.min(k, index.config.shardDocs) // a shard holds at most shardDocs hits
    Scorer.shardGrouped(index, cq.terms)(walk(_, plan, caches, kk))
  }

  /** The ONE WAND routing decision, taken by searchF32 and (through
    * batchRoute) by the batch path: 0 = single-group sum-scored
    * disjunction WAND (`topK`), 1 = all-required conjunction WAND
    * (`topKConj`), 2 = the exhaustive scorer.
    *
    * Disjunction gate: block-max skips happen when at least one term is
    * selective — its high-idf hits push the top-k threshold above the
    * dense terms' block maxima (93% of the hot term's blocks skipped on
    * the rare+hot shape at 2M docs, BENCH.md). A uniformly dense
    * disjunction (every term hot) never lifts the threshold past any
    * block max, skips nothing, and pays pure cursor bookkeeping
    * (measured 0.94x vs exhaustive).
    *
    * Conjunction gate: leapfrog + block-max pays off when at least one
    * required group is selective (the intersection is sparse and the
    * other groups' blocks get skipped between its postings — measured
    * 1.8x at 2M docs). A dense-x-dense conjunction has nothing to skip
    * and the per-candidate bookkeeping just loses to the exhaustive
    * hash scorer (measured +24%).
    */
  private[query] def route(cq: CompiledQuery, numDocs: Long): Int =
    if (cq.groups.size == 1 && !cq.groups.head.constScore &&
        cq.terms.map(_.df).min * 4 <= numDocs) 0
    else if (cq.groups.size > 1 && cq.groups.forall(_.required) &&
        cq.groups.map(g => cq.terms.filter(_.group == g.id).map(_.df).sum).min * 4 <= numDocs) 1
    else 2

  /** `route` PLUS the batch-only bounds: a disjunction's total match
    * set must stay under half the corpus, and every conjunction group
    * must have terms. Per-(query, shard) WAND setup + per-doc
    * bookkeeping is paid once in the single-query path but multiplied
    * by batch width x shard count here, while the exhaustive replay's
    * extra cost is one shardDocs array scan per (query, shard). A query
    * whose terms match a large fraction of the corpus walks nearly every
    * posting WITH bookkeeping and skips almost nothing (27M skew leg:
    * WAND 3.1x SLOWER than exhaustive at sum-df ~ 0.6N, while sparse
    * mixes run 1.8x FASTER) — dense queries take the replay.
    */
  private def batchRoute(cq: CompiledQuery, numDocs: Long): Int = route(cq, numDocs) match {
    case 0 if cq.terms.map(_.df).sum * 2 <= numDocs => 0
    case 1 if cq.groups.forall(g => cq.terms.exists(_.group == g.id)) => 1
    case _ => 2
  }

  /** Is `cq` a shape the batched WAND path should take? The batch
    * caller (searchManyF32) partitions on this: routable queries run
    * here with shared-cache pruning, everything else runs the
    * exhaustive Scorer batch pass.
    */
  def batchWandRoutable(cq: CompiledQuery, numDocs: Long): Boolean = batchRoute(cq, numDocs) != 2

  /** ONE query of a batch: its batchRoute and its replay plan (read by
    * both WAND walks and by the exhaustive kernel).
    */
  private final case class BatchPlan(route: Int, plan: Scorer.QueryPlan)

  /** Batched multi-query top-k with SHARED lazy block decoding — the
    * serving-throughput path with single-query WAND's pruning grafted
    * on. Each query replays via the exact algorithm the single-query
    * path would pick for it (batchRoute), but all queries of a
    * shard draw decoded blocks from one BlockCache: a block decodes at
    * most once per shard, and ONLY if some query's WAND walk (or an
    * exhaustive-shape query subscribed to its term) actually needs it —
    * blocks beyond every subscribing query's threshold horizon are
    * never touched. Per-query results stay bit-identical to searchF32
    * (BatchSearchSpec): WAND routes are exact by the WandSpec
    * invariant, and the exhaustive route runs Scorer's kernel.
    * Reference semantics: tantivy BlockWAND (Cargo.lock:242) applied
    * per query of lnx's concurrent search load.
    */
  def topKMany(index: BuiltIndex, queries: Seq[(Int, CompiledQuery)], k: Int,
      stats: Option[Stats] = None): RDD[ScoredQDoc] = {
    val plans = queries.map { case (qid, cq) =>
      BatchPlan(batchRoute(cq, index.numDocs), Scorer.mkPlan(qid, cq))
    }.toArray
    val allTerms = queries.flatMap(_._2.terms)
    val caches = Scorer.normCachesF32(index, allTerms)
    val shardDocs = index.config.shardDocs
    val kk = k
    Scorer.shardGrouped[ScoredQDoc](index, allTerms)(batchShard(_, plans, caches, shardDocs, kk, stats))
  }

  private def batchShard(rows: Array[PostingRow], plans: Array[BatchPlan],
      caches: Map[String, Array[Float]], shardDocs: Int, k: Int,
      stats: Option[Stats]): Iterator[ScoredQDoc] = {
    if (rows.isEmpty || k <= 0) return Iterator.empty
    val cache = new BlockCache(stats)
    rows.foreach(cache.register)
    val rowsOfKey = Scorer.rowsByKey(rows)
    val base = rows(0).shard.toLong * shardDocs
    val shardK = math.min(k, shardDocs)
    // one accumulator shared by every exhaustive-route query of the shard
    lazy val acc = new Scorer.AccF32(shardDocs, caches)
    val out = Seq.newBuilder[ScoredQDoc]
    plans.foreach { q =>
      val qid = q.plan.qid
      val qRows = q.plan.order.flatMap(rowsOfKey.getOrElse(_, Array.empty[PostingRow]))
      if (qRows.nonEmpty) q.route match {
        case 0 =>
          wandShard(qRows, q.plan, caches, shardK, stats, cache)
            .foreach(h => out += ScoredQDocF32(qid, h.docId, h.score))
        case 1 =>
          wandShardConj(qRows, q.plan, caches, shardK, stats, cache)
            .foreach(h => out += ScoredQDocF32(qid, h.docId, h.score))
        case _ =>
          // the exhaustive kernel, every decode through the shared cache
          Scorer.replayTopK(q.plan, rowsOfKey, cache.decodeRow, base, acc, k)(
            (d, s) => out += ScoredQDocF32(qid, d, s.toFloat))
      }
    }
    cache.finish()
    out.result().iterator
  }

  /** Top-k for a single-group disjunction; exact w.r.t. the exhaustive
    * scorer under the (score desc, docId asc) total order.
    */
  def topK(index: BuiltIndex, cq: CompiledQuery, k: Int,
      stats: Option[Stats] = None): Dataset[ScoredDocF32] =
    index.spark.createDataset(topKShards(index, cq, k, stats))(Encoders.product[ScoredDocF32])

  /** The per-shard heaps of `topK`. */
  private[query] def topKShards(index: BuiltIndex, cq: CompiledQuery, k: Int,
      stats: Option[Stats]): RDD[ScoredDocF32] = {
    require(cq.groups.size == 1 && !cq.groups.head.constScore,
      "WAND path covers single-group sum-scored queries; use Scorer for the rest")
    walkShards(index, cq, k)(wandShard(_, _, _, _, stats))
  }
}
