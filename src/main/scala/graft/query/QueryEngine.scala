package graft.query

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType, StructField,
  StructType}
import org.apache.spark.storage.StorageLevel

import graft.index.{BuiltIndex, DocRange, TermDf}

/** Search clauses: the WHERE-clause surface of the lnx SQL dialect
  * (SURVEY.md section 2.4; lnx-server/src/apis/mod.rs:200-281). Each
  * clause is one clause group; `required = true` composes clauses as a
  * conjunction whose score is the sum of clause scores (P4).
  */
sealed trait SearchClause { def required: Boolean }

/** `fts(col, query)`: BM25; trailing `*` on a term = prefix expansion
  * (apis/mod.rs:208-222). */
final case class Fts(field: String, query: String, required: Boolean = true) extends SearchClause

/** `fuzzy(col, query)`: BM25 x edit-distance multiplier
  * (apis/mod.rs:225-246; worked example pins distance 2 -> 0.6). */
final case class FuzzyC(field: String, query: String, maxDist: Int = 2,
    multipliers: Seq[Double] = Seq(1.0, 0.8, 0.6), required: Boolean = true) extends SearchClause {
  // compile indexes multipliers(min(d, size - 1)): an empty list would
  // surface as a bare IndexOutOfBounds(-1) deep in query compilation
  require(multipliers.nonEmpty, "fuzzy needs at least one distance multiplier")
  // WAND's block-max upper bounds assume non-negative term weights
  // (max-tf x weight is only an UPPER bound for weight >= 0): a
  // negative multiplier would turn them into lower bounds and let the
  // pruned path silently return a different top-k than the exhaustive
  // scorer
  require(multipliers.forall(_ >= 0.0), "distance multipliers must be non-negative")
}

/** `levenshtein(col, query)`: pure fuzzy match, 1.0/0.0, no BM25
  * (apis/mod.rs:249-266). */
final case class LevC(field: String, query: String, maxDist: Int = 2,
    required: Boolean = true) extends SearchClause

/** `regex(col, pattern)`: pattern vs whole terms, 1.0/0.0
  * (apis/mod.rs:269-281). */
final case class RegexC(field: String, pattern: String, required: Boolean = true) extends SearchClause

/** lnx fast-fuzzy: pre-computed spell correction of the query, then
  * plain BM25 (README.md:28; SURVEY.md F5). */
final case class FastFuzzy(field: String, query: String, required: Boolean = true) extends SearchClause

/** more-like-this: top tf-idf terms of a seed doc as a disjunction
  * (README.md:29; SURVEY.md F6). */
final case class MoreLikeThis(field: String, docId: Long, topTerms: Int = 8,
    required: Boolean = true) extends SearchClause

/** Compiles search clauses against an index's term dictionary and runs
  * them through the distributed scorers. Every term-dictionary lookup
  * (df, prefix/fuzzy/regex expansion, fast-fuzzy correction) runs
  * `LocalTermDict`: a compile asks a sequence of pieces all its lookups
  * at once and merges their answers on the driver
  * (`LocalTermDict.merge`) — the Spark analogue of tantivy consulting
  * its per-segment FST term dictionaries at plan time. While the
  * dictionary fits the cap, the sequence is the one driver snapshot and
  * a compile runs no Spark job; above it, one job asks one piece per
  * partial-df partition in place (no shuffle, no Catalyst plan).
  *
  * @param dictMaxTerms the driver snapshot's term cap
  *   (`SearchDefaults.LocalDictMaxTerms`); specs lower it to force the
  *   pieces.
  */
final class QueryEngine private[graft] (val index: BuiltIndex, dictMaxTerms: Int) {
  import SearchDefaults._
  import LocalTermDict.{DictAnswer, DictAsk}

  def this(index: BuiltIndex) = this(index, SearchDefaults.LocalDictMaxTerms)

  /** Driver-side term-dictionary snapshot (the tantivy-FST analogue —
    * see LocalTermDict), built ONCE per engine in one Spark job with no
    * shuffle: each task returns its partition's partial dfs
    * (`BuiltIndex.termDfs`: a store's termstats file, a build's shard
    * table), or None at once when it holds more than the cap, and the
    * driver sums them per (field, term). The job runs only when the
    * partial dfs hold at most `LocalDictPartialRowsPerTerm` x cap rows
    * (`BuiltIndex.termDfRows`, known without a job), so that many rows at
    * most reach the driver at any corpus scale. When the whole
    * dictionary fits under the cap, every lookup answers driver-side
    * with zero Spark jobs; otherwise None and lookups ask the `pieces`.
    * Lazy: engines that never consult the dictionary never pay the
    * probe.
    */
  private[graft] lazy val localDict: Option[LocalTermDict] = {
    val cap = dictMaxTerms
    if (index.termDfRows > LocalDictPartialRowsPerTerm.toLong * cap) None
    else {
      val parts = index.spark.sparkContext.runJob(index.termDfs, (it: Iterator[TermDf]) => {
        val held = it.take(cap + 1).toArray
        if (held.length > cap) None else Some(held)
      })
      if (parts.contains(None)) None
      else {
        val dfs = scala.collection.mutable.HashMap.empty[(String, String), Long]
        parts.foreach(_.get.foreach(t =>
          dfs.updateWith((t.field, t.term))(df => Some(df.getOrElse(0L) + t.df))))
        if (dfs.size > cap) None
        else Some(LocalTermDict.fromRows(dfs.iterator.map { case ((f, t), df) => TermDf(f, t, df) }))
      }
    }
  }

  /** Observability: whether this engine serves dictionary lookups from
    * the driver-side snapshot (forces the probe). */
  private[graft] def localDictActive: Boolean = localDict.nonEmpty

  /** The dictionary above the snapshot's cap: one LocalTermDict per
    * partial-df partition (`BuiltIndex.termDfs`, no (field, term) twice
    * in one), built in place with no shuffle by the first lookup's job
    * and kept for the engine's lifetime (`release`). */
  @volatile private var piecesUsed = false
  private lazy val pieces: RDD[LocalTermDict] = {
    piecesUsed = true
    index.termDfs.mapPartitions(it => Iterator.single(LocalTermDict.fromRows(it)))
      .persist(StorageLevel.MEMORY_ONLY)
  }

  /** Every answer to `ask`, merged over the pieces: the driver snapshot,
    * or one job over the partition pieces. An empty ask runs nothing. */
  private def lookup(ask: DictAsk): DictAnswer =
    if (ask.isEmpty) DictAnswer.empty
    else LocalTermDict.merge(ask, localDict match {
      case Some(d) => Seq(d.answer(ask))
      case None =>
        index.spark.sparkContext.runJob(pieces,
          (it: Iterator[LocalTermDict]) => it.next().answer(ask)).toSeq
    })

  /** Release every cached block this engine pinned: the index's, plus
    * the dictionary pieces if a lookup built them. Spark's CacheManager
    * holds persisted datasets strongly — dropping the engine reference
    * alone leaks the blocks until executor storage eviction.
    */
  def release(): Unit = {
    index.unpersist()
    if (piecesUsed) pieces.unpersist(blocking = false)
  }

  /** Fast-fuzzy correction of a query token (lnx's pre-computed spell
    * correction, README.md:28): the dictionary term within
    * SymSpell.MaxDistance of smallest distance, then largest df, then
    * least; the token itself when none is. */
  def correct(field: String, tok: String): String =
    lookup(DictAsk(correct = Seq((field, tok)))).corrections((field, tok)).fold(tok)(_._1)

  /** The seed document's (term -> tf) in `field` for more-like-this,
    * read through lookupDocs' fetch (one job over the docs partition
    * whose window holds it); empty when no doc has the id. */
  private def seedCounts(field: String, docId: Long): Map[String, Int] = {
    // fail with a clear contract error rather than a ClassCastException
    // out of getString below when the seed field is a non-text column
    // (a non-INDEXED text field degrades gracefully to zero terms)
    val dt = index.docs.schema(field).dataType
    // isInstanceOf, not singleton ==: collated StringType still getStrings fine
    require(dt.isInstanceOf[org.apache.spark.sql.types.StringType],
      s"more_like_this: field '$field' is ${dt.simpleString}, not a text column")
    fetchRows(Seq(docId), Seq(field)).headOption.fold(Map.empty[String, Int]) { r =>
      graft.analyze.Tokenizers.tokenCounts(index.config.tokenizerOf(field),
        Option(r.getString(1)).getOrElse(""))._1.toMap
    }
  }

  /** Top tf-idf terms of a seed document (more-like-this), from its
    * term counts and the dictionary's dfs. */
  private def seedTerms(counts: Map[String, Int], field: String, topTerms: Int,
      dfs: Map[(String, String), Long]): Seq[(String, Long)] =
    counts.toSeq
      .flatMap { case (t, tf) =>
        dfs.get((field, t)).map(df => (tf.toDouble * Bm25.idfF64(df, index.numDocs), t, df))
      }
      .sortBy { case (tfidf, t, _) => (-tfidf, t) }
      .take(topTerms)
      .map(s => (s._2, s._3))

  /** Compiled-query LRU: dictionary lookups can run Spark jobs (the
    * snapshot probe, the pieces above its cap, a more-like-this seed
    * fetch), so repeated queries must not re-pay them — the engine-side
    * analogue of the reference caching compiled query parts across
    * requests (apis/mod.rs:68-69). Keyed on
    * the clause list (params are already bound into it); the cache dies
    * with the engine, which mutations invalidate.
    */
  private val compileCache =
    new java.util.LinkedHashMap[Seq[SearchClause], CompiledQuery](16, 0.75f, true) {
      // capacity >= MaxBatchWidth so one batch can never evict itself
      // between compile and execution; entries are driver-side term
      // lists (a few KB), so even full this is megabytes, not memory
      override def removeEldestEntry(
          e: java.util.Map.Entry[Seq[SearchClause], CompiledQuery]): Boolean =
        size() > SearchDefaults.MaxBatchWidth
    }

  /** Observability: compile calls served from the LRU. */
  @volatile var compileCacheHits: Long = 0L

  /** Memo of the docs columns lookupDocs and searchWithDocs read, by
    * column list (`BuiltIndex.docColumns`: a build's cached-docs
    * projection, planned once per list instead of per call, or a
    * store's planless docs scan). Scoring has nothing to memoize: it
    * runs over the shard tables directly.
    */
  private val docColumnsCache =
    new java.util.LinkedHashMap[Seq[String], (StructType, RDD[InternalRow])](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Seq[String], (StructType, RDD[InternalRow])]): Boolean =
        size() > SearchDefaults.MaxBatchWidth
    }

  /** Searches served a memoized planned frame: none since searches stopped
    * planning; kept (always 0) for callers that report the ratio. */
  @volatile var planCacheHits: Long = 0L

  def compile(clauses: Seq[SearchClause]): CompiledQuery = compileMany(Seq(clauses)).head

  /** Compile a BATCH of queries. Every query missing from the LRU
    * contributes its lookups to ONE DictAsk (`lookup`: no job on the
    * driver snapshot, one job above its cap, independent of batch
    * width), and each compiles from the merged answer, so a batch
    * compile produces the identical CompiledQuery as a single one
    * (BatchSearchSpec gates it); results land in the same LRU. The
    * lookups run OUTSIDE the LRU lock, so concurrent callers never wait
    * behind cluster work.
    */
  def compileMany(batch: Seq[Seq[SearchClause]]): Seq[CompiledQuery] = {
    import scala.collection.mutable
    // assemble results OUT OF BAND of the LRU: a batch wider than the
    // cache capacity evicts its own fresh entries, and a final
    // lookup-through-compile() would silently RE-compile the evicted
    // majority (measured: ~384 stray compile jobs inside one 512-wide
    // timed batch)
    val compiled = mutable.HashMap.empty[Seq[SearchClause], CompiledQuery]
    compileCache.synchronized {
      batch.distinct.foreach { q =>
        val hit = compileCache.get(q)
        if (hit != null) { compileCacheHits += 1; compiled(q) = hit }
      }
    }
    val misses = batch.distinct.filterNot(compiled.contains)
    misses.foreach(q => require(q.size <= 32, "at most 32 clause groups"))
    if (misses.nonEmpty) {
      val exact = mutable.LinkedHashSet.empty[(String, String)]
      val prefix = mutable.LinkedHashSet.empty[(String, String)]
      val fuzzy = mutable.LinkedHashSet.empty[(String, Int, String)]
      val correct = mutable.LinkedHashSet.empty[(String, String)]
      val regex = mutable.LinkedHashSet.empty[(String, String)]
      val seeds = mutable.HashMap.empty[(String, Long), Map[String, Int]]
      misses.flatten.foreach {
        case Fts(field, query, _) =>
          val (prefixToks, exactToks) = ftsTokenParts(field, query)
          exactToks.foreach(t => exact += ((field, t)))
          prefixToks.foreach(p => prefix += ((field, p.dropRight(1))))
        case FuzzyC(field, query, maxDist, _, _) =>
          tokenizeQuery(field, query).foreach(t => fuzzy += ((field, maxDist, t)))
        case LevC(field, query, maxDist, _) =>
          tokenizeQuery(field, query).foreach(t => fuzzy += ((field, maxDist, t)))
        case RegexC(field, pattern, _) => regex += ((field, pattern))
        case FastFuzzy(field, query, _) =>
          tokenizeQuery(field, query).foreach(t => correct += ((field, t)))
        case MoreLikeThis(field, docId, _, _) =>
          val counts = seeds.getOrElseUpdate((field, docId), seedCounts(field, docId))
          counts.keys.foreach(t => exact += ((field, t)))
      }
      val answer = lookup(DictAsk(exact.toSeq, prefix.toSeq, fuzzy.toSeq, correct.toSeq, regex.toSeq))
      misses.foreach { q =>
        val cq = compileUncached(q, answer, seeds)
        compiled(q) = cq
        compileCache.synchronized { compileCache.put(q, cq) }
      }
    }
    batch.map(compiled)
  }

  /** Fts token split shared by compile and the batch gatherer: raw
    * fields have no prefix-marker semantics (a trailing '*' stays part
    * of the exact value); otherwise tokens ending in '*' are prefix
    * expansion requests.
    */
  private def ftsTokenParts(field: String, query: String): (Seq[String], Seq[String]) = {
    val toks = tokenizeQuery(field, query)
    if (index.config.tokenizerOf(field) == "raw") (Nil, toks)
    else toks.partition(_.endsWith("*"))
  }

  /** Compile clauses to weighted terms from the dictionary's answers and
    * the more-like-this seeds' term counts. Group ids = clause positions. */
  private def compileUncached(clauses: Seq[SearchClause], ans: DictAnswer,
      seeds: collection.Map[(String, Long), Map[String, Int]]): CompiledQuery = {
    val n = index.numDocs
    val groups = clauses.zipWithIndex.map { case (c, i) =>
      CompiledGroup(i, c.required, c match {
        case _: LevC | _: RegexC => true
        case _ => false
      })
    }
    def fuzzyOf(field: String, maxDist: Int, tok: String) =
      ans.fuzzy.getOrElse((field, maxDist, tok), Nil)
    val terms = clauses.zipWithIndex.flatMap { case (c, g) =>
      c match {
        case Fts(field, query, _) =>
          val (prefixToks, exactToks) = ftsTokenParts(field, query)
          // query-token order, not the dictionary's
          val exact = exactToks.distinct.flatMap(t => ans.dfs.get((field, t)).map(df => (t, df)))
          val pre = prefixToks.flatMap(p => ans.prefix.getOrElse((field, p.dropRight(1)), Nil))
          (exact ++ pre).map { case (t, df) => mkTerm(field, t, df, 1.0, g, n) }
        case FuzzyC(field, query, maxDist, mult, _) =>
          tokenizeQuery(field, query).flatMap { tok =>
            fuzzyOf(field, maxDist, tok).map { case (t, df, d) =>
              mkTerm(field, t, df, mult(math.min(d, mult.size - 1)), g, n)
            }
          }
        case LevC(field, query, maxDist, _) =>
          tokenizeQuery(field, query).flatMap { tok =>
            fuzzyOf(field, maxDist, tok).map { case (t, df, _) => mkTerm(field, t, df, 1.0, g, n) }
          }
        case RegexC(field, pattern, _) =>
          ans.regex.getOrElse((field, pattern), Nil).map { case (t, df) => mkTerm(field, t, df, 1.0, g, n) }
        case FastFuzzy(field, query, _) =>
          // the correction carries the corrected term's df; a token with
          // none is not a dictionary term (it would correct to itself)
          tokenizeQuery(field, query).flatMap(t => ans.corrections.getOrElse((field, t), None))
            .distinct.map { case (t, df) => mkTerm(field, t, df, 1.0, g, n) }
        case MoreLikeThis(field, docId, topTerms, _) =>
          seedTerms(seeds((field, docId)), field, topTerms, ans.dfs)
            .map { case (t, df) => mkTerm(field, t, df, 1.0, g, n) }
      }
    }
    // dedupe (field, term, group); keep first
    val seen = scala.collection.mutable.HashSet.empty[(String, String, Int)]
    val uniq = terms.filter(t => seen.add((t.field, t.term, t.group)))
    CompiledQuery(uniq, groups)
  }

  private def mkTerm(f: String, t: String, df: Long, mult: Double, g: Int, n: Long): CompiledTerm =
    CompiledTerm(f, t, g, Bm25.weightF32(df, n) * mult.toFloat, Bm25.weightF64(df, n) * mult, df)

  /** Query tokenization: same tokenizer as the indexed column
    * (apis/mod.rs:211-213), except a trailing `*` survives as a prefix
    * marker on its token. A `raw`-tokenized column yields the whole
    * query text as ONE un-analyzed token (exact-value match) — no
    * whitespace splitting and no prefix-marker stripping, so values
    * legitimately ending in '*' stay exact (compile skips the prefix
    * partition for raw fields).
    */
  def tokenizeQuery(field: String, q: String): Seq[String] = {
    val name = index.config.tokenizerOf(field)
    if (name == "raw") graft.analyze.Tokenizers.tokenize(name, q).toSeq
    else q.split("\\s+").toSeq.filter(_.nonEmpty).flatMap { raw =>
      val isPrefix = raw.endsWith("*")
      val toks = graft.analyze.Tokenizers.tokenize(name, if (isPrefix) raw.dropRight(1) else raw)
      if (toks.isEmpty) Nil
      else if (isPrefix) toks.init ++ Seq(toks.last + "*")
      else toks.toSeq
    }
  }

  /** (docId, score float) — rank-identity path, best first (score desc,
    * docId asc). Block-max WAND handles eligible queries by default —
    * single sum-scored groups AND all-required conjunctions (the
    * reference's flagship WHERE shape), behind Wand.route's cost gates —
    * and is exact w.r.t. the exhaustive scorer (WandSpec). Runs ONE job
    * over the shard tables (Scorer.collectTopK) and returns a local
    * frame, with wandStats filled when the call returns.
    */
  def searchF32(clauses: Seq[SearchClause], k: Int = DefaultLimit, useWand: Boolean = true,
      wandStats: Option[Wand.Stats] = None): DataFrame = {
    val (ids, scores) = topHits(clauses, k, useWand, wandStats)
    localFrame(scoredSchema(f64 = false), ids.indices.map(i => Row(ids(i), scores(i))))
  }

  /** The per-shard top-k candidates of `clauses`, by Wand.route; None
    * when nothing can match (no job to run).
    */
  private def shardCandidates(clauses: Seq[SearchClause], k: Int, useWand: Boolean,
      wandStats: Option[Wand.Stats]): Option[RDD[ScoredDocF32]] = {
    // LIMIT 0 is legal SQL and must return zero rows, not crash the
    // WAND tasks (a zero-capacity shard heap cannot take an offer)
    if (k <= 0) return None
    val cq = compile(clauses)
    if (cq.terms.isEmpty) None
    else (if (useWand) Wand.route(cq, index.numDocs) else 2) match {
      case 0 => Some(Wand.topKShards(index, cq, k, wandStats))
      case 1 => Wand.topKConjShards(index, cq, k, wandStats)
      case _ => Some(Scorer.shardTopKF32(index, cq, k))
    }
  }

  /** searchF32's hits as (docIds, scores), best first. */
  private def topHits(clauses: Seq[SearchClause], k: Int, useWand: Boolean = true,
      wandStats: Option[Wand.Stats] = None): (Array[Long], Array[Float]) =
    shardCandidates(clauses, k, useWand, wandStats)
      .fold((Array.empty[Long], Array.empty[Float]))(Scorer.collectTopK(_, k))

  /** searchF32 as a lazy frame over the same shard candidates, planned
    * but never run by the engine: what EXPLAIN prints for a capped
    * search, with no Spark job.
    */
  private[graft] def searchF32Planned(clauses: Seq[SearchClause], k: Int): DataFrame =
    shardCandidates(clauses, k, useWand = true, wandStats = None).fold(
      localFrame(scoredSchema(f64 = false), Nil))(c =>
      Scorer.topK(index.spark.createDataset(c)(Encoders.product[ScoredDocF32]).toDF(), k))

  /** (docId, score double) — oracle-parity path. Top-k selection runs
    * under the ORACLE's total order (round(score,4) desc, docId asc),
    * the same order searchManyF64's shard heaps use — selecting under
    * raw-double order disagreed with the batched path (and DuckDB's
    * LIMIT) whenever k cut between docs tied at 4dp.
    */
  def searchF64(clauses: Seq[SearchClause], k: Int = DefaultLimit,
      threshold: Option[Double] = None): DataFrame =
    matchF64(clauses, threshold)
      .orderBy(round(col("score"), 4).desc, col("docId").asc).limit(k)

  /** Batched multi-query top-k — the cluster THROUGHPUT path
    * (qid, docId, score float). The reference's envelope is many small
    * queries per second ("process searches like ... another lookup",
    * README.md); per-query Spark jobs pay a scheduler round-trip each,
    * so a serving layer batches: ALL queries of the batch score in ONE
    * pass over the union of their matched postings — each posting block
    * decodes once per shard and replays per query in the exact
    * single-query accumulation order, making per-query results
    * bit-identical to searchF32 (BatchSearchSpec). Shard-local
    * per-query heaps, pre-merged per task, bound the candidates at
    * (#tasks x #queries x k) rows; the driver collects and merges them
    * per qid (batchTopK), so a batch runs as ONE Spark job with no
    * exchange, and the call returns a local frame with its wandStats
    * filled. compileMany asks the dictionary once per batch, so job
    * count is O(1) in batch width. Block-max pruning applies PER QUERY
    * on top of the shared decode (Wand.topKMany): every query runs the
    * algorithm the single-query path would pick for it, all queries of
    * a shard draw blocks from one lazy cache, and a block decodes only
    * if ANY query of the batch actually lands on it.
    */
  def searchManyF32(queries: Seq[(Int, Seq[SearchClause])], k: Int = DefaultLimit,
      wandStats: Option[Wand.Stats] = None): DataFrame = {
    require(queries.map(_._1).distinct.size == queries.size, "qids must be unique")
    // every scoring task carries every query's compiled plan in its
    // closure — bounded here so a runaway batch degrades loudly into
    // "chunk your batch", not into silent multi-MB task binaries
    require(queries.size <= MaxBatchWidth, s"batch wider than $MaxBatchWidth: chunk it")
    if (k <= 0) return localFrame(batchSchema(f64 = false), Nil)
    val splitMinDocs = index.spark.conf
      .get("graft.batch.splitMinDocs", SearchDefaults.BatchSplitMinDocs.toString).toLong
    val cqs = queries.map(_._1).zip(compileMany(queries.map(_._2)))
    val nonEmpty = cqs.filter(_._2.terms.nonEmpty)
    if (nonEmpty.isEmpty) return localFrame(batchSchema(f64 = false), Nil)
    // partition the batch by WAND routability: sparse queries take the
    // shared-cache pruned pass (Wand.topKMany), dense ones the
    // exhaustive hash replay (Scorer.scoreManyF32) — per-query WAND
    // bookkeeping at batch-width x shard-count scale only pays on
    // sparse match sets (Wand.batchWandRoutable). Terms shared across
    // the two subsets decode once per pass; the split is driver-side
    // and deterministic, and per-query results are bit-identical on
    // either path (BatchSearchSpec).
    //
    // Corpus-size floor on the split: a mixed batch runs a SECOND pass
    // over the postings (the WAND pass unioned with the exhaustive one:
    // twice the tasks), which at small corpora is pure scheduler
    // overhead against near-zero skippable blocks — q_batch32 regressed
    // 125 -> 104 qps at 50k docs when the split landed, while the same
    // split wins 1.38x on the 27M Zipf mix (BENCH.md). Below the floor
    // the whole batch takes the exhaustive replay (the r4-proven
    // single-pass path, bit-identical per BatchSearchSpec).
    // Scale-adaptive (derived from the corpus, not local core count)
    // and conf-overridable for tests/tuning.
    val (sparse, dense) =
      if (index.numDocs >= splitMinDocs)
        nonEmpty.partition(q => Wand.batchWandRoutable(q._2, index.numDocs))
      else (Nil, nonEmpty)
    val passes: Seq[RDD[ScoredQDoc]] = Seq(
      if (sparse.nonEmpty) Some(Wand.topKMany(index, sparse, k, wandStats)) else None,
      if (dense.nonEmpty) Some(Scorer.scoreManyF32(index, dense, k)) else None).flatten
    batchTopK(passes.reduce(_ union _), k, queries.size, f64 = false)
  }

  /** f64 batched path (oracle parity): (qid, docId, score double),
    * per-query order (round(score,4) desc, docId asc) — the oracle's
    * presentation order, applied consistently in the shard-local heaps
    * and the global per-qid selection.
    */
  def searchManyF64(queries: Seq[(Int, Seq[SearchClause])], k: Int = DefaultLimit): DataFrame = {
    require(queries.map(_._1).distinct.size == queries.size, "qids must be unique")
    require(queries.size <= MaxBatchWidth, s"batch wider than $MaxBatchWidth: chunk it")
    if (k <= 0) return localFrame(batchSchema(f64 = true), Nil)
    val cqs = queries.map(_._1).zip(compileMany(queries.map(_._2)))
    val nonEmpty = cqs.filter(_._2.terms.nonEmpty)
    if (nonEmpty.isEmpty) return localFrame(batchSchema(f64 = true), Nil)
    batchTopK(Scorer.scoreManyF64(index, nonEmpty, k), k, nonEmpty.size, f64 = true)
  }

  /** Candidate rows up to which batchTopK merges on the driver; the
    * engine's gate, lowered by tests to force the window branch.
    */
  @volatile private[graft] var driverMergeRows: Long = SearchDefaults.DriverMergeRows

  /** A batch's per-qid top-k over its shard candidates, as a frame
    * (qid, docId, score float|double) under the batch total order —
    * score desc (f32) or round4 desc (f64), then docId asc. While the
    * candidates fit the gate, ONE job runs: each task merges its shard
    * heaps per qid (`Scorer.preMerged`) and returns them as primitive
    * arrays, the driver merges those per qid (`Scorer.PerQueryTopK`),
    * and the result is a local frame, qids ascending, each qid's best
    * first. The gate needs no job: each task returns at most k rows per
    * query, a pass runs one task per shard table and there are at most
    * `BuiltIndex.searchPartitions` tables, the sparse and dense passes
    * split the queries, and no query keeps more rows than the index has
    * docs.
    * Above it — wide batches at large k — the same pre-merged
    * candidates become a lazy frame under a per-qid window (one hash
    * exchange on qid), which keeps the rows off the driver.
    */
  private[graft] def batchTopK(cands: RDD[ScoredQDoc], k: Int, nQueries: Int,
      f64: Boolean): DataFrame = {
    val bound = nQueries.toLong * math.min(index.searchPartitions.toLong * k, index.numDocs)
    if (bound > driverMergeRows) {
      val preMerged = cands.mapPartitions(it => Scorer.preMerged(it, k, f64).rows(f64))
      Scorer.topKPerQuery(index.spark.createDataFrame(preMerged, batchSchema(f64)), k,
        if (f64) round(col("score"), 4) else col("score"))
    } else {
      val top = new Scorer.PerQueryTopK(k, f64)
      index.spark.sparkContext.runJob(cands, (it: Iterator[ScoredQDoc]) => Scorer.preMerged(it, k, f64))
        .foreach(top.offerAll)
      localFrame(batchSchema(f64), top.result.rows(f64).toSeq)
    }
  }

  /** Unlimited (docId, score float) match set on the rank-identity path. */
  def matchF32(clauses: Seq[SearchClause]): DataFrame = {
    val cq = compile(clauses)
    if (cq.terms.isEmpty) return localFrame(scoredSchema(f64 = false), Nil)
    Scorer.scoreF32(index, cq).toDF("docId", "score")
  }

  /** Unlimited (docId, score double) match set (facet counting, custom
    * ordering at the call site).
    */
  def matchF64(clauses: Seq[SearchClause], threshold: Option[Double] = None): DataFrame = {
    val cq = compile(clauses)
    if (cq.terms.isEmpty) return localFrame(scoredSchema(f64 = true), Nil)
    val scored = Scorer.scoreF64(index, cq).toDF("docId", "score")
    threshold.map(t => scored.filter(col("score") > lit(t))).getOrElse(scored)
  }

  /** Join scored docIds back to stored fields (the only docId join the
    * engine needs, SURVEY.md section 2.3). Callers MUST pass a limited
    * scored side (searchF32, or a threshold + limit) and
    * its cap: the broadcast hint is only sound while the cap is
    * broadcast-sized (`MaxBroadcastK`) — above it, or for unlimited
    * match sets (see facetCounts), the join runs un-hinted and AQE
    * picks the strategy from runtime sizes.
    */
  def withDocs(scored: DataFrame, docCols: Seq[String],
      cap: Long = SearchDefaults.DefaultLimit): DataFrame = {
    val cols = docCols.map(col) :+ col("score")
    val side = if (cap <= SearchDefaults.MaxBroadcastK) broadcast(scored) else scored
    index.docs.join(side, "docId").select(cols: _*)
  }

  /** Stored fields (docId +: docCols) of an already-collected top-k
    * docId set: the one stored-field fetch (lnx takes the top-k as
    * (score, docAddr) and then reads only those payloads, SURVEY.md
    * section 3.1). Ids no doc carries are absent from the result.
    *
    * With `BuiltIndex.docRanges` (in-memory builds, and stores under
    * the load's tombstone gate, whose docs partitions are their file
    * pairs' docs files) the fetch is ONE job over only the docs
    * partitions whose window holds a requested id, reading its
    * (docId +: docCols) columns (`BuiltIndex.docColumns`, memoized per
    * column list: a build's cached-docs projection, a store's planless
    * scan of its docs files); each task stops past
    * its partition's largest requested id, matched rows are converted
    * on the executors and the result is a local frame, in no particular
    * order. No requested id, no job. Without ranges (a heavy-churn
    * store) it is a lazy pushed-down IN filter: every docs file is
    * docId-sorted, so the scan prunes to the row groups holding the
    * ids.
    */
  def lookupDocs(ids: Seq[Long], docCols: Seq[String]): DataFrame = {
    require(ids.size <= MaxLookupIds, "lookupDocs is for top-k result sets, not bulk reads")
    if (index.docRanges.isEmpty)
      index.docs.filter(col("docId").isin(ids: _*))
        .select((col("docId") +: docCols.map(col)): _*)
    else {
      val (schema, rows) = fetchRanged(ids, docCols)
      localFrame(schema, rows.toSeq)
    }
  }

  /** lookupDocs' rows, on the driver: with the range table, without a
    * SQL execution. */
  private def fetchRows(ids: Seq[Long], docCols: Seq[String]): Array[Row] =
    if (index.docRanges.isEmpty) lookupDocs(ids, docCols).collect()
    else fetchRanged(ids, docCols)._2

  /** lookupDocs' range-pruned fetch, as the projection's schema and the
    * matched rows. */
  private def fetchRanged(ids: Seq[Long], docCols: Seq[String]): (StructType, Array[Row]) = {
    val (schema, docsRdd) = docColumns(docCols)
    val want = DocFetch.byPartition(index.docRanges.get, ids)
    if (want.isEmpty) return (schema, Array.empty)
    val toRow = CatalystTypeConverters.createToScalaConverter(schema)
    val parts = index.spark.sparkContext.runJob(docsRdd,
      (ctx: TaskContext, it: Iterator[InternalRow]) => DocFetch.rows(it, want(ctx.partitionId()), toRow),
      want.keys.toSeq.sorted)
    (schema, parts.flatten)
  }

  /** The (docId +: docCols) rows of every docs partition and their
    * schema, built once per column list (`docColumnsCache`). */
  private def docColumns(docCols: Seq[String]): (StructType, RDD[InternalRow]) = {
    docColumnsCache.synchronized {
      val hit = docColumnsCache.get(docCols)
      if (hit != null) return hit
    }
    val read = index.docColumns(docCols)
    docColumnsCache.synchronized { docColumnsCache.put(docCols, read) }
    read
  }

  /** Does a capped search of k hits score and fetch in one job
    * (searchWithDocs)? Only while every docs partition's local top-k
    * together stays a top-k page: partitions x k <= MaxLookupIds. */
  private[graft] def fetchesInScoringJob(k: Int): Boolean =
    index.docRanges.exists(r => r.length.toLong * k <= MaxLookupIds)

  /** Top-k (score desc, docId asc, the searchF32 order) with stored
    * fields, as a local frame (docId +: docCols :+ score float) in that
    * order. Needs `BuiltIndex.docRanges` and k <= MaxLookupIds.
    *
    * Under the `fetchesInScoringJob` gate it is ONE job: shard table p
    * and docs partition p hold the same docs, so task p takes
    * its partition's top-k and reads those ids' stored fields from its
    * own docs partition (docId-ascending, so the scan stops past the
    * largest wanted id); the driver merges the local top-ks — exact,
    * since the global top-k is a subset of their union. Above the gate,
    * two jobs: searchF32's top-k, then lookupDocs' range-pruned fetch.
    * No job when nothing can match. A hit whose stored fields were not
    * returned fails loudly, naming its docId: never a silently shorter
    * page.
    */
  private[graft] def searchWithDocs(clauses: Seq[SearchClause], k: Int,
      docCols: Seq[String]): DataFrame = {
    require(index.docRanges.nonEmpty && k <= MaxLookupIds,
      "searchWithDocs needs docId ranges and k <= MaxLookupIds")
    val (schema, docsRdd) = docColumns(docCols)
    val ((ids, scores), rows) =
      if (!fetchesInScoringJob(k)) {
        val hits = topHits(clauses, k)
        (hits, fetchRanged(hits._1.toSeq, docCols)._2)
      } else shardCandidates(clauses, k, useWand = true, wandStats = None) match {
        case None => ((Array.empty[Long], Array.empty[Float]), Array.empty[Row])
        case Some(cands) =>
          require(cands.getNumPartitions == docsRdd.getNumPartitions,
            s"shard tables (${cands.getNumPartitions} partitions) are not co-partitioned " +
              s"with the docs (${docsRdd.getNumPartitions})")
          val toRow = CatalystTypeConverters.createToScalaConverter(schema)
          val parts = index.spark.sparkContext.runJob(
            cands.zipPartitions(docsRdd) { (cs, docs) =>
              val top = Scorer.localTopK(cs, k)
              Iterator.single((top, DocFetch.rows(docs, top.docIds.sorted, toRow)))
            },
            (it: Iterator[(QCands, Array[Row])]) => it.next())
          (Scorer.mergeTopK(parts.map(_._1), k), parts.flatMap(_._2))
      }
    val byId = rows.iterator.map(r => r.getLong(0) -> r).toMap
    val out = ids.indices.map { i =>
      val d = byId.getOrElse(ids(i), throw new IllegalStateException(
        s"stored fields of docId ${ids(i)} are missing from the docs fetch"))
      Row.fromSeq(d.toSeq :+ scores(i))
    }
    localFrame(schema.add("score", FloatType, nullable = false), out)
  }

  /** Hierarchical facet counting over a match set (the `facet` type's
    * drill-down aggregation, apis/mod.rs:177): count matching docs per
    * facet path prefix. The match set is unlimited (every doc matching
    * the query), so no broadcast hint — AQE decides from runtime sizes.
    */
  def facetCounts(matchedDocIds: DataFrame, facetCol: Column): DataFrame = {
    val matched = index.docs.join(matchedDocIds.select("docId"), "docId")
    matched
      // documents are sparse — a missing facet contributes NOTHING.
      // Without this filter the behavior is ANSI-config-dependent:
      // non-ANSI size(NULL) = -1 makes sequence(1, -1) DESCENDING
      // (the CLAUDE.md trap), exploding each null-facet doc into 3
      // spurious "/" root rows; ANSI mode happens to drop them.
      .filter(facetCol.isNotNull)
      .withColumn("__parts", split(regexp_replace(facetCol, "^/", ""), "/"))
      .withColumn("__lvl", explode(sequence(lit(1), size(col("__parts")))))
      .withColumn("facet", concat(lit("/"), concat_ws("/", slice(col("__parts"), lit(1), col("__lvl")))))
      .groupBy(col("facet")).agg(count(lit(1)).as("cnt"))
  }

  /** A driver-held result as a frame: collecting it runs no job. */
  private def localFrame(schema: StructType, rows: Seq[Row]): DataFrame = {
    import scala.jdk.CollectionConverters._
    index.spark.createDataFrame(rows.asJava, schema)
  }

  /** (docId, score) of a single query's results: score float, or double for `f64`. */
  private def scoredSchema(f64: Boolean): StructType = StructType(Seq(
    StructField("docId", LongType, nullable = false),
    StructField("score", if (f64) DoubleType else FloatType, nullable = false)))

  /** (qid, docId, score) of a batch's results. */
  private def batchSchema(f64: Boolean): StructType =
    StructType(StructField("qid", IntegerType, nullable = false) +: scoredSchema(f64).fields)
}

/** The docs-partition reads of lookupDocs and searchWithDocs over
  * `BuiltIndex.docRanges`. */
private[query] object DocFetch {
  /** The stored rows of the wanted `ids` (distinct, ascending) in one
    * docs partition, whose rows are docId-ascending: the scan stops at
    * the first row at or past the largest wanted id. */
  def rows(part: Iterator[InternalRow], ids: Array[Long], toRow: Any => Any): Array[Row] = {
    val out = Array.newBuilder[Row]
    if (ids.nonEmpty) {
      val last = ids(ids.length - 1)
      var more = part.hasNext
      while (more) {
        val r = part.next()
        val id = r.getLong(0)
        if (java.util.Arrays.binarySearch(ids, id) >= 0) out += toRow(r).asInstanceOf[Row]
        more = id < last && part.hasNext
      }
    }
    out.result()
  }

  /** The requested ids (distinct, ascending) of every docs partition
    * whose window holds at least one. Windows may overlap (a store's
    * partial compaction), so an id can go to several partitions; ids
    * outside every window go to none. */
  def byPartition(ranges: IndexedSeq[DocRange], ids: Seq[Long]): Map[Int, Array[Long]] = {
    val sorted = ids.distinct.sorted.toArray
    // the first index of `sorted` at or past `id`
    def from(id: Long): Int = {
      val at = java.util.Arrays.binarySearch(sorted, id)
      if (at >= 0) at else -at - 1
    }
    ranges.indices.flatMap { p =>
      val (a, b) = (from(ranges(p).from), from(ranges(p).until))
      if (a < b) Some(p -> java.util.Arrays.copyOfRange(sorted, a, b)) else None
    }.toMap
  }
}

/** Extracts the literal prefix a regex REQUIRES of every match when the
  * pattern is anchored at the start (the engine always matches whole
  * terms: `^(?:pattern)$`). Conservative: returns "" whenever the
  * pattern's shape makes the leading literal optional.
  */
private[graft] object RegexPrefix {

  /** Longest required literal prefix of `pattern`, or "" when none can
    * be proven. Rules:
    *  - a top-level `|` makes the leading branch optional -> ""
    *  - scanning stops at the first metacharacter
    *  - `*`, `?`, `{` quantify the PREVIOUS literal (possibly to zero
    *    occurrences), so it is dropped; `+` requires >= 1, so it stays
    */
  def literalPrefix(pattern: String): String = {
    // \Q...\E quoting turns metacharacters into literals, which the
    // scans below would misread ('(' inside \Q...\E is NOT a group
    // opener, so a later top-level '|' would go undetected and the
    // returned prefix would exclude the other branch's matches). Rare
    // construct — bail conservatively instead of modeling quote state.
    if (pattern.contains("\\Q")) return ""
    // top-level alternation scan (chars inside (...) or [...] don't
    // count). Character classes need their own state, not a depth
    // counter: '(' inside a class is a LITERAL, so counting it as a
    // group opener would leave a later top-level '|' at depth > 0 and
    // return a non-conservative prefix (e.g. 'x[(]|y' must yield "",
    // not "x" — "x..." would silently exclude terms matching the 'y'
    // branch from the candidate scan).
    var depth = 0
    var inClass = false
    var i = 0
    while (i < pattern.length) {
      val c = pattern.charAt(i)
      if (c == '\\') i += 1 // skip escaped char (in or out of a class)
      else if (inClass) {
        if (c == ']') inClass = false
      } else c match {
        case '[' =>
          inClass = true
          // ']' directly after '[' or '[^' is a literal class member,
          // not the class terminator — skip it so we don't exit early
          var k = i + 1
          if (k < pattern.length && pattern.charAt(k) == '^') k += 1
          if (k < pattern.length && pattern.charAt(k) == ']') i = k
        case '(' => depth += 1
        case ')' => depth = math.max(0, depth - 1)
        case '|' if depth == 0 => return ""
        case _ =>
      }
      i += 1
    }
    val meta = ".[]{}()\\*+?|^$"
    val sb = new StringBuilder
    var j = 0
    while (j < pattern.length) {
      val c = pattern.charAt(j)
      if (meta.indexOf(c) >= 0) {
        if ((c == '*' || c == '?' || c == '{') && sb.nonEmpty)
          sb.setLength(sb.length - 1)
        return sb.toString
      }
      sb.append(c)
      j += 1
    }
    sb.toString
  }
}

object SearchDefaults {
  /** lnx injects LIMIT 1000 when absent (lnx-server/src/apis/query.rs:15-17). */
  final val DefaultLimit = 1000
  /** cap on the ids of one QueryEngine.lookupDocs call (a top-k page,
    * not a bulk read); capped SQL statements up to this LIMIT fetch
    * through it instead of the docs join. */
  final val MaxLookupIds = 10000
  /** cap on dictionary expansions per prefix/fuzzy/regex token (deterministic order). */
  final val MaxExpansions = 1024
  /** cap on searchMany batch width (every task closure carries every
    * query's compiled plan; wider workloads chunk into several passes). */
  final val MaxBatchWidth = 4096
  /** Corpus-size floor below which searchManyF32 skips the sparse/dense
    * split and routes the WHOLE batch through the exhaustive replay (one
    * pass over the postings instead of two). Measured (same methodology,
    * local[32], when the batch still ended in a per-qid exchange):
    * at 50k docs the split's second pass cost ~35% of batch latency for
    * nothing to skip; at 2M x 64-query Zipf the split still LOSES 13%
    * (0.98 s vs 0.86 s, zero blocks skipped — the exhaustive-routed
    * half of the batch subscribes to the same hot blocks, so the shared
    * cache decodes them anyway); at 27M x 512 the split wins 1.38x
    * (BENCH.md r5). 4M sits above the measured-negative regime and well
    * below the measured-positive one. Override with spark conf
    * graft.batch.splitMinDocs. */
  final val BatchSplitMinDocs = 4000000L
  /** Candidate rows a batch may collect for its driver-side per-qid
    * merge (QueryEngine.batchTopK) — the bound appendEpoch lands an
    * epoch's keys under: a 32-wide k=10 batch is a few thousand rows,
    * a 4096-wide k=1000 one stays on the window path. */
  private[graft] final val DriverMergeRows = 2000000L
  /** Term-count cap for the driver-side dictionary snapshot
    * (LocalTermDict). Dictionaries at or under this size serve every
    * compile-time lookup in memory (the tantivy-FST analogue); larger
    * ones are asked as per-partition pieces in one job. 256k terms is
    * tens of MB of driver heap — comfortably inside any driver budget
    * and far below the scale where a dictionary stops fitting. */
  final val LocalDictMaxTerms = 262144
  /** Partial-df rows per term of that cap the snapshot job may bring
    * to the driver (`BuiltIndex.termDfRows`): a term held by several
    * partitions sends one row from each. Past it the dictionary is
    * asked as pieces without the job, so at most 4 x 256k rows (tens of
    * MB) ever reach the driver, whatever the partition count. */
  final val LocalDictPartialRowsPerTerm = 4
  /** Largest scored-side cap the engine FORCE-broadcasts in the
    * docId->stored-fields join. A capped scored side is slim
    * (docId, score) rows (~12 B each), so 1M rows ~ 12 MB — around
    * Spark's default auto-broadcast threshold. LIMIT is user input
    * (`LIMIT 50000000` is legal SQL): above this bound the join runs
    * un-hinted and AQE sizes the strategy at runtime instead of being
    * forced into a driver-sized hash-table build. */
  final val MaxBroadcastK = 1000000
}
