package graft.query

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType, IntegerType, LongType, StructField,
  StructType}
import org.apache.spark.storage.StorageLevel

import graft.analyze.{Analyzer, Levenshtein, SymSpell}
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
  * them through the distributed scorers. Term-dictionary lookups
  * (df, prefix/fuzzy/regex expansion, fast-fuzzy correction) answer
  * from a driver-side snapshot (`LocalTermDict`) whenever the dictionary
  * fits `graft.dict.localMaxTerms` — the Spark analogue of tantivy
  * consulting its FST term dictionary at plan time. The snapshot sums
  * the index's partial dfs (`BuiltIndex.termDfs`) in one job with no
  * shuffle and no Catalyst plan. Above the cap the lookups run as
  * capped filters on the termStats frame and collect only the matched
  * entries.
  */
final class QueryEngine(val index: BuiltIndex) {
  import SearchDefaults._

  /** Driver-side term-dictionary snapshot (the tantivy-FST analogue —
    * see LocalTermDict), built ONCE per engine in one Spark job with no
    * shuffle: each task returns its partition's partial dfs
    * (`BuiltIndex.termDfs`: a store's termstats file, a build's shard
    * table), or None at once when it holds more than the cap, and the
    * driver sums them per (field, term). The job runs only when the
    * partial dfs hold at most `LocalDictPartialRowsPerTerm` x cap rows
    * (`BuiltIndex.termDfRows`, known without a job), so that many rows at
    * most reach the driver at any corpus scale. When the whole
    * dictionary fits under `graft.dict.localMaxTerms`, every dictionary
    * lookup below answers driver-side with zero Spark jobs; otherwise
    * None and the distributed lookup jobs run unchanged (the 100 TB
    * path). Lazy: engines that never consult the dictionary never pay
    * the probe. The conf resolves at first use and is pinned for the
    * engine's lifetime (mutations invalidate by engine replacement,
    * like both LRUs below).
    */
  private[graft] lazy val localDict: Option[LocalTermDict] = {
    val cap = index.spark.conf
      .get("graft.dict.localMaxTerms", SearchDefaults.LocalDictMaxTerms.toString).toInt
    if (cap <= 0 || index.termDfRows > LocalDictPartialRowsPerTerm.toLong * cap) None
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
        else Some(LocalTermDict.fromRows(dfs.iterator.map { case ((f, t), df) => (f, t, df) }.toArray))
      }
    }
  }

  /** Observability: whether this engine serves dictionary lookups from
    * the driver-side snapshot (forces the probe). */
  private[graft] def localDictActive: Boolean = localDict.nonEmpty

  /** field -> (term -> df) for an exact term batch. */
  private def dfLookup(keys: Seq[(String, String)]): Map[(String, String), Long] = {
    if (keys.isEmpty) return Map.empty
    localDict match {
      case Some(d) =>
        return keys.distinct.flatMap(k => d.df(k._1, k._2).map(df => k -> df)).toMap
      case None =>
    }
    val fields = keys.map(_._1).distinct
    val terms = keys.map(_._2).distinct
    // Set membership, not Seq.contains: compileMany feeds this the
    // union of a whole batch's terms, and O(|rows| x |keys|) pair
    // comparisons on the driver would sit on the throughput path
    val keySet = keys.toSet
    index.termStats
      .filter(col("field").isin(fields: _*) && col("term").isin(terms: _*))
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
      .toMap
      .filter { case (k, _) => keySet(k) }
  }

  /** Batched prefix expansion: ONE job for all prefix tokens of a
    * clause (per-token Spark jobs would pay a scheduler round-trip
    * each). Per-prefix cap + term order run in-plan via a window, so
    * the driver collects at most (#prefixes x MaxExpansions) rows.
    */
  private def prefixExpandAll(field: String,
      prefixes: Seq[String]): Map[String, Seq[(String, Long)]] = {
    if (prefixes.isEmpty) return Map.empty
    localDict match {
      case Some(d) =>
        // same shape as the collected-row path below: capped per prefix
        // in UTF8-binary term order (the in-plan TakeOrdered/window
        // order), empty prefixes absent from the map, final per-prefix
        // sort by Java string order mirroring the sortBy on collect
        return prefixes.distinct
          .map(p => p -> d.prefixCapped(field, p, MaxExpansions).sortBy(_._1))
          .filter(_._2.nonEmpty).toMap
      case None =>
    }
    val rows = prefixCandidates(field, prefixes).collect()
    rows.groupBy(_.getString(0)).map { case (pfx, rs) =>
      pfx -> rs.map(r => (r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    }
  }

  /** Capped (pfx, term, df) candidate frame for prefix expansion —
    * package-visible so PlanSpec can assert the plan shape.
    *
    * Every prefix is a LITERAL, so each `startsWith` pushes to the
    * parquet scan as StringStartsWith and their OR prunes row groups of
    * the term-sorted persisted dictionary — the dataflow analogue of
    * tantivy's per-prefix FST range scan (tantivy-sstable). The
    * multi-prefix shape (`fts(name, 'Tim* Mich*')`, apis/mod.rs:221)
    * previously joined the dictionary on a column-to-column startsWith,
    * which planned as a BroadcastNestedLoopJoin — a full un-pruned
    * dictionary scan per clause; now it is the SAME single pushed-down
    * scan as one prefix, with in-plan tagging instead of a join.
    */
  private[graft] def prefixCandidates(field: String, prefixes: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ps = prefixes.distinct
    if (ps.size == 1) {
      // single prefix (the common case): no window needed — the term
      // sort + cap collapse into a TakeOrdered over the pruned scan
      val pfx = ps.head
      return index.termStats
        .filter(col("field") === field && col("term").startsWith(pfx))
        .orderBy(col("term"))
        .limit(MaxExpansions)
        .select(lit(pfx).as("pfx"), col("term"), col("df"))
    }
    // a term can extend several prefixes (e.g. 'mer' and 'merge'): tag
    // it with each in-plan (array of matched prefixes -> explode), then
    // cap per prefix via the window — one scan, one job, zero joins
    val anyPfx = ps.map(p => col("term").startsWith(p)).reduce(_ || _)
    val tags = array(ps.map(p => when(col("term").startsWith(p), lit(p))): _*)
    val w = Window.partitionBy(col("pfx")).orderBy(col("term").asc)
    index.termStats
      .filter(col("field") === field && anyPfx)
      .withColumn("pfx", explode(filter(tags, _.isNotNull)))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MaxExpansions)
      .select(col("pfx"), col("term"), col("df"))
  }

  /** Distributed fuzzy expansion. For the standard d <= 2 (the lnx
    * surface), candidates come from the precomputed SymSpell
    * delete-variant dictionary — two terms within distance 2 always
    * share a depth-2 delete variant (completeness asserted in
    * SymSpellSpec), so the expensive levenshtein only runs on the
    * variant-matched sliver instead of the whole dictionary (the
    * dataflow analogue of tantivy's levenshtein automata over the FST).
    * Wider distances fall back to a length-banded dictionary scan. In
    * both paths the (distance, term) sort + MaxExpansions truncation
    * happen INSIDE the plan (TakeOrdered), so the driver collects at
    * most MaxExpansions rows; the banded DP re-verifies driver-side
    * (built-in and DP must agree).
    *
    * Batched fuzzy expansion for ALL tokens of a clause in ONE job.
    * Candidates are tagged with their query token in-plan (a broadcast
    * join against the tiny (tok, variant) frame), the levenshtein
    * verify + per-token (distance, term) cap run in-plan via a window,
    * and the driver re-verifies with the banded DP (built-in and DP
    * must agree). At most (#tokens x MaxExpansions) rows are collected.
    */
  private def fuzzyExpandAll(field: String, toks: Seq[String],
      maxDist: Int): Map[String, Seq[(String, Long, Int)]] = {
    if (toks.isEmpty) return Map.empty
    localDict match {
      case Some(d) =>
        // admitted set, cap and both sort orders mirror the in-plan
        // window + driver re-verify exactly (LocalTermDict.fuzzyCapped);
        // tokens with no candidates absent, like the groupBy below
        return toks.distinct
          .map(t => t -> d.fuzzyCapped(field, t, maxDist, MaxExpansions))
          .filter(_._2.nonEmpty).toMap
      case None =>
    }
    val spark = index.spark
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val cand = fuzzyCandidates(field, toks, maxDist)
    val w = Window.partitionBy(col("tok")).orderBy(col("dist").asc, col("term").asc)
    val rows = cand
      .withColumn("dist", levenshtein(col("term"), col("tok")))
      .filter(col("dist") <= maxDist)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= MaxExpansions)
      .select(col("tok"), col("term"), col("df"))
      .collect()
    rows.groupBy(_.getString(0)).map { case (tok, rs) =>
      tok -> rs
        .map(r => (r.getString(1), r.getLong(2), Levenshtein.distance(tok, r.getString(1), maxDist)))
        .filter(_._3 <= maxDist)
        .sortBy(t => (t._3, t._1))
        .toSeq
    }
  }

  /** Candidate (tok, term, df) frame for fuzzy expansion — package-
    * visible so PlanSpec can assert both branches' join shapes.
    */
  private[graft] def fuzzyCandidates(field: String, toks: Seq[String],
      maxDist: Int): DataFrame = {
    val spark = index.spark
    import spark.implicits._
    if (maxDist <= SymSpell.MaxDistance && index.symspell.nonEmpty) {
        // SymSpell variant prefilter: complete for distance <= 2, so the
        // levenshtein only runs on the variant-matched sliver (the
        // dataflow analogue of tantivy's levenshtein automata). Only
        // taken when the dictionary is the PERSISTED fast-fuzzy artifact
        // (variant-range-partitioned -> row-group pruning); against the
        // lazily-built in-memory dict this is a 20x-bigger scan than the
        // length-banded term scan below (measured at sf0.1)
        val pairs = toks.distinct.flatMap(t => SymSpell.deletes(t).iterator.map(v => (t, v)))
        val vdf = pairs.toDF("tok", "variant")
        symspellDict
          .filter(col("field") === field)
          .join(broadcast(vdf), "variant")
          .select(col("tok"), col("term"), col("df")).distinct()
      } else {
        // length-banded dictionary scan as an EQUI-join: each token
        // explodes to its admissible term lengths [len-d, len+d], so the
        // join keys on length(term) and plans as a broadcast HASH join —
        // the `length(term) BETWEEN length(tok)±d` non-equi form plans
        // as BroadcastNestedLoopJoin, i.e. a full dictionary re-scan per
        // token (PlanSpec asserts the shape)
        val pairs = toks.distinct.flatMap { t =>
          // CODEPOINT count: Spark's length() counts codepoints, and the
          // band keys on it — t.length (UTF-16 units) would misplace the
          // band for astral-codepoint tokens and drop exact matches
          val n = t.codePointCount(0, t.length)
          (math.max(1, n - maxDist) to (n + maxDist)).map(l => (t, l))
        }
        val tdf = pairs.toDF("tok", "len")
        index.termStats
          .filter(col("field") === field)
          .join(broadcast(tdf), length(col("term")) === col("len"))
          .select(col("tok"), col("term"), col("df"))
      }
  }

  private def regexExpand(field: String, pattern: String): Seq[(String, Long)] =
    localDict match {
      case Some(d) => d.regexCapped(field, pattern, MaxExpansions)
      case None =>
        regexCandidates(field, pattern)
          .orderBy(col("term"))
          .limit(MaxExpansions)
          .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    }

  /** Regex candidate frame — package-visible so PlanSpec can assert
    * the pruned scan shape. `rlike` can never push to parquet, but a
    * pattern with a required literal prefix (e.g. `foo.*`) admits a
    * pushable StringStartsWith alongside it, pruning row groups of the
    * term-sorted dictionary before the regex runs — the dataflow
    * analogue of tantivy evaluating regexes over the FST, where the
    * automaton's required prefix bounds the key range walked.
    */
  private[graft] def regexCandidates(field: String, pattern: String): DataFrame = {
    val base = index.termStats.filter(col("field") === field)
    val pfx = RegexPrefix.literalPrefix(pattern)
    val pruned = if (pfx.isEmpty) base else base.filter(col("term").startsWith(pfx))
    pruned.filter(col("term").rlike("^(?:" + pattern + ")$"))
  }

  /** SymSpell delete-variant dictionary (field, variant, term, df) —
    * the build-time artifact behind fast-fuzzy. Segments written in
    * fast-fuzzy mode carry it persisted (variant-range-partitioned for
    * pushdown, the reference's index-time pre-compute, README.md:28);
    * otherwise it builds lazily on first use.
    */
  private var symspellMaterialized = false
  lazy val symspellDict: DataFrame = {
    symspellMaterialized = true
    index.symspell.getOrElse(
      SymSpellDict.build(index.termStats).persist(StorageLevel.MEMORY_AND_DISK))
  }

  /** Release every cached frame this engine pinned: the underlying
    * index, plus the session-built SymSpell dictionary if it was
    * materialized (an index-carried dictionary is unpersisted by
    * index.unpersist() itself). Spark's CacheManager holds persisted
    * datasets strongly — dropping the engine reference alone leaks the
    * MEMORY_AND_DISK blocks until executor storage eviction.
    */
  def release(): Unit = {
    index.unpersist()
    if (symspellMaterialized && index.symspell.isEmpty) symspellDict.unpersist()
  }

  /** Fast-fuzzy correction of ALL query tokens in one lookup job —
    * fast-fuzzy is the reference's *fast* path (README.md:28,41), so a
    * per-token Spark job would invert its 30x property on multi-token
    * queries. All tokens' delete-variants union into a single pushed-
    * down filter; best-per-token (min distance, max df, lexicographic)
    * is picked driver-side from the one collected candidate batch.
    */
  def correctAll(field: String, toks: Seq[String]): Map[String, String] =
    correctAllDf(field, toks).map { case (tok, r) => tok -> r.map(_._1).getOrElse(tok) }

  /** As correctAll, also returning the corrected term's dictionary df
    * (the candidates carry it) — None when the token has no in-dict
    * candidate at all, which implies the token itself is not a
    * dictionary term (a term's own 0-delete variant always matches
    * itself). The single-query fast-fuzzy compile path consumes this
    * directly, skipping the separate df-lookup Spark job it used to
    * run for the corrected terms.
    */
  def correctAllDf(field: String, toks: Seq[String]): Map[String, Option[(String, Long)]] = {
    if (toks.isEmpty) return Map.empty
    localDict match {
      case Some(d) =>
        // the variant prefilter is COMPLETE for d <= MaxDistance and
        // pickBestDf discards everything beyond it (SymSpellSpec), so
        // the verified candidate set is exactly {terms : dist <= 2} —
        // which the local length-banded scan produces directly
        return toks.distinct.map { tok =>
          tok -> graft.analyze.SymSpell.pickBestDf(
            tok, d.fuzzyAll(field, tok, SymSpell.MaxDistance))
        }.toMap
      case None =>
    }
    val variantsByTok: Map[String, Set[String]] =
      toks.distinct.map(t => t -> SymSpell.deletes(t)).toMap
    val allVariants = variantsByTok.values.flatten.toSeq.distinct
    val hits = symspellDict
      .filter(col("field") === field && col("variant").isin(allVariants: _*))
      .select(col("variant"), col("term"), col("df")).distinct()
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val byVariant = hits.groupBy(_._1)
    variantsByTok.map { case (tok, vars) =>
      val cands = vars.iterator
        .flatMap(v => byVariant.getOrElse(v, Array.empty[(String, String, Long)]))
        .map(h => (h._2, h._3)).toSeq.distinct
      tok -> SymSpell.pickBestDf(tok, cands)
    }
  }

  /** Single-token convenience over correctAll. */
  def correct(field: String, tok: String): String = correctAll(field, Seq(tok))(tok)

  /** Top tf-idf terms of a seed document (more-like-this). */
  def seedTerms(field: String, docId: Long, topTerms: Int): Seq[String] = {
    // fail with a clear contract error rather than a ClassCastException
    // out of getString below when the seed field is a non-text column
    // (a non-INDEXED text field degrades gracefully to zero terms via
    // dfLookup; only the type case needs the explicit gate)
    val dt = index.docs.schema(field).dataType
    // isInstanceOf, not singleton ==: collated StringType still getStrings fine
    require(dt.isInstanceOf[org.apache.spark.sql.types.StringType],
      s"more_like_this: field '$field' is ${dt.simpleString}, not a text column")
    val rows = index.docs.filter(col("docId") === docId).select(col(field)).collect()
    if (rows.isEmpty) return Nil
    val (counts, _) = graft.analyze.Tokenizers.tokenCounts(
      index.config.tokenizerOf(field), Option(rows(0).getString(0)).getOrElse(""))
    val dfs = dfLookup(counts.keys.map(t => (field, t)).toSeq)
    counts.toSeq
      .flatMap { case (t, tf) =>
        dfs.get((field, t)).map(df => (tf.toDouble * Bm25.idfF64(df, index.numDocs), t))
      }
      .sortBy { case (tfidf, t) => (-tfidf, t) }
      .take(topTerms)
      .map(_._2)
  }

  /** Compiled-query LRU: dictionary expansions (prefix/fuzzy/regex,
    * SymSpell correction) run Spark jobs, so repeated queries must not
    * re-pay them — the engine-side analogue of the reference caching
    * compiled query parts across requests (apis/mod.rs:68-69). Keyed on
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

  def compile(clauses: Seq[SearchClause]): CompiledQuery = {
    compileCache.synchronized {
      val hit = compileCache.get(clauses)
      if (hit != null) { compileCacheHits += 1; return hit }
    }
    // compile OUTSIDE the lock: dictionary expansion runs Spark jobs,
    // and holding the LRU lock across them would serialize concurrent
    // callers behind cluster work
    val cq = compileUncached(clauses, LookupCtx.empty)
    compileCache.synchronized { compileCache.put(clauses, cq) }
    cq
  }

  /** Pre-fetched dictionary lookups shared by a compile BATCH. `None`
    * per kind = fall back to the per-query lookup job (the single-query
    * compile path passes all-None). Keys: dfs (field, term) -> df;
    * prefix (field, prefix-sans-*) -> capped expansion; fuzzy
    * (field, maxDist, token) -> capped expansion; corrections
    * (field, token) -> fast-fuzzy corrected term.
    */
  private final case class LookupCtx(
      dfs: Option[Map[(String, String), Long]],
      prefix: Option[Map[(String, String), Seq[(String, Long)]]],
      fuzzy: Option[Map[(String, Int, String), Seq[(String, Long, Int)]]],
      corrections: Option[Map[(String, String), String]])
  private object LookupCtx { val empty = LookupCtx(None, None, None, None) }

  /** Compile a BATCH of queries with the dictionary jobs coalesced: one
    * df-lookup job, one prefix-expansion job per field, one fuzzy
    * expansion per (field, maxDist), one SymSpell correction batch per
    * field — independent of batch width. Per-query, a batch compile
    * produces the identical CompiledQuery as compile() (same helpers,
    * same caps, same order; BatchSearchSpec gates it), and results land
    * in the same LRU. Regex / more-like-this clauses keep their
    * per-query jobs — they are not the high-QPS shape.
    */
  def compileMany(batch: Seq[Seq[SearchClause]]): Seq[CompiledQuery] = {
    import scala.collection.mutable
    // assemble results OUT OF BAND of the LRU: a batch wider than the
    // cache capacity evicts its own fresh entries, and a final
    // lookup-through-compile() would silently RE-compile the evicted
    // majority via per-query dictionary jobs (measured: ~384 stray
    // compile jobs inside one 512-wide timed batch)
    val compiled = mutable.HashMap.empty[Seq[SearchClause], CompiledQuery]
    compileCache.synchronized {
      batch.distinct.foreach { q =>
        val hit = compileCache.get(q)
        if (hit != null) { compileCacheHits += 1; compiled(q) = hit }
      }
    }
    val misses = batch.distinct.filterNot(compiled.contains)
    if (misses.nonEmpty) {
      val exactNeeds = mutable.LinkedHashSet.empty[(String, String)]
      val prefixNeeds = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]
      val fuzzyNeeds = mutable.LinkedHashMap.empty[(String, Int), mutable.LinkedHashSet[String]]
      val ffNeeds = mutable.LinkedHashMap.empty[String, mutable.LinkedHashSet[String]]
      misses.flatten.foreach {
        case Fts(field, query, _) =>
          val (prefixToks, exactToks) = ftsTokenParts(field, query)
          exactToks.foreach(t => exactNeeds += ((field, t)))
          prefixToks.foreach(p =>
            prefixNeeds.getOrElseUpdate(field, mutable.LinkedHashSet.empty) += p.dropRight(1))
        case FuzzyC(field, query, maxDist, _, _) =>
          tokenizeQuery(field, query).foreach(t =>
            fuzzyNeeds.getOrElseUpdate((field, maxDist), mutable.LinkedHashSet.empty) += t)
        case LevC(field, query, maxDist, _) =>
          tokenizeQuery(field, query).foreach(t =>
            fuzzyNeeds.getOrElseUpdate((field, maxDist), mutable.LinkedHashSet.empty) += t)
        case FastFuzzy(field, query, _) =>
          tokenizeQuery(field, query).foreach(t =>
            ffNeeds.getOrElseUpdate(field, mutable.LinkedHashSet.empty) += t)
        case _ => // RegexC / MoreLikeThis: per-query fallback inside compileUncached
      }
      val corrections: Map[(String, String), String] =
        ffNeeds.iterator.flatMap { case (f, toks) =>
          correctAll(f, toks.toSeq).iterator.map { case (t, c) => (f, t) -> c }
        }.toMap
      // corrected terms need df entries too (FastFuzzy scores them as exact terms)
      corrections.foreach { case ((f, _), c) => exactNeeds += ((f, c)) }
      val dfs = dfLookup(exactNeeds.toSeq)
      val prefix: Map[(String, String), Seq[(String, Long)]] =
        prefixNeeds.iterator.flatMap { case (f, ps) =>
          prefixExpandAll(f, ps.toSeq).iterator.map { case (p, ex) => (f, p) -> ex }
        }.toMap
      val fuzzy: Map[(String, Int, String), Seq[(String, Long, Int)]] =
        fuzzyNeeds.iterator.flatMap { case ((f, d), toks) =>
          fuzzyExpandAll(f, toks.toSeq, d).iterator.map { case (tok, ex) => (f, d, tok) -> ex }
        }.toMap
      val ctx = LookupCtx(Some(dfs), Some(prefix), Some(fuzzy), Some(corrections))
      misses.foreach { q =>
        val cq = compileUncached(q, ctx)
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

  /** Compile clauses to weighted terms. Group ids = clause positions. */
  private def compileUncached(clauses: Seq[SearchClause], ctx: LookupCtx): CompiledQuery = {
    require(clauses.size <= 32, "at most 32 clause groups")
    val n = index.numDocs
    val groups = clauses.zipWithIndex.map { case (c, i) =>
      CompiledGroup(i, c.required, c match {
        case _: LevC | _: RegexC => true
        case _ => false
      })
    }
    val terms = clauses.zipWithIndex.flatMap { case (c, g) =>
      c match {
        case Fts(field, query, _) =>
          val (prefixToks, exactToks) = ftsTokenParts(field, query)
          val exact = ctx.dfs match {
            case Some(m) =>
              exactToks.distinct.flatMap(t => m.get((field, t)).map(df => (field, t, df, 1.0)))
            case None =>
              // query-token order, as the batch path above (not the
              // lookup's row order, which follows the dictionary layout)
              val dfs = dfLookup(exactToks.map(t => (field, t)).distinct)
              exactToks.distinct.flatMap(t => dfs.get((field, t)).map(df => (field, t, df, 1.0)))
          }
          val expanded = ctx.prefix match {
            case Some(m) =>
              prefixToks.map(p => p.dropRight(1) -> m.getOrElse((field, p.dropRight(1)), Nil)).toMap
            case None => prefixExpandAll(field, prefixToks.map(_.dropRight(1)))
          }
          val pre = prefixToks.flatMap(p => expanded.getOrElse(p.dropRight(1), Nil))
            .map { case (t, df) => (field, t, df, 1.0) }
          (exact ++ pre).map { case (f, t, df, m) => mkTerm(f, t, df, m, g, n) }
        case FuzzyC(field, query, maxDist, mult, _) =>
          val toks = tokenizeQuery(field, query)
          val exp = fuzzyLookups(field, toks, maxDist, ctx)
          toks.flatMap { tok =>
            exp.getOrElse(tok, Nil).map { case (t, df, d) =>
              mkTerm(field, t, df, mult(math.min(d, mult.size - 1)), g, n)
            }
          }
        case LevC(field, query, maxDist, _) =>
          val toks = tokenizeQuery(field, query)
          val exp = fuzzyLookups(field, toks, maxDist, ctx)
          toks.flatMap { tok =>
            exp.getOrElse(tok, Nil).map { case (t, df, _) => mkTerm(field, t, df, 1.0, g, n) }
          }
        case RegexC(field, pattern, _) =>
          regexExpand(field, pattern).map { case (t, df) => mkTerm(field, t, df, 1.0, g, n) }
        case FastFuzzy(field, query, _) =>
          val raw = tokenizeQuery(field, query)
          ctx.corrections match {
            case Some(m) =>
              // batch path: corrections pre-fetched; corrected terms'
              // dfs ride the batch's ONE coalesced df-lookup job
              val toks = raw.map(t => m.getOrElse((field, t), t)).distinct
              val dfs = ctx.dfs.getOrElse(Map.empty)
              toks.flatMap(t => dfs.get((field, t)).map(df => mkTerm(field, t, df, 1.0, g, n)))
            case None =>
              // single-query path: the correction candidates already
              // carry each term's df — one dictionary job total (a
              // second dfLookup job per query was pure overhead). A
              // None result means the token is not a dictionary term
              // (its own 0-delete variant would have matched), i.e.
              // exactly the tokens the old df lookup found nothing for.
              val byTok = correctAllDf(field, raw)
              raw.flatMap(t => byTok.getOrElse(t, None)).distinct
                .map { case (t, df) => mkTerm(field, t, df, 1.0, g, n) }
          }
        case MoreLikeThis(field, docId, topTerms, _) =>
          val toks = seedTerms(field, docId, topTerms)
          val dfs = dfLookup(toks.map(t => (field, t)))
          toks.flatMap(t => dfs.get((field, t)).map(df => mkTerm(field, t, df, 1.0, g, n)))
      }
    }
    // dedupe (field, term, group); keep first
    val seen = scala.collection.mutable.HashSet.empty[(String, String, Int)]
    val uniq = terms.filter(t => seen.add((t.field, t.term, t.group)))
    CompiledQuery(uniq, groups)
  }

  private def mkTerm(f: String, t: String, df: Long, mult: Double, g: Int, n: Long): CompiledTerm =
    CompiledTerm(f, t, g, Bm25.weightF32(df, n) * mult.toFloat, Bm25.weightF64(df, n) * mult, df)

  /** Fuzzy expansions for a clause's tokens: from the batch ctx when
    * present, else the per-clause batched job.
    */
  private def fuzzyLookups(field: String, toks: Seq[String], maxDist: Int,
      ctx: LookupCtx): Map[String, Seq[(String, Long, Int)]] =
    ctx.fuzzy match {
      case Some(m) => toks.map(t => t -> m.getOrElse((field, maxDist, t), Nil)).toMap
      case None => fuzzyExpandAll(field, toks, maxDist)
    }

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
    * filled. compileMany coalesces the dictionary jobs, so total job
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

/** Builds the SymSpell delete-variant dictionary from a term-stats
  * frame (field, term, df) — shared by the lazy query-time path and
  * the index-time fast-fuzzy persist (IndexStore.writeSegment).
  */
object SymSpellDict {
  def build(termStats: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val spark = termStats.sparkSession
    import spark.implicits._
    termStats
      .as[(String, String, Long)]
      .flatMap { case (f, t, df) => SymSpell.deletes(t).iterator.map(v => (f, v, t, df)) }
      .toDF("field", "variant", "term", "df")
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
    * ones keep the distributed capped-in-plan lookup jobs. 256k terms
    * is tens of MB of driver heap — comfortably inside any driver
    * budget and far below the scale where a dictionary stops fitting.
    * Override with spark conf graft.dict.localMaxTerms (0 disables). */
  final val LocalDictMaxTerms = 262144
  /** Partial-df rows per term of that cap the snapshot job may bring
    * to the driver (`BuiltIndex.termDfRows`): a term held by several
    * partitions sends one row from each. Past it the dictionary takes
    * the distributed path without the job, so at most 4 x 256k rows
    * (tens of MB) ever reach the driver, whatever the partition count. */
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
