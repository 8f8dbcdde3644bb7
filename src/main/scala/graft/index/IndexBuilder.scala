package graft.index

import org.apache.spark.{NarrowDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.analyze.Analyzer

/** Engine configuration (the Spark-native analogue of lnx's per-table
  * DDL + bucket config, SURVEY.md sections 1.4, 2.1 S1/S9).
  *
  * @param keyCols    primary-key columns; doc identity + deterministic
  *                   docId order (INSERT-as-upsert keys, apis/mod.rs:81-82)
  * @param fields     text columns to index (per-column tokenizers in lnx
  *                   DDL, sql.rs:110; we apply the code-aware analyzer)
  * @param shardDocs  posting lists are split by docId range into shards
  *                   of this many docs: bounds any single task/group even
  *                   for ultra-hot terms (skew: SURVEY.md section 4 O11)
  *                   and gives WAND its unit of parallelism. At 100 TB
  *                   raise to ~1M docs/shard.
  * @param buildPartitions shuffle parallelism of the posting build
  */
final case class IndexConfig(
    keyCols: Seq[String],
    fields: Seq[String],
    shardDocs: Int = 8192,
    buildPartitions: Int = 32,
    /** Per-field tokenizer names (the DDL's `WITH (tokenizers = ...)`,
      * sql.rs:110; registry semantics in analyze.Tokenizers). Fields
      * absent from the map use the default code-aware analyzer. Query
      * text is tokenized with the SAME tokenizer as the queried column
      * (apis/mod.rs:211-213) — QueryEngine.tokenizeQuery reads this map.
      */
    tokenizers: Map[String, String] = Map.empty,
    /** docId assignment strategy (see IndexBuilder.assignDocIdsCounted):
      * KeyRange (default) = ids follow the global primary-key order —
      * parallelism-independent for any source, mirrors the oracle's
      * (score, key) tie-break, costs one corpus-wide range shuffle.
      * Scan = ids follow arrival (scan) order — tantivy's own docId
      * semantics (segment ordinals in ingest order) — ZERO shuffle, the
      * bulk-build fast path; deterministic only for a fixed input
      * partitioning (true for spark.range-derived frames at any
      * parallelism, and for parquet under pinned split configs).
      */
    docIdStrategy: String = DocIdStrategy.KeyRange) {
  def tokenizerOf(field: String): String =
    tokenizers.getOrElse(field, graft.analyze.Tokenizers.Default)
}

object DocIdStrategy {
  final val KeyRange = "keyRange"
  final val Scan = "scan"
}

/** Encoded posting list for one (field, term, shard). */
final case class PostingRow(
    field: String,
    term: String,
    shard: Int,
    numDocs: Int,
    sumTf: Long,
    bytes: Array[Byte],
    blockOffset: Array[Int],
    blockLast: Array[Long],
    blockMaxTf: Array[Int],
    blockMinNorm: Array[Int])

/** Per-field corpus statistics needed by BM25. */
final case class FieldStats(field: String, totalTokens: Long)

/** A term's document count in one posting row or one shard-table
  * partition (`ShardTable.termDfs`): the term dictionary's input,
  * summed per (field, term) into the df. */
final case class TermDf(field: String, term: String, df: Long)

/** The docIds a docs partition may hold: [from, until). */
final case class DocRange(from: Long, until: Long) {
  def contains(id: Long): Boolean = from <= id && id < until
}

object DocRange {
  /** The ranges between consecutive `cuts`: partition p holds [cuts(p), cuts(p+1)). */
  def ofCuts(cuts: Array[Long]): IndexedSeq[DocRange] =
    (0 until cuts.length - 1).map(p => DocRange(cuts(p), cuts(p + 1)))
}

/** An immutable index segment: the Spark-native analogue of a tantivy
  * segment (posting lists + term dictionary + fieldnorms + doc store,
  * SURVEY.md section 1.3/1.4). `persist()` pins the frames for repeated
  * queries (plays the role of lnx's mmap'd searcher + reader cache,
  * bucket.rs:24-25).
  *
  * `shards` is the one postings cache: a term-keyed `ShardTable` per
  * partition, co-partitioned by docId shard, so every search probes it
  * in place with no exchange and no query planning, and never sees a
  * delete set. An in-memory build's table p is built from docs
  * partition p and holds exactly its shards (`IndexBuilder.build`); a
  * loaded store's table p from postings file p of its file pairs,
  * beside docs file p (`IndexStore.loadManifest`), or from one shard
  * repartition above the load's tombstone gate
  * (`IndexBuilder.shardTables`). `postings`, an in-memory build's
  * partial dfs (`termDfs`) and `fieldTokens` are read off it, not
  * cached beside it. A store applies its tombstones to the postings
  * (and `docs`) once, when the tables are built; the term dfs,
  * `numDocs` and `fieldTokens` still count deleted docs until
  * compaction, as Lucene/tantivy segment statistics do.
  *
  * What a search reads beside the tables goes through two hooks:
  * `docColumns` (the docs partitions a fetch reads) and `termDfs` (the
  * partial dfs every dictionary lookup reads, `termDfRows` rows: the
  * driver snapshot sums them, above its cap each partition is a
  * dictionary piece, QueryEngine), each without a Catalyst plan per
  * read when the index is a loaded store.
  */
final class BuiltIndex(
    val docs: DataFrame, // source columns + docId
    val shards: ShardTables,
    /** The rows `termDfs` reads, known without reading them (a build
      * counts its tables' keys in the job that builds them, a store sums
      * its termstats files' footers): the dictionary snapshot reads the
      * partial dfs only when they are few enough (QueryEngine). */
    termDfRowsOf: => Long,
    val numDocs: Long,
    val fieldTokens: Map[String, Long],
    val config: IndexConfig,
    /** The range table: the docId window of every `docs` partition,
      * whose docs are docId-ascending, all inside it, and exactly the
      * docs whose postings shard table p holds. An in-memory build's
      * windows are `IndexBuilder.assignDocIdsCounted`'s shard-grid cuts
      * (partition p holds every id of its window; they tile the build's
      * ids). A loaded store's are its file pairs' (`IndexStore.load`):
      * a window may hold tombstoned ids, and a partial compaction's may
      * overlap other segments', so an id can fall in several windows
      * and lives in at most one of them. None when the docs keep no
      * such partitioning (a store over the load's tombstone gate).
      * `QueryEngine.searchWithDocs` reads it to score and fetch a
      * partition's hits in one task, `lookupDocs` to read ids from only
      * the partitions whose window holds one. */
    val docRanges: Option[IndexedSeq[DocRange]] = None,
    /** A loaded store's planless docs read (`IndexStore.loadManifest`):
      * the (docId +: cols) rows of docs file p as partition p, tombstoned
      * docs dropped. None reads the projection of `docs`. */
    docsScan: Option[Seq[String] => (StructType, RDD[InternalRow])] = None,
    /** A loaded store's planless partial dfs: its termstats files. None
      * reads the shard tables' (`ShardTable.termDfs`). */
    termDfScan: Option[() => RDD[TermDf]] = None) {

  def spark: SparkSession = docs.sparkSession

  /** The number of shard tables a search runs over, known without a
    * job: the range table's partitions, else at most buildPartitions
    * (a store's shard repartition, `IndexBuilder.shardTables`). */
  def searchPartitions: Int = docRanges.fold(config.buildPartitions)(_.length)

  lazy val termDfRows: Long = termDfRowsOf

  /** Docs partition p's (docId +: cols) rows, partition p beside range
    * p and shard table p, and their schema. A store's rows come from a
    * reused columnar batch: convert each before keeping it. */
  def docColumns(cols: Seq[String]): (StructType, RDD[InternalRow]) =
    docsScan.fold {
      val projected = docs.select((col("docId") +: cols.map(col)): _*)
      (projected.schema, projected.queryExecution.toRdd)
    }(_(cols))

  /** Partial dfs, one set per partition with no (field, term) twice in
    * a set, whose sums per (field, term) are the term dictionary: read
    * with no shuffle. */
  def termDfs: RDD[TermDf] =
    termDfScan.fold(shards.rdd.mapPartitions(_.flatMap(_.termDfs)))(_())

  /** Every posting row, read off the shard tables (segment writes, specs). */
  def postings: Dataset[PostingRow] =
    spark.createDataset(shards.rdd.flatMap(_.iterator))(Encoders.product[PostingRow])

  def avgFieldnormF32(field: String): Float =
    fieldTokens.getOrElse(field, 0L).toFloat / numDocs.toFloat

  def avgFieldnormF64(field: String): Double =
    fieldTokens.getOrElse(field, 0L).toDouble / numDocs.toDouble

  /** @param cacheDocs pin the stored-fields frame too. True is right
    *   for the in-memory session analogue; the persisted-segment path
    *   (IndexStore.load) passes FALSE at scale so stored fields stream
    *   from the docId-sorted segment parquet (pruned reads) and only
    *   the shard tables — the rough analogue of tantivy's mmap'd
    *   searcher state — occupy executor memory. At 100 TB the doc
    *   store does not fit; the index working set does.
    */
  def persist(cacheDocs: Boolean = true): this.type = {
    if (cacheDocs) docs.persist(StorageLevel.MEMORY_AND_DISK)
    this
  }

  def unpersist(): Unit = unpersist(blocking = false)

  /** blocking = true waits for the blocks to actually drop — required
    * when the caller immediately starts competing work (e.g. Bench's
    * second build pass) and async eviction would contaminate its
    * storage-memory budget.
    */
  def unpersist(blocking: Boolean): Unit = {
    docs.unpersist(blocking); shards.unpersist(blocking)
  }
}

object IndexBuilder {

  /** Deterministic dense docIds: global sort order over the (unique) key
    * columns, realized scalably as range-repartition + in-partition sort
    * + per-partition offsets (no single-partition window, no
    * monotonically_increasing_id). The id sequence depends only on the
    * key order, not on parallelism or input partitioning — required for
    * rank-identity and resume (SURVEY.md section 7 hard part 2).
    */
  def assignDocIds(df: DataFrame, keyCols: Seq[String], parts: Int, base: Long = 0L,
      strategy: String = DocIdStrategy.KeyRange): DataFrame =
    assignDocIdsCounted(df, keyCols, parts, base, strategy)._1

  /** As assignDocIds, additionally returning the docId range of every
    * output partition, `r` with partition p holding [r(p), r(p+1)):
    * known driver-side from the per-partition counts, so callers need
    * no extra count() job over the corpus (the row count is
    * r.last - r.head).
    *
    * The output partitions are cut on the `shardDocs` grid
    * (`shardCuts`): each holds whole grid shards (shard = docId /
    * shardDocs), so a build can tokenize a partition and own every
    * posting row of its shards. `shardDocs = 1` cuts anywhere, into
    * min(parts, rows) balanced ranges.
    *
    * The sorted intermediate is NOT cached: `toRdd` freezes ONE physical
    * plan (and thus one partitioning — two separate Dataset jobs could
    * be re-planned differently by AQE, desynchronizing the count and
    * assignment passes), the per-partition count job and the
    * id-assignment job then share the range shuffle's map output
    * (Spark reuses completed shuffle stages), and the only extra cost
    * of the second pass is the in-partition sort — pure parallel CPU —
    * where caching would add a corpus-sized cache write + read, which
    * is what bounds the build at high thread counts (memory bandwidth,
    * not cores). The id pass is a narrow re-cut (`ShardCutRDD`): an
    * output partition reads the sorted partitions overlapping its id
    * range, so a partition straddling a cut is sorted once per side —
    * CPU again, never a shuffle. This is the one sanctioned RDD drop:
    * genuinely per-partition imperative id assignment.
    */
  def assignDocIdsCounted(df: DataFrame, keyCols: Seq[String], parts: Int,
      base: Long = 0L, strategy: String = DocIdStrategy.KeyRange,
      shardDocs: Int = 1): (DataFrame, Array[Long]) = {
    // fail loud on typos ("Scan", "key-range"): a silent fallback to
    // keyRange would measure/build the wrong strategy with no error
    require(strategy == DocIdStrategy.KeyRange || strategy == DocIdStrategy.Scan,
      s"unknown docIdStrategy '$strategy' (expected '${DocIdStrategy.KeyRange}' or '${DocIdStrategy.Scan}')")
    val keys = keyCols.map(col)
    // Scan strategy: ids in arrival order over the input's own
    // partitioning — no shuffle, no sort (tantivy's docId semantics:
    // segment ordinals in ingest order). The key-range shuffle is the
    // build's single largest cost at high thread counts (BENCH.md), so
    // bulk one-shot builds that don't need key-ordered ids skip it.
    val sorted =
      if (strategy == DocIdStrategy.Scan) df
      else df.repartitionByRange(parts, keys: _*).sortWithinPartitions(keys: _*)
    // InternalRow path: no external-Row materialization in the build's
    // hottest phase — the count pass touches no fields at all and the
    // id-append pass is one UnsafeProjection over a JoinedRow (a byte
    // copy), instead of per-field decode + Row allocation + re-encode
    val sortedRdd = sorted.queryExecution.toRdd // freeze plan + partitioning for both passes
    val counts = sortedRdd
      .mapPartitionsWithIndex { (pid, it) =>
        var n = 0L; it.foreach(_ => n += 1); Iterator.single((pid, n))
      }
      .collect().toMap
    val nParts = sortedRdd.getNumPartitions
    val offsets = new Array[Long](nParts + 1)
    offsets(0) = base
    for (p <- 0 until nParts) offsets(p + 1) = offsets(p) + counts.getOrElse(p, 0L)
    val cuts = shardCuts(base, offsets.last - base, shardDocs, parts)
    val outSchema = StructType(df.schema.fields :+ StructField("docId", LongType, nullable = false))
    val withIds = org.apache.spark.sql.GraftExpressionBridge.internalCreateDataFrame(
      df.sparkSession, new ShardCutRDD(sortedRdd, offsets, cuts, outSchema), outSchema)
    (withIds, cuts)
  }

  /** The docId cut points of `n` docs from `base`: the grid shards
    * (docId / shardDocs) the ids touch, in max(1, min(parts, #shards))
    * contiguous runs of near-equal shard count. Interior cuts are
    * multiples of shardDocs; the ends are base and base + n.
    */
  private[index] def shardCuts(base: Long, n: Long, shardDocs: Int, parts: Int): Array[Long] = {
    val first = base / shardDocs
    val shards = if (n == 0) 0L else (base + n - 1) / shardDocs - first + 1
    val runs = math.max(1L, math.min(parts.toLong, shards)).toInt
    Array.tabulate(runs + 1) { j =>
      if (j == 0) base
      else if (j == runs) base + n
      else (first + j * shards / runs) * shardDocs
    }
  }

  /** The run of `cuts` holding `docId` (the last cut at or below it;
    * ids below the first cut fall in run 0, ids past the last in the
    * last run). */
  private[index] def cutIndex(cuts: Array[Long], docId: Long): Int = {
    val at = java.util.Arrays.binarySearch(cuts, 0, cuts.length - 1, docId)
    math.max(0, if (at >= 0) at else -at - 2)
  }

  /** In-memory posting accumulator per docs partition — the
    * Spark-native analogue of tantivy's indexing-time term hashmap
    * (tantivy-stacker, Cargo.lock:2890) — built into that partition's
    * ShardTable in the same task. Docs arrive in docId order and the
    * partition holds whole grid shards (assignDocIdsCounted cuts on the
    * grid), so per-term buffers are born sorted and complete: buffers
    * flush at every shard boundary into FINAL posting rows (one per
    * (field, term, shard), `encodeRow`), bounding accumulator memory to
    * one shard's activity, with no exchange and no merge.
    */
  private def postingTables(docs: DataFrame, config: IndexConfig): RDD[ShardTable] = {
    val fields = config.fields
    // per-field tokenizer names resolved here (plain strings: the task
    // closure captures names, not the registry objects)
    val fieldTokenizers: Array[String] = fields.map(config.tokenizerOf).toArray
    val shardDocs = config.shardDocs
    val cols = col("docId") +: fields.map(col)
    val projected = docs.select(cols: _*)
    // InternalRow scan: the tokenize+encode pass reads (docId, texts)
    // straight off the columnar cache without per-doc external-Row
    // materialization
    projected.queryExecution.toRdd.mapPartitions(rows => Iterator.single(ShardTable.of(
      // streaming iterator, NOT a partition-wide buffer: each shard's
      // flushed rows reach the table before the next shard accumulates
      new Iterator[PostingRow] {
        // primitive growable buffers + ONE term map per field: the loop
        // body runs once per (term, doc) occurrence across the whole
        // corpus, where an ArrayBuffer[Long] append (boxed Long) and a
        // Tuple2 key per HashMap probe were pure per-occurrence garbage
        final class Buf {
          private[this] var docIds = new Array[Long](8)
          private[this] var tfs = new Array[Int](8)
          private[this] var norms = new Array[Int](8)
          private[this] var n = 0
          def add(d: Long, tf: Int, norm: Int): Unit = {
            if (n == docIds.length) {
              docIds = java.util.Arrays.copyOf(docIds, n * 2)
              tfs = java.util.Arrays.copyOf(tfs, n * 2)
              norms = java.util.Arrays.copyOf(norms, n * 2)
            }
            docIds(n) = d; tfs(n) = tf; norms(n) = norm; n += 1
          }
          def docIdArr: Array[Long] = java.util.Arrays.copyOf(docIds, n)
          def tfArr: Array[Int] = java.util.Arrays.copyOf(tfs, n)
          def normArr: Array[Int] = java.util.Arrays.copyOf(norms, n)
        }
        private val accByField: Array[java.util.HashMap[String, Buf]] =
          Array.fill(fields.length)(new java.util.HashMap[String, Buf]())
        private val pending = new java.util.ArrayDeque[PostingRow]()
        private var curShard = -1
        private var done = false
        private def flush(): Unit = {
          var fi = 0
          while (fi < accByField.length) {
            val acc = accByField(fi)
            if (!acc.isEmpty) {
              val field = fields(fi)
              val it = acc.entrySet().iterator()
              while (it.hasNext) {
                val e = it.next()
                val b = e.getValue
                pending.addLast(encodeRow(field, e.getKey, curShard, b.docIdArr, b.tfArr, b.normArr))
              }
              acc.clear()
            }
            fi += 1
          }
        }
        private def advance(): Unit = {
          while (pending.isEmpty && !done) {
            if (!rows.hasNext) { done = true; flush() }
            else {
              val r = rows.next()
              val docId = r.getLong(0)
              val shard = (docId / shardDocs).toInt
              if (shard != curShard) { flush(); curShard = shard }
              var fi = 0
              while (fi < fields.length) {
                val text = if (r.isNullAt(fi + 1)) "" else r.getUTF8String(fi + 1).toString
                val (counts, len) =
                  graft.analyze.Tokenizers.tokenCountsJava(fieldTokenizers(fi), text)
                val norm = Fieldnorm.encode(len.toLong)
                val acc = accByField(fi)
                val eit = counts.entrySet().iterator()
                while (eit.hasNext) {
                  val e = eit.next()
                  val t = e.getKey
                  var b = acc.get(t)
                  if (b == null) { b = new Buf; acc.put(t, b) }
                  b.add(docId, e.getValue, norm)
                }
                fi += 1
              }
            }
          }
        }
        override def hasNext: Boolean = { advance(); !pending.isEmpty }
        override def next(): PostingRow = { advance(); pending.removeFirst() }
      })), preservesPartitioning = true)
  }

  /** The PostingRow of one (field, term, shard) from its docId-sorted postings. */
  private[index] def encodeRow(field: String, term: String, shard: Int, docIds: Array[Long],
      tfs: Array[Int], norms: Array[Int]): PostingRow = {
    val enc = PostingCodec.encode(docIds, tfs, norms)
    var sumTf = 0L
    tfs.foreach(sumTf += _)
    PostingRow(field, term, shard, docIds.length, sumTf,
      enc.bytes, enc.blockOffset, enc.blockLast, enc.blockMaxTf, enc.blockMinNorm)
  }

  /** A heavy-churn store's postings cache (a load above the tombstone
    * gate, `IndexStore.loadManifest`): co-partitioned by docId shard,
    * so every posting row of a shard sits in one partition, and each
    * partition is ONE term-keyed `ShardTable` the scorers probe in
    * place (Scorer.shardGrouped) — the §2.4 bucketing trade: pay one
    * shard-keyed shuffle when the store is loaded, not one per query.
    * (An in-memory build and a store under the gate need no shuffle:
    * a build's docs partitions hold whole shards and each builds its
    * own table, `postingTables`; a store reads each file pair's
    * postings as one table.)
    *
    * Partition count = min(buildPartitions, shards in a docId span of
    * `span`, the store's max docIdEnd), known driver-side: a 7-shard
    * corpus in 32+ partitions would leave every query launching
    * mostly-empty tasks. Freezing the RDD plans the shuffle once; the
    * tables themselves build when it is persisted and first computed.
    */
  private[index] def shardTables(postings: Dataset[PostingRow], config: IndexConfig,
      span: Long): RDD[ShardTable] =
    postings
      .repartition(
        math.min(config.buildPartitions.toLong,
          math.max(1L, (span + config.shardDocs - 1) / config.shardDocs)).toInt,
        col("shard"))
      .rdd
      .mapPartitions(rows => Iterator.single(ShardTable.of(rows)), preservesPartitioning = true)

  /** Full build: docs cut on the shard grid -> per docs partition,
    * tokenize + encode its shards' posting rows into its ShardTable (no
    * exchange) -> term dictionary + stats off the tables.
    */
  def build(df: DataFrame, config: IndexConfig, docIdBase: Long = 0L): BuiltIndex =
    // eager persist-heavy span (see EagerPlanConfs): the caches compile
    // statically under the persist, where AQE only adds per-stage jobs
    // and plan-description events
    graft.EagerPlanConfs.scoped(df.sparkSession)(buildBody(df, config, docIdBase))

  private def buildBody(df: DataFrame, config: IndexConfig, docIdBase: Long): BuiltIndex = {
    val spark = df.sparkSession
    // fail loud HERE, naming the column: postingTables reads fields
    // via getUTF8String, which on a non-string column misreads the
    // value's bytes as an offset word — garbage tokens or an
    // out-of-bounds crash deep inside a task, far from the cause
    config.fields.foreach { f =>
      val sf = df.schema.fields.find(_.name == f)
        .getOrElse(throw new IllegalArgumentException(s"indexed field $f not in schema"))
      // pattern match, not singleton ==: Spark 4 collated strings fail
      // singleton equality but getUTF8String handles them fine
      require(sf.dataType.isInstanceOf[org.apache.spark.sql.types.StringType],
        s"indexed field $f must be a string column, got ${sf.dataType.simpleString}")
    }
    val (withIds, docRanges) =
      assignDocIdsCounted(df, config.keyCols, config.buildPartitions, docIdBase,
        config.docIdStrategy, config.shardDocs)
    val numDocs = docRanges.last - docIdBase
    // numDocs is already known from the assignment counts — no extra
    // corpus pass; the docs cache materializes as a side effect of the
    // postings pass scanning it (one build = two passes total: the
    // count pass over the shared shuffle output, then postings+cache)
    val docs = withIds.persist(StorageLevel.MEMORY_AND_DISK)
    // table p is built from docs partition p: co-partitioned with the
    // docs by construction, so a capped search scores and fetches its
    // hits in one task per partition (QueryEngine.searchWithDocs)
    val shards = new ShardTables(postingTables(docs, config))
    // ONE materialization: the shard tables build and persist in the
    // job that sums the exact per-field token totals (tantivy:
    // total_num_tokens) from the rows' sumTf and counts the tables'
    // (field, term) keys, the partial-df rows the dictionary snapshot
    // reads; the term dictionary is aggregated from the same cached
    // tables when first read
    val perTable = shards.rdd
      .map(t => (t.keys.toLong,
        t.iterator.map(p => p.field -> p.sumTf).toSeq.groupMapReduce(_._1)(_._2)(_ + _)))
      .collect()
    val fieldTokens = perTable.toSeq.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)
    // docs keeps withIds' partitioning (a cache of it), so the
    // assignment's shard-aligned cuts are its per-partition docId ranges
    new BuiltIndex(docs, shards, perTable.map(_._1).sum, numDocs, fieldTokens, config,
      docRanges = Some(DocRange.ofCuts(docRanges))).persist()
  }
}

/** The id pass of `IndexBuilder.assignDocIdsCounted`: output partition j
  * holds the docIds [cuts(j), cuts(j+1)), ascending, with the docId
  * appended to each row. Parent partition p holds the rows that take
  * the ids [offsets(p), offsets(p+1)) in iteration order, so partition j
  * reads exactly the parents overlapping its range (a narrow
  * dependency) and keeps each one's overlapping slice.
  */
private[index] final class ShardCutRDD(
    parent: RDD[InternalRow],
    offsets: Array[Long],
    cuts: Array[Long],
    outSchema: StructType)
    extends RDD[InternalRow](parent.context, Seq(new ShardCutRDD.Dep(parent, offsets, cuts))) {

  override protected def getPartitions: Array[Partition] =
    Array.tabulate[Partition](cuts.length - 1) { j =>
      ShardCutRDD.Slice(j, ShardCutRDD.parentsOf(offsets, cuts(j), cuts(j + 1))
        .map(p => (parent.partitions(p), offsets(p), offsets(p + 1))))
    }

  override def compute(split: Partition, context: TaskContext): Iterator[InternalRow] = {
    val (lo, hi) = (cuts(split.index), cuts(split.index + 1))
    val proj = UnsafeProjection.create(outSchema)
    val idRow = new GenericInternalRow(1)
    val joined = new JoinedRow
    split.asInstanceOf[ShardCutRDD.Slice].parents.iterator.flatMap { case (part, from, until) =>
      var next = math.max(lo, from)
      parent.iterator(part, context)
        .drop((next - from).toInt)
        .take((math.min(hi, until) - next).toInt)
        .map { r =>
          idRow.update(0, next); next += 1
          // copy: the projection reuses its output buffer, and downstream
          // consumers (the cache builder) hold references
          proj(joined(r, idRow)).copy(): InternalRow
        }
    }
  }
}

private[index] object ShardCutRDD {
  /** Output partition `index` and the parent partitions it reads, each
    * with the id range [from, until) its rows take. */
  final case class Slice(index: Int, parents: Seq[(Partition, Long, Long)]) extends Partition

  /** The parent partitions holding ids in [lo, hi) (empty ones skipped). */
  def parentsOf(offsets: Array[Long], lo: Long, hi: Long): Seq[Int] =
    (0 until offsets.length - 1).filter(p => offsets(p) < offsets(p + 1) &&
      offsets(p) < hi && offsets(p + 1) > lo)

  final class Dep(parent: RDD[InternalRow], offsets: Array[Long], cuts: Array[Long])
      extends NarrowDependency[InternalRow](parent) {
    override def getParents(partitionId: Int): Seq[Int] =
      parentsOf(offsets, cuts(partitionId), cuts(partitionId + 1))
  }
}
