package graft.index

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.io.LocalInputFile
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, GraftExpressionBridge, SaveMode,
  SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.storage.StorageLevel

/** Persistent multi-segment index layout — the Spark-native analogue of
  * lnx's tablet store + SQLite metastore (SURVEY.md sections 1.3, 3.2):
  *
  *   dir/seg-NNNNN/{postings,docs,termstats}.parquet   segment data
  *   dir/_deletes/epoch=N/                              upsert tombstones
  *   dir/_lineage/epoch=N/                              per-partition metrics
  *   dir/_manifest/vNNNNN/manifest.json                 one version's metadata
  *   dir/_manifest/LATEST                               atomic pointer
  *
  * A segment is a set of file pairs: docs file p and postings file p
  * hold exactly the same docs, inside a docId window the manifest
  * records (`FilePair`), and a load reads pair p as search partition p
  * (`loadManifest`): a search opens file p in partition p through a
  * planless parquet scan (`FileScan`), with no Catalyst relation per
  * file. The files hold no global order, only a per-file
  * one: every docs file is docId-ascending and a segment's docs files'
  * docId ranges are disjoint; every postings file is sorted by (field,
  * term, shard); every termstats file by (field, term), its df a partial
  * df that readers sum per (field, term). An append or create writes
  * each file straight from the build's partitions (`writeSegment`, no
  * exchange); a compaction cuts its merged window on the same shard
  * grid (`compact`).
  *
  * A version's manifest.json holds everything a reader or the next
  * writer needs: epochs, index config, checkpoints, the tombstone dirs
  * the version reads (with their row counts), the config KV and the doc
  * store's schema. It is a driver-local file (tmp + atomic move), so
  * reading or committing metadata runs no Spark job, and segment reads
  * pass their known schemas instead of inferring them per file — the
  * Iceberg shape of one metadata file per snapshot plus a version
  * pointer.
  *
  * Commit ordering mirrors the reference's write path (data durable
  * first, then the metastore record, bucket.rs:223-237): segment files
  * are written before the new manifest version; the LATEST pointer is
  * swapped last via atomic rename. Data without a manifest entry is
  * invisible garbage awaiting GC — the same crash-consistency contract
  * as dead tablets (bucket.rs:72-74). On a real cluster the manifest
  * role is played by Iceberg snapshot commits (no Iceberg jars in this
  * sandbox; the seam is this object).
  */
object IndexStore {

  /** docIdEnd = exclusive upper bound of docIds in this epoch; after
    * compaction numDocs < docIdEnd (ids are never renumbered).
    */
  final case class EpochMeta(epoch: Int, path: String, numDocs: Long, docIdBase: Long,
      docIdEnd: Long, field: String, fieldTokens: Long)
  final case class CheckpointRow(epoch: Int, snapshotId: String, committedAtEpochMs: Long)
  final case class LineageRow(epoch: Int, partitionId: Int, postingRows: Long,
      postingDocs: Long, tokens: Long)
  /** `fastFuzzy` is read and ignored: stores written with it set carry
    * a `symspell.parquet` per segment that nothing reads any more
    * (fast-fuzzy correction runs over the term dictionary). */
  final case class ConfigRow(keyCols: Seq[String], fields: Seq[String], shardDocs: Int,
      buildPartitions: Int, fastFuzzy: Boolean = false,
      tokenizers: Map[String, String] = Map.empty,
      analyzerVersion: Int = graft.analyze.Tokenizers.AnalyzerVersion,
      docIdStrategy: String = DocIdStrategy.KeyRange)
  /** One `_deletes/epoch=N` dir a manifest version reads, and its rows. */
  final case class TombstoneDir(epoch: Int, rows: Long)

  /** One search partition of a segment: its docs file and its postings
    * file (paths relative to the segment dir; no postings file when none
    * of its docs holds a term) hold exactly the same docs, all with ids
    * in [docIdFrom, docIdUntil). */
  final case class FilePair(docs: String, postings: Option[String], docIdFrom: Long,
      docIdUntil: Long)

  /** A segment dir's file pairs, in partition order. */
  final case class SegmentFiles(path: String, pairs: Seq[FilePair])

  /** The whole content of one version's manifest.json. `tombstones` is
    * the set of tombstone dirs readers of THIS version apply (the
    * Iceberg-manifest analogue: physical deletion is deferred to
    * retention-aware gc()); `docSchema` is the doc store's schema as
    * segment reads see it, in `StructType.json` form; `segments` lists
    * every segment dir the epochs name with its file pairs.
    */
  final case class Manifest(format: Int, epochs: Seq[EpochMeta], config: ConfigRow,
      checkpoints: Seq[CheckpointRow], tombstones: Seq[TombstoneDir],
      kv: Map[String, String], docSchema: String, segments: Seq[SegmentFiles] = Nil)

  /** Bumped when manifest.json changes shape; readers reject other values
    * (3: segments list their file pairs). */
  private[index] final val ManifestFormat = 3
  private final val ManifestFile = "manifest.json"
  private val Json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The schema a parquet read of a written frame reports: file sources
    * read every field, array element and map value as nullable.
    */
  private def readBack(dt: DataType): DataType = dt match {
    case s: StructType =>
      StructType(s.fields.map(f => f.copy(dataType = readBack(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(readBack(a.elementType), containsNull = true)
    case m: MapType => MapType(readBack(m.keyType), readBack(m.valueType), valueContainsNull = true)
    case other => other
  }

  // the fixed schemas of the segment and tombstone files: reads pass
  // them instead of paying one schema-inference job per file set
  private[index] val PostingsSchema =
    readBack(Encoders.product[PostingRow].schema).asInstanceOf[StructType]
  private[index] val TermStatsSchema = StructType.fromDDL("field STRING, term STRING, df BIGINT")
  private[index] val TombstoneSchema = StructType.fromDDL("docId BIGINT")

  private def docSchemaOf(m: Manifest): StructType =
    DataType.fromJson(m.docSchema).asInstanceOf[StructType]

  private def configOf(c: ConfigRow): IndexConfig =
    IndexConfig(c.keyCols, c.fields, c.shardDocs, c.buildPartitions, c.tokenizers,
      c.docIdStrategy)

  private def latestPath(dir: String) = Paths.get(dir, "_manifest", "LATEST")

  def currentVersion(dir: String): Int = {
    val p = latestPath(dir)
    if (Files.exists(p)) new String(Files.readAllBytes(p), StandardCharsets.UTF_8).trim.toInt
    else 0
  }

  private def manifestDir(dir: String, v: Int) = f"$dir/_manifest/v$v%05d"

  private def deletesDir(dir: String, epoch: Int) = s"$dir/_deletes/epoch=$epoch"

  /** Atomically advance the LATEST pointer (tmp file + rename). */
  private[index] def commitVersion(dir: String, v: Int): Unit = {
    Files.createDirectories(Paths.get(dir, "_manifest"))
    // best-effort version CAS: every mutator reads LATEST=v-1 and
    // commits v. If another writer advanced LATEST in between (e.g. a
    // deleteByQuery racing a streaming appendEpoch), a silent
    // last-writer-wins here would DISCARD the other writer's committed
    // epochs from the manifest view. The store's contract is single
    // writer; this turns a contract violation into a loud error
    // instead of silent data loss (a true CAS needs a locking FS
    // primitive — the remaining window is the move below).
    val cur = currentVersion(dir)
    if (cur != v - 1)
      throw new IllegalStateException(
        s"concurrent manifest writer at $dir: committing v$v but LATEST is v$cur " +
        s"(expected v${v - 1}); the store supports one writer at a time")
    val tmp = Paths.get(dir, "_manifest", s".LATEST.tmp$v")
    Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, latestPath(dir), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Write version v's manifest.json as a tmp file plus an atomic move,
    * so a reader never sees a half-written file. A crashed writer's
    * file at an uncommitted version is simply replaced by the next
    * writer of that version — only LATEST makes a version visible.
    */
  private[index] def writeManifestFile(dir: String, v: Int, m: Manifest): Unit = {
    val md = Paths.get(manifestDir(dir, v))
    Files.createDirectories(md)
    val tmp = md.resolve(s".$ManifestFile.tmp")
    Files.write(tmp, Json.writerWithDefaultPrettyPrinter().writeValueAsBytes(m))
    Files.move(tmp, md.resolve(ManifestFile), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  /** Version v's manifest.json exactly as written (no analyzer check). */
  private[index] def readManifestFile(dir: String, v: Int): Manifest = {
    require(v > 0, s"manifest versions start at 1, got v$v")
    val md = Paths.get(manifestDir(dir, v))
    require(Files.isDirectory(md),
      s"manifest v$v at $dir does not exist (never committed, or expired by gc retention)")
    val p = md.resolve(ManifestFile)
    if (!Files.exists(p))
      throw new IllegalStateException(
        s"manifest v$v at $dir has no $ManifestFile: the store was written with the older " +
        "parquet manifest (epochs/config/checkpoints.parquet per version), which this " +
        "version no longer reads; rebuild the index")
    val m = Json.readValue(Files.readAllBytes(p), classOf[Manifest])
    if (m.format != ManifestFormat)
      throw new IllegalStateException(
        s"manifest v$v at $dir has format ${m.format}, this version reads format " +
        s"$ManifestFormat; rebuild the index")
    m
  }

  /** The manifest at `atVersion` (0 = LATEST) and the version it was
    * read at — mutators must commit at basis+1 (the CAS checks it) so a
    * concurrent writer's manifest can never be silently overwritten by
    * content derived from a stale read.
    */
  private def manifestAt(dir: String, atVersion: Int = 0): (Int, Manifest) = {
    val v = if (atVersion > 0) atVersion else currentVersion(dir)
    require(v > 0, s"no committed manifest at $dir")
    val m = readManifestFile(dir, v)
    checkAnalyzer(dir, m.config)
    (v, m)
  }

  /** Query-time tokenization must match the persisted terms exactly: if
    * any of this store's tokenizers changed semantics since the store
    * was written (e.g. en_stem's Porter1980 -> Snowball switch), queries
    * would silently miss the dictionary — fail loudly instead. Indexed
    * fields ABSENT from the map use the default analyzer, so the default
    * participates in the check too (a future default-analyzer change
    * must not slip past a store with an empty map).
    */
  private def checkAnalyzer(dir: String, c: ConfigRow): Unit = {
    val changed = graft.analyze.Tokenizers.changedSince(c.analyzerVersion)
    val usedTokenizers = (c.fields.map(f =>
      c.tokenizers.getOrElse(f, graft.analyze.Tokenizers.Default)) ++
      c.tokenizers.values).distinct
    val affected = usedTokenizers.filter(changed)
    if (affected.nonEmpty)
      throw new IllegalStateException(
        s"store at $dir was built with analyzer v${c.analyzerVersion} and uses " +
        s"tokenizer(s) ${affected.mkString(", ")} whose output changed in " +
        s"v${graft.analyze.Tokenizers.AnalyzerVersion}; rebuild the index " +
        "(query-time terms would no longer match the persisted dictionary)")
  }

  /** Commit `m` as version v: CAS, manifest.json, then the LATEST swap. */
  private def commit(dir: String, v: Int, m: Manifest): Unit = {
    // CAS BEFORE the content write, not only at commit: version v may
    // already be COMMITTED by a concurrent writer, and the write below
    // would clobber its manifest before commitVersion's check ever
    // fires — the losing writer must fail without touching the
    // winner's committed file (commitVersion keeps its own check for
    // the residual window)
    val cur = currentVersion(dir)
    if (cur != v - 1)
      throw new IllegalStateException(
        s"concurrent manifest writer at $dir: writing v$v but LATEST is v$cur " +
        s"(expected v${v - 1}); the store supports one writer at a time")
    require(m.segments.map(_.path).sorted == m.epochs.map(_.path).distinct.sorted,
      s"manifest v$v lists the file pairs of ${m.segments.map(_.path).sorted.mkString(", ")} " +
        s"for the segments ${m.epochs.map(_.path).distinct.sorted.mkString(", ")}")
    writeManifestFile(dir, v, m.copy(
      epochs = m.epochs.sortBy(e => (e.epoch, e.field)),
      checkpoints = m.checkpoints.sortBy(_.epoch),
      tombstones = m.tombstones.sortBy(_.epoch),
      segments = m.segments.sortBy(_.path)))
    commitVersion(dir, v)
  }

  /** Bucket-config KV of the committed manifest (the reference's
    * tri-state config store, lnx-fs/src/config.rs:44-148): explicit
    * overrides live here; an absent key reads as its default.
    */
  def configKv(spark: SparkSession, dir: String, atVersion: Int = 0): Map[String, String] =
    manifestAt(dir, atVersion)._2.kv

  /** Tri-state read: Some(override) if set, else the supplied default
    * (config.rs: `get` falls back to the bucket default when unset).
    */
  def configValue(spark: SparkSession, dir: String, key: String,
      default: Option[String] = None): Option[String] =
    configKv(spark, dir).get(key).orElse(default)

  /** Update the config KV: apply `set` overrides, remove `unset` keys
    * (reads of unset keys fall back to defaults), and commit a new
    * manifest version carrying the unchanged epochs/checkpoints — the
    * update path the reference exposes as config set/unset
    * (config.rs:44-148). Versioned like every other manifest change:
    * a crash before the LATEST swap leaves the old config visible.
    */
  def updateConfig(spark: SparkSession, dir: String,
      set: Map[String, String] = Map.empty, unset: Seq[String] = Nil): Map[String, String] = {
    val (basis, m) = manifestAt(dir)
    val kv = (m.kv ++ set) -- unset
    commit(dir, basis + 1, m.copy(kv = kv))
    kv
  }

  def readManifest(spark: SparkSession, dir: String): (Seq[EpochMeta], IndexConfig, Seq[CheckpointRow]) =
    readManifestAt(spark, dir, currentVersion(dir))

  /** Manifest content at a PINNED version — the reader half of snapshot
    * retention (the Iceberg time-travel analogue of the reference's
    * versioned metastore, lnx-fs/src/metastore/mod.rs): a long-running
    * reader loads at a version and `gc(retention >= R)` keeps every
    * segment and tombstone dir the last R versions reference, so the
    * pinned plan keeps collecting correctly across compactions.
    */
  def readManifestAt(spark: SparkSession, dir: String,
      v: Int): (Seq[EpochMeta], IndexConfig, Seq[CheckpointRow]) = {
    require(v > 0, s"no committed manifest at $dir")
    val m = manifestAt(dir, v)._2
    (m.epochs, configOf(m.config), m.checkpoints)
  }

  // ---- segment-file writers, the one write step of each file kind,
  // shared by writeSegment (create and appendEpoch, straight from the
  // build's partitions) and compact (after its one exchange per file
  // kind). Each writer owns its file's sort and options, so no second
  // copy can drift (one in compact did in r4: 128 MB doc groups + a
  // coalesce(1) dictionary, silently degrading every post-compaction
  // store). The layout IS the read-path contract:
  //  - file pairs: docs file p and postings file p of a segment hold
  //    exactly the same docs, the ids of a window [from, until) that the
  //    manifest records with the pair (`FilePair`). A build's windows are
  //    its shard-grid cuts, so a pair holds whole grid shards of its
  //    segment; load reads pair p as search partition p (shard table p
  //    beside docs partition p), with no exchange;
  //  - docs: every file docId-ascending, the files' docId ranges
  //    pairwise disjoint within a segment (a partial compaction's
  //    window may overlap other segments');
  //  - postings: every file sorted by (field, term, shard), so a term
  //    lookup prunes row groups within each file (the FST/sstable
  //    term-dictionary analogue, SURVEY.md section 4 O3);
  //  - termstats: every file sorted by (field, term); its rows are
  //    partial dfs, one per (field, term) of the pair that wrote it, and
  //    readers sum df per (field, term) over the files (load).

  private def writePostingsParquet(postings: DataFrame, path: String): Unit =
    postings
      .sortWithinPartitions("field", "term", "shard")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Doc store, written as `docs` is partitioned and ordered (the caller
    * hands in docId-ascending partitions over disjoint docId ranges).
    * Small row groups (8 MB vs the 128 MB default): the access pattern
    * is top-k point lookups by docId (lookupDocs), and row-group stats
    * are the pruning unit, so a k-id fetch reads ~k small groups instead
    * of k 128 MB ones. Scan-heavy consumers read postings, not docs, so
    * the small-group overhead lands nowhere hot.
    */
  private def writeDocsParquet(docs: DataFrame, path: String): Unit =
    docs.write.mode(SaveMode.Overwrite)
      .option("parquet.block.size", (8 * 1024 * 1024).toString)
      .parquet(path)

  private def writeTermstatsParquet(rows: DataFrame, path: String): Unit =
    rows
      .sortWithinPartitions("field", "term")
      .write.mode(SaveMode.Overwrite).parquet(path)

  /** Write an in-memory build's segment files (no manifest commit yet),
    * one file per docs partition and one job per file kind, with no
    * exchange: docs partition p is already docId-ascending over its own
    * range (`BuiltIndex.docRanges`) and shard table p holds its
    * postings, so each partition writes its docs, its sorted posting
    * rows and its partial term dfs as they are. Returns the segment's
    * file pairs.
    */
  private def writeSegment(idx: BuiltIndex, segDir: String): Seq[FilePair] = {
    val ranges = idx.docRanges.getOrElse(
      throw new IllegalArgumentException("writeSegment writes an in-memory build's partitions"))
    writePostingsParquet(idx.postings.toDF(), s"$segDir/postings.parquet")
    writeDocsParquet(idx.docs, s"$segDir/docs.parquet")
    writeTermstatsParquet(idx.spark.createDataset(idx.termDfs)(Encoders.product[TermDf]).toDF(),
      s"$segDir/termstats.parquet")
    filePairs(segDir, ranges)
  }

  /** The file pairs just written under `segDir`, partition p's docs and
    * postings files with the window `ranges(p)`. A partition with no
    * docs file holds no live doc and makes no pair.
    */
  private def filePairs(segDir: String, ranges: IndexedSeq[DocRange]): Seq[FilePair] = {
    val docs = partFiles(segDir, "docs.parquet")
    val postings = partFiles(segDir, "postings.parquet")
    require(postings.keySet.subsetOf(docs.keySet) && docs.keySet.forall(_ < ranges.size),
      s"$segDir: docs files of partitions ${docs.keySet.toSeq.sorted.mkString(",")} and " +
        s"postings files of ${postings.keySet.toSeq.sorted.mkString(",")} do not pair up " +
        s"over ${ranges.size} partitions")
    ranges.indices.flatMap(p =>
      docs.get(p).map(d => FilePair(d, postings.get(p), ranges(p).from, ranges(p).until)))
  }

  /** The parquet data files Spark wrote under `path`. */
  private def parquetParts(path: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val listing = Files.list(path)
    try listing.iterator().asScala.filter { p =>
      val name = p.getFileName.toString
      name.startsWith("part-") && name.endsWith(".parquet")
    }.toVector
    finally listing.close()
  }

  /** The files of one kind under `segDir` by the partition that wrote
    * each (Spark names a file `part-NNNNN-...` after its partition), as
    * paths relative to the segment dir. */
  private def partFiles(segDir: String, kind: String): Map[Int, String] = {
    val byPart = parquetParts(Paths.get(segDir, kind)).map { p =>
      val name = p.getFileName.toString
      name.stripPrefix("part-").takeWhile(_.isDigit).toInt -> s"$kind/$name"
    }
    require(byPart.map(_._1).distinct.size == byPart.size,
      s"$segDir/$kind holds several files of one partition")
    byPart.toMap
  }

  private def writeLineage(idx: BuiltIndex, dir: String, epoch: Int): Unit = {
    val spark = idx.spark
    import spark.implicits._
    idx.postings
      .mapPartitions { rows =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var (nRows, nDocs, nToks) = (0L, 0L, 0L)
        rows.foreach { p => nRows += 1; nDocs += p.numDocs; nToks += p.sumTf }
        Iterator.single(LineageRow(epoch, pid, nRows, nDocs, nToks))
      }(Encoders.product[LineageRow])
      .filter(col("postingRows") > 0)
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/_lineage/epoch=$epoch")
  }

  /** Create a new index directory with epoch 0. */
  def create(df: DataFrame, config: IndexConfig, dir: String,
      snapshotId: String = "epoch-0"): BuiltIndex = {
    // create() means a NEW store: state from a previous store at this
    // dir would otherwise look live — LATEST resets to 1 but the old
    // _manifest/vNNNNN dirs remain as version numbers the new store
    // will advance THROUGH (adopting e.g. a stale kv.parquet when it
    // commits that version), _lineage keeps the dead store's epochs in
    // lineage() output, and orphan _deletes/seg-* dirs linger.
    //
    // Ordering is data-then-wipe-then-manifest: the new index is built
    // and fully WRITTEN to a staging dir BEFORE any old state is
    // touched, so a failed build (type gate, OOM, any job failure)
    // leaves the previously committed store intact — wipe-first turned
    // a transient build failure into permanent loss of the old store.
    // The staging name deliberately does not match "seg-*" so the wipe
    // below can't eat it.
    val root = Paths.get(dir)
    val staging = root.resolve("_staging-seg-00000")
    if (Files.exists(staging)) deleteTree(staging)
    val idx = IndexBuilder.build(df, config)
    val pairs = writeSegment(idx, staging.toString)
    if (Files.exists(root)) {
      Seq("_manifest", "_lineage", "_deletes").foreach(d => deleteTree(root.resolve(d)))
      val listing = Files.list(root)
      try {
        val it = listing.iterator()
        while (it.hasNext) {
          val p = it.next()
          if (p.getFileName.toString.startsWith("seg-")) deleteTree(p)
        }
      } finally listing.close()
    }
    Files.move(staging, root.resolve("seg-00000"))
    writeLineage(idx, dir, 0)
    val epochs = config.fields.map(f =>
      EpochMeta(0, "seg-00000", idx.numDocs, 0L, idx.numDocs, f, idx.fieldTokens.getOrElse(f, 0L)))
    val configRow = ConfigRow(config.keyCols, config.fields, config.shardDocs,
      config.buildPartitions, tokenizers = config.tokenizers,
      docIdStrategy = config.docIdStrategy)
    commit(dir, 1, Manifest(ManifestFormat, epochs, configRow,
      Seq(CheckpointRow(0, snapshotId, 0L)), Nil, Map.empty, readBack(idx.docs.schema).json,
      Seq(SegmentFiles("seg-00000", pairs))))
    idx.unpersist()
    load(df.sparkSession, dir)
  }

  /** Load the committed view: union of all segments, with every
    * tombstone (upsert and delete-by-query) applied once — deleted docs
    * leave both the doc store and the postings, which are partitioned
    * like an in-memory build's (docs partition p beside shard table p),
    * so no scorer ever sees a delete set and no query pays an exchange.
    * df/avgdl statistics include not-yet-compacted deleted docs — the
    * same semantics as Lucene/tantivy segment deletes before a merge —
    * so every live doc scores as if the deleted ones were still
    * filtered per query. See `loadManifest` for the two partitionings.
    *
    * @param cacheDocs false = the SCALE default: stored fields stream
    *   from the docId-sorted segment parquet (top-k lookups read only
    *   the files whose window holds an id, QueryEngine.lookupDocs) and
    *   only the shard tables pin memory. True pins the `docs` frame
    *   general SQL reads too — only sane when the corpus fits executor
    *   memory (interactive small-table sessions); fetches still read
    *   the docs files, one per partition.
    * @param atVersion 0 = the committed LATEST; a positive version pins
    *   the load to that manifest snapshot — combine with
    *   `gc(retention >= R)` so the pinned version's files survive
    *   later compactions (snapshot-retention reader contract).
    */
  def load(spark: SparkSession, dir: String, cacheDocs: Boolean = true,
      atVersion: Int = 0): BuiltIndex =
    loadManifest(spark, dir, manifestAt(dir, atVersion)._2, cacheDocs)

  /** Union of the segments' files of one kind, read with their known
    * schema, as a Catalyst frame (the shuffle paths above the tombstone
    * gate, compaction's merge). */
  private def readSegments(spark: SparkSession, dir: String, segPaths: Seq[String],
      file: String, schema: StructType): DataFrame =
    segPaths.map(p => spark.read.schema(schema).parquet(s"$dir/$p/$file"))
      .reduce(_ unionByName _)

  /** The statuses of the manifest's docs files, in pair order. */
  private def docFiles(spark: SparkSession, dir: String, m: Manifest): Seq[FileStatus] =
    FileScan.statuses(spark, m.segments.flatMap(s => s.pairs.map(p => s"$dir/${s.path}/${p.docs}")))

  /** The fields of a store file's `schema` named by `cols`, resolved as
    * Catalyst resolves a column name (case-insensitive unless
    * configured). */
  private def fieldsOf(schema: StructType, cols: Seq[String]): StructType = {
    val resolver = org.apache.spark.sql.internal.SQLConf.get.resolver
    StructType(cols.map(c => schema.fields.find(f => resolver(f.name, c)).getOrElse(
      throw new IllegalArgumentException(
        s"no column $c among ${schema.fieldNames.mkString(", ")}"))))
  }

  /** Every docId the manifest's tombstone dirs hold (not deduplicated),
    * as a Catalyst frame: the distributed delete set above the gate. */
  private def tombstoneScan(spark: SparkSession, dir: String,
      tombs: Seq[TombstoneDir]): Option[DataFrame] =
    if (tombs.isEmpty) None
    else Some(tombs.map(t => spark.read.schema(TombstoneSchema).parquet(deletesDir(dir, t.epoch)))
      .reduce(_ unionByName _))

  /** The same docIds read by a planless scan, one partition per
    * tombstone file; None when the manifest lists no tombstone dir. */
  private def tombstoneRdd(spark: SparkSession, dir: String,
      tombs: Seq[TombstoneDir]): Option[RDD[Long]] =
    if (tombs.isEmpty) None
    else {
      val files = FileScan.statuses(spark, tombs.flatMap(t =>
        parquetParts(Paths.get(deletesDir(dir, t.epoch))).map(_.toString)))
      Some(FileScan.scan(spark, files.map(Some(_)), TombstoneSchema, TombstoneSchema)
        .map(_.getLong(0)))
    }

  /** The manifest's tombstoned docIds, distinct and ascending: ONE scan
    * job with no SQL execution, and no job without tombstones. */
  private def tombstoneIds(spark: SparkSession, dir: String,
      tombs: Seq[TombstoneDir]): Array[Long] =
    tombstoneRdd(spark, dir, tombs).fold(Array.emptyLongArray) { rdd =>
      val ids = spark.sparkContext.runJob(rdd, (it: Iterator[Long]) => it.toArray).flatten
      java.util.Arrays.sort(ids)
      var n = 0
      ids.indices.foreach { i => if (i == 0 || ids(i) != ids(i - 1)) { ids(n) = ids(i); n += 1 } }
      java.util.Arrays.copyOf(ids, n)
    }

  /** One docId shard's tombstones, sorted. */
  private[index] final case class ShardDels(shard: Int, dels: Array[Long])

  /** Tombstones gathered per docId shard — the delete set stays
    * distributed (each row bounded by the shard width) instead of a
    * driver-collected array. Shared by load (above its broadcast gate)
    * and compact.
    */
  private def delsByShard(deletes: DataFrame, shardDocs: Int) =
    deletes
      // DIV = integral division, the one shard definition everything
      // shares ((docId / shardDocs).toInt in IndexBuilder); `/` on longs
      // is DOUBLE division, which can land on the wrong shard once
      // docIds pass double precision
      .select(expr(s"CAST(docId DIV $shardDocs AS INT)").as("shard"), col("docId"))
      .groupBy("shard").agg(sort_array(collect_list("docId")).as("dels"))
      .as(Encoders.product[ShardDels])

  /** Each posting row with its shard's tombstoned docs dropped: rows of
    * tombstone-free shards pass untouched, the rest decode, filter and
    * re-encode, and a row left empty is dropped.
    */
  private def withoutDeleted(postings: Dataset[PostingRow],
      dels: Dataset[ShardDels]): Dataset[PostingRow] =
    postings.joinWith(dels, postings("shard") === dels("shard"), "left_outer")
      .flatMap { case (p, d) => if (d == null) Some(p) else liveRow(p, d.dels) }(
        Encoders.product[PostingRow])

  /** `p` without the docs in `dels` (sorted): `p` itself when it holds
    * none of them, None when none of its docs survives.
    */
  private def liveRow(p: PostingRow, dels: Array[Long]): Option[PostingRow] = {
    val dec = PostingCodec.decodeAll(p.bytes, p.blockOffset, p.blockLast)
    val keep = dec.docIds.indices
      .filter(i => java.util.Arrays.binarySearch(dels, dec.docIds(i)) < 0).toArray
    if (keep.length == dec.docIds.length) Some(p)
    else if (keep.isEmpty) None
    else Some(IndexBuilder.encodeRow(p.field, p.term, p.shard,
      keep.map(dec.docIds), keep.map(dec.tfs), keep.map(dec.norms)))
  }

  /** `rows` without the docs in `dels` (sorted, distinct, every
    * tombstone of the store): the rows of a shard holding none of them
    * pass untouched, the rest go through `liveRow`. */
  private def liveRows(rows: Iterator[PostingRow], dels: Array[Long],
      shardDocs: Int): Iterator[PostingRow] =
    rows.flatMap { p =>
      val from = p.shard.toLong * shardDocs
      val at = java.util.Arrays.binarySearch(dels, from)
      val next = if (at >= 0) at else -at - 1
      if (next < dels.length && dels(next) < from + shardDocs) liveRow(p, dels) else Some(p)
    }

  /** Tombstone rows up to which load collects the ids driver-side and
    * broadcasts them (slim docId longs: 4M rows ≈ 32 MB).
    */
  private[index] final val BroadcastTombstones = 4000000L

  /** A manifest's delete set: `ids`, the docIds as a frame (the doc
    * store's anti-join), built on first use, and under the broadcast
    * gate `sorted`, the same ids collected on the driver, distinct and
    * ascending.
    */
  private final class Deletes(idsOf: => DataFrame, val sorted: Option[Array[Long]]) {
    lazy val ids: DataFrame = idsOf
  }

  /** The manifest's tombstones, read once. The joins they feed sit
    * INSIDE frames persist() may freeze, and a cached plan never gets
    * AQE's runtime broadcast conversion (CLAUDE.md): make the broadcast
    * decision explicitly, gated. The manifest's row counts decide the
    * gate without a job; under it ONE planless scan job collects the
    * ids (`tombstoneIds`) and `ids` is a driver-local broadcast frame
    * (whose broadcast still runs a collect job when a plan executes
    * it), above it the distinct scan, for plain shuffle joins rather
    * than sort-merging the whole doc store against the delete set.
    */
  private def deletes(spark: SparkSession, dir: String, m: Manifest,
      broadcastTombstones: Long): Option[Deletes] =
    if (m.tombstones.isEmpty) None
    else if (m.tombstones.map(_.rows).sum <= broadcastTombstones) {
      val ids = tombstoneIds(spark, dir, m.tombstones)
      Some(new Deletes(broadcast(spark.createDataset(ids.toSeq)(Encoders.scalaLong).toDF("docId")),
        Some(ids)))
    } else Some(new Deletes(tombstoneScan(spark, dir, m.tombstones).get.distinct(), None))

  /** `docs` minus the delete set. */
  private def withoutTombstones(docs: DataFrame, dels: Option[Deletes]): DataFrame =
    dels.fold(docs)(d => docs.join(d.ids, Seq("docId"), "left_anti"))

  /** The index of a manifest, partitioned one of two ways.
    *
    * Paired (up to `broadcastTombstones` tombstone rows, the regime of
    * every append-and-read loop): search partition p is file pair p of
    * the manifest (`FilePair`, segments in path order), and every read a
    * search makes is a planless scan (`FileScan.scan`: partition p
    * opens exactly file p, no Catalyst relation per file). The
    * tombstones are one scan job collected into a sorted id array, sent
    * once as a broadcast variable. Shard table p is built from postings
    * file p alone (an empty partition when the pair has none), its
    * tombstoned docs dropped by `liveRow` against the ids, with no
    * exchange, inside the first search's job. A fetch reads docs file p
    * as partition p with only the columns it returns, filtered against
    * the same ids (`BuiltIndex.docColumns`), so docId-ascending.
    * `docRanges` are the pairs' windows, so a capped search scores and
    * fetches in one job (QueryEngine.searchWithDocs) and `lookupDocs`
    * reads only the files whose window holds an id. A grid shard written
    * by several segments sits in several partitions, but a doc's
    * postings are all in its own pair, so per-doc scores are the same
    * as in any other layout. `docs`, which general SQL reads, is ONE
    * parquet relation over all the docs files (`FileScan.relation`) with
    * the same tombstone filter, so Catalyst keeps its pruning and
    * pushdown.
    *
    * Shuffled (heavy churn above the gate, where the ids stay
    * distributed): the docs are the segments' docs anti-joined with the
    * distinct tombstones, and the postings meet their shard's tombstones
    * in a shuffle join and go through one shard repartition
    * (`IndexBuilder.shardTables`), with no range table.
    *
    * Either way the tables freeze and build on the first read, and the
    * dictionary lookups read the termstats files' partial dfs through
    * one planless scan (`BuiltIndex.termDfs`). So load plans nothing
    * over the postings, the dictionary or (under the gate) the docs; its one job is the
    * tombstone collect under the gate, none on a store without
    * tombstones.
    */
  private[index] def loadManifest(spark: SparkSession, dir: String, m: Manifest,
      cacheDocs: Boolean, broadcastTombstones: Long = BroadcastTombstones): BuiltIndex = {
    val config = configOf(m.config)
    val segPaths = m.epochs.map(_.path).distinct
    val docSchema = docSchemaOf(m)
    val dels = deletes(spark, dir, m, broadcastTombstones)
    val (docs, shards, docRanges, docsScan) = dels.map(_.sorted) match {
      case Some(None) =>
        val stored = readSegments(spark, dir, segPaths, "postings.parquet", PostingsSchema)
          .as(Encoders.product[PostingRow])
        val live = withoutDeleted(stored, delsByShard(dels.get.ids, config.shardDocs))
        // shards over the whole docId space: after compaction the
        // store's numDocs falls below its highest docId (ids are never
        // renumbered)
        val span = m.epochs.map(_.docIdEnd).max
        (withoutTombstones(readSegments(spark, dir, segPaths, "docs.parquet", docSchema), dels),
          new ShardTables(IndexBuilder.shardTables(live, config, span)), None, None)
      case sorted =>
        val pairs = m.segments.flatMap(s => s.pairs.map(p => s.path -> p))
        require(pairs.nonEmpty, s"manifest of $dir lists no file pairs")
        val files = docFiles(spark, dir, m)
        // the ids go out once as a broadcast variable, which the docs
        // filter, the fetch scan and the table build all read: no
        // broadcast exchange (its collect job would run in the first read)
        val dead = sorted.flatten.map(spark.sparkContext.broadcast(_))
        val stored = FileScan.relation(spark, files, docSchema)
        val docs = dead.fold(stored) { d =>
          val live = udf((docId: Long) => java.util.Arrays.binarySearch(d.value, docId) < 0)
          stored.filter(live(col("docId")))
        }
        val docsScan = (cols: Seq[String]) => {
          val required = fieldsOf(docSchema, "docId" +: cols)
          val rows = FileScan.scan(spark, files.map(Some(_)), docSchema, required)
          (required, dead.fold(rows)(d => rows.mapPartitions(_.filter(r =>
            java.util.Arrays.binarySearch(d.value, r.getLong(0)) < 0), preservesPartitioning = true)))
        }
        (docs, new ShardTables(pairedTables(spark, dir, pairs, dead, config.shardDocs)),
          Some(pairs.map(p => DocRange(p._2.docIdFrom, p._2.docIdUntil)).toIndexedSeq),
          Some(docsScan))
    }
    val byField = m.epochs.groupBy(_.field)
    val fieldTokens = byField.map { case (f, es) => f -> es.map(_.fieldTokens).sum }
    val numDocs = m.epochs.groupBy(_.epoch).map(_._2.head.numDocs).sum
    // the partial dfs, one termstats file per partition, found and
    // counted (from their footers) when the dictionary is first built
    lazy val termstats = FileScan.statuses(spark, segPaths.flatMap(p =>
      parquetParts(Paths.get(dir, p, "termstats.parquet")).map(_.toString)))
    val termDfScan = () =>
      FileScan.scan(spark, termstats.map(Some(_)), TermStatsSchema, TermStatsSchema)
        .map(r => TermDf(r.getUTF8String(0).toString, r.getUTF8String(1).toString, r.getLong(2)))
    new BuiltIndex(docs, shards, FileScan.rowCount(spark, termstats), numDocs, fieldTokens, config,
      docRanges, docsScan, Some(termDfScan))
      .persist(cacheDocs)
  }

  /** Posting rows as the store's postings files hold them, bound to
    * `PostingsSchema`: each task builds its own deserializer from it. */
  private lazy val PostingRows =
    ExpressionEncoder[PostingRow]().resolveAndBind(DataTypeUtils.toAttributes(PostingsSchema))

  /** Shard table p of a paired load, built from postings file p alone
    * (an empty table when the pair has none), its tombstoned docs
    * dropped against `dels` (sorted, distinct): a planless scan, no
    * exchange. */
  private def pairedTables(spark: SparkSession, dir: String, pairs: Seq[(String, FilePair)],
      dels: Option[Broadcast[Array[Long]]], shardDocs: Int): RDD[ShardTable] = {
    val paths = pairs.map { case (seg, p) => p.postings.map(f => s"$dir/$seg/$f") }
    val found = FileScan.statuses(spark, paths.flatten).iterator
    val enc = PostingRows
    FileScan.scan(spark, paths.map(_.map(_ => found.next())), PostingsSchema, PostingsSchema)
      .mapPartitions({ rows =>
        val toPosting = enc.createDeserializer()
        val postings = rows.map(r => toPosting(r))
        Iterator.single(ShardTable.of(dels.fold(postings)(d => liveRows(postings, d.value, shardDocs))))
      }, preservesPartitioning = true)
  }

  /** Next epoch number, clearing BOTH sets: delete-only epochs exist
    * only as checkpoint rows, so numbering off EpochMeta alone would
    * collide a later append/compact with a pending delete epoch's
    * tombstone dir.
    */
  private def nextEpoch(m: Manifest): Int =
    (m.epochs.map(_.epoch) ++ m.checkpoints.map(_.epoch)).max + 1

  /** Rows of the parquet files just written under `path`, summed from
    * their footers on the driver — no Spark job, no data read.
    */
  private def parquetRows(path: String): Long =
    parquetParts(Paths.get(path)).map { p =>
      val r = ParquetFileReader.open(new LocalInputFile(p))
      try r.getRecordCount finally r.close()
    }.sum

  /** Count the tombstone dir just written for `epoch`: its manifest
    * entry, or None after deleting it when empty — an empty dir would
    * make every later load pay the tombstone scan and anti-join for
    * zero rows.
    */
  private def keepTombstones(dir: String, epoch: Int): Option[TombstoneDir] = {
    val rows = parquetRows(deletesDir(dir, epoch))
    if (rows > 0L) Some(TombstoneDir(epoch, rows))
    else { deleteTree(Paths.get(deletesDir(dir, epoch))); None }
  }

  /** Recursively delete a directory tree, closing the walk stream (it
    * holds open directory handles — leaking one per call).
    */
  private def deleteTree(p: java.nio.file.Path): Unit = {
    if (Files.exists(p)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder()).forEach(x => Files.delete(x))
      finally walk.close()
    }
  }

  /** Drop the index: delete the directory tree — the analogue of the
    * reference's bucket deletion (service.rs:78-112).
    */
  def drop(dir: String): Unit = deleteTree(Paths.get(dir))

  /** Per-partition build metrics of the committed epochs: an epoch no
    * manifest version committed (an append that failed after its
    * segment write) leaves `_lineage/epoch=N` rows behind, which this
    * view drops. */
  def lineage(spark: SparkSession, dir: String): DataFrame = {
    val m = manifestAt(dir)._2
    spark.read.parquet(s"$dir/_lineage")
      .filter(col("epoch").isin((m.epochs.map(_.epoch) ++ m.checkpoints.map(_.epoch)).distinct: _*))
  }

  def checkpoints(spark: SparkSession, dir: String): Seq[CheckpointRow] =
    readManifest(spark, dir)._3

  /** One-row health/info summary of the committed view — the engine's
    * analogue of the reference's health/info endpoints (SURVEY.md
    * section 2.11): manifest version, epoch/segment counts, live docs,
    * pending tombstones, checkpoint count, and two read-cost signals:
    * `searchPartitions`, the file pairs a read scans (one search
    * partition each; it grows by an append's pairs until a compaction),
    * and `tombstoneRatio`, the share of stored docs that are tombstoned
    * (they still cost postings until a compaction). Both come from the
    * manifest and the pending-delete count: the distinct ids of one
    * planless scan over the tombstone files (one job, no SQL execution),
    * and no job on a store without tombstones.
    */
  def info(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (v, m) = manifestAt(dir)
    val pendingDeletes = tombstoneRdd(spark, dir, m.tombstones).fold(0L)(_.distinct().count())
    val storedDocs = m.epochs.groupBy(_.epoch).map(_._2.head.numDocs).sum
    val tombstoneRatio = if (storedDocs == 0L) 0.0 else pendingDeletes.toDouble / storedDocs
    Seq((v, m.epochs.map(_.epoch).distinct.size, m.epochs.map(_.path).distinct.size,
      storedDocs - pendingDeletes, pendingDeletes, m.checkpoints.size,
      m.segments.map(_.pairs.size).sum, tombstoneRatio))
      .toDF("manifestVersion", "epochs", "segments", "liveDocs", "pendingDeletes", "checkpoints",
        "searchPartitions", "tombstoneRatio")
  }

  /** Append one ingest epoch (INSERT-as-UPSERT by primary key,
    * apis/mod.rs:81-82): new docs get docIds above all existing ones;
    * rows whose key already exists tombstone the old docId. Idempotent
    * per snapshotId — re-running a committed snapshot is a no-op, which
    * is the resume contract (north rule: resumable from snapshot
    * checkpoints; SURVEY.md section 2.10).
    */
  def appendEpoch(newDocs: DataFrame, dir: String, snapshotId: String): Boolean = {
    val spark = newDocs.sparkSession
    // "delete:" is deleteByQuery's checkpoint namespace — an ingest id
    // inside it would collide with (or be shadowed by) a delete
    // checkpoint and silently no-op one of the two operations
    require(!snapshotId.startsWith("delete:"),
      s"snapshotId '$snapshotId' uses the reserved 'delete:' checkpoint namespace")
    val (basis, m) = manifestAt(dir)
    if (m.checkpoints.exists(_.snapshotId == snapshotId)) return false // already committed: resume no-op
    val config = configOf(m.config)
    // schema gate BEFORE any write: a mismatched batch would otherwise
    // COMMIT a segment the per-segment docs union can never read again
    // (unionByName AnalysisException on every later load — the store
    // is bricked until manual surgery). Nullability is not compared;
    // unionByName doesn't care.
    val expected = docSchemaOf(m).fields.filter(_.name != "docId")
      .map(f => f.name -> f.dataType).toSet
    val got = newDocs.schema.fields.map(f => f.name -> f.dataType).toSet
    if (got != expected)
      throw new IllegalArgumentException(
        s"appendEpoch($dir): batch schema ${got.toSeq.sortBy(_._1).mkString(", ")} does not " +
        s"match the store's ${expected.toSeq.sortBy(_._1).mkString(", ")}")
    val epoch = nextEpoch(m)
    val base = m.epochs.map(_.docIdEnd).max
    val idx = IndexBuilder.build(newDocs, config, base)
    try {
      val segName = f"seg-$epoch%05d"
      val pairs = writeSegment(idx, s"$dir/$segName")
      writeLineage(idx, dir, epoch)
      writeUpserts(spark, dir, m, idx, deletesDir(dir, epoch))
      // a pure-insert append (no key overlap) commits no tombstone dir
      val newTombs = keepTombstones(dir, epoch)
      val newEpochs = m.epochs ++ config.fields.map(f =>
        EpochMeta(epoch, segName, idx.numDocs, base, base + idx.numDocs, f,
          idx.fieldTokens.getOrElse(f, 0L)))
      commit(dir, basis + 1, m.copy(epochs = newEpochs,
        checkpoints = m.checkpoints :+ CheckpointRow(epoch, snapshotId, 0L),
        tombstones = m.tombstones ++ newTombs,
        segments = m.segments :+ SegmentFiles(segName, pairs)))
    } finally idx.unpersist()
    true
  }

  /** Epoch keys up to which an append collects them on the driver
    * (keys are one per doc, so the gate reads `numDocs`, no job): the
    * upsert scan's key set, or the join path's broadcast side.
    */
  private[index] final val BroadcastKeys = 2000000L

  /** The upsert scan's key gate (`writeUpserts`); specs lower it to
    * force the join path. */
  @volatile private[graft] var upsertScanKeys: Long = BroadcastKeys

  /** Write an epoch's upsert tombstones to `path`: every docId the
    * committed store still serves whose key reappears in the epoch
    * `idx`. Only the segments' (docId, key) docs columns are read: no
    * postings, term dictionary or cache is built.
    *
    * Under both driver gates (the epoch's keys, the prior tombstones
    * under `BroadcastTombstones`) and for keys whose join equality is
    * byte equality after normalization (`UnsafeRowUtils.isBinaryStable`:
    * no non-binary collation), it is ONE column-pruned scan with no join,
    * no exchange and no Catalyst plan (`FileScan.scan` over the pairs'
    * docs files). The epoch's keys and the prior tombstone ids (one
    * planless scan job, `tombstoneIds`) are collected into driver sets
    * and broadcast (`UpsertKeys.Probe`); each
    * task keeps a row whose key is in the key set and whose docId is not
    * a tombstone. A key matches exactly as the join matched it: a key
    * with a null column never matches, floats compare after the join's
    * normalization (-0.0 = 0.0, NaN = NaN) and binaries by content, as
    * each key is compared as one normalized UnsafeRow. The broadcast is
    * destroyed once the write ends, failed or not.
    *
    * Otherwise the live docs left-semi-join the epoch's keys, broadcast
    * as a driver-landed local relation up to `BroadcastKeys` (no job per
    * segment branch of the union the join is pushed through, but one
    * collect job per broadcast when the plan runs), else persisted once
    * for a shuffle join.
    */
  private def writeUpserts(spark: SparkSession, dir: String, m: Manifest, idx: BuiltIndex,
      path: String): Unit = {
    val keyCols = idx.config.keyCols
    val keyTypes = keyCols.map(k => idx.docs.schema(k).dataType)
    val scan = idx.numDocs <= upsertScanKeys &&
      m.tombstones.map(_.rows).sum <= BroadcastTombstones &&
      keyTypes.forall(UnsafeRowUtils.isBinaryStable)
    if (scan) {
      val epochKeys = idx.docs.select(keyCols.map(col): _*).queryExecution.toRdd
        .mapPartitions(rows => UpsertKeys.keyed(rows, keyTypes, 0).map(_._2.copy()))
        .collect()
      val probe = spark.sparkContext.broadcast(UpsertKeys.Probe(
        new java.util.HashSet[UnsafeRow](epochKeys.toSeq.asJava),
        tombstoneIds(spark, dir, m.tombstones)))
      try {
        val docSchema = docSchemaOf(m)
        val ids = FileScan.scan(spark, docFiles(spark, dir, m).map(Some(_)), docSchema,
            fieldsOf(docSchema, "docId" +: keyCols))
          .mapPartitions { rows =>
            val p = probe.value
            UpsertKeys.keyed(rows, keyTypes, 1).collect {
              case (r, k) if p.hit(r.getLong(0), k) => r.getLong(0)
            }
          }
        spark.createDataset(ids)(Encoders.scalaLong).toDF("docId")
          .write.mode(SaveMode.Overwrite).parquet(path)
      } finally probe.destroy()
    } else {
      val oldDocs = withoutTombstones(
        readSegments(spark, dir, m.epochs.map(_.path).distinct, "docs.parquet", docSchemaOf(m)),
        deletes(spark, dir, m, BroadcastTombstones))
      val newKeys = idx.docs.select(keyCols.map(col): _*)
      val rhs =
        if (idx.numDocs <= BroadcastKeys)
          broadcast(spark.createDataFrame(newKeys.collect().toSeq.asJava, newKeys.schema))
        else newKeys.persist(StorageLevel.MEMORY_AND_DISK)
      try oldDocs.select((col("docId") +: keyCols.map(col)): _*)
        .join(rhs, keyCols, "left_semi")
        .select("docId")
        .write.mode(SaveMode.Overwrite).parquet(path)
      finally rhs.unpersist()
    }
  }

  /** deleteByQuery checkpoint ids live in their own namespace: a bare
    * deleteId equal to an ingest snapshotId (or vice versa) must never
    * make the OTHER operation a silent resume no-op.
    */
  private def deleteCheckpointId(deleteId: String) = s"delete:$deleteId"

  /** Durable delete-by-query: tombstone the FULL match set of `clauses`
    * against the live store view (prior tombstones already applied by
    * load) — the session dialect's `DELETE ... WHERE fts(...)` made
    * persistent. Committed as a TOMBSTONE-ONLY epoch: the tombstone
    * file plus a checkpoint row, no segment (the manifest lists the
    * tombstone dir, so every later load applies it) — same
    * data-then-manifest crash ordering as appendEpoch, idempotent per
    * deleteId (re-running a committed delete is a no-op, returning -1).
    * A zero-match query commits NOTHING and does not consume the
    * deleteId, so a corrected retry under the same id still runs.
    * Matched postings are physically dropped at the next compact();
    * until then every load drops the tombstoned docIds from its postings
    * cache (P7 tombstones-until-merge). The match is computed distributed and
    * only slim docId longs are written — documents never cross the
    * shuffle.
    *
    * @return number of docs tombstoned, or -1 if deleteId was already
    *         committed
    */
  def deleteByQuery(spark: SparkSession, dir: String,
      clauses: Seq[graft.query.SearchClause], deleteId: String): Long = {
    val (basis, m) = manifestAt(dir)
    if (m.checkpoints.exists(_.snapshotId == deleteCheckpointId(deleteId))) return -1L
    val epoch = nextEpoch(m)
    val engine = new graft.query.QueryEngine(loadManifest(spark, dir, m, cacheDocs = false))
    try
      engine.matchF32(clauses).select("docId")
        .write.mode(SaveMode.Overwrite).parquet(deletesDir(dir, epoch))
    finally engine.release()
    keepTombstones(dir, epoch) match {
      case None => 0L
      case Some(t) =>
        commit(dir, basis + 1, m.copy(
          checkpoints = m.checkpoints :+ CheckpointRow(epoch, deleteCheckpointId(deleteId), 0L),
          tombstones = m.tombstones :+ t))
        t.rows
    }
  }

  /** Segment merge / compaction (the reference's tablet compaction+GC,
    * bucket.rs:72-74): merge the selected segments' posting rows per
    * (field, term, shard), drop tombstoned docIds, rewrite as one
    * segment — postings-level, no re-tokenization.
    *
    * The merged segment keeps the file-pair layout: its docId window is
    * cut like a build's (`IndexBuilder.shardCuts` over buildPartitions),
    * and run p's docs and postings land in partition p through one
    * exchange per file kind (`repartitionById`), so docs file p and
    * postings file p hold the same docs. Each pair writes its own
    * partial term dfs, read back from its written postings file. A run
    * whose docs were all deleted writes no pair.
    *
    * @param maxSegments bounds one pass (the reference's LSM tiered
    *   framing, bucket.rs:72-74): the N smallest segments by doc count
    *   merge, the rest stay untouched, so a single compaction's
    *   footprint is set by the tier size, not the index size. Tombstones
    *   targeting docs still physically present in unmerged segments are
    *   RETAINED (rewritten under the merged epoch); tombstones absorbed
    *   by the merge disappear. Default = full compaction.
    */
  def compact(spark: SparkSession, dir: String, maxSegments: Int = Int.MaxValue): Unit = {
    // a merge needs >= 2 inputs: silently widening a smaller budget
    // (the old math.max(2, _) in the selection) would rewrite more
    // data than the caller's documented per-pass footprint bound
    require(maxSegments >= 2,
      s"compact merges at least 2 segments per pass, got maxSegments=$maxSegments")
    val (basis, m) = manifestAt(dir)
    val config = configOf(m.config)
    val segs = m.epochs.groupBy(_.epoch).toSeq
      .map { case (ep, es) => (ep, es.head.path, es.head.numDocs) }
      .sortBy(_._1)
    // size-ranked selection: merging the smallest segments first retires
    // the most per-query segment overhead per byte rewritten
    val selected =
      if (maxSegments >= segs.size) segs
      else segs.sortBy(s => (s._3, s._1)).take(maxSegments)
    val selectedEpochs = selected.map(_._1).toSet
    val unselected = segs.filterNot(s => selectedEpochs(s._1))
    // the merged epoch keeps the id-space window of what it merged
    // (ids are never renumbered); unmerged epochs keep their rows — a
    // base of 0 would claim an id range overlapping epochs that were
    // NOT selected by a partial compaction
    val mergedDocIdEnd = m.epochs.filter(e => selectedEpochs(e.epoch)).map(_.docIdEnd).max
    val mergedDocIdBase = m.epochs.filter(e => selectedEpochs(e.epoch)).map(_.docIdBase).min
    val cuts = IndexBuilder.shardCuts(mergedDocIdBase, mergedDocIdEnd - mergedDocIdBase,
      config.shardDocs, config.buildPartitions)
    val runs = cuts.length - 1
    // the run holding a docId: interior cuts are grid multiples, so every
    // doc of a shard falls in the run holding the shard's first id in
    // the window
    val runOf = udf((docId: Long) => IndexBuilder.cutIndex(cuts, docId))

    val deletes = tombstoneScan(spark, dir, m.tombstones).map(_.distinct())
    val docSchema = docSchemaOf(m)
    val postingsSel = readSegments(spark, dir, selected.map(_._2), "postings.parquet",
      PostingsSchema).as(Encoders.product[PostingRow])
    val docsSelAll = readSegments(spark, dir, selected.map(_._2), "docs.parquet", docSchema)
    val docsSel = deletes match {
      case Some(d) => docsSelAll.join(d, Seq("docId"), "left_anti")
      case None => docsSelAll
    }
    // tombstones meet the posting rows as a per-shard sorted array — a
    // plain shuffle join keyed on shard, so the delete set stays
    // distributed (a heavy-churn table between compactions would blow
    // a driver-collected Set / task closure)
    val merged = deletes.fold(postingsSel)(d =>
        withoutDeleted(postingsSel, delsByShard(d, config.shardDocs)))
      .repartitionById(runs, runOf(greatest(col("shard").cast("long") * config.shardDocs,
        lit(mergedDocIdBase))))
      .sortWithinPartitions("field", "term", "shard")
      .mapPartitions(mergeRuns)(Encoders.product[PostingRow])
    val mergedEpoch = nextEpoch(m)
    val segName = f"seg-$mergedEpoch%05d"
    val segDir = s"$dir/$segName"
    writePostingsParquet(merged.toDF(), s"$segDir/postings.parquet")
    writeDocsParquet(docsSel.repartitionById(runs, runOf(col("docId"))).sortWithinPartitions("docId"),
      s"$segDir/docs.parquet")
    val pairs = filePairs(segDir, DocRange.ofCuts(cuts))
    // dictionary + stats derive from the WRITTEN postings: one merge
    // computation total instead of re-merging per aggregate
    val written = FileScan.statuses(spark, pairs.flatMap(_.postings).map(f => s"$segDir/$f"))
    writeTermstatsParquet(partialDfs(spark, written), s"$segDir/termstats.parquet")
    val newFieldTokens = spark.sparkContext.runJob(
        FileScan.scan(spark, written.map(Some(_)), PostingsSchema,
          fieldsOf(PostingsSchema, Seq("field", "sumTf"))),
        (rows: Iterator[InternalRow]) =>
          rows.map(r => r.getUTF8String(0).toString -> r.getLong(1)).toSeq
            .groupMapReduce(_._1)(_._2)(_ + _))
      .flatten.groupMapReduce(_._1)(_._2)(_ + _)
    val liveDocs = parquetRows(s"$segDir/docs.parquet")
    // partial pass: tombstones targeting docs still physically present
    // in unmerged segments survive, rewritten under the merged epoch
    // (data before manifest — the dir is orphan until the commit below;
    // absorbed tombstones simply don't make the cut)
    val retainedTombstones =
      if (unselected.isEmpty || deletes.isEmpty) None
      else {
        val docsUnsel = readSegments(spark, dir, unselected.map(_._2), "docs.parquet", docSchema)
        deletes.get.join(docsUnsel.select("docId"), Seq("docId"), "left_semi")
          .write.mode(SaveMode.Overwrite).parquet(deletesDir(dir, mergedEpoch))
        keepTombstones(dir, mergedEpoch)
      }
    val newEpochs = m.epochs.filterNot(e => selectedEpochs(e.epoch)) ++
      config.fields.map(f =>
        EpochMeta(mergedEpoch, segName, liveDocs, mergedDocIdBase, mergedDocIdEnd, f,
          newFieldTokens.getOrElse(f, 0L)))
    // the new manifest's tombstone list: pre-merge dirs are absorbed
    // (full pass) or rewritten under the merged epoch (partial pass), so
    // readers of THIS version read at most {mergedEpoch}. The physical
    // dirs are NOT deleted here — a reader pinned at an older manifest
    // version still needs them; retention-aware gc() owns deletion,
    // exactly like superseded segment dirs.
    val selectedPaths = selected.map(_._2).toSet
    commit(dir, basis + 1, m.copy(epochs = newEpochs, tombstones = retainedTombstones.toSeq,
      segments = m.segments.filterNot(s => selectedPaths(s.path)) :+ SegmentFiles(segName, pairs)))
  }

  /** A run's posting rows, sorted by (field, term, shard), as one row
    * per key: a key held by several segments merges its docs by docId (a
    * merged segment's window may interleave with another's), a key held
    * by one passes untouched. Streams one key at a time. */
  private def mergeRuns(rows: Iterator[PostingRow]): Iterator[PostingRow] = {
    val in = rows.buffered
    new Iterator[PostingRow] {
      def hasNext: Boolean = in.hasNext
      def next(): PostingRow = {
        val first = in.next()
        val same = scala.collection.mutable.ArrayBuffer(first)
        while (in.hasNext && in.head.shard == first.shard && in.head.term == first.term &&
            in.head.field == first.field) same += in.next()
        if (same.size == 1) first
        else {
          val all = same.flatMap { p =>
            val dec = PostingCodec.decodeAll(p.bytes, p.blockOffset, p.blockLast)
            dec.docIds.indices.map(i => (dec.docIds(i), dec.tfs(i), dec.norms(i)))
          }.toArray.sortBy(_._1)
          IndexBuilder.encodeRow(first.field, first.term, first.shard, all.map(_._1),
            all.map(_._2), all.map(_._3))
        }
      }
    }
  }

  /** Each postings file's partial dfs (one row per (field, term) it
    * holds, df summed over its rows), read by a planless scan of the
    * (field, term, numDocs) columns: one partition per file. */
  private def partialDfs(spark: SparkSession, postings: Seq[FileStatus]): DataFrame =
    spark.createDataset(FileScan.scan(spark, postings.map(Some(_)), PostingsSchema,
        fieldsOf(PostingsSchema, Seq("field", "term", "numDocs")))
      .mapPartitions { rows =>
        val dfs = new java.util.HashMap[(String, String), java.lang.Long]()
        rows.foreach(r => dfs.merge((r.getUTF8String(0).toString, r.getUTF8String(1).toString),
          r.getInt(2).toLong, (a, b) => a + b))
        dfs.entrySet().iterator().asScala.map(e => TermDf(e.getKey._1, e.getKey._2, e.getValue))
      })(Encoders.product[TermDf]).toDF()

  /** Explicit storage GC with SNAPSHOT RETENTION: delete segment dirs,
    * tombstone dirs, and manifest-version dirs referenced by NONE of
    * the last `retention` committed manifest versions (superseded by
    * compaction, or orphaned by a crashed append before its commit).
    * Deliberately NOT part of compact(): the store is single-writer /
    * multi-reader, and a reader holding a lazy plan over pre-compaction
    * segments would lose its files mid-query — the operator picks a
    * retention covering the oldest version any live reader is pinned to
    * (`load(atVersion = vN)`), the Iceberg-snapshot-retention analogue
    * of the reference's "dead data ... reclaimed by periodic compaction
    * and GC" (lnx-fs/src/bucket.rs:72-74). retention = 1 keeps only the
    * LATEST version's files — safe exactly when no pinned reader is
    * live. _lineage dirs are retained: they are the provenance record,
    * numbered by nextEpoch over BOTH manifests and checkpoints so
    * numbers are never reused. Idempotent; returns the number of
    * directories removed.
    */
  def gc(spark: SparkSession, dir: String, retention: Int = 1): Int = {
    require(retention >= 1, s"gc retention must be >= 1, got $retention")
    val cur = currentVersion(dir)
    require(cur > 0, s"no committed manifest at $dir")
    val floor = math.max(1, cur - retention + 1)
    // union liveness over the retained manifest window: a file is live
    // if ANY version in [floor, cur] references it
    val retained = (floor to cur)
      .filter(v => Files.isDirectory(Paths.get(manifestDir(dir, v))))
      .map { v =>
        val m = manifestAt(dir, v)._2
        (m.epochs.map(_.path).toSet, m.tombstones.map(_.epoch).toSet)
      }
    val livePaths = retained.flatMap(_._1).toSet
    val liveTombstones = retained.flatMap(_._2).toSet
    var removed = 0
    val root = Paths.get(dir)
    val listing = Files.list(root)
    try {
      val it = listing.iterator()
      while (it.hasNext) {
        val p = it.next()
        val name = p.getFileName.toString
        if (name.startsWith("seg-") && !livePaths.contains(name) && Files.isDirectory(p)) {
          deleteTree(p); removed += 1
        }
      }
    } finally listing.close()
    val delRoot2 = root.resolve("_deletes")
    if (Files.isDirectory(delRoot2)) {
      val l2 = Files.list(delRoot2)
      try {
        val it = l2.iterator()
        while (it.hasNext) {
          val p = it.next()
          val ep = scala.util.Try(
            p.getFileName.toString.stripPrefix("epoch=").toInt).toOption
          if (Files.isDirectory(p) && ep.exists(e => !liveTombstones.contains(e))) {
            deleteTree(p); removed += 1
          }
        }
      } finally l2.close()
    }
    // expire manifest versions below the retention window (the
    // expire-snapshots half): a later load(atVersion) of an expired
    // version fails loudly in readManifestAt
    val mroot = root.resolve("_manifest")
    if (Files.isDirectory(mroot)) {
      val l3 = Files.list(mroot)
      try {
        val it = l3.iterator()
        while (it.hasNext) {
          val p = it.next()
          val v = scala.util.Try(p.getFileName.toString.stripPrefix("v").toInt).toOption
          if (Files.isDirectory(p) && p.getFileName.toString.startsWith("v") &&
              v.exists(_ < floor)) {
            deleteTree(p); removed += 1
          }
        }
      } finally l3.close()
    }
    removed
  }
}

/** Upsert keys as a join compares them (`IndexStore.writeUpserts`). */
private[index] object UpsertKeys {
  /** The rows of `rows` whose key columns (`keyTypes`, from ordinal
    * `first`) are all non-null (a null key never matches), each with its
    * key as one UnsafeRow, normalized as a join normalizes its keys
    * (-0.0 = 0.0, one NaN), so two keys the join matches are equal rows
    * with equal hashes. The key row is reused: copy it to keep it.
    */
  def keyed(rows: Iterator[InternalRow], keyTypes: Seq[DataType],
      first: Int): Iterator[(InternalRow, UnsafeRow)] = {
    val proj = UnsafeProjection.create(keyTypes.zipWithIndex.map { case (dt, i) =>
      GraftExpressionBridge.normalizeJoinKey(BoundReference(first + i, dt, nullable = true))
    })
    val cols = first until first + keyTypes.size
    rows.filter(r => cols.forall(!r.isNullAt(_))).map(r => (r, proj(r)))
  }

  /** An epoch's keys (`keyed` rows) and the store's prior tombstones,
    * sorted (duplicates kept): the compact set of up to
    * `IndexStore.BroadcastTombstones` longs, probed only by rows whose
    * key matched. */
  final case class Probe(keys: java.util.HashSet[UnsafeRow], tombstones: Array[Long]) {
    /** Does the stored (docId, key) row get tombstoned? */
    def hit(docId: Long, key: UnsafeRow): Boolean =
      keys.contains(key) && java.util.Arrays.binarySearch(tombstones, docId) < 0
  }
}
