package graft

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig, IndexStore}
import graft.query._

/** Persistence, incremental upsert epochs, checkpoint resume, and
  * compaction (SURVEY.md sections 2.10, 3.2; north rule resumability).
  */
class IndexStoreSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def tmpDir(): String =
    java.nio.file.Files.createTempDirectory("graftidx").toString

  private def topDocs(e: QueryEngine, q: String, k: Int = 10): Seq[(Long, Float)] =
    e.searchF32(Seq(Fts("content", q)), k).collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq

  /** Distinct tombstoned docIds the LATEST manifest still applies. */
  private def pendingDeletes(dir: String): Long =
    IndexStore.info(spark, dir).collect()(0).getAs[Long]("pendingDeletes")

  val config = IndexConfig(Seq("repo", "path", "commit"), Seq("content"), shardDocs = 256, buildPartitions = 4)

  private val json = new ObjectMapper()

  test("save/load roundtrip preserves query results exactly") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 800, 4)
    val mem = IndexBuilder.build(corpus, config)
    val loaded = IndexStore.create(corpus, config, dir)
    val em = new QueryEngine(mem)
    val el = new QueryEngine(loaded)
    for (q <- Seq("binary search", "fn license", "needle")) {
      assert(topDocs(el, q) === topDocs(em, q))
    }
    assert(loaded.numDocs === mem.numDocs)
    assert(loaded.fieldTokens === mem.fieldTokens)
  }

  test("term lookups on the persisted postings push filters to parquet") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 500, 4)
    IndexStore.create(corpus, config, dir).unpersist()
    // the segment's postings parquet, as a term lookup reads it (queries
    // probe the loaded shard tables instead)
    val plan = spark.read.parquet(s"$dir/seg-00000/postings.parquet")
      .filter(col("term") === "license").queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("license"), plan.take(2000))
  }

  test("appendEpoch upserts by primary key and is idempotent per snapshot") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 400, 4).cache()
    IndexStore.create(corpus, config, dir, "snap-0")
    // epoch 1: re-ingest 50 docs with modified content (same PK) + 20 new docs
    val modified = corpus.filter(col("path").contains("file_1")) // file_1, file_1x...
      .withColumn("content", concat(col("content"), lit(" upserted marker freshterm")))
    val fresh = CodeCorpus.generate(spark, 420, 4).filter(col("path").contains("file_40")) // new ids 400..419
    val epoch1 = modified.unionByName(fresh)
    val nMod = modified.count()
    val nFresh = fresh.count()
    assert(IndexStore.appendEpoch(epoch1, dir, "snap-1"))
    // resume: same snapshot id is a no-op
    assert(!IndexStore.appendEpoch(epoch1, dir, "snap-1"))
    val idx = IndexStore.load(spark, dir)
    val e = new QueryEngine(idx)
    // upserted docs found under the new content...
    val hits = e.searchF32(Seq(Fts("content", "freshterm")), 1000).count()
    assert(hits === nMod)
    // ...and exactly one live version per primary key
    val dupKeys = idx.docs.groupBy("repo", "path", "commit").count().filter(col("count") > 1).count()
    assert(dupKeys === 0L)
    val expectedLive = corpus.select("repo", "path", "commit")
      .unionByName(epoch1.select("repo", "path", "commit")).distinct().count()
    assert(idx.docs.count() === expectedLive)
    // checkpoint lineage recorded
    val cps = IndexStore.checkpoints(spark, dir)
    assert(cps.map(_.snapshotId) === Seq("snap-0", "snap-1"))
    val lineage = IndexStore.lineage(spark, dir)
    assert(lineage.filter(col("epoch") === 1).count() > 0)
  }

  test("info surface reports version/epochs/docs/tombstones (SURVEY §2.11)") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 300, 4).cache()
    IndexStore.create(corpus, config, dir, "snap-0")
    // the read-cost columns come from the manifest: on a store with no
    // tombstone, info runs no Spark job at all
    val (fresh, c) = SparkEvents.of(spark)(IndexStore.info(spark, dir).collect()(0))
    assert(c.jobs === 0, c)
    assert(fresh.getAs[Int]("searchPartitions") === 2) // 300 docs = 2 shards of 256
    assert(fresh.getAs[Double]("tombstoneRatio") === 0.0)
    val modified = corpus.filter(col("path").contains("file_1"))
      .withColumn("content", concat(col("content"), lit(" v2marker")))
    val nMod = modified.count()
    IndexStore.appendEpoch(modified, dir, "snap-1")
    val row = IndexStore.info(spark, dir).collect()(0)
    assert(row.getAs[Int]("manifestVersion") === 2)
    assert(row.getAs[Int]("epochs") === 2)
    assert(row.getAs[Long]("pendingDeletes") === nMod) // superseded docIds
    assert(row.getAs[Long]("liveDocs") === 300L)
    assert(row.getAs[Int]("checkpoints") === 2)
    // the append's docs (ids 300 until 300 + nMod) sit in one shard: one more pair
    assert(row.getAs[Int]("searchPartitions") === 3)
    val loaded = IndexStore.load(spark, dir, cacheDocs = false)
    try assert(loaded.docRanges.map(_.length) === Some(3))
    finally loaded.unpersist()
    assert(row.getAs[Double]("tombstoneRatio") === nMod.toDouble / (300L + nMod))
  }

  test("info on a tombstoned store: <= 1 job, no SQL execution, same counts") {
    val dir = StoreFixture.dir
    val (info, c) = SparkEvents.of(spark)(IndexStore.info(spark, dir))
    assert(c.jobs <= 1 && c.sqlExecutions === 0, c)
    val row = info.collect()(0)
    // the distinct ids of the tombstone dirs (the fixture is never
    // compacted, so its manifest reads every one), through Catalyst
    val pending = spark.read.parquet(s"$dir/_deletes").select("docId").distinct().count()
    assert(pending > 0L, "test premise: the fixture carries tombstones")
    val stored = IndexStore.readManifest(spark, dir)._1.groupBy(_.epoch).map(_._2.head.numDocs).sum
    assert(row.getAs[Long]("pendingDeletes") === pending)
    assert(row.getAs[Long]("liveDocs") === stored - pending)
    assert(row.getAs[Double]("tombstoneRatio") === pending.toDouble / stored)
  }

  test("a failed append leaves no lineage row for its epoch") {
    val dir = tmpDir()
    IndexStore.create(CodeCorpus.generate(spark, 200, 2), config, dir, "snap-0").unpersist()
    def upserts(from: Long, until: Long, tag: String) = CodeCorpus.generateRange(spark, from, until, 2)
      .withColumn("content", concat(col("content"), lit(s" $tag")))
    assert(IndexStore.appendEpoch(upserts(0, 20, "first"), dir, "snap-1"))
    // a corrupt docs file of the first segment fails the next append's
    // upsert scan, after its segment and lineage writes
    val docsFile = java.nio.file.Files.list(java.nio.file.Paths.get(dir, "seg-00000", "docs.parquet"))
      .filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
    java.nio.file.Files.write(docsFile, "not parquet".getBytes("UTF-8"))
    intercept[Exception](IndexStore.appendEpoch(upserts(10, 30, "second"), dir, "snap-2"))
    assert(IndexStore.currentVersion(dir) === 2)
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(dir, "_lineage", "epoch=2")),
      "test premise: the failed append wrote lineage for its epoch")
    val epochs = IndexStore.lineage(spark, dir).select("epoch").distinct().collect()
      .map(_.get(0).toString.toInt).toSet
    assert(epochs === Set(0, 1))
  }

  test("orphan tombstones from an uncommitted epoch are invisible (crash consistency)") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 200, 4).cache()
    IndexStore.create(corpus, config, dir, "snap-0")
    val docsBefore = IndexStore.load(spark, dir).docs.count()
    // simulate a crash between the tombstone write and the manifest
    // commit: a _deletes/epoch=9 dir exists but epoch 9 was never
    // committed — loading must NOT apply it against the old view
    import org.apache.spark.sql.SaveMode
    import spark.implicits._
    Seq(0L, 1L, 2L).toDF("docId")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/_deletes/epoch=9")
    val idx = IndexStore.load(spark, dir)
    assert(idx.docs.count() === docsBefore)
    assert(pendingDeletes(dir) === 0L)
  }

  test("a store written in fast-fuzzy mode loads and corrects like a fresh build; nothing writes symspell.parquet") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 400, 4).cache()
    IndexStore.create(corpus, config, dir, "snap-0").unpersist()
    // what such a store holds: the config flag, and its segment's
    // delete-variant dictionary (field, variant, term, df)
    editManifest(dir)(_.get("config").asInstanceOf[ObjectNode].put("fastFuzzy", true))
    locally {
      import spark.implicits._
      spark.read.parquet(s"$dir/seg-00000/termstats.parquet").as[(String, String, Long)]
        .flatMap { case (f, t, df) => graft.analyze.SymSpell.deletes(t).iterator.map(v => (f, v, t, df)) }
        .toDF("field", "variant", "term", "df").write.parquet(s"$dir/seg-00000/symspell.parquet")
    }
    assert(json.readTree(java.nio.file.Files.readAllBytes(manifestPath(dir, IndexStore.currentVersion(dir))))
      .get("config").get("fastFuzzy").asBoolean())
    def fastTop(e: QueryEngine): Seq[(Long, Float)] =
      e.searchF32(Seq(FastFuzzy("content", "serach mrege")), 10).collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq
    val old = new QueryEngine(IndexStore.load(spark, dir))
    val fresh = new QueryEngine(IndexBuilder.build(corpus, config))
    try {
      for (tok <- Seq("serach", "mrege", "qqqqqq"))
        assert(old.correct("content", tok) === fresh.correct("content", tok), tok)
      assert(fastTop(old).nonEmpty && fastTop(old) === fastTop(fresh))
    } finally { old.release(); fresh.release() }
    // an append, a compaction and a gc write no delete-variant dictionary
    val modified = corpus.limit(20)
      .withColumn("content", concat(col("content"), lit(" extraterm")))
    IndexStore.appendEpoch(modified, dir, "snap-1")
    IndexStore.compact(spark, dir)
    IndexStore.gc(spark, dir)
    val segs = new java.io.File(dir).listFiles().map(_.getName).filter(_.startsWith("seg-")).toSet
    val written = segs - "seg-00000"
    assert(written.nonEmpty)
    written.foreach(seg => assert(!new java.io.File(s"$dir/$seg/symspell.parquet").exists(), seg))
    // 'serach' is itself a planted dictionary term (distance 0)
    val after = new QueryEngine(IndexStore.load(spark, dir))
    try {
      assert(after.correct("content", "serach") === "serach")
      assert(fastTop(after).nonEmpty)
    } finally after.release()
    corpus.unpersist()
  }

  test("drop deletes the index directory (bucket delete analogue)") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 200, 4)
    IndexStore.create(corpus, config, dir, "snap-0")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_manifest", "LATEST")))
    IndexStore.drop(dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    intercept[IllegalArgumentException](IndexStore.load(spark, dir))
  }

  test("scale load (cacheDocs=false): identical results, doc store stays on parquet") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 600, 4)
    IndexStore.create(corpus, config, dir).unpersist()
    // cold FIRST: Spark's CacheManager matches by logical plan, so a
    // prior cached load of the same dir would make the cold frame
    // report as cached too (same-session test artifact)
    val cold = IndexStore.load(spark, dir, cacheDocs = false)
    // the doc store must NOT be pinned in scale mode (the shard tables
    // are, once the first read builds them)
    assert(cold.docs.storageLevel === org.apache.spark.storage.StorageLevel.NONE)
    val eu = new QueryEngine(cold)
    // a top-k stored-field lookup reads only the docs files whose window
    // holds an id, straight from the parquet: one job, one task per
    // file holding a hit. Asserted BEFORE any cached load of the same
    // dir: the CacheManager substitutes by logical-plan equality, so a
    // later cached docs frame would rewrite this plan into an
    // InMemoryTableScan.
    val ids = eu.searchF32(Seq(Fts("content", "binary search")), 5)
      .collect().map(_.getLong(0)).toSeq
    assert(cold.shards.rdd.getStorageLevel !== org.apache.spark.storage.StorageLevel.NONE)
    val ranges = cold.docRanges.getOrElse(fail("a store under the tombstone gate has a range table"))
    val holding = ids.map(id => ranges.indexWhere(_.contains(id))).distinct.size
    val (found, c) = SparkEvents.of(spark)(eu.lookupDocs(ids, Seq("path")).collect())
    assert(found.length === ids.size)
    assert(c.jobs === 1 && c.jobTasks === Seq(holding), c)
    val plan = cold.docs.queryExecution.executedPlan.toString
    assert(plan.contains("FileScan") && !plan.contains("InMemoryTableScan"), plan.take(1500))
    val cached = IndexStore.load(spark, dir)
    val ec = new QueryEngine(cached)
    for (q <- Seq("binary search", "fn license", "needle")) {
      assert(topDocs(eu, q) === topDocs(ec, q))
    }
    cached.unpersist(); cold.unpersist()
  }

  test("tiered compaction: N smallest segments merge per pass, results unchanged") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 400, 4).cache()
    IndexStore.create(corpus, config, dir, "snap-0") // epoch 0: 400 docs
    // epoch 1: upsert 'file_1*' docs (tombstones their epoch-0 versions)
    val modified = corpus.filter(col("path").contains("file_1"))
      .withColumn("content", concat(col("content"), lit(" tieredmarker")))
    IndexStore.appendEpoch(modified, dir, "snap-1")
    // epoch 2: 30 brand-new docs
    val fresh = CodeCorpus.generate(spark, 430, 4).filter(col("path").contains("file_42"))
    IndexStore.appendEpoch(fresh, dir, "snap-2")
    // epoch 3: another small upsert batch (more tombstones)
    val mod2 = corpus.filter(col("path").contains("file_20"))
      .withColumn("content", concat(col("content"), lit(" tieredmarker")))
    IndexStore.appendEpoch(mod2, dir, "snap-3")

    val before = IndexStore.load(spark, dir)
    val eBefore = new QueryEngine(before)
    val matchBefore = topDocs(eBefore, "tieredmarker", 500).map(_._1).toSet
    val liveBefore = before.docs.count()
    val pendingBefore = pendingDeletes(dir)
    assert(pendingBefore > 0)

    // pass 1: merge only the 2 smallest segments; epoch 0 (the big one)
    // must survive untouched
    IndexStore.compact(spark, dir, maxSegments = 2)
    val mid = IndexStore.load(spark, dir)
    val (epochsMid, _, _) = IndexStore.readManifest(spark, dir)
    assert(epochsMid.map(_.path).distinct.size === 3) // 4 segments -> 3
    assert(epochsMid.map(_.path).distinct.contains("seg-00000"))
    assert(mid.docs.count() === liveBefore)
    // tombstones targeting docs still in unmerged segments survive
    assert(pendingDeletes(dir) > 0L)
    assert(topDocs(new QueryEngine(mid), "tieredmarker", 500).map(_._1).toSet === matchBefore)
    // info() liveDocs accounting stays exact across a partial pass
    assert(IndexStore.info(spark, dir).collect()(0).getAs[Long]("liveDocs") === liveBefore)

    // pass 2: incremental again -> 2 segments; pass 3: full merge
    IndexStore.compact(spark, dir, maxSegments = 2)
    val (epochs2, _, _) = IndexStore.readManifest(spark, dir)
    assert(epochs2.map(_.path).distinct.size === 2)
    IndexStore.compact(spark, dir)
    val end = IndexStore.load(spark, dir)
    val (epochs3, _, _) = IndexStore.readManifest(spark, dir)
    assert(epochs3.map(_.path).distinct.size === 1)
    assert(pendingDeletes(dir) === 0L)
    assert(end.docs.count() === liveBefore)
    assert(topDocs(new QueryEngine(end), "tieredmarker", 500).map(_._1).toSet === matchBefore)
  }

  test("config KV: tri-state set/unset survives manifest versions; unset returns default") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 200, 4).cache()
    IndexStore.create(corpus, config, dir, "snap-0")
    // defaults: nothing set
    assert(IndexStore.configKv(spark, dir) === Map.empty)
    assert(IndexStore.configValue(spark, dir, "merge_policy", Some("tiered")) === Some("tiered"))
    // set
    val v0 = IndexStore.currentVersion(dir)
    IndexStore.updateConfig(spark, dir, set = Map("merge_policy" -> "full", "gc_grace" -> "3600"))
    assert(IndexStore.currentVersion(dir) === v0 + 1) // manifest-versioned
    assert(IndexStore.configValue(spark, dir, "merge_policy") === Some("full"))
    // overrides survive unrelated manifest changes (epoch append)
    IndexStore.appendEpoch(corpus.limit(10)
      .withColumn("content", concat(col("content"), lit(" kvmarker"))), dir, "snap-1")
    assert(IndexStore.configValue(spark, dir, "gc_grace") === Some("3600"))
    // unset: reads fall back to the supplied default
    IndexStore.updateConfig(spark, dir, unset = Seq("merge_policy"))
    assert(IndexStore.configValue(spark, dir, "merge_policy") === None)
    assert(IndexStore.configValue(spark, dir, "merge_policy", Some("tiered")) === Some("tiered"))
    assert(IndexStore.configValue(spark, dir, "gc_grace") === Some("3600"))
    // ...and survive compaction too
    IndexStore.compact(spark, dir)
    assert(IndexStore.configKv(spark, dir) === Map("gc_grace" -> "3600"))
  }

  test("compaction absorbs tombstones and preserves query results") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 400, 4).cache()
    IndexStore.create(corpus, config, dir, "snap-0")
    val modified = corpus.filter(col("path").contains("file_1"))
      .withColumn("content", concat(col("content"), lit(" upserted marker freshterm")))
    IndexStore.appendEpoch(modified, dir, "snap-1")
    val before = IndexStore.load(spark, dir)
    val eBefore = new QueryEngine(before)
    val resBefore = topDocs(eBefore, "freshterm", 50)
    val docsBefore = before.docs.count()
    IndexStore.compact(spark, dir)
    val after = IndexStore.load(spark, dir)
    val eAfter = new QueryEngine(after)
    assert(pendingDeletes(dir) == 0L)
    assert(after.docs.count() === docsBefore)
    // stats change at merge (deleted docs leave df/N) — matches
    // Lucene/tantivy semantics — so compare match SETS, not scores
    assert(topDocs(eAfter, "freshterm", 50).map(_._1).toSet === resBefore.map(_._1).toSet)
    // single live segment
    val (epochs, _, _) = IndexStore.readManifest(spark, dir)
    assert(epochs.map(_.path).distinct.size === 1)
  }

  private def manifestPath(dir: String, v: Int) =
    java.nio.file.Paths.get(f"$dir/_manifest/v$v%05d/manifest.json")

  /** Rewrite the committed version's manifest.json through `edit`. */
  private def editManifest(dir: String)(edit: ObjectNode => Unit): Unit = {
    val p = manifestPath(dir, IndexStore.currentVersion(dir))
    val root = json.readTree(java.nio.file.Files.readAllBytes(p)).asInstanceOf[ObjectNode]
    edit(root)
    java.nio.file.Files.write(p, json.writeValueAsBytes(root))
  }

  /** Set the committed config's analyzerVersion, simulating a store
    * persisted under older analysis semantics.
    */
  private def setAnalyzerVersion(dir: String, ver: Int): Unit =
    editManifest(dir)(_.get("config").asInstanceOf[ObjectNode].put("analyzerVersion", ver))

  test("docIdStrategy round-trips through the manifest (scan store stays scan)") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 200, 2)
    IndexStore.create(corpus, config.copy(docIdStrategy = graft.index.DocIdStrategy.Scan), dir)
    // appendEpoch rebuilds from readManifest's config: losing the
    // strategy here would silently re-introduce the corpus-wide range
    // shuffle the creator opted out of AND change docId semantics
    // between epoch 0 and later epochs
    val (_, cfg, _) = IndexStore.readManifest(spark, dir)
    assert(cfg.docIdStrategy === graft.index.DocIdStrategy.Scan)
  }

  test("a store whose en_stem predates the analyzer version fails loudly at load") {
    val corpus = CodeCorpus.generate(spark, 100, 2)
    // en_stem's output changed in analyzer v2 (Porter1980 -> Snowball):
    // a v1 store's persisted stems no longer match query-time tokens,
    // so load must throw instead of silently returning empty matches
    val dir = tmpDir()
    IndexStore.create(corpus, config.copy(tokenizers = Map("content" -> "en_stem")), dir)
    setAnalyzerVersion(dir, 1)
    val ex = intercept[IllegalStateException](IndexStore.load(spark, dir))
    assert(ex.getMessage.contains("en_stem") && ex.getMessage.contains("rebuild"))
    // unaffected tokenizers (default analyzer) load fine from a v1 store
    val dir2 = tmpDir()
    IndexStore.create(corpus, config, dir2)
    setAnalyzerVersion(dir2, 1)
    assert(IndexStore.load(spark, dir2).numDocs === 100)
  }

  test("a v2 store with raw/whitespace tokenizers fails loudly at load (v3 granularity change)") {
    // v3 changed whitespace splitting (ASCII \s -> Unicode White_Space),
    // raw/whitespace length caps (UTF-16 units -> codepoints) and the
    // persisted SymSpell variant granularity — a v2 store using those
    // tokenizers must rebuild, while default/en_stem-only v2 stores load.
    val corpus = CodeCorpus.generate(spark, 100, 2)
    val dir = tmpDir()
    IndexStore.create(corpus, config.copy(tokenizers = Map("path" -> "whitespace")), dir)
    setAnalyzerVersion(dir, 2)
    val ex = intercept[IllegalStateException](IndexStore.load(spark, dir))
    assert(ex.getMessage.contains("whitespace") && ex.getMessage.contains("rebuild"))
    val dir2 = tmpDir()
    IndexStore.create(corpus, config.copy(tokenizers = Map("content" -> "en_stem")), dir2)
    setAnalyzerVersion(dir2, 2)
    assert(IndexStore.load(spark, dir2).numDocs === 100)
  }

  test("deleteByQuery tombstones the full match set durably and is idempotent") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 300, 4).cache()
    IndexStore.create(corpus, config, dir, "snap-0")
    val before = {
      val e = new QueryEngine(IndexStore.load(spark, dir))
      val n = e.matchF32(Seq(Fts("content", "license"))).count()
      e.release(); n
    }
    assert(before > 0)
    // a zero-match delete commits nothing: no manifest version bump,
    // and the deleteId is NOT consumed (a corrected retry still runs)
    val v0 = IndexStore.currentVersion(dir)
    assert(IndexStore.deleteByQuery(spark, dir,
      Seq(Fts("content", "zzzNoSuchTermzzz")), "del-1") === 0L)
    assert(IndexStore.currentVersion(dir) === v0)
    val removed = IndexStore.deleteByQuery(spark, dir, Seq(Fts("content", "license")), "del-1")
    assert(removed === before)
    // re-running the committed delete is a resume no-op
    assert(IndexStore.deleteByQuery(spark, dir, Seq(Fts("content", "license")), "del-1") === -1L)
    // the loaded view excludes the tombstoned docs from search AND the
    // doc store, until-merge semantics (P7)
    val idx = IndexStore.load(spark, dir)
    val e = new QueryEngine(idx)
    assert(e.matchF32(Seq(Fts("content", "license"))).count() === 0L)
    assert(idx.docs.count() === 300L - removed)
    val info = IndexStore.info(spark, dir).collect()(0)
    assert(info.getAs[Long]("pendingDeletes") === removed)
    e.release()
    // compaction physically absorbs the tombstones; results unchanged
    IndexStore.compact(spark, dir)
    val e2 = new QueryEngine(IndexStore.load(spark, dir))
    assert(e2.matchF32(Seq(Fts("content", "license"))).count() === 0L)
    val info2 = IndexStore.info(spark, dir).collect()(0)
    assert(info2.getAs[Long]("pendingDeletes") === 0L)
    e2.release()
    // a delete-only epoch holds no segment; later epoch allocation
    // (append) must clear its checkpoint number, never collide with it.
    // The snapshotId deliberately REUSES the deleteId string: ingest and
    // delete checkpoints live in separate namespaces, so this must run,
    // not silently no-op as an "already committed" resume
    assert(IndexStore.appendEpoch(
      CodeCorpus.generate(spark, 310, 4).filter(col("path").contains("file_309")),
      dir, "del-1"))
    val e3 = new QueryEngine(IndexStore.load(spark, dir))
    assert(e3.index.docs.count() === 300L - removed + 1L)
    e3.release()
  }

  test("a crashed config update cannot resurrect: stale kv at the next version is overwritten") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 200, 2).cache()
    IndexStore.create(corpus, config, dir) // commits v1, no kv overrides
    // simulate updateConfig crashing AFTER writing v2's manifest.json
    // but BEFORE the LATEST swap: the overrides were never committed
    val ghost = json.readTree(java.nio.file.Files.readAllBytes(manifestPath(dir, 1)))
      .asInstanceOf[ObjectNode]
    ghost.putObject("kv").put("ghost", "value")
    java.nio.file.Files.createDirectories(manifestPath(dir, 2).getParent)
    java.nio.file.Files.write(manifestPath(dir, 2), json.writeValueAsBytes(ghost))
    assert(IndexStore.configKv(spark, dir) === Map.empty) // v1 still live
    // the next committed change lands at version 2: it must not adopt
    // the ghost overrides as its own
    IndexStore.appendEpoch(CodeCorpus.generateRange(spark, 200, 220, 2), dir, "snap-1")
    assert(IndexStore.currentVersion(dir) === 2)
    assert(IndexStore.configKv(spark, dir) === Map.empty)
  }

  test("a store holding only the old parquet manifest fails loudly and names rebuild") {
    val dir = tmpDir()
    IndexStore.create(CodeCorpus.generate(spark, 50, 2), config, dir, "snap-0")
    // the older layout: per-version epochs/config/checkpoints parquet
    // files and no manifest.json
    val md = manifestPath(dir, 1).getParent.toString
    val (epochs, _, cps) = IndexStore.readManifest(spark, dir)
    java.nio.file.Files.delete(manifestPath(dir, 1))
    spark.createDataset(epochs)(org.apache.spark.sql.Encoders.product[IndexStore.EpochMeta])
      .write.parquet(s"$md/epochs.parquet")
    spark.createDataset(Seq(IndexStore.ConfigRow(config.keyCols, config.fields,
      config.shardDocs, config.buildPartitions)))(
      org.apache.spark.sql.Encoders.product[IndexStore.ConfigRow])
      .write.parquet(s"$md/config.parquet")
    spark.createDataset(cps)(org.apache.spark.sql.Encoders.product[IndexStore.CheckpointRow])
      .write.parquet(s"$md/checkpoints.parquet")
    val reads: Seq[() => Any] = Seq(
      () => IndexStore.load(spark, dir),
      () => IndexStore.readManifest(spark, dir),
      () => IndexStore.configKv(spark, dir),
      () => IndexStore.appendEpoch(CodeCorpus.generateRange(spark, 50, 60, 2), dir, "snap-1"))
    reads.foreach { read =>
      val ex = intercept[IllegalStateException](read())
      assert(ex.getMessage.contains("parquet manifest") && ex.getMessage.contains("rebuild"),
        ex.getMessage)
    }
    assert(IndexStore.currentVersion(dir) === 1)
  }

  test("create() over a previous store dir clears stale manifests/lineage/segments") {
    val dir = tmpDir()
    val c1 = CodeCorpus.generate(spark, 300, 2).cache()
    IndexStore.create(c1, config, dir)
    IndexStore.appendEpoch(CodeCorpus.generateRange(spark, 300, 350, 2), dir, "s1")
    IndexStore.updateConfig(spark, dir, set = Map("k" -> "v"))
    assert(IndexStore.currentVersion(dir) === 3)
    // a NEW store at the same dir: without cleanup LATEST resets to 1
    // while old _manifest versions remain as numbers the new store will
    // advance THROUGH, and _lineage mixes dead-store epochs into metrics
    val idx = IndexStore.create(CodeCorpus.generate(spark, 100, 2), config, dir)
    assert(IndexStore.currentVersion(dir) === 1)
    assert(IndexStore.configKv(spark, dir) === Map.empty)
    assert(idx.numDocs === 100L)
    val lineageEpochs = IndexStore.lineage(spark, dir)
      .select("epoch").distinct().collect().map(_.get(0).toString.toLong).toSet
    assert(lineageEpochs === Set(0L))
    // and the version the dead store had committed must be GONE, not
    // waiting to be adopted
    IndexStore.appendEpoch(CodeCorpus.generateRange(spark, 100, 120, 2), dir, "s1")
    assert(IndexStore.configKv(spark, dir) === Map.empty)
    idx.unpersist()
  }

  test("a FAILED create() over an existing store leaves the old store intact") {
    val dir = tmpDir()
    val c1 = CodeCorpus.generate(spark, 200, 2).cache()
    IndexStore.create(c1, config, dir)
    val docsBefore = IndexStore.load(spark, dir).docs.count()
    // a build that throws (non-string indexed column hits the type
    // gate) must NOT have wiped the committed store first — the
    // data-then-wipe-then-manifest ordering means old state survives
    // any build/write failure
    val bad = CodeCorpus.generate(spark, 50, 2)
      .withColumn("content", org.apache.spark.sql.functions.length(col("content")))
    intercept[IllegalArgumentException](IndexStore.create(bad, config, dir))
    val reloaded = IndexStore.load(spark, dir)
    assert(reloaded.docs.count() === docsBefore,
      "failed create() destroyed the previously committed store")
    assert(IndexStore.currentVersion(dir) === 1)
    c1.unpersist()
  }

  test("partial compaction records the merged epoch's true docId window") {
    val dir = tmpDir()
    IndexStore.create(CodeCorpus.generate(spark, 300, 2).cache(), config, dir)
    IndexStore.appendEpoch(CodeCorpus.generateRange(spark, 300, 400, 2), dir, "s1")
    IndexStore.appendEpoch(CodeCorpus.generateRange(spark, 400, 450, 2), dir, "s2")
    val (pre, _, _) = IndexStore.readManifest(spark, dir)
    // mirror compact's size-ranked selection: smallest (numDocs, epoch)
    val selected = pre.groupBy(_.epoch).toSeq
      .map { case (ep, es) => (ep, es.head.numDocs, es.head.docIdBase, es.head.docIdEnd) }
      .sortBy(s => (s._2, s._1)).take(2)
    IndexStore.compact(spark, dir, maxSegments = 2)
    val (post, _, _) = IndexStore.readManifest(spark, dir)
    val mergedEpochs = post.map(_.epoch).toSet -- pre.map(_.epoch).toSet
    assert(mergedEpochs.size === 1)
    val merged = post.find(e => mergedEpochs(e.epoch)).get
    // the merged segment claims exactly the id window it merged — a
    // base of 0 would overlap the unselected epoch's range
    assert(merged.docIdBase === selected.map(_._3).min)
    assert(merged.docIdEnd === selected.map(_._4).max)
    pre.filterNot(e => selected.map(_._1).contains(e.epoch)).foreach(u =>
      assert(merged.docIdBase >= u.docIdEnd || merged.docIdEnd <= u.docIdBase,
        s"merged [${merged.docIdBase},${merged.docIdEnd}) overlaps " +
          s"unselected epoch ${u.epoch} [${u.docIdBase},${u.docIdEnd})"))
  }

  test("appendEpoch gates the batch schema: a mismatch fails BEFORE anything commits") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 100, 2)
    IndexStore.create(corpus, config, dir, "snap-0")
    // an extra column would commit a segment the per-segment docs
    // union can never read again (unionByName failure on every load)
    val bad = CodeCorpus.generate(spark, 20, 1)
      .withColumn("extra", org.apache.spark.sql.functions.lit(1L))
    val ex = intercept[IllegalArgumentException](
      IndexStore.appendEpoch(bad, dir, "snap-bad"))
    assert(ex.getMessage.contains("schema"), ex.getMessage)
    // nothing committed, store still loads
    val idx = IndexStore.load(spark, dir)
    assert(idx.numDocs === 100)
    assert(IndexStore.checkpoints(spark, dir).map(_.snapshotId) === Seq("snap-0"))
    // the reserved delete-checkpoint namespace is rejected up front
    intercept[IllegalArgumentException](
      IndexStore.appendEpoch(CodeCorpus.generate(spark, 10, 1), dir, "delete:x"))
  }

  test("a pure-insert append commits NO tombstone dir (later loads skip the anti-join)") {
    val dir = tmpDir()
    IndexStore.create(CodeCorpus.generate(spark, 100, 2), config, dir, "snap-0")
    // disjoint key range: zero upsert overlap
    val fresh = graft.corpus.CodeCorpus.generateRange(spark, 1000, 1050, 2)
    assert(IndexStore.appendEpoch(fresh, dir, "snap-1"))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_deletes")) ||
      java.nio.file.Files.list(java.nio.file.Paths.get(dir, "_deletes")).count() === 0L,
      "no-overlap append must not leave a tombstone dir")
    assert(IndexStore.load(spark, dir).numDocs === 150)
  }

  test("gc() removes superseded segments after compaction; the store is unchanged") {
    val dir = tmpDir()
    IndexStore.create(CodeCorpus.generate(spark, 120, 2), config, dir, "snap-0")
    IndexStore.appendEpoch(graft.corpus.CodeCorpus.generateRange(spark, 500, 560, 2),
      dir, "snap-1")
    IndexStore.compact(spark, dir)
    // pre-merge seg dirs linger on disk until explicit GC (deleting
    // under live readers is unsafe, so compact never does it)
    def segDirs() = {
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(dir))
      try {
        val b = Seq.newBuilder[String]
        l.forEach(p => if (p.getFileName.toString.startsWith("seg-"))
          b += p.getFileName.toString)
        b.result()
      } finally l.close()
    }
    val before = segDirs()
    assert(before.size === 3, s"2 originals + 1 merged expected, got $before")
    // default retention = 1: only the LATEST version's files survive.
    // removed = 2 superseded segments + the 2 expired manifest versions
    // (v1 create, v2 append) below the retention window
    val removed = IndexStore.gc(spark, dir)
    assert(removed === 4, s"2 segments + 2 expired manifests should go, removed=$removed")
    val after = segDirs()
    assert(after.size === 1)
    val idx = IndexStore.load(spark, dir)
    assert(idx.numDocs === 180)
    // idempotent
    assert(IndexStore.gc(spark, dir) === 0)
    // compact's footprint bound is loud, not silently widened
    intercept[IllegalArgumentException](IndexStore.compact(spark, dir, maxSegments = 1))
  }

  test("snapshot retention: a reader pinned at vN survives compact+gc(retention=2)") {
    val dir = tmpDir()
    val corpus = CodeCorpus.generate(spark, 300, 2).cache()
    IndexStore.create(corpus, config, dir, "snap-0")
    // an UPSERT append so the pinned version carries live tombstones —
    // the retention contract must protect _deletes dirs too, not just
    // segments (compact no longer sweeps them; gc owns deletion)
    val modified = corpus.filter(col("path").contains("file_1"))
      .withColumn("content", concat(col("content"), lit(" pinmarker")))
    IndexStore.appendEpoch(modified, dir, "snap-1")
    val vN = IndexStore.currentVersion(dir)
    val pinned = IndexStore.load(spark, dir, atVersion = vN)
    val ePinned = new QueryEngine(pinned)
    val docsAtVn = pinned.docs.count()
    val hitsAtVn = ePinned.searchF32(Seq(graft.query.Fts("content", "pinmarker")), 100).count()
    assert(hitsAtVn > 0L)

    IndexStore.compact(spark, dir)
    // retention=2 keeps every DATA dir vN or vN+1 references; the only
    // removable dir is the v1 manifest below the window (create-time,
    // whose segment vN still references and therefore survives)
    assert(IndexStore.gc(spark, dir, retention = 2) === 1,
      "retention=2 must keep every file vN or vN+1 references")
    // the PINNED plan (lazy over vN's segments + tombstone dirs) still
    // collects correctly after compact+gc
    assert(pinned.docs.count() === docsAtVn)
    assert(ePinned.searchF32(Seq(graft.query.Fts("content", "pinmarker")), 100).count()
      === hitsAtVn)
    // and a pinned RE-load of vN agrees
    val reload = IndexStore.load(spark, dir, atVersion = vN)
    assert(reload.docs.count() === docsAtVn)
    reload.unpersist()

    // retention=1 expires vN: its superseded segments + tombstone dirs
    // + manifest dirs go, and a fresh load sees only the compacted view
    assert(IndexStore.gc(spark, dir, retention = 1) > 0)
    intercept[IllegalArgumentException](IndexStore.load(spark, dir, atVersion = vN))
    val latest = IndexStore.load(spark, dir)
    assert(latest.docs.count() === docsAtVn)
    assert(pendingDeletes(dir) === 0L,
      "compacted view has no pending tombstones")
    val e = new QueryEngine(latest)
    assert(e.searchF32(Seq(graft.query.Fts("content", "pinmarker")), 100).count() === hitsAtVn)
    ePinned.release()
    latest.unpersist()
    corpus.unpersist()
  }
}
