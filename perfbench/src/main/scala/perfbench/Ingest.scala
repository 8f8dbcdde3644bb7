package perfbench

import scala.collection.mutable

import graft.QpsBench
import graft.corpus.CodeCorpus
import graft.corpus.CodeCorpus.SourceFile
import graft.index.{IndexConfig, IndexStore}
import graft.query._
import graft.sql.{LnxSession, LnxSql}

/** `ingest`: a persisted store is created from a base corpus, then takes
  * append epochs (half upserts of existing files, half new files, each
  * epoch with a planted needle). After every epoch the store is attached
  * afresh and read through SQL, so every read runs on a cold engine over
  * a multi-segment, tombstoned store. Epoch 0 is part of the set-up: it
  * warms the append, attach and cold-read code, so the timed epochs
  * (a fixed count of them) run warm code.
  *
  * Traced runs go on with store maintenance (a delete by query, a
  * compaction and a gc, each checked) and the curation leg (Curate.Leg,
  * the offline half of the pipeline, which uses no index). These feed only
  * per-layer metrics, so untraced runs skip them to keep a run short.
  */
object Ingest {
  /** `epochs` timed epochs follow the set-up's epoch 0. */
  final case class Sizes(baseDocs: Long, half: Int, epochs: Int)
  def sizes(ctx: Ctx): Sizes = if (ctx.smoke) Sizes(3000, 200, 2) else Sizes(5000, 200, 3)

  val K = 10

  /** Per-layer metrics this workload has no operation for; reported as 0. */
  val NotExercised = Seq("index.cached_mb", "query.batch_ms_per_query", "query.repeat_frac",
    "trace.overhead_ms")
  def readSql: String = s"SELECT path, score() AS s FROM files WHERE fts(content, $$1) ORDER BY s DESC LIMIT $K"

  /** What IndexStore.info must report, kept by the benchmark itself. */
  final case class Model(segments: Long, liveDocs: Long, pendingDeletes: Long)

  /** The timed part of one epoch: append, attach, read the needle. */
  final case class EpochRun(ep: Inputs.Epoch, visibleMs: Double, appendMs: Double, loadMs: Double,
      paths: Seq[String])

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val sz = sizes(ctx)
    val seed = ctx.opts.seed
    val store = ctx.dir("store")
    val baseDir = ctx.dir("base")
    val eps = Inputs.epochs(seed, sz.baseDocs, sz.half, 1 + sz.epochs)
    def epochDir(e: Int) = ctx.dir(s"epoch-$e")
    val config = IndexConfig(Seq("repo", "path", "commit"), Seq("content"),
      shardDocs = 4096, buildPartitions = Inputs.parts(spark))
    val session = new LnxSession(spark)
    val curate = new Curate.Leg(ctx)
    val pool = QpsBench.queryPoolSkewed(64).map(_.head).collect { case f: Fts => f }
    val probe = new Probe(ctx)
    def engine = session.table("files").engine.get
    def pathOf(id: Long) = CodeCorpus.genDoc(id).path
    def needlePaths(ep: Inputs.Epoch) = Set(pathOf(ep.upsertIds.head), pathOf(ep.newIds.head))

    /** One SQL read on the attached store; the paths it returns, in order. */
    def read(q: String, req: Int): Seq[String] = {
      val rows =
        if (t.enabled) probe.statement(engine, session, readSql, Seq(LnxSql.SLit(q)),
          Seq(Fts("content", q)), req, "ingest.read")
        else session.execute(readSql, Seq(LnxSql.SLit(q))).collect()
      rows.map(_.getString(0)).toSeq
    }

    def runEpoch(ep: Inputs.Epoch): Option[EpochRun] = ctx.attempt(s"epoch ${ep.e}") {
      val t0 = System.nanoTime()
      t.span("ingest.epoch", ep.e) {
        val (_, appendMs) = Stats.timed(t.span("index.store.append") {
          IndexStore.appendEpoch(spark.read.parquet(epochDir(ep.e)), store, s"append-${ep.e}")
        })
        val (_, loadMs) = Stats.timed(t.span("index.store.load") { session.attach("files", store) })
        val paths = read(ep.needle, ep.e)
        EpochRun(ep, (System.nanoTime() - t0) / 1e6, appendMs, loadMs, paths)
      }
    }

    var model = Model(1, sz.baseDocs, 0)
    def checkInfo(step: String): Unit = {
      val r = IndexStore.info(spark, store).collect().head
      val got = Model(r.getAs[Int]("segments").toLong, r.getAs[Long]("liveDocs"), r.getAs[Long]("pendingDeletes"))
      if (got != model) ctx.fail(s"info after $step: $got, model $model")
    }
    val readMs, inputB, writtenPerInput = mutable.ArrayBuffer.empty[Double]
    var storeB = 0L

    /** After an epoch, untimed: one more read on the same cold store (its
      * latency kept apart), and the checks against the model.
      */
    def afterEpoch(r: EpochRun): Unit = {
      val ep = r.ep
      val q = pool(ep.e % pool.size).query
      val (got, ms) = Stats.timed(ctx.attempt(s"read '$q' after epoch ${ep.e}")(read(q, ep.e)))
      readMs += ms
      model = Model(model.segments + 1, model.liveDocs + sz.half, model.pendingDeletes + sz.half)
      checkInfo(s"epoch ${ep.e}")
      if (r.paths.toSet != needlePaths(ep)) ctx.fail(s"needle of epoch ${ep.e}: got ${r.paths}")
      got.foreach { g =>
        val ref = engine.searchF32(Seq(Fts("content", q)), K, useWand = false).collect()
          .map(x => (x.getLong(0), x.getFloat(1))).sortBy(x => (-x._2, x._1))
        val byId = engine.lookupDocs(ref.map(_._1).toSeq, Seq("path")).collect()
          .map(x => x.getLong(0) -> x.getString(1)).toMap
        if (g != ref.map(x => byId(x._1)).toSeq) ctx.fail(s"read '$q' after epoch ${ep.e}: $g")
      }
      val epB = Stats.dirBytes(epochDir(ep.e)).toDouble
      val nowB = Stats.dirBytes(store)
      inputB += epB
      writtenPerInput += (nowB - storeB) / epB
      storeB = nowB
    }

    var createMs = 0.0
    val warm = ctx.setup {
      ctx.generate {
        val base = Inputs.idBase(seed)
        CodeCorpus.generateRange(spark, base, base + sz.baseDocs, Inputs.parts(spark)).write.parquet(baseDir)
        eps.foreach(ep => Inputs.epochFrame(spark, ep).write.parquet(epochDir(ep.e)))
        if (t.enabled) curate.generate()
      }
      createMs = Stats.timed(t.span("index.store.create") {
        IndexStore.create(spark.read.parquet(baseDir), config, store).unpersist()
      })._2
      storeB = Stats.dirBytes(store)
      runEpoch(eps(0))
    }
    ctx.layers("index.build_s") = createMs / 1e3
    ctx.layers("index.build.files_per_s") = sz.baseDocs / (createMs / 1e3)
    if (t.enabled) t.named("index.store.create").lastOption.foreach { c =>
      val tc = t.total(c)
      ctx.layers("index.build.shuffle_b_per_doc") = tc.shuffleWriteB.toDouble / sz.baseDocs
      ctx.layers("index.build.spill_mb") = tc.spillB / 1e6
    }

    // the timed epochs, each checked after it (untimed); a failed epoch
    // leaves the store state unknown, so appending stops there
    val runs = mutable.ArrayBuffer.empty[EpochRun]
    var last = warm
    warm.foreach(afterEpoch)
    val gc0 = Stats.gcMs
    (1 to sz.epochs).foreach { e =>
      if (last.nonEmpty) {
        last = runEpoch(eps(e))
        last.foreach { r => runs += r; afterEpoch(r) }
      }
    }
    val gcMs = Stats.gcMs - gc0
    ctx.context("ingest_epoch_ms") = runs.map(r => f"${r.appendMs}%.0f+${r.loadMs}%.0f+" +
      f"${r.visibleMs - r.appendMs - r.loadMs}%.0f").mkString(" ")
    ctx.context("ingest_read_p50_ms") = f"${Stats.median(readMs.toSeq)}%.3f"
    if (t.enabled) NotExercised.foreach(ctx.layers(_) = 0.0)
    else {
      ctx.e2e("op_p50_ms") = Stats.median(runs.map(_.visibleMs).toSeq)
      ctx.e2e("work_per_s") = 2.0 * sz.half / (Stats.median(runs.map(_.appendMs).toSeq) / 1e3)
      return
    }

    val ops = t.named("ingest.epoch").filter(s => runs.exists(_.ep.e == s.req))
    ctx.layers("index.store.append_s") = Stats.median(runs.map(_.appendMs).toSeq) / 1e3
    ctx.layers("index.store.load_s") = Stats.median(runs.map(_.loadMs).toSeq) / 1e3
    ctx.layers("index.store.append_input_mb") = Stats.mean(inputB.toSeq) / 1e6
    ctx.layers("index.store.bytes_written_per_input_byte") = Stats.mean(writtenPerInput.toSeq)
    ctx.layers("index.store.append_jobs") =
      Stats.mean(ops.flatMap(t.children).filter(_.name == "index.store.append").map(s => t.total(s).jobs.toDouble))
    ctx.layers("index.store.segments") = model.segments.toDouble
    ctx.layers("index.store.pending_deletes") = model.pendingDeletes.toDouble
    probe.report(ops, gcMs / math.max(1, runs.size))

    // store maintenance: delete by query, compact, gc, each checked
    val appended = eps.take(1 + runs.size)
    val expectDeleted = appended.size.toLong * Inputs.deletesPerEpoch(sz.half)
    ctx.attempt("deleteByQuery") {
      val (removed, ms) = Stats.timed(t.span("index.store.delete") {
        IndexStore.deleteByQuery(spark, store, Seq(Fts("content", Inputs.DeleteMarker)), "doomed")
      })
      ctx.layers("index.store.delete_s") = ms / 1e3
      if (removed != expectDeleted) ctx.fail(s"deleteByQuery removed $removed, want $expectDeleted")
      model = model.copy(liveDocs = model.liveDocs - expectDeleted,
        pendingDeletes = model.pendingDeletes + expectDeleted)
      checkInfo("deleteByQuery")
    }
    ctx.attempt("compact") {
      val before = Stats.dirBytes(store)
      val (_, ms) = Stats.timed(t.span("index.store.compact") { IndexStore.compact(spark, store) })
      ctx.layers("index.store.compact_s") = ms / 1e3
      ctx.layers("index.store.compact_bytes_rewritten") = (Stats.dirBytes(store) - before).toDouble
      model = model.copy(segments = 1, pendingDeletes = 0)
      checkInfo("compact")
    }
    ctx.attempt("gc") {
      val before = Stats.fileCount(store)
      t.span("index.store.gc") { IndexStore.gc(spark, store) }
      ctx.layers("index.store.gc_files_deleted") = (before - Stats.fileCount(store)).toDouble
      checkInfo("gc")
      session.attach("files", store)
      if (read(appended.last.needle, -1).toSet != needlePaths(appended.last))
        ctx.fail("needle lost after compact and gc")
      if (read(Inputs.DeleteMarker, -1).nonEmpty) ctx.fail("deleted files still found after compact and gc")
    }
    engine.release()

    // bytes on disk per byte of live input: the latest version of each
    // key, minus deleted files
    val live = mutable.LinkedHashMap.empty[String, SourceFile]
    val base0 = Inputs.idBase(seed)
    (base0 until base0 + sz.baseDocs).foreach { id => val f = CodeCorpus.genDoc(id); live(f.path) = f }
    appended.foreach(ep => Inputs.epochRows(ep).foreach(f => live(f.path) = f))
    val liveB = live.values.filterNot(_.content.contains(Inputs.DeleteMarker)).map(Inputs.rowBytes).sum
    ctx.layers("index.store.bytes_per_input_byte") = Stats.dirBytes(store).toDouble / liveB

    curate.run()
  }
}
