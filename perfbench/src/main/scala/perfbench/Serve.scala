package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}

import graft.QpsBench
import graft.corpus.CodeCorpus
import graft.query._
import graft.sql.{LnxSession, LnxSql}

/** `serve`: one closed-loop client sends parameterised top-10 SQL
  * statements against a registered code corpus; the same stream is then
  * sent through 32-wide `searchManyF32` windows. Query layers do most of
  * the work; repeated statements exercise the parse, compile and plan
  * LRUs, novel ones miss them.
  */
object Serve {
  /** The warm-up cycles through the warm-up statements: `warmStatements`
    * SQL statements, then `warmWindows` batch windows. Statement latency
    * keeps falling over the first ~40 statements of a fresh JVM.
    */
  final case class Sizes(docs: Long, warmStatements: Int, warmWindows: Int)
  def sizes(ctx: Ctx): Sizes = if (ctx.smoke) Sizes(3000, 6, 1) else Sizes(30000, 40, 4)

  /** Per-layer metrics this workload has no operation for; reported as 0. */
  val NotExercised: Seq[String] =
    Seq("append_s", "load_s", "append_input_mb", "append_jobs", "segments", "pending_deletes",
      "bytes_written_per_input_byte", "delete_s", "compact_s", "compact_bytes_rewritten",
      "gc_files_deleted", "bytes_per_input_byte").map("index.store." + _) ++
    Seq("minhash", "simhash", "ann").flatMap(op => Seq("_s", "_jobs", "_shuffle_mb").map(s"ops.$op" + _))

  val Window = 32
  val K = 10
  /** Share of the run's seconds spent on the SQL loop; the rest is batched. */
  val SqlShare = 0.6

  final case class Stmt(clauses: Seq[SearchClause]) {
    def shape: String = clauses.head match {
      case _: FuzzyC => "fuzzy"
      case _: FastFuzzy => "fastfuzzy"
      case _ => "fts"
    }
    def arg: String = clauses.head match {
      case Fts(_, q, _) => q
      case f: FuzzyC => f.query
      case FastFuzzy(_, q, _) => q
      case other => throw new IllegalStateException(s"no SQL form for $other")
    }
    def sql: String =
      s"SELECT path, score() AS s FROM files WHERE $shape(content, $$1) ORDER BY s DESC LIMIT $K"
    def params: Seq[LnxSql.Lit] = Seq(LnxSql.SLit(arg))
  }

  /** Novel statements cycle through these shapes, so every seed sends
    * the same mix (QpsBench's serving mix plus its rare+hot shape).
    */
  val ShapeCycle = Seq("fts", "skewed", "fuzzy", "fts", "prefix", "fts", "fastfuzzy", "skewed", "fts", "fts")
  val WarmupPerShape = 4

  /** A statement stream over the QpsBench query pools: three positions of
    * every ten are novel (the next unused statement of the shape
    * ShapeCycle names) and the others repeat an earlier statement, drawn
    * Zipf-style by first appearance with the seed. The novel statements
    * come in one fixed shuffled order: query costs differ by several
    * times, and a run sends only a dozen distinct statements, so a
    * seed-dependent set would make the medians measure the draw instead
    * of the engine. The corpus and the repeats still follow the seed.
    * Also returns warm-up statements that never appear in the stream.
    */
  def stream(seed: Long, length: Int): (IndexedSeq[Stmt], IndexedSeq[Stmt]) = {
    val order = new scala.util.Random(20261017L)
    val rnd = new scala.util.Random(seed * 1000003L + 17L)
    def shapeOf(c: Seq[SearchClause]): String = c.head match {
      case _: FuzzyC => "fuzzy"
      case _: FastFuzzy => "fastfuzzy"
      case Fts(_, q, _) if q.endsWith("*") => "prefix"
      case _ => "fts"
    }
    val pools: Map[String, Iterator[Stmt]] =
      (QpsBench.queryPool(3000).groupBy(shapeOf) + ("skewed" -> QpsBench.queryPoolSkewed(1000)))
        .map { case (k, v) => k -> order.shuffle(v.distinct).map(Stmt).iterator }
    val warm = ShapeCycle.distinct.flatMap(sh => (1 to WarmupPerShape).map(_ => pools(sh).next())).toIndexedSeq
    val seen = mutable.ArrayBuffer.empty[Stmt]
    val out = (0 until length).map { i =>
      if (Set(0, 3, 6)(i % 10)) {
        // a shape whose pool ran dry falls back to the next shape that has one
        val k = seen.size % ShapeCycle.size
        val sh = (ShapeCycle.drop(k) ++ ShapeCycle.take(k)).find(pools(_).hasNext)
          .getOrElse(throw new IllegalStateException("query pools exhausted"))
        seen += pools(sh).next()
        seen.last
      } else {
        val r = (math.pow(seen.size + 1.0, rnd.nextDouble()) - 1.0).toInt
        seen(math.min(r, seen.size - 1))
      }
    }
    (out, warm)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val sz = sizes(ctx)
    val (stmts, warm) = stream(ctx.opts.seed, 1200)
    val dir = ctx.dir("corpus")
    val session = ctx.setup {
      ctx.generate {
        val base = Inputs.idBase(ctx.opts.seed)
        CodeCorpus.generateRange(spark, base, base + sz.docs, Inputs.parts(spark)).write.parquet(dir)
      }
      val session = new LnxSession(spark)
      session.register("files", spark.read.parquet(dir), Seq("repo", "path", "commit"), Seq("content"))
      // the first statement builds the index (LnxSession builds lazily)
      val (_, buildMs) = Stats.timed(t.span("index.build") {
        session.execute(warm.head.sql, warm.head.params).collect()
      })
      ctx.layers("index.build_s") = buildMs / 1e3
      ctx.layers("index.build.files_per_s") = sz.docs / (buildMs / 1e3)
      t.span("serve.warmup") {
        (0 until sz.warmStatements).map(k => warm(k % warm.size))
          .foreach(w => session.execute(w.sql, w.params).collect())
        (0 until sz.warmWindows).foreach { b =>
          val window = (0 until Window).map(j => j -> warm((b * Window + j) % warm.size).clauses)
          session.table("files").engine.get.searchManyF32(window, K).collect()
        }
      }
      session
    }
    if (t.enabled) {
      t.named("index.build").lastOption.foreach { b =>
        val c = t.total(b)
        ctx.layers("index.build.shuffle_b_per_doc") = c.shuffleWriteB.toDouble / sz.docs
        ctx.layers("index.build.spill_mb") = c.spillB / 1e6
      }
      ctx.layers("index.cached_mb") = Inputs.cachedMb(spark)
    }

    val engine = session.table("files").engine.get
    val gc0 = Stats.gcMs

    // closed loop over the SQL stream
    val sqlBudgetMs = ctx.opts.seconds * 1e3 * SqlShare
    val lat = mutable.ArrayBuffer.empty[Double]
    val tracedLat = mutable.ArrayBuffer.empty[Double]
    val results = mutable.ArrayBuffer.empty[(Int, Seq[(String, Float)])]
    val probe = new Probe(ctx)
    var spent = 0.0
    var i = 0
    // a traced run sends at least one traced and one plain block
    while (i < stmts.size && (spent < sqlBudgetMs || (t.enabled && i < 20))) {
      val s = stmts(i)
      // whole blocks of ten alternate, so traced and untraced statements
      // both carry the stream's 3-in-10 share of novel statements
      val traced = t.enabled && (i / 10) % 2 == 0
      t.recording = traced
      val (rows, ms) = Stats.timed(ctx.attempt(s"statement $i") {
        if (traced) probe.statement(engine, session, s.sql, s.params, s.clauses, i, "serve.statement")
        else session.execute(s.sql, s.params).collect()
      })
      rows.foreach(r => results += i -> r.map(x => (x.getString(0), x.getFloat(1))).toSeq)
      if (traced) tracedLat += ms else lat += ms
      spent += ms
      if (traced) probe.decompose(engine, s, i)
      i += 1
    }
    t.recording = t.enabled
    val nSql = i
    val firstSeen = stmts.take(nSql).distinct.size
    ctx.layers("query.repeat_frac") = 1.0 - firstSeen.toDouble / nSql
    ctx.context("serve_repeat_frac") = f"${ctx.layers("query.repeat_frac")}%.3f"
    ctx.context("serve_statements") = nSql.toString
    ctx.context("serve_distinct_statements") = firstSeen.toString

    // the same statements again, in 32-wide windows: window w holds the
    // next 32 statements of the SQL loop's sequence, cycling, in a seeded
    // order (so every window has nearly the same mix and none repeats)
    val batchBudgetMs = ctx.opts.seconds * 1e3 - spent
    def windowOf(w: Int) = {
      val r = new scala.util.Random(ctx.opts.seed * 7919L + w)
      r.shuffle((0 until Window).map(j => stmts((w * Window + j) % nSql).clauses))
        .zipWithIndex.map(_.swap)
    }
    val batchRows = mutable.ArrayBuffer.empty[(Int, Array[Row])]
    val batchMs = mutable.ArrayBuffer.empty[Double]
    var w = 0
    var bSpent = 0.0
    while (bSpent < batchBudgetMs || w == 0) {
      val (rows, ms) = Stats.timed(ctx.attempt(s"batch window $w") {
        t.span("query.batch", w) { engine.searchManyF32(windowOf(w), K).collect() }
      })
      rows.foreach(r => batchRows += w -> r)
      batchMs += ms
      bSpent += ms
      w += 1
    }
    val gcMs = Stats.gcMs - gc0

    if (!t.enabled) {
      ctx.e2e("op_p50_ms") = Stats.median(lat.toSeq)
      ctx.e2e("work_per_s") = Window / (Stats.median(batchMs.toSeq) / 1e3)
      ctx.context("serve_sql_p95_ms") = f"${Stats.quantile(lat.toSeq, 0.95)}%.3f"
    }

    // answer checks, outside every timed region
    t.recording = false
    val used = stmts.take(nSql).distinct
    val ref: Map[Stmt, Seq[(Long, Float)]] = used.map { s =>
      s -> engine.searchF32(s.clauses, K, useWand = false).collect()
        .map(r => (r.getLong(0), r.getFloat(1))).toSeq.sortBy(x => (-x._2, x._1))
    }.toMap
    val ids = ref.values.flatten.map(_._1).toSeq.distinct
    val path = ids.grouped(5000).flatMap(g => engine.lookupDocs(g, Seq("path")).collect()
      .map(r => r.getLong(0) -> r.getString(1))).toMap
    results.foreach { case (idx, got) =>
      val want = ref(stmts(idx)).map { case (d, sc) => (path(d), sc) }
      if (got != want) ctx.fail(s"statement $idx (${stmts(idx).shape} '${stmts(idx).arg}'): $got != $want")
    }
    batchRows.foreach { case (wi, rows) =>
      val byQ = rows.groupBy(_.getInt(0)).map { case (q, rs) =>
        q -> rs.map(r => (r.getLong(1), r.getFloat(2))).toSeq.sortBy(x => (-x._2, x._1))
      }
      windowOf(wi).foreach { case (j, clauses) =>
        val want = ref(Stmt(clauses))
        if (byQ.getOrElse(j, Nil) != want) ctx.fail(s"batch window $wi qid $j differs from the single-query rows")
      }
    }
    t.recording = t.enabled

    if (t.enabled) {
      NotExercised.foreach(ctx.layers(_) = 0.0)
      val ops = t.named("serve.statement")
      probe.report(ops, gcMs / (nSql + w))
      ctx.layers("trace.overhead_ms") = Stats.median(tracedLat.toSeq) - Stats.median(lat.toSeq)
      ctx.layers("query.batch_ms_per_query") = Stats.mean(batchMs.toSeq) / Window
    }
  }
}

/** The traced decomposition of one statement into the public calls the
  * session makes, plus the per-layer reductions over all traced
  * statements.
  */
final class Probe(ctx: Ctx) {
  private val t = ctx.tracer
  private var parseHits, compileHits, planHits, n = 0L
  private val analysisMs = mutable.ArrayBuffer.empty[Double]
  private val wand = mutable.ArrayBuffer.empty[Probe.Scored]
  private val fetchMs = mutable.ArrayBuffer.empty[Double]

  /** One SQL statement under a root span named `root`, as sql.parse ->
    * query.compile -> sql.frame -> spark.plan -> spark.exec. Parsing and
    * compiling first make the session's own parse and compile lookups
    * hits, so each cost is counted once.
    */
  def statement(engine: QueryEngine, session: LnxSession, sql: String, params: Seq[LnxSql.Lit],
      clauses: Seq[SearchClause], req: Int, root: String): Array[Row] =
    t.span(root, req) {
      n += 1
      val p0 = session.parseCacheHits
      t.span("sql.parse") { LnxSql.parse(sql) }
      val c0 = engine.compileCacheHits
      t.span("query.compile") { engine.compile(clauses) }
      compileHits += engine.compileCacheHits - c0
      val pl0 = engine.planCacheHits
      val df: DataFrame = t.span("sql.frame") { session.execute(sql, params) }
      parseHits += session.parseCacheHits - p0
      planHits += engine.planCacheHits - pl0
      t.span("spark.plan") { df.queryExecution.executedPlan }
      analysisMs += df.queryExecution.tracker.phases.get("analysis").map(_.durationMs.toDouble).getOrElse(0.0)
      t.span("spark.exec") { df.collect() }
    }

  /** Scoring alone (searchF32 with WAND counters) and the stored-field
    * fetch alone (lookupDocs), as separate root spans of the same request.
    */
  def decompose(engine: QueryEngine, s: Serve.Stmt, i: Int): Unit = {
    val stats = Wand.Stats.register(ctx.spark)
    val (scored, ms) = Stats.timed(t.span("query.score", i) {
      engine.searchF32(s.clauses, Serve.K, wandStats = Some(stats)).collect()
    })
    wand += Probe.Scored(s.shape, stats.decodedBlocks.value, stats.skippedBlocks.value, ms)
    val ids = scored.map(_.getLong(0)).toSeq
    fetchMs += Stats.timed(t.span("query.fetch", i) {
      engine.lookupDocs(ids, Seq("path")).collect()
    })._2
  }

  def report(ops: Seq[Span], gcMsPerOp: Double): Unit = {
    val L = ctx.layers
    L("sql.parse_cache_hit_ratio") = Stats.ratio(parseHits.toDouble, n.toDouble)
    L("query.compile_cache_hit_ratio") = Stats.ratio(compileHits.toDouble, n.toDouble)
    L("query.plan_cache_hit_ratio") = Stats.ratio(planHits.toDouble, n.toDouble)
    L("spark.analysis_ms") = Stats.mean(analysisMs.toSeq)
    L("query.fetch_ms") = Stats.mean(fetchMs.toSeq)
    def wandOf(prefix: String, ws: Seq[Probe.Scored]): Unit = {
      L(s"query.score_ms$prefix") = Stats.mean(ws.map(_.scoreMs))
      L(s"query.wand_blocks_decoded$prefix") = Stats.mean(ws.map(_.decoded.toDouble))
      L(s"query.wand_blocks_skipped$prefix") = Stats.mean(ws.map(_.skipped.toDouble))
      L(s"query.wand_skip_ratio$prefix") =
        Stats.ratio(ws.map(_.skipped).sum.toDouble, ws.map(w => w.decoded + w.skipped).sum.toDouble)
    }
    wandOf("", wand.toSeq)
    Seq("fts", "fuzzy", "fastfuzzy").foreach(sh => wandOf(s".$sh", wand.filter(_.shape == sh).toSeq))
    Layers.perOp(ctx, ops, gcMsPerOp)
  }
}

object Probe {
  final case class Scored(shape: String, decoded: Long, skipped: Long, scoreMs: Double)
}
