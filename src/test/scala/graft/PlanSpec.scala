package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.query._

/** Physical-plan audits: the shapes that matter at 100 TB must be in
  * the plan, not just in the design doc — pushed-down scans, broadcast
  * for the k-row doc join, whole-stage codegen on the column paths.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("stored-field projection pushes filters and prunes columns at the parquet scan") {
    val df = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet")
      .filter(col("lang") === "en" && col("n_chars").between(100, 300))
      .select("doc_id", "n_chars")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("EqualTo(lang,en)"), plan.take(1500))
    val readSchema = plan.split("ReadSchema:").last.takeWhile(_ != '\n')
    assert(readSchema.contains("doc_id") && readSchema.contains("n_chars") &&
      readSchema.contains("lang") && !readSchema.contains("text"),
      s"scan reads more than it needs: $readSchema")
  }

  test("the docId->stored-fields join broadcasts the k-row scored side") {
    val e = SparkEntry.docEngine(spark, TestSpark.sf0001)
    val out = e.withDocs(e.searchF64(Seq(Fts("text", "merge sort")), 10), Seq("doc_id"))
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"),
      plan.take(2000))
  }

  test("q09 (stopword query): the broadcast side of the docs join is limited, not the full match set") {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Join}
    val df = SparkEntry.queries("q09_default_limit")(spark, TestSpark.sf0001)
    val joins = df.queryExecution.analyzed.collect { case j: Join => j }
    assert(joins.nonEmpty, "expected a docs join in the q09 plan")
    joins.foreach { j =>
      val limited = j.right.collectFirst { case g: GlobalLimit => g }.nonEmpty ||
        j.left.collectFirst { case g: GlobalLimit => g }.nonEmpty
      assert(limited, s"docs join has no Limit on either side:\n$j")
    }
  }

  test("RegexPrefix.literalPrefix: required-prefix extraction is conservative and exact") {
    import graft.query.RegexPrefix.literalPrefix
    assert(literalPrefix("sor.+") == "sor")
    assert(literalPrefix("foo") == "foo")
    assert(literalPrefix("ab*c") == "a")   // * admits zero 'b's
    assert(literalPrefix("ab?c") == "a")   // ? admits zero 'b's
    assert(literalPrefix("ab{0,2}c") == "a")
    assert(literalPrefix("ab+c") == "ab")  // + requires >= 1 'b'
    assert(literalPrefix("b.tch|sc.n") == "") // top-level alternation
    assert(literalPrefix("(ab)c") == "")
    assert(literalPrefix("\\d+x") == "")
    assert(literalPrefix("me[rs]ge") == "me")
    assert(literalPrefix("s[o|u]rt") == "s") // '|' inside a class is literal
    // '(' inside a class is a literal, NOT a group opener: it must not
    // mask a later top-level alternation (a "x" prefix here would
    // silently drop terms matching the 'y' branch)
    assert(literalPrefix("x[(]|y") == "")
    assert(literalPrefix("a[)]b") == "a")  // class-closing ')' can't underflow depth
    assert(literalPrefix("[]x]a|b") == "") // leading ']' is a literal class member
  }

  test("dedup ops release their corpus-sized caches: only the result stays persisted") {
    val sc = spark.sparkContext
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    for (op <- Seq[org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame](
      d => graft.ops.Dedup.minhashPairs(d, "doc_id", "text"),
      d => graft.ops.Dedup.ngramJaccardPairs(d, "doc_id", "text"))) {
      val before = sc.getPersistentRDDs.keySet
      val out = op(docs)
      out.collect()
      // the shingle/signature intermediates must be gone by the time the
      // op returns; at most the (dup-pair-sized) result stays cached
      val afterOp = sc.getPersistentRDDs.keySet -- before
      assert(afterOp.size <= 1, s"leaked persisted RDDs: $afterOp")
      out.unpersist(blocking = true)
      val afterRelease = sc.getPersistentRDDs.keySet -- before
      assert(afterRelease.isEmpty, s"result not releasable: $afterRelease")
    }
  }

  test("simhash sub-bucket split is salted per band: oversized-bucket recall survives") {
    import spark.implicits._
    // 40 byte-identical docs: every pair is hamming-0 and every band
    // bucket holds all 40 docs — the exact boilerplate case maxBucket
    // exists for. maxBucket=20 -> nSub=2 per band. Per-band-INDEPENDENT
    // splits keep a pair with P = 1-(1/2)^4 = 93.75%; a split hash
    // correlated across bands (e.g. unsalted hash60(id)) keeps only
    // ~50% — each pair collides in every band or in none. The corpus
    // is fixed so the count is deterministic; 80% leaves slack against
    // hash-detail drift while staying far above the correlated regime.
    val docs = (1L to 40L)
      .map(i => (i, "object Boilerplate { def run(): Unit = { val x = 1 } }"))
      .toDF("doc_id", "text")
    val pairs = graft.ops.Dedup.simhashPairs(
      graft.ops.Dedup.simhash(docs, "doc_id", "text"), maxBucket = 20)
    val found = pairs.count()
    val total = 40L * 39 / 2
    assert(found >= (total * 0.8).toLong,
      s"salted split recall too low: $found of $total identical pairs")
    assert(found < total,
      s"maxBucket=20 over 40-doc buckets must drop SOME pairs or the split path wasn't exercised")
  }

  test("lshCosineDedup collapses clustered near-dup groups in one pass, output O(N)") {
    // the op's design regime: buckets ~ near-identical groups (heavy
    // boilerplate). 2000 vectors in 32 tight clusters (~62 members,
    // intra-cluster cosine ~0.89): members share band keys with their
    // cluster, the bucket min IS a cluster-mate, and the star verify
    // passes — most docs must collapse onto a smaller-id rep. (At
    // sf0.01-style scattered corpora the bucket min is a random
    // dissimilar doc and the op legitimately keeps everything — q47
    // gates the exact arithmetic there, THIS gates the dedup effect.)
    val emb = OpsBench.genEmbeddings(spark, 2000L, 8, nClusters = 32)
    val out = graft.ops.Similarity.lshCosineDedup(emb, "vec_id", "embedding").collect()
    assert(out.length == 2000, "one assignment row per input vector")
    out.foreach(r => assert(r.getLong(1) <= r.getLong(0), "rep is never larger than the id"))
    val dups = out.count(r => r.getLong(1) < r.getLong(0))
    assert(dups >= 1200, s"expected most of 2000 clustered docs to collapse, got $dups")
    val plan = graft.ops.Similarity.lshCosineDedup(emb, "vec_id", "embedding")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "dedup must stay equi-join only")
  }

  test("resolveReps closes a depth-9 chain in <= 5 pointer-jump rounds (log, not linear)") {
    // rep = id-1 except at multiples of 10: ten chains of depth 9.
    // Linear pointer-chasing needs 8 rounds; pointer jumping doubles
    // the resolved distance per round, so maxRounds = 5 proves the
    // log-round contract (4 jump rounds + the fixpoint-detect round).
    val assign = spark.range(0, 100).select(col("id"),
      when(col("id") % 10 === 0, col("id")).otherwise(col("id") - 1).as("rep"))
    val resolved = graft.ops.Dedup.resolveReps(assign, maxRounds = 5).collect()
    assert(resolved.length == 100)
    resolved.foreach { r =>
      val (id, rep) = (r.getLong(0), r.getLong(1))
      assert(rep == id - (id % 10), s"id $id resolved to $rep, expected ${id - (id % 10)}")
    }
    // idempotence: a resolved assignment is its own fixpoint
    val again = graft.ops.Dedup.resolveReps(
      spark.range(0, 100).select(col("id"), (col("id") - (col("id") % 10)).as("rep")),
      maxRounds = 5).collect()
    again.foreach(r => assert(r.getLong(1) == r.getLong(0) - (r.getLong(0) % 10)))
  }

  test("property: resolveReps == driver-side closure on random forests (seeded)") {
    // random min-elected forests (rep <= id, ~30% roots): the
    // distributed pointer-jumping fixpoint must equal the trivial
    // driver-side chase on every id, at whatever chain depths the seed
    // happens to produce
    import spark.implicits._
    val rnd = new scala.util.Random(424242L)
    for (round <- 1 to 3) {
      val pairs = (0L until 300L).map { id =>
        val rep = if (id == 0 || rnd.nextInt(10) < 3) id else (rnd.nextLong().abs % id)
        id -> rep
      }
      val m = pairs.toMap
      def root(x: Long): Long = { var c = x; while (m(c) != c) c = m(c); c }
      val expect = pairs.map { case (id, _) => id -> root(id) }.toMap
      val out = graft.ops.Dedup.resolveReps(pairs.toDF("id", "rep")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out === expect, s"round $round diverged from driver-side closure")
    }
  }

  test("resolveReps keeps rows whose rep target is absent (pre-filtered dups-only view)") {
    // chain 0 <- 1 <- 2 with the root row (0, 0) filtered out — the
    // natural `where rep < id` view. An inner self-join would drop
    // id 1 in round one (its rep 0 has no row); left_outer keeps it
    // and treats the missing target as a root.
    import spark.implicits._
    val partial = Seq((1L, 0L), (2L, 1L)).toDF("id", "rep")
    val out = graft.ops.Dedup.resolveReps(partial).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 0L, 2L -> 0L), s"expected both rows closed to root 0, got $out")
  }

  test("resolveReps fails loud when maxRounds is exhausted with pointers still moving") {
    // depth-9 chains need 4 jump rounds; maxRounds = 2 must throw, not
    // silently return a half-closed assignment indistinguishable from
    // a converged one
    val assign = spark.range(0, 100).select(col("id"),
      when(col("id") % 10 === 0, col("id")).otherwise(col("id") - 1).as("rep"))
    val ex = intercept[IllegalStateException] {
      graft.ops.Dedup.resolveReps(assign, maxRounds = 2).collect()
    }
    assert(ex.getMessage.contains("still moving"))
  }

  test("minhashDedup assigns every planted duplicate a smaller-id rep, output O(N), equi-join only") {
    val docs = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet")
    val dups = docs.filter(col("doc_id") < 50)
      .withColumn("doc_id", col("doc_id") + 100000)
    val corpus = docs.unionByName(dups)
    val n = corpus.count()
    val out = graft.ops.Dedup.minhashDedup(corpus, "doc_id", "text")
    val rows = out.collect()
    assert(rows.length == n, "exactly one (id, rep) row per input doc")
    rows.foreach(r => assert(r.getLong(1) <= r.getLong(0), "rep is never larger than the id"))
    // every exact copy shares EVERY band with its original, so its
    // bucket rep verifies at jaccard 1.0 and the copy must collapse
    val copies = rows.filter(_.getLong(0) >= 100000)
    assert(copies.length == 50)
    copies.foreach(r =>
      assert(r.getLong(1) < 100000, s"copy ${r.getLong(0)} kept rep ${r.getLong(1)}"))
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      "dedup must stay equi-join only")
    out.unpersist(blocking = true)
  }

  test("minhash verify broadcasts only count-gated slim frames, nothing unconditionally") {
    import org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
    val docs = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet")
    // default gate: the count-verified tiny frames — candidate-doc IDs
    // (id), the edge set (a, b) and the per-doc size frame (id, n) —
    // are broadcast so the verify joins run map-side; each hint must
    // cover one of exactly those slim projections, never a
    // shingle-carrying frame
    val df = graft.ops.Dedup.minhashPairs(docs, "doc_id", "text")
    val hints = df.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(hints.nonEmpty, "expected the gated verify-side frames to carry broadcast hints")
    val allowed = Set(Seq("id"), Seq("a", "b"), Seq("id", "n"))
    assert(hints.forall(h => allowed(h.child.output.map(_.name))),
      s"only slim gated frames may be broadcast: ${hints.map(_.child.output.map(_.name))}")
    // gate closed (limit 0): no broadcast anywhere — every fallback is
    // a plain slim-keyed shuffle join (the pair set is unbounded at
    // corpus scale and must never broadcast ungated)
    val gated = graft.ops.Dedup.minhashPairs(docs, "doc_id", "text", broadcastIdLimit = 0L)
    val gh = gated.queryExecution.analyzed.collect { case h: ResolvedHint => h }
    assert(gh.isEmpty, s"gate closed must not broadcast: $gh")
    gated.unpersist(blocking = true)
    df.unpersist(blocking = true)
  }

  test("LSH near-dup plan: banded self-join is an equi-join, never a cartesian product") {
    val emb = spark.read.parquet(s"${TestSpark.sf001}/embeddings.parquet")
    val df = graft.ops.Similarity.lshCosineDupPairs(emb, "vec_id", "embedding")
    val plan = df.queryExecution.optimizedPlan.toString
    assert(!plan.contains("Cartesian"), plan.take(1500))
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val joins = df.queryExecution.optimizedPlan.collect { case j: Join => j }
    assert(joins.forall(_.condition.nonEmpty), "every join must carry a key condition")
  }

  test("SQL session: score-ordered SELECT without column predicates limits before the docs join") {
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Join, LocalRelation}
    val sess = new graft.sql.LnxSession(spark)
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    sess.register("documents", docs, Seq("doc_id"), Seq("text"))
    // LIMIT 10 fetches stored fields for the top-k ids with no join at
    // all; a LIMIT above QueryEngine's lookup bound keeps the docs join
    val fetched = sess.execute(
      "SELECT doc_id, score() AS s FROM documents WHERE fts(text, 'the') ORDER BY s DESC LIMIT 10")
    assert(fetched.queryExecution.analyzed.collect { case j: Join => j }.isEmpty)
    val df = sess.execute(
      "SELECT doc_id, score() AS s FROM documents WHERE fts(text, 'the') ORDER BY s DESC LIMIT 20000")
    val joins = df.queryExecution.analyzed.collect { case j: Join => j }
    assert(joins.nonEmpty)
    // limited = a Limit in the plan, or the top-k searchF32 collected:
    // a driver-held relation of at most LIMIT rows
    def limited(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Boolean =
      p.collectFirst { case g: GlobalLimit => g }.nonEmpty ||
        p.collectFirst { case l: LocalRelation if l.data.size <= 20000 => l }.nonEmpty
    assert(joins.forall(j => limited(j.right) || limited(j.left)),
      "the stopword match set must be limited before joining stored fields")
  }

  test("column-expression paths stay inside whole-stage codegen") {
    val df = spark.read.parquet(s"${TestSpark.sf001}/documents.parquet")
    val q = graft.ops.TextStats.tokenCounts(df, "doc_id", "text")
    q.collect() // AQE shows codegen spans only in the final executed plan
    val plan = q.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark WholeStageCodegen spans in the tree string
    assert(plan.contains("*("), plan.take(1500))
  }

  test("facet counting over matches is a hash aggregate, not a sort-based plan") {
    val e = SparkEntry.docEngine(spark, TestSpark.sf0001)
    val matches = e.matchF64(Seq(Fts("text", "data")))
    val f = e.facetCounts(matches, concat(lit("/"), col("source"), lit("/"), col("lang")))
    val plan = f.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan.take(1500))
  }

  test("store scoring runs with no exchange outside the cached postings, on every route") {
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.catalyst.expressions.Attribute
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    object Plans extends AdaptiveSparkPlanHelper
    // the exchanges a lazy frame's run executed
    def exchanges(df: DataFrame): Seq[ShuffleExchangeExec] = {
      df.collect()
      Plans.collect(df.queryExecution.executedPlan) { case x: ShuffleExchangeExec => x }
    }
    def onQid(x: ShuffleExchangeExec): Boolean = x.outputPartitioning match {
      case h: HashPartitioning => h.expressions.forall {
        case a: Attribute => a.name == "qid"
        case _ => false
      }
      case _ => false
    }
    val e = new QueryEngine(graft.index.IndexStore.load(spark, StoreFixture.dir))
    val n = e.index.numDocs
    def df(cs: Seq[SearchClause]) = e.compile(cs).terms.map(_.df)
    val disj = Seq(Fts("content", "needle binary"))
    val conj = Seq(Fts("content", "freshterm"), Fts("content", "fn"))
    val dense = Seq(Fts("content", "fn return"))
    // premises of Wand.route: disjunction WAND, conjunction WAND, exhaustive
    assert(df(disj).min * 4 <= n)
    assert(df(Seq(conj.head)).sum * 4 <= n)
    assert(df(dense).min * 4 > n)
    val batch = Seq(0 -> disj, 1 -> conj, 2 -> dense)
    val split = Seq("graft.batch.splitMinDocs" -> "0")
    // every route scores in ONE stage that shuffles nothing: the shuffle
    // that built the shard tables ran at the first read and is skipped
    def oneStage(what: String, run: => DataFrame): Unit = {
      run.collect() // warm-up: the first read builds the shard tables
      val (_, c) = SparkEvents.of(spark)(run.collect())
      assert(c.jobs === 1 && c.stages === 1 && c.shuffleBytes === 0L, s"$what: $c")
    }
    oneStage("searchF32 disjunction WAND", e.searchF32(disj, 10))
    oneStage("searchF32 conjunction WAND", e.searchF32(conj, 10))
    oneStage("searchF32 exhaustive", e.searchF32(dense, 10))
    oneStage("searchF32 forced exhaustive", e.searchF32(disj, 10, useWand = false))
    oneStage("matchF64", e.matchF64(disj))
    // under the driver-merge gate a batch is ONE job as well: the shard
    // candidates merge per qid on the driver
    oneStage("searchManyF32", e.searchManyF32(batch, 10))
    EagerPlanConfs.withConfs(spark, split)(oneStage("searchManyF32 split", e.searchManyF32(batch, 10)))
    oneStage("searchManyF64", e.searchManyF64(batch, 10))
    // above it, the batch's only exchange is its per-qid top-k window
    // above the scoring, never one that moves posting rows
    e.driverMergeRows = 0L
    Seq(
      "windowed searchManyF32" -> exchanges(e.searchManyF32(batch, 10)),
      "windowed searchManyF32 split" -> EagerPlanConfs.withConfs(spark, split)(
        exchanges(e.searchManyF32(batch, 10)))
    ).foreach { case (what, xs) => assert(xs.nonEmpty && xs.forall(onQid), s"$what: $xs") }
    e.release()
  }
}
