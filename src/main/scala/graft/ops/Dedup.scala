package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import OpsSql._

/** Deduplication operators for large-scale training-data pipelines.
  * Every operator has an exact DuckDB SQL twin (the *Sql members) used
  * as the correctness oracle. Scale notes inline per operator.
  */
object Dedup {

  /** Exact dedup by content hash: keep the smallest id per sha256 group.
    * One hash-shuffle; at 100 TB this is the cheapest dedup pass and
    * runs map-side partial aggregation.
    */
  def exactGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol), 256).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("group_size"))
      .filter(col("group_size") > 1)
      .select("keep_id", "group_size")
      .orderBy("keep_id")

  def exactGroupsSqlDuck(rel: String, idCol: String, textCol: String): String =
    s"""SELECT min($idCol) AS keep_id, count(*)::BIGINT AS group_size
       |FROM $rel GROUP BY sha256($textCol)
       |HAVING count(*) > 1 ORDER BY keep_id""".stripMargin

  /** (id, 60-bit shingle hash) pairs — the SLIM shingle set every
    * minhash/jaccard stage shares. Shingles hash to a long HERE, before
    * any shuffle: carrying ~16-byte shingle strings through the
    * candidate/verify self-joins multiplied the verify shuffle bytes
    * severalfold at corpus scale for no information (the signature,
    * blocking and common-count stages are all hash-keyed anyway; the
    * Jaccard estimate is unchanged up to 60-bit collisions, which the
    * oracle mirrors exactly). The token array is materialized as its
    * own projection first: inlining `tokens(text)` into the shingle
    * lambda would re-tokenize the text per element_at call (measured
    * ~20x slowdown).
    *
    * NOT (id, h)-deduplicated: per-doc shingle STRINGS are already
    * distinct (array_distinct), so duplicate (id, h) rows exist only
    * under a within-doc 60-bit hash collision. The minhash signature
    * path is duplicate-insensitive (MIN over a multiset == MIN over its
    * set), so the corpus-wide distinct exchange this used to pay was
    * pure overhead there (guide §2.4: remove shuffles outright);
    * consumers whose COUNTS must match the oracle's `SELECT DISTINCT
    * id, hash` (verify sizes/common counts, ngram df blocking) apply
    * `.distinct()` themselves — on the candidate-restricted sliver, not
    * the corpus.
    */
  private def hashedShingles(df: DataFrame, idCol: String, textCol: String): DataFrame =
    spread(df.select(col(idCol).as("id"), col(textCol).as("text")))
      .select(col("id"), tokens(col("text")).as("toks"))
      .select(col("id"), explode(array_distinct(shingles3(col("toks")))).as("sh"))
      .select(col("id"), hash60(col("sh")).as("h"))

  private def hashedShinglesDuck(idCol: String, textCol: String): String =
    s"""t AS (SELECT $idCol AS id, ${tokensDuck(textCol)} AS toks FROM documents),
       |sh0 AS (SELECT id, unnest(${shingles3Duck("toks")}) AS s FROM t),
       |sh AS (SELECT DISTINCT id, ${hash60Duck("s")} AS h FROM sh0)""".stripMargin

  /** Run an EAGER, persist-heavy op body with AQE off and the
    * plan-description string capped, restoring both confs after. Every
    * exchange of these ops sits inside a statically-compiled cached
    * plan (the `scoped`/persist design), where AQE can neither coalesce
    * partitions (canChangeCachedPlanOutputPartitioning) nor convert
    * join strategies (the CLAUDE.md persist trap, measured r4) — it
    * only adds one scheduling round-trip PLUS one plan-description
    * event per query stage, and those event strings re-inline every
    * nested InMemoryRelation subtree (~10 MB per event on the minhash
    * pipeline; driver thread dumps showed generateTreeString dominating
    * the inter-job gaps). Same-session A/B at sf0.1: minhash pass 2.24 s
    * -> 1.38 s (13 Spark jobs -> 4). The reasoning is scale-independent
    * — the win is per-action driver overhead, not a data-size effect.
    * Conf mutation is visible to concurrent queries on the same session
    * for the op's duration (restored verbatim after) — the same
    * trade-off any session-level tuning makes.
    */
  private def withEagerOpConfs[T](df: DataFrame)(body: => T): T =
    graft.EagerPlanConfs.scoped(df.sparkSession)(body)

  /** Terminal (a, b) presentation sort. When the candidate count is
    * known small (the same broadcast gate), a global range sort is
    * replaced by ONE partition sorted in-task: identical row order on
    * read-back, minus the RangePartitioner's sampling pass — which
    * re-executes the verify join tree's reduce stages once per call
    * just to pick bounds for a handful of rows. Above the gate the
    * range sort stands (a single partition would serialize a large
    * result).
    */
  private def sortedPairs(df: DataFrame, small: Boolean): DataFrame =
    if (small) df.repartition(1).sortWithinPartitions("a", "b")
    else df.orderBy("a", "b")

  /** Spread a COLLAPSED source across the session's parallelism before
    * CPU-heavy per-row work (tokenize + shingle + md5): a small parquet
    * table arrives as ONE split (openCost packing), so the whole
    * analysis chain would run serially on one core no matter how wide
    * the cluster is — measured 0.65 s of a 2.5 s minhash pass on one
    * task at sf0.1 (guide §2.5 input skew). Only fires on a clear
    * collapse (parts * 4 <= defaultParallelism): a corpus-scale scan
    * keeps its own split layout and never pays a gratuitous full-text
    * exchange. Round-robin repartition is deterministic under retries
    * (sortBeforeRepartition, on by default).
    */
  private def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions * 4 > target) df
    else df.repartition(target)
  }

  /** Materialize `out` once (persisted — the caller's own action then
    * reads the cached result) and RELEASE the corpus-sized shingle /
    * signature intermediates: a long-lived curation session must not
    * accumulate executor storage per dedup call (r03 verdict). The
    * output is near-dup-pair-sized — dup-density-bounded, orders of
    * magnitude below the corpus — so this converts an O(corpus-tokens)
    * cache residue into O(result); callers wanting zero residue
    * `unpersist()` the returned frame when done with it.
    */
  private def scoped(intermediates: DataFrame*)(out: DataFrame): DataFrame = {
    val res = out.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      res.count()
      res
    } catch {
      // the materializing count failed (lost executor, corrupt input):
      // without this the result persist AND every corpus-sized
      // intermediate would stay pinned for the life of the session
      case t: Throwable => res.unpersist(blocking = false); throw t
    } finally {
      intermediates.foreach(_.unpersist(blocking = false))
    }
  }

  /** Restrict the corpus-sized shingle set to candidate documents before
    * the exact-Jaccard verify joins. The candidate-doc id set is tiny
    * relative to the corpus (dup-density-bounded), so when its size is
    * known to fit (`2*nCand <= broadcastIdLimit`) it is broadcast and the
    * semi-join streams the cached shingle partitions map-side — the
    * verify stage then never shuffles corpus-sized data, in ANY planner
    * regime. This must not rely on AQE's runtime broadcast conversion:
    * the materializing persist in `scoped` plans its child statically
    * (cached plans don't re-plan adaptively), which r4 measured as a 4x
    * wall regression when the verify joins fell back to sort-merge over
    * the full shingle frame. Above the gate the semi-join degrades to a
    * shuffle join — still keyed on slim longs, still candidate-bounded
    * output.
    */
  private def candidateShingles(sh: DataFrame, cand: DataFrame, nCand: Long,
      broadcastIdLimit: Long): DataFrame = {
    val candDocs = cand.select(col("a").as("id"))
      .union(cand.select(col("b").as("id"))).distinct()
    val cd = if (2 * nCand <= broadcastIdLimit) broadcast(candDocs) else candDocs
    sh.join(cd, "id")
  }

  /** Under the verify broadcast gate, LAND the already-counted candidate
    * edge set on the driver once and hand back LocalRelation views of
    * (a, b) and the distinct endpoint ids. Driver-thread sampling of the
    * warm minhash pass showed 23% of wall blocked in
    * `BroadcastExchangeExec.doExecuteBroadcast`: every broadcast of a
    * distributed frame runs its own collect JOB on the broadcast thread
    * (plus the candDocs union+distinct exchange) before the relation can
    * build. The gate already guarantees these exact rows land on the
    * driver inside those broadcast builds — collecting them once from
    * the persisted frame (one cache-read job) and broadcasting
    * LocalRelations instead is the same driver footprint, with no
    * exchange feeding the broadcast; each LocalRelation broadcast still
    * runs one collect job when its plan executes (LandedBroadcastSpec).
    * Above the gate: None, and the distributed
    * frames flow exactly as before (the 100 TB path — candidate volume
    * there must never collect).
    */
  private[graft] def landedCandidates(cand: DataFrame, nCand: Long,
      broadcastIdLimit: Long): Option[(DataFrame, DataFrame)] = {
    if (2 * nCand > broadcastIdLimit) return None
    import scala.jdk.CollectionConverters._
    val spark = cand.sparkSession
    val rows = cand.collect()
    val edgesLocal = spark.createDataFrame(java.util.Arrays.asList(rows: _*), cand.schema)
    val ids = rows.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).toSeq.distinct
    val idSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", cand.schema.fields(0).dataType,
        cand.schema.fields(0).nullable)))
    val idsLocal = spark.createDataFrame(
      ids.map(org.apache.spark.sql.Row(_)).asJava, idSchema)
    Some((edgesLocal, idsLocal))
  }

  /** candidateShingles over pre-landed endpoint ids (gate already
    * passed): the broadcast build serializes driver rows, no job.
    */
  private def candidateShinglesLanded(sh: DataFrame, idsLocal: DataFrame): DataFrame =
    sh.join(broadcast(idsLocal), "id")

  /** The one verify-input chooser all three shingle ops share: the
    * edge frame to verify and the candidate-restricted shingle frame,
    * landed under the gate / distributed above it. Callers apply their
    * own distinct()/persist() to the shingle side.
    */
  private def verifyInputs(sh: DataFrame, cand: DataFrame, nCand: Long,
      broadcastIdLimit: Long): (DataFrame, DataFrame) =
    landedCandidates(cand, nCand, broadcastIdLimit) match {
      case Some((edgesLocal, ids)) => (edgesLocal, candidateShinglesLanded(sh, ids))
      case None => (cand, candidateShingles(sh, cand, nCand, broadcastIdLimit))
    }

  /** Exact-Jaccard verification shared by every shingle dedup op: for
    * each candidate edge (a, b), count common shingles over the
    * candidate-restricted set `shc`, compute |A ∩ B| / |A ∪ B| and keep
    * edges at or above `threshold`. Output (a, b, jaccard); every join
    * is keyed on slim longs and bounded by candidate count. The three
    * DuckDB twins (sz/cm/final-select CTEs) mirror this one block.
    */
  private def jaccardVerified(edges: DataFrame, shc: DataFrame,
      threshold: Double, nEdges: Long, broadcastIdLimit: Long): DataFrame = {
    // count-gated broadcasts (the candidateShingles pattern): the edge
    // set (nEdges rows, known driver-side) and the per-doc size frame
    // (<= 2 x nEdges rows) are dup-density-bounded, so when they fit,
    // three of the four verify joins run map-side with ZERO exchange —
    // and this must be explicit, not left to AQE: the scoped() persist
    // compiles the verify plan statically, where AQE never converts a
    // join (the CLAUDE.md persist trap, measured 4x on the minhash
    // verify). Above the gate every join degrades to the old slim
    // long-keyed shuffle with identical output.
    val eB = if (nEdges <= broadcastIdLimit) broadcast(edges) else edges
    val sz = shc.groupBy("id").agg(count(lit(1)).as("n"))
    val szB = if (2 * nEdges <= broadcastIdLimit) broadcast(sz) else sz
    eB
      .join(shc.select(col("id").as("a"), col("h")), "a")
      .join(shc.select(col("id").as("b"), col("h")), Seq("b", "h"))
      .groupBy("a", "b").agg(count(lit(1)).as("cm"))
      .join(szB.select(col("id").as("a"), col("n").as("na")), "a")
      .join(szB.select(col("id").as("b"), col("n").as("nb")), "b")
      .withColumn("jaccard",
        col("cm").cast("double") / (col("na") + col("nb") - col("cm")))
      .filter(col("jaccard") >= threshold)
  }

  /** MinHash + LSH near-duplicate pairs (SURVEY-adjacent scale path):
    * shingle -> 60-bit hash -> numPerm permuted mins -> band signatures
    * -> bucket self-join for candidates -> exact Jaccard verification.
    * Shuffles scale with (docs x numPerm), never with doc-pairs; the
    * band join is the only quadratic-risk step and is bounded by bucket
    * collisions (band width tunes precision/recall).
    */
  /** Banded minhash signatures (id, band, s) over the hashed shingle
    * set. All numPerm minima compute as ONE map-side partial aggregation
    * (no perm-explode: rows stay at |shingles|, not |shingles| x
    * numPerm). Measured: this beats a row-local array_min(transform(..))
    * signature 4x — the array path allocates 32 intermediate arrays per
    * row while this stays in codegen'd scalar aggregates. Returns the
    * persisted wide signature too (the band self-join / rep election
    * would otherwise recompute the whole shingle+hash pipeline per
    * side); the caller releases it via `scoped`.
    */
  private def minhashBands(sh: DataFrame, numPerm: Int,
      rowsPerBand: Int): (DataFrame, DataFrame) = {
    require(rowsPerBand >= 1 && numPerm >= rowsPerBand,
      s"need at least one full band: numPerm=$numPerm rowsPerBand=$rowsPerBand")
    // only full bands are ever read (bandStrings below, and the oracle
    // twin caps the same way): remainder perms beyond the last full
    // band would burn a codegen'd min aggregate per shingle row for
    // values nothing consumes
    val usedPerms = (numPerm / rowsPerBand) * rowsPerBand
    val minCols = (0 until usedPerms).map(i => min(minhashPerm(col("h"), lit(i))).as(s"m$i"))
    val sig0 = sh.groupBy("id").agg(minCols.head, minCols.tail: _*).persist()
    val bandStrings = (0 until numPerm / rowsPerBand).map { band =>
      concat_ws("-",
        (band * rowsPerBand until (band + 1) * rowsPerBand).map(i => col(s"m$i").cast("string")): _*)
    }
    val sig = sig0.select(col("id"), posexplode(array(bandStrings: _*)))
      .toDF("id", "band", "s")
    (sig0, sig)
  }

  def minhashPairs(df: DataFrame, idCol: String, textCol: String,
      numPerm: Int = 32, rowsPerBand: Int = 4, threshold: Double = 0.5,
      broadcastIdLimit: Long = 2L * 1000 * 1000): DataFrame = withEagerOpConfs(df) {
    val sh = hashedShingles(df, idCol, textCol).persist()
    val (sig0, sig) = minhashBands(sh, numPerm, rowsPerBand)
    val a = sig.select(col("id").as("a"), col("band"), col("s"))
    val b = sig.select(col("id").as("b"), col("band"), col("s"))
    val cand = a.join(b, Seq("band", "s")).filter(col("a") < col("b"))
      .select("a", "b").distinct().persist()
    val nCand = cand.count()
    // verify stage over CANDIDATE shingles only (see candidateShingles):
    // the (id, h) dedup the oracle's DISTINCT implies runs HERE, on the
    // candidate-restricted sliver, instead of as a corpus-wide exchange
    // in hashedShingles (sizes na/nb and common counts still equal the
    // full-corpus distinct values — a candidate doc's shingle rows are
    // all retained). jaccardVerified broadcasts the edge and size
    // frames when nCand fits the same count gate (never unconditionally:
    // the pair set grows with near-dup density at corpus scale); under
    // the gate the edge set is landed once (landedCandidates) so those
    // broadcasts build from driver rows (one collect job each, no
    // exchange).
    val (edgesF, shcRaw) = verifyInputs(sh, cand, nCand, broadcastIdLimit)
    val shc = shcRaw.distinct().persist()
    scoped(sh, sig0, cand, shc)(sortedPairs(
      jaccardVerified(edgesF, shc, threshold, nCand, broadcastIdLimit)
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard")),
      small = nCand <= broadcastIdLimit))
  }

  /** Oracle twin of minhashPairs. The perm range is capped at FULL
    * bands ((numPerm / rowsPerBand) * rowsPerBand): the Spark side
    * builds floor(numPerm/rowsPerBand) bands and ignores remainder
    * perms, so an uncapped `perm // rowsPerBand` here would form an
    * extra PARTIAL band from them and generate candidates Spark never
    * sees whenever numPerm % rowsPerBand != 0.
    */
  def minhashPairsSqlDuck(idCol: String, textCol: String,
      numPerm: Int = 32, rowsPerBand: Int = 4, threshold: Double = 0.5): String =
    s"""WITH ${hashedShinglesDuck(idCol, textCol)},
       |mh AS (SELECT id, i AS perm, min(${minhashPermDuck("h", "i")}) AS mh
       |       FROM sh, range(0, ${(numPerm / rowsPerBand) * rowsPerBand}) r(i) GROUP BY 1, 2),
       |sig AS (SELECT id, perm // $rowsPerBand AS band,
       |               string_agg(mh::VARCHAR, '-' ORDER BY perm) AS s
       |        FROM mh GROUP BY 1, 2),
       |cand AS (SELECT DISTINCT a.id AS a, b.id AS b FROM sig a
       |         JOIN sig b ON a.band = b.band AND a.s = b.s AND a.id < b.id),
       |sz AS (SELECT id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
       |cm AS (SELECT c.a, c.b, count(*)::BIGINT AS cm FROM cand c
       |       JOIN sh sa ON sa.id = c.a JOIN sh sb ON sb.id = c.b AND sb.h = sa.h
       |       GROUP BY 1, 2)
       |SELECT cm.a, cm.b,
       |       round(cm::DOUBLE / (za.n + zb.n - cm), 4) AS jaccard
       |FROM cm JOIN sz za ON za.id = cm.a JOIN sz zb ON zb.id = cm.b
       |WHERE cm::DOUBLE / (za.n + zb.n - cm) >= $threshold
       |ORDER BY a, b""".stripMargin

  /** Output-bounded MinHash dedup — the text twin of
    * `Similarity.lshCosineDedup`. `minhashPairs` enumerates near-dup
    * PAIRS, which is inherently quadratic in group size (a G-member
    * boilerplate cluster IS ~G²/2 pairs — the output is the quadratic
    * term, no blocking fixes that). A curation pipeline needs one
    * canonical representative per group instead: every (band, s) bucket
    * elects rep = min(id); each member exact-Jaccard-verifies against
    * its <= numBands bucket reps (O(N x numBands) verify work, zero
    * quadratic term anywhere) and takes the smallest verified rep, or
    * itself. Output is exactly one (id, rep) row per input doc;
    * `rep = id` is the keep filter. rep <= id always (the rep is a
    * bucket minimum), so the pointer graph is a forest — rep chains
    * (a rep itself a dup of a smaller rep) resolve via `resolveReps`.
    */
  def minhashDedup(df: DataFrame, idCol: String, textCol: String,
      numPerm: Int = 32, rowsPerBand: Int = 4, threshold: Double = 0.5,
      broadcastIdLimit: Long = 2L * 1000 * 1000): DataFrame = withEagerOpConfs(df) {
    val sh = hashedShingles(df, idCol, textCol).persist()
    val (sig0, sig) = minhashBands(sh, numPerm, rowsPerBand)
    val reps = sig.groupBy("band", "s").agg(min(col("id")).as("rep"))
    // slim (a=id, b=rep) edges dedup BEFORE any shingle join-back,
    // mirroring the pairs op's candidate dedup; a/b naming lets the
    // edge set ride the same candidateShingles/verify machinery
    val edges = sig.join(reps, Seq("band", "s"))
      .filter(col("id") =!= col("rep"))
      .select(col("id").as("a"), col("rep").as("b")).distinct().persist()
    val nCand = edges.count()
    // distinct on the candidate-restricted sliver (see minhashPairs);
    // gate passed -> edges landed once, broadcasts built from driver rows
    val (edgesF, shcRaw) = verifyInputs(sh, edges, nCand, broadcastIdLimit)
    val shc = shcRaw.distinct().persist()
    val verified = jaccardVerified(edgesF, shc, threshold, nCand, broadcastIdLimit)
      .groupBy("a").agg(min(col("b")).as("rep"))
    // output is UNORDERED (one row per input doc): a global sort here
    // would be a wasted corpus-wide range exchange for the composing
    // callers (resolveReps re-shuffles by rep immediately); terminal /
    // oracle-facing consumers order explicitly.
    scoped(sh, sig0, edges, shc)(
      df.select(col(idCol).as("id"))
        .join(verified, col("id") === col("a"), "left_outer")
        .select(col("id"), coalesce(col("rep"), col("id")).as("rep")))
  }

  /** Oracle twin of minhashDedup (same full-band perm cap as
    * minhashPairsSqlDuck).
    */
  def minhashDedupSqlDuck(idCol: String, textCol: String,
      numPerm: Int = 32, rowsPerBand: Int = 4, threshold: Double = 0.5): String =
    s"""WITH ${hashedShinglesDuck(idCol, textCol)},
       |mh AS (SELECT id, i AS perm, min(${minhashPermDuck("h", "i")}) AS mh
       |       FROM sh, range(0, ${(numPerm / rowsPerBand) * rowsPerBand}) r(i) GROUP BY 1, 2),
       |sig AS (SELECT id, perm // $rowsPerBand AS band,
       |               string_agg(mh::VARCHAR, '-' ORDER BY perm) AS s
       |        FROM mh GROUP BY 1, 2),
       |reps AS (SELECT band, s, min(id) AS rep FROM sig GROUP BY 1, 2),
       |edges AS (SELECT DISTINCT g.id AS a, r.rep AS b
       |          FROM sig g JOIN reps r ON g.band = r.band AND g.s = r.s
       |          WHERE g.id <> r.rep),
       |sz AS (SELECT id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
       |cm AS (SELECT e.a, e.b, count(*)::BIGINT AS cm FROM edges e
       |       JOIN sh sa ON sa.id = e.a JOIN sh sb ON sb.id = e.b AND sb.h = sa.h
       |       GROUP BY 1, 2),
       |ver AS (SELECT cm.a, min(cm.b) AS rep
       |        FROM cm JOIN sz za ON za.id = cm.a JOIN sz zb ON zb.id = cm.b
       |        WHERE cm::DOUBLE / (za.n + zb.n - cm) >= $threshold GROUP BY 1)
       |SELECT d.$idCol AS id, coalesce(ver.rep, d.$idCol) AS rep
       |FROM documents d LEFT JOIN ver ON d.$idCol = ver.a ORDER BY id""".stripMargin

  /** Transitive closure of a representative assignment (id, rep) by
    * distributed POINTER JUMPING. The one-pass dedup ops
    * (`minhashDedup`, `Similarity.lshCosineDedup`) can leave chains: a
    * rep that is itself assigned a smaller rep. Each round replaces
    * every pointer with its target's pointer (rep <- rep(rep)),
    * doubling resolved-prefix length, so depth-D chains close in
    * ceil(log2 D) + 1 rounds; each round is ONE equi-join shuffle of
    * slim (long, long) rows plus a fixpoint-count job — the round count
    * depends on chain DEPTH only, never on corpus size (near-dup chains
    * are shallow by construction: rep is a bucket minimum, so depth is
    * bounded by the dup-group diameter across buckets). Requires
    * rep <= id (true for min-elected reps): the pointer graph is then a
    * forest and convergence is guaranteed. A rep value with no (id, …)
    * row in the input (a pre-filtered assignment, e.g. a dups-only
    * `rep < id` view) is treated as a ROOT: the pointer keeps its value
    * instead of the row silently vanishing from the output. Throws
    * IllegalStateException if pointers are still moving after
    * `maxRounds` — a silently unconverged assignment would keep
    * non-canonical reps while looking identical to a converged one.
    * The driver-side loop is O(log D) distributed jobs, not a per-row
    * collect; only the newest round's frame stays persisted (the
    * previous one is released as soon as its successor materializes),
    * and the returned frame IS the one persisted (id, rep) result —
    * the caller releases the whole residue with `unpersist()`, the
    * same contract as the `scoped` dedup ops. Output is UNORDERED
    * (terminal consumers order
    * explicitly; a global sort here would be a wasted range exchange
    * for pipeline callers).
    */
  def resolveReps(assign: DataFrame, maxRounds: Int = 30): DataFrame = {
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // curStore is the ONE persisted frame alive at any moment; cur is a
    // cheap projection over it (reads the cache). The fixpoint count
    // materializes each round's frame BEFORE its predecessor is
    // released, so no recomputation cascades through unpersisted plans.
    var curStore = assign.select(col("id"), col("rep")).persist(lvl)
    var cur = curStore
    // any throw below (a lost executor mid-count, the maxRounds error)
    // must release whatever is pinned at that moment — the same
    // session-lifetime residue scoped() guards against for the sibling
    // ops; jumpedLive tracks the round frame between persist and its
    // adoption as curStore
    var jumpedLive: DataFrame = null
    try {
      var rounds = 0
      var moved = 1L
      while (moved > 0 && rounds < maxRounds) {
        // left_outer: a rep with no row of its own is a root — keep the
        // pointer as-is (inner would DROP the row from the closure)
        val jumped = cur
          .join(cur.select(col("id").as("rid"), col("rep").as("rrep")),
            col("rep") === col("rid"), "left_outer")
          .select(col("id"), coalesce(col("rrep"), col("rep")).as("rep"),
            (col("rrep").isNotNull && col("rep") =!= col("rrep")).as("moved"))
          .persist(lvl)
        jumpedLive = jumped
        moved = jumped.filter(col("moved")).count()
        if (moved == 0) {
          jumped.unpersist(blocking = false)
          jumpedLive = null
        } else {
          curStore.unpersist(blocking = false)
          curStore = jumped
          jumpedLive = null
          cur = jumped.select("id", "rep")
          rounds += 1
        }
      }
      if (moved > 0)
        throw new IllegalStateException(
          s"resolveReps: pointers still moving after $maxRounds rounds — " +
            "the assignment violates rep <= id (cycle) or chains are deeper than 2^maxRounds")
      if (cur eq curStore) cur
      else {
        // after >=1 round `cur` is a projection over the persisted 3-col
        // (id, rep, moved) frame: returning it would make the caller's
        // unpersist() a silent no-op (different plan) and leak the N-row
        // cache per call. Re-persist the slim 2-col result (one cache-read
        // pass), release the wide frame, and hand back a releasable handle.
        val out = cur.persist(lvl)
        try out.count()
        catch { case t: Throwable => out.unpersist(blocking = false); throw t }
        curStore.unpersist(blocking = false)
        curStore = out // success: out is the one live frame the caller owns
        out
      }
    } catch {
      case t: Throwable =>
        if (jumpedLive != null && !(jumpedLive eq curStore))
          jumpedLive.unpersist(blocking = false)
        curStore.unpersist(blocking = false)
        throw t
    }
  }

  /** n-gram Jaccard with rare-shingle blocking: candidates share at
    * least one shingle with global df <= maxShingleDf (bounds the
    * self-join fan-out under hot shingles — the skew lever).
    */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      maxShingleDf: Int = 20, threshold: Double = 0.4,
      broadcastIdLimit: Long = 2L * 1000 * 1000): DataFrame = withEagerOpConfs(df) {
    // distinct HERE (unlike the minhash ops): the rare-shingle df
    // counts below are per-(id, h)-distinct counts in the oracle
    val sh = hashedShingles(df, idCol, textCol).distinct().persist()
    val rare = sh.groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleDf).select("h")
    val rsh = sh.join(rare, "h")
    val cand = rsh.select(col("id").as("a"), col("h"))
      .join(rsh.select(col("id").as("b"), col("h")), "h")
      .filter(col("a") < col("b"))
      .select("a", "b").distinct().persist()
    val nCand = cand.count()
    // candidate-bounded verify, same shape as minhashPairs (see
    // candidateShingles for the no-AQE-reliance rationale); sh is
    // already distinct, so no re-dedup of shc; gated edge landing as in
    // minhashPairs
    val (edgesF, shcRaw) = verifyInputs(sh, cand, nCand, broadcastIdLimit)
    val shc = shcRaw.persist()
    scoped(sh, cand, shc)(sortedPairs(
      jaccardVerified(edgesF, shc, threshold, nCand, broadcastIdLimit)
        .select(col("a"), col("b"), round(col("jaccard"), 4).as("jaccard")),
      small = nCand <= broadcastIdLimit))
  }

  def ngramJaccardPairsSqlDuck(idCol: String, textCol: String,
      maxShingleDf: Int = 20, threshold: Double = 0.4): String =
    s"""WITH ${hashedShinglesDuck(idCol, textCol)},
       |rare AS (SELECT h FROM sh GROUP BY h HAVING count(*) <= $maxShingleDf),
       |rsh AS (SELECT sh.id, sh.h FROM sh JOIN rare USING (h)),
       |cand AS (SELECT DISTINCT a.id AS a, b.id AS b FROM rsh a
       |         JOIN rsh b ON a.h = b.h AND a.id < b.id),
       |sz AS (SELECT id, count(*)::BIGINT AS n FROM sh GROUP BY 1),
       |cm AS (SELECT c.a, c.b, count(*)::BIGINT AS cm FROM cand c
       |       JOIN sh sa ON sa.id = c.a JOIN sh sb ON sb.id = c.b AND sb.h = sa.h
       |       GROUP BY 1, 2)
       |SELECT cm.a, cm.b,
       |       round(cm::DOUBLE / (za.n + zb.n - cm), 4) AS jaccard
       |FROM cm JOIN sz za ON za.id = cm.a JOIN sz zb ON zb.id = cm.b
       |WHERE cm::DOUBLE / (za.n + zb.n - cm) >= $threshold
       |ORDER BY a, b""".stripMargin

  /** 60-bit SimHash per doc: tf-weighted sum of hash bit contributions.
    * Pure integer arithmetic (no float tie ambiguity); 60 codegen'd sum
    * aggregates in one pass.
    *
    * Measured and deliberately KEPT this round (r6): folding the tf
    * weighting into per-occurrence +-1 sums (one aggregation, no
    * (id, term) exchange) is exactly equal in integer arithmetic and
    * shuffles ~occurrences/numDocs x fewer rows — but same-session A/B
    * at sf0.1 lost 1.7x (0.24 s -> 0.43 s): the variant needs a spread
    * repartition to parallelize the per-occurrence md5 and trades the
    * AQE-coalesced tiny exchanges (this frame is NOT persisted, so AQE
    * does coalesce) for an extra exchange + stage. The two-phase shape
    * also partial-aggregates (id, term) map-side, so the first exchange
    * is already bounded by distinct pairs, not occurrences, at scale.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // NO spread here, unlike the shingle ops: measured same-session
    // palindromic A/B (sf0.1, OPTIMIZATION_r06.md §16) lost 0.34 ->
    // 0.59 s with a spread repartition — the serial tokenize+partial-
    // count slice is far lighter than the minhash shingle+md5 chain,
    // and the extra full-text exchange + stage costs more than it
    // parallelizes.
    val tf = df.select(col(idCol).as("id"), explode(tokens(col(textCol))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .withColumn("h", hash60(col("term")))
    val bitSums = (0 until 60).map(j =>
      sum(expr(s"((shiftright(h, $j) & 1) * 2 - 1) * tf")).as(s"b$j"))
    val agg = tf.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
    val hashExpr = (0 until 60).map(j =>
      s"(CASE WHEN b$j > 0 THEN shiftleft(cast(1 AS BIGINT), $j) ELSE 0 END)").mkString(" + ")
    agg.select(col("id"), expr(hashExpr).as("simhash")).orderBy("id")
  }

  def simhashSqlDuck(idCol: String, textCol: String): String = {
    val bitSums = (0 until 60).map(j =>
      s"sum(((((h >> $j) & 1) * 2) - 1) * tf) AS b$j").mkString(", ")
    val hashExpr = (0 until 60).map(j =>
      s"(CASE WHEN b$j > 0 THEN (1::BIGINT << $j) ELSE 0 END)").mkString(" + ")
    s"""WITH t AS (SELECT $idCol AS id, ${tokensDuck(textCol)} AS toks FROM documents),
       |tf AS (SELECT id, term, count(*)::BIGINT AS tf FROM
       |         (SELECT id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
       |hh AS (SELECT id, tf, ${hash60Duck("term")} AS h FROM tf),
       |agg AS (SELECT id, $bitSums FROM hh GROUP BY id)
       |SELECT id, ($hashExpr)::BIGINT AS simhash FROM agg ORDER BY id""".stripMargin
  }

  /** SimHash near-dup pairs: 4 x 15-bit band blocking (by pigeonhole,
    * any pair within hamming distance 3 agrees exactly on >= 1 band),
    * verified with bit_count(xor) <= maxHamming.
    *
    * Bucket-size BOUND, mirroring every sibling dedup operator
    * (ngramJaccard maxShingleDf, cosineDup maxBlock, lshCosine
    * maxBucket): heavy boilerplate puts thousands of docs on identical
    * band values, and an unbounded (band, key) self-join fans out
    * quadratically. Buckets above `maxBucket` are deterministically
    * hash-split into ceil(size/maxBucket) sub-buckets; per-task pairs
    * are then <= maxBucket^2 regardless of corpus size.
    *
    * The split makes the pigeonhole guarantee PROBABILISTIC for pairs
    * whose every matching band sits in an oversized bucket: such a pair
    * is kept with P = 1 - prod_b(1 - 1/nSub_b) over its matching bands,
    * which is why the split hash is salted per band (saltedHash60 —
    * independent splits per band; an unsalted split is all-or-nothing
    * across bands and loses (1 - 1/nSub) of true duplicates in the
    * heavy-boilerplate case the bound exists for). Pass
    * maxBucket = Int.MaxValue to restore the exact-recall behavior at
    * the cost of quadratic fan-out on degenerate buckets. The DuckDB
    * twin mirrors the split exactly.
    */
  def simhashPairs(sim: DataFrame, maxHamming: Int = 3, maxBucket: Int = 256): DataFrame = {
    // pigeonhole bound of the fixed 4 x 15-bit banding: a pair within
    // hamming d shares a clean band only when d <= 3 (4 bands, one
    // differing bit each leaves none clean at d = 4). A larger
    // maxHamming would silently UNDER-report pairs even in exact-recall
    // mode (maxBucket = MaxValue) — the parameter must not promise a
    // radius the blocking cannot deliver.
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simhashPairs recall is guaranteed only for maxHamming in [0, 3] " +
        s"(4-band x 15-bit pigeonhole), got $maxHamming")
    val banded0 = sim.withColumn("band", explode(sequence(lit(0), lit(3))))
      .withColumn("key", expr("shiftright(simhash, band * 15) & 32767"))
    // bucket sizes via map-side partial count + broadcast join back —
    // the size frame is <= 4 x 2^15 rows (statically bounded), so the
    // broadcast decision needs no runtime count gate, and no corpus-
    // sized window shuffle happens
    val bsizes = banded0.groupBy("band", "key").agg(count(lit(1)).as("bsize"))
    val banded = banded0.join(broadcast(bsizes), Seq("band", "key"))
      .withColumn("sub",
        subSplit(saltedHash60(col("id"), col("band")), "bsize", maxBucket))
    val a = banded.select(col("id").as("a"), col("simhash").as("ha"),
      col("band"), col("key"), col("sub"))
    val b = banded.select(col("id").as("b"), col("simhash").as("hb"),
      col("band"), col("key"), col("sub"))
    a.join(b, Seq("band", "key", "sub")).filter(col("a") < col("b"))
      .select(col("a"), col("b"), expr("cast(bit_count(ha ^ hb) as bigint)").as("hamming"))
      // hamming is functionally determined by (a, b), so filtering
      // BEFORE the dedup is equivalent — and the dominant case (band
      // agreement admits pairs up to hamming 45) is discarded map-side
      // instead of riding the distinct's exchange
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("a", "b")
  }

  def simhashPairsSqlDuck(idCol: String, textCol: String, maxHamming: Int = 3,
      maxBucket: Int = 256): String = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simhashPairs recall is guaranteed only for maxHamming in [0, 3], got $maxHamming")
    val bitSums = (0 until 60).map(j =>
      s"sum(((((h >> $j) & 1) * 2) - 1) * tf) AS b$j").mkString(", ")
    val hashExpr = (0 until 60).map(j =>
      s"(CASE WHEN b$j > 0 THEN (1::BIGINT << $j) ELSE 0 END)").mkString(" + ")
    s"""WITH t AS (SELECT $idCol AS id, ${tokensDuck(textCol)} AS toks FROM documents),
       |tf AS (SELECT id, term, count(*)::BIGINT AS tf FROM
       |         (SELECT id, unnest(toks) AS term FROM t) GROUP BY 1, 2),
       |hh AS (SELECT id, tf, ${hash60Duck("term")} AS h FROM tf),
       |agg AS (SELECT id, $bitSums FROM hh GROUP BY id),
       |simq AS (SELECT id, ($hashExpr)::BIGINT AS simhash FROM agg),
       |banded0 AS (SELECT id, simhash, i AS band, (simhash >> (i * 15)) & 32767 AS key
       |            FROM simq, range(0, 4) r(i)),
       |banded AS (SELECT id, simhash, band, key,
       |             ${subSplitDuck(saltedHash60Duck("id", "band"),
                       s"count(*) OVER (PARTITION BY band, key)", maxBucket)} AS sub
       |           FROM banded0),
       |pairs AS (SELECT DISTINCT a.id AS a, b.id AS b, a.simhash AS ha, b.simhash AS hb
       |          FROM banded a JOIN banded b ON a.band = b.band AND a.key = b.key
       |               AND a.sub = b.sub AND a.id < b.id)
       |SELECT a, b, bit_count(xor(ha, hb))::BIGINT AS hamming FROM pairs
       |WHERE bit_count(xor(ha, hb)) <= $maxHamming ORDER BY a, b""".stripMargin
  }
}
