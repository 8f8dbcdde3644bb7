package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Second scale point for the training-data ops (VERDICT r02 task 9):
  * the driver bench times minhash/LSH only at sf0.1 (50k docs), which
  * gives one point and no slope. This main generates a deterministic
  * documents+embeddings corpus at an arbitrary size — with PLANTED
  * near-duplicates so the candidate/verify stages carry real load, not
  * an empty join — and times the two 100 TB dedup paths:
  *
  *   - `Dedup.minhashPairs` (text MinHash -> banded LSH -> exact
  *     Jaccard verify)
  *   - `Similarity.lshCosineDupPairs` (random-hyperplane signatures ->
  *     banded bucket join -> exact cosine verify)
  *
  * Run it at two sizes (e.g. 200k and 1M) and the throughput ratio is
  * the scaling slope: near-linear docs/sec across a 5x size step is
  * the evidence that the shuffle volume scales with docs (x numPerm /
  * x nBands), not with doc-pairs.
  *
  * Usage: runMain graft.OpsBench [nDocs] — prints one JSON line.
  */
object OpsBench {

  /** documents-shaped frame with a REALISTIC vocabulary: tokens drawn
    * Zipf-style from a 50k-word synthetic vocabulary (real corpora have
    * ~1M distinct tokens; a small vocab makes random docs share shingles
    * and inflates LSH band collisions quadratically — measured: reusing
    * the 120-word CodeCorpus vocab here made 50k docs produce millions
    * of FALSE minhash candidates and a ~quadratic bench). ~10% of docs
    * are near-duplicate mutations of an earlier doc: every 13th token
    * replaced, which lands shingle-Jaccard ~0.6, above the 0.5 verify
    * threshold. Deterministic per id at any parallelism.
    */
  private final val VocabSize = 50000

  def genDocText(id: Long): String = {
    val rnd = new scala.util.Random(id * 2654435761L + 42L)
    val n = 60 + rnd.nextInt(200)
    val sb = new StringBuilder(n * 9)
    var i = 0
    while (i < n) {
      val idx = math.min((math.pow(VocabSize + 1.0, rnd.nextDouble()) - 1.0).toInt, VocabSize - 1)
      sb.append("tok").append(idx).append(' ')
      i += 1
    }
    sb.toString
  }

  def genDocs(spark: SparkSession, n: Long, partitions: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).mapPartitions { it =>
      it.map { boxed =>
        val id: Long = boxed
        val isDup = id % 10 == 9 && id >= 10
        val baseId: Long = if (isDup) id - 9 else id
        val base = genDocText(baseId)
        val text =
          if (!isDup) base
          else {
            val toks = base.split(' ')
            var i = 12
            while (i < toks.length) { toks(i) = "mut" + (id % 97); i += 13 }
            toks.mkString(" ")
          }
        (id, text)
      }
    }.toDF("doc_id", "text")
  }

  /** embeddings-shaped frame: 64-dim unit-ish vectors around one of
    * `nClusters` deterministic centers with per-id noise; ids sharing a
    * center are near-dup pairs for the LSH path. Same mixing constants
    * as the corpus generator family — identical at any parallelism.
    */
  def genEmbeddings(spark: SparkSession, n: Long, partitions: Int,
      dim: Int = 64, nClusters: Int = 1024): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, partitions).mapPartitions { it =>
      it.map { boxed =>
        val id: Long = boxed
        val cluster = (id * 0x9e3779b97f4a7c15L >>> 40) % nClusters
        val rc = new scala.util.Random(cluster * 2654435761L + 7L)
        val center = Array.fill(dim)(rc.nextGaussian())
        val rn = new scala.util.Random(id * 0xc2b2ae3d27d4eb4fL + 11L)
        val v = center.map(c => (c + 0.35 * rn.nextGaussian()).toFloat)
        (id, v)
      }
    }.toDF("vec_id", "embedding")
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 1000000L
    val cpus = BenchSession.cpus
    val parts = cpus * 4
    val spark = BenchSession(cpus, parts)
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    // regime markers BRACKET the run like graft.Bench's: a mid-run host
    // shift shows up as start/end drift instead of hiding behind one
    // healthy end-of-run sample
    results("calib_sec_start") = Bench.calibrate()
    results("mem_calib_sec_start") = Bench.calibrateMem()

    // materialize inputs first so op timings exclude generation
    val docs = genDocs(spark, nDocs, parts).persist()
    results("n_docs") = docs.count().toDouble
    val emb = genEmbeddings(spark, nDocs, parts).persist()
    emb.count()

    // per-leg traffic deltas (BuildTraffic): shuffle bytes are plan
    // properties — the regime-independent record of what each op
    // exchanges, and the byte-level form of the pairs-vs-dedup claim
    val traffic = new BuildTraffic
    spark.sparkContext.addSparkListener(traffic)
    var trafficMark = traffic.settle()
    def legTraffic(leg: String): Unit = {
      val cur = traffic.settle()
      results(s"${leg}_shuffle_write_mb") = (cur - trafficMark).shuffleWriteBytes / 1e6
      results(s"${leg}_spill_mb") = (cur - trafficMark).spilledBytes / 1e6
      trafficMark = cur
    }

    System.err.println(s"[opsbench] inputs materialized, starting minhash over $nDocs docs")
    // the scoped dedup ops RETURN a persisted result frame; release it
    // (blocking) before the next timed leg so no leg runs with another
    // leg's cache residue perturbing the cross-leg-comparable numbers
    val ((mhFrame, nMinhash), tMinhash) = Bench.time {
      val r = graft.ops.Dedup.minhashPairs(docs, "doc_id", "text")
      (r, r.count())
    }
    mhFrame.unpersist(blocking = true)
    results("minhash_pairs") = nMinhash.toDouble
    results("minhash_sec") = tMinhash
    results("minhash_docs_per_sec") = nDocs.toDouble / tMinhash
    legTraffic("minhash")

    // text twin of the lsh_dedup leg below: O(N) rep assignments
    // instead of pair enumeration — compare against minhash_sec
    System.err.println(
      s"[opsbench] minhash done in $tMinhash s ($nMinhash pairs), starting minhashDedup")
    val ((tdFrame, nTxtDedup), tTxtDedup) = Bench.time {
      val r = graft.ops.Dedup.minhashDedup(docs, "doc_id", "text")
      (r, r.where("rep < id").count())
    }
    tdFrame.unpersist(blocking = true)
    results("minhash_dedup_dups") = nTxtDedup.toDouble
    results("minhash_dedup_sec") = tTxtDedup
    results("minhash_dedup_docs_per_sec") = nDocs.toDouble / tTxtDedup
    legTraffic("minhash_dedup")

    System.err.println(
      s"[opsbench] minhashDedup done in $tTxtDedup s ($nTxtDedup dups), starting LSH")
    val (nLsh, tLsh) = Bench.time(
      graft.ops.Similarity.lshCosineDupPairs(emb, "vec_id", "embedding").count())
    results("lsh_cosine_pairs") = nLsh.toDouble
    results("lsh_cosine_sec") = tLsh
    results("lsh_docs_per_sec") = nDocs.toDouble / tLsh
    legTraffic("lsh")

    // the output-bounded dedup path: O(N) assignments instead of the
    // (quadratic-in-group-size) pair enumeration above — the number to
    // compare against lsh_cosine_sec at every scale leg
    System.err.println(
      s"[opsbench] LSH done in $tLsh s ($nLsh pairs), starting lshCosineDedup")
    val (nDedup, tDedup) = Bench.time(
      graft.ops.Similarity.lshCosineDedup(emb, "vec_id", "embedding")
        .where("rep < id").count())
    results("lsh_dedup_dups") = nDedup.toDouble
    results("lsh_dedup_sec") = tDedup
    results("lsh_dedup_docs_per_sec") = nDocs.toDouble / tDedup
    legTraffic("lsh_dedup")

    // IVF observability: with auto-K (= sqrt(N)) the per-query candidate
    // set must grow ~sqrt(N) across size legs, not linearly (r03 weak #1)
    System.err.println(
      s"[opsbench] dedup done in $tDedup s ($nDedup dups), probing IVF candidates")
    val (ivfRows, tIvf) = Bench.time(
      graft.ops.Similarity.ivfCandidateCounts(emb, "vec_id", "embedding").collect())
    if (ivfRows.nonEmpty) {
      results("ivf_num_centroids") = ivfRows(0).getLong(2).toDouble
      results("ivf_avg_candidates") =
        ivfRows.map(_.getLong(1)).sum.toDouble / ivfRows.length
      results("ivf_max_candidates") = ivfRows.map(_.getLong(1)).max.toDouble
    }
    results("ivf_probe_sec") = tIvf
    legTraffic("ivf")

    // persisted-IVF A/B (r04 verdict task #4): the direct path pays
    // centroid recompute + N x K assignment on EVERY call; against the
    // built artifact a repeated query is a probe-sized pushed-down read
    val ivfDir = Bench.benchLocalDir() + "/ivf-idx"
    val (_, tIvfBuild) = Bench.time(
      graft.ops.Similarity.buildIvfIndex(emb, "vec_id", "embedding", ivfDir))
    val (_, tIvfDirect) = Bench.time(
      graft.ops.Similarity.ivfTopK(emb, "vec_id", "embedding").collect())
    graft.ops.Similarity.ivfTopKIndexed(spark, ivfDir).collect() // warm-up
    val (_, tIvfStore) = Bench.time(
      graft.ops.Similarity.ivfTopKIndexed(spark, ivfDir).collect())
    results("ivf_build_sec") = tIvfBuild
    results("ivf_query_direct_sec") = tIvfDirect
    results("ivf_query_store_sec") = tIvfStore
    legTraffic("ivf_store")

    // IVF recall-vs-brute across the nProbe dial (r04 verdict task #7):
    // the evidence behind the nProbe=2 default. Brute = exact top-k
    // cosine; recall@k = per-query overlap fraction, averaged.
    val recallQ = 50
    val recallK = 10
    val brute = graft.ops.Similarity.bruteTopK(emb, "vec_id", "embedding",
      nQueries = recallQ, k = recallK).collect()
      .groupBy(_.getLong(0)).map { case (qq, rs) => qq -> rs.map(_.getLong(2)).toSet }
    for (nProbe <- Seq(1, 2, 4)) {
      val (ivf, tR) = Bench.time(graft.ops.Similarity.ivfTopKIndexed(spark, ivfDir,
        nProbe = nProbe, nQueries = recallQ, k = recallK).collect())
      val byQ = ivf.groupBy(_.getLong(0))
        .map { case (qq, rs) => qq -> rs.map(_.getLong(2)).toSet }
      val recalls = brute.map { case (qq, bs) =>
        byQ.getOrElse(qq, Set.empty[Long]).intersect(bs).size.toDouble / bs.size }
      results(s"ivf_recall_at${recallK}_probe$nProbe") = recalls.sum / recalls.size
      results(s"ivf_recall_probe${nProbe}_sec") = tR
    }

    // chunking + sequence packing over the same corpus: chunk is
    // shuffle-free until the presentation sort; packBins exchanges one
    // slim (id, n, range) row per doc
    val (nChunks, tChunk) = Bench.time(
      graft.ops.TextStats.chunk(docs, "doc_id", "text").count())
    results("chunk_rows") = nChunks.toDouble
    results("chunk_sec") = tChunk
    results("chunk_docs_per_sec") = nDocs.toDouble / tChunk
    legTraffic("chunk")
    val (nBins, tPack) = Bench.time(
      graft.ops.TextStats.packBins(docs, "doc_id", "text")
        .select("range_id", "bin").distinct().count())
    results("pack_bins") = nBins.toDouble
    results("pack_sec") = tPack
    results("pack_docs_per_sec") = nDocs.toDouble / tPack
    legTraffic("pack")

    // closing markers (cross-leg comparisons need BOTH matched at BOTH
    // ends — CLAUDE.md: cpu steal AND memory-fabric state)
    results("calib_sec") = Bench.calibrate()
    results("mem_calib_sec") = Bench.calibrateMem()

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    println(s"""{"metric":"ops_bench","nDocs":$nDocs,"cpus":$cpus,"queries":$qs}""")
    spark.stop()
  }
}
