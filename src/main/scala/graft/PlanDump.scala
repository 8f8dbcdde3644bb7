package graft

import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import graft.corpus.CodeCorpus
import graft.index.{IndexBuilder, IndexConfig}
import graft.query._

/** Dumps `.explain("formatted")` (and, for eagerly-materializing
  * operators, every executed plan the action triggered, via a
  * QueryExecutionListener) for the queries touched this round, into
  * `<outDir>/<name>_<suffix>.txt`. Run once on the pre-change tree with
  * suffix "before" and once after with "after". plans/r06/ keeps the
  * round-6 "after" dumps; its NODES.md has both sides' node counts.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix>
  */
object PlanDump {

  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = BenchSession.cpus
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val spark = BenchSession(cpus, cpus)

    val captured = new scala.collection.mutable.ArrayBuffer[(String, String)]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        // formatted mode: InMemoryTableScan prints as one node instead
        // of re-inlining the whole cached subtree at every reference
        // (the raw toString made multi-join pipeline dumps ~10 MB)
        captured.synchronized {
          captured += funcName -> qe.explainString(
            org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)

    def write(name: String, content: String): Unit = {
      java.nio.file.Files.write(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"),
        content.getBytes("UTF-8"))
      println(s"wrote $outDir/${name}_$suffix.txt")
    }

    /** Capture every executed plan an eager operator's action ran. */
    def captureEager(name: String)(body: => Unit): Unit = {
      captured.synchronized(captured.clear())
      body
      Thread.sleep(500) // QueryExecutionListener delivery is async
      val plans = captured.synchronized(captured.toVector)
      write(name, plans.zipWithIndex.map { case ((fn, p), i) =>
        s"== action ${i + 1} ($fn) ==\n$p"
      }.mkString("\n\n"))
    }

    def formatted(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")

    // lazy ops: plain formatted explain
    write("q16_simhash", formatted(graft.ops.Dedup.simhash(docs, "doc_id", "text")))
    write("q17_simhash_pairs", formatted(
      graft.ops.Dedup.simhashPairs(graft.ops.Dedup.simhash(docs, "doc_id", "text"))))
    write("op_ann_brute", formatted(
      graft.ops.Similarity.bruteTopK(emb, "vec_id", "embedding")))

    // eager dedup pipelines: all executed plans of the run
    captureEager("q14_dedup_minhash") {
      graft.ops.Dedup.minhashPairs(docs, "doc_id", "text").count(); ()
    }
    captureEager("q49_minhash_dedup") {
      graft.ops.Dedup.minhashDedup(docs, "doc_id", "text").count(); ()
    }
    captureEager("q15_dedup_ngram") {
      graft.ops.Dedup.ngramJaccardPairs(docs, "doc_id", "text").count(); ()
    }

    // bench query paths over the bench-shaped index
    val sf = raw"sf(\d+(?:\.\d+)?)".r.findAllMatchIn(sfDir).toSeq.lastOption
      .map(_.group(1).toDouble).getOrElse(0.0)
    val nCorpus = math.max(5000L, (sf * 500000).toLong)
    val corpus = CodeCorpus.generate(spark, nCorpus, cpus * 2)
    val idx = IndexBuilder.build(corpus, IndexConfig(Seq("repo", "path", "commit"),
      Seq("content"), shardDocs = 8192, buildPartitions = cpus * 2))
    val engine = new QueryEngine(idx)
    captureEager("bench_build") {
      val idx2 = IndexBuilder.build(corpus, IndexConfig(Seq("repo", "path", "commit"),
        Seq("content"), shardDocs = 8192, buildPartitions = cpus * 2))
      idx2.unpersist(blocking = true)
    }
    // searches run one job over the shard tables, planned by no Catalyst
    // query; their EXPLAIN frame (the lazy top-k over the same shard
    // candidates) is what there is to dump
    write("bench_fts_hot", formatted(
      engine.searchF32Planned(Seq(Fts("content", "fn return license")), 10)))
    write("bench_conj_wand", formatted(
      engine.searchF32Planned(Seq(Fts("content", "binary search"), Fts("content", "license")), 10)))
    write("bench_fuzzy", formatted(
      engine.searchF32Planned(Seq(FuzzyC("content", "serach mrege")), 10)))

    spark.stop()
  }
}
