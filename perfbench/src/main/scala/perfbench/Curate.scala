package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, xxhash64}

import graft.OpsBench
import graft.ops.{Dedup, Similarity}

/** The curation leg of the `ingest` workload: MinHash pair detection,
  * SimHash and brute-force nearest neighbours over the documents and
  * embeddings of `OpsBench.genDocs`/`genEmbeddings` (Zipf text over a
  * 50k-word vocabulary with planted near-duplicates; clustered 64-d
  * vectors), whose row order the seed permutes. No index is involved; the
  * outputs must not depend on the seed or the pass, and must equal the
  * operators' DuckDB twins (run.py compares).
  */
object Curate {
  final case class Sizes(docs: Long, vecs: Long)
  def sizes(ctx: Ctx): Sizes = if (ctx.smoke) Sizes(1000, 1000) else Sizes(10000, 10000)

  /** An operator over (documents, embeddings) and its DuckDB twin, which
    * reads relations named `documents` and `embeddings`; run.py executes
    * the twin against the same parquet.
    */
  final case class Op(name: String, run: (DataFrame, DataFrame) => DataFrame, duckSql: String)

  val Ops: Seq[Op] = Seq(
    Op("minhash", (d, _) => Dedup.minhashPairs(d, "doc_id", "text"), Dedup.minhashPairsSqlDuck("doc_id", "text")),
    Op("simhash", (d, _) => Dedup.simhash(d, "doc_id", "text"), Dedup.simhashSqlDuck("doc_id", "text")),
    Op("ann", (_, e) => Similarity.bruteTopK(e, "vec_id", "embedding"),
      Similarity.bruteTopKSqlDuck("vec_id", "embedding")))

  final class Leg(ctx: Ctx) {
    private val spark = ctx.spark
    private val t = ctx.tracer
    private val sz = sizes(ctx)
    private val docsDir = ctx.dir("documents")
    private val vecsDir = ctx.dir("embeddings")

    /** Same rows for every seed; the seed only orders them in the file. */
    def generate(): Unit = {
      val parts = Inputs.parts(spark)
      def permuted(df: DataFrame, id: String) =
        df.repartition(1).sortWithinPartitions(xxhash64(col(id), lit(ctx.opts.seed)))
      permuted(OpsBench.genDocs(spark, sz.docs, parts), "doc_id").write.parquet(docsDir)
      permuted(OpsBench.genEmbeddings(spark, sz.vecs, parts), "vec_id").write.parquet(vecsDir)
    }

    /** One pass over fresh input frames; each operator's rows and wall (ms). */
    private def pass(p: Int): Seq[(Seq[Row], Double)] = t.span("curate.pass", p) {
      val (d, e) = (spark.read.parquet(docsDir), spark.read.parquet(vecsDir))
      Ops.map(op => Stats.timed(t.span(s"ops.${op.name}") { op.run(d, e).collect().toSeq }))
    }

    /** A warm-up pass, then one measured pass that must reproduce it. */
    def run(): Unit = {
      val warm = t.span("curate.warmup")(pass(-1)).map(_._1)
      val measured = pass(0)
      ctx.attempted += 2 * Ops.size
      Ops.indices.foreach { k =>
        val name = Ops(k).name
        if (measured(k)._1 != warm(k)) ctx.fail(s"curate $name output changed between passes")
        ctx.layers(s"ops.${name}_s") = measured(k)._2 / 1e3
      }
      val json = Ops.indices.map { k =>
        val rows = warm(k).map(_.toSeq.map(Json.value).mkString("[", ",", "]")).mkString("[", ",", "]")
        s""""${Ops(k).name}":{"sql":${Json.string(Ops(k).duckSql)},"rows":$rows,"passes":2}"""
      }.mkString("{", ",", "}")
      Files.write(ctx.opts.work.resolve("curate_check.json"), json.getBytes(StandardCharsets.UTF_8))
      if (t.enabled) t.named("curate.pass").filter(_.req == 0).foreach { p =>
        t.children(p).foreach { s =>
          val c = t.total(s)
          ctx.layers(s"${s.name}_jobs") = c.jobs.toDouble
          ctx.layers(s"${s.name}_shuffle_mb") = (c.shuffleWriteB + c.shuffleReadB) / 1e6
        }
      }
    }
  }
}
