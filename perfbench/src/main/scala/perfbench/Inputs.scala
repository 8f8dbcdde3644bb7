package perfbench

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}

import graft.corpus.CodeCorpus
import graft.corpus.CodeCorpus.SourceFile

/** Seeded input generation. Everything the engine reads is written to
  * parquet before any timed operation, so generation never hides inside
  * a build or query number.
  */
object Inputs {
  /** First CodeCorpus id of a seed's slice: each seed reads a disjoint id
    * range, so its files (paths, content, planted needles) differ.
    */
  def idBase(seed: Long): Long = (java.lang.Math.floorMod(seed, 1000000L) + 1L) * 10000000L

  def parts(spark: SparkSession): Int = spark.sparkContext.defaultParallelism * 2

  /** Memory held by cached Spark data, in MB. */
  def cachedMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1e6

  /** Lowercase-letter encoding of n: needle terms must stay one token. */
  def letters(n: Long): String = {
    val sb = new StringBuilder
    var x = n
    do { sb.append(('a' + (x % 26)).toChar); x /= 26 } while (x > 0)
    sb.toString
  }

  // ---- ingest -------------------------------------------------------

  /** One append batch: `half` upserts of base files (same key, new
    * content) and `half` new files. The epoch's needle term is planted in
    * the first upsert and the first new file; every 50th new file carries
    * the delete marker.
    */
  final case class Epoch(e: Int, upsertIds: Seq[Long], newIds: Seq[Long], needle: String)

  val DeleteMarker = "zqdoomed"

  def needle(seed: Long, e: Int): String = "zqneedle" + letters(java.lang.Math.floorMod(seed, 1000000L)) + "x" + letters(e)

  def epochs(seed: Long, baseDocs: Long, half: Int, count: Int): Seq[Epoch] = {
    val base = idBase(seed)
    // a stride coprime to baseDocs visits every base file once before repeating
    var stride = 7919L
    while (java.math.BigInteger.valueOf(stride).gcd(java.math.BigInteger.valueOf(baseDocs)).intValue != 1)
      stride += 2
    (0 until count).map { e =>
      val up = (0 until half).map(j => base + ((e.toLong * half + j) * stride) % baseDocs)
      val fresh = (0 until half).map(j => base + baseDocs + e.toLong * half + j)
      Epoch(e, up, fresh, needle(seed, e))
    }
  }

  def epochFrame(spark: SparkSession, ep: Epoch): DataFrame =
    spark.createDataset(epochRows(ep))(Encoders.product[SourceFile]).toDF()

  def epochRows(ep: Epoch): Seq[SourceFile] = {
    val up = ep.upsertIds.zipWithIndex.map { case (id, j) =>
      val d = CodeCorpus.genDoc(id)
      d.copy(content = d.content + s" revised epoch${ep.e} " + (if (j == 0) ep.needle else ""))
    }
    val fresh = ep.newIds.zipWithIndex.map { case (id, j) =>
      val d = CodeCorpus.genDoc(id)
      d.copy(content = d.content + (if (j == 0) s" ${ep.needle}" else "") +
        (if (j % 50 == 1) s" $DeleteMarker" else ""))
    }
    up ++ fresh
  }

  /** Stored bytes of a file's columns, the unit of "input bytes". */
  def rowBytes(f: SourceFile): Long =
    Seq(f.repo, f.path, f.commit, f.lang, f.content).map(_.getBytes("UTF-8").length.toLong).sum

  def deletesPerEpoch(half: Int): Int = (0 until half).count(_ % 50 == 1)
}
