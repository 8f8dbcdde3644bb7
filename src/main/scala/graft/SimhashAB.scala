package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Same-session palindromic A/B for a simhash input `spread` (one
  * JVM, interleaved A,B,...,B,A — the only comparison this host's
  * regime swings permit, CLAUDE.md). Variant A = the simhash pipeline
  * (Dedup.simhash) over a spread-repartitioned source (the rejected
  * shape); variant B = Dedup.simhash as shipped (no spread — the A/B's
  * result is why). Diagnostic only; never driver-sourced.
  */
object SimhashAB {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", Bench.benchLocalDir())
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    println(s"calib=${Bench.calibrate()} memCalib=${Bench.calibrateMem()}")

    val docs = spark.read.parquet(s"$sfDir/documents.parquet")

    def withSpread(): Long = {
      // the rejected variant: round-robin the one-split source across
      // defaultParallelism, then the SAME pipeline as B, so the arms
      // differ only by the spread
      val spreadDocs = docs.select(col("doc_id"), col("text"))
        .repartition(spark.sparkContext.defaultParallelism)
      graft.ops.Dedup.simhash(spreadDocs, "doc_id", "text").count()
    }
    def noSpread(): Long = graft.ops.Dedup.simhash(docs, "doc_id", "text").count()

    // warm-up both shapes (codegen + JIT)
    withSpread(); noSpread()
    val ta = new scala.collection.mutable.ArrayBuffer[Double]()
    val tb = new scala.collection.mutable.ArrayBuffer[Double]()
    val seq = Seq(("A", true), ("B", false), ("B", false), ("A", true),
      ("A", true), ("B", false), ("B", false), ("A", true))
    seq.foreach { case (tag, isA) =>
      val (_, t) = Bench.time(if (isA) withSpread() else noSpread())
      println(f"$tag $t%7.3f s")
      if (isA) ta += t else tb += t
    }
    println(f"A(with spread) avg=${ta.sum / ta.size}%7.3f min=${ta.min}%7.3f")
    println(f"B(no spread)   avg=${tb.sum / tb.size}%7.3f min=${tb.min}%7.3f")
    println(s"calibEnd=${Bench.calibrate()} memCalibEnd=${Bench.calibrateMem()}")
    spark.stop()
  }
}
