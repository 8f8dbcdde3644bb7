package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorOps
import graft.ops.Similarity

/** Bit-exactness of the native vector expressions vs the original
  * higher-order-function formulations they replaced: the ops oracles
  * (q18-q20, q30) compare round(,4) doubles against DuckDB's strict
  * left-to-right folds, so the native fused loops must reproduce the
  * HOF accumulation EXACTLY — java.lang.Double.compare equality, not
  * epsilon equality — including the null/mismatch edge semantics.
  */
class VectorOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecDf(rows: Seq[(Long, Seq[java.lang.Double], Seq[java.lang.Double])]) = {
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("a", ArrayType(DoubleType, containsNull = true)),
      StructField("b", ArrayType(DoubleType, containsNull = true))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map { case (i, a, b) =>
        Row(i, if (a == null) null else a, if (b == null) null else b)
      }, 2), schema)
  }

  private def randVec(rnd: scala.util.Random, n: Int): Seq[java.lang.Double] =
    Seq.fill(n)(java.lang.Double.valueOf(rnd.nextGaussian()))

  test("cosine_sim is bit-identical to the HOF cosine on random vectors") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 200L).map { i =>
      val n = 1 + rnd.nextInt(80)
      (i, randVec(rnd, n), randVec(rnd, n))
    }
    val df = vecDf(rows)
      .withColumn("native", Similarity.cosine(col("a"), col("b")))
      .withColumn("hof", Similarity.hofCosine(col("a"), col("b")))
    val out = df.select("id", "native", "hof").collect()
    assert(out.length == 200)
    out.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(1), r.getDouble(2)) == 0,
        s"id=${r.getLong(0)}: native=${r.getDouble(1)} hof=${r.getDouble(2)}")
    }
  }

  test("cosine_sim edge semantics match the HOF null propagation") {
    // HOF parity on the null-producing shapes (the degenerate-norm
    // rows are asserted separately: ANSI mode makes the HOF div THROW
    // on a zero divisor, so it cannot serve as the reference there)
    val rows = Seq[(Long, Seq[java.lang.Double], Seq[java.lang.Double])](
      (0L, Seq(1.0d, 2.0d), Seq(3.0d)), // length mismatch -> null
      (1L, Seq(1.0d, null), Seq(3.0d, 4.0d)), // null element -> null
      (3L, null, Seq(1.0d, 2.0d))) // null array -> null
    val df = vecDf(rows)
      .withColumn("native", Similarity.cosine(col("a"), col("b")))
      .withColumn("hof", Similarity.hofCosine(col("a"), col("b")))
    df.collect().foreach { r =>
      assert(r.isNullAt(3) && r.isNullAt(4), s"id=${r.getLong(0)} expected null/null")
    }
  }

  test("cosine_sim degenerate norms give IEEE NaN, not an ANSI error") {
    // the HOF 0.0/0.0 raises DIVIDE_BY_ZERO under Spark 4 ANSI mode;
    // the native expression computes plain double arithmetic -> NaN,
    // matching DuckDB's IEEE list_dot_product semantics
    val rows = Seq[(Long, Seq[java.lang.Double], Seq[java.lang.Double])](
      (2L, Seq[java.lang.Double](), Seq[java.lang.Double]()), // empty -> 0/0
      (4L, Seq(0.0d, 0.0d), Seq(1.0d, 2.0d))) // zero vector
    val out = vecDf(rows)
      .withColumn("native", Similarity.cosine(col("a"), col("b")))
      .collect()
    out.foreach { r =>
      assert(!r.isNullAt(3) && r.getDouble(3).isNaN, s"id=${r.getLong(0)} expected NaN")
    }
  }

  test("hyperplane_sig is bit-identical to the HOF signature (incl. empty vector)") {
    val rnd = new scala.util.Random(13)
    val rows = (0L until 200L).map { i =>
      val v = if (i == 17L) Seq.empty[java.lang.Double] else randVec(rnd, 1 + rnd.nextInt(80))
      (i, v, v)
    }
    val df = vecDf(rows)
      .withColumn("native", Similarity.lshSignature(col("a"), 16))
      .withColumn("hof", Similarity.hofLshSignature(col("a"), 16))
    val out = df.select("id", "native", "hof").collect()
    out.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"id=${r.getLong(0)}: native=${r.getLong(1)} hof=${r.getLong(2)}")
    }
    // the empty-vector row pins to 0 on both paths
    assert(out.find(_.getLong(0) == 17L).get.getLong(1) == 0L)
  }

  test("hyperplane_sig on a NULL vector is 0L on both paths (not NULL)") {
    // a NULL embedding row must land in band key 0 like the HOF twin
    // and the DuckDB oracle's CASE chain — default unary null
    // propagation gave NULL band keys on the Spark side only
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("a",
        org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.DoubleType))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(1L, Seq(0.5d, -0.25d)),
        org.apache.spark.sql.Row(2L, null))),
      schema)
    val out = df
      .withColumn("native", Similarity.lshSignature(col("a"), 16))
      .withColumn("hof", Similarity.hofLshSignature(col("a"), 16))
      .orderBy("id").collect()
    assert(!out(1).isNullAt(2) && out(1).getLong(2) === 0L, "native must be 0L, not NULL")
    assert(out(1).getLong(2) === out(1).getLong(3))
    assert(out(0).getLong(2) === out(0).getLong(3))
  }

  test("hyperplane_sig rejects nBits outside [1, 63] at analysis time") {
    val rnd = new scala.util.Random(5)
    val df = vecDf(Seq((0L, randVec(rnd, 8), randVec(rnd, 8))))
    // > 63 would silently wrap 1L << p onto bit 0; < 1 would crash
    // per-row mid-job — both must fail before execution
    intercept[org.apache.spark.sql.AnalysisException](
      df.withColumn("s", Similarity.lshSignature(col("a"), 64)).collect())
    intercept[org.apache.spark.sql.AnalysisException](
      df.withColumn("s", Similarity.lshSignature(col("a"), 0)).collect())
    // 63 is the last legal width
    df.withColumn("s", Similarity.lshSignature(col("a"), 63)).collect()
  }

  test("ivfCandidateCounts reports zero-candidate queries instead of dropping them") {
    // a single-vector corpus: the only query's probed cluster holds
    // only itself, so it has ZERO candidates — a bare groupBy would
    // emit no row for it, biasing the avg/max candidate-growth
    // evidence upward exactly when sparse clusters appear
    val rnd = new scala.util.Random(11)
    val df = vecDf(Seq((0L, randVec(rnd, 8), randVec(rnd, 8))))
      .select(col("id").as("vec_id"), col("a").as("embedding"))
    val rows = Similarity.ivfCandidateCounts(df, "vec_id", "embedding", nQueries = 1).collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("qid") == 0L)
    assert(rows.head.getAs[Long]("candidates") == 0L)
  }

  test("persisted IVF index: identical results to the direct path, probe-pruned scan") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 400L).map(i => (i, randVec(rnd, 16), randVec(rnd, 16)))
    val df = vecDf(rows).select(col("id").as("vec_id"), col("a").as("embedding"))
    val dir = java.nio.file.Files.createTempDirectory("graftivf").toString
    val kCent = Similarity.buildIvfIndex(df, "vec_id", "embedding", dir)
    assert(kCent === 20) // ceil(sqrt(400))
    val direct = Similarity.ivfTopK(df, "vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val stored = Similarity.ivfTopKIndexed(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(stored.toSeq === direct.toSeq,
      "persisted-index results must equal the per-call recompute path")
    // scale contract: the probe filter reaches the assignment-store
    // parquet scan (pushed-down literal In on cluster), so repeated
    // queries read probed row groups, not the corpus
    val qs = spark.read.parquet(s"$dir/assignments.parquet")
      .filter(col("vid") < 5).select(col("vid").as("qid"), col("v").as("qv"))
    val plan = Similarity.ivfTopKFromIndex(spark, dir, qs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(cluster"),
      s"cluster probe filter must push down to the parquet scan:\n$plan")
    // arbitrary external queries work too (a held-out vector)
    val ext = vecDf(Seq((999L, randVec(rnd, 16), randVec(rnd, 16))))
      .select(col("id").as("qid"), org.apache.spark.sql.functions.transform(
        col("a"), x => x.cast("double")).as("qv"))
    val extOut = Similarity.ivfTopKFromIndex(spark, dir, ext, nProbe = 3, k = 5).collect()
    assert(extOut.length === 5)
    assert(extOut.map(_.getLong(0)).forall(_ === 999L))
  }

  test("interpreted eval matches codegen (nullSafeEval path)") {
    // driving the expression through a literal-free filter on a tiny
    // frame with codegen disabled exercises nullSafeEval
    val rnd = new scala.util.Random(99)
    val rows = (0L until 20L).map(i => (i, randVec(rnd, 32), randVec(rnd, 32)))
    val df = vecDf(rows)
    val withCols = df
      .withColumn("c", Similarity.cosine(col("a"), col("b")))
      .withColumn("s", Similarity.lshSignature(col("a"), 16))
    val codegenOn = withCols.collect().map(r => r.getLong(0) -> ((r.getDouble(3), r.getLong(4)))).toMap
    EagerPlanConfs.withConfs(spark, Seq("spark.sql.codegen.wholeStage" -> "false",
        "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")) {
      val interp = withCols.collect().map(r => r.getLong(0) -> ((r.getDouble(3), r.getLong(4)))).toMap
      assert(codegenOn == interp)
    }
  }
}
