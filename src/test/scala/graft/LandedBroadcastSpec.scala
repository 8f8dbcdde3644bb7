package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.Dedup

/** What a broadcast of driver-landed rows costs when a plan executes
  * it: `Dedup.landedCandidates` collects the candidate edges once and
  * hands back LocalRelation views, but broadcasting a LocalRelation
  * still runs a Spark job (the broadcast exchange's relation future
  * collects its child, one task per local partition). The same shape
  * sits in `IndexStore.writeUpserts`' join path and the heavy-churn
  * docs anti-join of a store load.
  */
class LandedBroadcastSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("a broadcast of a landed candidate frame runs one collect job of its own") {
    val cand = spark.range(0, 20, 1, 4).select(col("id").as("a"), (col("id") + 1).as("b"))
    val (_, ids) = Dedup.landedCandidates(cand, 20L, 1000L).getOrElse(fail("under the gate"))
    val sh = spark.range(0, 100, 1, 4).toDF("id")
    // the same rows with no broadcast: the baseline job count of the scan
    val (plain, base) = SparkEvents.of(spark)(sh.filter(col("id") <= 20).collect())
    val (joined, c) = SparkEvents.of(spark)(sh.join(broadcast(ids), "id").collect())
    assert(joined.map(_.getLong(0)).sorted.toSeq === plain.map(_.getLong(0)).sorted.toSeq)
    assert(c.jobs - base.jobs === 1, s"$c vs $base")
  }
}
