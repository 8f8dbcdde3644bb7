package graft

import org.apache.spark.sql.SparkSession

/** Scoped session confs for EAGER, persist-heavy spans (the dedup ops'
  * materializing counts, the index build's postings/cache jobs): AQE
  * off + plan-description strings capped, restored verbatim after.
  *
  * Rationale (measured r6, thread-dump evidence in
  * OPTIMIZATION_r06.md): inside a statically-compiled cached plan AQE
  * can neither coalesce partitions
  * (canChangeCachedPlanOutputPartitioning) nor convert join strategies
  * (the CLAUDE.md persist trap) — it only adds one scheduler
  * round-trip PLUS one plan-description event per query stage, and
  * those event strings re-inline every nested InMemoryRelation subtree
  * (~10 MB per event on the minhash pipeline; generateTreeString
  * dominated the inter-job driver gaps). The win is per-action driver
  * overhead, independent of data size — not a local-mode constant.
  *
  * Conf mutation is visible to concurrent queries on the same session
  * for the span's duration (restored after) — the same trade-off any
  * session-level tuning makes; the spans are build/ingest shaped, not
  * serving shaped.
  */
object EagerPlanConfs {
  def scoped[T](spark: SparkSession)(body: => T): T =
    withConfs(spark, Seq("spark.sql.adaptive.enabled" -> "false",
      "spark.sql.maxPlanStringLength" -> "8192"))(body)

  /** Set `pins` on the session for `body`'s duration; each key gets its
    * prior value back afterwards (or is unset if it had none).
    */
  def withConfs[T](spark: SparkSession, pins: Seq[(String, String)])(body: => T): T = {
    val saved = pins.map { case (k, v) =>
      val old = try spark.conf.getOption(k) catch { case _: Throwable => None }
      spark.conf.set(k, v)
      k -> old
    }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
