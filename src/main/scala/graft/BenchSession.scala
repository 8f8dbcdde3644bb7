package graft

import org.apache.spark.sql.SparkSession

/** The one session setup the bench and diagnostic mains share:
  * `local[cores]`, shuffle scratch through `Bench.benchLocalDir()`
  * (LOCAL_DIR override -> /dev/shm tmpfs -> tmpdir, stale leaked dirs
  * purged first), the caller's shuffle-partition count, UTC session time
  * zone, UI off, WARN logging. `Bench` and `Verify`, the gate harnesses,
  * keep their own builders inline.
  */
object BenchSession {

  /** Cores from SPARK_GRAFT_CPUS (default 32). */
  def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  def apply(cores: Int, shufflePartitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.local.dir", Bench.benchLocalDir())
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
