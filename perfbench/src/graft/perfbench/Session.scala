package graft.perfbench

import graft.SessionTuning
import org.apache.spark.sql.SparkSession

/** The benchmark's Spark session: built through [[graft.SessionTuning]]
  * with the same settings `graft.Bench` and `graft.Verify` use, so a
  * configuration change in the program is what gets measured. Only the
  * directories it writes (inside the work directory) and the progress history
  * length are the benchmark's own. */
object Session {
  val RocksDb = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  def build(cores: Int, work: java.nio.file.Path, extra: Seq[(String, String)] = Nil): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = SessionTuning(b).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
