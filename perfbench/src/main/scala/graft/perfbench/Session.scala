package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's one Spark session: `local[cores]` with the settings
  * `graft.Main` applies, spill and warehouse kept under the work dir.
  * `graft.Main` joins it instead of building its own. The caller
  * registers the `zh_*` functions (see `Workloads.setup`). */
object Session {
  def cores: Int = Runtime.getRuntime.availableProcessors()

  def build(work: java.nio.file.Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
