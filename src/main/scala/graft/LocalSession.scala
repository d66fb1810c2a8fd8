package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession builder of the harness mains (Bench,
  * Verify, Smoke, ScaleBench, the tools) and the test suite:
  * `local[cores]`, `shufflePartitions` (default: `cores`) shuffle
  * partitions, UTC session time (the events NTZ → instant
  * normalization is timezone-sensitive, so every surface must plan the
  * verified values), no UI, graft's SQL extensions unless
  * `extensions = false`, and `conf` on top.
  */
object LocalSession {
  def apply(cores: Int, logLevel: String = "WARN", shufflePartitions: Int = 0,
      extensions: Boolean = true, conf: Map[String, String] = Map.empty): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions",
        if (shufflePartitions > 0) shufflePartitions else cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    val withExt =
      if (extensions) base.config("spark.sql.extensions", "graft.sql.GraftExtensions") else base
    val spark = conf.foldLeft(withExt) { case (b, (k, v)) => b.config(k, v) }.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
