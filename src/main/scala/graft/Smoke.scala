package graft

/** Mirrors the driver's t1 smoke check: SparkEntry.entry must return
  * rows > 0 on sf0.001. Run: sbt "runMain graft.Smoke"
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession(4)
    val df = SparkEntry.entry(spark)
    val n = df.count()
    df.show(5, truncate = false)
    println(s"SMOKE entry rows=$n " + (if (n > 0) "PASS" else "FAIL"))
    spark.stop()
  }
}
