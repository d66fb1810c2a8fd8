package graft.tools

/** Dump `.explain("formatted")` for named driver entries to files —
  * the optimization round's before/after plan artifacts under
  * plans/<tag>/. Not part of the library surface.
  *
  * Usage: runMain graft.tools.PlanDump <outDir> <suffix> <sfDir> <entry ...>
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = args(2)
    val entries = args.drop(3).toSeq
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = graft.LocalSession(cpus.toInt, logLevel = "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    // PLANDUMP_EXEC=1 additionally executes the query and appends the
    // POST-execution plan (AQE's final plan — runtime exchange reuse,
    // coalesced reads, join-strategy rewrites only show up there)
    val exec = sys.env.get("PLANDUMP_EXEC").contains("1")
    for (name <- entries) {
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val full = if (!exec) txt else {
        df.collect()
        txt + "\n\n== Final Plan (post-execution, AQE) ==\n" +
          df.queryExecution.executedPlan.toString
      }
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
        full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] $name -> $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
