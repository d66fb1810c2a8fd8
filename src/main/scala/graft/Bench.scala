package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = LocalSession(cpus.toInt)
    // warm the JVM/codegen paths once so the first measured query
    // doesn't absorb all of the JIT + parquet-footer caching cost;
    // lake_create additionally warms the writer + manifest codec path,
    // mm_decode the javax.imageio plugin registry + PNG reader classes
    // (first-decode classloading otherwise swings that entry 2-3×)
    for (w <- Seq("q1_agg", "lake_create", "mm_decode")) {
      try SparkEntry.queries(w)(spark, sfDir).count()
      catch { case _: Throwable => () }
    }
    // best-of-2: machine noise (CI co-tenancy) swings single runs 2-3×;
    // the minimum is the honest steady-state number for each query.
    // `*_check` entries are correctness probes that re-run an operator
    // AND its exact twin to assert invariants — they belong to the
    // Verify gate, not a throughput benchmark (timing them would
    // double-count the operators they wrap).
    // A query that throws must surface in the artifact and never lower
    // the total: failures are listed in "failed" and excluded from
    // "queries"/"value" (a fail-fast exception would otherwise record a
    // flattering near-zero duration for work not done).
    // "failed" = every run threw (excluded from "queries"/"value");
    // a query that failed one run but succeeded another keeps its
    // successful timing and is NOT listed as failed (stderr still
    // records each thrown run) — a name never appears in both places
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(_._1.endsWith("_check")).flatMap { case (name, fn) =>
      val times = (1 to 2).flatMap { _ =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
          None
        }
      }
      if (times.isEmpty) { failed += name; None } else Some(name -> times.min)
    }.toMap
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"failed":$failedJson,"sf":"$sfDir"}"""
    println(line)
    // the driver's log capture keeps only a ~4 KB stdout tail, which the
    // ~8 KB per-query line above has overflowed every round since r02
    // (PERF_*.per_query empty, BENCH_*.parsed null — r13 verdict item 1).
    // Persist the full line as a file artifact, and END stdout with a
    // SHORT summary line that always survives the tail: total/failed/sf
    // plus the artifact path. The full contract line is still printed
    // (above) and still carries every per-query timing.
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get("target"))
      java.nio.file.Files.write(java.nio.file.Paths.get("target/bench-latest.json"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(_) => () } // best-effort artifact
    val artifact = new java.io.File("target/bench-latest.json").getAbsolutePath
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"failed":$failedJson,"sf":"$sfDir","queries_file":"$artifact"}""")
    spark.stop()
  }
}
