package graft

import java.nio.file.{Files, Paths}

/** Plan-audit main: dumps the optimized physical plan of every SparkEntry query
  * to `<outDir>/<name>.plan.txt` for pushdown/broadcast/codegen review.
  *
  *   sbt "runMain graft.Explain /root/testdata/sf0.01 /tmp/plans"
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // args 3+ = query-name filter for single-query iteration (r18), the
    // Bench/ScaleSlope convention; plan dumps are per-query files either way
    val wanted = args.drop(2).toSet
    val spark = EngineSession.builder()
      // AQE off: static plans then show WholeStageCodegen spans + final join picks
      .config("spark.sql.adaptive.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => wanted.isEmpty || wanted.contains(n) }
      .foreach { case (name, fn) =>
      try {
        val plan = fn(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$name.plan.txt"), plan)
        val flags = Seq(
          "BroadcastHashJoin" -> plan.contains("BroadcastHashJoin"),
          "SortMergeJoin" -> plan.contains("SortMergeJoin"),
          "WholeStageCodegen" -> plan.contains("codegen id"),
          "PushedFilters" -> plan.split("\n").exists(l =>
            l.contains("PushedFilters: [") && !l.contains("PushedFilters: []")))
          .collect { case (k, true) => k }.mkString(", ")
        println(s"[explain] $name: $flags")
      } catch {
        case e: Throwable => System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
