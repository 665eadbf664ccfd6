package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional extra args = query-name filter (local iteration; driver passes 2)
    val only = args.drop(2).toSet
    val spark = EngineSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.isEmpty || only.contains(k) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Provenance stamp: when a board row goes red without a reproducible
    // cause (the r10 g19 incident), this pins exactly WHICH code, engine,
    // and inputs produced the dump — bisectable in minutes, not adjudicated
    // on circumstantial evidence. Best-effort: never fails the dump.
    val gitSha = try {
      val pr = new ProcessBuilder("git", "rev-parse", "HEAD")
        .directory(new java.io.File(".")).start()
      val sha = new String(pr.getInputStream.readAllBytes()).trim
      if (pr.waitFor() == 0) sha else "unknown"
    } catch { case _: Throwable => "unknown" }
    val sfMtime = try Files.getLastModifiedTime(Paths.get(sfDir)).toMillis
      catch { case _: Throwable => -1L }
    Files.writeString(Paths.get(s"$outDir/provenance.json"),
      s"""{"git_sha": ${q(gitSha)}, "spark_version": ${q(spark.version)},
         | "scala_version": ${q(scala.util.Properties.versionNumberString)},
         | "sf_dir": ${q(sfDir)}, "sf_dir_mtime_ms": $sfMtime,
         | "dumped_at_ms": ${System.currentTimeMillis()},
         | "java_version": ${q(System.getProperty("java.version"))}}""".stripMargin.replace("\n", ""))
    spark.stop()
  }
}
