package graft

import org.apache.spark.sql.SparkSession

/** The engine's session profile: the one place a `SparkSession` is built.
  * Every main and the test trait start from [[builder]] and add only the
  * settings that are theirs (an app name, AQE off for static plans, a
  * shuffle width for scale runs), so the engine runs under one
  * configuration wherever it runs. */
object EngineSession {

  /** Local worker threads: `SPARK_GRAFT_CPUS` when set, else every core the
    * JVM sees. */
  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** Entries in Spark's compiled-class cache (`CodeGenerator`). A static
    * conf: the cache is sized once per JVM, when the first plan compiles.
    * Measured compiles per repeated pass (4 cores):
    *  - the 232-query `SparkEntry` board compiles 2946 classes in its first
    *    pass at sf0.001. A second pass recompiles 4684 at Spark's default of
    *    100 entries and 54 with an unbounded cache. Bench's timed pass at
    *    sf0.1 adds 178 classes of its own, and repeating it at 5000 entries
    *    recompiles 12.
    *  - a corpus-dedup pass (exact, MinHash-LSH, SemDeDup and BM25 over 5000
    *    documents) recompiles 159 classes at 100 entries and 0 at 5000; at
    *    130, 160, 200 and 250 entries it recompiled 129, 115, 0 and 0.
    * 5000 holds the largest plan set (~3100 classes) with room to spare. */
  private val CodegenCacheEntries = 5000

  /** A builder carrying every setting the engine needs: `local[cores]` with
    * as many shuffle partitions, UTC session time, nanosecond parquet
    * timestamps read as epoch-nano longs (`events.parquet` fails to load
    * otherwise), 8 MB file splits (the testdata's ~20 MB single-file tables
    * would scan on one task each at the 128 MB default), the codegen cache
    * above, and no UI. AQE is on by Spark's own default. */
  def builder(cores: Int = EngineSession.cores): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.ui.enabled", "false")
}
