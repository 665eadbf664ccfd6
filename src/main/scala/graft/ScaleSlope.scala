package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Scaling-slope harness (r16): measures t(10x)/t(1x) for the suite's
  * heaviest rows, turning the "would this hold at 100x" plan-shape argument
  * into a number. A ~10x ratio on 10x data is the linear signature; >>10x
  * names a hidden quadratic or a saturated structure (fi2's bucket table is
  * the known case — its A/B twin fi1 exists for exactly that adjudication).
  *
  * The Nx corpus is N key-shifted copies of the sf0.1 tables (copy k
  * shifts every scaling key by k*1e8, so referential integrity holds within
  * a copy and copies never collide), with two content transforms that keep
  * the INTERNAL structure of each copy while preventing artificial
  * cross-copy duplicates:
  *  - documents.text is salted BYTE-PRESERVINGLY (r18): every token of
  *    length >= 3 has its last two characters replaced by a per-copy
  *    2-char code from a 10x10 alphabet (up to 100 distinct copies), so
  *    each copy has its own disjoint >=3-token vocabulary/shingle space —
  *    dup clusters, co-occurrence graphs and token statistics replicate
  *    per-copy instead of collapsing into N-way near-dup clusters a real
  *    Nx crawl would not contain — while `sum(length(text))` of the big
  *    corpus is EXACTLY N times the base (asserted within 2% after the
  *    write). The r17 suffix salting (`q<k>` appended per token) inflated
  *    the "10x" corpus to 13.28x in text bytes, forcing a /1.328
  *    correction factor onto every text-heavy slope; with length
  *    preserved the ratios read directly. (Honest residual: tokens
  *    sharing their first n-2 chars and length collapse WITHIN a salted
  *    copy, mildly shrinking per-copy vocabulary vs the base — disclosed,
  *    byte-neutral, and identical across copies; tokens of length <= 2
  *    stay shared across copies, far below any shingle/Jaccard signal.)
  *  - embeddings rotate circularly by k mod dim positions (norms and
  *    pairwise structure within a copy preserved, cross-copy
  *    neighborhoods changed; above dim copies the rotations repeat —
  *    ids stay disjoint, which is what the timed plans key on).
  * Dimension tables (region, nation) stay fixed, as they would at any
  * scale. Both readings run STANDALONE (shared index builds included on
  * both sides), which is the honest numerator/denominator for a slope.
  *
  * Usage: runMain graft.ScaleSlope [baseDir] [bigDir] — synthesizes bigDir
  * once (skipped if present), warm-passes at sf0.001, then times each row
  * at 1x and 10x. Stderr: one [scale-slope] line per query + a summary. */
object ScaleSlope {

  private val OFF = 100000000L

  private val DEFAULT_QUERIES = Seq(
    "rag_pipeline", "x39_textrank", "pipe3_topic_dedup", "d18_prefix_jaccard",
    "fi1_frequent_pairs", "fi2_pcy_pairs", "p4_degree2", "bt1_bradley_terry",
    "g14_hits", "pr1_pagerank",
    // the r16 additions, measured on the same footing
    "cs11_kll_quantiles", "cs12_kll_grouped", "s12_removable_membership",
    "bf1_bloom_semijoin",
    // r17: every row that read >10x in the r16 FULL-suite 10x run — the
    // "linear band explained by in-suite box saturation" bracket rested on
    // one cross-check (pr1); these standalone readings close it per row
    "m10_calibration", "x32_signal_corr", "m6_pr_curve", "d7_line_dedup",
    "d16_dup_by_source", "pipe1_corpus", "b7_spell_correct", "nb1_nb_model",
    "x11_vocab", "g1_explode", "x15_weighted_sample", "pk1_sequence_pack",
    "mk1_mink_prob",
    // r17 additions, same footing as the r16 ones
    "cs13_kll_compact", "cs14_kll_compact_grouped", "pipe4_cdc_decontam",
    "mm4_audio_fingerprint")

  /** The per-copy token code: a 2-char suffix from a 10x10 alphabet, so up
    * to 100 copies get pairwise-distinct codes (and copy 0 is salted too —
    * "qq" — so no base token can coincidentally equal a salted one). */
  private val Alpha = "qrstuvwxyz"
  private def codeOf(k: Int): String = {
    require(k >= 0 && k < 100, s"copy index $k outside the 10x10 code space")
    s"${Alpha(k / 10)}${Alpha(k % 10)}"
  }

  def synthesize(spark: SparkSession, baseDir: String, outDir: String,
      nCopies: Int = 10): Unit = {
    require(nCopies >= 1 && nCopies <= 100,
      s"nCopies must be in 1..100 (2-char code space), got $nCopies")
    // key-shift precondition (r17 advice): copies collide SILENTLY if any
    // scaling key reaches the shift offset — skewing every published slope —
    // so refuse loudly instead. ONE aggregate per table (review finding:
    // the first cut scanned events twice and embeddings twice); a NULL max
    // is refused too — an all-NULL cast means the key column's dtype
    // drifted, and `shift` would then corrupt the corpus silently.
    val keyCols = Seq(
      "customer" -> Seq("c_custkey"), "supplier" -> Seq("s_suppkey"),
      "part" -> Seq("p_partkey"), "orders" -> Seq("o_orderkey"),
      "lineitem" -> Seq("l_orderkey"), "events" -> Seq("event_id", "user_id"),
      "documents" -> Seq("doc_id"), "embeddings" -> Seq("vec_id"))
    keyCols.foreach { case (tbl, ks) =>
      val row = spark.read.parquet(s"$baseDir/$tbl.parquet")
        .agg(max(col(ks.head).cast("long")),
          ks.tail.map(k => max(col(k).cast("long"))): _*).head()
      ks.zipWithIndex.foreach { case (k, i) =>
        require(!row.isNullAt(i),
          s"ScaleSlope: $tbl.$k max is NULL after cast to long — key dtype " +
            "drifted; shifting would corrupt the synthesized corpus")
        require(row.getLong(i) < OFF,
          s"ScaleSlope: $tbl.$k max ${row.getLong(i)} >= shift offset $OFF — " +
            "copies would collide; raise OFF")
      }
    }
    def copies(name: String)(f: (DataFrame, Int) => DataFrame): Unit = {
      val base = spark.read.parquet(s"$baseDir/$name.parquet")
      (0 until nCopies).map(k => f(base, k)).reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
      System.err.println(s"[scale-synth] $name x$nCopies written")
    }
    def shift(c: String, k: Int) = col(c) + lit(k * OFF)
    // dimensions: fixed at any scale
    Seq("region", "nation").foreach { n =>
      spark.read.parquet(s"$baseDir/$n.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$n.parquet")
    }
    copies("customer")((df, k) => df.withColumn("c_custkey", shift("c_custkey", k)))
    copies("supplier")((df, k) => df.withColumn("s_suppkey", shift("s_suppkey", k)))
    copies("part")((df, k) => df.withColumn("p_partkey", shift("p_partkey", k)))
    copies("orders")((df, k) => df
      .withColumn("o_orderkey", shift("o_orderkey", k))
      .withColumn("o_custkey", shift("o_custkey", k)))
    copies("lineitem")((df, k) => df
      .withColumn("l_orderkey", shift("l_orderkey", k))
      .withColumn("l_partkey", shift("l_partkey", k))
      .withColumn("l_suppkey", shift("l_suppkey", k)))
    copies("events")((df, k) => df
      .withColumn("event_id", shift("event_id", k))
      .withColumn("user_id", shift("user_id", k)))
    copies("documents")((df, k) => {
      // byte-preserving salting: greedy backtracking makes (\w+)\w\w match
      // each maximal word run of length >= 3 exactly once, so the
      // replacement swaps the LAST TWO chars for the copy's code — token
      // count, token lengths and total bytes are all preserved exactly
      val salted = df.withColumn("text",
        regexp_replace(col("text"), "(\\w+)\\w\\w", "$1" + codeOf(k)))
      salted.withColumn("doc_id", shift("doc_id", k))
        .withColumn("n_chars", length(coalesce(col("text"), lit(""))).cast("long"))
    })
    // the byte-preservation contract, asserted where it can't rot: a future
    // salting change that re-inflates the corpus fails the synth loudly
    // instead of silently skewing every published slope (the r17 lesson)
    assertBytePreserving(spark, baseDir, outDir, nCopies)
    // embedding dim DERIVED from the data (r17 advice): a hardcoded 64 would
    // silently mis-slice rotated vectors if the corpus dim ever changes
    val dim = spark.read.parquet(s"$baseDir/embeddings.parquet")
      .select(size(col("embedding"))).head().getInt(0)
    copies("embeddings")((df, k) => {
      val r = k % dim // rotations repeat past dim copies (ids stay disjoint)
      val rot = if (r == 0) col("embedding") else concat(
        slice(col("embedding"), r + 1, dim - r), slice(col("embedding"), 1, r))
      df.withColumn("embedding", rot).withColumn("vec_id", shift("vec_id", k))
    })
  }

  /** The byte-preservation contract of [[synthesize]], checkable after the
    * fact: `sum(length(text))` of the Nx corpus within 2% of N× the base.
    * Run on REUSE too (r18 review) — a stale big dir synthesized by the r17
    * suffix salting (13.28x in bytes) would otherwise be timed silently,
    * re-inflating every published text-row slope the moment the read-side
    * correction factor was removed. */
  private def assertBytePreserving(spark: SparkSession, baseDir: String,
      bigDir: String, nCopies: Int): Unit = {
    def textBytes(dir: String): Long =
      spark.read.parquet(s"$dir/documents.parquet")
        .agg(sum(length(coalesce(col("text"), lit(""))))).head().getLong(0)
    val (baseBytes, bigBytes) = (textBytes(baseDir), textBytes(bigDir))
    System.err.println(f"[scale-synth] documents text bytes: base=$baseBytes " +
      f"x$nCopies=$bigBytes (${bigBytes.toDouble / baseBytes}%.3fx)")
    require(math.abs(bigBytes - nCopies.toDouble * baseBytes)
        <= 0.02 * nCopies * baseBytes,
      s"scale-synth: ${nCopies}x corpus at $bigDir is " +
        f"${bigBytes.toDouble / baseBytes}%.3fx in text bytes — salting is " +
        "not byte-preserving (stale pre-r18 dir? delete it and re-synthesize)")
  }

  /** Synthesize `bigDir` when absent; when present, re-assert the byte
    * contract on the EXISTING data before any timing trusts it. */
  private def ensureCorpus(spark: SparkSession, baseDir: String,
      bigDir: String, nCopies: Int): Unit =
    if (!java.nio.file.Files.isDirectory(java.nio.file.Paths.get(bigDir)))
      synthesize(spark, baseDir, bigDir, nCopies)
    else {
      System.err.println(s"[scale-synth] reusing $bigDir")
      assertBytePreserving(spark, baseDir, bigDir, nCopies)
    }

  /** Validated query-name args: taken VERBATIM against the board (any
    * SparkEntry row can be probed), not intersected with a default list —
    * a name outside the default list would otherwise time nothing. */
  private def namedQueries(names: Seq[String], default: Seq[String]): Seq[String] =
    if (names.isEmpty) default
    else {
      names.foreach(q => require(SparkEntry.queries.contains(q),
        s"unknown query '$q' — not a SparkEntry.queries key"))
      names
    }

  /** Steady-state warm-up (the Bench rationale: measure the engine, not JIT)
    * on the smallest sibling of baseDir, so any data layout works. */
  private def warmPass(spark: SparkSession, baseDir: String,
      queries: Seq[String]): Unit = {
    val warmDir = new java.io.File(baseDir).getParent + "/sf0.001"
    if (java.nio.file.Files.isDirectory(java.nio.file.Paths.get(warmDir)))
      queries.foreach { n =>
        try SparkEntry.queries(n)(spark, warmDir).count()
        catch { case NonFatal(e) => System.err.println(s"[scale-warm] $n: $e") }
      }
    else System.err.println(s"[scale-warm] no $warmDir — first 1x readings " +
      "will absorb JIT/codegen cost; treat early slopes as upper bounds")
  }

  /** One standalone timed run of a board query: wall-clock + row count
    * (rows = -1 on failure), with any RDDs the query pinned unpersisted
    * after, so no reading pays for an earlier one's cached blocks. */
  private def timeQuery(spark: SparkSession, name: String,
      dir: String): (Double, Long) = {
    val pre = spark.sparkContext.getPersistentRDDs.keySet
    val t0 = System.nanoTime()
    val rows = try SparkEntry.queries(name)(spark, dir).count()
      catch { case NonFatal(e) =>
        System.err.println(s"[scale-slope] $name failed on $dir: $e"); -1L }
    val sec = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.getPersistentRDDs
      .filterNot { case (id, _) => pre.contains(id) }
      .values.foreach(_.unpersist(blocking = false))
    System.gc()
    (sec, rows)
  }

  /** Locale-safe 3-dp rounding for the JSON lines (raw Double interpolation,
    * not %f: comma-decimal JVMs would emit unparseable JSON). */
  private def r3(x: Double): Double = math.round(x * 1000) / 1000.0

  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val bigDir = args.drop(1).headOption.getOrElse("/tmp/graft_sf0.1_x10")
    // args 3+ = query names for incremental measurement (the default list
    // otherwise) — validated verbatim against the board
    val QUERIES = namedQueries(args.drop(2).toSeq, DEFAULT_QUERIES)
    val spark = EngineSession.builder()
      // Scale-adaptive reduce partitioning: this session times the SAME
      // query at 1x and 10x the corpus, so a constant reducer count tuned
      // for 1x is wrong by construction — at 100x, 1/32nd of the corpus per
      // task blew the heap inside x39's collect_list ObjectHashAggregate
      // (measured OOM, task 20/stage 443). AQE starts every shuffle at
      // cores×16 partitions and coalesces down by byte size
      // (advisoryPartitionSizeInBytes), so per-task state is data-driven at
      // every scale and the readings stay comparable. Bench keeps the
      // profile's fixed width: it runs at one scale.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (EngineSession.cores * 16).toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    ensureCorpus(spark, baseDir, bigDir, 10)
    warmPass(spark, baseDir, QUERIES)
    val results = QUERIES.map { name =>
      val (t1, r1) = timeQuery(spark, name, baseDir)
      val (t10, r10) = timeQuery(spark, name, bigDir)
      // only SUCCESSFUL runs may publish a ratio (the Bench warm-twin rule):
      // t1 is wall-clock and positive even when the query threw, so the
      // guard must be on the rows=-1 failure sentinel, not the time
      val ratio = if (r1 >= 0 && r10 >= 0 && t1 > 0) t10 / t1 else -1.0
      System.err.println(f"[scale-slope] $name t1=$t1%.2fs ($r1 rows) " +
        f"t10=$t10%.2fs ($r10 rows) ratio=$ratio%.1fx")
      (name, t1, t10, ratio, r1, r10)
    }
    val qjson = results.map { case (n, t1, t10, r, _, _) =>
      s""""$n":{"t1":${r3(t1)},"t10":${r3(t10)},"ratio":${r3(r)}}""" }
      .mkString("{", ",", "}")
    spark.stop()
    println(s"""{"metric":"scale_slope","queries":$qjson,"base":"$baseDir","big":"$bigDir"}""")
  }
}
