package graft

// Stage-level profiler for the 100x slope adjudication (r18): splits the two
// super-linear second-decade rows (d18_prefix_jaccard, pr1_pagerank) into
// their pipeline stages at an arbitrary data dir, so the decade2 reading can
// be attributed to a STAGE (and a mechanism) instead of hand-waved. Usage:
//
//   runMain graft.ProfileScale <dir> [d18|pr1]
//
// Times are stage-inclusive (each count() recomputes its lineage above the
// shared shingle/edge checkpoint — the point is which stage GROWS, not an
// additive decomposition). The house SkewBench convention.
import org.apache.spark.sql.functions._
import org.apache.spark.sql.SparkSession

object ProfileScale {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val which = args.drop(1).headOption.getOrElse("d18")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
        (cpus.toInt * 16).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "8m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      System.err.println(f"[prof-scale] $name%-28s ${(System.nanoTime() - t0) / 1e9}%.2f s ($r)")
      r
    }
    val D = graft.operators.Dedup
    which match {
      case "d18" =>
        import org.apache.spark.sql.expressions.Window
        val docSh = t("docShingles3 (cp)") {
          val sh = D.shingleRows(
            spark.read.parquet(s"$dir/documents.parquet")
              .repartition(spark.sparkContext.defaultParallelism),
            "doc_id", "text", 3).distinct().localCheckpoint(true)
          sh
        }
        t("docSh rows")(docSh.count())
        // the prefixFilteredJaccardPairs internals, stage by stage
        val minJaccard = 0.5
        val df = docSh.groupBy("sh").agg(count(lit(1)).as("_df"))
        val sizes = docSh.groupBy("id").agg(count(lit(1)).as("sz"))
        val w = Window.partitionBy(col("id")).orderBy(col("_df"), col("sh"))
        val prefix = docSh.join(df, Seq("sh"))
          .withColumn("_rk", row_number().over(w))
          .join(sizes, Seq("id"))
          .filter(col("_rk") <=
            col("sz") - ceil(lit(minJaccard) * col("sz") - lit(1e-9)) + 1)
          .select(col("id"), col("sh"))
        t("prefix rows")(prefix.count())
        val cand = prefix.as("a").join(prefix.as("b"),
            col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        t("cand pairs (pre-distinct)")(cand.count())
        val candD = cand.distinct().localCheckpoint(true)
        t("cand pairs (distinct, cp)")(candD.count())
        val sets = docSh.groupBy("id").agg(collect_set(col("sh")).as("_shs"))
        t("sets rows")(sets.count())
        val out = candD
          .join(sets.select(col("id").as("id_a"), col("_shs").as("_sa")), Seq("id_a"))
          .join(sets.select(col("id").as("id_b"), col("_shs").as("_sb")), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            size(array_intersect(col("_sa"), col("_sb"))).cast("long").as("_i"),
            size(col("_sa")).cast("long").as("_sza"),
            size(col("_sb")).cast("long").as("_szb"))
          .select(col("id_a"), col("id_b"),
            (col("_i").cast("double") / (col("_sza") + col("_szb") - col("_i"))).as("jaccard"))
          .filter(col("jaccard") >= minJaccard)
        t("verify output")(out.count())
        // the pre-r18 row-level verify, for the A/B at this scale
        val interOld = candD
          .join(docSh.select(col("id").as("id_a"), col("sh")), Seq("id_a"))
          .join(docSh.select(col("id").as("id_b"), col("sh")), Seq("id_b", "sh"))
          .groupBy("id_a", "id_b").agg(count(lit(1)).as("_i"))
        val outOld = interOld
          .join(sizes.select(col("id").as("id_a"), col("sz").as("_sza")), Seq("id_a"))
          .join(sizes.select(col("id").as("id_b"), col("sz").as("_szb")), Seq("id_b"))
          .select(col("id_a"), col("id_b"),
            (col("_i").cast("double") / (col("_sza") + col("_szb") - col("_i"))).as("jaccard"))
          .filter(col("jaccard") >= minJaccard)
        t("verify output (old rowwise)")(outOld.count())
        // positional-filter candidate count (PPJoin, Xiao et al. WWW'08):
        // overlap(x,y) <= 1 + min(|x|-i, |y|-j) at the first shared prefix
        // position — per-row predicate, no extra shuffle
        val prefixP = docSh.join(df, Seq("sh"))
          .withColumn("_rk", row_number().over(w))
          .join(sizes, Seq("id"))
          .filter(col("_rk") <=
            col("sz") - ceil(lit(minJaccard) * col("sz") - lit(1e-9)) + 1)
          .select(col("id"), col("sh"), col("_rk"), col("sz"))
        val candP = prefixP.as("a").join(prefixP.as("b"),
            col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
            lit(1) + least(col("a.sz") - col("a._rk"), col("b.sz") - col("b._rk")) >=
              ceil(lit(minJaccard / (1.0 + minJaccard)) *
                (col("a.sz") + col("b.sz")) - lit(1e-9)))
          .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
        t("cand pairs (positional, pre-distinct)")(candP.count())
        t("cand pairs (positional, distinct)")(candP.distinct().count())
        t("full operator (one shot)")(
          D.prefixFilteredJaccardPairs(docSh, minJaccard).count())
      case "pr1" =>
        // mirrors SparkEntry.coPairs/coEdges(minGroups = 1) + the pr1 row
        val li = spark.read.parquet(s"$dir/lineitem.parquet")
        val coPairs = t("coPairs build (cp)") {
          li.groupBy(col("l_orderkey"))
            .agg(collect_set(col("l_partkey")).as("_items"))
            .select(explode(col("_items")).as("src"), col("_items"))
            .select(col("src"), explode(col("_items")).as("dst"))
            .filter(col("src") < col("dst"))
            .groupBy(col("src"), col("dst"))
            .agg(count(lit(1)).as("_m"))
            .localCheckpoint(true)
        }
        t("coPairs rows")(coPairs.count())
        val edges = coPairs
          .select(explode(array(
            struct(col("src"), col("dst")),
            struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
          .select(col("e.src"), col("e.dst"))
        t("PageRank.run 3 iters")(
          graft.operators.PageRank.run(edges, iterations = 3).count())
      case other => System.err.println(s"unknown mode $other")
    }
    spark.stop()
  }
}
