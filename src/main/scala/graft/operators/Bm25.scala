package graft.operators

import graft.functions.Norm
import graft.sources.BucketedTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** BM25 sparse (lexical) retrieval — the keyword-side complement of the dense
  * KNN path ([[VectorSearch]]). The reference retrieves by embeddings only
  * (retriever.py:101-132); production RAG pairs that with a lexical run and
  * fuses them ([[HybridFusion.rrf]]), so this is a first-class operator of the
  * engine, not an extra.
  *
  * Tokenization is the engine-wide T2 normalization ([[Norm.normTokens]]) so
  * lexical and graph text keys agree.
  *
  * Shape at scale:
  *  - build: one explode over the corpus + three hash aggregates (tf, dl, df),
  *    all with map-side combine — no window, no driver data.
  *  - postings DENORMALIZE df and dl per row, so query-time scoring is ONE
  *    broadcast join (query terms are tiny) + one (query, doc) sum + the
  *    bounded [[TopKAggregator]]: shuffle volume is O(matched postings), never
  *    O(corpus).
  *  - a SAVED index is hash-bucketed BY TERM ([[BucketedTable]]): scoring
  *    reads only the partition directories holding the query's terms —
  *    at 100 TB the scan is bounded by the query's posting lists, not the
  *    index size.
  */
object Bm25 {

  /** Okapi BM25 constants (the standard defaults). */
  final case class Params(k1: Double = 1.2, b: Double = 0.75)

  /** `postings`: (term, id, tf, df, dl) — one row per distinct (term, doc).
    * `stats` is ONE row (n, avgdl) of corpus scalars, kept as a DataFrame so
    * scoring folds the stats in as a 1-row broadcast. `parts` (set by
    * [[build]]) keeps the un-denormalized (tf, df, dl) frames so scoring can
    * semi-join the query's terms against tf BEFORE attaching df/dl — a loaded
    * or pruned index has only the denormalized postings and leaves it None.
    * `idType` is the SOURCE id column's dtype, captured at build and persisted
    * in the stats marker: postings canonicalize ids to string (one grouping
    * key type, VARCHAR tie semantics shared with the SQL twins), and every
    * scorer's output projection restores this dtype — a BIGINT doc id in is a
    * BIGINT doc id out (the TextRank restore pattern). */
  final case class Index(postings: DataFrame, stats: DataFrame,
      parts: Option[(DataFrame, DataFrame, DataFrame)] = None,
      idType: DataType = StringType) {
    private lazy val statsRow = stats.collect()(0)
    /** Collected corpus scalars — one tiny job, used by tests/persistence. */
    def nDocs: Long = statsRow.getDouble(0).toLong
    def avgdl: Double = statsRow.getDouble(1)
    /** Free the corpus-scale blocks a `materialize = true` build checkpointed
      * (tf and dl). Call once the index stops serving from memory — e.g.
      * right after persisting it — or every ingest on a long-lived service
      * pins two more block sets. No-op for loaded/pruned indexes and
      * `materialize = false` builds (Bridge ignores non-checkpoint frames).
      * The Index must not be scored after release. */
    def release(): Unit = parts.foreach { case (tf, _, dl) =>
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(tf)
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(dl)
    }
  }

  /** Build the inverted index over `docs(idCol, textCol)`.
    *
    * The exploded (id, term) frame feeds three aggregates (tf, dl and — via
    * tf — df), and Catalyst does not share non-identical subplans: left lazy,
    * one action over the postings tokenizes the corpus ~3×, and at 100 TB the
    * raw-corpus scan is the dominant cost. `materialize = true` (default)
    * eager-checkpoints the exploded frame once so every consumer reads the
    * materialized blocks; pass false to keep build a pure single DAG (no
    * action at build time) when composing further before any execution. */
  def build(docs: DataFrame, idCol: String, textCol: String,
      materialize: Boolean = true): Index = {
    val share: DataFrame => DataFrame =
      d => if (materialize) d.localCheckpoint(true) else d
    val exploded = share(docs
      .select(col(idCol).cast("string").as("id"),
        explode(Norm.normTokens(col(textCol))).as("term")))
    val idx = buildFromTokens(exploded, materialize,
      idType = Some(docs.schema(idCol).dataType))
    // tf and dl are materialized — the exploded token frame (the corpus-sized
    // one) is now dead; free its blocks instead of pinning them for the
    // index's lifetime. tf/dl stay cached: they ARE the in-memory index.
    if (materialize) org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(exploded)
    idx
  }

  /** [[build]] over an ALREADY-tokenized (id, term) frame — the shared-
    * tokenization entry point: at corpus scale the raw-text scan + regex
    * tokenize is the dominant index-build cost and is identical across the
    * lexical retrieval family (BM25, TF-IDF, hybrid), so tokenize once and
    * build each model from the same frame. The caller owns `tokens`'
    * lifecycle (this function never unpersists it). `idType` records the
    * SOURCE id dtype the scorers restore at output; None derives it from the
    * tokens frame's `id` column (callers whose shared token frame already
    * canonicalized ids to string pass the original dtype explicitly). */
  def buildFromTokens(tokens: DataFrame, materialize: Boolean = true,
      idType: Option[DataType] = None): Index = {
    val share: DataFrame => DataFrame =
      d => if (materialize) d.localCheckpoint(true) else d
    // tf feeds df AND the postings join; dl feeds stats AND the postings
    // join — share them so one postings action runs each aggregate once.
    val tf = share(tokens.groupBy("term", "id")
      .agg(count(lit(1)).cast("double").as("tf")))
    val dl = share(tokens.groupBy("id")
      .agg(count(lit(1)).cast("double").as("dl")))
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n"),
      coalesce(avg("dl"), lit(0.0)).as("avgdl"))
    Index(tf.join(df, "term").join(dl, "id"), stats, Some((tf, df, dl)),
      idType.getOrElse(tokens.schema("id").dataType))
  }

  /** The output-boundary dtype restore (TextRank pattern): internal keys are
    * canonical strings, the projection hands back the CALLER's id dtypes. */
  private def restoreIds(out: DataFrame, qType: DataType, dType: DataType): DataFrame =
    out.withColumn("query_id", col("query_id").cast(qType))
      .withColumn("doc_id", col("doc_id").cast(dType))

  /** Robertson/Sparck-Jones idf with the +1 floor (never negative):
    * ln(1 + (n - df + 0.5) / (df + 0.5)); `n` from the folded-in stats row. */
  private def idf(df: org.apache.spark.sql.Column, n: org.apache.spark.sql.Column) =
    log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5)))

  /** Top-k docs per query by BM25. `queries(qId, qText)` must be
    * broadcast-small (the [[VectorSearch.knnJoin]] contract). Query term
    * frequency is ignored (distinct terms), the common Okapi practice.
    * Output: (query_id, rank, doc_id, score); ties pinned by doc id ASC
    * (canonical STRING key order, shared with the SQL twins). Id dtypes
    * round-trip: query_id returns in `queries(qId)`'s dtype, doc_id in the
    * index's recorded source dtype. */
  def score(index: Index, queries: DataFrame, qId: String, qText: String,
      k: Int, params: Params = Params()): DataFrame = {
    val qterms = queries.select(col(qId).cast("string").as("query_id"),
      explode(array_distinct(Norm.normTokens(col(qText)))).as("term"))
    restoreIds(scoreTerms(index, qterms, k, params),
      queries.schema(qId).dataType, index.idType)
  }

  /** Pseudo-relevance feedback (RM3-style): run the query, treat its top
    * `fbDocs` documents as relevant, mine the `fbTerms` most representative
    * new terms from them, and re-score with the expanded query — the
    * vocabulary-mismatch fix ("car" finds "automobile" documents) that needs
    * no model, only a second pass over the index.
    *
    *  - feedback weight of a candidate term = Σ over feedback docs of its
    *    in-doc relative frequency tf/dl (the uniform-prior relevance-model
    *    estimate); original query terms are excluded (they are already in
    *    the query), and expansion terms enter with weight `lambda`, original
    *    terms with weight 1.
    *  - determinism: feedback docs are the k-ties-by-id-pinned first-pass
    *    top-k; expansion terms rank on the ROUNDED weight (9 dp) with a
    *    term-asc tiebreak, so both engines sort identical keys (the x27
    *    convention). `lambda` should be a power of two (default 0.5) so the
    *    weighted contribution stays bit-exact across engines.
    *
    * Scale shape: two passes of the [[score]] kernel (each O(matched
    * postings), never O(corpus)) plus one feedback-doc join — `fb` is
    * (queries × fbDocs) rows, broadcast onto the postings, and the weight
    * aggregate is map-side combined. The expansion-term window partitions
    * by query over a candidate set bounded by the feedback docs' vocabulary
    * — queries are broadcast-small by contract, so the window never sees
    * corpus-scale data.
    *
    * Output: (query_id, rank, doc_id, score) — same contract as [[score]].
    */
  def prfScore(index: Index, queries: DataFrame, qId: String, qText: String,
      k: Int, fbDocs: Int = 5, fbTerms: Int = 3, lambda: Double = 0.5,
      params: Params = Params()): DataFrame = {
    require(fbDocs > 0 && fbTerms >= 0)
    val qterms = queries.select(col(qId).cast("string").as("query_id"),
      explode(array_distinct(Norm.normTokens(col(qText)))).as("term"))
      .localCheckpoint(true) // tiny; read by first pass, anti-join, final union
    val fb = scoreTerms(index, qterms, fbDocs, params)
      .select(col("query_id"), col("doc_id").as("id"))
    // candidate weights from the postings (available built OR loaded):
    // Σ tf/dl over the query's feedback docs, minus the original terms
    val wts = index.postings.join(broadcast(fb), Seq("id"))
      .groupBy("query_id", "term")
      .agg(sum(col("tf") / col("dl")).as("w"))
      .join(qterms, Seq("query_id", "term"), "left_anti")
    val byWeight = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(round(col("w"), 9).desc, col("term").asc)
    val expansion = wts
      .withColumn("_rn", row_number().over(byWeight))
      .filter(col("_rn") <= fbTerms)
      .select(col("query_id"), col("term"), lit(lambda).as("qw"))
    val expanded = qterms.withColumn("qw", lit(1.0)).unionByName(expansion)
    restoreIds(scoreWeightedTerms(index, expanded, k, params),
      queries.schema(qId).dataType, index.idType)
  }

  private def scoreTerms(index: Index, qterms: DataFrame, k: Int,
      params: Params): DataFrame =
    // ·1.0 is an exact no-op in IEEE double, so the unweighted path's scores
    // are bit-identical to the pre-weighting implementation
    scoreWeightedTerms(index, qterms.withColumn("qw", lit(1.0)), k, params)

  /** [[scoreTerms]] with a per-(query, term) weight column `qw` multiplying
    * each term's BM25 contribution — the scoring kernel [[prfScore]]'s
    * expanded queries need (original terms weight 1, feedback terms λ). */
  private def scoreWeightedTerms(index: Index, qterms: DataFrame, k: Int,
      params: Params): DataFrame = {
    val tfNorm = col("tf") * lit(params.k1 + 1.0) /
      (col("tf") + lit(params.k1) *
        (lit(1.0 - params.b) + lit(params.b) * col("dl") / col("avgdl")))
    // Join the broadcast-tiny query terms FIRST where the index still has its
    // components: tf shrinks to the query's posting lists before df/dl are
    // attached (AQE broadcasts the matched side), so scoring never
    // materializes the full denormalized tf⋈df⋈dl join.
    val matched = index.parts match {
      case Some((tf, df, dl)) =>
        tf.join(broadcast(qterms), Seq("term"))
          .join(df, Seq("term")).join(dl, Seq("id"))
      case None => index.postings.join(broadcast(qterms), Seq("term"))
    }
    val scored = matched
      .crossJoin(broadcast(index.stats))
      .select(col("query_id"), col("id"),
        (idf(col("df"), col("n")) * tfNorm * col("qw")).as("contrib"))
      .groupBy("query_id", "id")
      .agg(sum("contrib").as("score"))
    VectorSearch.rankedTopK(scored, Seq("query_id"), col("id"), col("score"), k)
      .select(col("query_id"), col("rank"), col("id").as("doc_id"), col("score"))
  }

  // ------------------------------------------------------------- persistence

  private val StatsMarker = "_bm25_stats"

  /** Persist the index, postings hash-bucketed by term (the query-time access
    * key): scoring a query against the saved index reads only the buckets its
    * terms hash into. */
  def save(index: Index, dir: String,
      nBuckets: Int = BucketedTable.DefaultBuckets): Unit = {
    val spark = index.postings.sparkSession
    BucketedTable.write(index.postings, s"$dir/postings.parquet", "term", nBuckets)
    // avgdl = sumdl/n correctly rounded, so n·avgdl rounds back to the exact
    // integer token total for any corpus under 2^52 tokens — the marker
    // carries it so incremental maintenance stays integer-exact.
    BucketedTable.writeMarker(spark, s"$dir/$StatsMarker",
      s"${index.nDocs} ${index.avgdl} $nBuckets " +
        s"${Math.round(index.nDocs * index.avgdl)} ${index.idType.catalogString}")
  }

  /** Parsed stats marker; legacy 3-field markers derive the token total,
    * legacy 4-field markers (pre-dtype) default the id dtype to string. */
  private def readStats(spark: SparkSession,
      dir: String): (Long, Double, Int, Long, DataType) = {
    val parts = BucketedTable.readMarker(spark, s"$dir/$StatsMarker").get.split(" ")
    val (n, avgdl, nb) = (parts(0).toLong, parts(1).toDouble, parts(2).toInt)
    val sumdl = parts.lift(3).map(_.toLong).getOrElse(Math.round(n * avgdl))
    val idType = parts.lift(4).map(DataType.fromDDL).getOrElse(StringType)
    (n, avgdl, nb, sumdl, idType)
  }

  private def statsDf(spark: SparkSession, n: Double, avgdl: Double): DataFrame =
    spark.range(1).select(lit(n).as("n"), lit(avgdl).as("avgdl"))

  def load(spark: SparkSession, dir: String): Index = {
    val (n, avgdl, _, _, idType) = readStats(spark, dir)
    Index(BucketedTable.read(spark, s"$dir/postings.parquet").drop("_bucket"),
      statsDf(spark, n.toDouble, avgdl), idType = idType)
  }

  /** Incrementally ADD documents to a SAVED index, bit-identical to a full
    * rebuild over the grown corpus: per-term df bumps and the new posting
    * rows rewrite ONLY the buckets the delta's terms hash into
    * ([[graft.sources.BucketedTable.rewriteBuckets]]), and the stats marker
    * advances by exact integers (doc count, token total — avgdl is ONE
    * division of integers on every path, so scores never drift from a
    * rebuild's). Ids already present are skipped (add-only, the
    * [[graft.operators.IvfIndex.addSaved]] contract; the probe is one
    * column-pruned scan with the delta ids pushed down). Write
    * amplification is bounded by the delta's vocabulary, never the index. */
  def addSavedDocs(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    val (n, _, nb, sumdl, idType) = readStats(spark, dir)
    val ppath = s"$dir/postings.parquet"
    val delta = docs.select(col(idCol).cast("string").as("id"),
        explode(Norm.normTokens(col(textCol))).as("term"))
      .localCheckpoint(true) // tokenized once; tf/df/stats all read it
    try {
      val deltaIds = delta.select("id").distinct()
        .collect().map(_.getString(0)).toSeq
      if (deltaIds.isEmpty) return
      val already = BucketedTable.read(spark, ppath)
        .filter(col("id").isin(deltaIds: _*))
        .select("id").distinct().collect().map(_.getString(0)).toSet
      val freshIds = deltaIds.filterNot(already)
      if (freshIds.isEmpty) return
      val freshTok = delta.filter(col("id").isin(freshIds: _*))
      val tfD = freshTok.groupBy("term", "id")
        .agg(count(lit(1)).cast("double").as("tf"))
      val dlD = freshTok.groupBy("id").agg(count(lit(1)).cast("double").as("dl"))
      val dfD = tfD.groupBy("term").agg(count(lit(1)).cast("double").as("_dfd"))
        .localCheckpoint(true) // delta-vocabulary-sized; bump + new rows read it
      try {
        val terms = dfD.select("term").collect().map(_.getString(0))
        val buckets = terms.map(BucketedTable.bucketOf(_, nb)).distinct.toSeq
        BucketedTable.rewriteBuckets(spark, ppath, "term", nb, buckets) { old =>
          // surviving rows of touched terms take the df bump; new rows enter
          // with df = old df (0 for index-new terms) + delta df. USING joins
          // put the key first, so the output re-projects to the saved
          // layout's column order.
          val cols = old.columns.map(col).toIndexedSeq
          val oldDf = old.groupBy("term").agg(first(col("df")).as("_df0"))
          val bumped = old.join(broadcast(dfD), Seq("term"), "left")
            .withColumn("df", col("df") + coalesce(col("_dfd"), lit(0.0)))
          val fresh = tfD.join(broadcast(dfD), Seq("term"))
            .join(broadcast(oldDf), Seq("term"), "left")
            .join(dlD, Seq("id"))
            .withColumn("df", coalesce(col("_df0"), lit(0.0)) + col("_dfd"))
          bumped.select(cols: _*).unionByName(fresh.select(cols: _*))
        }
        val addedTokens = freshTok.count()
        val n2 = n + freshIds.size
        val avg2 = if (n2 == 0) 0.0 else (sumdl + addedTokens).toDouble / n2
        BucketedTable.writeMarker(spark, s"$dir/$StatsMarker",
          s"$n2 $avg2 $nb ${sumdl + addedTokens} ${idType.catalogString}")
      } finally org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(dfD)
    } finally org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(delta)
  }

  /** Incrementally DELETE documents from a SAVED index — the other half of
    * [[addSavedDocs]], same rebuild-exact contract. Callers pass the docs AS
    * INDEXED (id + the same text): postings are term-bucketed, so a doc's
    * rows are locatable only through its terms — delete from the lexical
    * index BEFORE (or with) removing the rows from the store. Ids not in the
    * index are ignored; a term whose last document leaves simply has no rows
    * left (df reaches 0 with them). */
  def deleteSavedDocs(spark: SparkSession, dir: String, docs: DataFrame,
      idCol: String, textCol: String): Unit = {
    val (n, _, nb, sumdl, idType) = readStats(spark, dir)
    val ppath = s"$dir/postings.parquet"
    val delta = docs.select(col(idCol).cast("string").as("id"),
        explode(Norm.normTokens(col(textCol))).as("term"))
      .localCheckpoint(true)
    try {
      val deltaIds = delta.select("id").distinct()
        .collect().map(_.getString(0)).toSeq
      if (deltaIds.isEmpty) return
      val present = BucketedTable.read(spark, ppath)
        .filter(col("id").isin(deltaIds: _*))
        .select("id").distinct().collect().map(_.getString(0)).toSet
      if (present.isEmpty) return
      val deadTok = delta.filter(col("id").isin(present.toSeq: _*))
      val dfD = deadTok.select("term", "id").distinct()
        .groupBy("term").agg(count(lit(1)).cast("double").as("_dfd"))
        .localCheckpoint(true)
      try {
        val terms = dfD.select("term").collect().map(_.getString(0))
        val buckets = terms.map(BucketedTable.bucketOf(_, nb)).distinct.toSeq
        BucketedTable.rewriteBuckets(spark, ppath, "term", nb, buckets) { old =>
          val cols = old.columns.map(col).toIndexedSeq
          old.filter(not(col("id").isin(present.toSeq: _*)))
            .join(broadcast(dfD), Seq("term"), "left")
            .withColumn("df", col("df") - coalesce(col("_dfd"), lit(0.0)))
            .select(cols: _*)
        }
        val removedTokens = deadTok.count()
        val n2 = n - present.size
        val avg2 = if (n2 == 0) 0.0 else (sumdl - removedTokens).toDouble / n2
        BucketedTable.writeMarker(spark, s"$dir/$StatsMarker",
          s"$n2 $avg2 $nb ${sumdl - removedTokens} ${idType.catalogString}")
      } finally org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(dfD)
    } finally org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(delta)
  }

  /** Score against a SAVED index with term-bucket pruning: the query's terms
    * (tiny — one driver-side set per call, same bound as the broadcast-query
    * contract) select the partition directories to read; everything else of
    * the index is never scanned. */
  def scoreSaved(spark: SparkSession, dir: String, queries: DataFrame,
      qId: String, qText: String, k: Int, params: Params = Params()): DataFrame = {
    val (n, avgdl, nb, _, idType) = readStats(spark, dir)
    val qterms = queries.select(col(qId).cast("string").as("query_id"),
      explode(array_distinct(Norm.normTokens(col(qText)))).as("term"))
      .localCheckpoint(true) // tiny; reused for bucket probe + scoring join
    val buckets = qterms.select("term").distinct().collect()
      .map(r => BucketedTable.bucketOf(r.getString(0), nb)).distinct.toSeq
    val pruned = BucketedTable.read(spark, s"$dir/postings.parquet")
      .filter(col("_bucket").isin(buckets: _*)).drop("_bucket")
    restoreIds(scoreTerms(Index(pruned, statsDf(spark, n.toDouble, avgdl)),
      qterms, k, params), queries.schema(qId).dataType, idType)
  }
}
