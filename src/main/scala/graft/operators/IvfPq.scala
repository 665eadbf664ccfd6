package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted IVF-PQ index — the at-rest form of the [[IvfIndex]] ×
  * [[ProductQuantizer]] composition, and the shape a 100 TB vector corpus
  * actually ships: coarse centroids + per-subspace codebooks (both tiny) and
  * ONE table of PQ codes partitioned by coarse cell. Queries read the two
  * tiny tables plus ONLY the probed cells' code directories; no float vector
  * of the corpus is ever touched at search time, and the index at rest is
  * ~32× smaller than the vectors it stands in for (m small ints vs dim
  * floats per row).
  *
  * Layout (same partition conventions as [[IvfIndex.save]] — cell ids
  * prefixed so all-digit values survive partition-type inference; zero-row
  * partitioned writes repaired with one empty plain file):
  *
  *   dir/centroids.parquet                 (centroid_id, cvec)
  *   dir/codebook.parquet                  (sub, code, cvec, cc)
  *   dir/codes.parquet/_cell=cN/           (id, sub, code)
  *
  * Search: centroid KNN (queries × nList, tiny) → collect the probed cell
  * set → literal `_cell IN (...)` predicate = directory-level partition
  * pruning → per-query ADC table join + two map-side-combined hash
  * aggregations + bounded top-k. The only corpus-sized work is one scan of
  * ~nProbe/nList of the CODE table.
  */
object IvfPq {

  private val CellCol = "_cell"

  /** Build everything from one corpus pass-set and persist: IVF coarse
    * quantizer (nList cells), PQ codebooks (m × k), and the cell-partitioned
    * code table. Deterministic end to end (both trainers seed from lowest
    * string-ordered ids). */
  def buildAndSave(corpus: DataFrame, idCol: String, vecCol: String,
      dir: String, nList: Int, m: Int, dsub: Int, k: Int,
      pqIters: Int = 0): Unit = {
    // centroids/codewords are tiny but their PLANS are corpus scans (seed
    // TakeOrdered) — pinned once, or the encode/assign below and the three
    // writes would each re-scan the corpus to rebuild them.
    val centroids = IvfIndex.build(corpus, idCol, vecCol, nList)
      .centroids.localCheckpoint(true)
    val assignments = IvfIndex.assign(
      corpus.select(col(idCol).cast("string").as("id"), col(vecCol).as("v")),
      centroids)
    val ivf = IvfIndex.Index(centroids, assignments)
    val cb0 = ProductQuantizer.train(corpus, idCol, vecCol, m, dsub, k, pqIters)
    val cb = cb0.copy(codewords = cb0.codewords.localCheckpoint(true))
    val codes = ProductQuantizer.encode(corpus, idCol, vecCol, cb)
    ivf.centroids.write.mode("overwrite").parquet(s"$dir/centroids.parquet")
    cb.codewords.write.mode("overwrite").parquet(s"$dir/codebook.parquet")
    // cell ← the coarse assignment; codes partitioned one directory per cell.
    // Written unconditionally (an emptiness probe would run the whole encode
    // pipeline twice — the BucketedTable.write lesson); a zero-row partitioned
    // write leaves no readable footer and is repaired after the fact.
    val celled = codes
      .join(ivf.assignments.select(col("id"),
        concat(lit("c"), col("centroid_id")).as(CellCol)), Seq("id"))
    val codesPath = s"$dir/codes.parquet"
    celled.repartition(col(CellCol)).sortWithinPartitions(CellCol, "id")
      .write.mode("overwrite").partitionBy(CellCol)
      .parquet(codesPath)
    val fs = new org.apache.hadoop.fs.Path(codesPath)
      .getFileSystem(corpus.sparkSession.sessionState.newHadoopConf())
    val hasCells = fs.exists(new org.apache.hadoop.fs.Path(codesPath)) &&
      fs.listStatus(new org.apache.hadoop.fs.Path(codesPath))
        .exists(_.getPath.getName.startsWith(s"$CellCol="))
    if (!hasCells)
      // limit(0) collapses to an empty LocalRelation — schema only, no re-run
      celled.limit(0).write.mode("overwrite").parquet(codesPath)
  }

  private def byQuery(df: DataFrame): Map[String, Set[String]] =
    df.select(col("query_id"), col("neighbor_id")).collect()
      .groupBy(_.getString(0)).view.mapValues(_.map(_.getString(1)).toSet).toMap

  /** Shared recall-curve engine: exact KNN ground truth computed ONCE, then
    * one recall point per nProbe from `search`. */
  private def curveAgainstExact(corpus: DataFrame, queries: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String, k: Int,
      nProbes: Seq[Int])(search: Int => DataFrame): Seq[(Int, Double)] = {
    val exact = byQuery(
      VectorSearch.knnJoin(queries, corpus, qId, qVec, cId, cVec, k))
    require(exact.nonEmpty,
      "recall curve: empty query set (or empty corpus) — recall is undefined")
    nProbes.map { p =>
      val got = byQuery(search(p))
      val recall = exact.map { case (q, ex) =>
        got.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size
      }.sum / exact.size
      (p, recall)
    }
  }

  /** Measured recall@k of saved-index ADC search vs exact KNN, per nProbe —
    * the IVF-PQ twin of [[IvfIndex.recallCurve]]. Unlike plain IVF, recall at
    * nProbe = nList stays below 1.0 by the PQ approximation error (codes
    * stand in for vectors), so this curve is the accuracy number a user
    * weighs against the memory cut when choosing IVF-PQ over IVF.
    * Driver-side work is bounded by queries × k ids. */
  def recallCurve(spark: SparkSession, dir: String, corpus: DataFrame,
      queries: DataFrame, qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nProbes: Seq[Int]): Seq[(Int, Double)] =
    curveAgainstExact(corpus, queries, qId, qVec, cId, cVec, k, nProbes)(
      p => searchSaved(spark, dir, queries, qId, qVec, p, k))

  /** [[recallCurve]] for the refined two-stage search ([[searchSavedRefined]])
    * — shows how much of the PQ accuracy ceiling the exact re-rank recovers
    * at each nProbe. */
  def recallCurveRefined(spark: SparkSession, dir: String, corpus: DataFrame,
      queries: DataFrame, qId: String, qVec: String, cId: String, cVec: String,
      k: Int, nProbes: Seq[Int], refine: Int): Seq[(Int, Double)] =
    curveAgainstExact(corpus, queries, qId, qVec, cId, cVec, k, nProbes)(
      p => searchSavedRefined(spark, dir, queries, qId, qVec, corpus, cId, cVec, p, k, refine))

  /** Probe-limited ADC search against a SAVED index. Metadata (centroids,
    * codebook) is tiny and re-read per call; the code scan is pruned to the
    * probed cells' directories by a literal predicate. `m`/`dsub` are
    * recovered from the codebook itself. Output: (query_id, rank,
    * neighbor_id, score) — scores rounded (6 dp) before ranking, id
    * tie-break, like every retrieval operator here. */
  /** Incremental ADD-ONLY maintenance of a saved IVF-PQ index — the
    * streaming-embedding twin of [[IvfIndex.addSaved]]: delta rows are
    * coarse-assigned to the EXISTING centroids and PQ-encoded with the
    * EXISTING codebooks, then merged into only the touched cell directories
    * (write amplification bounded by the cells the delta lands in, never the
    * index). Ids already present anywhere are skipped (full-file probe, same
    * duplicate-serving rationale as the IVF variant). Centroids and
    * codebooks never move — recall degrades gracefully as the corpus drifts
    * from the build-time training and a periodic [[buildAndSave]] restores
    * it, the standard compaction contract. Adding to an EMPTY index fails
    * fast: there are no trained codebooks to encode with, so an add would
    * be meaningless — rebuild instead. All delta-sized checkpoints are
    * freed on every exit path (block hygiene, test-pinned). */
  def addSaved(spark: SparkSession, dir: String,
      rows: DataFrame, idCol: String, vecCol: String): Unit = {
    val centroids = spark.read.parquet(s"$dir/centroids.parquet")
    val codebookDf = spark.read.parquet(s"$dir/codebook.parquet")
    val meta = codebookDf.agg(max("sub"), max(size(col("cvec")))).collect()(0)
    require(!meta.isNullAt(0),
      "IvfPq.addSaved: the saved index has no trained codebooks (built over " +
        "zero rows) — rebuild with buildAndSave instead of adding")
    val m = meta.getInt(0) + 1
    val dsub = meta.getInt(1)
    val base = rows.select(col(idCol).cast("string").as("id"), col(vecCol).as("v"))
    // delta-sized, materialized once: the encode branch AND the cell-tag
    // branch below both read it — un-checkpointed, the caller's whole delta
    // pipeline plus the coarse assign would run twice (the IvfIndex.addSaved
    // lesson); freed on every exit path
    val assigned = IvfIndex.assign(base, centroids).localCheckpoint(true)
    try {
      // wrong-dim rows would be SILENTLY truncated by both the coarse assign
      // (DotProduct stops at min length) and the PQ subspace slices, merging
      // garbage codes into the index forever — fail fast instead
      val badDim = assigned
        .filter(size(col("v")) =!= lit(m * dsub)).select("id").limit(1).collect()
      require(badDim.isEmpty,
        s"IvfPq.addSaved: delta vector dimension != index dimension ${m * dsub} " +
          s"(first offending id: ${badDim.headOption.map(_.getString(0)).getOrElse("")}) — " +
          "wrong-dim vectors would be silently truncated into garbage codes")
      val cb = ProductQuantizer.Codebook(codebookDf, m, dsub)
      // (id, sub, code, _cell): encode with the saved codebooks, tag with the
      // coarse cell. Delta-sized, materialized once — everything below reads it.
      val celled = ProductQuantizer.encode(
          assigned.select(col("id"), col("v")), "id", "v", cb)
        .join(assigned.select(col("id"),
          concat(lit("c"), col("centroid_id")).as(CellCol)), Seq("id"))
        .localCheckpoint(true)
      try addToCodes(spark, dir, celled)
      finally org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(celled)
    } finally org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(assigned)
  }

  /** Merge a checkpointed (id, sub, code, _cell) delta into the saved code
    * table, add-only. Split out of [[addSaved]] for readability only. */
  private def addToCodes(spark: SparkSession, dir: String,
      celled: DataFrame): Unit = {
      if (celled.isEmpty) return
      val codesPath = s"$dir/codes.parquet"
      val existing = spark.read.parquet(codesPath)
      // A TRAINED codebook with an EMPTY code table is not a state buildAndSave
      // can leave behind (zero codes ⇔ untrained codebook, rejected by the
      // caller's require) — it means a crashed half-written build. Refuse
      // rather than dynamic-overwrite beside the zero-row repair file (mixed
      // plain/partitioned layout Spark can't read back).
      if (existing.isEmpty)
        throw new IllegalStateException(
          s"IvfPq.addSaved: $codesPath is empty but the codebook is trained — " +
            "half-written index; rebuild with buildAndSave")
      // Add-only probe against the FULL code table as JOINS (r18 — the
      // IvfIndex.addSaved discipline): the code table's column-pruned id
      // scan semi-joins the delta ids (output delta-bounded, distinct'd to
      // one row per id — the table holds m rows per id), and the delta
      // anti-joins that. No driver id sets, no IN-list in the plan; the
      // checkpointed sides give AQE real sizes to broadcast by.
      val already = existing
        .join(celled.select("id").distinct(), Seq("id"), "left_semi")
        .select("id").distinct()
      val fresh = celled.join(already, Seq("id"), "left_anti")
        .localCheckpoint(true)
      try {
        if (fresh.isEmpty) return // nothing genuinely new
        // touched-cell pruning: bounded by nList, the collect that stays
        val cells = fresh.select(CellCol).distinct().collect().map(_.getString(0))
        val merged = existing.filter(col(CellCol).isin(cells.toIndexedSeq: _*))
          .unionByName(fresh) // disjoint ids by the anti join above
          .repartition(col(CellCol)).sortWithinPartitions(CellCol, "id")
          // lineage break: the write below overwrites the very files this reads
          .localCheckpoint(true)
        try merged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(CellCol).parquet(codesPath)
        finally org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(merged)
      } finally org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(fresh)
  }

  /** Incremental DELETE from a saved IVF-PQ index — [[addSaved]]'s other
    * half (the [[IvfIndex.deleteSaved]] contract applied to the code table):
    * write amplification bounded by the cells containing the ids, a cell
    * left empty removed outright (a zero-row dynamic overwrite would leave
    * its stale files serving the deleted codes), a fully-emptied code table
    * restored to the readable plain-file layout. Codebooks and centroids
    * are untouched — deletes never degrade the quantizer. Unknown ids are
    * ignored. The Seq overload is CRUD-path convenience; the DataFrame form
    * is primary (r18) — the delta flows through semi/anti joins, never an
    * IN-list, so a CDC-scale delete frame works unchanged. */
  def deleteSaved(spark: SparkSession, dir: String, ids: Seq[String]): Unit =
    if (ids.nonEmpty) {
      import spark.implicits._
      deleteSaved(spark, dir, ids.toDF("id"), "id")
    }

  /** DataFrame-delta delete — see the Seq overload's contract. */
  def deleteSaved(spark: SparkSession, dir: String,
      ids: DataFrame, idCol: String): Unit = {
    val codesPath = s"$dir/codes.parquet"
    val existing = spark.read.parquet(codesPath)
    if (existing.isEmpty) return
    val del = ids.select(col(idCol).cast("string").as("id")).distinct()
      .localCheckpoint(true)
    try {
    val touched = existing
      .join(del, Seq("id"), "left_semi")
      .select(CellCol).distinct().collect().map(_.getString(0))
    if (touched.isEmpty) return
    val survivors = existing
      .filter(col(CellCol).isin(touched.toIndexedSeq: _*))
      .join(del, Seq("id"), "left_anti")
      // lineage break: the writes below replace the very files this read
      .localCheckpoint(true)
    try {
      val live = survivors.select(CellCol).distinct()
        .collect().map(_.getString(0)).toSet
      if (live.nonEmpty)
        survivors.repartition(col(CellCol)).sortWithinPartitions(CellCol, "id")
          .write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
          .partitionBy(CellCol).parquet(codesPath)
      touched.filterNot(live).foreach { c =>
        graft.sources.BucketedTable.deleteDir(spark, s"$codesPath/$CellCol=$c")
      }
      val root = new org.apache.hadoop.fs.Path(codesPath)
      val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
      val anyCellLeft = fs.exists(root) &&
        fs.listStatus(root).exists(_.getPath.getName.startsWith(s"$CellCol="))
      if (!anyCellLeft)
        existing.limit(0).write.mode("overwrite").parquet(codesPath)
    } finally org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(survivors)
    } finally org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(del)
  }

  def searchSaved(spark: SparkSession, dir: String, queries: DataFrame,
      qId: String, qVec: String, nProbe: Int, k: Int): DataFrame = {
    val centroids = spark.read.parquet(s"$dir/centroids.parquet")
    val codebook = spark.read.parquet(s"$dir/codebook.parquet")
    val meta = codebook.agg(max("sub"), max(size(col("cvec")))).collect()(0)
    if (meta.isNullAt(0)) // empty index (built over zero rows): nothing to serve
      return spark.range(0).select(
        lit("").as("query_id"), lit(0).cast("int").as("rank"),
        lit("").as("neighbor_id"), lit(0.0).as("score"))
    val m = meta.getInt(0) + 1
    val dsub = meta.getInt(1)
    // queries × nProbe — tiny. Collected once and rebuilt as a LOCAL
    // relation (a checkpoint here would pin blocks the lazily-returned plan
    // could never free — the IvfIndex.search leak's sibling, fixed r7).
    import spark.implicits._
    val probeRows = VectorSearch.knnJoin(
      queries, centroids, qId, qVec, "centroid_id", "cvec", nProbe)
      .select(col("query_id"),
        concat(lit("c"), col("neighbor_id")).as(CellCol))
      .as[(String, String)].collect()
    val probes = probeRows.toIndexedSeq.toDF("query_id", CellCol)
    val probedCells = probeRows.map(_._2).distinct
    // both layouts carry _cell (partition column, or data column in the
    // zero-row repair file), so the filter is always a valid partition prune
    val codes = spark.read.parquet(s"$dir/codes.parquet")
      .filter(col(CellCol).isin(probedCells.toSeq: _*))
    val cand = codes.join(broadcast(probes), Seq(CellCol))
      .select(col("query_id"), col("id"), col("sub"), col("code"))
    ProductQuantizer.rankAdc(
      cand.join(
        broadcast(ProductQuantizer.adcTable(codebook, queries, qId, qVec, m, dsub)),
        Seq("query_id", "sub", "code")),
      k)
  }

  /** Two-stage retrieval — ADC shortlist + EXACT re-rank (the FAISS "refine"
    * design, the standard answer to the PQ accuracy ceiling): [[searchSaved]]
    * retrieves `k × refine` candidates from codes alone, then ONLY those
    * rows' true vectors are fetched from `corpus` and re-scored with the
    * exact dot product. The exact stage touches `queries × k × refine` ids —
    * collected as a literal IN-list, so the corpus scan is predicate-pruned
    * to the shortlist instead of reading any full cell. Accuracy approaches
    * plain-IVF-at-same-nProbe while the heavy scan stays code-sized; memory
    * cost is corpus floats AT REST only (never shuffled corpus-wide).
    * Output: (query_id, rank, neighbor_id, score) — exact scores, rounded
    * (6 dp) before ranking, id tie-break. */
  def searchSavedRefined(spark: SparkSession, dir: String, queries: DataFrame,
      qId: String, qVec: String, corpus: DataFrame, cId: String, cVec: String,
      nProbe: Int, k: Int, refine: Int = 4): DataFrame = {
    require(refine >= 1, s"refine must be >= 1, got $refine")
    val shortlist = searchSaved(spark, dir, queries, qId, qVec, nProbe, k * refine)
      .select(col("query_id"), col("neighbor_id"))
      .localCheckpoint(true) // feeds the id-list collect AND the re-rank join
    val ids = shortlist.select("neighbor_id").distinct()
      .collect().map(_.getString(0)).toSeq
    if (ids.isEmpty)
      return spark.range(0).select(
        lit("").as("query_id"), lit(0).cast("int").as("rank"),
        lit("").as("neighbor_id"), lit(0.0).as("score"))
    val vecs = corpus
      .select(col(cId).cast("string").as("neighbor_id"), col(cVec).as("_cv"))
      .filter(col("neighbor_id").isin(ids: _*)) // pushed to the scan
    val q = queries.select(col(qId).cast("string").as("query_id"), col(qVec).as("_qv"))
    val scored = shortlist
      .join(vecs, Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(graft.functions.VectorFunctions.dot(col("_qv"), col("_cv")), 6).as("_s"))
    VectorSearch.rankedTopK(scored, Seq("query_id"), col("neighbor_id"), col("_s"), k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), col("score"))
  }
}
