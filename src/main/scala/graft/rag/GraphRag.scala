package graft.rag

import graft.functions.{Embedder, HashEmbedder, Norm, VectorFunctions}
import graft.model._
import graft.operators._
import graft.sources.{GraphSnapshot, GraphStore, SnapshotNodes}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Engine configuration — defaults mirror the reference's
  * (src/vector_graph_rag/config.py:83-106).
  *
  * `annNProbe`: when set, entity/relation retrieval (R1/R4) goes through a
  * persisted IVF index ([[graft.operators.IvfIndex]]) probing that many cells
  * instead of brute-force scoring the whole table — the reference's
  * AUTOINDEX-backed search (config.py:43-50) with the accuracy dial exposed
  * (see IvfIndex.recallCurve for choosing it; nProbe = annNList ⇒ exact).
  * Indexes are built at indexing time; incremental grafts EXTEND them in
  * place (add-only cell merges — the graft never re-embeds existing rows)
  * and deletes/cascades REMOVE the dead ids from them (cell-pruned — pure
  * deletes never change a surviving embedding), while any write that could
  * stale them (upsert, re-index) drops them and retrieval silently falls
  * back to exact KNN until re-indexed. */
final case class RagConfig(
    entityTopK: Int = 20,
    relationTopK: Int = 20,
    entitySimilarityThreshold: Double = 0.9,
    relationSimilarityThreshold: Double = -1.0,
    expansionDegree: Int = 1,
    relationNumberThreshold: Int = 1000,
    rerankSelect: Int = 5,
    finalTopK: Int = 3,
    annNProbe: Option[Int] = None,
    annNList: Int = 64,
    /** Build-and-persist a BM25 index over passages at indexing time, for
      * [[GraphRag.retrieveHybrid]] (dense+sparse RRF). Off by default — the
      * reference retrieves dense-only; hybrid is the engine's extension. */
    lexicalIndex: Boolean = false,
    /** Vector metric for the core retrieve + naive paths — the reference's
      * metric_type dial (config.py:43-54): "ip" (inner product; cosine on
      * the embedder's normalized vectors, the default) or "l2" (Euclidean;
      * scores become NEGATED distances so every downstream higher-is-better
      * stage — thresholds, eviction, ranking — works unchanged; set
      * similarity thresholds on the negated-distance scale). The persisted
      * ANN index path serves "ip" only; "l2" retrieval is exact. On
      * L2-normalized vectors both metrics produce the same ranking (the
      * d² = 2 − 2·cos identity, pinned in GraphRagSpec). */
    metric: String = "ip")

/** The engine façade — the reference's `VectorGraphRAG` (rag.py): Spark
  * DataFrame jobs for indexing and writes, a driver-resident graph snapshot
  * for serving reads.
  *
  * Indexing (§3.1): one declarative DAG docs→triplets→graph→embeddings ending in a
  * full-replace Parquet write (mirroring drop-and-recreate, rag.py:354-356).
  *
  * Query (§3.2): NER → embed → two KNN searches → threshold filters → degree-bounded
  * subgraph expansion → eviction → rerank → relation→passage join → answer. The
  * working set after top-k is tiny, so [[retrieve]] and [[retrieveNaive]] answer
  * from the store's serving snapshot with zero Spark jobs per question, as the
  * reference answers from resident Milvus collections. Graphs over the
  * snapshot's heap share, and ANN retrieval, run the same stages as Spark
  * jobs: broadcast semi-join hops, bounded id lists collected to the driver.
  */
final class GraphRag(
    spark: SparkSession,
    store: GraphStore,
    graph: String,
    config: RagConfig = RagConfig(),
    embedder: Embedder = HashEmbedder(),
    extractor: TripletExtractor = WindowTripletExtractor(),
    ner: NerExtractor = CachedNerExtractor(Map.empty),
    reranker: Reranker = ScoreReranker,
    answerer: AnswerGenerator = TemplateAnswerGenerator) {

  import spark.implicits._

  /** The dimension this engine embeds at — harness-visible so store reuse
    * can validate a persisted graph was built with a compatible embedder. */
  def embedderDim: Int = embedder.dim

  /** Full embedder identity (dim + every other vector-affecting parameter) —
    * the store-reuse check that catches same-dim embedder changes the bare
    * dimension probe cannot (a seed or stopword edit produces an
    * incomparable vector space at the SAME width). */
  def embedderFingerprint: String = embedder.fingerprint

  // ------------------------------------------------------------------ indexing

  /** §3.1 add_documents: extract triplets (X1) then index. Full-replace. */
  def addDocuments(docs: Seq[Doc]): Map[String, Long] = {
    val ex = extractor
    addDocumentsWithTriplets(docs.map(d =>
      if (d.triplets.nonEmpty) d else d.copy(triplets = ex.extract(d.text))))
  }

  /** §3.1 add_documents_with_triplets (rag.py:390-435): pre-extracted path. */
  def addDocumentsWithTriplets(docs: Seq[Doc]): Map[String, Long] = {
    val docsDf = spark.createDataset(docs).toDF()
      .select(col("id"), col("text"), col("triplets"))
    val tables = GraphBuilder.build(docsDf, embedder)
    store.save(graph, tables)
    buildAnnIndexes()
    store.stats(graph)
  }

  /** Build-and-persist the derived retrieval indexes (reference: vector index
    * built at insert time, milvus.py:103-111): IVF over entities/relations
    * when ANN retrieval is enabled, BM25 over passages when hybrid is. */
  private def buildAnnIndexes(): Unit = {
    config.annNProbe.foreach { _ =>
      Seq("entities", "relations").foreach { t =>
        store.saveAnnIndex(graph, t,
          IvfIndex.build(store.table(graph, t), "id", "embedding", config.annNList))
      }
    }
    if (config.lexicalIndex) {
      val idx = Bm25.build(store.table(graph, "passages"), "id", "text")
      store.saveLexIndex(graph, idx)
      // the saved parquet index is the serving copy; the build's checkpointed
      // tf/dl blocks would otherwise accumulate per ingest for the lifetime
      // of the session (the query path reloads from disk, not from these)
      idx.release()
    }
  }

  /** DataFrame-native bulk indexing: `docsDf` (id, text[, triplets]) → graph
    * tables, with NO driver-side materialization of the corpus. When the
    * `triplets` column is absent, extraction (X1) runs distributed as a typed
    * map over the document partitions — the scan→extract→build DAG is one plan.
    * This is the 100 TB ingestion path; the `Seq[Doc]` overloads above are the
    * reference-shaped API facade. */
  def addDocumentsDf(docsDf: DataFrame): Map[String, Long] = {
    val withTriplets =
      if (docsDf.columns.contains("triplets"))
        docsDf.select(col("id"), col("text"), col("triplets"))
      else {
        val ex = extractor
        docsDf.select(col("id"), col("text")).as[(String, String)]
          .map { case (id, text) => Doc(id, text, ex.extract(text)) }
          .toDF().select(col("id"), col("text"), col("triplets"))
      }
    val tables = GraphBuilder.build(withTriplets, embedder)
    store.save(graph, tables)
    buildAnnIndexes()
    store.stats(graph)
  }

  /** G8 incremental single-passage graft (graph/graph.py:479-554): creates missing
    * entities/relations, set-merges adjacency (`array_distinct(array_union(...))`)
    * into existing rows, and appends the passage + edges. The reference's CRUD
    * path, kept separate from the full-replace indexing path (SURVEY §7.5). */
  def createPassage(doc: Doc): Unit =
    graftDelta(GraphBuilder.build(
      spark.createDataset(Seq(doc)).toDF().select(col("id"), col("text"), col("triplets")),
      embedder))

  /** Batch-level incremental graft: the same set-merge semantics as
    * [[createPassage]] for a whole DataFrame of documents (id, text, triplets)
    * at once — one delta build + one merge per table per batch, which is the
    * shape a streaming micro-batch sink needs
    * ([[graft.streaming.StreamingOps.foreachBatchGraft]]). */
  def graftDocumentsDf(docsDf: DataFrame): Unit =
    graftDelta(GraphBuilder.build(
      docsDf.select(col("id"), col("text"), col("triplets")), embedder))

  /** Every merge is bucket-pruned ([[GraphStore.rewriteForKeys]]): only the
    * buckets containing the delta's ids are read and rewritten, so grafting one
    * document into a 100 TB graph rewrites a handful of partition directories,
    * not six full tables.
    *
    * The node merges never change an EXISTING row's embedding (old-wins
    * coalesce below), so the persisted ANN indexes stay valid through a
    * graft: they are preserved and the delta's genuinely-new rows appended
    * incrementally ([[GraphStore.addToAnnIndex]] — add-only, cell-bounded
    * write) instead of dropping to exact-KNN fallback until a full re-index. */
  private def graftDelta(delta: GraphTables): Unit = {
    def mergeAdjacency(tableName: String, d: DataFrame, arrayCols: Seq[String]): Unit =
      store.rewriteForKeys(graph, tableName, d, "id", preserveAnnIndex = true) { old =>
        old.as("o")
          .join(d.as("n"), Seq("id"), "full_outer")
          .select(
            col("id") +:
              old.columns.filterNot(c => c == "id" || arrayCols.contains(c)).map(c =>
                coalesce(col(s"o.$c"), col(s"n.$c")).as(c)) ++:
              arrayCols.map(c => array_distinct(concat(
                coalesce(col(s"o.$c"), array().cast("array<string>")),
                coalesce(col(s"n.$c"), array().cast("array<string>")))).as(c)): _*)
      }
    mergeAdjacency("entities", delta.entities, Seq("relation_ids", "passage_ids"))
    mergeAdjacency("relations", delta.relations, Seq("passage_ids"))
    store.addToAnnIndex(graph, "entities", delta.entities.select("id", "embedding"))
    store.addToAnnIndex(graph, "relations", delta.relations.select("id", "embedding"))
    // The persisted LEXICAL index survives a graft the same way the ANN
    // indexes do, and stays REBUILD-EXACT: ids the delta replaces leave the
    // index with their OLD text first (postings are term-bucketed — the old
    // rows are only locatable through the text as indexed), then the whole
    // delta enters. Rows pinned BEFORE the rewrite replaces their files.
    val maintainLex = store.lexIndexExists(graph)
    val replacedRows = if (maintainLex) {
      val r = store.table(graph, "passages")
        .join(delta.passages.select("id"), Seq("id"), "left_semi")
        .select("id", "text").localCheckpoint(true)
      store.deleteFromLexIndex(graph, r)
      Some(r)
    } else None
    store.rewriteForKeys(graph, "passages", delta.passages, "id",
      preserveLexIndex = maintainLex) { old =>
      old.join(delta.passages.select("id"), Seq("id"), "left_anti")
        .unionByName(delta.passages)
    }
    if (maintainLex) {
      store.addToLexIndex(graph, delta.passages.select("id", "text"))
      replacedRows.foreach(org.apache.spark.sql.graft.Bridge.unpersistCheckpoint)
    }
    Seq(("entity_relation", delta.entityRelation, "entity_id"),
      ("entity_passage", delta.entityPassage, "entity_id"),
      ("relation_passage", delta.relationPassage, "relation_id")).foreach {
      case (n, d, k) =>
        store.rewriteForKeys(graph, n, d, k)(old => old.unionByName(d).distinct())
    }
  }

  // ------------------------------------------------------------------- queries

  /** §3.2 full pipeline: retrieve + answer generation (retrieval hits already
    * carry passage texts). */
  def query(question: String): QueryResult = {
    val r = retrieve(question)
    r.copy(answer = answerer.answer(question, r.passages.map(_.text)))
  }

  /** §3.2 stages 1–8 (no answer LLM call), with V5 naive backfill (rag.py:629-638).
    *
    * Served from the graph's driver-resident snapshot
    * ([[graft.sources.GraphStore.servingSnapshot]]) whenever it may be: ANN
    * retrieval is off, the graph's estimated snapshot fits the heap share,
    * and the query vectors are finite and of the snapshot's width. Then every
    * stage runs on the driver with zero Spark jobs — an exact KNN over the
    * sparse embeddings' posting lists ("ip") or a scan of every row ("l2"),
    * adjacency-map hops through the same expansion loop, the same top-k
    * ordering object — and the result equals the Spark plan's field for
    * field. Otherwise the Spark plan answers ([[retrieveSpark]]). */
  def retrieve(question: String): QueryResult = {
    // Stage 1: NER (X2) + T2 normalization.
    val queryEntities = ner.entities(question)
    snapshotInputs(question +: queryEntities) match {
      case Some((snap, vecs)) => retrieveLocal(snap, vecs, question, queryEntities)
      case None => retrieveSpark(question, queryEntities)
    }
  }

  /** The Spark plan of [[retrieve]], whatever the snapshot rule says. */
  private[graft] def retrieveSpark(question: String): QueryResult =
    retrieveSpark(question, ner.entities(question))

  /** The snapshot path's inputs when it may serve this engine: ANN retrieval
    * is off (the persisted IVF index defines ANN results), the store has a
    * snapshot of the graph, and every query vector is finite (a sparse dot
    * skips 0 × q terms, exact only for finite q) and of the snapshot's width. */
  private def snapshotInputs(texts: Seq[String])
      : Option[(GraphSnapshot, Map[String, Array[Double]])] =
    if (config.annNProbe.isDefined) None
    else store.servingSnapshot(graph).flatMap { snap =>
      val vecs = queryVectors(texts.distinct)
      val fits = vecs.values.forall(v => snap.dim.forall(_ == v.length) &&
        v.forall(x => !x.isNaN && !x.isInfinite))
      if (fits) Some((snap, vecs)) else None
    }

  /** Query vectors from the embedder's driver-side twin; an embedder without
    * one embeds all texts in one collect. */
  private def queryVectors(texts: Seq[String]): Map[String, Array[Double]] = {
    val twins = texts.map(t => embedder.embedOne(t).map(_.toArray))
    if (twins.forall(_.isDefined)) texts.zip(twins.map(_.get)).toMap
    else queryFrame(texts).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toMap
  }

  /** Exact KNN over a snapshot table under config.metric: the top-`k` rows
    * as (id, score), "l2" scores negated distances as in [[bruteKnn]].
    * `copies` repeats each row as a query text repeated in the batch does.
    * "ip" reads only the posting lists of q's non-zero dimensions; "l2"
    * scans every row, since an untouched row's distance is not constant. */
  private def localKnn(nodes: SnapshotNodes, q: Array[Double], k: Int,
      copies: Int = 1): Seq[ScoredId] = config.metric match {
    case "l2" =>
      val nz = q.indices.filter(q(_) != 0.0).toArray
      nodes.knnScan(r => -nodes.vectors.l2(r, q, nz), k, copies)
    case _ => nodes.knnIp(q, k, copies)
  }

  /** [[retrieve]]'s stages 2–8 on the snapshot; each mirrors the Spark stage
    * of [[retrieveSpark]] named in its comment. */
  private def retrieveLocal(snap: GraphSnapshot, vecs: Map[String, Array[Double]],
      question: String, queryEntities: Seq[String]): QueryResult = {
    val qvec = vecs(question)
    // Stage 2+3: entity KNN per query text (a repeated text repeats its
    // rows in the Spark batch) + threshold + dedup-union.
    val entitySeeds = queryEntities.groupBy(identity).toSeq.flatMap { case (t, ts) =>
      localKnn(snap.entities, vecs(t), config.entityTopK, ts.size)
    }.filter(_.score > config.entitySimilarityThreshold).map(_.id)
    // Stage 4: relation KNN on the whole question.
    val relationSeeds = localKnn(snap.relations, qvec, config.relationTopK)
      .filter(_.score > config.relationSimilarityThreshold).map(_.id)
    // Stage 5: the expansion loop over the snapshot's adjacency.
    val (_, subRelations, history) = SubgraphExpansion.expandLocal(
      entitySeeds, relationSeeds, snap.entityRelations, snap.relationEntities,
      config.expansionDegree)
    // Stage 6+7: eviction over the subgraph's relations that have a row.
    val rel = snap.relations
    val (kept, evicted) = Assembly.evictionTopKLocal(
      subRelations.flatMap(rel.rowOf.get).map(r => ScoredId(rel.ids(r), rel.vectors.dot(r, qvec))),
      config.relationNumberThreshold)
    val candRows = kept.map(c => (c.id, snap.relationTexts(rel.rowOf(c.id)), c.score))
    val selected = reranker.rerank(candRows, question, config.rerankSelect)
    // Stage 8: relation→passage first-seen order, naive backfill, then the
    // text join, which drops a ranked id with no passage row.
    val graphPassages = Assembly.passagesForRelationsLocal(
      selected.flatMap(rel.rowOf.get).map(r => snap.relationPassages(r).toSeq), config.finalTopK)
    val naive = localKnn(snap.passages, qvec, config.finalTopK).map(_.id)
    val passages = Assembly.backfillLocal(graphPassages, naive, config.finalTopK)
      .flatMap { case (id, rank) => snap.passages.rowOf.get(id).map(r =>
        RetrievalHit(id, snap.passageTexts(r), 0.0, rank)) }
    result(question, queryEntities, candRows, selected, passages, history, evicted)
  }

  /** The QueryResult both paths assemble: relations in rerank order with
    * their candidate text and eviction score. */
  private def result(question: String, queryEntities: Seq[String],
      candRows: Seq[(String, String, Double)], selected: Seq[String],
      passages: Seq[RetrievalHit], history: Seq[ExpansionStep],
      evicted: Boolean): QueryResult = {
    val scoreById = candRows.map(c => c._1 -> c._3).toMap
    QueryResult(
      question = question,
      answer = "",
      passages = passages,
      relations = selected.zipWithIndex.map { case (id, i) =>
        val text = candRows.find(_._1 == id).map(_._2).getOrElse("")
        RetrievalHit(id, text, scoreById.getOrElse(id, 0.0), i + 1) },
      namedEntities = queryEntities,
      expansionHistory = history,
      evictionApplied = evicted)
  }

  /** The Spark plan: the three node tables come from the store's cache
    * registry ([[graft.sources.GraphStore.cachedTable]]): one persisted copy
    * per (graph, table) shared across calls, unpersisted by the store on any
    * write — repeated queries never re-scan parquet and a long-lived server
    * never accumulates stale entries. */
  private def retrieveSpark(question: String, queryEntities: Seq[String]): QueryResult = {
    val entitiesT = store.cachedTable(graph, "entities")
    val relationsT = store.cachedTable(graph, "relations")
    val passagesT = store.cachedTable(graph, "passages")
    val entityRelationT = store.cachedTable(graph, "entity_relation")

    // Node-table KNN: through the persisted IVF index when ANN retrieval is
    // enabled AND the index exists (any write drops it — exact fallback), else
    // brute-force. Both produce (query_id, rank, neighbor_id, score).
    def nodeKnn(queries: DataFrame, tbl: DataFrame, tableName: String, k: Int): DataFrame =
      (for {
        nProbe <- config.annNProbe
        if config.metric == "ip" // the IVF artifact is an IP index
        idx <- store.loadAnnIndex(graph, tableName)
      } yield IvfIndex.search(idx, queries, "qtext", "qvec", nProbe, k))
        .getOrElse(bruteKnn(queries, tbl, k))

    // Stage 2+3: embed query entities, entity KNN + threshold + dedup-union (R1–R3).
    val entitySeeds: DataFrame =
      if (queryEntities.isEmpty) spark.emptyDataset[String].toDF("entity_id")
      else {
        val hits = nodeKnn(queryFrame(queryEntities), entitiesT, "entities", config.entityTopK)
        VectorSearch.dedupUnion(
            VectorSearch.thresholdFilter(hits, config.entitySimilarityThreshold))
          .select(col("neighbor_id").as("entity_id"))
      }

    // Stage 4: relation KNN on the whole question (R4–R5).
    val qvecDf = queryFrame(Seq(question))
    val relationHits = VectorSearch.thresholdFilter(
      nodeKnn(qvecDf, relationsT, "relations", config.relationTopK),
      config.relationSimilarityThreshold)
    val relationSeeds = relationHits.select(col("neighbor_id").as("relation_id"))

    // Stage 5: subgraph expansion (P1–P6). The seeds are lazy KNN subplans;
    // expand collects each once and runs every hop from driver-local frames.
    val sub = SubgraphExpansion.expand(
      entitySeeds, relationSeeds, entityRelationT, config.expansionDegree)

    // Stage 6+7: eviction (V1) fused with candidate-text fetch — ONE aggregation
    // job returns the kept rows with id, text, and question score in rank order.
    // The question embedding comes from the embedder's driver-side twin when
    // available (no Spark job for one vector); the subgraph id set is bounded
    // and local — broadcast it over the relations scan.
    val qvec = embedder.embedOne(question).getOrElse(
      qvecDf.select("qvec").as[Seq[Double]].head())
    val candidates = relationsT
      .join(broadcast(sub.relationIds.withColumnRenamed("relation_id", "id")),
        Seq("id"), "left_semi")
      .select(col("id"), col("text"), col("embedding"))
    val (candRows, evicted) =
      Assembly.evictionTopKRows(candidates, qvec, config.relationNumberThreshold)
    val selected = reranker.rerank(candRows, question, config.rerankSelect)

    // Stage 8: relation→passage join (V4) + V5 naive backfill + text fetch,
    // all lazily composed into ONE collected job (the naive KNN, the first-seen
    // window, the backfill union, and the broadcast text join share it).
    val ranked = selected.zipWithIndex
      .map { case (id, i) => (id, i + 1) }.toDF("relation_id", "rel_rank")
    val graphPassages = Assembly.passagesForRelations(ranked, relationsT, config.finalTopK)
    val naive = naivePassageHits(qvecDf, passagesT)
    val finalRows = passagesT.select(col("id").as("passage_id"), col("text"))
      .join(broadcast(Assembly.backfill(graphPassages, naive, config.finalTopK)),
        Seq("passage_id"))
      .orderBy("rank").collect()

    result(question, queryEntities, candRows, selected,
      finalRows.map(r => RetrievalHit(r.getString(0), r.getString(1), 0.0, r.getInt(2))).toSeq,
      sub.history, evicted)
  }

  /** R6 naive RAG: passage KNN only (retriever.py:367-385), from the graph's
    * snapshot when [[retrieve]] would use it, else [[retrieveNaiveSpark]]. */
  def retrieveNaive(question: String): Seq[RetrievalHit] =
    snapshotInputs(Seq(question)) match {
      case Some((snap, vecs)) =>
        localKnn(snap.passages, vecs(question), config.finalTopK).zipWithIndex.map {
          case (h, i) => RetrievalHit(h.id, snap.passageTexts(snap.passages.rowOf(h.id)), 0.0, i + 1)
        }
      case None => retrieveNaiveSpark(question)
    }

  /** The Spark plan of [[retrieveNaive]]: the KNN and the text fetch compose
    * lazily into one collected job. */
  private[graft] def retrieveNaiveSpark(question: String): Seq[RetrievalHit] = {
    val qvecDf = queryFrame(Seq(question))
    val passagesT = store.cachedTable(graph, "passages")
    passagesT.select(col("id").as("passage_id"), col("text"))
      .join(broadcast(naivePassageHits(qvecDf, passagesT)), Seq("passage_id"))
      .orderBy("rank").collect()
      .map(r => RetrievalHit(r.getString(0), r.getString(1), 0.0, r.getInt(2)))
      .toSeq
  }

  /** Hybrid retrieval: dense passage KNN + BM25 lexical run, fused with
    * reciprocal-rank fusion ([[HybridFusion.rrf]]) — the standard production
    * upgrade over either run alone. Both runs go `runDepth` deep (RRF fuses
    * better from deeper runs than the final cut), the fused list is cut at
    * `finalTopK`. Uses the persisted lexical index when present (term-bucket-
    * pruned scan); falls back to an on-the-fly index build otherwise. */
  def retrieveHybrid(question: String): Seq[RetrievalHit] = {
    val k = config.finalTopK
    val runDepth = math.max(2 * k, 10)
    val passagesT = store.cachedTable(graph, "passages")
    val qvecDf = queryFrame(Seq(question))
    val dense = VectorSearch.knnJoin(
      qvecDf, passagesT, "qtext", "qvec", "id", "embedding", runDepth)
      .select(col("query_id"), col("rank"), col("neighbor_id").as("doc_id"))
    val qDf = Seq(question).toDF("qtext")
    val sparse = store.scoreLexIndex(graph, qDf, "qtext", "qtext", runDepth)
      // materialize=false: this is a one-shot query-time build in a possibly
      // long-lived server — eager checkpoints here would leak block-manager
      // blocks per query (nothing unpersists them); the lazy DAG runs once
      // inside the single scoring action and leaves nothing behind
      .getOrElse(Bm25.score(
        Bm25.build(passagesT, "id", "text", materialize = false),
        qDf, "qtext", "qtext", runDepth))
      .select(col("query_id"), col("rank"), col("doc_id"))
    val fused = HybridFusion.rrf(Seq(dense, sparse), k)
    passagesT.select(col("id").as("doc_id"), col("text"))
      .join(broadcast(fused), Seq("doc_id"))
      .orderBy("rank")
      .select("doc_id", "text", "score", "rank").collect()
      .map(r => RetrievalHit(r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .toSeq
  }

  /** Diversity-reranked retrieval: a dense passage run `runDepth` deep,
    * MMR-selected down to `finalTopK` ([[Assembly.mmrSelect]]) — near-copies
    * of an already-chosen passage (chunk overlaps, boilerplate twins) rank
    * below fresh content even at higher raw similarity, so the final context
    * window carries `finalTopK` DISTINCT pieces of evidence rather than one
    * passage's duplicates. `lambda` trades relevance against diversity
    * (1 = plain KNN order; default 1/2). Candidates are a top-k by
    * construction, satisfying mmrSelect's broadcast-small contract. */
  def retrieveDiverse(question: String, lambda: Double = 0.5): Seq[RetrievalHit] = {
    val k = config.finalTopK
    val runDepth = math.max(2 * k, 10)
    val passagesT = store.cachedTable(graph, "passages")
    val qvecDf = queryFrame(Seq(question))
    val cand = VectorSearch.knnJoin(
        qvecDf, passagesT, "qtext", "qvec", "id", "embedding", runDepth)
      .select(col("neighbor_id").as("id"), col("score").as("rel"))
      .join(passagesT.select(col("id"), col("embedding")), Seq("id"))
    val picks = Assembly.mmrSelect(cand, "id", "rel", "embedding", k, lambda)
    passagesT.select(col("id").as("pick_id"), col("text"))
      .join(broadcast(picks), Seq("pick_id"))
      .orderBy("rank")
      .select("pick_id", "text", "mmr_score", "rank").collect()
      .map(r => RetrievalHit(r.getString(0), r.getString(1), r.getDouble(2), r.getInt(3)))
      .toSeq
  }

  def stats(): Map[String, Long] = store.stats(graph)

  /** Structural entity importance: damped [[PageRank]] over the
    * subject↔object co-occurrence graph (entities linked by a relation are
    * mutual neighbors). The ranking orders curation budgets, seeds, and
    * eviction priorities by how central an entity is to the knowledge graph —
    * a signal embeddings don't carry. Returns (id, name, pr) descending.
    * The edge list derives from the relations table in one projection; the
    * iteration plan is PageRank.run's zero-exchange shape. */
  def entityImportance(iterations: Int = 5): DataFrame =
    namedRanking(PageRank.run(entityEdges(), iterations))

  /** [[entityImportance]], personalized: teleport mass returns to the given
    * seed entities (by NAME, T2-normalized to ids the same way the builder
    * keys them), so the ranking is importance RELATIVE to a query's entity
    * hits — what a retriever wants when ordering an expanded subgraph, where
    * global PageRank promotes corpus-wide hubs regardless of the question.
    * Unknown/edge-less seed names are ignored; at least one must survive. */
  def entityImportanceFrom(seedNames: Seq[String], iterations: Int = 5): DataFrame = {
    require(seedNames.nonEmpty, "entityImportanceFrom needs at least one seed name")
    val seeds = seedNames.toDF("raw")
      .select(graft.functions.Norm.idOf(graft.functions.Norm.normPhrase(col("raw"))).as("id"))
    namedRanking(PageRank.personalized(entityEdges(), seeds, iterations))
  }

  /** The entity graph PageRank runs on: each relation's `entity_ids[0]` ↔
    * `entity_ids[1]` in both directions, self-loops dropped, deduplicated. */
  private def entityEdges(): DataFrame = {
    val e = store.cachedTable(graph, "relations")
      .select(col("entity_ids").getItem(0).as("src"),
        col("entity_ids").getItem(1).as("dst"))
      .filter(col("src") =!= col("dst"))
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** `(id, pr)` ranks joined to entity names, highest rank first, ties by id. */
  private def namedRanking(ranks: DataFrame): DataFrame =
    ranks.join(store.cachedTable(graph, "entities").select(col("id"), col("name")),
        Seq("id"), "left")
      .select(col("id"), col("name"), col("pr"))
      .orderBy(col("pr").desc, col("id").asc)

  /** Typo-tolerant entity lookup ([[FuzzyMatch]]): each probe name finds its
    * nearest entity names by edit distance over T2-normalized text — the
    * robustness layer over G2's exact-name identity for noisy NER output.
    * Probes are query-sized (broadcast). */
  def matchEntities(probes: Seq[String], maxDist: Int = 2, k: Int = 3): Seq[RetrievalHit] = {
    if (probes.isEmpty) return Seq.empty
    val probeDf = probes.zipWithIndex.map { case (p, i) => (i.toString, p) }
      .toDF("pid", "raw")
      .select(col("pid"), Norm.normPhrase(col("raw")).as("probe"))
    FuzzyMatch.topKByEditDistance(
        store.cachedTable(graph, "entities"), "name", "name",
        probeDf, "pid", "probe", maxDist, k)
      .select("probe_id", "match", "dist", "rank").collect()
      .map { r =>
        val name = r.getString(1)
        // entity identity IS md5(normalized name) (Norm.idOf / G2)
        RetrievalHit(
          id = org.apache.commons.codec.digest.DigestUtils.md5Hex(name),
          text = name, score = -r.getInt(2).toDouble, rank = r.getInt(3))
      }
      .toSeq
  }

  // -------------------------------------------------------------- CRUD surface

  /** Document update (api/app.py:765-820 → milvus.py:511-574): merge new text
    * into the passage row, re-embedding iff the text actually changed. Returns
    * false (and changes nothing) when the document does not exist — the
    * reference's update route only updates existing documents. */
  def updatePassage(id: String, text: String): Boolean = {
    val exists = hasRow("passages", id)
    if (exists)
      store.upsertReembed(graph, "passages", Seq((id, text)).toDF("id", "text"), embedder)
    exists
  }

  /** Document delete with cascade (api/app.py:822-874 → graph/graph.py:634-672).
    * Existence is probed FIRST: deleting an unknown id returns false and runs
    * zero rewrites — the reference's delete_passage returns False, and the
    * cascade is several table rewrites that a missing id must not pay for. */
  def deletePassage(id: String): Boolean = {
    val exists = hasRow("passages", id)
    if (exists) store.deletePassageCascade(graph, id)
    exists
  }

  /** Relation delete with cascade (graph/graph.py:430-475); false when absent. */
  def deleteRelation(id: String): Boolean = {
    val exists = hasRow("relations", id)
    if (exists) store.deleteRelationCascade(graph, id)
    exists
  }

  /** R7 + one-hop neighborhood (api/app.py:697-761): the entity, its incident
    * relations (id-ordered, capped at `limit` — graph/graph.py:717), and the
    * entities at the far end of those relations. Semi-joins against the edge
    * table; only the bounded result is collected. */
  def neighbors(entityId: String, limit: Int = 50): NeighborResult = {
    val er = store.table(graph, "entity_relation")
    val entities = store.table(graph, "entities")
    val entity = entities.filter(col("id") === entityId)
      .select("id", "name").collect().headOption
      .map(r => NeighborEntity(r.getString(0), r.getString(1)))
    val relIds = er.filter(col("entity_id") === entityId)
      .select("relation_id").distinct().orderBy("relation_id").limit(limit)
    val relations = store.table(graph, "relations")
      .join(relIds.withColumnRenamed("relation_id", "id"), Seq("id"), "left_semi")
      .select("id", "text").orderBy("id").collect()
      .zipWithIndex.map { case (r, i) => RetrievalHit(r.getString(0), r.getString(1), 0.0, i + 1) }
    val nbrIds = er.join(relIds, Seq("relation_id"), "left_semi")
      .filter(col("entity_id") =!= entityId)
      .select(col("entity_id").as("id")).distinct()
    val nbrs = entities.join(nbrIds, Seq("id"), "left_semi")
      .select("id", "name").orderBy("id").collect()
      .map(r => NeighborEntity(r.getString(0), r.getString(1)))
    NeighborResult(entity, relations.toSeq, nbrs.toSeq)
  }

  /** Metric-dispatched exact KNN (config.metric): "l2" scores are negated
    * distances so downstream higher-is-better logic is metric-agnostic. */
  private def bruteKnn(queries: DataFrame, tbl: DataFrame, k: Int): DataFrame =
    config.metric match {
      case "l2" => VectorSearch.knnJoinL2(
          queries, tbl, "qtext", "qvec", "id", "embedding", k)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          (-col("dist")).as("score"))
      case _ => VectorSearch.knnJoin(
        queries, tbl, "qtext", "qvec", "id", "embedding", k)
    }

  /** The query frame of `texts`: (qtext, qvec), embedded by the engine's embedder. */
  private def queryFrame(texts: Seq[String]): DataFrame =
    texts.toDF("qtext").select(col("qtext"), embedder.embed(col("qtext")).as("qvec"))

  /** Whether the graph's `table` has a row with this id (a one-row probe). */
  private def hasRow(table: String, id: String): Boolean =
    !store.table(graph, table).filter(col("id") === id).limit(1).isEmpty

  private def naivePassageHits(qvecDf: DataFrame, passagesT: DataFrame): DataFrame =
    bruteKnn(qvecDf, passagesT, config.finalTopK)
      .select(col("neighbor_id").as("passage_id"), col("rank"))

}
