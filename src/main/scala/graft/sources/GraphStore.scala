package graft.sources

import graft.operators.GraphTables
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Parquet-backed graph catalog (SURVEY §2.1 S6–S10).
  *
  * Layout: `{base}/{graph}/{entities|relations|passages|entity_relation|
  * entity_passage|relation_passage}.parquet` — one directory per graph, mirroring
  * the reference's prefix-namespaced Milvus collections (milvus.py:121-152).
  * Every table is hash-bucketed by its primary access key ([[BucketedTable]]):
  * node tables by `id`, edge tables by their hop key. Single-row CRUD (upsert,
  * delete, the G9 cascades, incremental graft) rewrites ONLY the buckets
  * containing the touched ids — at 100 TB a passage delete is a handful of
  * bucket rewrites plus narrow edge-table scans, not six full-table rewrites.
  *
  * `save` is full-replace like the reference's drop-and-recreate indexing
  * path (rag.py:354-356); incremental CRUD is a separate path (upsert/delete
  * below), exactly as in the reference (SURVEY §7.5).
  */
final class GraphStore(spark: SparkSession, base: String,
    nBuckets: Int = BucketedTable.DefaultBuckets) {

  private val tableNames = Seq(
    "entities", "relations", "passages",
    "entity_relation", "entity_passage", "relation_passage")

  private def path(graph: String, table: String) = s"$base/$graph/$table.parquet"

  /** Primary access key per table: node tables are point-looked-up by id
    * (R7, neighbors, passage-text fetch); edge tables are hop-scanned by their
    * left key (P2/P3 semi-joins, cascade scrubs). The key is also the bucket
    * key, so point CRUD prunes to one partition directory and, within it,
    * sorted row groups. */
  private val clusterKey = Map(
    "entities" -> "id", "relations" -> "id", "passages" -> "id",
    "entity_relation" -> "entity_id", "entity_passage" -> "entity_id",
    "relation_passage" -> "relation_id")

  /** The bucket count is a LAYOUT property of each stored graph, persisted in
    * a marker file at write time: a store handle opened with a different
    * default must keep pruning with the count the data was actually bucketed
    * with, or every point lookup would read (and every CRUD op rewrite) the
    * wrong partition directories. */
  private val graphBuckets = scala.collection.concurrent.TrieMap.empty[String, Int]
  private def markerPath(graph: String) = s"$base/$graph/_nbuckets"

  private def bucketsFor(graph: String): Int =
    graphBuckets.getOrElseUpdate(graph,
      BucketedTable.readMarker(spark, markerPath(graph))
        .flatMap(s => scala.util.Try(s.toInt).toOption)
        .getOrElse(nBuckets))

  private def bucketOf(graph: String, id: String): Int =
    BucketedTable.bucketOf(id, bucketsFor(graph))

  // ----------------------------------------------------------------- S6 / S9
  /** Full-replace write of all six tables. The writes are submitted
    * CONCURRENTLY — they share the build's checkpointed upstream, so parallel
    * submission overlaps their shuffle/write waits instead of paying six
    * sequential job latencies. */
  def save(graph: String, t: GraphTables): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    // save is full-replace, so the graph adopts THIS handle's bucket count.
    graphBuckets.put(graph, nBuckets)
    BucketedTable.writeMarker(spark, markerPath(graph), nBuckets.toString)
    val writes = Seq(
      "entities" -> t.entities, "relations" -> t.relations, "passages" -> t.passages,
      "entity_relation" -> t.entityRelation, "entity_passage" -> t.entityPassage,
      "relation_passage" -> t.relationPassage
    ).map { case (n, df) => Future {
      BucketedTable.write(df, path(graph, n), clusterKey(n), nBuckets)
    } }
    Await.result(Future.sequence(writes), Duration.Inf)
    tableNames.foreach(committed(graph, _, keepAnn = false, keepLex = false))
  }

  def load(graph: String): GraphTables = GraphTables(
    entities = table(graph, "entities"),
    relations = table(graph, "relations"),
    passages = table(graph, "passages"),
    entityRelation = table(graph, "entity_relation"),
    entityPassage = table(graph, "entity_passage"),
    relationPassage = table(graph, "relation_passage"))

  /** Public reads never expose the `_bucket` layout column. */
  def table(graph: String, name: String): DataFrame =
    BucketedTable.read(spark, path(graph, name)).drop("_bucket")

  // ------------------------------------------------------------ cache registry
  /** One persisted copy per (graph, table), shared by every query against the
    * graph and unpersisted on any write to that table — a long-lived server
    * neither re-scans parquet per request nor accumulates stale cache entries
    * across re-indexes (the reference leans on Milvus' resident index for the
    * same reason). */
  private val cacheRegistry =
    scala.collection.concurrent.TrieMap.empty[(String, String), Versioned[DataFrame]]

  /** The registry entry of the table, replaced (and the old copy unpersisted)
    * when the graph's [[version]] moved since it was cached — a write through
    * another store on the same base directory. */
  def cachedTable(graph: String, name: String): DataFrame = {
    val v = version(graph)
    cacheRegistry.get((graph, name)).filter(_.version != v).foreach { stale =>
      if (cacheRegistry.remove((graph, name), stale)) stale.value.unpersist(blocking = false)
    }
    cacheRegistry.getOrElseUpdate((graph, name), Versioned(v, table(graph, name).cache())).value
  }

  /** Number of live registry entries (test/observability hook). */
  def cachedTableCount: Int = cacheRegistry.size

  /** The one post-commit step of every write to a graph's table, run once
    * its files committed: bump the graph's commit [[version]] on disk, drop
    * the graph's serving snapshot and the table's cached copy, drop the
    * table's ANN index unless `keepAnn` and (passages only) the lexical index
    * unless `keepLex`, then refresh Spark's file listing of the table — a
    * long-lived session (the REST server) would otherwise serve stale rows.
    * Keeping an index is ONLY valid when the caller maintains it itself
    * (cell-pruned deletes, the graft merge's add-only extension). */
  private def committed(graph: String, name: String, keepAnn: Boolean,
      keepLex: Boolean): Unit = {
    commitVersion(graph)
    snapshots.remove(graph)
    cacheRegistry.remove((graph, name)).foreach(_.value.unpersist(blocking = false))
    if (!keepAnn) dropAnnIndex(graph, name)
    if (name == "passages" && !keepLex) dropLexIndex(graph)
    spark.catalog.refreshByPath(path(graph, name))
  }

  // ----------------------------------------------------------- commit version
  /** A graph's commit version, in `{base}/{graph}/_version`: what every store
    * on the base directory compares its snapshot and cached tables with
    * before serving them, so a write through one store (or process) is seen
    * by the next read through any other. Bumped by [[committed]] after
    * each write's files commit, by an atomic file replace; 0 without a
    * version file (a graph written before versions, or dropped). Read with
    * java.nio, like [[listGraphs]]: the base is a local directory. */
  private[graft] def version(graph: String): Long =
    try new String(Files.readAllBytes(versionPath(graph)), "UTF-8").trim.toLong
    catch { case _: java.nio.file.NoSuchFileException => 0L }

  private def versionPath(graph: String) = Paths.get(base, graph, "_version")

  /** The next version is at least the old + 1 and at least the wall clock in
    * ms × 1000, so a graph dropped and written again never repeats a version
    * a reader may hold. Bumps are serialized per JVM; writers in different
    * processes are not (nor are their bucket rewrites). */
  private def commitVersion(graph: String): Unit = GraphStore.versionLock.synchronized {
    val file = versionPath(graph)
    if (Files.isDirectory(file.getParent)) {
      val next = math.max(version(graph) + 1, System.currentTimeMillis() * 1000)
      val tmp = Files.createTempFile(file.getParent, "_version", ".tmp")
      Files.write(tmp, next.toString.getBytes("UTF-8"))
      Files.move(tmp, file, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
  }

  // --------------------------------------------------------- serving snapshot
  /** Driver-resident serving copy of a graph ([[GraphSnapshot]]), built once
    * per commit [[version]] from the parquet tables (never from
    * [[cachedTable]], so it pins no Spark cache of its own), dropped by
    * [[committed]] and rebuilt when the graph's version on disk is not the
    * one it was built from. None when the graph's estimated snapshot
    * size does not fit [[GraphSnapshot.fits]] of this JVM's max heap, or its
    * vectors are not representable exactly; readers then take the Spark path. */
  def servingSnapshot(graph: String): Option[GraphSnapshot] = {
    def current = snapshots.get(graph).filter(_.version == version(graph)).map(_.value)
    current.getOrElse(buildLocks.getOrElseUpdate(graph, new Object).synchronized {
      current.getOrElse(buildSnapshot(graph))
    })
  }

  private val snapshots =
    scala.collection.concurrent.TrieMap.empty[String, Versioned[Option[GraphSnapshot]]]
  private val buildLocks = scala.collection.concurrent.TrieMap.empty[String, Object]

  /** Runs after each table read of a snapshot build, with (graph, table):
    * lets a test interleave a write between the reads deterministically. */
  private[graft] var afterSnapshotRead: (String, String) => Unit = (_, _) => ()

  /** Build a snapshot and register it under the [[version]] read before its
    * first table read, iff the version has not moved by the end of the build.
    * That is exact: every write's files commit before its bump, so a build
    * that read a post-write file either sees the bump here and rebuilds, or
    * registers under a version the next read already finds stale. A build
    * that lost a file to a rewrite committing mid-scan also rebuilds; after
    * [[GraphStore.MaxSnapshotBuilds]] attempts it serves its last build
    * unregistered, or rethrows its last failure. */
  @annotation.tailrec
  private def buildSnapshot(graph: String, attempt: Int = 1): Option[GraphSnapshot] = {
    val ver = version(graph)
    val built = scala.util.Try {
      val parquetBytes = GraphSnapshot.Tables.map(tableFileStats(graph, _)._2).sum
      if (!GraphSnapshot.fits(GraphSnapshot.estimateBytes(parquetBytes),
          Runtime.getRuntime.maxMemory)) None
      else GraphSnapshot.build(table(graph, _), afterSnapshotRead(graph, _))
    }
    val current = version(graph) == ver
    if (current) built.foreach(b => snapshots.put(graph, Versioned(ver, b)))
    val last = attempt == GraphStore.MaxSnapshotBuilds
    built match {
      case scala.util.Success(s) if current || last => s
      case scala.util.Failure(e) if last || (current && !GraphStore.lostFile(e)) => throw e
      case _ => buildSnapshot(graph, attempt + 1)
    }
  }

  /** Bucket-pruned point read: only the partition directories holding `keys`'
    * buckets are scanned (the caller still applies its exact key predicate). */
  private def pruned(graph: String, name: String, keys: Seq[String]): DataFrame = {
    val buckets = keys.map(bucketOf(graph, _)).distinct
    BucketedTable.read(spark, path(graph, name))
      .filter(col("_bucket").isin(buckets: _*)).drop("_bucket")
  }

  /** S9 graph discovery = directory listing (milvus.py:847-978). */
  def listGraphs(): Seq[String] = {
    val p = Paths.get(base)
    if (!Files.isDirectory(p)) Seq.empty
    else Files.list(p).iterator().asScala
      .filter(Files.isDirectory(_))
      .map(_.getFileName.toString).toSeq.sorted
  }

  /** S9 drop. */
  def dropGraph(graph: String): Unit = {
    tableNames.foreach(committed(graph, _, keepAnn = false, keepLex = false))
    graphBuckets.remove(graph)
    BucketedTable.deleteDir(spark, s"$base/$graph")
  }

  /** S10 per-collection row counts (milvus.py:980-1014). */
  def stats(graph: String): Map[String, Long] =
    Seq("entities", "relations", "passages")
      .map(n => n -> table(graph, n).count()).toMap

  // -------------------------------------------------------------- ANN indexes
  /** Persisted IVF index over a node table's embeddings — the reference's
    * resident vector index (AUTOINDEX, config.py:43-50) as a DERIVED artifact:
    * built at indexing time and MAINTAINED through embedding-preserving
    * writes (grafts add, deletes/cascades remove — cell-pruned both ways);
    * any write that could change a surviving embedding (save, upsert) drops
    * it, so a stale index can never serve a query — readers fall back to
    * exact KNN until it is rebuilt. */
  private def annPath(graph: String, tableName: String) =
    s"$base/$graph/ivf_$tableName"

  def saveAnnIndex(graph: String, tableName: String,
      index: graft.operators.IvfIndex.Index): Unit =
    graft.operators.IvfIndex.save(index, annPath(graph, tableName))

  def loadAnnIndex(graph: String, tableName: String)
      : Option[graft.operators.IvfIndex.Index] =
    if (annIndexExists(graph, tableName))
      Some(graft.operators.IvfIndex.load(spark, annPath(graph, tableName)))
    else None

  def annIndexExists(graph: String, tableName: String): Boolean =
    BucketedTable.exists(spark, annPath(graph, tableName))

  private def dropAnnIndex(graph: String, tableName: String): Unit =
    if (annIndexExists(graph, tableName))
      BucketedTable.deleteDir(spark, annPath(graph, tableName))

  // ------------------------------------------------------------ lexical index
  /** Persisted BM25 index over the passages table — the lexical twin of the
    * ANN index ([[graft.operators.Bm25]]), for hybrid dense+sparse retrieval.
    * Built at indexing time. A passages write drops it unless the writer
    * maintains it and passes `preserveLexIndex`: the graft merge
    * (`GraphRag.graftDelta`) and [[deletePassageCascade]] take the replaced or
    * doomed rows out under their stored text ([[deleteFromLexIndex]]) and add
    * the new ones ([[addToLexIndex]]), rebuild-exact although df/avgdl shift
    * corpus-wide; the entity and relation cascades only scrub adjacency
    * arrays, so the index stands. */
  private def lexPath(graph: String) = s"$base/$graph/bm25_passages"

  def saveLexIndex(graph: String, index: graft.operators.Bm25.Index): Unit =
    graft.operators.Bm25.save(index, lexPath(graph))

  def loadLexIndex(graph: String): Option[graft.operators.Bm25.Index] =
    if (BucketedTable.exists(spark, lexPath(graph)))
      Some(graft.operators.Bm25.load(spark, lexPath(graph)))
    else None

  /** Term-bucket-pruned scoring against the saved lexical index (reads only
    * the query terms' buckets — [[graft.operators.Bm25.scoreSaved]]). */
  def scoreLexIndex(graph: String, queries: DataFrame, qId: String,
      qText: String, k: Int): Option[DataFrame] =
    if (BucketedTable.exists(spark, lexPath(graph)))
      Some(graft.operators.Bm25.scoreSaved(spark, lexPath(graph), queries, qId, qText, k))
    else None

  private def dropLexIndex(graph: String): Unit =
    if (BucketedTable.exists(spark, lexPath(graph)))
      BucketedTable.deleteDir(spark, lexPath(graph))

  def lexIndexExists(graph: String): Boolean =
    BucketedTable.exists(spark, lexPath(graph))

  /** (file count, bytes) of a table's parquet directory from the FileSystem
    * listing, no data pass — read by the snapshot size rule
    * ([[buildSnapshot]]) and by `/graphs/{g}/health`. */
  def tableFileStats(graph: String, name: String): (Int, Long) =
    graft.operators.Layout.fileStats(spark, path(graph, name))

  /** Incrementally add `docs(id, text)` to the persisted lexical index —
    * no-op when none exists. Rebuild-exact ([[graft.operators.Bm25.addSavedDocs]]);
    * already-indexed ids are skipped, so callers replacing a passage's TEXT
    * must [[deleteFromLexIndex]] the old rows first. */
  def addToLexIndex(graph: String, docs: DataFrame): Unit =
    if (lexIndexExists(graph))
      graft.operators.Bm25.addSavedDocs(spark, lexPath(graph), docs, "id", "text")

  /** Incrementally remove `docs(id, text)` — the rows AS INDEXED — from the
    * persisted lexical index; no-op when none exists. */
  def deleteFromLexIndex(graph: String, docs: DataFrame): Unit =
    if (lexIndexExists(graph))
      graft.operators.Bm25.deleteSavedDocs(spark, lexPath(graph), docs, "id", "text")

  /** Incrementally add rows (id, embedding, ...) to a persisted ANN index —
    * no-op when none exists. Add-only ([[graft.operators.IvfIndex.addSaved]]):
    * ids already indexed keep their cells, so this is only correct after
    * writes that never change an existing row's embedding (the graft merge's
    * old-wins coalesce). Writes without that guarantee must drop the index
    * (the default) instead. At 100 TB this rewrites a handful of cell
    * directories per grafted batch; the alternative — rebuild per write —
    * would re-cluster the full table. */
  def addToAnnIndex(graph: String, tableName: String, rows: DataFrame): Unit =
    if (annIndexExists(graph, tableName))
      graft.operators.IvfIndex.addSaved(
        spark, annPath(graph, tableName), rows, "id", "embedding")

  // ----------------------------------------------------------------- S7 upsert
  /** Read-modify-write merge: rows in `updates` replace same-id rows, others kept
    * (milvus.py:511-713). Only the buckets containing update ids are rewritten. */
  def upsert(graph: String, tableName: String, updates: DataFrame): Unit =
    rewriteForKeys(graph, tableName, updates, "id") { old =>
      old.join(updates.select("id"), Seq("id"), "left_anti")
        .unionByName(updates, allowMissingColumns = true)
    }

  // ----------------------------------------------------------------- S8 delete
  /** Delete by id batch = anti-join (milvus.py:717-843), pruned to the victims'
    * buckets. */
  def delete(graph: String, tableName: String, ids: Seq[String]): Unit = {
    if (ids.isEmpty) return
    val victims = spark.createDataFrame(ids.map(Tuple1(_))).toDF("id")
    // a pure delete never changes a surviving row's embedding, so the ANN
    // index is MAINTAINED (cell-pruned id removal) instead of dropped — at
    // 100 TB a one-row delete must not invalidate the whole clustering
    rewriteBuckets(graph, tableName, ids.map(bucketOf(graph, _)).distinct,
      preserveAnnIndex = true)(
      _.join(victims, Seq("id"), "left_anti"))
    deleteFromAnnIndex(graph, tableName, ids)
  }

  /** Incrementally remove ids from a persisted ANN index — no-op when none
    * exists. Always valid for pure deletes (surviving embeddings are
    * untouched); writes that may change an embedding must drop the index
    * instead (the rewrite default). */
  private def deleteFromAnnIndex(graph: String, tableName: String, ids: Seq[String]): Unit =
    if (annIndexExists(graph, tableName))
      graft.operators.IvfIndex.deleteSaved(spark, annPath(graph, tableName), ids)

  /** G9 cascade delete of a passage: remove the row AND scrub its id from every
    * neighbor's adjacency arrays + edge tables (graph/graph.py:634-672).
    * The referencing entities/relations come from the edge tables (narrow
    * read-only scans); every rewrite below is pruned to their buckets. */
  def deletePassageCascade(graph: String, passageId: String): Unit = {
    val entBuckets = BucketedTable.distinctBuckets(
      table(graph, "entity_passage").filter(col("passage_id") === passageId),
      "entity_id", bucketsFor(graph))
    val relBuckets = BucketedTable.distinctBuckets(
      table(graph, "relation_passage").filter(col("passage_id") === passageId),
      "relation_id", bucketsFor(graph))
    // the cascade deletes rows and scrubs adjacency ARRAYS — no surviving
    // embedding or passage text changes — so both derived indexes are
    // MAINTAINED: the doomed passage leaves the lexical index under its
    // stored text (pinned before the rewrite replaces the files)
    if (lexIndexExists(graph)) {
      val oldRow = pruned(graph, "passages", Seq(passageId))
        .filter(col("id") === passageId).select("id", "text")
        .localCheckpoint(true)
      deleteFromLexIndex(graph, oldRow)
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(oldRow)
    }
    rewriteBuckets(graph, "passages", Seq(bucketOf(graph, passageId)),
      preserveAnnIndex = true, preserveLexIndex = true)(
      _.filter(col("id") =!= passageId))
    rewriteBuckets(graph, "entities", entBuckets, preserveAnnIndex = true)(
      _.withColumn("passage_ids", array_remove(col("passage_ids"), passageId)))
    rewriteBuckets(graph, "relations", relBuckets, preserveAnnIndex = true)(
      _.withColumn("passage_ids", array_remove(col("passage_ids"), passageId)))
    rewriteBuckets(graph, "entity_passage", entBuckets)(
      _.filter(col("passage_id") =!= passageId))
    rewriteBuckets(graph, "relation_passage", relBuckets)(
      _.filter(col("passage_id") =!= passageId))
  }

  /** G9 cascade delete of an entity (graph/graph.py:237-282): drop the entity, its
    * incident relations, and scrub both from passages' adjacency. */
  def deleteEntityCascade(graph: String, entityId: String): Unit = {
    val eb = bucketOf(graph, entityId)
    // incident relations: bucket-pruned lookup (entity_relation is keyed by entity)
    val dr = pruned(graph, "entity_relation", Seq(entityId))
      .filter(col("entity_id") === entityId)
      .select("relation_id").distinct().collect().map(_.getString(0)).toSeq
    val drBuckets = dr.map(bucketOf(graph, _)).distinct
    // entities sharing a doomed relation (their relation_ids need scrubbing)
    val refEntBuckets =
      if (dr.isEmpty) Seq.empty[Int]
      else BucketedTable.distinctBuckets(
        table(graph, "entity_relation").filter(col("relation_id").isin(dr: _*)),
        "entity_id", bucketsFor(graph))
    // passages referencing the entity or a doomed relation
    val passRefsE = pruned(graph, "entity_passage", Seq(entityId))
      .filter(col("entity_id") === entityId).select("passage_id")
    val passRefs =
      if (dr.isEmpty) passRefsE
      else passRefsE.unionByName(
        pruned(graph, "relation_passage", dr)
          .filter(col("relation_id").isin(dr: _*)).select("passage_id"))
    val passBuckets = BucketedTable.distinctBuckets(passRefs, "passage_id", bucketsFor(graph))

    // delete + adjacency scrub only — the ANN indexes are maintained (the
    // doomed entity and its incident relations leave them explicitly) and
    // the lexical index is untouched (passage TEXT never changes here)
    rewriteBuckets(graph, "entities", (eb +: refEntBuckets).distinct,
      preserveAnnIndex = true) { df =>
      val kept = df.filter(col("id") =!= entityId)
      if (dr.isEmpty) kept
      else kept.withColumn("relation_ids",
        filter(col("relation_ids"), r => !r.isin(dr: _*)))
    }
    if (dr.nonEmpty)
      rewriteBuckets(graph, "relations", drBuckets, preserveAnnIndex = true)(
        _.filter(!col("id").isin(dr: _*)))
    rewriteBuckets(graph, "passages", passBuckets,
      preserveAnnIndex = true, preserveLexIndex = true) { df =>
      val scrubbed = df.withColumn("entity_ids", array_remove(col("entity_ids"), entityId))
      if (dr.isEmpty) scrubbed
      else scrubbed.withColumn("relation_ids",
        filter(col("relation_ids"), r => !r.isin(dr: _*)))
    }
    deleteFromAnnIndex(graph, "entities", Seq(entityId))
    if (dr.nonEmpty) deleteFromAnnIndex(graph, "relations", dr)
    rewriteBuckets(graph, "entity_relation", (eb +: refEntBuckets).distinct) { df =>
      val noEnt = df.filter(col("entity_id") =!= entityId)
      if (dr.isEmpty) noEnt else noEnt.filter(!col("relation_id").isin(dr: _*))
    }
    if (dr.nonEmpty)
      rewriteBuckets(graph, "relation_passage", drBuckets)(
        _.filter(!col("relation_id").isin(dr: _*)))
  }

  /** G9 cascade delete of a relation (graph/graph.py:430-475): drop the relation
    * row, scrub its id from entities' and passages' `relation_ids`, and drop its
    * edge rows — no dangling adjacency survives. */
  def deleteRelationCascade(graph: String, relationId: String): Unit = {
    val rb = Seq(bucketOf(graph, relationId))
    val entBuckets = BucketedTable.distinctBuckets(
      table(graph, "entity_relation").filter(col("relation_id") === relationId),
      "entity_id", bucketsFor(graph))
    val passBuckets = BucketedTable.distinctBuckets(
      pruned(graph, "relation_passage", Seq(relationId))
        .filter(col("relation_id") === relationId),
      "passage_id", bucketsFor(graph))
    // same maintenance contract as the entity cascade: delete + scrub only
    rewriteBuckets(graph, "relations", rb, preserveAnnIndex = true)(
      _.filter(col("id") =!= relationId))
    rewriteBuckets(graph, "entities", entBuckets, preserveAnnIndex = true)(
      _.withColumn("relation_ids", array_remove(col("relation_ids"), relationId)))
    rewriteBuckets(graph, "passages", passBuckets,
      preserveAnnIndex = true, preserveLexIndex = true)(
      _.withColumn("relation_ids", array_remove(col("relation_ids"), relationId)))
    deleteFromAnnIndex(graph, "relations", Seq(relationId))
    rewriteBuckets(graph, "entity_relation", entBuckets)(
      _.filter(col("relation_id") =!= relationId))
    rewriteBuckets(graph, "relation_passage", rb)(
      _.filter(col("relation_id") =!= relationId))
  }

  /** S7 upsert with re-embedding on text change (milvus.py:511-574): fields the
    * update doesn't mention keep their stored values, and the embedding is
    * recomputed exactly when the row is new or its `text` changed — an updated
    * passage never keeps a stale vector. `updates` needs only (id, text, ...);
    * any `embedding` column in it is ignored in favor of the recompute rule. */
  def upsertReembed(graph: String, tableName: String, updates: DataFrame,
      embedder: graft.functions.Embedder): Unit = {
    val upd = updates.drop("embedding")
    val updCols = upd.columns.toSet
    rewriteForKeys(graph, tableName, upd, "id") { old =>
      old.as("o").join(upd.as("n"), Seq("id"), "full_outer")
        .select(old.columns.toIndexedSeq.map {
          case "id" => col("id")
          case "embedding" =>
            when(col("n.text").isNull || col("o.text") === col("n.text"),
              col("o.embedding"))
              .otherwise(embedder.embed(col("n.text"))).as("embedding")
          case c if updCols.contains(c) => coalesce(col(s"n.$c"), col(s"o.$c")).as(c)
          case c => old.schema(c).dataType match {
            // a genuinely-new row must not carry null adjacency arrays —
            // downstream array ops and the REST document view expect [] not null
            case at: org.apache.spark.sql.types.ArrayType =>
              coalesce(col(s"o.$c"), array().cast(at)).as(c)
            case _ => col(s"o.$c").as(c)
          }
        }: _*)
    }
  }

  /** Bucket-pruned read-modify-write for incremental merges (G8 graft, the
    * streaming sink): `f` sees ONLY the buckets containing `keys[keyCol]`'s
    * values and its output replaces exactly those buckets. `f` must emit rows
    * whose keys stay inside those buckets — true for any merge that only
    * touches/inserts the given keys.
    *
    * `preserveAnnIndex` keeps the table's persisted ANN index alive through
    * the rewrite — ONLY valid when `f` never changes an existing row's
    * embedding (insert-new + adjacency-merge shapes); the caller then appends
    * the genuinely-new rows via [[addToAnnIndex]]. */
  def rewriteForKeys(graph: String, tableName: String, keys: DataFrame,
      keyCol: String, preserveAnnIndex: Boolean = false,
      preserveLexIndex: Boolean = false)(
      f: DataFrame => DataFrame): Unit =
    rewriteBuckets(graph, tableName,
      BucketedTable.distinctBuckets(keys, keyCol, bucketsFor(graph)),
      preserveAnnIndex, preserveLexIndex)(f)

  private def rewriteBuckets(graph: String, tableName: String, buckets: Seq[Int],
      preserveAnnIndex: Boolean = false,
      preserveLexIndex: Boolean = false)(f: DataFrame => DataFrame): Unit = {
    BucketedTable.rewriteBuckets(
      spark, path(graph, tableName), clusterKey(tableName), bucketsFor(graph), buckets)(f)
    committed(graph, tableName, preserveAnnIndex, preserveLexIndex)
  }
}

/** A registry entry with the graph [[GraphStore.version]] it was made from. */
private final case class Versioned[T](version: Long, value: T)

object GraphStore {
  /** Snapshot build attempts per retrieve while writes keep moving the graph. */
  val MaxSnapshotBuilds: Int = 5

  /** Serializes commit-version bumps across the stores of one JVM. */
  private val versionLock = new Object

  /** A scan that lost a file: a rewrite committed under it. */
  private def lostFile(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists {
      case _: java.io.FileNotFoundException => true
      case t: org.apache.spark.SparkThrowable =>
        Option(t.getCondition).exists(_.startsWith("FAILED_READ_FILE.FILE_NOT_EXIST"))
      case _ => false
    }
}
