package graft

import graft.model.{Doc, Triplet}
import graft.operators.GraphBuilder
import graft.rag.{CachedNerExtractor, GraphRag, RagConfig}
import graft.sources.{GraphSnapshot, GraphStore, SnapshotNodes, SparseVectors}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The driver-resident serving snapshot: `GraphRag.retrieve` and
  * `retrieveNaive` answer from it with zero Spark jobs, equal to the Spark
  * plan (`retrieveSpark`) field for field, and every write invalidates it. */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    Doc("einstein", "Albert Einstein published the theory of relativity in 1905.",
      Seq(Triplet("Albert Einstein", "published", "theory of relativity"),
        Triplet("theory of relativity", "published in", "1905"))),
    Doc("curie", "Marie Curie discovered radium and polonium.",
      Seq(Triplet("Marie Curie", "discovered", "radium"),
        Triplet("Marie Curie", "discovered", "polonium"))),
    Doc("radium", "Radium glows and was studied in Paris.",
      Seq(Triplet("radium", "studied in", "Paris"))),
    Doc("paris", "Paris hosted the 1905 physics congress.",
      Seq(Triplet("Paris", "hosted", "1905 physics congress"),
        Triplet("1905 physics congress", "discussed", "theory of relativity"))),
    Doc("darwin", "Charles Darwin wrote On the Origin of Species.",
      Seq(Triplet("Charles Darwin", "wrote", "On the Origin of Species"))),
    Doc("newton", "Isaac Newton formulated the laws of motion.",
      Seq(Triplet("Isaac Newton", "formulated", "laws of motion"))))

  private val questions = Seq(
    "When did Albert Einstein publish his theory of relativity?",
    "Where was radium studied?",
    "What did Marie Curie discover?",
    "zzz qqq unmatched gibberish") // NER below yields no entities for it
  private val ner = CachedNerExtractor(Map(
    questions(0) -> Seq("Albert Einstein", "theory of relativity"),
    questions(1) -> Seq("radium"),
    questions(2) -> Seq("Marie Curie", "Marie Curie"), // a repeated entity
    questions(3) -> Seq.empty))

  private def engine(store: GraphStore, graph: String, config: RagConfig) =
    new GraphRag(spark, store, graph, config = config, ner = ner)

  private def newStore(name: String) =
    new GraphStore(spark, Files.createTempDirectory(name).toString)

  /** Every field of both paths' QueryResult, for every question. */
  private def assertSameAsSpark(rag: GraphRag, qs: Seq[String], what: String): Unit = {
    val local = qs.map(q => (rag.retrieve(q), rag.retrieveNaive(q)))
    val sparkPath = parMap(qs)(q => (rag.retrieveSpark(q), rag.retrieveNaiveSpark(q)))
    qs.indices.foreach { i =>
      assert(local(i)._1 == sparkPath(i)._1,
        s"$what / ${qs(i)}:\n snapshot ${local(i)._1}\n spark    ${sparkPath(i)._1}")
      assert(local(i)._2 == sparkPath(i)._2, s"$what / ${qs(i)}: naive")
    }
  }

  private def jobsDuring(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { f; org.apache.spark.sql.graft.Bridge.drainListenerBus(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get()
  }

  /** A graph with a dangling `passage_ids` entry on every relation (ranked
    * first, so it takes a rank and is dropped by the text join) and dangling
    * entity_relation edges both ways (a relation and an entity without rows). */
  private lazy val danglingStore = {
    val store = newStore("snapdangle")
    val t = GraphBuilder.build(spark.createDataset(docs).toDF()
      .select(col("id"), col("text"), col("triplets")), graft.functions.HashEmbedder())
    // the dangling relation hangs off a seed entity of questions(0)
    val someEntity = t.entities.filter(col("name") === "albert einstein").head().getAs[String]("id")
    val someRelation = t.entityRelation.select("relation_id").orderBy("relation_id").head().getString(0)
    store.save("dangle", t.copy(
      relations = t.relations.withColumn("passage_ids",
        concat(array(lit("ghost-passage")), col("passage_ids"))),
      entityRelation = t.entityRelation.unionByName(Seq(
        (someEntity, "ghost-relation", "subject"),
        ("ghost-entity", someRelation, "object")).toDF("entity_id", "relation_id", "role"))))
    store
  }

  test("snapshot size rule: the estimate must fit a quarter of the max heap") {
    val max = 2L << 30
    assert(GraphSnapshot.fits(max / 4, max))
    assert(!GraphSnapshot.fits(max / 4 + 1, max))
    assert(GraphSnapshot.fits(0L, max))
    assert(GraphSnapshot.estimateBytes(1000L) == 8000L)
    // a node table's arrays: 3 rows, 5 non-zeros, widest index 6
    val nodes = new SnapshotNodes(Array("b", "a", "c"), new SparseVectors(
      Array(0, 2, 2, 5), Array(1, 6, 0, 1, 3), Array(1.0, 2.0, 3.0, 4.0, 5.0)))
    assert(nodes.postings.offsets.toSeq == Seq(0, 1, 3, 3, 4, 4, 4, 5))
    assert(nodes.postings.indices.toSeq == Seq(2, 0, 2, 2, 0))
    assert(nodes.postings.values.toSeq == Seq(3.0, 1.0, 4.0, 5.0, 2.0))
    assert(nodes.byId.toSeq == Seq(1, 0, 2))
    val csr = 12L * 5 + 4L * 4 // rows: non-zeros and 4 row offsets
    val postings = 12L * 5 + 4L * 8 // dimensions: non-zeros and 8 offsets
    assert(nodes.idRank.toSeq == Seq(1, 0, 2))
    val byIdAndRanks = 4L * 3 + 4L * 3 // rows in id order, id rank per row
    assert(GraphSnapshot.vectorBytes(nodes) == csr + postings + byIdAndRanks)
    def snap(n: SnapshotNodes) = new GraphSnapshot(Some(7), n, n, Array.fill(3)(""),
      Array.fill(3)(Array.empty[String]), n, Array.fill(3)(""), Map.empty, Map.empty)
    val noVectors = new SnapshotNodes(nodes.ids, new SparseVectors(Array(0, 0, 0, 0),
      Array.empty, Array.empty))
    assert(snap(nodes).sizeBytes - snap(noVectors).sizeBytes ==
      3 * (GraphSnapshot.vectorBytes(nodes) - GraphSnapshot.vectorBytes(noVectors)))
  }

  test("snapshot retrieve equals the Spark path over a config grid, dangling rows included") {
    val base = RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 3)
    val grid = Seq(
      "degree 0" -> base.copy(expansionDegree = 0),
      "degree 1" -> base,
      "degree 2" -> base.copy(expansionDegree = 2),
      "forced eviction" -> base.copy(expansionDegree = 2, relationNumberThreshold = 3),
      "finalTopK 20" -> base.copy(finalTopK = 20),
      "l2" -> base.copy(metric = "l2", entitySimilarityThreshold = -0.9,
        relationSimilarityThreshold = -1.3),
      "all seeds filtered" -> base.copy(entitySimilarityThreshold = 2.0,
        relationSimilarityThreshold = 2.0))
    grid.foreach { case (what, config) =>
      assertSameAsSpark(engine(danglingStore, "dangle", config), questions, what)
    }
    val r = engine(danglingStore, "dangle", base).retrieve(questions(0))
    assert(r.passages.nonEmpty && r.passages.head.rank == 2,
      s"the dangling passage id must take rank 1 and be dropped: ${r.passages}")
    assert(r.expansionHistory.head.addedRelationIds.contains("ghost-relation"))
    assert(!r.relations.exists(_.id == "ghost-relation"))
    val evicting = engine(danglingStore, "dangle",
      base.copy(expansionDegree = 2, relationNumberThreshold = 3)).retrieve(questions(0))
    assert(evicting.evictionApplied)
  }

  test("a warm snapshot retrieve submits zero Spark jobs") {
    val rag = engine(danglingStore, "dangle",
      RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 3))
    rag.retrieve(questions(0)) // builds the snapshot
    val snap = danglingStore.servingSnapshot("dangle").get
    // sparse vectors: 12 bytes per non-zero against 8 × dim per dense row
    val tables = Seq(snap.entities, snap.relations, snap.passages)
    assert(tables.map(_.vectors.nonZeros).sum * 12L <
      tables.map(_.ids.length).sum * 8L * 64 / 4)
    assert(snap.sizeBytes > 0)
    val jobs = jobsDuring {
      questions.foreach { q => rag.retrieve(q); rag.retrieveNaive(q) }
    }
    assert(jobs == 0, s"$jobs Spark jobs on the snapshot path")
  }

  test("an annNProbe config takes the Spark path with unchanged results") {
    val store = newStore("snapann")
    val base = RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 3)
    val annRag = engine(store, "ann", base.copy(annNProbe = Some(4), annNList = 4))
    annRag.addDocumentsWithTriplets(docs)
    val exactRag = engine(store, "ann", base)
    questions.take(3).foreach { q =>
      val exact = exactRag.retrieve(q)
      var ann: graft.model.QueryResult = null
      val jobs = jobsDuring { ann = annRag.retrieve(q) }
      assert(jobs > 0, "an ANN config must not take the snapshot path")
      assert(ann == annRag.retrieveSpark(q))
      assert(ann.passages == exact.passages && ann.relations == exact.relations)
    }
  }

  test("every write path is visible to the next retrieve") {
    val dir = Files.createTempDirectory("snapwrite").toString
    val store = new GraphStore(spark, dir)
    val config = RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 20)
    val rag = engine(store, "w", config)
    // a second store on the same base directory that never writes: its
    // snapshot and cached tables are warm before every write below
    val other = engine(new GraphStore(spark, dir), "w", config)
    def check(what: String, gonePassages: Set[String] = Set.empty,
        goneRelations: Set[String] = Set.empty): Unit = {
      assertSameAsSpark(rag, questions, what)
      questions.foreach { q =>
        val r = rag.retrieve(q)
        assert(!r.passages.exists(h => gonePassages(h.id)), s"$what: deleted passage served")
        assert(!r.relations.exists(h => goneRelations(h.id)), s"$what: deleted relation served")
        assert(!r.expansionHistory.exists(_.addedRelationIds.exists(goneRelations)),
          s"$what: deleted relation expanded")
        assert(!rag.retrieveNaive(q).exists(h => gonePassages(h.id)), s"$what: naive")
        assert(other.retrieve(q) == r, s"$what / $q: the other store served a stale snapshot")
        assert(other.retrieveNaive(q) == rag.retrieveNaive(q), s"$what / $q: other store, naive")
      }
      assert(other.retrieveSpark(questions(1)) == rag.retrieve(questions(1)),
        s"$what: the other store served a stale cached table")
    }
    rag.addDocuments(docs.take(4))
    check("initial index")
    rag.retrieve(questions(0)) // a snapshot of the pre-write state is live
    rag.addDocuments(docs.drop(2)) // full replace
    check("addDocuments", gonePassages = Set("einstein", "curie"))
    rag.graftDocumentsDf(spark.createDataset(docs.take(1)).toDF()
      .select(col("id"), col("text"), col("triplets")))
    check("graftDocumentsDf")
    assert(rag.retrieveNaive(questions(0)).exists(_.id == "einstein"))
    rag.createPassage(docs(1))
    check("createPassage")
    assert(rag.updatePassage("radium", "Polonium and radium were studied in Warsaw."))
    check("updatePassage")
    assert(rag.retrieveNaive("Warsaw polonium").exists(_.text.contains("Warsaw")))
    assert(rag.deletePassage("paris"))
    check("deletePassage", gonePassages = Set("paris"))
    val victim = rag.retrieve(questions(1)).relations.head.id
    assert(rag.deleteRelation(victim))
    check("deleteRelation", gonePassages = Set("paris"), goneRelations = Set(victim))
    store.dropGraph("w")
    questions.foreach { q =>
      assert(scala.util.Try(rag.retrieve(q)).isFailure, "a dropped graph still served")
      assert(scala.util.Try(rag.retrieveSpark(q)).isFailure)
      assert(scala.util.Try(other.retrieve(q)).isFailure, "the other store served a dropped graph")
      assert(scala.util.Try(other.retrieveSpark(q)).isFailure)
    }
  }

  test("a delete through one store is seen by another store on the same base directory") {
    val dir = Files.createTempDirectory("snapversion").toString
    val store = new GraphStore(spark, dir)
    val reader = new GraphStore(spark, dir)
    assert(reader.version("v") == 0L, "a graph without a version file reads as version 0")
    val config = RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 3)
    val writer = engine(store, "v", config)
    writer.addDocuments(docs)
    val v1 = reader.version("v")
    assert(v1 > 0L)
    val rag = engine(reader, "v", config)
    assert(rag.retrieve(questions(1)).passages.exists(_.id == "radium"))
    assert(writer.deletePassage("radium"))
    assert(reader.version("v") > v1 && store.version("v") == reader.version("v"))
    val r = rag.retrieve(questions(1))
    assert(!r.passages.exists(_.id == "radium"), s"a deleted passage served: ${r.passages}")
    assert(r == rag.retrieveSpark(questions(1)))
    store.dropGraph("v")
    assert(reader.version("v") == 0L)
  }

  test("a write between the snapshot build's table reads is never pinned") {
    val store = newStore("snaprace")
    val rag = engine(store, "race", RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 20))
    rag.addDocumentsWithTriplets(docs)
    // the write lands after the passages were read: without the version
    // check the build would register a snapshot still holding "curie"
    var fired = 0
    store.afterSnapshotRead = (_, table) =>
      if (table == "passages" && fired == 0) { fired += 1; rag.deletePassage("curie") }
    try {
      val r = rag.retrieve(questions(2))
      assert(fired == 1)
      assert(!store.servingSnapshot("race").get.passages.ids.contains("curie"))
      assert(r == rag.retrieveSpark(questions(2)))
      assert(!r.passages.exists(_.id == "curie"))
    } finally store.afterSnapshotRead = (_, _) => ()
  }

  test("a snapshot build that loses a file rebuilds; other failures surface") {
    val store = newStore("snaplost")
    val rag = engine(store, "lost", RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 3))
    rag.addDocumentsWithTriplets(docs)
    var failures = 1
    store.afterSnapshotRead = (_, table) =>
      if (table == "relations" && failures > 0) {
        failures -= 1
        throw new java.io.FileNotFoundException("a rewrite committed mid-scan")
      }
    try {
      assert(rag.retrieve(questions(0)) == rag.retrieveSpark(questions(0)))
      assert(failures == 0 && store.servingSnapshot("lost").isDefined)
      store.upsert("lost", "passages", store.table("lost", "passages").limit(1))
      store.afterSnapshotRead = (_, table) =>
        if (table == "relations") throw new IllegalStateException("not a lost file")
      val e = intercept[IllegalStateException](rag.retrieve(questions(0)))
      assert(e.getMessage == "not a lost file")
    } finally store.afterSnapshotRead = (_, _) => ()
    assert(rag.retrieve(questions(0)) == rag.retrieveSpark(questions(0)))
  }
}
