package graft

import graft.model.{Doc, Triplet}
import graft.rag.{CachedNerExtractor, GraphRag, RagConfig}
import graft.sources.GraphStore
import java.nio.file.Files

/** End-to-end port of the reference's offline smoke path (FIXTURES.md §9):
  * documents with inline triplets → index → retrieve → gold passage in top-k.
  * Zero network, deterministic embedder. */
class GraphRagSpec extends SparkSpec {

  private lazy val base = Files.createTempDirectory("graftstore").toString
  private lazy val store = new GraphStore(spark, base)

  private val docs = Seq(
    Doc("einstein", "Albert Einstein\nAlbert Einstein published the theory of relativity in 1905.",
      Seq(Triplet("Albert Einstein", "published", "theory of relativity"),
        Triplet("theory of relativity", "published in", "1905"))),
    Doc("curie", "Marie Curie\nMarie Curie discovered radium and polonium.",
      Seq(Triplet("Marie Curie", "discovered", "radium"),
        Triplet("Marie Curie", "discovered", "polonium"))),
    Doc("darwin", "Charles Darwin\nCharles Darwin wrote On the Origin of Species.",
      Seq(Triplet("Charles Darwin", "wrote", "On the Origin of Species"))),
    Doc("newton", "Isaac Newton\nIsaac Newton formulated the laws of motion.",
      Seq(Triplet("Isaac Newton", "formulated", "laws of motion"))))

  private val question = "When did Albert Einstein publish his theory of relativity?"

  private lazy val rag = new GraphRag(
    spark, store, "smoke",
    config = RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 3),
    ner = CachedNerExtractor(Map(question -> Seq("Albert Einstein", "theory of relativity"))))

  test("indexing builds three collections with expected counts (§3.1)") {
    val stats = rag.addDocumentsWithTriplets(docs)
    assert(stats("passages") == 4)
    assert(stats("relations") == 6)
    // entities: einstein, relativity, 1905, curie, radium, polonium, darwin,
    // origin-of-species, newton, laws-of-motion = 10
    assert(stats("entities") == 10)
  }

  test("query returns the gold passage in top-3 (§3.2, SURVEY §7.3)") {
    rag.addDocumentsWithTriplets(docs)
    val r = rag.retrieve(question)
    assert(r.passages.map(_.id).contains("einstein"),
      s"got ${r.passages.map(_.id)}")
    assert(r.relations.nonEmpty)
    assert(r.expansionHistory.nonEmpty)
    assert(!r.evictionApplied) // 6 relations < threshold 1000
  }

  test("ANN retrieval: full-probe IVF equals exact retrieve; writes drop the index") {
    val astore = new GraphStore(spark, Files.createTempDirectory("annstore").toString)
    val ner = CachedNerExtractor(
      Map(question -> Seq("Albert Einstein", "theory of relativity")))
    val exactRag = new GraphRag(spark, astore, "ann",
      config = RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 3), ner = ner)
    val annRag = new GraphRag(spark, astore, "ann",
      config = RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 3,
        annNProbe = Some(4), annNList = 4), // probe every cell => exact
      ner = ner)
    annRag.addDocumentsWithTriplets(docs) // builds + persists the IVF indexes
    assert(astore.loadAnnIndex("ann", "entities").isDefined)
    assert(astore.loadAnnIndex("ann", "relations").isDefined)

    val exact = exactRag.retrieve(question)
    val ann = annRag.retrieve(question)
    assert(ann.passages.map(_.id) == exact.passages.map(_.id))
    assert(ann.relations.map(_.id) == exact.relations.map(_.id))

    // any write to the base table drops the derived index: stale ANN never serves
    annRag.updatePassage("curie", "Marie Curie\nradioactivity pioneer.")
    assert(astore.loadAnnIndex("ann", "entities").isDefined, "entities untouched")
    // passages have no index, but relation/entity rewrites do drop theirs:
    astore.upsert("ann", "relations",
      spark.createDataFrame(Seq(("deadbeef", "x y z"))).toDF("id", "text"))
    assert(astore.loadAnnIndex("ann", "relations").isEmpty, "stale index survived")
    // retrieval still works via the exact fallback
    assert(annRag.retrieve(question).passages.nonEmpty)
  }

  test("store delete maintains the ANN index (cell-pruned id removal, no drop)") {
    val dstore = new GraphStore(spark, Files.createTempDirectory("anndel").toString)
    val drag = new GraphRag(spark, dstore, "annd",
      config = RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 3,
        annNProbe = Some(4), annNList = 4))
    drag.addDocumentsWithTriplets(docs)
    val before = dstore.loadAnnIndex("annd", "entities").get
      .assignments.select("id").collect().map(_.getString(0)).toSet
    val victim = before.head
    dstore.delete("annd", "entities", Seq(victim))
    // the index SURVIVED the delete and no longer carries the victim
    val after = dstore.loadAnnIndex("annd", "entities")
    assert(after.isDefined, "delete dropped the ANN index instead of maintaining it")
    val ids = after.get.assignments.select("id").collect().map(_.getString(0)).toSet
    assert(ids == before - victim, s"index ids $ids != ${before - victim}")
  }

  test("graft extends the persisted ANN index in place instead of dropping it") {
    val gstore = new GraphStore(spark, Files.createTempDirectory("anngraft").toString)
    val q2 = "What did Ada Lovelace write?"
    val gner = CachedNerExtractor(Map(
      question -> Seq("Albert Einstein", "theory of relativity"),
      q2 -> Seq("Ada Lovelace")))
    val grag = new GraphRag(spark, gstore, "anng",
      config = RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 3,
        annNProbe = Some(4), annNList = 4), // probe every cell => exact
      ner = gner)
    grag.addDocumentsWithTriplets(docs)
    val before = gstore.loadAnnIndex("anng", "entities").get.assignments.count()

    grag.createPassage(Doc("lovelace",
      "Ada Lovelace\nAda Lovelace wrote the first computer program.",
      Seq(graft.model.Triplet("Ada Lovelace", "wrote", "first computer program"))))

    // index survived the graft and grew by the genuinely-new entity ids
    val idxAfter = gstore.loadAnnIndex("anng", "entities")
    assert(idxAfter.isDefined, "graft must preserve the ANN index")
    val ids = idxAfter.get.assignments.select("id")
      .collect().map(_.getString(0)).toSeq
    assert(ids.length == ids.distinct.length, "graft duplicated index rows")
    assert(ids.length > before)
    // the grafted entity is served THROUGH the index (full probe = exact)
    val r = grag.retrieve(q2)
    assert(r.passages.map(_.id).contains("lovelace"), s"got ${r.passages.map(_.id)}")
    // re-grafting the same doc neither duplicates nor drops the index
    grag.createPassage(Doc("lovelace",
      "Ada Lovelace\nAda Lovelace wrote the first computer program.",
      Seq(graft.model.Triplet("Ada Lovelace", "wrote", "first computer program"))))
    val ids2 = gstore.loadAnnIndex("anng", "entities").get.assignments
      .select("id").collect().map(_.getString(0)).toSeq
    assert(ids2.sorted == ids.sorted)
  }

  test("hybrid retrieval fuses dense and lexical runs; lexical index lifecycle") {
    val hstore = new GraphStore(spark, Files.createTempDirectory("hybridstore").toString)
    val hrag = new GraphRag(spark, hstore, "hyb",
      config = RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 3,
        lexicalIndex = true))
    hrag.addDocumentsWithTriplets(docs)
    assert(hstore.loadLexIndex("hyb").isDefined, "indexing must persist the BM25 index")

    // lexical anchor: "polonium" appears only in the curie doc
    val hits = hrag.retrieveHybrid("who discovered polonium")
    assert(hits.nonEmpty && hits.size <= 3)
    assert(hits.map(_.id).contains("curie"), s"got ${hits.map(_.id)}")
    assert(hits.map(_.rank) == (1 to hits.size))

    // identical result through the no-index fallback path
    val nstore = new GraphStore(spark, Files.createTempDirectory("hybridnone").toString)
    val nrag = new GraphRag(spark, nstore, "hyb2",
      config = RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 3))
    nrag.addDocumentsWithTriplets(docs)
    assert(nstore.loadLexIndex("hyb2").isEmpty)
    val nhits = nrag.retrieveHybrid("who discovered polonium")
    assert(nhits.map(h => (h.id, h.rank, h.score)) ==
      hits.map(h => (h.id, h.rank, h.score)))

    // any write touching passages drops the persisted lexical index
    hrag.updatePassage("newton", "Isaac Newton\nRewritten.")
    assert(hstore.loadLexIndex("hyb").isEmpty, "stale lexical index survived a write")
    // retrieval still works via the on-the-fly fallback
    assert(hrag.retrieveHybrid("who discovered polonium").nonEmpty)
  }

  test("diverse retrieval: lambda=1 reproduces KNN order; default demotes a near-copy") {
    val dstore = new GraphStore(spark, Files.createTempDirectory("divstore").toString)
    val drag = new GraphRag(spark, dstore, "div",
      config = RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 2))
    // two near-identical curie passages + one distinct newton passage
    drag.addDocumentsWithTriplets(Seq(
      graft.model.Doc("curie1", "Marie Curie\nMarie Curie discovered polonium.",
        Seq(graft.model.Triplet("Marie Curie", "discovered", "polonium"))),
      graft.model.Doc("curie2", "Marie Curie\nMarie Curie discovered polonium!",
        Seq(graft.model.Triplet("Marie Curie", "discovered", "polonium"))),
      graft.model.Doc("newton", "Isaac Newton\nNewton formulated gravity.",
        Seq(graft.model.Triplet("Newton", "formulated", "gravity")))))
    val q = "who discovered polonium"
    val plain = drag.retrieveDiverse(q, lambda = 1.0)
    assert(plain.size == 2 && plain.map(_.rank) == Seq(1, 2))
    // λ=1 = pure relevance: both curie twins make the cut
    assert(plain.map(_.id).toSet == Set("curie1", "curie2"), plain.map(_.id))
    // default λ: the second curie twin is redundant; newton replaces it
    val div = drag.retrieveDiverse(q)
    assert(div.size == 2 && div.map(_.id).head.startsWith("curie"))
    assert(div.map(_.id).contains("newton"), s"got ${div.map(_.id)}")
  }

  test("metric=l2 reproduces the ip ranking on normalized vectors (d2 = 2 - 2cos)") {
    val mstore = new GraphStore(spark, Files.createTempDirectory("metric").toString)
    val ner = CachedNerExtractor(
      Map(question -> Seq("Albert Einstein", "theory of relativity")))
    // permissive thresholds on BOTH scales (l2 scores are negated distances)
    def cfg(m: String) = RagConfig(entitySimilarityThreshold = -10.0,
      relationSimilarityThreshold = -10.0, finalTopK = 3, metric = m)
    val ipRag = new GraphRag(spark, mstore, "met", config = cfg("ip"), ner = ner)
    val l2Rag = new GraphRag(spark, mstore, "met", config = cfg("l2"), ner = ner)
    ipRag.addDocumentsWithTriplets(docs)
    val ip = ipRag.retrieve(question)
    val l2 = l2Rag.retrieve(question)
    assert(l2.passages.map(_.id) == ip.passages.map(_.id),
      s"l2 ${l2.passages.map(_.id)} vs ip ${ip.passages.map(_.id)}")
    assert(l2.relations.map(_.id) == ip.relations.map(_.id))
  }

  test("cascade deletes maintain ANN + lexical indexes (no drop, dead ids leave)") {
    val cstore = new GraphStore(spark, Files.createTempDirectory("cascidx").toString)
    val crag = new GraphRag(spark, cstore, "casc",
      config = RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 3,
        annNProbe = Some(4), annNList = 4, lexicalIndex = true))
    crag.addDocumentsWithTriplets(docs)
    def entIds = cstore.loadAnnIndex("casc", "entities").get
      .assignments.select("id").collect().map(_.getString(0)).toSet
    def relIds = cstore.loadAnnIndex("casc", "relations").get
      .assignments.select("id").collect().map(_.getString(0)).toSet
    val relBefore = relIds

    // passage cascade: both indexes survive; lex equals a rebuild
    cstore.deletePassageCascade("casc", "darwin")
    assert(cstore.loadAnnIndex("casc", "entities").isDefined)
    assert(cstore.loadLexIndex("casc").isDefined, "passage cascade dropped lex")
    val rebuilt = {
      val idx = graft.operators.Bm25.build(
        cstore.table("casc", "passages"), "id", "text")
      val ps = idx.postings.collect().map(_.toSeq).toSet
      idx.release(); ps
    }
    assert(cstore.loadLexIndex("casc").get.postings.collect().map(_.toSeq).toSet
      == rebuilt, "cascade lex != rebuild")

    // entity cascade: the entity and its incident relations leave the indexes
    val einstein = cstore.table("casc", "entities")
      .filter(org.apache.spark.sql.functions.col("name") === "albert einstein")
      .select("id").collect()(0).getString(0)
    val doomedRels = cstore.table("casc", "entity_relation")
      .filter(org.apache.spark.sql.functions.col("entity_id") === einstein)
      .select("relation_id").collect().map(_.getString(0)).toSet
    assert(doomedRels.nonEmpty)
    cstore.deleteEntityCascade("casc", einstein)
    assert(!entIds.contains(einstein), "dead entity still in ANN index")
    assert(relIds == relBefore -- doomedRels, "incident relations not removed")
  }

  test("graft maintains the lexical index rebuild-exactly, incl. text replacement") {
    val lstore = new GraphStore(spark, Files.createTempDirectory("lexgraft").toString)
    val lrag = new GraphRag(spark, lstore, "lexg",
      config = RagConfig(entitySimilarityThreshold = 0.5, finalTopK = 3,
        lexicalIndex = true))
    lrag.addDocumentsWithTriplets(docs)
    def savedPostings = lstore.loadLexIndex("lexg").get
      .postings.collect().map(_.toSeq).toSet
    def rebuilt = {
      val idx = graft.operators.Bm25.build(
        lstore.table("lexg", "passages"), "id", "text")
      val p = idx.postings.collect().map(_.toSeq).toSet
      val s = (idx.nDocs, idx.avgdl)
      idx.release(); (p, s)
    }
    // graft a NEW passage: the index survives and equals a fresh rebuild
    lrag.createPassage(Doc("lovelace",
      "Ada Lovelace\nAda Lovelace wrote the first computer program.",
      Seq(Triplet("Ada Lovelace", "wrote", "first computer program"))))
    assert(lstore.loadLexIndex("lexg").isDefined, "graft dropped the lex index")
    val (p1, s1) = rebuilt
    assert(savedPostings == p1, "grown lex postings != rebuild")
    val li1 = lstore.loadLexIndex("lexg").get
    assert((li1.nDocs, li1.avgdl) == s1)
    // REPLACE the passage text: old postings leave, new ones enter
    lrag.createPassage(Doc("lovelace",
      "Ada Lovelace\nShe pioneered analytical engine notes.",
      Seq(Triplet("Ada Lovelace", "pioneered", "analytical engine notes"))))
    val (p2, s2) = rebuilt
    assert(savedPostings == p2, "replaced-text lex postings != rebuild")
    val li2 = lstore.loadLexIndex("lexg").get
    assert((li2.nDocs, li2.avgdl) == s2)
    // the replaced text is served lexically; the old text is not
    val hits = lrag.retrieveHybrid("analytical engine notes")
    assert(hits.map(_.id).contains("lovelace"), hits.map(_.id).toString)
  }

  test("expansion history logs per-degree additions (P6)") {
    rag.addDocumentsWithTriplets(docs)
    val r = rag.retrieve(question)
    val degrees = r.expansionHistory.map(_.degree)
    assert(degrees == Seq(0, 1))
    assert(r.expansionHistory.last.relationCount >= r.expansionHistory.head.relationCount)
  }

  test("full query produces a deterministic answer via the template answerer (V6)") {
    rag.addDocumentsWithTriplets(docs)
    val r1 = rag.query(question)
    val r2 = rag.query(question)
    assert(r1.answer == r2.answer)
    assert(r1.answer.nonEmpty)
  }

  test("naive RAG (R6) returns passages") {
    rag.addDocumentsWithTriplets(docs)
    val hits = rag.retrieveNaive("Who discovered radium?")
    assert(hits.nonEmpty)
    assert(hits.map(_.id).contains("curie"))
  }

  test("cascade delete scrubs adjacency (G9, tests/test_graph.py:233-288)") {
    rag.addDocumentsWithTriplets(docs)
    store.deletePassageCascade("smoke", "curie")
    import org.apache.spark.sql.functions._
    assert(store.table("smoke", "passages").filter(col("id") === "curie").count() == 0)
    val stillRef = store.table("smoke", "relations")
      .filter(array_contains(col("passage_ids"), "curie")).count()
    assert(stillRef == 0)
    val entRef = store.table("smoke", "entities")
      .filter(array_contains(col("passage_ids"), "curie")).count()
    assert(entRef == 0)
  }

  test("retrieval on an empty graph returns an empty result, no crash") {
    val estore = new GraphStore(spark, Files.createTempDirectory("emptyg").toString)
    val erag = new GraphRag(spark, estore, "empty")
    erag.addDocumentsWithTriplets(Seq.empty)
    val r = erag.retrieve("anything at all")
    assert(r.passages.isEmpty && r.relations.isEmpty)
    assert(!r.evictionApplied)
    assert(erag.retrieveNaive("still nothing").isEmpty)
  }

  test("a question matching nothing still returns a well-formed (backfilled) result") {
    val r = rag.retrieve("zzz qqq xxyzzy unmatched gibberish")
    // entity threshold filters all seeds; naive backfill may still fill topK
    assert(r.relations.isEmpty || r.relations.size <= 5)
    assert(r.passages.size <= 3)
    assert(!r.evictionApplied)
  }

  test("entityImportance ranks the hub entity first; fuzzy lookup survives typos") {
    rag.addDocumentsWithTriplets(docs)
    val imp = rag.entityImportance(iterations = 5)
      .collect().map(r => (r.getString(1), r.getDouble(2)))
    // marie curie links radium AND polonium — degree 2 vs everyone's 1 within
    // its component; einstein likewise bridges relativity (which links 1905)
    assert(imp.nonEmpty)
    val byName = imp.toMap
    assert(byName("marie curie") > byName("radium"))
    // the hub of the einstein component is the relativity node (linked to
    // BOTH einstein and 1905, which are leaves and tie)
    assert(byName("theory of relativity") > byName("albert einstein"))
    assert(byName("albert einstein") == byName("1905"))
    // typo'd NER output still finds its node, exact hit ranks 0 edits
    val hits = rag.matchEntities(Seq("Albret Einstein", "Marie Curie"), maxDist = 2, k = 2)
    assert(hits.exists(h => h.text == "albert einstein" && h.score == -2.0))
    assert(hits.exists(h => h.text == "marie curie" && h.score == 0.0))
    // returned id is the graph identity (md5 of normalized name)
    val ids = store.table("smoke", "entities").select("id").collect().map(_.getString(0)).toSet
    assert(hits.forall(h => ids.contains(h.id)))
  }

  test("entityImportanceFrom localizes rank around the seed's component") {
    rag.addDocumentsWithTriplets(docs)
    // seed by RAW name — the engine normalizes to the builder's id keying
    val imp = rag.entityImportanceFrom(Seq("Marie Curie"), iterations = 5)
      .collect().map(r => (r.getString(1), r.getDouble(2))).toMap
    // all teleport mass stays in the curie component; einstein's component
    // gets exactly zero — the relative-to-the-query property global PR lacks
    assert(imp("marie curie") > imp("radium"))
    assert(imp("theory of relativity") == 0.0 && imp("albert einstein") == 0.0)
    // unknown seed names are ignored; all-unknown refuses
    val e = intercept[IllegalArgumentException] {
      rag.entityImportanceFrom(Seq("nobody at all"), iterations = 2)
    }
    assert(e.getMessage.contains("seed"))
  }

  test("upsert replaces rows, preserves others (S7)") {
    rag.addDocumentsWithTriplets(docs)
    import org.apache.spark.sql.functions._
    val upd = store.table("smoke", "passages")
      .filter(col("id") === "newton")
      .withColumn("text", lit("Isaac Newton\nRewritten."))
    store.upsert("smoke", "passages", upd)
    val after = store.table("smoke", "passages")
    assert(after.count() == 4)
    assert(after.filter(col("id") === "newton").select("text")
      .head().getString(0).contains("Rewritten"))
  }
}
