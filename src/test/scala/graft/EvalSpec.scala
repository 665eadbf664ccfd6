package graft

import graft.eval.Evaluate.evalStopwords
import graft.eval.Recall
import graft.model.{Doc, Triplet}
import graft.rag.{CachedNerExtractor, GraphRag, RagConfig}
import graft.sources.{GraphStore, Loaders}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** E2E port of the reference's offline evaluation path (SURVEY §5, FIXTURES §9):
  * corpus JSON + pre-extracted OpenIE triplets + NER TSV cache → index →
  * per-question retrieve → Recall@k vs gold supporting-fact titles. Zero network.
  */
class EvalSpec extends SparkSpec {
  import spark.implicits._

  private def res(n: String) = getClass.getResource(s"/eval/$n").getPath

  private lazy val nerCache = Loaders.readNerCache(spark, res("ner_cache.tsv"))
  private lazy val questions = Loaders.readJsonCorpus(spark, res("test_questions.json"))
  private lazy val openie = Loaders.readExtractedTriplets(spark, res("openie_results.json"))

  private lazy val store =
    new GraphStore(spark, Files.createTempDirectory("evalstore").toString)

  private lazy val rag: GraphRag = {
    val docs = openie.collect().map { r =>
      val title = r.getString(0)
      val passage = r.getString(1)
      val triples = r.getSeq[scala.collection.Seq[String]](2)
        .map(t => Triplet(t(0), t(1), t(2))).toSeq
      Doc(title, passage, triples)
    }.toSeq
    // dim=1024 matches eval.Evaluate: the r14 fixture carries ~800 distinct
    // invented tokens — at 256 buckets that is ~4 tokens/bucket and
    // collision noise reaches the two-token signal tier (the r12 lesson,
    // one scale-up later); 1024 is also the reference's real embedder width
    val g = new GraphRag(spark, store, "eval",
      config = RagConfig(entitySimilarityThreshold = 0.55,
        relationSimilarityThreshold = 0.3, finalTopK = 5),
      embedder = graft.functions.HashEmbedder(dim = 1024, stopwords = evalStopwords),
      ner = CachedNerExtractor(nerCache))
    g.addDocumentsWithTriplets(docs)
    g
  }

  /** Every question as (id, text). Retrieves run on the store's serving
    * snapshot: no Spark job each, so the loops cover the whole fixture. */
  private lazy val qRows =
    questions.select(col("_id"), col("question")).as[(String, String)].collect().toSeq

  private lazy val gold = Recall.goldTitles(
    questions.select(col("_id").as("question_id"),
      col("supporting_facts").cast("array<array<string>>")))

  /** eval.Evaluate's configuration over this spec's store (the same graph:
    * finalTopK only cuts the ranked list). */
  private val evaluateConfig = RagConfig(entitySimilarityThreshold = 0.55,
    relationSimilarityThreshold = 0.3, finalTopK = Recall.kGrid.max)

  private def evalRag(config: RagConfig): GraphRag = {
    rag // indexes the store once
    new GraphRag(spark, store, "eval", config = config,
      embedder = graft.functions.HashEmbedder(dim = 1024, stopwords = evalStopwords),
      ner = CachedNerExtractor(nerCache))
  }

  private def macroRecall(hits: Seq[(String, Int, String)], ks: Seq[Int]): Map[Int, Double] = {
    val row = Recall.macroAverage(
      Recall.recallAtK(hits.toDF("question_id", "rank", "item"), gold, ks), ks).collect().head
    ks.map(k => k -> row.getAs[Double](s"avg_recall_at_$k")).toMap
  }

  test("loaders parse corpus, questions, OpenIE docs and NER TSV (S4/S5)") {
    assert(Loaders.readJsonCorpus(spark, res("test_corpus.json")).count() == 468)
    assert(questions.count() == 150)
    assert(openie.count() == 468)
    assert(nerCache("When did Albert Einstein publish his theory of relativity?") ==
      Seq("albert einstein", "theory of relativity"))
    // triples are arity-filtered arrays: every doc keeps at least one, the
    // legacy block keeps its 2-3 (the multi-hop chains carry exactly one)
    val t0 = openie.select(size(col("triples"))).as[Int].collect()
    assert(t0.forall(_ >= 1) && t0.max >= 2)
  }

  test("readJsonlRouted splits parse failures to quarantine, keeps schema-drift rows") {
    val dir = Files.createTempDirectory("jsonl").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/c.jsonl"),
      ("""{"id": 1, "text": "good row"}""" + "\n" +
        """{"id": 2, "text": "also fine"}""" + "\n" +
        """{"id": 3, "text": "truncated""" + "\n" + // malformed: quarantined
        """{"id": 4}""" + "\n" // parses; missing field stays null (policy, not parse)
        ).getBytes("UTF-8"))
    val (good, bad) = Loaders.readJsonlRouted(spark, s"$dir/c.jsonl",
      "id BIGINT, text STRING")
    val rows = good.orderBy("id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSeq
    assert(rows == Seq((1L, Some("good row")), (2L, Some("also fine")),
      (4L, None)), rows)
    val quarantined = bad.collect().map(_.getString(0)).toSeq
    assert(quarantined.size == 1 && quarantined.head.contains("truncated"),
      quarantined)
  }

  test("graph-RAG recall@k on the offline fixture (M1-M3)") {
    val recall = macroRecall(qRows.flatMap { case (qid, q) =>
      rag.retrieve(q).passages.map(h => (qid, h.rank, h.id))
    }, Seq(1, 2, 5))
    assert(recall(5) >= 0.8, s"recall@5 = ${recall(5)}")
    assert(recall(1) > 0.0)
  }

  test("graph and naive recall over all questions equal EVALGRID.json at Evaluate's config") {
    val grid = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File("EVALGRID.json"))
    val r = evalRag(evaluateConfig)
    val graph = macroRecall(qRows.flatMap { case (qid, q) =>
      r.retrieve(q).passages.map(h => (qid, h.rank, h.id))
    }, Recall.kGrid)
    val naive = macroRecall(qRows.flatMap { case (qid, q) =>
      r.retrieveNaive(q).map(h => (qid, h.rank, h.id))
    }, Recall.kGrid)
    Seq("graph_rag" -> graph, "naive_rag" -> naive).foreach { case (name, got) =>
      Recall.kGrid.foreach { k =>
        val want = grid.get(name).get(s"recall_at_$k").asDouble()
        assert(math.abs(got(k) - want) < 5e-7, s"$name recall@$k: $got vs $want")
      }
    }
  }

  test("snapshot retrieve equals the Spark path on the eval questions over a config grid") {
    // "?!" normalizes to no tokens: NER yields no entities, a zero query vector
    val qs = qRows.map(_._2) :+ "?!"
    val grid = Seq(
      "Evaluate's config" -> evaluateConfig,
      "degree 0" -> evaluateConfig.copy(expansionDegree = 0),
      "degree 2" -> evaluateConfig.copy(expansionDegree = 2),
      "forced eviction" -> evaluateConfig.copy(relationNumberThreshold = 3),
      "finalTopK 3" -> evaluateConfig.copy(finalTopK = 3),
      // the same cosine cuts on the negated-distance scale: d = sqrt(2 - 2cos)
      "l2" -> evaluateConfig.copy(metric = "l2",
        entitySimilarityThreshold = -math.sqrt(2 - 2 * 0.55),
        relationSimilarityThreshold = -math.sqrt(2 - 2 * 0.3)),
      "every seed filtered" -> evaluateConfig.copy(
        entitySimilarityThreshold = 1.5, relationSimilarityThreshold = 1.5))
    // Every question at Evaluate's config; each other grid point on every
    // ninth question plus "?!" — a Spark-path retrieve is ~3 s of driver jobs
    val sample = qs.indices.filter(i => i % 9 == 0 || i == qs.size - 1).map(qs)
    val naiveChecked = Set("Evaluate's config", "finalTopK 3", "l2")
    grid.foreach { case (what, config) =>
      val r = evalRag(config)
      val asked = if (what == "Evaluate's config") qs else sample
      val sparkPath = parMap(asked)(q => (r.retrieveSpark(q),
        if (naiveChecked(what)) r.retrieveNaiveSpark(q) else Seq.empty))
      asked.zip(sparkPath).foreach { case (q, (want, wantNaive)) =>
        val local = r.retrieve(q)
        assert(local == want, s"$what / $q:\n snapshot $local\n spark    $want")
        if (naiveChecked(what))
          assert(r.retrieveNaive(q) == wantNaive, s"$what / $q: naive")
      }
    }
  }

  test("recall counts a gold item retrieved at two ranks <= k exactly once (M1)") {
    // evaluate.py:177-197 computes |set(retrieved[:k]) ∩ gold| / |gold| — a
    // duplicate hit must not push recall past 1.0.
    val retrieved = Seq(
      ("q1", 1, "a"), ("q1", 2, "a"), ("q1", 3, "b"), // "a" retrieved twice
      ("q2", 1, "x")).toDF("question_id", "rank", "item")
    val gold = Seq(("q1", "a"), ("q1", "b"), ("q2", "x"), ("q2", "y"))
      .toDF("question_id", "item")
    val perQ = Recall.recallAtK(retrieved, gold, Seq(2, 5)).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(perQ("q1") == (0.5, 1.0)) // at k=2 only "a" (once); at k=5 both
    assert(perQ("q2") == (0.5, 0.5))
  }

  test("naive RAG recall is computable and graph RAG is at least as good at k=5") {
    val naiveR5 = macroRecall(qRows.flatMap { case (qid, q) =>
      rag.retrieveNaive(q).map(h => (qid, h.rank, h.id))
    }, Seq(5))(5)
    val graphR5 = macroRecall(qRows.flatMap { case (qid, q) =>
      rag.retrieve(q).passages.map(h => (qid, h.rank, h.id))
    }, Seq(5))(5)
    assert(graphR5 >= naiveR5 - 1e-9, s"graph $graphR5 < naive $naiveR5")
  }

  test("multi-hop bridge: graph reaches the coref-hidden passage, naive cannot") {
    // Chain 0's B-passage text never names the relic ("the recovered
    // artifact"); the canonical name rides only in the OpenIE triple. The
    // graph path reaches it through the entity node; dense retrieval has no
    // lexical handle — the structural gap EVALGRID.json measures corpus-wide
    // (r12: graph 0.98 vs naive 0.76 at k=5, mirroring the reference's
    // published 87.8 vs 73.4).
    val q = "In which vault is the relic oblidor0 kept?"
    val graphIds = rag.retrieve(q).passages.map(_.id)
    assert(graphIds.take(5).contains("Chamber 0"), graphIds.mkString(", "))
    assert(graphIds.take(5).contains("Quillon0"), graphIds.mkString(", "))
    val naiveIds = rag.retrieveNaive(q).map(_.id)
    assert(!naiveIds.take(5).contains("Chamber 0"),
      "naive unexpectedly found the hidden passage: " + naiveIds.mkString(", "))
    assert(naiveIds.take(5).contains("Quillon0"), naiveIds.mkString(", "))
  }

  test("3-hop bridge: expansion reaches the warden passage, naive cannot") {
    // Chain t0 (3 gold passages): the question names only the relic; the
    // warden relation shares NO token with it (score 0.000 — its text names
    // neither the relic nor the vault), so Watch 0 enters the candidate set
    // only through the P2/P3 loop (relic -> doomvault0 -> warden relation).
    // Naive shares tokens only with the A-passage.
    val q = "Who guards the vault that holds the relic skarnite0?"
    val ids = rag.retrieve(q).passages.map(_.id)
    assert(ids.take(5).contains("Vandrel0"), ids.mkString(", "))
    assert(ids.take(5).contains("Crypt 0"), ids.mkString(", "))
    assert(ids.take(5).contains("Watch 0"), ids.mkString(", "))
    val naive = rag.retrieveNaive(q).map(_.id)
    assert(!naive.take(5).contains("Watch 0") && !naive.take(5).contains("Crypt 0"),
      "naive unexpectedly found a hidden passage: " + naive.mkString(", "))
    // vault-hidden family: the question names an entity the passage TEXT
    // never contains — entity-linking retrieval only
    val qv = "Who is responsible for doomvault40?"
    val gv = rag.retrieve(qv).passages.map(_.id)
    assert(gv.take(5).contains("Watch 40"), gv.mkString(", "))
    val nv = rag.retrieveNaive(qv).map(_.id)
    assert(!nv.take(5).contains("Watch 40"),
      "naive unexpectedly found the vault-hidden passage: " + nv.mkString(", "))
  }

  test("ndcgAtK: hand-computed DCG/IDCG, perfect ranking = 1, zero retrieval = 0") {
    val gold = Seq(("q1", "a"), ("q1", "b"), ("q2", "x"), ("q3", "y")).toDF("question_id", "item")
    val retrieved = Seq(
      ("q1", 1, "a"), ("q1", 2, "zz"), ("q1", 3, "b"), // hits at ranks 1 and 3
      ("q2", 1, "x")                                   // perfect single-gold ranking
      // q3 retrieves nothing
    ).toDF("question_id", "rank", "item")
    val got = Recall.ndcgAtK(retrieved, gold, Seq(5))
      .as[(String, Double)].collect().toMap
    // q1: DCG = 1/log2(2) + 1/log2(4) = 1.5; IDCG(|gold|=2) = 1 + 1/log2(3)
    val q1 = BigDecimal(1.5 / (1.0 + 1.0 / (math.log(3) / math.log(2))))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map("q1" -> q1, "q2" -> 1.0, "q3" -> 0.0), got)
  }

  test("mrrAtK: reciprocal of FIRST gold hit, k cutoff, zero retrieval = 0") {
    val gold = Seq(("q1", "a"), ("q1", "b"), ("q2", "x"), ("q3", "y")).toDF("question_id", "item")
    val retrieved = Seq(
      ("q1", 2, "zz"), ("q1", 3, "b"), ("q1", 5, "a"), // first hit rank 3
      ("q2", 7, "x")                                   // hit beyond k=5
      // q3 retrieves nothing
    ).toDF("question_id", "rank", "item")
    val got = Recall.mrrAtK(retrieved, gold, Seq(5))
      .as[(String, Double)].collect().toMap
    assert(got == Map("q1" -> 0.333333, "q2" -> 0.0, "q3" -> 0.0), got)
    // a multiply-retrieved gold item scores at its BEST rank
    val again = Recall.mrrAtK(
      Seq(("q1", 4, "a"), ("q1", 2, "a")).toDF("question_id", "rank", "item"),
      Seq(("q1", "a")).toDF("question_id", "item"), Seq(5))
      .as[(String, Double)].collect().toMap
    assert(again == Map("q1" -> 0.5), again)
  }

  test("ndcgAtK counts a multiply-retrieved gold item once, at its best rank") {
    val gold = Seq(("q1", "a")).toDF("question_id", "item")
    val retrieved = Seq(("q1", 2, "a"), ("q1", 4, "a")).toDF("question_id", "rank", "item")
    val got = Recall.ndcgAtK(retrieved, gold, Seq(5)).as[(String, Double)].collect().toMap
    // DCG = 1/log2(3) once (best rank 2), IDCG = 1
    val exp = BigDecimal(1.0 / (math.log(3) / math.log(2)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got == Map("q1" -> exp), got)
  }

  test("cohenKappa: hand-computed multi-class kappa; constant raters -> NULL (M7)") {
    val pairs = Seq(("x", "x"), ("x", "y"), ("y", "y"), ("y", "y"), ("z", "z"))
      .toDF("a", "b")
    val row = Recall.cohenKappa(pairs, "a", "b").collect()(0)
    assert(row.getLong(0) == 5L && row.getLong(1) == 4L)
    assert(row.getDouble(2) == 0.8) // po
    // marginals a: x2 y2 z1; b: x1 y3 z1 -> pe = (2+6+1)/25
    assert(row.getDouble(3) == 9.0 / 25)
    assert(math.abs(row.getDouble(4) - (0.8 - 0.36) / 0.64) < 1e-12)
    // both raters constant: agreement beyond chance is undefined
    val const = Seq(("x", "x"), ("x", "x")).toDF("a", "b")
    assert(Recall.cohenKappa(const, "a", "b").collect()(0).isNullAt(4))
  }
}
