package graft.eval

import graft.EngineSession
import graft.rag.{CachedNerExtractor, GraphRag, RagConfig}
import graft.sources.{GraphStore, Loaders}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Standalone evaluation harness — the reference's `evaluation/evaluate.py
  * main()` (:546-786) as a Spark `runMain`:
  *
  *   sbt "runMain graft.eval.Evaluate <corpus.json> <questions.json> \
  *        <openie.json> <nerCache.tsv> [outJson] [storeDir]"
  *
  * Pipeline: load corpus + questions + pre-extracted OpenIE triplets + NER TSV
  * cache (S4/S5) → index with pre-extracted triplets (§3.1, DataFrame-native,
  * with the reference's skip-reindex probe, evaluate.py:343-371) → retrieve per
  * question (§3.2 stages 1–8, graph and naive paths) → Recall@k grid (M1) vs
  * gold supporting-fact titles (M2) → macro-average (M3) + JSON dump
  * (evaluate.py:527-543, :776-783). Zero network; every nondeterministic
  * boundary uses the offline default (cached NER, deterministic embedder) —
  * the same offline path the reference's own eval takes.
  */
object Evaluate {

  /** Stopwords the eval harness drops before hash-embedding (HashEmbedder's
    * `stopwords` dial — see its scaladoc for why a weight-2 function-word
    * bucket turns one collision into a false top seed). Semantic embedders
    * down-weight these implicitly; the deterministic double needs the list. */
  val evalStopwords: Set[String] = Set("the", "a", "an", "of", "in", "on",
    "is", "was", "were", "to", "and", "or", "that", "which", "who", "whom",
    "did", "does", "do", "for", "with", "by", "at", "it", "its", "his",
    "her", "their")

  def main(args: Array[String]): Unit = {
    require(args.length >= 4,
      "usage: Evaluate <corpus.json> <questions.json> <openie.json> <nerCache.tsv> [outJson] [storeDir]")
    val Array(corpusPath, questionsPath, openiePath, nerPath) = args.take(4)
    val outJson = if (args.length > 4) args(4) else "/tmp/graft_eval.json"
    val storeDir = if (args.length > 5) args(5)
      else Files.createTempDirectory("graft_eval_store").toString

    val spark = EngineSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val corpusN = Loaders.readJsonCorpus(spark, corpusPath).count()
    val questions = Loaders.readJsonCorpus(spark, questionsPath)
      .select(col("_id"), col("question"),
        col("supporting_facts").cast("array<array<string>>"))
      .localCheckpoint(true)
    val nerCache = Loaders.readNerCache(spark, nerPath)

    val store = new GraphStore(spark, storeDir)
    val graphName = "eval"
    // Retrieval depth must cover the whole recall grid: recall_at_k for
    // k > finalTopK would otherwise silently clamp to recall_at_finalTopK.
    // dim=1024: hash-bucket collisions must stay under the two-token signal
    // tier (the r12 lesson: junk relations at 0.38-0.57 vs signal 0.38 at
    // dim 64). r12's 256 sufficed for ~400 entities; the r14 fixture's ~800
    // distinct invented tokens put ~4 tokens in every 256-wide bucket, so
    // the width steps up to the reference's own embedder width (1024).
    // entitySimilarityThreshold = 0.55: every chain's relic entity shares
    // the literal token 'relic' with every other chain's, tying at cosine
    // 0.5 exactly — the threshold must sit ABOVE the one-shared-token tier
    // or 144 relics flood the seed set (NER seeds match exactly at 1.0).
    // The r14 3-hop family (t0-t35) is the P2/P3 loop doing real work: the
    // warden relation shares NO token with its question (score 0.000) and
    // enters the candidate set only through relation->entity->relation
    // expansion from the relic seed - default degree 1 covers a 3-passage
    // chain because the seed's own relations are hop zero.
    val rag = new GraphRag(spark, store, graphName,
      config = RagConfig(entitySimilarityThreshold = 0.55,
        relationSimilarityThreshold = 0.3, finalTopK = Recall.kGrid.max),
      embedder = graft.functions.HashEmbedder(dim = 1024, stopwords = evalStopwords),
      ner = CachedNerExtractor(nerCache))

    // Skip-reindex probe (evaluate.py:343-371): existence check on the store —
    // PLUS a dimension check, because querying a stored graph with a
    // different-width embedder (e.g. a pre-r12 dim=64 store under today's
    // dim=256 harness) would score garbage similarities and report them as
    // recall. Mismatch fails loudly instead.
    // Full-identity check first: the fingerprint persisted at index time
    // catches SAME-dim embedder changes (seed / stopword-set edits) that the
    // dim probe below would wave through — those reuse a stale store and
    // report garbage recall as if real. The dim probe stays as the fallback
    // for pre-r15 stores that carry no fingerprint file.
    val fpPath = java.nio.file.Paths.get(storeDir, s"$graphName.embedder_fp")
    val indexed =
      if (store.listGraphs().contains(graphName)) {
        if (java.nio.file.Files.exists(fpPath)) {
          val stored = new String(
            java.nio.file.Files.readAllBytes(fpPath), "UTF-8").trim
          if (stored != rag.embedderFingerprint) sys.error(
            s"[evaluate] graph '$graphName' in $storeDir was built with " +
              s"embedder [$stored] but this harness embeds with " +
              s"[${rag.embedderFingerprint}] — delete the store (or pass a " +
              "fresh storeDir) to re-index")
        } else {
          System.err.println(s"[evaluate] WARNING: $fpPath missing " +
            "(pre-fingerprint store) — only the embedding dim can be checked")
        }
        val storedDim = store.table(graphName, "entities")
          .select(org.apache.spark.sql.functions.size(col("embedding")))
          .limit(1).collect().headOption.map(_.getInt(0))
        storedDim.filter(_ != rag.embedderDim).foreach { d =>
          sys.error(s"[evaluate] graph '$graphName' in $storeDir was built with " +
            s"embedding dim $d but this harness embeds at dim ${rag.embedderDim} — " +
            "delete the store (or pass a fresh storeDir) to re-index")
        }
        println(s"[evaluate] graph '$graphName' exists in $storeDir — skipping index build")
        false
      } else {
        val docsDf = Loaders.readExtractedTriplets(spark, openiePath)
          .select(col("title").as("id"), col("passage").as("text"),
            transform(col("triples"), t => struct(
              element_at(t, 1).as("subject"),
              element_at(t, 2).as("predicate"),
              element_at(t, 3).as("obj"))).as("triplets"))
        val stats = rag.addDocumentsDf(docsDf)
        java.nio.file.Files.write(fpPath,
          rag.embedderFingerprint.getBytes("UTF-8"))
        println(s"[evaluate] indexed: $stats")
        true
      }

    // §3.2 retrieval per question — graph path and naive baseline.
    val qRows = questions.select("_id", "question").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val graphHits = qRows.flatMap { case (qid, q) =>
      rag.retrieve(q).passages.map(h => (qid, h.rank, h.id))
    }.toSeq
    val naiveHits = qRows.flatMap { case (qid, q) =>
      rag.retrieveNaive(q).map(h => (qid, h.rank, h.id))
    }.toSeq

    import spark.implicits._
    val gold = Recall.goldTitles(
      questions.select(col("_id").as("question_id"), col("supporting_facts")))
    val ks = Recall.kGrid

    def macroOf(hits: Seq[(String, Int, String)]): Map[Int, Double] = {
      val row = Recall.macroAverage(
        Recall.recallAtK(hits.toDF("question_id", "rank", "item"), gold, ks), ks)
        .collect().head
      ks.map(k => k -> row.getAs[Double](s"avg_recall_at_$k")).toMap
    }
    val graphRecall = macroOf(graphHits)
    val naiveRecall = macroOf(naiveHits)

    def fmt(m: Map[Int, Double]): String =
      ks.map(k => s""""recall_at_$k": ${m(k)}""").mkString("{", ", ", "}")
    val json =
      s"""{"n_questions": ${qRows.length}, "n_corpus": $corpusN, "indexed": $indexed,
         | "graph_rag": ${fmt(graphRecall)},
         | "naive_rag": ${fmt(naiveRecall)}}""".stripMargin.replace("\n", "")
    Files.writeString(Paths.get(outJson), json)
    println(s"[evaluate] $json")
    println(s"[evaluate] wrote $outJson")
    spark.stop()
  }
}
