package graftbench

import graft.rag.{CachedNerExtractor, GraphRag}
import graft.sources.{GraphStore, Loaders}

import scala.collection.concurrent.TrieMap

/** rag-serve: one closed-loop client issuing read-only `GraphRag.retrieve`
  * over the eval fixture (468 passages, 150 multi-hop questions) with
  * `graft.eval.Evaluate`'s exact configuration, in a seeded order that cycles
  * through all questions before any repeats. Set-up opens the prebuilt store
  * ([[ServeStore]]), caches the node tables and answers one question. Every
  * answer must equal the stored list of its question, taken from one serial
  * pass whose recall grid equals EVALGRID.json's `graph_rag`. */
object RagServe {
  import ServeStore.{config, embedder, evalDir, graph}
  val expectedFile = "perfbench/expected/rag_serve.json"
  private val tables = Seq("entities", "relations", "passages", "entity_relation")

  def run(ctx: Context): Outcome = {
    val spark = ctx.spark
    val dir = ServeStore.dir(ctx.work)
    require(ServeStore.ready(ctx.work), "rag-serve store missing or stale; run --prepare first")

    val questions = {
      import scala.jdk.CollectionConverters._
      new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(new java.io.File(s"$evalDir/test_questions.json")).elements().asScala
        .map(q => (q.get("_id").asText(), q.get("question").asText())).toIndexedSeq
    }
    val ner = Loaders.readNerCache(spark, s"$evalDir/ner_cache.tsv")
    val expected = Expected.lists(expectedFile)
    require(questions.forall(q => expected.contains(q._1)), "expected list missing a question")
    val order = Inputs.permutation(questions.size, ctx.args.seed)
    ctx.log("inputs loaded")

    val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    if (Inputs.permutation(questions.size, ctx.args.seed) != order)
      problems.add("the same seed gave a different question order")
    val returned = TrieMap.empty[String, Int]
    def ask(rag: GraphRag, phase: String, qi: Int): OpRecord = {
      val (qid, q) = questions(qi)
      val (rec, res) = ctx.op("retrieve", phase)(rag.retrieve(q))
      // a read-only retrieve has no reason to fail: a failure fails the run
      rec.error.foreach(e => problems.add(s"$qid: retrieve failed ($phase): $e"))
      res.foreach { r =>
        val got = r.passages.map(_.id)
        returned(rec.id) = got.size
        if (got != expected(qid))
          problems.add(s"$qid: got ${got.take(5).mkString(",")}…, want ${expected(qid).take(5).mkString(",")}…")
      }
      rec
    }

    // Set-up: open the store and cache the node tables, then answer the
    // fixture's first question, which pays the JIT and codegen warm-up.
    val (openS, rag) = ctx.seconds {
      val store = new GraphStore(spark, dir.toString)
      tables.foreach(t => store.cachedTable(graph, t).count())
      new GraphRag(spark, store, graph, config, embedder, ner = CachedNerExtractor(ner))
    }
    val (warmS, _) = ctx.seconds(ask(rag, "warmup", 0))

    val (window, traced) = Load.measure(ctx, "retrieve") { (_, until) =>
      Seq(Load.closedLoop(0, until)(k => ask(rag, "load", order(k % order.size))))
    }
    val docsOf = (o: OpRecord) => returned.getOrElse(o.id, 0).toDouble

    val metrics = traced match {
      case None =>
        Measures.endToEnd(window.clients, window.startNs, "retrieve", docsOf,
          openS + warmS, ctx.heapLiveMb())
      case Some(t) =>
        val direct = Direct.time(ctx, embedder, config,
          questions.take(5).map { case (_, q) => q -> ner.getOrElse(q, Seq.empty) },
          ServeStore.docs(spark), embedRows = 4, buildRows = 2)
        Measures.perLayer(ctx, t.window.clients.flatten, t.codegen, t.gcMs,
          t.storageMb, t.overheadPct, direct)
    }
    import scala.jdk.CollectionConverters._
    val probs = problems.asScala.toSeq
    Outcome(probs.isEmpty, probs, ctx.ops, metrics,
      Seq("setup" -> Map("open_and_cache_s" -> openS, "warmup_s" -> warmS),
        "inputs" -> Map("questions" -> questions.size, "order_head" -> order.take(10))))
  }
}
