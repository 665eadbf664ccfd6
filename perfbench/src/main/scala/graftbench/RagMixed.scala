package graftbench

import graft.functions.HashEmbedder
import graft.rag.{CachedNerExtractor, GraphRag, RagConfig}
import graft.sources.GraphStore
import org.apache.spark.sql.functions._

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** rag-mixed: three closed-loop readers issuing `GraphRag.retrieve` with
  * Zipf-skewed question popularity, plus one writer on a fixed open-loop
  * schedule, all on one graph built with the engine defaults (`RagConfig()`,
  * `HashEmbedder()` at dim 64) from a seeded multi-hop chain corpus.
  *
  * Writes are timed from when they were due, so a slower write path shows as
  * lateness instead of fewer writes. Reads that overlap a rewrite of the
  * tables they scan can fail; such failures are counted, never retried. */
object RagMixed {
  val graph = "mixed"
  val readers = 3
  val chains = 200
  val distractors = 300
  val writerBase = 8
  val writeEveryMs = 30000L
  private val tables = Seq("entities", "relations", "passages", "entity_relation")

  def run(ctx: Context): Outcome = {
    val spark = ctx.spark
    import spark.implicits._
    val seed = ctx.args.seed
    def gen() = Inputs.mixed(seed, chains, distractors, readers, readsPerReader = 2000,
      writerBase = writerBase, writes = 500, writeEveryMs = writeEveryMs)
    val in = gen()
    val fp = in.fingerprint
    val problems = new ConcurrentLinkedQueue[String]()
    if (gen().fingerprint != fp) problems.add("the same seed gave different inputs")
    val config = RagConfig()
    val embedder = HashEmbedder()

    // Set-up: index the corpus into a fresh store and cache the node tables,
    // then answer one question.
    val storeDir = ctx.work.resolve("rag-mixed-store")
    Dirs.deleteTree(storeDir)
    val (indexS, (store, rag)) = ctx.seconds {
      val store = new GraphStore(spark, storeDir.toString)
      val rag = new GraphRag(spark, store, graph, config, embedder,
        ner = CachedNerExtractor(in.ner))
      rag.addDocumentsDf(spark.createDataset(in.docs).toDF())
      tables.foreach(t => store.cachedTable(graph, t).count())
      (store, rag)
    }
    ctx.log(f"indexed in $indexS%.2f s")
    val baseStats = rag.stats()
    val baseIds = in.docs.map(_.id).toSet
    val writerIds = in.writes.map(_.id).toSet

    def wellFormed(ids: Seq[String], ranks: Seq[Int]): Option[String] =
      if (ids.isEmpty) Some("no passages")
      else if (ids.size > config.finalTopK) Some(s"${ids.size} passages > finalTopK")
      else if (ids.distinct.size != ids.size) Some("duplicate passage ids")
      else if (ranks != (1 to ids.size)) Some(s"ranks $ranks")
      else ids.find(i => !baseIds(i) && !writerIds(i)).map(i => s"unknown passage $i")

    val returned = TrieMap.empty[String, Int]
    def read(phase: String, q: String): OpRecord = {
      val (rec, res) = ctx.op("retrieve", phase)(rag.retrieve(q))
      res.foreach { r =>
        returned(rec.id) = r.passages.size
        wellFormed(r.passages.map(_.id), r.passages.map(_.rank))
          .foreach(p => problems.add(s"malformed read of '$q': $p"))
      }
      rec
    }
    val (warmS, _) = ctx.seconds(read("warmup", in.questions(0)))

    // The writer's log: op, acknowledged or not, in issue order.
    final case class Ack(op: Inputs.WriteOp, ok: Boolean)
    val log = new ConcurrentLinkedQueue[Ack]()
    val readAfterWrite = new ConcurrentLinkedQueue[Double]()
    var nextWrite = 0

    def apply(w: Inputs.WriteOp): Unit = w match {
      case Inputs.Graft(d) =>
        rag.graftDocumentsDf(spark.createDataset(Seq(d)).toDF())
      case Inputs.Update(id, text) =>
        if (!rag.updatePassage(id, text)) throw new NoSuchElementException(s"update: no passage $id")
      case Inputs.Delete(id) =>
        if (!rag.deletePassage(id)) throw new NoSuchElementException(s"delete: no passage $id")
    }

    /** Client `c` of the window: the k-th write is due k × writeEveryMs after
      * the window starts and is issued then, or as soon as the previous write
      * returns, if the window still admits it. */
    def writer(c: Int, startNs: Long, until: Load.Until): Measures.Client = {
      val out = Seq.newBuilder[OpRecord]
      var k = 0
      def due = startNs + k * in.writeEveryMs * 1000000L
      while (nextWrite < in.writes.size && until(c, k, math.max(due, System.nanoTime()))) {
        val w = in.writes(nextWrite); nextWrite += 1
        val now = System.nanoTime()
        if (due > now) Thread.sleep((due - now) / 1000000, ((due - now) % 1000000).toInt)
        val kind = w match {
          case _: Inputs.Graft => "write-graft"
          case _: Inputs.Update => "write-update"
          case _: Inputs.Delete => "write-delete"
        }
        val (rec, res) = ctx.op(kind, "load", dueNs = due)(apply(w))
        log.add(Ack(w, res.isDefined))
        if (ctx.traced && res.isDefined) {
          val (s, _) = ctx.seconds(store.table(graph, "passages")
            .filter(col("id") === w.id).select("id").collect())
          readAfterWrite.add(s * 1000)
        }
        out += rec
        k += 1
      }
      out.result()
    }

    val (window, traced) = Load.measure(ctx, "retrieve") { (start, until) =>
      val readerThreads = (0 until readers).map { r =>
        val fut = new java.util.concurrent.FutureTask[Measures.Client](() =>
          Load.closedLoop(r, until) { k =>
            read("load", in.questions(in.readerStreams(r)(k % in.readerStreams(r).size)))
          })
        val t = new Thread(fut, s"reader-$r"); t.start(); fut
      }
      val w = writer(readers, start, until)
      readerThreads.map(_.get()) :+ w
    }

    ctx.log("load phase done")
    // End state: each written id carries its last acknowledged text or is
    // gone, and the table counts follow from the log.
    val acks = log.asScala.toSeq
    val uncertain = acks.filterNot(_.ok).map(_.op.id).toSet
    val last = acks.filter(_.ok).groupBy(_.op.id).map { case (id, as) => id -> as.last.op }
    val rows = store.table(graph, "passages").filter(col("id").isin(last.keys.toSeq: _*))
      .select("id", "text").as[(String, String)].collect().toMap
    last.foreach { case (id, op) if !uncertain(id) =>
      val want = op match {
        case Inputs.Graft(d) => Some(d.text)
        case Inputs.Update(_, t) => Some(t)
        case Inputs.Delete(_) => None
      }
      if (rows.get(id) != want) problems.add(s"$id after writes: ${rows.get(id)}, want $want")
      case _ =>
    }
    // deletes keep a passage's entities and relations (GraphStore.deletePassageCascade)
    val grafted = acks.count(a => a.ok && a.op.isInstanceOf[Inputs.Graft])
    val passageDelta = last.map { case (id, op) =>
      (if (op.isInstanceOf[Inputs.Delete]) 0L else 1L) - (if (baseIds(id)) 1L else 0L)
    }.sum
    val wantStats = Map(
      "passages" -> (baseStats("passages") + passageDelta),
      "entities" -> (baseStats("entities") + 2L * grafted),
      "relations" -> (baseStats("relations") + grafted))
    val gotStats = rag.stats()
    if (uncertain.isEmpty && gotStats != wantStats)
      problems.add(s"stats $gotStats disagree with the write log: want $wantStats")

    val writes = window.clients.flatten.filter(_.kind.startsWith("write"))
    // how long after its due time each write was issued
    def lateness(ws: Seq[OpRecord]): Double =
      if (ws.isEmpty) 0.0 else Stats.median(ws.map(w => math.max(0L, w.startNs - w.dueNs) / 1e6))
    val notes = Seq(
      "inputs" -> Map("fingerprint" -> fp, "passages" -> in.docs.size,
        "questions" -> in.questions.size, "base_stats" -> baseStats.map { case (k, v) => k -> v }),
      "setup" -> Map("index_and_cache_s" -> indexS, "warmup_s" -> warmS),
      "writes" -> Map("issued" -> acks.size, "acknowledged" -> acks.count(_.ok),
        "p50_ms_from_due" -> (if (writes.exists(_.ok)) Stats.median(writes.filter(_.ok).map(_.latencyMs)) else 0.0),
        "lateness_p50_ms" -> lateness(writes),
        "uncertain_ids" -> uncertain.toSeq.sorted))

    val readClients = window.clients.init
    val metrics = traced match {
      case None =>
        Measures.endToEnd(readClients, window.startNs, "retrieve",
          o => returned.getOrElse(o.id, 0).toDouble,
          indexS + warmS, ctx.heapLiveMb())
      case Some(t) =>
        val q = in.questions.take(5).map(q => q -> in.ner.getOrElse(q, Seq.empty))
        val docsDf = spark.createDataset(in.docs.sortBy(_.id).take(16)).toDF()
        val direct = Direct.time(ctx, embedder, config, q, docsDf, embedRows = 16, buildRows = 8)
        val tw = t.window.clients.flatten.filter(_.kind.startsWith("write"))
        Measures.perLayer(ctx, t.window.clients.flatten, t.codegen, t.gcMs,
          t.storageMb, t.overheadPct, direct ++ Map(
            "sources.GraphStore.read_after_write_ms" ->
              (if (readAfterWrite.isEmpty) 0.0 else Stats.median(readAfterWrite.asScala.toSeq)),
            "writer.lateness_ms" -> lateness(tw),
            "writer.write_p50_ms" -> (if (tw.exists(_.ok)) Stats.median(tw.filter(_.ok).map(_.latencyMs)) else 0.0)),
          writer = true)
    }
    val probs = problems.asScala.toSeq
    Outcome(probs.isEmpty, probs, ctx.ops, metrics, notes)
  }
}
