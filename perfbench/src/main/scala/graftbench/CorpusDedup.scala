package graftbench

import graft.operators.{Bm25, Dedup}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** corpus-dedup: one closed-loop client running the LLM-data-pipeline
  * operators over the sf0.1 `documents` (5000) and `embeddings` (2000)
  * tables, with the parameters of the matching catalog entries:
  *   d1_exact_dedup, d2_lsh_pairs, d8_dedup_clusters, d14_semdedup, b1_bm25_topk.
  * One op ("pass") runs the whole chain from the cached inputs; nothing is
  * shared between passes. Each output must hash to the DuckDB answer of the
  * entry's oracle SQL (perfbench/expected/corpus_dedup.json). */
object CorpusDedup {
  val dataDir = "perfbench/data"
  val expectedFile = "perfbench/expected/corpus_dedup.json"
  val nDocs = 5000

  /** Stage timings of one pass, plus each output's canonical hash. */
  final case class Pass(stageS: Map[String, Double], hashes: Map[String, String])

  def pass(ctx: Context, docs: DataFrame, emb: DataFrame): Pass = {
    val spark = ctx.spark
    import spark.implicits._
    val times = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val hashes = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def stage[A](name: String)(f: => A): A = {
      val (s, r) = ctx.seconds(f); times(name) = times.getOrElse(name, 0.0) + s; r
    }
    def out(name: String, df: DataFrame): Unit = hashes(name) = Canon.hash(df.columns.toSeq, df.collect())

    stage("operators.Dedup.exact_s")(out("d1_exact_dedup", Dedup.exact(docs, "doc_id", "text")))

    val (shingles, sigs, pairs) = stage("operators.Dedup.near_dup_s") {
      val sh = Dedup.shingleRows(docs.repartition(ctx.cpus), "doc_id", "text", shingleSize = 3)
        .distinct().localCheckpoint(true)
      val sg = Dedup.minhashSignaturesFromShingles(sh, numHashes = 6).localCheckpoint(true)
      val pr = Dedup.lshCandidatePairs(sg, bands = 3, rowsPerBand = 2).localCheckpoint(true)
      out("d2_lsh_pairs", Dedup.minhashSimilarity(pr, sg, numHashes = 6))
      out("d8_dedup_clusters", Dedup.connectedComponents(pr))
      (sh, sg, pr)
    }
    Seq(shingles, sigs, pairs).foreach(Bridge.unpersistCheckpoint)

    stage("operators.Dedup.semDedup_s")(out("d14_semdedup",
      Dedup.semDedup(emb, "vec_id", "embedding", nClusters = 8, tau = 0.35)))

    val idx = stage("operators.Bm25.build_s")(Bm25.build(docs.repartition(ctx.cpus), "doc_id", "text"))
    val queries = Seq(("q0", "fast vector scan"), ("q1", "spark window agg"),
      ("q2", "customer order join")).toDF("qid", "qtext")
    stage("operators.Bm25.score_s")(out("b1_bm25_topk",
      Bm25.score(idx, queries, "qid", "qtext", k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"), round(col("score"), 6).as("score_r"))))
    idx.release()
    Pass(times.toMap, hashes.toMap)
  }

  def run(ctx: Context): Outcome = {
    val spark = ctx.spark
    val expected = Expected.hashes(expectedFile)
    val problems = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val passes = scala.collection.concurrent.TrieMap.empty[String, Pass]
    def check(p: Pass): Unit = expected.foreach { case (name, want) =>
      val got = p.hashes.getOrElse(name, "missing")
      if (got != want) problems.add(s"$name: output hash $got, DuckDB answer $want")
    }

    // Set-up: read and cache both tables, then one warm-up pass over a
    // twentieth of each table: it compiles the same plans as a full pass in
    // ~2/3 of its time (its outputs are not checked).
    val (loadS, (docs, emb)) = ctx.seconds {
      val d = spark.read.parquet(s"$dataDir/documents.parquet").cache()
      val e = spark.read.parquet(s"$dataDir/embeddings.parquet").cache()
      d.count(); e.count()
      (d, e)
    }
    // the operators run on fixed inputs: any failed pass fails the run
    def failed(rec: OpRecord): Unit =
      rec.error.foreach(e => problems.add(s"${rec.id} (${rec.phase}) failed: $e"))
    val (warmS, _) = ctx.seconds {
      failed(ctx.op("pass", "warmup")(pass(ctx, docs.filter(col("doc_id") % 20 === 0),
        emb.filter(col("vec_id") % 20 === 0)))._1)
    }

    val (window, traced) = Load.measure(ctx, "pass") { (_, until) =>
      Seq(Load.closedLoop(0, until) { _ =>
        val (rec, p) = ctx.op("pass", "load")(pass(ctx, docs, emb))
        failed(rec)
        p.foreach { x => passes(rec.id) = x; check(x) }
        rec
      })
    }

    val metrics = traced match {
      case None =>
        Measures.endToEnd(window.clients, window.startNs, "pass", _ => nDocs.toDouble,
          loadS + warmS, ctx.heapLiveMb())
      case Some(t) =>
        val ps = t.window.clients.flatten.flatMap(o => passes.get(o.id))
        val direct = Measures.directNames.map(_._1).filter(k => ps.exists(_.stageS.contains(k)))
          .map(k => k -> Stats.median(ps.flatMap(_.stageS.get(k)))).toMap
        Measures.perLayer(ctx, t.window.clients.flatten, t.codegen, t.gcMs,
          t.storageMb, t.overheadPct, direct)
    }
    import scala.jdk.CollectionConverters._
    val probs = problems.asScala.toSeq
    Outcome(probs.isEmpty, probs, ctx.ops, metrics,
      Seq("setup" -> Map("load_and_cache_s" -> loadS, "warmup_s" -> warmS)))
  }
}

/** Order-free canonical hash of a result, the same one make_expected.py
  * computes over DuckDB's answer: columns by name, cells as text (numbers
  * with 6 decimals), one SHA-256 per row, rows' hashes sorted, then hashed. */
object Canon {
  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
    case f: Float => String.format(java.util.Locale.ROOT, "%.6f", Double.box(f.toDouble))
    case b: java.math.BigDecimal => String.format(java.util.Locale.ROOT, "%.6f", b)
    case n: java.lang.Number => n.longValue.toString
    case b: Boolean => b.toString
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case o => o.toString
  }

  def hash(columns: Seq[String], rows: Array[Row]): String = {
    val order = columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rowHashes = rows.map(r => Stats.sha256(order.map(i => cell(r.get(i))).mkString("\u0001"))).sorted
    Stats.sha256(columns.sorted.mkString(",") + "\n" + rowHashes.mkString("\n"))
  }
}
