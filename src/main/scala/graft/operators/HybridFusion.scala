package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Rank-fusion of multiple retrieval runs — the glue between the dense
  * ([[VectorSearch]]/[[IvfIndex]]) and lexical ([[Bm25]]) paths. The reference
  * retrieves dense-only (retriever.py:101-132); hybrid dense+sparse with
  * reciprocal-rank fusion is the standard production upgrade, so the fusion is
  * its own operator rather than being buried in the engine.
  *
  * RRF (Cormack & Clarke, SIGIR'09): score(d) = Σ_runs 1 / (K + rank_run(d)),
  * rank-only — no score calibration across runs needed, which is exactly why
  * it is the default fusion in practice.
  *
  * Shape at scale: each run is already top-k-bounded (queries × k rows), so
  * fusion is a union of tiny frames + one (query, doc) sum + the bounded
  * [[TopKAggregator]] — no corpus-sized work at all. */
object HybridFusion {

  /** Fuse `runs`, each with columns (query_id, rank, doc_id) — top-k-bounded
    * retrieval outputs. A doc missing from a run simply contributes nothing
    * for that run (the standard RRF treatment). Ties pinned by doc id ASC
    * (canonical STRING key order, shared with the SQL twins).
    * Output: (query_id, rank, doc_id, score). Id dtypes round-trip (the
    * TextRank restore pattern): the output carries the RUNS' id dtypes, which
    * must agree across runs — a silent cast between disagreeing runs could
    * merge distinct keys, so disagreement fails loudly and the caller aligns
    * (e.g. a [[VectorSearch.knnJoin]] run, whose contract is string ids, fused
    * with a native-keyed [[Bm25.score]] run). */
  def rrf(runs: Seq[DataFrame], k: Int, kConst: Int = 60): DataFrame = {
    require(runs.nonEmpty, "rrf needs at least one run")
    val qType = runs.head.schema("query_id").dataType
    val dType = runs.head.schema("doc_id").dataType
    runs.zipWithIndex.foreach { case (r, i) =>
      require(r.schema("query_id").dataType == qType &&
        r.schema("doc_id").dataType == dType,
        s"rrf: run $i id dtypes (${r.schema("query_id").dataType.simpleString}, " +
          s"${r.schema("doc_id").dataType.simpleString}) disagree with run 0's " +
          s"(${qType.simpleString}, ${dType.simpleString}); align the runs' " +
          "query_id/doc_id types before fusing")
    }
    val contribs = runs.map(_.select(
      col("query_id").cast("string").as("query_id"),
      col("doc_id").cast("string").as("id"),
      (lit(1.0) / (lit(kConst.toDouble) + col("rank").cast("double"))).as("contrib")))
      .reduce(_ unionByName _)
    val fused = contribs
      .groupBy("query_id", "id")
      .agg(sum("contrib").as("score"))
    VectorSearch.rankedTopK(fused, Seq("query_id"), col("id"), col("score"), k)
      .select(col("query_id").cast(qType).as("query_id"), col("rank"),
        col("id").cast(dType).as("doc_id"), col("score"))
  }
}
