package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Late-interaction multi-vector retrieval (ColBERT-style MaxSim) — documents
  * and queries are BAGS of token vectors instead of one pooled vector, and
  *
  *   score(q, d) = Σ_{t ∈ q} max_{u ∈ d} ⟨t, u⟩
  *
  * The single-vector KNN family ([[VectorSearch]], [[IvfIndex]]) pools away
  * token-level signal; late interaction keeps it and is the standard quality
  * step-up for RAG retrieval, so the engine carries it as a first-class
  * operator beside dense, lexical ([[Bm25]]) and fused ([[HybridFusion]])
  * retrieval.
  *
  * Scale shape: the doc-token table is the big side and is touched ONCE —
  * broadcast the query tokens (queries × tokens is tiny, the engine-wide
  * query-side contract), one codegen'd [[VectorFunctions.dot]] per
  * (doc-token, query-token) pair, then TWO map-side-combined hash
  * aggregations: max over doc tokens per (query, token, doc), sum over query
  * tokens per (query, doc), and the bounded [[TopKAggregator]]. Shuffle
  * volume after the first partial aggregation is O(queries × qtokens × docs),
  * independent of document length; no windows, no driver loops.
  */
object MultiVector {

  /** Top-k docs per query by MaxSim. `queryToks(qId, qTok, qVec)`: one row
    * per query token. `qTok` must be UNIQUE per token instance within a
    * query — use the token POSITION, not its text: repeated tokens sharing a
    * qTok value would collapse in the per-token max and deflate the score
    * below the Σ over instances the formula promises.
    * `docToks(dId, dVec)`: one row per document token. Scores are rounded
    * (6 dp) BEFORE ranking, doc-id tie-break, so mathematically tied docs
    * order deterministically. Output: (query_id, rank, doc_id, score). */
  def maxSimTopK(queryToks: DataFrame, docToks: DataFrame,
      qId: String, qTok: String, qVec: String,
      dId: String, dVec: String, k: Int): DataFrame = {
    // doc ids rank with string tie-breaks internally (the oracle contract);
    // the output projection restores the caller's doc-id dtype
    val dType = docToks.schema(dId).dataType
    val q = queryToks.select(col(qId).cast("string").as("query_id"),
      col(qTok).cast("string").as("_qtok"), col(qVec).as("_qv"))
    val scored = docToks.select(col(dId).cast("string").as("doc_id"), col(dVec).as("_dv"))
      .crossJoin(broadcast(q))
      .select(col("query_id"), col("_qtok"), col("doc_id"),
        VectorFunctions.dot(col("_qv"), col("_dv")).as("_dot"))
      .groupBy("query_id", "_qtok", "doc_id")
      .agg(max("_dot").as("_mx"))
      .groupBy("query_id", "doc_id")
      .agg(round(sum("_mx"), 6).as("score"))
    VectorSearch.rankedTopK(scored, Seq("query_id"), col("doc_id"), col("score"), k)
      .select(col("query_id"), col("rank"),
        col("id").cast(dType).as("doc_id"), col("score"))
  }
}
