package graft.operators

import graft.functions.Norm
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** TF-IDF vector-space retrieval — the third retrieval family beside dense
  * KNN ([[VectorSearch]]) and BM25 ([[Bm25]]): classic cosine over
  * L2-normalized `tf·ln(n/df)` sparse vectors. In a training-data pipeline
  * the same weights double as features (keyword extraction, topic balance,
  * similarity-based curation), so the weight table is exposed, not hidden
  * inside scoring.
  *
  * Scale shape mirrors [[Bm25]]: build = one corpus explode + three hash
  * aggregations (tf, df, per-doc norm), all map-side combined; scoring = one
  * broadcast join of the query's terms against the postings + a (query, doc)
  * hash aggregation + the bounded [[TopKAggregator]]. No windows, no
  * all-pairs product, shuffle volume O(matched postings).
  */
object TfIdf {

  /** L2-normalized TF-IDF weights: one row per (id, term) with `w` such that
    * Σ_term w² = 1 per doc. `maxDfFraction` drops terms present in more than
    * that fraction of docs BEFORE weighting — the stopword cut that bounds
    * posting-list length (and therefore any downstream join fan-out) at
    * corpus scale. Docs whose every term is cut simply emit no rows. */
  def weights(docs: DataFrame, idCol: String, textCol: String,
      maxDfFraction: Double = 1.0, materialize: Boolean = true): DataFrame =
    weightsFromTokens(
      // the id keeps the CALLER's dtype — the weight table doubles as the
      // retrieval index, and its schema is what lets topK restore doc ids
      docs.select(col(idCol).as("id"),
        explode(Norm.normTokens(col(textCol))).as("term")),
      // n counts ALL docs (zero-token ones included) — not derivable from
      // the exploded frame, so it rides in as its own 1-row aggregate
      docs.agg(count(lit(1)).cast("double").as("n")),
      maxDfFraction, materialize)

  /** [[weights]] over an ALREADY-tokenized (id, term) frame plus a 1-row
    * `n` doc-count frame — the shared-tokenization entry point (see
    * [[Bm25.buildFromTokens]]: one corpus tokenize serves the whole lexical
    * family). The caller owns `tokens`' lifecycle. */
  def weightsFromTokens(tokens: DataFrame, nDocs: DataFrame,
      maxDfFraction: Double = 1.0, materialize: Boolean = true): DataFrame = {
    // tf feeds both df and the weighting join, and weighted feeds both the
    // norm aggregate and the final join — Catalyst shares neither, so the lazy
    // form tokenizes the corpus ~2× and re-runs the postings join ~2×. With
    // `materialize` (default) each shared frame is checkpointed once; pass
    // false for a pure single-DAG composition with no action at build time.
    val share: DataFrame => DataFrame =
      d => if (materialize) d.localCheckpoint(true) else d
    val tf = share(tokens
      .groupBy("id", "term")
      .agg(count(lit(1)).cast("double").as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).cast("double").as("df"))
    // one scalar row folded in lazily — build+score stay a single DAG
    val n = nDocs
    val weighted = share(tf.join(df, "term").crossJoin(broadcast(n))
      .filter(col("df") <= col("n") * maxDfFraction)
      .select(col("id"), col("term"), (col("tf") * log(col("n") / col("df"))).as("w"))
      // df == n terms carry idf = ln(1) = 0: semantically inert (0 to every
      // norm and score) but they are the LONGEST posting lists — drop them
      // before they inflate the norm join and every downstream term join
      .filter(col("w") =!= 0.0))
    // weighted is materialized and the returned frame derives from it alone —
    // the tf checkpoint's blocks are dead; free them.
    if (materialize) org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(tf)
    val norms = weighted.groupBy("id").agg(sqrt(sum(col("w") * col("w"))).as("_nrm"))
    weighted.join(norms, "id")
      .filter(col("_nrm") > 0.0)
      .select(col("id"), col("term"), (col("w") / col("_nrm")).as("w"))
  }

  /** Top-k docs per query in the tf-idf space — SMART `ntc.nnn`: docs carry
    * raw-tf·idf cosine-normalized weights, queries raw term frequency (idf on
    * one side only is standard VSM practice; per-query ranking is invariant
    * to any query-side constant). `queries` must be broadcast-small (the
    * engine-wide query-side contract). Ranking uses the ROUNDED score (6 dp)
    * with doc-id tie-break so exact-duplicate docs — mathematically tied,
    * floating-point-ambiguous — order deterministically.
    * Output: (query_id, rank, doc_id, sim_r). Id dtypes round-trip (the
    * TextRank restore pattern): doc_id returns in `corpusWeights`' id dtype,
    * query_id in `queries(qId)`'s — ties still break on the canonical STRING
    * key (the VARCHAR order shared with the SQL twins). */
  def topK(corpusWeights: DataFrame, queries: DataFrame,
      qId: String, qText: String, k: Int): DataFrame = {
    val docIdType = corpusWeights.schema("id").dataType
    val qtf = queries
      .select(col(qId).cast("string").as("query_id"),
        explode(Norm.normTokens(col(qText))).as("term"))
      .groupBy("query_id", "term")
      .agg(count(lit(1)).cast("double").as("qtf"))
    val scored = corpusWeights.join(broadcast(qtf), Seq("term"))
      .select(col("query_id"), col("id").cast("string").as("id"),
        (col("w") * col("qtf")).as("contrib"))
      .groupBy("query_id", "id")
      .agg(round(sum("contrib"), 6).as("score"))
    VectorSearch.rankedTopK(scored, Seq("query_id"), col("id"), col("score"), k)
      .select(col("query_id").cast(queries.schema(qId).dataType).as("query_id"),
        col("rank"), col("id").cast(docIdType).as("doc_id"), col("score").as("sim_r"))
  }
}
