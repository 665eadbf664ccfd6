package graft.operators

import graft.functions.Norm
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dirichlet-smoothed query-likelihood retrieval (Zhai & Lafferty 2001) — the
  * language-modeling alternative to [[Bm25]]'s probabilistic-relevance
  * scoring, completing the classic lexical trio (BM25 / TF-IDF VSM / QL-LM).
  * Ranks documents by P(q|θ_d) with Dirichlet smoothing:
  *
  *   score(q, d) = Σ_{t∈q} qtf_t · ln( (tf_td + μ·P(t|C)) / (dl_d + μ) )
  *
  * computed in the standard matched-terms decomposition so only documents
  * containing ≥ 1 query term are scored (the retrieval convention — the
  * dropped docs share one constant-per-length score):
  *
  *   score = Σ_{t∈q, tf>0} qtf_t · ln(1 + tf_td / (μ·cf_t/T))
  *         + qlen · ln(μ / (dl_d + μ))
  *
  * where cf_t = collection frequency, T = total corpus tokens, qlen = query
  * token count (duplicate query terms weight by their qtf, unlike BM25's
  * distinct-terms convention — the LM formulation is a product over query
  * TOKENS).
  *
  * Scale shape (same economics as [[Bm25.score]]): the posting table is
  * pruned to the query's terms by ONE broadcast semi-join before anything
  * else; cf comes from an aggregate of that pruned frame (query-sized,
  * broadcast back); dl rides the index postings row. The only corpus-scale
  * object is the index itself; T is one scalar from the index's per-doc side.
  * Output: (query_id, rank, doc_id, score), ties pinned by doc id ASC.
  */
object QueryLikelihood {

  /** Id dtypes round-trip (the TextRank restore pattern): query_id returns
    * in `queries(qId)`'s dtype, doc_id in the index's recorded source dtype
    * — internal keys stay canonical strings (VARCHAR tie semantics shared
    * with the SQL twins). */
  def score(index: Bm25.Index, queries: DataFrame, qId: String, qText: String,
      mu: Double, k: Int): DataFrame = {
    require(mu > 0, s"mu must be positive, got $mu")
    val qterms = queries.select(col(qId).cast("string").as("query_id"),
        explode(Norm.normTokens(col(qText))).as("term"))
      .groupBy("query_id", "term")
      .agg(count(lit(1)).cast("double").as("qtf"))
    val qlen = qterms.groupBy("query_id").agg(sum("qtf").as("qlen"))
    val post = index.postings // (term, id, tf, df, dl)
    // corpus scalars: total tokens T = Σ dl over distinct docs
    val totals = post.select(col("id"), col("dl")).distinct()
      .agg(sum(col("dl")).as("T"))
    // prune FIRST: posting lists of the query's terms only
    val pruned = post
      .join(broadcast(qterms.select("term").distinct()), Seq("term"))
      .localCheckpoint(true) // read by cf and by the scoring join
    val cf = pruned.groupBy("term").agg(sum(col("tf")).as("cf"))
    val scored = pruned
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(cf), Seq("term"))
      .crossJoin(broadcast(totals))
      .select(col("query_id"), col("id"), col("dl"),
        (col("qtf") * log(lit(1.0) + col("tf") / (lit(mu) * col("cf") / col("T"))))
          .as("contrib"))
      .groupBy(col("query_id"), col("id"), col("dl"))
      .agg(sum("contrib").as("s1"))
      .join(broadcast(qlen), Seq("query_id"))
      .select(col("query_id"), col("id"),
        (col("s1") + col("qlen") * log(lit(mu) / (col("dl") + lit(mu)))).as("score"))
    VectorSearch.rankedTopK(scored, Seq("query_id"), col("id"), col("score"), k)
      .select(col("query_id").cast(queries.schema(qId).dataType).as("query_id"),
        col("rank"), col("id").cast(index.idType).as("doc_id"), col("score"))
  }
}
