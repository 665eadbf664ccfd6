package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Product quantization (PQ) — the memory side of large-scale ANN, composing
  * with [[IvfIndex]] into the standard IVF-PQ design: vectors are split into
  * `m` subspaces, each subvector replaced by the id of its nearest codeword
  * from a small per-subspace codebook. A 64-dim float vector becomes m=8
  * small integers — ~32× smaller at rest and in shuffle — and queries score
  * against codes without ever touching the original vectors (asymmetric
  * distance computation, ADC). [[graft.functions.Quantize]] (int8) is the 4×
  * step; PQ is the order-of-magnitude one.
  *
  * Determinism contract (same as [[IvfIndex.build]]): codebooks are seeded
  * from the `k` lexicographically-lowest ids' subvectors, no retraining
  * randomness, assignment scored as `‖c‖² − 2⟨x,c⟩` (the ‖x‖² term drops —
  * argmin unaffected) with ties to the lowest code — every step reproducible
  * in SQL, so codes and ADC results are oracle-checkable bit-for-bit.
  *
  * Scale shape: codebooks are m×k rows — broadcast everywhere. Encoding is
  * one subspace explode (m rows per vector) + broadcast join + one
  * struct-min hash aggregation (map-side combined, no window over data).
  * ADC search: the query's m×k lookup table is built from the broadcast
  * codebook, joined to the exploded code table on (subspace, code) — a
  * broadcast hash join — then one per-(query, doc) partial-aggregated sum
  * and the bounded [[TopKAggregator]]. Shuffle is O(corpus × m) small ints,
  * never O(corpus × dim) floats.
  */
object ProductQuantizer {

  /** `codewords`: (sub, code, cvec, cc) — m×k rows, `cc = ⟨cvec,cvec⟩`. */
  final case class Codebook(codewords: DataFrame, m: Int, dsub: Int)

  private[operators] def subspaces(v: Column, m: Int, dsub: Int): Column =
    transform(sequence(lit(0), lit(m - 1)),
      i => slice(v, i * dsub + 1, lit(dsub)))

  /** Deterministic codebooks over `corpus(idCol, vecCol)`: the `k` lowest
    * (string-ordered) ids seed every subspace, then `iters` Lloyd steps
    * refine them (each: argmin assignment of every subvector + per-dimension
    * mean per (sub, code) — the same deterministic assign-then-mean pattern
    * as [[IvfIndex.build]], so an oracle can unroll it). A codeword that
    * attracts no subvectors in a step drops out, exactly like an empty IVF
    * cell. `dim` must equal `m * dsub` for all vectors (slices would
    * silently truncate otherwise). */
  def train(corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, dsub: Int, k: Int, iters: Int = 0): Codebook = {
    val seeds = corpus
      .select(col(idCol).cast("string").as("id"), col(vecCol).as("v"))
      .orderBy(col("id").asc).limit(k)
      // k rows: the window is bounded by the seed count (codebook size, at
      // most a few hundred — e.g. 16 or 128 at current call sites), never the
      // corpus. The partition key is constant-per-row but NOT foldable (a
      // lit(0) is folded out of the spec by Catalyst, and an empty spec makes
      // WindowExec log its move-all-data warning) — execution is identical
      // either way: one partition of k rows.
      .withColumn("code",
        row_number().over(Window.partitionBy(col("id").isNull).orderBy(col("id").asc)))
    var cw = seeds
      .select(col("code"), posexplode(subspaces(col("v"), m, dsub)))
      .select(col("pos").as("sub"), col("code"), col("col").as("cvec"))
      .withColumn("cc", VectorFunctions.dot(col("cvec"), col("cvec")))
    if (iters > 0) {
      // one subspace explode, reused by every Lloyd pass
      val sv = corpus
        .select(col(idCol).cast("string").as("id"),
          posexplode(subspaces(col(vecCol), m, dsub)))
        .select(col("id"), col("pos").as("sub"), col("col").as("_sv"))
      for (_ <- 1 to iters) {
        cw = assignSubvectors(sv, cw)
          .select(col("sub"), col("code"), posexplode(col("_sv")))
          .groupBy(col("sub"), col("code"), col("pos"))
          .agg(avg(col("col")).as("m"))
          .groupBy(col("sub"), col("code"))
          .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
          .select(col("sub"), col("code"),
            transform(col("pm"), x => x.getField("m")).as("cvec"))
          .withColumn("cc", VectorFunctions.dot(col("cvec"), col("cvec")))
      }
    }
    Codebook(cw, m, dsub)
  }

  /** Argmin codeword per (id, sub) subvector row, carrying the subvector:
    * broadcast codebook join + one struct-min hash aggregate (map-side
    * combined), ties to the lowest code. Shared by [[encode]] and the Lloyd
    * refinement in [[train]]. */
  private def assignSubvectors(sv: DataFrame, codewords: DataFrame): DataFrame =
    sv.join(broadcast(codewords), Seq("sub"))
      .select(col("id"), col("sub"), col("_sv"), col("code"),
        (col("cc") - lit(2.0) * VectorFunctions.dot(col("_sv"), col("cvec"))).as("_d2"))
      .groupBy("id", "sub")
      .agg(min(struct(col("_d2"), col("code"))).as("_m"), first(col("_sv")).as("_sv"))
      .select(col("id"), col("sub"), col("_m.code").as("code"), col("_sv"))

  /** PQ codes in the exploded "posting" layout: (id, sub, code) — the layout
    * ADC joins against directly; re-pack with `collect_list` if an array
    * per id is wanted. */
  def encode(corpus: DataFrame, idCol: String, vecCol: String,
      cb: Codebook): DataFrame =
    assignSubvectors(
      corpus
        .select(col(idCol).cast("string").as("id"),
          posexplode(subspaces(col(vecCol), cb.m, cb.dsub)))
        .select(col("id"), col("pos").as("sub"), col("col").as("_sv")),
      cb.codewords)
      .select(col("id"), col("sub"), col("code"))

  /** The per-query ADC lookup table: (query_id, sub, code, _ip) — queries ×
    * m × k rows, always broadcast-small. Shared by every ADC scoring path
    * (plain, IVF-pruned, and [[IvfPq.searchSaved]]). */
  private[operators] def adcTable(codewords: DataFrame, queries: DataFrame,
      qId: String, qVec: String, m: Int, dsub: Int): DataFrame =
    queries
      .select(col(qId).cast("string").as("query_id"),
        posexplode(subspaces(col(qVec), m, dsub)))
      .select(col("query_id"), col("pos").as("sub"), col("col").as("_qv"))
      .join(broadcast(codewords), Seq("sub"))
      .select(col("query_id"), col("sub"), col("code"),
        VectorFunctions.dot(col("_qv"), col("cvec")).as("_ip"))

  /** Shared ADC ranking tail over (query_id, id, _ip) contribution rows:
    * per-(query, doc) sum rounded (6 dp) BEFORE ranking, bounded top-k,
    * doc-id tie-break. Output: (query_id, rank, neighbor_id, score). */
  private[operators] def rankAdc(contribs: DataFrame, k: Int): DataFrame = {
    val scored = contribs
      .groupBy(col("query_id"), col("id"))
      .agg(round(sum("_ip"), 6).as("score"))
    VectorSearch.rankedTopK(scored, Seq("query_id"), col("id"), col("score"), k)
      .select(col("query_id"), col("rank"), col("id").as("neighbor_id"), col("score"))
  }

  /** ADC top-k: approximate inner product of each query against every coded
    * vector, `Σ_sub ⟨q_sub, cvec[code_sub]⟩`, scored entirely from `codes`.
    * Scores rounded (6 dp) before ranking, doc-id tie-break. Output:
    * (query_id, rank, neighbor_id, score). */
  def adcTopK(cb: Codebook, codes: DataFrame, queries: DataFrame,
      qId: String, qVec: String, k: Int): DataFrame =
    rankAdc(
      codes.join(broadcast(adcTable(cb.codewords, queries, qId, qVec, cb.m, cb.dsub)),
        Seq("sub", "code")),
      k)

  /** IVF-PQ: the industry-standard composition — [[IvfIndex]] prunes the
    * candidate set to `nProbe` cells, PQ codes stand in for the vectors
    * inside them. The scan is bounded by the probed fraction of the corpus
    * AND each candidate costs m small-int lookups instead of a dim-wide dot
    * product; memory at rest is the coarse assignment + codes, not floats.
    *
    * Plan: centroid KNN (tiny) → probed (query, id) candidates from the
    * inverted file → one equi-join against the code table → per-query ADC
    * table join + two hash aggregations + bounded top-k. Everything after
    * the probe is O(candidates × m). */
  def ivfAdcTopK(index: IvfIndex.Index, cb: Codebook, codes: DataFrame,
      queries: DataFrame, qId: String, qVec: String,
      nProbe: Int, k: Int): DataFrame = {
    // consumed once (no checkpoint): the probe KNN folds into the one plan
    val probes = VectorSearch.knnJoin(
      queries, index.centroids, qId, qVec, "centroid_id", "cvec", nProbe)
      .select(col("query_id"), col("neighbor_id").as("centroid_id"))
    val candIds = index.assignments
      .join(broadcast(probes), Seq("centroid_id"))
      .select(col("query_id"), col("id"))
    rankAdc(
      codes.join(candIds, Seq("id"))
        .join(broadcast(adcTable(cb.codewords, queries, qId, qVec, cb.m, cb.dsub)),
          Seq("query_id", "sub", "code")),
      k)
  }
}
