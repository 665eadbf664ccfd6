package graft.operators

import graft.functions.Norm
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Typo-tolerant dictionary matching: each probe string finds its top-k
  * nearest entity names by edit distance. The graph build dedups entities by
  * EXACT normalized name (SURVEY §2.4 G2, builder.py:76-85) and query-time
  * NER output is matched the same way — one character of OCR noise or a
  * transliteration variant silently severs the query from the graph. This
  * operator is the robustness layer: "Albret Einstein" still finds its node.
  *
  * Scale shape: the probe side (NER output, a review queue, a blocklist) is
  * broadcast-small by contract; the entity table is the big side and is
  * scanned ONCE with everything fused into codegen — a length pre-filter
  * (|len(c)−len(p)| ≤ maxDist, a necessary condition for edit distance)
  * prunes before the O(len²) Levenshtein, which itself runs in Spark's
  * threshold form (early-abandon beyond maxDist). Then the bounded
  * [[TopKAggregator]] per probe. No windows over data, no all-pairs product
  * — cost is O(corpus × probes) cheap compares, the same contract as every
  * other query-side operator here.
  *
  * For corpus×corpus fuzzy DEDUP (both sides large) UNBLOCKED edit-distance
  * all-pairs does not scale and is deliberately not offered; use
  * [[blockedNearDupPairs]] (prefix-block entity resolution, quadratic only
  * within a block — the [[Dedup.lshCandidatePairs]] economics) or the
  * token-level blocked families (LSH, n-gram Jaccard, SimHash).
  */
object FuzzyMatch {

  /** Top-k candidates per probe by (edit distance ASC, candidate ASC), at
    * most `maxDist` edits. Probes with no candidate within range emit no
    * rows. Output: (probe_id, rank, match, dist). */
  def topKByEditDistance(corpus: DataFrame, cId: String, cStr: String,
      probes: DataFrame, pId: String, pStr: String,
      maxDist: Int, k: Int): DataFrame = {
    require(maxDist >= 0 && k > 0)
    val topk = VectorSearch.topKUdaf(k)
    corpus
      .select(col(cId).cast("string").as("match"), col(cStr).as("_cs"))
      .crossJoin(broadcast(probes.select(
        col(pId).cast("string").as("probe_id"), col(pStr).as("_ps"))))
      .filter(abs(length(col("_cs")) - length(col("_ps"))) <= maxDist)
      // threshold Levenshtein: abandons rows beyond maxDist (returns -1)
      .withColumn("_d", levenshtein(col("_cs"), col("_ps"), maxDist))
      .filter(col("_d") >= 0)
      .groupBy("probe_id")
      .agg(topk(col("match"), -col("_d").cast("double")).as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("match"), (-col("col.score")).cast("int").as("dist"))
  }

  /** Blocked entity resolution: near-duplicate NAME pairs within a large
    * entity table — the canonicalization signal a graph build runs when
    * exact-normalized dedup (G2) leaves typo/OCR/transliteration variants
    * as distinct nodes.
    *
    * Exact duplicates collapse FIRST: the pair search runs over DISTINCT
    * (lowercased, trimmed) strings, each carrying its multiplicity and its
    * minimum owning id as representative. This is both the ER semantics
    * (variants of a name are interesting; identical copies are exact
    * dedup's job, D1/D12) and the scale guard — real entity columns are
    * heavy-tailed, and without the collapse a value repeated n times emits
    * n²/2 distance-0 pairs per block (measured: the 64-distinct-name part
    * table at sf0.1 → 30M in-block pairs uncollapsed, thousands collapsed).
    *
    * Then standard prefix blocking: candidates must share their first
    * `prefixLen` characters, so the quadratic search runs only WITHIN a
    * block ([[Dedup]]'s band/cell economics; an unblocked all-pairs is
    * deliberately not offered). Within a block: a length pre-filter (a
    * necessary condition for edit distance, codegen-cheap) then threshold
    * Levenshtein (early-abandon beyond `maxEdit`).
    *
    * Blocking trades recall for scale exactly like LSH banding: a typo
    * INSIDE the prefix escapes the block (run with a reversed-string second
    * pass, or route to the token-level families, when that matters).
    *
    * Output: (id_a, id_b, dist, n_a, n_b) with id_a < id_b — one row per
    * near-duplicate distinct-string pair (dist ≥ 1 by construction), ids
    * the representatives, n_* the exact-copy counts behind each side. */
  def blockedNearDupPairs(df: DataFrame, idCol: String, strCol: String,
      prefixLen: Int, maxEdit: Int): DataFrame =
    blockedPairs(distinctNames(df, idCol, strCol, prefixLen), maxEdit)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("_d").as("dist"),
        col("a.n").as("n_a"), col("b.n").as("n_b"))

  /** The exact-collapse table behind [[blockedNearDupPairs]]: one row per
    * distinct (lowercased, trimmed) string with its min-id representative,
    * exact-copy count and prefix block. Eagerly checkpointed — distinct-name
    * sized, read by both self-join sides. */
  private def distinctNames(df: DataFrame, idCol: String, strCol: String,
      prefixLen: Int): DataFrame = {
    require(prefixLen >= 1)
    df.select(col(idCol).as("id"), lower(trim(col(strCol))).as("_t"))
      .groupBy("_t")
      .agg(min(col("id")).as("id"), count(lit(1)).as("n"))
      .withColumn("_blk", substring(col("_t"), 1, prefixLen))
      .localCheckpoint(true)
  }

  /** In-block near-dup pair search over a [[distinctNames]] table: prefix
    * block equality, length pre-filter, threshold Levenshtein. Columns stay
    * `a.*`/`b.*`-qualified plus `_d` for the caller to project. */
  private def blockedPairs(t: DataFrame, maxEdit: Int): DataFrame = {
    require(maxEdit >= 0)
    t.as("a").join(t.as("b"),
        col("a._blk") === col("b._blk") && col("a.id") < col("b.id"))
      .filter(abs(length(col("a._t")) - length(col("b._t"))) <= maxEdit)
      .withColumn("_d", levenshtein(col("a._t"), col("b._t"), maxEdit))
      .filter(col("_d") >= 0) // ≥ 1 in practice: distinct strings never tie at 0
  }

  /** "Did you mean" query spell correction against a corpus VOCABULARY
    * ([[CorpusOps.vocabulary]]'s (term, freq) shape): each query term NOT in
    * the vocabulary gets its top-k in-vocabulary corrections ranked by
    * (edit distance ASC, corpus frequency DESC, term ASC) — the noisy-channel
    * heuristic with frequency as the language-model prior. In-vocabulary
    * terms emit nothing (they are already right); a query whose every term
    * is known produces no suggestions at all.
    *
    * Scale shape: the vocabulary is the big side, scanned ONCE with the
    * broadcast-tiny OOV terms fused into codegen (length prefilter →
    * threshold Levenshtein — the [[topKByEditDistance]] economics); the
    * ranking window partitions by (query, term), bounded by the
    * broadcast-small probe contract, never by the vocabulary.
    *
    * Output: (query_id, qterm, rank, suggestion, dist, freq). */
  def spellCorrect(vocab: DataFrame, termCol: String, freqCol: String,
      probes: DataFrame, pId: String, pText: String,
      maxDist: Int, k: Int): DataFrame = {
    require(maxDist >= 1 && k >= 1)
    val qterms = probes.select(col(pId).cast("string").as("query_id"),
      explode(array_distinct(Norm.normTokens(col(pText)))).as("qterm"))
    val v = vocab.select(col(termCol).as("_t"), col(freqCol).as("_f"))
    val oov = qterms.join(v.select(col("_t").as("qterm")), Seq("qterm"), "left_anti")
    val byEvidence = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id", "qterm")
      .orderBy(col("dist").asc, col("_f").desc, col("_t").asc)
    v.join(broadcast(oov),
        abs(length(col("_t")) - length(col("qterm"))) <= maxDist)
      .withColumn("dist", levenshtein(col("_t"), col("qterm"), maxDist))
      .filter(col("dist") >= 0)
      .withColumn("rank", row_number().over(byEvidence))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("qterm"), col("rank"),
        col("_t").as("suggestion"), col("dist"), col("_f").as("freq"))
  }

  /** Full entity resolution on top of [[blockedNearDupPairs]]: every input
    * row is assigned a CANONICAL id — the minimum id reachable through the
    * near-duplicate pair graph (exact copies collapse first, then connected
    * components over the blocked pairs; [[graft.operators.Dedup]]'s
    * transitive-closure semantics applied to edit-distance edges). This is
    * the ACTION form of er-pair detection: the output is the rewrite map a
    * graph build applies so "Albert Einstein", "Albret Einstein" and their
    * exact copies all land on one node.
    *
    * Scale shape: the pair search is [[blockedNearDupPairs]]'s (quadratic
    * only within a prefix block, over DISTINCT strings); the component pass
    * is [[Dedup.connectedComponents]] (pair-graph-sized: a driver union-find
    * under its bound, O(log n) star rounds past it); the final assignment is
    * one join of the corpus against the distinct-name table and one against
    * the pair-node-sized label table. Rows in no near-dup pair keep their
    * exact-collapse representative — the map degrades to plain exact dedup
    * exactly where no fuzzy duplication exists.
    *
    * Output: (id, canon_id) for EVERY input row; canon_id == id marks the
    * canonical rows themselves. */
  def resolutionClusters(df: DataFrame, idCol: String, strCol: String,
      prefixLen: Int, maxEdit: Int): DataFrame = {
    val t = distinctNames(df, idCol, strCol, prefixLen)
    val pairs = blockedPairs(t, maxEdit)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
    val cc = Dedup.connectedComponents(pairs) // (id, rep_id), pair nodes only
    df.select(col(idCol).as("id"), lower(trim(col(strCol))).as("_t"))
      .join(t.select(col("_t"), col("id").as("_rep")), Seq("_t"))
      .join(cc.select(col("id").as("_rep"), col("rep_id")), Seq("_rep"), "left")
      .select(col("id"), coalesce(col("rep_id"), col("_rep")).as("canon_id"))
  }
}
