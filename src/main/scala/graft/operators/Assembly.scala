package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** V1 eviction + V3–V5 final assembly (SURVEY §2.8).
  *
  * All three ops here end in a GLOBAL ordering of a bounded set (≤ threshold or
  * ≤ topK rows by construction). None of them uses an unpartitioned window:
  * a `Window.orderBy` with no partition funnels every input row through a single
  * sort task, which on the eviction path (whose whole reason to exist is "the
  * expanded relation set got big") is the one place the pipeline would stop
  * scaling. Instead:
  *   - eviction = one [[TopKRowAggregator]] pass — map-side partial top-k, shuffle
  *     volume O(k × partitions), rank = position in the final sorted array;
  *   - the bounded tails (no-eviction id-sort, passage cut, backfill) =
  *     `collect_list` into a single sorted array + `posexplode` — legal only
  *     because their inputs are ≤ threshold/topK rows by construction.
  */
object Assembly {

  /** Rank a bounded candidate set by sorting ONE collected array: rank = array
    * position. Input must be bounded (≤ ~thousands of rows) by construction. */
  private def rankBounded(df: DataFrame, sortCols: Seq[String], outCols: Seq[String],
      limit: Int = Int.MaxValue): DataFrame = {
    val packed = struct(sortCols.map(col): _*)
    df.agg(slice(array_sort(collect_list(packed)), 1, limit).as("__sorted"))
      .select(posexplode(col("__sorted")))
      .select(outCols.map(c => col(s"col.$c").as(c)) :+
        (col("pos") + 1).cast("int").as("rank"): _*)
  }

  /** V1 eviction top-k (retriever.py:232-285) FUSED with candidate-row fetch:
    * if the candidate count exceeds `threshold`, keep top-`threshold` by
    * similarity to the query vector; ELSE return all sorted lexicographically
    * by id — the HippoRAG-compat quirk: the no-eviction path is id-sorted, NOT
    * score-sorted (retriever.py:263-265).
    *
    * ONE job: `agg(count, topK)` — the [[TopKRowAggregator]] does partial
    * top-k on every map partition (no global sort, no shuffle of the full
    * candidate set), and because its buffer retains everything when
    * n ≤ threshold, the same aggregate row serves BOTH branches. The
    * survivors come back with id, text AND score in final rank order, which
    * saves the second broadcast-join+collect the rerank stage would otherwise
    * pay to fetch candidate texts; buffer growth is bounded by
    * threshold × text size.
    *
    * Input `candidates`: (id, text, embedding). */
  def evictionTopKRows(
      candidates: DataFrame,
      queryVec: Seq[Double],
      threshold: Int): (Seq[(String, String, Double)], Boolean) = {
    val qv = typedLit(queryVec)
    val topk = udaf(new TopKRowAggregator(threshold))
    val row = candidates
      .select(col("id"), col("text"),
        VectorFunctions.dot(col("embedding"), qv).as("score"))
      .agg(count(lit(1)).as("n"),
        topk(col("id"), col("text"), col("score")).as("top"))
      .head()
    val n = row.getLong(0)
    val rows = row.getSeq[org.apache.spark.sql.Row](1)
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    evictionOrder(rows.toSeq, n, threshold)(_._1)
  }

  /** The eviction decision over the top-`threshold` rows of `n` candidates:
    * score order under eviction, else (all rows kept) id order. */
  private def evictionOrder[T](top: Seq[T], n: Long, threshold: Int)(
      id: T => String): (Seq[T], Boolean) = {
    val evicted = n > threshold
    (if (evicted) top else top.sortBy(id), evicted)
  }

  /** [[evictionTopKRows]] over driver-side scored candidates (one entry per
    * candidate row): the same top-`threshold` under
    * [[TopKAggregator.ord]] and the same eviction decision. */
  def evictionTopKLocal(candidates: Seq[ScoredId], threshold: Int): (Seq[ScoredId], Boolean) =
    evictionOrder(VectorSearch.topKLocal(candidates.iterator, threshold),
      candidates.size.toLong, threshold)(_.id)

  /** V4 relation→passage join (rag.py:161-194): relations in rerank order →
    * explode passage ids positionally → dedup passages keeping FIRST-SEEN order
    * (by relation rank, then position) → head `topK`.
    *
    * `rankedRelations`: (relation_id, rel_rank); `relations`: full table with
    * `passage_ids` array. Output: (passage_id, rank).
    *
    * The first-seen dedup window is PARTITIONED (by passage_id) — scales; the
    * final global cut runs on the deduped passages of ≤ k reranked relations,
    * bounded, so it is a single sorted-array rank.
    */
  def passagesForRelations(
      rankedRelations: DataFrame,
      relations: DataFrame,
      topK: Int): DataFrame = {
    val exploded = broadcast(rankedRelations)
      .join(relations.select(col("id").as("relation_id"), col("passage_ids")),
        Seq("relation_id"))
      .select(col("rel_rank"), posexplode(col("passage_ids")))
      .select(col("rel_rank"), col("pos"), col("col").as("passage_id"))
    val firstSeen = Window.partitionBy(col("passage_id"))
      .orderBy(col("rel_rank").asc, col("pos").asc)
    rankBounded(
      exploded.withColumn("rn", row_number().over(firstSeen)).filter(col("rn") === 1),
      Seq("rel_rank", "pos", "passage_id"), Seq("passage_id"), topK)
  }

  /** [[passagesForRelations]] over driver-side `passage_ids` arrays given in
    * relation rank order: walking them in (rel_rank, pos) order, the first
    * occurrence of each passage id, cut at `topK`. */
  def passagesForRelationsLocal(rankedPassageIds: Seq[Seq[String]], topK: Int): Seq[String] = {
    val seen = new java.util.HashSet[String]() // null-safe, like the window's partition
    rankedPassageIds.iterator.flatten.filter(seen.add).take(topK).toSeq
  }

  final case class MmrPick(rank: Int, pick_id: String, mmr_score: Double)

  /** Maximal Marginal Relevance selection (Carbonell–Goldstein) — the
    * diversity ACTION on a retrieved candidate set: iteratively pick
    * argmax [ λ·rel(d) − (1−λ)·max_{s∈selected} sim(d, s) ], so near-copies
    * of an already-chosen document rank below a fresh topic even at higher
    * relevance — the context-packing read a RAG assembler wants when the
    * top-k is dominated by one passage's duplicates.
    *
    * Candidates are broadcast-small BY CONTRACT (a retrieval top-k — the
    * [[VectorSearch.knnJoin]] query-side bound, enforced by
    * `maxCandidates`), so selection is a driver-side k-scan like the
    * reference's own assembly stage; zero Spark jobs beyond the collect.
    * Determinism: candidates scan in id order, strict `>` keeps the first
    * (min id) on score ties; round 1 pays no similarity penalty; `lambda`
    * should be a power of two (default 1/2) so the score arithmetic is
    * bit-exact across engines. sim = sequential-double dot product,
    * bit-identical to [[graft.functions.VectorFunctions]]'s DotProduct and
    * DuckDB's `list_dot_product(a::DOUBLE[], b::DOUBLE[])` (pass normalized
    * vectors for cosine semantics).
    *
    * Output: (rank, pick_id, mmr_score) for min(k, candidates) picks. */
  def mmrSelect(candidates: DataFrame, idCol: String, relCol: String,
      vecCol: String, k: Int, lambda: Double = 0.5,
      maxCandidates: Int = 65536): DataFrame = {
    require(k >= 1, "mmrSelect: k must be >= 1")
    val spark = candidates.sparkSession
    import spark.implicits._
    val rows = candidates
      .select(col(idCol).cast("string"), col(relCol).cast("double"),
        col(vecCol).cast("array<double>")) // float widens exactly
      .collect()
    require(rows.length <= maxCandidates,
      s"mmrSelect: ${rows.length} candidates exceed the broadcast-small " +
        s"contract ($maxCandidates) — cut with a retrieval top-k first")
    val n = rows.length
    val ids = rows.map(_.getString(0))
    val rel = rows.map(_.getDouble(1))
    val vecs = rows.map(_.getSeq[Double](2).toArray)
    val order = Array.range(0, n).sortBy(ids(_)) // deterministic scan order
    val picked = new Array[Boolean](n)
    val maxSim = Array.fill(n)(Double.NegativeInfinity)
    val out = Seq.newBuilder[MmrPick]
    var round = 1
    while (round <= math.min(k, n)) {
      var bestI = -1
      var bestScore = Double.NegativeInfinity
      order.foreach { i =>
        if (!picked(i)) {
          val score =
            if (round == 1) lambda * rel(i)
            else lambda * rel(i) - (1 - lambda) * maxSim(i)
          if (score > bestScore) { bestI = i; bestScore = score }
        }
      }
      picked(bestI) = true
      out += MmrPick(round, ids(bestI), bestScore)
      order.foreach { i =>
        if (!picked(i))
          maxSim(i) = math.max(maxSim(i), dotD(vecs(i), vecs(bestI)))
      }
      round += 1
    }
    out.result().toDF()
  }

  /** Sequential left-to-right double accumulation — the DotProduct /
    * `list_dot_product(::DOUBLE[])` float contract. */
  private def dotD(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** [[backfill]] over driver-side id lists in rank order: graph ids, then
    * naive ids not among them, cut at `topK`. Returns (passage_id, rank). */
  def backfillLocal(graphIds: Seq[String], naiveIds: Seq[String], topK: Int): Seq[(String, Int)] = {
    val inGraph = graphIds.toSet
    (graphIds ++ naiveIds.filterNot(inGraph)).take(topK)
      .zipWithIndex.map { case (id, i) => (id, i + 1) }
  }

  /** V5 naive-RAG backfill (rag.py:629-638): append KNN passages not already
    * present until `topK` total, preserving order. Inputs: (passage_id, rank). */
  def backfill(graphHits: DataFrame, naiveHits: DataFrame, topK: Int): DataFrame = {
    val extra = naiveHits
      .join(graphHits.select("passage_id"), Seq("passage_id"), "left_anti")
      .withColumn("rank", col("rank") + lit(1000000))
    rankBounded(graphHits.unionByName(extra),
      Seq("rank", "passage_id"), Seq("passage_id"), topK)
  }
}
