package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders}

import scala.collection.mutable.ArrayBuffer

/** One scored candidate flowing through the top-k aggregator. */
final case class ScoredId(id: String, score: Double)

/** Bounded top-k aggregate: keeps the k best (score DESC, id ASC) rows per group.
  *
  * Why an Aggregator and not a window: `Window.partitionBy(q).orderBy(score)` shuffles
  * and sorts EVERY scored row (n_queries × corpus_size). An aggregate gets map-side
  * partial aggregation (ObjectHashAggregate): each input partition reduces to ≤k rows
  * per query before the shuffle, so shuffle volume is O(queries × k × partitions)
  * instead of O(queries × corpus). At 100 TB corpus scale this is the difference
  * between a broadcast-scan-reduce and an impossible sort.
  *
  * Determinism: ties broken by id ascending (SURVEY §7.5 — Milvus ties are
  * unspecified; we pin them and encode the same tie-break in the DuckDB oracle).
  */
/** Mutable partial-aggregation state: the candidate buffer plus the current
  * kth-best element once k candidates have been kept. `worst` is a PRUNING
  * BOUND, not part of the result — any arriving candidate ranking at-or-after
  * it can never enter the final top-k (the kept set only improves), so the
  * hot reduce path rejects it with ONE comparison instead of an append plus
  * its amortized share of the periodic sort-compact. Rebuilt by every
  * compact; null until the buffer has filled to k. */
final class TopKBuf[T](val items: ArrayBuffer[T] = new ArrayBuffer[T](8)) {
  var worst: T = _
}

object TopKAggregator {
  /** The rank order: score DESC, id ASC. Shared with the driver-side top-k
    * over scored candidates ([[VectorSearch.topKLocal]], eviction), and
    * mirrored by the snapshot KNN kernel (`SnapshotNodes`), which ranks row
    * numbers by the same compare on their scores, then their id ranks.
    * The order of `Ordering.by((s: ScoredId) => (-s.score, s.id))` without
    * its tuple and boxed double per comparison: `Double.compare` on the
    * negated scores (NaN last, +0.0 before −0.0), then the id. */
  val ord: Ordering[ScoredId] = new Ordering[ScoredId] {
    def compare(a: ScoredId, b: ScoredId): Int = {
      val c = java.lang.Double.compare(-a.score, -b.score)
      if (c != 0) c else a.id.compareTo(b.id)
    }
  }
}

class TopKAggregator(k: Int) extends Aggregator[ScoredId, TopKBuf[ScoredId], Seq[ScoredId]] {
  private val ord = TopKAggregator.ord

  // Buffer holds at most 4k candidates; compacted to k on overflow/merge/finish.
  private def compact(b: TopKBuf[ScoredId]): TopKBuf[ScoredId] = {
    val kept = b.items.sorted(ord).take(k)
    b.items.clear(); b.items ++= kept
    b.worst = if (kept.length == k) kept.last else null
    b
  }

  override def zero: TopKBuf[ScoredId] = new TopKBuf[ScoredId]
  override def reduce(b: TopKBuf[ScoredId], a: ScoredId): TopKBuf[ScoredId] = {
    if (b.worst != null && ord.compare(a, b.worst) >= 0) return b // can't place
    b.items += a
    if (b.items.length >= 4 * k + 4) compact(b) else b
  }
  override def merge(a: TopKBuf[ScoredId], b: TopKBuf[ScoredId]): TopKBuf[ScoredId] =
    compact { a.items ++= b.items; a }
  override def finish(b: TopKBuf[ScoredId]): Seq[ScoredId] = b.items.sorted(ord).take(k).toSeq
  override def bufferEncoder: Encoder[TopKBuf[ScoredId]] = Encoders.kryo[TopKBuf[ScoredId]]
  override def outputEncoder: Encoder[Seq[ScoredId]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredId]]()
}

/** A scored candidate carrying its text payload (for single-pass eviction+fetch). */
final case class ScoredRow(id: String, text: String, score: Double)

final case class TripletCand(id: String, same: Boolean, score: Double)

/** One-pass state for [[TripletAggregator]]: the hardest positive (MIN
  * cosine over same-label pairs) and hardest negative (MAX cosine over
  * cross-label pairs) in O(1) — so the n² pair stream is consumed ONCE by a
  * single aggregation and never materialized (the previous shape pinned the
  * full scored pair table with localCheckpoint so two separate top-1
  * reductions could share it — at sf0.1 that is a 25M-row write that
  * dominated the query). A null id means that side has seen no candidate. */
final class TripletBuf extends Serializable {
  var posId: String = _; var posCos: Double = 0.0
  var negId: String = _; var negCos: Double = 0.0
}

/** Combined hardest-positive/hardest-negative reduction. Tie-breaks match
  * the TopKAggregator convention (ties to min id), so results are identical
  * to the two-reduction formulation and the same DuckDB oracle holds. */
class TripletAggregator extends Aggregator[TripletCand, TripletBuf, (String, Double, String, Double)] {
  private def offerPos(b: TripletBuf, id: String, c: Double): Unit =
    if (b.posId == null || c < b.posCos || (c == b.posCos && id < b.posId)) {
      b.posId = id; b.posCos = c
    }
  private def offerNeg(b: TripletBuf, id: String, c: Double): Unit =
    if (b.negId == null || c > b.negCos || (c == b.negCos && id < b.negId)) {
      b.negId = id; b.negCos = c
    }
  override def zero: TripletBuf = new TripletBuf
  override def reduce(b: TripletBuf, a: TripletCand): TripletBuf = {
    if (a.same) offerPos(b, a.id, a.score) else offerNeg(b, a.id, a.score); b
  }
  override def merge(a: TripletBuf, b: TripletBuf): TripletBuf = {
    if (b.posId != null) offerPos(a, b.posId, b.posCos)
    if (b.negId != null) offerNeg(a, b.negId, b.negCos)
    a
  }
  override def finish(b: TripletBuf): (String, Double, String, Double) =
    (b.posId, b.posCos, b.negId, b.negCos)
  override def bufferEncoder: Encoder[TripletBuf] = Encoders.kryo[TripletBuf]
  override def outputEncoder: Encoder[(String, Double, String, Double)] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(String, Double, String, Double)]()
}

/** [[TopKAggregator]] with a text payload per row: lets V1 eviction return the
  * surviving rows WITH their texts in the same single aggregation job, instead
  * of a second broadcast-join+collect to fetch them. Buffer cost grows by the
  * text size — callers bound it (relation texts, threshold ≤ ~1000 rows). */
class TopKRowAggregator(k: Int) extends Aggregator[ScoredRow, TopKBuf[ScoredRow], Seq[ScoredRow]] {
  private val ord: Ordering[ScoredRow] =
    Ordering.by((s: ScoredRow) => (-s.score, s.id))

  private def compact(b: TopKBuf[ScoredRow]): TopKBuf[ScoredRow] = {
    val kept = b.items.sorted(ord).take(k)
    b.items.clear(); b.items ++= kept
    b.worst = if (kept.length == k) kept.last else null
    b
  }

  override def zero: TopKBuf[ScoredRow] = new TopKBuf[ScoredRow]
  override def reduce(b: TopKBuf[ScoredRow], a: ScoredRow): TopKBuf[ScoredRow] = {
    if (b.worst != null && ord.compare(a, b.worst) >= 0) return b // can't place
    b.items += a
    if (b.items.length >= 4 * k + 4) compact(b) else b
  }
  override def merge(a: TopKBuf[ScoredRow], b: TopKBuf[ScoredRow]): TopKBuf[ScoredRow] =
    compact { a.items ++= b.items; a }
  override def finish(b: TopKBuf[ScoredRow]): Seq[ScoredRow] = b.items.sorted(ord).take(k).toSeq
  override def bufferEncoder: Encoder[TopKBuf[ScoredRow]] = Encoders.kryo[TopKBuf[ScoredRow]]
  override def outputEncoder: Encoder[Seq[ScoredRow]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[ScoredRow]]()
}

/** Brute-force exact KNN (SURVEY §2.6) — the semantic spec of the reference's Milvus
  * `search` (IP metric on L2-normalized vectors ⇒ cosine; storage/milvus.py:346-427).
  *
  * Physical shape at scale: the query side is tiny (a question's entities), the corpus
  * side is huge. So: broadcast the queries, stream the corpus once (no shuffle of
  * corpus rows), score with the codegen'd [[graft.functions.DotProduct]], reduce to
  * top-k per query map-side via [[TopKAggregator]]. One narrow scan + one tiny shuffle.
  */
object VectorSearch {

  /** The bounded top-k aggregate as a DataFrame UDAF: `topKUdaf(k)(idCol, scoreCol)`. */
  /** Vector dimension read from the FIRST row; None on an empty frame —
    * callers skip sign-blocking then (an empty input yields an empty result
    * either way) instead of crashing in `head()`. The first row's dimension
    * is assumed uniform across the frame, the same contract every dot
    * product here already relies on; ragged input fails in the dot, not
    * silently in the sketch. */
  private[operators] def headDim(df: DataFrame, vecCol: String): Option[Int] =
    df.filter(col(vecCol).isNotNull) // a NULL first vector must not NPE the probe
      .select(size(col(vecCol))).limit(1).collect().headOption.map(_.getInt(0))

  /** The shared block-key column: hyperplane sign sketch when `blockBits > 0`
    * and the frame is non-empty, else the single block 0L. */
  private def blockKey(df: DataFrame, vecCol: String, v: Column,
      blockBits: Int): Column =
    if (blockBits == 0) lit(0L)
    else headDim(df, vecCol) match {
      case Some(dim) => VectorFunctions.hyperplaneSketch(v, dim, blockBits)
      case None => lit(0L)
    }

  /** The pair-scan block predicate. CRITICAL at scale: when `blockBits == 0`
    * this must be `lit(true)`, NOT an equality on the constant block column —
    * after the checkpoint the constant is opaque data, Spark would extract it
    * as an equi-join key, and hash-partitioning on a constant sends EVERY row
    * of both sides to one task, serializing the whole n² scan. With no
    * equality in the condition the exact path keeps its partition-parallel
    * nested-loop/cartesian plan. */
  private def sameBlock(blockBits: Int): Column =
    if (blockBits == 0) lit(true)
    else col("a.__blk") === col("b.__blk")

  /** The OTHER half of the exact-path parallelism contract ([[sameBlock]]):
    * the nested-loop/cartesian pair scan runs at the STREAMED side's
    * partition count, and the pinned base frame inherits its partitioning
    * from the input — a small single-file parquet table arrives as ONE
    * partition, so without this the whole n² scan would execute on one
    * task no matter how many cores the cluster has (measured 2.8→0.6 s on
    * the sf0.1 sim family). Spread up to defaultParallelism before
    * pinning; at corpus scale the input already exceeds it and this is a
    * no-op (no shuffle is ever REMOVED here — shrinking a wide input
    * would serialize the scan the same way). */
  private[operators] def spreadScan(df: DataFrame): DataFrame = {
    val dp = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < dp) df.repartition(dp) else df
  }

  def topKUdaf(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    udaf(new TopKAggregator(k))

  /** For each row of `queries`, the top-k rows of `corpus` by dot-product score.
    *
    * Output columns: `<qIdOut>`, `rank` (1-based), `<cIdOut>`, `score`.
    * Ties broken by corpus id ascending. `queries` must be broadcast-small.
    */
  def knnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      qId: String, qVec: String,
      cId: String, cVec: String,
      k: Int,
      qIdOut: String = "query_id",
      cIdOut: String = "neighbor_id"): DataFrame = {
    val spark = corpus.sparkSession
    val topk = udaf(new TopKAggregator(k))
    val q = queries.select(col(qId).cast("string").as("__qid"), col(qVec).as("__qvec"))
    val c = corpus.select(col(cId).cast("string").as("__cid"), col(cVec).as("__cvec"))
    c.join(broadcast(q))
      .select(col("__qid"),
        col("__cid"),
        VectorFunctions.dot(col("__qvec"), col("__cvec")).as("__score"))
      .groupBy(col("__qid"))
      .agg(topk(col("__cid"), col("__score")).as("__top"))
      .select(col("__qid"), posexplode(col("__top")))
      .select(
        col("__qid").as(qIdOut),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as(cIdOut),
        col("col.score").as("score"))
  }

  /** [[knnJoin]] under EUCLIDEAN (L2) distance — the reference's metric is
    * configurable (milvus.py:103-111, metric_type in config.py:43-54); IP on
    * normalized vectors covers COSINE, this covers L2 for callers whose
    * vectors are NOT normalized (raw feature spaces, PQ residuals). Same
    * broadcast-scan-reduce plan; the distance is a sequential double fold
    * Σ(a−b)² over double-cast arrays then sqrt — the element order and
    * arithmetic DuckDB's `list_distance(::DOUBLE[], ...)` uses, so the
    * scores are engine-comparable like the DotProduct/list_dot_product
    * pair. Nearest first (ties by id ASC).
    * Output: (query_id, rank, neighbor_id, dist). */
  def knnJoinL2(
      queries: DataFrame,
      corpus: DataFrame,
      qId: String, qVec: String,
      cId: String, cVec: String,
      k: Int): DataFrame = {
    val topk = udaf(new TopKAggregator(k))
    val q = queries.select(col(qId).cast("string").as("__qid"),
      col(qVec).cast("array<double>").as("__qvec"))
    val c = corpus.select(col(cId).cast("string").as("__cid"),
      col(cVec).cast("array<double>").as("__cvec"))
    val d2 = aggregate(
      zip_with(col("__qvec"), col("__cvec"), (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, v) => acc + v)
    c.join(broadcast(q))
      .select(col("__qid"), col("__cid"), sqrt(d2).as("__dist"))
      .groupBy(col("__qid"))
      .agg(topk(col("__cid"), -col("__dist")).as("__top"))
      .select(col("__qid"), posexplode(col("__top")))
      .select(
        col("__qid").as("query_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neighbor_id"),
        (-col("col.score")).as("dist"))
  }

  /** Window-based reference implementation of the same semantics (used to cross-check
    * the aggregator in tests; O(n log n) per query — do not use at scale). */
  def knnJoinWindow(
      queries: DataFrame,
      corpus: DataFrame,
      qId: String, qVec: String,
      cId: String, cVec: String,
      k: Int,
      qIdOut: String = "query_id",
      cIdOut: String = "neighbor_id"): DataFrame = {
    val q = queries.select(col(qId).cast("string").as("__qid"), col(qVec).as("__qvec"))
    val c = corpus.select(col(cId).cast("string").as("__cid"), col(cVec).as("__cvec"))
    val w = Window.partitionBy(col("__qid")).orderBy(col("__score").desc, col("__cid").asc)
    c.join(broadcast(q))
      .select(col("__qid"), col("__cid"),
        VectorFunctions.dot(col("__qvec"), col("__cvec")).as("__score"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("__qid").as(qIdOut), col("rank"),
        col("__cid").as(cIdOut), col("__score").as("score"))
  }

  /** Driver-side twin of the [[TopKAggregator]] reduction over candidates
    * already held as [[ScoredId]]s (the local eviction): the first `k` under
    * the same `(-score, id)` ordering object, duplicates kept as the
    * aggregator keeps them. Bounded max-heap of the k best. The snapshot
    * KNNs select row numbers with their own primitive kernel instead. */
  def topKLocal(candidates: Iterator[ScoredId], k: Int): Seq[ScoredId] = {
    if (k <= 0) return Seq.empty
    val ord = TopKAggregator.ord
    val heap = scala.collection.mutable.PriorityQueue.empty[ScoredId](ord)
    candidates.foreach { c =>
      if (heap.size < k) heap.enqueue(c)
      else if (ord.lt(c, heap.head)) { heap.dequeue(); heap.enqueue(c) }
    }
    heap.toSeq.sorted(ord)
  }

  /** R2/R5 score-threshold filter. */
  def thresholdFilter(hits: DataFrame, theta: Double): DataFrame =
    hits.filter(col("score") > theta)

  /** R3 dedup-union across query entities: one row per neighbor, best score,
    * earliest (query, rank) for first-seen ordering parity (retriever.py:135-153). */
  def dedupUnion(hits: DataFrame, cIdCol: String = "neighbor_id"): DataFrame =
    hits.groupBy(col(cIdCol))
      .agg(max(col("score")).as("score"), min(col("rank")).as("best_rank"))

  /** HARD-NEGATIVE MINING for contrastive training — per anchor, the top-k
    * most-similar vectors carrying a DIFFERENT label. The negatives that
    * actually move an embedder live just outside the decision boundary
    * (high cosine, wrong class); uniformly random negatives are almost all
    * trivially far and contribute ~zero gradient, so every contrastive
    * recipe (SimCLR-style InfoNCE, triplet, SBERT fine-tuning) mines the
    * confusable band instead. `minCosine` floors the band to cut the easy
    * tail before the top-k even sees it.
    *
    * Shape: label-inequality self-join → cosine floor → the bounded top-k
    * AGGREGATE ([[TopKAggregator]]: map-side combined, k-bounded state —
    * never a per-anchor sort of all candidates). `blockBits = 0` is the
    * exact n² baseline; `blockBits > 0` restricts candidates to pairs
    * agreeing on the same deterministic hyperplane sign sketch
    * [[Dedup.embeddingNearDupPairs]] blocks with (identical md5-derived
    * planes) — the equi-join scale path, biased exactly toward the
    * high-cosine region hard negatives live in (sign agreement IS
    * approximate angular closeness). Recall < 1 vs the exact baseline by
    * construction; both variants sit under oracles so the trade is
    * measurable, the d5/d6 pairing.
    *
    * Rows with a NULL label join nothing (`=!=` is null-rejecting on both
    * sides) — unlabeled vectors are neither anchors nor negatives.
    * Output: (anchor_id, rank, neg_id, cosine), ids as strings, ties by
    * neg_id ascending. */
  def hardNegatives(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, minCosine: Double,
      blockBits: Int = 0): DataFrame = {
    require(k >= 1, s"hardNegatives: k must be >= 1, got $k")
    val topk = udaf(new TopKAggregator(k))
    // norms (and block keys) precompute per ROW and the frame is PINNED:
    // both self-join sides read the same materialized rows instead of
    // re-running l2Norm (and the blockBits × dim sketch dots) per side
    val base = df.select(col(idCol).cast("string").as("__id"),
      col(labelCol).as("__lab"), col(vecCol).as("__v"))
      .withColumn("__nm", VectorFunctions.l2Norm(col("__v")))
    val withBlock = spreadScan(base
      .withColumn("__blk", blockKey(df, vecCol, col("__v"), blockBits)))
      .localCheckpoint(true)
    val cos = VectorFunctions.cosinePre(col("a.__v"), col("a.__nm"),
      col("b.__v"), col("b.__nm"))
    withBlock.as("a").join(withBlock.as("b"),
        sameBlock(blockBits) &&
        col("a.__id") =!= col("b.__id") &&
        col("a.__lab") =!= col("b.__lab"))
      .select(col("a.__id").as("__anchor"), col("b.__id").as("__neg"),
        cos.as("__c"))
      .filter(col("__c") >= minCosine)
      .groupBy(col("__anchor"))
      .agg(topk(col("__neg"), col("__c")).as("__top"))
      .select(col("__anchor"), posexplode(col("__top")))
      .select(col("__anchor").as("anchor_id"),
        (col("pos") + 1).cast("int").as("rank"),
        col("col.id").as("neg_id"), col("col.score").as("cosine"))
  }

  /** kNN LABEL-AGREEMENT — the mislabeled-example detector (the signal
    * behind confident-learning/Cleanlab-style label audits): for each
    * labeled vector, the fraction of its k nearest neighbors (by cosine,
    * any label) that share its label. A row whose neighborhood votes
    * against it is either mislabeled or sits on a genuine class boundary;
    * both are exactly the rows a training-data pipeline routes to review
    * before the classifier inherits the noise.
    *
    * Shape: the all-pairs scan (the exact baseline; swap the candidate
    * join for [[hardNegatives]]'s sign-blocking or [[IvfIndex]] probes at
    * corpus scale) → bounded top-k aggregate per anchor → ONE map-side
    * agreement count over the k·n surviving rows.
    *
    * `k_eff` is the actual neighbor count (< k when the corpus is small
    * or labels are sparse); agreement divides by it, not by k, so small
    * corpora aren't biased toward disagreement. NULL-label rows are
    * excluded entirely (no label to agree with).
    *
    * The n² pair scan's per-pair work is kept minimal: norms precompute
    * per ROW (cosine = dot/(nₐ·n_b) — one dot product per pair, not
    * three), and neighbor labels join back AFTER the top-k against the
    * node-sized label table (n·k rows) instead of riding the n² rows as
    * packed strings (measured 6.8 s → 3.1 s at 5k×64d).
    *
    * `blockBits > 0` restricts the pair scan to hyperplane-sign blocks
    * ([[hardNegatives]]'s equi-join scale path): neighborhoods stay
    * high-cosine-biased (sign agreement IS approximate angular closeness),
    * so the agreement signal degrades gracefully — `k_eff` shrinks where a
    * block is thin, and anchors alone in their block drop out entirely.
    * Output: (id, label, k_eff, n_same, agreement). */
  def labelAgreement(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String, k: Int, blockBits: Int = 0): DataFrame = {
    require(k >= 1, s"labelAgreement: k must be >= 1, got $k")
    val topk = udaf(new TopKAggregator(k))
    val base = spreadScan(df.filter(col(labelCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        col(labelCol).cast("string").as("__lab"), col(vecCol).as("__v"))
      .withColumn("__nm", VectorFunctions.l2Norm(col("__v")))
      .withColumn("__blk", blockKey(df, vecCol, col("__v"), blockBits)))
      .localCheckpoint(true) // both pair-scan sides + the label join-back
    val cos = VectorFunctions.cosinePre(col("a.__v"), col("a.__nm"),
      col("b.__v"), col("b.__nm"))
    base.as("a").join(base.as("b"),
        sameBlock(blockBits) && col("a.__id") =!= col("b.__id"))
      .select(col("a.__id").as("__anchor"), col("a.__lab").as("__alab"),
        col("b.__id").as("__nbr"), cos.as("__c"))
      .groupBy(col("__anchor"), col("__alab"))
      .agg(topk(col("__nbr"), col("__c")).as("__top"))
      .select(col("__anchor"), col("__alab"), explode(col("__top")).as("__t"))
      .join(base.select(col("__id").as("__nid"), col("__lab").as("__nlab")),
        col("__t.id") === col("__nid"))
      .groupBy(col("__anchor").as("id"), col("__alab").as("label"))
      .agg(count(lit(1)).as("k_eff"),
        sum(when(col("__nlab") === col("__alab"), 1L).otherwise(0L)).as("n_same"))
      .withColumn("agreement", col("n_same").cast("double") / col("k_eff"))
  }

  /** LABEL PROTOTYPES: per label, the mean vector (centroid) and the
    * member nearest to it by cosine (medoid) — the class representatives
    * behind nearest-class-mean classification, dataset distillation
    * (train on prototypes, validate on the rest) and per-class drift
    * monitoring (today's centroid vs last week's). The medoid matters
    * because the centroid is NOT a corpus member: any pipeline that needs
    * a real example per class (prompt exemplars, review samples) wants
    * the medoid beside the mean.
    *
    * Shape: one posexplode → (label, dim)-keyed average (label·dim rows —
    * tiny), centroids reassembled by sorted position, then ONE
    * members⋈centroids broadcast-shaped join scored by cosine with a
    * label-partitioned top-1. Members are scanned twice (centroid pass,
    * medoid pass) — the input is pinned here so the scan is one job's
    * cache, not two corpus reads. NULL-label rows are excluded.
    * Output: (label, n, medoid_id, medoid_cos, centroid). */
  def labelPrototypes(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val base = df.filter(col(labelCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        col(labelCol).cast("string").as("__lab"),
        col(vecCol).cast("array<double>").as("__v"))
      .localCheckpoint(true) // centroid aggregate + medoid join both read it
    val cent = base.select(col("__lab"), posexplode(col("__v")))
      .groupBy(col("__lab"), col("pos"))
      .agg(avg(col("col")).as("__c"))
      .groupBy(col("__lab"))
      .agg(array_sort(collect_list(struct(col("pos"), col("__c")))).as("__pc"))
      .select(col("__lab"), transform(col("__pc"), x => x.getField("__c")).as("__cent"))
    val n = base.groupBy(col("__lab")).agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("__lab"))
      .orderBy(col("__cos").desc, col("__id").asc)
    val medoid = base.join(cent, Seq("__lab"))
      .select(col("__lab"), col("__id"),
        VectorFunctions.cosine(col("__v"), col("__cent")).as("__cos"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
    n.join(medoid, Seq("__lab")).join(cent, Seq("__lab"))
      .select(col("__lab").as("label"), col("n"),
        col("__id").as("medoid_id"), col("__cos").as("medoid_cos"),
        col("__cent").as("centroid"))
  }

  /** MUTUAL-kNN GRAPH: undirected edges (a, b) where each vector is in the
    * OTHER's k nearest neighbors by cosine — the noise-robust similarity
    * graph density-based dedup clustering and manifold methods (UMAP-style
    * neighborhood graphs) build on: a one-directional kNN edge happily
    * links an outlier to a cluster it merely sits nearest to, while
    * mutuality requires the cluster to reciprocate, so hub-attraction
    * edges drop out. The k dial trades graph connectivity against purity.
    *
    * Shape: one n² scored scan (norms hoisted per row — one dot per pair)
    * reduced by the bounded top-k aggregate into the DIRECTED kNN list
    * (n·k rows), then mutuality is a self-join of that list on reversed
    * pairs — n·k sized, never n². The directed list is pinned (both join
    * sides read it). blockBits > 0 restricts the scan to hyperplane-sign
    * blocks, the [[hardNegatives]] scale path.
    * Output: (id_a, id_b, cosine) with id_a < id_b, each mutual pair once. */
  def mutualKnn(df: DataFrame, idCol: String, vecCol: String, k: Int,
      blockBits: Int = 0): DataFrame = {
    require(k >= 1, s"mutualKnn: k must be >= 1, got $k")
    val topk = udaf(new TopKAggregator(k))
    val base = spreadScan(df
      .select(col(idCol).cast("string").as("__id"), col(vecCol).as("__v"))
      .withColumn("__nm", VectorFunctions.l2Norm(col("__v")))
      .withColumn("__blk", blockKey(df, vecCol, col("__v"), blockBits)))
      .localCheckpoint(true) // both self-join sides read it
    val cos = VectorFunctions.cosinePre(col("a.__v"), col("a.__nm"),
      col("b.__v"), col("b.__nm"))
    val knn = base.as("a").join(base.as("b"),
        sameBlock(blockBits) && col("a.__id") =!= col("b.__id"))
      .select(col("a.__id").as("__src"), col("b.__id").as("__dst"), cos.as("__c"))
      .groupBy(col("__src"))
      .agg(topk(col("__dst"), col("__c")).as("__top"))
      .select(col("__src"), explode(col("__top")).as("__t"))
      .select(col("__src"), col("__t.id").as("__dst"), col("__t.score").as("__c"))
      .localCheckpoint(true) // both sides of the mutuality join
    knn.as("x").join(knn.as("y"),
        col("x.__src") === col("y.__dst") && col("x.__dst") === col("y.__src") &&
        col("x.__src") < col("x.__dst"))
      .select(col("x.__src").as("id_a"), col("x.__dst").as("id_b"),
        col("x.__c").as("cosine"))
  }

  /** [[mutualKnn]] over a PREBUILT directed kNN graph (id, nbr_id, cosine)
    * — the consumer end of [[NnDescent.knnGraph]]: past ~10⁷ rows the n²
    * scan inside [[mutualKnn]] is unpayable, so build the approximate graph
    * once (sub-n², shared by every graph consumer) and derive mutuality
    * from it with ONE n·k self-join — no vector ever rides through this
    * operator. Edge agreement with the exact operator is anchored by the
    * graph's recall (a mutual edge survives iff BOTH directed edges were
    * found; false edges additionally need reciprocation, which hub noise
    * rarely gets) — Bench publishes the measured agreement-vs-recall pair.
    * Nodes absent from the graph (see [[NnDescent.knnGraph]]'s omission
    * note) contribute no edges. Output: (id_a, id_b, cosine), id_a < id_b. */
  def mutualKnnFrom(graph: DataFrame): DataFrame = {
    val knn = graph.select(col("id").as("__src"), col("nbr_id").as("__dst"),
      col("cosine").as("__c"))
    knn.as("x").join(knn.as("y"),
        col("x.__src") === col("y.__dst") && col("x.__dst") === col("y.__src") &&
        col("x.__src") < col("x.__dst"))
      .select(col("x.__src").as("id_a"), col("x.__dst").as("id_b"),
        col("x.__c").as("cosine"))
  }

  /** [[knnDensity]] over a PREBUILT kNN graph — same consumer rationale as
    * [[mutualKnnFrom]]. The mean folds over the (cosine DESC, id ASC)
    * sorted list, the exact operator's aggregation order, so on a
    * recall-1.0 graph the scores are bit-identical. `allIds`: left-join
    * the full id frame (first column, cast to string) so nodes MISSING
    * from the graph surface as k_eff = 0 / null mean_cos instead of
    * silently vanishing from a per-id join downstream.
    * Output: (id, k_eff, mean_cos). */
  def knnDensityFrom(graph: DataFrame, allIds: Option[DataFrame] = None): DataFrame = {
    val d = graph.groupBy(col("id"))
      .agg(sort_array(collect_list(struct((-col("cosine")).as("s"),
        col("nbr_id").as("i"), col("cosine").as("c")))).as("__l"))
      .select(col("id"),
        size(col("__l")).cast("long").as("k_eff"),
        (aggregate(transform(col("__l"), t => t.getField("c")),
          lit(0.0), (acc, x) => acc + x) / size(col("__l"))).as("mean_cos"))
    allIds match {
      case None => d
      case Some(ids) =>
        ids.select(col(ids.columns.head).cast("string").as("id")).distinct()
          .join(d, Seq("id"), "left")
          .na.fill(0L, Seq("k_eff"))
    }
  }

  /** TRIPLET MINING: per anchor, the HARDEST POSITIVE (same label,
    * lowest cosine — the in-class example the embedder currently pushes
    * away) and the HARDEST NEGATIVE (different label, highest cosine —
    * [[hardNegatives]]'s top row), with the margin between them. This is
    * the literal batch a triplet/contrastive trainer consumes
    * (FaceNet-style hard mining): margin < 0 rows are the active
    * constraint set where the loss is nonzero, and their count per class
    * is the convergence read.
    *
    * Shape: ONE norm-hoisted n² scored scan into ONE combined aggregation
    * ([[TripletAggregator]]: hardest positive + hardest negative in an O(1)
    * buffer) — the pair stream is consumed as it is produced, never
    * materialized (pinning it for two separate top-1 reductions was a
    * 25M-row localCheckpoint write at sf0.1 that dominated the query;
    * measured 2.34 → ~1.2 s). Anchors missing either side (singleton
    * class, or no other class) drop — a triplet needs all three corners.
    * blockBits
    * would bias the POSITIVE side (hard positives are far apart, the
    * opposite of where sign-blocks concentrate), so this operator is
    * exact-only; at corpus scale mine negatives blocked via
    * [[hardNegatives]] and positives within class partitions.
    * Output: (anchor_id, label, pos_id, pos_cos, neg_id, neg_cos,
    * margin = pos_cos − neg_cos). */
  def tripletMine(df: DataFrame, idCol: String, vecCol: String,
      labelCol: String): DataFrame = {
    val tri = udaf(new TripletAggregator)
    val base = spreadScan(df.filter(col(labelCol).isNotNull)
      .select(col(idCol).cast("string").as("__id"),
        col(labelCol).cast("string").as("__lab"), col(vecCol).as("__v"))
      .withColumn("__nm", VectorFunctions.l2Norm(col("__v"))))
      .localCheckpoint(true) // both self-join sides read it
    val cos = VectorFunctions.cosinePre(col("a.__v"), col("a.__nm"),
      col("b.__v"), col("b.__nm"))
    base.as("a").join(base.as("b"), col("a.__id") =!= col("b.__id"))
      .select(col("a.__id").as("__anchor"), col("a.__lab").as("__alab"),
        col("b.__id").as("__other"), (col("a.__lab") === col("b.__lab")).as("__same"),
        cos.as("__c"))
      .groupBy(col("__anchor"), col("__alab"))
      .agg(tri(col("__other"), col("__same"), col("__c")).as("__t"))
      .filter(col("__t._1").isNotNull && col("__t._3").isNotNull)
      .select(col("__anchor").as("anchor_id"), col("__alab").as("label"),
        col("__t._1").as("pos_id"), col("__t._2").as("pos_cos"),
        col("__t._3").as("neg_id"), col("__t._4").as("neg_cos"),
        (col("__t._2") - col("__t._4")).as("margin"))
  }

  /** kNN DENSITY score: each vector's MEAN cosine to its k nearest
    * neighbors — the embedding-space outlier read (Sun et al. 2022-style
    * deep-kNN OOD): a corrupt document (mojibake, binary-in-text, wrong
    * modality) embeds far from everything and scores near 0, while
    * near-duplicate clusters saturate toward 1, so BOTH tails of this
    * column are curation queues (low = broken, high = redundant). The
    * mean over exactly the k nearest is deliberately rank-weighted-free —
    * a single freak neighbor can't dominate the way a max would.
    *
    * Shape: the shared norm-hoisted pair scan into the bounded top-k,
    * then the mean folds over the aggregator's SORTED (score DESC, id)
    * sequence — a deterministic summation order both engines reproduce
    * (the oracle uses DuckDB's ordered-aggregate `sum(c ORDER BY ...)`),
    * so the double sum carries no partition-order noise.
    *
    * `blockBits > 0` restricts the scan to hyperplane-sign blocks (the
    * [[hardNegatives]] scale path). Blocked density reads LOWER for
    * genuinely sparse rows (their few neighbors may land in other blocks)
    * and nearly exact for dense near-dup clusters (near-identical vectors
    * share sign patterns) — the high-tail curation queue survives blocking,
    * the low tail becomes a recall-biased sample. Anchors alone in their
    * block drop out.
    * Output: (id, k_eff, mean_cos). */
  def knnDensity(df: DataFrame, idCol: String, vecCol: String,
      k: Int, blockBits: Int = 0): DataFrame = {
    require(k >= 1, s"knnDensity: k must be >= 1, got $k")
    val topk = udaf(new TopKAggregator(k))
    val base = spreadScan(df
      .select(col(idCol).cast("string").as("__id"), col(vecCol).as("__v"))
      .withColumn("__nm", VectorFunctions.l2Norm(col("__v")))
      .withColumn("__blk", blockKey(df, vecCol, col("__v"), blockBits)))
      .localCheckpoint(true) // both self-join sides read it
    val cos = VectorFunctions.cosinePre(col("a.__v"), col("a.__nm"),
      col("b.__v"), col("b.__nm"))
    base.as("a").join(base.as("b"),
        sameBlock(blockBits) && col("a.__id") =!= col("b.__id"))
      .select(col("a.__id").as("__anchor"), col("b.__id").as("__nbr"), cos.as("__c"))
      .groupBy(col("__anchor"))
      .agg(topk(col("__nbr"), col("__c")).as("__top"))
      .select(col("__anchor").as("id"),
        size(col("__top")).cast("long").as("k_eff"),
        (aggregate(transform(col("__top"), t => t.getField("score")),
          lit(0.0), (acc, x) => acc + x) / size(col("__top"))).as("mean_cos"))
  }

  /** Greedy k-center coreset selection (farthest-point traversal, Gonzalez
    * 1985 — the 2-approximation every coverage-maximizing data-selection
    * recipe builds on): pick the min-id seed, then k−1 rounds of "add the
    * point whose maximum cosine to the already-selected set is SMALLEST"
    * (the farthest point under cosine distance), ties to min id. The output
    * is the diversity-ordered center list a curation pipeline uses to seed
    * clustering, pick annotation batches, or cap near-duplicate regions —
    * the complement of dedup: not "what repeats" but "what spans the space".
    *
    * Scale shape: k driver rounds; each joins the corpus against ONE
    * broadcast center row (cosine via the codegen'd dot with hoisted norms),
    * folds the running max into one double of per-row state, and reduces
    * with a TakeOrdered(1) — never a global sort, never a pair scan. The
    * state frame is re-pinned per round with its predecessor unpersisted,
    * so lineage stays flat at any k; at 100 TB this is k linear passes with
    * a one-vector broadcast each.
    *
    * Output (k rows, driver-bounded like the reference's assembly stage):
    * (rank, pick_id, max_cos) where max_cos is the picked point's max cosine
    * to the set selected BEFORE it (NULL for the seed). The sequence is
    * monotonically nondecreasing — the coverage-radius curve that says when
    * adding more centers stops buying diversity. */
  def kCenter(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"kCenter: k must be >= 1, got $k")
    val spark = df.sparkSession
    import spark.implicits._
    val base = spreadScan(df
      .select(col(idCol).cast("string").as("__id"), col(vecCol).as("__v"))
      .withColumn("__nm", VectorFunctions.l2Norm(col("__v"))))
      .localCheckpoint(true)
    val picks = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Option[Double])]
    def centerOf(frame: DataFrame, id: String): DataFrame =
      broadcast(frame.filter(col("__id") === id)
        .select(col("__v").as("__cv"), col("__nm").as("__cnm")))
    val seed = base.orderBy(col("__id").asc).select(col("__id")).take(1)
    if (seed.isEmpty) { // empty input: zero rows, correct schema
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(base)
      return Seq.empty[(Int, String, Option[Double])].toDF("rank", "pick_id", "max_cos")
    }
    val seedId = seed.head.getString(0)
    picks += ((1, seedId, None))
    val cos = VectorFunctions.cosinePre(col("__v"), col("__nm"), col("__cv"), col("__cnm"))
    // running state: survivors + their max cosine to the selected set so far
    var state = base.crossJoin(centerOf(base, seedId))
      .filter(col("__id") =!= seedId)
      .select(col("__id"), col("__v"), col("__nm"), cos.as("__mc"))
      .localCheckpoint(true)
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(base)
    var r = 2
    var exhausted = false
    while (r <= k && !exhausted) {
      val pick = state.orderBy(col("__mc").asc, col("__id").asc)
        .select(col("__id"), col("__mc")).take(1)
      if (pick.isEmpty) exhausted = true
      else {
        val (pid, pmc) = (pick.head.getString(0), pick.head.getDouble(1))
        picks += ((r, pid, Some(pmc)))
        if (r < k) {
          val next = state.crossJoin(centerOf(state, pid))
            .filter(col("__id") =!= pid)
            .select(col("__id"), col("__v"), col("__nm"),
              greatest(col("__mc"), cos).as("__mc"))
            .localCheckpoint(true)
          org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(state)
          state = next
        }
        r += 1
      }
    }
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(state)
    picks.toSeq.toDF("rank", "pick_id", "max_cos")
  }

  /** R7 point-lookup batch: `id IN (...)` as a semi-join. */
  def getByIds(table: DataFrame, ids: DataFrame, idCol: String = "id"): DataFrame =
    table.join(ids.select(col(idCol)).distinct(), Seq(idCol), "left_semi")

  /** R8 filtered KNN: restrict corpus to an id set, then search. Falls out of plan
    * order naturally — the semi-join narrows the scan before scoring
    * (retriever.py:267-285). */
  def filteredKnn(
      queries: DataFrame,
      corpus: DataFrame,
      allowedIds: DataFrame,
      qId: String, qVec: String, cId: String, cVec: String,
      k: Int): DataFrame =
    knnJoin(queries, corpus.join(allowedIds.select(col(cId)).distinct(), Seq(cId), "left_semi"),
      qId, qVec, cId, cVec, k)
}
