package graft.sources

import graft.operators.ScoredId
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Row}

/** One node table's embeddings as their non-zeros only (CSR): row `r` owns
  * `indices(offsets(r) until offsets(r + 1))`, ascending, with their
  * `values`. Hash embeddings are a few non-zeros of `dim` wide, so this is
  * a small fraction of the dense copy.
  *
  * Exactness: [[dot]] adds the non-zero terms in index order, which equals
  * DotProduct's dense sequential fold bit for bit — each skipped term is
  * ±0.0, and a sum that starts at +0.0 never becomes −0.0, so adding ±0.0
  * never changes it. [[l2]] applies the same argument to Σ(q−v)² over the
  * merged non-zero indices of both sides (a term with both sides zero is
  * +0.0). Both need a finite query (0 × ∞ is NaN); callers check. The
  * same argument lets [[SnapshotNodes.knnIp]] skip every term whose query
  * side is zero. */
final class SparseVectors(
    val offsets: Array[Int], val indices: Array[Int], val values: Array[Double]) {

  /** DotProduct(q, row): the fold runs over min(|q|, dim) elements. */
  def dot(r: Int, q: Array[Double]): Double = {
    var s = 0.0
    var j = offsets(r)
    val end = offsets(r + 1)
    while (j < end) {
      val i = indices(j)
      if (i < q.length) s += q(i) * values(j)
      j += 1
    }
    s
  }

  /** sqrt(Σ (q_i − v_i)²) in index order, `qNz` = q's non-zero indices
    * ascending — the knnJoinL2 distance for a row of q's width. */
  def l2(r: Int, q: Array[Double], qNz: Array[Int]): Double = {
    var s = 0.0
    var j = offsets(r)
    val end = offsets(r + 1)
    var k = 0
    while (j < end || k < qNz.length) {
      val vi = if (j < end) indices(j) else Int.MaxValue
      val qi = if (k < qNz.length) qNz(k) else Int.MaxValue
      val d =
        if (vi == qi) { j += 1; k += 1; q(qi) - values(j - 1) }
        else if (qi < vi) { k += 1; q(qi) }
        else { j += 1; -values(j - 1) }
      s += d * d
    }
    math.sqrt(s)
  }

  def nonZeros: Int = indices.length

  /** The same non-zeros by column: row `d` of the result lists the rows with
    * a non-zero in dimension `d`, ascending, with their values — the
    * per-dimension posting lists. Its row count is the widest index + 1. */
  def transpose: SparseVectors = {
    val width = if (indices.isEmpty) 0 else indices.max + 1
    val starts = new Array[Int](width + 1)
    indices.foreach(i => starts(i + 1) += 1)
    var d = 0
    while (d < width) { starts(d + 1) += starts(d); d += 1 }
    val fill = java.util.Arrays.copyOf(starts, width)
    val rows = new Array[Int](indices.length)
    val vals = new Array[Double](indices.length)
    var r = 0
    while (r < offsets.length - 1) {
      var j = offsets(r)
      while (j < offsets(r + 1)) {
        val at = fill(indices(j)); fill(indices(j)) += 1
        rows(at) = r; vals(at) = values(j)
        j += 1
      }
      r += 1
    }
    new SparseVectors(starts, rows, vals)
  }
}

/** A node table on the driver: ids, their row numbers and embeddings, plus
  * the embeddings' posting lists and the rows in id order for [[knnIp]].
  * Immutable once built, so concurrent readers share it.
  *
  * Both KNNs score into a per-call `double` accumulator (one slot per row)
  * and select with one primitive kernel, [[TopRows]]: a heap of row numbers
  * ranked by `(-acc(r), idRank(r))`, which is
  * [[graft.operators.TopKAggregator.ord]] with the id compare replaced by
  * the row's position in id order. Only the ≤ k survivors become
  * [[ScoredId]]s. */
final class SnapshotNodes(val ids: Array[String], val vectors: SparseVectors) {
  val rowOf: Map[String, Int] = ids.iterator.zipWithIndex.toMap
  val postings: SparseVectors = vectors.transpose
  val byId: Array[Int] = Array.range(0, ids.length).sortBy(ids(_))
  /** Row `r`'s position in id order: `byId(idRank(r)) == r`. The kernel
    * breaks score ties with it; breaking them with `ids(a).compareTo(ids(b))`
    * instead read rag-serve `read_p50_ms` 0.131 vs 0.118 (8 alternating
    * 14 s pairs on a 4-core box, the String compare slower in 7). */
  val idRank: Array[Int] = {
    val rank = new Array[Int](ids.length)
    var i = 0
    while (i < byId.length) { rank(byId(i)) = i; i += 1 }
    rank
  }

  /** Exact top-`k` rows by `score`, every row scored; `copies` repeats each
    * row as a query text repeated in a Spark batch does. */
  def knnScan(score: Int => Double, k: Int, copies: Int = 1): Seq[ScoredId] = {
    val acc = new Array[Double](ids.length) // per call: readers share a snapshot
    val top = new TopRows(acc, k, copies)
    var r = 0
    while (r < ids.length) { acc(r) = score(r); top.offer(r); r += 1 }
    top.result()
  }

  /** `knnScan(vectors.dot(_, q), k, copies)` from the posting lists of q's
    * non-zero dimensions, bit for bit. Each row's sum adds the same terms in
    * the same (ascending index) order as [[SparseVectors.dot]] minus the
    * ±0.0 ones, so it is the same double; a row sharing no dimension with q
    * scores exactly +0.0 (a sum never reaches −0.0). Every +0.0 row ties, so
    * the `(-score, id)` top-k takes them in id order: ranking the rows that
    * scored non-zero with the first zero-score rows by id, as many as the
    * kernel keeps, is exact. */
  def knnIp(q: Array[Double], k: Int, copies: Int = 1): Seq[ScoredId] = {
    val acc = new Array[Double](ids.length) // per call: readers share a snapshot
    val dims = math.min(q.length, postings.offsets.length - 1)
    var d = 0
    while (d < dims) {
      val qd = q(d)
      if (qd != 0.0) {
        var j = postings.offsets(d)
        while (j < postings.offsets(d + 1)) {
          acc(postings.indices(j)) += qd * postings.values(j)
          j += 1
        }
      }
      d += 1
    }
    val top = new TopRows(acc, k, copies)
    var r = 0
    while (r < ids.length) { if (acc(r) != 0.0) top.offer(r); r += 1 }
    var zeros = 0
    var i = 0
    while (i < byId.length && zeros < top.capacity) {
      if (acc(byId(i)) == 0.0) { top.offer(byId(i)); zeros += 1 }
      i += 1
    }
    top.result()
  }

  /** The selection kernel: the best `capacity = ceil(k / copies)` offered
    * rows under `(-acc(r), idRank(r))`, in a max-heap whose root is the worst
    * one kept. A row's `copies` tie and sit next to each other in that order,
    * so the top-k of every row repeated `copies` times is each kept row
    * repeated `copies` times, cut at k. */
  private final class TopRows(acc: Array[Double], k: Int, copies: Int) {
    val capacity: Int = if (k <= 0) 0 else math.min(ids.length, (k - 1) / copies + 1)
    private val heap = new Array[Int](capacity)
    private var size = 0

    /** Row `a` ranks after row `b`: `Double.compare` on the negated scores,
      * then the id rank. */
    private def after(a: Int, b: Int): Boolean = {
      val c = java.lang.Double.compare(-acc(a), -acc(b))
      c > 0 || c == 0 && idRank(a) > idRank(b)
    }

    private def siftDown(from: Int, n: Int): Unit = {
      val r = heap(from)
      var i = from
      var child = 2 * i + 1
      while (child < n) {
        if (child + 1 < n && after(heap(child + 1), heap(child))) child += 1
        if (after(heap(child), r)) { heap(i) = heap(child); i = child; child = 2 * i + 1 }
        else child = n
      }
      heap(i) = r
    }

    def offer(r: Int): Unit =
      if (size < capacity) {
        var i = size
        while (i > 0 && after(r, heap((i - 1) / 2))) { heap(i) = heap((i - 1) / 2); i = (i - 1) / 2 }
        heap(i) = r
        size += 1
      } else if (capacity > 0 && after(heap(0), r)) { heap(0) = r; siftDown(0, size) }

    /** The kept rows best first, each `copies` times, cut at k. */
    def result(): Seq[ScoredId] = {
      var end = size - 1 // heapsort: move the worst left to the end
      while (end > 0) {
        val worst = heap(0); heap(0) = heap(end); heap(end) = worst
        siftDown(0, end)
        end -= 1
      }
      val out = new Array[ScoredId](math.min(k.toLong, size.toLong * copies).toInt)
      var j = 0
      while (j < out.length) {
        val r = heap(j / copies)
        out(j) = if (j % copies == 0) ScoredId(ids(r), acc(r)) else out(j - 1)
        j += 1
      }
      scala.collection.immutable.ArraySeq.unsafeWrapArray(out)
    }
  }
}

/** Driver-resident serving copy of one graph: everything
  * [[graft.rag.GraphRag.retrieve]] reads — node ids, relation and passage
  * texts, relations' `passage_ids`, the entity↔relation adjacency and the
  * three node tables' embeddings (sparse) — so a retrieve answers without a
  * Spark job. Immutable; [[GraphStore]] owns its lifecycle. */
final class GraphSnapshot(
    val dim: Option[Int], // the one embedding width; None without vectors
    val entities: SnapshotNodes,
    val relations: SnapshotNodes,
    val relationTexts: Array[String],
    val relationPassages: Array[Array[String]],
    val passages: SnapshotNodes,
    val passageTexts: Array[String],
    val entityRelations: Map[String, Seq[String]],
    val relationEntities: Map[String, Seq[String]]) {

  /** Rough heap footprint (object headers, UTF-16 chars, map entries). */
  def sizeBytes: Long = {
    def str(s: String): Long = if (s == null) 0L else 48L + 2L * s.length
    def nodes(n: SnapshotNodes): Long =
      n.ids.map(str).sum + 64L * n.ids.length + GraphSnapshot.vectorBytes(n)
    def adj(m: Map[String, Seq[String]]): Long =
      m.iterator.map { case (k, v) => 64L + str(k) + 8L * v.size }.sum
    nodes(entities) + nodes(relations) + nodes(passages) +
      relationTexts.map(str).sum + passageTexts.map(str).sum +
      relationPassages.map(ps => 16L + 8L * ps.length).sum +
      adj(entityRelations) + adj(relationEntities)
  }
}

object GraphSnapshot {
  /** The tables a snapshot reads, in build order. */
  val Tables: Seq[String] = Seq("entities", "relations", "passages", "entity_relation")

  /** In-memory bytes assumed per stored parquet byte: decoded strings are
    * UTF-16 with object headers, and dense-stored sparse vectors compress
    * well on disk, so the snapshot outgrows its files. */
  val ParquetExpansion: Long = 8L

  /** Share of the JVM's max heap one graph's snapshot may take. */
  val HeapFraction: Long = 4L // i.e. 1/4

  def estimateBytes(parquetBytes: Long): Long = parquetBytes * ParquetExpansion

  /** A node table's arrays: the CSR rows and the posting lists (4 B index +
    * 8 B value per non-zero, 4 B per offset), and 4 B per row for each of
    * the rows in id order and the rows' id ranks. */
  def vectorBytes(n: SnapshotNodes): Long = {
    def csr(v: SparseVectors): Long = 12L * v.nonZeros + 4L * v.offsets.length
    csr(n.vectors) + csr(n.postings) + 4L * n.byId.length + 4L * n.idRank.length
  }

  /** The selection rule: a graph is served from a snapshot iff its estimated
    * snapshot size fits `maxMemory / HeapFraction`. */
  def fits(estimatedBytes: Long, maxMemory: Long): Boolean =
    estimatedBytes <= maxMemory / HeapFraction

  /** Non-zeros of an embedding column as (index, value) structs, computed on
    * the executors so the collect carries only them. */
  private def sparse(embedding: String) = {
    val e = col(embedding).cast("array<double>")
    filter(transform(e, (x, i) => struct(i.as("i"), x.as("v"))), s => s("v") =!= 0.0)
  }

  /** Build from the graph's tables, one collect per table, `afterRead(table)`
    * after each. None when the embeddings are not representable exactly:
    * a null vector, mixed widths or a non-finite value (the Spark path then
    * serves the graph). */
  def build(read: String => DataFrame, afterRead: String => Unit): Option[GraphSnapshot] = {
    def collect(table: String, cols: org.apache.spark.sql.Column*): Array[Row] = {
      val rows = read(table).select(cols: _*).collect()
      afterRead(table)
      rows
    }
    def nodeRows(table: String, extra: String*): Array[Row] =
      collect(table, (col("id") +: extra.map(col)) ++
        Seq(size(col("embedding")).as("dim"), sparse("embedding").as("nz")): _*)

    val ent = nodeRows("entities")
    val rel = nodeRows("relations", "text", "passage_ids")
    val pas = nodeRows("passages", "text")
    val er = collect("entity_relation", col("entity_id"), col("relation_id"))

    // (dims, vectors) of one table; a null vector is dim -1 or null
    def vectors(rows: Array[Row], dimAt: Int): (Set[Int], SparseVectors, Boolean) = {
      val offsets = new Array[Int](rows.length + 1)
      val idx = Array.newBuilder[Int]
      val vals = Array.newBuilder[Double]
      var finite = true
      var n = 0
      rows.indices.foreach { r =>
        if (!rows(r).isNullAt(dimAt + 1))
          rows(r).getSeq[Row](dimAt + 1).foreach { s =>
            val v = s.getDouble(1)
            finite &&= !v.isNaN && !v.isInfinite
            idx += s.getInt(0); vals += v; n += 1
          }
        offsets(r + 1) = n
      }
      val dims = rows.map(r => if (r.isNullAt(dimAt)) -1 else r.getInt(dimAt)).toSet
      (dims, new SparseVectors(offsets, idx.result(), vals.result()), finite)
    }
    val (eDims, eVec, eFin) = vectors(ent, 1)
    val (rDims, rVec, rFin) = vectors(rel, 3)
    val (pDims, pVec, pFin) = vectors(pas, 2)
    val dims = eDims ++ rDims ++ pDims
    if (dims.size > 1 || dims.exists(_ < 0) || !(eFin && rFin && pFin)) return None

    val edges = er.map(r => (r.getString(0), r.getString(1)))
    def adjacency(pairs: Array[(String, String)]): Map[String, Seq[String]] =
      pairs.groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).toSeq }
    Some(new GraphSnapshot(
      dim = dims.headOption,
      entities = new SnapshotNodes(ent.map(_.getString(0)), eVec),
      relations = new SnapshotNodes(rel.map(_.getString(0)), rVec),
      relationTexts = rel.map(_.getString(1)),
      relationPassages = rel.map(r =>
        if (r.isNullAt(2)) Array.empty[String] else r.getSeq[String](2).toArray),
      passages = new SnapshotNodes(pas.map(_.getString(0)), pVec),
      passageTexts = pas.map(_.getString(1)),
      entityRelations = adjacency(edges),
      relationEntities = adjacency(edges.map(_.swap))))
  }
}
