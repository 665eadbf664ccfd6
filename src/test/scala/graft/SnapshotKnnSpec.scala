package graft

import graft.operators.{ScoredId, TopKAggregator}
import graft.sources.{SnapshotNodes, SparseVectors}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The serving snapshot's exact KNN: the posting-list top-k
  * (`SnapshotNodes.knnIp`) and the brute-force scan over every row
  * (`knnScan`), each against a plain sort of every row's copies, and the
  * explicit `(-score, id)` comparator against the tuple ordering it
  * replaces. */
class SnapshotKnnSpec extends AnyFunSuite {

  /** A random sparse table: ids shuffled against row order, a few non-zeros
    * per row from a small value grid (negatives, cancelling pairs), all-zero
    * rows, and duplicated vectors (score ties). */
  private def table(rnd: Random, rows: Int, dim: Int): SnapshotNodes = {
    val values = Array(-2.0, -1.0, -0.5, 0.25, 0.5, 1.0, 3.0)
    val vecs = Array.fill(rows) {
      if (rnd.nextInt(3) == 0) Map.empty[Int, Double] // all-zero row
      else Seq.fill(1 + rnd.nextInt(4))(rnd.nextInt(dim) -> values(rnd.nextInt(values.length))).toMap
    }
    (1 until rows).foreach(r => if (rnd.nextInt(5) == 0) vecs(r) = vecs(rnd.nextInt(r)))
    val offsets = vecs.scanLeft(0)(_ + _.size)
    val sorted = vecs.map(_.toSeq.sortBy(_._1))
    val ids = rnd.shuffle((0 until rows).map(i => f"id$i%03d")).toArray
    new SnapshotNodes(ids, new SparseVectors(offsets,
      sorted.flatMap(_.map(_._1)), sorted.flatMap(_.map(_._2))))
  }

  private def query(rnd: Random, dim: Int): Array[Double] = {
    val q = new Array[Double](dim)
    if (rnd.nextInt(6) > 0) // else the all-zero query
      (0 until 1 + rnd.nextInt(3)).foreach(_ => q(rnd.nextInt(dim)) = rnd.nextInt(7) - 3.0)
    q
  }

  private def same(a: Seq[ScoredId], b: Seq[ScoredId]): Boolean =
    a.map(_.id) == b.map(_.id) && a.map(s => java.lang.Double.doubleToRawLongBits(s.score)) ==
      b.map(s => java.lang.Double.doubleToRawLongBits(s.score))

  /** The definition, independent of the kernel under both KNNs: every row
    * `copies` times as a ScoredId, sorted by the aggregator's order, cut at k. */
  private def reference(t: SnapshotNodes, score: Int => Double, k: Int, copies: Int): Seq[ScoredId] =
    t.ids.indices.flatMap(r => Seq.fill(copies)(ScoredId(t.ids(r), score(r))))
      .sorted(TopKAggregator.ord).take(k)

  test("knnIp and knnScan equal a sort of every row's copies, for ip and -l2 scores") {
    val rnd = new Random(23)
    var kZero, kPast, zeroQuery, cancelled, negative, zeroFilled = 0
    (0 until 400).foreach { trial =>
      val rows = 1 + rnd.nextInt(40)
      val dim = 4 + rnd.nextInt(12)
      val t = table(rnd, rows, dim)
      val q = query(rnd, dim)
      val copies = 1 + trial % 3
      val k = trial % 5 match {
        case 0 => 0
        case 1 => rows * copies + 1 + rnd.nextInt(5)
        case _ => 1 + rnd.nextInt(rows * copies)
      }
      val nz = q.indices.filter(q(_) != 0.0).toArray
      val ip: Int => Double = t.vectors.dot(_, q)
      val l2: Int => Double = r => -t.vectors.l2(r, q, nz)
      val what = s"trial $trial: k=$k copies=$copies"
      val ipRef = reference(t, ip, k, copies)
      assert(same(t.knnIp(q, k, copies), ipRef), s"$what knnIp")
      assert(same(t.knnScan(ip, k, copies), ipRef), s"$what knnScan ip")
      assert(same(t.knnScan(l2, k, copies), reference(t, l2, k, copies)), s"$what knnScan l2")
      if (k == 0) kZero += 1
      if (k > rows * copies) kPast += 1
      if (nz.isEmpty) zeroQuery += 1
      // a row that shares a dimension with q but sums to zero
      if (t.ids.indices.exists { r =>
        (t.vectors.offsets(r) until t.vectors.offsets(r + 1))
          .exists(j => t.vectors.indices(j) < dim && q(t.vectors.indices(j)) != 0.0) && ip(r) == 0.0
      }) cancelled += 1
      if (ipRef.exists(_.score < 0.0)) negative += 1
      if (ipRef.exists(_.score == 0.0)) zeroFilled += 1
    }
    assert(kZero >= 50 && kPast >= 50 && zeroQuery >= 30 && cancelled >= 10 && negative >= 30 &&
      zeroFilled > 100,
      s"coverage: k=0 $kZero, k past rows*copies $kPast, zero query $zeroQuery, " +
        s"cancelled $cancelled, negative $negative, zero-score rows reached $zeroFilled")
  }

  test("a cancelling pair scores +0.0 and ranks with the untouched rows by id") {
    // row 1 ("a") sums 1·1 + 1·(−1) = +0.0; rows 0 and 2 share no dimension
    val t = new SnapshotNodes(Array("c", "a", "b", "d"), new SparseVectors(
      Array(0, 0, 2, 2, 3), Array(0, 1, 0), Array(1.0, -1.0, -2.0)))
    val q = Array(1.0, 1.0)
    val want = Seq(ScoredId("a", 0.0), ScoredId("b", 0.0), ScoredId("c", 0.0), ScoredId("d", -2.0))
    assert(same(t.knnIp(q, 4), want))
    assert(same(t.knnIp(q, 5, copies = 2), want.flatMap(h => Seq(h, h)).take(5)))
    assert(t.knnIp(q, 0).isEmpty && t.knnScan(_ => 1.0, 0, copies = 3).isEmpty)
  }

  test("zero-score rows complete the top-k in id order, not row order") {
    // rows 0-2 share no dimension with the query; their ids run backwards
    val t = new SnapshotNodes(Array("c", "b", "a", "d"),
      new SparseVectors(Array(0, 0, 0, 0, 1), Array(0), Array(1.0)))
    val hits = t.knnIp(Array(2.0, 0.0), 2)
    assert(hits == Seq(ScoredId("d", 2.0), ScoredId("a", 0.0)))
    assert(same(hits, t.knnScan(t.vectors.dot(_, Array(2.0, 0.0)), 2)))
  }

  test("the top-k comparator orders exactly as Ordering.by((-score, id))") {
    val reference = Ordering.by((s: ScoredId) => (-s.score, s.id))
    val specials = Array(Double.NaN, 0.0, -0.0, Double.PositiveInfinity,
      Double.NegativeInfinity, 1.0, -1.0, Double.MinPositiveValue, Double.MaxValue)
    val rnd = new Random(11)
    def draw(): ScoredId = ScoredId(s"id${rnd.nextInt(3)}",
      if (rnd.nextBoolean()) specials(rnd.nextInt(specials.length)) else rnd.nextInt(5) - 2.0)
    val pairs = Seq.fill(20000)((draw(), draw())) ++
      (for (a <- specials.toSeq; b <- specials.toSeq) yield (ScoredId("x", a), ScoredId("x", b)))
    pairs.foreach { case (a, b) =>
      assert(Integer.signum(TopKAggregator.ord.compare(a, b)) ==
        Integer.signum(reference.compare(a, b)), s"$a vs $b")
    }
  }
}
