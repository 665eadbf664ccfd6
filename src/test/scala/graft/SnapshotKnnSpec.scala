package graft

import graft.operators.{ScoredId, TopKAggregator}
import graft.sources.{SnapshotNodes, SparseVectors}
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The serving snapshot's exact KNN: the posting-list top-k
  * (`SnapshotNodes.knnIp`) against the brute-force scan over every row, and
  * the explicit `(-score, id)` comparator against the tuple ordering it
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

  test("posting-list ip top-k equals the brute-force scan, ids, order and score bits") {
    val rnd = new Random(7)
    var zeroFilled = 0
    (0 until 300).foreach { trial =>
      val rows = 1 + rnd.nextInt(40)
      val dim = 4 + rnd.nextInt(12)
      val t = table(rnd, rows, dim)
      val q = query(rnd, dim)
      val k = 1 + rnd.nextInt(rows + 5) // up to past the table's size
      val copies = 1 + rnd.nextInt(3)
      val scan = t.knnScan(t.vectors.dot(_, q), k, copies)
      val posted = t.knnIp(q, k, copies)
      assert(same(posted, scan), s"trial $trial: k=$k copies=$copies\n posted $posted\n scan   $scan")
      if (scan.exists(_.score == 0.0)) zeroFilled += 1
    }
    assert(zeroFilled > 100, "too few trials reached the zero-score rows")
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
