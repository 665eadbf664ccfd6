package graft

import graft.functions.VectorFunctions
import graft.operators.{ScoredId, VectorSearch}
import org.apache.spark.sql.functions._

class VectorSearchSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read.parquet(sf("embeddings")).cache()

  test("codegen DotProduct equals HOF spec form") {
    val d = emb.limit(50)
      .select(abs(VectorFunctions.dot($"embedding", $"embedding") -
        VectorFunctions.dotHof($"embedding", $"embedding")).as("d"))
      .agg(max($"d")).as[Double].head()
    assert(d == 0.0)
  }

  test("l2Normalize yields unit vectors; zero vector survives") {
    val err = emb.limit(50)
      .select(abs(VectorFunctions.l2Norm(VectorFunctions.l2Normalize($"embedding")) - 1.0).as("e"))
      .agg(max($"e")).as[Double].head()
    assert(err < 1e-12)
    val z = Seq(Seq(0.0, 0.0)).toDF("v")
      .select(VectorFunctions.l2Normalize($"v")).as[Seq[Double]].head()
    assert(z == Seq(0.0, 0.0))
  }

  test("aggregator KNN == window KNN (R1 semantics, ties by id)") {
    val q = emb.filter($"vec_id" < 5)
    val c = emb.filter($"vec_id" >= 5)
    val a = VectorSearch.knnJoin(q, c, "vec_id", "embedding", "vec_id", "embedding", 7)
      .select("query_id", "rank", "neighbor_id").collect().map(_.toSeq).toSet
    val w = VectorSearch.knnJoinWindow(q, c, "vec_id", "embedding", "vec_id", "embedding", 7)
      .select("query_id", "rank", "neighbor_id").collect().map(_.toSeq).toSet
    assert(a == w)
    assert(a.size == 35)
  }

  test("filteredKnn only returns allowed ids (R8)") {
    val q = emb.filter($"vec_id" < 3)
    val c = emb.filter($"vec_id" >= 3)
    val allowed = emb.filter($"label" === 2).select("vec_id")
    val got = VectorSearch.filteredKnn(q, c, allowed,
      "vec_id", "embedding", "vec_id", "embedding", 5)
    val ids = got.select("neighbor_id").as[String].collect().map(_.toLong).toSet
    val allowedIds = allowed.as[Long].collect().toSet
    assert(ids.subsetOf(allowedIds))
  }

  test("property: knnJoin matches a driver-side reference on random vectors") {
    val rnd = new scala.util.Random(42)
    val dim = 8
    val corpus = (0 until 120).map(i => (i.toLong, Seq.fill(dim)(rnd.nextDouble() - 0.5)))
    val queries = (1000 until 1006).map(i => (i.toLong, Seq.fill(dim)(rnd.nextDouble() - 0.5)))
    val cDf = corpus.toDF("vec_id", "embedding")
    val qDf = queries.toDF("vec_id", "embedding")
    Seq(7, 0).foreach { k => // k = 0: an empty top-k, not an error
      val got = VectorSearch.knnJoin(qDf, cDf, "vec_id", "embedding", "vec_id", "embedding", k)
        .select("query_id", "rank", "neighbor_id")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2))).toSet
      val want = queries.flatMap { case (qid, qv) =>
        corpus.map { case (cid, cv) =>
          (qid.toString, cid.toString, qv.zip(cv).map { case (a, b) => a * b }.sum)
        }.sortBy { case (_, cid, s) => (-s, cid) }
          .take(k).zipWithIndex
          .map { case ((q, c, _), i) => (q, i + 1, c) }
      }.toSet
      assert(got == want, s"k = $k")
    }
  }

  test("topK: a k near Int.MaxValue buffers candidates unsorted until finish") {
    // the 4k + 4 compaction bound must not wrap past k = 2^29: wrapped, every
    // reduce re-sorts the whole buffer, quadratic in the candidate count
    val cands = (0 until 100).map(i => ScoredId(f"id_$i%03d", i.toDouble))
    Seq(1 << 29, Int.MaxValue).foreach { k =>
      val top = VectorSearch.topK[ScoredId](k)
      val buf = cands.foldLeft(top.zero)(top.reduce)
      assert(buf.items == cands, s"k = $k: compacted before 4k + 4 candidates")
      assert(top.finish(buf) == cands.reverse)
    }
  }

  test("thresholdFilter + dedupUnion keep best score per id (R2/R3)") {
    val hits = Seq(
      ("q1", 1, "a", 0.9), ("q1", 2, "b", 0.5),
      ("q2", 1, "a", 0.7), ("q2", 2, "c", 0.1))
      .toDF("query_id", "rank", "neighbor_id", "score")
    val got = VectorSearch.dedupUnion(VectorSearch.thresholdFilter(hits, 0.4))
      .orderBy("neighbor_id")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2)))
    assert(got.toSeq == Seq(("a", 0.9, 1), ("b", 0.5, 2)))
  }

  test("knnJoinL2: nearest by Euclidean distance, agrees with brute force") {
    import org.apache.spark.sql.functions._
    val emb = spark.read.parquet(sf("embeddings"))
    val got = VectorSearch.knnJoinL2(
        emb.filter(col("vec_id") < 3), emb.filter(col("vec_id") >= 3),
        "vec_id", "embedding", "vec_id", "embedding", 5)
      .collect().map(r => (r.getString(0), r.getInt(1), r.getString(2), r.getDouble(3)))
    // brute force on the driver with the same sequential fold
    val rows = emb.collect().map(r =>
      (r.getLong(0).toString, r.getSeq[Float](1).map(_.toDouble).toArray))
    def d(a: Array[Double], b: Array[Double]) = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      math.sqrt(s)
    }
    val qs = rows.filter(_._1.toLong < 3)
    val cs = rows.filter(_._1.toLong >= 3)
    qs.foreach { case (qid, qv) =>
      val expect = cs.map { case (cid, cv) => (cid, d(qv, cv)) }
        .sortBy { case (cid, dist) => (dist, cid) }.take(5)
      val mine = got.filter(_._1 == qid).sortBy(_._2).map(r => (r._3, r._4)).toSeq
      assert(mine.map(_._1) == expect.map(_._1).toSeq, s"q $qid order")
      mine.zip(expect).foreach { case ((_, a), (_, b)) =>
        assert(math.abs(a - b) < 1e-9, s"q $qid dist $a vs $b") }
    }
    // ranks are contiguous from 1
    assert(got.filter(_._1 == "0").map(_._2).sorted.toSeq == Seq(1, 2, 3, 4, 5))
  }

  test("hardNegatives: only cross-label pairs, ranked by cosine, floor respected") {
    // axis-aligned toy space: label 0 along x, label 1 along y, one mixed.
    // cos(a, c) = 0 (orthogonal, below floor); cos(a, m) = 0.6; cos(a, d) = 0.8.
    val rows = Seq(
      ("a", 0, Array(1.0f, 0.0f)),
      ("b", 0, Array(0.9f, 0.1f)),
      ("c", 1, Array(0.0f, 1.0f)),
      ("d", 1, Array(0.8f, 0.6f)),
      ("m", 1, Array(0.6f, 0.8f))).toDF("id", "lab", "v")
    val got = VectorSearch.hardNegatives(rows, "id", "v", "lab", k = 2, minCosine = 0.5)
      .as[(String, Int, String, Double)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(r => (r._3, r._4)).toSeq).toMap
    // anchor a: negatives must be label 1, ordered d (0.8) then m (0.6);
    // c is orthogonal — cut by the 0.5 floor
    assert(got("a").map(_._1) == Seq("d", "m"), got("a"))
    assert(math.abs(got("a").head._2 - 0.8) < 1e-6)
    // same-label b never appears as a's negative
    assert(!got("a").exists(_._1 == "b"))
    // anchors of label 1 mine from label 0 only
    assert(got("d").forall(n => Set("a", "b").contains(n._1)), got("d"))
    // blocked variant returns a subset of the exact answer at equal params
    val exact = VectorSearch.hardNegatives(rows, "id", "v", "lab", 2, 0.5)
      .as[(String, Int, String, Double)].collect().map(r => (r._1, r._3)).toSet
    val blocked = VectorSearch.hardNegatives(rows, "id", "v", "lab", 2, 0.5, blockBits = 2)
      .as[(String, Int, String, Double)].collect().map(r => (r._1, r._3)).toSet
    assert(blocked.subsetOf(exact), s"blocked=$blocked exact=$exact")
  }

  test("labelAgreement: planted mislabel scores 0, clean cluster members score 1") {
    // two tight clusters; "bad" sits in cluster 0's direction but carries
    // label 1 — the planted noise the detector exists to surface
    val rows = Seq(
      ("a", "0", Array(1.0f, 0.0f)), ("b", "0", Array(0.99f, 0.05f)),
      ("c", "0", Array(0.98f, 0.1f)),
      ("x", "1", Array(0.0f, 1.0f)), ("y", "1", Array(0.05f, 0.99f)),
      ("bad", "1", Array(0.97f, 0.15f)),
      ("n", null.asInstanceOf[String], Array(0.5f, 0.5f))).toDF("id", "lab", "v")
    val got = VectorSearch.labelAgreement(rows, "id", "v", "lab", k = 2)
      .as[(String, String, Long, Long, Double)].collect()
      .map(r => r._1 -> r).toMap
    // null-label row is excluded on BOTH sides
    assert(!got.contains("n"))
    assert(got.size == 6)
    // bad's 2 nearest are a/b/c members (label 0) -> agreement 0
    assert(got("bad")._4 == 0L && got("bad")._5 == 0.0, got("bad"))
    // a's 2 nearest are b and c (label 0, same) -> agreement 1
    assert(got("a") == (("a", "0", 2L, 2L, 1.0)), got("a"))
    // x's 2 nearest: y, then the planted "bad" (nearer to x than any
    // cluster-0 member because of its 0.15 y-component) — both label 1
    assert(got("x") == (("x", "1", 2L, 2L, 1.0)), got("x"))
    // c sits nearest to bad: neighbors b (same) and bad (label 1) -> 0.5
    assert(got("c")._5 == 0.5, got("c"))
  }
}
