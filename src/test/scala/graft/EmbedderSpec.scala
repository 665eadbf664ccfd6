package graft

import graft.functions.HashEmbedder
import graft.model.{Doc, Triplet}
import graft.operators.GraphBuilder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType}

class EmbedderSpec extends SparkSpec {
  import spark.implicits._

  // Golden vectors: the raw IEEE-754 bits HashEmbedder produced when it had
  // three independent implementations (a Catalyst expression, a relational
  // explode/group-by plan and the driver-side scalar), which agreed bit for
  // bit on every text here. Each entry lists "index:bits" (hex) for the
  // components that are not +0.0; every other component must be +0.0.
  // Repeated tokens, punctuation, non-ASCII (CJK, accents, an emoji, the
  // Kelvin sign and dotted capital I, which lowercase to ASCII), digits,
  // empty and whitespace-only text, and an all-stopword text.
  private val goldenTexts = Seq(
    "the quick brown fox",
    "spark native graph engine spark",
    "",
    "   \t\n  ",
    "unicode 爱因斯坦 stripped",
    "single",
    "Who discovered radium?",
    "a a a a b b",
    "Hello, World!!! -- hello... WORLD",
    "Ünïcödé Straße naïve café 😀 emoji",
    "\u212Aelvin \u0130stanbul",
    "x1 y2 3z 42",
    "What is the capital of the country where the Eiffel Tower is located?",
    "the of and a",
    "Marie Curie was a physicist; Pierre Curie was her husband, and the Curies won it.")

  private val golden16 = Seq(
    "0:bfe0000000000000 3:bfe0000000000000 4:3fe0000000000000 14:bfe0000000000000",
    "1:3fd83091e6a7f7e6 9:bfd83091e6a7f7e6 11:3fe83091e6a7f7e6 14:3fd83091e6a7f7e6",
    "",
    "",
    "10:3fe6a09e667f3bcc 12:bfe6a09e667f3bcc",
    "6:3ff0000000000000",
    "9:3fe279a74590331d 11:bfe279a74590331d 14:3fe279a74590331d",
    "7:bfdc9f25c5bfedd9 15:3fec9f25c5bfedd9",
    "8:3fe6a09e667f3bcc 11:3fe6a09e667f3bcc",
    "5:bfe83091e6a7f7e6 7:bfd83091e6a7f7e6 11:3fd83091e6a7f7e6 15:bfd83091e6a7f7e6",
    "0:3fe279a74590331d 1:bfe279a74590331d 12:3fe279a74590331d",
    "3:bfe0000000000000 12:3fe0000000000000 13:3fe0000000000000 15:3fe0000000000000",
    "0:bfe4047342eb7eb4 1:3fdab099ae8f539a 3:3fcab099ae8f539a 5:3fdab099ae8f539a 6:bfcab099ae8f539a 8:bfcab099ae8f539a 9:bfcab099ae8f539a 13:bfcab099ae8f539a 15:3fcab099ae8f539a",
    "0:bfe0000000000000 9:bfe0000000000000 10:3fe0000000000000 15:3fe0000000000000",
    "0:bfc999999999999a 3:3fd999999999999a 8:3fc999999999999a 9:3fc999999999999a 10:3fc999999999999a 11:3fc999999999999a 15:3fe999999999999a")

  private val golden1024 = Seq(
    "382:bfe279a74590331d 739:bfe279a74590331d 900:3fe279a74590331d",
    "9:bfd83091e6a7f7e6 174:3fd83091e6a7f7e6 491:3fe83091e6a7f7e6 769:3fd83091e6a7f7e6",
    "",
    "",
    "346:3fe6a09e667f3bcc 396:bfe6a09e667f3bcc",
    "422:3ff0000000000000",
    "510:3fe6a09e667f3bcc 585:3fe6a09e667f3bcc",
    "695:bff0000000000000",
    "59:3fe6a09e667f3bcc 952:3fe6a09e667f3bcc",
    "60:3fd5555555555555 63:bfd5555555555555 117:bfd5555555555555 354:bfd5555555555555 391:bfd5555555555555 412:bfd5555555555555 530:3fd5555555555555 587:3fd5555555555555 613:bfd5555555555555",
    "160:3fe279a74590331d 209:bfe279a74590331d 284:3fe279a74590331d",
    "189:3fe0000000000000 252:3fe0000000000000 287:3fe0000000000000 931:bfe0000000000000",
    "51:3fd83091e6a7f7e6 214:bfd83091e6a7f7e6 568:bfd83091e6a7f7e6 641:3fd83091e6a7f7e6 909:bfd83091e6a7f7e6 927:3fd83091e6a7f7e6 929:3fd83091e6a7f7e6",
    "",
    "88:3fd43d136248490f 196:bfd43d136248490f 265:3fd43d136248490f 307:3fe43d136248490f 489:3fd43d136248490f 585:bfd43d136248490f 836:3fd43d136248490f")

  private def bits(v: Seq[Double]): Seq[Long] = v.map(java.lang.Double.doubleToRawLongBits)

  private def expectedBits(dim: Int, golden: String): Seq[Long] = {
    val b = Array.fill(dim)(0L)
    golden.split(" ").filter(_.nonEmpty).foreach { e =>
      val Array(i, hex) = e.split(":")
      b(i.toInt) = java.lang.Long.parseUnsignedLong(hex, 16)
    }
    b.toSeq
  }

  /** embedOne and the corpus path (embedInto, i.e. the `embed` UDF) both
    * reproduce the golden bits. */
  private def assertGolden(e: HashEmbedder, golden: Seq[String]): Unit = {
    val viaSpark = e.embedInto(goldenTexts.zipWithIndex.toDF("text", "i"), "text", "v")
      .select("i", "v").as[(Int, Seq[Double])].collect().toMap
    goldenTexts.zip(golden).zipWithIndex.foreach { case ((t, g), i) =>
      val want = expectedBits(e.dim, g)
      assert(bits(e.embedOne(t).get) == want, s"embedOne <$t>")
      assert(bits(viaSpark(i)) == want, s"embedInto <$t>")
    }
  }

  test("golden raw bits: dim 16, no stopwords") {
    assertGolden(HashEmbedder(dim = 16), golden16)
  }

  test("golden raw bits: dim 1024 with the eval stopwords") {
    assertGolden(HashEmbedder(dim = 1024, stopwords = graft.eval.Evaluate.evalStopwords),
      golden1024)
  }

  // The corpus path's null row is in the GraphBuilder test below.
  test("null text embeds to the zero vector") {
    val e = HashEmbedder(dim = 16)
    val zero = Seq.fill(16)(0.0)
    assert(e.embedOne(null).contains(zero))
    val viaEmbed = Seq(null: String).toDF("text").select(e.embed(col("text")))
      .as[Seq[Double]].head()
    assert(bits(viaEmbed) == bits(zero))
  }

  test("GraphBuilder node embeddings: array<double> with nullable elements, each embedOne of its text") {
    val e = HashEmbedder(dim = 16)
    val docs = Seq(
      Doc("p1", "Einstein developed relativity.",
        Seq(Triplet("Einstein", "developed", "relativity"))),
      Doc("p2", "Curie, née Skłodowska, won the Nobel prize twice!",
        Seq(Triplet("Marie Curie", "won", "Nobel prize"))),
      Doc("p3", "   ", Seq(Triplet("relativity", "is", "theory"))),
      Doc("p4", null))
    val t = GraphBuilder.build(spark.createDataset(docs).toDF(), e)
    Seq((t.entities, "name"), (t.relations, "text"), (t.passages, "text")).foreach {
      case (df, textCol) =>
        assert(df.schema("embedding").dataType == ArrayType(DoubleType, containsNull = true))
        val rows = df.select(textCol, "embedding").as[(String, Seq[Double])].collect()
        assert(rows.nonEmpty)
        rows.foreach { case (text, v) =>
          assert(bits(v) == bits(e.embedOne(text).get), s"$textCol <$text>")
        }
    }
    assert(t.passages.count() == 4)
  }

  test("int8 quantization round-trips within scale/2 per component") {
    import graft.functions.Quantize
    val emb = spark.read.parquet(sf("embeddings")).limit(200)
    val rows = emb
      .select(col("vec_id"), col("embedding"), Quantize.scaleOf(col("embedding")).as("scale"))
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"), col("scale"),
        Quantize.dequantize(
          Quantize.quantize(col("embedding"), col("scale")), col("scale")).as("dq"))
      .as[(Long, Seq[Double], Double, Seq[Double])].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, v, scale, dq) =>
      assert(v.length == dq.length)
      v.zip(dq).foreach { case (x, xq) =>
        assert(math.abs(x - xq) <= scale / 2 + 1e-12, s"vec $id: $x vs $xq (scale $scale)")
      }
      // codes stay in int8 range
      if (scale > 0) dq.foreach(xq => assert(math.abs(xq / scale) <= 127.0 + 1e-9))
    }
  }

  test("quantization properties hold on random vectors (codes bounded, error <= scale/2)") {
    import graft.functions.Quantize
    import org.scalacheck.Gen
    val genVec = Gen.listOfN(16, Gen.chooseNum(-1e3, 1e3))
    val vecs = (0 until 40).flatMap(i => genVec.apply(Gen.Parameters.default,
      org.scalacheck.rng.Seed(i.toLong))).map(_.toSeq) :+ Seq.fill(16)(0.0)
    val df = vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("id", "v")
    val rows = df
      .select(col("id"), col("v"), Quantize.scaleOf(col("v")).as("scale"))
      .select(col("id"), col("v"), col("scale"),
        Quantize.quantize(col("v"), col("scale")).as("q"))
      .as[(Long, Seq[Double], Double, Seq[Int])].collect()
    assert(rows.length == vecs.length)
    rows.foreach { case (id, v, scale, q) =>
      assert(scale >= 0.0)
      assert(q.forall(c => c >= -127 && c <= 127), s"vec $id codes out of range")
      if (scale == 0.0) assert(q.forall(_ == 0))
      else v.zip(q).foreach { case (x, c) =>
        assert(math.abs(x - c * scale) <= scale / 2 + 1e-9, s"vec $id: $x vs ${c * scale}")
      }
    }
  }

  test("quantized KNN ranks overlap heavily with exact KNN") {
    import graft.functions.Quantize
    import graft.operators.VectorSearch
    val emb = spark.read.parquet(sf("embeddings"))
    val pre = emb
      .select(col("vec_id"), col("embedding"), Quantize.scaleOf(col("embedding")).as("scale"))
      .select(col("vec_id"), col("scale"),
        Quantize.quantize(col("embedding"), col("scale")).as("q"))
      .select(col("vec_id"), Quantize.dequantize(col("q"), col("scale")).as("dq"))
    val approx = VectorSearch.knnJoin(
      pre.filter(col("vec_id") < 8), pre.filter(col("vec_id") >= 8),
      "vec_id", "dq", "vec_id", "dq", 10)
      .select("query_id", "neighbor_id").as[(String, String)].collect().toSet
    val exact = VectorSearch.knnJoin(
      emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 8),
      "vec_id", "embedding", "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").as[(String, String)].collect().toSet
    val overlap = (approx intersect exact).size.toDouble / exact.size
    assert(overlap >= 0.8, s"quantized/exact top-10 overlap $overlap")
  }

  test("BinarySign: packed words match per-bit signs; Hamming = per-dim sign flips") {
    import graft.functions.BinarySign
    val emb = spark.read.parquet(sf("embeddings"))
    val rows = emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"),
        BinarySign.packWord(col("embedding"), 0).as("w0"),
        BinarySign.packWord(col("embedding"), 32).as("w1"))
      .as[(Long, Seq[Double], Long, Long)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, v, w0, w1) =>
      assert(w0 >= 0L && w1 >= 0L, s"vec $id: sign bit leaked into a word")
      (0 until 32).foreach { j =>
        assert(((w0 >> j) & 1L) == (if (v(j) > 0) 1L else 0L), s"vec $id bit $j")
        assert(((w1 >> j) & 1L) == (if (v(32 + j) > 0) 1L else 0L), s"vec $id bit ${32 + j}")
      }
    }
    // Hamming over the packed words == count of dims whose sign differs.
    val byId = rows.map(r => r._1 -> r).toMap
    val a = byId(rows.head._1); val b = byId(rows.last._1)
    val expected = (0 until 64).count(i => (a._2(i) > 0) != (b._2(i) > 0))
    val got = emb.sparkSession.range(1)
      .select(BinarySign.hamming2(lit(a._3), lit(a._4), lit(b._3), lit(b._4)).as("h"))
      .as[Int].head()
    assert(got == expected, s"hamming $got != $expected")
  }

  test("embeddings are unit-norm and deterministic across calls") {
    val docs = Seq(("x", "alpha beta gamma")).toDF("id", "text")
    val e = HashEmbedder(dim = 32)
    val v1 = e.embedInto(docs, "text", "v").select("v").as[Seq[Double]].head()
    val v2 = e.embedInto(docs, "text", "v").select("v").as[Seq[Double]].head()
    assert(v1 == v2)
    assert(math.abs(math.sqrt(v1.map(x => x * x).sum) - 1.0) < 1e-12)
  }
}
