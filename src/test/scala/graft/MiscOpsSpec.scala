package graft

import graft.functions.{InstructionTemplate, Norm}
import graft.model.Triplet
import graft.operators.{Assembly, Salting}
import graft.rag.WindowTripletExtractor
import graft.sources.Loaders
import org.apache.spark.sql.functions._
import java.nio.file.Files

class MiscOpsSpec extends SparkSpec {
  import spark.implicits._

  test("gopher rules: word-less documents fail closed (null signals, pass 0)") {
    import graft.functions.{TextAnalysis => TAF}
    val got = Seq((1L, ""), (2L, "the quick brown fox jumps over a lazy dog today"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), TAF.rawWords(col("text")).as("w"))
      .select(col("doc_id"), size(col("w")).as("n"),
        TAF.meanWordLenW(col("w")).as("mwl"), TAF.alphaWordFracW(col("w")).as("af"),
        TAF.stopKindCountW(col("w")).as("ns"),
        when(TAF.meanWordLenW(col("w")).between(3.0, 10.0), lit(1)).otherwise(lit(0)).as("p"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val empty = got(1L)
    assert(empty.getInt(1) == 0 && empty.isNullAt(2) && empty.isNullAt(3))
    assert(empty.getInt(5) == 0, "null signal must fail the threshold, not pass it")
    val prose = got(2L)
    assert(prose.getInt(1) == 10 && !prose.isNullAt(2))
    assert(prose.getLong(4) == 2L) // "the" + "a" of the required-stopword set
  }

  test("V5 backfill appends naive hits not already present, preserving order") {
    val graphHits = Seq(("pA", 1), ("pB", 2)).toDF("passage_id", "rank")
    val naive = Seq(("pB", 1), ("pC", 2), ("pD", 3)).toDF("passage_id", "rank")
    val got = Assembly.backfill(graphHits, naive, topK = 3)
      .orderBy("rank").select("passage_id").as[String].collect().toSeq
    assert(got == Seq("pA", "pB", "pC"))
  }

  test("X1 deterministic extractor: consecutive normalized token triples") {
    val ex = WindowTripletExtractor()
    assert(ex.extract("Einstein developed General Relativity early on") ==
      Seq(Triplet("einstein", "developed", "general"), Triplet("relativity", "early", "on")))
    assert(ex.extract("one two").isEmpty)
    assert(ex.extract("").isEmpty)
  }

  test("S1 file source: one document per file with source metadata") {
    val dir = Files.createTempDirectory("textdocs")
    Files.writeString(dir.resolve("a.txt"), "first doc\nwith two lines")
    Files.writeString(dir.resolve("b.md"), "second doc")
    val docs = Loaders.readTextDocuments(spark, dir.toString + "/*")
    val byName = docs.collect().map(r => r.getAs[String]("file_name") -> r).toMap
    assert(byName.keySet == Set("a.txt", "b.md"))
    assert(byName("a.txt").getAs[String]("text") == "first doc\nwith two lines")
    assert(byName("a.txt").getAs[String]("source_type") == "txt")
    assert(byName("b.md").getAs[String]("source").endsWith("b.md"))
  }

  test("T4 passage composition and E2 instruction templating") {
    val got = Seq(("Title", "Body text")).toDF("title", "text")
      .select(Norm.composePassage($"title", $"text")).as[String].head()
    assert(got == "Title\nBody text")
    val q = Seq("find this").toDF("t")
      .select(InstructionTemplate.forQuery($"t")).as[String].head()
    assert(q == "Represent this sentence for searching relevant passages: find this")
  }

  test("salted collect_set / count-distinct match the direct aggregates") {
    val df = (1 to 2000).map(i => (if (i % 10 == 0) "hot" else s"k${i % 50}", i % 97))
      .toDF("key", "v")
    val direct = df.groupBy("key")
      .agg(sort_array(collect_set(col("v"))).as("vs"), countDistinct(col("v")).as("n_v"))
      .collect().map(r => r.getString(0) -> (r.getSeq[Int](1), r.getLong(2))).toMap
    val salted = Salting.saltedCollectSet(df, "key", "v", buckets = 8)
      .collect().map(r => r.getString(0) -> r.getSeq[Int](1)).toMap
    val saltedN = Salting.saltedCountDistinct(df, "key", "v", buckets = 8)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    direct.foreach { case (k, (vs, n)) =>
      assert(salted(k) == vs, s"key $k")
      assert(saltedN(k) == n, s"key $k")
    }
  }
}
