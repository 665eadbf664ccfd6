package graftbench

import graft.eval.Evaluate
import graft.functions.{Embedder, HashEmbedder}
import graft.rag.{GraphRag, RagConfig}
import graft.sources.{GraphStore, Loaders}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files => JFiles, Path}

/** The store rag-serve reads: the eval fixture indexed by
  * `GraphRag.addDocumentsDf` with `graft.eval.Evaluate`'s exact configuration.
  * `run.py` builds it once per checkout (`Main --prepare`) and again only
  * when the engine, the fixture or this file changes.
  *
  * The corpus vectors come from `HashEmbedder.embedOne`, the embedder's
  * driver-side twin, which the engine keeps bit-identical to its Column
  * path: at width 1024 the Column path needs about 290 s for this fixture,
  * a cost rag-serve does not measure (the traced run times `embedInto` on a
  * sample). Every retrieve is checked against lists taken from a store
  * indexed through the Column path, so a twin that drifted would fail the run. */
object ServeStore {
  val evalDir = "src/test/resources/eval"
  val graph = "eval"
  val embedder: HashEmbedder = HashEmbedder(dim = 1024, stopwords = Evaluate.evalStopwords)
  val config: RagConfig = RagConfig(entitySimilarityThreshold = 0.55,
    relationSimilarityThreshold = 0.3, finalTopK = 20)

  def dir(work: Path): Path = work.resolve("rag-serve-store")

  /** The fixture documents exactly as `Evaluate` indexes them. */
  def docs(spark: SparkSession): DataFrame =
    Loaders.readExtractedTriplets(spark, s"$evalDir/openie_results.json")
      .select(col("title").as("id"), col("passage").as("text"),
        transform(col("triples"), t => struct(
          element_at(t, 1).as("subject"), element_at(t, 2).as("predicate"),
          element_at(t, 3).as("obj"))).as("triplets"))

  def prepare(spark: SparkSession, work: Path): Unit = {
    val d = dir(work)
    Dirs.deleteTree(d)
    val rag = new GraphRag(spark, new GraphStore(spark, d.toString), graph, config,
      TwinEmbedder(embedder))
    val t0 = System.nanoTime()
    val stats = rag.addDocumentsDf(docs(spark))
    val s = (System.nanoTime() - t0) / 1e9
    JFiles.writeString(d.resolve("_ready"), embedder.fingerprint)
    println(Json.obj("prepared" -> "rag-serve store", "index_s" -> s,
      "stats" -> stats.map { case (k, v) => k -> v }))
  }

  /** True when the store exists and was built with this embedder. */
  def ready(work: Path): Boolean = {
    val f = dir(work).resolve("_ready")
    JFiles.exists(f) && JFiles.readString(f) == embedder.fingerprint
  }
}

/** `h` with its corpus path (`embedInto`) computed row by row by `h.embedOne`. */
final case class TwinEmbedder(h: HashEmbedder) extends Embedder {
  def dim: Int = h.dim
  def embed(text: Column): Column = h.embed(text)
  override def embedInto(df: DataFrame, textCol: String, outCol: String): DataFrame = {
    val twin = h
    val f = udf((t: String) => twin.embedOne(t).get)
    df.withColumn(outCol, f(col(textCol)))
  }
  override def embedOne(text: String): Option[Seq[Double]] = h.embedOne(text)
  override def fingerprint: String = h.fingerprint
}
