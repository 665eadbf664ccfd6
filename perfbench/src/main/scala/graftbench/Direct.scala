package graftbench

import graft.functions.Embedder
import graft.operators.GraphBuilder
import graft.rag.{GraphRag, RagConfig}
import graft.sources.GraphStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Direct calls to the engine's public functions, timed one by one, for the
  * traced run of a RAG workload. They run on a small sample of the workload's
  * own inputs and write only to a scratch graph, never to the served one. */
object Direct {

  /** `questions`: (question, its NER entities). `docs`: (id, text, triplets);
    * the first `embedRows` feed embedInto, the first `buildRows` feed the
    * build/save split, and the row after them is the write of read-after-write. */
  def time(ctx: Context, embedder: Embedder, config: RagConfig,
      questions: Seq[(String, Seq[String])], docs: DataFrame,
      embedRows: Int, buildRows: Int): Map[String, Double] = {
    val spark = ctx.spark
    import spark.implicits._

    val embedMs = questions.map { case (q, ents) =>
      val df = (ents :+ q).toDF("t")
      ctx.seconds(df.select(embedder.embed(col("t")).as("v")).collect())._1 * 1000
    }

    val sample = docs.orderBy("id").limit(math.max(embedRows, buildRows + 1)).collect()
    val schema = docs.schema
    def frame(rows: Seq[org.apache.spark.sql.Row]): DataFrame =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, ctx.cpus), schema)

    val embedIntoS = ctx.seconds(embedder.embedInto(frame(sample.take(embedRows).toSeq), "text", "e")
      .write.format("noop").mode("overwrite").save())._1

    val (buildS, tables) = ctx.seconds {
      val t = GraphBuilder.build(frame(sample.take(buildRows).toSeq), embedder)
      val all = Seq(t.entities, t.relations, t.passages, t.entityRelation, t.entityPassage,
        t.relationPassage).map(_.persist())
      all.foreach(_.count())
      (t, all)
    }
    val scratch = ctx.work.resolve("direct-store")
    Dirs.deleteTree(scratch)
    val store = new GraphStore(spark, scratch.toString)
    val saveS = ctx.seconds(store.save("sample", tables._1))._1
    tables._2.foreach(_.unpersist())

    val extra = sample(buildRows)
    val id = extra.getString(0)
    new GraphRag(spark, store, "sample", config, embedder).graftDocumentsDf(frame(Seq(extra)))
    val (rawS, got) = ctx.seconds(store.table("sample", "passages")
      .filter(col("id") === id).select("id").collect())
    require(got.length == 1, s"read after write: passage $id not found")
    Dirs.deleteTree(scratch)

    Map("functions.HashEmbedder.embed_ms" -> Stats.median(embedMs),
      "functions.HashEmbedder.embedInto_s" -> embedIntoS,
      "operators.GraphBuilder.build_s" -> buildS,
      "sources.GraphStore.save_s" -> saveS,
      "sources.GraphStore.read_after_write_ms" -> rawS * 1000)
  }
}

object Dirs {
  def deleteTree(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(x => java.nio.file.Files.delete(x))
      finally s.close()
    }
}
