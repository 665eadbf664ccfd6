package graft.operators

import graft.functions.{Embedder, Norm}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The three node tables + edge tables produced by one build (SURVEY §2.4).
  *
  * Node tables carry the reference's denormalized adjacency arrays for API parity
  * (rag.py:318-352); edge tables are the normalized form every join/hop actually
  * uses at scale (SURVEY §1.4: "edge tables for joins, array columns for parity").
  */
final case class GraphTables(
    entities: DataFrame,        // id, name, relation_ids, passage_ids, embedding
    relations: DataFrame,       // id, text, subject, predicate, object, entity_ids, decomp_pairs, passage_ids, embedding
    passages: DataFrame,        // id, text, entity_ids, relation_ids, embedding
    entityRelation: DataFrame,  // entity_id, relation_id, role (subject|object)
    entityPassage: DataFrame,   // entity_id, passage_id
    relationPassage: DataFrame) // relation_id, passage_id

/** GraphBuilder — the reference's `GraphBuilder._process_documents`
  * (graph/builder.py:136-197) unrolled into one declarative DataFrame DAG:
  * explode → normalize → dedup → join → collect adjacency. All dedup keys are
  * normalized text; ids are md5(key) so the build is deterministic (SURVEY §7.1).
  *
  * Scale notes: every aggregation here is a hash-aggregate on a string key with
  * map-side combine, and each node table is built by ONE such aggregation that
  * produces the deduped row and its adjacency arrays together (content-hash ids
  * make every duplicate row's attributes identical, so grouping IS the dedup).
  * Embedding (the expensive step) happens strictly AFTER dedup
  * (graph/builder.py:79-112 → rag.py:292-316 ordering, §4 "dedup-before-embed").
  */
object GraphBuilder {

  /** docs: columns `id` (string), `text` (string),
    * `triplets` array<struct<subject,predicate,obj>> (pre-extracted, G1 input). */
  def build(docs: DataFrame, embedder: Embedder): GraphTables = {
    val spark = docs.sparkSession

    // Passage id: user id as-is (reference keeps caller ids, rag.py:274-277).
    val passages0 = docs.select(col("id").as("passage_id"), col("text"))

    // G1: triplet explode, arity/empty filtering (graph/builder.py:150-157).
    val tripletRows = docs
      .select(col("id").as("passage_id"), explode(col("triplets")).as("t"))
      .select(
        col("passage_id"),
        Norm.normPhrase(col("t.subject")).as("subject"),
        Norm.normPhrase(col("t.predicate")).as("predicate"),
        Norm.normPhrase(col("t.obj")).as("object"))
      .filter(col("subject") =!= "" && col("predicate") =!= "" && col("object") =!= "")
      .withColumn("relation_text",
        concat_ws(" ", col("subject"), col("predicate"), col("object")))
      .withColumn("relation_id", Norm.idOf(col("relation_text")))
      .withColumn("subject_id", Norm.idOf(col("subject")))
      .withColumn("object_id", Norm.idOf(col("object")))
      // This frame fans out to 5+ consumers (node tables, edge tables, adjacency
      // aggregates) and the result tables are written/acted-on separately —
      // materialize once instead of re-running extraction per branch.
      .localCheckpoint(true)

    val entityPassage = tripletRows
      .select(col("passage_id"),
        explode(array(col("subject_id"), col("object_id"))).as("entity_id"))
      .distinct()

    val relationPassage = tripletRows
      .select(col("relation_id"), col("passage_id"))
      .distinct()

    val emptyArr = array().cast("array<string>")

    // G2/G4/G5 fused: ONE keyed aggregation per node table builds the dedup'd
    // rows AND their adjacency arrays together (the old shape — dedup, two
    // separate collect_set aggregates, then re-join — paid three shuffles per
    // table for the same result; every dup row carries identical attribute
    // values because ids are content hashes, so first()/group-keys are exact).
    // Embedding (E1) stays strictly AFTER dedup (embedInto), so each
    // distinct node is embedded once.
    val entities = embedder.embedInto(
      tripletRows
        .select(explode(array(
          struct(col("subject").as("name"), col("subject_id").as("entity_id"),
            col("relation_id"), col("passage_id")),
          struct(col("object").as("name"), col("object_id").as("entity_id"),
            col("relation_id"), col("passage_id")))).as("e"))
        .groupBy(col("e.entity_id").as("id"), col("e.name").as("name"))
        .agg(
          sort_array(collect_set(col("e.relation_id"))).as("relation_ids"),
          sort_array(collect_set(col("e.passage_id"))).as("passage_ids")),
      "name", "embedding")

    val relationsAgg = tripletRows
      .groupBy(col("relation_id").as("id"))
      .agg(
        first(col("relation_text")).as("text"),
        first(col("subject")).as("subject"),
        first(col("predicate")).as("predicate"),
        first(col("object")).as("object"),
        first(col("subject_id")).as("subject_id"),
        first(col("object_id")).as("object_id"),
        // EVERY distinct (subject_id, object_id) decomposition of this text.
        // Relation IDENTITY stays keyed by the normalized text (reference
        // semantics, graph/builder.py:105-112): identical texts collapse and
        // first() picks the display decomposition — but word-boundary-
        // ambiguous decompositions ("a b"+"c" vs "a"+"b c" of one text) must
        // not lose adjacency rows. Struct equality is the unit-separator-safe
        // identity here: unlike the space-joined text, it cannot be fooled by
        // a space that moved across a field boundary.
        sort_array(collect_set(struct(col("subject_id"), col("object_id"))))
          .as("decomp_pairs"),
        sort_array(collect_set(col("passage_id"))).as("passage_ids"))

    // Derived from the relations aggregate rather than a second pass over
    // tripletRows: decomp_pairs already carries every distinct decomposition
    // (Catalyst prunes the unused first() columns out of this branch), so the
    // final distinct shuffles near relation-count rows, not triplet-count.
    val entityRelation = relationsAgg
      .select(col("id").as("relation_id"), explode(col("decomp_pairs")).as("p"))
      .select(col("relation_id"),
        explode(array(
          struct(col("p.subject_id").as("entity_id"), lit("subject").as("role")),
          struct(col("p.object_id").as("entity_id"), lit("object").as("role")))).as("e"))
      .select(col("e.entity_id"), col("relation_id"), col("e.role"))
      .distinct()

    val relations = embedder.embedInto(
      relationsAgg
        .select(
          col("id"), col("text"), col("subject"), col("predicate"), col("object"),
          // POSITIONAL [subject_id, object_id] (knowledge_graph.py:76-84)
          array(col("subject_id"), col("object_id")).as("entity_ids"),
          col("decomp_pairs"), col("passage_ids")),
      "text", "embedding")

    // Passages keep the left join: a document with zero valid triplets still
    // becomes a passage row, with empty adjacency.
    val passageAdj = tripletRows
      .select(col("passage_id"),
        explode(array(col("subject_id"), col("object_id"))).as("entity_id"),
        col("relation_id"))
      .groupBy("passage_id")
      .agg(
        sort_array(collect_set(col("entity_id"))).as("entity_ids"),
        sort_array(collect_set(col("relation_id"))).as("relation_ids"))
    val passages = embedder.embedInto(
      passages0
        .join(passageAdj, Seq("passage_id"), "left")
        .select(
          col("passage_id").as("id"), col("text"),
          coalesce(col("entity_ids"), emptyArr).as("entity_ids"),
          coalesce(col("relation_ids"), emptyArr).as("relation_ids")),
      "text", "embedding")

    GraphTables(entities, relations, passages, entityRelation, entityPassage, relationPassage)
  }
}
