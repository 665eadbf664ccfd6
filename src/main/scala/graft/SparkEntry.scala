package graft

import graft.functions.{Norm, TextAnalysis => TA, VectorFunctions => VF}
import graft.operators._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY §2 (or a scale-pipeline
  * operator) expressed over the driver's TPC-H-ish testdata; [[oracleSql]] holds the
  * equivalent DuckDB SQL the driver hash-compares against at sf0.01. Entries without
  * oracle SQL (chunker, multimodal) get the driver's rows-only check.
  *
  * Conventions for oracle parity:
  *  - every computed column aliased identically on both sides;
  *  - floats either avoided, produced by identical sequential double arithmetic
  *    (DotProduct ≡ list_dot_product on DOUBLE[]), or rounded;
  *  - ties in any top-k broken by id on both sides, same direction.
  */
object SparkEntry {
  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables(s, dir, name)

  /** Repartition a small single-file table across the cluster before a row-
    * exploding operator: the explode multiplies rows ~100×, and AQE can only
    * split shuffle output, not a scan, so parallelism must be forced up front. */
  private def spread(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sparkContext.defaultParallelism)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("r1_knn_topk")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------------------------------------------------------- §2.1 sources
    // S10 row-count stats (milvus.py:980-1014)
    "s10_stats" -> ((s, dir) => {
      Tables.names.map { n =>
        t(s, dir, n).select(lit(n).as("table_name"), lit(1).as("one"))
          .groupBy("table_name").agg(count(lit(1)).as("n_rows"))
      }.reduce(_ unionByName _)
    }),
    // S7 upsert: merge updated rows over base, preserving untouched rows
    // (milvus.py:511-713). Updates = customers with custkey%10==0 get acctbal+100.
    "s7_upsert" -> ((s, dir) => {
      val base = t(s, dir, "customer")
      val updates = base.filter(col("c_custkey") % 10 === 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 100.0, 2))
      base.join(updates.select("c_custkey"), Seq("c_custkey"), "left_anti")
        .unionByName(updates)
        .select(col("c_custkey"), col("c_name"), round(col("c_acctbal"), 2).as("acctbal"))
    }),
    // S8 batch delete as anti-join (milvus.py:717-843): victims = custkey%7==3.
    "s8_delete" -> ((s, dir) => {
      val cust = t(s, dir, "customer")
      val victims = cust.filter(col("c_custkey") % 7 === 3).select("c_custkey")
      cust.join(victims, Seq("c_custkey"), "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    }),
    // S11 corpus snapshot diff — the CDC read before a retrain: which docs
    // were added / removed / content-changed between corpus v1 and v2
    // (v2 built in-query: every 17th doc dropped, every 13th survivor's
    // text bumped, every 29th re-added under a new id). Only (id, md5)
    // pairs ride the full-outer join. See CorpusOps.snapshotDiff.
    "s11_snapshot_diff" -> ((s, dir) => {
      val v1 = t(s, dir, "documents")
      val v2 = v1.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text", when(col("doc_id") % 13 === 0,
          concat(col("text"), lit(" v2"))).otherwise(col("text")))
        .unionByName(v1.filter(col("doc_id") % 29 === 0)
          .withColumn("doc_id", col("doc_id") + 1000000))
      CorpusOps.snapshotDiff(v1, v2, "doc_id", Seq("text", "source"))
    }),
    // S12 removable membership (r16): the counting-Bloom sketch maintained
    // FROM a snapshot diff — adds +1, removes −1 per hash position, so the
    // delta path is delta-sized work and bit-equal to a rebuild
    // (Round16OpsSpec). The probe is the codegen'd BitsetGet expression over
    // the cnt>0 bitset; the exact-confirm backstop makes this output
    // identical to a plain semi-join against v2's keys (the x20
    // adjudication), which is what the oracle checks. chooseMaintain picks
    // the delta path here (diff ≈ 16% of v2, under the measured ~0.52
    // crossover recorded in chooseMaintain's scaladoc).
    // See operators.CountingBloom.
    "s12_removable_membership" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v1 = docs.filter(col("doc_id") % 11 =!= 3)
      val v2 = docs.filter(col("doc_id") % 11 === 3 ||
        (col("doc_id") % 11 =!= 3 && col("doc_id") % 13 =!= 5))
      val diff = CorpusOps.snapshotDiff(v1, v2, "doc_id", Seq("text"))
        .localCheckpoint(true) // read for added keys, removed keys, and sizing
      val added = diff.filter(col("change") === "added").select("doc_id")
      val removed = diff.filter(col("change") === "removed").select("doc_id")
      val state0 = CountingBloom.counters(v1.select("doc_id"), "doc_id", m = 1 << 14)
      val state =
        if (CountingBloom.chooseMaintain(diff.count(), v2.count()))
          CountingBloom.maintain(state0, added, removed, "doc_id")
        else CountingBloom.counters(v2.select("doc_id"), "doc_id", m = 1 << 14)
      CountingBloom.semiJoin(docs.select("doc_id"), "doc_id",
        state, v2.select("doc_id"), "doc_id")
    }),

    // ------------------------------------------------------------- §2.2 text prep
    // T1 recursive chunker (loaders/chunker.py) — not SQL-expressible, rows check.
    "t1_chunker" -> ((s, dir) => {
      Chunker.chunkDocuments(t(s, dir, "documents"), "doc_id", "text",
        chunkSize = 200, overlap = 50)
        // chunkDocuments types the id as string to stay generic; restore the
        // source BIGINT so the projection matches the oracle's type exactly.
        .select(col("id").cast("long").as("doc_id"), col("chunk_index"),
          col("total_chunks"), length(col("chunk")).as("chunk_len"))
    }),
    // T2 processing_phrases (llm/extractor.py:17-28)
    "t2_normalize" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Norm.normPhrase(col("text")).as("norm_text"))
    }),
    // T3 relation-text construction (graph/builder.py:99-103)
    "t3_relation_text" -> ((s, dir) => {
      t(s, dir, "part")
        .select(col("p_partkey"),
          Norm.relationText(col("p_brand"), col("p_type"), col("p_name")).as("relation_text"))
    }),
    // T4 passage composition (evaluation/evaluate.py:397-401): title + "\n" +
    // text. Output hashed — embedded newlines don't survive the driver's
    // string canonicalizer, md5+length pin the exact bytes instead.
    "t4_compose" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          Norm.composePassage(Norm.titleOf(col("text")), col("text")).as("p"))
        .select(col("doc_id"), length(col("p")).as("passage_len"),
          md5(col("p").cast("binary")).as("passage_md5"))
    }),
    // T5 title extraction (evaluation/evaluate.py:219-229)
    "t5_title" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Norm.titleOf(col("text")).as("title"))
    }),

    // -------------------------------------------------------- §2.4 graph building
    // G1 triplet/word explode with position (graph/builder.py:150-157)
    "g1_explode" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), posexplode(Norm.normTokens(col("text"))))
        .select(col("doc_id"), (col("pos") + 1).cast("int").as("pos"), col("col").as("word"))
    }),
    // G2 entity dedup + deterministic id (graph/builder.py:76-85)
    "g2_entity_dedup" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(Norm.normTokens(col("text"))).as("name"))
        .distinct()
        .select(Norm.idOf(col("name")).as("id"), col("name"))
    }),
    // G3 relation dedup + deterministic id (graph/builder.py:96-118):
    // identical relation texts collapse to one row keyed md5(text), with the
    // duplicate count — part attributes standing in for (s, p, o) like t3.
    "g3_relation_dedup" -> ((s, dir) => {
      t(s, dir, "part")
        .select(Norm.relationText(col("p_brand"), col("p_type"), col("p_name")).as("text"))
        .groupBy("text")
        .agg(count(lit(1)).as("n_dups"))
        .select(Norm.idOf(col("text")).as("id"), col("text"), col("n_dups"))
    }),
    // G4/G5 adjacency build (graph/builder.py:86-122). The adjacency array is
    // serialized to a comma-joined string in the final projection: the driver's
    // comparator cannot sort rows containing array cells.
    "g4_adjacency" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(Norm.normTokens(col("text"))).as("word"))
        .groupBy("word")
        .agg(sort_array(collect_set(col("doc_id"))).as("ids"),
          countDistinct(col("doc_id")).as("n_docs"))
        .select(col("word"),
          array_join(transform(col("ids"), _.cast("string")), ",").as("doc_ids"),
          col("n_docs"))
    }),
    // G6 relation↔passage adjacency (graph/builder.py:76-78): distinct edge
    // pairs + per-relation serialized adjacency, orders↔parts standing in for
    // relations↔passages (same shape as GraphTables.relationPassage).
    "g6_rel_passage_adjacency" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .select(col("l_orderkey").as("relation_id"),
          col("l_partkey").cast("string").as("passage_id"))
        .distinct()
        .groupBy("relation_id")
        .agg(array_join(sort_array(collect_set(col("passage_id"))), ",").as("passage_ids"),
          countDistinct(col("passage_id")).as("n_passages"))
    }),
    // G9 cascade delete: strip a victim id out of adjacency arrays (serialized
    // to string for the driver comparator, as in g4).
    "g9_cascade" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(Norm.normTokens(col("text"))).as("word"))
        .groupBy("word")
        .agg(sort_array(collect_set(col("doc_id"))).as("doc_ids"))
        .select(col("word"),
          array_join(
            transform(filter(col("doc_ids"), d => d =!= 0L), _.cast("string")),
            ",").as("doc_ids_after"))
    }),

    // G10 degree distribution of the entity↔passage adjacency — the skew
    // summary that drives partitioning decisions on a real graph (hub
    // entities are broadcast-anti-join poison; this is the query that finds
    // them). Two hash aggregates, both map-side combinable.
    "g10_degree_hist" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), explode(Norm.normTokens(col("text"))).as("word"))
        .groupBy("word").agg(countDistinct(col("doc_id")).as("degree"))
        .groupBy("degree").agg(count(lit(1)).as("n_entities"))
    }),

    // G11 per-node triangle counts of the word co-occurrence graph, via
    // degree-ordered orientation (Schank–Wagner): oriented out-degrees are
    // O(√m), so wedge enumeration survives hub skew that makes the naive
    // edge³ join quadratic. The oracle is the naive triple join — same
    // answer, different algorithm (the d8/d9 pattern).
    "g11_triangles" -> ((s, dir) => {
      val wordDoc = t(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(Norm.normTokens(col("text")))).as("w"))
      val edges = wordDoc.as("a")
        .join(wordDoc.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
        .select(col("a.w").as("wa"), col("b.w").as("wb"))
      Triangles.perNodeCounts(edges, "wa", "wb")
    }),
    // G18 local clustering coefficient over g11's co-occurrence edges:
    // 2·T(v)/(deg·(deg−1)), degree-ordered triangle counts + one degree agg;
    // the hub-vs-clique shape read for expansion safety. See
    // Triangles.clusteringCoefficient.
    "g18_clustering_coeff" -> ((s, dir) => {
      val wordDoc = t(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(Norm.normTokens(col("text")))).as("w"))
      val edges = wordDoc.as("a")
        .join(wordDoc.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
        .select(col("a.w").as("wa"), col("b.w").as("wb"))
      Triangles.clusteringCoefficient(edges, "wa", "wb")
        .select(col("node"), col("degree"), col("n_triangles"),
          round(col("coeff"), 6).as("coeff_r"))
    }),

    // ----------------------------------------------------------- §2.5 embeddings
    // E3 L2 normalization (embeddings.py:142-143). Exploded to one row per
    // vector component: scalar doubles survive the driver comparator (array
    // cells do not), and rounding stays in the well-tested double path.
    "e3_l2_normalize" -> ((s, dir) => {
      t(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(VF.l2Normalize(col("embedding"))))
        .select(col("vec_id"), (col("pos") + 1).cast("int").as("pos"),
          round(col("col"), 6).as("component"))
    }),

    // E6 int8 quantization: per-vector scale + codes, exploded to scalar rows.
    // The scale is projected BEFORE quantize so the aggregate isn't re-evaluated
    // per element (lambda inlining).
    "e6_quantize" -> ((s, dir) => {
      import graft.functions.Quantize
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          Quantize.scaleOf(col("embedding")).as("scale"))
        .select(col("vec_id"), col("scale"),
          Quantize.quantize(col("embedding"), col("scale")).as("q"))
        .select(col("vec_id"), col("scale"), posexplode(col("q")))
        .select(col("vec_id"), (col("pos") + 1).cast("int").as("pos"),
          col("col").as("qv"), col("scale"))
    }),
    // E7 random projection (Johnson–Lindenstrauss) to 8 dims with a
    // deterministic Rademacher (±1) matrix derived from md5(seed, i, j) — no
    // stored matrix, both engines regenerate it cell by cell. The dot product
    // is the native codegen'd DotProduct (bit-identical to the oracle's
    // list_dot_product); one narrow projection, no shuffle. Exploded to
    // (vec_id, j, comp) scalar rows for the driver comparator.
    "e7_random_projection" -> ((s, dir) => {
      val dOut = 8
      val signVec = transform(sequence(lit(0), lit(63)), i =>
        when(conv(substring(md5(concat_ws("_", lit("rp"), i.cast("string"),
            col("j").cast("string"))), 1, 8), 16, 10).cast("long") % 2 === 0,
          lit(1.0)).otherwise(lit(-1.0)))
      t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          explode(sequence(lit(0), lit(dOut - 1))).as("j"))
        .select(col("vec_id"), col("j").cast("int").as("j"),
          round(VF.dot(col("embedding"), signVec) / math.sqrt(dOut.toDouble), 6)
            .as("comp"))
    }),
    // E8 binary-sign Hamming KNN: 1-bit/dim signatures (two 32-bit words per
    // 64-dim vector), XOR+popcount scoring. Queries broadcast against one
    // signature scan — 8 bytes/vector touched instead of 256 — the shortlist
    // stage of a signature-scan → exact-rerank cascade at scale.
    "e8_hamming_knn" -> ((s, dir) => {
      import graft.functions.BinarySign
      val sigs = t(s, dir, "embeddings")
        .select(col("vec_id"),
          BinarySign.packWord(col("embedding"), 0).as("w0"),
          BinarySign.packWord(col("embedding"), 32).as("w1"))
      val q = sigs.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("w0").as("q0"), col("w1").as("q1"))
      val scored = sigs.filter(col("vec_id") >= 8).crossJoin(broadcast(q))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          BinarySign.hamming2(col("q0"), col("q1"), col("w0"), col("w1")).as("hamming"))
      scored
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("hamming").asc, col("neighbor_id").asc)))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"), col("hamming"))
    }),
    // E9 Matryoshka two-stage KNN (Kusupati et al. 2022, MRL): shortlist on
    // the 16-dim PREFIX of each embedding (a trained sub-embedding under MRL),
    // exact full-dim rerank of the top-20 shortlist — the memory-bandwidth
    // cascade for float vectors (prefix scan touches 1/4 of the bytes), the
    // float analogue of e8's signature-scan → rerank and pq2's ADC → refine.
    // Prefix scores are bit-identical across engines (sequential double dot),
    // so the shortlist cut itself is oracle-exact, not just the final ranks.
    "e9_matryoshka" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          slice(col("embedding"), 1, 16).as("pfx"))
      val q = emb.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
          col("pfx").as("qp"))
      val short = emb.filter(col("vec_id") >= 8).crossJoin(broadcast(q))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          VF.dot(col("pfx"), col("qp")).as("ps"), col("embedding"), col("qe"))
        .withColumn("prank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("ps").desc, col("neighbor_id").asc)))
        .filter(col("prank") <= 20)
      short
        .select(col("query_id"), col("neighbor_id"),
          VF.dot(col("embedding"), col("qe")).as("fs"))
        .withColumn("rank", row_number().over(
          Window.partitionBy(col("query_id"))
            .orderBy(col("fs").desc, col("neighbor_id").asc)))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("fs"), 6).as("score_r"))
    }),
    // A3 KNN over dequantized int8 vectors — quantized storage, exact scoring
    // of the approximate codes; deterministic, so fully oracle-checkable.
    "a3_quantized_knn" -> ((s, dir) => {
      import graft.functions.Quantize
      val pre = t(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding"),
          Quantize.scaleOf(col("embedding")).as("scale"))
        .select(col("vec_id"), col("scale"),
          Quantize.quantize(col("embedding"), col("scale")).as("q"))
        .select(col("vec_id"), Quantize.dequantize(col("q"), col("scale")).as("dq"))
      VectorSearch.knnJoin(
        pre.filter(col("vec_id") < 8), pre.filter(col("vec_id") >= 8),
        "vec_id", "dq", "vec_id", "dq", 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score_r"))
    }),

    // ------------------------------------------------------------ §2.6 retrieval
    // R1 KNN top-k (retriever.py:101-132): queries = vec_id<8, corpus = rest.
    "r1_knn_topk" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VectorSearch.knnJoin(
        emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 8),
        "vec_id", "embedding", "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score_r"))
    }),
    // R2+R3 threshold + dedup-union (retriever.py:135-153)
    "r3_dedup_union" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val hits = VectorSearch.knnJoin(
        emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 8),
        "vec_id", "embedding", "vec_id", "embedding", 20)
      VectorSearch.dedupUnion(VectorSearch.thresholdFilter(hits, 0.2))
        .select(col("neighbor_id"), round(col("score"), 6).as("score_r"), col("best_rank"))
    }),
    // R7 get-by-ids point lookup (milvus.py:429-507)
    "r7_get_by_ids" -> ((s, dir) => {
      val part = t(s, dir, "part")
      val wanted = part.filter(col("p_partkey") % 97 === 0).select("p_partkey")
      VectorSearch.getByIds(part, wanted, "p_partkey")
        .select("p_partkey", "p_name", "p_brand")
    }),
    // R8 filtered KNN (retriever.py:267-285): corpus restricted to label==3.
    "r8_filtered_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val allowed = emb.filter(col("label") === 3).select("vec_id")
      VectorSearch.filteredKnn(
        emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 8), allowed,
        "vec_id", "embedding", "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"))
    }),

    // ------------------------------------------- §2.7 subgraph expansion (P2–P4)
    // P2 one-hop: seed parts → co-ordered parts (semi-join + anti-join shape).
    "p2_hop" -> ((s, dir) => {
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey"))
      val seeds = li.filter(col("l_partkey") % 211 === 0).select("l_partkey").distinct()
      val seedOrders = li.join(seeds, Seq("l_partkey"), "left_semi")
        .select("l_orderkey").distinct()
      li.join(seedOrders, Seq("l_orderkey"), "left_semi")
        .select("l_partkey").distinct()
        .join(seeds, Seq("l_partkey"), "left_anti")
        .select(col("l_partkey").as("hop_partkey"))
    }),
    // P4 degree-2 expansion through the REAL SubgraphExpansion operator over the
    // lineitem bipartite graph (part=entity, order=relation).
    "p4_degree2" -> ((s, dir) => {
      val er = t(s, dir, "lineitem")
        .select(col("l_partkey").cast("string").as("entity_id"),
          col("l_orderkey").cast("string").as("relation_id"))
        // Materialized ONCE, shuffle-free: expand() fires one action per hop
        // side (~6 for degree 2), each of which would otherwise re-run this
        // scan from scratch — at 100× that rescan is a TB of repeated IO.
        // Deliberately NOT pre-distinct'd: every hop semi-join re-distincts
        // its own (bounded) output anyway, so the global dedup shuffle would
        // buy nothing (measured: distinct+checkpoint 2.4 s vs 0.4 s, and the
        // hops themselves run faster on the raw pairs).
        .localCheckpoint(true)
      val seeds = er.filter(col("entity_id").cast("long") % 211 === 0)
        .select("entity_id").distinct()
      val emptyRel = seeds.sparkSession.createDataFrame(
        seeds.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("relation_id",
            org.apache.spark.sql.types.StringType))))
      // expandFrames, not expand: this traversal reaches ~150k ids — the
      // ANALYTICAL contract (id sets stay distributed), vs the driver-bounded
      // query-time loop rag retrieval uses.
      SubgraphExpansion.expandFrames(seeds, emptyRel, er, degree = 2)
        .entityIds.select(col("entity_id"))
    }),
    // PR1 entity-importance PageRank over the part co-occurrence graph
    // (parts sharing an order are mutual neighbors), 3 damped iterations,
    // top-50 by rounded rank with id tie-break. Scale shape: one edge
    // materialization + (join + hash agg) per iteration; see PageRank.scala.
    "pr1_pagerank" -> ((s, dir) => {
      PageRank.run(coEdges(s, dir), iterations = 3)
        .select(col("id").as("part_id"), round(col("pr"), 8).as("pr_r"))
        .orderBy(col("pr_r").desc, col("part_id").asc)
        .limit(50)
    }),
    // PR3 edge-WEIGHTED PageRank: transition mass ∝ co-occurrence
    // multiplicity (the weight coPairs already carries) — strongly
    // co-occurring neighbors beat incidental ones. Same zero-exchange loop
    // as pr1. See PageRank.runWeighted.
    "pr3_weighted_pagerank" -> ((s, dir) => {
      val e = coPairs(s, dir).select(explode(array(
          struct(col("src"), col("dst"), col("_m").as("w")),
          struct(col("dst").as("src"), col("src").as("dst"), col("_m").as("w"))))
          .as("e"))
        .select(col("e.src"), col("e.dst"), col("e.w"))
      PageRank.runWeighted(e, iterations = 3)
        .select(col("id").as("part_id"), round(col("pr"), 6).as("pr_r"))
        .orderBy(col("pr_r").desc, col("part_id").asc)
        .limit(50)
    }),

    // G12 k-core peel layers (Seidman onion decomposition) of the part
    // co-occurrence graph: layer = round at which the node's surviving
    // degree drops below k=80 (0 = survives = the 80-core). Fixpoint in 6
    // rounds at sf0.01 (4 at sf0.001, where the core is empty — the layers
    // stay non-degenerate); budget 8 with early exit, so the Spark loop and
    // the oracle's 8 unrolled rounds agree by monotonicity.
    "g12_kcore_layers" -> ((s, dir) => {
      KCore.peelLayers(coEdges(s, dir), k = 80, maxRounds = 8)
        .select(col("id").as("part_id"), col("layer"))
    }),

    // G13 label-propagation communities (synchronous, min-tiebreak mode) on
    // the SPARSIFIED co-occurrence graph — pairs sharing >= 2 distinct
    // orders (the full graph is near-complete and LPA collapses to one
    // label; repeated co-occurrence is where community structure lives:
    // 332 communities / 1892 nodes at sf0.01). 4 rounds, fixed on both
    // sides — synchronous LPA need not converge (bipartite-ish regions
    // oscillate), so the oracle unrolls exactly the same round count.
    "g13_labelprop" -> ((s, dir) => {
      coLabels(s, dir)
        .select(col("id").as("part_id"), col("label"))
    }),
    // G21 ego-network features over g11's co-occurrence edges: degree +
    // triangles + clustering coefficient + average neighbor degree, the
    // per-node structural feature vector graph-ML consumes. See
    // Triangles.egoFeatures.
    // G27 k-truss peel layers (k=4, 3 fixed rounds) of the part
    // co-occurrence graph: edges closing < 2 triangles peel per round —
    // edge-grade cohesion one level above g12's node-grade k-core (a
    // bridge between two hubs has high endpoint degrees but closes no
    // triangles). layer = removal round, 0 = in the surviving truss;
    // support = triangle count at removal. See Triangles.trussPeel.
    "g27_truss_layers" -> ((s, dir) => {
      Triangles.trussPeel(coEdges(s, dir, minGroups = 2), "src", "dst",
        k = 4, rounds = 3)
        .select(col("u").as("part_u"), col("v").as("part_v"),
          col("layer"), col("support"))
    }),
    "g21_ego_features" -> ((s, dir) => {
      val wordDoc = t(s, dir, "documents")
        .select(col("doc_id"), explode(array_distinct(Norm.normTokens(col("text")))).as("w"))
      val edges = wordDoc.as("a")
        .join(wordDoc.as("b"),
          col("a.doc_id") === col("b.doc_id") && col("a.w") < col("b.w"))
        .select(col("a.w").as("wa"), col("b.w").as("wb"))
      Triangles.egoFeatures(edges, "wa", "wb")
        .select(col("node"), col("degree"), col("n_triangles"),
          round(col("coeff"), 6).as("coeff_r"),
          round(col("avg_nbr_deg"), 6).as("avg_nbr_deg_r"))
    }),
    // G19 per-community Newman modularity of the g13 communities — the
    // quality read on any partition (Q = Σ contrib; near 0 ⇒ the split is
    // no better than random). The contribution ships as the EXACT integer
    // rational (n_in·E − deg_sum², E²) — pure BIGINT arithmetic on counts,
    // zero cross-engine float surface (the m6/m7 convention; closes the
    // r10 non-reproducible rounding red). See LabelPropagation.modularity.
    "g19_modularity" -> ((s, dir) => {
      val edges = coEdges(s, dir, minGroups = 2)
      LabelPropagation.modularity(coLabels(s, dir), edges)
        .select(col("label").as("community"), col("n_nodes"),
          col("n_in_edges"), col("deg_sum"), col("contrib_num"), col("contrib_den"))
    }),
    // G25 WEIGHTED modularity of the same g13/g19 communities, every edge
    // counted by its co-occurrence multiplicity `_m` (how many orders pair
    // the parts) — the unweighted pass scores a 100-order bond equal to a
    // 1-order bridge, flattening exactly the dense cores the split exists
    // to find. Same exact-BIGINT rational as g19 (w_in·W − S², W²).
    // See LabelPropagation.modularityWeighted.
    "g25_weighted_modularity" -> ((s, dir) => {
      val wEdges = coPairs(s, dir).filter(col("_m") >= 2)
        .select(explode(array(
          struct(col("src"), col("dst"), col("_m").as("w")),
          struct(col("dst").as("src"), col("src").as("dst"), col("_m").as("w")))).as("e"))
        .select(col("e.src"), col("e.dst"), col("e.w"))
      LabelPropagation.modularityWeighted(coLabels(s, dir), wEdges, "w")
        .select(col("label").as("community"), col("n_nodes"),
          col("n_in_edges").as("w_in"), col("deg_sum").as("w_deg"),
          col("contrib_num"), col("contrib_den"))
    }),
    // G26 WEIGHTED conductance over the same multiplicity graph: a
    // community glued by heavy internal bonds but cut only by 1-order
    // bridges is tight, and the unweighted phi overstates its leakage.
    // Single-division double from exact integer volume/cut (the g23
    // convention). See LabelPropagation.conductanceWeighted.
    "g26_weighted_conductance" -> ((s, dir) => {
      val wEdges = coPairs(s, dir).filter(col("_m") >= 2)
        .select(explode(array(
          struct(col("src"), col("dst"), col("_m").as("w")),
          struct(col("dst").as("src"), col("src").as("dst"), col("_m").as("w")))).as("e"))
        .select(col("e.src"), col("e.dst"), col("e.w"))
      LabelPropagation.conductanceWeighted(coLabels(s, dir), wEdges, "w")
        .select(col("community"), col("n_nodes"),
          col("volume").as("w_volume"), col("cut_edges").as("w_cut"),
          round(col("conductance"), 6).as("phi_r"))
    }),

    // PR2 PERSONALIZED PageRank: teleport mass returns to a seed set (parts
    // with key % 100 == 0) instead of uniformly — importance relative to a
    // query's entity hits, the centrality a graph-RAG retriever wants when
    // ranking an expanded subgraph (global PageRank promotes hubs regardless
    // of the question). Same per-iteration plan as pr1: node-sized broadcast
    // + one map-side-combined aggregation; oracle = 3 unrolled CTE rounds.
    "pr2_personalized" -> ((s, dir) => {
      val seeds = t(s, dir, "part")
        .filter(col("p_partkey") % 100 === 0).select(col("p_partkey"))
      PageRank.personalized(coEdges(s, dir), seeds, iterations = 3)
        .select(col("id").as("part_id"), round(col("pr"), 8).as("pr_r"))
        .orderBy(col("pr_r").desc, col("part_id").asc)
        .limit(50)
    }),
    // G14 HITS hubs & authorities (Kleinberg 1999) over the supplier→part
    // bipartite supply graph (distinct pairs): 2 max-normalized iterations,
    // top-40 per side by rounded score with id tie-break. Two-sided
    // centrality pr1's symmetrized PageRank collapses; max-normalization
    // keeps the normalizer order-independent, so only degree-bounded sums
    // carry float noise (absorbed at round 6, the pr1 contract).
    "g14_hits" -> ((s, dir) => {
      val e = t(s, dir, "lineitem")
        .select(col("l_suppkey").as("src"), col("l_partkey").as("dst"))
        .distinct()
      Hits.run(e, iterations = 2)
        .select(col("role"), col("id"), round(col("score"), 6).as("score_r"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("role"))
            .orderBy(col("score_r").desc, col("id").asc)))
        .filter(col("rk") <= 40)
        .select(col("role"), col("id"), col("score_r"))
    }),

    // G15 Adamic-Adar link prediction on the SPARSIFIED co-occurrence graph
    // (the g13 base): top-50 predicted absent edges by AA score — the
    // knowledge-graph-completion signal (entity pairs sharing selective
    // neighbors but no direct edge = the relations an extraction pass most
    // likely missed). Center-degree cap 64 bounds the wedge table; rounded
    // to 6 (the pr1 float-noise contract), pair-asc tie-break.
    "g15_adamic_adar" -> ((s, dir) => {
      LinkPrediction.adamicAdar(coEdges(s, dir, minGroups = 2), maxHubDegree = 64)
        .select(col("src"), col("dst"), col("common"),
          round(col("aa"), 6).as("aa_r"))
        .orderBy(col("aa_r").desc, col("src").asc, col("dst").asc)
        .limit(50)
    }),
    // G16 deterministic random walks (DeepWalk/node2vec sampling kernel):
    // 3-step hash-argmin walks from every node ≡ 0 (mod 100) over the
    // sparsified co-occurrence graph. See operators.RandomWalk.
    "g16_random_walks" -> ((s, dir) => {
      val edges = coEdges(s, dir, minGroups = 2)
      val seeds = edges.filter(col("src") % 100 === 0)
        .select(col("src").as("node")).distinct()
      RandomWalk.walks(edges, seeds, steps = 3)
        .select(col("walk_id"), col("step"), col("node"))
    }),
    // G30 node2vec biased walks (r13): second-order (prev-aware) hops —
    // return/triangle/outward weights (1,4,2) ≙ p=4, q=2 — drawn by an
    // integer inverse-CDF over md5, replayed in SQL by two window sums per
    // step. Composes with skipGramPairs for the full node2vec training
    // pipeline. See RandomWalk.biasedWalks.
    "g30_node2vec_walks" -> ((s, dir) => n2vWalks(s, dir)),
    // W2V2 the FULL node2vec training-data pipeline as one cross-engine
    // row (r13): skip-gram pairs over the SAME second-order biased walks
    // g30 pins — biasedWalks → skipGramPairs, the composition the two
    // operators exist for.
    "w2v2_node2vec_pairs" -> ((s, dir) =>
      RandomWalk.skipGramPairs(n2vWalks(s, dir), window = 2)),
    // G17 bounded-hop multi-source shortest paths: Bellman–Ford relaxation
    // with edges weighted 1/co-occurrence-multiplicity (distance prefers
    // strongly co-occurring paths). See ShortestPaths.
    "g17_bounded_sssp" -> ((s, dir) => {
      val pairs = coPairs(s, dir).filter(col("_m") >= 2)
      val edges = pairs.select(explode(array(
          struct(col("src"), col("dst"), col("_m")),
          struct(col("dst").as("src"), col("src").as("dst"), col("_m")))).as("e"))
        .select(col("e.src"), col("e.dst"), (lit(1.0) / col("e._m")).as("w"))
      val seeds = edges.filter(col("src") % 500 === 0)
        .select(col("src").as("node")).distinct()
      ShortestPaths.boundedSssp(edges, seeds, hops = 3)
        .select(col("seed"), col("node"), round(col("d"), 6).as("d_r"))
    }),

    // G28 bounded HARMONIC centrality of the g17 seed set: H(v) =
    // Σ 1/d(v,u) over nodes within 3 unweighted hops — the reachability
    // centrality that (unlike closeness) is defined on disconnected
    // graphs because unreached nodes contribute 0, not ∞. Engine-exact:
    // per-distance node COUNTS are integers, the harmonic sum is one
    // n1 + n2/2 + n3/3 expression from them. Reuses the SSSP kernel with
    // unit weights. See ShortestPaths.boundedSssp.
    "g28_harmonic" -> ((s, dir) => {
      val edges = coEdges(s, dir, minGroups = 2).withColumn("w", lit(1.0))
      val seeds = edges.filter(col("src") % 500 === 0)
        .select(col("src").as("node")).distinct()
      ShortestPaths.boundedSssp(edges, seeds, hops = 3)
        .filter(col("d") > 0)
        .groupBy(col("seed"))
        .agg(sum(when(col("d") === 1.0, 1L).otherwise(0L)).as("n_d1"),
          sum(when(col("d") === 2.0, 1L).otherwise(0L)).as("n_d2"),
          sum(when(col("d") === 3.0, 1L).otherwise(0L)).as("n_d3"))
        .select(col("seed"), col("n_d1"), col("n_d2"), col("n_d3"),
          round(col("n_d1") + col("n_d2") / lit(2.0) + col("n_d3") / lit(3.0), 6)
            .as("harmonic_r"))
    }),

    // G29 sampled bounded-hop Brandes betweenness over the g28 graph and
    // seed set: the BRIDGE centrality (who do shortest paths flow through)
    // beside PageRank's endorsement mass and g28's reachability. Integer
    // path counts, successor-ordered dependency folds, 3-hop truncation.
    // See ShortestPaths.betweennessBounded.
    "g29_betweenness" -> ((s, dir) => {
      val edges = coEdges(s, dir, minGroups = 2)
      val seeds = edges.filter(col("src") % 500 === 0)
        .select(col("src").as("node")).distinct()
      ShortestPaths.betweennessBounded(edges, seeds, hops = 3)
        .select(col("node"), col("n_seeds"), round(col("bc"), 6).as("bc_r"))
    }),

    // ------------------------------------------------- §2.8 eviction/assembly (V)
    // V1 eviction with the id-sorted no-eviction path (retriever.py:232-285):
    // per customer: >20 orders ⇒ top-20 by totalprice; else ALL sorted by orderkey.
    "v1_eviction" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val byCust = Window.partitionBy(col("o_custkey"))
      val byScore = byCust.orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      val byId = byCust.orderBy(col("o_orderkey").asc)
      o.withColumn("cnt", count(lit(1)).over(byCust))
        .withColumn("rank_score", row_number().over(byScore))
        .withColumn("rank_id", row_number().over(byId))
        .filter((col("cnt") > 20 && col("rank_score") <= 20) || col("cnt") <= 20)
        .select(col("o_custkey"),
          when(col("cnt") > 20, col("rank_score")).otherwise(col("rank_id")).as("rank"),
          col("o_orderkey"), (col("cnt") > 20).as("evicted"))
    }),
    // V4 first-seen-order passage join (rag.py:161-194): top-10 orders by revenue
    // (the "reranked relations"), explode their parts positionally, dedup each part
    // keeping its first (order_rank, linenumber) occurrence, cut to 20.
    "v4_first_seen" -> ((s, dir) => {
      // Global ranks on the two bounded tails come from sorted collected arrays
      // (posexplode position = rank), not unpartitioned windows: top-10 via
      // TakeOrderedAndProject, first-seen dedup via a PARTITIONED window.
      val li = t(s, dir, "lineitem")
      val top = li.groupBy("l_orderkey")
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("rev"))
        .orderBy(col("rev").desc, col("l_orderkey").asc).limit(10)
        .agg(array_sort(collect_list(struct((-col("rev")).as("nrev"), col("l_orderkey")))).as("a"))
        .select(posexplode(col("a")))
        .select(col("col.l_orderkey").as("l_orderkey"),
          (col("pos") + 1).cast("int").as("rel_rank"))
      val exploded = li.join(top, Seq("l_orderkey"))
        .select(col("rel_rank"), col("l_linenumber").as("pos"), col("l_partkey"))
      val firstSeen = Window.partitionBy(col("l_partkey"))
        .orderBy(col("rel_rank").asc, col("pos").asc)
      exploded.withColumn("rn", row_number().over(firstSeen)).filter(col("rn") === 1)
        .agg(slice(array_sort(collect_list(
          struct(col("rel_rank"), col("pos"), col("l_partkey")))), 1, 20).as("a"))
        .select(posexplode(col("a")))
        .select((col("pos") + 1).cast("int").as("rank"), col("col.l_partkey").as("l_partkey"))
    }),

    // V5 naive-RAG backfill (rag.py:629-638) through the REAL
    // Assembly.backfill: graph hits = top-5 orders by totalprice, naive hits
    // = first 10 orderkeys; naive extras append after the graph hits (rank +
    // 1e6 bias) until topK = 8.
    "v5_backfill" -> ((s, dir) => {
      val o = t(s, dir, "orders")
      val graphHits = o.orderBy(col("o_totalprice").desc, col("o_orderkey").asc).limit(5)
        .agg(array_sort(collect_list(
          struct((-col("o_totalprice")).as("s"), col("o_orderkey")))).as("a"))
        .select(posexplode(col("a")))
        .select(col("col.o_orderkey").cast("string").as("passage_id"),
          (col("pos") + 1).cast("int").as("rank"))
      val naiveHits = o.orderBy(col("o_orderkey").asc).limit(10)
        .agg(array_sort(collect_list(struct(col("o_orderkey")))).as("a"))
        .select(posexplode(col("a")))
        .select(col("col.o_orderkey").cast("string").as("passage_id"),
          (col("pos") + 1).cast("int").as("rank"))
      Assembly.backfill(graphHits, naiveHits, topK = 8)
    }),

    // ------------------------------------------------------------ §2.9 eval (M1)
    // Recall@5 by label: queries vec_id<20 vs corpus >=20; hit = same label.
    "m1_recall" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val c = emb.filter(col("vec_id") >= 20)
      val hits = VectorSearch.knnJoin(q, c, "vec_id", "embedding", "vec_id", "embedding", 5)
      hits
        .join(q.select(col("vec_id").cast("string").as("query_id"),
          col("label").as("q_label")), Seq("query_id"))
        .join(c.select(col("vec_id").cast("string").as("neighbor_id"),
          col("label").as("n_label")), Seq("neighbor_id"))
        .groupBy("query_id")
        .agg((sum(when(col("q_label") === col("n_label"), 1).otherwise(0)) / 5.0)
          .as("recall_at_5"))
    }),
    // M2 gold-title extraction (evaluate.py:200-216): supporting_facts[*][0],
    // deduped — the nested-array input is built in-query from documents (both
    // engines construct the identical array-of-arrays, then the REAL
    // Recall.goldTitles extracts).
    "m2_gold_titles" -> ((s, dir) => {
      val q = t(s, dir, "documents").filter(col("doc_id") < 50)
        .select(col("doc_id").cast("string").as("question_id"),
          array(
            array(Norm.titleOf(col("text")), lit("0")),
            array(concat(lit("doc-"), col("doc_id")), lit("1"))).as("supporting_facts"))
      graft.eval.Recall.goldTitles(q)
    }),
    // M3 macro-averaged recall grid (evaluate.py:435-534) through the REAL
    // Recall.recallAtK + macroAverage: gold per question = same-label corpus
    // vectors (bounded corpus slice keeps the gold join small).
    "m3_macro_avg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val c = emb.filter(col("vec_id") >= 20 && col("vec_id") < 220)
      val hits = VectorSearch.knnJoin(
          q, c, "vec_id", "embedding", "vec_id", "embedding", 5)
        .select(col("query_id").as("question_id"), col("rank"),
          col("neighbor_id").as("item"))
      val gold = q.select(col("vec_id").cast("string").as("question_id"), col("label"))
        .join(c.select(col("vec_id").cast("string").as("item"), col("label")), Seq("label"))
        .select("question_id", "item")
      graft.eval.Recall.macroAverage(
        graft.eval.Recall.recallAtK(hits, gold, Seq(1, 2, 5)), Seq(1, 2, 5))
    }),

    // M4 nDCG@5 (binary relevance), the rank-position-aware companion to the
    // recall grid — same gold construction as m3, through the REAL
    // Recall.ndcgAtK. One row per gold question.
    "m4_ndcg" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val c = emb.filter(col("vec_id") >= 20 && col("vec_id") < 220)
      val hits = VectorSearch.knnJoin(
          q, c, "vec_id", "embedding", "vec_id", "embedding", 5)
        .select(col("query_id").as("question_id"), col("rank"),
          col("neighbor_id").as("item"))
      val gold = q.select(col("vec_id").cast("string").as("question_id"), col("label"))
        .join(c.select(col("vec_id").cast("string").as("item"), col("label")), Seq("label"))
        .select("question_id", "item")
      graft.eval.Recall.ndcgAtK(hits, gold, Seq(5))
    }),

    // M5 mean reciprocal rank on the same labeled retrieval task as m4:
    // 1/rank of the first gold hit in the top-5, 0 when none — the
    // known-item metric; one conditional aggregate, the division is
    // engine-exact (no sums).
    "m5_mrr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val c = emb.filter(col("vec_id") >= 20 && col("vec_id") < 220)
      val hits = VectorSearch.knnJoin(
          q, c, "vec_id", "embedding", "vec_id", "embedding", 5)
        .select(col("query_id").as("question_id"), col("rank"),
          col("neighbor_id").as("item"))
      val gold = q.select(col("vec_id").cast("string").as("question_id"), col("label"))
        .join(c.select(col("vec_id").cast("string").as("item"), col("label")), Seq("label"))
        .select("question_id", "item")
      graft.eval.Recall.mrrAtK(hits, gold, Seq(5))
    }),

    // M6 precision/recall/F1 threshold sweep — the calibration read every
    // score-gated pipeline stage needs before a cut point is chosen (which
    // quality/langid/classifier threshold keeps the data you want?).
    // Scored here: stopword_ratio as an is-English detector against the
    // table's ground-truth lang column. One corpus pass fans into six
    // threshold groups (map-side combined); thresholds with zero predicted
    // docs drop out on both engines (inner GROUP BY after the gate).
    "m6_pr_curve" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .select((col("lang") === "en").cast("int").as("y"),
          TA.stopwordRatioT(Norm.normTokens(col("text"))).as("score"))
      val th = s.createDataFrame(
        Seq(0.05, 0.1, 0.15, 0.2, 0.25, 0.3).map(Tuple1(_))).toDF("threshold")
      val pos = scored.agg(sum(col("y")).as("_pos"))
      val p = col("tp") / col("n_pred")
      val r = col("tp") / col("_pos")
      scored.crossJoin(broadcast(th))
        .filter(col("score") >= col("threshold"))
        .groupBy("threshold")
        .agg(count(lit(1)).as("n_pred"), sum(col("y")).as("tp"))
        .crossJoin(pos) // 6x1-row scalar assembly
        .select(col("threshold"), col("n_pred"), col("tp"),
          round(p, 6).as("prec"), round(r, 6).as("recall"),
          when(p + r > 0, round(lit(2) * p * r / (p + r), 6)).as("f1"))
    }),
    // M7 Cohen's kappa: beyond-chance agreement of the x1 langid heuristic
    // against the table's ground-truth lang — every division input is an
    // exact BIGINT (p_e's numerator is an integer sum of count products).
    // See Recall.cohenKappa.
    "m7_kappa" -> ((s, dir) => {
      // toks projected BEFORE langIdT (the x1 pattern): inline, Catalyst
      // would re-run the regex tokenize once per language list_filter
      val pred = t(s, dir, "documents")
        .select(col("doc_id"), col("lang"), Norm.normTokens(col("text")).as("toks"))
        .select(col("doc_id"), col("lang"), TA.langIdT(col("toks")).as("lang_pred"))
      graft.eval.Recall.cohenKappa(pred, "lang_pred", "lang")
        .select(col("n"), col("n_agree"), round(col("po"), 6).as("po_r"),
          round(col("pe"), 6).as("pe_r"), round(col("kappa"), 6).as("kappa_r"))
    }),

    // V6 MMR diversity selection over a KNN top-20 (query = vec 0, corpus =
    // the r1 pool): λ=1/2 so the score arithmetic is bit-exact; near-copies
    // of a picked vector rank below fresh directions. See Assembly.mmrSelect.
    "v6_mmr" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cand = VectorSearch.knnJoin(
          emb.filter(col("vec_id") === 0), emb.filter(col("vec_id") >= 8),
          "vec_id", "embedding", "vec_id", "embedding", 20)
        .select(col("neighbor_id").as("id"), col("score").as("rel"))
        .join(emb.select(col("vec_id").cast("string").as("id"), col("embedding")),
          Seq("id"))
      Assembly.mmrSelect(cand, "id", "rel", "embedding", k = 5, lambda = 0.5)
        .select(col("rank"), col("pick_id"),
          round(col("mmr_score"), 6).as("mmr_r"))
    }),

    // ER1 blocked entity resolution: near-duplicate part NAMES via prefix
    // blocking + threshold Levenshtein (quadratic only within a block — the
    // LSH-band economics applied to edit distance). A char-dropped typo
    // variant of every 10th name is injected AFTER position 5 (so it stays
    // in its prefix-4 block) and the pair search deterministically fires.
    "er1_entity_neardup" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_name").as("name"))
      val typos = p.filter(col("id") % 10 === 0)
        .select((col("id") + 1000000).as("id"),
          concat(substring(col("name"), 1, 5), substring(col("name"), 7, 100000))
            .as("name"))
      FuzzyMatch.blockedNearDupPairs(p.unionByName(typos), "id", "name",
        prefixLen = 4, maxEdit = 2)
    }),
    // ER2 resolution clusters — the ACTION on er1's pairs: every row (same
    // typo-injected input) gets its canonical id via exact collapse +
    // connected components over the blocked pair graph; rows in no pair
    // keep their exact-collapse representative. See
    // FuzzyMatch.resolutionClusters.
    "er2_resolution_clusters" -> ((s, dir) => {
      val p = t(s, dir, "part")
        .select(col("p_partkey").as("id"), col("p_name").as("name"))
      val typos = p.filter(col("id") % 10 === 0)
        .select((col("id") + 1000000).as("id"),
          concat(substring(col("name"), 1, 5), substring(col("name"), 7, 100000))
            .as("name"))
      FuzzyMatch.resolutionClusters(p.unionByName(typos), "id", "name",
        prefixLen = 4, maxEdit = 2)
    }),

    // ------------------------------------------------- scale pipeline: dedup (D)
    // D1 exact dedup on normalized text (hash-groupBy).
    "d1_exact_dedup" -> ((s, dir) => {
      Dedup.exact(t(s, dir, "documents"), "doc_id", "text")
    }),
    // D2a MinHash signatures (6 hashes over word 3-shingles). The documents table
    // is a single parquet file — repartition BEFORE the shingle explode so the
    // expensive per-row expansion parallelizes (AQE cannot split an explode).
    "d2_minhash_sig" -> ((s, dir) => minhashSigs(s, dir)),
    // D2b MinHash-LSH candidate pairs (3 bands × 2 rows) + estimated Jaccard.
    // Signatures feed three consumers (two self-join sides + similarity join):
    // persist them once.
    "d2_lsh_pairs" -> ((s, dir) => {
      Dedup.minhashSimilarity(lshPairs(s, dir), minhashSigs(s, dir), numHashes = 6)
    }),
    // D3 SimHash (16-bit) document sketches.
    "d3_simhash" -> ((s, dir) => {
      Dedup.simhash(spread(t(s, dir, "documents")), "doc_id", "text", nBits = 16)
    }),
    // D4 exact n-gram Jaccard pairs ≥ 0.5.
    "d4_ngram_jaccard" -> ((s, dir) => {
      Dedup.ngramJaccardPairsFromShingles(docShingles3(s, dir),
        minJaccard = 0.5, maxShingleFreq = 1000000L)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard_r"))
    }),
    // D16 duplication-rate attribution by ingest source: which feed sends
    // the duplicates, and whether its copies collide across feeds. See
    // Dedup.dupRateByGroup.
    "d16_dup_by_source" -> ((s, dir) => {
      Dedup.dupRateByGroup(t(s, dir, "documents"), "source", "doc_id", "text")
        .select(col("group").as("source"), col("n_docs"), col("n_dup_involved"),
          col("n_cross_dup"), round(col("dup_rate"), 6).as("dup_rate_r"))
    }),
    // D15 containment near-dup pairs: |A∩B| / min(|A|,|B|) over the same
    // shingle posting-list join as d4 — the subset-duplication signal
    // (short doc quoted whole inside a long one) Jaccard misses. The 0.6
    // threshold sits below d4's 0.5-Jaccard pairs' containment, so d15 ⊋ d4
    // on asymmetric-size pairs. See Dedup.containmentPairs.
    "d15_containment" -> ((s, dir) => {
      Dedup.containmentPairsFromShingles(docShingles3(s, dir),
        minContainment = 0.6, maxShingleFreq = 1000000L)
        .select(col("id_a"), col("id_b"), col("inter"),
          round(col("containment"), 6).as("containment_r"))
    }),
    // D7 C4-style corpus-level line dedup: a shared boilerplate footer is
    // appended to every document so the drop path is deterministically
    // exercised; original lines survive and reassemble in order.
    "d7_line_dedup" -> ((s, dir) => {
      Dedup.dedupLines(
        t(s, dir, "documents").select(col("doc_id"),
          concat(col("text"), lit("\nshared boilerplate footer all rights reserved"))
            .as("text2")),
        "doc_id", "text2", maxOccurrences = 1)
    }),
    // D8 transitive dedup clusters: connected components over the LSH candidate
    // pairs — a~b, b~c collapse to one keeper (min id in the component). At
    // this size the entry point answers on the driver; d9 runs its Spark plan.
    "d8_dedup_clusters" -> ((s, dir) =>
      Dedup.connectedComponents(lshPairs(s, dir))),
    // D9 the same clustering through the DIAMETER-INDEPENDENT star algorithm
    // (large-star/small-star, O(log n) rounds): same oracle as d8 — the
    // cluster assignment is algorithm-independent, which is exactly what
    // makes checking both implementations against one SQL answer meaningful.
    "d9_stars_clusters" -> ((s, dir) =>
      Dedup.connectedComponentsStars(lshPairs(s, dir))),
    // D5 embedding near-duplicates: cosine ≥ 0.35 (exact pair scan).
    "d5_embedding_neardup" -> ((s, dir) => {
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        minCosine = 0.35)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_r"))
    }),

    // D6 blocked near-dup: same semantics as d5 restricted to pairs agreeing on
    // a 4-bit hyperplane-sign sketch — the equi-join form that replaces the n²
    // scan at corpus scale. Oracle re-derives the identical hyperplanes.
    "d6_neardup_blocked" -> ((s, dir) => {
      Dedup.embeddingNearDupPairs(t(s, dir, "embeddings"), "vec_id", "embedding",
        minCosine = 0.35, blockBits = 4)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_r"))
    }),
    // D14 SemDeDup (Abbas et al. 2023): deterministic k-means cells (the
    // a2-checked Lloyd arithmetic, iters=0), then keep-min-id pruning of
    // cosine>=0.35 pairs WITHIN each cell only. ~80/500 dropped at sf0.01 —
    // the cluster-bounded twin of d5's exact pair scan.
    "d14_semdedup" -> ((s, dir) => {
      Dedup.semDedup(t(s, dir, "embeddings"), "vec_id", "embedding",
          nClusters = 8, tau = 0.35)
    }),
    // G5-salted: skew-safe adjacency aggregation (two-phase salted collect_set)
    // must equal the direct aggregate. Array serialized to string for the
    // driver comparator.
    "g5_salted_adjacency" -> ((s, dir) => {
      Salting.saltedCollectSet(
        t(s, dir, "events").select(col("user_id"), col("event_type")),
        "user_id", "event_type", buckets = 8)
        .select(col("user_id"), array_join(col("event_types"), ",").as("event_types"))
    }),

    // ------------------------------------------------ scale pipeline: ANN (IVF)
    // A1 IVF search: 8 seed centroids, 3 probes, top-5 (vs r1's exact spec).
    "a1_ivf_search" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = IvfIndex.build(emb, "vec_id", "embedding", nList = 8)
      IvfIndex.search(index,
        emb.filter(col("vec_id") >= 8 && col("vec_id") < 16),
        "vec_id", "embedding", nProbe = 3, k = 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("score"), 6).as("score_r"))
    }),

    // A2 one Lloyd refinement step: the per-dimension centroid means after one
    // assign+recompute round are deterministic SQL — exploded to scalar rows
    // (centroid, dim, mean) for the driver comparator.
    "a2_ivf_lloyd" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val index = IvfIndex.build(emb, "vec_id", "embedding", nList = 8, iters = 1)
      index.centroids
        .select(col("centroid_id"), posexplode(col("cvec")))
        .select(col("centroid_id"), (col("pos") + 1).cast("int").as("pos"),
          round(col("col"), 6).as("c"))
    }),
    // PQ1 product-quantization codes (8 subspaces × 16 codewords over the
    // 64-dim embeddings): every assignment step is deterministic double
    // arithmetic (DotProduct ≡ list_dot_product), checked code-for-code.
    "pq1_pq_codes" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val cb = ProductQuantizer.train(emb, "vec_id", "embedding",
        m = 8, dsub = 8, k = 16, iters = 1)
      ProductQuantizer.encode(emb, "vec_id", "embedding", cb)
    }),
    // PQ2 asymmetric-distance KNN: queries score the PQ codes through the m×k
    // lookup table — the IVF-PQ memory path (codes are ~32× smaller than the
    // float vectors they stand in for). See ProductQuantizer.scala.
    "pq2_adc_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val corpus = emb.filter(col("vec_id") >= 10)
      val cb = ProductQuantizer.train(corpus, "vec_id", "embedding",
        m = 8, dsub = 8, k = 16, iters = 1)
      val codes = ProductQuantizer.encode(corpus, "vec_id", "embedding", cb)
      ProductQuantizer.adcTopK(cb, codes,
          emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 10)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("score").as("adc_r"))
    }),

    // A4 Euclidean (L2) KNN — the reference's configurable metric_type
    // (config.py:43-54) beyond IP/cosine: same broadcast-scan-reduce plan,
    // distance = sequential Σ(a−b)² fold + sqrt (list_distance parity). See
    // VectorSearch.knnJoinL2.
    "a4_l2_knn" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      VectorSearch.knnJoinL2(
          emb.filter(col("vec_id") < 8), emb.filter(col("vec_id") >= 8),
          "vec_id", "embedding", "vec_id", "embedding", 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          round(col("dist"), 6).as("dist_r"))
    }),

    // ---------------------------------------- scale pipeline: lexical retrieval
    // B1 BM25 top-k over the documents corpus: inverted-index build (explode +
    // three hash aggs) + broadcast query-term join + bounded top-k aggregate.
    "b1_bm25_topk" -> ((s, dir) => {
      val idx = lexIndex(s, dir)
      val queries = s.createDataFrame(Seq(
        ("q0", "fast vector scan"),
        ("q1", "spark window agg"),
        ("q2", "customer order join"))).toDF("qid", "qtext")
      Bm25.score(idx, queries, "qid", "qtext", k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 6).as("score_r"))
    }),
    // B3 exact-phrase search over positional postings — adjacency-aware
    // lexical matching BM25's bag-of-words cannot express; the repeated
    // first term exercises the same-posting-list offset self-join. See
    // PhraseSearch.
    "b3_phrase_match" -> ((s, dir) => {
      PhraseSearch.phraseMatch(t(s, dir, "documents"), "doc_id", "text",
          Seq("table", "table", "value"))
        .select(col("id").as("doc_id"), col("n_hits"))
    }),
    // B4 Dirichlet query-likelihood retrieval (Zhai–Lafferty LM scoring) on
    // the same queries/tokenization as b1 — the lexical trio's third model
    // (BM25 / TF-IDF / QL-LM), built from the shared lexTokens frame. See
    // QueryLikelihood.
    "b4_query_likelihood" -> ((s, dir) => {
      val idx = lexIndex(s, dir)
      val queries = s.createDataFrame(Seq(
        ("q0", "fast vector scan"),
        ("q1", "spark window agg"),
        ("q2", "customer order join"))).toDF("qid", "qtext")
      QueryLikelihood.score(idx, queries, "qid", "qtext", mu = 300.0, k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 6).as("score_r"))
    }),
    // B5 RM3-style pseudo-relevance feedback on the b1 queries: first-pass
    // BM25 top-5 docs feed tf/dl expansion-term mining (top-3 new terms,
    // rounded-weight ranking, term-asc ties), re-scored with λ=1/2 (a power
    // of two, so the weighted sum stays bit-exact). See Bm25.prfScore.
    "b5_prf_expansion" -> ((s, dir) => {
      val idx = lexIndex(s, dir)
      val queries = s.createDataFrame(Seq(
        ("q0", "fast vector scan"),
        ("q1", "spark window agg"),
        ("q2", "customer order join"))).toDF("qid", "qtext")
      Bm25.prfScore(idx, queries, "qid", "qtext", k = 5,
          fbDocs = 5, fbTerms = 3, lambda = 0.5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 6).as("score_r"))
    }),
    // B6 best-window snippet extraction: per (query, matching doc) the
    // width-8 token window covering the most distinct query terms (ties →
    // earliest), text sliced from the token array — windows anchor only at
    // query-term hits, so everything is posting-list-sized. See Snippets.
    "b6_snippets" -> ((s, dir) => {
      val queries = s.createDataFrame(Seq(
        ("q0", "fast vector scan"),
        ("q1", "spark window agg"),
        ("q2", "customer order join"))).toDF("qid", "qtext")
      Snippets.bestWindow(t(s, dir, "documents"), "doc_id", "text",
        queries, "qid", "qtext", width = 8)
    }),
    // B7 query spell correction against the x11 corpus vocabulary: OOV
    // query terms get top-3 in-vocabulary corrections by (edit distance,
    // corpus frequency, term) — the noisy-channel read with frequency as
    // the prior; in-vocab terms emit nothing. See FuzzyMatch.spellCorrect.
    "b7_spell_correct" -> ((s, dir) => {
      val vocab = CorpusOps.vocabulary(
        t(s, dir, "documents").select(Norm.normTokens(col("text")).as("toks")),
        "toks", minCount = 5, topK = 100)
      val queries = s.createDataFrame(Seq(
        ("q0", "custmer ordr"),
        ("q1", "vektor scan"),
        ("q2", "windw agg"))).toDF("qid", "qtext")
      FuzzyMatch.spellCorrect(vocab, "token", "cnt", queries, "qid", "qtext",
        maxDist = 2, k = 3)
    }),
    // B2 hybrid retrieval: dense KNN run + sparse BM25 run fused with
    // reciprocal-rank fusion (rank-only, so the fused scores are exact).
    // Queries = the first 4 docs (their text for the lexical run, their
    // embedding row for the dense run); corpus = the rest.
    "b2_rrf_hybrid" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val docs = t(s, dir, "documents")
      val toks = lexTokens(s, dir)
      // knnJoin's contract is string ids; align the dense run to the corpus's
      // native BIGINT keys so rrf (which requires dtype agreement across
      // runs) restores BIGINT ids end to end.
      val dense = VectorSearch.knnJoin(
        emb.filter(col("vec_id") < 4), emb.filter(col("vec_id") >= 4),
        "vec_id", "embedding", "vec_id", "embedding", 10)
        .select(col("query_id").cast("long").as("query_id"), col("rank"),
          col("neighbor_id").cast("long").as("doc_id"))
      val idx = Bm25.buildFromTokens(
        toks.filter(col("doc_id") >= 4).select("id", "term"),
        idType = Some(toks.schema("doc_id").dataType))
      val sparse = Bm25.score(idx, docs.filter(col("doc_id") < 4),
        "doc_id", "text", k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"))
      HybridFusion.rrf(Seq(dense, sparse), k = 5)
        .select(col("query_id"), col("rank"), col("doc_id"),
          round(col("score"), 6).as("score_r"))
    }),
    // TF1 tf-idf vector-space retrieval (SMART ntc.nnn): doc weights raw-tf·idf
    // cosine-normalized, query raw tf; rank on the ROUNDED score so the
    // corpus's exact-duplicate docs (mathematically tied) order by id on both
    // engines. Same bounded scale shape as BM25 — see TfIdf.scala.
    "tf1_tfidf_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val w = TfIdf.weightsFromTokens(
        lexTokens(s, dir).select(col("doc_id").as("id"), col("term")),
        docs.agg(count(lit(1)).cast("double").as("n")))
      TfIdf.topK(w, docs.filter(col("doc_id") < 5), "doc_id", "text", k = 10)
    }),
    // MV1 late-interaction MaxSim (ColBERT-style): multi-vector "docs" are
    // embedding rows grouped by vec_id%100, queries two 5-token bags. Plan:
    // broadcast query tokens, codegen'd dot, two map-side-combined hash aggs
    // (max per query-token, sum per doc) + bounded top-k — see MultiVector.scala.
    "mv1_maxsim" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val qToks = emb.filter(col("vec_id") < 10)
        .select((col("vec_id") % 2).as("qid"), col("vec_id").as("tok"), col("embedding"))
      val dToks = emb.filter(col("vec_id") >= 10)
        .select((col("vec_id") % 100).as("did"), col("embedding"))
      MultiVector.maxSimTopK(qToks, dToks,
          "qid", "tok", "embedding", "did", "embedding", k = 10)
        .select(col("query_id"), col("rank"), col("doc_id"),
          col("score").as("maxsim_r"))
    }),

    // --------------------------------------------- scale pipeline: text analysis
    // X1 heuristic language ID (tokens projected once — see TextAnalysis scaladoc).
    "x1_langid" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"))
        .select(col("doc_id"), TA.langIdT(col("toks")).as("lang_pred"))
    }),
    // X2 quality scoring.
    "x2_quality" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"), Norm.normTokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TA.tokenCountT(col("toks")).as("n_tokens"),
          round(TA.punctRatio(col("text")), 6).as("punct_ratio"),
          round(TA.stopwordRatioT(col("toks")), 6).as("stopword_ratio"),
          TA.qualityScoreT(col("text"), col("toks")).as("quality"))
    }),
    // X3 token counting (whitespace + subword proxy).
    "x3_token_count" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TA.tokenCountT(col("toks")).as("n_tokens"),
          TA.subwordCountT(col("toks")).as("n_subwords"))
    }),
    // X4 fingerprints: token-set md5 + min k-gram rolling hash.
    "x4_fingerprint" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"),
          Norm.normPhrase(col("text")).as("norm"))
        .select(col("doc_id"),
          TA.fingerprintT(col("toks")).as("fp"),
          TA.minKgramHashNorm(col("norm"), 8).as("min_kgram"))
    }),

    // X7 PII redaction: deterministic synthetic PII is appended per document
    // (the corpus itself has none), then masked — verifies real substitutions
    // and per-kind match counts against the oracle's RE2 engine.
    "x7_pii_mask" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"),
          concat(col("text"), lit(" reach user"), col("doc_id").cast("string"),
            lit("@example.com via 10.0."), (col("doc_id") % 256).cast("string"),
            lit(".7 or call +1 (415) 555-"),
            (lit(1000) + col("doc_id") % 9000).cast("string")).as("txt"))
        .select(col("doc_id"),
          TA.maskPii(col("txt")).as("masked"),
          TA.piiEmailCount(col("txt")).as("n_email"),
          TA.piiIpCount(col("txt")).as("n_ip"),
          TA.piiPhoneCount(col("txt")).as("n_phone"))
    }),
    // X8 repetition signals (Gopher-style): duplicate-bigram fraction and
    // top-token share over the projected token array.
    "x8_repetition" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"))
        .select(col("doc_id"),
          round(TA.bigramDupRatioT(col("toks")), 6).as("dup_bigram_ratio"),
          round(TA.maxTokenFreqRatioT(col("toks")), 6).as("top_token_ratio"))
    }),

    // X5 deterministic train/val/test split: pure function of md5(id), so
    // assignment is stable under repartitioning and incremental corpus growth.
    "x5_train_split" -> ((s, dir) => {
      DatasetSplit.assignSplit(t(s, dir, "documents"),
        "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
    }),

    // X9 train/test contamination check: eval-split documents whose content
    // fingerprint also appears in the train split. A shifted duplicate of every
    // 7th document is injected so leakage deterministically exists.
    "x9_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dups = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val fp = docs.unionByName(dups)
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"))
        .select(col("doc_id"), TA.fingerprintT(col("toks")).as("fp"))
      val sp = DatasetSplit.assignSplit(fp, "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val trainFps = sp.filter(col("split") === "train").select("fp").distinct()
      sp.filter(col("split") =!= "train")
        .join(trainFps, Seq("fp"), "left_semi")
        .groupBy("split")
        .agg(count(lit(1)).as("n_contaminated"))
    }),

    // X14 n-gram contamination (the GPT-3-style check, stricter than x9's
    // whole-document fingerprints): eval-split documents sharing any 8-token
    // shingle with the train split, with the count of distinct shared
    // shingles. Shifted duplicates of every 7th document are injected so
    // leakage deterministically exists. Shape: one explode + split assignment
    // (pure md5 arithmetic) + semi-join on the shingle key + hash aggregate.
    "x14_ngram_contamination" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dups = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val sh = spread(docs.unionByName(dups))
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"))
        .select(col("doc_id"), explode(Norm.shingles(col("toks"), 8)).as("sh"))
      val sp = DatasetSplit.assignSplit(sh, "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val trainSh = sp.filter(col("split") === "train").select("sh").distinct()
      sp.filter(col("split") =!= "train")
        .join(trainSh, Seq("sh"), "left_semi")
        .groupBy("doc_id", "split")
        .agg(countDistinct(col("sh")).as("n_shared"))
    }),

    // D10 exact-substring duplicate spans (Lee et al. 2021 shape): every
    // 8-token window verbatim-shared across ≥2 documents — the span-level
    // dedup signal whole-document dedup (d1) misses. See
    // CorpusOps.duplicateSpans for the suffix-array-surrogate rationale.
    "d10_dup_spans" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"))
      CorpusOps.duplicateSpans(docs, "doc_id", "toks", 8)
        .select(col("doc_id"), col("start"))
    }),

    // QL1 model-based quality scoring (the C4/fastText classifier-filter
    // step): a linear bag-of-tokens model whose weights are ln(corpus count)
    // of the top-20 vocabulary, applied corpus-wide. Self-contained: the
    // model derives from the same corpus, so the oracle can re-derive it.
    "ql1_linear_score" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"))
      val model = CorpusOps.vocabulary(docs, "toks", minCount = 1, topK = 20)
        .select(col("token"), log(col("cnt").cast("double")).as("w"))
      CorpusOps.scoreLinear(docs, "doc_id", "toks", model, "token", "w", bias = 1.0)
        .select(col("doc_id"), round(col("score"), 4).as("score"))
    }),

    // X20 Bloom-prefiltered decontamination: drop every document whose
    // normalized-text key appears in the "eval" set (every 7th doc, the x9
    // convention). The bloom prunes the corpus scan before any shuffle;
    // the exact confirm join makes the result fpp-independent (hash-gated
    // against a plain NOT IN oracle).
    "x20_bloom_decontaminate" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), Norm.idOf(Norm.normPhrase(col("text"))).as("key"))
      val evalSet = docs.filter(col("doc_id") % 7 === 0).select(col("key"))
      CorpusOps.bloomDecontaminate(docs, "key", evalSet, "key", fpp = 0.01)
        .select(col("doc_id"))
    }),
    // X25 SEMANTIC decontamination — the embedding-cosine twin of x20's
    // exact-key bloom path: flag corpus vectors within cosine 0.35 of ANY
    // benchmark vector (vec_id < 48 plays the eval set), the defense against
    // paraphrased eval leakage that exact matching misses. The benchmark
    // side rides as ONE driver literal (eval-sized by contract), so the
    // corpus pass is a single narrow projection — no join, no shuffle.
    "x25_semantic_decontaminate" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      CorpusOps.semanticDecontaminate(
        emb.filter(col("vec_id") >= 48), "vec_id", "embedding",
        emb.filter(col("vec_id") < 48), "embedding", tau = 0.35)
        .select(col("vec_id"), round(col("max_cos"), 6).as("max_cos_r"),
          col("keep"))
    }),
    // MK1 min-k% probability membership (Shi et al. 2024): the
    // probability-outlier contamination read beyond x9/x14/x25 — eval docs
    // (doc_id % 5 = 0) scored under the train slice's add-1 unigram LM by
    // the mean log-prob of their 20% least-probable tokens. See
    // CorpusOps.minKProbMembership.
    "mk1_mink_prob" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"))
      CorpusOps.minKProbMembership(
        docs.filter(col("doc_id") % 5 =!= 0), "toks",
        docs.filter(col("doc_id") % 5 === 0), "doc_id", "toks", kFrac = 0.2)
        .select(col("doc_id"), col("n_tokens"),
          round(col("mink_logprob"), 6).as("mink_logprob_r"))
    }),

    // X26 leakage-safe (cluster-aware) split: near-dup clusters from the d8
    // LSH pipeline hash through their cluster REPRESENTATIVE, so no cluster
    // straddles train/eval; singletons hash as themselves (identical to x5
    // where no duplication exists). Output: per-split doc and cluster
    // counts — the mixture a cluster-aware splitter actually produces.
    "x26_cluster_split" -> ((s, dir) => {
      DatasetSplit.assignSplitLeakageSafe(t(s, dir, "documents"), "doc_id",
        lshPairs(s, dir),
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), countDistinct(col("rep")).as("n_clusters"))
    }),

    // X21 Gopher-style rule gate (Rae et al. 2021 §A1.1): word-count bounds,
    // mean word length, alpha-word fraction, required-stopword kinds,
    // bullet/ellipsis line fractions, AND'd into one pass/fail bit. Bullet
    // and ellipsis decorations are synthesized deterministically from doc_id
    // (the x7 pattern) so both line-shape rules actually fire on the
    // synthetic corpus. words/lines are evalOnce'd OWN columns: five signals
    // re-reference each array, and CollapseProject would otherwise inline
    // the split per signal.
    // PIPE2 corpus health report — the one-row dashboard every ingest batch
    // publishes before its data enters a training mix: volume, exact-dup
    // rate, language share, token-length quantiles. ONE pass over the
    // corpus (single aggregate; tokens/langid/key are per-row projections),
    // every ratio from exact integers.
    "pipe2_health" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"),
          Norm.normPhrase(col("text")).as("key"))
        .select(col("doc_id"), col("key"),
          size(col("toks")).cast("long").as("n_toks"),
          TA.langIdT(col("toks")).as("pred"))
      base.agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).as("total_tokens"),
          countDistinct(col("key")).as("_nd"),
          sum((col("pred") === "en").cast("long")).as("n_en"),
          expr("percentile(n_toks, 0.5)").as("_p50"),
          expr("percentile(n_toks, 0.9)").as("_p90"))
        .select(col("n_docs"), col("total_tokens"),
          (col("n_docs") - col("_nd")).as("n_exact_dups"),
          round((col("n_docs") - col("_nd")).cast("double") /
            col("n_docs").cast("double"), 6).as("dup_rate_r"),
          col("n_en"),
          round(col("n_en").cast("double") / col("n_docs").cast("double"), 6)
            .as("en_share_r"),
          round(col("_p50"), 4).as("p50_tokens_r"),
          round(col("_p90"), 4).as("p90_tokens_r"))
    }),
    // X30 corpus drift: Jensen–Shannon divergence between the even- and
    // odd-doc unigram distributions — the ingest-monitor alert before a
    // shifted crawl poisons training mixes. See CorpusOps.unigramDrift.
    "x30_unigram_drift" -> ((s, dir) => {
      val toks = lexTokens(s, dir)
      CorpusOps.unigramDrift(
          toks.filter(col("doc_id") % 2 === 0).select("term"),
          toks.filter(col("doc_id") % 2 === 1).select("term"))
        .select(col("n_a"), col("n_b"), col("vocab"),
          round(col("js"), 6).as("js_r"))
    }),
    // X28 markup content extraction — the in-scope core of S2/S3 (once bytes
    // are text, extraction is codegen'd regex work): deterministic markup is
    // wrapped around each doc (nav link every 3rd, script block every 4th —
    // the block regex must swallow its inner '<'), then strip + unescape +
    // collapse, with link density as the boilerplate signal. See
    // TextAnalysis.stripMarkup / linkTextLen.
    "x28_markup_extract" -> ((s, dir) => {
      val html = concat(
        lit("<html><body><h1>Doc "), col("doc_id").cast("string"), lit("</h1><p>"),
        col("text"), lit("</p>"),
        when(col("doc_id") % 3 === 0,
          lit("<a href=\"/x\">click here to subscribe</a>")).otherwise(lit("")),
        when(col("doc_id") % 4 === 0,
          lit("<script>var x = 1 < 2; // &amp; junk</script>")).otherwise(lit("")),
        lit("<p>&amp; more &lt;tags&gt;</p></body></html>"))
      t(s, dir, "documents")
        .select(col("doc_id"), html.as("_h"))
        .select(col("doc_id"), TA.stripMarkup(col("_h")).as("clean_text"),
          TA.linkTextLen(col("_h")).as("_ll"))
        .select(col("doc_id"), col("clean_text"),
          length(col("clean_text")).cast("bigint").as("n_chars"),
          col("_ll").cast("bigint").as("link_len"),
          round(col("_ll").cast("double") /
            length(col("clean_text")).cast("double"), 6).as("link_density"))
    }),
    "x21_gopher_rules" -> ((s, dir) => {
      val txt = concat(
        when(col("doc_id") % 3 === 0, lit("- ")).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 4 === 0, lit("\nto be continued...")).otherwise(lit("")))
      t(s, dir, "documents")
        .select(col("doc_id"), txt.as("txt"))
        .select(col("doc_id"),
          Norm.evalOnce(TA.rawWords(col("txt"))).as("w"),
          Norm.evalOnce(TA.rawLines(col("txt"))).as("l"))
        .select(col("doc_id"),
          size(col("w")).cast("long").as("n_words"),
          TA.meanWordLenW(col("w")).as("mwl"),
          TA.alphaWordFracW(col("w")).as("af"),
          TA.stopKindCountW(col("w")).as("n_stop_kinds"),
          TA.bulletLineFracL(col("l")).as("bf"),
          TA.ellipsisLineFracL(col("l")).as("ef"))
        .select(col("doc_id"), col("n_words"),
          round(col("mwl"), 4).as("mean_word_len"),
          round(col("af"), 4).as("alpha_frac"),
          col("n_stop_kinds"),
          round(col("bf"), 4).as("bullet_frac"),
          round(col("ef"), 4).as("ellipsis_frac"),
          when(col("n_words").between(20, 100000) &&
               col("mwl").between(3.0, 10.0) && col("af") >= 0.7 &&
               col("n_stop_kinds") >= 2 && col("bf") <= 0.9 && col("ef") <= 0.3,
            lit(1)).otherwise(lit(0)).as("pass"))
    }),

    // X22 cross-document novelty: per doc, the fraction of its distinct
    // 8-gram windows NOT already present in any earlier (smaller-id) doc —
    // the marginal-contribution signal that ranks an ingest queue. Shape:
    // one gram explode (checkpointed — it feeds the first-seen aggregate AND
    // the join-back), a min(doc_id) hash aggregate on the gram key, one
    // equi-join back, one per-doc aggregate. Never pairwise.
    "x22_novelty" -> ((s, dir) => {
      val grams = spread(t(s, dir, "documents"))
        .select(col("doc_id"), Norm.evalOnce(Norm.normTokens(col("text"))).as("toks"))
        .select(col("doc_id"),
          explode(array_distinct(Norm.shingles(col("toks"), 8))).as("gram"))
        .localCheckpoint(true)
      val first = grams.groupBy("gram").agg(min(col("doc_id")).as("first_doc"))
      grams.join(first, Seq("gram"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("first_doc") < col("doc_id"), 1L).otherwise(0L)).as("n_seen"))
        .select(col("doc_id"), col("n_grams"), col("n_seen"),
          round(lit(1.0) - col("n_seen").cast("double") / col("n_grams"), 4)
            .as("novelty"))
    }),

    // X23 DSIR importance weights (Xie et al. 2023): log-likelihood ratio of
    // two add-one-smoothed hashed unigram+bigram LMs — target domain = every
    // 10th doc, raw = the rest. The model is 2·256 longs regardless of
    // corpus size; two corpus passes, zero pinned state. High weight =
    // target-like; feeds importance resampling.
    "x23_dsir_weights" -> ((s, dir) =>
      dsirWeights(s, dir)
        .select(col("doc_id"), round(col("weight"), 4).as("w_r"))),

    // X24 DSIR resampling ACTION: Gumbel-top-k over the x23 log-weights —
    // sampling k docs without replacement ∝ exp(weight), derandomized via
    // md5-uniform Gumbel noise. Bounded top-k (TakeOrdered), never a sort.
    "x24_dsir_resample" -> ((s, dir) =>
      CorpusOps.gumbelTopK(dsirWeights(s, dir), "doc_id", "weight", k = 50)
        .select(col("doc_id"), round(col("gkey"), 4).as("gk_r"))),

    // SIM1 sparse TF-IDF cosine via inverted-index join — the sparse twin of
    // d5/d6's dense cosine: pair scores come from joining posting lists on
    // the term key, stop terms (df > 30) pruned BEFORE the self-join.
    // Terms are BIGRAMS, not unigrams: the synthetic corpus has only 31
    // distinct words clustered at high df, so a unigram vector space
    // degenerates to one dimension and every oracle cosine is exactly 1.0 —
    // the bigram space (916 terms, df 1..46 at sf0.01) gives 30 pairs with
    // 30 DISTINCT cosines, so the tf/idf/dot/norm arithmetic is genuinely
    // hash-checked (r7 review: a degenerate oracle verifies nothing).
    // SIM2 hard-negative mining (exact): per anchor, the top-5 highest-
    // cosine vectors with a DIFFERENT label above a 0.1 floor — the
    // confusable-band pairs a contrastive embedder actually learns from
    // (random negatives are trivially far and contribute ~zero gradient).
    // See VectorSearch.hardNegatives.
    "sim2_hard_negatives" -> ((s, dir) => {
      VectorSearch.hardNegatives(t(s, dir, "embeddings"), "vec_id", "embedding",
        "label", k = 5, minCosine = 0.1)
        .select(col("anchor_id"), col("rank"), col("neg_id"),
          round(col("cosine"), 6).as("cosine_r"))
    }),
    // SIM3 the same mining restricted to pairs agreeing on a 3-bit
    // hyperplane sign sketch (d6's blocking, d5/d6's exact-vs-blocked
    // pairing): the equi-join scale path, biased toward exactly the
    // high-cosine region hard negatives live in. Oracle re-derives the
    // identical planes as SQL literals.
    "sim3_hard_negatives_blocked" -> ((s, dir) => {
      VectorSearch.hardNegatives(t(s, dir, "embeddings"), "vec_id", "embedding",
        "label", k = 5, minCosine = 0.1, blockBits = 3)
        .select(col("anchor_id"), col("rank"), col("neg_id"),
          round(col("cosine"), 6).as("cosine_r"))
    }),
    // SIM4 kNN label-agreement (confident-learning signal): fraction of
    // each vector's 10 nearest neighbors sharing its label — the
    // mislabeled-example audit a labeled corpus runs before a classifier
    // inherits the noise. See VectorSearch.labelAgreement.
    "sim4_label_agreement" -> ((s, dir) => {
      VectorSearch.labelAgreement(t(s, dir, "embeddings"), "vec_id", "embedding",
        "label", k = 10)
        .select(col("id"), col("label"), col("k_eff"), col("n_same"),
          round(col("agreement"), 6).as("agreement_r"))
    }),
    // SIM4b the same audit restricted to hyperplane-sign blocks — the
    // equi-join 100-TB path beside the exact n² baseline (the d5/d6
    // pairing): neighborhoods stay high-cosine-biased, k_eff shrinks in
    // thin blocks, block-singleton anchors drop.
    "sim4_agreement_blocked" -> ((s, dir) => {
      VectorSearch.labelAgreement(t(s, dir, "embeddings"), "vec_id", "embedding",
        "label", k = 10, blockBits = 3)
        .select(col("id"), col("label"), col("k_eff"), col("n_same"),
          round(col("agreement"), 6).as("agreement_r"))
    }),
    // SIM5 label prototypes: per-class centroid + the real member nearest
    // it (medoid) — nearest-class-mean reps, distillation exemplars,
    // per-class drift anchors. Centroid serialized to a comma-joined string
    // via decimal(18,6) (fixed-point on BOTH engines — a raw double cast can
    // print scientific notation, and a raw array column crashes the driver
    // comparator's row sort). See VectorSearch.labelPrototypes.
    "sim5_label_prototypes" -> ((s, dir) => {
      VectorSearch.labelPrototypes(t(s, dir, "embeddings"), "vec_id", "embedding",
        "label")
        .select(col("label"), col("n"), col("medoid_id"),
          round(col("medoid_cos"), 6).as("medoid_cos_r"),
          array_join(
            transform(col("centroid"),
              x => round(x, 6).cast("decimal(18,6)").cast("string")),
            ",").as("centroid_r"))
    }),
    // SIM6 mutual-kNN graph (k=8): undirected edges where each vector is
    // in the other's top-8 — the hub-robust neighborhood graph for
    // density-based dedup clustering. See VectorSearch.mutualKnn.
    "sim6_mutual_knn" -> ((s, dir) => {
      VectorSearch.mutualKnn(t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_r"))
    }),
    // SIM6b the mutual-kNN graph over hyperplane-sign blocks: mutuality is
    // computed WITHIN the blocked directed lists, so surviving edges are a
    // subset biased toward the high-cosine edges the dedup-clustering
    // consumer actually wants.
    "sim6_mutual_knn_blocked" -> ((s, dir) => {
      VectorSearch.mutualKnn(t(s, dir, "embeddings"), "vec_id", "embedding", k = 8,
        blockBits = 3)
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_r"))
    }),
    // SIM7 triplet mining: per anchor, hardest same-label positive (min
    // cosine) + hardest cross-label negative (max cosine) + the margin —
    // the literal (a, p, n) batch a triplet trainer consumes; margin < 0
    // rows are the active constraint set. See VectorSearch.tripletMine.
    "sim7_triplet_mine" -> ((s, dir) => {
      VectorSearch.tripletMine(t(s, dir, "embeddings"), "vec_id", "embedding", "label")
        .select(col("anchor_id"), col("label"), col("pos_id"),
          round(col("pos_cos"), 6).as("pos_cos_r"), col("neg_id"),
          round(col("neg_cos"), 6).as("neg_cos_r"),
          round(col("margin"), 6).as("margin_r"))
    }),
    // SIM8 kNN density (k=10): mean cosine to the 10 nearest — low tail =
    // corrupt/out-of-distribution docs, high tail = near-dup saturation,
    // both curation queues. Deterministic ordered fold on both engines.
    // See VectorSearch.knnDensity.
    "sim8_knn_density" -> ((s, dir) => {
      VectorSearch.knnDensity(t(s, dir, "embeddings"), "vec_id", "embedding", k = 10)
        .select(col("id"), col("k_eff"), round(col("mean_cos"), 6).as("mean_cos_r"))
    }),
    // SIM8b blocked density: the high tail (near-dup saturation) survives
    // blocking nearly exact — near-identical vectors share sign patterns —
    // while the low tail becomes a recall-biased sample; block-singleton
    // rows drop.
    "sim8_density_blocked" -> ((s, dir) => {
      VectorSearch.knnDensity(t(s, dir, "embeddings"), "vec_id", "embedding", k = 10,
        blockBits = 3)
        .select(col("id"), col("k_eff"), round(col("mean_cos"), 6).as("mean_cos_r"))
    }),
    // SIM9 greedy k-center coreset (k=8): farthest-point traversal under
    // cosine distance — the coverage-maximizing selection read (seed = min
    // id, then always the point least covered by the picked set). max_cos_r
    // is the nondecreasing coverage-radius curve. See VectorSearch.kCenter.
    "sim9_kcenter_coreset" -> ((s, dir) => {
      VectorSearch.kCenter(t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
        .select(col("rank"), col("pick_id"), round(col("max_cos"), 6).as("max_cos_r"))
    }),
    // NN1 NN-Descent kNN graph (k=8, rounds=1, default oversample=2 →
    // internal K=16 lists, final top-8 slice): every moving part of the
    // iterative construction — md5-bucket init, reverse hub cap, wedge
    // join, seed-1 cross-bucket mixing, bounded rescoring, K-vs-k
    // oversampling — pinned edge-for-edge against an unrolled-CTE SQL
    // twin. rounds=1 keeps the oracle one unroll deep; the recall-vs-
    // rounds curve at full depth is the [nndescent-recall] bench line.
    // See NnDescent.knnGraph.
    "nn1_descent_graph" -> ((s, dir) => {
      nnGraph1(s, dir)
        .select(col("id"), col("nbr_id"), round(col("cosine"), 6).as("cosine_r"))
    }),
    // NN2/NN3 (r13): the CONSUMER end of the approximate graph — mutual-kNN
    // edges and density scores derived from the same rounds=1 construction
    // nn1 pins, with no pair scan anywhere (one n·k self-join / one grouped
    // ordered fold). These are the rows that certify the sub-n² path
    // actually replaces sim6/sim8 at scale, cross-engine. All three rows
    // read the ONE shared graph build (nnGraph1) — the build-once/
    // consume-many shape the operator exists for.
    "nn2_mutual_from_graph" -> ((s, dir) => {
      VectorSearch.mutualKnnFrom(nnGraph1(s, dir))
        .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine_r"))
    }),
    "nn3_density_from_graph" -> ((s, dir) => {
      VectorSearch.knnDensityFrom(nnGraph1(s, dir))
        .select(col("id"), col("k_eff"), round(col("mean_cos"), 6).as("mean_cos_r"))
    }),
    "sim1_sparse_cosine" -> ((s, dir) => {
      // evalOnce in its OWN aliased projection: the barrier stops
      // CollapseProject from inlining the tokenize into shingles' per-index
      // lambda (~80 regex evaluations per doc — 28 s of a 30 s single-task
      // job at sf0.1 without it). NOTE it must be a separate column — a
      // barrier nested INSIDE shingles(...) is one expression and still
      // evaluates per index (measured: 11.6 s); the barrier guards across
      // projections, not within an expression tree.
      val docs = spread(t(s, dir, "documents"))
        .select(col("doc_id"), Norm.evalOnce(Norm.normTokens(col("text"))).as("_t"))
        .select(col("doc_id"), Norm.shingles(col("_t"), 2).as("toks"))
      Dedup.sparseCosinePairs(docs, "doc_id", "toks", minSim = 0.3, maxDf = 30)
    }),

    // D11 the dedup ACTION on d10's signal: maximal cross-document duplicate
    // spans cut from every document, survivors reassembled in order. One row
    // per input doc (fully-duplicated docs come back empty, not dropped).
    "d11_remove_dup_spans" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"))
      CorpusOps.removeDuplicateSpans(docs, "doc_id", "toks", 8)
    }),

    // D12 keep-BEST exact dedup: collapse word-order/repetition variants
    // (fingerprint key — the sorted distinct token set; 446 keys over 500
    // docs at sf0.01) keeping the longest member, not the first-seen. One
    // map-side-combinable aggregate; max_by over a (quality, -id) struct,
    // never a per-key window sort.
    "d12_keep_best" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          Norm.normTokens(col("text")).as("_t"))
      Dedup.exactKeepBest(docs, "doc_id", "n_chars", TA.fingerprintT(col("_t")))
        .select(col("key"), col("keep_id"), col("best_q").cast("long").as("best_q"),
          col("n_dups"))
    }),

    // D13 incremental (delta) dedup: new documents (odd ids) probed against
    // the SAVED signatures of an already-indexed corpus (even ids) — band
    // equi-join only, the corpus is never re-paired with itself. The 100 TB
    // ingest shape: delta-sized probe vs corpus posting lists.
    "d13_delta_dedup" -> ((s, dir) => {
      val sigs = minhashSigs(s, dir) // feeds both split sides + the similarity join
      val saved = sigs.filter(col("id") % 2 === 0)
      val delta = sigs.filter(col("id") % 2 === 1)
      val pairs = Dedup.lshDeltaPairs(delta, saved, bands = 3, rowsPerBand = 2)
      Dedup.minhashSimilarity(pairs, sigs, numHashes = 6) // ids are disjoint
    }),

    // PK1 sequence packing: global token offsets (corpus ordered by doc_id) and
    // the 512-token context windows each document overlaps — computed with the
    // two-phase prefix sum, never a global single-partition sort.
    "pk1_sequence_pack" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"))
        .select(col("doc_id"), TA.tokenCountT(col("toks")).as("n"))
      CorpusOps.packSequences(toks, "doc_id", "n", seqLen = 512)
    }),

    // PK2 length-bucketed inference batching: documents ranked by token
    // count (desc, id tie-break) and cut into 32-doc batches, so each batch
    // pads to ~its own length — per-batch roster + padding accounting. The
    // ranking is the two-phase prefix sum, never a global single-partition
    // window.
    "pk2_length_batches" -> ((s, dir) => {
      val toks = t(s, dir, "documents")
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"))
        .select(col("doc_id"), TA.tokenCountT(col("toks")).as("n"))
      CorpusOps.lengthBatches(toks, "doc_id", "n", batchSize = 32)
    }),

    // X10 stratified downsampling: every language stratum capped at the size of
    // the smallest via deterministic id-hash buckets; output = per-stratum
    // before/after counts (the auditable summary of the sampling decision).
    "x10_stratified_sample" -> ((s, dir) => {
      // langs feeds three consumers (strata counts inside equalizeStrata, the
      // n_docs agg, the kept join) — checkpoint once instead of running the
      // tokenize+langid scan three times.
      val langs = t(s, dir, "documents")
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"))
        .select(col("doc_id"), TA.langIdT(col("toks")).as("lang"))
        .localCheckpoint(true)
      val kept = CorpusOps.equalizeStrata(langs, "doc_id", "lang")
      langs.groupBy("lang").agg(count(lit(1)).as("n_docs"))
        .join(kept.groupBy("lang").agg(count(lit(1)).as("n_kept")), Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    }),

    // X11 vocabulary building: top-100 tokens by corpus frequency (min count 5),
    // ties pinned by token.
    "x11_vocab" -> ((s, dir) => {
      CorpusOps.vocabulary(
        t(s, dir, "documents").select(Norm.normTokens(col("text")).as("toks")),
        "toks", minCount = 5, topK = 100)
    }),

    // X12 unigram log-perplexity: per-doc mean −ln p(token) under the corpus's
    // own unigram distribution — the cheap perplexity proxy for quality cuts.
    "x12_unigram_logppl" -> ((s, dir) => {
      CorpusOps.unigramLogPerplexity(
        t(s, dir, "documents").select(col("doc_id"),
          Norm.normTokens(col("text")).as("toks")),
        "doc_id", "toks")
        .select(col("doc_id"), round(col("logppl"), 6).as("logppl_r"))
    }),

    // X27 curriculum phases: documents ranked easy->hard by ROUNDED unigram
    // log-perplexity (the float is rounded BEFORE ranking so both engines
    // sort identical keys; x12 pins rounded-6 equality) and cut into 4
    // proportional phases; per-phase sizes and score range. Ranking via the
    // two-phase prefix sum, N as a 1-row broadcast.
    "x27_curriculum" -> ((s, dir) => {
      val ppl = CorpusOps.unigramLogPerplexity(
        t(s, dir, "documents").select(col("doc_id"),
          Norm.normTokens(col("text")).as("toks")),
        "doc_id", "toks")
        .select(col("doc_id"), round(col("logppl"), 6).as("score_r"))
      CorpusOps.curriculumPhases(ppl, "doc_id", "score_r", nPhases = 4)
        .groupBy(col("phase"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("score_r")).as("min_score"),
          max(col("score_r")).as("max_score"))
    }),

    // X13 token-budget corpus selection: greedy by (quality desc, id), keep
    // docs whose exclusive token prefix-sum + own size fits a global budget —
    // the "best N tokens" cut of a training-mix build, via the two-phase
    // prefix sum (no single-partition global window).
    "x13_token_budget" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), col("text"), Norm.normTokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TA.tokenCountT(col("toks")).as("n_tokens"),
          TA.qualityScoreT(col("text"), col("toks")).as("quality"))
      CorpusOps.selectByTokenBudget(scored, "doc_id", "quality", "n_tokens", budget = 2000L)
        .select(col("doc_id"), col("n_tokens"), round(col("quality"), 6).as("quality_r"))
    }),
    // X15 deterministic weighted sampling (Efraimidis–Spirakis): 25 docs,
    // inclusion odds ∝ token count — the reproducible "sample big docs more"
    // primitive of a training-mix build. Key is pure md5 arithmetic; the cut
    // is a bounded TakeOrderedAndProject (no global sort).
    "x15_weighted_sample" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"))
        .select(col("doc_id"), (TA.tokenCountT(col("toks")) + 1).as("w"))
      CorpusOps.weightedSample(scored, "doc_id", "w", k = 25)
        .select(col("doc_id"), col("w").as("weight"))
    }),
    // NG1 deterministic popularity-weighted negative sampling (the
    // word2vec/contrastive shape): 30 anchors × 4 draws from the corpus
    // vocabulary ∝ token frequency. Composition of the two-phase prefix sum
    // (cumulative-weight intervals) and the binned range join (draw→item
    // lookup) — see CorpusOps.negativeSample.
    "ng1_negative_sample" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val vocab = docs.select(explode(Norm.normTokens(col("text"))).as("token"))
        .groupBy("token").agg(count(lit(1)).as("w"))
      val anchors = docs.filter(col("doc_id") < 30)
        .select(col("doc_id").cast("string").as("aid"))
      CorpusOps.negativeSample(anchors, "aid", vocab, "token", "w", k = 4)
    }),
    // X16 hot-n-gram scrub (RefinedWeb/C4-style sub-document boilerplate
    // removal): tokens covered by any 5-gram occurring >2× corpus-wide are
    // dropped; docs reassembled in order. Output pinned by count + md5.
    "x16_ngram_scrub" -> ((s, dir) => {
      val toks = spread(t(s, dir, "documents"))
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"))
      CorpusOps.scrubHotNgrams(toks, "doc_id", "toks", n = 5, maxOccurrences = 2)
        .select(col("doc_id"), col("n_tokens_kept"),
          md5(col("clean_text").cast("binary")).as("clean_md5"))
    }),
    // X17 temperature-weighted source mixing (α=0.5, budget 250): rare
    // sources upsampled relative to share, deterministic id-hash membership;
    // output = the per-source audit summary of the sampling decision.
    "x17_temperature_mix" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), concat(lit("s"), col("doc_id") % 4).as("source"))
      val kept = CorpusOps.temperatureMix(docs, "doc_id", "source",
        alpha = 0.5, budget = 250L)
      docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
        .join(kept.groupBy("source").agg(count(lit(1)).as("n_kept")), Seq("source"), "left")
        .select(col("source"), col("n_docs"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
    }),
    // CS1 exact per-language token-length quantiles (p50/p90/p99, linear
    // interpolation — Spark percentile ≡ DuckDB quantile_cont). One hash agg;
    // the per-group sort inside percentile is bounded by group size.
    "cs1_length_quantiles" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(Norm.normTokens(col("text")).as("toks"))
        .select(TA.langIdT(col("toks")).as("lang"),
          TA.tokenCountT(col("toks")).cast("double").as("n"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          round(expr("percentile(n, 0.5)"), 4).as("p50"),
          round(expr("percentile(n, 0.9)"), 4).as("p90"),
          round(expr("percentile(n, 0.99)"), 4).as("p99"))
    }),
    // CS2 heavy-hitter bigrams: corpus top-20 by count (count desc, bigram asc)
    // — one explode + one map-side-combined hash agg + bounded top-k.
    "cs2_heavy_hitters" -> ((s, dir) => {
      spread(t(s, dir, "documents"))
        .select(Norm.normTokens(col("text")).as("toks"))
        .select(explode(Norm.shingles(col("toks"), 2)).as("bigram"))
        .groupBy("bigram").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("bigram").asc)
        .limit(20)
    }),

    // CS4 Count-Min frequency estimates for the top-20 bigrams beside their
    // exact counts — one-sided error (est ≥ exact, inflated only by bucket
    // collisions), cells sum-mergeable. Completes the deterministic sketch
    // suite: Bloom (x20) membership, HLL (cs3) cardinality, CMS frequency.
    "cs4_countmin" -> ((s, dir) => {
      val bigrams = spread(t(s, dir, "documents"))
        .select(Norm.evalOnce(Norm.normTokens(col("text"))).as("toks"))
        .select(explode(Norm.shingles(col("toks"), 2)).as("bigram"))
        .localCheckpoint(true) // feeds the sketch build + the exact twin
      val exact = bigrams.groupBy("bigram").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("bigram").asc).limit(20)
      CorpusOps.countMinEstimate(bigrams, "bigram", exact, "bigram")
        .join(exact, Seq("bigram"))
        .select(col("bigram"), col("exact_cnt"), col("cms_est"))
    }),

    // CS3 deterministic HyperLogLog cardinality per (lang, value-kind):
    // the mergeable-sketch twin of an exact count-distinct — 64 max-folded
    // registers per group instead of shuffling every distinct value. Words
    // (≤31 distinct) exercise the small-range linear-counting correction;
    // 3-shingles (3k–9k distinct per lang) exercise the raw estimator. The
    // oracle recomputes the IDENTICAL estimate (integer rho via binary
    // string length, BIGINT register fold — engine-reproducible by design).
    "cs3_hll_distinct" -> ((s, dir) => {
      val base = t(s, dir, "documents")
        .select(col("lang"), Norm.evalOnce(Norm.normTokens(col("text"))).as("toks"))
        .localCheckpoint(true) // feeds both kinds × (estimate + exact twin)
      val vals = base
        .select(col("lang"), lit("w1").as("kind"), explode(col("toks")).as("val"))
        .unionByName(base.select(col("lang"), lit("w3").as("kind"),
          explode(Norm.shingles(col("toks"), 3)).as("val")))
      val est = CorpusOps.hllEstimate(vals, Seq("lang", "kind"), "val")
      val exact = vals.groupBy("lang", "kind").agg(countDistinct(col("val")).as("n_exact"))
      exact.join(est, Seq("lang", "kind"))
        .select(col("lang"), col("kind"), col("n_exact"),
          round(col("hll_est"), 4).as("hll_est_r"))
    }),

    // CS5 sketch-based overlap pre-check: HLL inclusion-exclusion estimate
    // of |train ∩ test| distinct content fingerprints (the x9 corpus with
    // its injected shifted duplicates, so real overlap exists), beside the
    // exact intersection count — estimate and truth in one row, the go/no-go
    // signal a pipeline consults BEFORE paying an exact decontamination
    // pass. All three estimate terms derive from ONE register table (union
    // sketch = max-merge), the mergeability cs3's property test pins.
    "cs5_hll_overlap" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"), col("text"))
      val dups = docs.filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 1000000).as("doc_id"), col("text"))
      val fp = docs.unionByName(dups)
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"))
        .select(col("doc_id"), TA.fingerprintT(col("toks")).as("fp"))
      val sp = DatasetSplit.assignSplit(fp, "doc_id",
        Seq("train" -> 80, "val" -> 10, "test" -> 10))
      val est = CorpusOps.hllOverlapEstimate(sp, "split", "fp", "train", "test")
      val tr = sp.filter(col("split") === "train").select("fp").distinct()
      val te = sp.filter(col("split") === "test").select("fp").distinct()
      val exact = tr.join(te, Seq("fp"), "left_semi")
        .agg(count(lit(1)).as("n_exact_overlap"))
      est.crossJoin(exact) // 1x1-row scalar assembly
        .select(round(col("est_a"), 4).as("est_train"),
          round(col("est_b"), 4).as("est_test"),
          round(col("est_union"), 4).as("est_union"),
          round(col("est_overlap"), 4).as("est_overlap"),
          col("n_exact_overlap"))
    }),
    // CS6 histogram-quantile sketch: per-source token-length quantiles read
    // from a 64-bin equi-width mergeable histogram state — the distribution
    // leg of the sketch suite (cs1 is the exact global-sort twin). binW = 8
    // (a power of two, so the bin index is float-exact on every engine).
    "cs6_hist_quantiles" -> ((s, dir) => {
      val lens = t(s, dir, "documents")
        .select(col("source"),
          TA.tokenCountT(Norm.normTokens(col("text"))).as("n"))
      val state = CorpusOps.histogramSketch(lens, Seq("source"), "n", 0L, 512L, 64)
      CorpusOps.histogramQuantiles(state, Seq("source"), 0L, 512L, 64,
          Seq(0.25, 0.5, 0.75, 0.9, 0.99))
        .select(col("source"), col("q"), round(col("est"), 4).as("est_r"))
    }),
    // CS7 key-skew report over events.user_id: Gini + top-10 heavy keys —
    // the pre-flight read before keying a big join (salting / AQE skew
    // decision); rank i via the two-phase prefix sum, all ratio inputs
    // exact BIGINTs. See CorpusOps.skewReport.
    "cs7_skew_report" -> ((s, dir) => {
      CorpusOps.skewReport(t(s, dir, "events"), "user_id", topK = 10)
        .select(col("rank"), col("key"), col("cnt"),
          round(col("share"), 6).as("share_r"),
          col("n_keys"), col("total"), round(col("gini"), 6).as("gini_r"))
    }),

    // X19 deterministic epoch shuffle: reproducible global training order by
    // md5(seed‖id), ranked with the two-phase prefix sum (no global window).
    "x19_epoch_shuffle" -> ((s, dir) => {
      CorpusOps.deterministicShuffle(
        t(s, dir, "documents").select(col("doc_id")), "doc_id", seed = "ep1")
        .select(col("doc_id"), col("shuffle_pos"))
    }),
    // BP1 BPE training's counting kernel: weighted adjacent character pairs
    // over the corpus word-frequency table, top-20 by (count desc, pair) —
    // the oracle-checkable core of Bpe.train (the iterative trainer itself is
    // spec-tested merge-for-merge against a reference implementation).
    "bp1_pair_counts" -> ((s, dir) => {
      val wf = Bpe.wordFrequencies(
        spread(t(s, dir, "documents")).select(Norm.normTokens(col("text")).as("toks")),
        "toks")
      wf.filter(length(col("word")) >= 2) // sequence(1,0) would DESCEND, not empty
        .select(col("freq"),
          explode(transform(sequence(lit(1), length(col("word")) - 1),
            i => struct(substring(col("word"), i, lit(1)).cast("string").as("a"),
              substring(col("word"), i + 1, lit(1)).cast("string").as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(20)
    }),
    // BP2 BPE ENCODER under the driver gate: apply a fixed rank-ordered merge
    // list to every corpus token and count the resulting subwords. The oracle
    // replays the same merges as chained delimiter-string replaces — one
    // leftmost non-overlapping pass per rank, which equals the iterative
    // min-rank encoder because a learned-order list's components can only be
    // produced by strictly EARLIER merges (so no earlier rank ever becomes
    // applicable again after a later one).
    "bp2_bpe_encode" -> ((s, dir) => {
      val toks = spread(t(s, dir, "documents"))
        .select(Norm.normTokens(col("text")).as("toks"))
      Bpe.encode(toks, "toks", "sub", bp2Merges)
        .select(explode(col("sub")).as("subword"))
        .groupBy("subword").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("subword").asc)
        .limit(30)
    }),
    // X18 bigram-LM log-perplexity (add-1 smoothing): the conditional upgrade
    // of x12 — fluency under the corpus's own bigram model, the standard
    // order-sensitive quality signal. See CorpusOps.bigramLogPerplexity.
    "x18_bigram_logppl" -> ((s, dir) => {
      CorpusOps.bigramLogPerplexity(
        spread(t(s, dir, "documents"))
          .select(col("doc_id"), Norm.normTokens(col("text")).as("toks")),
        "doc_id", "toks")
        .select(col("doc_id"), round(col("logppl2"), 6).as("logppl2_r"))
    }),

    // X34 PMI collocation mining (minCount=5, top 30): which adjacent token
    // pairs co-occur far beyond their marginals — multiword entities, domain
    // terms, tokenizer-merge candidates. Log-space PMI (no BIGINT overflow
    // bound), ranking by rounded score + pair tie-break. See
    // CorpusOps.collocations.
    "x34_collocations" -> ((s, dir) => {
      CorpusOps.collocations(
        spread(t(s, dir, "documents"))
          .select(Norm.normTokens(col("text")).as("toks")),
        "toks", minCount = 5L, topK = 30)
        .select(col("pair"), col("pair_cnt"), round(col("pmi"), 6).as("pmi_r"))
    }),
    // X35 Stupid-Backoff trigram scoring: the held-out half of the corpus
    // scored under the train half's counts (md5-bucket split — the CCNet
    // quality-gate shape: fluency under a trusted corpus's n-gram model,
    // with backoff for unseen trigrams/bigrams). Position-ordered fold on
    // both engines. See CorpusOps.stupidBackoff.
    "x35_backoff_score" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"),
          CorpusOps.bucket10k(col("doc_id")).as("__b"))
        .localCheckpoint(true) // tokenize once — both split halves read it
      CorpusOps.stupidBackoff(
        docs.filter(col("__b") < 5000), docs.filter(col("__b") >= 5000),
        "doc_id", "toks")
        .select(col("doc_id"), col("n_tri"), round(col("sb"), 6).as("sb_r"))
    }),
    // X36 interpolated Kneser–Ney bigram scoring of the held-out half under
    // the train half — x35's principled-discounting twin (continuation
    // counts, not raw frequency, in the backoff distribution; the KenLM
    // shape). Same md5 split, same ordered per-doc fold. See
    // CorpusOps.kneserNeyBigram.
    "x36_kneser_ney" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"),
          CorpusOps.bucket10k(col("doc_id")).as("__b"))
        .localCheckpoint(true) // tokenize once — both split halves read it
      CorpusOps.kneserNeyBigram(
        docs.filter(col("__b") < 5000), docs.filter(col("__b") >= 5000),
        "doc_id", "toks")
        .select(col("doc_id"), col("n_bi"), round(col("kn"), 6).as("kn_r"))
    }),

    // Z1 Z-order (Morton) layout key: bit-interleave (partkey, suppkey) so a
    // zkey-sorted table keeps locality in BOTH dimensions — parquet min/max
    // stats then prune filters on either column. Pure codegen'd bit
    // arithmetic; the clusterBy range-repartition itself is plan-level
    // (LayoutSpec pins the non-overlapping-range + sorted-within properties).
    "z1_zorder" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_orderkey") % 7 === 0)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          Layout.zorderKey(Seq(col("l_partkey"), col("l_suppkey")), 16).as("zkey"))
    }),

    // --------------------------------------------------- events: windows/sessions
    // ST1 tumbling hourly aggregation (batch twin of StreamingOps.windowedCounts).
    "st1_window_agg" -> ((s, dir) => {
      t(s, dir, "events")
        // integer `div`, not `/`: double division of epoch-nanos loses ulps
        .select(expr("ts div 3600000000000").as("hour_bucket"),
          col("event_type"), col("value"))
        .groupBy("hour_bucket", "event_type")
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value"))
    }),
    // ST2 gap sessionization (30 min) + per-session rollup.
    "st2_sessionize" -> ((s, dir) => {
      val sess = Sessionize.byGap(t(s, dir, "events"), "user_id", "ts",
        gapNanos = 30L * 60 * 1000000000L)
      Sessionize.sessionStats(sess, "user_id", "ts", "value")
        // µs truncation: DuckDB reads parquet nanos as TIMESTAMP (µs), so the
        // oracle can only see microsecond precision.
        .select(col("user_id"), col("session_seq"),
          expr("session_start div 1000").as("session_start_us"),
          expr("session_end div 1000").as("session_end_us"),
          col("n_events"), col("sum_value"))
    }),
    // ST3 interval join (batch twin of StreamingOps.intervalJoinStream):
    // purchases within 10 min after each click by the same user. Equi-join
    // on user_id + range predicate — one shuffle on the key; the streaming
    // twin carries the same bound in its join condition so state expires
    // (StreamingSpec pins batch equivalence).
    "st3_interval_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("cts"))
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user"), col("ts").as("pts"), col("value"))
      clicks.join(purchases,
          col("user_id") === col("p_user") &&
            col("pts") >= col("cts") && col("pts") <= col("cts") + 600000000000L)
        .groupBy("click_id")
        .agg(count(lit(1)).as("n_purchases"), round(sum(col("value")), 4).as("sum_value"))
    }),
    // EV1 strictly-ordered funnel conversion (view → click → purchase):
    // per-step survivor joins + min aggregates. See EventAnalytics.funnel.
    "ev1_funnel" -> ((s, dir) => {
      EventAnalytics.funnel(t(s, dir, "events"), "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
    }),
    // EV2 daily cohort retention (first-active-day cohorts, offsets 0..7):
    // exact integer epoch-ns day indexes. See EventAnalytics.retention.
    "ev2_retention" -> ((s, dir) => {
      EventAnalytics.retention(t(s, dir, "events"), "user_id", "ts", maxOffset = 7)
    }),
    // EV4 funnel time-to-convert: per transition the exact p50/p90 of
    // t_k − t_{k−1} over converting users — the funnel-as-SLA read. See
    // EventAnalytics.funnelLatencies.
    "ev4_funnel_latency" -> ((s, dir) => {
      EventAnalytics.funnelLatencies(t(s, dir, "events"), "user_id", "ts",
          "event_type", Seq("view", "click", "purchase"))
        .select(col("step"), col("event_type"), col("n_users"),
          round(col("p50"), 4).as("p50_r"), round(col("p90"), 4).as("p90_r"))
    }),
    // EV3 rolling engagement (DAU / trailing-7-day WAU / stickiness): exact
    // distinct-over-range-window via the bounded sequence-explode rewrite.
    // See EventAnalytics.rollingActive.
    "ev3_rolling_active" -> ((s, dir) => {
      EventAnalytics.rollingActive(t(s, dir, "events"), "user_id", "ts",
        windowDays = 7)
    }),

    // X6 JSON property extraction (the schemaless "dynamic fields" surface,
    // milvus.py:97): parse events.props, aggregate an extracted field.
    "x6_json_props" -> ((s, dir) => {
      t(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    }),

    // AJ1 backward as-of join: each event picks the user's most recent order
    // (oracle = DuckDB's native ASOF JOIN — an independent implementation).
    "aj1_asof_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      val ord = t(s, dir, "orders")
        .select(col("o_custkey").as("user_id"),
          (col("o_orderdate").cast("timestamp").cast("long") * 1000000000L).as("ots"),
          col("o_totalprice"))
        .groupBy("user_id", "ots")
        .agg(round(max(col("o_totalprice")), 2).as("ord_price"))
      AsOfJoin.backward(ev, ord, "user_id", "ts", "ots", Seq("ord_price"))
        .select(col("event_id"), col("asof_ord_price"))
    }),
    // AJ2 nearest-in-time join: same inputs as aj1, but each event aligns to
    // the closest order either direction (backward wins ties) — the
    // feature-alignment variant of as-of. See AsOfJoin.nearest.
    "aj2_nearest_join" -> ((s, dir) => {
      val ev = t(s, dir, "events").select(col("event_id"), col("user_id"), col("ts"))
      val ord = t(s, dir, "orders")
        .select(col("o_custkey").as("user_id"),
          (col("o_orderdate").cast("timestamp").cast("long") * 1000000000L).as("ots"),
          col("o_totalprice"))
        .groupBy("user_id", "ots")
        .agg(round(max(col("o_totalprice")), 2).as("ord_price"))
      AsOfJoin.nearest(ev, ord, "user_id", "ts", "ots", Seq("ord_price"))
        .select(col("event_id"), col("nearest_ord_price"))
    }),
    // FZ1 typo-tolerant entity matching: probes are part names with the first
    // char dropped and a char appended (edit distance ≤ 2 from their source);
    // each finds its top-3 dictionary matches. One corpus scan, broadcast
    // probes, length pre-filter + threshold Levenshtein — see FuzzyMatch.scala.
    "fz1_fuzzy_match" -> ((s, dir) => {
      val parts = t(s, dir, "part").select(col("p_partkey"), col("p_name"))
      val probes = parts.filter(col("p_partkey") % 397 === 0)
        .select(col("p_partkey").as("probe_id"),
          concat(substring(col("p_name"), 2, 1 << 20), lit("z")).as("probe"))
      FuzzyMatch.topKByEditDistance(parts, "p_name", "p_name",
          probes, "probe_id", "probe", maxDist = 3, k = 3)
        .select(col("probe_id"), col("rank"), col("match").as("match_name"), col("dist"))
    }),
    // RJ1 binned range join: events attributed to OVERLAPPING 90-min windows
    // on a 1-h stride (so a point can land in two windows — a genuine range
    // predicate, not a bucketing). Spark plan = bin-key equi-join
    // (RangeJoin.scala), never BroadcastNestedLoopJoin; oracle = DuckDB's
    // native IEJoin range join, an independent implementation.
    "rj1_range_join" -> ((s, dir) => {
      val hourNs = 3600L * 1000 * 1000 * 1000
      val ev = t(s, dir, "events").select(col("ts").as("pt"), col("value"))
      val t0 = ev.agg(min("pt")).head().getLong(0) // one scalar, bounded
      val wins = s.range(48).select(col("id").as("window_id"),
          (lit(t0) + col("id") * hourNs).as("lo"))
        .withColumn("hi", col("lo") + lit(hourNs / 2 * 3))
      RangeJoin.pointInInterval(ev, wins, "pt", "lo", "hi", hourNs)
        .groupBy("window_id")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
    }),
    // RJ2 interval×interval overlap join: per-(user, day) activity spans vs
    // the same overlapping windows, exactly-once via the bin-of-overlap-start
    // ownership rule (no distinct shuffle) — see RangeJoin.intervalOverlap.
    "rj2_interval_overlap" -> ((s, dir) => {
      val hourNs = 3600L * 1000 * 1000 * 1000
      val ev = t(s, dir, "events").select(col("ts"), col("user_id"))
      val spans = ev
        .groupBy(col("user_id"), expr(s"ts div ${24 * hourNs}L").as("day"))
        .agg(min("ts").as("lo"), (max(col("ts")) + 1).as("hi"))
      val t0 = ev.agg(min("ts")).head().getLong(0)
      val wins = s.range(48).select(col("id").as("window_id"),
          (lit(t0) + col("id") * hourNs).as("wlo"))
        .withColumn("whi", col("wlo") + lit(hourNs / 2 * 3))
      RangeJoin.intervalOverlap(spans, "lo", "hi", wins, "wlo", "whi", hourNs)
        .groupBy("window_id")
        .agg(count(lit(1)).as("n_spans"))
    }),
    // FI1 support-pruned frequent-pair mining (r13): part pairs co-ordered
    // >= 2 times with exact integer lift_ppm — the A-priori level-2 pass
    // whose quadratic within-basket join runs only AFTER the support prune.
    // See FrequentItemsets.
    "fi1_frequent_pairs" -> ((s, dir) => {
      FrequentItemsets.frequentPairs(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minSupport = 2L)
    }),
    // FI2 PCY bucket-pruned frequent pairs (r14): the same output as fi1,
    // reached through the Park/Chen/Yu pair-hash-bucket prune — pass 1
    // folds the candidate stream into <= nBuckets counter rows (map-side
    // combine), pass 2 lets only heavy-bucket pairs into the pair-count
    // shuffle (broadcast semi-join). nBuckets = 2^20 so expected bucket
    // load << minSupport and the prune actually drops the hapax tail.
    // Bucket hash = the house md5 arithmetic, replayed in SQL. See
    // FrequentItemsets.pcyFrequentPairs.
    "fi2_pcy_pairs" -> ((s, dir) => {
      FrequentItemsets.pcyFrequentPairs(
        t(s, dir, "lineitem").select(col("l_orderkey"), col("l_partkey")),
        "l_orderkey", "l_partkey", minSupport = 2L, nBuckets = 1 << 20)
    }),
    // W2V1 skip-gram pair extraction (r13): the g16 walks turned into
    // DeepWalk/node2vec (center, context, count) training rows — one
    // walk_id band self-join + integer counts. See RandomWalk.skipGramPairs.
    "w2v1_skipgram_pairs" -> ((s, dir) => {
      val edges = coEdges(s, dir, minGroups = 2)
      val seeds = edges.filter(col("src") % 100 === 0)
        .select(col("src").as("node")).distinct()
      RandomWalk.skipGramPairs(
        RandomWalk.walks(edges, seeds, steps = 3), window = 2)
    }),
    // PCA1 quantized covariance moments (r13): the ONE distributed pass a
    // PCA needs — O(d²) integer state per partition, map-side combined;
    // fit/project are driver + broadcast consumers (spec-tested; eigen is
    // not SQL-expressible). All BIGINT-exact. See operators.Pca.
    "pca1_moments" -> ((s, dir) => {
      Pca.momentSums(t(s, dir, "embeddings"), "embedding", dim = 64)
    }),
    // DV1 data-quality validation report (r13): the Deequ-shaped constraint
    // gate — every row-local + uniqueness check folds into ONE aggregation
    // pass, FK integrity is one anti-join; exact integer ppm ratios. Checks
    // chosen to exercise BOTH outcomes (clean and violated) so the counts
    // discriminate. See operators.DataValidation.
    "dv1_validation_report" -> ((s, dir) => {
      import DataValidation._
      DataValidation.report(t(s, dir, "lineitem"), Seq(
        NotNull("quantity_not_null", "l_quantity"),
        InRange("quantity_1_30", "l_quantity", 1.0, 30.0),
        InRange("discount_0_10pct", "l_discount", 0.0, 0.1),
        InSet("returnflag_A_N", "l_returnflag", Seq("A", "N")),
        Matches("linestatus_upper", "l_linestatus", "^[A-Z]$"),
        Unique("order_line_unique", Seq("l_orderkey", "l_linenumber")),
        Unique("partkey_unique", Seq("l_partkey")),
        RefIntegrity("orderkey_fk", "l_orderkey",
          t(s, dir, "orders").select(col("o_orderkey")), "o_orderkey")))
    }),
    // PV1/PV2 re-identification-risk audits (r13): k-anonymity class-size
    // histogram and l-diversity histogram over quasi-identifiers — the
    // governance gate beside PII masking (x7). Two map-combined hash aggs
    // each, all-integer. See operators.Privacy.
    "pv1_kanonymity" -> ((s, dir) => {
      Privacy.kAnonymityHistogram(t(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_quantity"))
    }),
    "pv2_ldiversity" -> ((s, dir) => {
      Privacy.lDiversityHistogram(t(s, dir, "lineitem"),
        Seq("l_returnflag", "l_linestatus", "l_quantity"), "l_partkey")
    }),
    // PV3 generalization-ladder decision table (r13): per-level min class
    // size / class count / unique rows — release at the first level whose
    // min >= k; the full ladder shows each step's utility cost. One
    // bounded agg pair per level. See Privacy.generalizationLadder.
    "pv3_generalization_ladder" -> ((s, dir) => {
      Privacy.generalizationLadder(t(s, dir, "lineitem"), Seq(
        "raw" -> Seq("rf" -> col("l_returnflag"), "ls" -> col("l_linestatus"),
          "q" -> col("l_quantity")),
        "qty_bucket5" -> Seq("rf" -> col("l_returnflag"),
          "ls" -> col("l_linestatus"), "qb" -> floor(col("l_quantity") / 5)),
        "flags_only" -> Seq("rf" -> col("l_returnflag"),
          "ls" -> col("l_linestatus"))))
    }),
    // DV2 column profiling (r13): the discovery half of the validation
    // stage — ONE aggregation pass for all columns' null/distinct/min/max,
    // fractional min/max through DECIMAL(18,6) fixed point (the
    // cross-engine serialization rule). See DataValidation.profile.
    "dv2_column_profile" -> ((s, dir) => {
      DataValidation.profile(t(s, dir, "lineitem"),
        Seq("l_orderkey", "l_partkey", "l_linenumber", "l_quantity",
          "l_returnflag", "l_linestatus"))
    }),
    // DV3 two-sample KS distribution drift (exact integer cross-product
    // form, ppm-floored): did the even-id half's length DISTRIBUTION move
    // vs the odd half — the shape check dv1's range rules can't express.
    // See DataValidation.ksDrift.
    "dv3_ks_drift" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      DataValidation.ksDrift(
        docs.filter(col("doc_id") % 2 === 0), "n_chars",
        docs.filter(col("doc_id") % 2 === 1), "n_chars")
    }),
    // CS10 AMS F2 self-join-size sketch (Alon–Matias–Szegedy): the join-size
    // estimate the salting/broadcast decision needs, from 16 integer counter
    // rows; exact F2 published beside it with the floored-ppm error. See
    // CorpusOps.amsSelfJoinSize.
    "cs10_ams_join_size" -> ((s, dir) => {
      CorpusOps.amsSelfJoinSize(t(s, dir, "lineitem"), "l_partkey",
        nSketches = 16)
    }),
    // CS11 KLL-style mergeable quantile sketch (r16): md5-derandomized
    // compactor cascade — an item's terminal level is tz(md5(id)), the
    // sketch is the survivor set at the smallest level fitting cap=256, and
    // the estimates are integer-rank reads of the survivors. A pure function
    // of the multiset, so the twin replays the WHOLE sketch in SQL; merge
    // and streaming maintenance are bit-equal to one-shot (StreamingSpec).
    // Rank error vs the exact quantiles: Bench's [kll-error] line. See
    // operators.QuantileSketch.
    "cs11_kll_quantiles" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        // round before the cast: the price is a DOUBLE, ×100 lands ±1 ulp
        // off the integer, and bare CAST truncates in Spark but rounds in
        // DuckDB; an explicit round() agrees (never an exact .5 here)
        .select(round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
          concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string")).as("lid"))
      QuantileSketch.quantiles(li, "price_cents", "lid", cap = 256)
    }),
    // CS12 per-group KLL quantiles (r16): the fully distributed form of
    // cs11 — level selection per group as plain SQL over the (group, tz)
    // histogram (suffix-count window, ≤34 rows per group), NO driver
    // collect, so a million groups cost one shuffle. Same estimator, same
    // SQL replay per group. See QuantileSketch.quantilesByGroup.
    "cs12_kll_grouped" -> ((s, dir) => {
      QuantileSketch.quantilesByGroup(t(s, dir, "documents"), Seq("lang"),
        "n_chars", "doc_id", cap = 64)
    }),
    // CS13 collapse-compactor quantiles (r17): the O(1/cap) accuracy upgrade
    // over cs11's O(1/sqrt(cap)) level sampler at the SAME state size —
    // survivors at sorted ranks ≡ md5-phase (mod stride), stride =
    // ceil(n/cap), so every survivor's rank is KNOWN and a nearest-rank read
    // errs <= stride/2 DETERMINISTICALLY (cap 256: <= 0.195% guaranteed for
    // interior quantiles, vs the sampler's measured ~3.7% max — Bench's
    // [kll-error] line publishes both, the fi1/fi2 A/B convention). Pure
    // function of the multiset: the twin replays ranks, phase, grid and the
    // nearest-rank read in SQL. One range-partitioned sort is the build's
    // price (the sampler stays sort-free). See QuantileSketch.compactSketch.
    "cs13_kll_compact" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .select(round(col("l_extendedprice") * 100).cast("long").as("price_cents"),
          concat(col("l_orderkey").cast("string"), lit("-"),
            col("l_linenumber").cast("string")).as("lid"))
      QuantileSketch.quantilesCompact(li, "price_cents", "lid", cap = 256)
    }),
    // CS14 per-group collapse compactor (r17): cs13's grouped form,
    // completing the family square (cs11/cs12 sort-free samplers,
    // cs13/cs14 O(1/cap) collapses). Per-group ranks sort within each
    // group's task (the cs1 exact-quantiles shape — cs12 stays the
    // mega-group/skew tool); per-group md5 phase, same deterministic
    // <= stride/2 read bound, same SQL replay per group.
    "cs14_kll_compact_grouped" -> ((s, dir) => {
      QuantileSketch.quantilesCompactByGroup(t(s, dir, "documents"),
        Seq("lang"), "n_chars", "doc_id", cap = 64)
    }),

    // ------------------------------------------------------- multimodal plumbing
    // MM1 video frame sampling over binary payloads: REAL MJPEG-in-AVI
    // decode when the payload parses as one (RIFF walk + JDK JPEG decode —
    // spec-pinned on a fixture AVI), byte-window fallback flagged
    // decoded=false otherwise. The corpus's text bytes are never AVIs, so
    // the oracle replays the fallback arm with constant flags.
    "mm1_frames" -> ((s, dir) => {
      val assets = Multimodal.toAssets(
        t(s, dir, "documents").filter(col("n_chars") > 0), "doc_id", "text", "video")
      Multimodal.videoFrames(assets, frameBytes = 64, stride = 2)
    }),
    // MM2 feature extraction: partition-batched decode (stubbed) → stats.
    "mm2_features" -> ((s, dir) => {
      val assets = Multimodal.toAssets(t(s, dir, "documents"), "doc_id", "text", "image")
      Multimodal.extractFeatures(assets, dim = 8)
        .select(col("asset_id"), col("modality"), col("n_bytes"))
    }),

    // ----------------------------------------- flagship: corpus curation DAG
    // The training-data pipeline end to end as ONE declarative DAG: exact-dedup
    // survivors → quality + language filter → deterministic split assignment →
    // per-split document/token budget. Every stage is an already-oracle-checked
    // operator; this row checks their composition.
    "pipe1_corpus" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val survivors = Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id").as("doc_id"))
      val scored = docs.join(survivors, Seq("doc_id"), "left_semi")
        .select(col("doc_id"), col("text"), Norm.normTokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TA.tokenCountT(col("toks")).as("n_tokens"),
          TA.qualityScoreT(col("text"), col("toks")).as("q"),
          TA.langIdT(col("toks")).as("lang"))
        .filter(col("q") >= 0.2 && col("lang") === "en")
      DatasetSplit.assignSplit(scored, "doc_id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
        .groupBy("split")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("sum_tokens"))
    }),

    // ------------------------------------------------- flagship: full RAG DAG
    // The whole engine in one DataFrame program over the documents table:
    // G1-G7 graph build (triplets = consecutive token triples), E1 embedding,
    // R1-R3 seed KNN, P1-P4 expansion, V1 eviction, V4 passage assembly.
    // Cross-engine checked end-to-end: oracleSql("rag_pipeline") replays the
    // ENTIRE DAG — including the hash embedder — as one DuckDB CTE chain
    // (r13; the RagPipelineGoldenSpec golden hashes additionally pin drift).
    "rag_pipeline" -> ((s, dir) => {
      import graft.functions.HashEmbedder
      // evalOnce = projection barrier: CollapseProject would otherwise inline
      // normTokens(text) into every element_at inside the transform lambda
      // (~150 regexp+split evaluations per document — measured 24.5 s vs 6 s
      // for this stage at sf0.1). r6 used a localCheckpoint here — correct,
      // but it paid a whole corpus-scale materialization JOB for what is
      // really a per-row evaluation constraint; the barrier keeps the plan
      // lazy (one materialization total: the builder's triplet rows) and
      // whole-stage codegen still fuses the projections.
      val toksC = Norm.evalOnce(Norm.normTokens(col("text")))
      // spread() kept by measurement (r7: removing it read 9.2-11.2 s vs
      // 7.8-8.7 — the 2 MB documents file scans as 1-2 splits and the whole
      // tokenize+explode+md5 chain serializes). At real scale the scan's own
      // splits make this repartition an AQE-skippable near-no-op; locally it
      // is the only source of parallelism for the chain under the checkpoint.
      val docs = spread(t(s, dir, "documents")).filter(col("n_chars") > 0)
        .select(col("doc_id").cast("string").as("id"), col("text"), toksC.as("toks"))
        .select(col("id"), col("text"),
          when(size(col("toks")) < 3, array().cast("array<struct<subject:string,predicate:string,obj:string>>"))
            .otherwise(transform(
              sequence(lit(1), size(col("toks")) - 2, lit(3)),
              i => struct(
                element_at(col("toks"), i).as("subject"),
                element_at(col("toks"), i + 1).as("predicate"),
                element_at(col("toks"), i + 2).as("obj"))))
            .as("triplets"))
      // The builder's triplet-row checkpoint is now the pipeline's ONE
      // corpus-scale materialization (docs above is a lazy, barrier-protected
      // plan): scan → tokenize-once → triplets → explode → normalize/md5 all
      // land in a single job, and both executing consumers (relations below,
      // the lazy entities inside the seed KNN) read its materialized rows.
      val gt0 = graft.operators.GraphBuilder.build(docs, HashEmbedder(dim = 32))
      // Materialize MULTI-consumer tables once: relations feeds two actions
      // (relation KNN + assembly) and entityRelation feeds the expansion's
      // hop loop — without a barrier each action recomputes the build DAG.
      // GraphRag gets this barrier for free from its parquet write; the
      // in-memory pipeline needs it explicitly. The chains share the
      // checkpointed triplet rows and are submitted CONCURRENTLY —
      // overlapping their shuffle waits (measured ~2 s at sf0.1). entities
      // stays LAZY: its only consumer is the seed KNN, whose bounded result
      // is checkpointed below — materializing the full table would be one
      // whole extra pass (embeddings included) for nothing.
      // ONE materialization over the shared triplet checkpoint: relations.
      // entityRelation is then DERIVED from the relations checkpoint by
      // exploding decomp_pairs — the builder's complete distinct set of
      // (subject_id, object_id) decompositions per text-keyed relation — so
      // the derivation is exactly the builder's entityRelation row-set
      // (modulo duplicates, which every consumer here is a semi-join against).
      // This removes the second concurrent corpus-scale checkpoint the r5
      // profile charged ~4.8 s for, and each expansion hop re-reads
      // relation-count materialized rows with no shuffle.
      val question = "the spark join order for big table scan"
      val seedNames = s.createDataFrame(
        question.split(" ").map(Tuple1(_)).toSeq).toDF("qtext")
        .select(col("qtext"), HashEmbedder(dim = 32).embed(col("qtext")).as("qvec"))
      // The two post-build checkpoints are INDEPENDENT given the triplet
      // rows — relations aggregates them, the seed KNN reads only the (lazy)
      // entities aggregate — so they are submitted CONCURRENTLY and their
      // shuffle/scheduling waits overlap (local[32] has slots to spare at
      // this width; measured ~1 s at sf0.1, same trick the r5 wiring used).
      // SubgraphExpansion.expand reads entityHits once, in its seed collect.
      val (gt, entityHits) = {
        import scala.concurrent.{Await, Future}
        import scala.concurrent.ExecutionContext.Implicits.global
        import scala.concurrent.duration.Duration
        val relF = Future(gt0.relations.localCheckpoint(true))
        val hitsF = Future(
          VectorSearch.dedupUnion(VectorSearch.thresholdFilter(
            VectorSearch.knnJoin(seedNames, gt0.entities, "qtext", "qvec", "id", "embedding", 5),
            0.5))
            .select(col("neighbor_id").as("entity_id"))
            .localCheckpoint(true))
        val r = Await.result(relF, Duration.Inf)
        val er = r.select(col("id").as("relation_id"), explode(col("decomp_pairs")).as("p"))
          .select(explode(array(
            struct(col("p.subject_id").as("entity_id"), col("relation_id"), lit("subject").as("role")),
            struct(col("p.object_id").as("entity_id"), col("relation_id"), lit("object").as("role")))).as("e"))
          .select(col("e.entity_id"), col("e.relation_id"), col("e.role"))
        (gt0.copy(relations = r, entityRelation = er), Await.result(hitsF, Duration.Inf))
      }
      val sub = SubgraphExpansion.expand(
        entityHits,
        s.emptyDataFrame.withColumn("relation_id", lit("")).filter(lit(false)),
        gt.entityRelation, degree = 1)
      val qvecDf = s.createDataFrame(Seq(Tuple1(question))).toDF("qtext")
        .select(col("qtext"), HashEmbedder(dim = 32).embed(col("qtext")).as("qvec"))
      val relHits = VectorSearch.knnJoin(
        qvecDf,
        gt.relations.join(
          broadcast(sub.relationIds.withColumnRenamed("relation_id", "id")),
          Seq("id"), "left_semi"),
        "qtext", "qvec", "id", "embedding", 5)
        .select(col("neighbor_id").as("relation_id"), col("rank").as("rel_rank"))
      graft.operators.Assembly.passagesForRelations(relHits, gt.relations, topK = 10)
    }),

    // ------------------------------------------------------------ classic bench
    "q1_pricing" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
    }),
    "q3_top_orders" -> ((s, dir) => {
      val cust = t(s, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
      val ord = t(s, dir, "orders")
      val li = t(s, dir, "lineitem")
      li.join(ord, li("l_orderkey") === ord("o_orderkey"))
        .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
        .groupBy(col("l_orderkey"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"))
        .orderBy(col("revenue").desc, col("l_orderkey").asc)
        .limit(10)
    }),
    // Q4-shaped: order-priority counts over orders having ≥1 LATE lineitem
    // (shipped > 60 days after the order date — the synthetic schema has no
    // commit/receipt dates). The EXISTS correlation becomes a LEFT SEMI join
    // — the one classic-bench join shape q1/q3/q5/q6 don't exercise — with
    // the order-date range pushed to the orders scan and the correlated
    // ship-date predicate evaluated inside the semi join.
    "q4_order_priority" -> ((s, dir) => {
      val ord = t(s, dir, "orders")
        .filter(col("o_orderdate") >= expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'") &&
          col("o_orderdate") < expr("TIMESTAMP_NTZ '1997-10-01 00:00:00'"))
      val li = t(s, dir, "lineitem").select(col("l_orderkey"), col("l_shipdate"))
      ord.join(li,
          ord("o_orderkey") === li("l_orderkey") &&
            li("l_shipdate") > ord("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
    }),
    // Q6-shaped: selective scan with timestamp + numeric predicates, all pushed
    // to the parquet reader (PushedFilters on l_shipdate/l_discount/l_quantity).
    "q6_date_filter" -> ((s, dir) => {
      t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP_NTZ '1998-01-01 00:00:00'") &&
          col("l_discount") >= 0.02 && col("l_discount") <= 0.06 &&
          col("l_quantity") < 24)
        .agg(round(sum(col("l_extendedprice") * col("l_discount")), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    // Q5-shaped: revenue by supplier nation (broadcast dimension chain).
    "q5_nation_volume" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
      val sup = t(s, dir, "supplier")
      val nat = t(s, dir, "nation")
      val reg = t(s, dir, "region")
      li.join(broadcast(sup), li("l_suppkey") === sup("s_suppkey"))
        .join(broadcast(nat), sup("s_nationkey") === nat("n_nationkey"))
        .join(broadcast(reg), nat("n_regionkey") === reg("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    // Q7-shaped volume shipping: bidirectional trade flow between two
    // nations by ship year. The nation filter is pushed INTO the dimension
    // build (supplier/customer joined to the 2-row nation slice FIRST), so
    // the broadcast into the fact scan prunes lineitem to the ~8% of rows
    // with a qualifying supplier before the orders fact-fact join — the
    // dimension-filter-pushdown shape that matters at 100 TB, where
    // filtering after the fact joins would shuffle the whole table.
    "q7_volume" -> ((s, dir) => {
      val nat2 = t(s, dir, "nation")
        .filter(col("n_name").isin("NATION_1", "NATION_2"))
      val sup2 = t(s, dir, "supplier")
        .join(broadcast(nat2.select(col("n_nationkey").as("snk"),
          col("n_name").as("supp_nation"))), col("s_nationkey") === col("snk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val cust2 = t(s, dir, "customer")
        .join(broadcast(nat2.select(col("n_nationkey").as("cnk"),
          col("n_name").as("cust_nation"))), col("c_nationkey") === col("cnk"))
        .select(col("c_custkey"), col("cust_nation"))
      val li = t(s, dir, "lineitem")
        .filter(col("l_shipdate") >= expr("TIMESTAMP_NTZ '1995-01-01 00:00:00'") &&
          col("l_shipdate") < expr("TIMESTAMP_NTZ '1997-01-01 00:00:00'"))
      li.join(broadcast(sup2), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(cust2), col("o_custkey") === col("c_custkey"))
        .filter(col("supp_nation") =!= col("cust_nation"))
        .groupBy(col("supp_nation"), col("cust_nation"),
          year(col("l_shipdate")).as("l_year"))
        .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
          count(lit(1)).as("n_items"))
    }),
    // Q8 national market share (r15): NATION_6's share of ECONOMY-part
    // volume sold into AMERICA, per order year — the 7-table classic.
    // Dimension chains (region→nation→customer keys, supplier→nation
    // names) broadcast; the one genuine shuffle is lineitem⋈orders on
    // orderkey. Numerator and denominator published as separate rounded
    // revenues (q7's proven float convention) rather than a fragile
    // rounded ratio.
    "q8_market_share" -> ((s, dir) => {
      val americaKeys = t(s, dir, "nation")
        .join(broadcast(t(s, dir, "region")
          .filter(col("r_name") === "AMERICA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey").as("cnk"))
      val cust = t(s, dir, "customer")
        .join(broadcast(americaKeys), col("c_nationkey") === col("cnk"))
        .select(col("c_custkey"))
      val supN = t(s, dir, "supplier")
        .join(broadcast(t(s, dir, "nation")
          .select(col("n_nationkey").as("snk"), col("n_name").as("supp_nation"))),
          col("s_nationkey") === col("snk"))
        .select(col("s_suppkey"), col("supp_nation"))
      val eco = t(s, dir, "part").filter(col("p_type") === "ECONOMY")
        .select(col("p_partkey"))
      t(s, dir, "lineitem")
        .join(eco, col("l_partkey") === col("p_partkey"))
        .join(broadcast(supN), col("l_suppkey") === col("s_suppkey"))
        .join(t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate")),
          col("l_orderkey") === col("o_orderkey"))
        .join(cust, col("o_custkey") === col("c_custkey"))
        .withColumn("volume",
          col("l_extendedprice") * (lit(1) - col("l_discount")))
        .groupBy(year(col("o_orderdate")).as("o_year"))
        .agg(
          round(sum(when(col("supp_nation") === "NATION_6", col("volume"))
            .otherwise(lit(0.0))), 2).as("nation_revenue"),
          round(sum(col("volume")), 2).as("total_revenue"),
          count(lit(1)).as("n_items"))
    }),

    // ------------------------------------------------------- round-10 additions
    // G22 neighbor-overlap link prediction beside g15's Adamic-Adar: Jaccard
    // normalizes by BOTH endpoint degrees, ranking tail-entity pairs that
    // share most of their few neighbors above hub pairs — top-50 by
    // (rounded) jaccard, pair-asc ties. Same capped-wedge spine as g15.
    "g22_jaccard_linkpred" -> ((s, dir) => {
      LinkPrediction.neighborOverlap(coEdges(s, dir, minGroups = 2), maxHubDegree = 64)
        .select(col("src"), col("dst"), col("common"),
          round(col("jaccard"), 6).as("jaccard_r"))
        .orderBy(col("jaccard_r").desc, col("src").asc, col("dst").asc)
        .limit(50)
    }),
    // M8 ROC AUC of the m6 scorer (stopword ratio as an is-English detector)
    // — the threshold-free grade of the scorer itself, via the rank-sum
    // identity over score-collapsed rows. See eval.Recall.aucRoc.
    // M10 calibration bins (reliability diagram) for the same scorer m8
    // grades by rank: is the stopword-ratio honest as P(english)? Per-bin
    // exact counts + two single-division ratios; ECE derives from the rows.
    // See Recall.calibrationBins.
    // M11 ROUGE-2 of each document's first-20-word "summary" against its
    // full text — the content-survival read for any pipeline stage that
    // REWRITES text (markup extraction, span removal): clipped bigram
    // precision/recall/F1, document-sized joins only. See Recall.rougeN.
    "m11_rouge2" -> ((s, dir) => {
      val pairs = t(s, dir, "documents")
        .select(col("doc_id"),
          array_join(slice(Norm.normTokens(col("text")), 1, 20), " ").as("cand"),
          col("text").as("ref"))
      graft.eval.Recall.rougeN(pairs, "doc_id", "cand", "ref", n = 2)
        .select(col("id").as("doc_id"), col("n_cand"), col("n_ref"), col("overlap"),
          round(col("precision"), 6).as("precision_r"),
          round(col("recall"), 6).as("recall_r"),
          round(col("f1"), 6).as("f1_r"))
    }),
    "m10_calibration" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .select((col("lang") === "en").cast("int").as("y"),
          TA.stopwordRatioT(Norm.normTokens(col("text"))).as("score"))
      graft.eval.Recall.calibrationBins(scored, "score", "y", bins = 10)
        .select(col("bin"), col("n"), col("n_pos"),
          round(col("avg_score"), 6).as("avg_score_r"),
          round(col("pos_rate"), 6).as("pos_rate_r"))
    }),
    "m8_auc" -> ((s, dir) => {
      val scored = t(s, dir, "documents")
        .select((col("lang") === "en").cast("int").as("y"),
          TA.stopwordRatioT(Norm.normTokens(col("text"))).as("score"))
      graft.eval.Recall.aucRoc(scored, "score", "y")
        .select(col("n"), col("n_pos"), col("n_neg"), round(col("auc"), 6).as("auc_r"))
    }),
    // EV5 volume-anomaly days: per event type, days whose count z-scores
    // ≥ 2 against the type's own daily history. See EventAnalytics.anomalousDays.
    "ev5_anomaly_days" -> ((s, dir) => {
      EventAnalytics.anomalousDays(t(s, dir, "events"), "event_type", "ts", z = 2.0)
    }),
    // EV6 first-order Markov transitions over per-user event sequences:
    // P(next | current), deterministic (ts, event_id) ordering. See
    // EventAnalytics.transitions.
    "ev6_transitions" -> ((s, dir) => {
      EventAnalytics.transitions(t(s, dir, "events"), "user_id", "ts",
        "event_type", "event_id")
    }),
    // T6 sentence segmentation (RE2-compatible marker split — no lookbehind,
    // so the oracle's regex engine reproduces it byte-for-byte). doc_id
    // restored to BIGINT per the t1 type contract.
    "t6_sentences" -> ((s, dir) => {
      Chunker.splitSentences(t(s, dir, "documents"), "doc_id", "text")
        .select(col("id").cast("long").as("doc_id"),
          col("sent_idx").cast("long").as("sent_idx"), col("sentence"), col("n_chars"))
    }),
    // B8 boolean retrieval (customer AND order AND NOT vector) over the
    // shared lexTokens postings — set algebra on posting lists, the exact-
    // match complement to the ranked b1/b4/tf1 trio. See BooleanRetrieval.
    "b8_boolean_retrieval" -> ((s, dir) => {
      BooleanRetrieval.retrieve(lexTokens(s, dir), "doc_id", "term",
        must = Seq("customer", "order"), mustNot = Seq("vector"))
        .select(col("id").as("doc_id"))
    }),
    // D17 banding-quality measurement: the d2 LSH candidates graded against
    // the d4 exact-Jaccard(≥0.5) truth pairs — precision/recall/F1 in one
    // pair-list-sized join, the read that tunes (bands × rows) before a
    // corpus-scale dedup run. See Dedup.pairQuality.
    "d17_pair_quality" -> ((s, dir) => {
      // ONE shared shingle explode feeds BOTH the approximate side (via the
      // shared signatures) and the exact side (Jaccard) — the corpus-scale
      // cost here IS the explode, identical across the two pair families
      // being compared, and since r12 it is the family-wide docShingles3.
      val cand = lshPairs(s, dir)
      val truth = Dedup.ngramJaccardPairsFromShingles(docShingles3(s, dir),
        minJaccard = 0.5, maxShingleFreq = 1000000L).select("id_a", "id_b")
      Dedup.pairQuality(cand, truth)
        // "precision" is a type keyword in ANSI engines; _r suffixes keep the
        // twin SQL unquoted (and mark the rounded ratios, the house style).
        .select(col("n_cand"), col("n_truth"), col("tp"),
          col("precision").as("precision_r"), col("recall").as("recall_r"),
          col("f1").as("f1_r"))
    }),
    // X31 Flesch Reading Ease from the engine's own segmentation surrogates
    // (t6 sentence rule, normTokens words, vowel-group syllables) — all
    // exact integer counts into one engine-exact double formula; word-less
    // docs yield NULL, never a fake score. See TextAnalysis.fleschReadingEase.
    "x31_readability" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(col("doc_id"), col("text"),
          Norm.normPhrase(col("text")).as("norm"),
          Norm.normTokens(col("text")).as("toks"))
        .select(col("doc_id"),
          TA.sentenceCount(col("text")).as("n_sents"),
          TA.tokenCountT(col("toks")).as("n_words"),
          TA.syllableCountNorm(col("norm")).as("n_sylls"))
        .withColumn("flesch_r",
          round(TA.fleschReadingEase(col("n_sents"), col("n_words"), col("n_sylls")), 6))
    }),
    // EV7 exponentially time-decayed event counts (half-life 1 day from the
    // stream's max ts) — the "trending now" ranking read. See
    // EventAnalytics.decayedCounts.
    "ev7_decayed_counts" -> ((s, dir) => {
      EventAnalytics.decayedCounts(t(s, dir, "events"), "event_type", "ts",
          halfLifeDays = 1.0)
        .select(col("event_type"), col("n_events"),
          round(col("decayed"), 6).as("decayed_r"))
    }),
    // X37 URL canonicalization: the pre-dedup normalization every web
    // corpus runs (case, www, default ports, dup slashes, trailing slash,
    // fragments, tracking params, param order) + the registrable domain
    // (ccSLD-aware). URLs built in-query in three deterministic messy
    // shapes so every normalization arm is exercised. See
    // functions.UrlOps.
    "x37_url_canonicalize" -> ((s, dir) => {
      val docs = t(s, dir, "documents").select(col("doc_id"))
      // Seven crawl shapes (r13 added 3-6): canonical-with-noise, default
      // port, non-default port, scheme-less with www+ccSLD, protocol-
      // relative, opaque mailto (pass-through), malformed port (pass-through).
      // Host digit is doc_id % 11 — coprime with the 7-way shape selector,
      // so every shape cycles through 11 distinct hosts instead of one
      // (r13's % 7 digit was constant within each branch).
      val url = when(col("doc_id") % 7 === 0,
          concat(lit("HTTPS://WWW.Site"), (col("doc_id") % 11).cast("string"),
            lit(".CO.UK:443/a//b/"), (col("doc_id") % 5).cast("string"),
            lit("/?utm_source=feed&z=2&a=1#sec")))
        .when(col("doc_id") % 7 === 1,
          concat(lit("http://site"), (col("doc_id") % 11).cast("string"),
            lit(".com:80/p/"), col("doc_id").cast("string")))
        .when(col("doc_id") % 7 === 2,
          concat(lit("https://News.example"),
            (col("doc_id") % 11).cast("string"), lit(".com:8443/x/"),
            (col("doc_id") % 5).cast("string"), lit("/")))
        .when(col("doc_id") % 7 === 3,
          concat(lit("www.bare"), (col("doc_id") % 11).cast("string"),
            lit(".co.uk/p//"), (col("doc_id") % 5).cast("string"),
            lit("?b=2&utm_campaign=x")))
        .when(col("doc_id") % 7 === 4,
          concat(lit("//cdn.example"), (col("doc_id") % 11).cast("string"),
            lit(".com/lib/"), (col("doc_id") % 5).cast("string"), lit(".js")))
        .when(col("doc_id") % 7 === 5,
          concat(lit("mailto:user"), (col("doc_id") % 5).cast("string"),
            lit("@example"), (col("doc_id") % 11).cast("string"), lit(".com")))
        .otherwise(concat(lit("http://broken"),
          (col("doc_id") % 11).cast("string"), lit(".com:8o80/x/"),
          (col("doc_id") % 5).cast("string")))
      docs.withColumn("url", url)
        .select(col("doc_id"), col("url"),
          graft.functions.UrlOps.canonicalizeUrl(col("url")).as("canon_url"),
          graft.functions.UrlOps.registeredDomain(
            graft.functions.UrlOps.hostOf(col("url"))).as("domain"))
    }),
    // X38 per-domain cap over x37's domains (the C4 "max N pages per
    // domain" rule): keep 10 per domain ranked by (md5(id), id) — a random
    // but stable sample, unchanged by repartition/re-run. See
    // CorpusOps.capPerKey.
    "x38_domain_cap" -> ((s, dir) => {
      val withDomain = queries("x37_url_canonicalize")(s, dir)
        .select(col("doc_id"), col("domain"))
      CorpusOps.capPerKey(withDomain, "domain", "doc_id", maxPerKey = 10)
        .select(col("domain"), col("doc_id"))
    }),
    // X39 TextRank keywords (r13): per-document PageRank over the window-2
    // word co-occurrence graph, 2 unrolled iterations, top-5 — the
    // unsupervised topic-tag read. All (doc, word)-keyed equi-joins and
    // ordered float folds; score_u = floor(score·1e6) because TextRank
    // scores land exactly on .5 rounding boundaries where the two engines'
    // round() disagree (see TextRank scaladoc). See operators.TextRank.
    "x39_textrank" -> ((s, dir) => {
      // spread(): the r19 array-level TextRank is ZERO-exchange after the
      // scan, so the scan's split count is the query's entire parallelism —
      // locally the single-file documents table is 1 split (the rag
      // spread() rationale; at real scale the scan's own splits make this
      // an AQE-skippable near-no-op)
      graft.operators.TextRank.keywords(
        spread(t(s, dir, "documents")), "doc_id", "text", topK = 5, iterations = 2)
        .select(col("doc_id"), col("rank"), col("keyword"),
          floor(col("score") * lit(1e6)).cast("long").as("score_u"))
    }),
    // PIPE3 topic-labeled dedup clusters (r14): x39's consumer — exact-dedup
    // clusters get their REPRESENTATIVE's rank-1 TextRank keyword as the
    // cluster topic label (the curation read: which topics is the corpus
    // duplicating?). TextRank runs on cluster reps ONLY (a left-semi join
    // before the per-doc graph work — at 30% dup rate that is 30% less of
    // the pipeline's most expensive stage); clusters whose rep yields no
    // keyword (empty/single-token docs) land in '(none)', never dropped.
    "pipe3_topic_dedup" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.exact(docs, "doc_id", "text")
        .select(col("keep_id"), col("n_dups"))
      val reps = docs.join(clusters.select(col("keep_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      // spread(): same rationale as x39 — the array-level TextRank has no
      // exchange of its own, and the semi-join output inherits the 1-split
      // scan's parallelism
      val kw = graft.operators.TextRank.keywords(
          spread(reps), "doc_id", "text", topK = 1, iterations = 2)
        .select(col("doc_id").as("keep_id"), col("keyword"))
      clusters.join(kw, Seq("keep_id"), "left")
        .groupBy(coalesce(col("keyword"), lit("(none)")).as("topic"))
        .agg(count(lit(1)).as("n_clusters"), sum(col("n_dups")).as("n_docs"))
    }),
    // PIPE4 CDC decontamination end-to-end (r17): the nightly path a 100 TB
    // pipeline actually runs, pinned as ONE row — diff two eval-set versions
    // (s11 snapshotDiff: (id, md5) pairs only), maintain the counting-Bloom
    // membership sketch FROM the delta (s12 maintain: delta-sized work, no
    // rebuild over the surviving eval set), then re-decontaminate the corpus
    // through the maintained sketch (antiJoin: sketch-clean rows pass, hits
    // exact-confirmed). The oracle is the PLAIN two-version left-anti — the
    // composition's output is provably independent of m/h/fpp, which is the
    // x20 adjudication this row inherits. Eval-set CDC: v1 = every 9th doc;
    // v2 drops every 27th of those and adds every 31st non-eval doc.
    "pipe4_cdc_decontam" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val v1 = docs.filter(col("doc_id") % 9 === 0)
      val v2 = docs.filter(
        (col("doc_id") % 9 === 0 && col("doc_id") % 27 =!= 0) ||
          (col("doc_id") % 9 =!= 0 && col("doc_id") % 31 === 0))
      val diff = CorpusOps.snapshotDiff(v1, v2, "doc_id", Seq("text"))
        .localCheckpoint(true) // read twice: adds + removes
      val added = diff.filter(col("change") === "added").select("doc_id")
      val removed = diff.filter(col("change") === "removed").select("doc_id")
      val state = CountingBloom.maintain(
        CountingBloom.counters(v1.select("doc_id"), "doc_id", m = 1 << 14),
        added, removed, "doc_id")
      CountingBloom.antiJoin(docs.select("doc_id", "lang"), "doc_id",
        state, v2.select("doc_id"), "doc_id")
    }),
    // X40 PSL registrable domains (r14): functions.Psl over eight in-query
    // host shapes exercising every rule family — plain gTLD, ccSLD,
    // private suffix (github.io), wildcard (*.ck at depth 4), exception
    // (!www.ck under a subdomain), wildcard+exception (city.kawasaki.jp),
    // unknown TLD (implicit '*'), and a bare public suffix (NULL). Host
    // digit = doc_id % 9, coprime with the 8-way selector. The oracle
    // replays the prevailing-rule algorithm (exception > most labels >
    // implicit '*') against the SAME snapshot rules inlined as VALUES —
    // one source of truth, no drift. See functions.Psl.
    "x40_psl_domain" -> ((s, dir) => {
      val d9 = (col("doc_id") % 9).cast("string")
      val host = when(col("doc_id") % 8 === 0,
          concat(lit("sub"), d9, lit(".example"), d9, lit(".com")))
        .when(col("doc_id") % 8 === 1,
          concat(lit("shop"), d9, lit(".brand"), d9, lit(".co.uk")))
        .when(col("doc_id") % 8 === 2,
          concat(lit("user"), d9, lit(".github.io")))
        .when(col("doc_id") % 8 === 3,
          concat(lit("a"), d9, lit(".foo"), d9, lit(".bar"), d9, lit(".ck")))
        .when(col("doc_id") % 8 === 4,
          concat(lit("sub"), d9, lit(".www.ck")))
        .when(col("doc_id") % 8 === 5,
          concat(lit("x"), d9, lit(".city.kawasaki.jp")))
        .when(col("doc_id") % 8 === 6,
          concat(lit("a"), d9, lit(".example"), d9, lit(".zz"), d9))
        .otherwise(lit("co.uk"))
      graft.functions.Psl.registeredDomain(
        t(s, dir, "documents").select(col("doc_id")).withColumn("host", host),
        "host",
        graft.functions.Psl.rulesDf(s, graft.functions.Psl.snapshotRules()),
        "psl_domain")
    }),
    // EV8 last-touch conversion attribution (3-day window): purchases
    // credited to the last preceding click/view per user, organic bucket
    // kept; revenue summed in exact integer cents. One user-partitioned
    // window pass — the 100 TB clickstream shape. See
    // EventAnalytics.lastTouchAttribution.
    "ev8_attribution" -> ((s, dir) => {
      EventAnalytics.lastTouchAttribution(t(s, dir, "events"),
          "user_id", "ts", "event_type", "event_id", "value",
          touchTypes = Seq("click", "view"), convType = "purchase",
          windowNs = 3L * 86400L * 1000000000L)
        .groupBy(coalesce(col("touch_type"), lit("none")).as("touch_type"))
        .agg(count(lit(1)).as("n_conversions"),
          sum(round(col("value") * 100).cast("long")).as("revenue_cents"))
    }),
    // M9 percentile-bootstrap CI for the m1 macro recall — hash-deterministic
    // resampling (md5(r‖j) mod n), so both engines draw the identical
    // multiset. See eval.Recall.bootstrapCi.
    "m9_bootstrap_ci" -> ((s, dir) => {
      val perQ = queries("m1_recall")(s, dir)
      graft.eval.Recall.bootstrapCi(perQ, "query_id", "recall_at_5", reps = 200)
    }),
    // M12 paired sign-flip permutation test: does truncating embeddings to
    // an 8-dim matryoshka prefix SIGNIFICANTLY hurt label-recall@5, or is
    // the per-question delta coin-flip noise? Integer hit counts (not /5
    // recalls) keep every permuted sum float-exact on both engines. See
    // eval.Recall.pairedPermTest.
    "m12_perm_test" -> ((s, dir) => {
      val emb = t(s, dir, "embeddings")
      val q = emb.filter(col("vec_id") < 20)
      val c = emb.filter(col("vec_id") >= 20)
      val qLab = q.select(col("vec_id").cast("string").as("query_id"),
        col("label").as("q_label"))
      val cLab = c.select(col("vec_id").cast("string").as("neighbor_id"),
        col("label").as("n_label"))
      def hitsOf(qv: DataFrame, cv: DataFrame, vecCol: String, out: String) =
        VectorSearch.knnJoin(qv, cv, "vec_id", vecCol, "vec_id", vecCol, 5)
          .join(qLab, Seq("query_id")).join(cLab, Seq("neighbor_id"))
          .groupBy("query_id")
          .agg(sum(when(col("q_label") === col("n_label"), 1).otherwise(0)).as(out))
      val full = hitsOf(q, c, "embedding", "hits_full")
      val trunc = hitsOf(
        q.withColumn("pfx", slice(col("embedding"), 1, 8)),
        c.withColumn("pfx", slice(col("embedding"), 1, 8)), "pfx", "hits_trunc")
      graft.eval.Recall.pairedPermTest(full.join(trunc, Seq("query_id")),
        "query_id", "hits_full", "hits_trunc", reps = 200)
    }),
    // X32 signal-redundancy matrix: pairwise Pearson correlations of three
    // quality signals in ONE corpus pass (k²/2 built-in corr calls would
    // rescan per pair). See CorpusOps.pearsonMatrix.
    "x32_signal_corr" -> ((s, dir) => {
      val sig = t(s, dir, "documents")
        .select(col("text"), Norm.normTokens(col("text")).as("toks"))
        .select(
          TA.tokenCountT(col("toks")).cast("double").as("n_tokens"),
          TA.punctRatio(col("text")).as("punct_ratio"),
          TA.stopwordRatioT(col("toks")).as("stopword_ratio"))
      CorpusOps.pearsonMatrix(sig, Seq("n_tokens", "punct_ratio", "stopword_ratio"))
        .select(col("sig_a"), col("sig_b"), round(col("corr"), 6).as("corr_r"))
    }),
    // ER3 survivorship: canonical metadata per d8 dedup cluster — modal
    // non-null value per attribute, ties to min. See CorpusOps.survivorship.
    "er3_survivorship" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val clusters = Dedup.connectedComponents(lshPairs(s, dir))
      val members = docs.join(
        clusters.select(col("id").as("doc_id"), col("rep_id")), Seq("doc_id"))
      CorpusOps.survivorship(members, "rep_id", "doc_id", Seq("lang", "source"))
        .select(col("cluster").as("rep_id"), col("n_members"),
          col("lang"), col("source"))
    }),
    // G23 per-community conductance over the g13 communities — the boundary
    // leakiness grade (g19 scores the partition, this scores EACH cluster).
    // See LabelPropagation.conductance.
    "g23_conductance" -> ((s, dir) => {
      val edges = coEdges(s, dir, minGroups = 2)
      LabelPropagation.conductance(coLabels(s, dir), edges)
        .select(col("community"), col("n_nodes"), col("volume"), col("cut_edges"),
          round(col("conductance"), 6).as("conductance_r"))
    }),
    // CS9 Zipf rank-frequency fit over the shared lexical postings: OLS
    // slope of ln(count) on ln(rank) + R² — natural text sits near −1;
    // shallower = boilerplate-heavy, steeper = a few tokens dominating.
    // See CorpusOps.zipfFit.
    "cs9_zipf_fit" -> ((s, dir) => {
      CorpusOps.zipfFit(lexTokens(s, dir), "term")
        .select(col("n_terms"), round(col("slope"), 6).as("slope_r"),
          round(col("intercept"), 6).as("intercept_r"),
          round(col("r2"), 6).as("r2_r"))
    }),
    // CS8 token-mass weighted length quantiles: "half the corpus's TOKENS
    // live in documents shorter than …" — the packing/budget planning read
    // cs1's unweighted percentiles get wrong whenever a few giant docs carry
    // most of the mass. See CorpusOps.weightedQuantiles.
    "cs8_weighted_quantiles" -> ((s, dir) => {
      val sig = t(s, dir, "documents")
        .select(col("n_chars").as("len"),
          TA.tokenCountT(Norm.normTokens(col("text"))).cast("long").as("toks"))
      CorpusOps.weightedQuantiles(sig, "len", "toks", Seq(0.25, 0.5, 0.9))
        .select(col("q"), col("value").as("len_at_mass"))
    }),
    // D18 the same exact-Jaccard(≥0.5) pairs as d4 through the PREFIX-
    // FILTERED join (SSJoin/PPJoin): the corpus-wide self-join touches only
    // each document's rarest prefix tokens; hot-shingle skew is structurally
    // absent. Same oracle as d4 — two algorithms, one answer. See
    // Dedup.prefixFilteredJaccardPairs.
    "d18_prefix_jaccard" -> ((s, dir) => {
      Dedup.prefixFilteredJaccardPairs(docShingles3(s, dir), minJaccard = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard_r"))
    }),
    // G24 degree assortativity (Newman 2002): Pearson correlation of
    // (deg(u), deg(v)) over every directed edge — one scalar that says
    // whether hubs link to hubs (assortative, > 0) or to leaves
    // (disassortative, < 0): the shape read that predicts whether the
    // P4 expansion loop's frontier explodes through hub-hub chains.
    // Composes the x32 moment kernel over a broadcast degree join.
    "g24_assortativity" -> ((s, dir) => {
      val edges = coEdges(s, dir, minGroups = 2)
      val deg = edges.groupBy(col("src").as("id")).agg(count(lit(1)).as("_d"))
      val degB = broadcast(deg)
      val pairs = edges
        .join(degB.select(col("id").as("src"), col("_d").as("du")), Seq("src"))
        .join(degB.select(col("id").as("dst"), col("_d").as("dv")), Seq("dst"))
        .select(col("du").cast("double").as("du"), col("dv").cast("double").as("dv"))
      CorpusOps.pearsonMatrix(pairs, Seq("du", "dv"))
        .select(round(col("corr"), 6).as("assortativity_r"))
        .crossJoin(edges.agg(count(lit(1)).as("n_directed_edges")))
        .select(col("n_directed_edges"), col("assortativity_r"))
    }),
    // X33 dedup threshold curve: pair and document counts at six Jaccard
    // cut points from ONE exact-pair scan (the m6 sweep convention) — the
    // data that picks a near-dup threshold BEFORE committing a corpus run.
    "x33_dup_threshold_curve" -> ((s, dir) => {
      val pairs = Dedup.ngramJaccardPairsFromShingles(docShingles3(s, dir),
          minJaccard = 0.3, maxShingleFreq = 1000000L)
        .localCheckpoint(true) // read once per threshold branch
      val th = s.createDataFrame(
        Seq(0.3, 0.4, 0.5, 0.6, 0.7, 0.8).map(Tuple1(_))).toDF("threshold")
      pairs.crossJoin(broadcast(th))
        .filter(col("jaccard") >= col("threshold"))
        .select(col("threshold"), col("id_a"), col("id_b"))
        .select(col("threshold"), explode(array(col("id_a"), col("id_b"))).as("id"),
          col("id_a"), col("id_b"))
        .groupBy("threshold")
        .agg((count(lit(1)) / 2).cast("long").as("n_pairs"),
          countDistinct(col("id")).as("n_docs_involved"))
    }),
    // MM3 perceptual average-hash for image dedup: real decode is probed
    // (and fails over the synthetic text-byte payloads — exercising the
    // probe), the byte-grid fallback hashes deterministically; real-pixel
    // hashing is golden-pinned in MultimodalSpec (PNG ≡ BMP). The 64-bit
    // hash ships as unsigned halves for the cross-engine compare. See
    // Multimodal.imageAHash.
    "mm3_image_ahash" -> ((s, dir) => {
      // ASCII pin: the byte-grid fallback hashes UTF-8 PAYLOAD BYTES while
      // the oracle replays it over character codes — identical only when
      // char ≡ byte, so both engines filter to ASCII texts (octet_length =
      // char length) and the twin is exact by construction for ANY corpus,
      // not just the incidentally-ASCII synthetic one. Magic pin (r18): real
      // image decode is gated on a CLOSED magic list
      // (Multimodal.ImageMagicBytes), and the magics whose bytes can appear
      // in 1-byte-per-char text — "BM" (BMP), "GIF8" (GIF), "II*\0"/"MM\0*"
      // (TIFF; NUL is one byte, so octet_length = length admits it) — are
      // excluded on both sides via their printable prefixes (II*/MM are
      // slightly overbroad, which is harmless: symmetric filters only need
      // to agree, not be minimal). A text opening with one could otherwise
      // really decode (decoded=true) and silently diverge from the oracle's
      // hardcoded fallback arm; the gate + exclusion make decoded=false a
      // construction, not a corpus accident. PNG/JPEG magics start with
      // bytes > 0x7F, unreachable under the ASCII pin.
      val assets = Multimodal.toAssets(
        t(s, dir, "documents").filter(col("n_chars") > 0)
          .filter(octet_length(col("text")) === length(col("text")))
          .filter(!(col("text").startsWith("BM") || col("text").startsWith("GIF8") ||
            col("text").startsWith("II*") || col("text").startsWith("MM"))),
        "doc_id", "text", "image")
      Multimodal.imageAHash(assets)
        .select(col("asset_id"), col("decoded"),
          col("ahash").bitwiseAND(lit(0xFFFFFFFFL)).as("ahash_lo"),
          shiftrightunsigned(col("ahash"), 32).as("ahash_hi"))
    }),
    // MM4 perceptual audio fingerprint (r17): sign-of-delta frame energy
    // over the decoded mono PCM (chromaprint-shaped, gain-invariant — a
    // volume-shifted/re-quantized copy pairs with its original at small
    // Hamming distance, MultimodalSpec pins it on WAV fixtures). Real decode
    // is probed and fails over the synthetic text-byte payloads — the
    // byte-grid energy fallback runs, which the oracle replays over
    // character codes (the mm3 ASCII pin). Magic pin (r18): real decode is
    // gated on the 4-byte container magic (Multimodal.AudioMagics — all
    // three are printable ASCII), and texts opening with one are excluded
    // on BOTH sides, so decoded=false is a construction (a ".snd"-prefixed
    // text can never flip the decode arm and drift from the twin), not a
    // corpus accident. Pairing downstream reuses the e8/mm3 XOR+popcount
    // machinery. See Multimodal.audioFingerprint.
    "mm4_audio_fingerprint" -> ((s, dir) => {
      val assets = Multimodal.toAssets(
        t(s, dir, "documents").filter(col("n_chars") > 0)
          .filter(octet_length(col("text")) === length(col("text")))
          .filter(!substring(col("text"), 1, 4).isin("RIFF", ".snd", "FORM")),
        "doc_id", "text", "audio")
      Multimodal.audioFingerprint(assets)
        .select(col("asset_id"), col("decoded"),
          col("fp").bitwiseAND(lit(0xFFFFFFFFL)).as("fp_lo"),
          shiftrightunsigned(col("fp"), 32).as("fp_hi"))
    }),
    // NB1 multinomial Naive Bayes model (r15): the trained lang classifier
    // as integer counts — one map-combined aggregation over exploded
    // (label, token) rows; board row is the top-5 tokens per label. See
    // operators.NaiveBayes.
    "nb1_nb_model" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("toks", Norm.normTokens(col("text")))
      val m = NaiveBayes.model(
        docs.filter(col("doc_id") % 5 =!= 0), "lang", "toks")
      val w = Window.partitionBy(col("label"))
        .orderBy(col("cnt").desc, col("token").asc)
      m.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 5)
        .select(col("label"), col("token"), col("cnt"),
          col("label_tokens"), col("vocab"), col("rnk"))
    }),
    // NB2 Naive Bayes prediction (r15): 80/20 doc_id-hash split, classify
    // the held-out fifth on its first-40-token prefix. Scores are ordered
    // products of exact divisions — bit-identical across engines (the SQL
    // twin folds with product(term ORDER BY pos)); output is all-integer/
    // string. Measured accuracy is published in Round15OpsSpec, honestly:
    // the synthetic langs share one vocabulary, so the classifier has only
    // mild frequency signal to work with. See operators.NaiveBayes.predict.
    "nb2_nb_predict" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
        .withColumn("toks", Norm.normTokens(col("text")))
      val test = docs.filter(col("doc_id") % 5 === 0)
      NaiveBayes.predict(docs.filter(col("doc_id") % 5 =!= 0), test,
          "lang", "toks", "doc_id", maxTokens = 40)
        .join(test.select(col("doc_id").as("id"), col("lang").as("actual")),
          Seq("id"))
        .select(col("id").as("doc_id"), col("actual"), col("pred"),
          when(col("pred") === col("actual"), 1L).otherwise(0L).as("correct"))
    }),
    // NB3 confusion matrix (r15): nb2's consumer — per (actual, pred) cell
    // counts, the eval artifact a classifier gate publishes.
    "nb3_confusion" -> ((s, dir) => {
      queries("nb2_nb_predict")(s, dir)
        .groupBy(col("actual"), col("pred")).agg(count(lit(1)).as("n"))
    }),
    // BT1 Bradley-Terry preference strengths (r15): pairwise wins derived
    // from the order log (within each order, the larger-quantity line's
    // brand beats the smaller's), reduced ONCE to a 25x25 win matrix, then
    // 3 MM rounds with j-ordered float folds — strengths bit-identical to
    // the SQL twin's unrolled CTEs; board row projects floor(p*1e6) and
    // ranks by the RAW double (r13 convention). See
    // operators.Preference.bradleyTerry.
    "bt1_bradley_terry" -> ((s, dir) => {
      val li = t(s, dir, "lineitem")
        .join(t(s, dir, "part").select(col("p_partkey"), col("p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("k"), col("l_linenumber").as("ln"),
          col("p_brand").as("b"), col("l_quantity").as("q"))
      val lA = li.select(col("k"), col("ln").as("ln_a"),
        col("b").as("b_a"), col("q").as("q_a"))
      val lB = li.select(col("k"), col("ln").as("ln_b"),
        col("b").as("b_b"), col("q").as("q_b"))
      val wins = lA.join(lB, Seq("k"))
        .filter(col("ln_a") < col("ln_b") && col("q_a") =!= col("q_b") &&
          col("b_a") =!= col("b_b"))
        .select(
          when(col("q_a") > col("q_b"), col("b_a")).otherwise(col("b_b"))
            .as("win"),
          when(col("q_a") > col("q_b"), col("b_b")).otherwise(col("b_a"))
            .as("lose"))
        .groupBy("win", "lose").agg(count(lit(1)).as("n"))
      Preference.bradleyTerry(wins, "win", "lose", "n", iters = 3)
        .select(col("item").as("brand"), col("w").as("wins"),
          floor(col("strength") * lit(1e6)).cast("long").as("strength_micro"),
          row_number().over(Window.orderBy(col("strength").desc,
            col("item").asc)).cast("long").as("rnk"))
    }),
    // BF1 bloom-prefiltered semi-join (r15): output-identical to the plain
    // left-semi join (the oracle), with the probe side pruned by a
    // broadcast Bloom sketch BEFORE its shuffle — the shuffle-bytes cut for
    // key sides too big to broadcast exactly. ~2%-selective key set here;
    // pass-rate measured in Round15OpsSpec. See operators.BloomJoin.
    "bf1_bloom_semijoin" -> ((s, dir) => {
      val keys = t(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT" &&
          col("o_custkey") % 10 === 0)
        .select(col("o_orderkey"))
      BloomJoin.semiJoin(t(s, dir, "lineitem"), keys,
          "l_orderkey", "o_orderkey",
          expectedKeys = math.max(1024L, keys.count()), fpp = 0.01)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n_rows"),
          sum(col("l_quantity").cast("long")).as("sum_qty"))
    }),
    // PV4 randomized response (r15): local-DP count of users with >= 1
    // purchase — bit flipped at p=1/4 (ε = ln 3) via the house md5 draw so
    // the twin replays the MECHANISM, debiased estimate as an exact BIGINT
    // rational beside the true count. See Privacy.randomizedResponse.
    "pv4_randomized_response" -> ((s, dir) => {
      val bits = t(s, dir, "events").groupBy(col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("bit"))
      Privacy.randomizedResponse(bits, "user_id", "bit")
    }),
    // BP3 tokenizer-efficiency report (r15): bp2's consumer — per-source
    // chars-per-subword under the learned merge list (the compression read
    // a tokenizer-training pipeline publishes per corpus slice; a slice
    // whose ratio trails the corpus needs its own merges). Integer counts,
    // one exact division floored to micro. Shares bp2's encoder and the
    // oracle's single-regexp-replay encode chain.
    "bp3_tokenizer_eval" -> ((s, dir) => {
      val docs = spread(t(s, dir, "documents"))
        .select(col("source"), Norm.normTokens(col("text")).as("toks"))
      Bpe.encode(docs, "toks", "sub", bp2Merges)
        .select(col("source"), explode(col("sub")).as("subword"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_subwords"),
          sum(length(col("subword"))).as("n_chars"))
        .withColumn("cps_micro",
          floor(col("n_chars").cast("double") * lit(1e6) /
            col("n_subwords").cast("double")).cast("long"))
    })
  )

  /** DuckDB-dialect oracle per query (driver runs these on the same parquet dirs). */
  /** Shared exploded lexical corpus for the retrieval family (b1/b2/tf1):
    * (doc_id, id, term), checkpointed once per (session, sfDir). At corpus
    * scale the raw-text scan + regex tokenize dominates every lexical index
    * build and is IDENTICAL across BM25/TF-IDF/hybrid — a real engine
    * tokenizes once and builds each model from the same frame ("index once,
    * query many"). Rebuilt transparently if a harness freed the blocks
    * (Bench's per-query cleanup does — its warm-up pre-builds this frame so
    * the lexical queries then share it as pre-existing infrastructure). */
  /** Shared part co-occurrence pair table for the graph-analytics family
    * (pr1/pr2/g12/g13): canonical (src < dst) part pairs sharing a lineitem
    * order, with their distinct-order multiplicity `_m`, checkpointed once
    * per (session, sfDir). The corpus-scale work — the per-order collect_set
    * aggregate, the quadratic pair fan-out, the pair-dedup shuffle — is
    * IDENTICAL across PageRank / personalized PR / k-core / label
    * propagation; a real engine materializes the graph once and runs every
    * centrality/community pass over it ("build the graph once, analyze
    * many"), exactly the [[lexTokens]] index-once contract. Each query then
    * derives its edge view narrowly: both directions via one generator, the
    * g13 sparsifier as a `_m >= n` filter first. */
  /** Shared MinHash signature table for the dedup family (d2/d8/d9/d13/x26/
    * er3): (id, sig) at the house params (6 hashes over word 3-shingles),
    * checkpointed once per (session, sfDir). The corpus-scale work — the
    * raw-text scan, the shingle explode, the per-shingle hashing — is
    * IDENTICAL across every consumer; a real engine signs the corpus once at
    * ingest and every dedup pass reads the signature table ("sign once,
    * dedup many" — the [[lexTokens]] index-once contract). [[lshPairs]]
    * derives the banded candidate pairs from it the same way, shared by the
    * four cluster-consuming rows (d8's CC, d9's stars, x26's split, er3's
    * survivorship) whose whole point is what they each DO with one pair
    * graph. Same lifecycle discipline as [[lexTokens]]: dead-session
    * eviction, alive-checkpoint check, build-under-lock. */
  /** The index-once cache discipline shared by every cross-query
    * infrastructure frame (lexTokens / coPairs / coLabels / docShingles3 /
    * minhashSigs / lshPairs / dsirWeights): evict dead-session keys (a JVM
    * cycling SparkSessions must not pin each dead session's object graph
    * through this object-level map), alive-check the checkpointed frame,
    * and build UNDER the lock — two threads first-accessing the same
    * (session, dir) must not both run the corpus-scale job; the loser's
    * checkpoint blocks would be pinned with no owner. Holding the lock
    * across the build serializes concurrent first-builders, which is the
    * point. Single-threaded callers never contend. */
  private def cachedFrame(
      cache: scala.collection.concurrent.TrieMap[(SparkSession, String), DataFrame],
      s: SparkSession, dir: String)(build: => DataFrame): DataFrame = {
    val alive = org.apache.spark.sql.graft.Bridge.checkpointAlive _
    cache.keys.filter(_._1.sparkContext.isStopped).foreach(cache.remove)
    cache.synchronized {
      cache.get((s, dir)).filter(alive).getOrElse {
        val fresh = build
        cache((s, dir)) = fresh
        fresh
      }
    }
  }

  /** Shared rounds=1 NN-descent graph (nn1 + its r13 consumers nn2/nn3):
    * one construction, three readers — the build-once/consume-many shape
    * the approximate graph exists for. */
  private val nnGraphCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[graft] def nnGraph1(s: SparkSession, dir: String): DataFrame =
    cachedFrame(nnGraphCache, s, dir) {
      NnDescent.knnGraph(t(s, dir, "embeddings"), "vec_id", "embedding",
        k = 8, rounds = 1).localCheckpoint(true)
    }

  /** Shared node2vec biased-walk frame (g30 walk rows + w2v2 skip-gram
    * pairs): one second-order walk build, two readers. */
  private val n2vWalkCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[graft] def n2vWalks(s: SparkSession, dir: String): DataFrame =
    cachedFrame(n2vWalkCache, s, dir) {
      val edges = coEdges(s, dir, minGroups = 2)
      val seeds = edges.filter(col("src") % 100 === 0)
        .select(col("src").as("node")).distinct()
      RandomWalk.biasedWalks(edges, seeds, steps = 3,
        wReturn = 1L, wInner = 4L, wOuter = 2L).localCheckpoint(true)
    }

  /** Shared DSIR log-weight frame (x23 weights read + x24 resampling
    * action): the hashed unigram+bigram LM passes are identical across the
    * two rows — train the importance model once, read it twice. */
  private val dsirWeightCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[graft] def dsirWeights(s: SparkSession, dir: String): DataFrame =
    cachedFrame(dsirWeightCache, s, dir) {
      val docs = t(s, dir, "documents")
        .select(col("doc_id"), Norm.normTokens(col("text")).as("toks"),
          (col("doc_id") % 10 === 0).as("is_target"))
      CorpusOps.dsirWeights(docs, "doc_id", "toks", "is_target", buckets = 256)
        .localCheckpoint(true)
    }

  /** Shared BUILT BM25 index over [[lexTokens]] (b1/b4/b5): the tf/dl
    * checkpoints inside buildFromTokens are identical across the lexical
    * scorers — build the index once, score many (the reference persists its
    * lexical index for the same reason). Alive-checked on the checkpointed
    * tf part. */
  private val lexIndexCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Bm25.Index]
  private[graft] def lexIndex(s: SparkSession, dir: String): Bm25.Index = {
    val alive = org.apache.spark.sql.graft.Bridge.checkpointAlive _
    lexIndexCache.keys.filter(_._1.sparkContext.isStopped)
      .foreach(lexIndexCache.remove)
    lexIndexCache.synchronized {
      lexIndexCache.get((s, dir))
        .filter(ix => ix.parts.exists(p => alive(p._1) && alive(p._3)))
        .getOrElse {
          val toks = lexTokens(s, dir)
          val fresh = Bm25.buildFromTokens(toks.select("id", "term"),
            idType = Some(toks.schema("doc_id").dataType))
          lexIndexCache((s, dir)) = fresh
          fresh
        }
    }
  }

  private val docShingleCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  /** The DISTINCT (id, sh) word-3-shingle frame over documents — the ONE
    * corpus tokenize the whole dedup family reads (d4/d15/d17/d18/x33 exact
    * pairs AND the MinHash signatures: min() is idempotent, so the distinct
    * frame signs identically to the raw multiset). */
  private[graft] def docShingles3(s: SparkSession, dir: String): DataFrame =
    cachedFrame(docShingleCache, s, dir) {
      Dedup.shingleRows(spread(t(s, dir, "documents")),
        "doc_id", "text", shingleSize = 3)
        .distinct()
        .localCheckpoint(true)
    }

  private val minhashSigCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[graft] def minhashSigs(s: SparkSession, dir: String): DataFrame =
    cachedFrame(minhashSigCache, s, dir) {
      Dedup.minhashSignaturesFromShingles(docShingles3(s, dir), numHashes = 6)
        .localCheckpoint(true)
    }

  private val lshPairCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[graft] def lshPairs(s: SparkSession, dir: String): DataFrame =
    cachedFrame(lshPairCache, s, dir) {
      Dedup.lshCandidatePairs(minhashSigs(s, dir), bands = 3, rowsPerBand = 2)
        .localCheckpoint(true)
    }

  private val coPairCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[graft] def coPairs(s: SparkSession, dir: String): DataFrame =
    cachedFrame(coPairCache, s, dir) {
      t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(collect_set(col("l_partkey")).as("_items"))
        .select(explode(col("_items")).as("src"), col("_items"))
        .select(col("src"), explode(col("_items")).as("dst"))
        .filter(col("src") < col("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("_m"))
        .localCheckpoint(true)
    }

  /** Symmetric duplicate-free edge view of [[coPairs]] (optionally
    * sparsified to pairs sharing >= `minGroups` orders) — the
    * [[graft.operators.PageRank.cooccurrenceEdges]] contract, derived
    * narrowly from the shared pair table. */
  private def coEdges(s: SparkSession, dir: String, minGroups: Int = 1): DataFrame =
    coPairs(s, dir)
      .filter(col("_m") >= minGroups)
      .select(explode(array(
        struct(col("src"), col("dst")),
        struct(col("dst").as("src"), col("src").as("dst")))).as("e"))
      .select(col("e.src"), col("e.dst"))

  /** Shared 4-round LPA community labels over [[coEdges]](minGroups = 2) —
    * the third build-once frame beside [[lexTokens]] and [[coPairs]]: FIVE
    * queries (g13 the communities themselves, g19/g25 modularity, g23/g26
    * conductance) analyze the SAME partition, and a real engine runs
    * community detection once and grades it many ways, not once per
    * grading. Checkpoint lifecycle identical to coPairs: rebuilt
    * transparently if a harness freed the blocks. */
  private val coLabelCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[graft] def coLabels(s: SparkSession, dir: String): DataFrame =
    cachedFrame(coLabelCache, s, dir) {
      LabelPropagation.run(coEdges(s, dir, minGroups = 2), rounds = 4)
    }

  private val lexTokenCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private[graft] def lexTokens(s: SparkSession, dir: String): DataFrame =
    cachedFrame(lexTokenCache, s, dir) {
      spread(t(s, dir, "documents"))
        .select(col("doc_id"), col("doc_id").cast("string").as("id"),
          explode(Norm.normTokens(col("text"))).as("term"))
        .localCheckpoint(true)
    }

  /** Fixed rank-ordered merge list shared by the bp2 query and its oracle:
    * corpus-frequent pairs plus two chained merges whose left components
    * ("er", "th") are produced by earlier ranks, exercising rank precedence.
    */
  private[graft] val bp2Merges: Seq[(String, String)] = Seq(
    "e" -> "r", "i" -> "n", "t" -> "h", "h" -> "e",
    "o" -> "w", "s" -> "t", "er" -> "s", "th" -> "e")

  /** DuckDB oracle SQL per query key.
    *
    * INVARIANT (pinned by OracleSqlSpec): any integer `sum(...)` that reaches a
    * FINAL projection must be wrapped `CAST(... AS BIGINT)`. DuckDB's
    * `sum(BIGINT)` returns HUGEINT, which the driver's `fetchdf()` materializes
    * as float64, so the value hash sees `928.0` vs Spark's `928` even though
    * rows and schema match (the round-5 `bp1_pair_counts` red row). `count(*)`
    * is safe (BIGINT); sums confined to CTEs/windows that only feed WHERE or
    * arithmetic are safe.
    */
  def oracleSql: Map[String, String] = {
    val statsUnion = Tables.names
      .map(n => s"SELECT '$n' AS table_name, count(*) AS n_rows FROM $n")
      .mkString(" UNION ALL ")
    val normE = (c: String) => s"trim(regexp_replace(lower($c), '[^a-z0-9 ]', ' ', 'g'))"
    // DuckDB twin of VectorFunctions.hyperplaneSketch over a DOUBLE[] column
    // named `e`: the md5-derived ±1 planes re-derived as SQL literals —
    // shared by every *_blocked mining oracle (sim3/sim4b/sim6b/sim8b) so the
    // planes can never drift from the ONE Scala definition.
    val blkSql = (bits: Int) => {
      val dim = 64
      (0 until bits).map { j =>
        val plane = (0 until dim).map { d =>
          if (Integer.parseInt(
            org.apache.commons.codec.digest.DigestUtils.md5Hex(s"hp$j-$d")
              .substring(0, 2), 16) < 128) "1.0" else "-1.0"
        }.mkString("[", ",", "]::DOUBLE[]")
        s"(CASE WHEN list_dot_product(e, $plane) >= 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString(" + ")
    }
    val normDoc = normE("text")
    val toksDoc = s"list_filter(string_split($normDoc, ' '), x -> x <> '')"
    // Shared by nb2 (predictions) and nb3 (confusion matrix): the full
    // Naive Bayes train-then-classify chain. Scores are ordered PRODUCTS of
    // exact divisions — product(term ORDER BY pos) is DuckDB's left fold,
    // matching the Spark side's sort_array+aggregate left fold factor for
    // factor (no ln(): log-space scoring would tie the twin to libm).
    val nbPredictSql =
      s"""WITH tr AS MATERIALIZED (SELECT lang, unnest($toksDoc) AS token
         |  FROM documents WHERE doc_id % 5 <> 0),
         |cnts AS MATERIALIZED (SELECT lang AS label, token, count(*) AS cnt
         |  FROM tr GROUP BY 1, 2),
         |tot AS (SELECT lang AS label, count(*) AS tot FROM tr GROUP BY 1),
         |voc AS (SELECT count(DISTINCT token) AS v FROM tr),
         |pri AS (SELECT lang AS label, count(*) AS dc FROM documents
         |  WHERE doc_id % 5 <> 0 GROUP BY 1),
         |dt AS (SELECT count(*) AS d FROM documents WHERE doc_id % 5 <> 0),
         |te AS (SELECT doc_id, lang AS actual, list_slice($toksDoc, 1, 40) AS tk
         |  FROM documents WHERE doc_id % 5 = 0),
         |tt AS (SELECT doc_id, unnest(tk) AS token,
         |  generate_subscripts(tk, 1) AS pos FROM te),
         |terms AS (SELECT tt.doc_id, l.label, tt.pos,
         |    CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE) /
         |      CAST(l.tot + v.v AS DOUBLE) AS term
         |  FROM tt CROSS JOIN tot l CROSS JOIN voc v
         |  LEFT JOIN cnts c ON c.label = l.label AND c.token = tt.token),
         |prods AS (SELECT doc_id, label, product(term ORDER BY pos) AS prod
         |  FROM terms GROUP BY 1, 2),
         |sc AS (SELECT te.doc_id, te.actual, p.label,
         |    coalesce(pr.prod, CAST(1.0 AS DOUBLE)) *
         |      (CAST(p.dc AS DOUBLE) / CAST(dt.d AS DOUBLE)) AS score
         |  FROM te CROSS JOIN pri p CROSS JOIN dt
         |  LEFT JOIN prods pr ON pr.doc_id = te.doc_id AND pr.label = p.label)
         |SELECT doc_id, actual, label AS pred,
         |  CAST(CASE WHEN label = actual THEN 1 ELSE 0 END AS BIGINT) AS correct
         |FROM sc
         |QUALIFY row_number() OVER (PARTITION BY doc_id
         |  ORDER BY score DESC, label ASC) = 1""".stripMargin.replace("\n", " ")
    // Shared by bp2 (subword counts) and bp3 (per-source efficiency): the
    // single-replace-per-rank BPE encode chain over a '|sym|'-fenced word.
    val bpeEncExpr = bp2Merges.foldLeft(raw"regexp_replace(w, '(.)', '|\1|', 'g')") {
      case (e, (a, b)) => s"replace($e, '|$a||$b|', '|$a$b|')"
    }
    // Shared by x23 (weights) and x24 (resampling action): the DSIR hashed
    // unigram+bigram LM CTE chain ending in per-doc log-ratio sums `sc`.
    val dsirCtes =
      s"""f AS (
         |  SELECT doc_id, doc_id % 10 = 0 AS t,
         |         CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 256 AS b
         |  FROM (SELECT doc_id, unnest(list_concat(w,
         |      list_transform(generate_series(1, greatest(len(w)-1, 0)),
         |        i -> array_to_string(list_slice(w, i, i+1), ' ')))) AS f
         |    FROM (SELECT doc_id, $toksDoc AS w FROM documents) d0) s),
         |g AS (SELECT b, CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS nt,
         |             CAST(sum(CASE WHEN NOT t THEN 1 ELSE 0 END) AS BIGINT) AS nr
         |      FROM f GROUP BY b),
         |tot AS (SELECT CAST(sum(nt) AS BIGINT) AS tt, CAST(sum(nr) AS BIGINT) AS tr FROM g),
         |lam AS (SELECT b, ln(CAST(nt+1 AS DOUBLE)/CAST(tt+256 AS DOUBLE))
         |               - ln(CAST(nr+1 AS DOUBLE)/CAST(tr+256 AS DOUBLE)) AS lam FROM g, tot),
         |pd AS (SELECT doc_id, b, count(*) AS c FROM f GROUP BY 1, 2),
         |sc AS (SELECT pd.doc_id, sum(pd.c * lam.lam) AS s FROM pd JOIN lam ON pd.b = lam.b GROUP BY 1)""".stripMargin
    val docWords =
      s"""SELECT doc_id, w.word, w.pos FROM (
         |  SELECT doc_id, unnest($toksDoc) AS word,
         |         generate_subscripts($toksDoc, 1) AS pos
         |  FROM documents) w""".stripMargin.replace("\n", " ")
    // Shared by x37 (canonicalization) and x38 (domain cap): the in-query
    // messy-URL construction and the UrlOps normalization pipeline,
    // expression-for-expression (same RE2 regexes, same list sort).
    // Shared by x39 (per-doc keyword rows) and pipe3 (cluster topic labels):
    // the two unrolled TextRank iterations over window-2 co-occurrence, the
    // float sum ORDERED by neighbor (the g29/x36 fold convention), literals
    // cast to DOUBLE so (1.0 − 0.85) is the identical double as Scala's.
    val textrankCtes =
      s"""tok AS (SELECT doc_id, pos, word FROM ($docWords) t),
         |h AS (SELECT DISTINCT a.doc_id, a.word AS u, b.word AS v
         |  FROM tok a JOIN tok b ON a.doc_id = b.doc_id AND b.pos = a.pos + 1 AND a.word <> b.word),
         |e AS (SELECT doc_id, u, v FROM h UNION SELECT doc_id, v AS u, u AS v FROM h),
         |deg AS (SELECT doc_id, u, count(*) AS d FROM e GROUP BY 1, 2),
         |r0 AS (SELECT doc_id, u AS w, CAST(1.0 AS DOUBLE) AS tr FROM deg),
         |r1 AS (SELECT e.doc_id, e.v AS w,
         |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * sum(r.tr / deg.d ORDER BY e.u ASC) AS tr
         |  FROM e JOIN r0 r ON e.doc_id = r.doc_id AND e.u = r.w
         |  JOIN deg ON deg.doc_id = e.doc_id AND deg.u = e.u
         |  GROUP BY 1, 2),
         |r2 AS (SELECT e.doc_id, e.v AS w,
         |    (CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) + CAST(0.85 AS DOUBLE) * sum(r.tr / deg.d ORDER BY e.u ASC) AS tr
         |  FROM e JOIN r1 r ON e.doc_id = r.doc_id AND e.u = r.w
         |  JOIN deg ON deg.doc_id = e.doc_id AND deg.u = e.u
         |  GROUP BY 1, 2),
         |kw AS (SELECT doc_id, w, tr,
         |    row_number() OVER (PARTITION BY doc_id ORDER BY tr DESC, w ASC) AS rank
         |  FROM r2)""".stripMargin
    val urlCtes =
      """ud AS (SELECT doc_id,
        |    CASE WHEN doc_id % 7 = 0 THEN 'HTTPS://WWW.Site' || CAST(doc_id % 11 AS VARCHAR) || '.CO.UK:443/a//b/' || CAST(doc_id % 5 AS VARCHAR) || '/?utm_source=feed&z=2&a=1#sec'
        |         WHEN doc_id % 7 = 1 THEN 'http://site' || CAST(doc_id % 11 AS VARCHAR) || '.com:80/p/' || CAST(doc_id AS VARCHAR)
        |         WHEN doc_id % 7 = 2 THEN 'https://News.example' || CAST(doc_id % 11 AS VARCHAR) || '.com:8443/x/' || CAST(doc_id % 5 AS VARCHAR) || '/'
        |         WHEN doc_id % 7 = 3 THEN 'www.bare' || CAST(doc_id % 11 AS VARCHAR) || '.co.uk/p//' || CAST(doc_id % 5 AS VARCHAR) || '?b=2&utm_campaign=x'
        |         WHEN doc_id % 7 = 4 THEN '//cdn.example' || CAST(doc_id % 11 AS VARCHAR) || '.com/lib/' || CAST(doc_id % 5 AS VARCHAR) || '.js'
        |         WHEN doc_id % 7 = 5 THEN 'mailto:user' || CAST(doc_id % 5 AS VARCHAR) || '@example' || CAST(doc_id % 11 AS VARCHAR) || '.com'
        |         ELSE 'http://broken' || CAST(doc_id % 11 AS VARCHAR) || '.com:8o80/x/' || CAST(doc_id % 5 AS VARCHAR) END AS url
        |  FROM documents),
        |ue AS (SELECT doc_id, url,
        |    regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*:[^0-9/]') AND NOT regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://') AS opq,
        |    CASE WHEN regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://')
        |           OR (regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*:[^0-9/]') AND NOT regexp_matches(url, '^[A-Za-z][A-Za-z0-9+.-]*://')) THEN url
        |         WHEN url LIKE '//%' THEN 'http:' || url
        |         ELSE 'http://' || url END AS eff
        |  FROM ud),
        |up AS (SELECT doc_id, url, opq, regexp_extract(eff, '^([^#]*)', 1) AS nf,
        |    lower(regexp_extract(eff, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
        |    regexp_replace(lower(regexp_extract(regexp_extract(eff, '^([^#]*)', 1), '://([^/?#]*)', 1)), '^[^@]*@', '') AS hp
        |  FROM ue),
        |uq AS (SELECT *,
        |    regexp_replace(regexp_replace(
        |      CASE WHEN hp LIKE '[%' THEN regexp_extract(hp, '^(\[[^\]]*\])', 1)
        |           ELSE regexp_extract(hp, '^([^:]*)', 1) END, '^www\.', ''), '\.$', '') AS host,
        |    CASE WHEN hp LIKE '[%' THEN regexp_extract(hp, '\]:([0-9]+)$', 1)
        |         ELSE regexp_extract(hp, '^[^:]*:([0-9]+)$', 1) END AS port,
        |    CASE WHEN hp LIKE '[%' THEN regexp_matches(hp, '\]:')
        |         ELSE contains(hp, ':') END AS portmark,
        |    regexp_replace(regexp_replace(regexp_extract(nf, '://[^/?#]*([^?#]*)', 1), '/{2,}', '/', 'g'), '/$', '') AS path0,
        |    list_sort(list_filter(string_split(regexp_extract(nf, '\?(.*)$', 1), '&'),
        |      x -> x <> '' AND NOT regexp_matches(x, '^(?i)(utm_[^=&]*|fbclid|gclid)(=|$)'))) AS prm
        |  FROM up),
        |uc AS (SELECT doc_id, url, host,
        |    CASE WHEN opq OR host = '' OR (port = '' AND portmark) THEN url
        |    ELSE sch || '://' || host ||
        |      CASE WHEN port = '' OR (sch = 'http' AND port = '80') OR (sch = 'https' AND port = '443') THEN '' ELSE ':' || port END ||
        |      CASE WHEN path0 = '' THEN '/' ELSE path0 END ||
        |      CASE WHEN len(prm) = 0 THEN '' ELSE '?' || array_to_string(prm, '&') END END AS canon_url
        |  FROM uq),
        |udom AS (SELECT doc_id, url, canon_url,
        |    CASE WHEN len(l) <= 2 THEN host
        |         WHEN list_contains(['co.uk','org.uk','ac.uk','co.jp','co.in','co.nz','co.kr','com.au','com.br','com.cn','com.mx','com.tw'], l[len(l)-1] || '.' || l[len(l)])
        |           THEN l[len(l)-2] || '.' || l[len(l)-1] || '.' || l[len(l)]
        |         ELSE l[len(l)-1] || '.' || l[len(l)] END AS domain
        |  FROM (SELECT *, string_split(host, '.') AS l FROM uc))""".stripMargin
    // word 3-shingles per document (empty for docs with <3 tokens)
    val docShingles =
      s"""SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(w)-2, 0)),
         |  i -> array_to_string(list_slice(w, i, i+2), ' '))) AS sh
         |FROM (SELECT doc_id, $toksDoc AS w FROM documents) t""".stripMargin.replace("\n", " ")
    val minhashSigs =
      s"""SELECT doc_id AS id,
         |  ${(0 until 6).map(i => s"min(md5('mh$i-' || sh)) AS sig_$i").mkString(", ")}
         |FROM ($docShingles) s GROUP BY doc_id""".stripMargin.replace("\n", " ")
    // Exact Jaccard(≥0.5) pairs over the doc shingle sets — shared verbatim
    // by d4 (full posting-list join) and d18 (prefix-filtered join): two
    // algorithms, one answer, one SQL.
    val jaccardPairsSql =
      s"""WITH dsh AS (SELECT DISTINCT doc_id AS id, sh FROM ($docShingles) s),
         |sizes AS (SELECT id, count(*) AS sz FROM dsh GROUP BY id),
         |inter AS (
         |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
         |  FROM dsh a JOIN dsh b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2)
         |SELECT id_a, id_b, round(j, 6) AS jaccard_r FROM (
         |  SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS j
         |  FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id) t
         |WHERE j >= 0.5""".stripMargin.replace("\n", " ")
    // Transitive dedup-cluster assignment (reachability min-id) — shared by
    // d8 (the connectedComponents entry: driver union-find under its bound)
    // and d9 (large-star/small-star): the clustering is algorithm-
    // independent, so one SQL answer checks both.
    val ccClustersSql =
      s"""WITH RECURSIVE sigs AS ($minhashSigs),
         |banded AS (
         |  SELECT id, 0 AS band, md5(concat_ws('|', sig_0, sig_1)) AS band_key FROM sigs
         |  UNION ALL SELECT id, 1, md5(concat_ws('|', sig_2, sig_3)) FROM sigs
         |  UNION ALL SELECT id, 2, md5(concat_ws('|', sig_4, sig_5)) FROM sigs),
         |pairs AS (
         |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
         |  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs UNION SELECT id_b, id_a FROM pairs),
         |reach(id, r) AS (
         |  SELECT DISTINCT src, src FROM edges
         |  UNION
         |  SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id)
         |SELECT id, min(r) AS rep_id FROM reach GROUP BY id""".stripMargin.replace("\n", " ")
    // Unrolled NN-descent rounds=1 twin (init bucket pairs → top-16 lists →
    // ρ-sampled reverse cap → wedge join → seed-1 re-bucket → rescore →
    // top-8), ending in `gk` (src, dst, c) — shared by nn1 (the graph
    // itself) and its r13 consumers nn2 (mutual edges) / nn3 (density):
    // three board rows, one construction, zero drift.
    val nnGraphCtes =
      """v AS (SELECT CAST(vec_id AS VARCHAR) AS id, embedding::DOUBLE[] AS e FROM embeddings),
        |nb AS (SELECT greatest(1, count(*) // 32) AS n FROM v),
        |b0 AS (SELECT id, e, CAST(('0x' || substr(md5('nnd|0|' || id), 1, 8)) AS BIGINT)
        |    % (SELECT n FROM nb) AS blk FROM v),
        |b1 AS (SELECT id, CAST(('0x' || substr(md5('nnd|1|' || id), 1, 8)) AS BIGINT)
        |    % (SELECT n FROM nb) AS blk FROM v),
        |p0 AS (SELECT a.id AS src, b.id AS dst,
        |    list_dot_product(a.e, b.e) /
        |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS c
        |  FROM b0 a JOIN b0 b ON a.blk = b.blk AND a.id <> b.id),
        |k0 AS (SELECT src, dst FROM (SELECT src, dst,
        |    row_number() OVER (PARTITION BY src ORDER BY c DESC, dst ASC) AS rn FROM p0) t
        |  WHERE rn <= 16),
        |rc AS (SELECT rsrc AS src, rdst AS dst FROM (
        |    SELECT dst AS rsrc, src AS rdst, row_number() OVER (PARTITION BY dst
        |      ORDER BY CAST(('0x' || substr(md5(dst || '|' || src), 1, 8)) AS BIGINT) DESC, src ASC) AS rn
        |    FROM k0) t WHERE rn <= 16),
        |und AS (SELECT src, dst FROM k0 UNION SELECT src, dst FROM rc),
        |w AS (SELECT x.dst AS src, y.dst AS dst
        |  FROM und x JOIN und y ON x.src = y.src AND x.dst < y.dst),
        |pb1 AS (SELECT a.id AS src, b.id AS dst FROM b1 a JOIN b1 b ON a.blk = b.blk AND a.id <> b.id),
        |cand AS (SELECT DISTINCT src, dst FROM (
        |    SELECT src, dst FROM k0 UNION ALL SELECT src, dst FROM w
        |    UNION ALL SELECT dst AS src, src AS dst FROM w
        |    UNION ALL SELECT src, dst FROM pb1) u WHERE src <> dst),
        |sc AS (SELECT cand.src, cand.dst,
        |    list_dot_product(a.e, b.e) /
        |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS c
        |  FROM cand JOIN v a ON cand.src = a.id JOIN v b ON cand.dst = b.id),
        |gk AS (SELECT src, dst, c FROM (SELECT src, dst, c,
        |    row_number() OVER (PARTITION BY src ORDER BY c DESC, dst ASC) AS rn FROM sc) t
        |  WHERE rn <= 8)""".stripMargin
    val knnBase =
      """SELECT CAST(q.vec_id AS VARCHAR) AS query_id,
        |       CAST(c.vec_id AS VARCHAR) AS neighbor_id,
        |       list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS score
        |FROM embeddings q, embeddings c
        |WHERE q.vec_id < 8 AND c.vec_id >= 8""".stripMargin.replace("\n", " ")
    val toksOf = (c: String) =>
      s"list_filter(string_split(${normE(c)}, ' '), x -> x <> '')"
    // PQ CTE chain: deterministic codebooks (16 lowest string-ordered ids)
    // refined by ONE unrolled Lloyd step (argmin assignment → per-dimension
    // mean per (sub, code) — mirrors ProductQuantizer.train iters=1), then
    // argmin assignment scored `cc - 2*ip` — the same double arithmetic as
    // ProductQuantizer (DotProduct ≡ list_dot_product), so codes match
    // bit-for-bit. Yields `cwc` (refined codebook) and `codes`.
    val pqCte = (corpusWhere: String) =>
      s"""seeds AS (SELECT id, embedding, CAST(row_number() OVER (ORDER BY id) AS INTEGER) AS code
         |  FROM (SELECT CAST(vec_id AS VARCHAR) AS id, embedding FROM embeddings $corpusWhere ORDER BY 1 LIMIT 16) s),
         |cw0 AS (SELECT CAST(g.i AS INTEGER) AS sub, s.code,
         |    list_slice(s.embedding, g.i * 8 + 1, g.i * 8 + 8) AS cvec
         |  FROM seeds s, generate_series(0, 7) AS g(i)),
         |cwc0 AS (SELECT sub, code, cvec, list_dot_product(cvec::DOUBLE[], cvec::DOUBLE[]) AS cc FROM cw0),
         |xv AS (SELECT CAST(vec_id AS VARCHAR) AS id, CAST(g.i AS INTEGER) AS sub,
         |    list_slice(embedding, g.i * 8 + 1, g.i * 8 + 8) AS sv
         |  FROM embeddings, generate_series(0, 7) AS g(i) $corpusWhere),
         |asg0 AS (SELECT id, sub, code FROM (
         |  SELECT xv.id, xv.sub, cwc0.code,
         |    row_number() OVER (PARTITION BY xv.id, xv.sub ORDER BY cwc0.cc - 2.0 * list_dot_product(xv.sv::DOUBLE[], cwc0.cvec::DOUBLE[]) ASC, cwc0.code ASC) AS rn
         |  FROM xv JOIN cwc0 ON xv.sub = cwc0.sub) t0 WHERE rn = 1),
         |cw1 AS (SELECT sub, code, list(m ORDER BY pos) AS cvec FROM (
         |  SELECT sub, code, pos, avg(val) AS m FROM (
         |    SELECT a0.sub, a0.code, generate_subscripts(xv.sv, 1) AS pos, unnest(xv.sv) AS val
         |    FROM asg0 a0 JOIN xv ON a0.id = xv.id AND a0.sub = xv.sub) d
         |  GROUP BY 1, 2, 3) z GROUP BY 1, 2),
         |cwc AS (SELECT sub, code, cvec, list_dot_product(cvec::DOUBLE[], cvec::DOUBLE[]) AS cc FROM cw1),
         |codes AS (SELECT id, sub, code FROM (
         |  SELECT xv.id, xv.sub, cwc.code,
         |    row_number() OVER (PARTITION BY xv.id, xv.sub ORDER BY cwc.cc - 2.0 * list_dot_product(xv.sv::DOUBLE[], cwc.cvec::DOUBLE[]) ASC, cwc.code ASC) AS rn
         |  FROM xv JOIN cwc ON xv.sub = cwc.sub) t1 WHERE rn = 1)""".stripMargin.replace("\n", " ")
    // BM25 CTE chain: tokenize corpus → tf/dl/df/corpus stats → per-(query,
    // doc) score `sc`. Arithmetic parenthesized to MATCH Bm25.scoreTerms'
    // evaluation order exactly (floats are order-sensitive; only the final
    // sum's order differs, absorbed by round 6).
    val bm25Cte = (corpusWhere: String, queriesSql: String) =>
      s"""tok AS (SELECT CAST(doc_id AS VARCHAR) AS id, unnest($toksDoc) AS term FROM documents $corpusWhere),
         |tf AS (SELECT term, id, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY 1, 2),
         |dl AS (SELECT id, CAST(count(*) AS DOUBLE) AS dl FROM tok GROUP BY 1),
         |st AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM dl),
         |dfr AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
         |q AS ($queriesSql),
         |qt AS (SELECT DISTINCT query_id, unnest(${toksOf("qtext")}) AS term FROM q),
         |sc AS (SELECT qt.query_id, tf.id,
         |  sum(ln(1.0 + (st.n - dfr.df + 0.5) / (dfr.df + 0.5)) * ((tf.tf * (1.2 + 1.0)) / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / st.avgdl)))) AS score
         |  FROM qt JOIN tf ON qt.term = tf.term JOIN dfr ON tf.term = dfr.term JOIN dl ON tf.id = dl.id CROSS JOIN st
         |  GROUP BY 1, 2)""".stripMargin.replace("\n", " ")
    val stopList = "['the','a','an','of','to','in','and','is','on','for']"
    // 4 unrolled synchronous LPA rounds (shared by g13 and g19). Sparsified
    // base: canonical pairs co-occurring in >= 2 DISTINCT orders
    // (count(DISTINCT l_orderkey), NOT count(*) — a part repeated within one
    // order must count once, matching the Spark side's collect_set).
    // Mode-with-min-tiebreak via row_number over (count DESC, label ASC).
    // MATERIALIZED for the same reason as g12: each round is referenced by
    // the next. Yields `e0` (symmetric edges) and `l4` (final labels).
    val lpaCtes = {
      val rounds = (1 to 4).map { r =>
        s"""l$r AS MATERIALIZED (SELECT id, label FROM (
           |  SELECT e.dst AS id, l.label, count(*) AS c,
           |         row_number() OVER (PARTITION BY e.dst ORDER BY count(*) DESC, l.label ASC) AS rn
           |  FROM e0 e JOIN l${r - 1} l ON l.id = e.src
           |  GROUP BY e.dst, l.label) t WHERE rn = 1)""".stripMargin
      }.mkString(",\n")
      s"""c0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v,
         |  count(DISTINCT a.l_orderkey) AS m
         |  FROM lineitem a JOIN lineitem b
         |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
         |  GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
         |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM c0 UNION ALL SELECT v, u FROM c0),
         |l0 AS MATERIALIZED (SELECT DISTINCT src AS id, src AS label FROM e0),
         |$rounds""".stripMargin
    }
    // (doc_id, lang) via the x1 n-gram heuristic — shared by x1 and x10.
    val langSelect =
      s"""SELECT doc_id, CASE WHEN m = 0 THEN 'und'
         |  WHEN s_de = m THEN 'de' WHEN s_en = m THEN 'en' WHEN s_es = m THEN 'es' ELSE 'fr' END AS lang
         |FROM (
         |  SELECT doc_id,
         |    len(list_filter(toks, t -> list_contains(['the','and','of','is','was','with'], t))) AS s_en,
         |    len(list_filter(toks, t -> list_contains(['el','la','de','que','los','las'], t))) AS s_es,
         |    len(list_filter(toks, t -> list_contains(['le','la','les','des','est','une'], t))) AS s_fr,
         |    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht'], t))) AS s_de,
         |    greatest(
         |      len(list_filter(toks, t -> list_contains(['the','and','of','is','was','with'], t))),
         |      len(list_filter(toks, t -> list_contains(['el','la','de','que','los','las'], t))),
         |      len(list_filter(toks, t -> list_contains(['le','la','les','des','est','une'], t))),
         |      len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht'], t)))) AS m
         |  FROM (SELECT doc_id, $toksDoc AS toks FROM documents) t) s""".stripMargin.replace("\n", " ")
    // Shared by g16 (walk rows) and w2v1 (skip-gram pairs): the md5-argmin
    // next-hop replay, one row_number window per hop ordered by (md5 draw,
    // candidate id) — the same total order as the Scala side's (hash, dst)
    // struct-min — ending in a `wk(walk_id, step, node)` CTE.
    val walkCtes =
      """WITH c0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
        |  FROM lineitem a JOIN lineitem b
        |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
        |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM c0 UNION ALL SELECT v, u FROM c0),
        |s0 AS (SELECT DISTINCT src AS walk_id, src AS node FROM e0 WHERE src % 100 = 0),
        |s1 AS (SELECT walk_id, node FROM (
        |  SELECT f.walk_id, e.dst AS node, row_number() OVER (PARTITION BY f.walk_id
        |    ORDER BY md5(concat_ws('-', f.walk_id, '1', f.node, e.dst)), e.dst) AS rn
        |  FROM s0 f JOIN e0 e ON e.src = f.node) q WHERE rn = 1),
        |s2 AS (SELECT walk_id, node FROM (
        |  SELECT f.walk_id, e.dst AS node, row_number() OVER (PARTITION BY f.walk_id
        |    ORDER BY md5(concat_ws('-', f.walk_id, '2', f.node, e.dst)), e.dst) AS rn
        |  FROM s1 f JOIN e0 e ON e.src = f.node) q WHERE rn = 1),
        |s3 AS (SELECT walk_id, node FROM (
        |  SELECT f.walk_id, e.dst AS node, row_number() OVER (PARTITION BY f.walk_id
        |    ORDER BY md5(concat_ws('-', f.walk_id, '3', f.node, e.dst)), e.dst) AS rn
        |  FROM s2 f JOIN e0 e ON e.src = f.node) q WHERE rn = 1),
        |wk AS (SELECT walk_id, 0 AS step, node FROM s0
        |  UNION ALL SELECT walk_id, 1, node FROM s1
        |  UNION ALL SELECT walk_id, 2, node FROM s2
        |  UNION ALL SELECT walk_id, 3, node FROM s3)""".stripMargin.replace("\n", " ")
    // Shared by g30 (walk rows) and w2v2 (node2vec skip-gram pairs): the
    // three unrolled second-order steps ending in a
    // `wk2(walk_id, step, node)` CTE.
    val n2vCtes =
      """WITH c0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
          |  FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |  GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
          |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM c0 UNION ALL SELECT v, u FROM c0),
          |f0 AS (SELECT DISTINCT src AS walk_id, src AS prev, src AS node FROM e0 WHERE src % 100 = 0),
          |c1 AS (SELECT f.walk_id, f.prev, f.node, e.dst,
          |    CASE WHEN e.dst = f.prev THEN 1 WHEN a.src IS NOT NULL THEN 4 ELSE 2 END AS w
          |  FROM f0 f JOIN e0 e ON e.src = f.node
          |  LEFT JOIN e0 a ON a.src = f.prev AND a.dst = e.dst),
          |w1 AS (SELECT walk_id, prev, node, dst,
          |    sum(w) OVER (PARTITION BY walk_id ORDER BY dst ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |    sum(w) OVER (PARTITION BY walk_id) AS tot FROM c1),
          |f1 AS (SELECT walk_id, min(node) AS prev, min(dst) AS node FROM w1
          |  WHERE cum > CAST(('0x' || substr(md5(concat_ws('-', walk_id, '1', prev, node)), 1, 15)) AS BIGINT) % tot
          |  GROUP BY walk_id),
          |c2 AS (SELECT f.walk_id, f.prev, f.node, e.dst,
          |    CASE WHEN e.dst = f.prev THEN 1 WHEN a.src IS NOT NULL THEN 4 ELSE 2 END AS w
          |  FROM f1 f JOIN e0 e ON e.src = f.node
          |  LEFT JOIN e0 a ON a.src = f.prev AND a.dst = e.dst),
          |w2 AS (SELECT walk_id, prev, node, dst,
          |    sum(w) OVER (PARTITION BY walk_id ORDER BY dst ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |    sum(w) OVER (PARTITION BY walk_id) AS tot FROM c2),
          |f2 AS (SELECT walk_id, min(node) AS prev, min(dst) AS node FROM w2
          |  WHERE cum > CAST(('0x' || substr(md5(concat_ws('-', walk_id, '2', prev, node)), 1, 15)) AS BIGINT) % tot
          |  GROUP BY walk_id),
          |c3 AS (SELECT f.walk_id, f.prev, f.node, e.dst,
          |    CASE WHEN e.dst = f.prev THEN 1 WHEN a.src IS NOT NULL THEN 4 ELSE 2 END AS w
          |  FROM f2 f JOIN e0 e ON e.src = f.node
          |  LEFT JOIN e0 a ON a.src = f.prev AND a.dst = e.dst),
          |w3 AS (SELECT walk_id, prev, node, dst,
          |    sum(w) OVER (PARTITION BY walk_id ORDER BY dst ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
          |    sum(w) OVER (PARTITION BY walk_id) AS tot FROM c3),
          |f3 AS (SELECT walk_id, min(node) AS prev, min(dst) AS node FROM w3
          |  WHERE cum > CAST(('0x' || substr(md5(concat_ws('-', walk_id, '3', prev, node)), 1, 15)) AS BIGINT) % tot
          |  GROUP BY walk_id),
        |wk2 AS (SELECT walk_id, 0 AS step, node FROM f0
        |  UNION ALL SELECT walk_id, 1, node FROM f1
        |  UNION ALL SELECT walk_id, 2, node FROM f2
        |  UNION ALL SELECT walk_id, 3, node FROM f3)""".stripMargin.replace("\n", " ")
    Map(
      "s10_stats" -> statsUnion,
      "s7_upsert" ->
        """SELECT c_custkey, c_name, round(c_acctbal, 2) AS acctbal FROM customer WHERE c_custkey % 10 <> 0
          |UNION ALL
          |SELECT c_custkey, c_name, round(c_acctbal + 100.0, 2) AS acctbal FROM customer WHERE c_custkey % 10 = 0""".stripMargin.replace("\n", " "),
      "s8_delete" ->
        "SELECT c_custkey, c_name, c_mktsegment FROM customer WHERE c_custkey % 7 <> 3",
      // s11: the same in-query v2 perturbation, (id, md5) full-outer join,
      // FLAGSHIP composed oracle: the whole rag_pipeline DAG replayed as one
      // DuckDB CTE chain — scan→tokenize→stride-3 triplets→graph build (g1-g6
      // semantics: md5 content ids, distinct adjacency, sorted passage lists)
      // →HashEmbedder(dim=32) re-derived generically (md5 bucket/sign sums,
      // dense 32-vec, L2 normalize; ±1 integer sums make the vectors
      // bit-identical to Spark's whatever the aggregation order)→seed word
      // KNN top-5/score>0.5/dedup-union (r1-r3)→degree-1 expansion
      // (p1-p4)→relation KNN over the expanded set→v4 first-seen passage
      // assembly top-10. Scores never reach the output (passage_id, rank), so
      // the hash compares orderings, which are bit-exact: DotProduct and
      // list_dot_product are the same sequential left-to-right double fold.
      "rag_pipeline" ->
        """WITH docs AS (
          |  SELECT CAST(doc_id AS VARCHAR) AS id,
          |         list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' '), x -> x <> '') AS toks
          |  FROM documents WHERE n_chars > 0),
          |trip AS (
          |  SELECT id AS passage_id,
          |         toks[i] AS subject, toks[i+1] AS predicate, toks[i+2] AS object,
          |         toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS relation_text
          |  FROM (SELECT id, toks, unnest(generate_series(1, len(toks) - 2, 3)) AS i
          |        FROM docs WHERE len(toks) >= 3) t),
          |tr AS (
          |  SELECT passage_id, subject, predicate, object, relation_text,
          |         md5(relation_text) AS relation_id, md5(subject) AS subject_id, md5(object) AS object_id
          |  FROM trip),
          |ent AS (
          |  SELECT DISTINCT entity_id AS id, name FROM (
          |    SELECT subject_id AS entity_id, subject AS name FROM tr
          |    UNION ALL SELECT object_id, object FROM tr) u),
          |rel AS (SELECT DISTINCT relation_id AS id, relation_text AS text FROM tr),
          |rp AS (SELECT DISTINCT relation_id, passage_id FROM tr),
          |plist AS (
          |  SELECT relation_id, passage_id,
          |         CAST(row_number() OVER (PARTITION BY relation_id ORDER BY passage_id ASC) - 1 AS INTEGER) AS pos
          |  FROM rp),
          |er AS (
          |  SELECT DISTINCT entity_id, relation_id FROM (
          |    SELECT subject_id AS entity_id, relation_id FROM tr
          |    UNION ALL SELECT object_id, relation_id FROM tr) u),
          |texts AS (
          |  SELECT 'e' AS kind, id AS key, name AS txt FROM ent
          |  UNION ALL SELECT 'r', id, text FROM rel
          |  UNION ALL SELECT 'q', 'q', 'the spark join order for big table scan'
          |  UNION ALL SELECT 'w', w, w FROM (SELECT unnest(string_split('the spark join order for big table scan', ' ')) AS w) s),
          |ttok AS (
          |  SELECT kind, key, unnest(list_filter(string_split(trim(regexp_replace(lower(txt), '[^a-z0-9 ]', ' ', 'g')), ' '), x -> x <> '')) AS tok
          |  FROM texts),
          |bsum AS (
          |  SELECT kind, key,
          |         CAST(CAST(('0x' || substr(md5('graft42' || tok), 1, 8)) AS BIGINT) % 32 AS INTEGER) AS b,
          |         sum(CASE WHEN CAST(('0x' || substr(md5('graft42' || tok), 9, 1)) AS BIGINT) >= 8 THEN -1.0 ELSE 1.0 END) AS v
          |  FROM ttok GROUP BY 1, 2, 3),
          |dense AS (
          |  SELECT k.kind, k.key, g.j, coalesce(b.v, 0.0) AS v
          |  FROM (SELECT DISTINCT kind, key FROM bsum) k
          |  CROSS JOIN generate_series(0, 31) g(j)
          |  LEFT JOIN bsum b ON b.kind = k.kind AND b.key = k.key AND b.b = g.j),
          |rawvec AS (SELECT kind, key, list(v ORDER BY j) AS vr FROM dense GROUP BY 1, 2),
          |vec AS (
          |  SELECT kind, key,
          |         CASE WHEN nrm = 0 THEN vr ELSE list_transform(vr, x -> x / nrm) END AS v
          |  FROM (SELECT kind, key, vr, sqrt(list_dot_product(vr, vr)) AS nrm FROM rawvec) t),
          |seedhits AS (
          |  SELECT DISTINCT neighbor_id AS entity_id FROM (
          |    SELECT w.key AS qtext, e.key AS neighbor_id,
          |           list_dot_product(w.v, e.v) AS score,
          |           row_number() OVER (PARTITION BY w.key ORDER BY list_dot_product(w.v, e.v) DESC, e.key ASC) AS rank
          |    FROM (SELECT * FROM vec WHERE kind = 'w') w
          |    CROSS JOIN (SELECT * FROM vec WHERE kind = 'e') e) t
          |  WHERE rank <= 5 AND score > 0.5),
          |r0 AS (SELECT DISTINCT relation_id FROM er WHERE entity_id IN (SELECT entity_id FROM seedhits)),
          |e1 AS (SELECT DISTINCT entity_id FROM er
          |       WHERE relation_id IN (SELECT relation_id FROM r0)
          |         AND entity_id NOT IN (SELECT entity_id FROM seedhits)),
          |r1 AS (SELECT DISTINCT relation_id FROM er
          |       WHERE entity_id IN (SELECT entity_id FROM e1)
          |         AND relation_id NOT IN (SELECT relation_id FROM r0)),
          |subrels AS (SELECT relation_id FROM r0 UNION SELECT relation_id FROM r1),
          |relhits AS (
          |  SELECT relation_id, CAST(rank AS INTEGER) AS rel_rank FROM (
          |    SELECT r.key AS relation_id,
          |           row_number() OVER (ORDER BY list_dot_product(q.v, r.v) DESC, r.key ASC) AS rank
          |    FROM (SELECT * FROM vec WHERE kind = 'q') q
          |    CROSS JOIN (SELECT * FROM vec WHERE kind = 'r' AND key IN (SELECT relation_id FROM subrels)) r) t
          |  WHERE rank <= 5),
          |exploded AS (
          |  SELECT h.rel_rank, p.pos, p.passage_id
          |  FROM relhits h JOIN plist p ON h.relation_id = p.relation_id),
          |fs AS (
          |  SELECT *, row_number() OVER (PARTITION BY passage_id ORDER BY rel_rank ASC, pos ASC) AS rn
          |  FROM exploded)
          |SELECT passage_id, CAST(rank AS INTEGER) AS rank FROM (
          |  SELECT passage_id, row_number() OVER (ORDER BY rel_rank ASC, pos ASC, passage_id ASC) AS rank
          |  FROM fs WHERE rn = 1) z
          |WHERE rank <= 10""".stripMargin.replace("\n", " "),
      // unchanged ids filtered before the final projection.
      "s11_snapshot_diff" ->
        """WITH v2 AS (
          |  SELECT doc_id,
          |    CASE WHEN doc_id % 13 = 0 THEN text || ' v2' ELSE text END AS text, source
          |  FROM documents WHERE doc_id % 17 <> 0
          |  UNION ALL
          |  SELECT doc_id + 1000000 AS doc_id, text, source FROM documents WHERE doc_id % 29 = 0),
          |o AS (SELECT doc_id, md5(md5(coalesce(text, '')) || md5(coalesce(source, ''))) AS fp FROM documents),
          |n AS (SELECT doc_id, md5(md5(coalesce(text, '')) || md5(coalesce(source, ''))) AS fp FROM v2),
          |j AS (SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
          |    CASE WHEN o.doc_id IS NULL THEN 'added'
          |         WHEN n.doc_id IS NULL THEN 'removed'
          |         WHEN o.fp <> n.fp THEN 'changed' END AS change
          |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
          |SELECT doc_id, change FROM j WHERE change IS NOT NULL""".stripMargin.replace("\n", " "),
      // s12: the counting-Bloom prune + maintain path is answer-invisible by
      // the exact-confirm backstop (x20's adjudication) — the oracle is the
      // plain membership against v2's key set.
      "s12_removable_membership" ->
        """SELECT doc_id FROM documents
          |WHERE doc_id % 11 = 3 OR (doc_id % 11 <> 3 AND doc_id % 13 <> 5)""".stripMargin.replace("\n", " "),
      // T1 twin of Chunker.chunkText(chunkSize=200, overlap=50): per-doc
      // first-present-separator cascade, split keeping the separator, greedy
      // repack as a recursive CTE (state = open-chunk number + buffer length,
      // advanced one piece per iteration), char windows (stride 150) for
      // separator-free texts and oversized pieces. Exact whenever an
      // oversized piece contains no finer separator (always true here: max
      // word length 8); the nested fall-through corner is pinned by the
      // ChunkerSpec golden file instead.
      "t1_chunker" ->
        """WITH RECURSIVE
          |sep AS (SELECT doc_id, text, len(text) AS tl,
          |    CASE WHEN contains(text, chr(10)||chr(10)) THEN chr(10)||chr(10)
          |         WHEN contains(text, chr(10)) THEN chr(10)
          |         WHEN contains(text, '. ') THEN '. '
          |         WHEN contains(text, ' ') THEN ' '
          |         ELSE NULL END AS s
          |  FROM documents),
          |whole AS (SELECT doc_id, text AS piece, 0 AS ord1, 0 AS ord2 FROM sep WHERE tl <= 200),
          |winfree AS (SELECT doc_id, u['piece'] AS piece, 0 AS ord1, u['k'] AS ord2 FROM (
          |  SELECT doc_id, unnest(list_transform(
          |      generate_series(0, CAST(ceil((tl - 200) / 150.0) AS BIGINT)),
          |      k -> {'k': k, 'piece': substr(text, CAST(k*150 + 1 AS BIGINT), 200)})) AS u
          |  FROM sep WHERE tl > 200 AND s IS NULL) t),
          |pieces AS (SELECT doc_id, i - 1 AS i,
          |    CASE WHEN i < nparts THEN part || s ELSE part END AS p,
          |    CASE WHEN i < nparts THEN len(part || s) ELSE len(part) END AS pl
          |  FROM (SELECT doc_id, s, generate_subscripts(ps, 1) AS i, unnest(ps) AS part,
          |      len(ps) AS nparts
          |    FROM (SELECT doc_id, s, string_split(text, s) AS ps
          |      FROM sep WHERE tl > 200 AND s IS NOT NULL) t0) t1),
          |pk AS (
          |  SELECT doc_id, -1 AS i, 0 AS cur, 0 AS buf, 0 AS c, false AS over, '' AS p
          |  FROM (SELECT DISTINCT doc_id FROM pieces) seeds
          |  UNION ALL
          |  SELECT q.doc_id, q.i,
          |    CASE WHEN q.pl > 200 THEN st.cur + CASE WHEN st.buf > 0 THEN 2 ELSE 1 END
          |         WHEN st.buf > 0 AND st.buf + q.pl > 200 THEN st.cur + 1
          |         ELSE st.cur END,
          |    CASE WHEN q.pl > 200 THEN 0
          |         WHEN st.buf > 0 AND st.buf + q.pl > 200 THEN q.pl
          |         ELSE st.buf + q.pl END,
          |    CASE WHEN q.pl > 200 THEN st.cur + CASE WHEN st.buf > 0 THEN 1 ELSE 0 END
          |         WHEN st.buf > 0 AND st.buf + q.pl > 200 THEN st.cur + 1
          |         ELSE st.cur END,
          |    q.pl > 200, q.p
          |  FROM pk st JOIN pieces q ON q.doc_id = st.doc_id AND q.i = st.i + 1),
          |packed AS (SELECT doc_id, c AS ord1, 0 AS ord2, string_agg(p, '' ORDER BY i) AS piece
          |  FROM pk WHERE i >= 0 AND NOT over GROUP BY doc_id, c),
          |overwin AS (SELECT doc_id, ord1, u['k'] AS ord2, u['piece'] AS piece FROM (
          |  SELECT doc_id, c AS ord1, unnest(list_transform(
          |      generate_series(0, CAST(ceil((len(p) - 200) / 150.0) AS BIGINT)),
          |      k -> {'k': k, 'piece': substr(p, CAST(k*150 + 1 AS BIGINT), 200)})) AS u
          |  FROM pk WHERE i >= 0 AND over) t),
          |allp AS (
          |  SELECT doc_id, piece, ord1, ord2 FROM whole
          |  UNION ALL SELECT doc_id, piece, ord1, ord2 FROM winfree
          |  UNION ALL SELECT doc_id, piece, ord1, ord2 FROM packed
          |  UNION ALL SELECT doc_id, piece, ord1, ord2 FROM overwin),
          |fin AS (SELECT doc_id, trim(piece, ' ' || chr(9) || chr(10) || chr(13)) AS chunk,
          |    ord1, ord2 FROM allp)
          |SELECT doc_id,
          |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY ord1, ord2) - 1 AS INTEGER) AS chunk_index,
          |  CAST(count(*) OVER (PARTITION BY doc_id) AS INTEGER) AS total_chunks,
          |  CAST(len(chunk) AS INTEGER) AS chunk_len
          |FROM fin WHERE len(chunk) > 0""".stripMargin.replace("\n", " "),
      "t2_normalize" ->
        s"SELECT doc_id, $normDoc AS norm_text FROM documents",
      "t3_relation_text" ->
        (s"SELECT p_partkey, concat_ws(' ', ${normE("p_brand")}, ${normE("p_type")}, " +
          s"${normE("p_name")}) AS relation_text FROM part"),
      "t4_compose" ->
        """SELECT doc_id, length(p) AS passage_len, md5(p) AS passage_md5 FROM (
          |  SELECT doc_id, concat_ws(chr(10), trim(split_part(text, chr(10), 1)), text) AS p
          |  FROM documents) t""".stripMargin.replace("\n", " "),
      "t5_title" ->
        "SELECT doc_id, trim(split_part(text, chr(10), 1)) AS title FROM documents",
      "g1_explode" ->
        s"SELECT doc_id, CAST(pos AS INTEGER) AS pos, word FROM ($docWords) t",
      "g2_entity_dedup" ->
        s"SELECT md5(name) AS id, name FROM (SELECT DISTINCT word AS name FROM ($docWords) t) d",
      "g10_degree_hist" ->
        s"""SELECT degree, count(*) AS n_entities FROM (
           |  SELECT word, count(DISTINCT doc_id) AS degree FROM ($docWords) t GROUP BY word) g
           |GROUP BY degree""".stripMargin.replace("\n", " "),
      // naive edge³ triple join — same answer as the degree-oriented Spark
      // algorithm (the d8/d9 "different algorithm, same answer" pattern)
      "g11_triangles" ->
        s"""WITH wd AS (SELECT doc_id, unnest(list_distinct($toksDoc)) AS w FROM documents),
           |e AS (SELECT DISTINCT a.w AS u, b.w AS v
           |  FROM wd a JOIN wd b ON a.doc_id = b.doc_id AND a.w < b.w),
           |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
           |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
           |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
           |c AS (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
           |  UNION ALL SELECT z FROM tri)
           |SELECT node, CAST(count(*) AS BIGINT) AS n_triangles
           |FROM c GROUP BY node""".stripMargin.replace("\n", " "),
      // g18: g11's triangle CTEs + a degree aggregate; both ratio factors
      // are exact BIGINTs so the one double division is engine-exact.
      "g18_clustering_coeff" ->
        s"""WITH wd AS (SELECT doc_id, unnest(list_distinct($toksDoc)) AS w FROM documents),
           |e AS (SELECT DISTINCT a.w AS u, b.w AS v
           |  FROM wd a JOIN wd b ON a.doc_id = b.doc_id AND a.w < b.w),
           |deg AS (SELECT node, count(*) AS d FROM
           |  (SELECT u AS node FROM e UNION ALL SELECT v FROM e) n GROUP BY 1),
           |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
           |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
           |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
           |c AS (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
           |  UNION ALL SELECT z FROM tri),
           |tc AS (SELECT node, count(*) AS t FROM c GROUP BY node)
           |SELECT deg.node, deg.d AS degree,
           |  CAST(coalesce(tc.t, 0) AS BIGINT) AS n_triangles,
           |  round(CASE WHEN deg.d < 2 THEN 0.0
           |    ELSE 2.0 * coalesce(tc.t, 0) / CAST(deg.d * (deg.d - 1) AS DOUBLE) END, 6) AS coeff_r
           |FROM deg LEFT JOIN tc ON deg.node = tc.node""".stripMargin.replace("\n", " "),
      "g3_relation_dedup" ->
        (s"SELECT md5(text) AS id, text, n_dups FROM (SELECT concat_ws(' ', ${normE("p_brand")}, " +
          s"${normE("p_type")}, ${normE("p_name")}) AS text, count(*) AS n_dups FROM part GROUP BY 1) t"),
      "g4_adjacency" ->
        s"""SELECT word, array_to_string(list_sort(list(DISTINCT doc_id)), ',') AS doc_ids,
           |count(DISTINCT doc_id) AS n_docs FROM ($docWords) t GROUP BY word""".stripMargin.replace("\n", " "),
      "g6_rel_passage_adjacency" ->
        """SELECT l_orderkey AS relation_id,
          |array_to_string(list_sort(list(DISTINCT CAST(l_partkey AS VARCHAR))), ',') AS passage_ids,
          |count(DISTINCT l_partkey) AS n_passages FROM lineitem GROUP BY 1""".stripMargin.replace("\n", " "),
      "g9_cascade" ->
        s"""SELECT word, array_to_string(list_filter(list_sort(list(DISTINCT doc_id)), d -> d <> 0), ',') AS doc_ids_after
           |FROM ($docWords) t GROUP BY word""".stripMargin.replace("\n", " "),
      "e3_l2_normalize" ->
        """SELECT vec_id, CAST(generate_subscripts(e, 1) AS INTEGER) AS pos,
          |CASE WHEN n = 0 THEN round(unnest(e), 6) ELSE round(unnest(e) / n, 6) END AS component
          |FROM (SELECT vec_id, embedding::DOUBLE[] AS e,
          |      sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS n
          |      FROM embeddings) v""".stripMargin.replace("\n", " "),
      "e6_quantize" ->
        """SELECT vec_id, CAST(generate_subscripts(q, 1) AS INTEGER) AS pos,
          |unnest(q) AS qv, scale
          |FROM (SELECT vec_id, scale,
          |  CASE WHEN scale = 0 THEN list_transform(e, x -> CAST(0 AS INTEGER))
          |       ELSE list_transform(e, x -> CAST(greatest(-127, least(127, floor(x/scale + 0.5))) AS INTEGER)) END AS q
          |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e,
          |        list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
          |        FROM embeddings) s) t""".stripMargin.replace("\n", " "),
      "e7_random_projection" ->
        """WITH js AS (SELECT unnest(generate_series(0, 7)) AS j),
          |sv AS (SELECT j, list_transform(range(0, 64), i ->
          |    CASE WHEN CAST(('0x' || substr(md5('rp_' || CAST(i AS VARCHAR) || '_' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
          |         THEN 1.0 ELSE -1.0 END) AS s FROM js)
          |SELECT e.vec_id, CAST(sv.j AS INTEGER) AS j,
          |  round(list_dot_product(e.embedding::DOUBLE[], sv.s::DOUBLE[]) / sqrt(8.0), 6) AS comp
          |FROM embeddings e CROSS JOIN sv""".stripMargin.replace("\n", " "),
      "e8_hamming_knn" ->
        """WITH sig AS (
          |  SELECT vec_id,
          |    CAST(list_sum(list_transform(range(0,32), i -> CASE WHEN embedding[i+1] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS w0,
          |    CAST(list_sum(list_transform(range(0,32), i -> CASE WHEN embedding[i+33] > 0 THEN (1::BIGINT << i) ELSE 0::BIGINT END)) AS BIGINT) AS w1
          |  FROM embeddings),
          |q AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1 FROM sig WHERE vec_id < 8),
          |scored AS (
          |  SELECT q.query_id, c.vec_id AS neighbor_id,
          |         bit_count(xor(q.q0, c.w0)) + bit_count(xor(q.q1, c.w1)) AS hamming
          |  FROM q CROSS JOIN (SELECT * FROM sig WHERE vec_id >= 8) c)
          |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, CAST(hamming AS INTEGER) AS hamming FROM (
          |  SELECT query_id, neighbor_id, hamming,
          |         row_number() OVER (PARTITION BY query_id ORDER BY hamming ASC, neighbor_id ASC) AS rank
          |  FROM scored) r WHERE rank <= 5""".stripMargin.replace("\n", " "),
      "e9_matryoshka" ->
        """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e, (embedding::DOUBLE[])[1:16] AS p FROM embeddings),
          |q AS (SELECT vec_id AS qid, e AS qe, p AS qp FROM v WHERE vec_id < 8),
          |c AS (SELECT q.qid AS query_id, v.vec_id AS neighbor_id,
          |        list_dot_product(v.p, q.qp) AS ps, v.e, q.qe
          |      FROM v CROSS JOIN q WHERE v.vec_id >= 8),
          |shortl AS (SELECT query_id, neighbor_id, e, qe FROM (
          |    SELECT query_id, neighbor_id, e, qe,
          |      row_number() OVER (PARTITION BY query_id ORDER BY ps DESC, neighbor_id ASC) AS prank
          |    FROM c) t WHERE prank <= 20),
          |f AS (SELECT query_id, neighbor_id, list_dot_product(e, qe) AS fs FROM shortl)
          |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(fs, 6) AS score_r FROM (
          |  SELECT query_id, neighbor_id, fs,
          |    row_number() OVER (PARTITION BY query_id ORDER BY fs DESC, neighbor_id ASC) AS rank
          |  FROM f) t WHERE rank <= 5""".stripMargin.replace("\n", " "),
      "a3_quantized_knn" ->
        """WITH pre AS (
          |  SELECT vec_id,
          |    CASE WHEN scale = 0 THEN list_transform(e, x -> 0.0)
          |         ELSE list_transform(e, x -> CAST(greatest(-127, least(127, floor(x/scale + 0.5))) AS DOUBLE) * scale) END AS dq
          |  FROM (SELECT vec_id, embedding::DOUBLE[] AS e,
          |        list_max(list_transform(embedding::DOUBLE[], x -> abs(x))) / 127.0 AS scale
          |        FROM embeddings) s)
          |SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(score, 6) AS score_r FROM (
          |  SELECT CAST(q.vec_id AS VARCHAR) AS query_id, CAST(c.vec_id AS VARCHAR) AS neighbor_id,
          |         list_dot_product(q.dq, c.dq) AS score,
          |         row_number() OVER (PARTITION BY q.vec_id ORDER BY list_dot_product(q.dq, c.dq) DESC, CAST(c.vec_id AS VARCHAR) ASC) AS rank
          |  FROM pre q, pre c WHERE q.vec_id < 8 AND c.vec_id >= 8) r
          |WHERE rank <= 5""".stripMargin.replace("\n", " "),
      "b1_bm25_topk" ->
        s"""WITH ${bm25Cte("",
             "SELECT 'q0' AS query_id, 'fast vector scan' AS qtext " +
               "UNION ALL SELECT 'q1', 'spark window agg' " +
               "UNION ALL SELECT 'q2', 'customer order join'")}
           |SELECT query_id, CAST(rank AS INTEGER) AS rank, CAST(doc_id AS BIGINT) AS doc_id, round(score, 6) AS score_r
           |FROM (SELECT query_id, id AS doc_id, score,
           |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id ASC) AS rank
           |      FROM sc) r
           |WHERE rank <= 5""".stripMargin.replace("\n", " "),
      // b3: positional self-joins with relative offsets (1-based subscripts
      // cancel in the offset arithmetic); the repeated 'table' term makes
      // p0/p1 the same posting list shifted by one.
      "b3_phrase_match" ->
        s"""WITH dw AS ($docWords),
           |p0 AS (SELECT doc_id, pos FROM dw WHERE word = 'table'),
           |p1 AS (SELECT doc_id, pos - 1 AS pos FROM dw WHERE word = 'table'),
           |p2 AS (SELECT doc_id, pos - 2 AS pos FROM dw WHERE word = 'value')
           |SELECT p0.doc_id, count(*) AS n_hits
           |FROM p0 JOIN p1 USING (doc_id, pos) JOIN p2 USING (doc_id, pos)
           |GROUP BY 1""".stripMargin.replace("\n", " "),
      // b4: the matched-terms Dirichlet decomposition, DOUBLE everywhere the
      // Scala side is; the float dataflow (qtf·ln(1 + tf/(μ·cf/T)) summed,
      // then + qlen·ln(μ/(dl+μ))) mirrors QueryLikelihood.score exactly.
      "b4_query_likelihood" ->
        s"""WITH tok AS (SELECT CAST(doc_id AS VARCHAR) AS id, unnest($toksDoc) AS term FROM documents),
           |tf AS (SELECT term, id, CAST(count(*) AS DOUBLE) AS tf FROM tok GROUP BY 1, 2),
           |dl AS (SELECT id, CAST(count(*) AS DOUBLE) AS dl FROM tok GROUP BY 1),
           |tot AS (SELECT CAST(sum(dl) AS DOUBLE) AS t FROM dl),
           |cf AS (SELECT term, CAST(sum(tf) AS DOUBLE) AS cf FROM tf GROUP BY 1),
           |q AS (SELECT 'q0' AS query_id, 'fast vector scan' AS qtext
           |      UNION ALL SELECT 'q1', 'spark window agg'
           |      UNION ALL SELECT 'q2', 'customer order join'),
           |qt AS (SELECT query_id, term, CAST(count(*) AS DOUBLE) AS qtf
           |  FROM (SELECT query_id, unnest(${toksOf("qtext")}) AS term FROM q) u GROUP BY 1, 2),
           |ql AS (SELECT query_id, CAST(sum(qtf) AS DOUBLE) AS qlen FROM qt GROUP BY 1),
           |sc AS (SELECT qt.query_id, tf.id, dl.dl,
           |    sum(qt.qtf * ln(1.0 + tf.tf / (300.0 * cf.cf / tot.t))) AS s1
           |  FROM qt JOIN tf ON qt.term = tf.term JOIN cf ON tf.term = cf.term
           |    JOIN dl ON tf.id = dl.id CROSS JOIN tot
           |  GROUP BY 1, 2, 3),
           |fin AS (SELECT query_id, id, s1 + ql.qlen * ln(300.0 / (dl + 300.0)) AS score
           |  FROM sc JOIN ql USING (query_id))
           |SELECT query_id, CAST(rank AS INTEGER) AS rank, CAST(doc_id AS BIGINT) AS doc_id, round(score, 6) AS score_r
           |FROM (SELECT query_id, id AS doc_id, score,
           |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id ASC) AS rank
           |      FROM fin) r
           |WHERE rank <= 5""".stripMargin.replace("\n", " "),
      // a4: DuckDB's native list_distance is the independent L2 twin; ties
      // by VARCHAR id like every KNN row.
      "a4_l2_knn" ->
        """SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id,
          |round(dist, 6) AS dist_r FROM (
          |  SELECT CAST(q.vec_id AS VARCHAR) AS query_id,
          |    CAST(c.vec_id AS VARCHAR) AS neighbor_id,
          |    list_distance(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS dist,
          |    row_number() OVER (PARTITION BY q.vec_id
          |      ORDER BY list_distance(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) ASC,
          |        CAST(c.vec_id AS VARCHAR) ASC) AS rank
          |  FROM embeddings q, embeddings c
          |  WHERE q.vec_id < 8 AND c.vec_id >= 8) t
          |WHERE rank <= 5""".stripMargin.replace("\n", " "),
      // b5: the RM3 chain on top of the shared BM25 CTEs — first-pass top-5
      // (ties id-pinned), expansion weights Σ tf/dl anti-joined against the
      // original terms, top-3 by ROUNDED weight (term-asc ties, the x27
      // convention), re-score with the weight as the OUTERMOST factor in the
      // same order as the Spark side (λ=0.5 is a power of two — exact).
      "b5_prf_expansion" ->
        s"""WITH ${bm25Cte("",
             "SELECT 'q0' AS query_id, 'fast vector scan' AS qtext " +
               "UNION ALL SELECT 'q1', 'spark window agg' " +
               "UNION ALL SELECT 'q2', 'customer order join'")},
           |fb AS (SELECT query_id, id FROM (
           |    SELECT query_id, id,
           |      row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id ASC) AS rn
           |    FROM sc) f WHERE rn <= 5),
           |ew AS (SELECT fb.query_id, tf.term, sum(tf.tf / dl.dl) AS w
           |  FROM fb JOIN tf ON tf.id = fb.id JOIN dl ON dl.id = fb.id
           |  GROUP BY 1, 2),
           |ewx AS (SELECT ew.query_id, ew.term, ew.w FROM ew
           |  ANTI JOIN qt ON ew.query_id = qt.query_id AND ew.term = qt.term),
           |ex AS (SELECT query_id, term FROM (
           |    SELECT query_id, term,
           |      row_number() OVER (PARTITION BY query_id ORDER BY round(w, 9) DESC, term ASC) AS rn
           |    FROM ewx) e WHERE rn <= 3),
           |qw AS (SELECT query_id, term, 1.0 AS qw FROM qt
           |  UNION ALL SELECT query_id, term, 0.5 FROM ex),
           |sc2 AS (SELECT qw.query_id, tf.id,
           |  sum(ln(1.0 + (st.n - dfr.df + 0.5) / (dfr.df + 0.5)) * ((tf.tf * (1.2 + 1.0)) / (tf.tf + 1.2 * (0.25 + (0.75 * dl.dl) / st.avgdl))) * qw.qw) AS score
           |  FROM qw JOIN tf ON qw.term = tf.term JOIN dfr ON tf.term = dfr.term JOIN dl ON tf.id = dl.id CROSS JOIN st
           |  GROUP BY 1, 2)
           |SELECT query_id, CAST(rank AS INTEGER) AS rank, CAST(doc_id AS BIGINT) AS doc_id, round(score, 6) AS score_r
           |FROM (SELECT query_id, id AS doc_id, score,
           |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id ASC) AS rank
           |      FROM sc2) r
           |WHERE rank <= 5""".stripMargin.replace("\n", " "),
      // b7: the x11 vocabulary CTE + anti-join for OOV terms + threshold
      // levenshtein ranking; DuckDB's exact distance under <= equals the
      // Spark side's early-abandon form.
      "b7_spell_correct" ->
        s"""WITH v AS (SELECT token, cnt FROM (
           |    SELECT word AS token, count(*) AS cnt FROM ($docWords) dw GROUP BY word) t
           |  WHERE cnt >= 5 ORDER BY cnt DESC, token LIMIT 100),
           |q AS (SELECT 'q0' AS query_id, 'custmer ordr' AS qtext
           |      UNION ALL SELECT 'q1', 'vektor scan'
           |      UNION ALL SELECT 'q2', 'windw agg'),
           |qt AS (SELECT DISTINCT query_id, unnest(${toksOf("qtext")}) AS qterm FROM q),
           |oov AS (SELECT qt.query_id, qt.qterm FROM qt ANTI JOIN v ON qt.qterm = v.token),
           |m AS (SELECT o.query_id, o.qterm, v.token AS suggestion,
           |    CAST(levenshtein(o.qterm, v.token) AS INTEGER) AS dist, v.cnt AS freq
           |  FROM oov o JOIN v ON abs(length(o.qterm) - length(v.token)) <= 2
           |    AND levenshtein(o.qterm, v.token) <= 2)
           |SELECT query_id, qterm, CAST(rank AS INTEGER) AS rank, suggestion, dist, freq
           |FROM (SELECT m.*, row_number() OVER (PARTITION BY query_id, qterm
           |    ORDER BY dist ASC, freq DESC, suggestion ASC) AS rank FROM m) r
           |WHERE rank <= 3""".stripMargin.replace("\n", " "),
      // b6: positional-hit self-join windows (anchored at hits, width 8),
      // argmax as a row_number — 1-based generate_subscripts positions match
      // the Spark side's pos0+1; the snippet is the same list_slice both ways.
      "b6_snippets" ->
        s"""WITH dw AS ($docWords),
           |q AS (SELECT 'q0' AS query_id, 'fast vector scan' AS qtext
           |      UNION ALL SELECT 'q1', 'spark window agg'
           |      UNION ALL SELECT 'q2', 'customer order join'),
           |qt AS (SELECT DISTINCT query_id, unnest(${toksOf("qtext")}) AS term FROM q),
           |m AS (SELECT qt.query_id, dw.doc_id, dw.pos, dw.word
           |  FROM dw JOIN qt ON dw.word = qt.term),
           |w AS (SELECT a.query_id, a.doc_id, a.pos AS s, count(DISTINCT b.word) AS n_terms
           |  FROM m a JOIN m b ON a.query_id = b.query_id AND a.doc_id = b.doc_id
           |    AND b.pos >= a.pos AND b.pos < a.pos + 8 GROUP BY 1, 2, 3),
           |best AS (SELECT query_id, doc_id, s, n_terms,
           |    row_number() OVER (PARTITION BY query_id, doc_id
           |      ORDER BY n_terms DESC, s ASC) AS rn FROM w)
           |SELECT b.query_id, b.doc_id, CAST(b.s AS INTEGER) AS start_pos, b.n_terms,
           |  array_to_string(list_slice(t.w, b.s, b.s + 7), ' ') AS snippet
           |FROM best b JOIN (SELECT doc_id, $toksDoc AS w FROM documents) t
           |  ON b.doc_id = t.doc_id
           |WHERE b.rn = 1""".stripMargin.replace("\n", " "),
      "b2_rrf_hybrid" ->
        s"""WITH ${bm25Cte("WHERE doc_id >= 4",
             "SELECT CAST(doc_id AS VARCHAR) AS query_id, text AS qtext FROM documents WHERE doc_id < 4")},
           |sparse AS (SELECT query_id, id AS doc_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id ASC) AS rank FROM sc),
           |dense AS (SELECT query_id, neighbor_id AS doc_id,
           |    row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           |  FROM (SELECT CAST(q.vec_id AS VARCHAR) AS query_id, CAST(c.vec_id AS VARCHAR) AS neighbor_id,
           |               list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[]) AS score
           |        FROM embeddings q, embeddings c WHERE q.vec_id < 4 AND c.vec_id >= 4) s),
           |contrib AS (
           |  SELECT query_id, doc_id, 1.0 / (60.0 + CAST(rank AS DOUBLE)) AS c FROM dense WHERE rank <= 10
           |  UNION ALL
           |  SELECT query_id, doc_id, 1.0 / (60.0 + CAST(rank AS DOUBLE)) AS c FROM sparse WHERE rank <= 10),
           |fused AS (SELECT query_id, doc_id, sum(c) AS score FROM contrib GROUP BY 1, 2)
           |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INTEGER) AS rank, CAST(doc_id AS BIGINT) AS doc_id, round(score, 6) AS score_r
           |FROM (SELECT query_id, doc_id, score,
           |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, doc_id ASC) AS rank
           |      FROM fused) z
           |WHERE rank <= 5""".stripMargin.replace("\n", " "),
      "tf1_tfidf_topk" ->
        s"""WITH tf AS (SELECT CAST(doc_id AS VARCHAR) AS id, t AS term, CAST(count(*) AS DOUBLE) AS tf
           |  FROM (SELECT doc_id, unnest($toksDoc) AS t FROM documents) u GROUP BY 1, 2),
           |dfx AS (SELECT term, CAST(count(*) AS DOUBLE) AS df FROM tf GROUP BY 1),
           |nx AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
           |w AS (SELECT id, term, tf * ln((SELECT n FROM nx) / df) AS w
           |  FROM tf JOIN dfx USING (term)),
           |nrm AS (SELECT id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY 1),
           |wn AS (SELECT w.id, w.term, w.w / nrm.nrm AS w
           |  FROM w JOIN nrm ON w.id = nrm.id WHERE nrm.nrm > 0),
           |q AS (SELECT CAST(doc_id AS VARCHAR) AS query_id, t AS term, CAST(count(*) AS DOUBLE) AS qtf
           |  FROM (SELECT doc_id, unnest($toksDoc) AS t FROM documents WHERE doc_id < 5) u GROUP BY 1, 2),
           |sc AS (SELECT query_id, wn.id, round(sum(wn.w * q.qtf), 6) AS score
           |  FROM wn JOIN q USING (term) GROUP BY 1, 2)
           |SELECT CAST(query_id AS BIGINT) AS query_id, CAST(rank AS INTEGER) AS rank, CAST(id AS BIGINT) AS doc_id, score AS sim_r
           |FROM (SELECT query_id, id, score,
           |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id ASC) AS rank
           |      FROM sc) z
           |WHERE rank <= 10""".stripMargin.replace("\n", " "),
      "mv1_maxsim" ->
        """WITH q AS (SELECT CAST(vec_id % 2 AS VARCHAR) AS qid, vec_id AS tok, embedding
          |  FROM embeddings WHERE vec_id < 10),
          |d AS (SELECT CAST(vec_id % 100 AS VARCHAR) AS did, embedding
          |  FROM embeddings WHERE vec_id >= 10),
          |mx AS (SELECT q.qid, q.tok, d.did,
          |    max(list_dot_product(q.embedding::DOUBLE[], d.embedding::DOUBLE[])) AS m
          |  FROM q, d GROUP BY 1, 2, 3),
          |sc AS (SELECT qid AS query_id, did, round(sum(m), 6) AS score
          |  FROM mx GROUP BY 1, 2)
          |SELECT query_id, CAST(rank AS INTEGER) AS rank, CAST(did AS BIGINT) AS doc_id, score AS maxsim_r
          |FROM (SELECT query_id, did, score,
          |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, did ASC) AS rank
          |      FROM sc) z
          |WHERE rank <= 10""".stripMargin.replace("\n", " "),
      "r1_knn_topk" ->
        s"""SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id, round(score, 6) AS score_r FROM (
           |  SELECT query_id, neighbor_id, score,
           |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           |  FROM ($knnBase) s) r WHERE rank <= 5""".stripMargin.replace("\n", " "),
      "r3_dedup_union" ->
        s"""SELECT neighbor_id, round(max(score), 6) AS score_r, min(rank) AS best_rank FROM (
           |  SELECT query_id, neighbor_id, score,
           |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           |  FROM ($knnBase) s) r WHERE rank <= 20 AND score > 0.2 GROUP BY neighbor_id""".stripMargin.replace("\n", " "),
      "r7_get_by_ids" ->
        "SELECT p_partkey, p_name, p_brand FROM part WHERE p_partkey % 97 = 0",
      "r8_filtered_knn" ->
        s"""SELECT query_id, CAST(rank AS INTEGER) AS rank, neighbor_id FROM (
           |  SELECT query_id, neighbor_id,
           |         row_number() OVER (PARTITION BY query_id ORDER BY score DESC, neighbor_id ASC) AS rank
           |  FROM ($knnBase AND c.label = 3) s) r WHERE rank <= 5""".stripMargin.replace("\n", " "),
      "p2_hop" ->
        """SELECT DISTINCT l2.l_partkey AS hop_partkey
          |FROM lineitem l1 JOIN lineitem l2 ON l1.l_orderkey = l2.l_orderkey
          |WHERE l1.l_partkey % 211 = 0 AND l2.l_partkey % 211 <> 0""".stripMargin.replace("\n", " "),
      "p4_degree2" ->
        """WITH er AS (SELECT DISTINCT CAST(l_partkey AS VARCHAR) e, CAST(l_orderkey AS VARCHAR) r FROM lineitem),
          |seeds AS (SELECT DISTINCT e FROM er WHERE CAST(e AS BIGINT) % 211 = 0),
          |r0 AS (SELECT DISTINCT r FROM er WHERE e IN (SELECT e FROM seeds)),
          |e1 AS (SELECT DISTINCT e FROM er WHERE r IN (SELECT r FROM r0) AND e NOT IN (SELECT e FROM seeds)),
          |r1 AS (SELECT DISTINCT r FROM er WHERE e IN (SELECT e FROM e1) AND r NOT IN (SELECT r FROM r0)),
          |ents1 AS (SELECT e FROM seeds UNION SELECT e FROM e1),
          |rels1 AS (SELECT r FROM r0 UNION SELECT r FROM r1),
          |e2 AS (SELECT DISTINCT e FROM er WHERE r IN (SELECT r FROM rels1) AND e NOT IN (SELECT e FROM ents1))
          |SELECT e AS entity_id FROM ents1 UNION SELECT e AS entity_id FROM e2""".stripMargin.replace("\n", " "),
      "pr1_pagerank" ->
        """WITH e0 AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |  FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
          |deg AS (SELECT src, count(*) AS d FROM e0 GROUP BY src),
          |nn AS (SELECT count(*) AS cnt FROM deg),
          |r0 AS (SELECT src AS id, 1.0::DOUBLE / (SELECT cnt FROM nn) AS pr FROM deg),
          |c1 AS (SELECT e.dst AS id, sum(r.pr / g.d) AS c FROM e0 e
          |  JOIN r0 r ON e.src = r.id JOIN deg g ON g.src = e.src GROUP BY e.dst),
          |r1 AS (SELECT g.src AS id, 0.15::DOUBLE / (SELECT cnt FROM nn) + 0.85::DOUBLE * coalesce(c.c, 0.0::DOUBLE) AS pr
          |  FROM deg g LEFT JOIN c1 c ON c.id = g.src),
          |c2 AS (SELECT e.dst AS id, sum(r.pr / g.d) AS c FROM e0 e
          |  JOIN r1 r ON e.src = r.id JOIN deg g ON g.src = e.src GROUP BY e.dst),
          |r2 AS (SELECT g.src AS id, 0.15::DOUBLE / (SELECT cnt FROM nn) + 0.85::DOUBLE * coalesce(c.c, 0.0::DOUBLE) AS pr
          |  FROM deg g LEFT JOIN c2 c ON c.id = g.src),
          |c3 AS (SELECT e.dst AS id, sum(r.pr / g.d) AS c FROM e0 e
          |  JOIN r2 r ON e.src = r.id JOIN deg g ON g.src = e.src GROUP BY e.dst),
          |r3 AS (SELECT g.src AS id, 0.15::DOUBLE / (SELECT cnt FROM nn) + 0.85::DOUBLE * coalesce(c.c, 0.0::DOUBLE) AS pr
          |  FROM deg g LEFT JOIN c3 c ON c.id = g.src)
          |SELECT id AS part_id, round(pr, 8) AS pr_r FROM r3
          |ORDER BY pr_r DESC, part_id ASC LIMIT 50""".stripMargin.replace("\n", " "),
      // pr3: DISTINCT (order, part) pairs first (coPairs' collect_set
      // semantics — a part repeated within one order counts once), then 3
      // unrolled rounds with sum(pr · tw), tw = w/Σw precomputed per edge in
      // the Spark side's float form.
      "pr3_weighted_pagerank" ->
        """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          |c0 AS (SELECT a.p AS u, b.p AS v, count(*) AS m
          |  FROM po a JOIN po b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
          |e0 AS (SELECT u AS src, v AS dst, m FROM c0 UNION ALL SELECT v, u, m FROM c0),
          |wd AS (SELECT src, CAST(sum(m) AS BIGINT) AS wd FROM e0 GROUP BY 1),
          |ew AS (SELECT e0.src, e0.dst, CAST(e0.m AS DOUBLE) / CAST(wd.wd AS DOUBLE) AS tw
          |  FROM e0 JOIN wd ON e0.src = wd.src),
          |nn AS (SELECT count(*) AS cnt FROM wd),
          |r0 AS (SELECT src AS id, 1.0::DOUBLE / (SELECT cnt FROM nn) AS pr FROM wd),
          |c1 AS (SELECT e.dst AS id, sum(r.pr * e.tw) AS c FROM ew e
          |  JOIN r0 r ON e.src = r.id GROUP BY e.dst),
          |r1 AS (SELECT w.src AS id, 0.15::DOUBLE / (SELECT cnt FROM nn) + 0.85::DOUBLE * coalesce(c.c, 0.0::DOUBLE) AS pr
          |  FROM wd w LEFT JOIN c1 c ON c.id = w.src),
          |c2 AS (SELECT e.dst AS id, sum(r.pr * e.tw) AS c FROM ew e
          |  JOIN r1 r ON e.src = r.id GROUP BY e.dst),
          |r2 AS (SELECT w.src AS id, 0.15::DOUBLE / (SELECT cnt FROM nn) + 0.85::DOUBLE * coalesce(c.c, 0.0::DOUBLE) AS pr
          |  FROM wd w LEFT JOIN c2 c ON c.id = w.src),
          |c3 AS (SELECT e.dst AS id, sum(r.pr * e.tw) AS c FROM ew e
          |  JOIN r2 r ON e.src = r.id GROUP BY e.dst),
          |r3 AS (SELECT w.src AS id, 0.15::DOUBLE / (SELECT cnt FROM nn) + 0.85::DOUBLE * coalesce(c.c, 0.0::DOUBLE) AS pr
          |  FROM wd w LEFT JOIN c3 c ON c.id = w.src)
          |SELECT id AS part_id, round(pr, 6) AS pr_r FROM r3
          |ORDER BY pr_r DESC, part_id ASC LIMIT 50""".stripMargin.replace("\n", " "),
      "g12_kcore_layers" -> {
        // 8 unrolled peel rounds, generated mechanically (the pr1 pattern at
        // depth): d_r = degrees over the round's surviving edges, rm_r =
        // survivors whose degree (0 if edge-less) dropped below k, a_r/e_r =
        // the induced survivors. Layers = union of rm_1..rm_8 + core at 0.
        val R = 8
        val rounds = (1 to R).map { r =>
          // MATERIALIZED: each round references the previous one 3x — plain
          // CTE inlining would expand the chain exponentially (observed as
          // "too many open files" re-scanning lineitem at round depth 8)
          s"""d$r AS MATERIALIZED (SELECT src, count(*) AS d FROM e${r - 1} GROUP BY src),
             |rm$r AS MATERIALIZED (SELECT a.id FROM a${r - 1} a LEFT JOIN d$r d ON d.src = a.id
             |  WHERE coalesce(d.d, 0) < 80),
             |a$r AS MATERIALIZED (SELECT id FROM a${r - 1} WHERE id NOT IN (SELECT id FROM rm$r)),
             |e$r AS MATERIALIZED (SELECT e.src, e.dst FROM e${r - 1} e
             |  JOIN a$r x ON e.src = x.id JOIN a$r y ON e.dst = y.id)""".stripMargin
        }.mkString(",\n")
        val layers = (1 to R)
          .map(r => s"SELECT id, $r AS layer FROM rm$r").mkString(" UNION ALL ")
        s"""WITH c0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
           |  FROM lineitem a JOIN lineitem b
           |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
           |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM c0 UNION ALL SELECT v, u FROM c0),
           |a0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM e0),
           |$rounds
           |SELECT id AS part_id, CAST(layer AS INTEGER) AS layer FROM (
           |  $layers UNION ALL SELECT id, 0 AS layer FROM a$R) t""".stripMargin.replace("\n", " ")
      },
      "g13_labelprop" ->
        s"""WITH $lpaCtes
           |SELECT id AS part_id, label FROM l4""".stripMargin.replace("\n", " "),
      // g21: g18's CTEs + one direction-expanded edge⋈degree join for the
      // neighbor-degree mean (exact integer sum / count).
      // g27: 3 unrolled peel rounds, each = naive ordered triple-join
      // triangle enumeration (different algorithm than the Spark side's
      // degree-ordered kernel — same answer, the g11 contract), per-edge
      // support via the 3-edges-per-triangle union, then the < k-2 cut.
      "g27_truss_layers" -> {
        val roundCte = (n: Int) =>
          s"""t$n AS (SELECT a.u AS x, a.v AS y, b.v AS z
             |  FROM e${n - 1} a JOIN e${n - 1} b ON a.u = b.u AND a.v < b.v
             |  JOIN e${n - 1} c ON c.u = a.v AND c.v = b.v),
             |s$n AS (SELECT u, v, count(*) AS sup FROM (
             |  SELECT x AS u, y AS v FROM t$n UNION ALL SELECT x, z FROM t$n
             |  UNION ALL SELECT y, z FROM t$n) q GROUP BY 1, 2),
             |d$n AS (SELECT e.u, e.v, coalesce(s.sup, 0) AS sup
             |  FROM e${n - 1} e LEFT JOIN s$n s ON s.u = e.u AND s.v = e.v),
             |e$n AS MATERIALIZED (SELECT u, v FROM d$n WHERE sup >= 2)""".stripMargin
        s"""WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
           |e0 AS MATERIALIZED (SELECT a.p AS u, b.p AS v FROM po a
           |  JOIN po b ON a.o = b.o AND a.p < b.p
           |  GROUP BY 1, 2 HAVING count(*) >= 2),
           |${(1 to 4).map(roundCte).mkString(",\n")}
           |SELECT part_u, part_v, layer, CAST(sup AS BIGINT) AS support FROM (
           |  SELECT u AS part_u, v AS part_v, 1 AS layer, sup FROM d1 WHERE sup < 2
           |  UNION ALL SELECT u, v, 2, sup FROM d2 WHERE sup < 2
           |  UNION ALL SELECT u, v, 3, sup FROM d3 WHERE sup < 2
           |  UNION ALL SELECT u, v, 0, sup FROM d4) f""".stripMargin.replace("\n", " ")
      },
      "g21_ego_features" ->
        s"""WITH wd AS (SELECT doc_id, unnest(list_distinct($toksDoc)) AS w FROM documents),
           |e AS (SELECT DISTINCT a.w AS u, b.w AS v
           |  FROM wd a JOIN wd b ON a.doc_id = b.doc_id AND a.w < b.w),
           |deg AS (SELECT node, count(*) AS d FROM
           |  (SELECT u AS node FROM e UNION ALL SELECT v FROM e) n GROUP BY 1),
           |e2 AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
           |nb AS (SELECT e2.a AS node, avg(CAST(deg.d AS DOUBLE)) AS an
           |  FROM e2 JOIN deg ON deg.node = e2.b GROUP BY 1),
           |tri AS (SELECT e1.u AS x, e1.v AS y, e2.v AS z
           |  FROM e e1 JOIN e e2 ON e1.u = e2.u AND e1.v < e2.v
           |  JOIN e e3 ON e3.u = e1.v AND e3.v = e2.v),
           |c AS (SELECT x AS node FROM tri UNION ALL SELECT y FROM tri
           |  UNION ALL SELECT z FROM tri),
           |tc AS (SELECT node, count(*) AS t FROM c GROUP BY node)
           |SELECT deg.node, deg.d AS degree,
           |  CAST(coalesce(tc.t, 0) AS BIGINT) AS n_triangles,
           |  round(CASE WHEN deg.d < 2 THEN 0.0
           |    ELSE 2.0 * coalesce(tc.t, 0) / CAST(deg.d * (deg.d - 1) AS DOUBLE) END, 6) AS coeff_r,
           |  round(nb.an, 6) AS avg_nbr_deg_r
           |FROM deg LEFT JOIN tc ON deg.node = tc.node
           |  JOIN nb ON nb.node = deg.node""".stripMargin.replace("\n", " "),
      // g19: the same 4-round LPA CTEs + modularity assembly — one
      // edge⋈labels⋈labels join, two label-keyed counts, a node count and
      // the directed-edge total; the contribution as the EXACT BIGINT
      // rational (n_in·E − deg_sum², E²), no float arithmetic anywhere.
      "g19_modularity" ->
        s"""WITH $lpaCtes,
           |j AS (SELECT e.src, e.dst, la.label AS la, lb.label AS lb
           |  FROM e0 e JOIN l4 la ON la.id = e.src JOIN l4 lb ON lb.id = e.dst),
           |etot AS (SELECT CAST(count(*) AS BIGINT) AS e FROM e0),
           |nn AS (SELECT label, count(*) AS n_nodes FROM l4 GROUP BY 1),
           |ds AS (SELECT la AS label, count(*) AS deg_sum FROM j GROUP BY 1),
           |din AS (SELECT la AS label, count(*) AS n_in FROM j WHERE la = lb GROUP BY 1)
           |SELECT nn.label AS community, nn.n_nodes,
           |  CAST(coalesce(din.n_in, 0) AS BIGINT) AS n_in_edges,
           |  CAST(coalesce(ds.deg_sum, 0) AS BIGINT) AS deg_sum,
           |  CAST(coalesce(din.n_in, 0) * etot.e
           |    - coalesce(ds.deg_sum, 0) * coalesce(ds.deg_sum, 0) AS BIGINT) AS contrib_num,
           |  CAST(etot.e * etot.e AS BIGINT) AS contrib_den
           |FROM nn LEFT JOIN ds ON nn.label = ds.label
           |  LEFT JOIN din ON nn.label = din.label, etot""".stripMargin.replace("\n", " "),
      // g25/g26: the weighted twins — c0's multiplicity m rides the same
      // LPA CTEs; every count becomes sum(m), the rationals stay integral.
      "g25_weighted_modularity" ->
        s"""WITH $lpaCtes,
           |ew AS (SELECT u AS src, v AS dst, m FROM c0 UNION ALL SELECT v, u, m FROM c0),
           |j AS (SELECT ew.m, la.label AS la, lb.label AS lb
           |  FROM ew JOIN l4 la ON la.id = ew.src JOIN l4 lb ON lb.id = ew.dst),
           |wt AS (SELECT CAST(sum(m) AS BIGINT) AS w FROM ew),
           |nn AS (SELECT label, count(*) AS n_nodes FROM l4 GROUP BY 1),
           |ds AS (SELECT la AS label, CAST(sum(m) AS BIGINT) AS s FROM j GROUP BY 1),
           |din AS (SELECT la AS label, CAST(sum(m) AS BIGINT) AS wi FROM j WHERE la = lb GROUP BY 1)
           |SELECT nn.label AS community, nn.n_nodes,
           |  CAST(coalesce(din.wi, 0) AS BIGINT) AS w_in,
           |  CAST(coalesce(ds.s, 0) AS BIGINT) AS w_deg,
           |  CAST(coalesce(din.wi, 0) * wt.w
           |    - coalesce(ds.s, 0) * coalesce(ds.s, 0) AS BIGINT) AS contrib_num,
           |  CAST(wt.w * wt.w AS BIGINT) AS contrib_den
           |FROM nn LEFT JOIN ds ON nn.label = ds.label
           |  LEFT JOIN din ON nn.label = din.label, wt""".stripMargin.replace("\n", " "),
      "g26_weighted_conductance" ->
        s"""WITH $lpaCtes,
           |ew AS (SELECT u AS src, v AS dst, m FROM c0 UNION ALL SELECT v, u, m FROM c0),
           |j AS (SELECT ew.m, la.label AS la, lb.label AS lb
           |  FROM ew JOIN l4 la ON la.id = ew.src JOIN l4 lb ON lb.id = ew.dst),
           |nn AS (SELECT label, count(*) AS n_nodes FROM l4 GROUP BY 1),
           |vol AS (SELECT la AS label, sum(m) AS v FROM j GROUP BY 1),
           |cut AS (SELECT la AS label, sum(m) AS c FROM j WHERE la <> lb GROUP BY 1),
           |vt AS (SELECT sum(m) AS v FROM j)
           |SELECT nn.label AS community, nn.n_nodes,
           |  CAST(coalesce(vol.v, 0) AS BIGINT) AS w_volume,
           |  CAST(coalesce(cut.c, 0) AS BIGINT) AS w_cut,
           |  round(CASE WHEN least(coalesce(vol.v, 0),
           |      (SELECT v FROM vt) - coalesce(vol.v, 0)) > 0
           |    THEN CAST(coalesce(cut.c, 0) AS DOUBLE)
           |      / CAST(least(coalesce(vol.v, 0),
           |          (SELECT v FROM vt) - coalesce(vol.v, 0)) AS DOUBLE) END, 6) AS phi_r
           |FROM nn LEFT JOIN vol ON nn.label = vol.label
           |  LEFT JOIN cut ON nn.label = cut.label""".stripMargin.replace("\n", " "),
      "pr2_personalized" ->
        """WITH e0 AS (SELECT DISTINCT a.l_partkey AS src, b.l_partkey AS dst
          |  FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey),
          |deg AS (SELECT src, count(*) AS d FROM e0 GROUP BY src),
          |seeds AS (SELECT src AS id FROM deg WHERE src % 100 = 0),
          |ns AS (SELECT count(*) AS s FROM seeds),
          |tp AS (SELECT g.src AS id,
          |    CASE WHEN s2.id IS NOT NULL THEN 1.0::DOUBLE / (SELECT s FROM ns) ELSE 0.0::DOUBLE END AS t
          |  FROM deg g LEFT JOIN seeds s2 ON s2.id = g.src),
          |r0 AS (SELECT id, t AS pr FROM tp),
          |c1 AS (SELECT e.dst AS id, sum(r.pr / g.d) AS c FROM e0 e
          |  JOIN r0 r ON e.src = r.id JOIN deg g ON g.src = e.src GROUP BY e.dst),
          |r1 AS (SELECT tp.id, 0.15::DOUBLE * tp.t + 0.85::DOUBLE * coalesce(c.c, 0.0::DOUBLE) AS pr
          |  FROM tp LEFT JOIN c1 c ON c.id = tp.id),
          |c2 AS (SELECT e.dst AS id, sum(r.pr / g.d) AS c FROM e0 e
          |  JOIN r1 r ON e.src = r.id JOIN deg g ON g.src = e.src GROUP BY e.dst),
          |r2 AS (SELECT tp.id, 0.15::DOUBLE * tp.t + 0.85::DOUBLE * coalesce(c.c, 0.0::DOUBLE) AS pr
          |  FROM tp LEFT JOIN c2 c ON c.id = tp.id),
          |c3 AS (SELECT e.dst AS id, sum(r.pr / g.d) AS c FROM e0 e
          |  JOIN r2 r ON e.src = r.id JOIN deg g ON g.src = e.src GROUP BY e.dst),
          |r3 AS (SELECT tp.id, 0.15::DOUBLE * tp.t + 0.85::DOUBLE * coalesce(c.c, 0.0::DOUBLE) AS pr
          |  FROM tp LEFT JOIN c3 c ON c.id = tp.id)
          |SELECT id AS part_id, round(pr, 8) AS pr_r FROM r3
          |ORDER BY pr_r DESC, part_id ASC LIMIT 50""".stripMargin.replace("\n", " "),
      "g14_hits" ->
        """WITH e AS MATERIALIZED (SELECT DISTINCT l_suppkey AS src, l_partkey AS dst FROM lineitem),
          |h0 AS (SELECT DISTINCT src AS id, 1.0::DOUBLE AS s FROM e),
          |a1r AS MATERIALIZED (SELECT e.dst AS id, sum(h.s) AS s FROM e JOIN h0 h ON e.src = h.id GROUP BY e.dst),
          |a1 AS MATERIALIZED (SELECT id, s / (SELECT max(s) FROM a1r) AS s FROM a1r),
          |h1r AS MATERIALIZED (SELECT e.src AS id, sum(a.s) AS s FROM e JOIN a1 a ON e.dst = a.id GROUP BY e.src),
          |h1 AS MATERIALIZED (SELECT id, s / (SELECT max(s) FROM h1r) AS s FROM h1r),
          |a2r AS MATERIALIZED (SELECT e.dst AS id, sum(h.s) AS s FROM e JOIN h1 h ON e.src = h.id GROUP BY e.dst),
          |a2 AS MATERIALIZED (SELECT id, s / (SELECT max(s) FROM a2r) AS s FROM a2r),
          |h2r AS MATERIALIZED (SELECT e.src AS id, sum(a.s) AS s FROM e JOIN a2 a ON e.dst = a.id GROUP BY e.src),
          |h2 AS MATERIALIZED (SELECT id, s / (SELECT max(s) FROM h2r) AS s FROM h2r),
          |u AS (SELECT 'hub' AS role, id, round(s, 6) AS score_r FROM h2
          |      UNION ALL SELECT 'auth' AS role, id, round(s, 6) AS score_r FROM a2)
          |SELECT role, id, score_r FROM (
          |  SELECT role, id, score_r,
          |    row_number() OVER (PARTITION BY role ORDER BY score_r DESC, id ASC) AS rk
          |  FROM u) t WHERE rk <= 40""".stripMargin.replace("\n", " "),
      // g15: wedges routed through the center w (degree-capped at 64 BEFORE
      // the join, carrying deg(w) on the row), aggregated per canonical
      // (u < v) pair, known edges anti-joined out, AA rounded at 6 (pr1
      // float contract). Base graph = the g13 sparsified co-occurrence.
      "g15_adamic_adar" ->
        """WITH c0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
          |  FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |  GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
          |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM c0 UNION ALL SELECT v, u FROM c0),
          |deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e0 GROUP BY src),
          |wed AS (SELECT l1.src AS u, l2.dst AS v, dw.d AS dw
          |  FROM e0 l1 JOIN deg dw ON dw.src = l1.dst AND dw.d <= 64
          |  JOIN e0 l2 ON l2.src = l1.dst AND l1.src < l2.dst),
          |agg AS (SELECT u, v, count(*) AS common, sum(1.0::DOUBLE / ln(dw)) AS aa
          |  FROM wed GROUP BY u, v),
          |cand AS (SELECT g.u, g.v, g.common, g.aa FROM agg g
          |  LEFT JOIN c0 k ON k.u = g.u AND k.v = g.v WHERE k.u IS NULL)
          |SELECT u AS src, v AS dst, common, round(aa, 6) AS aa_r FROM cand
          |ORDER BY aa_r DESC, src ASC, dst ASC LIMIT 50""".stripMargin.replace("\n", " "),
      // g16: the shared walkCtes replay, projected as walk rows.
      "g16_random_walks" ->
        s"$walkCtes SELECT walk_id, step, node FROM wk",
      // w2v1: skip-gram pairs from the SAME walks — window-2 band self-join
      // on walk_id, integer pair counts (order-free, exact).
      "w2v1_skipgram_pairs" ->
        (s"$walkCtes SELECT a.node AS center, b.node AS context, " +
          "CAST(count(*) AS BIGINT) AS pair_count FROM wk a JOIN wk b " +
          "ON a.walk_id = b.walk_id AND a.step <> b.step " +
          "AND abs(a.step - b.step) <= 2 GROUP BY 1, 2"),
      // g30: three unrolled node2vec steps — candidates + triangle left-join
      // + CASE weights, two window sums (integer CDF), md5-mod draw, first
      // crossing by min dst. Exactly the Scala dataflow, all integers.
      "g30_node2vec_walks" ->
        s"$n2vCtes SELECT walk_id, step, node FROM wk2",
      // w2v2: the FULL node2vec pipeline cross-engine — skip-gram window-2
      // pairs over the SAME biased walks (band self-join, integer counts).
      "w2v2_node2vec_pairs" ->
        (s"$n2vCtes SELECT a.node AS center, b.node AS context, " +
          "CAST(count(*) AS BIGINT) AS pair_count FROM wk2 a JOIN wk2 b " +
          "ON a.walk_id = b.walk_id AND a.step <> b.step " +
          "AND abs(a.step - b.step) <= 2 GROUP BY 1, 2"),
      // fi1: A-priori level-2 replay — same prune, same pair join, same
      // integer lift_ppm via DuckDB's floor-division `//`.
      "fi1_frequent_pairs" ->
        """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
          |ic AS (SELECT i, count(*) AS c FROM bi GROUP BY 1 HAVING count(*) >= 2),
          |nb AS (SELECT count(DISTINCT b) AS n FROM bi),
          |pr AS (SELECT bi.b, bi.i FROM bi JOIN ic ON ic.i = bi.i),
          |pairs AS (SELECT a.i AS item_a, b2.i AS item_b, count(*) AS support
          |  FROM pr a JOIN pr b2 ON a.b = b2.b AND a.i < b2.i
          |  GROUP BY 1, 2 HAVING count(*) >= 2)
          |SELECT p.item_a, p.item_b, CAST(p.support AS BIGINT) AS support,
          |  CAST(ca.c AS BIGINT) AS count_a, CAST(cb.c AS BIGINT) AS count_b,
          |  CAST(nb.n AS BIGINT) AS n_baskets,
          |  CAST((1000000::HUGEINT * p.support * nb.n) // (ca.c::HUGEINT * cb.c) AS BIGINT) AS lift_ppm
          |FROM pairs p JOIN ic ca ON ca.i = p.item_a
          |JOIN ic cb ON cb.i = p.item_b CROSS JOIN nb""".stripMargin.replace("\n", " "),
      // fi2: the PCY prune replayed bucket-for-bucket — same CTE front as
      // fi1, then the md5 bucket hash, the heavy-bucket HAVING, and the
      // semi-join before the pair count. Output must equal fi1 exactly
      // (a bucket's count bounds every resident pair's support).
      "fi2_pcy_pairs" ->
        """WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
          |ic AS (SELECT i, count(*) AS c FROM bi GROUP BY 1 HAVING count(*) >= 2),
          |nb AS (SELECT count(DISTINCT b) AS n FROM bi),
          |pr AS (SELECT bi.b, bi.i FROM bi JOIN ic ON ic.i = bi.i),
          |cand AS (SELECT a.i AS item_a, b2.i AS item_b,
          |    CAST(('0x' || substr(md5(CAST(a.i AS VARCHAR) || '|' || CAST(b2.i AS VARCHAR)), 1, 8)) AS BIGINT) % 1048576 AS bk
          |  FROM pr a JOIN pr b2 ON a.b = b2.b AND a.i < b2.i),
          |hb AS (SELECT bk FROM cand GROUP BY 1 HAVING count(*) >= 2),
          |pairs AS (SELECT item_a, item_b, count(*) AS support
          |  FROM cand JOIN hb USING (bk)
          |  GROUP BY 1, 2 HAVING count(*) >= 2)
          |SELECT p.item_a, p.item_b, CAST(p.support AS BIGINT) AS support,
          |  CAST(ca.c AS BIGINT) AS count_a, CAST(cb.c AS BIGINT) AS count_b,
          |  CAST(nb.n AS BIGINT) AS n_baskets,
          |  CAST((1000000::HUGEINT * p.support * nb.n) // (ca.c::HUGEINT * cb.c) AS BIGINT) AS lift_ppm
          |FROM pairs p JOIN ic ca ON ca.i = p.item_a
          |JOIN ic cb ON cb.i = p.item_b CROSS JOIN nb""".stripMargin.replace("\n", " "),
      // pca1: quantized integer moment sums — float32→double widening and
      // ⌊x·10⁴⌋ are IEEE-identical across engines, integer sums order-free.
      "pca1_moments" ->
        """WITH q AS (SELECT list_transform(embedding,
          |    x -> CAST(floor(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv FROM embeddings),
          |ij AS (SELECT a.i, b.j FROM (SELECT unnest(range(0, 64)) AS i) a
          |  JOIN (SELECT unnest(range(0, 64)) AS j) b ON a.i <= b.j)
          |SELECT CAST(ij.i AS INTEGER) AS i, CAST(ij.j AS INTEGER) AS j,
          |  CAST(count(*) AS BIGINT) AS n,
          |  CAST(sum(q.qv[ij.i + 1]) AS BIGINT) AS sx,
          |  CAST(sum(q.qv[ij.j + 1]) AS BIGINT) AS sy,
          |  CAST(sum(q.qv[ij.i + 1] * q.qv[ij.j + 1]) AS BIGINT) AS sxy
          |FROM q CROSS JOIN ij GROUP BY 1, 2""".stripMargin.replace("\n", " "),
      // dv1: each check replayed as a FILTER count / distinct-count /
      // NOT-IN-subquery count; integer ppm via floor division.
      "dv1_validation_report" ->
        """WITH n AS (SELECT count(*) AS n_rows FROM lineitem),
          |v AS (
          |  SELECT 'quantity_not_null' AS check_name,
          |    count(*) FILTER (WHERE l_quantity IS NULL) AS violations FROM lineitem
          |  UNION ALL SELECT 'quantity_1_30', count(*) FILTER (WHERE l_quantity IS NOT NULL
          |    AND (l_quantity < 1.0 OR l_quantity > 30.0)) FROM lineitem
          |  UNION ALL SELECT 'discount_0_10pct', count(*) FILTER (WHERE l_discount IS NOT NULL
          |    AND (l_discount < 0.0 OR l_discount > 0.1)) FROM lineitem
          |  UNION ALL SELECT 'returnflag_A_N', count(*) FILTER (WHERE l_returnflag IS NOT NULL
          |    AND l_returnflag NOT IN ('A', 'N')) FROM lineitem
          |  UNION ALL SELECT 'linestatus_upper', count(*) FILTER (WHERE l_linestatus IS NOT NULL
          |    AND NOT regexp_matches(l_linestatus, '^[A-Z]$')) FROM lineitem
          |  UNION ALL SELECT 'order_line_unique',
          |    count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
          |  UNION ALL SELECT 'partkey_unique',
          |    count(*) - count(DISTINCT l_partkey) FROM lineitem
          |  UNION ALL SELECT 'orderkey_fk', count(*) FILTER (WHERE l_orderkey IS NOT NULL
          |    AND l_orderkey NOT IN (SELECT o_orderkey FROM orders WHERE o_orderkey IS NOT NULL)) FROM lineitem)
          |SELECT v.check_name, CAST(v.violations AS BIGINT) AS violations,
          |  CAST(n.n_rows AS BIGINT) AS n_rows,
          |  CAST((1000000 * v.violations) // n.n_rows AS BIGINT) AS violation_ppm
          |FROM v CROSS JOIN n""".stripMargin.replace("\n", " "),
      // pv1/pv2: equivalence classes then histogram — two GROUP BYs each.
      "pv1_kanonymity" ->
        """WITH ec AS (SELECT l_returnflag, l_linestatus, l_quantity, count(*) AS sz
          |  FROM lineitem GROUP BY 1, 2, 3)
          |SELECT CAST(sz AS BIGINT) AS class_size, CAST(count(*) AS BIGINT) AS n_classes,
          |  CAST(sz * count(*) AS BIGINT) AS n_rows FROM ec GROUP BY sz""".stripMargin.replace("\n", " "),
      "pv2_ldiversity" ->
        """WITH ec AS (SELECT l_returnflag, l_linestatus, l_quantity,
          |    count(DISTINCT l_partkey) AS l FROM lineitem GROUP BY 1, 2, 3)
          |SELECT CAST(l AS BIGINT) AS l_distinct, CAST(count(*) AS BIGINT) AS n_classes
          |FROM ec GROUP BY l""".stripMargin.replace("\n", " "),
      "pv3_generalization_ladder" ->
        """WITH l0 AS (SELECT count(*) AS sz FROM lineitem GROUP BY l_returnflag, l_linestatus, l_quantity),
          |l1 AS (SELECT count(*) AS sz FROM lineitem GROUP BY l_returnflag, l_linestatus, floor(l_quantity / 5)),
          |l2 AS (SELECT count(*) AS sz FROM lineitem GROUP BY l_returnflag, l_linestatus)
          |SELECT CAST(0 AS BIGINT) AS level, 'raw' AS level_name,
          |  CAST(min(sz) AS BIGINT) AS min_class_size, CAST(count(*) AS BIGINT) AS n_classes,
          |  CAST(count(*) FILTER (WHERE sz = 1) AS BIGINT) AS n_unique_rows FROM l0
          |UNION ALL SELECT 1, 'qty_bucket5', CAST(min(sz) AS BIGINT), CAST(count(*) AS BIGINT),
          |  CAST(count(*) FILTER (WHERE sz = 1) AS BIGINT) FROM l1
          |UNION ALL SELECT 2, 'flags_only', CAST(min(sz) AS BIGINT), CAST(count(*) AS BIGINT),
          |  CAST(count(*) FILTER (WHERE sz = 1) AS BIGINT) FROM l2""".stripMargin.replace("\n", " "),
      // dv2: per-column profile rows; fractional min/max through
      // DECIMAL(18,6) (same fixed-point serialization as sim5).
      "dv2_column_profile" ->
        """SELECT 'l_orderkey' AS column_name, CAST(count(*) AS BIGINT) AS n_rows,
          |  CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT) AS n_null,
          |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_distinct,
          |  CAST(min(l_orderkey) AS VARCHAR) AS min_value, CAST(max(l_orderkey) AS VARCHAR) AS max_value FROM lineitem
          |UNION ALL SELECT 'l_partkey', CAST(count(*) AS BIGINT),
          |  CAST(count(*) FILTER (WHERE l_partkey IS NULL) AS BIGINT),
          |  CAST(count(DISTINCT l_partkey) AS BIGINT),
          |  CAST(min(l_partkey) AS VARCHAR), CAST(max(l_partkey) AS VARCHAR) FROM lineitem
          |UNION ALL SELECT 'l_linenumber', CAST(count(*) AS BIGINT),
          |  CAST(count(*) FILTER (WHERE l_linenumber IS NULL) AS BIGINT),
          |  CAST(count(DISTINCT l_linenumber) AS BIGINT),
          |  CAST(min(l_linenumber) AS VARCHAR), CAST(max(l_linenumber) AS VARCHAR) FROM lineitem
          |UNION ALL SELECT 'l_quantity', CAST(count(*) AS BIGINT),
          |  CAST(count(*) FILTER (WHERE l_quantity IS NULL) AS BIGINT),
          |  CAST(count(DISTINCT l_quantity) AS BIGINT),
          |  CAST(CAST(min(l_quantity) AS DECIMAL(18,6)) AS VARCHAR),
          |  CAST(CAST(max(l_quantity) AS DECIMAL(18,6)) AS VARCHAR) FROM lineitem
          |UNION ALL SELECT 'l_returnflag', CAST(count(*) AS BIGINT),
          |  CAST(count(*) FILTER (WHERE l_returnflag IS NULL) AS BIGINT),
          |  CAST(count(DISTINCT l_returnflag) AS BIGINT),
          |  min(l_returnflag), max(l_returnflag) FROM lineitem
          |UNION ALL SELECT 'l_linestatus', CAST(count(*) AS BIGINT),
          |  CAST(count(*) FILTER (WHERE l_linestatus IS NULL) AS BIGINT),
          |  CAST(count(DISTINCT l_linestatus) AS BIGINT),
          |  min(l_linestatus), max(l_linestatus) FROM lineitem""".stripMargin.replace("\n", " "),
      // g17: three unrolled Bellman–Ford rounds — each a union of carry +
      // relax then a (seed, node) min, the identical float dataflow
      // (d_{k+1} = d_k + w, same candidate multiset per min).
      // g28: 3 unrolled unweighted BFS rounds over the m>=2 edges, then
      // integer per-distance counts and the single harmonic expression.
      "g28_harmonic" ->
        """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          |c0 AS (SELECT a.p AS u, b.p AS v FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          |e AS MATERIALIZED (SELECT u AS src, v AS dst FROM c0 UNION ALL SELECT v, u FROM c0),
          |sd AS (SELECT DISTINCT src AS node FROM e WHERE src % 500 = 0),
          |d0 AS (SELECT node AS seed, node, 0 AS d FROM sd),
          |d1 AS MATERIALIZED (SELECT seed, node, min(d) AS d FROM (
          |  SELECT seed, node, d FROM d0
          |  UNION ALL SELECT d0.seed, e.dst, d0.d + 1 FROM d0 JOIN e ON e.src = d0.node) q GROUP BY 1, 2),
          |d2 AS MATERIALIZED (SELECT seed, node, min(d) AS d FROM (
          |  SELECT seed, node, d FROM d1
          |  UNION ALL SELECT d1.seed, e.dst, d1.d + 1 FROM d1 JOIN e ON e.src = d1.node) q GROUP BY 1, 2),
          |d3 AS MATERIALIZED (SELECT seed, node, min(d) AS d FROM (
          |  SELECT seed, node, d FROM d2
          |  UNION ALL SELECT d2.seed, e.dst, d2.d + 1 FROM d2 JOIN e ON e.src = d2.node) q GROUP BY 1, 2),
          |cnt AS (SELECT seed,
          |  CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_d1,
          |  CAST(sum(CASE WHEN d = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_d2,
          |  CAST(sum(CASE WHEN d = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_d3
          |  FROM d3 WHERE d > 0 GROUP BY 1)
          |SELECT seed, n_d1, n_d2, n_d3,
          |  round(n_d1 + n_d2 / 2.0 + n_d3 / 3.0, 6) AS harmonic_r
          |FROM cnt""".stripMargin.replace("\n", " "),
      // g29: Brandes unrolled at 3 hops — BFS levels with INTEGER path
      // counts (anti-joined against the visited set), then dependency
      // accumulation deepest-level-up with every float sum ordered by the
      // successor / seed id (the engine's sorted-array fold order).
      "g29_betweenness" ->
        """WITH po AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem),
          |c0 AS (SELECT a.p AS u, b.p AS v FROM po a JOIN po b ON a.o = b.o AND a.p < b.p
          |  GROUP BY 1, 2 HAVING count(*) >= 2),
          |e AS MATERIALIZED (SELECT u AS src, v AS dst FROM c0 UNION ALL SELECT v, u FROM c0),
          |l0 AS (SELECT DISTINCT src AS seed, src AS node, CAST(1 AS BIGINT) AS sigma
          |  FROM e WHERE src % 500 = 0),
          |l1 AS MATERIALIZED (SELECT seed, node, sigma FROM (
          |    SELECT l0.seed, e.dst AS node, CAST(sum(l0.sigma) AS BIGINT) AS sigma
          |    FROM l0 JOIN e ON e.src = l0.node GROUP BY 1, 2) c
          |  ANTI JOIN l0 USING (seed, node)),
          |l2 AS MATERIALIZED (SELECT seed, node, sigma FROM (
          |    SELECT l1.seed, e.dst AS node, CAST(sum(l1.sigma) AS BIGINT) AS sigma
          |    FROM l1 JOIN e ON e.src = l1.node GROUP BY 1, 2) c
          |  ANTI JOIN (SELECT seed, node FROM l0 UNION ALL SELECT seed, node FROM l1) vis
          |  USING (seed, node)),
          |l3 AS MATERIALIZED (SELECT seed, node, sigma FROM (
          |    SELECT l2.seed, e.dst AS node, CAST(sum(l2.sigma) AS BIGINT) AS sigma
          |    FROM l2 JOIN e ON e.src = l2.node GROUP BY 1, 2) c
          |  ANTI JOIN (SELECT seed, node FROM l0 UNION ALL SELECT seed, node FROM l1
          |    UNION ALL SELECT seed, node FROM l2) vis USING (seed, node)),
          |d2 AS MATERIALIZED (SELECT v.seed, v.node,
          |    sum((CAST(v.sigma AS DOUBLE) / w.sigma) * (1.0 + 0.0) ORDER BY w.node) AS delta
          |  FROM l2 v JOIN e ON e.src = v.node
          |  JOIN l3 w ON w.seed = v.seed AND w.node = e.dst GROUP BY 1, 2),
          |d1 AS MATERIALIZED (SELECT v.seed, v.node,
          |    sum((CAST(v.sigma AS DOUBLE) / w.sigma) * (1.0 + coalesce(d2.delta, 0.0))
          |      ORDER BY w.node) AS delta
          |  FROM l1 v JOIN e ON e.src = v.node
          |  JOIN l2 w ON w.seed = v.seed AND w.node = e.dst
          |  LEFT JOIN d2 ON d2.seed = w.seed AND d2.node = w.node GROUP BY 1, 2),
          |acc AS (SELECT seed, node, delta FROM d1 UNION ALL SELECT seed, node, delta FROM d2)
          |SELECT node, CAST(count(*) AS BIGINT) AS n_seeds,
          |  round(sum(delta ORDER BY seed), 6) AS bc_r
          |FROM acc GROUP BY 1""".stripMargin.replace("\n", " "),
      "g17_bounded_sssp" ->
        """WITH c0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v,
          |    count(DISTINCT a.l_orderkey) AS m
          |  FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |  GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
          |e0 AS MATERIALIZED (SELECT u AS src, v AS dst, 1.0 / m AS w FROM c0
          |  UNION ALL SELECT v, u, 1.0 / m FROM c0),
          |d0 AS (SELECT DISTINCT src AS seed, src AS node, 0.0::DOUBLE AS d
          |  FROM e0 WHERE src % 500 = 0),
          |d1 AS (SELECT seed, node, min(d) AS d FROM (
          |  SELECT seed, node, d FROM d0 UNION ALL
          |  SELECT d0.seed, e.dst AS node, d0.d + e.w AS d
          |  FROM d0 JOIN e0 e ON e.src = d0.node) u GROUP BY 1, 2),
          |d2 AS (SELECT seed, node, min(d) AS d FROM (
          |  SELECT seed, node, d FROM d1 UNION ALL
          |  SELECT d1.seed, e.dst AS node, d1.d + e.w AS d
          |  FROM d1 JOIN e0 e ON e.src = d1.node) u GROUP BY 1, 2),
          |d3 AS (SELECT seed, node, min(d) AS d FROM (
          |  SELECT seed, node, d FROM d2 UNION ALL
          |  SELECT d2.seed, e.dst AS node, d2.d + e.w AS d
          |  FROM d2 JOIN e0 e ON e.src = d2.node) u GROUP BY 1, 2)
          |SELECT seed, node, round(d, 6) AS d_r FROM d3""".stripMargin.replace("\n", " "),
      "v1_eviction" ->
        """SELECT o_custkey,
          |  CASE WHEN cnt > 20 THEN rank_score ELSE rank_id END AS rank,
          |  o_orderkey, (cnt > 20) AS evicted
          |FROM (
          |  SELECT o_custkey, o_orderkey,
          |    count(*) OVER (PARTITION BY o_custkey) AS cnt,
          |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rank_score,
          |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_orderkey ASC) AS rank_id
          |  FROM orders) t
          |WHERE (cnt > 20 AND rank_score <= 20) OR cnt <= 20""".stripMargin.replace("\n", " "),
      "v4_first_seen" ->
        """WITH top AS (
          |  SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS rev
          |  FROM lineitem GROUP BY l_orderkey ORDER BY rev DESC, l_orderkey ASC LIMIT 10),
          |ranked AS (SELECT l_orderkey, row_number() OVER (ORDER BY rev DESC, l_orderkey ASC) AS rel_rank FROM top),
          |exploded AS (
          |  SELECT r.rel_rank, li.l_linenumber AS pos, li.l_partkey
          |  FROM lineitem li JOIN ranked r ON li.l_orderkey = r.l_orderkey),
          |first_seen AS (
          |  SELECT *, row_number() OVER (PARTITION BY l_partkey ORDER BY rel_rank ASC, pos ASC) AS rn
          |  FROM exploded)
          |SELECT rank, l_partkey FROM (
          |  SELECT l_partkey, row_number() OVER (ORDER BY rel_rank ASC, pos ASC, l_partkey ASC) AS rank
          |  FROM first_seen WHERE rn = 1) t WHERE rank <= 20""".stripMargin.replace("\n", " "),
      "v5_backfill" ->
        """WITH g AS (
          |  SELECT passage_id, r FROM (
          |    SELECT CAST(o_orderkey AS VARCHAR) AS passage_id,
          |      CAST(row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS r
          |    FROM orders) t WHERE r <= 5),
          |nv AS (
          |  SELECT passage_id, r FROM (
          |    SELECT CAST(o_orderkey AS VARCHAR) AS passage_id,
          |      CAST(row_number() OVER (ORDER BY o_orderkey ASC) AS INTEGER) AS r
          |    FROM orders) t WHERE r <= 10),
          |u AS (
          |  SELECT passage_id, r FROM g
          |  UNION ALL
          |  SELECT nv.passage_id, nv.r + 1000000 FROM nv ANTI JOIN g USING (passage_id))
          |SELECT passage_id, CAST(rk AS INTEGER) AS rank FROM (
          |  SELECT passage_id, row_number() OVER (ORDER BY r ASC, passage_id ASC) AS rk FROM u) z
          |WHERE rk <= 8""".stripMargin.replace("\n", " "),
      "m2_gold_titles" ->
        """SELECT DISTINCT question_id, sf[1] AS item FROM (
          |  SELECT CAST(doc_id AS VARCHAR) AS question_id,
          |    unnest([[trim(split_part(text, chr(10), 1)), '0'],
          |            ['doc-' || CAST(doc_id AS VARCHAR), '1']]) AS sf
          |  FROM documents WHERE doc_id < 50) t""".stripMargin.replace("\n", " "),
      "m3_macro_avg" ->
        """WITH q AS (SELECT CAST(vec_id AS VARCHAR) qid, embedding::DOUBLE[] qv, label ql FROM embeddings WHERE vec_id < 20),
          |c AS (SELECT CAST(vec_id AS VARCHAR) cid, embedding::DOUBLE[] cv, label cl FROM embeddings WHERE vec_id >= 20 AND vec_id < 220),
          |hits AS (SELECT qid, cid, rank FROM (
          |  SELECT q.qid, c.cid,
          |    row_number() OVER (PARTITION BY q.qid ORDER BY list_dot_product(qv, cv) DESC, c.cid ASC) AS rank
          |  FROM q, c) t WHERE rank <= 5),
          |gold AS (SELECT q.qid, c.cid FROM q JOIN c ON q.ql = c.cl),
          |gn AS (SELECT qid, count(*) AS g FROM gold GROUP BY 1),
          |gh AS (SELECT h.qid, h.rank FROM hits h JOIN gold gd ON h.qid = gd.qid AND h.cid = gd.cid),
          |perq AS (SELECT gn.qid,
          |  CAST(count(CASE WHEN gh.rank <= 1 THEN 1 END) AS DOUBLE) / gn.g AS r1,
          |  CAST(count(CASE WHEN gh.rank <= 2 THEN 1 END) AS DOUBLE) / gn.g AS r2,
          |  CAST(count(CASE WHEN gh.rank <= 5 THEN 1 END) AS DOUBLE) / gn.g AS r5
          |  FROM gn LEFT JOIN gh ON gn.qid = gh.qid GROUP BY gn.qid, gn.g)
          |SELECT round(avg(r1), 6) AS avg_recall_at_1, round(avg(r2), 6) AS avg_recall_at_2,
          |  round(avg(r5), 6) AS avg_recall_at_5 FROM perq""".stripMargin.replace("\n", " "),
      "m1_recall" ->
        """WITH q AS (SELECT CAST(vec_id AS VARCHAR) query_id, embedding::DOUBLE[] qv, label ql FROM embeddings WHERE vec_id < 20),
          |c AS (SELECT CAST(vec_id AS VARCHAR) neighbor_id, embedding::DOUBLE[] cv, label cl FROM embeddings WHERE vec_id >= 20),
          |hits AS (
          |  SELECT query_id, neighbor_id, ql, cl,
          |    row_number() OVER (PARTITION BY query_id ORDER BY list_dot_product(qv, cv) DESC, neighbor_id ASC) AS rank
          |  FROM q, c)
          |SELECT query_id, sum(CASE WHEN ql = cl THEN 1 ELSE 0 END) / 5.0 AS recall_at_5
          |FROM hits WHERE rank <= 5 GROUP BY query_id""".stripMargin.replace("\n", " "),
      "m4_ndcg" ->
        """WITH q AS (SELECT CAST(vec_id AS VARCHAR) qid, embedding::DOUBLE[] qv, label ql FROM embeddings WHERE vec_id < 20),
          |c AS (SELECT CAST(vec_id AS VARCHAR) cid, embedding::DOUBLE[] cv, label cl FROM embeddings WHERE vec_id >= 20 AND vec_id < 220),
          |hits AS (SELECT qid, cid, rank FROM (
          |  SELECT q.qid, c.cid,
          |    row_number() OVER (PARTITION BY q.qid ORDER BY list_dot_product(qv, cv) DESC, c.cid ASC) AS rank
          |  FROM q, c) t WHERE rank <= 5),
          |gold AS (SELECT q.qid, c.cid FROM q JOIN c ON q.ql = c.cl),
          |gn AS (SELECT qid, count(*) AS g FROM gold GROUP BY 1),
          |dcg AS (SELECT h.qid, sum(1.0 / log2(h.rank + 1)) AS d
          |  FROM hits h JOIN gold gd ON h.qid = gd.qid AND h.cid = gd.cid GROUP BY 1),
          |idcg AS (SELECT qid, sum(1.0 / log2(r + 1)) AS i FROM (
          |  SELECT qid, unnest(generate_series(1, least(g, 5))) AS r FROM gn) t GROUP BY 1)
          |SELECT gn.qid AS question_id,
          |  round(coalesce(dcg.d, 0.0) / idcg.i, 6) AS ndcg_at_5
          |FROM gn JOIN idcg ON gn.qid = idcg.qid
          |LEFT JOIN dcg ON gn.qid = dcg.qid""".stripMargin.replace("\n", " "),
      // m5: first-gold-hit rank per question, reciprocal, 0 when none.
      "m5_mrr" ->
        """WITH q AS (SELECT CAST(vec_id AS VARCHAR) qid, embedding::DOUBLE[] qv, label ql FROM embeddings WHERE vec_id < 20),
          |c AS (SELECT CAST(vec_id AS VARCHAR) cid, embedding::DOUBLE[] cv, label cl FROM embeddings WHERE vec_id >= 20 AND vec_id < 220),
          |hits AS (SELECT qid, cid, rank FROM (
          |  SELECT q.qid, c.cid,
          |    row_number() OVER (PARTITION BY q.qid ORDER BY list_dot_product(qv, cv) DESC, c.cid ASC) AS rank
          |  FROM q, c) t WHERE rank <= 5),
          |gold AS (SELECT q.qid, c.cid FROM q JOIN c ON q.ql = c.cl),
          |gn AS (SELECT qid FROM gold GROUP BY 1),
          |fr AS (SELECT h.qid, min(h.rank) AS r
          |  FROM hits h JOIN gold gd ON h.qid = gd.qid AND h.cid = gd.cid GROUP BY 1)
          |SELECT gn.qid AS question_id, round(coalesce(1.0::DOUBLE / fr.r, 0.0::DOUBLE), 6) AS mrr_at_5
          |FROM gn LEFT JOIN fr ON gn.qid = fr.qid""".stripMargin.replace("\n", " "),
      // m6: same stopword-ratio score and lang label; precision/recall are
      // BIGINT/BIGINT divisions (float-exact both engines), f1 from the
      // unrounded pair. VALUES + CAST keeps thresholds DOUBLE (a bare
      // DuckDB 0.05 literal is DECIMAL and would skew the hashed schema).
      "m6_pr_curve" ->
        s"""WITH sc AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
           |    CASE WHEN len(toks) = 0 THEN 0.0
           |         ELSE CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE) / len(toks) END AS score
           |  FROM (SELECT lang, $toksDoc AS toks FROM documents) t),
           |pos AS (SELECT CAST(sum(y) AS BIGINT) AS p FROM sc),
           |th AS (SELECT CAST(x AS DOUBLE) AS threshold
           |  FROM (VALUES (0.05), (0.1), (0.15), (0.2), (0.25), (0.3)) v(x)),
           |agg AS (SELECT threshold, count(*) AS n_pred, CAST(sum(y) AS BIGINT) AS tp
           |  FROM sc, th WHERE score >= threshold GROUP BY 1)
           |SELECT threshold, n_pred, tp,
           |  round(tp / n_pred, 6) AS prec, round(tp / p, 6) AS recall,
           |  CASE WHEN tp / n_pred + tp / p > 0
           |       THEN round(2 * (tp / n_pred) * (tp / p) / (tp / n_pred + tp / p), 6) END AS f1
           |FROM agg, pos""".stripMargin.replace("\n", " "),
      // m7: confusion-marginal kappa over the shared langSelect CTE; p_e's
      // numerator is an integer Σ na·nb, so every division is engine-exact.
      "m7_kappa" ->
        s"""WITH lp AS ($langSelect),
           |j AS (SELECT d.doc_id, d.lang AS truth, lp.lang AS pred
           |  FROM documents d JOIN lp ON d.doc_id = lp.doc_id),
           |t AS (SELECT count(*) AS n,
           |    CAST(sum(CASE WHEN truth = pred THEN 1 ELSE 0 END) AS BIGINT) AS n_agree FROM j),
           |ma AS (SELECT pred AS c, count(*) AS na FROM j GROUP BY 1),
           |mb AS (SELECT truth AS c, count(*) AS nb FROM j GROUP BY 1),
           |s AS (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS s FROM ma JOIN mb USING (c))
           |SELECT t.n, t.n_agree,
           |  round(CAST(t.n_agree AS DOUBLE) / t.n, 6) AS po_r,
           |  round(CAST(s.s AS DOUBLE) / (CAST(t.n AS DOUBLE) * t.n), 6) AS pe_r,
           |  round(CASE WHEN CAST(s.s AS DOUBLE) / (CAST(t.n AS DOUBLE) * t.n) = 1.0 THEN NULL
           |    ELSE (CAST(t.n_agree AS DOUBLE) / t.n - CAST(s.s AS DOUBLE) / (CAST(t.n AS DOUBLE) * t.n))
           |      / (1.0 - CAST(s.s AS DOUBLE) / (CAST(t.n AS DOUBLE) * t.n)) END, 6) AS kappa_r
           |FROM t, s""".stripMargin.replace("\n", " "),
      // v6: 5 unrolled MMR rounds (the pr1/g12 unroll convention) — per round
      // a correlated max-dot over the selected set, argmax by (score DESC,
      // id ASC); λ=1/2 and list_dot_product(::DOUBLE[]) keep every score
      // bit-identical to the driver-side scan.
      "v6_mmr" -> {
        val rounds = (2 to 5).map { r =>
          s"""sc$r AS (SELECT c.id, c.v, c.rel,
             |    0.5 * c.rel - 0.5 * (SELECT max(list_dot_product(c.v::DOUBLE[], s.v::DOUBLE[])) FROM su${r - 1} s) AS score
             |  FROM cand c ANTI JOIN su${r - 1} u ON c.id = u.id),
             |sel$r AS (SELECT id, v, score FROM (
             |    SELECT id, v, score, row_number() OVER (ORDER BY score DESC, id ASC) AS rn FROM sc$r) t WHERE rn = 1),
             |su$r AS (SELECT id, v FROM su${r - 1} UNION ALL SELECT id, v FROM sel$r)""".stripMargin
        }.mkString(",\n")
        val finals = (1 to 5)
          .map(r => s"SELECT $r AS rank, id AS pick_id, round(score, 6) AS mmr_r FROM sel$r")
          .mkString(" UNION ALL ")
        s"""WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
           |cand0 AS (SELECT CAST(c.vec_id AS VARCHAR) AS id, c.embedding AS v,
           |    list_dot_product(q.qv::DOUBLE[], c.embedding::DOUBLE[]) AS rel
           |  FROM embeddings c, q WHERE c.vec_id >= 8),
           |cand AS (SELECT id, v, rel FROM (
           |    SELECT id, v, rel, row_number() OVER (ORDER BY rel DESC, id ASC) AS rn FROM cand0) t WHERE rn <= 20),
           |sel1 AS (SELECT id, v, 0.5 * rel AS score FROM (
           |    SELECT id, v, rel, row_number() OVER (ORDER BY 0.5 * rel DESC, id ASC) AS rn FROM cand) t WHERE rn = 1),
           |su1 AS (SELECT id, v FROM sel1),
           |$rounds
           |$finals""".stripMargin.replace("\n", " ")
      },
      // er1: same injection, blocking, and thresholds; DuckDB's levenshtein
      // is the exact distance, so the <= filter equals Spark's early-abandon.
      "er1_entity_neardup" ->
        """WITH p AS (
          |  SELECT p_partkey AS id, p_name AS name FROM part
          |  UNION ALL SELECT p_partkey + 1000000, substr(p_name, 1, 5) || substr(p_name, 7)
          |    FROM part WHERE p_partkey % 10 = 0),
          |t AS (SELECT s, min(id) AS id, count(*) AS n, substr(s, 1, 4) AS blk
          |  FROM (SELECT id, lower(trim(name)) AS s FROM p) q GROUP BY s)
          |SELECT a.id AS id_a, b.id AS id_b, CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist,
          |  a.n AS n_a, b.n AS n_b
          |FROM t a JOIN t b ON a.blk = b.blk AND a.id < b.id
          |WHERE abs(length(a.s) - length(b.s)) <= 2 AND levenshtein(a.s, b.s) <= 2""".stripMargin.replace("\n", " "),
      // er2: er1's pair derivation + recursive reachability min-id (the d8/d9
      // ccClustersSql pattern applied to edit-distance edges); unpaired rows
      // fall back to their exact-collapse representative via the LEFT join.
      "er2_resolution_clusters" ->
        """WITH RECURSIVE p AS (
          |  SELECT p_partkey AS id, p_name AS name FROM part
          |  UNION ALL SELECT p_partkey + 1000000, substr(p_name, 1, 5) || substr(p_name, 7)
          |    FROM part WHERE p_partkey % 10 = 0),
          |base AS (SELECT id, lower(trim(name)) AS s FROM p),
          |t AS (SELECT s, min(id) AS rep FROM base GROUP BY s),
          |tb AS (SELECT s, rep, substr(s, 1, 4) AS blk FROM t),
          |pr AS (SELECT a.rep AS id_a, b.rep AS id_b FROM tb a JOIN tb b
          |  ON a.blk = b.blk AND a.rep < b.rep
          |  WHERE abs(length(a.s) - length(b.s)) <= 2 AND levenshtein(a.s, b.s) <= 2),
          |edges AS (SELECT id_a AS src, id_b AS dst FROM pr UNION SELECT id_b, id_a FROM pr),
          |reach(id, r) AS (SELECT DISTINCT src, src FROM edges
          |  UNION SELECT e.src, reach.r FROM edges e JOIN reach ON e.dst = reach.id),
          |cc AS (SELECT id, min(r) AS canon FROM reach GROUP BY id)
          |SELECT base.id, coalesce(cc.canon, t.rep) AS canon_id
          |FROM base JOIN t USING (s) LEFT JOIN cc ON t.rep = cc.id""".stripMargin.replace("\n", " "),
      "d1_exact_dedup" ->
        s"""SELECT $normDoc AS key, min(doc_id) AS keep_id, count(*) AS n_dups
           |FROM documents GROUP BY 1""".stripMargin.replace("\n", " "),
      "d2_minhash_sig" -> minhashSigs,
      "d2_lsh_pairs" ->
        s"""WITH sigs AS ($minhashSigs),
           |banded AS (
           |  SELECT id, 0 AS band, md5(concat_ws('|', sig_0, sig_1)) AS band_key FROM sigs
           |  UNION ALL SELECT id, 1, md5(concat_ws('|', sig_2, sig_3)) FROM sigs
           |  UNION ALL SELECT id, 2, md5(concat_ws('|', sig_4, sig_5)) FROM sigs),
           |pairs AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id)
           |SELECT p.id_a, p.id_b,
           |  (${(0 until 6).map(i => s"CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END").mkString(" + ")}) / 6.0 AS est_jaccard
           |FROM pairs p JOIN sigs sa ON p.id_a = sa.id JOIN sigs sb ON p.id_b = sb.id""".stripMargin.replace("\n", " "),
      "d12_keep_best" ->
        s"""WITH f AS (SELECT doc_id, n_chars,
           |    md5(array_to_string(list_sort(list_distinct($toksDoc)), ' ')) AS key
           |  FROM documents),
           |r AS (SELECT key, doc_id, n_chars,
           |    row_number() OVER (PARTITION BY key ORDER BY n_chars DESC, doc_id ASC) AS rn,
           |    count(*) OVER (PARTITION BY key) AS n_dups FROM f)
           |SELECT key, doc_id AS keep_id, CAST(n_chars AS BIGINT) AS best_q,
           |  CAST(n_dups AS BIGINT) AS n_dups FROM r WHERE rn = 1""".stripMargin.replace("\n", " "),
      "d13_delta_dedup" ->
        s"""WITH sigs AS ($minhashSigs),
           |banded AS (
           |  SELECT id, 0 AS band, md5(concat_ws('|', sig_0, sig_1)) AS band_key FROM sigs
           |  UNION ALL SELECT id, 1, md5(concat_ws('|', sig_2, sig_3)) FROM sigs
           |  UNION ALL SELECT id, 2, md5(concat_ws('|', sig_4, sig_5)) FROM sigs),
           |pairs AS (
           |  SELECT DISTINCT a.id AS id_a, b.id AS id_b
           |  FROM banded a JOIN banded b ON a.band = b.band AND a.band_key = b.band_key
           |  WHERE a.id % 2 = 1 AND b.id % 2 = 0)
           |SELECT p.id_a, p.id_b,
           |  (${(0 until 6).map(i => s"CASE WHEN sa.sig_$i = sb.sig_$i THEN 1 ELSE 0 END").mkString(" + ")}) / 6.0 AS est_jaccard
           |FROM pairs p JOIN sigs sa ON p.id_a = sa.id JOIN sigs sb ON p.id_b = sb.id""".stripMargin.replace("\n", " "),
      "d8_dedup_clusters" -> ccClustersSql,
      // identical answer, different distributed algorithm under test
      "d9_stars_clusters" -> ccClustersSql,
      // x26: the d8 cluster map as a subquery; every doc hashes through
      // coalesce(cluster rep, own id) with the x5 md5-bucket arithmetic.
      "x26_cluster_split" ->
        s"""SELECT split, count(*) AS n_docs, count(DISTINCT rep) AS n_clusters FROM (
           |  SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split, rep FROM (
           |    SELECT coalesce(c.rep_id, d.doc_id) AS rep,
           |      CAST(('0x' || substr(md5(CAST(coalesce(c.rep_id, d.doc_id) AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
           |    FROM documents d LEFT JOIN ($ccClustersSql) c ON c.id = d.doc_id) t) g
           |GROUP BY 1""".stripMargin.replace("\n", " "),
      "d3_simhash" ->
        """WITH tok AS (
          |  SELECT doc_id AS id, CAST(('0x' || substr(md5(word), 1, 8)) AS BIGINT) AS h
          |  FROM (SELECT doc_id, unnest(list_filter(string_split(trim(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g')), ' '), x -> x <> '')) AS word FROM documents) w),
          |bits AS (
          |  SELECT id, j, CASE WHEN CAST(floor(h / pow(2, j)) AS BIGINT) % 2 = 1 THEN 1 ELSE -1 END AS contrib
          |  FROM tok, (SELECT unnest(generate_series(0, 15)) AS j) js),
          |sums AS (SELECT id, j, sum(contrib) AS s FROM bits GROUP BY id, j)
          |SELECT id, CAST(sum(CASE WHEN s > 0 THEN CAST(pow(2, j) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
          |FROM sums GROUP BY id""".stripMargin.replace("\n", " "),
      "d4_ngram_jaccard" -> jaccardPairsSql,
      // d18: the PREFIX-FILTERED algorithm under the SAME oracle as d4 —
      // the pair set is algorithm-independent, so one SQL answer checks
      // both implementations (the d8/d9 convention).
      "d18_prefix_jaccard" -> jaccardPairsSql,
      // d16: per-key (copies, distinct groups) stats joined back — the same
      // normalization as d1; BIGINT/BIGINT→DOUBLE division is float-exact.
      "d16_dup_by_source" ->
        s"""WITH k AS (SELECT source AS grp, $normDoc AS key FROM documents),
           |ks AS (SELECT key, count(*) AS kc, count(DISTINCT grp) AS kg
           |  FROM k GROUP BY 1)
           |SELECT k.grp AS source, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN ks.kc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_involved,
           |  CAST(sum(CASE WHEN ks.kg > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_dup,
           |  round(CAST(sum(CASE WHEN ks.kc > 1 THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE), 6) AS dup_rate_r
           |FROM k JOIN ks ON k.key = ks.key GROUP BY 1""".stripMargin.replace("\n", " "),
      // d15: d4's intersection CTEs with the containment denominator
      // (min set size) — BIGINT/BIGINT→DOUBLE division is float-exact.
      "d15_containment" ->
        s"""WITH dsh AS (SELECT DISTINCT doc_id AS id, sh FROM ($docShingles) s),
           |sizes AS (SELECT id, count(*) AS sz FROM dsh GROUP BY id),
           |inter AS (
           |  SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
           |  FROM dsh a JOIN dsh b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2)
           |SELECT id_a, id_b, CAST(i AS BIGINT) AS inter, round(c, 6) AS containment_r FROM (
           |  SELECT id_a, id_b, i, CAST(i AS DOUBLE) / least(sa.sz, sb.sz) AS c
           |  FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id) t
           |WHERE c >= 0.6""".stripMargin.replace("\n", " "),
      "d7_line_dedup" ->
        s"""WITH lines AS (
           |  SELECT doc_id, generate_subscripts(ls, 1) - 1 AS pos, unnest(ls) AS line
           |  FROM (SELECT doc_id, string_split(text || chr(10) || 'shared boilerplate footer all rights reserved', chr(10)) AS ls
           |        FROM documents) s),
           |keyed AS (SELECT doc_id, pos, line,
           |  ${normE("line")} AS key FROM lines),
           |hot AS (SELECT key FROM keyed WHERE key <> '' GROUP BY key HAVING count(*) > 1),
           |kept AS (SELECT * FROM keyed WHERE key NOT IN (SELECT key FROM hot))
           |SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean_text,
           |  count(*) AS n_lines_kept
           |FROM kept GROUP BY doc_id""".stripMargin.replace("\n", " "),
      "d5_embedding_neardup" ->
        """WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings)
          |SELECT a.id AS id_a, b.id AS id_b,
          |  round(list_dot_product(a.e, b.e) /
          |        (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))), 6) AS cosine_r
          |FROM v a JOIN v b ON a.id < b.id
          |WHERE list_dot_product(a.e, b.e) /
          |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) >= 0.35""".stripMargin.replace("\n", " "),
      "d14_semdedup" ->
        """WITH corpus AS (SELECT CAST(vec_id AS VARCHAR) id, embedding::DOUBLE[] v FROM embeddings),
          |cents AS (SELECT id AS centroid_id, v AS cv FROM corpus ORDER BY id LIMIT 8),
          |assign AS (SELECT id, centroid_id, v FROM (
          |    SELECT c.id, cents.centroid_id, c.v,
          |      row_number() OVER (PARTITION BY c.id ORDER BY list_dot_product(c.v, cents.cv) DESC, cents.centroid_id DESC) rn
          |    FROM corpus c, cents) t WHERE rn = 1),
          |drp AS (SELECT DISTINCT a.id FROM assign a JOIN assign b
          |  ON a.centroid_id = b.centroid_id AND b.id < a.id
          |  WHERE list_dot_product(a.v, b.v)
          |        / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.35)
          |SELECT CAST(a.id AS BIGINT) AS vec_id, a.centroid_id AS cell, (d.id IS NULL) AS keep
          |FROM assign a LEFT JOIN drp d ON a.id = d.id""".stripMargin.replace("\n", " "),
      "d6_neardup_blocked" -> {
        // Re-derive the exact hyperplanes used by Dedup.embeddingNearDupPairs
        // (dim 64, blockBits 4) and inline them as SQL literals.
        val dim = 64
        val planes = (0 until 4).map { j =>
          (0 until dim).map { d =>
            if (Integer.parseInt(
              org.apache.commons.codec.digest.DigestUtils.md5Hex(s"hp$j-$d").substring(0, 2), 16) < 128) "1.0" else "-1.0"
          }.mkString("[", ",", "]::DOUBLE[]")
        }
        val blkExpr = planes.zipWithIndex.map { case (p, j) =>
          s"(CASE WHEN list_dot_product(e, $p) >= 0 THEN ${1L << j} ELSE 0 END)"
        }.mkString(" + ")
        s"""WITH v AS (SELECT vec_id AS id, embedding::DOUBLE[] AS e FROM embeddings),
           |b AS (SELECT id, e, $blkExpr AS blk FROM v)
           |SELECT id_a, id_b, round(c, 6) AS cosine_r FROM (
           |  SELECT a.id AS id_a, b2.id AS id_b,
           |    list_dot_product(a.e, b2.e) /
           |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b2.e, b2.e))) AS c
           |  FROM b a JOIN b b2 ON a.blk = b2.blk AND a.id < b2.id) t
           |WHERE c >= 0.35""".stripMargin.replace("\n", " ")
      },
      "g5_salted_adjacency" ->
        """SELECT user_id, array_to_string(list_sort(list(DISTINCT event_type)), ',') AS event_types
          |FROM events GROUP BY user_id""".stripMargin.replace("\n", " "),
      "a1_ivf_search" ->
        """WITH cents AS (
          |  SELECT CAST(vec_id AS VARCHAR) cid, embedding::DOUBLE[] cv FROM embeddings
          |  ORDER BY CAST(vec_id AS VARCHAR) LIMIT 8),
          |corpus AS (SELECT CAST(vec_id AS VARCHAR) id, embedding::DOUBLE[] v FROM embeddings),
          |assign AS (
          |  SELECT id, cid FROM (
          |    SELECT c.id, cents.cid,
          |      row_number() OVER (PARTITION BY c.id ORDER BY list_dot_product(c.v, cents.cv) DESC, cents.cid DESC) rn
          |    FROM corpus c, cents) t WHERE rn = 1),
          |qs AS (SELECT CAST(vec_id AS VARCHAR) qid, embedding::DOUBLE[] qv FROM embeddings WHERE vec_id >= 8 AND vec_id < 16),
          |probes AS (
          |  SELECT qid, cid FROM (
          |    SELECT qs.qid, cents.cid,
          |      row_number() OVER (PARTITION BY qs.qid ORDER BY list_dot_product(qs.qv, cents.cv) DESC, cents.cid ASC) rn
          |    FROM qs, cents) t WHERE rn <= 3),
          |cand AS (SELECT DISTINCT p.qid, a.id FROM probes p JOIN assign a ON p.cid = a.cid),
          |scored AS (
          |  SELECT cand.qid, cand.id, list_dot_product(qs.qv, corpus.v) s
          |  FROM cand JOIN qs ON cand.qid = qs.qid JOIN corpus ON cand.id = corpus.id)
          |SELECT qid AS query_id, CAST(rank AS INTEGER) AS rank, id AS neighbor_id, round(s, 6) AS score_r
          |FROM (SELECT qid, id, s, row_number() OVER (PARTITION BY qid ORDER BY s DESC, id ASC) rank FROM scored) t
          |WHERE rank <= 5""".stripMargin.replace("\n", " "),
      "a2_ivf_lloyd" ->
        """WITH corpus AS (SELECT CAST(vec_id AS VARCHAR) id, embedding::DOUBLE[] v FROM embeddings),
          |cents AS (SELECT id AS centroid_id, v AS cv FROM corpus ORDER BY id LIMIT 8),
          |assign AS (
          |  SELECT id, centroid_id FROM (
          |    SELECT c.id, cents.centroid_id,
          |      row_number() OVER (PARTITION BY c.id ORDER BY list_dot_product(c.v, cents.cv) DESC, cents.centroid_id DESC) rn
          |    FROM corpus c, cents) t WHERE rn = 1)
          |SELECT centroid_id, CAST(pos AS INTEGER) AS pos, round(avg(val), 6) AS c FROM (
          |  SELECT a.centroid_id, generate_subscripts(c.v, 1) AS pos, unnest(c.v) AS val
          |  FROM assign a JOIN corpus c ON a.id = c.id) t
          |GROUP BY centroid_id, pos""".stripMargin.replace("\n", " "),
      "pq1_pq_codes" ->
        s"""WITH ${pqCte("")}
           |SELECT id, sub, code FROM codes""".stripMargin.replace("\n", " "),
      "pq2_adc_knn" ->
        s"""WITH ${pqCte("WHERE vec_id >= 10")},
           |qt AS (SELECT CAST(vec_id AS VARCHAR) AS query_id, CAST(g.i AS INTEGER) AS sub,
           |    list_slice(embedding, g.i * 8 + 1, g.i * 8 + 8) AS qv
           |  FROM embeddings, generate_series(0, 7) AS g(i) WHERE vec_id < 5),
           |tab AS (SELECT qt.query_id, qt.sub, cwc.code,
           |    list_dot_product(qt.qv::DOUBLE[], cwc.cvec::DOUBLE[]) AS ip
           |  FROM qt JOIN cwc ON qt.sub = cwc.sub),
           |sc AS (SELECT t.query_id, c.id, round(sum(t.ip), 6) AS score
           |  FROM codes c JOIN tab t ON c.sub = t.sub AND c.code = t.code
           |  GROUP BY 1, 2)
           |SELECT query_id, CAST(rank AS INTEGER) AS rank, id AS neighbor_id, score AS adc_r
           |FROM (SELECT query_id, id, score,
           |        row_number() OVER (PARTITION BY query_id ORDER BY score DESC, id ASC) AS rank
           |      FROM sc) z
           |WHERE rank <= 10""".stripMargin.replace("\n", " "),
      "x1_langid" ->
        s"SELECT doc_id, lang AS lang_pred FROM ($langSelect) q",
      "x2_quality" ->
        s"""SELECT doc_id, n_tokens, round(punct_ratio, 6) AS punct_ratio,
           |  round(stopword_ratio, 6) AS stopword_ratio,
           |  round(least(n_tokens / 50.0, 1.0) * (1.0 - least(punct_ratio * 4.0, 1.0)) *
           |        (0.5 + least(stopword_ratio * 5.0, 1.0) / 2), 6) AS quality
           |FROM (
           |  SELECT doc_id, len(toks) AS n_tokens,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
           |    CASE WHEN len(toks) = 0 THEN 0.0
           |         ELSE CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE) / len(toks) END AS stopword_ratio
           |  FROM (SELECT doc_id, text, $toksDoc AS toks FROM documents) t) s""".stripMargin.replace("\n", " "),
      "x12_unigram_logppl" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toksDoc) AS term FROM documents),
           |freq AS (SELECT term, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY 1),
           |tot AS (SELECT sum(c) AS t FROM freq)
           |SELECT doc_id, round(avg(-ln(freq.c / tot.t)), 6) AS logppl_r
           |FROM tok JOIN freq USING (term) CROSS JOIN tot
           |GROUP BY doc_id""".stripMargin.replace("\n", " "),
      // x27: the x12 ppl CTE, rounded BEFORE ranking (identical sort keys on
      // both engines), row_number rank -> proportional 4-phase cut.
      "x27_curriculum" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toksDoc) AS term FROM documents),
           |freq AS (SELECT term, CAST(count(*) AS DOUBLE) AS c FROM tok GROUP BY 1),
           |tot AS (SELECT sum(c) AS t FROM freq),
           |ppl AS (SELECT doc_id, round(avg(-ln(freq.c / tot.t)), 6) AS score_r
           |  FROM tok JOIN freq USING (term) CROSS JOIN tot GROUP BY doc_id),
           |n AS (SELECT count(*) AS nn FROM ppl),
           |r AS (SELECT doc_id, score_r,
           |    row_number() OVER (ORDER BY score_r ASC, doc_id ASC) - 1 AS rk FROM ppl)
           |SELECT CAST(rk * 4 // (SELECT nn FROM n) AS BIGINT) AS phase,
           |  count(*) AS n_docs, min(score_r) AS min_score, max(score_r) AS max_score
           |FROM r GROUP BY 1""".stripMargin.replace("\n", " "),
      "x13_token_budget" ->
        s"""WITH scored AS (
           |  SELECT doc_id, len(toks) AS n_tokens,
           |    least(len(toks) / 50.0, 1.0) * (1.0 - least(punct_ratio * 4.0, 1.0)) *
           |    (0.5 + least(stopword_ratio * 5.0, 1.0) / 2) AS quality
           |  FROM (
           |    SELECT doc_id, len(toks) AS ntk, toks,
           |      CASE WHEN length(text) = 0 THEN 0.0
           |           ELSE CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
           |      CASE WHEN len(toks) = 0 THEN 0.0
           |           ELSE CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE) / len(toks) END AS stopword_ratio
           |    FROM (SELECT doc_id, text, $toksDoc AS toks FROM documents) t) s),
           |cum AS (SELECT doc_id, n_tokens, quality,
           |  sum(n_tokens) OVER (ORDER BY quality DESC, doc_id ASC
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS b
           |  FROM scored)
           |SELECT doc_id, n_tokens, round(quality, 6) AS quality_r
           |FROM cum WHERE coalesce(b, 0) + n_tokens <= 2000""".stripMargin.replace("\n", " "),
      "x15_weighted_sample" ->
        s"""SELECT doc_id, len(toks) + 1 AS weight
           |FROM (SELECT doc_id, $toksDoc AS toks FROM documents) t
           |ORDER BY ln((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) + 0.5)
           |           / 4294967296.0) / (len(toks) + 1) DESC, doc_id ASC
           |LIMIT 25""".stripMargin.replace("\n", " "),
      "ng1_negative_sample" ->
        s"""WITH vocab AS (SELECT t AS negative, CAST(count(*) AS BIGINT) AS w
           |  FROM (SELECT unnest($toksDoc) AS t FROM documents) u GROUP BY 1),
           |r AS (SELECT negative, w,
           |    coalesce(sum(w) OVER (ORDER BY negative
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS lo
           |  FROM vocab),
           |tot AS (SELECT sum(w) AS t FROM vocab),
           |anchors AS (SELECT CAST(doc_id AS VARCHAR) AS anchor FROM documents WHERE doc_id < 30),
           |draws AS (SELECT anchor, i AS draw,
           |    CAST(('0x' || substr(md5(anchor || '-' || CAST(i AS VARCHAR)), 1, 15)) AS BIGINT)
           |      % (SELECT t FROM tot) AS u
           |  FROM anchors, generate_series(0, 3) AS g(i))
           |SELECT d.anchor, CAST(d.draw AS INTEGER) AS draw, r.negative
           |FROM draws d JOIN r ON d.u >= r.lo AND d.u < r.lo + r.w""".stripMargin.replace("\n", " "),
      "cs1_length_quantiles" ->
        s"""WITH feat AS (
           |  SELECT CAST(len(toks) AS DOUBLE) AS n,
           |    len(list_filter(toks, t -> list_contains(['the','and','of','is','was','with'], t))) AS s_en,
           |    len(list_filter(toks, t -> list_contains(['el','la','de','que','los','las'], t))) AS s_es,
           |    len(list_filter(toks, t -> list_contains(['le','la','les','des','est','une'], t))) AS s_fr,
           |    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht'], t))) AS s_de
           |  FROM (SELECT $toksDoc AS toks FROM documents) t),
           |lng AS (SELECT n,
           |    CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
           |         WHEN s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
           |         WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
           |         WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es' ELSE 'fr' END AS lang
           |  FROM feat)
           |SELECT lang, count(*) AS n_docs,
           |  round(quantile_cont(n, 0.5), 4) AS p50,
           |  round(quantile_cont(n, 0.9), 4) AS p90,
           |  round(quantile_cont(n, 0.99), 4) AS p99
           |FROM lng GROUP BY lang""".stripMargin.replace("\n", " "),
      "cs2_heavy_hitters" ->
        s"""SELECT bigram, count(*) AS cnt FROM (
           |  SELECT unnest(list_transform(generate_series(1, greatest(len(w) - 1, 0)),
           |      i -> array_to_string(list_slice(w, i, i + 1), ' '))) AS bigram
           |  FROM (SELECT $toksDoc AS w FROM documents) t) u
           |GROUP BY 1 ORDER BY cnt DESC, bigram ASC LIMIT 20""".stripMargin.replace("\n", " "),
      "x3_token_count" ->
        s"""SELECT doc_id, len(toks) AS n_tokens,
           |  CAST(coalesce(list_sum(list_transform(toks, t -> greatest(1, CAST(ceil(length(t) / 4.0) AS INTEGER)))), 0) AS INTEGER) AS n_subwords
           |FROM (SELECT doc_id, $toksDoc AS toks FROM documents) t""".stripMargin.replace("\n", " "),
      "pk2_length_batches" ->
        s"""WITH n AS (SELECT doc_id, CAST(len($toksDoc) AS BIGINT) AS nt FROM documents),
           |r AS (SELECT doc_id, nt,
           |    row_number() OVER (ORDER BY nt DESC, doc_id ASC) - 1 AS rk FROM n)
           |SELECT rk // 32 AS batch_id, count(*) AS n_docs,
           |  max(nt) AS max_tokens, CAST(sum(nt) AS BIGINT) AS sum_tokens,
           |  count(*) * max(nt) - CAST(sum(nt) AS BIGINT) AS padding
           |FROM r GROUP BY 1""".stripMargin.replace("\n", " "),
      "x4_fingerprint" ->
        s"""SELECT doc_id,
           |  md5(array_to_string(list_sort(list_distinct($toksDoc)), ' ')) AS fp,
           |  CASE WHEN length($normDoc) < 8 THEN NULL
           |       ELSE list_sort(list_transform(generate_series(1, length($normDoc) - 7),
           |            i -> md5(substr($normDoc, i, 8))))[1] END AS min_kgram
           |FROM documents""".stripMargin.replace("\n", " "),
      "x7_pii_mask" -> {
        val emailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
        val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
        val phoneRe = "\\+\\d[\\d .()-]{6,}\\d"
        s"""SELECT doc_id,
           |  regexp_replace(regexp_replace(regexp_replace(txt, '$emailRe', '<EMAIL>', 'g'),
           |    '$ipRe', '<IP>', 'g'), '$phoneRe', '<PHONE>', 'g') AS masked,
           |  CAST(len(regexp_extract_all(txt, '$emailRe')) AS INTEGER) AS n_email,
           |  CAST(len(regexp_extract_all(txt, '$ipRe')) AS INTEGER) AS n_ip,
           |  CAST(len(regexp_extract_all(txt, '$phoneRe')) AS INTEGER) AS n_phone
           |FROM (SELECT doc_id,
           |  text || ' reach user' || doc_id || '@example.com via 10.0.' || (doc_id % 256)
           |       || '.7 or call +1 (415) 555-' || (1000 + doc_id % 9000) AS txt
           |  FROM documents) t""".stripMargin.replace("\n", " ")
      },
      "x8_repetition" ->
        s"""SELECT doc_id,
           |  round(CASE WHEN len(toks) < 2 THEN 0.0
           |        ELSE CAST(len(bg) - len(list_distinct(bg)) AS DOUBLE) / len(bg) END, 6) AS dup_bigram_ratio,
           |  round(CASE WHEN len(toks) = 0 THEN 0.0
           |        ELSE CAST(list_max(list_transform(list_distinct(toks),
           |             d -> len(list_filter(toks, t -> t = d)))) AS DOUBLE) / len(toks) END, 6) AS top_token_ratio
           |FROM (SELECT doc_id, toks,
           |        list_transform(generate_series(1, len(toks) - 1),
           |          i -> toks[i] || ' ' || toks[i+1]) AS bg
           |      FROM (SELECT doc_id, $toksDoc AS toks FROM documents) s) t""".stripMargin.replace("\n", " "),
      "x5_train_split" ->
        """SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split,
          |count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
          |FROM (SELECT n_chars, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b
          |      FROM documents) t
          |GROUP BY 1""".stripMargin.replace("\n", " "),
      "pk1_sequence_pack" ->
        s"""SELECT doc_id, n AS n_tokens, start_offset,
           |  start_offset // 512 AS seq_first,
           |  greatest(start_offset // 512, (start_offset + n - 1) // 512) AS seq_last
           |FROM (
           |  SELECT doc_id, n,
           |    coalesce(CAST(sum(n) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS start_offset
           |  FROM (SELECT doc_id, len($toksDoc) AS n FROM documents) t) s""".stripMargin.replace("\n", " "),
      "x19_epoch_shuffle" ->
        """SELECT doc_id, CAST(row_number() OVER (
          |  ORDER BY md5('ep1' || CAST(doc_id AS VARCHAR)), CAST(doc_id AS VARCHAR)) AS BIGINT)
          |  AS shuffle_pos FROM documents""".stripMargin.replace("\n", " "),
      "bp1_pair_counts" ->
        s"""WITH w AS (SELECT word, count(*) AS freq FROM (
           |    SELECT unnest($toksDoc) AS word FROM documents) t GROUP BY 1),
           |p AS (SELECT u['a'] AS a, u['b'] AS b, freq FROM (
           |  SELECT freq, unnest(list_transform(range(1, length(word)),
           |    i -> {'a': word[i], 'b': word[i + 1]})) AS u
           |  FROM w) t)
           |SELECT a, b, CAST(sum(freq) AS BIGINT) AS cnt FROM p GROUP BY 1, 2
           |ORDER BY cnt DESC, a ASC, b ASC LIMIT 20""".stripMargin.replace("\n", " "),
      // Each symbol wrapped '|sym|' and concatenated (DOUBLE '||' between
      // neighbors), so each merge is one plain (global, leftmost,
      // non-overlapping) replace of '|a||b|' → '|ab|'. The double delimiter
      // matters: with single '|' separators two ADJACENT occurrences of a
      // pair share a delimiter char, the first match consumes it, and the
      // replace skips the second ("mining" → [m,in,i,n,g]); with each
      // symbol owning both its fences, one replace pass IS leftmost-greedy
      // mergeOnce exactly (verified against the iterative encoder on
      // mining/training/ininin/thethe/…). One pass per rank then equals
      // the min-rank encoder — see the query comment. The encode chain
      // (bpeEncExpr, factored above the Map) is shared with bp3's
      // per-source efficiency report.
      "bp2_bpe_encode" ->
        s"""WITH tok AS (SELECT unnest($toksDoc) AS w FROM documents),
           |enc AS (SELECT replace($bpeEncExpr, '||', '|') AS s FROM tok),
           |sub AS (SELECT unnest(list_filter(string_split(s, '|'), x -> x <> '')) AS subword FROM enc)
           |SELECT subword, count(*) AS cnt FROM sub GROUP BY 1
           |ORDER BY cnt DESC, subword ASC LIMIT 30""".stripMargin.replace("\n", " "),
      "x18_bigram_logppl" ->
        s"""WITH d AS (SELECT doc_id, $toksDoc AS toks FROM documents),
           |tok AS (SELECT unnest(toks) AS lft FROM d),
           |c1 AS (SELECT lft, CAST(count(*) AS DOUBLE) AS c1 FROM tok GROUP BY 1),
           |v AS (SELECT CAST(count(*) AS DOUBLE) AS v FROM c1),
           |bi AS (SELECT doc_id, u['lft'] AS lft, u['pair'] AS pair FROM (
           |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
           |    i -> {'lft': toks[i], 'pair': toks[i] || ' ' || toks[i + 1]})) AS u
           |  FROM d) t),
           |c2 AS (SELECT pair, CAST(count(*) AS DOUBLE) AS c2 FROM bi GROUP BY 1)
           |SELECT bi.doc_id, round(avg(-ln((c2.c2 + 1.0) / (c1.c1 + 1.0 * v.v))), 6) AS logppl2_r
           |FROM bi JOIN c2 USING (pair) JOIN c1 USING (lft) CROSS JOIN v
           |GROUP BY bi.doc_id""".stripMargin.replace("\n", " "),
      // x34: same log-space PMI term order as CorpusOps.collocations (ln
      // folds left-to-right → identical IEEE doubles), ranking by the
      // ROUNDED score with the pair tie-break on both engines.
      "x34_collocations" ->
        s"""WITH d AS (SELECT $toksDoc AS toks FROM documents),
           |tok AS (SELECT unnest(toks) AS t FROM d),
           |c1 AS (SELECT t, count(*) AS c1 FROM tok GROUP BY 1),
           |n1 AS (SELECT CAST(sum(c1) AS BIGINT) AS n1 FROM c1),
           |bi AS (SELECT u['l'] AS lft, u['r'] AS rgt FROM (
           |  SELECT unnest(list_transform(range(1, len(toks)), i -> {'l': toks[i], 'r': toks[i + 1]})) AS u FROM d) t),
           |bp AS (SELECT lft, rgt, count(*) AS c2 FROM bi GROUP BY 1, 2),
           |n2 AS (SELECT CAST(sum(c2) AS BIGINT) AS n2 FROM bp)
           |SELECT lft || ' ' || rgt AS pair, CAST(c2 AS BIGINT) AS pair_cnt,
           |  round(ln(c2) + ln(n1.n1) + ln(n1.n1) - ln(n2.n2) - ln(a.c1) - ln(b.c1), 6) AS pmi_r
           |FROM bp JOIN c1 a ON bp.lft = a.t JOIN c1 b ON bp.rgt = b.t CROSS JOIN n1 CROSS JOIN n2
           |WHERE c2 >= 5
           |ORDER BY round(ln(c2) + ln(n1.n1) + ln(n1.n1) - ln(n2.n2) - ln(a.c1) - ln(b.c1), 6) DESC, pair ASC
           |LIMIT 30""".stripMargin.replace("\n", " "),
      // x35: counts from the md5-bucket train half, scoring over the rest;
      // CASE arms and α-product order mirror CorpusOps.stupidBackoff, and
      // the per-doc mean folds in position order (ordered aggregate) to
      // match Spark's sorted-array fold.
      "x35_backoff_score" ->
        s"""WITH d AS (SELECT doc_id, $toksDoc AS toks,
           |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS b
           |  FROM documents),
           |tr AS (SELECT toks FROM d WHERE b < 5000),
           |sc AS (SELECT doc_id, toks FROM d WHERE b >= 5000),
           |c1 AS (SELECT w, count(*) AS c1 FROM (SELECT unnest(toks) AS w FROM tr) t GROUP BY 1),
           |nv AS (SELECT CAST(sum(c1) AS BIGINT) AS n, count(*) AS v FROM c1),
           |c2 AS (SELECT b2, count(*) AS c2 FROM (
           |  SELECT unnest(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i + 1])) AS b2 FROM tr) t GROUP BY 1),
           |c3 AS (SELECT g, count(*) AS c3 FROM (
           |  SELECT unnest(list_transform(range(1, len(toks) - 1), i -> toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2])) AS g FROM tr) t GROUP BY 1),
           |tri AS (SELECT doc_id, u['i'] AS pos, u['w1'] AS w1, u['w2'] AS w2, u['w3'] AS w3
           |  FROM (SELECT doc_id, unnest(list_transform(range(1, len(toks) - 1),
           |    i -> {'i': i, 'w1': toks[i], 'w2': toks[i + 1], 'w3': toks[i + 2]})) AS u FROM sc) t),
           |j AS (SELECT tri.doc_id, tri.pos,
           |    CASE WHEN c3.c3 IS NOT NULL THEN ln(CAST(c3.c3 AS DOUBLE) / c2a.c2)
           |         WHEN c2b.c2 IS NOT NULL THEN ln(0.4 * (CAST(c2b.c2 AS DOUBLE) / c1a.c1))
           |         ELSE ln(0.4 * 0.4 * (CAST(coalesce(c1b.c1, 0) + 1 AS DOUBLE) / (nv.n + nv.v))) END AS ls
           |  FROM tri
           |  LEFT JOIN c3 ON tri.w1 || ' ' || tri.w2 || ' ' || tri.w3 = c3.g
           |  LEFT JOIN c2 c2a ON tri.w1 || ' ' || tri.w2 = c2a.b2
           |  LEFT JOIN c2 c2b ON tri.w2 || ' ' || tri.w3 = c2b.b2
           |  LEFT JOIN c1 c1a ON tri.w2 = c1a.w
           |  LEFT JOIN c1 c1b ON tri.w3 = c1b.w
           |  CROSS JOIN nv)
           |SELECT doc_id, count(*) AS n_tri, round(sum(ls ORDER BY pos) / count(*), 6) AS sb_r
           |FROM j GROUP BY 1""".stripMargin.replace("\n", " "),
      // x36: same split and ordered fold as x35; every probability term an
      // integer count, division order mirrored expression-for-expression.
      "x36_kneser_ney" ->
        s"""WITH d AS (SELECT doc_id, $toksDoc AS toks,
           |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 AS b
           |  FROM documents),
           |tr AS (SELECT toks FROM d WHERE b < 5000),
           |sc AS (SELECT doc_id, toks FROM d WHERE b >= 5000),
           |vv AS (SELECT count(DISTINCT w) AS v FROM (SELECT unnest(toks) AS w FROM tr) t),
           |bi AS (SELECT u['v'] AS v, u['w'] AS w, count(*) AS c2 FROM (
           |  SELECT unnest(list_transform(range(1, len(toks)),
           |    i -> {'v': toks[i], 'w': toks[i + 1]})) AS u FROM tr) t GROUP BY 1, 2),
           |nb AS (SELECT count(*) AS nb FROM bi),
           |ctx AS (SELECT v, CAST(sum(c2) AS BIGINT) AS cv, count(*) AS n1f FROM bi GROUP BY 1),
           |prd AS (SELECT w, count(*) AS n1p FROM bi GROUP BY 1),
           |big AS (SELECT doc_id, u['i'] AS pos, u['v'] AS v, u['w'] AS w FROM (
           |  SELECT doc_id, unnest(list_transform(range(1, len(toks)),
           |    i -> {'i': i, 'v': toks[i], 'w': toks[i + 1]})) AS u FROM sc) t),
           |j AS (SELECT big.doc_id, big.pos,
           |    ln(CASE WHEN ctx.cv IS NOT NULL
           |      THEN greatest(CAST(coalesce(bi.c2, 0) AS DOUBLE) - 0.75, 0.0) / ctx.cv
           |        + 0.75 * ctx.n1f / ctx.cv *
           |          (CAST(coalesce(prd.n1p, 0) + 1 AS DOUBLE) / (nb.nb + vv.v + 1))
           |      ELSE CAST(coalesce(prd.n1p, 0) + 1 AS DOUBLE) / (nb.nb + vv.v + 1) END) AS ls
           |  FROM big
           |  LEFT JOIN bi ON big.v = bi.v AND big.w = bi.w
           |  LEFT JOIN ctx ON big.v = ctx.v
           |  LEFT JOIN prd ON big.w = prd.w
           |  CROSS JOIN nb CROSS JOIN vv)
           |SELECT doc_id, count(*) AS n_bi, round(sum(ls ORDER BY pos) / count(*), 6) AS kn_r
           |FROM j GROUP BY 1""".stripMargin.replace("\n", " "),
      "z1_zorder" -> {
        // unrolled from the same bit-position rule as Layout.zorderKey: bit i
        // of column c lands at position i * nCols + c. BIGINT casts matter:
        // DuckDB's INT32 left shift raises an overflow error at position 31
        // (keys with bit 15 set in the second column), where Spark computes
        // the key in a long.
        val zterms = (0 until 16).flatMap(i => Seq(
          s"(((CAST(l_partkey AS BIGINT) >> $i) & 1) << ${2 * i})",
          s"(((CAST(l_suppkey AS BIGINT) >> $i) & 1) << ${2 * i + 1})")).mkString(" + ")
        s"SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, $zterms AS zkey " +
          "FROM lineitem WHERE l_orderkey % 7 = 0"
      },
      "x16_ngram_scrub" ->
        s"""WITH d AS (SELECT doc_id, $toksDoc AS toks FROM documents),
           |tok AS (SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos, unnest(toks) AS tok FROM d),
           |grams AS (SELECT doc_id, u['start'] AS start, u['gram'] AS gram FROM (
           |  SELECT doc_id, unnest(list_transform(range(1, len(toks) - 3),
           |    i -> {'start': i - 1, 'gram': array_to_string(list_slice(toks, i, i + 4), ' ')})) AS u
           |  FROM d) ug),
           |hot AS (SELECT gram FROM grams GROUP BY 1 HAVING count(*) > 2),
           |cov AS (SELECT DISTINCT h.doc_id, h.start + g.i AS pos
           |  FROM (SELECT gr.doc_id, gr.start FROM grams gr JOIN hot USING (gram)) h,
           |       generate_series(0, 4) AS g(i)),
           |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t ANTI JOIN cov USING (doc_id, pos))
           |SELECT doc_id, count(*) AS n_tokens_kept, md5(string_agg(tok, ' ' ORDER BY pos)) AS clean_md5
           |FROM kept GROUP BY doc_id""".stripMargin.replace("\n", " "),
      "x17_temperature_mix" ->
        """WITH src AS (SELECT doc_id, 's' || CAST(doc_id % 4 AS VARCHAR) AS source FROM documents),
          |counts AS (SELECT source, count(*) AS n FROM src GROUP BY 1),
          |z AS (SELECT sum(sqrt(n)) AS z FROM counts),
          |rates AS (SELECT source, n,
          |    least(10000, CAST(floor(250.0 * sqrt(n) / z.z / n * 10000.0) AS BIGINT)) AS bps
          |  FROM counts, z),
          |kept AS (
          |  SELECT s.source, count(*) AS n_kept
          |  FROM src s JOIN rates r USING (source)
          |  WHERE CAST(('0x' || substr(md5(CAST(s.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < r.bps
          |  GROUP BY 1)
          |SELECT c.source, c.n AS n_docs, coalesce(k.n_kept, 0) AS n_kept
          |FROM counts c LEFT JOIN kept k USING (source)""".stripMargin.replace("\n", " "),
      "x10_stratified_sample" ->
        s"""WITH langs AS ($langSelect),
           |counts AS (SELECT lang, count(*) AS n_docs FROM langs GROUP BY lang),
           |rates AS (SELECT lang, n_docs,
           |    ((SELECT min(n_docs) FROM counts) * 10000) // n_docs AS bps FROM counts),
           |kept AS (
           |  SELECT l.lang, count(*) AS n_kept
           |  FROM langs l JOIN rates r ON l.lang = r.lang
           |  WHERE CAST(('0x' || substr(md5(CAST(l.doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 10000 < r.bps
           |  GROUP BY l.lang)
           |SELECT c.lang, c.n_docs, coalesce(k.n_kept, 0) AS n_kept
           |FROM counts c LEFT JOIN kept k ON c.lang = k.lang""".stripMargin.replace("\n", " "),
      "x11_vocab" ->
        s"""SELECT token, cnt FROM (
           |  SELECT word AS token, count(*) AS cnt FROM ($docWords) dw GROUP BY word) t
           |WHERE cnt >= 5 ORDER BY cnt DESC, token LIMIT 100""".stripMargin.replace("\n", " "),
      "x9_contamination" ->
        s"""WITH un AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0),
           |fp AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct($toksDoc)), ' ')) AS fp FROM un),
           |sp AS (SELECT doc_id, fp,
           |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
           |  FROM (SELECT doc_id, fp, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b FROM fp) t),
           |train AS (SELECT DISTINCT fp FROM sp WHERE split = 'train')
           |SELECT split, count(*) AS n_contaminated
           |FROM sp WHERE split <> 'train' AND fp IN (SELECT fp FROM train)
           |GROUP BY split""".stripMargin.replace("\n", " "),
      "d10_dup_spans" ->
        s"""WITH d AS (SELECT doc_id, $toksDoc AS w FROM documents),
           |g AS (SELECT doc_id, u['start'] AS start, u['gram'] AS gram FROM (
           |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(w)-7, 0)),
           |    i -> {'start': i - 1, 'gram': array_to_string(list_slice(w, i, i+7), ' ')})) AS u
           |  FROM d) t),
           |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2)
           |SELECT doc_id, CAST(start AS INTEGER) AS start FROM g
           |WHERE gram IN (SELECT gram FROM dup)""".stripMargin.replace("\n", " "),
      "ql1_linear_score" ->
        s"""WITH toks AS (SELECT doc_id, unnest($toksDoc) AS token FROM documents),
           |vocab AS (SELECT token, count(*) AS cnt FROM toks GROUP BY token
           |  ORDER BY cnt DESC, token LIMIT 20),
           |model AS (SELECT token, ln(CAST(cnt AS DOUBLE)) AS w FROM vocab),
           |tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
           |s AS (SELECT tf.doc_id, sum(m.w * tf.tf) AS sc
           |  FROM tf JOIN model m ON tf.token = m.token GROUP BY 1)
           |SELECT d.doc_id, round(coalesce(s.sc, 0.0) + 1.0, 4) AS score
           |FROM (SELECT DISTINCT doc_id FROM documents) d
           |LEFT JOIN s ON d.doc_id = s.doc_id""".stripMargin.replace("\n", " "),
      "x20_bloom_decontaminate" ->
        s"""WITH d AS (SELECT doc_id, md5($normDoc) AS key FROM documents),
           |ev AS (SELECT DISTINCT key FROM d WHERE doc_id % 7 = 0)
           |SELECT doc_id FROM d WHERE key NOT IN (SELECT key FROM ev)""".stripMargin.replace("\n", " "),
      "x25_semantic_decontaminate" ->
        """WITH tset AS (SELECT embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id < 48),
          |c AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings WHERE vec_id >= 48),
          |m AS (SELECT c.vec_id,
          |    max(CASE WHEN sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(t.e, t.e)) = 0
          |             THEN 0.0
          |             ELSE list_dot_product(c.e, t.e)
          |                  / (sqrt(list_dot_product(c.e, c.e)) * sqrt(list_dot_product(t.e, t.e))) END) AS mc
          |  FROM c CROSS JOIN tset t GROUP BY c.vec_id)
          |SELECT vec_id, round(mc, 6) AS max_cos_r, mc < 0.35 AS keep FROM m""".stripMargin.replace("\n", " "),
      // mk1: the add-1 unigram LM of the train slice, eval tokens scored
      // left-join (OOV -> smoothed floor), per-doc ascending rank window,
      // mean over the rn <= ceil(0.2 n) tail — x12's float conventions
      // (double ln + round 6; equal-lp boundary ties are value-identical).
      "mk1_mink_prob" ->
        s"""WITH ref AS (SELECT unnest($toksDoc) AS term FROM documents WHERE doc_id % 5 <> 0),
           |freq AS (SELECT term, CAST(count(*) AS DOUBLE) AS c FROM ref GROUP BY 1),
           |st AS (SELECT CAST(sum(c) AS DOUBLE) AS t, CAST(count(*) AS DOUBLE) AS v FROM freq),
           |tok AS (SELECT doc_id, unnest($toksDoc) AS term FROM documents WHERE doc_id % 5 = 0),
           |lp AS (SELECT doc_id, ln((coalesce(freq.c, 0.0) + 1.0) / (st.t + st.v)) AS lp
           |  FROM tok LEFT JOIN freq USING (term) CROSS JOIN st),
           |r AS (SELECT doc_id, lp,
           |    row_number() OVER (PARTITION BY doc_id ORDER BY lp ASC) AS rn,
           |    count(*) OVER (PARTITION BY doc_id) AS n FROM lp)
           |SELECT doc_id, CAST(max(n) AS BIGINT) AS n_tokens,
           |  round(avg(lp), 6) AS mink_logprob_r
           |FROM r WHERE rn <= ceil(n * 0.2) GROUP BY doc_id""".stripMargin.replace("\n", " "),
      // dv3: per-side value counts, full-outer merge, inclusive window
      // cumsums, exact integer cross-product |cumA·nB - cumB·nA| (HUGEINT
      // here, DECIMAL(38,0) in Spark — same values) maxed with the
      // smallest-value tie pin. The ppm division runs ONLY as BIGINT // —
      // DuckDB's // on DECIMAL true-divides in DOUBLE and rounds half-even
      // while Spark's DECIMAL DIV truncates (r15 advice, the cs10 drift
      // class) — nested largest-total-first with least() saturation guards,
      // mirroring DataValidation.ksDrift term for term.
      "dv3_ks_drift" ->
        """WITH ca AS (SELECT n_chars AS v, count(*) AS fa FROM documents WHERE doc_id % 2 = 0 GROUP BY 1),
          |cb AS (SELECT n_chars AS v, count(*) AS fb FROM documents WHERE doc_id % 2 = 1 GROUP BY 1),
          |m AS (SELECT coalesce(ca.v, cb.v) AS v, coalesce(fa, 0) AS fa, coalesce(fb, 0) AS fb
          |  FROM ca FULL JOIN cb ON ca.v = cb.v),
          |t AS (SELECT CAST(sum(fa) AS BIGINT) AS ta, CAST(sum(fb) AS BIGINT) AS tb FROM m),
          |c AS (SELECT v, sum(fa) OVER (ORDER BY v) AS cfa, sum(fb) OVER (ORDER BY v) AS cfb FROM m),
          |d AS (SELECT v, abs(cfa * t.tb - cfb * t.ta) AS dd FROM c, t),
          |s AS (SELECT v, dd, t.ta, t.tb,
          |    CAST(least(dd, 9223372036854775807) AS BIGINT) AS ddb,
          |    greatest(greatest(t.ta, 1), greatest(t.tb, 1)) AS hi,
          |    least(greatest(t.ta, 1), greatest(t.tb, 1)) AS lo
          |  FROM d, t)
          |SELECT ta AS n_a, tb AS n_b,
          |  ((ddb // hi) * 1000000 + CAST(least(CAST(ddb % hi AS HUGEINT) * 1000000, 9223372036854775807) AS BIGINT) // hi) // lo AS ks_ppm,
          |  CAST(v AS BIGINT) AS at_value
          |FROM s ORDER BY dd DESC, v ASC LIMIT 1""".stripMargin.replace("\n", " "),
      // cs10: the AMS signs replayed from the house md5 arithmetic; every
      // aggregate integer/decimal, the estimate and error integer-DIV'd.
      "cs10_ams_join_size" ->
        """WITH f AS (SELECT CAST(l_partkey AS VARCHAR) AS k, count(*) AS f FROM lineitem GROUP BY 1),
          |ex AS (SELECT CAST(sum(CAST(f AS DECIMAL(38,0)) * f) AS BIGINT) AS exact_f2, count(*) AS n_keys FROM f),
          |sk AS (SELECT unnest(generate_series(0, 15)) AS i),
          |z AS (SELECT i, sum(f * (CAST(('0x' || substr(md5('ams|' || i || '|' || k), 1, 8)) AS BIGINT) % 2 * 2 - 1)) AS z
          |  FROM f, sk GROUP BY 1),
          |e AS (SELECT CAST(least(sum(CAST(z AS DECIMAL(38,0)) * z), CAST(9223372036854775807 AS DECIMAL(38,0))) AS BIGINT) AS sumsq FROM z)
          |SELECT 16 AS n_sketches, n_keys, exact_f2,
          |  sumsq // 16 AS est_f2,
          |  least(abs(sumsq // 16 - exact_f2), 9000000000000) * 1000000 // greatest(exact_f2, 1) AS err_ppm
          |FROM e, ex""".stripMargin.replace("\n", " "),
      // cs11: the ENTIRE sketch replayed — house md5 hash per item, terminal
      // level = trailing zeros of the hash (h & -h isolates the lowest set
      // bit; log2 of an exact power of two is exact in IEEE double on any
      // engine), smallest level whose survivor count fits cap=256, then
      // integer-rank reads of the survivor set in (value, hash, id) order.
      "cs11_kll_quantiles" ->
        """WITH items AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
          |    l_orderkey || '-' || l_linenumber AS id FROM lineitem),
          |hh AS (SELECT v, id, CAST(('0x' || substr(md5('kll|' || id), 1, 8)) AS BIGINT) AS h FROM items),
          |z AS (SELECT v, id, h, CASE WHEN h = 0 THEN 32 ELSE CAST(round(log2((h & -h))) AS INT) END AS tz FROM hh),
          |cnt AS (SELECT l, (SELECT count(*) FROM z WHERE tz >= l) AS c FROM generate_series(0, 33) AS g(l)),
          |lv AS (SELECT CAST(min(l) AS INT) AS level FROM cnt WHERE c <= 256),
          |kept AS (SELECT v, id, h FROM z, lv WHERE z.tz >= lv.level),
          |r AS (SELECT v, row_number() OVER (ORDER BY v, h, id) AS rn, count(*) OVER () AS m FROM kept),
          |qs AS (SELECT unnest([1, 5, 10, 25, 50, 75, 90, 95, 99]) AS q)
          |SELECT CAST(q AS BIGINT) AS q_pct, CAST(r.v AS BIGINT) AS est,
          |  (SELECT CAST(level AS BIGINT) FROM lv) AS level,
          |  CAST(r.m AS BIGINT) AS m_kept
          |FROM qs JOIN r ON r.rn = greatest(1, (q * r.m + 99) // 100)""".stripMargin.replace("\n", " "),
      // cs12: cs11's replay run PER GROUP — per-lang suffix-count window
      // picks the level (0 if the group fits cap, else 1 + the last
      // infeasible tz), then the same rank read inside each group.
      "cs12_kll_grouped" ->
        """WITH items AS (SELECT lang, n_chars AS v, CAST(doc_id AS VARCHAR) AS id,
          |    CAST(('0x' || substr(md5('kll|' || doc_id), 1, 8)) AS BIGINT) AS h FROM documents),
          |z AS (SELECT lang, v, id, h, CASE WHEN h = 0 THEN 32 ELSE CAST(round(log2((h & -h))) AS INT) END AS tz FROM items),
          |hist AS (SELECT lang, tz, count(*) AS c FROM z GROUP BY 1, 2),
          |s AS (SELECT lang, tz, sum(c) OVER (PARTITION BY lang ORDER BY tz DESC) AS sfx FROM hist),
          |lvl AS (SELECT lang, coalesce(max(CASE WHEN sfx > 64 THEN tz END) + 1, 0) AS level FROM s GROUP BY 1),
          |kept AS (SELECT z.lang, v, id, h, lvl.level FROM z JOIN lvl ON z.lang = lvl.lang WHERE z.tz >= lvl.level),
          |r AS (SELECT lang, v, level, row_number() OVER (PARTITION BY lang ORDER BY v, h, id) AS rn,
          |    count(*) OVER (PARTITION BY lang) AS m FROM kept),
          |qs AS (SELECT unnest([25, 50, 75, 90]) AS q)
          |SELECT lang, CAST(q AS BIGINT) AS q_pct, CAST(v AS BIGINT) AS est,
          |  CAST(level AS BIGINT) AS level, CAST(m AS BIGINT) AS m_kept
          |FROM qs JOIN r ON r.rn = greatest(1, (q * r.m + 99) // 100)""".stripMargin.replace("\n", " "),
      // cs13: the collapse compactor replayed whole — global ranks in
      // (value, hash, id) order, stride = ceil(n/cap), md5 phase, survivors
      // at rank ≡ phase (mod stride), nearest-rank read per quantile. All
      // integer arithmetic; both mod operands nonnegative so % ≡ pmod.
      "cs13_kll_compact" ->
        """WITH items AS (SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS v,
          |    l_orderkey || '-' || l_linenumber AS id FROM lineitem),
          |hh AS (SELECT v, id, CAST(('0x' || substr(md5('kll|' || id), 1, 8)) AS BIGINT) AS h FROM items),
          |r AS (SELECT v, h, id, row_number() OVER (ORDER BY v, h, id) - 1 AS rnk FROM hh),
          |p AS (SELECT count(*) AS n, (count(*) + 255) // 256 AS s FROM hh),
          |ph AS (SELECT n, s, CAST(('0x' || substr(md5('kll|collapse|' || n), 1, 8)) AS BIGINT) % s AS phi FROM p),
          |surv AS (SELECT v, rnk FROM r, ph WHERE rnk % ph.s = ph.phi),
          |mm AS (SELECT count(*) AS m FROM surv),
          |qs AS (SELECT unnest([1, 5, 10, 25, 50, 75, 90, 95, 99]) AS q),
          |tgt AS (SELECT q, greatest(1, (q * ph.n + 99) // 100) - 1 AS t FROM qs, ph),
          |pick AS (SELECT q, v, row_number() OVER (PARTITION BY q ORDER BY abs(rnk - t), rnk) AS pr
          |  FROM tgt, surv)
          |SELECT CAST(q AS BIGINT) AS q_pct, CAST(v AS BIGINT) AS est,
          |  (SELECT CAST(s AS BIGINT) FROM ph) AS stride,
          |  (SELECT CAST(m AS BIGINT) FROM mm) AS m_kept
          |FROM pick WHERE pr = 1""".stripMargin.replace("\n", " "),
      // cs14: cs13's replay run PER GROUP — per-lang ranks, per-lang
      // stride/phase, nearest-rank read inside each group.
      "cs14_kll_compact_grouped" ->
        """WITH items AS (SELECT lang, n_chars AS v, CAST(doc_id AS VARCHAR) AS id,
          |    CAST(('0x' || substr(md5('kll|' || doc_id), 1, 8)) AS BIGINT) AS h FROM documents),
          |r AS (SELECT lang, v, id, h,
          |    row_number() OVER (PARTITION BY lang ORDER BY v, h, id) - 1 AS rnk,
          |    count(*) OVER (PARTITION BY lang) AS n FROM items),
          |p AS (SELECT DISTINCT lang, n, (n + 63) // 64 AS s FROM r),
          |ph AS (SELECT lang, n, s, CAST(('0x' || substr(md5('kll|collapse|' || lang || '|' || n), 1, 8)) AS BIGINT) % s AS phi FROM p),
          |surv AS (SELECT r.lang, v, rnk, ph.n, ph.s FROM r JOIN ph ON r.lang = ph.lang WHERE rnk % ph.s = ph.phi),
          |m AS (SELECT lang, count(*) AS mk FROM surv GROUP BY 1),
          |qs AS (SELECT unnest([25, 50, 75, 90]) AS q),
          |tgt AS (SELECT ph.lang, q, greatest(1, (q * ph.n + 99) // 100) - 1 AS t FROM qs, ph),
          |pick AS (SELECT t.lang, t.q, s.v, s.s,
          |    row_number() OVER (PARTITION BY t.lang, t.q ORDER BY abs(s.rnk - t.t), s.rnk) AS pr
          |  FROM tgt t JOIN surv s ON s.lang = t.lang)
          |SELECT p.lang, CAST(p.q AS BIGINT) AS q_pct, CAST(p.v AS BIGINT) AS est,
          |  CAST(p.s AS BIGINT) AS stride, CAST(m.mk AS BIGINT) AS m_kept
          |FROM pick p JOIN m ON m.lang = p.lang WHERE pr = 1""".stripMargin.replace("\n", " "),
      "cs4_countmin" ->
        s"""WITH bg AS (SELECT unnest(list_transform(generate_series(1, greatest(len(w)-1, 0)),
           |    i -> array_to_string(list_slice(w, i, i+1), ' '))) AS bigram
           |  FROM (SELECT $toksDoc AS w FROM documents) d),
           |rs AS (SELECT unnest(generate_series(0, 3)) AS r),
           |cells AS (SELECT rs.r,
           |    CAST(('0x' || substr(md5('cm' || rs.r || '-' || bigram), 1, 8)) AS BIGINT) % 128 AS b,
           |    count(*) AS cnt
           |  FROM bg, rs GROUP BY 1, 2),
           |top AS (SELECT bigram, count(*) AS exact_cnt FROM bg GROUP BY 1
           |  ORDER BY exact_cnt DESC, bigram ASC LIMIT 20),
           |probe AS (SELECT t.bigram, t.exact_cnt, rs.r,
           |    CAST(('0x' || substr(md5('cm' || rs.r || '-' || t.bigram), 1, 8)) AS BIGINT) % 128 AS b
           |  FROM top t, rs)
           |SELECT p.bigram, CAST(p.exact_cnt AS BIGINT) AS exact_cnt,
           |  CAST(min(coalesce(c.cnt, 0)) AS BIGINT) AS cms_est
           |FROM probe p LEFT JOIN cells c ON p.r = c.r AND p.b = c.b
           |GROUP BY p.bigram, p.exact_cnt""".stripMargin.replace("\n", " "),
      "cs3_hll_distinct" ->
        s"""WITH d AS (SELECT lang, $toksDoc AS w FROM documents),
           |vals AS (
           |  SELECT lang, 'w1' AS kind, unnest(w) AS val FROM d
           |  UNION ALL
           |  SELECT lang, 'w3' AS kind, unnest(list_transform(generate_series(1, greatest(len(w)-2, 0)),
           |    i -> array_to_string(list_slice(w, i, i+2), ' '))) AS val FROM d),
           |h AS (SELECT lang, kind, CAST(('0x' || substr(md5(val), 1, 15)) AS BIGINT) AS h FROM vals),
           |r AS (SELECT lang, kind, h % 64 AS b,
           |    max(CASE WHEN (h >> 6) = 0 THEN 55 ELSE 55 - length(bin(h >> 6)) END) AS m
           |  FROM h GROUP BY 1, 2, 3),
           |s AS (SELECT lang, kind,
           |    CAST(sum(1::BIGINT << CAST(55 - m AS INTEGER)) AS BIGINT)
           |      + (64 - count(*)) * (1::BIGINT << 55) AS s,
           |    64 - count(*) AS v
           |  FROM r GROUP BY 1, 2),
           |e AS (SELECT lang, kind,
           |    0.709::DOUBLE * 4096.0 * 36028797018963968.0 / CAST(s AS DOUBLE) AS raw, v FROM s),
           |x AS (SELECT lang, kind, count(DISTINCT val) AS n_exact FROM vals GROUP BY 1, 2)
           |SELECT x.lang, x.kind, CAST(x.n_exact AS BIGINT) AS n_exact,
           |  round(CASE WHEN e.raw <= 160.0 AND e.v > 0 THEN 64.0 * ln(64.0 / e.v) ELSE e.raw END, 4) AS hll_est_r
           |FROM x JOIN e ON x.lang = e.lang AND x.kind = e.kind""".stripMargin.replace("\n", " "),
      // cs5: three HLL estimates from one register CTE (union = max-merge of
      // the per-split registers — the mergeability the estimate leans on),
      // overlap by inclusion-exclusion clamped at 0, exact intersection
      // beside it. Register/fold arithmetic identical to cs3's.
      "cs5_hll_overlap" ->
        s"""WITH un AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0),
           |fps AS (SELECT doc_id, md5(array_to_string(list_sort(list_distinct($toksDoc)), ' ')) AS fp FROM un),
           |sp AS (SELECT fp, CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
           |  FROM (SELECT fp, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b FROM fps) t),
           |v2 AS (SELECT split, fp FROM sp WHERE split IN ('train', 'test')),
           |h AS (SELECT split, CAST(('0x' || substr(md5(fp), 1, 15)) AS BIGINT) AS h FROM v2),
           |r AS (SELECT split, h % 64 AS b,
           |    max(CASE WHEN (h >> 6) = 0 THEN 55 ELSE 55 - length(bin(h >> 6)) END) AS m
           |  FROM h GROUP BY 1, 2),
           |ru AS (SELECT b, max(m) AS m FROM r GROUP BY 1),
           |s1 AS (SELECT split,
           |    CAST(sum(1::BIGINT << CAST(55 - m AS INTEGER)) AS BIGINT) + (64 - count(*)) * (1::BIGINT << 55) AS s,
           |    64 - count(*) AS v FROM r GROUP BY 1),
           |e1 AS (SELECT split, CASE WHEN raw <= 160.0 AND v > 0 THEN 64.0 * ln(64.0 / v) ELSE raw END AS est
           |  FROM (SELECT split, 0.709::DOUBLE * 4096.0 * 36028797018963968.0 / CAST(s AS DOUBLE) AS raw, v FROM s1) q),
           |su AS (SELECT CAST(sum(1::BIGINT << CAST(55 - m AS INTEGER)) AS BIGINT) + (64 - count(*)) * (1::BIGINT << 55) AS s,
           |    64 - count(*) AS v FROM ru),
           |eu AS (SELECT CASE WHEN raw <= 160.0 AND v > 0 THEN 64.0 * ln(64.0 / v) ELSE raw END AS est
           |  FROM (SELECT 0.709::DOUBLE * 4096.0 * 36028797018963968.0 / CAST(s AS DOUBLE) AS raw, v FROM su) q),
           |ex AS (SELECT count(*) AS n FROM (
           |  SELECT DISTINCT fp FROM v2 WHERE split = 'train'
           |  INTERSECT SELECT DISTINCT fp FROM v2 WHERE split = 'test') i)
           |SELECT round(ta.est, 4) AS est_train, round(tb.est, 4) AS est_test,
           |  round(eu.est, 4) AS est_union,
           |  round(greatest(ta.est + tb.est - eu.est, 0.0), 4) AS est_overlap,
           |  CAST(ex.n AS BIGINT) AS n_exact_overlap
           |FROM (SELECT est FROM e1 WHERE split = 'train') ta,
           |     (SELECT est FROM e1 WHERE split = 'test') tb, eu, ex""".stripMargin.replace("\n", " "),
      // cs6: rebuild the identical 64-bin histogram state and interpolate —
      // floor(n/8.0) is float-exact (binW is a power of two), the est
      // arithmetic is the same left-assoc chain as the Scala side.
      "cs6_hist_quantiles" ->
        s"""WITH lens AS (SELECT source, len($toksDoc) AS n FROM documents),
           |st AS (SELECT source,
           |    least(greatest(CAST(floor(n / 8.0) AS INTEGER), 0), 63) AS bin,
           |    count(*) AS cnt FROM lens GROUP BY 1, 2),
           |cum AS (SELECT source, bin, cnt,
           |    sum(cnt) OVER (PARTITION BY source ORDER BY bin) AS c,
           |    sum(cnt) OVER (PARTITION BY source) AS n FROM st),
           |qs AS (SELECT CAST(x AS DOUBLE) AS q
           |  FROM (VALUES (0.25), (0.5), (0.75), (0.9), (0.99)) v(x))
           |SELECT source, q,
           |  round(0 + 8 * bin + 8 * (q * n - (c - cnt)) / cnt, 4) AS est_r
           |FROM cum, qs WHERE c >= q * n AND (c - cnt) < q * n""".stripMargin.replace("\n", " "),
      // cs7: ascending row_number = the prefix-sum rank; Σ(2i−1)·cnt and
      // n·total stay integers until the one division, same as the Spark side.
      "cs7_skew_report" ->
        """WITH c AS (SELECT CAST(user_id AS VARCHAR) AS key, count(*) AS cnt
          |  FROM events GROUP BY 1),
          |r AS (SELECT key, cnt,
          |    row_number() OVER (ORDER BY cnt ASC, key ASC) AS i FROM c),
          |st AS (SELECT CAST(sum((2 * i - 1) * cnt) AS BIGINT) AS a,
          |    count(*) AS n, CAST(sum(cnt) AS BIGINT) AS t FROM r),
          |h AS (SELECT key, cnt,
          |    row_number() OVER (ORDER BY cnt DESC, key ASC) AS rank FROM c)
          |SELECT CAST(h.rank AS INTEGER) AS rank, h.key, h.cnt,
          |  round(CAST(h.cnt AS DOUBLE) / CAST(st.t AS DOUBLE), 6) AS share_r,
          |  st.n AS n_keys, st.t AS total,
          |  round(CAST(st.a - st.n * st.t AS DOUBLE)
          |    / CAST(st.n * st.t AS DOUBLE), 6) AS gini_r
          |FROM h, st WHERE h.rank <= 10""".stripMargin.replace("\n", " "),
      "x22_novelty" ->
        s"""WITH d AS (SELECT doc_id, $toksDoc AS w FROM documents),
           |g AS (SELECT doc_id, unnest(list_distinct(list_transform(generate_series(1, greatest(len(w)-7, 0)),
           |    i -> array_to_string(list_slice(w, i, i+7), ' ')))) AS gram FROM d),
           |f AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1)
           |SELECT g.doc_id, CAST(count(*) AS BIGINT) AS n_grams,
           |  CAST(sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_seen,
           |  round(1.0 - CAST(sum(CASE WHEN f.first_doc < g.doc_id THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4) AS novelty
           |FROM g JOIN f USING (gram) GROUP BY g.doc_id""".stripMargin.replace("\n", " "),
      "x23_dsir_weights" ->
        s"""WITH $dsirCtes
           |SELECT d.doc_id, round(coalesce(sc.s, 0.0), 4) AS w_r
           |FROM (SELECT DISTINCT doc_id FROM documents) d
           |LEFT JOIN sc ON d.doc_id = sc.doc_id""".stripMargin.replace("\n", " "),
      "x24_dsir_resample" ->
        s"""WITH $dsirCtes,
           |lw AS (SELECT d.doc_id, coalesce(sc.s, 0.0) AS lw
           |  FROM (SELECT DISTINCT doc_id FROM documents) d
           |  LEFT JOIN sc ON d.doc_id = sc.doc_id),
           |ky AS (SELECT doc_id, lw + -ln(-ln(
           |    (CAST(('0x' || substr(md5('gum' || CAST(doc_id AS VARCHAR)), 1, 6)) AS BIGINT) + 0.5)
           |    / 16777216.0)) AS gk FROM lw)
           |SELECT doc_id, round(gk, 4) AS gk_r FROM ky
           |ORDER BY gk DESC, doc_id ASC LIMIT 50""".stripMargin.replace("\n", " "),
      // pipe2: the same integers/quantiles from the shared normalization and
      // langid CTE vals (quantile_cont ≡ Spark's exact percentile).
      "pipe2_health" ->
        s"""WITH b AS (SELECT d.doc_id, len($toksDoc) AS n_toks,
           |    $normDoc AS key, lp.lang AS pred
           |  FROM documents d JOIN ($langSelect) lp ON d.doc_id = lp.doc_id)
           |SELECT count(*) AS n_docs,
           |  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
           |  count(*) - count(DISTINCT key) AS n_exact_dups,
           |  round(CAST(count(*) - count(DISTINCT key) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE), 6) AS dup_rate_r,
           |  CAST(sum(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
           |  round(CAST(sum(CASE WHEN pred = 'en' THEN 1 ELSE 0 END) AS DOUBLE)
           |    / CAST(count(*) AS DOUBLE), 6) AS en_share_r,
           |  round(quantile_cont(n_toks, 0.5), 4) AS p50_tokens_r,
           |  round(quantile_cont(n_toks, 0.9), 4) AS p90_tokens_r
           |FROM b""".stripMargin.replace("\n", " "),
      // x30: the same zero-safe JS decomposition (0·ln0 terms excluded by
      // the CASE guards); summation-order ulps sit ~9 orders below round-6.
      "x30_unigram_drift" ->
        s"""WITH ta AS (SELECT unnest($toksDoc) AS term FROM documents WHERE doc_id % 2 = 0),
           |tb AS (SELECT unnest($toksDoc) AS term FROM documents WHERE doc_id % 2 = 1),
           |ca AS (SELECT term, count(*) AS ca FROM ta GROUP BY 1),
           |cb AS (SELECT term, count(*) AS cb FROM tb GROUP BY 1),
           |j AS (SELECT coalesce(ca.ca, 0) AS ca, coalesce(cb.cb, 0) AS cb
           |  FROM ca FULL OUTER JOIN cb ON ca.term = cb.term),
           |tot AS (SELECT CAST(coalesce(sum(ca), 0) AS BIGINT) AS n_a,
           |  CAST(coalesce(sum(cb), 0) AS BIGINT) AS n_b, count(*) AS vocab FROM j),
           |pq AS (SELECT CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE) AS p,
           |              CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE) AS q FROM j, tot),
           |js AS (SELECT 0.5 * sum(CASE WHEN p > 0 THEN p * ln(2.0 * p / (p + q)) ELSE 0.0 END)
           |  + 0.5 * sum(CASE WHEN q > 0 THEN q * ln(2.0 * q / (p + q)) ELSE 0.0 END) AS js FROM pq)
           |SELECT tot.n_a, tot.n_b, tot.vocab, round(js.js, 6) AS js_r FROM tot, js""".stripMargin.replace("\n", " "),
      // x28: same injection; RE2 evaluates the identical lazy patterns; the
      // &amp;-last unescape order matches TextAnalysis.stripMarkup.
      "x28_markup_extract" ->
        """WITH h AS (SELECT doc_id,
          |  '<html><body><h1>Doc ' || CAST(doc_id AS VARCHAR) || '</h1><p>' || text || '</p>' ||
          |  CASE WHEN doc_id % 3 = 0 THEN '<a href="/x">click here to subscribe</a>' ELSE '' END ||
          |  CASE WHEN doc_id % 4 = 0 THEN '<script>var x = 1 < 2; // &amp; junk</script>' ELSE '' END ||
          |  '<p>&amp; more &lt;tags&gt;</p></body></html>' AS html FROM documents),
          |c AS (SELECT doc_id, html, trim(regexp_replace(
          |    replace(replace(replace(replace(replace(
          |      regexp_replace(regexp_replace(html,
          |        '(?s)<(script|style)[^>]*>.*?</(script|style)>', ' ', 'g'),
          |        '<[^>]*>', ' ', 'g'),
          |      '&lt;', '<'), '&gt;', '>'), '&quot;', '"'), '&#39;', ''''), '&amp;', '&'),
          |    '\s+', ' ', 'g')) AS clean FROM h),
          |l AS (SELECT doc_id, CAST(coalesce(list_sum(list_transform(
          |    regexp_extract_all(html, '(?s)<a[^>]*>(.*?)</a>', 1), x -> length(x))), 0) AS BIGINT) AS link_len
          |  FROM h)
          |SELECT c.doc_id, c.clean AS clean_text,
          |  CAST(length(c.clean) AS BIGINT) AS n_chars, l.link_len,
          |  round(CAST(l.link_len AS DOUBLE) / CAST(length(c.clean) AS DOUBLE), 6) AS link_density
          |FROM c JOIN l ON c.doc_id = l.doc_id""".stripMargin.replace("\n", " "),
      "x21_gopher_rules" ->
        """WITH d AS (SELECT doc_id,
          |    concat(CASE WHEN doc_id % 3 = 0 THEN '- ' ELSE '' END, text,
          |           CASE WHEN doc_id % 4 = 0 THEN chr(10) || 'to be continued...' ELSE '' END) AS txt
          |  FROM documents),
          |w AS (SELECT doc_id,
          |    list_filter(regexp_split_to_array(txt, '\s+'), x -> x <> '') AS words,
          |    string_split(txt, chr(10)) AS lines FROM d),
          |m AS (SELECT doc_id,
          |    len(words) AS n_words,
          |    CASE WHEN len(words) = 0 THEN NULL
          |         ELSE CAST(list_sum(list_transform(words, x -> length(x))) AS DOUBLE) / len(words) END AS mwl,
          |    CASE WHEN len(words) = 0 THEN NULL
          |         ELSE CAST(len(list_filter(words, x -> regexp_matches(x, '[A-Za-z]'))) AS DOUBLE) / len(words) END AS af,
          |    len(list_intersect(list_distinct(words), ['the','a','an','of','to','in','and','is','on','for'])) AS nstop,
          |    CAST(len(list_filter(lines, l -> l LIKE '- %' OR l LIKE '* %')) AS DOUBLE) / len(lines) AS bf,
          |    CAST(len(list_filter(lines, l -> l LIKE '%...')) AS DOUBLE) / len(lines) AS ef
          |  FROM w)
          |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, round(mwl, 4) AS mean_word_len,
          |  round(af, 4) AS alpha_frac, CAST(nstop AS BIGINT) AS n_stop_kinds,
          |  round(bf, 4) AS bullet_frac, round(ef, 4) AS ellipsis_frac,
          |  CAST(CASE WHEN n_words BETWEEN 20 AND 100000 AND mwl BETWEEN 3 AND 10
          |       AND af >= 0.7 AND nstop >= 2 AND bf <= 0.9 AND ef <= 0.3
          |       THEN 1 ELSE 0 END AS INTEGER) AS pass
          |FROM m""".stripMargin.replace("\n", " "),
      // sim2/sim3: the label-inequality pair scan + per-anchor top-5 by
      // (cosine DESC, neg_id ASC); sim3 adds the d6-style re-derived
      // hyperplane block key to both sides of the join.
      "sim2_hard_negatives" ->
        """WITH v AS (SELECT CAST(vec_id AS VARCHAR) AS id, label, embedding::DOUBLE[] AS e FROM embeddings),
          |p AS (SELECT a.id AS anchor_id, b.id AS neg_id,
          |    list_dot_product(a.e, b.e) /
          |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS c
          |  FROM v a JOIN v b ON a.id <> b.id AND a.label <> b.label)
          |SELECT anchor_id, rank, neg_id, round(c, 6) AS cosine_r FROM (
          |  SELECT anchor_id, neg_id, c,
          |    CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY c DESC, neg_id ASC) AS INTEGER) AS rank
          |  FROM p WHERE c >= 0.1) t WHERE rank <= 5""".stripMargin.replace("\n", " "),
      "sim3_hard_negatives_blocked" -> {
        s"""WITH v AS (SELECT CAST(vec_id AS VARCHAR) AS id, label, embedding::DOUBLE[] AS e FROM embeddings),
           |bv AS (SELECT id, label, e, ${blkSql(3)} AS blk FROM v),
           |p AS (SELECT a.id AS anchor_id, b.id AS neg_id,
           |    list_dot_product(a.e, b.e) /
           |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS c
           |  FROM bv a JOIN bv b ON a.blk = b.blk AND a.id <> b.id AND a.label <> b.label)
           |SELECT anchor_id, rank, neg_id, round(c, 6) AS cosine_r FROM (
           |  SELECT anchor_id, neg_id, c,
           |    CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY c DESC, neg_id ASC) AS INTEGER) AS rank
           |  FROM p WHERE c >= 0.1) t WHERE rank <= 5""".stripMargin.replace("\n", " ")
      },
      // sim4: per-anchor top-10 by (cosine DESC, id ASC) over the
      // label-inequality-free pair scan, then the agreement count.
      "sim4_label_agreement" ->
        """WITH v AS (SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS lab,
          |    embedding::DOUBLE[] AS e FROM embeddings WHERE label IS NOT NULL),
          |p AS (SELECT a.id AS aid, a.lab AS alab, b.lab AS blab,
          |    row_number() OVER (PARTITION BY a.id ORDER BY
          |      list_dot_product(a.e, b.e) /
          |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) DESC,
          |      b.id ASC) AS rn
          |  FROM v a JOIN v b ON a.id <> b.id)
          |SELECT aid AS id, alab AS label, count(*) AS k_eff,
          |  CAST(sum(CASE WHEN blab = alab THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
          |  round(CAST(sum(CASE WHEN blab = alab THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS agreement_r
          |FROM p WHERE rn <= 10 GROUP BY 1, 2""".stripMargin.replace("\n", " "),
      // sim4b: sim4's audit with the re-derived block key on both scan sides.
      "sim4_agreement_blocked" ->
        s"""WITH v AS (SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS lab,
           |    embedding::DOUBLE[] AS e FROM embeddings WHERE label IS NOT NULL),
           |bv AS (SELECT id, lab, e, ${blkSql(3)} AS blk FROM v),
           |p AS (SELECT a.id AS aid, a.lab AS alab, b.lab AS blab,
           |    row_number() OVER (PARTITION BY a.id ORDER BY
           |      list_dot_product(a.e, b.e) /
           |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) DESC,
           |      b.id ASC) AS rn
           |  FROM bv a JOIN bv b ON a.blk = b.blk AND a.id <> b.id)
           |SELECT aid AS id, alab AS label, count(*) AS k_eff,
           |  CAST(sum(CASE WHEN blab = alab THEN 1 ELSE 0 END) AS BIGINT) AS n_same,
           |  round(CAST(sum(CASE WHEN blab = alab THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS agreement_r
           |FROM p WHERE rn <= 10 GROUP BY 1, 2""".stripMargin.replace("\n", " "),
      // sim5: per-(label, dim) average reassembled positionally, medoid =
      // top-1 member by cosine-to-centroid with id tiebreak.
      "sim5_label_prototypes" ->
        """WITH v AS (SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS lab,
          |    embedding::DOUBLE[] AS e FROM embeddings WHERE label IS NOT NULL),
          |u AS (SELECT lab, i AS pos, e[i] AS x FROM v, unnest(generate_series(1, len(e))) AS t(i)),
          |cpos AS (SELECT lab, pos, avg(x) AS c FROM u GROUP BY 1, 2),
          |cent AS (SELECT lab, list(c ORDER BY pos) AS ce FROM cpos GROUP BY 1),
          |n AS (SELECT lab, count(*) AS n FROM v GROUP BY 1),
          |m AS (SELECT lab, id, cs, row_number() OVER (PARTITION BY lab ORDER BY cs DESC, id ASC) AS rn
          |  FROM (SELECT v.lab, v.id,
          |      list_dot_product(v.e, c2.ce) /
          |      (sqrt(list_dot_product(v.e, v.e)) * sqrt(list_dot_product(c2.ce, c2.ce))) AS cs
          |    FROM v JOIN cent c2 ON v.lab = c2.lab) s)
          |SELECT n.lab AS label, n.n, m.id AS medoid_id, round(m.cs, 6) AS medoid_cos_r,
          |  array_to_string(list_transform(cent.ce,
          |    x -> CAST(CAST(round(x, 6) AS DECIMAL(18,6)) AS VARCHAR)), ',') AS centroid_r
          |FROM n JOIN cent ON cent.lab = n.lab JOIN m ON m.lab = n.lab AND m.rn = 1""".stripMargin.replace("\n", " "),
      // sim6: directed top-8 per anchor by (cosine DESC, id ASC), then the
      // reversed-pair self-join keeps mutual edges once (id_a < id_b).
      "sim6_mutual_knn" ->
        """WITH v AS (SELECT CAST(vec_id AS VARCHAR) AS id, embedding::DOUBLE[] AS e FROM embeddings),
          |p AS (SELECT a.id AS src, b.id AS dst,
          |    list_dot_product(a.e, b.e) /
          |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS c
          |  FROM v a JOIN v b ON a.id <> b.id),
          |r AS (SELECT src, dst, c,
          |    row_number() OVER (PARTITION BY src ORDER BY c DESC, dst ASC) AS rn FROM p),
          |knn AS (SELECT src, dst, c FROM r WHERE rn <= 8)
          |SELECT x.src AS id_a, x.dst AS id_b, round(x.c, 6) AS cosine_r
          |FROM knn x JOIN knn y ON x.src = y.dst AND x.dst = y.src AND x.src < x.dst""".stripMargin.replace("\n", " "),
      // sim6b: sim6's directed lists restricted to shared blocks before the
      // mutuality self-join.
      "sim6_mutual_knn_blocked" ->
        s"""WITH v AS (SELECT CAST(vec_id AS VARCHAR) AS id, embedding::DOUBLE[] AS e FROM embeddings),
           |bv AS (SELECT id, e, ${blkSql(3)} AS blk FROM v),
           |p AS (SELECT a.id AS src, b.id AS dst,
           |    list_dot_product(a.e, b.e) /
           |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS c
           |  FROM bv a JOIN bv b ON a.blk = b.blk AND a.id <> b.id),
           |r AS (SELECT src, dst, c,
           |    row_number() OVER (PARTITION BY src ORDER BY c DESC, dst ASC) AS rn FROM p),
           |knn AS (SELECT src, dst, c FROM r WHERE rn <= 8)
           |SELECT x.src AS id_a, x.dst AS id_b, round(x.c, 6) AS cosine_r
           |FROM knn x JOIN knn y ON x.src = y.dst AND x.dst = y.src AND x.src < x.dst""".stripMargin.replace("\n", " "),
      // sim7: one pair scan, positive side ranked (c ASC, id ASC),
      // negative side (c DESC, id ASC), inner-joined per anchor.
      "sim7_triplet_mine" ->
        """WITH v AS (SELECT CAST(vec_id AS VARCHAR) AS id, CAST(label AS VARCHAR) AS lab,
          |    embedding::DOUBLE[] AS e FROM embeddings WHERE label IS NOT NULL),
          |p AS (SELECT a.id AS aid, a.lab AS alab, b.id AS bid, a.lab = b.lab AS same,
          |    list_dot_product(a.e, b.e) /
          |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS c
          |  FROM v a JOIN v b ON a.id <> b.id),
          |pos AS (SELECT aid, alab, bid AS pos_id, c AS pos_cos FROM (
          |  SELECT aid, alab, bid, c, row_number() OVER (PARTITION BY aid ORDER BY c ASC, bid ASC) AS rn
          |  FROM p WHERE same) t WHERE rn = 1),
          |neg AS (SELECT aid, bid AS neg_id, c AS neg_cos FROM (
          |  SELECT aid, bid, c, row_number() OVER (PARTITION BY aid ORDER BY c DESC, bid ASC) AS rn
          |  FROM p WHERE NOT same) t WHERE rn = 1)
          |SELECT pos.aid AS anchor_id, pos.alab AS label, pos.pos_id,
          |  round(pos.pos_cos, 6) AS pos_cos_r, neg.neg_id,
          |  round(neg.neg_cos, 6) AS neg_cos_r,
          |  round(pos.pos_cos - neg.neg_cos, 6) AS margin_r
          |FROM pos JOIN neg ON neg.aid = pos.aid""".stripMargin.replace("\n", " "),
      // sim8: top-10 by (cosine DESC, id ASC), mean via the ORDERED
      // aggregate so the float summation order matches the Spark fold.
      "sim8_knn_density" ->
        """WITH v AS (SELECT CAST(vec_id AS VARCHAR) AS id, embedding::DOUBLE[] AS e FROM embeddings),
          |p AS (SELECT a.id AS aid, b.id AS bid,
          |    list_dot_product(a.e, b.e) /
          |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS c
          |  FROM v a JOIN v b ON a.id <> b.id),
          |r AS (SELECT aid, bid, c,
          |    row_number() OVER (PARTITION BY aid ORDER BY c DESC, bid ASC) AS rn FROM p)
          |SELECT aid AS id, count(*) AS k_eff,
          |  round(sum(c ORDER BY c DESC, bid ASC) / count(*), 6) AS mean_cos_r
          |FROM r WHERE rn <= 10 GROUP BY 1""".stripMargin.replace("\n", " "),
      // sim8b: sim8's scan restricted to shared blocks (same ordered-
      // aggregate mean so the float summation order still matches Spark).
      "sim8_density_blocked" ->
        s"""WITH v AS (SELECT CAST(vec_id AS VARCHAR) AS id, embedding::DOUBLE[] AS e FROM embeddings),
           |bv AS (SELECT id, e, ${blkSql(3)} AS blk FROM v),
           |p AS (SELECT a.id AS aid, b.id AS bid,
           |    list_dot_product(a.e, b.e) /
           |    (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b.e, b.e))) AS c
           |  FROM bv a JOIN bv b ON a.blk = b.blk AND a.id <> b.id),
           |r AS (SELECT aid, bid, c,
           |    row_number() OVER (PARTITION BY aid ORDER BY c DESC, bid ASC) AS rn FROM p)
           |SELECT aid AS id, count(*) AS k_eff,
           |  round(sum(c ORDER BY c DESC, bid ASC) / count(*), 6) AS mean_cos_r
           |FROM r WHERE rn <= 10 GROUP BY 1""".stripMargin.replace("\n", " "),
      // sim9: v6's unrolled-round pattern — per round, the anti-joined
      // survivors score max cosine to the selected set (fresh max ≡ Spark's
      // running greatest: max is an exact compare over identical IEEE
      // cosines) and the (mc ASC, id ASC) row_number pick mirrors the
      // TakeOrdered. Seed = min VARCHAR id on both engines. Every CTE is
      // MATERIALIZED (the g12 / label-propagation idiom): inlined, each
      // round re-expands every earlier round and DuckDB runs out of memory.
      "sim9_kcenter_coreset" -> {
        val rounds = (2 to 8).map { r =>
          s"""sc$r AS MATERIALIZED (SELECT c.id, c.e, c.nm,
             |    (SELECT max(list_dot_product(c.e, s.e) / (c.nm * s.nm)) FROM su${r - 1} s) AS mc
             |  FROM v c ANTI JOIN su${r - 1} u ON c.id = u.id),
             |sel$r AS MATERIALIZED (SELECT id, e, nm, mc FROM (
             |    SELECT id, e, nm, mc, row_number() OVER (ORDER BY mc ASC, id ASC) AS rn FROM sc$r) t WHERE rn = 1),
             |su$r AS MATERIALIZED (SELECT id, e, nm FROM su${r - 1} UNION ALL SELECT id, e, nm FROM sel$r)""".stripMargin
        }.mkString(",\n")
        val finals = (Seq("SELECT 1 AS rank, id AS pick_id, CAST(NULL AS DOUBLE) AS max_cos_r FROM su1") ++
          (2 to 8).map(r => s"SELECT $r AS rank, id AS pick_id, round(mc, 6) AS max_cos_r FROM sel$r"))
          .mkString(" UNION ALL ")
        s"""WITH v AS MATERIALIZED (SELECT CAST(vec_id AS VARCHAR) AS id, embedding::DOUBLE[] AS e,
           |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nm FROM embeddings),
           |su1 AS MATERIALIZED (SELECT id, e, nm FROM v ORDER BY id ASC LIMIT 1),
           |$rounds
           |$finals""".stripMargin.replace("\n", " ")
      },
      // nn1: the rounds=1 NN-descent construction unrolled — seed-0 md5
      // buckets scored to each src's INTERNAL top-16 (k0; K = oversample·k
      // = 2·8), reverse edges hub-capped at 16 by the pair hash (rc),
      // wedges of the undirected adjacency, seed-1 bucket pairs mixed in,
      // the union rescored and the final projection sliced to top-8 (the
      // internal list's first 8 = the candidate set's overall top-8).
      // Hashes are the house md5 arithmetic; ranking ties are
      // (cosine DESC, id ASC) = the TopKAggregator order.
      "nn1_descent_graph" ->
        s"""WITH $nnGraphCtes
           |SELECT src AS id, dst AS nbr_id, round(c, 6) AS cosine_r FROM gk""".stripMargin.replace("\n", " "),
      // nn2: mutuality derived from the SAME rounds=1 graph (the
      // mutualKnnFrom consumer) — one reversed-pair self-join on nn1's
      // pinned edge set.
      "nn2_mutual_from_graph" ->
        s"""WITH $nnGraphCtes
           |SELECT x.src AS id_a, x.dst AS id_b, round(x.c, 6) AS cosine_r
           |FROM gk x JOIN gk y ON x.src = y.dst AND x.dst = y.src AND x.src < x.dst""".stripMargin.replace("\n", " "),
      // nn3: density from the same graph (knnDensityFrom) — the mean folds
      // in the aggregator's (cosine DESC, id ASC) order on BOTH engines
      // (the sim8 ordered-aggregate convention).
      "nn3_density_from_graph" ->
        s"""WITH $nnGraphCtes
           |SELECT src AS id, CAST(count(*) AS BIGINT) AS k_eff,
           |  round(sum(c ORDER BY c DESC, dst ASC) / count(*), 6) AS mean_cos_r
           |FROM gk GROUP BY src""".stripMargin.replace("\n", " "),
      "sim1_sparse_cosine" ->
        s"""WITH bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(w)-1, 0)),
           |    i -> array_to_string(list_slice(w, i, i+1), ' '))) AS t
           |  FROM (SELECT doc_id, $toksDoc AS w FROM documents) d),
           |tf AS (SELECT doc_id AS id, t AS token, count(*) AS tf FROM bg GROUP BY 1, 2),
           |n AS (SELECT count(DISTINCT id) AS n FROM tf),
           |kept AS (SELECT token, ln(CAST((SELECT n FROM n) AS DOUBLE) / count(*)) AS idf
           |  FROM tf GROUP BY token HAVING count(*) <= 30),
           |w AS (SELECT tf.id, tf.token, tf.tf * kept.idf AS w FROM tf JOIN kept USING (token)),
           |nrm AS (SELECT id, sqrt(sum(w * w)) AS nrm FROM w GROUP BY id),
           |p AS (SELECT a.id AS id_a, b.id AS id_b, sum(a.w * b.w) AS dot
           |  FROM w a JOIN w b ON a.token = b.token AND a.id < b.id GROUP BY 1, 2)
           |SELECT p.id_a, p.id_b, round(p.dot / (na.nrm * nb.nrm), 6) AS cosine
           |FROM p JOIN nrm na ON p.id_a = na.id JOIN nrm nb ON p.id_b = nb.id
           |WHERE na.nrm * nb.nrm > 0
           |  AND round(p.dot / (na.nrm * nb.nrm), 6) >= 0.3""".stripMargin.replace("\n", " "),
      "d11_remove_dup_spans" ->
        s"""WITH d AS (SELECT doc_id, $toksDoc AS w FROM documents),
           |g AS (SELECT doc_id, u['start'] AS start, u['gram'] AS gram FROM (
           |  SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(w)-7, 0)),
           |    i -> {'start': i - 1, 'gram': array_to_string(list_slice(w, i, i+7), ' ')})) AS u
           |  FROM d) t),
           |dup AS (SELECT gram FROM g GROUP BY gram HAVING count(DISTINCT doc_id) >= 2),
           |win AS (SELECT doc_id, start, start + 7 AS e FROM g WHERE gram IN (SELECT gram FROM dup)),
           |mk AS (SELECT doc_id, start, e,
           |    max(e) OVER (PARTITION BY doc_id ORDER BY start ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           |  FROM win),
           |isl AS (SELECT doc_id, start, e,
           |    sum(CASE WHEN pmax IS NULL OR start > pmax + 1 THEN 1 ELSE 0 END)
           |      OVER (PARTITION BY doc_id ORDER BY start ROWS UNBOUNDED PRECEDING) AS island
           |  FROM mk),
           |spans AS (SELECT doc_id, min(start) AS a, max(e) AS b FROM isl GROUP BY doc_id, island),
           |cov AS (SELECT doc_id, unnest(generate_series(a, b)) AS pos FROM spans),
           |tok AS (SELECT doc_id, generate_subscripts(w, 1) - 1 AS pos, unnest(w) AS tok FROM d),
           |kept AS (SELECT t.doc_id, t.pos, t.tok FROM tok t
           |  LEFT JOIN cov c ON t.doc_id = c.doc_id AND t.pos = c.pos WHERE c.doc_id IS NULL)
           |SELECT d.doc_id, CAST(coalesce(k.n, 0) AS BIGINT) AS n_tokens_kept,
           |  coalesce(k.txt, '') AS clean_text
           |FROM d LEFT JOIN (SELECT doc_id, count(*) AS n,
           |    string_agg(tok, ' ' ORDER BY pos) AS txt FROM kept GROUP BY doc_id) k
           |  USING (doc_id)""".stripMargin.replace("\n", " "),
      "x14_ngram_contamination" ->
        s"""WITH un AS (
           |  SELECT doc_id, text FROM documents
           |  UNION ALL SELECT doc_id + 1000000 AS doc_id, text FROM documents WHERE doc_id % 7 = 0),
           |sh AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(w)-7, 0)),
           |    i -> array_to_string(list_slice(w, i, i+7), ' '))) AS sh
           |  FROM (SELECT doc_id, $toksDoc AS w FROM un) t),
           |sp AS (SELECT doc_id, sh,
           |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
           |  FROM (SELECT doc_id, sh, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b FROM sh) t),
           |train AS (SELECT DISTINCT sh FROM sp WHERE split = 'train')
           |SELECT doc_id, split, count(DISTINCT sh) AS n_shared
           |FROM sp WHERE split <> 'train' AND sh IN (SELECT sh FROM train)
           |GROUP BY 1, 2""".stripMargin.replace("\n", " "),
      "st1_window_agg" ->
        """SELECT epoch_ns(ts) // 3600000000000 AS hour_bucket, event_type,
          |count(*) AS n, round(sum(value), 4) AS sum_value
          |FROM events GROUP BY 1, 2""".stripMargin.replace("\n", " "),
      "st2_sessionize" ->
        """WITH marked AS (
          |  SELECT user_id, epoch_ns(ts) AS tsn, value,
          |    CASE WHEN epoch_ns(ts) - lag(epoch_ns(ts)) OVER (PARTITION BY user_id ORDER BY ts) > 1800000000000
          |         THEN 1 ELSE 0 END AS new_s
          |  FROM events),
          |sess AS (
          |  SELECT user_id, tsn, value,
          |    CAST(sum(new_s) OVER (PARTITION BY user_id ORDER BY tsn ROWS UNBOUNDED PRECEDING) + 1 AS INTEGER) AS session_seq
          |  FROM marked)
          |SELECT user_id, session_seq, min(tsn) // 1000 AS session_start_us,
          |  max(tsn) // 1000 AS session_end_us,
          |  count(*) AS n_events, round(sum(value), 4) AS sum_value
          |FROM sess GROUP BY user_id, session_seq""".stripMargin.replace("\n", " "),
      "st3_interval_join" ->
        """SELECT c.event_id AS click_id, CAST(count(*) AS BIGINT) AS n_purchases,
          |round(sum(p.value), 4) AS sum_value
          |FROM events c JOIN events p ON c.user_id = p.user_id
          |WHERE c.event_type = 'click' AND p.event_type = 'purchase'
          |  AND epoch_ns(p.ts) >= epoch_ns(c.ts)
          |  AND epoch_ns(p.ts) <= epoch_ns(c.ts) + 600000000000
          |GROUP BY c.event_id""".stripMargin.replace("\n", " "),
      // ev1: per-step earliest-completion CTE chain with strict > chaining.
      "ev1_funnel" ->
        """WITH u1 AS (SELECT user_id, min(epoch_ns(ts)) AS t FROM events
          |  WHERE event_type = 'view' GROUP BY 1),
          |u2 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t FROM events e
          |  JOIN u1 ON e.user_id = u1.user_id AND epoch_ns(e.ts) > u1.t
          |  WHERE e.event_type = 'click' GROUP BY 1),
          |u3 AS (SELECT e.user_id, min(epoch_ns(e.ts)) AS t FROM events e
          |  JOIN u2 ON e.user_id = u2.user_id AND epoch_ns(e.ts) > u2.t
          |  WHERE e.event_type = 'purchase' GROUP BY 1)
          |SELECT 1 AS step, 'view' AS event_type, count(*) AS n_users FROM u1
          |UNION ALL SELECT 2, 'click', count(*) FROM u2
          |UNION ALL SELECT 3, 'purchase', count(*) FROM u3""".stripMargin.replace("\n", " "),
      // x37: the UrlOps pipeline replayed expression-for-expression.
      "x37_url_canonicalize" ->
        s"""WITH $urlCtes
           |SELECT doc_id, url, canon_url, domain FROM udom""".stripMargin.replace("\n", " "),
      // x38: the same domain derivation capped at 10 per domain by
      // (md5(id), id) rank — the engine's capPerKey order.
      "x38_domain_cap" ->
        s"""WITH $urlCtes,
           |k AS (SELECT domain, doc_id, row_number() OVER (PARTITION BY domain
           |    ORDER BY CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT), doc_id) AS rn
           |  FROM udom)
           |SELECT domain, doc_id FROM k WHERE rn <= 10""".stripMargin.replace("\n", " "),
      // x39: the same two unrolled TextRank iterations — window-2 edges,
      // degree, then (1−d) + d·Σ tr(u)/deg(u) with the float sum ORDERED by
      // neighbor (the g29/x36 fold convention). Literals cast to DOUBLE so
      // (1.0 − 0.85) produces the identical double as Spark's Scala
      // subtraction (DuckDB's bare decimals would fold to a DIFFERENT
      // 0.15). Ranking by the RAW score and a floor(·1e6) projection — the
      // bit-identical doubles diverge under the two engines' round() at
      // TextRank's exact .5 boundaries (1.0371875 → 88 vs 87).
      "x39_textrank" ->
        s"""WITH $textrankCtes
           |SELECT doc_id, CAST(rank AS INTEGER) AS rank, w AS keyword,
           |  CAST(floor(tr * 1e6) AS BIGINT) AS score_u
           |FROM kw WHERE rank <= 5""".stripMargin.replace("\n", " "),
      // pipe4: the whole CDC-decontamination composition collapses to a
      // plain left-anti against the v2 eval keys — sketch fpp and the
      // maintain-vs-rebuild choice are provably output-invisible (the
      // exact-confirm backstop), so the oracle states the SEMANTICS, not
      // the mechanism.
      "pipe4_cdc_decontam" ->
        """WITH v2 AS (SELECT doc_id FROM documents
          |  WHERE (doc_id % 9 = 0 AND doc_id % 27 <> 0)
          |     OR (doc_id % 9 <> 0 AND doc_id % 31 = 0))
          |SELECT d.doc_id, d.lang FROM documents d
          |WHERE d.doc_id NOT IN (SELECT doc_id FROM v2)""".stripMargin.replace("\n", " "),
      // pipe3: exact-dedup clusters labeled by their representative's rank-1
      // TextRank keyword — the kw CTE is per-document independent, so
      // computing it corpus-wide and joining reps equals the Spark side's
      // reps-only run row-for-row.
      "pipe3_topic_dedup" ->
        s"""WITH $textrankCtes,
           |cl AS (SELECT min(doc_id) AS keep_id, count(*) AS n_dups
           |  FROM documents GROUP BY $normDoc),
           |top AS (SELECT doc_id, w AS keyword FROM kw WHERE rank = 1)
           |SELECT coalesce(t.keyword, '(none)') AS topic,
           |  count(*) AS n_clusters, CAST(sum(cl.n_dups) AS BIGINT) AS n_docs
           |FROM cl LEFT JOIN top t ON t.doc_id = cl.keep_id
           |GROUP BY 1""".stripMargin.replace("\n", " "),
      // x40: the PSL prevailing-rule algorithm replayed — candidate suffix
      // explode (exact k-tails + wildcard forms), join the SAME snapshot
      // rules (inlined VALUES from Psl.snapshotRules — one source of
      // truth), max(exc·100 + nlab) = (exception, most-labels) lexicographic
      // order since nlab <= 8, exception drops its leftmost label, no match
      // = the implicit '*' (ps = 1), host == suffix -> NULL.
      "x40_psl_domain" -> {
        val rulesValues = graft.functions.Psl.snapshotRules()
          .map(r => s"('${r.rule}',${r.nlab},${if (r.exc) 1 else 0})")
          .mkString(",")
        s"""WITH rules(rule, nlab, exc) AS (VALUES $rulesValues),
           |h AS (SELECT doc_id,
           |    CASE WHEN doc_id % 8 = 0 THEN 'sub' || CAST(doc_id % 9 AS VARCHAR) || '.example' || CAST(doc_id % 9 AS VARCHAR) || '.com'
           |         WHEN doc_id % 8 = 1 THEN 'shop' || CAST(doc_id % 9 AS VARCHAR) || '.brand' || CAST(doc_id % 9 AS VARCHAR) || '.co.uk'
           |         WHEN doc_id % 8 = 2 THEN 'user' || CAST(doc_id % 9 AS VARCHAR) || '.github.io'
           |         WHEN doc_id % 8 = 3 THEN 'a' || CAST(doc_id % 9 AS VARCHAR) || '.foo' || CAST(doc_id % 9 AS VARCHAR) || '.bar' || CAST(doc_id % 9 AS VARCHAR) || '.ck'
           |         WHEN doc_id % 8 = 4 THEN 'sub' || CAST(doc_id % 9 AS VARCHAR) || '.www.ck'
           |         WHEN doc_id % 8 = 5 THEN 'x' || CAST(doc_id % 9 AS VARCHAR) || '.city.kawasaki.jp'
           |         WHEN doc_id % 8 = 6 THEN 'a' || CAST(doc_id % 9 AS VARCHAR) || '.example' || CAST(doc_id % 9 AS VARCHAR) || '.zz' || CAST(doc_id % 9 AS VARCHAR)
           |         ELSE 'co.uk' END AS host
           |  FROM documents),
           |hl AS (SELECT doc_id, host, string_split(host, '.') AS l,
           |    len(string_split(host, '.')) AS n FROM h),
           |ks AS (SELECT doc_id, host, l, n,
           |    unnest(generate_series(1, least(n, 8))) AS k FROM hl),
           |cand AS (
           |  SELECT doc_id, array_to_string(l[n-k+1:n], '.') AS cand FROM ks
           |  UNION ALL
           |  SELECT doc_id, CASE WHEN k = 1 THEN '*'
           |    ELSE '*.' || array_to_string(l[n-k+2:n], '.') END FROM ks),
           |m AS (SELECT doc_id, max(exc * 100 + nlab) AS mm
           |  FROM cand JOIN rules ON cand.cand = rules.rule GROUP BY 1),
           |ps AS (SELECT hl.doc_id, hl.host, hl.l, hl.n,
           |    COALESCE(CASE WHEN mm >= 100 THEN mm - 101 ELSE mm END, 1) AS ps
           |  FROM hl LEFT JOIN m USING (doc_id))
           |SELECT doc_id, host,
           |  CASE WHEN n > ps THEN array_to_string(l[n-ps:n], '.') ELSE NULL END AS psl_domain
           |FROM ps""".stripMargin.replace("\n", " ")
      },
      // ev8: the pair-join + rank-1 twin of the window formulation — both
      // pick the (ts, id)-max touch strictly before the conversion row.
      "ev8_attribution" ->
        """WITH ev AS (SELECT event_id, user_id, epoch_ns(ts) AS tns, event_type, value FROM events),
          |p AS (SELECT * FROM ev WHERE event_type = 'purchase'),
          |tch AS (SELECT * FROM ev WHERE event_type IN ('click', 'view')),
          |r AS (SELECT p.event_id AS pid, t.event_type AS touch_type,
          |    row_number() OVER (PARTITION BY p.event_id
          |      ORDER BY t.tns DESC, t.event_id DESC) AS rn
          |  FROM p JOIN tch t ON t.user_id = p.user_id
          |    AND (t.tns < p.tns OR (t.tns = p.tns AND t.event_id < p.event_id))
          |    AND p.tns - t.tns <= 259200000000000),
          |lt AS (SELECT pid, touch_type FROM r WHERE rn = 1)
          |SELECT coalesce(lt.touch_type, 'none') AS touch_type,
          |  count(*) AS n_conversions,
          |  CAST(sum(CAST(round(p.value * 100) AS BIGINT)) AS BIGINT) AS revenue_cents
          |FROM p LEFT JOIN lt ON lt.pid = p.event_id GROUP BY 1""".stripMargin.replace("\n", " "),
      // ev2: integer day division (//) mirrors the Spark side's `div` —
      // a float path would mis-bucket epoch-ns values past 2^53.
      "ev2_retention" ->
        """WITH act AS (SELECT DISTINCT user_id,
          |    epoch_ns(ts) // 86400000000000 AS day FROM events),
          |coh AS (SELECT user_id, min(day) AS c FROM act GROUP BY 1)
          |SELECT coh.c AS cohort_day, act.day - coh.c AS day_offset,
          |  count(*) AS n_users
          |FROM act JOIN coh ON act.user_id = coh.user_id
          |WHERE act.day - coh.c <= 7
          |GROUP BY 1, 2""".stripMargin.replace("\n", " "),
      // ev4: the ev1 completion CTEs carrying the previous step's time, so
      // the latency is a column; quantile_cont ≡ Spark's exact percentile.
      "ev4_funnel_latency" ->
        """WITH u1 AS (SELECT user_id, min(epoch_ns(ts)) AS t FROM events
          |  WHERE event_type = 'view' GROUP BY 1),
          |u2 AS (SELECT e.user_id, u1.t AS t0, min(epoch_ns(e.ts)) AS t FROM events e
          |  JOIN u1 ON e.user_id = u1.user_id AND epoch_ns(e.ts) > u1.t
          |  WHERE e.event_type = 'click' GROUP BY 1, 2),
          |u3 AS (SELECT e.user_id, u2.t AS t0, min(epoch_ns(e.ts)) AS t FROM events e
          |  JOIN u2 ON e.user_id = u2.user_id AND epoch_ns(e.ts) > u2.t
          |  WHERE e.event_type = 'purchase' GROUP BY 1, 2)
          |SELECT 2 AS step, 'click' AS event_type, count(*) AS n_users,
          |  round(quantile_cont(CAST(t - t0 AS DOUBLE) / 1e9, 0.5), 4) AS p50_r,
          |  round(quantile_cont(CAST(t - t0 AS DOUBLE) / 1e9, 0.9), 4) AS p90_r FROM u2 HAVING count(*) > 0
          |UNION ALL
          |SELECT 3, 'purchase', count(*),
          |  round(quantile_cont(CAST(t - t0 AS DOUBLE) / 1e9, 0.5), 4),
          |  round(quantile_cont(CAST(t - t0 AS DOUBLE) / 1e9, 0.9), 4) FROM u3 HAVING count(*) > 0""".stripMargin.replace("\n", " "),
      // ev3: the range-join formulation (count DISTINCT users per trailing
      // window) — an independent decomposition of the Spark side's bounded
      // sequence-explode rewrite; BIGINT/BIGINT→DOUBLE division is
      // float-exact on both engines.
      "ev3_rolling_active" ->
        """WITH act AS (SELECT DISTINCT user_id,
          |    epoch_ns(ts) // 86400000000000 AS day FROM events),
          |dau AS (SELECT day, count(*) AS dau FROM act GROUP BY 1),
          |wau AS (SELECT d.day, count(DISTINCT a.user_id) AS wau
          |  FROM (SELECT DISTINCT day FROM act) d
          |  JOIN act a ON a.day BETWEEN d.day - 6 AND d.day GROUP BY 1)
          |SELECT dau.day, dau.dau, wau.wau,
          |  round(CAST(dau.dau AS DOUBLE) / CAST(wau.wau AS DOUBLE), 6) AS stickiness
          |FROM dau JOIN wau ON dau.day = wau.day""".stripMargin.replace("\n", " "),
      "x6_json_props" ->
        """SELECT event_type, count(*) AS n,
          |CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
          |min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
          |max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
          |FROM events GROUP BY event_type""".stripMargin.replace("\n", " "),
      "aj1_asof_join" ->
        """WITH o AS (
          |  SELECT o_custkey AS k, CAST(epoch(o_orderdate) AS BIGINT) * 1000000000 AS t,
          |         round(max(o_totalprice), 2) AS v
          |  FROM orders GROUP BY 1, 2)
          |SELECT e.event_id, o.v AS asof_ord_price
          |FROM events e ASOF LEFT JOIN o ON e.user_id = o.k AND o.t <= epoch_ns(e.ts)""".stripMargin.replace("\n", " "),
      // aj2: brute-force per-event argmin over the user's orders — fine at
      // oracle scale; (abs distance, earlier time) reproduces the Spark
      // side's backward-wins-ties pick exactly.
      "aj2_nearest_join" ->
        """WITH o AS (
          |  SELECT o_custkey AS k, CAST(epoch(o_orderdate) AS BIGINT) * 1000000000 AS t,
          |         round(max(o_totalprice), 2) AS v
          |  FROM orders GROUP BY 1, 2),
          |j AS (SELECT e.event_id, o.v,
          |    row_number() OVER (PARTITION BY e.event_id
          |      ORDER BY abs(epoch_ns(e.ts) - o.t), o.t) AS rn
          |  FROM events e JOIN o ON e.user_id = o.k)
          |SELECT e.event_id, j1.v AS nearest_ord_price
          |FROM events e LEFT JOIN (SELECT event_id, v FROM j WHERE rn = 1) j1 USING (event_id)""".stripMargin.replace("\n", " "),
      "fz1_fuzzy_match" ->
        """WITH probes AS (SELECT p_partkey AS probe_id, substr(p_name, 2) || 'z' AS probe
          |  FROM part WHERE p_partkey % 397 = 0),
          |cand AS (SELECT pr.probe_id, p.p_name AS match_name,
          |    levenshtein(p.p_name, pr.probe) AS dist
          |  FROM part p, probes pr
          |  WHERE abs(length(p.p_name) - length(pr.probe)) <= 3
          |    AND levenshtein(p.p_name, pr.probe) <= 3)
          |SELECT CAST(probe_id AS VARCHAR) AS probe_id, CAST(rank AS INTEGER) AS rank,
          |       match_name, CAST(dist AS INTEGER) AS dist
          |FROM (SELECT probe_id, match_name, dist,
          |        row_number() OVER (PARTITION BY probe_id ORDER BY dist ASC, match_name ASC) AS rank
          |      FROM cand) z
          |WHERE rank <= 3""".stripMargin.replace("\n", " "),
      "rj1_range_join" ->
        """WITH t0 AS (SELECT min(epoch_ns(ts)) AS v FROM events),
          |w AS (SELECT i AS window_id,
          |        (SELECT v FROM t0) + i * 3600000000000 AS lo,
          |        (SELECT v FROM t0) + i * 3600000000000 + 5400000000000 AS hi
          |      FROM generate_series(0, 47) AS g(i))
          |SELECT w.window_id, count(*) AS n, round(sum(e.value), 4) AS sum_value
          |FROM events e JOIN w ON epoch_ns(e.ts) >= w.lo AND epoch_ns(e.ts) < w.hi
          |GROUP BY 1""".stripMargin.replace("\n", " "),
      "rj2_interval_overlap" ->
        """WITH t0 AS (SELECT min(epoch_ns(ts)) AS v FROM events),
          |sp AS (SELECT user_id, epoch_ns(ts) // 86400000000000 AS day,
          |        min(epoch_ns(ts)) AS lo, max(epoch_ns(ts)) + 1 AS hi
          |      FROM events GROUP BY 1, 2),
          |w AS (SELECT i AS window_id,
          |        (SELECT v FROM t0) + i * 3600000000000 AS wlo,
          |        (SELECT v FROM t0) + i * 3600000000000 + 5400000000000 AS whi
          |      FROM generate_series(0, 47) AS g(i))
          |SELECT w.window_id, count(*) AS n_spans
          |FROM sp JOIN w ON sp.lo < w.whi AND w.wlo < sp.hi
          |GROUP BY 1""".stripMargin.replace("\n", " "),
      // Frame sampling arithmetic replayed on byte lengths: frames(n) =
      // max(floor(n / (frameBytes·stride)), 1); every frame is full except a
      // short payload's single frame. encode(text) = UTF-8 bytes, matching
      // Spark's string→binary cast.
      "mm1_frames" ->
        """WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS asset_id,
          |    octet_length(encode(text)) AS n FROM documents WHERE n_chars > 0),
          |f AS (SELECT asset_id, n, unnest(range(0, greatest(n // 128, 1))) AS i FROM d)
          |SELECT asset_id, CAST(i AS INTEGER) AS frame_index,
          |  CAST(i * 128 AS BIGINT) AS byte_offset,
          |  CAST(least(64, n - i * 128) AS INTEGER) AS frame_len,
          |  false AS decoded, CAST(-1 AS INTEGER) AS width, CAST(-1 AS INTEGER) AS height
          |FROM f""".stripMargin.replace("\n", " "),
      "mm2_features" ->
        """SELECT CAST(doc_id AS VARCHAR) AS asset_id, 'image' AS modality,
          |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes FROM documents""".stripMargin.replace("\n", " "),
      "pipe1_corpus" ->
        s"""WITH surv AS (SELECT min(doc_id) AS doc_id FROM documents GROUP BY $normDoc),
           |base AS (SELECT doc_id, text, $toksDoc AS toks FROM documents WHERE doc_id IN (SELECT doc_id FROM surv)),
           |feat AS (
           |  SELECT doc_id, len(toks) AS n_tokens,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END AS punct_ratio,
           |    CASE WHEN len(toks) = 0 THEN 0.0
           |         ELSE CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE) / len(toks) END AS stopword_ratio,
           |    len(list_filter(toks, t -> list_contains(['the','and','of','is','was','with'], t))) AS s_en,
           |    len(list_filter(toks, t -> list_contains(['el','la','de','que','los','las'], t))) AS s_es,
           |    len(list_filter(toks, t -> list_contains(['le','la','les','des','est','une'], t))) AS s_fr,
           |    len(list_filter(toks, t -> list_contains(['der','die','das','und','ist','nicht'], t))) AS s_de
           |  FROM base),
           |scored AS (
           |  SELECT doc_id, n_tokens,
           |    round(least(n_tokens / 50.0, 1.0) * (1.0 - least(punct_ratio * 4.0, 1.0)) * (0.5 + least(stopword_ratio * 5.0, 1.0) / 2), 6) AS q,
           |    CASE WHEN greatest(s_en, s_es, s_fr, s_de) = 0 THEN 'und'
           |         WHEN s_de = greatest(s_en, s_es, s_fr, s_de) THEN 'de'
           |         WHEN s_en = greatest(s_en, s_es, s_fr, s_de) THEN 'en'
           |         WHEN s_es = greatest(s_en, s_es, s_fr, s_de) THEN 'es' ELSE 'fr' END AS lang
           |  FROM feat),
           |kept AS (SELECT doc_id, n_tokens FROM scored WHERE q >= 0.2 AND lang = 'en'),
           |assigned AS (SELECT n_tokens,
           |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
           |  FROM (SELECT n_tokens, CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % 100 AS b FROM kept) t)
           |SELECT split, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS sum_tokens
           |FROM assigned GROUP BY split""".stripMargin.replace("\n", " "),
      "q1_pricing" ->
        """SELECT l_returnflag, l_linestatus,
          |round(sum(l_quantity), 2) AS sum_qty,
          |round(sum(l_extendedprice), 2) AS sum_base_price,
          |round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
          |count(*) AS count_order
          |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin.replace("\n", " "),
      "q3_top_orders" ->
        """SELECT l_orderkey, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
          |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          |JOIN customer ON o_custkey = c_custkey
          |WHERE c_mktsegment = 'BUILDING'
          |GROUP BY l_orderkey ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin.replace("\n", " "),
      "q4_order_priority" ->
        """SELECT o_orderpriority, count(*) AS order_count FROM orders
          |WHERE o_orderdate >= TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1997-10-01'
          |AND EXISTS (SELECT 1 FROM lineitem
          |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
          |GROUP BY o_orderpriority""".stripMargin.replace("\n", " "),
      "q6_date_filter" ->
        """SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue, count(*) AS n_items
          |FROM lineitem
          |WHERE l_shipdate >= TIMESTAMP '1997-01-01' AND l_shipdate < TIMESTAMP '1998-01-01'
          |AND l_discount >= 0.02 AND l_discount <= 0.06 AND l_quantity < 24""".stripMargin.replace("\n", " "),
      "q5_nation_volume" ->
        """SELECT r_name, n_name,
          |round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, count(*) AS n_items
          |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
          |JOIN nation ON s_nationkey = n_nationkey
          |JOIN region ON n_regionkey = r_regionkey
          |GROUP BY r_name, n_name""".stripMargin.replace("\n", " "),
      "q7_volume" ->
        """SELECT supp_nation, cust_nation, l_year,
          |  round(sum(volume), 2) AS revenue, count(*) AS n_items
          |FROM (
          |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
          |    CAST(year(l.l_shipdate) AS INTEGER) AS l_year,
          |    l.l_extendedprice * (1 - l.l_discount) AS volume
          |  FROM lineitem l
          |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
          |  JOIN orders o ON l.l_orderkey = o.o_orderkey
          |  JOIN customer c ON o.o_custkey = c.c_custkey
          |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
          |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
          |  WHERE n1.n_name IN ('NATION_1', 'NATION_2')
          |    AND n2.n_name IN ('NATION_1', 'NATION_2')
          |    AND n1.n_name <> n2.n_name
          |    AND l.l_shipdate >= TIMESTAMP '1995-01-01'
          |    AND l.l_shipdate < TIMESTAMP '1997-01-01') t
          |GROUP BY supp_nation, cust_nation, l_year""".stripMargin.replace("\n", " "),
      // q8: numerator (CASE-summed with an exact +0.0 else-arm) and
      // denominator published separately under q7's rounded-sum convention.
      "q8_market_share" ->
        """SELECT o_year,
          |  round(sum(CASE WHEN supp_nation = 'NATION_6' THEN volume
          |    ELSE CAST(0 AS DOUBLE) END), 2) AS nation_revenue,
          |  round(sum(volume), 2) AS total_revenue, count(*) AS n_items
          |FROM (
          |  SELECT CAST(year(o.o_orderdate) AS INTEGER) AS o_year,
          |    n1.n_name AS supp_nation,
          |    l.l_extendedprice * (1 - l.l_discount) AS volume
          |  FROM lineitem l
          |  JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = 'ECONOMY'
          |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
          |  JOIN nation n1 ON s.s_nationkey = n1.n_nationkey
          |  JOIN orders o ON l.l_orderkey = o.o_orderkey
          |  JOIN customer c ON o.o_custkey = c.c_custkey
          |  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
          |  JOIN region r ON n2.n_regionkey = r.r_regionkey
          |    AND r.r_name = 'AMERICA') t
          |GROUP BY 1""".stripMargin.replace("\n", " "),

      // ----------------------------------------------------- round-10 additions
      // g22: g15's wedge CTEs with the Jaccard numerator/denominator —
      // capped-center intersection, FULL endpoint degrees (the documented
      // lower-bound contract), known edges anti-joined out.
      "g22_jaccard_linkpred" ->
        """WITH c0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
          |  FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |  GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
          |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM c0 UNION ALL SELECT v, u FROM c0),
          |deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e0 GROUP BY src),
          |wed AS (SELECT l1.src AS u, l2.dst AS v
          |  FROM e0 l1 JOIN deg dw ON dw.src = l1.dst AND dw.d <= 64
          |  JOIN e0 l2 ON l2.src = l1.dst AND l1.src < l2.dst),
          |agg AS (SELECT u, v, count(*) AS common FROM wed GROUP BY u, v),
          |cand AS (SELECT g.u, g.v, g.common FROM agg g
          |  LEFT JOIN c0 k ON k.u = g.u AND k.v = g.v WHERE k.u IS NULL)
          |SELECT c.u AS src, c.v AS dst, c.common,
          |  round(CAST(c.common AS DOUBLE) / (du.d + dv.d - c.common), 6) AS jaccard_r
          |FROM cand c JOIN deg du ON du.src = c.u JOIN deg dv ON dv.src = c.v
          |ORDER BY jaccard_r DESC, src ASC, dst ASC LIMIT 50""".stripMargin.replace("\n", " "),
      // m8: the m6 scorer CTE feeding the rank-sum AUC — rows collapse per
      // distinct score, average tie ranks via one cumulative window, exact
      // integer counts until the final division (round 6 absorbs the
      // rank-sum's double-accumulation order).
      // m10: the m8 scored frame binned bin = clamp(floor(score·10), 0, 9);
      // identical float product+floor on both engines, counts exact.
      // m11: clipped bigram overlap of the first-20-token slice vs the
      // full token list (normalizing a normalized slice is idempotent).
      "m11_rouge2" ->
        s"""WITH d AS (SELECT doc_id, $toksDoc AS w FROM documents),
           |g AS (SELECT doc_id, list_slice(w, 1, 20) AS cw, w AS rw FROM d),
           |cg AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(cw) - 1, 0)),
           |    i -> array_to_string(list_slice(cw, i, i + 1), ' '))) AS gr FROM g),
           |rg AS (SELECT doc_id, unnest(list_transform(generate_series(1, greatest(len(rw) - 1, 0)),
           |    i -> array_to_string(list_slice(rw, i, i + 1), ' '))) AS gr FROM g),
           |cc AS (SELECT doc_id, gr, count(*) AS nc FROM cg GROUP BY 1, 2),
           |rc AS (SELECT doc_id, gr, count(*) AS nr FROM rg GROUP BY 1, 2),
           |ov AS (SELECT cc.doc_id, CAST(sum(least(cc.nc, rc.nr)) AS BIGINT) AS overlap
           |  FROM cc JOIN rc ON cc.doc_id = rc.doc_id AND cc.gr = rc.gr GROUP BY 1),
           |tot AS (SELECT doc_id, greatest(len(cw) - 1, 0) AS n_cand,
           |    greatest(len(rw) - 1, 0) AS n_ref FROM g)
           |SELECT t.doc_id, CAST(t.n_cand AS BIGINT) AS n_cand,
           |  CAST(t.n_ref AS BIGINT) AS n_ref,
           |  CAST(coalesce(ov.overlap, 0) AS BIGINT) AS overlap,
           |  round(CASE WHEN t.n_cand > 0 THEN CAST(coalesce(ov.overlap, 0) AS DOUBLE) / t.n_cand END, 6) AS precision_r,
           |  round(CASE WHEN t.n_ref > 0 THEN CAST(coalesce(ov.overlap, 0) AS DOUBLE) / t.n_ref END, 6) AS recall_r,
           |  round(CASE WHEN t.n_cand > 0 AND t.n_ref > 0
           |      AND CAST(coalesce(ov.overlap, 0) AS DOUBLE) / t.n_cand
           |        + CAST(coalesce(ov.overlap, 0) AS DOUBLE) / t.n_ref > 0
           |    THEN 2.0 * (CAST(coalesce(ov.overlap, 0) AS DOUBLE) / t.n_cand)
           |      * (CAST(coalesce(ov.overlap, 0) AS DOUBLE) / t.n_ref)
           |      / (CAST(coalesce(ov.overlap, 0) AS DOUBLE) / t.n_cand
           |        + CAST(coalesce(ov.overlap, 0) AS DOUBLE) / t.n_ref) END, 6) AS f1_r
           |FROM tot t LEFT JOIN ov ON ov.doc_id = t.doc_id""".stripMargin.replace("\n", " "),
      "m10_calibration" ->
        s"""WITH sc AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
           |    CASE WHEN len(toks) = 0 THEN 0.0
           |         ELSE CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE) / len(toks) END AS score
           |  FROM (SELECT lang, $toksDoc AS toks FROM documents) t),
           |b AS (SELECT greatest(least(CAST(floor(score * 10) AS BIGINT), 9), 0) AS bin, score, y FROM sc)
           |SELECT bin, count(*) AS n, CAST(sum(y) AS BIGINT) AS n_pos,
           |  round(sum(score) / count(*), 6) AS avg_score_r,
           |  round(CAST(sum(y) AS DOUBLE) / count(*), 6) AS pos_rate_r
           |FROM b GROUP BY 1""".stripMargin.replace("\n", " "),
      "m8_auc" ->
        s"""WITH sc AS (SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
           |    CASE WHEN len(toks) = 0 THEN 0.0
           |         ELSE CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE) / len(toks) END AS score
           |  FROM (SELECT lang, $toksDoc AS toks FROM documents) t),
           |g AS (SELECT score AS s, count(*) AS c, CAST(sum(y) AS BIGINT) AS p FROM sc GROUP BY 1),
           |r AS (SELECT s, c, p,
           |    sum(c) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c AS below
           |  FROM g),
           |a AS (SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(p) AS BIGINT) AS np,
           |    CAST(sum(c - p) AS BIGINT) AS nn,
           |    sum(p * (below + (c + 1) / 2.0)) AS rs FROM r)
           |SELECT n, np AS n_pos, nn AS n_neg,
           |  CASE WHEN np = 0 OR nn = 0 THEN NULL
           |       ELSE round((rs - np * (np + 1) / 2.0) / CAST(np * nn AS DOUBLE), 6) END AS auc_r
           |FROM a""".stripMargin.replace("\n", " "),
      // ev5: exact integer (n, Σc, Σc²) per type, μ/σ/z derived with the
      // identical IEEE double steps as the Spark side; σ=0 types drop.
      "ev5_anomaly_days" ->
        """WITH daily AS (SELECT event_type, epoch_ns(ts) // 86400000000000 AS day,
          |    count(*) AS n_events FROM events GROUP BY 1, 2),
          |st AS (SELECT event_type, count(*) AS n, CAST(sum(n_events) AS BIGINT) AS s,
          |    CAST(sum(n_events * n_events) AS BIGINT) AS ss FROM daily GROUP BY 1),
          |z AS (SELECT d.event_type, d.day, d.n_events,
          |    CAST(st.s AS DOUBLE) / st.n AS mu,
          |    sqrt(CAST(st.ss AS DOUBLE) / st.n
          |      - (CAST(st.s AS DOUBLE) / st.n) * (CAST(st.s AS DOUBLE) / st.n)) AS sigma
          |  FROM daily d JOIN st ON d.event_type = st.event_type)
          |SELECT event_type, day, n_events, round((n_events - mu) / sigma, 6) AS z_r
          |FROM z WHERE sigma > 0 AND abs((n_events - mu) / sigma) >= 2.0""".stripMargin.replace("\n", " "),
      // ev6: one user-partitioned lead window with the (ts, event_id)
      // tie-break, matrix-sized count + probability join.
      "ev6_transitions" ->
        """WITH p AS (SELECT event_type AS src_event,
          |    lead(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ns(ts), event_id) AS dst_event
          |  FROM events),
          |c AS (SELECT src_event, dst_event, count(*) AS n FROM p
          |  WHERE dst_event IS NOT NULL GROUP BY 1, 2),
          |t AS (SELECT src_event, sum(n) AS tot FROM c GROUP BY 1)
          |SELECT c.src_event, c.dst_event, c.n,
          |  round(CAST(c.n AS DOUBLE) / t.tot, 6) AS prob
          |FROM c JOIN t ON c.src_event = t.src_event""".stripMargin.replace("\n", " "),
      // t6: the marker-split segmentation re-run under RE2 — '\1' || chr(1)
      // re-emits the captured terminator, split on the marker; pre-filter
      // subscripts keep indexes stable under the empty drop.
      "t6_sentences" ->
        """WITH m AS (SELECT doc_id,
          |    string_split(regexp_replace(text, '([.!?])\s+', '\1' || chr(1), 'g'), chr(1)) AS arr
          |  FROM documents),
          |x AS (SELECT doc_id, CAST(generate_subscripts(arr, 1) - 1 AS BIGINT) AS sent_idx,
          |    trim(unnest(arr)) AS sentence FROM m)
          |SELECT doc_id, sent_idx, sentence, length(sentence) AS n_chars
          |FROM x WHERE length(sentence) > 0""".stripMargin.replace("\n", " "),
      // b8: posting-list set algebra — k-way AND as one count(DISTINCT)
      // gate, NOT as an anti-join, over the b1 tokenization.
      "b8_boolean_retrieval" ->
        s"""WITH tok AS (SELECT doc_id, unnest($toksDoc) AS term FROM documents),
           |hits AS (SELECT doc_id FROM tok WHERE term IN ('customer', 'order')
           |  GROUP BY doc_id HAVING count(DISTINCT term) = 2),
           |ban AS (SELECT DISTINCT doc_id FROM tok WHERE term = 'vector')
           |SELECT h.doc_id FROM hits h LEFT JOIN ban b ON h.doc_id = b.doc_id
           |WHERE b.doc_id IS NULL""".stripMargin.replace("\n", " "),
      // d17: the d2 candidate CTEs and the d4 truth CTEs joined on the
      // canonical pair — three scalar counts, guarded divisions.
      "d17_pair_quality" ->
        s"""WITH sigs AS ($minhashSigs),
           |banded AS (
           |  SELECT id, 0 AS band, md5(concat_ws('|', sig_0, sig_1)) AS band_key FROM sigs
           |  UNION ALL SELECT id, 1, md5(concat_ws('|', sig_2, sig_3)) FROM sigs
           |  UNION ALL SELECT id, 2, md5(concat_ws('|', sig_4, sig_5)) FROM sigs),
           |cand AS (SELECT DISTINCT a.id AS u, b.id AS v
           |  FROM banded a JOIN banded b
           |  ON a.band = b.band AND a.band_key = b.band_key AND a.id < b.id),
           |dsh AS (SELECT DISTINCT doc_id AS id, sh FROM ($docShingles) s),
           |sizes AS (SELECT id, count(*) AS sz FROM dsh GROUP BY id),
           |inter AS (SELECT a.id AS ia, b.id AS ib, count(*) AS i
           |  FROM dsh a JOIN dsh b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
           |tru AS (SELECT ia AS u, ib AS v FROM (
           |    SELECT ia, ib, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS j
           |    FROM inter JOIN sizes sa ON ia = sa.id JOIN sizes sb ON ib = sb.id) t
           |  WHERE j >= 0.5),
           |nc AS (SELECT count(*) AS n_cand FROM cand),
           |ng AS (SELECT count(*) AS n_truth FROM tru),
           |tpq AS (SELECT count(*) AS tp FROM cand JOIN tru ON cand.u = tru.u AND cand.v = tru.v),
           |pr AS (SELECT n_cand, n_truth, tp,
           |    CASE WHEN n_cand > 0 THEN CAST(tp AS DOUBLE) / n_cand END AS p,
           |    CASE WHEN n_truth > 0 THEN CAST(tp AS DOUBLE) / n_truth END AS r
           |  FROM nc, ng, tpq)
           |SELECT n_cand, n_truth, tp, round(p, 6) AS precision_r, round(r, 6) AS recall_r,
           |  round(CASE WHEN p + r > 0 THEN 2.0 * p * r / (p + r) END, 6) AS f1_r
           |FROM pr""".stripMargin.replace("\n", " "),
      // x31: the t6 marker-split sentence count in place, token words,
      // vowel-group syllables — three exact integers into the Flesch
      // formula with the same association order.
      "x31_readability" ->
        s"""SELECT doc_id, n_sents, n_words, n_sylls,
           |  round(CASE WHEN n_words > 0 AND n_sents > 0
           |    THEN 206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sents)
           |      - 84.6 * (CAST(n_sylls AS DOUBLE) / n_words) END, 6) AS flesch_r
           |FROM (SELECT doc_id,
           |    len(list_filter(
           |      string_split(regexp_replace(text, '([.!?])\\s+', '\\1' || chr(1), 'g'), chr(1)),
           |      x -> length(trim(x)) > 0)) AS n_sents,
           |    len($toksDoc) AS n_words,
           |    len(regexp_extract_all($normDoc, '[aeiouy]+')) AS n_sylls
           |  FROM documents) t""".stripMargin.replace("\n", " "),
      // ev7: reference time = one scalar max; weight 2^(−age/halfLife) with
      // identical exponent arithmetic; round 6 absorbs the double-sum order.
      "ev7_decayed_counts" ->
        """WITH tm AS (SELECT max(epoch_ns(ts)) AS T FROM events)
          |SELECT event_type, count(*) AS n_events,
          |  round(sum(pow(2.0, -CAST(tm.T - epoch_ns(ts) AS DOUBLE) / 86400000000000.0)), 6)
          |    AS decayed_r
          |FROM events, tm GROUP BY event_type""".stripMargin.replace("\n", " "),
      // m9: the m1 per-question CTE + hash-deterministic bootstrap — the
      // x5 md5-arithmetic index convention, quantile_cont ≡ percentile.
      "m9_bootstrap_ci" ->
        """WITH q AS (SELECT CAST(vec_id AS VARCHAR) query_id, embedding::DOUBLE[] qv, label ql FROM embeddings WHERE vec_id < 20),
          |c AS (SELECT CAST(vec_id AS VARCHAR) neighbor_id, embedding::DOUBLE[] cv, label cl FROM embeddings WHERE vec_id >= 20),
          |hits AS (
          |  SELECT query_id, ql, cl,
          |    row_number() OVER (PARTITION BY query_id ORDER BY list_dot_product(qv, cv) DESC, neighbor_id ASC) AS rank
          |  FROM q, c),
          |pq AS (SELECT query_id, sum(CASE WHEN ql = cl THEN 1 ELSE 0 END) / 5.0 AS v
          |  FROM hits WHERE rank <= 5 GROUP BY query_id),
          |idx AS (SELECT v, row_number() OVER (ORDER BY query_id) - 1 AS rid FROM pq),
          |nn AS (SELECT count(*) AS n FROM idx),
          |draws AS (SELECT rs.r,
          |    CAST(('0x' || substr(md5(CAST(rs.r AS VARCHAR) || '-' || CAST(js.j AS VARCHAR)), 1, 8)) AS BIGINT)
          |      % (SELECT n FROM nn) AS rid
          |  FROM (SELECT unnest(generate_series(0, 199)) AS r) rs,
          |       (SELECT unnest(generate_series(0, (SELECT n FROM nn) - 1)) AS j) js),
          |means AS (SELECT d.r, avg(i.v) AS m FROM draws d JOIN idx i ON d.rid = i.rid GROUP BY d.r)
          |SELECT (SELECT n FROM nn) AS n_questions, count(*) AS n_reps,
          |  round(avg(m), 6) AS mean_r,
          |  round(quantile_cont(m, 0.025), 6) AS lo_r,
          |  round(quantile_cont(m, 0.975), 6) AS hi_r
          |FROM means""".stripMargin.replace("\n", " "),
      // m12: both systems' top-5 by (dot DESC, id ASC), integer hit counts,
      // md5-parity sign flips, integer-exact permuted sums, add-one p.
      "m12_perm_test" ->
        """WITH v AS (SELECT vec_id, CAST(vec_id AS VARCHAR) AS vid, label,
          |    embedding::DOUBLE[] AS e, (embedding::DOUBLE[])[1:8] AS p FROM embeddings),
          |q AS (SELECT vid AS qid, label AS ql, e AS qe, p AS qp FROM v WHERE vec_id < 20),
          |c AS (SELECT vid AS cid, label AS cl, e AS ce, p AS cp FROM v WHERE vec_id >= 20),
          |rf AS (SELECT qid, ql, cl, row_number() OVER (PARTITION BY qid
          |    ORDER BY list_dot_product(qe, ce) DESC, cid ASC) AS rn FROM q, c),
          |rt AS (SELECT qid, ql, cl, row_number() OVER (PARTITION BY qid
          |    ORDER BY list_dot_product(qp, cp) DESC, cid ASC) AS rn FROM q, c),
          |hf AS (SELECT qid, sum(CASE WHEN ql = cl THEN 1 ELSE 0 END) AS h
          |  FROM rf WHERE rn <= 5 GROUP BY qid),
          |ht AS (SELECT qid, sum(CASE WHEN ql = cl THEN 1 ELSE 0 END) AS h
          |  FROM rt WHERE rn <= 5 GROUP BY qid),
          |idx AS (SELECT CAST(hf.h AS DOUBLE) - CAST(ht.h AS DOUBLE) AS d,
          |    row_number() OVER (ORDER BY hf.qid) - 1 AS rid
          |  FROM hf JOIN ht ON hf.qid = ht.qid),
          |nn AS (SELECT count(*) AS n FROM idx),
          |obs AS (SELECT sum(d) AS s, avg(d) AS m FROM idx),
          |draws AS (SELECT rs.r, js.j AS rid,
          |    CASE WHEN CAST(('0x' || substr(md5(CAST(rs.r AS VARCHAR) || '-' || CAST(js.j AS VARCHAR)), 1, 8)) AS BIGINT) % 2 = 0
          |      THEN 1.0 ELSE -1.0 END AS sg
          |  FROM (SELECT unnest(generate_series(0, 199)) AS r) rs,
          |       (SELECT unnest(generate_series(0, (SELECT n FROM nn) - 1)) AS j) js),
          |sums AS (SELECT d.r, sum(d.sg * i.d) AS s FROM draws d JOIN idx i ON d.rid = i.rid GROUP BY d.r)
          |SELECT (SELECT n FROM nn) AS n_questions, count(*) AS n_reps,
          |  round((SELECT m FROM obs), 6) AS mean_diff_r,
          |  round((1.0 + CAST(sum(CASE WHEN abs(s) >= abs((SELECT s FROM obs)) THEN 1 ELSE 0 END) AS BIGINT)) / 201.0, 6) AS p_value_r
          |FROM sums""".stripMargin.replace("\n", " "),
      // x32: the one-pass moment aggregate (n, Σx, Σx², Σxy) and the same
      // corr association on both engines; zero-variance pairs NULL.
      "x32_signal_corr" ->
        s"""WITH sg AS (SELECT CAST(len(toks) AS DOUBLE) AS x1,
           |    CASE WHEN length(text) = 0 THEN 0.0
           |         ELSE CAST(length(text) - length(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g')) AS DOUBLE) / length(text) END AS x2,
           |    CASE WHEN len(toks) = 0 THEN 0.0
           |         ELSE CAST(len(list_filter(toks, t -> list_contains($stopList, t))) AS DOUBLE) / len(toks) END AS x3
           |  FROM (SELECT text, $toksDoc AS toks FROM documents) t),
           |a AS (SELECT CAST(count(*) AS DOUBLE) AS n,
           |    sum(x1) AS s1, sum(x1*x1) AS q1, sum(x2) AS s2, sum(x2*x2) AS q2,
           |    sum(x3) AS s3, sum(x3*x3) AS q3,
           |    sum(x1*x2) AS p12, sum(x1*x3) AS p13, sum(x2*x3) AS p23 FROM sg)
           |SELECT 'n_tokens' AS sig_a, 'punct_ratio' AS sig_b,
           |  round(CASE WHEN n*q1 - s1*s1 > 0 AND n*q2 - s2*s2 > 0
           |    THEN (n*p12 - s1*s2) / sqrt((n*q1 - s1*s1) * (n*q2 - s2*s2)) END, 6) AS corr_r FROM a
           |UNION ALL SELECT 'n_tokens', 'stopword_ratio',
           |  round(CASE WHEN n*q1 - s1*s1 > 0 AND n*q3 - s3*s3 > 0
           |    THEN (n*p13 - s1*s3) / sqrt((n*q1 - s1*s1) * (n*q3 - s3*s3)) END, 6) FROM a
           |UNION ALL SELECT 'punct_ratio', 'stopword_ratio',
           |  round(CASE WHEN n*q2 - s2*s2 > 0 AND n*q3 - s3*s3 > 0
           |    THEN (n*p23 - s2*s3) / sqrt((n*q2 - s2*s2) * (n*q3 - s3*s3)) END, 6) FROM a""".stripMargin.replace("\n", " "),
      // er3: the d8 cluster map as a subquery (the x26 convention), melt to
      // (cluster, attr, value), modal value with (count DESC, value ASC)
      // ties, pivot back over the known attr list.
      "er3_survivorship" ->
        s"""WITH mem AS (SELECT d.doc_id, c.rep_id, d.lang, d.source
           |  FROM documents d JOIN ($ccClustersSql) c ON c.id = d.doc_id),
           |mel AS (SELECT rep_id, 'lang' AS attr, lang AS value FROM mem
           |  UNION ALL SELECT rep_id, 'source', source FROM mem),
           |cnt AS (SELECT rep_id, attr, value, count(*) AS c FROM mel
           |  WHERE value IS NOT NULL GROUP BY 1, 2, 3),
           |bst AS (SELECT rep_id, attr, value FROM (
           |  SELECT rep_id, attr, value,
           |    row_number() OVER (PARTITION BY rep_id, attr ORDER BY c DESC, value ASC) AS rn
           |  FROM cnt) r WHERE rn = 1),
           |nm AS (SELECT rep_id, count(DISTINCT doc_id) AS n_members FROM mem GROUP BY 1)
           |SELECT nm.rep_id, nm.n_members,
           |  max(CASE WHEN b.attr = 'lang' THEN b.value END) AS lang,
           |  max(CASE WHEN b.attr = 'source' THEN b.value END) AS source
           |FROM nm LEFT JOIN bst b ON b.rep_id = nm.rep_id GROUP BY 1, 2""".stripMargin.replace("\n", " "),
      // g23: the g19 join CTE over the shared 4-round LPA labels; volumes =
      // directed-edge counts at the source (both directions present), total
      // volume a scalar subquery, zero-volume communities NULL.
      "g23_conductance" ->
        s"""WITH $lpaCtes,
           |j AS (SELECT e.src, e.dst, la.label AS la, lb.label AS lb
           |  FROM e0 e JOIN l4 la ON la.id = e.src JOIN l4 lb ON lb.id = e.dst),
           |nn AS (SELECT label, count(*) AS n_nodes FROM l4 GROUP BY 1),
           |vol AS (SELECT la AS label, count(*) AS vol FROM j GROUP BY 1),
           |cut AS (SELECT la AS label, count(*) AS cut FROM j WHERE la <> lb GROUP BY 1),
           |vt AS (SELECT count(*) AS v FROM j)
           |SELECT nn.label AS community, nn.n_nodes,
           |  CAST(coalesce(vol.vol, 0) AS BIGINT) AS volume,
           |  CAST(coalesce(cut.cut, 0) AS BIGINT) AS cut_edges,
           |  round(CASE WHEN least(coalesce(vol.vol, 0), (SELECT v FROM vt) - coalesce(vol.vol, 0)) > 0
           |    THEN CAST(coalesce(cut.cut, 0) AS DOUBLE)
           |      / least(coalesce(vol.vol, 0), (SELECT v FROM vt) - coalesce(vol.vol, 0)) END, 6) AS conductance_r
           |FROM nn LEFT JOIN vol ON nn.label = vol.label
           |  LEFT JOIN cut ON nn.label = cut.label""".stripMargin.replace("\n", " "),
      // cs8: (value → Σweight) collapse, cumulative window, q·W thresholds —
      // integer weights so the cut comparisons are engine-exact.
      // cs9: term counts -> (count DESC, term ASC) rank -> ln/ln moments.
      "cs9_zipf_fit" ->
        s"""WITH tc AS (SELECT t, count(*) AS c FROM (
           |    SELECT unnest($toksDoc) AS t FROM documents) u GROUP BY 1),
           |r AS (SELECT c, row_number() OVER (ORDER BY c DESC, t ASC) AS rk FROM tc),
           |xy AS (SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(c AS DOUBLE)) AS y FROM r),
           |m AS (SELECT CAST(count(*) AS DOUBLE) AS n, count(*) AS n_terms,
           |    sum(x) AS sx, sum(y) AS sy, sum(x*x) AS sxx, sum(y*y) AS syy, sum(x*y) AS sxy
           |  FROM xy)
           |SELECT CAST(n_terms AS BIGINT) AS n_terms,
           |  round(CASE WHEN n*sxx - sx*sx > 0 THEN (n*sxy - sx*sy) / (n*sxx - sx*sx) END, 6) AS slope_r,
           |  round(CASE WHEN n*sxx - sx*sx > 0
           |    THEN (sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n END, 6) AS intercept_r,
           |  round(CASE WHEN n*sxx - sx*sx > 0 AND n*syy - sy*sy > 0
           |    THEN (n*sxy - sx*sy) * (n*sxy - sx*sy) / ((n*sxx - sx*sx) * (n*syy - sy*sy)) END, 6) AS r2_r
           |FROM m""".stripMargin.replace("\n", " "),
      "cs8_weighted_quantiles" ->
        s"""WITH sig AS (SELECT n_chars AS len, len($toksDoc) AS toks FROM documents),
           |bv AS (SELECT len, CAST(sum(toks) AS BIGINT) AS w FROM sig GROUP BY 1),
           |cm AS (SELECT len, w,
           |    sum(w) OVER (ORDER BY len ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
           |    sum(w) OVER () AS tot FROM bv),
           |qf AS (SELECT CAST(x AS DOUBLE) AS q FROM (VALUES (0.25), (0.5), (0.9)) v(x))
           |SELECT q, min(len) AS len_at_mass FROM cm, qf
           |WHERE cum >= q * tot GROUP BY 1""".stripMargin.replace("\n", " "),
      // g24: the g15 co-occurrence CTEs + a degree self-join feeding the
      // x32 moment formula — degrees are integers, so every sum is an exact
      // double and the correlation is engine-exact before rounding.
      "g24_assortativity" ->
        """WITH c0 AS MATERIALIZED (SELECT a.l_partkey AS u, b.l_partkey AS v
          |  FROM lineitem a JOIN lineitem b
          |  ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
          |  GROUP BY 1, 2 HAVING count(DISTINCT a.l_orderkey) >= 2),
          |e0 AS MATERIALIZED (SELECT u AS src, v AS dst FROM c0 UNION ALL SELECT v, u FROM c0),
          |deg AS MATERIALIZED (SELECT src, count(*) AS d FROM e0 GROUP BY src),
          |pairs AS (SELECT CAST(du.d AS DOUBLE) AS x1, CAST(dv.d AS DOUBLE) AS x2
          |  FROM e0 JOIN deg du ON du.src = e0.src JOIN deg dv ON dv.src = e0.dst),
          |a AS (SELECT CAST(count(*) AS DOUBLE) AS n, sum(x1) AS s1, sum(x1*x1) AS q1,
          |    sum(x2) AS s2, sum(x2*x2) AS q2, sum(x1*x2) AS p12 FROM pairs),
          |ne AS (SELECT count(*) AS n_directed_edges FROM e0)
          |SELECT ne.n_directed_edges,
          |  round(CASE WHEN n*q1 - s1*s1 > 0 AND n*q2 - s2*s2 > 0
          |    THEN (n*p12 - s1*s2) / sqrt((n*q1 - s1*s1) * (n*q2 - s2*s2)) END, 6)
          |    AS assortativity_r
          |FROM ne, a""".stripMargin.replace("\n", " "),
      // x33: the d4 pair CTEs fanned into six thresholds; pair counts halved
      // from the two-row explode exactly as the Spark side does.
      "x33_dup_threshold_curve" ->
        s"""WITH dsh AS (SELECT DISTINCT doc_id AS id, sh FROM ($docShingles) s),
           |sizes AS (SELECT id, count(*) AS sz FROM dsh GROUP BY id),
           |inter AS (SELECT a.id AS id_a, b.id AS id_b, count(*) AS i
           |  FROM dsh a JOIN dsh b ON a.sh = b.sh AND a.id < b.id GROUP BY 1, 2),
           |pj AS (SELECT id_a, id_b, CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) AS j
           |  FROM inter JOIN sizes sa ON id_a = sa.id JOIN sizes sb ON id_b = sb.id
           |  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.3),
           |th AS (SELECT CAST(x AS DOUBLE) AS threshold
           |  FROM (VALUES (0.3), (0.4), (0.5), (0.6), (0.7), (0.8)) v(x)),
           |f AS (SELECT threshold, id_a, id_b FROM pj, th WHERE j >= threshold),
           |e AS (SELECT threshold, id_a AS id FROM f UNION ALL SELECT threshold, id_b FROM f)
           |SELECT threshold, CAST(count(*) // 2 AS BIGINT) AS n_pairs,
           |  count(DISTINCT id) AS n_docs_involved
           |FROM e GROUP BY 1""".stripMargin.replace("\n", " "),
      // mm3: the byte-grid fallback replayed over character codes (payloads
      // are ASCII text bytes, so ord ≡ byte); cell = floor(64·(i−1)/n), bit
      // via the exact integer cross-product, hash packed as 32-bit halves
      // (pow(2, 63) would overflow BIGINT — the d3 nBits lesson).
      "mm3_image_ahash" ->
        """WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS asset_id, text, length(text) AS n
          |  FROM documents WHERE n_chars > 0 AND octet_length(encode(text)) = length(text)
          |  AND NOT (text LIKE 'BM%' OR text LIKE 'GIF8%' OR text LIKE 'II*%' OR text LIKE 'MM%')),
          |pos AS (SELECT asset_id, n, text, unnest(generate_series(1, n)) AS i FROM d),
          |ch AS (SELECT asset_id, CAST(((i - 1) * 64) // n AS INTEGER) AS cell,
          |    ord(substr(text, CAST(i AS INTEGER), 1)) AS v FROM pos),
          |cel AS (SELECT asset_id, cell, CAST(sum(v) AS BIGINT) AS c, count(*) AS k
          |  FROM ch GROUP BY 1, 2),
          |tot AS (SELECT asset_id, CAST(sum(c) AS BIGINT) AS s, CAST(sum(k) AS BIGINT) AS nn
          |  FROM cel GROUP BY 1),
          |bits AS (SELECT cel.asset_id, cel.cell,
          |    CASE WHEN cel.c * tot.nn > tot.s * cel.k THEN 1 ELSE 0 END AS b
          |  FROM cel JOIN tot ON cel.asset_id = tot.asset_id)
          |SELECT asset_id, false AS decoded,
          |  coalesce(CAST(sum(CASE WHEN b = 1 AND cell < 32 THEN CAST(pow(2, cell) AS BIGINT) END) AS BIGINT), 0) AS ahash_lo,
          |  coalesce(CAST(sum(CASE WHEN b = 1 AND cell >= 32 THEN CAST(pow(2, cell - 32) AS BIGINT) END) AS BIGINT), 0) AS ahash_hi
          |FROM bits GROUP BY 1""".stripMargin.replace("\n", " "),
      // mm4: the byte-grid energy fallback replayed over character codes
      // (the mm3 ASCII pin): per-cell sum of squared byte values (integer,
      // exact in BIGINT and in Spark's double for integer sums < 2^53),
      // bit k = energy(k+1) > energy(k), empty cells coalesce to 0.
      "mm4_audio_fingerprint" ->
        """WITH d AS (SELECT CAST(doc_id AS VARCHAR) AS asset_id, text, length(text) AS n
          |  FROM documents WHERE n_chars > 0 AND octet_length(encode(text)) = length(text)
          |  AND substr(text, 1, 4) NOT IN ('RIFF', '.snd', 'FORM')),
          |pos AS (SELECT asset_id, n, text, unnest(generate_series(1, n)) AS i FROM d),
          |ch AS (SELECT asset_id, CAST(((i - 1) * 64) // n AS INTEGER) AS cell,
          |    ord(substr(text, CAST(i AS INTEGER), 1)) AS v FROM pos),
          |cel AS (SELECT asset_id, cell, CAST(sum(CAST(v AS BIGINT) * v) AS BIGINT) AS e
          |  FROM ch GROUP BY 1, 2),
          |grid AS (SELECT asset_id, unnest(generate_series(0, 63)) AS cell FROM d),
          |eg AS (SELECT g.asset_id, g.cell, coalesce(cel.e, 0) AS e
          |  FROM grid g LEFT JOIN cel ON g.asset_id = cel.asset_id AND g.cell = cel.cell),
          |bits AS (SELECT a.asset_id, a.cell AS k,
          |    CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
          |  FROM eg a JOIN eg b ON a.asset_id = b.asset_id AND b.cell = a.cell + 1
          |  WHERE a.cell < 63)
          |SELECT asset_id, false AS decoded,
          |  coalesce(CAST(sum(CASE WHEN bit = 1 AND k < 32 THEN CAST(pow(2, k) AS BIGINT) END) AS BIGINT), 0) AS fp_lo,
          |  coalesce(CAST(sum(CASE WHEN bit = 1 AND k >= 32 THEN CAST(pow(2, k - 32) AS BIGINT) END) AS BIGINT), 0) AS fp_hi
          |FROM bits GROUP BY 1""".stripMargin.replace("\n", " "),
      // nb1: the model IS counts — everything integer, hash-exact.
      "nb1_nb_model" ->
        s"""WITH tr AS (SELECT lang, unnest($toksDoc) AS token
           |  FROM documents WHERE doc_id % 5 <> 0),
           |cnts AS (SELECT lang AS label, token, count(*) AS cnt
           |  FROM tr GROUP BY 1, 2),
           |tot AS (SELECT lang AS label, count(*) AS label_tokens
           |  FROM tr GROUP BY 1),
           |voc AS (SELECT count(DISTINCT token) AS vocab FROM tr)
           |SELECT c.label, c.token, c.cnt, t.label_tokens, v.vocab,
           |  CAST(row_number() OVER (PARTITION BY c.label
           |    ORDER BY c.cnt DESC, c.token ASC) AS BIGINT) AS rnk
           |FROM cnts c JOIN tot t ON t.label = c.label CROSS JOIN voc v
           |QUALIFY rnk <= 5""".stripMargin.replace("\n", " "),
      "nb2_nb_predict" -> nbPredictSql,
      "nb3_confusion" ->
        s"""SELECT actual, pred, count(*) AS n FROM ($nbPredictSql) q
           |GROUP BY 1, 2""".stripMargin.replace("\n", " "),
      // bt1: the 3 MM rounds unrolled as CTEs; the Σ_j fold is
      // sum(x ORDER BY j) — DuckDB's ordered-aggregate left fold, matching
      // the Spark side's sort_array+aggregate fold term for term, so the
      // strengths are bit-identical and floor(p*1e6) is safe to compare.
      "bt1_bradley_terry" ->
        """WITH li AS MATERIALIZED (SELECT l.l_orderkey AS k,
          |    l.l_linenumber AS ln, p.p_brand AS b, l.l_quantity AS q
          |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
          |cmp AS (SELECT CASE WHEN a.q > x.q THEN a.b ELSE x.b END AS win,
          |    CASE WHEN a.q > x.q THEN x.b ELSE a.b END AS lose
          |  FROM li a JOIN li x ON a.k = x.k AND a.ln < x.ln
          |  WHERE a.q <> x.q AND a.b <> x.b),
          |wins AS MATERIALIZED (SELECT win, lose, count(*) AS n
          |  FROM cmp GROUP BY 1, 2),
          |wtot AS (SELECT win AS item, CAST(sum(n) AS BIGINT) AS w
          |  FROM wins GROUP BY 1),
          |pairs AS MATERIALIZED (SELECT i, j, CAST(sum(n) AS BIGINT) AS nij
          |  FROM (SELECT win AS i, lose AS j, n FROM wins
          |    UNION ALL SELECT lose AS i, win AS j, n FROM wins) u
          |  GROUP BY 1, 2),
          |p0 AS (SELECT it.item, coalesce(w.w, 0) AS w,
          |    CAST(1.0 AS DOUBLE) AS p
          |  FROM (SELECT DISTINCT i AS item FROM pairs) it
          |  LEFT JOIN wtot w ON w.item = it.item),
          |s1 AS (SELECT pr.i AS item,
          |    sum(CAST(pr.nij AS DOUBLE) / (pi.p + pj.p) ORDER BY pr.j) AS s
          |  FROM pairs pr JOIN p0 pi ON pi.item = pr.i
          |  JOIN p0 pj ON pj.item = pr.j GROUP BY 1),
          |p1 AS (SELECT p0.item, p0.w, CAST(p0.w AS DOUBLE) / s1.s AS p
          |  FROM p0 JOIN s1 ON s1.item = p0.item),
          |s2 AS (SELECT pr.i AS item,
          |    sum(CAST(pr.nij AS DOUBLE) / (pi.p + pj.p) ORDER BY pr.j) AS s
          |  FROM pairs pr JOIN p1 pi ON pi.item = pr.i
          |  JOIN p1 pj ON pj.item = pr.j GROUP BY 1),
          |p2 AS (SELECT p1.item, p1.w, CAST(p1.w AS DOUBLE) / s2.s AS p
          |  FROM p1 JOIN s2 ON s2.item = p1.item),
          |s3 AS (SELECT pr.i AS item,
          |    sum(CAST(pr.nij AS DOUBLE) / (pi.p + pj.p) ORDER BY pr.j) AS s
          |  FROM pairs pr JOIN p2 pi ON pi.item = pr.i
          |  JOIN p2 pj ON pj.item = pr.j GROUP BY 1),
          |p3 AS (SELECT p2.item, p2.w, CAST(p2.w AS DOUBLE) / s3.s AS p
          |  FROM p2 JOIN s3 ON s3.item = p2.item)
          |SELECT item AS brand, w AS wins,
          |  CAST(floor(p * 1e6) AS BIGINT) AS strength_micro,
          |  CAST(row_number() OVER (ORDER BY p DESC, item ASC) AS BIGINT)
          |    AS rnk
          |FROM p3""".stripMargin.replace("\n", " "),
      // bf1: the Bloom prefilter is invisible in the answer by design —
      // the oracle is the plain semi-join the operator must equal.
      "bf1_bloom_semijoin" ->
        """SELECT l_returnflag, count(*) AS n_rows,
          |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
          |FROM lineitem WHERE l_orderkey IN (
          |  SELECT o_orderkey FROM orders
          |  WHERE o_orderpriority = '1-URGENT' AND o_custkey % 10 = 0)
          |GROUP BY 1""".stripMargin.replace("\n", " "),
      // pv4: the mechanism replayed flip-for-flip (house md5 draw), the
      // estimate as the exact rational (4·obs − n)/2 — zero float surface.
      "pv4_randomized_response" ->
        """WITH bits AS (SELECT user_id,
          |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS bit
          |  FROM events GROUP BY 1),
          |rep AS (SELECT bit,
          |    CASE WHEN CAST(('0x' || substr(md5('rr|' || CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) % 4 < 1
          |      THEN 1 - bit ELSE bit END AS r
          |  FROM bits)
          |SELECT count(*) AS n, CAST(sum(r) AS BIGINT) AS observed,
          |  CAST(4 * CAST(sum(r) AS BIGINT) - count(*) AS BIGINT) AS est_num,
          |  CAST(2 AS BIGINT) AS est_den,
          |  CAST(sum(bit) AS BIGINT) AS true_cnt
          |FROM rep""".stripMargin.replace("\n", " "),
      // bp3: bp2's encode chain with source carried through; one exact
      // division floored to micro (multiply THEN divide, same order as the
      // Spark side — both exact IEEE ops on integer-derived doubles).
      "bp3_tokenizer_eval" ->
        s"""WITH tok AS (SELECT source, unnest($toksDoc) AS w FROM documents),
           |enc AS (SELECT source, replace($bpeEncExpr, '||', '|') AS s FROM tok),
           |sub AS (SELECT source, unnest(list_filter(string_split(s, '|'), x -> x <> '')) AS subword FROM enc)
           |SELECT source, count(*) AS n_subwords,
           |  CAST(sum(length(subword)) AS BIGINT) AS n_chars,
           |  CAST(floor(CAST(sum(length(subword)) AS DOUBLE) * 1e6 /
           |    CAST(count(*) AS DOUBLE)) AS BIGINT) AS cps_micro
           |FROM sub GROUP BY 1""".stripMargin.replace("\n", " ")
    )
  }
}
