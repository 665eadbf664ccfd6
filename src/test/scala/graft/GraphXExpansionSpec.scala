package graft

import graft.operators.SubgraphExpansion
import org.apache.spark.sql.functions._

/** The three subgraph-expansion paths agree: [[SubgraphExpansion.expand]]
  * (the broadcast semi-join loop, the reference), `expandFrames`
  * (distributed id sets) and `expandLocal` (snapshot adjacency maps). The
  * class keeps the name of the GraphX twin it once tested. */
class GraphXExpansionSpec extends SparkSpec {
  import spark.implicits._

  private def sets(sub: graft.operators.Subgraph): (Set[String], Set[String]) = (
    sub.entityIds.select("entity_id").as[String].collect().toSet,
    sub.relationIds.select("relation_id").as[String].collect().toSet)

  test("expandFrames equals the driver loop: id sets, per-degree counts, samples") {
    val er = spark.read.parquet(sf("lineitem"))
      .select(col("l_partkey").cast("string").as("entity_id"),
        col("l_orderkey").cast("string").as("relation_id"))
      .distinct().localCheckpoint(true)
    val seeds = er.filter(col("entity_id").cast("long") % 101 === 0)
      .select("entity_id").distinct()
    val noRels = Seq.empty[String].toDF("relation_id")
    for (degree <- 0 to 2) {
      val loop = SubgraphExpansion.expand(seeds, noRels, er, degree)
      val frames = SubgraphExpansion.expandFrames(seeds, noRels, er, degree,
        historySampleCap = 1 << 20)
      assert(sets(frames) == sets(loop), s"id sets differ at degree $degree")
      assert(frames.history.map(h => (h.degree, h.entityCount, h.relationCount)) ==
        loop.history.map(h => (h.degree, h.entityCount, h.relationCount)))
      // with an uncapped sample the per-step id lists match the loop's exactly
      assert(frames.history.map(_.addedEntityIds) == loop.history.map(_.addedEntityIds))
      assert(frames.history.map(_.addedRelationIds) == loop.history.map(_.addedRelationIds))
    }
    // seed relations participate in the init-merge identically
    val someRels = er.select("relation_id").distinct().limit(3)
    val l2 = sets(SubgraphExpansion.expand(seeds, someRels, er, 1))
    val f2 = sets(SubgraphExpansion.expandFrames(seeds, someRels, er, 1))
    assert(f2 == l2)
    // default cap 0 => empty samples, counts still exact
    val bare = SubgraphExpansion.expandFrames(seeds, noRels, er, 1)
    assert(bare.history.forall(h => h.addedEntityIds.isEmpty && h.addedRelationIds.isEmpty))
    assert(bare.history.map(_.entityCount) ==
      SubgraphExpansion.expand(seeds, noRels, er, 1).history.map(_.entityCount))
  }

  test("history id lists are capped at historySampleCap but counts stay exact") {
    val er = spark.read.parquet(sf("lineitem"))
      .select(col("l_partkey").cast("string").as("entity_id"),
        col("l_orderkey").cast("string").as("relation_id"))
      .distinct().localCheckpoint(true)
    val seeds = er.filter(col("entity_id").cast("long") % 101 === 0)
      .select("entity_id").distinct()
    val noRels = Seq.empty[String].toDF("relation_id")
    val full = SubgraphExpansion.expandFrames(seeds, noRels, er, 1,
      historySampleCap = 1 << 20)
    val capped = SubgraphExpansion.expandFrames(seeds, noRels, er, 1, historySampleCap = 5)
    assert(capped.history.size == full.history.size)
    // the cap must bite: some uncapped step lists more than 5 ids
    assert(full.history.exists(f => f.addedEntityIds.size > 5 || f.addedRelationIds.size > 5))
    full.history.zip(capped.history).foreach { case (f, c) =>
      assert(c.degree == f.degree)
      assert(c.entityCount == f.entityCount && c.relationCount == f.relationCount)
      assert(c.addedEntityIds == f.addedEntityIds.take(5))
      assert(c.addedRelationIds == f.addedRelationIds.take(5))
    }
  }

  test("expansion fails fast when the working set exceeds maxWorkingSet") {
    val er = spark.read.parquet(sf("lineitem"))
      .select(col("l_partkey").cast("string").as("entity_id"),
        col("l_orderkey").cast("string").as("relation_id"))
      .distinct().localCheckpoint(true)
    val seeds = er.filter(col("entity_id").cast("long") % 101 === 0)
      .select("entity_id").distinct()
    val noRels = Seq.empty[String].toDF("relation_id")
    val e = intercept[IllegalStateException] {
      SubgraphExpansion.expand(seeds, noRels, er, degree = 2, maxWorkingSet = 10)
    }
    assert(e.getMessage.contains("expandFrames"))
    // a generous cap changes nothing
    val normal = sets(SubgraphExpansion.expand(seeds, noRels, er, 2))
    val capped = sets(SubgraphExpansion.expand(seeds, noRels, er, 2, maxWorkingSet = 1 << 20))
    assert(normal == capped)
  }

  test("expand equals expandFrames with seed relations, degrees 0-2") {
    val er = spark.read.parquet(sf("lineitem"))
      .select(col("l_partkey").cast("string").as("entity_id"),
        col("l_orderkey").cast("string").as("relation_id"))
      .distinct().localCheckpoint(true)
    val seeds = er.filter(col("entity_id").cast("long") % 101 === 0)
      .select("entity_id").distinct()
    val seedRels = er.filter(col("relation_id").cast("long") % 1009 === 0)
      .select("relation_id").distinct()
    for (degree <- 0 to 2) {
      val loop = SubgraphExpansion.expand(seeds, seedRels, er, degree)
      val frames = SubgraphExpansion.expandFrames(seeds, seedRels, er, degree,
        historySampleCap = 1 << 20)
      assert(sets(frames) == sets(loop), s"id sets differ at degree $degree")
      assert(frames.history.map(h => (h.degree, h.entityCount, h.relationCount)) ==
        loop.history.map(h => (h.degree, h.entityCount, h.relationCount)),
        s"per-step counts differ at degree $degree")
      assert(frames.history.map(_.addedEntityIds) == loop.history.map(_.addedEntityIds),
        s"per-step entity lists differ at degree $degree")
      assert(frames.history.map(_.addedRelationIds) == loop.history.map(_.addedRelationIds),
        s"per-step relation lists differ at degree $degree")
    }
  }

  test("expandLocal over adjacency maps equals expand, degrees 0-2") {
    val er = spark.read.parquet(sf("lineitem"))
      .select(col("l_partkey").cast("string").as("entity_id"),
        col("l_orderkey").cast("string").as("relation_id"))
      .distinct().localCheckpoint(true)
    val seeds = er.filter(col("entity_id").cast("long") % 101 === 0)
      .select("entity_id").distinct()
    // a seed relation without edges still enters the init set
    val seedRels = er.filter(col("relation_id").cast("long") % 1009 === 0)
      .select("relation_id").distinct()
      .unionByName(Seq("no-edges").toDF("relation_id"))
    val edges = er.collect().map(r => (r.getString(0), r.getString(1)))
    val byEntity = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }
    val byRelation = edges.groupBy(_._2).map { case (k, v) => k -> v.map(_._1).toSeq }
    val seedIds = seeds.collect().map(_.getString(0)).toSeq
    val seedRelIds = seedRels.collect().map(_.getString(0)).toSeq
    for (degree <- 0 to 2) {
      val loop = SubgraphExpansion.expand(seeds, seedRels, er, degree)
      val (entities, relations, history) = SubgraphExpansion.expandLocal(
        seedIds, seedRelIds, byEntity, byRelation, degree)
      assert(history == loop.history, s"history differs at degree $degree")
      assert((entities.toSet, relations.toSet) == sets(loop), s"sets differ at degree $degree")
    }
    val guard = intercept[IllegalStateException](SubgraphExpansion.expandLocal(
      seedIds, seedRelIds, byEntity, byRelation, degree = 1, maxWorkingSet = 3))
    assert(guard.getMessage.contains("exceeded maxWorkingSet=3"))
  }

  test("expand evaluates each lazy seed subplan exactly once") {
    val er = spark.read.parquet(sf("lineitem"))
      .select(col("l_partkey").cast("string").as("entity_id"),
        col("l_orderkey").cast("string").as("relation_id"))
      .distinct().localCheckpoint(true)
    val entityEvals = spark.sparkContext.longAccumulator("seedEntityEvals")
    val relationEvals = spark.sparkContext.longAccumulator("seedRelationEvals")
    def counted(acc: org.apache.spark.util.LongAccumulator) =
      udf { (id: String) => acc.add(1); id }.asNondeterministic()
    val seedRows = er.filter(col("entity_id").cast("long") % 101 === 0)
    val seedRelRows = er.filter(col("relation_id").cast("long") % 1009 === 0)
    val seeds = seedRows.select(counted(entityEvals)(col("entity_id")).as("entity_id"))
    val seedRels = seedRelRows
      .select(counted(relationEvals)(col("relation_id")).as("relation_id"))
    val sub = SubgraphExpansion.expand(seeds, seedRels, er, degree = 1)
    assert(sub.history.size == 2)
    assert(entityEvals.value == seedRows.count(), "entity seed subplan re-evaluated")
    assert(relationEvals.value == seedRelRows.count(), "relation seed subplan re-evaluated")
  }

  test("seed relations participate in the init-merge identically") {
    val er = Seq(
      ("e1", "r1"), ("e2", "r1"), ("e2", "r2"), ("e3", "r2"),
      ("e4", "r3"), ("e5", "r3"), ("e5", "r4"), ("e6", "r4"))
      .toDF("entity_id", "relation_id")
    val seeds = Seq("e1").toDF("entity_id")
    val seedRels = Seq("r3").toDF("relation_id")
    val loop = sets(SubgraphExpansion.expand(seeds, seedRels, er, 1))
    val frames = sets(SubgraphExpansion.expandFrames(seeds, seedRels, er, 1))
    assert(frames == loop)
    val edges = er.collect().map(r => (r.getString(0), r.getString(1)))
    val (entities, relations, _) = SubgraphExpansion.expandLocal(Seq("e1"), Seq("r3"),
      edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq },
      edges.groupBy(_._2).map { case (k, v) => k -> v.map(_._1).toSeq }, 1)
    assert((entities.toSet, relations.toSet) == loop)
    // sanity: degree-1 from e1 + seed r3 reaches both components' first rings
    assert(loop._1 == Set("e1", "e2", "e4", "e5"))
    assert(loop._2 == Set("r1", "r2", "r3", "r4"))
  }
}
