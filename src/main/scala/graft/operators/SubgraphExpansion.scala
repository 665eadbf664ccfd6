package graft.operators

import graft.model.ExpansionStep
import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

/** Result of an expansion: the id sets plus the audit log the API exposes
  * (knowledge_graph.py:149-192 SubGraph + expansion_history). */
final case class Subgraph(
    entityIds: DataFrame,   // column: entity_id
    relationIds: DataFrame, // column: relation_id
    history: Seq[ExpansionStep])

/** P1–P6 iterative subgraph expansion (knowledge_graph.py:258-358).
  *
  * Semantics (SURVEY §2.7): init-merge relations(seed entities) ∪ seed relations;
  * then per degree: frontier relations → unseen entities → those entities' unseen
  * relations.
  *
  * Physical shape: the edge table is the big side and NEVER shuffles — each step
  * is one broadcast semi-join + broadcast anti-join against the (bounded,
  * top-k × degree) working set, collected by ONE driver action. The collected
  * ids are the audit log the API returns anyway (knowledge_graph.py:293-346),
  * the same boundedness contract as the reference's driver-side id sets, and
  * are re-injected as LOCAL frames, so the next step and downstream consumers
  * (eviction semi-join, passage collection) broadcast them without recomputing
  * anything. A lazy seed subplan (a query-time KNN) is evaluated once, by the
  * seed collect. Degree d costs 2 + 2d collects (seeds, init, then an entity and
  * a relation hop per degree); AQE may split each into a few stage jobs.
  *
  * Three paths, one semantics, each with its own job:
  *  - [[expandLocal]]: map-lookup hops over a driver-resident adjacency (a
  *    graph's serving snapshot), no jobs — snapshot reads;
  *  - [[expand]]: the broadcast semi-join loop above — the Spark-path
  *    retrieve, and the reference the other two are tested against;
  *  - [[expandFrames]]: id sets kept in checkpointed DataFrames — traversals
  *    whose reached set is NOT bounded (deep degrees on hub-heavy graphs,
  *    corpus-sized frontiers), with capped audit samples.
  */
object SubgraphExpansion {

  // Default ceiling on the driver-collected working set: the "bounded by
  // top-k × degree" contract really means top-k × degree × fan-out, so a hub
  // entity/relation can make a hop arbitrarily large. Rather than silently
  // OOMing the driver, expansion fails fast past this many ids per collect
  // and points at expandFrames, which keeps the sets distributed.
  import DriverBound.DefaultMaxWorkingSet

  private def overflow(what: String, maxWorkingSet: Int) =
    new IllegalStateException(
      s"subgraph expansion: $what exceeded maxWorkingSet=$maxWorkingSet ids; " +
        "the reached set is not driver-bounded — use SubgraphExpansion.expandFrames " +
        "(distributed id sets) or raise maxWorkingSet")

  /** Throws past `maxWorkingSet` ids — the one guard every driver-side id
    * set passes — else returns the ids sorted. */
  private def bounded(ids: Seq[String], what: String, maxWorkingSet: Int): Seq[String] = {
    if (ids.length > maxWorkingSet) throw overflow(what, maxWorkingSet)
    ids.sorted
  }

  /** One hop: `(frontier, from, to, seen, what)` ↦ the sorted ids on the `to`
    * side of edges whose `from` side is in `frontier`, minus `seen`. */
  private type Hop = (Seq[String], String, String, Seq[String], String) => Seq[String]

  /** P2/P3/P4 degree loop (knowledge_graph.py:305-346), independent of where
    * the edges live: frontier relations → unseen entities → their unseen
    * relations. Every id a hop returns is new (it excludes the reached set),
    * so the reached lists just append. Returns (entities, relations, history). */
  private def expandLoop(seedEntities: Seq[String], initRelations: Seq[String],
      degree: Int)(hop: Hop): (Seq[String], Seq[String], Seq[ExpansionStep]) = {
    var entities = seedEntities
    var relations = initRelations
    var frontier = initRelations
    val history = Seq.newBuilder[ExpansionStep]
    history += ExpansionStep(0, seedEntities, initRelations,
      entities.size.toLong, relations.size.toLong)
    for (d <- 1 to degree) {
      val addedE = hop(frontier, "relation_id", "entity_id", entities,
        s"degree-$d entity hop")
      val addedR = hop(addedE, "entity_id", "relation_id", relations,
        s"degree-$d relation hop")
      entities = entities ++ addedE
      relations = relations ++ addedR
      frontier = addedR
      history += ExpansionStep(d, addedE, addedR,
        entities.size.toLong, relations.size.toLong)
    }
    (entities, relations, history.result())
  }

  def expand(
      seedEntityIds: DataFrame,  // column: entity_id
      seedRelationIds: DataFrame, // column: relation_id
      entityRelation: DataFrame,  // entity_id, relation_id, [role]
      degree: Int,
      maxWorkingSet: Int = DefaultMaxWorkingSet): Subgraph = {

    val spark = entityRelation.sparkSession
    val er = entityRelation.select("entity_id", "relation_id")

    // LocalRelation, NOT parallelize: every downstream use is a broadcast
    // join, and a LocalRelation ships to executors ONCE via the broadcast
    // (torrent) while parallelize embeds the rows in every task binary —
    // a large hop list was producing multi-MB tasks ("TaskSetManager: task
    // of very large size") on each subsequent job.
    def local(ids: Seq[String], name: String): DataFrame = {
      import spark.implicits._
      ids.toDF(name)
    }

    // Every driver collect fetches at most cap+1 rows and fails fast on
    // overflow instead of materializing an unbounded hop.
    def collectBounded(ids: DataFrame, what: String): Seq[String] =
      DriverBound.collect(ids, maxWorkingSet)
        .getOrElse(throw overflow(what, maxWorkingSet))
        .map(_.getString(0)).toSeq.sorted

    // P1 seed entities + init-merge (knowledge_graph.py:280-302): relations
    // incident to seed entities ∪ seed relations.
    val seedEntities = collectBounded(
      seedEntityIds.select("entity_id").distinct(), "seed entities")
    val initRelations = collectBounded(
      er.join(broadcast(local(seedEntities, "entity_id")), Seq("entity_id"), "left_semi")
        .select("relation_id")
        .unionByName(seedRelationIds.select("relation_id"))
        .distinct(), "init relations")

    val (entities, relations, history) = expandLoop(seedEntities, initRelations, degree) {
      (frontier, from, to, seen, what) =>
        collectBounded(
          er.join(broadcast(local(frontier, from)), Seq(from), "left_semi")
            .select(to).distinct()
            .join(broadcast(local(seen, to)), Seq(to), "left_anti"), what)
    }
    Subgraph(local(entities, "entity_id"), local(relations, "relation_id"), history)
  }

  /** [[expand]] over a driver-resident adjacency (entity → relations and
    * relation → entities) instead of the edge table: the same seed/init merge,
    * the same degree loop and guard, each hop a map lookup — no Spark job.
    * Returns (entities, relations, history) with [[expand]]'s lists. */
  def expandLocal(
      seedEntityIds: Seq[String],
      seedRelationIds: Seq[String],
      entityRelations: Map[String, Seq[String]],
      relationEntities: Map[String, Seq[String]],
      degree: Int,
      maxWorkingSet: Int = DefaultMaxWorkingSet): (Seq[String], Seq[String], Seq[ExpansionStep]) = {
    def adjacent(ids: Iterable[String], from: String): Iterator[String] = {
      val adj = if (from == "entity_id") entityRelations else relationEntities
      ids.iterator.flatMap(adj.getOrElse(_, Nil))
    }
    val seedEntities = bounded(seedEntityIds.distinct, "seed entities", maxWorkingSet)
    val initRelations = bounded(
      (adjacent(seedEntities, "entity_id") ++ seedRelationIds).distinct.toSeq,
      "init relations", maxWorkingSet)
    expandLoop(seedEntities, initRelations, degree) { (frontier, from, _, seen, what) =>
      val seenSet = seen.toSet
      bounded(adjacent(frontier, from).filterNot(seenSet).distinct.toSeq, what, maxWorkingSet)
    }
  }

  /** Distributed-frames variant of [[expand]] for ANALYTICAL traversals whose
    * reached set is corpus-sized rather than top-k-bounded: the id sets stay
    * in checkpointed DataFrames end to end — nothing is collected, nothing is
    * re-broadcast from the driver. Each hop is a semi-join + distinct +
    * anti-join over the edge table; the frontier/seen frames are small
    * relative to the edges, so AQE broadcasts them from their materialized
    * (checkpointed) form without a driver round-trip. Same semantics as
    * [[expand]] (driver-bounded working sets — query-time retrieval), a
    * different working-set contract: nothing here is capped by
    * `maxWorkingSet`.
    *
    * History carries exact cumulative counts; id samples only when
    * `historySampleCap` > 0 (they cost one bounded sort-limit job per frame). */
  def expandFrames(
      seedEntityIds: DataFrame,
      seedRelationIds: DataFrame,
      entityRelation: DataFrame,
      degree: Int,
      historySampleCap: Int = 0): Subgraph = {
    val er = entityRelation.select("entity_id", "relation_id")
    val seedE = seedEntityIds.select("entity_id").distinct().localCheckpoint(true)
    val initR = er.join(seedE, Seq("entity_id"), "left_semi")
      .select("relation_id")
      .unionByName(seedRelationIds.select("relation_id"))
      .distinct().localCheckpoint(true)

    def sample(df: DataFrame, c: String): Seq[String] =
      if (historySampleCap <= 0) Seq.empty
      else df.orderBy(col(c)).limit(historySampleCap)
        .collect().map(_.getString(0)).toSeq

    val history = Seq.newBuilder[ExpansionStep]
    // Seen sets as unions of the per-hop checkpointed frames: the union is
    // re-evaluated lazily from materialized pieces (cheap), never re-derived.
    var entFrames = List(seedE)
    var relFrames = List(initR)
    var entCount = seedE.count() // counts on checkpointed frames are ~free
    var relCount = initR.count()
    history += ExpansionStep(0,
      sample(seedE, "entity_id"), sample(initR, "relation_id"), entCount, relCount)
    var frontier = initR
    // Hop sides deliberately NOT fused into one job here: unlike expand()'s
    // driver path (where re-evaluating the entity hop is a cheap extra
    // broadcast-semi scan), in frames mode the duplicated subplan is a real
    // distinct shuffle — measured slower than the second job's round-trip.
    for (d <- 1 to degree) {
      val entities = entFrames.reduce(_ unionByName _)
      val relations = relFrames.reduce(_ unionByName _)
      val newE = er.join(frontier, Seq("relation_id"), "left_semi")
        .select("entity_id").distinct()
        .join(entities, Seq("entity_id"), "left_anti")
        .localCheckpoint(true)
      val newR = er.join(newE, Seq("entity_id"), "left_semi")
        .select("relation_id").distinct()
        .join(relations, Seq("relation_id"), "left_anti")
        .localCheckpoint(true)
      entFrames ::= newE
      relFrames ::= newR
      entCount += newE.count()
      relCount += newR.count()
      history += ExpansionStep(d,
        sample(newE, "entity_id"), sample(newR, "relation_id"), entCount, relCount)
      frontier = newR
    }
    Subgraph(entFrames.reduce(_ unionByName _), relFrames.reduce(_ unionByName _),
      history.result())
  }
}
