package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Deterministic dataset splitting for training pipelines.
  *
  * Assignment is a pure function of the row id (`md5` bucket), so splits are
  * reproducible across runs, clusters, and engines — no `rand()`, no seed
  * plumbing, and a row keeps its split when the corpus is re-partitioned or
  * incrementally extended. Contamination checks reduce to an equi-join on id.
  */
object DatasetSplit {

  /** Bucket in [0, 100) from the id's md5 ([[graft.functions.Hashing.md5Long]];
    * `CAST(('0x' || substr(md5(id),1,8)) AS BIGINT) % 100`). */
  def bucketOf(id: Column): Column =
    graft.functions.Hashing.md5Long(id.cast("string")) % 100

  /** Adds a `split` column. `weights` are integer percentages summing to ≤ 100;
    * remainder falls into the last split. E.g. Seq("train"->80,"val"->10,"test"->10). */
  def assignSplit(df: DataFrame, idCol: String, weights: Seq[(String, Int)]): DataFrame = {
    require(weights.nonEmpty && weights.map(_._2).sum <= 100)
    val b = bucketOf(col(idCol))
    val bounds = weights.scanLeft(0) { case (acc, (_, w)) => acc + w }.tail
    val expr = weights.zip(bounds).foldRight(lit(weights.last._1): Column) {
      case (((name, _), bound), acc) => when(b < bound, name).otherwise(acc)
    }
    df.withColumn("split", expr)
  }

  /** Leakage-safe split: near-duplicate documents must NOT straddle the
    * train/eval boundary — a test doc whose near-twin sits in train is
    * memorized contamination that no post-hoc decontamination join catches
    * (the texts differ; the content doesn't). The standard fix is to split
    * by DUP-CLUSTER, not by row: every member of a near-dup cluster hashes
    * through its cluster representative, so the whole cluster lands in one
    * split; singleton docs hash through their own id, which keeps the split
    * identical to [[assignSplit]] wherever no duplication exists.
    *
    * `pairs`: near-dup candidate pairs (`id_a`, `id_b`) from any detector
    * ([[Dedup.lshCandidatePairs]], [[Dedup.embeddingNearDupPairs]], ...).
    * Clusters are their connected components ([[Dedup.connectedComponents]]
    * — diameter-independent, so deep chains cost no extra rounds), a
    * pair-sized structure joined back to the corpus once: no corpus-scale
    * shuffle beyond the one id-keyed join. Adds `rep` (the cluster
    * representative the hash used) and `split`.
    */
  def assignSplitLeakageSafe(df: DataFrame, idCol: String, pairs: DataFrame,
      weights: Seq[(String, Int)]): DataFrame = {
    val reps = Dedup.connectedComponents(pairs)
      .select(col("id").as(idCol), col("rep_id"))
    val withRep = df.join(reps, Seq(idCol), "left")
      .withColumn("rep", coalesce(col("rep_id"), col(idCol)))
      .drop("rep_id")
    assignSplit(withRep, "rep", weights)
  }
}
