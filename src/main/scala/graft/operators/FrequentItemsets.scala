package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Support-pruned frequent-pair / association mining — the A-priori level-2
  * pass (Agrawal & Srikant 1994) over (basket, item) rows: which item pairs
  * co-occur in at least `minSupport` baskets, and how much more often than
  * independence predicts (lift). The training-data-pipeline uses are
  * co-occurrence vocabularies (entity pairs that co-occur across documents
  * — the corpus-level sibling of [[graft.functions.TextAnalysis]]'s
  * within-window PMI collocations), template/boilerplate detection (line
  * pairs that always ship together), and co-access mining over event logs.
  * The reference has no co-occurrence mining; this is §2.11 scale-pipeline
  * inventory.
  *
  * Scale shape (why this survives 100 TB while naive pair counting dies):
  *  - the quadratic step — the within-basket self-join — runs AFTER the
  *    A-priori prune: any pair with support ≥ s consists of two items each
  *    with support ≥ s, so items below `minSupport` are dropped BEFORE the
  *    join (one hash-agg + one equi-join). On Zipfian corpora this removes
  *    the long tail, which is most of the item universe.
  *  - pair counting is a hash aggregate with map-side partial combine: the
  *    shuffle carries one row per distinct surviving pair per map task,
  *    never the raw co-occurrence stream. Integer counts — order-free,
  *    exact, cross-engine reproducible.
  *  - fan-out is quadratic in BASKET size, not corpus size: b items in a
  *    basket emit C(b,2) pairs. Bounded baskets (order lines, doc shingle
  *    sets, session events) keep this a small constant. For melt-a-sorter
  *    baskets (one basket with 10^6 items), the documented production
  *    upgrade is the PCY hash-bucket prefilter (Park/Chen/Yu 1995: a first
  *    pass counting pair-hash buckets, pairs in light buckets skipped) or a
  *    hard basket-size cap — both compose in front of this operator without
  *    changing its contract.
  *  - lift is projected as an EXACT integer ratio in parts-per-million
  *    (`lift_ppm = ⌊10^6·support·n_baskets / (count_a·count_b)⌋`, integer
  *    DIV): no float fold anywhere, so the output hashes identically on any
  *    engine/partitioning (the g19 lesson).
  *
  * Input rows are (basket, item) — duplicates tolerated (distinct'd: a
  * basket contains an item or it does not; multiplicity is not support).
  * Output: one row per unordered pair (item_a < item_b) with support ≥
  * `minSupport`: (item_a, item_b, support, count_a, count_b, n_baskets,
  * lift_ppm). lift_ppm > 10^6 means positive association.
  */
object FrequentItemsets {

  /** `maxBasketSize`: the melt-a-sorter guard — baskets with more than this
    * many distinct (post-prune) items are EXCLUDED from pair counting (one
    * integer window count, no extra shuffle: the count rides the same
    * basket partitioning the join needs anyway). A 10⁶-item basket emits
    * 5·10¹¹ pairs and is boilerplate/spam by construction (the C4 rationale
    * for its per-domain cap); real pipelines skip it, and excluding it
    * changes `support` only for pairs that basket touched — the documented
    * contract. None = exact (the oracle-checked default). */
  def frequentPairs(baskets: DataFrame, basketCol: String, itemCol: String,
                    minSupport: Long,
                    maxBasketSize: Option[Long] = None): DataFrame = {
    val (itemCounts, nB, pruned) =
      prunedBasketItems(baskets, basketCol, itemCol, minSupport, maxBasketSize)
    enrich(pairCount(pruned, minSupport), itemCounts, nB)
  }

  /** The level-2 kernel over an already-pruned (basket, item) frame:
    * within-basket pair explosion (a < b once per unordered pair) + hash
    * count (equi-join on the basket key; AQE handles skewed baskets). Its
    * exchange is the shuffle PCY targets; [[pcyPairCount]] is its twin
    * over the same A-priori front. */
  private def pairCount(pruned: DataFrame, minSupport: Long): DataFrame =
    candidatePairs(pruned)
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)

  /** The PCY upgrade (Park/Chen/Yu 1995, documented above as the
    * melt-a-basket path): a first pass counts PAIR-HASH BUCKETS — the
    * within-basket join's output folds straight into ≤ `nBuckets` counter
    * rows per map task (map-side combine; the shuffle carries buckets, not
    * pairs) — then only pairs landing in HEAVY buckets (bucket count ≥
    * `minSupport`) enter the pair-count shuffle, via one broadcast
    * semi-join. A bucket's count bounds every resident pair's support from
    * above, so no frequent pair is lost: the output is EXACTLY
    * [[frequentPairs]]' output; what changes is the second pass's shuffle,
    * which drops the long tail of hapax pairs (most of any Zipfian pair
    * stream) before it moves. The candidate join runs twice — at corpus
    * scale recomputing the explode is deliberate: compute is cheaper than
    * materializing the full pair stream, which is exactly what PCY exists
    * to avoid.
    *
    * The bucket hash is the house oracle-replicable md5 arithmetic
    * ([[graft.functions.Hashing.md5Long]] mod `nBuckets`), so a SQL twin
    * replays the prune decision bucket-for-bucket. Size `nBuckets` so the
    * EXPECTED bucket load (candidate pairs / nBuckets) sits well below
    * `minSupport` — an undersized table makes every bucket heavy and the
    * prune a no-op.
    *
    * Measured (r15, sf0.1 documents, minSupport=2, nBuckets=2²⁰, task
    * shuffle-write metered around each kernel with the shared front
    * materialized outside): plain corpus pairCount 23.6 MB / 2.40M records
    * vs PCY 27.5 MB / 3.15M, candidate drop 31.8%; hot basket 28.6 MB /
    * 3.08M vs 37.0 MB / 4.32M, drop 16.5%; at sf0.01 the drop is 84%. PCY
    * LOSES here: at minSupport=2 one collision marks a bucket heavy, so the
    * drop decays as the corpus outgrows the table; the pair-count exchange
    * is already map-side combined; and the candidate explode runs twice.
    * Its win condition is supports in the hundreds-plus, pair universes too
    * large for the combiner, and network-priced shuffle. */
  def pcyFrequentPairs(baskets: DataFrame, basketCol: String, itemCol: String,
                       minSupport: Long, nBuckets: Int = 1 << 20,
                       maxBasketSize: Option[Long] = None): DataFrame = {
    require(nBuckets >= 2, s"nBuckets must be >= 2, got $nBuckets")
    // The heavy-bucket table is force-broadcast below and can hold up to
    // nBuckets rows (every bucket heavy when the table is undersized or
    // minSupport tiny). Cap it so an oversized request fails loudly here
    // instead of OOMing the broadcast: 2^24 longs is ~128 MB of keys
    // (~5x that as a HashedRelation) — already past where a sane PCY
    // config lives, since the prune only bites when candidate-pairs /
    // nBuckets << minSupport.
    require(nBuckets <= (1 << 24),
      s"nBuckets must be <= ${1 << 24} (broadcast heavy-bucket table " +
        s"bound), got $nBuckets")
    val (itemCounts, nB, pruned) =
      prunedBasketItems(baskets, basketCol, itemCol, minSupport, maxBasketSize)
    enrich(pcyPairCount(pruned, minSupport, nBuckets), itemCounts, nB)
  }

  /** The PCY two-pass kernel over an already-pruned frame — the
    * [[pairCount]] twin. */
  private def pcyPairCount(pruned: DataFrame, minSupport: Long,
      nBuckets: Int): DataFrame =
    pcyCandidates(pruned, minSupport, nBuckets)
      .groupBy(col("item_a"), col("item_b"))
      .agg(count(lit(1)).as("support"))
      .filter(col("support") >= minSupport)

  /** The PCY candidate stream AFTER the heavy-bucket prune — exactly the
    * rows that enter pass 2's pair-count exchange. */
  private def pcyCandidates(pruned: DataFrame, minSupport: Long,
      nBuckets: Int): DataFrame = {
    def withBucket(cand: DataFrame): DataFrame = cand.withColumn("_bkt",
      graft.functions.Hashing.md5Long(concat_ws("|",
        col("item_a"), col("item_b"))) % nBuckets) // md5Long is non-negative
    // Pass 1: bucket counts (map-side combined to <= nBuckets rows/task).
    val heavy = withBucket(candidatePairs(pruned))
      .groupBy(col("_bkt")).agg(count(lit(1)).as("_bc"))
      .filter(col("_bc") >= minSupport)
      .select(col("_bkt"))
    // Pass 2: only heavy-bucket pairs reach the pair-count shuffle.
    withBucket(candidatePairs(pruned))
      .join(broadcast(heavy), Seq("_bkt"), "left_semi")
  }

  /** Shared A-priori front: distinct (basket, item), level-1 support prune,
    * corpus basket count, optional hot-basket exclusion. */
  private def prunedBasketItems(baskets: DataFrame, basketCol: String,
      itemCol: String, minSupport: Long, maxBasketSize: Option[Long])
      : (DataFrame, DataFrame, DataFrame) = {
    require(minSupport >= 1, s"minSupport must be >= 1, got $minSupport")
    maxBasketSize.foreach(m => require(m >= 2,
      s"maxBasketSize must be >= 2 (a 1-item basket has no pairs), got $m"))
    // Read three times (item counts, basket count, pair join) — pin once.
    val bi = baskets.select(col(basketCol).as("_b"), col(itemCol).as("_i"))
      .distinct().localCheckpoint(true)
    // Level-1: per-item basket counts; the A-priori prune keeps only items
    // that could appear in a frequent pair.
    val itemCounts = bi.groupBy(col("_i")).agg(count(lit(1)).as("_c"))
      .filter(col("_c") >= minSupport)
      .localCheckpoint(true) // read 3x: prune join + two enrichment joins
    // n_baskets over ALL baskets (lift's denominator is corpus-wide
    // independence, not post-prune) — one row, broadcast into the output.
    val nB = bi.select(count_distinct(col("_b")).as("n_baskets"))
    val prunedAll = bi.join(itemCounts.select(col("_i")), Seq("_i"))
    // Hot-basket exclusion BEFORE the quadratic join (see maxBasketSize).
    val pruned = maxBasketSize match {
      case Some(m) => prunedAll
        .withColumn("_bs", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("_b"))))
        .filter(col("_bs") <= m).drop("_bs")
      case None => prunedAll
    }
    (itemCounts, nB, pruned)
  }

  /** Unordered within-basket candidate pairs (item_a < item_b). */
  private def candidatePairs(pruned: DataFrame): DataFrame =
    pruned.select(col("_b"), col("_i").as("item_a"))
      .join(pruned.select(col("_b").as("_b2"), col("_i").as("item_b")),
        col("_b") === col("_b2") && col("item_a") < col("item_b"))
      .select(col("item_a"), col("item_b"))

  /** Attach per-item counts, corpus size, and the exact integer lift. */
  private def enrich(pairs: DataFrame, itemCounts: DataFrame,
                     nB: DataFrame): DataFrame =
    pairs
      .join(itemCounts.select(col("_i").as("item_a"), col("_c").as("count_a")),
        Seq("item_a"))
      .join(itemCounts.select(col("_i").as("item_b"), col("_c").as("count_b")),
        Seq("item_b"))
      .crossJoin(broadcast(nB))
      .select(col("item_a"), col("item_b"), col("support"),
        col("count_a"), col("count_b"), col("n_baskets"),
        // numerator widened to DECIMAL(38,0): 10⁶·support·n_baskets passes
        // Long.Max once n_baskets·support > 9.2·10¹² — reachable at the
        // corpus sizes this operator is for. The quotient is ≤ n_baskets
        // (support ≤ min(count)), so the final BIGINT cast is safe.
        expr("CAST((CAST(1000000 AS DECIMAL(38,0)) * support * n_baskets) " +
          "DIV (CAST(count_a AS DECIMAL(38,0)) * count_b) AS BIGINT)")
          .as("lift_ppm"))
}
