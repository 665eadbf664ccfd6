package graft.operators

import graft.functions.{Norm, VectorFunctions}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, DoubleType, FloatType,
  IntegerType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.{Column, DataFrame, Row}

/** Large-corpus deduplication operators — the scale-pipeline family the reference
  * lacks but a 100 TB training-data build needs. All are single-DAG, shuffle-minimal:
  * exact dedup is one hash aggregate; MinHash is one explode + k min-aggregates;
  * LSH banding turns O(n²) pair search into an equi-join on band keys.
  */
object Dedup {

  /** Exact dedup on normalized text: one row per distinct key with the surviving
    * (minimum) id and duplicate count. Map-side combine; one shuffle on the key. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol).as("id"), Norm.normPhrase(col(textCol)).as("key"))
      .groupBy("key")
      .agg(min("id").as("keep_id"), count(lit(1)).as("n_dups"))

  /** Duplication rate PER GROUP (ingest source, crawl day, shard): for each
    * group, how many of its documents participate in an exact-duplicate
    * cluster ANYWHERE in the corpus — the attribution read behind [[exact]]:
    * a global dup rate says the corpus is 30% duplicated, this says WHICH
    * feed is sending them (and whether its copies collide with other
    * feeds: `n_cross_dup` counts docs whose duplicate set spans groups).
    * Two hash aggregates + one key join — no pairwise anything.
    *
    * Output: (group, n_docs, n_dup_involved, n_cross_dup, dup_rate). */
  def dupRateByGroup(df: DataFrame, groupCol: String, idCol: String,
      textCol: String): DataFrame = {
    val keyed = df.select(col(groupCol).as("grp"),
      Norm.normPhrase(col(textCol)).as("key"))
    val keyStats = keyed.groupBy("key")
      .agg(count(lit(1)).as("_kc"), countDistinct(col("grp")).as("_kg"))
    keyed.join(keyStats, Seq("key"))
      .groupBy(col("grp").as("group"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("_kc") > 1).cast("long")).as("n_dup_involved"),
        sum((col("_kg") > 1).cast("long")).as("n_cross_dup"))
      .select(col("group"), col("n_docs"), col("n_dup_involved"),
        col("n_cross_dup"),
        (col("n_dup_involved").cast("double") / col("n_docs").cast("double"))
          .as("dup_rate"))
  }

  /** Exact dedup keeping the BEST duplicate, not the first: one row per
    * distinct key with the id of the highest-`qualityCol` member (ties → the
    * smaller id, so the choice is deterministic). Same one-shuffle map-side-
    * combinable shape as [[exact]] — `min_by` over a (-quality, id) struct is
    * an ordinary aggregate, NOT a per-key window sort. Negating QUALITY (a
    * numeric by nature) rather than the id keeps the tie-break type-agnostic:
    * md5-string ids — the norm in this codebase's graph tables — order
    * lexicographically inside the struct, where a negated string id would
    * not survive analysis (r8 review). `keyExpr`: pass e.g.
    * `TextAnalysis.fingerprintT` output to collapse word-order/repetition
    * variants instead of exact normalized text. */
  def exactKeepBest(df: DataFrame, idCol: String, qualityCol: String,
      keyExpr: Column): DataFrame =
    df.select(col(idCol).as("id"), keyExpr.as("key"), col(qualityCol).as("q"))
      .groupBy("key")
      .agg(
        min_by(col("id"), struct((-col("q")).as("nq"), col("id"))).as("keep_id"),
        max(col("q")).as("best_q"),
        count(lit(1)).as("n_dups"))

  /** MinHash signatures: k independent hash functions h_i(s) = md5(seed_i ‖ s),
    * minimum over the document's word-shingle set. One explode + k min() aggregates
    * in a single pass (map-side partial min, one shuffle on doc id).
    *
    * Output: (id, sig_0..sig_{k-1}) — columns, not an array, so each is a plain
    * min() aggregate that Catalyst fuses. Docs with no shingles get null sigs. */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 12, shingleSize: Int = 3): DataFrame =
    minhashSignaturesFromShingles(
      shingleRows(df, idCol, textCol, shingleSize), numHashes)

  /** [[minhashSignatures]] over a pre-built (id, sh) shingle frame — the
    * tokenize-once entry point when several dedup consumers (signatures AND
    * exact pairs, as in the d17 quality measurement) read the same corpus:
    * the shingle explode dominates every one of them and is identical, so
    * build it once, pin it, feed them all (the lexTokens contract). min() is
    * idempotent, so a DISTINCT (id, sh) frame yields the same signatures as
    * the raw multiset. */
  def minhashSignaturesFromShingles(shingles: DataFrame, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(i =>
      min(md5(concat(lit(s"mh$i-"), col("sh")))).as(s"sig_$i"))
    shingles.groupBy("id").agg(aggs.head, aggs.tail: _*)
  }

  /** (id, shingle) rows. Tokenization is projected into its own column FIRST:
    * `shingles(normTokens(text))` inlined would re-evaluate the regexp+split per
    * lambda reference (≈ once per shingle index) — projecting the array keeps it
    * a per-row attribute read. */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int): DataFrame =
    df.select(col(idCol).as("id"), Norm.normTokens(col(textCol)).as("toks"))
      .select(col("id"), explode(Norm.shingles(col("toks"), shingleSize)).as("sh"))

  /** LSH banding: group the signature into `bands` bands of `rowsPerBand` hashes,
    * key = md5 of the band's concatenated sig; near-duplicate candidates are pairs
    * sharing any band key. Pair search becomes a self-equi-join on (band, key) —
    * the standard way to keep near-dup detection linear in corpus size. */
  def lshCandidatePairs(signatures: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val b = banded(signatures, bands, rowsPerBand)
    b.as("a").join(b.as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** (id, band, band_key) rows. Single pass: band keys as one array +
    * posexplode (NOT a union of `bands` selects, which would recompute the
    * signature DAG once per band). */
  private def banded(signatures: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val bandKeys = array((0 until bands).map { b =>
      val cols = (b * rowsPerBand until (b + 1) * rowsPerBand).map(i => col(s"sig_$i"))
      md5(concat_ws("|", cols: _*))
    }: _*)
    signatures.select(col("id"), posexplode(bandKeys))
      .select(col("id"), col("pos").as("band"), col("col").as("band_key"))
      .filter(col("band_key").isNotNull)
  }

  /** Incremental (delta) LSH dedup: candidate matches of NEW documents
    * against an already-indexed corpus's saved signatures — the operator a
    * 100 TB ingest actually runs. The corpus is never re-paired with itself
    * (that work is done and saved); each delta batch only probes the saved
    * band keys, so the join is delta × matching-bands, and the planner
    * broadcasts the (typically batch-sized) delta side. Output:
    * (id_a = new id, id_b = matched corpus id), distinct. */
  def lshDeltaPairs(newSigs: DataFrame, savedSigs: DataFrame,
      bands: Int, rowsPerBand: Int): DataFrame =
    banded(newSigs, bands, rowsPerBand).as("a")
      .join(banded(savedSigs, bands, rowsPerBand).as("b"),
        col("a.band") === col("b.band") && col("a.band_key") === col("b.band_key"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

  /** Estimated Jaccard similarity of candidate pairs = fraction of agreeing
    * minhash components. */
  def minhashSimilarity(pairs: DataFrame, signatures: DataFrame, numHashes: Int): DataFrame = {
    val a = signatures.toDF(signatures.columns.toIndexedSeq.map(c => if (c == "id") "id_a" else s"a_$c"): _*)
    val b = signatures.toDF(signatures.columns.toIndexedSeq.map(c => if (c == "id") "id_b" else s"b_$c"): _*)
    val matches = (0 until numHashes)
      .map(i => when(col(s"a_sig_$i") === col(s"b_sig_$i"), 1).otherwise(0))
      .reduce(_ + _)
    pairs.join(a, "id_a").join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        (matches.cast("double") / numHashes).as("est_jaccard"))
  }

  /** Connected components over an undirected candidate-pair list (id_a, id_b):
    * every node's label is the smallest id reachable in its component, which
    * then serves as the surviving representative of the near-duplicate
    * cluster. Pair lists alone don't dedup a corpus — `a~b, b~c` must
    * collapse to ONE keeper — this closes that transitive gap.
    *
    * Two plans, one answer and one schema (Pregelix's point: pick the
    * physical plan by input size):
    *  - Driver: when `pairs` has at most [[DriverBound.DefaultMaxWorkingSet]]
    *    rows, one bounded collect (one job) feeds a union-find whose roots
    *    are each component's minimum id, and the labels come back as a local
    *    frame. It needs both id columns of one type (string, bigint or int)
    *    and no null id; otherwise, or past the bound, the Spark plan runs.
    *  - Spark: [[connectedComponentsStars]], O(log n) rounds whatever the
    *    components' diameter. It is the reference the driver plan is tested
    *    against.
    *
    * A null id joins no component and answers (null, null), at any diameter.
    *
    * Output: (id, rep_id) for every node appearing in `pairs`. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b"): DataFrame =
    connectedComponentsCapped(DriverBound.DefaultMaxWorkingSet, pairs, aCol, bCol)

  /** [[connectedComponents]] with the driver plan's edge cap as a parameter,
    * so a spec can send small input down the Spark plan (`cap` = 0). */
  private[graft] def connectedComponentsCapped(cap: Int, pairs: DataFrame,
      aCol: String, bCol: String): DataFrame = {
    val (ta, tb) = (pairs.schema(aCol), pairs.schema(bCol))
    val onDriver =
      if (ta.dataType != tb.dataType || !DriverIds.supports(ta.dataType)) None
      else DriverBound.collect(pairs.select(col(aCol), col(bCol)), cap)
        .flatMap(rows => componentsOnDriver(rows, ta.dataType))
    onDriver match {
      case Some(labels) =>
        // the stars schema: the rep coalesces onto the id, so both take the
        // id columns' nullability
        val nullable = ta.nullable || tb.nullable
        pairs.sparkSession.createDataFrame(java.util.Arrays.asList(labels: _*),
          StructType(Seq(ta.copy(name = "id", nullable = nullable),
            StructField("rep_id", ta.dataType, nullable))))
      case None => connectedComponentsStars(pairs, aCol, bCol)
    }
  }

  /** Union-find over collected (a, b) rows: roots are component minima
    * because ids are numbered in ascending order and a union always hangs
    * the larger root under the smaller. None when an id is null. */
  private def componentsOnDriver(edges: Array[Row], t: DataType): Option[Array[Row]] = {
    if (edges.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    val ids = edges.iterator.flatMap(r => Iterator(r.get(0), r.get(1))).toArray.distinct
      .sorted(DriverIds.ordering(t))
    val index = ids.iterator.zipWithIndex.toMap
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    edges.foreach { r =>
      val (ra, rb) = (find(index(r.get(0))), find(index(r.get(1))))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    Some(ids.indices.map(i => Row(ids(i), ids(find(i)))).toArray)
  }

  /** Connected components by alternating large-star/small-star (Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14): converges
    * in O(log n) rounds REGARDLESS of component diameter, where plain label
    * propagation needs O(diameter) passes, so deep duplicate chains cost no
    * more rounds than shallow clusters. The per-round work is two grouped
    * min-aggregates + joins over the (shrinking) edge list. This is the
    * Spark plan of [[connectedComponents]].
    *
    *  - large-star: every node u with m = min(Γ⁺(u)) re-points its LARGER
    *    neighbors at m — long tails collapse exponentially.
    *  - small-star: every node u re-points its smaller-or-equal neighborhood
    *    (and itself) at m — the edge list canonicalizes into stars.
    *
    * Both operations preserve connectivity, so the fixed point is one star
    * per component rooted at its minimum id. Same output contract as
    * [[connectedComponents]]: (id, rep_id) for every node in `pairs`. */
  def connectedComponentsStars(pairs: DataFrame, aCol: String = "id_a",
      bCol: String = "id_b", maxRounds: Int = 30): DataFrame = {
    val nodes = pairs.select(col(aCol).as("id"))
      .unionByName(pairs.select(col(bCol).as("id")))
      .distinct()
      .localCheckpoint(true)
    // canonical larger→smaller orientation; self-loops carry no connectivity
    var edges = pairs
      .select(col(aCol).as("u"), col(bCol).as("v"))
      .filter(col("u") =!= col("v"))
      .select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint(true)
    var round = 0
    var done = edges.isEmpty
    while (round < maxRounds && !done) {
      // large-star: group BOTH orientations by u, so Γ(u) is the full
      // neighborhood; emitted (v, m) edges have v > u ≥ m — already canonical.
      val both = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val lsMin = both.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = both.join(lsMin, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      // small-star: neighborhoods under the canonical orientation are exactly
      // the smaller-or-equal neighbors; re-point them (and u) at the min.
      val ssMin = ls.groupBy("u").agg(min("v").as("m"))
      val ss = ls.join(ssMin, "u")
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(ssMin.select(col("u"), col("m").as("v")))
        .filter(col("u") =!= col("v"))
        .distinct()
        .localCheckpoint(true)
      // exact fixed-point test: same cardinality + no new rows ⇒ equal sets
      done = ss.count() == edges.count() && ss.except(edges).isEmpty
      // ss is materialized and the fixed-point test is done: the round's
      // intermediate (ls) and the superseded edge snapshot are dead blocks —
      // free them, or a deep run pins 2 edge-list copies per round.
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(ls)
      val prev = edges
      edges = ss
      org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(prev)
      round += 1
    }
    // The proven worst case for alternating large-star/small-star is
    // O(log^2 n) rounds (O(log n) in practice and on all tested graphs), so
    // an adversarial very large graph can legitimately need more than the
    // default budget — raise maxRounds rather than assuming a bug.
    if (!done) throw new IllegalStateException(
      s"connectedComponentsStars did not reach a fixed point in $maxRounds " +
        "rounds; for very large or adversarial graphs call it with a larger " +
        "maxRounds (~log^2 n worst case)")
    nodes.join(edges.select(col("u").as("id"), col("v").as("rep")), Seq("id"), "left")
      .select(col("id"), coalesce(col("rep"), col("id")).as("rep_id"))
  }

  /** Id types the driver plans reproduce bit for bit: Spark's `min`, sort and
    * string-cast order for them, as a JVM ordering. Strings order by their
    * UTF-8 bytes (Spark's `UTF8String` order), which differs from
    * `String.compareTo` past the Basic Multilingual Plane. */
  private object DriverIds {
    import org.apache.spark.unsafe.types.UTF8String

    def supports(t: DataType): Boolean =
      t == StringType || t == LongType || t == IntegerType

    val utf8: Ordering[String] = (x: String, y: String) =>
      UTF8String.fromString(x).compareTo(UTF8String.fromString(y))

    def ordering(t: DataType): Ordering[Any] = t match {
      case StringType => utf8.on[Any](_.asInstanceOf[String])
      case LongType => Ordering.Long.on[Any](_.asInstanceOf[Long])
      case IntegerType => Ordering.Int.on[Any](_.asInstanceOf[Int])
    }
  }

  /** SimHash (nBits ≤ 32): per token take bits of int(md5[0:8],16); each bit
    * contributes ±1 (term frequency = weight, via one row per occurrence); the
    * document hash sets bit j where the weighted sum is positive. Shape: explode
    * tokens × bits → two hash aggregates (both with map-side combine).
    * Hamming-close simhashes ⇒ near-duplicate documents. */
  def simhash(df: DataFrame, idCol: String, textCol: String, nBits: Int = 16): DataFrame = {
    require(nBits <= 32)
    val tokHash = graft.functions.Hashing.md5Long(col("tok"))
    // bit j of h via exact double arithmetic (h < 2^32): floor(h / 2^j) % 2
    val bit = (col("h") / pow(lit(2.0), col("j"))).cast("long") % 2
    df.select(col(idCol).as("id"), explode(Norm.normTokens(col(textCol))).as("tok"))
      .select(col("id"), tokHash.as("h"))
      .select(col("id"), col("h"), explode(sequence(lit(0), lit(nBits - 1))).as("j"))
      .select(col("id"), col("j"), when(bit === 1, 1).otherwise(-1).as("contrib"))
      .groupBy("id", "j")
      .agg(sum(col("contrib")).as("s"))
      .groupBy("id")
      .agg(sum(when(col("s") > 0, pow(lit(2.0), col("j")).cast("long")).otherwise(0L))
        .as("simhash"))
  }

  /** Hamming distance between two simhash longs (for pairing Hamming-close docs). */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** n-gram Jaccard over word shingles, exact: distinct (doc, shingle) pairs,
    * self-join on shingle for intersection counts, per-doc set sizes for the union.
    * `maxShingleFreq` drops ubiquitous shingles (stop-shingles) — at corpus scale
    * they are pure join-skew with no discriminative value. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, minJaccard: Double = 0.0,
      maxShingleFreq: Long = 1000000L): DataFrame =
    // The distinct (doc, shingle) set feeds FOUR consumers (freq filter, both
    // self-join sides, set sizes). An EAGER localCheckpoint materializes it once;
    // a lazy persist would let the branches race and recompute the explode
    // concurrently within the first action.
    ngramJaccardPairsFromShingles(
      shingleRows(df, idCol, textCol, shingleSize).distinct().localCheckpoint(true),
      minJaccard, maxShingleFreq)

  /** [[ngramJaccardPairs]] over a pre-built (id, sh) frame — the
    * tokenize-once twin of [[minhashSignaturesFromShingles]]. CONTRACT: the
    * input must be DISTINCT per (id, sh) and already pinned (checkpointed/
    * persisted) — it is read by four consumers here, and an unpinned frame
    * would re-run the caller's explode per branch. */
  def ngramJaccardPairsFromShingles(docSh: DataFrame, minJaccard: Double,
      maxShingleFreq: Long): DataFrame = {
    val rare = docSh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleFreq).select("sh")
    val filtered = docSh.join(rare, Seq("sh"), "left_semi")
    val sizes = docSh.groupBy("id").agg(count(lit(1)).as("sz"))
    val inter = filtered.as("a").join(filtered.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
    inter
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .select(col("id_a"), col("id_b"),
        (col("inter").cast("double") /
          (col("sz_a") + col("sz_b") - col("inter"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Asymmetric CONTAINMENT near-dup pairs: score = |A ∩ B| / min(|A|, |B|)
    * over word-shingle sets — the subset-duplication signal symmetric
    * Jaccard structurally misses. A short document quoted whole inside a
    * long one (a tweet in an article, a licence header in every file, a
    * chunk re-packed into a larger context window) has containment ≈ 1 but
    * Jaccard ≈ |A|/|B| ≈ 0, so a Jaccard-thresholded dedup keeps feeding
    * the trainer the same text. Broder's containment formulation; the
    * denominator is the SMALLER set, i.e. the max of the two directional
    * containments.
    *
    * Same plan as [[ngramJaccardPairs]] (this is the d4 family's third
    * score, not a new join shape): distinct (doc, shingle) checkpointed
    * once, stop-shingles (df > `maxShingleFreq`) pruned BEFORE the
    * posting-list self-join — a shingle in df docs contributes df² join
    * rows — intersection counts by one hash aggregate, set sizes joined
    * back. Pairs sharing only pruned shingles never materialize.
    *
    * Output: (id_a, id_b, inter, containment) for pairs with containment ≥
    * `minContainment`, id_a < id_b. Sizes are of the FULL shingle sets
    * (pruning bounds the join, not the semantics of |A|): containment is
    * then exact for pairs whose shared shingles survive pruning and
    * conservatively low otherwise — the safe direction for a dedup gate. */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      shingleSize: Int = 3, minContainment: Double = 0.0,
      maxShingleFreq: Long = 1000000L): DataFrame =
    containmentPairsFromShingles(
      shingleRows(df, idCol, textCol, shingleSize)
        .distinct()
        .localCheckpoint(true), // freq filter + both join sides + sizes
      minContainment, maxShingleFreq)

  /** [[containmentPairs]] over a pre-built (id, sh) frame — the
    * tokenize-once twin of [[ngramJaccardPairsFromShingles]], same CONTRACT:
    * input DISTINCT per (id, sh) and already pinned. */
  def containmentPairsFromShingles(docSh: DataFrame, minContainment: Double,
      maxShingleFreq: Long): DataFrame = {
    val rare = docSh.groupBy("sh").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxShingleFreq).select("sh")
    val filtered = docSh.join(rare, Seq("sh"), "left_semi")
    val sizes = docSh.groupBy("id").agg(count(lit(1)).as("sz"))
    filtered.as("a").join(filtered.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
      .select(col("id_a"), col("id_b"), col("inter"),
        (col("inter").cast("double") / least(col("sz_a"), col("sz_b")))
          .as("containment"))
      .filter(col("containment") >= minContainment)
  }

  /** Sparse TF-IDF cosine similarity via INVERTED-INDEX join — the sparse
    * twin of [[embeddingNearDupPairs]]: documents are tf-idf vectors over
    * their (kept) tokens, and pair scores come from joining the posting
    * lists on the token key — sum(w_a·w_b) per pair — instead of any dense
    * n² scan. `maxDf` prunes stop tokens BEFORE the self-join (a token in
    * df documents contributes df² join rows and ~zero discrimination — the
    * same skew economics as Jaccard's stop-shingles); pruned tokens leave
    * the vector space entirely, norms included, so the score is the exact
    * cosine of the KEPT-token vectors. idf = ln(N/df) with N = the number
    * of documents with at least one token (empty-token docs have no vector
    * and can never pair; one bounded count), weight = tf · idf.
    *
    * Output: (id_a, id_b, cosine) for pairs with cosine ≥ `minSim`, id_a <
    * id_b, cosine rounded to 6 dp (the oracle's comparison precision).
    * Zero-norm documents (every kept token at df = N ⇒ idf 0) are excluded
    * BEFORE the threshold — 0/0 is NaN, and Spark's NaN-is-largest ordering
    * would otherwise let garbage pairs pass any minSim.
    *
    * Resource contract: the result derives from an eager localCheckpoint of
    * the (id, token, tf) frame (it feeds four consumers) that stays pinned
    * for the life of the result. Bench/driver harnesses sweep it per query;
    * a long-lived service should call
    * `Bridge.unpersistPlanCheckpoints(result)` after its last action. */
  def sparseCosinePairs(df: DataFrame, idCol: String, toksCol: String,
      minSim: Double, maxDf: Long): DataFrame = {
    // (id, token, tf) feeds four consumers (df filter, both join sides,
    // norms) — one eager materialization, same rationale as Jaccard's docSh
    val tf = df.select(col(idCol).as("id"), explode(col(toksCol)).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val n = tf.select("id").distinct().count()
    // tf is unique per (id, token) by construction — plain count IS the df
    // (a countDistinct here would pay the distinct-aggregate expansion)
    val kept = tf.groupBy("token").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
      .withColumn("idf", log(lit(n.toDouble) / col("df")))
      .select("token", "idf")
    val w = tf.join(kept, Seq("token"))
      .select(col("id"), col("token"), (col("tf") * col("idf")).as("w"))
    val norms = w.groupBy("id").agg(sqrt(sum(col("w") * col("w"))).as("nrm"))
    w.as("a").join(w.as("b"),
        col("a.token") === col("b.token") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.w") * col("b.w")).as("dot"))
      .join(norms.select(col("id").as("id_a"), col("nrm").as("nrm_a")), "id_a")
      .join(norms.select(col("id").as("id_b"), col("nrm").as("nrm_b")), "id_b")
      .filter(col("nrm_a") * col("nrm_b") > 0) // NaN guard, see scaladoc
      .select(col("id_a"), col("id_b"),
        round(col("dot") / (col("nrm_a") * col("nrm_b")), 6).as("cosine"))
      .filter(col("cosine") >= minSim)
  }

  /** Embedding near-duplicates: pairs with cosine ≥ τ. Blocked by sign-bit LSH of
    * the embedding (hyperplanes = deterministic hash directions): pairs must agree
    * on the `blockBits`-bit sketch, turning the n² scan into an equi-join per
    * bucket. Exact cosine recheck inside each bucket. blockBits=0 ⇒ exact n². */
  def embeddingNearDupPairs(df: DataFrame, idCol: String, vecCol: String,
      minCosine: Double, blockBits: Int = 0): DataFrame = {
    // norm precomputed per ROW: the pair scan pays one dot product per
    // pair instead of three — same VALUE as VectorFunctions.cosine
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      .withColumn("_nm", graft.functions.VectorFunctions.l2Norm(col("v")))
    val withBlock =
      if (blockBits == 0) base.withColumn("blk", lit(0L))
      else {
        // sign sketch: the ONE shared md5-plane definition (the DuckDB
        // oracle re-derives these planes literally) — per row, no exchange.
        // Empty input → skip blocking instead of crashing in head(); the
        // pair scan is empty either way.
        graft.operators.VectorSearch.headDim(df, vecCol) match {
          case Some(dim) => base.withColumn("blk",
            VectorFunctions.hyperplaneSketch(col("v"), dim, blockBits))
          case None => base.withColumn("blk", lit(0L))
        }
      }
    val cosH = VectorFunctions.cosinePre(col("a.v"), col("a._nm"),
      col("b.v"), col("b._nm"))
    // spread before the scan: with blockBits=0 the blk equality folds to a
    // constant and the pair join runs nested-loop at the STREAMED side's
    // partition count — a single-file corpus would scan on one task
    // (VectorSearch.spreadScan has the full contract; both aliases read the
    // same exchange via reuse)
    val spreadB = VectorSearch.spreadScan(withBlock)
    spreadB.as("a").join(spreadB.as("b"),
        col("a.blk") === col("b.blk") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        cosH.as("cosine"))
      .filter(col("cosine") >= minCosine)
  }

  /** SemDeDup (Abbas et al. 2023): semantic dedup = k-means clustering, then
    * near-duplicate pruning WITHIN each cluster only — the published recipe
    * for web-scale embedding dedup, where a corpus-wide pair search (even
    * LSH-blocked) is dominated by the clustering's linear passes. Reuses
    * [[IvfIndex.build]]'s deterministic seeding with no Lloyd pass (seeds =
    * the `nClusters` lowest ids, dot-product assignment, greatest-centroid
    * tiebreak), so cluster assignment is exactly the a2-oracle-checked
    * arithmetic. Within a cell, row a is dropped when some b with b.id <
    * a.id (string order — ids are strings per the index contract) has
    * cosine ≥ τ: the keep-min-id greedy, a total order, so the survivor set
    * is unique regardless of execution order.
    *
    * Two plans, one answer:
    *  - Driver: with at most [[DriverBound.DefaultMaxWorkingSet]] vector
    *    components (rows × dimension, found by one `head` job), one bounded
    *    collect feeds the same assignment and scan on the driver — seeds by
    *    UTF-8 id order, [[org.apache.spark.sql.graft.DotProduct]]'s
    *    sequential double sums, Spark's double ordering (−0.0 = 0.0, NaN
    *    largest) for the score max and the `>= τ` test — and the result is
    *    a local frame that pins nothing. It needs string, bigint or int ids,
    *    distinct and non-null, and non-null float or double vectors of one
    *    width with finite, non-null components; otherwise, or past the
    *    bound, the Spark plan runs.
    *  - Spark: build = one broadcast-assign pass (corpus never self-joins
    *    globally); the pair search is an equi-join ON THE CELL KEY —
    *    quadratic only within a cell, the same bounded-block economics as
    *    [[lshCandidatePairs]]. It is the reference the driver plan is tested
    *    against.
    *
    * Resource contract: the Spark plan's inverted file is checkpointed once
    * (the one corpus-scale materialization — it feeds both sides of the
    * self-join) and stays pinned for the life of the result; a long-lived
    * caller frees it with `Bridge.unpersistPlanCheckpoints(result)` after its
    * last action, which is a no-op on the driver plan's local frame.
    *
    * Output: (vec_id, cell, keep) — one row per distinct id, survivors
    * flagged true. Duplicate ids take the Spark plan, whose assignment
    * (`IvfIndex.assign`) groups by id and keeps one of the id's vectors. */
  def semDedup(df: DataFrame, idCol: String, vecCol: String,
      nClusters: Int, tau: Double): DataFrame =
    semDedupCapped(DriverBound.DefaultMaxWorkingSet, df, idCol, vecCol, nClusters, tau)

  /** [[semDedup]] with the driver plan's component cap as a parameter, so a
    * spec can send small input down the Spark plan (`cap` = 0). */
  private[graft] def semDedupCapped(cap: Int, df: DataFrame, idCol: String,
      vecCol: String, nClusters: Int, tau: Double): DataFrame = {
    // ids ride the index as strings (keep-min and tie-breaks are string-
    // ordered, the oracle contract); the OUTPUT restores the caller's dtype
    val idField = df.schema(idCol)
    val vecOk = df.schema(vecCol).dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    val onDriver =
      if (nClusters < 1 || !vecOk || !DriverIds.supports(idField.dataType)) None
      else {
        val dim = VectorSearch.headDim(df, vecCol).getOrElse(1).max(1)
        DriverBound.collect(df.select(col(idCol).cast("string"), col(vecCol)), cap / dim)
          .flatMap(rows => semDedupOnDriver(rows, nClusters, tau))
      }
    val marked = onDriver match {
      case Some(rows) =>
        df.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), StructType(Seq(
          StructField("id", StringType, idField.nullable),
          StructField("centroid_id", StringType), StructField("_drop", BooleanType))))
      case None =>
        val inv = IvfIndex.build(df, idCol, vecCol, nClusters)
          .assignments
          .withColumn("_nm", VectorFunctions.l2Norm(col("v"))) // hoisted norm
          .localCheckpoint(true) // id, centroid_id, v, _nm
        val cosH = VectorFunctions.cosinePre(col("a.v"), col("a._nm"),
          col("b.v"), col("b._nm"))
        val dropped = inv.as("a").join(inv.as("b"),
            col("a.centroid_id") === col("b.centroid_id") && col("b.id") < col("a.id"))
          .filter(cosH >= tau)
          .select(col("a.id").as("id")).distinct()
        inv.select(col("id"), col("centroid_id"))
          .join(dropped.withColumn("_drop", lit(true)), Seq("id"), "left")
    }
    // one output projection for both plans, so types and nullability agree
    marked.select(col("id").cast(idField.dataType).as("vec_id"),
      col("centroid_id").as("cell"), coalesce(!col("_drop"), lit(true)).as("keep"))
  }

  /** The driver plan of [[semDedup]] over collected (string id, vector) rows:
    * (id, centroid_id, dropped) per row, or None when the rows break the
    * driver plan's preconditions (see [[semDedup]]). */
  private def semDedupOnDriver(rows: Array[Row], nClusters: Int,
      tau: Double): Option[Array[Row]] = {
    import org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles
    import org.apache.spark.unsafe.types.UTF8String
    val n = rows.length
    val vs = new Array[Array[Double]](n)
    for (i <- 0 until n) {
      if (rows(i).isNullAt(0) || rows(i).isNullAt(1)) return None
      val v = rows(i).getSeq[Any](1).toArray.map {
        case x: Float => x.toDouble // widening is exact, as in DotProduct
        case x: Double => x
        case _ => Double.NaN // null component: rejected below
      }
      if (!v.forall(java.lang.Double.isFinite)) return None
      vs(i) = v
    }
    if (vs.exists(_.length != vs.headOption.fold(0)(_.length))) return None
    val ids = rows.map(_.getString(0))
    val keys = ids.map(UTF8String.fromString)
    val order = (0 until n).sortWith((a, b) => keys(a).compareTo(keys(b)) < 0).toArray
    if (order.indices.drop(1).exists(j => keys(order(j)) == keys(order(j - 1)))) return None

    def dot(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      s
    }
    // nearest seed: greatest (score, centroid id) — the struct max of IvfIndex.assign
    val seeds = order.take(nClusters)
    val cell = vs.map { v =>
      seeds.map(s => (dot(v, vs(s)), s)).reduce { (x, y) =>
        val c = compareDoubles(y._1, x._1)
        if (c > 0 || (c == 0 && keys(y._2).compareTo(keys(x._2)) > 0)) y else x
      }._2
    }
    val norm = vs.map(v => math.sqrt(dot(v, v)))
    // keep-min-id: a row drops when an earlier (smaller-id) row of its cell
    // reaches cosine >= tau; cosine as VectorFunctions.cosinePre computes it
    val dropped = new Array[Boolean](n)
    order.groupBy(cell(_)).values.foreach { members =>
      for (j <- members.indices; a = members(j)) {
        dropped(a) = (0 until j).exists { k =>
          val b = members(k)
          val cos = if (norm(a) == 0.0 || norm(b) == 0.0) 0.0
            else dot(vs(a), vs(b)) / (norm(a) * norm(b))
          compareDoubles(cos, tau) >= 0
        }
      }
    }
    Some(Array.tabulate(n)(i => Row(ids(i), ids(cell(i)), dropped(i))))
  }

  /** C4-style corpus-level line deduplication: any line whose NORMALIZED form
    * occurs more than `maxOccurrences` times across the whole corpus
    * (boilerplate: headers, footers, nav chrome) is dropped from every
    * document; documents are reassembled in original line order. Blank lines
    * are never counted as boilerplate.
    *
    * Shape at scale: one count aggregate on the line key (map-side combine),
    * an anti-join against the — small by construction — hot-line table, and
    * one reassembly aggregate on the document id. No document ever holds more
    * than its own lines in memory. Documents whose every line is boilerplate
    * disappear from the output (they carry no content).
    *
    * Output: (<idCol>, clean_text, n_lines_kept). */
  def dedupLines(df: DataFrame, idCol: String, textCol: String,
      maxOccurrences: Int = 1): DataFrame = {
    val lines = df
      .select(col(idCol).as("id"), posexplode(split(col(textCol), "\n")))
      .select(col("id"), col("pos"), col("col").as("line"),
        Norm.normPhrase(col("col")).as("key"))
    val hot = lines.filter(col("key") =!= "")
      .groupBy("key").agg(count(lit(1)).as("n"))
      .filter(col("n") > maxOccurrences)
      .select("key")
    lines.join(hot, Seq("key"), "left_anti")
      .groupBy("id")
      .agg(
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("line")))),
            _.getField("line")), "\n").as("clean_text"),
        count(lit(1)).as("n_lines_kept"))
      .withColumnRenamed("id", idCol)
  }

  /** Exact Jaccard pairs by PREFIX FILTERING (the SSJoin/PPJoin family —
    * Chaudhuri et al. ICDE'06, Xiao et al. WWW'08): the scale path for the
    * same answer [[ngramJaccardPairs]] computes by joining FULL posting
    * lists. Under one global token order (rarest first), two sets with
    * J ≥ t must share a token within their PREFIXES of length
    * |x| − ⌈t·|x|⌉ + 1 — because J ≥ t forces |x∩y| ≥ ⌈t·max(|x|,|y|)⌉,
    * and an intersection that large cannot hide entirely in both suffixes.
    * So the corpus-wide self-join touches only prefix tokens (by
    * construction the RAREST per document — small posting lists exactly
    * where the join fans out), and the exact intersection count runs only
    * over surviving candidate pairs: verify cost is candidates × document
    * size, never corpus². The frequent-shingle join skew that
    * [[ngramJaccardPairs]] must prune heuristically (maxShingleFreq) is
    * structurally absent here — hot tokens sort to the suffix and never
    * enter the join.
    *
    * CONTRACT: `docSh` must be DISTINCT (id, sh) and pinned (it feeds the
    * df/size aggregates, the prefix ranking, and both verify legs). The
    * per-document ranking window partitions by id — document-sized, never
    * global. Output: (id_a, id_b, jaccard) with id_a < id_b, EXACTLY the
    * [[ngramJaccardPairsFromShingles]] rows at the same threshold (the
    * d8/d9 two-algorithms-one-oracle pattern; equality is oracle-checked
    * at minJaccard = 0.5 and spec-checked against the full join). */
  def prefixFilteredJaccardPairs(docSh: DataFrame, minJaccard: Double): DataFrame =
    prefixFilteredJaccardPairs(docSh, minJaccard, bigBytes = 256L << 20)

  /** `bigBytes`: optimized-plan size of `docSh` above which the SCALE regime
    * engages — shingle strings dictionary-coded to longs and the verify legs
    * hinted SHUFFLE_HASH (see body comments). Package-visible so the spec can
    * force the regime on small data and pin output equality; production
    * callers use the default. */
  private[graft] def prefixFilteredJaccardPairs(docSh: DataFrame,
      minJaccard: Double, bigBytes: Long): DataFrame = {
    require(minJaccard > 0 && minJaccard <= 1,
      s"prefixFilteredJaccardPairs: threshold must be in (0, 1], got $minJaccard")
    import org.apache.spark.sql.expressions.Window
    // SCALE regime (r19, guide §2.3 "narrower types" + §8 "move light
    // proxies, not payloads"): past any broadcast regime the verify below
    // must SHUFFLE candidate rows carrying whole shingle arrays (the r18
    // 100× probe measured that stage spill-bound at 41×/decade as an SMJ;
    // as a shuffled-hash join it is bytes/CPU-bound — 7.4 GB compressed
    // array payload through one exchange). Dictionary-coding each distinct
    // shingle to a long (monotonically_increasing_id over the — anyway
    // needed — df aggregate, checkpointed once so every consumer reads ONE
    // assignment) shrinks every downstream pair-keyed structure: prefix
    // rows, the candidate join key, and the verify arrays carry 8-byte
    // codes instead of ~25-byte strings, and array_intersect hashes longs
    // instead of UTF8Strings. Injective relabeling ⇒ ranks (the window
    // still orders by (_df, sh) on the string), candidate pairs,
    // intersection counts, and the jaccard double are all unchanged —
    // Round19OpsSpec pins big-regime ≡ default-regime output on forced
    // small data. Below the threshold nothing changes (plan identical to
    // r18's, bench rows comparable; the threshold reads checkpointed-input
    // stats, no job).
    val big = docSh.queryExecution.optimizedPlan.stats.sizeInBytes > bigBytes
    val dfRaw = docSh.groupBy("sh").agg(count(lit(1)).as("_df"))
    // (sh, _df[, _code]) — checkpointed in the big regime so the df
    // aggregate runs once and the code assignment is pinned across its
    // three consumers (two prefix self-join branches + the verify sets)
    val df = if (big)
      dfRaw.withColumn("_code", monotonically_increasing_id()).localCheckpoint(true)
    else dfRaw
    // sizes stays the cheap map-side-combinable count aggregate: the prefix
    // self-join below duplicates its whole subtree into both join branches,
    // so anything feeding `prefix` is computed twice — a count agg twice is
    // noise, a collect_set twice would not be (measured: deriving sz from
    // the verify arrays planned FOUR ObjectHashAggregate copies).
    val sizes = docSh.groupBy("id").agg(count(lit(1)).as("sz"))
    val w = Window.partitionBy(col("id")).orderBy(col("_df"), col("sh"))
    // ⌈t·sz⌉ guarded against IEEE round-up: when t·sz is exactly integer k
    // but the product rounds to k+ε, a bare ceil gives k+1 and the prefix
    // comes out one token SHORT — qualifying pairs silently missed (e.g.
    // t=0.28, sz=25). Subtracting 1e-9 first can only LENGTHEN the prefix
    // (more candidates; the exact verify step restores precision), never
    // shorten it, so the ngramJaccardPairs-equality contract holds for
    // every (t, sz).
    val prefix = docSh.join(df, Seq("sh"))
      .withColumn("_rk", row_number().over(w))
      .join(sizes, Seq("id"))
      .filter(col("_rk") <=
        col("sz") - ceil(lit(minJaccard) * col("sz") - lit(1e-9)) + 1)
      .select(col("id"), (if (big) col("_code") else col("sh")).as("sh"),
        col("_rk"), col("sz"))
    // POSITIONAL filter (r18 — the ppjoin component the family is named
    // for, Xiao et al. WWW'08 §3): J(x,y) >= t needs overlap >=
    // ceil(t/(1+t)·(|x|+|y|)), and a collision at ranks (i, j) of the
    // shared canonical (_df, sh) order bounds the overlap by
    // 1 + min(|x|−i, |y|−j) — every OTHER common shingle sorts after the
    // first collision in BOTH documents (total order), so it lives in both
    // suffixes. Applied per collision ROW (no extra shuffle): the bound is
    // loosest at the pair's first collision, so the pair survives the
    // per-row filter iff it survives the first-collision test — candidates
    // that cannot reach t never enter the distinct or the verify arrays.
    // The epsilon guard errs on KEEP (a looser alpha admits extra
    // candidates; the exact verify below restores precision), the prefix
    // ceil convention. Output-invariant by the overlap bound; pinned by
    // the oracle row and EvalPropertySpec's randomized equality property.
    val cand = prefix.as("a").join(prefix.as("b"),
        col("a.sh") === col("b.sh") && col("a.id") < col("b.id") &&
        lit(1) + least(col("a.sz") - col("a._rk"), col("b.sz") - col("b._rk")) >=
          ceil(lit(minJaccard / (1.0 + minJaccard)) *
            (col("a.sz") + col("b.sz")) - lit(1e-9)))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
    // Exact verify via per-doc shingle ARRAYS (r18, guide §2.3/§2.4): the
    // previous row-level verify joined each candidate pair with doc a's
    // whole posting list (Σ_pairs sz_a intermediate rows) and then
    // hash-aggregated the (id_b, sh) matches — three exchanges plus a
    // pair×shingle row blowup, followed by two more size joins. Each doc's
    // set instead collapses to ONE array row (docSh is DISTINCT per
    // (id, sh) by this function's input contract, so collect_set loses
    // nothing and size(_shs) == the old per-id row count); the pair then
    // reads both arrays in two equi-joins and intersects them in one
    // codegen expression. _i, sizes, and the jaccard double are
    // bit-identical (same integers, same one double division — the oracle
    // twin is unchanged). Arrays are document-sized — the same per-task
    // bound the posting-list rows already had, now moved once per pair
    // side instead of once per (pair, shingle).
    val sets = (if (big)
        docSh.join(df.select(col("sh"), col("_code")), Seq("sh"))
          .select(col("id"), col("_code").as("sh"))
      else docSh)
      .groupBy("id").agg(collect_set(col("sh")).as("_shs"))
    // Bound the verify join's PER-TASK working set at scale (r19, guide §5 +
    // §3.1; the r18 100× probe measured this stage execution-spill-bound:
    // the second verify leg's sort moves every candidate row WITH doc a's
    // array attached — ~120 GB of transient sort payload in a 24 GiB JVM,
    // decade-2 slope 41×). In the big regime, hint both legs SHUFFLE_HASH
    // with the ARRAY side as build: the fat pair rows then STREAM through
    // both joins unsorted, and per-task memory is one hash-partition of doc
    // arrays (corpus/N — AQE sizes N from bytes). Below the threshold the
    // planner keeps its own choice (AQE broadcasts both legs at bench scale
    // — plan unchanged locally, so driver bench numbers stay comparable).
    def setsLeg(idAs: String, shsAs: String): DataFrame = {
      val leg = sets.select(col("id").as(idAs), col("_shs").as(shsAs))
      if (big) leg.hint("shuffle_hash") else leg
    }
    cand
      .join(setsLeg("id_a", "_sa"), Seq("id_a"))
      .join(setsLeg("id_b", "_sb"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("_sa"), col("_sb"))).cast("long").as("_i"),
        size(col("_sa")).cast("long").as("_sza"),
        size(col("_sb")).cast("long").as("_szb"))
      .select(col("id_a"), col("id_b"),
        (col("_i").cast("double") / (col("_sza") + col("_szb") - col("_i"))).as("jaccard"))
      .filter(col("jaccard") >= minJaccard)
  }

  /** Candidate-pair quality against a ground-truth pair set — the tuning
    * read that closes the dedup loop: every approximate family here (LSH
    * banding, SimHash, blocked cosine) trades recall for candidate count
    * through its knobs (bands × rows, Hamming radius, block bits), and the
    * ONLY way to set those knobs responsibly is to measure precision/recall
    * against exact pairs on a sample. This operator is that measurement:
    * run the approximate pairs and the exact pairs over the same (sampled)
    * slice, count the overlap, read off where the banding curve sits.
    *
    * Both inputs are (id_a, id_b) pair lists; rows are canonicalized
    * (least/greatest) and deduplicated here, so either orientation is
    * accepted. Shape: one equi-join on the canonical pair + three counts —
    * everything is pair-list-sized (the whole point: the evaluation costs
    * what the candidates cost, not corpus²). Ratios are NULL when their
    * denominator is empty (no candidates / no truth), never 0-by-fiat.
    *
    * Output: one row (n_cand, n_truth, tp, precision, recall, f1) — exact
    * BIGINT counts, DOUBLE ratios rounded 6. */
  def pairQuality(candidates: DataFrame, truth: DataFrame,
      aCol: String = "id_a", bCol: String = "id_b"): DataFrame = {
    def canon(df: DataFrame) = df.select(
        least(col(aCol), col(bCol)).as("u"),
        greatest(col(aCol), col(bCol)).as("v"))
      .distinct()
    val c = canon(candidates).localCheckpoint(true)
    val g = canon(truth).localCheckpoint(true)
    val nc = c.agg(count(lit(1)).as("n_cand"))
    val ng = g.agg(count(lit(1)).as("n_truth"))
    val tp = c.join(g, Seq("u", "v")).agg(count(lit(1)).as("tp"))
    val p = when(col("n_cand") > 0, col("tp").cast("double") / col("n_cand"))
    val r = when(col("n_truth") > 0, col("tp").cast("double") / col("n_truth"))
    nc.crossJoin(ng).crossJoin(tp)
      .select(col("n_cand"), col("n_truth"), col("tp"),
        round(p, 6).as("precision"), round(r, 6).as("recall"),
        round(when(p + r > 0, lit(2.0) * p * r / (p + r)), 6).as("f1"))
  }
}
