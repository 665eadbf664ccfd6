package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Corpus-assembly operators for training-data pipelines: global sequence
  * packing, deterministic stratified sampling, and vocabulary building.
  * Everything here is a pure function of row content (no rand(), no
  * nondeterministic ids), so results are reproducible across runs, engines,
  * and repartitionings — the property that makes a 100 TB data build auditable.
  */
object CorpusOps {

  /** Hash bucket in [0, 10000) from the id's md5 — same arithmetic as the SQL
    * oracle `CAST(('0x' || substr(md5(id),1,8)) AS BIGINT) % 10000`. */
  def bucket10k(id: Column): Column =
    graft.functions.Hashing.md5Long(id.cast("string")) % 10000

  /** Scale-correct global running sum of `_n` in `sortExprs` order.
    *
    * A naive cumulative sum is a WINDOW OVER (ORDER BY ...) — one partition,
    * one executor sorting the whole corpus. This is the two-phase prefix sum
    * instead: range-repartition by the sort keys, per-partition totals (tiny:
    * one row per partition) prefix-scanned on the driver, broadcast back as
    * per-partition base offsets, then a window partitioned BY partition —
    * every partition sorts and scans only itself, in parallel. Output is
    * invariant to the partition count; only the global sort order matters
    * (sort keys must be unique — callers append the id as a tie-break).
    *
    * `df` must carry a long `_n` column; adds `<outCol>` = sum of `_n` over
    * all STRICTLY PRECEDING rows (exclusive prefix sum). */
  private def withPrefixSum(df: DataFrame, sortExprs: Seq[Column],
      outCol: String): DataFrame = prefixSum(df, sortExprs, outCol)

  /** [[withPrefixSum]], package-visible: the scale-correct global running
    * sum of `_n` in `sortExprs` order (two-phase: per-partition window +
    * broadcast partition bases) — shared with [[DataValidation.ksDrift]]'s
    * CDF construction. */
  private[operators] def prefixSum(df: DataFrame, sortExprs: Seq[Column],
      outCol: String): DataFrame = {
    val spark = df.sparkSession
    // Materialized eagerly: _pid must be identical for the per-partition sums
    // and the main pass (two actions over the same frame).
    val ranged = df
      .repartitionByRange(sortExprs: _*)
      .withColumn("_pid", spark_partition_id())
      .localCheckpoint(true)
    // One row per non-empty partition — bounded by the partition count, never
    // by the data.
    val partSums = ranged.groupBy("_pid").agg(sum("_n").as("_s"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val bases = partSums.map { case (pid, s) => val b = (pid, acc); acc += s; b }
    val baseDf = spark.createDataFrame(bases.toIndexedSeq).toDF("_pid", "_base")
    val w = Window.partitionBy("_pid").orderBy(sortExprs: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    ranged
      .join(broadcast(baseDf), Seq("_pid"))
      .withColumn(outCol, col("_base") + coalesce(sum("_n").over(w), lit(0L)))
      .drop("_pid", "_base")
  }

  /** Length-bucketed inference batching: rank documents by token count
    * (descending, id tie-break) and cut the ranking into fixed-size
    * batches, so each batch holds near-equal-length documents — the
    * standard padding-waste optimization for batched model inference
    * (embedding/scoring/generation passes pad every sequence in a batch to
    * the batch maximum; random batching pays the corpus-max on most
    * batches, sorted batching pays ~the per-batch max). Emits the batch
    * roster plus the padding accounting a scheduler needs.
    *
    * Built on the two-phase prefix sum — the global length ranking never
    * funnels through one executor (a `row_number()` over the whole corpus
    * would), and the result is partition-count invariant.
    *
    * Output: one row per batch — (batch_id, n_docs, max_tokens, sum_tokens,
    * padding = n_docs·max − sum), batch_id 0-based in descending-length
    * order. */
  /** Distribution drift between two token streams (corpus snapshots, crawl
    * days, source mixes): Jensen–Shannon divergence of their unigram
    * distributions over the UNION vocabulary — the bounded (≤ ln 2),
    * symmetric, zero-safe drift score an ingest monitor alerts on before a
    * shifted crawl poisons training mixes. No smoothing needed: a term
    * absent from one side contributes only through the other's
    * p·ln(2p/(p+q)) term (0·ln0 = 0 by convention, handled exactly).
    *
    * Shape: two map-side-combined term counts, ONE full-outer equi-join on
    * the term key, a per-term contribution, one scalar sum — vocabulary-
    * sized work after the counts, nothing driver-side.
    *
    * Output: one row (n_a, n_b, vocab, js). */
  def unigramDrift(tokensA: DataFrame, tokensB: DataFrame,
      termCol: String = "term"): DataFrame = {
    def counts(t: DataFrame, c: String) =
      t.groupBy(col(termCol).as("term")).agg(count(lit(1)).as(c))
    // vocab-sized, read by the totals agg AND the contribution agg — an
    // un-pinned frame would re-run both corpus-scale counts per consumer
    val joined = counts(tokensA, "_ca")
      .join(counts(tokensB, "_cb"), Seq("term"), "full_outer")
      .select(coalesce(col("_ca"), lit(0L)).as("_ca"),
        coalesce(col("_cb"), lit(0L)).as("_cb"))
      .localCheckpoint(true)
    val tot = joined.agg(coalesce(sum(col("_ca")), lit(0L)).as("n_a"),
      coalesce(sum(col("_cb")), lit(0L)).as("n_b"),
      count(lit(1)).as("vocab"))
    val js = joined
      .crossJoin(broadcast(tot.select(col("n_a").cast("double").as("_na"),
        col("n_b").cast("double").as("_nb"))))
      .select((col("_ca").cast("double") / col("_na")).as("_p"),
        (col("_cb").cast("double") / col("_nb")).as("_q"))
      .select(
        when(col("_p") > 0,
          col("_p") * log(lit(2.0) * col("_p") / (col("_p") + col("_q"))))
          .otherwise(0.0).as("_ta"),
        when(col("_q") > 0,
          col("_q") * log(lit(2.0) * col("_q") / (col("_p") + col("_q"))))
          .otherwise(0.0).as("_tb"))
      .agg((lit(0.5) * sum(col("_ta")) + lit(0.5) * sum(col("_tb"))).as("js"))
    tot.crossJoin(broadcast(js))
  }

  /** Key-skew report: per-key counts summarized as the Gini coefficient plus
    * the `topK` heaviest keys with their share — the diagnostic a pipeline
    * runs BEFORE keying a 100 TB join/aggregate, to decide whether it needs
    * [[Salting]] or AQE skew handling (a hot key's share is the fraction of
    * the shuffle landing on one task; Gini near 0 = uniform, near 1 = a few
    * keys own the data).
    *
    * Gini over counts c_1 ≤ … ≤ c_n (ascending, key tie-break):
    * G = Σ(2i − n − 1)·c_i / (n·Σc). The global rank i comes from the
    * two-phase prefix sum — NEVER an unpartitioned window over the key set —
    * and the numerator/denominator stay exact BIGINTs until one final
    * division (int64-safe while n·total < 2^63; beyond that aggregate in
    * decimal). Heavy keys via the bounded [[VectorSearch.rankedTopK]] (counts
    * < 2^53 are exact doubles), ties to the smaller key.
    *
    * Output: `topK` rows (rank, key, cnt, share, n_keys, total, gini) — the
    * scalars repeat per row so one result set carries the whole report. */
  def skewReport(df: DataFrame, keyCol: String, topK: Int): DataFrame = {
    require(topK >= 1, "skewReport: topK must be >= 1")
    val counts = df.groupBy(col(keyCol).cast("string").as("key"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("_n", lit(1L))
    // _i0 = zero-based ascending rank; (2·_i0 + 1) = 2i − 1
    val ranked = withPrefixSum(counts, Seq(col("cnt").asc, col("key").asc), "_i0")
      .localCheckpoint(true) // read by the stats agg and the top-k agg
    val stats = ranked.agg(
      sum((lit(2L) * col("_i0") + lit(1L)) * col("cnt")).as("_a"),
      count(lit(1)).as("n_keys"), sum(col("cnt")).as("total"))
    VectorSearch.rankedTopK(ranked, Nil, col("key"), col("cnt").cast("double"), topK)
      .select(col("rank"), col("id").as("key"), col("score").cast("long").as("cnt"))
      .crossJoin(broadcast(stats))
      .select(col("rank"), col("key"), col("cnt"),
        (col("cnt").cast("double") / col("total").cast("double")).as("share"),
        col("n_keys"), col("total"),
        ((col("_a") - col("n_keys") * col("total")).cast("double") /
          (col("n_keys") * col("total")).cast("double")).as("gini"))
  }

  def lengthBatches(df: DataFrame, idCol: String, nTokensCol: String,
      batchSize: Int): DataFrame = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    val keyed = df.select(col(idCol), col(nTokensCol).cast("long").as("_nt"))
      .withColumn("_n", lit(1L))
    withPrefixSum(keyed, Seq(col("_nt").desc, col(idCol)), "_p")
      .withColumn("batch_id", (col("_p") / batchSize).cast("long"))
      .groupBy(col("batch_id"))
      .agg(count(lit(1)).as("n_docs"),
        max(col("_nt")).as("max_tokens"),
        sum(col("_nt")).as("sum_tokens"))
      .withColumn("padding", col("n_docs") * col("max_tokens") - col("sum_tokens"))
  }

  /** Curriculum phase assignment: rank rows by a difficulty score
    * (ascending, id tie-break) and cut the ranking into `nPhases`
    * contiguous phases — the easy→hard schedule of curriculum training
    * (Bengio et al. 2009), over whatever proxy the caller scores with
    * (log-perplexity, quality, length). Phase k of n covers ranks
    * [k·N/n, (k+1)·N/n): proportional, deterministic, partition-invariant.
    *
    * Callers ranking on a FLOAT score across engines must pre-round it
    * (make the sort key the rounded value): ranking on raw doubles lets
    * last-bit associativity noise flip neighbors across a phase boundary.
    * Built on the two-phase prefix sum; N arrives as a 1-row broadcast.
    *
    * Output: input columns + `phase` (0-based long). */
  def curriculumPhases(df: DataFrame, idCol: String, scoreCol: String,
      nPhases: Int): DataFrame = {
    require(nPhases >= 1, s"nPhases must be >= 1, got $nPhases")
    val keyed = df.select(col(idCol), col(scoreCol)).withColumn("_n", lit(1L))
    val ranked = withPrefixSum(keyed, Seq(col(scoreCol), col(idCol)), "_p")
    ranked
      .crossJoin(broadcast(df.agg(count(lit(1)).as("_tot")))) // 1-row scalar
      // integral `div`, not float division + floor: a double quotient can
      // round UP across a phase boundary once counts pass 2^50-ish
      .withColumn("phase", expr(s"(_p * $nPhases) div _tot"))
      .drop("_n", "_p", "_tot")
  }

  /** Assign every document a global token offset (corpus ordered by id) and
    * the fixed-length context windows it lands in — the "concat and split at
    * seqLen boundaries" step of LLM pre-training corpus assembly. Built on
    * [[withPrefixSum]] (never a single-partition global window).
    *
    * Output: (<idCol>, n_tokens, start_offset, seq_first, seq_last), where
    * seq_first/seq_last are the first/last seqLen-sized window the document's
    * tokens overlap (empty docs land on seq_first = seq_last at their offset). */
  def packSequences(df: DataFrame, idCol: String, nTokensCol: String,
      seqLen: Long): DataFrame = {
    require(seqLen > 0)
    withPrefixSum(
      df.select(col(idCol), col(nTokensCol).cast("long").as("_n")),
      Seq(col(idCol)), "start_offset")
      .select(col(idCol), col("_n").as("n_tokens"), col("start_offset"),
        expr(s"start_offset div $seqLen").as("seq_first"),
        greatest(expr(s"start_offset div $seqLen"),
          expr(s"(start_offset + n_tokens - 1) div $seqLen")).as("seq_last"))
  }

  /** Greedy quality-per-token corpus selection under a global token budget:
    * documents are taken in (score DESC, id ASC) order and a document is kept
    * iff ALL tokens of the docs sorted before it plus its own fit the budget —
    * i.e. keep where exclusive-prefix-sum + n ≤ budget. (A too-big document
    * mid-stream is skipped; later smaller docs whose prefix window still fits
    * remain — the deterministic, repartition-stable cut, expressible 1:1 as a
    * SQL window cumsum.) The prefix sum is the two-phase [[withPrefixSum]],
    * so the selection runs at corpus scale without a global sort bottleneck. */
  def selectByTokenBudget(df: DataFrame, idCol: String, scoreCol: String,
      nTokensCol: String, budget: Long): DataFrame =
    withPrefixSum(
      df.withColumn("_n", col(nTokensCol).cast("long")),
      Seq(col(scoreCol).desc, col(idCol).asc), "_before")
      .filter(col("_before") + col("_n") <= budget)
      .drop("_n", "_before")

  /** Per-document mean unigram negative log-likelihood under the corpus's own
    * unigram distribution — the classic cheap perplexity proxy for quality
    * filtering (high logppl ⇒ the document's tokens are rare corpus-wide).
    *
    * logppl(d) = -(1/|d|) Σ_t ln( count(t) / total_tokens ).
    *
    * Shape: one checkpointed explode (shared by the frequency aggregate and
    * the scoring join) + one token-frequency hash aggregate, the corpus total
    * folded in as a 1-row broadcast, one join on token, one per-doc
    * aggregate — all map-side combinable. Zero-token documents are absent
    * from the output (no distribution to score under). */
  def unigramLogPerplexity(df: DataFrame, idCol: String, toksCol: String): DataFrame = {
    // tok feeds the frequency aggregate AND the scoring join; Catalyst won't
    // share the subplan, so checkpoint the explode once instead of running the
    // upstream tokenization twice (plus once more for the folded total).
    val tok = df.select(col(idCol), explode(col(toksCol)).as("term"))
      .localCheckpoint(true)
    val freq = tok.groupBy("term").agg(count(lit(1)).cast("double").as("_c"))
    val total = freq.agg(sum("_c").as("_t"))
    tok.join(freq, "term")
      .crossJoin(broadcast(total))
      .groupBy(col(idCol))
      .agg(avg(-log(col("_c") / col("_t"))).as("logppl"))
  }

  /** Deterministic epoch shuffle: a reproducible pseudo-random GLOBAL
    * training order — `shuffle_pos` = rank in `md5(seed ‖ id)` order (id
    * tie-break for the uniqueness the prefix sum requires). Different seeds
    * give independent epoch orders; the same seed reproduces bit-for-bit.
    * Built on the two-phase prefix sum, so the global ranking never funnels
    * the corpus through a single-partition window — the rank assignment
    * scales like any range-partitioned sort. */
  def deterministicShuffle(df: DataFrame, idCol: String, seed: String): DataFrame = {
    val keyed = df
      .withColumn("_n", lit(1L))
      .withColumn("_h", md5(concat(lit(seed), col(idCol).cast("string"))))
    withPrefixSum(keyed, Seq(col("_h"), col(idCol).cast("string")), "_p")
      .withColumn("shuffle_pos", col("_p") + lit(1L))
      .drop("_n", "_h", "_p", "_pid", "_base")
  }

  /** Bigram-LM log-perplexity with add-k smoothing — the conditional
    * upgrade of [[unigramLogPerplexity]] (fluency, not just rarity: a doc of
    * common words in impossible ORDER scores high here and normal there):
    *
    *   logppl2(d) = -(1/|bigrams(d)|) Σ ln( (c(a,b)+k) / (c(a)+k·V) )
    *
    * with counts from the corpus itself and V = distinct-token count.
    * Shape: one bigram explode (checkpointed — feeds the count aggregate and
    * the scoring join) + token-count aggregate (checkpointed — feeds the
    * unigram join and the 1-row V broadcast) + two joins + one per-doc
    * aggregate, all map-side combinable. Docs with < 2 tokens are absent
    * (nothing to condition on). */
  def bigramLogPerplexity(df: DataFrame, idCol: String, toksCol: String,
      addK: Double = 1.0): DataFrame = {
    // the caller's (id, toks) frame is often a lazy tokenization — pin it
    // once so the bigram and unigram branches don't each re-scan the corpus
    val base = df.select(col(idCol), col(toksCol)).localCheckpoint(true)
    val bi = base.select(col(idCol),
        explode(graft.functions.Norm.shingles(col(toksCol), 2)).as("pair"))
      .withColumn("lft", substring_index(col("pair"), " ", 1))
      .localCheckpoint(true)
    val c1 = base.select(explode(col(toksCol)).as("lft"))
      .groupBy("lft").agg(count(lit(1)).cast("double").as("_c1"))
      .localCheckpoint(true)
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(base) // bi+c1 hold the data now
    val c2 = bi.groupBy("pair").agg(count(lit(1)).cast("double").as("_c2"))
    bi.join(c2, "pair")
      .join(c1, "lft")
      .crossJoin(broadcast(c1.agg(count(lit(1)).cast("double").as("_v"))))
      .groupBy(col(idCol))
      .agg(avg(-log((col("_c2") + lit(addK)) / (col("_c1") + lit(addK) * col("_v"))))
        .as("logppl2"))
  }

  /** PMI collocation mining — the phrase-discovery read over a corpus: which
    * adjacent token pairs co-occur far beyond what their marginal frequencies
    * predict (multiword entities, domain terms, tokenizer-merge candidates —
    * the classic Church & Hanks 1990 association measure). Pointwise mutual
    * information of adjacent pairs under the corpus's own unigram model:
    *
    *   pmi(a,b) = ln c(a,b) + ln N + ln N − ln N₂ − ln c(a) − ln c(b)
    *
    * kept in LOG SPACE term-by-term (fixed left-to-right fold, so both
    * engines combine identical IEEE doubles) rather than as the integer
    * ratio ln(c·N²/(N₂·c_a·c_b)) — the BIGINT product c·N² overflows past
    * ~3e9 total tokens, and the log form has no bound, which is the form a
    * 100 TB vocabulary pass needs. `minCount` floors the pair count BEFORE
    * the joins (rare-pair PMI is degenerate: a pair seen once between two
    * hapaxes maxes the score), so the joined frame is vocabulary-sized.
    *
    * Shape: one bigram + one unigram hash aggregate (both map-side
    * combinable), two 1-row total broadcasts, two vocabulary-sized
    * equi-joins on the filtered pair table, one bounded TakeOrdered — no
    * windows, no pair scans. Ranking is by the ROUNDED score with the pair
    * string as tie-break (the cross-engine float-ordering convention).
    * Output: (pair, pair_cnt, pmi), topK rows. */
  def collocations(df: DataFrame, toksCol: String, minCount: Long = 5L,
      topK: Int = 30): DataFrame = {
    require(minCount >= 1L, s"collocations: minCount must be >= 1, got $minCount")
    // pin tokenization once — the unigram and bigram branches both read it
    val base = df.select(col(toksCol).as("__t")).localCheckpoint(true)
    val uni = base.select(explode(col("__t")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c1"))
      .localCheckpoint(true)
    val bi = base.select(
        explode(graft.functions.Norm.shingles(col("__t"), 2)).as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("c2"))
      .localCheckpoint(true)
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(base)
    // totals over the UNFILTERED counts (the model's normalizers), 1 row each
    val n1 = broadcast(uni.agg(sum("c1").as("_n1")))
    val n2 = broadcast(bi.agg(sum("c2").as("_n2")))
    bi.filter(col("c2") >= minCount)
      .withColumn("__l", substring_index(col("pair"), " ", 1))
      .withColumn("__r", substring_index(col("pair"), " ", -1))
      .join(uni.select(col("tok").as("__l"), col("c1").as("_ca")), "__l")
      .join(uni.select(col("tok").as("__r"), col("c1").as("_cb")), "__r")
      .crossJoin(n1).crossJoin(n2)
      .select(col("pair"), col("c2").as("pair_cnt"),
        (log(col("c2")) + log(col("_n1")) + log(col("_n1"))
          - log(col("_n2")) - log(col("_ca")) - log(col("_cb"))).as("pmi"))
      .orderBy(round(col("pmi"), 6).desc, col("pair").asc)
      .limit(topK)
  }

  /** Stupid-Backoff trigram scoring (Brants et al. 2007 — the web-scale LM
    * that drops normalization because at corpus size the backoff weight
    * barely matters) of a held-out half under the train half's counts: the
    * CCNet-shaped quality gate, where documents are ranked by how fluent
    * they look to an n-gram model of a TRUSTED corpus. Per scored trigram:
    *
    *   S(w₃|w₁w₂) = c₃(w₁w₂w₃)/c₂(w₁w₂)        trigram seen in train
    *              = α · c₂(w₂w₃)/c₁(w₂)         else, if the bigram is seen
    *              = α² · (c₁(w₃)+1)/(N+V)       else (add-one unigram floor,
    *                                            defined even for unseen w₃)
    *
    * score(d) = mean ln S over d's trigram positions. Every division is
    * exact-BIGINT-over-exact-BIGINT (one IEEE op), α products fold
    * left-to-right, and the per-doc sum folds in POSITION order on both
    * engines (sorted-array fold here, ordered aggregate in the oracle) so
    * the float sum carries no partition-order noise.
    *
    * Shape: three train-corpus hash aggregates (uni/bi/trigram counts, all
    * map-side combinable) + a 1-row (N, V) broadcast; the scored side is one
    * trigram posexplode into five equi-joins on vocabulary-sized count
    * tables (broadcastable at test scale; hash joins on string keys at
    * corpus scale) and one per-doc aggregate. Docs with < 3 tokens are
    * absent (nothing to score). Output: (idCol, n_tri, sb). */
  def stupidBackoff(train: DataFrame, scored: DataFrame, idCol: String,
      toksCol: String, alpha: Double = 0.4): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, s"stupidBackoff: alpha in (0,1], got $alpha")
    val tb = train.select(col(toksCol).as("__t")).localCheckpoint(true)
    val c1 = tb.select(explode(col("__t")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1")).localCheckpoint(true)
    val c2 = tb.select(explode(graft.functions.Norm.shingles(col("__t"), 2)).as("b"))
      .groupBy("b").agg(count(lit(1)).as("c2")).localCheckpoint(true)
    val c3 = tb.select(explode(graft.functions.Norm.shingles(col("__t"), 3)).as("g"))
      .groupBy("g").agg(count(lit(1)).as("c3")).localCheckpoint(true)
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(tb)
    val nv = broadcast(c1.agg(sum("c1").as("_n"), count(lit(1)).as("_v")))
    val tri = scored
      .select(col(idCol), posexplode(graft.functions.Norm.shingles(col(toksCol), 3)))
      .withColumn("__p", split(col("col"), " "))
      .select(col(idCol), col("pos"), col("col").as("g"),
        concat_ws(" ", col("__p")(0), col("__p")(1)).as("__b12"),
        concat_ws(" ", col("__p")(1), col("__p")(2)).as("__b23"),
        col("__p")(1).as("__w2"), col("__p")(2).as("__w3"))
    val ls = when(col("c3").isNotNull, log(col("c3") / col("_c2a")))
      .when(col("_c2b").isNotNull, log(lit(alpha) * (col("_c2b") / col("_c1a"))))
      .otherwise(log(lit(alpha) * lit(alpha) *
        ((coalesce(col("_c1b"), lit(0L)) + lit(1L)) / (col("_n") + col("_v")))))
    tri
      .join(c3, Seq("g"), "left")
      .join(c2.select(col("b").as("__b12"), col("c2").as("_c2a")), Seq("__b12"), "left")
      .join(c2.select(col("b").as("__b23"), col("c2").as("_c2b")), Seq("__b23"), "left")
      .join(c1.select(col("w").as("__w2"), col("c1").as("_c1a")), Seq("__w2"), "left")
      .join(c1.select(col("w").as("__w3"), col("c1").as("_c1b")), Seq("__w3"), "left")
      .crossJoin(nv)
      .select(col(idCol), col("pos"), ls.as("__ls"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("__ls")))).as("__a"))
      .select(col(idCol),
        size(col("__a")).cast("long").as("n_tri"),
        (aggregate(transform(col("__a"), t => t.getField("__ls")),
          lit(0.0), (acc, x) => acc + x) / size(col("__a"))).as("sb"))
  }

  /** Interpolated Kneser–Ney bigram scoring of `scored` under `train`'s
    * counts — the principled-discounting twin of [[stupidBackoff]] and the
    * shape of the KenLM gate CCNet-style pipelines actually run: instead of
    * backing off to RAW unigram frequency (which loves "francisco" — a word
    * frequent only inside one bigram), the lower-order distribution is the
    * CONTINUATION count N1+(·,w) — in how many distinct contexts does w
    * start fresh? (Kneser & Ney 1995; Chen & Goodman 1999 eq. 18):
    *
    *   P(w|v) = max(c(vw) − D, 0)/c(v·) + D·N1+(v,·)/c(v·) · Pcont(w)
    *   Pcont(w) = (N1+(·,w) + 1) / (N1+(·,·) + V + 1)
    *
    * with the +1/+V+1 an add-one floor on the continuation distribution
    * (the x35 convention) so OOV words score instead of ln(0); an unseen
    * CONTEXT v backs off to Pcont(w) entirely. Every term is an integer
    * count, so both engines derive identical IEEE doubles; the per-doc mean
    * is folded in POSITION order (sorted-array fold / DuckDB ordered
    * aggregate) so the float sum carries no partition-order noise.
    *
    * Shape: one train bigram hash aggregate, two vocabulary-sized
    * re-aggregations of it (left-context totals + distinct-follower counts;
    * distinct-predecessor counts) and a 1-row (N1+(·,·), V) broadcast; the
    * scored side is one bigram posexplode into three equi-joins on
    * vocabulary-sized tables and one per-doc aggregate. Docs with < 2
    * tokens are absent (nothing to score). Output: (idCol, n_bi, kn). */
  def kneserNeyBigram(train: DataFrame, scored: DataFrame, idCol: String,
      toksCol: String, discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"kneserNeyBigram: discount in (0,1), got $discount")
    val tb = train.select(col(toksCol).as("__t")).localCheckpoint(true)
    val bi = tb.select(explode(graft.functions.Norm.shingles(col("__t"), 2)).as("b"))
      .withColumn("__p", split(col("b"), " "))
      .select(col("__p")(0).as("v"), col("__p")(1).as("w"))
      .groupBy("v", "w").agg(count(lit(1)).as("c2")).localCheckpoint(true)
    val vocab = tb.select(explode(col("__t")).as("w")).distinct()
      .agg(count(lit(1)).as("_v"))
    val scal = broadcast(bi.agg(count(lit(1)).as("_nb")).crossJoin(vocab)
      .localCheckpoint(true))
    org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(tb)
    val ctx = bi.groupBy("v").agg(sum("c2").as("cv"), count(lit(1)).as("n1f"))
    val prd = bi.groupBy("w").agg(count(lit(1)).as("n1p"))
    val big = scored
      .select(col(idCol), posexplode(graft.functions.Norm.shingles(col(toksCol), 2)))
      .withColumn("__p", split(col("col"), " "))
      .select(col(idCol), col("pos"), col("__p")(0).as("v"), col("__p")(1).as("w"))
    val pcont = (coalesce(col("n1p"), lit(0L)) + lit(1L)).cast("double") /
      (col("_nb") + col("_v") + lit(1L))
    val p = when(col("cv").isNotNull,
        greatest(coalesce(col("c2"), lit(0L)).cast("double") - lit(discount), lit(0.0)) / col("cv")
          + lit(discount) * col("n1f") / col("cv") * pcont)
      .otherwise(pcont)
    big
      .join(bi, Seq("v", "w"), "left")
      .join(ctx, Seq("v"), "left")
      .join(prd, Seq("w"), "left")
      .crossJoin(scal)
      .select(col(idCol), col("pos"), log(p).as("__ls"))
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("pos"), col("__ls")))).as("__a"))
      .select(col(idCol),
        size(col("__a")).cast("long").as("n_bi"),
        (aggregate(transform(col("__a"), t => t.getField("__ls")),
          lit(0.0), (acc, x) => acc + x) / size(col("__a"))).as("kn"))
  }

  /** Deterministic stratified downsampling that equalizes strata: every
    * stratum is sampled down to (about) the size of the smallest one, the
    * standard move for capping a dominant language/domain in a training mix.
    * The keep decision is `md5-bucket(id) < rate_bps` with
    * rate_bps = min_count * 10000 div count — integer arithmetic on a hash of
    * the id, so membership is a pure row property: stable under repartition,
    * re-runs, and incremental corpus growth, and expressible 1:1 in SQL.
    *
    * Strata counts are one aggregate (tiny output: one row per stratum),
    * broadcast back; the filter itself is per-row, shuffle-free. */
  def equalizeStrata(df: DataFrame, idCol: String, stratumCol: String): DataFrame = {
    val counts = df.groupBy(col(stratumCol)).agg(count(lit(1)).as("_cnt"))
    // scalar min via a 1-row broadcast cross join — no unpartitioned window
    val rates = counts
      .crossJoin(broadcast(counts.agg(min("_cnt").as("_min"))))
      .select(col(stratumCol), col("_cnt"),
        expr("(_min * 10000L) div _cnt").as("_bps"))
    df.join(broadcast(rates), Seq(stratumCol))
      .filter(bucket10k(col(idCol)) < col("_bps"))
      .drop("_cnt", "_bps")
  }

  /** Temperature-weighted source mixing — the multilingual/multi-source
    * training-mix move: source s keeps ~`budget · n_s^α / Σ_t n_t^α` docs, so
    * α = 1 preserves natural proportions, α → 0 equalizes sources, and the
    * usual α ∈ (0, 1) upsamples rare sources relative to their share. The
    * keep decision is the same deterministic id-hash bucket as
    * [[equalizeStrata]] — a pure row property, stable under repartition and
    * corpus growth. α = 0.5 routes through sqrt (IEEE-correctly-rounded in
    * every engine, unlike pow) so the rate arithmetic is reproducible
    * bit-for-bit cross-engine and the operator stays oracle-checkable.
    *
    * One tiny per-source aggregate broadcast back; the filter is per-row,
    * shuffle-free. Sources whose rate rounds to ≥ 1 keep everything. */
  def temperatureMix(df: DataFrame, idCol: String, sourceCol: String,
      alpha: Double, budget: Long): DataFrame = {
    require(alpha >= 0.0, s"alpha must be >= 0, got $alpha")
    require(budget >= 0L, s"budget must be >= 0, got $budget")
    def w(c: Column): Column =
      if (alpha == 0.5) sqrt(c) else pow(c, alpha)
    val counts = df.groupBy(col(sourceCol)).agg(count(lit(1)).as("_cnt"))
    val rates = counts
      .crossJoin(broadcast(counts.agg(sum(w(col("_cnt"))).as("_z"))))
      .select(col(sourceCol), col("_cnt"),
        least(lit(10000L),
          floor(lit(budget.toDouble) * w(col("_cnt")) / col("_z") / col("_cnt")
            * 10000.0).cast("long")).as("_bps"))
    df.join(broadcast(rates), Seq(sourceCol))
      .filter(bucket10k(col(idCol)) < col("_bps"))
      .drop("_cnt", "_bps")
  }

  /** RefinedWeb/C4-style hot n-gram scrub — sub-document boilerplate removal:
    * any word n-gram occurring more than `maxOccurrences` times corpus-wide
    * is boilerplate, and EVERY token covered by an occurrence of a hot n-gram
    * is dropped; documents are reassembled from the surviving tokens in
    * original order. The n-gram-level twin of [[Dedup.dedupLines]] for
    * boilerplate that doesn't respect line breaks.
    *
    * Shape at scale: one shingle explode + one count aggregate on the gram
    * key (map-side combine); the hot table is small by construction
    * (count > threshold) and joins back by semi-join; coverage expansion is
    * a bounded explode (n rows per hot occurrence) + distinct; the final
    * reassembly aggregates per doc. No window, no self-join of the corpus.
    * Documents whose every token is hot-covered vanish from the output.
    *
    * Output: (<idCol>, n_tokens_kept, clean_text). */
  def scrubHotNgrams(df: DataFrame, idCol: String, toksCol: String,
      n: Int, maxOccurrences: Long): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val base = df.select(col(idCol).as("id"), col(toksCol).as("toks"))
    // (id, start, gram) — feeds the hot aggregate AND the hot-start semi-join
    val grams = base
      .select(col("id"), posexplode(graft.functions.Norm.shingles(col("toks"), n)))
      .select(col("id"), col("pos").as("start"), col("col").as("gram"))
      .localCheckpoint(true)
    val hot = grams.groupBy("gram").agg(count(lit(1)).as("_c"))
      .filter(col("_c") > maxOccurrences).select("gram")
    val covered = grams.join(hot, Seq("gram"), "left_semi")
      .select(col("id"), explode(sequence(col("start"), col("start") + lit(n - 1))).as("pos"))
      .distinct()
    base.select(col("id"), posexplode(col("toks")))
      .select(col("id"), col("pos"), col("col").as("tok"))
      .join(covered, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("n_tokens_kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            _.getField("tok")), " ").as("clean_text"))
      .withColumnRenamed("id", idCol)
  }

  /** Exact-substring duplicate spans (after Lee et al. 2021, "Deduplicating
    * Training Data Makes Language Models Better": verbatim repeated passages
    * are what memorization-prone dedup targets, beyond whole-document dups):
    * every n-token window whose exact token sequence also occurs in ANOTHER
    * document. Cross-document only — a window repeated within one document
    * is not marked unless some other document also contains it.
    *
    * Scale shape: one posexplode + one (gram → distinct-doc-count ≥ 2) hash
    * aggregate + one equi-semi-join back on the gram key. Nothing is
    * collected and no broadcast is FORCED: the duplicated-gram set is
    * corpus-scale in the worst case, so the semi-join is left to the planner
    * (broadcast when it happens to be small, sort-merge otherwise). The
    * suffix-array construction of the paper is a single-machine algorithm;
    * the windowed-fingerprint form is its standard distributed surrogate
    * (fixed n instead of maximal-length matches).
    *
    * Output: (<idCol>, start, gram) per duplicated window, start 0-based.
    *
    * Resource contract (this and the other [[tokBase]]-backed span methods):
    * the result derives from an eager localCheckpoint of (id, toks) that
    * stays pinned for the life of the result. Bench/driver harnesses sweep it
    * per query; a long-lived service should call
    * `Bridge.unpersistPlanCheckpoints(result)` after its last action on it. */
  def duplicateSpans(df: DataFrame, idCol: String, toksCol: String, n: Int): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    duplicateWindows(tokBase(df, idCol, toksCol), n)
      .select(col("id").as(idCol), col("start"), col("gram"))
  }

  /** The ONE materialization the dup-span family pins: (id, toks), evaluated
    * once (the tokenize is typically the expensive expression callers pass
    * in). Everything downstream — grams, dup aggregate, join-back, span
    * merge, reassembly — derives LAZILY from these materialized rows, so the
    * per-call pinned footprint is the token arrays, not the ~n×-larger
    * exploded gram strings (r7 review: the gram checkpoint this replaces was
    * the Bm25/IvfIndex pinned-block leak's sibling, and it also re-ran the
    * caller's tokenize per consumer). The returned plans reference this
    * checkpoint, so it lives exactly as long as the caller's result does —
    * a bench/driver harness frees it per query. */
  private def tokBase(df: DataFrame, idCol: String, toksCol: String): DataFrame =
    df.select(col(idCol).as("id"), col(toksCol).as("toks")).localCheckpoint(true)

  /** (id, start, gram) duplicate windows, lazy over a [[tokBase]] frame. The
    * shingle explode runs once per consumer scan (twice total: the dup
    * aggregate and the join-back) — cheap array slicing over materialized
    * token arrays, traded for not pinning corpus × n gram strings. */
  private def duplicateWindows(base: DataFrame, n: Int): DataFrame = {
    val grams = base
      .select(col("id"), posexplode(graft.functions.Norm.shingles(col("toks"), n)))
      .select(col("id"), col("pos").as("start"), col("col").as("gram"))
    val dupGrams = grams.groupBy("gram")
      .agg(countDistinct(col("id")).as("_d"))
      .filter(col("_d") >= 2).select("gram")
    grams.join(dupGrams, Seq("gram"), "left_semi")
  }

  /** Maximal duplicate spans: [[duplicateSpans]] windows merged per document
    * into disjoint maximal token ranges — overlapping OR contiguous windows
    * (next start ≤ previous end + 1) coalesce, the gaps-and-islands shape.
    * The window functions are partitioned BY DOCUMENT, so the per-partition
    * sort is bounded by document length — parallel and safe at corpus scale
    * (contrast a global ORDER BY, which would serialize on one executor).
    *
    * Output: (<idCol>, span_start, span_end), inclusive 0-based positions.
    * Resource contract: pins a (id, toks) checkpoint — see [[duplicateSpans]]. */
  def duplicateSpanRanges(df: DataFrame, idCol: String, toksCol: String,
      n: Int): DataFrame =
    rangesFromWindows(duplicateWindows(tokBase(df, idCol, toksCol), n), n)
      .select(col("id").as(idCol), col("span_start"), col("span_end"))

  /** Gaps-and-islands merge of (id, start) windows into disjoint maximal
    * (id, span_start, span_end) ranges — internal twin shared by
    * [[duplicateSpanRanges]] and [[removeDuplicateSpans]] so both derive
    * from one [[tokBase]] checkpoint. */
  private def rangesFromWindows(wins: DataFrame, n: Int): DataFrame = {
    val byDoc = Window.partitionBy("id").orderBy("start")
    wins
      .select(col("id"), col("start"), (col("start") + lit(n - 1)).as("end"))
      .withColumn("_pmax", max(col("end"))
        .over(byDoc.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("_new",
        when(col("_pmax").isNull || col("start") > col("_pmax") + 1, 1)
          .otherwise(0))
      .withColumn("_island", sum(col("_new")).over(byDoc))
      .groupBy(col("id"), col("_island"))
      .agg(min("start").as("span_start"), max("end").as("span_end"))
      .select(col("id"), col("span_start"), col("span_end"))
  }

  /** The exact-substring dedup ACTION (Lee et al. 2021): cut every maximal
    * cross-document duplicate span from every document and reassemble the
    * survivors in order. Like the paper's public implementation, ALL
    * occurrences of a duplicated passage are removed (not all-but-one) —
    * within-document repeats survive untouched, because [[duplicateSpans]]
    * is cross-document by construction.
    *
    * Scale shape: the span table is output-sized, covered positions are a
    * bounded explode over disjoint spans (no distinct needed), the cut is a
    * left-anti equi-join on (doc, position), and reassembly is one per-doc
    * aggregate. Every document survives as a row — fully-duplicated ones
    * come back with n_tokens_kept = 0 and empty text, so the caller decides
    * whether to drop them (silent deletion is not an operator's call).
    *
    * Output: (<idCol>, n_tokens_kept, clean_text), one row per input doc.
    * Resource contract: pins a (id, toks) checkpoint — see [[duplicateSpans]]. */
  def removeDuplicateSpans(df: DataFrame, idCol: String, toksCol: String,
      n: Int): DataFrame = {
    // ONE checkpoint for the whole action: windows, span merge and the
    // token-level cut all read the same materialized (id, toks) rows.
    val base = tokBase(df, idCol, toksCol)
    val covered = rangesFromWindows(duplicateWindows(base, n), n)
      .select(col("id"),
        explode(sequence(col("span_start"), col("span_end"))).as("pos"))
    val kept = base.select(col("id"), posexplode(col("toks")))
      .select(col("id"), col("pos"), col("col").as("tok"))
      .join(covered, Seq("id", "pos"), "left_anti")
      .groupBy("id")
      .agg(count(lit(1)).as("_n"),
        array_join(
          transform(array_sort(collect_list(struct(col("pos"), col("tok")))),
            _.getField("tok")), " ").as("_txt"))
    base.select("id").distinct()
      .join(kept, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("_n"), lit(0L)).as("n_tokens_kept"),
        coalesce(col("_txt"), lit("")).as("clean_text"))
  }

  /** Bloom-prefiltered decontamination — the 100 TB shape of "drop every
    * corpus row whose key appears in the eval set": the eval side (small by
    * contract — benchmark/test keys) is folded into a Bloom filter of
    * `xxhash64(key)` longs, the corpus scan is pruned by the NATIVE
    * `BloomFilterMightContain` probe (a broadcastable few-MB sketch instead
    * of shuffling the corpus into a join), and only the bloom's candidate
    * rows — true hits plus ~fpp false positives — reach the exact anti-join
    * that confirms them. Because a Bloom filter has NO false negatives the
    * result is EXACT for any fpp: rows the sketch clears are provably clean,
    * rows it flags are re-checked. fpp only tunes how much of the corpus
    * pays the join; correctness is fpp-independent (property-tested at
    * fpp=0.5).
    *
    * Two corpus scans (clean-by-bloom ∪ confirmed-clean candidates) instead
    * of one corpus-wide shuffle: columnar scans with a pushed-down sketch
    * probe are the cheap side of that trade at scale. Driver holds one
    * sketch (~1.2 MB per million keys at 1% fpp) — the same contract as any
    * broadcast build side.
    *
    * Preconditions (r7 review): the two key columns must share ONE data type
    * — `xxhash64` hashes the same logical value differently per type, so a
    * type mismatch would produce bloom false NEGATIVES and contaminated rows
    * would skip the confirm join entirely (enforced below, since the
    * failure is silent). And both inputs must be DETERMINISTIC plans: the
    * corpus is scanned twice (clean-by-bloom ∪ confirmed candidates) and
    * the eval side twice (sketch build + confirm join) — a
    * nondeterministic input can duplicate or drop rows across the scans;
    * checkpoint such inputs first.
    *
    * Output: `corpus` rows whose `keyCol` is NOT in `evalKeys`. */
  def bloomDecontaminate(corpus: DataFrame, keyCol: String,
      evalKeys: DataFrame, evalKeyCol: String, fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val kt = corpus.schema(keyCol).dataType
    val et = evalKeys.schema(evalKeyCol).dataType
    require(kt == et,
      s"bloomDecontaminate: key types must match exactly (corpus.$keyCol: $kt " +
        s"vs eval.$evalKeyCol: $et) — xxhash64 is type-sensitive, and a " +
        "mismatch yields silent bloom false negatives")
    val hashes = evalKeys.select(xxhash64(col(evalKeyCol)).as("_h")).distinct()
      .localCheckpoint(true) // counted AND folded into the sketch: one eval
    val bytes =
      try {
        val n = math.max(1L, hashes.count())
        val bloom = hashes.stat.bloomFilter("_h", n, fpp)
        val bos = new java.io.ByteArrayOutputStream()
        bloom.writeTo(bos)
        bos.toByteArray
      } finally
        // the sketch literal carries everything downstream needs — freeing
        // the hash frame here keeps repeated calls pin-free (block hygiene)
        org.apache.spark.sql.graft.Bridge.unpersistCheckpoint(hashes)
    val might = org.apache.spark.sql.graft.Bridge
      .bloomMightContain(bytes, xxhash64(col(keyCol)))
    val candidates = corpus.filter(might)
      .join(evalKeys.select(col(evalKeyCol).as(keyCol)).distinct(),
        Seq(keyCol), "left_anti") // exact confirm, candidate-sized input
    corpus.filter(!might).unionByName(candidates.select(corpus.columns.map(col): _*))
  }

  /** Min-k% probability membership score (Shi et al. 2024, "Detecting
    * Pretraining Data from Large Language Models") — the probability-outlier
    * read of the decontamination family, catching what key/shingle overlap
    * cannot: a document whose EVERY token is suspiciously well-predicted by
    * a reference corpus's language model was plausibly in it (or in its
    * duplicates), even when no 8-gram matches. Score = mean log-probability
    * of the ⌈k·n⌉ LEAST-probable tokens (the rare-token tail is where
    * members and non-members separate; the common-token mass looks alike
    * for everyone). Higher (closer to 0) ⇒ more member-like. The paper
    * scores under the trained LLM; the engine-native stand-in is the add-1
    * unigram LM of the reference slice itself ([[unigramLogPerplexity]]'s
    * model with OOV smoothing) — same operator shape, model swappable.
    *
    * Scale shape: LM = one token-count aggregate over the reference (the
    * model is vocabulary-sized, never corpus-sized); scoring = one equi-join
    * of the docs' tokens against it (left: OOV tokens take the smoothed
    * floor 1/(T+V)) + one per-doc window rank + one hash aggregate. The
    * rank window partitions by document, so no global sort anywhere.
    * Boundary ties (equal log-probs at the k-cut) pick interchangeable
    * equal VALUES — the mean is tie-order-invariant by construction.
    * Token-less docs emit no row (nothing to score).
    *
    * Output: (idCol, n_tokens, mink_logprob — raw double, callers round). */
  def minKProbMembership(reference: DataFrame, refToksCol: String,
      docs: DataFrame, idCol: String, toksCol: String,
      kFrac: Double = 0.2): DataFrame = {
    require(kFrac > 0 && kFrac <= 1, s"kFrac must be in (0,1], got $kFrac")
    val freq = reference.select(explode(col(refToksCol)).as("term"))
      .groupBy("term").agg(count(lit(1)).cast("double").as("_c"))
      .localCheckpoint(true) // feeds the scalar aggregate AND the scoring join
    val stats = freq.agg(sum("_c").as("_t"), count(lit(1)).cast("double").as("_v"))
    val lp = docs.select(col(idCol), explode(col(toksCol)).as("term"))
      .join(freq, Seq("term"), "left")
      .crossJoin(broadcast(stats))
      .select(col(idCol),
        log((coalesce(col("_c"), lit(0.0)) + lit(1.0)) /
          (col("_t") + col("_v"))).as("_lp"))
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(col(idCol))
    val ranked = lp
      .withColumn("_rn", row_number().over(byDoc.orderBy(col("_lp").asc)))
      .withColumn("_n", count(lit(1)).over(byDoc))
    ranked.filter(col("_rn") <= ceil(col("_n") * lit(kFrac)))
      .groupBy(col(idCol))
      .agg(max(col("_n")).cast("long").as("n_tokens"),
        avg(col("_lp")).as("mink_logprob"))
  }

  /** Semantic (embedding-cosine) decontamination — the fuzzy twin of
    * [[bloomDecontaminate]]: where the bloom path removes corpus rows whose
    * KEY exactly matches a benchmark row, this removes rows whose EMBEDDING
    * is within cosine `tau` of any benchmark embedding — the defense against
    * paraphrased/reformatted eval leakage that exact n-gram matching misses
    * (the decontamination gap documented by Yang et al. 2023, "Rethinking
    * Benchmark and Contamination").
    *
    * Scale shape: the benchmark side is collected to the driver and inlined
    * as ONE array-of-arrays literal (driver-bounded by construction — eval
    * sets are thousands of rows where the corpus is billions; `maxTestVecs`
    * fails fast on misuse), so the corpus pass is a single narrow projection:
    * no join, no shuffle, no broadcast exchange — each row folds over the
    * literal with codegen'd higher-order functions. This is the same
    * "few-MB build side vs corpus-wide shuffle" trade as the bloom sketch.
    *
    * Arithmetic contract: cosine = dot/(‖a‖·‖b‖) with every term computed
    * engine-side in double precision and left-to-right sums (DotProduct ≡
    * DuckDB's list_dot_product), so an oracle reproduces the doubles
    * bit-for-bit; max over identical doubles is order-independent. Zero
    * vectors on either side score 0 (never NaN). The corpus norm is
    * projected as a named column BEFORE the fold — inlined, Catalyst's
    * lambda rewrite would re-evaluate it once per benchmark vector.
    *
    * Output: one row per corpus row — (<idCol>, max_cos, keep), keep =
    * max_cos < tau. Callers filter on `keep`; emitting the flag rather than
    * dropping makes the removal auditable (what was cut, and how close). */
  def semanticDecontaminate(corpus: DataFrame, idCol: String, vecCol: String,
      testVecs: DataFrame, testVecCol: String, tau: Double,
      maxTestVecs: Int = 1000000): DataFrame = {
    import org.apache.spark.sql.Row
    val rows = testVecs.select(col(testVecCol)).collect()
    require(rows.length <= maxTestVecs,
      s"semanticDecontaminate: ${rows.length} benchmark vectors exceed the " +
        s"driver-literal bound $maxTestVecs — this path is for eval-sized " +
        "build sides; shard the benchmark or raise the bound explicitly")
    require(rows.nonEmpty, "semanticDecontaminate: empty benchmark set")
    // float -> double widening is exact, so the literal carries the same
    // values DuckDB's embedding::DOUBLE[] produces
    val lits: Seq[Seq[Double]] = rows.toSeq.map { r =>
      r.getSeq[Any](0).map {
        case f: Float  => f.toDouble
        case d: Double => d
        case x         => x.toString.toDouble
      }
    }
    val tlit = typedlit(lits)
    val v = col(vecCol)
    val withNorm = corpus.withColumn("_nv",
      sqrt(graft.functions.VectorFunctions.dot(v, v)))
    val cos = (tv: Column) => {
      val denom = col("_nv") * sqrt(graft.functions.VectorFunctions.dot(tv, tv))
      when(denom === 0.0, lit(0.0))
        .otherwise(graft.functions.VectorFunctions.dot(v, tv) / denom)
    }
    withNorm
      .withColumn("max_cos",
        aggregate(tlit, lit(-1.0d), (acc, tv) => greatest(acc, cos(tv))))
      .select(col(idCol), col("max_cos"), (col("max_cos") < tau).as("keep"))
  }

  /** Model-based quality scoring — the linear text-classifier filter of
    * C4/fastText-style curation: score(doc) = bias + Σ_t w(t) · tf(t, doc)
    * over a (token, weight) model table. The corpus side aggregates term
    * frequencies per (doc, token) with map-side combine BEFORE the model
    * join, so the shuffle carries distinct-tokens-per-doc rows, not raw
    * tokens; the model side is vocabulary-sized and broadcasts when small
    * (planner's call). Docs with no weighted token still score `bias` — a
    * filter must see every document to reject it explicitly.
    *
    * Output: (<idCol>, score), one row per input doc. */
  def scoreLinear(df: DataFrame, idCol: String, toksCol: String,
      model: DataFrame, tokenCol: String, weightCol: String,
      bias: Double = 0.0): DataFrame = {
    val tf = df.select(col(idCol).as("id"), explode(col(toksCol)).as("token"))
      .groupBy("id", "token").agg(count(lit(1)).as("_tf"))
      // duplicate model rows for a token SUM (linear-model semantics:
      // concatenated weight tables add) — folded BEFORE the join so a
      // duplicated token can never silently fan out the tf rows (r7 review)
      .join(model.select(col(tokenCol).as("token"),
          col(weightCol).cast("double").as("_w"))
        .groupBy("token").agg(sum("_w").as("_w")), Seq("token"))
      .groupBy("id").agg(sum(col("_w") * col("_tf")).as("_s"))
    df.select(col(idCol).as("id")).distinct()
      .join(tf, Seq("id"), "left")
      .select(col("id").as(idCol),
        (coalesce(col("_s"), lit(0.0)) + lit(bias)).as("score"))
  }

  /** DSIR-style importance weights (Xie et al. 2023, "Data Selection for
    * Language Models via Importance Resampling"): fit two hashed n-gram
    * unigram LMs — one on a TARGET-domain sample, one on the raw pool — and
    * weight every document by its log-likelihood ratio,
    * `w(doc) = Σ_b count_doc(b) · (ln p̂_target(b) − ln p̂_raw(b))`,
    * features = unigrams + bigrams hashed into `buckets` cells, both LMs
    * add-one smoothed. High-weight docs "look like" the target domain; the
    * weights feed importance RESAMPLING (e.g. [[weightedSample]]) to tilt a
    * web-scale pool toward a quality domain without training a classifier.
    *
    * Scale shape: two passes over the tokenized corpus, zero pinned state —
    * pass 1 folds features into a `buckets`-sized count table (map-side
    * combined conditional sums), pass 2 re-folds per (doc, bucket) and joins
    * the broadcast bucket model. The model IS the sketch: 2·buckets longs,
    * independent of corpus size — the same few-KB-model-vs-corpus-shuffle
    * economics as [[bloomDecontaminate]]. Hash = md5-prefix arithmetic,
    * reproducible in any engine (the e7 Rademacher recipe).
    *
    * Output: (<idCol>, weight), one row per doc — featureless docs weigh 0,
    * resampling must see them to drop them explicitly. */
  def dsirWeights(df: DataFrame, idCol: String, toksCol: String,
      isTargetCol: String, buckets: Int = 256): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val feats = df.select(col(idCol).as("id"), col(isTargetCol).as("_t"),
        explode(concat(col(toksCol), graft.functions.Norm.shingles(col(toksCol), 2))).as("_f"))
      .select(col("id"), col("_t"),
        (graft.functions.Hashing.md5Long(col("_f")) % buckets).as("_b"))
    val global = feats.groupBy(col("_b"))
      .agg(sum(when(col("_t"), lit(1L)).otherwise(lit(0L))).as("_nt"),
        sum(when(!col("_t"), lit(1L)).otherwise(lit(0L))).as("_nr"))
    val totals = global.agg(sum(col("_nt")).as("_T"), sum(col("_nr")).as("_R"))
    val lam = global.crossJoin(broadcast(totals))
      .select(col("_b"),
        (log((col("_nt") + 1).cast("double") / (col("_T") + buckets).cast("double"))
          - log((col("_nr") + 1).cast("double") / (col("_R") + buckets).cast("double"))).as("_lam"))
    val scored = feats.groupBy(col("id"), col("_b")).agg(count(lit(1)).as("_c"))
      .join(broadcast(lam), Seq("_b"))
      .groupBy(col("id")).agg(sum(col("_c") * col("_lam")).as("_s"))
    df.select(col(idCol).as("id")).distinct()
      .join(scored, Seq("id"), "left")
      .select(col("id").as(idCol), coalesce(col("_s"), lit(0.0)).as("weight"))
  }

  /** Gumbel-top-k resampling — the ACTION behind [[dsirWeights]]: drawing k
    * docs without replacement with probability ∝ exp(logWeight) is exactly
    * taking the k largest `logWeight + Gumbel(0,1)` keys (Gumbel-max trick).
    * The Gumbel noise is derandomized the e7 way — `u = (md5-prefix + ½)/2²⁴`,
    * `g = −ln(−ln u)` — so the sample is a pure function of the id set and
    * reproducible across engines, runs, and repartitionings (a resample you
    * cannot replay is a training set you cannot audit).
    *
    * Scale shape: per-row arithmetic + one bounded top-k
    * (TakeOrdered: per-partition heaps, k-sized driver merge — never a
    * global sort). Ties broken by id. */
  def gumbelTopK(df: DataFrame, idCol: String, logWeightCol: String, k: Int,
      seed: String = "gum"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val u = (conv(substring(md5(concat(lit(seed), col(idCol).cast("string"))), 1, 6), 16, 10)
      .cast("double") + 0.5) / 16777216.0
    df.select(col(idCol), (col(logWeightCol) + -log(-log(u))).as("gkey"))
      .orderBy(col("gkey").desc, col(idCol).asc)
      .limit(k)
  }

  /** Top-k vocabulary: token frequencies over the corpus, floor-filtered at
    * `minCount`, ranked by (count desc, token) — the tie order pins the cut
    * boundary deterministically. One explode + one hash aggregate with
    * map-side combine; the top-k cut is a bounded sort. */
  def vocabulary(df: DataFrame, toksCol: String, minCount: Long, topK: Int): DataFrame =
    df.select(explode(col(toksCol)).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("token"))
      .limit(topK)

  /** Deterministic popularity-weighted negative sampling — the word2vec /
    * contrastive-training shape: for every anchor row, `k` negatives drawn
    * from `items` with probability ∝ `weight` (callers pass count^0.75 for
    * the classic distribution). Sampling WITH replacement, deterministic:
    * draw i of anchor a lands at u = md5(a, i) mod totalWeight, and the
    * negative is the item whose cumulative-weight interval contains u.
    *
    * Built by composing two scale-audited primitives: the item table gets
    * cumulative-weight intervals from the two-phase prefix sum (never a
    * single-partition window), and the draw→item lookup is the binned
    * [[RangeJoin.pointInInterval]] — an equi-join on bins, not a
    * BroadcastNestedLoopJoin, so the item table can be vocabulary-sized.
    * Output: one row per (anchor, draw) with the item's columns attached.
    * Anchors may collide with their own item — callers filter
    * `negative <> anchor_item` when that matters (kept out of the operator:
    * the rejection rule is task-specific). */
  def negativeSample(anchors: DataFrame, anchorCol: String,
      items: DataFrame, itemCol: String, weightCol: String,
      k: Int): DataFrame = {
    require(k > 0)
    val ranges = withPrefixSum(
      items.select(col(itemCol).as("negative"),
        col(weightCol).cast("long").as("_n")),
      Seq(col("negative")), "_lo")
      .select(col("negative"), col("_lo"), (col("_lo") + col("_n")).as("_hi"))
      .localCheckpoint(true) // reused: total lookup + the range join
    val total = ranges.agg(max("_hi")).collect()(0).getLong(0)
    val draws = anchors
      .select(col(anchorCol).as("anchor"))
      .withColumn("draw", explode(sequence(lit(0), lit(k - 1))))
      .withColumn("_u", pmod(
        conv(substring(md5(concat_ws("-", col("anchor"), col("draw"))), 1, 15), 16, 10)
          .cast("long"),
        lit(total)))
    // bin width ~ mean item weight: explode fan-out stays ~2 bins per item
    val binWidth = math.max(1L, total / math.max(1L, ranges.count()))
    RangeJoin.pointInInterval(draws, ranges, "_u", "_lo", "_hi", binWidth)
      .select(col("anchor"), col("draw"), col("negative"))
  }

  /** Efraimidis–Spirakis (A-ES) weighted-sample key: rows ranked by
    * `ln(u)/w` DESC are a weighted sample without replacement, u a uniform
    * in (0,1) derived from the id's md5 — fully deterministic, so the sample
    * is reproducible and repartition-stable like everything else here. The
    * +0.5 offset keeps u strictly inside (0,1): ln never sees 0. */
  def weightedSampleKey(id: Column, weight: Column): Column = {
    val u = (conv(substring(md5(id.cast("string")), 1, 8), 16, 10).cast("double")
      + 0.5) / 4294967296.0
    log(u) / weight
  }

  /** Deterministic weighted sample WITHOUT replacement of size `k`:
    * inclusion probability proportional to `weightCol` (must be > 0). One
    * per-row key + a bounded TakeOrderedAndProject — no global sort, no
    * shuffle beyond the final top-k. */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String, k: Int): DataFrame =
    df.withColumn("_wkey", weightedSampleKey(col(idCol), col(weightCol)))
      .orderBy(col("_wkey").desc, col(idCol).asc)
      .limit(k)
      .drop("_wkey")

  /** Count-Min frequency estimates (Cormode–Muthukrishnan 2005) for a probe
    * set — the third leg of the deterministic sketch suite (Bloom =
    * membership, HLL = cardinality, CMS = frequency). depth×width counters
    * (default 4×128 = one cache line per row) built with ONE map-side-
    * combined aggregation over a ×depth explode; estimates are min over the
    * probe's depth cells — one-sided (never under-counts), cells are
    * sum-mergeable across partitions/shards/days. At 100 TB the sketch is
    * bytes where the exact twin's (value → count) table is the full value
    * space; the estimate join touches depth×|probes| rows against a
    * broadcastable cell table. Deterministic md5 bucket hashes, so a SQL
    * oracle rebuilds the identical sketch. Output: (<probeCol>, cms_est). */
  /** AMS F₂ / self-join-size sketch (Alon, Matias & Szegedy 1996) — the
    * JOIN-SIZE estimator that complements [[skewReport]]'s per-key view:
    * Σ_k f_k² IS the self-join row count on the key, the number the
    * salting/broadcast decision actually needs, and the AMS estimate gets
    * it from s counter rows instead of a second corpus pass at planning
    * time. Estimator: Z_i = Σ_k f_k·h_i(k) with 4-wise-ish ±1 signs (the
    * house md5 arithmetic, so the SQL twin replays every sign), estimate =
    * mean(Z_i²); E[Z²] = F₂ exactly, Var ≤ 2F₂²/s.
    *
    * Everything stays INTEGER: signs are ±1, Z_i is a long, Z² sums in
    * DECIMAL(38,0), the estimate is an integer DIV, and the published
    * relative error is a floored ppm — order-free, engine-exact. The exact
    * F₂ is computed beside the estimate from the same counts frame (one
    * vocabulary-sized aggregate — this operator's honest self-check; a
    * planning-time caller at 100 TB reads only `est_f2`).
    *
    * Output: ONE row (n_sketches, n_keys, exact_f2, est_f2, err_ppm). */
  def amsSelfJoinSize(df: DataFrame, keyCol: String,
      nSketches: Int = 16, seed: String = "ams"): DataFrame = {
    require(nSketches >= 1, s"nSketches must be >= 1, got $nSketches")
    val counts = df.groupBy(col(keyCol).cast("string").as("_k"))
      .agg(count(lit(1)).as("_f"))
      .localCheckpoint(true) // feeds the exact F2 aggregate AND the sketch explode
    val exact = counts.agg(
      sum(col("_f").cast("decimal(38,0)") * col("_f")).as("_exact"),
      count(lit(1)).as("_keys"))
    val est = amsZFromCounts(counts, nSketches, seed)
      .agg(sum(col("z").cast("decimal(38,0)") * col("z")).as("_sumsq"))
    // Integer-only reporting after the decimal sums: decimal DIVISION
    // semantics differ between engines (scale/rounding of DECIMAL DIV vs
    // DuckDB's //), so both the estimate mean and the error ppm divide in
    // BIGINT, with saturation guards in place of silent overflow (sumsq
    // saturates at Long.Max — reachable only past ~7.6e8 rows per key
    // stream; the error numerator caps |diff| at 9e12, where err_ppm is
    // already astronomically past "wrong").
    est.crossJoin(broadcast(exact)).select(
      lit(nSketches).as("n_sketches"),
      col("_keys").as("n_keys"),
      col("_exact").cast("long").as("exact_f2"),
      expr(s"CAST(least(_sumsq, CAST(${Long.MaxValue} AS DECIMAL(38,0))) " +
        s"AS BIGINT) DIV $nSketches").as("est_f2"),
      expr(s"least(abs(CAST(least(_sumsq, CAST(${Long.MaxValue} AS " +
        s"DECIMAL(38,0))) AS BIGINT) DIV $nSketches - CAST(_exact AS BIGINT)), " +
        s"9000000000000L) * 1000000L DIV greatest(CAST(_exact AS BIGINT), 1)")
        .as("err_ppm"))
  }

  /** The AMS sketch itself: per-sketch signed counter rows (i, z) with
    * z_i = Σ_k f_k·sign_i(k) over the given (_k, _f) counts frame. Signs are
    * per-(sketch, key) CONSTANTS (house md5), so z is ADDITIVE across
    * disjoint row batches — the property that makes the sketch
    * streaming-maintainable ([[graft.streaming.StreamingOps.amsMaintain]]:
    * per-batch z rows sum into a state table, bit-equal to one shot). */
  private[graft] def amsZFromCounts(counts: DataFrame, nSketches: Int,
      seed: String = "ams"): DataFrame =
    counts
      .select(col("_k"), col("_f"),
        explode(sequence(lit(0), lit(nSketches - 1))).as("i"))
      .withColumn("_sign",
        graft.functions.Hashing.md5Long(
          concat_ws("|", lit(seed), col("i"), col("_k"))) % 2 * 2 - 1)
      .groupBy("i").agg(sum(col("_f") * col("_sign")).as("z"))

  /** [[amsZFromCounts]] straight from a row frame (the per-batch entry). */
  private[graft] def amsZ(df: DataFrame, keyCol: String,
      nSketches: Int): DataFrame =
    amsZFromCounts(
      df.groupBy(col(keyCol).cast("string").as("_k"))
        .agg(count(lit(1)).as("_f")), nSketches)

  /** F₂ estimate from a SAVED (i, z) sketch state — the read side of
    * [[graft.streaming.StreamingOps.amsMaintain]], same saturated BIGINT
    * arithmetic as [[amsSelfJoinSize]]'s est_f2. ONE row (n_sketches,
    * est_f2). */
  def amsF2FromState(state: DataFrame, nSketches: Int): DataFrame =
    state.agg(sum(col("z").cast("decimal(38,0)") * col("z")).as("_sumsq"))
      .select(lit(nSketches).as("n_sketches"),
        expr(s"CAST(least(_sumsq, CAST(${Long.MaxValue} AS DECIMAL(38,0))) " +
          s"AS BIGINT) DIV $nSketches").as("est_f2"))

  private def cmHashes(c: Column, depth: Int, width: Int): Column =
    array((0 until depth).map(r => struct(
      lit(r).as("_r"),
      pmod(conv(substring(md5(concat(lit(s"cm$r-"), c)), 1, 8), 16, 10)
        .cast("long"), lit(width.toLong)).as("_b"))): _*)

  /** The Count-Min cell table itself: (_r, _b, _cnt) counts over one row
    * frame — depth·width rows max, map-side combined, and SUM-MERGEABLE
    * across disjoint batches (cells are plain counts of a hash partition),
    * which is what makes the sketch streaming-maintainable
    * ([[graft.streaming.StreamingOps.cmsMaintain]]: per-batch cells sum
    * into a state table, bit-equal to one shot). */
  def countMinCells(df: DataFrame, valueCol: String,
      depth: Int = 4, width: Int = 128): DataFrame =
    df.select(explode(cmHashes(col(valueCol), depth, width)).as("h"))
      .groupBy(col("h._r").as("_r"), col("h._b").as("_b"))
      .agg(count(lit(1)).as("_cnt"))

  /** Point-frequency reads from a SAVED cell table (the read side of
    * cmsMaintain): min over the depth probed cells, absent cells = 0.
    * One-sided error: est ≥ true count, inflated only by collisions. */
  def countMinFromState(state: DataFrame, probes: DataFrame, probeCol: String,
      depth: Int = 4, width: Int = 128): DataFrame =
    probes.select(col(probeCol).as("_p")).distinct()
      .select(col("_p"), explode(cmHashes(col("_p"), depth, width)).as("h"))
      .select(col("_p"), col("h._r").as("_r"), col("h._b").as("_b"))
      .join(state, Seq("_r", "_b"), "left")
      .groupBy(col("_p"))
      .agg(min(coalesce(col("_cnt"), lit(0L))).as("cms_est"))
      .select(col("_p").as(probeCol), col("cms_est"))

  def countMinEstimate(df: DataFrame, valueCol: String,
      probes: DataFrame, probeCol: String,
      depth: Int = 4, width: Int = 128): DataFrame =
    countMinFromState(countMinCells(df, valueCol, depth, width),
      probes, probeCol, depth, width)

  /** Mergeable equi-width histogram sketch: per (group, bin) counts over a
    * fixed [lo, hi) range — the quantile leg of the deterministic sketch
    * suite (Bloom = membership, HLL = cardinality, CMS = frequency,
    * histogram = distribution). `binW = (hi-lo)/bins` must divide evenly and
    * is kept a power of two by convention so the bin index is exact in
    * either integer or double arithmetic (engines disagree on int-division
    * semantics; floor(x / 2^k) does not). Values outside the range clamp to
    * the edge bins. State is one count per NON-EMPTY (group, bin) —
    * map-side combinable, sum-mergeable across partitions/shards/days —
    * which at 100 TB is kilobytes per group where an exact quantile needs a
    * global sort and Spark's approx_percentile is neither cross-engine
    * reproducible nor mergeable across separately-built shards.
    * Output: groupCols + (bin INT, cnt BIGINT). */
  def histogramSketch(df: DataFrame, groupCols: Seq[String], valueCol: String,
      lo: Long, hi: Long, bins: Int): DataFrame = {
    require(bins > 0 && (hi - lo) % bins == 0,
      s"bins must divide the range evenly: [$lo,$hi) / $bins")
    val binW = (hi - lo) / bins
    val g = groupCols.map(col)
    val b = least(greatest(
      floor((col(valueCol).cast("double") - lo) / binW).cast("int"), lit(0)),
      lit(bins - 1))
    df.select(g :+ b.as("bin"): _*)
      .groupBy(g :+ col("bin"): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Interpolated quantile read over a [[histogramSketch]] state: for each
    * group and each q, find the first bin whose cumulative count reaches
    * q·n and interpolate linearly inside it —
    * est = lo + binW·bin + binW·(q·n − cumBefore)/cnt. The arithmetic is a
    * fixed dataflow of exact integers into one double division, so a SQL
    * oracle reproduces it bit-for-bit. The cumulative window runs over the
    * sketch (≤ bins rows per group), not the data. Output: groupCols +
    * (q DOUBLE, est DOUBLE). */
  def histogramQuantiles(state: DataFrame, groupCols: Seq[String],
      lo: Long, hi: Long, bins: Int, qs: Seq[Double]): DataFrame = {
    val binW = (hi - lo) / bins
    val w = Window.partitionBy(groupCols.map(col): _*).orderBy(col("bin"))
    val wn = Window.partitionBy(groupCols.map(col): _*)
    val cum = state
      .withColumn("_cum", sum(col("cnt")).over(w))
      .withColumn("_n", sum(col("cnt")).over(wn))
    val qdf = cum.sparkSession.createDataFrame(
      qs.map(Tuple1(_))).toDF("q")
    cum.crossJoin(broadcast(qdf))
      .withColumn("_t", col("q") * col("_n"))
      .filter(col("_cum") >= col("_t") && (col("_cum") - col("cnt")) < col("_t"))
      .select(groupCols.map(col) ++ Seq(col("q"),
        (lit(lo) + lit(binW) * col("bin") +
          lit(binW) * (col("_t") - (col("_cum") - col("cnt"))) / col("cnt"))
          .as("est")): _*)
  }

  /** Deterministic HyperLogLog cardinality estimate per group (Flajolet et
    * al. 2007; p = 6, 64 registers, h = 60-bit md5 prefix).
    *
    * The mergeable-sketch shape corpus stats need at 100 TB: per group the
    * state is 64 small registers folded with max() — map-side combinable,
    * mergeable across partitions/days/shards — where the exact twin
    * (count-distinct) must shuffle every distinct VALUE. At billions of
    * distinct values per group that is the difference between kilobytes and
    * terabytes of shuffle.
    *
    * Engine-reproducible by construction, so a SQL oracle can recompute the
    * IDENTICAL estimate: rho comes from the binary-string length of the
    * 54-bit suffix (never a float log2 of a big integer), the register fold
    * is Σ 2^(55−M) in BIGINT (a float Σ 2^−M needs 61 mantissa bits and
    * becomes order-dependent), and the only floating point is the final
    * αm²·2⁵⁵/S division plus the small-range correction m·ln(m/V) when
    * E ≤ 2.5m and empty registers remain.
    *
    * Output: groupCols + (hll_est DOUBLE). */
  def hllEstimate(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame =
    hllFromRegisters(hllRegisters(df, groupCols, valueCol), groupCols)

  /** The sketch STATE behind [[hllEstimate]]: (groupCols..., _b, _m) rows —
    * one register per (group, bucket) seen. Mergeable by max(_m) on the same
    * keys, which is what makes HLL incremental: a saved register table plus
    * a micro-batch's registers max-merge into exactly the registers of the
    * union of the inputs ([[graft.streaming.StreamingOps.hllMaintain]]). */
  def hllRegisters(df: DataFrame, groupCols: Seq[String], valueCol: String): DataFrame = {
    val m = 64 // p = 6
    val g = groupCols.map(col)
    val h = conv(substring(md5(col(valueCol).cast("string")), 1, 15), 16, 10).cast("long")
    df.select(g :+ h.as("_h"): _*)
      .select(g ++ Seq(pmod(col("_h"), lit(m)).as("_b"),
        shiftright(col("_h"), 6).as("_w")): _*)
      .select(g ++ Seq(col("_b"),
        when(col("_w") === 0, lit(55))
          .otherwise(lit(55) - length(bin(col("_w")))).as("_rho")): _*)
      .groupBy(g :+ col("_b"): _*)
      .agg(max(col("_rho")).as("_m"))
  }

  /** HLL inclusion–exclusion overlap estimate between two groups:
    * est(A ∩ B) ≈ est(A) + est(B) − est(A ∪ B), every term from ONE register
    * table — the union sketch is just max() over both groups' registers
    * (the merge property), so the whole answer derives from the same single
    * corpus pass that built the per-group sketches.
    *
    * The 100 TB use is the PRE-FLIGHT contamination check: before paying an
    * exact decontamination pass ([[bloomDecontaminate]] or a distinct-join),
    * estimate how much two corpora/splits/shards even overlap from
    * kilobyte-sized sketches — shards ship 64 registers each, never values,
    * and sketches from different days/machines merge associatively. The
    * estimate inherits HLL's per-term error (~13% at p=6), which is exactly
    * the fidelity a go/no-go pre-check needs; clamped at 0 because
    * inclusion–exclusion on three ±σ estimates can go slightly negative on
    * disjoint inputs.
    *
    * Output: one row — (est_a, est_b, est_union, est_overlap), doubles.
    * The two scalar-assembly cross joins are 1×1-row frames (aggregates),
    * not data joins. */
  def hllOverlapEstimate(df: DataFrame, groupCol: String, valueCol: String,
      a: String, b: String): DataFrame = {
    val regs = hllRegisters(df.filter(col(groupCol).isin(a, b)), Seq(groupCol), valueCol)
      .localCheckpoint(true) // corpus-pass result, read by 2 consumers below
    val per = hllFromRegisters(regs, Seq(groupCol))
    val wide = per.agg(
      max(when(col(groupCol) === a, col("hll_est"))).as("est_a"),
      max(when(col(groupCol) === b, col("hll_est"))).as("est_b"))
    val uni = hllFromRegisters(
        regs.groupBy(col("_b")).agg(max(col("_m")).as("_m")), Seq.empty)
      .select(col("hll_est").as("est_union"))
    val out = wide.crossJoin(uni)
      .select(col("est_a"), col("est_b"), col("est_union"),
        greatest(col("est_a") + col("est_b") - col("est_union"), lit(0.0))
          .as("est_overlap"))
    out
  }

  /** Fold (groupCols..., _b, _m) registers into the per-group estimate —
    * the read side of the incremental sketch. */
  def hllFromRegisters(regs: DataFrame, groupCols: Seq[String]): DataFrame = {
    val m = 64
    val g = groupCols.map(col)
    regs
      .groupBy(g: _*)
      .agg(
        sum(expr("shiftleft(1L, cast(55 - _m as int))")).as("_sp"),
        count(lit(1)).as("_np"))
      .select(g ++ Seq(
        (col("_sp") + (lit(m.toLong) - col("_np")) * lit(1L << 55)).as("_s"),
        (lit(m.toLong) - col("_np")).as("_v")): _*)
      .select(g :+ {
        val raw = lit(0.709) * lit(4096.0) * lit((1L << 55).toDouble) /
          col("_s").cast("double")
        when(raw <= lit(2.5 * m) && col("_v") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("_v")))
          .otherwise(raw).as("hll_est")
      }: _*)
  }

  /** Weighted quantiles: the smallest value v whose cumulative WEIGHT
    * reaches q·W — e.g. document length at token-mass quantiles ("half the
    * corpus's tokens live in documents shorter than …"), the planning read
    * for sequence packing and token budgets that unweighted length
    * percentiles (cs1) get wrong whenever size and count diverge (they
    * always do: a few giant docs carry most of the mass).
    *
    * Scale shape: one map-side-combined (value → Σweight) aggregate, a
    * single-partition cumulative window over the DISTINCT-VALUE-sized
    * collapsed table (the m8 convention — literal partition key, bounded by
    * value cardinality, never corpus-sized), then a broadcast quantile
    * fan-out and a min-aggregate. Thresholds q·W compute identically on any
    * engine (integer W, literal q).
    *
    * Output: (q, value) — one row per requested quantile. */
  def weightedQuantiles(df: DataFrame, valueCol: String, weightCol: String,
      qs: Seq[Double]): DataFrame = {
    require(qs.nonEmpty && qs.forall(q => q > 0 && q <= 1))
    import org.apache.spark.sql.expressions.Window
    val byVal = df.groupBy(col(valueCol).as("_v"))
      .agg(sum(col(weightCol)).as("_w"))
    val w = Window.partitionBy(lit(0)).orderBy(col("_v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byVal.withColumn("_cum", sum(col("_w")).over(w))
      .withColumn("_tot", sum(col("_w")).over(
        Window.partitionBy(lit(0))))
    val qf = df.sparkSession.createDataFrame(qs.map(Tuple1(_))).toDF("q")
    cum.crossJoin(broadcast(qf))
      .filter(col("_cum") >= col("q") * col("_tot"))
      .groupBy("q").agg(min(col("_v")).as("value"))
  }

  /** ZIPF RANK-FREQUENCY FIT: OLS of ln(count) on ln(rank) over the term
    * frequency table — the one-number corpus-health read distribution work
    * starts from. Natural text sits near slope −1 (Zipf's law); a corpus
    * whose slope is far shallower is template/boilerplate-heavy (mass
    * spread across near-equal frequencies), far steeper means a few tokens
    * dominate (log spam, repeated headers) — both are curation flags
    * BEFORE any model sees the data, and the slope also calibrates
    * heavy-hitter sketch budgets (cs2/cs4). R² says whether the power law
    * actually holds or the slope is a fit through noise.
    *
    * Shape: one term-count aggregate (map-side combined), then a rank
    * window over the VOCABULARY (single partition BY INTENT — vocabulary
    * rows, bounded by distinct terms, never corpus-sized; the aucRoc
    * convention), then one moment aggregate to a single row. Ties rank by
    * (count DESC, term ASC) — total order, engine-replayable. Double sums
    * are order-sensitive at ~1e-12 relative; callers round.
    *
    * Output: one row (n_terms, slope, intercept, r2); slope/r2 NULL for a
    * degenerate vocabulary (< 2 distinct ranks worth of variance). */
  def zipfFit(terms: DataFrame, termCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = terms.groupBy(col(termCol).as("_t")).agg(count(lit(1)).as("_c"))
    // vocabulary-sized single-partition window (intent: ranks are global)
    val w = Window.partitionBy(lit(0)).orderBy(col("_c").desc, col("_t").asc)
    val xy = counts.withColumn("_rk", row_number().over(w))
      .select(log(col("_rk").cast("double")).as("_x"),
        log(col("_c").cast("double")).as("_y"))
    val m = xy.agg(count(lit(1)).as("n_terms"),
      sum(col("_x")).as("_sx"), sum(col("_y")).as("_sy"),
      sum(col("_x") * col("_x")).as("_sxx"),
      sum(col("_y") * col("_y")).as("_syy"),
      sum(col("_x") * col("_y")).as("_sxy"))
    val n = col("n_terms").cast("double")
    val vx = n * col("_sxx") - col("_sx") * col("_sx")
    val vy = n * col("_syy") - col("_sy") * col("_sy")
    val cov = n * col("_sxy") - col("_sx") * col("_sy")
    val slope = when(vx > 0, cov / vx)
    m.select(col("n_terms"), slope.as("slope"),
      when(vx > 0, (col("_sy") - slope * col("_sx")) / n).as("intercept"),
      when(vx > 0 && vy > 0, cov * cov / (vx * vy)).as("r2"))
  }

  /** Pairwise Pearson correlation matrix of k numeric columns in ONE corpus
    * pass — the signal-redundancy read behind every quality-gate design:
    * two gates correlated at 0.95 are one gate paid for twice, and the only
    * way to see that before wiring thresholds is this matrix. (Spark's
    * built-in `corr` is one pair per pass; k signals would cost k²/2 scans.)
    *
    * Scale shape: a single map-side-combined aggregate computes n, Σx, Σx²
    * per column and Σxy per pair (k + k + k(k−1)/2 scalar accumulators —
    * dozens for any sane signal count), then the k(k−1)/2 output rows derive
    * from that ONE row via a literal struct array + explode. Nothing is
    * corpus-sized after the aggregate. corr = (nΣxy − ΣxΣy) /
    * √((nΣx²−(Σx)²)(nΣy²−(Σy)²)), NULL when either variance is 0 (a
    * constant signal has no correlation, not corr=0). Double sums are
    * order-sensitive at ~1e-12 relative; callers round before cross-engine
    * comparison.
    *
    * Output: (sig_a, sig_b, corr) for each a < b pair in `cols` order. */
  def pearsonMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.size >= 2, "pearsonMatrix: need at least 2 columns")
    // complete-case analysis: a row with ANY null signal is dropped up
    // front, so n counts exactly the rows the Σx/Σx²/Σxy sums saw — a null
    // would otherwise skew every correlation involving that column (the
    // sums skip nulls, count(lit(1)) would not)
    val cc = df.na.drop(cols)
    val aggs = Seq(count(lit(1)).cast("double").as("_n")) ++
      cols.flatMap(c => Seq(
        sum(col(c)).as(s"_s_$c"), sum(col(c) * col(c)).as(s"_q_$c"))) ++
      (for (i <- cols.indices; j <- (i + 1) until cols.size)
        yield sum(col(cols(i)) * col(cols(j))).as(s"_p_${i}_$j"))
    val row = cc.agg(aggs.head, aggs.tail: _*)
    val pairs = for (i <- cols.indices; j <- (i + 1) until cols.size) yield {
      val (a, b) = (cols(i), cols(j))
      val num = col("_n") * col(s"_p_${i}_$j") - col(s"_s_$a") * col(s"_s_$b")
      val da = col("_n") * col(s"_q_$a") - col(s"_s_$a") * col(s"_s_$a")
      val db = col("_n") * col(s"_q_$b") - col(s"_s_$b") * col(s"_s_$b")
      struct(lit(a).as("sig_a"), lit(b).as("sig_b"),
        when(da > 0 && db > 0, num / sqrt(da * db)).as("corr"))
    }
    row.select(explode(array(pairs: _*)).as("_pr")).select(col("_pr.*"))
  }

  /** Survivorship — the canonical-record step AFTER entity resolution or
    * dedup clustering: each cluster keeps, per attribute, its MODAL non-null
    * value (most members agree), ties to the smallest value — the standard
    * deterministic merge rule (a majority of feeds carrying the right
    * `lang` outvotes one mislabeled copy). Input: member records already
    * carrying their cluster id (join your [[Dedup.connectedComponents]] /
    * [[FuzzyMatch.resolutionClusters]] map upstream).
    *
    * Scale shape: attributes melt through ONE literal struct-array explode
    * (k× row fan-out, k = attribute count), then two map-side-combined
    * aggregates — (cluster, attr, value) counts, then per-(cluster, attr)
    * argmax via the min_by struct trick (no window, no per-cluster sort) —
    * and a k-column pivot over the KNOWN attr list. Nothing quadratic,
    * nothing driver-side.
    *
    * Output: (cluster, n_members, <attr>... ) one row per cluster; an
    * attribute null in every member stays null. */
  /** Deterministic per-key document cap — the C4/Gopher "at most N pages
    * per domain" rule (one SEO-heavy domain must not dominate a web
    * corpus), and the same kernel caps per-author, per-source, or
    * per-dedup-cluster contributions. Keeps each key's `maxPerKey` rows
    * ranked by (md5 of the id, id) — a "random but stable" sample: the
    * kept set is a pure function of the ids, unchanged by repartitioning,
    * re-runs, or the order the corpus arrived in, and incremental growth
    * can only swap rows out, never churn the whole sample. CONTRACT: ids
    * must be non-null and unique per row — a null or duplicated id makes
    * the (md5, id) order non-total and the tie falls back to physical row
    * order, which repartitioning CAN change. Null ids fail loudly (a
    * lazily-evaluated raise_error in the sort key, zero extra jobs — the
    * g19/modularity enforce-the-documented-bound pattern); duplicated-id
    * detection is a whole extra aggregate, documented as the caller's cost.
    *
    * Scale shape: one key-partitioned window (a single shuffle on the
    * key); heavy keys cost their own partition sort, never a global one
    * — for a key so hot its rows exceed one executor's sort budget, the
    * documented upgrade is a two-phase rank (hash-bucket pre-rank, then
    * rank the ≤ bucket·cap survivors). */
  def capPerKey(df: DataFrame, keyCol: String, idCol: String,
      maxPerKey: Int): DataFrame = {
    require(maxPerKey >= 1, s"capPerKey: maxPerKey must be >= 1, got $maxPerKey")
    val idChecked = when(col(idCol).isNull,
      raise_error(lit(s"capPerKey: null id in '$idCol' — the (md5, id) sample " +
        "order is only total over non-null unique ids; filter or synthesize " +
        "ids upstream"))).otherwise(col(idCol).cast("string"))
    val w = Window.partitionBy(col(keyCol))
      .orderBy(graft.functions.Hashing.md5Long(idChecked), col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPerKey).drop("__rn")
  }

  /** Corpus snapshot diff — the CDC read every retraining decision starts
    * from: between corpus v1 and v2, which documents were ADDED, which
    * REMOVED, and which ids survived with CHANGED content? (A version bump
    * that "only" re-crawled 2% of a 100 TB corpus is a 2 TB delta — the
    * diff decides between incremental index maintenance (s7/d13-style) and
    * a full rebuild, and is the audit row for "why did the eval move".)
    *
    * Change detection md5-hashes EACH content column, then md5s the
    * concatenated per-column hashes — fixed-width inner hashes mean no
    * separator can collide across column boundaries (("a|", "") vs
    * ("a", "|") fingerprint differently). Nulls coalesce to "" before the
    * inner hash — a null column and an empty string compare equal, the
    * documented tradeoff for a SQL-replicable fingerprint. Wide text never
    * rides through the join — the shuffle moves (id, 32-byte hash) pairs. One full-outer
    * equi-join on the id (both sides hash-partitioned the same way);
    * unchanged ids are filtered out BEFORE the result materializes.
    *
    * Output: (idCol, change ∈ added | removed | changed), one row per
    * differing id. */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame, idCol: String,
      contentCols: Seq[String]): DataFrame = {
    require(contentCols.nonEmpty, "snapshotDiff: no content columns")
    def fp(df: DataFrame) = df.select(col(idCol).as("__id"),
      md5(concat(contentCols.map(c =>
        md5(coalesce(col(c).cast("string"), lit("")))): _*)).as("__fp"))
    fp(oldDf).as("o").join(fp(newDf).as("n"),
        col("o.__id") === col("n.__id"), "full_outer")
      .select(coalesce(col("o.__id"), col("n.__id")).as(idCol),
        when(col("o.__id").isNull, "added")
          .when(col("n.__id").isNull, "removed")
          .when(col("o.__fp") =!= col("n.__fp"), "changed").as("change"))
      .filter(col("change").isNotNull)
  }

  def survivorship(records: DataFrame, clusterCol: String,
      idCol: String, attrs: Seq[String]): DataFrame = {
    require(attrs.nonEmpty, "survivorship: no attributes")
    val melted = records.select(col(clusterCol).as("cluster"), explode(array(
        attrs.map(a => struct(lit(a).as("attr"), col(a).cast("string").as("value"))): _*))
        .as("_m"))
      .select(col("cluster"), col("_m.attr"), col("_m.value"))
      .filter(col("value").isNotNull)
    val best = melted
      .groupBy("cluster", "attr", "value").agg(count(lit(1)).as("_c"))
      .groupBy("cluster", "attr")
      .agg(min_by(col("value"), struct((-col("_c")).as("nc"), col("value"))).as("_best"))
    val members = records.groupBy(col(clusterCol).as("cluster"))
      .agg(countDistinct(col(idCol)).as("n_members"))
    members.join(
      best.groupBy("cluster").pivot("attr", attrs).agg(first(col("_best"))),
      Seq("cluster"), "left")
  }
}
