package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "The QUICK brown fox jumps over the lazy dog!"), // exact dup modulo case/punct
    (3L, "the quick brown fox jumps over the sleepy dog"), // near dup
    (4L, "completely different content about spark engines"),
    (5L, "")).toDF("doc_id", "text")

  test("exact dedup collapses case/punctuation variants") {
    val d = Dedup.exact(docs, "doc_id", "text")
    val row = d.filter(col("key").contains("lazy dog")).collect()
    assert(row.length == 1)
    assert(row.head.getAs[Long]("keep_id") == 1L)
    assert(row.head.getAs[Long]("n_dups") == 2L)
  }

  test("minhash: identical normalized docs get identical signatures; near-dups mostly agree") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 8, shingleSize = 3)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getString)).toMap
    assert(sigs(1L) == sigs(2L))
    val agree = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b }
    assert(agree >= 2, s"near-dup agreement $agree/8")
    assert(sigs(1L).zip(sigs(4L)).count { case (a, b) => a == b } <= agree)
    assert(!sigs.contains(5L)) // no shingles -> no signature
  }

  test("LSH banding surfaces the duplicate pair; similarity estimates ordered") {
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", numHashes = 8, shingleSize = 3)
    val pairs = Dedup.lshCandidatePairs(sigs, bands = 4, rowsPerBand = 2)
    val sims = Dedup.minhashSimilarity(pairs, sigs, numHashes = 8)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sims.get((1L, 2L)).contains(1.0))
  }

  test("simhash: dup docs identical, near-dups Hamming-close, distinct docs far") {
    val sh = Dedup.simhash(docs, "doc_id", "text", nBits = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(3L)) <= ham(sh(1L), sh(4L)))
  }

  test("ngram jaccard: dup pair = 1.0; near-dup in (0,1); thresholds filter") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", shingleSize = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs((1L, 3L)) > 0.3 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.contains((1L, 4L)) || pairs((1L, 4L)) < pairs((1L, 3L)))
  }

  test("dupRateByGroup: in-group vs cross-group duplicate attribution") {
    val d = Seq(
      (1L, "same text", "feedA"), (2L, "same text", "feedA"), // in-group pair
      (3L, "other text", "feedA"),                            // unique
      (4L, "same text", "feedB"),   // cross-group copy of the A pair
      (5L, "b only", "feedB")).toDF("doc_id", "text", "source")
    val got = Dedup.dupRateByGroup(d, "source", "doc_id", "text")
      .as[(String, Long, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    // feedA: 3 docs, 2 dup-involved (both also cross-group via doc 4)
    assert(got("feedA") == (("feedA", 3L, 2L, 2L, 2.0 / 3)), got("feedA"))
    assert(got("feedB") == (("feedB", 2L, 1L, 1L, 0.5)))
  }

  test("containment: a doc quoted whole scores 1.0 where jaccard stays low") {
    val cdocs = Seq(
      (1L, "one two three four five six seven eight"), // 6 3-shingles
      (2L, "one two three four five six seven eight nine ten eleven twelve " +
        "thirteen fourteen"), // doc 1 is its prefix: containment 1, |B|=12
      (3L, "entirely different words live here today")).toDF("doc_id", "text")
    val cont = Dedup.containmentPairs(cdocs, "doc_id", "text",
        shingleSize = 3, minContainment = 0.9)
      .select("id_a", "id_b", "inter", "containment")
      .as[(Long, Long, Long, Double)].collect()
    assert(cont.toSeq == Seq((1L, 2L, 6L, 1.0)), cont.toSeq)
    // the same pair is INVISIBLE to a 0.9-Jaccard gate (6/12 = 0.5)
    val jac = Dedup.ngramJaccardPairs(cdocs, "doc_id", "text",
      shingleSize = 3, minJaccard = 0.9).collect()
    assert(jac.isEmpty)
  }

  test("embedding near-dup with sign-bit blocking is a subset of exact pairs") {
    val emb = spark.read.parquet(sf("embeddings")).limit(200)
    val exact = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.3, blockBits = 0)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val blocked = Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.3, blockBits = 4)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(blocked.subsetOf(exact))
    assert(exact.nonEmpty)
  }

  test("corpus-level line dedup drops boilerplate, keeps order, ignores blanks") {
    val docs = Seq(
      ("d1", "Unique title one\nCopyright Footer\n\nBody text alpha"),
      ("d2", "Unique title two\nCopyright Footer\nBody text beta"),
      ("d3", "Copyright Footer")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs, "doc_id", "text", maxOccurrences = 1)
      .collect().map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    // the footer (3 occurrences) is gone everywhere; blank line survives
    assert(out("d1") == (("Unique title one\n\nBody text alpha", 3L)))
    assert(out("d2") == (("Unique title two\nBody text beta", 2L)))
    // a document that was pure boilerplate disappears
    assert(!out.contains("d3"))
    // raising the threshold keeps everything
    val lax = Dedup.dedupLines(docs, "doc_id", "text", maxOccurrences = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(lax("d3") == "Copyright Footer")
  }

  test("hammingDistance column helper") {
    val got = Seq((5L, 3L)).toDF("a", "b")
      .select(Dedup.hammingDistance(col("a"), col("b"))).as[Int].head()
    assert(got == 2)
  }

  test("duplicateSpans marks cross-document verbatim windows only") {
    import graft.operators.CorpusOps
    val rows = Seq(
      // d1 and d2 share the 3-gram "b c d" (d1 at start 1, d2 at start 0)
      (1L, Seq("a", "b", "c", "d")),
      (2L, Seq("b", "c", "d", "e")),
      // d3 repeats "x y z" twice WITHIN itself but no other doc has it → unmarked
      (3L, Seq("x", "y", "z", "x", "y", "z")),
      (4L, Seq("q")) // too short for any window
    ).toDF("doc_id", "toks")
    val got = CorpusOps.duplicateSpans(rows, "doc_id", "toks", 3)
      .select("doc_id", "start").as[(Long, Int)].collect().toSet
    assert(got == Set((1L, 1), (2L, 0)), got)
  }

  test("sparseCosinePairs: identical kept-token vectors score 1; pruned tokens leave the space") {
    // 4 docs; token "the" appears in all 4 → pruned at maxDf=3 and must not
    // contribute to norms either. d1 and d2 share identical KEPT vectors
    // ("cat cat dog") → cosine exactly 1.0 even though their "the" counts
    // differ; d3 is orthogonal on kept tokens; d4 shares only "dog" with d1/d2.
    val rows = Seq(
      (1L, Seq("the", "cat", "cat", "dog")),
      (2L, Seq("the", "the", "cat", "cat", "dog")),
      (3L, Seq("the", "fish")),
      (4L, Seq("the", "dog", "bird"))
    ).toDF("doc_id", "toks")
    val got = Dedup.sparseCosinePairs(rows, "doc_id", "toks", minSim = 0.0, maxDf = 3)
      .as[(Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got((1L, 2L)) == 1.0, got)
    assert(!got.contains((1L, 3L)) && !got.contains((2L, 3L)),
      "docs sharing only a pruned token must produce NO pair row")
    // d1·d4 share "dog": idf(dog)=ln(4/3); cos = w²/ (|w_cat²·2+w²|^.5 · |w²+w_bird²|^.5)
    val wd = math.log(4.0 / 3)
    val wCat = math.log(4.0 / 2)
    val wBird = math.log(4.0 / 1)
    val exp = BigDecimal(wd * wd /
      (math.sqrt(4 * wCat * wCat + wd * wd) * math.sqrt(wd * wd + wBird * wBird)))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got((1L, 4L)) == exp, s"got ${got((1L, 4L))} expected $exp")
  }

  test("sparseCosinePairs excludes zero-norm docs instead of emitting NaN pairs") {
    // every kept token at df = N ⇒ idf 0 ⇒ all-zero vectors; 0/0 is NaN and
    // Spark orders NaN LARGEST, so without the guard these pairs would pass
    // any minSim threshold
    val rows = Seq(
      (1L, Seq("a")), (2L, Seq("a")), (3L, Seq("a"))
    ).toDF("doc_id", "toks")
    val got = Dedup.sparseCosinePairs(rows, "doc_id", "toks", minSim = 0.9, maxDf = 3)
      .collect()
    assert(got.isEmpty, got.mkString(","))
  }

  test("duplicateSpanRanges merges overlapping AND contiguous windows") {
    import graft.operators.CorpusOps
    val rows = Seq(
      // A's windows: "a b c" @0 (shared with B) and "d e f" @3 (shared with
      // C) — overlapping? no; contiguous ([0,2] then [3,5]) → ONE span [0,5]
      (1L, Seq("a", "b", "c", "d", "e", "f")),
      (2L, Seq("a", "b", "c")),
      (3L, Seq("d", "e", "f")),
      // D has the two shared grams separated by a private token → TWO spans
      (4L, Seq("a", "b", "c", "zz", "d", "e", "f"))
    ).toDF("doc_id", "toks")
    val got = CorpusOps.duplicateSpanRanges(rows, "doc_id", "toks", 3)
      .as[(Long, Int, Int)].collect().toSet
    assert(got == Set((1L, 0, 5), (2L, 0, 2), (3L, 0, 2),
      (4L, 0, 2), (4L, 4, 6)), got)
  }

  test("removeDuplicateSpans: clean text == original minus flagged spans; " +
      "within-doc repeats survive; fully-covered docs come back empty") {
    import graft.operators.CorpusOps
    val rows = Seq(
      // shares its whole prefix "a b c d e f" with doc 2 → keeps "p q r"
      (1L, Seq("a", "b", "c", "d", "e", "f", "p", "q", "r")),
      (2L, Seq("a", "b", "c", "d", "e", "f")), // fully covered → empty row
      // repeats "x y z" only WITHIN itself → untouched
      (3L, Seq("x", "y", "z", "x", "y", "z")),
      (4L, Seq("q")), // too short for any window → untouched
      // two disjoint shared spans around a private middle → middle survives
      (5L, Seq("g", "h", "i", "u1", "u2", "u3", "j", "k", "l")),
      (6L, Seq("g", "h", "i")),
      (7L, Seq("j", "k", "l"))
    ).toDF("doc_id", "toks")
    val got = CorpusOps.removeDuplicateSpans(rows, "doc_id", "toks", 3)
      .as[(Long, Long, String)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got.size == 7, "every input doc must survive as a row")
    assert(got(1L) == ((3L, "p q r")), got(1L))
    assert(got(2L) == ((0L, "")), got(2L))
    assert(got(3L) == ((6L, "x y z x y z")), got(3L))
    assert(got(4L) == ((1L, "q")), got(4L))
    assert(got(5L) == ((3L, "u1 u2 u3")), got(5L))
    assert(got(6L) == ((0L, "")), got(6L))
    assert(got(7L) == ((0L, "")), got(7L))
  }

  test("stars CC block hygiene: only the result-backing checkpoints survive") {
    // A long chain forces many star rounds; each round checkpoints a new edge
    // list and must free the superseded one. The returned frame legitimately
    // derives from TWO pinned checkpoints (the node set and the final edge
    // list) — anything beyond that is a per-round leak that surfaces at scale
    // as block-manager pressure, not as a wrong answer, so pin it here.
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val pairs = (0L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponentsStars(pairs)
    assert(out.count() == 41)
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.size <= 2,
      s"stars CC left ${leaked.size} pinned RDDs (expected <= 2: nodes + final edges)")
  }

  test("exactKeepBest keeps the highest-quality duplicate, ties to smaller id") {
    import graft.functions.{Norm, TextAnalysis}
    val rows = Seq(
      (1L, "alpha beta", 10L), (2L, "beta  alpha", 30L), // same token set, 2 wins on q
      (3L, "gamma", 7L), (4L, "gamma", 7L),              // exact tie → smaller id 3
      (5L, "delta", 1L)
    ).toDF("doc_id", "text", "q")
      .select(col("doc_id"), col("q"), Norm.normTokens(col("text")).as("_t"))
    val got = Dedup.exactKeepBest(rows, "doc_id", "q", TextAnalysis.fingerprintT(col("_t")))
      .select("keep_id", "best_q", "n_dups").as[(Long, Long, Long)].collect().toSet
    assert(got == Set((2L, 30L, 2L), (3L, 7L, 2L), (5L, 1L, 1L)), got)
  }

  test("lshDeltaPairs probes saved signatures only — no corpus self-pairs") {
    // docs 1,2 (old) are near-identical; 11 (new) matches them; 12 (new) is
    // ALSO a duplicate of 11 — but new×new must NOT pair (already-indexed
    // semantics: the delta is deduped against the corpus, not against itself)
    val txt = "spark shuffles the join keys across the cluster nodes tonight"
    val rows = Seq(
      (1L, txt), (2L, txt + " again"), (3L, "completely different words entirely"),
      (11L, txt), (12L, txt)
    ).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(rows, "doc_id", "text", numHashes = 6, shingleSize = 3)
    val old = sigs.filter($"id" <= 3L)
    val neu = sigs.filter($"id" >= 11L)
    val pairs = Dedup.lshDeltaPairs(neu, old, bands = 3, rowsPerBand = 2)
      .as[(Long, Long)].collect().toSet
    assert(pairs.forall { case (a, b) => a >= 11L && b <= 3L }, pairs)
    assert(pairs.contains((11L, 1L)) && pairs.contains((12L, 1L)), pairs)
    assert(!pairs.exists { case (a, b) => a >= 11L && b >= 11L }, pairs)
  }

  test("unpersistPlanCheckpoints frees the span family's internal token base") {
    // The documented caller-must-free contract for library consumers: the
    // result derives from an INTERNAL (id, toks) checkpoint that a root-only
    // unpersist can't reach; the plan-walking free must release it.
    import graft.operators.CorpusOps
    import org.apache.spark.sql.graft.Bridge
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val rows = Seq(
      (1L, Seq("a", "b", "c", "d")), (2L, Seq("a", "b", "c"))).toDF("doc_id", "toks")
    val out = CorpusOps.removeDuplicateSpans(rows, "doc_id", "toks", 3)
    assert(out.count() == 2)
    assert((sc.getPersistentRDDs.keySet -- before).nonEmpty, "expected a pinned base")
    Bridge.unpersistPlanCheckpoints(out)
    val after = sc.getPersistentRDDs.keySet -- before
    assert(after.isEmpty, s"span token base still pinned: $after")
  }

  test("semDedup: keep-min-id within a cell; cross-cell twins both survive; hygiene") {
    val sc = spark.sparkContext
    // ids 1,2: same direction (cos=1) -> same cell -> 2 dropped, 1 kept.
    // id 3: orthogonal -> own cell, kept. ids 4,5: near-identical directions
    // but OPPOSITE cells won't happen here (same cluster) — instead 5 is
    // anti-parallel to 4 (cos=-1): same cell as nothing similar -> kept.
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f)), (2L, Seq(2.0f, 0.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f, 0.0f)),
      (4L, Seq(0.0f, 0.0f, 1.0f)), (5L, Seq(0.0f, 0.0f, -1.0f)))
      .toDF("vec_id", "embedding")
    // cap 0 sends the input down the Spark plan, whose inverted-file
    // checkpoint is the one block it may leave pinned
    for (cap <- Seq(0, graft.operators.DriverBound.DefaultMaxWorkingSet)) {
      val before = sc.getPersistentRDDs.keySet
      val got = Dedup.semDedupCapped(cap, emb, "vec_id", "embedding", nClusters = 3,
          tau = 0.9)
        .as[(String, String, Boolean)].collect()
        .map(r => r._1 -> r._3).toMap
      assert(got.keySet == Set("1", "2", "3", "4", "5"))
      assert(got("1") && !got("2"), s"min-id must survive: $got")
      assert(got("3") && got("4") && got("5"), s"non-dups must survive: $got")
      val leaked = sc.getPersistentRDDs.keySet -- before
      assert(leaked.size <= (if (cap == 0) 1 else 0), s"semDedup left ${leaked.size} pinned RDDs")
    }
    org.apache.spark.sql.graft.Bridge.unpersistPlanCheckpoints(
      Dedup.semDedupCapped(0, emb, "vec_id", "embedding", nClusters = 3, tau = 0.9))
  }

  test("connectedComponentsStars fails loudly when its round budget runs out") {
    // one round cannot finish a deep chain: a truncated run must throw and
    // name the knob, never return a split clustering; the default converges
    val pairs = (0L until 64L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponentsStars(pairs, maxRounds = 1)
    }
    assert(e.getMessage.contains("maxRounds"))
    val ok = Dedup.connectedComponentsStars(pairs)
    assert(ok.select("rep_id").distinct().count() == 1)
  }

  // ------------------------------------------------ driver plans vs Spark plans

  /** Rows as a sorted multiset, with the full schema, nullability included. */
  private def table(df: org.apache.spark.sql.DataFrame) =
    (df.schema.fields.toSeq,
      df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).sorted.toSeq)

  private def chainAndNoise(rnd: scala.util.Random, ids: IndexedSeq[String]): Seq[(String, String)] = {
    val chain = (0 until 25).map(i => (ids(i), ids(i + 1)))
    val noise = (0 until 40).map(_ => (ids(25 + rnd.nextInt(20)), ids(25 + rnd.nextInt(20))))
    val selfLoops = Seq((ids(50), ids(50)), (ids(3), ids(3)))
    rnd.shuffle(chain ++ noise ++ noise.take(10) ++ selfLoops) // duplicate edges too
  }

  test("connectedComponents: the driver plan equals the Spark plan row for row") {
    val rnd = new scala.util.Random(41)
    // non-ASCII ids whose UTF-8 byte order differs from String.compareTo:
    // U+FF5E sorts before U+1F600 in UTF-8, after it in UTF-16
    val strIds = rnd.shuffle((0 until 60).map(i =>
      Seq("a", "Z", "\u00e9", "\uff5e", "\ud83d\ude00", "9", "10")(i % 7) + i)).toIndexedSeq
    def both(df: org.apache.spark.sql.DataFrame): Unit = {
      val onDriver = Dedup.connectedComponents(df)
      assert(onDriver.queryExecution.analyzed.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      assert(table(onDriver) == table(Dedup.connectedComponentsCapped(0, df, "id_a", "id_b")))
    }
    // plus a component of only those two kinds, so its minimum tells them apart
    both((chainAndNoise(rnd, strIds) ++ Seq(("\uff5ex", "\ud83d\ude00x"), ("\ud83d\ude00x", "\uff5ey")))
      .toDF("id_a", "id_b"))
    both(chainAndNoise(rnd, strIds.indices.map(i => (i * 7919 % 60).toString))
      .map { case (a, b) => (a.toLong, b.toLong) }.toDF("id_a", "id_b"))
    both(chainAndNoise(rnd, (0 until 60).map(i => (60 - i).toString))
      .map { case (a, b) => (a.toInt, b.toInt) }.toDF("id_a", "id_b"))
    both(Seq.empty[(Long, Long)].toDF("id_a", "id_b"))
    // null ids are not the driver plan's to answer: the entry point keeps the
    // Spark plan's answer, where a null id answers (null, null) whatever the
    // graph's diameter
    val deep = chainAndNoise(rnd, strIds).map { case (a, b) => (Option(a), Option(b)) }
    val shallow = Seq((Option("a1"), Option("a2")))
    for (edges <- Seq(deep, shallow)) {
      val withNull = (edges :+ ((Option("a0"), Option.empty[String]))).toDF("id_a", "id_b")
      val viaEntry = table(Dedup.connectedComponents(withNull))
      assert(viaEntry == table(Dedup.connectedComponentsCapped(0, withNull, "id_a", "id_b")))
      assert(viaEntry._2.contains("null|null") && viaEntry._2.contains("a0|a0"), viaEntry)
    }
  }

  test("connectedComponents takes the Spark plan past the cap") {
    // cap = edges answers on the driver as a local frame; one less runs the
    // Spark plan, with the same rows and schema
    val pairs = (0L until 30L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    def local(df: org.apache.spark.sql.DataFrame) = df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
    val (under, over) = (Dedup.connectedComponentsCapped(30, pairs, "id_a", "id_b"),
      Dedup.connectedComponentsCapped(29, pairs, "id_a", "id_b"))
    assert(local(under) && !local(over))
    val reps = under.as[(Long, Long)].collect()
    assert(reps.length == 31 && reps.forall(_._2 == 0L))
    assert(table(under) == table(over))
  }

  /** Cosine as VectorFunctions.cosinePre computes it, for picking a tau that
    * some pair reaches exactly. */
  private def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    def dot(x: Seq[Double], y: Seq[Double]) = x.zip(y).foldLeft(0.0) { case (s, (p, q)) => s + p * q }
    val (na, nb) = (math.sqrt(dot(a, a)), math.sqrt(dot(b, b)))
    if (na == 0.0 || nb == 0.0) 0.0 else dot(a, b) / (na * nb)
  }

  test("semDedup: the driver plan equals the Spark plan row for row") {
    val rnd = new scala.util.Random(43)
    def check(df: org.apache.spark.sql.DataFrame, k: Int, tau: Double): Unit = {
      val onDriver = Dedup.semDedup(df, "vec_id", "embedding", nClusters = k, tau = tau)
      assert(onDriver.queryExecution.optimizedPlan.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
      val spark = Dedup.semDedupCapped(0, df, "vec_id", "embedding", k, tau)
      assert(onDriver.schema == spark.schema)
      assert(table(onDriver) == table(spark), s"k=$k tau=$tau")
      org.apache.spark.sql.graft.Bridge.unpersistPlanCheckpoints(spark)
    }
    // few distinct components: many equal scores (greatest centroid id wins),
    // zero vectors, parallel twins; ids 1..n order "10" before "9"
    val vals = Seq(-1.0, -0.5, 0.0, 0.0, 0.5, 1.0)
    val vecs = (1 to 36).map(_ => Seq.fill(4)(vals(rnd.nextInt(vals.length))))
    val (a, b) = (vecs(rnd.nextInt(36)), vecs(rnd.nextInt(36)))
    for ((k, tau) <- Seq((1, 0.5), (3, cosine(a, b)), (5, 0.0), (50, -0.0), (4, 1.0))) {
      check(vecs.zipWithIndex.map { case (v, i) => (i + 1L, v.map(_.toFloat)) }
        .toDF("vec_id", "embedding"), k, tau)
    }
    // string ids (non-ASCII among them), double vectors
    check(vecs.zipWithIndex.map { case (v, i) =>
      (Seq("b", "\uff5e", "\ud83d\ude00", "A")(i % 4) + i, v) }.toDF("vec_id", "embedding"),
      3, 0.5)
    // a cosine that underflows to -0.0 sits at tau = 0.0 under Spark's
    // double ordering, though Double.compare puts it below
    val tiny = Seq((1, Seq(1.0, 0.0)), (2, Seq(-java.lang.Double.MIN_VALUE, 3.0)))
      .toDF("vec_id", "embedding")
    check(tiny, 1, 0.0)
    assert(!Dedup.semDedup(tiny, "vec_id", "embedding", 1, 0.0)
      .filter(col("vec_id") === 2).as[(Int, String, Boolean)].head()._3)
    // rows the driver plan does not reproduce keep the Spark plan's answer:
    // a duplicate id, a null vector, a non-finite component
    for (bad <- Seq(Seq((1L, Seq(1.0)), (1L, Seq(2.0))), Seq((1L, Seq(1.0)), (2L, null)),
        Seq((1L, Seq(1.0)), (2L, Seq(Double.NaN))))) {
      val df = bad.toDF("vec_id", "embedding")
      assert(table(Dedup.semDedup(df, "vec_id", "embedding", 2, 0.5)) ==
        table(Dedup.semDedupCapped(0, df, "vec_id", "embedding", 2, 0.5)))
    }
  }

  test("semDedup returns one row per distinct id") {
    val df = Seq((1L, Seq(1.0)), (1L, Seq(2.0)), (2L, Seq(3.0))).toDF("vec_id", "embedding")
    for (out <- Seq(Dedup.semDedupCapped(0, df, "vec_id", "embedding", 2, 0.5),
        Dedup.semDedup(df, "vec_id", "embedding", 2, 0.5))) {
      assert(out.select("vec_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
      org.apache.spark.sql.graft.Bridge.unpersistPlanCheckpoints(out)
    }
  }

  test("semDedup takes the Spark plan past the cap") {
    val sc = spark.sparkContext
    val emb = (1L to 10L).map(i => (i, Seq(1.0f, i.toFloat))).toDF("vec_id", "embedding")
    // the cap counts components: 10 rows of width 2
    def pinned(cap: Int) = {
      val before = sc.getPersistentRDDs.keySet
      val out = Dedup.semDedupCapped(cap, emb, "vec_id", "embedding", 2, 0.99)
      (table(out), (sc.getPersistentRDDs.keySet -- before).size, out)
    }
    val (under, nUnder, _) = pinned(20)
    val (over, nOver, out) = pinned(19)
    assert(nUnder == 0 && nOver == 1, s"pinned $nUnder under the cap, $nOver past it")
    assert(under == over)
    org.apache.spark.sql.graft.Bridge.unpersistPlanCheckpoints(out)
  }
}
