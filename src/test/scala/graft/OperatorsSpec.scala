package graft

import graft.functions.{TextAnalysis => TA}
import graft.operators.{AsOfJoin, Assembly, IvfIndex, Multimodal, ScoredId, Sessionize, VectorSearch}
import org.apache.spark.sql.functions._

class OperatorsSpec extends SparkSpec {
  import spark.implicits._

  // ------------------------------------------------------------- text analysis
  test("stripMarkup: blocks swallowed whole, entities unescaped last, link length") {
    import graft.functions.TextAnalysis
    val html = "<body><h1>T</h1><p>hello &amp; bye</p>" +
      "<script>if (1 < 2) x; // </p> fake</script>" + // inner '<' and fake tag
      "<a href=\"u\">link me</a><a href=\"v\">x</a></body>"
    val df = Seq(Tuple1(html)).toDF("h")
      .select(TextAnalysis.stripMarkup(col("h")).as("c"),
        TextAnalysis.linkTextLen(col("h")).as("l"))
    val (clean, linkLen) = df.as[(String, Int)].collect()(0)
    assert(clean == "T hello & bye link me x", s"[$clean]")
    assert(linkLen == "link me".length + 1)
    // &amp;lt; must NOT double-unescape (amp replaced last)
    val tricky = Seq(Tuple1("<p>&amp;lt;</p>")).toDF("h")
      .select(TextAnalysis.stripMarkup(col("h"))).as[String].collect()(0)
    assert(tricky == "&lt;")
  }

  test("langId picks marker language; und when nothing matches") {
    val got = Seq(
      ("a", "the cat and the dog is in the house with food"),
      ("b", "el perro de la casa que los gatos las aman"),
      ("c", "zzz qqq xxx")).toDF("id", "t")
      .select(col("id"), TA.langId(col("t")).as("l")).as[(String, String)].collect().toMap
    assert(got("a") == "en"); assert(got("b") == "es"); assert(got("c") == "und")
  }

  test("quality score ordering: fluent > word soup > empty") {
    val got = Seq(
      ("fluent", "the history of science is full of careful observation and theory " * 3),
      ("soup", "xqj zz kpd wfm qqtr lmnop zzz aa"),
      ("empty", "")).toDF("id", "t")
      .select(col("id"), TA.qualityScore(col("t")).as("q")).as[(String, Double)].collect().toMap
    assert(got("fluent") > got("soup"))
    assert(got("soup") >= got("empty"))
    assert(got("empty") == 0.0)
  }

  test("token/subword counts and fingerprints") {
    val df = Seq(("x", "Hello extraordinary world")).toDF("id", "t")
    assert(df.select(TA.tokenCount(col("t"))).as[Int].head() == 3)
    assert(df.select(TA.subwordCount(col("t"))).as[Int].head() ==
      2 + 4 + 2) // hello=2, extraordinary=ceil(13/4)=4, world=2
    // fingerprint invariant under word order + repetition
    val f1 = Seq("b a c a").toDF("t").select(TA.fingerprint(col("t"))).as[String].head()
    val f2 = Seq("a b c").toDF("t").select(TA.fingerprint(col("t"))).as[String].head()
    assert(f1 == f2)
    val mk = Seq("short").toDF("t").select(TA.minKgramHash(col("t"), 8)).as[String].head()
    assert(mk == null)
  }

  // ---------------------------------------------------------------- as-of join
  test("backward as-of join picks most recent right row, <= semantics, null before") {
    val left = Seq((1L, 100L, "e1"), (1L, 205L, "e2"), (2L, 50L, "e3"))
      .toDF("k", "t", "name")
    val right = Seq((1L, 100L, 10.0), (1L, 200L, 20.0), (3L, 1L, 99.0))
      .toDF("k", "rt", "price")
    val got = AsOfJoin.backward(left, right, "k", "t", "rt", Seq("price"))
      .select(col("name"), col("asof_price")).collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(got("e1").contains(10.0)) // equal timestamps match (<=)
    assert(got("e2").contains(20.0))
    assert(got("e3").isEmpty)       // no earlier right row for key 2
  }

  test("nearest join: closest either direction, backward wins ties, null keys stay null") {
    val left = Seq(
      (1L, 100L, "mid"),   // right at 90 (d=10) and 104 (d=4) -> forward 104
      (1L, 92L, "tie"),    // right at 90 and 94 both d=2 -> backward 90 wins
      (1L, 10L, "before"), // only later rights exist -> forward 90
      (2L, 50L, "lone"))   // key 2 has no right rows -> null
      .toDF("k", "t", "name")
    val right = Seq((1L, 90L, 9.0), (1L, 94L, 94.0), (1L, 104L, 14.0))
      .toDF("k", "rt", "price")
    val got = AsOfJoin.nearest(left, right, "k", "t", "rt", Seq("price"))
      .select(col("name"), col("nearest_price")).collect()
      .map(r => r.getString(0) -> Option(r.get(1))).toMap
    assert(got("mid").contains(14.0))
    assert(got("tie").contains(9.0))
    assert(got("before").contains(9.0))
    assert(got("lone").isEmpty)
  }

  // --------------------------------------------------------- event analytics
  test("funnel: strict ordering chains steps; same-timestamp does not convert") {
    import graft.operators.EventAnalytics
    val ev = Seq(
      (1L, 10L, "view"), (1L, 20L, "click"), (1L, 30L, "purchase"), // full
      (2L, 10L, "view"), (2L, 10L, "click"),  // same-ts click: no chain
      (3L, 20L, "click"), (3L, 30L, "view"),  // click BEFORE view: step 2 out
      (4L, 5L, "view"), (4L, 50L, "click")).toDF("user_id", "ts", "event_type")
    val got = EventAnalytics.funnel(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .as[(Int, String, Long)].collect().map(r => r._1 -> r._3).toMap
    assert(got == Map(1 -> 4L, 2 -> 2L, 3 -> 1L)) // users 1+4 click after view
  }

  test("retention: first-day cohorts, distinct per day, offset window") {
    import graft.operators.EventAnalytics
    val D = 86400000000000L
    val ev = Seq(
      (1L, 0L), (1L, 10L), (1L, D + 1L),       // cohort day 0, active d0 d1
      (2L, D), (2L, 3 * D),                    // cohort day 1, active d1 d3
      (3L, 0L), (3L, 9 * D)).toDF("user_id", "ts") // d9 outside maxOffset=7
    val got = EventAnalytics.retention(ev, "user_id", "ts", maxOffset = 7)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == Set((0L, 0L, 2L), (0L, 1L, 1L), (1L, 0L, 1L), (1L, 2L, 1L)))
  }

  test("funnel latencies: interpolated exact percentiles of step-to-step gaps") {
    import graft.operators.EventAnalytics
    val ev = Seq(
      (1L, 10L, "view"), (1L, 30L, "click"), (1L, 100L, "purchase"),
      (2L, 10L, "view"), (2L, 20L, "click"),
      (3L, 5L, "click")).toDF("user_id", "ts", "event_type") // no view: out
    val got = EventAnalytics.funnelLatencies(ev, "user_id", "ts", "event_type",
        Seq("view", "click", "purchase"))
      .as[(Int, String, Long, Double, Double)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    // step 2 gaps [10, 20] ns = [1e-8, 2e-8] s: p50 interpolates to 1.5e-8,
    // p90 to 1.9e-8; step 3 gap [70] ns (approximate: interpolation ulps)
    assert(got(2)._1 == 2L)
    assert(math.abs(got(2)._2 - 1.5e-8) < 1e-15 && math.abs(got(2)._3 - 1.9e-8) < 1e-15, got(2))
    assert(got(3)._1 == 1L && got(3)._2 == 7.0e-8 && got(3)._3 == 7.0e-8)
  }

  test("rolling active: trailing-window distinct users, observed days only") {
    import graft.operators.EventAnalytics
    val D = 86400000000000L
    val ev = Seq(
      (1L, 0L), (1L, 5L),          // u1 active d0 (twice: distinct once)
      (2L, 0L), (2L, 2 * D),       // u2 active d0 and d2
      (3L, 10 * D)).toDF("user_id", "ts") // far day: d2's window must not see it
    val got = EventAnalytics.rollingActive(ev, "user_id", "ts", windowDays = 7)
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // d0: dau 2, wau 2; d2: dau 1 (u2), wau 2 (u1+u2 within 7 days);
    // d10: u3 alone (d2 is 8 days back, outside); d1/d3..d9 not emitted
    assert(got == Map(
      0L -> ((2L, 2L, 1.0)), 2L -> ((1L, 2L, 0.5)), 10L -> ((1L, 1L, 1.0))))
  }

  // -------------------------------------------------------------- sessionize
  test("gap sessionization splits on gap and rolls up stats") {
    val ev = Seq(
      (7L, 1000L, 1.0), (7L, 2000L, 2.0), (7L, 100000L, 3.0),
      (8L, 500L, 4.0)).toDF("user_id", "ts", "value")
    val sess = Sessionize.byGap(ev, "user_id", "ts", gapNanos = 10000L)
    val seqs = sess.select("user_id", "ts", "session_seq")
      .as[(Long, Long, Int)].collect().toSet
    assert(seqs == Set((7L, 1000L, 1), (7L, 2000L, 1), (7L, 100000L, 2), (8L, 500L, 1)))
    val stats = Sessionize.sessionStats(sess, "user_id", "ts", "value")
      .filter(col("user_id") === 7 && col("session_seq") === 1).collect().head
    assert(stats.getAs[Long]("n_events") == 2)
    assert(stats.getAs[Double]("sum_value") == 3.0)
  }

  // ---------------------------------------------------------------- eviction
  test("mmrSelect: duplicate direction demoted below fresh topic; ties to min id") {
    import graft.operators.Assembly
    val cands = Seq(
      ("c1", 1.0, Array(1f, 0f)),
      ("c2", 0.9, Array(1f, 0f)),  // same direction as c1: redundant
      ("c3", 0.5, Array(0f, 1f))). // orthogonal: fresh topic
      toDF("id", "rel", "vec")
    val got = Assembly.mmrSelect(cands, "id", "rel", "vec", k = 3, lambda = 0.5)
      .as[(Int, String, Double)].collect().sortBy(_._1)
    // round 1: no penalty -> c1 (0.5); round 2: c2 = 0.45-0.5 (IEEE, not a
    // clean -0.05) loses to c3 = 0.25-0; round 3: c2 last at its penalized score
    assert(got.toSeq ==
      Seq((1, "c1", 0.5), (2, "c3", 0.25), (3, "c2", 0.5 * 0.9 - 0.5 * 1.0)), got.toSeq)
    // score tie -> min id: two identical candidates
    val tied = Seq(("b", 1.0, Array(1f, 0f)), ("a", 1.0, Array(1f, 0f)))
      .toDF("id", "rel", "vec")
    val first = Assembly.mmrSelect(tied, "id", "rel", "vec", k = 1)
      .as[(Int, String, Double)].collect()(0)
    assert(first == ((1, "a", 0.5)))
  }

  test("evictionTopKRows: scores win above threshold, id order below (V1 quirk); texts") {
    val mk = (n: Int) => (0 until n).map(i =>
      (f"id_$i%03d", s"text $i", Seq.fill(4)(i.toDouble / n)))
    val qv = Seq(1.0, 1.0, 1.0, 1.0)
    val ids = (is: Seq[Int]) => is.map(i => f"id_$i%03d")
    // the Spark plan, checked against the driver fold over the same
    // candidates scored with the same sequential dot
    def evict(rows: Seq[(String, String, Seq[Double])], threshold: Int) = {
      val (kept, evicted) = Assembly.evictionTopKRows(
        rows.toDF("id", "text", "embedding"), qv, threshold)
      val local = Assembly.evictionTopKLocal(rows.map { case (id, _, e) =>
        ScoredId(id, e.zip(qv).foldLeft(0.0) { case (s, (x, y)) => s + x * y }) }, threshold)
      assert(local == ((kept.map(r => ScoredId(r._1, r._3)), evicted)))
      (kept, evicted)
    }
    // no eviction: 5 candidates < threshold 10 => sorted by id, NOT by score
    val (small, evS) = evict(mk(5), 10)
    assert(!evS)
    assert(small.map(_._1) == ids(0 until 5))
    assert(small.map(_._2) == (0 until 5).map(i => s"text $i"))
    // n == threshold: still no eviction, id order
    val (edge, evE) = evict(mk(10), 10)
    assert(!evE && edge.map(_._1) == ids(0 until 10))
    // eviction: 30 candidates > threshold 10 => top-10 by score desc
    val (big, evB) = evict(mk(30), 10)
    assert(evB && big.map(_._1) == ids(29 to 20 by -1))
    // a score tie across the cut: only the id order decides who stays
    val tied = Seq("b" -> 1.0, "d" -> 2.0, "a" -> 1.0, "c" -> 0.5)
      .map { case (id, x) => (id, s"text $id", Seq(x, 0.0, 0.0, 0.0)) }
    val (cut, evT) = evict(tied, 2)
    assert(evT && cut.map(_._1) == Seq("d", "a"))
    // threshold 0 evicts everything
    assert(evict(mk(3), 0) == ((Seq.empty, true)))
  }

  test("passagesForRelations keeps first-seen order and cuts at k (V4)") {
    val ranked = Seq(("r1", 1), ("r2", 2)).toDF("relation_id", "rel_rank")
    val relations = Seq(
      ("r1", Seq("pA", "pB")), ("r2", Seq("pB", "pC", "pD"))).toDF("id", "passage_ids")
    val got = Assembly.passagesForRelations(ranked, relations, topK = 3)
      .orderBy("rank").select("passage_id").as[String].collect().toSeq
    assert(got == Seq("pA", "pB", "pC")) // pB deduped at first-seen position
  }

  // --------------------------------------------------------------------- IVF
  test("IVF search returns valid ranks and high overlap with exact KNN") {
    val emb = spark.read.parquet(sf("embeddings"))
    val queries = emb.filter(col("vec_id") >= 8 && col("vec_id") < 12)
    val index = IvfIndex.build(emb, "vec_id", "embedding", nList = 8)
    assert(index.assignments.count() == emb.count())
    val approx = IvfIndex.search(index, queries,
      "vec_id", "embedding", nProbe = 8, k = 5)
    val exact = VectorSearch.knnJoin(queries, emb,
      "vec_id", "embedding", "vec_id", "embedding", 5)
    // nProbe == nList probes everything => must equal exact KNN
    val a = approx.select("query_id", "rank", "neighbor_id").collect().map(_.toSeq).toSet
    val e = exact.select("query_id", "rank", "neighbor_id").collect().map(_.toSeq).toSet
    assert(a == e)
  }

  test("IVF recall@k is monotone in nProbe and reaches 1.0 at nProbe=nList") {
    val emb = spark.read.parquet(sf("embeddings"))
    val queries = emb.filter(col("vec_id") < 8)
    val index = IvfIndex.build(emb, "vec_id", "embedding", nList = 8)
    val curve = IvfIndex.recallCurve(index, emb, queries,
      "vec_id", "embedding", "vec_id", "embedding", k = 10, nProbes = Seq(1, 2, 4, 8))
    assert(curve.map(_._1) == Seq(1, 2, 4, 8))
    assert(curve.map(_._2) == curve.map(_._2).sorted, s"recall not monotone: $curve")
    assert(curve.last._2 == 1.0, s"nProbe=nList must equal exact KNN: $curve")
    assert(curve.head._2 > 0.0, s"nProbe=1 should still find some neighbors: $curve")
  }

  test("IVF index round-trips through parquet: loaded search equals direct search") {
    val emb = spark.read.parquet(sf("embeddings"))
    val queries = emb.filter(col("vec_id") >= 8 && col("vec_id") < 12)
    val index = IvfIndex.build(emb, "vec_id", "embedding", nList = 8)
    val dir = java.nio.file.Files.createTempDirectory("ivfidx").toString
    IvfIndex.save(index, dir)
    val loaded = IvfIndex.load(spark, dir)
    val direct = IvfIndex.search(index, queries, "vec_id", "embedding", nProbe = 3, k = 5)
      .collect().map(_.toSeq).toSet
    val fromDisk = IvfIndex.search(loaded, queries, "vec_id", "embedding", nProbe = 3, k = 5)
      .collect().map(_.toSeq).toSet
    assert(fromDisk == direct && direct.nonEmpty)
  }

  test("IVF addSaved is add-only: new ids merge into cells, existing ids never duplicate") {
    val emb = spark.read.parquet(sf("embeddings"))
    val first = emb.filter(col("vec_id") < 40)
    val index = IvfIndex.build(first, "vec_id", "embedding", nList = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfadd").toString
    IvfIndex.save(index, dir)
    // delta overlaps the indexed set (30-39) AND brings new ids (40-49)
    val delta = emb.filter(col("vec_id") >= 30 && col("vec_id") < 50)
    IvfIndex.addSaved(spark, dir, delta, "vec_id", "embedding")
    val after = IvfIndex.load(spark, dir)
    val ids = after.assignments.select("id").as[String].collect().toSeq
    assert(ids.length == ids.distinct.length, "duplicated ids in the inverted file")
    assert(ids.toSet == (0 until 50).map(_.toString).toSet)
    // overlapping ids kept their ORIGINAL cell assignment (add-only contract)
    val before = index.assignments
      .select("id", "centroid_id").as[(String, String)].collect().toMap
    val now = after.assignments
      .select("id", "centroid_id").as[(String, String)].collect().toMap
    assert(before.forall { case (id, cell) => now(id) == cell })
    // full-probe search over the grown index still equals exact KNN on its rows
    val grown = emb.filter(col("vec_id") < 50)
    val queries = emb.filter(col("vec_id") >= 45 && col("vec_id") < 48)
    val a = IvfIndex.search(after, queries, "vec_id", "embedding", nProbe = 4, k = 5)
      .select("query_id", "rank", "neighbor_id").collect().map(_.toSeq).toSet
    val e = graft.operators.VectorSearch.knnJoin(queries, grown,
      "vec_id", "embedding", "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id").collect().map(_.toSeq).toSet
    assert(a == e)
  }

  test("IVF deleteSaved prunes cells, removes emptied dirs, empties to a readable layout") {
    val emb = spark.read.parquet(sf("embeddings"))
    val rows = emb.filter(col("vec_id") < 40)
    val dir = java.nio.file.Files.createTempDirectory("ivfdel").toString
    IvfIndex.save(IvfIndex.build(rows, "vec_id", "embedding", nList = 4), dir)
    // delete a slice; full-probe search over the survivor index == exact KNN
    // over the survivor rows (deleted ids are never served)
    val dead = (10 until 20).map(_.toString)
    IvfIndex.deleteSaved(spark, dir, dead)
    val after = IvfIndex.load(spark, dir)
    val ids = after.assignments.select("id").as[String].collect().toSet
    assert(ids == (0 until 40).map(_.toString).toSet -- dead)
    val queries = emb.filter(col("vec_id") >= 12 && col("vec_id") < 15)
    val got = IvfIndex.search(after, queries, "vec_id", "embedding", nProbe = 4, k = 5)
      .select("query_id", "rank", "neighbor_id").collect().map(_.toSeq).toSet
    val exact = graft.operators.VectorSearch.knnJoin(queries,
        rows.filter(!col("vec_id").isInCollection(dead.map(_.toLong))),
        "vec_id", "embedding", "vec_id", "embedding", 5)
      .select("query_id", "rank", "neighbor_id").collect().map(_.toSeq).toSet
    assert(got == exact)
    // unknown ids are a no-op
    IvfIndex.deleteSaved(spark, dir, Seq("99999"))
    assert(IvfIndex.load(spark, dir).assignments.count() == 30)
    // empty the index completely: layout stays readable, addSaved revives it
    IvfIndex.deleteSaved(spark, dir, (0 until 40).map(_.toString))
    val emptied = IvfIndex.load(spark, dir)
    assert(emptied.assignments.isEmpty)
    IvfIndex.addSaved(spark, dir, emb.filter(col("vec_id") < 5), "vec_id", "embedding")
    assert(IvfIndex.load(spark, dir).assignments.count() == 5)
  }

  test("IVF addSaved into an EMPTY saved index works (no centroid self-overwrite)") {
    // Regression (r7 review): the empty-layout branch used to call save(),
    // which rewrote centroids.parquet while idx.centroids lazily read that
    // same path — Spark rejects the self-overwrite, so the FIRST delta into
    // an empty index always crashed. The branch must write only the
    // inverted file.
    val emb = spark.read.parquet(sf("embeddings"))
    val centroids = IvfIndex.build(emb.filter(col("vec_id") < 20), "vec_id", "embedding", nList = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfempty").toString
    IvfIndex.save(IvfIndex.Index(centroids.centroids,
      centroids.assignments.filter(lit(false))), dir) // empty plain layout
    val delta = emb.filter(col("vec_id") < 10)
    IvfIndex.addSaved(spark, dir, delta, "vec_id", "embedding")
    val after = IvfIndex.load(spark, dir)
    assert(after.assignments.select("id").as[String].collect().toSet ==
      (0 until 10).map(_.toString).toSet)
    // second add over the same ids + new ones: dedup still holds on the
    // now-celled layout
    IvfIndex.addSaved(spark, dir, emb.filter(col("vec_id") < 15), "vec_id", "embedding")
    assert(IvfIndex.load(spark, dir).assignments.count() == 15)
  }

  test("IVF block hygiene: repeated addSaved + search pin no residual RDDs") {
    // A streaming-graft service calls addSaved per micro-batch and search per
    // query; either leaking a checkpoint per call surfaces at scale as
    // block-manager pressure (the Bm25 ingest leak's sibling). Pin zero growth.
    val emb = spark.read.parquet(sf("embeddings"))
    val index = IvfIndex.build(emb.filter(col("vec_id") < 20), "vec_id", "embedding", nList = 4)
    val dir = java.nio.file.Files.createTempDirectory("ivfleak").toString
    IvfIndex.save(index, dir)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    for (b <- 0 until 10) {
      val delta = emb.filter(col("vec_id") >= 20 + b * 3 && col("vec_id") < 23 + b * 3)
      IvfIndex.addSaved(spark, dir, delta, "vec_id", "embedding")
    }
    val after = IvfIndex.load(spark, dir)
    IvfIndex.search(after, emb.filter(col("vec_id") < 3),
      "vec_id", "embedding", nProbe = 2, k = 3).count()
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"addSaved/search left ${leaked.size} pinned RDDs across 10 micro-batches + a search")
    assert(after.assignments.select("id").as[String].collect().toSet ==
      (0 until 50).map(_.toString).toSet)
  }

  test("IVF Lloyd refinement (iters=1) keeps complete assignments and valid search") {
    val emb = spark.read.parquet(sf("embeddings"))
    val refined = IvfIndex.build(emb, "vec_id", "embedding", nList = 8, iters = 1)
    assert(refined.assignments.count() == emb.count())
    assert(refined.centroids.count() == 8)
    val got = IvfIndex.search(refined, emb.filter(col("vec_id") < 4),
      "vec_id", "embedding", nProbe = 2, k = 3)
    assert(got.count() == 12)
    assert(got.groupBy("query_id").count().select("count").collect().forall(_.getLong(0) == 3))
  }

  test("deterministic split: stable proportions, stable under repartition") {
    import graft.operators.DatasetSplit
    val df = (0 until 2000).map(i => (i.toLong, s"row $i")).toDF("id", "text")
    val s1 = DatasetSplit.assignSplit(df, "id", Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val counts = s1.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts("train") > 1400 && counts("train") < 1800)
    assert(counts.values.sum == 2000)
    val s2 = DatasetSplit.assignSplit(df.repartition(13), "id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val a = s1.select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val b = s2.select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(a == b)
  }

  test("leakage-safe split: clusters never straddle, singletons match plain split") {
    import graft.operators.DatasetSplit
    val df = (0 until 500).map(i => (i.toLong, s"row $i")).toDF("id", "text")
    // chain clusters {0,1,2} and {10,500->no: keep ids in range} {10,11};
    // transitivity must hold through the chain
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("id_a", "id_b")
    val sp = DatasetSplit.assignSplitLeakageSafe(df, "id", pairs,
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
    val bySplit = sp.select("id", "split", "rep").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    // every cluster member shares its cluster-mates' split AND rep
    assert(Set(bySplit(0L), bySplit(1L), bySplit(2L)).size == 1)
    assert(Set(bySplit(10L), bySplit(11L)).size == 1)
    assert(bySplit(0L)._2 == 0L && bySplit(10L)._2 == 10L) // min-id rep
    // singletons (everything else) are assigned exactly as the plain split
    val plain = DatasetSplit.assignSplit(df, "id",
      Seq("train" -> 80, "val" -> 10, "test" -> 10))
      .select("id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val clustered = Set(0L, 1L, 2L, 10L, 11L)
    df.collect().map(_.getLong(0)).filterNot(clustered).foreach { i =>
      assert(bySplit(i)._1 == plain(i), s"singleton $i moved split")
    }
  }

  // -------------------------------------------------------------- multimodal
  test("multimodal: asset schema, stubbed feature extraction, frame sampling") {
    val docs = Seq(("d1", "x" * 1000), ("d2", "short")).toDF("doc_id", "text")
    val assets = Multimodal.toAssets(docs, "doc_id", "text", "video")
    assert(assets.schema.fieldNames.toSeq ==
      Seq("asset_id", "modality", "payload", "mime", "meta"))
    val feats = Multimodal.extractFeatures(assets, dim = 8).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(feats("d1").getAs[Long]("n_bytes") == 1000L)
    assert(feats("d1").getSeq[Float](3).length == 8)
    val frames = Multimodal.sampleFrames(assets, frameBytes = 100, stride = 2)
    val d1Frames = frames.filter(col("asset_id") === "d1").collect()
    assert(d1Frames.length == 5) // 1000 bytes / (100*2) = 5 windows
    assert(d1Frames.map(_.getAs[Int]("frame_index")).toSeq == (0 until 5))
  }
}
