package graftbench

/** Turns op records and trace spans into the printed metrics. */
object Measures {

  /** Files whose Spark jobs are attributed by call site: those a retrieve
    * submits jobs from, and those only a write does (`writeCallSiteFiles`,
    * reported by workloads with a writer). `VectorSearch` and `GraphStore`
    * are not among them: neither a retrieve nor a write calls an action
    * there (their KNN and rewrite plans run inside jobs that the files above
    * and `GraphRag` submit), so their counts would be 0 by construction. */
  val callSiteFiles: Seq[String] = Seq("operators.SubgraphExpansion", "operators.Assembly")
  val writeCallSiteFiles: Seq[String] = Seq("sources.BucketedTable", "operators.GraphBuilder")

  /** Direct public-function timings, write-path measures and corpus operator
    * stage times; a workload that does not exercise one reports 0 for it. */
  val directNames: Seq[(String, String)] = Seq(
    "functions.HashEmbedder.embed_ms" -> "ms", "functions.HashEmbedder.embedInto_s" -> "s",
    "operators.GraphBuilder.build_s" -> "s", "sources.GraphStore.save_s" -> "s",
    "sources.GraphStore.read_after_write_ms" -> "ms",
    "operators.Dedup.exact_s" -> "s", "operators.Dedup.near_dup_s" -> "s",
    "operators.Dedup.semDedup_s" -> "s", "operators.Bm25.build_s" -> "s",
    "operators.Bm25.score_s" -> "s")

  /** The scheduled writer's measures, reported by workloads with a writer. */
  val writerNames: Seq[(String, String)] = Seq(
    "writer.lateness_ms" -> "ms", "writer.write_p50_ms" -> "ms")

  /** One line of a closed-loop client: its ops, in order. */
  type Client = Seq[OpRecord]

  /** End-to-end metrics of the load phase. `docsOf` counts the documents one
    * successful read delivered (passages returned, or corpus documents passed). */
  def endToEnd(clients: Seq[Client], loadStartNs: Long, readKind: String,
      docsOf: OpRecord => Double, setupS: Double, heapMb: Double): Map[String, Metric] = {
    val reads = clients.flatten.filter(o => o.kind == readKind && o.ok)
    // Closed-loop throughput: each client's completed reads over the time up
    // to its own last completion, summed over clients (no cut-off rounding).
    def rate(f: OpRecord => Double): Double = clients.filter(_.nonEmpty).map { c =>
      val span = (c.map(_.endNs).max - loadStartNs) / 1e9
      c.filter(o => o.kind == readKind && o.ok).map(f).sum / span
    }.sum
    // with no successful read the percentiles are undefined (printed as null)
    val lat = reads.map(_.latencyMs)
    def pct(q: Double): Double = if (lat.isEmpty) Double.NaN else Stats.percentile(lat, q)
    Map(
      "setup_s" -> Metric(setupS, "s"),
      "reads_per_s" -> Metric(rate(_ => 1.0), "1/s"),
      "read_p50_ms" -> Metric(pct(50), "ms"),
      "read_p90_ms" -> Metric(pct(90), "ms"),
      "docs_per_s" -> Metric(rate(docsOf), "1/s"),
      "heap_live_mb" -> Metric(heapMb, "MB"))
  }

  /** Per-op layer metrics over the traced ops; `codegen` and `gcMs` are the
    * counters' deltas over the traced load, `storageMb` its end level.
    * `writer`: the workload has a scheduled writer, whose layers it adds. */
  def perLayer(ctx: Context, traced: Seq[OpRecord],
      codegen: (Long, Double), gcMs: Long, storageMb: Double,
      overheadPct: Double, direct: Map[String, Double],
      writer: Boolean = false): Map[String, Metric] = {
    val spans = ctx.tracer.jobSpans.groupBy(_.opId)
    val n = math.max(1, traced.size).toDouble
    val jobs = traced.flatMap(o => spans.getOrElse(o.id, Nil))
    def per(f: Tracer.JobSpan => Double, js: Seq[Tracer.JobSpan] = jobs): Double =
      js.map(f).sum / n
    val base = Map(
      "spark.jobs" -> Metric(jobs.size / n, "count"),
      "spark.tasks" -> Metric(per(_.tasks.toDouble), "count"),
      "spark.task_ms" -> Metric(per(_.taskMs.toDouble), "ms"),
      "spark.task_cpu_ms" -> Metric(per(_.cpuMs), "ms"),
      "spark.sched_wait_ms" -> Metric(per(_.waitMs.toDouble), "ms"),
      "spark.codegen_compiles" -> Metric(codegen._1 / n, "count"),
      "spark.codegen_ms" -> Metric(codegen._2 / n, "ms"),
      "spark.shuffle_mb" -> Metric(per(_.shuffleBytes.toDouble) / 1e6, "MB"),
      "spark.gc_ms" -> Metric(gcMs / n, "ms"),
      "spark.storage_mb" -> Metric(storageMb, "MB"),
      "trace.overhead_pct" -> Metric(overheadPct, "%"))

    // GraphRag.retrieve: jobs per retrieve, and op time no job of it covers.
    val retrieves = traced.filter(_.kind == "retrieve")
    val rag = if (retrieves.isEmpty) Map("rag.GraphRag.jobs" -> 0.0, "rag.GraphRag.driver_ms" -> 0.0)
    else {
      val perOp = retrieves.map { o =>
        val js = spans.getOrElse(o.id, Nil)
        val covered = union(js.map(j => (j.start.toDouble, (if (j.end < 0) j.start else j.end).toDouble)))
        (js.size.toDouble, (o.endNs - o.startNs) / 1e6 - covered)
      }
      Map("rag.GraphRag.jobs" -> perOp.map(_._1).sum / perOp.size,
        "rag.GraphRag.driver_ms" -> perOp.map(_._2).sum / perOp.size)
    }
    val ragM = rag.map { case (k, v) => k -> Metric(v, if (k.endsWith("_ms")) "ms" else "count") }

    val sites = (callSiteFiles ++ (if (writer) writeCallSiteFiles else Nil)).flatMap { f =>
      val js = jobs.filter(_.file == f)
      Seq(s"$f.jobs" -> Metric(js.size / n, "count"),
        s"$f.job_ms" -> Metric(per(j => math.max(0L, j.end - j.start).toDouble, js), "ms"),
        s"$f.task_ms" -> Metric(per(_.taskMs.toDouble, js), "ms"))
    }
    val directM = (directNames ++ (if (writer) writerNames else Nil))
      .map { case (k, u) => k -> Metric(direct.getOrElse(k, 0.0), u) }
    base ++ ragM ++ sites ++ directM
  }

  /** Total length of a set of intervals. */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    iv.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, math.max(ce, e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    total + cur.map { case (s, e) => e - s }.getOrElse(0.0)
  }
}
