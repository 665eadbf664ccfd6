package graftbench

/** The measured phase shared by the workloads.
  *
  * Untraced runs measure one window of `--seconds`. Traced runs measure that
  * same window untraced, then replay it twice, first with the tracer attached
  * and then without: in a replay every client issues the same number of ops
  * again, the k-th op of a client asking what its k-th op asked in the first
  * window. The traced replay's read median against the mean of the two
  * untraced ones is the tracing overhead, on the same questions and with a
  * steady drift of latency (JIT warm-up) cancelled. */
object Load {

  final case class Window(startNs: Long, clients: Seq[Measures.Client])

  /** Whether client `c`, having issued `k` ops, issues another one that
    * would start at `atNs`. */
  type Until = (Int, Int, Long) => Boolean

  /** One closed-loop client `c`: issues `step(k)` (k = 0, 1, …) while `until`
    * allows; an op in flight when the window closes completes. */
  def closedLoop(c: Int, until: Until)(step: Int => OpRecord): Measures.Client = {
    val out = Seq.newBuilder[OpRecord]
    var k = 0
    while (until(c, k, System.nanoTime())) { out += step(k); k += 1 }
    out.result()
  }

  /** Runs `window(startNs, until)` once (untraced) or twice (traced). */
  def measure(ctx: Context, readKind: String)(window: (Long, Until) => Seq[Measures.Client])
      : (Window, Option[Traced]) = {
    val total = ctx.args.seconds * 1000000000L
    ctx.log(s"load phase: ${ctx.args.seconds} s, trace=${ctx.args.trace}")
    val s0 = System.nanoTime()
    val plain = Window(s0, window(s0, (_, _, at) => at < s0 + total))
    if (!ctx.args.trace) (plain, None)
    else {
      val counts = plain.clients.map(_.size)
      ctx.log(s"traced replay: ${counts.mkString("+")} ops")
      ctx.traceOn()
      val cg0 = Tracer.codegen(); val gc0 = Tracer.gcMillis()
      val s1 = System.nanoTime()
      val traced = Window(s1, window(s1, (c, k, _) => k < counts(c)))
      val cg1 = Tracer.codegen(); val gc1 = Tracer.gcMillis()
      val storage = ctx.storageMb()
      ctx.traceOff()
      ctx.log("untraced replay")
      val s2 = System.nanoTime()
      val again = Window(s2, window(s2, (c, k, _) => k < counts(c)))
      def p50(w: Window): Double = {
        val l = w.clients.flatten.filter(o => o.kind == readKind && o.ok).map(_.latencyMs)
        if (l.isEmpty) Double.NaN else Stats.median(l)
      }
      val untraced = (p50(plain) + p50(again)) / 2
      val overhead = (p50(traced) - untraced) / untraced * 100.0
      (plain, Some(Traced(traced, (cg1._1 - cg0._1, cg1._2 - cg0._2), gc1 - gc0, storage, overhead)))
    }
  }

  final case class Traced(window: Window, codegen: (Long, Double), gcMs: Long,
      storageMb: Double, overheadPct: Double)
}
