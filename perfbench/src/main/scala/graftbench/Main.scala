package graftbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Benchmark entry point: one workload per JVM.
  *
  *   Main --workload <rag-serve|rag-mixed|corpus-dedup> --seed <n> --seconds <s>
  *        --trace <0|1> --work <dir> --cpus <n>
  *   Main --prepare --work <dir> --cpus <n>
  *
  * Paths are relative to the repository root (the working directory).
  * `--prepare` builds the rag-serve store (see ServeStore).
  * The last stdout line is the result object; earlier lines describe the run. */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, cpus: Int, prepare: Boolean)

  private def parse(argv: Array[String]): Args = {
    val kv = mutable.Map.empty[String, String]
    var prepare = false
    var i = 0
    while (i < argv.length) {
      argv(i) match {
        case "--prepare" => prepare = true; i += 1
        case k if k.startsWith("--") && i + 1 < argv.length => kv(k.drop(2)) = argv(i + 1); i += 2
        case other => throw new IllegalArgumentException(s"unexpected argument: $other")
      }
    }
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(kv.getOrElse("workload", ""), kv.getOrElse("seed", "0").toLong,
      kv.getOrElse("seconds", "10").toInt, kv.getOrElse("trace", "0") == "1",
      Paths.get(need("work")).toAbsolutePath, need("cpus").toInt, prepare)
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    Files.createDirectories(a.work)
    val spark = session(a)
    val code =
      try {
        if (a.prepare) { ServeStore.prepare(spark, a.work); 0 }
        else {
          val ctx = new Context(spark, a)
          val out = a.workload match {
            case "rag-serve" => RagServe.run(ctx)
            case "rag-mixed" => RagMixed.run(ctx)
            case "corpus-dedup" => CorpusDedup.run(ctx)
            case w => throw new IllegalArgumentException(s"unknown workload '$w'")
          }
          if (a.trace) {
            val spans = a.work.resolve(s"spans-${a.workload}-seed${a.seed}.jsonl")
            ctx.tracer.writeSpans(spans, out.ops, ctx.wallMs)
            println(Json.obj("spans" -> spans.toString, "jobs" -> ctx.tracer.jobSpans.size))
          }
          report(ctx, out)
          if (out.correct) 0 else 1
        }
      } finally spark.stop()
    sys.exit(code)
  }

  /** Everything but the last line is for people; the last line is the result. */
  private def report(ctx: Context, out: Outcome): Unit = {
    val ops = out.ops.filter(_.phase == "load")
    val byKind = out.ops.groupBy(o => (o.phase, o.kind)).toSeq.sortBy(_._1).map {
      case ((phase, kind), os) =>
        Map("phase" -> phase, "op" -> kind, "attempted" -> os.size,
          "succeeded" -> os.count(_.ok), "failed" -> os.count(!_.ok),
          "failures_by_class" -> os.flatMap(_.error).groupBy(identity).map { case (k, v) => k -> v.size })
    }
    println(Json.obj("accounting" -> byKind,
      "rule" -> ("failed ops count against attempted ops and are kept out of every " +
        "latency percentile; no op is retried")))
    println(Json.obj("latencies_ms" -> out.ops.map(o =>
      Map("op" -> o.kind, "phase" -> o.phase, "ms" -> math.round(o.latencyMs), "ok" -> o.ok)))) 
    out.notes.foreach { case (k, v) => println(Json.obj(k -> v)) }
    out.problems.take(20).foreach(p => println(Json.obj("check_failed" -> p)))
    val metrics = out.metrics.toSeq.sortBy(_._1).map { case (k, m) => k -> m }.toMap
    println(Json.obj("correct" -> out.correct, "attempted" -> ops.size,
      "failed" -> ops.count(!_.ok), "metrics" -> metrics))
  }
}

/** What a workload reports back. Ops of phase "load" are the measured ones. */
final case class Outcome(correct: Boolean, problems: Seq[String], ops: Seq[OpRecord],
    metrics: Map[String, Metric], notes: Seq[(String, Any)])

/** Per-run services shared by the workloads: timing, op bookkeeping, tracing. */
final class Context(val spark: SparkSession, val args: Main.Args) {
  val cpus: Int = args.cpus
  val work: Path = args.work
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  def wallMs(ns: Long): Double = baseMs + (ns - baseNs) / 1e6

  private val counter = new java.util.concurrent.atomic.AtomicLong()
  private val records = new java.util.concurrent.ConcurrentLinkedQueue[OpRecord]()
  def ops: Seq[OpRecord] = { import scala.jdk.CollectionConverters._; records.asScala.toSeq }

  /** The tracer is attached only while `traced` is true (see [[traceOn]]). */
  val tracer = new Tracer
  @volatile var traced = false
  def traceOn(): Unit = { spark.sparkContext.addSparkListener(tracer); traced = true }
  def traceOff(): Unit = { traced = false; spark.sparkContext.removeSparkListener(tracer) }

  /** Runs one op, never retried; a failure is recorded with its exception class. */
  def op[A](kind: String, phase: String, dueNs: Long = -1L)(f: => A): (OpRecord, Option[A]) = {
    val id = s"$kind-${counter.incrementAndGet()}"
    val sc = spark.sparkContext
    val tracedOp = traced
    // the group id alone: a job description would replace the call site
    // that SQL executions report (see Tracer)
    if (tracedOp) sc.setLocalProperty("spark.jobGroup.id", id)
    val t0 = System.nanoTime()
    val res = try Right(f) catch { case e: Exception => Left(e) }
    val t1 = System.nanoTime()
    if (tracedOp) sc.setLocalProperty("spark.jobGroup.id", null)
    val rec = OpRecord(id, kind, phase, t0, t1, res.isRight,
      res.left.toOption.map(Context.errorClass), dueNs)
    records.add(rec)
    (rec, res.toOption)
  }

  /** Progress line on stderr, seconds since the run started. */
  def log(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.nanoTime() - baseNs) / 1e9}%8.2f s] $msg")

  def seconds[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime(); val r = f; ((System.nanoTime() - t0) / 1e9, r)
  }

  /** Used heap after a full collection plus Spark blocks held outside the
    * heap. Spark frees the blocks of collected broadcasts and RDDs from its
    * cleaner thread after a collection, so collect until the used heap stops
    * falling (at most five rounds) and keep the lowest reading. */
  def heapLiveMb(): Double = {
    val rt = Runtime.getRuntime
    def used(): Double = { System.gc(); (rt.totalMemory() - rt.freeMemory()).toDouble }
    var best = used()
    var rounds = 1
    var falling = true
    while (falling && rounds < 5) {
      Thread.sleep(300)
      val u = used()
      falling = u < best * 0.99
      best = math.min(best, u)
      rounds += 1
    }
    val offHeap = spark.sparkContext.getRDDStorageInfo.map(r =>
      r.diskSize + (if (r.storageLevel.useOffHeap) r.memSize else 0L)).sum
    (best + offHeap) / 1e6
  }

  def storageMb(): Double =
    spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1e6
}

object Context {
  /** Exception class plus Spark's error class when there is one, e.g.
    * `SparkException[FAILED_READ_FILE.FILE_NOT_EXIST]`. */
  def errorClass(e: Throwable): String = {
    val chain = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq
    val sparkClass = chain.collectFirst {
      case t: org.apache.spark.SparkThrowable if t.getCondition != null => t.getCondition
    }
    e.getClass.getSimpleName + sparkClass.map(c => s"[$c]").getOrElse("")
  }
}
