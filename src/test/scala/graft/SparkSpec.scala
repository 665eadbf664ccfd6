package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite (lazy), the engine profile on 4 threads —
  * fixed, not the host's core count, so partition-dependent tests see the
  * same layout on every machine. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = EngineSession.builder(cores = 4)
    .appName(getClass.getSimpleName)
    .getOrCreate()

  def sf(name: String): String = s"/root/testdata/sf0.001/$name.parquet"

  /** `f` over `xs` from a pool of `threads` driver threads, results in input
    * order: Spark-path retrieves are driver-bound job chains, so concurrent
    * submission overlaps their planning and scheduling waits. */
  def parMap[A, B](xs: Seq[A], threads: Int = 4)(f: A => B): Seq[B] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.traverse(xs)(x => Future(f(x))), Duration.Inf)
    finally pool.shutdown()
  }
}
