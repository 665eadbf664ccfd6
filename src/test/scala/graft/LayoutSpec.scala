package graft

import graft.operators.Layout
import org.apache.spark.sql.functions._

class LayoutSpec extends SparkSpec {
  import spark.implicits._

  /** Reference Morton interleave, independent of the Column implementation. */
  private def morton(vals: Seq[Long], bits: Int): Long = {
    val n = vals.size
    (for {
      i <- 0 until bits
      (v, ci) <- vals.zipWithIndex
    } yield ((v >>> i) & 1L) << (i * n + ci)).sum
  }

  test("zorderKey matches the reference interleave and is bijective on a grid") {
    val grid = for (x <- 0 until 16; y <- 0 until 16) yield (x, y)
    val got = grid.toDF("x", "y")
      .select(col("x"), col("y"),
        Layout.zorderKey(Seq(col("x"), col("y")), 4).as("z"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    grid.foreach { case (x, y) =>
      assert(got((x, y)) == morton(Seq(x, y), 4), s"($x,$y)")
    }
    assert(got.values.toSet.size == grid.size, "Morton keys must be unique")
    // axis projections: x occupies even bit positions, y odd
    assert(got((5, 0)) == morton(Seq(5L, 0L), 4))
    assert(got((0, 5)) == 2 * morton(Seq(5L, 0L), 4))
  }

  test("zorderKey preserves locality: neighbors in z-order are close in both dims") {
    // the classic property check: walking the 16x16 grid in z-order, the
    // Chebyshev distance between consecutive cells stays small on average
    // (vs ~lexicographic order whose row jumps are distance 15)
    val grid = for (x <- 0L until 16L; y <- 0L until 16L) yield (x, y)
    val inZ = grid.sortBy { case (x, y) => morton(Seq(x, y), 4) }
    val jumps = inZ.zip(inZ.tail).map { case ((x1, y1), (x2, y2)) =>
      math.max(math.abs(x1 - x2), math.abs(y1 - y2))
    }
    assert(jumps.count(_ <= 2).toDouble / jumps.size > 0.85, jumps.max.toString)
  }

  test("zorderKey is deterministic vs the reference even past the bit budget") {
    // values ≥ 2^bits break locality by contract but must still produce the
    // reference key (low bits only) — fuzz across the boundary
    val rnd = new scala.util.Random(11)
    val vals = (0 until 300).map(_ => (rnd.nextLong(1L << 24), rnd.nextLong(1L << 24)))
    val got = vals.toDF("x", "y")
      .select(col("x"), col("y"), Layout.zorderKey(Seq(col("x"), col("y")), 12).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    vals.foreach { case (x, y) =>
      assert(got((x, y)) == morton(Seq(x, y), 12), s"($x,$y)")
    }
  }

  test("clusterBy: non-overlapping partition key ranges, sorted within partitions") {
    val rnd = new scala.util.Random(7)
    val rows = (0 until 2000).map(_ => (rnd.nextInt(1 << 10), rnd.nextInt(1 << 10)))
      .toDF("x", "y")
    val clustered = Layout.clusterBy(rows, Seq("x", "y"), bits = 10, numPartitions = 8)
    val withPart = clustered
      .withColumn("z", Layout.zorderKey(Seq(col("x"), col("y")), 10))
      .withColumn("p", spark_partition_id())
    // ranges per partition must not overlap — the file-level min/max pruning
    // property clusterBy exists for
    val ranges = withPart.groupBy("p").agg(min("z").as("lo"), max("z").as("hi"))
      .collect().map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    ranges.zip(ranges.tail).foreach { case ((_, hi), (lo2, _)) =>
      assert(hi <= lo2, s"overlapping partition ranges: $hi > $lo2")
    }
    // and rows inside each partition are z-sorted
    val perPart = withPart.select("p", "z").collect()
      .groupBy(_.getInt(0)).values
    perPart.foreach { rs =>
      val zs = rs.map(_.getLong(1)).toSeq
      assert(zs == zs.sorted, "rows not sorted within partition")
    }
  }

  test("compact: many small files collapse to size-targeted few, content intact") {
    import graft.operators.Layout
    val dir = java.nio.file.Files.createTempDirectory("compact").toString + "/t"
    // 32 partitions of a small table -> 32 tiny files
    spark.range(0, 2000).toDF("v").repartition(32).write.parquet(dir)
    val (n0, bytes) = Layout.fileStats(spark, dir)
    assert(n0 == 32 && bytes > 0)
    val before = spark.read.parquet(dir).as[Long].collect().sorted.toSeq
    // target = all bytes in ~2 files
    val n1 = Layout.compact(spark, dir, targetBytes = bytes / 2 + 1,
      sortCol = Some("v"))
    assert(n1 <= 3 && n1 >= 1, s"got $n1 files")
    assert(Layout.fileStats(spark, dir)._1 == n1)
    val after = spark.read.parquet(dir).as[Long].collect().sorted.toSeq
    assert(after == before, "compaction changed the data")
    // the swap leaves neither its staging nor its backup directory behind,
    // and a second compaction of the same table stages afresh
    def siblings = new java.io.File(dir).getParentFile.list().toSeq.sorted
    assert(siblings == Seq("t"), s"left behind: $siblings")
    assert(Layout.compact(spark, dir, targetBytes = bytes) == 1)
    assert(siblings == Seq("t"), s"left behind: $siblings")
    assert(spark.read.parquet(dir).as[Long].collect().sorted.toSeq == before)
  }
}
