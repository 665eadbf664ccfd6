package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame}

/** Z-order (Morton) data layout — multi-dimensional locality for 100 TB scan
  * pruning: rows sorted by the bit-interleaved key of several columns land
  * near their neighbors in EVERY dimension, so parquet min/max row-group
  * stats (and partition-level sorting) prune selective filters on ANY of the
  * interleaved columns, not just the leading sort key. The lakehouse
  * standard for multi-filter fact tables (Delta/Iceberg expose the same op);
  * here it is a plain deterministic expression + range repartition, nothing
  * engine-specific.
  *
  * The key is pure bit arithmetic (shift/and/or of longs) — codegen'd end to
  * end, no UDF, and expressible 1:1 in SQL for the oracle.
  */
object Layout {

  /** Morton key: bit `i` of column `c` lands at position `i * nCols + c`.
    * Columns must be non-negative integers; only the low `bits` bits of each
    * participate (values ≥ 2^bits still produce a deterministic key but
    * break locality — normalize or bucket upstream). `bits * nCols ≤ 63`
    * keeps the key in a signed long. */
  def zorderKey(cols: Seq[Column], bits: Int): Column = {
    require(cols.nonEmpty, "zorderKey needs at least one column")
    require(bits >= 1 && bits * cols.size <= 63,
      s"bits=$bits × ${cols.size} cols must fit a signed long (≤ 63 bits)")
    val n = cols.size
    val terms = for {
      i <- 0 until bits
      (c, ci) <- cols.zipWithIndex
    } yield shiftleft(
      shiftrightunsigned(c.cast("long"), i).bitwiseAND(lit(1L)), i * n + ci)
    terms.reduce(_ + _)
  }

  /** Cluster `df` for writing: range-repartition on the Morton key (contiguous
    * non-overlapping key ranges per partition — the property that makes
    * file-level min/max pruning work) and sort rows within each partition.
    * The key column is dropped again; pass the result straight to a writer. */
  def clusterBy(df: DataFrame, cols: Seq[String], bits: Int,
      numPartitions: Int): DataFrame = {
    require(numPartitions >= 1)
    df.withColumn("__z", zorderKey(cols.map(col), bits))
      .repartitionByRange(numPartitions, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z")
  }

  /** Small-files compaction: rewrite a parquet directory into
    * ⌈bytes / targetBytes⌉ size-targeted files — THE operational 100 TB
    * table-maintenance op. Streaming sinks, bucket-pruned CRUD and
    * fine-grained ingests each leave a trickle of small files; a scan's
    * task count (and the namenode's metadata load) is proportional to file
    * count, so a million 1 MB files turn a 10-second scan into a scheduling
    * storm. The on-disk byte size comes from the FileSystem listing (no
    * data pass), the rewrite is one read → `repartition(n)` → a write into
    * a staging directory unique to this call (parquet cannot be rewritten in
    * place from itself), and an optional `sortCol` re-sorts within each
    * output file so min/max pruning survives the compaction.
    *
    * The swap is rename-aside: live → backup, staged → live, then the backup
    * is deleted. A complete copy of the table exists at every step, under
    * the live path or the backup, and a failed second rename moves the
    * backup back. Staging and backup are siblings named
    * `{path}.compact-{uuid}` and `{path}.backup-{uuid}`, so concurrent
    * compactions never share one; a crash between the two renames leaves
    * the old table whole under the backup name.
    *
    * Returns the output file count. Compact when
    * `avg file size ≪ targetBytes`; a no-op-sized input still rewrites
    * (callers gate on [[fileStats]]). */
  def compact(spark: org.apache.spark.sql.SparkSession, path: String,
      targetBytes: Long, sortCol: Option[String] = None): Int = {
    import org.apache.hadoop.fs.Path
    require(targetBytes > 0)
    val (nFiles, totalBytes) = fileStats(spark, path)
    require(nFiles > 0, s"compact: no parquet files under $path")
    val n = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val live = new Path(path)
    val fs = live.getFileSystem(spark.sessionState.newHadoopConf())
    val uuid = java.util.UUID.randomUUID()
    val staged = new Path(s"$path.compact-$uuid")
    val backup = new Path(s"$path.backup-$uuid")
    val rows = spark.read.parquet(path).repartition(n)
    val sorted = sortCol.fold(rows)(c => rows.sortWithinPartitions(c))
    try sorted.write.parquet(staged.toString)
    catch { case e: Throwable => fs.delete(staged, true); throw e }
    if (!fs.rename(live, backup)) {
      fs.delete(staged, true)
      throw new java.io.IOException(s"compact: could not move $path aside to $backup")
    }
    if (!fs.rename(staged, live)) {
      fs.rename(backup, live)
      fs.delete(staged, true)
      throw new java.io.IOException(s"compact: could not move $staged to $path; table restored")
    }
    fs.delete(backup, true)
    fileStats(spark, path)._1
  }

  /** (parquet file count, total bytes) of a directory from the FileSystem
    * listing — the compaction trigger input, no data pass. */
  def fileStats(spark: org.apache.spark.sql.SparkSession,
      path: String): (Int, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(p)) return (0, 0L)
    val it = fs.listFiles(p, true)
    var n = 0
    var bytes = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
    }
    (n, bytes)
  }
}
