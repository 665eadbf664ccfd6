package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** The one bound on driver-side collects. Every operator that answers on the
  * driver fetches its input through [[collect]]: subgraph expansion's id
  * sets (past the bound it fails fast), connected components' edge list and
  * SemDeDup's vector rows (past the bound they keep their distributed
  * plans, see [[Dedup.connectedComponents]] and [[Dedup.semDedup]]). */
object DriverBound {

  /** Default ceiling on a driver-collected working set: 2^20 ids per
    * expansion collect, 2^20 edges per connected-components collect, and
    * 2^20 vector components (rows × dimension) per SemDeDup collect, whose
    * within-cell scan is quadratic in rows.
    *
    * Driver bytes at the cap, from object layouts on a 64-bit JVM with
    * compressed oops (estimates, not measurements):
    *  - an id or edge row: a `Row` (~40 B) plus its ids, a boxed `Long`
    *    (16 B) or a `String` (~40 B + 1 B per Latin-1 character), so ~200 B
    *    per edge of 32-character md5 ids: ~200 MB at the cap, then ~50 B per
    *    distinct node for the union-find;
    *  - a vector row: ~20 B per component while collected (a boxed `Float`
    *    or `Double` and its reference), then 8 B per component as a
    *    `double[]`, plus ~100 B for the row and its id: ≤ ~30 MB of
    *    components at the cap, whatever the dimension. */
  val DefaultMaxWorkingSet: Int = 1 << 20

  /** `df`'s rows when it has at most `cap` of them, else None. One job: the
    * `limit(cap + 1)` bounds the transfer, not just the check. */
  def collect(df: DataFrame, cap: Int): Option[Array[Row]] = {
    require(cap >= 0 && cap < Int.MaxValue, s"cap must be in [0, Int.MaxValue), got $cap")
    val rows = df.limit(cap + 1).collect()
    if (rows.length > cap) None else Some(rows)
  }
}
