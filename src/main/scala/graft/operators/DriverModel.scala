package graft.operators

import org.apache.spark.sql.{DataFrame, Row}

/** Model state kept on the driver. Iterative kernels and literal-sized
  * workloads (a power iteration's direction vector, a query batch's
  * candidate window, a literal query matrix) are small next to the data
  * they summarize; fetching them once and finishing on the driver beats
  * a chain of fixed-overhead Spark jobs. The fetch is bounded, so a
  * frame that turns out to be data-sized is never pulled onto the driver
  * whole.
  */
object DriverModel {

  /** Default row bound of [[collectBounded]] callers: 1M rows of a few
    * columns is tens of MB of driver heap.
    */
  val DefaultCap: Int = 1 << 20

  /** A bounded driver fetch that found more rows than its cap. */
  final class CapExceeded(msg: String) extends IllegalStateException(msg)

  /** All rows of `df` when it has at most `cap` of them, else None. One
    * `limit(cap + 1)` collect both decides and fetches: the extra row
    * proves something was cut off, so a `Some` is always the complete
    * frame.
    */
  def collectBounded(df: DataFrame, cap: Int): Option[Array[Row]] = {
    require(cap >= 0 && cap < Int.MaxValue, s"collectBounded: cap $cap")
    val rows = df.limit(cap + 1).collect()
    if (rows.length <= cap) Some(rows) else None
  }
}
