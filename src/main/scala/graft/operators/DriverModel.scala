package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.graftbridge.SessionBridge

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
    *
    * The collect runs as one job over every partition. Spark runs a
    * collected limit as a take that scans `spark.sql.limit.
    * initialNumPartitions` partitions (default 1) in a first job and the
    * rest in a second; the limit is planned here on a clone of `df`'s
    * session whose initial count covers every partition (the caller's
    * conf is never written). Each task stops at cap + 1 rows, so at most
    * partitions × (cap + 1) serialized rows reach the driver, and at
    * most cap + 1 of them are decoded.
    */
  def collectBounded(df: DataFrame, cap: Int): Option[Array[Row]] = {
    require(cap >= 0 && cap < Int.MaxValue, s"collectBounded: cap $cap")
    val rows = SessionBridge.collectWithConf(df.limit(cap + 1),
      "spark.sql.limit.initialNumPartitions", Int.MaxValue.toString)
    if (rows.length <= cap) Some(rows) else None
  }
}
