package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}
import scala.collection.mutable.ArrayBuilder

/** Model state kept on the driver. Iterative kernels and literal-sized
  * workloads (a power iteration's direction vector, a query batch's
  * candidate window, a literal query matrix) are small next to the data
  * they summarize; fetching them once and finishing on the driver beats
  * a chain of fixed-overhead Spark jobs. Every fetch is bounded, so a
  * frame that turns out to be data-sized is never pulled onto the driver
  * whole:
  *
  *  - [[collectBounded]] fetches at most `cap` rows of any frame;
  *  - [[fetchArrays]] fetches an `(id, array)` frame of at most `cap`
  *    array cells as flat primitive arrays, with no object per row or
  *    per cell, for kernels that loop over every cell.
  */
object DriverModel {

  /** Default bound of [[collectBounded]] rows and [[fetchArrays]] cells:
    * 1M rows of a few columns, or 1M cells of 8 bytes, is tens of MB of
    * driver heap.
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

  /** The rows of an `(id BIGINT, array)` frame, flat: row r has id
    * `ids(r)` (NULL when `idNull(r)`) and the array elements
    * `start(r) until start(r + 1)`, NULL where `elemNull` is set. A NULL
    * and an empty array both have no elements. `bits` holds each
    * element's 64 bits: a BIGINT as is, a DOUBLE as its raw IEEE bits
    * ([[double]] reads it back).
    */
  final class ArrayRows(val ids: Array[Long], val idNull: Array[Boolean],
      val start: Array[Int], val bits: Array[Long],
      val elemNull: Array[Boolean]) {
    def rows: Int = ids.length
    def double(i: Int): Double = java.lang.Double.longBitsToDouble(bits(i))
  }

  /** All rows of `df`, an `(id BIGINT, array<BIGINT or DOUBLE>)` frame,
    * when it holds at most `cap` cells, else None. Cells count like
    * `posexplode_outer` rows: one per element, and one for a NULL or
    * empty array.
    *
    * One job reads every partition's `InternalRow`s directly into
    * primitive arrays (no `Row`, no encoder). A task stops before the row
    * that would take its partition past `cap` cells and says so, so at
    * most partitions × `cap` cells are serialized, and a `Some` is always
    * the complete frame.
    */
  def fetchArrays(df: DataFrame, cap: Int): Option[ArrayRows] = {
    require(cap >= 0, s"fetchArrays: cap $cap")
    val schema = df.schema
    require(schema.length == 2 && schema(0).dataType == LongType,
      s"fetchArrays: want (id BIGINT, array), got $schema")
    val isDouble = schema(1).dataType match {
      case ArrayType(LongType, _) => false
      case ArrayType(DoubleType, _) => true
      case t => throw new IllegalArgumentException(
        s"fetchArrays: want array<bigint> or array<double>, got $t")
    }
    val parts = df.queryExecution.toRdd
      .mapPartitions(it => Iterator(readPart(it, cap, isDouble)))
      .collect()
    val cells = parts.iterator.map(_.cells).sum
    if (parts.exists(_.cut) || cells > cap) None
    else Some(concat(parts))
  }

  /** One task's rows: lens(r) elements per row, `cells` counted as in
    * [[fetchArrays]], `cut` when the task stopped early.
    */
  private final class Part(val ids: Array[Long], val idNull: Array[Boolean],
      val lens: Array[Int], val bits: Array[Long],
      val elemNull: Array[Boolean], val cells: Long, val cut: Boolean)
      extends Serializable

  private def readPart(it: Iterator[InternalRow], cap: Int,
      isDouble: Boolean): Part = {
    val ids = new ArrayBuilder.ofLong
    val idNull = new ArrayBuilder.ofBoolean
    val lens = new ArrayBuilder.ofInt
    val bits = new ArrayBuilder.ofLong
    val elemNull = new ArrayBuilder.ofBoolean
    var cells = 0L
    var cut = false
    while (!cut && it.hasNext) {
      val row = it.next()
      val arr = if (row.isNullAt(1)) null else row.getArray(1)
      val len = if (arr == null) 0 else arr.numElements()
      if (cells + math.max(len, 1) > cap) cut = true
      else {
        cells += math.max(len, 1)
        val nullId = row.isNullAt(0)
        ids.addOne(if (nullId) 0L else row.getLong(0))
        idNull.addOne(nullId)
        lens.addOne(len)
        var i = 0
        while (i < len) {
          val isNull = arr.isNullAt(i)
          bits.addOne(if (isNull) 0L
            else if (isDouble)
              java.lang.Double.doubleToRawLongBits(arr.getDouble(i))
            else arr.getLong(i))
          elemNull.addOne(isNull)
          i += 1
        }
      }
    }
    new Part(ids.result(), idNull.result(), lens.result(), bits.result(),
      elemNull.result(), cells, cut)
  }

  private def concat(parts: Array[Part]): ArrayRows = {
    val ids = Array.concat(parts.map(_.ids): _*)
    val lens = Array.concat(parts.map(_.lens): _*)
    val start = new Array[Int](lens.length + 1)
    var r = 0
    while (r < lens.length) { start(r + 1) = start(r) + lens(r); r += 1 }
    new ArrayRows(ids, Array.concat(parts.map(_.idNull): _*), start,
      Array.concat(parts.map(_.bits): _*),
      Array.concat(parts.map(_.elemNull): _*))
  }
}
