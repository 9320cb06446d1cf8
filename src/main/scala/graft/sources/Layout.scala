package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Data-layout optimization: Z-ORDER (Morton-curve) clustering.
  *
  * A single-column sort gives perfect file-level min/max pruning on that
  * column and none on any other. Interleaving the bits of two columns
  * into one Z-value and range-sorting by it makes every output file
  * cover a small RECTANGLE in (x, y) space — with N files, each spans
  * ~1/√N of each dimension's range instead of 1/N of one and all of the
  * other — so parquet footer min/max skipping works for filters on
  * EITHER column. This is how lakehouse tables keep two query patterns
  * fast from one copy of the data; at 100 TB the sort is one range
  * exchange, exactly the cost of the global sort the reference already
  * pays for its own output (SparkGA1.scala:1236-1251).
  *
  * The Z-value is pure integer Column arithmetic (bit tests + shifted
  * adds, codegen'd, engine-portable — the oracle reproduces it with the
  * same unrolled expression).
  */
object Layout {

  /** 2-D Morton code: interleave the low `bits` bits of two non-negative
    * integer columns (x even positions, y odd). Monotone in the
    * interleaved locality sense; `bits` = 16 covers 0..65535 per axis.
    */
  def zValue2(x: Column, y: Column, bits: Int = 16): Column = {
    require(bits >= 1 && bits <= 31, s"bits must be 1..31, got $bits")
    (0 until bits).map { i =>
      shiftright(x.cast("long"), i).bitwiseAND(lit(1L)) * lit(1L << (2 * i)) +
        shiftright(y.cast("long"), i).bitwiseAND(lit(1L)) *
          lit(1L << (2 * i + 1))
    }.reduce(_ + _)
  }
}
