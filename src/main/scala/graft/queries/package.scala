package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{round, sum}
import org.apache.spark.sql.types.DecimalType

/** The query catalog: every query of the driver contract, filed by the
  * layer it exercises, one file per layer. Each layer object declares its
  * [[Query]] entries beside their builders; [[graft.SparkEntry]]
  * concatenates them.
  *
  * Determinism rules used throughout (the oracle-checked queries are
  * hash-compared against DuckDB by the driver):
  *  - double SUM/AVG go through DECIMAL so the result is order-independent
  *    and engine-independent: `SUM(CAST(x AS DECIMAL(...)))` then cast back
  *    to double (both engines do exact decimal addition; per-row
  *    double→decimal conversion is identical);
  *  - every query ends in a total ORDER BY with unique tie-breaks;
  *  - window ORDER BYs carry unique tie-break columns;
  *  - `CURRENT_TIMESTAMP`-style anchors are fixed literals;
  *  - both engines name every output column with the same alias.
  */
package object queries {

  private[queries] val D = DecimalType(18, 2)
  private[queries] val DP = DecimalType(24, 8) // for products of price-like doubles

  /** Order-independent double sum via DECIMAL, rounded to 4dp after the
    * cast back: the decimal sum is exact and engine-identical, but
    * DuckDB's int128→double conversion is not correctly rounded at
    * magnitudes ≳1e9 (diverges from the JVM in the last ulp) — rounding
    * well above that noise keeps hash parity at every scale factor.
    */
  private[queries] def decSum(c: Column, dt: DecimalType = D): Column =
    round(sum(c.cast(dt)).cast("double"), 4)

  /** Deletes `path` and everything under it: a query's temp table, once
    * its result no longer reads from it.
    */
  private[queries] def rmTree(path: String): Unit = {
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm)
      f.delete(); ()
    }
    rm(new java.io.File(path))
  }
}
