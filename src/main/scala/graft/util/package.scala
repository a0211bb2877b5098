package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Cross-engine-deterministic helpers, and the one recursive delete.
  *
  * The driver's oracle runs the same SQL in DuckDB and hash-compares values,
  * so every aggregate over parquet doubles must be bit-reproducible across
  * engines. Strategy: accumulate exactly in DECIMAL (both engines use exact
  * decimal arithmetic), cast the final value to DOUBLE (a single, well-defined
  * conversion), and never emit raw timestamps (events.ts is nanosecond
  * precision, which Spark truncates to µs but DuckDB keeps).
  */
package object util {
  /** Cast a 2-decimal-place parquet double (money, quantity, discount) to an
    * exact decimal. The testdata generator emits 2dp values, so this cast is
    * lossless and both engines round-trip it identically. */
  def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  /** Exact decimal SUM surfaced as a double: deterministic regardless of
    * partitioning / aggregation order — the scale-up safe way to sum money. */
  def moneySum(c: Column): Column = sum(dec(c)).cast(DoubleType)

  /** Exact-sum-based average (decimal sum, then one double division). */
  def moneyAvg(c: Column): Column =
    sum(dec(c)).cast(DoubleType) / count(c).cast(DoubleType)

  /** Timestamp -> epoch seconds (floor), matching DuckDB's
    * date_diff('second', TIMESTAMP '1970-01-01', date_trunc('second', ts)). */
  def epochSec(c: Column): Column = c.cast(LongType)

  /** Deletes `f` and everything under it; a missing path is a no-op. A
    * symbolic link is deleted, never followed. */
  def deleteTree(f: java.io.File): Unit = {
    if (!java.nio.file.Files.isSymbolicLink(f.toPath))
      Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete(); ()
  }
}
