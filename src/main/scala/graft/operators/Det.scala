package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Cross-engine-deterministic aggregation helpers.
  *
  * Floating-point sums are order-sensitive; Spark (sequential per partition)
  * and DuckDB (segment-tree window aggregation) sum in different orders, so
  * raw `sum(double)` differs in the last ulps and no rounding scale is safe
  * when true values can sit on a rounding boundary. Accumulating in exact
  * DECIMAL instead makes the sum order-insensitive and bit-identical across
  * engines (double→decimal casts agree: both engines round the same binary
  * value to the same scale), and the final decimal→double cast is
  * deterministic. SQL mirror: `CAST(sum(CAST(x AS DECIMAL(18,4))) AS DOUBLE)`.
  */
object Det {
  /** Exact-decimal sum of a double column, emitted as double. */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,4)")).cast("double")

  /** The un-finalized decimal sum — use for window frames: `.over(w)` then
    * `.cast("double")`. */
  def dsumDec(c: Column): Column = sum(c.cast("decimal(18,4)"))

  /** SQL fragment mirroring dsum for the DuckDB oracle. */
  def dsumSql(x: String): String = s"CAST(sum(CAST($x AS DECIMAL(18,4))) AS DOUBLE)"

  /** 6-decimal variant for terms with 6 true decimal digits (2dp × 2dp × 2dp
    * products like extendedprice·(1−discount)·(1+tax)). At scale 4 such a
    * term lands on exact .xxxx50 half-way ties, which Spark (HALF_UP on the
    * shortest decimal repr) and DuckDB (rounds the raw binary double) break
    * differently; scale 6 is lossless for the data, so no tie can occur. */
  def dsum6(c: Column): Column = sum(c.cast("decimal(18,6)")).cast("double")
}
