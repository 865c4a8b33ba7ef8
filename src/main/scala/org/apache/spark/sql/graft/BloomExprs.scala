package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.classic.ExpressionUtils

/** Column bridge for Spark's own Bloom-filter expressions — the machinery
  * behind runtime (injected) join filters, here used DELIBERATELY as a
  * user-level operator: build one Bloom filter over a benchmark's shingle
  * hashes with `bloomAgg` (a TypedImperativeAggregate, so partial
  * aggregation applies — each partition builds a local filter map-side and
  * `merge` ORs the bit arrays), broadcast the resulting bytes, and probe
  * with `mightContain` inside a scan.
  *
  * Both expressions are Spark-internal but public bytecode; this shim only
  * lives under org.apache.spark.sql because the Column <-> Expression
  * bridge (`classic.ExpressionUtils`) is private[sql]. Inputs must be
  * LongType hashes (pre-hash strings with xxhash64), matching how Spark's
  * own runtime filtering feeds these expressions.
  */
object BloomExprs {

  /** Aggregate a LongType hash column into one serialized Bloom filter
    * (BinaryType). `estimatedItems` and `numBits` are plan-time capacity
    * constants; fpp ≈ 0.6185^(numBits/estimatedItems). */
  def bloomAgg(hashed: Column, estimatedItems: Long, numBits: Long): Column =
    ExpressionUtils.column(
      BloomFilterAggregate(ExpressionUtils.expression(hashed),
        Literal(estimatedItems), Literal(numBits), 0, 0)
        .toAggregateExpression())

  /** True when the Bloom filter MIGHT contain the hash (no false
    * negatives; false-positive rate set by the build capacity). */
  def mightContain(bloom: Column, hashed: Column): Column =
    ExpressionUtils.column(
      BloomFilterMightContain(ExpressionUtils.expression(bloom),
        ExpressionUtils.expression(hashed)))

  /** A 1-row/1-column DataFrame as a SCALAR SUBQUERY expression —
    * `might_contain` requires its filter side to be a constant or scalar
    * subquery (never a joined column), and this is how the build
    * aggregate's output re-enters the probe scan: the subquery executes
    * once and its value is inlined for every probing task. */
  def scalarSubquery(df: DataFrame): Column =
    ExpressionUtils.column(ScalarSubquery(df.queryExecution.logical))
}
