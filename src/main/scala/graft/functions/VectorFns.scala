package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dense-vector math over `array<double>` columns (SURVEY.md §2 B8/B9).
  * `dot` is a native codegen'd Catalyst Expression (see
  * org.apache.spark.sql.graft.DotProduct) — no UDFs, whole-stage codegen,
  * and strictly sequential IEEE accumulation matching DuckDB's
  * list_dot_product loop bit-for-bit, which is what lets q_sim_topk carry a
  * hash-compared oracle. (A zip_with+aggregate HOF formulation is
  * semantically identical but interpreted — ~100× slower on the 64-dot×64-dim
  * LSH projections.)
  */
object VectorFns {

  /** Dot product of two equal-length array<double> columns (codegen'd). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.graft.VectorExprs.dot(a, b)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; callers round before emitting in oracle-compared
    * output. */
  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2norm(a) * l2norm(b))
}
