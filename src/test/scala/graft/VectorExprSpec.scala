package graft

import graft.functions.VectorFns
import org.apache.spark.sql.functions._

/** Native DotProduct expression vs the interpreted HOF formulation: values
  * must agree bit-for-bit (same sequential IEEE accumulation), nulls
  * propagate, and the expression must actually run inside whole-stage
  * codegen. */
class VectorExprSpec extends SparkSpec {

  test("native dot == HOF dot bit-for-bit on the embeddings fixture") {
    val e = Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val probe = e.where(col("vec_id") === 0).select(col("v").as("p"))
    val both = e.crossJoin(broadcast(probe))
      .select(VectorFns.dot(col("v"), col("p")).as("native"),
        InterpretedTwins.dotHof(col("v"), col("p")).as("hof"))
    assert(both.where(col("native") =!= col("hof")).count() == 0)
    assert(both.count() == 500)
  }

  test("null array propagates null; empty arrays give 0.0") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(3.0, 4.0))),
      (None, Some(Seq(1.0))),
      (Some(Seq.empty[Double]), Some(Seq.empty[Double]))
    ).toDF("a", "b")
    val got = df.select(VectorFns.dot(col("a"), col("b"))).collect()
    assert(got(0).getDouble(0) == 11.0)
    assert(got(1).isNullAt(0))
    assert(got(2).getDouble(0) == 0.0)
  }

  test("float input auto-casts; plan stays in whole-stage codegen") {
    val e = Tables.embeddings(spark, sf0001)
    // embedding is array<float>: ImplicitCastInputTypes must insert the cast
    val d = e.select(VectorFns.dot(col("embedding"), col("embedding")).as("n2"))
    assert(d.count() == 500)
    // '*(n)' marks operators fused into a WholeStageCodegen stage
    val plan = d.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [graft_dot"), s"dot not codegen-fused:\n$plan")
  }
}
