package graft

import org.scalatest.funsuite.AnyFunSuite

/** Compute.materialize / NearDedup.materializedPairs dispatch on whether the
  * session has a RELIABLE checkpoint dir (survives executor loss) or falls
  * back to localCheckpoint (blocks die with their executor — fine locally,
  * a real risk on a long cluster job). The r21 verdict asked for the
  * reliable mode to be exercised: this suite runs the materialize-reliant
  * query paths in BOTH modes and asserts identical rows. Owns its session
  * (setCheckpointDir is SparkContext-global and must not leak into other
  * suites), the TaskRetrySpec handover pattern. */
class CheckpointModeSpec extends AnyFunSuite {

  private val keys = Seq(
    "q_interval_overlap",      // Compute.materialize before the self-join
    "q_dedup_near",            // materializedPairs eager-checkpoint dispatch
    "q_sample_stratified_dist", // PipelinePack two-phase sampler pinning
    "q_knn_mutual")            // SimilaritySearch mutual-kNN edge materialize

  test("materialize-reliant queries: reliable-checkpoint mode rows == " +
      "localCheckpoint mode rows") {
    val sf = "/root/testdata/sf0.001"
    SparkSpec.releaseSession()
    val spark = SparkSpec.session
    assert(spark.sparkContext.getCheckpointDir.isEmpty,
      "fresh session must start in localCheckpoint mode")
    val local = keys.map(k =>
      k -> SparkEntry.queries(k)(spark, sf).collect().map(_.toString).sorted)

    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-mode")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val reliable = keys.map(k =>
        k -> SparkEntry.queries(k)(spark, sf).collect().map(_.toString).sorted)
      local.zip(reliable).foreach { case ((k, a), (_, b)) =>
        assert(a.sameElements(b), s"$k: reliable-checkpoint rows differ")
      }
      // the reliable mode actually engaged: checkpoint files were written
      val wrote = java.nio.file.Files.walk(dir).filter(
        java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, "no reliable checkpoint files written — the " +
        "dispatch never took the checkpoint() branch")
    } finally {
      // setCheckpointDir has no unset; drop the whole session so the next
      // suite rebuilds the default (localCheckpoint-mode) one
      SparkSpec.releaseSession()
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }

  test("materialize computes its frame once in both modes") {
    import org.apache.spark.sql.functions.{col, udf}
    SparkSpec.releaseSession()
    val spark = SparkSpec.session
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-once")
    try {
      def producedRows(): Long = {
        val produced = spark.sparkContext.longAccumulator("produced")
        val tap = udf { (x: Long) => produced.add(1); x }
        val m = operators.Compute.materialize(
          spark.range(0, 1000, 1, 4).select(tap(col("id")).as("id")))
        assert(m.count() == 1000 && m.agg(org.apache.spark.sql.functions.sum("id"))
          .head().getLong(0) == 999L * 1000 / 2)
        produced.value
      }
      assert(producedRows() == 1000, "localCheckpoint mode")
      spark.sparkContext.setCheckpointDir(dir.toString)
      assert(producedRows() == 1000, "reliable-checkpoint mode")
    } finally {
      SparkSpec.releaseSession()
      org.apache.commons.io.FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
