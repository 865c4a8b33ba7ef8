package org.apache.spark.sql.graft

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, BindReferences, Expression, GenericInternalRow, JoinedRow, SortOrder}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan}

/** Backward as-of join as a first-class Catalyst operator — the
  * partitioned-merge strategy from SURVEY §4 (deferred #1), the preference-
  * order (c) escape hatch the brief prescribes for whole-operator semantics:
  * a custom logical node, a planner Strategy, and a streaming-merge physical
  * exec, injectable via `SparkSessionExtensions`
  * (graft.plans.GraftExtensions) or picked up transparently by
  * `AsOfJoin.backwardMerged`.
  *
  * Relationship to the union+window formulation (AsOfJoin.backward): both
  * are one shuffle per side on the key. The union plan then sorts
  * NULL-PADDED COMBINED rows (every row carries both sides' struct slots,
  * half of them null) and runs a windowed `last(_, ignoreNulls)` that
  * buffers per frame; this exec sorts each side's own (narrow) rows and
  * two-pointer-merges them in one streaming pass per partition — no padded
  * union rows, no window state, right side consumed exactly once. Same
  * exchange count, strictly less data through the sorts and no per-frame
  * aggregation work.
  *
  * Semantics are identical to `AsOfJoin.backward` (asserted row-for-row in
  * AsOfMergeSpec): for each left row, the single right row with the same
  * key and the greatest time at-or-before the left time; unmatched left
  * rows keep null right columns; null left keys/times never match; the
  * right side must be pre-filtered of null keys/times (the facade does).
  */
case class BackwardAsOf(
    left: LogicalPlan, right: LogicalPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): BackwardAsOf =
    copy(left = newLeft, right = newRight)
}

/** Plans [[BackwardAsOf]] as [[BackwardAsOfExec]]. */
object BackwardAsOfStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BackwardAsOf(l, r, lks, rks, lt, rt) =>
      BackwardAsOfExec(planLater(l), planLater(r), lks, rks, lt, rt) :: Nil
    case _ => Nil
  }
}

/** Streaming per-partition merge: children are hash-clustered by the key
  * columns and sorted by (keys…, time) — EnsureRequirements inserts the
  * exchanges/sorts — then each partition pair is merged with two pointers,
  * holding at most ONE buffered right row (the latest at-or-before match of
  * the current key). O(|L| + |R|) per partition after the sorts, O(1)
  * state. Composite keys compare lexicographically with each column's own
  * interpreted ordering; a left row with ANY null key component emits
  * unmatched WITHOUT touching the merge state (held/heldKey/rBuf) — that
  * independence, not stream position, is what makes such rows safe: under
  * nulls-first ordering a null in a NON-leading component sorts inside its
  * leading-component group, mid-stream, so no "nulls come first" invariant
  * may be assumed. */
case class BackwardAsOfExec(
    left: SparkPlan, right: SparkPlan,
    leftKeys: Seq[Attribute], rightKeys: Seq[Attribute],
    leftTime: Attribute, rightTime: Attribute) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    leftKeys.map(SortOrder(_, Ascending)) :+ SortOrder(leftTime, Ascending),
    rightKeys.map(SortOrder(_, Ascending)) :+ SortOrder(rightTime, Ascending))

  override def outputPartitioning: Partitioning = left.outputPartitioning

  override def outputOrdering: Seq[SortOrder] = left.outputOrdering

  override protected def doExecute(): RDD[InternalRow] = {
    // upcast before binding: bindReference of an Attribute-typed value
    // would cast its BoundReference result back to Attribute and throw
    val lks = leftKeys.map(k => BindReferences.bindReference(k: Expression, left.output))
    val lt = BindReferences.bindReference(leftTime: Expression, left.output)
    val rks = rightKeys.map(k => BindReferences.bindReference(k: Expression, right.output))
    val rt = BindReferences.bindReference(rightTime: Expression, right.output)
    val keyOrds = leftKeys.map(k => TypeUtils.getInterpretedOrdering(k.dataType))
    val nKeys = leftKeys.size
    val nRight = right.output.size
    val outAttrs = output
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val rBuf = rIter.buffered
      val nullRight = new GenericInternalRow(nRight)
      val joined = new JoinedRow
      // downstream exchanges serialize UnsafeRow; flatten the JoinedRow view
      val toUnsafe = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
        .create(outAttrs, outAttrs)
      // null ⇔ some component was null (never a valid key — facade filters
      // the right side; null left components emit unmatched)
      def evalKeys(exprs: Seq[Expression], row: InternalRow): Array[Any] = {
        val out = new Array[Any](nKeys)
        var i = 0
        while (i < nKeys) {
          val v = exprs(i).eval(row)
          if (v == null) return null
          out(i) = v
          i += 1
        }
        out
      }
      def compareKeys(a: Array[Any], b: Array[Any]): Int = {
        var i = 0
        while (i < nKeys) {
          val c = keyOrds(i).compare(a(i), b(i))
          if (c != 0) return c
          i += 1
        }
        0
      }
      var held: InternalRow = null
      var heldKey: Array[Any] = null
      lIter.map { l =>
        val k = evalKeys(lks, l)
        val t = lt.eval(l)
        if (k == null || t == null) toUnsafe(joined(l, nullRight))
        else {
          if (heldKey == null || compareKeys(heldKey, k) != 0) {
            held = null; heldKey = k
          }
          var advancing = true
          while (advancing && rBuf.hasNext) {
            val rkv = evalKeys(rks, rBuf.head)
            // null-component right keys can never match and sort first
            // under ascending nulls-first: discard like a smaller key
            val c = if (rkv == null) -1 else compareKeys(rkv, k)
            if (c < 0) { rBuf.next() } // smaller keys: discard
            else if (c == 0 &&
              rt.eval(rBuf.head).asInstanceOf[Long] <= t.asInstanceOf[Long]) {
              held = rBuf.next().copy() // newest at-or-before so far
            } else advancing = false
          }
          toUnsafe(joined(l, if (held != null) held else nullRight))
        }
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): BackwardAsOfExec =
    copy(left = newLeft, right = newRight)
}

/** private[sql] bridges the graft facade needs: Dataset from a logical
  * plan, analyzed plan access. */
object PlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    Dataset.ofRows(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  def analyzed(df: DataFrame): LogicalPlan =
    df.queryExecution.analyzed

  /** V1 scan over an EXPLICIT [[FileIndex]] — how a manifest-pinned read
    * serves exactly its recorded file set with ZERO action-time listing.
    * The `spark.read.load(paths: _*)` alternative defers its listing to
    * each action (schema supplied = lazy InMemoryFileIndex), and that
    * listing SILENTLY DROPS a path whose file a concurrent rewrite just
    * displaced ("was not found. Was it deleted very recently?" — warn,
    * skip) — a pinned frame evaluated mid-maintenance would come back
    * quietly narrower. An explicit index has nothing to list: membership
    * and sizes come from the manifest, and displacement is healed
    * per-task by the archive-resolving format at open time. Also the
    * 100 TB cost rule: no O(#files) existence RPCs per action. */
  def fileIndexRelation(
      spark: SparkSession,
      index: org.apache.spark.sql.execution.datasources.FileIndex,
      partitionSchema: org.apache.spark.sql.types.StructType,
      dataSchema: org.apache.spark.sql.types.StructType,
      format: org.apache.spark.sql.execution.datasources.FileFormat): DataFrame = {
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, partitionSchema, dataSchema, None, format, Map.empty)(classic)
    ofRows(spark, org.apache.spark.sql.execution.datasources.LogicalRelation(rel))
  }
}
