package org.apache.spark.sql.graft

import graft.sources.GraftTsV2Table
import graft.ts.TsTable

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{EliminateSubqueryAliases, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, InsertAction, InsertStarAction, LogicalPlan, MergeIntoTable, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

/** SQL `UPDATE` and `MERGE INTO` for graft-ts tables, WITHOUT implementing
  * Spark's group-based row-level-operation machinery: an injected
  * resolution rule (GraftExtensions) recognizes the analyzed
  * [[UpdateTable]]/[[MergeIntoTable]] over a [[GraftTsV2Table]] and
  * replaces it with a driver command that runs the facade's proven
  * copy-on-write verb ([[TsTable.updateWhere]]/[[TsTable.mergeInto]]) —
  * hit-file pruning, staged rewrite, archive discipline, CHECK gating,
  * and the single-version commit all come along for free, and there is no
  * separate "which files form the group" bookkeeping to get wrong.
  *
  * Translation contract (refusals are loud, with the facade named as the
  * escape hatch):
  *   - UPDATE: any condition and row-level SET expressions over the
  *     table's own columns (`updateWhere`'s surface: the ts and partition
  *     columns are not assignable).
  *   - MERGE: the canonical upsert shape — the ON clause is a
  *     conjunction of same-name target/source column equalities (the
  *     merge keys); WHEN MATCHED THEN UPDATE sets target columns to the
  *     SAME-NAME source column (or `UPDATE SET *`), unconditionally;
  *     WHEN NOT MATCHED THEN INSERT maps same-name source columns (or
  *     `INSERT *`). No NOT MATCHED BY SOURCE, no action conditions, no
  *     cross-name assignments — those shapes need
  *     `TsTable.mergeInto`/`deleteWhere` directly.
  *
  * Expressions cross from the analyzed plan into the facade by stripping
  * exprIds (AttributeReference → UnresolvedAttribute by name), so the
  * facade's own DataFrame resolves them against the live table — the
  * rule never smuggles foreign attribute ids into a new plan. */
case class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {

  private def graftTarget(plan: LogicalPlan): Option[GraftTsV2Table] =
    EliminateSubqueryAliases(plan) match {
      case r: DataSourceV2Relation => r.table match {
        case g: GraftTsV2Table => Some(g)
        case _ => None
      }
      case _ => None
    }

  /** exprId-free Column: resolved attributes revert to name references. */
  private def toColumn(e: Expression): Column =
    ExpressionUtils.column(e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    })

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case u: UpdateTable if u.resolved && graftTarget(u.table).isDefined =>
      val g = graftTarget(u.table).get
      if (g.snapshot.isDefined)
        throw new UnsupportedOperationException(
          s"${g.name()} is a pinned snapshot (asOf) — time-traveled tables are read-only")
      val assigns = u.assignments.map { case Assignment(k, v) =>
        val name = k match {
          case a: Attribute => a.name
          case other => throw new UnsupportedOperationException(
            s"graft-ts UPDATE: only top-level columns are assignable, got $other")
        }
        name -> toColumn(v)
      }.toMap
      GraftUpdateCommand(g.ts.path, g.ts.tsCol,
        u.condition.map(toColumn).getOrElse(
          ExpressionUtils.column(Literal.TrueLiteral)), assigns)

    case m: MergeIntoTable if m.resolved && graftTarget(m.targetTable).isDefined =>
      translateMerge(m, graftTarget(m.targetTable).get)

    case _ => plan
  }

  private def refuse(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft-ts MERGE supports the canonical same-name upsert shape only " +
        s"($what) — use TsTable.mergeInto/deleteWhere for anything richer")

  private def translateMerge(m: MergeIntoTable, g: GraftTsV2Table): LogicalPlan = {
    if (g.snapshot.isDefined)
      throw new UnsupportedOperationException(
        s"${g.name()} is a pinned snapshot (asOf) — time-traveled tables are read-only")
    if (m.notMatchedBySourceActions.nonEmpty)
      refuse("WHEN NOT MATCHED BY SOURCE is not supported")
    if (m.schemaEvolutionEnabled)
      refuse("WITH SCHEMA EVOLUTION is not supported")
    val targetOut = m.targetTable.outputSet
    val sourceOut = m.sourceTable.outputSet
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    // ON: conjunction of same-name target/source equalities → merge keys
    val keys = conjuncts(m.mergeCondition).map {
      case EqualTo(a: AttributeReference, b: AttributeReference) =>
        val (t, s) =
          if (targetOut.contains(a) && sourceOut.contains(b)) (a, b)
          else if (targetOut.contains(b) && sourceOut.contains(a)) (b, a)
          else refuse(s"ON conjunct $a = $b must compare a target column to a source column")
        if (!t.name.equalsIgnoreCase(s.name))
          refuse(s"ON compares differently-named columns ${t.name} and ${s.name}")
        t.name
      case other => refuse(s"ON conjunct $other is not a plain column equality")
    }
    // WHEN MATCHED: absent, UPDATE SET *, or same-name source assignments.
    // None = star (all non-key source columns); Some(Seq()) = no update.
    val updateCols: Option[Seq[String]] = m.matchedActions match {
      case Seq() => Some(Seq.empty) // update nothing
      case Seq(UpdateStarAction(None)) => None // default: all source columns
      case Seq(u: UpdateAction) if u.condition.isEmpty =>
        val named = u.assignments.flatMap { case Assignment(k, v) =>
          val name = k match {
            case a: Attribute => a.name
            case other => refuse(s"SET target $other is not a top-level column")
          }
          v match {
            case s: AttributeReference if sourceOut.contains(s) &&
                s.name.equalsIgnoreCase(name) => Some(name)
            case s: AttributeReference if targetOut.contains(s) &&
                s.name.equalsIgnoreCase(name) => None // identity no-op (SET *-expansion)
            case other => refuse(
              s"SET $name = $other is not the same-name source column")
          }
        }
        // key assignments under same-name equality are identities — drop
        // them (the star expansion writes them); a real ts move is refused
        // downstream by mergeInto
        val eff = named.filterNot(n => keys.exists(_.equalsIgnoreCase(n)))
        if (eff.isEmpty && u.assignments.nonEmpty && named.nonEmpty)
          refuse("every SET column is a merge key — keys are not updatable")
        Some(eff)
      case _ => refuse("WHEN MATCHED must be a single unconditional UPDATE")
    }
    // WHEN NOT MATCHED: absent, INSERT *, or same-name source
    // assignments. insertCols = the source columns the INSERT names
    // (empty = star: every table∩source column); unlisted columns
    // null-fill, mergeInto's own rule.
    val (insert, insertCols): (Boolean, Seq[String]) = m.notMatchedActions match {
      case Seq() => (false, Seq.empty)
      case Seq(InsertStarAction(None)) => (true, Seq.empty)
      case Seq(i: InsertAction) if i.condition.isEmpty =>
        val cols = i.assignments.flatMap { case Assignment(k, v) =>
          val name = k match {
            case a: Attribute => a.name
            case other => refuse(s"INSERT target $other is not a top-level column")
          }
          v match {
            case s: AttributeReference if sourceOut.contains(s) &&
              s.name.equalsIgnoreCase(name) => Some(name)
            case Literal(null, _) => None // analyzer null-fill for unlisted columns
            case other => refuse(
              s"INSERT $name = $other is not the same-name source column")
          }
        }
        (true, cols)
      case _ => refuse("WHEN NOT MATCHED must be a single unconditional INSERT")
    }
    if (updateCols.exists(_.isEmpty) && !insert)
      refuse("the merge has no effect (no update columns, no insert)")
    GraftMergeCommand(g.ts.path, g.ts.tsCol, m.sourceTable, keys,
      updateCols, insert, insertCols)
  }
}

/** Driver command behind SQL UPDATE: runs [[TsTable.updateWhere]]. */
case class GraftUpdateCommand(path: String, tsCol: String,
                              condition: Column,
                              assignments: Map[String, Column])
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    TsTable.open(spark, path, tsCol).updateWhere(condition, assignments)
    spark.catalog.refreshByPath(path)
    Seq.empty
  }
}

/** Driver command behind SQL MERGE INTO: runs [[TsTable.mergeInto]] on the
  * analyzed source plan, projected to the columns the merge touches. */
case class GraftMergeCommand(path: String, tsCol: String,
                             source: LogicalPlan, keys: Seq[String],
                             updateCols: Option[Seq[String]],
                             insert: Boolean, insertCols: Seq[String])
  extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val t = TsTable.open(spark, path, tsCol)
    val srcAll = PlanBridge.ofRows(spark, source)
    // project to the columns the merge touches — a richer source (extra
    // join columns, aliases) must not fail mergeInto's source ⊆ table
    // rule. Star update (None) takes every table∩source column;
    // no-update (Some(empty)) narrows to keys + ts so mergeInto's
    // default update set derives empty (insert-only).
    val insertWanted =
      if (!insert) Seq.empty
      else if (insertCols.isEmpty) t.schema.fieldNames.toSeq // star
      else insertCols :+ t.tsCol
    val wanted = ((updateCols match {
      case None => t.schema.fieldNames.toSeq
      case Some(Seq()) => keys
      case Some(cs) => keys ++ cs
    }) ++ insertWanted ++ (if (insert) Seq(t.tsCol) else Seq.empty))
      .distinct.filter(c => srcAll.columns.exists(_.equalsIgnoreCase(c)))
    val src = srcAll.select(wanted.map(org.apache.spark.sql.functions.col): _*)
    t.mergeInto(src, keys, updateCols = updateCols, insert = insert)
    spark.catalog.refreshByPath(path)
    Seq.empty
  }
}
