package graft.sources

import graft.ts.TsTable

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RequiresDistributionAndOrdering, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import java.time.{LocalDate, ZoneId}
import scala.collection.mutable.ArrayBuffer

/** V2 write path for `graft-ts` (see [[GraftTsDataSource]] scaladoc for the
  * contract). Shape of one append:
  *
  *   1. planner: `RequiresDistributionAndOrdering` asks for an ordered
  *      distribution + ordering on the ts column → ONE range shuffle into
  *      contiguous time slices, each task's rows ascending. This is the
  *      engine-enforced form of the facade's
  *      `repartitionByRange(...).sortWithinPartitions(...)`; heavy days
  *      split across tasks, so no task ever funnels a whole hot day.
  *   2. tasks: [[GraftTsDataWriter]] validates EVERY row (non-null ts; ts
  *      at-or-after the stored max — the reference's append ValueError,
  *      checked per row) and streams it into one sorted parquet file per
  *      (task, day), staged as `p_date=D/_tmp-...` — names with a leading
  *      underscore are invisible to Spark file listings, so concurrent
  *      readers never see half-written data.
  *   3. driver commit: rename staged files to `part-...`, refresh the
  *      FileStatusCache for the path. Abort (or task failure) deletes the
  *      staged files; a crashed executor leaves only invisible `_tmp-`
  *      garbage, never torn visible data.
  */
final class GraftTsWriteBuilder(
    spark: SparkSession, ts: TsTable, info: LogicalWriteInfo)
  extends WriteBuilder with SupportsTruncate {

  private var truncateFirst = false

  /** `mode("overwrite")` lands here (OverwriteByExpression with the
    * always-true filter): replace the table's DATA, keep the descriptor. */
  override def truncate(): WriteBuilder = { truncateFirst = true; this }

  override def build(): Write = {
    val in = info.schema()
    val want = ts.schema
    require(in.fieldNames.toSeq == want.fieldNames.toSeq &&
      in.fields.map(_.dataType).toSeq == want.fields.map(_.dataType).toSeq,
      s"graft-ts append: batch schema ${in.simpleString} does not match " +
        s"table schema ${want.simpleString}")
    new GraftTsWrite(spark, ts, info.queryId(), truncateFirst)
  }
}

final class GraftTsWrite(
    spark: SparkSession, ts: TsTable, queryId: String, truncateFirst: Boolean)
  extends Write with RequiresDistributionAndOrdering {

  private def tsAsc: Array[SortOrder] =
    Array(Expressions.sort(Expressions.column(ts.tsCol), SortDirection.ASCENDING))

  /** Range-partition by ts: contiguous time slice per task. */
  override def requiredDistribution(): Distribution = Distributions.ordered(tsAsc)

  /** Ascending ts within each task → per-file sortedness for free. */
  override def requiredOrdering(): Array[SortOrder] = tsAsc

  override def toBatch: BatchWrite = {
    val sqlConf = spark.sessionState.conf
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    ts.writeOptions.rowGroupBytes.foreach(b =>
      job.getConfiguration.setLong("parquet.block.size", b))
    // prepareWrite wires ParquetWriteSupport (schema, timestamp encoding,
    // codec) into the job conf — the same writer setup the V1 parquet path
    // uses, so files are bit-compatible with facade-written ones.
    val factory = ParquetUtils.prepareWrite(sqlConf, job, ts.schema,
      new ParquetOptions(Map("compression" -> ts.writeOptions.codec), sqlConf))
    // each file's Bloom bits ride its footer, as on the facade's writes
    org.apache.spark.sql.graft.BloomParquetWriteSupport.configure(
      job.getConfiguration, ts.liveBloomCols, ts.writeOptions.bloomBits)
    // Authoritative for this write regardless of session state: INT64
    // micros so ts row-group stats stay filterable (INT96 is not).
    job.getConfiguration.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    // The append monotonicity guard's reference point, fetched ONCE per
    // write at driver side (O(edge partition) via TsTable.maxDt); each task
    // then validates rows against it locally. Truncating writes replace the
    // data, so they have no reference point.
    val storedMaxUs =
      if (truncateFirst) None
      else ts.maxDt.map(DateTimeUtils.fromJavaTimestamp)
    val tsIdx = ts.schema.fieldIndex(ts.tsCol)
    // CHECK constraints compile ONCE on the driver to schema-bound
    // expressions; each task evaluates them per row (null = pass folded
    // in at compile time), so a SQL INSERT obeys the same gate as the
    // facade's batch pass — with no extra pass over the data.
    val checksBound = ts.checks.map { case (n, sql) =>
      (n, sql, org.apache.spark.sql.graft.CheckPredicates.bind(spark, ts.schema, sql))
    }
    new GraftTsBatchWrite(spark, ts.path, queryId, truncateFirst,
      new SerializableConfiguration(job.getConfiguration), factory, ts.schema,
      tsIdx, storedMaxUs, sqlConf.sessionLocalTimeZone, checksBound)
  }
}

final case class GraftTsCommitMessage(files: Seq[(String, String)])
  extends WriterCommitMessage

final class GraftTsBatchWrite(
    spark: SparkSession, path: String, queryId: String, truncateFirst: Boolean,
    conf: SerializableConfiguration, factory: OutputWriterFactory,
    schema: StructType, tsIdx: Int, storedMaxUs: Option[Long], zone: String,
    checks: Seq[(String, String, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty)
  extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    GraftTsWriterFactory(path, queryId, conf, factory, schema, tsIdx,
      storedMaxUs, zone, checks)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(conf.value)
    if (truncateFirst) {
      // Replace semantics: retire every VISIBLE data file. Two rules keep
      // the snapshot layer intact across an overwrite:
      //   - '_'/'.'-prefixed DIRECTORIES are never entered (the version
      //     manifests in _ts_versions and the archived history in
      //     _ts_archive are table state, not data to replace — recursing
      //     into them destroyed pinned versions and, worse, let version
      //     numbers restart and silently re-bind to different states);
      //   - replaced files are ARCHIVED under their table-relative path,
      //     not deleted, so a reader pinned on a pre-overwrite version
      //     keeps resolving (the compact/retention rule; bytes reclaim via
      //     expireSnapshots).
      // same collision discipline as TsTable.archiveFile (length-checked
      // dedupe, loud failure on a different-length name collision) — a
      // delete-on-rename-failure fallback could silently discard the only
      // copy of history an older manifest references
      val table = TsTable.open(spark, path)
      def purge(dir: Path, rel: String): Unit = fs.listStatus(dir).foreach { st =>
        val n = st.getPath.getName
        if (st.isDirectory) {
          if (!n.startsWith("_") && !n.startsWith(".")) purge(st.getPath, s"$rel$n/")
        } else if (!n.startsWith("_") && !n.startsWith(".")) {
          table.archiveFile(fs, s"$rel$n")
        }
      }
      // a file vanishing mid-purge is a concurrent rewrite taking it
      // (archiveFile's classified signal): like restore, an overwrite has
      // no rollback and is CONVERGENT — re-running the INSERT OVERWRITE
      // enforces the replacement semantics over the racing writer
      try purge(root, "")
      catch { case _: java.io.FileNotFoundException =>
        throw new TsTable.ConcurrentRewriteException(
          "overwrite: a live file vanished while retiring (concurrent " +
            "rewrite); re-run the INSERT OVERWRITE to converge on the " +
            "replacement state, or inspect the racing writer's version first")
      }
    }
    messages.foreach {
      case GraftTsCommitMessage(files) => files.foreach { case (tmp, fin) =>
        if (!fs.rename(new Path(tmp), new Path(fin)))
          throw new java.io.IOException(s"graft-ts commit: rename $tmp -> $fin failed")
      }
      case _ => ()
    }
    // Shared FileStatusCache entries for this path are now stale.
    spark.catalog.refreshByPath(path)
    // The connector write is a table mutation like any facade verb: commit
    // the resulting live layout as the next snapshot version, so V2
    // appends are pinnable via asOf/openAt exactly like TsTable.append's.
    graft.ts.TsTable.open(spark, path)
      .commitVersion(if (truncateFirst) "overwrite" else "append")
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val fs = new Path(path).getFileSystem(conf.value)
    messages.foreach {
      case GraftTsCommitMessage(files) =>
        files.foreach { case (tmp, _) => fs.delete(new Path(tmp), false) }
      case _ => ()
    }
  }
}

final case class GraftTsWriterFactory(
    path: String, queryId: String, conf: SerializableConfiguration,
    factory: OutputWriterFactory, schema: StructType, tsIdx: Int,
    storedMaxUs: Option[Long], zone: String,
    checks: Seq[(String, String, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftTsDataWriter(path, queryId, conf.value, factory, schema, tsIdx,
      storedMaxUs, ZoneId.of(zone), partitionId, taskId, checks)
}

/** Task-side writer: one sorted parquet file per day encountered. Rows
  * arrive ts-ascending (engine-enforced), so days roll forward monotonically
  * and each file is written once, sequentially. */
final class GraftTsDataWriter(
    path: String, queryId: String, conf: Configuration,
    factory: OutputWriterFactory, schema: StructType, tsIdx: Int,
    storedMaxUs: Option[Long], zone: ZoneId, partitionId: Int, taskId: Long,
    checks: Seq[(String, String, org.apache.spark.sql.catalyst.expressions.Expression)] = Seq.empty)
  extends DataWriter[InternalRow] {

  // CHECK predicates, codegen-compiled once per task (coalesce-to-true is
  // already folded in, so eval() == false IS a violation)
  private val checkPreds = checks.map { case (n, sql, e) =>
    (n, sql, org.apache.spark.sql.catalyst.expressions.Predicate.create(e))
  }

  private val ctx = new TaskAttemptContextImpl(conf,
    new TaskAttemptID(new TaskID(new JobID(queryId, 0), TaskType.MAP, partitionId), 0))
  private val files = ArrayBuffer.empty[(String, String)]
  private var cur: org.apache.spark.sql.execution.datasources.OutputWriter = _
  private var curDay = Int.MinValue
  private var prevUs = Long.MinValue
  private var fileSeq = 0

  override def write(row: InternalRow): Unit = {
    if (row.isNullAt(tsIdx))
      throw new IllegalArgumentException(
        s"graft-ts append: null values in ts column (schema field $tsIdx)")
    val us = row.getLong(tsIdx)
    storedMaxUs.foreach { m =>
      if (us < m)
        throw new IllegalArgumentException(
          s"graft-ts append: row ts ${DateTimeUtils.microsToInstant(us)} precedes " +
            s"stored max ts ${DateTimeUtils.microsToInstant(m)} (the table is " +
            "append-ordered; out-of-order appends are rejected)")
    }
    if (us < prevUs) // engine contract (requiredOrdering) violated — never user error
      throw new IllegalStateException(
        "graft-ts append: rows arrived unsorted despite required ordering")
    prevUs = us
    checkPreds.foreach { case (n, sql, p) =>
      if (!p.eval(row))
        throw new IllegalArgumentException(
          s"graft-ts append: row violates CHECK constraint '$n' ($sql)")
    }
    val day = DateTimeUtils.microsToDays(us, zone)
    if (day != curDay) roll(day)
    cur.write(row)
  }

  private def roll(day: Int): Unit = {
    closeCurrent()
    curDay = day
    val dir = s"$path/${TsTable.PartCol}=${LocalDate.ofEpochDay(day.toLong)}"
    // taskId in the name: under speculative execution two ATTEMPTS of the
    // same partition stage concurrently — names must never collide (only
    // the committed attempt's files get renamed; commit coordination picks
    // exactly one winner)
    val base = f"$queryId-p$partitionId%05d-t$taskId-c$fileSeq%03d${factory.getFileExtension(ctx)}"
    fileSeq += 1
    val tmp = s"$dir/_tmp-$base"
    cur = factory.newInstance(tmp, schema, ctx)
    files += ((tmp, s"$dir/part-$base"))
  }

  private def closeCurrent(): Unit =
    if (cur != null) { cur.close(); cur = null }

  override def commit(): WriterCommitMessage = {
    closeCurrent()
    GraftTsCommitMessage(files.toSeq)
  }

  override def abort(): Unit = {
    closeCurrent()
    val fs = new Path(path).getFileSystem(conf)
    files.foreach { case (tmp, _) => fs.delete(new Path(tmp), false) }
  }

  override def close(): Unit = closeCurrent()
}
