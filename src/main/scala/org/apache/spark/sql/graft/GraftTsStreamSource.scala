package org.apache.spark.sql.graft

import graft.ts.TsTable

import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

/** Streaming incremental source over a graft-ts store — the CDF-stream
  * analogue of [[graft.ts.TsTable.changesBetween]]: each microbatch is the
  * rows APPENDED between two committed snapshot versions, and the stream's
  * offsets ARE those version numbers.
  *
  * {{{
  *   spark.readStream.format("graft-ts")
  *     .option("startingVersion", 0)   // omit = only NEW commits
  *     .load(storePath)
  * }}}
  *
  * Semantics (inherited from `changesBetween`, asserted in TsStreamSpec):
  *   - `append` / `overwrite` commits surface their added files' rows;
  *   - `compact` / retention / `deleteWhere` / `restore` commits surface
  *     NOTHING (they rewrite or remove, never add), so maintenance on the
  *     store does not re-emit data into the stream;
  *   - offsets are snapshot versions, so a restarted query resumes from
  *     its checkpointed version — exactly-once relative to commits;
  *   - `startingVersion` replays history from that version (0 = from the
  *     table's creation, manifests permitting); omitted, the stream
  *     serves only commits made after it starts (the CDC tail shape);
  *   - `maxVersionsPerTrigger` caps how many commits one microbatch may
  *     span (the Delta `maxFilesPerTrigger` analogue): a large backlog
  *     drains in bounded batches instead of one giant catch-up batch.
  *
  * Scale notes: `getOffset` is one directory listing (metadata);
  * `getBatch` plans a distributed parquet scan of ONLY the files the
  * version-range diff names, resolved through the archive when later
  * maintenance displaced them — never a table scan, never driver-side
  * rows. This is a V1 `Source` deliberately: `getBatch` returns a
  * DataFrame, which lets the version diff reuse the snapshot resolution
  * machinery wholesale (the Delta-source precedent).
  *
  * Schema: pinned at stream start. Columns added by later evolution are
  * dropped from served batches (the stream's contract is its declared
  * schema); a restore to a pre-evolution schema fails the query loudly
  * rather than serving misaligned rows.
  *
  * Concurrency contract: a microbatch resolves its file paths when the
  * batch is PLANNED (getBatch), against the live/archive split as of
  * that moment — and each task RE-resolves at file-open time through
  * [[ArchiveResolvingParquetFileFormat]] (copy-on-write displaces files
  * by renaming them into `_ts_archive/` under the same relative path, so
  * the fallback location is derivable from the planned path alone). A
  * deleteWhere/updateWhere/mergeInto/compact/restore landing while the
  * batch still executes therefore does NOT kill the consumer: the task
  * re-reads the same bytes from the mirrored path (race case asserted in
  * TsStreamSpec / SnapshotSpec). Only `expireSnapshots` — which deletes
  * archived bytes outright — can fail an in-flight batch, and offsets
  * only advance on batch COMMIT, so even then a restarted query re-plans
  * the same version range against the retained horizon (exactly-once
  * preserved). Appends/backfills are file-additive and never displace
  * anything.
  *
  * `readChangeFeed = true` switches the source onto
  * [[graft.ts.TsTable.changeFeed]]: batches carry `_change_type`
  * (`insert`/`delete`) and `_commit_version`, and the verbs the plain
  * source must stay silent on (`deleteWhere`/`updateWhere`/`mergeInto`/
  * retention/`restore`) stream their row-level effects — the shape a
  * downstream mirror needs to track deletions instead of resyncing. A
  * `startingVersion` below the retained horizon serves the earliest
  * retained full state as synthetic `insert`s at that version (the same
  * stand-in rule as the plain source), then row-diffs forward.
  */
final class GraftTsStreamSource(sqlContext: SQLContext, path: String,
                                startingVersion: Option[Long],
                                readChangeFeed: Boolean = false,
                                maxVersionsPerTrigger: Option[Long] = None)
    extends Source {

  require(maxVersionsPerTrigger.forall(_ >= 1),
    s"maxVersionsPerTrigger must be >= 1, got ${maxVersionsPerTrigger.get}")

  private val spark = sqlContext.sparkSession
    .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
  private val table = TsTable.open(spark, path)

  override val schema: StructType =
    if (readChangeFeed) GraftTsStreamSource.cdfSchema(table.schema)
    else table.schema

  /** Versions at-or-before this are the consumed baseline of a FRESH
    * stream (getBatch with start = None): "new commits only" by default.
    * A RESTARTED query never consults it — its start offset comes from
    * the checkpoint, so re-capturing the current version here is safe. */
  private val baseline: Long =
    startingVersion.map(_.max(0L))
      .getOrElse(table.currentVersion.getOrElse(0L))

  private def versionOf(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json.trim.toLong
  }

  /** Highest version this source has handed out in a batch — the rate
    * limiter's floor. Restart-safe by the V1 Source contract: the engine
    * replays `getBatch` with the checkpointed range before polling for
    * new offsets (the FileStreamSource/Delta-source repositioning rule),
    * so a capped `getOffset` can never regress below the commit log. */
  @volatile private var positioned: Option[Long] = None

  override def getOffset: Option[Offset] = {
    // re-open per poll: the listing must see commits made through OTHER
    // handles (the facade, the connector, a foreign session). The engine
    // dedups: an offset equal to the last committed one plans no batch.
    val live = TsTable.open(spark, path).currentVersion.getOrElse(return None)
    val capped = maxVersionsPerTrigger match {
      // backlog admission control (the Delta maxFilesPerTrigger analogue):
      // a stream started with startingVersion far in the past — or resumed
      // after downtime — drains its backlog in bounded microbatches
      // instead of planning one giant catch-up batch whose shuffle state
      // must fit at once
      case Some(m) => math.min(live, positioned.getOrElse(baseline) + m)
      case None => live
    }
    Some(LongOffset(capped))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(versionOf).getOrElse(baseline)
    val to = versionOf(end)
    positioned = Some(positioned.fold(to)(math.max(_, to)))
    val batch =
      if (to <= from)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else {
        def diff(lo: Long, hi: Long): DataFrame =
          if (readChangeFeed) table.changeFeed(lo, hi)
          else table.changesBetween(lo, hi)
        // common path first: `from` still retained → a pure version-range
        // diff, O(1) existence check (not an O(#versions) history walk)
        val aligned =
          if (from >= 1 && table.hasVersion(from)) diff(from, to)
          else {
            val oldest = table.snapshotVersions.headOption.map(_._1).getOrElse(0L)
            // replay from before the retained history (startingVersion
            // under the expiry horizon): the earliest retained version's
            // FULL state stands in for the expired prefix, then diffs.
            // For a table created through this engine, version 1 is the
            // empty "create" state, so startingVersion=0 = every append.
            // In change-feed mode the stand-in rows are synthetic inserts
            // stamped with the horizon version they stand in for.
            // toDFAs: field ids relabel a pre-rename horizon version to
            // the stream's declared (current-at-start) column names
            val base0 = TsTable.openAt(spark, path, oldest).toDFAs(table.schema)
            val base =
              if (!readChangeFeed) base0
              else base0
                .withColumn("_change_type", org.apache.spark.sql.functions.lit("insert"))
                .withColumn("_commit_version", org.apache.spark.sql.functions.lit(oldest))
            if (to == oldest) base
            else base.unionByName(diff(oldest, to), allowMissingColumns = true)
          }
        // Pin the declared schema — NAME and TYPE. internalCreateDataFrame
        // below trusts `schema` over the rows' actual layout, so a type
        // mismatch would read UnsafeRow slots at the wrong width (silent
        // wrongness, not an error). Two legitimate drifts exist:
        //   - a pre-widen HORIZON under a stream declared post-widen:
        //     narrow on disk, wide declared — a lossless upcast, applied;
        //   - a widenColumn landing MID-STREAM: wide on disk, narrow
        //     declared — refused loudly; restarting re-reads the
        //     descriptor and adopts the wide schema (the evolution rule
        //     this source already documents for restore).
        aligned.select(schema.fields.map { f =>
          val have = aligned.schema(f.name).dataType
          if (have == f.dataType) col(f.name)
          else if (org.apache.spark.sql.catalyst.expressions.Cast
              .canUpCast(have, f.dataType))
            col(f.name).cast(f.dataType).as(f.name)
          else throw new IllegalStateException(
            s"graft-ts stream: column '${f.name}' now serves as " +
              s"${have.simpleString} but the stream declared " +
              s"${f.dataType.simpleString} at start — the table's schema " +
              "evolved mid-stream (widenColumn); restart the streaming " +
              "query to adopt the new schema")
        }.toSeq: _*)
      }
    spark.internalCreateDataFrame(
      batch.queryExecution.toRdd, schema, isStreaming = true)
  }

  override def stop(): Unit = ()
}

object GraftTsStreamSource {
  /** The change-feed stream schema: the table's columns plus the Delta-CDF
    * convention pair. */
  def cdfSchema(tableSchema: StructType): StructType = tableSchema
    .add("_change_type", org.apache.spark.sql.types.StringType, nullable = false)
    .add("_commit_version", org.apache.spark.sql.types.LongType, nullable = false)
}
