package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.Job
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{OutputWriterFactory, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** ParquetFileFormat with EXECUTION-time live/archive resolution for
  * graft-ts snapshot reads — the fix for the format's one remaining
  * plan-vs-execute race: a copy-on-write verb (compact / deleteWhere /
  * updateWhere / mergeInto / retention / restore) displaces the files it
  * rewrites by RENAMING them from the live tree into `_ts_archive/` under
  * the SAME relative path (`TsTable.archiveFile`). A batch planned a
  * moment earlier holds the pre-displacement path; without this class the
  * task fails with FILE_NOT_EXIST and a live streaming consumer dies
  * mid-microbatch even though the bytes still exist one directory over.
  *
  * Because basenames are immutable UUIDs and the archive mirrors the
  * partition layout (`p_date=.../<name>` ↔ `_ts_archive/p_date=.../
  * <name>`), the displaced location is derivable from the planned path
  * alone: each task that fails to OPEN its file retries once at the
  * mirrored location (live → archive for a file displaced after
  * planning; archive → live for the symmetric case). Only genuinely
  * expired bytes — `expireSnapshots`, the documented retention horizon —
  * still fail, now with the original error.
  *
  * Everything else (predicate pushdown, vectorized read, whole-stage
  * codegen batch support, schema evolution null-fill) is inherited
  * untouched; the wrapper adds zero cost on the open-succeeds path. Used
  * by [[graft.ts.TsSnapshot]]'s DataFrame construction, which serves
  * every pinned read and every streaming microbatch
  * ([[GraftTsStreamSource]]).
  *
  * It is also the format of every TsTable data write, which it writes
  * with INT64 `TIMESTAMP(MICROS)` timestamps; given the
  * [[BloomParquetWriteSupport.ColsOption]]/`BitsOption` write options,
  * each written file carries its Bloom bits in its footer.
  *
  * Lives under org.apache.spark.sql because
  * `buildReaderWithPartitionValues` is `private[sql]` — same shim rule as
  * [[BloomExprs]]. */
final class ArchiveResolvingParquetFileFormat extends ParquetFileFormat {

  override def toString: String = "GraftTsParquet(archive-resolving)"

  override def prepareWrite(
      sparkSession: SparkSession,
      job: Job,
      options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(sparkSession, job, options, dataSchema)
    // µs-instant physical encoding: INT96 (Spark's parquet default) is
    // deprecated AND unfilterable — ParquetFilters cannot build row-group
    // predicates over INT96, so the sorted-row-group stats-skipping the
    // table's read path depends on would silently degrade to post-scan
    // filtering. INT64 micros is the lossless match for the table's data
    // model. Set in this write's job conf, which the executor-side writer
    // reads, not in the caller's session.
    job.getConfiguration.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    options.get(BloomParquetWriteSupport.ColsOption).foreach { cols =>
      BloomParquetWriteSupport.configure(job.getConfiguration,
        cols.split(",").toSeq.filter(dataSchema.fieldNames.contains),
        options(BloomParquetWriteSupport.BitsOption).toLong)
    }
    factory
  }

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[Filter],
      options: Map[String, String],
      hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
    import ArchiveResolvingParquetFileFormat._
    // The V1 FileFormat path never copies the field-id session confs into
    // the per-relation hadoopConf (the V2 ParquetScan factory does, which
    // is why `spark.read.parquet` id-resolves and a raw V1 relation does
    // not) — ParquetReadSupport reads them from hadoopConf, so set them
    // here or an id-stamped schema silently null-fills renamed columns.
    hadoopConf.setBoolean(SQLConf.PARQUET_FIELD_ID_READ_ENABLED.key,
      sparkSession.sessionState.conf.parquetFieldIdReadEnabled)
    // ignoreMissing is forced FALSE regardless of the session conf: this
    // format carries its own, strictly better handling of id-less files
    // (the by-NAME fallback reader below). Spark's lenient mode would
    // suppress the missing-id error the fallback keys on and serve the
    // foreign file as all-null rows — a silent correctness regression
    // gated on an unrelated user setting.
    hadoopConf.setBoolean(SQLConf.IGNORE_MISSING_PARQUET_FIELD_ID.key, false)
    // EACH super call writes its requested-schema into the Configuration
    // it is handed and broadcasts that object BY REFERENCE in local mode —
    // two readers sharing one Configuration would silently serve the
    // second reader's schema to the first one's tasks. Copy per reader;
    // the copy is a LeanConfiguration, so the broadcast serializes
    // without per-property provenance.
    val base = super.buildReaderWithPartitionValues(sparkSession, dataSchema,
      partitionSchema, requiredSchema, filters, options,
      new LeanConfiguration(hadoopConf))
    // FOREIGN-file fallback: an id-stamped table can still hold attached
    // plain-parquet files (the hybrid-layout contract). Under field-id
    // resolution those files refuse to read ("file schema doesn't contain
    // any field Ids"), so a second reader with the ids STRIPPED stands by
    // — it resolves that one file by NAME, the pre-id contract attached
    // files were written against. Built only when the schema carries ids.
    val nameBase: Option[PartitionedFile => Iterator[InternalRow]] =
      if (!hasIds(dataSchema) && !hasIds(requiredSchema)) None
      else Some(super.buildReaderWithPartitionValues(sparkSession,
        stripIds(dataSchema), partitionSchema, stripIds(requiredSchema),
        filters, options, new LeanConfiguration(hadoopConf)))
    def open(file: PartitionedFile): Iterator[InternalRow] =
      try base(file)
      catch {
        case e: Throwable if nameBase.isDefined && isMissingIdError(e) =>
          nameBase.get(file)
      }
    file => {
      try open(file)
      catch {
        case e: java.io.FileNotFoundException =>
          mirrorPath(file.filePath.toString) match {
            case Some(alt) =>
              try open(file.copy(filePath = SparkPath.fromPathString(alt)))
              catch { case _: java.io.FileNotFoundException => throw e }
            case None => throw e
          }
      }
    }
  }
}

object ArchiveResolvingParquetFileFormat {
  private val ArchiveSeg = "/_ts_archive/"
  private val PartSeg = "/p_date="
  private val FieldIdKey = "parquet.field.id"

  private def hasIds(s: StructType): Boolean =
    s.fields.exists(_.metadata.contains(FieldIdKey))

  private def stripIds(s: StructType): StructType =
    StructType(s.fields.map(f => f.copy(metadata =
      new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).remove(FieldIdKey).build())))

  /** Spark's ParquetReadSupport refusal for an id-requesting schema over
    * an id-less file — matched by message because the exception type is a
    * plain RuntimeException. The message string is PINNED by
    * TsBloomSpec("foreign file attached → not authoritative → full-scan
    * fallback stays correct"): a Spark upgrade that rewords it fails that
    * test loudly instead of silently disabling the name fallback. */
  private def isMissingIdError(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(5).exists(t =>
      Option(t.getMessage).exists(_.contains(
        "Parquet file schema doesn't contain any field Ids")))

  /** The "other" location of a graft-ts data file: strip `_ts_archive`
    * if present, else insert it before the partition directory (or the
    * basename for loose root-level files). Pure string surgery — the
    * archive mirrors the live layout by construction. */
  private[graft] def mirrorPath(p: String): Option[String] = {
    val ai = p.indexOf(ArchiveSeg)
    if (ai >= 0)
      Some(p.substring(0, ai) + "/" + p.substring(ai + ArchiveSeg.length))
    else {
      val pi = p.lastIndexOf(PartSeg)
      val cut = if (pi >= 0) pi else p.lastIndexOf('/')
      if (cut <= 0) None
      else Some(p.substring(0, cut) + ArchiveSeg.dropRight(1) + p.substring(cut))
    }
  }
}
