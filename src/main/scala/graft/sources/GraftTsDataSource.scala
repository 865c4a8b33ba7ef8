package graft.sources

import graft.ts.TsTable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
import org.apache.spark.sql.sources.{DataSourceRegister, InsertableRelation}
import org.apache.spark.sql.types.{DateType, StructField, StructType, TimestampType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.time.ZoneId
import java.util.{Map => JMap}
import scala.jdk.CollectionConverters._

/** `graft-ts`: the TsTable storage contract as a DataSource V2 connector.
  *
  * The `graft.ts.TsTable` facade enforces the reference's append contract
  * (`[pub: tstables/tstable.py — append raises ValueError on out-of-order
  * rows]`) only for callers that use the facade; a plain
  * `df.write.parquet(path)` could corrupt a store silently. This connector
  * moves the contract to the CONNECTOR level, where Spark's planner applies
  * it to every access path:
  *
  *   - `spark.read.format("graft-ts").load(path)` — reads resolve to the
  *     builtin V2 parquet scan ([[GraftTsScanBuilder]]), so column pruning,
  *     parquet predicate pushdown and whole-stage codegen are identical to a
  *     native parquet read. The `p_date` partitioning is an IMPLEMENTATION
  *     DETAIL the connector hides: the exposed schema has data columns only,
  *     and time predicates on the ts column are translated into partition
  *     filters internally (`derivedDateBounds`) — users never mention
  *     `p_date`, yet day-directory pruning still happens (asserted in
  *     GraftTsSourceSpec).
  *   - `df.write.format("graft-ts").mode("append").save(path)` and SQL
  *     `INSERT INTO` run the facade's own [[TsTable.append]];
  *     `mode("overwrite")` and `INSERT OVERWRITE` run [[TsTable.overwrite]]
  *     (see [[GraftTsV2Table.newWriteBuilder]]). Spark's analyzer first
  *     resolves the batch against the table schema (by name or by
  *     position), so a mis-shaped batch fails before any job; the facade
  *     then applies the one append contract — null and out-of-order ts
  *     rejected, CHECK constraints, the declared `fileSpan` and
  *     `maxRecordsPerFile` layout, one snapshot commit. Out-of-order
  *     appends FAIL, whatever API issued them.
  *
  * Table creation stays explicit (`TsTable.create`), mirroring the
  * reference's `create_ts`; the connector opens existing stores (or plain
  * date-partitioned parquet dirs) via `TsTable.open`'s descriptor rules.
  *
  * 100 TB notes: reads are the stock distributed parquet scan over a
  * partition-pruned file listing; writes are the facade's placement
  * shuffle (per day, or per hour slot on `fileSpan = "hour"` tables) and
  * parquet write, committed as one snapshot version.
  */
final class GraftTsDataSource extends TableProvider with DataSourceRegister
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider {

  override def shortName(): String = "graft-ts"

  /** `df.writeStream.format("graft-ts").start(path)` — the native ordered
    * streaming sink (exactly-once via manifest-stamped batch ids; see
    * [[org.apache.spark.sql.graft.GraftTsStreamSink]]). The sink identity
    * is the query's checkpoint location, so distinct queries never dedup
    * each other's batches and a moved checkpoint is a NEW identity. */
  override def createSink(sqlContext: org.apache.spark.sql.SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-ts sink: append output mode only (an ordered log has no " +
        s"update/complete semantics), got $outputMode")
    require(partitionColumns.isEmpty,
      "graft-ts sink: partitioning is derived from the ts column; " +
        "partitionBy is not supported")
    val p = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-ts: a single 'path' is required (start(path))"))
    val filesPerDay = parameters.get("filesPerDay").map { raw =>
      try raw.trim.toInt
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"filesPerDay must be an integer, got '$raw'")
      }
    }.getOrElse(1)
    val sinkId = parameters.get("checkpointLocation")
      .map(c => java.lang.Long.toHexString(
        scala.util.hashing.MurmurHash3.stringHash(c).toLong & 0xffffffffL))
      .getOrElse("nocheckpoint")
    val lateData = parameters.getOrElse("lateData", "fail")
    require(lateData == "fail" || lateData == "backfill",
      s"graft-ts sink: lateData must be 'fail' or 'backfill', got '$lateData'")
    new org.apache.spark.sql.graft.GraftTsStreamSink(sqlContext, p,
      parameters.getOrElse("tsCol", "ts"), filesPerDay, sinkId, lateData)
  }

  // ── streaming read face (V1 Source): `spark.readStream.format("graft-ts")`
  // — each microbatch is the rows appended between snapshot versions; see
  // GraftTsStreamSource. The batch Table below advertises no
  // MICRO_BATCH_READ capability, so Spark routes streaming reads here.

  override def sourceSchema(sqlContext: org.apache.spark.sql.SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    require(schema.isEmpty,
      "graft-ts: the stream schema comes from the store descriptor; a " +
        "user-specified schema could silently misalign served batches")
    val tableSchema = TsTable.open(SparkSession.active,
      parameters.getOrElse("path", throw new IllegalArgumentException(
        "graft-ts: a single 'path' is required (load(path))")),
      parameters.getOrElse("tsCol", "ts")).schema
    (shortName(),
      if (readChangeFeed(parameters))
        org.apache.spark.sql.graft.GraftTsStreamSource.cdfSchema(tableSchema)
      else tableSchema)
  }

  private def readChangeFeed(parameters: Map[String, String]): Boolean =
    parameters.get("readChangeFeed").exists { raw =>
      raw.trim.toLowerCase match {
        case "true" => true
        case "false" => false
        case other => throw new IllegalArgumentException(
          s"readChangeFeed must be true or false, got '$other'")
      }
    }

  override def createSource(sqlContext: org.apache.spark.sql.SQLContext,
                            metadataPath: String, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source =
    new org.apache.spark.sql.graft.GraftTsStreamSource(sqlContext,
      parameters.getOrElse("path", throw new IllegalArgumentException(
        "graft-ts: a single 'path' is required (load(path))")),
      parameters.get("startingVersion").map { raw =>
        try raw.trim.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"startingVersion must be a snapshot version number, got '$raw'")
        }
      },
      readChangeFeed(parameters),
      parameters.get("maxVersionsPerTrigger").map { raw =>
        try raw.trim.toLong
        catch { case _: NumberFormatException =>
          throw new IllegalArgumentException(
            s"maxVersionsPerTrigger must be a positive integer, got '$raw'")
        }
      })

  // Schema always comes from the store descriptor (or parquet footers for
  // attached plain layouts) — a user-supplied schema could silently widen
  // the write contract.
  override def supportsExternalMetadata(): Boolean = false

  private def pathOf(options: JMap[String, String]): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-ts: a single 'path' is required (load(path) / save(path))")
    p
  }

  private def open(options: JMap[String, String]): TsTable =
    TsTable.open(SparkSession.active, pathOf(options),
      Option(options.get("tsCol")).getOrElse("ts"))

  /** `option("asOf", <version>)` pins the read to a committed snapshot
    * version (time travel through the connector). */
  private def asOfOf(options: JMap[String, String]): Option[Long] =
    Option(options.get("asOf")).map { raw =>
      try raw.trim.toLong
      catch { case _: NumberFormatException =>
        throw new IllegalArgumentException(
          s"asOf must be a snapshot version number, got '$raw'")
      }
    }

  private def openSnapshot(options: JMap[String, String]): Option[graft.ts.TsSnapshot] =
    asOfOf(options).map(v =>
      TsTable.openAt(SparkSession.active, pathOf(options), v))

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    openSnapshot(options).map(_.schema).getOrElse(open(options).schema)

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    // getTable receives the CASE-PRESERVING map while inferSchema received
    // a CaseInsensitiveStringMap — without re-wrapping, option("asof", v)
    // would pin the schema but silently read the LIVE table (and a
    // differently-cased tsCol would silently fall back to "ts")
    val ci = new CaseInsensitiveStringMap(properties)
    val t = open(ci)
    new GraftTsV2Table(SparkSession.active, t, openSnapshot(ci))
  }
}

/** One graft-ts store as a V2 Table: reads via the parquet V2 scan with
  * connector-derived partition pruning, writes via the facade's own
  * append and overwrite verbs ([[newWriteBuilder]]), row-level
  * `DELETE FROM … WHERE …`
  * via the facade's copy-on-write [[TsTable.deleteWhere]] (so a SQL
  * delete prunes to hit files, archives the originals for pinned
  * readers, and commits a "delete" version exactly like the API verb). */
final class GraftTsV2Table(spark: SparkSession, val ts: TsTable,
                           val snapshot: Option[graft.ts.TsSnapshot] = None)
    extends Table with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete {

  // The connector's timestamp encoding is INT64 micros (see
  // ArchiveResolvingParquetFileFormat.prepareWrite: INT96 is deprecated
  // and unfilterable). The V2 parquet ScanBuilder decides ts-filter
  // convertibility from THIS session conf, so pin it at table resolution;
  // per-file read still adapts to whatever encoding each file actually
  // has.
  spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")

  override def name(): String = snapshot
    .map(s => s"graft-ts `${ts.path}` @v${s.version}")
    .getOrElse(s"graft-ts `${ts.path}`")

  /** Data columns only — `p_date` is connector-internal (see companion
    * scaladoc). A pinned table serves ITS version's schema (manifests
    * record the schema as of each commit, so time travel crosses schema
    * evolution correctly). */
  override def schema(): StructType = snapshot.map(_.schema).getOrElse(ts.schema)

  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER).asJava

  /** Partition-aware file listing rooted at the store; `p_date` resolves as
    * DateType through the user-specified schema, so directory values never
    * go through inference. A fresh Table (every `load()`) gets a fresh
    * listing; writes invalidate the shared FileStatusCache via
    * `refreshByPath` at commit. Live reads skip files through the current
    * manifest's skip index ([[GraftTsStatsFileIndex]]) — sub-day file
    * pruning at planning time; stale spans are impossible (immutable
    * UUID-named files) and files without entries are never skipped, so
    * a table without a manifest degrades to the plain listing, never to
    * wrong results. */
  private[sources] lazy val fileIndex: PartitioningAwareFileIndex =
    snapshot match {
      case Some(snap) =>
        new GraftTsSnapshotFileIndex(spark, new Path(ts.path), snap)
      case None =>
        new GraftTsStatsFileIndex(spark, new Path(ts.path),
          StructType(ts.schema.fields :+
            StructField(TsTable.PartCol, DateType, nullable = true)),
          ts.currentSkipIndex)
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // a pinned table scans with ITS version's tsCol (manifests record it
    // precisely so time travel crosses schema evolution) — the live
    // table's tsCol could push ts predicates against the wrong column
    val scanTsCol = snapshot.map(_.tsCol).getOrElse(ts.tsCol)
    // runtime-filterable columns: everything a join-driven IN probe can
    // skip files with — Bloom sidecars, declared-stats spans, and the ts
    // span index itself. Typed from THIS scan's schema (the pinned
    // version's own, for time travel).
    val filterable = (ts.writeOptions.bloomCols ++ ts.writeOptions.statsCols
        :+ scanTsCol)
      .flatMap(n => schema().fields.find(_.name.equalsIgnoreCase(n)))
      .map(f => f.name -> f.dataType).toMap
    new GraftTsScanBuilder(spark, fileIndex, schema(), schema(), options,
      scanTsCol, filterable)
  }

  /** Every connector write lands through the facade: `V1_BATCH_WRITE`
    * makes Spark plan the write as a V1 fallback whose relation calls
    * [[TsTable.append]], or [[TsTable.overwrite]] once the builder was
    * truncated (`mode("overwrite")`, `INSERT OVERWRITE`). Spark's fallback
    * always passes `overwrite = false` to the relation, so the builder's
    * truncate flag decides. */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    // a pinned version is an immutable historical state — writes target
    // the LIVE table only (drop the asOf option to append)
    if (snapshot.isDefined)
      throw new UnsupportedOperationException(
        s"${name()} is a pinned snapshot (asOf) — time-traveled tables are read-only")
    new WriteBuilder with SupportsTruncate {
      private var truncating = false
      override def truncate(): WriteBuilder = { truncating = true; this }
      override def build(): V1Write = {
        val replace = truncating
        new V1Write {
          override def toInsertableRelation: InsertableRelation = (data, _) => {
            if (replace) ts.overwrite(data) else ts.append(data)
            spark.catalog.refreshByPath(ts.path)
          }
        }
      }
    }
  }

  /** Translatability gate for SQL DELETE: every conjunct must map onto a
    * Column predicate; refusing here makes Spark surface a clear
    * "cannot delete" error instead of this connector guessing at
    * semantics it cannot honor. */
  override def canDeleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    snapshot.isEmpty && filters.forall(GraftTsV2Table.filterToColumn(_).isDefined)

  /** `DELETE FROM graft_ts.`path`` WHERE …` → the facade's copy-on-write
    * delete (hit-file pruning, survivor rewrite, archive, "delete"
    * version commit). Conjuncts arrive pre-split; an empty array is the
    * TRUNCATE form and deletes every row. */
  override def deleteWhere(filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    if (snapshot.isDefined)
      throw new UnsupportedOperationException(
        s"${name()} is a pinned snapshot (asOf) — time-traveled tables are read-only")
    val pred = filters.map(f => GraftTsV2Table.filterToColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"graft-ts DELETE: cannot translate filter $f")))
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    ts.deleteWhere(pred)
    spark.catalog.refreshByPath(ts.path)
  }
}

object GraftTsV2Table {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.{sources => sf}

  /** V1 Filter → Column, conservative (None = not translatable; the
    * delete is then refused rather than approximated). */
  private[sources] def filterToColumn(f: sf.Filter): Option[Column] = f match {
    case sf.EqualTo(a, v) => Some(col(a) === lit(v))
    case sf.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sf.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sf.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sf.LessThan(a, v) => Some(col(a) < lit(v))
    case sf.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sf.In(a, vs) => Some(col(a).isin(vs.toSeq: _*))
    case sf.IsNull(a) => Some(col(a).isNull)
    case sf.IsNotNull(a) => Some(col(a).isNotNull)
    case sf.And(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc && rc
    case sf.Or(l, r) =>
      for { lc <- filterToColumn(l); rc <- filterToColumn(r) } yield lc || rc
    case sf.Not(c) => filterToColumn(c).map(!_)
    case sf.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sf.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sf.StringContains(a, v) => Some(col(a).contains(v))
    case sf.AlwaysTrue() => Some(lit(true))
    case sf.AlwaysFalse() => Some(lit(false))
    case _ => None
  }
}

/** The stock V2 parquet ScanBuilder plus one graft-ts twist: pushed-down
  * time predicates on the ts column are mirrored as `p_date` bounds before
  * the partition/data filter split, so day-directory pruning fires even
  * though `p_date` is not part of the visible schema. Sound because
  * `p_date = to_date(ts)` (session zone) by write-path construction: a ts
  * bound IMPLIES the corresponding date bound, and the synthesized filter
  * only ever removes partitions that cannot match. */
final class GraftTsScanBuilder(
    spark: SparkSession, fileIndex: PartitioningAwareFileIndex,
    schema: StructType, dataSchema: StructType,
    options: CaseInsensitiveStringMap, tsCol: String,
    runtimeFilterable: Map[String, org.apache.spark.sql.types.DataType] =
      Map.empty)
  extends ParquetScanBuilder(spark, fileIndex, schema, dataSchema, options) {

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] =
    super.pushFilters(
      filters ++ GraftTsScanBuilder.derivedDateBounds(
        filters, tsCol, spark.sessionState.conf.sessionLocalTimeZone))

  /** The stock parquet scan, wrapped for runtime file-group filtering when
    * the table declares skippable index columns (bloomCols/statsCols/ts —
    * see [[GraftTsRuntimeFilteredScan]]). */
  override def build()
      : org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan = {
    val p = super.build()
    if (runtimeFilterable.isEmpty) p
    else new GraftTsRuntimeFilteredScan(p, runtimeFilterable)
  }
}

object GraftTsScanBuilder {

  /** For each top-level conjunct of shape `ts <cmp> literal` (either
    * operand order), emit the implied bound on `p_date`. Conservative:
    * unrecognized shapes contribute nothing (no pruning, never wrong). */
  private[sources] def derivedDateBounds(
      filters: Seq[Expression], tsCol: String, zone: String): Seq[Expression] = {
    val zoneId = ZoneId.of(zone)
    val pDate = AttributeReference(TsTable.PartCol, DateType, nullable = true)()
    def day(us: Long): Literal = Literal(DateTimeUtils.microsToDays(us, zoneId), DateType)
    def isTs(e: Expression): Boolean = e match {
      case a: AttributeReference =>
        a.name.equalsIgnoreCase(tsCol) && a.dataType == TimestampType
      case _ => false
    }
    filters.flatMap {
      // ts at-or-after L ⇒ the day of L or later (strict > still includes
      // L's own day — later rows that day qualify).
      case GreaterThanOrEqual(a, Literal(us: Long, TimestampType)) if isTs(a) =>
        Seq(GreaterThanOrEqual(pDate, day(us)))
      case GreaterThan(a, Literal(us: Long, TimestampType)) if isTs(a) =>
        Seq(GreaterThanOrEqual(pDate, day(us)))
      case LessThanOrEqual(a, Literal(us: Long, TimestampType)) if isTs(a) =>
        Seq(LessThanOrEqual(pDate, day(us)))
      case LessThan(a, Literal(us: Long, TimestampType)) if isTs(a) =>
        Seq(LessThanOrEqual(pDate, day(us)))
      case EqualTo(a, Literal(us: Long, TimestampType)) if isTs(a) =>
        Seq(EqualTo(pDate, day(us)))
      // literal-first variants
      case GreaterThanOrEqual(Literal(us: Long, TimestampType), a) if isTs(a) =>
        Seq(LessThanOrEqual(pDate, day(us)))
      case GreaterThan(Literal(us: Long, TimestampType), a) if isTs(a) =>
        Seq(LessThanOrEqual(pDate, day(us)))
      case LessThanOrEqual(Literal(us: Long, TimestampType), a) if isTs(a) =>
        Seq(GreaterThanOrEqual(pDate, day(us)))
      case LessThan(Literal(us: Long, TimestampType), a) if isTs(a) =>
        Seq(GreaterThanOrEqual(pDate, day(us)))
      case EqualTo(Literal(us: Long, TimestampType), a) if isTs(a) =>
        Seq(EqualTo(pDate, day(us)))
      case _ => Seq.empty
    }
  }
}
