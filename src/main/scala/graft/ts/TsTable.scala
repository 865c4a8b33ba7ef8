package graft.ts

import org.apache.hadoop.fs.{ChecksumFileSystem, FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.BloomParquetWriteSupport
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructField, StructType, TimestampType}

import java.sql.Timestamp
import scala.reflect.ClassTag

/** A time-partitioned, time-sorted Parquet dataset.
  *
  * Spark-native analogue of the reference's `TsTable` (afiedler/tstables:
  * an HDF5 subtree of daily partitions, each a PyTables table of
  * timestamp-sorted rows — `tstables/tstable.py`, class `TsTable`;
  * reconstructed from public docs, `/root/reference` was empty at build
  * time, see SURVEY.md §0). The reference's guarantees map as:
  *
  *   - daily HDF5 group per date            → Hive partition dir `p_date=YYYY-MM-DD`
  *   - rows sorted by ts within a partition → `sortWithinPartitions` at write time,
  *                                            so Parquet row-group min/max stats give
  *                                            the same contiguous-slice skipping the
  *                                            reference gets from bisecting sorted rows
  *   - manual date-range pruning in
  *     `read_range`                         → Catalyst `PruneFileSourcePartitions` on the
  *                                            `p_date` predicate (verified in TsTableSpec
  *                                            via the physical plan's PartitionFilters)
  *   - append monotonicity (`ValueError` on
  *     time regression)                     → cheap min/max guard job, IllegalArgumentException
  *
  * Scale notes (target: 1000-executor cluster, 100 TB):
  *   - one shuffle per append, keyed by day, so each day lands in one task and
  *     one sorted file; for days larger than an executor's comfortable file size,
  *     use `append(df, filesPerDay > 1)` which range-partitions within the day by ts,
  *     keeping per-file sortedness and bounded file sizes.
  *   - reads are shuffle-free: partition pruning (directory level) + predicate
  *     pushdown (row-group level) both happen in the scan.
  *   - min/max read ONLY the edge day-partition (driver-side directory
  *     listing picks it; sortedness of p_date vs ts makes that exact), so
  *     the append monotonicity guard is O(one partition) — the reference's
  *     O(1) edge-row contract, not an O(table) scan.
  */
final class TsTable private (
    val spark: SparkSession,
    val path: String,
    private[ts] val desc: TsDescriptor) {

  import TsTable._

  def tsCol: String = desc.tsCol

  def writeOptions: TsWriteOptions = desc.options

  def schema: StructType = desc.schema

  /** This handle, or a fresh one on the live descriptor when another
    * handle changed the stored descriptor since this one was opened — the
    * one stale-handle rule. Every verb that rewrites files or writes the
    * descriptor runs on the handle it returns: through a stale handle a
    * rewrite would drop columns another handle added, judge writes
    * against CHECKs that are no longer the table's, and write back a
    * descriptor erasing another handle's columns, CHECKs, index
    * declarations and drop tombstones. `append`, `overwrite` and the reads
    * keep this handle's own descriptor on purpose: a stale, narrower
    * projection stays valid to read and to append (the live schema reads
    * its missing columns as null); a CHECK added through another handle
    * gates them once the handle is reopened. */
  private def live: TsTable = {
    val serving = TsTable.open(spark, path, tsCol)
    if (serving.desc == desc) this else serving
  }

  /** Re-attach the descriptor's parquet field ids to a frame about to be
    * WRITTEN as table data. Id metadata rides AttributeReferences through
    * filters/repartitions/sorts, but a `withColumn` replacement (update
    * assignments) or a user-supplied batch (append/backfill/merge source)
    * drops it — and a file written with a missing id would null-fill that
    * column on every id-resolved read. One narrow projection immediately
    * before each write funnel makes ids unconditional; pass-through for
    * pre-id tables and non-table columns (`p_date`). */
  private def withFieldIds(df: DataFrame): DataFrame =
    if (!hasFieldIds(schema)) df
    else {
      val byName = schema.fields.map(f => f.name -> f.metadata).toMap
      df.select(df.columns.map { n =>
        byName.get(n).fold(col(n))(m => col(n).as(n, m))
      }.toIndexedSeq: _*)
    }

  /** Declared CHECK constraints, (name, SQL predicate) — see [[addCheck]]. */
  def checks: Seq[(String, String)] = desc.checks

  /** Names retired by [[dropColumns]] — see its re-add guard. */
  def dropped: Seq[String] = desc.dropped

  /** Full table as a DataFrame (data columns only; partition column dropped). */
  def toDF: DataFrame = raw.drop(PartCol)

  /** Raw frame including the `p_date` partition column. Served through
    * the archive-resolving parquet format
    * ([[org.apache.spark.sql.graft.ArchiveResolvingParquetFileFormat]]):
    * tasks re-resolve displaced files at open time (the plan-vs-execute
    * rule), and on an id-stamped table an attached FOREIGN (id-less)
    * file falls back to by-name resolution instead of refusing. */
  def raw: DataFrame =
    spark.read.format(TsTable.Fmt)
      .schema(withPartCol(schema)).load(path)

  /** Closed-interval time-range read: rows with `start <= ts <= end`
    * (the reference filters `timestamp >= start & timestamp <= end`).
    * Emits an explicit predicate on the partition column so Catalyst prunes
    * day directories, and the ts predicate is pushed to the Parquet scan
    * where sorted row-groups make it a stats-level skip.
    */
  def readRange(start: Timestamp, end: Timestamp): DataFrame =
    // Manifest route: when the current manifest serves the live table
    // ([[servingManifest]]), the scan plans from its explicit file list,
    // and files whose closed ts span cannot intersect [start, end] never
    // enter planning (on top of the day-dir and row-group pruning below).
    // Otherwise (orphans, attached files, stale pre-evolution handle) the
    // directory-listing scan serves.
    servingSnapshot.fold {
      // Day bounds are computed IN-PLAN via to_date on the timestamp
      // literal, so they resolve under the session timezone (pinned UTC)
      // — the same rule that wrote p_date. A driver-side
      // `new java.sql.Date(millis)` would go through the JVM default TZ
      // and could exclude the boundary partition on hosts west of UTC.
      // Both foldable, so partition pruning still sees constant bounds
      // (asserted in TsTableSpec). The isNull arm keeps LOOSE root-level
      // files (attached plain/hybrid layouts, p_date null) in the scan —
      // `NULL BETWEEN a AND b` is NULL and would silently drop their
      // rows; dated partitions still prune (the OR resolves per
      // partition value), and the ts predicate filters loose rows.
      raw
        .where((col(PartCol).isNull ||
            col(PartCol).between(to_date(lit(start)), to_date(lit(end)))) &&
          col(tsCol).between(lit(start), lit(end)))
        .drop(PartCol)
    }(_.readRange(start, end))

  /** Equality point lookup — `SELECT … WHERE column IN (values)` served
    * through the table's file-skipping indexes (the Delta/Iceberg
    * metadata-skipping analogue, and the verb min/max spans cannot serve
    * on a high-cardinality UNCLUSTERED column: every file's [lo, hi]
    * span covers everything, so span skipping keeps all files, while
    * per-file Bloom bits — declared via `TsWriteOptions(bloomCols = …)`,
    * built by the writer, collected at commit, carried forward like
    * spans — keep only files that MIGHT hold a probed value). When the
    * current manifest serves the live table ([[servingManifest]]) the
    * scan plans from that manifest's file list, and its file index
    * ([[graft.sources.GraftTsStatsFileIndex.SkipIndex]], the one rule
    * every skipping read uses) skips a file only when its declared-stats
    * span excludes every value OR its Bloom filter rejects every value's
    * hash; files without index entries are always read. Otherwise the
    * plain filtered scan serves — soundness over coverage. The frame
    * serves the manifest it was built from, never a later commit's file
    * set. The exact predicate re-applies on the survivors, so a Bloom
    * false positive costs I/O, never correctness. Where a probe value
    * of another type than the column's leaves a cast on the column, the
    * probe is void (every file kept, no row lost). At 100 TB this turns
    * a needle query (one user's rows, one bad producer's ids) from a
    * full-table scan into O(files actually holding the needle) reads. */
  def lookupEq(column: String, values: Seq[Any]): DataFrame = {
    require(schema.fieldNames.contains(column),
      s"lookupEq: unknown column '$column'")
    require(values.nonEmpty && values.forall(_ != null),
      "lookupEq: need at least one non-null probe value")
    servingSnapshot.fold(toDF)(_.toDF)
      .where(col(column).isin(values: _*))
  }

  /** The serving manifest ([[servingManifest]]) as a pinned view that
    * knows this handle's Bloom columns, so its equality probes never open
    * the descriptor, and the live file sizes that check just listed, so
    * resolving its files lists no directory again. */
  private def servingSnapshot: Option[TsSnapshot] =
    servingManifest().map(m => new TsSnapshot(spark, path, tsCol, m,
      Some(TsSnapshot.liveDirCache(path, m)), Some(liveBloomCols)))

  /** Per-day layout observability (the IvfIndex.cellStats analogue): one
    * row per `p_date=` directory with file count, bytes, and rows — the
    * report that justifies reaching for `compact` (many small files) or
    * flags a skewed day before its range reads slow down. Files/bytes
    * come from the driver-side listing (metadata-only); row counts from
    * the parquet footers via a zero-data-column scan. */
  def partitionStats: DataFrame = {
    import spark.implicits._
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val meta = partitionDates.map { d =>
      val files = dataFiles(fs.listStatus(new Path(dir, s"$PartCol=$d")))
      (d, files.size.toLong, files.map(_.getLen).sum)
    }.toDF(PartCol, "n_files", "n_bytes")
    val rows = raw.groupBy(col(PartCol).cast("string").as(PartCol))
      .agg(count(lit(1)).as("n_rows"))
    meta.join(rows, Seq(PartCol), "left")
      .na.fill(0L, Seq("n_rows"))
      .orderBy(col(PartCol))
  }

  /** ISO date strings of the table's `p_date=` partition directories, from a
    * driver-side file listing — METADATA ONLY, the exact analogue of the
    * reference enumerating its daily HDF5 groups. O(#partitions), never
    * O(rows). Empty for attached non-partitioned layouts. */
  private def partitionDates: Seq[String] = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty else datesIn(fs.listStatus(dir))
  }

  /** The partition dates of a listing of the table root. */
  private def datesIn(rootListing: Array[FileStatus]): Seq[String] =
    rootListing.iterator
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(n => n.startsWith(PartCol + "="))
      .map(_.substring(PartCol.length + 1))
      // The suffix must PARSE as a date, not merely be 10 chars long: a
      // 10-char junk suffix (`p_date=garbage123`) would null out under
      // to_date() in edgeSlice's equality filter, making the edge slice
      // empty — and an empty maxDt silently disables the append
      // monotonicity guard. Skips HIVE_DEFAULT_PARTITION too.
      .filter(DateDirRe.matches)
      .toSeq

  /** The first/last day-partition as a frame, or the whole table when no
    * partition directories exist (attached plain layout). Because
    * `p_date = to_date(ts)` (UTC) by construction, the lexicographically
    * max/min ISO date directory is guaranteed to contain the global
    * max/min ts — the same sortedness argument that lets the reference read
    * only an edge partition for `min_dt`/`max_dt`. Package-visible so
    * TsTableSpec can assert the pruned plan. */
  private[graft] def edgeSlice(last: Boolean): DataFrame =
    edgeSliceOf(partitionDates, last)

  private def edgeSliceOf(dates: Seq[String], last: Boolean): DataFrame =
    if (dates.isEmpty) toDF
    else raw.where(col(PartCol) === to_date(lit(if (last) dates.max else dates.min)))
      .drop(PartCol)

  /** Earliest timestamp, None if empty. Metadata-only when the current
    * manifest carries a complete ts-span index ([[statsEdge]] — a fold
    * over per-file footer stats recorded at commit); otherwise O(one
    * partition), like the reference's first-row-of-first-partition read:
    * a directory listing picks the edge day, the aggregate scans only
    * that day's file(s) (and within them, Parquet footer min/max stats). */
  def minDt: Option[Timestamp] =
    statsEdge(last = false).orElse(edgeAgg(last = false, min))

  /** Latest timestamp, None if empty. Metadata-only via the manifest span
    * index when complete, O(one partition) otherwise — see `minDt`. This
    * is also the append monotonicity guard, so appends cost O(metadata)
    * on a span-indexed table, never O(table). */
  def maxDt: Option[Timestamp] =
    statsEdge(last = true).orElse(edgeAgg(last = true, max))

  /** Edge-partition aggregate with a correctness fallback: if the edge
    * slice aggregates to null while partition directories EXIST (a leftover
    * empty edge dir from an aborted write — directory present, no data
    * files), step INWARD to the next partition date rather than report the
    * table empty. Returning None here would silently disable the append
    * monotonicity guard (`maxDt.foreach` skips validation on None); each
    * inward step costs one partition scan, so a persistent junk edge dir
    * costs O(empty dirs), never the pre-r6 full-table aggregate (r5
    * ADVICE). One `partitionDates` listing serves the whole walk. */
  private def edgeAgg(last: Boolean,
      f: org.apache.spark.sql.Column => org.apache.spark.sql.Column): Option[Timestamp] = {
    val ordered = { // edge-first walk order
      val d = partitionDates.sorted
      if (last) d.reverse else d
    }
    if (ordered.isEmpty) {
      // No partition dirs at all: only loose root-level files (attach
      // surface) could hold rows. A table serving NO files — the fresh
      // store every roundtrip's FIRST append sees — answers None from
      // metadata instead of paying a full-scan job over an empty frame
      // (r22 lifecycle job batching; None correctly disables the
      // monotonicity guard only when there is genuinely nothing stored).
      if (servesNoFiles) return None
      return Option(toDF.agg(f(col(tsCol))).head.getAs[Timestamp](0))
    }
    ordered.iterator
      .map(d => Option(edgeSliceOf(Seq(d), last).agg(f(col(tsCol)))
        .head.getAs[Timestamp](0)))
      .collectFirst { case Some(t) => t }
  }

  /** Ordered bulk append, mirroring the reference's contract:
    *   - the incoming batch must not reach back before the stored `maxDt`
    *     (duplicates of the boundary instant are allowed, regression is not);
    *   - null timestamps are rejected;
    *   - rows are split across daily partitions (created on demand by the
    *     Parquet writer) and each partition's file(s) are sorted by ts.
    *
    * Input-batch sortedness is NOT required by default (a DataFrame has no
    * logical row order); the write path establishes the sorted-within-
    * partition invariant itself. `strict = true` restores the reference's
    * contract — tstables' `append` raises `ValueError` on an unsorted input
    * batch — interpreted over the batch's PHYSICAL row order (what a user
    * gets reading an ordered file): within every input partition, rows must
    * be ts-non-decreasing, and partition boundaries must not interleave.
    * Costs one extra validation pass; leave it off when the input carries no
    * meaningful order.
    *
    * @param filesPerDay >1 range-splits heavy days into several ts-sorted
    *                    files (each file still covers a contiguous ts slice).
    *                    On `fileSpan = "hour"` tables the batch slots per
    *                    distinct hour instead, and filesPerDay multiplies
    *                    WITHIN each hour slot (distinctHours × filesPerDay
    *                    range slices) — it is never silently ignored.
    * @param strict      reject batches that are not ts-sorted in physical
    *                    row order (reference ValueError parity).
    */
  def append(batch: DataFrame, filesPerDay: Int = 1, strict: Boolean = false): Unit =
    appendWithMeta(batch, filesPerDay, strict, Map.empty)

  /** [[append]] plus caller-supplied manifest header metadata — how the
    * streaming sink stamps its (sink id, micro-batch id) watermark into
    * the commit it produces, making a checkpoint-replayed batch
    * detectable (GraftTsStreamSink). */
  def appendWithMeta(batch: DataFrame, filesPerDay: Int,
                                    strict: Boolean,
                                    meta: Map[String, String]): Unit = {
    require(filesPerDay >= 1, "filesPerDay must be >= 1")
    // Schema checks run FIRST so a malformed batch gets the intended
    // message, not an AnalysisException out of the strict-mode window query.
    requireTableColumns(batch)
    if (strict) {
      val pinned = batch.persist()
      try appendValidated(pinned, filesPerDay, strict = true, meta)
      finally pinned.unpersist()
    } else appendValidated(batch, filesPerDay, strict = false, meta)
  }

  /** A batch write carries exactly the table's columns (any order). */
  private def requireTableColumns(batch: DataFrame): Unit = {
    val names = batch.schema.fieldNames.toSeq
    require(names.contains(tsCol), s"batch is missing ts column '$tsCol'")
    require(names.toSet == schema.fieldNames.toSet,
      s"batch columns ${names.mkString(",")} != table columns ${schema.fieldNames.mkString(",")}")
  }

  /** Replace the table's data with `batch` — the connector's
    * `mode("overwrite")` and SQL `INSERT OVERWRITE`. The batch passes
    * [[append]]'s validation except the stored-max guard (the data it
    * would have to follow is replaced), is placed by the table's declared
    * layout, and replaces EVERY live file through [[stageAndSwap]]: the
    * replaced files are archived, so a reader pinned on an earlier version
    * keeps resolving, and the "overwrite" version commits through the
    * same conflict gates as every rewrite. An empty batch empties the
    * table and still commits. */
  private[graft] def overwrite(batch: DataFrame): Unit = {
    requireTableColumns(batch)
    val shape = validateBatch(batch, "overwrite")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    stageAndSwap(listLiveFiles(fs), "overwrite", "_delete_tmp_") { tmp =>
      shape.foreach(writePlaced(batch, _, filesPerDay = 1,
        new Path(tmp, "dated").toString))
    }
  }

  /** Schema-EVOLVING append — the one deliberate departure from `append`'s
    * exact-schema contract (the reference's PyTables description is fixed
    * for a table's lifetime; long-lived Spark tables accrete columns).
    * Rules:
    *   - NEW batch columns extend the table: the stored descriptor is
    *     rewritten to the union (stored order first, additions after),
    *     and because `raw` reads with the EXPLICIT stored schema, parquet
    *     resolves old files by name and null-fills the added columns —
    *     no rewrite of historical data, O(1) metadata;
    *   - batch columns MISSING from the store are null-filled into the
    *     write (a narrower producer keeps appending after the table grew);
    *   - a TYPE CONFLICT on a shared column fails fast — silent coercion
    *     is how mixed-schema tables rot;
    *   - everything else (ordering guard, day layout, strict mode) is
    *     `append` unchanged.
    * Returns the handle carrying the union schema (TsTable is immutable;
    * `this` keeps serving the old projection, which stays valid). */
  def appendEvolved(batch: DataFrame, filesPerDay: Int = 1,
                    strict: Boolean = false): TsTable =
    live.appendEvolvedLive(batch, filesPerDay, strict)

  private def appendEvolvedLive(batch: DataFrame, filesPerDay: Int,
                                strict: Boolean): TsTable = {
    require(batch.schema.fieldNames.contains(tsCol),
      s"batch is missing ts column '$tsCol'")
    require(!batch.schema.fieldNames.contains(PartCol),
      s"'$PartCol' is reserved for the partition column")
    val batchFields = batch.schema.fields.map(f => f.name -> f).toMap
    schema.fields.foreach { f =>
      batchFields.get(f.name).foreach { bf =>
        require(bf.dataType == f.dataType,
          s"append: column '${f.name}' type ${bf.dataType.simpleString} " +
            s"conflicts with stored ${f.dataType.simpleString}")
      }
    }
    val added = batch.schema.fields
      .filterNot(f => schema.fieldNames.contains(f.name))
    // the dropColumns re-add guard: un-rewritten files still physically
    // carry a dropped column's OLD bytes, and parquet resolves by name —
    // re-adding the name would resurrect stale values row-by-row
    val retired = added.map(_.name)
      .filter(n => dropped.exists(_.equalsIgnoreCase(n)))
    require(retired.isEmpty,
      s"append: column(s) ${retired.mkString(", ")} were dropped from this " +
        "table and files may still carry their old bytes — re-adding the " +
        "name would resurrect stale values; use a new column name")
    val union = StructType(
      schema.fields.map(_.copy(nullable = true)) ++
        stampAdded(added.map(_.copy(nullable = true))))
    // the descriptor must also be rewritten when a NARROWER batch is about
    // to null-fill a column the stored schema declares non-nullable —
    // otherwise Catalyst's non-null constraint propagation would reason
    // (and codegen would assume) over a lie
    val needRewrite = added.nonEmpty || schema.fields.exists(f =>
      !f.nullable && !batchFields.contains(f.name))
    val evolved =
      if (!needRewrite) this
      else new TsTable(spark, path, desc.copy(schema = union,
        nextFieldId = bumpNextFieldId(added.length)))
    val aligned = batch.select(union.fields.map(f =>
      if (batchFields.contains(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)).toSeq: _*)
    // data first, descriptor second: append's own validations (ordering
    // guard, null-ts, strict sortedness) can still reject the batch, and a
    // rejected append must not leave a permanently mutated schema. A crash
    // between the two leaves written columns invisible behind the old
    // descriptor — recovered by the next evolve — never a corrupt table.
    evolved.append(aligned, filesPerDay, strict)
    if (needRewrite) TsTable.writeDescriptor(spark, path, evolved.desc)
    evolved
  }

  /** Fresh ids for evolution-added columns (pass-through on pre-id
    * tables); ids come from the high-water and are never reused. */
  private def stampAdded(added: Seq[StructField]): Seq[StructField] =
    if (!hasFieldIds(schema) || added.isEmpty) added
    else stampFieldIds(StructType(added), effectiveNextFieldId).fields.toSeq

  private[ts] def effectiveNextFieldId: Long =
    if (!hasFieldIds(schema)) 0L
    else math.max(desc.nextFieldId,
      schema.fields.map(TsTable.fieldId).max + 1)

  private def bumpNextFieldId(added: Int): Long =
    if (!hasFieldIds(schema)) 0L else effectiveNextFieldId + added

  /** Pure-DDL schema evolution — [[appendEvolved]]'s descriptor rule
    * without a batch (the `ALTER TABLE … ADD COLUMNS` verb, wired to SQL
    * through GraftTsCatalog): the stored descriptor widens to
    * stored-order-then-additions, existing files null-fill the added
    * columns on read (raw reads with the EXPLICIT stored schema), and an
    * "evolve" version commits so the change is pinnable and auditable —
    * a pre-evolve pin serves the narrow schema, time travel crosses the
    * evolution. O(metadata): no data rewrite, ever. Added columns are
    * forced nullable (every existing row lacks them); name collisions
    * and the reserved partition column are refused. Returns the handle
    * carrying the widened schema (`this` keeps serving its projection,
    * the appendEvolved rule). */
  def addColumns(cols: Seq[StructField]): TsTable = live.addColumnsLive(cols)

  private def addColumnsLive(cols: Seq[StructField]): TsTable = {
    require(cols.nonEmpty, "addColumns: no columns")
    val clash = cols.map(_.name).filter(n =>
      schema.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(clash.isEmpty,
      s"addColumns: column(s) ${clash.mkString(", ")} already exist")
    require(!cols.exists(_.name.equalsIgnoreCase(PartCol)),
      s"addColumns: '$PartCol' is reserved for the partition column")
    val dup = cols.groupBy(_.name.toLowerCase).collect {
      case (n, vs) if vs.length > 1 => n }
    require(dup.isEmpty, s"addColumns: duplicate column(s) ${dup.mkString(", ")}")
    // the dropColumns re-add guard (see appendEvolved's rationale)
    val retired = cols.map(_.name)
      .filter(n => dropped.exists(_.equalsIgnoreCase(n)))
    require(retired.isEmpty,
      s"addColumns: column(s) ${retired.mkString(", ")} were dropped from " +
        "this table and files may still carry their old bytes — re-adding " +
        "the name would resurrect stale values; use a new column name")
    val union = StructType(schema.fields ++
      stampAdded(cols.map(_.copy(nullable = true))))
    TsTable.install(spark, path, desc.copy(schema = union,
      nextFieldId = bumpNextFieldId(cols.length)), Some("evolve"))
  }

  /** Pure-DDL column DROP — [[addColumns]]'s inverse (`ALTER TABLE …
    * DROP COLUMNS`, wired to SQL through GraftTsCatalog), O(metadata):
    * the stored descriptor narrows, existing files keep their bytes
    * (reads project by name through the EXPLICIT stored schema, so the
    * dropped column is simply never materialized — no data rewrite,
    * ever), and an "evolve" version commits so the drop is pinnable: a
    * pre-drop `openAt`/`VERSION AS OF` still serves the column, because
    * manifests record each version's schema. The bytes age out as later
    * rewrites (compact / delete / update) re-materialize files through
    * the narrowed schema.
    *
    * The one hazard of name-resolved storage is guarded, not ignored:
    * RE-ADDING a dropped name would resurrect stale bytes from
    * un-rewritten files, so dropped names are recorded in the descriptor
    * and refused by `addColumns`/`appendEvolved` forever after (Delta
    * solves this with column-mapping ids; recording the tombstone is the
    * honest equivalent without rewriting history). `restore`/`cloneAt`
    * to a pre-drop version clears the tombstone — the column is
    * legitimately back, schema and bytes agree again.
    *
    * Refused: the ts column (placement identity), unknown names, and
    * columns referenced by a CHECK constraint (drop the check first —
    * failing later at write time with an analysis error would be the
    * rotten alternative). Declared stats/bloom index columns narrow
    * automatically. Returns the handle carrying the narrowed schema
    * (`this` keeps serving its projection, the appendEvolved rule —
    * which for a DROPPED column means a stale handle still reads it;
    * reopen for the narrowed view). */
  def dropColumns(names: Seq[String]): TsTable = live.dropColumnsLive(names)

  private def dropColumnsLive(names: Seq[String]): TsTable = {
    require(names.nonEmpty, "dropColumns: no columns")
    require(!names.exists(_.equalsIgnoreCase(tsCol)),
      s"dropColumns: '$tsCol' is the table's order identity and cannot be dropped")
    val unknown = names.filterNot(n =>
      schema.fieldNames.exists(_.equalsIgnoreCase(n)))
    require(unknown.isEmpty,
      s"dropColumns: unknown column(s) ${unknown.mkString(", ")}")
    val narrowed = StructType(schema.fields.filterNot(f =>
      names.exists(_.equalsIgnoreCase(f.name))))
    requireChecksResolve("dropColumns", narrowed,
      "references a dropped column — dropCheck it first")
    val canonical = schema.fieldNames
      .filter(f => names.exists(_.equalsIgnoreCase(f))).toSeq
    val newOpts = writeOptions.copy(
      statsCols = writeOptions.statsCols.filterNot(c =>
        canonical.exists(_.equalsIgnoreCase(c))),
      bloomCols = writeOptions.bloomCols.filterNot(c =>
        canonical.exists(_.equalsIgnoreCase(c))))
    TsTable.install(spark, path, desc.copy(schema = narrowed,
      options = newOpts, dropped = dropped ++ canonical,
      nextFieldId = effectiveNextFieldId), Some("evolve"))
  }

  /** Pure-DDL column RENAME (`ALTER TABLE … RENAME COLUMN`, wired to SQL
    * through GraftTsCatalog) — O(metadata): no data page is read or
    * written (one footer open per live file verifies every served file
    * carries field ids — the foreign-file guard below).
    * Possible because tables created by this engine are parquet
    * field-id stamped from birth (see [[TsTable.FieldIdKey]]): files
    * resolve read columns by ID, so the descriptor/manifest name is a
    * pure label — old files keep the old NAME in their footers but serve
    * the renamed column exactly (the Delta/Iceberg column-mapping
    * semantics, on Spark's public parquet mechanism). A "rename" version
    * commits, so the change is pinnable: a pre-rename `openAt` serves
    * the OLD name (each version's own schema, the evolution rule), while
    * `changesBetween`/`changeFeed` serve everything under the TO-version's
    * names (ids align the generations).
    *
    * The old name retires into the tombstone list: per-file index
    * sidecars (Bloom bits, col spans) are keyed by their harvest-time
    * name, so a future column reusing the name would be gated by STALE
    * statistics — refusing the reuse keeps skipping sound; pre-rename
    * files simply lose their skip under the new name (kept, never
    * wrongly skipped) until a rewrite re-harvests them.
    *
    * Refused: pre-field-id tables and id-stamped tables still holding
    * attached id-less files (those files resolve by name — a DDL rename
    * would null the column's history; [[migrateFieldIds]] upgrades
    * either in place), name collisions with
    * live or retired columns, the reserved partition column, and columns
    * referenced by a CHECK constraint (drop the check first — its SQL
    * text cannot be rewritten safely). Renaming the ts column itself is
    * allowed; the descriptor's order identity follows. Declared
    * stats/bloom membership follows the rename. Returns the handle
    * carrying the renamed schema (`this` keeps serving the old
    * projection, the appendEvolved rule — reopen for the new view). */
  def renameColumn(oldName: String, newName: String): TsTable =
    live.renameColumnLive(oldName, newName)

  private def renameColumnLive(oldName: String, newName: String): TsTable = {
    require(TsTable.hasFieldIds(schema),
      "renameColumn: this table predates field-id stamping — its files " +
        "resolve columns by NAME, so a pure-DDL rename would null the " +
        "column's history; run migrateFieldIds() (one governed " +
        "copy-on-write rewrite) to upgrade in place")
    val field = schema.fields.find(_.name.equalsIgnoreCase(oldName))
    require(field.isDefined, s"renameColumn: unknown column '$oldName'")
    val canonicalOld = field.get.name
    // an id-stamped table can still hold attached FOREIGN (id-less) files
    // — the hybrid-layout contract serves them through the by-NAME
    // fallback reader, which would resolve the renamed label against
    // footers that only carry the old name and silently null-fill rows
    // that were served pre-rename. Refuse, naming the in-place fix. Cost:
    // one footer open per live file (no data pages) — the only rename
    // step that is not pure descriptor metadata, and the price of the
    // guarantee that a rename never loses served data.
    locally {
      val foreign = idlessLiveFiles()
      require(foreign.isEmpty,
        s"renameColumn: ${foreign.length} live data file(s) carry no " +
          s"parquet field ids (attached/foreign parquet, e.g. " +
          s"${foreign.take(3).mkString(", ")}) and resolve columns by " +
          "NAME — a pure-DDL rename would silently null their history; " +
          "run migrateFieldIds() first")
    }
    require(newName.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"renameColumn: '$newName' is not a plain column name")
    require(!newName.equalsIgnoreCase(PartCol),
      s"renameColumn: '$PartCol' is reserved for the partition column")
    require(!newName.equalsIgnoreCase(canonicalOld),
      s"renameColumn: '$oldName' -> '$newName' is a no-op")
    require(!schema.fieldNames.exists(_.equalsIgnoreCase(newName)),
      s"renameColumn: column '$newName' already exists")
    require(!dropped.exists(_.equalsIgnoreCase(newName)),
      s"renameColumn: '$newName' was retired by an earlier drop/rename " +
        "and its stale per-file index entries would gate the new name; " +
        "use a fresh name")
    val renamed = StructType(schema.fields.map(f =>
      if (f.name == canonicalOld) f.copy(name = newName) else f))
    // the SQL text references columns by name and cannot be rewritten safely
    requireChecksResolve("renameColumn", renamed, s"references " +
      s"'$canonicalOld' — dropCheck it, rename, re-add under the new name")
    def follow(cols: Seq[String]): Seq[String] =
      cols.map(c => if (c.equalsIgnoreCase(canonicalOld)) newName else c)
    val newOpts = writeOptions.copy(statsCols = follow(writeOptions.statsCols),
      bloomCols = follow(writeOptions.bloomCols))
    TsTable.install(spark, path, desc.copy(schema = renamed,
      tsCol = if (canonicalOld == tsCol) newName else tsCol,
      options = newOpts,
      dropped = dropped :+ canonicalOld, // retire the old label
      nextFieldId = effectiveNextFieldId), Some("rename"))
  }

  /** Pure-DDL type WIDENING (`ALTER TABLE … ALTER COLUMN … TYPE` on the
    * lossless ladder — the Delta type-widening verb): the descriptor's
    * field changes to the wider type, old files keep their narrow
    * physical encoding, and reads PROMOTE at the parquet column-reader
    * level (Spark 4's reader-side type promotion — verified for the
    * whole ladder below), so no data byte is touched. New appends write
    * the wide type; a pre-widen pin serves the narrow type (each
    * version's own schema); restore physically copies the narrow-era
    * files back with the narrow descriptor, so a post-widen file never
    * meets a narrow read.
    *
    * Ladder (lossless only): byte → short/int/long/double,
    * short → int/long/double, int → long/double, float → double.
    * long → double is REFUSED (loses precision past 2^53), as is any
    * non-numeric or narrowing change.
    *
    * Index interplay: min/max spans compare through BigDecimal, so
    * narrow-era spans keep pruning exactly. Bloom bits are
    * TYPE-SENSITIVE (Spark hashes int and long differently), so a
    * widened bloom column re-harvests under the widened schema in a
    * follow-up "indexing" commit — the facade read promotes old files'
    * values before hashing, so the rebuilt bits match every future
    * probe. CHECK constraints must still analyze under the wide type
    * (numeric predicates do; refused otherwise, like rename). */
  def widenColumn(name: String, to: DataType): TsTable =
    live.widenColumnLive(name, to)

  private def widenColumnLive(name: String, to: DataType): TsTable = {
    val field = schema.fields.find(_.name.equalsIgnoreCase(name))
    require(field.isDefined, s"widenColumn: unknown column '$name'")
    val canonical = field.get.name
    val from = field.get.dataType
    require(!canonical.equalsIgnoreCase(tsCol),
      s"widenColumn: '$tsCol' is the table's time axis — its type is fixed")
    require(TsTable.canWiden(from, to),
      s"widenColumn: ${from.simpleString} -> ${to.simpleString} is not a " +
        "lossless widening (ladder: byte/short/int -> long or double, " +
        "float -> double, decimal(p,s) -> decimal(p+k,s); long -> double " +
        "would lose precision past 2^53, and a decimal SCALE change " +
        "re-encodes values instead of embedding them)")
    val widened = StructType(schema.fields.map(f =>
      if (f.name == canonical) f.copy(dataType = to) else f))
    requireChecksResolve("widenColumn", widened,
      s"does not analyze over ${to.simpleString} — dropCheck it, widen, re-add")
    // a bloom-indexed column's bits must re-harvest under the WIDE type:
    // commit the widen with the column undeclared (its carried entries
    // drop), then re-declare — the indexing commit backfills every file
    // with values promoted by the read, matching future probe hashes
    val inBloom = writeOptions.bloomCols.exists(_.equalsIgnoreCase(canonical))
    val optsForWiden =
      if (!inBloom) writeOptions
      else writeOptions.copy(bloomCols =
        writeOptions.bloomCols.filterNot(_.equalsIgnoreCase(canonical)))
    val t = TsTable.install(spark, path, desc.copy(schema = widened,
      options = optsForWiden, nextFieldId = effectiveNextFieldId), Some("widen"))
    if (inBloom)
      t.declareIndexingLive(writeOptions.statsCols, writeOptions.bloomCols)
    else t
  }

  /** Declare (or re-declare) the table's SKIP-INDEX columns after data
    * already exists — the `CREATE INDEX` analogue the create-time-only
    * `TsWriteOptions(statsCols/bloomCols)` surface lacks: users discover
    * their hot probe columns months into ingestion, and recreating the
    * table to index them is not a table operation. Descriptor-only DDL
    * plus ONE "indexing" commit whose harvest BACKFILLS every live file
    * missing the newly-declared columns (the per-column carry-forward in
    * commitVersion): min/max column spans from footers (zero data pages,
    * distributed one task per file) and Bloom bits from one
    * column-pruned scan of exactly the uncovered files — the honest
    * build-the-index cost, paid once, at cluster width. Narrowing simply
    * stops future harvests; stale sidecar entries are never consulted
    * for undeclared columns. Names resolve case-insensitively to the
    * canonical stored labels (the file's convention). Returns the handle
    * carrying the new declarations (`this` keeps its old ones — reopen
    * or use the returned handle, the evolution rule). */
  def declareIndexing(statsCols: Seq[String],
                      bloomCols: Seq[String]): TsTable =
    live.declareIndexingLive(statsCols, bloomCols)

  private def declareIndexingLive(statsCols: Seq[String],
                                  bloomCols: Seq[String]): TsTable = {
    def resolve(kind: String, cols: Seq[String]): Seq[String] = cols.map { c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.name)
        .getOrElse(throw new IllegalArgumentException(
          s"requirement failed: declareIndexing: $kind column '$c' is not " +
            "a table column"))
    }
    val rs = resolve("stats", statsCols)
    val rb = resolve("bloom", bloomCols)
    // the indexing commit's per-column carry-forward backfills here
    TsTable.install(spark, path, desc.copy(
      options = writeOptions.copy(statsCols = rs, bloomCols = rb),
      nextFieldId = effectiveNextFieldId), Some("indexing"))
  }

  /** In-place upgrade to parquet field ids — the verb that makes
    * [[renameColumn]] available on a table it refuses: ONE governed
    * copy-on-write rewrite (the deleteWhere/updateWhere machinery with an
    * identity projection and the id-stamped writer) of exactly the live
    * files whose footers carry no field ids, committing a "migrate"
    * version. Attachments no manifest has captured yet are first folded
    * in by one listing "checkpoint" commit (the rewrite conflict gate
    * refuses unmanifested dated inputs, and that checkpoint is then the
    * first commit attributing the attachment's rows — the change feed
    * emits them there); the migrate rewrite itself is content-preserving
    * and cancels to zero emitted rows under file-diff reconstruction.
    * Covers both refusal arms:
    *
    *   - a pre-field-id table (created before id stamping, or opened over
    *     an attached plain parquet dir): the descriptor schema is stamped
    *     with fresh ids 1..n FIRST, then every live file rewrites —
    *     after which the table is indistinguishable from one created
    *     id-stamped;
    *   - an id-stamped table holding attached foreign (id-less) files
    *     (the hybrid-layout contract): only those files rewrite.
    *
    * Crash discipline: a crash after the descriptor stamp but before the
    * rewrite leaves a readable table (id-less files keep serving through
    * the by-NAME fallback reader) on which rename still refuses and a
    * re-run completes the migration; the rewrite itself stages into an
    * invisible temp and archives originals for pinned readers (cowExec's
    * rules). Returns the number of files rewritten (0 = already
    * migrated; a descriptor-only stamp on an empty table still commits).
    *
    * Cost: one footer open per live file (the discovery) + one read and
    * one write of ONLY the id-less files — never O(table) on a governed
    * store where foreign attachments are the exception. Rewritten days
    * bin-pack per day (`filesPerDay` splits heavy days, the append
    * rule); run `compact` after on hour-slotted tables. */
  def migrateFieldIds(filesPerDay: Int = 1): Int = {
    require(filesPerDay >= 1, "filesPerDay must be >= 1")
    live.migrateFieldIdsLive(filesPerDay)
  }

  private def migrateFieldIdsLive(filesPerDay: Int): Int = {
    val idless = idlessLiveFiles()
    val target: TsTable =
      if (TsTable.hasFieldIds(schema)) this
      else {
        val stamped = TsTable.stampFieldIds(schema)
        TsTable.enableFieldIdResolution(spark)
        // a descriptor-only upgrade (empty or fully-id-stamped files under
        // a pre-id descriptor) still needs its pinnable "migrate" version
        TsTable.install(spark, path, desc.copy(schema = stamped,
          nextFieldId = stamped.fields.length + 1L),
          if (idless.isEmpty) Some("migrate") else None)
      }
    if (idless.isEmpty) return 0
    // Attached foreign files typically postdate the last commit, and the
    // rewrite conflict gate refuses to rewrite a dated file no manifest
    // lists (guardDisplaced — indistinguishable from another rewrite's
    // in-flight transient). Folding attachments in is exactly this verb's
    // job, so capture them first with one listing checkpoint — which is
    // then also the first commit attributing the attachment's rows to the
    // governed history (the change feed emits them there; the identity
    // rewrite below cancels to zero rows, like any migrate).
    target.currentManifest.foreach { case (_, m) =>
      val cm = m.files.toMap
      if (idless.exists(r => r.contains("/") && !cm.contains(r)))
        target.commitVersion("checkpoint")
    }
    target.cowExec(idless, "migrate", filesPerDay,
      inserts = None, insertDays = 0)(identity)
    idless.length
  }

  /** Live data files whose parquet footers carry NO field ids — the files
    * a pure-DDL rename cannot retarget ([[renameColumn]]'s guard,
    * [[migrateFieldIds]]'s work list). One footer open per live file,
    * zero data pages; driver-side for a handful of files, one task per
    * file beyond ([[TsTable.perFile]]). An unreadable footer
    * counts as id-less — refusing loudly beats renaming over it. */
  private def idlessLiveFiles(): Seq[String] = {
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootStr = path
    TsTable.perFile(spark, listLiveFiles(fs).map(_._1)) { (conf, r) =>
      r -> TsTable.footerHasFieldIds(conf, new Path(rootStr, r))
    }.collect { case (r, false) => r }
  }


  /** Out-of-order bulk INSERT — `append` without the monotonicity guard
    * (the late-data verb `mergeInto` carries as its NOT-MATCHED side,
    * exposed directly): every row lands in its ts-derived day partition,
    * including days in the table's past; nothing is matched, nothing
    * rewrites, no existing file is touched. One "backfill" version
    * commits — and because a backfill ADDS files and never rewrites
    * them, `changesBetween` serves its rows incrementally exactly like
    * an append's (unlike merge, whose inserts share files with
    * rewrites). Schema/null-ts/CHECK rules are `append`'s. A backfilled
    * day's new file ts-OVERLAPS its older files (correct — reads are
    * predicate-driven; `compact` restores the contiguous layout).
    * Returns the number of rows inserted (0 = no commit). */
  def backfill(batch: DataFrame, filesPerDay: Int = 1): Long =
    backfillWithMeta(batch, filesPerDay, Map.empty)

  def backfillWithMeta(batch: DataFrame, filesPerDay: Int,
                                      meta: Map[String, String]): Long = {
    require(filesPerDay >= 1, "filesPerDay must be >= 1")
    live.backfillLive(batch, filesPerDay, meta)
  }

  private def backfillLive(batch: DataFrame, filesPerDay: Int,
                           meta: Map[String, String]): Long = {
    requireTableColumns(batch)
    val proj = batch
      .select(schema.fieldNames.map(col).toSeq: _*)
      .withColumn(PartCol, to_date(col(tsCol)))
    proj.persist()
    try {
      val st = proj.agg(count(lit(1)), count(col(tsCol)),
        TsTable.distinctCount(col(PartCol))).head
      val (n, nTs, nDays) = (st.getLong(0), st.getLong(1), st.getLong(2))
      if (n == 0) return 0L
      require(n == nTs, s"backfill: null values in '$tsCol'")
      if (checks.nonEmpty) enforceChecks(proj.drop(PartCol), "backfill")
      cowExec(Seq.empty, "backfill", filesPerDay,
        inserts = Some(proj), insertDays = nDays.toInt,
        meta = meta)(identity)
      n
    } finally proj.unpersist()
  }

  /** Declare a CHECK constraint (the Delta `ADD CONSTRAINT` analogue —
    * the ingest-quality gate a training-data table needs): `predicateSql`
    * is a boolean SQL expression over the table's columns; from now on
    * every write of new or modified rows must satisfy it — `append` (all
    * faces: facade, V2 INSERT, streaming sink), `appendEvolved`,
    * `updateWhere`, and `mergeInto` reject a batch containing a
    * violating row BEFORE anything lands. SQL CHECK semantics: NULL
    * (unknown) passes, only FALSE violates. By default the EXISTING
    * table must already satisfy the constraint (one distributed scan —
    * `validateExisting = false` skips it for known-clean 100 TB tables).
    * `restore`/time travel can still serve pre-constraint history: the
    * gate guards writes, not reads. Persisted in the descriptor; commits
    * a "constraint" version for auditability. Returns the handle
    * carrying the constraint. */
  def addCheck(name: String, predicateSql: String,
               validateExisting: Boolean = true): TsTable =
    live.addCheckLive(name, predicateSql, validateExisting)

  private def addCheckLive(name: String, predicateSql: String,
                           validateExisting: Boolean): TsTable = {
    require(name.matches("[A-Za-z0-9_.-]+"),
      s"addCheck: constraint name '$name' must be [A-Za-z0-9_.-]+")
    require(!checks.exists(_._1.equalsIgnoreCase(name)),
      s"addCheck: constraint '$name' already exists")
    val added = Seq(name -> predicateSql)
    requireChecksResolve("addCheck", schema,
      "does not analyze as a boolean over the table's columns", added)
    if (validateExisting) {
      firstViolation(toDF, added).foreach { case (n, cnt) =>
        throw new IllegalArgumentException(
          s"addCheck: $cnt existing row(s) violate '$n' ($predicateSql) — " +
            "clean the table first or pass validateExisting = false")
      }
    }
    TsTable.install(spark, path, desc.copy(checks = checks ++ added,
      nextFieldId = effectiveNextFieldId), Some("constraint"),
      Map("check" -> name))
  }

  /** Refuses, naming `verb` and `hint`, when a CHECK of `cs` does not
    * analyze as a boolean predicate over `over` — the probe every schema
    * change and [[addCheck]] run before installing a descriptor. */
  private def requireChecksResolve(verb: String, over: StructType, hint: String,
                                   cs: Seq[(String, String)] = checks): Unit = {
    val probe = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], over)
    cs.foreach { case (n, sql) =>
      scala.util.Try(probe.where(expr(sql)).queryExecution.analyzed).failed
        .foreach(e => throw new IllegalArgumentException(
          s"requirement failed: $verb: CHECK constraint '$n' ($sql) $hint", e))
    }
  }

  /** Remove a CHECK constraint; returns the handle without it. */
  def dropCheck(name: String): TsTable = live.dropCheckLive(name)

  private def dropCheckLive(name: String): TsTable = {
    require(checks.exists(_._1.equalsIgnoreCase(name)),
      s"dropCheck: no constraint '$name' (have: ${checks.map(_._1).mkString(", ")})")
    TsTable.install(spark, path, desc.copy(
      checks = checks.filterNot(_._1.equalsIgnoreCase(name)),
      nextFieldId = effectiveNextFieldId), Some("constraint"),
      Map("check" -> name))
  }

  /** Per-constraint violating-row-count aggregate columns (SQL CHECK rule:
    * only FALSE violates, NULL passes) — split out so callers that already
    * run an aggregate over the batch can RIDE the violation sums on it
    * instead of paying a second pass (r21 verdict: lifecycle keys are
    * job-count bound; validateBatch fuses these into its stats agg). */
  private def violationAggs(cs: Seq[(String, String)]) =
    cs.zipWithIndex.map { case ((_, sql), i) =>
      sum(when(coalesce(expr(sql), lit(true)) === false, 1L).otherwise(0L))
        .as(s"__viol_$i")
    }

  /** First violated constraint read from an aggregate row whose violation
    * sums start at `offset`, as (name, violating-row count). */
  private def firstViolationIn(row: org.apache.spark.sql.Row, offset: Int,
      cs: Seq[(String, String)]): Option[(String, Long)] =
    cs.indices.collectFirst {
      case i if !row.isNullAt(offset + i) && row.getLong(offset + i) > 0 =>
        (cs(i)._1, row.getLong(offset + i))
    }

  /** First violated constraint over `df` — ONE aggregate pass computing
    * every constraint's violation count simultaneously. None = all pass or
    * no constraints. */
  private def firstViolation(df: DataFrame,
      cs: Seq[(String, String)]): Option[(String, Long)] = {
    if (cs.isEmpty) return None
    val aggs = violationAggs(cs)
    firstViolationIn(df.agg(aggs.head, aggs.tail: _*).head, 0, cs)
  }

  /** The CHECK-violation rejection shared by every enforcement face. */
  private def throwViolation(verb: String, name: String, cnt: Long): Nothing = {
    val sql = checks.find(_._1 == name).map(_._2).getOrElse("")
    throw new IllegalArgumentException(
      s"$verb: $cnt row(s) violate CHECK constraint '$name' ($sql) — " +
        "nothing was written")
  }

  /** Enforcement shared by every batch write face: throws on the first
    * violated constraint. */
  private[graft] def enforceChecks(df: DataFrame, verb: String): Unit =
    firstViolation(df, checks).foreach { case (n, cnt) =>
      throwViolation(verb, n, cnt)
    }

  /** Strict mode evaluates the batch three times (order validation, stats,
    * write); the caller-facing `append` persists it first so the row order
    * VALIDATED is the row order WRITTEN even for nondeterministic or
    * re-shuffled sources (and the input is computed once, not thrice). */
  private def appendValidated(batch: DataFrame, filesPerDay: Int,
                              strict: Boolean,
                              meta: Map[String, String] = Map.empty): Unit = {
    if (strict) requireSortedBatch(batch)
    validateBatch(batch, "append").foreach { shape => // empty batch: no-op
      maxDt.foreach { cur =>
        if (shape.minTs.before(cur))
          throw new IllegalArgumentException(
            s"append: batch min ts ${shape.minTs} precedes stored max ts $cur " +
              "(the table is append-ordered; out-of-order appends are rejected)")
      }
      writePlaced(batch, shape, filesPerDay, path)
      commitVersion("append", meta = meta)
    }
  }

  /** The one stats aggregate every batch write validates with: rejects
    * null ts values and CHECK violations, and sizes the placement (days,
    * and hours when the table slots by hour). None for an empty batch. */
  private def validateBatch(batch: DataFrame, verb: String): Option[BatchShape] = {
    // the hour-count arm only when the table slots by hour. Day and hour
    // counts are set sizes, not DISTINCT aggregates: a DISTINCT plans an
    // Expand and a second shuffle (one more job per append), while each
    // set is bounded by the file slots this write creates anyway
    val hourly = writeOptions.fileSpan == "hour"
    val baseAggs = Seq(
      min(col(tsCol)), count(lit(1)), count(col(tsCol)),
      TsTable.distinctCount(to_date(col(tsCol))))
    val statAggs = if (hourly)
      baseAggs :+ TsTable.distinctCount(date_trunc("hour", col(tsCol)))
      else baseAggs
    // CHECK-violation sums RIDE the stats aggregate (one batch pass instead
    // of two — the r22 lifecycle job-batching item).
    // Rejection order: empty batch, then null-ts, then the first violated
    // constraint — all read from the same row.
    val aggs = statAggs ++ violationAggs(checks)
    val stats = batch.agg(aggs.head, aggs.tail: _*).head
    if (stats.getLong(1) == 0L) return None
    if (stats.getLong(1) != stats.getLong(2))
      throw new IllegalArgumentException(s"$verb: null values in '$tsCol'")
    firstViolationIn(stats, statAggs.size, checks).foreach {
      case (n, cnt) => throwViolation(verb, n, cnt)
    }
    Some(BatchShape(stats.getAs[Timestamp](0), stats.getLong(3),
      if (hourly) stats.getLong(4) else 0L))
  }

  /** Place a validated batch by the table's declared layout and write it
    * as `p_date` directories under `dest` (the table root for an append, a
    * staging dir for an overwrite). */
  private def writePlaced(batch: DataFrame, shape: BatchShape,
                          filesPerDay: Int, dest: String): Unit = {
    val hourly = writeOptions.fileSpan == "hour"
    val withDate = withFieldIds(batch
      .select(schema.fieldNames.map(col).toSeq: _*)) // canonical column order
      .withColumn(PartCol, to_date(col(tsCol)))
    // filesPerDay=1: hash-shuffle by day, one task → one sorted file per day.
    // filesPerDay>1: range-shuffle on (day, ts) into nDays·filesPerDay slots,
    // so a heavy day splits into ~filesPerDay files, each a contiguous
    // ts slice (range partitioning keeps per-file sortedness). This is the
    // 100 TB write path: no single task ever funnels a whole heavy day.
    // fileSpan="hour": one range slot per distinct batch hour (times
    // filesPerDay — the knob folds into the slot count rather than being
    // silently ignored). At filesPerDay=1 the range key omits ts (the
    // compactDays rule): equal (day, hour) keys cannot split, so no
    // written file straddles an hour even under skewed per-hour counts —
    // slots only merge into adjacent-hour files. With filesPerDay>1 the
    // ts tiebreaker splits heavy hours into contiguous slices. The
    // recorded per-file ts spans stay EXACT either way, so the skip
    // index serves as the effective sub-day partition at planning time.
    val placed =
      if (hourly && filesPerDay == 1)
        withDate.repartitionByRange(shape.hours.toInt.max(1),
          col(PartCol), date_trunc("hour", col(tsCol)))
      else if (hourly)
        withDate.repartitionByRange(
          (shape.hours * filesPerDay).toInt.max(1),
          col(PartCol), date_trunc("hour", col(tsCol)), col(tsCol))
      else if (filesPerDay == 1) withDate.repartition(col(PartCol))
      else withDate.repartitionByRange(
        (shape.days * filesPerDay).toInt.max(1), col(PartCol), col(tsCol))
    val writer = tableWriter(
      placed.sortWithinPartitions(col(PartCol), col(tsCol)), "append")
    writeOptions.maxRecordsPerFile.foreach(n => writer.option("maxRecordsPerFile", n.toString))
    writer.partitionBy(PartCol).save(dest)
  }

  /** The writer every table data write goes through: the table's parquet
    * format ([[TsTable.Fmt]], which writes timestamps as INT64 micros
    * whatever the session's `outputTimestampType`) with the declared codec
    * and row-group size, and the declared Bloom columns, whose bits each
    * written file then carries in its footer (read back by
    * [[commitVersion]] in place of a harvest scan). */
  private def tableWriter(df: DataFrame, mode: String)
      : org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] = {
    val w = df.write.format(TsTable.Fmt).mode(mode)
      .option("compression", writeOptions.codec)
    writeOptions.rowGroupBytes.foreach(b => w.option("parquet.block.size", b.toString))
    val bloom = liveBloomCols
    if (bloom.nonEmpty)
      w.option(BloomParquetWriteSupport.ColsOption, bloom.mkString(","))
        .option(BloomParquetWriteSupport.BitsOption, writeOptions.bloomBits.toString)
    w
  }

  /** Declared Bloom columns the stored schema still carries. */
  private[graft] def liveBloomCols: Seq[String] =
    writeOptions.bloomCols.filter(schema.fieldNames.contains)

  /** Strict-mode validation (reference ValueError parity, SURVEY §5.2.4
    * property (c)): the batch must be ts-sorted in physical row order.
    * Within-partition order is checked distributed (lag over
    * (partition-id, physical position)); cross-partition interleaving is
    * checked on the driver over the numPartitions-row (pid, min, max)
    * summary — never the data itself. */
  private def requireSortedBatch(batch: DataFrame): Unit = {
    import org.apache.spark.sql.expressions.Window
    val ordered = batch.select(col(tsCol).as("__ts"),
      spark_partition_id().as("__pid"),
      monotonically_increasing_id().as("__mid"))
    val w = Window.partitionBy(col("__pid")).orderBy(col("__mid"))
    val unsortedWithin = ordered
      .withColumn("__prev", lag(col("__ts"), 1).over(w))
      .where(col("__prev") > col("__ts"))
      .limit(1).count() > 0
    if (unsortedWithin)
      throw new IllegalArgumentException(
        s"append(strict): batch rows are not sorted by '$tsCol' in row order")
    val spans = ordered.groupBy(col("__pid"))
      .agg(min(col("__ts")).as("lo"), max(col("__ts")).as("hi"))
      .orderBy(col("__pid"))
      .collect() // numPartitions rows
    spans.sliding(2).foreach {
      case Array(a, b) =>
        if (b.getTimestamp(1) != null && a.getTimestamp(2) != null &&
            b.getTimestamp(1).before(a.getTimestamp(2)))
          throw new IllegalArgumentException(
            s"append(strict): partition ${b.getInt(0)} starts at ${b.getTimestamp(1)} " +
              s"before partition ${a.getInt(0)} ends at ${a.getTimestamp(2)}")
      case _ => ()
    }
  }

  /** The data files of one directory listing — skips directories and
    * `_`/`.`-prefixed entries (success markers, schema descriptor,
    * in-flight write temps). */
  private def dataFiles(listing: Array[FileStatus]): Seq[FileStatus] =
    listing.iterator.filter { st =>
      val n = st.getPath.getName
      st.isFile && !n.startsWith("_") && !n.startsWith(".")
    }.toSeq

  /** Compact one day partition's files down to `targetFiles` ts-sorted files
    * (each covering a contiguous ts slice, via range partitioning — the same
    * per-file sortedness invariant the append path writes).
    *
    * WHY: every `append` that touches a day adds at least one file to it, so
    * a day fed by many small batches (the graft-ts streaming sink is the
    * worst case: one file per micro-batch) accumulates files whose
    * per-file open/footer cost eventually dominates `readRange` — the
    * classic small-files problem. The reference never meets it (HDF5 rows
    * append in place to ONE table per day — `[pub: tstables/tstable.py —
    * append]`); a Parquet table needs this explicit maintenance op instead.
    *
    * Mechanics: rewrite the day into a writer-unique `_compact_tmp_<uuid>` under the table
    * root (`_` prefix → invisible to Spark's file index), then swap: move
    * the old data files into `_ts_archive/` (NOT delete — a reader that
    * pinned an earlier version via `openAt` keeps resolving them there,
    * which is what makes compaction safe under concurrent SNAPSHOT
    * readers; archived bytes are reclaimed by `expireSnapshots`), move the
    * new ones in, and commit the next snapshot version. A reader of the
    * live directory listing (`toDF`/`readRange` without `asOf`) still
    * races the file-granular swap — pin a version for isolation. A crash
    * before the swap leaves only a re-runnable invisible temp dir; a crash
    * mid-swap is detectable (temp dir still present) and every already-
    * archived file remains resolvable through the previous manifest.
    *
    * Cost: one read + one write of the single day being compacted — never
    * O(table). Returns false (no-op) if the partition is missing or already
    * at or under `targetFiles`.
    */
  def compact(date: String, targetFiles: Int = 1,
              clusterBy: Seq[String] = Seq.empty): Boolean =
    compactDays(Seq(date), targetFiles, clusterBy).nonEmpty

  /** Compact SEVERAL day partitions in ONE read job + ONE write job + ONE
    * version commit — the batched form of [[compact]], and the shape that
    * matters after a long streaming-sink run: healing 300 fragmented days
    * as 300 sequential per-day jobs is 300 job-scheduling round-trips and
    * 300 manifest commits, where one range-shuffled job rewrites them all
    * at full cluster width (each task still writes whole ts-sorted
    * slices, so the per-file contiguity invariant holds). Days already at
    * or under `targetFiles` are skipped; returns the dates rewritten.
    * Same crash discipline as the single-day path: the rewrite
    * materializes into an invisible writer-unique `_compact_tmp_<uuid>` before any live
    * file moves, replaced files are archived for pinned readers, and a
    * mid-swap crash leaves every archived file resolvable through the
    * previous manifest.
    *
    * On `fileSpan = "hour"` tables, bin-packing is per HOUR slot, not per
    * day: `targetFiles` means files per hour, a day already at or under
    * one file per covered hour (per the current manifest's exact spans)
    * is skipped, and a rewrite range-slots on (day, hour, ts) — so
    * routine maintenance preserves the sub-day skip index instead of
    * silently degrading 1-hour probes back to day granularity. */
  def compactDays(dates: Seq[String], targetFiles: Int = 1,
                  clusterBy: Seq[String] = Seq.empty): Seq[String] = {
    require(targetFiles >= 1, "targetFiles must be >= 1")
    dates.foreach(d =>
      require(DateDirRe.matches(d), s"date must be YYYY-MM-DD, got '$d'"))
    live.compactDaysLive(dates, targetFiles, clusterBy)
  }

  private def compactDaysLive(dates: Seq[String], targetFiles: Int,
                              clusterBy: Seq[String]): Seq[String] = {
    // resolve clusterBy case-insensitively to the canonical stored names —
    // the file's convention for every column-addressing verb (rename,
    // drop, stats narrowing); validation and Morton coding use these
    val cluster = clusterBy.map { c =>
      schema.fields.find(_.name.equalsIgnoreCase(c)).map(_.name)
        .getOrElse(throw new IllegalArgumentException(
          s"requirement failed: compact clusterBy: unknown column '$c'"))
    }
    if (cluster.nonEmpty) {
      require(cluster.length >= 2,
        "clusterBy needs >= 2 columns — a 1-D cluster is the plain " +
          "ts-sorted compact (or sort the day by that column externally)")
      cluster.foreach { c =>
        val dt = schema(c).dataType
        require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType] ||
          dt == TimestampType || dt == DateType,
          s"compact clusterBy: '$c' is ${dt.simpleString} — z-order ranks " +
            "need a numeric/temporal axis")
      }
    }
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // hour-slotted tables bin-pack per HOUR slot, not per day — a plain
    // day-granular compact would silently destroy the sub-day skip index
    // fileSpan="hour" exists for. targetFiles then means files per hour.
    val hourly = cluster.isEmpty && writeOptions.fileSpan == "hour"
    val hourPressure: Map[String, Int] =
      if (hourly) manifestHourPressure() else Map.empty
    // ONE listing pass serves both the skip filter and the displaced
    // capture (object-store listings are the expensive metadata op here)
    val dayFiles: Map[String, Seq[(String, Long)]] =
      dates.distinct.sorted.map { d =>
        val dir = new Path(root, s"$PartCol=$d")
        d -> (if (!fs.exists(dir)) Seq.empty[(String, Long)]
        else dataFiles(fs.listStatus(dir))
          .map(st => (s"$PartCol=$d/${st.getPath.getName}", st.getLen)))
      }.toMap
    val hit = dates.distinct.sorted.filter { d =>
      // bin-packing skips days already at target (for hourly tables: no
      // single hour bucket covered by more than targetFiles files, per the
      // manifest's exact spans — comparing TOTAL files to total covered
      // hours would let a split hour hide behind a legacy multi-hour file
      // forever; a span-less file makes the day qualify, and the rewrite
      // restores its span); RE-CLUSTERING is a re-sort, so any existing
      // day qualifies regardless of file count
      val n = dayFiles(d).length
      if (cluster.nonEmpty) n > 0
      else if (hourly)
        n > 0 && hourPressure.getOrElse(d, Int.MaxValue) > targetFiles
      else n > targetFiles
    }
    if (hit.isEmpty) return Seq.empty
    // Plan-time displaced capture — the rewrite conflict gate's identity
    // AND the read set: the staging read loads EXACTLY these files rather
    // than the day directories, so a file a concurrent append lands
    // mid-rewrite is neither folded into the compacted output (duplicate
    // rows) nor archived out from under its own commit (lost rows) —
    // compact touches only what it planned, and the conflict gates
    // (pre-swap liveness + commit-time manifest membership) judge exactly
    // that set.
    val displaced = hit.flatMap(dayFiles)
    stageAndSwap(displaced, "compact", "_compact_tmp_") { tmp =>
      // synthetic-manifest snapshot read over the plan-time file set — the
      // cowExec staging rule (explicit statuses, no lazy listing to
      // silently narrow the compacted output)
      val days = new TsSnapshot(spark, path, tsCol,
        TsManifest(-1L, "staging", tsCol, schema, displaced)).raw
      // targetFiles=1: hash by day — one task → one sorted file per day;
      // >1: range on (day, ts) — each heavy day splits into ~targetFiles
      // contiguous ts slices (the append filesPerDay rule).
      // clusterBy (>= 2 cols): the day re-sorts along the Morton curve of
      // the named columns instead of ts — files become k-D tiles, and the
      // per-file colStats spans of DECLARED statsCols turn rectangle
      // predicates into planning-time file skips on the governed store
      // (the standalone ZOrderLayout, without leaving the format). The
      // trade is explicit: a clustered day's files are no longer
      // ts-contiguous, so the ts span index degrades to day granularity
      // for that day until a plain compact restores it.
      val sorted = {
        val d = withFieldIds(days)
        if (cluster.nonEmpty) {
          val aggs = cluster.flatMap(c =>
            Seq(min(col(c).cast("double")), max(col(c).cast("double"))))
          val r = d.agg(aggs.head, aggs.tail: _*).head // 1 driver row: bounds
          // every axis checked by name: an all-null non-first column would
          // otherwise surface as a bare NPE from getDouble — the abort is
          // safe either way (nothing has been rewritten yet), the message
          // should name the column
          cluster.zipWithIndex.foreach { case (c, j) =>
            require(!r.isNullAt(2 * j) && !r.isNullAt(2 * j + 1),
              s"compact clusterBy: column '$c' has no non-null values in " +
                "the selected days — no Morton axis can be derived from it")
          }
          val bounds = cluster.indices.map(j => (r.getDouble(2 * j), r.getDouble(2 * j + 1)))
          val z = graft.operators.ZOrderLayout.codeColumn(cluster.map(col), bounds)
          d.withColumn("__zcode", z)
            .repartitionByRange((hit.length * targetFiles).max(1),
              col(PartCol), col("__zcode"))
            .sortWithinPartitions(col(PartCol), col("__zcode"))
            .drop("__zcode") // projection preserves the in-partition order
        } else if (hourly) {
          // the append path's hour slotting replayed by maintenance: one
          // range slot per distinct (day, hour) in the selected days
          // (times targetFiles for finer slices). At targetFiles=1 the
          // range key deliberately OMITS ts: equal (day, hour) keys cannot
          // split across range partitions, so no rewritten file ever
          // straddles an hour even when per-hour row counts are skewed
          // (a sampled (day, hour, ts) boundary lands mid-hour under skew,
          // and a straddling file would re-qualify the day under the
          // per-bucket pressure test forever); slots can only MERGE into
          // adjacent-hour files, which stay ts-contiguous. One extra
          // distinct-count aggregate, paid by hour-slotted tables only.
          val nSlots = d.agg(TsTable.distinctCount(struct(col(PartCol),
            date_trunc("hour", col(tsCol))))).head.getLong(0)
          val slotted =
            if (targetFiles == 1)
              d.repartitionByRange(nSlots.toInt.max(1),
                col(PartCol), date_trunc("hour", col(tsCol)))
            else
              d.repartitionByRange((nSlots * targetFiles).toInt.max(1),
                col(PartCol), date_trunc("hour", col(tsCol)), col(tsCol))
          slotted.sortWithinPartitions(col(PartCol), col(tsCol))
        } else if (targetFiles == 1)
          d.repartition(col(PartCol)).sortWithinPartitions(col(PartCol), col(tsCol))
        else d.repartitionByRange(
            (hit.length * targetFiles).max(1), col(PartCol), col(tsCol))
          .sortWithinPartitions(col(PartCol), col(tsCol))
      }
      tableWriter(sorted, "overwrite")
        .partitionBy(PartCol).save(new Path(tmp, "dated").toString)
    }
    hit
  }

  /** Per day, the MAX number of live files whose exact manifest ts spans
    * intersect any single UTC hour bucket — [[compactDays]]'s skip test
    * on hour-slotted tables (a day is packed when no hour is covered by
    * more than targetFiles files; comparing total file count to the
    * UNION of covered hours let a split hour hide behind a legacy
    * multi-hour file forever — under-compaction that never healed).
    * Days holding any span-less file map to Int.MaxValue (conservative:
    * they qualify for a rewrite, which restores spans). Metadata-only:
    * one manifest read, zero footers. */
  private def manifestHourPressure(): Map[String, Int] =
    currentManifest.map { case (_, m) =>
      m.files.map(_._1).filter(_.startsWith(s"$PartCol="))
        .groupBy(_.split("/").head.stripPrefix(s"$PartCol="))
        .map { case (d, fls) =>
          val spans = fls.flatMap(m.stats.get)
          d -> (if (spans.length != fls.length) Int.MaxValue
          else spans.flatMap { case (lo, hi) =>
            Math.floorDiv(lo, 3600000000L) to Math.floorDiv(hi, 3600000000L)
          }.groupBy(identity).valuesIterator.map(_.size)
            .maxOption.getOrElse(0))
        }
    }.getOrElse(Map.empty)

  /** Retention: drop every day partition strictly BEFORE `date` (UTC ISO
    * day); returns the dates dropped. The other maintenance half next to
    * `compact` — ageing out the cold end of an append-ordered table is a
    * directory-level delete per day (metadata-scale, no data read), exactly
    * the operation the daily layout exists to make cheap. The append guard
    * is unaffected: `maxDt` lives in the NEWEST partition and retention
    * only ever removes the oldest, so the monotonicity contract survives
    * (asserted in CompactSpec). Expired days are ARCHIVED, not deleted, so
    * a pinned `openAt` reader still serves them (the compact rule); the
    * bytes go away when `expireSnapshots` drops the last manifest that
    * references them. */
  def dropBefore(date: String): Seq[String] = {
    require(DateDirRe.matches(date), s"date must be YYYY-MM-DD, got '$date'")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dropped = partitionDates.filter(_ < date).sorted.map { d =>
      val rel = s"$PartCol=$d"
      // a file vanishing mid-archive is a rewrite racing retention —
      // classify as the retryable conflict (re-running dropBefore
      // converges: it re-lists and retires whatever is then live)
      try dataFiles(fs.listStatus(new Path(root, rel)))
        .foreach(f => archiveFile(fs, s"$rel/${f.getPath.getName}"))
      catch { case e: java.io.FileNotFoundException =>
        throw new TsTable.ConcurrentRewriteException(
          s"retention: a file in $rel vanished while archiving " +
            "(concurrent rewrite); re-run dropBefore to converge", e)
      }
      fs.delete(new Path(root, rel), true) // now holds only markers
      d
    }
    if (dropped.nonEmpty) commitVersion("retention")
    dropped
  }

  /** Row-level DELETE, copy-on-write (the GDPR / bad-producer verb —
    * `DELETE FROM t WHERE …` for this table format): removes every row the
    * predicate evaluates TRUE on (null/UNKNOWN keeps the row, SQL DELETE
    * semantics) and commits a "delete" version; a pre-delete pin still
    * serves the removed rows (archive-not-delete, the compact rule).
    *
    * Mechanics, O(hit files) — never a table rewrite:
    *   1. PRUNE: one scan finds the files holding matching rows. The
    *      predicate reaches the parquet scan (row-group min/max stats skip
    *      non-matching files; include ts bounds for time-scoped deletes so
    *      the sorted layout prunes hardest). The driver collects one row
    *      per HIT file (path + hit count) — bounded by the file count,
    *      never rows.
    *   2. REWRITE: one distributed job reads only the hit files and writes
    *      each affected day's survivors back as `filesPerDay` ts-sorted
    *      file(s) into an invisible writer-unique `_delete_tmp_<uuid>` staging dir (a crash
    *      here leaves only re-runnable temp state).
    *   3. SWAP + COMMIT: hit originals are archived (pinned readers keep
    *      resolving them), survivor files move in, and the next version
    *      commits. A crash mid-swap is recoverable: every archived file
    *      remains resolvable through the previous manifest.
    *
    * A partially-hit day afterwards holds its untouched files plus the
    * survivor file, whose ts span OVERLAPS theirs — correct (reads are
    * predicate-driven, not order-driven) but less skip-tight; `compact`
    * restores the contiguous-slice layout. Returns the number of rows
    * deleted (0 = no hit, in which case nothing is rewritten and no
    * version commits). */
  def deleteWhere(predicate: org.apache.spark.sql.Column,
                  filesPerDay: Int = 1): Long = {
    require(filesPerDay >= 1, "filesPerDay must be >= 1")
    live.cowRewrite(predicate, "delete", filesPerDay)((df, cond) => df.where(!cond))
  }

  /** Row-level UPDATE, copy-on-write — `deleteWhere`'s sibling and the
    * redaction/correction verb (`UPDATE t SET … WHERE …`): every row the
    * predicate evaluates TRUE on gets the assigned column expressions
    * (evaluated against the row, cast to the column's stored type);
    * everything else — including the hit files' non-matching rows —
    * rewrites byte-identically. Same O(hit files) pruning, staging, and
    * archive discipline as delete; commits an "update" version, so a
    * pre-update pin still serves the original values. The ts column (and
    * the partition column) cannot be assigned: the table is
    * append-ordered and `ts` is a row's placement identity — moving a
    * row in time is a delete + append, not an update. Returns the number
    * of rows updated (0 = no hit, nothing rewritten, no commit). */
  def updateWhere(predicate: org.apache.spark.sql.Column,
                  assignments: Map[String, org.apache.spark.sql.Column],
                  filesPerDay: Int = 1): Long =
    live.updateWhereLive(predicate, assignments, filesPerDay)

  private def updateWhereLive(predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column],
      filesPerDay: Int): Long = {
    require(filesPerDay >= 1, "filesPerDay must be >= 1")
    require(assignments.nonEmpty, "updateWhere: no assignments")
    require(!assignments.keySet.exists(_.equalsIgnoreCase(tsCol)),
      s"updateWhere: '$tsCol' is the table's order identity — move a row " +
        "in time with deleteWhere + append, not an update")
    require(!assignments.keySet.exists(_.equalsIgnoreCase(PartCol)),
      s"updateWhere: '$PartCol' is derived from '$tsCol', not assignable")
    val unknown = assignments.keySet.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"updateWhere: unknown columns ${unknown.mkString(", ")}")
    cowRewrite(predicate, "update", filesPerDay,
        enforceAfterRewrite = true) { (df, cond) =>
      df.select(df.columns.map { c =>
        if (assignments.contains(c))
          when(cond, assignments(c).cast(schema(c).dataType))
            .otherwise(col(c)).as(c)
        else col(c)
      }.toSeq: _*)
    }
  }

  /** Upsert — the `MERGE INTO t USING s ON …` verb, completing the DML
    * triple with [[deleteWhere]]/[[updateWhere]]: each `source` row whose
    * `keys` values match an existing row UPDATES it in place (the matched
    * row's `updateCols` take the source row's values — by default every
    * non-key source column except the ts column), and each source row with
    * no match is INSERTED into its ts-derived day partition — including
    * days in the table's PAST, the backfill `append`'s monotonicity
    * contract deliberately forbids (late-arriving data lands here, ordered
    * ingest stays on `append`). One "merge" version commits for the whole
    * upsert; a pre-merge pin still serves the original rows.
    *
    * Mechanics and scale shape:
    *   - MATCHED side is `updateWhere`'s O(hit files) copy-on-write: a
    *     key semi-join finds the files holding matched rows (the source is
    *     typically small — AQE broadcasts it and the probe never
    *     shuffles), only those files rewrite, non-matched rows in them
    *     byte-identically.
    *   - NOT-MATCHED side is one key anti-join projecting the source onto
    *     the table schema (absent columns null-fill, `appendEvolved`'s
    *     rule) — inserted rows ride the SAME staged write as the
    *     rewrites, so a day receiving both stays one ts-sorted file set
    *     and the swap is a single archive-and-move.
    *   - SQL MERGE's cardinality rule is enforced: a source with two rows
    *     for one key is rejected before anything rewrites.
    *
    * A backfilled day's new file ts-OVERLAPS its older files (correct —
    * reads are predicate-driven; `compact` restores the contiguous-slice
    * layout, same note as `deleteWhere`). `changesBetween` treats a
    * "merge" version as row-free maintenance: its inserts share files
    * with rewritten survivors, so a file-set diff cannot isolate the adds
    * — incremental consumers resync when the action log shows a merge
    * (the documented delete/restore rule). A merge that matched NOTHING
    * commits as "backfill" instead — pure insertion is file-additive and
    * stays changes-visible.
    *
    * @param source     one row per upsert; columns ⊆ table columns; must
    *                   carry `keys` and (when `insert`) the ts column.
    * @param keys       match identity (e.g. the event id). Key columns
    *                   never update.
    * @param updateCols matched-row column set: None (default) = all
    *                   non-key source columns except ts; Some(cols) =
    *                   exactly those; Some(Nil) = update NOTHING — the
    *                   insert-only (ignore-duplicates) merge, whatever
    *                   extra columns the source carries.
    * @param insert     false = update-only merge (unmatched source rows
    *                   are ignored).
    * @return (matched-and-updated count, inserted count); (0, 0) =
    *         nothing to do, no version committed. */
  def mergeInto(source: DataFrame, keys: Seq[String],
                updateCols: Option[Seq[String]] = None,
                insert: Boolean = true,
                filesPerDay: Int = 1): TsTable.MergeResult =
    live.mergeIntoLive(source, keys, updateCols, insert, filesPerDay)

  private def mergeIntoLive(source: DataFrame, keys: Seq[String],
      updateCols: Option[Seq[String]], insert: Boolean,
      filesPerDay: Int): TsTable.MergeResult = {
    require(filesPerDay >= 1, "filesPerDay must be >= 1")
    require(keys.nonEmpty, "mergeInto: no key columns")
    val srcCols = source.schema.fieldNames.toSeq
    keys.foreach { k =>
      require(srcCols.contains(k), s"mergeInto: source is missing key column '$k'")
      require(schema.fieldNames.contains(k),
        s"mergeInto: key column '$k' is not a table column")
    }
    val foreign = srcCols.filterNot(schema.fieldNames.contains)
    require(foreign.isEmpty,
      s"mergeInto: source columns ${foreign.mkString(", ")} are not table columns")
    require(updateCols.forall(_.forall(srcCols.contains)),
      s"mergeInto: updateCols ${updateCols.getOrElse(Seq.empty).filterNot(srcCols.contains).mkString(", ")} missing from source")
    val upd = updateCols.getOrElse(
      srcCols.filterNot(c => keys.contains(c) || c.equalsIgnoreCase(tsCol)))
    require(!upd.exists(_.equalsIgnoreCase(tsCol)),
      s"mergeInto: '$tsCol' is a row's placement identity — move a row in " +
        "time with deleteWhere + a ts-bearing insert, not an update")
    require(!upd.exists(_.equalsIgnoreCase(PartCol)),
      s"mergeInto: '$PartCol' is derived from '$tsCol', not assignable")
    require(upd.forall(c => !keys.contains(c)),
      s"mergeInto: key columns (${upd.filter(keys.contains).mkString(", ")}) are not updatable")
    require(upd.nonEmpty || insert,
      "mergeInto: nothing to do — no update columns and insert = false")
    require(!insert || srcCols.contains(tsCol),
      s"mergeInto: inserts need '$tsCol' in the source to place rows")
    // Materialize the source EXACTLY ONCE (the Delta MERGE materializeSource
    // rule) — localCheckpoint truncates the plan to the computed rows, so
    // the several passes below (cardinality check, MATCHED discovery,
    // NOT-MATCHED projection, the rewrite xform) all see ONE consistent
    // value. A lazy source would re-evaluate per pass, and persist() is
    // NOT enough: a concurrent writer's commit to a path the source reads
    // makes Spark recacheByPath — recompute the cache MID-MERGE — so a
    // source reading this or another graft table during concurrent
    // maintenance could silently flap between passes (rows lost from the
    // insert set; raced in TsRollupSpec's sync-vs-rewrite stress).
    // Tracked so the blocks are freed when the merge returns — every pass
    // below is consumed inside this call, and un-freed checkpoints
    // accumulate executor storage across a merge loop. Trade-off of the
    // non-reliable checkpoint (unchanged by tracking): an executor loss
    // mid-merge fails the merge instead of recomputing — acceptable,
    // because a failed merge commits nothing and re-runs cleanly.
    // Plan-provable key uniqueness (read BEFORE the checkpoint truncates
    // the plan): a source that bottoms out in an Aggregate grouped by the
    // merge keys — every TsRollup sync's bucketAgg — cannot violate the
    // SQL MERGE cardinality rule, so the dup-check job below is skipped
    // outright (r22 lifecycle job-batching: one read-only job per sync).
    // Conservative: anything the walk cannot prove keeps the check.
    val provablyUnique = TsTable.provablyUniqueOn(source, keys)
    // one metadata probe reused by both discovery sides below: the live
    // files' exact ts spans (Some(Nil) = the table serves no files)
    val spans = exactSpans
    val tableEmpty = spans.exists(_.isEmpty)
    val (src0, freeSrc0) = TsTable.localCheckpointTracked(source)
    val frees = scala.collection.mutable.ArrayBuffer[() => Unit](freeSrc0)
    try {
    // SQL MERGE cardinality rule: at most one source row per key
    val keyCols = keys.map(col)
    val dup =
      if (provablyUnique) Array.empty[org.apache.spark.sql.Row]
      else src0.groupBy(keyCols: _*).agg(count(lit(1)).as("__n"))
        .where(col("__n") > 1).limit(1).collect()
    require(dup.isEmpty,
      s"mergeInto: source has ${dup.headOption.map(_.getLong(keys.length)).getOrElse(0L)} rows " +
        s"for key (${dup.headOption.map(r => keys.indices.map(r.get).mkString(", ")).getOrElse("")}) — " +
        "SQL MERGE cardinality violation")
    // the source projected onto the stored schema, p_date derived
    def onStored(df: DataFrame): DataFrame = df
      .select(schema.fields.map { f =>
        (if (srcCols.contains(f.name)) col(f.name).cast(f.dataType)
         else lit(null).cast(f.dataType)).as(f.name)
      }.toSeq: _*)
      .withColumn(PartCol, to_date(col(tsCol)))
    // insert-side stats: count, count(ts), distinct days, min/max ts
    def insertStats(df: DataFrame): org.apache.spark.sql.Row =
      df.agg(count(lit(1)), count(col(tsCol)), TsTable.distinctCount(col(PartCol)),
        min(col(tsCol)), max(col(tsCol))).head
    // No-match short-circuit from metadata: no source row can match when
    // the table serves no files, or when the keys include the ts column
    // and the source's [min, max] ts overlaps no live file's exact span (a
    // matching row would sit inside both). Every steady-state rollup sync
    // is this case: it only inserts buckets later than any stored one.
    // One aggregate over the pinned source decides it and, when it holds,
    // also yields the insert counts; the MATCHED join, the NOT-MATCHED
    // anti-join and its checkpoint are all skipped.
    lazy val srcStats = insertStats(onStored(src0))
    val noMatch = tableEmpty || (spans.isDefined && keys.contains(tsCol) &&
      src0.schema(tsCol).dataType == TimestampType &&
      (srcStats.isNullAt(3) || {
        def us(i: Int) = org.apache.spark.sql.catalyst.util.DateTimeUtils
          .fromJavaTimestamp(srcStats.getAs[Timestamp](i))
        val (lo, hi) = (us(3), us(4))
        spans.get.forall { case (a, b) => b < lo || a > hi }
      }))
    // MATCHED discovery: O(#hit files) driver metadata, skipped when
    // nothing will update or nothing can match
    val (hitRel, matched) =
      if (upd.isEmpty || noMatch) (Seq.empty[String], 0L)
      else {
        // input_file_name() must bind BELOW the join (it rejects
        // multi-source plans), so stamp each table row with its file first
        val hitAgg = raw.withColumn("__f", input_file_name())
          .join(src0.select(keyCols: _*), keys, "left_semi")
          .groupBy(col("__f").as("f")).agg(count(lit(1)).as("n"))
          .collect()
        (relativize(hitAgg.map(_.getString(0)).toSeq, "merge"),
          hitAgg.map(_.getLong(1)).sum)
      }
    // NOT-MATCHED side: project onto the stored schema, derive p_date
    val insOpt: Option[(DataFrame, Long, Int)] =
      if (!insert) None
      else {
        // ...and when nothing can match, the NOT-MATCHED anti-join
        // degenerates to the source itself — a pure projection of the
        // PINNED src0 blocks, which is deterministic, so the second
        // checkpoint job is unnecessary. Otherwise keep it: the anti-join
        // reads the LIVE table, and a mid-merge recache would
        // desynchronize the validation count from the staged write (the
        // single-evaluation rule).
        val (proj, st) =
          if (noMatch) (onStored(src0), srcStats)
          else {
            val (cp, freeProj) = TsTable.localCheckpointTracked(
              onStored(src0.join(raw.select(keyCols: _*), keys, "left_anti")))
            frees += freeProj
            (cp, insertStats(cp))
          }
        val (n, nTs, nDays) = (st.getLong(0), st.getLong(1), st.getLong(2))
        if (n == 0) None
        else if (n != nTs)
          throw new IllegalArgumentException(
            s"mergeInto: ${n - nTs} insert row(s) carry a null '$tsCol'")
        else Some((proj, n, nDays.toInt))
      }
    if (hitRel.isEmpty && insOpt.isEmpty) return TsTable.MergeResult(0L, 0L)
    // a merge that rewrites NOTHING is pure insertion — file-additive, so
    // committing it as "backfill" keeps its rows visible to incremental
    // readers (changesBetween serves backfill commits; a rewriting merge
    // stays row-free there because inserts share files with rewrites)
    val action = if (hitRel.isEmpty) "backfill" else "merge"
    cowExec(hitRel, action, filesPerDay,
      inserts = insOpt.map(_._1), insertDays = insOpt.map(_._3).getOrElse(0),
      enforceAfterRewrite = true) { df =>
      val marked = src0.select(
        (keyCols ++ upd.map(c => col(c).as(s"__u_$c")) :+
          lit(true).as("__matched")): _*)
      df.join(marked, keys, "left")
        .select(df.columns.map { c =>
          if (upd.contains(c))
            when(col("__matched"), col(s"__u_$c").cast(schema(c).dataType))
              .otherwise(col(c)).as(c)
          else col(c)
        }.toSeq: _*)
    }
    TsTable.MergeResult(matched, insOpt.map(_._2).getOrElse(0L))
    } finally frees.foreach(_()) // free src0/proj checkpoint blocks
  }

  /** Shared copy-on-write discovery for [[deleteWhere]]/[[updateWhere]]:
    * prune to the files holding predicate-TRUE rows (pushed predicates +
    * row-group stats; O(#hit files) driver metadata), then hand the hit
    * set and the null-safe hit condition to [[cowExec]]. Returns the
    * predicate-TRUE row count; 0 hits = nothing rewritten, no commit. */
  private def cowRewrite(predicate: org.apache.spark.sql.Column,
                         action: String, filesPerDay: Int,
                         enforceAfterRewrite: Boolean = false)(
      xform: (DataFrame, org.apache.spark.sql.Column) => DataFrame): Long = {
    // Metadata-only empty-table short-circuit (r22 lifecycle job
    // batching): a table serving no files cannot have predicate hits, so
    // skip the discovery scan JOB outright — same result as the empty-hit
    // fast path below. Matters for every fresh-rollup first sync
    // (TsRollup.fullRebuild's clear) and any delete/update on a new table.
    if (servesNoFiles) return 0L
    val hitAgg = raw.where(predicate)
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"))
      .collect() // one row per HIT file — O(#hit files), documented above
    if (hitAgg.isEmpty) return 0L // empty-hit fast path: no rewrite, no commit
    val hits = hitAgg.map(_.getLong(1)).sum
    val cond = coalesce(predicate, lit(false)) // null/UNKNOWN = not hit
    cowExec(relativize(hitAgg.map(_.getString(0)).toSeq, action), action,
      filesPerDay, inserts = None, insertDays = 0,
      enforceAfterRewrite)(df => xform(df, cond))
    hits
  }

  /** Table-root-relative paths of scanned file URIs, refusing anything that
    * resolves outside the root (a scan can only ever surface table files —
    * this is the tamper guard, not a normalization). */
  private def relativize(fileUris: Seq[String], action: String): Seq[String] = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootPath = fs.makeQualified(root).toUri.getPath.stripSuffix("/")
    fileUris.map { u =>
      val p = new Path(u).toUri.getPath
      require(p.startsWith(rootPath + "/"),
        s"$action: scanned file $u resolves outside the table root")
      p.substring(rootPath.length + 1)
    }
  }

  /** Plan-time guard for the rewrite conflict gate. Classifies this
    * rewrite's displaced (relpath, length) set against the CURRENT
    * committed manifest and returns (guarded subset, plan version):
    *
    *   - A DATED (engine-written, `p_date=`-dir) input the committed
    *     manifest does not list is REFUSED outright: it is either another
    *     rewrite's in-flight transient replacement — rewriting it would
    *     fold that verb's uncommitted effects into ours and corrupt both
    *     histories — or a crashed commit's orphan. Retry re-plans; a
    *     persisting orphan is captured by [[checkpoint]] first.
    *   - Root-level LOOSE files are the attach surface: legitimately
    *     manifest-less until their first commit, so they are exempt from
    *     the commit-time membership gate (the pre-swap liveness check
    *     still covers them).
    *   - The guarded subset (manifest-listed inputs) plus the plan
    *     version feed [[commitVersion]]'s action-aware gate.
    *
    * Pre-snapshot tables (no manifest at all) skip both checks. */
  private def guardDisplaced(displaced: Seq[(String, Long)],
                             action: String)
      : (Seq[(String, Long)], Option[Long]) = {
    val cur = currentManifest
    val planV = cur.map(_._1)
    val planned = cur
      .map(_._2.files.toMap)
      .getOrElse(Map.empty[String, Long])
    if (planV.isDefined) {
      val unmanifested = displaced.filter { case (p, l) =>
        p.contains("/") && !planned.get(p).contains(l) }
      if (unmanifested.nonEmpty)
        throw new TsTable.ConcurrentRewriteException(
          s"$action: planned input ${unmanifested.head._1} is not listed " +
            s"by the committed manifest (v${planV.get}) — another " +
            "rewrite's in-flight transient replacement, or a crashed " +
            "commit's orphan. Retry the verb on a fresh handle; if the " +
            "refusal persists, run checkpoint() to capture orphaned " +
            "files into the manifest first.")
    }
    (displaced.filter { case (p, l) => planned.get(p).contains(l) }, planV)
  }

  /** The displaced set `(relpath, length)` of verbs holding only relative
    * paths: a planned input already MISSING here means another rewrite
    * took it between discovery and staging — conflict, before any work. */
  private def captureDisplaced(fs: org.apache.hadoop.fs.FileSystem,
                               hitRel: Seq[String], action: String)
      : Seq[(String, Long)] =
    hitRel.map { r =>
      val st = try fs.getFileStatus(new Path(path, r))
      catch { case _: java.io.FileNotFoundException =>
        throw new TsTable.ConcurrentRewriteException(
          s"$action: planned input $r vanished before staging — another " +
            "rewrite displaced it; retry the verb on a fresh handle")
      }
      r -> st.getLen
    }

  /** True when `e`'s causal chain is a missing/unreadable file UNDER THIS
    * TABLE'S ROOT surfacing from a rewrite's staging read — the planned
    * inputs are the only table files that read touches, so their
    * disappearance mid-staging IS a concurrent rewrite taking them
    * (PATH_NOT_FOUND at plan time, FAILED_READ_FILE at task time). The
    * root-path guard keeps a genuinely missing USER file (merge's insert
    * source) surfacing as its own error, never a retryable conflict.
    * Messages that carry a relative / URI-encoded / bare-filename path
    * miss the root-path substring, so a missing-file shape ALSO matches
    * against the planned inputs' basenames — UUID part names make a
    * collision with a user file's name a non-event, and those are the
    * only table files the staging read can touch. */
  private[ts] def stagingSwapRace(e: Throwable,
                                  displaced: Seq[(String, Long)]): Boolean =
    TsTable.missingFileUnder(e, Seq(path),
      displaced.iterator.map(_._1.split("/").last).filter(_.nonEmpty).toSeq)

  /** Pre-swap conflict gate — the cheapest point to lose the race: after
    * staging (all CPU spent, nothing live touched), every displaced file
    * must STILL be live at its planned length. A pure filesystem check,
    * so it also sees a concurrent writer's IN-FLIGHT swap (files archived
    * ahead of a commit the manifest gate can't observe yet). On conflict:
    * throw retryable — the live table is untouched. */
  private def requireDisplacedLive(fs: org.apache.hadoop.fs.FileSystem,
                                   displaced: Seq[(String, Long)],
                                   action: String): Unit =
    displaced.foreach { case (r, l) =>
      val ok = try fs.getFileStatus(new Path(path, r)).getLen == l
      catch { case _: java.io.FileNotFoundException => false }
      if (!ok)
        throw new TsTable.ConcurrentRewriteException(
          s"$action: planned input $r was displaced while staging " +
            "(concurrent rewrite); staged output dropped, live table " +
            "untouched — retry the verb on a fresh handle")
    }

  /** Roll a completed swap back after a commit-time conflict: ARCHIVE
    * (never delete) the replacement files this verb moved live — an
    * interleaved commit's listing-based manifest may have captured them,
    * and archiving keeps that committed version resolvable
    * (live-first-then-archive) until expireSnapshots reclaims it — then
    * restore the verb's archived inputs (archive → live rename; the
    * same-length-twin arm of [[archiveFile]] deleted the live copy, so
    * restoring re-lives the archived twin — identical bytes by
    * construction). After this the live tree equals the winner's
    * committed state and older pinned readers keep resolving. Idempotent:
    * re-running skips files already in place. */
  private def rollbackSwap(fs: org.apache.hadoop.fs.FileSystem,
                           displaced: Seq[(String, Long)],
                           movedIn: Seq[String]): Unit = {
    movedIn.foreach { rel =>
      // a replacement vanishing in the exists→archive window means a
      // third writer already took it — the goal (not live) is achieved,
      // and the archive holds it for any manifest that captured it
      try { if (fs.exists(new Path(path, rel))) archiveFile(fs, rel) }
      catch { case _: java.io.FileNotFoundException => () }
    }
    // Restore EVERYTHING restorable before reporting what is not: a
    // mid-loop throw on the first unrestorable rel would leave every
    // later displaced file still archived, compounding one reclaimed
    // file into several missing-from-live files and complicating the
    // documented manual recovery (r20 advice). One exception at the end
    // names the full lost set.
    val lost = Seq.newBuilder[String]
    displaced.foreach { case (rel, _) =>
      val live = new Path(path, rel)
      if (!fs.exists(live)) {
        val arch = new Path(new Path(path, TsTable.ArchiveDir), rel)
        if (fs.exists(arch)) { fs.mkdirs(live.getParent); fs.rename(arch, live) }
        else
          // every rel here was archived by THIS verb moments ago (the
          // callers pass only their own archive set), so absence means
          // snapshot GC reclaimed the bytes inside the rollback window —
          // the in-flight marker protects against that, making this a
          // should-never-fire guard that turns silent row loss LOUD
          lost += rel
      }
    }
    val lostRels = lost.result()
    if (lostRels.nonEmpty)
      throw new IllegalStateException(
        s"rollback cannot restore ${lostRels.mkString(", ")}: neither live " +
          "nor archived — their archived bytes were reclaimed mid-rewrite " +
          "(snapshot GC racing this verb's rollback window); these files' " +
          "rows are lost from the live tree — restore from a retained " +
          "snapshot (every other displaced file was restored)")
  }

  /** Copy-on-write staging for the predicate verbs ([[cowRewrite]]),
    * [[mergeInto]], [[backfill]] and [[migrateFieldIds]]: apply `xform` to
    * ONLY the hit files' rows, union in `inserts` (already carrying
    * `p_date`; merge's NOT-MATCHED rows), and stage the result through
    * [[stageAndSwap]], which archives the hit originals, moves the staged
    * files in and commits `action`. `insertDays` sizes the range-split
    * when `filesPerDay > 1` (an upper bound on the insert-side day count).
    * With `enforceAfterRewrite`, the table's CHECK constraints are judged
    * on the staged output before anything live moves. */
  private def cowExec(hitRel: Seq[String], action: String, filesPerDay: Int,
                      inserts: Option[DataFrame], insertDays: Int,
                      enforceAfterRewrite: Boolean = false,
                      meta: Map[String, String] = Map.empty)(
      xform: DataFrame => DataFrame): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val displaced = captureDisplaced(fs, hitRel, action)
    val (dated, loose) = hitRel.partition(_.contains("/"))
    stageAndSwap(displaced, action, "_delete_tmp_", meta) { tmp =>
      // one job per layout family
      if (dated.nonEmpty || inserts.nonEmpty) {
        val nDays =
          dated.map(_.split("/").init.mkString("/")).distinct.length + insertDays
        val parts = Seq.newBuilder[DataFrame]
        if (dated.nonEmpty)
          // synthetic-manifest snapshot read over EXACTLY the planned inputs
          // (the changesBetween pattern): explicit file statuses, so the
          // staging job can never be silently narrowed by a lazy listing
          // that skips a just-displaced path — a vanished input surfaces
          // loudly (resolution or open) and classifies as the conflict
          parts += xform(new TsSnapshot(spark, path, tsCol,
            TsManifest(-1L, "staging", tsCol, schema,
              displaced.filter(_._1.contains("/")))).raw)
        inserts.foreach(parts += _)
        val df = withFieldIds(parts.result().reduce(_.unionByName(_)))
        val placed =
          if (filesPerDay == 1) df.repartition(col(PartCol))
          else df.repartitionByRange((nDays * filesPerDay).max(1),
            col(PartCol), col(tsCol))
        tableWriter(placed.sortWithinPartitions(col(PartCol), col(tsCol)),
          "overwrite").partitionBy(PartCol).save(new Path(tmp, "dated").toString)
      }
      if (loose.nonEmpty) { // attached plain/hybrid layouts: root-level files
        // same synthetic-manifest read; raw already carries the null p_date
        // the predicate may name (the live-read semantic for loose files)
        val looseDf = withFieldIds(xform(new TsSnapshot(spark, path, tsCol,
            TsManifest(-1L, "staging", tsCol, schema,
              displaced.filterNot(_._1.contains("/")))).raw)
          .drop(PartCol))
          .repartitionByRange(loose.length.max(1), col(tsCol))
          .sortWithinPartitions(col(tsCol))
        tableWriter(looseDf, "overwrite").save(new Path(tmp, "loose").toString)
      }
      // constraint gate on the STAGED output (update/merge can modify
      // rows into violation; delete can't and skips this): validating the
      // already-written staging files costs one cheap re-read, never a
      // recompute of the rewrite, and a violation aborts BEFORE anything
      // archives — the live table is untouched.
      if (enforceAfterRewrite && checks.nonEmpty) {
        val parts = Seq.newBuilder[DataFrame]
        val datedStage = new Path(tmp, "dated")
        if (fs.exists(datedStage))
          parts += spark.read.option("basePath", datedStage.toString)
            .schema(withPartCol(schema)).parquet(datedStage.toString)
            .drop(PartCol)
        val looseStage = new Path(tmp, "loose")
        if (fs.exists(looseStage))
          parts += spark.read.schema(schema).parquet(looseStage.toString)
        parts.result().reduceOption(_.unionByName(_))
          .foreach(enforceChecks(_, action))
      }
    }
  }

  /** The copy-on-write swap every rewrite verb commits through
    * ([[cowExec]]'s verbs, [[compactDays]] and [[overwrite]]): `stage` writes the
    * replacement files under `<tmp>/dated` (day directories) and
    * `<tmp>/loose` (root-level files); this method owns everything else,
    * in this order:
    *   1. [[guardDisplaced]] against the committed manifest;
    *   2. a writer-unique `<stagingPrefix><uuid>` staging dir, and the
    *      in-flight marker BEFORE anything stages — from here until the
    *      commit lands (or the rollback completes), expireSnapshots must
    *      not reclaim the displaced files' archived bytes and
    *      vacuumStaging must not reclaim this staging dir;
    *   3. `stage`, whose missing-table-file failures classify as the
    *      retryable conflict ([[stagingSwapRace]]; staging dropped, live
    *      table untouched);
    *   4. the pre-swap gate ([[requireDisplacedLive]]); any failure in
    *      3-4 (or in the hooks between them) drops the staging dir;
    *   5. archive EXACTLY the displaced inputs (never a fresh listing — a
    *      concurrent append's new file must stay live), then move the
    *      staged files in and delete the staging dir;
    *   6. [[commitVersion]]'s action-aware gate; on conflict the swap rolls
    *      back ([[rollbackSwap]] — replacements ARCHIVED so any manifest
    *      that captured them stays resolvable, inputs re-lived) and a
    *      healing checkpoint re-lists the live truth, so a losing verb
    *      leaves the table equal to the winner's state and its retry
    *      re-plans cleanly.
    * [[TsTable.rewriteRaceHook]] fires at "staged" (after 3), "archiving"
    * (after 4) and "swapped" (after 5).
    *
    * Residual honesty: a listing-based manifest committed in the
    * swap→commit window still captures this verb's transient replacement
    * files (that version transiently serves the verb's uncommitted
    * effects until the next commit re-lists); the gates turn what was
    * silent row resurrection/loss into loud retryable aborts — full
    * serializability would need log-as-truth manifests. */
  private def stageAndSwap(displaced: Seq[(String, Long)], action: String,
                           stagingPrefix: String,
                           meta: Map[String, String] = Map.empty)(
      stage: Path => Unit): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val (guarded, planV) = guardDisplaced(displaced, action)
    // WRITER-UNIQUE staging (raced in RewriteConflictStressSpec): a shared
    // name let one racer delete another's in-flight staging out from under
    // its write job. A crashed run's temp is reclaimed by vacuumStaging.
    val tmp = new Path(root,
      s"$stagingPrefix${java.util.UUID.randomUUID().toString}")
    val marker = writeInflightMarker(fs, tmp.getName, displaced.map(_._1))
    try {
    // any failure before the first archive leaves the live table untouched:
    // drop the staged output and rethrow
    try {
      // the staging read touches ONLY the planned inputs, so a missing
      // table file here (plan-time PATH_NOT_FOUND or task-time FAILED_READ)
      // means a concurrent rewrite took them
      try stage(tmp)
      catch { case e: Throwable if stagingSwapRace(e, displaced) =>
        throw new TsTable.ConcurrentRewriteException(
          s"$action: a planned input vanished during the staging rewrite " +
            "(concurrent rewrite); staged output dropped, live table " +
            "untouched — retry the verb on a fresh handle", e)
      }
      TsTable.rewriteRaceHook("staged", action)
      requireDisplacedLive(fs, displaced, action)
      TsTable.rewriteRaceHook("archiving", action)
    } catch { case e: Throwable => fs.delete(tmp, true); throw e }
    // A file vanishing mid-archive is a rewrite that won the sub-gate
    // window: re-live ONLY what this verb itself archived (the vanished
    // file was archived by the winner — re-living it would resurrect rows
    // the winner rewrote away into its manifest), drop the staging,
    // conflict.
    val archivedHere = Seq.newBuilder[(String, Long)]
    try displaced.foreach { case d @ (rel, _) =>
      archiveFile(fs, rel); archivedHere += d
    }
    catch { case _: java.io.FileNotFoundException =>
      rollbackSwap(fs, archivedHere.result(), Seq.empty)
      fs.delete(tmp, true)
      throw new TsTable.ConcurrentRewriteException(
        s"$action: a planned input vanished while archiving (concurrent " +
          "rewrite); swap rolled back, staged output dropped — retry the " +
          "verb on a fresh handle")
    }
    val movedIn = Seq.newBuilder[String]
    val datedTmp = new Path(tmp, "dated")
    if (fs.exists(datedTmp)) {
      fs.listStatus(datedTmp).filter(_.isDirectory).foreach { d =>
        val liveDir = new Path(root, d.getPath.getName)
        fs.mkdirs(liveDir)
        dataFiles(fs.listStatus(d.getPath)).foreach { st =>
          val f = st.getPath
          fs.rename(f, new Path(liveDir, f.getName))
          movedIn += s"${d.getPath.getName}/${f.getName}"
        }
      }
    }
    val looseTmp = new Path(tmp, "loose")
    if (fs.exists(looseTmp))
      dataFiles(fs.listStatus(looseTmp)).foreach { st =>
        val f = st.getPath
        fs.rename(f, new Path(root, f.getName))
        movedIn += f.getName
      }
    fs.delete(tmp, true)
    TsTable.rewriteRaceHook("swapped", action)
    try commitVersion(action, meta = meta, displaced = guarded,
      displacedPlanVersion = planV)
    catch { case e: TsTable.ConcurrentRewriteException =>
      rollbackSwap(fs, displaced, movedIn.result())
      // the rollback's re-lived inputs are absent from the winner's
      // manifest; a healing checkpoint re-lists the live truth so the
      // verb's RETRY re-plans cleanly instead of tripping the
      // unmanifested-input refusal
      commitVersion("checkpoint")
      throw e
    }
    } finally clearInflightMarker(fs, marker)
  }

  /** Compact every day partition holding more than `targetFiles` data
    * files; returns the dates rewritten. Driver-side listing picks the
    * candidates (O(#partitions) metadata); ALL selected days rewrite in
    * one batched job + one version commit ([[compactDays]]). */
  def compactAll(targetFiles: Int = 1,
                 clusterBy: Seq[String] = Seq.empty): Seq[String] =
    compactDays(partitionDates, targetFiles, clusterBy)

  /** Register the table under `name` for `spark.sql` access. The view keeps
    * the `p_date` partition column so SQL range queries can write the same
    * pruning predicate `readRange` emits:
    * {{{ SELECT ... WHERE p_date BETWEEN to_date(:a) AND to_date(:b)
    *     AND ts BETWEEN :a AND :b }}}
    * (partition pruning fires on the p_date conjunct exactly as in the
    * DataFrame path — asserted in SqlSurfaceSpec). */
  def registerView(name: String): Unit = raw.createOrReplaceTempView(name)

  // ───────────────────────── snapshots / time travel ──────────────────────

  /** Latest committed snapshot version, None for pre-snapshot tables (the
    * layer is opt-in by construction: versions start accruing with the
    * first mutation made through this code). */
  def currentVersion: Option[Long] = {
    val vs = TsTable.listVersions(spark, path)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** The newest version and its manifest, resilient to an expireSnapshots
    * racing the two-step resolve: GC only ever deletes SUPERSEDED
    * manifests, so losing the read to FileNotFound means a newer version
    * exists — re-list and re-read until the pair is consistent. None for
    * pre-snapshot tables. Every "serve/judge against the CURRENT state"
    * path resolves through here; version-PINNED reads (openAt, history
    * walks) stay loud on an expired version by design. */
  private[ts] def currentManifest: Option[(Long, TsManifest)] = {
    // Bounded (r20 advice): on a healthy store one or two re-lists settle
    // the race; a deleted manifest that KEEPS appearing in listings
    // (list-after-delete eventual consistency) must fail loudly rather
    // than spin a reader forever. Matches TsRollup's MaxAttempts pattern.
    val MaxAttempts = 64
    var last: java.io.FileNotFoundException = null
    var attempt = 0
    while (attempt < MaxAttempts) {
      currentVersion match {
        case None => return None
        case Some(v) =>
          try return Some(v -> TsTable.readManifest(spark, path, v))
          catch { case e: java.io.FileNotFoundException => last = e } // GC raced
      }
      attempt += 1
      // Growing backoff (r21 advice): without it all 64 re-lists burn in
      // milliseconds, so a consistency window longer than that threw where
      // the old unbounded loop recovered. First retries stay immediate (a
      // healthy store settles the race in one or two re-lists); later ones
      // stretch the 64 attempts across ~20 s of wall clock.
      if (attempt >= 3) Thread.sleep(math.min(10L * (attempt - 2), 500L))
    }
    throw new IllegalStateException(
      s"currentManifest: newest listed manifest stayed unreadable across " +
        s"$MaxAttempts re-lists — the store's listing appears inconsistent " +
        "with its reads (list-after-delete eventual consistency?)", last)
  }

  /** Whether `version`'s manifest is still retained (not yet expired) —
    * one metadata existence check, O(1). The cheap guard an incremental
    * consumer uses before `changesBetween`/`openAt`. */
  def hasVersion(version: Long): Boolean = {
    val p = new Path(path, TsTable.manifestName(version))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Committed (version, action) pairs, ascending — the table's mutation
    * history (create / append / compact / retention). */
  def snapshotVersions: Seq[(Long, String)] =
    TsTable.listVersions(spark, path).sorted
      .map(v => v -> TsTable.readManifest(spark, path, v).action)

  /** Pin a committed version: an immutable reader over exactly the data
    * files that version's manifest recorded, wherever they now live (still
    * in the live tree, or moved to the archive by a later compact/
    * retention). This is what lifts the "run maintenance in a window"
    * restriction: a reader holding `openAt(v)` survives any number of
    * subsequent compactions and retention drops, because mutation verbs
    * ARCHIVE replaced files instead of deleting them (until
    * `expireSnapshots` reclaims them) and the handle re-resolves file
    * locations on every frame construction. A DataFrame already built
    * from the handle captures one resolution — a maintenance pass moving
    * its files mid-read surfaces as a read error whose recovery is to
    * rebuild the frame (the bytes still exist). */
  def openAt(version: Long): TsSnapshot =
    TsTable.openAt(spark, path, version)

  /** SQL face of time travel: register a PINNED version under `name`
    * (keeps `p_date`, like `registerView`). The view captures the file
    * resolution AT REGISTRATION — a later compact/retention moves files
    * under it, so re-register (same one-liner) after running maintenance;
    * until `expireSnapshots` the version's bytes always exist to
    * re-resolve against. */
  def registerViewAt(name: String, version: Long): Unit =
    openAt(version).raw.createOrReplaceTempView(name)

  /** One-row table summary (the Delta `DESCRIBE DETAIL` analogue) — the
    * at-a-glance state an operator reads before reaching for
    * maintenance: live layout (partitions / files / bytes — a high
    * files-per-partition ratio argues `compact`), snapshot state
    * (version count and archive footprint — growth argues
    * `expireSnapshots`), and the declared write-side contracts
    * (stats/bloom index columns, CHECK constraints, drop tombstones).
    * METADATA ONLY: directory listings plus one version listing, no data
    * read, no manifest bodies — O(#partitions + #archived files) driver
    * work at any table size. */
  def detail: DataFrame = {
    import spark.implicits._
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = listLiveFiles(fs)
    val vs = TsTable.listVersions(spark, path)
    val archRoot = new Path(path, TsTable.ArchiveDir)
    var archN = 0L
    var archB = 0L
    if (fs.exists(archRoot)) {
      val it = fs.listFiles(archRoot, true)
      while (it.hasNext) { val f = it.next(); archN += 1; archB += f.getLen }
    }
    Seq((path, tsCol, schema.fieldNames.length,
      partitionDates.length.toLong, files.length.toLong, files.map(_._2).sum,
      vs.length.toLong, if (vs.isEmpty) 0L else vs.max,
      archN, archB,
      writeOptions.statsCols.mkString(","),
      writeOptions.bloomCols.mkString(","),
      checks.map(_._1).mkString(","),
      dropped.mkString(",")))
      .toDF("path", "ts_col", "n_columns", "n_partitions", "n_files",
        "n_bytes", "n_versions", "current_version", "n_archived_files",
        "n_archived_bytes", "stats_cols", "bloom_cols", "checks", "dropped")
  }

  /** Mutation history as a DataFrame — one row per committed version:
    * (version, action, n_files, n_bytes), straight from the manifests
    * (O(#versions) sidecar reads, no data access). The table-format
    * observability face next to `partitionStats`: which verb produced
    * each state, and how the file count/byte footprint moved — the
    * report that justifies a `compact` (file count creeping up per
    * append) or an `expireSnapshots` (archive growth). */
  def history: DataFrame = {
    import spark.implicits._
    TsTable.listVersions(spark, path).sorted.map { v =>
      val m = TsTable.readManifest(spark, path, v)
      (v, m.action, m.files.length.toLong, m.files.map(_._2).sum)
    }.toDF("version", "action", "n_files", "n_bytes")
  }

  /** Closed-interval range read against a pinned version — `readRange`
    * with time travel. */
  def readRange(start: Timestamp, end: Timestamp, asOf: Long): DataFrame =
    openAt(asOf).readRange(start, end)

  /** Incremental read — the CDF "what arrived since the last run" verb:
    * rows ADDED between `fromVersion` (exclusive) and `toVersion`
    * (inclusive), as a metadata-derived file-set diff. Appends (facade or
    * V2 connector) are file-additive, so the rows added by each `append`/
    * `overwrite` version in the range are exactly its manifest's files not
    * present in the previous manifest; those files are then read wherever
    * they now live (a later compact may have archived them — resolution
    * goes through the snapshot machinery). Versions produced by `compact`,
    * retention, `deleteWhere`, and `restore` contribute NO rows: they
    * rewrite or remove existing data, never add it (so an incremental
    * consumer sees no false adds across maintenance — asserted in
    * SnapshotSpec). Removals are not surfaced here — diff `history` /
    * `snapshotVersions` actions ("retention"/"delete"/"restore" in the
    * range signal them) or anti-join pinned reads when row-level removal
    * tracking matters. An `overwrite` is a rebase: its full new content
    * counts as added, and the prior content's disappearance is signalled
    * by the action, not by rows.
    *
    * Cost: O(#versions in range) manifest reads + one distributed scan of
    * ONLY the added files — never the whole table (the q_corpus_diff
    * md5-anti-join pays two full scans for the same answer when no
    * version history exists). Serves each row under `toVersion`'s schema
    * (older files null-fill evolved columns, the appendEvolved rule). */
  def changesBetween(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"changesBetween: need fromVersion < toVersion, got $fromVersion >= $toVersion")
    val manifests = (fromVersion to toVersion)
      .map(v => v -> TsTable.readManifest(spark, path, v)).toMap
    val added = ((fromVersion + 1) to toVersion).flatMap { v =>
      val m = manifests(v)
      if (m.action != "append" && m.action != "overwrite" &&
          m.action != "create" && m.action != "backfill")
        Seq.empty // maintenance/rewrite verbs contribute no rows
      else {
        val prev = manifests(v - 1).files.map(_._1).toSet
        m.files.filterNot(f => prev.contains(f._1))
      }
    }.distinct
    val serving = manifests(toVersion)
    if (added.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], serving.schema)
    else
      new TsSnapshot(spark, path, serving.tsCol,
        TsManifest(toVersion, "changes", serving.tsCol, serving.schema, added))
        .toDF
  }

  /** Row-level change feed — the full-CDF sibling of [[changesBetween]]
    * (which serves only ADDS, metadata-only): every row-level change
    * between `fromVersion` (exclusive) and `toVersion` (inclusive), as
    * the table's columns under `toVersion`'s schema plus `_change_type`
    * (`"insert"` | `"delete"`) and `_commit_version`. This is the
    * RECONSTRUCTED change feed (the Iceberg-changelog approach, vs
    * Delta CDF's write-time `_change_data` files): no bytes are written
    * at commit time; the feed is derived on demand by diffing each
    * version's file set against its predecessor's — possible here
    * because copy-on-write ARCHIVES the originals it displaces, so both
    * sides of every rewrite remain readable until `expireSnapshots`.
    *
    * Per version in the range:
    *   - `create`/`append`/`backfill` are file-additive: the added
    *     files' rows emit as `insert` — no diff job, same cost as
    *     [[changesBetween]].
    *   - `delete`/`update`/`merge`/`overwrite`/`retention`/`restore`
    *     (and any unrecognized verb, conservatively) row-diff: rows in
    *     the displaced files but not the replacement files emit as
    *     `delete`, the reverse as `insert` (multiset `EXCEPT ALL`, so
    *     rewritten-but-unchanged survivor rows cancel exactly). An
    *     UPDATE therefore surfaces as a delete/insert PAIR at one
    *     `_commit_version` — pre-image and post-image; a MERGE's mixed
    *     rewrite+insert files resolve correctly row-wise (the file-set
    *     diff in `changesBetween` cannot isolate a merge's adds — this
    *     can, which is why incremental consumers that must survive
    *     merges resync through the change feed).
    *   - `compact`/`evolve`/`constraint`/`clone` are content-preserving
    *     by construction and emit nothing without reading anything.
    *
    * Cost: O(bytes of files TOUCHED by changes in the range) — each
    * rewrite version pays one scan of its displaced + replacement files
    * and a hash shuffle for the multiset diff; append versions pay one
    * scan of the added files; the table itself is never fully read.
    * Columns must be comparable for `EXCEPT ALL` (no MapType — true of
    * every graft-ts-writable schema). Rows read under each version's own
    * schema and align to `toVersion`'s by name (missing evolved columns
    * null-fill — the appendEvolved rule). */
  def changeFeed(fromVersion: Long, toVersion: Long): DataFrame = {
    require(fromVersion < toVersion,
      s"changeFeed: need fromVersion < toVersion, got $fromVersion >= $toVersion")
    val manifests = (fromVersion to toVersion)
      .map(v => v -> TsTable.readManifest(spark, path, v)).toMap
    val serving = manifests(toVersion)
    // one live/archive listing per referenced directory for the WHOLE walk
    // (the feed builds 2 snapshot indexes per rewrite version; un-shared,
    // resolution re-listed every dir per index — O(versions × dirs) RPCs
    // of pure plan-time overhead, the r20 q_ts_cdf regression's cost)
    val feedDirCache = Some(scala.collection.mutable.Map
      .empty[String, Map[String, Long]])
    val outSchema = serving.schema
      .add("_change_type", org.apache.spark.sql.types.StringType, nullable = false)
      .add("_commit_version", org.apache.spark.sql.types.LongType, nullable = false)
    def align(df: DataFrame): DataFrame =
      df.select(serving.schema.fields.map { f =>
        if (df.columns.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }.toSeq: _*)
    def subsetDF(m: TsManifest, files: Seq[(String, Long)]): DataFrame =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], serving.schema)
      else {
        // a renameColumn between m and toVersion changes the LABEL only:
        // field ids align m's schema to the serving names, so the align()
        // null-fill stays reserved for genuinely-absent (evolved) columns
        val readSchema = TsTable.alignNamesByIds(m.schema, serving.schema)
        align(new TsSnapshot(spark, path, m.tsCol,
          TsManifest(m.version, "cdf", m.tsCol, readSchema, files),
          feedDirCache).toDF)
      }
    val parts = ((fromVersion + 1) to toVersion).flatMap { v =>
      val m = manifests(v)
      val prev = manifests(v - 1)
      val prevSet = prev.files.map(_._1).toSet
      val curSet = m.files.map(_._1).toSet
      val added = m.files.filterNot(f => prevSet.contains(f._1))
      val removed = prev.files.filterNot(f => curSet.contains(f._1))
      m.action match {
        case "create" | "append" | "backfill" =>
          if (added.isEmpty) Seq.empty
          else Seq(subsetDF(m, added)
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_version", lit(v)))
        // "migrate" deliberately takes the file-diff branch below, NOT
        // this one: a migrate that folds an attached foreign file into
        // the governed store genuinely ADDS rows relative to the previous
        // manifest (the attachment bypassed every write funnel), and the
        // exceptAll reconstruction emits exactly those as inserts — while
        // a purely content-preserving migrate (legacy upgrade) cancels to
        // nothing, at O(touched bytes) like any rewrite verb.
        case "compact" | "evolve" | "constraint" | "clone" | "rename" |
             "indexing" | "widen" =>
          Seq.empty // content-preserving: same rows before and after
        case _ => // delete/update/merge/overwrite/retention/restore/unknown
          if (added.isEmpty && removed.isEmpty) Seq.empty
          else {
            val pre = subsetDF(prev, removed)
            val post = subsetDF(m, added)
            Seq(
              pre.exceptAll(post)
                .withColumn("_change_type", lit("delete"))
                .withColumn("_commit_version", lit(v)),
              post.exceptAll(pre)
                .withColumn("_change_type", lit("insert"))
                .withColumn("_commit_version", lit(v)))
          }
      }
    }
    parts.reduceOption(_.unionByName(_)).getOrElse(
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema))
  }

  /** Roll the LIVE table back to a committed version (the Delta `RESTORE`
    * analogue — mistake recovery: a bad batch landed, an overwrite was
    * wrong, retention dropped too much). Mechanics: every current live
    * data file not in the target manifest is ARCHIVED (so the pre-restore
    * state itself stays pinnable), every target file not currently live
    * is COPIED back from the archive (copied, not moved — other manifests
    * may reference the same archived bytes), and the stored schema
    * descriptor reverts to the version's own (schema evolution rolls back
    * with the data). Commits a new "restore" version — history moves
    * FORWARD to an old state, it is never rewritten. Cost: O(bytes copied
    * back from archive) — only files a later compact/retention/overwrite
    * displaced; a restore to the current state copies nothing. The copy
    * itself is DISTRIBUTED (one Spark task per displaced file, each
    * streaming archive→live through its executor's filesystem client), so
    * restoring a version displaced by a large compaction moves bytes at
    * cluster write bandwidth — never through the driver JVM, never
    * sequentially; the driver handles only the O(#files) metadata
    * (resolution, retirement renames, the manifest commit). The append
    * monotonicity guard re-anchors on the restored maxDt naturally.
    * Returns the new version number. */
  def restore(version: Long): Long = live.restoreLive(version)

  private def restoreLive(version: Long): Long = {
    val snap = openAt(version)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val target = snap.manifestFiles.map(_._1).toSet
    // resolve BEFORE mutating the live tree (validates sizes too)
    val resolved = snap.resolvedFiles
    // 1. retire live files the target state does not contain. The retired
    // set is the restore's DISPLACED set for the commit conflict gate:
    // restore races rewrite verbs like any of them, but has no physical
    // rollback — it is CONVERGENT instead (re-running restore(v) enforces
    // the target state, deliberately overriding the racing writer: that
    // is the verb's declared semantic, and the user's call to make).
    val retired = listLiveFiles(fs).filterNot { case (p, _) => target.contains(p) }
    val (guarded, planV) = guardDisplaced(retired, "restore")
    // in-flight marker: a concurrent expireSnapshots must reclaim NEITHER
    // the archived sources the copy-back is about to read NOR the retirees
    // just archived (a failed restore's manual recovery path) — restore
    // has no staging dir, so the marker's name is its only handle
    val marker = writeInflightMarker(fs,
      s"_restore_${java.util.UUID.randomUUID().toString}",
      (snap.manifestFiles.map(_._1) ++ retired.map(_._1)).distinct)
    try {
    TsTable.rewriteRaceHook("staged", "restore")
    // a file vanishing while retiring is a rewrite winning the window —
    // classify it as the retryable conflict (restore converges on re-run)
    // instead of escaping as a raw filesystem error
    try retired.foreach { case (p, _) => archiveFile(fs, p) }
    catch { case _: java.io.FileNotFoundException =>
      throw new TsTable.ConcurrentRewriteException(
        s"restore: a live file vanished while retiring (concurrent " +
          s"rewrite); re-run restore($version) to converge on the target " +
          "state, or inspect the racing writer's version first")
    }
    // 2. copy displaced target files back from the archive, one task per
    // file (see scaladoc cost model): the displaced list after a big
    // compaction can approach the whole table.
    val displaced = resolved.filterNot(_._4).map { case (_, archived, _, _) =>
      val rel = archived.toString.stripPrefix(
        new Path(root, TsTable.ArchiveDir).toString).stripPrefix("/")
      (archived.toString, new Path(path, rel).toString)
    }
    TsTable.copyFiles(spark, displaced)
    TsTable.rewriteRaceHook("swapped", "restore")
    // 3. the version's own schema becomes the stored descriptor again
    // (descriptorAt), and the version commits through the handle carrying
    // it — committing on `this` would harvest the restore version's spans
    // and Bloom bits under the pre-restore narrowing, leaving a
    // resurrected column declared in the descriptor but index-blind until
    // the commit after next. This handle keeps serving its constructed
    // projection (the appendEvolved rule).
    TsTable.install(spark, path, descriptorAt(snap), None)
      .commitVersion("restore", displaced = guarded,
        displacedPlanVersion = planV)
    } finally clearInflightMarker(fs, marker)
  }

  /** The descriptor a restore or clone to `snap` installs: the version's
    * own schema and ts column, this handle's CHECKs, and
    *   - the index membership [[optionsForRestoredSchema]] derives;
    *   - the tombstones of names still absent: a restore/clone to a
    *     pre-drop state carries the column again, and the files' bytes are
    *     authoritative for it;
    *   - the field-id high-water, which NEVER rolls back — a later re-add
    *     must not recycle an id the displaced-era files still carry. */
  private def descriptorAt(snap: TsSnapshot): TsDescriptor =
    TsDescriptor(snap.schema, snap.tsCol, optionsForRestoredSchema(snap),
      checks,
      dropped.filterNot(d => snap.schema.fieldNames.exists(_.equalsIgnoreCase(d))),
      if (!TsTable.hasFieldIds(snap.schema)) 0L
      else math.max(effectiveNextFieldId,
        snap.schema.fields.map(TsTable.fieldId).max + 1))

  /** Write options consistent with a restore/clone to `snap`'s schema.
    * `dropColumns` narrows statsCols/bloomCols when a column leaves; a
    * restore to a pre-drop version brings the column back, so its former
    * index membership must come back too — re-derived from the target
    * version's OWN artifacts (a manifest colStats entry ⇒ it was a stats
    * column there; a Bloom-sidecar entry ⇒ a bloom column), the only
    * record that survives the descriptor rewrite. Conservative on both
    * edges: an expired sidecar just means the membership stays narrowed
    * (skipping is an optimization, never correctness), and columns the
    * target schema lacks (added after the target version) are filtered
    * out so the descriptor never declares an index on a column the
    * restored schema cannot serve. */
  private def optionsForRestoredSchema(snap: TsSnapshot): TsWriteOptions = {
    val inSchema: String => Boolean =
      c => snap.schema.fieldNames.exists(_.equalsIgnoreCase(c))
    val resurrected = dropped.filter(inSchema)
    val base = writeOptions.copy(
      statsCols = writeOptions.statsCols.filter(inSchema),
      bloomCols = writeOptions.bloomCols.filter(inSchema))
    if (resurrected.isEmpty) return base
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val statColsAt = snap.manifestColStats.valuesIterator
      .flatMap(_.keysIterator).toSet
    val bloomColsAt = TsTable.readBloomSidecar(fs, path, snap.version)
      .valuesIterator.flatMap(_.keysIterator).toSet
    base.copy(
      statsCols = base.statsCols ++ resurrected.filter(c =>
        statColsAt.contains(c) &&
          !base.statsCols.exists(_.equalsIgnoreCase(c))),
      bloomCols = base.bloomCols ++ resurrected.filter(c =>
        bloomColsAt.contains(c) &&
          !base.bloomCols.exists(_.equalsIgnoreCase(c))))
  }

  /** Materialize a committed version as an INDEPENDENT new table at
    * `destPath` (the Delta deep-CLONE analogue — the sandbox verb:
    * reproduce-a-training-run, test-against-prod-data, fork-then-mutate
    * without touching the source). The version's resolved files (live or
    * archived) copy to the destination's live tree under their
    * table-relative paths via the same one-task-per-file distributed copy
    * `restore` uses — bytes move at cluster bandwidth, never through the
    * driver. The clone gets the version's own schema descriptor and a
    * fresh v1 "clone" commit; nothing links it back, so source expiry/
    * mutation cannot invalidate it (that independence is what
    * distinguishes this from `openAt`, which is a zero-copy pin).
    * Deliberately DEEP-only: a shallow (metadata-only) clone would hold
    * cross-table file references, and the source's `expireSnapshots`
    * would then delete archived bytes another table still serves — the
    * zero-copy read of a version is `openAt`/`option("asOf")`, which
    * stays inside the one-table expiry invariant. Refuses a non-empty
    * destination. Returns the new table's handle. */
  def cloneAt(version: Long, destPath: String): TsTable =
    live.cloneAtLive(version, destPath)

  private def cloneAtLive(version: Long, destPath: String): TsTable = {
    val snap = openAt(version)
    val destRoot = new Path(destPath)
    val fs = destRoot.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(!fs.exists(destRoot) || fs.listStatus(destRoot).isEmpty,
      s"cloneAt: destination '$destPath' exists and is not empty — " +
        "refusing to mix a clone into foreign files")
    fs.mkdirs(destRoot)
    val srcRoot = new Path(path)
    // resolvedFiles builds its paths from the unqualified table root, so a
    // prefix strip (archive first — it nests under the root) is exact
    val archPrefix = new Path(srcRoot, TsTable.ArchiveDir).toString + "/"
    val livePrefix = srcRoot.toString + "/"
    val pairs = snap.resolvedFiles.map { case (_, resolved, _, _) =>
      val s = resolved.toString
      val rel = if (s.startsWith(archPrefix)) s.stripPrefix(archPrefix)
        else s.stripPrefix(livePrefix)
      (s, new Path(destPath, rel).toString)
    }
    TsTable.copyFiles(spark, pairs)
    TsTable.install(spark, destPath, descriptorAt(snap), Some("clone"))
  }

  /** Commit the CURRENT live layout as a new version without moving any
    * data — the explicit manifest CHECKPOINT: captures files no manifest
    * lists yet (a crashed commit's orphans; freshly attached loose files)
    * into the governed history, which re-arms the span/Bloom skip indexes
    * and the rewrite conflict gate for them (guardDisplaced refuses to
    * rewrite an unmanifested dated file until some commit captures it —
    * this is that commit when no other mutation is pending).
    * O(#partitions) listing + O(new files) footer metadata. */
  def checkpoint(): Long = commitVersion("checkpoint")

  /** Reclaim history: keep the newest `keepLast` manifests, delete older
    * ones, and delete every ARCHIVED file no retained manifest references
    * (live-tree files are never touched — they belong to the current
    * state). The Iceberg `expire_snapshots` analogue, and the cost bound
    * that keeps time travel honest at 100 TB: without expiry the archive
    * grows by one day-rewrite per compaction forever. O(#manifests +
    * #archived files) driver metadata work, no data reads. Returns the
    * expired version numbers. Conflict-safe against live rewrites: files
    * named by an in-flight marker ([[TsTable.InflightDir]]) are never
    * reclaimed, so a racing verb's rollback always finds its archived
    * inputs. */
  def expireSnapshots(keepLast: Int = 1): Seq[Long] = {
    require(keepLast >= 1, "keepLast must be >= 1")
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val all = TsTable.listVersions(spark, path).sorted
    val (expired, kept) = all.splitAt((all.length - keepLast).max(0))
    if (expired.isEmpty) return Seq.empty
    // kept-manifest references PLUS every file an in-flight rewrite may
    // still need to re-live on a conflict rollback: a loser's displaced
    // files can be absent from every kept manifest (the winner's listing
    // ran while they were archived), and reclaiming them inside the
    // rollback window silently loses their rows — the marker makes GC a
    // participant in the rewrite conflict protocol instead of a bypass.
    val referenced = kept
      .flatMap(v => TsTable.readManifest(spark, path, v).files.map(_._1)).toSet ++
      inflightProtectedRels(fs)
    val archRoot = new Path(path, TsTable.ArchiveDir)
    if (fs.exists(archRoot)) {
      // Two-phase delete closes the marker-scan race (r20 advice): FIRST
      // list every delete candidate, THEN re-read the in-flight markers,
      // then delete. A rewrite installs its marker BEFORE it archives
      // anything ([[stageAndSwap]]), so a file archived after the
      // candidate listing was never a candidate this pass, and a
      // candidate whose marker landed after the first scan is caught by
      // the re-read — the orderings compose to leave no window in which a
      // racing loser's archived input can be reclaimed.
      val candidates = Seq.newBuilder[(String, Path)]
      // one listing per archived partition dir — metadata-scale
      val dirs = fs.listStatus(archRoot).filter(_.isDirectory)
      dirs.foreach { d =>
        fs.listStatus(d.getPath).filter(_.isFile).foreach { f =>
          val rel = s"${d.getPath.getName}/${f.getPath.getName}"
          if (!referenced.contains(rel)) candidates += rel -> f.getPath
        }
      }
      // loose ROOT-LEVEL archived files too (their manifest key is the bare
      // name): the overwrite purge and restore of unpartitioned/hybrid
      // layouts archive files directly under _ts_archive/ — skipping them
      // here would grow that portion of the archive unboundedly
      fs.listStatus(archRoot).filter(_.isFile).foreach { f =>
        if (!referenced.contains(f.getPath.getName))
          candidates += f.getPath.getName -> f.getPath
      }
      val cands = candidates.result()
      val lateProtected =
        if (cands.nonEmpty) inflightProtectedRels(fs) else Set.empty[String]
      cands.foreach { case (rel, p) =>
        if (!lateProtected.contains(rel)) fs.delete(p, false)
      }
      dirs.foreach { d =>
        if (fs.exists(d.getPath) && fs.listStatus(d.getPath).isEmpty)
          fs.delete(d.getPath, false)
      }
    }
    expired.foreach { v =>
      fs.delete(new Path(path, TsTable.manifestName(v)), false)
      fs.delete(new Path(path, TsTable.bloomsName(v)), false) // sidecar too
    }
    expired
  }

  /** Commit the CURRENT live file layout as the next snapshot version:
    * relative path + size of every data file, plus the serving schema (so
    * `openAt` after an `appendEvolved` serves each version's own
    * projection). Temp-file + rename per the descriptor discipline; the
    * rename doubles as optimistic concurrency control — two writers racing
    * to the same version number cannot both install it. Data files first,
    * manifest second: a crash in between loses only the version record,
    * never data, and the next mutation's commit captures the orphaned
    * files. Cost: one listing per day partition — the same O(#partitions)
    * metadata walk `partitionStats` does, never O(rows). */
  private[graft] def commitVersion(action: String,
                                   meta: Map[String, String] = Map.empty,
                                   displaced: Seq[(String, Long)] = Seq.empty,
                                   displacedPlanVersion: Option[Long] = None): Long = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // CAS-retry loop: losing the rename race means another writer took the
    // version number — re-list (the listing then includes BOTH writers'
    // files: each manifest is a consistent point-in-time state) and take
    // the next number. Without the retry, a write whose data files
    // already landed would report FAILURE for a metadata race, leaving a
    // torn visible-but-"failed" batch a retry would double-append.
    var next = 0L
    var lastBase = -1L // newest version observed on the previous attempt
    var stuck = 0
    var committed = false
    // version → action for the additive-exemption walk, kept ACROSS CAS
    // retries: a committed manifest is immutable (temp + rename install),
    // so classification never changes — without the cache every retry
    // re-reads one manifest per interleaved commit, O(interleaved) reads
    // per attempt under exactly the high-frequency append-sink load the
    // exemption exists to keep rewrites alive in.
    val interleavedActions = scala.collection.mutable.Map.empty[Long, String]
    while (!committed) {
      val files = listLiveFiles(fs)
      // resolve (version, manifest) atomically vs a racing expireSnapshots
      // (GC can delete the observed newest manifest only after a NEWER
      // commit superseded it — currentManifest re-lists on that race)
      val cur = currentManifest
      val prevV = cur.map(_._1)
      next = prevV.getOrElse(0L) + 1
      val prevM = cur.map(_._2)
      // SEMANTIC conflict gate (rewrite verbs only — `displaced` is empty
      // for append/DDL commits), judged atomically with the commit: the
      // CAS rename serializes commits, so a lost race retries this loop,
      // re-reads the WINNER's manifest, and the gate re-judges against
      // it. Commits interleaved since the rewrite's PLAN version are
      // classified by ACTION first: file-ADDITIVE commits (appends, DDL
      // re-lists) never remove files, so the displaced files' absence
      // from their listings is explained by OUR OWN in-flight swap — no
      // conflict, and rewrites cannot starve under a high-frequency
      // append sink. Any interleaved REWRITE-family commit (or an unknown
      // action, conservatively — and always when the caller supplied no
      // plan version) falls back to the membership test: every displaced
      // file must still be listed (path + length, the carry-forward
      // identity) by the manifest this commit replaces. A miss means the
      // interleaved rewrite took our planned inputs — the Delta
      // ConcurrentDeleteRead class: committing anyway would resurrect
      // rows the winner rewrote away, or bury its rewrite under our
      // replacement files. Callers exempt files no manifest had captured
      // at plan time (freshly-attached loose files — nothing to
      // membership-test; unmanifested DATED inputs were refused at plan
      // time by guardDisplaced); a pre-snapshot table (no manifest at
      // all) skips the gate entirely.
      if (displaced.nonEmpty) prevM.foreach { pm =>
        val additiveOnly = displacedPlanVersion.exists { pv =>
          // The exemption is only sound when the interleaved walk is
          // COMPLETE: a manifest missing from (pv, pm.version] (an
          // expireSnapshots racing this long rewrite reclaimed it) could
          // be the very rewrite-family commit the walk exists to catch,
          // so the range is walked GAPLESSLY — every version's manifest
          // must be present and readable, or the exemption is refused
          // and the conservative membership test below judges instead.
          ((pv + 1) to pm.version).forall { v =>
            interleavedActions.get(v).orElse {
              val a =
                try Some(TsTable.readManifest(spark, path, v).action)
                catch { case _: Exception => None }
              a.foreach(interleavedActions.update(v, _))
              a
            }.exists(TsTable.AdditiveActions.contains)
          }
        }
        if (!additiveOnly) {
          val prevFiles = pm.files.toMap
          val lost = displaced.filterNot { case (p, l) =>
            prevFiles.get(p).contains(l) }
          if (lost.nonEmpty)
            throw new TsTable.ConcurrentRewriteException(
              s"$action: concurrent rewrite conflict — version ${pm.version} " +
                s"no longer lists ${lost.size} of this rewrite's planned " +
                s"input file(s) (first: ${lost.head._1}); another writer " +
                "displaced them after this verb's discovery. Retry the verb " +
                "on a fresh handle to re-plan against the winner's state.")
        }
      }
      // Per-file ts spans: carry forward unchanged files' spans from the
      // previous manifest (path + length match — UUID part names make a
      // same-name-different-bytes collision a corruption signal, not a
      // case to survive), then footer-read only the files this commit
      // actually added/rewrote. O(new files) footer metadata, zero data
      // pages — the skip index stays cheap even at a 100 TB table size.
      val declaredBlooms = liveBloomCols.toSet
      val (carried, carriedCols, carriedBlooms) = prevM.map { pm =>
        val prevLen = pm.files.toMap
        val nowLen = files.toMap
        def same(p: String) = nowLen.get(p).exists(l => prevLen.get(p).contains(l))
        // bloom carry is filtered PER COLUMN to the currently-declared set,
        // not just per file: bits are type-sensitive (int and long hash
        // differently), so a widen commit that undeclared the column must
        // not smuggle its stale narrow-type bits forward inside a map kept
        // alive by the table's OTHER bloom columns — the follow-up indexing
        // commit's subset coverage test would then skip the re-harvest and
        // probes would wrongly skip narrow-era files (silent row loss from
        // lookupEq). Dropping undeclared entries also makes any re-declare
        // a genuine re-harvest (the declareIndexing contract).
        val pb =
          if (writeOptions.bloomCols.isEmpty) TsTable.NoBlooms
          else TsTable.readBloomSidecar(fs, path, pm.version)
            .filter { case (p, _) => same(p) }
            .map { case (p, cols) =>
              p -> cols.filter { case (c, _) => declaredBlooms.contains(c) } }
            .filter(_._2.nonEmpty)
        (pm.stats.filter { case (p, _) => same(p) },
          pm.colStats.filter { case (p, _) => same(p) }, pb)
      }.getOrElse((Map.empty[String, (Long, Long)],
        Map.empty[String, Map[String, ColSpan]], TsTable.NoBlooms))
      // carry-forward is PER-COLUMN aware: a file skips re-collection only
      // when its carried entry covers every currently-declared column —
      // so a column newly (re-)declared (restore to a pre-drop version,
      // bloomCols/statsCols widened on reopen) gets harvested for
      // already-live files at this commit instead of staying index-blind
      // behind a file-level carried entry forever
      val declaredStats = writeOptions.statsCols
        .filter(schema.fieldNames.contains).toSet
      val needSpans = files.map(_._1).filterNot(p =>
        carried.contains(p) && declaredStats.subsetOf(
          carriedCols.get(p).map(_.keySet).getOrElse(Set.empty)))
      // Bloom sidecar: carried forward like spans. The files without a
      // covering entry (normally exactly this commit's additions;
      // everything, once, after a crash lost a sidecar — self-healing)
      // take the bits their writer stored in the footer, read by the same
      // footer open as their spans; only files whose footer has no entry
      // matching the current declaration (attached files, older tables,
      // widened or renamed columns, changed bloomBits) harvest in ONE
      // column-pruned scan. Written to a writer-unique temp
      // FIRST and renamed to its final name only after the manifest CAS
      // succeeds — the version number is then exclusively owned. A crash
      // between the two degrades lookups to no-skipping, never to wrong
      // results.
      val needBlooms =
        if (writeOptions.bloomCols.isEmpty) Seq.empty[String]
        else files.map(_._1).filter(_.contains("/"))
          .filterNot(p => carriedBlooms.get(p).exists(cols =>
            declaredBlooms.subsetOf(cols.keySet)))
      val (fresh, freshCols, footerBlooms) = collectFooters(needSpans, needBlooms)
      val blooms =
        if (writeOptions.bloomCols.isEmpty) TsTable.NoBlooms
        else carriedBlooms ++ footerBlooms ++
          harvestBlooms(needBlooms.filterNot(footerBlooms.contains))
      val bloomTmp: Option[Path] =
        if (blooms.isEmpty) None
        else Some(TsTable.writeBloomSidecarTmp(fs, path, next, blooms))
      try {
        TsTable.writeManifest(spark, path,
          TsManifest(next, action, tsCol, schema, files, carried ++ fresh,
            meta, carriedCols ++ freshCols))
        committed = true
        bloomTmp.foreach { t =>
          if (!fs.rename(t, new Path(path, TsTable.bloomsName(next))))
            fs.delete(t, false)
        }
      } catch {
        case e: IllegalArgumentException
            if e.getMessage != null && e.getMessage.contains("concurrent commit") =>
          bloomTmp.foreach(fs.delete(_, false))
          // Losing a race means ANOTHER writer installed our target — the
          // system made progress, so retrying cannot livelock; under
          // sustained contention a writer may lose many races in a row
          // (raced in ManifestRaceSpec: 2 threads × 10 tight-loop commits
          // each, all must land). Give up only when the observed version
          // did NOT advance across attempts — a manifest occupying our
          // target that the listing cannot see is corruption, not a race.
          if (next - 1 == lastBase) {
            stuck += 1
            if (stuck >= 5) throw e
          } else {
            lastBase = next - 1
            stuck = 0
          }
      } finally
        // every exit (installed, lost race, unexpected failure) ends the
        // temp's liveness; an orphan left by a failure becomes ordinary
        // vacuumStaging fodder instead of staying protected forever
        bloomTmp.foreach(t => TsTable.liveCommitTmps.remove(t.getName))
    }
    // Bounded history (the Iceberg previous-versions-max rule): each
    // manifest lists the full live file set, so a streaming appendSink
    // committing one version per microbatch would otherwise grow metadata
    // quadratically and pin every archived file forever. Auto-expire past
    // the ceiling; spark.graft.ts.maxVersions=0 disables (unbounded).
    val keep = graft.Confs.long(spark, "spark.graft.ts.maxVersions",
      TsTable.DefaultMaxVersions)
    if (keep > 0 && next > keep) expireSnapshots(keepLast = keep.toInt)
    next
  }

  /** Reclaim crash leftovers — the janitor every staged-write design
    * needs: a killed rewrite or overwrite leaves `_delete_tmp*` /
    * `_compact_tmp_*` directories, and stray `_tmp-*` files can sit inside
    * day partitions. All are invisible to reads (the underscore rule) but
    * hold real bytes forever. Deletes those older than `olderThanMs`
    * (mtime; default 24 h) and returns the paths removed. A RUNNING
    * rewrite is protected structurally, not by age: its in-flight marker
    * ([[TsTable.InflightDir]]) shields its staging dir at ANY cutoff while
    * the owner lives in this driver, and until the cutoff for foreign
    * drivers; stale crash-orphan markers are reclaimed here too.
    * Metadata-only: one listing pass, no data reads, no version
    * commit (nothing visible changed). */
  def vacuumStaging(olderThanMs: Long = 86400000L): Seq[String] = {
    require(olderThanMs >= 0, "olderThanMs must be >= 0")
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = System.currentTimeMillis() - olderThanMs
    val removed = Seq.newBuilder[String]
    if (!fs.exists(root)) return Seq.empty
    // In-flight markers first: a marker whose rewrite is live in THIS
    // driver (liveMarkers) protects its staging dir STRUCTURALLY — any
    // cutoff, even 0, never yanks a running rewrite's staging. Foreign
    // markers (another driver, or a crash orphan) protect until the age
    // cutoff, then the stale marker itself is reclaimed and its staging
    // dir falls through to the ordinary age test below.
    val inflightDir = new Path(root, TsTable.InflightDir)
    val protectedStaging = scala.collection.mutable.Set.empty[String]
    if (fs.exists(inflightDir))
      fs.listStatus(inflightDir).filter(_.isFile).foreach { st =>
        val n = st.getPath.getName
        val live = TsTable.liveMarkers.contains(n) ||
          TsTable.liveMarkers.contains(n.stripSuffix(".tmp"))
        if (!live && st.getModificationTime < cutoff) {
          fs.delete(st.getPath, false)
          removed += s"${TsTable.InflightDir}/$n"
        } else if (n.endsWith(".marker"))
          protectedStaging += n.stripSuffix(".marker")
      }
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory &&
          (n.startsWith("_delete_tmp") || n.startsWith("_compact_tmp_")) &&
          !protectedStaging.contains(n) &&
          st.getModificationTime < cutoff) {
        fs.delete(st.getPath, true)
        removed += n
      } else if (st.isDirectory && n.startsWith(s"$PartCol=")) {
        fs.listStatus(st.getPath).foreach { f =>
          if (f.isFile && f.getPath.getName.startsWith("_tmp-") &&
              f.getModificationTime < cutoff) {
            fs.delete(f.getPath, false)
            removed += s"$n/${f.getPath.getName}"
          }
        }
      } else if (st.isDirectory && n == TsTable.VersionsDir) {
        // manifest/bloom-sidecar temps orphaned by a lost commit race or a
        // crash between manifest install and the sidecar rename — but
        // NEVER a temp an in-flight commit in this driver still owns
        fs.listStatus(st.getPath).foreach { f =>
          if (f.isFile && f.getPath.getName.endsWith(".tmp") &&
              !TsTable.liveCommitTmps.contains(f.getPath.getName) &&
              f.getModificationTime < cutoff) {
            fs.delete(f.getPath, false)
            removed += s"$n/${f.getPath.getName}"
          }
        }
      }
    }
    removed.result()
  }

  /** Metadata-only: the table currently serves NO data files — the
    * committed manifest lists none AND the live tree holds none (loose
    * root-level attach-surface files included, which a manifest-only
    * check would wrongly ignore). Pre-snapshot tables (no manifest)
    * report false and take the scan path. Cost: one version listing +
    * one manifest read + one live listing — no Spark job. Lets the
    * rewrite verbs skip their discovery scans on fresh tables. */
  private def servesNoFiles: Boolean = servingManifest(_.files.isEmpty).isDefined

  /** The current manifest, when it serves the live table: it lists
    * exactly the live files (path + size) and carries this handle's
    * schema. The one authority check of every read that plans from a
    * manifest instead of a listing ([[readRange]], [[lookupEq]],
    * [[exactSpans]], [[servesNoFiles]]): None on any mismatch (no
    * manifest, orphans from a crashed append, files attached outside the
    * facade, a stale pre-evolution handle, which keeps serving ITS
    * projection through the listing instead of the manifest's wider
    * one). `need` is the caller's own condition on the manifest, tested
    * before the live listing so a manifest that fails it costs none.
    * Cost: one version listing + one manifest read + one live listing —
    * no Spark job. */
  private def servingManifest(need: TsManifest => Boolean = _ => true): Option[TsManifest] =
    currentManifest.map(_._2).filter { m =>
      need(m) && m.schema == schema && {
        val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
        listLiveFiles(fs).toSet == m.files.toSet
      }
    }

  /** Relative path + size of every LIVE data file — loose ROOT-LEVEL files
    * too (the attached plain/hybrid layout the live read serves): a
    * listing that covered only partition dirs would make a pinned read
    * silently narrower than the live state. O(#partitions) metadata. */
  private def listLiveFiles(
      fs: org.apache.hadoop.fs.FileSystem): Seq[(String, Long)] = {
    val root = new Path(path)
    val top = fs.listStatus(root)
    dataFiles(top).map(st => (st.getPath.getName, st.getLen)) ++
      datesIn(top).sorted.flatMap { d =>
        dataFiles(fs.listStatus(new Path(root, s"$PartCol=$d")))
          .map(st => (s"$PartCol=$d/${st.getPath.getName}", st.getLen))
      }
  }

  /** Footer facts, one footer open per file: the ts and stats-column
    * spans of `spanPaths` (closed, epoch µs), and the writer-built Bloom
    * bits of `bloomPaths` — a file's bits count only when its footer holds
    * an entry for EVERY declared Bloom column under the current
    * declaration's key ([[BloomParquetWriteSupport.footerKey]]).
    * Driver-side for a handful of files; one-task-per-file distributed
    * beyond that, so the first commit over a large attached tree reads
    * footers at cluster bandwidth, not through one JVM. Files without
    * usable stats or bits are simply absent from the result (never
    * skipped later; bits fall back to [[harvestBlooms]]). */
  private def collectFooters(spanPaths: Seq[String], bloomPaths: Seq[String])
      : (Map[String, (Long, Long)], Map[String, Map[String, ColSpan]],
        Map[String, Map[String, Array[Byte]]]) = {
    val spanSet = spanPaths.toSet
    val bloomSet = bloomPaths.toSet
    val relPaths = (spanPaths ++ bloomPaths).distinct
      .map(r => (r, spanSet(r), bloomSet(r)))
    if (relPaths.isEmpty) return (Map.empty, Map.empty, TsTable.NoBlooms)
    val rootStr = path
    val tc = tsCol
    val cols = writeOptions.statsCols
    val keys = liveBloomCols.map(c =>
      c -> BloomParquetWriteSupport.footerKey(schema(c), writeOptions.bloomBits)).toMap
    def harvest(conf: org.apache.hadoop.conf.Configuration,
                f: (String, Boolean, Boolean)) = {
      val (r, wantSpans, wantBlooms) = f
      val (ts0, cs, bl) = TsTable.footerSpans(conf, new Path(rootStr, r), tc,
        if (wantSpans) cols else Seq.empty, if (wantBlooms) keys else Map.empty)
      (r, if (wantSpans) ts0 else None, cs,
        if (bl.nonEmpty && bl.size == keys.size) bl else Map.empty[String, Array[Byte]])
    }
    val all = TsTable.perFile(spark, relPaths)(harvest)
    (all.collect { case (r, Some(s0), _, _) => r -> s0 }.toMap,
      all.collect { case (r, Some(_), cs, _) if cs.nonEmpty => r -> cs }.toMap,
      all.collect { case (r, _, _, bl) if bl.nonEmpty => r -> bl }.toMap)
  }

  /** Per-file Bloom membership bits over `writeOptions.bloomCols` for the
    * given table-relative DATED files (the engine-written layout; loose
    * attached root-level files simply never get blooms and are never
    * skipped) whose footers carry no matching writer-built bits (see
    * [[collectFooters]]) — ONE column-pruned distributed scan of ONLY
    * those files, grouped by source file: each file's declared columns hash
    * (xxhash64, seed 42 — the probe-side contract) into a fixed
    * `bloomBits`-bit filter map-side (BloomFilterAggregate is a
    * TypedImperativeAggregate, so partials combine per partition). Cost:
    * O(fallback files) data read and O(#files × cols × bits/8)
    * driver/sidecar bytes. A file whose declared column is all-null gets
    * the empty filter. */
  private[ts] def harvestBlooms(relPaths: Seq[String])
      : Map[String, Map[String, Array[Byte]]] = {
    if (relPaths.isEmpty) return TsTable.NoBlooms
    val cols = liveBloomCols
    if (cols.isEmpty) return TsTable.NoBlooms
    val root = new Path(path)
    val df = spark.read.format(TsTable.Fmt).option("basePath", path)
      .schema(withPartCol(schema))
      .load(relPaths.map(r => new Path(root, r).toString): _*)
    // capacity at bits/items ≈ 10 → ~7 hash functions, ~1% fpp at capacity
    val items = (writeOptions.bloomBits / 10L).max(1L)
    // xxhash64 is non-nullable (a null input hashes to the seed), so the
    // aggregate must be fed null for null cells — otherwise every mixed
    // file's filter carries the seed hash and an all-null file yields a
    // seed-only filter instead of the NULL aggregate the emptyBits path
    // records. when() keeps nulls genuinely excluded.
    val aggs = cols.map(c => org.apache.spark.sql.graft.BloomExprs
      .bloomAgg(when(col(c).isNotNull, xxhash64(col(c))), items,
        writeOptions.bloomBits).as(s"__b_$c"))
    val rows = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.tail: _*).collect()
    // a null aggregate means the file holds ZERO non-null values of the
    // column (all-null, or pre-evolution files that lack it) — record an
    // EMPTY filter rather than omitting the entry: every probe rejects
    // (sound — SQL equality with null never matches), and carry-forward
    // sees the column covered instead of re-scanning the file per commit
    lazy val emptyBits = BloomParquetWriteSupport.emptyBits(writeOptions.bloomBits)
    rows.iterator.map { r =>
      val rel = relativize(Seq(r.getString(0)), "bloom").head
      rel -> cols.zipWithIndex.map { case (c, i) =>
        c -> Option(r.get(i + 1)).fold(emptyBits)(_.asInstanceOf[Array[Byte]])
      }.toMap
    }.filter(_._2.nonEmpty).toMap
  }

  /** Newest committed micro-batch id a given SINK identity has landed —
    * the [[org.apache.spark.sql.graft.GraftTsStreamSink]] replay guard:
    * walk manifests newest→oldest (header reads only, one line each) and
    * return the first commit stamped `streamSink == sinkId`. In steady
    * state the newest append carries the stamp, so this is one read;
    * bounded by retained history when the sink has never written. */
  def lastSinkBatch(sinkId: String): Option[Long] =
    headersNewestFirst.collectFirst {
      case h if h.get("streamSink").contains(sinkId) &&
        h.contains("streamBatch") => h("streamBatch").toLong
    }

  /** Newest committed value of a manifest-header meta key (the same
    * header walk as [[lastSinkBatch]]) — how consumers that persist their
    * own progress inside the table's commit log (the rollup sync cursor)
    * read it back. */
  private[ts] def latestMeta(key: String): Option[String] =
    headersNewestFirst.collectFirst { case h if h.contains(key) => h(key) }

  /** Committed manifest headers, newest→oldest, read lazily (one line
    * each) so a walk stops at the first header it needs. */
  private def headersNewestFirst: Iterator[Map[String, String]] = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    TsTable.listVersions(spark, path).sorted.reverse.iterator
      .map(v => TsTable.readManifestHeaderAt(fs, path, v))
  }

  /** The live V2 scan's file-skip index, from ONE resolved version (so
    * a commit landing mid-read cannot pair one version's spans with
    * another's Bloom bits): the current manifest's ts and stats spans and
    * its version's Bloom sidecar, read only on the first equality probe.
    * Empty (skips nothing) when no version exists. */
  private[graft] def currentSkipIndex: graft.sources.GraftTsStatsFileIndex.SkipIndex =
    currentManifest.fold(new graft.sources.GraftTsStatsFileIndex.SkipIndex(
      tsCol, Map.empty, Map.empty, () => Nil, () => TsTable.NoBlooms))(
      m => new TsSnapshot(spark, path, tsCol, m._2,
        knownBloomCols = Some(liveBloomCols)).skipIndex)

  /** Manifest-stats fast path for [[minDt]]/[[maxDt]]: when the current
    * manifest's file set matches the live listing exactly (path + size)
    * and every file carries a ts span, the edge instant is a pure
    * metadata fold — NO data scan, which takes the per-append
    * monotonicity guard from O(edge partition read) to O(metadata). Any
    * mismatch (orphans from a crashed append, files attached outside the
    * facade, statless footers) returns None and the edge-partition
    * aggregate answers instead. */
  private def statsEdge(last: Boolean): Option[Timestamp] =
    exactSpans.filter(_.nonEmpty).map { spans =>
      val us = if (last) spans.map(_._2).max else spans.map(_._1).min
      Timestamp.from(
        org.apache.spark.sql.catalyst.util.DateTimeUtils.microsToInstant(us))
    }

  /** Every live file's ts span (closed, epoch µs), when the current
    * manifest serves the live table ([[servingManifest]]) and every file
    * carries a span. None otherwise (statless footers included). */
  private def exactSpans: Option[Seq[(Long, Long)]] =
    servingManifest(m => m.files.forall(f => m.stats.contains(f._1)))
      .map(m => m.files.map(f => m.stats(f._1)))

  /** Declare a rewrite in flight (see [[TsTable.InflightDir]]): one marker
    * file naming the verb's staging dir and its displaced rel paths,
    * installed temp+rename so readers never see a torn marker (a torn
    * read would under-protect). Registered in [[TsTable.liveMarkers]] so
    * same-driver maintenance can tell a live writer from a crash orphan
    * structurally, not by age. O(1) metadata. */
  private def writeInflightMarker(fs: org.apache.hadoop.fs.FileSystem,
                                  stagingName: String,
                                  rels: Seq[String]): Path = {
    val dir = new Path(path, TsTable.InflightDir)
    fs.mkdirs(dir)
    val marker = new Path(dir, s"$stagingName.marker")
    val tmp = new Path(dir, s"$stagingName.marker.tmp")
    // register BEFORE the temp exists on disk: vacuumStaging protects the
    // live name and its ".tmp" twin, so there is no window where another
    // thread's zero-cutoff vacuum can reclaim the half-written marker
    TsTable.liveMarkers.add(marker.getName)
    try {
      val out = fs.create(tmp, true)
      try out.write(
        (s"staging=$stagingName\n" + rels.mkString("\n") + "\n").getBytes("UTF-8"))
      finally out.close()
      require(fs.rename(tmp, marker),
        s"failed to install in-flight marker ${marker.getName}")
    } catch { case e: Throwable =>
      TsTable.liveMarkers.remove(marker.getName); throw e
    }
    marker
  }

  /** Drop this verb's in-flight marker — the rewrite either committed,
    * rolled back, or aborted pre-swap; in every case the files it named
    * are again governed by manifests alone. */
  private def clearInflightMarker(fs: org.apache.hadoop.fs.FileSystem,
                                  marker: Path): Unit = {
    TsTable.liveMarkers.remove(marker.getName)
    try fs.delete(marker, false)
    catch { case _: java.io.IOException => () } // next vacuumStaging reclaims
  }

  /** Every archived rel path named by ANY in-flight marker (whatever its
    * age — reclaim correctness beats GC liveness; stale crash orphans are
    * bounded by vacuumStaging's cutoff). One small read per marker, and
    * markers exist only while rewrites are actually in flight. A marker
    * cleared between the listing and its read belongs to a rewrite that
    * has ended (committed or rolled back): it protects nothing any more,
    * as if the listing had run a moment later. */
  private def inflightProtectedRels(
      fs: org.apache.hadoop.fs.FileSystem): Set[String] = {
    val dir = new Path(path, TsTable.InflightDir)
    if (!fs.exists(dir)) return Set.empty
    fs.listStatus(dir).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".marker"))
      .flatMap { st =>
        val bytes =
          try {
            val in = fs.open(st.getPath)
            try {
              val buf = new java.io.ByteArrayOutputStream()
              org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
              buf.toByteArray
            } finally in.close()
          } catch { case _: java.io.FileNotFoundException => Array.emptyByteArray }
        new String(bytes, "UTF-8").split("\n").iterator
          .filter(l => l.nonEmpty && !l.startsWith("staging="))
      }.toSet
  }

  /** Move a replaced/expired live data file into the archive, preserving
    * its table-relative path (the manifest key). One legitimate collision
    * exists: `restore` COPIES displaced files back live while keeping the
    * archive copy, so retiring that file again meets its own archived
    * twin — same relpath, same length, identical bytes by construction —
    * and the live copy simply deletes (the archive already holds it). A
    * different-length collision means two generations shared a filename
    * (UUID part names make that a corruption signal, not a race) and
    * fails loudly rather than silently overwriting history. */
  private[graft] def archiveFile(fs: org.apache.hadoop.fs.FileSystem, relPath: String): Unit = {
    val live = new Path(path, relPath)
    val target = new Path(new Path(path, TsTable.ArchiveDir), relPath)
    if (fs.exists(target)) {
      require(fs.getFileStatus(target).getLen == fs.getFileStatus(live).getLen,
        s"archive collision with DIFFERENT content for $relPath — " +
          "two file generations shared a name; refusing to overwrite history")
      fs.delete(live, false)
    } else {
      fs.mkdirs(target.getParent)
      if (!fs.rename(live, target)) {
        // rename-to-missing-source returns false rather than throwing:
        // a live file vanishing here is a concurrent rewrite taking it in
        // the exists-check→rename sub-window — surface the same signal
        // (FileNotFoundException) every rewrite verb's conflict handler
        // already classifies as the retryable ConcurrentRewriteException
        if (!fs.exists(live))
          throw new java.io.FileNotFoundException(
            s"$relPath vanished before archiving (concurrent rewrite)")
        throw new IllegalArgumentException(
          s"requirement failed: failed to archive $relPath into ${TsTable.ArchiveDir}")
      }
    }
  }
}

/** An immutable, pinned view of one committed [[TsTable]] version: reads
  * exactly the files its manifest recorded. Files are resolved live-first
  * (still in the table tree) then from the archive (moved aside by a later
  * compact/retention), with the recorded size as an integrity guard — a
  * same-name file with a different length is a foreign rewrite, reported
  * loudly instead of served silently. Resolution is one directory listing
  * per referenced partition, plus its archive directory only when one of
  * its files is not live at its recorded size — metadata-scale. */
final class TsSnapshot private[ts] (
    val spark: SparkSession,
    val tablePath: String,
    val tsCol: String,
    manifest: TsManifest,
    // Call-scoped live/archive listing cache (dir → name → size), shared
    // across the MANY snapshot constructions of one logical read — the
    // change feed builds 2 indexes per rewrite version over the same few
    // directories, and without sharing each one re-lists every referenced
    // dir (live + archive) at O(versions × dirs) RPCs. None (the default,
    // every external construction) keeps the re-resolve-per-frame rule;
    // a Some cache is ONLY sound within one plan-construction call, where
    // the un-cached path would have raced maintenance across its walk just
    // the same — and open-time re-resolution through the archive-resolving
    // format heals displacement either way.
    dirCache: Option[scala.collection.mutable.Map[String, Map[String, Long]]] = None,
    // the declared Bloom columns, when the caller already knows them —
    // a live handle's reads — so the file index gates its equality probes
    // without opening the descriptor. None: read on the first probe.
    knownBloomCols: Option[Seq[String]] = None) {

  import TsTable.{ArchiveDir, PartCol}

  def version: Long = manifest.version
  def action: String = manifest.action
  def schema: StructType = manifest.schema
  private[ts] def manifestFiles: Seq[(String, Long)] = manifest.files
  private[graft] def manifestColStats: Map[String, Map[String, ColSpan]] =
    manifest.colStats

  /** The version's file-skip index: its manifest's ts and stats spans,
    * and its Bloom sidecar behind the Bloom columns the table declares
    * (one descriptor read, none when the caller handed them over; a
    * column whose bits existed at this version but was later dropped
    * from the descriptor simply loses its skip — every file kept). Both
    * reads happen on the first equality probe, never for a range read. */
  private[graft] def skipIndex: graft.sources.GraftTsStatsFileIndex.SkipIndex =
    new graft.sources.GraftTsStatsFileIndex.SkipIndex(tsCol, manifest.stats,
      manifest.colStats,
      () => knownBloomCols.getOrElse(
        scala.util.Try(TsTable.open(spark, tablePath).writeOptions.bloomCols)
          .getOrElse(Seq.empty)),
      () => TsTable.readBloomSidecar(
        new Path(tablePath).getFileSystem(spark.sparkContext.hadoopConfiguration),
        tablePath, version))

  /** (live files, archived files) as fully-qualified path strings.
    * A `def`, not a cached val: every DataFrame construction re-resolves
    * against the CURRENT live/archive split, so a snapshot handle held
    * across a maintenance pass keeps working — you rebuild the frame, it
    * finds the files wherever they now are. An already-built frame — or
    * a view registered from one — captures one resolution, but each TASK
    * re-resolves at file-open time through the archive-resolving format
    * (`raw`'s scaladoc), so a maintenance pass moving files mid-read is
    * survived in place; only `expireSnapshots` (bytes actually deleted)
    * still fails a captured frame. */
  private def resolved: (Seq[String], Seq[String]) = {
    val (live, arch) = resolvedFiles.partition(_._4)
    (live.map(_._2.toString), arch.map(_._2.toString))
  }

  /** Per-file resolution: (ISO partition date, resolved path, recorded
    * size, is-live). The connector's snapshot file index consumes this
    * directly (partition values come from the manifest's relative paths,
    * not a directory walk). */
  private[graft] def resolvedFiles: Seq[(String, Path, Long, Boolean)] = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def listDir(dir: Path): Map[String, Long] =
      try fs.listStatus(dir).iterator.filter(_.isFile)
        .map(st => st.getPath.getName -> st.getLen).toMap
      catch { case _: java.io.FileNotFoundException => Map.empty }
    def sizesIn(dir: Path): Map[String, Long] = dirCache match {
      case Some(c) => c.getOrElseUpdate(dir.toString, listDir(dir))
      case None => listDir(dir)
    }
    val byDir = manifest.files.groupBy(f => TsSnapshot.relDirOf(f._1))
    val out = Seq.newBuilder[(String, Path, Long, Boolean)]
    byDir.foreach { case (relDir, files) =>
      // relDir "" = loose root-level files (attached plain/hybrid layout);
      // their partition date is the empty sentinel (p_date null downstream)
      val date =
        if (relDir.isEmpty) "" else relDir.split("/").last.stripPrefix(s"$PartCol=")
      val liveSizes = sizesIn(TsSnapshot.dirOf(root, relDir))
      // listed only when some file is not live at its recorded size
      lazy val archSizes = sizesIn(TsSnapshot.dirOf(new Path(root, ArchiveDir), relDir))
      files.foreach { case (relPath, size) =>
        val name = relPath.split("/").last
        if (liveSizes.get(name).contains(size))
          out += ((date, new Path(root, relPath), size, true))
        else if (archSizes.get(name).contains(size))
          out += ((date, new Path(new Path(root, ArchiveDir), relPath), size, false))
        else throw new IllegalStateException(
          s"snapshot v${manifest.version} of $tablePath: data file $relPath " +
            s"(${size}B) is missing or was rewritten in place (live: " +
            s"${liveSizes.get(name)}, archived: ${archSizes.get(name)}) — " +
            "expired by expireSnapshots, or a foreign writer bypassed the table")
      }
    }
    out.result()
  }

  /** The pinned version as a DataFrame (data columns only). */
  def toDF: DataFrame = raw.drop(PartCol)

  /** The pinned version under TARGET's column labels: field ids map this
    * version's names onto target's matching ids (identity when either
    * side predates id stamping, and for columns target no longer has) —
    * how a stream's horizon stand-in crosses a `renameColumn` that
    * happened after this version committed. */
  def toDFAs(target: StructType): DataFrame =
    new TsSnapshot(spark, tablePath, tsCol,
      manifest.copy(schema = TsTable.alignNamesByIds(manifest.schema, target)))
      .toDF

  /** Pinned frame including the partition column. Explicit file lists with
    * `basePath` keep Hive partition-value derivation intact for both the
    * live tree and the archive (same `p_date=` layout under each base);
    * loose root-level files (attached plain/hybrid layouts) read without a
    * basePath and carry a null `p_date` — the live read's semantic for
    * unpartitioned data.
    *
    * Reads go through the archive-RESOLVING parquet format
    * ([[org.apache.spark.sql.graft.ArchiveResolvingParquetFileFormat]]):
    * the file list is resolved at PLAN time against the current
    * live/archive split, and each task re-resolves at OPEN time, so a
    * copy-on-write verb displacing a just-planned file mid-execution
    * (the plan-vs-execute window) degrades to a same-bytes retry at the
    * mirrored path instead of FILE_NOT_EXIST — a pinned read or a
    * streaming microbatch survives concurrent maintenance outright. */
  def raw: DataFrame =
    // EXPLICIT snapshot file index (the V2 connector's time-travel
    // backend, shared by this V1 facade): membership, sizes and partition
    // values come from the manifest, resolved live-first-then-archive
    // ONCE at frame construction — and NO directory listing happens at
    // action time. That last property is load-bearing for readers racing
    // maintenance: the previous explicit-path `spark.read.load(files: _*)`
    // deferred its listing to EACH action (schema supplied = lazy
    // InMemoryFileIndex), and Spark's listing SILENTLY SKIPS a path whose
    // file a concurrent rewrite displaced in between ("was not found.
    // Was it deleted very recently?" — warn and drop), so a pinned frame
    // evaluated mid-maintenance came back quietly NARROWER (raced in
    // TsRollupSpec's sync-vs-rewrite stress: the lost rows became
    // permanently missing rollup buckets). Displacement AFTER planning
    // is healed per-task by the archive-resolving format at open time;
    // loose root-level files carry a null p_date (the live semantic);
    // and the 100 TB bill improves too — zero per-action listing RPCs.
    org.apache.spark.sql.graft.PlanBridge.fileIndexRelation(
      spark,
      new graft.sources.GraftTsSnapshotFileIndex(spark, new Path(tablePath), this),
      StructType(Seq(StructField(PartCol, DateType, nullable = true))),
      schema,
      new org.apache.spark.sql.graft.ArchiveResolvingParquetFileFormat)

  /** Closed-interval time-range read over the pinned version — the same
    * two-level pruning contract as the live `readRange` (partition-value
    * pruning on `p_date`, ts predicate pushed to the parquet row groups),
    * plus a THIRD level the manifest makes free: files whose recorded ts
    * span cannot intersect [start, end] never enter the explicit file
    * list at all (spanless files always do — soundness over coverage). */
  def readRange(start: Timestamp, end: Timestamp): DataFrame = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    val lo = DateTimeUtils.fromJavaTimestamp(start)
    val hi = DateTimeUtils.fromJavaTimestamp(end)
    val sub = manifest.copy(files = manifest.files.filter { case (rel, _) =>
      manifest.stats.get(rel) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi
        case None => true
      }
    })
    // isNull arm: loose root-level files carry a null p_date (attached
    // plain/hybrid layouts) — the live readRange rule; the span filter
    // above and the ts predicate bound what they contribute.
    new TsSnapshot(spark, tablePath, tsCol, sub, dirCache, knownBloomCols).raw
      .where((col(PartCol).isNull ||
          col(PartCol).between(to_date(lit(start)), to_date(lit(end)))) &&
        col(tsCol).between(lit(start), lit(end)))
      .drop(PartCol)
  }
}

object TsSnapshot {
  private def relDirOf(relPath: String): String =
    relPath.split("/").init.mkString("/")

  /** A manifest's table-relative directory under `base`, the table root
    * or the archive ("" = `base` itself, home of loose attached files). */
  private def dirOf(base: Path, relDir: String): Path =
    if (relDir.isEmpty) base else new Path(base, relDir)

  /** A [[TsSnapshot]] dir cache holding the live sizes of `m`'s files,
    * for a manifest just checked to list exactly the live data files
    * ([[TsTable]]'s `servingManifest`), so equal to that check's
    * listing: resolving the snapshot lists no live directory again. Sound
    * within the one plan-construction call, the cache's rule. */
  private[ts] def liveDirCache(tablePath: String, m: TsManifest)
      : scala.collection.mutable.Map[String, Map[String, Long]] = {
    val root = new Path(tablePath)
    val cache = scala.collection.mutable.Map.empty[String, Map[String, Long]]
    m.files.groupBy(f => relDirOf(f._1)).foreach {
      case (relDir, files) => cache(dirOf(root, relDir).toString) =
        files.map { case (rel, size) => rel.split("/").last -> size }.toMap
    }
    cache
  }
}

/** Closed min/max of one column in one file, numeric-exact across integer
  * and floating encodings: `typ` 'l' = integral (lo/hi parse as Long),
  * 'd' = floating (lo/hi are Double.toString round-trips). Comparisons go
  * through BigDecimal so a Long span never loses precision against a
  * Double predicate bound. */
private[graft] final case class ColSpan(typ: Char, lo: String, hi: String) {
  def loBD: BigDecimal =
    if (typ == 'l') BigDecimal(lo.toLong) else BigDecimal(lo.toDouble)
  def hiBD: BigDecimal =
    if (typ == 'l') BigDecimal(hi.toLong) else BigDecimal(hi.toDouble)
}

/** One committed version: the action that produced it, the serving schema,
  * (table-relative path, size) of every data file, and — for files whose
  * parquet footers carried usable ts statistics — the file's closed ts
  * span in epoch MICROS (`stats`, keyed by relative path). The span map is
  * best-effort metadata: a file absent from it is simply never skipped
  * (attached foreign encodings, statless footers, pre-stats manifests all
  * degrade to the old scan-everything behavior, never to wrong results). */
private[ts] final case class TsManifest(
    version: Long,
    action: String,
    tsCol: String,
    schema: StructType,
    files: Seq[(String, Long)],
    stats: Map[String, (Long, Long)] = Map.empty,
    meta: Map[String, String] = Map.empty,
    colStats: Map[String, Map[String, ColSpan]] = Map.empty)

/** The stored table descriptor (`_ts_schema.json`): everything a handle
  * knows about its table besides the data and the versions. The one owner
  * of the descriptor's line format:
  *   1. the schema as JSON;
  *   2. the ts column;
  *   3. the write options ([[TsWriteOptions.encode]]; absent in round-2-era
  *      descriptors, which decode to the defaults);
  *   4. (optional) `checks=` CHECK constraints as `name:base64(sql)`, so
  *      arbitrary predicate text never collides with the line format;
  *   5. (optional) `dropped=` names retired by dropColumns/renameColumn —
  *      the re-add guard's persistent memory;
  *   6. (optional) `nextFieldId=` the field-id high-water.
  * An optional line is written only when it or a later one has content;
  * an empty placeholder keeps the numbering fixed. */
private[ts] final case class TsDescriptor(
    schema: StructType,
    tsCol: String,
    options: TsWriteOptions = TsWriteOptions(),
    checks: Seq[(String, String)] = Seq.empty,
    dropped: Seq[String] = Seq.empty,
    // field-id high-water (0 = pre-id table, by-name semantics): the next
    // id any evolution verb may assign; never decreases, ids never reused
    // after a drop/rename, or old files' bytes would resurrect under a
    // recycled id
    nextFieldId: Long = 0L) {
  def encode: String = {
    val checksLine =
      if (checks.isEmpty) ""
      else "checks=" + checks.map { case (n, sql) =>
        n + ":" + java.util.Base64.getEncoder.encodeToString(sql.getBytes("UTF-8"))
      }.mkString(",") + "\n"
    val droppedLine =
      if (dropped.isEmpty && nextFieldId <= 0) ""
      else (if (checksLine.isEmpty) "checks=\n" else "") +
        "dropped=" + dropped.mkString("|") + "\n"
    val nextIdLine = if (nextFieldId <= 0) "" else s"nextFieldId=$nextFieldId\n"
    schema.json + "\n" + tsCol + "\n" + options.encode + "\n" + checksLine +
      droppedLine + nextIdLine
  }
}

private[ts] object TsDescriptor {
  def decode(text: String): TsDescriptor = {
    val lines = text.trim.split("\n").map(_.trim)
    def line(i: Int, key: String): Option[String] =
      lines.lift(i).filter(_.startsWith(key)).map(_.stripPrefix(key))
    TsDescriptor(
      DataType.fromJson(lines(0)).asInstanceOf[StructType],
      lines(1),
      lines.lift(2).map(TsWriteOptions.decode).getOrElse(TsWriteOptions()),
      line(3, "checks=").toSeq.flatMap(_.split(",")).filter(_.nonEmpty).map { part =>
        val Array(n, b64) = part.split(":", 2)
        (n, new String(java.util.Base64.getDecoder.decode(b64), "UTF-8"))
      },
      line(4, "dropped=").toSeq.flatMap(_.split("\\|")).filter(_.nonEmpty),
      lines.drop(5).find(_.startsWith("nextFieldId="))
        .map(_.stripPrefix("nextFieldId=").toLong).getOrElse(0L))
  }
}

/** Write-side sizing/compression knobs — the analogue of the reference's
  * `create_ts(..., filters=, expectedrows_per_partition=, chunkshape=)`
  * surface (`[pub: tstables/__init__.py — create_ts signature]`), declared
  * once at create time and applied to every subsequent append:
  *
  *   - `codec`: Parquet compression codec (reference: `Filters(complib=…)`);
  *     any codec Spark's Parquet writer knows — snappy, zstd, gzip, lz4, none.
  *   - `rowGroupBytes`: `parquet.block.size`, the row-group target — the I/O
  *     granularity of a scan and the unit of min/max-stats skipping
  *     (reference: `chunkshape`). At 100 TB, bigger row groups = fewer
  *     footer entries + larger sequential reads; smaller = finer predicate
  *     skipping on ts.
  *   - `maxRecordsPerFile`: caps rows per output file (reference:
  *     `expectedrows_per_partition` bounding a partition's table size);
  *     complements `append(filesPerDay)` — filesPerDay shapes the SHUFFLE,
  *     this caps the FILES no matter how rows land.
  */
final case class TsWriteOptions(
    codec: String = "snappy",
    rowGroupBytes: Option[Long] = None,
    maxRecordsPerFile: Option[Long] = None,
    statsCols: Seq[String] = Seq.empty,
    bloomCols: Seq[String] = Seq.empty,
    bloomBits: Long = 262144L,
    // "day" (default): append's filesPerDay knob shapes the day's files.
    // "hour": every append range-slots the batch on (day, HOUR, ts) with
    // one slot per distinct hour — a secondly-data day that would be a
    // single multi-hundred-GB daily partition at 100 TB instead lands as
    // ~24 hour-contiguous files, and the per-file ts-span index (exact
    // regardless of slot boundaries) makes the manifest an effective
    // HOUR partition: a 1-hour readRange plans a strict file subset
    // without changing the on-disk daily layout (A7 contract intact).
    fileSpan: String = "day") {
  require(statsCols.forall(_.matches("[A-Za-z0-9_.-]+")),
    s"statsCols must be simple column names, got ${statsCols.mkString(", ")}")
  require(bloomCols.forall(_.matches("[A-Za-z0-9_.-]+")),
    s"bloomCols must be simple column names, got ${bloomCols.mkString(", ")}")
  require(bloomBits >= 64, s"bloomBits must be >= 64, got $bloomBits")
  require(fileSpan == "day" || fileSpan == "hour",
    s"fileSpan must be 'day' or 'hour', got '$fileSpan'")
  private[ts] def encode: String =
    s"codec=$codec;rowGroupBytes=${rowGroupBytes.getOrElse("")};" +
      s"maxRecordsPerFile=${maxRecordsPerFile.getOrElse("")};" +
      s"statsCols=${statsCols.mkString("|")};" +
      s"bloomCols=${bloomCols.mkString("|")};bloomBits=$bloomBits;" +
      s"fileSpan=$fileSpan"
}

object TsWriteOptions {
  private[ts] def decode(line: String): TsWriteOptions = {
    val kv = line.split(";").iterator.map(_.split("=", 2))
      .collect { case Array(k, v) if v.nonEmpty => k -> v }.toMap
    TsWriteOptions(
      codec = kv.getOrElse("codec", "snappy"),
      rowGroupBytes = kv.get("rowGroupBytes").map(_.toLong),
      maxRecordsPerFile = kv.get("maxRecordsPerFile").map(_.toLong),
      statsCols = kv.get("statsCols").toSeq
        .flatMap(_.split("\\|")).filter(_.nonEmpty),
      bloomCols = kv.get("bloomCols").toSeq
        .flatMap(_.split("\\|")).filter(_.nonEmpty),
      bloomBits = kv.get("bloomBits").map(_.toLong).getOrElse(262144L),
      fileSpan = kv.getOrElse("fileSpan", "day"))
  }
}

object TsTable {
  /** What a [[TsTable.mergeInto]] did: matched-row updates vs new-row
    * inserts (both 0 = nothing happened, no version committed). */
  final case class MergeResult(updated: Long, inserted: Long)

  /** A validated non-empty batch: its min ts (the append guard's operand)
    * and the distinct days and hours (0 unless the table slots by hour)
    * its placement sizes on. */
  private final case class BatchShape(minTs: Timestamp, days: Long, hours: Long)

  /** localCheckpoint with a handle that ACTUALLY frees the checkpoint
    * blocks: `Dataset.unpersist()` is a no-op on checkpoint results (the
    * materialized RDD persists outside the CacheManager that unpersist
    * consults), so the freeing thunk unpersists the checkpointed RDD
    * itself, taken straight from the result's LogicalRDD leaf — exact
    * (never touches a concurrent caller's blocks, unlike an id-set diff)
    * and BLOCKING, so the executor block-removal storm cannot land inside
    * whatever runs next. Without this every mergeInto leaked its source
    * frames until driver GC — a high-frequency merge loop (TsRollup.sync
    * polling) accumulated executor storage without bound (r20 advice). */
  private[ts] def localCheckpointTracked(df: DataFrame): (DataFrame, () => Unit) = {
    val cp = df.localCheckpoint() // eager: materializes now
    val rdds = cp.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }
    (cp, () => rdds.foreach(_.unpersist(blocking = true)))
  }

  /** True when `df`'s analyzed plan PROVES at most one row per `keys`
    * value: walking through row-preserving/row-filtering wrappers
    * (Project renames, Filter, Sort, subquery aliases), the plan bottoms
    * out in an Aggregate whose EVERY grouping expression is exposed in its
    * output as one of the tracked key columns (grouped rows are unique on
    * the full grouping set, so keys ⊇ grouping set ⇒ unique), a
    * global Aggregate (one row), or a Distinct whose whole output is
    * tracked. Conservative by construction — any node or expression the
    * walk does not recognize returns false and the caller keeps its
    * runtime check. mergeInto uses this to skip the SQL MERGE
    * cardinality-check job for sources that cannot violate it (every
    * TsRollup sync's bucket aggregate — one read-only job per sync). */
  private[graft] def provablyUniqueOn(df: DataFrame, keys: Seq[String]): Boolean = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, ExprId, Expression}
    import org.apache.spark.sql.catalyst.plans.logical._
    val plan = df.queryExecution.analyzed
    val resolver = df.sparkSession.sessionState.analyzer.resolver
    val keyAttrs = keys.flatMap(k => plan.output.find(a => resolver(a.name, k)))
    if (keyAttrs.size != keys.size) return false
    def stripAlias(e: Expression): Expression = e match {
      case Alias(c, _) => stripAlias(c)
      case other => other
    }
    def walk(p: LogicalPlan, ids: Set[ExprId]): Boolean = p match {
      case Project(list, child) =>
        // remap each tracked output to the child attribute it passes
        // through; a computed key column is not provably unique
        val next = ids.map { id =>
          list.find(_.exprId == id) match {
            case Some(a: AttributeReference) => a.exprId
            case Some(Alias(ar: AttributeReference, _)) => ar.exprId
            case _ => return false
          }
        }
        walk(child, next)
      case Filter(_, child) => walk(child, ids)
      case s: Sort => walk(s.child, ids)
      case SubqueryAlias(_, child) => walk(child, ids)
      case d: Distinct => d.output.map(_.exprId).forall(ids)
      // Dataset.distinct()/dropDuplicates analyze to Deduplicate: output
      // rows are unique on the dedup keys
      case d: Deduplicate => d.keys.map(_.exprId).forall(ids)
      case agg: Aggregate =>
        agg.groupingExpressions.isEmpty || // global aggregate: one row
          agg.groupingExpressions.forall { g =>
            val gs = stripAlias(g)
            agg.aggregateExpressions.exists { out =>
              ids(out.exprId) && (stripAlias(out) match {
                case a: AttributeReference => gs.semanticEquals(a)
                case e => gs.semanticEquals(e)
              })
            }
          }
      case _ => false
    }
    walk(plan, keyAttrs.map(_.exprId).toSet)
  }

  /** Hive partition column: one directory per UTC day, like the reference's
    * one HDF5 group per day (`yYYYY/mMM/dDD`). */
  val PartCol = "p_date"
  private val SchemaFile = "_ts_schema.json" // leading '_' → invisible to Spark's file index
  private val DateDirRe = "\\d{4}-\\d{2}-\\d{2}".r
  /** Version manifests + replaced-file archive — `_` prefix keeps both
    * invisible to Spark's file index, so the live `raw` read never sees
    * history (the `_compact_tmp_` rule). */
  private[ts] val VersionsDir = "_ts_versions"
  private[ts] val ArchiveDir = "_ts_archive"

  /** In-flight rewrite intent markers — the seam that brings snapshot GC
    * into the rewrite conflict protocol. A rewrite verb declares, BEFORE
    * it stages or archives anything, which files it may need to re-live
    * on a commit-conflict rollback (its displaced set) and which staging
    * dir it owns; `expireSnapshots` then never reclaims a marked file's
    * archived bytes mid-rewrite, and `vacuumStaging` never yanks a marked
    * staging dir from under a live writer regardless of its age. The verb
    * removes its marker in a finally; a crash orphan blocks GC only until
    * `vacuumStaging`'s age cutoff reclaims the stale marker itself. */
  private[ts] val InflightDir = "_ts_inflight"

  /** True when `e`'s causal chain is a MISSING-FILE shape (never a corrupt
    * footer / codec error, which must surface as itself) naming a path
    * under one of `roots` or one of the planned-input basenames in
    * `names` — the shared classifier behind every "a concurrent rewrite
    * took my file mid-read" conflict: relative / URI-encoded / bare-name
    * messages miss a root-path substring, which is what `names` covers
    * (UUID part names make a user-file collision a non-event). */
  private[ts] def missingFileUnder(e: Throwable, roots: Seq[String],
                                   names: Seq[String]): Boolean = {
    val rootStrs = roots.map(r => new Path(r).toUri.getPath)
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).exists { t =>
      val m = Option(t.getMessage).getOrElse("")
      val missing = t.isInstanceOf[java.io.FileNotFoundException] ||
        m.contains("PATH_NOT_FOUND") || m.contains("FILE_NOT_EXIST") ||
        // the snapshot index's loud resolution failure — a planned/pinned
        // file in neither the live tree nor the archive (a concurrent
        // rewrite took it; for a pinned read, expiry): same conflict class
        m.contains("is missing or was rewritten in place")
      missing && (rootStrs.exists(m.contains) || names.exists(m.contains))
    }
  }

  /** Marker names whose owning rewrite is live in THIS driver JVM — the
    * structural signal that lets `vacuumStaging` distinguish a running
    * writer from a crash orphan without guessing from mtime (age still
    * bounds markers left by OTHER crashed drivers). */
  private[ts] val liveMarkers: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** `_ts_versions` temp names (manifest bodies, bloom sidecars) whose
    * owning commit is live in THIS driver JVM — same contract as
    * [[liveMarkers]]: `vacuumStaging` must never reclaim a temp an
    * in-flight commit is about to CAS-install, at ANY age cutoff. */
  private[ts] val liveCommitTmps: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val ManifestRe = "v(\\d{8})\\.manifest".r
  /** Default ceiling on retained snapshot versions (auto-expired at
    * commit; Iceberg's previous-versions-max default). Override with
    * spark.graft.ts.maxVersions; 0 = unbounded. */
  private[ts] val DefaultMaxVersions = 100L

  private def withPartCol(s: StructType): StructType =
    StructType(s.fields :+ StructField(PartCol, DateType, nullable = true))

  /** Parquet field-id metadata key — Spark's own column-mapping hook
    * (`spark.sql.parquet.fieldId.{read,write}.enabled`): files written
    * with ids in their footers resolve read-schema columns BY ID, names
    * becoming pure labels. Tables created by this engine stamp ids
    * 1..n at `create` and assign fresh ids on evolution (never reused —
    * the `nextFieldId` high-water in the descriptor), which is what makes
    * [[TsTable.renameColumn]] a pure-DDL verb: old files keep the old
    * NAME but the same ID, so a read under the renamed schema maps them
    * exactly (the Delta/Iceberg column-mapping design, via Spark's public
    * parquet mechanism instead of a custom resolver). */
  private[graft] val FieldIdKey = "parquet.field.id"

  /** Lossless type-widening ladder ([[TsTable.widenColumn]]): every edge
    * is exactly representable in the target (so promotion is
    * value-identical), and every edge is supported by Spark 4's
    * parquet reader-side type promotion for files keeping the narrow
    * physical encoding. long → double is deliberately absent. */
  private[ts] val WidenLadder: Map[DataType, Set[DataType]] = Map(
    ByteType -> Set[DataType](ShortType, IntegerType, LongType, DoubleType),
    ShortType -> Set[DataType](IntegerType, LongType, DoubleType),
    IntegerType -> Set[DataType](LongType, DoubleType),
    FloatType -> Set[DataType](DoubleType))

  /** True when `from -> to` is a lossless widening [[TsTable.widenColumn]]
    * accepts: the static primitive ladder, plus DECIMAL precision growth
    * at the SAME scale — `decimal(p,s) -> decimal(p+k,s)` embeds every
    * value exactly (the common money-column evolution), and Spark 4's
    * parquet reader promotes the narrow physical encoding (INT32/INT64/
    * BINARY decimals) to the wider declared type. Scale changes are NOT
    * widenings: they change the physical integer representation, which
    * reader-side promotion cannot re-derive. */
  private[ts] def canWiden(from: DataType, to: DataType): Boolean =
    WidenLadder.get(from).exists(_.contains(to)) || ((from, to) match {
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    })

  /** A REWRITE verb (deleteWhere / updateWhere / mergeInto / compact /
    * migrate) lost a semantic race: between its input discovery and its
    * commit, another writer committed a version that no longer lists some
    * file this rewrite displaced — proceeding would resurrect rows the
    * winner rewrote away, or bury its rewrite under this verb's
    * replacement files. The losing verb has ALREADY rolled its physical
    * changes back (staged output dropped, archived inputs restored live),
    * so the table equals the winner's committed state. RETRYABLE by
    * construction: re-invoke the same verb on a fresh handle and it
    * re-plans against the winner. One exception: a conflicted `restore`
    * does not roll back — it is CONVERGENT instead: re-running
    * `restore(v)` enforces the target state (deliberately overriding the
    * racing writer, the verb's declared semantic), so recovery is the
    * user's explicit choice between re-running and inspecting the
    * winner's version first. */
  final class ConcurrentRewriteException(msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

  /** Commit actions that only ADD files or re-list the live layout —
    * never remove live files. A rewrite's commit gate passes when every
    * commit interleaved since its plan is in this set: the displaced
    * files' absence from those listings is explained by the rewrite's
    * own in-flight swap, not by a competing rewrite. Unknown actions are
    * conservatively treated as rewrite-family (membership test fires). */
  private[ts] val AdditiveActions = Set("create", "append", "backfill",
    "evolve", "rename", "widen", "indexing", "constraint", "checkpoint",
    "rollup", "clone")

  /** TEST SEAM (RewriteConflictSpec): invoked by every rewrite verb at
    * "staged" (replacement files written to the invisible temp, nothing
    * live touched), "archiving" (pre-swap liveness passed, the archive
    * loop about to start — the sub-gate window where a winner's swap can
    * take a planned input mid-loop) and "swapped" (live swap done, commit
    * pending) with the verb's action name — the windows a concurrent
    * writer's effects must be detected in. Global because stale-handle
    * delegation re-opens handles internally; a no-op outside tests. */
  private[graft] var rewriteRaceHook: (String, String) => Unit = (_, _) => ()

  /** Exact count of the distinct non-null values of `c`, as a
    * single-level aggregate (the size of the collected set): no Expand and
    * no second shuffle, unlike `countDistinct`. For the small sets the
    * write verbs count (days, hour slots), bounded by the files they
    * write. */
  private[ts] def distinctCount(c: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    size(collect_set(c)).cast(LongType)

  /** The table's one parquet format, for reads and writes:
    * archive-resolving + foreign-file name-fallback reads, and footer
    * Bloom bits on writes (see ArchiveResolvingParquetFileFormat). */
  private[graft] val Fmt =
    "org.apache.spark.sql.graft.ArchiveResolvingParquetFileFormat"

  /** True when EVERY data column carries a field id (tables created at
    * r17+; earlier descriptors — and attached plain dirs — have none and
    * keep the by-name semantics everywhere). */
  private[graft] def hasFieldIds(s: StructType): Boolean =
    s.fields.nonEmpty && s.fields.forall(_.metadata.contains(FieldIdKey))

  private[ts] def fieldId(f: StructField): Long =
    f.metadata.getLong(FieldIdKey)

  /** Stamp ids `startId..` onto fields in order (overwriting any
    * user-provided value — id assignment is the table's, not the
    * caller's). */
  private[ts] def stampFieldIds(s: StructType, startId: Long = 1L): StructType =
    StructType(s.fields.zipWithIndex.map { case (f, i) =>
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata).putLong(FieldIdKey, startId + i).build())
    })

  /** Rename `from`'s fields to the name the SAME id carries in `to`
    * (identity when either side lacks ids, or for ids `to` no longer
    * has) — how a pre-rename version's schema aligns to the current
    * logical names for change feeds and horizon replay. */
  private[graft] def alignNamesByIds(from: StructType, to: StructType): StructType =
    if (!hasFieldIds(from) || !hasFieldIds(to)) from
    else {
      val byId = to.fields.map(f => fieldId(f) -> f.name).toMap
      StructType(from.fields.map(f =>
        byId.get(fieldId(f)).fold(f)(n => f.copy(name = n))))
    }

  private[ts] def manifestName(v: Long): String =
    f"$VersionsDir/v$v%08d.manifest"

  /** Bloom sidecar path for version `v` — rides next to the manifest,
    * expires with it. Kept OUT of the manifest body: the bits are
    * kilobytes per file per column, and every manifest read (history,
    * changesBetween, snapshot resolution) would otherwise pay them. */
  private[ts] def bloomsName(v: Long): String =
    f"$VersionsDir/v$v%08d.blooms"

  /** The canonical empty bloom map (helps type inference at call sites). */
  private[ts] val NoBlooms: Map[String, Map[String, Array[Byte]]] = Map.empty

  /** Write the bloom sidecar body to a WRITER-UNIQUE temp under
    * `_ts_versions` and return its path; the caller renames it to the
    * final name only AFTER the manifest CAS succeeds (the version number
    * is then exclusively owned) and deletes it on a lost race. A crash
    * between manifest install and the rename degrades lookups to
    * no-skipping until the next commit re-harvests — never wrong
    * results. Format: one header line, then `relpath TAB col TAB
    * base64(bits)` per entry. Entries STREAM to the output one line at a
    * time — at the default 262144 bloomBits an entry is ~43 KiB of
    * base64 per file per column, so materializing the whole body first
    * (the naive StringBuilder) would cost multi-GB driver strings per
    * commit on a 100k-file table; peak memory here is one entry. */
  private[ts] def writeBloomSidecarTmp(fs: org.apache.hadoop.fs.FileSystem,
      path: String, v: Long,
      blooms: Map[String, Map[String, Array[Byte]]]): Path = {
    val tmp = new Path(path,
      bloomsName(v) + s".${java.util.UUID.randomUUID().toString}.tmp")
    // live until the caller installs or discards it (commitVersion)
    liveCommitTmps.add(tmp.getName)
    val enc = java.util.Base64.getEncoder
    fs.mkdirs(new Path(path, VersionsDir))
    val out = fs.create(tmp, true)
    try {
      val w = new java.io.BufferedWriter(
        new java.io.OutputStreamWriter(out, "UTF-8"), 1 << 16)
      w.write(s"version=$v\n")
      blooms.toSeq.sortBy(_._1).foreach { case (p, cols) =>
        cols.toSeq.sortBy(_._1).foreach { case (c, bytes) =>
          w.write(p); w.write('\t'); w.write(c); w.write('\t')
          w.write(enc.encodeToString(bytes)); w.write('\n')
        }
      }
      w.flush()
    } finally out.close()
    tmp
  }

  /** The bloom sidecar of version `v`, tolerant of absence (pre-bloom
    * versions, a crash-lost sidecar): relative path → column → serialized
    * filter bytes. One small read, driver-side. */
  private[ts] def readBloomSidecar(fs: org.apache.hadoop.fs.FileSystem,
      path: String, v: Long): Map[String, Map[String, Array[Byte]]] = {
    val p = new Path(path, bloomsName(v))
    if (!fs.exists(p)) return NoBlooms
    val in = fs.open(p)
    val dec = java.util.Base64.getDecoder
    // decode per line while streaming: the retained map holds the raw
    // filter bytes only, never the (1/3 larger) base64 text of the whole
    // sidecar alongside it
    val entries =
      try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .drop(1).filter(_.nonEmpty)
        .flatMap { l =>
          l.split("\t", 3) match {
            case Array(rel, c, b64) =>
              scala.util.Try((rel, c, dec.decode(b64))).toOption
            case _ => None // torn line: drop the entry, never the read
          }
        }.toSeq
      finally in.close()
    entries
      .groupBy(_._1)
      .map { case (rel, rows) => rel -> rows.map(r => r._2 -> r._3).toMap }
  }

  /** (version, commit wall-clock ms) pairs, ascending by version. The
    * commit instant comes from each manifest's own `commitMs` header
    * (stamped at write, immune to filesystem migrations); manifests
    * that predate the field fall back to the file's modification time —
    * the install rename's wall clock on any mtime-stamping filesystem.
    * One directory listing + one small read per version, metadata-only. */
  private[graft] def versionCommitMs(spark: SparkSession, path: String): Seq[(Long, Long)] = {
    val dir = new Path(path, VersionsDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).iterator.filter(_.isFile)
      .flatMap(st => st.getPath.getName match {
        case ManifestRe(n) =>
          val v = n.toLong
          val recorded = readManifestHeader(fs, st.getPath).get("commitMs")
            .flatMap(s => scala.util.Try(s.toLong).toOption)
          Some((v, recorded.getOrElse(st.getModificationTime)))
        case _ => None
      }).toSeq.sortBy(_._1)
  }

  /** Header of version `v`'s manifest at `path` (one small read). */
  private[ts] def readManifestHeaderAt(fs: org.apache.hadoop.fs.FileSystem,
                                       path: String, v: Long): Map[String, String] =
    readManifestHeader(fs, new Path(path, manifestName(v)))

  /** First-line key=value header of a manifest (cheap: one small read). */
  private def readManifestHeader(fs: org.apache.hadoop.fs.FileSystem,
                                 p: Path): Map[String, String] = {
    val in = fs.open(p)
    val first =
      try new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8")).readLine()
      finally in.close()
    if (first == null) Map.empty
    else first.split(";").map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
  }

  /** Committed version numbers (unordered) from one directory listing. */
  private[ts] def listVersions(spark: SparkSession, path: String): Seq[Long] = {
    val dir = new Path(path, VersionsDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).iterator.filter(_.isFile)
      .flatMap(st => st.getPath.getName match {
        case ManifestRe(n) => Some(n.toLong)
        case _ => None
      }).toSeq
  }

  /** Manifest layout (one file per version, temp+rename installed):
    * {{{
    * version=N;action=append
    * <tsCol>
    * <schema json, single line>
    * <relative path>\t<size>
    * ...
    * }}} */
  private[ts] def writeManifest(spark: SparkSession, path: String,
                                m: TsManifest): Unit = {
    val dir = new Path(path, VersionsDir)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    val target = new Path(path, manifestName(m.version))
    // WRITER-UNIQUE temp name: a shared ".tmp" would let two writers racing
    // to the same version number write the same temp file, and one could
    // rename a file the other was mid-writing — installing a torn or
    // foreign manifest body under its version. With a unique suffix each
    // writer renames only its own fully-written bytes; the TARGET rename
    // below remains the CAS.
    val tmp = new Path(
      target.toString + s".${java.util.UUID.randomUUID().toString}.tmp")
    liveCommitTmps.add(tmp.getName) // removed in the finally below
    try {
    // commitMs rides in the header so TIMESTAMP AS OF resolution survives
    // filesystem migrations that rewrite mtimes (readers that predate the
    // field fall back to the manifest file's own mtime)
    m.meta.foreach { case (k, v) =>
      require(k.matches("[A-Za-z0-9_.-]+") && v.matches("[A-Za-z0-9_.-]*") &&
          !Set("version", "action", "commitMs").contains(k),
        s"manifest meta key/value '$k=$v' must be [A-Za-z0-9_.-] and not reserved")
    }
    val body = (s"version=${m.version};action=${m.action}" +
      s";commitMs=${System.currentTimeMillis()}" +
      m.meta.toSeq.sorted.map { case (k, v) => s";$k=$v" }.mkString + "\n" +
      m.tsCol + "\n" + m.schema.json + "\n" +
      m.files.map { case (p, sz) =>
        // optional forms: path \t size [\t tsMinUs \t tsMaxUs
        //                 [\t col=typ:lo:hi,col2=…]] — column spans only
        // ride alongside a ts span (engine-written files always have one)
        s"$p\t$sz" + m.stats.get(p).map { case (mn, mx) =>
          s"\t$mn\t$mx" + m.colStats.get(p).filter(_.nonEmpty).map { cs =>
            "\t" + cs.toSeq.sortBy(_._1).map { case (c, s0) =>
              s"$c=${s0.typ}:${s0.lo}:${s0.hi}"
            }.mkString(",")
          }.getOrElse("")
        }.getOrElse("")
      }.mkString("\n") + "\n")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
    // Install-as-CAS: a racing writer that already installed this version
    // number must FAIL here — surfaced, not silently overwritten. On
    // HDFS-contract filesystems rename(dst-exists) returns false and the
    // rename is the CAS. On the LOCAL filesystem, Hadoop's rename falls
    // through to POSIX rename(2), which silently REPLACES an existing
    // destination — so there the install is a hard link instead:
    // link(2) is kernel-atomic and fails with EEXIST if the target
    // appeared, which is exactly compare-and-swap (raced in
    // ManifestRaceSpec: 20 rounds, exactly one winner each).
    val installed =
      if ("file".equalsIgnoreCase(target.toUri.getScheme) ||
          "file".equalsIgnoreCase(fs.getScheme)) {
        try {
          java.nio.file.Files.createLink(
            java.nio.file.Paths.get(fs.makeQualified(target).toUri.getPath),
            java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath))
          fs.delete(tmp, false)
          true
        } catch {
          case _: java.nio.file.FileAlreadyExistsException => false
        }
      } else fs.rename(tmp, target)
    if (!installed) {
      fs.delete(tmp, false)
      throw new IllegalArgumentException(
        s"concurrent commit detected: version ${m.version} already exists at $target")
    }
    } finally liveCommitTmps.remove(tmp.getName)
  }

  private[ts] def readManifest(spark: SparkSession, path: String,
                               version: Long): TsManifest = {
    val target = new Path(path, manifestName(version))
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(target),
      s"no snapshot version $version at $path (expired or never committed); " +
        "available: " + listVersions(spark, path).sorted.mkString(", "))
    val in = fs.open(target)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val lines = text.split("\n")
    val head = lines(0).split(";").map(_.split("=", 2))
      .collect { case Array(k, v) => k -> v }.toMap
    def parseCols(p: String, raw: String): (String, Map[String, ColSpan]) =
      p -> raw.split(",").iterator.filter(_.nonEmpty).map { part =>
        val Array(c, spec) = part.split("=", 2)
        val Array(t, lo, hi) = spec.split(":", 3)
        c -> ColSpan(t.head, lo, hi)
      }.toMap
    val parsed = lines.drop(3).iterator.filter(_.nonEmpty).map { l =>
      l.split("\t") match {
        case Array(p, sz, mn, mx, cols) =>
          (p, sz.toLong, Some((mn.toLong, mx.toLong)), Some(parseCols(p, cols)))
        case Array(p, sz, mn, mx) =>
          (p, sz.toLong, Some((mn.toLong, mx.toLong)), None)
        case Array(p, sz) => (p, sz.toLong, None, None) // pre-stats line
        case other => throw new IllegalArgumentException(
          s"malformed manifest line '${l}' in $target")
      }
    }.toSeq
    TsManifest(head("version").toLong, head("action"), lines(1).trim,
      DataType.fromJson(lines(2)).asInstanceOf[StructType],
      parsed.map(f => (f._1, f._2)),
      parsed.collect { case (p, _, Some(span), _) => p -> span }.toMap,
      head -- Seq("version", "action", "commitMs"),
      parsed.flatMap(_._4).toMap)
  }

  /** Closed ts span (epoch µs) of one parquet file, from footer metadata
    * ONLY — no data pages read. Usable iff the ts column is physically
    * INT64 TIMESTAMP (µs/ms/ns, UTC-adjusted — every engine-written file
    * is µs, `ArchiveResolvingParquetFileFormat.prepareWrite`'s pin) and
    * EVERY row group carries non-null min/max statistics. Anything else →
    * None and the file just never gets skipped (INT96 attachments, statless
    * writers, local-semantics NTZ — soundness over coverage). Static and
    * Configuration-fed so commit-time collection can run one task per
    * file on executors. */
  private[ts] def footerTsSpan(conf: org.apache.hadoop.conf.Configuration,
                               file: Path, tsCol: String): Option[(Long, Long)] =
    footerSpans(conf, file, tsCol, Seq.empty)._1

  /** `f` over each item with the Hadoop conf, one Spark task per item
    * (at most `defaultParallelism` slices), results in input order — for
    * per-file work that must run at cluster bandwidth, never streamed
    * through the driver JVM. The conf ships as a
    * [[org.apache.spark.sql.graft.LeanConfiguration]] (every property,
    * no provenance). */
  private[ts] def onExecutors[A: ClassTag, B: ClassTag](spark: SparkSession,
      items: Seq[A])(f: (org.apache.hadoop.conf.Configuration, A) => B): Seq[B] = {
    val conf = new org.apache.spark.util.SerializableConfiguration(
      new org.apache.spark.sql.graft.LeanConfiguration(
        spark.sparkContext.hadoopConfiguration))
    val slices = math.min(items.length,
      spark.sparkContext.defaultParallelism).max(1)
    spark.sparkContext.parallelize(items, slices)
      .map(a => f(conf.value, a)).collect().toSeq
  }

  /** [[onExecutors]] for footer-sized per-file work: on the driver for a
    * handful of files, where a job would cost more than the work. */
  private[ts] def perFile[A: ClassTag, B: ClassTag](spark: SparkSession,
      items: Seq[A])(f: (org.apache.hadoop.conf.Configuration, A) => B): Seq[B] =
    if (items.length <= 16) {
      val conf = spark.sparkContext.hadoopConfiguration
      items.map(f(conf, _))
    } else onExecutors(spark, items)(f)

  /** Copy each `(src, dst)` file (qualified path strings), one task per
    * file: a large restore or clone moves bytes at cluster write
    * bandwidth, never through the driver JVM. The source is kept, and
    * overwrite makes a retried task idempotent. */
  private[ts] def copyFiles(spark: SparkSession,
                            pairs: Seq[(String, String)]): Unit =
    if (pairs.nonEmpty) onExecutors(spark, pairs) { case (conf, (src, dst)) =>
      val sp = new Path(src)
      val dp = new Path(dst)
      val dstFs = dp.getFileSystem(conf)
      dstFs.mkdirs(dp.getParent)
      org.apache.hadoop.fs.FileUtil.copy(sp.getFileSystem(conf), sp,
        dstFs, dp, false, true, conf)
    }

  /** Whether EVERY top-level field in one parquet file's footer schema
    * carries a field id — the rename-safety predicate (id-resolved reads
    * retarget renamed columns; by-name files cannot). Footer metadata
    * only, no data pages. An unreadable footer is `false`: the callers
    * (rename guard, migrate discovery) must treat a file they cannot
    * prove id-stamped as foreign. Static and Configuration-fed so
    * discovery can run one task per file on executors. */
  private[ts] def footerHasFieldIds(
      conf: org.apache.hadoop.conf.Configuration, file: Path): Boolean = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    try {
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val fields = rd.getFooter.getFileMetaData.getSchema.getFields.asScala
        fields.nonEmpty && fields.forall(_.getId != null)
      } finally rd.close()
    } catch { case _: Exception => false }
  }

  /** One footer open, three harvests: the ts span (see [[footerTsSpan]]'s
    * usability rules); independently, best-effort per column, the
    * min/max of each requested stats column (INT32/INT64 → 'l',
    * FLOAT/DOUBLE → 'd'; a column missing stats in ANY row group, or
    * carrying non-finite bounds, is simply dropped — never skipped on);
    * and the writer-built Bloom bits stored under each of `bloomKeys`'
    * footer keys (column → key; absent keys are simply missing). */
  private[ts] def footerSpans(conf: org.apache.hadoop.conf.Configuration,
                              file: Path, tsCol: String, cols: Seq[String],
                              bloomKeys: Map[String, String] = Map.empty)
      : (Option[(Long, Long)], Map[String, ColSpan], Map[String, Array[Byte]]) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
    import scala.jdk.CollectionConverters._
    try {
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
      try {
        val blocks = rd.getFooter.getBlocks.asScala
        if (blocks.isEmpty) return (None, Map.empty, Map.empty)

        // ── ts span (all-or-nothing across row groups)
        var tsOk = true
        var mn = Long.MaxValue
        var mx = Long.MinValue
        for (b <- blocks if tsOk) {
          val span = for {
            c <- b.getColumns.asScala.find(_.getPath.toDotString == tsCol)
            if c.getPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.INT64
            scale <- c.getPrimitiveType.getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                  if t.isAdjustedToUTC =>
                t.getUnit match {
                  case LogicalTypeAnnotation.TimeUnit.MICROS => Some(1L)
                  case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(1000L)
                  case LogicalTypeAnnotation.TimeUnit.NANOS => Some(-1L)
                }
              case _ => None
            }
            st <- Option(c.getStatistics)
            if !st.isEmpty && st.hasNonNullValue
            span <- (st.genericGetMin, st.genericGetMax) match {
              case (lo: java.lang.Long, hi: java.lang.Long) =>
                // -1: ns, floor-divide (the events loader's `div 1000` rule)
                if (scale == -1L)
                  Some((Math.floorDiv(lo.longValue, 1000L),
                    Math.floorDiv(hi.longValue, 1000L)))
                else Some((lo.longValue * scale, hi.longValue * scale))
              case _ => None
            }
          } yield span
          span match {
            case Some((l, h)) =>
              if (l < mn) mn = l
              if (h > mx) mx = h
            case None => tsOk = false
          }
        }

        // ── per-column spans (each column all-or-nothing independently)
        val colSpans = cols.flatMap { name =>
          var typ = ' '
          var loL = Long.MaxValue; var hiL = Long.MinValue
          var loD = Double.MaxValue; var hiD = Double.MinValue
          var ok = true
          for (b <- blocks if ok) {
            b.getColumns.asScala.find(_.getPath.toDotString == name) match {
              case Some(c) =>
                val st = c.getStatistics
                if (st == null || st.isEmpty || !st.hasNonNullValue) ok = false
                else (st.genericGetMin, st.genericGetMax) match {
                  case (lo: java.lang.Long, hi: java.lang.Long) =>
                    typ = 'l'
                    loL = math.min(loL, lo.longValue)
                    hiL = math.max(hiL, hi.longValue)
                  case (lo: java.lang.Integer, hi: java.lang.Integer) =>
                    typ = 'l'
                    loL = math.min(loL, lo.longValue)
                    hiL = math.max(hiL, hi.longValue)
                  case (lo: java.lang.Double, hi: java.lang.Double) =>
                    typ = 'd'
                    loD = math.min(loD, lo.doubleValue)
                    hiD = math.max(hiD, hi.doubleValue)
                  case (lo: java.lang.Float, hi: java.lang.Float) =>
                    typ = 'd'
                    loD = math.min(loD, lo.doubleValue)
                    hiD = math.max(hiD, hi.doubleValue)
                  case _ => ok = false
                }
              case None => ok = false
            }
          }
          // 'e' = harvested, nothing skippable (all-null column, absent
          // column, statless writer, NaN/±Inf bounds). Readers KEEP such
          // files; recording the marker instead of omitting the entry is
          // what lets commit-time carry-forward see the column as covered —
          // without it, a declared column that yields no span would force
          // a footer re-read of the file on EVERY subsequent commit.
          if (!ok || typ == ' ') Some(name -> ColSpan('e', "0", "0"))
          else if (typ == 'l') Some(name -> ColSpan('l', loL.toString, hiL.toString))
          else if (java.lang.Double.isFinite(loD) && java.lang.Double.isFinite(hiD))
            Some(name -> ColSpan('d', loD.toString, hiD.toString))
          else Some(name -> ColSpan('e', "0", "0"))
        }.toMap

        val kv = rd.getFooter.getFileMetaData.getKeyValueMetaData
        val blooms = bloomKeys.flatMap { case (c, k) =>
          Option(kv.get(k)).map(v => c -> BloomParquetWriteSupport.decode(v))
        }

        (if (tsOk) Some((mn, mx)) else None, colSpans, blooms)
      } finally rd.close()
    } catch { case scala.util.control.NonFatal(_) => (None, Map.empty, Map.empty) }
  }

  /** Pin a committed version of the table at `path` — usable without a
    * live handle (the manifest carries the version's own schema + tsCol,
    * so this works even after later schema evolution). */
  def openAt(spark: SparkSession, path: String, version: Long): TsSnapshot = {
    val m = readManifest(spark, path, version)
    new TsSnapshot(spark, path, m.tsCol, m)
  }

  /** Create a new (empty) table: persists the declared schema (and write
    * options) so the table can be reopened before any data lands (the
    * reference stores the PyTables description + filters at `create_ts`
    * time). */
  def create(spark: SparkSession, path: String, schema: StructType,
             tsCol: String = "ts",
             writeOptions: TsWriteOptions = TsWriteOptions()): TsTable = {
    require(schema.fieldNames.contains(tsCol), s"schema must contain '$tsCol'")
    require(schema(tsCol).dataType == TimestampType,
      s"'$tsCol' must be TimestampType, got ${schema(tsCol).dataType}")
    require(!schema.fieldNames.contains(PartCol),
      s"'$PartCol' is reserved for the partition column")
    require(writeOptions.statsCols.forall(schema.fieldNames.contains),
      s"statsCols ${writeOptions.statsCols.filterNot(schema.fieldNames.contains).mkString(", ")} " +
        "are not table columns")
    require(writeOptions.bloomCols.forall(schema.fieldNames.contains),
      s"bloomCols ${writeOptions.bloomCols.filterNot(schema.fieldNames.contains).mkString(", ")} " +
        "are not table columns")
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(dir)
    // every created table is field-id stamped from birth (ids 1..n) —
    // files resolve read columns by ID, which is what makes renameColumn
    // pure DDL and retires name-collision resurrection for these tables
    val stamped = stampFieldIds(schema)
    enableFieldIdResolution(spark)
    // v1: the empty table is a pinnable state
    install(spark, path, TsDescriptor(stamped, tsCol, writeOptions,
      nextFieldId = stamped.fields.length + 1L), Some("create"))
  }

  /** Field-id read/write resolution is a session conf, not a per-read
    * option — flip it on once per session when an id-stamped table is
    * touched. Safe globally: schemas WITHOUT id metadata (everything
    * else in the session) are entirely unaffected. */
  private[graft] def enableFieldIdResolution(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
  }

  /** The one step every descriptor change takes: install `d` at `path`
    * ([[writeDescriptor]]), build its handle, and commit `action` on it
    * (None: the caller commits, or nothing does). Descriptor first, version
    * second: a crash in between leaves the new descriptor serving, and the
    * next commit records the version. */
  private[ts] def install(spark: SparkSession, path: String, d: TsDescriptor,
                          action: Option[String],
                          meta: Map[String, String] = Map.empty): TsTable = {
    writeDescriptor(spark, path, d)
    val t = new TsTable(spark, path, d)
    action.foreach(t.commitVersion(_, meta))
    t
  }

  /** (Re)write the schema descriptor via temp-file + rename, so a crash
    * mid-write leaves either the old or the new descriptor, never a
    * truncated one. Each writer has its own temp name, and where rename
    * replaces the target (the local file system) the swap leaves no moment
    * without a descriptor; elsewhere it falls back to delete + rename,
    * whose window holds a complete temp file, not partial bytes. Two
    * concurrent writers still lose one's update (ROADMAP direction 2), but
    * the last rename leaves a whole descriptor. On a checksummed file
    * system the descriptor is written without a `.crc`: two writers'
    * data and `.crc` renames could otherwise pair one's bytes with the
    * other's checksums, and a failed check moves the file aside. */
  private[ts] def writeDescriptor(spark: SparkSession, path: String,
                                  d: TsDescriptor): Unit = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration) match {
      case c: ChecksumFileSystem => c.getRawFileSystem
      case other => other
    }
    val target = new Path(dir, SchemaFile)
    val tmp = new Path(dir, s"$SchemaFile.tmp.${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    try out.write(d.encode.getBytes("UTF-8"))
    finally out.close()
    fs.delete(new Path(dir, s".$SchemaFile.crc"), false) // an older writer's checksums
    if (!fs.rename(tmp, target)) {
      fs.delete(target, false)
      require(fs.rename(tmp, target), s"failed to install schema descriptor at $target")
    }
  }

  /** Attach to an existing table; schema + write options come from the
    * stored descriptor (or, for plain partitioned-Parquet dirs, from the
    * footers + defaults) — the analogue of `get_timeseries` needing no
    * description. Round-2-era descriptors without an options line decode to
    * the defaults. */
  def open(spark: SparkSession, path: String, tsCol: String = "ts"): TsTable = {
    val dir = new Path(path)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val metaPath = new Path(dir, SchemaFile)
    def tmpVisible(): Boolean =
      Option(fs.globStatus(new Path(dir, SchemaFile + ".tmp*"))).exists(_.nonEmpty)
    def tryRead(): Option[String] =
      try {
        val in = fs.open(metaPath)
        Some(try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close())
      } catch { case _: java.io.FileNotFoundException => None }
    // Where rename does not replace, writeDescriptor installs via
    // delete+rename, so a concurrent open can land in a sub-ms window with
    // no descriptor on disk. Treating that
    // window as "no descriptor" would silently DOWNGRADE a governed table
    // to an attached plain dir (inferred schema, no options, no ids) —
    // retry briefly while either the descriptor or its tmp is visible,
    // and refuse loudly on a crashed half-swap (tmp only, never healing).
    val descriptor: Option[String] = tryRead().orElse {
      var res: Option[String] = None
      var i = 0
      while (res.isEmpty && i < 10 &&
          (tmpVisible() || fs.exists(metaPath))) {
        Thread.sleep(20L); res = tryRead(); i += 1
      }
      if (res.isEmpty && tmpVisible())
        throw new IllegalStateException(
          s"$path: descriptor swap left only a $SchemaFile.tmp file (a crashed " +
            "writeDescriptor) — re-run the interrupted DDL or remove the " +
            "tmp before opening")
      res
    }
    descriptor match {
      case Some(text) =>
        val d = TsDescriptor.decode(text)
        if (hasFieldIds(d.schema)) enableFieldIdResolution(spark)
        new TsTable(spark, path, d)
      case None =>
        val inferred = spark.read.parquet(path).schema
        new TsTable(spark, path,
          TsDescriptor(StructType(inferred.filterNot(_.name == PartCol)), tsCol))
    }
  }
}
