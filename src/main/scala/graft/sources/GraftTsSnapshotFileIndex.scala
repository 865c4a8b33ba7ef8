package graft.sources

import graft.ts.{TsSnapshot, TsTable}

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{PartitionPath, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.types.{DateType, StructField, StructType}

import scala.collection.mutable

/** File index over one committed TsTable SNAPSHOT — the V2 connector's
  * time-travel backend (`option("asOf", version)`). Where the live table's
  * `InMemoryFileIndex` trusts the directory listing, this index serves
  * EXACTLY the manifest's file set, wherever each file now lives (still in
  * the live tree, or moved to `_ts_archive/` by a later compact/retention)
  * — which is why a pinned V2 read keeps working under concurrent
  * maintenance. Partition VALUES come from the manifest's relative paths,
  * not directory inference, so a date's files may legitimately span two
  * physical directories (live + archive): each becomes its own
  * `PartitionPath` carrying the same date value, and partition pruning on
  * `p_date` works unchanged. File sizes are the manifest's recorded sizes
  * (already integrity-checked during resolution); no extra listing RPCs
  * beyond the one-per-referenced-directory resolution pass. */
final class GraftTsSnapshotFileIndex(
    spark: SparkSession,
    tablePath: Path,
    snapshot: TsSnapshot)
  extends PartitioningAwareFileIndex(spark, Map.empty, None) {

  private val partSchema =
    StructType(Seq(StructField(TsTable.PartCol, DateType, nullable = true)))

  // resolution happens ONCE per index instance (a fresh Table — every
  // load() — gets a fresh index, the live-path rule)
  private val resolvedNow: Seq[(String, Path, Long)] =
    snapshot.resolvedFiles.map { case (date, p, len, _) => (date, p, len) }

  private val statuses: Seq[(String, FileStatus)] = resolvedNow.map {
    case (date, p, len) =>
      // mtime/blocksize synthesized: scans consume path + length; the
      // manifest is the source of truth for membership and size
      date -> new FileStatus(len, false, 1, 0L, 0L, p)
  }

  private val byDir: Seq[((String, Path), Array[FileStatus])] = statuses
    .groupBy { case (date, st) => (date, st.getPath.getParent) }
    .view.mapValues(_.map(_._2).toArray).toSeq

  private val spec: PartitionSpec = PartitionSpec(
    partSchema,
    byDir.map { case ((date, dir), _) =>
      // DateType's internal form is epoch DAYS — derive it TZ-free via
      // LocalDate (java.sql.Date.valueOf + fromJavaDate would round-trip
      // through the JVM default zone and could shift a day on hosts west
      // of UTC — the same trap readRange's in-plan to_date avoids). The
      // empty sentinel = loose root-level files → null partition value.
      PartitionPath(
        InternalRow(
          if (date.isEmpty) null
          else Int.box(java.time.LocalDate.parse(date).toEpochDay.toInt)),
        dir)
    })

  override def partitionSpec(): PartitionSpec = spec

  private val skip = snapshot.skipIndex

  // the skip index is keyed by the manifest's TABLE-RELATIVE path:
  // resolution strips the table root (and the archive segment) back to
  // it — never the basename: one write task landing in several day
  // partitions gives every partition the SAME part-file name
  // (part-00000-<jobUUID>), and basename keying collapsed those files
  // onto one span, making the ts-span skip prune files that DO intersect
  // the query range (silent row loss, caught when the V1 facade unified
  // onto this index).
  private def relOf(p: Path): String = {
    val root = tablePath.toString
    val s = p.toString
    val archPrefix = s"$root/_ts_archive/"
    if (s.startsWith(archPrefix)) s.substring(archPrefix.length)
    else if (s.startsWith(root + "/")) s.substring(root.length + 1)
    else p.getName // foreign layout: fall back, matching at worst nothing
  }

  /** Same planning-time file skipping as the live index
    * ([[GraftTsStatsFileIndex.SkipIndex]]): a pinned needle query (one
    * user's rows as of last month's version) plans the same file set the
    * live lookup would — time travel keeps the indexes. */
  override def listFiles(
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
      dataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression])
      : Seq[org.apache.spark.sql.execution.datasources.PartitionDirectory] =
    skip.skipFiles(super.listFiles(partitionFilters, dataFilters), dataFilters)(relOf)

  override protected def leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(statuses.map(s => s._2.getPath -> s._2): _*)

  override protected def leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    byDir.map { case ((_, dir), fs0) => dir -> fs0 }.toMap

  override def rootPaths: Seq[Path] = Seq(tablePath)

  override def refresh(): Unit = () // immutable by construction
}
