package graft.ts

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Test-side window into the `private[ts]` bloom sidecar reader, harvest,
  * footer bits and manifest stats, and onto the files a lookup's plan
  * reads, so the Bloom specs can assert carry-forward coverage, write-time
  * bits and file skipping without widening the production API. */
object TsBloomSpecAccess {
  def sidecar(spark: SparkSession, fs: org.apache.hadoop.fs.FileSystem,
      path: String, v: Long): Map[String, Map[String, Array[Byte]]] =
    TsTable.readBloomSidecar(fs, path, v)

  /** The commit-time fallback harvest (one scan) of `rels`' bits. */
  def harvest(t: TsTable, rels: Seq[String]): Map[String, Map[String, Array[Byte]]] =
    t.harvestBlooms(rels)

  /** The writer-built bits in `rel`'s footer that the commit path accepts
    * under `t`'s current declaration (column → bytes). */
  def footerBits(t: TsTable, rel: String): Map[String, Array[Byte]] = {
    val keys = t.liveBloomCols.map(c => c -> org.apache.spark.sql.graft
      .BloomParquetWriteSupport.footerKey(t.schema(c), t.writeOptions.bloomBits)).toMap
    TsTable.footerSpans(t.spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(t.path, rel), t.tsCol, Seq.empty, keys)._3
  }

  /** The current manifest's live DATED files (the Bloom-indexed ones). */
  def liveDated(t: TsTable): Seq[String] =
    TsTable.readManifest(t.spark, t.path, t.currentVersion.get)
      .files.map(_._1).filter(_.contains("/"))

  /** Re-declare `t`'s Bloom bit count in its descriptor (no commit). */
  def withBloomBits(t: TsTable, bits: Long): TsTable = {
    TsTable.writeDescriptor(t.spark, t.path, t.desc.copy(
      options = t.writeOptions.copy(bloomBits = bits),
      nextFieldId = t.effectiveNextFieldId))
    TsTable.open(t.spark, t.path, t.tsCol)
  }

  /** The current manifest's per-file declared-stats spans. */
  def colStats(t: TsTable): Map[String, Map[String, ColSpan]] =
    TsTable.readManifest(t.spark, t.path, t.currentVersion.get).colStats

  /** The table-relative files the `lookupEq` plan's file index lists —
    * the files that lookup actually reads. */
  def plannedFiles(t: TsTable, column: String, values: Seq[Any]): Seq[String] =
    listedFiles(t, t.lookupEq(column, values))

  /** The table-relative files the file index of `df`'s (V1) scan lists;
    * `listedFiles(t, t.toDF)` is every live file. */
  def listedFiles(t: TsTable, df: DataFrame): Seq[String] = {
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    def bare(p: Path): String = Path.getPathWithoutSchemeAndAuthority(p).toString
    val root = bare(new Path(t.path)) + "/"
    scan.relation.location.listFiles(scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files)
      .map(f => bare(f.getPath).stripPrefix(root).stripPrefix(TsTable.ArchiveDir + "/"))
  }
}
