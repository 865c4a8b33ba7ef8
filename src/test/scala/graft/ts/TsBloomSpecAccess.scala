package graft.ts

import org.apache.spark.sql.SparkSession

/** Test-side window into the `private[ts]` bloom sidecar reader, harvest
  * and footer bits, so the Bloom specs can assert carry-forward coverage
  * and write-time bits without widening the production API. */
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
    TsTable.writeDescriptor(t.spark, t.path, t.schema, t.tsCol,
      t.writeOptions.copy(bloomBits = bits), t.checks, t.dropped,
      t.effectiveNextFieldId)
    TsTable.open(t.spark, t.path, t.tsCol)
  }

  /** The candidate pass WITH the manifest it validated — (manifest
    * version, manifest file names, candidates) — so the race spec can
    * assert lookupEq's prune and scan share one authority check. */
  def candidatesWithManifest(t: TsTable, column: String, values: Seq[Any])
      : Option[(Long, Seq[String], Seq[String])] =
    t.bloomCandidatesWithManifest(column, values).map { case (m, cands, _) =>
      (m.version, m.files.map(_._1), cands)
    }
}
