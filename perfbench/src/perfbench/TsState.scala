package perfbench

import graft.ts.TsTable

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** End-of-run state of the stored tables, read from disk. */
object TsState {
  /** Raw bytes of one tick row: ts 8, symbol 5, price 8, qty 8. */
  val RowBytes = 29

  private def files(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
    }

  /** `table`'s versions, live and archived data files; bytes stored under
    * all of `roots` per raw byte of the `userRows` rows written. */
  def of(spark: SparkSession, roots: Seq[String], table: String,
         userRows: Long): Map[String, Double] = {
    val root = Paths.get(table)
    val data = files(root).filter(_.getFileName.toString.endsWith(".parquet"))
    val archived = data.count(p => root.relativize(p).getName(0).toString == "_ts_archive")
    val live = data.count(p => !root.relativize(p).getName(0).toString.startsWith("_"))
    val stored = roots.flatMap(r => files(Paths.get(r))).map(Files.size).sum.toDouble
    Map(
      "ts.versions" -> TsTable.open(spark, table).snapshotVersions.size.toDouble,
      "ts.live_files" -> live.toDouble,
      "ts.archived_files" -> archived.toDouble,
      "ts.stored_bytes" -> stored,
      "ts.bytes_per_user_byte" -> stored / (userRows.toDouble * RowBytes))
  }
}
