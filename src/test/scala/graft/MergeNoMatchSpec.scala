package graft

import graft.ts.TsTable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** `mergeInto`'s no-match short-circuit: when the keys include the ts
  * column and the source's ts span overlaps no live file's manifest span,
  * no source row can match, so the merge skips match discovery and the
  * anti-join. Each case compares the merged table against the expected
  * rows; only the disjoint case with the ts key may run fewer jobs. The
  * guard must not fire when the keys omit ts, when a live file carries no
  * ts span, or when the live tree holds a file the manifest does not list
  * — in each of those the source row matches a stored row and must
  * update it, never insert a duplicate. */
class MergeNoMatchSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("id", LongType),
    StructField("v", DoubleType)))

  private def ts(s: String) = Timestamp.valueOf(s)

  private def frame(rows: Seq[(String, Long, Double)]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (t, id, v) => Row(ts(t), id, v) }, 2), schema)

  /** Two days of ten rows each: ids 1-10 on 04-01, 11-20 on 04-02. */
  private val base: Seq[(String, Long, Double)] =
    (1 to 10).map(i => (f"2024-04-01 10:00:$i%02d", i.toLong, i.toDouble)) ++
      (11 to 20).map(i => (f"2024-04-02 10:00:$i%02d", i.toLong, i.toDouble))

  private def table(tag: String): TsTable = {
    val p = new java.io.File(sys.props("java.io.tmpdir"), s"graft_mergenm_$tag").toString
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration).delete(new Path(p), true)
    val t = TsTable.create(spark, p, schema)
    t.append(frame(base.take(10)))
    t.append(frame(base.drop(10)))
    t
  }

  private def contents(t: TsTable): Set[(Timestamp, Long, Double)] =
    TsTable.open(spark, t.path).toDF.collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getDouble(2))).toSet

  private def expected(rows: Seq[(String, Long, Double)]) =
    rows.map { case (t, id, v) => (ts(t), id, v) }.toSet

  test("disjoint source with the ts key: all rows insert, and fewer jobs run " +
      "than for the same merge keyed without ts") {
    val src = frame(Seq(("2024-04-03 09:00:00", 21L, 21.0), ("2024-04-03 09:00:01", 22L, 22.0)))
      .localCheckpoint()
    val a = table("disjoint_ts")
    val b = table("disjoint_nots")
    var ra, rb: TsTable.MergeResult = null
    val withTs = JobCount.during(spark) { ra = a.mergeInto(src, keys = Seq("ts", "id")) }
    val withoutTs = JobCount.during(spark) { rb = b.mergeInto(src, keys = Seq("id")) }
    assert(ra == TsTable.MergeResult(0L, 2L) && rb == ra)
    val want = expected(base ++ Seq(("2024-04-03 09:00:00", 21L, 21.0),
      ("2024-04-03 09:00:01", 22L, 22.0)))
    assert(contents(a) == want && contents(b) == want)
    assert(withTs < withoutTs, s"short-circuit ran $withTs jobs, full path $withoutTs")
    // the insert-only merge still commits as a file-additive backfill
    assert(a.history.orderBy(col("version").desc).head.getAs[String]("action") == "backfill")
  }

  test("overlapping source: matched rows update, new rows inside a stored span insert") {
    val t = table("overlap")
    val r = t.mergeInto(frame(Seq(("2024-04-02 10:00:12", 12L, -12.0),
      ("2024-04-02 10:00:30", 99L, 99.0))), keys = Seq("ts", "id"))
    assert(r == TsTable.MergeResult(1L, 1L))
    assert(contents(t) == expected(base.map {
      case (s, 12L, _) => (s, 12L, -12.0)
      case x => x
    } :+ (("2024-04-02 10:00:30", 99L, 99.0))))
  }

  test("keys without ts: a ts-disjoint source row still matches by id and updates") {
    val t = table("nots")
    val r = t.mergeInto(frame(Seq(("2024-04-09 00:00:00", 5L, -5.0))), keys = Seq("id"))
    assert(r == TsTable.MergeResult(1L, 0L))
    assert(contents(t) == expected(base.map {
      case (s, 5L, _) => (s, 5L, -5.0)
      case x => x
    }))
  }

  test("a live file without a ts span disables the short-circuit") {
    val t = table("spanless")
    // INT96 timestamps carry no usable footer span; the checkpoint lists
    // the attached file in the manifest without one
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    try frame(Seq(("2024-04-06 00:00:01", 900L, 1.0)))
      .write.parquet(t.path + "/p_date=2024-04-06")
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    t.checkpoint()
    val r = t.mergeInto(frame(Seq(("2024-04-06 00:00:01", 900L, 2.0))), keys = Seq("ts", "id"))
    assert(r == TsTable.MergeResult(1L, 0L))
    assert(contents(t) == expected(base :+ (("2024-04-06 00:00:01", 900L, 2.0))))
  }

  test("a live file the manifest does not list disables the short-circuit") {
    val t = table("orphan")
    // a crashed append's orphan: a dated file in the live tree that no
    // manifest lists yet
    frame(Seq(("2024-04-07 00:00:01", 901L, 1.0))).coalesce(1)
      .write.parquet(t.path + "/p_date=2024-04-07")
    val src = frame(Seq(("2024-04-07 00:00:01", 901L, 2.0)))
    // the source row matches the orphan's row, so the merge must find it
    // and refuse to rewrite an unmanifested file (never insert a duplicate)
    intercept[TsTable.ConcurrentRewriteException](t.mergeInto(src, keys = Seq("ts", "id")))
    assert(contents(t) == expected(base :+ (("2024-04-07 00:00:01", 901L, 1.0))))
    t.checkpoint()
    assert(t.mergeInto(src, keys = Seq("ts", "id")) == TsTable.MergeResult(1L, 0L))
    assert(contents(t) == expected(base :+ (("2024-04-07 00:00:01", 901L, 2.0))))
  }
}
