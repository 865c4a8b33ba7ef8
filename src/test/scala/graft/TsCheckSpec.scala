package graft

import graft.ts.TsTable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** CHECK constraints: declared once, enforced on every write face (facade
  * append, schema-evolving append, update/merge rewrites, SQL INSERT
  * through the connector), SQL semantics (NULL passes, FALSE violates),
  * persisted in the descriptor. */
class TsCheckSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("value", DoubleType)))

  private def mkRows(rows: Seq[(String, Long, Double)]): DataFrame = {
    import spark.implicits._
    rows.map { case (s, u, v) => (Timestamp.valueOf(s), u, v) }
      .toDF("ts", "user_id", "value")
  }

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("ts_check_spec").toString

  test("addCheck validates existing data, persists in the descriptor, " +
      "gates appends, and dropCheck lifts the gate") {
    val dir = freshDir()
    val t0 = TsTable.create(spark, dir, schema)
    t0.append(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0))))
    // existing data violates → refused; validateExisting=false admits it
    intercept[IllegalArgumentException](t0.addCheck("neg", "value < 0"))
    assert(t0.addCheck("neg2", "value < 0", validateExisting = false)
      .checks.map(_._1) == Seq("neg2"))
    val t = TsTable.open(spark, dir).dropCheck("neg2")
      .addCheck("nonneg", "value >= 0")
    assert(t.checks == Seq("nonneg" -> "value >= 0"))
    // persisted: a fresh open carries it, and the commit log shows it
    val reopened = TsTable.open(spark, dir)
    assert(reopened.checks == Seq("nonneg" -> "value >= 0"))
    assert(reopened.snapshotVersions.last._2 == "constraint")
    // violating append: rejected, NOTHING lands
    val e = intercept[IllegalArgumentException](reopened.append(mkRows(Seq(
      ("2024-03-02 10:00:00", 2L, 2.0), ("2024-03-02 11:00:00", 3L, -1.0)))))
    assert(e.getMessage.contains("nonneg"), e.getMessage)
    assert(reopened.toDF.count() == 1)
    // valid append lands; NULL passes (SQL CHECK: unknown is not false)
    reopened.append(mkRows(Seq(("2024-03-02 10:00:00", 2L, 2.0))))
    val withNull = spark.sql(
      "SELECT CAST('2024-03-03 10:00:00' AS TIMESTAMP) AS ts, " +
        "CAST(4 AS BIGINT) AS user_id, CAST(NULL AS DOUBLE) AS value")
    reopened.append(withNull)
    assert(reopened.toDF.count() == 3)
    // dropCheck: the violating batch now lands
    val unchecked = TsTable.open(spark, dir).dropCheck("nonneg")
    unchecked.append(mkRows(Seq(("2024-03-04 10:00:00", 5L, -9.0))))
    assert(unchecked.toDF.count() == 4)
    // unknown column in a predicate fails at declaration
    intercept[Exception](unchecked.addCheck("bad", "nope > 0"))
  }

  test("update/merge rewrites are gated on the STAGED output and abort " +
      "cleanly; deletes skip the gate") {
    val dir = freshDir()
    TsTable.create(spark, dir, schema)
      .append(mkRows(Seq(
        ("2024-03-01 10:00:00", 1L, 1.0), ("2024-03-02 10:00:00", 2L, 2.0))))
    val stale = TsTable.open(spark, dir) // opened before the CHECK exists
    val t = TsTable.open(spark, dir).addCheck("nonneg", "value >= 0")
    val v = t.currentVersion.get
    // an update that would write a violating row: rejected, live untouched
    val e = intercept[IllegalArgumentException](
      t.updateWhere(col("user_id") === 2L, Map("value" -> lit(-5.0))))
    assert(e.getMessage.contains("nonneg"))
    assert(t.currentVersion.get == v, "no commit on a rejected update")
    assert(t.toDF.where(col("user_id") === 2L).head.getDouble(2) == 2.0)
    assert(!new java.io.File(dir).listFiles.exists(
      _.getName.startsWith("_delete_tmp")), "staging cleaned")
    // a merge whose INSERT violates: rejected the same way
    val e2 = intercept[IllegalArgumentException](
      t.mergeInto(mkRows(Seq(("2024-03-03 10:00:00", 9L, -1.0))),
        keys = Seq("ts", "user_id")))
    assert(e2.getMessage.contains("nonneg"))
    assert(t.toDF.count() == 2)
    // compliant update and merge still work
    assert(t.updateWhere(col("user_id") === 2L, Map("value" -> lit(5.0))) == 1L)
    assert(t.mergeInto(mkRows(Seq(("2024-03-03 10:00:00", 9L, 9.0))),
      keys = Seq("ts", "user_id")) == TsTable.MergeResult(0L, 1L))
    // delete never violates and is not gated
    assert(t.deleteWhere(col("user_id") === 9L) == 1L)
    // a handle opened before the CHECK existed is gated all the same: its
    // rewrites run on the live descriptor
    val v2 = t.currentVersion.get
    val e3 = intercept[IllegalArgumentException](
      stale.updateWhere(col("user_id") === 2L, Map("value" -> lit(-5.0))))
    assert(e3.getMessage.contains("nonneg"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](
      stale.mergeInto(mkRows(Seq(("2024-03-04 10:00:00", 8L, -1.0))),
        keys = Seq("ts", "user_id")))
    assert(e4.getMessage.contains("nonneg"), e4.getMessage)
    assert(t.currentVersion.get == v2, "no commit on a rejected rewrite")
    assert(t.toDF.where(col("value") < 0).count() == 0)
  }

  test("cloneAt through a handle opened before a CHECK carries the CHECK") {
    val dir = freshDir()
    TsTable.create(spark, dir, schema)
      .append(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0))))
    val stale = TsTable.open(spark, dir) // opened before the CHECK exists
    val v = TsTable.open(spark, dir).addCheck("pos", "value > 0")
      .currentVersion.get
    val dest = freshDir() + "/clone"
    val clone = stale.cloneAt(v, dest)
    assert(clone.checks == Seq("pos" -> "value > 0"))
    assert(TsTable.open(spark, dest).checks == Seq("pos" -> "value > 0"))
    intercept[IllegalArgumentException](
      clone.append(mkRows(Seq(("2024-03-02 10:00:00", 2L, -1.0)))))
  }

  test("SQL INSERT through the V2 writer enforces checks per row") {
    val dir = freshDir()
    TsTable.create(spark, dir, schema)
    TsTable.open(spark, dir).addCheck("nonneg", "value >= 0")
    spark.sql(s"INSERT INTO graft_ts.`$dir` " +
      "SELECT CAST('2024-03-01 10:00:00' AS TIMESTAMP), CAST(1 AS BIGINT), 1.0")
    val e = intercept[Exception](spark.sql(s"INSERT INTO graft_ts.`$dir` " +
      "SELECT CAST('2024-03-02 10:00:00' AS TIMESTAMP), CAST(2 AS BIGINT), -1.0"))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("nonneg"), msgs)
    assert(spark.sql(s"SELECT count(*) FROM graft_ts.`$dir`").head.getLong(0) == 1)
    // NULL passes per row too
    spark.sql(s"INSERT INTO graft_ts.`$dir` " +
      "SELECT CAST('2024-03-03 10:00:00' AS TIMESTAMP), CAST(3 AS BIGINT), " +
      "CAST(NULL AS DOUBLE)")
    assert(spark.sql(s"SELECT count(*) FROM graft_ts.`$dir`").head.getLong(0) == 2)
  }
}
