package graft

import graft.ts.{TsTable, TsWriteOptions}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** The `graft-ts` DataSource V2 connector: the TsTable contract enforced at
  * the connector level (GraftTsDataSource scaladoc). Covers the r4/r5
  * verdicts' "done" bar: V2 reads keep partition pruning + parquet pushdown
  * with NO user-visible p_date; out-of-order/null/misshaped V2 writes throw;
  * SQL reaches the same paths. */
class GraftTsSourceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("value", DoubleType)))

  private def freshDir(): String = {
    val d = java.nio.file.Files.createTempDirectory("graft_v2_spec").toString
    new java.io.File(d).deleteOnExit(); d
  }

  private def mkRows(rows: Seq[(String, Long, Double)]): DataFrame = {
    import spark.implicits._
    rows.map { case (s, u, v) => (Timestamp.valueOf(s), u, v) }
      .toDF("ts", "user_id", "value")
  }

  private def v2(path: String): DataFrame =
    spark.read.format("graft-ts").load(path)

  private def append(df: DataFrame, path: String): Unit =
    df.write.format("graft-ts").mode("append").save(path)

  private def parquetScan(plan: SparkPlan): ParquetScan = {
    // AQE wraps the physical plan; collectLeaves on the wrapper stops at it
    def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        unwrap(a.executedPlan)
      case other => other.collectLeaves().flatMap {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          unwrap(a.executedPlan)
        case l => Seq(l)
      }
    }
    unwrap(plan).collectFirst {
      case b: BatchScanExec if b.scan.isInstanceOf[ParquetScan] =>
        b.scan.asInstanceOf[ParquetScan]
    }.getOrElse(fail(s"no V2 parquet scan in plan:\n$plan"))
  }

  test("V2 write + read round-trip; appends accumulate across jobs") {
    val dir = freshDir()
    TsTable.create(spark, dir, schema)
    append(mkRows(Seq(
      ("2024-03-01 10:00:00", 1L, 1.0), ("2024-03-02 10:00:00", 2L, 2.0))), dir)
    append(mkRows(Seq(
      ("2024-03-02 12:00:00", 3L, 3.0), ("2024-03-04 09:00:00", 4L, 4.0))), dir)
    val got = v2(dir).orderBy("user_id").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L, 3L, 4L))
    // the exposed schema is the DATA schema — p_date stays internal
    assert(v2(dir).schema.fieldNames.toSeq == Seq("ts", "user_id", "value"))
    // facade and connector see the same table
    assert(TsTable.open(spark, dir).toDF.count() == 4)
  }

  test("V2 append enforces the ordered-append contract per row") {
    val dir = freshDir()
    TsTable.create(spark, dir, schema)
    append(mkRows(Seq(("2024-03-05 10:00:00", 1L, 1.0))), dir)
    // regression behind stored max → rejected, nothing lands
    val e = intercept[Exception] {
      append(mkRows(Seq(("2024-03-04 10:00:00", 2L, 2.0))), dir)
    }
    assert(e.getMessage != null || e.getCause != null) // job surfaces the guard
    assert(v2(dir).count() == 1)
    // boundary-equal append is allowed (duplicates of the max instant)
    append(mkRows(Seq(("2024-03-05 10:00:00", 3L, 3.0))), dir)
    assert(v2(dir).count() == 2)
    // null ts → rejected
    intercept[Exception] {
      val withNull = mkRows(Seq(("2024-03-06 10:00:00", 4L, 4.0)))
        .union(spark.sql("SELECT CAST(NULL AS TIMESTAMP), CAST(9 AS LONG), CAST(9.0 AS DOUBLE)"))
      append(withNull, dir)
    }
    assert(v2(dir).count() == 2)
  }

  test("V2 append rejects a mis-shaped batch up front") {
    val dir = freshDir()
    TsTable.create(spark, dir, schema)
    val bad = mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0)))
      .withColumnRenamed("value", "metric")
    intercept[Exception] { append(bad, dir) }
  }

  test("V2 read prunes day partitions from a ts predicate alone (no p_date in sight)") {
    val dir = freshDir()
    TsTable.create(spark, dir, schema)
    append(mkRows((1 to 9).map(d =>
      (f"2024-03-0$d%d 10:00:00", d.toLong, d.toDouble))), dir)
    val q = v2(dir).where(col("ts").between(
      lit("2024-03-03 00:00:00").cast("timestamp"),
      lit("2024-03-05 23:00:00").cast("timestamp")))
    val plan = q.queryExecution.executedPlan
    val scan = parquetScan(plan)
    // day-directory pruning fired: only the 3 matching partitions are read
    assert(scan.partitionFilters.nonEmpty, s"no partition filters:\n$plan")
    val scannedDirs = scan.fileIndex.listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.values.toString).toSet
    assert(scannedDirs.size == 3, s"scanned $scannedDirs")
    // the ts predicate ALSO reached the parquet row-group level
    assert(scan.pushedFilters.exists(_.toString.toLowerCase.contains("ts")),
      s"ts not pushed: ${scan.pushedFilters.mkString(",")}")
    assert(q.collect().map(_.getLong(1)).sorted.toSeq == Seq(3L, 4L, 5L))
  }

  test("V2 time travel: asOf pins a version across compact+retention, " +
      "prunes partitions, and refuses writes") {
    val dir = freshDir()
    val t = TsTable.create(spark, dir, schema)
    append(mkRows((1 to 6).map(d =>
      (f"2024-03-0$d%d 10:00:00", d.toLong, d.toDouble))), dir)
    // the V2 write itself committed a snapshot version — pin it
    val pinned = t.currentVersion.get
    assert(t.snapshotVersions.last._2 == "append")
    // a LATER facade append must be invisible to the pin
    t.append(mkRows(Seq(("2024-03-07 10:00:00", 7L, 7.0))))
    t.compactAll(targetFiles = 1)
    t.dropBefore("2024-03-04")
    // live read serves only the retained days...
    assert(v2(dir).collect().map(_.getLong(1)).sorted.toSeq ==
      Seq(4L, 5L, 6L, 7L))
    // ...the pinned read serves the pre-retention V2-append state out of
    // the archive, through the stock V2 parquet scan — without day 7
    val pinnedDf = spark.read.format("graft-ts")
      .option("asOf", pinned.toString).load(dir)
    assert(pinnedDf.collect().map(_.getLong(1)).sorted.toSeq ==
      (1L to 6L).toSeq)
    // partition pruning still fires on the snapshot file index
    val q = pinnedDf.where(col("ts").between(
      lit("2024-03-02 00:00:00").cast("timestamp"),
      lit("2024-03-03 23:00:00").cast("timestamp")))
    val scan = parquetScan(q.queryExecution.executedPlan)
    assert(scan.partitionFilters.nonEmpty)
    val scanned = scan.fileIndex.listFiles(scan.partitionFilters, scan.dataFilters)
    assert(scanned.map(_.values.toString).toSet.size == 2,
      s"expected 2 pruned partitions, scanned ${scanned.map(_.values.toString)}")
    assert(q.collect().map(_.getLong(1)).sorted.toSeq == Seq(2L, 3L))
    // a pinned table is read-only
    val e = intercept[UnsupportedOperationException](
      mkRows(Seq(("2024-03-08 10:00:00", 8L, 8.0)))
        .write.format("graft-ts").option("asOf", pinned.toString)
        .mode("append").save(dir))
    assert(e.getMessage.contains("read-only"))
  }

  test("V2 overwrite archives replaced data and keeps snapshot history: " +
      "a pre-overwrite pin still reads; version numbers never restart") {
    val dir = freshDir()
    val t = TsTable.create(spark, dir, schema)
    append(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0),
      ("2024-03-02 10:00:00", 2L, 2.0))), dir)
    val pinned = t.currentVersion.get
    // replace the table's data entirely
    mkRows(Seq(("2024-04-01 10:00:00", 9L, 9.0)))
      .write.format("graft-ts").mode("overwrite").save(dir)
    // live state is the new data; versions kept counting (no silent
    // restart that would re-bind old numbers to different states)
    assert(v2(dir).collect().map(_.getLong(1)).toSeq == Seq(9L))
    val cur = t.currentVersion.get
    assert(cur > pinned, s"version numbering must continue past $pinned, got $cur")
    assert(TsTable.open(spark, dir).snapshotVersions.last._2 == "overwrite")
    // the pre-overwrite pin resolves its rows from the archive
    val old = spark.read.format("graft-ts")
      .option("asOf", pinned.toString).load(dir)
      .collect().map(_.getLong(1)).sorted.toSeq
    assert(old == Seq(1L, 2L), s"pinned pre-overwrite read returned $old")
  }

  test("V2 read prunes columns (projection reaches the scan)") {
    val dir = freshDir()
    TsTable.create(spark, dir, schema)
    append(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0))), dir)
    val q = v2(dir).select("user_id")
    val scan = parquetScan(q.queryExecution.executedPlan)
    assert(scan.readDataSchema.fieldNames.toSeq == Seq("user_id"))
    assert(q.head.getLong(0) == 1L)
  }

  test("V2 overwrite replaces data, keeps the descriptor, resets the guard") {
    val dir = freshDir()
    TsTable.create(spark, dir, schema)
    append(mkRows(Seq(("2024-03-09 10:00:00", 1L, 1.0))), dir)
    // overwrite with EARLIER data: allowed (replace semantics, no guard)
    mkRows(Seq(("2024-03-01 10:00:00", 2L, 2.0)))
      .write.format("graft-ts").mode("overwrite").save(dir)
    val got = v2(dir).collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(2L))
    // guard now keyed to the NEW max
    intercept[Exception] {
      append(mkRows(Seq(("2024-02-28 10:00:00", 3L, 3.0))), dir)
    }
    append(mkRows(Seq(("2024-03-02 10:00:00", 4L, 4.0))), dir)
    assert(v2(dir).count() == 2)
    // reopen through the facade still works (descriptor survived)
    assert(TsTable.open(spark, dir).schema.fieldNames.toSeq ==
      Seq("ts", "user_id", "value"))
  }

  test("an hour-slotted day written through the connector stays sorted per file") {
    val dir = freshDir()
    TsTable.create(spark, dir, schema, writeOptions = TsWriteOptions(fileSpan = "hour"))
    // seven hours of one day: the table's hour slots split the day
    append(mkRows((0 until 400).map(i =>
      (f"2024-03-01 ${i / 60 + 1}%02d:${i % 60}%02d:00", i.toLong, i.toDouble))), dir)
    val files = new java.io.File(s"$dir/p_date=2024-03-01")
      .listFiles().filter(_.getName.startsWith("part-"))
    assert(files.length > 1, "expected the day split across >1 sorted files")
    // every file individually sorted by ts (per-file contiguous slices)
    files.foreach { f =>
      val ts = spark.read.parquet(f.getPath).select("ts").collect().map(_.getTimestamp(0))
      assert(ts.zip(ts.drop(1)).forall { case (a, b) => !b.before(a) },
        s"${f.getName} not sorted")
    }
    assert(v2(dir).count() == 400)
  }

  /** Every live data file of `dir` with its row count. */
  private def liveFiles(dir: String): Seq[(String, Long)] =
    new java.io.File(dir).listFiles().filter(_.getName.startsWith("p_date="))
      .flatMap(_.listFiles().filter(_.getName.startsWith("part-")))
      .map(f => f.getPath -> spark.read.parquet(f.getPath).count())
      .sortBy(_._1).toSeq

  test("SQL INSERT into a fileSpan=hour table writes no file spanning two hours") {
    val dir = freshDir()
    TsTable.create(spark, dir, schema, writeOptions = TsWriteOptions(fileSpan = "hour"))
    spark.sql(s"INSERT INTO graft_ts.`$dir` VALUES " + (0 until 12).map { i =>
      f"(TIMESTAMP '2024-03-01 ${i / 3 + 1}%02d:${i % 3 * 20}%02d:00', $i, $i.0)"
    }.mkString(", "))
    val files = liveFiles(dir)
    assert(files.map(_._2).sum == 12L)
    files.foreach { case (f, _) =>
      val hours = spark.read.parquet(f)
        .select(countDistinct(date_trunc("hour", col("ts")))).head.getLong(0)
      assert(hours == 1L, s"$f holds rows of $hours hours")
    }
    assert(files.length == 4)
  }

  test("a maxRecordsPerFile table caps the files a connector append writes") {
    val dir = freshDir()
    TsTable.create(spark, dir, schema,
      writeOptions = TsWriteOptions(maxRecordsPerFile = Some(10L)))
    append(mkRows((0 until 45).map(i =>
      (f"2024-03-01 10:${i}%02d:00", i.toLong, i.toDouble))), dir)
    val files = liveFiles(dir)
    assert(files.map(_._2).sum == 45L)
    assert(files.forall(_._2 <= 10L), s"files over the cap: $files")
  }

  test("a connector overwrite swaps through the staged copy-on-write " +
      "protocol: a failure after staging leaves the table untouched") {
    val dir = freshDir()
    val t = TsTable.create(spark, dir, schema)
    append(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0),
      ("2024-03-02 10:00:00", 2L, 2.0))), dir)
    val filesBefore = liveFiles(dir)
    val versionBefore = t.currentVersion
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    TsTable.rewriteRaceHook = (phase, action) =>
      if (phase == "staged" && action == "overwrite") {
        fired.set(true)
        throw new IllegalStateException("injected failure after staging")
      }
    try intercept[Exception](mkRows(Seq(("2024-04-01 10:00:00", 9L, 9.0)))
      .write.format("graft-ts").mode("overwrite").save(dir))
    finally TsTable.rewriteRaceHook = (_, _) => ()
    assert(fired.get(), "the staged hook never fired for the overwrite")
    assert(liveFiles(dir) == filesBefore)
    assert(v2(dir).count() == 2L)
    assert(t.currentVersion == versionBefore)
    assert(!new java.io.File(dir).listFiles.exists(
      _.getName.startsWith("_delete_tmp_")), "the staging dir was left behind")
  }

  test("an empty connector overwrite empties the table and commits one " +
      "overwrite version") {
    val dir = freshDir()
    val t = TsTable.create(spark, dir, schema)
    append(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0))), dir)
    val before = t.snapshotVersions
    mkRows(Seq.empty).write.format("graft-ts").mode("overwrite").save(dir)
    assert(v2(dir).count() == 0L)
    assert(liveFiles(dir).isEmpty)
    val after = t.snapshotVersions
    assert(after.dropRight(1) == before)
    assert(after.last._2 == "overwrite")
  }

  test("SQL surface: SELECT over the connector prunes; INSERT enforces the guard") {
    val dir = freshDir()
    TsTable.create(spark, dir, schema)
    append(mkRows((1 to 5).map(d =>
      (f"2024-03-0$d%d 10:00:00", d.toLong, d.toDouble))), dir)
    v2(dir).createOrReplaceTempView("gts_v2")
    val rows = spark.sql(
      """SELECT user_id FROM gts_v2
        |WHERE ts >= TIMESTAMP '2024-03-04 00:00:00' ORDER BY user_id""".stripMargin)
    val scan = parquetScan(rows.queryExecution.executedPlan)
    assert(scan.partitionFilters.nonEmpty)
    assert(rows.collect().map(_.getLong(0)).toSeq == Seq(4L, 5L))
  }

  test("catalog SQL face: VERSION AS OF matches option(asOf) exactly; " +
      "TIMESTAMP AS OF resolves by commit time; INSERT INTO appends; " +
      "live SELECT tracks mutations") {
    val dir = freshDir()
    val t = TsTable.create(spark, dir, schema)
    append(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0))), dir)
    val pinned = t.currentVersion.get
    Thread.sleep(50) // manifest mtime granularity straddle
    val betweenMs = System.currentTimeMillis()
    Thread.sleep(50)
    append(mkRows(Seq(("2024-03-02 10:00:00", 2L, 2.0))), dir)
    // live catalog read sees both rows
    assert(spark.sql(s"SELECT count(*) FROM graft_ts.`$dir`").head.getLong(0) == 2L)
    // VERSION AS OF serves the SAME snapshot as the option path
    val viaSql = spark.sql(
      s"SELECT * FROM graft_ts.`$dir` VERSION AS OF $pinned ORDER BY user_id")
    val viaOpt = spark.read.format("graft-ts").option("asOf", pinned.toString)
      .load(dir).orderBy("user_id")
    assert(viaSql.schema == viaOpt.schema)
    assert(viaSql.collect().toSeq == viaOpt.collect().toSeq)
    assert(viaSql.collect().map(_.getLong(1)).toSeq == Seq(1L))
    // TIMESTAMP AS OF between the two appends resolves to the first
    val lit0 = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS").withZone(java.time.ZoneOffset.UTC)
      .format(java.time.Instant.ofEpochMilli(betweenMs))
    assert(spark.sql(
      s"SELECT user_id FROM graft_ts.`$dir` TIMESTAMP AS OF '$lit0'")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
    // ...and before the first commit it refuses loudly
    val early = intercept[Exception](spark.sql(
      s"SELECT * FROM graft_ts.`$dir` TIMESTAMP AS OF '2000-01-01 00:00:00'")
      .collect())
    assert(early.getMessage.contains("no version committed"))
    // INSERT INTO goes through the ordered-append write path...
    spark.sql(s"INSERT INTO graft_ts.`$dir` " +
      "SELECT TIMESTAMP '2024-03-03 10:00:00', CAST(3 AS BIGINT), 3.0")
    assert(spark.sql(s"SELECT count(*) FROM graft_ts.`$dir`").head.getLong(0) == 3L)
    // ...including the monotonicity guard
    val bad = intercept[Exception](spark.sql(s"INSERT INTO graft_ts.`$dir` " +
      "SELECT TIMESTAMP '2024-01-01 00:00:00', CAST(9 AS BIGINT), 9.0"))
    assert(bad.getMessage.contains("append-ordered") ||
      Option(bad.getCause).exists(_.getMessage.contains("append-ordered")))
    // the pin predates both inserts and still serves exactly one row
    assert(spark.sql(s"SELECT count(*) FROM graft_ts.`$dir` VERSION AS OF $pinned")
      .head.getLong(0) == 1L)
    // an unknown store path is a catalog-level NoSuchTable, not a crash
    val missing = intercept[Exception](
      spark.sql(s"SELECT * FROM graft_ts.`$dir/nope` VERSION AS OF 1").collect())
    assert(missing.getMessage.toLowerCase.contains("table"))
  }

  test("SQL DELETE FROM routes through the copy-on-write delete: rows go, " +
      "a pre-delete pin keeps them, untranslatable predicates are refused") {
    val dir = freshDir()
    val t = TsTable.create(spark, dir, schema)
    append(mkRows((1 to 6).map(d =>
      (f"2024-03-0$d%d 10:00:00", d.toLong, d.toDouble))), dir)
    val pinned = t.currentVersion.get
    spark.sql(s"DELETE FROM graft_ts.`$dir` " +
      "WHERE user_id >= 2 AND user_id <= 3")
    assert(spark.sql(s"SELECT user_id FROM graft_ts.`$dir` ORDER BY user_id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 4L, 5L, 6L))
    // the SQL delete committed a "delete" version like the facade verb
    assert(TsTable.open(spark, dir).snapshotVersions.last._2 == "delete")
    // the pre-delete pin still serves all six rows
    assert(spark.sql(s"SELECT count(*) FROM graft_ts.`$dir` VERSION AS OF $pinned")
      .head.getLong(0) == 6L)
    // time predicates translate too (ts conjuncts reach the same path)
    spark.sql(s"DELETE FROM graft_ts.`$dir` " +
      "WHERE ts >= TIMESTAMP '2024-03-06 00:00:00'")
    assert(spark.sql(s"SELECT max(user_id) FROM graft_ts.`$dir`")
      .head.getLong(0) == 5L)
    // an untranslatable predicate is refused loudly, not approximated
    val e = intercept[Exception](spark.sql(
      s"DELETE FROM graft_ts.`$dir` WHERE user_id % 2 = 0"))
    assert(e.getMessage.toLowerCase.contains("delete"), e.getMessage)
  }
}
