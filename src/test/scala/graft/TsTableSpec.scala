package graft

import graft.ts.TsTable
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.file.Files
import java.sql.Timestamp

/** Round-trip suite mirroring the reference's own unittest coverage
  * (SURVEY.md §5.1): append within/across partitions, gap days, range reads,
  * min/max, reattach, monotonicity rejection, empty results. */
class TsTableSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("value", DoubleType)))

  private def t(s: String) = Timestamp.valueOf(s)

  private def mkRows(rows: Seq[(String, Long, Double)]) = {
    val data = rows.map { case (ts0, u, v) => Row(t(ts0), u, v) }
    spark.createDataFrame(
      spark.sparkContext.parallelize(data, 2), schema)
  }

  private def freshDir() = Files.createTempDirectory("tstable_spec").toString

  test("create + append + readRange round-trip within one partition") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(
      ("2024-03-01 10:00:00", 1L, 1.0),
      ("2024-03-01 11:00:00", 2L, 2.0),
      ("2024-03-01 12:00:00", 3L, 3.0))))
    val got = tab.readRange(t("2024-03-01 10:30:00"), t("2024-03-01 12:00:00"))
      .orderBy("ts").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(2L, 3L)) // closed interval includes 12:00
    assert(got.head.schema.fieldNames.toSeq == Seq("ts", "user_id", "value"))
  }

  test("append spanning multiple days creates daily partitions; gap days ok") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(
      ("2024-03-01 23:59:59", 1L, 1.0),
      ("2024-03-02 00:00:01", 2L, 2.0),
      ("2024-03-05 08:00:00", 3L, 3.0)))) // gap: 03-03, 03-04 absent
    val parts = new java.io.File(dir).listFiles.map(_.getName).filter(_.startsWith("p_date="))
    assert(parts.toSet == Set("p_date=2024-03-01", "p_date=2024-03-02", "p_date=2024-03-05"))
    assert(tab.toDF.count() == 3)
    // range covering the gap returns only real rows
    val mid = tab.readRange(t("2024-03-02 00:00:00"), t("2024-03-04 23:59:59")).collect()
    assert(mid.map(_.getLong(1)).toSeq == Seq(2L))
  }

  test("partition pruning: readRange plan keeps a p_date PartitionFilter") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(
      ("2024-03-01 10:00:00", 1L, 1.0), ("2024-03-02 10:00:00", 2L, 2.0),
      ("2024-03-03 10:00:00", 3L, 3.0), ("2024-03-04 10:00:00", 4L, 4.0))))
    val df = tab.readRange(t("2024-03-02 00:00:00"), t("2024-03-03 23:00:00"))
    val physical = df.queryExecution.executedPlan.toString
    assert(physical.contains("PartitionFilters"), physical)
    assert(physical.contains(TsTable.PartCol), physical)
    assert(df.collect().map(_.getLong(1)).sorted.toSeq == Seq(2L, 3L))
    // and the scan really skipped the pruned directories
    val scanned = df.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    assert(scanned <= 2, s"expected <=2 files scanned, got $scanned")
  }

  test("min/max dt, empty table, reattach via open") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    assert(tab.minDt.isEmpty && tab.maxDt.isEmpty)
    assert(tab.toDF.count() == 0) // empty table readable thanks to stored schema
    tab.append(mkRows(Seq(
      ("2024-03-01 10:00:00", 1L, 1.0), ("2024-03-09 10:00:00", 2L, 2.0))))
    val re = TsTable.open(spark, dir)
    // names/types round-trip exactly; the descriptor additionally carries
    // the parquet field ids create() stamped (the renameColumn substrate)
    assert(re.tsCol == "ts")
    assert(re.schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType, f.nullable)).toSeq)
    assert(re.schema.fields.forall(_.metadata.contains("parquet.field.id")),
      "created tables must be field-id stamped from birth")
    assert(re.minDt.contains(t("2024-03-01 10:00:00")))
    assert(re.maxDt.contains(t("2024-03-09 10:00:00")))
  }

  test("monotonicity: appends reaching before stored max are rejected; boundary dup ok") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(("2024-03-02 10:00:00", 1L, 1.0))))
    intercept[IllegalArgumentException] {
      tab.append(mkRows(Seq(("2024-03-02 09:00:00", 2L, 2.0))))
    }
    // duplicate of the boundary instant is allowed (reference allows >= max)
    tab.append(mkRows(Seq(("2024-03-02 10:00:00", 3L, 3.0))))
    assert(tab.toDF.count() == 2)
  }

  test("null ts and schema mismatch rejected; empty append is a no-op") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    val withNull = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null, 1L, 1.0))), schema)
    intercept[IllegalArgumentException] { tab.append(withNull) }
    intercept[IllegalArgumentException] {
      tab.append(mkRows(Seq(("2024-03-01 00:00:00", 1L, 1.0))).drop("value"))
    }
    tab.append(mkRows(Seq.empty)) // no-op
    assert(tab.toDF.count() == 0)
  }

  test("strict append: unsorted physical row order rejected (reference ValueError parity)") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    // sorted batch (order preserved across parallelize's 2 partitions): ok
    tab.append(mkRows(Seq(
      ("2024-03-01 10:00:00", 1L, 1.0),
      ("2024-03-01 11:00:00", 2L, 2.0),
      ("2024-03-01 12:00:00", 3L, 3.0),
      ("2024-03-01 13:00:00", 4L, 4.0))), strict = true)
    assert(tab.toDF.count() == 4)
    // within-partition regression: rejected before any write
    intercept[IllegalArgumentException] {
      tab.append(mkRows(Seq(
        ("2024-03-02 12:00:00", 5L, 5.0),
        ("2024-03-02 10:00:00", 6L, 6.0))), strict = true)
    }
    // cross-partition interleave: each half sorted, but partition 2 starts
    // before partition 1 ends
    intercept[IllegalArgumentException] {
      tab.append(mkRows(Seq(
        ("2024-03-02 10:00:00", 5L, 5.0),
        ("2024-03-02 12:00:00", 6L, 6.0),
        ("2024-03-02 11:00:00", 7L, 7.0),
        ("2024-03-02 13:00:00", 8L, 8.0))), strict = true)
    }
    assert(tab.toDF.count() == 4) // nothing from the rejected batches landed
    // default mode still accepts unsorted input (documented deviation)
    tab.append(mkRows(Seq(
      ("2024-03-02 12:00:00", 9L, 9.0),
      ("2024-03-02 10:00:00", 10L, 10.0))))
    assert(tab.toDF.count() == 6)
  }

  test("minDt/maxDt scan ONLY the edge day-partition (reference O(1) contract)") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows((1 to 9).map(d => (f"2024-03-0$d%d 10:00:00", d.toLong, d.toDouble))))
    assert(tab.minDt.contains(t("2024-03-01 10:00:00")))
    assert(tab.maxDt.contains(t("2024-03-09 10:00:00")))
    // the slice the guard aggregates over is partition-pruned to ONE day
    for ((last, day) <- Seq(false -> "2024-03-01", true -> "2024-03-09")) {
      val slice = tab.edgeSlice(last)
      val plan = slice.queryExecution.executedPlan
      assert(plan.toString.contains("PartitionFilters"), plan.toString)
      slice.collect()
      val scanned = plan.collectLeaves()
        .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
      assert(scanned == 1, s"edgeSlice(last=$last) scanned $scanned files, expected 1")
      assert(slice.select("user_id").head.getLong(0) ==
        (if (last) 9L else 1L))
    }
    // and therefore the append monotonicity guard is O(edge partition) too:
    // a conforming append still works, a regressing one is still rejected
    tab.append(mkRows(Seq(("2024-03-10 00:00:00", 10L, 10.0))))
    intercept[IllegalArgumentException] {
      tab.append(mkRows(Seq(("2024-03-05 00:00:00", 11L, 11.0))))
    }
  }

  test("write knobs: codec + maxRecordsPerFile are applied and survive reopen") {
    import graft.ts.TsWriteOptions
    val dir = freshDir()
    val opts = TsWriteOptions(codec = "zstd", rowGroupBytes = Some(1L << 20),
      maxRecordsPerFile = Some(100L))
    val tab = TsTable.create(spark, dir, schema, writeOptions = opts)
    tab.append(mkRows((0 until 350).map(i =>
      (f"2024-03-01 ${i / 60}%02d:${i % 60}%02d:00", i.toLong, i.toDouble))))
    val files = new java.io.File(dir, "p_date=2024-03-01").listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(files.forall(_.getName.contains(".zstd.")),
      s"expected zstd codec in ${files.map(_.getName).toSeq}")
    assert(files.length >= 4, // 350 rows / 100-row cap
      s"maxRecordsPerFile=100 should split 350 rows into >=4 files, got ${files.length}")
    // options persisted in the descriptor: a reopened handle keeps writing zstd
    val re = TsTable.open(spark, dir)
    assert(re.writeOptions == opts)
    re.append(mkRows(Seq(("2024-03-02 00:00:00", 999L, 0.0))))
    val day2 = new java.io.File(dir, "p_date=2024-03-02").listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(day2.forall(_.getName.contains(".zstd.")))
    assert(re.toDF.count() == 351)
  }

  test("empty range result has correct columns and zero rows") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0))))
    val got = tab.readRange(t("2025-01-01 00:00:00"), t("2025-01-02 00:00:00"))
    assert(got.columns.toSeq == Seq("ts", "user_id", "value"))
    assert(got.count() == 0)
  }

  test("filesPerDay > 1 splits a heavy day into several ts-sorted files") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    val heavy = (0 until 2000).map { i =>
      (f"2024-03-01 ${i / 600}%02d:${(i / 10) % 60}%02d:${i % 10}%02d", i.toLong, i.toDouble)
    } ++ Seq(("2024-03-02 00:00:00", 9999L, 0.0)) // a light second day
    tab.append(mkRows(heavy), filesPerDay = 4)
    val files = new java.io.File(dir, "p_date=2024-03-01").listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 2, s"heavy day should split, got ${files.length} file(s)")
    // each file is still internally ts-sorted (per-file contiguous slices)
    files.foreach { f =>
      val ts = spark.read.parquet(f.getPath).select("ts").collect().map(_.getTimestamp(0))
      assert(ts.toSeq == ts.sortBy(_.getTime).toSeq, s"unsorted file ${f.getName}")
    }
    assert(tab.toDF.count() == 2001)
  }

  test("fileSpan=hour: a dense day lands as ~hour-contiguous files and a " +
      "1-hour range read plans a strict file subset (sub-day effective " +
      "partitioning via the ts-span index)") {
    import graft.ts.TsWriteOptions
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema,
      writeOptions = TsWriteOptions(fileSpan = "hour"))
    // a full synthetic day: one row every 20 s across all 24 hours (the
    // local stand-in for the secondly multi-GB day at 100 TB)
    val dense = (0 until 24 * 180).map { i =>
      val sec = i * 20
      (f"2024-03-01 ${sec / 3600}%02d:${(sec / 60) % 60}%02d:${sec % 60}%02d",
        i.toLong, i.toDouble)
    }
    tab.append(mkRows(dense))
    val files = new java.io.File(dir, "p_date=2024-03-01").listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 12,
      s"hour-slotted day should hold ~24 files, got ${files.length}")
    // each file's real span covers at most ~2 hours (slot boundaries sit
    // at or near hour edges; spans are what the planner trusts)
    files.foreach { f =>
      val mm = spark.read.parquet(f.getPath)
        .agg(org.apache.spark.sql.functions.min(col("ts")),
          org.apache.spark.sql.functions.max(col("ts"))).head
      val spanMs = mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime
      assert(spanMs <= 2 * 3600 * 1000L,
        s"file ${f.getName} spans ${spanMs / 60000} min — not hour-sliced")
    }
    // the V2 live read skips by per-file ts span: one probed hour plans a
    // strict subset of the day's files (the effective hour partition)
    val q = spark.read.format("graft-ts").load(dir).where(
      col("ts") >= lit("2024-03-01 13:00:00").cast("timestamp") &&
        col("ts") < lit("2024-03-01 14:00:00").cast("timestamp"))
    val scan = V2ScanAccess.parquetScan(q.queryExecution.executedPlan)
    val planned = scan.fileIndex
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.files.length).sum
    assert(planned >= 1 && planned <= 3,
      s"1-hour probe planned $planned of ${files.length} files")
    assert(q.count() == 180, "the probed hour holds exactly its rows")
    // facade closed-interval readRange agrees
    assert(tab.readRange(
      java.sql.Timestamp.valueOf("2024-03-01 13:00:00"),
      java.sql.Timestamp.valueOf("2024-03-01 13:59:59")).count() == 180)
  }

  test("compact on fileSpan=hour bin-packs per HOUR slot: a fragmented day " +
      "heals to ~one file per hour (not one per day), a 1-hour probe still " +
      "plans a strict file subset, and an already-packed day is skipped") {
    import graft.ts.TsWriteOptions
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema,
      writeOptions = TsWriteOptions(fileSpan = "hour"))
    // fragment 8 hours with 16 half-hour appends (the streaming-sink
    // shape: one file per micro-batch) — two files per hour
    for (k <- 0 until 16) {
      val rows = (0 until 30).map { i =>
        val sec = k * 1800 + i * 60
        (f"2024-03-01 ${sec / 3600}%02d:${(sec / 60) % 60}%02d:${sec % 60}%02d",
          i.toLong, i.toDouble)
      }
      tab.append(mkRows(rows))
    }
    def dayFiles = new java.io.File(dir, "p_date=2024-03-01").listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(dayFiles.length == 16, s"expected 16 fragments, got ${dayFiles.length}")
    // the regression under test: plain maintenance must NOT collapse the
    // day to day-granularity — it re-slots per hour
    assert(tab.compact("2024-03-01"))
    val healed = dayFiles
    assert(healed.length >= 4 && healed.length <= 10,
      s"hour-slotted compact should land ~8 hour files, got ${healed.length}")
    healed.foreach { f =>
      val mm = spark.read.parquet(f.getPath)
        .agg(org.apache.spark.sql.functions.min(col("ts")),
          org.apache.spark.sql.functions.max(col("ts"))).head
      val spanMs = mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime
      assert(spanMs <= 2 * 3600 * 1000L,
        s"file ${f.getName} spans ${spanMs / 60000} min — compact un-slotted the day")
    }
    // the sub-day skip index survives: a 1-hour probe plans a strict subset
    val q = spark.read.format("graft-ts").load(dir).where(
      col("ts") >= lit("2024-03-01 03:00:00").cast("timestamp") &&
        col("ts") < lit("2024-03-01 04:00:00").cast("timestamp"))
    val scan = V2ScanAccess.parquetScan(q.queryExecution.executedPlan)
    val planned = scan.fileIndex
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.files.length).sum
    assert(planned >= 1 && planned <= 3,
      s"1-hour probe planned $planned of ${healed.length} files post-compact")
    assert(q.count() == 60, "the probed hour holds exactly its rows")
    // idempotence: the healed day is at or under one file per covered
    // hour (manifest spans), so a second compact is a no-op
    assert(!TsTable.open(spark, dir).compact("2024-03-01"),
      "an hour-packed day must not re-qualify for compaction")
    assert(tab.toDF.count() == 16 * 30)
  }

  test("hourly compact heals a split hour hiding behind a legacy " +
      "multi-hour file (per-hour-bucket pressure, not total-vs-covered), " +
      "and compact(clusterBy) documents its un-slotting trade") {
    import graft.ts.TsWriteOptions
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema,
      writeOptions = TsWriteOptions(fileSpan = "hour"))
    // 6 dense hours, one row per minute → ~6 hour-slotted files
    tab.append(mkRows((0 until 360).map { i =>
      (f"2024-03-01 ${i / 60}%02d:${i % 60}%02d:00", i.toLong, i.toDouble)
    }))
    def dayFiles = new java.io.File(dir, "p_date=2024-03-01").listFiles
      .filter(_.getName.endsWith(".parquet"))
    // the clusterBy trade, pinned: re-clustering an hourly day un-slots it
    // (files become z-order tiles, no longer ts-contiguous — documented at
    // compactDays; a later plain compact restores the hour slots)
    assert(tab.compact("2024-03-01", clusterBy = Seq("user_id", "value")))
    assert(dayFiles.length == 1,
      s"clusterBy targetFiles=1 should land one z-tile, got ${dayFiles.length}")
    val mm = spark.read.parquet(dayFiles.head.getPath)
      .agg(min(col("ts")), max(col("ts"))).head
    assert(mm.getTimestamp(1).getTime - mm.getTimestamp(0).getTime >
      2 * 3600 * 1000L,
      "the z-tile must span multiple hours — the documented un-slot trade")
    // now split ONE hour with two out-of-order backfills (the late-data
    // shape): 1 legacy multi-hour file + 2 files inside hour 02
    tab.backfill(mkRows(Seq(
      ("2024-03-01 02:05:30", 9001L, 1.0),
      ("2024-03-01 02:15:30", 9002L, 2.0),
      ("2024-03-01 02:25:30", 9003L, 3.0))))
    tab.backfill(mkRows(Seq(
      ("2024-03-01 02:35:30", 9004L, 4.0),
      ("2024-03-01 02:45:30", 9005L, 5.0),
      ("2024-03-01 02:55:30", 9006L, 6.0))))
    assert(dayFiles.length == 3, s"expected 3 files, got ${dayFiles.length}")
    // the regression: total files (3) <= covered hours (6) used to SKIP
    // this day forever — hour 02 is covered by 3 files (> targetFiles=1),
    // so the per-bucket pressure test must qualify and heal it
    assert(TsTable.open(spark, dir).compact("2024-03-01"),
      "a split hour behind a legacy multi-hour file must qualify")
    val healed = dayFiles
    healed.foreach { f =>
      val s = spark.read.parquet(f.getPath)
        .agg(min(col("ts")), max(col("ts"))).head
      assert(s.getTimestamp(1).getTime - s.getTimestamp(0).getTime <=
        2 * 3600 * 1000L,
        s"file ${f.getName} still multi-hour after the heal")
    }
    assert(tab.readRange(t("2024-03-01 02:00:00"),
      t("2024-03-01 02:59:59")).count() == 66)
    assert(TsTable.open(spark, dir).toDF.count() == 366)
    // idempotence holds under the new rule: one file per hour → skip
    assert(!TsTable.open(spark, dir).compact("2024-03-01"),
      "an hour-packed day must not re-qualify under the pressure test")
  }

  test("append on fileSpan=hour folds filesPerDay into the slot count " +
      "instead of silently ignoring it") {
    import graft.ts.TsWriteOptions
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema,
      writeOptions = TsWriteOptions(fileSpan = "hour"))
    // a 2-hour batch, filesPerDay=2 → 2 hours × 2 = 4 range slots
    val rows = (0 until 240).map { i =>
      val sec = i * 30
      (f"2024-03-01 ${sec / 3600}%02d:${(sec / 60) % 60}%02d:${sec % 60}%02d",
        i.toLong, i.toDouble)
    }
    tab.append(mkRows(rows), filesPerDay = 2)
    val files = new java.io.File(dir, "p_date=2024-03-01").listFiles
      .filter(_.getName.endsWith(".parquet"))
    assert(files.length >= 3 && files.length <= 4,
      s"2 hours × filesPerDay=2 should land ~4 files, got ${files.length}")
  }

  test("compact clusterBy resolves column names case-insensitively and " +
      "names an all-null axis in its refusal") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(
      ("2024-03-01 10:00:00", 1L, 1.0),
      ("2024-03-01 11:00:00", 2L, 2.0),
      ("2024-03-01 12:00:00", 3L, 3.0))))
    // mixed-case names resolve to the canonical user_id/value columns
    assert(tab.compact("2024-03-01", clusterBy = Seq("User_Id", "VALUE")))
    assert(TsTable.open(spark, dir).toDF.count() == 3)
    // an all-null axis refuses with the column named, before any rewrite
    val dir2 = freshDir()
    val tab2 = TsTable.create(spark, dir2, schema)
    val data = Seq(
      Row(t("2024-03-02 10:00:00"), 1L, null),
      Row(t("2024-03-02 11:00:00"), 2L, null))
    tab2.append(spark.createDataFrame(
      spark.sparkContext.parallelize(data, 1), schema))
    val e = intercept[IllegalArgumentException](
      tab2.compact("2024-03-02", clusterBy = Seq("user_id", "value")))
    assert(e.getMessage.contains("'value'") &&
      e.getMessage.contains("no non-null"),
      s"refusal must name the null axis, got: ${e.getMessage}")
    assert(TsTable.open(spark, dir2).toDF.count() == 2,
      "the refused compact must not have rewritten anything")
  }

  test("readRange serves loose attached files: a plain (unpartitioned) " +
      "parquet dir's rows carry a null p_date and must not be dropped by " +
      "the day-bound predicate") {
    val dir = freshDir()
    new java.io.File(dir).delete() // write.parquet wants to create it
    mkRows(Seq(
      ("2024-03-01 10:00:00", 1L, 1.0),
      ("2024-03-01 11:00:00", 2L, 2.0),
      ("2024-03-02 10:00:00", 3L, 3.0))).write.parquet(dir)
    val tab = TsTable.open(spark, dir)
    // closed interval over the attached rows — NULL BETWEEN would drop all
    val got = tab.readRange(t("2024-03-01 00:00:00"), t("2024-03-01 23:59:59"))
      .orderBy("ts").collect()
    assert(got.map(_.getLong(1)).toSeq == Seq(1L, 2L))
    // hybrid: an append adds a dated partition next to the loose files;
    // a spanning range serves BOTH layout families
    tab.append(mkRows(Seq(("2024-03-03 09:00:00", 4L, 4.0))))
    val re = TsTable.open(spark, dir)
    assert(re.readRange(t("2024-03-01 00:00:00"), t("2024-03-03 23:59:59"))
      .count() == 4)
    // pinned (snapshot) range read follows the same rule
    val v = re.currentVersion.get
    assert(TsTable.openAt(spark, dir, v)
      .readRange(t("2024-03-01 00:00:00"), t("2024-03-03 23:59:59"))
      .count() == 4)
  }

  test("files within a day partition are ts-sorted (write-side invariant)") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    // deliberately unsorted input batch: DataFrames carry no order; the
    // write path must establish sortedness itself
    tab.append(mkRows(Seq(
      ("2024-03-01 12:00:00", 3L, 3.0),
      ("2024-03-01 10:00:00", 1L, 1.0),
      ("2024-03-01 11:00:00", 2L, 2.0))))
    val file = new java.io.File(dir, "p_date=2024-03-01").listFiles
      .filter(_.getName.endsWith(".parquet")).head
    val rows = spark.read.parquet(file.getPath).select("ts").collect().map(_.getTimestamp(0))
    assert(rows.toSeq == rows.sortBy(_.getTime).toSeq)
  }

  test("deleteWhere: copy-on-write delete across partitions; untouched files " +
      "keep their bytes; pre-delete pin survives; empty hit no-ops") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(
      ("2024-03-01 10:00:00", 1L, 1.0),
      ("2024-03-01 11:00:00", 2L, 2.0),
      ("2024-03-02 10:00:00", 2L, 3.0),
      ("2024-03-02 11:00:00", 3L, 4.0),
      ("2024-03-03 10:00:00", 3L, 5.0),
      ("2024-03-03 11:00:00", 4L, 6.0)))) // user 2 only in days 1-2
    val pinned = tab.currentVersion.get
    def filesOf(day: String): Set[String] =
      new java.io.File(dir, s"p_date=$day").listFiles
        .map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    val day3Before = filesOf("2024-03-03")
    val deleted = tab.deleteWhere(col("user_id") === 2L)
    assert(deleted == 2L)
    assert(tab.toDF.count() == 4)
    assert(tab.toDF.where(col("user_id") === 2L).count() == 0)
    assert(tab.snapshotVersions.last._2 == "delete")
    // the day without hits is NOT rewritten — copy-on-write touches hit files only
    assert(filesOf("2024-03-03") == day3Before)
    // the pre-delete pin still serves the removed rows (archive-not-delete)
    assert(tab.openAt(pinned).toDF.count() == 6)
    // rewritten days stay readable and ts-sorted through the normal path
    val day1 = tab.readRange(t("2024-03-01 00:00:00"), t("2024-03-01 23:59:59"))
      .collect()
    assert(day1.map(_.getLong(1)).toSeq == Seq(1L))
    // empty hit: fast path — no rewrite, no version commit
    val v = tab.currentVersion.get
    assert(tab.deleteWhere(col("user_id") === 99L) == 0L)
    assert(tab.currentVersion.get == v)
    // SQL DELETE semantics: a null (UNKNOWN) predicate keeps every row
    assert(tab.deleteWhere(lit(null).cast("boolean")) == 0L)
    assert(tab.toDF.count() == 4)
  }

  test("updateWhere: copy-on-write in-place update; pin keeps originals; " +
      "row expressions see the row; ts/unknown columns refused; empty hit no-ops") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(
      ("2024-03-01 10:00:00", 1L, 1.0),
      ("2024-03-02 10:00:00", 2L, 2.0),
      ("2024-03-03 10:00:00", 3L, 3.0))))
    val pinned = tab.currentVersion.get
    val n = tab.updateWhere(col("user_id") === 2L, Map("value" -> lit(99.0)))
    assert(n == 1L)
    assert(tab.toDF.count() == 3, "update must not lose rows")
    assert(tab.toDF.where(col("value") === 99.0).collect()
      .map(_.getLong(1)).toSeq == Seq(2L))
    assert(tab.snapshotVersions.last._2 == "update")
    // the pre-update pin still serves the original value
    assert(tab.openAt(pinned).toDF.where(col("value") === 99.0).count() == 0)
    assert(tab.openAt(pinned).toDF.where(col("user_id") === 2L).head.getDouble(2) == 2.0)
    // assignment expressions evaluate against the ROW
    assert(tab.updateWhere(col("user_id") === 3L,
      Map("value" -> (col("value") * 2))) == 1L)
    assert(tab.toDF.where(col("user_id") === 3L).head.getDouble(2) == 6.0)
    // the ts column and unknown columns are refused up front
    intercept[IllegalArgumentException](
      tab.updateWhere(lit(true), Map("ts" -> lit(null))))
    intercept[IllegalArgumentException](
      tab.updateWhere(lit(true), Map("nope" -> lit(1))))
    // empty hit: no rewrite, no commit
    val v = tab.currentVersion.get
    assert(tab.updateWhere(col("user_id") === 99L, Map("value" -> lit(0.0))) == 0L)
    assert(tab.currentVersion.get == v)
  }

  test("mergeInto: matched rows update, unmatched insert as backfill; " +
      "untouched files keep their bytes; pin survives; one merge commit") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(
      ("2024-03-01 10:00:00", 1L, 1.0),
      ("2024-03-02 10:00:00", 2L, 2.0),
      ("2024-03-03 10:00:00", 3L, 3.0))))
    val pinned = tab.currentVersion.get
    def filesOf(day: String): Set[String] =
      new java.io.File(dir, s"p_date=$day").listFiles
        .map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith(".")).toSet
    val day3Before = filesOf("2024-03-03")
    // one source row matches user 2's key; one lands in day 1's PAST-day
    // partition and one in a brand-new past day — both appends would reject
    val src = mkRows(Seq(
      ("2024-03-02 10:00:00", 2L, 99.0),   // matched → update
      ("2024-03-01 23:00:00", 7L, 7.0),    // backfill into existing day 1
      ("2024-02-28 09:00:00", 8L, 8.0)))   // backfill into a NEW past day
    val r = tab.mergeInto(src, keys = Seq("ts", "user_id"))
    assert(r == TsTable.MergeResult(1L, 2L))
    assert(tab.toDF.count() == 5)
    assert(tab.toDF.where(col("user_id") === 2L).head.getDouble(2) == 99.0)
    assert(tab.toDF.where(col("user_id") === 8L).count() == 1)
    assert(new java.io.File(dir, "p_date=2024-02-28").isDirectory)
    // ONE "merge" version for the whole upsert
    assert(tab.snapshotVersions.last._2 == "merge")
    assert(tab.currentVersion.get == pinned + 1)
    // the no-hit day is untouched; the pre-merge pin serves the old state
    assert(filesOf("2024-03-03") == day3Before)
    assert(tab.openAt(pinned).toDF.count() == 3)
    assert(tab.openAt(pinned).toDF.where(col("user_id") === 2L)
      .head.getDouble(2) == 2.0)
    // maxDt/minDt still correct after backfill widened the day range
    assert(tab.minDt.get == t("2024-02-28 09:00:00"))
    assert(tab.maxDt.get == t("2024-03-03 10:00:00"))
    // backfilled day reads in ts order through readRange
    assert(tab.readRange(t("2024-03-01 00:00:00"), t("2024-03-01 23:59:59"))
      .orderBy("ts").collect().map(_.getLong(1)).toSeq == Seq(1L, 7L))
  }

  test("backfill: out-of-order bulk insert into past days; changesBetween " +
      "serves it; empty/no-ts batches behave like append's") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0))))
    tab.append(mkRows(Seq(("2024-03-03 10:00:00", 3L, 3.0))))
    val checkpoint = tab.currentVersion.get
    // a monotonic append can no longer create day 2 — backfill can
    intercept[IllegalArgumentException](
      tab.append(mkRows(Seq(("2024-03-02 10:00:00", 2L, 2.0)))))
    assert(tab.backfill(mkRows(Seq(
      ("2024-03-02 10:00:00", 2L, 2.0),
      ("2024-03-01 23:00:00", 9L, 9.0)))) == 2L)
    assert(tab.snapshotVersions.last._2 == "backfill")
    assert(tab.toDF.count() == 4)
    assert(new java.io.File(dir, "p_date=2024-03-02").isDirectory)
    assert(tab.readRange(t("2024-03-01 00:00:00"), t("2024-03-01 23:59:59"))
      .orderBy("ts").collect().map(_.getLong(1)).toSeq == Seq(1L, 9L))
    // unlike merge, a backfill is file-additive — incremental reads serve it
    assert(tab.changesBetween(checkpoint, tab.currentVersion.get).collect()
      .map(_.getLong(1)).sorted.toSeq == Seq(2L, 9L))
    // empty backfill: no commit; null ts: rejected
    val v = tab.currentVersion.get
    assert(tab.backfill(mkRows(Seq.empty)) == 0L)
    assert(tab.currentVersion.get == v)
    intercept[IllegalArgumentException](tab.backfill(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null, 7L, 7.0)), 1), schema)))
    // CHECK constraints gate backfills too
    val checked = tab.addCheck("nonneg", "value >= 0")
    intercept[IllegalArgumentException](
      checked.backfill(mkRows(Seq(("2024-03-02 11:00:00", 8L, -1.0)))))
    assert(checked.toDF.count() == 4)
  }

  test("mergeInto: modes, cardinality rule, and argument validation") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(
      ("2024-03-01 10:00:00", 1L, 1.0),
      ("2024-03-02 10:00:00", 2L, 2.0))))
    // update-only: unmatched source rows are IGNORED, nothing inserts
    val r1 = tab.mergeInto(mkRows(Seq(
        ("2024-03-01 10:00:00", 1L, 11.0),
        ("2024-03-09 10:00:00", 9L, 9.0))),
      keys = Seq("ts", "user_id"), insert = false)
    assert(r1 == TsTable.MergeResult(1L, 0L))
    assert(tab.toDF.count() == 2)
    assert(tab.toDF.where(col("user_id") === 1L).head.getDouble(2) == 11.0)
    // insert-only (keys-only update set): matched rows untouched, and the
    // matched side never even scans — updated reports 0
    val r2 = tab.mergeInto(
      mkRows(Seq(("2024-03-01 10:00:00", 1L, 55.0),
        ("2024-03-04 10:00:00", 4L, 4.0)))
        .select(col("ts"), col("user_id")), // keys + ts only
      keys = Seq("ts", "user_id"))
    assert(r2 == TsTable.MergeResult(0L, 1L))
    assert(tab.toDF.where(col("user_id") === 1L).head.getDouble(2) == 11.0,
      "insert-only merge must not touch matched rows")
    assert(tab.toDF.count() == 3)
    // explicit updateCols subset still works
    val v0 = tab.currentVersion.get
    assert(tab.mergeInto(mkRows(Seq(("2024-03-01 10:00:00", 1L, 11.0))),
      keys = Seq("ts", "user_id"), updateCols = Some(Seq("value")),
      insert = false) == TsTable.MergeResult(1L, 0L))
    // nothing-to-do merge (no match, insert off): no commit
    assert(tab.mergeInto(mkRows(Seq(("2024-03-09 10:00:00", 9L, 9.0))),
      keys = Seq("ts", "user_id"), insert = false) == TsTable.MergeResult(0L, 0L))
    assert(tab.currentVersion.get == v0 + 1) // only the first of the two committed
    // SQL MERGE cardinality rule: two source rows for one key → reject
    intercept[IllegalArgumentException](tab.mergeInto(mkRows(Seq(
        ("2024-03-01 10:00:00", 1L, 1.0),
        ("2024-03-01 10:00:00", 1L, 2.0))),
      keys = Seq("ts", "user_id")))
    // null insert ts → reject (rows would be unplaceable)
    val nullTs = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(null, 77L, 7.0)), 1), schema)
    intercept[IllegalArgumentException](
      tab.mergeInto(nullTs, keys = Seq("user_id")))
    // validation: unknown key / foreign source column / ts as updateCol
    intercept[IllegalArgumentException](
      tab.mergeInto(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0))),
        keys = Seq("nope")))
    intercept[IllegalArgumentException](
      tab.mergeInto(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0)))
        .withColumn("extra", lit(1)), keys = Seq("user_id")))
    intercept[IllegalArgumentException](
      tab.mergeInto(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0))),
        keys = Seq("user_id"), updateCols = Some(Seq("ts"))))
    // Some(Nil): update NOTHING even though the source carries data cols
    val vNil = tab.currentVersion.get
    assert(tab.mergeInto(mkRows(Seq(("2024-03-01 10:00:00", 1L, 77.0))),
      keys = Seq("ts", "user_id"), updateCols = Some(Seq.empty))
      == TsTable.MergeResult(0L, 0L))
    assert(tab.currentVersion.get == vNil)
    assert(tab.toDF.where(col("user_id") === 1L).head.getDouble(2) == 11.0)
  }

  test("deleteWhere: time-scoped delete can empty a whole day; edge aggregates " +
      "and later appends stay correct") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(
      ("2024-03-01 10:00:00", 1L, 1.0),
      ("2024-03-02 10:00:00", 2L, 2.0),
      ("2024-03-03 10:00:00", 3L, 3.0))))
    val n = tab.deleteWhere(col("ts").between(
      lit("2024-03-02 00:00:00").cast("timestamp"),
      lit("2024-03-02 23:59:59").cast("timestamp")))
    assert(n == 1L)
    assert(tab.toDF.count() == 2)
    assert(tab.minDt.contains(t("2024-03-01 10:00:00")))
    assert(tab.maxDt.contains(t("2024-03-03 10:00:00")))
    // the append monotonicity guard re-anchors on the surviving max
    tab.append(mkRows(Seq(("2024-03-04 09:00:00", 9L, 9.0))))
    assert(tab.toDF.count() == 3)
  }

  test("rewrite verbs through a stale pre-evolution handle do not drop " +
      "evolved columns (they delegate to the live descriptor)") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0))))
    val evolvedBatch = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(t("2024-03-01 11:00:00"), 2L, 2.0, "x")), 1),
      StructType(schema.fields :+ StructField("tag", StringType)))
    val evolved = tab.appendEvolved(evolvedBatch) // same day → 2 files
    assert(evolved.schema.fieldNames.contains("tag"))
    // `tab` is now STALE (still serves the 3-column projection); a compact
    // through it must still rewrite under the LIVE 4-column descriptor
    assert(tab.compactAll(targetFiles = 1) == Seq("2024-03-01"))
    val re = TsTable.open(spark, dir)
    assert(re.schema.fieldNames.contains("tag"))
    assert(re.toDF.where(col("tag") === "x").count() == 1,
      "compaction through a stale handle dropped an evolved column")
    // same rule for the stale-handle delete
    assert(tab.deleteWhere(col("user_id") === 1L) == 1L)
    val re2 = TsTable.open(spark, dir)
    assert(re2.toDF.where(col("tag") === "x").count() == 1,
      "delete through a stale handle dropped an evolved column")
    assert(re2.toDF.count() == 1)
    // an evolving append and a restore through the stale handle keep what
    // other handles added to the descriptor: a column, a CHECK, an index
    val other = TsTable.open(spark, dir).addCheck("pos", "user_id > 0")
      .declareIndexing(Seq("user_id"), Seq.empty)
    val v = other.currentVersion.get
    tab.appendEvolved(spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(t("2024-03-02 10:00:00"), 3L, 3.0, "n")), 1),
      StructType(schema.fields :+ StructField("note", StringType))))
    val re3 = TsTable.open(spark, dir)
    assert(re3.schema.fieldNames.toSeq ==
      Seq("ts", "user_id", "value", "tag", "note"))
    assert(re3.checks == Seq("pos" -> "user_id > 0"))
    assert(re3.writeOptions.statsCols == Seq("user_id"))
    tab.restore(v)
    val re4 = TsTable.open(spark, dir)
    assert(re4.checks == Seq("pos" -> "user_id > 0"),
      "restore through a stale handle erased a CHECK")
    assert(re4.schema.fieldNames.toSeq == Seq("ts", "user_id", "value", "tag"))
    assert(re4.writeOptions.statsCols == Seq("user_id"))
  }

  test("schema evolution: added column null-backfills history, survives reopen") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0))))
    val widened = StructType(schema.fields :+ StructField("tag", StringType))
    val batch2 = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(t("2024-03-02 10:00:00"), 2L, 2.0, "fresh")), 1), widened)
    val evolved = tab.appendEvolved(batch2)
    assert(evolved.schema.fieldNames.toSeq == Seq("ts", "user_id", "value", "tag"))
    val all = evolved.readRange(t("2024-03-01 00:00:00"), t("2024-03-03 00:00:00"))
      .orderBy("ts").collect()
    assert(all.length == 2)
    assert(all(0).isNullAt(3), "pre-evolution row must null-backfill the new column")
    assert(all(1).getString(3) == "fresh")
    // a fresh open sees the union schema (descriptor was rewritten)
    val reopened = TsTable.open(spark, dir)
    assert(reopened.schema.fieldNames.toSeq == Seq("ts", "user_id", "value", "tag"))
    // the stale handle keeps serving its old projection
    assert(tab.readRange(t("2024-03-01 00:00:00"), t("2024-03-03 00:00:00"))
      .schema.fieldNames.toSeq == Seq("ts", "user_id", "value"))
  }

  test("schema evolution: narrow producer null-fills; type conflict fails fast") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0))))
    // narrower batch (no value column) — allowed, null-filled
    val narrow = StructType(Seq(StructField("ts", TimestampType),
      StructField("user_id", LongType)))
    val same = tab.appendEvolved(spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(t("2024-03-02 10:00:00"), 2L)), 1), narrow))
    assert(same.schema.fieldNames.toSeq == Seq("ts", "user_id", "value"))
    val rows = same.toDF.orderBy("ts").collect()
    assert(rows(1).isNullAt(2), "missing column must write as null")
    // conflicting type on an existing column → rejected before any write
    val clash = StructType(Seq(StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("value", StringType)))
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(t("2024-03-03 10:00:00"), 3L, "oops")), 1), clash)
    val e = intercept[IllegalArgumentException] { tab.appendEvolved(bad) }
    assert(e.getMessage.contains("conflicts with stored"))
    assert(same.toDF.count() == 2, "failed evolve must not have written rows")
    // the ordering guard still applies across an evolving append
    val late = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(t("2024-01-01 00:00:00"), 4L)), 1), narrow)
    val e2 = intercept[IllegalArgumentException] { same.appendEvolved(late) }
    assert(e2.getMessage.contains("append-ordered"))
  }

  test("partitionStats: per-day files/bytes/rows match the layout") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(
      ("2024-03-01 10:00:00", 1L, 1.0),
      ("2024-03-01 11:00:00", 2L, 2.0),
      ("2024-03-02 10:00:00", 3L, 3.0))))
    val stats = tab.partitionStats.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(stats.map(s => (s._1, s._2, s._4)).toSeq ==
      Seq(("2024-03-01", 1L, 2L), ("2024-03-02", 1L, 1L)))
    assert(stats.forall(_._3 > 0L), "bytes must be positive")
    // a second append doubles the day's file count, compact restores it
    tab.append(mkRows(Seq(("2024-03-02 12:00:00", 4L, 4.0))))
    val afterAppend = tab.partitionStats.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(afterAppend("2024-03-02") == ((2L, 2L)))
    tab.compactAll(targetFiles = 1)
    val afterCompact = tab.partitionStats.collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(afterCompact("2024-03-02") == ((1L, 2L)))
  }

  test("schema evolution: a rejected evolving append leaves the descriptor untouched") {
    val dir = freshDir()
    val tab = TsTable.create(spark, dir, schema)
    tab.append(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0))))
    // adds a column AND regresses in time: append's ordering guard fires
    // AFTER the union schema is computed — the descriptor must not mutate
    val widened = StructType(schema.fields :+ StructField("tag", StringType))
    val bad = spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(t("2024-01-01 00:00:00"), 2L, 2.0, "late")), 1), widened)
    intercept[IllegalArgumentException] { tab.appendEvolved(bad) }
    assert(TsTable.open(spark, dir).schema.fieldNames.toSeq ==
      Seq("ts", "user_id", "value"),
      "a failed evolving append must not install the union schema")
  }

  test("schema evolution: null-filling a non-nullable column relaxes the descriptor") {
    val dir = freshDir()
    val strictSchema = StructType(Seq(
      StructField("ts", TimestampType, nullable = false),
      StructField("user_id", LongType, nullable = false),
      StructField("value", DoubleType, nullable = false)))
    val tab = TsTable.create(spark, dir, strictSchema)
    val narrow = StructType(Seq(StructField("ts", TimestampType),
      StructField("user_id", LongType)))
    tab.appendEvolved(spark.createDataFrame(
      spark.sparkContext.parallelize(
        Seq(Row(t("2024-03-01 10:00:00"), 1L)), 1), narrow))
    // the stored schema must now admit the null actually written — a
    // non-nullable claim over null data lets Catalyst fold IS NULL to false
    val reopened = TsTable.open(spark, dir)
    assert(reopened.schema("value").nullable,
      "descriptor must relax nullability when nulls are backfilled")
    assert(reopened.toDF.where(col("value").isNull).count() == 1,
      "the IS NULL predicate must see the backfilled null")
  }
}
