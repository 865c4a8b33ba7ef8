package graft

import graft.ts.TsTable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.sql.Timestamp

/** The `CALL graft_ts.system.*` maintenance procedures: each delegates to
  * the facade verb and returns its report as rows, so the whole store
  * lifecycle is drivable from SQL alone. */
class GraftTsProceduresSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("ts", TimestampType), StructField("user_id", LongType),
    StructField("value", DoubleType)))

  private def mkRows(rows: Seq[(String, Long, Double)]): DataFrame = {
    import spark.implicits._
    rows.map { case (s, u, v) => (Timestamp.valueOf(s), u, v) }
      .toDF("ts", "user_id", "value")
  }

  private def freshDir() =
    java.nio.file.Files.createTempDirectory("ts_proc_spec").toString

  test("CALL compact / history / restore / expire_snapshots drive the " +
      "facade verbs and report as rows") {
    val dir = freshDir()
    val t = TsTable.create(spark, dir, schema)
    t.append(mkRows(Seq(("2024-03-01 08:00:00", 1L, 1.0))))
    t.append(mkRows(Seq(("2024-03-01 12:00:00", 2L, 2.0))))
    t.append(mkRows(Seq(("2024-03-02 09:00:00", 3L, 3.0))))
    val pinned = t.currentVersion.get

    // history: one row per retained version, straight from the manifests
    val hist = spark.sql(s"CALL graft_ts.system.history(`table` => '$dir')")
    assert(hist.columns.toSeq == Seq("version", "action", "n_files", "n_bytes"))
    val acts = hist.orderBy("version").collect().map(_.getString(1)).toSeq
    assert(acts == Seq("create", "append", "append", "append"))

    // compact: day 1 holds two files → rewritten; the report names it
    val compacted = spark.sql(
      s"CALL graft_ts.system.compact(`table` => '$dir', target_files => 1)")
    assert(compacted.collect().map(_.getString(0)).toSeq == Seq("2024-03-01"))
    assert(new java.io.File(dir, "p_date=2024-03-01").listFiles
      .count(f => f.isFile && !f.getName.startsWith("_") &&
        !f.getName.startsWith(".")) == 1)
    // data intact through SQL read
    assert(spark.sql(s"SELECT count(*) FROM graft_ts.`$dir`").head.getLong(0) == 3)

    // compact with cluster_by: the z-order re-sort verb through SQL —
    // any existing day qualifies (re-sort, not bin-packing), content holds
    val reclustered = spark.sql(
      s"CALL graft_ts.system.compact(`table` => '$dir', target_files => 1, " +
        "cluster_by => 'user_id,value')")
    assert(reclustered.collect().map(_.getString(0)).toSeq ==
      Seq("2024-03-01", "2024-03-02"))
    assert(spark.sql(s"SELECT count(*) FROM graft_ts.`$dir`").head.getLong(0) == 3)

    // restore to the pre-compact pin: returns (restored, new current)
    val restored = spark.sql(
      s"CALL graft_ts.system.restore(`table` => '$dir', version => $pinned)")
      .head
    assert(restored.getLong(0) == pinned)
    assert(restored.getLong(1) > pinned)
    assert(TsTable.open(spark, dir).snapshotVersions.last._2 == "restore")
    assert(spark.sql(s"SELECT count(*) FROM graft_ts.`$dir`").head.getLong(0) == 3)

    // expire_snapshots: keep the newest only; the report lists the expired
    val before = TsTable.open(spark, dir).snapshotVersions.map(_._1)
    val expired = spark.sql(
      s"CALL graft_ts.system.expire_snapshots(`table` => '$dir', keep_last => 1)")
      .collect().map(_.getLong(0)).toSeq
    assert(expired == before.init)
    assert(TsTable.open(spark, dir).snapshotVersions.map(_._1) == Seq(before.last))

    // unknown procedure → a clear error; Spark wraps it in
    // FAILED_TO_LOAD_ROUTINE, our message rides the cause chain
    val e = intercept[Exception](
      spark.sql(s"CALL graft_ts.system.nope(`table` => '$dir')"))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("\n")
    assert(msgs.contains("FAILED_TO_LOAD_ROUTINE") || msgs.contains("compact"),
      msgs)
  }

  test("CALL clone materializes an independent table at dest and reports its size") {
    val dir = freshDir()
    val t = TsTable.create(spark, dir, schema)
    t.append(mkRows(Seq(("2024-03-01 08:00:00", 1L, 1.0))))
    val pinned = t.currentVersion.get
    t.append(mkRows(Seq(("2024-03-02 09:00:00", 2L, 2.0))))
    val dest = freshDir() + "/clone"
    val r = spark.sql(s"CALL graft_ts.system.clone(`table` => '$dir', " +
      s"version => $pinned, dest => '$dest')").collect().head
    assert(r.getString(0) == dest && r.getLong(1) == pinned && r.getLong(2) == 1L)
    // the clone serves the pinned state and is INDEPENDENT of the source
    val c = TsTable.open(spark, dest)
    assert(c.toDF.count() == 1)
    t.deleteWhere(col("user_id") === 1L)
    assert(c.toDF.count() == 1, "source mutation must not touch the clone")
  }

  test("CALL migrate_field_ids upgrades a legacy plain-parquet store from " +
      "SQL alone: rename works after, rows survive, re-run is a no-op") {
    val dir = freshDir()
    // a legacy attached layout: plain parquet, no descriptor, no ids
    mkRows(Seq(
      ("2024-03-01 08:00:00", 1L, 1.0),
      ("2024-03-01 12:00:00", 2L, 2.0))).write.mode("overwrite").parquet(dir)
    val n = spark.sql(
      s"CALL graft_ts.system.migrate_field_ids(`table` => '$dir')")
    assert(n.columns.toSeq == Seq("rewritten_files"))
    assert(n.head.getInt(0) > 0, "the legacy files must rewrite")
    assert(TsTable.open(spark, dir).snapshotVersions.last._2 == "migrate")
    // the upgrade's whole point: rename is now legal and loses nothing
    TsTable.open(spark, dir).renameColumn("value", "px")
    val got = spark.sql(
      s"SELECT user_id, px FROM graft_ts.`$dir` ORDER BY user_id")
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got == Seq((1L, 1.0), (2L, 2.0)))
    // idempotent: everything already carries ids
    assert(spark.sql(
      s"CALL graft_ts.system.migrate_field_ids(`table` => '$dir')")
      .head.getInt(0) == 0)
  }

  test("CALL declare_indexing builds the skip index on an existing store " +
      "from SQL alone: probes prune through the backfilled filters") {
    val dir = freshDir()
    val t = TsTable.create(spark, dir, schema) // no indexes declared
    t.append(mkRows(Seq(
      ("2024-03-01 08:00:00", 1L, 1.0), ("2024-03-01 09:00:00", 2L, 2.0))))
    t.append(mkRows(Seq(("2024-03-02 08:00:00", 3L, 3.0))))
    val r = spark.sql(
      s"CALL graft_ts.system.declare_indexing(`table` => '$dir', " +
        "bloom_cols => 'user_id')").head
    assert(r.getString(1) == "user_id" && r.getLong(2) > 0)
    val up = TsTable.open(spark, dir)
    val cands = graft.ts.TsBloomSpecAccess.plannedFiles(up, "user_id", Seq(3L))
    assert(cands.length == 1 && cands.head.startsWith("p_date=2024-03-02/"),
      s"backfilled bloom must prune to the owning file, got $cands")
    assert(up.lookupEq("user_id", Seq(3L)).count() == 1)
  }

  test("ALTER TABLE ALTER COLUMN TYPE: lossless widening through SQL — " +
      "narrow files promote, lossy changes refuse") {
    val dir = freshDir()
    val narrow = StructType(Seq(
      StructField("ts", TimestampType), StructField("user_id", IntegerType),
      StructField("value", FloatType)))
    val t = TsTable.create(spark, dir, narrow)
    import spark.implicits._
    t.append(Seq((Timestamp.valueOf("2024-03-01 10:00:00"), 7, 1.5f))
      .toDF("ts", "user_id", "value"))
    spark.sql(s"ALTER TABLE graft_ts.`$dir` ALTER COLUMN user_id TYPE BIGINT")
    spark.sql(s"ALTER TABLE graft_ts.`$dir` ALTER COLUMN value TYPE DOUBLE")
    val r = spark.sql(s"SELECT user_id, value FROM graft_ts.`$dir`").head
    assert(r.getLong(0) == 7L && r.getDouble(1) == 1.5,
      "the narrow file must promote value-identically through SQL")
    assert(TsTable.open(spark, dir).snapshotVersions.count(_._2 == "widen") == 2)
    // long -> double is lossy and refuses
    intercept[Exception](spark.sql(
      s"ALTER TABLE graft_ts.`$dir` ALTER COLUMN user_id TYPE DOUBLE"))
  }

  test("ALTER COLUMN TYPE DECIMAL: precision growth at the same scale " +
      "widens through SQL; a scale change refuses") {
    val dir = freshDir()
    val narrow = StructType(Seq(
      StructField("ts", TimestampType),
      StructField("amount", org.apache.spark.sql.types.DecimalType(9, 2))))
    val t = TsTable.create(spark, dir, narrow)
    t.append(spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(
        Timestamp.valueOf("2024-03-01 10:00:00"),
        new java.math.BigDecimal("1234567.89"))), 1), narrow))
    spark.sql(s"ALTER TABLE graft_ts.`$dir` ALTER COLUMN amount TYPE DECIMAL(20,2)")
    val r = spark.sql(s"SELECT amount FROM graft_ts.`$dir`").head
    assert(r.getDecimal(0).toPlainString == "1234567.89",
      "the narrow-decimal file must promote value-identically through SQL")
    assert(TsTable.open(spark, dir).schema("amount").dataType ==
      org.apache.spark.sql.types.DecimalType(20, 2))
    intercept[Exception](spark.sql(
      s"ALTER TABLE graft_ts.`$dir` ALTER COLUMN amount TYPE DECIMAL(24,4)"))
  }

  test("CALL detail reports the one-row table summary, metadata-only") {
    val dir = freshDir()
    val t = TsTable.create(spark, dir, schema,
      writeOptions = graft.ts.TsWriteOptions(statsCols = Seq("user_id"),
        bloomCols = Seq("user_id")))
    t.append(mkRows(Seq(("2024-03-01 08:00:00", 1L, 1.0))))
    t.append(mkRows(Seq(("2024-03-02 09:00:00", 2L, 2.0))))
    val d = spark.sql(s"CALL graft_ts.system.detail(`table` => '$dir')").head
    assert(d.getString(0) == dir && d.getString(1) == "ts")
    assert(d.getInt(2) == 3)        // ts, user_id, value
    assert(d.getLong(3) == 2L)      // two day partitions
    assert(d.getLong(4) == 2L)      // one file each
    assert(d.getLong(5) > 0L)
    assert(d.getLong(6) == 3L && d.getLong(7) == 3L) // create + 2 appends
    assert(d.getLong(8) == 0L)      // nothing archived yet
    assert(d.getString(10) == "user_id" && d.getString(11) == "user_id")
    // facade face agrees
    val f = TsTable.open(spark, dir).detail.head
    assert(f.getLong(4) == 2L && f.getString(11) == "user_id")
    // archive footprint moves after retention drops a day
    t.dropBefore("2024-03-02")
    val d2 = spark.sql(s"CALL graft_ts.system.detail(`table` => '$dir')").head
    assert(d2.getLong(3) == 1L && d2.getLong(8) >= 1L && d2.getLong(9) > 0L)
  }

  test("CALL vacuum_staging reclaims aged crash leftovers, spares fresh " +
      "staging and live data") {
    val dir = freshDir()
    val t = TsTable.create(spark, dir, schema)
    t.append(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0))))
    // plant leftovers: an aged rewrite staging dir, an aged V2 temp file,
    // and a FRESH staging dir that must survive
    val old1 = new java.io.File(dir, "_delete_tmp"); old1.mkdirs()
    new java.io.File(old1, "part-x.parquet").createNewFile()
    val tmpF = new java.io.File(dir, "p_date=2024-03-01/_tmp-crashed.parquet")
    tmpF.createNewFile()
    val fresh = new java.io.File(dir, "_compact_tmp_batch"); fresh.mkdirs()
    old1.setLastModified(System.currentTimeMillis() - 7200000L)
    tmpF.setLastModified(System.currentTimeMillis() - 7200000L)
    val removed = spark.sql(
      s"CALL graft_ts.system.vacuum_staging(`table` => '$dir', older_than_ms => ${3600000L})")
      .collect().map(_.getString(0)).toSet
    assert(removed == Set("_delete_tmp", "p_date=2024-03-01/_tmp-crashed.parquet"),
      removed.toString)
    assert(!old1.exists && !tmpF.exists)
    assert(fresh.exists, "fresh staging must survive the age guard")
    assert(TsTable.open(spark, dir).toDF.count() == 1, "live data untouched")
  }

  test("ALTER TABLE ADD COLUMNS: pure-DDL widening, old files null-fill, " +
      "pre-evolve pins serve the narrow schema, destructive changes refused") {
    val dir = freshDir()
    val t = TsTable.create(spark, dir, schema)
    t.append(mkRows(Seq(("2024-03-01 10:00:00", 1L, 1.0))))
    val pinned = t.currentVersion.get
    spark.sql(s"ALTER TABLE graft_ts.`$dir` ADD COLUMNS (tag STRING, n INT)")
    // widened schema serves immediately; existing rows null-fill
    val widened = spark.sql(s"SELECT * FROM graft_ts.`$dir`")
    assert(widened.columns.toSeq == Seq("ts", "user_id", "value", "tag", "n"))
    val r = widened.head
    assert(r.isNullAt(3) && r.isNullAt(4))
    // an "evolve" version committed; the pre-evolve pin is still narrow
    val reopened = TsTable.open(spark, dir)
    assert(reopened.snapshotVersions.last._2 == "evolve")
    assert(spark.sql(
        s"SELECT * FROM graft_ts.`$dir` VERSION AS OF $pinned")
      .columns.toSeq == Seq("ts", "user_id", "value"))
    // appends through the widened table carry the new columns
    import spark.implicits._
    reopened.append(Seq((Timestamp.valueOf("2024-03-02 10:00:00"), 2L, 2.0,
        "x", 5)).toDF("ts", "user_id", "value", "tag", "n"))
    assert(spark.sql(s"SELECT tag FROM graft_ts.`$dir` WHERE user_id = 2")
      .head.getString(0) == "x")
    // name collision and history-reinterpreting changes are refused
    intercept[Exception](
      spark.sql(s"ALTER TABLE graft_ts.`$dir` ADD COLUMNS (value DOUBLE)"))
    intercept[Exception](
      spark.sql(s"ALTER TABLE graft_ts.`$dir` ALTER COLUMN value TYPE INT"))
    // RENAME COLUMN is pure DDL (field-id mapping): the pre-rename file's
    // value serves under the new label
    spark.sql(s"ALTER TABLE graft_ts.`$dir` RENAME COLUMN tag TO label")
    assert(spark.sql(s"SELECT label FROM graft_ts.`$dir` WHERE user_id = 2")
      .head.getString(0) == "x")
    // DROP COLUMN narrows via the pure-DDL drop (TsDropColumnSpec has the
    // full surface); the dropped name tombstones against SQL re-add
    spark.sql(s"ALTER TABLE graft_ts.`$dir` DROP COLUMN n")
    assert(spark.sql(s"SELECT * FROM graft_ts.`$dir`").columns.toSeq ==
      Seq("ts", "user_id", "value", "label"))
    intercept[Exception](
      spark.sql(s"ALTER TABLE graft_ts.`$dir` ADD COLUMNS (n INT)"))
  }
}
