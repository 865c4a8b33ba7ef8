package graft

import graft.ts.{TsTable, TsWriteOptions}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField}

/** `TsTable.renameColumn` — pure-DDL relabeling over parquet field ids:
  * old files keep the old name in their footers but serve the renamed
  * column exactly; pins serve each version's own labels; the old name
  * retires into the tombstone list (stale per-file index entries);
  * declared stats/bloom membership and the ts identity follow; change
  * feeds cross the rename without null-filling; pre-field-id tables are
  * refused loudly. */
class TsRenameColumnSpec extends SparkSpec {

  private def freshStore(tag: String): (String, org.apache.hadoop.fs.FileSystem) = {
    val store = new java.io.File(sys.props("java.io.tmpdir"), s"graft_rencol_$tag").toString
    val p = new Path(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    (store, fs)
  }

  /** day 1 appended pre-rename, day 2 post-rename (by the caller). */
  private def build(tag: String,
      opts: TsWriteOptions = TsWriteOptions()): (TsTable, String) = {
    val (store, _) = freshStore(tag)
    val d1 = Tables.events(spark, sf0001)
      .where(col("ts") < lit("2024-01-02 00:00:00").cast("timestamp"))
    val t = TsTable.create(spark, store, d1.schema, tsCol = "ts",
      writeOptions = opts)
    t.append(d1)
    (t, store)
  }

  private def day2 = Tables.events(spark, sf0001)
    .where(col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp") &&
      col("ts") < lit("2024-01-03 00:00:00").cast("timestamp"))

  test("rename mid-history: old files serve the new label with their values; " +
      "a pre-rename pin serves the old label; new appends write the new name") {
    val (t, store) = build("mid")
    val preRename = t.currentVersion.get
    val oldVals = t.toDF.select(col("event_id"), col("value"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val renamed = t.renameColumn("value", "px")
    assert(renamed.schema.fieldNames.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "px", "props"))
    assert(renamed.snapshotVersions.last._2 == "rename")
    // day 2 lands under the new name (files physically carry "px")
    renamed.append(day2.withColumnRenamed("value", "px"))
    val re = TsTable.open(spark, store)
    val allRows = re.toDF.select(col("event_id"), col("px")).collect()
    assert(allRows.length == oldVals.size + day2.count())
    // pre-rename files' values come through NON-NULL under the new label
    allRows.filter(r => oldVals.contains(r.getLong(0))).foreach { r =>
      assert(!r.isNullAt(1) && r.getDouble(1) == oldVals(r.getLong(0)),
        s"event ${r.getLong(0)} lost its value across the rename")
    }
    // the pin predating the rename serves ITS schema — the old label
    val pinned = re.openAt(preRename)
    assert(pinned.schema.fieldNames.contains("value") &&
      !pinned.schema.fieldNames.contains("px"))
    assert(pinned.toDF.select("value").where(col("value").isNotNull).count() ==
      oldVals.size)
    // appending under the OLD name is now a schema mismatch, loudly
    intercept[IllegalArgumentException](re.append(day2))
  }

  test("V2 connector and SQL serve the renamed column from pre-rename files") {
    val (t, store) = build("v2")
    t.renameColumn("value", "px")
    val v2 = spark.read.format("graft-ts").load(store)
    assert(v2.columns.contains("px") && !v2.columns.contains("value"))
    assert(v2.where(col("px").isNotNull).count() == t.toDF.count())
    assert(spark.sql(s"SELECT sum(px) AS s FROM graft_ts.`$store`")
      .head.getDouble(0) > 0)
  }

  test("rename-then-drop composes; both labels stay retired") {
    val (t, store) = build("thendrop")
    val renamed = t.renameColumn("props", "attrs")
    val dropped = renamed.dropColumns(Seq("attrs"))
    assert(dropped.schema.fieldNames.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value"))
    val re = TsTable.open(spark, store)
    // the old label retired at rename; the new one at drop — both refuse
    val e1 = intercept[IllegalArgumentException](
      re.addColumns(Seq(StructField("props", DoubleType))))
    assert(e1.getMessage.contains("dropped"))
    val e2 = intercept[IllegalArgumentException](
      re.addColumns(Seq(StructField("attrs", DoubleType))))
    assert(e2.getMessage.contains("dropped"))
    // ...and a rename onto a retired label is refused too
    val e3 = intercept[IllegalArgumentException](
      re.renameColumn("value", "props"))
    assert(e3.getMessage.contains("retired"))
  }

  test("refusals: collision, unknown, no-op, reserved, invalid, CHECK-referenced") {
    val (t, _) = build("refuse")
    intercept[IllegalArgumentException](t.renameColumn("value", "user_id"))
    intercept[IllegalArgumentException](t.renameColumn("nope", "x"))
    intercept[IllegalArgumentException](t.renameColumn("value", "VALUE"))
    intercept[IllegalArgumentException](t.renameColumn("value", "p_date"))
    intercept[IllegalArgumentException](t.renameColumn("value", "bad name"))
    val checked = t.addCheck("v_nonneg", "value >= 0 OR value IS NULL")
    val e = intercept[IllegalArgumentException](
      checked.renameColumn("value", "px"))
    assert(e.getMessage.contains("CHECK"))
    // an unrelated column renames fine under the same CHECK
    checked.renameColumn("props", "attrs")
  }

  test("declared stats/bloom membership follows the rename; pruning still " +
      "gates (old files kept, never wrongly skipped; new files skip)") {
    val (t, store) = build("index", TsWriteOptions(
      statsCols = Seq("value"), bloomCols = Seq("user_id")))
    val renamed = t.renameColumn("user_id", "uid")
    assert(renamed.writeOptions.bloomCols == Seq("uid"))
    renamed.append(day2.withColumnRenamed("user_id", "uid"))
    val re = TsTable.open(spark, store)
    assert(re.writeOptions.bloomCols == Seq("uid"))
    // lookupEq under the new name: exact rows, across both generations
    val want = re.toDF.where(col("uid") === 1L).count()
    assert(re.lookupEq("uid", Seq(1L)).count() == want && want > 0)
    // stats membership followed too
    assert(re.writeOptions.statsCols == Seq("value"))
    val renamed2 = re.renameColumn("value", "px")
    assert(renamed2.writeOptions.statsCols == Seq("px"))
  }

  test("renaming the ts column keeps the order identity: min/max, append, " +
      "readRange all follow") {
    val (t, store) = build("tscol")
    val (lo, hi) = (t.minDt.get, t.maxDt.get)
    val d1Count = t.toDF.count()
    val renamed = t.renameColumn("ts", "event_ts")
    assert(renamed.tsCol == "event_ts")
    val re = TsTable.open(spark, store)
    assert(re.tsCol == "event_ts")
    assert(re.minDt.contains(lo) && re.maxDt.contains(hi))
    re.append(day2.withColumnRenamed("ts", "event_ts"))
    val day1Rows = re.readRange(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-01 23:59:59"))
    assert(day1Rows.count() == d1Count)
    assert(day1Rows.columns.contains("event_ts"))
  }

  test("changeFeed and changesBetween cross the rename without null-filling " +
      "the relabeled column") {
    val (t, store) = build("cdf")
    val renamed = t.renameColumn("value", "px")
    renamed.append(day2.withColumnRenamed("value", "px"))
    val re = TsTable.open(spark, store)
    val cur = re.currentVersion.get
    // from the empty create: both appends' rows, all under px, none null
    val feed = re.changeFeed(1L, cur)
    assert(feed.columns.contains("px"))
    assert(feed.where(col("_change_type") === "insert").count() == re.toDF.count())
    assert(feed.where(col("px").isNull).count() ==
      re.toDF.where(col("px").isNull).count(),
      "the rename must not null-fill the relabeled column in the feed")
    val changes = re.changesBetween(1L, cur)
    assert(changes.columns.contains("px") &&
      changes.where(col("px").isNotNull).count() == re.toDF.count())
    // the rename version itself is content-preserving: no rows
    assert(re.changeFeed(2L, 3L).count() == 0)
  }

  test("a stream started AFTER a mid-history rename replays the horizon " +
      "under the CURRENT labels (field ids align the generations)") {
    val (t, store) = build("stream")
    val renamed = t.renameColumn("value", "px")
    renamed.append(day2.withColumnRenamed("value", "px"))
    // expire history so startingVersion=0 forces the horizon stand-in —
    // the earliest retained version PREDATES nothing here, so first expire
    // down to a post-rename horizon… actually keep all: the create (v1)
    // horizon exists, so replay walks create→append(value-era)→rename→
    // append(px-era); the value-era diff must surface as px
    val expected = TsTable.open(spark, store).toDF
      .select(col("event_id"), col("px")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1)))
      .toMap
    val got = scala.collection.mutable.Map[Long, Any]()
    val ckpt = java.nio.file.Files.createTempDirectory("ren_stream").toString
    val q = spark.readStream.format("graft-ts")
      .option("startingVersion", "0").load(store)
      .writeStream.option("checkpointLocation", s"$ckpt/ckpt")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        assert(b.columns.contains("px") && !b.columns.contains("value"))
        b.select(col("event_id"), col("px")).collect().foreach(r =>
          got(r.getLong(0)) = if (r.isNullAt(1)) null else r.getDouble(1))
        ()
      }.start()
    try {
      q.processAllAvailable()
      assert(got.size == expected.size,
        s"replay row count ${got.size} != ${expected.size}")
      assert(got.forall { case (k, v) => expected(k) == v },
        "value-era rows must stream under px with their values intact")
    } finally q.stop()
  }

  test("V2-written files (SQL INSERT INTO) carry field ids too: a rename " +
      "after a connector write serves the inserted rows under the new label") {
    val (t, store) = build("v2write")
    // a connector write lands through TsTable.append, whose writer
    // re-attaches the descriptor's field ids — if that path dropped the
    // ids, the rename below would silently null this row
    spark.sql(s"INSERT INTO graft_ts.`$store` VALUES " +
      "(990001, TIMESTAMP '2024-01-02 00:00:01', 424242, 'purchase', 77.25, '{}')")
    val renamed = TsTable.open(spark, store).renameColumn("value", "px")
    val got = renamed.toDF.where(col("user_id") === 424242L)
      .select(col("px")).collect()
    assert(got.length == 1 && !got.head.isNullAt(0) &&
      got.head.getDouble(0) == 77.25,
      s"V2-written row lost its value across the rename: ${got.mkString}")
    // …and the V2 read face agrees
    assert(spark.sql(s"SELECT px FROM graft_ts.`$store` WHERE user_id = 424242")
      .head.getDouble(0) == 77.25)
  }

  test("restore to a pre-rename version rolls the rename back cleanly: " +
      "old label serves, the tombstone clears, and the name can rename again") {
    val (t, store) = build("restore")
    val preRename = t.currentVersion.get
    val want = t.toDF.select(col("event_id"), col("value"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    t.renameColumn("value", "px")
    TsTable.open(spark, store).restore(preRename)
    val re = TsTable.open(spark, store)
    assert(re.schema.fieldNames.contains("value") &&
      !re.schema.fieldNames.contains("px"),
      "restore must revert the descriptor to the pre-rename labels")
    val got = re.toDF.select(col("event_id"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want, "content must survive the rename round-trip")
    // the tombstone cleared with the restore ("value" is legitimately
    // back), so evolving/renaming the label works again
    val again = re.renameColumn("value", "price")
    assert(again.schema.fieldNames.contains("price"))
    assert(TsTable.open(spark, store).toDF
      .where(col("price").isNotNull).count() == want.size)
  }

  test("a STALE handle's DDL delegates to the live descriptor: rename " +
      "through a pre-evolution handle keeps the column another session " +
      "added (no descriptor clobber)") {
    val (t, store) = build("stale")
    // evolve through a DIFFERENT handle — t's descriptor view is now stale
    TsTable.open(spark, store).addColumns(Seq(StructField("extra", DoubleType)))
    val renamed = t.renameColumn("value", "px") // must re-read, not clobber
    assert(renamed.schema.fieldNames.contains("extra"),
      "the stale-handle rename silently dropped the evolved column")
    assert(renamed.schema.fieldNames.contains("px"))
    assert(TsTable.open(spark, store).schema.fieldNames.toSet
      .intersect(Set("extra", "px")) == Set("extra", "px"))
  }

  test("a pre-field-id table refuses rename loudly") {
    val (store, _) = freshStore("legacy")
    // an attached plain dir: no descriptor, schema inferred, no ids
    Tables.events(spark, sf0001)
      .where(col("ts") < lit("2024-01-02 00:00:00").cast("timestamp"))
      .write.parquet(store)
    val t = TsTable.open(spark, store)
    val e = intercept[IllegalArgumentException](
      t.renameColumn("value", "px"))
    assert(e.getMessage.contains("field-id"))
    assert(e.getMessage.contains("migrateFieldIds"),
      "the refusal must name the in-place fix")
  }

  test("migrateFieldIds upgrades a legacy table in place: refuse → migrate " +
      "→ rename; pre-migrate rows serve by name, post-rename under the new " +
      "label with no null-fill") {
    val (store, _) = freshStore("migrate")
    val d1 = Tables.events(spark, sf0001)
      .where(col("ts") < lit("2024-01-02 00:00:00").cast("timestamp"))
    d1.write.parquet(store) // attached plain dir: no descriptor, no ids
    val want = d1.select(col("event_id"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val t = TsTable.open(spark, store)
    intercept[IllegalArgumentException](t.renameColumn("value", "px"))
    // pre-migrate, the attached files serve by NAME (nothing is lost)
    assert(t.toDF.where(col("value").isNotNull).count() == want.size)
    val rewritten = t.migrateFieldIds()
    assert(rewritten > 0, "the legacy files must rewrite")
    val up = TsTable.open(spark, store)
    assert(up.snapshotVersions.last._2 == "migrate")
    val gotPre = up.toDF.select(col("event_id"), col("value")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(gotPre == want, "migrate is content-preserving")
    assert(up.migrateFieldIds() == 0, "a second migrate is a no-op")
    val preRename = up.currentVersion.get
    up.renameColumn("value", "px")
    val got = TsTable.open(spark, store).toDF
      .select(col("event_id"), col("px")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == want,
      "migrated files must serve the renamed column, never null-fill")
    // the pre-rename pin serves the OLD label (each version's own schema)
    assert(TsTable.openAt(spark, store, preRename)
      .schema.fieldNames.contains("value"))
  }

  test("rename refuses while an attached foreign (id-less) file is live; " +
      "migrateFieldIds rewrites exactly that file and the rename then " +
      "serves its rows under the new label") {
    val (t, store) = build("foreign")
    // attach a raw parquet file the table never wrote: id-less footers
    val extra = Tables.events(spark, sf0001)
      .where(col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp") &&
        col("ts") < lit("2024-01-03 00:00:00").cast("timestamp"))
      .limit(3).coalesce(1)
    val extraIds = extra.select("event_id").collect().map(_.getLong(0)).toSet
    extra.drop("p_date")
      .write.mode("append").parquet(store + "/p_date=2024-01-02")
    val e = intercept[IllegalArgumentException](t.renameColumn("value", "px"))
    assert(e.getMessage.contains("migrateFieldIds") &&
      e.getMessage.contains("field ids"),
      s"the refusal must name the hazard and the fix, got: ${e.getMessage}")
    val rewritten = t.migrateFieldIds()
    assert(rewritten == 1, s"exactly the one foreign file rewrites, got $rewritten")
    val up = TsTable.open(spark, store)
    val ren = up.renameColumn("value", "px")
    assert(ren.schema.fieldNames.contains("px"))
    val re = TsTable.open(spark, store)
    // the foreign rows survive the rename under the new label, non-null
    val foreignRows = re.toDF.where(col("event_id").isInCollection(extraIds))
      .select(col("event_id"), col("px")).collect()
    assert(foreignRows.length == extraIds.size)
    foreignRows.foreach(r => assert(!r.isNullAt(1),
      s"event ${r.getLong(0)}: foreign row null-filled across the rename"))
    assert(re.toDF.where(col("px").isNull).count() == 0,
      "no row may lose its value across migrate + rename")
  }
}
