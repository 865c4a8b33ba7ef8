package graft

import graft.ts.{TsTable, TsWriteOptions}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField}

/** `TsTable.dropColumns` — pure-DDL narrowing with the name-resolution
  * tombstone: the column disappears from reads without a data rewrite,
  * pre-drop pins still serve it, re-adding the name is refused forever
  * (stale-byte resurrection), restore/clone to a pre-drop version clears
  * the tombstone, declared index columns narrow with the schema, and
  * compaction ages the bytes out physically. */
class TsDropColumnSpec extends SparkSpec {

  private def freshStore(tag: String): (String, org.apache.hadoop.fs.FileSystem) = {
    val store = new java.io.File(sys.props("java.io.tmpdir"), s"graft_dropcol_$tag").toString
    val p = new Path(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    (store, fs)
  }

  private def build(tag: String,
      opts: TsWriteOptions = TsWriteOptions()): (TsTable, String, org.apache.hadoop.fs.FileSystem) = {
    val (store, fs) = freshStore(tag)
    val hi = lit("2024-01-03 00:00:00").cast("timestamp")
    val ev = Tables.events(spark, sf0001).where(col("ts") < hi)
    val t = TsTable.create(spark, store, ev.schema, tsCol = "ts",
      writeOptions = opts)
    t.append(ev)
    (t, store, fs)
  }

  test("drop narrows reads without touching bytes; a pre-drop pin still serves the column") {
    val (t, store, _) = build("basic")
    val preDrop = t.currentVersion.get
    val nRows = t.toDF.count()
    val dropped = t.dropColumns(Seq("props"))
    assert(dropped.schema.fieldNames.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value"))
    val reopened = TsTable.open(spark, store)
    assert(!reopened.schema.fieldNames.contains("props"))
    assert(reopened.toDF.count() == nRows)
    assert(reopened.snapshotVersions.last._2 == "evolve")
    // time travel crosses the drop: the pinned version's schema has props
    val pinned = reopened.openAt(preDrop)
    assert(pinned.schema.fieldNames.contains("props"))
    assert(pinned.toDF.select("props").where(col("props").isNotNull).count() > 0)
  }

  test("re-adding a dropped name is refused by addColumns AND appendEvolved; a fresh name works") {
    val (t, store, _) = build("tombstone")
    t.dropColumns(Seq("props"))
    val reopened = TsTable.open(spark, store)
    val e1 = intercept[IllegalArgumentException] {
      reopened.addColumns(Seq(StructField("props", DoubleType)))
    }
    assert(e1.getMessage.contains("dropped"))
    val batch = reopened.toDF
      .where(col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp"))
      .withColumn("ts", col("ts") + expr("INTERVAL 2 DAYS"))
      .withColumn("props", lit("zombie"))
    val e2 = intercept[IllegalArgumentException] { reopened.appendEvolved(batch) }
    assert(e2.getMessage.contains("dropped"))
    // a NEW name evolves fine, and the tombstone survives that descriptor rewrite
    reopened.addColumns(Seq(StructField("props_v2", DoubleType)))
    val again = TsTable.open(spark, store)
    assert(again.schema.fieldNames.contains("props_v2"))
    intercept[IllegalArgumentException] {
      again.addColumns(Seq(StructField("PROPS", DoubleType))) // case-insensitive
    }
  }

  test("ts column, unknown names, and CHECK-referenced columns are refused") {
    val (t, _, _) = build("refuse")
    intercept[IllegalArgumentException] { t.dropColumns(Seq("ts")) }
    intercept[IllegalArgumentException] { t.dropColumns(Seq("nope")) }
    intercept[IllegalArgumentException] { t.dropColumns(Seq.empty) }
    val withCheck = t.addCheck("v_pos", "value IS NULL OR value > -1e9")
    val e = intercept[IllegalArgumentException] {
      withCheck.dropColumns(Seq("value"))
    }
    assert(e.getMessage.contains("v_pos"))
    // dropping an un-referenced column under a CHECK is fine
    withCheck.dropColumns(Seq("props"))
    assert(!TsTable.open(spark, t.path).schema.fieldNames.contains("props"))
  }

  test("declared stats/bloom index columns narrow with the schema") {
    val (t, store, _) = build("opts",
      TsWriteOptions(statsCols = Seq("user_id", "value"),
        bloomCols = Seq("user_id")))
    t.dropColumns(Seq("user_id"))
    val reopened = TsTable.open(spark, store)
    assert(reopened.writeOptions.statsCols == Seq("value"))
    assert(reopened.writeOptions.bloomCols.isEmpty)
    // append through the narrowed schema works
    reopened.append(reopened.toDF
      .where(col("ts") >= lit("2024-01-02 00:00:00").cast("timestamp"))
      .withColumn("ts", col("ts") + expr("INTERVAL 2 DAYS")))
  }

  test("compaction re-materializes files through the narrowed schema: the bytes age out") {
    val (store, fs) = freshStore("ageout")
    // fragment day 2 across two appends so compact actually rewrites it
    val ev = Tables.events(spark, sf0001)
      .where(col("ts") < lit("2024-01-03 00:00:00").cast("timestamp"))
    val t = TsTable.create(spark, store, ev.schema, tsCol = "ts")
    val cut = lit("2024-01-02 12:00:00").cast("timestamp")
    t.append(ev.where(col("ts") < cut))
    t.append(ev.where(col("ts") >= cut))
    t.dropColumns(Seq("props"))
    val reopened = TsTable.open(spark, store)
    val rewritten = reopened.compactAll(targetFiles = 1)
    assert(rewritten == Seq("2024-01-02"))
    // the rewritten day's live files physically lack the column now
    val day2 = fs.listStatus(new Path(store, "p_date=2024-01-02"))
      .filter(_.isFile).map(_.getPath.toString)
      .filterNot(p => new Path(p).getName.startsWith("_") ||
        new Path(p).getName.startsWith("."))
    assert(day2.length == 1)
    assert(!spark.read.parquet(day2.head).schema.fieldNames.contains("props"),
      s"compact left dropped-column bytes in ${day2.head}")
    // and reads stay whole
    assert(reopened.toDF.count() == ev.count())
  }

  test("restore to a pre-drop version resurrects the column's stats/bloom index membership") {
    val (t, store, _) = build("restoreidx",
      TsWriteOptions(statsCols = Seq("user_id", "value"),
        bloomCols = Seq("user_id")))
    val preDrop = t.currentVersion.get
    t.dropColumns(Seq("user_id"))
    val narrowed = TsTable.open(spark, store)
    assert(narrowed.writeOptions.statsCols == Seq("value"))
    assert(narrowed.writeOptions.bloomCols.isEmpty)
    narrowed.restore(preDrop)
    val back = TsTable.open(spark, store)
    // membership came back from the target version's own artifacts — not
    // the narrowed handle's post-drop options
    assert(back.writeOptions.statsCols.toSet == Set("user_id", "value"),
      s"statsCols lost on restore: ${back.writeOptions.statsCols}")
    assert(back.writeOptions.bloomCols == Seq("user_id"),
      s"bloomCols lost on restore: ${back.writeOptions.bloomCols}")
    // and the index actually SERVES again: the restore commit harvested
    // under the restored membership, so pruning is live immediately
    val probe = back.toDF.select("user_id").where(col("user_id").isNotNull)
      .limit(1).collect().head.getLong(0)
    val A = graft.ts.TsBloomSpecAccess
    assert(A.plannedFiles(back, "user_id", Seq(probe)).nonEmpty)
    assert(A.plannedFiles(back, "user_id", Seq(Long.MinValue)).isEmpty,
      "skip index not serving after restore")
    assert(back.lookupEq("user_id", Seq(probe)).count() ==
      back.toDF.where(col("user_id") === probe).count())
  }

  test("cloneAt a pre-drop version gives the clone the resurrected index membership") {
    val (t, store, fs) = build("cloneidx",
      TsWriteOptions(statsCols = Seq("user_id"), bloomCols = Seq("user_id")))
    val preDrop = t.currentVersion.get
    t.dropColumns(Seq("user_id"))
    val dest = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_dropcol_cloneidx_dest").toString
    val dp = new Path(dest)
    if (fs.exists(dp)) fs.delete(dp, true)
    val clone = TsTable.open(spark, store).cloneAt(preDrop, dest)
    assert(clone.schema.fieldNames.contains("user_id"))
    assert(clone.writeOptions.statsCols == Seq("user_id"))
    assert(clone.writeOptions.bloomCols == Seq("user_id"))
    val reopened = TsTable.open(spark, dest)
    assert(reopened.writeOptions.bloomCols == Seq("user_id"))
  }

  test("restore to a pre-drop version brings the column AND clears its tombstone") {
    val (t, store, _) = build("restorecase")
    val preDrop = t.currentVersion.get
    t.dropColumns(Seq("props"))
    val narrowed = TsTable.open(spark, store)
    narrowed.restore(preDrop)
    val back = TsTable.open(spark, store)
    assert(back.schema.fieldNames.contains("props"))
    assert(back.toDF.select("props").where(col("props").isNotNull).count() > 0)
    // tombstone cleared: dropping and re-adding through history is legal again
    back.dropColumns(Seq("props"))
    // and the re-drop re-tombstones
    intercept[IllegalArgumentException] {
      TsTable.open(spark, store).addColumns(Seq(StructField("props", DoubleType)))
    }
  }
}
