package graft.ts

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Semantic conflict detection between concurrent REWRITE verbs (the
  * Delta ConcurrentDeleteRead class): two rewrites racing on overlapping
  * files must produce one winner and one LOUD retryable conflict — never
  * a silently-committed manifest that resurrects the winner's deleted
  * rows or buries its rewrite. Interleavings are driven deterministically
  * through `TsTable.rewriteRaceHook` (the windows: "staged" = staging
  * done, nothing live touched; "archiving" = pre-swap gate passed, nothing
  * archived yet; "swapped" = live swap done, commit pending), so every
  * case asserts the exact gate that must fire: pre-swap liveness, the
  * mid-archive rollback, or the commit-CAS manifest-membership gate plus
  * physical rollback. Delete and compaction share one swap protocol; the
  * archiving and swapped cases run each as the loser. A concurrent APPEND is the negative control — no
  * conflict, and its file must survive the compact swap untouched. */
class RewriteConflictSpec extends graft.SparkSpec {

  private def rows(h0: Int, h1: Int): DataFrame = {
    import spark.implicits._
    (h0 until h1).flatMap(h => (0 until 10).map(m =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00"),
        (h * 100 + m).toLong)))
      .toDF("ts", "v")
  }

  /** One day, TWO files: hours 0-5 then hours 6-11 (two monotonic
    * appends) — so one verb can plan inputs another verb displaces. */
  private def freshTable(): (String, TsTable) = {
    val dir = java.nio.file.Files.createTempDirectory("rewrite_conflict").toString
    val df1 = rows(0, 6)
    val t = TsTable.create(spark, dir, df1.schema, tsCol = "ts")
    t.append(df1)
    t.append(rows(6, 12))
    (dir, t)
  }

  /** Arm the race hook for ONE firing at (phase, action), run `f`, always
    * disarm — the hook is global (stale-handle delegation re-opens
    * handles), so the one-shot guard also keeps the verb run INSIDE the
    * hook from re-entering it. */
  private def withHook(phase: String, action: String)(body: => Unit)(
      f: => Unit): Unit = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    TsTable.rewriteRaceHook = (p, a) =>
      if (p == phase && a == action && fired.compareAndSet(false, true)) body
    try { f; assert(fired.get(), s"race hook never fired at ($phase, $action)") }
    finally TsTable.rewriteRaceHook = (_, _) => ()
  }

  private def fs(dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The losing rewrite of a conflict case, run as `action`: "delete"
    * removes the rows matching `pred` (and must remove some), "compact"
    * packs freshTable's one day into one file. Returns the rows removed. */
  private def rewrite(action: String, t: TsTable, pred: Column): Long =
    action match {
      case "delete" =>
        val n = t.deleteWhere(pred); assert(n > 0, "delete removed no rows"); n
      case "compact" =>
        assert(t.compactAll(1) == Seq("2024-01-01")); 0L
    }

  /** A conflict case's name for the loser `action`: the delete variant
    * keeps the case's original name. */
  private def named(name: String, action: String): String =
    if (action == "delete") name else s"$name [loser: $action]"

  test("pre-swap gate: deleteWhere staged, concurrent compact wins — loud " +
      "retryable conflict, staging dropped, table equals the winner alone, " +
      "retry lands both") {
    val (dir, t) = freshTable()
    val total = t.toDF.count()
    val tB = TsTable.open(spark, dir)
    withHook("staged", "delete") { assert(tB.compactAll(1).nonEmpty) } {
      val e = intercept[TsTable.ConcurrentRewriteException] {
        t.deleteWhere(col("v") % 2 === 0)
      }
      assert(e.getMessage.contains("displaced"), e.getMessage)
    }
    // winner alone: compaction preserves every row, the delete never landed
    assert(TsTable.open(spark, dir).toDF.count() == total)
    assert(t.snapshotVersions.last._2 == "compact")
    assert(!fs(dir).listStatus(new Path(dir)).exists(
      _.getPath.getName.startsWith("_delete_tmp")),
      "loser's staging temp must be dropped")
    // retry re-plans against the winner's layout and lands: serial both
    val deleted = TsTable.open(spark, dir).deleteWhere(col("v") % 2 === 0)
    assert(deleted > 0)
    val healed = TsTable.open(spark, dir)
    assert(healed.toDF.count() == total - deleted)
    assert(healed.snapshotVersions.last._2 == "delete")
  }

  test("pre-swap gate, reversed: compact staged, concurrent deleteWhere " +
      "wins — compact conflicts loudly, temp dropped, retry compacts the " +
      "winner's layout") {
    val (dir, t) = freshTable()
    val total = t.toDF.count()
    val tB = TsTable.open(spark, dir)
    var del = -1L
    // the delete hits only the FIRST file's rows, so the day still holds
    // two files afterwards and the compact retry has real work
    val pred = col("ts") < lit("2024-01-01 06:00:00").cast("timestamp") &&
      col("v") % 3 === 0
    withHook("staged", "compact") { del = tB.deleteWhere(pred) } {
      intercept[TsTable.ConcurrentRewriteException] { t.compactAll(1) }
    }
    assert(del > 0)
    assert(TsTable.open(spark, dir).toDF.count() == total - del)
    assert(!fs(dir).listStatus(new Path(dir)).exists(
      _.getPath.getName.startsWith("_compact_tmp_")),
      "loser's staging temp must be dropped")
    val retried = TsTable.open(spark, dir)
    assert(retried.compactAll(1) == Seq("2024-01-01"))
    assert(retried.toDF.count() == total - del, "compact retry lost rows")
  }

  test("commit gate + rollback: delete swapped, a second delete commits " +
      "inside the window — loser rolls its swap back, table equals the " +
      "winner, retry serializes both") {
    val (dir, t) = freshTable()
    val total = t.toDF.count()
    val tB = TsTable.open(spark, dir)
    val predA = col("ts") < lit("2024-01-01 06:00:00").cast("timestamp") &&
      col("v") % 3 === 0
    val predB = col("ts") >= lit("2024-01-01 06:00:00").cast("timestamp") &&
      col("v") % 2 === 0
    var bDeleted = -1L
    withHook("swapped", "delete") { bDeleted = tB.deleteWhere(predB) } {
      val e = intercept[TsTable.ConcurrentRewriteException] {
        t.deleteWhere(predA)
      }
      assert(e.getMessage.contains("concurrent rewrite conflict"), e.getMessage)
    }
    assert(bDeleted > 0)
    // the winner's committed version captured A's transient replacement
    // file in its listing; A's rollback ARCHIVES (never deletes) it, so
    // that committed version stays fully resolvable
    val bVersion = TsTable.open(spark, dir).currentVersion.get
    assert(TsTable.openAt(spark, dir, bVersion).toDF.count() > 0,
      "the interleaved winner's version must stay pinnable after rollback")
    // rollback: A's replacement file archived, A's archived input restored
    // live — the table equals the winner's committed state exactly
    val afterConflict = TsTable.open(spark, dir)
    assert(afterConflict.toDF.count() == total - bDeleted,
      "loser's rollback must leave exactly the winner's state")
    assert(afterConflict.toDF.where(predA).count() > 0,
      "the loser's deletions must NOT have landed")
    // retry serializes: final state = serial execution of both deletes
    val aDeleted = afterConflict.deleteWhere(predA)
    assert(aDeleted > 0)
    val healed = TsTable.open(spark, dir)
    assert(healed.toDF.count() == total - bDeleted - aDeleted)
    assert(healed.toDF.where(predA || predB).count() == 0)
    // the healing commit re-listed the live truth: a fresh read through
    // the CURRENT manifest's span index serves every surviving row
    assert(healed.readRange(
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-01 23:59:59")).count() ==
      total - bDeleted - aDeleted)
  }

  test("negative control: a concurrent append is NO conflict — compact " +
      "proceeds, the appended file survives the swap, no rows lost or " +
      "duplicated") {
    val (dir, t) = freshTable()
    val total = t.toDF.count()
    val tB = TsTable.open(spark, dir)
    var appended = -1L
    withHook("staged", "compact") {
      val df = rows(12, 14); appended = df.count(); tB.append(df)
    } {
      assert(t.compactAll(1) == Seq("2024-01-01"))
    }
    assert(appended > 0)
    val after = TsTable.open(spark, dir)
    assert(after.toDF.count() == total + appended,
      "append raced into a compact window must lose no rows and gain no dupes")
    // exactly two live files: the compacted output + the appended file —
    // compact archived EXACTLY its planned inputs, not a fresh listing
    val dayDir = new Path(dir, "p_date=2024-01-01")
    val live = fs(dir).listStatus(dayDir).filter(_.isFile)
      .map(_.getPath.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
    assert(live.length == 2, s"expected compacted + appended file, got ${live.toSeq}")
    assert(after.toDF.where(col("ts") >= lit("2024-01-01 12:00:00")
      .cast("timestamp")).count() == appended)
  }

  test("action-aware gate: an APPEND committing inside the swap-to-commit " +
      "window is NO conflict — the rewrite commits, nothing starves, all " +
      "rows accounted for") {
    val (dir, t) = freshTable()
    val total = t.toDF.count()
    val tB = TsTable.open(spark, dir)
    var appended = -1L
    var deleted = -1L
    withHook("swapped", "delete") {
      val df = rows(12, 14); appended = df.count(); tB.append(df)
    } {
      deleted = t.deleteWhere(col("v") % 2 === 0)
    }
    assert(appended > 0 && deleted > 0,
      "the delete must COMMIT through the interleaved append, not conflict")
    val after = TsTable.open(spark, dir)
    assert(after.toDF.count() == total - deleted + appended)
    assert(after.snapshotVersions.takeRight(2).map(_._2) ==
      Seq("append", "delete"), s"history: ${after.snapshotVersions}")
  }

  test("transient-input refusal: a rewrite planning another verb's " +
      "UNCOMMITTED replacement file conflicts at plan time — its effects " +
      "are never folded into a second history") {
    val (dir, t) = freshTable()
    val total = t.toDF.count()
    val tB = TsTable.open(spark, dir)
    val predA = col("ts") < lit("2024-01-01 06:00:00").cast("timestamp") &&
      col("v") % 3 === 0
    // B's predicate overlaps A's FILE (hours 0-5): B would plan A's
    // in-flight replacement of it — a dated file no manifest lists
    val predB = col("ts") < lit("2024-01-01 06:00:00").cast("timestamp") &&
      col("v") % 2 === 0
    var bRefused: Throwable = null
    var aDeleted = -1L
    withHook("swapped", "delete") {
      bRefused = intercept[TsTable.ConcurrentRewriteException] {
        tB.deleteWhere(predB)
      }
    } {
      aDeleted = t.deleteWhere(predA) // proceeds: B never committed
    }
    assert(aDeleted > 0)
    assert(bRefused.getMessage.contains("not listed"), bRefused.getMessage)
    assert(TsTable.open(spark, dir).toDF.count() == total - aDeleted)
    // B retried after A's commit re-plans against the manifested file
    val bDeleted = TsTable.open(spark, dir).deleteWhere(predB)
    assert(bDeleted > 0)
    assert(TsTable.open(spark, dir).toDF.count() == total - aDeleted - bDeleted)
  }

  test("a crashed commit's orphan file blocks a rewrite with the " +
      "checkpoint() guidance; checkpoint captures it and the retry lands") {
    val (dir, t) = freshTable()
    val f = fs(dir)
    val dayDir = new Path(dir, "p_date=2024-01-01")
    val src = f.listStatus(dayDir).filter(_.isFile)
      .map(_.getPath).filterNot(p => p.getName.startsWith("_")).head
    // simulate a crash between a commit's data move and its manifest
    // write: a data file exists that no manifest lists
    val orphan = new Path(dayDir, "part-orphan-crashed.parquet")
    org.apache.hadoop.fs.FileUtil.copy(f, src, f, orphan, false, true,
      spark.sparkContext.hadoopConfiguration)
    val e = intercept[TsTable.ConcurrentRewriteException] {
      TsTable.open(spark, dir).deleteWhere(col("v") % 2 === 0)
    }
    assert(e.getMessage.contains("checkpoint()"), e.getMessage)
    val tb = TsTable.open(spark, dir)
    tb.checkpoint()
    assert(tb.snapshotVersions.last._2 == "checkpoint")
    val deleted = TsTable.open(spark, dir).deleteWhere(col("v") % 2 === 0)
    assert(deleted > 0, "the retry after checkpoint must land")
  }

  test("restore retiring a file a racing rewrite just took classifies as " +
      "the retryable conflict (not a raw filesystem error), and re-running " +
      "converges") {
    val dir = java.nio.file.Files.createTempDirectory("restore_fnfe").toString
    val df1 = rows(0, 6)
    val t = TsTable.create(spark, dir, df1.schema, tsCol = "ts")
    t.append(df1)                       // f1 — the target state
    val targetV = t.currentVersion.get
    val targetRows = t.toDF.count()
    t.append(rows(6, 12))               // f2 — retired by the restore
    val tB = TsTable.open(spark, dir)
    // B rewrites f2 between restore's live listing and its retire loop
    val predB = col("ts") >= lit("2024-01-01 06:00:00").cast("timestamp") &&
      col("v") % 2 === 0
    var bDeleted = -1L
    withHook("staged", "restore") { bDeleted = tB.deleteWhere(predB) } {
      val e = intercept[TsTable.ConcurrentRewriteException] {
        t.restore(targetV)
      }
      assert(e.getMessage.contains("vanished while retiring"), e.getMessage)
    }
    assert(bDeleted > 0)
    val v2 = TsTable.open(spark, dir).restore(targetV)
    val healed = TsTable.open(spark, dir)
    assert(healed.currentVersion.contains(v2))
    assert(healed.toDF.count() == targetRows,
      "re-run restore must converge on exactly the target version's rows")
  }

  test("restore races a rewrite: loud conflict at commit, and re-running " +
      "restore CONVERGES to the target state (overriding the racing " +
      "writer — the verb's declared semantic)") {
    val dir = java.nio.file.Files.createTempDirectory("restore_conflict").toString
    val df1 = rows(0, 6)
    val t = TsTable.create(spark, dir, df1.schema, tsCol = "ts")
    t.append(df1)                       // f1 — the target state
    val targetV = t.currentVersion.get
    val targetRows = t.toDF.count()
    t.append(rows(6, 12))               // f2 — to be retired by the restore
    val tB = TsTable.open(spark, dir)
    // B's delete hits rows the restore KEEPS (f1), committing inside the
    // restore's retire→commit window — the restore's retired file (f2) is
    // then absent from the manifest its commit would replace
    val predB = col("ts") < lit("2024-01-01 06:00:00").cast("timestamp") &&
      col("v") % 2 === 0
    var bDeleted = -1L
    withHook("swapped", "restore") { bDeleted = tB.deleteWhere(predB) } {
      intercept[TsTable.ConcurrentRewriteException] { t.restore(targetV) }
    }
    assert(bDeleted > 0)
    // no rollback for restore: recovery is the user's call. Re-running
    // converges to EXACTLY the target version's state, overriding B.
    val v2 = TsTable.open(spark, dir).restore(targetV)
    val healed = TsTable.open(spark, dir)
    assert(healed.currentVersion.contains(v2))
    assert(healed.toDF.count() == targetRows,
      "re-run restore must serve exactly the target version's rows")
    assert(healed.toDF.where(predB).count() > 0,
      "the racing delete is deliberately overridden by the restore")
  }

  test("commitVersion displaced gate, unit: a planned input absent from " +
      "the replaced manifest raises the retryable conflict; a matching set " +
      "commits") {
    val (dir, t) = freshTable()
    val e = intercept[TsTable.ConcurrentRewriteException] {
      t.commitVersion("gate-test",
        displaced = Seq(("p_date=2024-01-01/bogus.parquet", 7L)))
    }
    assert(e.getMessage.contains("no longer lists"), e.getMessage)
    // the real live set passes: same files, same lengths
    val current = TsTable.readManifest(spark, dir, t.currentVersion.get).files
    val v = t.commitVersion("gate-pass", displaced = current)
    assert(TsTable.readManifest(spark, dir, v).action == "gate-pass")
  }

  Seq("delete", "compact").foreach { action =>
  test(named("mid-archive conflict rolls back ONLY what this verb archived: the " +
      "file a concurrent winner took stays the winner's — no resurrected " +
      "rows, no duplicates — and the retry serializes both deletes", action)) {
    val (dir, t) = freshTable()
    val total = t.toDF.count()
    val tB = TsTable.open(spark, dir)
    // A plans BOTH files; the winner (inside A's archiving window, after
    // A's pre-swap liveness gate passed) rewrites only the second file,
    // so A's archive loop succeeds on file 1 then hits the winner's
    // archived original of file 2 (same-length twin, live copy gone): the
    // FileNotFoundException conflict. A must re-live ONLY file 1 — re-
    // living file 2 would resurrect the winner's deleted rows alongside
    // its replacement file.
    val predA = col("v") % 2 === 0
    val predB = col("ts") >= lit("2024-01-01 06:00:00").cast("timestamp") &&
      col("v") % 5 === 0
    var bDeleted = -1L
    withHook("archiving", action) { bDeleted = tB.deleteWhere(predB) } {
      val e = intercept[TsTable.ConcurrentRewriteException] {
        rewrite(action, t, predA)
      }
      assert(e.getMessage.contains("vanished while archiving"), e.getMessage)
    }
    assert(bDeleted > 0)
    // exactly the winner's state: old code re-lived the winner's archived
    // original of file 2, duplicating its survivors and resurrecting its
    // deletions (count would exceed total - bDeleted)
    val afterConflict = TsTable.open(spark, dir)
    assert(afterConflict.toDF.count() == total - bDeleted,
      "loser must restore exactly its own archives — nothing of the winner's")
    assert(afterConflict.toDF.where(predB).count() == 0,
      "the winner's deletions must stay deleted through the loser's rollback")
    val aDeleted = rewrite(action, afterConflict, predA)
    assert(TsTable.open(spark, dir).toDF.count() == total - bDeleted - aDeleted)
  }
  }

  test("snapshot GC inside the rollback window: expireSnapshots(keepLast=1) " +
      "between the winner's commit and the loser's rollback — the in-flight " +
      "marker keeps the loser's archived inputs, the rollback is clean, the " +
      "retry lands") {
    val (dir, t) = freshTable()
    val total = t.toDF.count()
    val tB = TsTable.open(spark, dir)
    val predA = col("ts") < lit("2024-01-01 06:00:00").cast("timestamp") &&
      col("v") % 3 === 0
    val predB = col("ts") >= lit("2024-01-01 06:00:00").cast("timestamp") &&
      col("v") % 2 === 0
    var bDeleted = -1L
    var expired: Seq[Long] = Seq.empty
    withHook("swapped", "delete") {
      bDeleted = tB.deleteWhere(predB) // interleaved rewrite: A will conflict
      // GC right inside A's rollback window: the kept (winner's) manifest
      // lists A's transient replacement, NOT A's archived input — without
      // the in-flight marker this reclaims the exact bytes A's rollback
      // is about to restore (silent row loss; now a loud guard)
      expired = TsTable.open(spark, dir).expireSnapshots(keepLast = 1)
    } {
      intercept[TsTable.ConcurrentRewriteException] { t.deleteWhere(predA) }
    }
    assert(bDeleted > 0)
    assert(expired.nonEmpty, "GC must have actually expired history")
    // clean rollback THROUGH the GC: exactly the winner's state, the
    // loser's input rows all present (neither lost to GC nor duplicated)
    val afterConflict = TsTable.open(spark, dir)
    assert(afterConflict.toDF.count() == total - bDeleted,
      "rollback must restore the loser's archived input despite the GC")
    assert(afterConflict.toDF.where(predA).count() > 0,
      "the loser's deletions must NOT have landed")
    val aDeleted = afterConflict.deleteWhere(predA)
    assert(aDeleted > 0)
    assert(TsTable.open(spark, dir).toDF.count() == total - bDeleted - aDeleted)
    // markers are transient: every verb cleared its own on the way out
    val inflight = new Path(dir, "_ts_inflight")
    assert(!fs(dir).exists(inflight) ||
      fs(dir).listStatus(inflight).isEmpty,
      "in-flight markers must not outlive their verbs")
  }

  test("vacuumStaging(0) during a live rewrite: the in-flight marker " +
      "shields the writer's staging dir at ANY cutoff — the verb completes " +
      "untouched") {
    val (dir, t) = freshTable()
    val total = t.toDF.count()
    var vacuumed: Seq[String] = Seq.empty
    withHook("staged", "delete") {
      vacuumed = TsTable.open(spark, dir).vacuumStaging(olderThanMs = 0L)
    } {
      assert(t.deleteWhere(col("v") % 2 === 0) > 0,
        "the rewrite must complete — its staging was never reclaimed")
    }
    assert(!vacuumed.exists(_.startsWith("_delete_tmp")),
      s"a LIVE rewrite's staging must never be vacuumed, got $vacuumed")
    assert(TsTable.open(spark, dir).toDF.count() < total)
  }

  Seq("delete", "compact").foreach { action =>
  test(named("additive exemption demands a GAPLESS interleaved walk: a manifest " +
      "missing from the window (expiry race) refuses the exemption and the " +
      "conservative membership gate conflicts — retry converges", action)) {
    val (dir, t) = freshTable()
    val total = t.toDF.count()
    val tB = TsTable.open(spark, dir)
    val predA = col("ts") < lit("2024-01-01 06:00:00").cast("timestamp") &&
      col("v") % 3 === 0
    var appended = 0L
    withHook("swapped", action) {
      // two interleaved appends, then the FIRST one's manifest vanishes
      // (an expireSnapshots racing this rewrite): the walk over the
      // interleaved range now has a hole that could hide a rewrite-family
      // commit, so the exemption must NOT be granted on the survivors
      val df1 = rows(12, 13); val df2 = rows(13, 14)
      appended = df1.count() + df2.count()
      tB.append(df1)
      val gapV = tB.currentVersion.get
      TsTable.open(spark, dir).append(df2)
      fs(dir).delete(new Path(dir, TsTable.manifestName(gapV)), false)
    } {
      val e = intercept[TsTable.ConcurrentRewriteException] {
        rewrite(action, t, predA)
      }
      assert(e.getMessage.contains("concurrent rewrite conflict"), e.getMessage)
    }
    // conservative direction: rollback was clean, both appends' rows and
    // the loser's input rows all present; the retry needs the healing
    // checkpoint (the re-lived inputs are absent from the winner's manifest)
    val afterConflict = TsTable.open(spark, dir)
    assert(afterConflict.toDF.count() == total + appended)
    assert(afterConflict.snapshotVersions.last._2 == "checkpoint")
    val aDeleted = rewrite(action, afterConflict, predA)
    assert(TsTable.open(spark, dir).toDF.count() == total + appended - aDeleted)
  }
  }
}
