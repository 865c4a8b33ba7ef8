package graft

import graft.ts.{TsTable, TsWriteOptions}
import graft.ts.TsBloomSpecAccess.{listedFiles, plannedFiles}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom point-lookup index: per-file membership bits over declared
  * `bloomCols`, harvested at commit into a version sidecar, carried
  * forward like ts spans, and consumed by `TsTable.lookupEq` — the
  * needle-query verb min/max spans cannot serve on an unclustered
  * high-cardinality column. Covers: skipping actually happens (the
  * lookup's plan lists only the owning file), absent-value fast path, correctness
  * parity vs the full filtered scan, conservative fallbacks (foreign
  * file, lost sidecar), self-healing re-harvest, compact survival, and
  * sidecar expiry. */
class TsBloomSpec extends SparkSpec {

  private def freshStore(tag: String): (String, org.apache.hadoop.fs.FileSystem) = {
    val store = new java.io.File(sys.props("java.io.tmpdir"), s"graft_bloom_$tag").toString
    val p = new Path(store)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    (store, fs)
  }

  /** Three single-day appends with DISJOINT user_id ranges per day, so a
    * user's rows live in exactly one file and the bloom verdict is
    * checkable: day d holds user ids in [1000·d, 1000·d + 49]. */
  private def build(tag: String,
      opts: TsWriteOptions = TsWriteOptions(bloomCols = Seq("user_id")))
      : (TsTable, String, org.apache.hadoop.fs.FileSystem) = {
    val (store, fs) = freshStore(tag)
    import spark.implicits._
    def day(d: Int): DataFrame =
      (0 until 200).map { i =>
        (java.sql.Timestamp.valueOf(f"2024-01-0$d%d 00:00:${i % 60}%02d"),
          1000L * d + i % 50, s"u${1000 * d + i % 50}", i.toDouble)
      }.toDF("ts", "user_id", "tag", "value")
    val t = TsTable.create(spark, store, day(1).schema, tsCol = "ts",
      writeOptions = opts)
    t.append(day(1)); t.append(day(2)); t.append(day(3))
    (t, store, fs)
  }

  test("lookupEq prunes to the single file holding the probed ids and matches the full scan") {
    val (t, _, _) = build("prune")
    val cands = plannedFiles(t, "user_id", Seq(2007L))
    assert(cands.length == 1, s"expected 1 planned file, got $cands")
    assert(cands.head.startsWith("p_date=2024-01-02/"))
    val got = t.lookupEq("user_id", Seq(2007L))
      .select("ts", "user_id", "value").collect().toSet
    val want = t.toDF.where(col("user_id") === 2007L)
      .select("ts", "user_id", "value").collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("multi-value probe unions candidate files; string column probes work") {
    val (t, _, _) = build("multi",
      TsWriteOptions(bloomCols = Seq("user_id", "tag")))
    val cands = plannedFiles(t, "user_id", Seq(1003L, 3004L))
    assert(cands.length == 2)
    // string bloom column: probe under StringType
    val byTag = plannedFiles(t, "tag", Seq("u3004"))
    assert(byTag.length == 1 && byTag.head.startsWith("p_date=2024-01-03/"))
    val got = t.lookupEq("tag", Seq("u3004")).count()
    assert(got == t.toDF.where(col("tag") === "u3004").count() && got > 0)
  }

  test("absent value: zero candidates, empty result, no data job needed") {
    val (t, _, _) = build("absent")
    assert(plannedFiles(t, "user_id", Seq(999999L)).isEmpty)
    assert(t.lookupEq("user_id", Seq(999999L)).isEmpty)
  }

  test("blooms carry forward across appends: sidecar covers every file at each version") {
    val (t, store, fs) = build("carry")
    // current version = 4 (create + 3 appends); all 3 day files indexed
    val side = graft.ts.TsBloomSpecAccess.sidecar(spark, fs, store, t.currentVersion.get)
    assert(side.keySet.map(_.split("/").head) ==
      Set("p_date=2024-01-01", "p_date=2024-01-02", "p_date=2024-01-03"))
    assert(side.values.forall(_.contains("user_id")))
  }

  test("foreign file attached → not authoritative → full-scan fallback stays correct") {
    val (t, store, fs) = build("foreign")
    // attach a raw parquet file the manifest has never seen
    import spark.implicits._
    Seq((java.sql.Timestamp.valueOf("2024-01-02 09:00:00"), 777L, "x", 1.0))
      .toDF("ts", "user_id", "tag", "value")
      .write.mode("append").parquet(store + "/p_date=2024-01-02")
    // not authoritative: the lookup plans every live file, the foreign one too
    val live = listedFiles(t, t.toDF)
    assert(live.length > 3 && plannedFiles(t, "user_id", Seq(777L)).toSet == live.toSet)
    assert(t.lookupEq("user_id", Seq(777L)).count() == 1)
    // facade reads name-resolve the id-less foreign file per task (the
    // fallback reader); the stock V2 parquet scan has no per-file
    // fallback, so it must fail LOUDLY — never silently null the row
    assert(t.toDF.where(col("user_id") === 777L).count() == 1)
    val v2 = scala.util.Try(
      spark.read.format("graft-ts").load(store)
        .where(col("user_id") === 777L).count())
    v2 match {
      case scala.util.Success(n) =>
        assert(n == 1, s"V2 must serve the foreign row or refuse, got $n")
      case scala.util.Failure(e) =>
        def msgs(t0: Throwable): Iterator[String] =
          Iterator.iterate(t0)(_.getCause).takeWhile(_ != null)
            .flatMap(x => Option(x.getMessage))
        assert(msgs(e).exists(_.contains("field Ids")),
          s"V2 over a foreign file must refuse on the missing ids, got: $e")
    }
  }

  test("declareIndexing backfills Bloom bits and value spans for " +
      "already-live files in one 'indexing' commit: probes prune, names " +
      "resolve case-insensitively, unknown columns refuse") {
    val (t, store, fs) = build("declare", TsWriteOptions()) // NO indexes
    // pre-declare: no index to prune with, every live file is planned
    assert(plannedFiles(t, "user_id", Seq(2007L)).toSet == listedFiles(t, t.toDF).toSet)
    val ix = t.declareIndexing(statsCols = Seq("Value"),
      bloomCols = Seq("User_Id")) // mixed case → canonical labels
    assert(ix.snapshotVersions.last._2 == "indexing")
    // the backfilled index is authoritative over every pre-existing file
    val cands = plannedFiles(ix, "user_id", Seq(2007L))
    assert(cands.length == 1 && cands.head.startsWith("p_date=2024-01-02/"),
      s"expected the one owning file, got $cands")
    val got = ix.lookupEq("user_id", Seq(2007L)).count()
    assert(got == ix.toDF.where(col("user_id") === 2007L).count() && got > 0)
    // the bloom sidecar covers every pre-existing file under the new column
    val side = graft.ts.TsBloomSpecAccess.sidecar(spark, fs, store,
      ix.currentVersion.get)
    assert(side.size == 3 && side.values.forall(_.contains("user_id")))
    // the declared VALUE spans backfilled into the manifest colStats too
    val colSpans = graft.ts.TsBloomSpecAccess.colStats(ix)
    assert(colSpans.nonEmpty && colSpans.values.forall(_.contains("value")))
    // a probe for an absent value still plans zero files
    assert(plannedFiles(ix, "user_id", Seq(999999L)).isEmpty)
    // unknown column refuses with the name
    val e = intercept[IllegalArgumentException](
      ix.declareIndexing(Seq("nope"), Seq.empty))
    assert(e.getMessage.contains("'nope'"))
  }

  test("session fieldId.ignoreMissing=true cannot disable the foreign-file " +
      "name fallback (the facade forces it false per reader)") {
    val (t, store, _) = build("lenient")
    import spark.implicits._
    Seq((java.sql.Timestamp.valueOf("2024-01-02 09:00:00"), 778L, "x", 1.5))
      .toDF("ts", "user_id", "tag", "value")
      .write.mode("append").parquet(store + "/p_date=2024-01-02")
    // Spark's lenient mode suppresses the missing-field-id error the
    // fallback reader keys on and serves id-less files as ALL-NULL rows;
    // the facade supplies its own strictly better fallback, so it must
    // force the conf false regardless of the session setting
    val key = "spark.sql.parquet.fieldId.ignoreMissing"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try {
      val row = t.toDF.where(col("user_id") === 778L).collect()
      assert(row.length == 1 && row.head.getAs[Double]("value") == 1.5,
        "the foreign row must NAME-resolve with its value, never null-fill")
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("lost sidecar degrades to no-skipping and the next commit self-heals it") {
    val (t, store, fs) = build("heal")
    val v = t.currentVersion.get
    fs.delete(new Path(store, f"_ts_versions/v$v%08d.blooms"), false)
    // colStats spans are absent (no statsCols declared) → no index left,
    // every live file is planned
    assert(plannedFiles(t, "user_id", Seq(2007L)).toSet == listedFiles(t, t.toDF).toSet)
    assert(t.lookupEq("user_id", Seq(2007L)).count() ==
      t.toDF.where(col("user_id") === 2007L).count())
    // next commit re-harvests EVERY file, not just the new one
    import spark.implicits._
    t.append(Seq((java.sql.Timestamp.valueOf("2024-01-04 00:00:00"), 4000L, "u4000", 0.0))
      .toDF("ts", "user_id", "tag", "value"))
    val cands = plannedFiles(t, "user_id", Seq(2007L))
    assert(cands.length == 1, s"got $cands")
  }

  test("compact rewrites get fresh blooms; lookups stay correct and pruned") {
    val (t, store, fs) = build("compact")
    import spark.implicits._
    // fragment day 2 with a second file, then compact it back to one
    t.append(Seq((java.sql.Timestamp.valueOf("2024-01-03 23:59:59"), 2007L, "late", 9.0))
      .toDF("ts", "user_id", "tag", "value"))
    t.compactAll(targetFiles = 1)
    val cands = plannedFiles(t, "user_id", Seq(2007L))
    assert(cands.length == 2,
      s"2007 lives in day-2 and the late day-3 row: $cands")
    assert(t.lookupEq("user_id", Seq(2007L)).count() ==
      t.toDF.where(col("user_id") === 2007L).count())
  }

  test("expireSnapshots deletes expired bloom sidecars with their manifests") {
    val (t, store, fs) = build("expire")
    val before = t.currentVersion.get
    t.expireSnapshots(keepLast = 1)
    (1L until before).foreach { v =>
      assert(!fs.exists(new Path(store, f"_ts_versions/v$v%08d.blooms")))
      assert(!fs.exists(new Path(store, f"_ts_versions/v$v%08d.manifest")))
    }
    assert(fs.exists(new Path(store, f"_ts_versions/v$before%08d.blooms")))
  }

  test("declared-stats span intersects with blooms: clustered numeric column skips by span alone") {
    val (t, _, _) = build("span",
      TsWriteOptions(statsCols = Seq("user_id"), bloomCols = Seq("value")))
    // user_id has NO bloom, but per-day disjoint ranges give tight spans
    val cands = plannedFiles(t, "user_id", Seq(1003L))
    assert(cands.length == 1, s"got $cands")
    assert(cands.head.startsWith("p_date=2024-01-01/"))
  }

  test("an IN list prunes value by value against declared-stats spans, as IN and as InSet") {
    val (t, store, _) = build("points",
      TsWriteOptions(statsCols = Seq("user_id"), bloomCols = Seq("value")))
    // day 2's span [2000, 2049] lies inside the list's [min, max] but
    // holds none of its values
    val two = plannedFiles(t, "user_id", Seq(1003L, 3004L))
    assert(two.map(_.split("/").head).toSet == Set("p_date=2024-01-01", "p_date=2024-01-03"),
      s"got $two")
    // more values than the optimizer's IN-list threshold become an InSet
    val many = (1000L to 1005L) ++ (3000L to 3005L)
    val viaSet = plannedFiles(t, "user_id", many)
    assert(viaSet.map(_.split("/").head).toSet ==
      Set("p_date=2024-01-01", "p_date=2024-01-03"), s"got $viaSet")
    assert(t.lookupEq("user_id", many).count() ==
      t.toDF.where(col("user_id").isin(many: _*)).count())
    // the live V2 scan applies the same rule
    val q = spark.read.format("graft-ts").load(store).where(col("user_id").isin(1003L, 3004L))
    val scan = V2ScanAccess.parquetScan(q.queryExecution.executedPlan)
    assert(scan.fileIndex.listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.files.length).sum == 2)
  }

  test("a probe value of another type than the column's never loses a row") {
    val (store, _) = freshStore("probetype")
    import spark.implicits._
    def day(d: Int): DataFrame = (0 until 20).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-0$d%d 00:00:${i % 60}%02d"), 100 * d + i % 5)
    }.toDF("ts", "k")
    val t = TsTable.create(spark, store, day(1).schema, tsCol = "ts",
      writeOptions = TsWriteOptions(bloomCols = Seq("k")))
    t.append(day(1)); t.append(day(2))
    // an Int probe on the Int column prunes to the owning file
    val owning = plannedFiles(t, "k", Seq(201))
    assert(owning.map(_.split("/").head) == Seq("p_date=2024-01-02"))
    assert(t.lookupEq("k", Seq(201)).count() == 4)
    // other probe types: Catalyst casts one side; where it casts the
    // column the probe is void and every file is kept — the owning file
    // is always planned and the rows are all found
    Seq[Any](201L, 201.0, new java.math.BigDecimal("201")).foreach { v =>
      val planned = plannedFiles(t, "k", Seq(v))
      assert(owning.forall(planned.contains), s"$v (${v.getClass}) planned $planned")
      assert(t.lookupEq("k", Seq(v)).count() == 4, s"$v (${v.getClass})")
    }
  }

  test("V2 scan consumes the bloom index: a plain SQL equality/IN predicate skips files at planning time") {
    val (t, store, _) = build("v2")
    val q = spark.read.format("graft-ts").load(store)
      .where(col("user_id") === 2007L)
    val plan = q.queryExecution.executedPlan
    val scan = V2ScanAccess.parquetScan(plan)
    val files = scan.fileIndex
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.files.length).sum
    assert(files == 1, s"expected 1 bloom-surviving file, scanned $files:\n$plan")
    assert(q.count() == t.toDF.where(col("user_id") === 2007L).count())
    // IN-list probes union per-value verdicts: two days survive
    val q2 = spark.read.format("graft-ts").load(store)
      .where(col("user_id").isin(1003L, 3004L))
    val scan2 = V2ScanAccess.parquetScan(q2.queryExecution.executedPlan)
    val files2 = scan2.fileIndex
      .listFiles(scan2.partitionFilters, scan2.dataFilters)
      .map(_.files.length).sum
    assert(files2 == 2, s"expected 2 bloom-surviving files, scanned $files2")
    assert(q2.count() == t.toDF.where(col("user_id").isin(1003L, 3004L)).count())
  }

  test("a lookupEq frame serves the version it was built at; a fresh one plans " +
      "a later commit's file; a file the manifest does not know is always kept") {
    val (t, store, _) = build("race")
    val v = t.currentVersion.get
    val atV = t.lookupEq("user_id", Seq(2007L))
    val filesAtV = listedFiles(t, atV)
    assert(filesAtV.length == 1 && filesAtV.head.startsWith("p_date=2024-01-02/"))
    val rowsAtV = atV.count()
    assert(rowsAtV > 0 &&
      rowsAtV == t.openAt(v).toDF.where(col("user_id") === 2007L).count())
    // a commit lands after the frame was built: the probed user gains a
    // row in a NEW file. The built frame keeps serving version v's files
    // and rows; a fresh lookup plans the new file too.
    import spark.implicits._
    t.append(Seq((java.sql.Timestamp.valueOf("2024-01-04 00:00:00"),
      2007L, "late", 42.0)).toDF("ts", "user_id", "tag", "value"))
    assert(listedFiles(t, atV) == filesAtV)
    assert(atV.count() == rowsAtV)
    val fresh = plannedFiles(t, "user_id", Seq(2007L))
    assert(fresh.length == 2 && fresh.exists(_.startsWith("p_date=2024-01-04/")),
      s"the new file holding 2007 must be planned: $fresh")
    assert(t.lookupEq("user_id", Seq(2007L)).count() == rowsAtV + 1)
    // a foreign file the manifest does not know (it holds user 777, not
    // 2007): the lookup plans every live file, and the live V2 scan keeps
    // it while still skipping the indexed files that cannot hold 2007
    Seq((java.sql.Timestamp.valueOf("2024-01-03 09:00:00"), 777L, "x", 1.0))
      .toDF("ts", "user_id", "tag", "value")
      .write.mode("append").parquet(store + "/p_date=2024-01-03")
    val live = listedFiles(t, t.toDF)
    val foreign = live.filterNot(f => fresh.contains(f) ||
      graft.ts.TsBloomSpecAccess.liveDated(t).contains(f))
    assert(foreign.nonEmpty, s"no foreign file among $live")
    assert(plannedFiles(t, "user_id", Seq(2007L)).toSet == live.toSet)
    val q = spark.read.format("graft-ts").load(store).where(col("user_id") === 2007L)
    val scan = V2ScanAccess.parquetScan(q.queryExecution.executedPlan)
    val kept = scan.fileIndex.listFiles(scan.partitionFilters, scan.dataFilters)
      .flatMap(_.files).map(_.getPath.getName)
    assert(kept.toSet == (fresh ++ foreign).map(_.split("/").last).toSet,
      s"V2 must keep the 2 indexed holders of 2007 and the foreign file: $kept")
  }

  test("an all-null bloom column records an empty filter: probes skip the file, commits do not re-scan it") {
    val (store, fs) = freshStore("allnull")
    import spark.implicits._
    def day(d: Int, id: Any): DataFrame =
      (0 until 20).map { i =>
        (java.sql.Timestamp.valueOf(f"2024-01-0$d%d 00:00:${i % 60}%02d"),
          id.asInstanceOf[java.lang.Long], i.toDouble)
      }.toDF("ts", "user_id", "value")
    val t = TsTable.create(spark, store, day(1, 1001L).schema, tsCol = "ts",
      writeOptions = TsWriteOptions(bloomCols = Seq("user_id")))
    t.append(day(1, 1001L))
    t.append(day(2, null)) // day 2's user_id is ALL NULL
    // the all-null file still has a sidecar entry (the empty filter) …
    val side = graft.ts.TsBloomSpecAccess.sidecar(spark, fs, store,
      t.currentVersion.get)
    assert(side.keySet.map(_.split("/").head) ==
      Set("p_date=2024-01-01", "p_date=2024-01-02"))
    assert(side.values.forall(_.contains("user_id")))
    // … and that entry IS the canonical empty filter bit-for-bit: nulls
    // are excluded from the hash feed (when(isNotNull, xxhash64)), so the
    // all-null aggregate is genuinely NULL and the emptyBits fallback
    // records a zero-item filter — not a seed-hash-polluted one that only
    // rejected probes through the filter's fpp
    val bloomBits = graft.ts.TsWriteOptions().bloomBits
    val emptyBits = {
      val bf = org.apache.spark.util.sketch.BloomFilter
        .create((bloomBits / 10L).max(1L), bloomBits)
      val bos = new java.io.ByteArrayOutputStream()
      bf.writeTo(bos)
      bos.toByteArray
    }
    val day2Entry = side.collectFirst {
      case (k, v) if k.startsWith("p_date=2024-01-02") => v("user_id")
    }.get
    assert(java.util.Arrays.equals(day2Entry, emptyBits),
      "all-null file must record the canonical EMPTY filter")
    // … and every probe rejects it: null never equals anything
    val cands = plannedFiles(t, "user_id", Seq(1001L))
    assert(cands.length == 1 &&
      cands.head.startsWith("p_date=2024-01-01/"), s"got $cands")
    assert(t.lookupEq("user_id", Seq(1001L)).count() == 20)
  }

  test("a pinned (asOf) V2 read keeps the Bloom/span indexes: time travel skips files too") {
    val (t, store, _) = build("pinned")
    val v = t.currentVersion.get
    import spark.implicits._
    // later maintenance displaces day 2 (compact) and adds day 4 — the pin
    // must keep serving ITS file set, still pruned by ITS sidecar
    t.append(Seq((java.sql.Timestamp.valueOf("2024-01-04 00:00:00"), 4000L, "u4000", 0.0))
      .toDF("ts", "user_id", "tag", "value"))
    t.compactAll(targetFiles = 1)
    val q = spark.read.format("graft-ts").option("asOf", v).load(store)
      .where(col("user_id") === 2007L)
    val scan = V2ScanAccess.parquetScan(q.queryExecution.executedPlan)
    val files = scan.fileIndex
      .listFiles(scan.partitionFilters, scan.dataFilters)
      .map(_.files.length).sum
    assert(files == 1, s"pinned read should bloom-skip to 1 file, kept $files")
    assert(q.count() == t.openAt(v).toDF.where(col("user_id") === 2007L).count()
      && q.count() > 0)
  }

  /** Bytes the calling thread reads through Hadoop file systems in `body`
    * (driver-side planning runs on it; tasks do not). */
  private def bytesReadHere(body: => Unit): Long = {
    import scala.jdk.CollectionConverters._
    def now = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .map(_.getThreadStatistics.getBytesRead).sum
    val before = now
    body
    now - before
  }

  /** (surviving files, bytes read) of a fresh `listFiles` over the V1 scan
    * of `df`, whose index has forced none of its lazy state yet. */
  private def listFresh(df: DataFrame): (Int, Long) = {
    val scan = df.queryExecution.sparkPlan.collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.get
    var files = 0
    val bytes = bytesReadHere {
      files = scan.relation.location
        .listFiles(scan.partitionFilters, scan.dataFilters).map(_.files.length).sum
    }
    (files, bytes)
  }

  test("range reads never read the Bloom sidecar; lookupEq reads it once, " +
      "on its scan's first listing") {
    val (t, store, fs) = build("lazy")
    val sidecarLen = fs.getFileStatus(
      new Path(store, f"_ts_versions/v${t.currentVersion.get}%08d.blooms")).getLen
    val pinned = t.openAt(t.currentVersion.get)
    val range = pinned.readRange(java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-02 00:00:30"))
    val (rangeFiles, rangeBytes) = listFresh(range)
    assert(rangeFiles == 1 && rangeBytes == 0,
      s"range read kept $rangeFiles files and read $rangeBytes bytes while listing")
    // an equality probe on the same pinned version does read the
    // descriptor and the sidecar, and bloom-skips to the owning file
    val (eqFiles, eqBytes) = listFresh(pinned.toDF.where(col("user_id") === 2007L))
    assert(eqFiles == 1 && eqBytes > 0, s"equality read kept $eqFiles files, read $eqBytes bytes")
    // a live V2 load() plus the planning of a range-only scan: descriptor
    // and manifest only, never the sidecar
    def v2Listed(pred: org.apache.spark.sql.Column): (Int, Long) = {
      var files = 0
      val bytes = bytesReadHere {
        val q = spark.read.format("graft-ts").load(store).where(pred)
        val scan = V2ScanAccess.parquetScan(q.queryExecution.executedPlan)
        files = scan.fileIndex.listFiles(scan.partitionFilters, scan.dataFilters)
          .map(_.files.length).sum
      }
      (files, bytes)
    }
    val (v2RangeFiles, v2RangeBytes) = v2Listed(col("ts").between(
      java.sql.Timestamp.valueOf("2024-01-02 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-02 00:00:30")))
    assert(v2RangeFiles == 1 && v2RangeBytes < sidecarLen,
      s"V2 range read kept $v2RangeFiles files and read $v2RangeBytes bytes " +
        s"(sidecar: $sidecarLen)")
    val (v2EqFiles, v2EqBytes) = v2Listed(col("user_id") === 2007L)
    assert(v2EqFiles == 1 && v2EqBytes >= v2RangeBytes + sidecarLen,
      s"V2 equality read kept $v2EqFiles files and read $v2EqBytes bytes")
    // lookupEq: frame construction plus its scan's listing read the
    // sidecar exactly once
    var lookup: DataFrame = null
    var lookupFiles = 0
    val lookupBytes = bytesReadHere {
      lookup = t.lookupEq("user_id", Seq(2007L))
      lookupFiles = listFresh(lookup)._1
    }
    assert(lookupFiles == 1 && lookupBytes >= sidecarLen && lookupBytes < 2 * sidecarLen,
      s"lookupEq kept $lookupFiles files and read $lookupBytes bytes (sidecar: $sidecarLen)")
    assert(lookup.count() == t.toDF.where(col("user_id") === 2007L).count() &&
      lookup.count() > 0)
  }

  test("create refuses bloomCols outside the schema; lookupEq validates inputs") {
    val (store, _) = freshStore("refuse")
    import spark.implicits._
    val df = Seq((java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1L))
      .toDF("ts", "user_id")
    intercept[IllegalArgumentException] {
      TsTable.create(spark, store, df.schema, tsCol = "ts",
        writeOptions = TsWriteOptions(bloomCols = Seq("nope")))
    }
    val (t, _, _) = build("refuse2")
    intercept[IllegalArgumentException] { t.lookupEq("nope", Seq(1L)) }
    intercept[IllegalArgumentException] { t.lookupEq("user_id", Seq.empty) }
    intercept[IllegalArgumentException] { t.lookupEq("user_id", Seq(null)) }
  }
}
