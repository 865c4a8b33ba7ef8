package graft

import graft.ts.{TsTable, TsWriteOptions}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bloom point-lookup index: per-file membership bits over declared
  * `bloomCols`, harvested at commit into a version sidecar, carried
  * forward like ts spans, and consumed by `TsTable.lookupEq` — the
  * needle-query verb min/max spans cannot serve on an unclustered
  * high-cardinality column. Covers: skipping actually happens (candidate
  * lists shrink to the owning file), absent-value fast path, correctness
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
    val cands = t.bloomCandidateFiles("user_id", Seq(2007L))
    assert(cands.isDefined, "index should be authoritative")
    assert(cands.get.length == 1, s"expected 1 candidate file, got ${cands.get}")
    assert(cands.get.head.startsWith("p_date=2024-01-02/"))
    val got = t.lookupEq("user_id", Seq(2007L))
      .select("ts", "user_id", "value").collect().toSet
    val want = t.toDF.where(col("user_id") === 2007L)
      .select("ts", "user_id", "value").collect().toSet
    assert(got == want && got.nonEmpty)
  }

  test("multi-value probe unions candidate files; string column probes work") {
    val (t, _, _) = build("multi",
      TsWriteOptions(bloomCols = Seq("user_id", "tag")))
    val cands = t.bloomCandidateFiles("user_id", Seq(1003L, 3004L))
    assert(cands.get.length == 2)
    // string bloom column: probe under StringType
    val byTag = t.bloomCandidateFiles("tag", Seq("u3004"))
    assert(byTag.get.length == 1 && byTag.get.head.startsWith("p_date=2024-01-03/"))
    val got = t.lookupEq("tag", Seq("u3004")).count()
    assert(got == t.toDF.where(col("tag") === "u3004").count() && got > 0)
  }

  test("absent value: zero candidates, empty result, no data job needed") {
    val (t, _, _) = build("absent")
    assert(t.bloomCandidateFiles("user_id", Seq(999999L)).get.isEmpty)
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
    assert(t.bloomCandidateFiles("user_id", Seq(777L)).isEmpty)
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
    // pre-declare: nothing authoritative to prune with
    assert(t.bloomCandidateFiles("user_id", Seq(2007L)).isEmpty)
    val ix = t.declareIndexing(statsCols = Seq("Value"),
      bloomCols = Seq("User_Id")) // mixed case → canonical labels
    assert(ix.snapshotVersions.last._2 == "indexing")
    // the backfilled index is authoritative over every pre-existing file
    val cands = ix.bloomCandidateFiles("user_id", Seq(2007L))
    assert(cands.isDefined, "backfilled index should be authoritative")
    assert(cands.get.length == 1 && cands.get.head.startsWith("p_date=2024-01-02/"),
      s"expected the one owning file, got ${cands.get}")
    val got = ix.lookupEq("user_id", Seq(2007L)).count()
    assert(got == ix.toDF.where(col("user_id") === 2007L).count() && got > 0)
    // the bloom sidecar covers every pre-existing file under the new column
    val side = graft.ts.TsBloomSpecAccess.sidecar(spark, fs, store,
      ix.currentVersion.get)
    assert(side.size == 3 && side.values.forall(_.contains("user_id")))
    // the declared VALUE spans backfilled into the manifest colStats too
    val (_, colSpans, _) = ix.currentFileIndexes
    assert(colSpans.nonEmpty && colSpans.values.forall(_.contains("value")))
    // a probe for an absent value still fast-paths to zero candidates
    assert(ix.bloomCandidateFiles("user_id", Seq(999999L)).get.isEmpty)
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
    // colStats spans are absent (no statsCols declared) → no index left
    assert(t.bloomCandidateFiles("user_id", Seq(2007L)).isEmpty)
    assert(t.lookupEq("user_id", Seq(2007L)).count() ==
      t.toDF.where(col("user_id") === 2007L).count())
    // next commit re-harvests EVERY file, not just the new one
    import spark.implicits._
    t.append(Seq((java.sql.Timestamp.valueOf("2024-01-04 00:00:00"), 4000L, "u4000", 0.0))
      .toDF("ts", "user_id", "tag", "value"))
    val cands = t.bloomCandidateFiles("user_id", Seq(2007L))
    assert(cands.isDefined && cands.get.length == 1)
  }

  test("compact rewrites get fresh blooms; lookups stay correct and pruned") {
    val (t, store, fs) = build("compact")
    import spark.implicits._
    // fragment day 2 with a second file, then compact it back to one
    t.append(Seq((java.sql.Timestamp.valueOf("2024-01-03 23:59:59"), 2007L, "late", 9.0))
      .toDF("ts", "user_id", "tag", "value"))
    t.compactAll(targetFiles = 1)
    val cands = t.bloomCandidateFiles("user_id", Seq(2007L))
    assert(cands.isDefined && cands.get.length == 2,
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
    val cands = t.bloomCandidateFiles("user_id", Seq(1003L))
    assert(cands.isDefined && cands.get.length == 1)
    assert(cands.get.head.startsWith("p_date=2024-01-01/"))
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

  test("the candidate pass returns the manifest it validated: prune and scan share one authority check") {
    val (t, _, _) = build("race")
    val Some((mVersion, mFiles, cands)) =
      graft.ts.TsBloomSpecAccess.candidatesWithManifest(t, "user_id", Seq(2007L))
    assert(mVersion == t.currentVersion.get)
    assert(cands.forall(mFiles.contains),
      "candidates must come from the validated manifest's own file set")
    // a commit lands BETWEEN the candidate pass and the scan: the probed
    // user gains rows in a NEW file the old candidate list cannot know.
    // lookupEq must never pair version-N candidates with version-N+1's
    // file set — a fresh call revalidates and sees the new rows.
    import spark.implicits._
    t.append(Seq((java.sql.Timestamp.valueOf("2024-01-04 00:00:00"),
      2007L, "late", 42.0)).toDF("ts", "user_id", "tag", "value"))
    val Some((mv2, _, cands2)) =
      graft.ts.TsBloomSpecAccess.candidatesWithManifest(t, "user_id", Seq(2007L))
    assert(mv2 == mVersion + 1, "revalidation must see the new commit")
    assert(cands2.length == cands.length + 1,
      s"the new file holding 2007 must join the candidates: $cands2")
    assert(t.lookupEq("user_id", Seq(2007L)).count() ==
      t.toDF.where(col("user_id") === 2007L).count())
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
    val cands = t.bloomCandidateFiles("user_id", Seq(1001L))
    assert(cands.isDefined && cands.get.length == 1 &&
      cands.get.head.startsWith("p_date=2024-01-01/"), s"got $cands")
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

  test("a pinned range-only read never opens the descriptor; lookupEq's scan reuses " +
      "the candidate pass's sidecar") {
    val (t, _, _) = build("lazy")
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
    // lookupEq hands its index the sidecar and Bloom columns it already has
    val lookup = t.lookupEq("user_id", Seq(2007L))
    val (lookupFiles, lookupBytes) = listFresh(lookup)
    assert(lookupFiles == 1 && lookupBytes == 0,
      s"lookupEq's scan kept $lookupFiles files and read $lookupBytes bytes while listing")
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
