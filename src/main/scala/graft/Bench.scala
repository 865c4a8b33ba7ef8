package graft
import org.apache.spark.sql.functions.{col, sum, xxhash64}
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    // Warm-up: absorb JVM/codegen/session start-up outside the measured
    // window, then run queries in a FIXED (sorted) order so per-query
    // numbers are comparable round over round. The warm-up is a DEDICATED
    // throwaway (the flagship entry query at sf0.001), never one of the
    // measured queries — warming with names.head flattered that query's
    // own number relative to the cold ones (r4 advice). Note: the warm-up
    // runs at sf0.001, so when benching another sfDir that dir's FIRST-TOUCH
    // costs (file listing, scan-plan codegen) still land in the first
    // measured query — an accepted trade-off vs warming with a real query
    // (r5 advice).
    // SPARK_GRAFT_ONLY=q_a,q_b benches a subset (local triage); absent = all.
    // Unknown names FAIL FAST (a typo must not silently bench zero queries),
    // and a subset run is marked in the JSON so it can never be mistaken
    // for a full-run artifact.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(',').map(_.trim).toSet)
    only.foreach { o =>
      val unknown = o.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty,
        s"SPARK_GRAFT_ONLY names not in SparkEntry.queries: ${unknown.toSeq.sorted.mkString(", ")}")
    }
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    try SparkEntry.entry(spark).count()
    catch { case _: Throwable => () }
    // Per-PLAN warm-up: every measured query runs once at sf0.001 first, so
    // the measured window holds data-processing cost at the target SF, not
    // one-time JVM effects — janino compile + JIT of each query's generated
    // classes (measured 1-3 s per unique plan, landing on whichever query
    // ran a plan shape first and bouncing per-query numbers 2-3× run to
    // run), and the ICU collation class-init (~3-9 s building case-mapping
    // tries + CJK break dictionaries, stack-sampled in
    // CollationAwareUTF8String.<clinit>) that the first lower()-keyed hash
    // aggregate triggers — in r8 it surfaced as q_dedup_exact's "21.5 s".
    // sf0.001 inputs keep the sweep cheap; store-writing queries are safe
    // to re-run (scratch paths are per-input-dir, wiped on reuse).
    // The warm sweep must not silently no-op: a missing/mistyped warm dir or
    // a universally-failing sweep would put the one-time costs right back in
    // the measured window with no signal (r9 advice) — fail fast instead.
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    require(new java.io.File(warmDir).isDirectory,
      s"warm dir does not exist: $warmDir (set SPARK_GRAFT_WARM_DIR)")
    var warmFailed = 0
    names.foreach { n =>
      try SparkEntry.queries(n)(spark, warmDir).count()
      catch { case e: Throwable =>
        warmFailed += 1
        Console.err.println(s"[bench] warm-up failed for $n: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    // A warm sweep that mostly fails puts one-time costs back in measured
    // windows just as surely as one that entirely fails — fail past 20%.
    // Ceiling form so small --only subsets get the stated tolerance (a
    // single failure among ≤5 queries is ≤20% only at exactly n=5; below
    // that it still aborts, which is the strict-but-correct reading).
    require(warmFailed * 5 <= names.size,
      s"$warmFailed/${names.size} warm-up runs failed — warm sweep is " +
        "ineffective, aborting (one-time costs would land in measured windows)")
    // Amortized-index warm: the IVF keys' production claim is build-once /
    // probe-many (the store is fingerprint-reused across calls), so their
    // measured numbers should be the amortized PROBE. Pre-build the index
    // for the MEASURED input here, outside the window — both keys share
    // one fingerprinted store, so warming whichever is selected suffices
    // (a subset run of only q_knn_join_ivf must not pay the build in its
    // first measured window). These are the only queries whose warm run
    // changes the measured plan — every other query re-does its full work
    // per call (scratch stores are wiped on reuse).
    Seq("q_sim_ivf", "q_knn_join_ivf", "q_knn_join_ivf_sq").find(names.contains).foreach { k =>
      try SparkEntry.queries(k)(spark, sfDir).count()
      catch { case e: Throwable =>
        Console.err.println(s"[bench] ivf pre-build failed: ${e.getClass.getSimpleName}") }
    }
    // Settle barrier between measured queries: unpersist/block-removal from
    // a query's own cleanup is partly async, and in r8 its executor-side
    // storm landed inside the NEXT queries' windows (q_dedup_exact 1.9 s
    // measured 21.5 s). r9 still showed a residual form of it — six
    // untouched queries 2-4× slower in the full run than via
    // SPARK_GRAFT_ONLY (q_ts_compact 7.1 s full vs 2.6 s isolated) — from
    // deferred cleanup piling up across 77+77 plans: Spark's ContextCleaner
    // only frees dead shuffles/broadcasts when a GC enqueues their weak
    // references, so without explicit GCs all that work (plus the full-heap
    // collections it implies) lands in whichever measured window the JVM
    // picks. The barrier now: drain the scheduler with a no-op job, force
    // the GC (triggering ContextCleaner), give its async deletions a beat,
    // then drain once more so executor threads are quiescent when the
    // clock restarts.
    val settleGc = sys.env.getOrElse("SPARK_GRAFT_SETTLE_GC", "1") == "1"
    def settle(): Unit = {
      spark.sparkContext.parallelize(0 until cpus.toInt, cpus.toInt).count()
      if (settleGc) { System.gc(); Thread.sleep(100) }
      else Thread.sleep(50)
      spark.sparkContext.parallelize(0 until cpus.toInt, cpus.toInt).count()
    }
    // Measured sweep, repeated: single-run totals on this box swing ±25%
    // (multi-second noise bursts land on a RANDOM query subset each run —
    // r9's "unexplained regression cluster" was exactly one such burst
    // pattern plus unscheduled GC). The sweep runs `reps` times END TO END
    // (not per-query back-to-back: the bursts outlast one query, so
    // adjacent reps would both be hit) and each query reports its min —
    // the steady-state plan cost the bench exists to track. reps and the
    // min discipline are recorded in the JSON so the number can't be
    // mistaken for a single cold pass.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "2").toInt
    require(reps >= 1, s"SPARK_GRAFT_REPS must be >= 1, got $reps")
    // ── Calibration probe ────────────────────────────────────────────────
    // This host's throughput drifts ±30-50% across hours on identical code
    // (r13, r17→r18), so raw cross-round totals conflate code changes with
    // environment. The probe is a FIXED synthetic workload with zero
    // TsTable/custom-format dependence — a pinned-size in-memory hash
    // aggregate (CPU + shuffle-free codegen path) plus one full-decode
    // fixture-parquet scan (file-open + decode path) — with the same settle
    // discipline as the queries. Cross-round comparisons divide each key by
    // its run's calibration (tools/bench_diff.py), so host drift cancels
    // and only genuine plan/code movement remains. The work is constant
    // (64 fixed slices, fixed row count) regardless of SPARK_GRAFT_CPUS: a
    // slower/busier host yields a proportionally larger calibration, which
    // is exactly the point.
    //
    // r20 proved a SINGLE up-front min-of-3 insufficient: the probe itself
    // swung ±35% across identical-code runs, and a pre-sweep sample cannot
    // see drift that arrives DURING the 15-20 min sweep (the r20 artifact's
    // 0.336→0.222 probe implied a 1.5× host swing its raw totals flatly
    // contradicted). So the probe is now SAMPLED ≥5 times INTERLEAVED
    // through the measured sweep — one sample before rep 1, then evenly
    // spaced mid-rep samples plus one after each rep — and the artifact
    // records the full VECTOR ("calibration_vec") next to its MEDIAN
    // ("calibration_sec", name kept for bench_diff compatibility). The
    // median of interleaved samples tracks the sweep's own environment;
    // the vector's spread is the published noise bar (spread <10% = the
    // run is trustworthy, per the r20 verdict's done-criterion).
    def calibrationProbe(): Unit = {
      // double sums: an int64 sum of 48M hashes overflows under ANSI
      spark.range(0, 96000000L, 1, 64)
        .select(sum(xxhash64(col("id") * 2 + 1).cast("double")).as("h"))
        .collect()
      val li = spark.read.parquet(s"$warmDir/lineitem.parquet")
      li.select(sum(xxhash64(li.columns.map(col).toSeq: _*).cast("double")).as("h"))
        .collect()
    }
    calibrationProbe() // plan/codegen warm-up, outside every measured sample
    val calSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    // Each interleaved sample is itself a MIN-of-3 back-to-back probes:
    // the r21 first sweep showed single-shot samples spanning 0.382–0.784 s
    // (105% spread) while the queries around them moved uniformly — the
    // probe was catching transient bursts (GC tails, compaction, scheduler
    // hiccups) shorter than one probe run. The min over three consecutive
    // runs filters bursts; the MEDIAN over the interleaved samples still
    // tracks real drift arriving during the sweep (bursts and drift have
    // different timescales — that is the whole design).
    def sampleCalibration(): Unit = {
      settle()
      calSamples += (1 to 3).map { _ =>
        val t0 = System.nanoTime()
        calibrationProbe()
        (System.nanoTime() - t0) / 1e9
      }.min
    }
    // interior samples per rep, sized so 1 + reps*(interior+1) >= 5:
    // reps=1 → 3 interior (5 samples), reps=2 → 1 (5), reps=3 → 1 (7)
    val calInterior = math.max(1, math.ceil((5.0 - 1 - reps) / reps).toInt)
    // interior sample positions, evenly spaced strictly inside the sweep
    val calPositions: Set[Int] =
      (1 to calInterior).map(j => names.size * j / (calInterior + 1))
        .filter(p => p > 0 && p < names.size).toSet
    sampleCalibration() // before rep 1
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    // A failed rep records +inf, NOT its truncated wall time — otherwise
    // min() would report a fast-crash (0.1 s exception) as the query's
    // steady-state cost. All reps failed → the query reports -1 and the
    // error list carries the reason.
    val sweeps = (1 to reps).map { _ =>
      val rep = names.zipWithIndex.map { case (name, i) =>
        if (calPositions.contains(i)) sampleCalibration() // interleaved probe
        val fn = SparkEntry.queries(name)
        settle()
        val t0 = System.nanoTime()
        val ok = try { fn(spark, sfDir).count(); true }
        catch { case e: Throwable =>
          val msg = s"$name: ${e.getClass.getSimpleName}"
          if (!errs.contains(msg)) errs += msg
          false
        }
        name -> (if (ok) (System.nanoTime() - t0) / 1e9 else Double.PositiveInfinity)
      }.toMap
      sampleCalibration() // after each rep
      rep
    }
    val calSorted = calSamples.sorted
    val calibration =
      if (calSorted.size % 2 == 1) calSorted(calSorted.size / 2)
      else (calSorted(calSorted.size / 2 - 1) + calSorted(calSorted.size / 2)) / 2
    val results = names.map { n =>
      val best = sweeps.map(_(n)).min
      n -> (if (best.isInfinity) -1.0 else best)
    }
    // 3-decimal values keep the whole line under the driver's 2 kB output
    // tail even at ~70 queries; full precision adds nothing at wall-clock
    // noise levels and in r7 pushed the line head out of the capture window.
    def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    // failed queries (-1 sentinel) are EXCLUDED from the total — summing
    // the sentinel would understate it and read breakage as a speedup
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val errJson = errs.map(e => "\"" + e.replace("\"", "'") + "\"").mkString("[", ",", "]")
    val subset = if (only.isDefined) "\"subset\":true," else ""
    val calVec = calSamples.map(f3).mkString("[", ",", "]")
    println(s"""{"metric":"total","value":${f3(total)},"unit":"sec",$subset"reps":$reps,"agg":"min","calibration_sec":${f3(calibration)},"calibration_vec":$calVec,"queries":$qs,"errors":$errJson,"sf":"$sfDir"}""")
    // The driver archives only a ~2-3 kB stdout TAIL, and the single
    // 196-key "queries" line (~5 kB) loses its head there — BENCH_r{19,20,21}
    // all came back `parsed: null` and PERF's per_query/scaling blocks were
    // empty three rounds running (r21 verdict task 1). Restore per-query
    // visibility with ADDITIONS ONLY (the full line above stays — the
    // driver contract's ONE JSON line):
    //  1. "queries_part" lines — the per-query map split into self-contained
    //     ≤1.5 kB chunks (~15 keys each) with part indices, so ANY capture
    //     window holds complete parseable records for the keys it covers
    //     instead of a torn fragment;
    //  2. ONE compact "queries_vec" line — every value in sorted-key order
    //     (~1.3 kB at 196 keys), placed right before total_summary so the
    //     FULL per-query vector survives inside the archived tail even when
    //     the part lines overflow it. Key names are deliberately omitted
    //     (names alone are ~3.5 kB — nothing carrying them fits the tail);
    //     they are recoverable as the sorted key set of the same round's
    //     registry (CORRECTNESS_r*.json / any full-stdout artifact), which
    //     is exactly how tools/bench_diff.py reconstructs it (--names).
    results.grouped(15).zipWithIndex.foreach { case (chunk, i) =>
      val part = chunk.map { case (k, v) => s"\"" + k + "\":" + f3(v) }
        .mkString("{", ",", "}")
      println(s"""{"metric":"queries_part","part":${i + 1},"of":${(results.size + 14) / 15},$subset"reps":$reps,"agg":"min","queries":$part,"sf":"$sfDir"}""")
    }
    println(s"""{"metric":"queries_vec","order":"sorted_names","n":${results.size},$subset"reps":$reps,"agg":"min","values":${results.map(r => f3(r._2)).mkString("[", ",", "]")},"sf":"$sfDir"}""")
    // Emit a compact summary LAST so any tail window ends with a
    // self-contained parseable record, whatever the registry size. Distinct
    // metric name ("total_summary", plus the "summary":true flag) so a
    // consumer aggregating the full output by metric name never
    // double-counts the total — the marker flag is informative, not
    // load-bearing.
    val nFailed = results.count(_._2 < 0)
    println(s"""{"metric":"total_summary","value":${f3(total)},"unit":"sec",$subset"summary":true,"reps":$reps,"agg":"min","calibration_sec":${f3(calibration)},"calibration_vec":$calVec,"n_queries":${results.size},"n_failed":$nFailed,"sf":"$sfDir"}""")
    spark.stop()
  }
}
