package perfbench

object Stats {
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear interpolation between closest ranks; 0 for no samples. */
  def quantile(xs: collection.Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** Length of the union of `intervals` clipped to [lo, hi]. */
  def covered(intervals: collection.Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (cs, ce) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (cs.isNaN) { cs = a; ce = b }
      else if (a <= ce) ce = math.max(ce, b)
      else { total += ce - cs; cs = a; ce = b }
    }
    if (!cs.isNaN) total += ce - cs
    total
  }
}

/** Per-layer metrics of a traced run. Each is the median over the traced
  * operations of one kind; an operation kind the workload does not run
  * reports 0. Names follow the layers of the library:
  *  - `catalyst`: analysis + optimisation + planning of the queries an
  *    operation executed (`QueryPlanningTracker`);
  *  - `ts`: the `graft.ts` call itself (`call_ms`) and the part of it not
  *    covered by Spark jobs started inside it (`driver_ms`);
  *  - `fs`: Hadoop local-file-system statistics over the operation;
  *  - `exec`: Spark jobs the operation started, and for reads the
  *    driver time inside the action outside planning and jobs;
  *  - `stream`: micro-batch phases from `StreamingQueryProgress`. */
object Layers {
  val ReadOps = Seq("read_range", "lookup", "as_of")
  val TsOps = ReadOps ++ Seq("append", "merge", "rollup_sync", "maintain")
  val ExecFields = Seq("jobs", "stages", "tasks", "task_ms", "shuffle_bytes", "spill_bytes")
  /** Hadoop's local file system leaves its read- and write-op counters at
    * zero, so only the byte counters are kept. */
  val FsFields = Seq("bytes_read", "bytes_written")
  val StreamPhases = Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch",
    "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
    "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets")
  val EndState = Seq("ts.versions", "ts.live_files", "ts.archived_files",
    "ts.stored_bytes", "ts.bytes_per_user_byte")

  /** Every per-layer metric name with its unit, in report order. */
  val names: Seq[(String, String)] =
    ReadOps.map(o => s"catalyst.$o.plan_ms" -> "ms") ++
      TsOps.flatMap(o => Seq(s"ts.$o.call_ms" -> "ms", s"ts.$o.driver_ms" -> "ms")) ++
      Seq("ts.read_range.files_read" -> "count", "ts.read_range.rows_read_per_row" -> "ratio") ++
      TsOps.flatMap(o => FsFields.map(f => s"fs.$o.$f" -> "bytes")) ++
      EndState.map(n => n -> (n match {
        case "ts.stored_bytes" => "bytes"
        case "ts.bytes_per_user_byte" => "ratio"
        case _ => "count"
      })) ++
      StreamPhases.map { case (_, n) => s"stream.${n}_ms" -> "ms" } ++
      Seq("stream.batches" -> "count", "stream.rows_per_batch" -> "rows") ++
      ReadOps.flatMap(o => ExecFields.map(f => s"exec.$o.$f" -> (f match {
        case "task_ms" => "ms"
        case "shuffle_bytes" | "spill_bytes" => "bytes"
        case _ => "count"
      }))) ++
      Seq("exec.read_range.job_ms" -> "ms", "exec.read_range.driver_ms" -> "ms",
        "trace.read_range.unexplained_ms" -> "ms",
        "host.calibration_before_s" -> "s", "host.calibration_after_s" -> "s",
        "trace.overhead_frac" -> "ratio")

  def compute(run: Run, endState: Map[String, Double]): Map[String, Double] = {
    val ex = run.exec
    val traced = run.ops.filter(o => o.traced && o.ok)
    val spansByOp = run.spans.groupBy(_.op)
    val jobsByOp = ex.jobs.groupBy(_.op)
    val tasksByStage = ex.tasks.groupBy(_.stage)
    val notes = run.notes.groupBy(n => (n._1, n._2)).map { case (k, v) => k -> v.map(_._3).sum }
    val phases = run.plans.synchronized(run.plans.phases.toList)
    val phaseIv = phases.map(p => (p.startMs.toDouble, p.endMs.toDouble))

    final case class PerOp(rec: OpRec, values: Map[String, Double])
    val per: Seq[PerOp] = traced.toSeq.map { o =>
      val sp = spansByOp.getOrElse(o.id, Seq.empty)
      val jobs = jobsByOp.getOrElse(o.id, Seq.empty)
      val jobIv = jobs.map(j => (j.startMs.toDouble, j.endMs.toDouble))
      val tsSpans = sp.filter(_.layer == "ts")
      val callMs = tsSpans.map(_.ms).sum
      val driverMs = callMs - tsSpans.map(s => Stats.covered(jobIv, s.startMs, s.endMs)).sum
      val planMs = phases.filter(p => p.startMs >= o.startMs && p.startMs <= o.endMs)
        .map(p => (p.endMs - p.startMs).toDouble).sum
      // inside actions: time covered neither by planning nor by jobs
      val execDriverMs = sp.filter(_.layer == "action")
        .map(a => a.ms - Stats.covered(phaseIv ++ jobIv, a.startMs, a.endMs)).sum
      val stages = jobs.flatMap(_.stages).distinct.filter(ex.completedStages.contains)
      val tasks = stages.flatMap(s => tasksByStage.getOrElse(s, Seq.empty))
      val taskMs = tasks.map(_.runMs.toDouble).sum
      val jobMs = Stats.covered(jobIv, o.startMs, o.endMs)
      val fs = run.fsDelta.getOrElse(o.id, Array.fill(FsFields.size)(0L))
      val rows = notes.getOrElse((o.id, "rows"), 0.0)
      val v = Map(
        "call_ms" -> callMs, "driver_ms" -> driverMs, "plan_ms" -> planMs,
        "jobs" -> jobs.size.toDouble, "stages" -> stages.size.toDouble,
        "tasks" -> tasks.size.toDouble, "task_ms" -> taskMs,
        "shuffle_bytes" -> tasks.map(_.shuffleBytes.toDouble).sum,
        "spill_bytes" -> tasks.map(_.spillBytes.toDouble).sum,
        "job_ms" -> jobMs, "exec_driver_ms" -> execDriverMs,
        "unexplained_ms" -> (o.ms - callMs - planMs - jobMs),
        "files_read" -> notes.getOrElse((o.id, "files_read"), 0.0),
        "rows_read_per_row" -> (if (rows > 0) tasks.map(_.recordsRead.toDouble).sum / rows else 0.0)) ++
        FsFields.zipWithIndex.map { case (f, i) => f -> fs(i).toDouble }
      PerOp(o, v)
    }
    val byKind = per.groupBy(_.rec.kind)
    def med(kind: String, field: String): Double =
      Stats.median(byKind.getOrElse(kind, Seq.empty).map(_.values(field)))

    val stream = run.stream.synchronized(run.stream.batches.toList)
    val untracedUnits = run.units.collect { case (ms, false) => ms }.toSeq
    val tracedUnits = run.units.collect { case (ms, true) => ms }.toSeq
    val overhead =
      if (untracedUnits.isEmpty || tracedUnits.isEmpty) 0.0
      else Stats.median(tracedUnits) / Stats.median(untracedUnits) - 1

    names.map { case (n, _) =>
      val parts = n.split('.')
      val value: Double = n match {
        case _ if endState.contains(n) => endState(n)
        case _ if EndState.contains(n) => 0.0
        case "ts.read_range.files_read" => med("read_range", "files_read")
        case "ts.read_range.rows_read_per_row" => med("read_range", "rows_read_per_row")
        case "exec.read_range.job_ms" => med("read_range", "job_ms")
        case "exec.read_range.driver_ms" => med("read_range", "exec_driver_ms")
        case "trace.read_range.unexplained_ms" => med("read_range", "unexplained_ms")
        case "trace.overhead_frac" => overhead
        case "stream.batches" => stream.size.toDouble
        case "stream.rows_per_batch" => Stats.median(stream.map(_._1.toDouble))
        case _ if parts(0) == "stream" =>
          val key = StreamPhases.find(p => s"stream.${p._2}_ms" == n).get._1
          // a V1 source reports its offset phase as getOffset
          val keys = if (key == "latestOffset") Seq(key, "getOffset") else Seq(key)
          Stats.median(stream.map(b => keys.map(b._2.getOrElse(_, 0L)).sum.toDouble))
        case _ if parts(0) == "host" => endState.getOrElse(n, 0.0)
        case _ => med(parts(1), parts(2))
      }
      n -> value
    }.toMap
  }
}
