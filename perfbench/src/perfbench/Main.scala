package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, sum, xxhash64}

import java.lang.management.ManagementFactory

/** One workload of the benchmark: a closed loop with one client. */
trait Workload {
  /** Generate the inputs from the seed under `dir`. */
  def build(dir: String): Unit
  /** One pass of every operation on the inputs, so codegen, JIT and class
    * initialisation happen before the clock starts. */
  def warm(): Unit
  /** Units of the closed loop run after [[warm]], off the clock and counted
    * in set-up, so the loop is timed once the JIT has compiled the hot
    * paths rather than while it is still speeding them up. */
  def warmUnits: Int = 0
  def inputHash: String
  /** One unit of the loop; records its operations on `run`. */
  def step(run: Run): Unit
  /** Checks of the end state, recorded as operations. */
  def verify(run: Run): Unit
  /** Rows (ticks) the loop has handled. */
  def rows: Long
  def stop(): Unit = ()
  def endState: Map[String, Double]
}

/** Usage: perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <cpus>
  *
  * Prints one line `PERFBENCH {json}` with the run's operations, metrics
  * and correctness; `perfbench/run.py` is the front end that builds,
  * launches and checks. */
object Main {
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.catalog.graft_ts", "graft.sources.GraftTsCatalog")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The in-memory half of graft.Bench's calibration probe: a fixed
    * 96M-row hash aggregate in 64 slices, independent of the library. */
  def calibration(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 96000000L, 1, 64)
      .select(sum(xxhash64(col("id") * 2 + 1).cast("double"))).collect()
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val Array(workload, seedS, secondsS, traceS, work, cpusS) = args
    val (seed, seconds, trace, cpus) = (seedS.toLong, secondsS.toDouble, traceS == "1", cpusS.toInt)
    val spark = session(cpus, work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val w: Workload = workload match {
      case "ts_read" => new TsRead(spark, seed)
      case "ts_ingest" => new TsIngest(spark, seed)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    def secs(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    val buildS = secs(w.build(s"$work/in"))
    val warmRun = new Run(spark)
    val warmS = secs { w.warm(); for (_ <- 0 until w.warmUnits) w.step(warmRun) }
    val rowsBefore = w.rows
    val setupS = sessionS + buildS + warmS
    calibration(spark) // its own warm-up
    val calBefore = calibration(spark)

    val run = new Run(spark)
    // A traced run traces every other unit, so the tracing cost
    // (trace.overhead_frac) is read against units of the same process at
    // the same point of its JIT warm-up.
    if (trace) run.attachListeners()
    val loopStart = System.nanoTime()
    val loopEnd = loopStart + (seconds * 1e9).toLong
    while (System.nanoTime() < loopEnd || run.units.isEmpty) {
      run.tracing = trace && run.units.size % 2 == 1
      w.step(run)
    }
    val loopS = (System.nanoTime() - loopStart) / 1e9
    val rows = w.rows - rowsBefore
    run.tracing = false
    if (trace) run.drainListeners()
    w.stop()
    val opsBeforeVerify = run.ops.size
    val verifyS = secs(w.verify(run))
    val endState = w.endState
    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    val calAfter = calibration(spark)

    val units = run.units.filterNot(_._2).map(_._1).toSeq
    val e2e = Map(
      "setup_s" -> setupS,
      "op_p50_ms" -> Stats.median(units),
      "rows_per_s" -> rows / loopS,
      "live_heap_mb" -> heapMb)
    val layer =
      if (!trace) Map.empty[String, Double]
      else Layers.compute(run, endState ++ Map(
        "host.calibration_before_s" -> calBefore, "host.calibration_after_s" -> calAfter))
    val loopOps = run.ops.take(opsBeforeVerify)
    val perOp = loopOps.filterNot(_.traced).groupBy(_.kind).toSeq.sortBy(_._1).map { case (k, os) =>
      val ms = os.filter(_.ok).map(_.ms).toSeq
      k -> Map("n" -> os.size.toDouble, "p50_ms" -> Stats.median(ms), "p90_ms" -> Stats.quantile(ms, 0.9))
    }
    val detail = Map(
      "session_s" -> sessionS, "build_s" -> buildS, "warm_s" -> warmS,
      "loop_s" -> loopS, "verify_s" -> verifyS, "units" -> units.size.toDouble,
      "host.calibration_before_s" -> calBefore, "host.calibration_after_s" -> calAfter) ++
      endState

    val js = Json.obj(Seq(
      "workload" -> Json.str(workload), "seed" -> seed.toString,
      "input_hash" -> Json.str(w.inputHash),
      "attempted" -> (warmRun.attempted + run.attempted).toString,
      "failed" -> (warmRun.failed + run.failed).toString,
      "errors" -> Json.arr((warmRun.errors ++ run.errors).take(10).map(Json.str).toSeq),
      "end_to_end" -> Json.nums(e2e), "per_layer" -> Json.nums(layer),
      "ops" -> Json.obj(perOp.map { case (k, m) => k -> Json.nums(m) }),
      "detail" -> Json.nums(detail)))
    if (trace) writeSpans(run, s"$work/spans.jsonl")
    println("PERFBENCH " + js)
    spark.stop()
  }

  /** The traced run's spans, jobs and planning phases, one JSON object a
    * line; jobs carry the id of the operation that started them. */
  private def writeSpans(run: Run, path: String): Unit = {
    val out = new java.io.PrintWriter(path, "UTF-8")
    try {
      run.spans.foreach { s =>
        out.println(Json.obj(Seq("span" -> s.id.toString, "parent" -> s.parent.toString,
          "op" -> s.op.toString, "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
          "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs))))
      }
      run.exec.jobs.foreach { j =>
        out.println(Json.obj(Seq("job" -> j.id.toString, "op" -> j.op.toString,
          "layer" -> Json.str("exec"), "start_ms" -> j.startMs.toString,
          "end_ms" -> j.endMs.toString)))
      }
      run.plans.phases.foreach { p =>
        out.println(Json.obj(Seq("phase" -> Json.str(p.name), "layer" -> Json.str("catalyst"),
          "start_ms" -> p.startMs.toString, "end_ms" -> p.endMs.toString)))
      }
    } finally out.close()
  }
}

/** Just enough JSON writing for the result line. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String = obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}
