package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** Deterministic per-query profile — the measurement face wall-clock cannot
  * give on this host (its throughput swings 4-12× within a run, recorded in
  * the bench's calibration vector). Job/stage/task counts and shuffle/input
  * byte totals are ENVIRONMENT-INDEPENDENT: an optimization that removes an
  * exchange or a redundant action moves them identically on a loud or quiet
  * host, so they are the before/after evidence the wall-clock noise floor
  * would otherwise swallow. Summed executor task time is also reported
  * (noisier, but it averages over every task rather than one clock), and
  * so are the Janino compiles the measured run paid (`compiles`, from
  * `CodegenMetrics`; driver and local-mode executors share one JVM) and
  * their time: a key that compiles on every invocation after its warm run
  * generates source that differs per call, e.g. an inlined constant.
  *
  * Usage: runMain graft.Prof <query...>  (env `SPARK_GRAFT_SF_DIR`/`_CPUS`
  * as Bench). Each query warms once at the warm dir (plan/codegen, the
  * Bench discipline), then runs once measured at the target SF. */
object Prof {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: Prof <query...>")
    val unknown = args.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    val m = new java.util.concurrent.atomic.AtomicReference(Counters())
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        m.updateAndGet(c => c.copy(jobs = c.jobs + 1))
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        m.updateAndGet(c => c.copy(stages = c.stages + 1))
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val tm = t.taskMetrics
        if (tm != null) m.updateAndGet(c => c.copy(
          tasks = c.tasks + 1,
          taskMs = c.taskMs + tm.executorRunTime,
          shufW = c.shufW + tm.shuffleWriteMetrics.bytesWritten,
          shufR = c.shufR + tm.shuffleReadMetrics.totalBytesRead,
          input = c.input + tm.inputMetrics.bytesRead))
      }
    })
    args.foreach { n =>
      val fn = SparkEntry.queries(n)
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
      Thread.sleep(300) // let the async listener bus drain the warm run
      m.set(Counters())
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(500) // drain before reading
      val c = m.get()
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      val compileMs = (CodeGenerator.compileTime - compileNs0) / 1e6
      println(f"[prof] $n%-28s jobs=${c.jobs}%-4d stages=${c.stages}%-4d " +
        f"tasks=${c.tasks}%-5d taskTime=${c.taskMs / 1000.0}%8.2fs " +
        f"shufW=${c.shufW / 1048576.0}%8.2fMB input=${c.input / 1048576.0}%8.2fMB " +
        f"compiles=$compiles%-4d compileTime=$compileMs%8.1fms wall=$wall%7.2fs")
    }
    spark.stop()
  }
  private case class Counters(jobs: Int = 0, stages: Int = 0, tasks: Int = 0,
                              taskMs: Long = 0L, shufW: Long = 0L,
                              shufR: Long = 0L, input: Long = 0L)
}
