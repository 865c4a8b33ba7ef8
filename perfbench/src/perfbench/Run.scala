package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Wall clock in epoch milliseconds with sub-millisecond resolution, so
  * harness spans line up with the epoch-millisecond times Spark's
  * listener events carry. */
object Clock {
  private val anchorMs = System.currentTimeMillis().toDouble
  private val anchorNs = System.nanoTime()
  def nowMs: Double = anchorMs + (System.nanoTime() - anchorNs) / 1e6
}

/** A timed call at a layer boundary. `op` is the id of the workload
  * operation the call belongs to; `parent` is the enclosing span (0 for an
  * operation's root span). */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      layer: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** One workload operation as the client saw it. */
final case class OpRec(id: Int, kind: String, startMs: Double, endMs: Double,
                       traced: Boolean, ok: Boolean) {
  def ms: Double = endMs - startMs
}

/** Hadoop `FileSystem` statistics for the local file system, summed over
  * all threads of the JVM: bytes read, bytes written (see Layers.FsFields). */
object FsStats {
  def snapshot(): Array[Long] = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    Array(st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }
}

/** Records operations and, while tracing, spans and Spark's own events.
  *
  * Every measurement is taken from outside the library: spans wrap the
  * harness's calls into `graft.ts` and `graft.streaming`; jobs, stages
  * and tasks come from a `SparkListener`; planning
  * phases from the `QueryPlanningTracker` of each executed query (a
  * `QueryExecutionListener`); micro-batch phases from a
  * `StreamingQueryListener`. Jobs are tied to an operation through a
  * local property set on the client thread before each operation. */
final class Run(val spark: SparkSession) {
  val ops = ArrayBuffer.empty[OpRec]
  val spans = ArrayBuffer.empty[Span]
  /** Latency of the workload's unit of work (see Workload.step). */
  val units = ArrayBuffer.empty[(Double, Boolean)] // (ms, traced)
  /** Per-operation extra counters, e.g. files planned by a read. */
  val notes = ArrayBuffer.empty[(Int, String, Double)]
  val fsDelta = scala.collection.mutable.Map.empty[Int, Array[Long]]
  val errors = ArrayBuffer.empty[String]
  var attempted = 0
  var failed = 0

  /** Whether the current unit records spans, file-system counters and
    * notes. The listeners stay attached for the whole of a traced run. */
  var tracing = false
  private var nextId = 0
  private var stack: List[Int] = Nil
  private var curOp = 0

  val exec = new ExecListener
  val plans = new PlanListener
  val stream = new StreamListener

  def attachListeners(): Unit = {
    spark.sparkContext.addSparkListener(exec)
    spark.listenerManager.register(plans)
    spark.streams.addListener(stream)
  }

  /** Run one workload operation, timed. `ok` checks the result after the
    * clock stops; an exception or a wrong result counts as a failed
    * operation. Returns the result when it was correct. */
  def op[A](kind: String)(body: => A)(ok: A => Boolean): Option[A] = {
    attempted += 1
    nextId += 1
    val id = nextId
    curOp = id
    spark.sparkContext.setLocalProperty(ExecListener.OpKey, id.toString)
    val fs0 = if (tracing) FsStats.snapshot() else null
    stack = id :: Nil
    val t0 = Clock.nowMs
    val res = try Right(body) catch { case NonFatal(e) => Left(e) }
    val t1 = Clock.nowMs
    stack = Nil
    if (tracing) {
      val fs1 = FsStats.snapshot()
      fsDelta(id) = fs1.zip(fs0).map { case (a, b) => a - b }
      spans += Span(id, 0, id, kind, "op", t0, t1)
    }
    spark.sparkContext.setLocalProperty(ExecListener.OpKey, null)
    val good = res match {
      case Right(v) =>
        val g = try ok(v) catch { case NonFatal(_) => false }
        if (!g) errors += s"$kind#$id: wrong result: $v".take(300)
        g
      case Left(e) =>
        errors += s"$kind#$id: ${e.getClass.getSimpleName}: ${e.getMessage}".take(300)
        false
    }
    if (!good) failed += 1
    ops += OpRec(id, kind, t0, t1, tracing, good)
    res.toOption.filter(_ => good)
  }

  /** A call into one layer inside the current operation. */
  def span[A](name: String, layer: String)(body: => A): A =
    if (!tracing || stack.isEmpty) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.head
      stack = id :: stack
      val t0 = Clock.nowMs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, parent, curOp, name, layer, t0, Clock.nowMs)
      }
    }

  def note(id: Int, key: String, v: Double): Unit =
    if (tracing) notes += ((id, key, v))

  /** Id of the operation that ran last. */
  def lastOpId: Int = curOp

  /** Time one unit of the workload's closed loop. */
  def unit[A](body: => A): A = {
    val t0 = Clock.nowMs
    try body finally units += ((Clock.nowMs - t0, tracing))
  }

  /** Wait until the listener bus has delivered every event of the work so
    * far: a sentinel job and a sentinel query must come through. */
  def drainListeners(): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(ExecListener.OpKey, ExecListener.Sentinel)
    val df = spark.range(1)
    df.collect()
    sc.setLocalProperty(ExecListener.OpKey, null)
    val deadline = System.currentTimeMillis() + 30000
    while ((!exec.sentinelSeen || !plans.seen(df.queryExecution)) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
    if (!exec.sentinelSeen) errors += "listener bus did not drain"
  }
}

object ExecListener {
  val OpKey = "perfbench.op"
  val Sentinel = "sentinel"
}

/** Jobs, stages and tasks, with the operation id each job was started
  * under. Callbacks all arrive on the listener thread; the harness reads
  * the buffers only after [[Run.drainListeners]]. */
final class ExecListener extends SparkListener {
  final case class Job(id: Int, op: Int, startMs: Long, var endMs: Long,
                       stages: Seq[Int])
  final case class Task(stage: Int, runMs: Long, recordsRead: Long,
                        shuffleBytes: Long, spillBytes: Long)
  val jobs = ArrayBuffer.empty[Job]
  val tasks = ArrayBuffer.empty[Task]
  val completedStages = scala.collection.mutable.Set.empty[Int]
  private val byId = scala.collection.mutable.Map.empty[Int, Job]
  @volatile var sentinelSeen = false
  private var sentinelJob = -1

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(ExecListener.OpKey)))
    if (tag.contains(ExecListener.Sentinel)) sentinelJob = e.jobId
    else {
      val op = tag.flatMap(_.toIntOption).getOrElse(0)
      val j = Job(e.jobId, op, e.time, e.time, e.stageIds)
      jobs += j
      byId(e.jobId) = j
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    byId.get(e.jobId).foreach(_.endMs = e.time)
    if (e.jobId == sentinelJob) sentinelSeen = true
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    if (e.stageInfo.completionTime.isDefined) completedStages += e.stageInfo.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks += Task(e.stageId, m.executorRunTime, m.inputMetrics.recordsRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled)
  }
}

/** The analysis, optimisation and planning phases of every executed
  * query, from its `QueryPlanningTracker`, as intervals on the clock. */
final class PlanListener extends QueryExecutionListener {
  final case class Phase(name: String, startMs: Long, endMs: Long)
  val phases = ArrayBuffer.empty[Phase]
  private val done = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[QueryExecution, java.lang.Boolean])

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.map { case (n, p) => Phase(n, p.startTimeMs, p.endTimeMs) }
    synchronized(phases ++= ph)
    done.synchronized(done.add(qe))
  }
  def seen(qe: QueryExecution): Boolean = done.synchronized(done.contains(qe))
  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

/** Micro-batch phase durations of every batch that carried rows. */
final class StreamListener extends StreamingQueryListener {
  val batches = ArrayBuffer.empty[(Long, Map[String, Long])]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) synchronized {
      batches += ((p.numInputRows, p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }
}
