package graft
// Measurement scaffold (guide §1): per-query JOB attribution — which code
// line launched each Spark job, how many jobs per call site. The lifecycle
// capstones are job-count bound (q_ts_rollup_dml: 65 jobs, 1.9 s summed task
// time vs 6.2 s wall in r21's Prof), so the optimization target is WHICH
// driver-side actions run, not stage shape. Test-scoped, never shipped:
//   sbt "Test/runMain graft.JobTrace <keys>"
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

object JobTrace {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: JobTrace <query...>")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val warmDir = sys.env.getOrElse("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.local(cpus)
    val sites = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val execs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val stageTasks = new java.util.concurrent.ConcurrentHashMap[
      Int, java.util.concurrent.ConcurrentLinkedQueue[Long]]()
    val stageNames = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        // SQL actions run their jobs inside the execution thread pool, so
        // the stage callsite is the pool wrapper; non-SQL (RDD) actions
        // keep a graft.* frame in the stage's creation-site details.
        val det = j.stageInfos.sortBy(_.stageId).lastOption
          .map(_.details).getOrElse("")
        val frame = det.linesIterator
          .find(l => l.contains("graft.") && !l.contains("JobTrace"))
          .map(_.trim).getOrElse("<sql-exec pool>")
        sites.add(frame)
      }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
        if (t.taskMetrics != null) {
          val q = stageTasks.computeIfAbsent(t.stageId,
            _ => new java.util.concurrent.ConcurrentLinkedQueue[Long]())
          q.add(t.taskMetrics.executorRunTime)
        }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stageNames.put(s.stageInfo.stageId,
          s.stageInfo.name.take(40) + " | " +
            s.stageInfo.details.linesIterator
              .find(l => l.contains("graft.") && !l.contains("JobTrace"))
              .map(_.trim.take(80)).getOrElse(""))
      override def onOtherEvent(
          e: org.apache.spark.scheduler.SparkListenerEvent): Unit = e match {
        // one per Dataset action / command — `description` is the action's
        // callsite short form ("count at TsTable.scala:NNN")
        case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
          execs.add(s.description)
        case _ => ()
      }
    })
    args.foreach { n =>
      val fn = SparkEntry.queries(n)
      try fn(spark, warmDir).count() catch { case _: Throwable => () }
      Thread.sleep(400)
      sites.clear(); execs.clear(); stageTasks.clear(); stageNames.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400)
      import scala.jdk.CollectionConverters._
      def histo(q: java.util.concurrent.ConcurrentLinkedQueue[String]) =
        q.asScala.toSeq.groupBy(identity).toSeq
          .map { case (k, v) => (v.size, k) }.sortBy(t => (-t._1, t._2))
      println(f"[jobtrace] $n: ${sites.size} jobs, ${execs.size} sql " +
        f"executions, wall=$wall%.2fs")
      histo(execs).foreach { case (c, s) => println(f"[jobtrace]   exec $c%4d  $s") }
      histo(sites).filterNot(_._2 == "<sql-exec pool>")
        .foreach { case (c, s) => println(f"[jobtrace]   rdd  $c%4d  $s") }
      // top stages by summed task time, with max-vs-median task skew
      // (guide §2.5: max/median > 5-10x on a stage is worth fixing)
      stageTasks.asScala.toSeq
        .map { case (id, q) =>
          val d = q.asScala.toSeq.sorted
          (id, d.sum, d.size, d.lastOption.getOrElse(0L),
            if (d.isEmpty) 0L else d(d.size / 2))
        }
        .sortBy(-_._2).take(6)
        .foreach { case (id, sum, n, mx, med) =>
          println(f"[jobtrace]   stage $id%4d sum=${sum / 1000.0}%7.2fs " +
            f"tasks=$n%4d max=${mx}ms med=${med}ms skew=${
              if (med > 0) f"${mx.toDouble / med}%.1f" else "inf"}x " +
            stageNames.getOrDefault(id, ""))
        }
    }
    spark.stop()
  }
}
