package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one local JVM-wide SparkSession,
  * UTC, small shuffle fan-out (local mode). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

object SparkSpec {
  @volatile private var current: SparkSession = _

  /** The shared session — rebuilt if a suite that owns context-level
    * settings (TaskRetrySpec needs task.maxFailures>=2, a master-string
    * property) stopped the previous one. Suites run sequentially in the
    * forked test JVM, so the handover is race-free. */
  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped)
      current = build("local[4]")
    current
  }

  /** Stop whatever session is live so a suite can create one with
    * different SparkContext-level settings; the next `session` access
    * rebuilds the shared default. */
  def releaseSession(): Unit = synchronized {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(s =>
      if (!s.sparkContext.isStopped) s.stop())
    if (current != null && !current.sparkContext.isStopped) current.stop()
    current = null
  }

  /** `extensions = false` builds the same session without
    * `GraftExtensions`, the reference a suite compares the extension's
    * rules against. */
  private[graft] def build(master: String, extensions: Boolean = true): SparkSession = {
    val b = SparkSession.builder()
      .master(master)
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.catalog.graft_ts", "graft.sources.GraftTsCatalog")
      .config("spark.ui.enabled", "false")
    (if (extensions) b.config("spark.sql.extensions", "graft.plans.GraftExtensions") else b)
      .getOrCreate()
  }
}
