package graft

/** Dump `.explain("formatted")` for declared queries to files — the
  * optimization-round evidence trail (`plans/rNN/<query>_{before,after}.txt`).
  * Usage: runMain graft.Explain <outDir> <suffix> <query...>
  * Same session shape as [[Bench]] (env `SPARK_GRAFT_SF_DIR` /
  * `SPARK_GRAFT_CPUS`), so the captured plan is the one the bench runs.
  * Constructing a lifecycle query's frame executes its store-building
  * verbs (they are eager) — scratch stores make that safe to repeat. */
object Explain {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Explain <outDir> <suffix> <query...>")
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val unknown = names.filterNot(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = Sessions.local(cpus)
    names.foreach { n =>
      val df = SparkEntry.queries(n)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val f = new java.io.File(outDir, s"${n}_$suffix.txt")
      val w = new java.io.PrintWriter(f, "UTF-8")
      try w.write(txt) finally w.close()
      println(s"[explain] wrote ${f.getPath} (${txt.length} chars)")
    }
    spark.stop()
  }
}
