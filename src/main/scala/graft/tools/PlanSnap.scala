package graft.tools

/** Dump `explain("formatted")` for a list of SparkEntry queries to
  * files — the before/after plan evidence for optimization rounds.
  *
  * Usage: runMain graft.tools.PlanSnap <outDir> <suffix> <q1,q2,...> [sfDir]
  * Writes <outDir>/<query>_<suffix>.txt per query. The session is the
  * Bench one at local[32], so plan shapes match what the bench actually
  * runs — EXCEPT plans are pre-execution (AQE initial plans).
  */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val outDir = new java.io.File(args(0))
    outDir.mkdirs()
    val suffix = args(1)
    val names = args(2).split(",").toSeq
    val sfDir = if (args.length > 3) args(3) else "/root/testdata/sf0.1"
    val spark = Session.local(32)
    for (n <- names) {
      val df = graft.SparkEntry.queries(n)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val f = new java.io.File(outDir, s"${n}_$suffix.txt")
      val w = new java.io.PrintWriter(f)
      try w.print(plan) finally w.close()
      println(s"wrote $f (${plan.length} chars)")
    }
    spark.stop()
  }
}
