package graft.tools

import graft.spark.Queries

/** Dumps `.explain("formatted")` for the named queries (or all) to
  * `<outDir>/<query>_<tag>.txt` — the optimization round's before/after
  * plan evidence (guide §1: capture the plan shape for every query you
  * touch). Usage:
  *   runMain graft.tools.PlanDump <sfDir> <outDir> <tag> [q1,q2,...]
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val outDir = args.lift(1).getOrElse("plans/r07")
    val tag = args.lift(2).getOrElse("before")
    val names = args.lift(3).map(_.split(",").toSeq)
      .getOrElse(Queries.queries.keys.toSeq.sorted)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = graft.Bench.buildSession(cpus)
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      spark.sparkContext.setJobDescription(s"plandump: $name")
      try {
        val df = Queries.queries(name)(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$outDir/${name}_$tag.txt"),
          plan.getBytes("UTF-8"))
        println(s"[plandump] $name -> $outDir/${name}_$tag.txt")
      } catch {
        case e: Throwable =>
          println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
