package graft

/** Dumps the formatted physical plan of every declared query — the plan
  * audit loop: check PushedFilters reach the scans, ReadSchema is pruned,
  * small dims broadcast, WholeStageCodegen spans are wide, and no
  * accidental CartesianProduct appears. Usage:
  *   runMain graft.Explain <sfDir> [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.drop(1).toSet
    val spark = GraftSession.builder(GraftSession.cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.allDefs
      .filter(q => only.isEmpty || only.contains(q.name))
      .foreach { q =>
        println(s"\n========== ${q.name} ==========")
        try println(q.run(spark, sfDir).queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        catch { case e: Throwable => println(s"EXPLAIN FAILED: ${e.getMessage}") }
      }
    spark.stop()
  }
}
