package graft.tools

/** Dev tool: print the executed plan of one SparkEntry query.
  * Usage: runMain graft.tools.ExplainQ <query_name> <sf_dir>
  */
object ExplainQ {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.forMain("explain")
    val q = graft.SparkEntry.queries(graft.SparkEntry.resolve(args(0)))(
      spark, args(1))
    println(q.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    spark.stop()
  }
}
