package graft.tools

/** Dev tool: dump `.explain("formatted")` for a LIST of SparkEntry
  * queries into one file each — the batch ExplainQ (one JVM/session
  * amortized over the list, same session config as Bench).
  * Usage: runMain graft.tools.ExplainMany <q1,q2,...> <sf_dir> <out_dir>
  */
object ExplainMany {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 2) args(2) else "plans/r17"
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXPLAIN_SUFFIX", "after")
    val spark = graft.core.GraftSession.forMain("graft-explain")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val full = graft.SparkEntry.resolve(name)
      val txt = graft.SparkEntry.queries(full)(spark, sfDir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      val short = full.takeWhile(_ != '_')
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${short}_$suffix.txt"), txt)
      println(s"[explainmany] wrote $outDir/${short}_$suffix.txt")
    }
    spark.stop()
  }
}
