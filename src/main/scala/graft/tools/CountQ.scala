package graft.tools

/** Dev tool: print the row count of named SparkEntry queries at a
  * given SF — the cheapest way to see whether a candidate-generation
  * stage is output-bound (pairs ≈ results) or junk-bound (pairs ≫
  * results) when adjudicating a scale-audit flag.
  * Usage: runMain graft.tools.CountQ <sf_dir> <q1,q2,...>
  */
object CountQ {
  def main(args: Array[String]): Unit = {
    val spark = graft.core.GraftSession.forMain("countq")
    args(1).split(',').foreach { name =>
      val full = graft.SparkEntry.resolve(name)
      val n = graft.SparkEntry.queries(full)(spark, args(0)).count()
      println(s"COUNT $full = $n")
    }
    spark.stop()
  }
}
