package graft.tools

/** Time a single SparkEntry query: `runMain graft.tools.TimeQ <name> <sfDir>
  * [passes]`. Same session config as Bench (local[SPARK_GRAFT_CPUS],
  * shuffle partitions = cores); prints per-pass seconds and the min —
  * the per-query view of Bench's min-of-2 protocol, for iterating on one
  * plan without paying for the other queries.
  *
  * The default action is `.count()` (like Bench): Catalyst may prune
  * columns and drop the final orderBy the Verify path pays for, so
  * treat those as RELATIVE numbers (same discount every pass/round).
  * Set SPARK_GRAFT_TIME_ACTION=write to time a noop-format write
  * instead — full result materialization, nothing pruned — when
  * absolute parity with the Verify path matters.
  */
object TimeQ {
  def main(args: Array[String]): Unit = {
    val name = graft.SparkEntry.resolve(args(0))
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 3
    val spark = graft.core.GraftSession.forMain("graft-timeq")
    val fn = graft.SparkEntry.queries(name)
    val noopWrite = sys.env.get("SPARK_GRAFT_TIME_ACTION").contains("write")
    // SPARK_GRAFT_TIME_SWEEP=1 clears all cached frames before each pass
    // after the first — reproducing Bench's COLD protocol (warm JVM,
    // swept cache) per query, so the bench's cold column can be
    // diagnosed without running the other 170+ queries
    val sweep = sys.env.get("SPARK_GRAFT_TIME_SWEEP").contains("1")
    val times = (1 to passes).map { i =>
      if (sweep && i > 1) { spark.catalog.clearCache(); System.gc() }
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      val n = if (noopWrite) {
        df.write.format("noop").mode("overwrite").save(); -1L
      } else df.count()
      val sec = (System.nanoTime() - t0) / 1e9
      val rows = if (n < 0) "noop write" else s"$n rows"
      println(f"[timeq] pass $i: $sec%.3f s ($rows)")
      sec
    }
    println(f"[timeq] $name min=${times.min}%.3f s over $passes passes")
    spark.stop()
  }
}
