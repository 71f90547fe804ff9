package graft.tools

/** Time a LIST of SparkEntry queries in one JVM:
  * `runMain graft.tools.TimeMany <q1,q2,...> <sfDir> [passes]`.
  * One line per query: `[timemany] <name> min=<s> rows=<n>` — the
  * batch version of TimeQ for PLANS.md growth tables (one Spark
  * session amortizes JVM+session startup over the whole list; same
  * `.count()` action and min-of-N protocol as TimeQ/Bench, so numbers
  * are comparable). Session caches persist across queries in the list
  * exactly as in Bench's intra-pass memo behavior.
  *
  * r18 (VERDICT r17 #9): one UNTIMED warm-up evaluation of the first
  * query runs before any timing — first-in-list numbers used to carry
  * the whole session's JIT/codegen warm-up (q277 read 9.4 s
  * first-in-list vs 1.35 s isolated) and polluted before/after tables.
  * `SPARK_GRAFT_TIMEMANY_ACTION=noop` switches the timed action to the
  * noop sink (guide §1.4: count() lets Catalyst prune aggregates —
  * a probe series died measuring empty pipelines); default stays
  * `count` for comparability with Bench.
  */
object TimeMany {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
      .map(graft.SparkEntry.resolve)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 2
    val useNoop = sys.env.get("SPARK_GRAFT_TIMEMANY_ACTION").contains("noop")
    val spark = graft.core.GraftSession.forMain("graft-timemany")
    def q(name: String) = graft.SparkEntry.queries(name)
    names.headOption.foreach { n =>
      q(n)(spark, sfDir).count() // untimed session warm-up (JIT, codegen)
      println(s"[timemany] warmup $n done")
    }
    names.foreach { name =>
      val fn = q(name)
      var best = Double.MaxValue
      var rows = -1L
      (1 to passes).foreach { _ =>
        val t0 = System.nanoTime()
        if (useNoop) {
          val df = fn(spark, sfDir)
          df.write.format("noop").mode("overwrite").save()
          rows = -2L // noop sink computes every row but returns no count
        } else rows = fn(spark, sfDir).count()
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      println(f"[timemany] $name min=$best%.3f rows=$rows")
    }
    spark.stop()
  }
}
