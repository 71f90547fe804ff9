package graft.tools

import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, LogicalPlan, ResolvedHint}
import org.apache.spark.sql.graftbridge.Bridge

/** Diagnostic companion to BroadcastScaleAuditSpec: the audit surfaces
  * only FAILURES; this main prints the full growth table for every
  * explicit `broadcast()` hint across `SparkEntry.queries` — rows at
  * two corpus rungs, the 10×-step growth factor, and the growth⁴
  * projection to the harness target (100× bench = 10⁴× sf0.001) — so
  * near-misses are visible numbers, not just green checkmarks.
  *
  *   runMain graft.tools.BroadcastProbe [smallDir] [bigDir]
  *     defaults: /root/testdata/sf0.001 /root/testdata/sf0.01
  *
  * Output: one line per DISTINCT hinted subtree (canonicalized-plan
  * dedup, so helper-shared hints print once) sorted by projected rows
  * descending, `projected≈` marked `CAPPED` when the audit's 1M-row
  * criterion would flag it if growth also crossed 3×.
  */
object BroadcastProbe {
  def main(args: Array[String]): Unit = {
    val small = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val big = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = graft.core.GraftSession.forMain("graft-broadcast-probe")

    def hintsOf(plan: LogicalPlan): Seq[ResolvedHint] =
      plan.collect {
        case h: ResolvedHint if h.hints.strategy.contains(BROADCAST) => h
      }

    // Keyed on the canonicalized plan itself (structural equality), not
    // its hashCode — an Int collision between distinct subtrees would
    // return a wrong cached count / drop a distinct site from the table.
    val cache = collection.mutable.HashMap[(String, LogicalPlan), Long]()
    def rowsOf(dir: String, h: ResolvedHint): Long =
      cache.getOrElseUpdate((dir, h.child.canonicalized),
        Bridge.ofRows(spark, h.child).count())

    // distinct hinted subtree → (first query using it, rows small, rows big)
    val seen =
      collection.mutable.LinkedHashMap[LogicalPlan, (String, Long, Long)]()
    graft.SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val smallHs =
        try hintsOf(fn(spark, small).queryExecution.analyzed)
        catch { case e: Throwable =>
          System.err.println(s"[probe] $name failed to plan: ${e.getMessage}")
          Seq.empty
        }
      if (smallHs.nonEmpty) {
        val bigHs = hintsOf(fn(spark, big).queryExecution.analyzed)
        if (bigHs.length != smallHs.length)
          // zip would silently truncate a shape mismatch; the audit
          // spec FAILS on this — here it only costs table rows, but
          // say so rather than under-report
          System.err.println(s"[probe] $name: hint count differs across " +
            s"rungs (${smallHs.length} vs ${bigHs.length}); table shows " +
            "the matched prefix only")
        smallHs.zip(bigHs).foreach { case (sh, bh) =>
          val key = sh.child.canonicalized
          if (!seen.contains(key)) {
            val label = s"$name<${sh.child.schema.fieldNames.take(4).mkString(",")}>"
            seen(key) = (label, rowsOf(small, sh), rowsOf(big, bh))
          }
        }
      }
    }
    val rows = seen.values.toSeq.map { case (label, sn, bn) =>
      val g = bn.toDouble / math.max(sn, 1L)
      (label, sn, bn, g, sn * math.pow(g, 4))
    }.sortBy(-_._5)
    println(f"${"hint site (first user)"}%-60s ${"sf.001"}%8s ${"sf.01"}%8s ${"×10 g"}%7s ${"proj@target"}%12s")
    rows.foreach { case (label, sn, bn, g, proj) =>
      val mark = if (proj >= 1e6) " <-- near audit cap" else ""
      println(f"$label%-60s $sn%8d $bn%8d $g%7.2f ${proj / 1e6}%10.2fM$mark")
    }
    spark.stop()
  }
}
