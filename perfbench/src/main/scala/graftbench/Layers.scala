package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ml.Als
import graft.operators.Relational
import graft.schema.Schemas
import graft.sources.Tables

/** Per-layer numbers of one traced pass, from the span tree and the stage
  * totals of the pass's Spark jobs.
  */
object Layers {
  private val mb = 1024.0 * 1024.0

  def summarize(tracer: Tracer, stages: Seq[StageStats],
                shapes: Map[String, Plans.Shape], jobs: Seq[Job],
                pass: String, cores: Int): Map[String, Double] = {
    val prefix = s"$pass/"
    def inPass(tag: String) =
      tag.startsWith(prefix) && !tag.startsWith(s"${prefix}probe/")
    def tag(j: Job) = if (j.layerOnly) s"${prefix}probe/${j.name}" else s"$prefix${j.name}"
    val spans = tracer.all
    val passSpans = spans.filter(s => inPass(s.job))
    val self = tracer.selfSeconds
    def total(name: String) = passSpans.filter(_.name == name).map(_.seconds).sum
    def selfTotal(name: String) =
      passSpans.filter(_.name == name).map(s => self(s.id)).sum
    val st = stages.filter(s => inPass(s.job))
    val passShapes = shapes.filter(_._1.startsWith(prefix)).values
    val action = total("action")
    val taskS = st.map(_.taskMs).sum / 1e3

    def actionOf(tags: Set[String]) =
      spans.filter(s => s.name == "action" && tags(s.job)).map(_.seconds).sum
    val perModule = jobs.map(_.module).distinct.flatMap { m =>
      val tags = jobs.filter(_.module == m).map(tag).toSet
      Seq(s"$m.action_s" -> actionOf(tags),
        s"$m.task_cpu_s" -> stages.filter(s => tags(s.job)).map(_.cpuNs).sum / 1e9)
    }
    val perExpr = jobs.filter(_.module.startsWith("functions")).map { j =>
      val key = if (j.name.endsWith(".algebra"))
        j.name.stripSuffix(".algebra") + ".algebra_action_s"
      else j.name + ".action_s"
      key -> actionOf(Set(tag(j)))
    }

    Map(
      "entry.build_s" -> total("build"),
      "entry.build_self_s" -> selfTotal("build"),
      "planner.plan_s" -> total("plan"),
      "planner.plan_nodes" -> passShapes.map(_.nodes).sum.toDouble,
      "planner.exchanges" -> passShapes.map(_.exchanges).sum.toDouble,
      "planner.broadcasts" -> passShapes.map(_.broadcasts).sum.toDouble,
      "exec.action_s" -> action,
      "exec.action_self_s" -> selfTotal("action"),
      "exec.jobs" -> passSpans.count(_.name == "spark.job").toDouble,
      "exec.stages" -> st.size.toDouble,
      "exec.tasks" -> st.map(_.tasks).sum.toDouble,
      "exec.task_s" -> taskS,
      "exec.task_cpu_s" -> st.map(_.cpuNs).sum / 1e9,
      "exec.task_overhead_s" -> st.map(s => s.taskMs - s.runMs).sum / 1e3,
      "exec.idle_frac" ->
        (if (action > 0) 1.0 - taskS / (action * cores) else 0.0),
      "exec.serial_stage_s" -> st.filter(_.tasks == 1).map(_.wallNs).sum / 1e9,
      "shuffle.write_mb" -> st.map(_.shuffleWrite).sum / mb,
      "shuffle.read_mb" -> st.map(_.shuffleRead).sum / mb,
      "memory.spill_mb" -> st.map(_.spill).sum / mb,
      "memory.peak_exec_mb" ->
        (if (st.isEmpty) 0.0 else st.map(_.peakExec).max / mb),
      "scan.input_mb" -> st.map(_.inputBytes).sum / mb,
      "scan.input_rows" -> st.map(_.inputRows).sum.toDouble) ++
      perModule ++ perExpr
  }

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Calls into single layers, made after a traced pass and kept out of
    * its wall time: one scan per input table, and, where the recommender's
    * inputs exist, the calls its pipeline makes, each timed on its own.
    */
  def probes(c: Ctx, pass: Int,
             within: (String, String, () => Unit) => Unit)
  : Map[String, Double] = {
    def timed(name: String)(body: => Unit): Double = {
      val t0 = System.nanoTime()
      within("probe", s"p$pass/probe/$name", () => body)
      (System.nanoTime() - t0) / 1e9
    }
    val spark = c.spark
    val tables = Tables.starSchema.filter(t =>
      new java.io.File(s"${c.data}/$t.parquet").exists())
    val scans = Map("sources.scan_s" -> (tables.map(t =>
      timed(s"scan/$t")(noop(Tables.load(spark, c.data, t)))).sum +
      (if (new java.io.File(s"${c.work}/ratings_parts.parquet").exists())
        timed("scan/ratings_parts")(noop(Tables.load(spark, c.work, "ratings_parts")))
      else 0.0)))
    if (!new java.io.File(s"${c.data}/rating_complete.csv").exists()) scans
    else {
      def csv(f: String, header: Boolean = true) = Tables.csv(spark,
        s"${c.data}/$f", if (f == "anime.csv") Schemas.anime else Schemas.rating,
        header)
      val csvRead = Seq("anime.csv", "rating_complete.csv").map(f =>
        timed(s"csv/$f")(noop(csv(f)))).sum +
        timed("csv/valoraciones_EP.csv")(noop(csv("valoraciones_EP.csv", header = false)))
      val combined = graft.core.Caches.cached(Relational.unionDedup(Seq(
        csv("rating_complete.csv"), csv("valoraciones_EP.csv", header = false)),
        Seq("user_id", "anime_id")))
      val cfg = Als.Config(userCol = "user_id", itemCol = "anime_id")
      var model: org.apache.spark.ml.recommendation.ALSModel = null
      val fit = timed("ml/trainEval") { model = Als.trainEval(combined, cfg)._1 }
      val users = spark.range(1).select(lit(Workloads.TargetUser).as("user_id"))
      val rec = timed("ml/recommend")(noop(Als.recommend(model, users, 30, cfg)))
      combined.unpersist()
      scans ++ Map("sources.csv_read_s" -> csvRead, "ml.fit_s" -> fit,
        "ml.recommend_s" -> rec)
    }
  }

  /** Per-key median over the traced passes. */
  def median(passes: Seq[Map[String, Double]]): Map[String, Double] =
    passes.flatMap(_.keys).distinct.map { k =>
      val xs = passes.flatMap(_.get(k)).sorted
      k -> (if (xs.size % 2 == 1) xs(xs.size / 2)
        else (xs(xs.size / 2 - 1) + xs(xs.size / 2)) / 2)
    }.toMap
}
