package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** One benchmark run in one JVM: set up a session on `local[cores]`, run
  * two untimed warm-up passes, then timed passes of the workload's jobs by
  * one closed-loop client for `--seconds`, then an untimed check pass.
  * Writes `result.json` (and `spans.json` when traced) into `--work`.
  *
  * Usage: graftbench.Main --workload W --data DIR --work DIR --seconds S
  *        --trace 0|1 --cores N
  */
object Main {
  private val mb = 1024.0 * 1024.0

  final case class Timing(job: String, wall: Double, error: Option[String]) {
    def json: Map[String, Any] =
      Map("name" -> job, "wall_s" -> wall, "error" -> error.orNull)
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val data = a("data")
    val work = a("work")
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val runtime = ManagementFactory.getRuntimeMXBean
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val memory = ManagementFactory.getMemoryMXBean
    val threads = ManagementFactory.getThreadMXBean
    // CPU of the JVM's Java threads (driver, task and Spark service
    // threads); JIT compiler and GC threads are not among them
    def threadCpu(): Long =
      threads.getAllThreadIds.map(threads.getThreadCpuTime).filter(_ > 0).sum

    val tracer = new Tracer
    val listener = new StageListener(tracer)
    val sessionStart = System.nanoTime()
    val spark = graft.core.GraftSession.tuned(
      SparkSession.builder().master(s"local[$cores]").appName("graftbench")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .config("spark.local.dir", s"$work/spark-local"),
      shufflePartitions = cores).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (traced) spark.sparkContext.addSparkListener(listener)
    val sessionS = (System.nanoTime() - sessionStart) / 1e9
    val sc = spark.sparkContext
    val ctx = Ctx(spark, data, work)
    val jobs = Workloads(workload, traced)
    val (layerJobs, passJobs) = jobs.partition(_.layerOnly)

    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    /** Opens a span and points Spark jobs started inside it at the span. */
    def within[T](name: String, tag: String)(body: => T): T =
      tracer.span(name, tag) {
        sc.setLocalProperty("graftbench.job", tag)
        sc.setLocalProperty("graftbench.span", tracer.current.toString)
        body
      }

    val shapes = mutable.Map.empty[String, Plans.Shape]
    // what the last execution of each self-writing job wrote
    val written = mutable.Map.empty[String, DataFrame]

    def runJob(j: Job, tag: String, traced: Boolean): Timing = {
      val t0 = System.nanoTime()
      val err = try {
        if (traced) within("job", tag) {
          if (!j.sinks) written(j.name) = within("action", tag)(j.build(ctx))
          else {
            val df = within("build", tag)(j.build(ctx))
            shapes(tag) = within("plan", tag)(
              Plans.shape(df.queryExecution.executedPlan))
            within("action", tag)(noop(df))
          }
        } else {
          val df = j.build(ctx)
          if (j.sinks) noop(df) else written(j.name) = df
        }
        None
      } catch {
        case e: Throwable => Some(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      val wall = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[graftbench] $tag $wall%.4f s${err.fold("")(" " + _)}")
      Timing(j.name, wall, err)
    }

    /** Rows in a canonical order, hashed. */
    def digest(rows: Array[Row]): (Long, String) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map(_.toString).sorted.foreach(r => md.update(r.getBytes("UTF-8")))
      (rows.length.toLong, md.digest().map(b => f"${b & 0xff}%02x").mkString)
    }

    /** Executes a job for checking: oracle jobs write parquet as
      * graft.Verify does; every job's rows are counted and hashed.
      */
    def checkRun(j: Job): Either[String, (Long, String)] =
      try {
        val df = if (j.sinks) j.build(ctx) else written.getOrElseUpdate(j.name, j.build(ctx))
        val rows = j.check match {
          case Oracle(_) if j.sinks =>
            val out = s"$work/out/${j.name}"
            df.coalesce(1).write.mode("overwrite").parquet(out)
            spark.read.parquet(out).collect()
          case _ => df.collect()
        }
        Right(digest(rows))
      } catch {
        case e: Throwable => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }

    val runSpan = tracer.reserve()
    val runStart = System.nanoTime()
    tracer.enter(runSpan)

    // set-up: staged artifacts are built by the first call of each job;
    // a second untimed pass lets the JIT settle before timing starts
    val warm = tracer.span("setup", "setup") {
      val first = jobs.map { j =>
        j.name -> (j.check match {
          case Stable | SameAs(_) =>
            val r = checkRun(j)
            written.remove(j.name)
            r
          case _ => runJob(j, s"warmup/${j.name}", traced = false).error
            .map(Left(_)).getOrElse(Right((-1L, "")))
        })
      }.toMap
      passJobs.foreach(j => runJob(j, s"warmup2/${j.name}", traced = false))
      first
    }
    val setupS = (System.currentTimeMillis() - runtime.getStartTime) / 1e3

    // timed passes; a traced run alternates untraced and traced passes so
    // the difference between them is the tracing overhead
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val layerPasses = mutable.ArrayBuffer.empty[Map[String, Double]]
    val t0 = System.nanoTime()
    var i = 0
    val minPasses = if (workload == "survey") 1 else 2
    while ((System.nanoTime() - t0) / 1e9 < seconds || i < minPasses) {
      val tracedPass = traced && i % 2 == 1
      spark.catalog.clearCache()
      listener.enabled = tracedPass
      val c0 = os.getProcessCpuTime
      val tc0 = threadCpu()
      val w0 = System.nanoTime()
      val ts = if (tracedPass) tracer.span("pass", s"p$i") {
        passJobs.map(j => runJob(j, s"p$i/${j.name}", traced = true))
      } else passJobs.map(j => runJob(j, s"p$i/${j.name}", traced = false))
      val wall = (System.nanoTime() - w0) / 1e9
      val cpu = (os.getProcessCpuTime - c0) / 1e9
      val taskCpu = (threadCpu() - tc0) / 1e9
      val layerTs = if (tracedPass)
        layerJobs.map(j => runJob(j, s"p$i/probe/${j.name}", traced = true))
      else Nil
      val probes = if (tracedPass) Layers.probes(ctx, i,
        (n, t, f) => within(n, t)(f())) else Map.empty[String, Double]
      val persisted = sc.getPersistentRDDs.size
      val storage = sc.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / mb
      System.gc()
      val heap = memory.getHeapMemoryUsage.getUsed / mb
      if (tracedPass) {
        org.apache.spark.graftbench.Bus.drain(sc)
        listener.enabled = false
        layerPasses += Layers.summarize(tracer, listener.drain(), shapes.toMap,
          jobs, s"p$i", cores) ++ probes ++
          Map("core.persisted_rdds" -> persisted.toDouble,
            "core.storage_mb" -> storage)
      }
      passes += Map("pass" -> i, "traced" -> tracedPass, "wall_s" -> wall,
        "process_cpu_s" -> cpu, "cpu_s" -> taskCpu, "retained_heap_mb" -> heap,
        "persisted_rdds" -> persisted, "storage_mb" -> storage,
        "jobs" -> ts.map(_.json), "layer_jobs" -> layerTs.map(_.json))
      i += 1
    }

    // untimed check pass
    val checkStart = System.nanoTime()
    spark.catalog.clearCache()
    val checks = jobs.map(j => j.name -> checkRun(j)).toMap
    val checked = jobs.map { j =>
      val got = checks(j.name)
      val problem: Option[String] = got match {
        case Left(e) => Some(e)
        case Right((0L, _)) => Some("empty result")
        case Right((_, h)) => j.check match {
          case Stable => warm(j.name) match {
            case Right((_, w)) if w == h => None
            case Right(_) => Some("rows differ between passes")
            case Left(e) => Some(s"warm-up: $e")
          }
          case SameAs(o) => checks(o) match {
            case Right((_, oh)) if oh == h => None
            case _ => Some(s"rows differ from $o")
          }
          case _ => None
        }
      }
      Map("name" -> j.name, "module" -> j.module,
        "kind" -> j.check.productPrefix,
        "sql" -> (j.check match { case Oracle(s) => s; case _ => null }),
        "rows" -> got.map(_._1).getOrElse(-1L),
        "hash" -> got.map(_._2).getOrElse(null),
        "problem" -> problem.orNull)
    }
    tracer.add(runSpan, "run", "run", 0L, runStart, System.nanoTime())

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "cores" -> cores,
      "setup_s" -> setupS, "session_s" -> sessionS,
      "check_s" -> (System.nanoTime() - checkStart) / 1e9,
      "passes" -> passes.toSeq, "checks" -> checked,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory() / mb))
    if (traced) {
      val spans = tracer.all
      out("layers") = Layers.median(layerPasses.toSeq) ++ Map(
        "core.session_s" -> sessionS, "trace.spans" -> spans.size.toDouble)
      Files.writeString(Paths.get(s"$work/spans.json"), Json(spans.sortBy(_.id)
        .map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "job" -> s.job, "start_ns" -> (s.startNs - runStart),
          "end_ns" -> (s.endNs - runStart)))))
    }
    Files.writeString(Paths.get(s"$work/result.json"), Json(out.toMap))
    spark.stop()
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and null. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double if d.isNaN || d.isInfinite => "null"
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
