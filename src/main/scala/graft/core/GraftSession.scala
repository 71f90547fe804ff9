package graft.core

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Mirrors the reference's runtime configuration (reference
  * `model-als.py:181-190`: local[cores-1], 4g driver/executor, 2g off-heap)
  * but tuned for the harness: shuffle partitions sized to the local core
  * count instead of the default 200, AQE on for runtime re-planning (skew
  * joins, partition coalescing — the knobs that matter at 100 TB), UTC
  * session time zone for oracle parity.
  */
object GraftSession {

  /** Apply graft's standard tuning to any builder. Kept separate so
    * Verify/Bench (which own master/memory settings) share one config set.
    */
  def tuned(b: SparkSession.Builder, shufflePartitions: Int): SparkSession.Builder =
    b.withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // harness events.ts is parquet TIMESTAMP(NANOS): read as epoch-nanos
      // long, normalized in Tables.load
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // restore the sorted-bucket scan ordering (off by default since
      // 3.1): Spark still guards it with one-file-per-bucket, which
      // Staging.bucketed guarantees by pre-repartitioning on the bucket
      // hash — so a bucketed+sorted fact-fact join elides the SORT as
      // well as the exchange (BucketingSpec pins both)
      .config("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.ui.enabled", "false")

  /** Cores for a main's session: `SPARK_GRAFT_CPUS` when set (it must
    * be a positive integer), else every available processor.
    */
  lazy val mainCpus: Int = sys.env.get("SPARK_GRAFT_CPUS") match {
    case None => Runtime.getRuntime.availableProcessors()
    case Some(v) =>
      val n = v.trim.toIntOption.getOrElse(0)
      require(n > 0, s"SPARK_GRAFT_CPUS must be a positive integer, got '$v'")
      n
  }

  /** The session every main (Bench, Verify, the tools) runs on:
    * `local[mainCpus]` with shuffle partitions = cores.
    */
  def forMain(appName: String): SparkSession = {
    val spark = tuned(
      SparkSession.builder().master(s"local[$mainCpus]").appName(appName),
      shufflePartitions = mainCpus
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Local session for tests and ad-hoc runs. */
  def local(cores: Int = Runtime.getRuntime.availableProcessors() - 1,
            appName: String = "graft"): SparkSession = {
    val n = math.max(cores, 1)
    val spark = tuned(
      SparkSession.builder().master(s"local[$n]").appName(appName),
      shufflePartitions = n
    ).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
