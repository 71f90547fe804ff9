package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Bucketing = pre-shuffled storage: both join sides written bucketed on
  * the join key join WITHOUT any Exchange. This is the co-location
  * strategy for repeated fact-fact joins at scale — pay the shuffle once
  * at write time, never at read time.
  */
class BucketingSpec extends SparkTestBase {

  private def dropManaged(names: String*): Unit = names.foreach { t =>
    spark.sql(s"DROP TABLE IF EXISTS $t")
    val loc = java.nio.file.Paths.get("spark-warehouse", t)
    if (java.nio.file.Files.exists(loc)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(loc).iterator().asScala.toSeq.reverse
        .foreach(java.nio.file.Files.deleteIfExists(_))
    }
  }

  test("partitioned write + filtered read prunes partitions before IO") {
    val out = "target/part-events"
    Tables.writePartitioned(
      Tables.load(spark, sf, "events")
        .withColumn("event_date",
          org.apache.spark.sql.functions.to_date(col("ts"))),
      out, Seq("event_type"))
    // layout: one directory per event_type value
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(dirs.exists(_.startsWith("event_type=")), dirs.toString)

    val read = spark.read.parquet(out).filter(col("event_type") === "click")
    val formatted = read.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(formatted.contains("PartitionFilters: [isnotnull(event_type"),
      s"no partition pruning:\n$formatted")
    val expected = Tables.load(spark, sf, "events")
      .filter(col("event_type") === "click").count()
    assert(read.count() === expected)
  }

  test("bucketed equi-join plans with zero exchanges") {
    dropManaged("b_lineitem", "b_orders")
    Tables.writeBucketed(
      Tables.load(spark, sf, "lineitem")
        .select(col("l_orderkey"), col("l_quantity")),
      "b_lineitem", buckets = 4, keys = Seq("l_orderkey"))
    Tables.writeBucketed(
      Tables.load(spark, sf, "orders")
        .select(col("o_orderkey"), col("o_totalprice")),
      "b_orders", buckets = 4, keys = Seq("o_orderkey"))

    // disable auto-broadcast: at fixture scale the planner would rather
    // broadcast the small side than use the buckets — at fact-fact scale
    // (the case bucketing exists for) broadcast is not an option
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val joined = spark.table("b_lineitem")
        .join(spark.table("b_orders"),
          col("l_orderkey") === col("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"bucketed join still shuffles:\n$plan")

      // and it is still correct
      val expected = Tables.load(spark, sf, "lineitem")
        .join(Tables.load(spark, sf, "orders"),
          col("l_orderkey") === col("o_orderkey")).count()
      assert(joined.count() === expected)
    } finally spark.conf.set(key, prior)
  }

  test("q108 staged bucketed tables: SMJ with zero exchanges AND zero " +
    "sorts (one file per bucket, sorted buckets)") {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prior = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val li = graft.core.Staging.bucketed(spark, sf, "lineitem",
        Seq("l_orderkey", "l_extendedprice", "l_discount"),
        "l_orderkey", buckets = 8, tag = "q108li")
      val ord = graft.core.Staging.bucketed(spark, sf, "orders",
        Seq("o_orderkey", "o_orderpriority"),
        "o_orderkey", buckets = 8, tag = "q108ord")
      val joined = li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"), s"still shuffles:\n$plan")
      // one sorted file per bucket → the SMJ's sort requirement is
      // satisfied by the storage layout, no Sort operator at all
      assert(!plan.contains("+- Sort "), s"still sorts:\n$plan")
      assert(joined.count() ===
        Tables.load(spark, sf, "lineitem")
          .join(Tables.load(spark, sf, "orders"),
            col("l_orderkey") === col("o_orderkey")).count())
    } finally spark.conf.set(key, prior)
  }

  test("clustered write: one file per partition dir, rows sorted in-file") {
    val out = "target/clustered-events"
    Tables.writeClustered(
      Tables.load(spark, sf, "events")
        .select(col("event_type"), col("user_id"), col("event_id")),
      out, partitionCols = Seq("event_type"), clusterCols = Seq("user_id"))
    val dirs = new java.io.File(out).listFiles().filter(_.isDirectory)
    assert(dirs.nonEmpty)
    dirs.foreach { d =>
      val parts = d.listFiles().filter(_.getName.endsWith(".parquet"))
      assert(parts.length === 1,
        s"${d.getName}: expected 1 file, got ${parts.length} " +
          "(small-file explosion)")
      // in-file clustering: user_id must be non-decreasing in row order
      val vals = spark.read.parquet(parts.head.getPath)
        .select(col("user_id")).collect().map(_.getLong(0)).toSeq
      assert(vals === vals.sorted, s"${d.getName} not clustered")
    }
    // round-trip completeness
    assert(spark.read.parquet(out).count() ===
      Tables.load(spark, sf, "events").count())
  }

  test("zValue interleaves bits (hand-checked Morton codes)") {
    import spark.implicits._
    val got = Seq((0, 0), (1, 0), (0, 1), (1, 1), (3, 5))
      .toDF("x", "y")
      .select(Tables.zValue(col("x"), col("y")).as("z"))
      .as[Long].collect().toSeq
    // z(3,5) = x bits 11 at even positions, y bits 101 at odd:
    // y=101,x=011 → bits (y2 x2 y1 x1 y0 x0) = 1 0 0 1 1 1 = 39
    assert(got === Seq(0L, 1L, 2L, 3L, 39L))
  }

  test("z-order bounds BOTH dimensions per file; 1-D clustering only one") {
    import spark.implicits._
    val zOut = "target/z-grid"
    val cOut = "target/c-grid"
    // uniform 256×16 grid, pseudo-shuffled arrival order — both keys
    // have real range, so per-file bounding boxes are meaningful (the
    // sf0.001 star schema's suppkey has 10 values: every layout spans it)
    val grid = (0 until 4096).map { id =>
      (id.toLong, ((id * 37) % 256).toLong, ((id * 91) % 256).toLong)
    }.toDF("id", "x", "y")
    Tables.writeZOrdered(grid, zOut, "x", "y", numFiles = 8, bits = 8)
    grid.repartitionByRange(8, col("x")).sortWithinPartitions(col("x"))
      .write.mode("overwrite").parquet(cOut)

    def spreads(path: String, c: String): Seq[Long] =
      Tables.fileStats(spark, path, Seq(c)).collect()
        .map(r => r.getAs[Long](s"${c}_max") - r.getAs[Long](s"${c}_min"))
        .toSeq
    def avg(xs: Seq[Long]) = xs.sum.toDouble / xs.size
    // x-clustered files span ~the full y range; z-ordered files must
    // bound y to a fraction of it (8 files = 3 top z bits = quadrant
    // blocks: y spread ≤ 64, x spread ≤ 128 on a 256-grid)
    assert(avg(spreads(zOut, "y")) < avg(spreads(cOut, "y")) * 0.6,
      s"z y-spread ${avg(spreads(zOut, "y"))} vs 1-D ${avg(spreads(cOut, "y"))}")
    assert(avg(spreads(zOut, "x")) < 255 * 0.6,
      s"z x-spread ${avg(spreads(zOut, "x"))} not bounded")
    // layout changes placement, never content
    assert(spark.read.parquet(zOut).count() === 4096L)
  }

  test("compact rewrites a fragmented table into the target file count") {
    val frag = "target/frag-docs"
    val dest = "target/compact-docs"
    val docs = Tables.load(spark, sf, "documents")
    docs.repartition(16).write.mode("overwrite").parquet(frag)
    val (before, after) = Tables.compact(spark, frag, dest, targetFiles = 2)
    assert(before === 16L && after === 2L, s"($before, $after)")
    // identical content (sorted compare by id)
    val a = spark.read.parquet(dest).orderBy(col("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    val b = docs.orderBy(col("doc_id"))
      .select(col("doc_id")).collect().map(_.getLong(0)).toSeq
    assert(a === b)
  }
}
