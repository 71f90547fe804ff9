package graftbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.ext.{Dedup, Similarity, TextOps}
import graft.functions.{JaccardSim, LangId, MinHashSignature, ShingleHashes, SimHash64}
import graft.sources.Tables

/** How a job's output is judged in the check pass. */
sealed trait Check extends Product
/** Compared with DuckDB running `sql` on the generated corpus. */
final case class Oracle(sql: String) extends Check
/** No SQL oracle: non-empty, and the same rows on every execution. */
case object Stable extends Check
/** Must return exactly the rows job `other` returns. */
final case class SameAs(other: String) extends Check
/** Files the job writes are checked against the reference's golden shape. */
case object Golden extends Check

/** Where a job runs: the session, the generated inputs and a scratch dir. */
final case class Ctx(spark: SparkSession, data: String, work: String)

/** One unit of client work. `build` is the call into the engine; its frame
  * is executed into a `noop` sink, unless `sinks` is false, in which case
  * `build` performs its own writes and returns a frame over what it wrote,
  * and the check pass reads that frame from the last timed execution.
  * A `layerOnly` job runs only in traced runs, after each traced pass and
  * outside its wall time.
  */
final case class Job(name: String, module: String, check: Check,
                     build: Ctx => DataFrame, sinks: Boolean = true,
                     layerOnly: Boolean = false)

object Workloads {

  private def driverQuery(name: String, module: String): Job = {
    val fn = SparkEntry.queries.getOrElse(name,
      throw new IllegalArgumentException(s"no driver query $name"))
    val check = SparkEntry.oracleSql.get(name).map(Oracle(_)).getOrElse(Stable)
    Job(name, module, check, c => fn(c.spark, c.data))
  }

  /** Every fifteenth driver query, by number, of those under 0.5 s at the
    * short-mix scale on a 4-core host (`--workload survey`), staged-stream
    * queries left out.
    */
  val shortMixQueries: Seq[String] = Seq(
    "q01_top5_rated_parts", "q19_monthly_orders", "q41_topk_agg",
    "q68_weighted_mix", "q108_bucket_join", "q175_assortativity",
    "q222_srm_audit")

  /** The heaviest operator queries, tagged with the module whose operator
    * sets their time.
    */
  val heavyQueries: Seq[(String, String)] = Seq(
    "q87_equidepth_bins" -> "operators.Profile",
    "q121_shared_spans" -> "ext.Dedup")

  private def tbl(c: Ctx, name: String): DataFrame =
    Tables.load(c.spark, c.data, name)

  private def probe(expr: String, input: Ctx => DataFrame,
                    native: DataFrame => Column,
                    algebra: DataFrame => Column): Seq[Job] = {
    val n = s"functions.$expr"
    def job(name: String, module: String, check: Check, f: DataFrame => Column) =
      Job(name, module, check, c => {
        val d = input(c); d.select(d("id"), f(d).as("v"))
      }, layerOnly = true)
    Seq(job(n, "functions", Stable, native),
      job(s"$n.algebra", "functions.algebra", SameAs(n), algebra))
  }

  private def toks(d: DataFrame): Column = TextOps.tokens(d("text"))

  /** Each codegen expression against the column algebra its spec proves
    * bit-identical, over the generated probe documents and vectors. They
    * feed the per-layer `functions.*` numbers of traced runs.
    */
  val functionProbes: Seq[Job] = {
    val docs = (c: Ctx) => tbl(c, "probe_docs")
    val sets = (c: Ctx) => tbl(c, "probe_sets")
    val vecs = (c: Ctx) => tbl(c, "probe_vectors")
    probe("ShingleHashes", docs, d => ShingleHashes(d("text"), 3),
      d => transform(TextOps.shinglesFromTokens(toks(d), 3), s => xxhash64(s))) ++
    probe("SimHash64", docs, d => SimHash64(d("text")),
      d => Dedup.simhashFromHashes(transform(toks(d), t => xxhash64(t)))) ++
    Seq(
      Job("functions.MinHashSignature", "functions", Stable,
        c => tbl(c, "probe_docs")
          .select(col("id"), MinHashSignature(col("text"), 3, 16).as("v")),
        layerOnly = true),
      Job("functions.MinHashSignature.algebra", "functions.algebra",
        SameAs("functions.MinHashSignature"),
        c => Dedup.minhashSignatureFromHashes(tbl(c, "probe_docs")
          .select(col("id"), ShingleHashes(col("text"), 3).as("sh")), 16)
          .select(col("id"), col("sig").as("v")), layerOnly = true)) ++
    probe("JaccardSim", sets, d => JaccardSim(d("a"), d("b")),
      d => size(array_intersect(d("a"), d("b"))).cast("double") /
        size(array_union(d("a"), d("b"))).cast("double")) ++
    probe("LangId", docs, d => LangId(d("text")), d => TextOps.langId(d("text"))) ++
    probe("VectorDot", vecs, d => Similarity.dot(d("a"), d("b")),
      d => Similarity.dotAlgebra(d("a"), d("b")))
  }

  /** The reference pipeline end to end, then one partitioned parquet write
    * of the ratings through `Tables`.
    */
  def recsysJobs(layerOnly: Boolean): Seq[Job] = Seq(
    Job("pipeline.Recommender.runAndWrite", "pipeline", Golden, c => {
      val r = graft.pipeline.Recommender.runAndWrite(c.spark,
        s"${c.data}/anime.csv", s"${c.data}/rating_complete.csv",
        s"${c.data}/valoraciones_EP.csv",
        graft.pipeline.Recommender.Config(targetUser = TargetUser),
        s"${c.work}/recommendations_series.csv",
        s"${c.work}/recommendations_movies.csv")
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"${c.work}/rmse.txt"), r.rmse.toString)
      c.spark.createDataFrame(java.util.List.of(
        org.apache.spark.sql.Row(r.rmse)),
        org.apache.spark.sql.types.StructType.fromDDL("rmse DOUBLE"))
    }, sinks = false, layerOnly = layerOnly),
    Job("sources.Tables.writePartitioned", "sources", Stable, c => {
      val out = s"${c.work}/ratings_parts.parquet"
      Tables.writePartitioned(
        Tables.csv(c.spark, s"${c.data}/rating_complete.csv",
          graft.schema.Schemas.rating)
          .withColumn("rating_band", floor(col("rating")).cast("int")),
        out, Seq("rating_band"))
      c.spark.read.parquet(out).groupBy("rating_band")
        .agg(count(lit(1)).as("n"), sum("user_id").as("users"))
    }, sinks = false, layerOnly = layerOnly))

  /** The workload's jobs; layer-only jobs are kept for traced runs. */
  def apply(name: String, traced: Boolean): Seq[Job] = (name match {
    case "short-mix" => shortMixQueries.map(driverQuery(_, "entry"))
    case "operator-heavy" => heavyQueries.map { case (q, m) => driverQuery(q, m) } ++
      functionProbes ++ recsysJobs(layerOnly = true)
    case "recsys-etl" => recsysJobs(layerOnly = false)
    case "survey" => SparkEntry.queries.keys.toSeq.sorted
      .filterNot(StreamQueries.contains).map(driverQuery(_, "entry"))
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }).filter(j => traced || !j.layerOnly)

  /** Driver queries served from a materialized stream result. */
  val StreamQueries: Set[String] = Set("q64", "q178", "q200", "q221", "q248")
    .flatMap(p => SparkEntry.queries.keys.filter(_.startsWith(p + "_")))

  /** The personal file's user, as `gen.py` writes it. */
  val TargetUser = 666666
}
