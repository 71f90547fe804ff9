package graft

import org.apache.spark.sql.functions._
import graft.ext.Similarity

/** Bench-scale recall for the PQ/IVF-PQ family (q85/q95) — the same
  * promotion the LSH family got in LshRecallSpec: the fixture-scale
  * SimilaritySpec pins recall on sf0.001; this spec measures the
  * SHIPPED staged codebook (Staging.pqCodebook, the exact model
  * q85/q95 serve) against exact brute force at sf0.1, over a 50-query
  * sample rather than q85's 5 declared queries, so codebook quality is
  * evidenced at the scale the bench runs at. Gated on the bench corpus
  * existing so the suite stays runnable anywhere.
  */
class PqRecallAtScaleSpec extends SparkTestBase {

  private val sfBench = "/root/testdata/sf0.1"

  private def benchAvailable: Boolean =
    new java.io.File(s"$sfBench/embeddings.parquet").exists()

  test("q85 path: staged-codebook PQ recall@10 vs brute force at sf0.1") {
    assume(benchAvailable, s"$sfBench not present")
    import spark.implicits._
    val emb = graft.sources.Tables.load(spark, sfBench, "embeddings")
    // 50 queries spread across the id space — a measurement, not a probe
    val queries = emb.filter($"vec_id" % 40 === 0)
    val model = graft.core.Staging.pqCodebook(spark, sfBench,
      m = 8, k = 16, maxIter = 5)
    val pq = Similarity.pqSearch(emb, model, queries, k = 10, rerank = 200)
    val exact = Similarity.bruteForceKnn(emb, queries, 10)
    def topSet(df: org.apache.spark.sql.DataFrame) = df
      .select($"query_id".cast("long"), $"neighbor_id".cast("long"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val pqTop = topSet(pq)
    val exTop = topSet(exact)
    assert(exTop.size >= 40, s"vacuous query sample (${exTop.size})")
    val recalls = exTop.map { case (q, s) =>
      pqTop.getOrElse(q, Set.empty).intersect(s).size.toDouble / s.size }
    val mean = recalls.sum / recalls.size
    info(f"sf0.1 staged-codebook PQ recall@10 over ${recalls.size} " +
      f"queries: $mean%.3f")
    assert(mean >= 0.6, f"PQ recall@10 $mean%.3f below 0.6 at bench " +
      "scale with the shipped q85 parameters (m=8, k=16, rerank=200)")
  }

  test("q95 path: staged-codebook IVF-PQ recall@10 vs IVF-exact at sf0.1") {
    assume(benchAvailable, s"$sfBench not present")
    import spark.implicits._
    val emb = graft.sources.Tables.load(spark, sfBench, "embeddings")
    val queries = emb.filter($"vec_id" % 40 === 0)
    // the shipped q95 cell geometry: 8 centroids, nprobe 3
    val centroids = emb.filter($"vec_id" < 8)
      .select($"vec_id".as("centroid_id"), $"embedding".as("centroid"))
    val model = graft.core.Staging.pqCodebook(spark, sfBench,
      m = 8, k = 16, maxIter = 5)
    val part = Similarity.ivfPqSearch(emb, centroids, model, queries,
      nprobe = 3, k = 10, rerank = 200)
    val ivfExact = Similarity.ivfSearch(emb, centroids, queries,
      nprobe = 3, k = 10)
    def tops(df: org.apache.spark.sql.DataFrame) = df
      .select($"query_id".cast("long"), $"neighbor_id".cast("long"))
      .as[(Long, Long)].collect().groupBy(_._1).view
      .mapValues(_.map(_._2).toSet).toMap
    val a = tops(part)
    val b = tops(ivfExact)
    assert(b.size >= 40, s"vacuous query sample (${b.size})")
    val recalls = b.map { case (q, s) =>
      a.getOrElse(q, Set.empty).intersect(s).size.toDouble / s.size }
    val mean = recalls.sum / recalls.size
    info(f"sf0.1 staged-codebook IVF-PQ recall@10 vs IVF-exact at " +
      f"nprobe=3 over ${recalls.size} queries: $mean%.3f")
    assert(mean >= 0.8, f"IVF-PQ recall $mean%.3f below 0.8 at bench scale")
  }
}
