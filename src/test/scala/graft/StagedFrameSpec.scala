package graft

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._

import graft.core.Staging
import graft.sources.Tables

/** Pins the publish protocol of the staging layer ([[Staging]]) for
  * every artifact kind it stages:
  *
  *  - a committed artifact (`_SUCCESS` present) is served without
  *    re-running its build (the amortized-setup contract);
  *  - a torn artifact (directory present, no `_SUCCESS` — a crash of a
  *    writer that did not publish by rename) is rebuilt, never read;
  *  - two writers racing on one key both serve the one committed
  *    artifact, and neither leaves its private sibling behind.
  *
  * Every kind stages under a spec-only tag, so no production staging is
  * touched.
  */
class StagedFrameSpec extends SparkTestBase {

  private val tmp = new File(System.getProperty("java.io.tmpdir"))

  /** One artifact kind: `stage` builds or serves it and returns a row
    * count read from it; `prefix` starts its staged directory's name.
    */
  private case class Kind(name: String, prefix: String, stage: () => Long)

  private def region = Tables.load(spark, sf, "region")

  private val kinds = Seq(
    Kind("frame", "graft_spec_frame_", () =>
      Staging.frame(spark, sf, "region", "spec_frame")(
        region.select(col("r_regionkey"))).count()),
    Kind("bucketed table", "graft_spec_bucket_", () =>
      Staging.bucketed(spark, sf, "region", Seq("r_regionkey", "r_name"),
        "r_regionkey", buckets = 2, tag = "spec_bucket").count()),
    Kind("stream source", "graft_spec_stream_src_", () => {
      val src = Staging.streamSource(sf, "region", "spec_stream_src")(
        region.repartition(2), region.limit(1))
      spark.read.parquet(src.getAbsolutePath).count()
    }),
    Kind("z-ordered table", "graft_spec_zorder_", () =>
      Staging.frame(spark, sf, "nation", "spec_zorder")(
        Tables.zOrdered(Tables.load(spark, sf, "nation"), "n_nationkey",
          "n_regionkey", numFiles = 4)).count()),
    Kind("PQ codebook", "graft_pqcodebook_4_4_1_", () =>
      Staging.pqCodebook(spark, sf, m = 4, k = 4, maxIter = 1)
        .codebook.map(_.size).sum.toLong)
  )

  private def destOf(k: Kind): File =
    tmp.listFiles().filter(f => f.isDirectory &&
      f.getName.startsWith(k.prefix) && !f.getName.contains(".tmp."))
      .maxBy(_.lastModified())

  test("committed staged artifact is served without re-running the build") {
    kinds.foreach { k =>
      withClue(s"${k.name}: ") {
        assert(k.stage() > 0)
        val dest = destOf(k)
        assert(Staging.committed(dest))
        // a rebuild replaces the directory, so a probe file survives
        // only if the committed artifact was served as it is
        val probe = new File(dest, "_probe")
        probe.createNewFile()
        assert(k.stage() > 0)
        assert(probe.exists(), "committed artifact was rebuilt")
        probe.delete()
      }
    }
    // the stream source's mtimes, stamped before the rename, survive it
    // in ingestion order: the range files, then the appended batch
    val src = destOf(kinds.find(_.name == "stream source").get)
    val parts = src.listFiles().filter(_.getName.startsWith("part-"))
    assert(parts.length >= 2)
    assert(parts.map(_.lastModified()).distinct.length == parts.length,
      "stream source part files share an mtime")
  }

  test("torn staged artifact (no _SUCCESS) is rebuilt, never read") {
    kinds.foreach { k =>
      withClue(s"${k.name}: ") {
        k.stage()
        val dest = destOf(k)
        // the crash-mid-write state: contents present with the commit
        // marker missing, plus garbage a reader would choke on
        new File(dest, "_SUCCESS").delete()
        val garbage = new File(dest, "part-garbage.parquet")
        java.nio.file.Files.writeString(garbage.toPath, "not parquet")
        assert(k.stage() > 0)
        assert(Staging.committed(dest),
          "rebuild did not republish a committed artifact")
        assert(!garbage.exists(),
          "garbage from the torn artifact survived the rebuild")
      }
    }
  }

  test("two concurrent publishes of one key serve one committed artifact " +
    "and leave no sibling behind") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    // a fresh key, so both writers really build
    val tag = s"spec_race_${System.nanoTime()}"
    val dest = Staging.path(sf, "region", tag)
    val bothBuilding = new java.util.concurrent.CyclicBarrier(2)
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    def stage(): Set[String] =
      Staging.frame(spark, sf, "region", tag) {
        builds.incrementAndGet()
        bothBuilding.await(120, java.util.concurrent.TimeUnit.SECONDS)
        region.select(col("r_regionkey"))
      }.inputFiles.toSet
    try {
      val served = Await.result(
        Future.sequence(Seq(Future(stage()), Future(stage()))), 5.minutes)
      assert(builds.get == 2, "the writers did not race")
      assert(served.distinct.size == 1, s"writers served different files")
      assert(served.head.nonEmpty && served.head.forall(_.contains(dest.getName)))
      assert(Staging.committed(dest))
      val siblings = tmp.list().filter(_.startsWith(dest.getName + ".tmp."))
      assert(siblings.isEmpty, s"siblings left behind: ${siblings.toSeq}")
    } finally FileUtils.deleteQuietly(dest)
  }

  test("stagedStreamResult registers its dir for Bench's setup map and " +
    "GCs superseded-fingerprint stagings") {
    // a dir for the same stream tag under a different (stale) code
    // fingerprint can never be served by this binary again, so running
    // the stream query must delete it
    val stale = new File(tmp,
      "graft_q248_result_v1_cdeadbeef_0123456789abcdef")
    stale.mkdirs()
    java.nio.file.Files.writeString(
      stale.toPath.resolve("_SETUP_SECONDS"), "9.999\n")
    // aged past the 6 h liveness cutoff: a young superseded dir may
    // belong to a concurrently running JVM built from different code
    // and must survive — only old orphans go
    stale.setLastModified(System.currentTimeMillis() - 7L * 3600 * 1000)
    val live = new File(tmp,
      "graft_q248_result_v1_clivebeef_0123456789abcdef")
    live.mkdirs()
    SparkEntry.queries("q248_stream_static_enrich")(spark, sf).count()
    assert(!stale.exists(),
      "superseded-fingerprint staging dir survived a stream run")
    assert(live.exists(),
      "young superseded dir was collected — a concurrent JVM's live " +
        "staging would be deleted mid-read")
    FileUtils.deleteQuietly(live)
    import scala.jdk.CollectionConverters._
    val registered = Staging.streamDirsThisRun.asScala
    assert(registered.exists(_.contains("graft_q248_result_v1_c")),
      s"stream staging dir not registered for setup attribution: " +
        s"$registered")
  }
}
