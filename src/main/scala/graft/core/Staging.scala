package graft.core

import java.io.File

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

import graft.ext.Similarity
import graft.sources.Tables

/** Build-once derived artifacts ("staging"): the PQ codebook, pair lists,
  * signature frames, bucketed and z-ordered tables, file-stream sources
  * and materialized stream results. Each is written once per (source
  * fingerprint, tag) under `java.io.tmpdir` and read back by every later
  * consumer — a later query, session, or a concurrent Verify/Bench pair —
  * as a plain parquet scan.
  *
  * Every artifact goes through [[publish]]: the writer fills a private
  * sibling directory and the result becomes visible only when that
  * sibling is renamed to its final name. `_SUCCESS` is the one
  * completeness marker, so a reader never sees a half-written directory.
  */
object Staging {

  private def tmpRoot: File = new File(System.getProperty("java.io.tmpdir"))

  /** Fingerprint-keyed location of the artifact derived from
    * `dir/table.parquet` under `tag`. The key folds the source's
    * canonical path with a cheap data fingerprint (file count, sizes and
    * mtimes over name-sorted parts), so a regenerated dataset at the
    * same path gets a fresh key and never a stale layout. A tag names
    * the build: change it whenever the build's output changes.
    */
  private[graft] def path(dir: String, table: String, tag: String): File = {
    val srcParquet = new File(dir, s"$table.parquet")
    val parts: Array[File] =
      if (srcParquet.isDirectory)
        Option(srcParquet.listFiles()).getOrElse(Array.empty)
          .sortBy(_.getName)
      else Array(srcParquet)
    val fp = java.lang.Long.toHexString(
      parts.foldLeft(parts.length.toLong) { (acc, f) =>
        31 * (31 * acc + f.length()) + f.lastModified()
      })
    val key = java.security.MessageDigest.getInstance("MD5")
      .digest(s"${srcParquet.getCanonicalPath}|$fp".getBytes("UTF-8"))
      .take(8).map(b => f"${b & 0xff}%02x").mkString
    new File(tmpRoot, s"graft_${tag}_$key")
  }

  private[graft] def committed(dest: File): Boolean =
    new File(dest, "_SUCCESS").exists()

  /** Publish the directory `dest` once. A committed `dest` is left as it
    * is and nothing runs. Otherwise `write` fills a private sibling,
    * `_SUCCESS` is added to it, and the sibling is renamed to `dest`. A
    * torn `dest` (present without `_SUCCESS`) is cleared first, since a
    * rename cannot replace a non-empty directory. When two writers race,
    * the loser's rename fails, its sibling is deleted and it serves the
    * winner's artifact: the same key means the same deterministic build.
    * Returns whether this call published `dest`.
    */
  def publish(dest: File)(write: File => Unit): Boolean =
    !committed(dest) && {
      val tmp = new File(dest.getParentFile,
        s"${dest.getName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
      try {
        write(tmp)
        tmp.mkdirs()
        new File(tmp, "_SUCCESS").createNewFile()
        if (dest.exists() && !committed(dest)) FileUtils.deleteQuietly(dest)
        tmp.renameTo(dest) || {
          if (!committed(dest))
            throw new java.io.IOException(s"cannot publish staged $dest")
          false
        }
      } finally FileUtils.deleteQuietly(tmp)
    }

  private def publishFrame(dest: File)(build: => DataFrame): Boolean =
    publish(dest)(tmp => build.write.parquet(tmp.getAbsolutePath))

  /** `build`'s rows, staged as parquet and served as a scan of it. */
  def frame(s: SparkSession, dir: String, table: String, tag: String)
           (build: => DataFrame): DataFrame = {
    val dest = path(dir, table, tag)
    publishFrame(dest)(build)
    s.read.parquet(dest.getAbsolutePath)
  }

  /** A file-stream source directory: each of `batches` is appended in
    * order, and its part files get ascending mtimes (1 s apart, name
    * order within a batch). The file source ingests in mtime order, but
    * parallel part writes share one mtime, which would leave batch order
    * to directory-listing order; the stamps pin ordered ingestion. The
    * mtimes are set in the sibling and survive the rename.
    */
  def streamSource(dir: String, table: String, tag: String)
                  (batches: DataFrame*): File = {
    val dest = path(dir, table, tag)
    publish(dest) { tmp =>
      val t0 = System.currentTimeMillis() - 600000
      var stamped = Set.empty[String]
      batches.foreach { df =>
        df.write.mode("append").parquet(tmp.getAbsolutePath)
        tmp.list().filter(n => n.startsWith("part-") && !stamped(n)).sorted
          .foreach { n =>
            new File(tmp, n).setLastModified(t0 + stamped.size * 1000L)
            stamped += n
          }
      }
    }
    dest
  }

  /** md5 (first 8 hex) over the compiled bytecode of every class that
    * defines staged stream-transform logic: `graft.SparkEntry$` (the
    * stream queries' closures, which Scala 2.13 compiles into methods of
    * the enclosing class), this object (the source layout), and every
    * class file under `graft/streaming/`, nested and anonymous classes
    * included. Class files fold in sorted-name order with their names,
    * so a rename also changes the digest.
    */
  private[graft] lazy val fingerprintParts: Seq[(String, Array[Byte])] = {
    val cl = getClass.getClassLoader
    def bytes(res: String): Array[Byte] = {
      val in = cl.getResourceAsStream(res)
      if (in == null) Array.emptyByteArray
      else try in.readAllBytes() finally in.close()
    }
    val streaming: Seq[String] = {
      val url = cl.getResource("graft/streaming")
      if (url != null && url.getProtocol == "file") {
        val root = new File(url.toURI).toPath
        val walk = java.nio.file.Files.walk(root)
        try walk.iterator().asScala.filter(_.toString.endsWith(".class"))
          .map(p => "graft/streaming/" + root.relativize(p).toString
            .replace(File.separatorChar, '/')).toSeq
        finally walk.close()
      } else {
        val self = cl.getResource("graft/streaming/EventStreams.class")
        if (self != null && self.getProtocol == "jar")
          self.openConnection() match {
            case jc: java.net.JarURLConnection =>
              jc.getJarFile.entries().asScala.map(_.getName)
                .filter(n => n.startsWith("graft/streaming/")
                  && n.endsWith(".class")).toSeq
            case _ => Seq.empty
          }
        else Seq.empty
      }
    }
    require(streaming.nonEmpty, "no graft/streaming class files found " +
      "to fingerprint staged stream results")
    ("graft/SparkEntry$.class" +: "graft/core/Staging$.class" +: streaming)
      .map(n => n -> bytes(n)).sortBy(_._1)
  }

  private[graft] def fingerprintOf(parts: Seq[(String, Array[Byte])])
  : String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach { case (n, b) =>
      md.update(n.getBytes("UTF-8")); md.update(b)
    }
    md.digest().take(4).map(b => f"${b & 0xff}%02x").mkString
  }

  private lazy val codeFingerprint: String = fingerprintOf(fingerprintParts)

  /** Stream-result dirs touched by this JVM (absolute paths). Bench's
    * `setup` map reads `_SETUP_SECONDS` only from these.
    */
  private[graft] val streamDirsThisRun: java.util.Set[String] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** A staged materialized stream result: `build` runs a real
    * Structured Streaming query to completion into the scratch directory
    * it is given (deleted after the publish), and its output is staged
    * so the stream runs once per corpus snapshot. The key adds
    * [[codeFingerprint]] to `tag`, so an edit to the stream transforms
    * re-runs the stream instead of serving pre-change output. The
    * one-time cost is recorded in `_SETUP_SECONDS` inside the artifact
    * (hidden from the parquet reader) for Bench's `setup` map.
    *
    * Dirs for the same tag under another code fingerprint can never be
    * served by this binary and are deleted once older than 6 h; a
    * younger one may belong to a concurrent JVM built from other code.
    */
  def streamResult(s: SparkSession, dir: String, tag: String)
                  (build: String => DataFrame): DataFrame = {
    val dest = path(dir, "events", s"${tag}_c$codeFingerprint")
    streamDirsThisRun.add(dest.getAbsolutePath)
    val keep = s"graft_${tag}_c${codeFingerprint}_"
    val cutoff = System.currentTimeMillis() - 6L * 3600 * 1000
    Option(tmpRoot.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && f.getName.startsWith(s"graft_${tag}_c")
        && !f.getName.startsWith(keep) && f.lastModified() < cutoff)
      .foreach(FileUtils.deleteQuietly)
    val t0 = System.nanoTime()
    publish(dest) { tmp =>
      val out = java.nio.file.Files.createTempDirectory("graft_stream_out")
      try build(out.toString).write.parquet(tmp.getAbsolutePath)
      finally FileUtils.deleteQuietly(out.toFile)
      java.nio.file.Files.writeString(tmp.toPath.resolve("_SETUP_SECONDS"),
        String.format(java.util.Locale.ROOT, "%.3f%n",
          Double.box((System.nanoTime() - t0) / 1e9)))
    }
    s.read.parquet(dest.getAbsolutePath)
  }

  /** `table`'s `cols`, staged as an external parquet table bucketed and
    * sorted on `key`, registered in the session catalog and returned.
    * The write repartitions on the bucket hash first, so each bucket
    * lands in exactly one file, which lets a sort-merge join on `key`
    * run with no exchange and no sort. The key encodes the full bucket
    * spec (key, count, projected columns): bucket ids come from file
    * names at read time, so files staged under another spec must never
    * be reused. The write goes through a throwaway catalog entry (only
    * `saveAsTable` writes buckets); the served table is always the one
    * registered over the published location.
    */
  private[graft] def bucketed(s: SparkSession, dir: String, table: String,
                              cols: Seq[String], key: String, buckets: Int,
                              tag: String): DataFrame = {
    val dest = path(dir, table, s"${tag}_${key}_${buckets}b_" +
      java.lang.Integer.toHexString(cols.mkString(",").hashCode))
    val tname = dest.getName
    def src = Tables.load(s, dir, table).select(cols.map(col): _*)
    val built = publish(dest) { tmp =>
      val writer = s"${tname}_w${tmp.getName.takeRight(8)}"
      try src.repartition(buckets, col(key))
        .write.bucketBy(buckets, key).sortBy(key)
        .option("path", tmp.getAbsolutePath).saveAsTable(writer)
      finally s.sql(s"DROP TABLE IF EXISTS $writer")
    }
    if (!s.catalog.tableExists(tname))
      s.sql(s"CREATE TABLE $tname (${src.schema.toDDL}) USING parquet " +
        s"CLUSTERED BY ($key) SORTED BY ($key) INTO $buckets BUCKETS " +
        s"LOCATION '${dest.getAbsolutePath}'")
    else if (built) s.catalog.refreshTable(tname)
    s.table(tname)
  }

  private val pqModelMemo =
    scala.collection.concurrent.TrieMap.empty[String, Similarity.PqModel]

  private val codebookSchema = StructType(Seq(
    StructField("subspace", IntegerType), StructField("centroid", IntegerType),
    StructField("vec", ArrayType(DoubleType, containsNull = false))))

  /** The embeddings' PQ codebook, trained once per (source fingerprint,
    * params) and staged as (subspace, centroid, vec) rows; parquet keeps
    * every IEEE double bit-exact, so the served codes match the trained
    * model. A search serves the staged codebook instead of retraining
    * per query, as a production ANN index does. A driver-side memo
    * skips the read within a session.
    */
  private[graft] def pqCodebook(s: SparkSession, dir: String,
                                m: Int, k: Int, maxIter: Int)
  : Similarity.PqModel = {
    val dest = path(dir, "embeddings", s"pqcodebook_${m}_${k}_$maxIter")
    publishFrame(dest) {
      val model = Similarity.pqTrain(Tables.load(s, dir, "embeddings"),
        m, k, maxIter)
      val rows = for {
        (sub, j) <- model.codebook.zipWithIndex
        (c, i) <- sub.zipWithIndex
      } yield Row(j, i, c.toSeq)
      s.createDataFrame(rows.asJava, codebookSchema)
    }
    pqModelMemo.getOrElseUpdate(dest.getName, {
      val cb = s.read.parquet(dest.getAbsolutePath).collect()
        .map(r => (r.getAs[Int]("subspace"), r.getAs[Int]("centroid"),
          r.getAs[Seq[Double]]("vec").toArray))
        .groupBy(_._1).toIndexedSeq.sortBy(_._1)
        .map(_._2.sortBy(_._2).map(_._3).toIndexedSeq)
      Similarity.PqModel(cb.length, cb.head.head.length, cb)
    })
  }
}
