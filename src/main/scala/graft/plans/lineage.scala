package graft.plans

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * Stage materialization + manifests — the resume/idempotency contract
 * (BASELINE.json north_rule: "resumable from checkpoint with per-partition
 * lineage + metrics"). The reference memoizes stages by bare file existence
 * (/root/reference/run_bertmap.py:62-67,98-99,107,136-137,213-214); we
 * strengthen that to a content-addressed manifest: a stage's Parquet output
 * is reused only when the recorded fingerprint (stage name + the caller's
 * inputs string) matches, otherwise it is recomputed and rewritten
 * atomically (write to tmp dir, rename). In `plans.Main` the inputs string
 * is the `listing` of each input directory the stage reads, the settable
 * `Pipeline.Params` and the `code` fingerprint, so a changed input file
 * rebuilds the stages that read it and a changed build rebuilds them all.
 *
 * All filesystem traffic goes through the Hadoop FileSystem API resolved
 * from the path itself, so a workDir on hdfs:// or s3a:// behaves exactly
 * like file:// — the spark-submit resume contract is cluster-real, not
 * local-only. (Caveat shared with every Hadoop-FS job: rename is atomic on
 * HDFS and local disk; object stores emulate it — there the manifest row
 * count revalidation is the integrity backstop.)
 *
 * On a real cluster the same layout works per-partition: each stage's
 * output is a partitioned Parquet/Iceberg table whose commit manifest
 * records input fingerprints; Spark's task-level retry handles intra-stage
 * partition failures, the manifest handles job-level resume.
 */
object lineage {

  final case class Manifest(fingerprint: String, rows: Long)

  private def fsFor(dir: String, conf: Configuration): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(conf), p)
  }

  private def hadoopConf(spark: SparkSession): Configuration =
    spark.sparkContext.hadoopConfiguration

  def readManifest(spark: SparkSession, dir: String): Option[Manifest] = {
    val (fs, base) = fsFor(dir, hadoopConf(spark))
    val p = new Path(base, "_GRAFT_MANIFEST.json")
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val s = try {
        new String(org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
      } finally in.close()
      val fp = "\"fingerprint\"\\s*:\\s*\"([^\"]*)\"".r.findFirstMatchIn(s).map(_.group(1))
      val rows = "\"rows\"\\s*:\\s*(\\d+)".r.findFirstMatchIn(s).map(_.group(1).toLong)
      for (f <- fp; r <- rows) yield Manifest(f, r)
    }
  }

  def writeManifest(spark: SparkSession, dir: String, m: Manifest): Unit =
    writeText(spark, dir, "_GRAFT_MANIFEST.json",
      s"""{"fingerprint":"${m.fingerprint}","rows":${m.rows}}""")

  /** Write a small text artifact (metrics, reports) next to the stage
    * manifests through the same Hadoop FileSystem resolution — a
    * hdfs:///s3a:// workDir gets the artifact on the cluster store, not
    * on the driver's local disk. */
  def writeText(spark: SparkSession, dir: String, name: String,
                content: String): Unit = {
    val (fs, base) = fsFor(dir, hadoopConf(spark))
    fs.mkdirs(base)
    val out = fs.create(new Path(base, name), true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Fingerprint of an input directory (or file) by its Hadoop FS
    * listing: path, length and modification time of every data file,
    * sorted and hashed. Names starting with `_` or `.` are skipped, as
    * Spark's file index skips them. No Spark job runs. */
  def listing(spark: SparkSession, dir: String): String = {
    val (fs, base) = fsFor(dir, hadoopConf(spark))
    val root = fs.makeQualified(base).toUri.getPath.stripSuffix("/")
    val files = fs.listFiles(base, true)
    val rows = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(f => (f.getPath.toUri.getPath.stripPrefix(root), f.getLen, f.getModificationTime))
      .filterNot(_._1.split('/').exists(n => n.startsWith("_") || n.startsWith(".")))
      .map { case (path, len, mtime) => s"$path|$len|$mtime" }
    fingerprint((dir +: rows.toSeq.sorted).mkString("\n"))
  }

  /** Fingerprint of the code at `root`, graft's code source: the bytes of
    * a jar, or of every file under a classes dir (relative path plus bytes,
    * sorted by path). Modification times do not count, so a rebuild of the
    * same sources matches. */
  def code(root: java.nio.file.Path): String = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(root) // a jar walks as itself
    try md5(walk.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      .sortBy(root.relativize(_).toString).iterator
      .flatMap(f => Iterator(s"${root.relativize(f)}\u0000".getBytes(StandardCharsets.UTF_8),
        Files.readAllBytes(f))))
    finally walk.close()
  }

  def fingerprint(parts: String*): String =
    md5(parts.iterator.map(_.getBytes(StandardCharsets.UTF_8)))

  private def md5(parts: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    parts.foreach(md.update(_))
    md.digest().map("%02x".format(_)).mkString
  }

  /** The writer of a plain stage: one unpartitioned parquet table. */
  def parquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /**
   * Run `build` for stage `name` unless a matching manifest already covers
   * it; either way return the stage's materialized DataFrame, read back
   * from `<rootDir>/<name>/data`. `inputsFp` should combine the
   * fingerprints (or seeds/config strings) of everything the stage reads.
   * `write` stores the built frame at a path (`parquet`, or a partitioned
   * writer such as `tables.writeTriples`): the stage's table is the one
   * persisted copy.
   *
   * Publication is atomic as documented: the output is written to a tmp
   * dir and renamed into place, and the manifest (written last) records
   * the row count, which is REVALIDATED on reuse — a mismatch (partial
   * data from a crash mid-publish) forces a rebuild instead of silently
   * resuming from truncated output.
   */
  def stage(spark: SparkSession, rootDir: String, name: String,
            inputsFp: String, write: (DataFrame, String) => Unit)
           (build: => DataFrame): DataFrame = {
    val dir = s"$rootDir/$name"
    val fp = fingerprint(name, inputsFp)
    val (fs, base) = fsFor(dir, hadoopConf(spark))
    val dataPath = new Path(base, "data")
    val reuse = readManifest(spark, dir).filter(_.fingerprint == fp).flatMap { m =>
      if (!fs.exists(dataPath)) None
      else {
        val out = spark.read.parquet(s"$dir/data")
        // metadata-only count (parquet row-group stats) — cheap revalidation
        if (out.count() == m.rows) Some(out) else None
      }
    }
    reuse.getOrElse {
      val df = build
      val tmp = new Path(base, "data.tmp")
      if (fs.exists(tmp)) fs.delete(tmp, true)
      write(df, tmp.toString)
      if (fs.exists(dataPath)) fs.delete(dataPath, true)
      if (!fs.rename(tmp, dataPath))
        sys.error(s"lineage.stage: rename $tmp -> $dataPath failed")
      val out = spark.read.parquet(s"$dir/data")
      writeManifest(spark, dir, Manifest(fp, out.count()))
      out
    }
  }
}
