package graft

import java.nio.file.Files
import graft.operators.multimodal
import graft.plans.lineage

class MultimodalLineageSpec extends SparkSuite {
  import spark.implicits._

  test("mediaMeta: byte length, md5, shard from a binary column") {
    val df = Seq((1L, "abc".getBytes("UTF-8"))).toDF("id", "payload")
    val row = multimodal.mediaMeta(df, "id", "payload").head()
    assert(row.getAs[Long]("n_bytes") == 3L)
    assert(row.getAs[String]("payload_md5") == "900150983cd24fb0d6963f7d28e17f72")
    assert(row.getAs[Long]("shard") == 3L)
  }

  test("parseHeader: real byte fixtures for all four containers") {
    import multimodal.{parseHeader, MediaHeader}
    assert(parseHeader(multimodal.pngBytes(640, 480)) ==
      MediaHeader("png", 640, 480, 3, 0))
    assert(parseHeader(multimodal.pngBytes(70000, 2, colorType = 6)) ==
      MediaHeader("png", 70000, 2, 4, 0)) // >16-bit width exercises BE32
    assert(parseHeader(multimodal.jpegBytes(1920, 1080, 3)) ==
      MediaHeader("jpeg", 1920, 1080, 3, 0))
    assert(parseHeader(multimodal.jpegBytes(12, 34, 1)) ==
      MediaHeader("jpeg", 12, 34, 1, 0)) // grayscale SOF component count
    assert(parseHeader(multimodal.gifBytes(320, 200)) ==
      MediaHeader("gif", 320, 200, 0, 0))
    assert(parseHeader(multimodal.wavBytes(2, 44100)) ==
      MediaHeader("wav", 0, 0, 2, 44100))
  }

  test("parseHeader: garbage, truncation and null degrade to unknown, never throw") {
    import multimodal.parseHeader
    assert(parseHeader(null).format == "unknown")
    assert(parseHeader(Array.emptyByteArray).format == "unknown")
    assert(parseHeader("not a media file at all".getBytes("UTF-8")).format == "unknown")
    // truncated after the magic: bounds checks must hold
    assert(parseHeader(multimodal.pngBytes(10, 10).take(14)).format == "unknown")
    assert(parseHeader(multimodal.jpegBytes(10, 10).take(5)).format == "unknown")
    // JPEG with EOI before any SOF carries no dimensions
    assert(parseHeader(Array(0xFF, 0xD8, 0xFF, 0xD9).map(_.toByte)).format == "unknown")
    // WAV with a near-Int.MaxValue chunk size: the cursor advance must not
    // overflow into a negative index (would throw instead of degrading)
    val evil = java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    evil.put("RIFF".getBytes("US-ASCII")).putInt(16)
    evil.put("WAVE".getBytes("US-ASCII"))
    evil.put("junk".getBytes("US-ASCII")).putInt(0x7FFFFFF0)
    evil.putInt(0)
    assert(parseHeader(evil.array()).format == "unknown")
  }

  test("headerMeta: typed mapPartitions parse over a binary column") {
    val df = Seq(
      (1L, multimodal.pngBytes(100, 50)),
      (2L, multimodal.wavBytes(1, 16000)),
      (3L, "junk".getBytes("UTF-8")))
      .toDF("id", "payload")
    val got = multimodal.headerMeta(spark, df, "id", "payload")
      .as[(Long, String, Int, Int, Int, Int)].collect().sortBy(_._1).toList
    assert(got == List(
      (1L, "png", 100, 50, 3, 0),
      (2L, "wav", 0, 0, 1, 16000),
      (3L, "unknown", 0, 0, 0, 0)))
  }

  test("lineage stage: builds once, resumes from manifest, rebuilds on new fingerprint") {
    val dir = Files.createTempDirectory("graft-lineage").toString
    var builds = 0
    def build = { builds += 1; Seq((1, "a"), (2, "b")).toDF("k", "v") }
    val a = lineage.stage(spark, dir, "s1", "fp-A", lineage.parquet)(build)
    assert(builds == 1 && a.count() == 2)
    val b = lineage.stage(spark, dir, "s1", "fp-A", lineage.parquet)(build)
    assert(builds == 1 && b.count() == 2) // manifest hit, no rebuild
    val c = lineage.stage(spark, dir, "s1", "fp-B", lineage.parquet)(build)
    assert(builds == 2 && c.count() == 2) // input changed -> rebuilt
  }

  test("lineage code: a class file's bytes change the fingerprint, its mtime does not") {
    val src = java.nio.file.Paths.get(
      lineage.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    assert(Files.isDirectory(src), s"expected a classes dir, got $src")
    val dir = Files.createTempDirectory("graft-classes")
    org.apache.commons.io.FileUtils.copyDirectory(src.toFile, dir.toFile)
    val cls = dir.resolve("graft/plans/lineage$.class")
    val fp0 = lineage.code(dir)
    assert(fp0 == lineage.code(src))
    Files.setLastModifiedTime(cls,
      java.nio.file.attribute.FileTime.fromMillis(Files.getLastModifiedTime(cls).toMillis - 60000))
    assert(lineage.code(dir) == fp0, "an mtime change moved the fingerprint")
    val bytes = Files.readAllBytes(cls)
    bytes(bytes.length - 1) = (bytes(bytes.length - 1) ^ 1).toByte
    Files.write(cls, bytes)
    assert(lineage.code(dir) != fp0, "a changed class file kept the fingerprint")
  }
}
