package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.io.{CsvHeaderSink, FileHeader}
import graft.pipeline.Publish
import graft.streaming.StreamingPublish

/** Byte pin for the faithful publication path: a fixed scenario run
  * through `Publish.publishChunks` and two `StreamingPublish`
  * increments must reproduce `src/test/resources/publish_golden.txt`
  * exactly. The scenario covers a resumed reference-format file whose
  * header holds the quoted comma-value line, a sub-millisecond tail
  * re-delivered by a stream, a chunk created by a stream, and string
  * chunk keys containing `_` and `/` (percent-escaped file names). It
  * runs at 1, 4 and 8 shuffle partitions: the bytes must not depend on
  * how the chunks share partitions.
  *
  * The golden text lists every output file in name order as
  * `### <name> <bytes>` followed by the file's content. To regenerate
  * it after a deliberate format change, run this spec with
  * `GRAFT_GOLDEN_OUT=<file>` set; the rendering is written there.
  */
class PublishGoldenSpec extends SparkSpec {
  import spark.implicits._

  private val spec = Publish.ChunkSpec(
    chunkKeys = Seq("site", "qc"), indexCol = "t", pivotKey = "var",
    valueCol = "v", domain = Seq("temp", "ph", "do"),
    sentinels = Map("temp" -> -9999.0, "ph" -> -9999.0, "do" -> -1.0))

  private def headerFor(cv: Seq[Any]): Seq[String] =
    Seq(s"Site: ${cv(0)}", s"QC: ${cv(1)}",
      "Organization: Utah Water Research Lab, USU")

  /** Long rows from literals; timestamps are cast in the session zone,
    * so the bytes do not depend on the JVM's default zone. */
  private def rows(rs: (String, Int, String, String, Double)*): DataFrame =
    rs.toDF("site", "qc", "t", "var", "v")
      .withColumn("t", col("t").cast("timestamp"))

  private val base = rows(
    ("LR_Mendon/B", 0, "2024-01-01 00:00:00", "temp", 1.25),
    ("LR_Mendon/B", 0, "2024-01-01 00:00:00", "ph", 7.1),
    ("LR_Mendon/B", 0, "2024-01-01 00:15:00", "temp", 1.5),
    ("LR_Mendon/B", 0, "2024-01-01 00:15:00", "temp", 1.75),
    ("LR_Mendon/B", 0, "2024-01-01 00:15:00", "do", 9.05),
    ("LR_Mendon/B", 0, "2024-01-01 00:30:00", "ph", 7.2),
    ("Logan", 1, "2024-01-01 00:00:00", "temp", 2.0),
    ("Logan", 1, "2024-01-01 00:30:00", "temp", 2.5),
    ("Logan", 1, "2024-01-01 00:45:00.00025", "temp", 3.0),
    ("Logan", 1, "2024-01-01 00:45:00.00025", "do", 8.5),
    ("Logan", 0, "2024-01-01 00:00:00", "temp", 4.0),
    ("Logan", 0, "2024-01-01 00:15:00", "temp", 4.5),
    ("Logan", 0, "2024-01-01 00:30:00", "temp", 5.0),
    ("Logan", 0, "2024-01-01 00:30:00", "ph", 6.9))

  // a re-delivered row at the sub-millisecond tail (skipped) and newer
  // rows for two existing chunks, one of them the reference-format file
  private val delta1 = rows(
    ("Logan", 1, "2024-01-01 00:45:00.00025", "temp", 99.0),
    ("Logan", 1, "2024-01-01 01:00:00", "temp", 3.5),
    ("Logan", 1, "2024-01-01 01:00:00.000001", "ph", 7.0),
    ("Logan", 0, "2024-01-01 00:45:00", "do", 10.25))

  // a chunk no earlier run wrote, plus an append to an existing one
  private val delta2 = rows(
    ("new_site/x", 2, "2024-01-02 00:00:00", "temp", 0.5),
    ("new_site/x", 2, "2024-01-02 00:15:00", "ph", 8.0),
    ("LR_Mendon/B", 0, "2024-01-01 00:45:00", "temp", 2.0),
    ("LR_Mendon/B", 0, "2024-01-01 01:00:00", "do", 9.5))

  private def listDir(dir: String): Seq[Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.toList finally s.close()
  }

  private def land(df: DataFrame, srcDir: String, name: String,
      stage: String): Unit = {
    df.coalesce(1).write.parquet(s"$stage/$name")
    val part = listDir(s"$stage/$name")
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(srcDir))
    Files.move(part, Paths.get(srcDir, s"$name.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Run the scenario into `work/out` and render the output tree. */
  private def publishScenario(work: String): String = {
    val out = s"$work/out"
    // a deliverable published earlier by the reference exporter: its
    // header carries the whole-line-quoted comma-value form
    val legacy = Seq[Any]("Logan", 0)
    CsvHeaderSink.writeComposed(
      Seq(("2024-01-01 00:00:00", 4.0, -9999.0, -1.0),
        ("2024-01-01 00:15:00", 4.5, -9999.0, -1.0))
        .toDF("t", "temp", "ph", "do")
        .withColumn("t", col("t").cast("timestamp")),
      FileHeader.line("SiteCode", "Logan") +
        FileHeader.line("SiteName", "Logan, UT"),
      s"$out/${Publish.chunkFileName(legacy)}")
    val full = Publish.publishChunks(spark, base, spec, out, headerFor)
    assert(full.map(c => (c._1, c._3)) === Seq(
      (Seq("LR_Mendon/B", 0), false), (Seq("Logan", 0), true),
      (Seq("Logan", 1), false)))
    val src = s"$work/src"
    Seq(delta1, delta2).zipWithIndex.foreach { case (d, i) =>
      land(d, src, s"delta-$i", s"$work/stage")
      StreamingPublish.run(spark.readStream.schema(base.schema).parquet(src),
        spec, out, headerFor, s"$work/ckpt")
    }
    listDir(out).sortBy(_.getFileName.toString).map { p =>
      val b = Files.readAllBytes(p)
      s"### ${p.getFileName} ${b.length}\n" +
        new String(b, StandardCharsets.UTF_8)
    }.mkString
  }

  test("publication bytes match the pinned golden: full publication, " +
      "a resumed quoted-header file, two streamed increments") {
    val in = getClass.getResourceAsStream("/publish_golden.txt")
    assert(in != null, "missing resource publish_golden.txt")
    val golden = try new String(in.readAllBytes(), StandardCharsets.UTF_8)
      finally in.close()
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    try Seq(1, 4, 8).foreach { p =>
      spark.conf.set(key, p.toString)
      withTempDir("graft-golden") { work =>
        val rendered = publishScenario(work)
        if (p == 1) sys.env.get("GRAFT_GOLDEN_OUT").foreach(f => Files.write(
          Paths.get(f), rendered.getBytes(StandardCharsets.UTF_8)))
        assert(rendered === golden, s"at $p shuffle partitions")
      }
    } finally spark.conf.set(key, before)
  }
}
