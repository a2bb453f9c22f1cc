package graft

import java.nio.file.{Files, Paths}
import java.time.{LocalDateTime, ZoneOffset}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.{SparkThrowable, TestBus}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.io.{CsvHeaderSink, JdbcIO, XmlMetadataSink}
import graft.pipeline.Publish

class IoPublishSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft-io").toString

  /** Runs `f` under a fresh job group and counts the Spark jobs started
    * in it (threads `f` creates inherit the group), after the listener
    * bus has delivered every event. */
  private def jobsOf[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"io-publish-jobs-${System.nanoTime}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted")
    try {
      val a = f
      TestBus.drain(sc)
      (a, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  /** A naive wall-clock literal in the session zone (UTC). */
  private def utc(s: String): java.sql.Timestamp =
    java.sql.Timestamp.from(
      LocalDateTime.parse(s.replace(' ', 'T')).toInstant(ZoneOffset.UTC))

  /** The distributed form of the resume probe: text read without
    * metadata lines, CSV over the rest as strings, max of the cast. */
  private def sparkTail(path: String, tsCol: String)
      : Option[java.sql.Timestamp] = {
    val txt = spark.read.textFile(path)
      .filter((l: String) => !(l.startsWith("#") || l.startsWith("\"#")))
    val df = spark.read.option("header", "true").csv(txt)
    if (!df.columns.contains(tsCol)) None
    else df.agg(max(col(tsCol).cast("timestamp"))).collect().headOption
      .flatMap(r => Option(r.getTimestamp(0)))
  }

  /** Write `text` to a fresh file, probe it with zero Spark jobs, and
    * check the answer against the distributed form. */
  private def probeText(text: String, tsCol: String = "t")
      : Option[java.sql.Timestamp] = {
    val out = s"${tmpDir()}/probe.csv"
    Files.write(Paths.get(out), text.getBytes("UTF-8"))
    val (probed, jobs) = jobsOf(CsvHeaderSink.tailProbe(spark, out, tsCol))
    assert(jobs === 0, "the tail probe launched Spark jobs")
    assert(probed === sparkTail(out, tsCol))
    probed
  }

  test("csv sink writes comment header then ordered data; probe resumes") {
    val out = s"${tmpDir()}/series.csv"
    val df = Seq(
      (ts("2024-01-01 00:00:00"), 1.0),
      (ts("2024-01-01 01:00:00"), 2.0)
    ).toDF("t", "v").orderBy("t")
    CsvHeaderSink.write(df, Seq("Site: S1", "Variable: temp"), out)

    val lines = Files.readAllLines(Paths.get(out))
    assert(lines.get(0) === "# Site: S1")
    assert(lines.get(1) === "# Variable: temp")
    assert(lines.get(2) === "t,v")
    assert(lines.size === 5)

    val probed = CsvHeaderSink.tailProbe(spark, out, "t")
    assert(probed === Some(ts("2024-01-01 01:00:00")))

    // headerless incremental append, then probe again
    CsvHeaderSink.append(
      Seq((ts("2024-01-01 02:00:00"), 3.0)).toDF("t", "v"), out)
    assert(Files.readAllLines(Paths.get(out)).size === 6)
    assert(CsvHeaderSink.tailProbe(spark, out, "t")
      === Some(ts("2024-01-01 02:00:00")))
  }

  test("sub-millisecond timestamps publish at full precision, " +
      "pandas-style, so the resume probe cannot re-select the tail") {
    val out = s"${tmpDir()}/micro.csv"
    val microTs = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    microTs.setNanos(500000) // .000500 — below CSV-default ms precision
    CsvHeaderSink.write(
      Seq((microTs, 1.0)).toDF("t", "v"), Seq("hdr"), out)
    // bytes: space-separated, fraction printed because nonzero (the
    // reference's pandas str(Timestamp) form); whole seconds print
    // with no fraction (asserted by the first test's line count/probe)
    assert(Files.readAllLines(Paths.get(out)).get(2)
      === "2024-01-01 00:00:00.000500,1.0")
    // the probe returns FULL precision, so the strictly-newer resume
    // filter excludes the published tail instead of duplicating it
    assert(CsvHeaderSink.tailProbe(spark, out, "t") === Some(microTs))
  }

  test("published header csv round-trips: data via read, header via readHeader") {
    val out = s"${tmpDir()}/rt.csv"
    val df = Seq(
      (ts("2024-01-01 00:00:00"), 1.5, "a"),
      (ts("2024-01-01 01:00:00"), -2.0, "b"),
      (ts("2024-01-01 02:00:00"), 3.25, "c"))
      .toDF("t", "v", "q").orderBy("t")
    CsvHeaderSink.write(df, Seq("Site: S1", "Variable: temp"), out)
    CsvHeaderSink.append(
      Seq((ts("2024-01-01 03:00:00"), 4.0, "d")).toDF("t", "v", "q"), out)
    // inferred-schema read sees header rows + appended rows, no '#' lines
    val back = CsvHeaderSink.read(spark, out)
      .select(col("t").cast("timestamp"), col("v"), col("q"))
      .orderBy("t").as[(java.sql.Timestamp, Double, String)]
      .collect().toSeq
    assert(back === Seq(
      (ts("2024-01-01 00:00:00"), 1.5, "a"),
      (ts("2024-01-01 01:00:00"), -2.0, "b"),
      (ts("2024-01-01 02:00:00"), 3.25, "c"),
      (ts("2024-01-01 03:00:00"), 4.0, "d")))
    // explicit schema skips inference and types directly
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "t TIMESTAMP, v DOUBLE, q STRING")
    val typed = CsvHeaderSink.read(spark, out, Some(schema))
    assert(typed.schema === schema)
    assert(typed.count() === 4)
    // metadata lines come back with the '# ' prefix stripped
    assert(CsvHeaderSink.readHeader(out) ===
      Seq("Site: S1", "Variable: temp"))
  }

  test("tail probe on a missing file is None") {
    assert(CsvHeaderSink.tailProbe(spark, "/tmp/nope-does-not-exist.csv",
      "t").isEmpty)
  }

  test("tail probe finds tsCol by header name, not position") {
    assert(probeText("# Site: S1\nv,t\n1.0,2024-01-01 00:00:00\n" +
      "2.0,2024-01-01 02:00:00\n") === Some(utc("2024-01-01 02:00:00")))
  }

  test("tail probe splits quoted header and data fields like the reader") {
    // the comma inside the quoted fields would shift `t` under a naive
    // split; blank lines, both comment forms and a repeated column
    // header line are dropped as the distributed reader drops them
    val text = "# SiteCode: S1 \n\"# SiteName: Logan, UT\"\n" +
      "\"v, raw\",\"t\",q\n" +
      "\"1,5\",2024-01-01 00:00:00,a\n\n" +
      "\"v, raw\",\"t\",q\n" +
      "\"2,5\",\"2024-01-01 03:00:00.000250\",b\n"
    val tail = utc("2024-01-01 03:00:00")
    tail.setNanos(250000)
    assert(probeText(text) === Some(tail))
  }

  test("tail probe on a header-only file is None") {
    assert(probeText("# hdr\nt,v\n").isEmpty)
    assert(probeText("# only metadata\n").isEmpty)
    assert(probeText("v,w\n1,2\n").isEmpty) // no tsCol column
  }

  test("tail probe returns the max, not the last row") {
    assert(probeText("t,v\n2024-01-01 05:00:00,1\n" +
      "2024-01-01 09:00:00,2\n2024-01-01 07:00:00,3\n")
      === Some(utc("2024-01-01 09:00:00")))
  }

  test("tail probe skips empty fields as max skips nulls") {
    assert(probeText("t,v\n,1\n2024-01-01 01:00:00,2\n\"\",3\n")
      === Some(utc("2024-01-01 01:00:00")))
    // unquoted empty, quoted empty, and a short row missing the field
    assert(probeText("v,t\n1,\n2,\"\"\n3\n").isEmpty)
  }

  test("tail probe throws on an unparsable timestamp, as the ANSI cast") {
    val out = s"${tmpDir()}/bad.csv"
    Files.write(Paths.get(out),
      "t,v\n2024-01-01 01:00:00,1\nnot a time,2\n".getBytes("UTF-8"))
    val e = intercept[java.time.DateTimeException] {
      CsvHeaderSink.tailProbe(spark, out, "t")
    }
    assert(e.asInstanceOf[SparkThrowable].getCondition === "CAST_INVALID_INPUT")
    intercept[Exception](sparkTail(out, "t"))
  }

  test("xml metadata renders escaped nested sections") {
    val doc = XmlMetadataSink.seriesMetadata(
      Map("id" -> "s<1>"),
      Seq("Site" -> Map("SiteName" -> "Creek & Bend", "SiteCode" -> "CB")))
    val xml = XmlMetadataSink.render(doc)
    assert(xml.contains("""<SeriesMetadata id="s&lt;1&gt;">"""))
    assert(xml.contains("<SiteName>Creek &amp; Bend</SiteName>"))
    val path = s"${tmpDir()}/meta.xml"
    XmlMetadataSink.write(doc, path)
    assert(Files.readString(Paths.get(path))
      .startsWith("""<?xml version="1.0" encoding="UTF-8"?>"""))
  }

  test("jdbc urls per dialect") {
    assert(JdbcIO.Conn(JdbcIO.Postgres, "h:5432", "odm").url
      === "jdbc:postgresql://h:5432/odm")
    assert(JdbcIO.Conn(JdbcIO.SqlServer, "h", "odm").url
      === "jdbc:sqlserver://h;databaseName=odm")
    assert(JdbcIO.Conn(JdbcIO.Sqlite, "", "/tmp/x.db").url
      === "jdbc:sqlite:/tmp/x.db")
  }

  private def fact = Seq(
    (1L, ts("2024-01-01 00:00:00"), "temp", 1.5),
    (1L, ts("2024-01-01 00:00:00"), "ph", 7.0),
    (1L, ts("2024-01-01 01:00:00"), "temp", 2.5),
    (2L, ts("2024-01-01 00:00:00"), "temp", 9.0)
  ).toDF("sid", "t", "metric", "v")

  private val spec = Publish.ChunkSpec(
    chunkKeys = Seq("sid"), indexCol = "t", pivotKey = "metric",
    valueCol = "v", domain = Seq("temp", "ph"), sentinel = -9999.0)

  test("publish writes one headered wide csv per chunk, then resumes") {
    val dir = tmpDir()
    val written = Publish.publishChunks(spark, fact, spec, dir,
      cv => Seq(s"Series: ${cv.mkString("_")}"))
    assert(written.map(_._3) === Seq(false, false)) // fresh writes
    val f1 = Files.readAllLines(Paths.get(s"$dir/1.csv"))
    assert(f1.get(0) === "# Series: 1")
    assert(f1.get(1) === "t,temp,ph")
    // hour-0 row pivoted both metrics; hour-1 row sentinel-filled ph
    assert(f1.get(2).endsWith(",1.5,7.0"))
    assert(f1.get(3).endsWith(",2.5,-9999.0"))

    // incremental: add a newer observation, republish → append only it
    val fact2 = fact.union(Seq(
      (1L, ts("2024-01-01 02:00:00"), "temp", 3.5))
      .toDF("sid", "t", "metric", "v"))
    val second = Publish.publishChunks(spark, fact2, spec, dir,
      cv => Seq("unused"))
    assert(second.map(_._3) === Seq(true, true)) // appends
    val f1b = Files.readAllLines(Paths.get(s"$dir/1.csv"))
    assert(f1b.size === 5)
    assert(f1b.get(4).endsWith(",3.5,-9999.0"))
  }

  test("publishing a fresh and a resumed chunk stays within a few jobs") {
    val dir = tmpDir()
    Publish.publishChunks(spark, fact.filter(col("sid") === 1L), spec, dir,
      cv => Seq("h"))
    val newer = fact.union(Seq(
      (1L, ts("2024-01-01 02:00:00"), "temp", 3.5))
      .toDF("sid", "t", "metric", "v"))
    val (written, jobs) = jobsOf(
      Publish.publishChunks(spark, newer, spec, dir, cv => Seq("h")))
    assert(written.map(_._3) === Seq(true, false)) // resumed, fresh
    // one query for every chunk: its shuffle's map stage and its result
    // stage; a probe or a write that runs Spark jobs per chunk adds more
    assert(jobs <= 2, s"$jobs Spark jobs for one resumed and one fresh chunk")
  }

  test("a resumed chunk whose rows are all at or before its tail is " +
      "left byte-identical and reported appended") {
    val dir = tmpDir()
    Publish.publishChunks(spark, fact.filter(col("sid") === 1L), spec, dir,
      cv => Seq("h"))
    val path = s"$dir/1.csv"
    val before = Files.readAllBytes(Paths.get(path))
    val late = Seq(
      (1L, ts("2024-01-01 00:30:00"), "ph", 6.0),
      (1L, ts("2024-01-01 01:00:00"), "ph", 8.0)) // at the tail
      .toDF("sid", "t", "metric", "v")
    val written = Publish.publishChunks(spark, late, spec, dir,
      cv => Seq("unused"))
    assert(written === Seq((Seq(1L), path, true)))
    assert(Files.readAllBytes(Paths.get(path)).sameElements(before))
  }

  test("a failed chunk is rethrown only after its sibling writes settle") {
    withTempDir("graft-publish-fail") { dir =>
      val many = (1 to 6).map(i => (i.toLong, ts("2024-01-01 00:00:00"),
        "temp", i.toDouble)).toDF("sid", "t", "metric", "v")
      val e = intercept[IllegalStateException] {
        Publish.publishChunks(spark, many, spec, dir, cv =>
          if (cv.head == 1L) throw new IllegalStateException("no header")
          else Seq("h"))
      }
      assert(e.getMessage === "no header")
      def listing() = {
        val s = Files.list(Paths.get(dir))
        try s.toArray.map(_.toString.split("/").last).sorted.toSeq
        finally s.close()
      }
      val atReturn = listing()
      TestBus.drain(spark.sparkContext)
      assert(spark.sparkContext.statusTracker.getActiveJobIds.isEmpty)
      assert(atReturn === (2 to 6).map(i => s"$i.csv"))
      Thread.sleep(300)
      assert(listing() === atReturn)
    }
  }

  test("partitioned publish writes all chunks in one job") {
    val dir = s"${tmpDir()}/wide"
    Publish.publishPartitioned(fact, spec, dir)
    val dirs = Files.list(Paths.get(dir)).toArray.map(_.toString)
      .filter(_.contains("sid=")).sorted
    assert(dirs.map(_.split("/").last).toSeq === Seq("sid=1", "sid=2"))
  }

  test("partitioned publish refuses NULL chunk keys — the same loud " +
      "contract as publishChunks, never a silent default partition") {
    val dir = s"${tmpDir()}/widenull"
    val withNull = fact.union(Seq(
      (Option.empty[Long], ts("2024-01-01 03:00:00"), "temp", 9.9))
      .toDF("sid", "t", "metric", "v"))
    val e = intercept[IllegalArgumentException] {
      Publish.publishPartitioned(withNull, spec, dir)
    }
    assert(e.getMessage.contains("NULL in chunk key"))
  }

  test("reference-faithful quoted header lines survive the read paths") {
    // a comma-valued metadata line is quoted WHOLE-LINE by the
    // reference format (FileHeader.line) — the readers must treat it
    // as a comment, not as the column-header row
    val out = s"${tmpDir()}/quoted.csv"
    val df = Seq(
      (ts("2024-01-01 00:00:00"), 1.0),
      (ts("2024-01-01 01:00:00"), 2.0)).toDF("t", "v").orderBy("t")
    val header = graft.io.FileHeader.line("SiteCode", "S1") +
      graft.io.FileHeader.line("SiteName", "Logan, UT") // quoted form
    CsvHeaderSink.writeComposed(df, header, out)
    val raw = Files.readAllLines(Paths.get(out))
    assert(raw.get(1) === "\"# SiteName: Logan, UT\"") // really quoted
    // distributed read: 2 data rows, correct columns
    val back = CsvHeaderSink.read(spark, out)
    assert(back.columns.toSeq === Seq("t", "v"))
    assert(back.count() === 2)
    // resume probe still finds the max timestamp
    assert(CsvHeaderSink.tailProbe(spark, out, "t")
      === Some(ts("2024-01-01 01:00:00")))
    // header read-back strips both decorations
    assert(CsvHeaderSink.readHeader(out) ===
      Seq("SiteCode: S1 ", "SiteName: Logan, UT"))
  }

  test("chunk keys with path separators cannot escape the output dir") {
    assert(Publish.chunkFileName(Seq("LR/Mendon", 1)) ===
      "LR%2FMendon_1.csv")
    assert(Publish.chunkFileName(Seq("../up", 1)) === "..%2Fup_1.csv")
    // distinctness: "a/b"+"c" vs "a"+"b/c" must not collide
    assert(Publish.chunkFileName(Seq("a/b", "c")) !==
      Publish.chunkFileName(Seq("a", "b/c")))
  }

  test("f6 pretty-print is plain decimal at any magnitude") {
    // the old double→string cast went scientific outside ~[1e-3, 1e7)
    // (where DuckDB prints plain decimal); the micro-unit integer
    // rendering must stay plain everywhere and trim trailing zeros
    val dir = tmpDir()
    Seq(
      (1L, 10L, "click", ts("2024-01-01 00:00:00"), 0.5),
      (2L, 10L, "click", ts("2024-01-01 00:00:01"), -0.5),
      (3L, 10L, "click", ts("2024-01-01 00:00:02"), 3.0),
      (4L, 10L, "click", ts("2024-01-01 00:00:03"), 1.05),
      (5L, 10L, "click", ts("2024-01-01 00:00:04"), 123456789.25),
      (6L, 10L, "click", ts("2024-01-01 00:00:05"), 0.00001),
      (7L, 10L, "click", ts("2024-01-01 00:00:06"), -9999.0))
      .toDF("event_id", "user_id", "event_type", "ts", "value")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = SparkEntry.queries("f6_pretty_sentinel")(spark, dir)
      .orderBy("event_id").select("value_str")
      .as[String].collect().toSeq
    assert(got === Seq("0.5", "-0.5", "3", "1.05", "123456789.25",
      "0.00001", "-9999"))
  }

  test("null chunk keys fail loudly before any file is written") {
    val bad = Seq((Some(1), "x"), (None: Option[Int], "y"))
      .toDF("sid", "pv")
      .withColumn("t", to_timestamp(lit("2024-01-01 00:00:00")))
      .withColumn("v", lit(1.0))
    val badSpec = Publish.ChunkSpec(Seq("sid"), "t", "pv", "v",
      Seq("x", "y"), -9999.0)
    val dir = tmpDir()
    val e = intercept[IllegalArgumentException] {
      Publish.publishChunks(spark, bad, badSpec, dir, _ => Seq("h"))
    }
    assert(e.getMessage.contains("NULL in chunk key"))
    val s = Files.list(Paths.get(dir))
    try assert(s.count() === 0L) finally s.close()
  }
}
