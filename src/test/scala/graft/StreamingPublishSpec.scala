package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import graft.operators.EditOps
import graft.pipeline.Publish
import graft.streaming.{StreamingOps, StreamingPublish}

class StreamingPublishSpec extends SparkSpec {
  import spark.implicits._

  test("streaming foreachBatch publication with effectively-once output") {
    val outDir = Files.createTempDirectory("spub").toString
    val ckpt = Files.createTempDirectory("spub-ckpt").toString
    val spec = Publish.ChunkSpec(
      chunkKeys = Seq("ubucket"), indexCol = "ts",
      pivotKey = "event_type",
      valueCol = "cents",
      domain = Seq("click", "error", "purchase", "signup", "view"),
      sentinel = -9999.0)
    def stream = StreamingOps.eventsStream(spark, "/root/testdata/sf0.001")
      .withColumn("ubucket", col("user_id") % 2)
      .withColumn("cents", round(col("value") * 100).cast("long"))
    StreamingPublish.run(stream, spec, outDir,
      cv => Seq(s"Bucket: ${cv.mkString}"), ckpt)

    val f0 = Paths.get(s"$outDir/0.csv")
    val f1 = Paths.get(s"$outDir/1.csv")
    assert(Files.exists(f0) && Files.exists(f1))
    val lines0 = Files.readAllLines(f0)
    assert(lines0.get(0) === "# Bucket: 0")
    assert(lines0.get(1).startsWith("ts,click,"))
    assert(lines0.size > 2)

    // second run on the same checkpoint: no new input, files unchanged
    val sizeBefore = (Files.size(f0), Files.size(f1))
    StreamingPublish.run(stream, spec, outDir, cv => Seq("unused"), ckpt)
    assert((Files.size(f0), Files.size(f1)) === sizeBefore)
  }

  test("an AvailableNow run reads its batch once: no persisted RDD, " +
      "at most 3 jobs for a 2-chunk batch") {
    withTempDir("spub-jobs") { work =>
      val src = s"$work/src"
      Seq((0L, "2024-01-01 00:00:00", "click", 100L),
        (0L, "2024-01-01 00:15:00", "view", 250L),
        (1L, "2024-01-01 00:00:00", "click", 300L),
        (1L, "2024-01-01 00:30:00", "error", 50L))
        .toDF("ubucket", "ts", "event_type", "cents")
        .withColumn("ts", col("ts").cast("timestamp"))
        .coalesce(1).write.parquet(src)
      val spec = Publish.ChunkSpec(Seq("ubucket"), "ts", "event_type",
        "cents", Seq("click", "error", "view"), -9999.0)
      val sc = spark.sparkContext
      val jobs = new AtomicInteger
      val cached = new AtomicBoolean
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties)
              .exists(_.getProperty("sql.streaming.queryId") != null)) {
            jobs.incrementAndGet()
            if (e.stageInfos.exists(_.rddInfos.exists(_.storageLevel.isValid)))
              cached.set(true)
          }
      }
      val persistedBefore = sc.getPersistentRDDs.keySet
      sc.addSparkListener(l)
      try {
        StreamingPublish.run(spark.readStream.schema(
            spark.read.parquet(src).schema).parquet(src),
          spec, s"$work/out", cv => Seq(s"Bucket: ${cv.mkString}"),
          s"$work/ckpt")
        TestBus.drain(sc)
      } finally sc.removeSparkListener(l)
      assert(Files.readAllLines(Paths.get(s"$work/out/1.csv")).size === 4)
      assert(!cached.get, "a job of the run read a persisted RDD")
      assert(sc.getPersistentRDDs.keySet === persistedBefore)
      assert(jobs.get <= 3, s"${jobs.get} jobs for a 2-chunk batch")
    }
  }

  test("per-run drift correction corrects each run from its own start") {
    val df = Seq(
      // run 1: ids 1-3 (sel), run 2: ids 5-7 (sel); 4 unselected
      (1L, 1L, 0L, 1.0, true), (1L, 2L, 50L, 1.0, true),
      (1L, 3L, 100L, 1.0, true), (1L, 4L, 150L, 9.0, false),
      (1L, 5L, 200L, 2.0, true), (1L, 6L, 250L, 2.0, true),
      (1L, 7L, 300L, 2.0, true)
    ).toDF("sid", "id", "off", "v", "sel")
      .withColumn("t", to_timestamp(lit("2024-01-01 00:00:00")) +
        expr("make_interval(0,0,0,0,0,0,off)"))
    val out = EditOps.driftCorrectRuns(df, Seq("sid"), "t", "id", "v",
        col("sel"), 10.0, "vc")
      .orderBy("id").select("vc").as[Double].collect().toSeq
    // each run spans 100s; gradient applies 0, .5, 1 within EACH run
    assert(out === Seq(1.0, 6.0, 11.0, 9.0, 2.0, 7.0, 12.0))
  }
}
