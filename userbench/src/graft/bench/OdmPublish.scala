package graft.bench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.security.MessageDigest

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.catalog.SeriesCatalog
import graft.io.{LocalDirUploader, XmlMetadataSink}
import graft.pipeline.Publish
import graft.schema.Odm
import graft.streaming.StreamingPublish

/** The scheduled publisher (the paper's §3.1 pipeline). A cycle is one
  * full publication into a fresh directory — catalog for the headers,
  * one CSV per (site, source, QC) chunk, an XML metadata document per
  * chunk, upload with delete-then-add and set-public — followed by
  * `IncrPerCycle` scheduled incremental runs, each landing one delta
  * file and publishing it through `StreamingPublish` (AvailableNow,
  * persistent checkpoint), which tail-probes each touched chunk file
  * and appends the newer rows.
  */
final class OdmPublish(spark: SparkSession, seed: Long) extends Workload {
  import Fs._
  import OdmPublish._

  val stepKind = "publish_incr"
  private val dims = Gen.odmDims(Sites, Vars, Sources, Qcs)
  private val chunks = for (s <- 1 to Sites; src <- 1 to Sources;
    q <- 0 until Qcs) yield (s, src, q)
  private val varCodes = dims.variables.map(_.VariableCode)
  private val spec = Publish.ChunkSpec(
    chunkKeys = Seq("SiteID", "SourceID", "QualityControlLevelID"),
    indexCol = "LocalDateTime", pivotKey = "VariableCode",
    valueCol = "DataValue", domain = varCodes,
    sentinels = dims.variables.map(v => v.VariableCode -> v.NoDataValue)
      .toMap)

  private var root: String = _
  private var base: DataFrame = _
  private var dimFrames: Seq[DataFrame] = Nil
  private var firstDigest: Option[String] = None
  private val csvBytes = collection.mutable.ArrayBuffer.empty[Long]

  private def baseRows(s: Long) = Gen.odmValues(s, 0, chunks, Vars, 0,
    BaseSteps, 0)

  /** Delta `j` of cycle `c`: `ChunksPerDelta` seeded chunks, one day of
    * steps strictly after everything published before it. The chunk
    * count is fixed so every seed gives incremental runs of one size. */
  private def deltaRows(c: Int, j: Int): Seq[Odm.DataValue] = {
    val r = Gen.rng(seed, 100L + c * 16 + j)
    val from = BaseSteps + j * DeltaSteps
    Gen.odmValues(seed, 1000L + c * 16 + j,
      r.shuffle(chunks).take(ChunksPerDelta).sorted, Vars, from,
      from + DeltaSteps, 10000000 * (1 + j))
  }

  def inputDigest(s: Long): String = Gen.digest(baseRows(s).iterator)

  /** The publisher's fact view: values keyed by variable code. A map
    * literal, not a dimension join, so no chunk job pays a broadcast. */
  private def withCodes(df: DataFrame): DataFrame =
    df.withColumn("VariableCode", element_at(typedLit(
      dims.variables.map(v => v.VariableID -> v.VariableCode).toMap),
      col("VariableID")))

  def setup(root: String): Unit = {
    this.root = root
    import spark.implicits._
    baseRows(seed).toDS().repartition(4, col("SiteID"))
      .sortWithinPartitions("SiteID", "SourceID", "QualityControlLevelID",
        "LocalDateTime")
      .write.parquet(s"$root/store/DataValues")
    base = spark.read.parquet(s"$root/store/DataValues")
    dimFrames = Seq(dims.sites.toDF(), dims.variables.toDF(),
      dims.methods.toDF(), dims.sources.toDF(), dims.qcLevels.toDF())
  }

  def discard(): Unit = deleteTree(Paths.get(root))

  // ---- the operations ---------------------------------------------------

  private def fullPublication(out: String, fact: DataFrame,
      uploadTo: Option[String]): Pass = {
    val cat = Trace.layer("catalog.build") {
      val Seq(sites, vars, methods, sources, qcls) = dimFrames
      SeriesCatalog.build(base, sites, vars, methods, sources, qcls)
        .collect().toSeq
    }
    val byChunk = cat.groupBy(r => Seq[Any](r.getAs[Int]("SiteID"),
      r.getAs[Int]("SourceID"), r.getAs[Int]("QualityControlLevelID")))
    val headers = byChunk.map { case (k, rs) => k -> header(rs) }
    val written = Trace.layer("pipeline.publish") {
      Publish.publishChunks(spark, fact, spec, out, headers)
    }
    val xmls = Trace.layer("io.xml") {
      written.map { case (cv, path, _) =>
        val x = path.stripSuffix(".csv") + ".xml"
        XmlMetadataSink.write(XmlMetadataSink.exportSeriesMetadata(
          byChunk(cv).sortBy(_.getAs[String]("odm_id")).map(seriesXml)), x)
        x
      }
    }
    uploadTo.foreach { res =>
      Trace.layer("io.upload") {
        val up = new LocalDirUploader(s"$root/remote")
        up.uploadFiles(res, written.map(_._2) ++ xmls)
        up.setPublic(res)
      }
    }
    Pass(out, headers, written.map(_._2))
  }

  /** Header lines from the catalog's dimension attributes only, so a
    * chunk's header does not depend on how much data it holds — the
    * property that lets an appended file equal a fresh publication. */
  private def header(rs: Seq[Row]): Seq[String] = {
    val r = rs.head
    Seq(s"SiteCode: ${r.getAs[String]("SiteCode")}",
      s"SiteName: ${r.getAs[String]("SiteName")}",
      s"Organization: ${r.getAs[String]("Organization")}",
      s"QualityControlLevel: ${r.getAs[String]("Code")}",
      "Variables: " + rs.map(_.getAs[String]("VariableCode")).sorted
        .mkString(" "))
  }

  private def seriesXml(r: Row): XmlMetadataSink.SeriesXml = {
    def s(c: String) = String.valueOf(r.getAs[Any](c))
    XmlMetadataSink.SeriesXml(s("odm_id"), Map(
      "GeneralInformation/Title" -> s"${s("SiteCode")} ${s("VariableCode")}",
      "GeneralInformation/MetadataCreationDate" -> "2024-01-01",
      "SiteInformation/SiteCode" -> s("SiteCode"),
      "SiteInformation/SiteName" -> s("SiteName"),
      "SiteInformation/GeographicCoordinates/Latitude" -> s("Latitude"),
      "SiteInformation/GeographicCoordinates/Longitude" -> s("Longitude"),
      "VariableInformation/VariableCode" -> s("VariableCode"),
      "VariableInformation/VariableName" -> s("VariableName"),
      "VariableInformation/NoDataValue" -> s("NoDataValue"),
      "VariableInformation/PeriodOfRecord/BeginDateTime" -> s("BeginDateTime"),
      "VariableInformation/PeriodOfRecord/EndDateTime" -> s("EndDateTime"),
      "VariableInformation/PeriodOfRecord/ValueCount" -> s("ValueCount"),
      "MethodInformation/MethodDescription" -> s("MethodDescription"),
      "SourceInformation/Organization" -> s("Organization"),
      "SourceInformation/Citation" -> s("Citation"),
      "QualityControlLevelInformation/QualityControlLevelCode" -> s("Code"),
      "QualityControlLevelInformation/Definition" -> s("Definition")))
  }

  /** Land a delta as one parquet file in the stream's source directory:
    * written aside, then moved in, so the source never lists a partial
    * file. */
  private def land(rows: Seq[Odm.DataValue], srcDir: String,
      name: String): Unit = Trace.aux {
    import spark.implicits._
    val stage = s"$root/landing/$name"
    rows.toDS().coalesce(1).write.parquet(stage)
    val part = listDir(Paths.get(stage))
      .find(_.getFileName.toString.endsWith(".parquet")).get
    Files.createDirectories(Paths.get(srcDir))
    Files.move(part, Paths.get(srcDir, s"$name.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    deleteTree(Paths.get(stage))
  }

  private def incremental(c: Int, j: Int, pass: Pass, r: Recorder): Unit = {
    val src = s"${pass.out}-src"
    land(deltaRows(c, j), src, s"delta-$j")
    r.op("publish_incr") {
      Trace.layer("streaming.run") {
        StreamingPublish.run(
          withCodes(spark.readStream.schema(base.schema).parquet(src)),
          spec, pass.out, pass.headers, s"${pass.out}-ckpt")
      }
    }
  }

  def warmup(r: Recorder): Unit = {
    val p = fullPublication(s"$root/pub/warm", withCodes(base), Some("warm"))
    // every later full publication must reproduce these bytes
    firstDigest = Some(passDigest(p))
    incremental(-1, 0, p, r)
  }

  def cycle(i: Int, r: Recorder): Unit = {
    val out = s"$root/pub/c$i"
    val pass = r.op("publish_full") {
      fullPublication(out, withCodes(base), Some("gamut"))
    }
    if (Trace.on && csvBytes.isEmpty)
      csvBytes += pass.written.map(p => Files.size(Paths.get(p))).sum
    r.check(s"full publication $i has the warm-up publication's digest")(
      firstDigest.contains(passDigest(pass)))
    (0 until IncrPerCycle).foreach(j => incremental(i, j, pass, r))
    if (i == 0) {
      // effectively-once: each appended file equals a fresh publication
      // of base ∪ deltas (chunks no delta touched are covered by the
      // digest check above)
      val deltas = (0 until IncrPerCycle).flatMap(deltaRows(0, _))
      val touched = deltas.map(d => (d.SiteID, d.SourceID,
        d.QualityControlLevelID)).distinct
      val union = base.unionByName(spark.createDataFrame(deltas))
        .filter(touched.map { case (s, src, q) => col("SiteID") === s &&
          col("SourceID") === src && col("QualityControlLevelID") === q }
          .reduce(_ || _))
      val ref = Trace.aux(Publish.publishChunks(spark, withCodes(union),
        spec, s"$root/pub/reference", pass.headers))
      r.check("incremental runs equal a fresh publication of base ∪ deltas")(
        ref.size == touched.size && ref.forall { case (_, p, _) =>
          java.util.Arrays.equals(Files.readAllBytes(Paths.get(p)),
            Files.readAllBytes(Paths.get(pass.out,
              Paths.get(p).getFileName.toString)))
        })
    }
    deleteTree(Paths.get(s"$root/pub/reference"))
    deleteTree(Paths.get(s"$out-src"))
    deleteTree(Paths.get(s"$out-ckpt"))
    if (i > 0) deleteTree(Paths.get(out))
  }

  def finish(r: Recorder): Unit = {
    val up = new LocalDirUploader(s"$root/remote")
    r.check("the resource holds every chunk's CSV and XML and is public")(
      up.listFiles("gamut").size == 2 * chunks.size && up.isPublic("gamut"))
  }

  def named(r: Recorder): Seq[Metric] = {
    val (tail, _) = Stats.tail(r.of("publish_incr"))
    Seq(Metric("publish_full_s", Stats.median(r.of("publish_full")), "s"),
      Metric("publish_incr_s", Stats.median(r.of("publish_incr")), "s"),
      Metric("publish_incr_tail_s", tail, "s"))
  }

  def layers(t: TraceView): Seq[Metric] = {
    val pubs = t.named("pipeline.publish")
    val firstPub = t.within("pipeline.publish", t.first).head
    val runs = t.named("streaming.run")
    val firstRun = t.within("streaming.run", t.first).head
    val progress = t.l.streams.synchronized(t.l.streams.progress.toSeq)
    val started = t.l.streams.synchronized(t.l.streams.started.toMap)
    // per incremental run: its query runs' progress, summed by phase
    val opOfRun = runs.map(s => s.op -> s).toMap
    val perRun = opOfRun.keys.toSeq.map { op =>
      val ids = started.collect { case (id, (o, _)) if o == op => id }.toSet
      op -> progress.filter(p => ids(p.runId))
    }.toMap
    def phase(k: String) = t.med(perRun.values.toSeq.map(
      _.map(_.durations.getOrElse(k, 0L)).sum.toDouble))
    val startMs = runs.flatMap { s =>
      started.values.collect { case (o, ms) if o == s.op =>
        (ms - s.startMs).toDouble }
    }
    val firstOp = firstRun.op
    Seq(
      Metric("pipeline.publish_s", t.med(pubs.map(_.durS)), "s"),
      Metric("pipeline.jobs_per_chunk",
        t.jobs(firstPub).size.toDouble / chunks.size, "count"),
      Metric("pipeline.driver_gap_s", t.med(pubs.map(t.driverGap)), "s"),
      Metric("catalog.build_s", t.med(t.durs("catalog.build")), "s"),
      Metric("io.xml_s", t.med(t.durs("io.xml")), "s"),
      Metric("io.upload_s", t.med(t.durs("io.upload")), "s"),
      Metric("io.csv_bytes", csvBytes.headOption.getOrElse(0L).toDouble,
        "bytes"),
      Metric("streaming.run_s", t.med(runs.map(_.durS)), "s"),
      Metric("streaming.start_ms", t.med(startMs), "ms"),
      Metric("streaming.latest_offset_ms", phase("latestOffset"), "ms"),
      Metric("streaming.query_planning_ms", phase("queryPlanning"), "ms"),
      Metric("streaming.add_batch_ms", phase("addBatch"), "ms"),
      Metric("streaming.wal_commit_ms", phase("walCommit"), "ms"),
      Metric("streaming.commit_offsets_ms", phase("commitOffsets"), "ms"),
      Metric("streaming.batches_per_run",
        perRun.getOrElse(firstOp, Nil).count(_.inputRows > 0).toDouble,
        "count"),
      Metric("streaming.jobs_per_run", t.jobs(firstRun).size.toDouble,
        "count"),
      Metric("io.tail_probe_reads", TraceView.fsDeltas.head("csv_open").toDouble /
        IncrPerCycle, "count"))
  }

  override def info: Map[String, Any] = Map("chunks" -> chunks.size,
    "base_rows" -> BaseSteps * chunks.size * Vars,
    "incr_per_cycle" -> IncrPerCycle)

  /** Digest of a publication's CSV and XML bytes, in chunk order. */
  private def passDigest(pass: Pass): String = {
    val md = MessageDigest.getInstance("SHA-256")
    (pass.written ++ pass.written.map(_.stripSuffix(".csv") + ".xml"))
      .sortBy(p => Paths.get(p).getFileName.toString)
      .foreach(p => md.update(Files.readAllBytes(Paths.get(p))))
    md.digest().take(12).map("%02x".format(_)).mkString
  }
}

object OdmPublish {
  final case class Pass(out: String, headers: Map[Seq[Any], Seq[String]],
      written: Seq[String])

  val Sites = 3
  val Sources = 1
  val Qcs = 2
  val Vars = 8
  val BaseSteps = 600 // ~6 days of 15-minute steps
  val DeltaSteps = 96  // one day per scheduled run
  val IncrPerCycle = 3
  val ChunksPerDelta = 3
}
