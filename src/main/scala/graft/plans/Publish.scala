package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.CsvHeaderSink
import graft.operators.PivotOps

/** The reference's headless publication pipeline (§3.1 of SURVEY.md):
  * catalog → chunk → filter+pivot → header → CSV file per chunk, with
  * incremental resume (reference: H2OService._generate_datasets,
  * src/Utilities/H2OServices.py:102-207; BuildCsvFile,
  * src/Utilities/DatasetUtilities.py:208-364).
  *
  * Two write paths:
  *  - [[publishChunks]] — faithful: one single-file CSV (with `#`
  *    metadata header) per chunk key. Chunk keys are enumerated from a
  *    small distinct() (the catalog is dim-sized). A published series
  *    file is small by construction and written by one task, so each
  *    chunk is shuffled to ONE partition before its pivot and sorted
  *    within it: one exchange and one write per chunk, no
  *    range-sampling job. Chunks are independent, so a driver thread
  *    pool runs them concurrently.
  *  - [[publishPartitioned]] — scale: one `partitionBy(chunk keys)`
  *    parquet/csv write, all chunks in a single distributed job. This is
  *    the 100 TB path; the faithful path exists for byte-format parity.
  *
  * Resume (§2.10): [[publishChunks]] probes each existing output file
  * for its max timestamp on the driver (no Spark job) and appends only
  * newer rows, headerless — exactly the reference's
  * disabled-but-designed incremental mode.
  */
object Publish {

  final case class ChunkSpec(
      chunkKeys: Seq[String],      // grouping columns, one file per value
      indexCol: String,            // time index of the wide frame
      pivotKey: String,            // long→wide pivot column
      valueCol: String,            // measure
      domain: Seq[String],         // explicit pivot domain (dim-derived)
      sentinels: Map[String, Double]) // per-column NoDataValue for the sink

  object ChunkSpec {
    /** Uniform-sentinel convenience. */
    def apply(chunkKeys: Seq[String], indexCol: String, pivotKey: String,
        valueCol: String, domain: Seq[String],
        sentinel: Double): ChunkSpec =
      ChunkSpec(chunkKeys, indexCol, pivotKey, valueCol, domain,
        domain.map(_ -> sentinel).toMap)
  }

  /** F9 — output filename composition
    * (reference: DatasetUtilities.py:247-264).
    */
  def fileName(siteCode: String, varCode: String, sourceId: Int, qc: Int,
      year: Option[Int] = None): String =
    s"${siteCode}_${varCode}_SourceID_${sourceId}_QC_$qc" +
      year.map(y => s"_Year_$y").getOrElse("") + ".csv"

  /** Collision-free chunk filename: each key value is percent-escaped
    * ('%' then '_' then '/') BEFORE joining with '_', so values
    * containing the separator (the reference's site codes do, e.g.
    * "LR_Mendon") cannot alias another chunk's path. Without this, two
    * distinct chunk keys could map to one file — which under the
    * parallel writer would be a concurrent-write race on the same CSV.
    * '/' must be escaped for a different reason: un-escaped it nests
    * the file OUTSIDE the flat output layout (and "../x" would escape
    * outDir entirely), while the uploader keys remote files by
    * BASENAME, so "a/b" and "b" would silently overwrite each other's
    * remote copy.
    */
  def chunkFileName(cv: Seq[Any]): String =
    cv.map(_.toString.replace("%", "%25").replace("_", "%5F")
        .replace("/", "%2F"))
      .mkString("_") + ".csv"

  /** One chunk's wide frame: filter → one partition → pivot → sentinel
    * fill → sort within that partition. The single partition satisfies
    * the pivot's grouping without a second exchange, and sorting it is a
    * total order, so the sink's `coalesce(1)` writes it as is.
    */
  def wideChunk(fact: DataFrame, spec: ChunkSpec,
      chunkValue: Seq[Any]): DataFrame = {
    val filtered = spec.chunkKeys.zip(chunkValue).foldLeft(fact) {
      case (df, (k, v)) => df.filter(col(k) === lit(v))
    }.repartition(1)
    // duplicate cells average as exact integer cents (centsOf →
    // centsMean): deterministic under any partition order, where the
    // old round(avg(double), 2) default was the playbook's
    // engine-round trap
    val wide = PivotOps.pivotWide(filtered, Seq(col(spec.indexCol)),
      col(spec.pivotKey), spec.domain, col(spec.valueCol),
      v => PivotOps.centsMean(PivotOps.centsOf(v)))
    PivotOps.fillSentinels(wide, spec.sentinels)
      .sortWithinPartitions(col(spec.indexCol))
  }

  /** Faithful per-chunk publication with incremental resume. Returns the
    * list of (chunkValue, path, appended) actually written, in chunk
    * order.
    *
    * Chunks are independent Spark jobs, so they run on a bounded driver
    * thread pool (`parallelism`, default 4): the scheduler interleaves
    * their stages across executor cores instead of serializing job
    * barriers — on a cluster this is the difference between one chunk's
    * tail latency and the sum of all of them. Spark job submission is
    * thread-safe; results are re-ordered to chunk order so output is
    * deterministic regardless of completion order. Every chunk has
    * settled before the call returns: a failure is rethrown (the first
    * in chunk order) only after the sibling writes have finished, so no
    * write outlives the call or the caller's cleanup.
    */
  def publishChunks(spark: SparkSession, fact: DataFrame, spec: ChunkSpec,
      outDir: String, headerFor: Seq[Any] => Seq[String],
      parallelism: Int = 4): Seq[(Seq[Any], String, Boolean)] = {
    val chunkVals = fact
      .select(spec.chunkKeys.map(col): _*).distinct()
      .coalesce(1).sortWithinPartitions(spec.chunkKeys.map(col): _*)
      .collect().map(_.toSeq).toSeq
    // fail loudly on NULL chunk keys: the filename composition would
    // NPE inside a Future, and wideChunk's `===` filter can never
    // match a null anyway — rows with null keys are unpublishable
    // under this layout, which the caller must resolve, not discover
    // as a concurrency stack trace
    val nullChunks = chunkVals.filter(_.exists(_ == null))
    require(nullChunks.isEmpty,
      s"publishChunks: NULL in chunk key(s) ${spec.chunkKeys.mkString(",")} " +
        s"for ${nullChunks.size} chunk value(s); filter or fill them first")
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(parallelism, chunkVals.size)))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val futures = chunkVals.map { cv =>
        Future {
          val path = s"$outDir/${chunkFileName(cv)}"
          val wide = wideChunk(fact, spec, cv)
          CsvHeaderSink.tailProbe(spark, path, spec.indexCol) match {
            case Some(lastTs) =>
              val fresh = wide.filter(col(spec.indexCol) > lit(lastTs))
              CsvHeaderSink.append(fresh, path)
              (cv, path, true)
            case None =>
              CsvHeaderSink.write(wide, headerFor(cv), path)
              (cv, path, false)
          }
        }
      }
      futures.map(Await.ready(_, Duration.Inf).value.get).map(_.get)
    } finally pool.shutdown()
  }

  /** §3.1 end-to-end including the upload leg: publish all chunks, then
    * push the finished files to the resource store with the reference's
    * delete-then-add contract and set the resource public
    * (reference: H2OService._upload_files, H2OServices.py:209-270 →
    * HydroShareUtility deleteResourceFile/addResourceFile/
    * setAccessRules).
    */
  def publishAndUpload(spark: SparkSession, fact: DataFrame,
      spec: ChunkSpec, outDir: String,
      headerFor: Seq[Any] => Seq[String],
      uploader: graft.io.ResourceUploader, resourceId: String,
      parallelism: Int = 4): Seq[(Seq[Any], String, Boolean)] = {
    val written =
      publishChunks(spark, fact, spec, outDir, headerFor, parallelism)
    uploader.uploadFiles(resourceId, written.map(_._2))
    uploader.setPublic(resourceId)
    written
  }

  /** Scale path: all chunks in one distributed job via partitionBy. */
  def publishPartitioned(fact: DataFrame, spec: ChunkSpec,
      outDir: String): Unit = {
    // SAME null-chunk-key contract as publishChunks: without it the
    // two documented parity paths diverge on identical input — the
    // faithful path refuses while this one would silently write the
    // rows into __HIVE_DEFAULT_PARTITION__ directories no
    // chunkFileName ever names. One column-pruned existence check.
    val nulls = spec.chunkKeys
      .map(k => col(k).isNull)
      .reduce(_ || _)
    require(fact.filter(nulls).isEmpty,
      "publishPartitioned: NULL in chunk key(s) " +
        s"${spec.chunkKeys.mkString(",")}; filter or fill them first " +
        "(same contract as publishChunks)")
    val wide = PivotOps.pivotWide(fact,
      (spec.chunkKeys :+ spec.indexCol).map(col),
      col(spec.pivotKey), spec.domain, col(spec.valueCol),
      v => PivotOps.centsMean(PivotOps.centsOf(v)))
    PivotOps.fillSentinels(wide, spec.sentinels)
      .repartition(spec.chunkKeys.map(col): _*)
      // the partitioned writer REQUIRES ordering by the partition
      // columns and inserts its own (non-stable) sort when the child
      // doesn't provide it — a bare indexCol sort here would be
      // discarded under that inserted sort. Leading with the chunk
      // keys satisfies the writer's requirement as a prefix, so no
      // extra sort runs and every output file stays time-ordered
      // (the same trick as LayoutOps.writeGenerationPacked).
      .sortWithinPartitions(
        (spec.chunkKeys :+ spec.indexCol).map(col): _*)
      .write.mode("overwrite")
      .partitionBy(spec.chunkKeys: _*)
      .option("header", "true")
      .csv(outDir)
  }
}
