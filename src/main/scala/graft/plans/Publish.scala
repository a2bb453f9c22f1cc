package graft.pipeline

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.InterpretedOrdering
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructType, TimestampType}

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
  *    metadata header) per chunk key, all chunks rendered by ONE query.
  *    Each chunk lies inside one hash partition of the chunk keys, so
  *    the driver streams the result partition by partition and writes
  *    each file as its rows pass; the published bytes cross the driver
  *    once.
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
    * distinct chunk keys could map to one file, and the later chunk
    * would overwrite or append to the earlier one's CSV.
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

  /** Faithful per-chunk publication with incremental resume. Returns
    * (chunkValue, path, appended) for every chunk of `fact`, in Spark's
    * ascending order of the chunk-key values.
    *
    * One query per call: the fact is hash-partitioned by the chunk
    * keys, pivoted on (chunk keys, index) — a grouping that partitioning
    * already satisfies, so no second exchange — sentinel-filled, sorted
    * within each partition by (chunk keys, index), and each row rendered
    * to its CSV line in the executors. `toLocalIterator` streams the
    * result one partition at a time; every chunk lies inside one
    * partition, contiguous and in index order, so the driver writes each
    * chunk file as its rows pass: [[CsvHeaderSink.tailProbe]], then the
    * rows strictly newer than the tail appended (none: the file is left
    * as it is), or, without a tail, the header, the column-header line
    * and every row. Each published byte crosses the driver once.
    *
    * NULL chunk keys are refused in the shuffle's map stage, which has
    * read every input row before the first result partition reaches the
    * driver, so no file is written. A chunk that fails (its header, its
    * file) does not stop the others: every chunk settles, then the first
    * failure in chunk order is rethrown.
    */
  def publishChunks(spark: SparkSession, fact: DataFrame, spec: ChunkSpec,
      outDir: String, headerFor: Seq[Any] => Seq[String])
      : Seq[(Seq[Any], String, Boolean)] = {
    val n = spec.chunkKeys.size
    val keys = spec.chunkKeys.map(col)
    val nullKeys = s"publishChunks: NULL in chunk key(s) " +
      s"${spec.chunkKeys.mkString(",")}; filter or fill them first"
    val guarded = spec.chunkKeys.foldLeft(fact) { (df, k) =>
      df.withColumn(k, coalesce(col(k), raise_error(lit(nullKeys))))
    }
    // duplicate cells average as exact integer cents (centsOf →
    // centsMean): deterministic under any partition order
    val wide = PivotOps.fillSentinels(
      PivotOps.pivotWide(guarded.repartition(keys: _*),
        keys :+ col(spec.indexCol), col(spec.pivotKey), spec.domain,
        col(spec.valueCol), v => PivotOps.centsMean(PivotOps.centsOf(v))),
      spec.sentinels)
      .sortWithinPartitions(keys :+ col(spec.indexCol): _*)
    val data = StructType(wide.schema.fields.drop(n))
    val lines = wide.select(keys ++ Seq(
      unix_micros(col(spec.indexCol).cast(TimestampType)),
      CsvHeaderSink.csvLine(data.fields.toSeq)): _*)
    val keySchema = StructType(wide.schema.fields.take(n))
    val toKey = CatalystTypeConverters.createToCatalystConverter(keySchema)
    val order = InterpretedOrdering.forSchema(keySchema.map(_.dataType))
    def keyOf(r: Row) =
      toKey(Row.fromSeq(r.toSeq.take(n))).asInstanceOf[InternalRow]
    val columnLine = CsvHeaderSink.columnHeader(data)

    def publishOne(cv: Seq[Any], rows: Iterator[Row]) = {
      val path = s"$outDir/${chunkFileName(cv)}"
      CsvHeaderSink.tailProbe(spark, path, spec.indexCol) match {
        case Some(tail) =>
          val after = DateTimeUtils.fromJavaTimestamp(tail)
          val fresh = rows.filter(r => !r.isNullAt(n) && r.getLong(n) > after)
          if (fresh.hasNext) CsvHeaderSink.writeLines(path, "",
            fresh.map(_.getString(n + 1)), append = true)
          (cv, path, true)
        case None =>
          CsvHeaderSink.writeLines(path,
            headerFor(cv).map(l => s"# $l\n").mkString + columnLine,
            rows.map(_.getString(n + 1)))
          (cv, path, false)
      }
    }

    val settled =
      Seq.newBuilder[(InternalRow, Try[(Seq[Any], String, Boolean)])]
    try {
      val it = lines.toLocalIterator().asScala.buffered
      while (it.hasNext) {
        val key = keyOf(it.head)
        val rows = new Iterator[Row] {
          def hasNext = it.hasNext && order.equiv(keyOf(it.head), key)
          def next() = it.next()
        }
        val cv = it.head.toSeq.take(n)
        settled += key -> Try(publishOne(cv, rows))
        rows.foreach(_ => ()) // a failed chunk's remaining rows
      }
    } catch {
      case e: Exception if Iterator.iterate[Throwable](e)(_.getCause)
          .takeWhile(_ != null).exists(t =>
            Option(t.getMessage).exists(_.contains(nullKeys))) =>
        throw new IllegalArgumentException(nullKeys, e)
    }
    settled.result().sortWith((a, b) => order.lt(a._1, b._1)).map(_._2.get)
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
      uploader: graft.io.ResourceUploader, resourceId: String)
      : Seq[(Seq[Any], String, Boolean)] = {
    val written = publishChunks(spark, fact, spec, outDir, headerFor)
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
