package graft.bench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** In-memory spans around the benchmark's calls into each layer, plus
  * the Spark listeners and the counting filesystem that turn them into
  * per-layer numbers. Everything here is inert unless `on` is set, and
  * `on` is only ever set in a `--trace 1` run, so timed runs carry no
  * tracing work.
  *
  * A span's jobs are found through the job description, which the span
  * sets on the calling thread: Spark copies it to the threads an engine
  * call starts (the publish chunk pool, `Par.both`), so jobs on those
  * threads attribute exactly. Jobs whose description was replaced
  * (Structured Streaming sets its own per micro-batch) fall back to the
  * innermost span whose interval holds the job's submission time.
  */
object Trace {
  @volatile var on = false

  final case class Span(id: Int, name: String, parent: Int, op: Int,
      startMs: Long, endMs: Long, durS: Double)

  val Prefix = "graft-bench-span:"
  val AuxDesc = "graft-bench-aux"

  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  /** Id of the open operation span (-1 outside operations); read by the
    * streaming listener to tie a query run to its operation. */
  @volatile var currentOp = -1

  def layer[A](name: String)(body: => A): A =
    if (!on) body else span(name)(body)

  def span[A](name: String, isOp: Boolean = false)(body: => A): A = {
    val sc = SparkSession.active.sparkContext
    val id = { nextId += 1; nextId }
    val parent = stack.headOption.getOrElse(-1)
    val prevOp = currentOp
    if (isOp) currentOp = id
    val prevDesc = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(Prefix + id)
    stack = id :: stack
    val m0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val dur = (System.nanoTime() - t0) / 1e9
      stack = stack.tail
      sc.setJobDescription(prevDesc)
      spans += Span(id, name, parent, if (isOp) id else currentOp, m0,
        System.currentTimeMillis(), dur)
      if (isOp) currentOp = prevOp
    }
  }

  /** Benchmark-internal work (output checks, trace-only counts): its
    * jobs are excluded from every per-layer number. */
  def aux[A](body: => A): A = {
    val sc = SparkSession.active.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    val wasCounting = counting
    sc.setJobDescription(AuxDesc)
    counting = false
    try body finally {
      sc.setJobDescription(prev)
      counting = wasCounting
    }
  }

  /** Off while benchmark-internal work runs, so filesystem counts are the
    * engine's alone (operations never overlap that work). */
  @volatile var counting = true

  // ---- Spark listener: jobs with their task totals ---------------------
  final case class Job(id: Int, span: Int, aux: Boolean, startMs: Long) {
    var endMs: Long = -1
    var taskS, gcS = 0.0
    var inBytes, shuffleBytes, outBytes = 0L
  }

  final class JobListener extends SparkListener {
    val jobs = mutable.LinkedHashMap.empty[Int, Job]
    private val stageJob = mutable.Map.empty[Int, Int]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      val span = if (desc.startsWith(Prefix))
        desc.stripPrefix(Prefix).toInt else -1
      jobs(e.jobId) = Job(e.jobId, span, desc == AuxDesc, e.time)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      for (j <- stageJob.get(e.stageId).flatMap(jobs.get);
           m <- Option(e.taskMetrics)) {
        j.taskS += m.executorRunTime / 1e3
        j.gcS += m.jvmGCTime / 1e3
        j.inBytes += m.inputMetrics.bytesRead
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        j.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  // ---- SQL listener: planning phases per query execution ---------------
  final case class Query(startMs: Long, analysisMs: Long,
      optimizationMs: Long, planningMs: Long, nodes: Int)

  final class QueryListener extends QueryExecutionListener {
    val queries = mutable.ArrayBuffer.empty[Query]
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val start = ph.values.map(_.startTimeMs).minOption
        .getOrElse(System.currentTimeMillis())
      val nodes = qe.analyzed.collect { case p => p }.size
      synchronized {
        queries += Query(start, ms("analysis"), ms("optimization"),
          ms("planning"), nodes)
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  // ---- streaming listener: micro-batch phases per query run -------------
  final case class Progress(runId: String, inputRows: Long,
      durations: Map[String, Long])

  final class StreamListener extends StreamingQueryListener {
    /** runId → (operation span id, ms from operation start to start). */
    val started = mutable.Map.empty[String, (Int, Long)]
    val progress = mutable.ArrayBuffer.empty[Progress]
    override def onQueryStarted(
        e: StreamingQueryListener.QueryStartedEvent): Unit = synchronized {
      started(e.runId.toString) = (currentOp, System.currentTimeMillis())
    }
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
      progress += Progress(e.progress.runId.toString,
        e.progress.numInputRows,
        e.progress.durationMs.asScala.map { case (k, v) =>
          k -> v.longValue }.toMap)
    }
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(
        e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  }

  final class Listeners(spark: SparkSession) {
    val jobs = new JobListener
    val queries = new QueryListener
    val streams = new StreamListener
    spark.sparkContext.addSparkListener(jobs)
    spark.listenerManager.register(queries)
    spark.streams.addListener(streams)

    /** Wait until every posted event has reached the listeners. */
    def drain(): Unit =
      org.apache.spark.BenchBus.drain(spark.sparkContext)
  }
}

/** Counting wrapper over Hadoop's local filesystem, registered as the
  * `file` scheme only in a traced run's session. Counts are taken at the
  * `FileSystem` API, so they include calls Hadoop makes on itself (the
  * checksum side files go to the raw filesystem and are not counted).
  */
final class CountingLocalFs extends LocalFileSystem {
  import CountingLocalFs._

  override def listStatus(f: Path): Array[FileStatus] = {
    bump("list"); super.listStatus(f)
  }
  override def getFileStatus(f: Path): FileStatus = {
    bump("status"); super.getFileStatus(f)
  }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    bump("open")
    if (f.getName.endsWith(".csv")) bump("csv_open")
    super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream = {
    bump("create")
    // WriterLease's content heartbeat is staged as `.hb.<token>`
    if (f.getName.startsWith(".hb.")) bump("heartbeat")
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    bump("rename"); super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    bump("delete"); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    bump("mkdirs"); super.mkdirs(f, permission)
  }
  // the checksummed filesystem sends this overload straight to the raw one
  override def mkdirs(f: Path): Boolean = {
    bump("mkdirs"); super.mkdirs(f)
  }
}

object CountingLocalFs {
  val Kinds = Seq("list", "status", "open", "create", "rename", "delete",
    "mkdirs", "heartbeat", "csv_open")
  private val counts = Kinds.map(_ -> new AtomicLong).toMap
  private def bump(k: String): Unit =
    if (Trace.on && Trace.counting) counts(k).incrementAndGet()
  def snapshot(): Map[String, Long] = counts.map { case (k, v) =>
    k -> v.get }
}
