package graft.bench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal


/** A metric as printed: name, value, unit. */
final case class Metric(name: String, value: Double, unit: String)

/** Times operations and counts failures. An operation is one thing a
  * user of the workload waits for; its wall time is one sample. Output
  * checks that fail count as failures too.
  */
final case class Sample(kind: String, s: Double, traced: Boolean,
    cycle: Int)

final class Recorder {
  val samples = mutable.ArrayBuffer.empty[Sample]
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer.empty[String]
  var cycle = -1
  private val counted = java.util.Collections.newSetFromMap(
    new java.util.IdentityHashMap[Throwable, java.lang.Boolean])

  /** Count a failure that happened outside an operation (once). */
  def fail(e: Throwable, where: String): Unit = if (counted.add(e)) {
    failed += 1
    failures += s"$where: $e"
  }

  def op[A](kind: String)(body: => A): A = {
    attempted += 1
    val traced = Trace.on
    val t0 = System.nanoTime()
    val a = try {
      if (traced) Trace.span(s"op.$kind", isOp = true)(body) else body
    } catch {
      case NonFatal(e) => fail(e, kind); throw e
    }
    samples += Sample(kind, (System.nanoTime() - t0) / 1e9, traced, cycle)
    a
  }

  def check(what: String)(ok: => Boolean): Unit = {
    val good = try Trace.aux(ok) catch {
      case NonFatal(e) => System.err.println(s"[bench] check $what: $e"); false
    }
    if (!good) { failed += 1; failures += s"check failed: $what" }
  }

  def of(kind: String, traced: Boolean = false): Seq[Double] =
    samples.collect { case s if s.kind == kind && s.traced == traced => s.s }
      .toSeq

  /** Sum of the timed operations of each untraced cycle. */
  def cycles: Seq[Double] =
    samples.filter(s => !s.traced && s.cycle >= 0)
      .groupBy(_.cycle).values.map(_.map(_.s).sum).toSeq
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The highest whole percentile with at least ten samples above it,
    * with that percentile. Below twenty samples that percentile would
    * not lie above the median, so the maximum is reported instead, as
    * percentile 100. */
  def tail(xs: Seq[Double]): (Double, Int) = {
    val n = xs.size
    if (n < 20) (if (xs.isEmpty) Double.NaN else xs.max, 100)
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      (quantile(xs, p / 100.0), p)
    }
  }
}

/** One user's closed loop: set-up, one untimed warm-up of every
  * operation kind, then cycles of timed operations, then output checks.
  */
trait Workload {
  /** The frequent operation whose median and tail are `step_ms`. */
  def stepKind: String
  def setup(root: String): Unit
  /** Drop the state of a set-up repetition that is not kept. */
  def discard(): Unit
  def warmup(r: Recorder): Unit
  def cycle(i: Int, r: Recorder): Unit
  def finish(r: Recorder): Unit
  /** Digest of the generated inputs for a seed (pure, no Spark). */
  def inputDigest(seed: Long): String
  /** The workload's own named end-to-end metrics. */
  def named(r: Recorder): Seq[Metric]
  /** Per-layer metrics from the traced cycles. */
  def layers(t: TraceView): Seq[Metric]
  def info: Map[String, Any] = Map.empty
}

object Main {
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, out: String, root: String, launchMs: Long)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt,
      m("trace") == "1", m("out"), m("root"), m("launch-ms").toLong)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    launchMs = a.launchMs
    val cpus = Runtime.getRuntime.availableProcessors
    val b = graft.Sessions.builder(s"graft-bench-${a.workload}",
        cpus.toString)
      .config("spark.hadoop.hadoop.tmp.dir", s"${a.root}/hadoop-tmp")
    if (a.trace) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFs].getName)
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    if (a.trace) require(org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI("file:///"),
        spark.sparkContext.hadoopConfiguration).isInstanceOf[CountingLocalFs],
      "the traced session did not pick up the counting filesystem")
    val sparkReadyS = (System.currentTimeMillis() - a.launchMs) / 1e3
    val wl: Workload = a.workload match {
      case "odm_publish" => new OdmPublish(spark, a.seed)
      case "qc_edit" => new QcEdit(spark, a.seed)
      case "corpus_ingest" => new CorpusIngest(spark, a.seed)
      case w => sys.error(s"unknown workload $w")
    }
    phase("spark ready")
    val listeners = if (a.trace) Some(new Trace.Listeners(spark)) else None
    val rec = new Recorder

    val setupTimes = (0 until SetupReps).map { rep =>
      if (rep > 0) wl.discard()
      settle()
      // the kept (last) set-up is the one whose builds are traced
      Trace.on = a.trace && rep == SetupReps - 1
      val t0 = System.nanoTime()
      try Trace.layer("setup")(wl.setup(s"${a.root}/state$rep"))
      finally Trace.on = false
      (System.nanoTime() - t0) / 1e9
    }
    phase("set-up done")
    val w0 = System.nanoTime()
    wl.warmup(rec)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sparkReadyS + Stats.median(setupTimes) + warmS
    rec.samples.clear(); rec.attempted = 0

    phase("warm-up done")
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    var i = 0
    // a traced run needs a traced and an untraced cycle
    while (i < (if (a.trace) 2 else 1) || System.nanoTime() < deadline) {
      settle()
      rec.cycle = i
      // a traced run alternates traced and untraced cycles, so the
      // tracing overhead is measured on the same state and data
      Trace.on = a.trace && i % 2 == 0
      try {
        if (Trace.on)
          TraceView.sampled(Trace.span("cycle")(wl.cycle(i, rec)))
        else wl.cycle(i, rec)
      } catch {
        case NonFatal(e) =>
          rec.fail(e, s"cycle $i")
          System.err.println(s"[bench] cycle $i failed: $e")
          e.printStackTrace()
      } finally Trace.on = false
      i += 1
      phase(s"cycle $i done")
    }
    rec.cycle = -1
    wl.finish(rec)

    phase("checks done")
    // self-check: the generator is a pure function of the seed
    val d0 = wl.inputDigest(a.seed)
    rec.check("same seed gives the same input digest")(
      wl.inputDigest(a.seed) == d0)
    rec.check("another seed gives another input digest")(
      wl.inputDigest(a.seed + 1) != d0)

    val step = rec.of(wl.stepKind)
    val (tail, tailPct) = Stats.tail(step)
    val e2e = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("step_ms", Stats.median(step) * 1e3, "ms"),
      Metric("cycle_s", mean(rec.cycles), "s"))
    val named = Metric("setup_s", setupS, "s") +:
      Metric("error_rate", rec.failed.toDouble / math.max(1, rec.attempted),
        "ratio") +: wl.named(rec)

    val perLayer = listeners.map { l =>
      l.drain()
      val tv = new TraceView(l)
      val stepT = rec.of(wl.stepKind, traced = true)
      tv.sparkWide() ++ wl.layers(tv) ++ Seq(
        Metric("trace.overhead_ratio",
          Stats.median(stepT) / Stats.median(step), "ratio"),
        Metric("step_tail_ms", tail * 1e3, "ms"))
    }.getOrElse(Nil)
    settle()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      .getUsed / 1048576.0
    val endOfRun = Seq(
      Metric("jvm.live_heap_mb", heapMb, "MB"),
      Metric("spark.cached_rdds_end",
        spark.sparkContext.getPersistentRDDs.size.toDouble, "count"))

    val rt = ManagementFactory.getRuntimeMXBean
    val result = Map(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "attempted" -> rec.attempted, "failed" -> rec.failed,
      "failures" -> rec.failures.toSeq,
      "cycles" -> i,
      "input_digest" -> d0,
      "step_samples" -> step.size,
      "step_tail_percentile" -> tailPct,
      "step_tail_ms" -> tail * 1e3,
      "setup_reps_s" -> setupTimes,
      "spark_ready_s" -> sparkReadyS,
      "warmup_s" -> warmS,
      "samples" -> rec.samples.groupBy(s => (s.kind, s.traced)).map {
        case ((k, t), ss) => (if (t) s"$k.traced" else k) -> ss.size },
      "env" -> Map("nproc" -> cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "heap_args" -> rt.getInputArguments.asScala.filter(_.startsWith("-Xm")).toSeq,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version),
      "info" -> wl.info,
      "end_to_end" -> metricsJson(e2e),
      "named" -> metricsJson(named),
      "per_layer" -> metricsJson(
        if (a.trace) PerLayer.complete(perLayer ++ endOfRun) else endOfRun),
      "spans" -> Trace.spans.groupBy(_.name).map { case (n, ss) =>
        n -> Map("count" -> ss.size, "total_s" -> ss.map(_.durS).sum) })
    Files.writeString(Paths.get(a.out), Json(result))
    phase("result written")
    spark.stop()
    phase("spark stopped")
  }

  private def metricsJson(ms: Seq[Metric]): Map[String, Any] =
    ms.map(m => m.name -> Map("value" -> m.value, "unit" -> m.unit)).toMap

  private var launchMs = 0L
  def phase(what: String): Unit = System.err.println(
    f"[bench] ${(System.currentTimeMillis() - launchMs) / 1e3}%.1f s: $what")

  def mean(xs: Seq[Double]): Double = xs.sum / xs.size

  /** Settle the heap outside the timed region. */
  def settle(): Unit = { System.gc(); Thread.sleep(50) }
}

object Fs {
  def listDir(p: Path): Seq[Path] = {
    val s = Files.list(p)
    try s.iterator().asScala.toList finally s.close()
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    if (Files.isDirectory(p) && !Files.isSymbolicLink(p))
      listDir(p).foreach(deleteTree)
    Files.deleteIfExists(p)
  }
}

/** Minimal JSON rendering for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case b: Boolean => b.toString
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) =>
        apply(k.toString) + ": " + apply(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ", ", "]")
    case o => apply(o.toString)
  }
}

/** Per-layer numbers from the traced cycles: spans joined with the
  * jobs, query executions, stream progress and filesystem counts the
  * listeners recorded. "Exact" counts come from the first traced
  * cycle, which is the same work for the same seed on every run.
  */
final class TraceView(val l: Trace.Listeners) {
  val spans: Seq[Trace.Span] = Trace.spans.toSeq
  private val children = spans.groupBy(_.parent)
  private def subtree(s: Trace.Span): Seq[Trace.Span] =
    s +: children.getOrElse(s.id, Nil).flatMap(subtree)

  val cycles: Seq[Trace.Span] = spans.filter(_.name == "cycle")
    .sortBy(_.startMs)
  def first: Trace.Span = cycles.head

  def named(name: String): Seq[Trace.Span] =
    spans.filter(_.name == name)
  def within(name: String, outer: Trace.Span): Seq[Trace.Span] =
    subtree(outer).filter(_.name == name)

  /** Jobs of a span: tagged with a span of its subtree, or untagged and
    * submitted inside its interval. Benchmark-internal jobs excluded. */
  def jobs(s: Trace.Span): Seq[Trace.Job] = {
    val ids = subtree(s).map(_.id).toSet
    l.jobs.synchronized(l.jobs.jobs.values.toSeq).filter(j => !j.aux &&
      (ids(j.span) || (j.span < 0 && j.startMs >= s.startMs &&
        j.startMs <= s.endMs)))
  }

  /** Wall time of a span minus the union of its jobs' intervals. */
  def driverGap(s: Trace.Span): Double = {
    val iv = jobs(s).filter(_.endMs >= 0)
      .map(j => (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var cur = (-1L, -1L)
    iv.foreach { case (a, b) =>
      if (a > cur._2) { covered += cur._2 - cur._1; cur = (a, b) }
      else cur = (cur._1, math.max(cur._2, b))
    }
    covered += cur._2 - cur._1
    math.max(0.0, s.durS - covered / 1e3)
  }

  def maxConcurrent(s: Trace.Span): Int = {
    val ev = jobs(s).filter(_.endMs >= 0)
      .flatMap(j => Seq((j.startMs, 1), (j.endMs, -1)))
      .sortBy(e => (e._1, e._2))
    ev.scanLeft(0)(_ + _._2).max
  }

  def queries(s: Trace.Span): Seq[Trace.Query] =
    l.queries.synchronized(l.queries.queries.toSeq)
      .filter(q => q.startMs >= s.startMs && q.startMs <= s.endMs)

  def med(xs: Seq[Double]): Double = Stats.median(xs)
  def durs(name: String): Seq[Double] = named(name).map(_.durS)

  /** Spark-wide and filesystem numbers, per traced cycle. */
  def sparkWide(): Seq[Metric] = {
    val fs = TraceView.fsDeltas
    def perCycle(f: Seq[Trace.Job] => Double) = med(cycles.map(c => f(jobs(c))))
    Seq(
      Metric("spark.jobs", jobs(first).size.toDouble, "count"),
      Metric("spark.max_concurrent_jobs",
        cycles.map(maxConcurrent).max.toDouble, "count"),
      Metric("spark.driver_gap_s", med(cycles.map(driverGapOfOps)), "s"),
      Metric("spark.task_s", perCycle(_.map(_.taskS).sum), "s"),
      Metric("spark.gc_s", med(TraceView.gcDeltas.toSeq), "s"),
      Metric("spark.scan_bytes", perCycle(_.map(_.inBytes.toDouble).sum),
        "bytes"),
      Metric("spark.shuffle_bytes",
        perCycle(_.map(_.shuffleBytes.toDouble).sum), "bytes")) ++
      Seq("list", "status", "open", "create", "rename", "delete", "mkdirs")
        .map(k => Metric(s"fs.$k", med(fs.map(_(k).toDouble).toSeq), "count"))
  }

  /** Driver gap summed over a cycle's operations (untimed bench work
    * between operations is not the engine's). */
  private def driverGapOfOps(c: Trace.Span): Double =
    subtree(c).filter(s => s.name.startsWith("op.") && s.parent == c.id)
      .map(driverGap).sum
}

object TraceView {
  // filesystem counts and GC time, sampled at traced cycles' boundaries
  val fsDeltas = mutable.ArrayBuffer.empty[Map[String, Long]]
  val gcDeltas = mutable.ArrayBuffer.empty[Double]

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum

  /** Wrap a traced cycle to sample its filesystem and GC deltas. */
  def sampled[A](body: => A): A = {
    val f0 = CountingLocalFs.snapshot(); val g0 = gcMs()
    try body finally {
      val f1 = CountingLocalFs.snapshot()
      fsDeltas += f1.map { case (k, v) => k -> (v - f0(k)) }
      gcDeltas += (gcMs() - g0) / 1e3
    }
  }
}

/** Every per-layer metric with its unit. A traced run prints all of them;
  * a layer the workload never calls reads 0 (no calls, no time). */
object PerLayer {
  val all: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.max_concurrent_jobs" -> "count",
    "spark.driver_gap_s" -> "s", "spark.task_s" -> "s", "spark.gc_s" -> "s",
    "spark.scan_bytes" -> "bytes", "spark.shuffle_bytes" -> "bytes",
    "fs.list" -> "count", "fs.status" -> "count", "fs.open" -> "count",
    "fs.create" -> "count", "fs.rename" -> "count", "fs.delete" -> "count",
    "fs.mkdirs" -> "count", "jvm.live_heap_mb" -> "MB",
    "spark.cached_rdds_end" -> "count", "trace.overhead_ratio" -> "ratio",
    "step_tail_ms" -> "ms",
    // odm_publish
    "pipeline.publish_s" -> "s", "pipeline.jobs_per_chunk" -> "count",
    "pipeline.driver_gap_s" -> "s", "catalog.build_s" -> "s",
    "io.xml_s" -> "s", "io.upload_s" -> "s", "io.csv_bytes" -> "bytes",
    "streaming.run_s" -> "s", "streaming.start_ms" -> "ms",
    "streaming.latest_offset_ms" -> "ms",
    "streaming.query_planning_ms" -> "ms", "streaming.add_batch_ms" -> "ms",
    "streaming.wal_commit_ms" -> "ms", "streaming.commit_offsets_ms" -> "ms",
    "streaming.batches_per_run" -> "count",
    "streaming.jobs_per_run" -> "count", "io.tail_probe_reads" -> "count",
    // qc_edit
    "jdbc.read_s" -> "s", "edit.open_s" -> "s", "edit.analysis_ms" -> "ms",
    "edit.optimization_ms" -> "ms", "edit.planning_ms" -> "ms",
    "edit.exec_ms" -> "ms", "edit.plan_nodes" -> "count",
    "jdbc.delete_s" -> "s", "jdbc.append_s" -> "s",
    "jdbc.rows_written" -> "count",
    // corpus_ingest
    "dedup.probe_s" -> "s", "dedup.gate_s" -> "s", "dedup.append_s" -> "s",
    "vec.gate_s" -> "s", "vec.append_s" -> "s",
    "artifact.jobs_per_batch" -> "count", "artifact.write_amp" -> "ratio",
    "gate.confirm_ratio" -> "ratio", "lease.heartbeats" -> "count",
    "artifact.compactions" -> "count", "artifact.compact_batch_s" -> "s",
    "vec.load_s" -> "s", "vec.serve_jobs" -> "count",
    "artifact.live_files" -> "count", "artifact.space_amp" -> "ratio",
    "takedown.dedup_s" -> "s", "takedown.vec_s" -> "s",
    "dedup.build_s" -> "s", "vec.build_s" -> "s", "vec.build_jobs" -> "count")

  /** `measured` completed to the full list; a NaN (nothing to take a
    * median of) reads as 0. */
  def complete(measured: Seq[Metric]): Seq[Metric] = {
    val byName = measured.map(m => m.name -> m).toMap
    require(byName.keySet.subsetOf(all.map(_._1).toSet),
      s"unlisted per-layer metrics: ${byName.keySet -- all.map(_._1)}")
    all.map { case (n, u) =>
      byName.get(n).filterNot(_.value.isNaN).getOrElse(Metric(n, 0.0, u)) }
  }
}
