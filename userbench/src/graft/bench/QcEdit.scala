package graft.bench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.JdbcIO
import graft.operators.{EditOps, RecordLog, RecordedSession}
import graft.operators.RecordLog._

/** The QC technician. The ODM database is an in-memory Derby loaded
  * through `JdbcIO.append`. A cycle is one session on one site: read
  * the site with a pushed-down SiteID filter, open a recorded session
  * and draw the first view; then a seeded script of edit actions, each
  * followed by a view refresh (the plotted series' points and the
  * selection count); then save — delete the site's rows, append the
  * edited rows, write the provenance script — and close.
  */
final class QcEdit(spark: SparkSession, seed: Long) extends Workload {
  import QcEdit._

  val stepKind = "edit"
  private val shape = Shape(Seq("VariableID"), "LocalDateTime", "ValueID",
    "DataValue", "sel")
  private var conn: JdbcIO.Conn = _
  private var root: String = _
  private var rep = 0
  private var rowsWritten = Seq.empty[Long]

  def inputDigest(s: Long): String =
    Gen.digest(Gen.qcValues(s, Sites, Vars, Steps).iterator)

  def setup(root: String): Unit = {
    this.root = root
    rep += 1
    conn = JdbcIO.Conn(JdbcIO.Derby, "", s"memory:odm_${seed}_$rep")
    import spark.implicits._
    Trace.layer("jdbc.load") {
      JdbcIO.append(Gen.qcValues(seed, Sites, Vars, Steps).toDS()
        .repartition(4).toDF(), conn, Table)
    }
  }

  def discard(): Unit =
    try java.sql.DriverManager.getConnection(
      s"jdbc:derby:memory:odm_${seed}_$rep;drop=true")
    catch { case _: java.sql.SQLException => () } // drop reports by exception

  /** One recorded session: (site, plotted variable, script). */
  private def session(i: Int, r: Recorder, timed: Boolean): Unit = {
    val g = Gen.rng(seed, 500L + i)
    val site = 1 + Math.floorMod(i, Sites)
    val plotted = 1 + g.nextInt(Vars)
    def op[A](kind: String)(body: => A): A =
      if (timed) r.op(kind)(body) else body

    var rs: RecordedSession = null
    op("edit_open") {
      val src = Trace.layer("jdbc.read") {
        JdbcIO.read(spark, conn, Table).load()
          .filter(col("SiteID") === site)
      }
      Trace.layer("edit.open") {
        rs = RecordedSession.open(src, shape)
        view(rs, plotted)
      }
    }
    def act(a: => EditAction): Unit = op("edit") {
      rs = Trace.layer("edit.apply")(rs(a))
      view(rs, plotted)
    }
    def flagged(f: DataFrame => DataFrame, flag: String): Seq[Long] =
      Trace.layer("edit.flags") {
        rs.session.edit(f).df
          .filter(col(flag) && col("VariableID") === plotted)
          .select("ValueID").collect().map(_.getInt(0).toLong).toSeq
      }
    val day = 96
    def date(step: Int) = java.sql.Timestamp.valueOf(
      Gen.Epoch.plusMinutes(step.toLong * Gen.StepMinutes)).toString
      .stripSuffix(".0")
    val w0 = g.nextInt(Steps - 4 * day)
    val w1 = w0 + day + g.nextInt(2 * day)

    act(FilterValue(">", 10.0 * plotted + 20, intersect = false))
    act(FilterDate(date(w0), date(w1), intersect = true))
    act(Interpolate())
    act(SelectPoints("ValueID", flagged(d => EditOps.withGapFlags(d,
      shape.keys, shape.ts, shape.tiebreak, 3600.0), "gap_flag")))
    act(FlagSelected("QualifierID", 7L))
    act(SelectPoints("ValueID", flagged(d => EditOps.withValueChangeFlags(d,
      shape.keys, shape.ts, shape.tiebreak, shape.value, 5.0),
      "change_flag")))
    act(ChangeValue("+", 0.1))
    op("edit") { rs = Trace.layer("edit.apply")(rs.rollback); view(rs, plotted) }
    act(DriftCorrect(0.25 + g.nextInt(4) / 10.0))
    act(FilterValue("<", 0.0, intersect = false))
    act(DeleteSelected())

    val script = rs.script
    val out = rs.df.drop(shape.selected)
      .withColumn("QualifierID", col("QualifierID").cast("int"))
      .select(Columns.map(col): _*)
    // replay of the script over the session's base must give the saved
    // rows; computed before the save, while the base is still cached
    val saved = if (timed) Some(Trace.aux(fingerprint(out))) else None
    if (timed) r.check(s"session $i: script replay reproduces the saved rows") {
      val (sh, acts) = RecordLog.parse(script)
      val base = rs.session.rollbackAll.df.drop(shape.selected)
      fingerprint(RecordLog.replay(base, sh, acts).drop(shape.selected)
        .withColumn("QualifierID", col("QualifierID").cast("int"))
        .select(Columns.map(col): _*)) == saved.get
    }
    op("edit_save") {
      Trace.layer("jdbc.delete") {
        JdbcIO.deleteWhere(conn, Table, "\"SiteID\" = ?", Seq(site))
      }
      Trace.layer("jdbc.append")(JdbcIO.append(out, conn, Table))
      Trace.layer("edit.script") {
        Files.createDirectories(Paths.get(root, "scripts"))
        Files.writeString(Paths.get(root, "scripts", s"session-$i.log"),
          script)
      }
      rs.session.close()
    }
    if (timed) {
      r.check(s"session $i: read-back equals the saved rows")(
        fingerprint(JdbcIO.read(spark, conn, Table).load()
          .filter(col("SiteID") === site).select(Columns.map(col): _*)) ==
          saved.get)
      if (Trace.on && rowsWritten.isEmpty) rowsWritten = Seq(saved.get._1)
    }
  }

  /** The technician's plot: the plotted series' points, plus how many
    * points are selected. */
  private def view(rs: RecordedSession, plotted: Int): Unit =
    Trace.layer("edit.view") {
      rs.df.filter(col("VariableID") === plotted)
        .select(shape.ts, shape.value).orderBy(shape.ts, shape.tiebreak)
        .collect()
      rs.df.filter(col(shape.selected)).count()
    }

  /** Row count plus an order-independent hash of the rows. */
  private def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(df.columns.toSeq.map(col): _*)
      .cast("decimal(38,0)")).cast("string")).head()
    (r.getLong(0), Option(r.getString(1)).map(BigInt(_).toLong).getOrElse(0L))
  }

  def warmup(r: Recorder): Unit = session(-1, r, timed = false)

  def cycle(i: Int, r: Recorder): Unit = session(i, r, timed = true)

  def finish(r: Recorder): Unit = ()

  def named(r: Recorder): Seq[Metric] = {
    val (tail, _) = Stats.tail(r.of("edit"))
    Seq(Metric("edit_open_s", Stats.median(r.of("edit_open")), "s"),
      Metric("edit_ms", Stats.median(r.of("edit")) * 1e3, "ms"),
      Metric("edit_tail_ms", tail * 1e3, "ms"),
      Metric("edit_save_s", Stats.median(r.of("edit_save")), "s"))
  }

  def layers(t: TraceView): Seq[Metric] = {
    val edits = t.named("op.edit")
    val qs = edits.map(t.queries)
    def phase(f: Trace.Query => Long) =
      t.med(qs.map(_.map(f(_).toDouble).sum))
    val firstEdits = t.within("op.edit", t.first)
    Seq(
      Metric("jdbc.read_s", t.med(t.durs("jdbc.read")), "s"),
      Metric("edit.open_s", t.med(t.durs("edit.open")), "s"),
      Metric("edit.analysis_ms", phase(_.analysisMs), "ms"),
      Metric("edit.optimization_ms", phase(_.optimizationMs), "ms"),
      Metric("edit.planning_ms", phase(_.planningMs), "ms"),
      Metric("edit.exec_ms", t.med(edits.map(e =>
        (e.durS - t.driverGap(e)) * 1e3)), "ms"),
      Metric("edit.plan_nodes", firstEdits.flatMap(t.queries)
        .map(_.nodes).maxOption.getOrElse(0).toDouble, "count"),
      Metric("jdbc.delete_s", t.med(t.durs("jdbc.delete")), "s"),
      Metric("jdbc.append_s", t.med(t.durs("jdbc.append")), "s"),
      Metric("jdbc.rows_written", rowsWritten.headOption.getOrElse(0L)
        .toDouble, "count"))
  }

  override def info: Map[String, Any] = Map("sites" -> Sites,
    "series_per_site" -> Vars, "points_per_series" -> Steps)
}

object QcEdit {
  val Sites = 4
  val Vars = 8
  val Steps = 600 // ~6 days of 15-minute points per series
  val Table = "DataValues"
  val Columns = Seq("ValueID", "DataValue", "LocalDateTime", "SiteID",
    "VariableID", "QualifierID", "MethodID", "SourceID",
    "QualityControlLevelID")
}
