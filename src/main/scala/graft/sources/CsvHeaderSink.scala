package graft.io

import java.io.{BufferedOutputStream, CharArrayWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import com.univocity.parsers.csv.CsvParser
import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import scala.jdk.CollectionConverters._

/** CSV sink with a `#`-commented metadata header — the reference's
  * primary output format (reference: WriteSeriesToFile,
  * src/Utilities/DatasetUtilities.py:387-406) — plus the headerless
  * append mode used for incremental publication (AppendSeriesToFile,
  * DatasetUtilities.py:367-384) and the resume probe that recovers the
  * last written timestamp (parseCSVData/getLastLine,
  * DatasetUtilities.py:537-565).
  *
  * Scale design: the executors render every data row to its CSV line
  * ([[csvLine]], Spark's own CSV generator) and the driver streams the
  * lines into the file through [[writeLines]], one result partition at
  * a time, so each published byte crosses the driver once and no Spark
  * write, temp directory or commit protocol runs per file. The publish
  * pipeline renders all chunks in one query (see
  * [[graft.pipeline.Publish]]), and the partitioned bulk path uses
  * `partitionBy` so a 1000-executor cluster writes all series at once.
  */
object CsvHeaderSink {

  /** K1 — write `df` as one CSV file at `out`, preceded by
    * `headerLines` each prefixed `# `. Rows are written in the order
    * `toLocalIterator` returns them: that of a globally sorted parent or
    * of partitions each sorted within itself. The file is staged next to
    * the target and moved in atomically, so a failure mid-write never
    * leaves a truncated deliverable.
    */
  def write(df: DataFrame, headerLines: Seq[String], out: String): Unit =
    writeComposed(df, headerLines.map(l => s"# $l\n").mkString, out)

  /** [[write]] with a PRE-RENDERED header block written verbatim — the
    * adapter for [[FileHeader.build]], whose composed text already
    * carries the reference's own decorations (`# ` prefixes, quoted
    * comma-value lines, trailing spaces) that per-line `# ` prefixing
    * would double or lose.
    */
  def writeComposed(df: DataFrame, headerText: String,
      out: String): Unit =
    writeLines(out, headerText + columnHeader(df.schema), rendered(df))

  /** K2 — append rows (no header lines, no column header) to an existing
    * CSV file (created if missing). The existing content plus the new
    * rows are staged as a sibling file and moved in atomically — an
    * exception mid-append leaves the target exactly as it was, never
    * partially appended. Per-series deliverables are individually small,
    * so re-staging the file is O(file), not O(corpus); concurrent
    * appends to ONE file are out of contract (single-writer per
    * deliverable, as in the reference's AppendSeriesToFile).
    */
  def append(df: DataFrame, out: String): Unit =
    // appending to a MISSING target CREATES the file — it must get
    // the column-header line, or read()/tailProbe() would promote
    // the first data row to column names (tailProbe then returns
    // None and resume logic rewrites the file instead of appending)
    if (Files.exists(Paths.get(out)))
      writeLines(out, "", rendered(df), append = true)
    else writeComposed(df, "", out)

  /** One data row as its CSV line (no line separator), rendered by
    * Spark's CSV generator with default options — the bytes Spark's CSV
    * writer emits for the row. Timestamp columns are rendered the way
    * the reference's pandas `to_csv` (str(Timestamp)) does:
    * space-separated naive local datetime, fraction printed only when
    * nonzero and then as six digits. That is also the RESUME
    * correctness fix: Spark's default CSV timestampFormat truncates to
    * milliseconds, so a published sub-millisecond tail read back by
    * [[tailProbe]] compared low and the strictly-newer filter
    * re-published the same row on every resume.
    */
  private[graft] def csvLine(fields: Seq[StructField]): Column =
    to_csv(struct(fields.map { f =>
      val c = col(s"`${f.name.replace("`", "``")}`")
      f.dataType match {
        case TimestampType | TimestampNTZType =>
          when(unix_micros(c.cast(TimestampType)) % 1000000L === 0L,
            date_format(c, "yyyy-MM-dd HH:mm:ss"))
            .otherwise(date_format(c, "yyyy-MM-dd HH:mm:ss.SSSSSS"))
        case _ => c
      }
    }: _*))

  /** The column-header line (with its line separator) that Spark's CSV
    * writer emits for `schema`, rendered on the driver by the same
    * generator. */
  private[graft] def columnHeader(schema: StructType): String = {
    val w = new CharArrayWriter
    val gen = new UnivocityGenerator(schema, w,
      new CSVOptions(Map.empty[String, String], false, "UTC"))
    gen.writeHeaders()
    gen.flush()
    w.toString
  }

  private def rendered(df: DataFrame): Iterator[String] =
    df.select(csvLine(df.schema.fields.toSeq)).as(Encoders.STRING)
      .toLocalIterator().asScala

  /** The format cannot represent a data row whose FIRST field starts
    * with '#': every read path classifies such lines as metadata (the
    * reference format reserves leading `#`, and its comma-value form
    * is whole-line quoted, so `"#` is reserved too) and would
    * silently drop the row from read() and tailProbe(). A rendered line
    * is such a line exactly when [[isCommentLine]] holds for it, so the
    * check is one prefix test per line on the driver, before the staged
    * file is moved in.
    */
  private def requireNoHashLeadingData(line: String): Unit =
    require(!isCommentLine(line),
      "CsvHeaderSink: data rows whose first field starts with '#' " +
        "cannot round-trip the header format (reads drop them as " +
        "metadata lines); clean them first")

  /** Write `head` and then each of `lines` (rendered by [[csvLine]]) to
    * `out`, after the target's current content when `append` is set.
    * Staged as a sibling and moved in atomically: an exception, from the
    * iterator too, leaves the target as it was, and the stage is
    * released on every path.
    */
  private[graft] def writeLines(out: String, head: String,
      lines: Iterator[String], append: Boolean = false): Unit = {
    val target = Paths.get(out)
    if (target.getParent != null) Files.createDirectories(target.getParent)
    val staged = stagedSibling(target)
    try {
      val os = new BufferedOutputStream(Files.newOutputStream(staged))
      try {
        if (append && Files.exists(target)) Files.copy(target, os)
        os.write(head.getBytes(StandardCharsets.UTF_8))
        lines.foreach { l =>
          requireNoHashLeadingData(l)
          os.write(l.getBytes(StandardCharsets.UTF_8))
          os.write('\n')
        }
      } finally os.close()
      moveInto(staged, target)
    } finally Files.deleteIfExists(staged)
  }

  /** Read a published `#`-header CSV (or a glob/directory of them) back
    * as a DataFrame — the migration path for the reference's existing
    * deliverables (years of WriteSeriesToFile output): comment lines
    * are skipped by the codegen'd CSV reader itself (no driver
    * preprocessing), the column header names the columns, and an
    * explicit `schema` avoids the inference pass over large trees;
    * with `schema = None` types are inferred (one extra scan). The
    * read is fully distributed — at scale, point it at the whole
    * published tree and let Spark parallelize per file/split.
    */
  /** A metadata-header line as published: plain `# ...`, or the
    * reference's comma-value form, where the WHOLE line is wrapped in
    * quotes (`"# SiteName: Logan, UT"` — DatasetUtilities.py:680-681).
    * The quoted form defeats a naive `comment='#'` reader, so every
    * read path must use this predicate, not the char option.
    */
  private[io] def isCommentLine(l: String): Boolean =
    l.startsWith("#") || l.startsWith("\"#")

  def read(spark: SparkSession, path: String,
      schema: Option[org.apache.spark.sql.types.StructType] = None)
      : DataFrame = {
    // text-read first, drop header-section lines (incl. the quoted
    // comma-value form `comment='#'` cannot express), then parse the
    // remainder as CSV — still fully distributed (csv over a
    // Dataset[String] runs the same codegen'd parser per partition).
    //
    // Multi-file contract: all globbed files must share ONE column
    // header (true for a tree published under one ChunkSpec — the
    // domain fixes the columns). The dataset-based parser drops lines
    // equal to the FIRST header it sees, so a tree mixing different
    // specs must be read per spec; a published DATA line can never
    // equal the header (data rows are timestamps/numbers).
    val txt = spark.read.textFile(path)
      .filter((l: String) => !isCommentLine(l))
    val r = spark.read.option("header", "true")
    schema.fold(r.option("inferSchema", "true"))(r.schema).csv(txt)
  }

  /** The `#`-prefixed metadata header lines of one published file, with
    * the `# ` prefix stripped — the counterpart of [[write]]'s header
    * (driver-side: headers are dim-sized metadata, the data plane goes
    * through [[read]]).
    */
  def readHeader(path: String): Seq[String] = {
    val in = Files.newBufferedReader(Paths.get(path),
      StandardCharsets.UTF_8)
    try Iterator.continually(in.readLine())
      .takeWhile(l => l != null && isCommentLine(l))
      .map { l =>
        // unwrap the reference's quoted comma-value form first
        val unq = if (l.startsWith("\"") && l.endsWith("\""))
          l.substring(1, l.length - 1)
        else l
        unq.stripPrefix("#").stripPrefix(" ")
      }
      .toList
    finally in.close()
  }

  /** S5 — resume probe: max value of `tsCol` in an existing output file,
    * or None if the file doesn't exist, has no `tsCol` column or no
    * non-empty `tsCol` field. Single pass: columns read as strings, on
    * the driver, no Spark job — the same answer as
    * `read(spark, path).agg(max(col(tsCol).cast("timestamp")))`.
    * Comment lines (incl. the quoted form) and blank lines are skipped,
    * the first remaining line is the column header and later copies of
    * it are dropped, every line is split with the CSV reader's own
    * univocity settings, empty fields are skipped as `max` skips nulls,
    * and each field is cast in the session time zone (under ANSI an
    * unparsable one throws the cast's error). O(file), which [[append]]
    * pays anyway when it restages the target.
    */
  def tailProbe(spark: SparkSession, path: String,
      tsCol: String): Option[java.sql.Timestamp] = {
    val file = Paths.get(path)
    if (!Files.exists(file)) return None
    val conf = spark.sessionState.conf
    val opts = new CSVOptions(Map("header" -> "true"), false,
      conf.sessionLocalTimeZone)
    val zone = DateTimeUtils.getZoneId(conf.sessionLocalTimeZone)
    val parser = new CsvParser(opts.asParserSettings)
    val in = Files.newBufferedReader(file, StandardCharsets.UTF_8)
    try {
      val lines = Iterator.continually(in.readLine()).takeWhile(_ != null)
        .filter(l => !isCommentLine(l) && l.trim.nonEmpty)
      if (!lines.hasNext) return None
      val headerLine = lines.next()
      val header = parser.parseLine(headerLine)
      val idx = header.indexOf(tsCol)
      // the reader renames case-insensitive duplicates, so a duplicated
      // tsCol is no column at all
      if (idx < 0 ||
          header.count(h => h != null && h.equalsIgnoreCase(tsCol)) > 1)
        return None
      lines.filter(_ != headerLine).flatMap { l =>
        val f = parser.parseLine(l).lift(idx).orNull
        if (f == null || f == opts.nullValue) None
        else if (conf.ansiEnabled) Some(DateTimeUtils.stringToTimestampAnsi(
          UTF8String.fromString(f), zone))
        else DateTimeUtils.stringToTimestamp(UTF8String.fromString(f), zone)
      }.maxOption.map(DateTimeUtils.toJavaTimestamp)
    } finally in.close()
  }

  /** Staging file in the TARGET's directory (atomic moves need the same
    * filesystem), unique per call so an abandoned stage from a crashed
    * run can't be picked up by the next one.
    */
  private def stagedSibling(target: Path): Path = {
    val dir = Option(target.getParent).getOrElse(Paths.get("."))
    Files.createTempFile(dir, s".${target.getFileName}", ".staging")
  }

  private def moveInto(staged: Path, target: Path): Unit =
    try Files.move(staged, target,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch {
      case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(staged, target, StandardCopyOption.REPLACE_EXISTING)
    }
}
