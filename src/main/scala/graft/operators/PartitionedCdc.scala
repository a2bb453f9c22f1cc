package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** COPY-ON-WRITE partitioned CDC versioning — the shape that keeps the
  * versioned-snapshot chain viable at 100 TB.
  *
  * [[CdcOps.streamApply]]'s chain persists a FULL snapshot per
  * micro-batch: simple, replay-safe, and O(base) write per version —
  * measured as the chain's whole cost (ScaleProbe `cdc stream apply
  * chain`: snapshot write bandwidth dominates; CLUSTER.md sizing
  * rules). Past the base size whose full parquet write fits the batch
  * interval, that design is an outage. This one versions at PARTITION
  * granularity instead, the lakehouse copy-on-write idea (Delta/
  * Iceberg/Hudi COW, re-expressed over plain parquet + a version
  * manifest, matching [[ArtifactManifest]]'s minimal-manifest
  * approach):
  *
  *  - the table is bucketed by a caller-chosen expression over the CDC
  *    key (`bucketOf` — a hash for uniform churn, a range/time bucket
  *    when churn clusters, which is the common CDC shape: hot recent
  *    keys, cold history);
  *  - `data/ver=<v>/bucket=<b>/` holds bucket b's full content as of
  *    version v — written ONLY when v's batch churned that bucket;
  *  - `_versions/v<NNNN>.json` maps every live bucket to the version
  *    directory that serves it. A version's read assembles per-bucket
  *    paths (explicit path selection — stronger than pushdown, the
  *    planner never even lists cold buckets);
  *  - a batch reads ONLY the churned buckets of the previous version,
  *    applies the changelog ([[CdcOps.applyChangelog]] semantics —
  *    latest-wins by seq, op 'D' deletes), writes ONLY those buckets
  *    under the new version directory, and commits the manifest last
  *    (readers pinned to any retained version are never disturbed:
  *    their bucket files are immutable once written);
  *  - retention prunes manifests past `retainVersions` and deletes
  *    exactly the `(ver, bucket)` directories no retained manifest
  *    references — an unchurned bucket's single physical copy serves
  *    every version and is never rewritten or reaped.
  *
  * Per-batch cost is therefore `churned buckets × bucket size` for
  * the rewrite plus one small manifest — O(churn locality), not
  * O(base); storage is one full copy plus churned-bucket deltas per
  * retained version, not a full copy per version. Single WRITER per
  * root (the manifest is the coordination point), many readers.
  *
  * Correctness gate: x17 holds the multi-batch partitioned apply to
  * x11's DuckDB oracle (final state ≡ one-shot latest-wins apply);
  * `PartitionedCdcSpec` pins copy-on-write isolation, churn-only
  * writes, retention GC, and replay idempotence.
  */
object PartitionedCdc {

  final case class Manifest(version: Int, buckets: Map[Long, Int])

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  private def versionsDir(root: String) = new Path(root, "_versions")

  private def manifestPath(root: String, v: Int): Path =
    new Path(versionsDir(root), f"v$v%010d.json")

  /** Versions whose manifest is still retained, ascending. */
  def listVersions(s: SparkSession, root: String): Seq[Int] = {
    val vd = versionsDir(root)
    val fs = fsOf(s, vd)
    if (!fs.exists(vd)) Seq.empty
    else fs.listStatus(vd).toSeq.map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".json"))
      .flatMap(n => n.stripPrefix("v").stripSuffix(".json").toIntOption)
      .sorted
  }

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString
    finally in.close()
  }

  // Cross-process writer LEASE — the protocol lives in
  // [[WriterLease]] (shared with the index artifacts): every public
  // mutator below acquires `root/_lock/lease` before staging, so a
  // second writer refuses at ENTRY instead of after a full staged
  // rewrite; [[stageCommitPublish]] re-verifies the held token
  // immediately before the manifest commit (a holder that stalled
  // past the steal horizon dies before publishing). The manifest
  // fence (commitManifest) remains the correctness backstop for
  // lease-steal races and legacy callers.

  private def withWriterLease[A](s: SparkSession, root: String)(
      f: => A): A =
    WriterLease.withLease(s, root)(f)

  def manifest(s: SparkSession, root: String, v: Int): Manifest = {
    val p = manifestPath(root, v)
    val fs = fsOf(s, p)
    if (!fs.exists(p)) {
      val have = listVersions(s, root)
      throw new IllegalArgumentException(
        s"PartitionedCdc: version $v not present under $root — " +
          (if (have.isEmpty) "no versions exist"
           else s"retained versions: ${have.mkString(", ")}") +
          " (older versions fall off the writer's retention window)")
    }
    val text = readText(fs, p)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(text)
    val buckets = (j \ "buckets") match {
      case JObject(fields) => fields.map {
        case JField(b, JInt(w)) => b.toLong -> w.toInt
        case other => sys.error(
          s"PartitionedCdc: malformed bucket entry $other in $p")
      }.toMap
      case other => sys.error(
        s"PartitionedCdc: malformed buckets $other in $p")
    }
    Manifest(v, buckets)
  }

  /** Latest retained manifest, if the root is initialized. */
  def latest(s: SparkSession, root: String): Option[Manifest] =
    listVersions(s, root).lastOption.map(manifest(s, root, _))

  /** Single-writer manifest commit, FENCED (the round-12 brief's one
    * latent correctness hazard): the previous OVERWRITE rename meant
    * two concurrent writers that both read version v and both commit
    * v+1 silently last-write-win — the loser's bucket rewrites serve
    * under the winner's manifest. The fence keeps both original
    * properties and fails loudly on a genuine second writer:
    *
    *  - a replayed streaming batch re-commits its own version with
    *    deterministically IDENTICAL content (same inputs, same sorted
    *    JSON encoding) — when the target exists, compare content and
    *    CONVERGE without touching the visible file (pinned readers are
    *    never disturbed; there is no delete-then-rename window);
    *  - a re-commit whose content DIFFERS is by definition a second
    *    writer (or a diverged replay, equally fatal) — refuse, à la
    *    [[ArtifactManifest.recordAppend]]'s digest guard;
    *  - a NEW version commits create-exclusively: temp write + rename
    *    WITHOUT overwrite, so two writers racing past the existence
    *    check collide at the rename and exactly one wins — the loser
    *    lands on the same converge-or-refuse comparison.
    *
    * The fence DETECTS the single-writer violation; SERIALIZATION is
    * the writer lease's job (see the lease section above): every
    * public mutator acquires `root/_lock/lease` before staging, so
    * under normal operation a second writer refuses at entry and
    * never reaches this code — the fence remains the backstop for
    * lease-steal races and legacy callers. Both layers rest on the
    * same primitive (atomic no-overwrite rename; stores without one
    * need an external lock — see CLUSTER.md). Version DATA is staged
    * per attempt and renamed into
    * `data/ver=<v>` only AFTER the manifest commit succeeds, so a
    * fenced-out loser never touches the winner's published bytes — it
    * deletes its own staging tree and dies on the refuse. The
    * remaining crash window is commit-succeeded-but-publish-pending
    * (one directory rename): readers of v see a missing directory
    * until the batch replays, whereupon the commit converges
    * (identical content) and the publish rename completes. That is a
    * transient read failure of the newest version, not silent
    * corruption — strictly better than the pre-staging window where a
    * loser's bytes could serve under the winner's manifest.
    *
    * SAME-JVM writers additionally serialize on a per-manifest
    * in-process lock: intra-process coordination is free, and the
    * local filesystem's (file, .crc) pair rename is not atomic under
    * concurrency — two same-JVM racers could otherwise publish one
    * writer's bytes under the other's checksum. Cross-process racers
    * never share the lock and are decided by the no-overwrite rename,
    * which HDFS-like stores make atomic.
    */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private[graft] def commitManifest(s: SparkSession, root: String,
      m: Manifest): Unit = {
    val vd = versionsDir(root)
    val fs = fsOf(s, vd)
    fs.mkdirs(vd)
    val body = m.buckets.toSeq.sortBy(_._1)
      .map { case (b, w) => s""""$b":$w""" }.mkString(",")
    val json = s"""{"version":${m.version},"buckets":{$body}}"""
    val fin = manifestPath(root, m.version)
    def convergeOrRefuse(): Unit = {
      val existing = readText(fs, fin)
      require(existing == json,
        s"PartitionedCdc: version ${m.version} of $root is already " +
          "committed with DIFFERENT content — a replayed batch must " +
          "recompute identical content; this commit diverged, which " +
          "means a second concurrent writer (the layout is " +
          "single-writer per root) or a non-deterministic batch. " +
          s"Committed: $existing / attempted: $json")
      // identical — a faithful replay; the visible file already says
      // exactly this, nothing to write
    }
    // one lock per ROOT (not per version file): bounded by the number
    // of roots a JVM ever writes, and commits to one root are
    // sequential under the single-writer contract anyway. The key is
    // the FS-QUALIFIED path: the same root addressed via different
    // spellings (file:/abs vs /abs) must map to ONE lock, or two
    // same-JVM racers slip past the serialization this comment relies
    // on for the non-atomic local (file, .crc) rename pair
    val lock =
      commitLocks.computeIfAbsent(fs.makeQualified(vd).toString,
        _ => new Object)
    lock.synchronized {
      if (fs.exists(fin)) { convergeOrRefuse(); return }
      // tmp name unique PER ATTEMPT: a fixed name would let two
      // cross-process racers interleave on the shared tmp (B
      // overwrites it between A's write and A's rename — A then
      // publishes B's bytes and both believe they won); with private
      // tmps the no-overwrite rename is the single decision point. A
      // crashed attempt's stray dot-file is invisible to listVersions
      // (names filter on the "v" prefix).
      val tmp = new Path(vd,
        f".v${m.version}%010d.${java.util.UUID.randomUUID}.tmp")
      val out = fs.create(tmp, true)
      try out.write(
        json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
      // create-exclusive commit via FileSystem.rename, NOT
      // FileContext: with the native-hadoop lib absent, every
      // FileContext rename stats src and dst through a forked `ls`
      // (measured 14-27 ms/op — paid once per CDC micro-batch);
      // fs.rename is rename(2) directly (0.08 ms). The fence is
      // unchanged where atomicity exists: HDFS-like stores refuse an
      // existing dst (rename = false / FileAlreadyExists below) and
      // the loser routes to converge-or-refuse. The local
      // filesystem's POSIX rename could overwrite only in the window
      // the exists() check above leaves open CROSS-process — exactly
      // the window FileContext's local check-then-rename form had —
      // and same-JVM racers are serialized by the lock.
      val renamed =
        try fs.rename(tmp, fin)
        catch {
          case e: java.io.IOException =>
            fs.delete(tmp, false)
            if (fs.exists(fin)) { convergeOrRefuse(); return }
            else throw e
        }
      // a blocked no-overwrite rename can report as a false return
      // rather than a throw; the tmp file surviving is the portable
      // signal that the rename did not happen
      if (!renamed || fs.exists(tmp)) {
        fs.delete(tmp, false)
        if (fs.exists(fin)) convergeOrRefuse()
        else throw new java.io.IOException(
          s"PartitionedCdc: manifest rename $tmp -> $fin failed")
      }
    }
  }

  private def bucketDirsUnder(s: SparkSession, vp: Path): Seq[Long] = {
    val fs = fsOf(s, vp)
    if (!fs.exists(vp)) Seq.empty
    else fs.listStatus(vp).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("bucket="))
      .flatMap(_.stripPrefix("bucket=").toLongOption)
  }

  /** Per-attempt staging directory for version `v`'s data — dot-prefixed
    * (invisible to Spark's file listing and to the `ver=` filters of
    * [[pruneVersions]]' reference walk) and UUID-suffixed so two racing
    * attempts never share a tree.
    */
  private def stagingDir(root: String, v: Int): Path =
    new Path(s"$root/data",
      f".staged-ver=$v%010d.${java.util.UUID.randomUUID}")

  /** Publish a staged version tree: rename into `data/ver=<v>` AFTER
    * the manifest commit fenced this attempt in. An existing target
    * means a faithful replay (the commit already converged on
    * byte-identical manifest content, and published version
    * directories are immutable) — the staged duplicate is dropped and
    * the original keeps serving, so pinned readers are never
    * disturbed.
    */
  private def publishStaged(s: SparkSession, root: String,
      staging: Path, v: Int): Unit = {
    val dest = new Path(s"$root/data/ver=$v")
    val fs = fsOf(s, dest)
    if (fs.exists(dest)) { fs.delete(staging, true); return }
    if (!fs.rename(staging, dest)) {
      if (fs.exists(dest)) fs.delete(staging, true)
      else throw new java.io.IOException(
        s"PartitionedCdc: publish rename $staging -> $dest failed")
    }
  }

  /** Stage version `v`'s data, commit the manifest, publish. The
    * write-targets-keyed-by-new-version replay contract holds: a
    * replayed batch stages identical content, its commit converges,
    * and the publish no-ops against the already-published directory.
    * A fenced-out second writer deletes its own staging and never
    * touches published data.
    */
  private def stageCommitPublish(s: SparkSession, root: String,
      df: DataFrame, bucketOf: Column, sortCols: Seq[String], v: Int)(
      manifestOf: Seq[Long] => Manifest): Unit = {
    val staging = stagingDir(root, v)
    bucketedWrite(df, bucketOf, sortCols, staging.toString)
    val written = bucketDirsUnder(s, staging)
    try {
      // pre-commit lease verify: a holder that stalled past the
      // steal horizon (its lease was legally stolen) dies here, with
      // its staging self-deleting below — never publishing
      WriterLease.heldFor(s, root).foreach(WriterLease.verify(s, _))
      commitManifest(s, root, manifestOf(written))
    } catch { case t: Throwable =>
      fsOf(s, staging).delete(staging, true); throw t
    }
    publishStaged(s, root, staging, v)
  }

  /** `bucket` and `ver` are the layout's own columns — a payload
    * column with either name would be silently clobbered by the
    * bucket stamp and dropped by every read. Fail at init instead.
    */
  private def requireNoReservedCols(df: DataFrame, who: String): Unit =
    Seq("bucket", "ver").foreach(c => require(
      !df.columns.contains(c),
      s"PartitionedCdc.$who: column '$c' is reserved for the " +
        "versioned layout — rename it in the table/changelog schema"))

  /** Initialize the root: the base laid out as version 0, every bucket
    * physical. `bucketOf` is an expression over the table's columns
    * producing an integral bucket id; it is the caller's layout
    * contract — every subsequent [[applyBatch]] must pass the same
    * expression (same column inputs, same function), exactly like a
    * consistent `partitionBy` across appends. Choose it for churn
    * locality: a time/range bucket when changes cluster on hot keys
    * (the common CDC shape — then a batch rewrites only hot buckets),
    * a hash only when churn is genuinely uniform.
    */
  def init(base: DataFrame, bucketOf: Column, root: String,
      sortCols: Seq[String] = Seq.empty): Unit = {
    val s = base.sparkSession
    requireNoReservedCols(base, "init")
    withWriterLease(s, root) {
      stageCommitPublish(s, root, base, bucketOf, sortCols, 0)(
        written => Manifest(0, written.map(_ -> 0).toMap))
    }
  }

  /** The bucket-stamped version-directory write. With `sortCols` the
    * COW rewrite doubles as LAYOUT MAINTENANCE for free: the rows are
    * being rewritten anyway, so range-clustering them on
    * (bucket, sortCols) — [[LayoutOps.clusterFrame]]'s one range
    * shuffle + in-partition sort, the bucket column leading so the
    * dynamic-partition write stays grouped — costs only the sort and
    * gives every written file narrow min/max on `sortCols`: slice
    * predicates over churned-then-read data skip row groups exactly
    * as a standalone OPTIMIZE pass would, without ever scheduling
    * one (ScaleProbe `cow clustered rewrite` measures the skip).
    * Empty `sortCols` (the default) keeps the plain grouped write.
    */
  private def bucketedWrite(df: DataFrame, bucketOf: Column,
      sortCols: Seq[String], dest: String): Unit = {
    val stamped = df.withColumn("bucket", bucketOf)
    val laid =
      if (sortCols.isEmpty) stamped
      else LayoutOps.clusterFrame(stamped, "bucket" +: sortCols,
        stamped.sparkSession.sessionState.conf.numShufflePartitions)
    laid.write.mode("overwrite").partitionBy("bucket").parquet(dest)
  }

  /** Read version `v` (any retained version — time travel). Explicit
    * per-bucket paths: the scan lists and reads ONLY the files that
    * serve this version; `basePath` keeps partition discovery rooted
    * so the helper columns resolve, then they are dropped.
    */
  def readVersion(s: SparkSession, root: String, v: Int): DataFrame = {
    val m = manifest(s, root, v)
    require(m.buckets.nonEmpty,
      s"PartitionedCdc: version $v of $root has no live buckets " +
        "(every row deleted) — nothing to read")
    bucketSlice(s, root, m.buckets)
  }

  /** Manifest-assembled read of an explicit (bucket -> serving
    * version) set: the scan lists and reads ONLY the files that serve
    * these buckets; `basePath` keeps partition discovery rooted so the
    * helper columns resolve, then they are dropped.
    */
  private def bucketSlice(s: SparkSession, root: String,
      entries: Map[Long, Int]): DataFrame = {
    val paths = entries.toSeq.sortBy(_._1)
      .map { case (b, w) => s"$root/data/ver=$w/bucket=$b" }
    s.read.option("basePath", s"$root/data").parquet(paths: _*)
      .drop("ver", "bucket")
  }

  /** Current-version read. */
  def read(s: SparkSession, root: String): DataFrame = {
    val vs = listVersions(s, root)
    require(vs.nonEmpty, s"PartitionedCdc: $root is not initialized")
    readVersion(s, root, vs.last)
  }

  /** Apply one changelog batch on top of `fromVersion`, writing
    * version `fromVersion + 1`: churned buckets only. Returns the new
    * version. [[CdcOps.applyChangelog]]'s shape contract: the stored
    * table's columns equal `log`'s minus (`seqCol`, `opCol`).
    *
    * Replay-idempotent for the streaming twin: the write targets are
    * keyed by the new version (directory overwrite + manifest
    * overwrite), the inputs by `fromVersion` — a replayed batch
    * recomputes identical content and re-commits it. Single writer.
    *
    * REFUSES a MAINTAINED root (one with an aggregate chain): the
    * plain apply would advance the table and strand the view — the
    * old aggregate is wrong for the new content, and the chain could
    * never catch up once its last version fell off retention. Route
    * maintained roots through [[maintainVersion]], which advances
    * both chains together.
    */
  def applyVersion(s: SparkSession, root: String, log: DataFrame,
      keys: Seq[String], seqCol: String, opCol: String,
      bucketOf: Column, fromVersion: Int, deleteOp: String = "D",
      retainVersions: Int = 2,
      sortCols: Seq[String] = Seq.empty): Int = {
    validateBatch(log, retainVersions)
    require(!fsOf(s, new Path(s"$root/agg"))
        .exists(new Path(s"$root/agg")),
      s"PartitionedCdc.applyVersion: $root is a MAINTAINED root " +
        "(it has an aggregate chain) — use maintainVersion, which " +
        "advances the table and the view together; a plain apply " +
        "would strand the view at a stale version")
    withWriterLease(s, root) {
      val cur = manifest(s, root, fromVersion)
      doApply(s, root, log, keys, seqCol, opCol, bucketOf, cur,
        churnedSet(log, bucketOf), deleteOp, retainVersions, sortCols)
    }
  }

  private def validateBatch(log: DataFrame,
      retainVersions: Int): Unit = {
    require(retainVersions >= 1,
      s"PartitionedCdc: retainVersions >= 1 (got $retainVersions) — " +
        "the in-flight batch's input version must survive for replay")
    requireNoReservedCols(log, "batch")
  }

  /** The apply body, with the manifest and churned set precomputed —
    * shared by [[applyVersion]] and [[maintainVersion]] so a
    * maintained batch reads the manifest and scans the changelog for
    * its bucket set ONCE, not once per chain.
    */
  private def doApply(s: SparkSession, root: String, log: DataFrame,
      keys: Seq[String], seqCol: String, opCol: String,
      bucketOf: Column, cur: Manifest, churned: Set[Long],
      deleteOp: String, retainVersions: Int,
      sortCols: Seq[String] = Seq.empty): Int = {
    val v = cur.version + 1
    // a churned bucket that emptied (every row deleted) writes no
    // directory and leaves the manifest: the listing of what the job
    // ACTUALLY wrote is the truth, not the churn prediction
    stageCommitPublish(s, root,
      CdcOps.applyChangelog(
        churnedSlice(s, root, cur, churned, log, seqCol, opCol),
        log, keys, seqCol, opCol, deleteOp),
      bucketOf, sortCols, v)(written =>
      Manifest(v, (cur.buckets -- churned) ++ written.map(_ -> v)))
    pruneVersions(s, root, v, retainVersions)
    v
  }

  /** Churned bucket ids: one distinct over the log's bucket column —
    * bounded by the bucket count, collected driver-side like every
    * affected-partition list.
    */
  private def churnedSet(log: DataFrame, bucketOf: Column): Set[Long] =
    log.select(bucketOf.cast("long").as("bucket"))
      .distinct().collect().map(_.getLong(0)).toSet

  /** The pre-batch content of the churned buckets — the ONLY base
    * rows a batch ever reads (a key's rows live in exactly one
    * bucket, so every churn key's base row is here). Explicit
    * per-bucket paths; empty in the stored shape (keys + payload)
    * when every churned bucket is brand new (pure insert batch).
    */
  private def churnedSlice(s: SparkSession, root: String,
      cur: Manifest, churned: Set[Long], log: DataFrame,
      seqCol: String, opCol: String): DataFrame = {
    val existing = churned.filter(cur.buckets.contains)
    if (existing.isEmpty) log.drop(seqCol, opCol).where(lit(false))
    else bucketSlice(s, root,
      existing.map(b => b -> cur.buckets(b)).toMap)
  }

  /** Diff two retained versions — [[CdcOps.snapshotDiff]] shape (one
    * row per changed key: 'A'/'R'/'C' + old/new payloads) — reading
    * ONLY the buckets whose serving directory DIFFERS between the two
    * manifests. A bucket mapped to the same version by both manifests
    * is the same immutable directory: byte-identical on both sides,
    * so it cannot contribute a diff row (a key's rows live in exactly
    * one bucket under the shared layout) and is never listed, let
    * alone read. Cost therefore scales with the CHURN between the
    * versions, not the base size — the same O(churn) contract as the
    * apply itself. Across a [[rebucket]] the bucket ids are a fresh
    * namespace, every manifest entry differs, and this degrades to
    * the full two-version diff — which is the correct answer there.
    */
  def diffVersions(s: SparkSession, root: String, prevV: Int,
      nextV: Int, keys: Seq[String]): DataFrame = {
    val mp = manifest(s, root, prevV)
    val mn = manifest(s, root, nextV)
    require(mp.buckets.nonEmpty || mn.buckets.nonEmpty,
      s"PartitionedCdc.diffVersions: versions $prevV and $nextV of " +
        s"$root are both fully deleted — nothing to diff (and no " +
        "stored schema to shape an empty diff)")
    def changed(m: Manifest, other: Manifest): Map[Long, Int] =
      m.buckets.filter { case (b, w) =>
        !other.buckets.get(b).contains(w) }
    // an all-shared (or fully-deleted) side still needs the stored
    // shape: a false-filtered slice over ANY live bucket set —
    // Catalyst prunes the filter to an empty relation, no files read
    val anyLive = if (mp.buckets.nonEmpty) mp.buckets else mn.buckets
    def slice(m: Manifest, other: Manifest): DataFrame = {
      val c = changed(m, other)
      if (c.isEmpty) bucketSlice(s, root, anyLive).where(lit(false))
      else bucketSlice(s, root, c)
    }
    CdcOps.snapshotDiff(slice(mp, mn), slice(mn, mp), keys)
  }

  /** Apply on top of the current version. */
  def applyBatch(s: SparkSession, root: String, log: DataFrame,
      keys: Seq[String], seqCol: String, opCol: String,
      bucketOf: Column, deleteOp: String = "D",
      retainVersions: Int = 2,
      sortCols: Seq[String] = Seq.empty): Int = {
    // lease wraps the list-then-apply pair: the read-modify-write of
    // "the newest version" must see no interleaved advance
    withWriterLease(s, root) {
      val vs = listVersions(s, root)
      require(vs.nonEmpty, s"PartitionedCdc: $root is not initialized")
      applyVersion(s, root, log, keys, seqCol, opCol, bucketOf,
        vs.last, deleteOp, retainVersions, sortCols)
    }
  }

  /** Per-bucket physical size of the CURRENT version — the rebucket
    * decision input, driver-side metadata only (one content summary
    * per live bucket directory; no data read). Returns
    * (bucket, bytes) pairs.
    */
  def bucketStats(s: SparkSession, root: String): Seq[(Long, Long)] = {
    val m = latest(s, root).getOrElse(throw new IllegalArgumentException(
      s"PartitionedCdc: $root is not initialized"))
    val fs = fsOf(s, new Path(root))
    m.buckets.toSeq.sortBy(_._1).map { case (b, w) =>
      b -> fs.getContentSummary(
        new Path(s"$root/data/ver=$w/bucket=$b")).getLength
    }
  }

  /** Bucket-size skew of the current version: max / mean bytes. 1.0
    * is perfectly even; a threshold on this (e.g. > 8) is the cue to
    * [[rebucket]], exactly as the drift baseline cues an index
    * rebuild — both signals are cheap enough to check on every
    * maintenance tick, and both leave the decision to the caller
    * (rebucket is a full rewrite under the single-writer contract).
    */
  def bucketSkew(s: SparkSession, root: String): Double = {
    val sizes = bucketStats(s, root).map(_._2)
    if (sizes.isEmpty) 1.0
    else sizes.max.toDouble / (sizes.sum.toDouble / sizes.size)
  }

  /** RE-BUCKET the table — the layout-maintenance op for when the
    * churn pattern outgrows the original `bucketOf` (hot range moved,
    * bucket sizes skewed): write EVERY bucket under the new expression
    * as one fresh version and flip the manifest. Old versions stay
    * readable until retention reaps them (their manifests reference
    * the old bucket ids — bucket identity is per-version, nothing
    * assumes a global bucket universe). Cost: one full-table rewrite,
    * the same as the original init — schedule it like any
    * re-cluster. Subsequent [[applyVersion]] calls must pass the NEW
    * expression (same caller contract as `bucketOf` itself).
    */
  def rebucket(s: SparkSession, root: String, newBucketOf: Column,
      retainVersions: Int = 2, sortCols: Seq[String] = Seq.empty): Int =
    withWriterLease(s, root) {
    val vs = listVersions(s, root)
    require(vs.nonEmpty, s"PartitionedCdc: $root is not initialized")
    val v = vs.last + 1
    // a maintained root carries its aggregate forward unchanged —
    // the view is bucket-layout-invariant, and the next
    // maintainVersion(fromVersion = v) needs agg/ver=v to exist. The
    // carry is MATERIALIZED before the commit (it only reads the
    // previous agg, never version-v state) so a crash between commit
    // and carry cannot strand the chain; a fenced-out loser's carry
    // is byte-identical to the winner's (same source) so the
    // overwrite is harmless even when racing.
    val prevAgg = new Path(s"$root/agg/ver=${vs.last}")
    if (fsOf(s, prevAgg).exists(prevAgg))
      s.read.parquet(prevAgg.toString)
        .write.mode("overwrite").parquet(s"$root/agg/ver=$v")
    stageCommitPublish(s, root, read(s, root), newBucketOf, sortCols,
      v)(written => Manifest(v, written.map(_ -> v).toMap))
    pruneVersions(s, root, v, retainVersions)
    v
    }

  /** Version encoded in a per-attempt staging directory name
    * (`.staged-ver=<v>%010d.<uuid>`), if the name is one.
    */
  private def stagedVersionOf(name: String): Option[Int] =
    if (!name.startsWith(".staged-ver=")) None
    else name.stripPrefix(".staged-ver=")
      .takeWhile(_.isDigit).toIntOption

  /** Staged-attempt reap predicate — BOTH guards must agree that the
    * staging is a dead crashed attempt before the prune touches it:
    *
    *  - version guard: only stagings for versions BELOW `newest` are
    *    reapable. The in-flight batch's own staging encodes exactly
    *    `newest` (the agg tree stages BEFORE the table commit and
    *    publishes after — the round-14 reap that ignored this deleted
    *    the live agg staging and permanently wedged every maintained
    *    root once retention activated), and a racing second writer's
    *    staging encodes ≥ `newest` too;
    *  - age guard (belt-and-braces): even a below-`newest` staging is
    *    reaped only once its mtime is older than
    *    `graft.cdc.stagedReapHorizonMs` (default 1 h) — so any future
    *    path that stages across a prune boundary is safe by
    *    freshness alone, and genuinely crashed attempts (JVM death
    *    between stage and publish; the in-process failure paths
    *    already self-delete) still get collected on a later batch.
    */
  private def deadStaging(s: SparkSession,
      st: org.apache.hadoop.fs.FileStatus, newest: Int): Boolean =
    stagedVersionOf(st.getPath.getName).exists { sv =>
      val horizonMs = Knobs.long(s,
        "graft.cdc.stagedReapHorizonMs", 3600000L, min = 0)
      sv < newest &&
        System.currentTimeMillis() - st.getModificationTime > horizonMs
    }

  /** Drop manifests below the retention window, then reap exactly the
    * `(ver, bucket)` directories no retained manifest references.
    * Driver-side metadata only: retained manifests × their bucket
    * maps, and one listing of the `data/` tree. A bucket that has not
    * churned since version 0 is referenced by every manifest and its
    * one physical copy is never touched — retention cost scales with
    * CHURN, not base size.
    */
  private def pruneVersions(s: SparkSession, root: String,
      newest: Int, retainVersions: Int): Unit = {
    if (retainVersions == Int.MaxValue) return
    val floor = newest - retainVersions
    if (floor < 0) return
    val fs = fsOf(s, new Path(root))
    // ONE _versions listing serves manifest pruning, the reference
    // set, and the agg prune — each listing is a real request on an
    // object store, and this runs on the per-batch path
    val all = listVersions(s, root)
    val (dead, kept) = all.partition(_ < floor)
    dead.foreach(v => fs.delete(manifestPath(root, v), false))
    val referenced: Set[(Long, Int)] = kept
      .flatMap(v => manifest(s, root, v).buckets.toSeq
        .map { case (b, w) => (b, w) }).toSet
    // the parallel aggregate chain (maintained views) prunes with the
    // manifests: agg/ver=w is exactly version w's aggregate
    val retained = kept.toSet
    val aggDir = new Path(s"$root/agg")
    if (fs.exists(aggDir)) {
      for (aDir <- fs.listStatus(aggDir)) {
        val n = aDir.getPath.getName
        // crashed attempts' staged agg trees: reapable ONLY under the
        // double guard — maintainVersion's own staging for `newest`
        // is STILL LIVE here (it publishes after doApply returns)
        if (deadStaging(s, aDir, newest)) fs.delete(aDir.getPath, true)
        else if (n.startsWith("ver=") &&
            n.stripPrefix("ver=").toIntOption.exists(!retained(_)))
          fs.delete(aDir.getPath, true)
      }
    }
    val dataDir = new Path(s"$root/data")
    if (!fs.exists(dataDir)) return
    // same double-guarded dead-staging reap for the data tree (its
    // in-flight staging was already renamed by publishStaged, but the
    // guards cost nothing and keep the two trees' rules identical)
    for (d <- fs.listStatus(dataDir) if deadStaging(s, d, newest))
      fs.delete(d.getPath, true)
    for (vDir <- fs.listStatus(dataDir)
          if vDir.getPath.getName.startsWith("ver=");
        w <- vDir.getPath.getName.stripPrefix("ver=").toIntOption.toSeq) {
      for (bDir <- fs.listStatus(vDir.getPath)
            if bDir.getPath.getName.startsWith("bucket=");
          b <- bDir.getPath.getName.stripPrefix("bucket=")
            .toLongOption.toSeq
            if !referenced((b, w))) {
        require(fs.delete(bDir.getPath, true),
          s"PartitionedCdc: failed to reap ${bDir.getPath}")
      }
      // no bucket directory left → the version serves nothing; drop
      // the dir INCLUDING the writer's _SUCCESS marker (an isEmpty
      // check would keep one dead ver= dir per batch forever)
      if (!fs.listStatus(vDir.getPath)
          .exists(_.getPath.getName.startsWith("bucket=")))
        fs.delete(vDir.getPath, true)
    }
  }

  /** [[init]] plus a MAINTAINED VIEW: seed `agg/ver=0` with the one
    * full aggregation in the view's lifetime. The aggregate is
    * group-cardinality-sized, so unlike the table it is cheap to
    * version whole — the COW treatment stays where it pays (the
    * base), exactly [[CdcOps.streamMaintain]]'s storage insight.
    */
  def initMaintained(base: DataFrame, bucketOf: Column, root: String,
      dims: Seq[String], sumCols: Seq[String],
      cntCol: String = "n", sortCols: Seq[String] = Seq.empty): Unit = {
    withWriterLease(base.sparkSession, root) {
      init(base, bucketOf, root, sortCols)
      CdcOps.groupAgg(base, dims, sumCols, cntCol)
        .write.mode("overwrite").parquet(s"$root/agg/ver=0")
    }
  }

  /** Advance BOTH the table and its maintained view by one changelog
    * batch: the aggregate updates via [[CdcOps.maintainAggs]] whose
    * only base read is the churn-keyed semi-join — fed here with the
    * CHURNED-BUCKET SLICE of the pre-batch version (exact: a churn
    * key's base row lives in a churned bucket by definition), so the
    * maintenance job never reads a cold bucket either. Then the table
    * advances copy-on-write as [[applyVersion]]. Both writes key on
    * the NEW version and both inputs on the old — replay-idempotent
    * like everything else in the layout. Equivalence contract (the
    * x18 oracle): the version-v aggregate equals a full recompute
    * over the version-v table.
    */
  def maintainVersion(s: SparkSession, root: String, log: DataFrame,
      keys: Seq[String], seqCol: String, opCol: String,
      bucketOf: Column, dims: Seq[String], sumCols: Seq[String],
      fromVersion: Int, cntCol: String = "n", deleteOp: String = "D",
      retainVersions: Int = 2, sortCols: Seq[String] = Seq.empty): Int = {
    // every validation BEFORE the first write: a failed batch must
    // not leave an orphan agg/ver that a later commit legitimizes
    validateBatch(log, retainVersions)
    withWriterLease(s, root) {
    val cur = manifest(s, root, fromVersion)
    val prevAgg = s.read.parquet(s"$root/agg/ver=$fromVersion")
    val churned = churnedSet(log, bucketOf)
    // the aggregate is STAGED like the table data and published only
    // after doApply's manifest commit fences this batch in — a
    // fenced-out second writer (whose log, and therefore whose
    // aggregate, differs) must not clobber the winner's agg/ver=v
    val aggStaging = new Path(s"$root/agg",
      f".staged-ver=${fromVersion + 1}%010d." +
        s"${java.util.UUID.randomUUID}")
    val aggFs = fsOf(s, aggStaging)
    // the agg staging write and the table's COW apply are independent
    // (the agg reads the PRE-batch aggregate + the pre-batch churned
    // slice; the apply stages/commits/publishes the NEW table
    // version) — overlap them (Par.both). Ordering is preserved
    // where it matters: the agg PUBLISH below still happens only
    // after doApply's manifest commit fences this batch in, and any
    // failure on either side still deletes the UUID-keyed agg
    // staging before rethrowing (a crashed attempt's staging is also
    // reaped by the post-publish sweep, as before).
    val (_, v) =
      try Par.both {
        CdcOps.maintainAggs(prevAgg,
            churnedSlice(s, root, cur, churned, log, seqCol, opCol),
            log, keys, seqCol, opCol, dims, sumCols, cntCol, deleteOp)
          .write.mode("overwrite").parquet(aggStaging.toString)
      } {
        doApply(s, root, log, keys, seqCol, opCol, bucketOf, cur,
          churned, deleteOp, retainVersions, sortCols)
      }
      catch { case t: Throwable =>
        aggFs.delete(aggStaging, true); throw t
      }
    // publish the agg: an existing target is a faithful replay (the
    // table commit already converged) — keep it, drop the duplicate
    val aggDest = new Path(s"$root/agg/ver=$v")
    if (aggFs.exists(aggDest)) aggFs.delete(aggStaging, true)
    else if (!aggFs.rename(aggStaging, aggDest)) {
      if (aggFs.exists(aggDest)) aggFs.delete(aggStaging, true)
      else throw new java.io.IOException(
        s"PartitionedCdc: agg publish rename $aggStaging -> " +
          s"$aggDest failed")
    }
    // OUR publish is done, so under the single-writer contract every
    // remaining staged agg tree at or below this version is a dead
    // crashed attempt — reap them NOW, because pruneVersions' version
    // guard (sv < newest) can never touch a leak at the chain's FINAL
    // version (no later batch raises `newest` past it). A racing
    // second writer's staging encodes a version above ours and is
    // spared.
    val aggDir = new Path(s"$root/agg")
    if (aggFs.exists(aggDir))
      for (st <- aggFs.listStatus(aggDir)
            if stagedVersionOf(st.getPath.getName).exists(_ <= v))
        aggFs.delete(st.getPath, true)
    v
    }
  }

  /** Version-`v` read of the maintained view. */
  def readAggVersion(s: SparkSession, root: String, v: Int): DataFrame = {
    val p = new Path(s"$root/agg/ver=$v")
    val fs = fsOf(s, p)
    if (!fs.exists(p)) {
      // report the AGG versions that exist, not the manifest list —
      // the two chains can disagree (non-maintained root, or a chain
      // gap) and naming versions this read would also fail on is
      // worse than useless
      val aggDir = new Path(s"$root/agg")
      val have =
        if (!fs.exists(aggDir)) Seq.empty[Int]
        else fs.listStatus(aggDir).toSeq.map(_.getPath.getName)
          .filter(_.startsWith("ver="))
          .flatMap(_.stripPrefix("ver=").toIntOption).sorted
      throw new IllegalArgumentException(
        s"PartitionedCdc: aggregate version $v not present under " +
          s"$root — " +
          (if (have.isEmpty) "no aggregate chain (not a maintained " +
            "root, or every version reaped)"
           else s"retained aggregate versions: ${have.mkString(", ")}"))
    }
    s.read.parquet(p.toString)
  }

  /** The newest manifest's serving directories are all on disk — the
    * seed-skip predicate of the streaming twins. Driver-side
    * metadata: one existence check per DISTINCT serving version in
    * the newest bucket map (a fresh seed has exactly one). False
    * during init's commit-published-pending crash window, so the
    * re-run completes the publish instead of wedging on a
    * manifest-only root.
    */
  private def published(ss: SparkSession, root: String): Boolean =
    listVersions(ss, root).lastOption.exists { v =>
      val m = manifest(ss, root, v)
      val fs = fsOf(ss, new Path(root))
      m.buckets.values.toSet.forall(w =>
        fs.exists(new Path(s"$root/data/ver=$w")))
    }

  /** CONTINUOUS partitioned apply — [[CdcOps.streamApply]]'s twin
    * over the copy-on-write layout: the log replays as seq-ordered
    * micro-batches, batch B applies on version B and writes version
    * B+1 (churned buckets only). Same derived-final-version contract
    * and replay safety as the full-snapshot chain; returns the final
    * table.
    */
  def streamApply(ss: SparkSession, base: DataFrame, log: DataFrame,
      keys: Seq[String], seqCol: String, opCol: String,
      bucketOf: Column, nFiles: Int, root: String,
      deleteOp: String = "D", retainVersions: Int = 2,
      sortCols: Seq[String] = Seq.empty): DataFrame = {
    validateBatch(log, retainVersions) // fail fast, before the init
    // seed/stage/replay through the shared skeleton (resume-safe
    // init, empty-log short-circuit — see
    // StreamingOps.versionedReplay)
    val staged = graft.streaming.StreamingOps.versionedReplay(
        ss, log, seqCol, nFiles, root) {
      // seeded = committed manifest chain AND its serving directories
      // PUBLISHED (quiet ticks never create the checkpoint, and must
      // not re-stage the full base — but a manifest alone is not
      // enough: init can crash between the commit and the staging
      // publish, and treating that as seeded would wedge the root
      // forever, where a re-run of init converges the commit and
      // completes the publish)
      published(ss, root)
    } {
      init(base, bucketOf, root, sortCols)
    } { (batch, batchId) =>
      applyVersion(ss, root, batch, keys, seqCol, opCol, bucketOf,
        batchId.toInt, deleteOp, retainVersions, sortCols)
    }
    val vs = listVersions(ss, root)
    if (staged == 0) {
      // quiet tick (empty changelog): nothing staged, nothing
      // replayed — serve the CURRENT version, which is the batch
      // oracle's answer for an empty log on this root (a fresh root
      // serves its seed, an already-advanced root its last committed
      // version — whose number the staged count cannot derive)
      require(vs.nonEmpty,
        s"PartitionedCdc.streamApply: $root has no versions after a " +
          "quiet (empty-log) tick — the root was never seeded")
      readVersion(ss, root, vs.last)
    } else {
      require(vs.lastOption.contains(staged),
        s"PartitionedCdc.streamApply: expected final version $staged " +
          s"after $staged micro-batches, found ${vs.lastOption}")
      readVersion(ss, root, staged)
    }
  }

  /** CONTINUOUS maintained view over the copy-on-write layout —
    * [[CdcOps.streamMaintain]]'s twin: each micro-batch advances the
    * bucketed table (churned buckets only) AND the group-sized
    * aggregate chain. Returns the final aggregate, held to the batch
    * recompute oracle (st17 ≡ x18 ≡ x12).
    */
  def streamMaintain(ss: SparkSession, base: DataFrame, log: DataFrame,
      keys: Seq[String], seqCol: String, opCol: String,
      bucketOf: Column, nFiles: Int, root: String, dims: Seq[String],
      sumCols: Seq[String], cntCol: String = "n",
      deleteOp: String = "D", retainVersions: Int = 2,
      sortCols: Seq[String] = Seq.empty): DataFrame = {
    // fail fast, before the base write and log staging — inside
    // foreachBatch the same require would surface wrapped in a
    // StreamingQueryException after paying the whole init
    validateBatch(log, retainVersions)
    // shared skeleton: a resumed root skips the init (base layout AND
    // the view's one seeding aggregation)
    val staged = graft.streaming.StreamingOps.versionedReplay(
        ss, log, seqCol, nFiles, root) {
      // seeded = manifest chain committed AND its newest version's
      // aggregate published (initMaintained writes the agg last, so a
      // crash between the two re-seeds; init's commit converges)
      listVersions(ss, root).lastOption.exists { v =>
        val p = new Path(s"$root/agg/ver=$v")
        fsOf(ss, p).exists(p)
      }
    } {
      initMaintained(base, bucketOf, root, dims, sumCols, cntCol,
        sortCols)
    } { (batch, batchId) =>
      maintainVersion(ss, root, batch, keys, seqCol, opCol, bucketOf,
        dims, sumCols, batchId.toInt, cntCol, deleteOp, retainVersions,
        sortCols)
    }
    // same derived-final-version contract as streamApply: batch N
    // reads version N and commits N+1, so the manifest chain must
    // end at exactly the staged count — except a QUIET TICK
    // (staged == 0), which serves the current aggregate version
    val vs = listVersions(ss, root)
    if (staged == 0) {
      // newest version whose aggregate is PUBLISHED: a maintain batch
      // can crash after its table commit but before the agg publish
      // (the documented window) — the quiet tick then serves the
      // previous version's aggregate (still retained: the floor keeps
      // newest - retainVersions <= newest - 1) instead of throwing on
      // the not-yet-published one
      val served = vs.reverse.find { v =>
        val p = new Path(s"$root/agg/ver=$v")
        fsOf(ss, p).exists(p)
      }
      require(served.nonEmpty,
        s"PartitionedCdc.streamMaintain: $root has no published " +
          "aggregate versions after a quiet (empty-log) tick — the " +
          "root was never seeded")
      readAggVersion(ss, root, served.get)
    } else {
      require(vs.lastOption.contains(staged),
        s"PartitionedCdc.streamMaintain: expected final version " +
          s"$staged after $staged micro-batches, found ${vs.lastOption}")
      readAggVersion(ss, root, staged)
    }
  }
}
