package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A MINIMAL manifest for the `(ingest, …)`-partitioned index
  * artifacts — the read-path half of artifact maintenance. Without it,
  * every reader lists the artifact directory, which couples readers to
  * the physical tree at exactly the moments maintenance mutates it:
  *  - [[LayoutOps.swapInto]] has a rename window where the directory
  *    is briefly absent or straddles old/new trees;
  *  - a crashed append leaves an uncommitted `ingest=` directory that
  *    a listing-based reader silently serves.
  *
  * The manifest inverts the dependency: each committed mutation writes
  * `_manifests/manifest-<version>.json` naming the LIVE generation set
  * (plus a content signature for change detection), and readers pin
  * the highest manifest version — uncommitted generations are
  * invisible, and [[compactGenerations]] here replaces the swap with
  * write-new-generation → flip-manifest-last → vacuum, so a reader
  * pinned to a pre-compaction manifest keeps serving its generation
  * set throughout the flip (spec-held — `ArtifactManifestSpec` pins
  * this, orphan invisibility, vacuum reaping, pruning, legacy
  * adoption, and append replay-idempotence; the old files survive
  * until [[vacuum]]). This is the manifest/version-file core of every
  * lakehouse table format, minus the parts a single-writer artifact
  * does not need (optimistic concurrency, schema evolution); when an
  * artifact ever needs concurrent WRITERS, a real transaction log is
  * the answer.
  *
  * Manifest versions are CREATE-NEW files (never overwritten):
  * visibility is one atomic rename, and the highest version wins.
  * Directory listing remains the documented FALLBACK for artifacts
  * predating the manifest (and after [[LayoutOps.swapInto]]-based
  * maintenance, which replaces the subtree wholesale and drops
  * `_manifests` — the fresh listing is then exactly the live set).
  * Same SINGLE-WRITER mutation contract as every artifact op.
  */
object ArtifactManifest {

  /** `partCols`: which fields of `schemaJson` are directory-encoded
    * partition columns (empty when the schema was inferred, or the
    * manifest predates the field) — a read drops them from the stored
    * schema and lets path discovery type them.
    */
  final case class Pin(version: Long, generations: Seq[Long],
      signature: String,
      genDigests: Map[Long, String] = Map.empty,
      schemaJson: Option[String] = None,
      partCols: Seq[String] = Nil) {
    def shape: Option[Shape] = schemaJson.map(Shape(_, partCols))
  }

  /** A generation's read-back schema and the names of its partition
    * columns — what a pin stores so a reader needs no footer
    * inference.
    */
  final case class Shape(schemaJson: String, partCols: Seq[String])

  private def fsOf(s: SparkSession, p: Path): FileSystem =
    p.getFileSystem(s.sparkContext.hadoopConfiguration)

  /** `_` prefix: Spark's file-source listing treats the directory as
    * hidden, so manifests never pollute the artifact's data scan.
    */
  private def manifestDir(dir: String) = new Path(dir, "_manifests")

  private[operators] def md5(x: String): String = java.security.MessageDigest
    .getInstance("MD5")
    .digest(x.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    .map("%02x".format(_)).mkString

  /** Stable listing digest of one generation subtree: every file's
    * path relative to `dir`, and its length. Driver-side metadata
    * only — bounded by the generation's file count, never a data read.
    *
    * Walked with [[listStatusWalk]], NOT `fs.listFiles(_, true)`:
    * this runs on every recordBuild/recordAppend — i.e. once per
    * streaming micro-batch — and listFiles materializes a
    * LocatedFileStatus per file, which on the local Hadoop adapter
    * without the native lib forks an `ls` PROCESS per file to read
    * permissions (measured on this box: 64 files, 310 ms listFiles
    * vs 4 ms listStatus walk). The walk needs only
    * path+length, which plain listStatus carries fork-free.
    */
  private def genListing(s: SparkSession, dir: String,
      gen: Long): String = {
    val gp = new Path(dir, s"ingest=$gen")
    val fs = fsOf(s, gp)
    if (!fs.exists(gp)) s"ingest=$gen:absent"
    else {
      val base = fs.makeQualified(new Path(dir)).toString + "/"
      listStatusWalk(fs, gp)
        .map(f => s"${f.getPath.toString.stripPrefix(base)}:${f.getLen}")
        .sorted.mkString("\n")
    }
  }

  /** Recursive FILE statuses under `p` via per-directory listStatus —
    * the fork-free local-adapter path (see [[genListing]]'s rationale;
    * `listFiles(_, true)` pays a forked `ls` per file there). On
    * remote stores this costs one LIST per directory instead of
    * listFiles' single flat LIST — the artifact trees are two levels
    * deep (`ingest=g/part=p/files`), so the request count stays
    * bounded by the partition count the walk touches anyway.
    */
  private[operators] def listStatusWalk(fs: FileSystem,
      p: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(p).toSeq.flatMap { st =>
      if (st.isDirectory) listStatusWalk(fs, st.getPath) else Seq(st)
    }

  /** Raw listing text per generation — one metadata walk, shared by
    * [[fullSignatureOf]] (digest of the join) and the per-generation
    * digest map (digest of each) so no caller lists a subtree twice.
    */
  private def rawListings(s: SparkSession, dir: String,
      gens: Seq[Long]): Map[Long, String] =
    gens.map(g => g -> genListing(s, dir, g)).toMap

  /** Name-INSENSITIVE content digest of one generation's listing: the
    * partition subpath and length of every file, with the file name
    * itself dropped. A legitimately replayed batch (dynamic-partition
    * overwrite of the same rows) rewrites byte-identical files under
    * FRESH task-attempt names — same sizes, same partition layout —
    * and must keep its committed digest; a diverged replay changes
    * sizes or layout and must not. (A divergence that preserves every
    * file's partition and compressed size would slip through — the
    * digest is a guard, not a content address.)
    */
  private def contentDigestOfListing(listing: String): String =
    md5(listing.split("\n").toSeq.map { line =>
      val i = line.lastIndexOf(':')
      val (p, len) = (line.take(i), line.drop(i))
      val slash = p.lastIndexOf('/')
      (if (slash >= 0) p.take(slash) else p) + len
    }.sorted.mkString("\n"))

  private def digestsOf(raw: Map[Long, String]): Map[Long, String] =
    raw.map { case (g, l) => g -> contentDigestOfListing(l) }

  /** Full content signature over a generation set. */
  private def fullSignatureOf(raw: Map[Long, String],
      gens: Seq[Long]): String =
    md5(gens.sorted.map(raw).mkString("\n\n"))

  /** Highest committed manifest, if the artifact has any. */
  def latest(s: SparkSession, dir: String): Option[Pin] = {
    val md = manifestDir(dir)
    val fs = fsOf(s, md)
    if (!fs.exists(md)) return None
    val vs = fs.listStatus(md).map(_.getPath.getName).collect {
      case n if n.startsWith("manifest-") && n.endsWith(".json") &&
          n.stripPrefix("manifest-").stripSuffix(".json")
            .forall(_.isDigit) =>
        n.stripPrefix("manifest-").stripSuffix(".json").toLong
    }
    if (vs.isEmpty) return None
    val v = vs.max
    val in = fs.open(new Path(md, f"manifest-$v%020d.json"))
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val j = JsonMethods.parse(text)
    val gens = (j \ "generations") match {
      case JArray(xs) => xs.map {
        case JInt(i) => i.toLong
        case other => sys.error(
          s"ArtifactManifest: non-integer generation $other in " +
            s"manifest-$v of $dir")
      }
      case other => sys.error(
        s"ArtifactManifest: malformed generations $other in " +
          s"manifest-$v of $dir")
    }
    val sig = (j \ "signature") match {
      case JString(x) => x
      case _ => ""
    }
    // optional (absent in pre-round-10 manifests): per-generation
    // listing digests for replay change detection
    val digests = (j \ "genDigests") match {
      case JObject(fields) => fields.collect {
        case JField(k, JString(d)) if k.forall(_.isDigit) =>
          k.toLong -> d
      }.toMap
      case _ => Map.empty[Long, String]
    }
    // optional (absent in pre-round-13 manifests): the artifact's data
    // schema, so a committed-EMPTY live set (total takedown) can still
    // serve a zero-row frame instead of failing schema inference over
    // a fileless directory
    val schemaJson = (j \ "schema") match {
      case JString(x) => Some(x)
      case _ => None
    }
    val partCols = (j \ "partitions") match {
      case JArray(xs) => xs.collect { case JString(c) => c }
      case _ => Nil
    }
    Some(Pin(v, gens, sig, digests, schemaJson, partCols))
  }

  /** Commit a new manifest version: write to a temp name, rename into
    * place CREATE-NEW (an existing target means a second writer — fail
    * loudly rather than silently race), return the version. `prev` is
    * the caller's already-loaded pin (every mutation reads it anyway)
    * — re-listing here would double the driver-side metadata calls of
    * a per-micro-batch streaming append.
    */
  /** Newest-generation schema merged with the carried-forward pin's:
    * newest wins per field name, carried-only fields are appended (as
    * nullable — the newest generation has no values for them). The
    * merge keeps BOTH guarantees: additive evolution lands (a stamped
    * append on a pre-stamp artifact must not be frozen out by
    * carry-forward), and an old NARROW writer appending after
    * evolution cannot silently regress the stored shape — its commit
    * re-acquires the evolved fields from the carry.
    */
  private def mergeSchemaJson(newest: String, carried: String): String =
    if (newest == carried) newest
    else {
      import org.apache.spark.sql.types.{DataType, StructType}
      val n = DataType.fromJson(newest).asInstanceOf[StructType]
      val c = DataType.fromJson(carried).asInstanceOf[StructType]
      val have = n.fieldNames.toSet
      StructType(n.fields ++ c.fields.filterNot(f => have(f.name))
        .map(_.copy(nullable = true))).json
    }

  private def commit(s: SparkSession, dir: String, gens: Seq[Long],
      signature: String, prev: Option[Pin],
      genDigests: Map[Long, String] = Map.empty,
      known: Option[Shape] = None,
      mergeCarried: Boolean = true): Long = {
    val md = manifestDir(dir)
    val fs = fsOf(s, md)
    fs.mkdirs(md)
    val v = prev.map(_.version + 1).getOrElse(0L)
    // the data schema rides every manifest, so the one moment it is
    // NEEDED — serving a committed-empty artifact (total takedown) as
    // a zero-row frame — it is already stored. Sources, cheapest
    // first:
    //  - the WRITE PATH's own shape (`known` — every
    //    artifact mutation has the written DataFrame in hand, so this
    //    is free; the per-commit DataFrameReader inference it
    //    replaces cost the index lifecycle family 2-3x at sf0.1);
    //  - DataFrameReader inference over the NEWEST generation only,
    //    for callers that cannot pass a schema (legacy adoption of an
    //    externally-written tree) — one small listing + one footer;
    //  - the previous pin's stored schema (fileless commit).
    // The newest schema is MERGED with the carry-forward
    // ([[mergeSchemaJson]]) on EVOLVING commits (appends,
    // content-preserving compactions) — but a BUILD replaces it
    // outright (`mergeCarried = false`): a rebuild that legitimately
    // dropped a column must not carry the phantom field forever.
    val newestJson = known.map(_.schemaJson).orElse {
      gens.sorted.lastOption.flatMap { g =>
        scala.util.Try(
          s.read.option("basePath", dir).parquet(s"$dir/ingest=$g")
            .schema.json).toOption
      }
    }
    val carried = prev.flatMap(_.schemaJson)
    val schemaJson = ((newestJson, carried) match {
      case (Some(n), Some(c)) if mergeCarried =>
        Some(mergeSchemaJson(n, c))
      case (n, c) => n.orElse(c)
    }).orElse(
      scala.util.Try(
        s.read.option("basePath", dir).parquet(dir).schema.json)
        .toOption)
    // partition columns are known only with a known shape, or with
    // the carried schema alone (a fileless commit); an inferred schema
    // records none, so its readers keep inference
    val partCols = known.map(_.partCols).getOrElse(
      if (newestJson.isEmpty && schemaJson == carried)
        prev.map(_.partCols).getOrElse(Nil)
      else Nil)
    // digests are hex, keys numeric — safe to emit without escaping
    val digestJson = genDigests.toSeq.sortBy(_._1)
      .map { case (g, d) => s""""$g":"$d"""" }.mkString(",")
    // the schema json carries quotes — render through json4s so the
    // embedded string is escaped correctly
    val schemaField = schemaJson.map { sj =>
      s""","schema":${org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(org.json4s.JString(sj)))}"""
    }.getOrElse("")
    val partField = if (partCols.isEmpty) ""
      else partCols.map(c => org.json4s.jackson.JsonMethods.compact(
          org.json4s.jackson.JsonMethods.render(org.json4s.JString(c))))
        .mkString(""","partitions":[""", ",", "]")
    val json =
      s"""{"version":$v,"generations":[${gens.sorted.mkString(",")}],""" +
        s""""signature":"$signature","genDigests":{$digestJson}""" +
        schemaField + partField + "}"
    val tmp = new Path(md, f".manifest-$v%020d.json.tmp")
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val fin = new Path(md, f"manifest-$v%020d.json")
    require(!fs.exists(fin) && fs.rename(tmp, fin),
      s"ArtifactManifest: manifest version $v already exists (or " +
        s"rename failed) at $dir — a concurrent writer violated the " +
        "single-writer contract")
    // keep a short history for post-mortems; prune the rest so
    // manifests never accumulate unboundedly. Stale dot-tmp files
    // (a crashed earlier commit died between create and rename) are
    // reaped too — the name filter used to skip them, so a flaky-FS
    // retry loop grew the directory without bound and slowed every
    // latest() listing. Safe under the single-writer contract: OUR
    // tmp was just renamed away, so any remaining tmp is dead.
    val old = fs.listStatus(md).map(_.getPath).filter { p =>
      val n = p.getName
      (n.startsWith("manifest-") && n.endsWith(".json") &&
        n.stripPrefix("manifest-").stripSuffix(".json")
          .forall(_.isDigit) &&
        n.stripPrefix("manifest-").stripSuffix(".json").toLong < v - 4) ||
      (n.startsWith(".manifest-") && n.endsWith(".json.tmp"))
    }
    old.foreach(fs.delete(_, false))
    v
  }

  // ---- driver-side state files ----------------------------------------
  // The KB-sized state beside an index's data tree (banding geometry,
  // quantizers, gate stamp, drift baseline, membership sketch) is one
  // small binary file per piece, read and written on the driver with
  // no Spark job. Layout: magic, format version, the piece's kind tag,
  // then its fields; doubles are stored as their raw IEEE bits
  // (`doubleToRawLongBits`), so every value — NaN payloads, -0.0,
  // subnormals — decodes bit-exactly. A write goes to a hidden tmp
  // sibling, then the old file is deleted and the tmp renamed in: a
  // crash leaves the old state, no state, or the new state, the same
  // windows as the `mode("overwrite")` tree it replaced, never a torn
  // file. An absent file means no state.

  private val StateMagic = 0x47535431 // "GST1"
  private val StateVersion = 1

  /** Field writer of one state file. */
  final class StateOut private[ArtifactManifest] (
      d: java.io.DataOutputStream) {
    def int(v: Int): StateOut = { d.writeInt(v); this }
    def long(v: Long): StateOut = { d.writeLong(v); this }
    def double(v: Double): StateOut =
      long(java.lang.Double.doubleToRawLongBits(v))
    def longs(a: Array[Long]): StateOut = {
      int(a.length); a.foreach(long); this
    }
    def doubles(a: Array[Double]): StateOut = {
      int(a.length); a.foreach(double); this
    }
  }

  /** Field reader of one state file, in the order they were written. */
  final class StateIn private[ArtifactManifest] (
      d: java.io.DataInputStream) {
    def int(): Int = d.readInt()
    def long(): Long = d.readLong()
    def double(): Double = java.lang.Double.longBitsToDouble(long())
    def longs(): Array[Long] = Array.fill(length())(long())
    def doubles(): Array[Double] = Array.fill(length())(double())
    private def length(): Int = {
      val n = int()
      if (n < 0 || n > d.available() / 8) throw new java.io.IOException(
        s"state file: array length $n exceeds the remaining bytes")
      n
    }
  }

  private[graft] def encodeState(kind: String)(
      body: StateOut => Unit): Array[Byte] = {
    val bytes = new java.io.ByteArrayOutputStream()
    val d = new java.io.DataOutputStream(bytes)
    d.writeInt(StateMagic)
    d.writeInt(StateVersion)
    d.writeUTF(kind)
    body(new StateOut(d))
    d.flush()
    bytes.toByteArray
  }

  /** Decode `bytes` as a `kind` state file; refuses another kind, an
    * unknown version, a truncated file and trailing bytes.
    */
  private[graft] def decodeState[T](bytes: Array[Byte], kind: String)(
      body: StateIn => T): T = {
    val d = new java.io.DataInputStream(
      new java.io.ByteArrayInputStream(bytes))
    val (magic, version, tag) = (d.readInt(), d.readInt(), d.readUTF())
    if (magic != StateMagic || version != StateVersion || tag != kind)
      throw new java.io.IOException(
        s"state file: expected $kind v$StateVersion, found " +
          f"magic=$magic%08x version=$version kind=$tag")
    val v = body(new StateIn(d))
    if (d.available() != 0) throw new java.io.IOException(
      s"state file: ${d.available()} trailing bytes after the $kind state")
    v
  }

  /** Write the `kind` state file at `path` (see the section note). */
  private[graft] def saveState(s: SparkSession, path: String,
      kind: String)(body: StateOut => Unit): Unit = {
    val fin = new Path(path)
    val fs = fsOf(s, fin)
    val tmp = new Path(fin.getParent, s".${fin.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(encodeState(kind)(body)) finally out.close()
    fs.delete(fin, false)
    if (!fs.rename(tmp, fin)) {
      fs.delete(tmp, false)
      throw new java.io.IOException(s"state file: rename $tmp -> $fin failed")
    }
  }

  /** The `kind` state file at `path`, `None` when absent. */
  private[graft] def loadState[T](s: SparkSession, path: String,
      kind: String)(body: StateIn => T): Option[T] = {
    val p = new Path(path)
    val in = try Some(fsOf(s, p).open(p))
      catch { case _: java.io.FileNotFoundException => None }
    in.map { i =>
      val bytes = try i.readAllBytes() finally i.close()
      decodeState(bytes, kind)(body)
    }
  }

  /** Whether the state file at `path` is present. */
  private[graft] def hasState(s: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    fsOf(s, p).exists(p)
  }

  /** Remove the state file at `path` (absent is fine). */
  private[graft] def dropState(s: SparkSession, path: String): Unit = {
    val p = new Path(path)
    fsOf(s, p).delete(p, false)
  }

  /** Record a fresh BUILD: the live set is exactly the on-disk
    * listing (a build starts the artifact; there is nothing stale to
    * exclude). `known` is the written frame's shape when the caller
    * has it — the commit then skips schema inference, and readers of
    * the pin skip it too.
    */
  def recordBuild(s: SparkSession, dir: String,
      known: Option[Shape] = None): Unit = {
    val gens = LayoutOps.ingestGenerations(s, dir)
    val raw = rawListings(s, dir, gens)
    // a build REPLACES the artifact — its schema replaces the pin's
    // (no merge): a rebuild that dropped a column must not carry it
    commit(s, dir, gens, fullSignatureOf(raw, gens), latest(s, dir),
      digestsOf(raw), known, mergeCarried = false)
  }

  /** Record a committed APPEND of `gen`. The signature extends the
    * previous one incrementally (hash-chained with the new
    * generation's listing), so a per-batch streaming append pays one
    * small-directory listing, not a full artifact walk. Chained
    * signatures are a DISTINCT namespace from [[fullSignatureOf]]'s
    * (same live set, different digest) — both serve change detection
    * (compare like with like), neither is a content address.
    *
    * Replay-idempotent: a replayed streaming batch (gen already live)
    * is a no-op — committing again would re-chain the same listing and
    * change the signature with unchanged content. The no-op is
    * GUARDED: the manifest stores each generation's name-insensitive
    * content digest ([[contentDigestOfListing]] — partition layout +
    * file sizes, so a faithful replay's fresh task-attempt file names
    * don't trip it), and a replay whose write produced DIFFERENT
    * content (clusterAppend overwrites the generation directory
    * before this call, so a diverged re-run would silently swap
    * content under a stale signature) fails loudly instead of
    * no-opping. Manifests written before the digest field existed
    * have no stored digest for old generations — those replays keep
    * the identical-content assumption undetected, matching the
    * streaming-batch contract. A ZERO-ROW
    * append is also a no-op: a dynamic-partition write that produced
    * no rows creates no `ingest=` directory (e.g. an ingest batch
    * whose every doc fell below the shingle threshold), and pinning
    * the absent path would make every subsequent [[frame]] read fail.
    */
  def recordAppend(s: SparkSession, dir: String, gen: Long,
      known: Option[Shape] = None): Unit =
    latest(s, dir) match {
      case Some(p) if p.generations.contains(gen) =>
        p.genDigests.get(gen).foreach { stored =>
          val now = contentDigestOfListing(genListing(s, dir, gen))
          require(now == stored,
            s"recordAppend: generation $gen of $dir is already " +
              s"committed but its on-disk listing digest ($now) no " +
              s"longer matches the manifest's ($stored) — a replay " +
              "must rewrite byte-identical content; this one " +
              "diverged, and no-opping would serve swapped content " +
              "under a stale signature")
        }
      case Some(p) =>
        val fs = fsOf(s, new Path(dir))
        if (fs.exists(new Path(dir, s"ingest=$gen"))) {
          val listing = genListing(s, dir, gen)
          commit(s, dir, (p.generations :+ gen).distinct,
            md5(p.signature + "\n\n" + listing), Some(p),
            p.genDigests + (gen -> contentDigestOfListing(listing)),
            known)
        }
      case None =>
        // legacy artifact (predates manifests): adopt the listing
        recordBuild(s, dir, known)
    }

  /** Re-derive the live set after a TAKEDOWN
    * ([[LayoutOps.deleteKeysPartitioned]] can empty whole
    * generations): previous set ∩ still-existing directories — never
    * the raw listing, which would resurrect uncommitted generations a
    * crashed append left behind.
    */
  def refreshAfterDelete(s: SparkSession, dir: String): Unit =
    latest(s, dir).foreach { p =>
      val live = LayoutOps.ingestGenerations(s, dir).toSet
      val gens = p.generations.filter(live)
      // the takedown rewrote files in place — every surviving
      // generation's digest must be recomputed, not carried over. The
      // SCHEMA, by contrast, is exactly the previous pin's: a
      // takedown deletes rows, never evolves the shape — so the
      // stored schema rides through with no inference
      val raw = rawListings(s, dir, gens)
      commit(s, dir, gens, fullSignatureOf(raw, gens), Some(p),
        digestsOf(raw), p.shape)
    }

  /** The artifact's data as of the latest manifest: ONLY the listed
    * generation directories are read (uncommitted appends are
    * invisible; files a deferred [[vacuum]] has not yet reaped are
    * excluded). A manifest whose live set is EMPTY (a takedown emptied
    * every generation) serves zero rows — never the raw listing, which
    * would resurrect a crashed append's uncommitted orphan, exactly
    * the data the manifest exists to hide. Only an artifact with NO
    * manifest at all gets the plain directory read (legacy behavior).
    */
  def frame(s: SparkSession, dir: String): DataFrame =
    liveFrame(s, dir)

  /** [[frame]] plus the manifest PIN it was read at (`None` for a
    * tree with no manifest) — ONE `latest()` read, so the pin can
    * never drift from the generation set the frame serves. Two
    * consumers thread it onward: (1) the ADC recall report stamps
    * the pin's VERSION rather than re-reading `latest()` at stamp
    * time — a concurrent append between the frame read and the stamp
    * would otherwise stamp the report fresh for a corpus it never
    * measured; (2) the native set-push re-readers list the pin's
    * GENERATIONS rather than re-pinning at scan time — a tier that
    * re-pinned could serve a different generation set than the
    * frame the other tiers serve, making the tier choice
    * decision-visible under concurrent mutation.
    */
  def pinnedFrame(s: SparkSession, dir: String)
      : (Option[Pin], DataFrame) = {
    val pin = latest(s, dir)
    (pin, frameOfPin(s, dir, pin))
  }

  /** Physical bytes of the LIVE pinned generation set — the honest
    * cost-model input for the gates' pushdown decisions: a raw
    * content summary over a manifest-managed tree also counts
    * orphaned un-vacuumed generations and the `_manifests` metadata,
    * so a decision sized from it can flip on before the live data
    * warrants it. Trees without a manifest keep the whole-tree
    * summary (there is nothing better to measure).
    */
  def liveBytes(s: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def bytes(path: org.apache.hadoop.fs.Path): Long =
      if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
    latest(s, dir) match {
      case Some(pin) => pin.generations.map(g =>
        bytes(new org.apache.hadoop.fs.Path(s"$dir/ingest=$g"))).sum
      case None => bytes(p)
    }
  }

  private def liveFrame(s: SparkSession, dir: String): DataFrame =
    frameOfPin(s, dir, latest(s, dir))

  /** The pinned generations' frame. A pin that stores its shape is
    * read with the stored DATA schema — no footer-inference job — and
    * the partition columns are left to path discovery, which types
    * them exactly as an inferred read does; a pin without one keeps
    * inference.
    */
  private[operators] def frameOfPin(s: SparkSession, dir: String,
      pin: Option[Pin]): DataFrame =
    pin match {
      case Some(p) if p.generations.nonEmpty =>
        val r = s.read.option("basePath", dir)
        (p.shape match {
          case Some(sh) if sh.partCols.nonEmpty => r.schema(
            org.apache.spark.sql.types.StructType(
              org.apache.spark.sql.types.DataType.fromJson(sh.schemaJson)
                .asInstanceOf[org.apache.spark.sql.types.StructType]
                .fields.filterNot(f => sh.partCols.contains(f.name))))
          case _ => r
        }).parquet(p.generations.sorted.map(g => s"$dir/ingest=$g"): _*)
      case Some(p) =>
        // committed-empty (a takedown emptied every generation): zero
        // rows in the STORED schema — a clean total takedown leaves
        // no parquet file to infer from, and bricking the artifact
        // until a rebuild would contradict the takedown contract
        // (serving-after-delete ≡ an index never containing the ids:
        // an empty index serves zero candidates, it does not crash).
        // Orphan files, when present, still donate the schema for
        // legacy manifests that predate the stored one.
        p.schemaJson match {
          case Some(sj) => s.createDataFrame(
            s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            org.apache.spark.sql.types.DataType.fromJson(sj)
              .asInstanceOf[org.apache.spark.sql.types.StructType])
          case None =>
            s.read.option("basePath", dir).parquet(dir)
              .where(lit(false))
        }
      case None => s.read.parquet(dir)
    }

  /** Generation compaction under the manifest: collapse the LIVE
    * generation set into one NEW generation and flip the manifest. No
    * directory a reader is inside is renamed or rewritten, so a reader
    * pinned before the flip keeps serving its generation set. Steps:
    *
    *  1. read the PINNED live set (a crashed append's uncommitted
    *     generation is not compacted in — it stays orphaned for
    *     [[vacuum]]);
    *  2. rewrite it as `ingest=<max(listing)+1>` — a brand-new
    *     directory, so no live reader's files are touched (numbering
    *     takes the LISTING max so an orphaned higher generation is
    *     never overwritten);
    *  3. commit the manifest naming only the new generation — the
    *     atomic flip: readers loading before it serve the old set
    *     (files still present), readers after it serve the collapsed
    *     one, and both see identical rows;
    *  4. [[vacuum]] (skippable with `vacuum = false` while readers
    *     may still hold pre-flip pins — run it after their lease).
    *
    * `sortWithin` re-sorts rows inside each rewritten file, for
    * artifacts whose partitions carry a meaningful row order (the
    * gate stores' bucket column); the partition column leads the sort
    * so the partitioned write's required ordering is already satisfied
    * and its own (unstable) sort never runs
    * ([[LayoutOps.writeGenerationPacked]]). Returns the surviving
    * generation.
    */
  def compactGenerations(s: SparkSession, dir: String, partCol: String,
      filesPerPartition: Int = 1, sortWithin: Seq[String] = Nil,
      vacuum: Boolean = true, rangeFiles: Boolean = false): Long = {
    require(filesPerPartition >= 1,
      s"compactGenerations: filesPerPartition >= 1 " +
        s"(got $filesPerPartition)")
    // complete a crashed staged takedown first — its marked staging
    // tree holds pre-compaction partition copies that a later
    // recovery would wrongly adopt over the compacted tree (see
    // LayoutOps.deleteKeysPartitioned's recover-first rationale)
    LayoutOps.recoverStagedTakedown(s, dir, partCol)
    val listed = LayoutOps.ingestGenerations(s, dir)
    require(listed.nonEmpty,
      s"compactGenerations: $dir has no ingest= partitions — not a " +
        "built artifact")
    requireNotCommittedEmpty(s, dir, "compactGenerations")
    val newGen = listed.max + 1
    // the live frame is in hand for the rewrite anyway — its resolved
    // schema rides into the commit for free (no re-inference)
    val live = frame(s, dir)
    LayoutOps.writeGenerationPacked(live.drop("ingest"),
      partCol, filesPerPartition, sortWithin, s"$dir/ingest=$newGen",
      rangeFiles)
    val raw = rawListings(s, dir, Seq(newGen))
    commit(s, dir, Seq(newGen), fullSignatureOf(raw, Seq(newGen)),
      latest(s, dir), digestsOf(raw),
      Some(Shape(live.schema.json, Seq("ingest", partCol))))
    if (vacuum) this.vacuum(s, dir)
    newGen
  }

  /** [[compactGenerations]] with the file layout SIZED from the live
    * store — the index gates' maintenance entry. Files per partition
    * = ceil(liveBytes / partitions / `graft.index.targetFileBytes`
    * (default 512 MiB)); past ONE file per partition the partition's
    * files are RANGE-split on the sort key (rangeFiles): hash packing
    * re-scatters every file across the full key space, so pushed
    * set-probes would degrade toward per-file-exposure × files the
    * moment a band outgrows one task's file, while disjoint range
    * slices keep rows-read per touched key ~page-sized at any file
    * count (the layout the native tier's 3.5× win was measured on).
    * Below the bar the proven 1-file-per-partition layout is kept —
    * the sized call is byte-identical to the old fixed call there.
    * Sort-less artifacts (no gate layout) size file COUNT the same
    * way but split by row hash — there is no key order to preserve.
    */
  def compactGenerationsSized(s: SparkSession, dir: String,
      partCol: String, sortWithin: Seq[String] = Nil,
      vacuum: Boolean = true): Long = {
    val fpp = sizedFilesPerPartition(s, liveBytes(s, dir),
      LayoutOps.partitionValueCount(s, dir, partCol))
    compactGenerations(s, dir, partCol, filesPerPartition = fpp,
      sortWithin = sortWithin, vacuum = vacuum,
      rangeFiles = fpp > 1 && sortWithin.nonEmpty)
  }

  /** Files per partition for a sized rewrite of `bytes` over `nPart`
    * partitions: ceil(bytes / nPart / `graft.index.targetFileBytes`),
    * capped at 4096.
    */
  private def sizedFilesPerPartition(s: SparkSession, bytes: Long,
      nPart: Int): Int = {
    val target =
      Knobs.long(s, "graft.index.targetFileBytes", 512L << 20, min = 1)
    math.min(4096L,
      math.max(1L, (bytes / math.max(1, nPart) + target - 1L) / target))
      .toInt
  }

  /** The index stores' compaction trigger for the streaming gates,
    * which have no batch left to merge: once `store` carries
    * `compactEvery` generations, collapse it with
    * [[compactGenerationsSized]] (past `graft.index.targetFileBytes`
    * per partition the files range-split on `sortWithin`, so the
    * pushed probes keep skipping). Batch appends merge on write
    * instead ([[appendGeneration]]).
    */
  private[operators] def compactIfDue(s: SparkSession, store: String,
      key: String, compactEvery: Int, sortWithin: Seq[String]): Unit =
    if (LayoutOps.ingestGenerations(s, store).size >= compactEvery)
      compactGenerationsSized(s, store, key, sortWithin = sortWithin)

  /** Append generation `gen` of an index store, compacting on the
    * write when it is due — the LSM merge-on-flush: when the on-disk
    * generations plus this one reach `compactEvery` and the store is
    * not committed-empty, the pinned live set ∪ `rows` is written as
    * the ONE generation `gen` with [[compactGenerationsSized]]'s
    * layout (sized from the live bytes — the batch's are unknown
    * before its write — and range-split on `sortWithin` past one file
    * per partition), committed with one flip, then
    * [[vacuum]]ed; the batch's rows are written once, not written,
    * committed, read back and rewritten. Otherwise a plain
    * [[writeGeneration]] append. A crash before the flip leaves `gen`
    * an uncommitted orphan and readers on the previous live set.
    */
  private[operators] def appendGeneration(rows: DataFrame, store: String,
      key: String, gen: Long, sortWithin: Seq[String],
      compactEvery: Int): Unit = {
    val s = rows.sparkSession
    val listed = LayoutOps.ingestGenerations(s, store)
    val pin = latest(s, store)
    if (listed.size + 1 < compactEvery ||
        pin.exists(_.generations.isEmpty)) {
      writeGeneration(rows, store, key, gen, sortWithin, append = true)
      return
    }
    // the recover-first rule of compactGenerations
    LayoutOps.recoverStagedTakedown(s, store, key)
    val live = frameOfPin(s, store, pin)
    val merged = live.drop("ingest")
      .unionByName(rows, allowMissingColumns = true)
    val fpp = sizedFilesPerPartition(s, liveBytes(s, store),
      LayoutOps.partitionValueCount(s, store, key))
    LayoutOps.writeGenerationPacked(merged, key, fpp, sortWithin,
      s"$store/ingest=$gen", rangeFiles = fpp > 1 && sortWithin.nonEmpty)
    val raw = rawListings(s, store, Seq(gen))
    commit(s, store, Seq(gen), fullSignatureOf(raw, Seq(gen)), pin,
      digestsOf(raw), Some(frameShape(merged.schema, Seq("ingest", key))))
    vacuum(s, store)
  }

  /** Write generation `gen` of an index store: `rows` plus the
    * constant `ingest` column, partitioned by `(ingest, key)`, pages
    * capped at [[DedupIndex.pageRowLimit]] rows so the pushed probes
    * skip at page granularity. A non-empty `sortWithin` sorts each
    * file by `(key, sortWithin…)`. The CONSTANT `ingest` must NOT
    * appear in that sort list: FoldablePropagation prunes it from the
    * Sort, the V1 writer then sees an ordering without its required
    * partition prefix and injects its own non-stable sort by the
    * partition columns alone, destroying the secondary order (on both
    * the static and dynamic overwrite paths). Sorting by the real
    * columns leaves the required ordering satisfied (the constant is
    * pruned from it too) and the files sorted.
    *
    * A build (`append = false`) statically overwrites the store and
    * returns the written frame's shape ([[frameShape]]) for the
    * caller to record with [[recordBuild]] after its own fence. An
    * append dynamically overwrites only generation `gen` — a replayed
    * batch replaces its own partitions, so per-batch ingest is
    * idempotent — and records it with [[recordAppend]].
    */
  private[operators] def writeGeneration(rows: DataFrame, store: String,
      key: String, gen: Long, sortWithin: Seq[String],
      append: Boolean): Shape = {
    val s = rows.sparkSession
    val tagged = rows.withColumn("ingest", lit(gen))
    val w = (if (sortWithin.isEmpty) tagged
        else tagged.sortWithinPartitions((key +: sortWithin).map(col): _*))
      .write.mode("overwrite")
      .option("parquet.page.row.count.limit", DedupIndex.pageRowLimit(s))
    (if (append) w.option("partitionOverwriteMode", "dynamic") else w)
      .partitionBy("ingest", key).parquet(store)
    val shape = frameShape(tagged.schema, Seq("ingest", key))
    if (append) recordAppend(s, store, gen, Some(shape))
    shape
  }

  /** The clustered plan for one generation of a VERSIONED clustered
    * fact, geometry-validated: range cluster for one key
    * ([[LayoutOps.clusterFrame]]), Morton z-order for several
    * ([[LayoutOps.zorderFrame]], which states the layout rationale).
    * The one place the clustering geometry is checked.
    */
  private def clusteredFrame(df: DataFrame, cols: Seq[String],
      partitions: Int, zorder: Boolean, bits: Int): DataFrame = {
    require(cols.nonEmpty && partitions >= 1,
      s"clustered artifact: need cluster columns and partitions >= 1 " +
        s"(got $cols, $partitions)")
    if (zorder) {
      require(cols.size >= 2,
        s"clustered artifact: z-order needs >= 2 columns (got $cols)")
      require(bits >= 1 && bits <= 16,
        s"clustered artifact: bits must be in [1, 16] (got $bits)")
      require(cols.size * bits <= 63,
        s"clustered artifact: ${cols.size} cols x $bits bits must " +
          "fit a long")
      LayoutOps.zorderFrame(df, cols, partitions, bits)
    } else LayoutOps.clusterFrame(df, cols, partitions)
  }

  /** READ-BACK frame shape of a written generation: the named
    * partition columns (directory-encoded on disk, whether or not
    * they were columns of the written frame) move to the END in
    * directory order and take the IntegerType partition inference
    * assigns integral values — so a build/append pin (from the
    * written schema) and a compaction pin (from the live read-back
    * schema) describe the same artifact IDENTICALLY, and the stored
    * schema never flip-flops across mutation flavors. Readers of the
    * committed-empty frame cast partition columns explicitly exactly
    * as they do after a live read.
    */
  private[operators] def frameShape(
      schema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String]): Shape = {
    import org.apache.spark.sql.types.{IntegerType, StructField,
      StructType}
    val data = schema.fields.filterNot(f => partCols.contains(f.name))
    Shape(StructType(data ++ partCols.map(c =>
      StructField(c, IntegerType, nullable = true))).json, partCols)
  }

  /** Build a VERSIONED clustered fact artifact: one fresh generation
    * holds the clustered (range or z-order) tree, and the manifest
    * pins it. Readers go through [[frame]], so
    * [[compactClusteredGenerations]] re-clusters without renaming a
    * directory a reader is inside: a reader loaded pre-compaction
    * keeps serving its pinned generation through the flip. The
    * clustered files sit inside the generation directory, and pushed
    * predicates prune their row groups.
    */
  def clusterBuild(df: DataFrame, dir: String, cols: Seq[String],
      partitions: Int, zorder: Boolean = false, bits: Int = 8,
      extraWriteOpts: Map[String, String] = Map.empty): Unit = {
    val s = df.sparkSession
    // a build STARTS the artifact: the new tree is written to a
    // FRESH generation number FIRST, and only then is every previous
    // generation (appended AND orphaned) wiped — recordBuild adopts
    // the LISTING, so skipping the wipe would resurrect the old
    // generations next to the new data. Write-before-delete matters
    // because `df` is LAZY: an input derived from the artifact
    // itself (e.g. `frame(s, dir)` for a full re-cluster) is only
    // executed by the write — deleting first would wipe its source
    // files and silently build an empty artifact. The manifest chain
    // is kept so versions stay monotone across rebuilds. Destructive
    // by design once the wipe starts — same single-writer
    // maintenance-window contract as every artifact mutation (a live
    // reader pinned to the old generations loses its files;
    // rebuild-under-readers needs [[compactClusteredGenerations]]'s
    // manifest flip, or a new root + pointer flip one level up). A
    // kill after the write but before the wipe leaves the new
    // generation an uncommitted orphan (manifest unchanged, readers
    // unaffected); the re-run wipes it with the rest and rebuilds.
    val fs = fsOf(s, new Path(dir))
    val previous = LayoutOps.ingestGenerations(s, dir)
    val newGen = previous.maxOption.map(_ + 1L).getOrElse(0L)
    val laid = clusteredFrame(df, cols, partitions, zorder, bits)
    laid.write.options(extraWriteOpts).mode("overwrite")
      .parquet(s"$dir/ingest=$newGen")
    for (g <- previous)
      require(fs.delete(new Path(dir, s"ingest=$g"), true),
        s"clusterBuild: could not remove previous generation $g of " +
          dir)
    recordBuild(s, dir, Some(frameShape(laid.schema, Seq("ingest"))))
  }

  /** Append one clustered generation to a [[clusterBuild]] artifact
    * (each batch clusters ITS OWN rows; cross-generation overlap is
    * what [[compactClusteredGenerations]] periodically repairs).
    * Returns the committed generation.
    */
  def clusterAppend(df: DataFrame, dir: String, cols: Seq[String],
      partitions: Int, zorder: Boolean = false, bits: Int = 8,
      extraWriteOpts: Map[String, String] = Map.empty): Long = {
    val s = df.sparkSession
    val listed = LayoutOps.ingestGenerations(s, dir)
    require(listed.nonEmpty,
      s"clusterAppend: $dir has no ingest= partitions — build the " +
        "artifact with clusterBuild first")
    val gen = listed.max + 1
    val laid = clusteredFrame(df, cols, partitions, zorder, bits)
    laid.write.options(extraWriteOpts).mode("overwrite")
      .parquet(s"$dir/ingest=$gen")
    recordAppend(s, dir, gen, Some(frameShape(laid.schema, Seq("ingest"))))
    gen
  }

  /** Re-cluster the LIVE generations of a [[clusterBuild]] artifact
    * into one new generation and flip the manifest; a reader pinned
    * before the flip keeps its files until [[vacuum]]. A plain
    * repartition would keep the rows but interleave them, so every
    * row group's min/max would span the full key range; this pass
    * re-runs the cluster plan instead. Appends degrade a clustered
    * fact in BOTH dimensions (each generation adds files, and each
    * clusters only its own rows, so cross-generation key ranges
    * overlap and row-group skipping decays); this pass re-derives the
    * cluster/z plan from the CURRENT live contents — one quantile
    * pass (z only) + one range shuffle, the same cost as the original
    * clustered write. Steps are [[compactGenerations]]'s: pinned live
    * set in, brand-new `ingest=` directory out, manifest flip,
    * deferred-able [[vacuum]]. Returns the surviving generation.
    */
  def compactClusteredGenerations(s: SparkSession, dir: String,
      cols: Seq[String], partitions: Int, zorder: Boolean = false,
      bits: Int = 8, extraWriteOpts: Map[String, String] = Map.empty,
      vacuum: Boolean = true): Long = {
    val listed = LayoutOps.ingestGenerations(s, dir)
    require(listed.nonEmpty,
      s"compactClusteredGenerations: $dir has no ingest= partitions " +
        "— not a built artifact")
    requireNotCommittedEmpty(s, dir, "compactClusteredGenerations")
    val newGen = listed.max + 1
    val live = frame(s, dir)
    clusteredFrame(live.drop("ingest"), cols, partitions,
        zorder, bits)
      .write.options(extraWriteOpts).mode("overwrite")
      .parquet(s"$dir/ingest=$newGen")
    val raw = rawListings(s, dir, Seq(newGen))
    commit(s, dir, Seq(newGen), fullSignatureOf(raw, Seq(newGen)),
      latest(s, dir), digestsOf(raw),
      Some(Shape(live.schema.json, Seq("ingest"))))
    if (vacuum) this.vacuum(s, dir)
    newGen
  }

  /** A compaction of a COMMITTED-EMPTY artifact (a total takedown
    * emptied every live generation, while a crashed append's orphan
    * keeps the directory listing nonempty) would write a zero-row
    * generation with no parquet files and pin it — making every
    * subsequent [[frame]] read fail on schema inference. There is
    * nothing to compact; orphan reaping is [[vacuum]]'s job.
    */
  private def requireNotCommittedEmpty(s: SparkSession, dir: String,
      op: String): Unit =
    latest(s, dir).foreach(p => require(p.generations.nonEmpty,
      s"$op: $dir is committed-empty (live generation set is empty) " +
        "— nothing to compact; run vacuum to reap orphans"))

  /** Reap every generation directory the latest manifest does not
    * list — superseded pre-compaction generations and crashed appends'
    * uncommitted orphans. Requires a manifest (without one, the
    * listing IS the live set and there is nothing safe to reap).
    */
  def vacuum(s: SparkSession, dir: String): Unit =
    latest(s, dir).foreach { p =>
      val live = p.generations.toSet
      val fs = fsOf(s, new Path(dir))
      for (g <- LayoutOps.ingestGenerations(s, dir) if !live(g)) {
        val gp = new Path(dir, s"ingest=$g")
        require(fs.delete(gp, true),
          s"vacuum: failed to remove superseded generation $gp")
      }
    }
}
