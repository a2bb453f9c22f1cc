package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The text-dedup index as a PERSISTED ARTIFACT — incremental ingest
  * for the minhash/LSH dedup family (the text twin of [[VectorIndex]]):
  * at 100 TB you do not re-shingle the corpus to ask whether TODAY'S
  * arrivals duplicate it. Build once (signatures → banded buckets →
  * parquet), PROBE each arriving batch against the stored buckets
  * (cost: the batch's own signatures + one equi-join on (band,
  * bucket)), and APPEND the batch's buckets so the index stays
  * current — build-then-append serves the same probes as one full
  * build (spec-asserted).
  *
  * Layout under `dir/`:
  *  - `params.state` (k, rows_per_band), a driver-side state file
  *    ([[ArtifactManifest.saveState]]): probe/append re-derive the
  *    banding from the artifact, so a probe can never use a
  *    different geometry than the index was built with.
  *  - `members.state` the membership sketch (see below).
  *  - `buckets/` (doc_id, bucket) PARTITIONED BY band. The probe
  *    joins on (band, bucket); at cluster scale this table is the
  *    natural [[graft.io.BucketedIO]] candidate (bucketBy on bucket)
  *    for a zero-exchange probe join.
  *
  * Candidate semantics are EXACTLY d3/d4's — the same shared builders
  * ([[DedupOps.withMinHash]] → [[DedupOps.lshBuckets]]) produce the
  * stored and the probing buckets, so a probe returns precisely the
  * batch-run candidate set ([[DedupOps.lshCandidatePairs]]) restricted
  * to pairs touching the batch: batch×corpus plus batch×batch.
  * Downstream verification (Jaccard/SimHash thresholds, d5/d9) and
  * cluster resolution (d8) compose unchanged on the probe output.
  */
object DedupIndex {

  /** `pin`: the manifest pin `buckets` was read at (None for
    * unmanaged trees or ad hoc frames) — threaded into the native
    * re-reader so tier 2 can never serve a different generation set
    * than the frame the other tiers serve.
    */
  final case class Loaded(k: Int, rowsPerBand: Int, buckets: DataFrame,
      dir: Option[String] = None,
      pin: Option[ArtifactManifest.Pin] = None)

  /** Next ingest generation of a `(ingest, …)`-partitioned artifact
    * dir — driver-side listing via [[LayoutOps.ingestGenerations]]
    * (one filesystem metadata call, never a corpus scan). Shared by
    * both index artifacts. A committed-empty store whose total
    * takedown removed every generation directory starts again at 0.
    */
  private[operators] def nextGeneration(s: SparkSession,
      partitionedDir: String): Long = {
    val gens = LayoutOps.ingestGenerations(s, partitionedDir)
    require(gens.nonEmpty ||
        ArtifactManifest.latest(s, partitionedDir).nonEmpty,
      s"$partitionedDir has no ingest= partitions — not a built artifact")
    gens.maxOption.fold(0L)(_ + 1)
  }

  // ---- membership sketch ------------------------------------------------
  // [[BloomPrune]]'s artifact form composed with the index lifecycle:
  // a persisted bloom over the ingested doc ids, so a fact scan can
  // pre-drop rows that cannot possibly be in the index BEFORE the
  // exchange of the exact join against it ([[memberPrune]]). The
  // sketch is a SUPERSET filter by construction and stays one through
  // every mutation:
  //  - build sizes it fresh over the build corpus's ids (shingle-less
  //    docs never reach the bucket tree but DO enter the sketch —
  //    harmless: false positives die in the exact join);
  //  - append ORs the batch's ids in under the SAME geometry (bloom
  //    bitsets are a commutative monoid under OR — a replayed batch
  //    re-ORs identical bits, idempotent), and the OR lands BEFORE
  //    the bucket write so a crash between the two leaves a superset,
  //    never an under-set that would wrongly drop true members;
  //  - delete leaves it untouched (a bloom cannot unlearn): still a
  //    superset, just pruning less until the next build re-sizes it.
  // Appends past the build-time sizing degrade fpp, never
  // correctness.

  private def membersPath(dir: String) = s"$dir/members.state"

  private def paramsPath(dir: String) = s"$dir/params.state"

  /** The artifact's writer-lease root — a SIBLING of the artifact
    * tree, not inside it: [[VectorIndex.rebuild]]'s staging swap
    * renames the whole root, and an in-tree lease would ride away
    * with the old tree mid-mutation (and the artifact listing stays
    * exactly the layout the readers document). Shared by both index
    * artifacts.
    */
  private[operators] def leaseRoot(dir: String): String =
    LayoutOps.sibling(dir, "__lock").toString

  /** The sketch keys on LONG ids; a non-integral id column cannot be
    * cast faithfully (cast → NULL → every row silently dropped at the
    * probe, the one failure mode a superset filter must never have).
    * Non-integral artifacts simply run unsketched: build writes
    * nothing, memberPrune serves unpruned — correct, just unpruned.
    */
  private def integralKey(df: DataFrame, idCol: String): Boolean =
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => true
      case _ => false
    }

  /** Crash-safe sketch write ([[ArtifactManifest.saveState]]): every
    * crash window leaves either the old complete sketch or none at
    * all — and "none" degrades to unpruned serving, which is always
    * correct.
    */
  private[graft] def saveMembers(s: SparkSession, bits: Array[Long],
      k: Int, dir: String): Unit = {
    // pre-swap fence: the sketch replace is destructive, and every
    // batch mutator routes its sketch maintenance here — a holder
    // that stalled past the steal horizon dies before the delete
    // (no-op on the lease-less streaming paths)
    WriterLease.verifyHeld(s, leaseRoot(dir))
    ArtifactManifest.saveState(s, membersPath(dir), "members") { o =>
      o.int(k).longs(bits)
    }
  }

  /** The sketch's (bits, hash count), `None` when the artifact has
    * none.
    */
  private[graft] def loadMembers(s: SparkSession,
      dir: String): Option[(Array[Long], Int)] =
    ArtifactManifest.loadState(s, membersPath(dir), "members") { i =>
      val k = i.int()
      (i.longs(), k)
    }

  /** Fresh sized sketch over `ids` (build path). Called AFTER
    * [[dropMembers]] + the bucket overwrite: a crash anywhere in a
    * re-build leaves either no sketch (unpruned serving — safe) or
    * the fresh one, never the previous corpus's sketch beside the new
    * buckets (an under-set that would silently drop true members).
    * `expectedKeys` rides an Observation on the corpus write when the
    * caller has one (VectorIndex); otherwise one column-pruned count
    * — small next to the build's own signature/encode pass.
    */
  private[operators] def buildMembers(ids: DataFrame, idCol: String,
      dir: String, expectedKeys: Option[Long] = None): Unit = {
    if (!integralKey(ids, idCol)) return
    val s = ids.sparkSession
    val keys = ids.select(col(idCol).cast("long").as("id"))
    val (bits, k) = BloomPrune.buildSized(keys, "id",
      expectedKeys =
        math.max(1L, expectedKeys.getOrElse(keys.count())),
      fpp = 0.02)
    saveMembers(s, bits, k, dir)
  }

  /** Remove the sketch — the FIRST step of a re-build, before the
    * bucket overwrite (see [[buildMembers]]'s crash argument).
    */
  private[operators] def dropMembers(s: SparkSession,
      dir: String): Unit =
    ArtifactManifest.dropState(s, membersPath(dir))

  /** OR a batch's ids into the existing sketch (append path) — a
    * legacy artifact without one stays without (memberPrune then
    * serves unpruned; the next build creates it). private[graft] (not
    * [operators]) so ScaleProbe can drive the append-burst
    * degradation measurement directly at 10⁸ keys without shingling
    * a synthetic corpus first.
    */
  private[graft] def orMembers(ids: DataFrame, idCol: String,
      dir: String): Unit = {
    val s = ids.sparkSession
    if (integralKey(ids, idCol)) loadMembers(s, dir).foreach {
      case (bits, k) =>
        val add = BloomPrune.build(
          ids.select(col(idCol).cast("long").as("id")), "id",
          bits.length * 64, k)
        var i = 0
        while (i < bits.length) { bits(i) |= add(i); i += 1 }
        saveMembers(s, bits, k, dir)
    }
  }

  /** Re-size the sketch from the artifact's CURRENT live ids — the
    * explicit tightening pass for after heavy takedowns (delete keeps
    * the sketch a superset; this restores its selectivity without a
    * full index rebuild) or an append burst past the build-time
    * sizing (which degrades fpp). Cost: one distinct over the
    * artifact's id column — schedule it like compaction, never on the
    * serving path. `liveIds` is the artifact's own id frame (e.g.
    * `load(s, dir).buckets.select(idCol)`); the drop-first order
    * keeps every crash window at "no sketch" (unpruned, correct).
    */
  def refreshMembers(s: SparkSession, dir: String, liveIds: DataFrame,
      idCol: String): Unit = WriterLease.withLease(s, leaseRoot(dir)) {
    dropMembers(s, dir)
    buildMembers(liveIds.select(col(idCol)).distinct(), idCol, dir)
  }

  /** Pre-drop `fact` rows whose `keyCol` cannot be an ingested doc id
    * — the codegen'd bloom probe runs in the scan stage, ahead of the
    * exchange of whatever exact join follows. Results compose
    * byte-identically with the exact join (d14's oracle gate). An
    * artifact predating the sketch (or one whose ids are not
    * integral — see [[integralKey]]) serves `fact` unpruned.
    */
  def memberPrune(s: SparkSession, dir: String, fact: DataFrame,
      keyCol: String, orKeep: Column = lit(false)): DataFrame =
    if (!integralKey(fact, keyCol)) fact
    else loadMembers(s, dir).fold(fact) { case (bits, k) =>
      BloomPrune.prune(fact, keyCol, bits, k, orKeep)
    }

  /** Signature + banded buckets of `docs` — ONE definition shared by
    * build, probe, and append; the index can never drift from the
    * query-side bucketing.
    */
  private def bucketsOf(docs: DataFrame, textCol: String, idCol: String,
      k: Int, rowsPerBand: Int): DataFrame =
    DedupOps.lshBuckets(
      DedupOps.withMinHash(docs, textCol, k), idCol, k, rowsPerBand)

  def build(docs: DataFrame, textCol: String, idCol: String, k: Int,
      rowsPerBand: Int, dir: String): Unit = {
    val s = docs.sparkSession
    // single-writer per artifact, ENFORCED: batch mutators hold the
    // cross-process lease for the mutation's duration (the streaming
    // gates' run-private roots keep their checkpoint serialization
    // instead — see WriterLease's thread note)
    WriterLease.withLease(s, leaseRoot(dir)) {
    // BUCKETS FIRST, params LAST, and the geometry STAMPED onto the
    // bucket rows themselves (constant columns — parquet RLE makes
    // them free): a crash between the two overwrites of a re-build
    // leaves params and buckets from DIFFERENT geometries, and a
    // probe under mismatched geometry joins (band, bucket) values
    // from different minhash schemes — near-zero candidates,
    // duplicates admitted SILENTLY. The stamp lets [[load]] detect
    // the mismatch and fail loudly instead.
    // a RE-build must not leave the previous corpus's membership
    // sketch beside the new buckets (an under-set silently drops true
    // members at the probe) — drop it first; between here and
    // buildMembers below, serving degrades to unpruned, never wrong
    dropMembers(s, dir)
    // bucket-sorted layout WITHIN each band partition's files:
    // row-group/page min/max stats on `bucket` become tight, so the
    // probe's pushed touched-bucket In filter ([[touchedPrune]])
    // skips instead of scanning every block — the text twin of
    // [[VectorIndex.build]]'s gate layout
    val shape = ArtifactManifest.writeGeneration(
      stamped(bucketsOf(docs, textCol, idCol, k, rowsPerBand), k,
        rowsPerBand),
      s"$dir/buckets", "band", 0L, Seq("bucket"), append = false)
    // fence after the long signature+write stage, before the
    // geometry commit (params) and manifest publish: a holder whose
    // bucket write outlasted the steal horizon stops here, leaving
    // buckets-complete/params-missing — the incomplete state a
    // re-run converges (builtComplete)
    WriterLease.verifyHeld(s, leaseRoot(dir))
    ArtifactManifest.recordBuild(s, s"$dir/buckets", Some(shape))
    saveParams(s, dir, k, rowsPerBand)
    buildMembers(docs, idCol, dir)
    }
  }

  /** Commit the banding geometry: the state file [[load]] reads. */
  private[graft] def saveParams(s: SparkSession, dir: String, k: Int,
      rowsPerBand: Int): Unit =
    ArtifactManifest.saveState(s, paramsPath(dir), "dedup.params") {
      _.int(k).int(rowsPerBand)
    }

  /** The banding geometry as constant bucket columns — the
    * consistency stamp [[load]] checks params against.
    */
  private def stamped(buckets: DataFrame, k: Int,
      rowsPerBand: Int): DataFrame =
    buckets.withColumn("k", lit(k))
      .withColumn("rows_per_band", lit(rowsPerBand))

  /** Build the artifact only if absent (detected by the bucket
    * write's commit marker), then load — the serve-many entry point
    * ([[VectorIndex.buildOrLoad]]'s text twin): the first call pays
    * signatures + the bucket write, every later call only the
    * params read. Same single-writer-per-root contract as [[append]].
    */
  def buildOrLoad(docs: DataFrame, textCol: String, idCol: String,
      k: Int, rowsPerBand: Int, dir: String): Loaded = {
    val s = docs.sparkSession
    if (!builtComplete(s, dir))
      build(docs, textCol, idCol, k, rowsPerBand, dir)
    load(s, dir)
  }

  /** A built artifact's completion predicate: the bucket tree's
    * commit marker AND the params state file (build writes params
    * AFTER the buckets — a crash between the two leaves
    * buckets-complete, params-missing, and a buckets-only check would
    * skip the rebuild and fail every later load on the missing
    * geometry: a permanent wedge a re-run should instead converge).
    * A root written before the params state file existed (a parquet
    * `params/` tree) reads as incomplete too, so it rebuilds.
    */
  private def builtComplete(s: SparkSession, dir: String): Boolean = {
    val marker = new org.apache.hadoop.fs.Path(s"$dir/buckets/_SUCCESS")
    marker.getFileSystem(s.sparkContext.hadoopConfiguration)
      .exists(marker) && ArtifactManifest.hasState(s, paramsPath(dir))
  }

  /** Banding geometry to the driver (its state file — no Spark job),
    * buckets as a lazy partitioned scan (`band` re-cast to its written
    * long type).
    */
  def load(s: SparkSession, dir: String): Loaded = {
    val (k, rowsPerBand) = ArtifactManifest.loadState(s, paramsPath(dir),
        "dedup.params")(i => (i.int(), i.int()))
      .getOrElse(throw new IllegalArgumentException(
        s"DedupIndex.load: $dir has no banding params (no " +
          s"${paramsPath(dir)}) — not a built artifact, or a build " +
          "crashed before committing; re-run the build"))
    val (pin, raw) = ArtifactManifest.pinnedFrame(s, s"$dir/buckets")
    // geometry consistency: a crashed re-build can pair params with a
    // bucket tree written under DIFFERENT banding — probing across
    // that mismatch silently admits duplicates. Checked against the
    // stamp in a footer (absent on pre-stamp artifacts — those keep
    // the old trust-the-params behavior).
    storedStamp(s, s"$dir/buckets", pin).foreach { case (sk, srpb) =>
      require(sk == k && srpb == rowsPerBand,
        s"DedupIndex.load: params of $dir declare geometry " +
          s"($k, $rowsPerBand) but the bucket tree was written " +
          s"under ($sk, $srpb) — a re-build crashed between the two " +
          "writes; re-run the build")
    }
    Loaded(k, rowsPerBand,
      raw.drop("k", "rows_per_band")
        .withColumn("band", col("band").cast("long"))
        .withColumn("ingest", col("ingest").cast("long")),
      Some(dir), pin)
  }

  /** The bucket tree's `(k, rows_per_band)` stamp, read on the driver
    * from the parquet footer statistics of the first pinned data file
    * whose stamp columns have non-null stats — no Spark job. Files
    * without them are skipped: a mixed artifact (legacy unstamped
    * build plus stamped appends) has files that lack the columns or
    * hold them all-NULL. `None` when no file carries a stamp (a
    * pre-stamp artifact, a committed-empty one). A file whose stamp
    * min differs from its max holds two geometries, which no writer
    * produces: refused.
    */
  private def storedStamp(s: SparkSession, store: String,
      pin: Option[ArtifactManifest.Pin]): Option[(Int, Int)] = {
    import org.apache.hadoop.fs.Path
    import scala.jdk.CollectionConverters._
    val conf = s.sparkContext.hadoopConfiguration
    val base = new Path(store)
    val fs = base.getFileSystem(conf)
    // the files a read of the pin serves: Spark skips `_`/`.` names
    def served(root: Path)(p: Path): Boolean =
      p.getName.endsWith(".parquet") && !p.toString
        .stripPrefix(fs.makeQualified(root).toString + "/").split('/')
        .exists(n => n.startsWith("_") || n.startsWith("."))
    def stamp(p: Path): Option[(Int, Int)] = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, conf))
      try {
        val blocks = r.getFooter.getBlocks.asScala
        def range(c: String): Option[(Long, Long)] = {
          val st = blocks.flatMap(_.getColumns.asScala
              .find(_.getPath.toDotString == c))
            .map(_.getStatistics)
            .filter(x => x != null && x.hasNonNullValue)
          def num(v: Any) = v.asInstanceOf[Number].longValue
          if (st.isEmpty) None
          else Some((st.map(x => num(x.genericGetMin)).min,
            st.map(x => num(x.genericGetMax)).max))
        }
        for ((k0, k1) <- range("k"); (r0, r1) <- range("rows_per_band"))
          yield {
            require(k0 == k1 && r0 == r1,
              s"DedupIndex.load: bucket file $p mixes banding " +
                s"geometries (k $k0..$k1, rows_per_band $r0..$r1)")
            (k0.toInt, r0.toInt)
          }
      } finally r.close()
    }
    val roots = pin match {
      case Some(p) =>
        p.generations.sorted.map(g => new Path(store, s"ingest=$g"))
      case None => Seq(base)
    }
    roots.iterator.filter(fs.exists)
      .flatMap(r => ArtifactManifest.listStatusWalk(fs, r).iterator
        .map(_.getPath).filter(served(r)))
      .flatMap(stamp).nextOption()
  }

  /** Ceiling on any CATALYST-pushed In list the engine builds
    * (shared by the text probe, the gate's candidate-id filter, and
    * the vector gate). The binding constraint is NOT planner cost:
    * Spark translates a pushed In into a LEFT-DEEP or-chain of
    * parquet eq predicates, and the parquet reader's recursive
    * visitor blows the executor stack past ~1.5k terms (measured on
    * this JVM at its default 1 MB thread stacks: 1536 OK, 2048
    * StackOverflowError) — 1024 leaves margin for deeper task
    * stacks. The margin assumes executors run at default `-Xss` or
    * wider; a deployment that SHRINKS executor thread stacks must
    * lower the cap (and [[graft.Sessions]]' pinned
    * `inFilterThreshold`) proportionally. Past it Spark pushes a
    * min/max RANGE instead, which skips nothing over scattered hash
    * values but cannot crash — that is where the NATIVE set path
    * takes over ([[touchedPrune]]'s `native` tier,
    * [[graft.sources.NativeParquetIn]]): a set-membership
    * UserDefinedPredicate with O(1) stack depth at any cardinality,
    * capped by conf-size budget alone.
    */
  private[graft] val PushMaxValues = 1024

  /** Cardinality ceiling for the NATIVE set-push tier: the smaller of
    * [[graft.sources.NativeParquetIn.MaxValues]] and the session's
    * `graft.gate.nativePushMaxValues` (0 disables the tier — the
    * kill switch for the custom scan path; values above the hard cap
    * clamp to it).
    */
  private[graft] def nativePushMax(s: SparkSession): Int =
    math.min(graft.sources.NativeParquetIn.MaxValues.toLong,
      Knobs.long(s, "graft.gate.nativePushMaxValues",
        graft.sources.NativeParquetIn.MaxValues.toLong, min = 0))
      .toInt

  /** The native tier's re-reader plus the cost-model input that
    * decides whether the push can PAY at this store size: a touched
    * set of V values keeps ~V pages ~= V x pageRowLimit rows alive,
    * so once that approaches the store's row count pruning is
    * mathematically nil and the touched-set collect plus the
    * filtered read's page seeks are pure overhead. Engage iff
    * matching-page rows x payoff factor < estRows — default factor
    * 2, `graft.gate.nativeSkipPayoff` (0 forces the tier on).
    * Calibration (ScaleProbe `text gate scan wide`, the GATE-shaped
    * probe-join legs; round 19 re-ran both points as INTERLEAVED
    * native/full pairs inside one JVM — `text gate wide AB` — so
    * both sides sample the same ambient): at estimated ratio 2.7
    * (128M rows, 10k values, one sorted file per band) the native
    * leg won EVERY interleaved pair across two JVMs (8 pairs,
    * native/full 0.61-0.83, bands fully separated) — the r18
    * "ambient band" reading was noise across separate runs; at
    * estimated ratio 1.3 (64M, tier force-engaged past the gate)
    * the pairs straddle 1.0 (0.87-1.22, overlapping bands) — net
    * neutral, so the factor-2 refusal there costs nothing; on a
    * range-sliced 512M store they win 3.0-3.5x unambiguously. The
    * factor-2 default is therefore PINNED: below it the tier is
    * noise, above it a clean win. (estRows from bytes/rowBytes
    * UNDERestimates true rows up to ~2.4x on hard-compressing
    * stores — runs of equal buckets RLE well — which only biases
    * toward refusal, the safe side.) The
    * bare SCAN-only shape at ratio 6.2 measures a 1.2x LOSS (seeks
    * eat the IO saved; decode is CPU-bound warm) — the tier's payoff
    * is the downstream join, which every gate path has; callers
    * without one should not supply a NativePush. `estRows` is
    * bytes/rowBytes — order of magnitude suffices at factor 2.
    *
    * Both cost-model inputs are THUNKS, priced only when tier 2 is
    * actually considered (touched set past the or-chain cap): eager
    * construction paid one `getContentSummary` per live generation
    * on EVERY probe call — even with pushdown off or the catalyst
    * tier engaged — and on the d12 path duplicated the listing its
    * caller had already done for the pushdown decision.
    */
  final case class NativePush(reader: Seq[Long] => DataFrame,
      estRows: () => Long, pageRows: () => Long)

  object NativePush {
    /** Tier-2 inputs for the index store under `storeDir`, priced
      * lazily and once: `estRows` from the live manifest bytes
      * (`knownBytes` when the caller already measured them for its
      * own pushdown decision), `pageRows` from the store's own
      * footers ([[storedPageRows]]) — the geometry the files were
      * WRITTEN with, not whatever this session's conf says.
      */
    /** `column` must be the SAME column `reader` pushes the set on —
      * the page geometry priced is that column's chunks (both index
      * gates push on their `bucket` column, the default).
      */
    def forStore(s: SparkSession, storeDir: String, rowBytes: Long,
        reader: Seq[Long] => DataFrame,
        knownBytes: Option[Long] = None,
        column: String = "bucket"): NativePush = {
      lazy val bytes =
        knownBytes.getOrElse(ArtifactManifest.liveBytes(s, storeDir))
      // ONE lazy footer read serves both geometry inputs; bytes/row
      // is MEASURED too (block compressedSize / rowCount) because
      // the constant estimate under-counts rows up to ~2.4x on
      // hard-RLE stores (runs of equal buckets), pushing the payoff
      // model toward refusing wins (`rowBytes` stays the fallback
      // for unreadable footers)
      lazy val geo = storedPageGeometry(s, storeDir, column, rowBytes)
      NativePush(reader, () => bytes / geo._2, () => geo._1)
    }
  }

  /** WRITE-TIME page geometry of the store's `column` chunks — rows
    * per page measured from one live file's offset index, NOT the
    * current session's `graft.index.pageRowLimit`: a store written
    * before the 2048-row page cap existed (parquet's default is
    * 20000 rows/page) or under a different session conf would
    * otherwise be misestimated ~10x by the payoff model, engaging
    * the native tier where page skipping cannot pay. One footer
    * read of the newest live generation's first data file; falls
    * back to the session conf when nothing is readable (empty
    * store, a writer that disabled column indexes).
    */
  private[graft] def storedPageRows(s: SparkSession, dir: String,
      column: String): Long =
    storedPageGeometry(s, dir, column, rowBytesFallback = 1L)._1

  /** (rows per page of `column`, compressed bytes per row) measured
    * from one live file's footer — the cost model's two physical
    * inputs from ONE metadata read. See [[storedPageRows]]'s doc for
    * why measured beats the session conf; bytes/row additionally
    * replaces the constant [[BucketRowBytes]]-style estimate, which
    * under-counts rows up to ~2.4x where runs of equal bucket
    * values RLE-compress below it (measured on the wide-AB probe
    * stores: ~5 B/row actual vs 12 assumed).
    */
  private[graft] def storedPageGeometry(s: SparkSession, dir: String,
      column: String, rowBytesFallback: Long): (Long, Long) = {
    val fallback = (pageRowLimit(s).toLong, rowBytesFallback)
    try {
      val conf = s.sparkContext.hadoopConfiguration
      val base = new org.apache.hadoop.fs.Path(dir)
      val fs = base.getFileSystem(conf)
      val roots = ArtifactManifest.latest(s, dir) match {
        case Some(p) if p.generations.nonEmpty =>
          // OLDEST generation first: compaction collapses the live
          // set to one generation, so when several exist the oldest
          // is the compacted BULK and the newer ones are small
          // appends — a probe reads mostly bulk pages, and sampling
          // a fresh fine-paged append on a legacy coarse-page store
          // would reintroduce the ~10x optimistic misestimate this
          // function exists to prevent (newest-first measured 2048
          // where ~all probed pages held 20000). When the mix is
          // inverted (legacy appends on a fresh bulk) pricing by the
          // bulk is the conservative side.
          p.generations.sorted.map(g =>
            new org.apache.hadoop.fs.Path(dir, s"ingest=$g"))
        case _ => Seq(base)
      }
      // listStatus walk, not fs.listFiles: the latter forks an `ls`
      // per file on the local adapter (ArtifactManifest.listStatusWalk's
      // rationale) and this read sits on the gates' serving path
      val file = roots.iterator.filter(fs.exists).flatMap { r =>
        ArtifactManifest.listStatusWalk(fs, r).iterator
          .filter(f => f.getLen > 0 &&
            f.getPath.getName.endsWith(".parquet"))
          .map(_.getPath).take(1)
      }.nextOption()
      file.fold(fallback) { fp =>
        val r = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile
            .fromPath(fp, conf))
        try {
          val blocks = r.getFooter.getBlocks
          if (blocks.isEmpty) fallback
          else {
            import scala.jdk.CollectionConverters._
            val bm = blocks.get(0)
            val rowBytes =
              if (bm.getRowCount <= 0) rowBytesFallback
              else math.max(1L, bm.getCompressedSize / bm.getRowCount)
            val cc = bm.getColumns.asScala
              .find(_.getPath.toDotString == column)
              .getOrElse(bm.getColumns.get(0))
            val oi = r.readOffsetIndex(cc)
            if (oi == null || oi.getPageCount <= 0)
              (fallback._1, rowBytes)
            else (math.max(1L, bm.getRowCount / oi.getPageCount),
              rowBytes)
          }
        } finally r.close()
      }
    } catch { case scala.util.control.NonFatal(_) => fallback }
  }

  /** Estimated bytes per row of the text index's bucket files
    * (doc_id + band + bucket, encoded + snappy: measured 11-12 B
    * across the probe stores).
    */
  private[graft] val BucketRowBytes = 12L

  private def skipPayoff(s: SparkSession): Long =
    Knobs.long(s, "graft.gate.nativeSkipPayoff", 2L, min = 0)

  /** Write-side page granularity of the index artifacts' bucket/
    * corpus files (`parquet.page.row.count.limit`, default 2048 vs
    * parquet's 20000): the pushed probes skip at PAGE granularity
    * against the bucket-sorted layout, so rows-read per touched
    * bucket ~= this limit — 10x finer pages buy 10x less IO per
    * probe at a measured-zero size cost on the two-long-column
    * bucket schema (the long pages compress identically; only the
    * page-header/column-index share grows, <1% of the tree).
    */
  private[operators] def pageRowLimit(s: SparkSession): String =
    Knobs.long(s, "graft.index.pageRowLimit", 2048L, min = 1).toString

  /** `stored` narrowed to the batch's TOUCHED bucket values, pushed
    * into the parquet scan as an In filter — the text twin of
    * [[VectorIndex.gateStored]]'s touched-bucket pushdown. The text
    * gate's touched set is (band, bucket) PAIRS — ≈ batch × bands
    * values, and a partition-column/data-column disjunction is
    * neither pushable nor partition-prunable — but the bucket values
    * themselves are 60-bit band-hashes ([[TextOps.hash15]] over the
    * band's signature rows), so the GLOBAL bucket-value set is the
    * same size as the pair set and collides across bands only at
    * hash-collision odds: pushing In(bucket) ALONE is a tight
    * SUPERSET of the (band, bucket) touched set, and the gate's
    * (band, bucket) equi-join drops the stragglers — result-
    * invisible by construction. Against the bucket-sorted band files
    * ([[build]]/[[appendBatch]]'s layout), the parquet reader skips
    * row groups/pages holding only un-touched buckets, so the
    * stored-side read tracks the batch's COLLISION SURFACE, not the
    * corpus (ScaleProbe `text gate scan`). The driver collect is
    * LIMIT-bounded at [[PushMaxValues]]+1, never batch-sized: a
    * batch touching more distinct buckets reads the store unpruned
    * (past the cap the In is not stack-safe to push — see
    * [[PushMaxValues]]). That boundary is the right physics, not a
    * compromise: the pruning regime is SMALL batches — where the
    * per-batch store read otherwise dominates — and near-dup arrival
    * bursts whose docs share buckets; a batch large enough to touch
    * thousands of buckets amortizes the store scan it pays across
    * proportionally many arrivals.
    * An empty touched set (every batch doc below the shingle width)
    * short-circuits the store scan entirely — no bucket can join.
    *
    * TIERED by touched-set size (each boundary measured):
    *  1. <= [[PushMaxValues]]: catalyst `isin` — Spark pushes the
    *     exact or-chain, stack-safe at this size, zero custom
    *     machinery.
    *  2. <= [[nativePushMax]] (when the caller supplies a
    *     [[NativePush]] and its cost model clears — see the case
    *     class doc for the measured payoff boundary): the set rides a
    *     [[graft.sources.NativeParquetIn]] UserDefinedPredicate —
    *     exact per-page skipping at any cardinality, O(1) stack. The
    *     scan is a page-granular SUPERSET (no catalyst re-filter —
    *     deliberately: the or-chain above it would be the stack
    *     hazard again), which the gate's (band, bucket) equi-join
    *     closes — result-invisible exactly like tier 1. Measured on
    *     a 512M-row bucket store at 10k touched values: probe join
    *     1.2-1.8 s full-scan -> 0.5 s pushed, rows off disk 512M ->
    *     136M. The REJECTED
    *     alternative — per-band scans each pushing only the band's
    *     values — reads 7x fewer rows still (18.5M) but loses
    *     wall-clock (2.3-4.4 s): page-exact filtered reads of a
    *     band-local set are seek-bound, and bands x scans of plan
    *     machinery outweigh the IO saved at any store size a single
    *     node serves; on remote object stores where bytes dominate
    *     seeks the trade may invert — re-measure there before
    *     resurrecting it.
    *  3. past the native cap (or under it with no skipping payoff):
    *     the store serves unpruned — the amortization regime (a
    *     batch touching that many distinct buckets amortizes the
    *     scan it pays across proportionally many arrivals).
    */
  private[graft] def touchedPrune(stored: DataFrame,
      newBuckets: DataFrame, push: Boolean,
      native: Option[NativePush] = None): DataFrame = {
    if (!push) return stored
    val ss = stored.sparkSession
    import ss.implicits._
    val cap = math.max(PushMaxValues,
      if (native.isDefined) nativePushMax(ss) else 0)
    val bb = newBuckets.select(col("bucket"))
      .filter(col("bucket").isNotNull).distinct()
      .limit(cap + 1).as[Long].collect()
    // SATURATING product: a huge-but-legal payoff factor (an
    // operator's "never engage") or a whole-block pageRows on a
    // single-page file could overflow a plain Long product and wrap
    // to a small/negative value — silently FORCE-engaging the tier
    // the value was set to disable (the inverted-sentinel failure
    // the knob validation exists to refuse)
    def satMul(a: Long, b: Long): Long =
      try Math.multiplyExact(a, b)
      catch { case _: ArithmeticException => Long.MaxValue }
    def payoff(np: NativePush): Boolean =
      satMul(satMul(bb.length.toLong, np.pageRows()),
        skipPayoff(ss)) < np.estRows()
    if (bb.isEmpty) stored.filter(lit(false))
    else if (bb.length <= PushMaxValues)
      stored.filter(col("bucket")
        .isin(bb.map(Long.box).toIndexedSeq: _*))
    else native match {
      case Some(np) if bb.length <= cap && payoff(np) =>
        np.reader(bb.toIndexedSeq)
      case _ => stored
    }
  }

  /** Native set-pushed re-read of the bucket store under `dir` in
    * [[Loaded.buckets]]' projection — the tier-2 re-reader
    * [[touchedPrune]] swaps in past the or-chain cap. Reads the
    * manifest-pinned live generation set when one exists (the
    * [[load]] path's contract — orphaned generations stay invisible
    * here too) and falls back to the raw tree for unmanaged
    * artifacts; a committed-empty manifest serves zero rows.
    * `rawList = true` re-lists the tree instead — the STREAMING
    * root's contract (its per-batch appends must be visible to the
    * next batch immediately, matching the stream's own stored read).
    * `pinned`: the manifest pin the PROBED frame was read at
    * ([[Loaded.pin]]) — the re-read lists THAT generation set, not a
    * scan-time re-pin, so tier 2 serves exactly the rows the other
    * tiers serve even when an append commits between load and probe
    * (a re-pin here would make the tier choice decision-visible).
    * Pin-less callers keep the scan-time `latest()` (their probed
    * frame has no older pin to diverge from).
    */
  private[graft] def nativeBucketsReader(s: SparkSession,
      dir: String, idCol: String,
      rawList: Boolean = false,
      pinned: Option[ArtifactManifest.Pin] = None)
      : Seq[Long] => DataFrame = {
    val buckets = s"$dir/buckets"
    vals => {
      val paths =
        if (rawList) Seq(buckets)
        else pinned.orElse(ArtifactManifest.latest(s, buckets)) match {
          case Some(p) => p.generations.sorted
            .map(g => s"$buckets/ingest=$g")
          case None => Seq(buckets)
        }
      if (paths.isEmpty) {
        // committed-empty generation set: zero rows in the stored
        // schema. A threaded pin serves from ITS OWN stored
        // schemaJson (frameOfPin's committed-empty path) — re-pinning
        // via frame() here would pay a fresh latest() read + listing
        // per tier-2 invocation and take the schema from a manifest
        // the pin may predate
        val f = pinned match {
          case Some(p) =>
            ArtifactManifest.frameOfPin(s, buckets, Some(p))
          case None => ArtifactManifest.frame(s, buckets)
        }
        f.withColumn("band", col("band").cast("long"))
          .select(col(idCol), col("band"), col("bucket"))
      } else graft.sources.NativeParquetIn
        .read(s, buckets, paths, "bucket", vals)
        .withColumn("band", col("band").cast("long"))
        .select(col(idCol), col("band"), col("bucket"))
    }
  }

  /** Candidate pairs TOUCHING the batch: `(a, b)` with a < b, distinct
    * across bands — batch×corpus via the stored buckets plus
    * batch×batch, i.e. the full batch-run pair set minus pairs among
    * already-indexed docs. The batch side is signatures for the batch
    * only; the corpus is never re-shingled. `pushTouched` narrows the
    * stored side to the batch's touched buckets via [[touchedPrune]]
    * (decision-invisible); it prices ONE extra evaluation of the
    * batch's signature subtree (the touched-set collect), so callers
    * enable it cost-based on the bucket store's physical size — the
    * gates' `graft.gate.pushdownMinBytes` contract.
    */
  def probe(l: Loaded, newDocs: DataFrame, textCol: String,
      idCol: String, pushTouched: Boolean = false,
      storeBytes: Option[Long] = None): DataFrame = {
    // The batch bucket subtree appears on both join sides, so its
    // signature pipeline evaluates twice. That is DELIBERATE: a
    // persist here would leak cached state from a library call (the
    // r4 lesson), an eager checkpoint would turn a lazy query builder
    // into an action — and the double-priced side is the BATCH (small
    // by definition), while the corpus side is scanned once, lazily,
    // from the artifact. Callers probing a huge batch can persist the
    // batch frame themselves.
    val nb = bucketsOf(newDocs, textCol, idCol, l.k, l.rowsPerBand)
    val s = newDocs.sparkSession
    probePairs(
      touchedPrune(
        l.buckets.select(col(idCol), col("band"), col("bucket")),
        nb, pushTouched,
        l.dir.map(d => NativePush.forStore(s, s"$d/buckets",
          BucketRowBytes,
          nativeBucketsReader(s, d, idCol, pinned = l.pin),
          knownBytes = storeBytes))),
      nb, idCol)
  }

  /** The probe join at the bucket level — shared by the artifact
    * [[probe]] and the oracle-gated ingest-gate query (d12), so the
    * serving path and the gate can never drift: candidates are ids
    * sharing any (band, bucket) where at least one side is in
    * `newBuckets`, `(a, b)` with a < b, distinct across bands.
    */
  def probePairs(stored: DataFrame, newBuckets: DataFrame,
      idCol: String): DataFrame = {
    val a = newBuckets
      .select(col(idCol).as("a"), col("band"), col("bucket"))
    val b = stored.unionByName(
        newBuckets.select(col(idCol), col("band"), col("bucket")))
      .select(col(idCol).as("b"), col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
  }

  /** Append the batch's buckets — existing bucket files untouched;
    * ingest costs the batch's own signatures only. MAINTENANCE is
    * wired in, not left to an operator nobody schedules: every
    * generation adds ≥1 file per band, so when this batch's
    * generation would be the `compactEvery`-th, the append MERGES
    * instead ([[ArtifactManifest.appendGeneration]]): the live bucket
    * tree ∪ the batch is written once as the new generation (one file
    * per band), with one manifest flip — file count stays bounded by
    * the compaction period at any ingest rate, and the amortized cost
    * is one artifact rewrite per `compactEvery` appends. Probe
    * results are identical to a plain append followed by a
    * compaction (spec-asserted); generation numbering stays monotone.
    */
  def append(s: SparkSession, dir: String, newDocs: DataFrame,
      textCol: String, idCol: String, compactEvery: Int = 16): Unit = {
    require(compactEvery >= 2,
      s"append: compactEvery >= 2 (got $compactEvery)")
    WriterLease.withLease(s, leaseRoot(dir)) {
      val l = load(s, dir)
      appendBatch(l.k, l.rowsPerBand, dir, newDocs, textCol, idCol,
        nextGeneration(s, s"$dir/buckets"), compactEvery)
    }
  }

  /** Append one ingest GENERATION under already-known banding
    * geometry, merging the live tree into it when it is the
    * `compactEvery`-th ([[ArtifactManifest.appendGeneration]]). The
    * generation is a partition column and the write is a DYNAMIC
    * partition overwrite: re-running the same generation (a replayed
    * micro-batch after a crash) replaces its own partitions instead of
    * double-appending — per-batch ingest is idempotent, which is what
    * turns the stream's at-least-once replay into effectively-once
    * index maintenance.
    *
    * SINGLE-WRITER contract: generation assignment is not
    * coordinated — two concurrent appenders picking the same
    * generation would silently overwrite each other's partitions.
    * Plain-parquet artifacts have no commit protocol to detect that;
    * run one ingest writer per artifact (the streaming gates
    * guarantee this — foreachBatch is serial), or front the artifact
    * with a table format that has a transaction log.
    */
  private[graft] def appendBatch(k: Int, rowsPerBand: Int, dir: String,
      newDocs: DataFrame, textCol: String, idCol: String,
      generation: Long, compactEvery: Int = Int.MaxValue): Unit = {
    // membership FIRST: a crash between the two writes must leave the
    // sketch a superset (see the membership-sketch block above)
    orMembers(newDocs, idCol, dir)
    // pre-write fence (no-op on the lease-less streaming fast path)
    WriterLease.verifyHeld(newDocs.sparkSession, leaseRoot(dir))
    // bucket-sorted within the generation's band files, same as
    // [[build]] — keeps the probe's row-group skipping effective
    // across appends
    ArtifactManifest.appendGeneration(
      stamped(bucketsOf(newDocs, textCol, idCol, k, rowsPerBand), k,
        rowsPerBand),
      s"$dir/buckets", "band", generation, Seq("bucket"), compactEvery)
  }

  /** Delete documents from the index by id — the takedown path (the
    * text twin of [[VectorIndex.delete]]): every bucket row of a
    * tombstoned doc leaves the artifact, so later probes can no
    * longer collide with it; banding geometry (`params`) is
    * untouched. Only the bands containing a tombstoned doc's buckets
    * are rewritten ([[LayoutOps.deleteKeysPartitioned]]); a doc's
    * signature spans every band, so a text takedown touches all
    * bands but still only the affected generations' files. Probing
    * after a delete equals probing an index built without the ids —
    * the oracle-gated contract (d13). `staged = true` routes the
    * rewrite through the crash-isolated staging swap
    * ([[LayoutOps.deleteKeysPartitioned]]'s staged mode) — for
    * takedowns large enough that a mid-job kill leaving a partially
    * applied dynamic overwrite matters operationally.
    */
  def delete(s: SparkSession, dir: String, tombs: DataFrame,
      idCol: String = "doc_id", staged: Boolean = false): Unit =
    WriterLease.withLease(s, leaseRoot(dir)) {
      // pre-write fence, same contract as append/build
      WriterLease.verifyHeld(s, leaseRoot(dir))
      // sortWithin keeps the rewritten band files bucket-sorted — the
      // pushed probe's skipping survives the takedown
      LayoutOps.deleteKeysPartitioned(s, s"$dir/buckets", "band",
        idCol, tombs, staged = staged, sortWithin = Seq("bucket"))
      ArtifactManifest.refreshAfterDelete(s, s"$dir/buckets")
    }

  /** Admission decisions for an arriving batch: every candidate pair
    * is VERIFIED by char-4-gram Jaccard over `grams` (`idCol`,
    * `grams`), and an arrival is admitted iff no confirmed duplicate
    * with an EARLIER doc exists — earliest-wins, non-recursive (the
    * corpus-side doc of a confirmed pair always wins; within a batch
    * the earlier arrival wins). ONE definition shared by the batch
    * gate (d12) and the streaming gate (st10), so the two admission
    * policies cannot drift. The filter runs on the ROUNDED Jaccard so
    * the DuckDB oracle's threshold comparison sees identical values.
    */
  def gateDecisions(cand: DataFrame, grams: DataFrame,
      arrivals: DataFrame, idCol: String, threshold: Double,
      semiFilter: Boolean = false): DataFrame = {
    // LEFT joins + loud failure on a missing grams row: an inner join
    // would silently DROP a candidate pair whose id is absent from
    // the verification table — and a dropped pair means the arrival
    // is ADMITTED unverified, the worst silent failure a dedup gate
    // can have. The grams store must cover every indexed doc
    // (admitted or not — rejected docs are indexed too); if it ever
    // doesn't, fail the batch rather than let duplicates through.
    // cast to the STORE's gram element type (array<string> raw,
    // array<long> hashed — the streaming gate's injectivity-proved
    // store), not a hardcoded string type
    val gramsType = grams.schema("grams").dataType
    def verified(side: String, g: String) =
      when(col(g).isNull,
        raise_error(concat(lit(s"gateDecisions: no grams row for " +
          s"candidate $side-side id "), col(side),
          lit(" — the verification store must cover every indexed " +
            "doc; a dropped pair would admit a duplicate unverified")))
          .cast(gramsType))
        .otherwise(col(g))
    // ONE scan of the verification store per batch. The store is the
    // big side at 100 TB (every indexed doc's grams) while the
    // candidate pairs are batch-bounded, so the old shape — a
    // separate left join of the store for the a-side and the b-side —
    // paid two full scans and two shuffles of the store per batch,
    // 2x read amplification the membership pruning cannot remove.
    // Instead: MELT each pair to its two (side, id) rows, join the
    // store ONCE on id, and regroup the two side rows back to
    // (a, b, ga, gb). The regroup shuffle carries one gram payload
    // per melted row (2x the batch's candidate surface) — batch-sized
    // — while the store is scanned and shuffled once. Each (a, b)
    // group holds exactly two rows (cand is distinct, one per side),
    // so max(when(side…)) deterministically lifts the single
    // non-null payload per side; a missing store row survives the
    // left join as a NULL payload and fails loudly in verified(),
    // exactly as before.
    // `semiFilter` adds a broadcast LEFT-SEMI pre-filter of the store
    // down to the candidate ids before the payload join: the store
    // then never shuffles AT ALL (only the batch-bounded matching
    // payloads move — AQE broadcasts the filtered side), and for a
    // store derived by shingling (d12's shape) Catalyst pushes the
    // semi join below the gram projection, so only candidate docs
    // are shingled. Measured at a 2M-doc stored-grams scale:
    // two-scan 35.7 s → single-scan 13.6 s → semi+single 4.1 s
    // (ScaleProbe `gate decisions`). The price is a SECOND evaluation
    // of the candidate subtree (the id set for the broadcast) — the
    // bucket-probe join runs twice — so callers enable it when the
    // store side dominates (cost-based in the streaming gate, always
    // for the one-shot batch gate whose store side is a shingle pass
    // over the corpus). Filtering by candidate ids is result-
    // invisible: non-candidate store rows never join, and a MISSING
    // candidate row is missing on both paths (the loud-failure left
    // join below).
    // NOT a pushed In(id) scan filter, deliberately (round 17,
    // measured): page skipping by candidate id only pays when store
    // pages ≫ candidate ids — ~1k scattered ids hit EVERY page of
    // any store under ~50M rows (8M-row probe: pushed 5.4 s vs
    // broadcast semi 3.2 s — the extra collect job plus a saturated
    // In buys nothing), so the pushed form loses in exactly the band
    // where semiFilter fires and only breaks even far above it.
    val store =
      if (semiFilter) grams.join(
        broadcast(cand.select(explode(array(col("a"), col("b")))
          .as(idCol)).distinct()),
        Seq(idCol), "left_semi")
      else grams
    val melted = cand.select(col("a"), col("b"),
        explode(array(
          struct(lit("a").as("side"), col("a").as("id")),
          struct(lit("b").as("side"), col("b").as("id")))).as("s"))
      .select(col("a"), col("b"),
        col("s.side").as("side"), col("s.id").as("id"))
    val confirmed = melted
      .join(store.select(col(idCol).as("id"), col("grams")),
        Seq("id"), "left")
      .groupBy(col("a"), col("b"))
      .agg(max(when(col("side") === "a", col("grams"))).as("ga"),
        max(when(col("side") === "b", col("grams"))).as("gb"))
      .select(col("a"), col("b"),
        round(DedupOps.jaccard(verified("a", "ga"),
          verified("b", "gb")), 4).as("jac"))
      .filter(col("jac") >= threshold)
    admit(confirmed, arrivals, idCol)
  }

  /** The admission step alone — modality-agnostic (the text gate
    * verifies by Jaccard, the embedding gate
    * [[SimilarityOps.ingestGate]] by cosine; both end here): given
    * confirmed duplicate pairs `(a, b)` with a < b, an arrival is
    * admitted iff it is the b-side of no confirmed pair, and
    * `dup_of` is its earliest confirmed a.
    */
  def admit(confirmed: DataFrame, arrivals: DataFrame,
      idCol: String): DataFrame = {
    // a < b throughout, so the rejected side of a confirmed pair is
    // always b (the later arrival); dup_of = the earliest confirmed a
    val rejected = confirmed
      .groupBy(col("b")).agg(min(col("a")).as("dup_of"))
      .withColumnRenamed("b", idCol)
    arrivals.select(col(idCol))
      .join(rejected, Seq(idCol), "left")
      .select(col(idCol), col("dup_of"),
        col("dup_of").isNull.as("admitted"))
  }

  /** CONTINUOUS ingestion: drive the index artifact's probe → gate →
    * append loop from a Structured Streaming file source. Docs below
    * `splitId` are the already-indexed corpus; docs at or past it are
    * written to `root/arrivals` as `nFiles` id-range files with
    * strictly increasing modification times, so `AvailableNow` +
    * `maxFilesPerTrigger=1` replays them as `nFiles` ordered
    * micro-batches — the monotone-id arrival order the gate's
    * earliest-wins rule assumes (arrival order = id order, the normal
    * shape of an ingest log). Each micro-batch runs on the PUBLIC
    * artifact API: [[probe]] against the stored buckets, then
    * [[gateDecisions]], then [[append]] — so by construction the
    * stream's final decision set equals the one-shot batch gate's
    * (d12) on the same split: a pair lands in exactly the batch of
    * its larger id, which by monotone arrival is probed after the
    * smaller id is indexed. Decisions parquet under `root/decisions`
    * carries a `batch` column for the spec's multi-batch assertions;
    * the returned frame drops it (d12's exact schema).
    *
    * At 100 TB this is the serving loop verbatim: the corpus is never
    * re-shingled — each batch pays its own signatures plus one
    * equi-join against the bucket artifact — and `grams` becomes a
    * stored doc→grams side table instead of an on-the-fly projection.
    */
  def streamIngestGate(ss: SparkSession, docs: DataFrame,
      textCol: String, idCol: String, k: Int, rowsPerBand: Int,
      splitId: Long, threshold: Double, nFiles: Int,
      root: String, compactEvery: Int = 16): DataFrame = {
    // RESTART SAFETY: recovery from a mid-stream crash is re-invoking
    // this function with the same root — the build must then be
    // SKIPPED, not repeated: a rebuild statically overwrites the
    // bucket artifact, destroying every committed batch's appended
    // generation while the checkpoint (correctly) refuses to replay
    // those batches — their buckets would be gone for good. The
    // staging signature guard rejects a DIFFERENT docs frame against
    // a used root, so an existing index here always belongs to this
    // exact run.
    // COMMIT MARKERS (buckets AND params), not bare directory
    // existence: the buckets dir exists from the first committer temp
    // file, and params is written after the buckets — a crash
    // anywhere mid-build must re-run the build, not probe a partial
    // (or geometry-less) index
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(ss.sparkContext.hadoopConfiguration)
    // the STREAM holds the artifact's writer lease for its whole run
    // (acquired here on the driver thread, transferred to each
    // micro-batch body via asOwner): a concurrent batch mutator on
    // the same index root refuses at ENTRY, with zero bytes staged —
    // shared-root enforcement on top of the run-private checkpoint
    // serialization. A crashed stream's lease is stolen past the
    // horizon like any holder's; a recovery re-invocation within the
    // horizon refuses (lower graft.lease.stealHorizonMs to recover
    // sooner — the single-writer discipline now covers the stream).
    val lr = leaseRoot(s"$root/index")
    val lease = WriterLease.acquire(ss, lr)
    try {
    // the doc→grams verification table is a STORED artifact, not a
    // per-batch recompute: shingling the corpus once and reading the
    // store per batch turned the 3-batch sf0.1 stream from 10.2 s to
    // its probe-bound floor (each batch re-shingled all docs before).
    // At 100 TB this store is maintained exactly like the bucket
    // artifact — appended per admitted batch. SKIPPED on restart
    // recovery exactly like the build (same commit-marker check):
    // the staging signature guard already pins `docs` to this root,
    // so an existing store is this run's — recomputing it would
    // repeat the full-corpus shingle before any batch replays.
    // completion marker is a SEPARATE file, not the store's own
    // _SUCCESS: the hashed store commits in two overlapped pieces
    // (the parquet write and the injectivity proof below), and the
    // skip must engage only when BOTH settled — a crash between the
    // write and the proof (or before a collision fallback rewrote
    // the store) must redo the pair, never serve an unproven store
    val gramsDone = new org.apache.hadoop.fs.Path(
      s"$root/grams_ok")
    // The grams store build is independent of the index build and the
    // arrivals staging (separate trees, separate completion markers,
    // no read of each other's output) — overlap them (Par.both): the
    // three init passes were the gate's serial floor, and each is a
    // few-task job that leaves the cores idle. Crash anywhere still
    // converges: each piece has its own commit-marker skip, and any
    // half-done combination re-runs only the missing piece. The
    // lease-fenced build stays under asOwner on the calling thread;
    // the grams side table is not lease-fenced (unchanged).
    val (_, staged) = Par.both {
      if (!fs.exists(gramsDone)) {
        // the store holds HASHED grams (array<long>) behind an EXACT
        // injectivity proof, instead of the raw 4-gram strings: at
        // sf0.1 the string store was the stream's largest single
        // write, and at 100 TB it is ~8x the bytes of the hashed form
        // on every batch's verification join (guide §6 shrink I/O,
        // §2.3 narrower types). Correctness argument: ONE aggregate
        // proves xxhash64 injective on the union of every doc's gram
        // set (exact distinct-gram count == exact distinct-hash
        // count); an injective map preserves |A|, |B| and |A∩B| for
        // every pair of per-doc gram SETS (charNgrams is
        // array_distinct), so every Jaccard the gate computes — and
        // therefore every admission decision the oracle checks — is
        // IDENTICAL to the string form's. On the astronomically
        // unlikely collision (~n²/2⁶⁵) the build falls back to the
        // string store — same decisions, just the old bytes.
        val gramsCol = TextOps.charNgrams(textCol, 4)
        // the proof and the (optimistic) hashed write are independent
        // jobs over the same shingle lineage — overlap them; the
        // check alone measured ~2 s serial at sf0.1, which pushed
        // this branch past the index-build side of the OUTER overlap
        // and regressed the stream by exactly that much. The proof's
        // shape: distinct FIRST (map-side combined), then count the
        // hash images over the distinct-gram set only — two
        // countDistincts over raw occurrences expand every occurrence
        // twice (measured +0.5 s more).
        val (injective, _) = Par.both {
          val cd = docs.select(explode(gramsCol).as("g")).distinct()
            .agg(count(lit(1)), countDistinct(xxhash64(col("g"))))
            .head()
          cd.getLong(0) == cd.getLong(1)
        } {
          docs.select(col(idCol),
              transform(gramsCol, g => xxhash64(g)).as("grams"))
            .write.mode("overwrite").parquet(s"$root/grams")
        }
        if (!injective) {
          // fallback BEFORE the marker: the optimistic hashed store
          // is overwritten with the string form, so the marker below
          // never commits an unproven hashed store
          System.err.println(s"[graft] streamIngestGate($root): " +
            "xxhash64 collides on this corpus's 4-gram set — " +
            "serving the string verification store")
          docs.select(col(idCol), gramsCol.as("grams"))
            .write.mode("overwrite").parquet(s"$root/grams")
        }
        fs.create(gramsDone, true).close()
      }
    } {
      WriterLease.asOwner(ss, lr, lease) {
      if (!builtComplete(ss, s"$root/index"))
        build(docs.filter(col(idCol) < splitId), textCol, idCol,
          k, rowsPerBand, s"$root/index")
      }
      graft.streaming.StreamingOps.stageOrderedArrivals(
        docs.filter(col(idCol) >= splitId), idCol, nFiles,
        s"$root/arrivals")
    }
    // the gate's decisions store is written by the replayed batches —
    // zero arrivals would leave it absent and the final read would
    // fail with a bare path error; say what actually went wrong
    require(staged > 0,
      s"streamIngestGate: no arrivals at or past splitId=$splitId — " +
        "nothing to gate")
    val grams = ss.read.parquet(s"$root/grams")
    // COST-BASED semi pre-filter of the verification store, decided
    // ONCE per stream from its physical size (the vector gate's
    // pushdownMinBytes contract): past the threshold the store-side
    // savings dominate the price of evaluating the candidate subtree
    // twice (measured 13.6 → 4.1 s at a 2M-doc store — ScaleProbe
    // `gate decisions`); below it the plain single-scan join is
    // strictly cheaper than an extra probe-join evaluation per batch.
    val pushMinBytes = Knobs.long(ss,
      "graft.gate.pushdownMinBytes", 256L << 20, min = 0)
    val semiInStream = {
      val p = new org.apache.hadoop.fs.Path(s"$root/grams")
      fs.getContentSummary(p).getLength > pushMinBytes
    }
    // COST-BASED touched-bucket pushdown for the stored PROBE side,
    // decided ONCE per stream from the bucket store's physical size
    // (the vector gate's contract, see [[VectorIndex.streamIngestGate]]):
    // the In-list collect costs one distinct job per micro-batch over
    // the batch's (persisted) buckets, which a small store's scan can
    // never repay; past the threshold the skipped row groups dominate
    // (ScaleProbe `text gate scan`).
    val bucketBytes = ArtifactManifest.liveBytes(ss,
      s"$root/index/buckets")
    val pushInStream = bucketBytes > pushMinBytes
    // the native tier's size estimate is taken ONCE with the
    // decision (knownBytes — the listing the pushdown decision just
    // paid): the store only GROWS over the stream, so a start-of-
    // stream underestimate is conservative (later batches that would
    // clear the payoff bar by more still clear it)
    val streamNative = NativePush.forStore(ss, s"$root/index/buckets",
      BucketRowBytes,
      nativeBucketsReader(ss, s"$root/index", idCol, rawList = true),
      knownBytes = Some(bucketBytes))
    // membership sketch is REBUILT ONCE after the replay, not
    // OR-maintained per micro-batch (one load+agg+save per batch was
    // pure per-batch floor cost at AvailableNow cadence): drop it
    // before any batch lands, so every mid-stream crash window leaves
    // NO sketch — unpruned serving, never an under-set
    dropMembers(ss, s"$root/index")
    graft.streaming.StreamingOps.replayOrdered(ss, docs.schema,
        s"$root/arrivals", s"$root/ckpt") { (batch, batchId) =>
      // each micro-batch body runs as the lease's OWNER on the
      // stream's thread (asOwner transfers + verifies + heartbeats):
      // the gate's writes are fenced per batch, and a stream stalled
      // past the steal horizon dies at its next batch boundary
      WriterLease.asOwner(ss, lr, lease) {
        // geometry is frozen (build wrote it above); only the bucket
        // frame is re-created per batch, so the scan re-lists the
        // files the previous batch appended. The batch's OWN buckets
        // are computed once and persisted for the batch's lifetime —
        // they appear on both probe sides AND in the append, which
        // otherwise re-shingles the batch three times (measured ~2 s
        // of the 3-batch sf0.1 stream). The library-call cache-leak
        // rule is kept by the finally-unpersist.
        // The PRE-batch store: a replayed batch's own generation
        // (ingest = batchId + 1, left by a run that died before its
        // checkpoint commit) is pruned at planning — the append below
        // replaces exactly those files while the decisions job runs,
        // and the batch's own buckets join through `bb` anyway.
        val stored = ss.read.parquet(s"$root/index/buckets")
          .filter(col("ingest") <= batchId)
          .withColumn("band", col("band").cast("long"))
          .select(col(idCol), col("band"), col("bucket"))
        val bb = bucketsOf(batch, textCol, idCol, k, rowsPerBand)
          .persist()
        try {
          // touched-bucket pushdown on the stored side: against the
          // bucket-sorted band files only the batch's collision
          // surface leaves disk (bb is persisted, so the touched-set
          // collect re-reads the batch's buckets, not the shingles)
          val cand = probePairs(
            touchedPrune(stored, bb, pushInStream,
              Some(streamNative)),
            bb, idCol)
          // batch-keyed dynamic overwrites: a replayed micro-batch
          // replaces its own decisions/generation instead of
          // double-writing — effectively-once ingest.
          // The decisions write and the generation append are
          // INDEPENDENT (decisions read the PRE-batch store — whose
          // file listing `stored` pinned at batch start — plus the
          // persisted batch buckets; the append writes only the new
          // ingest=batchId+1 partitions) — overlap them (Par.both).
          // A crash completing one but not the other replays the
          // batch and both batch-keyed overwrites converge, the same
          // recovery as the sequential order's one-sided window.
          Par.both {
            gateDecisions(cand, grams, batch, idCol, threshold,
                semiFilter = semiInStream)
              .withColumn("batch", lit(batchId))
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("batch").parquet(s"$root/decisions")
          } {
            // bucket-sorted like every other generation — the NEXT
            // batch's pushed probe skips this generation's un-touched
            // row groups too
            ArtifactManifest.writeGeneration(
              stamped(bb, k, rowsPerBand), s"$root/index/buckets",
              "band", batchId + 1, Seq("bucket"), append = true)
          }
        } finally bb.unpersist()
      }
      }
    WriterLease.asOwner(ss, lr, lease) {
    // maintenance runs AFTER the replay completes — never inside the
    // loop, where a replayed micro-batch's generation-keyed dynamic
    // overwrite would target a partition the collapse removed. At
    // this point every batch is checkpoint-committed, so nothing can
    // replay, and collapsing the per-batch bucket files is safe.
    ArtifactManifest.compactIfDue(ss, s"$root/index/buckets", "band",
      compactEvery, Seq("bucket"))
    // sketch over EVERY ingested id (corpus + all arrivals — the
    // gate appends every batch's buckets, admitted or not): one
    // column-pruned pass per stream, sized fresh
    buildMembers(docs, idCol, s"$root/index")
    }
    ss.read.parquet(s"$root/decisions").drop("batch")
    } finally WriterLease.release(ss, lease)
  }
}
