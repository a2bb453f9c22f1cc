package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Physical data layout below partition pruning. Every writer of these
  * layouts goes through [[ArtifactManifest]], so each rewrite lands in
  * a fresh generation and readers switch at one manifest flip.
  *
  *  - [[clusterFrame]] / [[zorderFrame]]: the clustering plans. Rows
  *    are range-clustered on one key, or laid on a Morton curve over
  *    several, so parquet ROW-GROUP min/max stats become selective and
  *    a pushed predicate on a cluster column skips whole row groups
  *    inside every file (the OPTIMIZE ... ZORDER / cluster-by layout
  *    of the lakehouse formats). [[ArtifactManifest.clusterBuild]],
  *    `clusterAppend` and `compactClusteredGenerations` write them.
  *  - [[writeGenerationPacked]], [[ingestGenerations]] and
  *    [[partitionValueCount]]: the generation layout and the
  *    driver-side listings of the `(ingest, …)`-partitioned index
  *    stores.
  *  - [[deleteKeysPartitioned]] and the staged takedown: remove rows by
  *    key, rewriting only the partitions that hold a tombstoned key.
  *  - [[sibling]] / [[swapInto]]: stage a tree beside a directory and
  *    swap it in, so the path is never the only missing copy.
  *
  * Each plan is one distributed job with no driver-side row handling.
  */
object LayoutOps {

  /** The range-cluster plan: one range shuffle on `cols` into
    * `partitions` contiguous key ranges, sorted within each, so every
    * row group's min/max on `cols` spans a narrow slice.
    */
  private[operators] def clusterFrame(df: DataFrame, cols: Seq[String],
      partitions: Int): DataFrame =
    df.repartitionByRange(partitions, cols.map(col): _*)
      .sortWithinPartitions(cols.map(col): _*)

  /** The Z-ORDER (Morton) plan over `cols`. A range cluster serves
    * predicates on its leading column only; interleaving the bits of
    * per-column QUANTILE buckets gives every row group a narrow
    * min/max envelope on EVERY z column, so pushed predicates on any
    * of them (or any combination) skip row groups.
    *
    * Quantile buckets, not value-range buckets: one
    * `percentile_approx` pass brings `2^bits - 1` cut points per
    * column to the driver (dim-sized), and they stay balanced under
    * arbitrarily skewed value distributions. The interleave is a pure
    * bit expression (shift/and/or, no UDF), and the plan is one range
    * shuffle on the z value: `partitions` contiguous curve segments,
    * sorted within each, so row-group boundaries cut the curve into
    * spatially-local tiles. The working columns are collision-free
    * generated names dropped after the sort, so content is preserved.
    * `bits` per column is capped at 16: beyond that the cut array per
    * column stops being dim-sized and the curve resolution exceeds
    * what row-group stats can use; `cols.size * bits` must also fit a
    * long. The caller validates that geometry
    * ([[ArtifactManifest.clusterBuild]] and its siblings).
    */
  private[operators] def zorderFrame(df: DataFrame, cols: Seq[String],
      partitions: Int, bits: Int): DataFrame = {
    val nBuckets = 1 << bits
    // one aggregation pass for every column's quantile cuts (the
    // probabilities exclude 0.0: bucket of v = #cuts <= v, so the
    // lowest bucket is "below the first cut")
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets)
    val cutRow = df.select(cols.map(c =>
      percentile_approx(col(c).cast("double"),
        typedLit(probs), lit(10000)).as(c)): _*).head()
    val cuts: Map[String, Seq[Double]] = cols.zipWithIndex.map {
      case (c, i) =>
        require(!cutRow.isNullAt(i),
          s"z-order: column `$c` has no non-null values (or the " +
            "input is empty) — no quantile cuts to cluster on")
        // non-finite cuts (a column containing ±Infinity) are useless
        // as bucket boundaries AND unrepresentable as SQL literals;
        // dropping them folds infinite values into the edge buckets,
        // which is where they belong
        c -> cutRow.getSeq[Double](i).filter(java.lang.Double.isFinite)
    }.toMap
    require(cuts.values.forall(_.nonEmpty),
      s"z-order: a z column's quantile cuts are all non-finite — " +
        s"cannot cluster on it (cuts per column: " +
        s"${cuts.view.mapValues(_.size).toMap})")
    // bucket of v in [0, 2^bits): count of cuts <= v — the native
    // binary-search expression ([[graft.functions.QuantileBucket]]):
    // log2 comparisons per row per column inside whole-stage codegen,
    // where the HOF spelling (size(filter(cuts, c -> c <= v))) is
    // interpreted and linear in the cut count, and the range
    // partitioner's sampling pass pays the bucketization twice.
    def bucket(c: String) = {
      val lits = cuts(c)
        .map(d => java.lang.Double.toString(d) + "D").mkString(",")
      expr(s"quantile_bucket(cast(`$c` as double), array($lits))")
        .cast("long")
    }
    // working column names that cannot collide with the caller's
    // schema OR each other — "content-preserving" must hold even for
    // a frame that already carries a __z column, and two z-columns
    // with colliding hashCodes must not share one bucket column
    // (which would silently drop a column out of the curve), so
    // bucket names are indexed by POSITION and fresh() tracks what
    // it has already handed out
    val taken = scala.collection.mutable.Set(df.columns.toIndexedSeq: _*)
    def fresh(base: String): String = {
      val n = Iterator.from(0)
        .map(i => if (i == 0) base else s"$base$i")
        .find(n => !taken.contains(n)).get
      taken += n
      n
    }
    val zc = fresh("__z")
    val bcols = cols.zipWithIndex.map { case (c, i) =>
      c -> fresh(s"__zb$i")
    }
    // each bucket is computed ONCE into its own column, then the
    // Morton interleave reads the materialized buckets — the z
    // expression would otherwise embed `bits` copies of every
    // bucket search (and its cut-literal array) per column, leaving
    // the cost to the mercy of codegen subexpression elimination.
    // Interleave: bit b of column i lands at position b * nCols + i.
    val n = cols.size
    val z = (0 until bits).foldLeft(lit(0L)) { (acc, b) =>
      bcols.zipWithIndex.foldLeft(acc) { case (a, ((_, bc), i)) =>
        a.bitwiseOR(shiftleft(
          shiftright(col(bc), b).bitwiseAND(lit(1L)), b * n + i))
      }
    }
    bcols.foldLeft(df) { case (d, (c, bc)) => d.withColumn(bc, bucket(c)) }
      .withColumn(zc, z)
      .repartitionByRange(partitions, col(zc))
      .sortWithinPartitions(zc)
      .drop(zc +: bcols.map(_._2): _*)
  }

  /** Sibling path `<name><suffix>` of `dir`, via Path normalization —
    * naive string concatenation under a trailing-slash `dir` would
    * yield a CHILD of the live tree ("dir/__compact"), which
    * [[swapInto]]'s rename-aside then carries away with the live
    * data, stranding the staged rewrite.
    */
  private[operators] def sibling(dir: String,
      suffix: String): org.apache.hadoop.fs.Path = {
    val p = new org.apache.hadoop.fs.Path(dir)
    new org.apache.hadoop.fs.Path(p.getParent, p.getName + suffix)
  }

  /** Swap a fully-written staging tree into place at `dir` without a
    * window where the artifact path is the only missing copy. The
    * naive `delete(dir); rename(staging, dir)` order loses the only
    * complete copy if the process dies between the two calls; here
    * the live tree is renamed ASIDE first (`dir` → `dir__old`), the
    * staging tree renamed in, and only then the old tree deleted — at
    * every instant at least one complete tree exists, and a crash
    * between the renames leaves `dir__old` recoverable by a single
    * rename. Leftover `__old` trees from a crashed earlier pass are
    * cleared first (same idempotent-retry contract as the staging
    * dirs). Not atomic on a plain filesystem — same SINGLE-WRITER
    * maintenance-window contract as every artifact mutation.
    */
  private[operators] def swapInto(fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path,
      staging: org.apache.hadoop.fs.Path): Unit = {
    val old = new org.apache.hadoop.fs.Path(dir.toString + "__old")
    fs.delete(old, true) // leftover from a crashed earlier swap
    require(fs.rename(dir, old),
      s"swapInto: could not move live $dir aside to $old")
    require(fs.rename(staging, dir),
      s"swapInto: could not move $staging into place at $dir — the " +
        s"previous tree is intact at $old (rename it back to recover)")
    fs.delete(old, true)
  }

  /** Delete generation directory `gp` when it holds no data: every
    * entry left is hidden from Spark's file listing (`_` or `.`
    * prefix). A generation written into its own directory
    * ([[writeGenerationPacked]]) keeps its `_SUCCESS` marker there
    * after a takedown empties its last partition.
    */
  private def dropIfDataless(fs: org.apache.hadoop.fs.FileSystem,
      gp: org.apache.hadoop.fs.Path): Unit =
    if (fs.exists(gp) && fs.listStatus(gp).forall { st =>
        val n = st.getPath.getName
        n.startsWith("_") || n.startsWith(".")
      }) fs.delete(gp, true)

  /** ONE packed generation write — the recipe of
    * [[ArtifactManifest.compactGenerations]] and the merging appends,
    * kept in one place because its ordering argument is subtle: the
    * write targets the generation directory EXPLICITLY and partitions
    * by `partCol` alone, so the partitioned writer's required ordering
    * is just (partCol) — which the (partCol, sortWithin…) sort
    * already satisfies, and the writer's own UNSTABLE sort (which
    * would destroy any secondary order) never runs. The salt is a whole-row
    * hash: deterministic for a given row set, evenly spread; size
    * `filesPerPartition` to largest-partition-bytes /
    * parquet-target-file-size at scale.
    */
  private[operators] def writeGenerationPacked(rows: DataFrame,
      partCol: String, filesPerPartition: Int,
      sortWithin: Seq[String], genDir: String,
      rangeFiles: Boolean = false): Unit = {
    // rangeFiles: split each partition's files by RANGE of the sort
    // key instead of by row hash. A hash split re-scatters every
    // file across the full key space, so once a partition needs more
    // than one file the pushed set-probes' page skipping degrades
    // toward per-file exposure x files; range-split files cover
    // DISJOINT key slices, keeping rows-read per touched key
    // ~page-sized no matter how many files the partition compacts
    // into — the layout the index artifacts want past
    // one-file-per-band scale. The extra distinct count prices one
    // column-pruned pass over the live set, noise next to the full
    // rewrite the compaction already pays.
    val packed =
      if (rangeFiles && filesPerPartition > 1 && sortWithin.nonEmpty) {
        val nPart = rows.select(col(partCol)).distinct().count().toInt
        rows.repartitionByRange(
          math.max(1, nPart * filesPerPartition),
          (partCol +: sortWithin).map(col): _*)
      } else rows.repartition(col(partCol),
        pmod(hash(rows.columns.toIndexedSeq.map(col): _*),
          lit(filesPerPartition)))
    (if (sortWithin.isEmpty) packed
      else packed.sortWithinPartitions(
        (partCol +: sortWithin).map(col): _*))
      .write.mode("overwrite")
      .option("parquet.page.row.count.limit",
        DedupIndex.pageRowLimit(rows.sparkSession))
      .partitionBy(partCol).parquet(genDir)
  }

  /** Ingest generations present in an `(ingest, …)`-partitioned
    * artifact subtree — a DRIVER-SIDE directory listing (one
    * filesystem metadata call), never a corpus scan: a `max(ingest)`
    * aggregation would schedule a task per corpus file, which on a
    * 100 TB index is a full footer sweep to compute one integer.
    * Shared by both index artifacts' generation assignment and by
    * [[ArtifactManifest]]'s compactions.
    */
  private[operators] def ingestGenerations(s: SparkSession,
      partitionedDir: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(partitionedDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // a build's target may not exist yet — no generations, not an
    // error ([[ArtifactManifest.clusterBuild]] starts artifacts at
    // paths the caller has not pre-created)
    if (!fs.exists(p)) return Seq.empty
    fs.listStatus(p).map(_.getPath.getName).collect {
      case n if n.startsWith("ingest=") &&
        n.drop(7).forall(_.isDigit) => n.drop(7).toLong
    }.toSeq
  }

  /** Count of distinct `partCol=` partition values across the ingest
    * generations of an artifact subtree — a driver-side metadata
    * listing bounded by generations × partition values (bands /
    * cells: small by construction), never a data scan. The RAW tree
    * is listed, not the manifest-pinned live set: partition VALUES
    * are the same across generations (an orphan can at most add a
    * spurious value, slightly under-sizing files-per-partition — a
    * layout estimate, not a correctness input).
    */
  private[operators] def partitionValueCount(s: SparkSession,
      partitionedDir: String, partCol: String): Int = {
    val p = new org.apache.hadoop.fs.Path(partitionedDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0
    fs.listStatus(p).map(_.getPath)
      .filter(_.getName.startsWith("ingest="))
      .flatMap(g => fs.listStatus(g).map(_.getPath.getName)
        .filter(_.startsWith(partCol + "=")))
      .toSet.size
  }

  /** Delete rows by key from an `(ingest, partCol)`-partitioned
    * artifact subtree, rewriting ONLY the partitions that contain a
    * tombstoned key — the physical half of the index takedown path
    * (the legal deletion LLM-corpus pipelines owe; the logical half
    * is [[CdcOps.applyTombstones]]). Shape:
    *
    *  1. one pruned probe finds the affected `(ingest, partCol)`
    *     partitions (semi-join against the broadcast tombstones;
    *     driver-side result bounded by the tombstone count);
    *  2. survivors of ONLY those partitions are rewritten via a
    *     dynamic partition overwrite — a 100 TB artifact pays for the
    *     partitions its tombstones touch, never a full rewrite;
    *  3. partitions whose every row was tombstoned produce no
    *     overwrite output (dynamic overwrite only replaces partitions
    *     that receive rows), so their directories are deleted
    *     driver-side — without this step a fully-emptied partition
    *     would silently KEEP its deleted rows.
    *
    * Generation numbering is untouched (deletes happen in place
    * within each generation), so append monotonicity survives. Bulk
    * takedowns leave small rewritten files behind; run
    * [[ArtifactManifest.compactGenerations]] after, exactly like an
    * append burst.
    * Same single-writer contract as every artifact mutation.
    *
    * `tombs` must be an EXTERNAL input (a takedown feed, a collected
    * id list) — not a lazy view over `dir` itself: the rewrite
    * replaces the files such a view would re-read.
    *
    * Crash consistency: the dynamic overwrite rewrites the SAME path
    * it lazily reads — valid on the V1 commit path (the job writes to
    * a staging subdir and commits per partition), and a failure mid
    * job-commit can leave a partially applied takedown. The recovery
    * contract is IDEMPOTENT RE-RUN under the single-writer rule:
    * re-running the same delete completes it (surviving rows are
    * unchanged by a second anti-join; already-replaced partitions
    * simply rewrite again).
    *
    * `staged = true` upgrades the crash story from crash-recoverable
    * to crash-ISOLATED, still rewriting only affected partitions: the
    * survivors are first written to a `__takedown` staging sibling
    * (the live tree is READ but never touched — a kill anywhere in
    * this phase leaves the artifact serving exactly the old content),
    * a `_STAGED` marker commits the staging tree, and only then are
    * affected partition directories swapped one by one by ATOMIC
    * RENAMES only (live renamed aside into the staging root, staged
    * renamed in — never a recursive delete of live, whose partial
    * completion under a kill would masquerade as a complete copy).
    * A kill mid-swap leaves every partition wholly old, absent (the
    * staged copy is the one complete copy), or wholly new; the next
    * staged run's [[recoverStagedTakedown]] adopts every remaining
    * staged partition and the re-run converges. An unmarked staging
    * leftover (killed while writing) is discarded wholesale.
    */
  def deleteKeysPartitioned(s: SparkSession, dir: String,
      partCol: String, keyCol: String, tombs: DataFrame,
      staged: Boolean = false, sortWithin: Seq[String] = Nil): Unit = {
    val t = tombs.select(col(keyCol)).distinct()
    // BOTH modes recover first: a marked staging tree left by a
    // crashed staged run is a committed-but-unapplied takedown, and
    // any later partition REWRITE that ignores it leaves it lying in
    // wait — the next staged run's recovery would adopt those
    // pre-crash copies OVER the newer rewrites, resurrecting rows a
    // completed takedown promised to delete. Completing the pending
    // swap before mutating closes the window (same single-writer
    // contract; the recovery is one metadata probe when no staging
    // tree exists).
    recoverStagedTakedown(s, dir, partCol)
    if (staged) {
      stageTakedown(s, dir, partCol, keyCol, t, sortWithin).foreach {
        case (staging, affected) =>
          applyStagedTakedown(s, dir, partCol, staging, affected)
      }
      return
    }
    val corpus = s.read.parquet(dir)
    // ONE narrow pass answers BOTH driver-side questions — which
    // (ingest, partition) pairs contain a tombstoned key (affected:
    // dead > 0) and which empty out entirely (total == dead) — where
    // this used to be two collects: a full-corpus semi-join distinct
    // for `affected`, then a second counting scan of the affected
    // partitions for `emptied`. The single pass touches only
    // (ingest, partCol, keyCol); the wide payload never leaves disk.
    val stats = corpus.select(col("ingest"), col(partCol), col(keyCol))
      .join(broadcast(t.withColumn("__dead", lit(1))), Seq(keyCol),
        "left")
      .groupBy(col("ingest"), col(partCol))
      .agg(count(lit(1)).as("__total"), count(col("__dead"))
        .as("__dead"))
      .filter(col("__dead") > 0)
      .collect()
    val affected = stats.map(r => (r.get(0), r.get(1)))
    if (affected.nonEmpty) {
      // the affected-partition restriction is a STATIC predicate over
      // the partition columns (the pair list is already driver-side):
      // an OR-of-equalities prunes at plan time — guaranteed, unlike
      // dynamic pruning on a semi-join, which measured as two full
      // wide scans when it failed to fire (2M×64-cell probe: 21.7 s
      // semi-join vs 5.8 s static predicate vs 7.2 s full rewrite).
      // The pair count is bounded by the artifact's PARTITION count,
      // not the tombstone count; past a planner-safe bound the
      // restriction is dropped — at that spread the job was a full
      // rewrite regardless, and correctness is unchanged (the
      // tombstone anti-join is the semantics; the predicate is only
      // scan pruning).
      val restricted =
        if (affected.length > 4096) corpus
        else corpus.filter(affected.map { case (g, p) =>
            col("ingest") === lit(g) && col(partCol) === lit(p) }
          .reduce(_ || _))
      // the fully-emptied set fell out of the same pass (total ==
      // dead) — no second counting scan
      val emptied = stats
        .filter(r => r.getLong(2) == r.getLong(3))
        .map(r => (r.get(0).toString, r.get(1).toString))
      // broadcast anti-join: the rewrite is MAP-ONLY — affected
      // partitions scan, filter, write; the wide survivor rows are
      // never exchanged. `sortWithin` restores the caller's
      // within-file layout (the gate artifacts' bucket sort): without
      // it the dynamic writer inserts its OWN non-stable sort by the
      // partition columns, silently shuffling equal-key rows and
      // degrading the pushed probe's row-group skipping on every
      // rewritten partition until the next compaction. Still
      // exchange-free — sortWithinPartitions is per-task.
      val survivors = CdcOps.applyTombstones(restricted, t, Seq(keyCol),
          broadcastTombs = true)
      (if (sortWithin.isEmpty) survivors
        else survivors.sortWithinPartitions(
          ("ingest" +: partCol +: sortWithin).map(col): _*))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("ingest", partCol).parquet(dir)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      for ((g, p) <- emptied) {
        // fail LOUDLY if the doomed partition can't be resolved or
        // removed: silently keeping rows a takedown promised to
        // delete is a compliance breach, not a warning (partition
        // values here are numeric, so the path form is exact; a
        // non-numeric partCol would need Spark's escapePathName)
        val dead = new org.apache.hadoop.fs.Path(
          s"$dir/ingest=$g/$partCol=$p")
        require(fs.exists(dead),
          s"deleteKeysPartitioned: emptied partition $dead not found " +
            "— partition-path resolution failed; rows NOT removed")
        require(fs.delete(dead, true),
          s"deleteKeysPartitioned: failed to remove emptied " +
            s"partition $dead — rows NOT removed")
        // a generation whose every partition emptied leaves an
        // ingest= dir with no data behind — drop it so the generation
        // listing reflects live data only
        dropIfDataless(fs, new org.apache.hadoop.fs.Path(s"$dir/ingest=$g"))
      }
    }
  }

  /** Phase 1 of a staged takedown: write the survivors of every
    * affected `(ingest, partCol)` partition to the `__takedown`
    * staging sibling and commit it with a `_STAGED` marker. The live
    * tree is only READ. Returns the staging path and the affected
    * pairs (as path-form strings), or None when no partition holds a
    * tombstoned key. Package-private as a crash-simulation seam —
    * production entry is `deleteKeysPartitioned(staged = true)`.
    */
  private[graft] def stageTakedown(s: SparkSession, dir: String,
      partCol: String, keyCol: String, tombs: DataFrame,
      sortWithin: Seq[String] = Nil)
      : Option[(String, Seq[(String, String)])] = {
    val t = tombs.select(col(keyCol)).distinct()
    val sp = sibling(dir, "__takedown")
    val staging = sp.toString
    val fs = sp.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.delete(sp, true)
    val corpus = s.read.parquet(dir)
    val affectedRows = corpus
      .join(broadcast(t), Seq(keyCol), "left_semi")
      .select(col("ingest"), col(partCol)).distinct().collect()
    if (affectedRows.isEmpty) return None
    // same static partition-predicate pruning as the in-place path
    // (see deleteKeysPartitioned's rationale + measurements)
    val restricted =
      if (affectedRows.length > 4096) corpus
      else corpus.filter(affectedRows.map(r =>
          col("ingest") === lit(r.get(0)) &&
            col(partCol) === lit(r.get(1)))
        .reduce(_ || _))
    // same within-file layout restoration as the in-place path (the
    // staged survivors ARE the partitions the swap publishes)
    val survivors = CdcOps.applyTombstones(restricted, t, Seq(keyCol),
        broadcastTombs = true)
    (if (sortWithin.isEmpty) survivors
      else survivors.sortWithinPartitions(
        ("ingest" +: partCol +: sortWithin).map(col): _*))
      .write.mode("overwrite").partitionBy("ingest", partCol)
      .parquet(staging)
    fs.create(new org.apache.hadoop.fs.Path(sp, "_STAGED"), true)
      .close()
    Some((staging,
      affectedRows.map(r => (r.get(0).toString, r.get(1).toString))
        .toSeq))
  }

  /** Phase 2 of a staged takedown: swap EVERY staged partition into
    * place, then retire the affected partitions that have no staged
    * twin (every row tombstoned), drop emptied `ingest=` directories,
    * and remove the staging root.
    *
    * Both the swap and the retirement are RENAME-ONLY on the live
    * tree: the live partition is renamed aside into the staging
    * root's `__aside/` area (a directory rename is a single atomic
    * metadata op on HDFS-like filesystems) and the staged copy is
    * renamed into place; nothing under `dir` is ever recursively
    * deleted. A recursive delete is not atomic — a kill mid-delete
    * would leave a PARTIAL live partition that recovery could not
    * distinguish from a complete one, silently losing survivor rows.
    * With renames, every crash point leaves each live partition
    * either wholly old, absent (staged copy is the one complete
    * copy — adopted by [[recoverStagedTakedown]]), or wholly new.
    * The aside copies are reaped with the staging root's single
    * terminal delete, which only ever destroys superseded bytes.
    *
    * The swap walks the STAGING TREE (not just `affected`): when
    * [[stageTakedown]]'s partition-predicate restriction was dropped
    * past the planner-safe bound, the staging tree holds survivors of
    * every partition — a full rewrite, like the in-place path at that
    * spread — and discarding the unaffected part of it would waste
    * the entire second copy's write.
    */
  private[graft] def applyStagedTakedown(s: SparkSession, dir: String,
      partCol: String, staging: String,
      affected: Seq[(String, String)]): Unit = {
    val sp = new org.apache.hadoop.fs.Path(staging)
    val fs = sp.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(new org.apache.hadoop.fs.Path(sp, "_STAGED")),
      s"applyStagedTakedown: $staging has no _STAGED marker — the " +
        "staging write did not complete; re-run the takedown")
    val stagedPairs = for {
      gDir <- fs.listStatus(sp).toSeq
        if gDir.getPath.getName.startsWith("ingest=")
      pDir <- fs.listStatus(gDir.getPath).toSeq
        if pDir.getPath.getName.startsWith(s"$partCol=")
    } yield (gDir.getPath.getName.stripPrefix("ingest="),
      pDir.getPath.getName.stripPrefix(s"$partCol="))
    def renameAside(live: org.apache.hadoop.fs.Path, g: String,
        p: String): Unit = {
      val aside = new org.apache.hadoop.fs.Path(
        s"$staging/__aside/ingest=$g/$partCol=$p")
      fs.mkdirs(aside.getParent)
      require(fs.rename(live, aside),
        s"applyStagedTakedown: could not retire live partition " +
          s"$live to $aside")
    }
    for ((g, p) <- stagedPairs) {
      val live = new org.apache.hadoop.fs.Path(
        s"$dir/ingest=$g/$partCol=$p")
      val stagedPart = new org.apache.hadoop.fs.Path(
        s"$staging/ingest=$g/$partCol=$p")
      if (fs.exists(live)) renameAside(live, g, p)
      require(fs.rename(stagedPart, live),
        s"applyStagedTakedown: could not move $stagedPart into " +
          s"place at $live — recoverStagedTakedown adopts it on " +
          "the next run")
    }
    val stagedSet = stagedPairs.toSet
    for ((g, p) <- affected if !stagedSet((g, p))) {
      // fully-emptied partition: same loud contract as the in-place
      // path — silently keeping rows a takedown promised to delete
      // is a compliance breach (numeric partition values; a
      // non-numeric partCol would need Spark's escapePathName)
      val live = new org.apache.hadoop.fs.Path(
        s"$dir/ingest=$g/$partCol=$p")
      require(fs.exists(live),
        s"applyStagedTakedown: emptied partition $live not found " +
          "— partition-path resolution failed; rows NOT removed")
      renameAside(live, g, p)
    }
    for (g <- (stagedPairs ++ affected).map(_._1).distinct)
      dropIfDataless(fs, new org.apache.hadoop.fs.Path(s"$dir/ingest=$g"))
    fs.delete(sp, true)
  }

  /** Restore the staged-takedown invariants after a crash: an
    * UNMARKED staging tree (killed while writing) is discarded — the
    * live tree was never touched; a MARKED one (killed mid-swap) has
    * EVERY remaining staged partition adopted — live twin (wholly
    * old, or a remnant left by a pre-rename-era crash) renamed aside
    * into the staging root, staged copy renamed in — then the root
    * (asides included) is removed. Adoption is unconditional because
    * the `_STAGED` marker commits the staging tree as the
    * post-takedown truth for its partitions: adopting merely
    * completes the interrupted swap, and keying on live existence
    * (the pre-round-10 behavior) mistook a PARTIALLY deleted live
    * remnant for a complete copy and discarded the only complete one.
    * Idempotent; re-running the same takedown afterwards converges
    * (fully-emptied partitions have no staged twin — the re-run
    * re-detects their tombstoned rows and retires them). Called
    * automatically at the start of every
    * `deleteKeysPartitioned(staged = true)`.
    */
  private[graft] def recoverStagedTakedown(s: SparkSession,
      dir: String, partCol: String): Unit = {
    val sp = sibling(dir, "__takedown")
    val fs = sp.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(sp)) return
    if (fs.exists(new org.apache.hadoop.fs.Path(sp, "_STAGED"))) {
      for (gDir <- fs.listStatus(sp)
            if gDir.getPath.getName.startsWith("ingest=");
          pDir <- fs.listStatus(gDir.getPath)
            if pDir.getPath.getName.startsWith(s"$partCol=")) {
        val live = new org.apache.hadoop.fs.Path(
          s"$dir/${gDir.getPath.getName}/${pDir.getPath.getName}")
        if (fs.exists(live)) {
          val aside = new org.apache.hadoop.fs.Path(sp,
            s"__aside/${gDir.getPath.getName}/${pDir.getPath.getName}")
          fs.mkdirs(aside.getParent)
          require(fs.rename(live, aside),
            s"recoverStagedTakedown: could not retire live remnant " +
              s"$live to $aside")
        } else fs.mkdirs(live.getParent)
        require(fs.rename(pDir.getPath, live),
          s"recoverStagedTakedown: could not adopt ${pDir.getPath}" +
            s" at $live")
      }
    }
    fs.delete(sp, true)
  }

}
