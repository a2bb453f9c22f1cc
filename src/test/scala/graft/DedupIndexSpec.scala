package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import graft.operators.{ArtifactManifest, DedupIndex, DedupOps}

/** The persisted dedup-index lifecycle: a probe must return exactly
  * the batch-run candidate set restricted to pairs touching the batch
  * (same builders as d3/d4 — no drift possible), and appending a batch
  * must leave the index serving the same probes as one full build.
  */
class DedupIndexSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"
  private val (k, rpb) = (4, 2) // d3/d4's banding geometry
  private val splitId = 400L

  private def withDir[A](f: String => A): A =
    withTempDir("graft-dedup-idx")(f)

  private def batchPairsTouching(minId: Long): Seq[(Long, Long)] =
    DedupOps.lshCandidatePairs(
        DedupOps.lshBuckets(
          DedupOps.withMinHash(Tables.documents(spark, d), "text", k),
          "doc_id", k, rpb),
        "doc_id")
      .filter(col("a") >= minId || col("b") >= minId)
      .as[(Long, Long)].collect().toSeq.sorted

  test("probe equals the batch-run pairs touching the new docs") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      val l = DedupIndex.load(spark, dir)
      assert((l.k, l.rowsPerBand) === ((k, rpb)))
      val probed = DedupIndex
        .probe(l, docs.filter(col("doc_id") >= splitId), "text", "doc_id")
        .as[(Long, Long)].collect().toSeq.sorted
      assert(probed === batchPairsTouching(splitId))
      // the probe is doing real work on this corpus: it finds
      // cross-boundary candidates (else the contract tested nothing)
      assert(probed.nonEmpty)
      assert(probed.exists { case (a, b) => a < splitId && b >= splitId })
    }
  }

  test("pushed touched-bucket probe: decision-identical to the full " +
      "scan, In(bucket) reaches the store scan, bucket-sorted band " +
      "files, and the fallbacks stay correct") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      val l = DedupIndex.load(spark, dir)
      val arrivals = docs.filter(col("doc_id") >= splitId)
      val pushed = DedupIndex.probe(l, arrivals, "text", "doc_id",
        pushTouched = true)
      // decision-identical to the unpushed probe: the global In over
      // touched bucket VALUES is a superset of the (band, bucket)
      // touched set (60-bit hashes collide across bands only at
      // hash-collision odds), and the equi-join drops the stragglers
      assert(pushed.as[(Long, Long)].collect().toSeq.sorted ===
        batchPairsTouching(splitId))
      // the touched set reaches the bucket store's scan as a PUSHED
      // In filter — against the bucket-sorted band files, row groups
      // and pages of un-touched buckets never leave disk
      val plan = pushed.queryExecution.executedPlan.toString
      assert(plan.linesIterator.exists(lin =>
        (lin.contains("Scan parquet") || lin.contains("FileScan")) &&
          lin.contains("buckets") && lin.contains("PushedFilters") &&
          lin.contains("In(bucket")), plan)
      // the written layout IS bucket-sorted within each band file
      // (what makes the pushed filter skip instead of just re-filter)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def assertBucketSorted(gen: Long): Unit = {
        val files = fs.globStatus(new org.apache.hadoop.fs.Path(
          s"$dir/buckets/ingest=$gen/band=*/part-*")).map(_.getPath)
        assert(files.nonEmpty, s"no band files in generation $gen")
        files.take(4).foreach { f =>
          val b = spark.read.parquet(f.toString)
            .select("bucket").as[Long].collect()
          assert(b.sameElements(b.sorted),
            s"unsorted bucket layout in $f")
        }
      }
      assertBucketSorted(0L)
      // a batch with NO valid signatures (below the shingle width)
      // short-circuits the store scan and probes empty, not an error
      val degenerate = Seq((999999L, "ab")).toDF("doc_id", "text")
      assert(DedupIndex.probe(l, degenerate, "text", "doc_id",
        pushTouched = true).count() === 0L)
      // past the In cap the prune falls back to the full store scan
      // (the LIMIT-bounded collect never ships a batch-sized list)
      val wide = spark.range(DedupIndex.PushMaxValues + 10L)
        .select(col("id").as("bucket"))
      val uncapped = DedupIndex.touchedPrune(
        l.buckets.select(col("doc_id"), col("band"), col("bucket")),
        wide, push = true)
      assert(!uncapped.queryExecution.executedPlan.toString
        .contains("In(bucket"))
      assert(uncapped.count() === l.buckets.count())
      // an appended generation keeps the same layout: the append's
      // band files are bucket-sorted too
      DedupIndex.append(spark, dir, arrivals, "text", "doc_id")
      assertBucketSorted(1L)
    }
  }

  test("native set-push tier: past the or-chain cap the probe's " +
      "stored side reads through the UDP-pushed scan, stays " +
      "decision-identical, and the kill switch restores the full " +
      "scan") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      val l = DedupIndex.load(spark, dir)
      assert(l.dir === Some(dir))
      // tier mechanics on a wide synthetic touched set (> the
      // or-chain cap): the prune swaps in the native re-reader
      val vals = l.buckets.select("bucket").distinct()
        .as[Long].collect().toIndexedSeq
      val wide = (vals ++ (1L to
        (DedupIndex.PushMaxValues + 32L - vals.length.max(0))))
        .distinct
      assert(wide.length > DedupIndex.PushMaxValues)
      val wideDf = wide.toDF("bucket")
      val stored = l.buckets
        .select(col("doc_id"), col("band"), col("bucket"))
      def push(estRows: Long) = DedupIndex.NativePush(
        DedupIndex.nativeBucketsReader(spark, dir, "doc_id"),
        () => estRows,
        () => DedupIndex.storedPageRows(spark, s"$dir/buckets",
          "bucket"))
      // the cost model refuses the tier when the store cannot repay
      // the page seeks (estRows below values x pageRows x payoff)
      val tooSmall = DedupIndex.touchedPrune(stored, wideDf,
        push = true, native = Some(push(1000L)))
      assert(!tooSmall.queryExecution.executedPlan.toString
        .contains("GraftParquet"))
      assert(tooSmall.count() === stored.count())
      val nat = DedupIndex.touchedPrune(stored, wideDf, push = true,
        native = Some(push(Long.MaxValue)))
      val plan = nat.queryExecution.executedPlan.toString
      assert(plan.contains("GraftParquet"),
        s"native tier not engaged:\n$plan")
      assert(!plan.contains("In(bucket"), plan)
      // page-superset closed by an exact membership filter equals
      // the catalyst-filtered store: nothing matching lost, every
      // straggler dropped
      val exact = (df: org.apache.spark.sql.DataFrame) =>
        df.join(broadcast(wideDf), Seq("bucket"), "left_semi")
          .select("doc_id", "band", "bucket")
          .collect().map(_.toSeq).toSet
      assert(exact(nat) === exact(stored))
      // end-to-end: a batch touching more buckets than the or-chain
      // cap probes decision-identically through the native tier
      val touched = DedupIndex.touchedPrune(
        stored, wideDf, push = true, native = None)
      assert(touched.count() === stored.count(),
        "wide set should overflow the catalyst tier (fall back)")
      // kill switch: nativePushMaxValues=0 disables tier 2 even with
      // a reader supplied
      spark.conf.set("graft.gate.nativePushMaxValues", "0")
      try {
        val off = DedupIndex.touchedPrune(stored, wideDf,
          push = true, native = Some(push(Long.MaxValue)))
        assert(!off.queryExecution.executedPlan.toString
          .contains("GraftParquet"))
        assert(off.count() === stored.count())
      } finally spark.conf.unset("graft.gate.nativePushMaxValues")
    }
  }

  test("native re-reader serves the PROBED frame's pin: an append " +
      "committed after load stays invisible to tier 2 (the tier can " +
      "never be decision-visible under concurrent mutation)") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      val l = DedupIndex.load(spark, dir)
      assert(l.pin.isDefined, "load did not capture the manifest pin")
      val preRows = l.buckets.count()
      // a writer appends AFTER the load pinned its frame
      DedupIndex.append(spark, dir,
        docs.filter(col("doc_id") >= splitId), "text", "doc_id")
      assert(spark.read.parquet(s"$dir/buckets").count() > preRows,
        "append landed nothing — the test would prove nothing")
      // wide synthetic touched set (> the or-chain cap) forces the
      // native tier through the PINNED reader
      val vals = l.buckets.select("bucket").distinct()
        .as[Long].collect().toIndexedSeq
      val wide = (vals ++ (1L to
        (DedupIndex.PushMaxValues + 32L - vals.length.max(0))))
        .distinct
      val wideDf = wide.toDF("bucket")
      val stored = l.buckets
        .select(col("doc_id"), col("band"), col("bucket"))
      val np = DedupIndex.NativePush(
        DedupIndex.nativeBucketsReader(spark, dir, "doc_id",
          pinned = l.pin),
        () => Long.MaxValue, () => 2048L)
      val nat = DedupIndex.touchedPrune(stored, wideDf, push = true,
        native = Some(np))
      assert(nat.queryExecution.executedPlan.toString
        .contains("GraftParquet"), "native tier not engaged")
      val exact = (df: org.apache.spark.sql.DataFrame) =>
        df.join(broadcast(wideDf), Seq("bucket"), "left_semi")
          .select("doc_id", "band", "bucket")
          .collect().map(_.toSeq).toSet
      // the tier-2 read equals the PINNED frame — the appended
      // generation (whose docs share these buckets) is invisible,
      // exactly as it is to tiers 1 and 3
      assert(exact(nat) === exact(stored))
      assert(!exact(nat).exists(r =>
        r.head.asInstanceOf[Long] >= splitId),
        "tier 2 leaked the post-load generation")
    }
  }

  test("native re-reader committed-empty under a threaded pin: zero " +
      "rows in the PIN's stored schema, even after the manifest has " +
      "since grown past the pin (no scan-time re-pin)") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      // total takedown → committed-EMPTY generation set
      DedupIndex.delete(spark, dir,
        docs.filter(col("doc_id") < splitId).select("doc_id"))
      val l = DedupIndex.load(spark, dir)
      assert(l.pin.exists(_.generations.isEmpty),
        s"expected a committed-empty pin, got ${l.pin}")
      // a writer re-populates AFTER the pin was taken (a hand-rolled
      // generation + manifest commit: the append op itself refuses a
      // takedown-emptied tree as "not a built artifact")
      spark.range(5L)
        .select(col("id").as("doc_id"), lit(0L).as("band"),
          col("id").as("bucket"))
        .write.parquet(s"$dir/buckets/ingest=7")
      graft.operators.ArtifactManifest.recordAppend(
        spark, s"$dir/buckets", 7L)
      assert(graft.operators.ArtifactManifest
          .latest(spark, s"$dir/buckets")
          .exists(_.generations.nonEmpty),
        "the manifest did not grow — the test would prove nothing")
      val rd = DedupIndex.nativeBucketsReader(spark, dir, "doc_id",
        pinned = l.pin)
      val out = rd(Seq(1L, 2L, 3L))
      // the pin's own stored schema (frameOfPin's committed-empty
      // path), projected to the reader's contract — NOT a fresh
      // latest() whose generation set has since grown
      assert(out.columns.toSeq === Seq("doc_id", "band", "bucket"))
      assert(out.count() === 0L,
        "a committed-empty pin must serve zero rows even after " +
          "the manifest grew")
    }
  }

  test("cost model prices the store's WRITE-TIME page geometry, not " +
      "the session conf: a store written with small pages engages " +
      "the native tier where the conf's value would refuse") {
    withDir { dir =>
      // a store written with 64-row pages (a legacy / foreign-session
      // geometry as far as the current conf is concerned)
      val store = s"$dir/store"
      spark.range(20000L)
        .select(col("id").as("doc_id"), lit(0L).as("band"),
          col("id").as("bucket"))
        .sortWithinPartitions("bucket").coalesce(1)
        .write.option("parquet.page.row.count.limit", "64")
        .parquet(store)
      val measured = DedupIndex.storedPageRows(spark, store, "bucket")
      assert(measured >= 32 && measured <= 128,
        s"expected ~64 rows/page from the footer, got $measured")
      // bytes/row is measured from the same footer, not the
      // caller's constant fallback (which under-counts rows on
      // hard-RLE stores)
      val (_, rowBytes) = DedupIndex.storedPageGeometry(
        spark, store, "bucket", rowBytesFallback = 999L)
      assert(rowBytes >= 1 && rowBytes <= 64 && rowBytes != 999L,
        s"bytes/row not measured: $rowBytes")
      // with the session conf claiming million-row pages, only the
      // measured geometry lets the payoff model engage: 1100 values
      // x 64 x 2 < estRows, while 1100 x 1e6 x 2 would refuse
      spark.conf.set("graft.index.pageRowLimit", "1000000")
      try {
        val wide = spark.range(DedupIndex.PushMaxValues + 76L)
          .select(col("id").as("bucket"))
        val stored = spark.read.parquet(store)
          .select("doc_id", "band", "bucket")
        val np = DedupIndex.NativePush.forStore(spark, store, 1L,
          vals => graft.sources.NativeParquetIn
            .read(spark, store, Seq(store), "bucket", vals)
            .select("doc_id", "band", "bucket"),
          knownBytes = Some(10L << 20)) // estRows >> values x 64 x 2
        val pruned = DedupIndex.touchedPrune(stored, wide,
          push = true, native = Some(np))
        assert(pruned.queryExecution.executedPlan.toString
            .contains("GraftParquet"),
          "native tier refused under the measured page geometry")
        // a conf-priced model would have refused here: sanity-pin
        // that the conf value really is above the engage bar
        assert((DedupIndex.PushMaxValues + 76L) * 1000000L * 2L >
          (10L << 20))
      } finally spark.conf.unset("graft.index.pageRowLimit")
    }
  }

  test("gateDecisions scans the verification store ONCE per batch, " +
      "matches the per-side two-join reference, and still fails " +
      "loudly on a missing store row") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      val l = DedupIndex.load(spark, dir)
      val arrivals = docs.filter(col("doc_id") >= splitId)
      val cand = DedupIndex.probe(l, arrivals, "text", "doc_id")
      // parquet-backed store, exactly the streaming gate's shape
      docs.select(col("doc_id"),
          graft.operators.TextOps.charNgrams("text", 4).as("grams"))
        .write.parquet(s"$dir/grams")
      val grams = spark.read.parquet(s"$dir/grams")
      val out = DedupIndex.gateDecisions(cand, grams, arrivals,
        "doc_id", 0.35)
      // the store appears ONCE in the physical plan — the old shape
      // left-joined it separately per pair side, two full scans (2x
      // read amplification on the big side at 100 TB)
      val plan = out.queryExecution.executedPlan.toString
      val scans = plan.linesIterator.count(lin =>
        (lin.contains("Scan parquet") || lin.contains("FileScan")) &&
          lin.contains("grams"))
      assert(scans === 1, s"store scanned $scans times:\n$plan")
      // decision-identical to the reference two-join shape (inner
      // joins suffice here: the store covers every doc)
      val ref = DedupIndex.admit(
        cand.join(grams.select(col("doc_id").as("a"),
            col("grams").as("ga")), Seq("a"))
          .join(grams.select(col("doc_id").as("b"),
            col("grams").as("gb")), Seq("b"))
          .select(col("a"), col("b"),
            round(DedupOps.jaccard(col("ga"), col("gb")), 4)
              .as("jac"))
          .filter(col("jac") >= 0.35),
        arrivals, "doc_id")
      assert(out.as[(Long, Option[Long], Boolean)].collect().sorted
        === ref.as[(Long, Option[Long], Boolean)].collect().sorted)
      // gated decisions did real work: some rejection exists
      assert(out.filter(!col("admitted")).count() > 0)
      // a store that misses an indexed doc must FAIL the batch, not
      // silently admit the unverified arrival: hole an actual
      // candidate's row out of the store
      val someA = cand.select(col("a")).as[Long].head()
      val ex = intercept[Exception] {
        DedupIndex.gateDecisions(cand,
          grams.filter(col("doc_id") =!= someA), arrivals,
          "doc_id", 0.35).collect()
      }
      def rootMsg(t: Throwable): String =
        (Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(x => Option(x.getMessage).getOrElse(""))).mkString("|")
      assert(rootMsg(ex).contains("no grams row"), rootMsg(ex))
    }
  }

  test("semiFilter is decision-identical to the plain single-scan " +
      "(the broadcast semi pre-filter must be result-invisible)") {
    withDir { dir =>
      // synthetic parquet store: ids 0..5999, grams equal for the
      // id%3==0 third (pairs confirm), unique singletons otherwise
      val n = 6000L
      spark.range(n).select(col("id").as("doc_id"),
          when(col("id") % 3 === 0, array(lit("x")))
            .otherwise(array(concat(lit("g"), col("id"))))
            .as("grams"))
        .write.parquet(s"$dir/grams")
      val grams = spark.read.parquet(s"$dir/grams")
      val arrivals = spark.range(n / 2, n).select(col("id").as("doc_id"))
      // 3000 pairs (i, i+3000): a mixed outcome population
      val cand = spark.range(n / 2)
        .select(col("id").as("a"), (col("id") + n / 2).as("b"))
      val ref = DedupIndex.gateDecisions(cand, grams, arrivals,
          "doc_id", 0.5)
        .as[(Long, Option[Long], Boolean)].collect().toSeq.sorted
      assert(ref.exists(!_._3) && ref.exists(_._3)) // both outcomes
      assert(DedupIndex.gateDecisions(cand, grams, arrivals, "doc_id",
          0.5, semiFilter = true)
        .as[(Long, Option[Long], Boolean)].collect().toSeq.sorted
        === ref)
    }
  }

  test("load refuses a geometry-mismatched artifact (crashed " +
      "re-build left params inconsistent with the bucket tree)") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      // simulate the crash window: params re-written under DIFFERENT
      // banding while the bucket tree still carries the old stamp —
      // probing across that mismatch silently admits duplicates, so
      // load must fail loudly instead
      DedupIndex.saveParams(spark, dir, k * 2, rpb)
      val e = intercept[IllegalArgumentException] {
        DedupIndex.load(spark, dir)
      }
      assert(e.getMessage.contains("re-run the build"))
      // restoring consistent params restores the load
      DedupIndex.saveParams(spark, dir, k, rpb)
      assert(DedupIndex.load(spark, dir).k === k)
    }
  }

  test("a legacy unstamped artifact plus a stamped append still " +
      "loads — mixed generations must not NPE the geometry check") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      // legacy build: pre-stamp layout — bucket rows WITHOUT the
      // k / rows_per_band columns (what round-12-and-earlier builds
      // wrote); manifest + params exactly as the old build laid out
      DedupOps.lshBuckets(
          DedupOps.withMinHash(docs.filter(col("doc_id") < splitId),
            "text", k), "doc_id", k, rpb)
        .withColumn("ingest", lit(0L))
        .write.mode("overwrite").partitionBy("ingest", "band")
        .parquet(s"$dir/buckets")
      graft.operators.ArtifactManifest.recordBuild(spark,
        s"$dir/buckets")
      DedupIndex.saveParams(spark, dir, k, rpb)
      // a stamped append lands a new generation beside the legacy one:
      // the artifact now mixes rows with and without the stamp, so
      // the geometry probe must read its one row from a STAMPED
      // generation (a null stamp winning limit(1) would NPE getInt
      // and brick a legitimate artifact)
      DedupIndex.append(spark, dir,
        docs.filter(col("doc_id") >= splitId), "text", "doc_id")
      val l = DedupIndex.load(spark, dir)
      assert((l.k, l.rowsPerBand) === ((k, rpb)))
      // and the mixed artifact serves the same buckets as a full build
      val stored = l.buckets.select("doc_id", "band", "bucket")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val fresh = DedupOps.lshBuckets(
          DedupOps.withMinHash(docs, "text", k), "doc_id", k, rpb)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(stored === fresh)
    }
  }

  test("a TOTAL takedown leaves the index loadable and serving zero " +
      "candidates — not bricked until a rebuild") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      // tombstone EVERY indexed doc: all bucket rows leave, emptied
      // partitions (and bare generation dirs) are removed, and the
      // manifest commits an empty live set
      DedupIndex.delete(spark, dir,
        docs.filter(col("doc_id") < splitId).select("doc_id"))
      val l = DedupIndex.load(spark, dir)
      assert(l.buckets.count() === 0L)
      // probing a batch against the emptied index: batch-internal
      // pairs only (nothing stored to collide with), no crash
      val probed = DedupIndex.probe(l,
          docs.filter(col("doc_id") >= splitId), "text", "doc_id")
        .as[(Long, Long)].collect().toSeq.sorted
      val batchOnly = batchPairsTouching(0L)
        .filter { case (a, b) => a >= splitId && b >= splitId }
      assert(probed === batchOnly)
    }
  }

  test("append keeps the index equivalent to a full build") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      DedupIndex.append(spark, dir,
        docs.filter(col("doc_id") >= splitId), "text", "doc_id")
      val appended = DedupIndex.load(spark, dir)
      // bucket content equals a fresh full build's (set semantics)
      val fresh = DedupOps.lshBuckets(
          DedupOps.withMinHash(docs, "text", k), "doc_id", k, rpb)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val stored = appended.buckets.select("doc_id", "band", "bucket")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(stored === fresh)
      // and a probe of a further batch against the appended index
      // equals the batch-run contract over the grown corpus: probe a
      // copy of the last 50 docs with fresh ids (guaranteed bucket
      // collisions with their originals)
      val again = docs.filter(col("doc_id") >= 450)
        .withColumn("doc_id", col("doc_id") + 1000)
      val probed = DedupIndex.probe(appended, again, "text", "doc_id")
        .as[(Long, Long)].collect().toSeq.sorted
      val expected = DedupOps.lshCandidatePairs(
          DedupOps.lshBuckets(
            DedupOps.withMinHash(docs.unionByName(again), "text", k),
            "doc_id", k, rpb),
          "doc_id")
        .filter(col("a") >= 1000L || col("b") >= 1000L)
        .as[(Long, Long)].collect().toSeq.sorted
      assert(probed === expected)
      assert(probed.exists { case (a, b) => b === a + 1000L })
    }
  }

  test("replaying an ingest generation is idempotent") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      val batch = docs.filter(col("doc_id") >= splitId)
      def buckets() = DedupIndex.load(spark, dir).buckets
        .select("doc_id", "band", "bucket")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      DedupIndex.appendBatch(k, rpb, dir, batch, "text", "doc_id",
        generation = 1L)
      val once = buckets()
      // the replayed generation REPLACES its own partitions (dynamic
      // overwrite) — a crashed-and-retried micro-batch cannot
      // double-ingest
      DedupIndex.appendBatch(k, rpb, dir, batch, "text", "doc_id",
        generation = 1L)
      assert(buckets() === once)
      // and a NEW generation still accretes
      val more = docs.filter(col("doc_id") >= 450)
        .withColumn("doc_id", col("doc_id") + 1000)
      DedupIndex.appendBatch(k, rpb, dir, more, "text", "doc_id",
        generation = 2L)
      assert(buckets().size > once.size)
    }
  }

  import scala.jdk.CollectionConverters._

  private def ingestDirs(sub: String, dir: String): Seq[String] = {
    val s = Files.list(java.nio.file.Paths.get(dir, sub))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("ingest=")).toSeq.sorted
    finally s.close()
  }
  private def parquetFiles(sub: String, dir: String): Long = {
    val s = Files.walk(java.nio.file.Paths.get(dir, sub))
    try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
    finally s.close()
  }

  test("generation compaction: probe-identical, files collapsed, numbering monotone") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      DedupIndex.appendBatch(k, rpb, dir,
        docs.filter(col("doc_id") >= splitId && col("doc_id") < 450),
        "text", "doc_id", generation = 1L)
      DedupIndex.appendBatch(k, rpb, dir,
        docs.filter(col("doc_id") >= 450), "text", "doc_id",
        generation = 2L)
      val again = docs.filter(col("doc_id") >= 450)
        .withColumn("doc_id", col("doc_id") + 1000)
      def probed() = DedupIndex
        .probe(DedupIndex.load(spark, dir), again, "text", "doc_id")
        .as[(Long, Long)].collect().toSeq.sorted
      val before = probed()
      assert(before.nonEmpty)
      val filesBefore = parquetFiles("buckets", dir)
      val kept = ArtifactManifest.compactGenerations(spark,
        s"$dir/buckets", "band")
      // the merged generation is numbered past every listed one, so
      // the next append's max+1 can never reuse a number an earlier
      // append handed out
      assert(kept === 3L)
      assert(ingestDirs("buckets", dir) === Seq("ingest=3"))
      assert(parquetFiles("buckets", dir) < filesBefore)
      // probes are identical across the collapse — compaction is a
      // physical-layout pass, not a semantic one
      assert(probed() === before)
    }
  }

  test("delete leaves the index probing as if built without the docs") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      val tombs = docs.select(col("doc_id"))
        .filter(col("doc_id") % 7 === 1 && col("doc_id") < splitId)
      DedupIndex.delete(spark, dir, tombs)
      val arrivals = docs.filter(col("doc_id") >= splitId)
      val probed = DedupIndex
        .probe(DedupIndex.load(spark, dir), arrivals, "text", "doc_id")
        .as[(Long, Long)].collect().toSeq.sorted
      // ground truth: an index BUILT without the tombstoned docs
      withDir { dir2 =>
        DedupIndex.build(docs.filter(col("doc_id") < splitId &&
            col("doc_id") % 7 =!= 1), "text", "doc_id", k, rpb, dir2)
        val want = DedupIndex
          .probe(DedupIndex.load(spark, dir2), arrivals, "text",
            "doc_id")
          .as[(Long, Long)].collect().toSeq.sorted
        assert(probed === want)
      }
      // the takedown really removed colliding candidates
      assert(probed !== batchPairsTouching(splitId))
      // the rewritten band files STAY bucket-sorted (sortWithin rides
      // the takedown rewrite — without it the dynamic writer's own
      // non-stable partition-column sort would shuffle equal-key rows
      // and degrade the pushed probe's skipping)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val rewritten = fs.globStatus(new org.apache.hadoop.fs.Path(
        s"$dir/buckets/ingest=*/band=*/part-*")).map(_.getPath)
      assert(rewritten.nonEmpty)
      rewritten.take(4).foreach { f =>
        val b = spark.read.parquet(f.toString)
          .select("bucket").as[Long].collect()
        assert(b.sameElements(b.sorted),
          s"takedown left unsorted bucket layout in $f")
      }
      // the crash-isolated staged takedown is probe-identical to the
      // in-place one
      withDir { dir3 =>
        DedupIndex.build(docs.filter(col("doc_id") < splitId),
          "text", "doc_id", k, rpb, dir3)
        DedupIndex.delete(spark, dir3, tombs, staged = true)
        val stagedProbed = DedupIndex
          .probe(DedupIndex.load(spark, dir3), arrivals, "text",
            "doc_id")
          .as[(Long, Long)].collect().toSeq.sorted
        assert(stagedProbed === probed)
      }
    }
  }

  test("append auto-compacts once the generation count crosses the threshold") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      // threshold 2: this append's generation 1 would be the
      // artifact's 2nd, so the append itself merges the live tree and
      // the batch into generation 1 — maintenance is part of ingest,
      // not a separate operator nobody schedules
      DedupIndex.append(spark, dir,
        docs.filter(col("doc_id") >= splitId), "text", "doc_id",
        compactEvery = 2)
      assert(ingestDirs("buckets", dir) === Seq("ingest=1"))
      // the collapsed index still equals a fresh full build
      val stored = DedupIndex.load(spark, dir).buckets
        .select("doc_id", "band", "bucket")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val fresh = DedupOps.lshBuckets(
          DedupOps.withMinHash(docs, "text", k), "doc_id", k, rpb)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(stored === fresh)
    }
  }

  test("sized maintenance: a band past graft.index.targetFileBytes " +
      "range-splits into multiple files with DISJOINT bucket slices; " +
      "below the bar the 1-file layout is kept; probes unchanged") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      // a few KB per band vs a tiny target: the append-triggered
      // compaction must flip to multi-file range slices
      spark.conf.set("graft.index.targetFileBytes", "2048")
      try DedupIndex.append(spark, dir,
        docs.filter(col("doc_id") >= splitId), "text", "doc_id",
        compactEvery = 2)
      finally spark.conf.unset("graft.index.targetFileBytes")
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val g = graft.operators.ArtifactManifest
        .latest(spark, s"$dir/buckets").get.generations.max
      val bandDirs = fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$dir/buckets/ingest=$g"))
        .map(_.getPath).filter(_.getName.startsWith("band="))
      assert(bandDirs.nonEmpty)
      val fileCounts = bandDirs.map(b => fs.globStatus(
        new org.apache.hadoop.fs.Path(s"$b/part-*")).length)
      assert(fileCounts.exists(_ > 1),
        s"no band flipped to multi-file: ${fileCounts.toSeq}")
      // within each band: files sorted, pairwise-disjoint bucket
      // ranges — the layout the pushed set-probes stay page-sized on
      bandDirs.foreach { b =>
        val ranges = fs.globStatus(
            new org.apache.hadoop.fs.Path(s"$b/part-*"))
          .map(_.getPath).flatMap { f =>
            val ks = spark.read.parquet(f.toString)
              .select("bucket").as[Long].collect()
            assert(ks.sameElements(ks.sorted), s"unsorted file $f")
            if (ks.isEmpty) None else Some((ks.min, ks.max))
          }.sortBy(_._1)
        ranges.sliding(2).foreach {
          case Array((_, hi), (lo2, _)) =>
            assert(hi < lo2,
              s"overlapping bucket slices in $b: ${ranges.toSeq}")
          case _ => ()
        }
      }
      // the range-laid index stays equivalent to a fresh full build
      val stored = DedupIndex.load(spark, dir).buckets
        .select("doc_id", "band", "bucket")
        .as[(Long, Long, Long)].collect().toSeq.sorted
      val fresh = DedupOps.lshBuckets(
          DedupOps.withMinHash(docs, "text", k), "doc_id", k, rpb)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(stored === fresh)
      // and probes through it are decision-identical (batch-run
      // contract over the grown corpus)
      val again = docs.filter(col("doc_id") >= 450)
        .withColumn("doc_id", col("doc_id") + 1000)
      val probed = DedupIndex.probe(DedupIndex.load(spark, dir),
          again, "text", "doc_id", pushTouched = true)
        .as[(Long, Long)].collect().toSeq.sorted
      val expected = DedupOps.lshCandidatePairs(
          DedupOps.lshBuckets(
            DedupOps.withMinHash(docs.unionByName(again), "text", k),
            "doc_id", k, rpb),
          "doc_id")
        .filter(col("a") >= 1000L || col("b") >= 1000L)
        .as[(Long, Long)].collect().toSeq.sorted
      assert(probed === expected)
    }
    // below the bar (the 512 MiB default): the sized call keeps the
    // proven single-file-per-band layout byte-for-byte
    withDir { dir =>
      DedupIndex.build(Tables.documents(spark, d)
          .filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      DedupIndex.append(spark, dir,
        Tables.documents(spark, d).filter(col("doc_id") >= splitId),
        "text", "doc_id", compactEvery = 2)
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val g = graft.operators.ArtifactManifest
        .latest(spark, s"$dir/buckets").get.generations.max
      fs.listStatus(
          new org.apache.hadoop.fs.Path(s"$dir/buckets/ingest=$g"))
        .map(_.getPath).filter(_.getName.startsWith("band="))
        .foreach { b =>
          assert(fs.globStatus(
            new org.apache.hadoop.fs.Path(s"$b/part-*")).length === 1,
            s"below-bar band $b not a single file")
        }
    }
  }

  test("streaming ingest gate: ordered micro-batches ≡ the batch gate") {
    val docs = Tables.documents(spark, d)
    withDir { root =>
      // start from a clean cache so the leak assertion below is about
      // THIS call, not whatever another suite left in the shared session
      spark.catalog.clearCache()
      // compactEvery = 2: the 3-batch replay accretes 4 generations,
      // so the gate's post-replay maintenance must collapse them
      val streamed = DedupIndex.streamIngestGate(spark, docs,
          "text", "doc_id", k, rpb, splitId, threshold = 0.5,
          nFiles = 3, root, compactEvery = 2)
        .as[(Long, Option[Long], Boolean)].collect().toSeq.sorted
      // the stream's final decisions equal the ONE-SHOT batch gate's
      // (d12) — the equivalence the oracle sharing relies on
      val batch = SparkEntry.queries("d12_ingest_gate")(spark, d)
        .as[(Long, Option[Long], Boolean)].collect().toSeq.sorted
      assert(streamed === batch)
      // the verification store serves the HASHED (injectivity-proved)
      // form — array<long>, 8x smaller than the raw 4-gram strings;
      // the streamed ≡ batch equality above IS the decisions gate for
      // it (the batch gate verifies over string grams)
      assert(spark.read.parquet(s"$root/grams").schema("grams")
        .dataType.asInstanceOf[org.apache.spark.sql.types.ArrayType]
        .elementType === org.apache.spark.sql.types.LongType)
      // real rejections happened, including at least one whose winner
      // was only reachable THROUGH the artifact (a base-corpus doc)
      assert(streamed.exists { case (_, dup, adm) =>
        !adm && dup.exists(_ < splitId) })
      // the stream genuinely ran as 3 micro-batches, in id order —
      // the monotone-arrival premise the gate documents
      val perBatch = spark.read.parquet(s"$root/decisions")
        .groupBy(col("batch"))
        .agg(min(col("doc_id")).as("lo"), max(col("doc_id")).as("hi"))
        .orderBy(col("batch"))
        .as[(Long, Long, Long)].collect().toSeq
      assert(perBatch.map(_._1) === Seq(0L, 1L, 2L))
      assert(perBatch.sliding(2).forall {
        case Seq((_, _, hi0), (_, lo1, _)) => hi0 < lo1
        case _ => true
      })
      // the per-batch persisted bucket frames were all released — a
      // library call must not leak cache
      assert(spark.sharedState.cacheManager.isEmpty)
      // post-replay maintenance collapsed the per-batch generations
      // (decisions above already proved the collapse changed nothing)
      assert(ingestDirs("index/buckets", root) === Seq("ingest=4"))

      // RECOVERY CONTRACT: re-invoking with the same inputs and root
      // (how a crashed stream resumes) must SKIP the build — a
      // rebuild would statically overwrite the bucket artifact,
      // destroying the committed batches' generations while the
      // checkpoint never replays them. Decisions and artifact state
      // must come through unchanged.
      val again = DedupIndex.streamIngestGate(spark, docs,
          "text", "doc_id", k, rpb, splitId, threshold = 0.5,
          nFiles = 3, root, compactEvery = 2)
        .as[(Long, Option[Long], Boolean)].collect().toSeq.sorted
      assert(again === streamed)
      assert(ingestDirs("index/buckets", root) === Seq("ingest=4"))
    }
  }

  test("every generation a streamed root appends carries the geometry " +
      "stamp (non-NULL k / rows_per_band), as build and append write it") {
    val docs = Tables.documents(spark, d)
    withDir { root =>
      // default compactEvery: the per-batch generations stay on disk
      DedupIndex.streamIngestGate(spark, docs, "text", "doc_id", k, rpb,
        splitId, threshold = 0.5, nFiles = 3, root).count()
      val gens = ingestDirs("index/buckets", root)
      assert(gens === Seq("ingest=0", "ingest=1", "ingest=2", "ingest=3"))
      for (g <- gens) {
        val rows = spark.read.parquet(s"$root/index/buckets/$g")
        assert(Seq("k", "rows_per_band").forall(rows.columns.contains),
          s"$g has no stamp columns")
        val stamps = rows.select("k", "rows_per_band").distinct()
          .as[(Option[Int], Option[Int])].collect().toSeq
        assert(stamps === Seq((Some(k), Some(rpb))), s"$g: $stamps")
      }
    }
  }

  test("the streaming gate holds the index's writer lease for its " +
      "whole run: with another holder on the root the stream refuses " +
      "at ENTRY with zero bytes staged, and a finished run releases") {
    import graft.operators.WriterLease
    val docs = Tables.documents(spark, d)
    withDir { root =>
      // the artifact's lease root is the SIBLING lock dir of
      // $root/index (leaseRoot's convention)
      val lockRoot = s"$root/index__lock"
      val lp = new org.apache.hadoop.fs.Path(s"$lockRoot/_lock/lease")
      val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val other = WriterLease.acquire(spark, lockRoot)
      val ex = intercept[IllegalStateException] {
        DedupIndex.streamIngestGate(spark, docs, "text", "doc_id",
          k, rpb, splitId, threshold = 0.5, nFiles = 3, root)
      }
      assert(ex.getMessage.contains("holds the lease"), ex.getMessage)
      // the loser staged NOTHING: no index, no arrivals, no decisions
      for (sub <- Seq("index/buckets", "arrivals", "decisions"))
        assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/$sub")),
          s"a refused stream staged $sub")
      WriterLease.release(spark, other)
      // with the root free the same invocation runs to completion —
      // and releases the lease behind it
      val out = DedupIndex.streamIngestGate(spark, docs, "text",
        "doc_id", k, rpb, splitId, threshold = 0.5, nFiles = 3, root)
      assert(out.count() > 0)
      assert(!fs.exists(lp), "a finished stream left its lease held")
    }
  }

  test("membership sketch: no false negative through build + append " +
      "+ delete (superset), pruned-then-exact ≡ exact, and the probe " +
      "filter runs in the scan stage — no exchange beneath it") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < 300L),
        "text", "doc_id", k, rpb, dir)
      DedupIndex.append(spark, dir,
        docs.filter(col("doc_id") >= 300L && col("doc_id") < splitId),
        "text", "doc_id")
      DedupIndex.delete(spark, dir, docs.select(col("doc_id"))
        .filter(pmod(col("doc_id"), lit(13L)) === 2L))
      val live = DedupIndex.load(spark, dir).buckets
        .select(col("doc_id")).distinct()
      val exact = docs.join(live, Seq("doc_id"), "left_semi")
        .select("doc_id").as[Long].collect().toSeq.sorted
      assert(exact.nonEmpty)
      val prunedFact = DedupIndex.memberPrune(spark, dir, docs, "doc_id")
      val joined = prunedFact.join(live, Seq("doc_id"), "left_semi")
      val pruned = joined.select("doc_id").as[Long]
        .collect().toSeq.sorted
      // the pruned serving is byte-identical to the exact join —
      // tombstoned ids the sketch still remembers (a bloom cannot
      // unlearn) die in it
      assert(pruned === exact)
      assert(!pruned.exists(_ % 13L == 2L))
      // no false negatives: every live-indexed id survives the probe
      // BEFORE the exact join
      val kept = prunedFact.select("doc_id").as[Long].collect().toSet
      val liveIds = live.as[Long].collect().toSeq
      assert(liveIds.forall(kept), "the sketch dropped a true member")
      // plan shape: the codegen'd probe filter sits in the scan
      // stage — between it and its scan there is NO exchange (the
      // whole point: rows drop before anything ships)
      val plan = joined.queryExecution.executedPlan.toString
      val lines = plan.linesIterator.toSeq
      val fi = lines.indexWhere(_.contains("bloom_might_contain"))
      assert(fi >= 0, plan)
      val below = lines.drop(fi + 1)
      val scanI = below.indexWhere(l =>
        l.contains("Scan parquet") || l.contains("FileScan"))
      assert(scanI >= 0, plan)
      assert(!below.take(scanI).exists(_.contains("Exchange")), plan)
    }
  }

  test("membership sketch hardening: a re-build replaces the sketch " +
      "(never a stale under-set), saves leave no staged sibling, " +
      "and non-integral ids serve unpruned instead of all-dropped") {
    val docs = Tables.documents(spark, d)
    val fs = new org.apache.hadoop.fs.Path("/")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < 200L),
        "text", "doc_id", k, rpb, dir)
      // DISJOINT re-build on the same dir (the documented recovery
      // path): the sketch must be the NEW corpus's — a stale one
      // would silently drop every re-built id at the probe
      val b = docs.filter(col("doc_id") >= 200L &&
        col("doc_id") < splitId)
      DedupIndex.build(b, "text", "doc_id", k, rpb, dir)
      val kept = DedupIndex.memberPrune(spark, dir, docs, "doc_id")
        .select("doc_id").as[Long].collect().toSet
      val bIds = b.select("doc_id").as[Long].collect().toSeq
      assert(bIds.forall(kept),
        "stale sketch dropped re-built corpus ids")
      // the tmp-and-rename save never leaves its tmp file behind
      DedupIndex.append(spark, dir,
        docs.filter(col("doc_id") >= splitId), "text", "doc_id")
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$dir/.members.state.tmp")))
      assert(fs.exists(
        new org.apache.hadoop.fs.Path(s"$dir/members.state")))
    }
    withDir { dir =>
      // refreshMembers re-sizes from the live ids: after a heavy
      // takedown the tightened sketch actually DROPS the tombstoned
      // ids (the stale superset kept them), while every live id still
      // survives and the exact-join composition is unchanged
      val docs2 = docs.filter(col("doc_id") < splitId)
      DedupIndex.build(docs2, "text", "doc_id", k, rpb, dir)
      DedupIndex.delete(spark, dir, docs2.select(col("doc_id"))
        .filter(col("doc_id") >= 100L))
      val live = DedupIndex.load(spark, dir).buckets
        .select(col("doc_id")).distinct()
      DedupIndex.refreshMembers(spark, dir, live, "doc_id")
      val kept2 = DedupIndex.memberPrune(spark, dir, docs, "doc_id")
        .select("doc_id").as[Long].collect().toSet
      val liveIds2 = live.as[Long].collect().toSeq
      assert(liveIds2.forall(kept2),
        "refresh dropped a live member")
      // tightened: far fewer survivors than the full doc set (the
      // pre-refresh superset remembered every sub-split id)
      assert(kept2.size < 200,
        s"refresh did not tighten the sketch (kept ${kept2.size})")
    }
    withDir { dir =>
      // string ids cannot cast faithfully to the sketch's long keys —
      // the artifact runs UNSKETCHED (no members file) and memberPrune
      // is the identity, never a silent all-drop
      val sdocs = Tables.documents(spark, d)
        .filter(col("doc_id") < 100L)
        .withColumn("doc_id", concat(lit("doc-"), col("doc_id")))
      DedupIndex.build(sdocs, "text", "doc_id", k, rpb, dir)
      assert(!fs.exists(
        new org.apache.hadoop.fs.Path(s"$dir/members.state")))
      assert(DedupIndex.memberPrune(spark, dir, sdocs, "doc_id")
        .count() === sdocs.count())
    }
  }

  test("buildOrLoad converges a build that crashed between the bucket " +
      "write and the params write (buckets-complete, geometry-missing)") {
    val docs = Tables.documents(spark, d)
    withDir { dir =>
      DedupIndex.build(docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      // the crash window: params gone, buckets committed — a
      // buckets-only completion check would skip the rebuild and
      // every later load would throw on the missing geometry forever
      val fs = new org.apache.hadoop.fs.Path("/")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(s"$dir/params.state"),
        false)
      val l = DedupIndex.buildOrLoad(
        docs.filter(col("doc_id") < splitId),
        "text", "doc_id", k, rpb, dir)
      assert((l.k, l.rowsPerBand) === ((k, rpb)))
      // the converged artifact serves the exact probe contract
      val probed = DedupIndex
        .probe(l, docs.filter(col("doc_id") >= splitId), "text",
          "doc_id")
        .as[(Long, Long)].collect().toSeq.sorted
      assert(probed === batchPairsTouching(splitId))
    }
  }

  test("refreshMembers restores the sized fpp after an append burst " +
      "past the build-time sizing (degraded, never wrong, then " +
      "re-sized)") {
    withDir { dir =>
      // synthetic corpus so the burst ratio is controlled: the sketch
      // is sized for the 1k-doc build; the append then ORs in 10x
      // more ids under the same geometry
      def docs(lo: Long, hi: Long) = spark.range(lo, hi).select(
        col("id").as("doc_id"),
        concat(lit("synthetic document number "), col("id"),
          lit(" with enough shared filler words to shingle cleanly"))
          .as("text"))
      DedupIndex.build(docs(0, 1000), "text", "doc_id", k, rpb, dir)
      // non-member probe ids, far from every real id
      val nProbes = 50000L
      def fpRate(): Double = DedupIndex.memberPrune(spark, dir,
        spark.range(10000000L, 10000000L + nProbes)
          .select(col("id").as("doc_id")), "doc_id")
        .count().toDouble / nProbes
      val sized = fpRate()
      assert(sized < 0.05, f"fresh sketch fp rate $sized%.4f")
      // 10x past the sizing: fpp degrades toward useless — but the
      // sketch stays a SUPERSET (degraded, never wrong)
      DedupIndex.append(spark, dir, docs(1000, 11000), "text",
        "doc_id")
      val degraded = fpRate()
      assert(degraded > 0.5,
        f"expected a saturated sketch after the burst, got " +
          f"$degraded%.4f")
      assert(DedupIndex.memberPrune(spark, dir,
          docs(0, 11000).select("doc_id"), "doc_id")
        .count() === 11000L, "a true member was dropped")
      // the explicit tightening pass re-sizes from the artifact's
      // CURRENT live ids: selectivity returns to the sized fpp
      DedupIndex.refreshMembers(spark, dir,
        DedupIndex.load(spark, dir).buckets.select("doc_id"),
        "doc_id")
      val restored = fpRate()
      assert(restored < 0.05,
        f"refreshMembers did not restore the sized fpp: " +
          f"$restored%.4f")
      assert(DedupIndex.memberPrune(spark, dir,
          docs(0, 11000).select("doc_id"), "doc_id")
        .count() === 11000L, "refresh dropped a true member")
    }
  }
}
