package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{CdcOps, PartitionedCdc, WriterLease}

/** The copy-on-write partitioned CDC contract: multi-batch partitioned
  * apply ≡ one-shot changelog apply, every retained version reads as
  * its prefix apply, unchurned buckets are never rewritten (their one
  * physical copy serves every version), retention reaps exactly the
  * unreferenced (ver, bucket) directories, and a replayed batch
  * converges.
  */
class PartitionedCdcSpec extends SparkSpec {
  import spark.implicits._

  private def fs = new HPath("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def withDir[A](f: String => A): A =
    withTempDir("graft-pcdc")(f)

  // range bucketing: 4 buckets of 25 keys — churn confined to one
  // bucket rewrites one bucket, the partitioned design's whole point
  private val bucketOf = floor(col("k") / 25).cast("long")

  private def base: DataFrame = (0L until 100L)
    .map(k => (k, k * 10, "base")).toDF("k", "v", "src")

  /** batch 1: re-value keys 0-9 (bucket 0), delete 20-24 (empties
    * nothing — bucket 0 keeps 0..19), insert 100-104 (NEW bucket 4).
    */
  private def log1: DataFrame = (
    (0L until 10L).map(k => (k, 1L, "U", k * 10 + 1, "cdc")) ++
    (20L until 25L).map(k => (k, 1L, "D", 0L, "cdc")) ++
    (100L until 105L).map(k => (k, 1L, "U", k * 10, "cdc"))
  ).toDF("k", "seq", "op", "v", "src")

  /** batch 2: touch bucket 1 (keys 30-34), and delete ALL of bucket 4
    * (keys 100-104) — an emptied bucket must leave the manifest.
    */
  private def log2: DataFrame = (
    (30L until 35L).map(k => (k, 2L, "U", k * 10 + 2, "cdc")) ++
    (100L until 105L).map(k => (k, 2L, "D", 0L, "cdc"))
  ).toDF("k", "seq", "op", "v", "src")

  private def kvRows(df: DataFrame): Seq[(Long, Long, String)] =
    df.select("k", "v", "src").as[(Long, Long, String)]
      .collect().toSeq.sorted

  private def expect(batches: DataFrame*): Seq[(Long, Long, String)] =
    kvRows(batches.foldLeft(base)((b, l) =>
      CdcOps.applyChangelog(b, l, Seq("k"), "seq", "op")))

  test("multi-batch partitioned apply ≡ one-shot apply; every " +
      "retained version reads as its prefix; churn-only writes") {
    withDir { root =>
      PartitionedCdc.init(base, bucketOf, root)
      PartitionedCdc.applyBatch(spark, root, log1, Seq("k"), "seq",
        "op", bucketOf, retainVersions = 10)
      PartitionedCdc.applyBatch(spark, root, log2, Seq("k"), "seq",
        "op", bucketOf, retainVersions = 10)
      assert(kvRows(PartitionedCdc.read(spark, root)) ===
        expect(log1, log2))
      assert(kvRows(PartitionedCdc.readVersion(spark, root, 1)) ===
        expect(log1))
      assert(kvRows(PartitionedCdc.readVersion(spark, root, 0)) ===
        kvRows(base))
      // ver=1 holds exactly batch 1's churned buckets (0 and the new
      // 4); buckets 1-3 were never rewritten for it
      def bucketsIn(v: Int): Set[String] =
        fs.listStatus(new HPath(s"$root/data/ver=$v")).toSeq
          .map(_.getPath.getName).filter(_.startsWith("bucket=")).toSet
      assert(bucketsIn(1) === Set("bucket=0", "bucket=4"))
      assert(bucketsIn(2) === Set("bucket=1"))
      // the manifest serves unchurned buckets from their ver=0 copy
      val m2 = PartitionedCdc.manifest(spark, root, 2)
      assert(m2.buckets === Map(0L -> 1, 1L -> 2, 2L -> 0, 3L -> 0))
      // bucket 4 emptied by batch 2: gone from the live map
    }
  }

  test("copy-on-write isolation: a reader pinned at any retained " +
      "version serves identical rows through later batches") {
    withDir { root =>
      PartitionedCdc.init(base, bucketOf, root)
      PartitionedCdc.applyBatch(spark, root, log1, Seq("k"), "seq",
        "op", bucketOf, retainVersions = 10)
      val pinned = PartitionedCdc.readVersion(spark, root, 1)
      val before = kvRows(pinned)
      PartitionedCdc.applyBatch(spark, root, log2, Seq("k"), "seq",
        "op", bucketOf, retainVersions = 10)
      assert(kvRows(pinned) === before)
      assert(before === expect(log1))
    }
  }

  test("retention reaps exactly the unreferenced (ver, bucket) " +
      "directories; the never-churned buckets' single copy survives") {
    withDir { root =>
      PartitionedCdc.init(base, bucketOf, root)
      // two batches churning bucket 0 only, retain 1: after v2, v0's
      // manifest is gone and v1's bucket-0 copy is unreferenced —
      // but ver=0's buckets 1-3 still serve every retained version
      def touch(seq: Long) = (0L until 5L)
        .map(k => (k, seq, "U", k + seq, "cdc"))
        .toDF("k", "seq", "op", "v", "src")
      PartitionedCdc.applyBatch(spark, root, touch(1), Seq("k"), "seq",
        "op", bucketOf, retainVersions = 1)
      PartitionedCdc.applyBatch(spark, root, touch(2), Seq("k"), "seq",
        "op", bucketOf, retainVersions = 1)
      assert(PartitionedCdc.listVersions(spark, root) === Seq(1, 2))
      // v0's manifest fell off: its bucket-0 copy (ver=0/bucket=0) is
      // referenced by no retained version and is reaped; ver=1's copy
      // still serves retained v1
      assert(!fs.exists(new HPath(s"$root/data/ver=0/bucket=0")))
      assert(fs.exists(new HPath(s"$root/data/ver=1/bucket=0")))
      // every retained version's every bucket remains readable
      for (v <- PartitionedCdc.listVersions(spark, root);
          (b, w) <- PartitionedCdc.manifest(spark, root, v).buckets)
        assert(fs.exists(new HPath(s"$root/data/ver=$w/bucket=$b")),
          s"version $v's bucket $b (served by ver=$w) was reaped")
      assert(kvRows(PartitionedCdc.read(spark, root)) ===
        expect(touch(1), touch(2)))
    }
  }

  test("a replayed batch converges: same inputs, same version, same " +
      "manifest, same rows") {
    withDir { root =>
      PartitionedCdc.init(base, bucketOf, root)
      PartitionedCdc.applyVersion(spark, root, log1, Seq("k"), "seq",
        "op", bucketOf, fromVersion = 0, retainVersions = 10)
      val m1 = PartitionedCdc.manifest(spark, root, 1)
      val r1 = kvRows(PartitionedCdc.readVersion(spark, root, 1))
      PartitionedCdc.applyVersion(spark, root, log1, Seq("k"), "seq",
        "op", bucketOf, fromVersion = 0, retainVersions = 10)
      assert(PartitionedCdc.manifest(spark, root, 1) === m1)
      assert(kvRows(PartitionedCdc.readVersion(spark, root, 1)) === r1)
      assert(PartitionedCdc.listVersions(spark, root) === Seq(0, 1))
    }
  }

  test("single-writer fence: two writers committing the same version " +
      "with different content — exactly one succeeds, loudly") {
    withDir { root =>
      PartitionedCdc.init(base, bucketOf, root)
      // writer A wins: commits version 1 from log1
      PartitionedCdc.applyVersion(spark, root, log1, Seq("k"), "seq",
        "op", bucketOf, fromVersion = 0, retainVersions = 10)
      // writer B also read version 0 and commits a DIFFERENT batch
      // (different churned buckets → different manifest content): the
      // fence must refuse instead of last-write-winning
      val e = intercept[IllegalArgumentException] {
        PartitionedCdc.applyVersion(spark, root, log2, Seq("k"), "seq",
          "op", bucketOf, fromVersion = 0, retainVersions = 10)
      }
      assert(e.getMessage.contains("second concurrent writer"))
      // the winner's manifest is untouched — version 1 still maps
      // exactly log1's churn (buckets 0 and the new 4)
      assert(PartitionedCdc.manifest(spark, root, 1).buckets ===
        Map(0L -> 1, 1L -> 0, 2L -> 0, 3L -> 0, 4L -> 1))
      // and the winner's DATA is untouched too — the loser staged its
      // bytes and deleted them on the refuse; no replay needed to
      // read version 1 correctly (the staged-publish contract)
      assert(kvRows(PartitionedCdc.readVersion(spark, root, 1)) ===
        expect(log1))
      // the loser's staging tree did not leak
      assert(!fs.listStatus(new HPath(s"$root/data")).exists(
        _.getPath.getName.startsWith(".staged-ver=")))
      // a faithful replay of the WINNING batch still converges
      PartitionedCdc.applyVersion(spark, root, log1, Seq("k"), "seq",
        "op", bucketOf, fromVersion = 0, retainVersions = 10)
      assert(kvRows(PartitionedCdc.readVersion(spark, root, 1)) ===
        expect(log1))
      assert(PartitionedCdc.listVersions(spark, root) === Seq(0, 1))
    }
  }

  test("fence under a REAL race: concurrent same-version commits — " +
      "exactly one distinct content wins, the loser refuses loudly, " +
      "identical content converges on both sides") {
    withDir { root =>
      import graft.operators.PartitionedCdc.{Manifest => M}
      for (iter <- 1 to 40) {
        val mA = M(iter, Map(0L -> iter))
        val mB = M(iter, Map(0L -> iter, 1L -> iter))
        val outcomes =
          new java.util.concurrent.ConcurrentLinkedQueue[
            Either[Throwable, Unit]]()
        val threads = Seq(mA, mB).map(m => new Thread(() =>
          outcomes.add(
            try { PartitionedCdc.commitManifest(spark, root, m)
              Right(()) }
            catch { case e: Throwable => Left(e) })))
        threads.foreach(_.start()); threads.foreach(_.join())
        val rs = outcomes.toArray(Array.empty[Either[Throwable, Unit]])
        assert(rs.count(_.isRight) === 1,
          s"iter $iter: expected exactly one winner, got $rs")
        val err = rs.collectFirst { case Left(e) => e }.get
        assert(err.getMessage.contains("second concurrent writer"),
          s"iter $iter: loser failed for the wrong reason: $err")
        // the committed manifest is EXACTLY one candidate, whole —
        // never an interleaved mix
        val got = PartitionedCdc.manifest(spark, root, iter)
        assert(got === mA || got === mB,
          s"iter $iter: committed manifest is neither candidate")
      }
      // identical content racing: BOTH converge, no error
      val same = M(1000, Map(0L -> 1000))
      val errs =
        new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = (1 to 2).map(_ => new Thread(() =>
        try PartitionedCdc.commitManifest(spark, root, same)
        catch { case e: Throwable => errs.add(e) }))
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(errs.isEmpty,
        s"identical-content race should converge on both sides: " +
          s"${errs.toArray.mkString(", ")}")
      assert(PartitionedCdc.manifest(spark, root, 1000) === same)
    }
  }

  test("maintained view: every version's aggregate equals the " +
      "recompute over that version's table; the agg chain prunes " +
      "with the manifests") {
    withDir { root =>
      def aggRows(df: DataFrame): Seq[(String, Long, Long)] =
        df.select("src", "v", "n").as[(String, Long, Long)]
          .collect().toSeq.sorted
      def recompute(v: Int): Seq[(String, Long, Long)] =
        aggRows(PartitionedCdc.readVersion(spark, root, v)
          .groupBy("src").agg(sum("v").as("v"),
            count(lit(1)).as("n")))
      PartitionedCdc.initMaintained(base, bucketOf, root,
        dims = Seq("src"), sumCols = Seq("v"))
      PartitionedCdc.maintainVersion(spark, root, log1, Seq("k"),
        "seq", "op", bucketOf, Seq("src"), Seq("v"), fromVersion = 0,
        retainVersions = 10)
      PartitionedCdc.maintainVersion(spark, root, log2, Seq("k"),
        "seq", "op", bucketOf, Seq("src"), Seq("v"), fromVersion = 1,
        retainVersions = 10)
      for (v <- 0 to 2)
        assert(aggRows(PartitionedCdc.readAggVersion(spark, root, v))
          === recompute(v), s"aggregate version $v diverged")
      // tighter retention on the next batch prunes BOTH chains
      PartitionedCdc.maintainVersion(spark, root,
        (50L until 55L).map(k => (k, 3L, "U", k, "cdc"))
          .toDF("k", "seq", "op", "v", "src"),
        Seq("k"), "seq", "op", bucketOf, Seq("src"), Seq("v"),
        fromVersion = 2, retainVersions = 1)
      assert(PartitionedCdc.listVersions(spark, root) === Seq(2, 3))
      assert(!fs.exists(new HPath(s"$root/agg/ver=0")))
      assert(!fs.exists(new HPath(s"$root/agg/ver=1")))
      assert(aggRows(PartitionedCdc.readAggVersion(spark, root, 3))
        === recompute(3))
    }
  }

  test("maintained view survives the retention floor at the DEFAULT " +
      "retainVersions = 2, and a replayed batch converges past it") {
    // the round-14 wedge: pruneVersions (which fires from version 2
    // at the default retention) reaped maintainVersion's still-pending
    // agg staging — every maintained root died on its second
    // maintenance batch and stayed wedged on replay. The oracle
    // queries masked it with retainVersions = 10; this spec holds the
    // DEFAULT.
    withDir { root =>
      def aggRows(df: DataFrame): Seq[(String, Long, Long)] =
        df.select("src", "v", "n").as[(String, Long, Long)]
          .collect().toSeq.sorted
      def recompute(v: Int): Seq[(String, Long, Long)] =
        aggRows(PartitionedCdc.readVersion(spark, root, v)
          .groupBy("src").agg(sum("v").as("v"), count(lit(1)).as("n")))
      def logN(seq: Long): DataFrame =
        (seq * 7 until seq * 7 + 5)
          .map(k => (k % 100, seq, "U", k * 10 + seq, s"b$seq"))
          .toDF("k", "seq", "op", "v", "src")
      PartitionedCdc.initMaintained(base, bucketOf, root,
        dims = Seq("src"), sumCols = Seq("v"))
      // four batches at the DEFAULT retention — the floor activates
      // at newest = 2 and fires on every later batch
      for (v <- 0 until 4)
        PartitionedCdc.maintainVersion(spark, root, logN(v + 1),
          Seq("k"), "seq", "op", bucketOf, Seq("src"), Seq("v"),
          fromVersion = v)
      assert(PartitionedCdc.listVersions(spark, root) === Seq(2, 3, 4))
      for (v <- 2 to 4)
        assert(aggRows(PartitionedCdc.readAggVersion(spark, root, v))
          === recompute(v), s"aggregate version $v diverged")
      // REPLAY the last batch (same fromVersion, same log): the
      // manifest commit converges, the agg publish no-ops against the
      // published agg/ver=4, and nothing is wedged
      PartitionedCdc.maintainVersion(spark, root, logN(4),
        Seq("k"), "seq", "op", bucketOf, Seq("src"), Seq("v"),
        fromVersion = 3)
      assert(PartitionedCdc.listVersions(spark, root) === Seq(2, 3, 4))
      assert(aggRows(PartitionedCdc.readAggVersion(spark, root, 4))
        === recompute(4), "replayed batch diverged the agg chain")
    }
  }

  test("staged-attempt reap is double-guarded: fresh stagings and " +
      "current-version stagings survive the prune; only stale " +
      "below-newest crashed attempts are collected") {
    withDir { root =>
      PartitionedCdc.initMaintained(base, bucketOf, root,
        dims = Seq("src"), sumCols = Seq("v"))
      PartitionedCdc.maintainVersion(spark, root, log1, Seq("k"),
        "seq", "op", bucketOf, Seq("src"), Seq("v"), fromVersion = 0,
        retainVersions = 10)
      // plant fake staged attempts; the next batch commits version 2
      // with retainVersions = 1, so its prune runs with newest = 2.
      // DATA tree: the double guard rules — only stale below-newest
      // attempts are collected, a fresh one survives. AGG tree: the
      // prune spares the in-flight/fresh entries the same way, but
      // once the batch's OWN agg publish lands, every staged agg at
      // or below the committed version is provably dead under the
      // single-writer contract and the end-of-batch reap collects it
      // (the final-version leak fix) — so no agg plant survives.
      val old = System.currentTimeMillis() - 7200000L // 2 h ago
      val plants = Seq(
        (s"$root/agg/.staged-ver=0000000000.crashed-old", old, false),
        (s"$root/agg/.staged-ver=0000000000.crashed-fresh", -1L, false),
        (s"$root/agg/.staged-ver=0000000002.crashed-same-ver", old,
          false),
        (s"$root/data/.staged-ver=0000000001.crashed-old", old, false),
        (s"$root/data/.staged-ver=0000000000.crashed-fresh", -1L, true))
      for ((p, mtime, _) <- plants) {
        fs.mkdirs(new HPath(p))
        if (mtime > 0) fs.setTimes(new HPath(p), mtime, -1)
      }
      PartitionedCdc.maintainVersion(spark, root, log2, Seq("k"),
        "seq", "op", bucketOf, Seq("src"), Seq("v"), fromVersion = 1,
        retainVersions = 1)
      for ((p, _, survives) <- plants)
        assert(fs.exists(new HPath(p)) === survives,
          s"$p: expected survives=$survives")
      // and the batch itself published: the real agg/ver=2 is live
      assert(fs.exists(new HPath(s"$root/agg/ver=2")))
    }
  }

  test("fenced-out maintain batch leaves the winner's table AND " +
      "aggregate untouched") {
    withDir { root =>
      def aggRows(df: DataFrame): Seq[(String, Long, Long)] =
        df.select("src", "v", "n").as[(String, Long, Long)]
          .collect().toSeq.sorted
      PartitionedCdc.initMaintained(base, bucketOf, root,
        dims = Seq("src"), sumCols = Seq("v"))
      PartitionedCdc.maintainVersion(spark, root, log1, Seq("k"),
        "seq", "op", bucketOf, Seq("src"), Seq("v"), fromVersion = 0,
        retainVersions = 10)
      val winnerAgg = aggRows(
        PartitionedCdc.readAggVersion(spark, root, 1))
      val winnerRows = kvRows(PartitionedCdc.readVersion(spark, root, 1))
      // a second writer that also read version 0 commits a DIFFERENT
      // batch: refused at the table commit, and its aggregate — which
      // would also differ — must not replace the winner's agg/ver=1
      val e = intercept[IllegalArgumentException] {
        PartitionedCdc.maintainVersion(spark, root, log2, Seq("k"),
          "seq", "op", bucketOf, Seq("src"), Seq("v"), fromVersion = 0,
          retainVersions = 10)
      }
      assert(e.getMessage.contains("second concurrent writer"))
      assert(aggRows(PartitionedCdc.readAggVersion(spark, root, 1))
        === winnerAgg)
      assert(kvRows(PartitionedCdc.readVersion(spark, root, 1))
        === winnerRows)
      // neither staging tree leaked
      assert(!fs.listStatus(new HPath(s"$root/data")).exists(
        _.getPath.getName.startsWith(".staged-ver=")))
      assert(!fs.listStatus(new HPath(s"$root/agg")).exists(
        _.getPath.getName.startsWith(".staged-ver=")))
    }
  }

  test("streaming maintained view ≡ the batch recompute") {
    withDir { root =>
      val log = log1.unionByName(log2)
      val got = PartitionedCdc.streamMaintain(spark, base, log,
        Seq("k"), "seq", "op", bucketOf, nFiles = 2,
        root = s"$root/m", dims = Seq("src"), sumCols = Seq("v"),
        retainVersions = 10)
      val expected = PartitionedCdc.readVersion(spark, s"$root/m", 2)
        .groupBy("src").agg(sum("v").as("v"), count(lit(1)).as("n"))
      val want = expected.select("src", "v", "n")
        .as[(String, Long, Long)].collect().toSeq.sorted
      assert(got.select("src", "v", "n").as[(String, Long, Long)]
        .collect().toSeq.sorted === want)
      // a quiet tick (empty changelog) on the advanced root serves
      // the SAME final aggregate — the old staged==0 check demanded
      // final version 0 and threw on any root past its seed
      val quiet = PartitionedCdc.streamMaintain(spark, base,
        log.where(lit(false)), Seq("k"), "seq", "op", bucketOf,
        nFiles = 2, root = s"$root/m", dims = Seq("src"),
        sumCols = Seq("v"), retainVersions = 10)
      assert(quiet.select("src", "v", "n").as[(String, Long, Long)]
        .collect().toSeq.sorted === want)
    }
  }

  test("streaming partitioned apply: a quiet tick then the real log " +
      "on one root — the quiet tick serves the seed, the real " +
      "arrivals still process, and a trailing quiet tick serves the " +
      "final state") {
    withDir { root =>
      val log = log1.unionByName(log2)
      val quiet = PartitionedCdc.streamApply(spark, base,
        log.where(lit(false)), Seq("k"), "seq", "op", bucketOf,
        nFiles = 2, root = s"$root/a", retainVersions = 10)
      assert(kvRows(quiet) === kvRows(base))
      val got = PartitionedCdc.streamApply(spark, base, log,
        Seq("k"), "seq", "op", bucketOf, nFiles = 2,
        root = s"$root/a", retainVersions = 10)
      assert(kvRows(got) === expect(log1, log2))
      val after = PartitionedCdc.streamApply(spark, base,
        log.where(lit(false)), Seq("k"), "seq", "op", bucketOf,
        nFiles = 2, root = s"$root/a", retainVersions = 10)
      assert(kvRows(after) === expect(log1, log2))
    }
  }

  test("a seed crash between the manifest commit and the data " +
      "publish is SELF-HEALING: the next stream run re-runs the " +
      "seed, converges the commit, and completes the publish") {
    withDir { root =>
      val r = s"$root/a"
      PartitionedCdc.init(base, bucketOf, r)
      // simulate the crash window: manifest v0 committed, serving
      // directory never published — a manifest-only seeded check
      // would skip the seed forever and every read of v0 would fail
      fs.delete(new HPath(s"$r/data/ver=0"), true)
      val got = PartitionedCdc.streamApply(spark, base,
        log1.unionByName(log2), Seq("k"), "seq", "op", bucketOf,
        nFiles = 2, root = r, retainVersions = 10)
      assert(kvRows(got) === expect(log1, log2))
      assert(fs.exists(new HPath(s"$r/data/ver=0")),
        "the re-run did not complete the seed publish")
    }
  }

  test("a maintain crash between the table commit and the agg " +
      "publish: the quiet tick serves the newest PUBLISHED " +
      "aggregate instead of throwing on the pending one") {
    withDir { root =>
      val r = s"$root/m"
      PartitionedCdc.initMaintained(base, bucketOf, r,
        dims = Seq("src"), sumCols = Seq("v"))
      PartitionedCdc.maintainVersion(spark, r, log1, Seq("k"),
        "seq", "op", bucketOf, Seq("src"), Seq("v"), fromVersion = 0,
        retainVersions = 10)
      // simulate the documented window: table manifest v1 committed
      // and published, agg/ver=1 never landed
      fs.delete(new HPath(s"$r/agg/ver=1"), true)
      val quiet = PartitionedCdc.streamMaintain(spark, base,
        log1.where(lit(false)), Seq("k"), "seq", "op", bucketOf,
        nFiles = 2, root = r, dims = Seq("src"), sumCols = Seq("v"),
        retainVersions = 10)
      val want = PartitionedCdc.readVersion(spark, r, 0)
        .groupBy("src").agg(sum("v").as("v"), count(lit(1)).as("n"))
        .select("src", "v", "n").as[(String, Long, Long)]
        .collect().toSeq.sorted
      assert(quiet.select("src", "v", "n").as[(String, Long, Long)]
        .collect().toSeq.sorted === want)
    }
  }

  test("plain apply on a MAINTAINED root is refused — advancing the " +
      "table alone would strand the view at a stale version") {
    withDir { root =>
      PartitionedCdc.initMaintained(base, bucketOf, root,
        dims = Seq("src"), sumCols = Seq("v"))
      val e = intercept[IllegalArgumentException] {
        PartitionedCdc.applyBatch(spark, root, log1, Seq("k"), "seq",
          "op", bucketOf, retainVersions = 10)
      }
      assert(e.getMessage.contains("maintainVersion"))
      // and a failed maintain batch leaves no orphan aggregate
      intercept[IllegalArgumentException] {
        PartitionedCdc.maintainVersion(spark, root, log1, Seq("k"),
          "seq", "op", bucketOf, Seq("src"), Seq("v"),
          fromVersion = 0, retainVersions = 0) // invalid retention
      }
      assert(!fs.exists(new HPath(s"$root/agg/ver=1")))
    }
  }

  test("rebucket: content-invariant layout flip — pinned readers " +
      "undisturbed, maintenance continues under the new expression") {
    withDir { root =>
      PartitionedCdc.initMaintained(base, bucketOf, root,
        dims = Seq("src"), sumCols = Seq("v"))
      PartitionedCdc.maintainVersion(spark, root, log1, Seq("k"),
        "seq", "op", bucketOf, Seq("src"), Seq("v"), fromVersion = 0,
        retainVersions = 10)
      val pinned = PartitionedCdc.readVersion(spark, root, 1)
      val before = kvRows(pinned)
      // the churn pattern "moved": re-bucket on a finer key range
      val newBucketOf = floor(col("k") / 10).cast("long")
      val v = PartitionedCdc.rebucket(spark, root, newBucketOf,
        retainVersions = 10)
      assert(v === 2)
      assert(kvRows(PartitionedCdc.read(spark, root)) === expect(log1))
      assert(kvRows(pinned) === before) // old layout untouched
      // every live bucket now serves from the rebucketed version
      assert(PartitionedCdc.manifest(spark, root, v).buckets.values
        .forall(_ === v))
      // maintenance picks up at the new version with the new expr
      PartitionedCdc.maintainVersion(spark, root, log2, Seq("k"),
        "seq", "op", newBucketOf, Seq("src"), Seq("v"),
        fromVersion = v, retainVersions = 10)
      assert(kvRows(PartitionedCdc.read(spark, root)) ===
        expect(log1, log2))
      val agg = PartitionedCdc.readAggVersion(spark, root, v + 1)
        .select("src", "v", "n").as[(String, Long, Long)]
        .collect().toSeq.sorted
      val rec = PartitionedCdc.read(spark, root).groupBy("src")
        .agg(sum("v").as("v"), count(lit(1)).as("n"))
        .select("src", "v", "n").as[(String, Long, Long)]
        .collect().toSeq.sorted
      assert(agg === rec)
    }
  }

  test("bucketSkew flags a degenerate layout; rebucket restores it") {
    withDir { root =>
      // all 100 keys land in bucket 0 under a too-coarse expression
      PartitionedCdc.init(base, floor(col("k") / 1000).cast("long"),
        root)
      assert(PartitionedCdc.bucketStats(spark, root).map(_._1) ===
        Seq(0L))
      // one bucket holds everything: skew = max/mean = 1 trivially
      // with a single bucket, so re-bucket and compare real spreads
      PartitionedCdc.rebucket(spark, root,
        floor(col("k") / 25).cast("long"), retainVersions = 10)
      val skewEven = PartitionedCdc.bucketSkew(spark, root)
      assert(PartitionedCdc.bucketStats(spark, root).size === 4)
      assert(skewEven < 2.0) // 4 near-equal range buckets
      // a lopsided expression: bucket 0 gets 3/4 of the keys
      PartitionedCdc.rebucket(spark, root,
        when(col("k") < 75, 0L).otherwise(1L), retainVersions = 10)
      assert(PartitionedCdc.bucketSkew(spark, root) > skewEven)
    }
  }

  test("snapshotDiff composes over COW versions: what a batch did " +
      "to the table, from two manifest-assembled reads") {
    withDir { root =>
      PartitionedCdc.init(base, bucketOf, root)
      PartitionedCdc.applyBatch(spark, root, log1, Seq("k"), "seq",
        "op", bucketOf, retainVersions = 10)
      val diff = CdcOps.snapshotDiff(
        PartitionedCdc.readVersion(spark, root, 0),
        PartitionedCdc.readVersion(spark, root, 1), Seq("k"))
      val classes = diff.select("k", "change")
        .as[(Long, String)].collect().toMap
      // log1: updates 0-9 ('C'), deletes 20-24 ('R'), inserts
      // 100-104 ('A') — and nothing else changed
      assert((0L until 10L).forall(classes.get(_).contains("C")))
      assert((20L until 25L).forall(classes.get(_).contains("R")))
      assert((100L until 105L).forall(classes.get(_).contains("A")))
      assert(classes.size === 20)
    }
  }

  test("sortCols: the churned-bucket rewrite doubles as re-cluster — " +
      "identical content, every written file sorted and range-disjoint " +
      "on the sort column") {
    withDir { root =>
      // v deliberately interleaved across k so an unsorted write would
      // NOT be ordered: v = (k * 48271) % 1000
      val b = (0L until 100L)
        .map(k => (k, (k * 48271) % 1000, "base")).toDF("k", "v", "src")
      PartitionedCdc.init(b, bucketOf, root, sortCols = Seq("v"))
      PartitionedCdc.applyBatch(spark, root, log1, Seq("k"), "seq",
        "op", bucketOf, retainVersions = 10, sortCols = Seq("v"))
      // content ≡ the unclustered apply (clustering is layout-only)
      assert(kvRows(PartitionedCdc.read(spark, root)) ===
        kvRows(CdcOps.applyChangelog(b, log1, Seq("k"), "seq", "op")))
      // every parquet file of every version: rows sorted on v, and
      // within a bucket the per-file [min, max] ranges are disjoint —
      // the row-group-narrowness slice scans skip on
      for (v <- PartitionedCdc.listVersions(spark, root)) {
        val dataDir = new HPath(s"$root/data/ver=$v")
        for (bDir <- fs.listStatus(dataDir)
              if bDir.getPath.getName.startsWith("bucket=")) {
          val ranges = fs.listStatus(bDir.getPath).toSeq
            .map(_.getPath.toString).filter(_.endsWith(".parquet"))
            .map { f =>
              val vs = spark.read.parquet(f)
                .select("v").as[Long].collect().toSeq
              assert(vs === vs.sorted,
                s"$f is not sorted on the sort column")
              (vs.min, vs.max)
            }.sortBy(_._1)
          for (Seq((_, hi), (lo, _)) <- ranges.sliding(2)
                if ranges.size >= 2)
            assert(hi <= lo,
              s"ver=$v ${bDir.getPath.getName}: file ranges overlap")
        }
      }
    }
  }

  test("diffVersions: equal to the full snapshot diff, reading ONLY " +
      "the buckets whose serving directory differs") {
    withDir { root =>
      PartitionedCdc.init(base, bucketOf, root)
      PartitionedCdc.applyBatch(spark, root, log1, Seq("k"), "seq",
        "op", bucketOf, retainVersions = 10)
      PartitionedCdc.applyBatch(spark, root, log2, Seq("k"), "seq",
        "op", bucketOf, retainVersions = 10)
      def classesOf(df: DataFrame): Map[Long, String] =
        df.select("k", "change").as[(Long, String)].collect().toMap
      // v0 → v1 (log1): full-diff equivalence
      val d01 = PartitionedCdc.diffVersions(spark, root, 0, 1, Seq("k"))
      assert(classesOf(d01) === classesOf(CdcOps.snapshotDiff(
        PartitionedCdc.readVersion(spark, root, 0),
        PartitionedCdc.readVersion(spark, root, 1), Seq("k"))))
      // pruning: v0/v1 share buckets 1-3 (log1 churned only bucket 0
      // and created bucket 4) — the diff plan must list files from
      // buckets 0 and 4 ONLY
      val touched = d01.inputFiles.toSeq
        .flatMap(_.split("/").find(_.startsWith("bucket="))).toSet
      assert(touched === Set("bucket=0", "bucket=4"))
      // v1 → v2 (log2: churned bucket 1, emptied bucket 4)
      val d12 = PartitionedCdc.diffVersions(spark, root, 1, 2, Seq("k"))
      assert(classesOf(d12) === classesOf(CdcOps.snapshotDiff(
        PartitionedCdc.readVersion(spark, root, 1),
        PartitionedCdc.readVersion(spark, root, 2), Seq("k"))))
      assert(d12.inputFiles.toSeq
        .flatMap(_.split("/").find(_.startsWith("bucket="))).toSet ===
        Set("bucket=1", "bucket=4"))
      // identical manifests: empty diff, zero files listed
      val d11 = PartitionedCdc.diffVersions(spark, root, 1, 1, Seq("k"))
      assert(d11.count() === 0L)
      assert(d11.inputFiles.isEmpty)
    }
  }

  test("seeded random apply/rebucket/retention schedule: every " +
      "retained version serves exactly its model content") {
    val rnd = new scala.util.Random(20260814L)
    withDir { root =>
      // driver-side model: key -> (value, src); one row per key per
      // batch, so latest-wins never ties and the model is exact
      var model = (0L until 60L).map(k => k -> (k * 10, "base")).toMap
      def modelDf = model.toSeq.map { case (k, (v, s)) => (k, v, s) }
        .toDF("k", "v", "src")
      def rows(m: Map[Long, (Long, String)]) =
        m.toSeq.map { case (k, (v, s)) => (k, v, s) }.sorted
      var bucketExpr = floor(col("k") / 20).cast("long")
      val retain = 3
      PartitionedCdc.init(modelDf, bucketExpr, root)
      var version = 0
      var snapshots = Map(0 -> model)
      var nextInsert = 1000L
      for (cycle <- 1 to 14) {
        if (rnd.nextInt(5) == 0) {
          // the churn pattern "moved": re-bucket on a fresh width
          bucketExpr = floor(col("k") / (5 + rnd.nextInt(30)))
            .cast("long")
          version = PartitionedCdc.rebucket(spark, root, bucketExpr,
            retainVersions = retain)
          snapshots += version -> model
        } else {
          val keys = model.keys.toSeq.sorted
          val dels = keys.filter(_ => rnd.nextInt(10) == 0).toSet
          val ups = keys.filterNot(dels)
            .filter(_ => rnd.nextInt(4) == 0)
            .map(k => k -> (model(k)._1 + 1, "cdc")).toMap
          val ins = (0 until rnd.nextInt(4)).map { _ =>
            val k = nextInsert; nextInsert += 1
            k -> (k, "cdc")
          }.toMap
          val batch =
            dels.toSeq.map(k => (k, 1L, "D", 0L, "x")) ++
              (ups ++ ins).toSeq.map { case (k, (v, s)) =>
                (k, 1L, "U", v, s) }
          if (batch.nonEmpty) {
            version = PartitionedCdc.applyBatch(spark, root,
              batch.toDF("k", "seq", "op", "v", "src"), Seq("k"),
              "seq", "op", bucketExpr, retainVersions = retain)
            model = model -- dels ++ ups ++ ins
            snapshots += version -> model
          }
        }
        // versions below the retention floor fell off with their files
        snapshots = snapshots.filter(_._1 >= version - retain)
        val retained = PartitionedCdc.listVersions(spark, root)
        assert(retained === snapshots.keys.toSeq.sorted,
          s"cycle $cycle: retained versions diverged from the model")
        for ((v, m) <- snapshots if m.nonEmpty)
          assert(kvRows(PartitionedCdc.readVersion(spark, root, v))
            === rows(m),
            s"cycle $cycle: version $v no longer serves its content")
        // bucket-pruned diff of two random retained versions ≡ the
        // model diff — held through rebuckets (fresh bucket namespace
        // → full-diff degradation) and retention churn alike
        if (retained.size >= 2) {
          val i = rnd.nextInt(retained.size - 1)
          val j = i + 1 + rnd.nextInt(retained.size - i - 1)
          val (a, b) = (retained(i), retained(j))
          val (ma, mb) = (snapshots(a), snapshots(b))
          if (ma.nonEmpty || mb.nonEmpty) {
            val expectDiff = (ma.keySet ++ mb.keySet).flatMap { k =>
              (ma.get(k), mb.get(k)) match {
                case (None, Some(_)) => Some(k -> "A")
                case (Some(_), None) => Some(k -> "R")
                case (Some(x), Some(y)) if x != y => Some(k -> "C")
                case _ => None
              }
            }.toMap
            val got = PartitionedCdc
              .diffVersions(spark, root, a, b, Seq("k"))
              .select("k", "change").as[(Long, String)]
              .collect().toMap
            assert(got === expectDiff,
              s"cycle $cycle: diffVersions($a, $b) diverged from " +
                "the model diff")
          }
        }
      }
    }
  }

  test("streaming partitioned apply ≡ the batch composition " +
      "(with the clustered-rewrite opt-in threaded through)") {
    withDir { root =>
      val log = log1.unionByName(log2)
      val got = PartitionedCdc.streamApply(spark, base, log,
        Seq("k"), "seq", "op", bucketOf, nFiles = 2,
        root = s"$root/s", retainVersions = 10, sortCols = Seq("v"))
      assert(kvRows(got) === expect(log1, log2))
      assert(PartitionedCdc.listVersions(spark, s"$root/s") ===
        Seq(0, 1, 2))
      // the pass-through really clustered: every file of the final
      // version's churned buckets is sorted on v
      val m = PartitionedCdc.manifest(spark, s"$root/s", 2)
      for ((b, w) <- m.buckets;
          f <- fs.listStatus(new HPath(s"$root/s/data/ver=$w/bucket=$b"))
            .toSeq.map(_.getPath.toString).filter(_.endsWith(".parquet"))) {
        val vs = spark.read.parquet(f).select("v").as[Long]
          .collect().toSeq
        assert(vs === vs.sorted, s"$f is not sorted on the sort column")
      }
    }
  }

  private def leaseFile(root: String) = new HPath(s"$root/_lock/lease")

  test("quiet tick on a retention-floor chain MID-REPLAY: the " +
      "committed prefix serves, the resumed replay completes, and a " +
      "chain over-pruned to a single version still serves") {
    withDir { dirRoot =>
      val r = s"$dirRoot/a"
      val log3 = (40L until 45L)
        .map(k => (k, 3L, "U", k * 10 + 3, "cdc"))
        .toDF("k", "seq", "op", "v", "src")
      val log = log1.unionByName(log2).unionByName(log3)
      // poison: a foreign version-3 manifest pre-committed, so the
      // THIRD micro-batch dies at the fence — a genuine mid-replay
      // crash with batches 1-2 committed and retention (the hardest
      // legal floor, retainVersions = 1) already pruning behind them
      PartitionedCdc.commitManifest(spark, r,
        PartitionedCdc.Manifest(3, Map(99L -> 3)))
      def msgs(t: Throwable): Seq[String] =
        if (t == null) Seq.empty
        else Option(t.getMessage).toSeq ++ msgs(t.getCause)
      val e = intercept[Exception] {
        PartitionedCdc.streamApply(spark, base, log, Seq("k"), "seq",
          "op", bucketOf, nFiles = 3, root = r, retainVersions = 1)
      }
      assert(msgs(e).exists(_.contains("second concurrent writer")),
        e.toString)
      // the crash released the writer lease (no wedge) and committed
      // exactly the prefix
      assert(!fs.exists(leaseFile(r)))
      assert(PartitionedCdc.listVersions(spark, r) === Seq(1, 2, 3))
      // the operator resolves the conflict by removing the foreign
      // manifest; the chain is now {1, 2} — mid-replay, at the floor
      fs.delete(new HPath(s"$r/_versions/v0000000003.json"), false)
      // QUIET TICK mid-replay: staged == 0 serves the newest
      // COMMITTED version — the prefix state, never a throw on the
      // pruned-below-floor history
      val quiet = PartitionedCdc.streamApply(spark, base,
        log.where(lit(false)), Seq("k"), "seq", "op", bucketOf,
        nFiles = 3, root = r, retainVersions = 1)
      assert(kvRows(quiet) === expect(log1, log2))
      // DATA TICK: the same log resumes from the checkpoint — only
      // the crashed batch replays, the chain completes and serves
      val fin = PartitionedCdc.streamApply(spark, base, log,
        Seq("k"), "seq", "op", bucketOf, nFiles = 3, root = r,
        retainVersions = 1)
      assert(kvRows(fin) === expect(log1, log2, log3))
      assert(PartitionedCdc.listVersions(spark, r) === Seq(2, 3))
      // ENTIRE chain pruned to a single version (an external
      // lifecycle rule outran our retention): the quiet tick still
      // serves vs.last — the single survivor references every bucket
      // directory it needs by construction
      fs.delete(new HPath(s"$r/_versions/v0000000002.json"), false)
      assert(PartitionedCdc.listVersions(spark, r) === Seq(3))
      val after = PartitionedCdc.streamApply(spark, base,
        log.where(lit(false)), Seq("k"), "seq", "op", bucketOf,
        nFiles = 3, root = r, retainVersions = 1)
      assert(kvRows(after) === expect(log1, log2, log3))
    }
  }

  test("writer lease: a held lease refuses a second writer at ENTRY — " +
      "before it touches data/ — and is released on completion") {
    withDir { root =>
      PartitionedCdc.init(base, bucketOf, root)
      // every completed mutator releases its lease
      assert(!fs.exists(leaseFile(root)))
      // writer A mid-flight (holds the lease, fresh heartbeat)
      val lease = WriterLease.acquire(spark, root)
      val dataBefore = fs.listStatus(new HPath(s"$root/data"))
        .map(_.getPath.getName).toSet
      val e = intercept[IllegalStateException] {
        PartitionedCdc.applyVersion(spark, root, log1, Seq("k"), "seq",
          "op", bucketOf, fromVersion = 0, retainVersions = 10)
      }
      assert(e.getMessage.contains("holds the lease"), e.getMessage)
      // the loser failed BEFORE staging a single byte — the data tree
      // is untouched (the commit-time fence alone only refused AFTER
      // a full staged rewrite) and no version advanced
      assert(fs.listStatus(new HPath(s"$root/data"))
        .map(_.getPath.getName).toSet === dataBefore)
      assert(PartitionedCdc.listVersions(spark, root) === Seq(0))
      WriterLease.release(spark, lease)
      // once released, the same batch applies cleanly
      PartitionedCdc.applyVersion(spark, root, log1, Seq("k"), "seq",
        "op", bucketOf, fromVersion = 0, retainVersions = 10)
      assert(kvRows(PartitionedCdc.readVersion(spark, root, 1)) ===
        expect(log1))
      assert(!fs.exists(leaseFile(root)))
    }
  }

  test("writer lease: stolen past the staleness horizon — a crashed " +
      "writer cannot wedge the root, and replay converges through " +
      "a fresh lease") {
    withDir { root =>
      PartitionedCdc.init(base, bucketOf, root)
      // a crashed writer: acquired, never released, heartbeat dead
      WriterLease.acquire(spark, root)
      assert(fs.exists(leaseFile(root)))
      // age the heartbeat past the default 15-minute horizon
      fs.setTimes(leaseFile(root),
        System.currentTimeMillis() - 7200000L, -1)
      // the next writer steals the stale lease and proceeds
      PartitionedCdc.applyVersion(spark, root, log1, Seq("k"), "seq",
        "op", bucketOf, fromVersion = 0, retainVersions = 10)
      assert(kvRows(PartitionedCdc.readVersion(spark, root, 1)) ===
        expect(log1))
      // a faithful replay of the same batch still converges (fresh
      // acquire → identical content → commit converges → release)
      PartitionedCdc.applyVersion(spark, root, log1, Seq("k"), "seq",
        "op", bucketOf, fromVersion = 0, retainVersions = 10)
      assert(PartitionedCdc.listVersions(spark, root) === Seq(0, 1))
      assert(!fs.exists(leaseFile(root)))
    }
  }

  test("writer lease: released even when the batch FAILS — a fenced " +
      "second-writer refusal must not wedge later writers") {
    withDir { root =>
      PartitionedCdc.init(base, bucketOf, root)
      PartitionedCdc.applyVersion(spark, root, log1, Seq("k"), "seq",
        "op", bucketOf, fromVersion = 0, retainVersions = 10)
      // a sequential second writer that also read version 0: passes
      // the lease (nobody holds it) and dies at the commit fence —
      // the lease must still release in its finally
      intercept[IllegalArgumentException] {
        PartitionedCdc.applyVersion(spark, root, log2, Seq("k"), "seq",
          "op", bucketOf, fromVersion = 0, retainVersions = 10)
      }
      assert(!fs.exists(leaseFile(root)))
      // and the root still advances normally afterwards
      PartitionedCdc.applyVersion(spark, root, log2, Seq("k"), "seq",
        "op", bucketOf, fromVersion = 1, retainVersions = 10)
      assert(kvRows(PartitionedCdc.readVersion(spark, root, 2)) ===
        expect(log1, log2))
    }
  }

  test("writer lease under a REAL race: two concurrent writers from " +
      "the same version — exactly one advances, nothing leaks") {
    withDir { base_root =>
      for (iter <- 1 to 8) {
        val root = s"$base_root/r$iter"
        PartitionedCdc.init(base, bucketOf, root)
        val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[
          Either[Throwable, Int]]()
        val ts = Seq(log1, log2).map(l => new Thread(() =>
          outcomes.add(
            try Right(PartitionedCdc.applyVersion(spark, root, l,
              Seq("k"), "seq", "op", bucketOf, fromVersion = 0,
              retainVersions = 10))
            catch { case e: Throwable => Left(e) })))
        ts.foreach(_.start()); ts.foreach(_.join())
        val rs = outcomes.toArray(
          Array.empty[Either[Throwable, Int]]).toSeq
        assert(rs.count(_.isRight) === 1,
          s"iter $iter: expected exactly one winner, got $rs")
        // the loser refused either at the lease (concurrent overlap,
        // nothing staged) or at the commit fence (sequential
        // scheduling, staging self-deleted) — no third failure mode
        val err = rs.collectFirst { case Left(e) => e }.get
        assert(err.getMessage.contains("holds the lease") ||
          err.getMessage.contains("second concurrent writer") ||
          err.getMessage.contains("was taken over"),
          s"iter $iter: loser failed for the wrong reason: $err")
        // version 1 is EXACTLY one writer's batch, whole
        val got = kvRows(PartitionedCdc.readVersion(spark, root, 1))
        assert(got === expect(log1) || got === expect(log2),
          s"iter $iter: version 1 is neither writer's batch")
        // no staging leak, no lease leak
        assert(!fs.listStatus(new HPath(s"$root/data")).exists(
          _.getPath.getName.startsWith(".staged-ver=")))
        assert(!fs.exists(leaseFile(root)))
      }
    }
  }
}
