package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.ArtifactManifest

/** The manifest contract that makes index-artifact maintenance safe
  * for concurrent READERS (single writer): version-pinned reads,
  * write-new-generation → flip-manifest-last compaction, orphan
  * invisibility, vacuum reaping only unlisted generations, legacy
  * adoption, replay-idempotent appends. These are the properties
  * `ArtifactManifest.scala`'s scaladoc claims as spec-held — this is
  * the spec.
  */
class ArtifactManifestSpec extends SparkSpec {
  import spark.implicits._

  /** Rows of one generation: (id, part, payload). */
  private def gen(ids: Range): DataFrame =
    ids.map(i => (i.toLong, (i % 3).toLong, s"p$i"))
      .toDF("id", "part", "payload")

  /** Write `ids` as generation `g` of the artifact at `dir`
    * (partitioned by `part` inside the generation directory, exactly
    * the index artifacts' layout).
    */
  private def writeGen(dir: String, g: Long, ids: Range): Unit =
    gen(ids).write.mode("overwrite").partitionBy("part")
      .parquet(s"$dir/ingest=$g")

  private def idsOf(df: DataFrame): Seq[Long] =
    df.select("id").as[Long].collect().toSeq.sorted

  private def fs = new HPath("/").getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  private def withDir[A](f: String => A): A =
    withTempDir("graft-manifest-spec")(f)

  /** Build a two-generation committed artifact: gen 0 = ids 0..9,
    * gen 1 = ids 10..14.
    */
  private def buildTwoGen(dir: String): Unit = {
    writeGen(dir, 0, 0 until 10)
    ArtifactManifest.recordBuild(spark, dir)
    writeGen(dir, 1, 10 until 15)
    ArtifactManifest.recordAppend(spark, dir, 1)
  }

  test("range-file compaction: files of one partition cover DISJOINT " +
      "sorted key slices (hash packing scatters each file across the " +
      "full key space), rows identical, page skipping stays per-key") {
    withDir { dir =>
      // one partition value, many keys — the shape where a partition
      // outgrows one file and the file-split strategy decides whether
      // pushed set-probes keep skipping
      val rows = spark.range(0, 30000)
        .select(col("id"), lit(0L).as("part"),
          (col("id") * 2654435761L).as("key"))
      rows.write.mode("overwrite").partitionBy("part")
        .parquet(s"$dir/ingest=0")
      ArtifactManifest.recordBuild(spark, dir)
      ArtifactManifest.compactGenerations(spark, dir, "part",
        filesPerPartition = 4, sortWithin = Seq("key"),
        rangeFiles = true)
      val g = ArtifactManifest.latest(spark, dir).get.generations.max
      val files = fs.globStatus(
        new HPath(s"$dir/ingest=$g/part=0/part-*")).map(_.getPath)
      assert(files.length >= 2, s"expected a multi-file partition, " +
        s"got ${files.length}")
      // per-file key ranges are sorted and pairwise disjoint
      val ranges = files.map { f =>
        val ks = spark.read.parquet(f.toString)
          .select("key").as[Long].collect()
        assert(ks.sameElements(ks.sorted), s"unsorted file $f")
        (ks.min, ks.max)
      }.sortBy(_._1)
      ranges.sliding(2).foreach {
        case Array((_, hi), (lo2, _)) =>
          assert(hi < lo2, s"overlapping file ranges: $ranges")
        case _ => ()
      }
      // nothing lost or duplicated by the range rewrite
      assert(ArtifactManifest.frame(spark, dir)
        .select("key").as[Long].collect().sorted.toSeq ===
        rows.select("key").as[Long].collect().sorted.toSeq)
    }
  }

  test("pre-flip reader serves identical rows through " +
      "compactGenerations(vacuum = false); old files survive until " +
      "vacuum") {
    withDir { dir =>
      buildTwoGen(dir)
      val expected = (0L until 15L).toSeq
      // reader pinned BEFORE the flip: its lazy plan names the old
      // generation directories explicitly
      val pre = ArtifactManifest.frame(spark, dir)
      val preGens = ArtifactManifest.latest(spark, dir).get.generations
      assert(preGens.sorted === Seq(0L, 1L))

      val newGen = ArtifactManifest.compactGenerations(
        spark, dir, "part", vacuum = false)
      assert(newGen === 2L)
      // the pre-flip reader still serves its pinned set, byte-complete
      // (its files were never touched; vacuum was deferred)
      assert(idsOf(pre) === expected)
      assert(fs.exists(new HPath(s"$dir/ingest=0")))
      assert(fs.exists(new HPath(s"$dir/ingest=1")))
      // a post-flip reader serves the collapsed generation — same rows
      val post = ArtifactManifest.frame(spark, dir)
      assert(idsOf(post) === expected)
      assert(post.select("ingest").distinct().as[Long].collect()
        .toSeq === Seq(2L))

      ArtifactManifest.vacuum(spark, dir)
      assert(!fs.exists(new HPath(s"$dir/ingest=0")))
      assert(!fs.exists(new HPath(s"$dir/ingest=1")))
      assert(idsOf(ArtifactManifest.frame(spark, dir)) === expected)
    }
  }

  test("a crashed append's uncommitted generation is invisible, " +
      "never compacted in, never overwritten, and reaped by vacuum") {
    withDir { dir =>
      buildTwoGen(dir)
      // simulate a crashed append: the generation directory exists
      // but recordAppend never ran
      writeGen(dir, 99, 100 until 105)
      val committed = (0L until 15L).toSeq
      assert(idsOf(ArtifactManifest.frame(spark, dir)) === committed)

      val newGen = ArtifactManifest.compactGenerations(
        spark, dir, "part", vacuum = false)
      // numbering takes the LISTING max, so the orphan is never
      // overwritten by the compacted generation
      assert(newGen === 100L)
      assert(idsOf(ArtifactManifest.frame(spark, dir)) === committed)
      assert(fs.exists(new HPath(s"$dir/ingest=99")))

      ArtifactManifest.vacuum(spark, dir)
      assert(!fs.exists(new HPath(s"$dir/ingest=99")))
      assert(!fs.exists(new HPath(s"$dir/ingest=0")))
      assert(idsOf(ArtifactManifest.frame(spark, dir)) === committed)
    }
  }

  test("refreshAfterDelete drops emptied generations but never " +
      "resurrects orphans") {
    withDir { dir =>
      buildTwoGen(dir)
      writeGen(dir, 99, 100 until 105) // orphan
      // a takedown emptied generation 1 wholesale (what
      // deleteKeysPartitioned does when every row tombstones)
      fs.delete(new HPath(s"$dir/ingest=1"), true)
      ArtifactManifest.refreshAfterDelete(spark, dir)
      val p = ArtifactManifest.latest(spark, dir).get
      assert(p.generations === Seq(0L)) // dropped 1, did NOT adopt 99
      assert(idsOf(ArtifactManifest.frame(spark, dir)) ===
        (0L until 10L).toSeq)
    }
  }

  test("a manifest whose live set is EMPTY serves zero rows — never " +
      "the raw listing") {
    withDir { dir =>
      buildTwoGen(dir)
      writeGen(dir, 99, 100 until 105) // orphan
      fs.delete(new HPath(s"$dir/ingest=0"), true)
      fs.delete(new HPath(s"$dir/ingest=1"), true)
      ArtifactManifest.refreshAfterDelete(spark, dir)
      assert(ArtifactManifest.latest(spark, dir).get.generations
        .isEmpty)
      // the orphan's rows are on disk under the artifact root, but a
      // committed-empty artifact must not serve them
      assert(ArtifactManifest.frame(spark, dir).count() === 0L)
      ArtifactManifest.vacuum(spark, dir)
      assert(!fs.exists(new HPath(s"$dir/ingest=99")))
    }
  }

  test("the stored schema tracks additive evolution — a later " +
      "committed-empty artifact serves the evolved shape") {
    withDir { dir =>
      writeGen(dir, 0, 0 until 10)
      ArtifactManifest.recordBuild(spark, dir)
      // generation 1 arrives with an ADDITIVE column (the DedupIndex
      // geometry-stamp scenario: stamped appends landing on a
      // pre-stamp artifact)
      gen(10 until 20).withColumn("stamp", lit(7))
        .write.mode("overwrite").partitionBy("part")
        .parquet(s"$dir/ingest=1")
      ArtifactManifest.recordAppend(spark, dir, 1L)
      // total takedown: the committed-empty frame must serve the
      // EVOLVED schema (inferred from the newest generation at the
      // append commit), not a pre-evolution schema frozen by
      // carry-forward
      fs.delete(new HPath(s"$dir/ingest=0"), true)
      fs.delete(new HPath(s"$dir/ingest=1"), true)
      ArtifactManifest.refreshAfterDelete(spark, dir)
      val f = ArtifactManifest.frame(spark, dir)
      assert(f.count() === 0L)
      assert(f.columns.contains("stamp"))
    }
  }

  test("a NARROW append after additive evolution does not regress " +
      "the stored schema — the merge keeps the evolved fields") {
    withDir { dir =>
      writeGen(dir, 0, 0 until 10)
      ArtifactManifest.recordBuild(spark, dir)
      gen(10 until 20).withColumn("stamp", lit(7))
        .write.mode("overwrite").partitionBy("part")
        .parquet(s"$dir/ingest=1")
      ArtifactManifest.recordAppend(spark, dir, 1L)
      // an OLD pre-evolution writer appends a stamp-less generation:
      // its commit's newest-generation schema is NARROWER than the
      // stored pin — replacement (the pre-merge behavior) would
      // silently drop `stamp` from the stored shape
      writeGen(dir, 2, 20 until 25)
      ArtifactManifest.recordAppend(spark, dir, 2L)
      for (g <- 0 to 2)
        fs.delete(new HPath(s"$dir/ingest=$g"), true)
      ArtifactManifest.refreshAfterDelete(spark, dir)
      val f = ArtifactManifest.frame(spark, dir)
      assert(f.count() === 0L)
      assert(f.columns.contains("stamp"),
        "the narrow append regressed the stored schema")
    }
  }

  test("a REBUILD's schema replaces the pin — a column the rebuild " +
      "dropped does not haunt later committed-empty serving") {
    withDir { dir =>
      import graft.operators.ArtifactManifest
      val wide = spark.range(0, 20).select(col("id").as("k"),
        col("id").as("payload"), lit(7).as("stale"))
      ArtifactManifest.clusterBuild(wide, dir, Seq("k"), 2)
      // the pipeline drops `stale` and rebuilds in place — the pin
      // must shrink with it (append-side narrow writers still merge:
      // the NARROW-append test above)
      val narrow = spark.range(0, 20).select(col("id").as("k"),
        col("id").as("payload"))
      ArtifactManifest.clusterBuild(narrow, dir, Seq("k"), 2)
      val gen = ArtifactManifest.latest(spark, dir).get.generations.max
      fs.delete(new HPath(s"$dir/ingest=$gen"), true)
      ArtifactManifest.refreshAfterDelete(spark, dir)
      val f = ArtifactManifest.frame(spark, dir)
      assert(f.count() === 0L)
      assert(!f.columns.contains("stale"),
        "the rebuild-dropped column survived in the stored schema")
      assert(f.columns.contains("payload"))
    }
  }

  test("manifest pruning keeps 5 versions and latest still resolves") {
    withDir { dir =>
      writeGen(dir, 0, 0 until 5)
      ArtifactManifest.recordBuild(spark, dir)
      for (g <- 1L to 7L) {
        writeGen(dir, g, (10 * g.toInt) until (10 * g.toInt + 3))
        ArtifactManifest.recordAppend(spark, dir, g)
      }
      val names = fs.listStatus(new HPath(s"$dir/_manifests"))
        .map(_.getPath.getName)
        .filter(n => n.startsWith("manifest-") && n.endsWith(".json"))
      assert(names.length === 5) // versions 3..7 survive, 0..2 pruned
      val p = ArtifactManifest.latest(spark, dir).get
      assert(p.version === 7L)
      assert(p.generations.sorted === (0L to 7L))
      // committed versions are CREATE-NEW, never rewritten: the
      // penultimate version's bytes are what its commit wrote
      assert(names.map(_.stripPrefix("manifest-").stripSuffix(".json")
        .toLong).sorted === (3L to 7L))
    }
  }

  test("legacy no-manifest artifact: raw read until the first append " +
      "adopts the listing") {
    withDir { dir =>
      writeGen(dir, 0, 0 until 10)
      writeGen(dir, 1, 10 until 15)
      assert(ArtifactManifest.latest(spark, dir).isEmpty)
      // frame without a manifest = plain directory read
      assert(idsOf(ArtifactManifest.frame(spark, dir)) ===
        (0L until 15L).toSeq)
      writeGen(dir, 2, 20 until 23)
      ArtifactManifest.recordAppend(spark, dir, 2)
      val p = ArtifactManifest.latest(spark, dir).get
      assert(p.generations.sorted === Seq(0L, 1L, 2L))
      assert(p.version === 0L)
    }
  }

  test("recordAppend is replay-idempotent: a replayed batch changes " +
      "neither version nor signature") {
    withDir { dir =>
      buildTwoGen(dir)
      val before = ArtifactManifest.latest(spark, dir).get
      ArtifactManifest.recordAppend(spark, dir, 1) // replay of gen 1
      val after = ArtifactManifest.latest(spark, dir).get
      assert(after === before)
    }
  }

  test("a replayed append whose rewrite DIVERGED from the committed " +
      "content fails loudly instead of no-opping") {
    withDir { dir =>
      buildTwoGen(dir)
      // a re-run that overwrote gen 1 with DIFFERENT content (the
      // clusterAppend path writes mode-overwrite before recordAppend)
      writeGen(dir, 1, 10 until 20)
      val e = intercept[IllegalArgumentException] {
        ArtifactManifest.recordAppend(spark, dir, 1)
      }
      assert(e.getMessage.contains("diverged"))
    }
  }

  test("a FAITHFUL replay that rewrote identical rows under fresh " +
      "task-attempt file names stays a no-op — the digest keys on " +
      "layout and sizes, not names") {
    withDir { dir =>
      buildTwoGen(dir)
      val before = ArtifactManifest.latest(spark, dir).get
      writeGen(dir, 1, 10 until 15) // same rows, new part-file names
      ArtifactManifest.recordAppend(spark, dir, 1)
      assert(ArtifactManifest.latest(spark, dir).get === before)
    }
  }

  test("a zero-row append (no ingest= directory written) is a no-op " +
      "— an absent path is never pinned") {
    withDir { dir =>
      buildTwoGen(dir)
      val before = ArtifactManifest.latest(spark, dir).get
      // a dynamic-partition write with no rows creates no directory,
      // but the ingest path still calls recordAppend
      ArtifactManifest.recordAppend(spark, dir, 2)
      assert(ArtifactManifest.latest(spark, dir).get === before)
      // the read path would throw on a pinned-but-absent directory
      assert(idsOf(ArtifactManifest.frame(spark, dir)) ===
        (0L until 15L).toSeq)
    }
  }

  test("a trailing-slash artifact path compacts in place (the staging " +
      "sibling must never become a child of the live tree)") {
    withDir { dir =>
      buildTwoGen(dir)
      val expected = (0L until 15L).toSeq
      val kept = ArtifactManifest.compactGenerations(spark, dir + "/",
        "part")
      assert(idsOf(ArtifactManifest.frame(spark, dir)) === expected)
      assert(ArtifactManifest.latest(spark, dir).get.generations ===
        Seq(kept))
      // the new generation and the manifest land inside the artifact,
      // and nothing is staged beside or under it
      assert(fs.listStatus(new HPath(dir)).map(_.getPath.getName).toSet
        === Set(s"ingest=$kept", "_manifests"))
      assert(!fs.exists(new HPath(dir + "__compact")))
    }
  }

  test("compacting a committed-empty artifact fails loudly instead " +
      "of pinning a file-less generation") {
    withDir { dir =>
      buildTwoGen(dir)
      writeGen(dir, 99, 100 until 105) // orphan keeps the listing busy
      fs.delete(new HPath(s"$dir/ingest=0"), true)
      fs.delete(new HPath(s"$dir/ingest=1"), true)
      ArtifactManifest.refreshAfterDelete(spark, dir)
      val e = intercept[IllegalArgumentException] {
        ArtifactManifest.compactGenerations(spark, dir, "part")
      }
      assert(e.getMessage.contains("committed-empty"))
      // the artifact stays readable (zero rows), not schema-broken
      assert(ArtifactManifest.frame(spark, dir).count() === 0L)
    }
  }

  test("clusterBuild starts an artifact at a path that does not " +
      "exist yet") {
    withDir { root =>
      val dir = s"$root/does/not/exist/yet"
      val df = spark.range(0, 50)
        .select(col("id").as("k"), col("id").as("payload"))
      ArtifactManifest.clusterBuild(df, dir, Seq("k"), 2)
      assert(ArtifactManifest.frame(spark, dir).count() === 50L)
      assert(ArtifactManifest.latest(spark, dir).get.generations ===
        Seq(0L))
    }
  }

  test("clusterBuild over a previously-appended artifact serves ONLY " +
      "the new build — stale generations are not resurrected") {
    withDir { dir =>
      def slice(a: Long, b: Long) = spark.range(a, b)
        .select(col("id").as("k"), col("id").as("payload"))
      ArtifactManifest.clusterBuild(slice(0, 100), dir, Seq("k"), 2)
      ArtifactManifest.clusterAppend(slice(100, 200), dir, Seq("k"), 2)
      writeGen(dir, 99, 300 until 305) // orphan from a crashed append
      // REBUILD with different data: the appended and orphaned
      // generations must all be gone, not adopted by recordBuild
      val rebuilt = spark.range(1000, 1100)
        .select(col("id").as("k"), col("id").as("payload"))
      ArtifactManifest.clusterBuild(rebuilt, dir, Seq("k"), 2)
      val got = ArtifactManifest.frame(spark, dir)
        .select("payload").as[Long].collect().toSeq.sorted
      assert(got === (1000L until 1100L).toSeq)
      val p = ArtifactManifest.latest(spark, dir).get
      // the rebuild lands on ONE fresh generation past the previous
      // max (write-first, so a self-derived input is read before the
      // old trees are wiped), and only it is live
      assert(p.generations === Seq(100L))
      assert(p.version >= 2L) // the manifest chain survived the rebuild
    }
  }

  test("clusterBuild accepts an input derived from the artifact " +
      "itself — the rebuild reads the old generations before wiping " +
      "them") {
    withDir { dir =>
      def slice(a: Long, b: Long) = spark.range(a, b)
        .select(col("id").as("k"), col("id").as("payload"))
      ArtifactManifest.clusterBuild(slice(0, 100), dir, Seq("k"), 2)
      ArtifactManifest.clusterAppend(slice(100, 200), dir, Seq("k"), 2)
      // a LAZY view over the artifact as the rebuild's own input —
      // the delete-first ordering would wipe its source files and
      // silently build an empty artifact
      val selfDerived = ArtifactManifest.frame(spark, dir)
        .drop("ingest").filter(col("payload") < 150)
      ArtifactManifest.clusterBuild(selfDerived, dir, Seq("k"), 2)
      val got = ArtifactManifest.frame(spark, dir)
        .select("payload").as[Long].collect().toSeq.sorted
      assert(got === (0L until 150L).toSeq)
      assert(ArtifactManifest.latest(spark, dir).get.generations
        .length === 1)
    }
  }

  test("versioned clustered fact: pre-compaction reader serves " +
      "consistently through the flip; re-clustering restores " +
      "row-group skipping") {
    withDir { dir =>
      // uniform-shuffled key so an unclustered layout has full-range
      // row-group stats everywhere (same construction as LayoutOpsSpec)
      def slice(i: Int) = spark.range(i * 100000L, (i + 1) * 100000L)
        .select(((col("id") * 48271) % 400000).as("k"),
          col("id").as("payload"))
      val opts = Map("parquet.block.size" -> (64 * 1024).toString)
      ArtifactManifest.clusterBuild(slice(0), dir, Seq("k"), 2,
        extraWriteOpts = opts)
      for (i <- 1 to 3)
        ArtifactManifest.clusterAppend(slice(i), dir, Seq("k"), 2,
          extraWriteOpts = opts)
      assert(ArtifactManifest.latest(spark, dir).get.generations
        .sorted === (0L to 3L))
      val expected = (0L until 400000L).toSeq

      val pre = ArtifactManifest.frame(spark, dir) // pinned pre-flip
      val newGen = ArtifactManifest.compactClusteredGenerations(
        spark, dir, Seq("k"), 4, extraWriteOpts = opts,
        vacuum = false)
      assert(newGen === 4L)
      // the pre-flip reader's generations survive the flip untouched
      assert(pre.select("payload").as[Long].collect().toSeq.sorted ===
        expected)
      assert(fs.exists(new HPath(s"$dir/ingest=0")))

      val post = ArtifactManifest.frame(spark, dir)
      assert(post.select("payload").as[Long].collect().toSeq.sorted ===
        expected)
      // re-clustered: a pushed 1%-range predicate skips row groups
      // (an unclustered 400k-row layout would read ~everything) —
      // measured via scan metrics, not plan strings
      val filtered = ArtifactManifest.frame(spark, dir)
        .filter(col("k") >= 1000 && col("k") < 5000)
      filtered.collect()
      val scanned = filtered.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec => s
      }.head.metrics("numOutputRows").value
      assert(scanned <= 40000L, s"scanned=$scanned of 400000")

      ArtifactManifest.vacuum(spark, dir)
      assert((0L to 3L).forall(g =>
        !fs.exists(new HPath(s"$dir/ingest=$g"))))
      assert(ArtifactManifest.frame(spark, dir).count() === 400000L)
    }
  }
}
