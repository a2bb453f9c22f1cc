package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import graft.operators.ArtifactManifest

/** Layout ops must be content-preserving AND measurably change the
  * physical read: a pushed range predicate over a clustered layout
  * reads a fraction of the rows (row-group skipping via min/max
  * stats), and compaction collapses the file count without touching a
  * row.
  */
class LayoutOpsSpec extends SparkSpec {
  import spark.implicits._

  private def withDir[A](f: String => A): A =
    withTempDir("graft-layout")(f)

  // deterministic synthetic frame, big enough for many row groups:
  // k is uniform-shuffled so the UNclustered layout has full-range
  // row-group stats everywhere
  private def data = spark.range(0, 400000)
    .select(((col("id") * 48271) % 400000).as("k"),
      col("id").as("payload"))

  /** A clustered artifact's live rows, without the generation column. */
  private def live(dir: String): DataFrame =
    ArtifactManifest.frame(spark, dir).drop("ingest")

  /** Rows the parquet reader emitted for a filtered scan (= rows in
    * the row groups that survived min/max pruning; record-level
    * parquet filtering is off by default in Spark).
    */
  private def scannedRowsFor(frame: DataFrame,
      pred: org.apache.spark.sql.Column): Long = {
    val df = frame.filter(pred)
    // run THIS frame's own plan (a derived count() would execute a
    // different queryExecution and leave these metrics untouched)
    df.collect()
    val scan = df.queryExecution.executedPlan.collect {
      case s: FileSourceScanExec => s
    }.head
    scan.metrics("numOutputRows").value
  }

  private def scannedRows(frame: DataFrame): Long =
    scannedRowsFor(frame, col("k") >= 1000 && col("k") < 5000)

  /** Parquet part files under `p`, recursively. */
  private def partFiles(p: Path): Seq[Path] = {
    if (!Files.isDirectory(p))
      return if (p.getFileName.toString.startsWith("part-")) Seq(p)
        else Nil
    val s = Files.list(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator.asScala.toSeq.flatMap(partFiles)
    } finally s.close()
  }

  test("range clustering makes the pushed filter skip row groups") {
    withDir { root =>
      // small row groups so both layouts hold many of them
      val opts = Map("parquet.block.size" -> (64 * 1024).toString)
      data.repartition(4).write.options(opts)
        .mode("overwrite").parquet(s"$root/flat")
      ArtifactManifest.clusterBuild(data, s"$root/clustered", Seq("k"), 4,
        extraWriteOpts = opts)
      // identical content
      assert(live(s"$root/clustered")
        .as[(Long, Long)].collect().sorted ===
        spark.read.parquet(s"$root/flat")
          .as[(Long, Long)].collect().sorted)
      val (flat, clustered) = (scannedRows(spark.read.parquet(s"$root/flat")),
        scannedRows(live(s"$root/clustered")))
      // the unclustered layout reads essentially everything (every
      // row group's k-range spans the filter); the clustered one
      // reads only the row groups covering [1000, 5000) — measured,
      // not asserted-by-plan-string
      assert(flat >= 350000L, s"flat=$flat")
      assert(clustered <= flat / 10,
        s"clustered=$clustered flat=$flat")
    }
  }

  test("z-order clustering serves pushed predicates on EVERY z column") {
    withDir { root =>
      // two independent uniform-shuffled keys: a single-column range
      // cluster can serve one of them; the z-order serves both
      val data2 = spark.range(0, 400000)
        .select(((col("id") * 48271) % 400000).as("k1"),
          ((col("id") * 69621) % 400000).as("k2"),
          col("id").as("payload"))
      val opts = Map("parquet.block.size" -> (64 * 1024).toString)
      data2.repartition(4).write.options(opts)
        .mode("overwrite").parquet(s"$root/flat")
      ArtifactManifest.clusterBuild(data2, s"$root/linear", Seq("k1"), 4,
        extraWriteOpts = opts)
      ArtifactManifest.clusterBuild(data2, s"$root/z", Seq("k1", "k2"), 4,
        zorder = true, bits = 8, extraWriteOpts = opts)
      // identical content
      assert(live(s"$root/z")
        .as[(Long, Long, Long)].collect().sorted ===
        data2.as[(Long, Long, Long)].collect().sorted)
      val p1 = col("k1") >= 10000 && col("k1") < 35000  // 1/16 of k1
      val p2 = col("k2") >= 10000 && col("k2") < 35000  // 1/16 of k2
      val flat1 = scannedRowsFor(spark.read.parquet(s"$root/flat"), p1)
      val lin1 = scannedRowsFor(live(s"$root/linear"), p1)
      val lin2 = scannedRowsFor(live(s"$root/linear"), p2)
      val z1 = scannedRowsFor(live(s"$root/z"), p1)
      val z2 = scannedRowsFor(live(s"$root/z"), p2)
      // the flat layout reads everything; the linear cluster serves
      // its own key but is blind on the other; the z layout skips on
      // BOTH dimensions — measured via scan metrics, not plan strings
      assert(flat1 >= 350000L, s"flat1=$flat1")
      assert(lin1 <= flat1 / 10, s"lin1=$lin1 flat1=$flat1")
      assert(lin2 >= (flat1 * 3) / 4, s"lin2=$lin2 flat1=$flat1")
      assert(z1 <= flat1 / 4, s"z1=$z1 flat1=$flat1")
      assert(z2 <= flat1 / 4, s"z2=$z2 flat1=$flat1")
    }
  }

  test("z-order write rejects degenerate geometry") {
    withDir { root =>
      val df = Seq((1L, 2L)).toDF("a", "b")
      intercept[IllegalArgumentException] {
        ArtifactManifest.clusterBuild(df, s"$root/x", Seq("a"), 1,
          zorder = true)
      }
      intercept[IllegalArgumentException] {
        // bits past the cap: 31 would also overflow 1 << bits into
        // Int.MinValue while passing a cols*bits <= 63 check
        ArtifactManifest.clusterBuild(df, s"$root/x", Seq("a", "b"), 1,
          zorder = true, bits = 31)
      }
      intercept[IllegalArgumentException] {
        // an all-null z column has no quantile cuts
        ArtifactManifest.clusterBuild(
          Seq((Option.empty[java.lang.Long], 2L)).toDF("a", "b"),
          s"$root/x", Seq("a", "b"), 1, zorder = true)
      }
      // nothing was written by the refused builds
      assert(!Files.exists(java.nio.file.Paths.get(s"$root/x")))
    }
  }

  test("z-order preserves a caller column named __z") {
    withDir { root =>
      // __z is a legal user column — the op's working columns must
      // dodge it, not silently destroy it
      val df = Seq((1L, 10L, "keep1"), (2L, 20L, "keep2"),
        (3L, 30L, "keep3")).toDF("a", "b", "__z")
      ArtifactManifest.clusterBuild(df, s"$root/z", Seq("a", "b"), 1,
        zorder = true, bits = 2)
      assert(live(s"$root/z")
        .as[(Long, Long, String)].collect().sorted ===
        Seq((1L, 10L, "keep1"), (2L, 20L, "keep2"), (3L, 30L, "keep3")))
    }
  }

  test("clustered compaction restores row-group skipping after appends") {
    withDir { root =>
      val opts = Map("parquet.block.size" -> (64 * 1024).toString)
      val fact = s"$root/fact"
      ArtifactManifest.clusterBuild(data, fact, Seq("k"), 4,
        extraWriteOpts = opts)
      // accreted appends: each batch clusters only its own rows into
      // its own small files, so key ranges overlap across generations
      val appended = spark.range(400000, 500000)
        .select(((col("id") * 48271) % 400000).as("k"),
          col("id").as("payload"))
      for (i <- 0 until 4)
        ArtifactManifest.clusterAppend(
          appended.filter(col("payload") % 4 === i), fact, Seq("k"), 2,
          extraWriteOpts = opts)
      val expected = data.unionByName(appended)
        .as[(Long, Long)].collect().sorted
      // the composition trap: a content-only rewrite (round-robin
      // repartition) preserves every row but merges the sorted runs
      // arbitrarily, widening row-group key ranges — the pushed slice
      // reads a large multiple of what the clustered layout serves
      live(fact).repartition(4).write.options(opts).mode("overwrite")
        .parquet(s"$root/naive")
      val naive = scannedRows(spark.read.parquet(s"$root/naive"))
      // layout-preserving compaction: the SAME slice assertion a fresh
      // clustered write satisfies holds post-compaction, content
      // identical, one live generation of 4 files, superseded
      // generations vacuumed
      val kept = ArtifactManifest.compactClusteredGenerations(spark, fact,
        Seq("k"), 4, extraWriteOpts = opts)
      val compacted = scannedRows(live(fact))
      assert(compacted <= 500000L / 10, s"compacted=$compacted")
      assert(naive >= 10 * compacted,
        s"compacted=$compacted naive=$naive")
      assert(live(fact).as[(Long, Long)].collect().sorted === expected)
      assert(ArtifactManifest.latest(spark, fact).get.generations ===
        Seq(kept))
      assert(partFiles(java.nio.file.Paths.get(fact)).size === 4)
    }
  }

  test("z-order compaction re-clusters BOTH predicate columns after appends") {
    withDir { root =>
      val opts = Map("parquet.block.size" -> (64 * 1024).toString)
      val z = s"$root/z"
      val base = spark.range(0, 400000)
        .select(((col("id") * 48271) % 400000).as("k1"),
          ((col("id") * 69621) % 400000).as("k2"),
          col("id").as("payload"))
      ArtifactManifest.clusterBuild(base, z, Seq("k1", "k2"), 4,
        zorder = true, bits = 8, extraWriteOpts = opts)
      val appended = spark.range(400000, 500000)
        .select(((col("id") * 48271) % 400000).as("k1"),
          ((col("id") * 69621) % 400000).as("k2"),
          col("id").as("payload"))
      ArtifactManifest.clusterAppend(appended, z, Seq("k1", "k2"), 8,
        zorder = true, bits = 8, extraWriteOpts = opts)
      ArtifactManifest.compactClusteredGenerations(spark, z,
        Seq("k1", "k2"), 4, zorder = true, bits = 8,
        extraWriteOpts = opts)
      val p1 = col("k1") >= 10000 && col("k1") < 35000
      val p2 = col("k2") >= 10000 && col("k2") < 35000
      val total = 500000L
      val z1 = scannedRowsFor(live(z), p1)
      val z2 = scannedRowsFor(live(z), p2)
      // the fresh-write assertion (both z columns skip) holds on the
      // compacted layout — measured, not asserted-by-plan-string
      assert(z1 <= total / 4, s"z1=$z1")
      assert(z2 <= total / 4, s"z2=$z2")
      assert(live(z).as[(Long, Long, Long)].collect().sorted ===
        base.unionByName(appended).as[(Long, Long, Long)]
          .collect().sorted)
    }
  }

  test("compactGenerations sortWithin orders rows inside rewritten files") {
    withDir { root =>
      val dir = s"$root/art"
      // a tiny (ingest, band)-partitioned artifact with shuffled values
      def gen(g: Long, seed: Long) = spark.range(0, 1000)
        .select(((col("id") * seed) % 1000).as("v"),
          (col("id") % 4).as("band"), lit(g).as("ingest"))
      gen(0L, 48271L).write.mode("overwrite")
        .partitionBy("ingest", "band").parquet(dir)
      gen(1L, 69621L).write.mode("append")
        .partitionBy("ingest", "band").parquet(dir)
      def vbands() = ArtifactManifest.frame(spark, dir)
        .select(col("v"), col("band").cast("long")).as[(Long, Long)]
        .collect().sorted
      val expected = vbands()
      ArtifactManifest.compactGenerations(spark, dir, "band",
        sortWithin = Seq("v"))
      // content preserved (ingest collapses to one new generation)
      assert(vbands() === expected)
      // every rewritten file is internally sorted on v
      val parts = partFiles(java.nio.file.Paths.get(dir))
      assert(parts.nonEmpty)
      for (f <- parts) {
        val vs = spark.read.parquet(f.toString)
          .select("v").as[Long].collect()
        assert(vs === vs.sorted, s"file $f not sorted on v")
      }
    }
  }

  test("compaction collapses the file count and preserves content") {
    withDir { root =>
      val dir = s"$root/small"
      ArtifactManifest.clusterBuild(data, dir, Seq("k"), 64)
      assert(partFiles(java.nio.file.Paths.get(dir)).size === 64)
      ArtifactManifest.compactClusteredGenerations(spark, dir, Seq("k"), 4)
      assert(partFiles(java.nio.file.Paths.get(dir)).size === 4)
      assert(live(dir).as[(Long, Long)].collect().sorted ===
        data.as[(Long, Long)].collect().sorted)
    }
  }
}
