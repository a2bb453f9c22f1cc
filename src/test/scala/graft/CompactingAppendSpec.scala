package graft

import scala.collection.mutable
import org.apache.hadoop.fs.{FileUtil, Path => HPath}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._
import graft.operators.{ArtifactManifest, DedupIndex, DedupOps,
  VectorIndex}

/** Local filesystem that records every `ingest=<n>` generation a
  * create or rename touches (the crash harness' permission shim, never
  * armed).
  */
class GenRecordingFileSystem extends KillPointFileSystem {
  override def getScheme: String = "genrecfs"
  override def getUri: java.net.URI = java.net.URI.create("genrecfs:///")
  override def create(f: HPath, permission: FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    GenRecordingFileSystem.note(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: HPath, dst: HPath): Boolean = {
    GenRecordingFileSystem.note(dst)
    super.rename(src, dst)
  }
}

object GenRecordingFileSystem {
  private val Gen = """ingest=(\d+)""".r
  private val seen = mutable.Set.empty[Long]
  def touched: Set[Long] = seen.synchronized(seen.toSet)
  def clear(): Unit = seen.synchronized(seen.clear())
  private def note(p: HPath): Unit = seen.synchronized {
    Gen.findAllMatchIn(p.toString).foreach(m => seen += m.group(1).toLong)
  }
}

/** Batch appends whose generation is the `compactEvery`-th merge the
  * live store and the batch into that one generation
  * (`ArtifactManifest.appendGeneration`): the rows, stored shape,
  * probe and serve results equal a plain append followed by a sized
  * compaction, with one write and one manifest flip.
  */
class CompactingAppendSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"
  private val (k, rpb, splitId) = (4, 2, 400L)
  private val (dim, steps, sub, subDim, pk) = (64, 2, 8, 8, 16)

  private def conf = spark.sparkContext.hadoopConfiguration
  private def docs = Tables.documents(spark, d)
  private def vecs = Tables.embeddings(spark, d).select("vec_id", "embedding")

  private def copyTree(src: String, dst: String): Unit = {
    val fs = new HPath(src).getFileSystem(conf)
    assert(FileUtil.copy(fs, new HPath(src), fs, new HPath(dst), false,
      conf))
  }

  private def gens(store: String): Set[Long] = {
    val p = new HPath(store)
    p.getFileSystem(conf).listStatus(p).map(_.getPath.getName)
      .collect { case n if n.startsWith("ingest=") =>
        n.stripPrefix("ingest=").toLong }.toSet
  }

  private def bucketRows(dir: String): Seq[(Long, Long, Long)] =
    DedupIndex.load(spark, dir).buckets
      .select("doc_id", "band", "bucket")
      .as[(Long, Long, Long)].collect().toSeq.sorted

  private def probed(dir: String): Seq[(Long, Long)] =
    DedupIndex.probe(DedupIndex.load(spark, dir),
        docs.filter(col("doc_id") >= 2 * splitId), "text", "doc_id")
      .as[(Long, Long)].collect().toSeq.sorted

  private def corpusRows(dir: String): Seq[(Long, Long, String)] =
    VectorIndex.load(spark, dir).corpus
      .select(col("vec_id"), col("cell").cast("long"),
        col("code").cast("string"))
      .as[(Long, Long, String)].collect().toSeq.sorted

  private def served(dir: String): Seq[(Long, Long, Long, Double, Long)] =
    VectorIndex.serveTopK(VectorIndex.load(spark, dir), subDim, 5L, 3)
      .as[(Long, Long, Long, Double, Long)].collect().toSeq.sorted

  private def pinOf(store: String): ArtifactManifest.Pin =
    ArtifactManifest.latest(spark, store).get

  test("a due append writes one generation and one manifest version, " +
      "with no intermediate ingest= directory") {
    conf.set("fs.genrecfs.impl", classOf[GenRecordingFileSystem].getName)
    try withTempDir("graft-merge-once") { local =>
      val (ddir, vdir) = (s"genrecfs://$local/dedup", s"genrecfs://$local/vec")
      DedupIndex.build(docs.filter(col("doc_id") < splitId), "text",
        "doc_id", k, rpb, ddir)
      VectorIndex.build(vecs.filter(col("vec_id") < splitId), dim, steps,
        sub, subDim, pk, vdir, gateBits = Some(4))
      for ((store, append) <- Seq(
          s"$ddir/buckets" -> (() => DedupIndex.append(spark, ddir,
            docs.filter(col("doc_id") >= splitId), "text", "doc_id",
            compactEvery = 2)),
          s"$vdir/corpus" -> (() => { VectorIndex.append(spark, vdir,
            vecs.filter(col("vec_id") >= splitId), compactEvery = 2); () })
        )) {
        val before = pinOf(store)
        GenRecordingFileSystem.clear()
        append()
        val after = pinOf(store)
        assert(after.version === before.version + 1, store)
        assert(after.generations === Seq(1L), store)
        assert(gens(store) === Set(1L), store)
        assert(GenRecordingFileSystem.touched === Set(1L), store)
      }
    } finally conf.unset("fs.genrecfs.impl")
  }

  test("a merging dedup append serves the rows, shape and probe " +
      "results of an append followed by a sized compaction") {
    withTempDir("graft-merge-dedup") { root =>
      val (merged, twoStep) = (s"$root/merged", s"$root/two-step")
      DedupIndex.build(docs.filter(col("doc_id") < splitId), "text",
        "doc_id", k, rpb, merged)
      copyTree(merged, twoStep)
      val batch = docs.filter(col("doc_id") >= splitId &&
        col("doc_id") < 2 * splitId)
      DedupIndex.append(spark, merged, batch, "text", "doc_id",
        compactEvery = 2)
      DedupIndex.appendBatch(k, rpb, twoStep, batch, "text", "doc_id", 1L)
      ArtifactManifest.compactGenerationsSized(spark, s"$twoStep/buckets",
        "band", sortWithin = Seq("bucket"))
      assert(bucketRows(merged) === bucketRows(twoStep))
      assert(probed(merged) === probed(twoStep))
      val (pm, pt) = (pinOf(s"$merged/buckets"), pinOf(s"$twoStep/buckets"))
      assert(pm.schemaJson === pt.schemaJson && pm.partCols === pt.partCols)
      assert(DedupIndex.loadMembers(spark, merged).get._1.toSeq ===
        DedupIndex.loadMembers(spark, twoStep).get._1.toSeq)
      // and both equal a fresh full build of the same ids
      val fresh = DedupOps.lshBuckets(DedupOps.withMinHash(
          docs.filter(col("doc_id") < 2 * splitId), "text", k),
          "doc_id", k, rpb)
        .as[(Long, Long, Long)].collect().toSeq.sorted
      assert(bucketRows(merged) === fresh)
    }
  }

  test("a merging vector append serves the rows, shape and top-k of " +
      "an append followed by a sized compaction, and measures the same " +
      "drift") {
    withTempDir("graft-merge-vec") { root =>
      val (merged, twoStep) = (s"$root/merged", s"$root/two-step")
      VectorIndex.build(vecs.filter(col("vec_id") < splitId), dim, steps,
        sub, subDim, pk, merged, gateBits = Some(4))
      copyTree(merged, twoStep)
      val batch = vecs.filter(col("vec_id") >= splitId)
      val cosMerged = VectorIndex.appendWithDrift(
        VectorIndex.load(spark, merged), merged, batch, 1L,
        compactEvery = 2)
      val cosPlain = VectorIndex.appendWithDrift(
        VectorIndex.load(spark, twoStep), twoStep, batch, 1L)
      assert(gens(s"$merged/corpus") === Set(1L))
      assert(gens(s"$twoStep/corpus") === Set(0L, 1L))
      ArtifactManifest.compactGenerationsSized(spark, s"$twoStep/corpus",
        "cell", sortWithin = Seq("bucket"))
      // the observation sits on the batch rows alone
      assert(cosMerged.isDefined && cosPlain.isDefined)
      assert(math.abs(cosMerged.get - cosPlain.get) < 1e-12,
        s"drift $cosMerged vs $cosPlain")
      assert(corpusRows(merged) === corpusRows(twoStep))
      assert(served(merged) === served(twoStep))
      val (pm, pt) = (pinOf(s"$merged/corpus"), pinOf(s"$twoStep/corpus"))
      assert(pm.schemaJson === pt.schemaJson && pm.partCols === pt.partCols)
      assert(corpusRows(merged).map(_._1) ===
        vecs.select("vec_id").as[Long].collect().toSeq.sorted)
    }
  }

  test("a due append of a zero-row batch keeps the served rows; a " +
      "committed-empty store takes a plain append") {
    withTempDir("graft-merge-edge") { root =>
      val (ddir, vdir) = (s"$root/dedup", s"$root/vec")
      DedupIndex.build(docs.filter(col("doc_id") < splitId), "text",
        "doc_id", k, rpb, ddir)
      VectorIndex.build(vecs.filter(col("vec_id") < splitId), dim, steps,
        sub, subDim, pk, vdir, gateBits = Some(4))
      val (dBefore, vBefore) = (bucketRows(ddir), corpusRows(vdir))
      DedupIndex.append(spark, ddir, docs.where(lit(false)), "text",
        "doc_id", compactEvery = 2)
      assert(!VectorIndex.append(spark, vdir, vecs.where(lit(false)),
        compactEvery = 2))
      assert(bucketRows(ddir) === dBefore)
      assert(corpusRows(vdir) === vBefore)
    }
    withTempDir("graft-merge-empty") { root =>
      val (ddir, vdir) = (s"$root/dedup", s"$root/vec")
      DedupIndex.build(docs.filter(col("doc_id") < splitId), "text",
        "doc_id", k, rpb, ddir)
      VectorIndex.build(vecs.filter(col("vec_id") < splitId), dim, steps,
        sub, subDim, pk, vdir, gateBits = Some(4))
      // committed-empty: a total takedown leaves no live generation;
      // the append lands the batch as the one live generation
      DedupIndex.delete(spark, ddir, docs.select("doc_id"))
      VectorIndex.delete(spark, vdir, vecs.select("vec_id"))
      assert(pinOf(s"$ddir/buckets").generations.isEmpty)
      assert(pinOf(s"$vdir/corpus").generations.isEmpty)
      val batch = docs.filter(col("doc_id") >= splitId)
      DedupIndex.append(spark, ddir, batch, "text", "doc_id",
        compactEvery = 2)
      VectorIndex.append(spark, vdir, vecs.filter(col("vec_id") >= splitId),
        compactEvery = 2)
      assert(pinOf(s"$ddir/buckets").generations.size === 1)
      assert(pinOf(s"$vdir/corpus").generations.size === 1)
      assert(bucketRows(ddir) === DedupOps.lshBuckets(
          DedupOps.withMinHash(batch, "text", k), "doc_id", k, rpb)
        .as[(Long, Long, Long)].collect().toSeq.sorted)
      assert(corpusRows(vdir).map(_._1) === vecs
        .filter(col("vec_id") >= splitId).select("vec_id").as[Long]
        .collect().toSeq.sorted)
    }
  }

  test("a total takedown of a merged generation leaves a committed-" +
      "empty pin on both artifacts") {
    withTempDir("graft-merge-takedown") { root =>
      val (ddir, vdir) = (s"$root/dedup", s"$root/vec")
      DedupIndex.build(docs.filter(col("doc_id") < splitId), "text",
        "doc_id", k, rpb, ddir)
      VectorIndex.build(vecs.filter(col("vec_id") < splitId), dim, steps,
        sub, subDim, pk, vdir, gateBits = Some(4))
      // a due zero-row append rewrites the live set as generation 1
      DedupIndex.append(spark, ddir, docs.where(lit(false)), "text",
        "doc_id", compactEvery = 2)
      VectorIndex.append(spark, vdir, vecs.where(lit(false)),
        compactEvery = 2)
      assert(pinOf(s"$ddir/buckets").generations === Seq(1L))
      assert(pinOf(s"$vdir/corpus").generations === Seq(1L))
      DedupIndex.delete(spark, ddir, docs.select("doc_id"))
      VectorIndex.delete(spark, vdir, vecs.select("vec_id"))
      assert(pinOf(s"$ddir/buckets").generations.isEmpty)
      assert(pinOf(s"$vdir/corpus").generations.isEmpty)
      assert(gens(s"$ddir/buckets").isEmpty && gens(s"$vdir/corpus").isEmpty)
      assert(bucketRows(ddir).isEmpty && corpusRows(vdir).isEmpty)
    }
  }

  test("a merging append onto a legacy unstamped store loads, passes " +
      "the geometry check and stores the two-step shape") {
    def legacy(dir: String): Unit = {
      DedupOps.lshBuckets(
          DedupOps.withMinHash(docs.filter(col("doc_id") < splitId),
            "text", k), "doc_id", k, rpb)
        .withColumn("ingest", lit(0L))
        .write.mode("overwrite").partitionBy("ingest", "band")
        .parquet(s"$dir/buckets")
      ArtifactManifest.recordBuild(spark, s"$dir/buckets")
      DedupIndex.saveParams(spark, dir, k, rpb)
    }
    withTempDir("graft-merge-legacy") { root =>
      val (merged, twoStep) = (s"$root/merged", s"$root/two-step")
      legacy(merged); legacy(twoStep)
      val batch = docs.filter(col("doc_id") >= splitId)
      DedupIndex.append(spark, merged, batch, "text", "doc_id",
        compactEvery = 2)
      DedupIndex.appendBatch(k, rpb, twoStep, batch, "text", "doc_id", 1L)
      ArtifactManifest.compactGenerationsSized(spark, s"$twoStep/buckets",
        "band", sortWithin = Seq("bucket"))
      val l = DedupIndex.load(spark, merged)
      assert((l.k, l.rowsPerBand) === ((k, rpb)))
      assert(bucketRows(merged) === bucketRows(twoStep))
      assert(pinOf(s"$merged/buckets").schemaJson ===
        pinOf(s"$twoStep/buckets").schemaJson)
      // the merged files mix NULL (legacy) and stamped rows; the
      // footer check still finds the stamp and refuses a mismatch
      DedupIndex.saveParams(spark, merged, k * 2, rpb)
      intercept[IllegalArgumentException](DedupIndex.load(spark, merged))
      assert(bucketRows(twoStep) === DedupOps.lshBuckets(
          DedupOps.withMinHash(docs, "text", k), "doc_id", k, rpb)
        .as[(Long, Long, Long)].collect().toSeq.sorted)
    }
  }
}
