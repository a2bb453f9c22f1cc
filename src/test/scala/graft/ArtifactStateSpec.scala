package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.operators.{ArtifactManifest, BloomPrune, DedupIndex,
  SimilarityOps, VectorIndex}

/** The index artifacts' driver-side state files: a bit-exact codec,
  * parity with the one-row parquet trees they replaced, loads that
  * start no Spark job for state, pinned reads that use the stored
  * schema, and roots in the parquet-state format rebuilding instead of
  * failing.
  */
class ArtifactStateSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"
  private val (k, rpb, splitId) = (4, 2, 400L)
  private val (dim, steps, sub, subDim, pk) = (64, 2, 8, 8, 16)

  private def fs = new HPath("/")
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `f`'s value and the number of Spark jobs started in it (threads
    * `f` creates inherit the job group), after the listener bus has
    * delivered every event. */
  private def jobsOf[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val group = s"artifact-state-jobs-${System.nanoTime}"
    val n = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "counted")
    try {
      val a = f
      TestBus.drain(sc)
      (a, n.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(l)
    }
  }

  private def samples[A](g: Gen[A], n: Int): Seq[A] =
    (1 to n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private def bits(x: Double): Long = java.lang.Double.doubleToRawLongBits(x)

  private def sameBits(a: Array[Double], b: Array[Double]): Boolean =
    a.length == b.length && a.indices.forall(i => bits(a(i)) == bits(b(i)))

  /** Doubles with the encodings a decimal or boxed round trip gets
    * wrong over-represented: NaN payloads of both signs, ±0.0,
    * subnormals, infinities. */
  private val doubleGen: Gen[Double] = {
    val mantissa = Gen.choose(1L, (1L << 52) - 1)
    Gen.frequency(
      3 -> Gen.choose(-1e6, 1e6),
      1 -> Gen.oneOf(0.0, -0.0, Double.PositiveInfinity,
        Double.NegativeInfinity, Double.MinPositiveValue, Double.MaxValue),
      1 -> mantissa.map(java.lang.Double.longBitsToDouble),
      1 -> mantissa.map(m =>
        java.lang.Double.longBitsToDouble(Long.MinValue | m)),
      1 -> mantissa.map(m =>
        java.lang.Double.longBitsToDouble(0x7ff0000000000000L | m)),
      1 -> mantissa.map(m =>
        java.lang.Double.longBitsToDouble(0xfff0000000000000L | m)))
  }

  private def arrayGen[A: scala.reflect.ClassTag](g: Gen[A]): Gen[Array[A]] =
    Gen.frequency(1 -> Gen.const(Array.empty[A]),
      3 -> Gen.choose(1, 40).flatMap(n => Gen.listOfN(n, g))
        .map(_.toArray))

  private val fieldsGen = for {
    i <- Gen.choose(Int.MinValue, Int.MaxValue)
    l <- Gen.choose(Long.MinValue, Long.MaxValue)
    x <- doubleGen
    ls <- arrayGen(Gen.choose(Long.MinValue, Long.MaxValue))
    ds <- arrayGen(doubleGen)
  } yield (i, l, x, ls, ds)

  test("state codec round-trips every field bit-exactly (NaN payloads, " +
      "±0.0, subnormals, empty arrays) and refuses foreign or torn " +
      "bytes") {
    for ((i, l, x, ls, ds) <- samples(fieldsGen, 300)) {
      val bytes = ArtifactManifest.encodeState("spec") {
        _.int(i).long(l).double(x).longs(ls).doubles(ds)
      }
      val (i2, l2, x2, ls2, ds2) = ArtifactManifest.decodeState(bytes,
        "spec")(r => (r.int(), r.long(), r.double(), r.longs(),
        r.doubles()))
      assert(i2 === i && l2 === l && bits(x2) === bits(x))
      assert(ls2.toSeq === ls.toSeq)
      assert(sameBits(ds2, ds), s"${ds.toSeq} -> ${ds2.toSeq}")
    }
    val bytes = ArtifactManifest.encodeState("spec")(
      _.doubles(Array(-0.0, Double.NaN)))
    def decode(b: Array[Byte], kind: String = "spec") =
      ArtifactManifest.decodeState(b, kind)(_.doubles())
    assert(sameBits(decode(bytes), Array(-0.0, Double.NaN)))
    intercept[java.io.IOException](decode(bytes, "other"))
    intercept[java.io.IOException](decode(bytes.init))
    intercept[java.io.IOException](decode(bytes :+ 0.toByte))
    intercept[java.io.IOException](decode(Array.fill(12)(0.toByte)))
  }

  test("a state file written through the filesystem reads back; an " +
      "absent one reads as no state") {
    withTempDir("graft-state-file") { dir =>
      val p = s"$dir/x.state"
      assert(ArtifactManifest.loadState(spark, p, "x")(_.int()) === None)
      assert(!ArtifactManifest.hasState(spark, p))
      ArtifactManifest.saveState(spark, p, "x")(_.int(7))
      ArtifactManifest.saveState(spark, p, "x")(_.int(8))
      assert(ArtifactManifest.loadState(spark, p, "x")(_.int()) ===
        Some(8))
      assert(!fs.exists(new HPath(s"$dir/.x.state.tmp")))
      ArtifactManifest.dropState(spark, p)
      assert(ArtifactManifest.loadState(spark, p, "x")(_.int()) === None)
    }
  }

  test("the state files and the parquet trees they replaced decode the " +
      "same centroids, codebooks, gate bits and sketch bits") {
    withTempDir("graft-state-parity") { dir =>
      val e = SimilarityOps.withNorm(Tables.embeddings(spark, d)
        .select("vec_id", "embedding"), "embedding", "n")
      val (cents, books) = VectorIndex.fit(e, dim, steps, sub, subDim, pk)
      val (sketch, hashes) = BloomPrune.buildSized(
        e.select("vec_id"), "vec_id", 1000L, 0.02)
      // the parquet form, written and read as the trees were
      VectorIndex.centroidFrame(spark, cents, dim, floatVecs = false)
        .coalesce(1).write.parquet(s"$dir/old/centroids")
      books.zipWithIndex.flatMap { case (cbs, j) =>
          cbs.zipWithIndex.map { case (m, c) => (j, c, m.toSeq) } }.toSeq
        .toDF("j", "c", "m").coalesce(1).write
        .parquet(s"$dir/old/codebooks")
      Seq(4).toDF("bits").coalesce(1).write.parquet(s"$dir/old/gate")
      Seq((sketch.toSeq, hashes)).toDF("bits", "k").coalesce(1).write
        .parquet(s"$dir/old/members")
      val cr = spark.read.parquet(s"$dir/old/centroids").collect()
        .sortBy(_.getLong(0))
      val br = spark.read.parquet(s"$dir/old/codebooks").collect()
        .map(r => (r.getInt(0), r.getInt(1)) -> r.getSeq[Double](2).toArray)
        .toMap
      val oldBooks = Array.tabulate(br.keys.map(_._1).max + 1)(j =>
        Array.tabulate(br.keys.map(_._2).max + 1)(c => br((j, c))))
      val oldGate = spark.read.parquet(s"$dir/old/gate").as[Int].head()
      val om = spark.read.parquet(s"$dir/old/members").head()
      // the state-file form
      VectorIndex.saveQuantizers(spark, s"$dir/new", cents, books)
      DedupIndex.saveMembers(spark, sketch, hashes, s"$dir/new")
      ArtifactManifest.saveState(spark, s"$dir/new/gate.state",
        "vec.gate")(_.int(4))
      val (nc, nb) = VectorIndex.loadQuantizers(spark, s"$dir/new").get
      val (nbits, nk) = DedupIndex.loadMembers(spark, s"$dir/new").get
      assert(nc.cells.toSeq === cr.map(_.getLong(0)).toSeq)
      assert(sameBits(nc.books, cr.flatMap(_.getSeq[Double](1))))
      assert(sameBits(nc.mns, cr.map(_.getDouble(2))))
      assert(nb.length === oldBooks.length)
      nb.zip(oldBooks).foreach { case (a, b) =>
        assert(a.length === b.length)
        a.zip(b).foreach { case (x, y) => assert(sameBits(x, y)) }
      }
      assert(VectorIndex.gateBitsOf(spark, s"$dir/new") === Some(oldGate))
      assert(nbits.toSeq === om.getSeq[Long](0) && nk === om.getInt(1))
      // and both equal the trained state itself
      assert(nc.cells.toSeq === cents.cells.toSeq &&
        sameBits(nc.books, cents.books) && sameBits(nc.mns, cents.mns))
      assert(nbits.toSeq === sketch.toSeq && nk === hashes)
    }
  }

  test("VectorIndex.load and DedupIndex.load start no Spark job on " +
      "built, appended and committed-empty artifacts") {
    withTempDir("graft-state-jobs") { root =>
      val docs = Tables.documents(spark, d)
      val vecs = Tables.embeddings(spark, d).select("vec_id", "embedding")
      val (ddir, vdir) = (s"$root/dedup", s"$root/vec")
      DedupIndex.build(docs.filter(col("doc_id") < splitId), "text",
        "doc_id", k, rpb, ddir)
      DedupIndex.append(spark, ddir, docs.filter(col("doc_id") >= splitId),
        "text", "doc_id")
      VectorIndex.build(vecs.filter(col("vec_id") < splitId), dim, steps,
        sub, subDim, pk, vdir, gateBits = Some(4))
      VectorIndex.append(spark, vdir, vecs.filter(col("vec_id") >= splitId))
      val (lv, vJobs) = jobsOf(VectorIndex.load(spark, vdir))
      assert(vJobs === 0)
      assert(lv.gateBits === Some(4) && lv.cents.cells.nonEmpty)
      assert(jobsOf(VectorIndex.driftBaseline(spark, vdir))._2 === 0)
      // the geometry check reads a footer on the driver
      val (ld, dJobs) = jobsOf(DedupIndex.load(spark, ddir))
      assert(dJobs === 0)
      assert((ld.k, ld.rowsPerBand) === ((k, rpb)))
      // the loaded frames serve what an inference read serves
      assert(lv.corpus.count() === vecs.count())
      assert(ld.buckets.select("doc_id").distinct().count() ===
        spark.read.parquet(s"$ddir/buckets").select("doc_id")
          .distinct().count())
      // committed-empty (a total takedown): no file to stamp-check,
      // still no job, zero rows served
      DedupIndex.delete(spark, ddir, docs.select("doc_id"))
      assert(ArtifactManifest.latest(spark, s"$ddir/buckets").get
        .generations.isEmpty)
      val (le, eJobs) = jobsOf(DedupIndex.load(spark, ddir))
      assert(eJobs === 0)
      assert((le.k, le.rowsPerBand) === ((k, rpb)))
      assert(le.buckets.count() === 0)
    }
  }

  test("a sketch OR and save start no job beyond building the batch's " +
      "bits") {
    withTempDir("graft-state-or") { dir =>
      val docs = Tables.documents(spark, d)
      DedupIndex.build(docs.filter(col("doc_id") < splitId), "text",
        "doc_id", k, rpb, dir)
      val batch = docs.filter(col("doc_id") >= splitId)
      val (bits, hashes) = DedupIndex.loadMembers(spark, dir).get
      // the batch's own bits: one treeAggregate job
      val (_, buildJobs) = jobsOf(BloomPrune.build(batch.select(
        col("doc_id").cast("long").as("id")), "id", bits.length * 64,
        hashes))
      val (_, jobs) = jobsOf(DedupIndex.orMembers(batch, "doc_id", dir))
      assert(buildJobs === 1 && jobs === buildJobs)
      val (pruned, pruneJobs) = jobsOf(
        DedupIndex.memberPrune(spark, dir, docs, "doc_id"))
      assert(pruneJobs === 0)
      // the OR'd sketch keeps every built and every batch id
      assert(pruned.count() === docs.count())
    }
  }

  test("a pinned read uses the stored data schema: no inference job, " +
      "and the same schema (nullability included) and rows as an " +
      "inferred read; a pin without partition columns keeps inference") {
    withTempDir("graft-state-pin") { root =>
      val docs = Tables.documents(spark, d)
      val vecs = Tables.embeddings(spark, d).select("vec_id", "embedding")
      DedupIndex.build(docs.filter(col("doc_id") < splitId), "text",
        "doc_id", k, rpb, s"$root/dedup")
      DedupIndex.append(spark, s"$root/dedup",
        docs.filter(col("doc_id") >= splitId), "text", "doc_id")
      VectorIndex.build(vecs.filter(col("vec_id") < splitId), dim, steps,
        sub, subDim, pk, s"$root/vec", gateBits = Some(4))
      VectorIndex.append(spark, s"$root/vec",
        vecs.filter(col("vec_id") >= splitId))
      for ((store, key) <- Seq(s"$root/dedup/buckets" -> "band",
          s"$root/vec/corpus" -> "cell")) {
        val pin = ArtifactManifest.latest(spark, store).get
        assert(pin.partCols === Seq("ingest", key))
        assert(pin.generations.size === 2)
        val (stored, jobs) = jobsOf(ArtifactManifest.frame(spark, store))
        assert(jobs === 0, store)
        val inferred = spark.read.option("basePath", store)
          .parquet(pin.generations.sorted.map(g => s"$store/ingest=$g"): _*)
        assert(stored.schema === inferred.schema, store)
        assert(stored.count() === inferred.count(), store)
        assert(stored.exceptAll(inferred).isEmpty &&
          inferred.exceptAll(stored).isEmpty, store)
      }
      // a tree adopted without a known shape keeps inference
      val legacy = s"$root/legacy"
      docs.select("doc_id").withColumn("ingest", lit(0L))
        .withColumn("band", col("doc_id") % 2)
        .write.partitionBy("ingest", "band").parquet(legacy)
      ArtifactManifest.recordBuild(spark, legacy)
      assert(ArtifactManifest.latest(spark, legacy).get.partCols === Nil)
      assert(ArtifactManifest.frame(spark, legacy).count() === docs.count())
    }
  }

  test("roots in the parquet-state format rebuild through buildOrLoad " +
      "instead of failing their load") {
    withTempDir("graft-state-parent") { root =>
      val docs = Tables.documents(spark, d).filter(col("doc_id") < splitId)
      val vecs = Tables.embeddings(spark, d).select("vec_id", "embedding")
        .filter(col("vec_id") < splitId)
      val (ddir, vdir) = (s"$root/dedup", s"$root/vec")
      DedupIndex.buildOrLoad(docs, "text", "doc_id", k, rpb, ddir)
      val first = VectorIndex.buildOrLoad(vecs, dim, steps, sub, subDim,
        pk, vdir)
      // the earlier layout: committed data trees, state as one-row
      // parquet trees and no state files
      fs.delete(new HPath(s"$ddir/params.state"), false)
      Seq((k, rpb)).toDF("k", "rows_per_band").coalesce(1).write
        .parquet(s"$ddir/params")
      fs.delete(new HPath(s"$vdir/quantizer.state"), false)
      VectorIndex.centroidFrame(spark, first.cents, dim, floatVecs = false)
        .coalesce(1).write.parquet(s"$vdir/centroids")
      Seq((0, 0, Seq(0.0))).toDF("j", "c", "m").coalesce(1).write
        .parquet(s"$vdir/codebooks")
      intercept[IllegalArgumentException](DedupIndex.load(spark, ddir))
      intercept[IllegalArgumentException](VectorIndex.load(spark, vdir))
      val ld = DedupIndex.buildOrLoad(docs, "text", "doc_id", k, rpb, ddir)
      assert((ld.k, ld.rowsPerBand) === ((k, rpb)))
      assert(fs.exists(new HPath(s"$ddir/params.state")))
      assert(ld.buckets.select("doc_id").distinct().count() > 0)
      val lv = VectorIndex.buildOrLoad(vecs, dim, steps, sub, subDim, pk,
        vdir)
      assert(fs.exists(new HPath(s"$vdir/quantizer.state")))
      assert(lv.books.length === sub && lv.books.forall(_.length === pk))
      assert(lv.corpus.select("vec_id").as[Long].collect().sorted.toSeq ===
        vecs.select("vec_id").as[Long].collect().sorted.toSeq)
    }
  }

  // an ADC recall report the judge admits, with geometry (8, 0.5); the
  // artifacts below have no corpus manifest, so the current corpus
  // version is -1
  private def adcBands = Seq((19L, 10L, 10L, 1.0))
    .toDF("band", "n_conf", "n_kept", "recall")
  private val adcBooks: graft.operators.ProductQuantization.Codebooks =
    Array(Array(Array(0.0)))

  /** The strict ADC constructor refuses `dir` for want of a report,
    * ensure recomputes it, and the constructor then admits.
    */
  private def refusesThenRecomputes(dir: String): Unit = {
    val e = intercept[IllegalStateException] {
      VectorIndex.adcPrefilterFor(spark, dir, adcBooks, 8, 0.5)
    }
    assert(e.getMessage.contains("no committed recall report"),
      e.getMessage)
    var recomputed = false
    VectorIndex.ensureAdcReport(spark, dir, 8, 0.5, -1L) {
      recomputed = true; adcBands
    }
    assert(recomputed)
    VectorIndex.adcPrefilterFor(spark, dir, adcBooks, 8, 0.5)
  }

  test("ADC report bands without a stamp read as absent") {
    withTempDir("graft-adc-stamp") { root =>
      val dir = s"$root/idx"
      VectorIndex.saveAdcReport(spark, dir, adcBands, 8, 0.5, -1L)
      VectorIndex.adcPrefilterFor(spark, dir, adcBooks, 8, 0.5)
      // a save killed between the bands write and the stamp
      ArtifactManifest.dropState(spark, s"$dir/adc_report/stamp.state")
      assert(fs.exists(new HPath(s"$dir/adc_report/bands/_SUCCESS")))
      refusesThenRecomputes(dir)
    }
  }

  test("an ADC report stamped only by the one-row parquet tree reads " +
      "as absent") {
    withTempDir("graft-adc-stamp") { root =>
      val dir = s"$root/idx"
      adcBands.coalesce(1).write.parquet(s"$dir/adc_report/bands")
      Seq((8, 0.5, -1L)).toDF("sub_dim", "bar", "corpus_version")
        .coalesce(1).write.parquet(s"$dir/adc_report/stamp")
      refusesThenRecomputes(dir)
    }
  }

  test("the freshness check of a saved ADC report starts no Spark job") {
    withTempDir("graft-adc-stamp") { root =>
      val dir = s"$root/idx"
      VectorIndex.saveAdcReport(spark, dir, adcBands, 8, 0.5, -1L)
      val (_, jobs) = jobsOf(VectorIndex.ensureAdcReport(spark, dir, 8,
        0.5, -1L)(sys.error("a fresh report must not be recomputed")))
      assert(jobs === 0)
    }
  }
}
