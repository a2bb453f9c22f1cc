package graft.bench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{ArtifactManifest, DedupIndex, Knobs, SimilarityOps,
  TextOps, VectorIndex, WriterLease}

/** The training-data ingest writer. Set-up builds a `DedupIndex` over the
  * base documents and a gate-stamped `VectorIndex` over the base
  * embeddings. A cycle is `BatchesPerCycle` arriving batches, each one
  * timed as the text gate (probe → Jaccard-verified admission) plus the
  * admitted documents' append, then the vector gate (cell + sign-bucket
  * blocking, exact-cosine confirm) plus the admitted vectors' append,
  * and then timed separately a serving read (top-k on a fresh load);
  * the cycle ends with a takedown of a seeded id set from both
  * artifacts. The writer holds both artifacts' writer leases for the
  * whole run and hands them to each batch, as a long-running ingest
  * writer does. Appends compact every `CompactEvery` generations; with
  * two, every batch's appends compact both artifacts, so every timed
  * batch holds the same maintenance work.
  */
final class CorpusIngest(spark: SparkSession, seed: Long) extends Workload {
  import CorpusIngest._

  val stepKind = "ingest_batch"
  private var root: String = _
  private def ddir = s"$root/dedup"
  private def vdir = s"$root/vec"
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var grams: DataFrame = _
  private var docsBytes = 0L
  private var leases = Seq.empty[(String, WriterLease.Lease)]
  private var nextBatch = 0
  // live id sets as the writer believes them: built ∪ admitted − tombstoned
  private val liveDocs = collection.mutable.SortedSet.empty[Long]
  private val liveVecs = collection.mutable.SortedSet.empty[Long]
  private var admittedDocs, admittedVecs = 0L
  private val gateCounts = collection.mutable.ArrayBuffer.empty[(Long, Long)]
  private val liveFiles = collection.mutable.ArrayBuffer.empty[Double]
  private val spaceAmp = collection.mutable.ArrayBuffer.empty[Double]
  private val batchInBytes = collection.mutable.ArrayBuffer.empty[Double]
  // timed batches whose appends compacted an artifact, with their seconds
  private val compactedBatches = collection.mutable.ArrayBuffer.empty[Double]
  private var compactions = 0
  private var firstCycleCompactions = -1

  def inputDigest(s: Long): String = Gen.digest(
    (0L until BaseN + PoolBatches * Batch).iterator.flatMap(id =>
      Iterator(Gen.doc(s, id), Gen.vec(s, id).mkString(","))))

  private def docBytes(id: Long) = Gen.doc(seed, id).length.toLong
  private val VecBytes = Gen.Dim * 4L

  /** The artifacts' writer-lease root: a sibling of the artifact dir, as
    * `DedupIndex`/`VectorIndex` place it. */
  private def leaseRoot(dir: String): String = {
    val p = new Path(dir)
    new Path(p.getParent, p.getName + "__lock").toString
  }

  def setup(root: String): Unit = {
    this.root = root
    import spark.implicits._
    val n = BaseN + PoolBatches * Batch
    (0L until n).map(id => (id, Gen.doc(seed, id))).toDF("doc_id", "text")
      .repartition(4).write.parquet(s"$root/input/documents")
    (0L until n).map(id => (id, Gen.vec(seed, id))).toDF("vec_id", "embedding")
      .repartition(4).write.parquet(s"$root/input/embeddings")
    docs = spark.read.parquet(s"$root/input/documents")
    vecs = spark.read.parquet(s"$root/input/embeddings")
    grams = docs.select(col("doc_id"), TextOps.charNgrams("text", 4).as("grams"))
    docsBytes = {
      val p = new Path(s"$root/input/documents")
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getContentSummary(p).getLength
    }
    Trace.layer("dedup.build") {
      DedupIndex.build(docs.filter(col("doc_id") < BaseN), "text", "doc_id",
        K, RowsPerBand, ddir)
    }
    Trace.layer("vec.build") {
      VectorIndex.build(vecs.filter(col("vec_id") < BaseN), Gen.Dim,
        LloydSteps, PqSub, Gen.Dim / PqSub, PqK, vdir,
        gateBits = Some(GateBits))
    }
    liveDocs.clear(); liveDocs ++= 0L until BaseN
    liveVecs.clear(); liveVecs ++= 0L until BaseN
    nextBatch = 0
    admittedDocs = 0; admittedVecs = 0
  }

  def discard(): Unit = Fs.deleteTree(java.nio.file.Paths.get(root))

  private def ownedBy[A](body: => A): A =
    leases.foldLeft(() => body) { case (f, (lr, l)) =>
      () => WriterLease.asOwner(spark, lr, l)(f())
    }()

  // ---- the operations ---------------------------------------------------

  private def range(c: String, b: Int) = {
    val lo = BaseN + b.toLong * Batch
    col(c) >= lo && col(c) < lo + Batch
  }

  private def pushMin: Long = Knobs.long(spark,
    "graft.gate.pushdownMinBytes", 256L << 20, min = 0)

  /** d12's probe, with its cost-based touched-bucket pushdown. */
  private def textCandidates(arrivals: DataFrame): DataFrame = {
    val storeB = ArtifactManifest.liveBytes(spark, s"$ddir/buckets")
    DedupIndex.probe(DedupIndex.load(spark, ddir), arrivals, "text",
      "doc_id", pushTouched = storeB > pushMin, storeBytes = Some(storeB))
  }

  /** s13's gate inputs: the encoded batch and the stored side it probes. */
  private def vecGateFrames(arriving: DataFrame): (DataFrame, DataFrame) = {
    val lv = VectorIndex.load(spark, vdir)
    val enc = SimilarityOps.withNorm(arriving, "embedding", "n")
      .withColumn("cell", SimilarityOps.ivfAssign(lv.cents, Gen.Dim))
      .withColumn("bucket", SimilarityOps.signBucket("embedding", GateBits))
    (enc, VectorIndex.gateStored(spark, vdir, GateBits, lv.gateBits, enc))
  }

  private def batch(r: Recorder, timed: Boolean): Unit = {
    val b = nextBatch
    require(b < PoolBatches, "the arrival pool is exhausted")
    nextBatch += 1
    def op[A](kind: String)(body: => A): A =
      if (timed) r.op(kind)(body) else body
    val arrivals = docs.filter(range("doc_id", b))
    val arrivingV = vecs.filter(range("vec_id", b))
    val traced = timed && Trace.on
    // the gates' candidate and confirmed pairs, counted on the state the
    // batch will see (its appends may compact that state away)
    if (traced) Trace.aux {
      val cand = textCandidates(arrivals)
      val (enc, stored) = vecGateFrames(arrivingV)
      gateCounts += ((cand.count() +
        SimilarityOps.gateCandidates(stored, enc).count(),
        confirmedText(cand) + SimilarityOps.confirmedPairs(stored, enc,
          CosThreshold).count()))
    }
    val gensBefore = generations()
    var admD, admV = Seq.empty[Long]
    op("ingest_batch") {
      ownedBy {
        val cand = Trace.layer("dedup.probe")(textCandidates(arrivals))
        admD = Trace.layer("dedup.gate") {
          DedupIndex.gateDecisions(cand,
            DedupIndex.memberPrune(spark, ddir, docs, "doc_id",
                orKeep = range("doc_id", b))
              .select(col("doc_id"), TextOps.charNgrams("text", 4).as("grams")),
            arrivals, "doc_id", JacThreshold,
            semiFilter = docsBytes > pushMin)
            .filter(col("admitted")).select("doc_id").collect()
            .map(_.getLong(0)).toSeq
        }
        Trace.layer("dedup.append") {
          DedupIndex.append(spark, ddir,
            arrivals.filter(col("doc_id").isin(admD: _*)), "text", "doc_id",
            compactEvery = CompactEvery)
        }
        admV = Trace.layer("vec.gate") {
          val (enc, stored) = vecGateFrames(arrivingV)
          SimilarityOps.ingestGate(stored, enc, CosThreshold)
            .filter(col("admitted")).select("vec_id").collect()
            .map(_.getLong(0)).toSeq
        }
        Trace.layer("vec.append") {
          VectorIndex.append(spark, vdir,
            arrivingV.filter(col("vec_id").isin(admV: _*)),
            compactEvery = CompactEvery)
        }
      }
    }
    liveDocs ++= admD; liveVecs ++= admV
    admittedDocs += admD.size; admittedVecs += admV.size
    if (timed) {
      r.check(s"batch $b admits at least one document and one vector")(
        admD.nonEmpty && admV.nonEmpty)
      // an append adds a generation; fewer than that means it compacted
      val compacted = generations().zip(gensBefore)
        .count { case (after, before) => after <= before }
      compactions += compacted
      if (compacted > 0) compactedBatches += r.samples.last.s
      if (traced) Trace.aux {
        batchInBytes += (0L until Batch).map(i =>
          docBytes(BaseN + b * Batch + i) + VecBytes).sum.toDouble
        liveFiles += (liveFilesOf(s"$ddir/buckets") +
          liveFilesOf(s"$vdir/corpus")).toDouble
        spaceAmp += (ArtifactManifest.liveBytes(spark, s"$ddir/buckets") +
          ArtifactManifest.liveBytes(spark, s"$vdir/corpus")).toDouble /
          (liveDocs.toSeq.map(docBytes).sum + liveVecs.size * VecBytes)
      }
    }
    op("topk") {
      val lv = Trace.layer("vec.load")(VectorIndex.load(spark, vdir))
      Trace.layer("vec.serve") {
        VectorIndex.serveTopK(lv, Gen.Dim / PqSub, Queries, TopK).collect()
      }
    }
  }

  /** Live generations of the text and the vector artifact. */
  private def generations(): Seq[Int] = Trace.aux {
    Seq(s"$ddir/buckets", s"$vdir/corpus")
      .map(d => ArtifactManifest.latest(spark, d).map(_.generations.size)
        .getOrElse(0))
  }

  private def liveFilesOf(dir: String): Int =
    ArtifactManifest.pinnedFrame(spark, dir)._2.inputFiles.length

  private def confirmedText(cand: DataFrame): Long = {
    val g = grams.select(col("doc_id"), col("grams"))
    cand.join(g.withColumnRenamed("doc_id", "a")
        .withColumnRenamed("grams", "ga"), "a")
      .join(g.withColumnRenamed("doc_id", "b")
        .withColumnRenamed("grams", "gb"), "b")
      .filter(round(graft.operators.DedupOps.jaccard(col("ga"), col("gb")),
        4) >= JacThreshold).count()
  }

  private def takedown(i: Int, r: Recorder, timed: Boolean): Unit = {
    val g = Gen.rng(seed, 900L + i)
    val td = g.shuffle(liveDocs.toSeq).take(Tombstones)
    val tv = g.shuffle(liveVecs.filter(_ >= Queries).toSeq).take(Tombstones)
    import spark.implicits._
    def op[A](kind: String)(body: => A): A =
      if (timed) r.op(kind)(body) else body
    op("takedown") {
      ownedBy {
        Trace.layer("takedown.dedup") {
          DedupIndex.delete(spark, ddir, td.toDF("doc_id"))
        }
        Trace.layer("takedown.vec") {
          VectorIndex.delete(spark, vdir, tv.toDF("vec_id"))
        }
      }
    }
    liveDocs --= td; liveVecs --= tv
  }

  def warmup(r: Recorder): Unit = {
    leases = Seq(ddir, vdir).map(leaseRoot).map(lr =>
      lr -> WriterLease.acquire(spark, lr))
    batch(r, timed = false)
    takedown(-1, r, timed = false)
  }

  def cycle(i: Int, r: Recorder): Unit = {
    val before = compactions
    (0 until BatchesPerCycle).foreach(_ => batch(r, timed = true))
    takedown(i, r, timed = true)
    if (i == 0) firstCycleCompactions = compactions - before
  }

  def finish(r: Recorder): Unit = {
    leases.foreach { case (_, l) => WriterLease.release(spark, l) }
    r.check("the text index serves exactly built ∪ admitted − tombstoned")(
      DedupIndex.load(spark, ddir).buckets.select("doc_id").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq == liveDocs.toSeq)
    r.check("the vector index serves exactly built ∪ admitted − tombstoned")(
      VectorIndex.load(spark, vdir).corpus.select("vec_id")
        .collect().map(_.getLong(0)).sorted.toSeq == liveVecs.toSeq)
  }

  def named(r: Recorder): Seq[Metric] = {
    val (tail, _) = Stats.tail(r.of("ingest_batch"))
    Seq(Metric("ingest_batch_s", Stats.median(r.of("ingest_batch")), "s"),
      Metric("ingest_batch_tail_s", tail, "s"),
      Metric("topk_ms", Stats.median(r.of("topk")) * 1e3, "ms"),
      Metric("takedown_s", Stats.median(r.of("takedown")), "s"))
  }

  def layers(t: TraceView): Seq[Metric] = {
    val batches = t.named("op.ingest_batch")
    val firstBatch = t.within("op.ingest_batch", t.first).head
    val outBytes = batches.map(b => t.jobs(b).map(_.outBytes).sum.toDouble)
    val firstServe = t.within("op.topk", t.first).head
    Seq(
      Metric("dedup.probe_s", t.med(t.durs("dedup.probe")), "s"),
      Metric("dedup.gate_s", t.med(t.durs("dedup.gate")), "s"),
      Metric("dedup.append_s", t.med(t.durs("dedup.append")), "s"),
      Metric("vec.gate_s", t.med(t.durs("vec.gate")), "s"),
      Metric("vec.append_s", t.med(t.durs("vec.append")), "s"),
      Metric("artifact.jobs_per_batch", t.jobs(firstBatch).size.toDouble,
        "count"),
      Metric("artifact.write_amp", t.med(outBytes.zip(batchInBytes)
        .map { case (o, i) => o / i }), "ratio"),
      Metric("gate.confirm_ratio", gateCounts.map(_._2).sum.toDouble /
        math.max(1L, gateCounts.map(_._1).sum), "ratio"),
      Metric("lease.heartbeats", t.med(TraceView.fsDeltas.map(_("heartbeat")
        .toDouble).toSeq), "count"),
      Metric("artifact.compactions", firstCycleCompactions.toDouble, "count"),
      Metric("artifact.compact_batch_s", Stats.median(compactedBatches.toSeq),
        "s"),
      Metric("vec.load_s", t.med(t.durs("vec.load")), "s"),
      Metric("vec.serve_jobs", t.jobs(firstServe).size.toDouble, "count"),
      Metric("artifact.live_files", t.med(liveFiles.toSeq), "count"),
      Metric("artifact.space_amp", t.med(spaceAmp.toSeq), "ratio"),
      Metric("takedown.dedup_s", t.med(t.durs("takedown.dedup")), "s"),
      Metric("takedown.vec_s", t.med(t.durs("takedown.vec")), "s"),
      Metric("dedup.build_s", t.med(t.durs("dedup.build")), "s"),
      Metric("vec.build_s", t.med(t.durs("vec.build")), "s"),
      Metric("vec.build_jobs", t.named("vec.build").headOption
        .map(t.jobs(_).size.toDouble).getOrElse(0.0), "count"))
  }

  override def info: Map[String, Any] = Map("base_docs" -> BaseN,
    "base_vectors" -> BaseN, "batch" -> Batch,
    "batches" -> nextBatch, "admitted_docs" -> admittedDocs,
    "admitted_vectors" -> admittedVecs, "compact_every" -> CompactEvery)
}

object CorpusIngest {
  val BaseN = 600L
  val Batch = 40
  val PoolBatches = 16
  val BatchesPerCycle = 1
  val CompactEvery = 2
  val Tombstones = 6
  val K = 4
  val RowsPerBand = 2
  val JacThreshold = 0.5
  val LloydSteps = 2
  val PqSub = 8
  val PqK = 16
  val GateBits = 4
  val CosThreshold = 0.35
  val Queries = 32L
  val TopK = 10
}
