package graft

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.functions._
import graft.operators.{DedupIndex, Knobs, WriterLease}

/** RawLocalFileSystem that REWRITES a freshly-renamed lease file with
  * a rival's token — the deterministic form of the two-stealer
  * read-back race: our create-exclusive wins, but by the time we read
  * the lease back a rival's steal has landed over it. Registered
  * per-test via `fs.rivaltok.impl`.
  */
class RivalTokenFileSystem
  extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "rivaltok"
  override def getUri: java.net.URI =
    java.net.URI.create("rivaltok:///")
  override def rename(src: HPath, dst: HPath): Boolean = {
    val ok = super.rename(src, dst)
    if (ok && dst.getName == "lease") {
      val out = create(dst, true)
      try out.write("rival-token".getBytes(
        java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    ok
  }
}

/** The knob surface's refuse-loudly contract: every `graft.*`
  * session override parses through [[Knobs]], so a typo'd or
  * pathological value names its key and legal range instead of
  * silently degrading the behavior the knob protects. Documented
  * sentinels (0 = force / disable) stay legal.
  */
class KnobsSpec extends SparkSpec {

  private def withConf[A](key: String, v: String)(f: => A): A = {
    spark.conf.set(key, v)
    try f finally spark.conf.unset(key)
  }

  private def refused(key: String, v: String)(f: => Any): Unit =
    withConf(key, v) {
      val e = intercept[IllegalArgumentException](f)
      assert(e.getMessage.contains(key),
        s"refusal does not name the key: ${e.getMessage}")
    }

  test("each knob refuses its pathological value naming the key; " +
      "documented sentinels stay legal") {
    // numeric garbage names the key instead of a bare
    // NumberFormatException from inside a gate
    refused("graft.gate.nativeSkipPayoff", "fast")(
      Knobs.long(spark, "graft.gate.nativeSkipPayoff", 2L, min = 0))
    // a negative payoff factor would force-engage the tier everywhere
    refused("graft.gate.nativeSkipPayoff", "-1")(
      Knobs.long(spark, "graft.gate.nativeSkipPayoff", 2L, min = 0))
    // 0 is the documented force sentinel — legal
    withConf("graft.gate.nativeSkipPayoff", "0") {
      assert(Knobs.long(spark, "graft.gate.nativeSkipPayoff", 2L,
        min = 0) === 0L)
    }
    refused("graft.gate.nativePushMaxValues", "-5")(
      Knobs.long(spark, "graft.gate.nativePushMaxValues", 65536L,
        min = 0))
    refused("graft.gate.pushdownMinBytes", "-1")(
      Knobs.long(spark, "graft.gate.pushdownMinBytes", 256L << 20,
        min = 0))
    refused("graft.decontam.broadcastMaxBytes", "128MB")(
      Knobs.long(spark, "graft.decontam.broadcastMaxBytes",
        128L << 20, min = 0))
    // zero-row pages would wedge the index writers
    refused("graft.index.pageRowLimit", "0")(
      Knobs.long(spark, "graft.index.pageRowLimit", 2048L, min = 1))
    refused("graft.index.targetFileBytes", "0")(
      Knobs.long(spark, "graft.index.targetFileBytes", 512L << 20,
        min = 1))
    refused("graft.cdc.stagedReapHorizonMs", "-2")(
      Knobs.long(spark, "graft.cdc.stagedReapHorizonMs", 3600000L,
        min = 0))
    // a recall bar outside [0, 1] can never refuse (negative) or
    // never admit (> 1) — both silently defeat the report
    refused("graft.gate.adcMinRecall", "-0.5")(
      Knobs.double(spark, "graft.gate.adcMinRecall", 1.0, 0.0, 1.0))
    refused("graft.gate.adcMinRecall", "1.5")(
      Knobs.double(spark, "graft.gate.adcMinRecall", 1.0, 0.0, 1.0))
    refused("graft.gate.adcMinRecall", "NaN")(
      Knobs.double(spark, "graft.gate.adcMinRecall", 1.0, 0.0, 1.0))
    // contains("true") used to read a typo'd TRUE as FALSE — the
    // override the operator believed they set, silently dropped
    refused("graft.gate.adcForce", "TRUE")(
      Knobs.flag(spark, "graft.gate.adcForce"))
    withConf("graft.gate.adcForce", "true") {
      assert(Knobs.flag(spark, "graft.gate.adcForce"))
    }
    // all three parsers share the same whitespace tolerance: a
    // trailing space from a shell-exported value must not flip a
    // legal 'true ' into a refusal while ' 2 ' parses fine
    withConf("graft.gate.adcForce", " true ") {
      assert(Knobs.flag(spark, "graft.gate.adcForce"))
    }
    withConf("graft.gate.nativeSkipPayoff", " 2 ") {
      assert(Knobs.long(spark, "graft.gate.nativeSkipPayoff", 0L,
        min = 0) === 2L)
    }
    withConf("graft.gate.adcMinRecall", " 0.5 ") {
      assert(Knobs.double(spark, "graft.gate.adcMinRecall", 1.0,
        0.0, 1.0) === 0.5)
    }
    // every refusal is the DEDICATED type, so best-effort fallbacks
    // can rethrow misconfiguration without also rethrowing the lease
    // protocol's transient IllegalArgumentExceptions
    withConf("graft.gate.adcForce", "TRUE") {
      intercept[Knobs.Refused](
        Knobs.flag(spark, "graft.gate.adcForce"))
    }
  }

  test("wired paths refuse: a zero steal horizon would make every " +
      "live writer's lease instantly stealable — the second acquire " +
      "refuses the conf instead of stealing") {
    withTempDir("graft-knob-lease") { root =>
      val a = WriterLease.acquire(spark, root)
      try refused("graft.lease.stealHorizonMs", "0")(
        WriterLease.acquire(spark, root))
      finally WriterLease.release(spark, a)
    }
  }

  test("wired paths refuse: stream state-partition count must be a " +
      "positive integer (a zero-partition child session would fail " +
      "obscurely inside the state store)") {
    refused("graft.stream.statePartitions", "0")(
      graft.streaming.StreamingOps.streamSession(spark))
    refused("graft.stream.statePartitions", "many")(
      graft.streaming.StreamingOps.streamSession(spark))
  }

  test("the ADC serving fallback never swallows a knob refusal: a " +
      "misconfigured steal horizon read under lease contention " +
      "propagates out of the best-effort persist") {
    import graft.operators.{SimilarityOps, VectorIndex}
    withTempDir("graft-knob-adc") { root =>
      val dir = s"$root/idx"
      val d = "/root/testdata/sf0.001"
      val bits = SimilarityQueries.VecGateBits
      val e = Tables.embeddings(spark, d)
      VectorIndex.build(e.filter(col("vec_id") < 200)
          .select("vec_id", "embedding"),
        64, 1, 8, 8, 16, dir, gateBits = Some(bits))
      val l = VectorIndex.load(spark, dir)
      val batch = SimilarityOps.withNorm(
          e.filter(col("vec_id") >= 200 && col("vec_id") < 260),
          "embedding", "n")
        .withColumn("cell", SimilarityOps.ivfAssign(l.cents, 64))
        .withColumn("bucket",
          SimilarityOps.signBucket("embedding", bits))
      val (v, st) = VectorIndex.gateStoredPinned(spark, dir, bits,
        l.gateBits, batch)
      // hold the lease from "another process" so the persist path
      // actually reads the steal horizon
      val lease = WriterLease.acquire(spark, s"${dir}__lock")
      try refused("graft.lease.stealHorizonMs", "fifteen minutes") {
        VectorIndex.ensuredAdcPrefilter(spark, dir, l.books, 8,
          SimilarityQueries.AdcGateBar, v)(
          SimilarityOps.adcRecallReport(l.books, 8, 0.35,
            SimilarityQueries.AdcGateBar)(batch, st))
      } finally WriterLease.release(spark, lease)
    }
  }

  test("the ADC serving fallback absorbs the lease protocol's " +
      "transient two-stealer read-back race — an " +
      "IllegalArgumentException that is NOT a knob refusal serves " +
      "the computed bands instead of failing the query") {
    import graft.operators.VectorIndex
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.rivaltok.impl",
      classOf[RivalTokenFileSystem].getName)
    try withTempDir("graft-knob-race") { local =>
      import spark.implicits._
      val dir = s"rivaltok://$local/idx"
      // no committed report beside dir → the ensure path computes
      // the bands and tries to persist; the rival filesystem makes
      // every lease acquire lose the read-back race (the "taken
      // over" IllegalArgumentException)
      val bands = Seq((19L, 10L, 10L, 1.0))
        .toDF("band", "n_conf", "n_kept", "recall")
      val books: graft.operators.ProductQuantization.Codebooks =
        Array(Array(Array(0.0)))
      val pf = VectorIndex.ensuredAdcPrefilter(spark, dir, books, 1,
        0.5, -1L)(bands)
      assert(pf.bar === 0.5)
      // the persist genuinely lost: no stamp was committed
      val stamp = new HPath(s"$local/idx/adc_report/stamp.state")
      assert(!stamp.getFileSystem(conf).exists(stamp))
    } finally conf.unset("fs.rivaltok.impl")
  }

  test("wired paths refuse: the native tier's knobs are validated at " +
      "the tier decision, not deep in the scan") {
    import spark.implicits._
    val stored = Seq((1L, 0L, 10L), (2L, 0L, 20L))
      .toDF("doc_id", "band", "bucket")
    val wide = spark.range(DedupIndex.PushMaxValues + 10L)
      .select(col("id").as("bucket"))
    val np = DedupIndex.NativePush(
      _ => stored, () => Long.MaxValue, () => 2048L)
    refused("graft.gate.nativePushMaxValues", "lots")(
      DedupIndex.touchedPrune(stored, wide, push = true,
        native = Some(np)))
    refused("graft.gate.nativeSkipPayoff", "-1")(
      DedupIndex.touchedPrune(stored, wide, push = true,
        native = Some(np)))
  }
}
