package graft

import org.apache.spark.sql.functions._
import graft.functions.{BloomAgg, BloomSketch}
import graft.operators.BloomPrune

class BloomSpec extends SparkSpec {
  import spark.implicits._

  test("bloom never false-negatives and holds the sized fp rate") {
    val n = 2000L
    val (bits, k) = BloomSketch.sizing(n, 0.01)
    val members = spark.range(0, n).select((col("id") * 7 + 3).as("key"))
    val sketch = BloomPrune.build(members, "key", bits, k)
    // no false negatives: every inserted key probes true (the property
    // pruning correctness rests on — a miss here would DROP joinable
    // fact rows)
    val missed = members.as[Long].collect()
      .count(key => !BloomSketch.mightContain(sketch, key, k))
    assert(missed === 0)
    // false positives bounded near the sized target: probe 20k keys
    // disjoint from the member set (members are ≡3 mod 7; probes at
    // *7+4 are ≡4 mod 7). Deterministic — fixed keys, fixed mixing.
    val probes = (0L until 20000L).map(_ * 7 + 4)
    val fps = probes.count(BloomSketch.mightContain(sketch, _, k))
    val rate = fps.toDouble / probes.size
    assert(rate < 0.03, s"fp rate $rate at sized 1% target")
  }

  test("the treeAggregate build sets exactly the bits of the BloomAgg " +
      "aggregate, with NULL keys, an empty frame and many partitions") {
    def viaAgg(keys: org.apache.spark.sql.DataFrame, bits: Int,
        k: Int): Seq[Long] = {
      val row = keys.select(col("key").cast("long").as("k"))
        .where(col("k").isNotNull)
        .agg(BloomAgg(bits, k)(col("k"))).head()
      if (row.isNullAt(0)) BloomSketch.alloc(bits).toSeq
      else row.getSeq[Long](0)
    }
    val withNulls = spark.range(0, 3000, 1, 7).select(
      when(col("id") % 5 === 0, lit(null)).otherwise(col("id") * 13)
        .as("key"))
    val empty = withNulls.where(lit(false))
    val allNull = withNulls.where(col("key").isNull)
    val ints = spark.range(0, 500).select(col("id").cast("int").as("key"))
    for ((name, keys) <- Seq("nulls" -> withNulls, "empty" -> empty,
        "all-null" -> allNull, "int keys" -> ints);
        (bits, k) <- Seq((640, 3), (BloomSketch.sizing(3000L, 0.02))))
      assert(BloomPrune.build(keys, "key", bits, k).toSeq ===
        viaAgg(keys, bits, k), s"$name at ($bits, $k)")
    assert(BloomPrune.build(empty, "key", 640, 3).forall(_ == 0L))
  }

  test("sizing follows the standard bloom formulas") {
    val (bits, k) = BloomSketch.sizing(1000000L, 0.01)
    // -n ln p / ln^2 2 ≈ 9.585 bits/key at 1%
    assert(bits >= 9500000 && bits <= 9700000, s"bits=$bits")
    assert(k === 7, s"k=$k") // (bits/n) ln 2 ≈ 6.64 → rounds to 7
    assert(bits % 64 === 0)
  }

  test("sizing caps at the array limit with the degraded fp rate " +
      "computed (and k consistent with the capped size)") {
    val n = 10000000000L // 10B keys want ~96G bits at 1%
    val (bits, k) = BloomSketch.sizing(n, 0.01)
    assert(bits === (1L << 31) - 64)
    assert(bits % 64 === 0)
    // k re-derived from the CAPPED bits/key ratio (~0.21), not the
    // requested rate's 7
    assert(k === 1, s"k=$k")
    // the capped sketch is honest about being nearly useless here
    val pEff = BloomSketch.effectiveFpp(n, bits, k)
    assert(pEff > 0.9, s"pEff=$pEff")
    // and at the sized (uncapped) geometry the formula recovers ~p
    val (b2, k2) = BloomSketch.sizing(1000000L, 0.01)
    val p2 = BloomSketch.effectiveFpp(1000000L, b2, k2)
    assert(p2 > 0.005 && p2 < 0.015, s"p2=$p2")
  }

  test("pruned join returns exactly the plain join's rows") {
    val dim = spark.range(0, 50).select((col("id") * 13).as("key"),
      concat(lit("d"), col("id")).as("attr"))
    val fact = spark.range(0, 5000).select((col("id") % 650).as("key"),
      col("id").as("v"))
    val (bits, k) = BloomPrune.buildSized(dim, "key", 50L, 0.01)
    val pruned = BloomPrune.prune(fact, "key", bits, k)
      .join(dim, Seq("key")).orderBy("key", "v")
      .as[(Long, Long, String)].collect().toSeq
    val plain = fact.join(dim, Seq("key")).orderBy("key", "v")
      .as[(Long, Long, String)].collect().toSeq
    assert(pruned === plain)
    assert(pruned.nonEmpty) // the equality is not vacuous
  }

  test("bloom probe prunes the fact side before the join and stays " +
      "in codegen") {
    // fallback disabled: a broken doGenCode throws instead of silently
    // interpreting (the native-expression discipline). Restore the
    // PRIOR value, not a hardcoded one — the shared test session's
    // default must survive this suite in any order.
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val dim = spark.range(0, 100).select((col("id") * 101).as("key"))
      val fact = spark.range(0, 100000)
        .select((col("id") % 10100).as("key"), col("id").as("v"))
      val (bits, k) = BloomPrune.buildSized(dim, "key", 100L, 0.01)
      val pruned = BloomPrune.prune(fact, "key", bits, k)
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("bloom_might_contain"), plan)
      assert(plan.contains("*(1)"), plan) // whole-stage codegen span
      // selectivity: 100 of 10100 distinct key values are members →
      // ~1% survives (+ fp). A count far under the input row count is
      // the pruning working; the exact join then needs only these.
      val kept = pruned.count()
      assert(kept >= 100000L / 101, s"kept=$kept (dropped true matches?)")
      assert(kept < 5000L, s"kept=$kept of 100000 — not pruning")
    } finally spark.conf.set("spark.sql.codegen.fallback", prevFallback)
  }

  test("null keys drop at the probe (they cannot equi-join)") {
    val dim = spark.range(0, 10).select(col("id").as("key"))
    val (bits, k) = BloomPrune.buildSized(dim, "key", 10L, 0.01)
    val fact = Seq[(java.lang.Long, Long)]((1L, 10L), (null, 11L),
      (3L, 12L)).toDF("key", "v")
    val kept = BloomPrune.prune(fact, "key", bits, k)
      .select("v").as[Long].collect().toSeq.sorted
    assert(kept === Seq(10L, 12L))
  }

  test("merging differently-sized sketches is refused — OR-ing " +
      "mismatched bitsets would silently drop keys (false negatives)") {
    val e = intercept[IllegalArgumentException] {
      graft.functions.BloomSketch.merge(new Array[Long](4),
        new Array[Long](8))
    }
    assert(e.getMessage.contains("sizes differ"))
  }

  test("empty dim yields an all-reject sketch, not a crash") {
    val dim = spark.range(0, 10).filter(col("id") < 0)
      .select(col("id").as("key"))
    val bits = BloomPrune.build(dim, "key", 640, 3)
    assert(bits.forall(_ === 0L))
    val fact = spark.range(0, 100).select(col("id").as("key"))
    assert(BloomPrune.prune(fact, "key", bits, 3).count() === 0L)
  }

  test("expression equality uses the content digest, not identity") {
    import graft.functions.BloomMightContain
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference}
    import org.apache.spark.sql.types.LongType
    val attr = AttributeReference("k", LongType)()
    val bitsA = Seq(1L, 2L, 3L)
    val bitsB = Seq(1L, 2L, 4L)
    // equal content (distinct Seq instances) → equal expressions: plan
    // canonicalization and subexpression elimination depend on this
    val e1 = BloomMightContain(attr, Seq(1L, 2L, 3L), 2)
    val e2 = BloomMightContain(attr, bitsA.map(identity), 2)
    assert(e1 === e2 && e1.hashCode === e2.hashCode)
    // different content or k → different expressions (a digest
    // collision is ~2^-128)
    assert(e1 !== BloomMightContain(attr, bitsB, 2))
    assert(e1 !== BloomMightContain(attr, bitsA, 3))
  }

  test("d10 decontamination past the broadcast budget: the " +
      "BloomPrune-fronted join is hit-identical to the broadcast " +
      "path, and the size switch takes it") {
    val d = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, d)
    def hits(useBloom: Boolean) =
      DedupQueries.decontamJoined(docs, useBloom)
        .groupBy(col("doc_id"))
        .agg(countDistinct(col("g")).as("n_hits"))
        .as[(Long, Long)].collect().toSeq.sorted
    val bc = hits(useBloom = false)
    val bl = hits(useBloom = true)
    assert(bc.nonEmpty, "decontamination found no hits — the " +
      "equality tested nothing")
    assert(bl === bc)
    // the bloom path really fronts the stream with the codegen'd
    // probe (no explicit eval-set broadcast hint)
    val plan = DedupQueries.decontamJoined(docs, useBloom = true)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), plan)
    // and the d10 query's size switch takes the bloom path when the
    // documents table outgrows the configured budget — identical
    // output through the switch
    spark.conf.set("graft.decontam.broadcastMaxBytes", "1")
    try {
      val viaSwitch = SparkEntry.queries("d10_decontaminate")(spark, d)
        .as[(Long, Long)].collect().toSeq.sorted
      assert(viaSwitch === bc)
    } finally spark.conf.unset("graft.decontam.broadcastMaxBytes")
  }

  test("sketch artifact round-trips through save/load") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-bloom").toString
    try {
      val dim = spark.range(0, 500).select((col("id") * 3).as("key"))
      val (bits, k) = BloomPrune.buildSized(dim, "key", 500L, 0.05)
      graft.operators.DedupIndex.saveMembers(spark, bits, k, dir)
      val (bits2, k2) =
        graft.operators.DedupIndex.loadMembers(spark, dir).get
      assert(k2 === k)
      assert(bits2.toSeq === bits.toSeq)
    } finally org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir))
  }
}
