package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Throughput probe on synthetic data well beyond the bench SF —
  * evidence that the operator shapes scale with rows, not with
  * driver-side loops. Generates data with `spark.range` (no disk
  * except the index-lifecycle probes, which write and then remove a
  * temp artifact — persistence is what they measure), so the numbers
  * isolate operator cost. Run: `sbt "runMain graft.ScaleProbe"`; pass
  * substrings as args to run only matching probes (e.g.
  * `runMain graft.ScaleProbe seq-pack` re-measures one operator
  * without the full hour).
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local("graft-probe")
    import spark.implicits._

    val only = args.toSeq
    // a probe runs iff some arg is a substring of its name; `want`
    // applies the SAME predicate to a setup block (or probe group),
    // so a substring-filtered run (e.g. `ScaleProbe seq-pack`) never
    // pays for excluded probes' data generation / caches / artifact
    // writes. The names passed here must be the FULL probe names —
    // a prefix would reject filter args that match only the name's
    // tail (e.g. `ScaleProbe 10k` matches "groupBy agg (10k keys)"
    // in time() but not the prefix "groupBy agg").
    def want(names: String*): Boolean =
      only.isEmpty || names.exists(nm => only.exists(nm.contains))
    def time[A](name: String, rows: Long)(f: => A): Unit = {
      if (!want(name)) return
      val t0 = System.nanoTime()
      f
      val s = (System.nanoTime() - t0) / 1e9
      println(f"$name%-28s rows=$rows%,d  ${s}%.2f s  ${rows / s / 1e6}%.1f M rows/s")
    }

    // one recursive temp-tree delete for every probe that writes an
    // artifact (was four identical local copies)
    def rmTree(p: java.nio.file.Path): Unit = {
      if (java.nio.file.Files.isDirectory(p)) {
        val st = java.nio.file.Files.list(p)
        try st.forEach(rmTree) finally st.close()
      }
      java.nio.file.Files.deleteIfExists(p)
    }

    val n = 20000000L
    lazy val events = {
      val e = spark.range(n).select(
        col("id"),
        (col("id") % 10000).as("series"),
        (col("id") * 37 % 1000000).as("tsec"),
        (pmod(hash(col("id")), lit(10000)) / 100.0).as("v"))
        .cache()
      e.count() // materialize outside the timings
      e
    }
    if (want("groupBy agg (10k keys)", "window lag/gap flags",
        "running sum window", "count-min sketch (4x1024)")) events

    time("groupBy agg (10k keys)", n) {
      events.groupBy("series").agg(sum("v"), avg("v"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()
    }
    time("window lag/gap flags", n) {
      val w = Window.partitionBy("series").orderBy("tsec", "id")
      events.select((col("tsec") - lag("tsec", 1).over(w) > 100).as("g"))
        .write.format("noop").mode("overwrite").save()
    }
    time("running sum window", n) {
      val w = Window.partitionBy("series").orderBy("tsec", "id")
        .rowsBetween(Window.unboundedPreceding, 0)
      events.select(sum("v").over(w))
        .write.format("noop").mode("overwrite").save()
    }

    // sequence packing at corpus shape: 20M docs over THREE languages.
    // The naive per-lang cumsum window serializes each language's
    // ~6.7M-row token stream through ONE task; the hierarchical form
    // (PackOps.packBins) bounds every window at shardSize rows and
    // reduces the cross-shard carry to a broadcast offsets table.
    // Identical bins — ScaleOpsSpec proves value equality and the
    // plan shape; this times both at a scale where the serialization
    // actually bites.
    val packDocs = spark.range(n).select(
      element_at(typedLit(Seq("en", "de", "zh")),
        (pmod(col("id"), lit(3)) + 1).cast("int")).as("lang"),
      col("id").as("doc_id"),
      (pmod(hash(col("id")), lit(500)) + 1).cast("long").as("toks"))
    time("seq-pack naive window (20M)", n) {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      packDocs
        .withColumn("prefix", coalesce(sum(col("toks")).over(w), lit(0L)))
        .withColumn("bin", floor(col("prefix") / 2048L).cast("long"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("sum_toks"))
        .write.format("noop").mode("overwrite").save()
    }
    time("seq-pack hierarchical (20M)", n) {
      graft.operators.PackOps
        .packBins(packDocs, "lang", "doc_id", "toks", budget = 2048L)
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("sum_toks"))
        .write.format("noop").mode("overwrite").save()
    }
    // the worst case the hierarchy exists for: ONE dominant group (en
    // is ~2/3 of real corpora) — the naive window funnels ALL rows
    // through a single sorting task no matter how many executors
    // exist, the hierarchical form keeps every task at shardSize rows
    val packOneN = 50000000L
    val packOne = spark.range(packOneN).select(
      lit("en").as("lang"), col("id").as("doc_id"),
      (pmod(hash(col("id")), lit(500)) + 1).cast("long").as("toks"))
    time("seq-pack naive 1-group (50M)", packOneN) {
      val w = Window.partitionBy(col("lang")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, -1)
      packOne
        .withColumn("prefix", coalesce(sum(col("toks")).over(w), lit(0L)))
        .withColumn("bin", floor(col("prefix") / 2048L).cast("long"))
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("sum_toks"))
        .write.format("noop").mode("overwrite").save()
    }
    time("seq-pack hier 1-group (50M)", packOneN) {
      graft.operators.PackOps
        .packBins(packOne, "lang", "doc_id", "toks", budget = 2048L)
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("sum_toks"))
        .write.format("noop").mode("overwrite").save()
    }

    // duplicate-cluster fixpoint over a star-shaped candidate graph
    // (groups of 5, the near-clique shape LSH produces): 2M docs,
    // 1.6M candidate pairs, converges in 2 rounds + 1 confirm.
    val docsN = 2000000L
    time("dup clusters (2M docs)", docsN) {
      val docs = spark.range(docsN).select(col("id").as("doc_id"))
      val pairs = spark.range(docsN)
        .filter(col("id") % 5 =!= 0)
        .select((col("id") - col("id") % 5).as("a"), col("id").as("b"))
      graft.operators.DedupOps
        .duplicateClusters(docs, pairs, "doc_id")
        .write.format("noop").mode("overwrite").save()
      print(s"  [rounds=${graft.operators.DedupOps.lastIterations}] ")
      spark.catalog.clearCache()
    }

    // same graph, seeded with the bucket-local min (each group of 5 is
    // one bucket — the near-clique shape LSH produces): the seed IS
    // the fixpoint, so the loop pays only its confirming round
    time("dup clusters seeded (2M)", docsN) {
      val docs = spark.range(docsN).select(col("id").as("doc_id"))
      val buckets = spark.range(docsN).select(
        col("id").as("doc_id"), lit(0L).as("band"),
        (col("id") - col("id") % 5).as("bucket"))
      val pairs = spark.range(docsN)
        .filter(col("id") % 5 =!= 0)
        .select((col("id") - col("id") % 5).as("a"), col("id").as("b"))
      graft.operators.DedupOps
        .duplicateClusters(docs, pairs, "doc_id", initLabels =
          Some(graft.operators.DedupOps.bucketLocalMin(buckets, "doc_id")))
        .write.format("noop").mode("overwrite").save()
      print(s"  [rounds=${graft.operators.DedupOps.lastIterations}] ")
      spark.catalog.clearCache()
    }

    // same candidate graph through the alternating star algorithm —
    // the deep-graph path — PLUS a worst case min-propagation cannot
    // touch: one 100k-node chain (diameter 100k; star needs ~log n
    // rounds).
    time("star clusters (2M docs)", docsN) {
      val docs = spark.range(docsN).select(col("id").as("doc_id"))
      val pairs = spark.range(docsN)
        .filter(col("id") % 5 =!= 0)
        .select((col("id") - col("id") % 5).as("a"), col("id").as("b"))
      graft.operators.DedupOps
        .duplicateClustersStar(docs, pairs, "doc_id")
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    val chainN = 100000L
    time("star clusters (100k chain)", chainN) {
      val docs = spark.range(chainN).select(col("id").as("doc_id"))
      val pairs = spark.range(chainN - 1)
        .select(col("id").as("a"), (col("id") + 1).as("b"))
      graft.operators.DedupOps
        .duplicateClustersStar(docs, pairs, "doc_id", maxRounds = 40)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }

    time("count-min sketch (4x1024)", n) {
      events.select(pmod(hash(col("id")).cast("long"),
          lit(graft.operators.DedupOps.MinHashP)).as("bh"))
        .agg(graft.functions.CountMinSketch(4, 1024)(col("bh")))
        .write.format("noop").mode("overwrite").save()
    }

    val m = 2000000L
    lazy val vecs = {
      val v = spark.range(m).select(col("id"),
        expr("transform(sequence(1, 64), i -> cast(pmod(hash(id * 64 + i), 1000) / 1000.0 as float))")
          .as("vec")).cache()
      v.count()
      v
    }
    if (want("vec_dot self (64-dim)", "pq_assign encode (8x16x8)",
        "pq_adc scan (8x16x8)", "ivfpq serve 1k-q batch")) vecs
    time("vec_dot self (64-dim)", m) {
      vecs.select(expr("vec_dot(vec, vec)"))
        .write.format("noop").mode("overwrite").save()
    }

    // native trained-index expressions at production shape — the
    // constant-size-codegen loops must sustain M rows/s, since at
    // 100 TB they run once per corpus row (encode) or per candidate
    // (assignment)
    val prnd = new scala.util.Random(5)
    val pqBooks = Array.fill(8)(Array.fill(16)(
      Array.fill(8)(prnd.nextDouble() * 0.4 - 0.2)))
    time("pq_assign encode (8x16x8)", m) {
      graft.operators.ProductQuantization
        .encode(vecs, "vec", pqBooks, 8, "code")
        .select("code")
        .write.format("noop").mode("overwrite").save()
    }
    // ADC serving: one pq_adc evaluation per (candidate, query) pair —
    // the innermost loop of a PQ index scan. Query travels as a column
    // (broadcast-table form), codebook as a reference object.
    time("pq_adc scan (8x16x8)", m) {
      val q = Array.fill(64)((prnd.nextDouble() * 0.4 - 0.2).toFloat)
      graft.operators.ProductQuantization
        .encode(vecs, "vec", pqBooks, 8, "code")
        .select(graft.operators.ProductQuantization.adcDistCol(
          col("code"), typedLit(q.toSeq), pqBooks, 8).as("d"))
        .write.format("noop").mode("overwrite").save()
    }
    // batch serving through ONE plan: a 1000-query table broadcast-
    // joined on cell against a 2M-vector encoded corpus (64 cells →
    // ~16 queries/cell → ~31M pair scores + per-query top-3). The
    // round-5 restructure's payoff measured: plan size is CONSTANT in
    // batch size (the old per-query union shape would build 1000 plan
    // branches and scan the corpus 1000×). The repartition is the
    // inverted-list build AND the materialization barrier — without
    // it, codegen's deferred evaluation re-runs the 8-subspace encode
    // per join MATCH: measured 9.7 s vs 1.4 s for the join+ADC pass,
    // and per-query ADC tables (pq_tables staged on the broadcast
    // side) replace 64 multiply-adds per pair with 8 loads.
    time("ivfpq serve 1k-q batch", m) {
      val enc = graft.operators.ProductQuantization
        .encode(vecs, "vec", pqBooks, 8, "code")
        .select(col("id").as("vec_id"), col("code"),
          pmod(hash(col("id")), lit(64)).cast("long").as("cell"))
        .repartition(32, col("cell"))
      val q = vecs.filter(col("id") < 1000)
        .select(col("id").as("q_id"),
          graft.operators.ProductQuantization.adcTablesCol(
            col("vec"), pqBooks, 8).as("qt"),
          pmod(hash(col("id")), lit(64)).cast("long").as("cell"))
      val topk = graft.functions.TopKMin(3)
      broadcast(q).join(enc, Seq("cell"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"),
          graft.operators.ProductQuantization.adcLookupCol(
            col("code"), col("qt"), pqBooks.head.length).as("d"))
        // sort-free top-k: a k-slot aggregator instead of a window —
        // row_number would sort all ~31M scored pairs
        .groupBy(col("q_id"))
        .agg(topk(col("d"), col("vec_id")).as("top"))
        .write.format("noop").mode("overwrite").save()
    }
    // batch-size crossover: past ~10^5 queries the broadcast side
    // (1 KB of ADC tables per query) outgrows executor broadcast
    // budgets; the alternative is a shuffle hash join on cell — the
    // corpus side pays NO new exchange (the barrier already partitions
    // it by cell), only the tiny query table shuffles. Measured at 10k
    // queries (~312M pair scores) across two runs: bcast 61-111 s,
    // shuffle 52-59 s. The shuffle form never lost and its spread is
    // far tighter (no per-task hashed-relation rebuild of a 10 MB
    // query table under memory pressure), so it is the safer default
    // once batches reach 10^4 queries.
    for ((mode, qjoin) <- Seq(
        ("bcast", (q: org.apache.spark.sql.DataFrame) => broadcast(q)),
        ("shuffle", (q: org.apache.spark.sql.DataFrame) =>
          q.repartition(32, col("cell")).hint("shuffle_hash")))) {
      time(s"ivfpq serve 10k-q $mode", m) {
        val enc = graft.operators.ProductQuantization
          .encode(vecs, "vec", pqBooks, 8, "code")
          .select(col("id").as("vec_id"), col("code"),
            pmod(hash(col("id")), lit(64)).cast("long").as("cell"))
          .repartition(32, col("cell"))
        val q = vecs.filter(col("id") < 10000)
          .select(col("id").as("q_id"),
            graft.operators.ProductQuantization.adcTablesCol(
              col("vec"), pqBooks, 8).as("qt"),
            pmod(hash(col("id")), lit(64)).cast("long").as("cell"))
        val topk = graft.functions.TopKMin(3)
        qjoin(q).join(enc, Seq("cell"))
          .filter(col("q_id") =!= col("vec_id"))
          .select(col("q_id"), col("vec_id"),
            graft.operators.ProductQuantization.adcLookupCol(
              col("code"), col("qt"), pqBooks.head.length).as("d"))
          .groupBy(col("q_id"))
          .agg(topk(col("d"), col("vec_id")).as("top"))
          .write.format("noop").mode("overwrite").save()
      }
    }
    val irnd = new scala.util.Random(9)
    val cellK = 64
    val ivfBooks = Array.fill(cellK)(
      Array.fill(64)(irnd.nextDouble() * 0.4 - 0.2))
    val ivfMns = ivfBooks.map(c => math.sqrt(c.map(x => x * x).sum))
    time(s"ivf_assign ($cellK cells)", m) {
      vecs.withColumn("n", expr("sqrt(vec_dot(vec, vec))"))
        .select(call_function("ivf_assign", col("vec"), col("n"),
          typedLit(ivfBooks.flatten.toSeq), typedLit(ivfMns.toSeq),
          typedLit((0L until cellK.toLong).toSeq), lit(64)))
        .write.format("noop").mode("overwrite").save()
    }

    // incremental dedup at ingest shape: build the LSH bucket index
    // once over a 2M-doc corpus (the only step that touches the
    // corpus; writes a temp artifact), then probe a 20k-doc arriving
    // batch — half exact copies of indexed docs (guaranteed bucket
    // collisions), half novel — against the store. The probe prices
    // what continuous ingestion actually pays per batch: the batch's
    // own signatures + one (band, bucket) equi-join.
    val dedupN = 2000000L
    val mkText = (base: org.apache.spark.sql.Column) => concat_ws(" ",
      (0 to 7).map(j => md5((base * 8 + j).cast("string"))): _*)
    val idxDocs = spark.range(dedupN)
      .select(col("id").as("doc_id"), mkText(col("id")).as("text"))
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft-probe-didx").toString
    time("dedup index build (2M)", dedupN) {
      graft.operators.DedupIndex.build(
        idxDocs, "text", "doc_id", 4, 2, idxDir)
    }
    val batch = spark.range(20000).select(
      (col("id") + 10000000L).as("doc_id"),
      mkText(when(col("id") < 10000, col("id"))
        .otherwise(col("id") + 30000000L)).as("text"))
    time("dedup index probe (20k)", 20000L) {
      graft.operators.DedupIndex.probe(
          graft.operators.DedupIndex.load(spark, idxDir),
          batch, "text", "doc_id")
        .write.format("noop").mode("overwrite").save()
    }
    locally {
      rmTree(java.nio.file.Paths.get(idxDir))
    }

    // takedown at artifact scale: a 2M-row, 64-cell artifact with
    // PRODUCTION-WIDTH rows (64-dim float embedding + code — ~300 B,
    // what a vector-index row actually weighs) absorbs a ~23k-id
    // tombstone set confined to 3 cells. The pruned delete
    // (LayoutOps.deleteKeysPartitioned: one COLUMN-PRUNED scan of the
    // key column finds the affected partitions, survivors of only
    // those rewrite via dynamic overwrite) is measured against the
    // naive full rewrite — the shape a takedown WOULD pay without
    // partition routing. The locate step is corpus-wide by nature (a
    // takedown feed carries ids, not cells) but reads ONE narrow
    // column; the rewrite touches 3/64ths of the files. At 100 TB
    // that write ratio is the difference between a maintenance job
    // and an outage.
    if (want("artifact delete pruned (2M)", "artifact delete full-rw (2M)",
        "artifact delete staged (2M)")) {
      val artN = 2000000L
      val artRoot = java.nio.file.Files
        .createTempDirectory("graft-probe-del").toString
      val artDir = s"$artRoot/corpus"
      def writeArt(dir: String): Unit = spark.range(artN)
        .select(col("id").as("vec_id"),
          expr("transform(sequence(1, 64), i -> " +
            "cast(pmod(hash(id * 64 + i), 1000) / 1000.0 as float))")
            .as("embedding"),
          expr("transform(sequence(1, 8), i -> " +
            "cast(pmod(hash(id + i), 16) as int))").as("code"),
          lit(0L).as("ingest"),
          pmod(hash(col("id")), lit(64)).cast("long").as("cell"))
        .repartition(col("cell"))
        .write.partitionBy("ingest", "cell").parquet(dir)
      writeArt(artDir)
      // tombstones recomputed from range (an EXTERNAL feed, per the
      // delete contract), not a view over the artifact
      val tombs = spark.range(artN).select(col("id").as("vec_id"))
        .filter(pmod(hash(col("id")), lit(64)) < 3 &&
          pmod(col("id"), lit(4)) === 0)
      time("artifact delete pruned (2M)", artN) {
        graft.operators.LayoutOps.deleteKeysPartitioned(
          spark, artDir, "cell", "vec_id", tombs)
      }
      time("artifact delete full-rw (2M)", artN) {
        spark.read.parquet(artDir)
          .join(broadcast(tombs), Seq("vec_id"), "left_anti")
          .write.partitionBy("ingest", "cell")
          .parquet(s"$artRoot/corpus2")
      }
      // the crash-isolated variant on a FRESH artifact copy: same
      // affected-partition restriction, plus the staging write's
      // second copy of the affected files and the per-partition swap
      // — the overhead a takedown pays for kill-anywhere safety
      if (want("artifact delete staged (2M)")) {
        val artDir3 = s"$artRoot/corpus3"
        writeArt(artDir3)
        time("artifact delete staged (2M)", artN) {
          graft.operators.LayoutOps.deleteKeysPartitioned(
            spark, artDir3, "cell", "vec_id", tombs, staged = true)
        }
      }
      rmTree(java.nio.file.Paths.get(artRoot))
    }

    // The streaming ingest gate's per-batch corpus cost, stored
    // bucket column vs per-batch derivation (the round-16 change):
    // localized arrival batches (near-dup clusters, the realistic
    // shape) against a bucket-sorted gate-stamped corpus. The stored
    // path pushes the batch's touched-bucket In filter into the scan
    // — row groups of un-touched buckets never leave disk — so its
    // per-batch cost tracks the batch's collision surface; the
    // derived path recomputes signBucket over, and therefore reads,
    // the FULL corpus every batch. Measured at 2 corpus sizes to show
    // the growth law, not just a ratio.
    if (want("vec gate scan stored (4M)", "vec gate scan derived (4M)",
        "vec gate scan stored (16M)", "vec gate scan derived (16M)",
        "vec gate e2e stored (16M, 3 batches)",
        "vec gate e2e derived (16M, 3 batches)")) locally {
      val gBits = 12
      val gRoot = java.nio.file.Files
        .createTempDirectory("graft-probe-gate").toString
      // ~4096 sign-pattern groups: base magnitude >= 0.1 per
      // component with +/-0.05 noise, so a group's sign pattern (its
      // bucket) is stable across members — vectors cluster the way
      // near-duplicate arrivals do
      def emb(g: String, idc: String) =
        expr(s"transform(sequence(1, 64), i -> cast(" +
          s"(case when pmod(hash(($g) * 64 + i), 1000) >= 500 " +
          s"then 1 else -1 end) * " +
          s"(0.1 + pmod(hash(($g) * 64 + i), 400) / 1000.0) + " +
          s"(pmod(hash(($idc) * 64 + i), 100) - 50) / 1000.0 " +
          s"as float))")
      def shaped(df: org.apache.spark.sql.DataFrame, g: String) = df
        .withColumn("n", expr("sqrt(vec_dot(embedding, embedding))"))
        .withColumn("cell",
          pmod(hash(expr(g)), lit(64)).cast("long"))
        .withColumn("bucket",
          graft.operators.SimilarityOps.signBucket("embedding", gBits))
      def writeGateCorpus(nn: Long, dir: String): Unit =
        shaped(spark.range(nn).select(col("id").as("vec_id"),
            emb("pmod(id, 4096)", "id").as("embedding")),
          "pmod(vec_id, 4096)")
          .withColumn("ingest", lit(0L))
          .repartition(col("cell"))
          // constant `ingest` OUT of the sort list — with it, the
          // writer re-sorts by partition columns alone and the files
          // ship unsorted (see ArtifactManifest.writeGeneration)
          .sortWithinPartitions(col("cell"), col("bucket"))
          .write.partitionBy("ingest", "cell").parquet(dir)
      // batch b arrives from 16 groups — its touched-bucket set is
      // ~16 of 4096
      def gateBatch(b: Int) = shaped(
        spark.range(5000000L + b * 2000L, 5000000L + (b + 1) * 2000L)
          .select(col("id").as("vec_id"),
            emb(s"pmod(id, 16) + ${b * 16}", "id").as("embedding")),
        s"pmod(vec_id, 16) + ${b * 16}")
      def gateRun(stored: org.apache.spark.sql.DataFrame,
          enc: org.apache.spark.sql.DataFrame): Unit =
        graft.operators.SimilarityOps.ingestGate(stored, enc, 0.8)
          .write.format("noop").mode("overwrite").save()
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      Seq(4000000L -> "4M", 16000000L -> "16M").foreach {
        case (nn, lbl) =>
          if (want(s"vec gate scan stored ($lbl)",
              s"vec gate scan derived ($lbl)",
              s"vec gate e2e stored ($lbl, 3 batches)",
              s"vec gate e2e derived ($lbl, 3 batches)")) {
            val dir = s"$gRoot/c$nn"
            writeGateCorpus(nn, dir)
            val encs = (0 until 3).map(b => gateBatch(b).persist())
            encs.foreach(_.count())
            val bbs = encs.map(_.select("bucket").distinct()
              .filter(col("bucket").isNotNull).as[Long].collect())
            def stored(bb: Array[Long]) = spark.read.parquet(dir)
              .withColumn("cell", col("cell").cast("long"))
              .filter(col("bucket")
                .isin(bb.map(Long.box).toIndexedSeq: _*))
            def derived() = spark.read.parquet(dir)
              .withColumn("cell", col("cell").cast("long"))
              .drop("bucket")
              .withColumn("bucket", graft.operators.SimilarityOps
                .signBucket("embedding", gBits))
            // the CORPUS-SIDE read alone — this is the cost the
            // stored column + pushed In + bucket-sorted layout
            // change: stored stays ~flat across corpus sizes (it
            // tracks the touched pages), derived re-reads and
            // re-derives the whole corpus every batch
            time(s"vec gate scan stored ($lbl)", nn * 3) {
              bbs.foreach(bb => noop(stored(bb)))
            }
            time(s"vec gate scan derived ($lbl)", nn * 3) {
              bbs.foreach(_ => noop(derived()))
            }
            // whole gate end-to-end (scan + confirm join + admit):
            // the pair join scales with the batch's collision
            // surface, so past the scan the two paths converge —
            // measured at the larger size only
            if (lbl == "16M") {
              time(s"vec gate e2e stored ($lbl, 3 batches)", nn * 3) {
                encs.zip(bbs).foreach { case (enc, bb) =>
                  gateRun(stored(bb), enc) }
              }
              time(s"vec gate e2e derived ($lbl, 3 batches)", nn * 3) {
                encs.foreach(enc => gateRun(derived(), enc))
              }
            }
            encs.foreach(_.unpersist())
          }
      }
      rmTree(java.nio.file.Paths.get(gRoot))
    }

    // The ADC shortlist's wall-clock claim, measured (s17): under a
    // LOOSE blocking geometry — bits=4, the real s13 gate's width —
    // every (cell, bucket) block mixes many distinct groups, so the
    // confirm stage's pair volume is dominated by DISSIMILAR pairs
    // the exact path prices at a full 64-dim vec_dot each. The ADC
    // shortlist prices them at 8 codebook loads and drops them below
    // the bar before the exact confirm. Under TIGHT blocking (the
    // 12-bit probe above) blocks are ~pure duplicate groups, ADC can
    // drop almost nothing, and the shortlist is pure overhead — the
    // geometry, not the corpus size, decides whether the flag pays.
    if (want("adc gate exact confirm (16M)",
        "adc gate shortlist confirm (16M)")) locally {
      import graft.operators.{ProductQuantization, SimilarityOps}
      val aRoot = java.nio.file.Files
        .createTempDirectory("graft-probe-adcg").toString
      val nn = 16000000L
      val gBits = 4
      def emb(g: String, idc: String) =
        expr(s"transform(sequence(1, 64), i -> cast(" +
          s"(case when pmod(hash(($g) * 64 + i), 1000) >= 500 " +
          s"then 1 else -1 end) * " +
          s"(0.1 + pmod(hash(($g) * 64 + i), 400) / 1000.0) + " +
          s"(pmod(hash(($idc) * 64 + i), 100) - 50) / 1000.0 " +
          s"as float))")
      // codebooks trained once on a 100k id-stride sample (probe
      // timing is insensitive to book quality)
      val books = ProductQuantization.train(
        spark.range(0, nn, nn / 100000)
          .select(col("id").as("vec_id"),
            emb("pmod(id, 4096)", "id").as("embedding")),
        "embedding", "vec_id", 8, 8, 16, steps = 1)
      def shaped(df: org.apache.spark.sql.DataFrame, g: String) = df
        .withColumn("n", expr("sqrt(vec_dot(embedding, embedding))"))
        .withColumn("cell",
          pmod(hash(expr(g)), lit(64)).cast("long"))
        .withColumn("bucket",
          graft.operators.SimilarityOps.signBucket("embedding", gBits))
      ProductQuantization.encode(
          shaped(spark.range(nn).select(col("id").as("vec_id"),
              emb("pmod(id, 4096)", "id").as("embedding")),
            "pmod(vec_id, 4096)"),
          "embedding", books, 8, "code")
        .write.parquet(s"$aRoot/corpus")
      val stored = spark.read.parquet(s"$aRoot/corpus")
      val enc = shaped(
        spark.range(20000000L, 20002000L)
          .select(col("id").as("vec_id"),
            emb("pmod(id, 16)", "id").as("embedding")),
        "pmod(vec_id, 16)").persist()
      enc.count()
      def run(adc: Option[SimilarityOps.AdcPrefilter]): Unit =
        SimilarityOps.ingestGate(stored, enc, 0.8, adc)
          .write.format("noop").mode("overwrite").save()
      time("adc gate exact confirm (16M)", nn) { run(None) }
      time("adc gate shortlist confirm (16M)", nn) {
        run(Some(SimilarityOps.AdcPrefilter(books, 8, 0.7)))
      }
      enc.unpersist()
      rmTree(java.nio.file.Paths.get(aRoot))
    }

    // TEXT-gate stored-probe read: the DedupIndex bucket artifact
    // (band-partitioned, bucket-sorted within each band's files —
    // the compacted layout) probed by a batch whose touched-bucket
    // set is pushed into the scan as an In filter
    // (DedupIndex.touchedPrune). Pushed stays ~flat across corpus
    // growth — parquet's page/row-group skipping over the sorted
    // bucket column reads only the batch's collision surface — while
    // the full (unpushed) stored read grows linearly with the
    // corpus. Bucket values are 60-bit scattered hashes like the
    // real builders' (TextOps.hash15's domain); xxhash64 stands in
    // for md5 so the probe times IO, not hashing. Measured at 2
    // corpus sizes to show the growth law, not just a ratio.
    if (want("text gate scan pushed (32M)", "text gate scan full (32M)",
        "text gate scan pushed (128M)",
        "text gate scan full (128M)")) locally {
      val bands = 8
      val groups = 65536L // corpus docs cluster into dup groups
      val tRoot = java.nio.file.Files
        .createTempDirectory("graft-probe-tgate").toString
      // bucket = 60-bit hash of (band, group): a group's docs share
      // one bucket per band, exactly the collision structure the
      // real lshBuckets produces for near-duplicate clusters
      def buckets(docs: org.apache.spark.sql.Dataset[_], g: String) =
        docs.select(col("id").as("doc_id"),
            explode(expr(s"sequence(0L, ${bands - 1}L)")).as("band"),
            expr(g).as("g"))
          .withColumn("bucket", pmod(
            xxhash64(col("band"), col("g")), lit(1L << 60)))
          .drop("g")
      def writeCorpus(nDocs: Long, dir: String): Unit =
        buckets(spark.range(nDocs), s"pmod(id, $groups)")
          .withColumn("ingest", lit(0L))
          // the compacted artifact layout: one sorted file per band
          // (ArtifactManifest.compactGenerations with
          // sortWithin = bucket)
          .repartition(col("band"))
          // constant `ingest` OUT of the sort list (see
          // ArtifactManifest.writeGeneration)
          .sortWithinPartitions(col("band"), col("bucket"))
          .write.partitionBy("ingest", "band").parquet(dir)
      // batch b arrives from 8 groups — its touched set is
      // 8 groups x 8 bands = 64 bucket values of 64k x 8
      def batchBuckets(b: Int) = buckets(
        spark.range(900000000L + b * 2000L,
          900000000L + (b + 1) * 2000L),
        s"pmod(id, 8) + ${b * 8}")
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      Seq(4000000L -> "32M", 16000000L -> "128M").foreach {
        case (nd, lbl) =>
          if (want(s"text gate scan pushed ($lbl)",
              s"text gate scan full ($lbl)")) {
            val dir = s"$tRoot/c$nd"
            writeCorpus(nd, dir)
            val bbs = (0 until 3).map { b =>
              val bb = batchBuckets(b).persist(); bb.count(); bb
            }
            def stored() = spark.read.parquet(dir)
              .withColumn("band", col("band").cast("long"))
              .select(col("doc_id"), col("band"), col("bucket"))
            // the STORED-SIDE read alone — the cost the sorted
            // layout + pushed In changes; rows = the stored-side
            // POPULATION (the full-scan denominator) for BOTH legs,
            // so the two throughputs divide the same base — the
            // pushed leg physically reads a fraction of it (that is
            // the point being measured)
            time(s"text gate scan pushed ($lbl)", nd * bands * 3) {
              bbs.foreach(bb => noop(graft.operators.DedupIndex
                .touchedPrune(stored(), bb, push = true)))
            }
            time(s"text gate scan full ($lbl)", nd * bands * 3) {
              bbs.foreach(_ => noop(stored()))
            }
            bbs.foreach(_.unpersist())
          }
      }
      rmTree(java.nio.file.Paths.get(tRoot))
    }

    // TEXT-gate WIDE-batch stored-probe read: a batch touching ~10k
    // distinct buckets — past the or-chain cap, where round 17 served
    // the store UNPRUNED — now rides touchedPrune's native tier (the
    // LongSetPredicate UDP scan: exact per-page skipping at any
    // cardinality). Same compacted one-sorted-file-per-band layout
    // and hash domain as the narrow experiment above; page cap 2048
    // (the artifact writers' default). The full leg is the round-17
    // behavior at this width; the delta is what the tier buys.
    if (want("text gate scan wide native (128M)",
        "text gate scan wide full (128M)",
        "text gate scan wide native (512M)",
        "text gate scan wide full (512M)")) locally {
      val bands = 8
      val groups = 65536L
      val tRoot = java.nio.file.Files
        .createTempDirectory("graft-probe-tgatew").toString
      def buckets(docs: org.apache.spark.sql.Dataset[_], g: String) =
        docs.select(col("id").as("doc_id"),
            explode(expr(s"sequence(0L, ${bands - 1}L)")).as("band"),
            expr(g).as("g"))
          .withColumn("bucket", pmod(
            xxhash64(col("band"), col("g")), lit(1L << 60)))
          .drop("g")
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      // Two corpus shapes, SAME 10k-value batches — the cost gate's
      // calibration points (both ENGAGE at the shipped factor-2
      // payoff, estRows from real bytes):
      //  - 128M rows, one sorted file per band (~7.8k pages/file):
      //    10k global values hit ~72% of pages — page skipping ~nil,
      //    store/matching ratio 6.2. INSIDE the ambient band: five
      //    runs gave native/full 30.5/35.6, 24.1/31.2, 36.8/29.3,
      //    29.2/35.5, 56.0/55.9 — median ~1.2x ahead, one leg 1.26x
      //    behind (the join probes only filter-surviving rows, which
      //    roughly cancels the seek overhead at this ratio).
      //  - 512M rows, range-sliced files (the rangeFiles compaction
      //    layout at multi-file-per-band scale): ratio 25, real page
      //    skipping. Measured 3.5x win (39.9 vs 141.5 s) —
      //    unambiguous.
      // The legs run the GATE-SHAPED cost — probePairs end-to-end —
      // not a bare noop scan: the bare 512M scans TIE (warm-cache
      // decode is CPU-bound and page seeks eat the IO saved) and the
      // bare 128M scan LOSES 1.2x; the tier's payoff is the
      // downstream join every gate path has, which is why the cost
      // model gates on matching rows vs store rows, not on scan
      // bytes.
      Seq((16000000L, "128M", false), (64000000L, "512M", true))
        .foreach { case (nd, lbl, ranged) =>
          if (want(s"text gate scan wide native ($lbl)",
              s"text gate scan wide full ($lbl)")) {
            val dir = s"$tRoot/c$lbl"
            val corpus = buckets(spark.range(nd), s"pmod(id, $groups)")
              .withColumn("ingest", lit(0L))
            (if (ranged) corpus.repartitionByRange(256,
                col("band"), col("bucket"))
              else corpus.repartition(col("band")))
              .sortWithinPartitions(col("band"), col("bucket"))
              .write.option("parquet.page.row.count.limit", "2048")
              .partitionBy("ingest", "band").parquet(dir)
            // batch b arrives from 1250 groups -> 1250 x 8 bands =
            // 10000 touched values (vs the narrow experiment's 64)
            val bbs = (0 until 3).map { b =>
              val bb = buckets(
                spark.range(900000000L + b * 2000L,
                  900000000L + (b + 1) * 2000L),
                s"pmod(id, 1250) + ${b * 1250}").persist()
              bb.count(); bb
            }
            def stored() = spark.read.parquet(dir)
              .withColumn("band", col("band").cast("long"))
              .select(col("doc_id"), col("band"), col("bucket"))
            val estRows = {
              val p = new org.apache.hadoop.fs.Path(dir)
              p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .getContentSummary(p).getLength /
                graft.operators.DedupIndex.BucketRowBytes
            }
            val native = graft.operators.DedupIndex.NativePush(
              vals => graft.sources.NativeParquetIn
                .read(spark, dir, Seq(dir), "bucket", vals)
                .withColumn("band", col("band").cast("long"))
                .select(col("doc_id"), col("band"), col("bucket")),
              () => estRows,
              () => graft.operators.DedupIndex.storedPageRows(
                spark, dir, "bucket"))
            // rows = stored-side population for both legs (the
            // full-scan denominator; the native leg scans and JOINS
            // a fraction of it)
            time(s"text gate scan wide native ($lbl)",
                nd * bands * 3) {
              bbs.foreach(bb => noop(graft.operators.DedupIndex
                .probePairs(graft.operators.DedupIndex
                  .touchedPrune(stored(), bb, push = true,
                    Some(native)), bb, "doc_id")))
            }
            time(s"text gate scan wide full ($lbl)", nd * bands * 3) {
              bbs.foreach(bb => noop(graft.operators.DedupIndex
                .probePairs(graft.operators.DedupIndex
                  .touchedPrune(stored(), bb, push = true, None),
                  bb, "doc_id")))
            }
            bbs.foreach(_.unpersist())
          }
        }
      rmTree(java.nio.file.Paths.get(tRoot))
    }

    // INTERLEAVED native/full A/B of the WIDE probe — the cost-gate
    // boundary instrument (round-19 backlog #1). The sequential wide
    // probe above samples each leg once, so ambient drift between
    // the two legs confounds exactly the regime in question: the
    // 128M one-file-per-band point (store/matching ratio 6.2) read
    // "median ~1.2x ahead, one leg 1.26x behind" across five
    // SEPARATE runs. Here the legs alternate native, full, native,
    // full ... inside ONE JVM so both sides sample the same ambient
    // band — tools/ab.sh's ritual, but for the tier decision. Two
    // ratio points bracket the shipped factor-2 boundary on the
    // 1-file-per-band layout: 64M rows (ratio 3.1 — just above the
    // gate, the claimed possible loss band) and 128M (ratio 6.2 —
    // the ambiguous calibration point). A clean native loss that
    // survives every interleaved pair at a ratio point means the
    // payoff factor must rise past that ratio; overlapping bands
    // mean the factor stays.
    if (want("text gate wide AB (64M)", "text gate wide AB (128M)"))
      locally {
      val bands = 8
      val groups = 65536L
      val tRoot = java.nio.file.Files
        .createTempDirectory("graft-probe-tgateab").toString
      def buckets(docs: org.apache.spark.sql.Dataset[_], g: String) =
        docs.select(col("id").as("doc_id"),
            explode(expr(s"sequence(0L, ${bands - 1}L)")).as("band"),
            expr(g).as("g"))
          .withColumn("bucket", pmod(
            xxhash64(col("band"), col("g")), lit(1L << 60)))
          .drop("g")
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      Seq((8000000L, "64M"), (16000000L, "128M")).foreach {
        case (nd, lbl) =>
          if (want(s"text gate wide AB ($lbl)")) {
            val dir = s"$tRoot/c$lbl"
            buckets(spark.range(nd), s"pmod(id, $groups)")
              .withColumn("ingest", lit(0L))
              .repartition(col("band"))
              .sortWithinPartitions(col("band"), col("bucket"))
              .write.option("parquet.page.row.count.limit", "2048")
              .partitionBy("ingest", "band").parquet(dir)
            val bbs = (0 until 3).map { b =>
              val bb = buckets(
                spark.range(900000000L + b * 2000L,
                  900000000L + (b + 1) * 2000L),
                s"pmod(id, 1250) + ${b * 1250}").persist()
              bb.count(); bb
            }
            def stored() = spark.read.parquet(dir)
              .withColumn("band", col("band").cast("long"))
              .select(col("doc_id"), col("band"), col("bucket"))
            val estRows = {
              val p = new org.apache.hadoop.fs.Path(dir)
              p.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .getContentSummary(p).getLength /
                graft.operators.DedupIndex.BucketRowBytes
            }
            val native = graft.operators.DedupIndex.NativePush(
              vals => graft.sources.NativeParquetIn
                .read(spark, dir, Seq(dir), "bucket", vals)
                .withColumn("band", col("band").cast("long"))
                .select(col("doc_id"), col("band"), col("bucket")),
              () => estRows,
              () => graft.operators.DedupIndex.storedPageRows(
                spark, dir, "bucket"))
            def leg(nat: Boolean): Double = {
              // FORCE the tier on the native leg (payoff = 0, the
              // documented sentinel): the instrument measures where
              // the boundary SHOULD sit, so the shipped gate must
              // not pre-empt the leg it is being calibrated against
              // (at the 64M point the factor-2 gate refuses, and an
              // un-forced native leg silently re-measures the full
              // scan)
              if (nat) spark.conf
                .set("graft.gate.nativeSkipPayoff", "0")
              try {
                val t0 = System.nanoTime()
                bbs.foreach(bb => noop(graft.operators.DedupIndex
                  .probePairs(graft.operators.DedupIndex
                    .touchedPrune(stored(), bb, push = true,
                      if (nat) Some(native) else None),
                    bb, "doc_id")))
                (System.nanoTime() - t0) / 1e9
              } finally if (nat) spark.conf
                .unset("graft.gate.nativeSkipPayoff")
            }
            val pairs = (1 to 4).map { i =>
              val nt = leg(nat = true)
              val fl = leg(nat = false)
              println(f"text gate wide AB ($lbl) pair $i: " +
                f"native $nt%.1f s, full $fl%.1f s " +
                f"(native/full ${nt / fl}%.2f)")
              (nt, fl)
            }
            val (nts, fls) = (pairs.map(_._1).sorted,
              pairs.map(_._2).sorted)
            println(f"text gate wide AB ($lbl) bands: native " +
              f"[${nts.head}%.1f, ${nts.last}%.1f] full " +
              f"[${fls.head}%.1f, ${fls.last}%.1f] — ratio " +
              f"${estRows / 10000.0 / 2048.0}%.1f")
            bbs.foreach(_.unpersist())
          }
      }
      rmTree(java.nio.file.Paths.get(tRoot))
    }

    // RANGE-FLIP flatness: the sized compaction's claim is that once
    // a band outgrows one file, RANGE-split files keep the pushed
    // probe's cost ~flat (each touched key still lands in ~one
    // page's worth of one file) while a HASH split degrades toward
    // per-file-exposure x files (every file covers the full key
    // space, so every touched key pays a page in EVERY file). Same
    // 128M store, same 10k-value batches, three layouts, pushed
    // probe on each — the row that justifies
    // ArtifactManifest.compactGenerationsSized flipping rangeFiles on
    // past the size bar instead of hash-packing.
    // MEASURED: 1file 23.3 s, range4 22.2 s (FLAT across the flip),
    // hash4 33.6 s (1.5x degraded) — per-file exposure is real and
    // the range slices erase it.
    if (want("range flip pushed 1file (128M)",
        "range flip pushed range4 (128M)",
        "range flip pushed hash4 (128M)")) locally {
      val bands = 8
      val groups = 65536L
      val fRoot = java.nio.file.Files
        .createTempDirectory("graft-probe-rflip").toString
      def buckets(docs: org.apache.spark.sql.Dataset[_], g: String) =
        docs.select(col("id").as("doc_id"),
            explode(expr(s"sequence(0L, ${bands - 1}L)")).as("band"),
            expr(g).as("g"))
          .withColumn("bucket", pmod(
            xxhash64(col("band"), col("g")), lit(1L << 60)))
          .drop("g")
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val corpus = buckets(spark.range(16000000L),
        s"pmod(id, $groups)").withColumn("ingest", lit(0L))
      val layouts = Seq(
        "1file" -> corpus.repartition(col("band")),
        "range4" -> corpus.repartitionByRange(bands * 4,
          col("band"), col("bucket")),
        "hash4" -> corpus.repartition(col("band"),
          pmod(hash(col("doc_id"), col("band"), col("bucket")),
            lit(4))))
      val bbs = (0 until 3).map { b =>
        val bb = buckets(
          spark.range(900000000L + b * 2000L,
            900000000L + (b + 1) * 2000L),
          s"pmod(id, 1250) + ${b * 1250}").persist()
        bb.count(); bb
      }
      layouts.foreach { case (lbl, laid) =>
        if (want(s"range flip pushed $lbl (128M)")) {
          val dir = s"$fRoot/c$lbl"
          laid.sortWithinPartitions(col("band"), col("bucket"))
            .write.option("parquet.page.row.count.limit", "2048")
            .partitionBy("ingest", "band").parquet(dir)
          def stored() = spark.read.parquet(dir)
            .withColumn("band", col("band").cast("long"))
            .select(col("doc_id"), col("band"), col("bucket"))
          val estRows = {
            val p = new org.apache.hadoop.fs.Path(dir)
            p.getFileSystem(spark.sparkContext.hadoopConfiguration)
              .getContentSummary(p).getLength /
              graft.operators.DedupIndex.BucketRowBytes
          }
          val native = graft.operators.DedupIndex.NativePush(
            vals => graft.sources.NativeParquetIn
              .read(spark, dir, Seq(dir), "bucket", vals)
              .withColumn("band", col("band").cast("long"))
              .select(col("doc_id"), col("band"), col("bucket")),
            () => estRows,
            () => graft.operators.DedupIndex.storedPageRows(
              spark, dir, "bucket"))
          time(s"range flip pushed $lbl (128M)",
              16000000L * bands * 3) {
            bbs.foreach(bb => noop(graft.operators.DedupIndex
              .probePairs(graft.operators.DedupIndex
                .touchedPrune(stored(), bb, push = true,
                  Some(native)), bb, "doc_id")))
          }
        }
      }
      bbs.foreach(_.unpersist())
      rmTree(java.nio.file.Paths.get(fRoot))
    }

    // DECONTAMINATION gram path: can the native set-push replace (or
    // compose with) the bloom-prune tier? (round-19 backlog #2). The
    // regimes differ by eval-set cardinality: the bloom tier exists
    // for eval gram sets past the broadcast budget (10^8+ keys),
    // which is ~4 orders of magnitude past the UDP's 65536-value
    // conf cap — the push can only ever serve the SMALL-eval regime,
    // and there only against a gram-SORTED stored training artifact
    // (d10 computes grams inline, unsorted: min/max spans everything,
    // pages never drop). This probe measures that best case: a
    // 128M-row (doc_id, g) store sorted by g at 2048-row pages,
    // 20k eval gram values, interleaved legs:
    //  - broadcast: full scan, exact broadcast join (what d10's
    //    non-bloom tier already does at this cardinality)
    //  - bloom:     full scan, codegen'd bloom probe, exact join
    //    (drops rows AFTER the read, saves only downstream work)
    //  - native:    UDP-pushed scan (drops PAGES before decode),
    //    exact broadcast join above it
    // MEASURED (3 interleaved triples): broadcast 2.3-3.9 s, bloom
    // 2.9-3.6 s, native 1.0-1.3 s — the push wins its best case
    // ~2.5-3x, and bloom TIES broadcast here (at small eval sets the
    // downstream join is already a cheap broadcast; bloom only pays
    // past the broadcast budget). DECISION: REJECTED for d10 — the
    // two tiers serve DISJOINT regimes (bloom: eval sets past the
    // broadcast budget, far past the 65536-value conf cap; push:
    // small sets against a gram-SORTED persisted artifact that no
    // d10 deployment maintains — d10 shingles inline, unsorted, so
    // pages never drop). The numbers stay recorded for the day a
    // decontamination service persists a sorted gram artifact; d10's
    // tiers (broadcast under the budget, bloom past it) stand.
    if (want("decontam gram push (128M)")) locally {
      val gRoot = java.nio.file.Files
        .createTempDirectory("graft-probe-dgram").toString
      val dir = s"$gRoot/grams"
      val nRows = 128000000L
      val evalN = 20000
      // 60-bit scattered gram hashes; ~1 training row in 6400 shares
      // a gram with the eval set (contamination is rare)
      spark.range(nRows)
        .select((col("id") / 10).cast("long").as("doc_id"),
          pmod(xxhash64(pmod(col("id"), lit(evalN.toLong * 6400))),
            lit(1L << 60)).as("g"))
        .repartitionByRange(64, col("g"))
        .sortWithinPartitions(col("g"))
        .write.option("parquet.page.row.count.limit", "2048")
        .parquet(dir)
      val evalG = spark.range(evalN.toLong)
        .select(pmod(xxhash64(col("id") * 6400), lit(1L << 60))
          .as("g")).persist()
      val evalVals = evalG.as[Long].collect().toIndexedSeq
      def stored() = spark.read.parquet(dir)
      def noop(df: org.apache.spark.sql.DataFrame): Unit =
        df.write.format("noop").mode("overwrite").save()
      val (bits, kh) = graft.operators.BloomPrune.buildSized(
        evalG, "g", expectedKeys = evalN.toLong, fpp = 0.02)
      def leg(kind: String): Double = {
        val t0 = System.nanoTime()
        kind match {
          case "broadcast" =>
            noop(stored().join(broadcast(evalG), Seq("g")))
          case "bloom" =>
            noop(graft.operators.BloomPrune
              .prune(stored(), "g", bits, kh)
              .join(broadcast(evalG), Seq("g")))
          case "native" =>
            noop(graft.sources.NativeParquetIn
              .read(spark, dir, Seq(dir), "g", evalVals)
              .join(broadcast(evalG), Seq("g")))
        }
        (System.nanoTime() - t0) / 1e9
      }
      (1 to 3).foreach { i =>
        val b = leg("broadcast"); val bl = leg("bloom")
        val nt = leg("native")
        println(f"decontam gram push (128M) pair $i: broadcast " +
          f"$b%.1f s, bloom $bl%.1f s, native $nt%.1f s")
      }
      evalG.unpersist()
      rmTree(java.nio.file.Paths.get(gRoot))
    }

    // Membership sketch at index scale: 20M-key sizing, a 10x append
    // burst past it, and the refreshMembers recovery — the three
    // lifecycle phases measured, plus the j8-style fact-scan
    // reduction the sketch buys. Selectivity is printed per phase
    // (survivor fraction of a pure non-member probe): sized ≈ the 2%
    // design fpp, post-burst ≈ saturated (degraded, NEVER wrong —
    // the superset contract), post-refresh ≈ 2% again at the new
    // cardinality.
    if (want("members build (20M keys)", "members burst OR (10x)",
        "members refresh (220M live)",
        "members prune scan (100M fact)")) locally {
      val mRoot = java.nio.file.Files
        .createTempDirectory("graft-probe-members").toString
      // the group's phases are INTERDEPENDENT (the prune scan and the
      // burst need the built sketch): inside the want-gated group,
      // every phase runs unconditionally — time() would silently skip
      // (not run) a phase whose name missed the filter args, leaving
      // later phases measuring an absent sketch
      def phase[A](name: String, rows: Long)(f: => A): Unit = {
        val t0 = System.nanoTime()
        f
        val sec = (System.nanoTime() - t0) / 1e9
        println(f"$name%-28s rows=$rows%,d  ${sec}%.2f s  " +
          f"${rows / sec / 1e6}%.1f M rows/s")
      }
      val members = spark.range(20000000L).select(col("id").as("k"))
      val burst = spark.range(100000000L, 300000000L)
        .select(col("id").as("k"))
      def nonMembers(n: Long) = spark.range(1000000000L,
        1000000000L + n).select(col("id").as("k"))
      def selectivity(tag: String): Unit = {
        val n = 2000000L
        val kept = graft.operators.DedupIndex
          .memberPrune(spark, mRoot, nonMembers(n), "k").count()
        println(f"  [members selectivity $tag: " +
          f"${kept.toDouble / n}%.4f non-member pass rate]")
      }
      phase("members build (20M keys)", 20000000L) {
        graft.operators.DedupIndex.refreshMembers(spark, mRoot,
          members, "k")
      }
      selectivity("sized@20M")
      // the fact-scan reduction the sketch exists for: a 100M-row
      // fact whose keys are 20% members — the probe drops the rest
      // in the scan stage before any join ships
      phase("members prune scan (100M fact)", 100000000L) {
        // DIV, not "/": fp division would type k as double and the
        // sketch's integral-key guard would (correctly) serve the
        // fact unpruned — measuring nothing
        val fact = spark.range(100000000L).select(
          expr("CASE WHEN id % 5 = 0 THEN id DIV 5 " +
            "ELSE id + 500000000 END").as("k"))
        val kept = graft.operators.DedupIndex
          .memberPrune(spark, mRoot, fact, "k").count()
        println(f"  [members prune kept $kept%,d of 100,000,000]")
      }
      // the burst/refresh phases are TERMINAL (nothing later needs
      // them), so they stay filterable — a prune-scan-only iteration
      // run skips the 4-minute refresh
      if (want("members burst OR (10x)", "members refresh (220M live)")) {
        phase("members burst OR (10x)", 200000000L) {
          graft.operators.DedupIndex.orMembers(burst, "k", mRoot)
        }
        selectivity("post-burst")
      }
      if (want("members refresh (220M live)")) {
        phase("members refresh (220M live)", 220000000L) {
          graft.operators.DedupIndex.refreshMembers(spark, mRoot,
            members.unionByName(burst), "k")
        }
        selectivity("post-refresh@220M")
      }
      rmTree(java.nio.file.Paths.get(mRoot))
    }

    // The d12 composition's at-scale claim, measured: the ingest
    // gate's VERIFICATION store (per-doc char-grams) computed over a
    // membership-pruned scan vs the whole table, when the index holds
    // a tenth of the corpus — the sketch is what keeps the gate's
    // verify side from shingling 100 TB to admit a 2k-doc batch.
    if (want("gate verify pruned (2M docs)",
        "gate verify unpruned (2M docs)")) locally {
      val vRoot = java.nio.file.Files
        .createTempDirectory("graft-probe-verify").toString
      val vN = 2000000L
      def vDocs = spark.range(vN).select(col("id").as("doc_id"),
        concat(lit("synthetic body of document number "), col("id"),
          lit(" padded with a stable tail of filler words for the "),
          lit("gram pipeline to chew on, id again "), col("id"))
          .as("text"))
      // index membership: every 10th doc
      graft.operators.DedupIndex.refreshMembers(spark, vRoot,
        spark.range(0, vN, 10).select(col("id").as("doc_id")),
        "doc_id")
      def grams(df: org.apache.spark.sql.DataFrame) = df
        .select(col("doc_id"),
          graft.operators.TextOps.charNgrams("text", 4).as("grams"))
        .write.format("noop").mode("overwrite").save()
      time("gate verify pruned (2M docs)", vN) {
        grams(graft.operators.DedupIndex.memberPrune(spark, vRoot,
          vDocs, "doc_id", orKeep = col("doc_id") >= vN - 2000))
      }
      time("gate verify unpruned (2M docs)", vN) {
        grams(vDocs)
      }
      rmTree(java.nio.file.Paths.get(vRoot))
    }

    // The r16 watch item, measured end-to-end: the text gate's VERIFY
    // stage against a 2M-doc STORED grams table (the streaming gate's
    // shape — the store is corpus-sized, the candidate pairs are
    // batch-bounded). Three shapes:
    //  - two-scan ref: the pre-r17 per-side left joins — the store is
    //    scanned AND shuffled twice per batch;
    //  - single-scan: melt pairs to (side, id), join the store once,
    //    regroup — one scan, one shuffle of the store;
    //  - semi+single: broadcast-semi-filter the store down to the
    //    candidate ids FIRST (one scan, NO store shuffle — only the
    //    batch-bounded matching payloads move), then the melt join.
    if (want("gate decisions two-scan ref (2M store)",
        "gate decisions single-scan (2M store)",
        "gate decisions semi+single (2M store)")) locally {
      import graft.operators.{DedupIndex, DedupOps}
      val gRoot = java.nio.file.Files
        .createTempDirectory("graft-probe-gated").toString
      val gN = 2000000L
      val batchLo = gN - 2000
      spark.range(gN).select(col("id").as("doc_id"),
          concat(lit("synthetic body of document number "), col("id"),
            lit(" padded with a stable tail of filler words for the "),
            lit("gram pipeline to chew on, id again "), col("id"))
            .as("text"))
        .select(col("doc_id"),
          graft.operators.TextOps.charNgrams("text", 4).as("grams"))
        .write.parquet(s"$gRoot/grams")
      def store = spark.read.parquet(s"$gRoot/grams")
      val arrivals = spark.range(batchLo, gN)
        .select(col("id").as("doc_id"))
      // ~16 corpus partners per arriving doc (deterministic spread),
      // the shape probe() emits: (a, b) with a < b, distinct
      val cand = spark.range(batchLo, gN)
        .select(col("id").as("b"),
          explode(sequence(lit(1), lit(16))).as("j"))
        .select(pmod(hash(col("b") * 31 + col("j")), lit(batchLo))
          .cast("long").as("a"), col("b"))
        .distinct()
      val thr = 0.99
      time("gate decisions two-scan ref (2M store)", gN) {
        DedupIndex.admit(
          cand.join(store.select(col("doc_id").as("a"),
              col("grams").as("ga")), Seq("a"))
            .join(store.select(col("doc_id").as("b"),
              col("grams").as("gb")), Seq("b"))
            .select(col("a"), col("b"),
              round(DedupOps.jaccard(col("ga"), col("gb")), 4)
                .as("jac"))
            .filter(col("jac") >= thr),
          arrivals, "doc_id")
          .write.format("noop").mode("overwrite").save()
      }
      time("gate decisions single-scan (2M store)", gN) {
        DedupIndex.gateDecisions(cand, store, arrivals, "doc_id", thr)
          .write.format("noop").mode("overwrite").save()
      }
      time("gate decisions semi+single (2M store)", gN) {
        DedupIndex.gateDecisions(cand, store, arrivals, "doc_id", thr,
            semiFilter = true)
          .write.format("noop").mode("overwrite").save()
      }
      rmTree(java.nio.file.Paths.get(gRoot))
    }

    // The writer lease's protocol cost — what every PartitionedCdc
    // micro-batch and artifact batch mutator now pays: one
    // acquire/release cycle is a handful of filesystem metadata ops
    // (mkdirs + create + no-overwrite rename + read-back + delete).
    // Measured as cycles/s so the per-batch overhead it adds to the
    // CDC chains is a known constant, not a guess.
    if (want("lease cycle (500x)")) locally {
      val lRoot = java.nio.file.Files
        .createTempDirectory("graft-probe-lease").toString
      time("lease cycle (500x)", 500) {
        for (_ <- 1 to 500) {
          val l = graft.operators.WriterLease.acquire(spark, lRoot)
          graft.operators.WriterLease.release(spark, l)
        }
      }
      rmTree(java.nio.file.Paths.get(lRoot))
    }

    // CDC apply at churn scale: a 20M-key snapshot absorbs a 2M-row
    // changelog (updates + deletes, two generations on overlapping
    // keys) — one max_by collapse of the changelog + one anti-join of
    // the base; the whole snapshot is never sorted or windowed.
    time("cdc apply (20M + 2M log)", n + 2000000L) {
      val base = spark.range(n).select(col("id").as("k"),
        (col("id") % 1000).cast("double").as("v"),
        lit("base").as("src"))
      val log = spark.range(2000000L).select(
        (col("id") * 10).as("k"), (col("id") % 2L + 1L).as("seq"),
        when(col("id") % 3 === 0, "D").otherwise("U").as("op"),
        (col("id") % 7).cast("double").as("v"), lit("cdc").as("src"))
      graft.operators.CdcOps
        .applyChangelog(base, log, Seq("k"), "seq", "op")
        .write.format("noop").mode("overwrite").save()
    }

    // incremental MV maintenance vs full recompute at the same churn:
    // the maintained path's cost tracks the CHANGELOG (semi-join probe
    // of the base + group-sized delta merge), the recompute's tracks
    // the full post-apply snapshot — the gap is the entire point of
    // maintainAggs, and it widens linearly with base/churn ratio.
    if (want("mv maintain (20M base, 2M log, 1k groups)",
        "mv recompute (apply + full re-agg)")) {
      def mvBase = spark.range(n).select(col("id").as("k"),
        (col("id") % 1000).as("g"),
        (col("id") % 97).as("x"))
      def mvLog = spark.range(2000000L).select(
        (col("id") * 10).as("k"), (col("id") % 2L + 1L).as("seq"),
        when(col("id") % 3 === 0, "D").otherwise("U").as("op"),
        (col("id") % 1000).as("g"), (col("id") % 89).as("x"))
      val prevAgg = mvBase.groupBy("g")
        .agg(sum("x").as("x"), count(lit(1)).as("n")).cache()
      prevAgg.count() // the materialized view exists before the batch
      // untimed warmup over a 1M slice: JIT + codegen for both
      // pipelines, so neither timed block pays cold-start (the mv
      // probes run filtered, without the earlier probes' warmup)
      graft.operators.CdcOps.maintainAggs(prevAgg,
          mvBase.limit(1000000), mvLog.limit(1000000),
          Seq("k"), "seq", "op", dims = Seq("g"), sumCols = Seq("x"))
        .write.format("noop").mode("overwrite").save()
      time("mv maintain (20M base, 2M log, 1k groups)", 2000000L) {
        graft.operators.CdcOps.maintainAggs(prevAgg, mvBase, mvLog,
            Seq("k"), "seq", "op", dims = Seq("g"), sumCols = Seq("x"))
          .write.format("noop").mode("overwrite").save()
      }
      time("mv recompute (apply + full re-agg)", n + 2000000L) {
        graft.operators.CdcOps
          .applyChangelog(mvBase, mvLog, Seq("k"), "seq", "op")
          .groupBy("g").agg(sum("x").as("x"), count(lit(1)).as("n"))
          .write.format("noop").mode("overwrite").save()
      }
      prevAgg.unpersist()
    }

    // the same comparison at AGGREGATION WIDTH: a narrow 1k-group /
    // 1-sum view buries the maintained path's advantage under the
    // shared base shuffle (the unbucketed local shape — measured
    // within noise above); widening the view to a string-keyed
    // composite group and 4 sums makes the recompute's full re-agg
    // pass genuinely expensive while the maintained path's delta stays
    // churn-sized. This is the dimension the gap actually scales
    // with (the other being base:churn ratio, which bucketing serves).
    if (want("mv maintain wide (4 sums)",
        "mv recompute wide (4 sums)")) {
      def wBase = spark.range(n).select(col("id").as("k"),
        concat(lit("grp-"), (col("id") % 100000).cast("string")).as("g"),
        (col("id") % 97).as("x1"), (col("id") % 89).as("x2"),
        (col("id") % 83).as("x3"), (col("id") % 79).as("x4"))
      def wLog = spark.range(2000000L).select(
        (col("id") * 10).as("k"), (col("id") % 2L + 1L).as("seq"),
        when(col("id") % 3 === 0, "D").otherwise("U").as("op"),
        concat(lit("grp-"), (col("id") % 100000).cast("string")).as("g"),
        (col("id") % 71).as("x1"), (col("id") % 67).as("x2"),
        (col("id") % 61).as("x3"), (col("id") % 59).as("x4"))
      val sums = Seq("x1", "x2", "x3", "x4")
      def aggOf(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("g").agg(sum("x1").as("x1"), sum("x2").as("x2"),
          sum("x3").as("x3"), sum("x4").as("x4"),
          count(lit(1)).as("n"))
      val wPrev = aggOf(wBase).cache()
      wPrev.count()
      graft.operators.CdcOps.maintainAggs(wPrev,
          wBase.limit(1000000), wLog.limit(1000000),
          Seq("k"), "seq", "op", dims = Seq("g"), sumCols = sums)
        .write.format("noop").mode("overwrite").save()
      time("mv maintain wide (4 sums)", 2000000L) {
        graft.operators.CdcOps.maintainAggs(wPrev, wBase, wLog,
            Seq("k"), "seq", "op", dims = Seq("g"), sumCols = sums)
          .write.format("noop").mode("overwrite").save()
      }
      time("mv recompute wide (4 sums)", n + 2000000L) {
        aggOf(graft.operators.CdcOps
            .applyChangelog(wBase, wLog, Seq("k"), "seq", "op"))
          .write.format("noop").mode("overwrite").save()
      }
      wPrev.unpersist()
    }

    // the bucketed-base leg of the MV decision table: the base's only
    // read in maintainAggs is the churn-keyed semi-join; stored
    // bucketed by the join key, that probe reads pre-partitioned
    // buckets and the base-side exchange is elided — the lever that
    // turns base:churn ratio into the maintained path's advantage.
    if (want("mv maintain (bucketed base)")) locally {
      def mvBase = spark.range(n).select(col("id").as("k"),
        (col("id") % 1000).as("g"),
        (col("id") % 97).as("x"))
      def mvLog = spark.range(2000000L).select(
        (col("id") * 10).as("k"), (col("id") % 2L + 1L).as("seq"),
        when(col("id") % 3 === 0, "D").otherwise("U").as("op"),
        (col("id") % 1000).as("g"), (col("id") % 89).as("x"))
      spark.sql("DROP TABLE IF EXISTS probe_mv_base")
      // a crashed earlier run leaves the warehouse directory behind
      // with no catalog entry — DROP TABLE can't see it, and
      // saveAsTable refuses the nonempty location; clear it first
      val whp = new org.apache.hadoop.fs.Path(
        spark.conf.get("spark.sql.warehouse.dir"), "probe_mv_base")
      whp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(whp, true)
      mvBase.write.bucketBy(32, "k").format("parquet")
        .saveAsTable("probe_mv_base")
      val bbase = spark.table("probe_mv_base")
      val prevAgg = bbase.groupBy("g")
        .agg(sum("x").as("x"), count(lit(1)).as("n")).cache()
      prevAgg.count()
      graft.operators.CdcOps.maintainAggs(prevAgg,
          bbase.limit(1000000), mvLog.limit(1000000),
          Seq("k"), "seq", "op", dims = Seq("g"), sumCols = Seq("x"))
        .write.format("noop").mode("overwrite").save()
      time("mv maintain (bucketed base)", 2000000L) {
        graft.operators.CdcOps.maintainAggs(prevAgg, bbase, mvLog,
            Seq("k"), "seq", "op", dims = Seq("g"), sumCols = Seq("x"))
          .write.format("noop").mode("overwrite").save()
      }
      prevAgg.unpersist()
      spark.sql("DROP TABLE IF EXISTS probe_mv_base")
    }

    // the VERSIONED CHAIN cost of the streaming CDC paths: the 20M
    // probes above time one-shot apply/maintain; streamApply/
    // streamMaintain additionally persist a FULL snapshot (and
    // aggregate) parquet version per micro-batch and prune the chain
    // to `retainVersions`. That per-batch snapshot write is O(base) —
    // the price of snapshot-isolated replay + time travel — so the
    // chain's throughput is the snapshot write bandwidth, not the
    // churn apply: this probe measures it (4 batches over a 20M base,
    // retain=2) and reports the bytes the pruned chain actually
    // retains per version. The sizing rule this measures for
    // CLUSTER.md: chain versioning per micro-batch fits bases whose
    // full parquet write fits the batch interval; past that, version
    // at a coarser cadence or partition the snapshot so a batch
    // rewrites only churned partitions.
    if (want("cdc stream apply chain (20M, 4 batches)",
        "cdc stream maintain chain (20M, 4 batches)",
        "cdc partitioned chain (20M, hot 5/64 buckets)",
        "cdc cow maintain chain (20M, hot 5/64 buckets)")) locally {
      def cBase = spark.range(n).select(col("id").as("k"),
        (col("id") % 1000).as("g"), (col("id") % 97).as("x"))
      def cLog = spark.range(2000000L).select(
        (col("id") * 10).as("k"), (col("id") % 4L + 1L).as("seq"),
        when(col("id") % 3 === 0, "D").otherwise("U").as("op"),
        (col("id") % 1000).as("g"), (col("id") % 89).as("x"))
      def chainReport(tag: String, root: String): Unit = {
        val rp = new org.apache.hadoop.fs.Path(root)
        val fs = rp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        val versions = fs.listStatus(rp).map(_.getPath)
          .filter(p => p.getName.startsWith("snap") ||
            p.getName.startsWith("agg"))
        val bytes = versions.map(p =>
          fs.getContentSummary(p).getLength).sum
        println(f"  $tag chain retained: ${versions.length} version " +
          f"dirs, ${bytes / 1e6}%.0f MB total, " +
          f"${bytes / math.max(versions.length, 1) / 1e6}%.0f MB/version")
      }
      if (want("cdc stream apply chain (20M, 4 batches)")) locally {
        val root = java.nio.file.Files
          .createTempDirectory("graft-probe-cdc-chain").toString
        time("cdc stream apply chain (20M, 4 batches)", 4 * n) {
          graft.operators.CdcOps.streamApply(spark, cBase, cLog,
              Seq("k"), "seq", "op", nFiles = 4, root = root,
              retainVersions = 2)
            .write.format("noop").mode("overwrite").save()
        }
        chainReport("apply", root)
        rmTree(java.nio.file.Paths.get(root))
      }
      if (want("cdc stream maintain chain (20M, 4 batches)")) locally {
        val root = java.nio.file.Files
          .createTempDirectory("graft-probe-cdc-chain").toString
        time("cdc stream maintain chain (20M, 4 batches)", 4 * n) {
          graft.operators.CdcOps.streamMaintain(spark, cBase, cLog,
              Seq("k"), "seq", "op", nFiles = 4, root = root,
              dims = Seq("g"), sumCols = Seq("x"),
              retainVersions = 2)
            .write.format("noop").mode("overwrite").save()
        }
        chainReport("maintain", root)
        rmTree(java.nio.file.Paths.get(root))
      }
      // the COPY-ON-WRITE alternative under CLUSTERED churn — the
      // realistic CDC shape (hot recent keys): the same 2M-row log
      // confined to the top 1.5M keys of a range-bucketed 20M base
      // (5 of 64 buckets hot). The full chain above rewrites 20M rows
      // per batch regardless; the partitioned chain rewrites only the
      // hot buckets — per-batch cost O(churn locality), storage one
      // full copy + hot-bucket deltas. This probe is the measured
      // basis for PartitionedCdc's 100 TB claim.
      if (want("cdc partitioned chain (20M, hot 5/64 buckets)")) locally {
        val bucketWidth = n / 64
        val bucketOf = floor(col("k") / bucketWidth).cast("long")
        val hotLog = spark.range(2000000L).select(
          (lit(18500000L) + col("id") % 1500000L).as("k"),
          (col("id") % 4L + 1L).as("seq"),
          when(col("id") % 3 === 0, "D").otherwise("U").as("op"),
          (col("id") % 1000).as("g"), (col("id") % 89).as("x"))
        val root = java.nio.file.Files
          .createTempDirectory("graft-probe-cdc-cow").toString
        time("cdc partitioned chain (20M, hot 5/64 buckets)", 4 * n) {
          graft.operators.PartitionedCdc.streamApply(spark, cBase,
              hotLog, Seq("k"), "seq", "op", bucketOf, nFiles = 4,
              root = root, retainVersions = 2)
            .write.format("noop").mode("overwrite").save()
        }
        locally {
          val rp = new org.apache.hadoop.fs.Path(s"$root/data")
          val fs = rp.getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          val bytes = fs.getContentSummary(rp).getLength
          val verDirs = fs.listStatus(rp).count(
            _.getPath.getName.startsWith("ver="))
          println(f"  partitioned chain retained: $verDirs version " +
            f"dirs, ${bytes / 1e6}%.0f MB total data")
        }
        rmTree(java.nio.file.Paths.get(root))
      }
      // the COW MAINTAINED VIEW at the same scale: vs the full
      // maintain chain (39.3 s — snapshot write bandwidth), the
      // maintenance job here reads only the hot buckets and the
      // aggregate versions whole at group size
      if (want("cdc cow maintain chain (20M, hot 5/64 buckets)"))
          locally {
        val bucketWidth = n / 64
        val bucketOf = floor(col("k") / bucketWidth).cast("long")
        val hotLog = spark.range(2000000L).select(
          (lit(18500000L) + col("id") % 1500000L).as("k"),
          (col("id") % 4L + 1L).as("seq"),
          when(col("id") % 3 === 0, "D").otherwise("U").as("op"),
          (col("id") % 1000).as("g"), (col("id") % 89).as("x"))
        val root = java.nio.file.Files
          .createTempDirectory("graft-probe-cdc-cowmv").toString
        time("cdc cow maintain chain (20M, hot 5/64 buckets)", 4 * n) {
          graft.operators.PartitionedCdc.streamMaintain(spark, cBase,
              hotLog, Seq("k"), "seq", "op", bucketOf, nFiles = 4,
              root = root, dims = Seq("g"), sumCols = Seq("x"),
              retainVersions = 2)
            .write.format("noop").mode("overwrite").save()
        }
        rmTree(java.nio.file.Paths.get(root))
      }
    }

    // COW rewrite AS layout maintenance: the same 20M range-bucketed
    // base + hot-bucket churn, written plain vs with sortCols — the
    // opt-in that makes every churned-bucket rewrite range-cluster its
    // rows on a slice key for free (the rows are being rewritten
    // anyway; the only extra cost is the in-write sort). Then a 1%
    // slice read over the churned-then-read table: in the clustered
    // layout each row group's min/max on t spans a narrow slice, so
    // the pushed filter skips row groups; plain bucket files carry
    // full-range t everywhere and the scan decodes the whole base.
    // Row groups forced to 1 MB so the 10 MB buckets hold ~10 each —
    // the same group-per-bucket ratio a 128 MB-group multi-GB-bucket
    // production layout has.
    if (want("cow clustered rewrite (20M, 1% slice)",
        "cow plain rewrite (20M, 1% slice)")) locally {
      val bucketOf = floor(col("k") / (n / 64)).cast("long")
      def base20 = spark.range(n).select(col("id").as("k"),
        ((col("id") * 48271) % 1000000L).as("t"),
        (col("id") % 89).as("x"), lit("base").as("src"))
      def hotLog = spark.range(2000000L).select(
        (lit(18500000L) + col("id") % 1500000L).as("k"),
        lit(1L).as("seq"), lit("U").as("op"),
        ((col("id") * 40503) % 1000000L).as("t"),
        (col("id") % 89).as("x"), lit("cdc").as("src"))
      val hconf = spark.sparkContext.hadoopConfiguration
      val oldBlock = hconf.get("parquet.block.size")
      hconf.setInt("parquet.block.size", 1 << 20)
      try for ((tag, sortCols) <- Seq(
          ("plain", Seq.empty[String]), ("clustered", Seq("t")))) {
        val root = java.nio.file.Files
          .createTempDirectory(s"graft-probe-cowclust-$tag").toString
        graft.operators.PartitionedCdc.init(base20, bucketOf, root,
          sortCols = sortCols)
        graft.operators.PartitionedCdc.applyBatch(spark, root, hotLog,
          Seq("k"), "seq", "op", bucketOf, retainVersions = 2,
          sortCols = sortCols)
        // no aggregate: an exchange would wrap the plan in AQE and
        // hide the scan node (and its metrics) behind the adaptive
        // root — the bare filtered collect keeps FileSourceScanExec
        // inspectable, exactly as LayoutOpsSpec measures
        val sliced = graft.operators.PartitionedCdc.read(spark, root)
          .filter(col("t") >= 500000L && col("t") < 510000L)
        time(s"cow $tag rewrite (20M, 1% slice)", n) { sliced.collect() }
        val scanRows = sliced.queryExecution.executedPlan.collect {
          case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
            sc.metrics("numOutputRows").value
        }.sum
        println(f"  $tag layout: slice scan emitted $scanRows%,d of " +
          f"$n%,d rows from the parquet reader")
        rmTree(java.nio.file.Paths.get(root))
      } finally {
        if (oldBlock == null) hconf.unset("parquet.block.size")
        else hconf.set("parquet.block.size", oldBlock)
      }
    }

    // the REAL media decode stage at volume: 200k synthetic PNGs
    // (fixture geometry mix) encoded AND decoded through ImageIO in
    // the bounded-batch mapPartitions stage — per-row pure, so
    // throughput scales with cores×rows and peak task memory stays
    // batchSize × payload. The number prices the full
    // encode+decode+stats round trip; a production pipeline pays only
    // the decode half of it.
    if (want("image decode (200k synthetic pngs)")) locally {
      import spark.implicits._
      val media = spark.range(200000L).as[Long]
        .map(graft.operators.MultimodalOps.syntheticGrayPng _)
      time("image decode (200k synthetic pngs)", 200000L) {
        graft.operators.MultimodalOps
          .extractImageFeatures(media, batchSize = 64)
          .write.format("noop").mode("overwrite").save()
      }
    }

    // snapshotDiff at audit scale: two 20M-row versions, ~2.8M true
    // deltas (2M changed, 400k removed, 400k added). The union+single-
    // aggregation formulation pays ONE exchange over prev ∪ next;
    // emitted rows are delta-sized.
    if (want("snapshot diff (2x20M, ~2.8M deltas)")) locally {
      def snap(ids: org.apache.spark.sql.Dataset[java.lang.Long]) = ids.select(
        col("id").as("k"), (col("id") % 97).as("v"),
        (col("id") % 7).as("w"))
      val prev = snap(spark.range(n))
      val next = snap(spark.range(n))
        .filter(pmod(col("k"), lit(50)) =!= 1)
        .withColumn("v", when(pmod(col("k"), lit(10)) === 0,
          col("v") + 1).otherwise(col("v")))
        .unionByName(snap(spark.range(n, n + 400000L)))
      time("snapshot diff (2x20M, ~2.8M deltas)", 2 * n) {
        graft.operators.CdcOps.snapshotDiff(prev, next, Seq("k"))
          .write.format("noop").mode("overwrite").save()
      }
    }

    // the x15 data-quality report shape at fact scale: five scalar
    // constraints + PK-dup count folded into ONE aggregation pass over
    // a 20M fact (the distinct-pair count rides the same job), plus
    // one anti-join against a 1M-key dim for referential integrity.
    if (want("dq report (20M fact, 1M dim)")) locally {
      val fact = spark.range(n).select(
        (col("id") % 5000000L).as("ok"),
        (col("id") % 7 + 1).as("ln"),
        when(col("id") % 1000 === 0, lit(null))
          .otherwise(col("id") % 60 + 1).cast("double").as("qty"),
        ((col("id") % 9999) - 10).cast("double").as("price"),
        element_at(typedLit(Seq("A", "N", "R", "X")),
          (pmod(col("id"), lit(4)) + 1).cast("int")).as("flag"))
      val dim = spark.range(1000000L)
        .select((col("id") * 5).as("o_ok"))
      time("dq report (20M fact, 1M dim)", n) {
        def viol(c: org.apache.spark.sql.Column) =
          sum(when(c, 1L).otherwise(0L))
        val scalar = fact.agg(
          viol(col("qty").isNull).as("c_null_qty"),
          viol(col("qty") <= 0 || col("qty") > 60).as("c_range_qty"),
          viol(col("price") <= 0).as("c_range_price"),
          viol(col("flag").isNotNull &&
            !col("flag").isin("A", "N", "R")).as("c_set_flag"),
          (count(lit(1)) - countDistinct(struct(col("ok"),
            col("ln")))).as("c_pk_dup"))
          .selectExpr("""stack(5,
            'c_null_qty', c_null_qty,
            'c_range_qty', c_range_qty,
            'c_range_price', c_range_price,
            'c_set_flag', c_set_flag,
            'c_pk_dup', c_pk_dup) as (check_name, violations)""")
        val orphan = fact
          .join(dim, col("ok") === col("o_ok"), "left_anti")
          .agg(count(lit(1)).as("violations"))
          .select(lit("c_fk_orphan").as("check_name"),
            col("violations"))
        scalar.unionByName(orphan)
          .write.format("noop").mode("overwrite").save()
      }
    }

    // z-order at write scale: the write pays one quantile pass + one
    // range shuffle; the payoff is that a selective predicate on
    // EITHER z column prunes row groups (timed against the same scan
    // over a flat layout — the delta is parquet min/max skipping,
    // exactly what a 100 TB table's maintenance job buys its readers)
    if (want("zorder write (20M, 2 cols)", "flat write (20M)",
        "k2-slice scan, zordered (3% of domain)",
        "k2-slice scan, flat")) {
      val zRoot = java.nio.file.Files
        .createTempDirectory("graft-probe-z").toString
      val zdf = spark.range(n).select(
        (pmod(hash(col("id")), lit(1000000))).as("k1"),
        (pmod(hash(col("id") + 7), lit(1000000))).as("k2"),
        col("id").as("payload"))
      time("zorder write (20M, 2 cols)", n) {
        graft.operators.ArtifactManifest.clusterBuild(zdf, s"$zRoot/z",
          Seq("k1", "k2"), 32, zorder = true)
      }
      time("flat write (20M)", n) {
        zdf.repartition(32).write.mode("overwrite")
          .parquet(s"$zRoot/flat")
      }
      def slice(df: org.apache.spark.sql.DataFrame) =
        df.filter(col("k2") >= 10000 && col("k2") < 40000)
      time("k2-slice scan, zordered (3% of domain)", n) {
        slice(graft.operators.ArtifactManifest.frame(spark, s"$zRoot/z"))
          .write.format("noop").mode("overwrite").save()
      }
      time("k2-slice scan, flat", n) {
        slice(spark.read.parquet(s"$zRoot/flat")).write.format("noop")
          .mode("overwrite").save()
      }
      val zp = new org.apache.hadoop.fs.Path(zRoot)
      zp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(zp, true)
    }

    // the versioned clustered fact's maintenance pass at 20M rows:
    // re-clustering the live set into one new generation (manifest
    // flip) costs one range shuffle + write — same order as the
    // original clustered write (the zorder/flat write probes above are
    // the comparison points), plus the driver-side manifest commit.
    if (want("clustered-fact compact (20M)")) locally {
      val cfRoot = java.nio.file.Files
        .createTempDirectory("graft-probe-cf").toString
      val cfDir = s"$cfRoot/fact"
      val cf = spark.range(n).select(
        (pmod(hash(col("id")), lit(1000000))).as("k"),
        col("id").as("payload"))
      graft.operators.ArtifactManifest.clusterBuild(
        cf.filter(col("payload") % 2 === 0), cfDir, Seq("k"), 16)
      graft.operators.ArtifactManifest.clusterAppend(
        cf.filter(col("payload") % 2 === 1), cfDir, Seq("k"), 16)
      time("clustered-fact compact (20M)", n) {
        graft.operators.ArtifactManifest.compactClusteredGenerations(
          spark, cfDir, Seq("k"), 32)
      }
      val cfp = new org.apache.hadoop.fs.Path(cfRoot)
      cfp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(cfp, true)
    }

    // --- bloom semi-join pruning: 50M fact vs a 100k-key dim whose
    // keys cover 2% of fact rows, with broadcast DISABLED to emulate
    // a dim too large to broadcast (the regime the operator exists
    // for). The prune drops ~97% of fact rows before the exchange;
    // the plain shuffle join ships all 50M.
    if (want("bloom build (100k keys)", "plain shuffle join (50M fact)",
        "bloom prune+join (50M fact)")) locally {
      val factN = 50000000L
      val dimN = 100000L
      val fact = spark.range(factN)
        .select((col("id") % 5000000L).as("key"), col("id").as("v"))
      val dim = spark.range(dimN)
        .select((col("id") * 50).as("key"), (col("id") % 97).as("attr"))
      val bcastDefault = spark.conf.get(
        "spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        var bloom: (Array[Long], Int) = null
        time("bloom build (100k keys)", dimN) {
          bloom = graft.operators.BloomPrune.buildSized(
            dim, "key", dimN, 0.01)
        }
        // a substring filter can skip the build TIMING while still
        // running the join probes — build untimed in that case
        if (bloom == null)
          bloom = graft.operators.BloomPrune.buildSized(
            dim, "key", dimN, 0.01)
        time("plain shuffle join (50M fact)", factN) {
          fact.join(dim, Seq("key"))
            .write.format("noop").mode("overwrite").save()
        }
        time("bloom prune+join (50M fact)", factN) {
          graft.operators.BloomPrune.prune(fact, "key",
              bloom._1, bloom._2)
            .join(dim, Seq("key"))
            .write.format("noop").mode("overwrite").save()
        }
      } finally spark.conf.set(
        "spark.sql.autoBroadcastJoinThreshold", bcastDefault)
    }

    // native text kernels over 20M 64-char rows — per-character loops
    // that replaced interpreted HOF folds (t4/t5 kernels)
    lazy val texts = {
      val t = spark.range(n)
        .select(concat(md5(col("id").cast("string")),
          md5((col("id") + 1).cast("string"))).as("text")).cache()
      t.count()
      t
    }
    if (want("rolling_hash (64 chars)",
        "ngram_distinct_count n=3")) texts
    time("rolling_hash (64 chars)", n) {
      texts.select(expr("rolling_hash(text)"))
        .write.format("noop").mode("overwrite").save()
    }
    time("ngram_distinct_count n=3", n) {
      texts.select(expr("ngram_distinct_count(text, 3)"))
        .write.format("noop").mode("overwrite").save()
    }

    spark.stop()
  }
}
