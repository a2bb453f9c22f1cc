package graft

import java.nio.file.{Files, Path}
import org.apache.spark.sql.functions._
import graft.operators.{ArtifactManifest, SimilarityOps, ProductQuantization,
  VectorIndex}

/** The persisted-index lifecycle: build → load must round-trip the
  * trained state exactly, serving from the artifact must equal the
  * inline train-and-serve query, and the cell partitioning must prune
  * the candidate scan to the probed cells' files.
  */
class IndexArtifactSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"
  private val (dim, steps, sub, subDim, k) = (64, 2, 8, 8, 16)

  private def withArtifact[A](
      base: => org.apache.spark.sql.DataFrame =
        Tables.embeddings(spark, d),
      metaCols: Seq[String] = Seq.empty)(f: String => A): A = {
    val dir = Files.createTempDirectory("graft-idx-spec")
    try {
      VectorIndex.build(base, dim, steps, sub, subDim, k, dir.toString,
        metaCols)
      f(dir.toString)
    } finally {
      def rm(p: Path): Unit = {
        if (Files.isDirectory(p)) {
          val s = Files.list(p)
          try s.forEach(rm) finally s.close()
        }
        Files.deleteIfExists(p)
      }
      rm(dir)
    }
  }

  test("build -> load round-trips the trained quantizer state exactly") {
    withArtifact() { dir =>
      val e = SimilarityOps.withNorm(
        Tables.embeddings(spark, d), "embedding", "n")
      val cents = SimilarityOps.trainIvf(e, dim, steps)
      val books = ProductQuantization.train(
        e, "embedding", "vec_id", sub, subDim, k, steps = 1)
      val l = VectorIndex.load(spark, dir)
      assert(l.cents.cells.toSeq === cents.cells.toSeq)
      assert(l.cents.books.toSeq === cents.books.toSeq) // bit-exact
      assert(l.cents.mns.toSeq === cents.mns.toSeq)
      assert(l.books.map(_.map(_.toSeq).toSeq).toSeq ===
        books.map(_.map(_.toSeq).toSeq).toSeq)
      // every corpus row is present with its cell, 8-byte code, and
      // ingest generation (0 = the build itself)
      assert(l.corpus.count() === e.count())
      assert(l.corpus.columns.toSet ===
        Set("vec_id", "embedding", "n", "code", "cell", "ingest"))
      assert(l.corpus.filter(col("ingest") =!= 0L).count() === 0L)
    }
  }

  test("serving from the artifact equals the inline train-and-serve (s8)") {
    withArtifact() { dir =>
      val fromArtifact = VectorIndex
        .serveTopK(VectorIndex.load(spark, dir), subDim, 5L, 3)
        .select("q_id", "vec_id", "cell", "adc_dist", "rank")
        .as[(Long, Long, Long, Double, Long)].collect().toSeq.sorted
      val inline = SparkEntry.queries("s8_ivfpq_topk")(spark, d)
        .select("q_id", "vec_id", "cell", "adc_dist", "rank")
        .as[(Long, Long, Long, Double, Long)].collect().toSeq.sorted
      assert(fromArtifact === inline)
    }
  }

  test("cell predicates prune to partition filters on the corpus scan") {
    withArtifact() { dir =>
      val l = VectorIndex.load(spark, dir)
      val cell = l.cents.cells.head
      val plan = l.corpus.filter(col("cell") === cell)
        .queryExecution.executedPlan.toString
      // the cell filter must reach the scan as a PARTITION filter (the
      // inverted-list locality: a probe reads only its cells' files),
      // never as a row-level data filter over the whole corpus
      assert(plan.contains("PartitionFilters") &&
        plan.split("PartitionFilters", 2)(1).takeWhile(_ != ']')
          .contains("cell"), plan)
    }
  }

  test("append ingests under frozen quantizers; serving equals inline") {
    // build on a BASE slice (quantizers train on base only), append
    // the rest: the appended artifact must serve exactly what an
    // inline frozen-quantizer encode of the full corpus serves, and
    // the quantizer state must be untouched by the append
    val all = Tables.embeddings(spark, d)
    withArtifact(all.filter(col("vec_id") < 300)) { dir =>
      val before = VectorIndex.load(spark, dir)
      VectorIndex.append(spark, dir, all.filter(col("vec_id") >= 300))
      val after = VectorIndex.load(spark, dir)
      assert(after.cents.books.toSeq === before.cents.books.toSeq)
      assert(after.books.map(_.map(_.toSeq).toSeq).toSeq ===
        before.books.map(_.map(_.toSeq).toSeq).toSeq)
      assert(after.corpus.count() === all.count())
      val inline = VectorIndex.Loaded(before.cents, before.books,
        ProductQuantization.encode(
          SimilarityOps.withNorm(all, "embedding", "n")
            .withColumn("cell",
              SimilarityOps.ivfAssign(before.cents, dim)),
          "embedding", before.books, subDim, "code"))
      val fromArtifact = VectorIndex.serveTopK(after, subDim, 5L, 3)
        .as[(Long, Long, Long, Double, Long)].collect().toSeq.sorted
      val fromInline = VectorIndex.serveTopK(inline, subDim, 5L, 3)
        .as[(Long, Long, Long, Double, Long)].collect().toSeq.sorted
      assert(fromArtifact === fromInline)
      // the appended rows actually reach the served candidate pool
      assert(fromArtifact.exists(_._2 >= 300L))
    }
  }

  test("append reports the drift signal: an in-distribution batch " +
      "does not trip it, a distribution shift does") {
    // controlled geometry so the signal is deterministic: the base
    // corpus is two tight clusters along basis axes 0 and 1 (Lloyd
    // lands centroids on them; mean assigned cosine ~1), the uniform
    // continuation draws from the same clusters, and the DRIFTED
    // batch lives on axis 5 — near-orthogonal to every trained
    // centroid, exactly the frozen-quantizer recall hazard the
    // signal exists to surface
    def clustered(ids: Range, axisOf: Long => Int) = ids.map { i =>
      val v = Array.fill(dim)(0.0f)
      v(axisOf(i.toLong)) = 1.0f
      v((10 + i % 3)) = 0.01f * (1 + i % 7) // jitter off the axis
      (i.toLong, v.toSeq)
    }.toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"))
    // one all-zero vector in the build corpus (a padding/failed-encode
    // artifact): its 0/0 cosine must be EXCLUDED from the baseline —
    // a NaN would poison the average and disable the signal forever
    val zero = Seq((9999L, Seq.fill(dim)(0.0f)))
      .toDF("vec_id", "embedding")
      .select(col("vec_id"), col("embedding").cast("array<float>")
        .as("embedding"))
    val base = clustered(0 until 300, id => (id % 2).toInt)
      .unionByName(zero)
    withArtifact(base) { dir =>
      assert(VectorIndex.driftBaseline(spark, dir).exists(_ > 0.9))
      val uniform = clustered(300 until 400, id => (id % 2).toInt)
      assert(!VectorIndex.append(spark, dir, uniform))
      val drifted = clustered(400 until 500, _ => 5)
      assert(VectorIndex.append(spark, dir, drifted))
      // the signal is advisory — both batches were ingested
      // (301 base rows incl. the zero vector + 100 + 100)
      assert(VectorIndex.load(spark, dir).corpus.count() === 501L)
      // rebuild retrains on current contents and REFRESHES the
      // baseline (it is the staged build's own, swapped in with the
      // artifact): the drifted mass is now in the training sample,
      // so the reference the next appends compare against reflects
      // today's distribution, not the original build's
      val baseBefore = VectorIndex.driftBaseline(spark, dir).get
      VectorIndex.rebuild(spark, dir, steps, sub, subDim, k)
      val baseAfter = VectorIndex.driftBaseline(spark, dir).get
      assert(baseAfter < baseBefore)
    }
  }

  test("filtered artifact serving (s12) equals inline-trained filtered serving") {
    // s12 itself now serves from the persisted artifact (build-or-
    // load), so the reference here is an INLINE-trained index that
    // never touches disk: train the same quantizers in memory, serve
    // through the same filtered shape, and require identical rows —
    // the artifact round trip must not move a single result. Predicate
    // columns living next to the codes is what makes filtered serving
    // possible without joining back to the corpus.
    val e = SimilarityOps.withNorm(
      Tables.embeddings(spark, d), "embedding", "n")
    val cents = SimilarityOps.trainIvf(e, dim, steps)
    val books = ProductQuantization.train(
      e, "embedding", "vec_id", sub, subDim, k, steps = 1)
    val inline = VectorIndex.Loaded(cents, books,
      ProductQuantization.encode(
          e.withColumn("cell", SimilarityOps.ivfAssign(cents, dim)),
          "embedding", books, subDim, "code")
        .withColumn("label", col("label").cast("long")))
    val want = VectorIndex
      .serveTopK(inline, subDim, 5L, 3, filterKeys = Seq("label"))
      .select("q_id", "vec_id", "label", "cell", "adc_dist", "rank")
      .as[(Long, Long, Long, Long, Double, Long)].collect().toSeq.sorted
    val got = SparkEntry.queries("s12_filtered_ann")(spark, d)
      .select("q_id", "vec_id", "label", "cell", "adc_dist", "rank")
      .as[(Long, Long, Long, Long, Double, Long)].collect().toSeq.sorted
    assert(got === want)
  }

  test("the serve join itself prunes the candidate scan via DPP") {
    withArtifact() { dir =>
      // serveTopK has NO literal cell filter — the candidate side is an
      // equi join on the partition column against the broadcast query
      // table, so the files-read guarantee rests on DYNAMIC partition
      // pruning inserting a cell IN (...) partition filter fed from the
      // broadcast side. Pin that: without it the scan silently degrades
      // to reading every inverted list and only the claim in the
      // Scaladoc would remain.
      val plan = VectorIndex.serveTopK(VectorIndex.load(spark, dir),
        subDim, 5L, 3).queryExecution.executedPlan.toString
      val candScans = plan.split("\n").filter(l =>
        l.contains("PartitionFilters") && l.contains("dynamicpruning"))
      assert(candScans.nonEmpty, plan)
      assert(candScans.exists(_.split("PartitionFilters", 2)(1)
        .takeWhile(_ != ']').contains("cell")), candScans.mkString("\n"))
    }
  }

  test("generation compaction: serve-identical, cell files collapsed, auto-triggered") {
    import scala.jdk.CollectionConverters._
    def ingestDirs(dir: String): Seq[String] = {
      val s = Files.list(java.nio.file.Paths.get(dir, "corpus"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("ingest=")).toSeq.sorted
      finally s.close()
    }
    def parquetFiles(dir: String): Long = {
      val s = Files.walk(java.nio.file.Paths.get(dir, "corpus"))
      try s.iterator().asScala.count(_.toString.endsWith(".parquet"))
      finally s.close()
    }
    val all = Tables.embeddings(spark, d)
    withArtifact(all.filter(col("vec_id") < 300)) { dir =>
      val l = VectorIndex.load(spark, dir)
      VectorIndex.appendWithDrift(l, dir, all
        .filter(col("vec_id") >= 300 && col("vec_id") < 400)
        .select("vec_id", "embedding"), generation = 1L)
      VectorIndex.appendWithDrift(l, dir, all.filter(col("vec_id") >= 400)
        .select("vec_id", "embedding"), generation = 2L)
      def served() = VectorIndex
        .serveTopK(VectorIndex.load(spark, dir), subDim, 5L, 3)
        .as[(Long, Long, Long, Double, Long)].collect().toSeq.sorted
      val before = served()
      val filesBefore = parquetFiles(dir)
      val kept = ArtifactManifest.compactGenerations(spark,
        s"$dir/corpus", "cell")
      // merged past every listed generation: numbering monotone
      assert(kept === 3L)
      assert(ingestDirs(dir) === Seq("ingest=3"))
      assert(parquetFiles(dir) < filesBefore)
      // serving is identical across the collapse — compaction is a
      // physical-layout pass, not a semantic one
      assert(served() === before)
      // and the maintenance is WIRED INTO ingest: an append whose
      // generation would be the threshold-th merges the live corpus
      // and the batch into that generation itself
      VectorIndex.append(spark, dir,
        all.filter(col("vec_id") >= 400)
          .select((col("vec_id") + 10000).as("vec_id"),
            col("embedding")),
        compactEvery = 2)
      assert(ingestDirs(dir) === Seq("ingest=4"))
      assert(served().nonEmpty)
    }
  }

  test("delete rewrites only affected cells; emptied cells vanish; absent keys no-op") {
    import scala.jdk.CollectionConverters._
    def files(dir: String): Map[String, Set[String]] = {
      val s = Files.walk(java.nio.file.Paths.get(dir, "corpus"))
      try s.iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
        .groupBy(_.getParent.getFileName.toString)
        .map { case (k, v) =>
          k -> v.map(_.getFileName.toString).toSet }
      finally s.close()
    }
    val all = Tables.embeddings(spark, d)
    withArtifact() { dir =>
      val l = VectorIndex.load(spark, dir)
      // tombstone every vector of ONE cell plus a few of another:
      // the first cell's directory must vanish (all rows deleted),
      // the second's must be rewritten, every other cell's files
      // must be the IDENTICAL paths — the partition-pruned rewrite
      // is the whole 100 TB point of the delete path
      val byCell = l.corpus.groupBy(col("cell"))
        .agg(count(lit(1)).as("n"))
        .orderBy(col("n").asc, col("cell").asc)
        .as[(Long, Long)].collect()
      val (emptyCell, partialCell) = (byCell.head._1, byCell.last._1)
      // materialize the tombstone ids up front: a takedown feed is an
      // EXTERNAL input, not a view over the artifact being rewritten —
      // a frame lazily reading the corpus would dangle once the delete
      // replaces those files
      val tombIds = l.corpus.filter(col("cell") === emptyCell ||
          (col("cell") === partialCell && pmod(col("vec_id"), lit(2))
            === 0))
        .select("vec_id").as[Long].collect().toSet
      val tombs = tombIds.toSeq.toDF("vec_id")
      val before = files(dir)
      VectorIndex.delete(spark, dir, tombs)
      val after = files(dir)
      assert(!after.contains(s"cell=$emptyCell")) // emptied dir dropped
      assert(after(s"cell=$partialCell") !==
        before(s"cell=$partialCell")) // rewritten
      for ((p, fs) <- before
          if p != s"cell=$emptyCell" && p != s"cell=$partialCell")
        assert(after(p) === fs, s"untouched partition $p was rewritten")
      // the rows are really gone, survivors intact
      val left = VectorIndex.load(spark, dir).corpus
        .select("vec_id").as[Long].collect().toSet
      assert(left.intersect(tombIds).isEmpty)
      assert(left.size ===
        all.count().toInt - tombIds.size)
      // absent-key tombstones change nothing (idempotent takedown)
      VectorIndex.delete(spark, dir, tombs)
      assert(files(dir) === after)
    }
  }

  test("rebuild re-trains on current contents and starts a new epoch") {
    val all = Tables.embeddings(spark, d)
    withArtifact(all.filter(col("vec_id") < 300)
        .withColumn("label", col("label").cast("long")),
      metaCols = Seq("label")) { dir =>
      VectorIndex.append(spark, dir, all.filter(col("vec_id") >= 300)
        .select(col("vec_id"), col("embedding"),
          col("label").cast("long").as("label")))
      VectorIndex.rebuild(spark, dir, steps, sub, subDim, k)
      val l = VectorIndex.load(spark, dir)
      // quantizers now equal DIRECT full-corpus training — the stale
      // base-only state is gone (this is what "drift response" means)
      val e = SimilarityOps.withNorm(all, "embedding", "n")
      val cents = SimilarityOps.trainIvf(e, dim, steps)
      val books = ProductQuantization.train(
        e, "embedding", "vec_id", sub, subDim, k, steps = 1)
      assert(l.cents.cells.toSeq === cents.cells.toSeq)
      assert(l.cents.books.toSeq === cents.books.toSeq)
      assert(l.books.map(_.map(_.toSeq).toSeq).toSeq ===
        books.map(_.map(_.toSeq).toSeq).toSeq)
      // every row survived re-encode, metadata intact, new epoch
      assert(l.corpus.count() === all.count())
      assert(l.corpus.columns.contains("label"))
      assert(l.corpus.filter(col("ingest") =!= 0L).count() === 0L)
      // no staging sibling left behind
      assert(!java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"${dir}__rebuild")))
    }
  }

  test("rebuild under a TRAILING-SLASH dir stages as a sibling (a " +
      "concatenated child path would be carried away by the swap) " +
      "and keeps the manifest version monotone") {
    val all = Tables.embeddings(spark, d)
    withArtifact(all.filter(col("vec_id") < 300)) { dir =>
      VectorIndex.append(spark, dir,
        all.filter(col("vec_id") >= 300)
          .select("vec_id", "embedding"))
      val before = graft.operators.ArtifactManifest
        .latest(spark, s"$dir/corpus")
      assert(before.nonEmpty)
      // the trailing slash is the regression: "dir/" + "__rebuild"
      // lands INSIDE the live tree and the swap strands it
      VectorIndex.rebuild(spark, s"$dir/", steps, sub, subDim, k)
      val l = VectorIndex.load(spark, dir)
      assert(l.corpus.count() === all.count())
      // monotone version across the rebuild: a pinned reader using
      // the manifest version for change detection must SEE the
      // rebuild, not a regression to a fresh chain
      val after = graft.operators.ArtifactManifest
        .latest(spark, s"$dir/corpus")
      assert(after.map(_.version).get > before.map(_.version).get,
        s"manifest version regressed across rebuild: " +
          s"${before.map(_.version)} -> ${after.map(_.version)}")
    }
  }

  test("replaying a vector ingest generation is idempotent") {
    val e = Tables.embeddings(spark, d)
    withArtifact(e.filter(col("vec_id") < 400)) { dir =>
      val l = VectorIndex.load(spark, dir)
      val batch = e.filter(col("vec_id") >= 400)
        .select("vec_id", "embedding")
      def corpus() = VectorIndex.load(spark, dir).corpus
        .select("vec_id", "cell", "code")
        .as[(Long, Long, Seq[Int])].collect().toSeq
        .map { case (v, c, cd) => (v, c, cd.mkString(",")) }.sorted
      VectorIndex.appendWithDrift(l, dir, batch, generation = 1L)
      val once = corpus()
      VectorIndex.appendWithDrift(l, dir, batch, generation = 1L)
      assert(corpus() === once) // replay replaced, not doubled
    }
  }

  test("streaming vector ingest gate ≡ the batch gate, per-batch ordered") {
    import graft.SimilarityQueries._
    val root = Files.createTempDirectory("graft-vec-ingest-spec")
    try {
      // start from a clean cache so the leak assertion below is about
      // THIS call, not whatever another suite left in the shared session
      spark.catalog.clearCache()
      // compactEvery = 2: the 3-batch replay accretes 4 generations,
      // so the gate's post-replay maintenance must collapse them
      val streamed = VectorIndex.streamIngestGate(spark,
          Tables.embeddings(spark, d), dim, steps, sub, subDim, k,
          VecGateBits, VecGateSplit, VecGateThr, nFiles = 3,
          root.toString, compactEvery = 2)
        .as[(Long, Option[Long], Boolean)].collect().toSeq.sorted
      // the stream's final decisions equal the ONE-SHOT batch gate's
      // (s13) — the equivalence the oracle sharing relies on
      val batch = SparkEntry.queries("s13_vec_ingest_gate")(spark, d)
        .as[(Long, Option[Long], Boolean)].collect().toSeq.sorted
      assert(streamed === batch)
      // real rejections happened, including one whose winner was only
      // reachable THROUGH the artifact (a base-corpus vector)
      assert(streamed.exists { case (_, dup, adm) =>
        !adm && dup.exists(_ < VecGateSplit) })
      // the stream genuinely ran as 3 micro-batches, in id order
      val perBatch = spark.read.parquet(s"$root/decisions")
        .groupBy(col("batch"))
        .agg(min(col("vec_id")).as("lo"), max(col("vec_id")).as("hi"))
        .orderBy(col("batch"))
        .as[(Long, Long, Long)].collect().toSeq
      assert(perBatch.map(_._1) === Seq(0L, 1L, 2L))
      assert(perBatch.sliding(2).forall {
        case Seq((_, _, hi0), (_, lo1, _)) => hi0 < lo1
        case _ => true
      })
      // the per-batch persisted encode frames were all released — a
      // library call must not leak cache
      assert(spark.sharedState.cacheManager.isEmpty)
      // post-replay maintenance collapsed the per-batch generations
      // (decisions above already proved the collapse changed nothing)
      locally {
        import scala.jdk.CollectionConverters._
        val s = Files.list(root.resolve("index/corpus"))
        val gens = try s.iterator().asScala
          .map(_.getFileName.toString)
          .filter(_.startsWith("ingest=")).toSeq.sorted
        finally s.close()
        assert(gens === Seq("ingest=4"))
      }
      // the stream's artifact is gate-stamped and the persisted
      // bucket column stayed complete through appends + compaction —
      // no batch's stored side ever re-derived it
      assert(VectorIndex.gateBitsOf(spark,
        root.resolve("index").toString) === Some(VecGateBits))
      assert(spark.read.parquet(s"$root/index/corpus")
        .filter(col("bucket").isNull).count() === 0L)
    } finally {
      def rm(p: Path): Unit = {
        if (Files.isDirectory(p)) {
          val s = Files.list(p)
          try s.forEach(rm) finally s.close()
        }
        Files.deleteIfExists(p)
      }
      rm(root)
    }
  }

  test("the gate's confirm join blocks exactly gateCandidates' pair set") {
    import graft.operators.SimilarityOps
    // the gate's confirm stage carries embeddings through its own
    // (cell, bucket) join instead of calling gateCandidates — this
    // pins that the two formulations CANNOT drift: with threshold -1
    // every blocked pair survives the cosine filter (cosine is in
    // [-1, 1]), so confirmedPairs' id set must equal gateCandidates'
    // blocking, which is what the s14 recall report measures and
    // claims is the gate's.
    val e = SimilarityOps.withNorm(
      Tables.embeddings(spark, "/root/testdata/sf0.001"),
      "embedding", "n")
    val split = 400L
    val cents = SimilarityOps.trainIvf(
      e.filter(col("vec_id") < split), 64, 2)
    val assigned = e
      .withColumn("cell", SimilarityOps.ivfAssign(cents, 64))
      .withColumn("bucket", SimilarityOps.signBucket("embedding", 6))
    val stored = assigned.filter(col("vec_id") < split)
    val batch = assigned.filter(col("vec_id") >= split)
    val viaGate = SimilarityOps.confirmedPairs(stored, batch, -1.0)
      .select("a", "b").as[(Long, Long)].collect().toSet
    val viaBlocking = SimilarityOps.gateCandidates(stored, batch)
      .as[(Long, Long)].collect().toSet
    assert(viaGate === viaBlocking)
    assert(viaGate.nonEmpty) // the pin is vacuous on an empty block set
  }

  test("opt-in ADC shortlist (s17): a permissive bar is decision-" +
      "identical to the exact gate, an impossible bar degrades to " +
      "batch-only confirm, and the shortcut only ever ADMITS more — " +
      "never rejects more") {
    import graft.operators.{ProductQuantization, SimilarityOps}
    val e = SimilarityOps.withNorm(
      Tables.embeddings(spark, d), "embedding", "n")
    val split = 400L
    val base = e.filter(col("vec_id") < split)
    val cents = SimilarityOps.trainIvf(base, dim, steps)
    val books = ProductQuantization.train(
      base, "embedding", "vec_id", sub, subDim, k, steps = 1)
    val assigned = e
      .withColumn("cell", SimilarityOps.ivfAssign(cents, dim))
      .withColumn("bucket", SimilarityOps.signBucket("embedding", 4))
    val stored = ProductQuantization.encode(
      assigned.filter(col("vec_id") < split), "embedding", books,
      subDim, "code")
    val batch = assigned.filter(col("vec_id") >= split)
    def decisions(adc: Option[SimilarityOps.AdcPrefilter]) =
      SimilarityOps.ingestGate(stored, batch, 0.35, adc)
        .as[(Long, Option[Long], Boolean)].collect().toSeq.sortBy(_._1)
    val exact = decisions(None)
    // a bar below any representable approx-cosine keeps every pair —
    // the shortlist machinery itself must be decision-invisible
    assert(decisions(Some(
      SimilarityOps.AdcPrefilter(books, subDim, -1e9))) === exact)
    // a bar above any reachable approx-cosine drops every scored
    // (stored-side) pair: the gate degrades to batch-only confirm —
    // the batch×batch pairs are exempt (no code) and survive intact.
    // (approx-cosine is NOT capped at 1 — a zero ADC distance under
    // mismatched norms gives (na²+nb²)/(2·na·nb) ≥ 1 — hence 1e9,
    // not 2.0.)
    val batchOnly = SimilarityOps
      .ingestGate(stored.limit(0), batch, 0.35)
      .as[(Long, Option[Long], Boolean)].collect().toSeq.sortBy(_._1)
    assert(decisions(Some(
      SimilarityOps.AdcPrefilter(books, subDim, 1e9))) === batchOnly)
    // the gate did real work on this corpus at both extremes
    assert(exact.exists(!_._3))
    // at the serving bar the shortlist can only ADMIT more (dropping
    // a confirmed pair removes a rejection reason, never adds one)
    val flagged = decisions(Some(SimilarityOps.AdcPrefilter(
      books, subDim, SimilarityQueries.AdcGateBar)))
    assert(exact.filter(_._3).map(_._1).toSet
      .subsetOf(flagged.filter(_._3).map(_._1).toSet))
    // a code-less stored side refuses loudly instead of silently
    // exempting the whole corpus from the shortlist
    val ex = intercept[IllegalArgumentException] {
      SimilarityOps.ingestGate(
        assigned.filter(col("vec_id") < split), batch, 0.35,
        Some(SimilarityOps.AdcPrefilter(books, subDim, 0.0)))
    }
    assert(ex.getMessage.contains("code"))
  }

  test("live-id membership sketch beside the corpus: the pruned fact " +
      "composes byte-identically with the exact join, and real " +
      "non-members drop before it") {
    withArtifact() { dir =>
      val ids = Tables.embeddings(spark, d).select(col("vec_id"))
      // half the fact are members, half are shifted non-members the
      // sketch should drop ahead of the join (fp rate excepted)
      val fact = ids.unionByName(
        ids.select((col("vec_id") + 10000000L).as("vec_id")))
      val live = VectorIndex.load(spark, dir).corpus
        .select(col("vec_id")).distinct()
      val exact = fact.join(live, Seq("vec_id"), "left_semi")
        .as[Long].collect().toSeq.sorted
      assert(exact.nonEmpty)
      val prunedFact = VectorIndex.memberPrune(spark, dir, fact, "vec_id")
      val pruned = prunedFact.join(live, Seq("vec_id"), "left_semi")
        .as[Long].collect().toSeq.sorted
      assert(pruned === exact)
      // every live id survived the probe; the shifted half mostly died
      // before the join ever saw it
      val kept = prunedFact.count()
      assert(kept >= exact.size, s"kept=$kept dropped true members")
      assert(kept < fact.count(), s"kept=$kept of ${fact.count()} — " +
        "the sketch pruned nothing")
    }
  }

  private def rmTree(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(rmTree) finally s.close()
    }
    Files.deleteIfExists(p)
  }

  test("gate-stamped build persists the bucket column; the gate's " +
      "stored side is a plain scan, never a corpus-wide re-derivation") {
    val bits = SimilarityQueries.VecGateBits
    val root = Files.createTempDirectory("graft-gate-col")
    val dir = root.toString
    try {
      val all = Tables.embeddings(spark, d)
      VectorIndex.build(all.filter(col("vec_id") < 400)
          .select("vec_id", "embedding"),
        dim, steps, sub, subDim, k, dir, gateBits = Some(bits))
      assert(VectorIndex.gateBitsOf(spark, dir) === Some(bits))
      val l = VectorIndex.load(spark, dir)
      assert(l.gateBits === Some(bits))
      // value parity: the persisted bucket IS the derivation —
      // byte-identical gate decisions are implied (the streaming test
      // holds them to the batch oracle)
      assert(l.corpus.filter(col("bucket") =!=
        SimilarityOps.signBucket("embedding", bits)).count() === 0L)
      // the per-batch stored side (what streamIngestGate now feeds
      // the gate for a stamped artifact) must carry NO signBucket
      // projection — the element_at CASE chain was the O(corpus)
      // per-micro-batch cost this column deletes
      val plan = spark.read.parquet(s"$dir/corpus")
        .queryExecution.optimizedPlan.toString
      assert(!plan.contains("element_at"), plan)
      // and the gate's touched-bucket In filter reaches the scan as
      // a PUSHED filter — with the bucket-sorted file layout, row
      // groups of un-touched buckets are skipped on stats, so the
      // per-batch read tracks the batch's collision surface
      val pushed = spark.read.parquet(s"$dir/corpus")
        .filter(col("bucket").isin(1L, 2L))
        .queryExecution.executedPlan.toString
      assert(pushed.contains("PushedFilters") &&
        pushed.split("PushedFilters", 2)(1).takeWhile(_ != ']')
          .contains("bucket"), pushed)
      // the written cell files ARE bucket-sorted — the layout the
      // pushed filter's row-group/page skipping depends on. This was
      // silently false before: a constant `ingest` in the sort list
      // makes the writer re-sort by partition columns alone (see
      // ArtifactManifest.writeGeneration)
      val cellFs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def assertBucketSorted(gen: Long): Unit = {
        val cellFiles = cellFs.globStatus(new org.apache.hadoop.fs.Path(
          s"$dir/corpus/ingest=$gen/cell=*/part-*")).map(_.getPath)
        assert(cellFiles.nonEmpty, s"no cell files in generation $gen")
        cellFiles.take(4).foreach { f =>
          val b = spark.read.parquet(f.toString)
            .select("bucket").collect().map(_.getLong(0))
          assert(b.sameElements(b.sorted),
            s"unsorted bucket layout in $f")
        }
      }
      assertBucketSorted(0L)
      // appends keep the column complete under the SAME geometry, and
      // the appended generation's cell files bucket-sorted too
      VectorIndex.append(spark, dir, all.filter(col("vec_id") >= 400)
        .select("vec_id", "embedding"))
      assertBucketSorted(1L)
      val l2 = VectorIndex.load(spark, dir)
      assert(l2.corpus.filter(col("bucket").isNull ||
        col("bucket") =!= SimilarityOps.signBucket("embedding", bits))
        .count() === 0L)
      // rebuild re-stamps from the carried geometry (one source of
      // truth) and recomputes the column over the retrained corpus
      VectorIndex.rebuild(spark, dir, steps, sub, subDim, k)
      assert(VectorIndex.gateBitsOf(spark, dir) === Some(bits))
      assert(VectorIndex.load(spark, dir).corpus
        .filter(col("bucket").isNull).count() === 0L)
    } finally rmTree(root)
  }

  test("ADC flag enforcement: refuses without a fresh recall report, " +
      "admits after one, goes stale when the corpus moves, refuses a " +
      "low-recall report, and adcForce overrides explicitly") {
    import graft.operators.SimilarityOps
    val bits = SimilarityQueries.VecGateBits
    val bar = SimilarityQueries.AdcGateBar
    val root = Files.createTempDirectory("graft-adc-rep")
    val dir = s"$root/idx"
    try {
      val e = Tables.embeddings(spark, d)
      VectorIndex.build(e.filter(col("vec_id") < 400)
          .select("vec_id", "embedding"),
        dim, steps, sub, subDim, k, dir, gateBits = Some(bits))
      val l = VectorIndex.load(spark, dir)
      // absent report -> the sanctioned constructor refuses loudly
      val ex1 = intercept[IllegalStateException] {
        VectorIndex.adcPrefilterFor(spark, dir, l.books, subDim, bar)
      }
      assert(ex1.getMessage.contains("recall report"), ex1.getMessage)
      // ensure computes + saves; the constructor then admits
      val batch = SimilarityOps.withNorm(
          e.filter(col("vec_id") >= 400), "embedding", "n")
        .withColumn("cell", SimilarityOps.ivfAssign(l.cents, dim))
        .withColumn("bucket",
          SimilarityOps.signBucket("embedding", bits))
      def storedOf(li: VectorIndex.Loaded) =
        VectorIndex.gateStoredPinned(spark, dir, bits, li.gateBits,
          batch)
      locally {
        val (v, st) = storedOf(l)
        VectorIndex.ensureAdcReport(spark, dir, subDim, bar, v)(
          SimilarityOps.adcRecallReport(l.books, subDim, 0.35, bar)(
            batch, st))
      }
      val pre = VectorIndex.adcPrefilterFor(spark, dir, l.books,
        subDim, bar)
      assert(pre.subDim === subDim && pre.bar === bar)
      // a different geometry than the report measured -> refuse
      val ex2 = intercept[IllegalStateException] {
        VectorIndex.adcPrefilterFor(spark, dir, l.books, subDim,
          bar + 0.05)
      }
      assert(ex2.getMessage.contains("geometry"), ex2.getMessage)
      // the corpus moves (append bumps the manifest version): the
      // report is STALE and the flag refuses until re-measured
      VectorIndex.append(spark, dir,
        e.filter(col("vec_id") >= 400 && col("vec_id") < 450)
          .select("vec_id", "embedding"))
      val ex3 = intercept[IllegalStateException] {
        VectorIndex.adcPrefilterFor(spark, dir, l.books, subDim, bar)
      }
      assert(ex3.getMessage.contains("STALE"), ex3.getMessage)
      val l2 = VectorIndex.load(spark, dir)
      locally {
        val (v, st) = storedOf(l2)
        VectorIndex.ensureAdcReport(spark, dir, subDim, bar, v)(
          SimilarityOps.adcRecallReport(l2.books, subDim, 0.35, bar)(
            batch, st))
      }
      VectorIndex.adcPrefilterFor(spark, dir, l2.books, subDim, bar)
      def curVer = graft.operators.ArtifactManifest
        .latest(spark, s"$dir/corpus").map(_.version).getOrElse(-1L)
      // a report showing a lossy band refuses; the explicit override
      // (graft.gate.adcForce) admits — operator accepts the loss
      import spark.implicits._
      VectorIndex.saveAdcReport(spark, dir,
        Seq((7L, 100L, 50L, 0.5))
          .toDF("band", "n_conf", "n_kept", "recall"),
        subDim, bar, curVer)
      val ex4 = intercept[IllegalStateException] {
        VectorIndex.adcPrefilterFor(spark, dir, l2.books, subDim, bar)
      }
      assert(ex4.getMessage.contains("keeps only"), ex4.getMessage)
      spark.conf.set("graft.gate.adcForce", "true")
      try {
        val forced = VectorIndex.adcPrefilterFor(spark, dir, l2.books,
          subDim, bar)
        assert(forced.bar === bar)
      } finally spark.conf.unset("graft.gate.adcForce")
      // the single-pass serving entry: over the doctored low-recall
      // report it refuses identically (the report is FRESH, so the
      // lazy recompute must NOT run and mask it)...
      var recomputed = false
      val ex5 = intercept[IllegalStateException] {
        VectorIndex.ensuredAdcPrefilter(spark, dir, l2.books, subDim,
          bar, curVer) { recomputed = true; null }
      }
      assert(ex5.getMessage.contains("keeps only") && !recomputed)
      // ...and over a STALE report it recomputes, saves, judges, and
      // admits in one call
      VectorIndex.append(spark, dir,
        e.filter(col("vec_id") >= 450 && col("vec_id") < 460)
          .select("vec_id", "embedding"))
      val l3 = VectorIndex.load(spark, dir)
      val one = locally {
        val (v, st) = storedOf(l3)
        VectorIndex.ensuredAdcPrefilter(spark, dir, l3.books,
          subDim, bar, v)(
          SimilarityOps.adcRecallReport(l3.books, subDim, 0.35, bar)(
            batch, st))
      }
      assert(one.bar === bar)
      VectorIndex.adcPrefilterFor(spark, dir, l3.books, subDim, bar)
      // a report stamped with a pin the corpus has MOVED PAST can
      // never read fresh — the stamp carries what was measured, not
      // what is current at save time (the save-time re-read raced a
      // concurrent append and silently freshened unmeasured corpora)
      val behind = curVer
      VectorIndex.append(spark, dir,
        e.filter(col("vec_id") >= 460 && col("vec_id") < 465)
          .select("vec_id", "embedding"))
      VectorIndex.saveAdcReport(spark, dir,
        Seq((7L, 100L, 100L, 1.0))
          .toDF("band", "n_conf", "n_kept", "recall"),
        subDim, bar, behind)
      val ex6 = intercept[IllegalStateException] {
        VectorIndex.adcPrefilterFor(spark, dir, l3.books, subDim, bar)
      }
      assert(ex6.getMessage.contains("STALE"), ex6.getMessage)
      // serving never fails on the artifact's writer lease: with the
      // report stale and the lease held (a stream mid-replay), the
      // single-pass entry judges the bands it just computed and
      // SERVES; the persist is skipped, so the on-disk report stays
      // stale (the strict constructor still refuses)
      val lease = graft.operators.WriterLease
        .acquire(spark, s"${dir}__lock")
      try {
        val l4 = VectorIndex.load(spark, dir)
        val served = locally {
          val (v, st) = storedOf(l4)
          VectorIndex.ensuredAdcPrefilter(spark, dir, l4.books,
            subDim, bar, v)(
            SimilarityOps.adcRecallReport(l4.books, subDim, 0.35,
              bar)(batch, st))
        }
        assert(served.bar === bar)
        val ex7 = intercept[IllegalStateException] {
          VectorIndex.adcPrefilterFor(spark, dir, l4.books, subDim,
            bar)
        }
        assert(ex7.getMessage.contains("STALE"), ex7.getMessage)
      } finally graft.operators.WriterLease.release(spark, lease)
    } finally rmTree(root)
  }

  test("vector gate native tier: a batch touching more buckets than " +
      "the or-chain cap prunes the stored corpus through the UDP " +
      "scan, result-identical after the (cell, bucket) closure") {
    val bits = SimilarityQueries.VecGateBits
    val root = Files.createTempDirectory("graft-gate-native")
    val dir = root.toString
    try {
      val all = Tables.embeddings(spark, d)
      VectorIndex.build(all.filter(col("vec_id") < 400)
          .select("vec_id", "embedding"),
        dim, steps, sub, subDim, k, dir, gateBits = Some(bits))
      val l = VectorIndex.load(spark, dir)
      import spark.implicits._
      // a touched set wider than the catalyst cap: the real batch
      // buckets plus synthetic fillers (fillers match nothing — the
      // prune is a superset filter, stragglers die downstream)
      val real = l.corpus.select("bucket").distinct()
        .as[Long].collect().toIndexedSeq
      val wide = (real ++ (1L to
        graft.operators.DedupIndex.PushMaxValues + 32L)).distinct
      assert(wide.length > graft.operators.DedupIndex.PushMaxValues)
      val enc = wide.toDF("bucket")
      // a spec-sized corpus can never repay page seeks — force the
      // tier on to test its mechanics (the cost gate itself is
      // spec'd in DedupIndexSpec)
      spark.conf.set("graft.gate.nativeSkipPayoff", "0")
      val pruned = try VectorIndex.gateStored(spark, dir, bits,
          Some(bits), enc)
        finally spark.conf.unset("graft.gate.nativeSkipPayoff")
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("GraftParquet"),
        s"native tier not engaged:\n$plan")
      // closure: semi-join on bucket equals the exactly-filtered
      // corpus (page-superset never loses a matching row; every
      // straggler dies in the closure)
      val exact = (df: org.apache.spark.sql.DataFrame) =>
        df.join(broadcast(enc), Seq("bucket"), "left_semi")
          .select("vec_id", "cell", "bucket")
          .collect().map(_.toSeq).toSet
      assert(exact(pruned) === exact(
        VectorIndex.gateStored(spark, dir, bits, Some(bits), enc,
          push = false)))
      assert(exact(pruned).nonEmpty)
    } finally rmTree(root)
  }

  test("artifact batch mutators hold the writer lease: a held lease " +
      "refuses a second writer at entry; a crashed holder is stolen " +
      "past the horizon") {
    import graft.operators.WriterLease
    val root = Files.createTempDirectory("graft-art-lease")
    try {
      val dir = s"$root/idx"
      val e = Tables.embeddings(spark, d)
      val baseN = e.filter(col("vec_id") < 400).count()
      VectorIndex.build(e.filter(col("vec_id") < 400)
          .select("vec_id", "embedding"),
        dim, steps, sub, subDim, k, dir)
      // the lease lives at the SIBLING lock root (rebuild's staging
      // swap renames the whole artifact tree) and is released when
      // the mutator completes
      val lockRoot = s"${dir}__lock"
      val lp = new org.apache.hadoop.fs.Path(s"$lockRoot/_lock/lease")
      val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(lp))
      // a mid-flight writer holds it: a second batch mutator refuses
      // at ENTRY, before touching the artifact
      val lease = WriterLease.acquire(spark, lockRoot)
      val ex = intercept[IllegalStateException] {
        VectorIndex.append(spark, dir,
          e.filter(col("vec_id") >= 400).select("vec_id", "embedding"))
      }
      assert(ex.getMessage.contains("holds the lease"), ex.getMessage)
      assert(VectorIndex.load(spark, dir).corpus.count() === baseN)
      WriterLease.release(spark, lease)
      // a crashed holder (acquired, never released, heartbeat dead)
      // is stolen past the staleness horizon — the artifact cannot
      // wedge
      WriterLease.acquire(spark, lockRoot)
      fs.setTimes(lp, System.currentTimeMillis() - 7200000L, -1)
      VectorIndex.append(spark, dir,
        e.filter(col("vec_id") >= 400).select("vec_id", "embedding"))
      assert(VectorIndex.load(spark, dir).corpus.count() === e.count())
      assert(!fs.exists(lp))
    } finally rmTree(root)
  }

  test("a mutator whose lease was stolen MID-mutation dies at the " +
      "pre-write fence — corpus and sketch untouched") {
    import graft.operators.WriterLease
    val root = Files.createTempDirectory("graft-art-fence")
    try {
      val dir = s"$root/idx"
      val e = Tables.embeddings(spark, d)
      val baseN = e.filter(col("vec_id") < 400).count()
      VectorIndex.build(e.filter(col("vec_id") < 400)
          .select("vec_id", "embedding"),
        dim, steps, sub, subDim, k, dir)
      val lockRoot = s"${dir}__lock"
      val lp = new org.apache.hadoop.fs.Path(s"$lockRoot/_lock/lease")
      val fs = lp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // simulate the stalled holder: this thread holds the lease (so
      // append's re-entrant withLease runs UNDER it), the lease goes
      // stale mid-mutation, and a second writer legally steals it —
      // the holder's pre-write fence must refuse before a byte of the
      // corpus or the membership sketch changes
      WriterLease.withLease(spark, lockRoot) {
        fs.setTimes(lp, System.currentTimeMillis() - 7200000L, -1)
        val stealer = WriterLease.acquire(spark, lockRoot)
        try {
          val ex = intercept[IllegalArgumentException] {
            VectorIndex.append(spark, dir,
              e.filter(col("vec_id") >= 400)
                .select("vec_id", "embedding"))
          }
          assert(ex.getMessage.contains("was lost"), ex.getMessage)
        } finally WriterLease.release(spark, stealer)
        assert(VectorIndex.load(spark, dir).corpus.count() === baseN,
          "a fenced-out holder still published corpus rows")
      }
    } finally rmTree(root)
  }

  test("gate bucket column stays derivation-exact and the stamp " +
      "present through a seeded randomized lifecycle") {
    val bits = 5
    val root = Files.createTempDirectory("graft-gate-life")
    val dir = s"$root/idx"
    try {
      val all = Tables.embeddings(spark, d)
      var nextId = 300L
      VectorIndex.build(all.filter(col("vec_id") < nextId)
          .select("vec_id", "embedding"),
        dim, steps, sub, subDim, k, dir, gateBits = Some(bits))
      def invariant(tag: String): Unit = {
        assert(VectorIndex.gateBitsOf(spark, dir) === Some(bits),
          s"$tag: stamp lost")
        val l = VectorIndex.load(spark, dir)
        assert(l.corpus.filter(col("bucket").isNull ||
            col("bucket") =!=
              SimilarityOps.signBucket("embedding", bits)).count()
          === 0L, s"$tag: bucket diverged from the derivation")
      }
      invariant("build")
      val rnd = new scala.util.Random(7)
      for (step <- 1 to 6) {
        rnd.nextInt(4) match {
          case 0 if nextId < 600 => // append a fresh slice
            val hi = nextId + 100
            VectorIndex.append(spark, dir,
              all.filter(col("vec_id") >= nextId &&
                col("vec_id") < hi).select("vec_id", "embedding"))
            nextId = hi
            invariant(s"step $step append")
          case 1 => // takedown of a residue class
            VectorIndex.delete(spark, dir, all.select(col("vec_id"))
              .filter(pmod(col("vec_id"), lit(11)) === step % 11))
            invariant(s"step $step delete")
          case 2 => // collapse the generations
            ArtifactManifest.compactGenerations(spark, s"$dir/corpus",
              "cell", sortWithin = Seq("bucket"))
            invariant(s"step $step compact")
          case _ => // full retrain under the carried stamp
            VectorIndex.rebuild(spark, dir, steps, sub, subDim, k)
            invariant(s"step $step rebuild")
        }
      }
    } finally rmTree(root)
  }

  test("a crashed gate/drift stamp write never wedges the artifact: " +
      "no commit marker = no stamp, serving and append degrade " +
      "safely") {
    withArtifact() { dir =>
      val fs = new org.apache.hadoop.fs.Path("/")
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      def halfWritten(name: String): Unit = {
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$name"), false)
        // a torn tmp file and no state file — what a mid-write crash
        // leaves
        val out = fs.create(
          new org.apache.hadoop.fs.Path(s"$dir/.$name.tmp"), true)
        try out.write("not a state file".getBytes("UTF-8"))
        finally out.close()
      }
      halfWritten("gate.state")
      halfWritten("drift.state")
      // load treats both as absent instead of throwing on the
      // unreadable fragments
      val l = VectorIndex.load(spark, dir)
      assert(l.gateBits === None)
      assert(VectorIndex.driftBaseline(spark, dir) === None)
      // append proceeds with the drift signal OFF (returns false),
      // never a wedge
      val tripped = VectorIndex.append(spark, dir,
        Tables.embeddings(spark, d).limit(50)
          .select("vec_id", "embedding"))
      assert(!tripped)
    }
  }

  test("a gate-geometry mismatch on stream resume fails loudly") {
    val root = Files.createTempDirectory("graft-gate-mismatch")
    try {
      val e = Tables.embeddings(spark, d)
      // pre-built index stamped with one geometry; resuming the
      // stream under another must refuse BEFORE staging arrivals —
      // joining mismatched buckets would silently admit duplicates
      VectorIndex.build(e.filter(col("vec_id") < 400)
          .select("vec_id", "embedding"),
        dim, steps, sub, subDim, k, s"$root/index",
        gateBits = Some(3))
      val ex = intercept[IllegalArgumentException] {
        VectorIndex.streamIngestGate(spark, e, dim, steps, sub,
          subDim, k, bits = 4, splitId = 400L, threshold = 0.35,
          nFiles = 2, root.toString)
      }
      assert(ex.getMessage.contains("gate-stamped"), ex.getMessage)
    } finally rmTree(root)
  }

  test("a failed fit leaves no active job, no cached training frame " +
      "and no held lease behind") {
    withTempDir("graft-fit-fail") { root =>
      // the index under a subdirectory, so its sibling lease root is
      // removed with the temp dir
      val dir = s"$root/idx"
      val all = Tables.embeddings(spark, d).select("vec_id", "embedding")
      // no seed id (vec_id < 8): the IVF training's require throws
      // while the PQ training runs beside it
      val ex = intercept[IllegalArgumentException] {
        VectorIndex.build(all.filter(col("vec_id") >= 8), dim, steps,
          sub, subDim, k, dir)
      }
      assert(ex.getMessage.contains("no seed vectors"), ex.getMessage)
      org.apache.spark.TestBus.drain(spark.sparkContext)
      assert(spark.sparkContext.statusTracker.getActiveJobIds().isEmpty)
      // the cost-gated training cache was released on the failure path
      assert(spark.sharedState.cacheManager.isEmpty)
      // the lease was released: a valid build from ANOTHER thread (a
      // leaked holder would refuse it there) enters and completes
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val t = new Thread(() =>
        try VectorIndex.build(all, dim, steps, sub, subDim, k, dir)
        catch { case x: Throwable => errs.add(x) })
      t.start(); t.join()
      assert(errs.isEmpty, errs.toArray.mkString(", "))
      assert(VectorIndex.load(spark, dir).corpus.count() === all.count())
    }
  }
}
