package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{ArtifactManifest, DedupOps,
  ProductQuantization, SimilarityOps, TempArtifacts, VectorIndex}

/** Similarity-search inventory over `embeddings` (64-dim float
  * vectors): brute-force cosine top-k as the correctness baseline, an
  * LSH sign-bucketed top-k as the scale path, and blocked near-dup
  * pair detection.
  */
object SimilarityQueries {
  import Tables._

  private[graft] val TopK = 3
  private[graft] val Dim = 64
  private[graft] val NQueries = 5 // query-set size (vec_id < NQueries)
  private val Bits = 8 // sign-LSH code width (s2/s3/s6 share the index)
  // trained-quantizer rounds in s4 (both engines)
  private[graft] val LloydSteps = 2
  // PQ geometry shared by s7/s8/s9 and their generated oracles
  private[graft] val PqSub = 8 // subspaces
  private[graft] val PqSubDim = Dim / PqSub // components per subspace
  private[graft] val PqK = 16 // centroids per subspace codebook
  // s13/st11 embedding ingest gate: vectors >= the split are
  // "arriving"; the blocking key uses 4 sign bits (coarser buckets
  // than s3's 8, so enough candidate pairs collide at the small SFs —
  // at scale the bit width grows with corpus density, like any LSH
  // geometry); confirm bar is s3's near-dup cosine threshold.
  private[graft] val VecGateSplit = 400L
  private[graft] val VecGateBits = 4
  private[graft] val VecGateThr = 0.35
  // s14 recall report: arrival-anchor sample modulus (keep ~1/F of
  // arrivals; the truth side's brute-force budget scales as
  // sample × corpus). 2 at bench SF keeps every cosine band
  // populated; at 100 TB F grows with the corpus so the kept sample
  // stays O(10³-10⁴) anchors.
  private[graft] val VecRecallSampleF = 2L
  // s15 takedown: tombstone ids are vec_id ≡ VecDelRes (mod VecDelMod)
  // — deliberately hits one of the NQueries query ids (3) so the
  // delete visibly removes a query, not just candidates
  private[graft] val VecDelMod = 17L
  private[graft] val VecDelRes = 3L
  // s17/s18 opt-in ADC shortlist: the absolute rounded-approx-cosine
  // floor a candidate pair must clear before the exact confirm (bar =
  // threshold − slack, stated as ONE literal — deriving 0.35 − 0.10
  // inline lands on 0.24999…993 in doubles while DuckDB's decimal
  // arithmetic gives 0.25 exactly, a guaranteed boundary mismatch).
  // Slack 0.10 against the PqSub=8/PqK=16 reconstruction error keeps
  // most true near-dups while the report (s18) shows precisely which
  // cosine bands pay for the shortcut.
  private[graft] val AdcGateBar = 0.25

  /** Exact per-pair cosine scores: tiny query set broadcast against the
    * full corpus (scanned once). The ground truth s1 reports and s6
    * measures recall against.
    */
  private def exactSim(e: DataFrame): DataFrame = {
    val q = SimilarityOps.withNorm(
      e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv")),
      "qv", "qn")
    val cand = SimilarityOps.withNorm(
      e.select(col("vec_id"), col("embedding").as("cv")), "cv", "cn")
    broadcast(q).join(cand, col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        round(SimilarityOps.pairCosine("qv", "cv", "qn", "cn"), 6)
          .as("sim"))
  }

  /** Sign-LSH-pruned cosine scores: candidates restricted to the
    * query's bucket before any distance math; bucket is the equi-join
    * key. The ONE index definition s2 serves and s6 evaluates —
    * change the bucket width or pruning here and the recall gate
    * measures the same index it always reports on.
    */
  private def lshSim(e: DataFrame): DataFrame = {
    val eb = e.withColumn("bucket",
      SimilarityOps.signBucket("embedding", Bits))
    val q = SimilarityOps.withNorm(
      eb.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("bucket")), "qv", "qn")
    val cand = SimilarityOps.withNorm(
      eb.select(col("vec_id"), col("embedding").as("cv"), col("bucket")),
      "cv", "cn")
    q.join(cand, Seq("bucket"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        round(SimilarityOps.pairCosine("qv", "cv", "qn", "cn"), 6)
          .as("sim"))
  }

  /** Per-query top-k on (rounded sim desc, id asc) — the shared
    * deterministic ranking, computed SORT-FREE: (sim desc, id asc) is
    * exactly (-sim asc, id asc), so the k-slot [[TopKMin]] aggregator
    * applies with an exact IEEE negation on the way in and out (sign
    * flips are bit-exact; a -0.0/0.0 pair compares equal on both
    * paths and falls to the id tiebreak, matching the window's
    * normalized sort). Selection and rank numbering equal
    * `row_number() OVER (sim DESC, vec_id ASC) <= k` — the oracles
    * are unchanged.
    */
  private def topkRanked(sim: DataFrame): DataFrame = {
    val f = graft.functions.TopKMin(TopK)
    sim.groupBy(col("q_id"))
      .agg(f(-col("sim"), col("vec_id")).as("top"))
      .select(col("q_id"), posexplode(col("top")))
      .select(col("q_id"), col("col._2").as("vec_id"),
        (-col("col._1")).as("sim"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Cell-routed exact-cosine serve over an assigned frame — the ONE
    * IVF serving shape s4 and s10 share (they differ only in how the
    * quantizer was trained): broadcast query table, equi-join on cell,
    * pair cosine from precomputed norms, sort-free top-k.
    */
  private def cellServeTopK(assigned: DataFrame): DataFrame = {
    val q = assigned.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
        col("n").as("qn"), col("cell"))
    topkRanked(broadcast(q).join(assigned, Seq("cell"))
      .filter(col("q_id") =!= col("vec_id"))
      .select(col("q_id"), col("vec_id"),
        round(SimilarityOps.pairCosine("qv", "embedding", "qn", "n"), 6)
          .as("sim")))
  }

  /** SORT-FREE per-query top-k-smallest for the ADC serving queries:
    * the [[graft.functions.TopKMin]] aggregator keeps a k-slot buffer
    * per group with map-side partial merge, so the scored pair stream
    * is never sorted and the shuffle carries queries×k rows (vs
    * row_number's full sort of the biggest intermediate in the path —
    * measured 14.8 → 5.2 s on a 1k-query × 2M-row batch). Selection
    * and rank numbering are EXACTLY row_number over (dist asc, id asc)
    * — same oracle.
    */
  private def topkByDist(sim: DataFrame, groupCols: Seq[String],
      distCol: String, k: Int = TopK): DataFrame = {
    val f = graft.functions.TopKMin(k)
    sim.groupBy(groupCols.map(col): _*)
      .agg(f(col(distCol), col("vec_id")).as("top"))
      .select(groupCols.map(col) :+ posexplode(col("top")): _*)
      .select((groupCols.map(col) :+ col("col._2").as("vec_id") :+
        col("col._1").as(distCol) :+
        (col("pos") + 1).cast("long").as("rank")): _*)
  }

  def all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // s1: brute-force cosine top-k — the correctness baseline.
    "s1_cosine_topk" -> ((s, d) => topkRanked(exactSim(embeddings(s, d)))),

    // s2: LSH-bucketed top-k — the scale path over the same ranking.
    "s2_lsh_topk" -> ((s, d) => topkRanked(lshSim(embeddings(s, d)))),

    // s4: IVF-style ANN with a TRAINED coarse quantizer: seeded Lloyd
    // iterations (spherical k-means) — assign every vector to its
    // nearest of 8 deterministic seeds by cosine, then LloydSteps ×
    // (recompute each cell's centroid as the elementwise mean,
    // re-assign), then search only the query's cell. The cell id is the
    // equi-join key, so the candidate join shuffles by cell exactly
    // like a FAISS IVF list; the centroid table is 8 rows and
    // broadcast per round.
    //
    // Cross-engine determinism of the training: components are scaled
    // to integers (floor(x*1e6 + 0.5)) before the mean, so the
    // per-cell sums are EXACT regardless of partition order (NOTES.md
    // rule 2 generalized to k-means) and every round composes
    // deterministically; all 64-term dot/norm chains are generated
    // left-deep on both engines so the fp fold order is identical.
    "s4_ivf_topk" -> ((s, d) => {
      SimilarityOps.withTrainCache(
          SimilarityOps.withNorm(embeddings(s, d), "embedding", "n")) { e =>
      // Assignment runs as the native `ivf_assign` expression
      // (functions.IvfAssign): one constant-size loop per row instead
      // of a broadcast cross join + 64-term dot chain per (vector,
      // centroid) + max_by aggregation. The composed form was ~95%
      // plan-build/codegen constant (same wall time at sf0.001 and
      // sf0.1); values are REPLICATED bit-for-bit (left-to-right
      // double fold, Spark's own HALF_UP round-6, max sim with lowest
      // cell id on ties), so the unchanged DuckDB oracle still
      // hash-matches. Centroid state between Lloyd rounds is a
      // dim-sized driver table (8 × 64), the same legitimacy class as
      // broadcast dims and PQ codebooks; per-cell sums stay EXACT
      // integer aggregations, so training is partition-order
      // independent (NOTES.md rule 2 generalized to k-means).
      val cents = SimilarityOps.trainIvf(e, Dim, LloydSteps)
      val res = cellServeTopK(e.withColumn("cell",
        SimilarityOps.ivfAssign(cents, Dim)))
      res
      }
    }),

    // s5: int8 embedding quantization — the storage-scale path for a
    // 100 TB embedding corpus (4 bytes/dim → 1 byte/dim + one scale).
    // Per-vector absmax scale, arithmetic-rounded code, max
    // reconstruction error. The scale is STAGED as a column before the
    // code transform: referenced inside the lambda it would re-reduce
    // the 64-element absmax once per element (the per-element recompute
    // trap). All math is double with identical expression shapes on
    // both engines; the error bound |x - dequant(x)| <= scale/254 + eps
    // is asserted as a column.
    "s5_quantize" -> ((s, d) => {
      val staged = embeddings(s, d)
        .withColumn("scale", greatest(
          expr("array_max(transform(embedding, x -> abs(cast(x as double))))"),
          lit(1e-30)))
        .withColumn("q", expr(
          "transform(embedding, x -> cast(floor(cast(x as double)/scale*127 + 0.5) as int))"))
      staged.select(
        col("vec_id"),
        col("scale"),
        // the code vector is emitted as a comma-joined string, not a raw
        // array<int>: the driver's pandas sorter cannot hash ndarray
        // cells, and a delimiter-joined string is a lossless, hashable
        // serialization of the int8 codes on both engines
        concat_ws(",", col("q")).as("q"),
        (floor(expr(
          """array_max(zip_with(embedding, q,
             (x, c) -> abs(cast(x as double) - c*scale/127.0)))""")
          * lit(1e6) + lit(0.5)) / lit(1e6)).as("max_err"))
        // max quantization error is half a step (scale/254); +1e-6
        // absolute slack for max_err's own arithmetic rounding
        .withColumn("err_ok",
          col("max_err") <= col("scale") / lit(254.0) + lit(1e-6))
    }),

    // s6: ANN index quality — recall@k of the sign-LSH bucketed top-k
    // (s2's index) against the exact brute-force top-k (s1's ground
    // truth), per query. This is the evaluation op every approximate
    // index needs before it replaces the exact path at scale; at 100 TB
    // you run it over a sampled query set, and both sides here already
    // broadcast the tiny query side. recall is exact integer
    // arithmetic (matches·1e6 div k), never a rounded double average.
    "s6_ann_recall" -> ((s, d) => {
      val e = embeddings(s, d)
      // the EXACT same builders s1 and s2 run — the gate can never
      // drift from the index it claims to measure
      val exact = topkRanked(exactSim(e)).select("q_id", "vec_id")
      val approx = topkRanked(lshSim(e)).select("q_id", "vec_id")
      exact.join(approx.withColumn("hit", lit(1)),
          Seq("q_id", "vec_id"), "left")
        .groupBy(col("q_id"))
        .agg(count(col("hit")).as("n_match"))
        .withColumn("recall",
          expr(s"(n_match * 1000000) div $TopK").cast("double") / lit(1e6))
    }),

    // s7: product-quantized ADC top-k — the compute/storage scale path
    // past s5's int8: vectors become 8 code bytes against trained
    // per-subspace codebooks (operators.ProductQuantization, 32×
    // compression), and each query's distance to every encoded row is
    // 8 codebook lookups instead of 64 multiply-adds, all codegen'd
    // (native `pq_adc`). Serving shape: the query set is a TABLE
    // broadcast against the encoded corpus — ONE plan regardless of
    // query-batch size (the prior form unioned one branch per query
    // vector, so plan size and encoded-frame scans grew linearly with
    // the batch; PlanSpec now pins the no-union shape). Training is
    // integer-exact (partition-order independent), so the generated
    // DuckDB oracle mirrors it mechanically the same way s4's
    // trained-IVF oracle does. Only the subspace×k×subDim codebooks
    // touch the driver (dim-sized, the PQ equivalent of a broadcast
    // dim table).
    "s7_pq_adc_topk" -> ((s, d) => {
      import graft.operators.ProductQuantization
      SimilarityOps.withTrainCache(embeddings(s, d)) { e =>
      val books = ProductQuantization.train(
        e, "embedding", "vec_id", PqSub, PqSubDim, PqK, steps = 1)
      // repartition = a MATERIALIZATION BARRIER, not data movement for
      // its own sake: whole-stage codegen defers streamed-side column
      // evaluation into a join's match loop, so without the barrier
      // the 8-subspace encode re-runs once per (candidate, query) PAIR
      // — measured 9.7 s vs 1.4 s on a 1k-query × 2M-row batch (see
      // NOTES plan-shape traps). The shuffle moves only the 8-byte
      // codes; at 100 TB it is the inverted-list build step.
      val enc = ProductQuantization.encode(
        e, "embedding", books, PqSubDim, "code")
        .select(col("vec_id"), col("code"))
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("vec_id"))
      // classic ADC asymmetry: the subspaces×k lookup tables are
      // staged ONCE per query row on the broadcast side (pq_tables);
      // each pair then costs `subspaces` loads (pq_adc_lookup) —
      // bit-equal to the direct form at ~1/8 the pair arithmetic
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"),
          ProductQuantization.adcTablesCol(
            col("embedding"), books, PqSubDim).as("qt"))
      val sim = broadcast(q)
        .join(enc.select(col("vec_id"), col("code")),
          col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"),
          round(ProductQuantization.adcLookupCol(
            col("code"), col("qt"), books.head.length), 6).as("adc_dist"))
      // sort-free top-k: the scored stream feeds a k-slot aggregator,
      // never a window sort
      val res = topkByDist(sim, Seq("q_id"), "adc_dist")
        .select("q_id", "vec_id", "adc_dist", "rank")
      res
      }
    }),

    // s8: IVF+PQ — the full FAISS-IVFPQ shape, composing the two
    // trained indexes: route each query to its coarse cell (s4's
    // trained quantizer, SAME builder), then rank by PQ asymmetric
    // distance scanning ONLY the query's cell (s7's codebooks). At
    // 100 TB this is the serving topology: the cell is the shuffle/
    // storage key, so a query touches one cell's worth of 8-byte
    // codes instead of the corpus — candidate IO drops by both the
    // cell fan-out and the 32× code compression. The query table is
    // broadcast and the cell is the equi-join key, so one plan serves
    // any query-batch size and the candidate join is an ordinary
    // broadcast hash join on cell. Oracle = s4's generated cell CTEs
    // composed with s7's generated codebook CTEs.
    "s8_ivfpq_topk" -> ((s, d) => {
      import graft.operators.ProductQuantization
      SimilarityOps.withTrainCache(
          SimilarityOps.withNorm(embeddings(s, d), "embedding", "n")) { e =>
      val (cents, books) =
        VectorIndex.fit(e, Dim, LloydSteps, PqSub, PqSubDim, PqK)
      val coded = VectorIndex.encode(e, cents, books, Dim, PqSubDim)
      // repartition by cell = the inverted-list build + the
      // materialization barrier that keeps codegen's deferred
      // evaluation from re-running assign+encode per join match
      // (measured 5-7x, see s7 / NOTES plan-shape traps)
      val enc = coded.select(col("vec_id"), col("cell"), col("code"))
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("cell"))
      val q = coded.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"),
          ProductQuantization.adcTablesCol(
            col("embedding"), books, PqSubDim).as("qt"),
          col("cell"))
      val sim = broadcast(q)
        .join(enc.select(col("vec_id"), col("cell"), col("code")),
          Seq("cell"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"), col("cell"),
          round(ProductQuantization.adcLookupCol(
            col("code"), col("qt"), books.head.length), 6).as("adc_dist"))
      // sort-free top-k; every candidate shares the query's cell, so
      // grouping by (q_id, cell) preserves the output column
      val res = topkByDist(sim, Seq("q_id", "cell"), "adc_dist")
        .select("q_id", "vec_id", "cell", "adc_dist", "rank")
      res
      }
    }),

    // s9: multi-probe IVFPQ with full-precision re-rank — the two
    // standard recall-recovery steps over s8's serving shape: (a)
    // probe the P nearest coarse cells instead of 1 (recall lost to
    // cell-boundary neighbors comes back at P× scan cost — still a
    // tiny corpus fraction), and (b) re-rank the ADC top candidates
    // by exact cosine over the full-precision vectors (ADC error
    // cannot reorder the final top-k). Probe selection is the
    // broadcast query table cross-joined with the 8-row centroid
    // table (a deliberate tiny-side cross join, like t9/x7) and
    // ranked per query — fully distributed, one plan for any query
    // batch. The candidate scan joins on cell (P rows per query in
    // the broadcast side = P probed cells); the exact re-rank touches
    // only the ADC top CandPool rows per query. Oracle composes s4's
    // cell CTEs + s7's codebook CTEs + a probe CTE + the re-rank.
    "s9_ivfpq_multiprobe" -> ((s, d) => {
      import graft.operators.ProductQuantization
      val Probes = 2
      val CandPool = 8 // ADC shortlist size per query before re-rank
      SimilarityOps.withTrainCache(
          SimilarityOps.withNorm(embeddings(s, d), "embedding", "n")) { e =>
      val (cents, books) =
        VectorIndex.fit(e, Dim, LloydSteps, PqSub, PqSubDim, PqK)
      val coded = VectorIndex.encode(e, cents, books, Dim, PqSubDim)
      // LEAN inverted list: only (vec_id, cell, code) rides the
      // barrier shuffle — full-precision vectors are fetched later,
      // for the shortlist only (see the re-rank below)
      val enc = coded.select(col("vec_id"), col("cell"), col("code"))
        .repartition(s.sessionState.conf.numShufflePartitions,
          col("cell"))
      // centroid table from the trained driver state (k rows — the
      // same legitimacy class as a broadcast dim table)
      val centDf =
        VectorIndex.centroidFrame(s, cents, Dim, floatVecs = false)
      val q = e.filter(col("vec_id") < NQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("qv"),
          col("n").as("qn"))
      // per-query probe list: P nearest cells by rounded cosine
      // (desc, cell asc on ties); the HOF fold runs over
      // |queries|×k rows only, never the corpus
      val pw = Window.partitionBy(col("q_id"))
        .orderBy(col("csim").desc, col("cell").asc)
      val qprobe = broadcast(q).crossJoin(broadcast(centDf))
        .withColumn("csim", round(
          expr("""aggregate(zip_with(cast(qv as array<double>), cvec,
                   (x, y) -> x * y), 0d, (a, v) -> a + v)""")
            / (col("qn") * col("cn")), 6))
        .withColumn("prn", row_number().over(pw))
        .filter(col("prn") <= Probes)
        .select(col("q_id"), col("cell"),
          ProductQuantization.adcTablesCol(
            col("qv"), books, PqSubDim).as("qt"))
      // ADC pass over the probed cells: codes only, 8 loads per pair,
      // then the SORT-FREE per-query shortlist (TopKMin)
      val cand = broadcast(qprobe)
        .join(enc, Seq("cell"))
        .filter(col("q_id") =!= col("vec_id"))
        .select(col("q_id"), col("vec_id"),
          round(ProductQuantization.adcLookupCol(
            col("code"), col("qt"), books.head.length), 6).as("adc_dist"))
      val short = topkByDist(cand, Seq("q_id"), "adc_dist", CandPool)
        .select(col("q_id"), col("vec_id"), col("adc_dist"))
      // exact re-rank touches full-precision vectors ONLY for the
      // shortlist (queries × CandPool rows): one broadcast hash join
      // fetches the candidate embeddings for the whole batch in a
      // single corpus scan — the point of a re-rank stage is that the
      // expensive distance is NEVER computed per probed pair
      val reranked = broadcast(short)
        .join(e.select(col("vec_id"), col("embedding"), col("n")),
          Seq("vec_id"))
        .join(broadcast(q), Seq("q_id"))
        .select(col("q_id"), col("vec_id"),
          round(call_function("vec_dot", col("embedding"), col("qv"))
            / (col("n") * col("qn")), 6).as("sim"),
          col("adc_dist"))
      val wExact = Window.partitionBy(col("q_id"))
        .orderBy(col("sim").desc, col("vec_id").asc)
      val res = reranked
        .withColumn("rank", row_number().over(wExact).cast("long"))
        .filter(col("rank") <= TopK) // exact-cosine final order
        .select("q_id", "vec_id", "sim", "adc_dist", "rank")
      res
      }
    }),

    // s11: the index LIFECYCLE — build the IVF+PQ index as a persisted
    // artifact (train both quantizers, write centroids + codebooks +
    // the encoded corpus PARTITIONED BY CELL = on-disk inverted
    // lists), reload it, and serve from the artifact. Training is
    // integer-exact and parquet round-trips values bit-exactly, so
    // build→load→serve ≡ train→serve: the oracle IS s8's oracle, which
    // is the whole point — a production service builds once and serves
    // many, and this gate proves the persisted form loses nothing
    // while the bench prices the full build+load+serve path honestly.
    "s11_index_artifact" -> ((s, d) => {
      import graft.operators.VectorIndex
      val dir = TempArtifacts.dir("graft-vecindex")
      VectorIndex.build(
        embeddings(s, d), Dim, LloydSteps, PqSub, PqSubDim, PqK, dir)
      VectorIndex.serveTopK(VectorIndex.load(s, dir), PqSubDim,
        NQueries, TopK)
    }),

    // s12: FILTERED ANN — top-k under a metadata predicate (the
    // "pre-filtering" every production vector service exposes: search
    // only candidates the query is allowed to see — here, candidates
    // sharing the query's label). The predicate is folded INTO the
    // candidate equi-join key — (cell, label) instead of (cell) — so
    // the hash join drops non-matching candidates at probe time: no
    // second scan, no post-filter pass over scored pairs, and at
    // 100 TB the predicate rides the shuffle the cell routing already
    // pays. Served FROM THE PERSISTED ARTIFACT (build-or-load): the
    // first invocation trains and writes the index with `label`
    // carried into the inverted lists, every later one — including
    // the bench's repeat runs — pays only quantizer load + the serve
    // join, which is what a production filtered-ANN call costs. The
    // serving shape is [[VectorIndex.serveTopK]] with label as a
    // filter key (broadcast query table, native ADC, sort-free
    // top-k); the oracle is s8's generated CTE chain plus the label
    // equality, and SimilarityMultimodalSpec re-derives the result
    // through an independent composition.
    "s12_filtered_ann" -> ((s, d) => {
      import graft.operators.VectorIndex
      val idx = VectorIndex.buildOrLoad(
        embeddings(s, d).select(col("vec_id"), col("embedding"),
          col("label").cast("long").as("label")),
        Dim, LloydSteps, PqSub, PqSubDim, PqK,
        VectorIndex.artifactRoot(
          s"s12ivfpq-$Dim-$LloydSteps-$PqSub-$PqK", d),
        metaCols = Seq("label"))
      VectorIndex.serveTopK(idx, PqSubDim, NQueries, TopK,
          filterKeys = Seq("label"))
        .select("q_id", "vec_id", "label", "cell", "adc_dist", "rank")
    }),

    // s15: INDEX TAKEDOWN — the delete path the lifecycle was missing
    // (an LLM-corpus index legally owes deletion; before this, a
    // takedown meant a full rebuild): build the artifact, apply a
    // tombstone set (vec_id ≡ 3 mod 17 — including query id 3, so the
    // delete visibly removes a query), compact, and serve. Deletes
    // ride the CDC collapse (CdcOps.applyTombstones) over ONLY the
    // cells containing a tombstoned vector (dynamic partition
    // overwrite; fully-emptied cells dropped driver-side), quantizers
    // stay frozen, and the oracle serves the corpus minus the
    // tombstones under CTEs still trained on the FULL corpus —
    // build → delete → compact → serve must equal an index that never
    // contained the ids.
    "s15_index_delete" -> ((s, d) => {
      import graft.operators.VectorIndex
      val dir = TempArtifacts.dir("graft-vecdel")
      VectorIndex.build(
        embeddings(s, d), Dim, LloydSteps, PqSub, PqSubDim, PqK, dir)
      VectorIndex.delete(s, dir, embeddings(s, d)
        .select(col("vec_id"))
        .filter(pmod(col("vec_id"), lit(VecDelMod)) === VecDelRes))
      ArtifactManifest.compactGenerations(s, s"$dir/corpus", "cell")
      VectorIndex.serveTopK(VectorIndex.load(s, dir), PqSubDim,
        NQueries, TopK)
    }),

    // s16: INDEX REBUILD — the drift response, closing the lifecycle
    // (build / load / serve / append / delete / compact / REBUILD):
    // the index is built on the base slice only (quantizers trained
    // on < VecGateSplit — the stale state), the rest of the corpus
    // arrives through append (encoded under those stale quantizers),
    // then rebuild re-trains on the artifact's CURRENT contents and
    // serves. The gate: the oracle is s8's VERBATIM — full-corpus
    // training — so rebuild-after-drift must serve exactly what an
    // index trained on today's data serves. Works because training is
    // id-seeded and integer-exact (partition-order free) and parquet
    // round-trips vectors bit-exactly.
    "s16_index_rebuild" -> ((s, d) => {
      import graft.operators.VectorIndex
      val dir = TempArtifacts.dir("graft-vecrebuild")
      val e = embeddings(s, d)
      VectorIndex.build(e.filter(col("vec_id") < VecGateSplit),
        Dim, LloydSteps, PqSub, PqSubDim, PqK, dir)
      VectorIndex.append(s, dir,
        e.filter(col("vec_id") >= VecGateSplit)
          .select("vec_id", "embedding"))
      VectorIndex.rebuild(s, dir, LloydSteps, PqSub, PqSubDim, PqK)
      VectorIndex.serveTopK(VectorIndex.load(s, dir), PqSubDim,
        NQueries, TopK)
    }),

    // s10: sampled-training IVF — the practice that makes a trained
    // index viable at 100 TB: the coarse quantizer trains on a
    // deterministic SAMPLE (here vec_id % 2 = 0; production uses a
    // hash-bucket sample of ~1M vectors), so training cost is constant
    // in corpus size, while SERVING assigns and scans the FULL corpus
    // under the sampled centroids. Same builders as s4 — only the
    // training frame differs — and the oracle reuses the generated
    // Lloyd CTEs over a sample CTE plus a full-corpus serve
    // assignment. Sampling drops the seed count to 4 cells (sampled
    // ids < 8), a legitimate smaller index geometry.
    "s10_ivf_sampled" -> ((s, d) => {
      SimilarityOps.withTrainCache(
          SimilarityOps.withNorm(embeddings(s, d), "embedding", "n")) { e =>
      val cents = SimilarityOps.trainIvf(
        e.filter(pmod(col("vec_id"), lit(2)) === 0), Dim, LloydSteps)
      val res = cellServeTopK(e.withColumn("cell",
        SimilarityOps.ivfAssign(cents, Dim)))
      res
      }
    }),

    // s3: embedding near-dup pairs, blocked by (label, sign-bucket) with
    // a cosine threshold. Label alone is NOT a bounded blocking key — a
    // popular label is an O(n²) block on one shuffle key at 100 TB
    // (quadratic explosion + skew). Composing the 8-bit LSH sign bucket
    // into the join key bounds every block: same-bucket vectors agree on
    // 8 sign bits, so blocks stay small and near-identical vectors (the
    // near-dup targets) still collide. This is the same bounded-bucket
    // design as d4 and s2.
    "s3_near_dup" -> ((s, d) =>
      nearDupPairs(embeddings(s, d))
        .select(col("label"), col("a"), col("b"), col("sim"))),

    // d11: embedding-cosine dedup resolution — the missing last step of
    // the embedding dedup modality (s3 emits candidate PAIRS; training
    // pipelines need the cluster representative per vector, exactly as
    // d8 resolves the text-LSH pairs): connected components over the
    // near-dup pair graph by min-label propagation, every vector mapped
    // to the smallest reachable vec_id. NOT seeded with a bucket-local
    // min: s3's blocks are candidate SETS, not cliques (the cosine
    // threshold prunes inside a block), so a block min can label across
    // a non-edge — the seed contract (same-component labels only)
    // forbids it. The pair graph is tiny relative to the corpus and the
    // loop runs over the connected subgraph only.
    "d11_embedding_dedup" -> ((s, d) => {
      val e = embeddings(s, d)
      DedupOps.duplicateClusters(
        e.select(col("vec_id")),
        nearDupPairs(e).select(col("a"), col("b")), "vec_id")
    }),

    // s13: the EMBEDDING INGEST GATE — d12's admission decision for
    // the vector modality, blocked by the index topology: quantizers
    // train on the BASE corpus only (vec_id < split — the frozen-
    // quantizer contract an index gives arrivals), the base side is
    // the PERSISTED gate-stamped VectorIndex artifact (built here,
    // served from disk: stored cells, norms, and sign-buckets — no
    // corpus re-encode), and candidates must agree on
    // (cell, sign-bucket) — cell alone is an O(n²/k) block at 100 TB,
    // the sign bits bound it (s3's design). The stored scan is
    // narrowed by the batch's touched-bucket In filter
    // (VectorIndex.gateStored — the SAME frame st11's per-batch
    // lambda probes, so the two serving shapes cannot drift).
    // Confirmed = exact cosine ≥ the near-dup bar; admission is the
    // shared earliest-wins rule. SimilarityOps.ingestGate is the ONE
    // definition the streaming artifact gate (st11) also runs.
    "s13_vec_ingest_gate" -> ((s, d) => vecGate(s, d, adc = false)),

    // s17: the gate with the OPT-IN ADC shortlist ahead of the exact
    // confirm (SimilarityOps.AdcPrefilter) — the stored candidates'
    // persisted PQ codes score an approximate cosine against the
    // batch's staged lookup tables, and pairs below AdcGateBar never
    // reach the full-dim confirm arithmetic or its shuffle. ADC does
    // NOT bound cosine, so this path's admissions can legitimately
    // differ from s13's — which is exactly why it is a separate
    // flagged query held to its OWN oracle (the mirror applies the
    // identical shortlist in SQL), with s18 reporting what the
    // shortcut costs per cosine band.
    "s17_adc_gate" -> ((s, d) => vecGate(s, d, adc = true)),

    // s18: the ADC shortlist's report card (s14's role for s17): of
    // the gate's EXACT-confirmed stored-side pairs (blocked by
    // (cell, bucket), exact cosine ≥ the admission bar), what
    // fraction clears the ADC pre-filter, per 0.05-wide cosine band?
    // Run this BEFORE flipping s17's flag on a corpus: the curve
    // shows precisely which similarity bands the approximation
    // loses (batch×batch pairs carry no code and are exempt, so the
    // report covers exactly the scored population). recall is
    // integer-exact like s14's.
    "s18_adc_gate_recall" -> ((s, d) => {
      // the report body lives in SimilarityOps.adcRecallReport — ONE
      // definition with the serving-side freshness contract
      // (VectorIndex.adcPrefilterFor), so the oracle-gated query and
      // the check s17 enforces can never drift. fp op order is the
      // gate's shortlist order (nq first), mirrored in adcChain.
      val p = vecGateParts(s, d)
      SimilarityOps.adcRecallReport(p.l.books, PqSubDim, VecGateThr,
        AdcGateBar)(p.batch, p.stored)
    }),

    // s14: RECALL of the ingest gate's blocking, PER SIMILARITY BAND —
    // the evaluation op the admission gate needs before it guards a
    // corpus (s6's role for s2, here for s13): of ALL true pairs
    // touching the arrivals (brute force, the arrival side broadcast —
    // s1's deliberate-bounded shape), what fraction does the
    // (cell, sign-bucket) block catch, bucketed by cosine? The banding
    // is the point: sign-LSH collision probability rises steeply with
    // cosine ((1 - θ/π)^bits), so the gate catches actual duplicates
    // while borderline pairs at the threshold slip the block — the
    // report shows exactly that curve instead of one blended number.
    // One definition (SimilarityOps.gateCandidates) is both served
    // and measured, so the gate cannot drift from its own report
    // card. recall is integer-exact (matches·1e6 div total).
    "s14_gate_recall" -> ((s, d) => {
      SimilarityOps.withTrainCache(
          SimilarityOps.withNorm(embeddings(s, d), "embedding", "n")) { e =>
      val cents = SimilarityOps.trainIvf(
        e.filter(col("vec_id") < VecGateSplit), Dim, LloydSteps)
      val assigned = e
        .withColumn("cell", SimilarityOps.ivfAssign(cents, Dim))
        .withColumn("bucket",
          SimilarityOps.signBucket("embedding", VecGateBits))
      val cand = SimilarityOps.gateCandidates(
        assigned.filter(col("vec_id") < VecGateSplit),
        assigned.filter(col("vec_id") >= VecGateSplit))
      // the truth side is inherently O(arrivals × corpus) brute force;
      // the deterministic hash-sample of the arrival anchors is the
      // scaling bound (see SimilarityOps.recallSample — per-band
      // recall is a count ratio, so the sample estimates it
      // unbiasedly; the oracle applies the identical predicate)
      val arr = e.filter(col("vec_id") >= VecGateSplit)
        .filter(SimilarityOps.recallSample(col("vec_id"),
          VecRecallSampleF))
        .select(col("vec_id").as("b"), col("embedding").as("vb"),
          col("n").as("nb"))
      val all = e.select(col("vec_id").as("a"),
        col("embedding").as("va"), col("n").as("na"))
      val truth = broadcast(arr).join(all, col("a") < col("b"))
        .select(col("a"), col("b"),
          round(SimilarityOps.pairCosine("va", "vb", "na", "nb"), 6)
            .as("csim"))
        .filter(col("csim") >= VecGateThr)
        // 0.05-wide cosine bands; identical double ops on both
        // engines, so boundary fp lands the same side everywhere
        .select(col("a"), col("b"),
          floor(col("csim") * 20).cast("long").as("band"))
      val res = truth
        .join(cand.withColumn("hit", lit(1)), Seq("a", "b"), "left")
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_true"), count(col("hit")).as("n_caught"))
        .withColumn("recall",
          expr("(n_caught * 1000000) div n_true").cast("double") / lit(1e6))
      res
      }
    })
  )

  /** The embedding ingest gate's serving pieces — ONE definition for
    * s13 (exact), s17 (ADC-shortlisted) and s18 (the shortlist's
    * report), so the three can never drift on geometry or blocking.
    * Build-once/serve-many, like d12: the tag pins the full gate
    * geometry (a bits change keys a different root, so the stamp
    * check can never trip on a stale fingerprint hit); all three
    * queries share the artifact root.
    */
  /** One batch-path gate's serving pieces: artifact root, loaded
    * index, encoded batch, the PINNED stored frame, and the corpus
    * manifest version that pin was read at — threaded into the ADC
    * report stamp so the report can never be stamped fresher than
    * the frame it measured.
    */
  private final case class VecGateParts(dir: String,
      l: VectorIndex.Loaded, batch: DataFrame, stored: DataFrame,
      corpusVersion: Long)

  private def vecGateParts(s: SparkSession, d: String): VecGateParts = {
    val dir = VectorIndex.artifactRoot(
      s"s13gate-$Dim-$LloydSteps-$PqSub-$PqK-" +
        s"$VecGateBits-$VecGateSplit", d)
    val e = embeddings(s, d)
    val l = VectorIndex.buildOrLoad(
      e.filter(col("vec_id") < VecGateSplit)
        .select("vec_id", "embedding"),
      Dim, LloydSteps, PqSub, PqSubDim, PqK, dir,
      gateBits = Some(VecGateBits))
    val batch = SimilarityOps.withNorm(
        e.filter(col("vec_id") >= VecGateSplit), "embedding", "n")
      .withColumn("cell", SimilarityOps.ivfAssign(l.cents, Dim))
      .withColumn("bucket",
        SimilarityOps.signBucket("embedding", VecGateBits))
    val (ver, stored) = VectorIndex.gateStoredPinned(
      s, dir, VecGateBits, l.gateBits, batch)
    VecGateParts(dir, l, batch, stored, ver)
  }

  private def vecGate(s: SparkSession, d: String,
      adc: Boolean): DataFrame = {
    val p = vecGateParts(s, d)
    val pre = if (adc) {
      // the flag's refuse-loudly contract: a fresh recall report for
      // this exact (corpus version, subDim, bar) must sit beside the
      // artifact — computed once per corpus change, then judged, in
      // ONE freshness pass (refuses on a band below
      // graft.gate.adcMinRecall); the stamp carries the version the
      // stored frame was PINNED at, not a re-read
      Some(VectorIndex.ensuredAdcPrefilter(s, p.dir, p.l.books,
        PqSubDim, AdcGateBar, p.corpusVersion)(
        SimilarityOps.adcRecallReport(p.l.books, PqSubDim, VecGateThr,
          AdcGateBar)(p.batch, p.stored)))
    } else None
    SimilarityOps.ingestGate(p.stored, p.batch, VecGateThr, adc = pre)
  }

  /** s3's near-dup pair criterion — ONE definition shared by the pair
    * report (s3) and the cluster resolution (d11), so the dedup can
    * never drift from the pair semantics it claims to resolve.
    */
  private def nearDupPairs(e0: DataFrame): DataFrame = {
    val e = e0.withColumn("bucket",
      SimilarityOps.signBucket("embedding", Bits))
    val a = SimilarityOps.withNorm(
      e.select(col("label"), col("bucket"), col("vec_id").as("a"),
        col("embedding").as("va")), "va", "na")
    val b = SimilarityOps.withNorm(
      e.select(col("label"), col("bucket"), col("vec_id").as("b"),
        col("embedding").as("vb")), "vb", "nb")
    a.join(b, Seq("label", "bucket"))
      .filter(col("a") < col("b"))
      .select(col("label").cast("long").as("label"), col("a"), col("b"),
        round(SimilarityOps.pairCosine("va", "vb", "na", "nb"), 6)
          .as("sim"))
      .filter(col("sim") >= 0.35)
  }

  // --- DuckDB fragments ------------------------------------------------
  // All multi-term sums are GENERATED left-deep so the double fold
  // order matches the Spark side exactly (native expressions fold in
  // index order); see s4's oracle note.

  // The trained-IVF CTE chain (seed + LloydSteps rounds) ends in
  // `assigned{LloydSteps}(vec_id, embedding, cell)` — s4's proven
  // mechanical mirror of SimilarityOps.trainIvf, shared by the s8/s9
  // oracles which route by the same trained cells. The final round
  // also leaves `cm{LloydSteps}` (per-cell means m1..m64 + norm mn)
  // in scope — the centroid table the s9 probe and s10 serve CTEs
  // score against.
  private def chainDim(f: Int => String): String =
    (1 to Dim).map(f).mkString("(", " + ", ")")
  private lazy val ivfDotSql =
    chainDim(i => s"CAST(e.embedding[$i] AS DOUBLE)*c.m$i")
  private lazy val ivfXnSql =
    "sqrt(list_sum(list_transform(e.embedding, " +
      "x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"

  /** The trained-IVF CTE chain over training relation `train`
    * (`"embeddings"` for full-corpus training; a sample CTE name for
    * s10's sampled training). Assignment/centroid CTEs cover ONLY the
    * training rows; full-corpus serve assignment, when it differs, is
    * [[ivfServeCtes]].
    */
  private def ivfCtesFrom(train: String): String = {
    val sumsSql = (1 to Dim).map(i =>
      s"sum(CAST(floor(embedding[$i]*1000000.0 + 0.5) AS BIGINT)) AS s$i")
      .mkString(", ")
    val msSql = (1 to Dim).map(i =>
      s"CAST(s$i AS DOUBLE)/cnt/1000000.0 AS m$i").mkString(", ")
    val mnSql = "sqrt" + chainDim(i => s"m$i*m$i")
    val rounds = (1 to LloydSteps).map { n =>
      val pc = s"cell${n - 1}"
      val outCell = if (n == LloydSteps) "cell" else s"cell$n"
      s"""cent$n AS (
          SELECT $pc, count(*) AS cnt, $sumsSql
          FROM assigned${n - 1} GROUP BY $pc),
        ms$n AS (SELECT $pc, $msSql FROM cent$n),
        cm$n AS (SELECT $pc,
            ${(1 to Dim).map(i => s"m$i").mkString(", ")},
            $mnSql AS mn
          FROM ms$n),
        scored$n AS (
          SELECT e.vec_id, e.embedding, c.$pc,
            round($ivfDotSql / ($ivfXnSql * c.mn), 6) AS csim
          FROM $train e CROSS JOIN cm$n c),
        assigned$n AS (
          SELECT vec_id, embedding, $pc AS $outCell FROM (
            SELECT vec_id, embedding, $pc, csim,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY csim DESC, $pc ASC) AS rn
            FROM scored$n) WHERE rn = 1)"""
    }.mkString(",\n          ")
    s"""seeds AS (
          SELECT vec_id AS c_id, embedding AS cvec FROM $train
          WHERE vec_id < 8),
        scored0 AS (
          SELECT e.vec_id, e.embedding, c.c_id,
            round(${dCos("e.embedding", "c.cvec")}, 6) AS csim
          FROM $train e CROSS JOIN seeds c),
        assigned0 AS (
          SELECT vec_id, embedding, c_id AS cell0 FROM (
            SELECT vec_id, embedding, c_id, csim,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY csim DESC, c_id ASC) AS rn
            FROM scored0) WHERE rn = 1),
        $rounds"""
  }

  private lazy val ivfCtes: String = ivfCtesFrom("embeddings")

  /** Full-corpus serve assignment under the FINAL trained centroids
    * (`cm{LloydSteps}`): the mirror of `ivf_assign` applied to every
    * vector — needed when the training set is a sample, so the last
    * training round's `assigned` covers only sampled rows. Emits
    * `served(vec_id, embedding, cell)`.
    */
  private lazy val ivfServeCtes: String = {
    val cm = s"cm$LloydSteps"
    val pc = s"cell${LloydSteps - 1}"
    s"""servesc AS (
          SELECT e.vec_id, e.embedding, c.$pc,
            round($ivfDotSql / ($ivfXnSql * c.mn), 6) AS csim
          FROM embeddings e CROSS JOIN $cm c),
        served AS (
          SELECT vec_id, embedding, $pc AS cell FROM (
            SELECT vec_id, embedding, $pc, csim,
              row_number() OVER (PARTITION BY vec_id
                ORDER BY csim DESC, $pc ASC) AS rn
            FROM servesc) WHERE rn = 1)"""
  }

  /** Per-subspace squared-L2 chain between `$e.embedding`'s j-th
    * sub-vector and codebook row `$b` (m1..m{PqSubDim}), where j is
    * `$b`'s own column — one expression scores every (vector,
    * subspace, centroid) triple.
    */
  private def pqDistChain(e: String, b: String): String =
    (1 to PqSubDim).map { i =>
      val x = s"CAST($e.embedding[$b.j*$PqSubDim + $i] AS DOUBLE)"
      s"($x - $b.m$i)*($x - $b.m$i)"
    }.mkString("(", " + ", ")")

  /** The PQ training + encode CTE chain — the mechanical mirror of
    * [[ProductQuantization.train]] (seeded init = first PqK DISTINCT
    * vectors by first-occurrence id within the 16k-row prefix, the
    * dead-duplicate-centroid guard; one Lloyd step of integer-exact
    * sums; empty cells keep their seed centroid via the LEFT JOIN +
    * coalesce) and [[ProductQuantization.encode]]. Ends in
    * `pqbook(j, c, m1..)` and `pqenc(vec_id, c0..c{PqSub-1})`.
    */
  /** PQ training CTEs over `train` (a table or CTE name) with the
    * final encode pass over the FULL embeddings table — a superset of
    * any corpus the caller joins `pqenc` against, exactly like
    * [[ivfCtesFrom]]'s sampled-training split. `pqCtes` keeps the
    * historical full-corpus training (s7/s8/s9/s11/s15); the gate
    * oracles (s17/s18) train on the base CTE, mirroring the
    * artifact's frozen base-trained codebooks.
    */
  private def pqCtesFrom(train: String): String = {
    val ms0 = (1 to PqSubDim).map(i =>
      s"CAST(s.embedding[j.j*$PqSubDim + $i] AS DOUBLE) AS m$i")
      .mkString(", ")
    val sums = (1 to PqSubDim).map(i =>
      s"sum(CAST(floor(CAST(e.embedding[a.j*$PqSubDim + $i] AS DOUBLE)" +
        s"*1000000.0 + 0.5) AS BIGINT)) AS s$i").mkString(", ")
    val means = (1 to PqSubDim).map(i =>
      s"coalesce(CAST(t.s$i AS DOUBLE)/t.cnt/1000000.0, b.m$i) AS m$i")
      .mkString(", ")
    val codeCols = (0 until PqSub).map(j =>
      s"max(CASE WHEN j = $j THEN code END) AS c$j").mkString(", ")
    s"""pqseed AS (
          SELECT embedding, row_number() OVER (ORDER BY sid) - 1 AS c
          FROM (SELECT embedding, min(vec_id) AS sid
                FROM (SELECT vec_id, embedding FROM $train
                      ORDER BY vec_id LIMIT ${PqK * 16})
                GROUP BY embedding
                ORDER BY sid LIMIT $PqK)),
        pqb0 AS (
          SELECT j.j, s.c, $ms0
          FROM pqseed s CROSS JOIN range($PqSub) j(j)),
        pqsc0 AS (
          SELECT e.vec_id, b.j, b.c, ${pqDistChain("e", "b")} AS dist
          FROM $train e CROSS JOIN pqb0 b),
        pqa0 AS (
          SELECT vec_id, j, c AS code FROM (
            SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j
              ORDER BY dist ASC, c ASC) AS rn
            FROM pqsc0) WHERE rn = 1),
        pqcent AS (
          SELECT a.j, a.code, count(*) AS cnt, $sums
          FROM pqa0 a JOIN $train e ON a.vec_id = e.vec_id
          GROUP BY a.j, a.code),
        pqbook AS (
          SELECT b.j, b.c, $means
          FROM pqb0 b LEFT JOIN pqcent t ON t.j = b.j AND t.code = b.c),
        pqsc AS (
          SELECT e.vec_id, b.j, b.c, ${pqDistChain("e", "b")} AS dist
          FROM embeddings e CROSS JOIN pqbook b),
        pqcode AS (
          SELECT vec_id, j, c AS code FROM (
            SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j
              ORDER BY dist ASC, c ASC) AS rn
            FROM pqsc) WHERE rn = 1),
        pqenc AS (
          SELECT vec_id, $codeCols FROM pqcode GROUP BY vec_id)"""
  }
  private lazy val pqCtes: String = pqCtesFrom("embeddings")

  /** ADC distance chain for candidate `c` (joined to pqbook rows
    * b0..b{PqSub-1}) against query `$q`'s embedding: per-subspace
    * left-deep (q-m)^2 chains, subspace partials summed in ascending-j
    * order — the exact fp op order of the native `pq_adc`.
    */
  private def adcChain(q: String): String =
    (0 until PqSub).map { j =>
      (1 to PqSubDim).map { i =>
        val x = s"CAST($q.embedding[${j * PqSubDim + i}] AS DOUBLE)"
        s"($x - b$j.m$i)*($x - b$j.m$i)"
      }.mkString("(", " + ", ")")
    }.mkString("(", " + ", ")")

  /** The PqSub codebook joins resolving candidate `c`'s code ids to
    * centroid rows b0..b{PqSub-1}.
    */
  private lazy val pqBookJoins: String =
    (0 until PqSub).map(j =>
      s"JOIN pqbook b$j ON b$j.j = $j AND b$j.c = c.c$j")
      .mkString("\n          ")

  /** s8's IVF+PQ serve mirror — also s11's oracle (the artifact
    * round-trip changes nothing, which is exactly what s11 gates) and,
    * with `afterDelete = true`, s15's: quantizer CTEs still train on
    * the FULL corpus (the frozen-quantizer contract — a takedown
    * changes WHAT is indexed, never HOW), while the tombstoned ids
    * leave both the query set and the candidate pool.
    */
  private def ivfPqServeSqlWith(afterDelete: Boolean): String = {
    val qDel =
      if (afterDelete) s" AND vec_id % $VecDelMod <> $VecDelRes" else ""
    val aDel =
      if (afterDelete) s" AND a.vec_id % $VecDelMod <> $VecDelRes"
      else ""
    s"""WITH $ivfCtes,
        $pqCtes,
        q8 AS (
          SELECT vec_id AS q_id, embedding, cell
          FROM assigned$LloydSteps WHERE vec_id < $NQueries$qDel),
        adc AS (
          SELECT q.q_id, a.vec_id, a.cell,
            round(${adcChain("q")}, 6) AS adc_dist
          FROM q8 q
          JOIN assigned$LloydSteps a
            ON a.cell = q.cell AND a.vec_id <> q.q_id$aDel
          JOIN pqenc c ON c.vec_id = a.vec_id
          $pqBookJoins),
        r AS (
          SELECT q_id, vec_id, cell, adc_dist,
            CAST(row_number() OVER (PARTITION BY q_id
              ORDER BY adc_dist ASC, vec_id ASC) AS BIGINT) AS rank
          FROM adc)
        SELECT q_id, vec_id, cell, adc_dist, rank
        FROM r WHERE rank <= $TopK"""
  }
  private lazy val ivfPqServeSql: String =
    ivfPqServeSqlWith(afterDelete = false)

  private def dCast(v: String) = s"list_transform($v, x -> CAST(x AS DOUBLE))"
  private def dCos(a: String, b: String): String =
    s"""(list_sum(list_transform(range(1, len($a) + 1),
          i -> CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE)))
        / (sqrt(list_sum(list_transform($a,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
           * sqrt(list_sum(list_transform($b,
             x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))))"""
  private def dBucketW(v: String, bits: Int): String =
    "CAST((" + (0 until bits).map(j =>
      s"(CASE WHEN $v[${j + 1}] > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ") + ") AS BIGINT)"
  private val dBucket = (v: String) => dBucketW(v, Bits)

  def oracle: Map[String, String] = Map(
    "s1_cosine_topk" ->
      s"""WITH sim AS (
            SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
              round(${dCos("q.embedding", "c.embedding")}, 6) AS sim
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 5),
          r AS (
            SELECT q_id, vec_id, sim,
              CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank
            FROM sim)
          SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= $TopK""",
    "s2_lsh_topk" ->
      s"""WITH e AS (
            SELECT vec_id, embedding, ${dBucket("embedding")} AS bucket
            FROM embeddings),
          sim AS (
            SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
              round(${dCos("q.embedding", "c.embedding")}, 6) AS sim
            FROM e q JOIN e c
              ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
            WHERE q.vec_id < 5),
          r AS (
            SELECT q_id, vec_id, sim,
              CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank
            FROM sim)
          SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= $TopK""",
    "s4_ivf_topk" -> {
      // Same seeded Lloyd rounds as the Spark side, via the shared
      // generator (left-deep chains; one cent/ms/cm/scored/assigned
      // CTE block per round).
      val last = s"assigned$LloydSteps"
      s"""WITH $ivfCtes,
          sim AS (
            SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
              round(${dCos("q.embedding", "c.embedding")}, 6) AS sim
            FROM $last q JOIN $last c
              ON q.cell = c.cell AND q.vec_id <> c.vec_id
            WHERE q.vec_id < $NQueries),
          r AS (
            SELECT q_id, vec_id, sim,
              CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank
            FROM sim)
          SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= $TopK"""
    },
    // s7/s8/s9: the PQ training + encode mirror is GENERATED the same
    // way s4's trained-IVF mirror is — integer-exact training on both
    // engines makes the codebooks deterministic by construction, and
    // every fp chain is emitted left-deep to match the native
    // expressions' fold order.
    "s7_pq_adc_topk" ->
      s"""WITH $pqCtes,
          adc AS (
            SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
              round(${adcChain("q")}, 6) AS adc_dist
            FROM embeddings q
            JOIN pqenc c ON q.vec_id <> c.vec_id
            $pqBookJoins
            WHERE q.vec_id < $NQueries),
          r AS (
            SELECT q_id, vec_id, adc_dist,
              CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY adc_dist ASC, vec_id ASC) AS BIGINT) AS rank
            FROM adc)
          SELECT q_id, vec_id, adc_dist, rank FROM r WHERE rank <= $TopK""",
    "s8_ivfpq_topk" -> ivfPqServeSql,
    // s11 serves the SAME result from the persisted artifact — one
    // oracle, two engines-side paths (inline train vs build/load).
    "s11_index_artifact" -> ivfPqServeSql,
    "s15_index_delete" -> ivfPqServeSqlWith(afterDelete = true),
    // s16: rebuild-after-drift ≡ full-corpus training — s8's oracle
    // verbatim is the entire point of the gate
    "s16_index_rebuild" -> ivfPqServeSql,
    // s12 = s8's serve mirror + the label equality the Spark side
    // folds into the join key.
    "s12_filtered_ann" ->
      s"""WITH $ivfCtes,
          $pqCtes,
          q12 AS (
            SELECT a.vec_id AS q_id, a.embedding, a.cell,
              CAST(e.label AS BIGINT) AS label
            FROM assigned$LloydSteps a
            JOIN embeddings e ON e.vec_id = a.vec_id
            WHERE a.vec_id < $NQueries),
          adc AS (
            SELECT q.q_id, a.vec_id, q.label, a.cell,
              round(${adcChain("q")}, 6) AS adc_dist
            FROM q12 q
            JOIN assigned$LloydSteps a
              ON a.cell = q.cell AND a.vec_id <> q.q_id
            JOIN embeddings le ON le.vec_id = a.vec_id
              AND CAST(le.label AS BIGINT) = q.label
            JOIN pqenc c ON c.vec_id = a.vec_id
            $pqBookJoins),
          r AS (
            SELECT q_id, vec_id, label, cell, adc_dist,
              CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY adc_dist ASC, vec_id ASC) AS BIGINT) AS rank
            FROM adc)
          SELECT q_id, vec_id, label, cell, adc_dist, rank
          FROM r WHERE rank <= $TopK""",
    "s9_ivfpq_multiprobe" -> {
      // probe CTE: score each query against the FINAL trained
      // centroids (cm{LloydSteps}: means m1..m64 + norm mn, cell label
      // column cell{LloydSteps-1}) by rounded cosine — the mirror of
      // the Spark side's query-table × centroid-table cross join
      val cm = s"cm$LloydSteps"
      val cellCol = s"cell${LloydSteps - 1}"
      val probeDot = (1 to Dim)
        .map(i => s"CAST(q.embedding[$i] AS DOUBLE)*c.m$i")
        .mkString("(", " + ", ")")
      val qn = "sqrt(list_sum(list_transform(embedding, " +
        "x -> CAST(x AS DOUBLE)*CAST(x AS DOUBLE))))"
      s"""WITH $ivfCtes,
          $pqCtes,
          q9 AS (
            SELECT vec_id AS q_id, embedding, $qn AS qn
            FROM embeddings WHERE vec_id < $NQueries),
          prsc AS (
            SELECT q.q_id, q.embedding, c.$cellCol AS cell,
              round($probeDot / (q.qn * c.mn), 6) AS csim
            FROM q9 q CROSS JOIN $cm c),
          probe AS (
            SELECT q_id, embedding, cell FROM (
              SELECT q_id, embedding, cell, row_number() OVER (
                PARTITION BY q_id ORDER BY csim DESC, cell ASC) AS rn
              FROM prsc) WHERE rn <= 2),
          cand AS (
            SELECT q.q_id, a.vec_id,
              round(${dCos("q.embedding", "a.embedding")}, 6) AS sim,
              round(${adcChain("q")}, 6) AS adc_dist
            FROM probe q
            JOIN assigned$LloydSteps a
              ON a.cell = q.cell AND a.vec_id <> q.q_id
            JOIN pqenc c ON c.vec_id = a.vec_id
            $pqBookJoins),
          shortlist AS (
            SELECT q_id, vec_id, sim, adc_dist,
              row_number() OVER (PARTITION BY q_id
                ORDER BY adc_dist ASC, vec_id ASC) AS adc_rank
            FROM cand),
          r AS (
            SELECT q_id, vec_id, sim, adc_dist,
              CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank
            FROM shortlist WHERE adc_rank <= 8)
          SELECT q_id, vec_id, sim, adc_dist, rank
          FROM r WHERE rank <= $TopK"""
    },
    "s5_quantize" ->
      """WITH s AS (
           SELECT vec_id, embedding,
             greatest(list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS scale
           FROM embeddings),
         q AS (
           SELECT vec_id, embedding, scale,
             list_transform(embedding,
               x -> CAST(floor(CAST(x AS DOUBLE)/scale*127 + 0.5)
                 AS INTEGER)) AS q
           FROM s)
         SELECT vec_id, scale, array_to_string(q, ',') AS q,
           floor(list_max(list_transform(range(1, len(embedding) + 1),
             i -> abs(CAST(embedding[i] AS DOUBLE)
               - q[i]*scale/127.0))) * 1e6 + 0.5) / 1e6 AS max_err,
           (floor(list_max(list_transform(range(1, len(embedding) + 1),
             i -> abs(CAST(embedding[i] AS DOUBLE)
               - q[i]*scale/127.0))) * 1e6 + 0.5) / 1e6)
             <= scale / 254.0 + 1e-6 AS err_ok
         FROM q""",
    "s6_ann_recall" ->
      s"""WITH sim AS (
            SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
              round(${dCos("q.embedding", "c.embedding")}, 6) AS sim
            FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < 5),
          ex AS (
            SELECT q_id, vec_id FROM (
              SELECT q_id, vec_id,
                row_number() OVER (PARTITION BY q_id
                  ORDER BY sim DESC, vec_id ASC) AS rank
              FROM sim) WHERE rank <= $TopK),
          e AS (
            SELECT vec_id, embedding, ${dBucket("embedding")} AS bucket
            FROM embeddings),
          sim2 AS (
            SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
              round(${dCos("q.embedding", "c.embedding")}, 6) AS sim
            FROM e q JOIN e c
              ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
            WHERE q.vec_id < 5),
          ap AS (
            SELECT q_id, vec_id FROM (
              SELECT q_id, vec_id,
                row_number() OVER (PARTITION BY q_id
                  ORDER BY sim DESC, vec_id ASC) AS rank
              FROM sim2) WHERE rank <= $TopK),
          m AS (
            SELECT ex.q_id, count(ap.vec_id) AS n_match
            FROM ex LEFT JOIN ap
              ON ex.q_id = ap.q_id AND ex.vec_id = ap.vec_id
            GROUP BY ex.q_id)
          SELECT q_id, n_match,
            CAST((n_match * 1000000) // $TopK AS DOUBLE) / 1000000.0
              AS recall
          FROM m""",
    "s3_near_dup" ->
      s"""WITH e AS (
            SELECT label, vec_id, embedding,
              ${dBucket("embedding")} AS bucket
            FROM embeddings)
          SELECT CAST(a.label AS BIGINT) AS label,
            a.vec_id AS a, b.vec_id AS b,
            round(${dCos("a.embedding", "b.embedding")}, 6) AS sim
          FROM e a JOIN e b
            ON a.label = b.label AND a.bucket = b.bucket
           AND a.vec_id < b.vec_id
          WHERE round(${dCos("a.embedding", "b.embedding")}, 6) >= 0.35""",
    // Sampled-training mirror: the generated Lloyd CTEs run over a
    // sample CTE (training-only), then the serve CTEs assign the FULL
    // corpus under the final centroids — exactly the Spark side's
    // trainIvf(sample) + ivfAssign(everything) split.
    "s10_ivf_sampled" ->
      s"""WITH strain AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id % 2 = 0),
          ${ivfCtesFrom("strain")},
          $ivfServeCtes,
          sim AS (
            SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
              round(${dCos("q.embedding", "c.embedding")}, 6) AS sim
            FROM served q JOIN served c
              ON q.cell = c.cell AND q.vec_id <> c.vec_id
            WHERE q.vec_id < $NQueries),
          r AS (
            SELECT q_id, vec_id, sim,
              CAST(row_number() OVER (PARTITION BY q_id
                ORDER BY sim DESC, vec_id ASC) AS BIGINT) AS rank
            FROM sim)
          SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= $TopK""",
    // Ingest-gate mirror: base-only Lloyd training (s10's sampled-
    // training composition with the base CTE as the sample), full-
    // corpus serve assignment, (cell, 4-bit sign bucket) candidate
    // block with pairs touching the arrivals, exact-cosine confirm on
    // the rounded value, earliest-wins admission.
    "s13_vec_ingest_gate" ->
      s"""WITH base AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < $VecGateSplit),
          ${ivfCtesFrom("base")},
          $ivfServeCtes,
          sb AS (
            SELECT vec_id, embedding, cell,
              ${dBucketW("embedding", VecGateBits)} AS bucket
            FROM served),
          cand AS (
            SELECT x.vec_id AS a, x.embedding AS ea,
                   y.vec_id AS b, y.embedding AS eb
            FROM sb x JOIN sb y
              ON x.cell = y.cell AND x.bucket = y.bucket
             AND x.vec_id < y.vec_id
            WHERE y.vec_id >= $VecGateSplit),
          conf AS (
            SELECT a, b, round(${dCos("ea", "eb")}, 6) AS csim
            FROM cand),
          rej AS (
            SELECT b AS vec_id, min(a) AS dup_of
            FROM conf WHERE csim >= $VecGateThr GROUP BY b)
          SELECT e.vec_id, r.dup_of, r.dup_of IS NULL AS admitted
          FROM embeddings e LEFT JOIN rej r ON r.vec_id = e.vec_id
          WHERE e.vec_id >= $VecGateSplit""",
    // ADC-shortlisted gate mirror: s13's CTEs + base-trained codebook
    // CTEs; stored-side candidate pairs must clear the rounded
    // approx-cosine bar (identical fp op order to the Spark
    // shortlist) before the exact confirm, batch×batch pairs are
    // exempt (no stored code) — the UNION ALL branches are disjoint
    // on the smaller id's side of the split.
    "s17_adc_gate" ->
      s"""WITH base AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < $VecGateSplit),
          ${ivfCtesFrom("base")},
          $ivfServeCtes,
          ${pqCtesFrom("base")},
          sb AS (
            SELECT vec_id, embedding, cell,
              ${dBucketW("embedding", VecGateBits)} AS bucket,
              sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
            FROM served),
          kept AS (
            SELECT x.vec_id AS a, x.embedding AS ea,
                   y.vec_id AS b, y.embedding AS eb
            FROM sb x JOIN sb y
              ON x.cell = y.cell AND x.bucket = y.bucket
             AND x.vec_id < y.vec_id
            WHERE y.vec_id >= $VecGateSplit
              AND x.vec_id >= $VecGateSplit
            UNION ALL
            SELECT x.vec_id AS a, x.embedding AS ea,
                   y.vec_id AS b, y.embedding AS eb
            FROM sb x JOIN sb y
              ON x.cell = y.cell AND x.bucket = y.bucket
             AND x.vec_id < y.vec_id
            JOIN pqenc c ON c.vec_id = x.vec_id
            $pqBookJoins
            WHERE y.vec_id >= $VecGateSplit
              AND x.vec_id < $VecGateSplit
              AND round((y.n*y.n + x.n*x.n - ${adcChain("y")})
                    / (y.n*x.n*2), 6) >= $AdcGateBar),
          conf AS (
            SELECT a, b, round(${dCos("ea", "eb")}, 6) AS csim
            FROM kept),
          rej AS (
            SELECT b AS vec_id, min(a) AS dup_of
            FROM conf WHERE csim >= $VecGateThr GROUP BY b)
          SELECT e.vec_id, r.dup_of, r.dup_of IS NULL AS admitted
          FROM embeddings e LEFT JOIN rej r ON r.vec_id = e.vec_id
          WHERE e.vec_id >= $VecGateSplit""",
    // ADC-shortlist report mirror: the scored (batch × stored)
    // confirmed pairs banded by exact cosine, with the kept count
    // under the same rounded approx-cosine bar. sum() is cast to
    // BIGINT (DuckDB's integer sum is HUGEINT → float64 in pandas —
    // a dtype-family mismatch against Spark's long).
    "s18_adc_gate_recall" ->
      s"""WITH base AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < $VecGateSplit),
          ${ivfCtesFrom("base")},
          $ivfServeCtes,
          ${pqCtesFrom("base")},
          sb AS (
            SELECT vec_id, embedding, cell,
              ${dBucketW("embedding", VecGateBits)} AS bucket,
              sqrt(list_sum(list_transform(embedding,
                x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS n
            FROM served),
          pr AS (
            SELECT round(${dCos("y.embedding", "x.embedding")}, 6)
                AS csim,
              round((y.n*y.n + x.n*x.n - ${adcChain("y")})
                / (y.n*x.n*2), 6) AS acos
            FROM sb y JOIN sb x
              ON x.cell = y.cell AND x.bucket = y.bucket
            JOIN pqenc c ON c.vec_id = x.vec_id
            $pqBookJoins
            WHERE y.vec_id >= $VecGateSplit
              AND x.vec_id < $VecGateSplit),
          m AS (
            SELECT CAST(floor(csim * 20) AS BIGINT) AS band,
              count(*) AS n_conf,
              CAST(sum(CASE WHEN acos >= $AdcGateBar THEN 1 ELSE 0
                END) AS BIGINT) AS n_kept
            FROM pr WHERE csim >= $VecGateThr
            GROUP BY 1)
          SELECT band, n_conf, n_kept,
            CAST((n_kept * 1000000) // n_conf AS DOUBLE) / 1000000.0
              AS recall
          FROM m""",
    // Gate-recall mirror: s13's blocked candidate CTEs vs the brute-
    // force confirmed pair set; integer-exact recall like s6's.
    "s14_gate_recall" ->
      s"""WITH base AS (
            SELECT vec_id, embedding FROM embeddings
            WHERE vec_id < $VecGateSplit),
          ${ivfCtesFrom("base")},
          $ivfServeCtes,
          sb AS (
            SELECT vec_id, cell,
              ${dBucketW("embedding", VecGateBits)} AS bucket
            FROM served),
          cand AS (
            SELECT x.vec_id AS a, y.vec_id AS b
            FROM sb x JOIN sb y
              ON x.cell = y.cell AND x.bucket = y.bucket
             AND x.vec_id < y.vec_id
            WHERE y.vec_id >= $VecGateSplit),
          truth AS (
            SELECT a, b, CAST(floor(csim * 20) AS BIGINT) AS band
            FROM (
              SELECT x.vec_id AS a, y.vec_id AS b,
                round(${dCos("x.embedding", "y.embedding")}, 6) AS csim
              FROM embeddings x JOIN embeddings y
                ON x.vec_id < y.vec_id
              WHERE y.vec_id >= $VecGateSplit
                AND ('0x' || substr(md5('s14|' || y.vec_id), 1, 15))
                  ::BIGINT % $VecRecallSampleF = 0)
            WHERE csim >= $VecGateThr),
          m AS (
            SELECT t.band, count(*) AS n_true, count(c.a) AS n_caught
            FROM truth t
            LEFT JOIN cand c ON c.a = t.a AND c.b = t.b
            GROUP BY t.band)
          SELECT band, n_true, n_caught,
            CAST((n_caught * 1000000) // n_true AS DOUBLE) / 1000000.0
              AS recall
          FROM m""",
    // Recursive transitive closure over the bidirectional near-dup
    // graph — the d8 oracle shape over s3's pair criterion.
    "d11_embedding_dedup" ->
      s"""WITH RECURSIVE e AS (
            SELECT label, vec_id, embedding,
              ${dBucket("embedding")} AS bucket
            FROM embeddings),
          p AS (
            SELECT a.vec_id AS a, b.vec_id AS b
            FROM e a JOIN e b
              ON a.label = b.label AND a.bucket = b.bucket
             AND a.vec_id < b.vec_id
            WHERE round(${dCos("a.embedding", "b.embedding")}, 6) >= 0.35),
          ed AS (SELECT a, b FROM p UNION ALL SELECT b, a FROM p),
          reach AS (
            SELECT vec_id AS v, vec_id AS lbl FROM embeddings
            UNION
            SELECT ed.b AS v, reach.lbl
            FROM reach JOIN ed ON ed.a = reach.v)
          SELECT v AS vec_id, min(lbl) AS cluster_id
          FROM reach GROUP BY v"""
  )
}
