package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor / similarity-search primitives over an
  * embedding column (`array<float>`).
  *
  * Scale design (100 TB corpus):
  *  - The query set is small and broadcast; the corpus is scanned once
  *    (brute-force baseline = one codegen'd projection per candidate
  *    pair, no shuffle of the corpus itself).
  *  - The bucketed variant prunes candidates by an LSH sign-code before
  *    any distance math; the bucket id is the equi-join key, so the
  *    candidate join is a plain shuffle/broadcast hash join and each
  *    bucket's pair explosion is bounded.
  *  - Top-k uses `row_number` over (rounded sim desc, id asc): rounding
  *    before ranking makes the ordering reproducible across engines and
  *    runs; the id tiebreak makes it total.
  *
  * All arithmetic is cast to double and folded sequentially
  * (`aggregate`) so results are deterministic and engine-portable.
  */
object SimilarityOps {

  /** Sequential dot product of two float-array columns, in double —
    * the native codegen'd [[graft.functions.FloatVecDot]] (`vec_dot`),
    * registered by GraftExtensions. Identical semantics (double
    * accumulation in index order) to the HOF fold it replaced, but it
    * compiles into whole-stage codegen instead of per-element lambda
    * interpretation.
    */
  def dotSql(a: String, b: String): String = s"vec_dot($a, $b)"

  /** L2 norm of a float-array column, in double. */
  def normSql(a: String): String = s"sqrt(vec_dot($a, $a))"

  /** Cosine similarity between two float-array columns. For pairwise
    * work prefer [[withNorm]] + [[pairCosine]]: norms are per-vector,
    * so computing them inside an n×m pair join repeats each one m (and
    * n) times — precomputing them once per side removes two thirds of
    * the pair-level arithmetic.
    */
  def cosine(a: String, b: String): Column =
    expr(s"${dotSql(a, b)} / (${normSql(a)} * ${normSql(b)})")

  /** Precompute a vector column's L2 norm once, before a pair join. */
  def withNorm(df: org.apache.spark.sql.DataFrame, vec: String,
      out: String): org.apache.spark.sql.DataFrame =
    df.withColumn(out, expr(normSql(vec)))

  /** Pair-level cosine from the dot product and precomputed norms.
    * Identical value to [[cosine]] (same expression shape: dot divided
    * by norm product).
    */
  def pairCosine(a: String, b: String, normA: String,
      normB: String): Column =
    expr(s"${dotSql(a, b)} / ($normA * $normB)")

  /** Random-hyperplane-style LSH sign code from the first `bits`
    * components: bit j set iff component j+1 > 0. Axis-aligned
    * hyperplanes keep the code engine-portable; production would rotate
    * by a seeded random matrix first.
    */
  def signBucket(vec: String, bits: Int): Column = {
    // bits = 0 would generate unparseable SQL; bits > 63 would wrap
    // 1L << j and silently collide distinct sign patterns
    require(bits >= 1 && bits <= 63,
      s"signBucket: bits must be in [1, 63] (got $bits)")
    expr((0 until bits)
      .map(j => s"(CASE WHEN element_at($vec, ${j + 1}) > 0" +
        s" THEN ${1L << j} ELSE 0 END)")
      .mkString("CAST((", " + ", ") AS BIGINT)"))
  }

  /** Cost-gated persist for a TRAINING input the caller is about to
    * make several full passes over (each `trainIvf` Lloyd step, each
    * [[ProductQuantization.train]] step, and their seed collects all
    * re-scan the frame and re-run its lineage — at the bench scale
    * 4-6 passes per build, each re-reading parquet and re-computing
    * norms). Persisting the projected frame makes pass 1 the only
    * real scan; every later pass reads the in-memory columnar copy.
    *
    * Gated on the optimizer's size estimate so the cache is a
    * bounded-input decision, not a local-mode constant: at 100 TB the
    * training input is a SAMPLE (the s10 contract — training cost
    * must not scale with the corpus), which passes the gate; a caller
    * that trains on an unsampled huge corpus skips the cache and
    * keeps today's scan-per-pass behavior. Results are identical
    * either way (the cache only changes where bytes are read from);
    * `graft.train.cacheMaxBytes = 0` turns it off.
    */
  private def trainCache(df: DataFrame): DataFrame = {
    val maxBytes = Knobs.long(df.sparkSession,
      "graft.train.cacheMaxBytes", 8L << 30, min = 0)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= maxBytes)
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    else df
  }

  /** Lend [[trainCache]]`(df)` to `f` and unpersist it when `f`
    * returns or throws. No persisted training frame outlives the call,
    * a failed training collect included: serving queries leave no
    * cached frame in the session (PipelineSignalsSpec's contract), so
    * a frame `f` returns recomputes its one scan when it is served.
    */
  def withTrainCache[A](df: DataFrame)(f: DataFrame => A): A = {
    val e = trainCache(df)
    try f(e) finally e.unpersist()
  }

  /** Trained-IVF coarse-quantizer state: ascending cell ids, flattened
    * centroid components (cell-major), and centroid L2 norms — the
    * foldable arguments of the native `ivf_assign` expression.
    */
  final case class IvfCentroids(cells: Array[Long], books: Array[Double],
      mns: Array[Double])

  /** Assignment column for a centroid state: nearest cell by rounded
    * cosine (max sim, lowest cell id on ties) via the native
    * constant-size [[graft.functions.IvfAssign]] loop.
    */
  def ivfAssign(cents: IvfCentroids, dim: Int): Column =
    call_function("ivf_assign", col("embedding"), col("n"),
      typedLit(cents.books.toSeq), typedLit(cents.mns.toSeq),
      typedLit(cents.cells.toSeq), lit(dim))

  /** Train the IVF coarse quantizer: seed with the first 8 vectors,
    * then `steps` Lloyd rounds of exact integer-scaled per-cell sums
    * (partition-order independent — NOTES.md rule 2 generalized to
    * k-means) with re-assignment through [[ivfAssign]]. `e` must carry
    * `vec_id`, `embedding` (array<float>) and the precomputed norm
    * `n`. Centroid state is a dim-sized driver table (8 × dim), the
    * same legitimacy class as broadcast dims and PQ codebooks. The ONE
    * index definition s4 gates and s8 routes with — change the
    * training here and both queries see the same cells.
    */
  def trainIvf(e: DataFrame, dim: Int, steps: Int): IvfCentroids = {
    val seeds = e.filter(col("vec_id") < 8)
      .select(col("vec_id"), col("embedding"), col("n"))
      .collect().sortBy(_.getLong(0))
    // FEWER than 8 seeds is legitimate (sampled training — s10 —
    // keeps the seed ids its sample retains and trains that many
    // cells), but ZERO seeds must fail LOUDLY: training would
    // otherwise "succeed" with an empty centroid table, ivf_assign
    // would return cell 0 for every row, and the "index" silently
    // degenerates to one cell that scans the whole corpus per query
    require(seeds.nonEmpty,
      "trainIvf: no seed vectors (vec_id < 8) in the training input " +
        "— a takedown may have removed the seed ids; reseed before " +
        "rebuilding (training with zero cells would silently " +
        "degenerate the index to a single full-scan cell)")
    var cents = IvfCentroids(
      seeds.map(_.getLong(0)),
      seeds.flatMap(_.getSeq[Float](1).map(_.toDouble)),
      seeds.map(_.getDouble(2)))
    val sums = count(lit(1)).as("cnt") +: (1 to dim).map(i =>
      sum(floor(element_at(col("embedding"), i).cast("double") * lit(1e6)
        + lit(0.5)).cast("long")).as(s"s$i"))
    for (_ <- 1 to steps) {
      // row layout: cell(0), cnt(1), s1..s_dim(2..); ascending cell
      // order is what makes ivf_assign's strict `>` the lowest-id
      // tiebreak
      val allRows = e.withColumn("cell", ivfAssign(cents, dim))
        .groupBy(col("cell")).agg(sums.head, sums.tail: _*)
        .collect()
      // NULL cell = some vector shorter than `dim` (ivf_assign's
      // mismatched-shape NULL) — fail with the cause, not getLong's NPE
      require(allRows.forall(r => !r.isNullAt(0)),
        s"trainIvf: some embeddings are shorter than $dim components " +
          "(NULL assignment) — filter or fix degenerate vectors " +
          "upstream")
      val rows = allRows.sortBy(_.getLong(0))
      val msAll = rows.map { r =>
        val cnt = r.getLong(1)
        // same op order as the column form: s.toDouble / cnt / 1e6
        Array.tabulate(dim)(i => r.getLong(2 + i).toDouble / cnt / 1e6)
      }
      def normOf(m: Array[Double]): Double = {
        var t = 0.0
        var i = 0
        while (i < dim) { t += m(i) * m(i); i += 1 }
        math.sqrt(t) // left fold + sqrt == the generated m1*m1+... chain
      }
      // a cell whose mean is the EXACT zero vector (symmetric members
      // v and -v) is degenerate under cosine — it can attract nothing
      // and its zero norm would fail ivf_assign's strictly-positive
      // require on the next round/query. DROP it: its members
      // reassign to their next-best cell, which is the k-means answer
      // for an empty-attraction centroid
      val live = rows.indices.filter(i => normOf(msAll(i)) > 0.0)
      require(live.nonEmpty,
        "trainIvf: every cell mean degenerated to the zero vector — " +
          "cosine training is undefined on this input")
      val ms = live.map(msAll).toArray
      cents = IvfCentroids(
        live.map(i => rows(i).getLong(0)).toArray,
        ms.flatten,
        ms.map(normOf))
    }
    cents
  }

  /** The EMBEDDING ingest gate — d12's admission decision for vectors,
    * blocked by the index topology: candidates must agree with the
    * arrival on (cell, bucket) — the trained coarse cell composed with
    * the sign-LSH bucket, the same bounded-block design as s3 (cell
    * alone is an O(n²/k) block at 100 TB; the sign bits bound it) —
    * and are CONFIRMED by exact cosine at or past `threshold` on the
    * ROUNDED value (so the oracle's comparison sees identical
    * doubles). `stored` and `batch` both carry (vec_id, embedding, n,
    * cell, bucket); admission is [[DedupIndex.admit]]'s earliest-wins
    * rule — one definition for both modalities' gates. Pairs touching
    * the batch only: batch×(stored ∪ batch), normalized a < b. Shared
    * by the one-shot gate (s13) and the streaming artifact-backed
    * gate (st11) so the two cannot drift.
    */
  /** The gate's candidate PAIR set alone — (a, b) with a < b sharing
    * the arrival's (cell, bucket), at least one side in `batch`,
    * distinct. Exposed so the recall gate (s14) measures exactly the
    * blocking the admission gate runs.
    */
  def gateCandidates(stored: DataFrame, batch: DataFrame): DataFrame = {
    val key = (f: DataFrame) =>
      f.select(col("vec_id"), col("cell"), col("bucket"))
    val a = key(batch).select(col("vec_id").as("a"),
      col("cell"), col("bucket"))
    val b = key(stored).unionByName(key(batch))
      .select(col("vec_id").as("b"), col("cell"), col("bucket"))
    a.join(b, Seq("cell", "bucket"))
      .filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"))
      .distinct()
  }

  /** Deterministic arrival-side sample predicate for ground-truth
    * recall reports (s14): keep ids whose salted hash15 lands in
    * residue 0 mod `f`. A recall report's truth side is INHERENTLY
    * brute-force — O(arrivals × corpus) exact-cosine pairs — so
    * without a bound a naive caller at 100 TB launches a quadratic
    * job; this is the bound. Per-band recall is a ratio of counts
    * over pairs, so a hash sample of the arrival anchor estimates it
    * unbiasedly (each pair is kept iff its arrival anchor is kept,
    * independent of band), with relative error ~1/sqrt(kept pairs
    * per band) — size `f` so the smallest band keeps O(10²) pairs.
    * `f = 1` disables sampling (gate-scale runs); the salt keeps the
    * sample independent of every other hash-bucket decision (splits,
    * mixing) on the same ids. Mirrored exactly in oracle SQL.
    */
  def recallSample(idCol: Column, f: Long, salt: String = "s14"): Column = {
    require(f >= 1, s"recallSample modulus must be >= 1, got $f")
    if (f == 1) lit(true)
    else pmod(TextOps.hash15(idCol, salt), lit(f)) === 0
  }

  /** OPT-IN approximate shortlist ahead of the gate's exact-cosine
    * confirm ([[confirmedPairs]]): stored-side candidates whose
    * ADC-approximated cosine falls below `bar` are dropped BEFORE the
    * exact confirm arithmetic and the confirm-side shuffle. The
    * corpus codes are already stored and the batch stages its lookup
    * tables once per row, so the shortlist costs `subspaces` loads
    * per pair against the full-dim dot product it saves — but ADC
    * does NOT bound cosine (the approximation error is the PQ
    * reconstruction error), so a pair the shortlist drops is dropped
    * for good and the admission decision CAN differ from the exact
    * gate's. That is why this is an explicit opt-in flag with its own
    * recall report (s18), never a default: `bar` is an ABSOLUTE
    * rounded-approx-cosine floor (pass threshold − slack computed
    * ONCE as a literal — deriving it inline invites fp drift against
    * the oracle's decimal arithmetic). Batch×batch pairs carry no
    * code and are exempt (their confirm is exact either way).
    *
    * WHEN it pays (measured, ScaleProbe `adc gate`): under LOOSE
    * blocking (coarse sign bits over a dense corpus) the candidate
    * blocks mix many dissimilar pairs and the shortlist prices them
    * at 8 loads instead of a 64-dim dot — 53.9 → 14.8 s per 2k-doc
    * batch at a 16M corpus, bits=4. Under TIGHT blocking the blocks
    * are ~pure duplicate groups, ADC can drop almost nothing, and
    * the flag is pure overhead. Run s18 first; the geometry, not the
    * corpus size, decides.
    */
  final case class AdcPrefilter(
      books: ProductQuantization.Codebooks, subDim: Int, bar: Double)

  /** The ADC shortlist's report card (the s18 query's body, ONE
    * definition shared with [[VectorIndex.adcPrefilterFor]]'s
    * serving-side contract so the check and the oracle-gated query
    * can never drift): of the gate's EXACT-confirmed stored-side
    * pairs (blocked by (cell, bucket), exact cosine >= `threshold`),
    * what fraction clears the ADC pre-filter at `bar`, per 0.05-wide
    * cosine band? Identical fp op order to [[confirmedPairs]]'
    * shortlist (and to the oracle's adcChain mirror): the batch/
    * query norm first. recall is integer-exact (kept*1e6 div
    * confirmed).
    */
  def adcRecallReport(books: ProductQuantization.Codebooks,
      subDim: Int, threshold: Double, bar: Double)(
      batch: DataFrame, stored: DataFrame): DataFrame = {
    val q = batch.select(col("vec_id").as("qid"), col("cell"),
      col("bucket"), col("embedding").as("vq"), col("n").as("nq"),
      ProductQuantization.adcTablesCol(
        col("embedding"), books, subDim).as("qt"))
    val c = stored.select(col("vec_id").as("cid"), col("cell"),
      col("bucket"), col("embedding").as("vc"), col("n").as("nc"),
      col("code"))
    val acos = round((col("nq") * col("nq") + col("nc") * col("nc")
      - ProductQuantization.adcLookupCol(col("code"), col("qt"),
          books.head.length)) / (col("nq") * col("nc") * lit(2.0)), 6)
    q.join(c, Seq("cell", "bucket"))
      .select(
        round(pairCosine("vq", "vc", "nq", "nc"), 6).as("csim"),
        acos.as("acos"))
      .filter(col("csim") >= threshold)
      .groupBy(floor(col("csim") * 20).cast("long").as("band"))
      .agg(count(lit(1)).as("n_conf"),
        sum(when(col("acos") >= bar, 1L).otherwise(0L)).as("n_kept"))
      .withColumn("recall",
        expr("(n_kept * 1000000) div n_conf").cast("double")
          / lit(1e6))
  }

  def ingestGate(stored: DataFrame, batch: DataFrame,
      threshold: Double,
      adc: Option[AdcPrefilter] = None): DataFrame =
    DedupIndex.admit(confirmedPairs(stored, batch, threshold, adc),
      batch, "vec_id")

  /** The gate's confirmed duplicate pairs alone — (a, b, csim) with
    * a < b. Exposed (a) as the audit view of WHY an arrival was
    * rejected and (b) so the spec can pin that this join's pair set
    * equals [[gateCandidates]]'s blocking exactly (run with
    * `threshold = -1` every blocked pair survives the filter, since
    * cosine ∈ [-1, 1]) — the two formulations must never drift,
    * because s14's recall report measures gateCandidates and claims
    * it is the blocking the admission gate runs.
    */
  def confirmedPairs(stored: DataFrame, batch: DataFrame,
      threshold: Double,
      adc: Option[AdcPrefilter] = None): DataFrame = {
    // a zero (or NaN) norm makes every cosine it touches NaN, and a
    // NaN >= threshold comparison is EVAL-MODE-DEPENDENT (Spark's
    // interpreted ordering ranks NaN above every double; codegen's
    // primitive >= says false) — the admission decision would be
    // silently wrong either way, so fail loudly at the first bad norm
    def nOk(c: org.apache.spark.sql.Column) =
      when(c.isNull || c === 0.0 || isnan(c),
        raise_error(lit("ingestGate: zero/NaN embedding norm — " +
          "cosine is undefined; filter or fix degenerate vectors " +
          "upstream")).cast("double"))
        .otherwise(c)
    // embeddings and norms RIDE the candidate join: confirming via
    // id re-joins against stored ∪ batch would scan the corpus twice
    // more per batch. The stored side is also pruned to the batch's
    // touched (cell, bucket) blocks FIRST — a batch-sized broadcast
    // semi-join, which against the cell-partitioned artifact is
    // partition pruning: the gate reads the blocks the batch can
    // collide with, not the corpus. Same pair set and cosines as
    // [[gateCandidates]] + id joins (s14 keeps measuring that
    // definition); pairCosine is symmetric, so the least/greatest id
    // normalization needs no payload swap.
    val touched = batch.select("cell", "bucket").distinct()
    val prunedStored = stored.join(broadcast(touched),
      Seq("cell", "bucket"), "left_semi")
    def side(f: DataFrame, id: String, v: String, n: String,
        extra: Seq[Column] = Nil) =
      f.select(Seq(col("vec_id").as(id), col("cell"), col("bucket"),
        col("embedding").as(v), nOk(col("n")).as(n)) ++ extra: _*)
    // with the ADC shortlist on: the batch stages its lookup tables
    // ONCE per row (broadcast-side, `subspaces`×k doubles), the
    // stored side carries its persisted code; batch rows on the
    // b-union side carry a NULL code = exempt from the shortlist
    adc.foreach(_ => require(stored.columns.contains("code"),
      "ingestGate ADC shortlist: the stored side carries no `code` " +
        "column — serve from a PQ-encoded index artifact or drop the " +
        "adc option"))
    val a = side(batch, "a", "va", "na",
      adc.toSeq.map(p => ProductQuantization.adcTablesCol(
        col("embedding"), p.books, p.subDim).as("qt")))
    val b = side(prunedStored, "b", "vb", "nb",
        adc.toSeq.map(_ => col("code")))
      .unionByName(side(batch, "b", "vb", "nb",
        adc.toSeq.map(_ => lit(null)
          .cast(stored.schema("code").dataType).as("code"))))
    // a NULL cosine (vec_dot's length-mismatch NULL: the norms are
    // fine but the dims differ — corrupt embedding) must not silently
    // DROP the pair from the confirm set: `csim >= threshold` filters
    // NULL out, and the corrupt arrival would be ADMITTED as novel.
    // Same failure class, same answer as nOk: fail loudly at the
    // first unverifiable pair
    val csim = round(pairCosine("va", "vb", "na", "nb"), 6)
    val paired0 = a.join(b, Seq("cell", "bucket"))
      .filter(col("a") =!= col("b"))
    val paired = adc.fold(paired0) { p =>
      // approximate cosine from the ADC distance and the EXACT stored
      // norms: adc ≈ ‖q − x̂‖², so q·x̂ = (‖q‖² + ‖x‖² − adc)/2 up to
      // the reconstruction error. Rounded to 6 like every oracle-
      // compared similarity; the fp op order here is mirrored
      // verbatim in the s17/s18 oracle SQL.
      val approx = round((col("na") * col("na")
        + col("nb") * col("nb")
        - ProductQuantization.adcLookupCol(col("code"), col("qt"),
            p.books.head.length))
        / (col("na") * col("nb") * lit(2.0)), 6)
      paired0.filter(col("code").isNull || approx >= p.bar)
    }
    val confirmed = paired
      .select(least(col("a"), col("b")).as("a"),
        greatest(col("a"), col("b")).as("b"),
        when(csim.isNull,
          raise_error(lit("ingestGate: NULL pair cosine — embedding " +
            "length mismatch; filter or fix degenerate vectors " +
            "upstream")).cast("double"))
          .otherwise(csim).as("csim"))
      .dropDuplicates("a", "b")
      .filter(col("csim") >= threshold)
    confirmed
  }
}
