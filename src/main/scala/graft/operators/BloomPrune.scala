package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.BloomSketch

/** Bloom semi-join pruning: build a fixed-memory membership sketch over
  * the join keys of a filtered dimension, then drop fact rows that
  * cannot possibly join BEFORE they reach the shuffle. The sketch is a
  * superset filter — false positives survive to the exact join and are
  * removed there — so any query composed as
  * `prune(fact) JOIN dim` returns byte-identical results to
  * `fact JOIN dim` (oracle-gated by j8), while the fact side ships only
  * ~selectivity·rows through the exchange.
  *
  * When to use at 100 TB (the decision ladder):
  *  - dim keys fit an IN-list (≲10³): partition-pruning literals.
  *  - dim fits a broadcast (≲10 MB hashed): `broadcast(dim)` join —
  *    no shuffle at all, strictly better than pruning.
  *  - dim too big to broadcast but its KEY SET is sketchable (10⁷-10⁹
  *    keys): THIS — at 1% fpp a bloom costs ~9.6 bits/key (`sizing`),
  *    so 10⁸ keys ≈ 120 MB where an exact hashed relation runs
  *    ~16-24 B/key ≈ 2 GB; at 5-10% fpp (which pruning, unlike
  *    joining, can afford) it drops to ~0.6-0.8 B/key ≈ 60-80 MB.
  *  - beyond that: let AQE's runtime bloom (`InjectRuntimeFilter`)
  *    handle single-query cases; this operator's extra value is the
  *    ARTIFACT form — build once (e.g. the admitted-corpus id set, the
  *    non-tombstoned set), persist it ([[DedupIndex.saveMembers]]), and
  *    reuse it across many fact scans without re-aggregating the dim.
  *
  * Spark's own runtime filter covers the single-query case when its
  * thresholds line up; an explicit operator makes the decision — and
  * the sketch's lifetime — the caller's.
  */
object BloomPrune {

  /** Distributed build: one `treeAggregate` of per-partition bitsets
    * — ONE Spark job, where a global aggregate runs two under adaptive
    * execution (its shuffle stage, then the result). Keys go through
    * [[BloomSketch.add]] and partials through [[BloomSketch.merge]],
    * exactly as [[graft.functions.BloomAgg]] does, so the bits are
    * identical; NULL keys are skipped, and an empty key frame yields
    * the all-zeros bitset that correctly rejects everything. The
    * driver receives `numBits/8`-byte partials — dim-sized scalar
    * collect, same budget class as the IVF centroid pulls.
    */
  def build(keys: DataFrame, keyCol: String, numBits: Int,
      numHashes: Int): Array[Long] =
    keys.select(col(keyCol).cast("long")).queryExecution.toRdd
      .treeAggregate(BloomSketch.alloc(numBits))(
        (bits, row) => {
          if (!row.isNullAt(0)) BloomSketch.add(bits, row.getLong(0),
            numHashes)
          bits
        },
        BloomSketch.merge)

  /** `sizing`-driven build: bits/k chosen for `expectedKeys` at `fpp`. */
  def buildSized(keys: DataFrame, keyCol: String, expectedKeys: Long,
      fpp: Double): (Array[Long], Int) = {
    val (bits, k) = BloomSketch.sizing(expectedKeys, fpp)
    (build(keys, keyCol, bits, k), k)
  }

  /** Pruning filter: keeps rows whose key MIGHT be in the sketch
    * (NULL keys drop — they cannot equi-join). The bitset goes into
    * the plan as a foldable array literal and into the tasks as one
    * shared reference object; the probe is codegen'd
    * ([[graft.functions.BloomMightContain]]).
    */
  def prune(fact: DataFrame, keyCol: String, bits: Array[Long],
      numHashes: Int, orKeep: Column = lit(false)): DataFrame =
    // call_function + typedLit (the pq_tables convention), NOT a SQL
    // string: rendering the bitset as array literals would hand the
    // parser one literal per word — ~15M of them (~300 MB of SQL) for
    // a 10⁸-key sketch. typedLit builds the foldable array<bigint>
    // directly; the registered builder still embeds it as one
    // reference object. `orKeep` widens the filter for rows that must
    // survive regardless of membership (e.g. an ingest gate's
    // arriving batch, which the index cannot know yet) — the default
    // lit(false) is the identity of || and keeps the plain probe.
    fact.where(call_function("bloom_might_contain",
      col(keyCol).cast("long"), typedLit(bits.toSeq), lit(numHashes))
      || orKeep)
}
