package graft

import org.apache.spark.sql.SparkSession

/** Canonical SparkSession construction for the engine's entry points
  * (Verify, Bench, tests). Centralizes the settings every session needs:
  *
  *  - `spark.sql.legacy.parquet.nanosAsLong` — earlier driver data
  *    generations stored `events.ts` as TIMESTAMP(NANOS), which Spark
  *    reads only as a raw long under this flag (see [[Tables.events]],
  *    which normalizes whatever encoding the current generation uses).
  *    Kept so the loaders stay generation-agnostic; set once here so no
  *    DataFrame builder ever mutates session config as a side effect.
  *  - UTC session zone — the data model's timestamps are naive wall-clock
  *    values (SURVEY.md §1.3); pinning UTC keeps them stable.
  *  - shuffle partitions sized to the local core count rather than the
  *    200 default — on a real cluster this would instead be set to
  *    ~2-3× total executor cores (or left to AQE coalescing, which stays
  *    enabled).
  *  - `spark.sql.artifact.isolation.enabled = false` — Spark keys its
  *    codegen cache by (class loader, code), and with isolation on each
  *    session's tasks run in their own executor class loader. Every
  *    `StreamExecution` run clones its session and
  *    [[streaming.StreamingOps.streamSession]] makes a child, so each
  *    scheduled publisher run compiled byte-identical classes again
  *    (35 per `odm_publish` incremental run, 0.44–0.56 s of compile;
  *    0 with one loader). The engine adds no session artifacts (no
  *    `addArtifact`/`addJar`), so one shared loader loses nothing.
  *  - `spark.sql.codegen.cache.maxEntries = 2000` — the default 100 is
  *    below the working set (131 unique classes in one `qc_edit`
  *    benchmark run, 168 in `corpus_ingest`), so every cycle compiled
  *    evicted classes again (133 compiles in a `corpus_ingest` cycle,
  *    26 at 1000). One `graft.Bench` run at sf0.01 compiles about 1060
  *    unique sources, past 1000: 156 compiles repeated a source on the
  *    same side (driver or task) at 1000, none at 2000. A static conf:
  *    it takes effect only when set before the JVM's first codegen.
  */
object Sessions {
  def builder(appName: String, cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      // native engine functions (vec_dot) — see graft.functions
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      // keep managed-table data (bucketed tables) out of the repo dir
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft-warehouse")
      // don't truncate PushedFilters/ReadSchema in explain output —
      // plan-shape tests assert on them
      .config("spark.sql.maxMetadataStringLength", "500")
      // push genuine In predicates to parquet instead of the default
      // >10-values min/max-range rewrite: the ingest gates push a
      // batch's touched-bucket / candidate-id set into the stored
      // scan, and a min/max range over scattered keys covers
      // ~everything — zero skipping. The ceiling is a measured JVM
      // limit, not taste: Spark translates the In into a LEFT-DEEP
      // or-chain of parquet eq predicates whose recursive evaluation
      // blows the executor stack past ~1.5k terms (1536 OK, 2048
      // StackOverflowError on this JVM) — 1024 leaves margin, and the
      // engine caps its own pushed sets at the same value
      // (DedupIndex.PushMaxValues).
      .config("spark.sql.parquet.pushdown.inFilterThreshold", "1024")
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "2000")

  def local(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = builder(appName, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
