package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory — the single place the engine's session config
  * lives (Verify, Bench, and user entry points all build through here so
  * the settings cannot drift):
  *
  *   - `spark.sql.shuffle.partitions` sized to the core count rather than
  *     Spark's default 200 (on a real cluster: ~2-3x total cores, or left
  *     to AQE coalescing);
  *   - UTC session time zone so timestamp semantics match the DuckDB
  *     oracle regardless of host TZ;
  *   - AQE left ON (Spark 4 default) — at 100 TB it handles skew-join
  *     splitting and post-shuffle coalescing that we'd otherwise hand-tune.
  */
object Sessions {
  def local(
      cores: Int = 4,
      shufflePartitions: Int = 32,
      appName: String = "graft",
      maxTaskFailures: Int = 1): SparkSession = {
    val builder = SparkSession
      .builder()
      // local[c, f]: f = maxTaskFailures — retries on so the chaos parity
      // run (ChaosRun) can exercise lineage-based task re-execution
      .master(
        if (maxTaskFailures > 1) s"local[$cores, $maxTaskFailures]"
        else s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // Generated-class cache (STATIC conf, JVM-wide; key = generated
      // source). The default 100 entries thrashes under this engine's
      // ~280-query surface — each query compiles several WholeStageCodegen
      // / expression classes, so by the time a query re-runs, its classes
      // have been evicted and Janino recompiles EVERY span on EVERY run
      // (measured: ~0.2-0.5 s of driver gap per mid-size query per pass).
      // 8192 entries holds the whole suite's codegen steady-state; the
      // entries are compiled classes, small relative to the 8g driver
      // heap. Not a local-mode trick: any long-lived Spark service running
      // a wide query mix hits the same eviction wall (the cache is
      // driver/executor-side and scale-independent).
      // STATIC-conf caveat (r18, from r17 advice): this only takes effect
      // for the FIRST SparkSession in the JVM — a process that builds
      // another session first (e.g. test suites sharing a JVM) silently
      // keeps the 100-entry default. The driver-contract mains (Bench,
      // Verify, RunOne, Main) all build their session through here first,
      // which is the path the setting exists for.
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // One executor class loader for all sessions. Spark 4 isolates
      // each session's artifacts in its own executor-side loader, and
      // the codegen cache key includes the loader. A streaming query
      // runs in a CLONED session, so every stream drain recompiled its
      // task-side classes (perfbench curation, 4 cores: ~70 classes and
      // 0.3-0.8 s per pass over the stream twins). The engine adds no
      // per-session jars or files, so there is nothing to isolate.
      .config("spark.sql.artifact.isolation.enabled", "false")
    // dev affordance (guide §1: measure first): SPARK_GRAFT_EVENTLOG=<dir>
    // turns on Spark's JSON event log so a diagnostic run's per-job /
    // per-stage timings can be read offline (the UI is disabled for bench
    // hygiene). Never set by the driver; zero effect when unset.
    sys.env.get("SPARK_GRAFT_EVENTLOG").foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      builder
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", d)
        // plain JSON, single file — the analyzer reads it offline without
        // zstd tooling; diagnostics only, never the bench path
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
    }
    val spark = builder
      // engine-wide data-model decision, set statically at build time:
      // INT64 TIMESTAMP(NANOS) parquet columns surface as raw long nanos
      // (Spark's vectorized reader has no nanos timestamp type). The
      // readers in Tables/EventStreams re-assert this defensively for
      // sessions not built through here.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The documented cluster profile — every setting a real multi-executor
    * deployment adds on top of [[local]]'s session-level config. Apply with
    * `clusterProfile.foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }`.
    *
    *   - `spark.speculation=true`: straggler re-execution — the Spark
    *     mapping of the reference's 10 s in-progress-task re-issue
    *     (reference `master/master.go:111-117`; SURVEY §4). Meaningless in
    *     a single-JVM local run (there is no slow node), which is why
    *     [[local]] omits it.
    *   - AQE skew-join splitting on (with AQE itself already on):
    *     runtime re-planning of the skewed shuffle partitions that salting
    *     handles statically (`SkewJoin`).
    *   - `spark.sql.files.maxPartitionBytes` left at its 128 MB default on
    *     purpose: with ~100 MB row groups it gives one task per row group;
    *     shrink it only for CPU-bound scans.
    *   - `spark.graft.checkpoint.reliable=true`: the iterative loops
    *     (PageRank/TrustRank supersteps, k-core peeling, the funnel's
    *     staged corpus) cut lineage through [[Materialize.iteration]];
    *     under this flag that is a durable `checkpoint()` instead of the
    *     local default, so a preempted executor re-reads loop state from
    *     storage instead of failing the truncated-lineage chain (set
    *     `spark.graft.checkpoint.dir` to an HDFS/object-store path).
    */
  val clusterProfile: Map[String, String] = Map(
    "spark.speculation" -> "true",
    "spark.speculation.multiplier" -> "3",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    Materialize.ReliableKey -> "true")
}
