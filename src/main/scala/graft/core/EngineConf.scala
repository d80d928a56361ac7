package graft.core

import org.apache.spark.sql.SparkSession

/** Engine-level session settings, shared by every runnable main
  * (Bench/Verify/JobProfile/PlanDump/the CLI) and the test session.
  *
  * File listing. Spark lists the leaf files of a read's root paths on the
  * driver up to `parallelPartitionDiscovery.threshold` paths and with a
  * distributed job above it. The Spark default (32) sits below the per-batch
  * file cap of graft's own line source, so every full RainStorm micro-batch
  * paid a one-stage job with one task per file just to re-stat files the
  * stream source had already listed, and `graft dgrep` paid the same over a
  * glob expanding to more than 32 files. The threshold is raised to
  * [[DriverListingMaxPaths]], which is also the default
  * `maxFilesPerTrigger` of `RainStormJob.lineSource`, so a batch of that
  * source never launches the listing job. The trade-off: above 32 paths the
  * driver stats each path serially. Per file that is trivial on a local FS
  * and on HDFS, but on an object store it is one round trip per file, so
  * the bound stays tied to the per-batch cap instead of being removed, and
  * larger root-path sets (`RainStormJob.compact` over many `batch-*` dirs,
  * a dgrep glob over hundreds of logs) still list in parallel. Measured on
  * the `rainstorm_stream` drain of 50k rows in 100 files (one micro-batch)
  * on a 4-vCPU VM, median of 10 runs: `getBatch` 546 -> 23 ms, drain
  * 1.70 -> 1.21 s; at 2 cores (6 runs) 951 -> 26 ms and 2.24 -> 1.49 s
  * (`BENCH_stream_listing.json`). Capping the batch at 32 files instead
  * made the drain 4 micro-batches and slower, 2.67 s.
  *
  * AQE partition sizing. Both switches default to the Spark defaults. The
  * non-default arms were measured in r16 and rejected as scale-unsafe
  * (VERDICT r16, "EngineConf A/B"); the raw run records were not committed,
  * so the figures below are the only record. The switches are kept so the
  * negative result can be re-measured:
  *
  *  - `SPARK_GRAFT_CACHED_AQE=true` sets
  *    `canChangeCachedPlanOutputPartitioning=true`, letting AQE coalesce
  *    partitions INSIDE cache materialization. At sf0.1/32 cores it cut
  *    the 24-query heavy subset 67.99 -> 60.48 s (min2 of 2 runs — the
  *    "32-task passes over MB-scale cached relations" floor is real and
  *    this is the lever that removes it). But at open sf2 the same flag
  *    REGRESSED the pair-kernel subset 44.6 -> 52.5 s (tx08 -3.2 s,
  *    dd17 -2.7 s): a coalesced cache loses its hashpartitioning(k,
  *    CPUS) output contract, so every downstream co-partitioned join
  *    that previously reused the cache's exchange re-shuffles REAL data.
  *    The sf0.1 win is a local-latency artifact; the sf2 loss is the
  *    100 TB truth. Rejected per the round's own rule (no local-only
  *    wins).
  *
  *  - `SPARK_GRAFT_PARALLELISM_FIRST=false` sets AQE's
  *    `coalescePartitions.parallelismFirst=false` (the Spark tuning
  *    guide's recommendation). Measured WITH cached-AQE at sf0.1/32c:
  *    66.86 vs 62.47 s for parallelism-first — the advisory-sized (64 MB)
  *    partitions serialize this engine's compute-dense post-shuffle
  *    stages (pair explodes over compact postings), which is also the
  *    wrong direction at scale for the same kernels. Rejected.
  */
object EngineConf {
  /** Root-path count up to which the driver lists files itself, and the
    * default per-micro-batch file cap of graft's line source. */
  val DriverListingMaxPaths = 100

  def apply(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
      DriverListingMaxPaths.toLong)
    .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
      sys.env.getOrElse("SPARK_GRAFT_PARALLELISM_FIRST", "true"))
    .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      sys.env.getOrElse("SPARK_GRAFT_CACHED_AQE", "false"))
}
