package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Tuned for the harness (single JVM, `local[32]`) but every setting is the
  * one we'd want on a real cluster too: AQE on (runtime re-plan, skew-join
  * splitting), shuffle partitions sized to parallelism instead of the 200
  * default, UTC session time zone for oracle parity.
  */
object GraftSession {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Entries in Spark's generated-class cache
    * (`spark.sql.codegen.cache.maxEntries`, default 100). The cache is an
    * LRU, so a working set above its size evicts every class before its
    * next use and each repeated pass recompiles all of them (~198
    * compilations per warm `domain_e2e_gl` pass at sf0.01 under the
    * default), each fresh class also losing its JIT state. Class working
    * sets measured on 4 cores: `domain_e2e_gl` 199 at sf0.01, 261 with
    * `g_incremental_gl`; the benchmark's query mix 271 at sf0.001; all
    * registry queries at sf0.001, less the six that write fixed `/tmp`
    * paths, 3,570. 8,192 holds all of them with room to spare; with all
    * of them retained, Metaspace use peaked at 216 MiB. The cache is one
    * JVM-wide object sized from the conf that the process's first code
    * generation sees, so every session the engine or its specs build
    * sets this. */
  val CodegenCacheEntries = 8192

  /** Parquet INT64 `TIMESTAMP(NANOS)` columns read as longs, which
    * `Tables.events` truncates to micros. Set per session, not when a
    * table loads, so no parquet read depends on what was loaded first. */
  val ParquetNanosAsLong = "spark.sql.legacy.parquet.nanosAsLong" -> "true"

  def builder(appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // local[32] with modest data: AQE's default 64m advisory size can
      // coalesce mid-size shuffles below core count; 8m keeps heavy
      // per-row stages (hashing, sketching) parallel. On a real cluster
      // this follows executor count instead.
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8m")
      // runtime bloom join filters: on selective shuffle joins the build
      // side's bloom prefilters the probe side's scan — the automatic
      // form of Joins.bloomSemiJoin (explicit default in case a deploy
      // profile flips it)
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      // guide §3.1/§9: preferSortMergeJoin=false lets the planner pick a
      // shuffled-hash join (no per-side sort) when its size conditions
      // hold — the planner's own stats gate plus AQE skew-join splitting
      // still guard the build side, so sort-merge remains the fallback
      // for anything big or skewed. Kept on those grounds, not on a local
      // win: r14's calibration-clean interleaved A/B over the 12 heaviest
      // join-bearing queries found the two postures indistinguishable at
      // sf0.1 (pass totals 85.0/70.2/70.3/85.8 s SHJ/SMJ/SHJ/SMJ, per-query
      // min-of-2 split 6/6 by sign; OPTIMIZATION_r14.md).
      .config("spark.sql.join.preferSortMergeJoin", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config(ParquetNanosAsLong._1, ParquetNanosAsLong._2)
      .config("spark.sql.extensions", "graft.sql.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")

  def getOrCreate(appName: String = "graft"): SparkSession = {
    Mat.persist // a bad SPARK_GRAFT_MAT fails here, before any query runs
    val s = builder(appName).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
