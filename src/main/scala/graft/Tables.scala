package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * One parquet directory per scale factor; columnar scans give us free
  * column pruning + predicate pushdown (the reference hand-wrote both into
  * every SELECT — see SURVEY.md §4).
  */
object Tables {
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Fan a too-coarse frame out to session parallelism — the fix for
    * per-row-heavy work fused into an under-split scan stage.
    *
    * The local fixtures are ONE single-row-group parquet file per table,
    * so a scan stage — and every per-row expression codegen fuses into it
    * (md5/sha2 hashing, shingling, window-min fingerprints) — runs as ONE
    * effective task regardless of core count: Spark splits a file below
    * the row-group boundary into byte ranges, but all rows of a row group
    * go to the task owning its midpoint, so the extra splits are empty
    * (measured: the a22 sketch build ran 1 real task of 3 on local[32]).
    * Guide §2.5 "input skew: one huge unsplittable file → repartition
    * immediately after the read": a round-robin exchange of the
    * (column-pruned, filter-pushed — both push through Repartition) scan
    * output restores cores-wide parallelism for everything after it.
    *
    * OPT-IN per call site, not applied at load(): an interleaved A/B at
    * sf0.1 showed blanket fan-out WINS only where heavy per-row work
    * precedes the first shuffle (a22 4.1→2.4 s, a24 4.7→2.7 s) and LOSES
    * where the first operation is itself a shuffle (flagship
    * domain_e2e_gl 13.4→14.9 s, d_hits 5.8→6.5 s: the exchange is pure
    * added cost there). Callers must only use it where the consumer's
    * result is partitioning-invariant (exact aggregates, global-order
    * machinery, row-local projections).
    *
    * Scale posture: the gate is the frame's own split count — at real
    * scale a scan has >= cores splits and this is a no-op; it fires only
    * when the input layout undercuts the session's parallelism. Fan-out
    * width follows the session's shuffle partitioning (which GraftSession
    * pins to SPARK_GRAFT_CPUS), so the driver's low-core bench run keeps
    * its contract.
    * Determinism: round-robin repartition sorts rows before distributing
    * (spark.sql.execution.sortBeforeRepartition, on by default), so the
    * row→partition assignment is a pure function of row content.
    *
    * The split-count gate runs ONLY on scan-rooted frames (r13 ADVICE):
    * under AQE, touching `.rdd` on a plan with upstream exchanges eagerly
    * EXECUTES those query stages at call time (AdaptiveSparkPlanExec
    * materializes all stages in doExecute), and that work is NOT reused
    * by the consumer's separate QueryExecution — the shuffle would run
    * twice. A frame whose optimized plan is only scan/project/filter
    * (or an already-materialized LogicalRDD leaf) has no query stages,
    * so reading its partition count schedules nothing; anything else —
    * fanOut sits inside library operators (winnow, simHashDocs,
    * countMinSketch) that accept arbitrary caller frames — is returned
    * untouched, which is also the right call structurally: a frame that
    * already crossed a shuffle is session-parallel. */
  def fanOut(df: DataFrame): DataFrame = {
    val allowed = Set("Project", "Filter", "LogicalRelation", "LogicalRDD",
      "LocalRelation", "DataSourceV2Relation", "DataSourceV2ScanRelation")
    val scanRooted = df.queryExecution.optimizedPlan.collect {
      case n if !allowed.contains(n.getClass.getSimpleName) => n
    }.isEmpty
    if (!scanRooted) return df
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    if (df.rdd.getNumPartitions < n) df.repartition(n) else df
  }

  def region(s: SparkSession, d: String): DataFrame     = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame     = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame   = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame     = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame   = load(s, d, "lineitem")
  /** The events fixture has shipped `ts` as both TIMESTAMP(NANOS) (reads
    * back as INT64 under `GraftSession.ParquetNanosAsLong`) and
    * timestamp[us] (reads back as TIMESTAMP_NTZ under the default NTZ
    * inference) across fixture regenerations, so branch on the dtype
    * actually read rather than assuming either:
    *  - LongType → nanos; truncate to micros with integer `div` (a double
    *    division would lose precision at 1e18 nanos);
    *  - TIMESTAMP_NTZ → cast to session-TZ timestamp (session is pinned to
    *    UTC in GraftSession, so the wall-clock instant is preserved and
    *    matches what DuckDB reads from the same file);
    *  - already TimestampType → pass through. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampType}
    val df = load(s, d, "events")
    df.schema("ts").dataType match {
      case LongType      => df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => df
      case _             => df.withColumn("ts", col("ts").cast(TimestampType))
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")
}
