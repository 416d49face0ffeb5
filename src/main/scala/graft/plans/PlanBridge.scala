// Lives in org.apache.spark.sql to reach the private[sql] Dataset.ofRows —
// the standard pattern for Spark-native libraries that construct their own
// logical plan nodes (a DataFrame can only be built from a LogicalPlan
// through this door).
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

object GraftPlanBridge {
  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Free an RDD's cached blocks without blocking. A locally checkpointed
    * RDD is freed through the `SparkContext`: `RDD.unpersist` logs a
    * "lineage has been truncated" WARN for each one, and every default-mode
    * `Mat` leaves one behind. */
  def unpersist(rdd: org.apache.spark.rdd.RDD[_]): Unit =
    rdd.checkpointData match {
      case Some(_: org.apache.spark.rdd.LocalRDDCheckpointData[_]) =>
        rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
      case _ => rdd.unpersist(blocking = false)
    }

  /** Re-root `df` on its own execution RDD (a `LogicalRDD` leaf): the
    * catalyst plan chain is truncated — iterative operators otherwise
    * nest each round's whole plan inside the next, and analysis blows
    * the heap after ~30 rounds — while the RDD keeps ITS lineage, so a
    * lost executor recomputes the partition instead of killing the job
    * (the property `localCheckpoint` gives up). Pair with `persist` so
    * the scan hits cached blocks rather than recomputing per action. */
  def rddRoot(df: DataFrame): DataFrame = {
    val c = df.asInstanceOf[classic.Dataset[Row]]
    val plan = execution.LogicalRDD.fromDataset(
      c.queryExecution.toRdd, c, isStreaming = false)
    classic.Dataset.ofRows(c.sparkSession, plan)
  }

  /** Materialize like plain Mat (a localCheckpoint, or a re-root over a
    * persisted frame's cache) AND compute an order-independent edge-set
    * signature — (row count, Σ xxhash64(col0, col1)) — DURING the
    * materializing action, instead of a second job per round. This is
    * the convergence check of the BSP connected-components loop folded
    * into the round's existing action (r13 verdict item: one driver
    * round-trip per round, not two). Requires the frame's first two
    * columns to be non-null longs (the (u, v) edge schema); the hash
    * chain replicates catalyst's xxhash64 (seed 42) so the signature
    * values match what the old `sum(xxhash64(u, v))` aggregate produced.
    * Returns the re-rooted frame, its RDD (so callers can free the
    * round's blocks explicitly once consumed), and the signature. */
  def reRootEdgeSig(df: DataFrame, localCkpt: Boolean)
      : (DataFrame, org.apache.spark.rdd.RDD[_], Long, BigInt) = {
    val c = df.asInstanceOf[classic.Dataset[Row]]
    // the per-row copy is only needed to make localCheckpoint's block
    // caching safe (reused UnsafeRow buffers); in persist mode the rows
    // come out of the dataset-level cache already copy-safe, and the map
    // would both hide the cache from downstream actions and pay an
    // unnecessary per-row copy (r13 ADVICE)
    val rdd =
      if (localCkpt) {
        val r = c.queryExecution.toRdd.map(_.copy()); r.localCheckpoint(); r
      } else c.queryExecution.toRdd
    // ONE job: computes the frame (filling the localCheckpoint blocks /
    // dataset-level cache as a side effect of first computation) while
    // folding every row into the signature. The hash-sum accumulates as a
    // WRAPPING long — addition mod 2^64 is commutative/associative, so the
    // signature stays order-independent and deterministic without a
    // per-row BigInt allocation (the old `sum(... as decimal(38,0))` was
    // exact; only within-run equality is ever compared, so the narrower
    // accumulator changes no behavior).
    val (n, h) = rdd.mapPartitions { it =>
      var cnt = 0L
      var sum = 0L
      while (it.hasNext) {
        val r = it.next()
        var x = catalyst.expressions.XXH64.hashLong(r.getLong(0), 42L)
        x = catalyst.expressions.XXH64.hashLong(r.getLong(1), x)
        cnt += 1; sum += x
      }
      Iterator.single((cnt, sum))
    }.fold((0L, 0L)) { case ((c1, s1), (c2, s2)) => (c1 + c2, s1 + s2) }
    // the leaf claims no partitioning, like `Dataset.localCheckpoint`'s
    // leaf under AQE: consumers plan exactly as they do after plain Mat
    val plan = execution.LogicalRDD(c.logicalPlan.output, rdd,
      catalyst.plans.physical.UnknownPartitioning(rdd.getNumPartitions), Nil,
      isStreaming = false)(c.sparkSession, None, None)
    (classic.Dataset.ofRows(c.sparkSession, plan), rdd, n, BigInt(h))
  }
}
