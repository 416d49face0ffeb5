package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one materializer: nothing else in `src/main` calls
  * `persist`, `unpersist`, `localCheckpoint`, `checkpoint` or `cache`
  * (only the `GraftPlanBridge` leaves this object drives). "Truncate
  * lineage here" is switched by `SPARK_GRAFT_MAT`:
  *
  *  - unset (default): `localCheckpoint(eager)` — right for a single JVM
  *    (truncates lineage, no recompute), but the checkpoint blocks live
  *    ONLY on executors: on a real cluster an executor loss mid-run kills
  *    the job, because a localCheckpoint cannot be recomputed from
  *    lineage (it IS the lineage root).
  *  - `persist`: eagerly-counted `persist(MEMORY_AND_DISK)` — survives
  *    executor loss (recompute from lineage) at the cost of keeping the
  *    lineage around. The setting for a multi-executor cluster.
  *
  * Any other value is rejected, so a typo cannot quietly fall back to the
  * non-durable default on a cluster.
  *
  * A frame that is already materialized — a `LogicalRDD` leaf (what both
  * modes return) or a cached frame — is returned as is: a localCheckpoint
  * of a localCheckpoint copies every block. [[withEdgeSig]] is the same
  * materialization with connected components' convergence signature
  * folded into its action.
  *
  * Iterative operators (connected components, deep BPE), the dedup and
  * triangle fan-in frames and the domain pipeline's fan-in frames all
  * route through here, so one env var moves the whole engine between
  * single-JVM and cluster-durable materialization.
  */
object Mat {
  /** Whether the mode is `persist`: the `graft.mat` system property
    * (tests) falls back to the `SPARK_GRAFT_MAT` env var (the deployment
    * setting). */
  private[graft] def persist: Boolean =
    sys.props.get("graft.mat").orElse(sys.env.get("SPARK_GRAFT_MAT")) match {
      case None => false
      case Some("persist") => true
      case Some(v) => throw new IllegalArgumentException(
        s"SPARK_GRAFT_MAT (graft.mat) = '$v': accepted values are unset (localCheckpoint) or 'persist'")
    }

  def apply(df: DataFrame): DataFrame = {
    val isLeaf = df.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    if (isLeaf || df.storageLevel != org.apache.spark.storage.StorageLevel.NONE) df
    else if (persist) {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      p.count() // eager: a lazy persist consumed by two branches of one
                // action computes twice before the cache fills
      // Re-root on the execution RDD: without this, iterative operators
      // nest each round's full catalyst plan inside the next round's and
      // analysis/optimization cost grows superlinearly in rounds (the
      // r13 persist sweep OOMed on 30-round BPE and the curation
      // composite at sf0.001 from plan size alone). The LogicalRDD leaf
      // truncates the SQL plan; the RDD underneath keeps its lineage, so
      // executor loss still recomputes instead of failing the job.
      org.apache.spark.sql.GraftPlanBridge.rddRoot(p)
    } else df.localCheckpoint(true)
  }

  /** Materialize an edge frame (first two columns non-null longs) and
    * compute its order-independent signature (n_edges, Σ xxhash64(u, v))
    * in the same action (`GraftPlanBridge.reRootEdgeSig`): connected
    * components' fixed-point check, one job per half-round. Also returns
    * a release that frees the frame's blocks once its last consumer ran. */
  def withEdgeSig(df: DataFrame): (DataFrame, () => Unit, (Long, BigInt)) =
    if (persist) {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val (d, _, n, h) = org.apache.spark.sql.GraftPlanBridge
        .reRootEdgeSig(p, localCkpt = false)
      (d, () => { p.unpersist(false); () }, (n, h))
    } else {
      val (d, rdd, n, h) = org.apache.spark.sql.GraftPlanBridge
        .reRootEdgeSig(df, localCkpt = true)
      (d, () => org.apache.spark.sql.GraftPlanBridge.unpersist(rdd), (n, h))
    }

  /** Free every cached/persisted block the session holds — what a query's
    * `Mat` calls (or its own caching) left behind — so the next query of a
    * driver run starts without the last one's memory pressure. */
  def releaseAll(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(org.apache.spark.sql.GraftPlanBridge.unpersist)
  }
}
