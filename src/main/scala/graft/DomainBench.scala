package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.domain._
import graft.pipeline.Pipeline

/** The commissions flagship's inputs and lineage, as the `domain_e2e_gl`
  * and `g_incremental_gl` queries build them (BASELINE.md: the reference
  * processes 400,688 cert rows in 238.8 s end-to-end on a single Node
  * process).
  *
  * Synthesizes reference-shaped certificate/premium inputs
  * deterministically from the TPC-H-ish testdata (lineitem rows become
  * (cert x split) rows; orders become premiums), then runs the inference
  * lineage as one [[Pipeline]] step list through [[Pipeline.run]] (hashing ->
  * routing -> proposals -> splits/versions -> premiums -> calc inputs);
  * the 8-stage calc and GL consume the result. `EndToEndSpec` runs the
  * same steps over a fixture CSV, and `perfbench/run.py --trace 1`
  * profiles the lineage stage by stage.
  */
object DomainBench {

  def synthCertificates(spark: SparkSession, sfDir: String): DataFrame =
    synthCertificatesFrom(Tables.lineitem(spark, sfDir))

  /** Synth from an arbitrary lineitem-shaped frame (callers may pre-slice
    * by whole order keys — the per-order windows stay consistent). */
  def synthCertificatesFrom(li: DataFrame): DataFrame = {
    // split percents: equal shares with the remainder on the last split so
    // every certificate sums to exactly 100.00 (conformant by construction
    // except a deterministic 2% carve-out to exercise the PHA route).
    // l_linenumber is NOT unique per order in the synthetic data; the
    // full (linenumber, suppkey, partkey) tiebreak pins which row carries
    // the remainder split percent (it IS unique per order — checked at
    // sf0.01 and sf0.1).
    //
    // Hash-agg (cnt + max(struct(tiebreak))) + equi join back — two hash
    // shuffles, NO sort; the row equal to the per-order max struct is the
    // remainder carrier, bit-equal to a per-order row_number == count
    // under a unique tiebreak. Against the shared-sort WindowExec form it
    // was a dead heat (sf0.1 10.91 vs 10.94 s; 10x min-of-3 54.4 vs
    // 54.5 s — NOTES round 10); it is kept because at 100 TB the agg form
    // partial-aggregates map-side, where a window must shuffle every row
    // to its order's partition and sort it.
    val tiebreak = struct(col("l_linenumber"), col("l_suppkey"), col("l_partkey"))
    val perOrder = li.groupBy(col("l_orderkey"))
      .agg(count(lit(1)).as("cnt"), max(tiebreak).as("__last"))
    val withCnt = li.join(perOrder, Seq("l_orderkey"))
      .withColumn("base_pct", floor(lit(10000) / col("cnt")) / 100.0)
      .withColumn("split_pct",
        when(tiebreak =!= col("__last"), col("base_pct"))
          .otherwise(round(lit(100.0) - col("base_pct") * (col("cnt") - 1), 2)))
    withCnt.select(
      col("l_orderkey").as("cert_id"),
      concat(lit("G"), pmod(col("l_orderkey"), lit(3079))).as("group_id"),
      col("l_linenumber").as("split_seq"),
      when(pmod(col("l_orderkey"), lit(50)) === 0, col("split_pct") + 1.0)
        .otherwise(col("split_pct")).as("split_pct"), // ~2% nonconformant
      lit(1).as("tier_level"),
      concat(lit("P"), col("l_suppkey")).as("broker_id"),
      concat(lit("SCHED"), pmod(col("l_suppkey"), lit(50))).as("schedule_code"),
      concat(lit("P"), col("l_suppkey")).as("paid_broker_id"),
      col("l_returnflag").as("product_code"),
      lit("*").as("plan_code"),
      to_date(col("l_shipdate")).as("eff_date"),
      col("l_partkey"))
  }

  /** The pipeline as a single composable frame (GL entries), for the
    * bench/verify query surface. The calc output feeds both GL branches,
    * so it is materialized once through [[Mat]]. */
  def glPipeline(spark: SparkSession, sfDir: String): DataFrame =
    Calc.glEntries(graft.Mat(Calc.run(glInputs(spark, sfDir))))

  /** The flagship's [[Calc.CalcInputs]]: [[steps]] over synthesized
    * certificates, run by [[Pipeline.run]] — the substrate
    * for both the one-shot flagship run and the incremental (base + delta
    * batch) maintenance twin, which must share EXACT inputs for the
    * batch-identity oracle to hold. */
  def glInputs(spark: SparkSession, sfDir: String): Calc.CalcInputs =
    calcInputs(Pipeline.run(spark, steps(
      load = synthCertificates(_, sfDir),
      premiums = (s, _) => Tables.orders(s, sfDir).select(
        col("o_orderkey").as("premium_id"), col("o_orderkey").as("cert_id"),
        concat(lit("G"), pmod(col("o_orderkey"), lit(3079))).as("group_id"),
        col("o_totalprice").as("amount"),
        date_add(to_date(col("o_orderdate")), 400).as("txn_date")),
      rates = (0 until 50).map(i => s"SCHED$i" -> (5.0 + (i % 10) * 0.5)),
      // synthetic configs are near-unique per cert, so entropy routing is
      // relaxed (it would route almost every group); the 2% split-sum
      // carve-out still exercises the non-conformance path
      routing = (1.0, 99.0, 0.0),
      state = lit("TX"))))

  /** The inference lineage as one [[Pipeline]] step list: load -> fused
    * hashes -> routing -> proposals -> splits/versions -> premiums -> calc
    * inputs (read back with [[calcInputs]]). A caller supplies only its
    * certificate load, its premiums (given the loaded certificates), its
    * flat rate per schedule code, its `Proposals.routeGroups` thresholds
    * (`maxUniqueRatio`, `maxEntropy`, `minDominantPct`) and the
    * per-certificate `state` aggregate. The fan-in frames (certificates,
    * fused hashes, configs, proposals and the hierarchy islands) are
    * materialized through [[Mat]] so each computes once. */
  def steps(
      load: SparkSession => DataFrame,
      premiums: (SparkSession, DataFrame) => DataFrame,
      rates: Seq[(String, Double)],
      routing: (Double, Double, Double),
      state: Column): Seq[Pipeline.Step] = Seq(
    Pipeline.Step("load", Nil, Seq("certs"), (s, _) => Map("certs" -> graft.Mat(load(s)))),
    Pipeline.Step("hashes", Seq("certs"), Seq("fused", "hier_hashes"), (_, f) => {
      // Fused one-shuffle hash build (bit-equal to the two-phase
      // hierarchyHashes -> configHashes build — ProposalsSpec; measured
      // 9.3-9.6 s vs 10.7-11.2 s flagship at sf0.1): per-split rows explode
      // back out of the fused frame instead of paying a second aggregate's
      // shuffle.
      val fused = graft.Mat(Proposals.fusedHashes(f("certs")))
      Map("fused" -> fused, "hier_hashes" -> Proposals.fusedSplitRows(fused))
    }),
    Pipeline.Step("routing", Seq("fused"), Seq("configs"), (_, f) => {
      val (maxUniqueRatio, maxEntropy, minDominantPct) = routing
      Map("configs" -> graft.Mat(Proposals.routeGroups(
        Proposals.flagNonConformant(f("fused").select(col("cert_id"),
          col("group_id"), col("config_hash"), col("total_split_pct"),
          col("n_splits"))),
        maxUniqueRatio, maxEntropy, minDominantPct)))
    }),
    Pipeline.Step("proposals", Seq("configs", "certs"), Seq("proposals"), (_, f) =>
      Map("proposals" -> graft.Mat(Proposals.normalizeDateRanges(
        Proposals.buildProposals(f("configs"), f("certs")))))),
    // multi-version flow: splits reference the business slot (group x seq)
    // and the calc's as-of join resolves the slot's version island active
    // at the transaction date (07-deprecated-hierarchies.sql semantics).
    // splits and participants feed exactly ONE consumer each, so they
    // stay lazy; the islands computation inside hierarchyEntitiesVersioned
    // is materialized via the passed-in Mat (it feeds both outputs)
    Pipeline.Step("splits", Seq("proposals", "configs", "hier_hashes", "certs"),
        Seq("splits", "versions", "participants"), (_, f) => {
      val splits = Proposals.splitConfigsVersioned(f("proposals"), f("configs"), f("hier_hashes"))
      val (versions, participants) = Proposals.hierarchyEntitiesVersioned(f("certs"), graft.Mat(_))
      Map("splits" -> splits, "versions" -> versions, "participants" -> participants)
    }),
    Pipeline.Step("premiums", Seq("certs"), Seq("premiums"), (s, f) =>
      Map("premiums" -> premiums(s, f("certs")))),
    Pipeline.Step("calc_inputs", Seq("certs", "proposals", "versions"),
        Seq("calc_certs", "calc_proposals", "calc_versions", "rates", "assignments"), (s, f) => {
      import s.implicits._
      Map(
        "calc_certs" -> f("certs").groupBy(col("cert_id"))
          .agg(first(col("group_id")).as("group_id"), first(col("product_code")).as("product_code"),
            first(col("plan_code")).as("plan_code"), state.as("state"))
          .withColumn("group_size", lit(null).cast("int"))
          .withColumn("real_rate", lit(null).cast("double")),
        "calc_proposals" -> f("proposals").select(col("proposal_id"), col("group_id"),
          col("eff_from").cast("date").as("eff_from"), col("eff_to").cast("date").as("eff_to")),
        "calc_versions" -> f("versions").drop("hierarchy_hash"),
        "rates" -> rates.map { case (sched, rate) => (sched, "*", "*",
          null.asInstanceOf[java.lang.Integer], null.asInstanceOf[java.lang.Integer], rate) }
          .toDF("schedule_code", "product_code", "state", "size_from", "size_to", "rate"),
        "assignments" -> Seq.empty[(String, String, Double, java.sql.Date, java.sql.Date)]
          .toDF("broker_id", "recipient_id", "assigned_pct", "eff_from", "eff_to"))
    }))

  /** The [[Calc.CalcInputs]] a run of [[steps]] leaves in its frames. */
  def calcInputs(f: Map[String, DataFrame]): Calc.CalcInputs = Calc.CalcInputs(
    f("premiums"), f("calc_certs"), f("calc_proposals"), f("splits"),
    f("calc_versions"), f("participants"), f("rates"), f("assignments"))
}
