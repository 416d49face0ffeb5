package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._

import graft.{DomainBench, GraftSession, Mat, SparkEntry, Tables}
import graft.domain.{Calc, Export, Proposals}

/** The benchmark's driver process: one Spark session at local[cores], one
  * closed-loop client issuing one operation at a time. Times calls into the
  * engine's public functions and, with `--trace 1`, charges the scheduler
  * work of each call to a span (see [[Ledger]]). Writes everything it
  * measured to one JSON file; run.py checks the digests against DuckDB and
  * derives the metrics.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *   --data DIR --out FILE [--inject KIND:OP] ...
  */
object Harness {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, inject: Map[String, String])

  /** Seconds after which an operation is cancelled and counts as failed. */
  val OpTimeoutS = 60.0

  /** One timed operation. `secs` is the wall time of the call that builds
    * the frame plus the action that materializes it. */
  final class Op(val op: String, val query: String, val pass: Int,
      val layer: String = null) {
    var secs = 0.0
    var error: String = null
    var digest: Digest = null
    var expect: String = null
    var span = -1
    var buildSpan = -1
    var phases: Map[String, Double] = Map.empty
    var matRdds = 0L
    var matMb = 0.0
    var group = -1 // ops sharing one correctness check (a delta week)
  }

  /** `domain_e2e_gl`'s output projection of a GL frame. */
  private def glProjection(gl: DataFrame): DataFrame =
    gl.select(col("premium_id"), col("broker_id"), col("entry_type"),
      col("amount").cast("double").as("amount"))

  def parse(argv: Array[String]): Opts = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toSeq
    val m = kv.toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("out"),
      kv.filter(_._1 == "inject").map { case (_, v) =>
        val Array(kind, op) = v.split(":", 2); op -> kind }.toMap)
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val p0 = System.currentTimeMillis()
    val probesBefore = Probes.run()
    // the probe is the benchmark's own work: keep it off the start-up clock
    val startMs = jvmStartMs + (System.currentTimeMillis() - p0)
    val spark = GraftSession.getOrCreate("perfbench")
    spark.range(1000).selectExpr("sum(id)").collect()
    val sessionS = (System.currentTimeMillis() - startMs) / 1000.0
    val runId = f"${o.workload}-s${o.seed}-t${if (o.trace) 1 else 0}-${jvmStartMs}%d"
    val ledger = if (o.trace) {
      val l = new Ledger(spark.sparkContext)
      spark.sparkContext.addSparkListener(l)
      Some(l)
    } else None
    val run = new Run(spark, o, ledger, startMs)
    val result = o.workload match {
      case "commissions" => run.commissions()
      case "query_mix" => run.queryMix()
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    ledger.foreach(_.drain())
    val probesAfter = Probes.run()
    val doc = mutable.LinkedHashMap[String, Any](
      "run_id" -> runId, "workload" -> o.workload, "seed" -> o.seed,
      "trace" -> o.trace, "seconds" -> o.seconds,
      "cores" -> spark.sparkContext.defaultParallelism,
      "session_s" -> sessionS,
      "first_result_s" -> run.firstResultS,
      "setup_samples_s" -> run.setupSamples.toSeq,
      "measure_s" -> run.measureSecs,
      "peak_rss_mb" -> Probes.peakRssMb(),
      "probes" -> Map("before" -> probesBefore, "after" -> probesAfter),
      "oracle_sql" -> run.oracles.toMap,
      "ops" -> run.ops.toSeq.map(opJson),
      "extra" -> result)
    ledger.foreach { l =>
      doc("spans") = l.spans.toSeq.map { s =>
        mutable.LinkedHashMap[String, Any]("id" -> s.id, "name" -> s.name,
          "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
          "own" -> l.own(s.id).fields)
      }
      doc("unattributed") = l.unattributed.fields
    }
    Files.write(Paths.get(o.out), Json(doc).getBytes("UTF-8"))
    spark.stop()
  }

  private def opJson(op: Op): Any = mutable.LinkedHashMap[String, Any](
    "op" -> op.op, "query" -> op.query, "layer" -> op.layer, "pass" -> op.pass,
    "group" -> op.group,
    "secs" -> op.secs, "error" -> op.error,
    "expect" -> op.expect,
    "digest" -> Option(op.digest).map(d => Map("columns" -> d.columns,
      "rows" -> d.rows, "a" -> d.laneA, "b" -> d.laneB)).orNull,
    "span" -> op.span, "build_span" -> op.buildSpan, "phases_ms" -> op.phases,
    "mat_rdds" -> op.matRdds, "mat_mb" -> op.matMb)

  /** One workload execution in one session. `startMs` is process start
    * with the host probe's duration taken out. */
  final class Run(spark: SparkSession, o: Opts, ledger: Option[Ledger], startMs: Long) {
    private val sc = spark.sparkContext
    private val d = o.data
    val ops = mutable.ArrayBuffer[Op]()
    val oracles = mutable.LinkedHashMap[String, String]()
    val setupSamples = mutable.ArrayBuffer[Double]()
    var measureSecs = 0.0
    /** Process start to the first operation's result, without the probe. */
    var firstResultS = 0.0
    private var pinned = Set.empty[Int]
    private var measureStart = 0L

    private def elapsed: Double = (System.nanoTime() - measureStart) / 1e9
    private def startMeasure(): Unit = measureStart = System.nanoTime()
    private def endMeasure(): Unit = measureSecs = elapsed

    private def span[T](name: String)(body: => T): T = ledger match {
      case Some(l) => l.span(name)(_ => body)
      case None => body
    }
    private def spanId[T](name: String)(body: => T): (T, Int) = ledger match {
      case Some(l) => l.span(name)(s => (body, s.id))
      case None => (body, -1)
    }

    private def oracleFor(query: String): String = {
      oracles.getOrElseUpdate(query, SparkEntry.oracleSql.getOrElse(query, null))
      query
    }

    /** Ids of the materialized RDDs under a frame's plan. */
    private def matIds(df: DataFrame): Set[Int] =
      df.queryExecution.logical.collect { case r: LogicalRDD => r.rdd.id }.toSet

    /** Free every cached and checkpointed block except the pinned ones,
      * including blocks of RDDs the program has already dropped. */
    private def clearBlocks(): Unit = {
      spark.catalog.clearCache()
      sc.getPersistentRDDs.foreach { case (id, r) =>
        if (!pinned.contains(id)) r.unpersist(blocking = true) }
      sc.getRDDStorageInfo.foreach { i =>
        if (!pinned.contains(i.id)) org.apache.spark.PerfbenchSpark.removeRdd(sc, i.id) }
    }

    private def injected(op: Op, df: => DataFrame): DataFrame =
      o.inject.get(op.op).orElse(o.inject.get(op.query)) match {
        case Some("throw") =>
          spark.range(4).selectExpr("raise_error('perfbench: injected failure') AS x")
        case Some("mismatch") => df.limit(1)
        case Some("timeout") => Thread.sleep(Long.MaxValue); df // until cancelled
        case _ => df
      }

    /** Run one operation on a worker thread with a timeout. `body` builds
      * and materializes the output and returns the frame to digest (or
      * null when the caller checks the output separately). Failures are
      * recorded on the op, never thrown. */
    private def execute(op: Op)(body: Op => DataFrame): Op = {
      clearBlocks()
      ledger.foreach(_.takeStored())
      ops += op
      val group = s"perfbench-${ops.size}"
      var err: Throwable = null
      val worker = new Thread(() => {
        sc.setJobGroup(group, op.op, interruptOnCancel = true)
        try {
          val t0 = System.nanoTime()
          val (_, sid) = spanId(op.op) {
            val out = body(op)
            if (out != null) {
              val (cols, agg) = Digest.frame(out)
              val r = span("action")(agg.collect().head)
              op.digest = Digest(cols, r.getLong(0), r.getLong(1), r.getLong(2))
              op.phases = agg.queryExecution.tracker.phases.map { case (k, v) =>
                k -> v.durationMs.toDouble }
            }
          }
          op.secs = (System.nanoTime() - t0) / 1e9
          op.span = sid
        } catch { case t: Throwable => err = t }
        finally sc.clearJobGroup()
      }, group)
      worker.setDaemon(true)
      worker.start()
      worker.join((OpTimeoutS * 1000).toLong)
      if (worker.isAlive) {
        sc.cancelJobGroup(group)
        worker.interrupt()
        worker.join(30000)
        op.error = s"timeout after $OpTimeoutS s"
      } else if (err != null) {
        op.error = (err.getClass.getName + ": " + String.valueOf(err.getMessage))
          .linesIterator.take(3).mkString(" | ")
      }
      if (ops.size == 1) firstResultS = (System.currentTimeMillis() - startMs) / 1000.0
      ledger.foreach { l =>
        val (rdds, bytes) = l.takeStored()
        op.matRdds = rdds
        op.matMb = bytes / 1048576.0
      }
      op
    }

    /** Build a query frame in its own span. */
    private def build(op: Op)(f: => DataFrame): DataFrame = {
      val (df, sid) = spanId("build")(injected(op, f))
      op.buildSpan = sid
      df
    }

    // ------------------------------------------------------- commissions

    private def mat(name: String)(df: => DataFrame): DataFrame = span(name)(Mat(df))

    /** The flagship's inputs, as `DomainBench.glInputs` builds them, with
      * each public step's output forced at its boundary so its cost lands
      * in its own span. */
    private def tracedInputs(): Calc.CalcInputs = {
      val certs = mat("domain.synth")(DomainBench.synthCertificates(spark, d))
      val fused = mat("domain.hash")(Proposals.fusedHashes(certs))
      val hh = Proposals.fusedSplitRows(fused)
      val cfg = mat("domain.route")(Proposals.routeGroups(
        Proposals.flagNonConformant(fused.select(col("cert_id"), col("group_id"),
          col("config_hash"), col("total_split_pct"), col("n_splits"))),
        maxUniqueRatio = 1.0, maxEntropy = 99.0, minDominantPct = 0.0))
      val props = mat("domain.proposals")(
        Proposals.normalizeDateRanges(Proposals.buildProposals(cfg, certs)))
      val splits = mat("domain.splits")(Proposals.splitConfigsVersioned(props, cfg, hh))
      val (versions, participants) = span("domain.hierarchy") {
        val (v, p) = Proposals.hierarchyEntitiesVersioned(certs, Mat(_))
        (Mat(v.drop("hierarchy_hash")), Mat(p))
      }
      // the remaining inputs, derived lazily as glInputs derives them
      Calc.CalcInputs(
        Tables.orders(spark, d).select(
          col("o_orderkey").as("premium_id"), col("o_orderkey").as("cert_id"),
          concat(lit("G"), pmod(col("o_orderkey"), lit(3079))).as("group_id"),
          col("o_totalprice").as("amount"),
          date_add(to_date(col("o_orderdate")), 400).as("txn_date")),
        certs.groupBy(col("cert_id"))
          .agg(first(col("group_id")).as("group_id"),
            first(col("product_code")).as("product_code"),
            first(col("plan_code")).as("plan_code"))
          .withColumn("state", lit("TX"))
          .withColumn("group_size", lit(null).cast("int"))
          .withColumn("real_rate", lit(null).cast("double")),
        props.select(col("proposal_id"), col("group_id"),
          col("eff_from").cast("date").as("eff_from"),
          col("eff_to").cast("date").as("eff_to")),
        splits, versions, participants, rates, assignments)
    }

    private lazy val rates: DataFrame = {
      import spark.implicits._
      (0 until 50).map(i => (s"SCHED$i", "*", "*",
        null.asInstanceOf[java.lang.Integer], null.asInstanceOf[java.lang.Integer],
        5.0 + (i % 10) * 0.5))
        .toDF("schedule_code", "product_code", "state", "size_from", "size_to", "rate")
    }
    private lazy val assignments: DataFrame = {
      import spark.implicits._
      Seq.empty[(String, String, Double, java.sql.Date, java.sql.Date)]
        .toDF("broker_id", "recipient_id", "assigned_pct", "eff_from", "eff_to")
    }

    /** `Calc.run` + `Calc.glEntries`; traced, one forced span per stage.
      * Untraced, the calc output stays lazy, as the incremental GL leaves
      * its delta. */
    private def calcGl(in: Calc.CalcInputs, traced: Boolean): DataFrame = {
      if (!traced) return Calc.glEntries(Calc.run(in))
      val e = mat("calc.enrich")(Calc.enrich(in.premiums, in.certificates))
      val p = mat("calc.resolve_proposal")(Calc.resolveProposal(e, in.proposals))
      val s = mat("calc.explode_splits")(Calc.explodeSplits(p, in.splits, tagOrdinal = false))
      val v = mat("calc.resolve_hierarchy")(Calc.resolveHierarchyVersion(s, in.hierarchyVersions))
      val x = mat("calc.explode_participants")(Calc.explodeParticipants(v, in.participants))
      val r = mat("calc.lookup_rate")(Calc.lookupRate(x, in.scheduleRates, rowKey = Seq(
        col("premium_id"), col("proposal_id"), col("split_seq"), col("split_pct"),
        col("hierarchy_id"), col("version_id"), col("__pseq"))).drop("__pseq"))
      val fin = mat("calc.compute")(Calc.applyAssignments(Calc.compute(r), in.assignments))
      mat("calc.gl")(Calc.glEntries(fin))
    }

    /** The reference frames every delta day reads: the flagship's inputs
      * with the frames both the base and the delta consume materialized,
      * as g_incremental_gl does. */
    private def referenceFrames(): Calc.CalcInputs = {
      val in0 = DomainBench.glInputs(spark, d)
      in0.copy(certificates = Mat(in0.certificates), splits = Mat(in0.splits),
        hierarchyVersions = Mat(in0.hierarchyVersions), participants = Mat(in0.participants))
    }

    def commissions(): Any = {
      oracleFor("domain_e2e_gl")
      val perm = new Random(o.seed).shuffle((0 until 7).toList)
      val traced = o.trace
      var pass = 0

      def glFull(tracedRun: Boolean): Op = {
        val op = new Op(if (tracedRun || !traced) "gl_full" else "gl_full_untraced",
          "domain_e2e_gl", pass)
        op.expect = "domain_e2e_gl"
        execute(op) { op =>
          if (tracedRun) glProjection(build(op)(calcGl(tracedInputs(), traced = true)))
          else build(op)(SparkEntry.queries("domain_e2e_gl")(spark, d))
        }
      }

      /** Seven delta days into an empty ledger, then the week's check: the
        * maintained ledger equals the full GL. */
      def deltaWeek(ref: Calc.CalcInputs, refPinned: Set[Int]): Unit = {
        val glSchema = Calc.glEntries(Calc.run(ref)).schema
        var ledger: DataFrame = spark.createDataFrame(sc.emptyRDD[Row], glSchema)
        var failed = false
        for (day <- perm) {
          val op = new Op("gl_delta", "g_incremental_gl", pass)
          op.group = pass
          if (!failed) execute(op) { op =>
            val din = ref.copy(premiums =
              ref.premiums.filter(pmod(col("premium_id"), lit(7)) === day))
            val dgl = build(op)(calcGl(din, traced))
            val fresh = Export.upsertCandidates(dgl, ledger,
              Seq("premium_id", "broker_id", "entry_type"))
            ledger = mat("export.upsert")(ledger.unionByName(fresh))
            pinned = refPinned ++ matIds(ledger)
            null
          } else { ops += op; op.error = "skipped: an earlier day of this week failed" }
          failed = failed || op.error != null
        }
        val check = new Op("gl_week_check", "domain_e2e_gl", pass)
        check.group = pass
        check.expect = "domain_e2e_gl"
        if (!failed) execute(check)(_ => glProjection(ledger))
        else { ops += check; check.error = "skipped: a day of this week failed" }
        pinned = refPinned
      }

      // the cold full GL comes first: what a nightly batch process pays
      glFull(tracedRun = traced)
      // set-up: the reference frames every delta day reads; only their
      // blocks stay pinned, none the cold run left behind
      clearBlocks()
      val t0 = System.nanoTime()
      val ref = referenceFrames()
      setupSamples += (System.nanoTime() - t0) / 1e9
      val refPinned = ref.productIterator.collect { case df: DataFrame => matIds(df) }
        .flatten.toSet
      pinned = refPinned
      startMeasure()
      var lastUnit = 0.0
      while (pass == 0 || elapsed + lastUnit <= o.seconds) {
        pass += 1
        val u0 = elapsed
        deltaWeek(ref, refPinned)
        // traced: a plain and a traced run, for the tracing overhead;
        // plain: three, whose median is steadier than one sample
        if (traced) { glFull(tracedRun = false); glFull(tracedRun = true) }
        else for (_ <- 1 to 3) glFull(tracedRun = false)
        lastUnit = elapsed - u0
      }
      endMeasure()
      Map("delta_permutation" -> perm)
    }

    private def queryOp(query: String, pass: Int): Op = {
      val op = new Op(query, query, pass, QueryMix.Operators.getOrElse(query, null))
      op.expect = oracleFor(query)
      val fn = SparkEntry.queries(query)
      execute(op)(op => build(op)(fn(spark, d)))
    }

    // ---------------------------------------------------------- query_mix

    def queryMix(): Any = {
      val t0 = System.nanoTime()
      Tables.lineitem(spark, d).selectExpr("count(*)").collect()
      setupSamples += (System.nanoTime() - t0) / 1e9
      // one pass, every query cold, as a pipeline process runs each step
      // once. The order is pinned: the first queries of a process pay the
      // JIT and codegen warm-up, so a per-seed order moved per-query
      // latencies by 2-8x between runs of the same code.
      startMeasure()
      QueryMix.Order.foreach(q => queryOp(q, 0))
      endMeasure()
      Map("order" -> QueryMix.Order)
    }
  }
}

/** The query mix, pinned so every run and every seed times the same
  * queries in the same order:
  *  - a family-stratified sample of the engine's sub-second queries (cold
  *    time under 1 s at sf0.001 on 4 cores; 214 of them): each family
  *    prefix contributes in proportion to its share, drawn once;
  *  - one heavy operator per operator module, the calls that run
  *    `operators/` (and the `sql/` kernels, `Mat.keyed`, `PlanBridge`)
  *    end to end.
  * The flagship queries (domain_e2e_gl, g_incremental_gl) belong to the
  * `commissions` workload. */
object QueryMix {
  val First = "a12_rollup"
  val Light: Seq[String] = Seq(
    "a12_rollup", "a34_markov_transitions", "d_lsh_tuning", "f_hash",
    "g_build_proposals", "g_profile", "j8_semi_join", "m_resize_stub",
    "s8b_export_targets", "v_maxsim", "x_posting_lists", "x_url_canon")
  /** Heavy operators, one per operator module, tagged with that module. */
  val Operators: Map[String, String] = Map(
    "d_components" -> "components", "d_minhash_lsh" -> "dedup",
    "v_knn_graph" -> "similarity", "x_bpe_merges" -> "tokenize")
  val Order: Seq[String] =
    First +: new Random(0).shuffle((Light ++ Operators.keys.toSeq.sorted).filterNot(_ == First))
}

/** Fixed-work host probes, run before and after the measured phase: a
  * single-thread integer loop and the same loop on every core at once. A
  * slow single-thread probe flags a throttled core; a slow all-core probe
  * with a quiet single-thread one flags a whole-VM cap. */
object Probes {
  private def loop(): Long = {
    var h = 0x9E3779B97F4A7C15L; var i = 0
    while (i < 20000000) {
      h = h * 6364136223846793005L + 1442695040888963407L
      h ^= (h >>> 33); i += 1
    }
    h
  }

  def run(): Map[String, Double] = {
    var sink = 0L
    val t0 = System.nanoTime()
    sink ^= loop()
    val single = (System.nanoTime() - t0) / 1e6
    val n = Runtime.getRuntime.availableProcessors()
    val out = new Array[Long](n)
    val threads = (0 until n).map(i => new Thread(() => out(i) = loop()))
    val t1 = System.nanoTime()
    threads.foreach(_.start()); threads.foreach(_.join())
    val all = (System.nanoTime() - t1) / 1e6
    sink ^= out.foldLeft(0L)(_ ^ _)
    if (sink == 42L) System.err.println("probe sentinel")
    Map("single_thread_ms" -> single, "all_core_ms" -> all)
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** Minimal JSON writer for the artifact. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => apply(xs.toSeq)
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
