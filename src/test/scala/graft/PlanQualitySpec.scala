package graft

/** Plan-quality regression guards: the physical plans the scale design
  * depends on (broadcasts, pushdown, no accidental nested loops) —
  * asserted, not just eyeballed in `tools.ExplainDump` output. */
class PlanQualitySpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf001).queryExecution.executedPlan.toString

  test("broadcast dims: j2 plans broadcast hash joins") {
    val p = plan("j2_broadcast_dim")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("large-large join j1 is hash/SMJ, never nested loop") {
    val p = plan("j1_join_large")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("as-of join j3 keeps the equi key (hash/SMJ + residual range)") {
    val p = plan("j3_asof_range_join")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("filter pushdown reaches the parquet scan in p5") {
    val p = plan("p5_exclusion_filter")
    assert(p.contains("PushedFilters: [IsNotNull(p_size), GreaterThanOrEqual(p_size,49)") ||
      p.contains("GreaterThanOrEqual(p_size,49)"), p)
  }

  test("pure projection s4 has no exchanges") {
    val p = plan("s4_typed_cast")
    assert(!p.contains("Exchange"), p)
  }

  test("column pruning: s4 scan reads only the projected columns") {
    val p = plan("s4_typed_cast")
    // lineitem has 11 columns; the query touches 5
    assert(!p.contains("l_suppkey") && !p.contains("l_shipdate"), p)
  }

  test("near-dup plans never do corpus-scale nested loops") {
    val pJ = plan("d_ngram_jaccard")
    assert(!pJ.contains("CartesianProduct") && !pJ.contains("BroadcastNestedLoopJoin"), pJ)
    val pE = plan("d_embedding_neardup")
    // the only nested loop allowed is the bounded centroid cross (nlist
    // rows); the pair join itself must be an equi join on the cell id
    assert(pE.contains("SortMergeJoin") || pE.contains("HashJoin"), pE)
    assert(!pE.contains("CartesianProduct"), pE)
  }

  test("policy resolution carries no forced broadcast on the mappings side") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // key mappings are data-dependent cardinality: a user-forced broadcast
    // hint (ResolvedHint in the analyzed plan) would override the size
    // threshold at any scale — AQE must decide instead
    val pol = Seq((1L, "G1", "A", "x", "2020-06-15"))
      .toDF("policy_id", "group_id", "product_code", "plan_code", "eff_s")
      .withColumn("eff_date", to_date(col("eff_s"))).drop("eff_s")
    val km = Seq(("P1", "G1", 2020, "A", "x"))
      .toDF("proposal_id", "group_id", "yr", "product_code", "plan_code")
    val analyzed = graft.domain.Policies.resolveProposals(pol, km)
      .queryExecution.analyzed.toString
    assert(!analyzed.contains("ResolvedHint"), analyzed)
  }

  test("stratified sample joins the config frame broadcast, never SMJ") {
    val p = plan("d_stratified_sample")
    // the rates frame is configuration-sized: the fact side must not
    // shuffle for the join (broadcast hash), and sampling itself is a
    // filter — no extra exchange beyond the join's broadcast
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bloom semi join: prefilter sits under an equi semi join") {
    val p = plan("j14_bloom_semi")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    // the bloom prefilter is the native BloomFilterMightContain expression
    // inside codegen — not a per-row Scala/Python UDF stage
    assert(p.contains("might_contain"), p.take(2000))
    assert(!p.contains("BatchEvalPython") && !p.contains("UDF("), p.take(2000))
  }

  test("readiness/chain reports: only the 1-row PHA-size scalar join nests") {
    val p = plan("g_readiness_report")
    // the expected-vs-actual size reconciliation is a 1-row x 1-row
    // scalar cross join (same class as x_tfidf's doc-count broadcast);
    // anything more means a check degenerated to a nested loop
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
    val c = plan("g_chain_health")
    assert(!c.contains("BroadcastNestedLoopJoin") && !c.contains("CartesianProduct"),
      c.take(3000))
  }

  test("tf-idf: the only nested loop is the 1-row scalar broadcast of N") {
    val p = plan("x_tfidf")
    // one BNLJ (the document-count scalar) is the expected shape; a
    // second would mean a term/doc join degenerated to a nested loop
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("corpus filter joins stay equi (broadcast/SMJ), never nested loop") {
    val p = plan("x_corpus_filter")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("winnowing is row-local: no WindowExec, no per-position shuffle") {
    val p = plan("x_winnow")
    assert(!p.contains("Window"), p)
    // the only aggregation is the final fingerprint dedupe
    assert(!p.contains("Exchange hashpartitioning(pos"), p)
  }

  test("k-means: centroids broadcast every iteration, corpus never nested-loops itself") {
    val p = plan("v_kmeans")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the corpus side appears once per assignment pass against a
    // broadcast; a corpus x corpus SMJ would indicate an all-pairs bug
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("posting lists build is explode + two hash aggregates with partials") {
    val p = plan("x_posting_lists")
    assert(p.contains("Generate explode"), p)
    assert("ObjectHashAggregate|HashAggregate".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("NestedLoop"), p)
  }

  test("temperature mix: fact side is a filter; rates join is broadcast") {
    val p = plan("d_temperature_mix")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p) // the corpus side must not shuffle
  }

  test("prefix-filtered similarity join: every join is equi, never all-pairs") {
    val p = plan("d_prefix_jaccard")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("DSIR: ratio table broadcasts back; scoring side never nested-loops") {
    val p = plan("d_dsir_resample")
    // the 1-row totals cross joins are bounded broadcasts; the per-bucket
    // ratio join must be a broadcast hash join, the top-k a TakeOrdered
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("minhash banding joins MATERIALIZED signatures; pair dedup is a hash aggregate") {
    val p = plan("d_minhash_lsh")
    // r14: the signature build runs ONCE into a materialized frame (the
    // kernel itself is covered by MinHashSigSpec), so the banding
    // self-join must read LogicalRDD leaves — a parquet scan here means
    // a side re-derived the whole signature lineage (the pre-r14 shape
    // ran the kernel 4x per doc: pushed-down empties filter x join sides)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Scan parquet"), p)
    // the pair dedup groups on (id_a, id_b, est): plain hash aggregate
    // with map-side partials — never the SortAggregate that first(array)
    // forced before r14
    assert(!p.contains("SortAggregate"), p)
  }

  test("simhash fingerprints are projection-only (native kernel in the plan)") {
    val p = plan("d_simhash")
    assert(p.contains("simhash_sig"), p)
    // whole query: scan -> (optional round-robin input respread; the r13
    // Tables.fanOut for under-split local scans) -> project. The real
    // contract: the ONLY exchange kind allowed is fanOut's round-robin —
    // nothing groups, joins, sorts or range-partitions by any key.
    // (CamelCase in SparkPlan.toString, lowercase in formatted explain)
    val residual = "Exchange (?i)roundrobinpartitioning".r.replaceAllIn(p, "")
    assert(!residual.contains("Exchange"), p)
  }

  test("triangle counting: orientation + wedge + closing joins are all equi") {
    val p = plan("d_triangles")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("record linkage blocks on the key: equi join only, no all-pairs") {
    val p = plan("j15_record_linkage")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("chunk dedup: hash aggregates + equi join-back, no windows or sorts-for-windows") {
    val p = plan("x_chunk_dedup")
    assert(!p.contains("Window"), p)   // first-occurrence is min(struct), not row_number
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("semdedup: pairwise work stays inside cluster cells (equi self-join)") {
    val p = plan("d_semdedup")
    // the only nested-loop is the k-row centroid broadcast of kMeansAssign
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("join-size estimate never joins the base tables: grid-cell join only") {
    val est = graft.operators.Sketches.joinSizeEstimate(
      graft.Tables.lineitem(spark, sf001), org.apache.spark.sql.functions.col("l_orderkey"),
      graft.Tables.orders(spark, sf001), org.apache.spark.sql.functions.col("o_orderkey"),
      depth = 4, width = 1024)
    val p = est.queryExecution.executedPlan.toString
    // both sides aggregate down to <= depth*width cells BEFORE the join
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("url canonicalization is a pure projection into one hash aggregate") {
    val p = plan("x_url_canon")
    assert(!p.contains("Window") && !p.contains("CartesianProduct"), p)
  }

  test("PQ ADC: codebooks broadcast, top-k is TakeOrdered (no global sort)") {
    val p = plan("v_pq_adc")
    assert(p.contains("BroadcastHashJoin"), p)   // codes join the m x ksub table
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("incremental dedup: all joins equi/semi, hot list broadcast anti") {
    val p = plan("d_incremental_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("bucketed join + same-key agg plans with ZERO shuffle exchanges") {
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan("s10_bucket_join")
      assert(!p.contains("Exchange hashpartitioning"), p)
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"), p)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS s10_li")
      spark.sql("DROP TABLE IF EXISTS s10_ord")
    }
  }

  test("gen-source query pushes the id range into the DSv2 scan") {
    val p = plan("s11_gen_source")
    assert(p.contains("range=[1000,9000)"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("IVF-PQ: ADC tables broadcast, top-k is TakeOrdered, no global sort") {
    val p = plan("v_ivf_pq")
    assert(p.contains("BroadcastHashJoin"), p)     // codes join the ADC table
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("cluster canonicalization: every join is equi, no all-pairs scan") {
    val p = plan("d_cluster_canonical")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("CDC apply: window runs over the log only; base joined once, anti") {
    val p = plan("s13_cdc_apply")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // exactly one Window node (latest-per-key over the changelog, not the
    // base). Plan lines carry tree-art prefixes (`+- Window`, `:- Window`),
    // so match the node name itself, anchored to the start of a node label
    // (a space before it) to avoid matching window FUNCTION names inside
    // expression lists.
    val windowNodes = p.linesIterator.count(l => """(^|[-+: ])Window \[""".r.findFirstIn(l).isDefined)
    assert(windowNodes == 1, s"expected 1 Window node, found $windowNodes:\n$p")
  }

  test("equi-depth binning (a17/a24): no single-partition global sort") {
    // the distributed-rank rewrite must never reintroduce ntile over a
    // global Window.orderBy — the plan funnel that dies at 100x scale.
    // (An `Exchange SinglePartition` may legitimately remain: the scalar
    // totals aggregate exchanges one partial row per partition.)
    for (q <- Seq("a17_equidepth", "a24_woe_binning", "x_vocab_coverage",
        "a27_psi_drift", "a28_ks_drift", "a30_mad_outliers", "x_zipf_slope",
        "a31_attribution", "a32_cumulative_reach", "a37_conversion_lag")) {
      val p = plan(q)
      assert(!p.contains("ntile"), s"$q:\n$p")
      val wlines = p.linesIterator
        .filter(l => """(^|[-+: ])Window \[""".r.findFirstIn(l).isDefined).toList
      // a Window line prints `Window [funcs], [partSpec], [orderSpec]`;
      // a GLOBAL window has no partition group — exactly the funnel
      wlines.foreach { l =>
        assert("""\], \[""".r.findAllIn(l).length >= 2,
          s"$q has a global (unpartitioned) Window:\n$l")
      }
    }
  }

  test("budget waterfill: the token stream is touched only by the supply aggregate") {
    // the 3 waterfill rounds operate on the domain-sized frame; the only
    // join shape allowed against it is the one-row totals cross join —
    // never a join keyed on the corpus
    val p = plan("d_budget_waterfill")
    assert(!p.contains("SortMergeJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("dedup retention report: every join equi, no all-pairs scan") {
    val p = plan("d_dedup_report")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("mutual kNN graph: candidates blocked by cell; only the centroid cross nests") {
    val p = plan("v_knn_graph")
    // the bounded nlist-row centroid broadcast is the one allowed nested
    // loop; the pair join and the mutuality join must be equi joins
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p)
  }

  test("segment dedup: equi joins only; hot-set filtered before join-back") {
    val p = plan("d_segment_dedup")
    // frequency table and join-back are hash ops on the segment hash —
    // any nested loop would mean the hot set stopped being a key join
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    // reassembly is in-row array_sort, never a per-doc sort/window
    assert(!p.contains("WindowExec") && !p.contains("Window "), p)
  }

  test("curation funnel: stage flags travel as equi joins, no all-pairs") {
    val p = plan("docs_e2e_curation")
    // LSH pair generation and every flag join-back must stay hash/equi;
    // a nested loop would mean a stage flag lost its doc_id key
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("classifier inference and chunking are shuffle-free scan projections") {
    // both are per-row operators: any Exchange would mean an accidental
    // aggregation/join crept into what must stay a map-only stage
    val pc = plan("x_quality_classifier")
    assert(!pc.contains("Exchange"), pc)
    val pw = plan("x_chunk_windows")
    assert(!pw.contains("Exchange"), pw)
    assert(pw.contains("Generate"), pw) // the posexplode, not a join fan-out
  }

  test("partitioned scan prunes at planning time (PartitionFilters)") {
    val p = plan("s16_partitioned_scan")
    // the source filter must land in PartitionFilters (directory-level
    // pruning), NOT as a post-scan data filter over all partitions
    assert(p.contains("PartitionFilters: [") &&
      p.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1")
        .contains("source"), p)
  }

  test("source overlap pairs join on the shingle, never sources x content") {
    val p = plan("d_source_overlap")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("line corrections is a pure scan projection; indoc dedup has no window") {
    // lineCorrections is all in-row HOFs: no explode, no shuffle at all
    val pl = plan("x_line_fix")
    assert(!pl.contains("Exchange"), pl)
    assert(!pl.contains("Generate"), pl)
    // indocDedup's first-occurrence must be the (doc_id, seg)-keyed hash
    // aggregate — a WindowExec here would mean a per-doc sort crept in
    val pd = plan("d_indoc_dedup")
    assert(pd.contains("HashAggregate"), pd)
    assert(!pd.contains("WindowExec") && !pd.contains("Window "), pd)
  }

  test("gopher rule battery is a shuffle-free scan projection") {
    // every gate is a row-local HOF fold / regex count — an Exchange
    // would mean an aggregation crept into what must stay map-only
    val p = plan("x_gopher_rules")
    assert(!p.contains("Exchange"), p)
  }

  test("pii redaction is a shuffle-free scan projection") {
    // sequential regex counts + the Luhn HOF fold are all row-local;
    // an Exchange or Generate would mean a join/explode crept in
    val p = plan("x_pii_redact")
    assert(!p.contains("Exchange"), p)
    assert(!p.contains("Generate"), p)
  }

  test("k-core peeling joins on node id, never all-pairs") {
    // every peel round must stay an equi (semi) join + hash aggregate; a
    // cartesian product would mean the survivor filter degenerated. (One
    // BroadcastNestedLoopJoin legitimately remains: the 1-row converged
    // flag crossJoin.)
    val p = plan("d_kcore")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("fuzzy lookup joins on the length bucket, never all-pairs") {
    // the candidate join must be an equi (broadcast hash) join on the
    // exploded length bucket; a nested loop would mean the band predicate
    // became the join condition and fan-out went vocab x corpus
    val p = plan("j16_fuzzy_join")
    assert(p.contains("BroadcastHashJoin") || p.contains("HashJoin"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("label propagation / BFS rounds join on node id, never all-pairs") {
    // every round is one equi join + one hash aggregate; a cartesian
    // product would mean a label/distance frame lost its join key.
    // (BFS rounds run eagerly behind Mat, so only the final projection
    // is visible in its executedPlan — the no-cartesian assert still
    // covers the whole visible plan; LPA's final sizes join is lazy.)
    Seq("d_lpa_communities", "d_bfs_levels").foreach { q =>
      val p = plan(q)
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
    assert(plan("d_lpa_communities").contains("HashAggregate"))
  }

  test("link prediction wedges are equi joins; candidates leave via anti join") {
    val p = plan("d_link_predict")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("LeftAnti"), p) // known edges must be anti-joined out
  }

  test("readability and PMI scoring stay off corpus-scale nested loops") {
    // readability is a pure row-local projection; PMI's joins are all
    // vocabulary-keyed equi joins (the 1-row totals crossJoin broadcast
    // is the only legitimate nesting)
    val pr = plan("x_readability")
    assert(!pr.contains("Exchange") && !pr.contains("Generate"), pr)
    val pp = plan("x_pmi_collocations")
    assert(!pp.contains("CartesianProduct"), pp)
  }

  test("binary-Hamming ANN broadcasts the query side; packing is scan-local") {
    // the corpus side must stream through ONE projection (the packing
    // HOF) into a broadcast join against the 20-query side — a shuffle
    // of the packed corpus or a cartesian product would break the
    // 100 TB posture
    val p = plan("v_binary_hamming")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }
}
