#!/bin/bash
# Per-decade scaling harness (judge item: make scaling regressions
# diffable round-over-round). Times a PINNED set of heavy queries with
# graft.Bench at 1x (sf0.1), 10x and 100x ScaleGen replicas, then
# assembles SCALING.md + SCALING_r{N}.json via tools/scaling_report.py.
#
# Usage: tools/run_scaling.sh <round> [scale10Dir] [scale100Dir]
#
# The query set is pinned HERE so every round measures the same list —
# edit deliberately, never per-run. One sample per query per decade
# (SPARK_GRAFT_REPEAT=1): a 100x flagship run is minutes long; decade
# RATIOS are the signal and survive this VM's noise windows, absolute
# seconds at 1x remain the bench artifact's job.
set -e
ROOT=$(cd "$(dirname "$0")/.." && pwd)
RND=${1:?round number required}
S10=${2:-/tmp/graft_scale10}
S100=${3:-/tmp/graft_scale100}

# r11 deliberate addition: x_unigram_em (the unigram-LM EM trainer is a
# new heavy composite; additive row, prior rows unchanged)
# r12 deliberate additions: g_entity_resolution (PassJoin segment
# blocking replaced length buckets — decade ratios prove the posture)
# and x_textrank_keywords (new iterative graph composite)
# r13 deliberate additions: v_nn_descent + v_nnd_search (the linear-build
# kNN-graph path — the decade ratio IS its done-criterion) alongside
# v_graph_search (the N*sqrt(N) build it replaces, kept for contrast)
# and d_link_predict (r12 flagged its 4.2x last-decade ratio for a
# 100x profile)
SCALING_QUERIES="domain_e2e_gl,g_incremental_gl,docs_e2e_curation,events_e2e_engagement,\
d_components,d_cluster_canonical,d_dedup_report,d_source_overlap,d_curation_log,\
d_ngram_jaccard,d_prefix_jaccard,d_containment,d_simhash_pairs,d_triangles,d_pagerank,\
v_ivf_pq,v_pq_adc,v_power_iteration,x_dedup_eval,x_bpe_encode,x_bpe_deep,x_winnow,\
a22_join_size_est,a24_woe_binning,a30_mad_outliers,x_unigram_em,\
g_entity_resolution,x_textrank_keywords,\
v_nn_descent,v_nnd_search,v_graph_search,d_link_predict"

ADD_OPENS=""
for p in java.lang java.lang.invoke java.lang.reflect java.io java.net java.nio \
         java.util java.util.concurrent java.util.concurrent.atomic; do
  ADD_OPENS="$ADD_OPENS --add-opens java.base/$p=ALL-UNNAMED"
done
ADD_OPENS="$ADD_OPENS --add-opens java.base/sun.nio.ch=ALL-UNNAMED \
 --add-opens java.base/sun.nio.cs=ALL-UNNAMED \
 --add-opens java.base/sun.security.action=ALL-UNNAMED \
 --add-opens java.base/sun.util.calendar=ALL-UNNAMED"

run_one() {
  local sfdir=$1 outfile=$2
  SPARK_GRAFT_SF_DIR="$sfdir" SPARK_GRAFT_CPUS=32 SPARK_GRAFT_REPEAT=1 \
  SPARK_GRAFT_ONLY="$SCALING_QUERIES" \
  java $ADD_OPENS -Xmx48g -Dspark.ui.enabled=false \
    -Dspark.sql.session.timeZone=UTC \
    -cp "${GRAFT_CLASSES:-$ROOT/target/scala-2.13/classes}:/opt/spark/jars/*" \
    graft.Bench | tee "$outfile.raw" | grep -v '^#bench' | tail -1 > "$outfile"
}

cd "$ROOT"
run_one /root/testdata/sf0.1 /tmp/scaling_1x.json
run_one "$S10"  /tmp/scaling_10x.json
run_one "$S100" /tmp/scaling_100x.json
python3 tools/scaling_report.py "$RND" \
  /tmp/scaling_1x.json /tmp/scaling_10x.json /tmp/scaling_100x.json
