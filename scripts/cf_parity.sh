#!/bin/bash
# Oracle parity for every GraphCF caller: each declared query whose plan
# calls GraphCF (edges / edgesWeighted / edgesFromStore feeding
# itemKnnRecsFromEdges, p3alphaRecsFromEdges, userKnnRecsFromEdges or
# similarItems; popularityRecs, coCounts, userCoCounts, foldCoDelta,
# foldUserCoDelta, rrfFuse, markovRecs*, liftRules*) is dumped by
# graft.Verify and hash-compared against its DuckDB oracle.
# Usage: scripts/cf_parity.sh SF_DIR OUT_DIR   (compile first: sbt compile)
#
# The list is the set of queries in PipelineQueries.scala whose body (not
# scaladoc) names `GraphCF.`, directly or through a helper that does
# (custSuppEdgeStore, transitionStore); re-derive it when a query starts
# or stops calling GraphCF.
set -euo pipefail
cd "$(dirname "$0")/.."
if [ $# -ne 2 ]; then
  echo "usage: $0 SF_DIR OUT_DIR" >&2
  exit 2
fi
QUERIES=(
  q160_p3alpha_recs q162_rec_eval q163_itemknn_recs q168_rec_eval_compare
  q169_bigcat_knn q170_precision_grid q171_rec_coverage
  q172_incremental_co q173_store_recs q175_store_p3alpha q177_rank_metrics
  q178_rec_concentration q179_pop_baseline q180_pop_stratified_recall
  q184_userknn_recs q186_rrf_hybrid q187_loo_eval q188_rec_popularity_bias
  q189_markov_next_basket q190_markov_from_store q191_markov_loo_eval
  q192_decayed_knn q193_rec_calibration q194_model_overlap q195_serendipity
  q196_related_items q197_user_stratified_recall q199_incremental_userco
  q200_assoc_rules q201_assoc_from_store
)
ONLY=$(IFS=,; echo "${QUERIES[*]}")
SPARK_GRAFT_ONLY="$ONLY" scripts/run_main.sh graft.Verify "$1" "$2"
python3 scripts/parity.py "$1" "$2"
