#!/bin/bash
# Oracle parity for the CF co-count subset: every declared query whose plan
# reaches GraphCF's co-walk (coPairs / coUserPairs / halfMirrorCols, through
# itemKnnRecs*, userKnnRecs*, similarItems*, coCounts, userCoCounts,
# foldCoDelta, foldUserCoDelta, liftRules or writeRuleStatsBatch) is dumped
# by graft.Verify and hash-compared against its DuckDB oracle.
# Usage: scripts/cf_parity.sh SF_DIR OUT_DIR   (compile first: sbt compile)
#
# The list comes from the call sites in PipelineQueries.scala; re-derive it
# when a query starts or stops calling one of the entry points above.
set -euo pipefail
cd "$(dirname "$0")/.."
if [ $# -ne 2 ]; then
  echo "usage: $0 SF_DIR OUT_DIR" >&2
  exit 2
fi
QUERIES=(
  q162_rec_eval q163_itemknn_recs q168_rec_eval_compare q169_bigcat_knn
  q171_rec_coverage q172_incremental_co q173_store_recs
  q178_rec_concentration q184_userknn_recs q185_ann_recall q186_rrf_hybrid
  q187_loo_eval q188_rec_popularity_bias q192_decayed_knn
  q193_rec_calibration q194_model_overlap q195_serendipity
  q196_related_items q199_incremental_userco q200_assoc_rules
  q201_assoc_from_store
)
ONLY=$(IFS=,; echo "${QUERIES[*]}")
SPARK_GRAFT_ONLY="$ONLY" scripts/run_main.sh graft.Verify "$1" "$2"
python3 scripts/parity.py "$1" "$2"
