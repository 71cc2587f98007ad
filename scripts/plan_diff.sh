#!/bin/bash
# Diff two graft.tools.PlanDump output directories (parent vs change) under
# the masks that remove run-to-run noise: expression ids (#N), plan_id=N,
# JVM lambda class names, object hash codes (@1a2b3c) and the per-run
# warehouse path (<checkout>/spark-warehouse/run-<pid>-<nanos>, so the two
# dumps may come from different checkouts). Prints each query whose masked plan
# still differs, or that only one side dumped, then a count; exits 1 if any.
#
# Queries whose construction materializes a cached subplan (q178, q186,
# q188, q189 at sf0.01) embed that subplan's final AQE plan, which also
# differs between two runs of one commit. They are NOT masked and are
# reported like any other: diff two runs of the parent to tell them apart.
# Usage: scripts/plan_diff.sh PARENT_DIR CHANGE_DIR
set -euo pipefail
if [ $# -ne 2 ]; then
  echo "usage: $0 PARENT_DIR CHANGE_DIR" >&2
  exit 2
fi
mask() {
  sed -E -e 's/#[0-9]+/#N/g' -e 's/plan_id=[0-9]+/plan_id=N/g' \
    -e 's/\$\$Lambda[$0-9]*\/0x[0-9a-f]+/$$Lambda/g' \
    -e 's/@[0-9a-f]+/@H/g' \
    -e 's#[^ \[]*/spark-warehouse/run-[0-9]+-[0-9]+#WAREHOUSE#g' "$1"
}
# PlanDump names each file <query>_<suffix>.txt: key both sides by query
key() { local b; b=$(basename "$1" .txt); echo "${b%_*}"; }
declare -A PARENT CHANGE
for f in "$1"/*.txt; do PARENT[$(key "$f")]=$f; done
for f in "$2"/*.txt; do CHANGE[$(key "$f")]=$f; done
n=0
for q in $(printf '%s\n' "${!PARENT[@]}" "${!CHANGE[@]}" | sort -u); do
  if [ -z "${PARENT[$q]:-}" ] || [ -z "${CHANGE[$q]:-}" ]; then
    echo "$q (one side only)"
    n=$((n + 1))
  elif ! cmp -s <(mask "${PARENT[$q]}") <(mask "${CHANGE[$q]}"); then
    echo "$q"
    n=$((n + 1))
  fi
done
echo "$n differ"
[ "$n" -eq 0 ]
