#!/bin/sh
# One-command round-artifact refresh (r4 verdict optional ask #6):
# regenerates the golden digests and the plan-shape table in one sbt
# call. GoldenSpec and PlanGuardSpec fail until a semantic or plan change
# is regenerated here; review the git diff afterwards — an unexpected
# golden/plan delta is the point of running this.
#
#   sh tools/refresh.sh
#
# BASELINE.md bench rows stay manual (a bench run needs an uncontended
# host and median discipline — see CLAUDE.md "medians, always").
set -e
cd "$(dirname "$0")/.."
sbt -batch 'runMain graft.tools.Golden' 'runMain graft.tools.PlanAudit'
echo "[refresh] done — review: git diff src/test/resources/golden/digests.txt src/test/resources/plan_audit.tsv"
