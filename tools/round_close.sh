#!/bin/bash
# Round-close checklist: the working tree must be CLEAN after the final
# commit. Round artifacts (LEAKCHECK.json, bench_detail_c<cpus>.json, BENCH_r*.json,
# CORRECTNESS_r*.json) drifted or sat untracked at the r11 AND r12 closes —
# this gate turns that recurring hygiene note into a hard failure.
#
# Usage: tools/round_close.sh        # run as the LAST step of a round
# Exit 0 = clean tree; exit 1 = drifted/untracked paths listed below.
cd /root/repo
# PROGRESS.jsonl is the driver's heartbeat log — it re-dirties every few
# minutes by design and the driver commits it itself at round close
dirty=$(git status --porcelain | grep -v ' PROGRESS\.jsonl$')
if [ -n "$dirty" ]; then
  echo "ROUND CLOSE BLOCKED — working tree is dirty:"
  echo "$dirty"
  echo
  echo "Commit (or intentionally .gitignore) every path above, then re-run."
  exit 1
fi
echo "ROUND CLOSE OK — tree clean at $(git rev-parse --short HEAD)"
