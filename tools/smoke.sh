#!/bin/sh
# Round-gate skew smoke: the capped near-dup/ANN operators under an
# injected hot key (2x-of-linear budget), connected components with
# reliable checkpoints at 10x (log-bounded rounds) plus a deep-chain
# adversary, and the persisted-index per-batch flatness gate. Env-gated
# out of plain `sbt test` because it is timing-based — THIS script is how
# it runs every round. Writes the informative log tail to
# SMOKE_r${ROUND:-X}.log so the round artifacts carry the evidence that
# the gate ran and passed.
cd "$(dirname "$0")/.." || exit 1
out="SMOKE_r${ROUND:-X}.log"
# capture sbt's own exit status BEFORE any pipeline: a `sbt | grep | tee`
# chain reports the LAST command's status, which silently turned a failing
# gate into exit 0 (round-5 advisor finding)
SPARK_GRAFT_SMOKE=1 sbt -batch "testOnly graft.ScaleSmokeSpec" > "$out.tmp" 2>&1
status=$?
# keep only the informative tail (suite output, not the sbt/spark preamble)
grep -E "^\[info\]" "$out.tmp" | tail -110 > "$out"
rm -f "$out.tmp"
echo "smoke exit status: $status (log: $out)"
exit $status
