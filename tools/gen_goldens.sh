#!/bin/sh
# Regenerate the golden parquets for the approximate-by-design queries
# (GoldenOracles.names) at sf0.01, then refresh the committed MANIFEST of
# their sha256 hashes. RegistryInvariantsSpec fails `sbt test` whenever a
# golden file drifts from the MANIFEST — so any operator change that
# shifts a golden REQUIRES re-running this script (and eyeballing the
# diff for intent) before tests go green again. Commit file + manifest
# together ONLY after checking the diff is an intentional behavior change.
cd "$(dirname "$0")/.." || exit 1
# optional $2: comma-list of golden names to regenerate selectively
# (adding ONE golden must not re-snapshot every existing one)
sbt -batch "runMain graft.GenGoldens ${1:-/root/testdata/sf0.01} ${2:-}" || exit 1
cd src/test/resources/golden/sf0.01 || exit 1
sha256sum *.parquet > MANIFEST
echo "refreshed $(wc -l < MANIFEST) manifest entries"
