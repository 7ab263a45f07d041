#!/usr/bin/env bash
# The full correctness-gate matrix: every SparkEntry query hash-compared
# against its DuckDB oracle on FIVE corpora — the driver's real testdata
# plus the four adversarial derivations (see FIXTURES.md §C): fuzz
# (degenerate-but-in-contract rows), empty (0-row tables), tiny (1-row
# tables), and mono (every document/embedding identical — the whole
# corpus one duplicate cluster, the dedup family's worst case). A clean
# run prints five "== 162 pass, 0 fail" lines; any FAIL line is a real
# cross-engine divergence or crash.
#
# Usage: tools/run_gates.sh [sfDir]     (default /root/testdata/sf0.01;
#        pass /root/testdata/sf0.1 for the bench-scale pass)
set -u
SF="${1:-/root/testdata/sf0.01}"
SRC_SMALL=/root/testdata/sf0.001
fail=0

gate() { # name corpusDir
  local out="/tmp/gate_$1"
  rm -rf "$out"
  sbt -batch "runMain graft.Verify $2 $out" >/dev/null 2>&1
  # ONE compare per gate (it can be minutes at sf0.1): capture, then
  # both report and test the same run
  local res
  res=$(python3 "$(dirname "$0")/check_oracle.py" "$2" "$out" | tail -1)
  echo "[$1] $res"
  echo "$res" | grep -q ", 0 fail$" || fail=1
  rm -rf "$out"
}

python3 "$(dirname "$0")/gen_fuzz.py" "$SRC_SMALL" /tmp/graft_fuzz >/dev/null
python3 "$(dirname "$0")/gen_fuzz.py" --empty >/dev/null
python3 "$(dirname "$0")/gen_fuzz.py" --tiny >/dev/null
python3 "$(dirname "$0")/gen_fuzz.py" --mono >/dev/null

gate real "$SF"
gate fuzz /tmp/graft_fuzz
gate empty /tmp/graft_empty
gate tiny /tmp/graft_tiny
gate dup /tmp/graft_mono

exit $fail
