#!/usr/bin/env python3
"""Compare the exact per-layer ledger fields of two traced perfbench runs.

Each input is the saved stdout of `perfbench/run.py --trace 1` (the result
JSON is its last non-empty line). The exact fields are the ones
perfbench/README.md ("Exact fields") says two runs of the same seed must
repeat: `*.fs.*`, `files_*`, `sidecars_read`, `bytes_written`,
`manifest_bytes_read`, `rows_rewritten_per_row_changed`, `spark.*.jobs`,
`spark.*.tasks`, `streaming.state_rows` and `ext.dedup.*`. The script
fails unless exactly 76 fields match those patterns, prints every exact
field whose value differs, and exits 1 if any does.

Usage: tools/ledger_diff.py OLD.json NEW.json
"""
import json
import re
import sys

EXACT = [re.compile(p) for p in (
    r"\.fs\.[a-z]+$",
    r"\.files_[a-z]+$",
    r"\.sidecars_read$",
    r"\.bytes_written$",
    r"\.manifest_bytes_read$",
    r"\.rows_rewritten_per_row_changed$",
    r"^spark\.[a-z]+\.jobs$",
    r"^spark\.[a-z]+\.tasks$",
    r"^streaming\.state_rows$",
    r"^ext\.dedup\.",
)]
EXPECTED = 76


def load(path):
    with open(path) as f:
        lines = [l for l in f.read().splitlines() if l.strip()]
    if not lines:
        sys.exit(f"{path}: empty")
    return {k: m["value"] for k, m in json.loads(lines[-1])["metrics"].items()}


def exact(fields):
    return sorted(k for k in fields if any(p.search(k) for p in EXACT))


def main():
    if len(sys.argv) != 3:
        sys.exit(__doc__)
    old, new = load(sys.argv[1]), load(sys.argv[2])
    if set(old) != set(new):
        sys.exit(f"field sets differ: only old {sorted(set(old) - set(new))}, "
                 f"only new {sorted(set(new) - set(old))}")
    names = exact(old)
    if len(names) != EXPECTED:
        sys.exit(f"{len(names)} fields match the exact patterns, "
                 f"expected {EXPECTED}: {names}")
    diff = [k for k in names if old[k] != new[k]]
    for k in diff:
        print(f"{k}: {old[k]} -> {new[k]}")
    print(f"== {len(names) - len(diff)} of {len(names)} exact fields equal")
    return 1 if diff else 0


if __name__ == "__main__":
    sys.exit(main())
