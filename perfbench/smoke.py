#!/usr/bin/env python3
"""Smoke test of the benchmark itself, at a tiny input size.

    python3 perfbench/smoke.py [workload ...]

For each workload (default: all) it makes three short runs:

* untraced — must pass its output checks and emit every ``end_to_end``
  metric of ``BENCHMARK.json``, each with its declared unit;
* traced — the same for every ``per_layer`` metric;
* with one expected count deliberately wrong — must report failed
  operations, which proves the output checks can fail.

Exits 0 when all hold; prints what did not and exits 1 otherwise. Takes a
few minutes: each run starts its own Spark JVM.
"""

from __future__ import annotations

import json
import os
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

TINY_ROWS = {"suite_dense": 2000, "append_resume": 2000}
SECONDS = 2


def _wrong_count(wl) -> None:
    """Make one expected verdict count wrong by one."""
    part = next(iter(wl.exp["partitions"].values()))
    part["not_null(lang)"] += 1


def _metric_errors(result: dict, declared: list[dict]) -> list[str]:
    errs = []
    got = result["metrics"]
    if set(got) != {m["name"] for m in declared}:
        errs.append(f"metric names differ: {sorted(set(got) ^ {m['name'] for m in declared})}")
    for m in declared:
        v = got.get(m["name"])
        if v is None or v.get("unit") != m["unit"] or not isinstance(v.get("value"), (int, float)):
            errs.append(f"{m['name']}: {v}")
    return errs


def main(names: list[str]) -> int:
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []
    for name in names or list(TINY_ROWS):
        rows = TINY_ROWS[name]
        for trace, declared in ((False, bench["end_to_end"]), (True, bench["per_layer"])):
            _, res = run.run(name, 1, SECONDS, trace, rows=rows)
            label = f"{name} trace={int(trace)}"
            if not res["correct"] or res["failed"] or res["attempted"] < 1:
                errors.append(f"{label}: not correct: {res['failed']}/{res['attempted']} failed")
            errors += [f"{label}: {e}" for e in _metric_errors(res, declared)]
            print(f"[smoke] {label}: attempted {res['attempted']}, failed {res['failed']}", flush=True)
        info, res = run.run(name, 1, SECONDS, False, rows=rows, tamper=_wrong_count)
        if not info["failed_ops_ratio"] > 0 or res["correct"]:
            errors.append(f"{name}: a wrong expected count went unnoticed")
        print(f"[smoke] {name} wrong expectation: failed_ops_ratio {info['failed_ops_ratio']}", flush=True)
    for e in errors:
        print("[smoke] FAIL " + e, file=sys.stderr)
    print("[smoke] " + ("ok" if not errors else f"{len(errors)} failure(s)"), flush=True)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
