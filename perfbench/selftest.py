"""Self-test of the benchmark at a tiny scale (1000 events, the sf0.001 size).

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it checks that
- an untraced run passes its oracle checks and prints every end-to-end
  metric with its unit, and nothing else;
- a traced run prints every per-layer metric with its unit and writes spans;
- a run whose output is deliberately corrupted counts a failure.
Exits 0 when all hold.
"""

from __future__ import annotations

import json
import os
import sys

from report import ROOT, run_bench


def run(workload: str, *extra: str) -> tuple[dict, dict]:
    return run_bench(workload, 7, 1, "--events", "1000", *extra, timeout=600)


def expect(cond: bool, what: str, errors: list[str]) -> None:
    print(("ok   " if cond else "FAIL ") + what)
    if not cond:
        errors.append(what)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    errors: list[str] = []
    for w in [wl["name"] for wl in spec["workloads"]]:
        res, rep = run(w, "--trace", "0")
        expect(set(res) == {"correct", "attempted", "failed", "metrics"}, f"{w}: result keys", errors)
        expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, f"{w}: oracle checks pass", errors)
        expect({k: v["unit"] for k, v in res["metrics"].items()} == e2e, f"{w}: every end-to-end metric with its unit", errors)
        expect(all(v["value"] > 0 for v in res["metrics"].values()), f"{w}: end-to-end metrics are non-zero", errors)
        expect(all("unit" in v for v in rep["named"].values()), f"{w}: named workload metrics carry units", errors)

        res, rep = run(w, "--trace", "1")
        expect({k: v["unit"] for k, v in res["metrics"].items()} == per_layer, f"{w}: every per-layer metric with its unit", errors)
        expect(os.path.getsize(rep["spans_file"]) > 0, f"{w}: spans written", errors)

        res, _ = run(w, "--trace", "0", "--corrupt")
        expect(not res["correct"] and res["failed"] >= 1, f"{w}: a corrupted output counts as failed", errors)
    print("self-test", "FAILED: " + "; ".join(errors) if errors else "passed")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
