"""Layer report for one workload, plus the report-only scaling run.

    python3 perfbench/report.py --workload crawl_batch --seed 1 [--seconds 5] [--scaling]

Runs the workload untraced, then traced, each in its own process, and
prints the end-to-end metrics, the per-layer metrics and the tracing
overhead (traced cycle p50 minus untraced cycle p50). With --scaling it
also runs crawl_batch pinned to one CPU (the JVM and the Python workers
inherit the affinity, so local[1] gets one CPU, not one task slot) and
prints the 1→nproc scaling efficiency, cycle_1 / (nproc × cycle_nproc).
The scaling figure is for reading, never a gate: on a shared host it has
ranged 0.75–1.1.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_bench(
    workload: str, seed: int, seconds: float, *extra: str, timeout: float = 900, cpus: set[int] | None = None
) -> tuple[dict, dict]:
    """Run perfbench/run.py in its own process from the repository root,
    on `cpus` if given; returns (result line, report line). Raises if the
    run fails."""
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), *extra]
    pin = (lambda: os.sched_setaffinity(0, cpus)) if cpus else None
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=timeout, preexec_fn=pin)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n{p.stderr[-4000:]}")
    return json.loads(lines[-1]), json.loads(lines[-2])["report"]


def show(title: str, metrics: dict) -> None:
    print(f"\n{title}")
    for name, m in metrics.items():
        print(f"  {name:36s} {m['value']:>16.6g} {m['unit']}")


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=5)
    p.add_argument("--scaling", action="store_true")
    a = p.parse_args()

    plain, rep = run_bench(a.workload, a.seed, a.seconds, "--trace", "0")
    traced, trep = run_bench(a.workload, a.seed, a.seconds, "--trace", "1")
    print(json.dumps({"untraced": rep, "traced": trep}, indent=1, default=str))
    show(f"end to end ({a.workload}, untraced, correct={plain['correct']})", plain["metrics"])
    show(f"named metrics ({a.workload}, untraced)", rep["named"])
    show(f"per layer ({a.workload}, traced, correct={traced['correct']})", traced["metrics"])
    untraced_p50 = plain["metrics"]["cycle_p50_s"]["value"]
    overhead = traced["metrics"]["trace.cycle_p50_s"]["value"] - untraced_p50
    print(f"\ntracing overhead: {overhead:+.3f} s per cycle ({overhead / untraced_p50:+.1%} of {untraced_p50:.3f} s)")

    if a.scaling:
        nproc = rep["host"]["cores_used"]
        one, one_rep = run_bench("crawl_batch", a.seed, a.seconds, "--trace", "0", cpus={min(os.sched_getaffinity(0))})
        if a.workload != "crawl_batch":
            plain, rep = run_bench("crawl_batch", a.seed, a.seconds, "--trace", "0")
        c1, cn = one["metrics"]["cycle_p50_s"]["value"], plain["metrics"]["cycle_p50_s"]["value"]
        print(
            f"\nscaling 1→{nproc} cores (crawl_batch, report only): cycle {c1:.3f} s → {cn:.3f} s, "
            f"efficiency {c1 / (nproc * cn):.3f}; steal {one_rep['host']['steal_pct']:.2f}% / "
            f"{rep['host']['steal_pct']:.2f}%"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
