"""Steadiness check: run one workload under several seeds and report,
per end-to-end metric, the median and the interquartile range as a
share of the median (the figure each metric's ``bound`` must exceed).

    python3 perfbench/spread.py --workload migrate --runs 10 [--first-seed 1]

Runs are sequential, each a separate ``perfbench/run.py`` process with
the ``run_seconds`` of ``BENCHMARK.json``.  Prints one JSON line per run
and a summary JSON line last.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench.stats import spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {}
    walls = []
    for seed in range(args.first_seed, args.first_seed + args.runs):
        t0 = time.perf_counter()
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", args.workload,
             "--seed", str(seed), "--seconds", str(spec["run_seconds"]),
             "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        walls.append(time.perf_counter() - t0)
        lines = out.stdout.strip().splitlines() or ["{}"]
        res = json.loads(lines[-1]) if lines[-1].startswith("{") else {}
        detail = json.loads(lines[-2]).get("detail", {}) if len(lines) > 1 else {}
        print(json.dumps({"seed": seed, "exit": out.returncode, "wall_s": round(walls[-1], 1),
                          **{k: v for k, v in res.items() if k != "metrics"},
                          **{k: detail.get(k) for k in ("contaminated", "foreign_cpu_s", "steal_s", "phases_s")},
                          "metrics": {k: round(v["value"], 4) for k, v in res.get("metrics", {}).items()}}),
              flush=True)
        for k, v in res.get("metrics", {}).items():
            values.setdefault(k, []).append(v["value"])
    summary = {
        k: {"median": statistics.median(v), "spread": round(spread(v), 4) if len(v) > 1 else None,
            "bound": bounds.get(k)}
        for k, v in values.items()
    }
    print(json.dumps({"workload": args.workload, "runs": args.runs,
                      "max_run_wall_s": round(max(walls), 1), "summary": summary}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
