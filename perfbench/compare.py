"""Run the benchmark over several seeds and summarise it.

    python3 perfbench/compare.py --workload binlog_tail --seeds 1 2 3 4 5 \
        --seconds 12 [--traced]

Prints, per end-to-end metric, the median and the quartile spread
((Q3 - Q1) / median) over the seeds. With --traced it also runs each
seed traced and prints the tracing overhead: the traced run's
`trace.setup_s` / `trace.result_s` minus the untraced medians.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from measure import quartile_spread  # noqa: E402


def _run(workload: str, seed: int, seconds: float, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload",
         workload, "--seed", str(seed), "--seconds", str(seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, timeout=600)
    if p.returncode != 0:
        sys.exit(f"{workload} seed {seed} trace {trace} failed:\n"
                 f"{p.stderr[-3000:]}")
    out = json.loads(p.stdout.strip().splitlines()[-1])
    if not out["correct"]:
        print(f"{workload} seed {seed}: INCORRECT {out}", file=sys.stderr)
    return {k: v["value"] for k, v in out["metrics"].items()}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True)
    ap.add_argument("--seconds", type=float, default=12)
    ap.add_argument("--traced", action="store_true")
    args = ap.parse_args()
    runs = [_run(args.workload, s, args.seconds, 0) for s in args.seeds]
    summary = {}
    for name in runs[0]:
        vals = [r[name] for r in runs]
        summary[name] = {"median": statistics.median(vals),
                         "spread": (quartile_spread(vals)
                                    if len(vals) >= 2 else None),
                         "values": vals}
    if args.traced:
        traced = [_run(args.workload, s, args.seconds, 1) for s in args.seeds]
        for name in ("setup_s", "result_s"):
            t = statistics.median(r[f"trace.{name}"] for r in traced)
            summary[f"overhead.{name}"] = t - summary[name]["median"]
        summary["trace.covered_frac_min"] = min(r["trace.covered_frac"]
                                                for r in traced)
    print(json.dumps({"workload": args.workload, **summary}, indent=1))


if __name__ == "__main__":
    main()
