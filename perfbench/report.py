"""Run every workload once and print each metric with unit and sample count.

    python3 perfbench/report.py [--seed N] [--trace 0|1]

Untraced (default) prints the end-to-end metrics, then the user-facing
timings that carry no bound; traced prints the per-layer metrics.  Each
workload also shows failed_op_ratio with its counts.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    code = 0
    for w in bench["workloads"]:
        proc = subprocess.run(
            [sys.executable, str(HERE / "run.py"), "--workload", w["name"],
             "--seed", str(args.seed), "--seconds", str(bench["run_seconds"]),
             "--trace", str(args.trace)],
            capture_output=True, text=True, cwd=str(HERE.parent))
        lines = proc.stdout.splitlines()
        if proc.returncode != 0 or len(lines) < 2:
            print(f"{w['name']}: exit {proc.returncode}\n{proc.stderr[-2000:]}")
            code = 1
            continue
        info, res = json.loads(lines[-2]), json.loads(lines[-1])
        print(f"{w['name']}  (seed {args.seed}, engine {info['engine']}, "
              f"{info['corpus_docs']} docs / {info['corpus_tokens']} tokens)")
        print(f"  failed_op_ratio {info['failed_op_ratio']:.4f} "
              f"({res['failed']} of {res['attempted']} operations)")
        n = info["metric_samples"]
        for name, m in res["metrics"].items():
            print(f"  {name:40s} {m['value']:14.6g} {m['unit']:8s} n={n[name]}")
        # user-facing timings that BENCHMARK.json does not gate
        for name, (value, unit) in info["unlisted"].items():
            if "." not in name:
                print(f"  {name:40s} {value:14.6g} {unit:8s} n={n[name]}  (no bound)")
    return code


if __name__ == "__main__":
    sys.exit(main())
