"""Run the benchmark over several seeds and report, per end-to-end
metric, the median and the quartile spread (distance between the first
and third quartile as a share of the median).

    python3 perfbench/spread.py WORKLOAD [--seeds 1-10] [--seconds 10]
        [--out FILE]

Runs are sequential, one process each, from the repository root.
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
sys.path.insert(0, HERE)

from stats import iqr_share  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("workload")
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--seconds", default="10")
    ap.add_argument("--out")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    records = []
    for seed in args.seeds:
        cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
               args.workload, "--seed", str(seed), "--seconds", args.seconds,
               "--trace", "0"]
        t0 = time.perf_counter()
        out = subprocess.run(cmd, capture_output=True, text=True, check=True)
        elapsed = time.perf_counter() - t0
        lines = out.stdout.strip().splitlines()
        rec = json.loads(lines[-1])
        ops = {f[2]: float(f[3]) for f in (ln.split() for ln in lines)
               if f[:2] == ["#", "op"]}
        records.append({"seed": seed, "elapsed_s": elapsed, **rec, "ops": ops})
        for name, m in rec["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        print(f"seed {seed}: {elapsed:.1f}s correct={rec['correct']} " + " ".join(
            f"{k}={m['value']:.4g}" for k, m in rec["metrics"].items()),
            flush=True)
    summary = {
        name: {"median": statistics.median(v), "iqr_share": iqr_share(v),
               "n": len(v)}
        for name, v in values.items()
    }
    for name, s in summary.items():
        print(f"{name}: median {s['median']:.4g}  spread {s['iqr_share']:.3f}"
              f"  (n={s['n']})")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump({"workload": args.workload, "runs": records,
                       "summary": summary}, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
