"""Run one workload over several seeds and print each end-to-end
metric's median and quartile spread ((Q3 - Q1) / median, as
statistics.quantiles(n=4) gives the quartiles) against its bound.

    python3 perfbench/spread.py --workload dashboard --seeds 1-10
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

sys.path[0] = os.getcwd()  # the checkout root, as run.py does

from perfbench.stats import quartile_spread  # noqa: E402


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-5", help="first-last")
    ap.add_argument("--seconds", type=float)
    args = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = args.seconds or bench["run_seconds"]
    lo, hi = (int(x) for x in args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        out = subprocess.run(
            [sys.executable, os.path.join("perfbench", "run.py"),
             "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            capture_output=True, text=True)
        if out.returncode != 0:
            print(out.stderr[-2000:], file=sys.stderr)
            return 1
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1])
        stamp = json.loads(lines[-2])["perfbench"]
        print(f"seed {seed}: correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res["metrics"].items())
              + f" steal={stamp['host']['steal_frac_window']:.3f}"
              f" cpu_s_per_op={stamp['host']['cpu_s_per_op']:.4f}"
              f" run_s={stamp['run_s']:.1f}"
              f" by_kind={stamp['p50_ms_by_kind']}", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for m in bench["end_to_end"]:
        xs = values[m["name"]]
        med = statistics.median(xs)
        spread = quartile_spread(xs)
        print(f"{m['name']:>22}: median {med:.4g} {m['unit']}, spread "
              f"{spread:.3f} (bound {m['bound']}, "
              f"{'ok' if spread < m['bound'] / 3 else 'WIDE'})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
