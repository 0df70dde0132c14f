"""Run the benchmark over several seeds and report how steady it is.

    python3 perfbench/spread.py --workloads query_headline,ingest_cdc \\
        --seeds 1-10 [--trace 0]

For every workload and end-to-end metric it prints the median over the
seeds and the quartile spread (inter-quartile distance as a share of the
median, ``statistics.quantiles(values, n=4)``), next to the metric's
bound in BENCHMARK.json. Run length is BENCHMARK.json's ``run_seconds``.
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

from perfbench.stats import quartile_spread  # noqa: E402


def seeds_of(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    for w in args.workloads.split(","):
        values: dict[str, list[float]] = {}
        for seed in seeds_of(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [*bench["command"], "--workload", w, "--seed", str(seed),
                 "--seconds", str(bench["run_seconds"]), "--trace", args.trace],
                cwd=ROOT, capture_output=True, text=True,
            )
            line = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else ""
            print(f"{w} seed {seed} exit {p.returncode} "
                  f"{time.time() - t0:.1f} s: {line}", flush=True)
            result = json.loads(line) if line.startswith("{") else None
            if result is None or not result["correct"]:
                print(p.stdout[-3000:] + p.stderr[-3000:])
                continue
            for k, v in result["metrics"].items():
                values.setdefault(k, []).append(v["value"])
        for k, vs in values.items():
            if len(vs) >= 2:
                print(f"{w:16} {k:24} median {statistics.median(vs):10.4f}  "
                      f"spread {quartile_spread(vs):.3f}  bound {bounds.get(k)}  "
                      f"n={len(vs)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
