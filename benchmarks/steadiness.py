"""Steadiness record: run the benchmark on several seeds per workload and
keep every run's metrics and per-op series.

    python3 benchmarks/steadiness.py --seeds 1-10 [--workload NAME] [--trace 0|1] [--tag NAME]

Reads the command, run length and bounds from BENCHMARK.json. For each
end-to-end metric it reports the median and the spread, the distance
between the first and third quartile as a share of the median
(``statistics.quantiles(values, n=4)``), beside the metric's bound. Writes
``benchmarks/steadiness/<workload>[-trace][-<tag>].json``.
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


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workload")
    p.add_argument("--trace", type=int, default=0)
    p.add_argument("--tag", default="", help="suffix for the record file, e.g. a second set")
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [args.workload] if args.workload else [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    os.makedirs(os.path.join(HERE, "steadiness"), exist_ok=True)
    for name in names:
        runs = []
        for seed in seeds(args.seeds):
            cmd = bench["command"] + ["--workload", name, "--seed", str(seed),
                                      "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
            t0 = time.time()
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
            result = lines[-1] if lines and "correct" in lines[-1] else None
            runs.append({"seed": seed, "rc": proc.returncode, "wall_s": time.time() - t0,
                         "result": result, "series": lines[:-1] if result else lines})
            print(json.dumps({"workload": name, "seed": seed, "rc": proc.returncode,
                              "wall_s": round(time.time() - t0, 1),
                              "metrics": {k: v["value"] for k, v in (result or {}).get("metrics", {}).items()}}),
                  flush=True)
        summary = {}
        if not args.trace:
            for metric, bound in bounds.items():
                vals = [r["result"]["metrics"][metric]["value"] for r in runs if r["result"]]
                if len(vals) < 4:
                    continue
                q1, med, q3 = statistics.quantiles(vals, n=4)
                summary[metric] = {"median": med, "spread": (q3 - q1) / med, "bound": bound}
        print(json.dumps({"workload": name, "summary": summary}), flush=True)
        suffix = ("-trace" if args.trace else "") + (f"-{args.tag}" if args.tag else "")
        with open(os.path.join(HERE, "steadiness", f"{name}{suffix}.json"), "w") as f:
            json.dump({"workload": name, "command": bench["command"], "run_seconds": bench["run_seconds"],
                       "summary": summary, "runs": runs}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
