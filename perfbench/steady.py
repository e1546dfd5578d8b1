"""Steadiness check: run the benchmark on several seeds per workload
and report each metric's median, quartiles and spread (the distance
between the first and third quartile as a share of the median), plus
each run's wall time.

    python3 perfbench/steady.py --seeds 1-10 --out perfbench/results/set-a.json
    python3 perfbench/steady.py --seeds 9120,77,31337 --out ...
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


def seeds(text: str) -> list[int]:
    """``lo-hi`` (inclusive) or a comma-separated list."""
    if "," in text:
        return [int(s) for s in text.split(",")]
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "values": values}


def main() -> int:
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="*", default=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seeds", type=seeds, default=seeds("1-10"))
    ap.add_argument("--seconds", type=int, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    report = {"seconds": args.seconds, "trace": args.trace, "workloads": {}}
    for w in args.workloads:
        runs = []
        for seed in args.seeds:
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(args.seconds),
                 "--trace", str(args.trace)],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            lines = p.stdout.strip().splitlines()
            if p.returncode != 0 or len(lines) < 2:
                print(f"{w} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}", file=sys.stderr)
                return 1
            res, detail = json.loads(lines[-1]), json.loads(lines[-2])["detail"]
            runs.append({"seed": seed, "wall_s": time.time() - t0, "result": res,
                         "detail": detail})
            print(f"{w} seed {seed}: {time.time() - t0:.0f}s correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']} "
                  + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
                  flush=True)
        metrics = {}
        for name in runs[0]["result"]["metrics"]:
            s = summarize([r["result"]["metrics"][name]["value"] for r in runs])
            s["bound"] = bounds.get(name)
            metrics[name] = s
        report["workloads"][w] = {
            "metrics": metrics,
            "wall_s": summarize([r["wall_s"] for r in runs]),
            "all_correct": all(r["result"]["correct"] for r in runs),
            "runs": runs,
        }
        for name, s in metrics.items():
            flag = ""
            if s["bound"] is not None and s["spread"] is not None and name != "setup_s":
                flag = "ok" if s["spread"] < s["bound"] / 3 else "WIDE"
            print(f"  {w:9s} {name:18s} median {s['median']:.4g}  "
                  f"q1 {s['q1']:.4g}  q3 {s['q3']:.4g}  spread {s['spread']:.3f} {flag}")
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as f:
        json.dump(report, f, indent=1, default=str)
    return 0


if __name__ == "__main__":
    sys.exit(main())
