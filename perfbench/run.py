"""Benchmark entry point: one workload, one seed, one process.

    python3 perfbench/run.py --workload tree --seed 1 --seconds 20 --trace 0

Runs Spark on ``local[nproc]`` with one shuffle partition per core.
The code under test is the ``ceres_spark`` package next to this
directory (the checkout this file belongs to), never an installed
copy. Prints a detail line (provenance and workload-specific figures)
and, last, the result line::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With ``--trace 0`` the metrics are the end-to-end metrics of
``BENCHMARK.json``; with ``--trace 1`` the per-layer metrics, from
spans at each layer's call site and Spark counters per operation.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("tree", "corpus")
#: operation kinds with per-operation Spark counters
OPS = ("render", "fetch", "find", "ingest_batch", "store", "maintenance",
       "dedup", "search")


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def pin_environment(work: str) -> None:
    """Keep Spark's scratch files inside the checkout and size the
    driver heap for a shared host; must run before the JVM starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["SPARK_WAREHOUSE_DIR"] = os.path.join(work, "warehouse")
    os.environ["SPARK_DRIVER_MEMORY"] = "1g"
    # every JVM (the spark-submit launcher too): temp files here, and no
    # hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full",
                    help="input sizes; 'tiny' is for the benchmark's own tests")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "ceres_spark", "__init__.py")):
        print(f"perfbench: no ceres_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import ceres_spark

    if os.path.dirname(os.path.abspath(ceres_spark.__file__)) != os.path.join(ROOT, "ceres_spark"):
        print(f"perfbench: imported {ceres_spark.__file__}, not this checkout's", file=sys.stderr)
        return 2

    from harness import Bench, emit

    bench = Bench(ROOT, args.workload, args.seed, args.seconds,
                  bool(args.trace), args.size)
    pin_environment(bench.work)
    workload = importlib.import_module(args.workload)
    try:
        out = workload.run(bench)
        prov = bench.provenance()
    finally:
        if bench.tracer is not None:
            os.makedirs(os.path.join(HERE, ".work"), exist_ok=True)
            bench.tracer.dump(os.path.join(
                HERE, ".work", f"spans-{args.workload}-{args.seed}.json"))
        peak_mb = bench.close()

    s = spec()
    e2e = {"setup_s": out["setup_s"], "peak_rss_mb": peak_mb,
           "latency_p50_ms": out["latency_p50_ms"],
           "throughput_per_s": out["throughput_per_s"]}
    detail = {"workload": args.workload, **prov, **out["detail"],
              "failures": bench.failures[:20]}
    if args.trace:
        # compared with an untraced run of the same seed, the tracing overhead
        detail["end_to_end_traced"] = e2e
        if out["missing_spans"]:
            bench.fail(f"spans never fired: {out['missing_spans']}", True)
        layer = dict(bench.layer)
        layer["session.start_s"] = bench.session_starts[0]
        if bench.counters is not None:
            layer.update(bench.counters.medians(OPS))
        metrics = {m["name"]: (float(layer.get(m["name"], 0.0)), m["unit"])
                   for m in s["per_layer"]}
    else:
        metrics = {m["name"]: (float(e2e[m["name"]]), m["unit"])
                   for m in s["end_to_end"]}
    emit(bench, metrics, detail)
    return 0


if __name__ == "__main__":
    sys.exit(main())
