"""``tree`` workload: one graphite tree written, maintained, then read.

Set-up (repeated; the median is ``setup_s``) generates seeded arrival
files — out-of-order rows, in-file duplicates, late rewrites, gaps and
outages — and an empty tree with catalog rows. Timed, in order:

1. ``stream_store`` of the arrival files into ``tree.points_path(60)``
   (``maxFilesPerTrigger=1``, ``availableNow``);
2. carbon-style ``CeresTree.store`` commits (tens of points to one
   node each) after the history;
3. maintenance: ``compact_files`` on each date partition,
   ``rollup_catalog`` to 300 s into its own step table and
   ``expire_catalog`` at the catalog horizon;
4. a closed loop of dashboard requests until the run's seconds are
   used: per cycle of 20, 14 ``render()`` (two per target shape),
   5 ``CeresTree.fetch()`` and 1 ``CeresTree.find()``, in a fixed order
   with seeded arguments. Every render opens the points frame through
   ``CeresTree.points()`` and every request ends in ``collect()``.

Then a new ``CeresTree`` handle reads both step tables back and checks
them against the generator's own last-writer-wins result.
"""

from __future__ import annotations

import os
import re
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np

import gen

SIZES = {
    # metrics = n_dc * n_host * 8 leaves
    "full": dict(n_dc=2, n_host=1, days=7, files=4, commits=4),
    "tiny": dict(n_dc=2, n_host=1, days=2, files=2, commits=2),
}
SETUP_REPS = 5
ROLLUP_STEP = 300
NOW = gen.END + 1800  # the end of the tail commits
#: one cycle of 20 requests: 14 render (70%), 5 fetch (25%), 1 find
#: (5%). The kinds, render shapes (in SHAPES order) and range classes
#: are the same for every seed, so a short run sees the same mix on any
#: seed; the seed picks the nodes, globs and how far back each range
#: ends.
CYCLE = "RRFRRRFRRNFRRRFRRRFR"
H, D = 3600, 86400
RENDER_RANGES = [H, 6 * H, H, D, H, 6 * H, 7 * D, H, 6 * H, H, D, H, 6 * H, D]
FETCH_RANGES = [H, 6 * H, H, D, 7 * D]
SHAPES = (
    "sumSeries(dc{d}.host*.{leaf})",
    "aliasByNode(movingAverage(dc{d}.host*.{grp}.*,5),1,3)",
    'limit(sortByMaxima(summarize(dc*.host*.{leaf},"1h","max")),3)',
    "averageSeries(dc{{{d},{d2}}}.host*.{grp}.*)",
    "divideSeries(sumSeries(dc{d}.host*.net.tx),sumSeries(dc{d}.host*.net.rx))",
    'summarize(dc{d}.host*.{leaf},"1h","average")',
    "sumSeries(dc*.host*.{leaf})",
)
#: the path expression each shape's response covers
GLOBS = (
    "dc{d}.host*.{leaf}",
    "dc{d}.host*.{grp}.*",
    "dc*.host*.{leaf}",
    "dc{{{d},{d2}}}.host*.{grp}.*",
    "dc{d}.host*.net.tx",
    "dc{d}.host*.{leaf}",
    "dc*.host*.{leaf}",
)
#: shapes whose values are compared against DuckDB on a seeded sample
VERIFIED = {0: "sum", 3: "avg", 5: "summarize", 6: "sum"}

SPANS = {  # span name -> per-layer metric (self time, ms)
    "plans.target.parse": "plans.target.parse_ms",
    "plans.render.build": "plans.render.build_ms",
    "plans.render.collect": "plans.render.collect_ms",
    "tree.points.open": "tree.points.open_ms",
    "tree.get_node": "tree.get_node_ms",
    "tree.read_metadata": "tree.read_metadata_ms",
    "tree.read.build": "tree.read.build_ms",
    "tree.fetch.collect": "tree.fetch.collect_ms",
    "catalog.find": "catalog.find_ms",
    "tree.write": "tree.write_ms",
    "tree.apply_staging": "tree.apply_staging_ms",
    "sources.txn_log.commit": "sources.txn_log.commit_ms",
    "sources.txn_log.latest_version": "sources.txn_log.latest_version_ms",
}
SPANS_S = {  # span name -> per-layer metric (self time, s)
    "operators.retention.compact_files": "operators.retention.compact_files_s",
    "operators.retention.rollup_catalog": "operators.retention.rollup_catalog_s",
    "operators.retention.expire_catalog": "operators.retention.expire_catalog_s",
}
PROGRESS = {  # per-layer metric -> StreamingQueryProgress durations
    "streaming.ingest.trigger_ms": ("triggerExecution",),
    "streaming.ingest.add_batch_ms": ("addBatch",),
    "streaming.ingest.planning_ms": ("queryPlanning",),
    "streaming.ingest.offsets_ms": ("latestOffset", "getBatch"),
    "streaming.ingest.log_commit_ms": ("walCommit", "commitOffsets"),
}


@dataclass
class Req:
    kind: str  # render | fetch | find
    shape: int | None  # index into SHAPES for renders
    arg: str  # target, node path or find pattern
    glob: str  # the path expression whose series the response covers
    lo: int | None = None
    hi: int | None = None
    verify: bool = False  # compare values against DuckDB


def glob_rx(pattern: str) -> re.Pattern:
    """graphite path glob (with braces) -> anchored regex, for the
    generator's expectation only."""
    out, i = "", 0
    while i < len(pattern):
        c = pattern[i]
        if c == "*":
            out += "[^.]*"
        elif c == "{":
            j = pattern.index("}", i)
            out += "(?:" + "|".join(map(re.escape, pattern[i + 1:j].split(","))) + ")"
            i = j
        else:
            out += re.escape(c)
        i += 1
    return re.compile(out + r"\Z")


class Expect:
    """The generator's LWW table indexed for per-request expectations."""

    def __init__(self, table) -> None:
        self.metrics = sorted(table["metric"].unique())
        self.ts = {m: g["ts"].to_numpy() for m, g in table.groupby("metric", sort=False)}

    def match(self, glob: str) -> list[str]:
        rx = glob_rx(glob)
        return [m for m in self.metrics if rx.match(m)]

    def live(self, metrics: list[str], lo: int, hi: int) -> list[str]:
        out = []
        for m in metrics:
            ts = self.ts[m]
            i = np.searchsorted(ts, lo)
            if i < len(ts) and ts[i] < hi:
                out.append(m)
        return out


def requests(rng: np.random.Generator, metrics: list[str], n_dc: int, now: int, start: int):
    """Endless seeded request stream, cycle by cycle."""
    groups = sorted({m.split(".")[2] for m in metrics})
    leaves = sorted({".".join(m.split(".")[2:]) for m in metrics})
    while True:
        renders = iter(range(len(RENDER_RANGES)))
        fetches = iter(FETCH_RANGES)
        for kind in CYCLE:
            if kind == "R":
                k = next(renders)
                shape = k % len(SHAPES)
                d, d2 = rng.choice(n_dc, 2, replace=False)
                fill = dict(d=d, d2=d2, leaf=leaves[rng.integers(len(leaves))],
                            grp=groups[rng.integers(len(groups))])
                lo, hi = _window(rng, RENDER_RANGES[k], now, start)
                yield Req("render", shape, SHAPES[shape].format(**fill),
                          GLOBS[shape].format(**fill), lo, hi,
                          shape in VERIFIED and rng.random() < 0.3)
            elif kind == "F":
                m = metrics[rng.integers(len(metrics))]
                lo, hi = _window(rng, next(fetches), now, start)
                yield Req("fetch", None, m, m, lo, hi, rng.random() < 0.3)
            else:
                pattern = f"dc{rng.integers(n_dc)}.host*.{groups[rng.integers(len(groups))]}.*"
                yield Req("find", None, pattern, pattern)


def _window(rng, span: int, now: int, start: int) -> tuple[int, int]:
    """Range ``span`` ending at ``now`` 60% of the time, else at a
    seeded earlier minute (skewed toward recent data)."""
    latest = now
    earliest = start + span
    until = latest
    if rng.random() >= 0.6 and latest > earliest:
        back = int(rng.exponential(0.15) * (latest - earliest))
        until = max(earliest, latest - back)
    until -= until % gen.STEP
    return until - span, until


def retentions(days: int) -> list[list[int]]:
    """Catalog retentions: raw points kept ``days - 1`` days, so the
    oldest day expires. A coarser archive is listed so
    ``rollup_catalog`` finds its step in the catalog (its
    no-coarser-archive default fails under ANSI mode)."""
    keep = (days - 1) * gen.DAY
    return [[gen.STEP, keep], [ROLLUP_STEP, keep]]


def setup(bench, size: dict, root: str):
    """Arrival files, the commits to make, an empty tree with catalog."""
    rng = np.random.default_rng([bench.seed, 1])
    metrics = gen.metric_names(size["n_dc"], size["n_host"])
    h = gen.history(rng, metrics, size["days"], size["files"])
    gen.write_arrivals(h, os.path.join(root, "arrivals"))
    commits = gen.tail_commits(rng, metrics, size["commits"])
    return empty_tree(bench, metrics, size["days"], root), h, commits


def empty_tree(bench, metrics: list[str], days: int, root: str):
    import ceres_spark.catalog as cat
    from ceres_spark.tree import CeresTree

    tree = CeresTree.create_tree(bench.spark, os.path.join(root, "tree"))
    cat.make_catalog(bench.spark, [
        {"metric": m, "retentions": retentions(days)} for m in metrics
    ]).coalesce(1).write.parquet(os.path.join(tree.root, "catalog"))
    return tree


def stream(bench, tree, root: str):
    import ceres_spark.streaming.ingest as ing

    src = bench.spark.readStream.schema(
        "metric string, ts long, value double, arrival_seq long"
    ).option("maxFilesPerTrigger", 1).parquet(os.path.join(root, "arrivals"))
    q = ing.stream_store(src, tree.points_path(gen.STEP),
                         checkpoint=os.path.join(root, "ckpt"))
    q.awaitTermination()
    return q


def store(bench, tree, c: gen.Commit) -> None:
    import ceres_spark.sources.tables as tbl

    tree.store(c.metric, tbl.local_rows(
        bench.spark, list(zip(c.ts.tolist(), c.value.tolist())),
        "ts long, value double"))


def maintain(bench, tree) -> None:
    """Defrag each date partition (the whole-table form would flatten
    the date layout), roll the catalog up to 300 s into its own step
    table, expire points past the catalog horizon."""
    import ceres_spark.operators.compact as cp
    import ceres_spark.operators.retention as ret
    from pyspark.sql import functions as F

    spark = bench.spark
    base = tree.points_path(gen.STEP)
    with bench.span("operators.retention.compact_files"):
        for d in sorted(os.listdir(base)):
            if d.startswith("date="):
                ret.compact_files(spark, os.path.join(base, d))
    with bench.span("operators.retention.rollup_catalog"):
        tree.maintenance_run(
            lambda catalog, points: ret.rollup_catalog(
                cp.lww_dedup(points), catalog, default_step=ROLLUP_STEP,
                with_step=True),
        ).withColumn("arrival_seq", F.lit(0).cast("long")).withColumn(
            "date", F.to_date(F.timestamp_seconds(F.col("ts")))
        ).write.mode("overwrite").option(
            "partitionOverwriteMode", "dynamic"
        ).partitionBy("step", "date").parquet(os.path.join(tree.root, "points"))
    with bench.span("operators.retention.expire_catalog"):
        tmp = base + "__expired"
        ret.expire_catalog(tree.points(), tree.catalog(), now=NOW) \
            .write.partitionBy("date").parquet(tmp)
        shutil.rmtree(base)
        os.rename(tmp, base)


def expiry_cut(days: int) -> int:
    """First timestamp ``expire_catalog`` keeps (cut quantized up)."""
    cut = NOW - retentions(days)[0][1]
    return cut + (-cut) % gen.STEP


def read(bench, tree, exp: Expect, req: Req, timed: bool, points_glob: str) -> None:
    """One dashboard request, then its checks (outside the timing)."""
    import ceres_spark.operators.compact as cp
    from ceres_spark.plans.render import render
    from pyspark.sql import functions as F

    rows = None
    with bench.op(req.kind, timed):
        if req.kind == "render":
            pts = tree.points()
            day_lo = F.to_date(F.timestamp_seconds(F.lit(req.lo)))
            day_hi = F.to_date(F.timestamp_seconds(F.lit(req.hi - 1)))
            series = cp.lww_dedup(pts.filter(
                (F.col("date") >= day_lo) & (F.col("date") <= day_hi)))
            with bench.span("plans.render.build"):
                df = render(bench.spark, req.arg, req.lo, req.hi, series=series)
            with bench.span("plans.render.collect"):
                rows = df.collect()
        elif req.kind == "fetch":
            df = tree.fetch(req.arg, req.lo, req.hi)
            with bench.span("tree.fetch.collect"):
                rows = df.collect()
        else:
            with bench.span("catalog.find"):
                rows = [n.node_path for n in tree.find(req.arg)]
    if rows is None:  # the operation raised; already counted
        return
    if bench.check(*expect_ok(exp, req, rows)) and req.verify:
        bench.check(*duck_ok(points_glob, req, rows))


def run(bench) -> dict:
    import ceres_spark.operators.compact as cp
    import ceres_spark.streaming.ingest as ing
    from ceres_spark.tree import CeresTree

    size = SIZES[bench.size]
    days = size["days"]
    setups = []
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        bench.start_session()
        root = os.path.join(bench.work, f"setup{rep}")
        tree, h, commits = setup(bench, size, root)
        setups.append(time.perf_counter() - t0)
    metrics = h.metrics

    # warm every operation type on a one-day scratch tree of two metrics
    warm_t0 = time.perf_counter()
    wroot = os.path.join(bench.work, "warm")
    wrng = np.random.default_rng([bench.seed, 4])
    wh = gen.history(wrng, metrics[:2], 1, 1)
    gen.write_arrivals(wh, os.path.join(wroot, "arrivals"))
    wtree = empty_tree(bench, metrics[:2], 2, wroot)
    with bench.op("ingest", timed=False):
        stream(bench, wtree, wroot)
    wcommit = gen.tail_commits(wrng, metrics[:2], 1)
    with bench.op("store", timed=False):
        store(bench, wtree, wcommit[0])
    with bench.op("maintenance", timed=False):
        maintain(bench, wtree)
    wtable = gen.lww(wh, wcommit)
    wexp = Expect(wtable[wtable["ts"] >= expiry_cut(2)])
    warm = {}
    for req in requests(np.random.default_rng([bench.seed, 5]), metrics[:2], 2, NOW, wh.start):
        warm.setdefault(req.kind, req)
        if len(warm) == 3:
            break
    wglob = os.path.join(wtree.points_path(gen.STEP), "*", "*.parquet")
    for req in warm.values():
        read(bench, wtree, wexp, req, False, wglob)
    warmup_s = time.perf_counter() - warm_t0

    bench.start_tracing()
    if bench.counters is not None:
        # micro-batches run on the streaming thread: give each batch its
        # own job group there and record its counters as ingest_batch
        orig = ing.store_batch

        def traced_batch(batch, batch_id, target_path, time_step):
            group = bench.counters.group()
            bench.counters.set_group(group)
            try:
                with bench.span("streaming.ingest.store_batch"):
                    orig(batch, batch_id, target_path, time_step)
            finally:
                bench.counters.clear_group()
                bench.counters.record("ingest_batch", bench.counters.read(group))

        bench.patches.replace(ing, "store_batch", traced_batch)

    # -- timed: write, maintain, read
    t0 = time.perf_counter()
    q = None
    with bench.op("ingest"):
        q = stream(bench, tree, root)
    stream_s = time.perf_counter() - t0
    for c in commits:
        with bench.op("store"):
            store(bench, tree, c)
    n_before = tree.points().count()
    m0 = time.perf_counter()
    with bench.op("maintenance"):
        maintain(bench, tree)
    maint_s = time.perf_counter() - m0

    expect = gen.lww(h, commits)
    live = expect[expect["ts"] >= expiry_cut(days)].reset_index(drop=True)
    exp = Expect(live)
    points_glob = os.path.join(tree.points_path(gen.STEP), "*", "*.parquet")
    r0 = time.perf_counter()
    for i, req in enumerate(requests(np.random.default_rng([bench.seed, 2]), metrics,
                                     size["n_dc"], NOW, h.start)):
        # at least up to the first find, so every request kind runs
        if i > CYCLE.index("N") and time.perf_counter() - t0 >= bench.seconds:
            break
        read(bench, tree, exp, req, True, points_glob)
    reads_s = time.perf_counter() - r0

    # -- read back through a new handle, outside the timed region
    fresh = CeresTree(bench.spark, tree.root)
    got = cp.lww_dedup(fresh.points(gen.STEP)).toPandas() \
        .sort_values(["metric", "ts"], ignore_index=True)
    bench.check(
        len(got) == len(live)
        and (got["metric"].to_numpy() == live["metric"].to_numpy()).all()
        and (got["ts"].to_numpy() == live["ts"].to_numpy()).all()
        and (got["value"].to_numpy() == live["value"].to_numpy()).all(),
        f"readback: {len(got)} points, want {len(live)}")
    roll = expect.assign(ts=expect["ts"] - expect["ts"] % ROLLUP_STEP) \
        .groupby(["metric", "ts"], as_index=False)["value"].mean()
    got_roll = fresh.points(ROLLUP_STEP).select("metric", "ts", "value").toPandas() \
        .sort_values(["metric", "ts"], ignore_index=True)
    bench.check(
        len(got_roll) == len(roll)
        and np.allclose(got_roll["value"].to_numpy(), roll["value"].to_numpy(), rtol=1e-12),
        f"rollup: {len(got_roll)} buckets, want {len(roll)}")
    files = [os.path.join(d, f) for d, _, fs in os.walk(tree.points_path(gen.STEP))
             for f in fs if f.endswith(".parquet")]
    stored = sum(os.path.getsize(f) for f in files)

    lat = {k: [x * 1000 for x in bench.lat.get(k, [])] for k in ("render", "fetch", "find", "store")}
    reads_ms = lat["render"] + lat["fetch"] + lat["find"]
    n_raw = len(h.ts)
    detail = {
        "ingest_points_per_s": n_raw / stream_s,
        "store_commit_p50_ms": statistics.median(lat["store"]) if lat["store"] else None,
        "maintenance_points_per_s": n_before / maint_s,
        "stored_bytes_per_point": stored / max(1, len(live)),
        "requests": len(reads_ms),
        "requests_s": reads_s,
        "arrival_points": n_raw,
        "arrival_files": size["files"],
        "metrics": len(metrics),
        "points_files": len(files),
        "warmup_s": warmup_s,
        "setup_reps_s": setups,
    }
    for k in ("render", "fetch", "find", "store"):
        detail[f"{k}_n"] = len(lat[k])
        if lat[k]:
            detail[f"{k}_p50_ms"] = statistics.median(lat[k])
        if len(lat[k]) >= 100:
            detail[f"{k}_p90_ms"] = float(np.percentile(lat[k], 90))
    missing = []
    if bench.tracer is not None:
        missing = bench.layer_spans(SPANS) + bench.layer_spans(SPANS_S, scale=1.0)
        progress = [p for p in (q.recentProgress if q else []) if p.numInputRows > 0]
        for metric, keys in PROGRESS.items():
            vals = [sum(p.durationMs.get(k, 0) for k in keys) for p in progress]
            bench.layer[metric] = statistics.median(vals) if vals else 0.0
        bench.layer["streaming.ingest.rows_per_batch"] = (
            statistics.median(p.numInputRows for p in progress) if progress else 0.0)
        bench.layer["tree.points_files"] = float(len(files))
        if not progress:
            missing.append("streaming progress")
    return {
        "setup_s": statistics.median(setups),
        "latency_p50_ms": statistics.median(reads_ms),
        "throughput_per_s": n_raw / stream_s,
        "detail": detail,
        "missing_spans": missing,
    }


def expect_ok(exp: Expect, req: Req, rows) -> tuple[bool, str]:
    """Series count and time range against the generator."""
    if req.kind == "find":
        want = exp.match(req.arg)
        return sorted(rows) == want, f"find {req.arg}: {len(rows)} nodes, want {len(want)}"
    if req.kind == "fetch":
        n = (req.hi - req.lo) // gen.STEP
        ts = sorted(r["ts"] for r in rows)
        ok = len(rows) == n and ts[0] == req.lo and ts[-1] == req.hi - gen.STEP
        return ok, f"fetch {req.arg} [{req.lo},{req.hi}): {len(rows)} rows, want {n}"
    live = len(exp.live(exp.match(req.glob), req.lo, req.hi))
    want = {1: live, 2: min(3, live), 5: live}.get(req.shape, min(1, live))
    got = len({r["metric"] for r in rows})
    floor = req.lo - req.lo % 3600 if req.shape in (2, 5) else req.lo
    in_range = all(floor <= r["ts"] < req.hi for r in rows)
    return got == want and in_range, (
        f"render {req.arg} [{req.lo},{req.hi}): {got} series, want {want}, "
        f"in range {in_range}")


def duck_ok(points_glob: str, req: Req, rows) -> tuple[bool, str]:
    """Values against DuckDB over the same parquet, LWW by
    ``max_by(value, arrival_seq)``."""
    import duckdb

    con = duckdb.connect()
    try:
        lww = con.execute(
            f"""SELECT metric, ts, max_by(value, arrival_seq) AS value
                FROM read_parquet('{points_glob}', hive_partitioning = true)
                WHERE regexp_full_match(metric, $rx) AND ts >= $lo AND ts < $hi
                GROUP BY metric, ts""",
            {"rx": glob_rx(req.glob).pattern[:-2], "lo": req.lo, "hi": req.hi},
        ).fetchall()
    finally:
        con.close()
    if req.kind == "fetch":
        want = {ts: v for _, ts, v in lww}
        got = {r["ts"]: r["value"] for r in rows if r["value"] is not None}
        return _close(got, want), f"fetch {req.arg} values differ from DuckDB"
    agg = VERIFIED[req.shape]
    acc: dict = {}
    for m, ts, v in lww:
        key = (m, ts - ts % 3600) if agg == "summarize" else ts
        acc.setdefault(key, []).append(v)
    if agg == "summarize":
        want = {(f'summarize({m},"1h","average")', b): sum(vs) / len(vs)
                for (m, b), vs in acc.items()}
        got = {(r["metric"], r["ts"]): r["value"] for r in rows}
    else:
        want = {ts: (sum(vs) if agg == "sum" else sum(vs) / len(vs))
                for ts, vs in acc.items()}
        got = {r["ts"]: r["value"] for r in rows}
    return _close(got, want), f"render {req.arg} values differ from DuckDB"


def _close(got: dict, want: dict) -> bool:
    return got.keys() == want.keys() and all(
        abs(got[k] - want[k]) <= 1e-9 * max(1.0, abs(want[k])) for k in want
    )
