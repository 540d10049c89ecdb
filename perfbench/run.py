"""Benchmark entry point.

    python3 perfbench/run.py --workload headline_batch --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout of the engine. It runs the workload on a
local Spark session, with its scratch files under ``.perfbench/`` in the
checkout, checks the outputs, prints a table of every metric with its unit
and sample count, and prints as its last line one JSON object: ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the end-to-end ones; with ``--trace 1`` they
are the per-layer ones from the traced run, whose spans are written to
``.perfbench/trace-<workload>-<seed>.json``.

Workloads: ``headline_batch`` (passes over headline queries) and
``live_bars`` (streaming bars from a page store). See README.md beside
this file.
"""

from __future__ import annotations

import time

# setup_s runs from here, before Spark or the engine is imported.
T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import sys  # noqa: E402

WORKLOADS = ("headline_batch", "live_bars")


class Context:
    """What a workload needs: its arguments, scratch directory, session,
    tracer and failure ledger."""

    def __init__(self, args, work: str, session, tracer, ledger):
        self.seed = args.seed
        self.seconds = args.seconds
        self.trace = bool(args.trace)
        self.work = work
        self.session = session
        self.tracer = tracer
        self.ledger = ledger

    def since_start(self) -> float:
        """Seconds since the benchmark process started."""
        return time.perf_counter() - T_START

    def log(self, msg: str) -> None:
        """Progress on standard error, stamped with seconds since start."""
        print(f"[perfbench {self.since_start():7.2f}s] {msg}", file=sys.stderr, flush=True)


def _prepare_env(root: str, work: str, cpus: int) -> None:
    """Environment for the JVM and the Python workers it forks; must be set
    before the first session starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        # Workers unpickle the page source from the engine package.
        "PYTHONPATH": os.pathsep.join(paths),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_CPUS": str(cpus),
        "TZ": "UTC",
        "PYSPARK_SUBMIT_ARGS": (
            # Keep the JIT compiler threads alive, so their CPU time can be
            # left out of the process's (perfbench/proc.py).
            f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UseDynamicNumberOfCompilerThreads' "
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')} "
            "pyspark-shell"
        ),
    })
    # With the engine's default 8 GB heap the batch JVM kept growing into
    # fresh memory (peak resident 2.3-3.7 GB a run) and its walls spread
    # twice as wide; at 2 GB its peak holds near 1.5 GB, collection stays
    # under 60 ms a pass, and the median walls match.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")
    time.tzset()


def _fmt(v) -> str:
    return f"{v:.4g}" if isinstance(v, float) else str(v)


def report(workload: str, seed: int, res: dict, ledger, trace: bool) -> list[str]:
    """The human-readable table, under the workload's own metric names."""
    from statistics import median

    from stats import percentile, tail_percentile

    e, info = res["e2e"], res["info"]
    lines = [f"# perfbench {workload} seed={seed}"]
    lines.append(
        f"setup_s            {e['setup_s']:.3f} s   process start to the first timed operation, one a run"
        f" (session start {info['start_s']:.3f} s, then {info['warm_s']:.3f} s of {info['warm_what']})"
    )
    if workload == "live_bars":
        lags = info["lags_ms"]
        n_drains = len(info["drain_s"])
        cpus = ", ".join(f"{c:.3f}" for c in info["drain_cpu_s"])
        drains = ", ".join(f"{w:.3f}" for w in info["drain_s"])
        lines.append(f"pass_cpu_s         {e['pass_cpu_s']:.3f} s   median CPU time of draining a {info['burst_rows']}-row burst on the warm query, n={n_drains} ({cpus})")
        lines.append(f"op_cpu_ms          {e['op_cpu_ms']:.1f} ms  median CPU time of a timed live micro-batch, n={info['batches']} batches")
        lines.append(f"pass_s             {info['pass_s']:.3f} s   median drain wall, n={n_drains} ({drains})")
        lines.append(f"catchup_rows_per_s {info['burst_rows'] / info['pass_s']:.1f} rows/s")
        lines.append(f"batch_s            {info['batch_s']:.3f} s   median timed live micro-batch wall (trigger to commit), n={info['batches']} batches")
        lines.append(f"bar_lag_p50_ms     {info['lag_p50_ms']:.1f} ms  n={len(lags)} bars")
        tail = tail_percentile(lags) if lags else None
        if tail and tail[0] > 50:
            lines.append(f"bar_lag_p{tail[0]:g}_ms     {tail[1]:.1f} ms  n={len(lags)}, >=10 samples beyond")
        if lags:
            lines.append(f"bar_lag_p90_ms     {percentile(lags, 90):.1f} ms  n={len(lags)} (informational when fewer than 10 lie beyond)")
        lines.append(f"validity           backlog_pages_max={info['backlog_pages_max']} gen_late_ms_max={info['gen_late_ms_max']:.1f} missing_pages={info['missing_pages']}")
        lines.append("stream per-batch   " + " ".join(f"{k}={_fmt(v)}ms" for k, v in info["stream_ms"].items()))
    else:
        walls = [w * 1000.0 for w in info["walls"]]
        lines.append(f"pass_cpu_s         {e['pass_cpu_s']:.3f} s   sum of per-query median CPU times, {info['passes']} passes")
        lines.append(f"op_cpu_ms          {e['op_cpu_ms']:.1f} ms  geometric mean of the per-query median CPU times")
        lines.append(f"pass_s             {info['pass_s']:.3f} s   sum of per-query median walls")
        lines.append(f"query_wall_ms      {info['query_wall_ms']:.1f} ms  geometric mean of the per-query median walls")
        lines.append(f"query_p50_ms       {1000.0 * median(info['walls']):.1f} ms  n={info['executions']} executions")
        tail = tail_percentile(walls) if walls else None
        above = f"p{tail[0]:g} = {tail[1]:.1f} ms" if tail and tail[0] > 50 else "none above p50"
        lines.append(f"query tail         {above} (highest percentile with >=10 of n={len(walls)} beyond)")
        for q, w in info["per_query"].items():
            lines.append(f"  query.{q}_s  {w:.3f} s  (CPU {info['per_query_cpu'][q]:.3f} s)")
        if info["mismatches"]:
            lines.append(f"oracle mismatches  {', '.join(info['mismatches'])}")
    lines.append(f"peak_rss_mb        {info['peak_rss_mb']:.1f} MB  the JVM's peak resident memory (VmHWM)")
    lines.append(f"failed_frac        {ledger.failed_frac:.4f}  ({ledger.failed} of {ledger.attempted} operations)")
    for f in ledger.failures[:10]:
        lines.append(f"  failed: {f}")
    if trace:
        lines.append("# traced run: per-layer metrics")
        for k, v in res["layers"].items():
            lines.append(f"{k:30s} {_fmt(v)}")
        if info.get("layers_printed"):
            lines.append("# traced run: layers this workload alone runs (printed, not in the JSON)")
            for k, v in info["layers_printed"].items():
                lines.append(f"{k:30s} {_fmt(v)}")
        for g, v in info.get("groups_traced", {}).items():
            lines.append(
                f"  {g} group: build {v['build']:.3f} s + action {v['action']:.3f} s"
                f" (wall {v['wall']:.3f} s; build share {v['build'] / v['wall']:.0%})"
            )
        for k, v in info.get("per_query_traced", {}).items():
            lines.append(f"  {k}: build {v['build_s']:.3f} s, action {v['action_s']:.3f} s")
        for k, v in sorted(res.get("self_s", {}).items()):
            lines.append(f"  self time {k:24s} {v:.3f} s")
    return lines


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    needed = ("polygon_algotrading_env_spark/queries/__init__.py", "tools/oracle_check.py")
    missing = [p for p in needed if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2

    # On SIGTERM, unwind through the finally blocks that stop the JVM and
    # remove the scratch directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    cpus = len(os.sched_getaffinity(0))
    # One core is left to the Python driver: the batch build calls and the
    # tick generator run there, beside the task threads.
    master = f"local[{max(1, cpus - 1)}]"
    try:
        _prepare_env(root, work, cpus)
        sys.path[1:1] = [root, os.path.join(root, "tools")]
        from sparkenv import Session
        from spans import Tracer
        from stats import Ledger

        session = Session(master)
        ctx = Context(args, work, session, Tracer(bool(args.trace)), Ledger())
        try:
            if args.workload == "live_bars":
                from live import LiveWorkload

                res = LiveWorkload(ctx).run()
            else:
                from batch import BatchWorkload

                res = BatchWorkload(ctx).run()
            res["info"]["peak_rss_mb"] = session.jvm_peak_rss_mb()
        finally:
            session.close()
            if args.trace:
                ctx.tracer.write(os.path.join(base, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    res["self_s"] = ctx.tracer.self_times()
    for line in report(args.workload, args.seed, res, ctx.ledger, ctx.trace):
        print(line)
    metrics = res["layers"] if args.trace else res["e2e"]
    units = _units(metrics, "per_layer" if args.trace else "end_to_end")
    out = {
        "correct": ctx.ledger.failed == 0,
        "attempted": ctx.ledger.attempted,
        "failed": ctx.ledger.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out), flush=True)
    return 0


def _units(metrics: dict, kind: str) -> dict[str, str]:
    """Units of the metrics, from BENCHMARK.json at the checkout root, after
    checking that the run measured exactly the metrics it declares."""
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(os.path.dirname(here), "BENCHMARK.json")) as fh:
        declared = {m["name"]: m["unit"] for m in json.load(fh)[kind]}
    if set(metrics) != set(declared):
        raise RuntimeError(f"measured {sorted(metrics)}, declared {sorted(declared)}")
    bad = [k for k, v in metrics.items() if not math.isfinite(v)]
    if bad:
        raise RuntimeError(f"metrics without a value: {bad}")
    return declared


if __name__ == "__main__":
    sys.exit(main())
