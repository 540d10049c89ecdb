"""Standalone fresh-JVM spot probe for 100x scale outliers.

The committed SCALE_DETAIL.json times every query inside one long
multi-hour session, whose late-suite numbers drift 10-30% slower on a
shared host (see ARCHITECTURE.md "remeasurement honesty at 100x").
Before a cross-round ratio delta is blamed on a plan, this tool
reproduces it under a clean protocol: ONE FRESH JVM PER MEASUREMENT
BLOCK — the base-dir timings and the scaled-dir timings each get their
own subprocess with their own warm-up, because a shared session bleeds
state across blocks (a full GC of a 96g heap between passes taints the
next pass by 1.3-5x, and a base pass scheduled right after a 100x pass
inherits its GC debt — both observed while building this tool; bench.py
documents the same hazard for its per-query loop). Min-of-3 per query
per block. One JSON line on stdout:

    {"sf_dir": ..., "factor": 100,
     "queries": {name: {"base": s, "scaled": s, "ratio": r}}}

Usage:
    SPARK_GRAFT_DRIVER_MEM=96g python tools/spot_probe.py \
        [--rebuild] [--factor N] [sf_dir] query [query ...]

``--rebuild`` deletes the cached scaled dir first so the probe runs on a
regenerated fixture (the r12 VERDICT item-3 discipline: a drifted ratio
must be reproduced on a fresh build before it is pinned or blamed).
``--single DIR`` is the internal per-block mode (fresh JVM, warm-up on
DIR only, min-of-3 each query, JSON {"times": {...}}).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _single(sf_dir: str, names: list[str], passes: int = 3) -> None:
    """One measurement block: fresh session, warm-up on this dir only,
    min-of-N per query, unpersist WITHOUT forced GC between passes (the
    bench.py base-pass convention — a per-pass full GC of a large heap
    measurably taints the following pass)."""
    from polygon_algotrading_env_spark.catalog import load_all
    from polygon_algotrading_env_spark.queries import REGISTRY
    from polygon_algotrading_env_spark.session import get_spark

    spark = get_spark(app_name="spot-probe-block")
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    for df in load_all(spark, sf_dir).values():
        df.limit(1).collect()
    times: dict[str, float] = {}
    for name in names:
        fn = REGISTRY[name].fn
        for i in range(passes):
            t0 = time.time()
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            t = round(time.time() - t0, 3)
            times[name] = min(times.get(name, t), t)
            print(f"# {name} pass{i}: {t}s", file=sys.stderr)
            for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
                jrdd.unpersist()
            spark.catalog.clearCache()  # and the CacheManager's entries
    print(json.dumps({"times": times}))


USAGE = (
    "usage: spot_probe.py [--rebuild] [--factor N] [sf_dir] query ...\n"
    "       spot_probe.py --single DIR query ..."
)


def main() -> int:
    argv = sys.argv[1:]
    if "--single" in argv:
        i = argv.index("--single")
        d = argv[i + 1] if i + 1 < len(argv) else None
        names = argv[i + 2 :]
        if d is None or not os.path.isdir(d) or not names:
            print(USAGE, file=sys.stderr)
            return 2
        _single(d, names)
        return 0
    rebuild = "--rebuild" in argv
    factor = 100
    args = []
    skip = False
    for i, a in enumerate(argv):
        if skip:
            skip = False
            continue
        if a == "--factor":
            if i + 1 >= len(argv):
                print(USAGE, file=sys.stderr)
                return 2
            factor = int(argv[i + 1])
            skip = True
        elif a == "--rebuild":
            continue
        elif a.startswith("--"):
            print(f"unknown option {a}\n{USAGE}", file=sys.stderr)
            return 2
        else:
            args.append(a)
    # The first positional is the base SF dir ONLY if it IS a directory
    # — a typo'd query name must not silently become sf_dir.
    if args and os.path.isdir(args[0]):
        sf_dir = args[0]
        names = args[1:]
    else:
        sf_dir = "/root/testdata/sf0.01"
        names = args
    if not names:
        print(USAGE, file=sys.stderr)
        return 2
    from polygon_algotrading_env_spark.queries import REGISTRY

    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        print(f"unknown queries: {unknown}", file=sys.stderr)
        return 2

    scaled = os.path.join(
        tempfile.gettempdir(),
        f"spark_graft_scaled{factor}_" + sf_dir.strip("/").replace("/", "_"),
    )
    if rebuild and os.path.isdir(scaled):
        shutil.rmtree(scaled)
        print(f"# removed cached fixture {scaled}", file=sys.stderr)
    if not os.path.isdir(scaled):
        from polygon_algotrading_env_spark.session import get_spark
        from tools.scale_fixtures import build_scaled_fixtures

        spark = get_spark(app_name="spot-probe-build")
        t0 = time.time()
        build_scaled_fixtures(spark, sf_dir, scaled, factor=factor)
        print(f"# fixture built in {round(time.time() - t0, 1)}s", file=sys.stderr)
        spark.stop()

    here = os.path.abspath(__file__)
    blocks: dict[str, dict[str, float]] = {}
    for tag, d in (("base", sf_dir), ("scaled", scaled)):
        proc = subprocess.run(
            [sys.executable, here, "--single", d, *names],
            capture_output=True,
            text=True,
            timeout=3600,
        )
        sys.stderr.write(proc.stderr[-4000:])
        if proc.returncode != 0:
            print(f"# {tag} block failed rc={proc.returncode}", file=sys.stderr)
            return 1
        blocks[tag] = json.loads(proc.stdout.strip().splitlines()[-1])["times"]
    out = {
        n: {
            "base": blocks["base"][n],
            "scaled": blocks["scaled"][n],
            "ratio": round(blocks["scaled"][n] / blocks["base"][n], 2),
        }
        for n in names
    }
    print(json.dumps({"sf_dir": sf_dir, "factor": factor, "queries": out}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
