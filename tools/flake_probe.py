"""Partial-aggregation-order flake probe.

A float aggregate whose true value lands exactly on its rounding-grid
boundary is a run-to-run coin flip: partial-aggregation order varies with
scheduling, so the last-ulp noise decides which side of the boundary the
round lands on (this bit `intraday_volume_profile` — a 2-decimal-input
average whose exact rational hit the round-4 midpoint).

This tool forces the hazard deterministically instead of waiting for it:
every registered query runs twice with DIFFERENT shuffle-partition counts
(different partial-agg merge trees), and the canonical results are
compared. Any diff = a query whose answer depends on aggregation order —
a latent driver/judge flake to fix with the magnitude-aware grid rule
(usually: aggregate exact integers at the input's decimal width).

Usage: python tools/flake_probe.py [sf_dir] [query ...]
Exit 1 if any query's result moved across partitionings.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from polygon_algotrading_env_spark.session import (  # noqa: E402
    get_spark,
    shuffle_confs,
)


def _set_partitions(spark, n: int) -> None:
    """Set both partition counts of the session (``session.shuffle_confs``):
    batch exchanges read AQE's initial number, not the shuffle conf."""
    for k, v in shuffle_confs(spark.sparkContext.master, "*", n).items():
        spark.conf.set(k, v)


def main() -> int:
    args = sys.argv[1:]
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    from polygon_algotrading_env_spark.queries import REGISTRY

    names = args[1:] if len(args) > 1 else list(REGISTRY)
    spark = get_spark(
        app_name="flake-probe", master="local[8]", shuffle_partitions=32
    )
    sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
    from oracle_check import canon  # reuse the driver-shaped canonicalizer

    bad: list[str] = []
    for name in names:
        fn = REGISTRY[name].fn
        try:
            _set_partitions(spark, 32)
            a = canon(fn(spark, sf_dir).toPandas())
            _set_partitions(spark, 7)
            b = canon(fn(spark, sf_dir).toPandas())
        except Exception as e:  # noqa: BLE001
            print(f"err   {name}: {type(e).__name__}: {e}")
            bad.append(name)
            continue
        if len(a) != len(b) or list(a.columns) != list(b.columns):
            print(f"FLAKE {name}: shape {a.shape} vs {b.shape}")
            bad.append(name)
            continue
        if not a.equals(b):
            diffcols = [c for c in a.columns if not a[c].equals(b[c])]
            print(f"FLAKE {name}: columns {diffcols} move with partitioning")
            bad.append(name)
        else:
            print(f"ok    {name}")
    print(f"\n{len(bad)} partition-sensitive" + (f": {bad}" if bad else ""))
    return 1 if bad else 0


if __name__ == "__main__":
    raise SystemExit(main())
