"""The ``headline_batch`` workload: repeated passes over a frozen list of
headline queries, one client in a closed loop.

The list has two groups. The market queries spend most of their time in
Spark execution; the curation queries spend most of theirs in the Python
build call and the eager jobs it starts. The traced run reports the layer
split of each group, so a change to one layer can be seen on the group it
should move while the other group predicts no change.

A pass runs every query of the list once, in an order drawn from the seed.
One execution is the query's build call (the registered function, which may
start eager jobs) followed by a ``noop`` write that evaluates every output
column. Its wall and the CPU time of the whole process tree (this process,
the JVM and its Python workers, less the JIT compiler) are taken for the
build call and for the action. Persisted RDDs are released after each execution, as ``bench.py``
does.
"""

from __future__ import annotations

import os
import random
import time
from contextlib import nullcontext
from statistics import geometric_mean, median

from sparkenv import SparkCounters, catalyst_phases_ms

# Frozen workload definition. A name missing from the registry is a failed
# operation, never a shorter pass.
GROUPS = {
    "market": (
        "pricing_summary",
        "moving_avg_price_per_supplier",
        "ohlcv_bars_1h_resampled",
    ),
    "curation": (
        "minhash_md5_band_pairs",
        "srp_topk_reranked",
    ),
}

# The engine's sf0.01 test fixtures (TESTDATA.md), copied byte for byte:
# the tables the tests and tools/oracle_check read, generated with seed 42.
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures", "sf0.01")
MIN_PASSES = 3
# Untimed passes after the first, cold one. A query's CPU time per run
# still fell by a tenth from its fourth run to its fifth, and by less
# than the run-to-run noise after that.
WARM_PASSES = 3


def _unpersist_all(spark) -> None:
    for jrdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        jrdd.unpersist()


class BatchWorkload:
    def __init__(self, ctx):
        from polygon_algotrading_env_spark.queries import REGISTRY

        self.names = [q for qs in GROUPS.values() for q in qs]
        self.ctx = ctx
        self.registry = REGISTRY
        self.fixtures = FIXTURES
        self.ops: list[dict] = []

    # -- phases -------------------------------------------------------------

    def open_catalog(self) -> None:
        """Open every table through the catalog: schema and file listing,
        no job."""
        from polygon_algotrading_env_spark.catalog import TABLES, load_table

        for t in TABLES:
            load_table(self.ctx.session.spark, self.fixtures, t)

    def execute(self, name: str, pass_no: int, traced: bool) -> dict:
        """Time one execution of ``name``; with ``traced`` also record spans
        and Spark counters for the build call and the action."""
        spark, tracer, cpu = self.ctx.session.spark, self.ctx.tracer, self.ctx.session.cpu_s
        op = f"{name}#{pass_no}"
        rec = {"name": name, "pass": pass_no, "traced": traced, "ok": False}
        spec = self.registry.get(name)
        if spec is None:
            rec["error"] = "not in the registry"
            return rec
        counters = SparkCounters(spark) if traced else None
        try:
            with tracer.span("query", op=op) if traced else nullcontext():
                c0 = cpu()
                t0 = time.perf_counter()
                if traced:
                    counters.set_group(f"{op}/build")
                with tracer.span("queries.build") if traced else nullcontext():
                    df = spec.fn(spark, self.fixtures)
                t1 = time.perf_counter()
                c1 = cpu()
                if traced:
                    counters.set_group(f"{op}/action")
                    gc0 = counters.gc_ms()
                with tracer.span("exec.action") if traced else nullcontext():
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
                c2 = cpu()
            rec.update(
                ok=True, wall=t2 - t0, build=t1 - t0, action=t2 - t1,
                cpu=c2 - c0, build_cpu=c1 - c0, action_cpu=c2 - c1,
            )
            if traced:
                rec["gc_ms"] = counters.gc_ms() - gc0
                counters.clear_group()
                rec["build_jobs"] = counters.read(f"{op}/build")["jobs"]
                rec["exec"] = counters.read(f"{op}/action")
                rec["pinned"] = spark.sparkContext._jsc.getPersistentRDDs().size()
                # Re-plan the query's own logical plan to read Catalyst's
                # phase times; outside the timed wall.
                jqe = df._jdf.queryExecution()
                jqe.executedPlan()
                rec["catalyst"] = catalyst_phases_ms(jqe)
        except Exception as exc:  # noqa: BLE001 - a failed query is a data point
            rec["error"] = f"{type(exc).__name__}: {str(exc)[:200]}"
        finally:
            if traced:
                counters.clear_group()
            _unpersist_all(spark)
        return rec

    def run_pass(self, pass_no: int, traced: bool) -> None:
        order = list(self.names)
        random.Random(self.ctx.seed * 1000 + pass_no).shuffle(order)
        for name in order:
            rec = self.execute(name, pass_no, traced)
            self.ops.append(rec)
            if rec["ok"] and pass_no >= 0:
                self.ctx.log(f"{name}: {rec['wall']:.3f}s wall, {rec['cpu']:.2f}s cpu")
            self.ctx.ledger.record(rec["ok"], f"{name}: {rec.get('error', '')}")

    def warm_pass(self) -> dict[str, object]:
        """The first untimed warm pass, each query's first run in this JVM:
        collect every query's result for the oracle check. Returns the result, or the
        error, per query."""
        spark, out = self.ctx.session.spark, {}
        for name in self.names:
            spec = self.registry.get(name)
            if spec is None:
                out[name] = "not in the registry"
                continue
            t0 = time.perf_counter()
            try:
                out[name] = spec.fn(spark, self.fixtures).toPandas()
            except Exception as exc:  # noqa: BLE001 - a failed query is a data point
                out[name] = f"{type(exc).__name__}: {str(exc)[:200]}"
            finally:
                _unpersist_all(spark)
            self.ctx.log(f"warm {name}: {time.perf_counter() - t0:.2f}s")
        return out

    def check_oracles(self, results: dict[str, object]) -> list[str]:
        """Compare each query's warm-pass result with its DuckDB oracle over
        the same fixture files. Returns the names that failed."""
        import duckdb
        from oracle_check import compare

        from polygon_algotrading_env_spark.catalog import TABLES

        mismatches = []
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in TABLES:
            path = os.path.join(self.fixtures, f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for name in self.names:
            got, spec = results[name], self.registry.get(name)
            if isinstance(got, str):
                errs = [got]
            elif not spec.oracle:
                errs = ["no oracle"]
            else:
                try:
                    errs = compare(name, got, con.execute(spec.oracle).df())
                except Exception as exc:  # noqa: BLE001
                    errs = [f"{type(exc).__name__}: {str(exc)[:200]}"]
            self.ctx.ledger.record(not errs, f"{name} oracle: {'; '.join(errs)}")
            if errs:
                mismatches.append(name)
        con.close()
        return mismatches

    # -- the run ------------------------------------------------------------

    def run(self) -> dict:
        ctx = self.ctx
        t0 = time.perf_counter()
        ctx.session.start()
        t1 = time.perf_counter()
        self.open_catalog()
        results = self.warm_pass()
        for n in range(-WARM_PASSES, 0):
            self.run_pass(n, traced=False)
        warm_s = time.perf_counter() - t1
        setup_s = ctx.since_start()
        ctx.log(f"set-up {setup_s:.2f}s: session {t1 - t0:.2f}s, catalog and warm passes {warm_s:.2f}s")

        # Timed passes fill the run's seconds. A traced run alternates
        # untraced and traced passes so the two can be compared, from the
        # second pass on (the first runs slower, just after the warm-up).
        min_passes = MIN_PASSES + 2 if ctx.trace else MIN_PASSES
        t2, n = time.perf_counter(), 0
        while n < min_passes or time.perf_counter() - t2 < ctx.seconds:
            self.run_pass(n, traced=ctx.trace and n % 2 == 1)
            n += 1
            ctx.log(f"timed pass {n}")
        mismatches = self.check_oracles(results)
        return self.summarize(setup_s, t1 - t0, warm_s, n, mismatches)

    def summarize(self, setup_s, start_s, warm_s, passes, mismatches) -> dict:
        timed = [r for r in self.ops if r["ok"] and r["pass"] >= 0]
        plain = [r for r in timed if not r["traced"]]
        traced = [r for r in timed if r["traced"]]
        walls = [r["wall"] for r in plain]
        per_query = _medians(plain, "wall")
        per_query_cpu = _medians(plain, "cpu")
        e2e = {
            "setup_s": setup_s,
            "pass_cpu_s": sum(per_query_cpu.values()),
            # The typical execution: a geometric mean moves with each query
            # in proportion, where the median of a run's few executions
            # jumps between the queries that happen to sit in the middle.
            "op_cpu_ms": 1000.0 * _geomean(per_query_cpu.values()),
        }
        info = {
            "pass_s": sum(per_query.values()),
            "query_wall_ms": 1000.0 * _geomean(per_query.values()),
            "start_s": start_s,
            "warm_s": warm_s,
            "warm_what": f"catalog and {1 + WARM_PASSES} warm passes",
            "passes": passes,
            "executions": len(walls),
            "walls": walls,
            "per_query": per_query,
            "per_query_cpu": per_query_cpu,
            "mismatches": mismatches,
        }
        layers = {}
        if traced:
            def agg(key, sub=None):
                return _sum_of_medians(traced, key, sub)

            n_traced = len({r["pass"] for r in traced})
            layers = {
                "session.start_s": start_s,
                "session.warm_s": warm_s,
                "queries.build_s": agg("build"),
                "queries.build_cpu_s": agg("build_cpu"),
                "queries.build_jobs": agg("build_jobs"),
                "exec.action_s": agg("action"),
                "exec.action_cpu_s": agg("action_cpu"),
                **{f"exec.{k}": agg("exec", k) for k in traced[0]["exec"]},
                "exec.gc_ms": sum(r["gc_ms"] for r in traced) / n_traced,
                **{f"catalyst.{k}_ms": agg("catalyst", k) for k in traced[0]["catalyst"]},
                "operators.pinned_rdds": agg("pinned"),
                "trace.overhead_s": _sum_of_medians(traced, "wall")
                - _sum_of_medians([r for r in plain if r["pass"] > 0], "wall"),
            }
            info["groups_traced"] = {
                g: {
                    k: _sum_of_medians([r for r in traced if r["name"] in qs], k)
                    for k in ("build", "action", "wall")
                }
                for g, qs in GROUPS.items()
            }
            info["per_query_traced"] = {
                q: {
                    "build_s": median(r["build"] for r in traced if r["name"] == q),
                    "action_s": median(r["action"] for r in traced if r["name"] == q),
                }
                for q in self.names
                if any(r["name"] == q for r in traced)
            }
        return {"e2e": e2e, "layers": layers, "info": info}


def _medians(ops, key, sub=None) -> dict[str, float]:
    """Per query, the median of ``key`` (or ``key[sub]``) across its
    executions."""
    by_query: dict[str, list[float]] = {}
    for r in ops:
        by_query.setdefault(r["name"], []).append(r[key] if sub is None else r[key][sub])
    return {q: median(v) for q, v in by_query.items()}


def _sum_of_medians(ops, key, sub=None) -> float:
    """Sum over queries of the median of ``key`` (or ``key[sub]``) across
    that query's executions."""
    return float(sum(_medians(ops, key, sub).values()))


def _geomean(values) -> float:
    values = list(values)
    return geometric_mean(values) if values else float("nan")
