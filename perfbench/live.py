"""The ``live_bars`` workload: ticks landed as JSON pages into a page store,
turned into one-minute OHLCV bars by ``stream_bars_from_page_store``.

Pages are 500 ticks of one symbol covering exactly one minute of event time,
so each page is exactly one bar ``(ticker, minute)`` and a bar's newest tick
was created with its page. The query starts on a store that already holds a
backlog of one page per symbol; its first micro-batch is the cold start.
Then an open-loop generator thread lands pages on a fixed schedule while the
query runs on a fixed 1.5 s trigger. A page's creation stamp is the time it
was due, so a late generator shows up as lag, and the lag of each bar runs
from that stamp to the sink's commit of the batch that emitted it. Last, on
the warm query, bursts of pages land back to back; each is drained by one
batch, bound by the per-row cost of the page source and the aggregation.
The sink also samples the CPU time of the whole process tree at each
commit (less the JIT compiler), so each batch's CPU cost runs from the
commit before it to its own.

The sink is a ``foreachBatch`` function owned by the benchmark; a
``StreamingQueryListener`` collects each micro-batch's progress, whose
source offsets map batches to pages.
"""

from __future__ import annotations

import json
import math
import os
import random
import threading
import time
from statistics import median

from pyspark.sql.streaming import StreamingQueryListener

from sparkenv import COUNTERS, SparkCounters, catalyst_phases_ms, wait_until
from stats import drain_wall, page_lags, pages_in_batch

SYMBOLS = tuple(f"SYM{i:02d}" for i in range(16))
TICKS_PER_PAGE = 500
PAGES_PER_S = 2.0
# The first seconds of the live phase warm the engine after the cold
# catch-up; their bars are checked but not timed.
WARM_S = 6.0
# A fixed trigger interval longer than a batch: rows per batch stay fixed
# instead of growing whenever one batch runs slow. Spark fires it on the
# wall-clock grid of its multiples; the generator lands its pages at fixed
# offsets in that grid (0.25, 0.75 and 1.25 s), so the wait for the next
# trigger is the same in every run.
TRIGGER_S = 1.5
PHASE_S = 0.25
BACKLOG_PAGES_PER_SYMBOL = 1
# Each burst lands this many pages of every symbol at once (24000 rows).
BURST_PAGES_PER_SYMBOL = 3
DRAINS = 3
# The run's seconds are shared: the drains take about this long each, and
# the timed live phase gets the rest.
DRAIN_S = 2.0
MINUTE_MS = 60_000
BASE_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, on a minute boundary
BAR = "1 minute"
# Spark's StreamingQueryProgress.durationMs keys, in the order a micro-batch
# runs them.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


def make_pages(seed: int, n_pages: int) -> dict[tuple[str, int], dict]:
    """Pages ``0 .. n_pages-1`` of every symbol: strictly increasing tick
    times inside the page's minute and a per-symbol random walk in price."""
    rng = random.Random(seed)
    price = {s: 50.0 + 450.0 * rng.random() for s in SYMBOLS}
    pages = {}
    for idx in range(n_pages):
        for sym in SYMBOLS:
            start = BASE_MS + idx * MINUTE_MS
            ticks = []
            for off in sorted(rng.sample(range(MINUTE_MS), TICKS_PER_PAGE)):
                price[sym] = round(max(1.0, price[sym] * (1 + rng.gauss(0, 2e-4))), 4)
                p = price[sym]
                ticks.append({
                    "t": start + off, "o": p, "h": p, "l": p, "c": p,
                    "v": float(rng.randint(1, 500)), "vw": p, "n": 1,
                })
            pages[(sym, idx)] = {"results": ticks}
    return pages


class Progress(StreamingQueryListener):
    """Keeps every micro-batch's progress, keyed by (run id, batch id)."""

    def __init__(self):
        self.batches: dict[tuple[str, int], dict] = {}
        self._lock = threading.Lock()

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        src = p.sources[0] if p.sources else None
        state = p.stateOperators[0] if p.stateOperators else None
        rec = {
            "duration": dict(p.durationMs),
            "rows": p.numInputRows,
            "start": _offset(src.startOffset) if src else None,
            "end": _offset(src.endOffset) if src else None,
            "state_rows": state.numRowsTotal if state else 0,
            "state_bytes": state.memoryUsedBytes if state else 0,
        }
        with self._lock:
            self.batches[(str(p.runId), p.batchId)] = rec

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def of_run(self, run_id: str) -> dict[int, dict]:
        with self._lock:
            return {b: r for (rid, b), r in self.batches.items() if rid == run_id}


def _offset(raw):
    if raw is None or raw in ("None", "null", ""):
        return None
    return json.loads(raw) if isinstance(raw, str) else raw


class Sink:
    """The benchmark's ``foreachBatch`` sink: collects each batch's bars and
    stamps its call and its commit, on the wall clock and in process-tree
    CPU time (``cpu[-1]`` is the sample taken as the query starts). With ``traced``, every other live batch (odd ids) also
    runs under its own job group, and its Spark counters and Catalyst phases
    are read after the commit stamp."""

    def __init__(self, traced: bool, cpu_s):
        self.traced = traced
        self.cpu_s = cpu_s
        self.calls: dict[int, float] = {}
        self.commits: dict[int, float] = {}
        self.cpu: dict[int, float] = {}
        self.rows: dict[int, list] = {}
        self.counters: dict[int, dict] = {}

    def __call__(self, batch_df, batch_id: int) -> None:
        self.calls[batch_id] = time.perf_counter()
        traced = self.traced and batch_id % 2 == 1
        if traced:
            counters = SparkCounters(batch_df.sparkSession)
            counters.set_group(f"live/{batch_id}")
            gc0 = counters.gc_ms()
        rows = batch_df.collect()
        self.commits[batch_id] = time.perf_counter()
        self.cpu[batch_id] = self.cpu_s()
        self.rows[batch_id] = rows
        if traced:
            rec = counters.read(f"live/{batch_id}")
            rec["gc_ms"] = counters.gc_ms() - gc0
            rec.update(catalyst_phases_ms(batch_df._jdf.queryExecution()))
            counters.clear_group()
            self.counters[batch_id] = rec

    def cpu_before(self, batch_id: int) -> float:
        """The CPU sample at the commit of the batch before this one."""
        return max(v for b, v in self.cpu.items() if b < batch_id)

    def batch_cpu(self, batch_id: int) -> float:
        """CPU seconds from the commit of the batch before to this one's."""
        return self.cpu[batch_id] - self.cpu_before(batch_id)

    def final_bars(self) -> dict[tuple[str, int], tuple]:
        """The last emitted version of every bar, keyed by (ticker, minute
        start in epoch ms)."""
        out = {}
        for bid in sorted(self.rows):
            for r in self.rows[bid]:
                out[(r["ticker"], _epoch_ms(r["bucket_start"]))] = _bar(r)
        return out


def _epoch_ms(ts) -> int:
    # Bars are in UTC (the engine pins the session time zone); naive
    # datetimes returned by collect() are read as UTC.
    import calendar

    return calendar.timegm(ts.timetuple()) * 1000 + ts.microsecond // 1000


def _bar(r) -> tuple:
    return (r["open"], r["high"], r["low"], r["close"], r["volume"], r["n_trades"], r["vwap"])


def _same_bar(a: tuple, b: tuple) -> bool:
    return a[:4] == b[:4] and a[5] == b[5] and all(
        math.isclose(x, y, rel_tol=1e-9) for x, y in ((a[4], b[4]), (a[6], b[6]))
    )


class LiveWorkload:
    def __init__(self, ctx):
        from polygon_algotrading_env_spark.sources.restsource import PageStore

        self.ctx = ctx
        self.PageStore = PageStore
        self.root = os.path.join(ctx.work, "pages")
        self.staging_root = os.path.join(ctx.work, "staging")
        self.listener = Progress()
        # Backlog pages are index 0 of each symbol; live pages follow, then
        # the bursts, each symbol's pages numbered without gaps.
        self.n_warm = int(WARM_S * PAGES_PER_S)
        live_s = max(1.0, ctx.seconds - DRAINS * DRAIN_S)
        self.n_live = self.n_warm + int(live_s * PAGES_PER_S)
        per_symbol = (
            BACKLOG_PAGES_PER_SYMBOL + math.ceil(self.n_live / len(SYMBOLS))
            + DRAINS * BURST_PAGES_PER_SYMBOL
        )
        t0 = time.perf_counter()
        self.pages = make_pages(ctx.seed, per_symbol)
        self.gen_s = time.perf_counter() - t0
        self.next_idx = dict.fromkeys(SYMBOLS, BACKLOG_PAGES_PER_SYMBOL)
        self.df = None
        self.build: tuple[float, float, int] | None = None

    def build_query(self) -> None:
        """Register the listener and build the streaming query's DataFrame,
        which resolves the page source's schema in a Python planner. With
        tracing, the build call's wall, CPU time and job count are kept."""
        from polygon_algotrading_env_spark.streaming.pipeline import stream_bars_from_page_store

        spark = self.ctx.session.spark
        spark.streams.addListener(self.listener)
        counters = SparkCounters(spark) if self.ctx.trace else None
        if counters:
            counters.set_group("live/build")
        cpu = self.ctx.session.cpu_s
        c0, t0 = cpu(), time.perf_counter()
        self.df = stream_bars_from_page_store(spark, self.root, duration=BAR, symbols=SYMBOLS)
        t1, c1 = time.perf_counter(), cpu()
        if counters:
            counters.clear_group()
            self.build = (t1 - t0, c1 - c0, counters.read("live/build")["jobs"])

    def _stage(self, pages: list[tuple[str, int]], staging) -> None:
        for sym, idx in pages:
            staging.write_page(sym, idx, self.pages[(sym, idx)])

    def _publish(self, pages: list[tuple[str, int]]) -> None:
        """Land staged pages whole, by renaming them into the live store, as
        an object-store put would."""
        for sym, idx in pages:
            name = f"{sym}/page-{idx}.json"
            os.replace(os.path.join(self.staging_root, name), os.path.join(self.root, name))

    def _take(self, sym: str) -> tuple[str, int]:
        idx = self.next_idx[sym]
        self.next_idx[sym] = idx + 1
        return sym, idx

    def _generate(self, stop: threading.Event, log: dict) -> None:
        """Land the live pages on schedule, round-robin over the symbols;
        record each page's due time (its creation stamp), publish time and
        lateness."""
        staging = self.PageStore(self.staging_root)
        # Start on the trigger grid: a full interval ahead, at PHASE_S.
        t0 = _next_grid() + PHASE_S
        log["measured_from"] = t0 + WARM_S
        for k in range(self.n_live):
            due = t0 + k / PAGES_PER_S
            if stop.wait(max(0.0, due - time.perf_counter())):
                return
            key = self._take(SYMBOLS[k % len(SYMBOLS)])
            self._stage([key], staging)
            self._publish([key])
            now = time.perf_counter()
            log["created"][key] = due
            log["published"].append(now)
            log["late"].append(now - due)

    def _bursts(self, sink: Sink, after: float) -> list[dict[tuple[str, int], float]]:
        """Land the bursts back to back on the warm query, each as soon as a
        sink call begins after the previous landing (the first: after the
        last live page). That batch planned its offsets before the burst
        landed, so the burst is whole in the batch that starts right after
        it commits. Returns each burst's pages with their landing time."""
        staging = self.PageStore(self.staging_root)
        bursts = [
            [self._take(s) for _ in range(BURST_PAGES_PER_SYMBOL) for s in SYMBOLS]
            for _ in range(DRAINS)
        ]
        for keys in bursts:
            self._stage(keys, staging)
        out, prev = [], after
        for keys in bursts:
            if not wait_until(lambda: max(sink.calls.values()) > prev, 60):
                raise RuntimeError("no micro-batch started")
            self._publish(keys)
            prev = time.perf_counter()
            out.append(dict.fromkeys(keys, prev))
        return out

    def stream(self) -> dict:
        """Start the query on the backlog and wait for its cold first batch,
        run the open-loop generator for the warm-up and the timed live phase,
        then land and drain the bursts."""
        ctx, spark = self.ctx, self.ctx.session.spark
        sink = Sink(ctx.trace, ctx.session.cpu_s)
        sink.cpu[-1] = sink.cpu_s()
        t0 = time.perf_counter()
        q = (
            self.df.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", os.path.join(ctx.work, "checkpoint"))
            .trigger(processingTime=f"{int(TRIGGER_S * 1000)} milliseconds")
            .start()
        )
        if not wait_until(lambda: 0 in sink.commits, 120):
            raise RuntimeError("the first batch did not commit")
        cold_s = sink.commits[0] - t0
        setup_s = ctx.since_start() - self.gen_s
        ctx.log(f"cold start {cold_s:.2f}s")

        log = {"created": {}, "published": [], "late": [], "measured_from": math.inf}
        stop = threading.Event()
        gen = threading.Thread(target=self._generate, args=(stop, log), name="tick-generator")
        gen.start()
        try:
            gen.join(timeout=self.n_live / PAGES_PER_S + 60)
        finally:
            stop.set()
            gen.join(timeout=30)
        if gen.is_alive():
            raise RuntimeError("tick generator did not stop")
        bursts = self._bursts(sink, log["published"][-1])
        live_end = min(bursts[0].values())
        q.processAllAvailable()
        q.stop()
        rid = str(q.runId)
        if not wait_until(lambda: set(sink.commits) <= set(self.listener.of_run(rid)), 30):
            raise RuntimeError("streaming progress events did not arrive")
        progress = self.listener.of_run(rid)
        ctx.log("batches (rows, trigger ms, cpu ms): " + " ".join(
            f"{p['rows']}/{p['duration'].get('triggerExecution', 0)}/{1000 * sink.batch_cpu(b):.0f}"
            for b, p in sorted(progress.items())
        ))
        batches = [(p["start"], p["end"], sink.commits[b]) for b, p in sorted(progress.items())]
        lags, missing = page_lags(batches, log["created"])
        # Each batch's triggerExecution ends just after the sink's commit.
        timed = [
            (p["start"], p["end"], sink.commits[b] - p["duration"].get("triggerExecution", 0) / 1000.0, sink.commits[b])
            for b, p in sorted(progress.items())
        ]
        drain_s = [drain_wall(timed, burst) for burst in bursts]
        # The same span in CPU time: from the commit before the first batch
        # that read the burst to the commit of the last.
        on_cpu = [(p["start"], p["end"], sink.cpu_before(b), sink.cpu[b]) for b, p in sorted(progress.items())]
        drain_cpu_s = [drain_wall(on_cpu, burst) for burst in bursts]
        ctx.log("drains " + " ".join(f"{w:.3f}s/{c:.2f}s cpu" for w, c in zip(drain_s, drain_cpu_s)))
        # Pages landed but not yet consumed when each live batch committed.
        backlog = [
            BACKLOG_PAGES_PER_SYMBOL * len(SYMBOLS)
            + sum(1 for t in log["published"] if t <= commit)
            - sum(len(r) for r in pages_in_batch({}, end).values())
            for _, end, commit in batches if commit <= live_end
        ]
        if ctx.trace:
            self._trace_batches(sink, progress)
        return {
            "sink": sink, "progress": progress, "created": log["created"], "lags": lags,
            "missing": missing, "backlog_max": max(backlog, default=0),
            "bursts": bursts, "batches": batches, "drain_s": drain_s, "drain_cpu_s": drain_cpu_s,
            "measured_from": log["measured_from"], "live_end": live_end,
            "late_max_ms": max(log["late"], default=0.0) * 1000.0,
            "setup_s": setup_s, "cold_s": cold_s,
            "pinned": spark.sparkContext._jsc.getPersistentRDDs().size(),
        }

    def _trace_batches(self, sink: Sink, progress: dict[int, dict]) -> None:
        """One span per micro-batch, ending at the sink's commit, with the
        batch's phases laid out in the order Spark runs them."""
        for bid, p in progress.items():
            d = p["duration"]
            end = sink.commits[bid]
            start = end - d.get("triggerExecution", 0) / 1000.0
            op = f"live/{bid}"
            parent = self.ctx.tracer.add("stream.batch", start, end, op)
            t = start
            for phase in PHASES:
                ms = d.get(phase, 0)
                if ms:
                    self.ctx.tracer.add(f"stream.{phase}", t, t + ms / 1000.0, op, parent)
                    t += ms / 1000.0

    def reference_bars(self) -> dict[tuple[str, int], tuple]:
        """Bars over the same landed pages, from the batch reader and the
        batch ``ohlcv_bars`` operator."""
        import pyspark.sql.functions as F

        from polygon_algotrading_env_spark.operators.bars import ohlcv_bars

        spark = self.ctx.session.spark
        ticks = (
            spark.read.format("polygon_pages").option("path", self.root)
            .option("symbols", ",".join(SYMBOLS)).load()
            .withColumn("ts", F.timestamp_millis("t").cast("timestamp"))
        )
        rows = ohlcv_bars(ticks, "ts", "c", BAR, keys=("ticker",), volume_col="v").collect()
        return {(r["ticker"], _epoch_ms(r["bucket_start"])): _bar(r) for r in rows}

    def run(self) -> dict:
        ctx = self.ctx
        store = self.PageStore(self.root)
        backlog = [(s, i) for s in SYMBOLS for i in range(BACKLOG_PAGES_PER_SYMBOL)]
        for sym, idx in backlog:
            store.write_page(sym, idx, self.pages[(sym, idx)])
        t0 = time.perf_counter()
        ctx.session.start()
        start_s = time.perf_counter() - t0
        self.build_query()
        live = self.stream()
        ctx.log(f"live phase: {len(live['lags'])} bars")

        # Correctness: every landed page is one bar; it must be emitted and
        # equal the batch operator's bar over the same pages.
        ref = self.reference_bars()
        got = live["sink"].final_bars()
        landed = dict.fromkeys(backlog, 0.0) | live["created"]
        for burst in live["bursts"]:
            landed |= burst
        emitted, _ = page_lags(live["batches"], landed)
        for key in sorted(landed):
            bar = (key[0], BASE_MS + key[1] * MINUTE_MS)
            ok = key in emitted and bar in got and bar in ref and _same_bar(got[bar], ref[bar])
            ctx.ledger.record(ok, f"page {key}")
        return self.summarize(start_s, live)

    def summarize(self, start_s, live) -> dict:
        progress, sink = live["progress"], live["sink"]
        # Timed live batches: those that read pages, began after the warm-up
        # (their previous batch committed after it) and committed before the
        # bursts. A batch's wall is Spark's triggerExecution, from trigger
        # start to offset commit.
        t_from, t_to = live["measured_from"], live["live_end"]
        batches = {
            b: p for b, p in progress.items()
            if b > 0 and p["rows"] and sink.commits.get(b - 1, 0.0) >= t_from
            and sink.commits[b] <= t_to
        }
        wall_s = {b: p["duration"].get("triggerExecution", 0) / 1000.0 for b, p in batches.items()}
        plain = [v for b, v in wall_s.items() if b not in sink.counters]
        plain_cpu = [sink.batch_cpu(b) for b in batches if b not in sink.counters]
        created = live["created"]
        lags_ms = [v * 1000.0 for k, v in live["lags"].items() if created[k] >= t_from]
        e2e = {
            "setup_s": live["setup_s"],
            "pass_cpu_s": median(live["drain_cpu_s"]),
            "op_cpu_ms": 1000.0 * median(plain_cpu) if plain_cpu else float("nan"),
        }
        info = {
            "pass_s": median(live["drain_s"]),
            "lag_p50_ms": median(lags_ms) if lags_ms else float("nan"),
            "drain_cpu_s": live["drain_cpu_s"],
            "start_s": start_s,
            "warm_s": live["setup_s"] - start_s,
            "warm_what": "query build and cold first batch",
            "drain_s": live["drain_s"],
            "burst_rows": BURST_PAGES_PER_SYMBOL * len(SYMBOLS) * TICKS_PER_PAGE,
            "batches": len(plain),
            "batch_s": median(plain) if plain else float("nan"),
            "lags_ms": lags_ms,
            "live_pages": len(created),
            "missing_pages": len(live["missing"]),
            "backlog_pages_max": live["backlog_max"],
            "gen_late_ms_max": live["late_max_ms"],
            "stream_ms": {
                k: median(p["duration"].get(k, 0) for p in batches.values()) if batches else 0.0
                for k in (*PHASES, "triggerExecution")
            },
        }
        layers = {}
        traced = [sink.counters[b] for b in batches if b in sink.counters]
        if traced:
            def med(key):
                return float(median(c[key] for c in traced))

            def mean(key):
                # GC and Catalyst phases are whole milliseconds, often 0 in
                # one batch; the mean keeps what the median would round off.
                return sum(c[key] for c in traced) / len(traced)

            def phase_ms(key):
                return float(median(p["duration"].get(key, 0) for p in batches.values()))

            layers = {
                "session.start_s": start_s,
                "session.warm_s": live["cold_s"],
                "queries.build_s": self.build[0],
                "queries.build_cpu_s": self.build[1],
                "queries.build_jobs": self.build[2],
                "exec.action_s": median(
                    batches[b]["duration"].get("addBatch", 0) / 1000.0 for b in sink.counters if b in batches
                ),
                "exec.action_cpu_s": median(sink.batch_cpu(b) for b in sink.counters if b in batches),
                **{f"exec.{k}": med(k) for k in COUNTERS},
                "exec.gc_ms": mean("gc_ms"),
                **{f"catalyst.{k}_ms": mean(k) for k in ("analysis", "optimization", "planning")},
                "operators.pinned_rdds": live["pinned"],
                "trace.overhead_s": median(
                    v for b, v in wall_s.items() if b in sink.counters
                ) - info["batch_s"],
            }
            # The sources and streaming layers run only here, so their
            # metrics are printed and kept out of the JSON, which holds the
            # metrics every workload measures.
            info["layers_printed"] = {
                "sources.latest_offset_ms": phase_ms("latestOffset"),
                "stream.planning_ms": phase_ms("queryPlanning"),
                "stream.wal_commit_ms": phase_ms("walCommit"),
                "stream.commit_offsets_ms": phase_ms("commitOffsets"),
                "stream.trigger_ms": phase_ms("triggerExecution"),
                "stream.add_batch_ms": phase_ms("addBatch"),
                "stream.batches": len(batches),
                "stream.rows_per_batch": median(p["rows"] for p in batches.values()),
                "stream.state_rows": max(p["state_rows"] for p in batches.values()),
                "stream.state_bytes": max(p["state_bytes"] for p in batches.values()),
                "stream.backlog_pages_max": live["backlog_max"],
                "gen.late_ms_max": live["late_max_ms"],
            }
        return {"e2e": e2e, "layers": layers, "info": info}


def _next_grid() -> float:
    """The ``perf_counter`` time of the trigger-grid point one whole
    interval after the next one. Spark fires a processing-time trigger on
    the wall-clock multiples of its interval."""
    now, wall = time.perf_counter(), time.time()
    grid = (math.floor(wall / TRIGGER_S) + 2) * TRIGGER_S
    return now + (grid - wall)
