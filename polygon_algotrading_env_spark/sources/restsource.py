"""Custom Python DataSource for paginated market-data ingest (Spark 4
``spark.dataSource.register`` — the native form of SURVEY.md §2.1 S1).

Unlike the driver-side ``paginate_date_cursor`` landing path (right for
one rate-limited API), a DataSource distributes the scan: whole symbols
are packed, in sorted order, into input partitions of up to
``PAGES_PER_TASK`` unread pages, and each executor task runs the cursor
loop for its symbols in turn. That is the reference's ticker fan-out
(``main.py:40-44``, ``dag_aggregates_etl.py:363-366``) executed as Spark
tasks instead of sequential ECS containers, with many tickers to a task
because a Python task's fixed set-up cost outweighs reading a few pages.

The endpoint is abstracted as a *page store*: ``{root}/{symbol}/page-N.json``
objects, each ``{"results": [...]}``. The store speaks ANY filesystem
pyarrow resolves from the root URI — a local directory in tests,
``s3://bucket/prefix`` in production — which makes this the native
replacement for the reference's boto3-against-S3 landing zone
(``aggregates_etl.py:119-125``, listing ``dag_aggregates_etl.py:98-125``).
pyarrow.fs is pure-Python-callable on executors (no JVM gateway, unlike
the Hadoop FS probe used driver-side in fsutil.py), so both the batch
``read`` and the streaming ``read`` stay executor-side on remote stores.

Live mode (``fetcher`` option) adds the reference's HTTP pull itself,
executor-side: each micro-batch EMITS the already-landed pages for its
offset range, then fetches up to ``maxpagespertrigger`` new pages per
symbol through the shared retry/backoff envelope (readers.py) and LANDS
them in the store — land-then-emit, the reference's own architecture
(fetch → S3 raw zone → parse). Landed pages are immutable (an existing
page index is never overwritten), so replaying a failed batch emits the
identical rows and exactly-once holds even though the API itself is not
replayable.
"""

from __future__ import annotations

import json
import re
import time
from collections.abc import Callable, Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.types import StructType

DEFAULT_SCHEMA = (
    "ticker string, t long, o double, h double, l double, c double, "
    "v double, vw double, n long"
)

# DataSource options are strings, and Spark constructs the reader in a
# separate Python planner process (then pickles it to executors) — a
# registry in the driver process is invisible there. A live fetcher
# therefore travels INSIDE the option value, one of two ways:
#
# - ``fetcher`` = ``"package.module:attr"`` — an importable module-level
#   callable ``fn(symbol, page_index) -> {"results": [...]}`` (production:
#   the HTTP client lives in deployed code);
# - ``fetcherpickle`` = ``encode_fetcher(fn)`` — a base64 cloudpickle
#   payload, so tests can inject closures over in-memory fixtures.
#
# An empty/missing ``results`` list means the API has no further pages.


def encode_fetcher(fn: Callable[[str, int], dict]) -> str:
    """Serialize a page fetcher for the ``fetcherpickle`` option."""
    import base64

    from pyspark import cloudpickle

    return base64.b64encode(cloudpickle.dumps(fn)).decode("ascii")


def _resolve_fetcher(options: dict) -> Callable[[str, int], dict] | None:
    if "fetcherpickle" in options:
        import base64

        from pyspark import cloudpickle

        return cloudpickle.loads(base64.b64decode(options["fetcherpickle"]))
    path = options.get("fetcher")
    if path is None:
        return None
    import importlib

    mod_name, sep, attr = path.replace(":", ".").rpartition(".")
    if not sep:
        raise ValueError(
            f"fetcher must be 'package.module:attr', got {path!r}"
        )
    try:
        fn = getattr(importlib.import_module(mod_name), attr)
    except (ImportError, AttributeError) as exc:
        raise ValueError(f"cannot import page fetcher {path!r}: {exc}") from exc
    if not callable(fn):
        raise ValueError(f"page fetcher {path!r} is not callable")
    return fn


def _page_sort_key(name: str) -> tuple:
    """Order page files by their numeric page index, not lexicographically.

    ``sorted()`` on raw names reads ``page-10.json`` before ``page-2.json``;
    the monotonic guard below would then silently drop every record of
    pages 2-9 for any symbol with >=10 pages. Extract the first integer in
    the filename and sort on it; names with no digits sort last, by name.
    """
    m = re.search(r"(\d+)", name)
    return (0, int(m.group(1)), name) if m else (1, 0, name)


class PageStore:
    """Executor-safe page-store client. Holds only the root URI (trivially
    picklable); the pyarrow FileSystem is resolved lazily per process via
    ``FileSystem.from_uri`` (plain paths resolve to the local FS).

    ``filesystem`` injects a pre-built pyarrow FileSystem (tests use the
    in-memory mock FS to prove the store is not local-FS-bound); injected
    filesystems don't survive pickling, so use them driver-side only.
    """

    def __init__(self, root: str, filesystem=None):
        self.root = root
        self._fsys = filesystem
        self._base = root if filesystem is not None else None

    def __getstate__(self):
        return {"root": self.root}

    def __setstate__(self, state):
        self.root = state["root"]
        self._fsys = None
        self._base = None

    def _fs(self):
        if self._fsys is None:
            from pyarrow import fs as pafs

            self._fsys, self._base = pafs.FileSystem.from_uri(self.root)
        return self._fsys, self._base

    def list_symbols(self) -> list[str]:
        from pyarrow import fs as pafs

        fsys, base = self._fs()
        try:
            infos = fsys.get_file_info(pafs.FileSelector(base, recursive=False))
        except (FileNotFoundError, OSError):
            return []
        return sorted(
            i.base_name for i in infos if i.type == pafs.FileType.Directory
        )

    def list_pages(self, symbol: str) -> list[str]:
        from pyarrow import fs as pafs

        fsys, base = self._fs()
        try:
            infos = fsys.get_file_info(
                pafs.FileSelector(f"{base}/{symbol}", recursive=False)
            )
        except (FileNotFoundError, OSError):
            return []
        return sorted(
            (i.base_name for i in infos if i.type == pafs.FileType.File),
            key=_page_sort_key,
        )

    def read_page(self, symbol: str, page_name: str) -> dict:
        fsys, base = self._fs()
        with fsys.open_input_stream(f"{base}/{symbol}/{page_name}") as f:
            return json.loads(f.read().decode("utf-8"))

    def page_exists(self, symbol: str, index: int) -> bool:
        from pyarrow import fs as pafs

        fsys, base = self._fs()
        info = fsys.get_file_info(f"{base}/{symbol}/page-{index}.json")
        return info.type != pafs.FileType.NotFound

    def write_page(self, symbol: str, index: int, payload: dict) -> bool:
        """Land a page at ``index`` iff absent (landed pages are immutable
        — replay determinism depends on it). Returns True if written."""
        fsys, base = self._fs()
        if self.page_exists(symbol, index):
            return False
        body = json.dumps(payload).encode("utf-8")
        if self._put_small_object_s3(f"{symbol}/page-{index}.json", body):
            return True
        fsys.create_dir(f"{base}/{symbol}", recursive=True)
        with fsys.open_output_stream(
            f"{base}/{symbol}/page-{index}.json"
        ) as f:
            f.write(body)
        return True

    def _put_small_object_s3(self, rel_key: str, body: bytes) -> bool:
        """Single-request PutObject fast path for ``s3://`` roots. A landed
        page is a small JSON object, and pyarrow's S3 output stream always
        runs the multipart protocol — three round trips (Create/UploadPart/
        Complete) per object. At ingest scale that is 3x the request count
        and 3x the request cost for no benefit below the multipart
        threshold, so S3 roots PUT directly via boto3 when it's available
        (endpoint/scheme/region come from the same from_uri query params
        pyarrow reads; credentials from the standard env/profile chain,
        exactly as pyarrow resolves them). Returns False — caller falls
        back to the generic pyarrow stream — for non-S3 roots or when
        boto3 isn't importable."""
        from urllib.parse import parse_qs, unquote, urlsplit

        u = urlsplit(self.root)
        if u.scheme != "s3":
            return False
        try:
            import boto3
        except ImportError:
            return False
        if getattr(self, "_s3_client", None) is None:
            q = parse_qs(u.query)
            endpoint = q.get("endpoint_override", [None])[0]
            scheme = q.get("scheme", ["https"])[0]
            # honor credential-bearing URIs (s3://key:secret@bucket/...)
            # exactly as pyarrow's FileSystem.from_uri does; otherwise the
            # standard env/profile chain applies. urlsplit returns the
            # userinfo still percent-encoded (AWS secrets routinely contain
            # '/' or '+', which MUST be %-encoded in a URI), while pyarrow
            # decodes it — unquote before handing to boto3 so both paths
            # sign with the same secret.
            self._s3_client = boto3.client(
                "s3",
                endpoint_url=f"{scheme}://{endpoint}" if endpoint else None,
                region_name=q.get("region", [None])[0],
                aws_access_key_id=(
                    unquote(u.username) if u.username is not None else None
                ),
                aws_secret_access_key=(
                    unquote(u.password) if u.password is not None else None
                ),
            )
        prefix = u.path.strip("/")
        self._s3_client.put_object(
            Bucket=u.hostname,
            Key=f"{prefix}/{rel_key}" if prefix else rel_key,
            Body=body,
        )
        return True


# Unread pages one Python read task covers. A Python task pays about 0.2 s
# of worker CPU before it reads a byte (ARCHITECTURE.md, "Python is
# quarantined"), and reading a 500-tick page takes about 2 ms, so a task
# must hold about 0.2 s / 2 ms = 100 pages before its reads cost as much as
# its set-up. Rounded up to 128: set-up is then under half of a full task,
# and a backfill of thousands of pages still spreads over many tasks.
PAGES_PER_TASK = 128


def _pack(ranges: list[tuple[str, int, int]]) -> list[list[tuple[str, int, int]]]:
    """Group ``(symbol, start_page, end_page)`` ranges, in their given
    order, into partitions of at most ``PAGES_PER_TASK`` pages, skipping
    empty ranges. A range is never split: its monotonic guard is seeded
    from the last record of the page before it, which matches a sequential
    read only when the pages are in time order, so one task reads a
    symbol's pages in turn. A range longer than the cap gets a partition
    of its own."""
    groups: list[list[tuple[str, int, int]]] = []
    group: list[tuple[str, int, int]] = []
    size = 0
    for rng in ranges:
        n = rng[2] - rng[1]
        if n <= 0:
            continue
        if group and size + n > PAGES_PER_TASK:
            groups.append(group)
            group, size = [], 0
        group.append(rng)
        size += n
    if group:
        groups.append(group)
    return groups


class PagesPartition(InputPartition):
    """One read task: ``(symbol, start_page, end_page)`` ranges read in
    order. ``pages`` maps each symbol to its page names when the planner
    listed them (batch reads); stream tasks list the store themselves,
    because stream offsets hold page counts only."""

    def __init__(
        self,
        ranges: list[tuple[str, int, int]],
        pages: dict[str, list[str]] | None = None,
    ):
        self.ranges = ranges
        self.pages = pages


class _PageScan:
    """Options and the per-symbol page loop the batch and stream readers
    share."""

    page_gap_ms = 0

    def __init__(self, schema: StructType, options: dict):
        self.schema = schema
        self.store = PageStore(options["path"])
        self.symbols = [s for s in options.get("symbols", "").split(",") if s]
        self.last_entry_ts = (
            int(options["lastentryts"]) if "lastentryts" in options else None
        )
        # Per-symbol watermarks (JSON {symbol: max_ts}) — options are
        # strings, so the bookmark table travels serialized; falls back to
        # the global lastentryts for symbols not in the map. A stream skips
        # records at or below them even on its FIRST batch: checkpointed
        # page offsets only protect restarts of the same query, and a
        # brand-new stream over a store with history needs the bookmark to
        # avoid re-emitting already-landed rows.
        self.wm_by_symbol: dict[str, int] = {
            k: int(v)
            for k, v in json.loads(options.get("lastentrybysymbol", "{}")).items()
        }

    def _scan(
        self,
        symbol: str,
        pages: list[str],
        start: int,
        end: int,
        stop_at_empty: bool,
    ) -> Iterator[tuple]:
        """Rows of pages ``pages[start:end]`` of one symbol. Each range has
        its own watermark and monotonic guard; a range starting at page
        N > 0 seeds the guard from the last record of page N-1, so the
        overlap duplicate that straddles a batch boundary is dropped (one
        extra page read, no cross-batch state). ``stop_at_empty`` ends the
        symbol at its first empty page (the batch scan's termination rule);
        a stream reads on, since its offsets already cover the range."""
        fields = [f.name for f in self.schema.fields]
        watermark = self.wm_by_symbol.get(symbol, self.last_entry_ts)
        prev_last_t = None
        if start > 0:
            prior = self.store.read_page(symbol, pages[start - 1]).get("results") or []
            if prior:
                prev_last_t = prior[-1]["t"]
        for page_name in pages[start:end]:
            if self.page_gap_ms:
                time.sleep(self.page_gap_ms / 1000.0)
            results = self.store.read_page(symbol, page_name).get("results") or []
            if not results and stop_at_empty:
                break  # termination rule 1: empty page
            for rec in results:
                t = rec["t"]
                if watermark is not None and t <= watermark:
                    continue  # watermark guard
                if prev_last_t is not None and t <= prev_last_t:
                    continue  # monotonic guard (page-overlap dup)
                prev_last_t = t
                rec = {**rec, "ticker": symbol}
                yield tuple(rec.get(name) for name in fields)


class PolygonPagesReader(_PageScan, DataSourceReader):
    def partitions(self):
        # Listing is metadata only and runs on the planner; tasks get the
        # page names and only read.
        pages = {
            s: self.store.list_pages(s)
            for s in sorted(self.symbols or self.store.list_symbols())
        }
        # Spark turns an empty list into one read(None) call, so a store
        # with no pages plans one empty partition instead.
        return [
            PagesPartition(group, {s: pages[s] for s, _, _ in group})
            for group in _pack([(s, 0, len(names)) for s, names in pages.items()])
        ] or [PagesPartition([], {})]

    def read(self, partition: PagesPartition) -> Iterator[tuple]:
        for symbol, start, end in partition.ranges:
            yield from self._scan(
                symbol, partition.pages[symbol], start, end, stop_at_empty=True
            )


class PolygonPagesStreamReader(_PageScan, DataSourceStreamReader):
    """Micro-batch streaming form of the paginated ingest — the native
    Structured Streaming replacement for the reference's daily
    Airflow→ECS incremental pull (``aggregates_etl.py:89-167``,
    watermark plumbing ``dag_aggregates_etl.py:128-179``).

    OFFSETS are the checkpointed date-cursor: ``{"pages": {symbol:
    consumed_page_count}}``. ``latestOffset`` lists the page store on the
    driver (a metadata listing, no data read); ``partitions(start, end)``
    packs whole symbols with unread pages, in sorted order, into input
    partitions of up to ``PAGES_PER_TASK`` pages, and ``read`` runs
    executor-side — the same packing as the batch reader, so throughput
    scales with executors rather than the driver (unlike
    ``SimpleDataSourceStreamReader``, which reads on the driver), while a
    micro-batch of a few pages costs one Python task, not one per symbol.

    Exactly-once comes from the offset contract: Spark checkpoints
    ``(start, end)`` per micro-batch and replays a failed batch with the
    SAME page range, and pages are immutable once written. The by-design
    page-overlap duplicate is dropped even when the overlap straddles a
    batch boundary: a symbol's range starting at page N > 0 seeds its
    monotonic guard from the last record of page N-1 (one extra page
    read, no cross-batch state).

    Rate-limit pacing: ``minpagegapms`` sleeps between page reads inside
    each task — the executor-side analogue of the reference's paced
    next_url loop (``aggregates_etl.py:152-166``).

    LIVE mode (``fetcher`` = importable ``module:attr`` path, or
    ``fetcherpickle`` = :func:`encode_fetcher` payload) keeps ONE input
    partition per symbol: there a task's cost is network waits and
    pacing, and the per-ticker pull is the reference's contract. Offsets
    still cover only LANDED pages; after emitting its offset range, each
    task pulls up to
    ``maxpagespertrigger`` new pages for its symbol through
    ``fetch_with_retries`` (same bounded-retry/backoff envelope as the
    batch REST loop, readers.py) and lands them at the next page indices
    — skipping any index that already exists, so a replayed batch never
    rewrites history. Newly landed pages are emitted by the NEXT
    micro-batch (one-batch landing latency — the price of keeping
    offsets deterministic over a non-replayable API). Live mode requires
    an explicit ``symbols`` list: the fan-out is driven by the tickers
    dimension, exactly like the reference (``main.py:35-44``).

    New symbols appearing in the store are picked up by the next
    ``latestOffset`` and start from page 0. A restarted query resumes
    from the checkpointed offsets, never the initial ones.
    """

    def __init__(self, schema: StructType, options: dict):
        super().__init__(schema, options)
        self.page_gap_ms = int(options.get("minpagegapms", "0"))
        self.fetch_page = _resolve_fetcher(options)
        if self.fetch_page is not None and not self.symbols:
            raise ValueError(
                "live fetch mode requires an explicit 'symbols' option"
            )
        self.max_pages_per_trigger = int(options.get("maxpagespertrigger", "10"))
        self.max_retries = int(options.get("maxretries", "3"))
        self.retry_backoff = float(options.get("retrybackoff", "1.0"))

    def _symbol_list(self) -> list[str]:
        return self.symbols or self.store.list_symbols()

    def initialOffset(self) -> dict:
        return {"pages": {}}

    def latestOffset(self) -> dict:
        return {
            "pages": {
                s: len(self.store.list_pages(s)) for s in self._symbol_list()
            }
        }

    def partitions(self, start: dict, end: dict):
        consumed = start.get("pages", {})
        ranges = [
            (sym, int(consumed.get(sym, 0)), int(end_p))
            for sym, end_p in sorted(end.get("pages", {}).items())
        ]
        if self.fetch_page is not None:
            # Live mode plans a partition even with no unread pages: the
            # task still runs the fetch side of the batch.
            return [PagesPartition([rng]) for rng in ranges]
        # A no-progress batch still needs a partition list; empty is valid.
        return [PagesPartition(group) for group in _pack(ranges)]

    def read(self, partition: PagesPartition) -> Iterator[tuple]:
        for symbol, start, end in partition.ranges:
            pages = self.store.list_pages(symbol)
            yield from self._scan(symbol, pages, start, end, stop_at_empty=False)
            if self.fetch_page is not None:
                self._land_new_pages(symbol, len(pages))

    def _land_new_pages(self, symbol: str, next_index: int) -> None:
        """Executor-side live pull: fetch up to ``maxpagespertrigger``
        pages at the symbol's next page indices and land them immutably.
        Emission happens next batch, once the landed pages are covered by
        a checkpointed offset range."""
        from polygon_algotrading_env_spark.sources.readers import (
            fetch_with_retries,
        )

        for i in range(next_index, next_index + self.max_pages_per_trigger):
            if self.store.page_exists(symbol, i):
                continue  # replay of a batch that already landed this page
            if self.page_gap_ms:
                time.sleep(self.page_gap_ms / 1000.0)
            page = fetch_with_retries(
                lambda idx: self.fetch_page(symbol, idx),
                i,
                max_retries=self.max_retries,
                retry_backoff=self.retry_backoff,
            )
            if not (page.get("results") or []):
                break  # termination rule 1: API has no further pages
            self.store.write_page(symbol, i, page)

    def commit(self, end: dict) -> None:
        pass  # offsets live in the query checkpoint; the store is immutable


class PolygonPagesDataSource(DataSource):
    """Usage::

        spark.dataSource.register(PolygonPagesDataSource)
        df = (spark.read.format("polygon_pages")
              .option("path", page_root)       # local dir or s3://... URI
              .option("symbols", "SPY,TLT")
              .load())

        # streaming (micro-batch incremental pull with checkpointed
        # page-cursor offsets):
        sdf = (spark.readStream.format("polygon_pages")
               .option("path", page_root)
               .load())

        # live streaming: land-then-emit HTTP pull, executor-side;
        # myapp.ingest.fetch_page(symbol, idx) -> {"results": [...]}
        sdf = (spark.readStream.format("polygon_pages")
               .option("path", page_root)
               .option("symbols", "SPY,TLT")
               .option("fetcher", "myapp.ingest:fetch_page")
               .load())
    """

    @classmethod
    def name(cls) -> str:
        return "polygon_pages"

    def schema(self) -> str:
        return DEFAULT_SCHEMA

    def reader(self, schema: StructType) -> DataSourceReader:
        return PolygonPagesReader(schema, self.options)

    def streamReader(self, schema: StructType) -> DataSourceStreamReader:
        return PolygonPagesStreamReader(schema, self.options)
