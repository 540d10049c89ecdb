"""Readers: typed file scans + the paginated REST-scan semantics.

Reference parity (SURVEY.md §2.1):

- S1: date-cursor pagination with four loop-termination rules
  (``v2022/etl-containers/aggregates/src/aggregates_etl.py:107-167``,
  ``polygon-etl-container/src/aggregates_stocks_etl.py:47-84``,
  ``old_source/old_source_op.py:55-110``).
- S2: ``next_url``-cursor pagination
  (``reference_data_etl.py:36-55``, ``reference_endpoints_etl.py:28-53``).
- S3: typed CSV re-read (``old_source_op.py:130``).
- S6: JSON object scan (``dag_aggregates_etl.py:128-150``) — served by
  the page store in ``restsource.py``.

The REST scans take an injectable ``fetch`` callable (the network layer is
environment-specific and stubbed in tests), but the cursor/termination/
rate-pacing SEMANTICS — the part that determines which rows exist — are
implemented here and unit-tested. Fetched pages land as a DataFrame via
``spark.createDataFrame`` (driver-side ingest) for bronze landing; all
downstream processing is distributed.
"""

from __future__ import annotations

import time
from collections.abc import Callable, Iterator, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType


def read_csv_typed(
    spark: SparkSession, path: str, schema: StructType | str, header: bool = True
) -> DataFrame:
    """S3: schema-first CSV read — no double type inference
    (the reference re-infers with ``pd.read_csv(parse_dates=...)``)."""
    return spark.read.schema(schema).option("header", str(header).lower()).csv(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    predicates: list[str] | None = None,
    properties: dict | None = None,
) -> DataFrame:
    """S4: JDBC read (``SELECT ... FROM reference_db.tickers``,
    ``dag_aggregates_etl.py:54``). Catalyst pushes filters/projections to
    the database; ``predicates`` gives one partition per predicate for
    parallel reads (each executor issues its own WHERE-sliced query).
    Exercised in tests against the embedded Derby database that ships on
    Spark's classpath."""
    if predicates:
        props = {k: str(v) for k, v in (properties or {}).items()}
        return spark.read.jdbc(url, table, predicates=list(predicates), properties=props)
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    return reader.load()


class FetchRetriesExhausted(RuntimeError):
    """A page fetch kept failing after the bounded retry budget.

    Mirrors the reference's failure envelope: per-request status checking
    (``reference_endpoints_etl.py:35-42``) plus task-level ``retries=3``
    (``dag_reference_data_etl_splits.py:16-20``) — but applied per PAGE, so
    a transient mid-scan failure retries the same cursor instead of
    replaying the whole scan.
    """

    def __init__(self, cursor, attempts: int, last_error: Exception):
        super().__init__(
            f"fetch failed after {attempts} attempts at cursor {cursor!r}: "
            f"{last_error!r}"
        )
        self.cursor = cursor
        self.attempts = attempts
        self.last_error = last_error


def fetch_with_retries(
    fetch: Callable,
    cursor,
    max_retries: int = 3,
    retry_backoff: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> dict:
    """Call ``fetch(cursor)`` with bounded retries + exponential backoff.

    Retrying the SAME cursor is safe for both scan shapes: the date-cursor
    scan dedupes page overlap with its monotonic/watermark guards, and a
    ``next_url`` cursor is idempotent by construction. Raises
    :class:`FetchRetriesExhausted` once ``max_retries`` retries (so
    ``max_retries + 1`` attempts) have failed.
    """
    last_error: Exception | None = None
    for attempt in range(max_retries + 1):
        if attempt and retry_backoff:
            sleep(retry_backoff * (2 ** (attempt - 1)))
        try:
            return fetch(cursor)
        except Exception as exc:  # injectable fetch: any failure is transport
            last_error = exc
    raise FetchRetriesExhausted(cursor, max_retries + 1, last_error)


def paginate_date_cursor(
    fetch: Callable[[str], dict],
    start_date: str,
    end_date: str,
    limit: int = 50_000,
    last_entry_ts: int | None = None,
    rate_limit_sleep: float = 0.0,
    max_pages: int = 100_000,
    max_retries: int = 3,
    retry_backoff: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> Iterator[dict]:
    """S1: yield records page-by-page, advancing a date cursor.

    ``fetch(from_date) -> {"results": [...], ...}`` where each record has
    ``t`` (epoch ms, ascending). Implements the reference's four
    loop-termination rules (aggregates_etl.py:142-165) plus its
    monotonic/watermark per-record guards (aggregates_etl.py:127-140):

    1. empty page → stop;
    2. no cursor progress (last date == cursor date) → stop;
    3. cursor reached end_date → stop;
    4. short page (< limit rows) → stop after yielding.

    Fetch failures retry the same cursor with exponential backoff
    (``max_retries`` retries, then :class:`FetchRetriesExhausted`); records
    already yielded are never re-yielded because the monotonic guard drops
    the overlap from a re-fetched page.
    """
    from_date = start_date
    prev_last_t: int | None = None
    for _ in range(max_pages):
        page = fetch_with_retries(
            fetch, from_date, max_retries=max_retries,
            retry_backoff=retry_backoff, sleep=sleep,
        )
        results = page.get("results") or []
        if not results:  # rule 1
            return
        for rec in results:
            t = rec["t"]
            if last_entry_ts is not None and t <= last_entry_ts:
                continue  # watermark guard: already ingested
            if prev_last_t is not None and t <= prev_last_t:
                continue  # monotonic guard: page-overlap duplicate
            prev_last_t = t
            yield rec
        last_date = _ms_to_date(results[-1]["t"])
        if len(results) < limit and last_date >= end_date:  # rule 3
            return
        if len(results) < limit:  # rule 4
            return
        if last_date == from_date:  # rule 2: a full page within one day
            return
        from_date = last_date
        if rate_limit_sleep:
            time.sleep(rate_limit_sleep)


def paginate_next_url(
    fetch: Callable[[str | None], dict],
    rate_limit_sleep: float = 0.0,
    max_pages: int = 100_000,
    max_retries: int = 3,
    retry_backoff: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
) -> Iterator[dict]:
    """S2: yield records following ``next_url`` until absent
    (reference_data_etl.py:36-55). Failed fetches retry the same cursor
    with backoff, then raise :class:`FetchRetriesExhausted`."""
    cursor: str | None = None
    for _ in range(max_pages):
        page = fetch_with_retries(
            fetch, cursor, max_retries=max_retries,
            retry_backoff=retry_backoff, sleep=sleep,
        )
        for rec in page.get("results") or []:
            yield rec
        cursor = page.get("next_url")
        if not cursor:
            return
        if rate_limit_sleep:
            time.sleep(rate_limit_sleep)


def land_records(
    spark: SparkSession,
    records: Sequence[dict] | Iterator[dict],
    schema: StructType | str,
) -> DataFrame:
    """Materialize fetched records as a typed DataFrame (bronze landing).

    Driver-side ingest is the right shape for a rate-limited REST source
    (the bottleneck is the API, not the driver); everything after landing
    is distributed. For replays, read the bronze files instead.
    """
    return spark.createDataFrame(list(records), schema=schema)


def _ms_to_date(ms: int) -> str:
    import datetime as _dt

    return _dt.datetime.utcfromtimestamp(ms / 1000.0).strftime("%Y-%m-%d")
