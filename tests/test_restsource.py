from __future__ import annotations

import json
import os
import shutil
import tempfile

import pytest

from polygon_algotrading_env_spark.sources.restsource import PolygonPagesDataSource

DAY_MS = 86_400_000


@pytest.fixture()
def page_root(spark):
    d = tempfile.mkdtemp(prefix="pae_spark_pages_")
    for sym, days in [("SPY", 5), ("TLT", 3)]:
        os.makedirs(f"{d}/{sym}")
        # two pages, overlapping by one record (the by-design dup)
        recs = [
            {"t": i * DAY_MS, "o": 1.0, "h": 2.0, "l": 0.5, "c": 1.5 + i,
             "v": 10.0, "vw": 1.2, "n": 3}
            for i in range(days)
        ]
        mid = max(days // 2, 1)
        with open(f"{d}/{sym}/page-0.json", "w") as f:
            json.dump({"results": recs[: mid + 1]}, f)
        with open(f"{d}/{sym}/page-1.json", "w") as f:
            json.dump({"results": recs[mid:]}, f)
    spark.dataSource.register(PolygonPagesDataSource)
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_datasource_distributed_scan(spark, page_root):
    df = spark.read.format("polygon_pages").option("path", page_root).load()
    counts = {r["ticker"]: r["cnt"] for r in
              df.groupBy("ticker").count().withColumnRenamed("count", "cnt").collect()}
    assert counts == {"SPY": 5, "TLT": 3}  # overlap deduped per partition
    assert df.schema["t"].dataType.simpleString() == "bigint"
    # Both symbols' 4 pages fit one packed read task (PAGES_PER_TASK).
    assert df.rdd.getNumPartitions() == 1


def test_datasource_symbol_selection_and_watermark(spark, page_root):
    df = (
        spark.read.format("polygon_pages")
        .option("path", page_root)
        .option("symbols", "SPY")
        .option("lastentryts", str(1 * DAY_MS))
        .load()
    )
    rows = df.collect()
    assert {r["ticker"] for r in rows} == {"SPY"}
    assert sorted(r["t"] for r in rows) == [2 * DAY_MS, 3 * DAY_MS, 4 * DAY_MS]


def test_datasource_numeric_page_order(spark):
    """>=10 pages: lexicographic order (page-10 before page-2) would trip the
    monotonic guard and silently drop pages 2-9. Numeric sort must keep all."""
    d = tempfile.mkdtemp(prefix="pae_spark_pages10_")
    try:
        os.makedirs(f"{d}/SPY")
        n_pages, per_page = 12, 3
        for p in range(n_pages):
            recs = [
                {"t": (p * per_page + i) * DAY_MS, "o": 1.0, "h": 2.0,
                 "l": 0.5, "c": 1.5, "v": 10.0, "vw": 1.2, "n": 3}
                for i in range(per_page)
            ]
            with open(f"{d}/SPY/page-{p}.json", "w") as f:
                json.dump({"results": recs}, f)
        spark.dataSource.register(PolygonPagesDataSource)
        df = spark.read.format("polygon_pages").option("path", d).load()
        ts = sorted(r["t"] for r in df.collect())
        assert ts == [i * DAY_MS for i in range(n_pages * per_page)]
    finally:
        shutil.rmtree(d, ignore_errors=True)


def _write_page(root, sym, page_no, recs):
    os.makedirs(f"{root}/{sym}", exist_ok=True)
    with open(f"{root}/{sym}/page-{page_no}.json", "w") as f:
        json.dump({"results": recs}, f)


def _rec(i, c=1.5):
    return {"t": i * DAY_MS, "o": 1.0, "h": 2.0, "l": 0.5, "c": c,
            "v": 10.0, "vw": 1.2, "n": 3}


def _run_stream(spark, page_root, checkpoint, out):
    q = (
        spark.readStream.format("polygon_pages")
        .option("path", page_root)
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)


def test_stream_matches_batch(spark, page_root, tmp_path):
    """One availableNow pass over the page store ≡ the batch scan."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _run_stream(spark, page_root, ckpt, out)
    got = sorted(
        (r["ticker"], r["t"]) for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r["ticker"], r["t"])
        for r in spark.read.format("polygon_pages")
        .option("path", page_root)
        .load()
        .collect()
    )
    assert got == want and len(got) == 8


def test_stream_restart_resumes_from_checkpoint(spark, tmp_path):
    """Restarted query reads ONLY pages beyond the checkpointed cursor —
    including dropping the by-design overlap dup that straddles the batch
    boundary — and discovers symbols that appeared between runs."""
    root = str(tmp_path / "pages")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _write_page(root, "SPY", 0, [_rec(0), _rec(1), _rec(2)])
    spark.dataSource.register(PolygonPagesDataSource)

    _run_stream(spark, root, ckpt, out)
    assert sorted(r["t"] for r in spark.read.parquet(out).collect()) == [
        0, DAY_MS, 2 * DAY_MS
    ]

    # New page overlaps the previous page's last record (t=2d): the seeded
    # cross-batch monotonic guard must drop it. A brand-new symbol starts
    # from page 0.
    _write_page(root, "SPY", 1, [_rec(2), _rec(3), _rec(4)])
    _write_page(root, "TLT", 0, [_rec(0)])
    _run_stream(spark, root, ckpt, out)

    rows = sorted(
        (r["ticker"], r["t"]) for r in spark.read.parquet(out).collect()
    )
    assert rows == [
        ("SPY", 0), ("SPY", DAY_MS), ("SPY", 2 * DAY_MS),
        ("SPY", 3 * DAY_MS), ("SPY", 4 * DAY_MS),
        ("TLT", 0),
    ]

    # Third run with no new pages: no new rows, no re-emission.
    _run_stream(spark, root, ckpt, out)
    assert len(spark.read.parquet(out).collect()) == 6


def _stream_reader(root, **options):
    from pyspark.sql.types import StructType

    from polygon_algotrading_env_spark.sources.restsource import (
        PolygonPagesStreamReader,
    )

    return PolygonPagesStreamReader(StructType(), {"path": str(root), **options})


def test_stream_partitions_pack_whole_symbols_under_page_cap(tmp_path):
    """Packing needs no Spark: symbols in sorted order, whole, up to the
    page cap per partition; an over-cap symbol alone; no-op symbols
    skipped; the plan does not depend on the offset map's order."""
    from polygon_algotrading_env_spark.sources.restsource import PAGES_PER_TASK

    cap, half = PAGES_PER_TASK, PAGES_PER_TASK // 2
    end = {"G": half - 2, "F": 3, "E": half, "D": 10, "C": cap + 5,
           "B": half + 1, "A": half}
    start = {"D": 10, "F": 1}
    want = [
        [("A", 0, half)],                 # A + B is one page over the cap
        [("B", 0, half + 1)],
        [("C", 0, cap + 5)],              # over the cap: a partition of its own
        [("E", 0, half), ("F", 1, 3), ("G", 0, half - 2)],  # exactly the cap
    ]                                     # D has no unread pages: skipped
    reader = _stream_reader(tmp_path)
    plan = [p.ranges for p in reader.partitions({"pages": start}, {"pages": end})]
    assert plan == want
    reordered = {"pages": dict(reversed(list(end.items())))}
    assert [p.ranges for p in reader.partitions({"pages": start}, reordered)] == want
    assert reader.partitions({"pages": end}, {"pages": end}) == []


def test_stream_partitions_fetch_mode_one_per_symbol(tmp_path):
    """Live fetch mode keeps one task per symbol, even a symbol with no
    unread pages: that task still runs the symbol's fetch."""
    from polygon_algotrading_env_spark.sources.restsource import encode_fetcher

    reader = _stream_reader(
        tmp_path,
        symbols="SPY,TLT,QQQ",
        fetcherpickle=encode_fetcher(lambda s, i: {"results": []}),
    )
    parts = reader.partitions(
        {"pages": {"SPY": 1}}, {"pages": {"TLT": 2, "SPY": 1, "QQQ": 1}}
    )
    assert [p.ranges for p in parts] == [
        [("QQQ", 0, 1)], [("SPY", 1, 1)], [("TLT", 0, 2)]
    ]


def test_batch_partitions_carry_listed_page_names(tmp_path):
    """The batch planner lists pages once; tasks receive the names. A
    symbol with no pages gets no partition."""
    from pyspark.sql.types import StructType

    from polygon_algotrading_env_spark.sources.restsource import (
        PolygonPagesReader,
    )

    for p in range(3):
        _write_page(tmp_path, "TLT", p, [_rec(p)])
    _write_page(tmp_path, "SPY", 0, [_rec(0)])
    os.makedirs(tmp_path / "EMPTY")
    (part,) = PolygonPagesReader(StructType(), {"path": str(tmp_path)}).partitions()
    assert part.ranges == [("SPY", 0, 1), ("TLT", 0, 3)]
    assert part.pages == {
        "SPY": ["page-0.json"],
        "TLT": ["page-0.json", "page-1.json", "page-2.json"],
    }
    # No pages at all: one empty task (Spark reads None for an empty plan).
    reader = PolygonPagesReader(
        StructType(), {"path": str(tmp_path), "symbols": "EMPTY,XYZ"}
    )
    (part,) = reader.partitions()
    assert part.ranges == [] and list(reader.read(part)) == []


def test_packed_partitions_stream_batch_and_restart(spark, tmp_path):
    """A store whose unread pages exceed the page cap is read by two
    packed tasks. The batch read, the availableNow stream and its restart
    all give the rows of a sequential per-symbol read: page-overlap
    duplicates dropped (also the one straddling the batch boundary) and
    the lastentrybysymbol watermark map applied."""
    from polygon_algotrading_env_spark.sources.restsource import PAGES_PER_TASK

    root = str(tmp_path / "pages")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    symbols = ["AAA", "BBB", "CCC", "DDD"]
    n = PAGES_PER_TASK // 3  # three symbols fill one task, the fourth spills
    wm = {"BBB": 10 * DAY_MS}

    def land(first, last):
        # page p holds t = p and p + 1: each page repeats the last record
        # of the page before it
        for sym in symbols:
            for p in range(first, last):
                _write_page(root, sym, p, [_rec(p), _rec(p + 1)])

    def want(pages):
        return sorted(
            (sym, i * DAY_MS)
            for sym in symbols
            for i in range(pages + 1)
            if i * DAY_MS > wm.get(sym, -1)
        )

    def batch():
        return (
            spark.read.format("polygon_pages")
            .option("path", root)
            .option("lastentrybysymbol", json.dumps(wm))
            .load()
        )

    def stream():
        q = (
            spark.readStream.format("polygon_pages")
            .option("path", root)
            .option("lastentrybysymbol", json.dumps(wm))
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        rows = [(r["ticker"], r["t"]) for r in spark.read.parquet(out).collect()]
        # the file sink writes one file per task that emitted rows
        files = [f for f in os.listdir(out) if f.endswith(".parquet")]
        return sorted(rows), len(files)

    spark.dataSource.register(PolygonPagesDataSource)
    land(0, n)
    df = batch()
    assert df.rdd.getNumPartitions() == 2
    assert sorted((r["ticker"], r["t"]) for r in df.collect()) == want(n)
    assert stream() == (want(n), 2)

    # Restart: page n's first record repeats page n-1's last, across the
    # batch boundary; the new pages again overflow one task.
    land(n, 2 * n)
    assert stream() == (want(2 * n), 4)
    assert sorted((r["ticker"], r["t"]) for r in batch().collect()) == want(2 * n)


def test_pagestore_roundtrip_on_non_local_fs():
    """The store abstraction must not be local-FS-bound: exercise every
    operation against pyarrow's in-memory mock filesystem — the same
    surface an s3:// root resolves to via FileSystem.from_uri."""
    from pyarrow.fs import _MockFileSystem

    from polygon_algotrading_env_spark.sources.restsource import PageStore

    store = PageStore("pages", filesystem=_MockFileSystem())
    assert store.list_symbols() == []
    assert store.list_pages("SPY") == []
    assert store.write_page("SPY", 0, {"results": [_rec(0)]})
    assert store.write_page("SPY", 1, {"results": [_rec(1)]})
    assert store.write_page("TLT", 0, {"results": [_rec(0)]})
    assert store.list_symbols() == ["SPY", "TLT"]
    assert store.list_pages("SPY") == ["page-0.json", "page-1.json"]
    assert store.read_page("SPY", "page-1.json")["results"][0]["t"] == DAY_MS
    # landed pages are immutable: a second write at the same index is a
    # no-op (replay determinism depends on this)
    assert not store.write_page("SPY", 0, {"results": [_rec(99)]})
    assert store.read_page("SPY", "page-0.json")["results"][0]["t"] == 0
    assert store.page_exists("SPY", 1) and not store.page_exists("SPY", 2)


def test_stream_matches_batch_on_file_uri(spark, page_root, tmp_path):
    """The store root may be a URI, not just a bare path — file:// here,
    s3:// in production; pyarrow resolves both the same way."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    uri = f"file://{page_root}"
    _run_stream(spark, uri, ckpt, out)
    got = sorted(
        (r["ticker"], r["t"]) for r in spark.read.parquet(out).collect()
    )
    want = sorted(
        (r["ticker"], r["t"])
        for r in spark.read.format("polygon_pages")
        .option("path", uri)
        .load()
        .collect()
    )
    assert got == want and len(got) == 8


def test_live_fetch_stream_lands_then_emits(spark, tmp_path):
    """Live mode: each batch emits landed pages for its offset range,
    then pulls new pages executor-side and lands them immutably; the
    NEXT batch emits them. Termination on empty API page; a rerun with a
    drained API emits nothing new."""
    from polygon_algotrading_env_spark.sources.restsource import (
        PolygonPagesDataSource,
        encode_fetcher,
    )

    root = str(tmp_path / "pages")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    api = {
        "SPY": [
            {"results": [_rec(0), _rec(1)]},
            {"results": [_rec(1), _rec(2)]},  # by-design overlap dup
        ],
        "TLT": [{"results": [_rec(0)]}],
    }

    def fake_fetch(symbol, idx):
        pages = api.get(symbol, [])
        return pages[idx] if idx < len(pages) else {"results": []}

    spark.dataSource.register(PolygonPagesDataSource)

    def run_live():
        q = (
            spark.readStream.format("polygon_pages")
            .option("path", root)
            .option("symbols", "SPY,TLT")
            .option("fetcherpickle", encode_fetcher(fake_fetch))
            .option("maxpagespertrigger", "1")
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # Run 1: store empty — nothing to emit, lands page 0 per symbol.
    run_live()
    assert not os.path.exists(out) or not [
        f for f in os.listdir(out) if f.endswith(".parquet")
    ] or spark.read.parquet(out).count() == 0
    assert os.path.exists(f"{root}/SPY/page-0.json")
    assert os.path.exists(f"{root}/TLT/page-0.json")

    # Run 2: emits page 0s, lands SPY page 1 (TLT's API is drained).
    run_live()
    got = sorted((r["ticker"], r["t"]) for r in spark.read.parquet(out).collect())
    assert got == [("SPY", 0), ("SPY", DAY_MS), ("TLT", 0)]
    assert os.path.exists(f"{root}/SPY/page-1.json")

    # Run 3: emits SPY page 1 minus the overlap dup; nothing new lands.
    run_live()
    got = sorted((r["ticker"], r["t"]) for r in spark.read.parquet(out).collect())
    assert got == [("SPY", 0), ("SPY", DAY_MS), ("SPY", 2 * DAY_MS), ("TLT", 0)]

    # Run 4: fully drained — no new rows, no new pages.
    run_live()
    assert spark.read.parquet(out).count() == 4
    assert sorted(os.listdir(f"{root}/SPY")) == ["page-0.json", "page-1.json"]


def test_live_fetch_retries_transient_failures(spark, tmp_path):
    """The executor-side fetch must ride the shared bounded-retry
    envelope: a fetcher that fails transiently still lands its page (the
    task does NOT fail), and the landed content is the successful
    response."""
    from polygon_algotrading_env_spark.sources.restsource import (
        PolygonPagesDataSource,
        encode_fetcher,
    )

    root = str(tmp_path / "pages")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    attempts_file = str(tmp_path / "attempts.txt")

    # capture records by VALUE: a closure over the module-global _rec
    # would make cloudpickle serialize the fetcher by reference and the
    # planner process cannot import the test module
    page0 = {"results": [_rec(0), _rec(1)]}

    def flaky_fetch(symbol, idx):
        # cross-process attempt counter (executors are separate processes)
        with open(attempts_file, "a") as f:
            f.write("x")
        with open(attempts_file) as f:
            n = len(f.read())
        if n < 3:
            raise ConnectionError(f"transient #{n}")
        return page0 if idx == 0 else {"results": []}

    spark.dataSource.register(PolygonPagesDataSource)

    def run_live():
        q = (
            spark.readStream.format("polygon_pages")
            .option("path", root)
            .option("symbols", "SPY")
            .option("fetcherpickle", encode_fetcher(flaky_fetch))
            .option("retrybackoff", "0")  # no sleep in tests
            .load()
            .writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    run_live()  # fetch fails twice, succeeds on attempt 3 → page 0 lands
    assert os.path.exists(f"{root}/SPY/page-0.json")
    run_live()  # emits page 0
    got = sorted(r["t"] for r in spark.read.parquet(out).collect())
    assert got == [0, DAY_MS]


def test_live_fetch_option_validation(spark, tmp_path):
    from polygon_algotrading_env_spark.sources.restsource import (
        PolygonPagesStreamReader,
        encode_fetcher,
    )
    from pyspark.sql.types import StructType

    schema = StructType()
    with pytest.raises(ValueError, match="cannot import"):
        PolygonPagesStreamReader(
            schema,
            {"path": str(tmp_path), "fetcher": "no.such:thing", "symbols": "A"},
        )
    with pytest.raises(ValueError, match="module:attr"):
        PolygonPagesStreamReader(
            schema, {"path": str(tmp_path), "fetcher": "bare", "symbols": "A"}
        )
    payload = encode_fetcher(lambda s, i: {"results": []})
    with pytest.raises(ValueError, match="symbols"):
        PolygonPagesStreamReader(
            schema, {"path": str(tmp_path), "fetcherpickle": payload}
        )
    # dotted-path resolution reaches a real module-level callable
    r = PolygonPagesStreamReader(
        schema,
        {
            "path": str(tmp_path),
            "fetcher": "polygon_algotrading_env_spark.sources.restsource:encode_fetcher",
            "symbols": "A",
        },
    )
    assert r.fetch_page is encode_fetcher


def test_stream_per_symbol_watermark(spark, tmp_path):
    """A NEW stream over a store with history skips records at/below each
    symbol's bookmark watermark — checkpoint offsets only protect
    restarts; the bookmark protects first runs."""
    root = str(tmp_path / "pages")
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    _write_page(root, "SPY", 0, [_rec(0), _rec(1), _rec(2)])
    _write_page(root, "TLT", 0, [_rec(0), _rec(1)])
    q = (
        spark.readStream.format("polygon_pages")
        .option("path", root)
        .option("lastentrybysymbol", json.dumps({"SPY": 1 * DAY_MS}))
        .load()
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["ticker"], r["t"]) for r in spark.read.parquet(out).collect())
    assert got == [("SPY", 2 * DAY_MS), ("TLT", 0), ("TLT", 1 * DAY_MS)]


def test_pagestore_against_s3_protocol_server():
    """Execute the ``s3://`` claim (restsource.py PageStore docstring)
    against a REAL S3-protocol server, not just the in-memory mock: a
    local moto server, with the store constructed from an s3:// URI
    (endpoint/scheme/region as from_uri query params — the documented
    pyarrow S3 URI form) and pickled first, exactly as executors receive
    it. Covers the executor read surface — symbol listing, numeric page
    ordering, page reads, existence probes — plus the immutability
    short-circuit of write_page on a landed page.

    Page WRITES go through boto3 here: aws-sdk-cpp's multipart upload
    (what pyarrow's open_output_stream always uses on S3) trips a known
    moto emulation gap (CompleteMultipartUpload parsed as an empty-body
    200), which is an emulator artifact, not a store defect — boto3
    multipart against the same server succeeds, and the pyarrow write
    path is executed by the mock-FS and file:// tests above, which hit
    the identical pyarrow FileSystem API.
    """
    import json as _json
    import logging
    import os
    import pickle

    import pytest as _pytest

    try:
        import boto3
        from moto.server import ThreadedMotoServer
    except ImportError:
        _pytest.skip("moto/boto3 not available")

    from polygon_algotrading_env_spark.sources.restsource import PageStore

    os.environ.setdefault("AWS_ACCESS_KEY_ID", "testing")
    os.environ.setdefault("AWS_SECRET_ACCESS_KEY", "testing")
    logging.getLogger("werkzeug").setLevel(logging.ERROR)
    server = ThreadedMotoServer(port=0, verbose=False)
    server.start()
    try:
        host, port = server.get_host_and_port()
        s3 = boto3.client(
            "s3", endpoint_url=f"http://{host}:{port}", region_name="us-east-1"
        )
        s3.create_bucket(Bucket="pagestore-test")
        for sym, idx, rec in [
            ("SPY", 0, _rec(0)),
            ("SPY", 2, _rec(2)),
            ("SPY", 10, _rec(10)),   # numeric, not lexicographic, ordering
            ("TLT", 0, _rec(0)),
        ]:
            s3.put_object(
                Bucket="pagestore-test",
                Key=f"pages/{sym}/page-{idx}.json",
                Body=_json.dumps({"results": [rec]}).encode(),
            )

        uri = (
            "s3://pagestore-test/pages"
            f"?endpoint_override={host}:{port}&scheme=http&region=us-east-1"
        )
        store = pickle.loads(pickle.dumps(PageStore(uri)))  # executor-shaped
        assert store.list_symbols() == ["SPY", "TLT"]
        assert store.list_pages("SPY") == [
            "page-0.json", "page-2.json", "page-10.json"
        ]
        assert store.read_page("SPY", "page-10.json")["results"][0]["t"] == (
            10 * DAY_MS
        )
        assert store.page_exists("SPY", 2)
        assert not store.page_exists("SPY", 3)
        # immutability guard short-circuits before any S3 write
        assert not store.write_page("SPY", 0, {"results": [_rec(99)]})
        assert store.read_page("SPY", "page-0.json")["results"][0]["t"] == 0
    finally:
        server.stop()


def test_live_fetch_soak_s3_store_midbatch_kill_and_restart(spark, tmp_path):
    """Fault-injection soak composing the s3:// PageStore with the LIVE
    fetch stream — the claim users run in production: pages land on an
    object store while a poison sink kills the query mid-batch, and the
    restart from the checkpoint must (a) land every page EXACTLY ONCE on
    S3 (the immutability guard absorbs the replayed landing attempt),
    (b) emit every record exactly once (the failed batch raised before
    any sink write, so its replay is the only emission), and (c) finish
    with stream output identical to a fresh batch read of the landed
    store. Runs against a real S3-protocol server (moto); page writes go
    through the store's single-PUT fast path — the same request the
    production path sends real S3."""
    import logging
    import pickle

    import pytest as _pytest

    try:
        import boto3
        from moto.server import ThreadedMotoServer
    except ImportError:
        _pytest.skip("moto/boto3 not available")

    from polygon_algotrading_env_spark.sources.restsource import (
        PageStore,
        PolygonPagesDataSource,
        encode_fetcher,
    )

    os.environ.setdefault("AWS_ACCESS_KEY_ID", "testing")
    os.environ.setdefault("AWS_SECRET_ACCESS_KEY", "testing")
    logging.getLogger("werkzeug").setLevel(logging.ERROR)
    server = ThreadedMotoServer(port=0, verbose=False)
    server.start()
    try:
        host, port = server.get_host_and_port()
        boto3.client(
            "s3", endpoint_url=f"http://{host}:{port}", region_name="us-east-1"
        ).create_bucket(Bucket="soak-bucket")
        # credential-bearing URI: executor Python workers have no AWS
        # env (the JVM forked before the test set it), and both pyarrow
        # from_uri and the store's PUT fast path honor userinfo creds
        uri = (
            "s3://testing:testing@soak-bucket/pages"
            f"?endpoint_override={host}:{port}&scheme=http&region=us-east-1"
        )

        # the single-PUT fast path itself, executor-shaped (pickled store)
        store = pickle.loads(pickle.dumps(PageStore(uri)))
        assert store.write_page("SPY", 99, {"results": [_rec(99)]})
        assert store.read_page("SPY", "page-99.json")["results"][0]["t"] == (
            99 * DAY_MS
        )
        assert not store.write_page("SPY", 99, {"results": [_rec(0)]})
        boto3.client(
            "s3", endpoint_url=f"http://{host}:{port}", region_name="us-east-1"
        ).delete_object(Bucket="soak-bucket", Key="pages/SPY/page-99.json")

        api = {
            "SPY": [
                {"results": [_rec(0), _rec(1)]},
                {"results": [_rec(1), _rec(2)]},  # by-design overlap dup
                {"results": [_rec(3)]},
            ],
            "TLT": [{"results": [_rec(0)]}],
        }

        def fake_fetch(symbol, idx):
            pages = api.get(symbol, [])
            return pages[idx] if idx < len(pages) else {"results": []}

        spark.dataSource.register(PolygonPagesDataSource)
        out = str(tmp_path / "out")
        ckpt = str(tmp_path / "ckpt")
        poison = str(tmp_path / "poison")

        def sink(batch_df, batch_id):
            rows = batch_df.count()
            if rows and os.path.exists(poison):
                os.remove(poison)
                raise RuntimeError("injected mid-batch failure")
            if rows:
                batch_df.write.mode("append").parquet(out)

        def run_live(expect_fail=False):
            q = (
                spark.readStream.format("polygon_pages")
                .option("path", uri)
                .option("symbols", "SPY,TLT")
                .option("fetcherpickle", encode_fetcher(fake_fetch))
                .option("maxpagespertrigger", "1")
                .load()
                .writeStream.foreachBatch(sink)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )
            if expect_fail:
                with _pytest.raises(Exception, match="injected mid-batch"):
                    q.awaitTermination(120)
            else:
                q.awaitTermination(120)

        # Run 1: store empty — lands page 0 per symbol on S3, emits nothing.
        run_live()
        assert store.page_exists("SPY", 0) and store.page_exists("TLT", 0)
        assert not os.path.exists(out)

        # Run 2 with poison: the first non-empty batch dies mid-flight —
        # AFTER its read landed the next pages on S3, BEFORE any sink write.
        open(poison, "w").close()
        run_live(expect_fail=True)
        assert not os.path.exists(poison), "poison sink never fired"
        assert not os.path.exists(out), "failed batch must not emit"

        # Restart from the checkpoint, then drain. The replayed batch's
        # landing attempts hit the immutability guard (no second write);
        # its rows are emitted exactly once.
        for _ in range(4):
            run_live()

        rows = sorted(
            (r["ticker"], r["t"]) for r in spark.read.parquet(out).collect()
        )
        assert rows == [
            ("SPY", 0), ("SPY", DAY_MS), ("SPY", 2 * DAY_MS),
            ("SPY", 3 * DAY_MS), ("TLT", 0),
        ], f"duplicate or lost emission: {rows}"

        # Exactly-once page landing: the S3 listing holds each page once.
        assert store.list_pages("SPY") == [
            "page-0.json", "page-1.json", "page-2.json"
        ]
        assert store.list_pages("TLT") == ["page-0.json"]

        # Stream ≡ batch: a fresh batch scan of the landed store yields
        # the same records the stream emitted across kill + restarts.
        batch = (
            spark.read.format("polygon_pages")
            .option("path", uri)
            .load()
        )
        assert sorted((r["ticker"], r["t"]) for r in batch.collect()) == rows
    finally:
        server.stop()
