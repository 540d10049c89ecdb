from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from polygon_algotrading_env_spark.operators.dedup import (
    dedup_keep_first,
    exact_dedup,
    hamming64,
    minhash_candidate_pairs,
    ngram_jaccard_pairs,
    simhash64,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the rain "
        "in spain stays mainly in the plain and the cat sat on the mat"
    )
    near = base.replace("lazy dog", "sleepy dog")  # near-duplicate of 0
    other = (
        "completely different content about distributed query engines "
        "columnar storage vectorized execution and shuffle services"
    )
    rows = [(0, base), (1, near), (2, other), (3, base)]  # 3 = exact dup of 0
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_idempotent(spark, docs):
    once = exact_dedup(docs.select("text"))
    twice = exact_dedup(once)
    assert once.count() == 3
    assert twice.count() == 3


def test_dedup_keep_first_deterministic(spark, docs):
    out = dedup_keep_first(docs, keys=["text"], order_col="doc_id")
    kept = sorted(r["doc_id"] for r in out.collect())
    assert kept == [0, 1, 2]  # doc 3 loses to doc 0 on the same text


def test_minhash_finds_near_and_exact_dups(spark, docs):
    pairs = {
        (r["id_a"], r["id_b"]): r["est_jaccard"]
        for r in minhash_candidate_pairs(docs, num_hashes=32, bands=16).collect()
    }
    assert pairs.get((0, 3)) == 1.0           # exact dup → identical signature
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.4
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_ngram_jaccard_exact_verification(spark, docs):
    cands = minhash_candidate_pairs(docs, num_hashes=32, bands=16).select(
        "id_a", "id_b"
    )
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(cands, docs).collect()
    }
    assert jac[(0, 3)] == 1.0
    assert 0.5 < jac[(0, 1)] < 1.0


def test_winnowing_detects_partial_overlap(spark):
    from polygon_algotrading_env_spark.operators.dedup import winnow_candidate_pairs

    shared = "this exact long passage is copied verbatim between documents"
    rows = [
        (0, f"unique preamble alpha alpha alpha. {shared}. unique tail one"),
        (1, f"completely different opening text here. {shared}. other ending"),
        (2, "no overlap with the others at all, entirely distinct content x"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["shared_fps"]
        for r in winnow_candidate_pairs(docs, k=8, window=12, min_shared=2).collect()
    }
    assert (0, 1) in pairs  # shared region found despite different docs
    assert (0, 2) not in pairs and (1, 2) not in pairs


def test_simhash_hamming(spark, docs):
    sh = docs.select("doc_id", simhash64("text").alias("h"))
    a = sh.alias("a").join(sh.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
    dist = {
        (r["ida"], r["idb"]): r["d"]
        for r in a.select(
            F.col("a.doc_id").alias("ida"),
            F.col("b.doc_id").alias("idb"),
            hamming64(F.col("a.h"), F.col("b.h")).alias("d"),
        ).collect()
    }
    assert dist[(0, 3)] == 0                   # exact dup → same fingerprint
    assert dist[(0, 1)] < dist[(0, 2)]         # near-dup closer than unrelated
    assert dist[(0, 1)] <= 10


# --- substring-span dedup (Lee et al. 2022) --------------------------------

def test_remove_duplicate_spans_basic(spark):
    from polygon_algotrading_env_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    shared = "one two three four five"  # a 5-token span in docs 0 and 1
    rows = [
        (0, f"alpha {shared} omega"),
        (1, f"beta gamma {shared}"),
        (2, "totally unrelated words here now"),
        (3, "tiny doc"),  # shorter than k → untouched
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r.asDict()
        for r in remove_duplicate_spans(docs, k=5, min_docs=2).collect()
    }
    assert out[0]["cleaned_text"] == "alpha omega"
    assert out[0]["n_dup_tokens"] == 5 and out[0]["n_tokens"] == 7
    assert out[1]["cleaned_text"] == "beta gamma"
    assert out[2]["cleaned_text"] == "totally unrelated words here now"
    assert out[2]["n_dup_tokens"] == 0
    assert out[3]["cleaned_text"] == "tiny doc"  # < k tokens passes through


def test_remove_duplicate_spans_overlap_union(spark):
    """Overlapping duplicated spans merge into one covered region: a 6-token
    shared run yields two overlapping 5-token spans covering all 6 tokens."""
    from polygon_algotrading_env_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    shared = "s1 s2 s3 s4 s5 s6"
    rows = [(0, f"head {shared} tail"), (1, f"{shared} coda")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r.asDict()
        for r in remove_duplicate_spans(docs, k=5, min_docs=2).collect()
    }
    assert out[0]["n_dup_tokens"] == 6
    assert out[0]["cleaned_text"] == "head tail"
    assert out[1]["cleaned_text"] == "coda"


def test_remove_duplicate_spans_all_covered_and_repeats(spark):
    """A doc that is entirely one duplicated span empties out; repeated
    occurrences INSIDE one doc are removed everywhere once the span is
    duplicated across >= min_docs distinct docs."""
    from polygon_algotrading_env_spark.operators.dedup import (
        remove_duplicate_spans,
    )

    span = "a b c d e"
    rows = [(0, span), (1, f"x {span} y {span}"), (2, "unrelated filler words entirely")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    out = {
        r["doc_id"]: r.asDict()
        for r in remove_duplicate_spans(docs, k=5, min_docs=2).collect()
    }
    assert out[0]["cleaned_text"] == "" and out[0]["n_dup_tokens"] == 5
    assert out[1]["cleaned_text"] == "x y" and out[1]["n_dup_tokens"] == 10
    # per-doc repetition alone does NOT make a span "duplicated"
    rows2 = [(0, f"x {span} y {span}"), (1, "unrelated filler words entirely")]
    docs2 = spark.createDataFrame(rows2, "doc_id long, text string")
    out2 = {r["doc_id"]: r.asDict() for r in remove_duplicate_spans(docs2).collect()}
    assert out2[0]["n_dup_tokens"] == 0


def test_minhash_index_incremental_equals_full_rebuild(spark, tmp_path):
    """The persistent LSH index contract: union of every batch's returned
    pairs == one-shot minhash_candidate_pairs over the union corpus
    (same pairs, same est_jaccard) — incremental maintenance changes
    cost, never answers. Also: parameter mismatch on update must raise."""
    import pytest as _pytest

    from polygon_algotrading_env_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_index_update,
    )

    base = "the quick brown fox jumps over the lazy dog and runs far away"
    docs1 = spark.createDataFrame(
        [
            (1, base),
            (2, base + " tonight"),                  # near-dup of 1
            (3, "completely different text about spark shuffles and joins"),
        ],
        "doc_id long, text string",
    )
    docs2 = spark.createDataFrame(
        [
            (4, base + " today"),                    # near-dup of 1 and 2
            (5, "another unrelated document on parquet column pruning"),
            (6, "completely different text about spark shuffles and joins!"),
        ],
        "doc_id long, text string",
    )
    idx = str(tmp_path / "lsh_index")
    p1 = minhash_index_update(idx, docs1)
    p2 = minhash_index_update(idx, docs2)
    got = {
        (r["id_a"], r["id_b"]): round(r["est_jaccard"], 9)
        for r in p1.collect() + p2.collect()
    }
    full = {
        (r["id_a"], r["id_b"]): round(r["est_jaccard"], 9)
        for r in minhash_candidate_pairs(docs1.unionByName(docs2)).collect()
    }
    assert got == full
    assert any(a == 1 and b == 4 for a, b in got)     # new-vs-old found
    assert any(a == 3 and b == 6 for a, b in got)     # across batches
    with _pytest.raises(ValueError, match="built with"):
        minhash_index_update(idx, docs2, bands=4)


def test_minhash_index_streaming_foreachbatch(spark, tmp_path):
    """Streaming ingest composition: a document stream maintains the
    persistent LSH index via foreachBatch, so near-dup pairs surface as
    batches arrive — and the accumulated pairs still equal the one-shot
    rebuild over everything ingested (the streaming form of the
    incremental contract)."""
    from polygon_algotrading_env_spark.operators.dedup import (
        minhash_candidate_pairs,
        minhash_index_update,
    )

    src = str(tmp_path / "src")
    idx = str(tmp_path / "lsh_index")
    ckpt = str(tmp_path / "ckpt")
    base = "the quick brown fox jumps over the lazy dog and runs far away"
    b1 = spark.createDataFrame(
        [(1, base), (2, base + " tonight")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(3, base + " today"), (4, "unrelated parquet pruning prose")],
        "doc_id long, text string",
    )
    collected: list = []

    def _ingest(bdf, _bid):
        collected.extend(minhash_index_update(idx, bdf).collect())

    def drain():
        q = (
            spark.readStream.schema("doc_id long, text string")
            .parquet(src)
            .writeStream.foreachBatch(_ingest)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        assert q.exception() is None, q.exception()

    b1.coalesce(1).write.mode("append").parquet(src)
    drain()
    b2.coalesce(1).write.mode("append").parquet(src)
    drain()

    got = {
        (r["id_a"], r["id_b"]): round(r["est_jaccard"], 9) for r in collected
    }
    full = {
        (r["id_a"], r["id_b"]): round(r["est_jaccard"], 9)
        for r in minhash_candidate_pairs(b1.unionByName(b2)).collect()
    }
    assert got == full and (1, 3) in got


def test_char_ngrams_matches_substring_reference(spark):
    """The linear regex shingler gives exactly the shingles of the
    substring form it replaced, on surrogate pairs (emoji, math letters),
    case mappings that change length, line breaks, short, empty and NULL
    text."""
    from polygon_algotrading_env_spark.functions.text import char_ngrams

    def reference(n):
        t = F.lower(F.col("text"))
        length = F.length(t)
        return F.when(length < n, F.array(t)).otherwise(
            F.transform(
                F.sequence(F.lit(1), length - F.lit(n - 1)),
                lambda i: t.substr(i, F.lit(n)),
            )
        )

    texts = [
        "ab😀cdefg", "😀" * 6, "x𝔸𝔹ℂ𝔻𝔼y", "İSTANBUL city", "Straße groß",
        "a\nbcd\r\nef", "", "abc", None,
    ]
    df = spark.createDataFrame(list(enumerate(texts)), "i int, text string")
    ns = (3, 4, 5, 8, 16)
    out = df.select(
        "i",
        *[char_ngrams("text", n).alias(f"got{n}") for n in ns],
        *[reference(n).alias(f"ref{n}") for n in ns],
    ).collect()
    assert len(out) == len(texts)
    for r in out:
        for n in ns:
            assert r[f"got{n}"] == r[f"ref{n}"], (texts[r["i"]], n)
    emoji = next(r for r in out if r["i"] == 0)
    assert emoji["got5"] == ["ab😀cd", "b😀cde", "😀cdef", "cdefg"]


def _final_plan(df) -> str:
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.toString()


def test_minhash_md5_band_pairs_builds_without_jobs_and_scans_once(
    spark, sf_dir
):
    """The band query's build call starts no Spark job and pins no RDD;
    its signature relation feeds both sides of the band self-join through
    one exchange, so the executed plan scans ``documents`` once."""
    import os

    from polygon_algotrading_env_spark.catalog import load_table
    from polygon_algotrading_env_spark.queries import REGISTRY

    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    load_table(spark, sf, "documents")  # the schema inference job
    sc = spark.sparkContext
    pinned = set(sc._jsc.getPersistentRDDs().keys())
    sc.setJobGroup("test-mh-band-build", "test-mh-band-build")
    try:
        df = REGISTRY["minhash_md5_band_pairs"].fn(spark, sf)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert sc.statusTracker().getJobIdsForGroup("test-mh-band-build") == []
    assert set(sc._jsc.getPersistentRDDs().keys()) == pinned
    assert len(df.collect()) > 0
    plan = _final_plan(df)
    assert plan.count("FileScan") == 1, plan
    assert "documents.parquet" in plan
    assert "ReusedExchange" in plan, plan
