"""Self-description enforcement: README.md's headline counts must match the
registry and the collected test suite, so the docs can never silently rot
(round-7 VERDICT item 2 — the counts went two rounds stale before this).
"""

import re
import subprocess
import sys
from pathlib import Path

from polygon_algotrading_env_spark.queries import REGISTRY

README = Path(__file__).resolve().parent.parent / "README.md"


def test_readme_registry_counts_match():
    text = README.read_text()
    m = re.search(r"(\d+) registered queries, (\d+) with DuckDB oracle SQL", text)
    assert m, "README query-count sentence missing or reworded"
    n_reg, n_oracle = int(m.group(1)), int(m.group(2))
    assert n_reg == len(REGISTRY), (
        f"README says {n_reg} registered queries; registry has {len(REGISTRY)}"
    )
    real_oracle = sum(1 for s in REGISTRY.values() if s.oracle)
    assert n_oracle == real_oracle, (
        f"README says {n_oracle} oracle-bearing; registry has {real_oracle}"
    )


def test_architecture_registry_counts_match():
    text = (README.parent / "ARCHITECTURE.md").read_text()
    m = re.search(
        r"(\d+) of (\d+) registered queries carry a DuckDB oracle", text
    )
    assert m, "ARCHITECTURE query-count sentence missing or reworded"
    n_oracle, n_reg = int(m.group(1)), int(m.group(2))
    assert n_reg == len(REGISTRY)
    assert n_oracle == sum(1 for s in REGISTRY.values() if s.oracle)


def test_readme_test_count_matches_collection():
    text = README.read_text()
    m = re.search(r"(\d+) tests incl\.", text)
    assert m, "README test-count sentence missing or reworded"
    claimed = int(m.group(1))
    out = subprocess.run(
        [sys.executable, "-m", "pytest", "--collect-only", "-q",
         str(README.parent / "tests")],
        capture_output=True, text=True, timeout=120,
    ).stdout
    cm = re.search(r"(\d+) tests collected", out)
    assert cm, f"could not parse pytest collection output: {out[-300:]}"
    collected = int(cm.group(1))
    assert claimed == collected, (
        f"README says {claimed} tests; pytest collects {collected}"
    )


def test_zoned_oracle_artifact_covers_both_shapes_and_matches():
    """The committed ZONED_ORACLE.json (tools/zoned_oracle.py) is the
    durable hash evidence for the shape the 100 TB path runs: every
    gated query x {global, zoned} x each recorded SF must be present
    and hash-matched (r11 VERDICT item 3 — this lived only in a commit
    message before). Regenerate with `python tools/zoned_oracle.py`
    whenever a gated plan changes."""
    import json

    from polygon_algotrading_env_spark.operators.zonedroll import (
        GATED_QUERIES,
    )

    rec = json.loads((README.parent / "ZONED_ORACLE.json").read_text())
    assert rec["failures"] == []
    assert sorted(rec["queries"]) == sorted(GATED_QUERIES)
    for name, by_sf in rec["queries"].items():
        assert len(by_sf) >= 2, (name, "need >=2 SFs")
        for sf_key, shapes in by_sf.items():
            assert sorted(shapes) == ["global", "zoned"], (name, sf_key)
            for shape, r in shapes.items():
                assert r["hash_match"] is True, (name, sf_key, shape)
                assert r["rows"] > 0, (name, sf_key, shape)
