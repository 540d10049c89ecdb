"""Oracle parse-tree differential against another commit.

A refactor of the query corpus may move oracle SQL into shared fragments,
but each oracle must stay the same query. This tool imports the registry of
``<git-ref>`` (``git archive`` into a temporary directory, imported in a
subprocess) and of the working tree, serializes every oracle with DuckDB's
``json_serialize_sql`` and drops the ``query_location`` keys, so a change of
whitespace or line layout does not count but any change of the parse tree
does.

Usage:
    python tools/oracle_diff.py <git-ref>

Prints one line per oracle that differs, was added or was removed, then a
summary; exit 1 on any difference.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _dump(root: str) -> None:
    """Print the registry's oracle map of the tree at ``root`` as JSON."""
    sys.path.insert(0, root)
    from polygon_algotrading_env_spark.queries import oracle_sql

    json.dump(oracle_sql(), sys.stdout)


def _oracles(root: str) -> dict[str, str]:
    out = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--dump", root],
        cwd=root,
        check=True,
        capture_output=True,
        text=True,
    ).stdout
    return json.loads(out)


def _strip(node):
    if isinstance(node, dict):
        return {k: _strip(v) for k, v in node.items() if k != "query_location"}
    if isinstance(node, list):
        return [_strip(v) for v in node]
    return node


def parse_tree(con, sql: str):
    """DuckDB's parse tree of ``sql`` without source positions."""
    tree = json.loads(con.execute("SELECT json_serialize_sql($1::VARCHAR)", [sql]).fetchone()[0])
    return _strip(tree)


def main() -> int:
    if len(sys.argv) == 3 and sys.argv[1] == "--dump":
        _dump(sys.argv[2])
        return 0
    if len(sys.argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    import duckdb

    with tempfile.TemporaryDirectory(prefix="oracle-diff-") as tmp:
        archive = subprocess.run(
            ["git", "-C", ROOT, "archive", sys.argv[1]],
            check=True,
            capture_output=True,
        ).stdout
        subprocess.run(["tar", "-x", "-C", tmp], input=archive, check=True)
        old = _oracles(tmp)
    new = _oracles(ROOT)

    con = duckdb.connect()
    differ = []
    for name in sorted(old.keys() | new.keys()):
        if name not in new:
            differ.append(f"removed  {name}")
        elif name not in old:
            differ.append(f"added    {name}")
        else:
            a, b = parse_tree(con, old[name]), parse_tree(con, new[name])
            if a != b or a.get("error"):
                differ.append(f"differs  {name}")
    for line in differ:
        print(line)
    same = len(old.keys() & new.keys()) - sum(x.startswith("differs") for x in differ)
    print(f"\n{same} identical, {len(differ)} differ ({len(old)} at {sys.argv[1]}, {len(new)} here)")
    return 1 if differ else 0


if __name__ == "__main__":
    raise SystemExit(main())
