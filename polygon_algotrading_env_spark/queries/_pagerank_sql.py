"""DuckDB oracle SQL for six PageRank rounds (d = 0.85, dangling mass
spread uniformly) over an ``edges(u, v)`` CTE, the dual of
``operators/graph.pagerank``.

The fragment defines ``verts``, ``deg`` and the recursive ``ranks(iter,
id, rank)``; a caller writes ``WITH RECURSIVE``, its own ``edges`` CTE,
then this fragment, and reads ``ranks WHERE iter = 6``. It lives in a
module with no registrations: importing one query module from another
would change the registry's order.
"""

from __future__ import annotations

PAGERANK_ROUNDS_CTE = """
    verts AS (SELECT DISTINCT u AS id FROM edges),
    deg AS (SELECT u, count(*)::DOUBLE AS outdeg FROM edges GROUP BY 1),
    ranks(iter, id, rank) AS (
      SELECT 0, id, 1.0 / (SELECT count(*) FROM verts) FROM verts
      UNION ALL
      SELECT iter + 1, id,
             (1 - 0.85) / (SELECT count(*) FROM verts)
             + (0.85 / (SELECT count(*) FROM verts))
               * (1.0 - sum(inflow) OVER ())
             + 0.85 * inflow
      FROM (
        SELECT r.iter, v.id, COALESCE(c.inflow, 0.0) AS inflow
        FROM (SELECT DISTINCT iter FROM ranks) r
        CROSS JOIN verts v
        LEFT JOIN (
          SELECT e.v AS id, sum(ranks.rank / d.outdeg) AS inflow
          FROM ranks JOIN edges e ON ranks.id = e.u JOIN deg d ON d.u = e.u
          GROUP BY e.v
        ) c ON c.id = v.id
      )
      WHERE iter < 6
    )"""
