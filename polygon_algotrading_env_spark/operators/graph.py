"""Graph operators over DataFrames: connected components, survivors,
triangles, and the iterative family (PageRank/PPR, LPA, k-core, BFS,
hash-min labels, Bellman-Ford).

The iterative operators share one superstep loop, :func:`_supersteps`
(the Pregel superstep shape, Malewicz et al., SIGMOD 2010): each
operator supplies its step, the loop owns the rounds, the lineage pins
and the optional fixpoint probe. ``localCheckpoint`` pins are what keep
an iterated plan linear — without them the plan grows with every round
and the job dies on plan-compile time long before data size matters.

Pair→group dedup is connected components on the similarity graph, the
standard last stage of web-scale dedup (hash-min label propagation;
Kiveris et al., "Connected Components in MapReduce and Beyond"). At
100 TB the similarity graph is orders of magnitude smaller than the
corpus (|edges| tracks duplicate density), and every round is a pair
of balanced hash shuffles on vertex ids.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from functools import reduce

import pyspark.sql.functions as F
from pyspark.sql import DataFrame


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    vertices: DataFrame | None = None,
    id_col: str = "id",
    max_rounds: int = 50,
) -> DataFrame:
    """Label every vertex with the min vertex id of its component.

    ``edges`` is an undirected pair list (direction ignored, self-loops
    and duplicates tolerated).  ``vertices`` optionally supplies the full
    vertex set so isolated vertices appear in the output (as singleton
    components); otherwise only edge endpoints are labeled.

    Each round every vertex takes the min label among itself and its
    neighbors, then a pointer-jumping step (labels joined to labels)
    halves the remaining propagation distance, so convergence takes
    O(log diameter) rounds. The loop stops at the first round in which no
    label decreased (labels only decrease, so that is the fixpoint); if
    ``max_rounds`` runs out first it raises ``RuntimeError`` rather than
    return unconverged labels.

    Returns ``(id, component)`` with ``component`` = min id reachable.
    """
    # Pin the directed edge set before fanning it out: sym's union
    # references it twice and the endpoint census twice more — an
    # unpinned reference re-runs the caller's edge derivation (e.g.
    # semantic dedup's blocked pairwise-cosine join) per branch, and a
    # broadcast upstream join leaves no shuffle exchange for AQE to reuse.
    e = edges.select(
        F.col(src).cast("long").alias("src"), F.col(dst).cast("long").alias("dst")
    ).localCheckpoint(eager=True)
    sym = (
        e.union(e.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        .persist()
    )
    if vertices is not None:
        ids = vertices.select(F.col(id_col).cast("long").alias("id")).distinct()
    else:
        # Raw endpoints, not sym: a vertex named only by a self-loop is
        # still a (singleton) vertex.
        ids = (
            e.select(F.col("src").alias("id"))
            .union(e.select(F.col("dst").alias("id")))
            .distinct()
        )
    labels = ids.select("id", F.col("id").alias("component")).localCheckpoint()

    for _ in range(max_rounds):
        nbr_min = (
            sym.join(
                labels.select(
                    F.col("id").alias("dst"), F.col("component").alias("dst_comp")
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dst_comp").alias("nbr_comp"))
            .withColumnRenamed("src", "id")
        )
        stepped = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(
                "component", F.coalesce("nbr_comp", "component")
            ).alias("component"),
            F.col("component").alias("prev"),
        )
        # Pinned before the self-join below: otherwise both join sides
        # re-execute this round's propagation subtree.
        stepped = stepped.localCheckpoint()
        # Pointer jumping: follow component -> its component (labels only
        # decrease, so jumping through a stale pointer is still monotone).
        jumped = stepped.join(
            stepped.select(
                F.col("id").alias("component"),
                F.col("component").alias("comp_comp"),
            ),
            "component",
            "left",
        ).select(
            "id",
            F.least(
                "component", F.coalesce("comp_comp", "component")
            ).alias("component"),
            "prev",
        )
        new_labels = jumped.localCheckpoint()
        labels = new_labels.select("id", "component")
        decreased = (
            new_labels.filter(F.col("component") < F.col("prev")).limit(1).count()
        )
        if decreased == 0:
            break
    else:
        sym.unpersist()
        raise RuntimeError(
            f"connected_components did not reach a fixpoint within "
            f"{max_rounds} rounds; labels would be unreliable"
        )
    sym.unpersist()
    return labels


def cluster_survivors(
    docs: DataFrame,
    labels: DataFrame,
    id_col: str = "doc_id",
    quality_col: str | None = None,
) -> DataFrame:
    """Pick one canonical survivor per component: highest ``quality_col``
    (ties → lowest id), plus the member count — the decision record a
    dedup pass emits before dropping losers.

    One join on the id and one window per component; with no quality
    column the survivor is simply the min id (= the component label).
    """
    from pyspark.sql import Window

    joined = docs.join(
        labels.select(
            F.col("id").alias(id_col), F.col("component").alias("cluster")
        ),
        id_col,
    )
    order = (
        [F.col(quality_col).desc(), F.col(id_col)]
        if quality_col
        else [F.col(id_col)]
    )
    w = Window.partitionBy("cluster")
    return (
        joined.withColumn("__rn", F.row_number().over(w.orderBy(*order)))
        .withColumn("n_members", F.count(F.lit(1)).over(w).cast("long"))
        .filter(F.col("__rn") == 1)
        .select("cluster", F.col(id_col).alias("survivor_doc_id"), "n_members")
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Global triangle count of an undirected simple graph (1-row result).

    Uses the degree-orientation trick: direct every edge from its
    lower-(degree, id) endpoint to the higher one, making the out-degree
    of every vertex O(√m); the wedge join (u→v)⋈(v→w) then fans out by
    out-degree — bounded — instead of by raw degree, which is what makes
    triangle counting survive power-law graphs (the hub vertex that
    would otherwise contribute degree² wedges). Closing edges are probed
    with a third equi-join. Three shuffles total, no state beyond the
    edge list. Duplicate edges / self-loops are cleaned first.
    """
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .where(F.col("a") != F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    deg = (
        e.select(F.col("a").alias("v"))
        .unionAll(e.select(F.col("b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    da = deg.select(F.col("v").alias("a"), F.col("deg").alias("deg_a"))
    db = deg.select(F.col("v").alias("b"), F.col("deg").alias("deg_b"))
    lower_first = (F.col("deg_a") < F.col("deg_b")) | (
        (F.col("deg_a") == F.col("deg_b")) & (F.col("a") < F.col("b"))
    )
    oriented = (
        e.join(da, "a")
        .join(db, "b")
        .select(
            F.when(lower_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(lower_first, F.col("b")).otherwise(F.col("a")).alias("w"),
        )
    )
    e1 = oriented.select(F.col("u").alias("x"), F.col("w").alias("y"))
    e2 = oriented.select(F.col("u").alias("y"), F.col("w").alias("z"))
    wedges = e1.join(e2, "y").select("x", "y", "z")
    closing = oriented.select(F.col("u").alias("x"), F.col("w").alias("z")).unionAll(
        oriented.select(F.col("w").alias("x"), F.col("u").alias("z"))
    ).dropDuplicates(["x", "z"])
    return wedges.join(closing, ["x", "z"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_triangles")
    )


def _supersteps(
    state: DataFrame,
    step: Callable[[DataFrame, int], DataFrame],
    rounds: int,
    every: int,
    probe: Callable[[DataFrame], object] | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Run ``rounds`` supersteps ``state = step(state, i)`` and return
    ``(last, prev)``, ``prev`` being the state the last round read.

    Pins are non-eager ``localCheckpoint``s: every ``every`` rounds, on
    the state entering the last round (the step and the caller's
    convergence epilogue both read it) and on the last round's output.
    A pin truncates lineage at plan-build time and its persist keeps
    every later reference single-compute; being non-eager, its rows are
    written by the first job that reads them (under AQE, taking the pin
    still runs the shuffle stages below it). Pins are physical only, so
    results do not depend on ``every``.

    ``probe`` maps a pinned state to a value that stays equal only at a
    fixpoint of a monotone step (a survivor or reached-set count). It
    runs at each cadence pin before the last round; two equal values in
    a row prove every remaining round is an exact no-op, so the loop
    stops and returns ``(state, state)`` — the same rows as running the
    full cap."""
    prev, seen = state, None
    for r in range(1, rounds + 1):
        prev, state = state, step(state, r - 1)
        if r % every == 0 or r >= rounds - 1:
            state = state.localCheckpoint(eager=False)
        if probe is not None and r % every == 0 and r < rounds:
            now = probe(state)
            if now == seen:
                return state, state
            seen = now
    return state, prev


def _converged(
    last: DataFrame, prev: DataFrame, value: str, revisable: bool = True
) -> DataFrame:
    """``last`` with a ``converged`` column: the last round changed
    nothing. Where a row's ``value`` can be revised (hash-min labels,
    Bellman-Ford distances) that means every row of ``last`` is in
    ``prev`` — one anti-join catches new rows and changed values alike;
    where it cannot (BFS hops), equal row counts suffice and need no
    join. The count rides along as a 1-row broadcast, not a separate action."""
    def n(df: DataFrame, name: str) -> DataFrame:
        return F.broadcast(df.agg(F.count(F.lit(1)).alias(name)))

    if revisable:
        out = last.crossJoin(n(last.join(prev, ["id", value], "left_anti"), "__n_new"))
        flag = F.col("__n_new") == 0
    else:
        out = last.crossJoin(n(last, "__n_last")).crossJoin(n(prev, "__n_prev"))
        flag = F.col("__n_last") == F.col("__n_prev")
    return out.select("id", value, flag.alias("converged"))


def _looped_edges(
    edges: DataFrame,
    src: str,
    dst: str,
    seeds: Sequence[int] = (),
    weight: str | None = None,
) -> DataFrame:
    """Pinned symmetric edge relation ``(u, v[, w])`` with a self-loop on
    every endpoint and every seed (weight 0 when weighted).

    The self-loops stand in for the textbook per-round
    ``unionAll(state)`` branch: each vertex offers itself its own value
    through the join, so a round is one join + one min aggregate. The
    directed edge set is pinned first: every union branch reads it, and
    an unpinned reference re-runs the caller's edge derivation once per
    branch (plan-counted on entity resolution: 2× levenshtein, 2×
    BroadcastHashJoin, nothing for AQE to reuse). One ``distinct`` — or,
    weighted, one min-weight ``groupBy`` — then dedups the swapped copy,
    parallel edges and the loops together."""
    cols = [F.col(src).alias("u"), F.col(dst).alias("v")]
    if weight is not None:
        cols.append(F.col(weight).alias("w"))
    e = edges.select(*cols).where(F.col("u") != F.col("v")).localCheckpoint(eager=True)
    w = [F.col("w")] if weight is not None else []
    w0 = [F.lit(0).cast(e.schema["w"].dataType).alias("w")] if w else []
    parts = [
        e,
        e.select(F.col("v").alias("u"), F.col("u").alias("v"), *w),
        e.select("u", F.col("u").alias("v"), *w0),
        e.select(F.col("v").alias("u"), "v", *w0),
    ]
    if seeds:
        seed_df = edges.sparkSession.createDataFrame(
            [(int(s),) for s in seeds], "u BIGINT"
        )
        parts.append(seed_df.select("u", F.col("u").alias("v"), *w0))
    sym = reduce(DataFrame.unionAll, parts)
    sym = sym.groupBy("u", "v").agg(F.min("w").alias("w")) if w else sym.distinct()
    return sym.localCheckpoint(eager=True)


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    vertices: DataFrame | None = None,
    id_col: str = "id",
) -> DataFrame:
    """PageRank by power iteration over the edge list (directed; pass each
    undirected edge both ways). Returns ``(id, rank)`` summing to ~1.

    The uniform-teleport case of :func:`personalized_pagerank`: teleport
    and dangling mass spread over all vertices. Float sums make results
    engine-order-dependent at the last ulp — consumers round."""
    return _random_walk(edges, None, src, dst, damping, n_iter, vertices, id_col)


def personalized_pagerank(
    edges: DataFrame,
    restart_ids: Sequence,
    src: str = "src",
    dst: str = "dst",
    damping: float = 0.85,
    n_iter: int = 10,
    vertices: DataFrame | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Personalized PageRank: teleport (and dangling) mass returns to the
    ``restart_ids`` seed set instead of spreading uniformly — ranks
    become 'importance relative to these seeds', the standard
    related-entity / recommendation primitive. Every round's update is
    (1−d)·p + d·dangling·p + d·inflow with p = 1/|seeds| on the seed
    set, 0 elsewhere (seeds are metadata: a bounded literal set)."""
    seeds = list(restart_ids)
    if not seeds:
        raise ValueError("restart_ids must be non-empty")
    return _random_walk(edges, seeds, src, dst, damping, n_iter, vertices, id_col)


def _random_walk(
    edges: DataFrame,
    seeds: list | None,
    src: str,
    dst: str,
    damping: float,
    n_iter: int,
    vertices: DataFrame | None,
    id_col: str,
) -> DataFrame:
    """The PageRank/PPR body; ``seeds=None`` teleports uniformly.

    Per round: ranks ⋈ degree-annotated edges → contributions grouped on
    dst — one narrow (id, rank/outdeg) shuffle. Dangling mass is never
    collected: rank is conserved (every round's sum is 1),
    so the mass parked on dangling nodes is ``1 − Σ inflow``, a 1-row
    broadcast over the pinned contributions."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u").isNotNull() & F.col("v").isNotNull()
    )
    # Pinned first, as a partitioned+sorted persist rather than a
    # localCheckpoint, for two measured reasons: (a) the vertex set is
    # derived from the materialized edge rows, so the caller's edge
    # derivation (e.g. the co-purchase self-join) evaluates once, not
    # once per init job (plan-counted); (b) a cached relation keeps its
    # partitioning and ordering where a checkpointed one under AQE does
    # not, so every round's rank ⋈ edges join plans with no edge-side
    # exchange and no edge-side sort.
    e_deg = (
        e.join(e.groupBy("u").agg(F.count(F.lit(1)).alias("outdeg")), "u")
        .repartition("u")
        .sortWithinPartitions("u")
        .persist()
    )
    verts = (
        vertices.select(F.col(id_col).alias("id"))
        if vertices is not None
        else e_deg.select(F.col("u").alias("id")).unionAll(
            e_deg.select(F.col("v").alias("id"))
        )
    ).dropDuplicates(["id"]).localCheckpoint(eager=True)
    if seeds is None:
        n = verts.count()
        if n == 0:
            e_deg.unpersist()
            return verts.withColumn("rank", F.lit(0.0))
        p = F.lit(1.0 / n)
    else:
        p = F.when(F.col("id").isin(seeds), F.lit(1.0 / len(seeds))).otherwise(
            F.lit(0.0)
        )

    def step(ranks: DataFrame, _: int) -> DataFrame:
        contribs = (
            ranks.join(e_deg, ranks["id"] == e_deg["u"])
            .select(
                F.col("v").alias("id"),
                (F.col("rank") / F.col("outdeg")).alias("c"),
            )
            .groupBy("id")
            .agg(F.sum("c").alias("inflow"))
            # Two consumers (the mass scalar and the rank join): pinned
            # eagerly so the join+shuffle subtree evaluates once a round
            # (exchange reuse is not guaranteed across the crossJoin).
            .localCheckpoint(eager=True)
        )
        emitted = contribs.agg(
            F.coalesce(F.sum("inflow"), F.lit(0.0)).alias("__emitted")
        )
        return (
            verts.join(contribs, "id", "left_outer")
            .crossJoin(F.broadcast(emitted))
            .select(
                "id",
                (
                    (1.0 - damping) * p
                    + F.lit(damping) * (F.lit(1.0) - F.col("__emitted")) * p
                    + F.lit(damping) * F.coalesce(F.col("inflow"), F.lit(0.0))
                ).alias("rank"),
            )
        )

    ranks, _ = _supersteps(verts.withColumn("rank", p), step, n_iter, 4)
    # The result reads only the pinned verts and contribs.
    e_deg.unpersist()
    return ranks


def label_propagation(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 10,
    vertices: DataFrame | None = None,
    id_col: str = "id",
) -> DataFrame:
    """Synchronous label propagation (community detection): every vertex
    starts as its own community and each round adopts the most frequent
    label among its neighbors, ties to the SMALLEST label — the
    deterministic variant of LPA (asynchronous/random-tiebreak LPA is
    run-order-dependent; this one is reproducible across runs and
    partitionings). Communities are finer than connected components: a
    bridge between two dense cliques usually does NOT merge them.

    Per round: labels ⋈ symmetrized edges → neighbor-label counts grouped
    on (vertex, label) → per-vertex argmax via max(struct(count, −label)).
    Every vertex of the symmetric edge set is a join target each round,
    so the argmax relation IS the next label relation — one labels
    reference per round, linear lineage. Vertices with no (restricted)
    edge never receive an offer and keep their own id; they are a static
    set, unioned once after the loop. Round 1 against identity labels
    counts every neighbor once (sym is distinct), so its argmax is
    ``groupBy(v).min(u)``. Fixed ``n_iter`` (LPA can oscillate;
    cap-and-stop is the standard contract). Labels must be numeric."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col("u").isNotNull() & F.col("v").isNotNull() & (F.col(src) != F.col(dst))
    )
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v"))).distinct()
    verts = (
        vertices.select(F.col(id_col).alias("id")).dropDuplicates(["id"])
        if vertices is not None
        else None
    )
    if verts is not None:
        # Labels propagate only BETWEEN supplied vertices: restrict the
        # edge set once, up front.
        verts = verts.localCheckpoint(eager=True)
        sym = sym.join(verts.withColumnRenamed("id", "u"), "u").join(
            verts.select(F.col("id").alias("v")), "v"
        )
    # Partitioned and sorted on the join key before the persist: a cached
    # relation keeps both (a localCheckpoint under AQE does not), so the
    # per-round join plans with no sym-side exchange or sort.
    sym = sym.repartition("u").sortWithinPartitions("u").persist()

    def step(labels: DataFrame, i: int) -> DataFrame:
        if i == 0:
            return sym.groupBy(F.col("v").alias("id")).agg(
                F.min("u").cast("long").alias("label")
            )
        nbr = (
            sym.join(labels.select(F.col("id").alias("u"), "label"), "u")
            .groupBy(F.col("v").alias("id"), "label")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        return nbr.groupBy("id").agg(
            F.max(
                F.struct(F.col("cnt").alias("c"), (-F.col("label")).alias("nl"))
            ).alias("m")
        ).select("id", (-F.col("m.nl")).cast("long").alias("label"))

    # n_iter == 0 degenerates to identity labels over the connected set.
    labels, _ = _supersteps(
        sym.select(F.col("u").alias("id"))
        .dropDuplicates(["id"])
        .select("id", F.col("id").cast("long").alias("label")),
        step,
        n_iter,
        4,
    )
    if verts is not None:
        keep = verts.join(
            sym.select(F.col("u").alias("id")), "id", "left_anti"
        ).select("id", F.col("id").cast("long").alias("label"))
        labels = labels.unionByName(keep)
    # The result (keep included) reads sym: materialize it before the
    # edge pin is released.
    labels = labels.localCheckpoint(eager=True)
    sym.unpersist()
    return labels


def k_core(
    edges: DataFrame,
    k: int,
    src: str = "src",
    dst: str = "dst",
    n_rounds: int = 8,
) -> DataFrame:
    """k-core decomposition by FIXED-ROUND peeling: every round removes
    vertices whose degree within the surviving set is < k; after
    ``n_rounds`` rounds returns (id, core_degree, converged) where
    ``converged`` records whether one more round would remove nothing —
    fixed rounds keep the computation deterministic and SQL-replayable,
    and the flag makes an unconverged cap loud.

    Per round: a restriction of the pinned symmetric edge set to
    surviving endpoints + one degree aggregate — AQE broadcast-converts
    the survivor sides at runtime, so the symmetric set is never
    re-shuffled. The survivor set is referenced twice per round (u-side
    and v-side), so each round pins it: with the cadence pin alone the
    lineage doubled between pins (plan-counted: 14 SortMergeJoins / 29
    Exchanges in one cadence job). A shrinking restricted-edge-set
    variant was built and rejected on a paired 100× A/B (65.3 s vs
    50.9 s). Survivors shrink monotonically, so equal survivor counts at
    two cadence pins prove a fixpoint and the loop stops early with the
    fixed cap's result."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v")).where(
        F.col(src) != F.col(dst)
    )
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).distinct().localCheckpoint(eager=True)

    def degrees(alive: DataFrame, name: str) -> DataFrame:
        return (
            sym.join(alive.withColumnRenamed("id", "u"), "u")
            .join(alive.select(F.col("id").alias("v")), "v")
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias(name))
        )

    def step(alive: DataFrame, _: int) -> DataFrame:
        return (
            degrees(alive, "deg")
            .where(F.col("deg") >= k)
            .select(F.col("u").alias("id"))
            .localCheckpoint(eager=False)
        )

    last, _ = _supersteps(
        sym.select(F.col("u").alias("id")).distinct(),
        step,
        n_rounds,
        3,
        probe=DataFrame.count,
    )
    final_deg = degrees(last, "core_degree")
    next_n = final_deg.where(F.col("core_degree") >= k).agg(
        F.count(F.lit(1)).alias("__next_n")
    )
    cur_n = last.agg(F.count(F.lit(1)).alias("__cur_n"))
    return (
        final_deg.crossJoin(F.broadcast(cur_n))
        .crossJoin(F.broadcast(next_n))
        .select(
            F.col("u").alias("id"),
            "core_degree",
            (F.col("__next_n") == F.col("__cur_n")).alias("converged"),
        )
    )


def bfs_hops(
    edges: DataFrame,
    seeds: list[int],
    src: str = "src",
    dst: str = "dst",
    n_rounds: int = 8,
) -> DataFrame:
    """Multi-source BFS hop distance by FIXED-ROUND frontier relaxation:
    every round each reached vertex offers ``hops + 1`` to its neighbors
    and every vertex keeps its minimum offer; after ``n_rounds`` rounds
    returns (id, hops, converged) where ``converged`` records whether the
    last round reached no new vertex. Fixed rounds keep the computation
    deterministic and SQL-replayable as chained CTEs, and the flag makes
    an unconverged cap loud.

    Per round: one equi-join of the self-looped symmetric edge set
    (:func:`_looped_edges`; loops offer ``hops + 0``) against the reached
    relation + one min aggregate. A vertex's hop label is its exact BFS
    distance from the round it first appears (never revised), so equal
    reached counts at two cadence pins prove the frontier emptied and the
    loop stops early with the fixed cap's result."""
    sym = _looped_edges(edges, src, dst, seeds)
    reached = edges.sparkSession.createDataFrame(
        [(int(s), 0) for s in seeds], "id BIGINT, hops INT"
    )

    def step(reached: DataFrame, _: int) -> DataFrame:
        return (
            sym.join(
                reached.select(F.col("id").alias("u"), F.col("hops").alias("h")),
                "u",
            )
            .select(
                F.col("v").alias("id"),
                (F.col("h") + (F.col("u") != F.col("v")).cast("int")).alias("hops"),
            )
            .groupBy("id")
            .agg(F.min("hops").cast("int").alias("hops"))
        )

    last, prev = _supersteps(reached, step, n_rounds, 3, probe=DataFrame.count)
    return _converged(last, prev, "hops", revisable=False)


def hash_min_labels(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_rounds: int = 8,
) -> DataFrame:
    """Fixed-round hash-min component labels: every round each vertex
    keeps the minimum label among itself and its neighbors; after
    ``n_rounds`` rounds returns (id, label, converged) where ``converged``
    records whether the final round changed no label (labels only ever
    decrease, so an unchanged round IS the component fixpoint).

    The deterministic, SQL-replayable sibling of
    :func:`connected_components` (which pointer-jumps and probes for a
    fixpoint after every round): fixed rounds + the loud flag certify cross-engine
    as chained CTEs. Use it when component diameter is bounded by
    construction (e.g. blocked record-linkage graphs).

    Per round: one equi-join of the self-looped symmetric edge set
    (:func:`_looped_edges`) against the label relation + one min
    aggregate. Round 1 against identity labels is the edge set itself:
    ``groupBy(u).min(least(u, v))`` over the pinned edges, no join.

    There is no fixpoint probe: on the entity-resolution graph, which
    does not converge before the 8-round cap, a per-pin probe cost ~8%
    (fresh-JVM min-of-3 at sf0.1: 4.92 s vs 4.53 s). The pin cadence of
    2 rounds is measured (fresh-JVM min-of-3 on entity_resolution_parts
    at sf0.1: every 1/2/3/4/8 rounds → 4.2/3.3/5.9/4.8/10.2 s; re-run
    on the self-looped loop: 2.9–3.3 s at 2 against 3.5 s at 3): the
    cost is lineage re-optimization between pins, not data volume."""
    sym = _looped_edges(edges, src, dst)

    def step(labels: DataFrame, i: int) -> DataFrame:
        if i == 0:
            offers = sym.select(F.col("u").alias("id"), F.least("u", "v").alias("label"))
        else:
            offers = sym.join(
                labels.select(F.col("id").alias("v"), F.col("label").alias("l")), "v"
            ).select(F.col("u").alias("id"), F.col("l").alias("label"))
        return offers.groupBy("id").agg(F.min("label").alias("label"))

    identity = sym.select(F.col("u").alias("id")).distinct()
    last, prev = _supersteps(
        identity.select("id", F.col("id").alias("label")), step, n_rounds, 2
    )
    return _converged(last, prev, "label")


def bellman_ford(
    edges: DataFrame,
    seeds: list[int],
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
    n_rounds: int = 10,
) -> DataFrame:
    """Fixed-round Bellman-Ford single/multi-source cheapest paths over
    non-negative INTEGER edge weights: every round each reached vertex
    offers ``dist + w`` along its (symmetrized) edges and every vertex
    keeps its minimum offer; after ``n_rounds`` rounds returns
    (id, dist, converged) where ``converged`` records that the final
    round neither reached a new vertex nor lowered any distance (with
    non-negative weights an unchanged round IS the shortest-path
    fixpoint — the weighted generalization of :func:`bfs_hops`).

    Deterministic fixed rounds + exact integer distances make the table
    SQL-replayable as chained MATERIALIZED CTEs. Per round: one
    equi-join of the weight-0 self-looped symmetric edge set
    (:func:`_looped_edges`) against the reached relation + one min
    aggregate."""
    sym = _looped_edges(edges, src, dst, seeds, weight)
    reached = edges.sparkSession.createDataFrame(
        [(int(s), 0) for s in seeds], "id BIGINT, dist BIGINT"
    )

    def step(reached: DataFrame, _: int) -> DataFrame:
        return (
            sym.join(
                reached.select(F.col("id").alias("u"), F.col("dist").alias("d")),
                "u",
            )
            .select(F.col("v").alias("id"), (F.col("d") + F.col("w")).alias("dist"))
            .groupBy("id")
            .agg(F.min("dist").alias("dist"))
        )

    last, prev = _supersteps(reached, step, n_rounds, 3)
    return _converged(last, prev, "dist")
