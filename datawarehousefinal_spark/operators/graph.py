"""Near-dup cluster resolution — connected components over a pair list.

Every near-dup detector in this engine (:mod:`operators.dedup`,
:mod:`operators.similarity`) emits PAIRS; real deduplication needs the
transitive closure: if A~B and B~C, then A, B, C are one duplicate
cluster and exactly one survives. A pairwise keep-min pass under-merges
(it would keep both A and C when only B links them). Beyond-reference —
the reference has no corpus dedup at all.

Algorithm: iterative min-label propagation. Every node starts labeled
with itself; each round, every node takes the minimum label among itself
and its neighbors; at fixpoint, each node's label is the minimum id of
its component — a deterministic cluster representative.

Scale design: one round = one join (labels onto the symmetrized edge
list) + one map-side-combined min-aggregate — shuffles keyed on node id,
never materializing anything wider than (node, label). Rounds needed =
the graph DIAMETER, and near-dup graphs have tiny diameters (duplicate
clusters are quasi-cliques around a shared template; a 1M-copy cluster
converges in one round). Convergence is checked each round (an early-exit
``limit(1)`` probe, not a full count) and non-convergence at
``max_iterations`` raises instead of returning partial components — no
silent under-merge. For adversarial chain-shaped graphs (diameter ~ n),
switch to pointer-doubling / large-star-small-star (O(log n) rounds at
~2x the per-round cost); duplicate detection does not produce those
shapes, so the simple propagation is the right default.

Each round's label frame is ``localCheckpoint``-ed, not merely persisted:
persistence short-circuits recomputation but the LOGICAL plan still
doubles per iteration (every round references the last), so analysis
cost grows exponentially and the plan string alone reaches gigabytes by
round ~25 — checkpointing truncates the lineage to the materialized
result, the standard discipline for iterative DataFrame algorithms.

Operators whose result is as large as their input (component maps,
ranks, distances, triangle counts) are context managers: they yield a
frame over their last checkpoint and release it on exit, so the result
never has to be collected to the driver and nothing outlives the block.
"""

from __future__ import annotations

from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from datawarehousefinal_spark.materialize import local_result, materialized, release


#: Pair-count bound for the driver-side union-find fast path. 200k pairs
#: collect to a few MB — far below any driver memory concern — while the
#: distributed fixpoint costs ~3 scheduled jobs PER ROUND, pure task
#: overhead when the graph is tiny (measured 6.8 s for a ~30-pair graph
#: at bench scale). Near-dup pair lists are sparse by construction
#: (LSH/banding upstream), so most corpora resolve on the driver; a
#: pair list past the bound takes the distributed path unchanged.
_SMALL_GRAPH_PAIRS = 200_000


def _components_driver(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Union-find on collected pairs — semantics IDENTICAL to the
    distributed fixpoint (component = min id of the component)."""
    rows = pairs.select(id_a, id_b).collect()
    parent: dict = {}

    def find(x):
        r = x
        while parent.get(r, r) != r:
            r = parent[r]
        while parent.get(x, x) != x:
            parent[x], x = r, parent[x]
        return r

    for a, b in rows:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    out = [(n, find(n)) for n in parent]
    schema = pairs.select(
        F.col(id_a).alias("id"), F.col(id_a).alias("component")
    ).schema
    return local_result(pairs.sparkSession.createDataFrame(out, schema))


@contextmanager
def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
    small_graph_pairs: int = _SMALL_GRAPH_PAIRS,
) -> Iterator[DataFrame]:
    """Components of the undirected graph given by ``pairs``.

    Yields ``(id, component)`` for every node appearing in ``pairs``,
    where ``component`` is the minimum id in the node's component —
    deterministic, engine-portable. Nodes with no edges are absent (the
    caller's frame is the universe; absent = its own singleton).

    Graphs of at most ``_SMALL_GRAPH_PAIRS`` pairs resolve with a
    driver-side union-find (one bounded ``limit(n+1).count()`` probe +
    one bounded collect) — identical output, none of the per-round job
    overhead; larger graphs run the distributed min-label fixpoint.

    ``pairs`` is consumed at least twice (the size probe, then either
    the driver collect or the symmetrized edge build), and candidate
    pipelines feeding it (LSH banding + verification) are expensive to
    replay — so it is persisted while the components are computed
    unless the caller already persisted it (measured on the curation
    funnel: the unpersisted probe+collect replayed the full minhash
    pipeline twice). The driver path yields a local relation, the
    distributed path the converged labels' checkpoint.
    """
    comp = None
    try:
        with materialized(pairs) as pairs:
            if small_graph_pairs > 0 and (
                pairs.limit(small_graph_pairs + 1).count() <= small_graph_pairs
            ):
                comp = _components_driver(pairs, id_a, id_b)
            else:
                fwd = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
                with materialized(
                    fwd.unionByName(
                        pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst"))
                    )
                ) as sym:
                    comp = (
                        sym.select(F.col("src").alias("id"))
                        .distinct()
                        .withColumn("component", F.col("id"))
                        .localCheckpoint()
                    )
                    for _ in range(max_iterations):
                        neighbor = (
                            sym.join(comp, sym.dst == comp.id)
                            .select(F.col("src").alias("id"), "component")
                        )
                        new_labels = (
                            comp.unionByName(neighbor)
                            .groupBy("id")
                            .agg(F.min("component").alias("component"))
                            .localCheckpoint()  # truncate lineage — see module docstring
                        )
                        changed = (
                            new_labels.alias("n")
                            .join(comp.alias("o"), "id")
                            .filter(F.col("n.component") != F.col("o.component"))
                            .limit(1)
                            .count()
                        )
                        # the checkpoint materialized the new round: drop the old one
                        release(comp)
                        comp = new_labels
                        if changed == 0:
                            break
                    else:
                        raise RuntimeError(
                            f"connected_components did not converge in {max_iterations} "
                            f"rounds — the pair graph has a longer diameter than duplicate "
                            f"clusters produce; raise max_iterations or use a "
                            f"pointer-doubling variant."
                        )
        yield comp
    finally:
        release(comp)


@contextmanager
def connected_components_stars(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 50,
) -> Iterator[DataFrame]:
    """Components via alternating large-star / small-star contraction —
    the O(log² n)-round alternative :func:`connected_components`'s
    docstring names for ADVERSARIAL graph shapes (a diameter-d graph
    costs min-label propagation d rounds; a million-node chain never
    converges there, but contracts here in ~20).

    Public textbook algorithm (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): each round,

    * **large-star** — every node u points its LARGER neighbors at
      ``m = min(N(u) ∪ {u})``: one symmetrized edge list, one
      map-side-combined min per node, one broadcast-friendly join back.
    * **small-star** — edges directed high→low; every node points its
      smaller neighbors (and itself) at its minimum neighbor.

    Both steps only ever materialize (node, label) pairs — same width
    discipline as the propagation variant; each round localCheckpoints
    to truncate the doubling lineage. Converges when the edge multiset
    is a fixpoint (checked with one count+checksum aggregate, not a
    full diff); the fixpoint is a forest of depth-1 stars rooted at
    each component's minimum id — read off directly.

    Yields ``(id, component)`` for every node in ``pairs`` (component
    = min id of the component), identical contract to
    :func:`connected_components`.
    """
    def _fingerprint(e: DataFrame) -> tuple:
        # bit_xor folds, not sum: XOR cannot overflow (sum of longs
        # wraps, which ANSI mode would turn into a throw), and two
        # independently-seeded hash folds make a false fixpoint on
        # unequal edge sets practically impossible.
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("u", "v")).alias("h1"),
            F.bit_xor(F.xxhash64("v", "u", F.lit(0x9E3779B9))).alias("h2"),
        ).first()
        return (row["n"], row["h1"], row["h2"])

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("__mv"))
            .select("u", F.least("__mv", "u").alias("m"))
        )
        return (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _small_star(e: DataFrame) -> DataFrame:
        directed = e.select(
            F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
        )
        mins = directed.groupBy("u").agg(F.min("v").alias("m"))
        neighbor_edges = (
            directed.join(mins, "u")
            .filter(F.col("v") != F.col("m"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        self_edges = mins.select(F.col("u"), F.col("m").alias("v"))
        return (
            neighbor_edges.unionByName(self_edges)
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    # pairs feeds both checkpoints: persist it until both have read it
    edges = nodes = None
    try:
        with materialized(pairs) as pairs:
            edges = (
                pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v"))
                .filter(F.col("u") != F.col("v"))
                .distinct()
                .localCheckpoint()
            )
            nodes = (
                pairs.select(F.col(id_a).alias("id"))
                .unionByName(pairs.select(F.col(id_b).alias("id")))
                .distinct()
                .localCheckpoint()
            )
        fp = _fingerprint(edges)
        for _ in range(max_iterations):
            new_edges = _small_star(_large_star(edges)).localCheckpoint()
            new_fp = _fingerprint(new_edges)
            release(edges)
            edges = new_edges
            if new_fp == fp:
                break
            fp = new_fp
        else:
            raise RuntimeError(
                f"connected_components_stars did not converge in {max_iterations} "
                f"rounds — not expected for any graph at this round budget "
                f"(O(log^2 n)); check for pathological id skew."
            )
        # Fixpoint: every edge is (member, root). Roots appear only on
        # the v side; emit them as their own component rows.
        members = edges.select(F.col("u").alias("id"), F.col("v").alias("component"))
        yield nodes.join(members, "id", "left").select(
            "id", F.coalesce("component", F.col("id")).alias("component")
        )
    finally:
        release(edges, nodes)


@contextmanager
def resolve_duplicates(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
    component_col: str | None = None,
) -> Iterator[DataFrame]:
    """Keep exactly one survivor per duplicate cluster: the component
    representative (minimum id — keep-first semantics on the id order).

    Rows never mentioned in ``pairs`` survive untouched (singleton
    clusters). The anti-join ships only the non-representative id set —
    at scale that is the duplicate mass, which is exactly what must move.
    Pass ``component_col`` to keep the cluster id on survivors (e.g. to
    count cluster sizes downstream).
    """
    with connected_components(pairs, id_a, id_b) as comp:
        losers = comp.filter(F.col("id") != F.col("component")).select(
            F.col("id").alias(id_col)
        )
        out = df.join(losers, id_col, "left_anti")
        if component_col is not None:
            reps = comp.filter(F.col("id") == F.col("component")).select(
                F.col("id").alias(id_col), F.col("component").alias(component_col)
            )
            out = out.join(reps, id_col, "left").withColumn(
                component_col, F.coalesce(component_col, F.col(id_col))
            )
        yield out


@contextmanager
def incremental_components(
    assignments: DataFrame,
    new_pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> Iterator[DataFrame]:
    """Incremental component maintenance: fold a batch of NEW edges into
    an existing ``(id, component)`` assignment without re-reading the
    historical edge set — the store-update step of a production near-dup
    registry (the graph twin of the BM25/minhash append operators).

    Key fact: an assignment is itself a spanning star — the edge set
    ``{(id, component)}`` has exactly the same components as the
    original graph. So merging = components of (assignment stars ∪ new
    pairs), a frame of |nodes| + |batch| edges, NOT |history| edges:
    the full pair history is never stored or re-scanned, and
    ``merge(assign(E₁), E₂) ≡ assign(E₁ ∪ E₂)`` exactly (pinned by the
    append-equals-rebuild test and the oracle's full-history closure).

    Yields the same ``(id, component)`` contract, min-id labels.
    """
    star_edges = assignments.select(
        F.col("id").alias(id_a), F.col("component").alias(id_b)
    ).filter(F.col(id_a) != F.col(id_b))
    merged = star_edges.unionByName(
        new_pairs.select(
            F.col(id_a).cast(star_edges.schema[id_a].dataType),
            F.col(id_b).cast(star_edges.schema[id_b].dataType),
        )
    )
    # components() omits edgeless nodes — previously-assigned singleton
    # representatives and isolated batch nodes must survive the merge as
    # their own components, or the store would forget them
    universe = (
        assignments.select("id")
        .unionByName(new_pairs.select(F.col(id_a).alias("id")))
        .unionByName(new_pairs.select(F.col(id_b).alias("id")))
        .distinct()
    )
    with connected_components(merged, id_a, id_b) as comp:
        yield universe.join(comp, "id", "left").withColumn(
            "component", F.coalesce("component", F.col("id"))
        )


@contextmanager
def triangle_count(
    edges: DataFrame, src: str, dst: str
) -> Iterator[tuple[DataFrame, DataFrame]]:
    """Exact triangle counting over an undirected simple graph given as
    a pair list (self-loops and duplicate/reversed edges tolerated).

    Classic two-join "compact-forward" shape: edges are first oriented
    low-degree → high-degree (ties broken by id), which caps every
    node's out-degree at O(sqrt(E)) even on power-law graphs — THE
    standard skew bound for distributed triangle enumeration (a
    celebrity node with 10M followers contributes wedges only through
    its low-degree endpoints, never 10M² pairs). Wedges (a→b, a→c) then
    join against the oriented edge set on (b, c) to close triangles.
    All counts are exact integers — merge-order-free, SQL-replayable.

    Yields ``(per_node, totals)``: per-node triangle participation
    (node, n_triangles) and a 1-row frame (n_nodes, n_edges,
    n_triangles). Beyond-reference: graph structure analytics over the
    near-dup / co-occurrence graphs the dedup stack emits.
    """
    # Materialize the two hot frames: canon feeds degree/orientation/
    # totals, and oriented feeds BOTH wedge sides plus the closing set —
    # without checkpoints the canonicalization re-executes per consumer.
    with materialized(
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("u"),
            F.greatest(F.col(src), F.col(dst)).alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct(),
        checkpoint=True,
    ) as canon:
        deg = (
            canon.select(F.col("u").alias("node"))
            .unionByName(canon.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
        )
        du = deg.select(F.col("node").alias("u"), F.col("deg").alias("du"))
        dv = deg.select(F.col("node").alias("v"), F.col("deg").alias("dv"))
        # Orient by (degree, id): a < b iff (deg(a), a) < (deg(b), b).
        with materialized(
            canon.join(du, "u")
            .join(dv, "v")
            .select(
                F.when(
                    (F.col("du") < F.col("dv"))
                    | ((F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))),
                    F.struct(F.col("u").alias("a"), F.col("v").alias("b")),
                )
                .otherwise(
                    F.struct(F.col("v").alias("a"), F.col("u").alias("b"))
                )
                .alias("e")
            )
            .select("e.a", "e.b"),
            checkpoint=True,
        ) as oriented:
            wedges = (
                oriented.alias("e1")
                .join(oriented.alias("e2"), F.col("e1.a") == F.col("e2.a"))
                .filter(F.col("e1.b") < F.col("e2.b"))
                .select(
                    F.col("e1.a").alias("w0"),
                    F.col("e1.b").alias("w1"),
                    F.col("e2.b").alias("w2"),
                )
            )
            closing = oriented.select(
                F.col("a").alias("c1"), F.col("b").alias("c2")
            ).unionByName(
                oriented.select(F.col("b").alias("c1"), F.col("a").alias("c2"))
            )
            tris = wedges.join(
                closing,
                (F.col("w1") == F.col("c1")) & (F.col("w2") == F.col("c2")),
                "left_semi",
            )
            per_node = (
                tris.select(F.col("w0").alias("node"))
                .unionByName(tris.select(F.col("w1").alias("node")))
                .unionByName(tris.select(F.col("w2").alias("node")))
                .groupBy("node")
                .agg(F.count(F.lit(1)).alias("n_triangles"))
            )
            totals = canon.agg(
                F.count(F.lit(1)).alias("n_edges")
            ).crossJoin(
                deg.agg(F.count(F.lit(1)).alias("n_nodes"))
            ).crossJoin(tris.agg(F.count(F.lit(1)).alias("n_triangles")))
            yield per_node, totals


@contextmanager
def pagerank(
    edges: DataFrame,
    src: str,
    dst: str,
    weight: str | None = None,
    iterations: int = 3,
    damping: float = 0.85,
) -> Iterator[DataFrame]:
    """Fixed-iteration weighted PageRank over an edge list — the
    canonical iterative-join workload (link/influence analysis over the
    co-occurrence and near-dup graphs this engine builds).

    Per iteration: ranks join onto edges (one shuffle keyed on src),
    contributions ``rank * w / w_out`` aggregate by dst (map-side
    partial), and dangling nodes (no out-edges) keep a damped share via
    the standard uniform teleport. Ranks start at 1/N; every sum is of
    POSITIVE doubles with no cancellation, so the result is stable at
    the driver hash's 6-significant-digit precision, and a FIXED
    iteration count (no convergence probe) keeps the computation pure,
    deterministic arithmetic — replayable as unrolled SQL CTEs.

    Each iteration's rank frame is ``localCheckpoint``-ed to truncate
    lineage (same discipline as :func:`connected_components` — without
    it the logical plan doubles per round), and the previous round is
    released once the next is materialized.

    Yields (node, rank); ranks sum to ~1 (dangling mass is
    redistributed uniformly).
    """
    if iterations < 1:
        raise ValueError(f"pagerank needs iterations >= 1, got {iterations}")
    w_expr = (
        F.col(weight).cast("double") if weight else F.lit(1.0)
    )
    # Materialize the edge list ONCE: nodes and the normalized
    # transition frame both derive from it, and without this the
    # (potentially expensive) upstream edge-building plan executes
    # per derived checkpoint.
    ranks = None
    try:
        with materialized(
            edges.select(
                F.col(src).alias("src"), F.col(dst).alias("dst"), w_expr.alias("w")
            ).filter(F.col("w") > 0),
            checkpoint=True,
        ) as e:
            out_w = e.groupBy("src").agg(F.sum("w").alias("w_out"))
            with (
                materialized(
                    e.select(F.col("src").alias("node"))
                    .unionByName(e.select(F.col("dst").alias("node")))
                    .distinct(),
                    checkpoint=True,
                ) as nodes,
                materialized(
                    e.join(out_w, "src").select(
                        "src", "dst", (F.col("w") / F.col("w_out")).alias("p")
                    ),
                    checkpoint=True,
                ) as norm,
            ):
                n = nodes.count()
                has_out = out_w.select(F.col("src").alias("node"))

                def step(ranks: DataFrame) -> DataFrame:
                    contrib = (
                        ranks.join(norm, ranks["node"] == norm["src"])
                        .groupBy(F.col("dst").alias("node"))
                        .agg(F.sum(F.col("rank") * F.col("p")).alias("in_mass"))
                    )
                    dangling = (
                        ranks.join(has_out, "node", "left_anti")
                        .agg(F.coalesce(F.sum("rank"), F.lit(0.0)).alias("d"))
                    )
                    return (
                        nodes.join(contrib, "node", "left")
                        .crossJoin(F.broadcast(dangling))
                        .select(
                            "node",
                            (
                                F.lit((1.0 - damping) / n)
                                + F.lit(damping)
                                * (F.coalesce("in_mass", F.lit(0.0)) + F.col("d") / n)
                            ).alias("rank"),
                        )
                    )

                ranks = nodes.select("node", F.lit(1.0 / n).alias("rank"))
                for _ in range(iterations):
                    new_ranks = step(ranks).localCheckpoint(eager=True)
                    release(ranks)
                    ranks = new_ranks
        yield ranks  # the last round reads no released checkpoint
    finally:
        release(ranks)


@contextmanager
def khop_distances(
    edges: DataFrame,
    src: str,
    dst: str,
    source_nodes: list,
    max_hops: int = 3,
) -> Iterator[DataFrame]:
    """Unweighted BFS distances from a seed set, bounded at ``max_hops``
    — reachability/blast-radius analysis over the engine's graphs
    ("which nations are within k trade hops", "which docs link to this
    cluster within k steps").

    Fixed-iteration label relaxation: start the seeds at distance 0;
    each round joins the frontier onto the (symmetrized) edge list and
    keeps the MIN distance per node — one shuffle keyed on node id per
    round, map-side-combined min, ``localCheckpoint`` per round to
    truncate lineage. A FIXED hop bound (like :func:`pagerank`'s fixed
    iterations) keeps the result pure deterministic integer arithmetic,
    replayable as unrolled SQL CTEs.

    Yields node, distance (0..max_hops; unreachable nodes absent).
    """
    dist = edges.sparkSession.createDataFrame(
        [(n, 0) for n in source_nodes], ["node", "distance"]
    )
    try:
        with materialized(
            edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
            .unionByName(
                edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
            )
            .distinct(),
            checkpoint=True,
        ) as sym:
            for _ in range(max_hops):
                reached = (
                    dist.join(sym, dist["node"] == sym["a"])
                    .select(
                        F.col("b").alias("node"),
                        (F.col("distance") + 1).alias("distance"),
                    )
                )
                new_dist = (
                    dist.unionByName(reached)
                    .groupBy("node")
                    .agg(F.min("distance").alias("distance"))
                    .localCheckpoint(eager=True)
                )
                release(dist)
                dist = new_dist
        yield dist
    finally:
        release(dist)
