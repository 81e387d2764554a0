"""Connected-components tests: transitive closure correctness, determinism
under partitioning, loud non-convergence, and duplicate resolution."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.graph import (
    connected_components,
    resolve_duplicates,
)


def _comp(components):
    with components as df:
        return {r["id"]: r["component"] for r in df.collect()}


def test_transitive_closure_merges_chains(spark):
    # A-B, B-C, C-D one cluster; E-F another; pairwise min would under-merge
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (5, 6)], ["id_a", "id_b"]
    )
    comp = _comp(connected_components(pairs))
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 5: 5, 6: 5}


def test_components_deterministic_under_partitioning(spark):
    import random

    rng = random.Random(11)
    # 50 star clusters of 6 + random chain links inside each cluster
    pairs = []
    for c in range(50):
        base = c * 10
        for m in range(1, 6):
            pairs.append((base, base + m))
        pairs.append((base + 1, base + 2))
    rng.shuffle(pairs)
    df = spark.createDataFrame(pairs, ["id_a", "id_b"])
    a = _comp(connected_components(df))
    b = _comp(connected_components(df.repartition(17)))
    assert a == b
    assert all(v == (k // 10) * 10 for k, v in a.items())


def test_nonconvergence_raises_loudly(spark):
    # small_graph_pairs=0 forces the DISTRIBUTED fixpoint (the driver
    # union-find fast path has no iteration bound to trip)
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(30)], ["id_a", "id_b"]
    )
    with pytest.raises(RuntimeError, match="did not converge"):
        _comp(connected_components(chain, max_iterations=2, small_graph_pairs=0))
    # and converges fine when allowed to run
    comp = _comp(
        connected_components(chain, max_iterations=40, small_graph_pairs=0)
    )
    assert set(comp.values()) == {0}


def test_driver_fast_path_matches_distributed(spark):
    """The union-find fast path must be value-identical to the
    distributed min-label fixpoint on the same graph."""
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(80)]
    edges = [(a, b) for a, b in edges if a != b]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    fast = _comp(connected_components(pairs))
    dist = _comp(connected_components(pairs, small_graph_pairs=0))
    assert fast == dist


def test_resolve_duplicates_keeps_one_per_cluster(spark):
    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(10)], ["doc_id", "text"]
    )
    pairs = spark.createDataFrame(
        [(1, 4), (4, 7), (2, 5)], ["id_a", "id_b"]  # {1,4,7} and {2,5}
    )
    with resolve_duplicates(
        docs, pairs, "doc_id", component_col="cluster"
    ) as out:
        rows = {r["doc_id"]: r["cluster"] for r in out.collect()}
    assert sorted(rows) == [0, 1, 2, 3, 6, 8, 9]  # 4,7,5 dropped
    assert rows[1] == 1 and rows[2] == 2          # reps keep their cluster id
    assert rows[0] == 0 and rows[9] == 9          # singletons untouched


def test_stars_matches_propagation_on_random_graph(spark):
    import random

    from datawarehousefinal_spark.operators.graph import (
        connected_components,
        connected_components_stars,
    )

    rng = random.Random(7)
    edges = [(rng.randrange(150), rng.randrange(150)) for _ in range(120)]
    edges = [(a, b) for a, b in edges if a != b]
    df = spark.createDataFrame(edges, ["id_a", "id_b"])
    assert _comp(connected_components(df)) == _comp(connected_components_stars(df))


def test_stars_converges_on_high_diameter_chain(spark):
    """A 300-node chain has diameter 300 — min-label propagation would
    need 300 rounds (and raises at its default budget); the star
    contraction closes it in O(log^2 n) rounds within the default 50."""
    from datawarehousefinal_spark.operators.graph import connected_components_stars

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(300)], ["id_a", "id_b"]
    )
    out = _comp(connected_components_stars(chain))
    assert len(out) == 301
    assert set(out.values()) == {0}


def test_incremental_components_append_equals_rebuild(spark):
    from datawarehousefinal_spark.operators.graph import (
        connected_components,
        incremental_components,
    )

    e1 = spark.createDataFrame(
        [(1, 2), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    e2 = spark.createDataFrame(
        [(2, 3), (20, 21)], ["id_a", "id_b"]  # bridges {1,2}-{3,4}; new cluster
    )
    with connected_components(e1) as assign1:
        m = _comp(incremental_components(assign1, e2))
    rb = _comp(connected_components(e1.unionByName(e2)))
    assert m == rb
    assert m[4] == 1  # the bridge united the two old clusters


def test_incremental_components_keeps_singleton_representatives(spark):
    from datawarehousefinal_spark.operators.graph import (
        incremental_components,
    )

    # a store containing a singleton (id 7 is its own component) must
    # survive a merge that doesn't touch it
    assign = spark.createDataFrame(
        [(1, 1), (2, 1), (7, 7)], ["id", "component"]
    )
    batch = spark.createDataFrame([(2, 3)], ["id_a", "id_b"])
    out = _comp(incremental_components(assign, batch))
    assert out == {1: 1, 2: 1, 3: 1, 7: 7}


def test_components_release_their_checkpoints(spark):
    """The distributed path and the star contraction yield frames over
    local checkpoints; leaving the block frees every one of them."""
    from datawarehousefinal_spark.operators.graph import connected_components_stars

    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["id_a", "id_b"]
    )
    with connected_components(chain, small_graph_pairs=0) as comp:
        assert comp.count() == 13
        assert set(jsc.getPersistentRDDs().keySet().toArray()) - before
    assert set(_comp(connected_components_stars(chain)).values()) == {0}
    assert set(jsc.getPersistentRDDs().keySet().toArray()) - before == set()
