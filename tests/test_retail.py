"""Unit tests for operators/retail.py (basket lift, deterministic ntile,
RFM, decile lift) and the graph additions (triangle_count, pagerank)."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from datawarehousefinal_spark.operators.graph import pagerank, triangle_count
from datawarehousefinal_spark.operators.retail import (
    basket_lift,
    decile_lift,
    deterministic_ntile,
    rfm_scores,
)


def test_basket_lift_exact_values(spark):
    # 4 baskets: {a,b} {a,b} {a,c} {b}
    rows = [
        (1, "a"), (1, "b"),
        (2, "a"), (2, "b"),
        (3, "a"), (3, "c"),
        (4, "b"),
    ]
    df = spark.createDataFrame(rows, ["basket", "item"])
    with basket_lift(df, "basket", "item", min_support=1) as lift:
        out = {(r["item_a"], r["item_b"]): r for r in lift.collect()}
    ab = out[("a", "b")]
    assert ab["n_ab"] == 2 and ab["n_a"] == 3 and ab["n_b"] == 3
    # lift = 4 * 2 / (3*3)
    assert ab["lift"] == pytest.approx(8 / 9)
    assert ab["confidence_ab"] == pytest.approx(2 / 3)
    ac = out[("a", "c")]
    assert ac["n_ab"] == 1 and ac["lift"] == pytest.approx(4 * 1 / (3 * 1))
    # a basket over max_basket distinct items leaves the WHOLE analysis:
    # no pairs of its own, and no change to n or the item counts
    big = df.unionByName(
        spark.createDataFrame([(5, f"i{k}") for k in range(10)], ["basket", "item"])
    )
    with basket_lift(big, "basket", "item", min_support=1, max_basket=5) as lift:
        capped = {(r["item_a"], r["item_b"]): r["lift"] for r in lift.collect()}
    assert capped == {k: r["lift"] for k, r in out.items()}


def test_deterministic_ntile_sizes_and_stability(spark):
    df = spark.createDataFrame([(i,) for i in range(103)], ["id"])
    out = deterministic_ntile(df, ["id"], 4, "b")
    sizes = {
        r["b"]: r["n"]
        for r in out.groupBy("b").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # formula 1 + (rank-1)*4 DIV 103: bucket sizes 26/26/26/25
    assert sum(sizes.values()) == 103
    assert sorted(sizes) == [1, 2, 3, 4]
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # invariant under input partitioning
    again = deterministic_ntile(df.repartition(7), ["id"], 4, "b")
    assert sorted(out.collect()) == sorted(again.collect())
    # rank 1 -> bucket 1, rank n -> bucket k
    vals = {r["id"]: r["b"] for r in out.collect()}
    assert vals[0] == 1 and vals[102] == 4


def test_rfm_scores_known_input(spark):
    rows = [
        # cust, date, amount: cust 1 recent+rich+frequent, cust 4 stale+poor
        (1, "2024-06-01", 500.0), (1, "2024-05-01", 400.0),
        (2, "2024-04-01", 300.0), (2, "2024-03-01", 100.0),
        (3, "2024-02-01", 150.0),
        (4, "2024-01-01", 10.0),
    ]
    df = spark.createDataFrame(rows, ["cust", "dt", "amt"])
    with rfm_scores(df, "cust", "dt", "amt") as scored:
        out = {r["customer"]: r for r in scored.collect()}
    assert out[1]["r_score"] == 4 and out[1]["m_score"] == 4
    assert out[4]["r_score"] == 1 and out[4]["m_score"] == 1
    assert out[1]["monetary"] == pytest.approx(900.0)
    # frequency ties (2,2,1,1) resolve by customer id, deterministically
    assert out[1]["f_score"] < out[2]["f_score"]  # same freq, id 1 first


def test_decile_lift_last_row_is_base_rate(spark):
    rows = [(i, float(1000 - i), 1 if i < 30 else 0) for i in range(100)]
    df = spark.createDataFrame(rows, ["id", "neg", "label"]).select(
        (-F.col("neg")).alias("s"), "id", "label"
    )
    out = decile_lift(df, ["s", "id"], "label", n_deciles=10).collect()
    assert len(out) == 10
    by_d = {r["decile"]: r for r in out}
    # top deciles hold all positives (score aligned with label)
    assert by_d[1]["n_pos"] == 10 and by_d[4]["n_pos"] == 0
    # cumulative lift at the last decile is exactly 1 (cum = total)
    assert by_d[10]["cum_lift"] == pytest.approx(1.0)
    assert by_d[1]["cum_lift"] == pytest.approx((10 / 10) / (30 / 100))


def test_triangle_count_known_graph(spark):
    # K4 on {1..4} (4 triangles) + pendant edge (4,5) + dup/reversed noise
    edges = [
        (1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4),
        (4, 5), (5, 4), (2, 1), (1, 1),
    ]
    df = spark.createDataFrame(edges, ["s", "d"])
    with triangle_count(df, "s", "d") as (per_node, totals):
        t = totals.collect()[0]
        pn = {r["node"]: r["n_triangles"] for r in per_node.collect()}
    assert t["n_nodes"] == 5 and t["n_edges"] == 7 and t["n_triangles"] == 4
    assert pn == {1: 3, 2: 3, 3: 3, 4: 3}  # each K4 vertex in 3 triangles


def test_pagerank_matches_reference_math(spark):
    # 3-node graph: 1->2, 2->3, 3->1 (cycle) + dangling node 4 via 1->4
    edges = [(1, 2, 1.0), (2, 3, 1.0), (3, 1, 1.0), (1, 4, 1.0)]
    df = spark.createDataFrame(edges, ["s", "d", "w"])
    with pagerank(df, "s", "d", weight="w", iterations=3) as ranks:
        out = {r["node"]: r["rank"] for r in ranks.collect()}
    # replay the same fixed-point arithmetic in plain python
    n = 4
    ranks = {i: 1.0 / n for i in range(1, 5)}
    succ = {1: [(2, 0.5), (4, 0.5)], 2: [(3, 1.0)], 3: [(1, 1.0)]}
    d = 0.85
    for _ in range(3):
        mass = {i: 0.0 for i in range(1, 5)}
        for s, outs in succ.items():
            for t, p in outs:
                mass[t] += ranks[s] * p
        dang = sum(r for i, r in ranks.items() if i not in succ)
        ranks = {
            i: (1.0 - d) / n + d * (mass[i] + dang / n) for i in range(1, 5)
        }
    for i in range(1, 5):
        assert out[i] == pytest.approx(ranks[i], rel=1e-12), i
    assert sum(out.values()) == pytest.approx(1.0, rel=1e-9)


def test_domain_reweight_upweights_lossy_domain(spark):
    import math

    from datawarehousefinal_spark.operators.curation import domain_reweight

    rows = [("a", 0.1)] * 6 + [("b", 0.5)] * 2 + [("c", 0.3)] * 2
    df = spark.createDataFrame(rows, ["dom", "loss"])
    out = {r["domain"]: r for r in domain_reweight(df, "dom", "loss").collect()}
    assert out["a"]["share"] == pytest.approx(0.6)
    assert out["a"]["mean_loss"] == pytest.approx(0.1)
    # replay: raw_i = share_i * exp(mean_i - min_mean); w = raw / Z
    raws = {d: out[d]["share"] * math.exp(out[d]["mean_loss"] - 0.1)
            for d in out}
    z = sum(raws.values())
    for d in out:
        assert out[d]["new_weight"] == pytest.approx(raws[d] / z, rel=1e-12)
    # the lossy domain gains weight relative to its share
    assert out["b"]["new_weight"] > out["b"]["share"]
    assert out["a"]["new_weight"] < out["a"]["share"]
    assert sum(r["new_weight"] for r in out.values()) == pytest.approx(1.0)


def test_loo_group_influence_exact(spark):
    from datawarehousefinal_spark.operators.curation import (
        loo_group_influence,
    )

    rows = [("a", 1.0), ("a", 3.0), ("b", 10.0)]
    df = spark.createDataFrame(rows, ["g", "s"])
    out = {r["group"]: r for r in loo_group_influence(df, "g", "s").collect()}
    # global mean 14/3; without a -> 10; without b -> 2
    assert out["a"]["influence"] == pytest.approx(14 / 3 - 10)
    assert out["b"]["influence"] == pytest.approx(14 / 3 - 2)
    assert out["b"]["group_mean"] == pytest.approx(10.0)


def test_khop_distances_known_graph(spark):
    from datawarehousefinal_spark.operators.graph import khop_distances

    # path 1-2-3-4-5 plus isolated 9; seeds {1}
    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (9, 9)]
    df = spark.createDataFrame(edges, ["s", "d"])
    with khop_distances(df, "s", "d", [1], max_hops=3) as dist:
        out = {r["node"]: r["distance"] for r in dist.collect()}
    assert out == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 beyond horizon, 9 unreachable


def test_skyline_2d_known_points(spark):
    from datawarehousefinal_spark.operators.analytics import skyline_2d

    pts = [
        (1, 10.0, 5), (2, 10.0, 7),   # 2 dominates 1 (same x, higher y)
        (3, 8.0, 9), (4, 12.0, 3),
        (5, 8.0, 9),                   # exact tie with 3: both survive
        (6, 12.0, 3),                  # exact tie with 4: both survive
        (7, 9.0, 7),                   # dominated by 2 (10 >= 9, 7 >= 7, strict x)
        (8, 5.0, 1),                   # dominated by everyone
    ]
    df = spark.createDataFrame(pts, ["id", "x", "y"])
    out = sorted(r["id"] for r in skyline_2d(df, "x", "y", "id").collect())
    assert out == [2, 3, 4, 5, 6]


def test_distributed_cummax_matches_window(spark):
    from pyspark.sql import Window, functions as F

    from datawarehousefinal_spark.operators.packing import distributed_cummax

    rows = [(i, float((i * 37) % 101)) for i in range(500)]
    df = spark.createDataFrame(rows, ["k", "v"])
    got = {
        r["k"]: r["m"]
        for r in distributed_cummax(df, ["k"], "v", "m").collect()
    }
    w = Window.orderBy("k").rowsBetween(Window.unboundedPreceding, 0)
    want = {
        r["k"]: r["m"]
        for r in df.withColumn("m", F.max("v").over(w)).collect()
    }
    assert got == want
