"""Connected components (large-star/small-star DataFrame iteration) vs a
union-find oracle on random graphs, including hot-key star skew."""

from __future__ import annotations

import random

import pytest

from ner_linking_demo_spark.operators.canonicalize import connected_components
from ner_linking_demo_spark.oracle.oracle import oracle_components


def _random_edges(n_nodes: int, n_edges: int, seed: int) -> list[tuple[str, str]]:
    rng = random.Random(seed)
    return [
        (f"n{rng.randrange(n_nodes):04d}", f"n{rng.randrange(n_nodes):04d}")
        for _ in range(n_edges)
    ]


@pytest.mark.parametrize(
    "n_nodes,n_edges,seed,driver_threshold",
    [
        (30, 20, 1, 0),          # distributed alternating-star path
        (100, 80, 2, 0),
        (200, 400, 3, 0),
        (200, 400, 3, 200_000),  # driver union-find fast path
    ],
)
def test_cc_matches_union_find(spark, n_nodes, n_edges, seed, driver_threshold):
    edges = _random_edges(n_nodes, n_edges, seed)
    df = spark.createDataFrame(edges, ["src", "dst"])
    got = {
        r["node"]: r["component"]
        for r in connected_components(
            df, driver_threshold=driver_threshold
        ).collect()
    }
    want = oracle_components(edges)
    assert got == want


def test_cc_hot_star_skew(spark):
    """One hub connected to many spokes + a long chain through it — the
    hot-key shape that motivates partial aggregation."""
    edges = [("hub", f"s{i:05d}") for i in range(2000)]
    edges += [(f"c{i:03d}", f"c{i+1:03d}") for i in range(50)]
    edges += [("c000", "hub")]
    df = spark.createDataFrame(edges, ["src", "dst"]).repartition(8)
    got = connected_components(df, driver_threshold=0)  # force distributed
    comps = got.select("component").distinct().collect()
    assert len(comps) == 1
    assert comps[0]["component"] == "c000"  # lexicographic min node


def test_cc_isolated_self_loop(spark):
    df = spark.createDataFrame(
        [("a", "a"), ("b", "c")], ["src", "dst"]
    )
    got = {r["node"]: r["component"] for r in connected_components(df).collect()}
    assert got == {"a": "a", "b": "b", "c": "b"}


@pytest.mark.parametrize("seed,driver_threshold", [(11, 200_000), (12, 0)])
def test_incremental_equals_full_recompute(spark, seed, driver_threshold):
    """Random graph split into 3 batches, folded in incrementally ==
    one-shot CC over all edges (both physical paths)."""
    from ner_linking_demo_spark.operators.canonicalize import (
        incremental_components,
    )

    edges = _random_edges(120, 150, seed)
    rng = random.Random(seed + 1)
    batches = [[], [], []]
    for ed in edges:
        batches[rng.randrange(3)].append(ed)

    assign = connected_components(
        spark.createDataFrame(batches[0], ["src", "dst"]),
        driver_threshold=driver_threshold,
    )
    for b in batches[1:]:
        assign = incremental_components(
            assign,
            spark.createDataFrame(b, ["src", "dst"]),
            driver_threshold=driver_threshold,
        )
    got = {r["node"]: r["component"] for r in assign.collect()}
    want = oracle_components(edges)
    assert got == want


def test_incremental_untouched_components_stable(spark):
    """A batch touching only one component leaves every other
    assignment row verbatim, and merging two components takes the
    smaller id."""
    from ner_linking_demo_spark.operators.canonicalize import (
        incremental_components,
    )

    base = [("a1", "a2"), ("b1", "b2"), ("c1", "c2")]
    assign = connected_components(spark.createDataFrame(base, ["src", "dst"]))
    before = {r["node"]: r["component"] for r in assign.collect()}
    assert before == {
        "a1": "a1", "a2": "a1", "b1": "b1", "b2": "b1", "c1": "c1", "c2": "c1",
    }

    # merge b* into a*, add a brand-new isolated pair d1-d2
    delta = [("a2", "b1"), ("d1", "d2")]
    out = incremental_components(
        assign, spark.createDataFrame(delta, ["src", "dst"])
    )
    after = {r["node"]: r["component"] for r in out.collect()}
    assert after == {
        "a1": "a1", "a2": "a1", "b1": "a1", "b2": "a1",
        "c1": "c1", "c2": "c1",          # untouched, verbatim
        "d1": "d1", "d2": "d1",          # new nodes, new component
    }


def test_cc_empty_edges_schema_stable(spark):
    """An empty edge set yields a schema-stable empty assignment on BOTH
    physical paths (regression: the driver path crashed with
    CANNOT_INFER_EMPTY_SCHEMA — hit by any corpus with no near-dup pairs)."""
    from ner_linking_demo_spark.operators.canonicalize import (
        connected_components,
    )

    empty = spark.createDataFrame([], "src string, dst string")
    for thresh in (200_000, 0):
        out = connected_components(empty, driver_threshold=thresh)
        assert out.count() == 0
        assert [f.name for f in out.schema.fields] == ["node", "component"]


def test_incremental_degenerate_merge_guard(spark):
    """A batch whose edges touch (nearly) every prior component makes the
    delta strategy pointless — affected ~= the whole graph. The guard
    must warn and switch to a full recompute with IDENTICAL ids."""
    from ner_linking_demo_spark.operators.canonicalize import (
        incremental_components,
    )

    base = [(f"x{i}a", f"x{i}b") for i in range(10)]  # 10 components
    assign = connected_components(spark.createDataFrame(base, ["src", "dst"]))
    # hub batch: one node links into EVERY component
    delta = [("hub", f"x{i}a") for i in range(10)]
    want = oracle_components(base + delta)

    with pytest.warns(RuntimeWarning, match="degenerated"):
        out = incremental_components(
            assign, spark.createDataFrame(delta, ["src", "dst"]),
            degenerate_floor=0,
        )
        got = {r["node"]: r["component"] for r in out.collect()}
    assert got == want


def test_incremental_guard_quiet_on_small_batches(spark):
    """Normal small batches must NOT trip the degenerate-merge guard."""
    import warnings as W

    from ner_linking_demo_spark.operators.canonicalize import (
        incremental_components,
    )

    base = [(f"y{i}a", f"y{i}b") for i in range(20)]
    assign = connected_components(spark.createDataFrame(base, ["src", "dst"]))
    with W.catch_warnings():
        W.simplefilter("error", RuntimeWarning)
        out = incremental_components(
            assign, spark.createDataFrame([("y0a", "y1a")], ["src", "dst"]),
            degenerate_floor=0,
        )
        got = {r["node"]: r["component"] for r in out.collect()}
    assert got == oracle_components(base + [("y0a", "y1a")])
