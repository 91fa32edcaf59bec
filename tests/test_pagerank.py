"""PageRank: numpy power-iteration oracle parity, dangling-mass
conservation, convergence properties, and the KG edges composition."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ner_linking_demo_spark.operators.pagerank import entity_pagerank, pagerank


def _numpy_pagerank(edge_list, damping=0.85, iters=100):
    nodes = sorted({u for u, _ in edge_list} | {v for _, v in edge_list})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    uniq = sorted(set(edge_list))
    out = np.zeros(n)
    for u, _ in uniq:
        out[idx[u]] += 1
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        for u, v in uniq:
            contrib[idx[v]] += r[idx[u]] / out[idx[u]]
        dangling = r[out == 0].sum()
        r = (1 - damping) / n + damping * (contrib + dangling / n)
    return {u: r[idx[u]] for u in nodes}


EDGES = [
    ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
    ("d", "c"),  # d has out-edges, nothing points at d
    ("e", "a"), ("c", "e"),
    ("f", "c"),  # f dangling-adjacent: f -> c only
    # g is a pure sink (dangling): receives but never links out
    ("a", "g"),
]


def test_matches_numpy_oracle(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(df, max_iter=100, tol=1e-12).collect()
    }
    want = _numpy_pagerank(EDGES)
    assert set(got) == set(want)
    for u in want:
        assert got[u] == pytest.approx(want[u], abs=1e-6), u


def test_ranks_sum_to_one_with_dangling_nodes(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    ranks = pagerank(df, max_iter=30).collect()
    assert sum(r["rank"] for r in ranks) == pytest.approx(1.0, abs=1e-9)


def test_cycle_is_uniform(spark):
    cyc = [("1", "2"), ("2", "3"), ("3", "1")]
    df = spark.createDataFrame(cyc, "src string, dst string")
    ranks = pagerank(df, max_iter=50).collect()
    for r in ranks:
        assert r["rank"] == pytest.approx(1.0 / 3, abs=1e-9)


def test_parallel_edges_collapse(spark):
    dup = [("a", "b")] * 5 + [("c", "b"), ("b", "a"), ("b", "c")]
    df = spark.createDataFrame(dup, "src string, dst string")
    got = {r["node"]: r["rank"] for r in pagerank(df, max_iter=80).collect()}
    want = _numpy_pagerank(list(set(dup)))
    for u in want:
        assert got[u] == pytest.approx(want[u], abs=1e-6)


def test_tol_early_stop_and_validation(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string")
    loose = pagerank(df, max_iter=100, tol=0.5).collect()
    assert sum(r["rank"] for r in loose) == pytest.approx(1.0, abs=1e-9)
    with pytest.raises(ValueError, match="damping"):
        pagerank(df, damping=1.5)
    empty = spark.createDataFrame([], "src string, dst string")
    assert pagerank(empty).count() == 0


def test_entity_pagerank_over_kg_edges(spark):
    from ner_linking_demo_spark.plans.pipeline import run_pipeline
    from ner_linking_demo_spark.sources.fixtures import (
        gen_gazetteer,
        gen_pages,
    )

    gaz = gen_gazetteer(n_codes=12)
    pages = spark.createDataFrame(
        gen_pages(n_pages=30, seed=5, gazetteer=gaz)[["url", "text"]]
    )
    res = run_pipeline(spark, pages, gaz, k=3)
    ranks = entity_pagerank(res.edges, max_iter=15)
    rows = ranks.collect()
    assert len(rows) > 0
    assert sum(r["rank"] for r in rows) == pytest.approx(1.0, abs=1e-6)
    assert all(r["rank"] > 0 for r in rows)


def test_bucketed_edges_cut_exchanges_and_match_oracle(spark, tmp_path):
    """write_bucketed_edges -> pagerank(prepared=True): the bucketed
    scan reports hash clustering on src, so the contribution join plans
    strictly fewer Exchanges than the checkpointed form (which is
    opaque to Catalyst), with identical ranks."""
    import re

    from pyspark.sql import functions as F

    from ner_linking_demo_spark.operators.pagerank import (
        write_bucketed_edges,
    )

    df = spark.createDataFrame(EDGES, "src string, dst string")
    write_bucketed_edges(
        df, "pr_edges_audit", n_buckets=4, path=str(tmp_path / "edges")
    )
    try:
        bucketed = spark.table("pr_edges_audit")
        ranks = spark.createDataFrame(
            [(u, 0.1) for u in "abcdefg"], "node string, rank double"
        )

        def contribution_plan(e):
            j = (
                e.join(
                    ranks.select(
                        F.col("node").alias("src"),
                        (F.col("rank") / 2).alias("share"),
                    ),
                    "src",
                )
                .groupBy("dst")
                .agg(F.sum("share"))
            )
            return j._sc._jvm.PythonSQLUtils.explainString(
                j._jdf.queryExecution(), "formatted"
            )

        ckpt = (
            df.repartition(4, "src").localCheckpoint(eager=True)
        )
        n_bucketed = len(re.findall(r"\bExchange\b", contribution_plan(bucketed)))
        n_ckpt = len(re.findall(r"\bExchange\b", contribution_plan(ckpt)))
        assert n_bucketed < n_ckpt, (n_bucketed, n_ckpt)

        got = {
            r["node"]: r["rank"]
            for r in pagerank(
                bucketed, max_iter=100, tol=1e-12, prepared=True
            ).collect()
        }
        want = _numpy_pagerank(EDGES)
        for u in want:
            assert got[u] == pytest.approx(want[u], abs=1e-6), u
    finally:
        spark.sql("DROP TABLE IF EXISTS pr_edges_audit")


def _numpy_weighted_pagerank(wedges, damping=0.85, iters=100):
    from collections import defaultdict

    agg = defaultdict(float)
    for u, v, w in wedges:
        agg[(u, v)] += w
    nodes = sorted({u for u, _ in agg} | {v for _, v in agg})
    idx = {u: i for i, u in enumerate(nodes)}
    n = len(nodes)
    out_w = np.zeros(n)
    for (u, _), w in agg.items():
        out_w[idx[u]] += w
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        contrib = np.zeros(n)
        for (u, v), w in agg.items():
            contrib[idx[v]] += r[idx[u]] * w / out_w[idx[u]]
        dangling = r[out_w == 0].sum()
        r = (1 - damping) / n + damping * (contrib + dangling / n)
    return {u: r[idx[u]] for u in nodes}


def test_weighted_pagerank_matches_oracle_and_sums_duplicates(spark):
    wedges = [
        ("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 2.0),
        ("c", "a", 1.0), ("a", "b", 1.0),  # duplicate pair: sums to 4.0
        ("d", "a", 0.5),
    ]
    df = spark.createDataFrame(wedges, "src string, dst string, w double")
    got = {
        r["node"]: r["rank"]
        for r in pagerank(
            df, max_iter=100, tol=1e-12, weight_col="w"
        ).collect()
    }
    want = _numpy_weighted_pagerank(wedges)
    for u in want:
        assert got[u] == pytest.approx(want[u], abs=1e-6), u
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_equal_weights_reduce_to_unweighted(spark):
    df = spark.createDataFrame(EDGES, "src string, dst string").withColumn(
        "w", F.lit(2.5)
    )
    got_w = {
        r["node"]: r["rank"]
        for r in pagerank(df, max_iter=60, weight_col="w").collect()
    }
    got_u = {
        r["node"]: r["rank"]
        for r in pagerank(df.drop("w"), max_iter=60).collect()
    }
    for u in got_u:
        assert got_w[u] == pytest.approx(got_u[u], abs=1e-9), u


def test_invalid_weights_raise(spark):
    df = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", -1.0)],
        "src string, dst string, w double",
    )
    with pytest.raises(ValueError, match="positive"):
        pagerank(df, weight_col="w")
    df2 = spark.createDataFrame(
        [("a", "b", 1.0), ("b", "a", None)],
        "src string, dst string, w double",
    )
    with pytest.raises(ValueError, match="non-null"):
        pagerank(df2, weight_col="w")


def test_weight_validation_catches_nan_inf_uncastable(spark):
    for w in (float("nan"), float("inf")):
        df = spark.createDataFrame(
            [("a", "b", 1.0), ("b", "a", w)],
            "src string, dst string, w double",
        )
        with pytest.raises(ValueError, match="positive, finite"):
            pagerank(df, weight_col="w")
    # uncastable string try_casts to null -> clean error, not an ANSI
    # task-side crash
    df3 = spark.createDataFrame(
        [("a", "b", "2.0"), ("b", "a", "abc")],
        "src string, dst string, w string",
    )
    with pytest.raises(ValueError, match="non-null"):
        pagerank(df3, weight_col="w")


def test_bucketed_weighted_edges_prepared_matches_oracle(spark, tmp_path):
    wedges = [
        ("a", "b", 3.0), ("a", "c", 1.0), ("b", "c", 2.0),
        ("c", "a", 1.0), ("a", "b", 1.0), ("d", "a", 0.5),
    ]
    from ner_linking_demo_spark.operators.pagerank import (
        write_bucketed_edges,
    )

    df = spark.createDataFrame(wedges, "src string, dst string, w double")
    write_bucketed_edges(
        df, "pr_wedges_audit", n_buckets=4,
        path=str(tmp_path / "wedges"), weight_col="w",
    )
    try:
        got = {
            r["node"]: r["rank"]
            for r in pagerank(
                spark.table("pr_wedges_audit"), max_iter=100, tol=1e-12,
                prepared=True, weight_col="w",
            ).collect()
        }
        want = _numpy_weighted_pagerank(wedges)
        for u in want:
            assert got[u] == pytest.approx(want[u], abs=1e-6), u
        # prepared path validates too (docstring promise)
        bad = spark.createDataFrame(
            [("a", "b", -1.0)], "src string, dst string, w double"
        )
        with pytest.raises(ValueError, match="positive"):
            pagerank(bad, prepared=True, weight_col="w")
    finally:
        spark.sql("DROP TABLE IF EXISTS pr_wedges_audit")


def test_entity_pagerank_weight_by_assertions(spark):
    # two relations assert (p1, e1); one asserts (p1, e2): weighted mode
    # must give e1 more of p1's rank than e2
    rows = [
        ("p1", "r1", "e1"), ("p1", "r2", "e1"), ("p1", "r1", "e2"),
        ("e1", "r1", "p1"), ("e2", "r1", "p1"),
    ]
    kg = spark.createDataFrame(rows, "src string, rel string, dst string")
    ranks = {
        r["node"]: r["rank"]
        for r in entity_pagerank(
            kg, max_iter=60, weight_by_assertions=True
        ).collect()
    }
    assert ranks["e1"] > ranks["e2"]
    unw = {
        r["node"]: r["rank"]
        for r in entity_pagerank(kg, max_iter=60).collect()
    }
    assert unw["e1"] == pytest.approx(unw["e2"], abs=1e-9)


def test_cli_rank_entities(spark, tmp_path):
    from ner_linking_demo_spark import __main__ as CLI

    rows = [
        ("p1", "r1", "e1"), ("p1", "r2", "e1"), ("p1", "r1", "e2"),
        ("e1", "r1", "p1"), ("e2", "r1", "p1"),
    ]
    edges_dir = str(tmp_path / "edges")
    spark.createDataFrame(
        rows, "src string, rel string, dst string"
    ).write.parquet(edges_dir)
    out = str(tmp_path / "kgout")
    CLI.main(
        ["--rank-entities", "--edges", edges_dir, "--out", out,
         "--weight-by-assertions", "--max-iter", "40"],
        stop_session=False,
    )
    got = {
        r["node"]: r["rank"]
        for r in spark.read.parquet(f"{out}/entity_ranks").collect()
    }
    assert got["e1"] > got["e2"]
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    with pytest.raises(SystemExit):
        CLI.main(["--rank-entities", "--out", out], stop_session=False)


# --------------------------------------------------------------------------
# Incremental (warm-start) PageRank
# --------------------------------------------------------------------------

DELTA = [("h", "c"), ("h", "a"), ("g", "h"), ("b", "h")]


def test_incremental_matches_full_recompute(spark):
    from ner_linking_demo_spark.operators.pagerank import incremental_pagerank

    base = spark.createDataFrame(EDGES, "src string, dst string")
    prev = pagerank(base, max_iter=100, tol=1e-12)
    full = spark.createDataFrame(EDGES + DELTA, "src string, dst string")
    got = {
        r["node"]: r["rank"]
        for r in incremental_pagerank(
            full, prev, max_iter=100, tol=1e-12
        ).collect()
    }
    want = _numpy_pagerank(EDGES + DELTA)
    assert set(got) == set(want)
    for u in want:
        assert got[u] == pytest.approx(want[u], abs=1e-6), u
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)


def test_incremental_warm_start_cuts_iterations(spark):
    from ner_linking_demo_spark.operators.pagerank import incremental_pagerank

    base = spark.createDataFrame(EDGES, "src string, dst string")
    prev = pagerank(base, max_iter=100, tol=1e-12)
    full = spark.createDataFrame(EDGES + DELTA, "src string, dst string")
    # cold start through the same code path: an empty prev vector seeds
    # every node at the uniform share, i.e. exactly pagerank's init
    empty_prev = spark.createDataFrame([], "node string, rank double")
    _, cold_iters = incremental_pagerank(
        full, empty_prev, max_iter=100, tol=1e-9, return_stats=True
    )
    _, warm_iters = incremental_pagerank(
        full, prev, max_iter=100, tol=1e-9, return_stats=True
    )
    assert warm_iters < cold_iters
    # re-ranking an UNCHANGED graph from its own fixpoint is ~free
    _, noop_iters = incremental_pagerank(
        base, prev, max_iter=100, tol=1e-9, return_stats=True
    )
    assert noop_iters <= 2


def test_incremental_seed_hygiene(spark):
    """NaN prev ranks are discarded, vanished nodes dropped, new nodes
    enter at the uniform share — and the result is still the fixpoint."""
    from ner_linking_demo_spark.operators.pagerank import incremental_pagerank

    full = spark.createDataFrame(EDGES + DELTA, "src string, dst string")
    messy_prev = spark.createDataFrame(
        [("a", float("nan")), ("zombie", 0.4), ("b", 0.1), ("c", 0.2)],
        "node string, rank double",
    )
    got = {
        r["node"]: r["rank"]
        for r in incremental_pagerank(
            full, messy_prev, max_iter=100, tol=1e-12
        ).collect()
    }
    want = _numpy_pagerank(EDGES + DELTA)
    assert set(got) == set(want)  # zombie gone, h present
    for u in want:
        assert got[u] == pytest.approx(want[u], abs=1e-6), u


def test_incremental_rejects_massless_prev_and_empty_graph(spark):
    from ner_linking_demo_spark.operators.pagerank import incremental_pagerank

    full = spark.createDataFrame(EDGES, "src string, dst string")
    bad_prev = spark.createDataFrame(
        [(u, float("nan")) for u, _ in EDGES], "node string, rank double"
    )
    # all-NaN prev degrades to uniform (every node coalesces to 1/n)
    out = incremental_pagerank(full, bad_prev, max_iter=5)
    assert sum(r["rank"] for r in out.collect()) == pytest.approx(
        1.0, abs=1e-9
    )
    empty_edges = spark.createDataFrame([], "src string, dst string")
    prev = spark.createDataFrame([("a", 1.0)], "node string, rank double")
    assert incremental_pagerank(empty_edges, prev).count() == 0


def test_entity_pagerank_prev_ranks_path(spark):
    kg = spark.createDataFrame(
        [("p1", "links", "e1"), ("e1", "links", "p1"), ("p1", "links", "e2")],
        "src string, rel string, dst string",
    )
    prev = entity_pagerank(kg, max_iter=80)
    kg2 = kg.union(
        spark.createDataFrame(
            [("e2", "links", "e1")], "src string, rel string, dst string"
        )
    )
    warm = {
        r["node"]: r["rank"]
        for r in entity_pagerank(kg2, max_iter=80, prev_ranks=prev).collect()
    }
    want = _numpy_pagerank(
        [("p1", "e1"), ("e1", "p1"), ("p1", "e2"), ("e2", "e1")]
    )
    for u in want:
        assert warm[u] == pytest.approx(want[u], abs=1e-6), u


def test_broadcast_iteration_path_matches_shuffle_path(spark, monkeypatch):
    """Round-6: dense graphs take the broadcast-join iteration (the
    rank vector and contribution table are hinted); results must match
    the shuffle-join path at float tolerance and the numpy oracle."""
    import itertools

    from ner_linking_demo_spark.operators import pagerank as PR
    from ner_linking_demo_spark.operators.pagerank import pagerank

    # dense: 20 nodes, every ordered pair -> avg degree 19
    edges = [
        (f"n{a}", f"n{b}")
        for a, b in itertools.product(range(20), range(20))
        if a != b
    ]
    e = spark.createDataFrame(edges, "src string, dst string")
    monkeypatch.setattr(PR, "SMALL_GRAPH_NODES", 0)
    monkeypatch.setattr(PR, "BROADCAST_MIN_DEGREE", 4)
    bc = {r["node"]: r["rank"] for r in pagerank(e, max_iter=6).collect()}
    monkeypatch.setattr(PR, "BROADCAST_NODES", 0)
    sh = {r["node"]: r["rank"] for r in pagerank(e, max_iter=6).collect()}
    assert set(bc) == set(sh)
    # float tolerance, not bit-equality: the two plans sum
    # contributions in different orders (broadcast hash vs sort-merge)
    for node, r in sh.items():
        assert bc[node] == pytest.approx(r, abs=1e-9), node
    want = _numpy_pagerank(edges, iters=6)
    for node in want:
        assert bc[node] == pytest.approx(want[node], abs=1e-9), node
