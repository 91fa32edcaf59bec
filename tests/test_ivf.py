"""IVF ANN: exhaustive-probe equivalence to brute force, recall vs the
baseline on clustered data, quantizer determinism, NULL exclusion, and
the join choice the broadcast threshold makes for every probe search."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ner_linking_demo_spark.operators.ivf import (
    ivf_index,
    ivf_search,
    train_centroids,
)

SF_DIR = "/root/testdata/sf0.001"


def _clustered(spark, n_clusters=8, per=40, dim=16, seed=3):
    """Synthetic clustered embeddings: the regime IVF exists for."""
    rng = np.random.default_rng(seed)
    centers = rng.standard_normal((n_clusters, dim)) * 4
    rows = []
    i = 0
    for c in range(n_clusters):
        for _ in range(per):
            v = centers[c] + rng.standard_normal(dim) * 0.5
            rows.append((i, [float(x) for x in v]))
            i += 1
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    )


def _brute_topk(vecs_rows, q, k):
    ids = np.array([r[0] for r in vecs_rows])
    mat = np.array([r[1] for r in vecs_rows], dtype=np.float64)
    cos = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((ids, -cos))
    return [int(ids[j]) for j in order[:k]]


@pytest.fixture(scope="module")
def fixture(spark):
    vecs = _clustered(spark)
    rows = [(r["vec_id"], r["embedding"]) for r in vecs.collect()]
    cent = train_centroids(vecs, k_lists=8, sample_limit=10_000)
    index = ivf_index(vecs, cent).localCheckpoint(eager=True)
    return vecs, rows, cent, index


def test_full_probe_equals_brute_force(spark, fixture):
    vecs, rows, cent, index = fixture
    qs = spark.createDataFrame(
        [(0, rows[5][1]), (1, rows[100][1])],
        "q_id long, embedding array<float>",
    )
    got = ivf_search(qs, index, cent, k=10, nprobe=8).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["q_id"], r["rank"])):
        by_q.setdefault(r["q_id"], []).append(r["vec_id"])
    for q_id, src in ((0, rows[5][1]), (1, rows[100][1])):
        want = _brute_topk(rows, np.asarray(src, dtype=np.float64), 10)
        assert by_q[q_id] == want, q_id


def test_recall_at_small_nprobe(spark, fixture):
    """nprobe=2 of 8 lists on clustered data: recall@10 >= 0.9 (the
    whole point of a data-adaptive quantizer)."""
    vecs, rows, cent, index = fixture
    rng = np.random.default_rng(11)
    q_rows = [rows[int(i)] for i in rng.choice(len(rows), 10, replace=False)]
    qs = spark.createDataFrame(
        [(qi, v) for qi, (_, v) in enumerate(q_rows)],
        "q_id long, embedding array<float>",
    )
    got = ivf_search(qs, index, cent, k=10, nprobe=2).collect()
    hits = total = 0
    by_q = {}
    for r in got:
        by_q.setdefault(r["q_id"], set()).add(r["vec_id"])
    for qi, (_, v) in enumerate(q_rows):
        want = set(_brute_topk(rows, np.asarray(v, dtype=np.float64), 10))
        hits += len(want & by_q.get(qi, set()))
        total += len(want)
    assert hits / total >= 0.9, hits / total


def test_centroids_deterministic_and_cover_lists(spark, fixture):
    vecs, _, cent, index = fixture
    again = train_centroids(vecs, k_lists=8, sample_limit=10_000)
    assert np.array_equal(cent, again)
    # clustered fixture: every list non-empty
    n_lists = index.select("list_id").distinct().count()
    assert n_lists == 8


def test_null_embeddings_excluded(spark, fixture):
    _, _, cent, _ = fixture
    df = spark.createDataFrame(
        [(1, [0.0] * 16), (2, None)], "vec_id long, embedding array<float>"
    )
    assert ivf_index(df, cent).count() == 1


@pytest.mark.parametrize("search", ["ann_join", "ivf_search", "ivf_search_sq8"])
def test_search_join_follows_broadcast_threshold(
    spark, fixture, tmp_path, search
):
    """The searches carry no join hint: at the session's broadcast
    threshold Catalyst broadcasts the small query side (BuildLeft —
    ``probe_topk`` puts the probed queries on the left), and with
    broadcasting off the same search plans a SortMergeJoin. The queries
    are a parquet scan, which Catalyst can size; a ``createDataFrame``
    batch carries no size statistics and is never broadcast unhinted."""
    from functools import partial

    from ner_linking_demo_spark.operators import ivf as IVF
    from ner_linking_demo_spark.operators import similarity as SIM

    vecs, rows, cent, index = fixture
    spark.createDataFrame(
        [(0, rows[0][1])], "q_id long, embedding array<float>"
    ).write.parquet(str(tmp_path / "q"))
    qs = spark.read.parquet(str(tmp_path / "q"))
    if search == "ann_join":
        planes = SIM.hyperplanes(dim=16, n_planes=6)
        lsh = SIM.prepare_index(vecs, planes).localCheckpoint(eager=True)
        run = partial(SIM.ann_join, qs, lsh, planes, k=5)
    elif search == "ivf_search":
        run = partial(ivf_search, qs, index, cent, k=5, nprobe=2)
    else:
        vmin, step = IVF.train_sq8_bounds(vecs)
        sq8 = IVF.ivf_index_sq8(vecs, cent, vmin, step).localCheckpoint(
            eager=True
        )
        run = partial(
            IVF.ivf_search_sq8, qs, sq8, cent, vmin, step, k=5, nprobe=2
        )

    def plan():
        return run()._jdf.queryExecution().executedPlan().toString()

    p = plan()
    assert "BroadcastHashJoin" in p and "BuildLeft" in p, p
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        p = plan()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    assert "SortMergeJoin" in p and "BroadcastHashJoin" not in p, p


def test_real_embeddings_table(spark):
    """The harness embeddings table end-to-end: index + search run and
    return k ranked rows per query with sane cosines."""
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    cols = emb.columns
    assert "embedding" in cols, cols
    cent = train_centroids(emb, k_lists=4, sample_limit=5_000)
    index = ivf_index(emb, cent)
    q = emb.limit(3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    got = ivf_search(q, index, cent, k=5, nprobe=4).collect()
    assert {r["q_id"] for r in got} == {
        r["q_id"] for r in q.select("q_id").collect()
    }
    for r in got:
        if r["rank"] == 1:
            # a vector's own nearest neighbour at full probe is itself
            assert r["vec_id"] == r["q_id"] and r["cosine"] > 0.999

def test_bucketed_ivf_index_zero_corpus_shuffle(spark, fixture, tmp_path):
    """write_bucketed(ivf_index(...)): identical results to the inline
    ivf_index path, and the corpus side of the search join has NO
    Exchange — the bucketed scan's list_id clustering feeds the join
    directly (the only exchanges left are query side + ranking window)."""
    import re

    from ner_linking_demo_spark.operators.similarity import write_bucketed

    vecs, rows, cent, _ = fixture
    queries = spark.createDataFrame(
        [(0, rows[3][1]), (1, rows[200][1])],
        "q_id long, embedding array<float>",
    )
    write_bucketed(
        ivf_index(vecs, cent), "ivf_idx_test", "list_id", n_buckets=8,
        path=str(tmp_path / "ivf_idx"),
    )
    try:
        corpus = spark.table("ivf_idx_test")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = ivf_search(queries, corpus, cent, k=10, nprobe=3)
            plan = out._sc._jvm.PythonSQLUtils.explainString(
                out._jdf.queryExecution(), "formatted"
            )
            assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
            got = out.toPandas()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        ref = ivf_search(
            queries, ivf_index(vecs, cent), cent, k=10, nprobe=3,
        ).toPandas()
        key = ["q_id", "rank"]
        assert got.sort_values(key)[["q_id", "vec_id", "rank"]].values.tolist() \
            == ref.sort_values(key)[["q_id", "vec_id", "rank"]].values.tolist()
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_idx_test")


def test_null_query_embedding_survives_search(spark, fixture):
    """A NULL query embedding yields no results for that query (empty
    probe list -> explode drops it) instead of killing the job; other
    queries in the same batch are unaffected."""
    _, rows, cent, index = fixture
    qs = spark.createDataFrame(
        [(0, rows[0][1]), (1, None)],
        "q_id long, embedding array<float>",
    )
    got = ivf_search(qs, index, cent, k=5, nprobe=2).collect()
    assert {r["q_id"] for r in got} == {0}
    assert len([r for r in got if r["q_id"] == 0]) == 5


# ---------------------------------------------------------------------------
# SQ8 scalar quantization (round-5 verdict item 6)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def sq8_fixture(fixture):
    from ner_linking_demo_spark.operators.ivf import (
        ivf_index_sq8,
        train_sq8_bounds,
    )

    vecs, rows, cent, _ = fixture
    vmin, step = train_sq8_bounds(vecs, sample_limit=10_000)
    index8 = ivf_index_sq8(vecs, cent, vmin, step).localCheckpoint(
        eager=True
    )
    return vecs, rows, cent, vmin, step, index8


def test_sq8_roundtrip_error_bounded(spark, sq8_fixture):
    vecs, rows, cent, vmin, step, index8 = sq8_fixture
    got = {r["vec_id"]: r["codes"] for r in index8.collect()}
    assert all(
        len(c) == len(rows[0][1]) and all(-128 <= x <= 127 for x in c)
        for c in got.values()
    )
    for vid, v in rows[:50]:
        dec = vmin + (np.array(got[vid], dtype=np.float64) + 128.0) * step
        # in-range dims reconstruct within half a step (+ float slack)
        err = np.abs(dec - np.array(v, dtype=np.float64))
        assert (err <= step / 2 + 1e-9).all()


def test_sq8_full_probe_equals_bruteforce_on_decoded(spark, sq8_fixture):
    """nprobe == k_lists probes every list, so SQ8 search must EXACTLY
    equal brute force over the decoded corpus — the quantized analogue
    of the flat exhaustive-equivalence gate."""
    from ner_linking_demo_spark.operators.ivf import ivf_search_sq8

    vecs, rows, cent, vmin, step, index8 = sq8_fixture
    codes = {r["vec_id"]: r["codes"] for r in index8.collect()}
    dec_rows = [
        (
            vid,
            (vmin + (np.array(codes[vid], np.float64) + 128.0) * step),
        )
        for vid, _ in rows
    ]
    queries = spark.createDataFrame(
        [(0, rows[7][1]), (1, rows[150][1])],
        "q_id long, embedding array<float>",
    )
    got = ivf_search_sq8(
        queries, index8, cent, vmin, step, k=10, nprobe=len(cent)
    ).toPandas()
    for qid, qemb in [(0, rows[7][1]), (1, rows[150][1])]:
        q = np.array(qemb, dtype=np.float64)
        want = _brute_topk(dec_rows, q, 10)
        have = got[got.q_id == qid].sort_values("rank").vec_id.tolist()
        assert have == want, f"q{qid}"


def test_sq8_recall_gate_vs_flat(spark, sq8_fixture):
    """The verdict's acceptance gate: recall@10 of the SQ8 index vs the
    EXACT flat brute force >= 0.95 at a realistic nprobe."""
    from ner_linking_demo_spark.operators.ivf import ivf_search_sq8

    vecs, rows, cent, vmin, step, index8 = sq8_fixture
    qs = [rows[i] for i in range(0, 320, 16)]  # 20 queries
    queries = spark.createDataFrame(
        [(i, emb) for i, (_, emb) in enumerate(qs)],
        "q_id long, embedding array<float>",
    )
    got = ivf_search_sq8(
        queries, index8, cent, vmin, step, k=10, nprobe=4
    ).toPandas()
    hits = total = 0
    for i, (_, emb) in enumerate(qs):
        want = set(_brute_topk(rows, np.array(emb, np.float64), 10))
        have = set(got[got.q_id == i].vec_id.tolist())
        hits += len(want & have)
        total += 10
    assert hits / total >= 0.95, f"recall {hits/total:.3f}"


def test_sq8_search_stays_jvm_and_bucketed_zero_corpus_shuffle(
    spark, sq8_fixture, tmp_path
):
    """Scale posture of the quantized form: the at-rest bucketed SQ8
    index feeds the search join with NO corpus-side Exchange, and the
    scoring (decode + dot) is pure codegen — no python stage besides
    the per-query probe UDF."""
    import re

    from ner_linking_demo_spark.operators.ivf import (
        ivf_index_sq8,
        ivf_search_sq8,
    )
    from ner_linking_demo_spark.operators.similarity import write_bucketed

    vecs, rows, cent, vmin, step, _ = sq8_fixture
    queries = spark.createDataFrame(
        [(0, rows[3][1]), (1, rows[200][1])],
        "q_id long, embedding array<float>",
    )
    write_bucketed(
        ivf_index_sq8(vecs, cent, vmin, step), "ivf_sq8_test", "list_id",
        n_buckets=8, path=str(tmp_path / "ivf_sq8"),
    )
    try:
        corpus = spark.table("ivf_sq8_test")
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = ivf_search_sq8(
                queries, corpus, cent, vmin, step, k=10, nprobe=3,
            )
            plan = out._sc._jvm.PythonSQLUtils.explainString(
                out._jdf.queryExecution(), "formatted"
            )
            assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
            # scoring is codegen: the only python is the probe UDF on
            # the (tiny) query side
            assert len(re.findall(r"\(\d+\) ArrowEvalPython", plan)) == 1, plan
            assert "MapInPandas" not in plan
            got = out.toPandas()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert len(got) == 20
    finally:
        spark.sql("DROP TABLE IF EXISTS ivf_sq8_test")


def test_sq8_constant_dim_and_null_safety(spark):
    from ner_linking_demo_spark.operators.ivf import (
        ivf_index_sq8,
        ivf_search_sq8,
        train_centroids,
        train_sq8_bounds,
    )

    rows = [
        (0, [1.0, 5.0, 0.25]),
        (1, [1.0, -3.0, 0.5]),
        (2, [1.0, 4.0, 0.75]),  # dim 0 constant across the corpus
        (3, None),
        (4, [1.0, float("nan"), 0.5]),  # NaN-poisoned vector
    ]
    vecs = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cent = train_centroids(vecs, k_lists=2, sample_limit=10)
    vmin, step = train_sq8_bounds(vecs)
    assert step[0] == 1.0  # constant-dim guard, not a 0-div
    # the NaN-poisoned vector (id 4) must not train the bounds: one NaN
    # in the sample made that dim's vmin/vmax NaN, every code clamped
    # to 255 and the whole index decoded to NaN (round-6 advice fix)
    import numpy as _np

    assert _np.isfinite(vmin).all() and _np.isfinite(step).all()
    # dim 1 bounds come from the finite vectors only (-3.0 .. 5.0)
    assert vmin[1] == -3.0 and step[1] == (5.0 - -3.0) / 255.0
    idx = ivf_index_sq8(vecs, cent, vmin, step)
    got = {r["vec_id"]: r["codes"] for r in idx.collect()}
    assert 3 not in got  # NULL excluded at the boundary
    # NaN has no int8 representation: poisoned vectors are excluded
    # from the quantized index (round-5 review — they used to clamp to
    # code 127 and rank with a fabricated ~vmax value)
    assert 4 not in got
    assert all(c[0] == -128 for c in got.values())  # constant dim -> code 0
    out = ivf_search_sq8(
        spark.createDataFrame(
            [(0, [1.0, 5.0, 0.25]), (1, None)],
            "q_id long, embedding array<float>",
        ),
        idx, cent, vmin, step, k=2, nprobe=2,
    ).collect()
    assert {r["q_id"] for r in out} == {0}
