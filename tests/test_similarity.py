"""Similarity search: brute-force exactness vs numpy; LSH recall vs the
brute-force baseline."""

from __future__ import annotations

import numpy as np
import pytest

from ner_linking_demo_spark.operators import similarity as SIM


@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(7)
    mat = rng.standard_normal((300, 16)).astype(np.float32)
    rows = [(i, int(i % 3), [float(x) for x in mat[i]]) for i in range(300)]
    return (
        spark.createDataFrame(rows, ["vec_id", "label", "embedding"]),
        mat,
    )


def test_brute_force_matches_numpy(spark, vectors):
    df, mat = vectors
    q = mat[0]
    got = SIM.brute_force_topk(df, q, k=10).toPandas()
    sims = (mat @ q) / (np.linalg.norm(mat, axis=1) * np.linalg.norm(q))
    order = np.lexsort((np.arange(len(sims)), -sims))[:10]
    assert list(got["vec_id"]) == [int(i) for i in order]
    assert np.allclose(got["cosine"], sims[order], atol=1e-6)


_BRUTE_FORCE_SQL = """
SELECT e.vec_id, ROUND(
         list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
          sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))), 6) AS cosine
FROM embeddings e, (SELECT embedding FROM embeddings WHERE vec_id = 0) q
ORDER BY list_dot_product(e.embedding::DOUBLE[], q.embedding::DOUBLE[]) /
         (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
          sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))) DESC,
         e.vec_id ASC
LIMIT 10
"""


def test_brute_force_matches_duckdb_oracle(spark, assert_matches_oracle):
    """Exact cosine top-10 of vec_id 0 over the harness embeddings equals
    the DuckDB ranking (cosine desc, vec_id asc)."""
    import pyspark.sql.functions as F

    from tests.conftest import ORACLE_SF_DIR

    e = spark.read.parquet(f"{ORACLE_SF_DIR}/embeddings.parquet")
    qvec = e.filter("vec_id = 0").select("embedding").head()[0]
    top = SIM.brute_force_topk(e, qvec, k=10)
    got = top.select("vec_id", F.round("cosine", 6).alias("cosine"))
    assert_matches_oracle(got, _BRUTE_FORCE_SQL)


def _queries(df, n=5):
    import pyspark.sql.functions as F

    return df.filter(f"vec_id < {n}").select(
        F.col("vec_id").alias("q_id"), "embedding"
    )


def test_lsh_recall(spark, vectors):
    df, mat = vectors
    planes = SIM.hyperplanes(dim=16, n_planes=8)
    got = SIM.ann_join(
        _queries(df), SIM.prepare_index(df, planes), planes, k=10, probe_bits=2
    ).toPandas()
    recalls = []
    for qi in range(5):
        exact = set(
            SIM.brute_force_topk(df, mat[qi], k=10).toPandas()["vec_id"]
        )
        approx = set(got[got["q_id"] == qi]["vec_id"])
        recalls.append(len(exact & approx) / 10)
    assert np.mean(recalls) >= 0.5  # multi-probe recall on random data
    # the query's own vector is always retrieved (bucket identity)
    own = SIM.ann_join(
        _queries(df).filter("q_id = 3"), SIM.prepare_index(df, planes),
        planes, k=10, probe_bits=1,
    ).toPandas()
    assert 3 in set(own["vec_id"])


def test_bucket_pruning(spark, vectors):
    df, mat = vectors
    planes = SIM.hyperplanes(dim=16, n_planes=8)
    indexed = SIM.prepare_index(df, planes)
    n_buckets = indexed.select("bucket").distinct().count()
    assert n_buckets > 10  # buckets actually partition the space


def _lsh_probe_topk(mat, planes, q, k, probe_bits) -> set[int]:
    """Single-query LSH probe in numpy: candidates whose bucket code is
    within ``probe_bits`` bit flips of the query's, ranked by exact
    cosine (desc, id asc)."""
    weights = 1 << np.arange(len(planes))
    m64 = mat.astype(np.float64)
    q64 = q.astype(np.float64)
    buckets = ((m64 @ planes.T) > 0) @ weights
    qb = int(((q64 @ planes.T) > 0) @ weights)
    cand = np.array(
        [i for i, b in enumerate(buckets) if bin(int(b) ^ qb).count("1")
         <= probe_bits]
    )
    sims = (m64[cand] @ q64) / (
        np.linalg.norm(m64[cand], axis=1) * np.linalg.norm(q64)
    )
    return set(cand[np.lexsort((cand, -sims))[:k]].tolist())


def test_ann_join_equals_per_query_lsh(spark, vectors):
    """Batch ANN join == the single-query LSH probe run per query, and
    recall vs brute force is monotone in probe_bits."""
    df, mat = vectors
    planes = SIM.hyperplanes(dim=16, n_planes=8)
    prev_recall = -1.0
    for probe_bits in (0, 1, 2):
        batch = SIM.ann_join(
            _queries(df), SIM.prepare_index(df, planes), planes, k=10,
            probe_bits=probe_bits,
        ).toPandas()
        recalls = []
        for qi in range(5):
            got = set(batch[batch["q_id"] == qi]["vec_id"])
            single = _lsh_probe_topk(mat, planes, mat[qi], 10, probe_bits)
            assert got == single, (probe_bits, qi)
            exact = set(
                SIM.brute_force_topk(df, mat[qi], k=10).toPandas()["vec_id"]
            )
            recalls.append(len(got & exact) / 10)
        r = sum(recalls) / len(recalls)
        assert r >= prev_recall  # multi-probe only adds candidates
        prev_recall = r
    assert prev_recall >= 0.5  # probe_bits=2 on random data


def test_bucket_udf_parity_with_expression(spark, vectors):
    """Arrow-batched matmul buckets == expression-form buckets on real
    float data (sign semantics identical away from exact-zero dots)."""
    import pyspark.sql.functions as F

    df, _ = vectors
    planes = SIM.hyperplanes(dim=16, n_planes=8)
    iv = F.col("embedding").cast("array<double>")
    got = df.select(
        "vec_id",
        SIM.lsh_bucket_expr(iv, planes).alias("a"),
        SIM.lsh_bucket_udf(planes)(iv).alias("b"),
    ).collect()
    assert len(got) == 300
    for r in got:
        assert r.a == r.b, r.vec_id


def test_lsh_bucket_rejects_more_than_63_planes(spark):
    """A bucket is one long: plane b is bit b, so 63 planes is the most
    that fits without the sign bit. Both forms refuse more instead of
    dropping planes (the UDF's weights) or failing in py4j (the
    expression's literal)."""
    import pyspark.sql.functions as F

    emb = F.col("embedding")
    SIM.lsh_bucket_expr(emb, SIM.hyperplanes(dim=4, n_planes=63))
    SIM.lsh_bucket_udf(SIM.hyperplanes(dim=4, n_planes=63))
    for n_planes in (64, 100):
        planes = SIM.hyperplanes(dim=4, n_planes=n_planes)
        with pytest.raises(ValueError, match="at most 63 planes"):
            SIM.lsh_bucket_expr(emb, planes)
        with pytest.raises(ValueError, match="at most 63 planes"):
            SIM.lsh_bucket_udf(planes)


def test_bucketed_index_zero_corpus_shuffle(spark, vectors, tmp_path):
    """write_bucketed(prepare_index(...)): same results as the inline
    prepare_index path, and the PHYSICAL plan shows no Exchange on the
    corpus side —
    the scan's bucket clustering feeds the join directly. The only
    exchanges left are the query side and the ranking window."""
    import pyspark.sql.functions as F

    df, _ = vectors
    planes = SIM.hyperplanes(dim=16, n_planes=8)
    queries = df.filter("vec_id < 5").select(
        F.col("vec_id").alias("q_id"), "embedding"
    )

    SIM.write_bucketed(
        SIM.prepare_index(df, planes), "ann_idx_test", "bucket",
        n_buckets=8, path=str(tmp_path / "ann_idx"),
    )
    try:
        corpus = spark.table("ann_idx_test")
        old_thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            out = SIM.ann_join(
                queries, corpus, planes, k=10, probe_bits=1
            )
            import re

            plan = out._sc._jvm.PythonSQLUtils.explainString(
                out._jdf.queryExecution(), "formatted"
            )
            # exactly two Exchange nodes: query side + ranking window;
            # the corpus scan feeds the join with no Exchange above it
            assert len(re.findall(r"\(\d+\) Exchange", plan)) == 2, plan
            assert re.search(r"Sort[\s\S]{0,200}?Scan parquet[^\n]*ann_idx_test", plan), plan
            got = out.toPandas()
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_thresh)

        ref = SIM.ann_join(
            queries, SIM.prepare_index(df, planes), planes, k=10, probe_bits=1
        ).toPandas()
        key = ["q_id", "rank"]
        import pandas as pd

        pd.testing.assert_frame_equal(
            got.sort_values(key).reset_index(drop=True)[
                ["q_id", "vec_id", "rank"]
            ],
            ref.sort_values(key).reset_index(drop=True)[
                ["q_id", "vec_id", "rank"]
            ],
        )
    finally:
        spark.sql("DROP TABLE IF EXISTS ann_idx_test")


def test_bucket_and_sketch_udfs_null_safe(spark):
    """NULL embeddings must behave like the expression forms (bucket 0 /
    all-zero sketch words), not crash np.stack inside the Arrow UDF —
    callers that ran to completion on imperfect input before the
    auto-switch must still complete after it."""
    import numpy as np

    from pyspark.sql import functions as F

    from ner_linking_demo_spark.operators.incremental_dedup import (
        _sign_sketch_expr,
        sign_sketch_udf,
    )
    from ner_linking_demo_spark.operators.similarity import (
        hyperplanes,
        lsh_bucket_expr,
        lsh_bucket_udf,
    )

    planes = hyperplanes(dim=8, n_planes=6, seed=2)
    sketch_planes = np.random.default_rng(3).standard_normal((126, 8))
    rows = [
        (1, [0.5, -1.0, 2.0, 0.25, -0.75, 1.5, -2.0, 0.1]),
        (2, None),
        (3, [1.0] * 8),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    emb = F.col("embedding")
    got = df.select(
        "vec_id",
        lsh_bucket_expr(emb, planes).alias("b_expr"),
        lsh_bucket_udf(planes)(emb).alias("b_udf"),
        _sign_sketch_expr(emb, sketch_planes).alias("s_expr"),
        sign_sketch_udf(sketch_planes)(emb).alias("s_udf"),
    ).collect()
    for r in got:
        assert r["b_expr"] == r["b_udf"], r["vec_id"]
        assert r["s_expr"] == r["s_udf"], r["vec_id"]
    null_row = [r for r in got if r["vec_id"] == 2][0]
    assert null_row["b_udf"] == 0
    assert list(null_row["s_udf"]) == [0, 0]
