"""BM25 / TF-IDF candidate generators: score parity vs naive
implementations (different code path) + composition with ensemble merge."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from ner_linking_demo_spark.operators.candidates import (
    _rank_desc_ties_high,
    bm25_candidates,
    build_bm25_index,
    build_generator_indexes,
    build_tfidf_index,
    default_tokenize,
    sklearn_like_analyze,
    term_avg_candidates,
    tfidf_candidates,
)
from ner_linking_demo_spark.operators.linking import (
    CANDIDATES_SCHEMA,
    build_indexes,
    knn_candidates,
)
from ner_linking_demo_spark.operators.ner import detect_mentions
from ner_linking_demo_spark.operators.rerank import ensemble_merge
from ner_linking_demo_spark.sources.fixtures import gen_gazetteer, gen_pages, pages_to_spark


def naive_bm25(query, docs, k1=1.5, b=0.75, epsilon=0.25):
    """Straight transcription of the Okapi formula (loop form)."""
    n = len(docs)
    avgdl = sum(len(d) for d in docs) / n
    dfs = {}
    for d in docs:
        for t in set(d):
            dfs[t] = dfs.get(t, 0) + 1
    idf = {
        t: math.log(n - df + 0.5) - math.log(df + 0.5)
        for t, df in dfs.items()
    }
    avg_idf = sum(idf.values()) / len(idf)
    idf = {t: (v if v >= 0 else epsilon * avg_idf) for t, v in idf.items()}
    scores = []
    for d in docs:
        s = 0.0
        for t in query:
            tf = d.count(t)
            if tf == 0 or t not in idf:
                continue
            s += idf[t] * tf * (k1 + 1) / (
                tf + k1 * (1 - b + b * len(d) / avgdl)
            )
        scores.append(s)
    return scores


def test_bm25_scores_match_naive():
    import pandas as pd

    gaz = pd.DataFrame(
        {
            "label": ["disease"] * 4,
            "code": ["1", "2", "3", "4"],
            "term": [
                "dolor de cabeza",
                "dolor lumbar",
                "cabeza fría",
                "fiebre alta persistente",
            ],
        }
    )
    index = build_bm25_index(gaz, "disease")
    query = default_tokenize("dolor cabeza")
    got = index.score_batch([query])[0]
    want = naive_bm25(
        query, [default_tokenize(t) for t in gaz["term"]]
    )
    assert np.allclose(got, want)


def test_tfidf_matches_naive_cosine():
    import pandas as pd

    gaz = pd.DataFrame(
        {
            "label": ["disease"] * 3,
            "code": ["1", "2", "3"],
            "term": ["dolor de cabeza", "dolor lumbar", "fiebre alta"],
        }
    )
    index = build_tfidf_index(gaz, "disease")
    # naive: recompute tf-idf vectors by the formula
    docs = [sklearn_like_analyze(t) for t in gaz["term"]]
    vocab = sorted({t for d in docs for t in d})
    n = len(docs)
    df = {t: sum(t in set(d) for d in docs) for t in vocab}
    idf = {t: math.log((1 + n) / (1 + df[t])) + 1 for t in vocab}

    def vec(toks):
        v = np.array(
            [toks.count(t) * idf[t] for t in vocab], dtype=np.float64
        )
        nrm = np.linalg.norm(v)
        return v / (nrm if nrm else 1.0)

    q = vec(sklearn_like_analyze("dolor de cabeza"))
    want = [float(q @ vec(d)) for d in docs]
    got = (index.encode(["dolor de cabeza"]) @ index.matrix.T)[0]
    assert np.allclose(got, want)
    assert got[0] == max(got)  # exact term retrieves itself first


def test_rank_desc_ties_high_matches_row_loop():
    """The BM25/TF-IDF generators rank all rows at once; each row equals
    the reference's per-row ``np.argsort(row)[::-1][:k]`` with a stable
    sort (ties at higher ordinal first)."""
    scores = np.random.default_rng(5).integers(0, 4, (50, 9)).astype(float)
    for k in (1, 5, 9, 12):
        want = [np.argsort(row, kind="stable")[::-1][:k] for row in scores]
        np.testing.assert_array_equal(_rank_desc_ties_high(scores, k), want)


def test_accent_strip_analyzer():
    assert sklearn_like_analyze("Evolución FAVORABLE x1!") == [
        "evolucion",
        "favorable",
        "x1",
    ]


@pytest.fixture(scope="module")
def corpus(spark):
    gaz = gen_gazetteer(n_codes=25)
    pages = gen_pages(n_pages=12, gazetteer=gaz, giant_every=0)
    mentions = detect_mentions(pages_to_spark(spark, pages), gaz).cache()
    return gaz, mentions


def test_bm25_operator(spark, corpus):
    gaz, mentions = corpus
    idx = build_generator_indexes(gaz, "bm25")
    cands = bm25_candidates(mentions, idx, k=5).toPandas()
    assert len(cands) > 0
    per = cands.groupby(["url", "start", "end", "label"])
    assert (per["rank"].max() <= 4).all()
    # sum normalization: top-k scores sum to 1 where any score > 0
    sums = per["score"].sum()
    assert (((sums - 1.0).abs() < 1e-5) | (sums == 0)).all()
    # exact surface forms retrieve a term equal to their span (rank 0)
    r0 = cands[cands["rank"] == 0]
    hit = (
        r0["term"].str.casefold() == r0["span"].str.casefold()
    ).mean()
    assert hit > 0.5


def test_term_avg_generator(spark, corpus):
    gaz, mentions = corpus
    idx = build_generator_indexes(gaz, "term_avg", k=3)
    cands = term_avg_candidates(mentions, idx, k=3).toPandas()
    per = cands.groupby(["url", "start", "end", "label"])
    assert (per["code"].nunique() == per.size()).all()  # codes distinct
    assert (per.size() <= 3).all()
    # oracle parity: centroid of a code's raw term embeddings
    import numpy as np

    from ner_linking_demo_spark.functions.embedder import HashEmbedder, l2_normalize
    from ner_linking_demo_spark.functions.gazetteer import disambiguate_terms

    sub = gaz[gaz["label"] == "disease"]
    t2c = disambiguate_terms(sub)
    terms = sorted(t2c)
    emb = HashEmbedder().encode(terms)
    codes = sorted(set(t2c.values()))
    cents = l2_normalize(
        np.stack(
            [
                emb[[i for i, t in enumerate(terms) if t2c[t] == c]].mean(0)
                for c in codes
            ]
        )
    )
    one = cands[(cands["label"] == "DISEASE") & (cands["rank"] == 0)].iloc[0]
    q = l2_normalize(HashEmbedder().encode([one["span"]]))[0]
    sims = cents @ q
    order = np.lexsort((np.arange(len(sims)), -sims))
    assert codes[order[0]] == one["code"]
    assert abs(float(sims[order[0]]) - one["score"]) < 1e-6


GENERATORS = {
    "knn": lambda m, gaz: knn_candidates(m, build_indexes(gaz, k=3)),
    "term_avg": lambda m, gaz: term_avg_candidates(
        m, build_generator_indexes(gaz, "term_avg", k=3), k=3
    ),
    "bm25": lambda m, gaz: bm25_candidates(
        m, build_generator_indexes(gaz, "bm25"), k=5
    ),
    "tfidf": lambda m, gaz: tfidf_candidates(
        m, build_generator_indexes(gaz, "tfidf"), k=5
    ),
}


@pytest.mark.parametrize("generator", sorted(GENERATORS))
def test_generator_empty_and_unindexed_mentions(spark, corpus, generator):
    """No mentions, and mentions whose only label has no index, give zero
    candidate rows under the candidates schema — for every generator."""
    gaz, mentions = corpus
    unindexed = mentions.limit(5).withColumn("label", F.lit("NO_SUCH_TYPE"))
    assert unindexed.count() == 5
    for m in (mentions.limit(0), unindexed):
        cands = GENERATORS[generator](m, gaz)
        assert cands.schema == CANDIDATES_SCHEMA
        assert cands.count() == 0


def test_tfidf_operator_and_composition(spark, corpus):
    gaz, mentions = corpus
    idx = build_generator_indexes(gaz, "tfidf")
    cands = tfidf_candidates(mentions, idx, k=5)
    pdf = cands.toPandas()
    assert (pdf["score"] <= 1.0 + 1e-6).all()
    # composes with ensemble merge
    bm = bm25_candidates(mentions, build_generator_indexes(gaz, "bm25"), k=5)
    merged = ensemble_merge(
        cands.select("url", "start", "end", "label", "span", "rank", "term", "code", "score"),
        bm.select("url", "start", "end", "label", "span", "rank", "term", "code", "score"),
    ).toPandas()
    dup = merged.groupby(["url", "start", "end", "label", "term"]).size()
    assert (dup == 1).all()


def test_term_avg_candidates_match_duckdb_oracle(spark, assert_matches_oracle):
    """A9 term-avg candidate generation over the harness documents equals
    its kg_oracles DuckDB SQL at the driver gate's scale factor."""
    from ner_linking_demo_spark.plans import entry_queries as EQ
    from ner_linking_demo_spark.plans import kg_oracles as KG
    from tests.conftest import ORACLE_SF_DIR

    gaz = EQ._harness_gazetteer()
    mentions = detect_mentions(
        EQ._docs_as_pages(spark, ORACLE_SF_DIR, limit=200), gaz
    )
    cands = term_avg_candidates(
        mentions, build_generator_indexes(gaz, "term_avg", k=3), k=3
    )
    got = cands.select(
        "url", "start", "end", "label", "rank", "code",
        F.round(F.col("score").cast("double"), 5).alias("score_r"),
    )
    assert_matches_oracle(
        got, KG.term_avg_sql(EQ._HGAZ, k=3, where="WHERE doc_id < 200")
    )
