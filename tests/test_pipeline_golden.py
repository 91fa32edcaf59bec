"""Golden end-to-end: Spark engine vs pure-pandas oracle on fixture pages
including the verbatim clinical case (SURVEY.md §5 pyramid (b)), plus the
triple-level P/R >= 0.95 acceptance gate (BASELINE.json) and the
byte-identical-text invariant."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest

from ner_linking_demo_spark.operators.linking import (
    build_indexes,
    detect_and_link,
    knn_candidates,
    link_mentions,
)
from ner_linking_demo_spark.operators.ner import detect_mentions
from ner_linking_demo_spark.operators.rerank import (
    biencoder_rerank,
    crossencoder_rerank,
)
from ner_linking_demo_spark.oracle import (
    oracle_link,
    oracle_mentions,
    oracle_triples,
)
from ner_linking_demo_spark.oracle.oracle import _k_distinct_scan
from ner_linking_demo_spark.plans.pipeline import run_pipeline, verify_invariants
from ner_linking_demo_spark.sources.fixtures import (
    extract_text_from_html,
    pages_to_spark,
)

KEY = ["url", "start", "end", "label"]


@pytest.fixture(scope="module")
def spark_pages(spark, golden_pages):
    return pages_to_spark(spark, golden_pages)


@pytest.fixture(scope="module")
def o_mentions(golden_pages, golden_gazetteer):
    return oracle_mentions(golden_pages, golden_gazetteer)


@pytest.fixture(scope="module")
def o_linked(o_mentions, golden_gazetteer):
    return oracle_link(o_mentions, golden_gazetteer, k=3)


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    out = df.copy()
    for c in ("start", "end"):
        if c in out.columns:
            out[c] = out[c].astype("int64")
    return out.sort_values(KEY).reset_index(drop=True)


def test_byte_identical_text(golden_pages):
    # input invariant: text == extract(html), byte-for-byte, per url
    for r in golden_pages.itertuples():
        assert extract_text_from_html(r.html) == r.text


def test_mentions_parity(spark_pages, golden_gazetteer, o_mentions):
    got = detect_mentions(spark_pages, golden_gazetteer).toPandas()
    assert _norm(got).equals(_norm(o_mentions))


def test_detect_mentions_matches_duckdb_oracle(spark, assert_matches_oracle):
    """The gazetteer detect_mentions over the harness documents equals its
    kg_oracles DuckDB SQL at the driver gate's scale factor."""
    from ner_linking_demo_spark.plans import entry_queries as EQ
    from ner_linking_demo_spark.plans import kg_oracles as KG
    from tests.conftest import ORACLE_SF_DIR

    got = detect_mentions(
        EQ._docs_as_pages(spark, ORACLE_SF_DIR), EQ._harness_gazetteer()
    )
    assert_matches_oracle(got, KG.detect_mentions_sql(EQ._HGAZ))


def test_clinical_case_offsets(o_mentions, gold_mentions, golden_pages):
    """On the verbatim clinical case, the surrogate NER must recover every
    gold mention at its exact gold character offsets."""
    url0 = golden_pages.iloc[0]["url"]
    doc0 = o_mentions[o_mentions["url"] == url0]
    got = {
        (r.label, int(r.start), int(r.end), r.span) for r in doc0.itertuples()
    }
    want = {
        (r.label, int(r.start), int(r.end), r.span)
        for r in gold_mentions.itertuples()
    }
    assert want <= got
    # and spans slice back from the original text
    text = golden_pages.iloc[0]["text"]
    for label, start, end, span in got:
        assert text[start:end] == span


def _assert_linked_equal(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Same mention keys, identical codes, scores within 1e-6."""
    got, want = _norm(got), _norm(want)
    assert got[KEY].equals(want[KEY])
    for i in range(len(want)):
        a, b = want.iloc[i], got.iloc[i]
        assert list(a.codes) == list(b.codes), (i, a.span)
        assert np.allclose(
            np.array(a.scores, dtype=np.float32),
            np.array(b.scores, dtype=np.float32),
            atol=1e-6,
        )


@pytest.mark.parametrize(
    "plan", ["detect_and_link", "link_mentions", "fine", "coarse"]
)
def test_plan_matches_oracle(
    spark, spark_pages, golden_pages, golden_gazetteer, o_linked, plan,
    tmp_path,
):
    """Every KG plan links through the one kernel and equals the oracle:
    the fused plan, no-checkpoint link_mentions, and the linked snapshot
    of both checkpoint granularities. The fixture holds giant pages, so
    each plan scans them whole."""
    assert golden_pages["text"].str.len().max() > 20_000
    idx = build_indexes(golden_gazetteer, k=3)
    if plan == "detect_and_link":
        got = detect_and_link(spark_pages, golden_gazetteer, idx, k=3)
    elif plan == "link_mentions":
        mentions = detect_mentions(spark_pages, golden_gazetteer)
        got = link_mentions(mentions, idx, k=3)
    else:
        got = run_pipeline(
            spark,
            spark_pages,
            golden_gazetteer,
            k=3,
            checkpoint_dir=str(tmp_path / "ckpt"),
            checkpoint_granularity=plan,
        ).linked
    _assert_linked_equal(got.toPandas(), o_linked)


@pytest.mark.parametrize("granularity", [None, "fine", "coarse"])
def test_null_pages_carry_no_mentions(
    spark, spark_pages, golden_pages, golden_gazetteer, o_mentions,
    granularity, tmp_path,
):
    """A page with NULL text or a NULL url yields no mentions: on every
    plan the triples equal a run without those pages, and so do the
    mentions of detect_mentions."""
    from pyspark.sql import types as T

    from ner_linking_demo_spark.sources.fixtures import pages_spark_schema
    from tools.selfcheck import value_hash

    null_text, null_url = golden_pages.iloc[0].copy(), golden_pages.iloc[0].copy()
    null_text["url"], null_text["text"] = "null-text", None
    null_url["url"] = None
    schema = T.StructType(
        [T.StructField(f.name, f.dataType, True) for f in pages_spark_schema()]
    )
    with_nulls = spark.createDataFrame(
        pd.concat([golden_pages, pd.DataFrame([null_text, null_url])]),
        schema=schema,
    )
    got = detect_mentions(with_nulls, golden_gazetteer).toPandas()
    assert _norm(got).equals(_norm(o_mentions))

    def triples(pages, name):
        ckpt = granularity and str(tmp_path / name)
        return value_hash(
            run_pipeline(
                spark, pages, golden_gazetteer, k=3, checkpoint_dir=ckpt,
                checkpoint_granularity=granularity or "fine",
            ).triples.toPandas()
        )

    assert triples(with_nulls, "nulls") == triples(spark_pages, "plain")


@pytest.mark.parametrize(
    "reranker,rerank,score_col",
    [
        ("crossencoder", crossencoder_rerank, "ce_score"),
        ("biencoder", biencoder_rerank, "rerank_score"),
    ],
)
def test_reranked_linking_matches_rerank_operators(
    spark, spark_pages, golden_gazetteer, o_linked, reranker, rerank,
    score_col, tmp_path,
):
    """Every plan given ``reranker=...`` rescores inside the kernel —
    link_mentions, the fused detect_and_link and the coarse checkpointed
    stage — and equals the live rerank operator's candidate order run
    through the oracle's k-distinct scan."""
    idx = build_indexes(golden_gazetteer, k=3)
    mentions = detect_mentions(spark_pages, golden_gazetteer)
    cands = rerank(knn_candidates(mentions, idx)).toPandas()
    rows = []
    for key, g in cands.sort_values(KEY + ["rerank"]).groupby(KEY):
        codes, consumed = _k_distinct_scan(
            list(g["code"]), list(g[score_col]), 3
        )
        best: dict[str, float] = {}
        for code, score, _ in consumed:
            best.setdefault(code, score)
        rows.append(
            {
                **dict(zip(KEY, key)),
                "span": g["span"].iloc[0],
                "codes": codes,
                "scores": [best[c] for c in codes],
            }
        )
    want = pd.DataFrame(rows)
    got = link_mentions(mentions, idx, k=3, reranker=reranker).toPandas()
    _assert_linked_equal(got, want)
    # the rescoring is a real reordering on this fixture
    plain = _norm(o_linked)["codes"].map(list)
    assert (_norm(got)["codes"].map(list) != plain).any()
    fused = detect_and_link(
        spark_pages, golden_gazetteer, idx, k=3, reranker=reranker
    )
    _assert_linked_equal(fused.toPandas(), want)
    coarse = run_pipeline(
        spark, spark_pages, golden_gazetteer, k=3,
        checkpoint_dir=str(tmp_path / "ckpt"),
        checkpoint_granularity="coarse", reranker=reranker,
    ).linked
    _assert_linked_equal(coarse.toPandas(), want)


def test_linking_is_batch_independent(spark, golden_gazetteer, o_mentions):
    """codes and scores are a pure function of the span: the same
    mentions linked at Arrow batch sizes 1, 7 and 4096 give bit-identical
    output. The spans include the golden 'ñiquetotal' (two codes tie at
    4/9, and float32 batch products once flipped their order) and a term
    the gazetteer lists under several codes."""
    n_codes = golden_gazetteer.groupby(["label", "term"])["code"].nunique()
    label, term = n_codes[n_codes > 1].index[0]
    ambiguous = pd.DataFrame(
        [("ambiguous", label.upper(), 0, len(term), term)],
        columns=o_mentions.columns,
    )
    pdf = pd.concat([o_mentions, ambiguous], ignore_index=True)
    assert "ñiquetotal" in set(pdf["span"])
    mentions = spark.createDataFrame(pdf).coalesce(1)
    idx = build_indexes(golden_gazetteer, k=3)
    conf = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(conf)
    outs = []
    try:
        for n in (1, 7, 4096):
            spark.conf.set(conf, str(n))
            outs.append(_norm(link_mentions(mentions, idx, k=3).toPandas()))
    finally:
        spark.conf.set(conf, old)
    base = outs[0]
    assert len(base) == len(pdf)
    for other in outs[1:]:
        assert other[KEY].equals(base[KEY])
        for a, b in zip(base.itertuples(), other.itertuples()):
            assert list(a.codes) == list(b.codes), a.span
            assert np.array_equal(
                np.asarray(a.scores, dtype=np.float32),
                np.asarray(b.scores, dtype=np.float32),
            ), a.span


def test_search_matches_float64_reference():
    """TermIndex.search ranks on float64 scores with the ordinal
    tie-break whatever the batch: one query at a time, batches of 7 and
    one batch of all equal a per-query float64 loop (the oracle's rule),
    ids and float32 scores bit for bit."""
    from ner_linking_demo_spark.functions.embedder import (
        HashEmbedder,
        l2_normalize,
    )
    from ner_linking_demo_spark.sources.fixtures import gen_gazetteer

    gaz = gen_gazetteer(n_codes=2000, seed=7)
    index = build_indexes(gaz, k=3)["DISEASE"]
    spans = sorted(set(gaz.loc[gaz["label"] == "disease", "term"]))[:600]
    q = l2_normalize(HashEmbedder().encode(spans))
    scores, ids = index.search(q)
    m64 = index.matrix.astype(np.float64)
    for i, span in enumerate(spans):
        s = m64 @ q[i].astype(np.float64)
        order = np.lexsort((np.arange(len(s)), -s))[: ids.shape[1]]
        assert np.array_equal(ids[i], order), span
        assert np.array_equal(scores[i], s[order].astype(np.float32)), span
        one_scores, one_ids = index.search(q[i : i + 1])
        assert np.array_equal(one_ids[0], ids[i]), span
        assert np.array_equal(one_scores[0], scores[i]), span
    for lo in range(0, len(spans), 7):
        s7, i7 = index.search(q[lo : lo + 7])
        assert np.array_equal(i7, ids[lo : lo + 7])
        assert np.array_equal(s7, scores[lo : lo + 7])


def test_end_to_end_triples_pr(
    spark, spark_pages, golden_pages, golden_gazetteer, tmp_path
):
    """Acceptance gate: triple P/R >= 0.95 vs the oracle on exact
    (subj, pred, code) matches (evaluation.py:151-165 micro style) — by
    construction the parity is exact, so the gate asserts 1.0-level P/R,
    plus invariant queries all zero."""
    res = run_pipeline(
        spark,
        spark_pages,
        golden_gazetteer,
        k=3,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    o_m = oracle_mentions(golden_pages, golden_gazetteer)
    o_l = oracle_link(o_m, golden_gazetteer, k=3)
    o_t, o_e, o_edges = oracle_triples(o_l, golden_gazetteer)

    got = {
        (r.subj, r.pred, r.code)
        for r in res.triples.select("subj", "pred", "code").collect()
    }
    want = {(r.subj, r.pred, r.code) for r in o_t.itertuples()}
    tp = len(got & want)
    precision = tp / max(len(got), 1)
    recall = tp / max(len(want), 1)
    assert precision >= 0.95 and recall >= 0.95, (precision, recall)

    # entity/edge parity
    got_edges = {
        (r.src, r.rel, r.dst) for r in res.edges.collect()
    }
    want_edges = {(r.src, r.rel, r.dst) for r in o_edges.itertuples()}
    assert got_edges == want_edges

    ents = res.entities.toPandas().sort_values("entity_id").reset_index(drop=True)
    assert list(ents["entity_id"]) == list(o_e["entity_id"])
    assert list(ents["canonical_code"]) == list(o_e["canonical_code"])
    for a, b in zip(ents["aliases"], o_e["aliases"]):
        assert list(a) == list(b)

    bad = verify_invariants(res)
    assert all(v == 0 for v in bad.values()), bad


def test_entities_local_vs_distributed(spark, golden_gazetteer):
    """Driver-side union-find entity build == distributed CC entity build."""
    from ner_linking_demo_spark.operators.triples import (
        build_entities,
        build_entities_local,
    )

    gdf = spark.createDataFrame(
        golden_gazetteer[["label", "code", "term", "semantic_tag"]]
    )
    e_d, c2e_d = build_entities(gdf)
    e_l, c2e_l = build_entities_local(spark, golden_gazetteer)
    pd_d = e_d.toPandas().sort_values("entity_id").reset_index(drop=True)
    pd_l = e_l.toPandas().sort_values("entity_id").reset_index(drop=True)
    assert list(pd_d["entity_id"]) == list(pd_l["entity_id"])
    assert list(pd_d["canonical_code"]) == list(pd_l["canonical_code"])
    for a, b in zip(pd_d["aliases"], pd_l["aliases"]):
        assert list(a) == list(b)
    m_d = {(r.code, r.entity_id) for r in c2e_d.collect()}
    m_l = {(r.code, r.entity_id) for r in c2e_l.collect()}
    assert m_d == m_l


def test_obj_is_entity_id(spark, spark_pages, golden_gazetteer):
    res = run_pipeline(spark, spark_pages, golden_gazetteer, k=3)
    joined = (
        res.triples.join(
            res.entities, res.triples.obj == res.entities.entity_id, "left_anti"
        ).count()
    )
    assert joined == 0  # every obj resolves to an entity row
