"""M2 token-classifier NER chain: fragment-boundary invariance, argmax
semantics, and provider interchangeability in detect_mentions."""

from __future__ import annotations

import numpy as np

from ner_linking_demo_spark.functions.fragments import fragment_document
from ner_linking_demo_spark.functions.token_classifier import (
    HashTokenClassifier,
    piece_logits,
    softmax3,
    word_tags_from_probs,
)
from ner_linking_demo_spark.operators.iob import decode_iob_scan
from ner_linking_demo_spark.operators.ner import (
    TokenClassifierMentionProvider,
    detect_mentions,
)

TEXT = "alpha bravo charlie delta echo foxtrot golf hotel india juliet " * 5


def _spans(seq_len: int) -> list[tuple[int, int]]:
    clf = HashTokenClassifier()
    frags = fragment_document(TEXT, seq_len=seq_len)
    probs = clf.predict(frags)
    tags, offsets = word_tags_from_probs(frags, probs)
    return decode_iob_scan(tags, offsets)


def test_fragment_boundary_invariance():
    """Words split across fragments (tiny seq_len forces it) must produce
    the same word log-prob sums, hence identical spans (A3 accumulation
    is fragment-agnostic)."""
    base = _spans(128)
    assert base  # hash tags over 50 words produce at least one B run
    for seq_len in (6, 9, 16):
        assert _spans(seq_len) == base, seq_len


def test_word_prob_is_product_of_subtokens():
    clf = HashTokenClassifier()
    frags = fragment_document("abcdefgh", seq_len=128)  # 2 pieces
    probs = clf.predict(frags)
    tags, offsets = word_tags_from_probs(frags, probs)
    lp = np.log(softmax3(piece_logits("abcd"))) + np.log(
        softmax3(piece_logits("##efgh"))
    )
    assert tags == [("B", "I", "O")[int(np.argmax(lp))]]
    assert offsets == [(0, 8)]


def test_provider_swaps_into_detect_mentions(spark):
    pages = spark.createDataFrame(
        [("u1", TEXT), ("u2", "alpha bravo charlie")], ["url", "text"]
    )
    out = detect_mentions(
        pages, provider=TokenClassifierMentionProvider()
    ).toPandas()
    # distributed output == driver-side provider scan per doc
    prov = TokenClassifierMentionProvider()
    expect = {
        (url, lab.upper(), s, e, sp)
        for url, text in [("u1", TEXT), ("u2", "alpha bravo charlie")]
        for lab, s, e, sp in prov.find_mentions(text)
    }
    got = {
        tuple(r)
        for r in out[["url", "label", "start", "end", "span"]].itertuples(
            index=False, name=None
        )
    }
    assert got == expect
    # span slice invariant
    assert all(
        sp == (TEXT if u == "u1" else "alpha bravo charlie")[s:e]
        for u, _, s, e, sp in got
    )


def test_ensemble_strategies():
    """A5 merge semantics: prod/sum/max across the models axis, combined
    before the word-level log-prob accumulation; distinct salts give a
    genuinely different model."""
    import pytest as _pytest

    from ner_linking_demo_spark.functions.token_classifier import (
        EnsembleTokenClassifier,
    )

    m1, m2 = HashTokenClassifier(), HashTokenClassifier(salt="m2")
    frags = fragment_document(TEXT, seq_len=64)
    p1, p2 = m1.predict(frags), m2.predict(frags)
    assert not np.allclose(p1, p2)  # salted models differ
    for strategy, ref in (
        ("prod", p1 * p2),
        ("sum", p1 + p2),
        ("max", np.maximum(p1, p2)),
    ):
        ens = EnsembleTokenClassifier([m1, m2], strategy=strategy)
        assert np.allclose(ens.predict(frags), ref)
    with _pytest.raises(ValueError, match="strategy"):
        EnsembleTokenClassifier([m1], strategy="median")
    # pickle round-trip (broadcast safety) preserves the salt
    import pickle

    m2b = pickle.loads(pickle.dumps(m2))
    assert np.allclose(m2b.predict(frags), p2)


def test_crf_vote_converter():
    """CRF vote: word tag = modal subtoken argmax (count desc, class asc
    tie-break) — differs from the prob-product converter by design."""
    from ner_linking_demo_spark.functions.token_classifier import (
        word_tags_crf_vote,
    )

    clf = HashTokenClassifier()
    frags = fragment_document("abcdefgh ij", seq_len=128)  # 2+1 pieces
    probs = clf.predict(frags)
    tags, offsets = word_tags_crf_vote(frags, probs)
    # word 0: pieces 'abcd','##efgh' vote independently
    v0 = [int(np.argmax(probs[0][i])) for i, w in enumerate(frags[0].word_ids) if w == 0]
    counts = np.bincount(v0, minlength=3)
    assert tags[0] == ("B", "I", "O")[int(np.argmax(counts))]
    assert offsets == [(0, 8), (9, 11)]


def test_fasttext_subtokenizer_whole_word():
    from ner_linking_demo_spark.functions.fragments import (
        fasttext_subtokenize,
    )
    from ner_linking_demo_spark.operators.ner import (
        TokenClassifierMentionProvider,
    )

    assert fasttext_subtokenize("abcdefgh") == ["abcdefgh"]
    prov = TokenClassifierMentionProvider(subtokenizer=fasttext_subtokenize)
    frags = fragment_document(
        "alpha bravo", seq_len=128, subtokenizer=fasttext_subtokenize
    )
    # 1:1 word <-> subtoken
    assert [w for w in frags[0].word_ids if w >= 0] == [0, 1]
    # provider runs end-to-end with the whole-word tokenizer
    out = prov.find_mentions("alpha bravo charlie " * 3)
    assert all(sp == ("alpha bravo charlie " * 3)[s:e] for _, s, e, sp in out)


def _provider_mentions(spark, provider):
    from ner_linking_demo_spark.plans import entry_queries as EQ
    from tests.conftest import ORACLE_SF_DIR

    pages = EQ._docs_as_pages(spark, ORACLE_SF_DIR, limit=150)
    return detect_mentions(pages, provider=provider)


def test_crf_vote_provider_matches_duckdb_oracle(spark, assert_matches_oracle):
    """CRF word-preds converter (post_process.py:79-91) through the whole
    M1->M3 chain in detect_mentions equals its kg_oracles DuckDB SQL."""
    from ner_linking_demo_spark.plans import kg_oracles as KG

    got = _provider_mentions(
        spark, TokenClassifierMentionProvider(converter="crf_vote")
    )
    assert_matches_oracle(
        got,
        KG.iob_detect_sql(where="WHERE doc_id < 150", converter="crf_vote"),
    )


def test_ensemble_provider_matches_duckdb_oracle(spark, assert_matches_oracle):
    """A5 ensemble inside the M2 chain: two salted surrogate classifiers,
    word-prob tensors combined by product before the A3/argmax/IOB decode
    (reference post_process.py:796-856), equals its DuckDB SQL."""
    from ner_linking_demo_spark.functions.token_classifier import (
        EnsembleTokenClassifier,
    )
    from ner_linking_demo_spark.plans import kg_oracles as KG

    clf = EnsembleTokenClassifier(
        [HashTokenClassifier(), HashTokenClassifier(salt="m2")],
        strategy="prod",
    )
    got = _provider_mentions(
        spark, TokenClassifierMentionProvider(classifier=clf)
    )
    assert_matches_oracle(
        got,
        KG.iob_detect_sql(
            where="WHERE doc_id < 150", salts=("", "m2"), strategy="prod"
        ),
    )
