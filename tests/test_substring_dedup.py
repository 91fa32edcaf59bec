"""Exact substring dedup (operators/substring_dedup.py) vs an
independent diagonal-run oracle: for each document pair, token-match
runs per diagonal of the match matrix ARE the maximal duplicated
extents (valid whenever no n_gram-token window repeats within one
document — the fixtures guarantee that)."""

from __future__ import annotations

import pandas as pd
import pytest

from ner_linking_demo_spark.operators.substring_dedup import (
    _gram_rows,
    exact_substring_pairs,
    remove_duplicate_spans,
)

N_GRAM = 4
MIN_TOKENS = 8


def _mk(prefix: str, n: int) -> list[str]:
    return [f"{prefix}{i}" for i in range(n)]


RUN = _mk("r", 10)  # shared 10-token run
DOCS = {
    1: _mk("a", 3) + RUN + _mk("b", 2),  # run at pos 3
    2: _mk("c", 5) + RUN + _mk("d", 4),  # run at pos 5
    3: _mk("a", 3) + RUN + _mk("b", 2),  # exact copy of doc 1
    4: _mk("e", 12),  # unrelated
    5: RUN[:6] + _mk("f", 8),  # only 6 shared tokens (< MIN) at pos 0
}


def _oracle_pairs() -> set[tuple]:
    """All maximal diagonal token runs >= MIN_TOKENS, id_a < id_b."""
    out = set()
    ids = sorted(DOCS)
    for i, ia in enumerate(ids):
        for ib in ids[i + 1 :]:
            a, b = DOCS[ia], DOCS[ib]
            for d in range(-len(b) + 1, len(a)):
                run = 0
                for pa in range(max(0, d), min(len(a), len(b) + d)):
                    if a[pa] == b[pa - d]:
                        run += 1
                    else:
                        if run >= MIN_TOKENS:
                            out.add((ia, ib, pa - run, pa - run - d, run))
                        run = 0
                pa_end = min(len(a), len(b) + d)
                if run >= MIN_TOKENS:
                    out.add((ia, ib, pa_end - run, pa_end - run - d, run))
    return out


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": list(DOCS),
                "text": [" ".join(t) for t in DOCS.values()],
            }
        )
    )


def test_extents_match_diagonal_oracle(spark, docs_df):
    got = {
        (r.id_a, r.id_b, r.begin_a, r.begin_b, r.n_tokens)
        for r in exact_substring_pairs(
            docs_df, min_tokens=MIN_TOKENS, n_gram=N_GRAM, max_df=16
        ).collect()
    }
    want = _oracle_pairs()
    assert want, "fixture must plant at least one extent"
    assert got == want
    # the sub-threshold 6-token overlap (doc 5) must NOT appear
    assert not any(5 in (a, b) for a, b, *_ in got)


def test_exact_copy_detected_full_length(spark, docs_df):
    got = exact_substring_pairs(
        docs_df, min_tokens=MIN_TOKENS, n_gram=N_GRAM, max_df=16
    ).filter("id_a = 1 AND id_b = 3").collect()
    assert len(got) == 1
    r = got[0]
    assert (r.begin_a, r.begin_b, r.n_tokens) == (0, 0, len(DOCS[1]))


def test_removal_keeps_exactly_one_copy(spark, docs_df):
    ext = exact_substring_pairs(
        docs_df, min_tokens=MIN_TOKENS, n_gram=N_GRAM, max_df=16
    )
    kept = {
        r.doc_id: r.text.split()
        for r in remove_duplicate_spans(docs_df, ext).collect()
    }
    # doc 1 (lowest id) keeps the run; docs 2/3 lose it; doc 3 (exact
    # copy) is hollowed out entirely and dropped
    assert kept[1] == DOCS[1]
    assert kept[2] == _mk("c", 5) + _mk("d", 4)
    assert 3 not in kept
    assert kept[4] == DOCS[4]
    assert kept[5] == DOCS[5]  # sub-threshold overlap untouched


def test_max_df_prunes_boilerplate_grams(spark):
    # the same run in 6 docs with max_df=4: every gram has df=6 > 4 ->
    # pruned, no pairs at all (boilerplate is dedup_lines' job)
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(6),
                "text": [
                    " ".join(_mk(f"u{i}_", 3) + RUN) for i in range(6)
                ],
            }
        )
    )
    got = exact_substring_pairs(
        docs, min_tokens=MIN_TOKENS, n_gram=N_GRAM, max_df=4
    ).collect()
    assert got == []


def test_sampled_mode_detects_long_runs_deterministically(spark):
    long_run = _mk("z", 120)
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    " ".join(_mk("p", 7) + long_run),
                    " ".join(_mk("q", 13) + long_run),
                ],
            }
        )
    )
    kw = dict(min_tokens=16, n_gram=8, max_df=8, sample_mod=2)
    a = sorted(map(tuple, exact_substring_pairs(docs, **kw).collect()))
    b = sorted(
        map(
            tuple,
            exact_substring_pairs(
                docs.repartition(7), **kw
            ).collect(),
        )
    )
    assert a == b  # partitioning-independent (content-defined sampling)
    assert len(a) >= 1
    covered = 0
    for id_a, id_b, begin_a, begin_b, n_tokens in a:
        assert (id_a, id_b) == (1, 2)
        # coverage invariant: every extent sits INSIDE the planted run
        # on both sides (under-covers, never over-covers)
        assert begin_a >= 7 and begin_a - 7 == begin_b - 13
        assert begin_a + n_tokens <= 7 + 120
        covered += n_tokens
    assert covered >= 60  # sample_mod=2 selects ~half the grams


def test_sampled_mode_never_bridges_unique_tokens(spark):
    """Round-5 review regression: two docs identical except a short
    middle patch must NEVER yield an extent covering the differing
    tokens (removal would destroy unique content). The window-overlap
    clamp guarantees it for ANY requested max_gap."""
    left = _mk("s", 40)
    right = _mk("t", 40)
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2],
                "text": [
                    " ".join(left + ["uniq1", "uniq2", "uniq3"] + right),
                    " ".join(left + ["diff1", "diff2", "diff3"] + right),
                ],
            }
        )
    )
    for kw in (
        dict(min_tokens=8, n_gram=8, sample_mod=2, max_gap=64),
        dict(min_tokens=8, n_gram=8),
    ):
        ext = exact_substring_pairs(docs, max_df=8, **kw).collect()
        assert ext, kw
        for r in ext:
            # the differing patch occupies tokens 40-42 on both sides
            inside = set(range(r.begin_a, r.begin_a + r.n_tokens))
            assert not inside & {40, 41, 42}, (kw, r)


def test_removal_passes_through_untouched_null_and_blank_docs(spark):
    """Round-5 review regression: drop_empty must only apply to docs
    this pass actually spliced — a non-victim doc with NULL or blank
    text passes through untouched."""
    run = _mk("r", 10)
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [1, 2, 3, 4],
                "text": [
                    " ".join(run),
                    " ".join(run),
                    None,
                    "   ",
                ],
            }
        )
    )
    ext = exact_substring_pairs(docs, min_tokens=8, n_gram=4, max_df=8)
    kept = {r.doc_id: r.text for r in remove_duplicate_spans(docs, ext).collect()}
    assert set(kept) == {1, 3, 4}  # 2 hollowed+dropped; 3/4 untouched
    assert kept[3] is None and kept[4] == "   "


def _removal_oracle(text, spans, drop_empty=True):
    """``remove_duplicate_spans`` for one doc in Python: the tokens of
    Spark's ``split(trim(text), '\\s+')`` (trim strips only spaces, Java
    ``\\s`` is ASCII) outside every ``[begin, end)`` span, re-joined
    single-spaced; ``()`` when a spliced doc keeps no non-blank text."""
    import re

    if spans is None:
        return (text,)
    if text is None:
        return () if drop_empty else (None,)
    toks = re.split(r"\s+", text.strip(" "), flags=re.ASCII)
    cut = {i for b, e in spans for i in range(b, e)}
    out = " ".join(t for i, t in enumerate(toks) if i not in cut)
    return () if drop_empty and not out.strip(" ") else (out,)


def test_removal_matches_splice_oracle_on_random_docs(spark):
    """Random docs through ``remove_duplicate_spans`` against the Python
    splice: overlapping spans, spans past the end, NULL, blank and
    whitespace-only victims (dropped when hollowed), tokens around
    leading/trailing newlines and tabs, and untouched blank non-victims."""
    import random

    rng = random.Random(8)
    words = ["a", "bb", "ccc", "d\u00a0d", "e"]
    seps = [" ", "  ", "\n", "\t", " \n "]
    rows, spans = [], {}
    for doc_id in range(240):
        kind = rng.random()
        if kind < 0.08:
            text = None
        elif kind < 0.2:
            text = rng.choice(["", " ", "   ", "\t", "\n", " \n\t "])
        else:
            toks = [rng.choice(words) for _ in range(rng.randint(1, 12))]
            text = "".join(t + rng.choice(seps) for t in toks[:-1]) + toks[-1]
            text = rng.choice(["", " ", "\n"]) + text + rng.choice(
                ["", " ", "\n", "\t "]
            )
        rows.append((doc_id, text))
        if rng.random() < 0.6:
            spans[doc_id] = [
                (b, b + rng.randint(1, 6))
                for b in (rng.randint(0, 14) for _ in range(rng.randint(1, 4)))
            ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    extents = spark.createDataFrame(
        [(-1, doc_id, 0, b, e - b) for doc_id, ss in spans.items()
         for b, e in ss],
        "id_a long, id_b long, begin_a int, begin_b int, n_tokens int",
    )
    for drop_empty in (True, False):
        got = sorted(
            tuple(r)
            for r in remove_duplicate_spans(
                docs, extents, drop_empty=drop_empty
            ).collect()
        )
        want = sorted(
            (doc_id, *kept)
            for doc_id, text in rows
            for kept in [_removal_oracle(text, spans.get(doc_id), drop_empty)]
            if kept
        )
        assert got == want, drop_empty
    # the fixture reaches every branch of the hollow-drop rule
    hollowed = [
        doc_id for doc_id, text in rows
        if doc_id in spans and not _removal_oracle(text, spans[doc_id])
    ]
    assert len(hollowed) >= 5
    assert any(text is None for doc_id, text in rows if doc_id in hollowed)
    assert any(
        text is not None and not text.strip(" ")
        for doc_id, text in rows if doc_id not in spans
    )


def test_gopher_gate_over_removal_splices_once(spark):
    """``curate_docs`` with substring dedup and the Gopher gate: the
    optimized plan evaluates the splice once, though both the hollow
    drop and the gate filter on the spliced text."""
    from ner_linking_demo_spark.functions.text_analysis import (
        GOPHER_REPETITION_THRESHOLDS,
    )
    from ner_linking_demo_spark.plans.corpus_pipeline import curate_docs

    run = " ".join(_mk("r", 14))
    docs = spark.createDataFrame(
        [(1, f"{run} keep one"), (2, f"x {run} tail two"), (3, run)],
        "doc_id long, text string",
    )
    out = curate_docs(
        docs, substring_dedup=12, substring_ngram=4,
        repetition_thresholds=GOPHER_REPETITION_THRESHOLDS,
    )
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("aggregate(_cut") == 1, plan
    kept = {r.doc_id: r.text for r in out.collect()}
    assert kept == {1: f"{run} keep one", 2: "x tail two"}


def test_null_and_short_docs_emit_nothing(spark):
    docs = spark.createDataFrame(
        pd.DataFrame(
            {"doc_id": [1, 2, 3], "text": ["one two three", None, ""]}
        )
    )
    assert _gram_rows(docs, 4, "doc_id", "text", None).collect() == []
    assert (
        exact_substring_pairs(docs, min_tokens=4, n_gram=4).collect() == []
    )


def test_parameter_validation(spark, docs_df):
    with pytest.raises(ValueError, match="min_tokens"):
        exact_substring_pairs(docs_df, min_tokens=4, n_gram=8)
    with pytest.raises(ValueError, match="n_gram"):
        exact_substring_pairs(docs_df, min_tokens=4, n_gram=0)
    with pytest.raises(ValueError, match="sample_mod"):
        exact_substring_pairs(docs_df, min_tokens=8, n_gram=4, sample_mod=0)


def test_corpus_pipeline_substring_stage(spark, tmp_path):
    """run_corpus_pipeline(substring_dedup=N): planted verbatim runs are
    spliced out of all but the lowest-id copy BEFORE annotation (token
    counts reflect the spliced text), and the stage is pinned into the
    checkpoint signature."""
    from ner_linking_demo_spark.plans.corpus_pipeline import (
        run_corpus_pipeline,
    )

    run = _mk("v", 20)
    docs = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": [f"u{i}" for i in range(6)],
                "text": [
                    " ".join(_mk(f"a{i}_", 6) + (run if i < 3 else []))
                    for i in range(6)
                ],
            }
        )
    )
    res = run_corpus_pipeline(
        spark, docs, min_tokens=3, near_dup=False,
        substring_dedup=12, substring_ngram=4, collect_stats=True,
    )
    kept = {r.doc_id: r for r in res.kept.collect()}
    assert set(kept) == {f"u{i}" for i in range(6)}
    assert kept["u0"].text.split()[-20:] == run  # first copy intact
    for i in (1, 2):
        assert kept[f"u{i}"].text.split() == _mk(f"a{i}_", 6)
        assert kept[f"u{i}"].n_tokens == 6  # annotated AFTER splice
    assert "after_substring_dedup" in res.stats

    # signature pinning: toggling the stage must not resume old snaps
    ck = str(tmp_path / "ck")
    a = run_corpus_pipeline(
        spark, docs, min_tokens=3, near_dup=False,
        substring_dedup=12, substring_ngram=4,
        checkpoint_dir=ck, input_sig="fixed",
    ).kept.toPandas()
    b = run_corpus_pipeline(
        spark, docs, min_tokens=3, near_dup=False,
        checkpoint_dir=ck, input_sig="fixed",
    ).kept.toPandas()
    assert sorted(a.n_tokens) != sorted(b.n_tokens)


def test_streaming_substring_parity(spark, tmp_path):
    """One micro-batch through incremental_corpus_pipeline with
    substring_dedup == the batch pipeline on the same docs (shard-local
    semantics: the batch IS the shard here)."""
    import shutil

    from ner_linking_demo_spark.plans.corpus_pipeline import (
        run_corpus_pipeline,
    )
    from ner_linking_demo_spark.plans.fs import BatchLayout
    from ner_linking_demo_spark.streaming.corpus import (
        incremental_corpus_pipeline,
    )

    run = _mk("w", 20)
    pdf = pd.DataFrame(
        {
            "doc_id": [f"d{i}" for i in range(4)],
            "text": [
                " ".join(_mk(f"b{i}_", 5) + (run if i < 2 else []))
                for i in range(4)
            ],
        }
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(pdf).write.parquet(src)
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    stream = spark.readStream.schema("doc_id string, text string").parquet(
        src
    )
    q = incremental_corpus_pipeline(
        spark, stream, out, ckpt, min_tokens=3,
        substring_dedup=12, substring_ngram=4, est_threshold=0.95,
    )
    q.awaitTermination(120)
    got = (
        BatchLayout(spark, f"{out}/kept")
        .read()
        .select("doc_id", "text", "n_tokens")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = (
        run_corpus_pipeline(
            spark, spark.createDataFrame(pdf), min_tokens=3,
            near_dup=False, substring_dedup=12, substring_ngram=4,
        )
        .kept.select("doc_id", "text", "n_tokens")
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(got, want)
    shutil.rmtree(out, ignore_errors=True)


def test_max_df_none_streams_pairs(spark):
    """Round-6: max_df=None must take the join-based (streaming) anchor
    expansion and find the same extents as the bounded path when no
    gram exceeds the ceiling."""
    from ner_linking_demo_spark.operators.substring_dedup import (
        exact_substring_pairs,
    )

    words = [f"w{i}" for i in range(40)]
    run = " ".join(words)
    docs = spark.createDataFrame(
        [(1, run + " uniq1 a b c"), (2, run + " other tail x y"),
         (3, "completely different text " * 5)],
        "doc_id long, text string",
    )
    bounded = {
        tuple(r)
        for r in exact_substring_pairs(
            docs, min_tokens=16, n_gram=8, max_df=16
        ).collect()
    }
    unbounded = {
        tuple(r)
        for r in exact_substring_pairs(
            docs, min_tokens=16, n_gram=8, max_df=None
        ).collect()
    }
    assert bounded == unbounded and (1, 2, 0, 0, 40) in bounded
