"""Property-based fuzzing of the offset tokenizer: against the reference
implementation when its checkout is present (SURVEY.md §5 pyramid (a):
"compare on random unicode strings"), and its reference-free offset
invariant always. Both run derandomized, so every run draws the same
examples."""

from __future__ import annotations

import functools
import importlib.util
import os

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from ner_linking_demo_spark.functions.tokenization import words_with_offsets

REF_PREPROCESS = "/root/reference/server/ner/src/utils/ner/pre_process.py"


@functools.cache
def _ref_word_start_end():
    spec = importlib.util.spec_from_file_location(
        "ref_pre_hyp", REF_PREPROCESS
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.word_start_end

text_strategy = st.text(
    alphabet=st.characters(
        codec="utf-8",
        # full unicode incl. control chars, CJK, combining marks, spaces
        exclude_characters=["\ud800"],
    ),
    max_size=300,
)


@pytest.mark.skipif(
    not os.path.exists(REF_PREPROCESS),
    reason="reference checkout not available",
)
@settings(max_examples=300, deadline=None, derandomize=True, database=None)
@given(text=text_strategy, cased=st.booleans(), start_i=st.integers(0, 50))
def test_tokenizer_matches_reference(text, cased, start_i):
    ours = words_with_offsets(text, start_i=start_i, cased=cased)
    ref_words, ref_offsets = _ref_word_start_end()(
        text, start_i=start_i, cased=cased
    )
    assert [w for w, _, _ in ours] == ref_words
    assert [(s, e) for _, s, e in ours] == ref_offsets


@settings(max_examples=200, deadline=None, derandomize=True, database=None)
@given(text=text_strategy)
def test_offsets_are_sorted_and_disjoint_per_word(text):
    words = words_with_offsets(text)
    prev_end = -1
    for w, s, e in words:
        assert s < e
        assert s >= prev_end or len(w) == 1  # punct may touch prev word
        assert e <= len(text)
        prev_end = max(prev_end, s)
