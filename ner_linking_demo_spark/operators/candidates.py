"""Alternative candidate generators: code centroids (A9), BM25 and TF-IDF
(reference `server/linking/src/candidates/bm25.py`, `tfidf.py`).

Each generator is one ``retrieve`` function run by
:func:`operators.linking.candidates_operator`, the one operator that
also runs the FAISS-style kNN generator (J5/M5): a small index built from
the gazetteer dimension table is broadcast once and scored per label in
Arrow batches; the output is the exploded candidates relation (url,
label, start, end, span, rank, term, code, score), so the rerankers and
ensemble merge compose unchanged.

Semantics reproduced:
- **BM25Okapi** (rank_bm25 defaults k1=1.5, b=0.75, epsilon floor 0.25):
  idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1) with rank_bm25's negative-idf
  epsilon flooring; score = sum_t idf * tf*(k1+1)/(tf + k1*(1-b+b*len/avg));
  reference scores per mention then ``np.argsort(scores)[::-1][:k]``
  (`bm25.py:56-58`) — descending with ties at *higher ordinal first*
  (reversal of a stable ascending sort), reproduced explicitly;
  the top-k scores are divided by their sum (`bm25.py:49-53`, F10).
- **TF-IDF** (sklearn TfidfVectorizer defaults used at `tfidf.py:30-35`):
  lowercase, unicode accent strip, token pattern ``\\w\\w+``, smooth idf
  ``ln((1+n)/(1+df)) + 1``, raw tf, l2-normalized rows; cosine retrieval
  with ``argsort()[-k:][::-1]`` (`tfidf.py:62-67`) — same
  ties-at-higher-ordinal order.

Tokenization surrogate note: the reference uses nltk ``word_tokenize``
for BM25 (unavailable here); the engine's offset tokenizer stands in —
pluggable via the ``tokenize`` argument, same ModelProvider discipline as
the embedder.
"""

from __future__ import annotations

import math
import re
import unicodedata
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.embedder import HashEmbedder, l2_normalize
from ..functions.term_index import TermIndex
from ..functions.tokenization import words_with_offsets
from .linking import candidates_operator, distinct_span_retrieve


def default_tokenize(text: str) -> list[str]:
    return [w for w, _, _ in words_with_offsets(text)]


def _rank_desc_ties_high(scores: np.ndarray, k: int) -> np.ndarray:
    """Row-wise mirror of ``np.argsort(row)[::-1][:k]`` with determinism
    pinned: descending score, ties broken by higher ordinal first.
    ``scores`` [m, n] -> ids [m, min(k, n)]."""
    ordinal = np.broadcast_to(np.arange(scores.shape[1]), scores.shape)
    return np.lexsort((ordinal, scores), axis=1)[:, ::-1][:, :k]


# --------------------------------------------------------------------------
# BM25
# --------------------------------------------------------------------------


@dataclass
class BM25Index:
    terms: list[str]
    codes: list[str]
    postings: dict[str, tuple[np.ndarray, np.ndarray]]  # token -> (ids, tf)
    doc_len: np.ndarray
    avgdl: float
    idf: dict[str, float]
    k1: float = 1.5
    b: float = 0.75

    def score_batch(self, query_tokens: list[list[str]]) -> np.ndarray:
        n = len(self.terms)
        out = np.zeros((len(query_tokens), n), dtype=np.float64)
        denom_base = self.k1 * (
            1 - self.b + self.b * self.doc_len / self.avgdl
        )
        for qi, toks in enumerate(query_tokens):
            row = out[qi]
            for t in toks:  # rank_bm25 sums per query occurrence
                post = self.postings.get(t)
                if post is None:
                    continue
                ids, tf = post
                row[ids] += self.idf[t] * (
                    tf * (self.k1 + 1) / (tf + denom_base[ids])
                )
        return out


def build_bm25_index(
    gaz_pdf: pd.DataFrame,
    label: str,
    tokenize: Callable[[str], list[str]] = default_tokenize,
    k1: float = 1.5,
    b: float = 0.75,
    epsilon: float = 0.25,
) -> BM25Index:
    sub = gaz_pdf[gaz_pdf["label"] == label]
    terms = list(sub["term"])
    codes = [str(c) for c in sub["code"]]
    tokenized = [tokenize(t) for t in terms]
    doc_len = np.array([len(t) for t in tokenized], dtype=np.float64)
    avgdl = float(doc_len.mean()) if len(doc_len) else 1.0

    # token -> [(term id, tf)], tokens in first-occurrence order
    pairs: dict[str, list[tuple[int, int]]] = {}
    for i, toks in enumerate(tokenized):
        for t, c in Counter(toks).items():
            pairs.setdefault(t, []).append((i, c))

    n = len(terms)
    # rank_bm25's idf with epsilon flooring of negative values
    idf: dict[str, float] = {}
    neg: list[str] = []
    total = 0.0
    for t, post in pairs.items():
        df = len(post)
        v = math.log(n - df + 0.5) - math.log(df + 0.5)
        idf[t] = v
        total += v
        if v < 0:
            neg.append(t)
    avg_idf = total / max(len(idf), 1)
    for t in neg:
        idf[t] = epsilon * avg_idf

    postings = {
        t: (
            np.array([i for i, _ in post], dtype=np.int64),
            np.array([c for _, c in post], dtype=np.float64),
        )
        for t, post in pairs.items()
    }

    return BM25Index(
        terms=terms, codes=codes, postings=postings, doc_len=doc_len,
        avgdl=avgdl, idf=idf, k1=k1, b=b,
    )


# --------------------------------------------------------------------------
# TF-IDF
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(r"\w\w+", re.UNICODE)


def sklearn_like_analyze(text: str) -> list[str]:
    """sklearn TfidfVectorizer default analyzer: lowercase, unicode accent
    strip (NFKD, drop combining), ``\\w\\w+`` tokens."""
    decomposed = unicodedata.normalize("NFKD", text)
    stripped = "".join(
        ch for ch in decomposed if not unicodedata.combining(ch)
    )
    return _TOKEN_RE.findall(stripped.lower())


@dataclass
class TfidfIndex:
    terms: list[str]
    codes: list[str]
    vocab: dict[str, int]
    idf: np.ndarray  # [n_feats]
    matrix: np.ndarray  # [n_terms, n_feats], l2-normalized float64

    def encode(self, texts: list[str]) -> np.ndarray:
        out = np.zeros((len(texts), len(self.idf)), dtype=np.float64)
        for i, text in enumerate(texts):
            for tok in sklearn_like_analyze(text):
                j = self.vocab.get(tok)
                if j is not None:
                    out[i, j] += 1.0
        out *= self.idf
        norms = np.linalg.norm(out, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return out / norms


def build_tfidf_index(gaz_pdf: pd.DataFrame, label: str) -> TfidfIndex:
    sub = gaz_pdf[gaz_pdf["label"] == label]
    terms = list(sub["term"])
    codes = [str(c) for c in sub["code"]]
    analyzed = [sklearn_like_analyze(t) for t in terms]
    vocab_sorted = sorted({t for toks in analyzed for t in toks})
    vocab = {t: i for i, t in enumerate(vocab_sorted)}
    n = len(terms)
    df = np.zeros(len(vocab), dtype=np.float64)
    for toks in analyzed:
        for t in set(toks):
            df[vocab[t]] += 1
    idf = np.log((1.0 + n) / (1.0 + df)) + 1.0  # smooth idf

    mat = np.zeros((n, len(vocab)), dtype=np.float64)
    for i, toks in enumerate(analyzed):
        for t in toks:
            mat[i, vocab[t]] += 1.0
    mat *= idf
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    norms[norms == 0] = 1.0
    mat /= norms
    return TfidfIndex(terms=terms, codes=codes, vocab=vocab, idf=idf, matrix=mat)


# --------------------------------------------------------------------------
# Spark operators: one ``retrieve`` each, run by linking.candidates_operator
# --------------------------------------------------------------------------


def bm25_candidates(
    mentions: DataFrame,
    indexes: dict[str, BM25Index],
    k: int,
    tokenize: Callable[[str], list[str]] = default_tokenize,
) -> DataFrame:
    """W1: BM25 top-k per mention, exploded candidate rows; each
    mention's top-k scores are divided by their sum."""

    def retrieve(index: BM25Index, spans: np.ndarray):
        scores = index.score_batch([tokenize(s) for s in spans])
        top = _rank_desc_ties_high(scores, k)
        vals = np.take_along_axis(scores, top, axis=1)
        s = vals.sum(axis=1, keepdims=True)
        return vals / np.where(s > 0, s, 1.0), top

    return candidates_operator(mentions, indexes, retrieve)


def tfidf_candidates(
    mentions: DataFrame, indexes: dict[str, TfidfIndex], k: int
) -> DataFrame:
    """W2: TF-IDF cosine top-k per mention, exploded candidate rows."""

    def retrieve(index: TfidfIndex, spans: np.ndarray):
        sims = index.encode(list(spans)) @ index.matrix.T
        top = _rank_desc_ties_high(sims, k)
        return np.take_along_axis(sims, top, axis=1), top

    return candidates_operator(mentions, indexes, retrieve)


def build_term_avg_index(gaz_pdf: pd.DataFrame, label: str, k: int = 3):
    """A9 term-averaged code index (reference `faisslm_term_avg.py:83-137`):
    mean of a code's *raw* term embeddings, then L2-normalize the
    centroids; search returns k codes directly (all distinct by
    construction). Returned as a TermIndex whose 'terms' are the codes.
    Embedded with the default ``HashEmbedder``, the space
    :func:`term_avg_candidates` queries in."""
    from ..functions.gazetteer import disambiguate_terms

    sub = gaz_pdf[gaz_pdf["label"] == label]
    term2code = disambiguate_terms(sub)
    terms = sorted(term2code.keys())
    raw = HashEmbedder().encode(terms)  # raw, not normalized (reference order)
    codes = sorted(set(term2code.values()))
    owner = np.array([term2code[t] for t in terms], dtype=object)
    centroids = np.stack([raw[owner == c].mean(axis=0) for c in codes])
    return TermIndex(
        label=label,
        terms=codes,  # retrieval unit IS the code
        codes=codes,
        matrix=l2_normalize(centroids.astype(np.float32)),
        k=k,
        max_n_texts=min(k, len(codes)),
    )


def term_avg_candidates(mentions: DataFrame, indexes: dict, k: int) -> DataFrame:
    """Code-centroid retrieval: one candidate row per (mention, code),
    rank = similarity order — feeds the same downstream as knn_candidates
    (codes are already distinct, so W3 reduces to a slice)."""
    return candidates_operator(
        mentions, indexes, distinct_span_retrieve(HashEmbedder(), top_n=k)
    )


def build_generator_indexes(
    gaz_pdf: pd.DataFrame, kind: str, **kwargs
) -> dict:
    """Per-entity-type index dict (upper-cased label keys, matching the
    mentions table), kind in {'bm25', 'tfidf', 'term_avg'}."""
    build = {
        "bm25": build_bm25_index,
        "tfidf": build_tfidf_index,
        "term_avg": build_term_avg_index,
    }[kind]
    return {
        str(label).upper(): build(gaz_pdf, str(label), **kwargs)
        for label in sorted(set(gaz_pdf["label"]))
    }
