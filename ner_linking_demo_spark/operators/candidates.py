"""Alternative candidate generators: BM25 and TF-IDF (reference
`server/linking/src/candidates/bm25.py`, `tfidf.py`).

Both follow the same Spark shape as the FAISS generator (J5/M5): a small
index built from the gazetteer dimension table, broadcast once, scored in
Arrow batches inside ``mapInPandas``; output is the exploded candidates
relation (url, start, end, label, span, rank, term, code, score) so the
rerankers and ensemble merge compose unchanged.

Semantics reproduced:
- **BM25Okapi** (rank_bm25 defaults k1=1.5, b=0.75, epsilon floor 0.25):
  idf(t) = ln((N - df + 0.5)/(df + 0.5) + 1) with rank_bm25's negative-idf
  epsilon flooring; score = sum_t idf * tf*(k1+1)/(tf + k1*(1-b+b*len/avg));
  reference scores per mention then ``np.argsort(scores)[::-1][:k]``
  (`bm25.py:56-58`) — descending with ties at *higher ordinal first*
  (reversal of a stable ascending sort), reproduced explicitly;
  ``norm_scores`` divides the top-k scores by their sum (`bm25.py:49-53`,
  F10).
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
from collections.abc import Callable, Iterator
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame

from ..functions.tokenization import words_with_offsets
from .linking import CANDIDATES_SCHEMA, empty_pandas


def default_tokenize(text: str) -> list[str]:
    return [w for w, _, _ in words_with_offsets(text)]


def _rank_desc_ties_high(scores: np.ndarray, k: int) -> np.ndarray:
    """Mirror of ``np.argsort(scores)[::-1][:k]`` with determinism pinned:
    descending score, ties broken by higher ordinal first."""
    order = np.lexsort((np.arange(len(scores)), scores))[::-1]
    return order[:k]


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

    df_count: dict[str, int] = {}
    tf_maps: list[dict[str, int]] = []
    for toks in tokenized:
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        tf_maps.append(tf)
        for t in tf:
            df_count[t] = df_count.get(t, 0) + 1

    n = len(terms)
    # rank_bm25's idf with epsilon flooring of negative values
    idf: dict[str, float] = {}
    neg: list[str] = []
    total = 0.0
    for t, df in df_count.items():
        v = math.log(n - df + 0.5) - math.log(df + 0.5)
        idf[t] = v
        total += v
        if v < 0:
            neg.append(t)
    avg_idf = total / max(len(idf), 1)
    for t in neg:
        idf[t] = epsilon * avg_idf

    postings: dict[str, tuple[np.ndarray, np.ndarray]] = {}
    tmp: dict[str, list[tuple[int, int]]] = {}
    for i, tf in enumerate(tf_maps):
        for t, c in tf.items():
            tmp.setdefault(t, []).append((i, c))
    for t, pairs in tmp.items():
        ids = np.array([p[0] for p in pairs], dtype=np.int64)
        tfs = np.array([p[1] for p in pairs], dtype=np.float64)
        postings[t] = (ids, tfs)

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
# Spark operators
# --------------------------------------------------------------------------


def _explode_candidates(
    sub: pd.DataFrame,
    scores_rows: list[np.ndarray],
    top_rows: list[np.ndarray],
    terms: list[str],
    codes: list[str],
) -> pd.DataFrame:
    frames = []
    for (_, row), scores, top in zip(sub.iterrows(), scores_rows, top_rows):
        frames.append(
            pd.DataFrame(
                {
                    "url": row["url"],
                    "label": row["label"],
                    "start": row["start"],
                    "end": row["end"],
                    "span": row["span"],
                    "rank": np.arange(len(top), dtype=np.int32),
                    "term": [terms[i] for i in top],
                    "code": [codes[i] for i in top],
                    "score": scores.astype(np.float32),
                }
            )
        )
    return (
        pd.concat(frames)
        if frames
        else empty_pandas(CANDIDATES_SCHEMA)
    )


def _generator_operator(mentions: DataFrame, indexes: dict, scorer) -> DataFrame:
    spark = mentions.sparkSession
    bc = spark.sparkContext.broadcast(indexes)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idxs = bc.value
        for pdf in batches:
            outs = []
            for label, sub in pdf.groupby("label", sort=True):
                index = idxs.get(str(label))
                if index is None or sub.empty:
                    continue
                outs.append(scorer(index, sub))
            yield (
                pd.concat(outs)
                if outs
                else empty_pandas(CANDIDATES_SCHEMA)
            )

    return mentions.mapInPandas(run, schema=CANDIDATES_SCHEMA)


def bm25_candidates(
    mentions: DataFrame,
    indexes: dict[str, BM25Index],
    k: int,
    norm_scores: bool = True,
    tokenize: Callable[[str], list[str]] = default_tokenize,
) -> DataFrame:
    """W1: BM25 top-k per mention, exploded candidate rows."""

    def scorer(index: BM25Index, sub: pd.DataFrame) -> pd.DataFrame:
        queries = [tokenize(s) for s in sub["span"]]
        scores = index.score_batch(queries)
        tops, outs = [], []
        for r in range(scores.shape[0]):
            top = _rank_desc_ties_high(scores[r], k)
            vals = scores[r][top]
            if norm_scores:
                s = vals.sum()
                vals = vals / (s if s > 0 else 1.0)
            tops.append(top)
            outs.append(vals)
        return _explode_candidates(sub, outs, tops, index.terms, index.codes)

    return _generator_operator(mentions, indexes, scorer)


def tfidf_candidates(
    mentions: DataFrame, indexes: dict[str, TfidfIndex], k: int
) -> DataFrame:
    """W2: TF-IDF cosine top-k per mention, exploded candidate rows."""

    def scorer(index: TfidfIndex, sub: pd.DataFrame) -> pd.DataFrame:
        q = index.encode(list(sub["span"]))
        sims = q @ index.matrix.T
        tops, outs = [], []
        for r in range(sims.shape[0]):
            top = _rank_desc_ties_high(sims[r], k)
            tops.append(top)
            outs.append(sims[r][top])
        return _explode_candidates(sub, outs, tops, index.terms, index.codes)

    return _generator_operator(mentions, indexes, scorer)


def build_term_avg_index(
    gaz_pdf: pd.DataFrame, label: str, k: int = 3, embedder=None
):
    """A9 term-averaged code index (reference `faisslm_term_avg.py:83-137`):
    mean of a code's *raw* term embeddings, then L2-normalize the
    centroids; search returns k codes directly (all distinct by
    construction). Returned as a TermIndex whose 'terms' are the codes."""
    from ..functions.embedder import HashEmbedder, l2_normalize
    from ..functions.gazetteer import disambiguate_terms
    from ..functions.term_index import TermIndex

    embedder = embedder or HashEmbedder()
    sub = gaz_pdf[gaz_pdf["label"] == label]
    term2code = disambiguate_terms(sub, semantic_tag=True)
    terms = sorted(term2code.keys())
    raw = embedder.encode(terms)  # raw, not normalized (reference order)
    codes = sorted(set(term2code.values()))
    centroids = np.stack(
        [
            raw[[i for i, t in enumerate(terms) if term2code[t] == c]].mean(
                axis=0
            )
            for c in codes
        ]
    ).astype(np.float32)
    return TermIndex(
        label=label,
        terms=codes,  # retrieval unit IS the code
        codes=codes,
        matrix=l2_normalize(centroids),
        k=k,
        max_n_texts=min(k, len(codes)),
    )


def term_avg_candidates(mentions: DataFrame, indexes: dict, k: int) -> DataFrame:
    """Code-centroid retrieval: one candidate row per (mention, code),
    rank = similarity order — feeds the same downstream as knn_candidates
    (codes are already distinct, so W3 reduces to a slice)."""
    from ..functions.embedder import HashEmbedder, l2_normalize

    embedder = HashEmbedder()
    spark = mentions.sparkSession
    bc = spark.sparkContext.broadcast((indexes, embedder, k))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idxs, emb, kk = bc.value
        for pdf in batches:
            outs = []
            for label, sub in pdf.groupby("label", sort=True):
                index = idxs.get(str(label))
                if index is None or sub.empty:
                    continue
                q = l2_normalize(emb.encode(list(sub["span"])))
                scores, ids = index.search(q, top_n=kk)
                tops = [ids[r] for r in range(ids.shape[0])]
                vals = [scores[r][: len(tops[r])] for r in range(ids.shape[0])]
                outs.append(
                    _explode_candidates(sub, vals, tops, index.terms, index.codes)
                )
            yield (
                pd.concat(outs)
                if outs
                else empty_pandas(CANDIDATES_SCHEMA)
            )

    return mentions.mapInPandas(run, schema=CANDIDATES_SCHEMA)


def build_generator_indexes(
    gaz_pdf: pd.DataFrame, kind: str, **kwargs
) -> dict:
    """Per-entity-type index dict (upper-cased label keys, matching the
    mentions table), kind in {'bm25', 'tfidf'}."""
    build = {
        "bm25": build_bm25_index,
        "tfidf": build_tfidf_index,
        "term_avg": build_term_avg_index,
    }[kind]
    return {
        str(label).upper(): build(gaz_pdf, str(label), **kwargs)
        for label in sorted(set(gaz_pdf["label"]))
    }
