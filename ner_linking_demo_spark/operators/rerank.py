"""Reranking + ensemble operators (reference `server/linking/src/`):

- bi-encoder rerank (W5/M7, `biencoder_ranker.py:90-111`): re-embed the
  candidate terms, score cosine(mention, term), re-sort;
- cross-encoder pair scoring (J6/M6, `crossencoder_ranker.py:137-180`):
  one score per exploded (mention span, candidate term) pair via a
  pluggable pair scorer — the reference's CrossEncoder.predict becomes an
  Arrow-batched pandas UDF with per-worker model state; the deterministic
  surrogate scores cosine under a *distinct seeded projection* so rerank
  order genuinely differs from the retrieval order (tests depend on that);
- ensemble merge (W4, `ensemble.py:37-79`): union candidate lists from N
  generators, sort by score desc, dedupe by term keeping the best score.

The operators run on the exploded candidates relation
(url, label, start, end, span, rank, term, code, score) that
operators.linking.candidates_operator produces for every generator (kNN,
code centroids, BM25, TF-IDF) — mention-scale data, so everything is
window/groupBy over the mention key; model state is broadcast. The
linking stage reranks without that relation: ``link_mentions(reranker=)``
rescores inside its kernel with the same ``pair_scores``.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from ..functions.embedder import HashEmbedder, l2_normalize

MENTION_KEY = ["url", "start", "end", "label"]


class CosinePairScorer:
    """Pair scorer: cosine of the (span, term) embeddings. It is the
    bi-encoder rerank (W5) and, under a differently seeded embedder, the
    cross-encoder surrogate; real cross-encoders implement the same
    ``predict(pairs) -> np.ndarray`` protocol."""

    def __init__(self, embedder: HashEmbedder):
        self._emb = embedder

    def predict(self, pairs: list[tuple[str, str]]) -> np.ndarray:
        if not pairs:
            return np.zeros(0, dtype=np.float32)
        a = l2_normalize(self._emb.encode([p[0] for p in pairs]))
        b = l2_normalize(self._emb.encode([p[1] for p in pairs]))
        return (a * b).sum(axis=1).astype(np.float32)


class SurrogateCrossEncoder(CosinePairScorer):
    """Deterministic stand-in for the missing CrossEncoder weights: score =
    cosine of the pair under a projection seeded differently from
    retrieval (so reranking is a real reordering)."""

    def __init__(self, dim: int = 64, seed: int = 777):
        super().__init__(HashEmbedder(dim=dim, seed=seed))


def reranker_scorer(reranker: str | None):
    """The pair scorer a ``reranker`` name selects; None = no rescoring
    (retrieval order)."""
    if reranker is None:
        return None
    if reranker == "crossencoder":
        return SurrogateCrossEncoder()
    if reranker == "biencoder":
        return CosinePairScorer(HashEmbedder())
    raise ValueError(f"unknown reranker: {reranker!r}")


def pair_scores(scorer, spans, terms) -> np.ndarray:
    """float32 score per (span, term) pair: the one scoring function of
    the rerank operators below and of the linking kernel's rerank step
    (operators/linking._link_spans)."""
    return np.asarray(
        scorer.predict(list(zip(spans, terms))), dtype=np.float32
    )


def _rerank(candidates: DataFrame, scorer, score_col: str) -> DataFrame:
    """Score each candidate row (one model call per Arrow batch, model
    state loaded once per worker — the reference loops pairs per
    mention, `crossencoder_ranker.py:137-142`), then re-rank per mention
    by (score desc, original rank asc) — the stable argsort of
    `biencoder_ranker.py:97`."""
    spark = candidates.sparkSession
    bc = spark.sparkContext.broadcast(scorer)
    schema = T.StructType(
        candidates.schema.fields
        + [T.StructField(score_col, T.FloatType(), False)]
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        model = bc.value  # per-worker init happens here for real models
        for pdf in batches:
            yield pdf.assign(
                **{score_col: pair_scores(model, pdf["span"], pdf["term"])}
            )

    rescored = candidates.mapInPandas(run, schema=schema)
    w = Window.partitionBy(*MENTION_KEY).orderBy(
        F.desc(score_col), F.asc("rank")
    )
    return rescored.withColumn("rerank", F.row_number().over(w) - 1)


def biencoder_rerank(
    candidates: DataFrame, embedder: HashEmbedder | None = None
) -> DataFrame:
    """W5: re-embed span and term per candidate row, rescore with cosine
    (``rerank_score``), re-rank."""
    return _rerank(
        candidates, CosinePairScorer(embedder or HashEmbedder()),
        "rerank_score",
    )


def crossencoder_rerank(
    candidates: DataFrame, scorer: SurrogateCrossEncoder | None = None
) -> DataFrame:
    """J6/M6: score each (span, term) pair with the cross-encoder
    (``ce_score``), re-rank."""
    return _rerank(candidates, scorer or SurrogateCrossEncoder(), "ce_score")


def ensemble_merge(*candidate_dfs: DataFrame) -> DataFrame:
    """W4 (`ensemble.py:37-79`): union per-mention candidate lists from N
    generators, keep the best score per (mention, term), re-rank by score
    desc (term asc tiebreak for determinism). Window dedupe replaces the
    reference's per-mention concat-sort-scan loop."""
    if not candidate_dfs:
        raise ValueError("need at least one candidates DataFrame")
    u = candidate_dfs[0]
    for df in candidate_dfs[1:]:
        u = u.unionByName(df)
    w_term = Window.partitionBy(*MENTION_KEY, "term").orderBy(
        F.desc("score"), F.asc("rank")
    )
    deduped = (
        u.withColumn("_rn", F.row_number().over(w_term))
        .filter("_rn = 1")
        .drop("_rn")
    )
    w = Window.partitionBy(*MENTION_KEY).orderBy(
        F.desc("score"), F.asc("term")
    )
    return deduped.withColumn("rank", F.row_number().over(w) - 1)
