"""Hashed-n-gram linear quality classifier — the CCNet/fastText-style
model seat for corpus filtering.

Reference scope note: the reference pipeline (guilopgar/ner-linking-demo)
has no corpus-quality model; this belongs to the training-data
extensions (SURVEY.md §2.11), complementing the ``quality`` heuristic
of ``text_analysis.add_profile_columns`` with a LEARNED scorer, the way
real pretraining pipelines (CCNet, RefinedWeb) filter with a fastText
classifier against a high-quality seed corpus.

Design (Spark-first):

- **Features**: hashed word unigrams + bigrams into a ``dim``-sized
  weight table (feature hashing a la fastText; crc32 — deterministic
  across python workers, unlike the salted builtin ``hash``). Mean
  pooling over the doc's features, sigmoid(w . phi + b).
- **Scoring**: one Arrow-batched pandas UDF; the weight table rides the
  closure (a few MB at the default dim), loaded once per worker by
  Spark's task deserialization — a broadcast in all but name.
- **Training**: full-batch logistic regression by gradient descent,
  distributed the way the M8 loss evaluation is: each epoch is ONE
  Spark job that computes dense gradient partial sums per Arrow batch
  (``mapInPandas`` -> per-partition numpy accumulation -> driver sum),
  then a driver-side weight update. Deterministic for a fixed
  (input, partitioning, epochs, lr): float summation order is fixed by
  the per-partition accumulate + ordered driver reduce. At 100 TB one
  epoch costs one corpus scan + a (dim+1)-sized shuffle-free collect per
  partition — the standard broadcast-weights/aggregate-gradients
  pattern; a real deployment would train on a sample (quality seeds are
  small) and only SCORE at corpus scale.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

DEFAULT_DIM = 1 << 16


def _prob(ids: np.ndarray, weights: np.ndarray, bias: float) -> float:
    """P(quality) for one featurized doc — the single logit definition
    shared by inference (score_one, the scorer UDF) and training, so the
    conventions cannot diverge. Content-free docs (no features: null,
    empty, whitespace-only) score 0.0 — a quality gate should never pass
    a doc on the bias prior alone."""
    if ids.size == 0:
        return 0.0
    z = float(weights[ids].mean()) + bias
    return float(1.0 / (1.0 + np.exp(-z)))


def _feature_ids(text: str, dim: int) -> np.ndarray:
    """Hashed unigram+bigram feature ids for one document (with
    repetition — mean pooling counts repeats, as fastText does)."""
    toks = text.split()
    feats = toks + [
        f"{toks[i]}_{toks[i + 1]}" for i in range(len(toks) - 1)
    ]
    if not feats:
        return np.empty(0, dtype=np.int64)
    return np.array(
        [zlib.crc32(f.encode("utf-8")) % dim for f in feats],
        dtype=np.int64,
    )


@dataclass
class QualityClassifier:
    """Weights + bias of the hashed linear model. ``seeded(seed)`` gives
    the deterministic stub used where no trained weights exist (the same
    convention as the NER HashTokenClassifier model seat); real
    deployments load trained weights into the same dataclass."""

    weights: np.ndarray  # shape (dim,), float64
    bias: float = 0.0

    @property
    def dim(self) -> int:
        return int(self.weights.shape[0])

    @classmethod
    def seeded(cls, dim: int = DEFAULT_DIM, seed: int = 7) -> "QualityClassifier":
        rng = np.random.default_rng(seed)
        return cls(weights=rng.standard_normal(dim) * 0.1, bias=0.0)

    def score_one(self, text: str | None) -> float:
        if text is None:
            return 0.0
        return _prob(_feature_ids(text, self.dim), self.weights, self.bias)

    def fingerprint(self) -> str:
        """Content hash of the model (weights + bias) — what checkpoint
        signatures must pin so a retrained model can never silently
        resume snapshots scored by the old one."""
        import hashlib

        h = hashlib.md5(self.weights.tobytes())
        h.update(repr(float(self.bias)).encode())
        return h.hexdigest()[:16]

    def save(self, path: str) -> None:
        """npz on a local/driver-visible path (the model is a few MB —
        it ships to executors inside the scorer closure, so its at-rest
        home is the driver, not the cluster FS). Writes to ``path``
        EXACTLY — np.savez's silent ``.npz`` suffix-append would break
        the save(p) -> load(p) round-trip for suffix-less paths."""
        with open(path, "wb") as f:
            np.savez(f, weights=self.weights, bias=np.float64(self.bias))

    @classmethod
    def load(cls, path: str) -> "QualityClassifier":
        with np.load(path) as z:
            return cls(
                weights=np.asarray(z["weights"], dtype=np.float64),
                bias=float(z["bias"]),
            )


def quality_probability(clf: QualityClassifier, text: Column) -> Column:
    """Column of P(high quality | doc) under ``clf`` — one Arrow
    projection, rides the corpus scan."""
    weights, bias, dim = clf.weights, clf.bias, clf.dim

    @F.pandas_udf("double")
    def scorer(texts: pd.Series) -> pd.Series:
        out = np.empty(len(texts), dtype=np.float64)
        for i, t in enumerate(texts):
            out[i] = (
                0.0
                if t is None
                else _prob(_feature_ids(t, dim), weights, bias)
            )
        return pd.Series(out)

    return scorer(text)


def classifier_quality_filter(
    docs: DataFrame,
    clf: QualityClassifier,
    threshold: float = 0.5,
    text_col: str = "text",
    keep_score: bool = False,
) -> DataFrame:
    """Keep docs with P(high quality) >= threshold. Zero shuffle."""
    out = docs.withColumn(
        "quality_prob", quality_probability(clf, F.col(text_col))
    ).filter(F.col("quality_prob") >= float(threshold))
    return out if keep_score else out.drop("quality_prob")


def train_quality_classifier(
    labeled: DataFrame,
    dim: int = DEFAULT_DIM,
    epochs: int = 60,
    lr: float = 40.0,
    l2: float = 1e-6,
    text_col: str = "text",
    label_col: str = "label",
) -> tuple[QualityClassifier, list[float]]:
    """Distributed full-batch logistic regression over (text, label 0/1)
    rows. Returns (classifier, per-epoch mean log-loss).

    The default ``lr`` looks large because mean pooling scales each
    weight's gradient by 1/n_features (~1/20 for short docs): the
    EFFECTIVE step on the logit is lr/n_features per epoch. Full-batch
    GD can oscillate for a few epochs before settling — judge
    convergence on the epoch tail, not monotonicity.

    Each epoch: broadcast the current weights into one ``mapInPandas``
    pass that emits a per-partition dense gradient + loss partial sum
    (shape dim+3 doubles), driver-sums them in partition order
    (deterministic), and applies one gradient step. No shuffle; the
    collect is O(partitions x dim) doubles."""
    src = labeled.select(
        F.col(text_col).alias("text"),
        F.col(label_col).cast("double").alias("y"),
    )

    # Featurize ONCE and materialize: epochs differ only in the weight
    # vector, so re-reading the source and re-hashing n-grams per epoch
    # (60x by default) would be pure waste. Labels are validated here —
    # a null or non-binary label would otherwise propagate NaN through
    # the gradient into every weight with no error raised.
    def featurize(batches):
        for pdf in batches:
            ids_col, y_col = [], []
            for t, y in zip(pdf["text"], pdf["y"]):
                if y is None or not (y == 0.0 or y == 1.0):
                    raise ValueError(
                        f"labels must be 0 or 1, got {y!r} "
                        f"(null labels poison the gradient)"
                    )
                if t is None:
                    continue  # featureless docs carry no signal
                ids = _feature_ids(t, dim)
                if ids.size == 0:
                    continue
                ids_col.append(ids.tobytes())
                y_col.append(float(y))
            yield pd.DataFrame({"ids": ids_col, "y": y_col})

    feats = src.mapInPandas(
        featurize, schema="ids binary, y double"
    ).localCheckpoint(eager=True)

    w = np.zeros(dim, dtype=np.float64)
    b = 0.0
    losses: list[float] = []
    schema = "grad binary, gb double, loss double, n double"

    for _ in range(epochs):
        w_cur, b_cur = w, b  # rebind: closures capture per-epoch state

        def partial(batches):
            g = np.zeros(dim, dtype=np.float64)
            gb = 0.0
            loss = 0.0
            n = 0.0
            for pdf in batches:
                for ids_raw, y in zip(pdf["ids"], pdf["y"]):
                    ids = np.frombuffer(ids_raw, dtype=np.int64)
                    z = float(w_cur[ids].mean()) + b_cur
                    p = 1.0 / (1.0 + np.exp(-z))
                    eps = 1e-12
                    loss -= y * np.log(p + eps) + (1 - y) * np.log(
                        1 - p + eps
                    )
                    err = p - y
                    np.add.at(g, ids, err / ids.size)
                    gb += err
                    n += 1.0
            yield pd.DataFrame(
                {
                    "grad": [g.tobytes()],
                    "gb": [gb],
                    "loss": [loss],
                    "n": [n],
                }
            )

        parts = feats.mapInPandas(partial, schema=schema).collect()
        g = np.zeros(dim, dtype=np.float64)
        gb = 0.0
        loss = 0.0
        n = 0.0
        for row in parts:
            g += np.frombuffer(row["grad"], dtype=np.float64)
            gb += row["gb"]
            loss += row["loss"]
            n += row["n"]
        if n == 0:
            raise ValueError("no labeled rows to train on")
        w = w - lr * (g / n + l2 * w)
        b = b - lr * (gb / n)
        losses.append(loss / n)
    return QualityClassifier(weights=w, bias=b), losses
