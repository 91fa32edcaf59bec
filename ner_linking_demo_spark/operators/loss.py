"""M8 token-classification loss as a distributed evaluation metric.

The reference's `tf/loss.py:4-74` (TokenClassificationLoss /
TokenClassificationLossSampleWeight) is a masked sparse categorical
cross-entropy: flatten the (batch, seq, classes) predictions, drop every
position whose gold label is IGNORE_VALUE = -100
(`mentions_detection.py:25` — the HF convention: only a word's first
subtoken carries its label, continuations are masked), take
-ln(p[gold]) per active position, mean-reduce; the sample-weight
variant scales each position's loss by weak/strong class weights before
the reduction.

That is training-ONLY in the reference (a Keras loss object). Here it
is re-expressed as what a Spark pipeline actually needs it for:
**corpus-scale distant-supervision loss evaluation** — score a token
classifier's fit against gazetteer-derived gold IOB tags across the
whole corpus. One Arrow-batched pass computes per-document partial sums
(active count, Σce, Σweighted-ce); a single global aggregation finishes
the mean — partial-aggregation friendly, no token-grain shuffle.

Gold labels are distant supervision from the DictionaryMatcher: words
covered by a gazetteer mention get B (first word) / I (rest), everything
else O; within a word, only the first subtoken is labeled and
continuation pieces get IGNORE_VALUE, exactly the masking the reference's
loss exists to handle.
"""

from __future__ import annotations

import math
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

IGNORE_VALUE = -100  # reference mentions_detection.py:25
# distant-supervision gold classes: 0=B, 1=I, 2=O (chain order); the
# sample-weight loss weighs I as the weak class
WEAK_CLASS = 1


def masked_ce_partials(
    texts,
    matcher,
    classifier,
    subtokenize,
    weak_weight: float = 1.0,
    strong_weight: float = 2.0,
) -> tuple[int, float, float]:
    """(n_active, sum_ce, sum_weighted_ce) over a batch of documents.

    Mirrors the reference's flatten -> boolean_mask -> SparseCategoricalCE
    composition: per-piece gold labels (first piece = word label,
    continuations = IGNORE_VALUE) are built first, the mask drops the
    ignored positions, and the loss runs on what survives."""
    from ..functions.tokenization import words_with_offsets

    n_active = 0
    sum_ce = 0.0
    sum_wce = 0.0
    for text in texts:
        words = words_with_offsets(text)
        # distant-supervision gold, every word O until a mention covers it
        gold_by_word = [2] * len(words)
        spans = [(s, e) for _lab, s, e, _t in matcher.find_mentions(text)]
        for ms, me in spans:
            first = True
            for i, (_w, ws, we) in enumerate(words):
                if ws >= ms and we <= me:
                    gold_by_word[i] = 0 if first and ws == ms else 1
                    first = False
        # flatten to piece grain with the HF masking convention
        labels: list[int] = []
        probs: list[list[float]] = []
        for (w, _s, _e), g in zip(words, gold_by_word):
            for j, piece in enumerate(subtokenize(w)):
                labels.append(g if j == 0 else IGNORE_VALUE)
                probs.append(classifier.piece_probs(piece))
        for g, p in zip(labels, probs):
            if g == IGNORE_VALUE:  # boolean_mask(active_loss)
                continue
            ce = -math.log(p[g])
            wt = weak_weight if g == WEAK_CLASS else strong_weight
            n_active += 1
            sum_ce += ce
            sum_wce += ce * wt
    return n_active, sum_ce, sum_wce


def token_ce_loss(
    pages: DataFrame,
    gazetteer_pdf,
    label: str = "disease",
    classifier=None,
    subtokenizer=None,
    weak_weight: float = 1.0,
    strong_weight: float = 2.0,
    text_col: str = "text",
) -> DataFrame:
    """pages(url, text) -> ONE row (n_active, mean_ce, weighted_mean_ce).

    ``mean_ce`` is the reference TokenClassificationLoss with
    Reduction.AUTO (mean over unmasked positions);
    ``weighted_mean_ce`` composes TokenClassificationLossSampleWeight
    (per-position loss x class weight, WEAK_CLASS -> weak_weight, else
    strong_weight) with the same mean reduction."""
    from ..functions.fragments import surrogate_subtokenize
    from ..functions.matcher import DictionaryMatcher
    from ..functions.token_classifier import HashTokenClassifier

    spark = pages.sparkSession
    terms = [
        str(t)
        for lab, t in zip(gazetteer_pdf["label"], gazetteer_pdf["term"])
        if str(lab) == label
    ]
    bc = spark.sparkContext.broadcast(
        (
            terms,
            classifier or HashTokenClassifier(),
            subtokenizer or surrogate_subtokenize,
        )
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        terms_, clf, subtok = bc.value
        matcher = DictionaryMatcher({label: terms_})
        for pdf in batches:
            n, s, sw = masked_ce_partials(
                pdf[text_col],
                matcher,
                clf,
                subtok,
                weak_weight=weak_weight,
                strong_weight=strong_weight,
            )
            yield pd.DataFrame(
                {"n": [n], "sum_ce": [s], "sum_wce": [sw]}
            )

    partials = pages.select(text_col).mapInPandas(
        run, "n long, sum_ce double, sum_wce double"
    )
    agg = partials.agg(
        F.sum("n").alias("n"),
        F.sum("sum_ce").alias("sce"),
        F.sum("sum_wce").alias("swce"),
    )
    return agg.select(
        F.col("n").alias("n_active"),
        F.round(F.col("sce") / F.col("n"), 6).alias("mean_ce"),
        F.round(F.col("swce") / F.col("n"), 6).alias("weighted_mean_ce"),
    )
