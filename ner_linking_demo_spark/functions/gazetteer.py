"""Gazetteer (alias dictionary) semantics — decoration + seeded
disambiguation (reference semantics A1 / F5).

Reference behavior being reproduced (not copied):
- every term is decorated ``"{term} [{semantic_tag}] "`` — trailing space
  included — before embedding (`/root/reference/server/linking/src/utils/
  gazetteer_pre_process.py:29-32`); the decoration changes embeddings, so
  it must be preserved verbatim;
- ambiguity removal: group codes per decorated term (sorted set), then for
  the i-th term in sorted term order pick ``random.seed(i * 23);
  random.choice(codes)`` (``gazetteer_pre_process.py:56-63``, RAND_SEED=23
  at :4). The pick depends on the *global sorted ordinal* of the term —
  an order-sensitive semantic Spark does not give for free, so both the
  driver-side and the distributed implementation establish an explicit
  total order first (SURVEY.md §7 hard-part a).

The gazetteer is a dimension table (fits comfortably in memory: SNOMED-size
vocabularies are < 10^6 rows); at 100 TB page scale it is *always* the
broadcast side. The distributed variant below exists to keep the semantics
testable through Spark as well.
"""

from __future__ import annotations

import random

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

RAND_SEED = 23


def decorate_term(term: str, semantic_tag: str) -> str:
    """``"term [tag] "`` — the trailing space is significant."""
    return f"{term} [{semantic_tag}] "


def seeded_choice(codes: list[str], ordinal: int) -> str:
    """The reference's deterministic ambiguity-killer: seed = ordinal*23."""
    rng = random.Random()
    rng.seed(ordinal * RAND_SEED)
    return rng.choice(codes)


def disambiguate_terms(gaz: pd.DataFrame) -> dict[str, str]:
    """Driver-side decorated term -> canonical code map (matches the
    reference's ``read_gazetteer_to_dict`` output exactly).

    ``gaz`` columns: code, term, semantic_tag, mainterm, language.
    """
    df = gaz.copy()
    df["code"] = df["code"].astype(str)
    dup = df[["code", "term"]].duplicated()
    if dup.any():
        raise ValueError("(code, term) pairs must be unique in the gazetteer")
    df["term"] = [
        decorate_term(t, s) for t, s in zip(df["term"], df["semantic_tag"])
    ]
    term_codes = df.groupby("term", sort=True)["code"].apply(
        lambda s: sorted(set(s))
    )
    out: dict[str, str] = {}
    for i, term in enumerate(sorted(term_codes.index)):
        out[term] = seeded_choice(term_codes[term], i)
    return out


def disambiguate_terms_df(gaz_df: DataFrame) -> DataFrame:
    """Distributed form of :func:`disambiguate_terms`.

    Returns DataFrame(term string, code string) with the *decorated* term.
    The global ordinal is a ``row_number`` over the sorted distinct terms —
    one shuffle on a dimension-sized table, negligible at scale. The seeded
    choice itself runs in an Arrow-batched pandas UDF (no per-row Python
    from the driver).
    """
    term_col = F.concat(
        F.col("term"), F.lit(" ["), F.col("semantic_tag"), F.lit("] ")
    )
    # Two-phase global ordinal (round-1 verdict: a bare
    # Window.orderBy("term") funnels every distinct term through ONE task).
    # Phase 1: ordinal within an order-preserving prefix bucket; phase 2:
    # bucket offsets = exclusive prefix-sum over the per-bucket counts — a
    # bucket-count-sized table, so ITS single-partition window is O(|alphabet|^2)
    # rows, not O(|terms|). Deterministic (no sampling), skew bounded by the
    # prefix distribution of the vocabulary.
    grouped = (
        gaz_df.select(
            term_col.alias("term"), F.col("code").cast("string").alias("code")
        )
        .groupBy("term")
        .agg(F.sort_array(F.collect_set("code")).alias("codes"))
        .withColumn("_bkt", F.substring("term", 1, 2))
    )
    w_buckets = Window.orderBy("_bkt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    offsets = (
        grouped.groupBy("_bkt")
        .count()
        .withColumn("_off", F.coalesce(F.sum("count").over(w_buckets), F.lit(0)))
        .drop("count")
    )
    w_in_bucket = Window.partitionBy("_bkt").orderBy("term")
    per_term = grouped.join(F.broadcast(offsets), "_bkt").withColumn(
        "ordinal",
        F.row_number().over(w_in_bucket) - F.lit(1) + F.col("_off"),
    )

    @F.pandas_udf(T.StringType())
    def pick(codes: pd.Series, ordinal: pd.Series) -> pd.Series:
        return pd.Series(
            [seeded_choice(list(c), int(o)) for c, o in zip(codes, ordinal)]
        )

    return per_term.select("term", pick("codes", "ordinal").alias("code"))
