"""Deterministic corpus mixing — weighted source sampling for training
mixtures.

Reference scope note: the reference pipeline (guilopgar/ner-linking-demo)
has no corpus layer; this is a training-data extension (SURVEY.md
§2.11). Published pretraining recipes assemble the corpus from weighted
sources (The Pile's per-set epochs, Dolma's source mixing, LLaMA's
sampling proportions): a weight of 1.6 means every doc appears once and
60% of docs appear twice. Doing this with ``df.sample()`` would be
non-reproducible (seeded per-partition RNG changes with partitioning);
here membership is a PURE FUNCTION of (seed, copy, doc id):

    keep(copy c)  <=>  md5(md5(seed) . c . md5(id))[:12]  <  hex(rate * 16^12)

(The variable-length fields enter the draw as FIXED-WIDTH md5 hex, so
no (seed, copy, id) triple can collide with another by boundary
ambiguity — a plain "seed|copy|id" join would let seed="s|1", id="5"
alias seed="s", id="1|5" and correlate draws that must be independent.)

- **Deterministic and engine-portable**: fixed-width lowercase hex
  compares exactly like the underlying 48-bit integer, and DuckDB/any
  engine computes the identical md5 — the driver gate verifies the
  sampled membership value-for-value, and a re-run (or a different
  partitioning, or a 1000-executor cluster) selects the same docs.
- **Zero shuffle**: sampling and upsampling are scan projections; the
  integer copies come from a codegen ``explode(sequence(...))``, so a
  weight-3.2 source costs exactly one scan, no join, no exchange
  (plan-audited).
- **Per-doc, not per-partition**: skew-free by construction; hot
  partitions don't bias the sample.
- 48 bits of threshold resolution = rate granularity ~4e-15, far below
  any meaningful mixture weight precision.

``copy`` rides along in the output so downstream packing/shuffling can
distinguish the repeats (training pipelines want repeated docs in
different batches, not adjacent).
"""

from __future__ import annotations

import hashlib
import math

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_HEX_WIDTH = 12  # 48 bits


def seed_hex(seed: str) -> str:
    """Fixed-width (32 hex) digest of a seed string — the form the
    seed enters every draw as."""
    return hashlib.md5(seed.encode("utf-8")).hexdigest()


def rate_threshold(rate: float) -> str:
    """Fixed-width lowercase-hex threshold such that a uniform 48-bit
    hex string is below it with probability ``rate``. rate = 1.0 needs
    a string ABOVE every 12-char hex value: a 13-char "1000...0" would
    compare LEXICOGRAPHICALLY smaller than e.g. "fff..." (strings, not
    numbers), so the all-keep sentinel is "g" — one past 'f' in every
    collation both engines use for ASCII."""
    if not 0.0 <= rate <= 1.0 or math.isnan(rate):
        raise ValueError(f"rate must be in [0, 1], got {rate}")
    n = int(rate * (16**_HEX_WIDTH))
    if n >= 16**_HEX_WIDTH:
        return "g"
    return format(n, f"0{_HEX_WIDTH}x")


def hash_fraction_hex(id_col: Column, seed: str, copy: Column) -> Column:
    """First 12 hex chars of md5(md5(seed) . copy . md5(id)) — the
    doc's deterministic uniform draw for this (seed, copy). seed and id
    enter as fixed-width md5 hex so arbitrary strings (pipes included)
    can never alias another (seed, copy, id) triple."""
    return F.substring(
        F.md5(
            F.concat(
                F.lit(seed_hex(seed)),
                copy.cast("string"),
                F.md5(id_col.cast("string")),
            )
        ),
        1,
        _HEX_WIDTH,
    )


def upsample(
    docs: DataFrame,
    weight: float,
    seed: str = "",
    id_col: str = "doc_id",
    copy_col: str = "copy",
) -> DataFrame:
    """``weight``-fold deterministic upsample: floor(weight) full
    copies plus a frac(weight)-rate sampled extra copy, each tagged
    with ``copy_col`` (0-based). weight <= 1 degrades to a plain
    sample; weight must be positive and finite."""
    if weight <= 0 or not math.isfinite(weight):
        raise ValueError(f"weight must be positive finite, got {weight}")
    if copy_col in docs.columns:
        raise ValueError(
            f"docs already has a {copy_col!r} column — pass a different "
            "copy_col (or drop/rename it) so the copy tag is unambiguous"
        )
    full = int(weight)
    frac = weight - full
    src = docs.filter(F.col(id_col).isNotNull())
    if frac == 0.0:
        # integer weight (1.0 is the most common mixture weight): no
        # fractional copy exists, so skip both the extra exploded row
        # and the per-row hash that could never pass
        return src.select(
            "*",
            F.explode(F.sequence(F.lit(0), F.lit(full - 1))).alias(
                copy_col
            ),
        )
    thr = rate_threshold(frac)
    copies = F.explode(
        F.sequence(F.lit(0), F.lit(full))  # 0..full inclusive
    ).alias(copy_col)
    out = src.select("*", copies)
    # copy `full` is the fractional one; copies 0..full-1 always keep.
    # (when weight < 1, full == 0 and EVERY row is the fractional copy)
    return out.filter(
        (F.col(copy_col) < full)
        | (
            hash_fraction_hex(F.col(id_col), seed, F.col(copy_col))
            < F.lit(thr)
        )
    )


def mix_corpora(
    sources: dict[str, tuple[DataFrame, float]],
    seed: str = "",
    id_col: str = "doc_id",
    source_col: str = "source",
    copy_col: str = "copy",
) -> DataFrame:
    """Weighted union of named sources: each source is upsampled to its
    weight (per-source seed = ``md5(seed) . name`` — the fixed-width
    seed digest makes the composition unambiguous for ANY name, so
    identical ids in two sources draw independently), tagged with
    ``source_col``, and unioned by name. One scan per source, zero
    exchanges (the union is a plan concatenation, not a shuffle).
    Refuses inputs that already carry ``source_col``/``copy_col`` —
    silently clobbering real provenance metadata is worse than asking
    the caller to rename."""
    if not sources:
        raise ValueError("sources must be non-empty")
    legs = []
    for name, (df, weight) in sources.items():
        if source_col in df.columns:
            raise ValueError(
                f"source {name!r} already has a {source_col!r} column — "
                "pass a different source_col (or drop/rename it) so the "
                "mixture tag cannot clobber real provenance metadata"
            )
        legs.append(
            upsample(
                df,
                weight,
                seed=f"{seed_hex(seed)}{name}",
                id_col=id_col,
                copy_col=copy_col,
            ).withColumn(source_col, F.lit(name))
        )
    out = legs[0]
    for leg in legs[1:]:
        out = out.unionByName(leg)
    return out
