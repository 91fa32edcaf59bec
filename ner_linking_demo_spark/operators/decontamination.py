"""Benchmark decontamination — flag (or drop) training documents that
contain any word n-gram from an evaluation set.

Reference scope note: the reference pipeline (guilopgar/ner-linking-demo)
has no corpus layer; this is a training-data extension (SURVEY.md
§2.11), the GPT-3/Dolma-style decontamination step every pretraining
pipeline runs before training: any doc sharing an ``n``-gram
(typically 8-13 words) with an eval benchmark is contamination and must
be dropped — otherwise the benchmark measures memorization.

Two physical forms, one semantic:

- ``contamination_matches`` (join form): docs explode their DISTINCT
  word n-grams and broadcast-hash-join against the eval n-gram set.
  The corpus side never shuffles (the eval set is small BY DEFINITION —
  benchmarks are thousands of items, not billions). Returns per-match
  attribution (which doc, which eval item, which n-gram), the audit
  artifact a decontamination report needs.
- ``contamination_flag`` (scan form): one Arrow-batched pandas UDF with
  the eval n-gram SET in its closure — a broadcast in all but name,
  like the quality-classifier weights. One boolean column, zero extra
  scans; this is the form ``run_corpus_pipeline`` composes, because the
  join form would cost the corpus a second scan for the anti-join.

**Parity by construction**: BOTH forms consume the SAME Spark
tokenization expression (``lower`` + the shared whitespace ``tokens``);
the Python side only joins token slices, it never re-tokenizes. (A
Python ``str.split()`` here would diverge from Java's ``\\s`` on
Unicode whitespace — NBSP, U+2028, \\x85 — which HTML-extracted web
text is full of.) Eval items shorter than ``n`` tokens contribute NO
n-grams (documented contract: the caller picks ``n`` at or below its
shortest meaningful eval item, the same rule the published pipelines
use).

Scale: the corpus-side gram construction runs Arrow-batched over the
Spark-tokenized array (the nested-HOF expression form is interpreted —
no whole-stage codegen — and measured ~10x slower for the identical
shingling step in ``dedup.minhash_signatures_df``); the join is a
BroadcastHashJoin (plan-audited — zero corpus Exchange). At 10^12 docs
the scan form adds one Arrow projection to an existing scan and nothing
else. The expression form (``word_ngrams``) stays as the eval-side /
oracle-parity carrier — eval sets are small.
"""

from __future__ import annotations

import hashlib

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.text_analysis import tokens

DEFAULT_NGRAM = 8


def _norm_tokens(text: Column) -> Column:
    return tokens(F.lower(text))


def word_ngrams(text: Column, n: int) -> Column:
    """DISTINCT word ``n``-grams of ``text`` as an array column —
    codegen-only (split / sequence / slice / concat_ws), empty for
    NULL/short texts."""
    toks = _norm_tokens(text)
    grams = F.when(
        F.size(toks) >= n,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - n + 1),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(grams)


def eval_ngrams(
    eval_set: DataFrame,
    n: int = DEFAULT_NGRAM,
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
) -> DataFrame:
    """(eval_id, ngram) — the distinct n-grams each eval item
    contributes."""
    return eval_set.select(
        F.col(eval_id_col).alias("eval_id"),
        F.explode(word_ngrams(F.col(eval_text_col), n)).alias("ngram"),
    ).distinct()


def _doc_grams_arrow(
    docs: DataFrame, n: int, id_col: str, text_col: str
) -> DataFrame:
    """(id, ngram) rows, one per DISTINCT n-gram per doc. Tokenization
    is the Spark ``_norm_tokens`` expression (codegen, identical to the
    eval side); the Arrow stage only joins token slices — the same
    split as ``dedup.minhash_signatures_df`` and for the same reason
    (nested HOFs don't codegen)."""
    import pandas as _pd

    toks_df = docs.select(
        F.col(id_col).alias("id"),
        _norm_tokens(F.col(text_col)).alias("toks"),
    )

    def _gram_rows(batches):
        for pdf in batches:
            ids, grams = [], []
            for i, toks in zip(pdf["id"], pdf["toks"]):
                if toks is None:  # NULL text -> no grams
                    continue
                toks = list(toks)
                for g in {
                    " ".join(toks[j : j + n])
                    for j in range(len(toks) - n + 1)
                }:
                    ids.append(i)
                    grams.append(g)
            yield _pd.DataFrame({"id": ids, "ngram": grams})

    return toks_df.mapInPandas(
        _gram_rows, schema=f"id {toks_df.schema['id'].dataType.simpleString()}, ngram string"
    )


def contamination_matches(
    docs: DataFrame,
    eval_set: DataFrame,
    n: int = DEFAULT_NGRAM,
    id_col: str = "doc_id",
    text_col: str = "text",
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
) -> DataFrame:
    """(doc_id, eval_id, ngram) rows for every distinct doc n-gram that
    appears in an eval item — the attribution report. The eval side is
    broadcast; the corpus side is scan -> tokenize (codegen) -> Arrow
    gram explode -> broadcast join, no Exchange."""
    doc_grams = _doc_grams_arrow(docs, n, id_col, text_col).select(
        F.col("id").alias(id_col), "ngram"
    )
    ev = F.broadcast(
        eval_ngrams(eval_set, n, eval_id_col, eval_text_col)
    )
    return doc_grams.join(ev, "ngram").select(id_col, "eval_id", "ngram")


def collect_eval_ngrams(
    eval_set: DataFrame,
    n: int = DEFAULT_NGRAM,
    eval_id_col: str = "eval_id",
    eval_text_col: str = "text",
) -> list[str]:
    """Driver-side eval n-gram list (sorted — deterministic), for the
    scan-form flag. Small by contract: this is the documented
    dimension-sized collect (like the gazetteer), NOT a corpus
    collect."""
    rows = (
        eval_ngrams(eval_set, n, eval_id_col, eval_text_col)
        .select("ngram")
        .distinct()
        .collect()
    )
    return sorted(r["ngram"] for r in rows)


def eval_set_fingerprint(grams: list[str], n: int) -> str:
    """Content hash of (n, gram set) — what checkpoint signatures pin
    so a changed eval set can never silently resume snapshots
    decontaminated against the old one."""
    h = hashlib.md5(f"n={n}".encode())
    for g in sorted(grams):
        h.update(b"\x00")
        h.update(g.encode("utf-8"))
    return h.hexdigest()[:16]


def contamination_flag(
    text: Column, grams: list[str], n: int = DEFAULT_NGRAM
) -> Column:
    """Boolean column: does ``text`` contain any eval n-gram? One
    Arrow pass over the SPARK-tokenized array (so the scan form can
    never disagree with the join form on tokenization — see module
    docstring); the gram set rides the closure; NULL text is clean."""
    gram_set = frozenset(grams)

    @F.pandas_udf("boolean")
    def flag(tok_arrays: pd.Series) -> pd.Series:
        out = []
        for toks in tok_arrays:
            if toks is None:
                out.append(False)
                continue
            toks = list(toks)
            out.append(
                any(
                    " ".join(toks[i : i + n]) in gram_set
                    for i in range(len(toks) - n + 1)
                )
            )
        return pd.Series(out, dtype=bool)

    return flag(_norm_tokens(text))

