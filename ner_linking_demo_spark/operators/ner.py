"""NER stage: pages -> mentions, as a vectorized ``mapInPandas`` operator.

Spark-first re-expression of the reference NER batch
(`/root/reference/server/ner/scripts/mentions_detection.py:130-293`):
logical plan is Scan -> (optional repartition) -> PythonMapInArrow ->
mentions. There is no shuffle at word/subtoken grain — tokenization, model
scoring and span decode all happen inside one Arrow-batched UDF at
per-document granularity, exactly the granularity at which the reference
batches its model (SURVEY.md §3.2).

Scale posture:
- model/matcher state is built once from the broadcast gazetteer per
  python worker (iterator-of-batches pattern), never per row/batch;
- ``balance_pages`` hash-partitions pages on url before the UDF; n
  defaults to the session shuffle parallelism — at 100 TB the caller
  sizes it so one partition's text fits executor memory. A giant page
  stays one task's work: measured, it does not bind (SCALE.md, skew
  inventory);
- output carries only mention rows (UDTF-shaped: one page row -> n mention
  rows), so the giant ``text``/``html`` columns are pruned immediately
  after the UDF; column pruning pushes the scan down to (url, text).

Pluggable model: any provider exposing ``find_mentions(text) ->
[(label, start, end, span)]`` works; the default is the deterministic
DictionaryMatcher surrogate (real transformer weights are absent from the
reference repo — SURVEY.md §2.9 determinism note).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions.matcher import DictionaryMatcher

MENTIONS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("span", T.StringType(), False),
    ]
)


def terms_by_label(gazetteer_pdf: pd.DataFrame) -> dict[str, list[str]]:
    """The DictionaryMatcher's broadcast payload: label -> its terms."""
    return {
        str(label): list(sub["term"])
        for label, sub in gazetteer_pdf.groupby("label")
    }


def scan_mentions(matcher, urls, texts) -> Iterator[tuple]:
    """The one page -> mention scan: ``(url, LABEL, start, end, span)``
    per mention, pages in input order and each page's mentions in the
    matcher's order. A page whose url or text is NULL has no mentions."""
    for url, text in zip(urls, texts):
        if url is None or text is None:
            continue
        for label, start, end, span in matcher.find_mentions(text):
            yield url, label.upper(), start, end, span


def balance_pages(
    projected: DataFrame, url_col: str, num_partitions: int | None
) -> DataFrame:
    """Shared pre-UDF balancing policy for the page-scale operators.

    Hash-partition on url: deterministic given (url, n), uniform for
    high-cardinality url keys, and single-pass (range partitioning would
    add a sampling scan). ``num_partitions=0`` SKIPS the shuffle entirely
    — use when the input table's storage layout is already
    url-hash-partitioned (e.g. a bucketed/partitioned Iceberg scan): at
    100 TB this avoids re-shuffling the whole corpus."""
    if num_partitions == 0:
        return projected
    n = num_partitions or int(
        projected.sparkSession.conf.get("spark.sql.shuffle.partitions", "32")
    )
    return projected.repartition(n, F.col(url_col))


class TokenClassifierMentionProvider:
    """M2 NER provider: the full token-classification lifecycle
    (M1 fragment -> classifier forward -> A3 word prob product -> F9
    argmax -> M3 IOB decode) behind the same ``find_mentions(text)``
    contract as the DictionaryMatcher — the two providers are
    interchangeable inputs to :func:`detect_mentions`.

    Reference lifecycle: `mentions_detection.py:185-241` +
    `post_process.py:619-666`; the classifier seat takes real transformer
    weights without operator changes (ModelProvider pattern)."""

    def __init__(
        self,
        classifier=None,
        label: str = "SPAN",
        seq_len: int = 128,
        converter: str = "prob_product",
        subtokenizer=None,
    ):
        from ..functions.token_classifier import HashTokenClassifier

        if converter not in ("prob_product", "crf_vote"):
            raise ValueError(f"unknown converter: {converter!r}")
        self.classifier = classifier or HashTokenClassifier()
        self.label = label
        self.seq_len = seq_len
        self.converter = converter  # A3 product vs CRF relative-freq vote
        self.subtokenizer = subtokenizer  # None -> surrogate BPE chunks

    def find_mentions(self, text: str) -> list[tuple[str, int, int, str]]:
        from ..functions.fragments import fragment_document, surrogate_subtokenize
        from ..functions.token_classifier import (
            word_tags_crf_vote,
            word_tags_from_probs,
        )
        from .iob import decode_iob_scan

        frags = fragment_document(
            text,
            seq_len=self.seq_len,
            subtokenizer=self.subtokenizer or surrogate_subtokenize,
        )
        probs = self.classifier.predict(frags)
        convert = (
            word_tags_from_probs
            if self.converter == "prob_product"
            else word_tags_crf_vote
        )
        tags, offsets = convert(frags, probs)
        return [
            (self.label, s, e, text[s:e])
            for s, e in decode_iob_scan(tags, offsets)
        ]


class MultiTypeMentionProvider:
    """Multi-entity-type NER composition (reference
    `mentions_detection.py:216-286`): ONE forward pass per entity type
    with that type's weight set, results concatenated, sorted by
    (start, end, label) with the reference's no-duplicate assert
    (`mentions_detection.py:283-286`). Here all types run inside the
    SAME Arrow-batched UDF pass — one corpus scan for N types, not N
    scans (the reference re-reads the text per type).

    ``providers``: {entity_type: provider}; each provider's own label is
    overridden by its entity type (upper-cased downstream, matching the
    reference's ``format_annotations(label=entity_type.upper())``)."""

    def __init__(self, providers: dict):
        self.providers = sorted(providers.items())  # sorted(arr_ent_type)

    def find_mentions(self, text: str) -> list[tuple[str, int, int, str]]:
        out: list[tuple[str, int, int, str]] = []
        for etype, provider in self.providers:
            out.extend(
                (etype, s, e, span)
                for _label, s, e, span in provider.find_mentions(text)
            )
        out.sort(key=lambda m: (m[1], m[2], m[0]))
        keys = [(s, e, lab) for lab, s, e, _ in out]
        if len(set(keys)) != len(keys):  # reference's duplicated() assert
            raise ValueError("duplicate (start, end, label) mention")
        return out


def detect_mentions(
    pages: DataFrame,
    gazetteer_pdf: pd.DataFrame | None = None,
    num_partitions: int | None = None,
    text_col: str = "text",
    url_col: str = "url",
    provider=None,
) -> DataFrame:
    """pages(url, text, ...) -> mentions(url, label, start, end, span).

    Labels are upper-cased on output (reference
    ``mentions_detection.py:272``). Mention key (url, start, end, label)
    is unique by construction (non-overlap per label within a doc).

    ``provider``: any object exposing ``find_mentions(text) ->
    [(label, start, end, span)]``. Two shipped providers: the gazetteer
    DictionaryMatcher surrogate (default, built from ``gazetteer_pdf``)
    and :class:`TokenClassifierMentionProvider` (the M2 model path).
    """
    spark = pages.sparkSession
    if provider is None:
        if gazetteer_pdf is None:
            raise ValueError("need gazetteer_pdf or an explicit provider")
        bc = spark.sparkContext.broadcast(("dict", terms_by_label(gazetteer_pdf)))
    else:
        bc = spark.sparkContext.broadcast(("provider", provider))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        kind, payload = bc.value  # once per python worker
        matcher = DictionaryMatcher(payload) if kind == "dict" else payload
        for pdf in batches:
            # one C-level transpose into five columns (round-6: flat
            # columns build the batch cheaper than a list of row tuples)
            rows = scan_mentions(matcher, pdf[url_col], pdf[text_col])
            cols = list(zip(*rows)) or [[]] * 5
            yield pd.DataFrame(dict(zip(MENTIONS_SCHEMA.fieldNames(), cols)))

    projected = pages.select(
        F.col(url_col).alias(url_col), F.col(text_col).alias(text_col)
    )
    # the checkpointed path's lineage counters are keyed by this stable
    # partitioning (balance_pages docstring for the policy)
    balanced = balance_pages(projected, url_col, num_partitions)
    return balanced.mapInPandas(run, schema=MENTIONS_SCHEMA)
