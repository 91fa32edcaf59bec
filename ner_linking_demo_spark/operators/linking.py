"""Entity-linking stage: mentions -> k-distinct codes, in one kernel.

Spark-first re-expression of the reference linking batch
(`/root/reference/server/linking/scripts/mentions_normalization.py:92-171`
+ `server/linking/src/candidates/faisslm.py:186-266`). Every KG plan links
through ONE kernel, :func:`_link_spans`: per Arrow batch and label, embed
each distinct span (M4), exact-IP search the broadcast term index
(M5/J5), optionally rescore with a reranker, and keep the first k
distinct codes (W3, the reference's per-mention OrderedDict loop):

    link_mentions   mentions -> linked   (fine checkpointed)
    detect_and_link pages    -> linked   (NER in the same UDF: fused,
                                          no-checkpoint and coarse)

Both take the same ``reranker`` argument.

Plan shape: Scan -> PythonMapInArrow. ``link_mentions`` adds no exchange;
``detect_and_link`` adds only the page repartition before its UDF. Each
stage crosses the Python boundary once.

The exploded candidate relation the rerank operators consume
(operators/rerank.py) comes from ONE operator, :func:`candidates_operator`.
Each generator is a ``retrieve`` function over it: ``knn_candidates``
(through the kernel's own distinct-span search,
:func:`search_distinct_spans`) and, in operators/candidates.py, code
centroids, BM25 and TF-IDF.

Scale posture:
- the term index (float32 matrix + term/code arrays) is a Spark broadcast,
  deserialized once per executor python worker; SNOMED-scale vocabularies
  are tens of MB — always the broadcast side;
- one matmul per Arrow batch (fixes the reference's per-query search loop,
  ``faisslm.py:205-209``), ranked batch-independently
  (``TermIndex.search``), so codes never depend on batch composition.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ..functions.embedder import HashEmbedder, l2_normalize
from ..functions.matcher import DictionaryMatcher
from ..functions.term_index import TermIndex, build_term_index
from .ner import balance_pages, scan_mentions, terms_by_label
from .rerank import pair_scores, reranker_scorer


def empty_pandas(schema: T.StructType) -> pd.DataFrame:
    """Schema-stable AND type-stable empty frame for UDF yields.

    ``pd.DataFrame({name: []})`` defaults every column to float64, and
    Arrow cannot convert an empty float64-backed column to an ARRAY
    target type ("NumPyConverter doesn\'t implement list<...>"), so a
    mapInPandas batch that produced zero rows — e.g. a partition whose
    pages carry no mentions — crashed serialization for any schema with
    array columns. Object dtype for nested/string columns keeps the
    Arrow conversion on the generic path for every Spark type.
    """
    def dtype(f):
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType,
                                   T.StringType, T.BinaryType)):
            return object
        if isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            return "float64"
        return "int64"

    return pd.DataFrame(
        {f.name: pd.Series([], dtype=dtype(f)) for f in schema.fields}
    )


CANDIDATES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("span", T.StringType(), False),
        T.StructField("rank", T.IntegerType(), False),
        T.StructField("term", T.StringType(), False),
        T.StructField("code", T.StringType(), False),
        T.StructField("score", T.FloatType(), False),
    ]
)


def build_indexes(
    gazetteer_pdf: pd.DataFrame, k: int = 3, embedder: HashEmbedder | None = None
) -> dict[str, TermIndex]:
    """One exact-IP term index per entity type (upper-cased label key,
    matching the mentions table)."""
    embedder = embedder or HashEmbedder()
    return {
        str(label).upper(): build_term_index(
            gazetteer_pdf, str(label), k=k, embedder=embedder
        )
        for label in sorted(set(gazetteer_pdf["label"]))
    }


def candidates_operator(
    mentions: DataFrame,
    indexes: dict,
    retrieve: Callable[[object, np.ndarray], tuple[np.ndarray, np.ndarray]],
) -> DataFrame:
    """THE candidate-generation operator: mentions -> exploded candidates,
    one row per (mention, retrieved term), ``rank`` 0..n-1 in retrieval
    order. Every generator (kNN, code centroids, BM25, TF-IDF) is only a
    ``retrieve(index, spans) -> (scores [m, n], ids [m, n])`` over one
    label's spans; ``ids`` index ``index.terms``/``index.codes``.

    The index dict is broadcast; each Arrow batch is grouped by label
    (sorted) and labels without an index are dropped."""
    bc = mentions.sparkSession.sparkContext.broadcast(indexes)

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idxs = bc.value  # once per python worker
        for pdf in batches:
            outs = []
            for label, sub in pdf.groupby("label", sort=True):
                index = idxs.get(str(label))
                if index is None:
                    continue
                scores, ids = retrieve(index, sub["span"].to_numpy(dtype=object))
                m, n = ids.shape
                flat = ids.reshape(-1)
                cols = {
                    c: np.repeat(sub[c].to_numpy(), n)
                    for c in ("url", "label", "start", "end", "span")
                }
                cols["rank"] = np.tile(np.arange(n, dtype=np.int32), m)
                cols["term"] = np.asarray(index.terms, dtype=object)[flat]
                cols["code"] = np.asarray(index.codes, dtype=object)[flat]
                cols["score"] = scores.reshape(-1).astype(np.float32)
                outs.append(pd.DataFrame(cols))
            yield pd.concat(outs) if outs else empty_pandas(CANDIDATES_SCHEMA)

    return mentions.mapInPandas(run, schema=CANDIDATES_SCHEMA)


def search_distinct_spans(
    spans, index: TermIndex, emb: HashEmbedder, top_n: int | None = None
):
    """Embed + exact-IP search each DISTINCT span once (round-6: mention
    surface forms repeat massively across a corpus, and the result is a
    pure function of the span). Returns ``(uniq, scores, ids, inv)``:
    the distinct spans, their [u, top_n] search result (``top_n=None``:
    the index's ``max_n_texts``), and the inverse index that expands it
    back to ``spans``' rows."""
    uniq, inv = np.unique(np.asarray(spans, dtype=object), return_inverse=True)
    queries = l2_normalize(emb.encode(list(uniq)))
    scores, ids = (
        index.search(queries) if top_n is None else index.search(queries, top_n)
    )
    return uniq, scores, ids, inv


def distinct_span_retrieve(emb: HashEmbedder, top_n: int | None = None):
    """``retrieve`` of the embedding generators (kNN, code centroids):
    :func:`search_distinct_spans` expanded back to one row per span."""

    def retrieve(index: TermIndex, spans: np.ndarray):
        _, scores, ids, inv = search_distinct_spans(spans, index, emb, top_n)
        return scores[inv], ids[inv]

    return retrieve


def knn_candidates(
    mentions: DataFrame,
    indexes: dict[str, TermIndex],
    embedder: HashEmbedder | None = None,
) -> DataFrame:
    """mentions -> exploded candidates (one row per mention x neighbour,
    rank 0..max_n_texts-1 in similarity order, ties by term ordinal)."""
    return candidates_operator(
        mentions, indexes, distinct_span_retrieve(embedder or HashEmbedder())
    )


LINKED_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("start", T.IntegerType(), False),
        T.StructField("end", T.IntegerType(), False),
        T.StructField("label", T.StringType(), False),
        T.StructField("span", T.StringType(), False),
        T.StructField("codes", T.ArrayType(T.StringType()), False),
        T.StructField("scores", T.ArrayType(T.FloatType()), False),
    ]
)


def _link_spans(
    spans, index: TermIndex, emb: HashEmbedder, kk: int, scorer=None
) -> tuple[list, list]:
    """THE linking kernel. Per-row (codes, scores) lists for ``spans``:
    embed + exact-IP search + the W3 scan (reference
    ``faisslm.py:219-248``: walk candidates in similarity order, keep the
    first ``kk`` distinct codes, each with the score at its first
    occurrence), computed once per DISTINCT span
    (:func:`search_distinct_spans`).

    ``scorer`` (a reranker's pair scorer, operators/rerank.py) rescores
    each span's retrieved candidates with ``pair_scores`` and sorts them
    stably by (rerank score desc, retrieval rank asc) before the scan,
    so the kept scores are rerank scores (the reference's rerank variant
    keeps all candidates, `crossencoder_ranker.py:162-180`)."""
    uniq, scores, ids, inv = search_distinct_spans(spans, index, emb)
    if scorer is not None:
        terms = np.asarray(index.terms, dtype=object)[ids]
        scores = pair_scores(
            scorer, np.repeat(uniq, ids.shape[1]), terms.reshape(-1)
        ).reshape(ids.shape)
        order = np.argsort(-scores, axis=1, kind="stable")
        scores = np.take_along_axis(scores, order, axis=1)
        ids = np.take_along_axis(ids, order, axis=1)
    codes_arr = np.asarray(index.codes, dtype=object)
    u_codes, u_scores = [], []
    for r in range(scores.shape[0]):
        row_codes = codes_arr[ids[r]]
        seen: dict[str, float] = {}
        for j in range(len(row_codes)):
            c = row_codes[j]
            if c not in seen:
                seen[c] = float(scores[r, j])
                if len(seen) >= kk:
                    break
        u_codes.append(list(seen.keys()))
        u_scores.append(np.array(list(seen.values()), dtype=np.float32))
    return [u_codes[i] for i in inv], [u_scores[i] for i in inv]


def _link_frame(
    groups, idxs: dict[str, TermIndex], emb, kk: int, scorer=None
) -> pd.DataFrame:
    """One Arrow batch of linked rows: ``groups`` yields (label, columns
    url/start/end/span) and each label's spans run through
    :func:`_link_spans`; labels without an index are dropped."""
    outs = []
    for lab, cols in groups:
        index = idxs.get(lab)
        if index is None:
            continue
        codes_col, scores_col = _link_spans(
            cols["span"], index, emb, kk, scorer=scorer
        )
        outs.append(
            pd.DataFrame(
                {
                    "url": cols["url"],
                    "start": cols["start"],
                    "end": cols["end"],
                    "label": lab,
                    "span": cols["span"],
                    "codes": codes_col,
                    "scores": scores_col,
                }
            )
        )
    return pd.concat(outs) if outs else empty_pandas(LINKED_SCHEMA)


def detect_and_link(
    pages: DataFrame,
    gazetteer_pdf: pd.DataFrame,
    indexes: dict[str, TermIndex],
    k: int,
    embedder: HashEmbedder | None = None,
    num_partitions: int | None = None,
    url_col: str = "url",
    text_col: str = "text",
    reranker: str | None = None,
) -> DataFrame:
    """Single-UDF plan: pages -> linked mentions in ONE python roundtrip
    (NER matcher + embed + exact-IP search + k-distinct scan per Arrow
    batch). Halves python-worker count and removes the intermediate
    mention Arrow transfer vs chaining two mapInPandas operators — the
    plan when stage checkpointing is off and the coarse checkpointed
    stage. Result-identical to detect_mentions |> link_mentions, with
    the same ``reranker`` argument (tested)."""
    scorer = reranker_scorer(reranker)
    spark = pages.sparkSession
    embedder = embedder or HashEmbedder()
    bc = spark.sparkContext.broadcast(
        (terms_by_label(gazetteer_pdf), indexes, embedder, k, scorer)
    )

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tbl, idxs, emb, kk, sc = bc.value
        matcher = DictionaryMatcher(tbl)
        for pdf in batches:
            # accumulate per-label COLUMNS directly (round-6): the
            # intermediate list-of-tuples DataFrame + pandas groupby +
            # per-group copy() cost more than the model work for a
            # dimension-sized vocabulary; mention order within the
            # batch is not part of the contract (downstream consumers
            # aggregate or explode)
            per: dict[str, tuple[list, list, list, list]] = {}
            for url, lab, start, end, span in scan_mentions(
                matcher, pdf[url_col], pdf[text_col]
            ):
                cols = per.get(lab)
                if cols is None:
                    cols = per[lab] = ([], [], [], [])
                cols[0].append(url)
                cols[1].append(start)
                cols[2].append(end)
                cols[3].append(span)
            groups = (
                (lab, dict(zip(("url", "start", "end", "span"), per[lab])))
                for lab in sorted(per)
            )
            yield _link_frame(groups, idxs, emb, kk, scorer=sc)

    projected = pages.select(url_col, text_col)
    # shared policy with detect_mentions (=0 trusts the storage layout)
    balanced = balance_pages(projected, url_col, num_partitions)
    return balanced.mapInPandas(run, schema=LINKED_SCHEMA)


def link_mentions(
    mentions: DataFrame,
    indexes: dict[str, TermIndex],
    k: int,
    embedder: HashEmbedder | None = None,
    reranker: str | None = None,
) -> DataFrame:
    """Linking stage: mentions -> (mention key, span, codes, scores),
    codes ordered by first occurrence (reference output contract:
    ``mentions_normalization.py:158-161``). One mapInPandas over
    :func:`_link_spans` per label group of each Arrow batch — no
    exchange.

    ``reranker``: None (retrieval order, the demo path), 'crossencoder'
    or 'biencoder' — reorder ALL retrieved candidates by the reranker's
    pair score before the k-distinct scan."""
    scorer = reranker_scorer(reranker)
    spark = mentions.sparkSession
    embedder = embedder or HashEmbedder()
    bc = spark.sparkContext.broadcast((indexes, embedder, k, scorer))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        idxs, emb, kk, sc = bc.value
        for pdf in batches:
            groups = (
                (str(label), sub)
                for label, sub in pdf.groupby("label", sort=True)
            )
            yield _link_frame(groups, idxs, emb, kk, scorer=sc)

    return mentions.mapInPandas(run, schema=LINKED_SCHEMA)
