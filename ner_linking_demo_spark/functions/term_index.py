"""Broadcastable exact nearest-neighbour term index (reference J5/M5).

The reference builds a FAISS ``IndexFlatIP`` over L2-normalized gazetteer
term embeddings and searches it per mention (`/root/reference/server/
linking/src/candidates/faisslm.py:108-158, 186-266`). ``IndexFlatIP`` is
*exact* brute-force inner product — numerically identical to a numpy
matmul — so this engine represents the index as a plain float32 matrix:

- no native-library dependency (faiss is absent from this image; when
  available, ``search`` can be swapped for a faiss call with identical
  results — the import is try-gated);
- the matrix serializes cheaply into a Spark broadcast, deserializing once
  per executor python worker (iterator-of-batches UDF pattern);
- one matmul per Arrow batch fixes the reference's per-query search loop
  (``faisslm.py:205-209``), which missed FAISS's own batch API
  (SURVEY.md §4).

Order-sensitive semantics reproduced exactly:
- term ordinals = position in ``sorted(term2code.keys())``
  (``faisslm.py:45``);
- ``max_n_texts`` = sum of the synonym-set sizes of the k codes with the
  most synonyms (``faisslm.py:50-69``, A6);
- retrieval order = score desc; ties broken by ascending term ordinal
  (FAISS FlatIP insertion-id order) — made explicit here, on float64
  scores so the order cannot depend on float32 BLAS rounding.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from .embedder import HashEmbedder, l2_normalize
from .gazetteer import disambiguate_terms

try:  # pragma: no cover - faiss absent in this image
    import faiss  # noqa: F401

    HAVE_FAISS = True
except ImportError:
    HAVE_FAISS = False


@dataclass
class TermIndex:
    """Exact-IP term index for one entity type."""

    label: str
    terms: list[str]  # sorted decorated terms; ordinal = list position
    codes: list[str]  # canonical code per term (post-disambiguation)
    matrix: np.ndarray  # float32 [n_terms, dim], L2-normalized
    k: int
    max_n_texts: int
    dim: int = field(init=False)

    def __post_init__(self) -> None:
        self.dim = int(self.matrix.shape[1])

    def search(self, queries: np.ndarray, top_n: int | None = None):
        """Batch exact IP search. Returns (scores, ids) float32/int64
        arrays of shape [n_queries, top_n], ordered by score desc with
        ascending-id tie-break.

        The ranking is independent of the batch a query arrives in and
        of the BLAS kernel: a float32 matmul only screens. Every term
        within ``2 * dim * eps32`` of a row's top_n-th screen score (above
        the float32 dot-product error bound for unit vectors, so no true
        top_n term can fall outside it) is rescored in float64 from the
        stored float32 vectors, one row-wise product per (query, term)
        pair, and ranked by (float64 score desc, ordinal asc). Scores are
        emitted as ``float32(score64)``."""
        top_n = min(top_n or self.max_n_texts, len(self.terms))
        q = np.asarray(queries, dtype=np.float32)
        screen = q @ self.matrix.T  # [q, n_terms]
        n_q, n_terms = screen.shape
        if n_q == 0 or top_n == 0:
            return (
                np.zeros((n_q, top_n), np.float32),
                np.zeros((n_q, top_n), np.int64),
            )
        kth = np.partition(screen, n_terms - top_n, axis=1)[:, n_terms - top_n]
        margin = 2 * self.dim * np.finfo(np.float32).eps
        rows, cols = np.nonzero(screen >= (kth - margin)[:, None])
        s64 = (q[rows].astype(np.float64) * self.matrix[cols]).sum(axis=1)
        # rows ascending, then score desc, then ordinal asc; every row
        # keeps >= top_n terms, so its first top_n pairs are its answer
        order = np.lexsort((cols, -s64, rows))
        counts = np.bincount(rows, minlength=n_q)
        starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
        pick = order[starts[:, None] + np.arange(top_n)]
        return s64[pick].astype(np.float32), cols[pick].astype(np.int64)


def max_n_texts_for(term2code: dict[str, str], k: int) -> int:
    """A6: number of neighbours needed to guarantee k distinct codes =
    sum of synonym counts of the k codes with most synonyms
    (``faisslm.py:50-69``)."""
    counts: dict[str, int] = {}
    for code in term2code.values():
        counts[code] = counts.get(code, 0) + 1
    return int(sum(sorted(counts.values(), reverse=True)[:k]))


def build_term_index(
    gaz_pdf,
    label: str,
    k: int = 3,
    embedder: HashEmbedder | None = None,
) -> TermIndex:
    """Build the per-entity-type index from the gazetteer dimension table
    (pandas; this is a driver-side dim-table build, then broadcast).

    ``gaz_pdf`` columns: label, code, term, semantic_tag, mainterm, language.
    """
    embedder = embedder or HashEmbedder()
    sub = gaz_pdf[gaz_pdf["label"] == label]
    term2code = disambiguate_terms(sub)
    terms = sorted(term2code.keys())
    codes = [term2code[t] for t in terms]
    matrix = l2_normalize(embedder.encode(terms))
    return TermIndex(
        label=label,
        terms=terms,
        codes=codes,
        matrix=matrix,
        k=k,
        max_n_texts=max_n_texts_for(term2code, k),
    )
