"""Distributed html -> text extraction (input_hint: ``text`` is
*defined* as the deterministic extraction of ``html``, and the north
rule requires the extracted text to be BYTE-IDENTICAL per url — the
pipeline must never re-encode it).

:func:`extract_text_expr` is pure Catalyst: binary ``substring`` is
byte-addressed and UTF-8 ``decode`` is exact, so the whole extraction
runs inside whole-stage codegen with no Python in the loop. Rows that
are not valid fixture documents yield NULL (filterable), mirroring the
driver-side extractor's (``sources.fixtures.extract_text_from_html``)
ValueError.

Byte-identity is enforced by :func:`verify_text_fidelity` (count of rows
whose stored ``text`` differs from re-extraction — must be 0) and tested
against the driver-side extractor across the generated corpus in
tests/test_round3.py.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..sources.fixtures import _HTML_PREFIX, _HTML_SUFFIX


def extract_text_expr(html: Column | str) -> Column:
    """Native extraction: validate the envelope with byte-exact prefix /
    suffix compares, then slice + decode. NULL for non-fixture bytes."""
    h = F.col(html) if isinstance(html, str) else html
    p, s = len(_HTML_PREFIX), len(_HTML_SUFFIX)
    valid = (
        (F.length(h) >= F.lit(p + s))
        & (F.substring(h, 1, p) == F.lit(bytearray(_HTML_PREFIX)))
        & (
            F.substring(h, -s, s) == F.lit(bytearray(_HTML_SUFFIX))
        )
    )
    body = F.substring(h, p + 1, F.length(h) - F.lit(p + s))
    return F.when(valid, F.decode(body, "UTF-8"))


def verify_text_fidelity(
    pages: DataFrame, html_col: str = "html", text_col: str = "text"
) -> int:
    """Number of rows violating the byte-identity invariant (stored text
    != native re-extraction of html). Must be 0; a distributed count, no
    collect."""
    return pages.filter(
        ~extract_text_expr(html_col).eqNullSafe(F.col(text_col))
    ).count()
