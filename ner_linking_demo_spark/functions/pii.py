"""PII scrubbing — regex redaction of emails / IPv4 addresses / phone
numbers, the C4/RefinedWeb-style pre-training hygiene pass.

Reference scope note: the reference pipeline (guilopgar/ner-linking-demo)
has no corpus layer; this is a training-data extension (SURVEY.md
§2.11). Published pretraining pipelines scrub obvious PII before
training (C4 dropped pages on a badword list; RefinedWeb and Dolma
regex-redact emails/IP/phones) — this module is that pass, kept
deliberately JVM-side:

- **All codegen, no UDF**: redaction is a chain of ``regexp_replace``
  and counting is ``regexp_count`` — both whole-stage-codegen
  expressions that ride the corpus scan with zero shuffle and zero
  Python. At 10^12 docs this stage is free compared to anything
  Arrow-batched.
- **Pattern contract**: patterns use the portable regex subset (no
  lookaround, no backrefs) so the SAME pattern strings run identically
  under Java regex (Spark) and RE2 (DuckDB oracle, Go tooling).
- **Order matters and is fixed**: email before ip before phone, so a
  longer match can never be partially consumed by a later, shorter
  pattern (an email's host is never re-matched as a bare domain).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# insertion order IS redaction order
PII_PATTERNS: dict[str, str] = {
    # local@host.tld — case-insensitive via explicit classes (portable:
    # no inline (?i) needed, RE2 and Java agree on plain classes)
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    # dotted quad; \b keeps version strings like 1.2.3 unmatched unless
    # they really are 4 octets
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    # E.164-ish international form: +country then 7-15 digits
    "phone": r"\+\d{7,15}\b",
}


def redaction_token(kind: str) -> str:
    return f"<{kind.upper()}>"


def pii_present(
    text: Column, patterns: dict[str, str] | None = None
) -> Column:
    """True iff ANY of the patterns matches ``text`` (NULL text -> NULL)
    — one alternation scan. Because the pattern contract forbids
    backrefs (group renumbering under alternation would break them), a
    per-pattern match at any position is also an alternation match
    there, so ``pii_present == false`` proves every ``regexp_replace``
    in :func:`redact_pii` is the identity and every count is 0."""
    combined = "|".join(
        f"(?:{p})" for p in (patterns or PII_PATTERNS).values()
    )
    return text.rlike(combined)


def redact_pii(
    text: Column, patterns: dict[str, str] | None = None
) -> Column:
    """``text`` with every PII match replaced by its ``<KIND>`` token —
    one codegen projection."""
    out = text
    for kind, pat in (patterns or PII_PATTERNS).items():
        out = F.regexp_replace(out, pat, redaction_token(kind))
    return out


def pii_counts(
    text: Column, patterns: dict[str, str] | None = None
) -> dict[str, Column]:
    """{kind: count column} of PII matches in ``text`` (NULL text
    counts 0) — the per-doc audit columns a scrubbing report
    aggregates. Counted on the ORIGINAL text, so counts are
    independent of redaction order."""
    return {
        kind: F.coalesce(
            F.regexp_count(text, F.lit(pat)), F.lit(0)
        ).cast("int")
        for kind, pat in (patterns or PII_PATTERNS).items()
    }


def scrub_pii(
    docs,
    text_col: str = "text",
    patterns: dict[str, str] | None = None,
    keep_counts: bool = False,
):
    """Replace ``text_col`` with its redacted form; with
    ``keep_counts`` also add ``n_<kind>`` audit columns. Pure scan
    projection either way.

    A single :func:`pii_present` alternation scan gates the per-kind
    replace/count passes (round-6, guide §1.2 order-2): clean docs —
    the overwhelming majority of a curated corpus — pay ONE regex scan
    instead of ``2 * len(patterns)``; docs with a hit pay one extra.
    Values are identical by the no-backrefs contract (see
    ``pii_present``); NULL text stays NULL / counts 0 on both paths.
    The hit flag is materialized as a helper column so the shared scan
    is not re-inlined per consumer (CollapseProject keeps multi-
    referenced non-cheap expressions materialized)."""
    pats = patterns or PII_PATTERNS
    t = F.col(text_col)
    hit = pii_present(t, pats)
    if patterns is None or patterns == PII_PATTERNS:
        # near-free character pre-check, a provable superset of the
        # DEFAULT patterns only (custom patterns skip it): an email
        # match always contains '@', a phone match always contains '+',
        # and an IPv4 match always contains digit-dot-digit. SQL AND
        # short-circuits, so the alternation scan runs only on docs
        # that pass this test (decimal-heavy text still gets filtered
        # precisely by the alternation before paying the full chain).
        cheap = (
            t.contains("@") | t.contains("+") | t.rlike(r"[0-9]\.[0-9]")
        )
        hit = cheap & hit
    # helper column named apart from every caller column (Spark resolves
    # names case-insensitively), so none is overwritten and dropped
    taken = {c.lower() for c in docs.columns}
    hit_col = "_pii_hit"
    while hit_col in taken:
        hit_col = "_" + hit_col
    tmp = docs.withColumn(hit_col, hit)
    hit = F.col(hit_col)
    cols = {text_col: F.when(hit, redact_pii(t, pats)).otherwise(t)}
    if keep_counts:
        zero = F.lit(0).cast("int")
        for kind, c in pii_counts(t, pats).items():
            cols[f"n_{kind}"] = F.when(hit, c).otherwise(zero)
    return tmp.withColumns(cols).drop(hit_col)
