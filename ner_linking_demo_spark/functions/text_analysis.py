"""Text-analysis columns for corpus curation: language id, quality
scoring, token counting, fingerprinting.

All pure Catalyst column expressions (whole-stage codegen, no Python) —
these run as part of the page scan projection at 100 TB, so staying
JVM-side is non-negotiable. Each has an exact DuckDB-SQL equivalent used
by the correctness harness. The exception is the Gopher repetition
signals (Arrow-batched by design — see :func:`repetition_signals_udf`).
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny seeded stopword lists — heuristic language id (the real pipeline
# would broadcast fastText-style models via mapInPandas; this is the
# JVM-side cheap pass used for bulk filtering).
ES_STOPWORDS = [
    "el", "la", "de", "que", "y", "en", "un", "una", "los", "las",
    "del", "se", "por", "con", "para", "es", "al", "como", "su", "más",
]
EN_STOPWORDS = [
    "the", "of", "and", "to", "a", "in", "that", "is", "was", "for",
    "it", "with", "as", "his", "on", "be", "at", "by", "this", "had",
]


def tokens(text: Column) -> Column:
    """Whitespace tokens (empty-safe)."""
    return F.filter(F.split(F.trim(text), r"\s+"), lambda t: t != "")


def token_count(text: Column) -> Column:
    return F.size(tokens(text))


def bpe_ish_token_count(text: Column) -> Column:
    """Sub-word-ish token count: alternating letter-runs / digit-runs /
    single punctuation, the usual pre-BPE segmentation regex.
    ``regexp_count`` is the idiomatic count form; Spark expands it to
    ``size(regexp_extract_all(...))`` at planning time, so it is value-
    AND plan-identical to the previous explicit spelling."""
    return F.regexp_count(
        text, F.lit(r"[\p{L}]+|[\p{N}]+|[^\p{L}\p{N}\s]")
    )


def punct_ratio(text: Column) -> Column:
    # regexp_count of the single-char class == length of the all-punct
    # extraction (each punctuation char is one match) without building
    # the extracted string — value-identical for BMP text, measurably
    # cheaper on the corpus scan (round-6 optimization)
    n_punct = F.regexp_count(text, F.lit(r"\p{P}"))
    return n_punct.cast("double") / F.greatest(F.length(text), F.lit(1)).cast(
        "double"
    )


def add_profile_columns(
    docs,
    text_col: str = "text",
    n_tokens: str | None = None,
    bpe_tokens: str | None = None,
    lang: str | None = None,
    quality: str | None = None,
    fingerprint: str | None = None,
):
    """Add any subset of the scan-projection profile columns
    (token count, BPE-ish count, language id, quality heuristic,
    content fingerprint) computing each shared intermediate ONCE.

    ``lang`` is 'es' / 'en' / 'unknown' by stopword-hit majority.
    ``quality`` is a composite [0,1] heuristic: enough tokens, sane mean
    word length, low punctuation ratio, has stopwords (es or en).

    Expressions inside interpreted higher-order functions are never
    CSE'd across output columns, so the token array and a single fused
    (es, en) stopword aggregate are materialized as intermediate
    columns; because each is referenced several times by non-cheap
    consumers, CollapseProject keeps them materialized and every
    downstream column is scalar arithmetic. The ``text_analysis``
    entry's DuckDB oracle pins the values."""
    t = F.col(text_col)
    out_cols: dict[str, Column] = {}
    helpers: list[str] = []
    need_sw = lang is not None or quality is not None
    need_toks = need_sw or n_tokens is not None or quality is not None
    tmp = docs
    if need_toks:
        tmp = tmp.withColumn("_pf_toks", tokens(t))
        helpers.append("_pf_toks")
    toks = F.col("_pf_toks")
    if need_sw:
        # isin over the literal vocabulary optimizes to a hash-set
        # InSet lookup per token; counts are identical to the
        # array_contains form (plain string equality on a never-null
        # token).
        # Both counters ride ONE long accumulator — es in the low 32
        # bits, en in the high 32 — because the interpreted
        # ArrayAggregate allocates a fresh struct row per element for a
        # struct accumulator (measured ~20% of the whole aggregate);
        # the packed sum is overflow-safe (a count can't reach 2^31 —
        # that many tokens would exceed the 2 GiB string limit) and
        # handles a token present in both vocabularies exactly like
        # the struct form did.
        sw = F.aggregate(
            F.transform(toks, lambda x: F.lower(x)),
            F.lit(0).cast("long"),
            lambda acc, x: acc
            + F.when(x.isin(*ES_STOPWORDS), 1).otherwise(0)
            + F.when(
                x.isin(*EN_STOPWORDS), F.lit(4294967296).cast("long")
            ).otherwise(0),
        )
        tmp = tmp.withColumn("_pf_sw", sw)
        helpers.append("_pf_sw")
    es_hits = (
        F.col("_pf_sw").bitwiseAND(F.lit(4294967295)).cast("int")
    )
    en_hits = F.shiftrightunsigned(F.col("_pf_sw"), 32).cast("int")
    if n_tokens is not None:
        out_cols[n_tokens] = F.size(toks)
    if bpe_tokens is not None:
        out_cols[bpe_tokens] = bpe_ish_token_count(t)
    if lang is not None:
        out_cols[lang] = (
            F.when((es_hits > en_hits) & (es_hits > 0), F.lit("es"))
            .when((en_hits > es_hits) & (en_hits > 0), F.lit("en"))
            .otherwise(F.lit("unknown"))
        )
    if quality is not None:
        n = F.size(toks).cast("double")
        len_ok = F.least(n / F.lit(50.0), F.lit(1.0))
        mwl = F.aggregate(
            toks, F.lit(0).cast("long"), lambda acc, x: acc + F.length(x)
        ).cast("double") / F.greatest(F.size(toks), F.lit(1)).cast("double")
        mwl_ok = F.when((mwl >= 3.0) & (mwl <= 12.0), 1.0).otherwise(0.3)
        p_ok = F.when(punct_ratio(t) <= 0.2, 1.0).otherwise(0.3)
        sw_total = (es_hits + en_hits).cast("double")
        sw_ok = F.least(
            sw_total / F.greatest(n * F.lit(0.1), F.lit(1.0)), F.lit(1.0)
        )
        out_cols[quality] = (
            len_ok * 0.3 + mwl_ok * 0.2 + p_ok * 0.2 + sw_ok * 0.3
        )
    if fingerprint is not None:
        out_cols[fingerprint] = content_fingerprint(t)
    return tmp.withColumns(out_cols).drop(*helpers)


def content_fingerprint(text: Column) -> Column:
    """Normalization fingerprint: md5 of lowercase, whitespace-collapsed
    text — the cheap exact-dup key after cosmetic edits."""
    norm = F.regexp_replace(F.lower(F.trim(text)), r"\s+", " ")
    return F.md5(norm)


def rolling_fingerprints(text: Column, window: int = 16, every: int = 64) -> Column:
    """Sampled rolling fingerprints: md5 of each ``window``-char slice at
    stride ``every`` — a cheap containment/shift-robust signature
    (winnowing-lite). array<string>."""
    n = F.greatest(F.length(text) - window + 1, F.lit(1))
    return F.transform(
        F.sequence(F.lit(1), n, F.lit(every)),
        lambda i: F.md5(F.substring(text, i, window)),
    )


# Published thresholds from Gopher (Rae et al. 2021, "Scaling Language
# Models", Table A1): a document is REMOVED when the signal exceeds the
# threshold. Keys match the struct fields of repetition_signals_udf.
GOPHER_REPETITION_THRESHOLDS = {
    "dup_line_frac": 0.30,
    "dup_line_char_frac": 0.20,
    "top_2gram_char_frac": 0.20,
    "top_3gram_char_frac": 0.18,
    "top_4gram_char_frac": 0.16,
    "dup_5gram_char_frac": 0.15,
    "dup_6gram_char_frac": 0.14,
    "dup_7gram_char_frac": 0.13,
    "dup_8gram_char_frac": 0.12,
    "dup_9gram_char_frac": 0.11,
    "dup_10gram_char_frac": 0.10,
}


def repetition_signal_fields(
    top_ns: tuple[int, ...], dup_ns: tuple[int, ...]
) -> list[str]:
    fields = ["dup_line_frac", "dup_line_char_frac"]
    fields += [f"top_{n}gram_char_frac" for n in top_ns]
    fields += [f"dup_{n}gram_char_frac" for n in dup_ns]
    return fields


def repetition_signals_py(
    text: str,
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
) -> tuple:
    """Single-document reference implementation of the repetition
    signals — the exact computation :func:`repetition_signals_udf`
    vectorizes (the UDF maps this function over each Arrow batch), also
    used to build registration-time VALUES oracles. See the UDF
    docstring for signal definitions."""
    from collections import Counter

    out = []
    lines = [ln for ln in text.split("\n") if ln.strip()]
    if lines:
        counts = Counter(lines)
        dup_lines = sum(c for c in counts.values() if c > 1)
        dup_chars = sum(len(ln) * c for ln, c in counts.items() if c > 1)
        total_line_chars = sum(len(ln) for ln in lines)
        out.append(dup_lines / len(lines))
        out.append(dup_chars / max(total_line_chars, 1))
    else:
        out += [0.0, 0.0]

    toks = text.split()
    total_chars = max(len(text), 1)
    # char span of each token in the original text (for the cover)
    spans = []
    pos = 0
    for t in toks:
        start = text.index(t, pos)
        spans.append((start, start + len(t)))
        pos = start + len(t)

    for n in top_ns:
        if len(toks) < n:
            out.append(0.0)
            continue
        grams = Counter(
            tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)
        )
        gram, cnt = max(grams.items(), key=lambda kv: (kv[1], kv[0]))
        if cnt < 2:
            # a gram occurring once is not repetition: without this
            # guard any short doc trips the threshold on its own
            # longest 4-gram (datatrove guards identically)
            out.append(0.0)
            continue
        out.append(cnt * (sum(len(t) for t in gram) + n - 1) / total_chars)

    for n in dup_ns:
        if len(toks) < n:
            out.append(0.0)
            continue
        # build each position's gram ONCE (reused for count + cover)
        # and mark spans with C-speed slice assignment — the worst
        # case is exactly the degenerate spam this filter targets,
        # so the per-position python work must stay O(1)-ish
        grams_at = [
            tuple(toks[i : i + n]) for i in range(len(toks) - n + 1)
        ]
        grams = Counter(grams_at)
        covered = bytearray(len(text))
        for i, g in enumerate(grams_at):
            if grams[g] > 1:
                lo = spans[i][0]
                hi = spans[i + n - 1][1]
                covered[lo:hi] = b"\x01" * (hi - lo)
        out.append(sum(covered) / total_chars)
    return tuple(out)


def repetition_signals_udf(
    top_ns: tuple[int, ...] = (2, 3, 4),
    dup_ns: tuple[int, ...] = (5, 6, 7, 8, 9, 10),
):
    """Gopher-style repetition signals (Rae et al. 2021 §A1.1) in ONE
    Arrow-batched pass per document. Returns a pandas_udf:
    text -> struct with fields

    - ``dup_line_frac``: fraction of non-empty lines whose exact text
      occurs on more than one line;
    - ``dup_line_char_frac``: fraction of line characters belonging to
      such duplicated lines;
    - ``top_{n}gram_char_frac`` (n in ``top_ns``): characters of the
      single most frequent word n-gram (count x its char length) over
      the total text length; 0.0 when the top gram occurs only once
      (count>1 guard — a unique gram is not repetition, and without the
      guard every short document trips on its own longest n-gram).
      NOTE: occurrences of the top gram can
      overlap ("aa aa aa" at n=2), so this ratio is an over-count that
      may exceed 1.0 on degenerate spam — the standard reading of the
      Gopher definition (datatrove does the same); thresholds are low
      (<0.2) so the unbounded tail only makes spam MORE likely to trip;
    - ``dup_{n}gram_char_frac`` (n in ``dup_ns``): characters covered by
      ANY occurrence of an n-gram whose corpus-in-document count > 1,
      overlaps counted once (a position-cover over token char spans, the
      datatrove/NeMo-Curator reading of the Gopher definition), over the
      total text length.

    Arrow-batched rather than Catalyst HOFs for the same reason as
    ``dedup.minhash_signatures_df``:
    counting n-gram runs needs a sort + aggregate per row, and nested
    interpreted HOFs measured ~10x slower than the python loop for plain
    shingling. One Counter pass per (doc, n) is O(tokens) and the whole
    struct rides a single scan projection — no shuffle at 100 TB.

    The word-salad test fixtures have no newlines; the line signals are
    exercised by dedicated multi-line fixtures in tests.
    """
    for n in (*top_ns, *dup_ns):
        if n < 1:
            raise ValueError("n-gram sizes must be >= 1")

    fields = repetition_signal_fields(top_ns, dup_ns)
    schema = ", ".join(f"{f} double" for f in fields)

    @F.pandas_udf(schema)
    def signals(text: pd.Series) -> pd.DataFrame:
        rows = [
            repetition_signals_py(t, top_ns, dup_ns)
            if t is not None
            else tuple(0.0 for _ in fields)
            for t in text
        ]
        return pd.DataFrame(rows, columns=fields)

    return signals


def gopher_repetition_filter(
    docs,
    text_col: str = "text",
    thresholds: dict[str, float] | None = None,
    keep_signals: bool = False,
):
    """Drop documents failing ANY Gopher repetition threshold (signal >
    threshold => removed). ``thresholds`` defaults to the published
    Gopher Table-A1 values (GOPHER_REPETITION_THRESHOLDS); pass a subset
    to filter on fewer signals. One scan, one Arrow projection, zero
    shuffle — composes with run_corpus_pipeline's filter stage.

    With ``keep_signals=True`` the struct column ``repetition`` stays on
    the output for diagnostics; default drops it."""
    th = GOPHER_REPETITION_THRESHOLDS if thresholds is None else thresholds
    unknown = set(th) - set(GOPHER_REPETITION_THRESHOLDS)
    if unknown:
        raise ValueError(f"unknown repetition signals: {sorted(unknown)}")
    top_ns = tuple(
        sorted(
            int(k.split("_")[1][:-4]) for k in th if k.startswith("top_")
        )
    )
    dup_ns = tuple(
        sorted(
            int(k.split("_")[1][:-4])
            for k in th
            if k.startswith("dup_") and k.endswith("gram_char_frac")
        )
    )
    udf = repetition_signals_udf(top_ns=top_ns, dup_ns=dup_ns)
    out = docs.withColumn("repetition", udf(F.col(text_col)))
    cond = F.lit(True)
    for key, lim in th.items():
        cond = cond & (F.col(f"repetition.{key}") <= F.lit(float(lim)))
    out = out.filter(cond)
    return out if keep_signals else out.drop("repetition")

