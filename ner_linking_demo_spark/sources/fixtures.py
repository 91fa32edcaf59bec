"""Deterministic synthetic fixtures: Common-Crawl-style ``pages`` and a
SNOMED-ish ``gazetteer`` (FIXTURES.md §1-2). Seeded; no external data.

``pages`` schema is the authoritative input shape from BASELINE.json's
``input_hint``: (url string, warc_ts timestamp, html binary, text string,
lang string). ``text`` is *defined* as ``extract_text_from_html(html)`` —
the byte-identity invariant the pipeline must preserve per url.

Skew knobs (north_rule: "skew from hot entities and giant pages"):
- ``hot_terms``: a handful of gazetteer terms planted in a large fraction
  of pages (hot entity keys downstream: candidate/code aggregations);
- ``giant_every``: every n-th page is ~100x median length (straggler
  pressure on the NER UDF; motivates repartitionByRange on url hash).

One fixture page carries the verbatim Spanish clinical case from the
reference demo (`/root/reference/examples/text.txt`) so the golden test
reproduces the shape of `server/data/mentions.tsv`; the text is loaded
from the reference checkout when present, else from the copy embedded in
tests (the fixture generator itself stays data-free).
"""

from __future__ import annotations

import datetime as dt
import random

import pandas as pd

SEED = 42

_HTML_PREFIX = b"<html><head><meta charset=\"utf-8\"></head><body><article>"
_HTML_SUFFIX = b"</article></body></html>"

# Syllable inventory for synthetic Spanish-ish vocabulary. Includes
# multi-byte unicode (accents, n-tilde) to exercise offset fidelity
# (FIXTURES.md §1 content rule).
_SYLLABLES = [
    "ca", "que", "mi", "to", "pa", "dré", "lo", "sa", "ñi", "ver",
    "tu", "ra", "gás", "bi", "den", "fle", "mo", "rrí", "zu", "tal",
]
_FILLER = [
    "el", "paciente", "presenta", "una", "evolución", "favorable", "con",
    "tratamiento", "de", "la", "zona", "afectada", "y", "control",
    "periódico", "según", "protocolo", "clínico", "habitual", "sin",
]
_TAGS = {"disease": "trastorno", "procedure": "procedimiento"}


def extract_text_from_html(html: bytes) -> str:
    """The deterministic text extractor. ``pages.text`` must equal this for
    every row — the pipeline never re-encodes text (byte-identity
    invariant, BASELINE.json input_hint)."""
    if not (html.startswith(_HTML_PREFIX) and html.endswith(_HTML_SUFFIX)):
        raise ValueError("not a fixture html document")
    return html[len(_HTML_PREFIX) : -len(_HTML_SUFFIX)].decode("utf-8")


def wrap_html(text: str) -> bytes:
    return _HTML_PREFIX + text.encode("utf-8") + _HTML_SUFFIX


def _word(rng: random.Random, n_syll: int) -> str:
    return "".join(rng.choice(_SYLLABLES) for _ in range(n_syll))


def gen_gazetteer(
    n_codes: int = 200,
    seed: int = SEED,
    labels: tuple[str, ...] = ("disease", "procedure"),
    ambiguous_frac: float = 0.08,
    extra_terms: dict[str, list[tuple[str, str]]] | None = None,
) -> pd.DataFrame:
    """Synthetic alias dictionary.

    Columns: label, code, term, semantic_tag, mainterm, language.
    ~1-6 synonyms per code; ``ambiguous_frac`` of terms are re-attached to a
    second code (exercises the seeded disambiguation A1); synonym sharing
    creates alias clusters for connected-components canonicalization.
    ``extra_terms``: label -> [(code, term)] to plant known vocabulary
    (e.g. the clinical-case golden terms).
    """
    rng = random.Random(seed)
    rows: list[dict] = []
    for label_i, label in enumerate(labels):
        codes = [
            str(100000000 + label_i * 50000000 + i * 13) for i in range(n_codes)
        ]
        seen_pairs: set[tuple[str, str]] = set()
        all_terms: list[tuple[str, str]] = []  # (code, term)
        for code in codes:
            n_syn = rng.randint(1, 6)
            base = _word(rng, rng.randint(2, 4))
            for s in range(n_syn):
                if s == 0:
                    term = base
                elif s == 1 and rng.random() < 0.5:
                    term = base + " " + _word(rng, 2)  # multiword variant
                else:
                    term = _word(rng, rng.randint(2, 4))
                if (code, term) in seen_pairs:
                    continue
                seen_pairs.add((code, term))
                all_terms.append((code, term))
                rows.append(
                    {
                        "label": label,
                        "code": code,
                        "term": term,
                        "semantic_tag": _TAGS.get(label, label),
                        "mainterm": s == 0,
                        "language": "es",
                    }
                )
        # ambiguity: re-attach some terms to a different code
        n_amb = int(len(all_terms) * ambiguous_frac)
        for code, term in rng.sample(all_terms, n_amb):
            other = rng.choice(codes)
            if other != code and (other, term) not in seen_pairs:
                seen_pairs.add((other, term))
                rows.append(
                    {
                        "label": label,
                        "code": other,
                        "term": term,
                        "semantic_tag": _TAGS.get(label, label),
                        "mainterm": False,
                        "language": "es",
                    }
                )
    for label, pairs in (extra_terms or {}).items():
        for code, term in pairs:
            rows.append(
                {
                    "label": label,
                    "code": code,
                    "term": term,
                    "semantic_tag": _TAGS.get(label, label),
                    "mainterm": True,
                    "language": "es",
                }
            )
    df = pd.DataFrame(rows).drop_duplicates(["label", "code", "term"])
    return df.reset_index(drop=True)


def gen_pages(
    n_pages: int = 100,
    seed: int = SEED,
    gazetteer: pd.DataFrame | None = None,
    hot_terms: int = 3,
    hot_frac: float = 0.4,
    giant_every: int = 50,
    n_hosts: int = 7,
    extra_texts: list[str] | None = None,
) -> pd.DataFrame:
    """Synthetic Common-Crawl-style pages planting gazetteer terms at known
    offsets among distractor sentences.

    Columns: url, warc_ts, html, text, lang. ``extra_texts`` are prepended
    verbatim as the first pages (golden documents)."""
    rng = random.Random(seed + 1)
    terms = (
        list(gazetteer["term"]) if gazetteer is not None else [_word(rng, 3)]
    )
    hot = terms[:hot_terms]
    epoch = dt.datetime(2024, 5, 1, tzinfo=dt.timezone.utc)

    texts: list[str] = list(extra_texts or [])
    for i in range(n_pages - len(texts)):
        n_sent = rng.randint(3, 8)
        if giant_every and i > 0 and i % giant_every == 0:
            n_sent *= 100  # giant page
        sents = []
        for _ in range(n_sent):
            words = [rng.choice(_FILLER) for _ in range(rng.randint(4, 9))]
            if rng.random() < 0.6:
                t = (
                    rng.choice(hot)
                    if hot and rng.random() < hot_frac
                    else rng.choice(terms)
                )
                pos = rng.randint(0, len(words))
                words[pos:pos] = [t]
            sent = " ".join(words)
            sents.append(sent[0].upper() + sent[1:] + ".")
        texts.append(" ".join(sents))

    rows = []
    for i, text in enumerate(texts):
        rows.append(
            {
                "url": f"https://site{i % n_hosts}.example/doc/{i}",
                "warc_ts": epoch + dt.timedelta(seconds=i * 37),
                "html": wrap_html(text),
                "text": text,
                "lang": "es",
            }
        )
    df = pd.DataFrame(rows)
    assert (df["text"] == df["html"].map(extract_text_from_html)).all()
    return df


def pages_spark_schema():
    from pyspark.sql import types as T

    return T.StructType(
        [
            T.StructField("url", T.StringType(), False),
            T.StructField("warc_ts", T.TimestampType(), True),
            T.StructField("html", T.BinaryType(), True),
            T.StructField("text", T.StringType(), True),
            T.StructField("lang", T.StringType(), True),
        ]
    )


def pages_to_spark(spark, pages_pdf: pd.DataFrame):
    return spark.createDataFrame(pages_pdf, schema=pages_spark_schema())

