"""PII scrubbing: redaction exactness, count audit columns, pattern
portability (Java regex vs DuckDB RE2 agree on every pattern), NULL
safety, and the pure-projection plan property."""

from __future__ import annotations

import duckdb
from pyspark.sql import functions as F

from ner_linking_demo_spark.functions.pii import (
    PII_PATTERNS,
    pii_counts,
    redact_pii,
    scrub_pii,
)

ROWS = [
    (0, "write to john.doe+spam@example.co.uk for details"),
    (1, "server at 192.168.1.254 answered, backup at 10.0.0.1"),
    (2, "call +14155550123 or +442071838750 today"),
    (3, "mixed: a@b.io from 8.8.8.8 dial +15551234567 now"),
    (4, "clean text with no pii at all, version 1.2.3 stays"),
    (5, None),
]


def _df(spark):
    return spark.createDataFrame(ROWS, "doc_id long, text string")


def test_redaction_exact(spark):
    got = {
        r["doc_id"]: r["red"]
        for r in _df(spark)
        .select("doc_id", redact_pii(F.col("text")).alias("red"))
        .collect()
    }
    assert got[0] == "write to <EMAIL> for details"
    assert got[1] == "server at <IPV4> answered, backup at <IPV4>"
    assert got[2] == "call <PHONE> or <PHONE> today"
    assert got[3] == "mixed: <EMAIL> from <IPV4> dial <PHONE> now"
    assert got[4] == ROWS[4][1]  # 1.2.3 is not an IP; nothing changes
    assert got[5] is None  # NULL propagates, no crash


def test_counts_audit_columns(spark):
    out = scrub_pii(_df(spark), keep_counts=True)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert (
        rows[3]["n_email"],
        rows[3]["n_ipv4"],
        rows[3]["n_phone"],
    ) == (1, 1, 1)
    assert rows[1]["n_ipv4"] == 2
    assert rows[2]["n_phone"] == 2
    assert (
        rows[4]["n_email"],
        rows[4]["n_ipv4"],
        rows[4]["n_phone"],
    ) == (0, 0, 0)
    # NULL text: counts are 0, not NULL (audit sums stay non-null)
    assert (
        rows[5]["n_email"],
        rows[5]["n_ipv4"],
        rows[5]["n_phone"],
    ) == (0, 0, 0)
    # redaction replaced the text column in place
    assert rows[3]["text"] == "mixed: <EMAIL> from <IPV4> dial <PHONE> now"


def test_patterns_are_portable_to_re2(spark):
    """The SAME pattern strings must match identically under DuckDB's
    RE2 — the oracle contract (and the no-lookaround portability
    claim)."""
    texts = [t for _, t in ROWS if t is not None]
    con = duckdb.connect()
    for kind, pat in PII_PATTERNS.items():
        duck = [
            con.execute(
                "SELECT len(regexp_extract_all(?, ?))", [t, pat]
            ).fetchone()[0]
            for t in texts
        ]
        sdf = _df(spark).filter("text IS NOT NULL")
        spark_counts = [
            r["n"]
            for r in sdf.select(
                "doc_id",
                pii_counts(F.col("text"))[kind].alias("n"),
            )
            .orderBy("doc_id")
            .collect()
        ]
        assert duck == spark_counts, kind


def test_scrub_is_pure_projection(spark):
    plan = (
        scrub_pii(_df(spark), keep_counts=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cheap_guard_is_value_transparent(spark):
    """The round-6 pre-check guard (cheap char test AND alternation
    scan gating the replace/count chain) must be invisible in values:
    scrub_pii == the plain unguarded chain on guard-stressing rows —
    decimal-heavy text (cheap-guard false positive), '@'/'+' chars
    outside any real match, real PII, NULL and empty text."""
    rows = [
        (0, "totals 1.5 and 2.75 and v10.2.3 but no pii"),  # digit.digit FP
        (1, "meet @ noon + bring snacks"),  # '@'/'+' FPs
        (2, "a@b.io from 8.8.8.8 dial +15551234567 now"),  # real PII
        (3, ""),
        (4, None),
        (5, "x" * 5000),  # long clean doc
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    unguarded = df.withColumns(
        {
            "text": redact_pii(F.col("text")),
            **{
                f"n_{k}": c
                for k, c in pii_counts(F.col("text")).items()
            },
        }
    )
    got = {r["doc_id"]: r for r in scrub_pii(df, keep_counts=True).collect()}
    want = {r["doc_id"]: r for r in unguarded.collect()}
    assert got == want


def test_custom_patterns_bypass_cheap_guard(spark):
    """Custom pattern dicts must skip the default-pattern char
    pre-check (its superset proof is pattern-specific): a pattern whose
    matches contain no '@'/'+'/digit-dot-digit still redacts."""
    df = spark.createDataFrame(
        [(0, "the secret word"), (1, "nothing here")],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: r["text"]
        for r in scrub_pii(df, patterns={"word": r"secret"}).collect()
    }
    assert out[0] == "the <WORD> word"
    assert out[1] == "nothing here"


def test_caller_helper_named_column_survives(spark):
    """A caller column named like scrub_pii's internal hit flag passes
    through unchanged, and redaction is unaffected by it."""
    docs = _df(spark).withColumn("_pii_hit", F.col("doc_id") * 10)
    for keep_counts in (False, True):
        out = scrub_pii(docs, keep_counts=keep_counts)
        assert "_pii_hit" in out.columns
        got = {r["doc_id"]: r for r in out.collect()}
        assert {i: r["_pii_hit"] for i, r in got.items()} == {
            i: i * 10 for i, _ in ROWS
        }
        assert got[0]["text"] == "write to <EMAIL> for details"
        assert got[4]["text"] == ROWS[4][1]
