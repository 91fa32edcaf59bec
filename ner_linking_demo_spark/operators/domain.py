"""Per-domain document capping — the standard web-corpus curation step
(C4/Gopher-style) that stops a handful of giant hosts from dominating a
pretraining mix.

Reference scope note: the reference pipeline (guilopgar/ner-linking-demo)
has no corpus-curation layer at all; this operator belongs to the
training-data extensions (SURVEY.md §2.11) alongside dedup and packing.

Two strategies, chosen by the caller:

- ``exact`` — row_number over a (domain) window ordered by a
  cross-engine-stable key (md5(url), url), keep rank <= cap. ONE shuffle
  on domain. Deterministic and DuckDB-oracle-able, but a hot domain
  (e.g. a crawl where one host is 10% of all pages) concentrates its
  whole partition on one task: at 100 TB the window sort on that task is
  the straggler.
- ``approx`` — two passes, no window, no skew: (1) tiny count-per-domain
  aggregate (map-side partial, rows = |domains|), (2) broadcast the
  OVER-CAP domains only (the small set by construction) and keep a row
  when ``pmod(xxhash64(url), count) < cap``. Every row is decided
  independently from the scan — no per-domain sort, no concentration.
  Keeps cap docs per over-capped domain IN EXPECTATION (binomial around
  cap; exact only when the hash were perfectly uniform) — the honest
  trade for removing the skew bottleneck, and the form that survives a
  1000-executor cluster with a pathological host.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def extract_domain(url) -> F.Column:
    """Lowercased host with a leading ``www.`` stripped; '' for urls with
    no ``scheme://host`` shape. Userinfo (``user[:pass]@``) is skipped so
    ``https://token@spam.example.com/p`` attributes to the real host
    instead of minting a fresh pseudo-domain per token. Pure Catalyst
    (regexp on the scan)."""
    host = F.lower(
        F.regexp_extract(
            url,
            r"^[A-Za-z][A-Za-z0-9+.-]*://(?:[^/@?#]*@)?([^/:?#]+)",
            1,
        )
    )
    return F.regexp_replace(host, r"^www\.", "")


def cap_per_domain(
    docs: DataFrame,
    cap: int,
    url_col: str = "url",
    strategy: str = "exact",
    tiebreak_col: str | None = None,
) -> DataFrame:
    """Keep at most ``cap`` documents per registered host (exact) or
    ~``cap`` in expectation (approx — see module docstring for the skew
    rationale). Output carries the input columns plus ``domain``.

    Rows whose domain cannot be established (NULL or unparseable url)
    are EXEMPT from capping in both strategies: capping is a per-host
    rule, and unattributable docs have no host — dropping them under a
    shared pseudo-domain would discard unrelated content by accident
    (content floods among them are the dedup stage's job). Both
    strategies agree on this, so swapping strategy never changes which
    population is subject to the cap.

    The domain is derived from ``url_col``. ``tiebreak_col`` (e.g. a doc
    id) extends the exact strategy's ordering key — REQUIRED for
    determinism when the same url can appear on multiple rows (re-crawls
    before exact dedup); with unique urls the (md5(url), url) key is
    already total.
    """
    if cap < 1:
        raise ValueError("cap must be >= 1")
    if strategy not in ("exact", "approx"):
        raise ValueError(f"unknown strategy: {strategy!r}")
    d = docs.withColumn("domain", extract_domain(F.col(url_col)))
    capped = F.col("domain").isNotNull() & (F.col("domain") != "")

    if strategy == "exact":
        order = [F.md5(F.col(url_col)), F.col(url_col)]
        if tiebreak_col is not None:
            order.append(F.col(tiebreak_col))
        w = Window.partitionBy("domain").orderBy(*order)
        return (
            d.withColumn("_rk", F.row_number().over(w))
            .filter(~capped | (F.col("_rk") <= cap))
            .drop("_rk")
        )

    counts = d.filter(capped).groupBy("domain").agg(F.count("*").alias("_n"))
    over = counts.filter(F.col("_n") > cap)
    joined = d.join(F.broadcast(over), "domain", "left")
    return joined.filter(
        F.col("_n").isNull()
        | (F.pmod(F.xxhash64(F.col(url_col)), F.col("_n")) < cap)
    ).drop("_n")


def domain_stats(
    docs: DataFrame,
    url_col: str = "url",
    text_col: str | None = "text",
    top_k: int | None = None,
) -> DataFrame:
    """(domain, n_docs[, total_chars]) per host, heaviest first — the
    diagnostic that decides whether capping is needed and at what level.
    Map-side partial aggregate; output rows = |domains|. ``total_chars``
    is included only when ``text_col`` names a present column."""
    d = docs.withColumn("domain", extract_domain(F.col(url_col)))
    aggs = [F.count("*").alias("n_docs")]
    if text_col is not None and text_col in docs.columns:
        aggs.append(F.sum(F.length(text_col)).alias("total_chars"))
    out = d.groupBy("domain").agg(*aggs).orderBy(F.desc("n_docs"), "domain")
    return out.limit(top_k) if top_k is not None else out


def normalize_blocklist(spark, entries) -> DataFrame:
    """(domain) DataFrame from a list of strings / a text file path / a
    DataFrame with a ``domain`` column: lowercased, stripped, leading
    ``www.`` removed, blanks and ``#`` comments skipped, distinct.
    Blocklists are dimension tables (C4's badword/host lists are in the
    thousands-to-millions range) — normalize once, broadcast at join
    time."""
    if isinstance(entries, DataFrame):
        src = entries.select(F.col("domain"))
    elif isinstance(entries, str):
        src = spark.read.text(entries).select(
            F.col("value").alias("domain")
        )
    else:
        src = spark.createDataFrame(
            [(e,) for e in entries], "domain string"
        )
    d = F.lower(F.trim(F.col("domain")))
    return (
        src.select(F.regexp_replace(d, r"^www\.", "").alias("domain"))
        .filter(
            (F.col("domain") != "")
            & ~F.col("domain").startswith("#")
        )
        .distinct()
    )


def filter_domain_blocklist(
    docs: DataFrame,
    blocklist,
    url_col: str = "url",
    max_labels: int | None = None,
    keep_unattributable: bool = True,
    assume_normalized: bool = False,
) -> DataFrame:
    """Drop docs whose host — or any of its parent domains down to
    ``max_labels`` labels — appears in ``blocklist`` (a ``domain``
    DataFrame from :func:`normalize_blocklist`). The C4-style host
    blocklist pass.

    Scale shape: a blocked entry must match SUFFIXES of the doc host
    ("example.com" blocks "a.b.example.com"), which is not an equi-key.
    Instead of exploding per-doc suffix chains (corpus-size explode +
    a re-aggregation shuffle) or a broadcast nested-loop contains-join
    (O(docs x list)), the host's bounded suffix chain (full host + last
    2..max_labels labels) becomes a CHAIN of at most ``max_labels``
    broadcast hash LEFT joins — each rides the scan, zero Exchange,
    zero explode (plan-tested). Hosts with fewer labels than a suffix
    level contribute NULL at that level (never equi-joins).

    ``max_labels`` defaults to the DEEPEST entry actually present in
    the blocklist (one dimension-table aggregate), so a 5-label entry
    always gets its 5-label suffix leg — an explicit smaller value that
    would silently fail to block some entry's subdomains raises
    instead. ``keep_unattributable``: urls with no parseable host (''
    domain) are kept by default — the same exemption rule the domain
    cap uses, so the governed population matches across the domain
    operators. ``assume_normalized`` skips re-normalizing a frame that
    already came from :func:`normalize_blocklist`.
    """
    bl = (
        blocklist
        if assume_normalized and isinstance(blocklist, DataFrame)
        else normalize_blocklist(docs.sparkSession, blocklist)
    )
    # materialize the dimension once: each suffix leg builds its own
    # broadcast relation (different join key aliases defeat
    # ReusedExchange), and without this the source file would be
    # re-read and re-normalized once per leg
    bl = bl.localCheckpoint(eager=True)
    deepest_row = bl.select(
        F.max(F.size(F.split("domain", r"\."))).alias("d")
    ).collect()[0]
    deepest = deepest_row["d"] or 1
    if max_labels is None:
        max_labels = max(deepest, 2)
    elif deepest > max_labels:
        raise ValueError(
            f"blocklist holds a {deepest}-label entry but max_labels="
            f"{max_labels}: its subdomains would SILENTLY escape the "
            "filter — raise max_labels (or leave it unset to size "
            "automatically)"
        )
    dom = extract_domain(F.col(url_col))
    labels = F.split(dom, r"\.")
    n = F.size(labels)
    suffixes = [dom] + [
        F.when(n > k, F.concat_ws(".", F.slice(labels, -k, k)))
        for k in range(2, max_labels + 1)
    ]
    out = docs.withColumn("_dbl_dom", dom)
    hit_cols = []
    for i, sc in enumerate(suffixes):
        key = f"_dbl_s{i}"
        hit = f"_dbl_b{i}"
        out = out.withColumn(key, sc).join(
            F.broadcast(bl.select(F.col("domain").alias(hit))),
            F.col(key) == F.col(hit),
            "left",
        )
        hit_cols.append(hit)
    blocked = None
    for h in hit_cols:
        c = F.col(h).isNotNull()
        blocked = c if blocked is None else (blocked | c)
    keep = ~blocked
    if not keep_unattributable:
        # strict mode: a url that cannot be attributed to a host cannot
        # be cleared against the blocklist either — drop it
        keep = keep & (F.col("_dbl_dom") != "")
    return out.filter(keep).drop(
        "_dbl_dom", *hit_cols, *[f"_dbl_s{i}" for i in range(len(suffixes))]
    )


def blocklist_fingerprint(blocklist: DataFrame) -> str:
    """Order-insensitive content fingerprint of a normalized blocklist
    (xor of entry hashes + count), for checkpoint-signature pinning —
    one tiny aggregate over a dimension table, never a driver collect
    of the full list."""
    row = blocklist.select(
        F.bit_xor(F.xxhash64("domain")).alias("x"),
        F.count(F.lit(1)).alias("n"),
    ).collect()[0]
    return f"{(row['x'] or 0) & 0xFFFFFFFFFFFFFFFF:016x}:{row['n']}"
