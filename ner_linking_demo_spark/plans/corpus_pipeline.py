"""Training-corpus preprocessing: the composition the individual
LLM-data operators exist for —

    docs --(curate_docs: [line/substring dedup] -> annotate ->
            filter [+ domain blocklist/cap] [+ Gopher/learned gates]
            [+ decontamination])-->
         --(exact dedup)--> --(near-dup cluster + keep
         one representative per cluster)--> kept corpus

``curate_docs`` is the one copy of the pre-dedup chain; the streaming
curation wrapper (streaming/corpus.py) runs it per micro-batch.

Every leaf operator already has its own oracle-verified entry
(text_analysis, dedup_exact, dedup_minhash_lsh, kg_connected_components
in `__spark_entry__.queries()`); this plan wires them into the
production shape a 100 TB pretraining-data pipeline runs, with the same
checkpoint/resume contract as the KG pipeline.

Shuffle accounting at scale:
- annotate + filter are pure scan-projection (whole-stage codegen, no
  shuffle, filters push down);
- exact dedup: ONE shuffle on content hash;
- near-dup: the payload-free LSH banding shuffle (id + 2 longs per
  band), the bucket self-join, and a CC iteration over the *duplicate
  pair* edge set — which is tiny relative to the corpus (pairs only
  exist where near-duplicates exist);
- representative selection: the CC component id IS the minimum member
  id, so "keep the smallest doc of each near-dup cluster" is a single
  anti-join of (node != component) assignments against the corpus — no
  extra aggregation.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text_analysis as TA
from ..operators.canonicalize import connected_components
from ..operators.dedup import exact_dedup, minhash_lsh_pairs
from .catalog import CheckpointCatalog


@dataclass
class CorpusResult:
    kept: DataFrame
    stats: dict[str, int] = field(default_factory=dict)


def annotate_docs(
    docs: DataFrame, text_col: str = "text", token_counter=None
) -> DataFrame:
    """One scan projection: language id, quality score, token count,
    content fingerprint. Pure Catalyst — annotating 10^12 docs adds no
    stage and no shuffle.

    ``token_counter`` (e.g. ``functions.st_adapter.HFTokenCounter``)
    swaps the whitespace heuristic for real tokenizer counts: n_tokens
    then comes from one Arrow-batched UDF riding the same scan (still
    zero shuffle, one python stage added). Every n_tokens consumer —
    the min_tokens gate, sequence packing, mixing budgets — follows
    automatically."""
    t = F.col(text_col)
    # shared-intermediate projection (round-6): token split + one fused
    # stopword pass feed all derived columns — see
    # TA.add_profile_columns (value-identical to the standalone forms)
    out = TA.add_profile_columns(
        docs,
        text_col=text_col,
        lang="lang_pred",
        quality="quality",
        n_tokens=None if token_counter is not None else "n_tokens",
        fingerprint="fingerprint",
    )
    if token_counter is not None:
        out = out.withColumn("n_tokens", token_counter.column()(t))
    # column order parity with the pre-round-6 withColumns form,
    # including its replace-IN-PLACE semantics: re-annotating a frame
    # that already carries one of these columns must overwrite it at
    # its original position, not emit an ambiguous duplicate
    ann_cols = ["lang_pred", "quality", "n_tokens", "fingerprint"]
    return out.select(
        *docs.columns,
        *[c for c in ann_cols if c not in docs.columns],
    )


def curate_docs(
    docs: DataFrame,
    *,
    lang_allow: tuple[str, ...] | None = None,
    min_quality: float | None = None,
    min_tokens: int | None = None,
    line_dedup: bool = False,
    line_dedup_min_count: int = 2,
    substring_dedup: int | None = None,
    substring_ngram: int = 16,
    substring_max_df: int | None = 64,
    repetition_thresholds: dict[str, float] | None = None,
    quality_model=None,
    model_quality_threshold: float = 0.5,
    token_counter=None,
    eval_grams: list[str] | None = None,
    decontam_ngram: int = 8,
    domain_cap: int | None = None,
    domain_cap_strategy: str = "approx",
    domain_blocklist: DataFrame | None = None,
    url_col: str = "url",
    id_col: str = "doc_id",
    text_col: str = "text",
    stats: dict[str, int] | None = None,
) -> DataFrame:
    """The stages before dedup, in their one order: line dedup ->
    substring dedup -> annotate -> lang/quality/min-token filter ->
    domain blocklist -> domain cap -> Gopher gate -> learned quality gate
    -> decontamination; a ``None``/``False`` option skips its stage (see
    ``run_corpus_pipeline`` for each). Pure lineage, no job, except the
    ``after_line_dedup``/``after_substring_dedup`` counts it records
    when given a ``stats`` dict. ``domain_blocklist`` comes normalized
    and ``eval_grams`` collected: the caller fingerprints both."""
    if line_dedup:
        # CCNet order: line-level dedup runs FIRST, on raw text, so
        # boilerplate lines never distort the downstream token/quality
        # annotations or near-dup signatures. The operator returns
        # (id, text, counts) only — join the deduped text back onto the
        # doc metadata (one equi-join on id; the heavy lifting is the
        # skew-immune keeper election inside dedup_lines).
        from ..operators.dedup import dedup_lines as _dedup_lines

        deduped = _dedup_lines(
            docs, id_col=id_col, text_col=text_col,
            min_count=line_dedup_min_count, normalize=True, keep_empty=False,
        ).select(id_col, text_col)
        docs = docs.drop(text_col).join(deduped, id_col)
        if stats is not None:
            stats["after_line_dedup"] = docs.count()

    if substring_dedup is not None:
        # ExactSubstr (Lee et al. 2022) runs on RAW text like line
        # dedup, BEFORE annotation, so spliced documents get honest
        # token/quality/fingerprint signals and packing budgets: detect
        # cross-doc duplicated runs of >= substring_dedup tokens, keep
        # the lowest-id copy, splice the runs out of every other copy
        # (hollowed docs drop). See operators/substring_dedup.py for
        # the coverage invariant that makes the splice safe.
        from ..operators.substring_dedup import (
            exact_substring_pairs,
            remove_duplicate_spans,
        )

        ext = exact_substring_pairs(
            docs.select(id_col, text_col), min_tokens=int(substring_dedup),
            n_gram=substring_ngram, max_df=substring_max_df,
            id_col=id_col, text_col=text_col,
        )
        docs = remove_duplicate_spans(
            docs, ext, id_col=id_col, text_col=text_col
        )
        if stats is not None:
            stats["after_substring_dedup"] = docs.count()

    ann = annotate_docs(docs, text_col, token_counter=token_counter)
    cond = F.lit(True)
    if lang_allow is not None:
        cond = cond & F.col("lang_pred").isin(list(lang_allow))
    if min_quality is not None:
        cond = cond & (F.col("quality") >= float(min_quality))
    if min_tokens is not None:
        cond = cond & (F.col("n_tokens") >= int(min_tokens))
    filtered = ann.filter(cond)
    if domain_blocklist is not None:
        # host blocklist rides the scan as a bounded chain of broadcast
        # joins (zero corpus Exchange) — before the cap, so blocked
        # hosts never count toward cap populations
        from ..operators.domain import filter_domain_blocklist

        filtered = filter_domain_blocklist(
            filtered, domain_blocklist, url_col=url_col,
            assume_normalized=True,
        )
    if domain_cap is not None:
        # host capping BEFORE the repetition gate and dedup: (a) the
        # dominated-host pathology is exactly where LSH buckets and CC
        # components blow up; (b) the approx strategy's two consumers
        # (counts + join) then re-scan a codegen projection, not the
        # Arrow repetition UDF. The trade: a host whose capped sample is
        # partly spam ends under cap. "approx" (default) is the
        # skew-immune form — see operators/domain.py.
        from ..operators.domain import cap_per_domain

        filtered = cap_per_domain(
            filtered, cap=domain_cap, url_col=url_col,
            strategy=domain_cap_strategy, tiebreak_col=id_col,
        )
    if repetition_thresholds is not None:
        # Gopher repetition gate rides the same scan: one extra Arrow
        # projection, still zero shuffle. Pass
        # TA.GOPHER_REPETITION_THRESHOLDS for the full published set.
        filtered = TA.gopher_repetition_filter(
            filtered, text_col=text_col, thresholds=repetition_thresholds
        )
    if quality_model is not None:
        # learned gate rides the same scan as the repetition gate, and
        # sits after the domain cap for the same reason (the approx cap
        # double-scans its input — keep that input codegen-only)
        from ..functions.quality_classifier import classifier_quality_filter

        filtered = classifier_quality_filter(
            filtered, quality_model, threshold=model_quality_threshold,
            text_col=text_col, keep_score=True,
        )
    if eval_grams:
        # decontamination rides the same scan (scan-form flag — the
        # join form would cost the corpus a second scan for its
        # anti-join). An EMPTY gram set (all eval items shorter than
        # n) gates nothing by contract, so it skips the Arrow pass
        # entirely (the caller's checkpoint signature still pins it).
        from ..operators.decontamination import contamination_flag

        filtered = filtered.filter(
            ~contamination_flag(
                F.col(text_col), eval_grams, n=decontam_ngram
            )
        )
    return filtered


def run_corpus_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    lang_allow: tuple[str, ...] | None = None,
    min_quality: float | None = None,
    min_tokens: int | None = None,
    line_dedup: bool = False,
    line_dedup_min_count: int = 2,
    substring_dedup: int | None = None,
    substring_ngram: int = 16,
    substring_max_df: int | None = 64,
    near_dup: bool = True,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    jaccard_threshold: float = 0.7,
    repetition_thresholds: dict[str, float] | None = None,
    quality_model=None,
    model_quality_threshold: float = 0.5,
    token_counter=None,
    eval_set: DataFrame | None = None,
    decontam_ngram: int = 8,
    scrub_pii: bool = False,
    domain_cap: int | None = None,
    domain_cap_strategy: str = "approx",
    domain_blocklist=None,  # DataFrame | list[str] | file path
    url_col: str = "url",
    id_col: str = "doc_id",
    text_col: str = "text",
    checkpoint_dir: str | None = None,
    input_sig: str | None = None,
    collect_stats: bool = False,
    persist_intermediate: bool = True,
) -> CorpusResult:
    """docs -> deduplicated, filtered corpus. ``kept`` carries the
    annotation columns plus ``content_hash``/``dup_count`` from exact
    dedup (and ``domain`` when ``domain_cap`` is set).
    ``repetition_thresholds`` turns on the Gopher repetition gate
    (signal <= threshold keeps; see functions/text_analysis.py);
    ``quality_model`` (a ``QualityClassifier``) turns on the LEARNED
    quality gate — P(quality) >= ``model_quality_threshold`` keeps, and
    the model's content fingerprint is folded into the checkpoint
    signature, so a retrained model can never silently resume snapshots
    scored by the old one; ``eval_set`` (eval_id, text) turns on
    benchmark decontamination — any doc sharing a ``decontam_ngram``
    word n-gram with an eval item is dropped, via the one-scan flag
    form (the eval n-gram set is collected to the driver ONCE — small
    by definition — and its content fingerprint rides the checkpoint
    signature); ``scrub_pii`` regex-redacts emails/IPv4/phones in the
    KEPT corpus as the final stage (after dedup, so near-dup detection
    sees original text, and redaction tokens can't create artificial
    near-dups);
    ``line_dedup`` runs CCNet-style duplicated-line removal (normalized
    hashing, first occurrence kept, hollowed docs dropped) on the RAW
    text before any annotation, so boilerplate never distorts the
    token/quality signals — see ``operators.dedup.dedup_lines``;
    ``domain_blocklist`` (a ``domain`` DataFrame, list of strings, or a
    text-file path) drops docs whose host or any parent domain is
    listed — C4-style, suffix-matched, broadcast-joined on the scan;
    its content fingerprint rides the checkpoint signature;
    ``domain_cap`` keeps at most that many docs per host (``approx``
    strategy = skew-immune expectation cap, ``exact`` = windowed). ``stats`` records per-stage surviving counts when
    ``collect_stats=True`` — up to six extra distributed counts per
    run (input / after_line_dedup / after_substring_dedup /
    after_filter / after_exact / kept; the substring one re-executes
    the full gram/pair/splice lineage and is the most expensive), so
    the throughput path defaults them OFF (checkpointed runs get the
    same numbers for free from the lineage log; ad-hoc diagnostics can
    opt in)."""
    sig = input_sig or f"docs|{docs.schema.simpleString()}"
    rep_sig = (
        sorted(repetition_thresholds.items())
        if repetition_thresholds is not None
        else None
    )
    # the MODEL CONTENT (fingerprint), not its path or object identity,
    # pins the signature: same weights resume, retrained weights don't
    model_sig = (
        f"{quality_model.fingerprint()}:{model_quality_threshold}"
        if quality_model is not None
        else None
    )
    eval_grams: list[str] | None = None
    decontam_sig = None
    if eval_set is not None:
        from ..operators.decontamination import (
            collect_eval_ngrams,
            eval_set_fingerprint,
        )

        # ONE driver-side collect of the (small) eval n-gram set: the
        # gram list feeds both the scan-form flag and the signature pin
        eval_grams = collect_eval_ngrams(eval_set, n=decontam_ngram)
        decontam_sig = eval_set_fingerprint(eval_grams, decontam_ngram)
    blocklist_sig = None
    if domain_blocklist is not None:
        from ..operators.domain import (
            blocklist_fingerprint,
            normalize_blocklist,
        )

        # normalize ONCE (filter_domain_blocklist is told to trust it);
        # the content fingerprint (one dimension-table aggregate, never
        # a driver collect) pins the signature so a changed blocklist
        # can't resume snapshots filtered by the old one — only
        # computed when a checkpoint exists to pin
        domain_blocklist = normalize_blocklist(spark, domain_blocklist)
        if checkpoint_dir:
            blocklist_sig = blocklist_fingerprint(domain_blocklist)
    conf = (
        f"{lang_allow}|{min_quality}|{min_tokens}|{near_dup}|{n_hashes}"
        f"|{line_dedup}:{line_dedup_min_count if line_dedup else ''}"
        + (
            f"|ss:{substring_dedup}:{substring_ngram}:{substring_max_df}"
            if substring_dedup is not None
            else ""
        )
        + f"|{bands}|{shingle_size}|{jaccard_threshold}"
        # scrub_pii is deliberately NOT in the signature: redaction is
        # applied AFTER the last checkpointed stage (on the loaded kept
        # set), so toggling it must not invalidate warm snapshots
        # optional-stage fields append CONDITIONALLY so enabling a new
        # stage type in a release never invalidates pre-existing
        # checkpoints of runs that don't use it
        f"|{rep_sig}|{domain_cap}|{domain_cap_strategy}|{url_col}"
        f"|{model_sig}"
        + (f"|dc:{decontam_sig}" if decontam_sig is not None else "")
        + (f"|bl:{blocklist_sig}" if blocklist_sig is not None else "")
        # the token-counter fingerprint pins every token-denominated
        # stage (min_tokens gate, downstream packing of kept's
        # n_tokens): a changed tokenizer must never resume snapshots
        # counted by the old one
        + (
            f"|tc:{token_counter.fingerprint}"
            if token_counter is not None
            else ""
        )
    )
    cat = (
        CheckpointCatalog(spark, checkpoint_dir) if checkpoint_dir else None
    )
    stats: dict[str, int] = {}
    if collect_stats:
        stats["input"] = docs.count()

    filtered = curate_docs(
        docs, lang_allow=lang_allow, min_quality=min_quality,
        min_tokens=min_tokens, line_dedup=line_dedup,
        line_dedup_min_count=line_dedup_min_count,
        substring_dedup=substring_dedup, substring_ngram=substring_ngram,
        substring_max_df=substring_max_df,
        repetition_thresholds=repetition_thresholds,
        quality_model=quality_model,
        model_quality_threshold=model_quality_threshold,
        token_counter=token_counter, eval_grams=eval_grams,
        decontam_ngram=decontam_ngram, domain_cap=domain_cap,
        domain_cap_strategy=domain_cap_strategy,
        domain_blocklist=domain_blocklist, url_col=url_col, id_col=id_col,
        text_col=text_col, stats=stats if collect_stats else None,
    )
    if cat:
        filtered = cat.stage(
            "corpus_filtered", f"{sig}|{conf}", lambda: filtered
        )
    if collect_stats:
        stats["after_filter"] = filtered.count()

    exact = exact_dedup(filtered, text_col=text_col, id_col=id_col)
    if cat:
        exact = cat.stage("corpus_exact", f"{sig}|{conf}", lambda: exact)
    if collect_stats:
        stats["after_exact"] = exact.count()

    # with near_dup on, `exact` feeds THREE consumers (signature mining,
    # the pair-member shingle verify, and the final anti-join); without
    # a materialization Spark recomputes the scan + annotate + dedup
    # window once per consumer. Checkpointed runs get the
    # materialization from the corpus_exact snapshot; the pure-lineage
    # path localCheckpoints by DEFAULT since round 6 — one local-disk
    # write of the deduped corpus beats two extra full scans at every
    # scale measured (sf1.0: 10.2s -> 7.4s), and at 100 TB the gap only
    # widens. ``persist_intermediate=False`` keeps the fully-lazy plan
    # (plan audits; single-consumer compositions).
    if near_dup and persist_intermediate and not cat:
        exact = exact.localCheckpoint(eager=True)

    kept = exact
    if near_dup:
        pairs = minhash_lsh_pairs(
            exact,
            text_col=text_col,
            id_col=id_col,
            n_hashes=n_hashes,
            bands=bands,
            shingle_size=shingle_size,
            jaccard_threshold=jaccard_threshold,
        )
        comp = connected_components(
            pairs.select(
                F.col("id_a").cast("string").alias("src"),
                F.col("id_b").cast("string").alias("dst"),
            )
        )
        # component id == min member id: every non-representative is a
        # (node != component) row; one anti-join drops them all
        losers = comp.filter(F.col("node") != F.col("component")).select(
            F.col("node").cast(exact.schema[id_col].dataType).alias(id_col)
        )
        kept = exact.join(losers, id_col, "left_anti")
        if cat:
            kept = cat.stage("corpus_kept", f"{sig}|{conf}", lambda: kept)
    if scrub_pii:
        # final stage ON the kept set: dedup saw original text; the
        # redaction is a pure codegen projection over the output
        from ..functions.pii import scrub_pii as _scrub

        kept = _scrub(kept, text_col=text_col)
    if collect_stats:
        stats["kept"] = kept.count()
    return CorpusResult(kept=kept, stats=stats)


def prepare_training_sequences(
    spark: SparkSession,
    docs: DataFrame,
    max_tokens: int,
    num_partitions: int | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    **pipeline_kwargs,
) -> DataFrame:
    """The full LLM-pretraining data path in one call: corpus
    preprocessing (annotate -> filter -> exact + near dedup ->
    representatives) composed with greedy sequence packing into
    ``max_tokens`` training windows.

    Packing REUSES the ``n_tokens`` column the annotate stage already
    computed (``tokens_col`` pass-through), so the composition adds no
    re-tokenization — its only extra cost over ``run_corpus_pipeline``
    is the packing repartition + one iterator UDF. Returns the
    (seq_id, doc_ids, n_docs, total_tokens, oversize) window table."""
    from ..operators.packing import pack_sequences

    res = run_corpus_pipeline(
        spark, docs, id_col=id_col, text_col=text_col, **pipeline_kwargs
    )
    return pack_sequences(
        res.kept,
        max_tokens=max_tokens,
        id_col=id_col,
        tokens_col="n_tokens",
        num_partitions=num_partitions,
    )
