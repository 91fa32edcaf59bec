"""Incremental corpus preprocessing: the streaming form of
plans/corpus_pipeline.py — new document batches are annotated, filtered
and deduplicated AGAINST ALL PREVIOUSLY SEEN DATA via the append-only
signature store (operators/incremental_dedup.py), then committed
per batch by ``plans.fs.publish``.

Exactly-once composition: three effects per micro-batch — signature
append, kept publish — are each idempotent on ``batch_id`` (published
directory = commit record; a replayed batch is excluded from its own
history, so its match set recomputes identically). A crash between the
store append and the kept publish replays into the same result.

Cross-batch semantics: an exact duplicate of ANY earlier doc has an
identical MinHash signature (estimated Jaccard 1.0) and a near
duplicate shares band buckets — both are dropped by the same
``est_threshold`` gate, so exact + near dedup against history is one
mechanism, O(delta) per batch.

Stage parity with the batch composition: line dedup (SHARD-LOCAL — the
micro-batch is the CCNet processing group; corpus-wide line history is
deliberately not claimed), the Gopher repetition gate, decontamination
against an eval set frozen at stream construction, and post-dedup PII
scrubbing all compose per batch in the same order as
``run_corpus_pipeline``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.incremental_dedup import SignatureStore, incremental_neardup
from ..plans.corpus_pipeline import annotate_docs
from ..plans.fs import BatchLayout


def incremental_corpus_pipeline(
    spark: SparkSession,
    docs_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    store_dir: str | None = None,
    lang_allow: tuple[str, ...] | None = None,
    min_quality: float | None = None,
    min_tokens: int | None = None,
    repetition_thresholds: dict[str, float] | None = None,
    eval_set: DataFrame | None = None,
    decontam_ngram: int = 8,
    scrub_pii: bool = False,
    line_dedup: bool = False,
    line_dedup_min_count: int = 2,
    substring_dedup: int | None = None,
    substring_ngram: int = 16,
    substring_max_df: int | None = 64,
    n_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    est_threshold: float = 0.5,
    token_counter=None,
    id_col: str = "doc_id",
    text_col: str = "text",
    trigger_once: bool = True,
):
    """docs readStream -> per-batch annotate/filter/dedup-vs-history ->
    ``out_dir/kept/batch_id=N`` parquet publishes. Read results back
    with ``BatchLayout(spark, f"{out_dir}/kept").read()`` (plain
    ``spark.read.parquet`` only if the layout is never compacted)."""
    root = out_dir.rstrip("/")
    layout = BatchLayout(spark, f"{root}/kept")
    store = SignatureStore(spark, store_dir or f"{root}/_sigstore")

    # eval n-grams are collected ONCE at stream construction (not per
    # batch): the set is dimension-sized by contract and must be frozen
    # for the stream's lifetime — a changing eval set mid-stream would
    # make replayed batches non-idempotent
    eval_grams: list[str] | None = None
    if eval_set is not None:
        from ..operators.decontamination import collect_eval_ngrams

        eval_grams = collect_eval_ngrams(eval_set, n=decontam_ngram)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        if layout.has_batch(batch_id):
            return  # replayed batch: already published atomically
        if line_dedup:
            # SHARD-LOCAL line dedup (the CCNet shape: dedup within the
            # processing group, here the micro-batch) — deterministic
            # per batch content, so replays publish identical results;
            # corpus-wide line dedup would need a line-hash history
            # store and is deliberately not claimed here
            from ..operators.dedup import dedup_lines

            deduped = dedup_lines(
                batch_df,
                id_col=id_col,
                text_col=text_col,
                min_count=line_dedup_min_count,
                normalize=True,
                keep_empty=False,
            ).select(id_col, text_col)
            batch_df = batch_df.drop(text_col).join(deduped, id_col)
        if substring_dedup is not None:
            # SHARD-LOCAL ExactSubstr (same scoping rule as line_dedup:
            # within the micro-batch, deterministic per batch content,
            # so replays publish identical results; cross-batch
            # substring history would need a gram store and is
            # deliberately not claimed here)
            from ..operators.substring_dedup import (
                exact_substring_pairs,
                remove_duplicate_spans,
            )

            ext = exact_substring_pairs(
                batch_df.select(id_col, text_col),
                min_tokens=int(substring_dedup),
                n_gram=substring_ngram,
                max_df=substring_max_df,
                id_col=id_col,
                text_col=text_col,
            )
            batch_df = remove_duplicate_spans(
                batch_df, ext, id_col=id_col, text_col=text_col
            )
        # token_counter parity with run_corpus_pipeline (round-6 advice
        # fix): a batch run using a real tokenizer seat and its
        # streaming replay must count n_tokens identically, or the
        # min_tokens gate diverges between the two paths
        ann = annotate_docs(batch_df, text_col, token_counter=token_counter)
        cond = F.lit(True)
        if lang_allow is not None:
            cond = cond & F.col("lang_pred").isin(list(lang_allow))
        if min_quality is not None:
            cond = cond & (F.col("quality") >= float(min_quality))
        if min_tokens is not None:
            cond = cond & (F.col("n_tokens") >= int(min_tokens))
        filtered = ann.filter(cond)
        if repetition_thresholds is not None:
            # same Gopher gate as the batch composition: one Arrow
            # projection riding the per-batch scan, zero extra shuffle
            from ..functions.text_analysis import gopher_repetition_filter

            filtered = gopher_repetition_filter(
                filtered, text_col=text_col,
                thresholds=repetition_thresholds,
            )
        if eval_grams:
            # same scan-form decontamination as the batch composition
            from ..operators.decontamination import contamination_flag

            filtered = filtered.filter(
                ~contamination_flag(
                    F.col(text_col), eval_grams, n=decontam_ngram
                )
            )
        matches = incremental_neardup(
            filtered,
            store,
            batch_id,
            text_col=text_col,
            id_col=id_col,
            n_hashes=n_hashes,
            bands=bands,
            shingle_size=shingle_size,
            est_threshold=est_threshold,
        )
        dup_ids = matches.select(
            F.col("doc_id").alias(id_col)
        ).distinct()
        kept = filtered.join(dup_ids, id_col, "left_anti")
        if scrub_pii:
            # after dedup (signatures saw original text), before the
            # atomic publish — same stage order as the batch pipeline
            from ..functions.pii import scrub_pii as _scrub

            kept = _scrub(kept, text_col=text_col)
        layout.publish(kept, batch_id)

    writer = (
        docs_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
