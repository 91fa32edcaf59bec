"""Incremental corpus preprocessing: the streaming form of
plans/corpus_pipeline.py — each new document batch runs the batch
curation chain (``curate_docs``) and is then deduplicated AGAINST ALL
PREVIOUSLY SEEN DATA via the append-only signature store
(operators/incremental_dedup.py) and committed per batch by
``plans.fs.publish``.

Exactly-once composition: two effects per micro-batch — signature
append, kept publish — are each idempotent on ``batch_id`` (published
directory = commit record; a replayed batch is excluded from its own
history, so its match set recomputes identically). A crash between the
store append and the kept publish replays into the same result.

Cross-batch semantics: an exact duplicate of ANY earlier doc has an
identical MinHash signature (estimated Jaccard 1.0) and a near
duplicate shares band buckets — both are dropped by the same
``est_threshold`` gate, so exact + near dedup against history is one
mechanism, O(delta) per batch.

Stage parity: the chain before dedup IS ``run_corpus_pipeline``'s.
Line and substring dedup are SHARD-LOCAL (the micro-batch is the CCNet
processing group, so replays publish identical results; no corpus-wide
line or substring history is claimed), the eval set is frozen at
stream construction, and PII scrubbing runs after dedup. The domain
blocklist, domain cap and learned quality gate are not exposed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.incremental_dedup import SignatureStore, incremental_neardup
from ..plans.corpus_pipeline import curate_docs
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
    """docs readStream -> per-batch curate/dedup-vs-history ->
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
        filtered = curate_docs(
            batch_df, lang_allow=lang_allow, min_quality=min_quality,
            min_tokens=min_tokens, line_dedup=line_dedup,
            line_dedup_min_count=line_dedup_min_count,
            substring_dedup=substring_dedup,
            substring_ngram=substring_ngram,
            substring_max_df=substring_max_df,
            repetition_thresholds=repetition_thresholds,
            token_counter=token_counter, eval_grams=eval_grams,
            decontam_ngram=decontam_ngram, id_col=id_col, text_col=text_col,
            # stages the stream does not expose
            domain_blocklist=None, domain_cap=None, quality_model=None,
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
        dup_ids = matches.select(F.col("doc_id").alias(id_col)).distinct()
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
