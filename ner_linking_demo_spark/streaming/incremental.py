"""Incremental ingest wrapper: run the batch KG pipeline per micro-batch.

``foreachBatch`` is the idiomatic bridge when the transformation is a
mature batch plan (broadcast state, multi-output writes) rather than a
native streaming aggregation; each micro-batch gets the fused
pages->linked->triples plan and publishes into the output location.

Exactly-once: each micro-batch is committed as ``triples/batch_id=N`` by
``plans.fs.publish`` (see its docstring for the protocol and the
object-store caveat). The published directory is the commit record, so
a replayed micro-batch (restart from the streaming checkpoint) sees it
and skips the pipeline. The embedded ``batch_id`` partition column
allows read-side dedupe where rename is not atomic. Single-driver
assumption as with the checkpoint catalog (plans/catalog.py).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.canonicalize import (
    connected_components,
    incremental_components,
)
from ..plans.catalog import CheckpointCatalog
from ..plans.fs import BatchLayout
from ..plans.pipeline import run_pipeline


def incremental_pipeline(
    spark: SparkSession,
    pages_stream: DataFrame,
    gazetteer_pdf: pd.DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    k: int = 3,
    trigger_once: bool = True,
    maintain_entities: bool = False,
):
    """pages readStream -> per-micro-batch KG pipeline -> atomic publishes.

    Output is a ``batch_id``-partitioned parquet layout under
    ``out_dir/triples`` — read it back with
    ``BatchLayout(spark, f"{out_dir}/triples").read()`` (plain
    ``spark.read.parquet`` is fine ONLY if the layout is never
    compacted; see the BatchLayout compaction caveat).
    ``trigger_once=True`` (availableNow) drains what's there and stops —
    the batch-job-with-streaming-bookkeeping mode; ``False`` runs
    continuously.

    ``maintain_entities=True`` additionally maintains a GLOBAL
    surface-form equivalence table across micro-batches: each batch's
    rank-1 (surface form <-> code) links become alias edges, folded into
    the accumulated (node, component) assignment with
    :func:`incremental_components` — per-batch cost is O(delta +
    touched components), never a full-graph recompute, and canonical ids
    are stable across batches (min-member convention). State lives in a
    CheckpointCatalog at ``out_dir/_state`` (table ``entities_cc``) with
    the same rename-commit protocol as the triples; replayed batch ids
    are skipped via the catalog's input-signature chain (``upto-N``
    monotone), keeping the fold idempotent under restart."""
    root = out_dir.rstrip("/")
    layout = BatchLayout(spark, f"{root}/triples")

    state = (
        CheckpointCatalog(spark, f"{root}/_state")
        if maintain_entities
        else None
    )

    def _fold_entities(triples_path: str, batch_id: int) -> None:
        ptr = state._read_pointer("entities_cc")
        if ptr and ptr.get("input_sig"):
            upto = int(ptr["input_sig"].rsplit("-", 1)[1])
            if upto >= batch_id:
                return  # replayed batch: already folded into this state
        # derive edges from the batch's PUBLISHED triples (rank 0 = the
        # top-linked code) — the pipeline executes exactly once per
        # batch (for the publish write); the fold re-reads its snapshot
        new_edges = (
            spark.read.parquet(triples_path)
            .filter(F.col("rank") == 0)
            .select(
                F.concat(F.lit("sf:"), F.lower("span")).alias("src"),
                F.concat(F.lit("c:"), F.col("code")).alias("dst"),
            )
            .where(F.col("dst").isNotNull())
            .distinct()
        )
        if ptr is None:
            assign = connected_components(new_edges)
        else:
            assign = incremental_components(
                state.read("entities_cc"), new_edges
            )
        state.write(
            assign,
            "entities_cc",
            stage=f"entities_cc-b{batch_id}",
            input_sig=f"upto-{batch_id}",
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        final = layout.path(batch_id)
        if layout.has_batch(batch_id):
            # replayed micro-batch: triples already published atomically;
            # still make sure the entity fold for this batch landed (a
            # crash BETWEEN triples publish and state write re-runs
            # here — from the published snapshot, no pipeline re-run).
            # A batch covered by compaction may have no directory any
            # more: its fold is part of the compacted past, skip it.
            if state is not None and layout.fs.exists(final):
                _fold_entities(final, batch_id)
            return
        res = run_pipeline(spark, batch_df, gazetteer_pdf, k=k)
        layout.publish(res.triples, batch_id)
        if state is not None:
            _fold_entities(final, batch_id)

    writer = (
        pages_stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()
