"""The end-to-end KG-construction plan:

    pages --(NER UDF)--> mentions --(embed+kNN+W3)--> linked
          --(alias CC)--> entities/code2entity
          --(materialize)--> triples + edges

Each arrow is a checkpointed stage (plans/catalog.py): killed runs resume
from the last published snapshot without recomputation; every stage logs
per-partition lineage counters. This is the Spark collapse of the
reference's three-process Flask/Celery/Mongo lifecycle (SURVEY.md §3.1):
the whole service path becomes one spark-submit driver program.

The gazetteer-derived artifacts (the per-label term indexes and the
entities/code2entity tables) are built on the driver in Python, and on
checkpointed runs only for a stage that computes: a resumed stage reads
its snapshot and builds nothing, and a fresh fine run builds the term
indexes on a driver thread while the mentions job runs on the
executors. The no-checkpoint plan builds both up front.
"""

from __future__ import annotations

import threading
from concurrent.futures import Future, ThreadPoolExecutor
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.embedder import HashEmbedder
from ..sources.embeddings_cache import gaz_content_hash
from ..operators.linking import build_indexes, detect_and_link, link_mentions
from ..operators.ner import detect_mentions
from ..operators.triples import build_entities_local, build_triples
from .catalog import CheckpointCatalog


@dataclass
class PipelineResult:
    mentions: DataFrame
    linked: DataFrame
    entities: DataFrame
    triples: DataFrame
    edges: DataFrame
    observations: dict = None

    def metrics(self) -> dict[str, int]:
        """Runtime row counters for the FUSED (no-checkpoint) plan,
        collected by CollectMetrics observations riding the triples
        action — zero extra jobs. Valid after any action on ``triples``
        (checkpointed runs get richer per-partition counters from the
        catalog lineage instead)."""
        if not self.observations:
            return {}
        return {
            name: int(obs.get["n"]) for name, obs in self.observations.items()
        }


def _sig(*parts) -> str:
    return "|".join(str(p) for p in parts)


class _Once:
    """``fn()`` evaluated at most once: by the first ``get()``, or ahead
    of it on a thread pool via ``prefetch``. Every ``get()`` returns that
    one result or raises that one exception; thread-safe."""

    def __init__(self, fn):
        self._fn = fn
        self._lock = threading.Lock()
        self._fut: Future | None = None

    def prefetch(self, pool: ThreadPoolExecutor) -> None:
        with self._lock:
            if self._fut is None:
                self._fut = pool.submit(self._fn)

    def get(self):
        with self._lock:
            if self._fut is None:
                self._fut = Future()
                try:
                    self._fut.set_result(self._fn())
                except BaseException as exc:
                    self._fut.set_exception(exc)
                    raise
        return self._fut.result()


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    gazetteer_pdf: pd.DataFrame,
    k: int = 3,
    checkpoint_dir: str | None = None,
    embedder: HashEmbedder | None = None,
    num_partitions: int | None = None,
    input_sig: str | None = None,
    reranker: str | None = None,
    from_html: bool = False,
    checkpoint_granularity: str = "fine",
) -> PipelineResult:
    """Run pages -> triples. When ``checkpoint_dir`` is set, every stage is
    snapshot-checkpointed and resumable; otherwise the plan runs fully lazy
    (single Catalyst plan, useful for benchmarking raw throughput).

    ``input_sig`` identifies the input for resume purposes (e.g. the source
    table's snapshot id); defaults to a shape-based signature.

    ``from_html=True`` derives ``text`` from the ``html`` column with the
    native byte-exact extractor (functions/html_extract.py) — for inputs
    where only the raw page bytes are populated. Extraction runs inside
    the scan projection (whole-stage codegen), so it adds no stage.

    ``checkpoint_granularity`` trades lineage detail for throughput when
    checkpointing is on: ``'fine'`` (default) publishes a mentions
    snapshot and then a linked snapshot, both at mention grain (the
    linking kernel runs over the mentions snapshot; restart loses at
    most one stage); ``'coarse'`` runs the FUSED pages->linked plan as a
    single checkpointed stage — one python pass and one snapshot
    instead of two of each, for pipelines where per-stage forensics
    matter less than wall clock. Resume semantics are identical (same
    signature algebra).

    On checkpointed runs the term indexes are built only when ``linked``
    computes, the entity tables only when ``entities`` or ``code2entity``
    computes and the triples/edges plans only when ``triples`` or
    ``edges`` computes (once for each pair), so a fully resumed call
    builds none of them; with the snapshot schemas read from
    ``_META.json`` it launches no Spark job before the caller's first
    action either. A fine run whose ``linked`` stage will compute builds
    the indexes on a pool thread, overlapped with the mentions job.

    ``reranker`` (None, 'crossencoder' or 'biencoder') rescores the
    retrieved candidates inside the linking kernel on every plan: fine,
    coarse and no-checkpoint runs link identically.
    """
    if from_html:
        from ..functions.html_extract import extract_text_expr

        # extraction failures yield NULL text; drop them at the boundary
        # (count them with verify_text_fidelity / an observe() if needed)
        pages = pages.withColumn(
            "text", extract_text_expr("html")
        ).filter(F.col("text").isNotNull())
    embedder = embedder or HashEmbedder()
    # Content hash, not row count: editing a term/code/tag without changing
    # the row count must invalidate every dependent snapshot.
    gaz_sig = f"gaz{gaz_content_hash(gazetteer_pdf)[:16]}"
    # Embedder identity: resuming with a different embedding space must
    # recompute linked/triples/edges (same stale-resume class as the
    # gazetteer/reranker signatures).
    emb_sig = (
        f"emb{type(embedder).__name__}"
        f"d{getattr(embedder, 'dim', '?')}s{getattr(embedder, 'seed', '?')}"
    )
    if checkpoint_granularity not in ("fine", "coarse"):
        raise ValueError(
            f"unknown checkpoint_granularity {checkpoint_granularity!r} "
            "(expected 'fine' or 'coarse')"
        )
    input_sig = input_sig or _sig("pages", pages.schema.simpleString())

    if not checkpoint_dir:
        # throughput plan: pages -> linked in ONE python UDF stage;
        # counters ride the plan as CollectMetrics observations
        # (the north-rule metrics requirement without a
        # lineage-taxing job)
        from pyspark.sql import Observation

        indexes = build_indexes(gazetteer_pdf, k=k, embedder=embedder)
        entities_df, code2entity = build_entities_local(spark, gazetteer_pdf)
        observations = {
            "pages_in": Observation(),
            "linked_out": Observation(),
        }
        pages = pages.observe(
            observations["pages_in"], F.count(F.lit(1)).alias("n")
        )
        linked = detect_and_link(
            pages,
            gazetteer_pdf,
            indexes,
            k=k,
            embedder=embedder,
            num_partitions=num_partitions,
            reranker=reranker,
        ).observe(observations["linked_out"], F.count(F.lit(1)).alias("n"))
        triples, edges = build_triples(linked, code2entity)
        return PipelineResult(
            mentions=linked.select("url", "label", "start", "end", "span"),
            linked=linked,
            entities=entities_df,
            triples=triples,
            edges=edges,
            observations=observations,
        )

    cat = CheckpointCatalog(spark, checkpoint_dir)
    # reranker is part of the signature: triples/edges derive from the
    # 'linked' stage, so their snapshots must invalidate with it.
    link_sig = _sig(input_sig, gaz_sig, k, reranker, emb_sig)
    # The gazetteer artifacts are driver-side Python (the term indexes:
    # decoration, disambiguation and embedding of every term; the
    # entities: union-find over the alias pairs). Each is built at most
    # once, and only inside the compute of a stage that consumes it, so
    # a resumed stage never pays for it.
    indexes = _Once(
        lambda: build_indexes(gazetteer_pdf, k=k, embedder=embedder)
    )
    entity_tables = _Once(lambda: build_entities_local(spark, gazetteer_pdf))
    fine = checkpoint_granularity == "fine"
    # entities/code2entity depend ONLY on the gazetteer, so their stages
    # are submitted NOW and overlap the python-heavy mentions/linked
    # stages (guide §2.6: actions are only sequential because driver
    # code calls them sequentially); each write is a tiny job that
    # back-fills executors the Arrow/python phases leave idle.
    pool = ThreadPoolExecutor(max_workers=3)
    try:
        if fine and not cat.exists("linked", link_sig):
            # linked will compute: build its indexes on the driver while
            # the mentions job runs on the executors
            indexes.prefetch(pool)
        f_ent = pool.submit(
            cat.stage, "entities", _sig(gaz_sig),
            lambda: entity_tables.get()[0],
        )
        f_c2e = pool.submit(
            cat.stage, "code2entity", _sig(gaz_sig),
            lambda: entity_tables.get()[1],
        )
        if fine:
            # a mentions snapshot, then a linked snapshot from the
            # linking kernel over it (both at mention grain)
            mentions = cat.stage(
                "mentions",
                _sig(input_sig, gaz_sig),
                lambda: detect_mentions(
                    pages, gazetteer_pdf, num_partitions=num_partitions
                ),
            )
            linked = cat.stage(
                "linked",
                link_sig,
                lambda: link_mentions(
                    mentions, indexes.get(), k=k, embedder=embedder,
                    reranker=reranker,
                ),
            )
        else:
            # single fused python pass, single snapshot: the resumable
            # mode for throughput-bound runs
            linked = cat.stage(
                "linked",
                _sig(link_sig, "coarse"),
                lambda: detect_and_link(
                    pages,
                    gazetteer_pdf,
                    indexes.get(),
                    k=k,
                    embedder=embedder,
                    num_partitions=num_partitions,
                    reranker=reranker,
                ),
            )
            mentions = linked.select("url", "label", "start", "end", "span")
        entities_df = f_ent.result()
        code2entity = f_c2e.result()
    finally:
        # on an error: cancel the work not yet started and wait out the
        # running one, so no worker thread and no in-flight snapshot
        # write outlives the call
        pool.shutdown(wait=True, cancel_futures=True)

    # Run the triples/edges pair concurrently: both derive from the
    # already-published linked snapshot and share no data dependency, so
    # one pair member's write back-fills executors left idle by the
    # other's commit tail (guide §2.6). A kill mid-pair leaves at most
    # two recomputable stages. Their plans are analysed only when one of
    # the two stages computes, like the gazetteer artifacts above.
    triple_plans = _Once(lambda: build_triples(linked, code2entity))
    with ThreadPoolExecutor(max_workers=2) as pair:
        f_tri = pair.submit(
            cat.stage, "triples", link_sig, lambda: triple_plans.get()[0]
        )
        f_edg = pair.submit(
            cat.stage, "edges", link_sig, lambda: triple_plans.get()[1]
        )
        triples = f_tri.result()
        edges = f_edg.result()

    return PipelineResult(
        mentions=mentions,
        linked=linked,
        entities=entities_df,
        triples=triples,
        edges=edges,
    )


def verify_invariants(result: PipelineResult) -> dict[str, int]:
    """The reference's runtime asserts as validation queries (SURVEY.md §5.1):
    returns violation counts (all must be 0)."""
    dup_mentions = (
        result.mentions.groupBy("url", "start", "end", "label")
        .count()
        .filter("count > 1")
        .count()
    )
    empty_span = result.mentions.filter(F.length("span") == 0).count()
    bad_offsets = result.mentions.filter("start >= end").count()
    dup_edges = (
        result.edges.groupBy("src", "rel", "dst").count().filter("count > 1").count()
    )
    return {
        "dup_mention_keys": dup_mentions,
        "empty_spans": empty_span,
        "bad_offsets": bad_offsets,
        "dup_edges": dup_edges,
    }
