"""ner_linking_demo_spark — a PySpark-native knowledge-graph construction engine.

A brand-new implementation (NOT a port) of the computed semantics of the
reference repo ``guilopgar/ner-linking-demo``: NER -> candidate retrieval ->
reranking -> entity linking -> canonicalization -> (subj, pred, obj) triple
materialization, re-expressed as a batch DataFrame job designed for an
Iceberg table of Common-Crawl-style web pages at very large scale.

Layout
------
- ``session``      : SparkSession factory (AQE, Arrow, skew-join configured).
- ``_worker``      : stat-guarded zipimport refresh, installed only inside a
                     PySpark Python worker task (CPython < 3.13).
- ``functions``    : pure/columnar building blocks (offset tokenization,
                     hash embedder, gazetteer disambiguation, text analysis).
- ``operators``    : DataFrame->DataFrame stages (ner, linking, canonicalize,
                     dedup, similarity, multimodal).
- ``sources``      : pages/gazetteer readers + synthetic deterministic fixtures.
- ``plans``        : end-to-end pipeline with checkpoints, lineage, resume.
- ``streaming``    : two foreachBatch wrappers that run the batch KG pipeline
                     and the batch curation chain per micro-batch — the
                     reference is strictly batch (SURVEY.md §2.8).
- ``oracle``       : single-process pandas reimplementation of the reference
                     semantics, used by the test harness as ground truth.
"""

import sys

__version__ = "0.1.0"

# Inside a Python worker task (pyspark.worker has set the task context),
# stop every later task from re-reading pyspark.zip; see ``_worker``.
_tc = sys.modules.get("pyspark.taskcontext")
if (
    sys.version_info < (3, 13)
    and _tc is not None
    and _tc.TaskContext.get() is not None
):
    from ner_linking_demo_spark._worker import install

    install()
