"""ner_linking_demo_spark — a PySpark-native knowledge-graph construction engine.

A brand-new implementation (NOT a port) of the computed semantics of the
reference repo ``guilopgar/ner-linking-demo``: NER -> candidate retrieval ->
reranking -> entity linking -> canonicalization -> (subj, pred, obj) triple
materialization, re-expressed as a batch DataFrame job designed for an
Iceberg table of Common-Crawl-style web pages at very large scale.

Layout
------
- ``session``      : SparkSession factory (AQE, Arrow, skew-join configured).
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

__version__ = "0.1.0"
