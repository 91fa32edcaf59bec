"""Streaming: the reference is strictly batch (SURVEY.md §2.8 — file in /
file out; no watermarks, windows, or stateful ops exist to reproduce), and
the north star targets a batch DataFrame job. Resumability comes from
snapshot checkpoints (plans/catalog.py), not Structured Streaming.

What is here is the one incremental form §2.8 names, the same pipeline
body under ``foreachBatch``, committed per batch through
``plans.fs.BatchLayout``: :func:`incremental_pipeline` runs
``run_pipeline``, :func:`incremental_corpus_pipeline` runs
``plans.corpus_pipeline.curate_docs`` and dedups against every earlier
batch through the signature store.
"""

from .corpus import incremental_corpus_pipeline  # noqa: F401
from .incremental import incremental_pipeline  # noqa: F401
