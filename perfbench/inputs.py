"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed: the same seed gives
byte-identical inputs. The program under test receives only what these
functions return (pages written as parquet, a pandas gazetteer).

- ``gen_documents``: a stand-in for the harness ``documents`` table
  (sf0.1, the corpus ``bench.py`` reads), which the benchmark cannot
  read because a benchmark checkout holds only the repository's files.
  It copies that table's make-up: the same 30 lowercase engine words
  drawn uniformly, 10-99 words per document, 5 % near-duplicates that
  append " dup" to another document, the same language mix and 20
  sources. The harness 12-term gazetteer matches the same 5 spans in
  both (``window``, ``filter``, ``scan``, ``hash join``, ``sort merge
  join``); its other 7 terms occur in neither. ``python3
  perfbench/inputs.py <documents.parquet>`` prints both profiles.
- the clinical workloads reuse ``sources.fixtures.gen_gazetteer`` and
  ``gen_pages`` (giant page every 50th, 3 hot terms at 40 %, multi-byte
  text) at a SNOMED-like gazetteer size.
"""

from __future__ import annotations

import random
import sys
from collections import Counter

import pandas as pd

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ("en", "en", "en", "zh", "es", "fr", "de")
_NEAR_DUP = 0.05

CLINICAL_CODES = 2000  # per label; ~5.1k distinct terms per label


def gen_documents(n_docs: int, seed: int) -> pd.DataFrame:
    """(doc_id, text, lang, source) word-salad documents."""
    rng = random.Random(f"documents-{seed}")
    base = [
        " ".join(rng.choice(_VOCAB) for _ in range(rng.randint(10, 99)))
        for _ in range(n_docs)
    ]
    texts = [
        base[rng.randrange(n_docs)] + " dup" if rng.random() < _NEAR_DUP else t
        for t in base
    ]
    return pd.DataFrame(
        {
            "doc_id": range(n_docs),
            "text": texts,
            "lang": [rng.choice(_LANGS) for _ in range(n_docs)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
        }
    )


def replicate_as_pages(docs: pd.DataFrame, replicas: int) -> pd.DataFrame:
    """``replicas`` copies of every document as (url, text) pages with
    distinct urls, the same scale-up ``bench.py`` applies to its corpus."""
    parts = [
        pd.DataFrame(
            {
                "url": "doc://" + docs["doc_id"].astype(str) + f"#r{rep}",
                "text": docs["text"],
            }
        )
        for rep in range(replicas)
    ]
    return pd.concat(parts, ignore_index=True)


def clinical_inputs(n_pages: int, seed: int) -> tuple[pd.DataFrame, pd.DataFrame]:
    """(gazetteer, pages[url, text]) from the fixture generators."""
    from ner_linking_demo_spark.sources.fixtures import gen_gazetteer, gen_pages

    gaz = gen_gazetteer(n_codes=CLINICAL_CODES, seed=seed)
    pages = gen_pages(n_pages, seed=seed, gazetteer=gaz)
    return gaz, pages[["url", "text"]]


def profile(docs: pd.DataFrame) -> dict:
    """What the web workload's layers see in ``docs``: the harness
    gazetteer's mentions and distinct spans (the engine's own matcher),
    document length, near-duplicates and the language mix."""
    from ner_linking_demo_spark.functions.matcher import DictionaryMatcher
    from ner_linking_demo_spark.plans.entry_queries import _harness_gazetteer

    gaz = _harness_gazetteer()
    matcher = DictionaryMatcher(
        {str(label): list(sub["term"]) for label, sub in gaz.groupby("label")}
    )
    spans = Counter(
        span for text in docs["text"]
        for _label, _s, _e, span in matcher.find_mentions(text)
    )
    words = docs["text"].str.split().str.len()
    texts = set(docs["text"])
    return {
        "docs": len(docs),
        "mentions": sum(spans.values()),
        "distinct_spans": len(spans),
        "spans": dict(spans.most_common()),
        "words_mean": round(float(words.mean()), 1),
        "words_max": int(words.max()),
        "near_dups": int(sum(
            t.endswith(" dup") and t[:-4] in texts for t in docs["text"]
        )),
        "lang": docs["lang"].value_counts(normalize=True).round(3).to_dict(),
        "sources": int(docs["source"].nunique()),
    }


if __name__ == "__main__":
    import json
    import os

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    real = pd.read_parquet(sys.argv[1])
    print("table ", json.dumps(profile(real)))
    for seed in (1, 2):
        print(f"seed {seed}", json.dumps(profile(gen_documents(len(real), seed))))
