"""Pure-pandas oracle: the reference pipeline's semantics, single-process.

This module mirrors the *imperative* shape of the reference
(`/root/reference/server/ner/scripts/mentions_detection.py`,
`server/linking/scripts/mentions_normalization.py`,
`server/linking/src/candidates/faisslm.py:186-266`) with the deterministic
surrogate models, and serves as ground truth for the Spark engine's golden
tests. Deliberately different code path from the engine:

- per-mention k-NN search loop (like ``faisslm.py:205-209``) vs the
  engine's one-matmul-per-Arrow-batch;
- the k-distinct-codes scan as the reference's OrderedDict while-loop
  (``faisslm.py:219-248``) vs the engine's per-distinct-span dict scan
  inside its linking kernel (W3);
- per-doc python loop over pages vs mapInPandas.

Shared with the engine (single source of truth, so parity tests exercise
the *distribution*, not the model): tokenization, DictionaryMatcher,
HashEmbedder, disambiguate_terms, max_n_texts, and the ranking rule
(float64 scores from the float32 vectors, ties by ascending term ordinal).
"""

from __future__ import annotations

from collections import OrderedDict

import numpy as np
import pandas as pd

from ..functions.embedder import HashEmbedder, l2_normalize
from ..functions.gazetteer import disambiguate_terms
from ..functions.matcher import DictionaryMatcher
from ..functions.term_index import max_n_texts_for

MENTION_COLS = ["url", "label", "start", "end", "span"]


def oracle_mentions(pages: pd.DataFrame, gazetteer: pd.DataFrame) -> pd.DataFrame:
    """NER stage: per-document dictionary match (reference flow
    `mentions_detection.py:130-293` with the surrogate classifier)."""
    terms_by_label = {
        label: list(sub["term"]) for label, sub in gazetteer.groupby("label")
    }
    matcher = DictionaryMatcher(terms_by_label)
    rows = []
    for _, page in pages.iterrows():
        for label, start, end, span in matcher.find_mentions(page["text"]):
            rows.append(
                {
                    "url": page["url"],
                    "label": label.upper(),
                    "start": start,
                    "end": end,
                    "span": span,
                }
            )
    df = pd.DataFrame(rows, columns=MENTION_COLS)
    df = df.sort_values(["url", "start", "end", "label"]).reset_index(drop=True)
    assert not df[["url", "start", "end", "label"]].duplicated().any()
    return df


def _k_distinct_scan(
    neighbor_codes: list[str], neighbor_scores: list[float], k: int
) -> tuple[list[str], list[tuple[str, float, int]]]:
    """The reference's insertion-order k-distinct-codes scan
    (``faisslm.py:219-248``): walk neighbours in similarity order, stop
    once k distinct codes collected. Returns (codes-in-first-seen-order,
    consumed (code, score, rank) rows)."""
    seen: "OrderedDict[str, bool]" = OrderedDict()
    consumed: list[tuple[str, float, int]] = []
    i = 0
    while len(seen) < k and i < len(neighbor_codes):
        code = neighbor_codes[i]
        if code not in seen:
            seen[code] = True
        consumed.append((code, neighbor_scores[i], i))
        i += 1
    return list(seen.keys()), consumed


def oracle_link(
    mentions: pd.DataFrame,
    gazetteer: pd.DataFrame,
    k: int = 3,
    embedder: HashEmbedder | None = None,
) -> pd.DataFrame:
    """Linking stage (`mentions_normalization.py:92-171` flow): per entity
    type, embed spans, exact-IP search the gazetteer term matrix, run the
    k-distinct scan; returns mentions + ``codes`` (list[str], first-seen
    order) + ``scores`` (best similarity per code)."""
    embedder = embedder or HashEmbedder()
    if mentions.empty:
        out = mentions.copy()
        out["codes"] = [[] for _ in range(len(out))]
        out["scores"] = [[] for _ in range(len(out))]
        return out

    parts = []
    for entity_type in sorted(set(mentions["label"])):
        sub = mentions[mentions["label"] == entity_type].copy()
        gaz_sub = gazetteer[gazetteer["label"] == entity_type.lower()]
        term2code = disambiguate_terms(gaz_sub)
        arr_text = sorted(term2code.keys())
        max_n = min(max_n_texts_for(term2code, k), len(arr_text))
        emb = l2_normalize(embedder.encode(arr_text)).astype(np.float64)
        queries = l2_normalize(embedder.encode(list(sub["span"])))

        codes_col, scores_col = [], []
        for q in queries:  # reference searches one query at a time
            # the engine's ranking rule (TermIndex.search): float64
            # scores from the float32 vectors, ties by term ordinal,
            # emitted as float32
            scores = emb @ q.astype(np.float64)
            order = np.lexsort((np.arange(len(scores)), -scores))[:max_n]
            ncodes = [term2code[arr_text[j]] for j in order]
            nscores = [float(np.float32(scores[j])) for j in order]
            codes, consumed = _k_distinct_scan(ncodes, nscores, k)
            best: dict[str, float] = {}
            for code, score, _ in consumed:
                best.setdefault(code, score)
            codes_col.append(codes)
            scores_col.append([best[c] for c in codes])
        sub["codes"] = codes_col
        sub["scores"] = scores_col
        parts.append(sub)

    out = pd.concat(parts).sort_values(["url", "start", "end", "label"])
    assert not out[["url", "start", "end", "label"]].duplicated().any()
    return out.reset_index(drop=True)


def oracle_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    """Connected components by union-find (ground truth for the engine's
    large-star/small-star DataFrame iteration). Component id = lexicographic
    min node."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    # path-compress to min representative
    comp: dict[str, str] = {}
    for node in list(parent):
        comp[node] = find(node)
    # find() with union-by-min already yields the lexicographic min root
    return comp


def oracle_triples(
    linked: pd.DataFrame, gazetteer: pd.DataFrame
) -> tuple[pd.DataFrame, pd.DataFrame, pd.DataFrame]:
    """Materialize (triples, entities, edges) from linked mentions
    (FIXTURES.md §5). Entity canonicalization = connected components over
    the alias bipartite graph term<->code (pre-disambiguation), per label.
    """
    gaz = gazetteer.copy()
    gaz["code"] = gaz["code"].astype(str)
    edge_pairs = [
        (f"c:{r.code}", f"t:{r.label}:{r.term}") for r in gaz.itertuples()
    ]
    comp = oracle_components(edge_pairs)

    code2entity = {
        node[2:]: comp[node] for node in comp if node.startswith("c:")
    }
    ent_rows: dict[str, dict] = {}
    for node, c in comp.items():
        e = ent_rows.setdefault(c, {"entity_id": c, "codes": [], "aliases": []})
        if node.startswith("c:"):
            e["codes"].append(node[2:])
        else:
            e["aliases"].append(node.split(":", 2)[2])
    entities = pd.DataFrame(
        [
            {
                "entity_id": e["entity_id"],
                "canonical_code": min(e["codes"]) if e["codes"] else None,
                "aliases": sorted(set(e["aliases"])),
            }
            for e in ent_rows.values()
        ]
    ).sort_values("entity_id").reset_index(drop=True)

    trip_rows = []
    for r in linked.itertuples():
        for rank, (code, score) in enumerate(zip(r.codes, r.scores)):
            trip_rows.append(
                {
                    "subj": r.url,
                    "pred": f"HAS_{r.label}",
                    "obj": code2entity.get(code, f"c:{code}"),
                    "code": code,
                    "rank": rank,
                    "start": r.start,
                    "end": r.end,
                    "span": r.span,
                    "score": np.float32(score),
                }
            )
    triples = pd.DataFrame(
        trip_rows,
        columns=[
            "subj", "pred", "obj", "code", "rank", "start", "end", "span",
            "score",
        ],
    )
    triples = triples.sort_values(
        ["subj", "start", "end", "pred", "rank"]
    ).reset_index(drop=True)

    edges = triples[["subj", "pred", "obj"]].drop_duplicates()
    edges = edges.set_axis(["src", "rel", "dst"], axis=1)
    edges = edges.sort_values(["src", "rel", "dst"]).reset_index(drop=True)
    return triples, entities, edges
