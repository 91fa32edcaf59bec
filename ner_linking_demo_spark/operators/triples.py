"""Graph materialization: linked mentions -> (triples, entities, edges).

Output contract (FIXTURES.md §5):
- triples(subj=url, pred=HAS_<LABEL>, obj=entity_id, code, rank, start,
  end, span, score) — one row per (mention, linked code), rank = position
  in the mention's first-seen-order code list;
- entities(entity_id, canonical_code, aliases array<string>) — one row per
  connected component of the alias bipartite graph code <-> (label, term);
- edges(src, rel, dst) — distinct (subj, pred, obj).

Scale posture: the code->entity map is component output over the gazetteer
(dimension-sized) — broadcast join against the mention-scale triples;
entity aggregation groups the dimension table only. The only page-scale
shuffle is the final dropDuplicates on edges (bounded by distinct
(url, pred, entity), itself bounded by triples).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .canonicalize import connected_components


def build_entities(gazetteer_df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """-> (entities DF, code2entity DF(code, entity_id)). The alias graph
    is bipartite, ``c:<code>`` <-> ``t:<label>:<term>``: before
    disambiguation every (code, term) alias pair is an equivalence
    assertion."""
    edges = gazetteer_df.select(
        F.concat(F.lit("c:"), F.col("code").cast("string")).alias("src"),
        F.concat(
            F.lit("t:"), F.col("label"), F.lit(":"), F.col("term")
        ).alias("dst"),
    )
    comp = connected_components(edges)
    comp = comp.withColumn("is_code", F.col("node").startswith("c:"))

    entities = (
        comp.groupBy(F.col("component").alias("entity_id"))
        .agg(
            F.min(
                F.when(F.col("is_code"), F.expr("substring(node, 3)"))
            ).alias("canonical_code"),
            F.sort_array(
                F.collect_set(
                    F.when(
                        ~F.col("is_code"),
                        F.element_at(F.split(F.col("node"), ":", 3), 3),
                    )
                )
            ).alias("aliases"),
        )
    )
    code2entity = comp.where("is_code").select(
        F.expr("substring(node, 3)").alias("code"),
        F.col("component").alias("entity_id"),
    )
    return entities, code2entity


def build_entities_local(spark, gazetteer_pdf) -> tuple[DataFrame, DataFrame]:
    """Driver-side entity build for dimension-sized (pandas) gazetteers:
    union-find over the alias pairs without any Spark jobs — the same
    scale-aware shortcut as connected_components' driver_threshold (the
    gazetteer is in driver memory already; at web scale only the *pages*
    are big, the alias graph stays dimension-sized). Distributed
    counterpart: :func:`build_entities` (identical results, tested)."""
    from .canonicalize import _driver_union_find

    pairs = [
        (f"c:{code}", f"t:{label}:{term}")
        for label, code, term in zip(
            gazetteer_pdf["label"],
            gazetteer_pdf["code"].astype(str),
            gazetteer_pdf["term"],
        )
    ]
    comp = _driver_union_find(pairs)
    ents: dict[str, dict] = {}
    c2e_rows = []
    for node, c in comp.items():
        e = ents.setdefault(c, {"codes": [], "aliases": []})
        if node.startswith("c:"):
            e["codes"].append(node[2:])
            c2e_rows.append((node[2:], c))
        else:
            e["aliases"].append(node.split(":", 2)[2])
    ent_rows = [
        (c, min(e["codes"]) if e["codes"] else None, sorted(set(e["aliases"])))
        for c, e in sorted(ents.items())
    ]
    entities = spark.createDataFrame(
        ent_rows, "entity_id string, canonical_code string, aliases array<string>"
    )
    code2entity = spark.createDataFrame(
        sorted(c2e_rows), "code string, entity_id string"
    )
    return entities, code2entity


def build_triples(
    linked: DataFrame, code2entity: DataFrame
) -> tuple[DataFrame, DataFrame]:
    """linked(url, start, end, label, span, codes, scores) ->
    (triples, edges)."""
    exploded = linked.select(
        "url",
        "label",
        "start",
        "end",
        "span",
        F.posexplode(F.arrays_zip("codes", "scores")).alias("rank", "cs"),
    ).select(
        F.col("url").alias("subj"),
        F.concat(F.lit("HAS_"), F.col("label")).alias("pred"),
        F.col("cs.codes").alias("code"),
        F.col("rank").cast("int").alias("rank"),
        "start",
        "end",
        "span",
        F.col("cs.scores").cast("float").alias("score"),
    )
    triples = (
        exploded.join(F.broadcast(code2entity), "code", "left")
        .select(
            "subj",
            "pred",
            F.coalesce(
                "entity_id", F.concat(F.lit("c:"), F.col("code"))
            ).alias("obj"),
            "code",
            "rank",
            "start",
            "end",
            "span",
            "score",
        )
    )
    edges = triples.select(
        F.col("subj").alias("src"),
        F.col("pred").alias("rel"),
        F.col("obj").alias("dst"),
    ).dropDuplicates(["src", "rel", "dst"])
    return triples, edges
