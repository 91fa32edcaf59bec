"""PageRank over the entity graph — entity-importance scoring for the
materialized KG (§2.10 extension alongside connected components; the
reference has no graph analytics, its closest artifact being the edge
table the demo writes to Mongo — SURVEY S8).

Spark-first power iteration, the GraphFrames/Pregel shape expressed in
plain DataFrame ops:

- the edge list is materialized ONCE (localCheckpoint), so per-round
  cost is the contribution join + aggregate, never a re-derivation of
  the input. NOTE a checkpointed RDD does NOT report its partitioning
  to Catalyst, so the join still exchanges the edge side each round
  (plan-verified); for the at-rest form that genuinely eliminates the
  per-round edge shuffle, write the edges as a bucketed table
  (:func:`write_bucketed_edges`) — a bucketed scan reports hash
  clustering on ``src``, and only the (node, rank) vector — two doubles
  per node, tiny relative to any real edge set — moves per round;
- contributions aggregate with ``groupBy(dst).sum`` — map-side partial
  aggregation absorbs hot destinations (popular entities are exactly
  the skewed keys at web scale);
- dangling mass (nodes with no out-edges) is a one-row distributed
  aggregate per iteration, redistributed uniformly — without it rank
  leaks and the vector no longer sums to 1;
- rank state is localCheckpoint-ed per iteration to truncate lineage
  (same discipline as canonicalize.connected_components);
- convergence = L1 delta between successive vectors (one distributed
  aggregate per iteration, O(1) to the driver), stop at ``tol``.

Determinism: float summation order inside a shuffle aggregate is not
fixed, so ranks are reproducible to float tolerance, not bit-identical
— the documented contract (the convergence tests compare against the
numpy oracle at 1e-6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import write_bucketed


def _weight_expr(weight_col: str | None):
    """Casted weight column (1.0 when unweighted). try_cast, not cast:
    ANSI mode would throw task-side on an uncastable string — the null
    it becomes here is caught by _validate_weights with a clear error."""
    if weight_col is None:
        return F.lit(1.0)
    return F.col(weight_col).try_cast("double")


def _validate_weights(e: DataFrame) -> None:
    """Raise on null / non-positive / NaN / infinite weights — checked
    on the CASTED value (a NaN passes neither isNull nor <= 0 in Spark's
    ordering; +inf zeroes a source's rate; an uncastable string
    try_casts to null)."""
    bad = e.filter(
        F.col("w").isNull()
        | F.isnan("w")
        | (F.col("w") <= 0)
        | (F.col("w") == float("inf"))
    )
    if bad.limit(1).count() > 0:
        raise ValueError(
            "edge weights must be positive, finite and non-null (a zero/"
            "negative weight inverts rank flow; null/NaN/inf weights "
            "erase or leak rank mass)"
        )


def _repartition_checkpoint(df: DataFrame, num_partitions: int | None):
    if num_partitions:
        df = df.repartition(num_partitions, "src")
    else:
        df = df.repartition("src")
    return df.localCheckpoint(eager=True)


def pagerank(
    edges: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    src_col: str = "src",
    dst_col: str = "dst",
    num_partitions: int | None = None,
    prepared: bool = False,
    weight_col: str | None = None,
) -> DataFrame:
    """(src, dst) directed edges -> (node, rank), ranks summing to 1.

    Without ``weight_col``, parallel edges are collapsed first
    (dropDuplicates): an entity pair asserted by many pages is one
    endorsement, not many. WITH ``weight_col`` (weighted PageRank —
    e.g. assertion counts or rerank scores as edge strength), each
    source distributes its rank proportionally to edge weight
    (share = rank * w / sum_w over the source's out-edges); duplicate
    (src, dst) pairs are summed into one weighted edge. Weights that are
    null, non-positive, NaN, infinite, or uncastable raise — each would
    silently invert, erase, or leak rank mass. Validation runs in BOTH
    the prepared and unprepared paths (for a prepared bucketed scan it
    is one extra pass over the at-rest table — a correctness cost the
    docstring promise is worth).

    ``prepared=True`` means the caller's ``edges`` is already
    materialized in the layout it should be iterated over — e.g. a scan
    of a :func:`write_bucketed_edges` table, whose bucket clustering on
    ``src`` would be DESTROYED by the repartition+checkpoint this
    function otherwise applies — AND already normalized: deduplicated
    (unweighted) or weight-aggregated per (src, dst) pair (weighted;
    ``write_bucketed_edges(weight_col=...)`` produces exactly that).
    """
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    e = _normalize_edges(
        edges, src_col, dst_col, weight_col, prepared, num_partitions
    )
    nodes, n, base = _rank_base(e)
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    ranks = base.withColumn("rank", F.lit(1.0 / n))
    ranks, _ = _power_iterate(e, base, ranks, n, damping, max_iter, tol)
    return ranks.select("node", "rank")


def _normalize_edges(
    edges: DataFrame,
    src_col: str,
    dst_col: str,
    weight_col: str | None,
    prepared: bool,
    num_partitions: int | None,
) -> DataFrame:
    """Normalized (src, dst, w) edge set: deduplicated (unweighted) or
    per-pair weight-aggregated (weighted), materialized in the layout
    the iteration should run over — unless ``prepared``, which trusts
    the caller's at-rest layout (see :func:`pagerank`)."""
    if prepared:
        # trust the LAYOUT: a prepared input (e.g. a
        # write_bucketed_edges scan) is already deduplicated /
        # weight-aggregated, and any dedup or repartition here would
        # insert the very Exchange the bucketed layout exists to avoid
        # (dropDuplicates reclusters on (src, dst) — per ITERATION,
        # since e is re-planned each round)
        e = edges.select(
            F.col(src_col).cast("string").alias("src"),
            F.col(dst_col).cast("string").alias("dst"),
            _weight_expr(weight_col).alias("w"),
        )
        if weight_col is not None:
            _validate_weights(e)
    elif weight_col is None:
        e = _repartition_checkpoint(
            edges.select(
                F.col(src_col).cast("string").alias("src"),
                F.col(dst_col).cast("string").alias("dst"),
                F.lit(1.0).alias("w"),
            ).dropDuplicates(["src", "dst"]),
            num_partitions,
        )
    else:
        # checkpoint the casted projection FIRST so validation and the
        # per-pair aggregation read it once — validating the raw input
        # would re-execute the whole upstream lineage a second time
        proj = _repartition_checkpoint(
            edges.select(
                F.col(src_col).cast("string").alias("src"),
                F.col(dst_col).cast("string").alias("dst"),
                _weight_expr(weight_col).alias("w"),
            ),
            num_partitions,
        )
        _validate_weights(proj)
        e = _repartition_checkpoint(
            proj.groupBy("src", "dst").agg(F.sum("w").alias("w")),
            num_partitions,
        )
    return e


def _rank_base(e: DataFrame):
    """(nodes, n, base) for a normalized edge set ``e``: the distinct
    node table, its count, and (node, deg) with deg = total out-weight,
    NULL for dangling nodes — joined once, rides the rank table so the
    per-iteration work never re-derives it."""
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes, 0, nodes
    out_deg = e.groupBy("src").agg(F.sum("w").alias("deg"))
    base = nodes.join(
        out_deg.withColumnRenamed("src", "node"), "node", "left"
    ).localCheckpoint(eager=True)
    return nodes, n, base


# node-count ceiling under which the per-iteration (node, rank/deg)
# vector MAY be broadcast instead of shuffle-joined against the edge
# set — ~24 bytes/row keeps 2M nodes well under typical executor
# headroom
BROADCAST_NODES = 2_000_000
# ...but broadcast only pays when the edge side is much larger than the
# rank vector: each broadcast is a blocking driver round-trip per
# iteration, measured ~25% SLOWER than the shuffle join on a sparse
# ~2-edges-per-node graph at bench scale, while on a dense graph the
# avoided per-iteration edge exchange dominates. The decision is
# data-derived (node count + average degree), not tuned to a core count.
BROADCAST_MIN_DEGREE = 16
# below this node count the shuffle joins are trivially cheap and even
# the one-off edge-count probe is measurable overhead
SMALL_GRAPH_NODES = 100_000


def _power_iterate(
    e: DataFrame,
    base: DataFrame,
    ranks: DataFrame,
    n: int,
    damping: float,
    max_iter: int,
    tol: float,
) -> tuple[DataFrame, int]:
    """The power-iteration loop shared by cold-start :func:`pagerank`
    and warm-start :func:`incremental_pagerank`. ``ranks`` must carry
    (node, deg, rank) with the vector summing to 1. Returns the final
    rank table and the number of iterations actually run.

    When the node count (known exactly — ``n``) fits the broadcast
    ceiling AND the graph is dense enough that the per-iteration edge
    exchange dominates (average degree >= the configured floor), the
    (node, rate) vector and the contribution table are broadcast-joined
    (round-6; guide §3.1): checkpointed RDDs carry no Catalyst stats,
    so without the hint every iteration pays a sort-merge exchange of
    BOTH join sides — three exchanges per round drop to one (the
    map-side-combined contribution aggregate). On sparse graphs the
    blocking per-iteration broadcast round-trips cost more than the
    tiny shuffles they replace (measured), so the shuffle join stays
    the default there; both thresholds are data-derived, not tuned to
    any core count."""
    from pyspark.sql import Observation

    iters = 0
    bcast = False
    # below the small-graph floor skip the decision entirely (the
    # measured-fastest r5 plan)
    if SMALL_GRAPH_NODES < n <= BROADCAST_NODES:
        # one cheap count over the materialized edge set decides the
        # join strategy for every iteration
        bcast = e.count() >= BROADCAST_MIN_DEGREE * n
    hint = F.broadcast if bcast else (lambda df: df)
    # Dangling mass of the CURRENT vector is an input to the update, so
    # it used to cost a blocking aggregate job per round. Only round 1
    # still pays it; every later round reads the sum from an
    # Observation riding the PREVIOUS round's localCheckpoint
    # materialization (round-6, guide §1.5/§2.6: CollectMetrics is
    # free on an action the loop already performs). Same sum over the
    # same rows — sum(when(deg IS NULL, rank)) ignores the NULLs the
    # filter+agg form dropped.
    dangling = (
        ranks.filter(F.col("deg").isNull())
        .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
        .first()[0]
    )
    _dangling_expr = F.coalesce(
        F.sum(F.when(F.col("deg").isNull(), F.col("rank"))), F.lit(0.0)
    ).alias("dangling")
    for _ in range(max_iter):
        iters += 1
        contribs = (
            e.join(
                hint(
                    ranks.select(
                        F.col("node").alias("src"),
                        (F.col("rank") / F.col("deg")).alias("rate"),
                    )
                ),
                "src",
            )
            .groupBy("dst")
            .agg(F.sum(F.col("rate") * F.col("w")).alias("contrib"))
        )
        obs = Observation()
        new_ranks = (
            base.join(
                hint(contribs.withColumnRenamed("dst", "node")),
                "node",
                "left",
            )
            .withColumn(
                "rank",
                F.lit((1.0 - damping) / n + damping * dangling / n)
                + F.lit(damping) * F.coalesce("contrib", F.lit(0.0)),
            )
            .drop("contrib")
            .observe(obs, _dangling_expr)
            .localCheckpoint(eager=True)
        )
        dangling = obs.get["dangling"]
        if tol > 0.0:
            delta = (
                new_ranks.select(
                    F.col("node"), F.col("rank").alias("new_rank")
                )
                .join(ranks.select("node", "rank"), "node")
                .agg(F.sum(F.abs(F.col("new_rank") - F.col("rank"))))
                .first()[0]
            )
        else:
            # tol=0 means "run exactly max_iter iterations": skip the
            # delta join entirely — one fewer distributed job per round
            delta = None
        ranks = new_ranks
        if delta is not None and delta < tol:
            break
    return ranks, iters


def incremental_pagerank(
    edges: DataFrame,
    prev_ranks: DataFrame,
    damping: float = 0.85,
    max_iter: int = 20,
    tol: float = 1e-6,
    src_col: str = "src",
    dst_col: str = "dst",
    num_partitions: int | None = None,
    prepared: bool = False,
    weight_col: str | None = None,
    return_stats: bool = False,
) -> DataFrame | tuple[DataFrame, int]:
    """Warm-start PageRank for an append-only KG: re-rank the CURRENT
    edge set seeding the iteration from ``prev_ranks`` (the (node, rank)
    output of the previous run) instead of uniform 1/n.

    This is the EXACT incremental form: the stationary vector is a
    property of the current graph alone, so the result is the same
    fixpoint :func:`pagerank` converges to (tol-bounded — equivalence
    property-tested); only the number of rounds changes. After a small
    delta batch the previous vector is already near the new fixpoint,
    so convergence takes a fraction of the cold-start rounds — and with
    ``prepared=True`` over a :func:`write_bucketed_edges` scan each
    remaining round moves ONLY the (node, rank) vector, never the edge
    list. Per-batch cost is thus O(near-fixpoint rounds), the honest
    exact-result floor; push-style or Monte-Carlo incremental PageRank
    touches less of the graph per batch but surrenders exactness, the
    wrong trade for a rank consumers prune entities with.

    Seeding: nodes keep their previous rank; nodes new in this batch
    enter at the uniform share 1/n; ranks of vanished nodes are dropped;
    the seed is renormalized to sum to 1 (power iteration preserves
    total mass, so an unnormalized seed would converge to a mis-scaled
    vector when tol stops it early). NaN/null previous ranks are
    discarded (treated as new nodes) rather than poisoning the vector.
    ``prev_ranks`` must be unique per node — :func:`pagerank` output is.

    ``return_stats=True`` additionally returns the number of iterations
    actually run (the quantity the warm start is buying down)."""
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    e = _normalize_edges(
        edges, src_col, dst_col, weight_col, prepared, num_partitions
    )
    nodes, n, base = _rank_base(e)
    if n == 0:
        out = nodes.withColumn("rank", F.lit(0.0))
        return (out, 0) if return_stats else out
    seed = base.join(
        prev_ranks.filter(~F.isnan("rank")).select(
            "node", F.col("rank").alias("prev_rank")
        ),
        "node",
        "left",
    ).withColumn(
        "raw", F.coalesce("prev_rank", F.lit(1.0 / n))
    )
    total = seed.agg(F.sum("raw")).first()[0]
    if total is None or total <= 0.0:
        raise ValueError(
            "prev_ranks carry no positive mass for the current node set"
        )
    ranks = (
        seed.withColumn("rank", F.col("raw") / F.lit(float(total)))
        .drop("prev_rank", "raw")
        .localCheckpoint(eager=True)
    )
    ranks, iters = _power_iterate(e, base, ranks, n, damping, max_iter, tol)
    out = ranks.select("node", "rank")
    return (out, iters) if return_stats else out


def write_bucketed_edges(
    edges: DataFrame,
    table: str,
    n_buckets: int = 64,
    path: str | None = None,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
) -> None:
    """Materialize the edge list as a Spark BUCKETED table clustered on
    ``src`` — the at-rest layout for iterative graph jobs. A bucketed
    scan reports its hash partitioning to Catalyst, so every power-iter
    contribution join exchanges ONLY the (node, rank) vector; a
    checkpointed DataFrame cannot provide this (its partitioning is
    opaque to the optimizer — plan-asserted in tests). Written by
    ``similarity.write_bucketed``, like the ANN indexes: at web scale
    this is the difference between re-shuffling the multi-TB edge list
    every iteration and never moving it at all.

    With ``weight_col``, duplicate (src, dst) pairs are sum-aggregated
    into one weighted edge at write time — the normalized form
    ``pagerank(..., prepared=True, weight_col="w")`` expects.

    Read back with ``spark.table(table)`` and pass
    ``pagerank(..., prepared=True)``."""
    if weight_col is None:
        normalized = edges.select(
            F.col(src_col).cast("string").alias("src"),
            F.col(dst_col).cast("string").alias("dst"),
        ).dropDuplicates(["src", "dst"])
    else:
        normalized = (
            edges.select(
                F.col(src_col).cast("string").alias("src"),
                F.col(dst_col).cast("string").alias("dst"),
                _weight_expr(weight_col).alias("w"),
            )
            .groupBy("src", "dst")
            .agg(F.sum("w").alias("w"))
        )
    write_bucketed(normalized, table, "src", n_buckets=n_buckets, path=path)


def entity_pagerank(
    kg_edges: DataFrame,
    max_iter: int = 20,
    weight_by_assertions: bool = False,
    prev_ranks: DataFrame | None = None,
) -> DataFrame:
    """PageRank over the KG pipeline's materialized edges table
    (src, rel, dst from operators/triples.build_triples) — the
    entity-importance diagnostic a KG consumer ranks/prunes with.

    ``weight_by_assertions=True`` counts how many (relation) rows assert
    each (src, dst) pair and uses that count as edge weight — the
    'many pages/relations endorse this link' signal; the default treats
    each distinct pair as one endorsement.

    ``prev_ranks`` (the output of the previous run) switches to the
    warm-start :func:`incremental_pagerank` — the per-batch form for a
    KG grown by append-only corpus batches."""
    if weight_by_assertions:
        src = kg_edges.groupBy("src", "dst").agg(
            F.count("*").cast("double").alias("w")
        )
        weight_col = "w"
    else:
        src = kg_edges.select("src", "dst")
        weight_col = None
    if prev_ranks is not None:
        return incremental_pagerank(
            src, prev_ranks, max_iter=max_iter, weight_col=weight_col
        )
    return pagerank(src, max_iter=max_iter, weight_col=weight_col)
