"""Canonicalization: connected components over alias/surface-form
equivalence (north_rule §2.10 extension; the reference's degenerate form is
the per-term seeded collapse at `gazetteer_pre_process.py:56-63`).

Algorithm: alternating large-star / small-star (Kiveris et al., "Connected
Components in MapReduce and Beyond", SoCC'14), expressed purely in
DataFrame ops so Catalyst/AQE handle distribution:

  large-star: for every node u, m = min(neighborhood(u) + u); connect every
              strictly-larger neighbour v > u to m.
  small-star: orient edges to (hi -> lo); for every hi, m = min(lo's + hi);
              connect every lo (and hi) to m.

Converges in O(log^2 n) rounds; component id = the component's
lexicographically smallest node. Skew posture (hot entities produce
star-shaped neighbourhoods of millions of edges at web scale):

- neighbourhood minima are computed with ``groupBy(u).agg(min(v))`` +
  re-join rather than ``collect_list`` — partial (map-side) aggregation
  absorbs hot keys, and no row ever materializes a full neighbourhood;
- AQE skew-join splitting handles the re-join against hot u's;
- each iteration ends in ``dropDuplicates`` on (src, dst), keeping the edge
  set minimal;
- iteration state is ``localCheckpoint``-ed to truncate lineage (at cluster
  scale: checkpoint to reliable storage instead).

Convergence check: the large-star edge set is a fixpoint iff every edge
already points at its component minimum; we test sum-of-hashes equality,
an O(1)-driver-side comparison of a distributed aggregate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _min_neighbor(edges: DataFrame) -> DataFrame:
    """(src, dst) bidirectional edges -> (src, mn) where
    mn = min(min(dst), src)."""
    return edges.groupBy("src").agg(
        F.least(F.min("dst"), F.first("src")).alias("mn")
    )


def _large_star(edges: DataFrame) -> DataFrame:
    bidir = edges.union(edges.select(F.col("dst").alias("src"), F.col("src").alias("dst")))
    mn = _min_neighbor(bidir)
    return (
        bidir.join(mn, "src")
        .where(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .union(mn.select(F.col("src"), F.col("mn").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _small_star(edges: DataFrame) -> DataFrame:
    oriented = edges.select(
        F.greatest("src", "dst").alias("src"), F.least("src", "dst").alias("dst")
    )
    mn = _min_neighbor(oriented)
    return (
        oriented.join(mn, "src")
        .select(F.col("dst").alias("src"), F.col("mn").alias("dst"))
        .union(mn.select("src", F.col("mn").alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .dropDuplicates(["src", "dst"])
    )


def _signature(edges: DataFrame) -> tuple[int, int]:
    row = edges.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _driver_union_find(pairs: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = (ra, rb) if ra < rb else (rb, ra)
            parent[hi] = lo
    return {n: find(n) for n in list(parent)}


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
    driver_threshold: int = 200_000,
) -> DataFrame:
    """edges(src, dst) [undirected, any orientation, string node ids]
    -> DataFrame(node string, component string).

    Component id = lexicographic min node of the component. Isolated nodes
    (self-loops or src==dst rows) map to themselves.

    Scale-aware physical choice: edge sets under ``driver_threshold``
    (dimension-sized alias graphs — the common canonicalization input)
    are solved with driver-side union-find in one pass instead of paying
    O(log n) distributed iterations of shuffle latency; larger graphs run
    the alternating-star DataFrame iteration. Results are identical
    (tested both ways); set ``driver_threshold=0`` to force distributed.
    """
    e = (
        edges.select(F.col(src).cast("string").alias("src"),
                     F.col(dst).cast("string").alias("dst"))
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .dropDuplicates(["src", "dst"])
    )
    if driver_threshold:
        # AQE-style runtime stats probe: cheap count decides the strategy.
        n_edges = e.count()
        if n_edges <= driver_threshold:
            pairs = [(r["src"], r["dst"]) for r in e.collect()]
            comp = _driver_union_find(pairs)
            spark = edges.sparkSession
            # explicit schema: an empty edge set (e.g. a corpus with no
            # near-duplicate pairs) must yield a schema-stable empty
            # result, not a CANNOT_INFER_EMPTY_SCHEMA error.
            # broadcast hint: this result is driver-sized BY
            # CONSTRUCTION (<= 2 * driver_threshold rows) but lands in
            # downstream plans as a stats-less parallelized RDD, so
            # without the hint a consumer like run_corpus_pipeline's
            # representative anti-join plans a full sort-merge exchange
            # of the corpus against a dimension-sized table (round-6;
            # guide §3.1 "estimates are often badly wrong — hint when
            # you know a side is small"). The distributed path below
            # stays unhinted: its output is graph-sized.
            return F.broadcast(
                spark.createDataFrame(
                    sorted(comp.items()),
                    schema="node string, component string",
                )
            )
    all_nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    e = e.where(F.col("src") != F.col("dst"))

    prev_sig = None
    for _ in range(max_iter):
        e = _large_star(e).localCheckpoint(eager=True)
        e = _small_star(e).localCheckpoint(eager=True)
        sig = _signature(e)
        if sig == prev_sig:
            break
        prev_sig = sig

    # After convergence every edge is (node -> component-min).
    membership = e.select(F.col("src").alias("node"), F.col("dst").alias("component"))
    membership = membership.groupBy("node").agg(F.min("component").alias("component"))
    return (
        all_nodes.join(membership, "node", "left")
        .select(
            "node",
            F.coalesce("component", "node").alias("component"),
        )
    )


# Touched-member fraction of the prior assignment at which
# incremental_components gives up on the delta path (see its docstring).
DEGENERATE_FRACTION = 0.5


def incremental_components(
    prev: DataFrame,
    new_edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    degenerate_floor: int = 100_000,
    **cc_kwargs,
) -> DataFrame:
    """Fold a batch of new alias edges into an existing (node, component)
    assignment WITHOUT recomputing the full graph — the canonicalization
    step an incremental 10^12-doc pipeline actually runs per batch, where
    the accumulated entity graph dwarfs every delta.

    Only components TOUCHED by the new edges are recomputed: prior
    assignments double as (member -> component-id) edges, so running
    :func:`connected_components` over {new edges} ∪ {membership edges of
    touched components} yields ids identical to a full recompute — the
    id convention (component = lexicographic min member) makes min over
    the merged member set equal min over the union graph. Untouched
    components pass through verbatim (anti-join), giving per-batch cost
    O(delta + touched members), not O(graph).

    Shuffle accounting: two semi-join-shaped probes (touched nodes ->
    touched components -> members) + the CC iteration on the delta
    subgraph. The touched-component id set is typically dimension-sized:
    AQE broadcast-joins it at runtime.

    ADVERSARIAL-MERGE BOUND: the O(delta + touched) cost claim assumes
    batches touch a small slice of the graph. A batch whose edges land
    in MOST components (e.g. a hub page linking everything) makes
    ``affected`` approach the whole graph and the "delta" recompute
    silently degenerates into a full CC plus the probe joins on top.
    A guard makes that explicit: when the touched-member fraction
    reaches ``DEGENERATE_FRACTION``, a warning is emitted and the fold
    switches to a plain full recompute over {new edges} ∪ {all
    membership edges} — same ids (property-tested), minus the now-
    pointless anti-join bookkeeping.

    Guard cost is bounded so the per-batch streaming fold doesn't pay
    an O(state) job for protection it rarely needs: the touched set is
    materialized (it feeds the edge set anyway) and counted — that count
    is delta-sized on normal batches — and the DENOMINATOR job
    (``prev.count()``) only runs once ``n_affected >=
    degenerate_floor``. Below the floor the delta recompute is cheap no
    matter what fraction it is, so knowing the fraction buys nothing.
    Pass ``degenerate_floor=0`` to always evaluate the fraction (tests
    do).

    Equivalence to full recompute is property-tested across random
    batch splits in tests/test_canonicalize.py.
    """
    e = (
        new_edges.select(
            F.col(src).cast("string").alias("src"),
            F.col(dst).cast("string").alias("dst"),
        )
        .where(F.col("src").isNotNull() & F.col("dst").isNotNull())
        .dropDuplicates(["src", "dst"])
    )
    prev = prev.select(
        F.col("node").cast("string").alias("node"),
        F.col("component").cast("string").alias("component"),
    )
    touched_nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    touched_comps = (
        prev.join(touched_nodes, "node").select("component").distinct()
    )
    # one materialization feeds the fraction probe AND the edge set
    affected = prev.join(touched_comps, "component").localCheckpoint(
        eager=True
    )
    n_affected = affected.count()
    # the O(state) denominator count only runs past the floor
    n_prev = prev.count() if n_affected >= degenerate_floor else None
    if n_prev and n_affected / n_prev >= DEGENERATE_FRACTION:
        import warnings

        warnings.warn(
            f"incremental_components: batch touches {n_affected}/"
            f"{n_prev} ({n_affected / n_prev:.0%}) of prior members "
            f"(>= {DEGENERATE_FRACTION:.0%}); switching to full "
            "recompute — the delta strategy has degenerated",
            RuntimeWarning,
            stacklevel=2,
        )
        full_edges = e.unionByName(
            prev.select(
                F.col("node").alias("src"), F.col("component").alias("dst")
            )
        )
        return connected_components(full_edges, **cc_kwargs)
    edge_set = e.unionByName(
        affected.select(
            F.col("node").alias("src"), F.col("component").alias("dst")
        )
    )
    recomputed = connected_components(edge_set, **cc_kwargs)
    untouched = prev.join(touched_comps, "component", "left_anti")
    return untouched.select("node", "component").unionByName(recomputed)
