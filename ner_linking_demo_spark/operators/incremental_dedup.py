"""Incremental near-duplicate detection: new batches vs an append-only
signature store — the form corpus dedup actually takes in production,
where "the corpus" is 10^12 historical documents you cannot re-shingle
per batch.

The store (:class:`SignatureStore`, a ``BatchLayout``) holds (id, sig,
band, bucket) rows only — fixed-width numbers, never text — as a
``batch_id``-partitioned parquet layout committed per batch by
``plans.fs.publish`` (a replayed batch sees its published directory and
skips; the append is idempotent).

Two variants share one store match (:func:`_match_against_store`) and
differ only in their front half and their estimator:
- :func:`incremental_neardup` shingles + MinHashes ONLY the new docs
  (O(delta)) and bands the signatures; similarity = SIGNATURE-estimated
  Jaccard (fraction of agreeing minhash components). Estimated, not
  exact, by design: the exact verify would need history shingle sets,
  i.e. history text. With ``n_hashes`` components the estimate's
  std-err is sqrt(j(1-j)/n_hashes) (~0.12 at j=0.5, n=16); raise
  ``n_hashes`` in the store when tighter bounds are needed — the store
  schema carries the full signature for exactly this reason;
- :func:`incremental_embedding_neardup` stores a sign sketch under a
  coarse hyperplane bucket and probes its Hamming ball; similarity =
  the sketch-estimated cosine.

The match: candidate pairs = new ⋈ new (intra-batch) ∪ new ⋈ store (vs
history) on (band, bucket) — the new side is delta-sized, so Spark
broadcasts it against the store scan and the 10^12-row history is NEVER
shuffled.

Bucket skew (boilerplate buckets) is the same hazard as the one-shot
path: hot (band, bucket) keys on the history side explode candidate
counts. ``max_candidates_per_doc`` bounds the per-new-doc candidate set
deterministically (best estimated matches kept), and AQE skew-join
handles the join itself.
"""

from __future__ import annotations

import pandas as pd  # module-level: pandas_udf type hints resolve here
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..plans.fs import BatchLayout
from .dedup import (
    minhash_band_buckets,
    minhash_signatures_df,
    validate_minhash_params,
)


class SignatureStore(BatchLayout):
    """Append-only (id, sig, band, bucket) table: a
    :class:`~ner_linking_demo_spark.plans.fs.BatchLayout` rooted at
    ``<root>/data`` (publish/replay/compaction/retention come from the
    layout) plus hashing-parameter pinning in ``<root>/_PARAMS.json``."""

    def __init__(self, spark: SparkSession, root: str):
        root = root.rstrip("/")
        self.params_path = f"{root}/_PARAMS.json"
        super().__init__(spark, f"{root}/data")

    # -- hashing-parameter pinning ---------------------------------------
    # Signatures are only comparable under identical (n_hashes, bands,
    # shingle_size); the first append pins them in _PARAMS.json and every
    # later call must match — a silent mismatch would band-join different
    # signature layouts and report near-zero similarity (false negatives).
    def params(self) -> dict | None:
        import json

        if not self.fs.exists(self.params_path):
            return None
        return json.loads(self.fs.read_text(self.params_path))

    def pin_params(
        self,
        n_hashes: int,
        bands: int,
        shingle_size: int,
        write: bool = True,
    ) -> None:
        """Validate against the pinned params; pin them only when
        ``write`` (i.e. when signatures will actually be appended — a
        plan-audit dry run must not pin an empty store)."""
        import json

        want = {
            "n_hashes": int(n_hashes),
            "bands": int(bands),
            "shingle_size": int(shingle_size),
        }
        have = self.params()
        if have is None:
            if write:
                self.fs.write_text(self.params_path, json.dumps(want))
        elif have != want:
            raise ValueError(
                f"signature store {self.params_path} was built with {have}; "
                f"caller passed {want} — signatures are not comparable"
            )

    def append(self, banded: DataFrame | None, batch_id: int | str) -> bool:
        """Publish one batch's banded signatures; no-op (False) if this
        batch_id is already published — replay-idempotent (a replay may
        pass ``banded=None``)."""
        if banded is not None:
            banded = banded.select("id", "sig", "band", "bucket")
        return self.publish(banded, batch_id)


def resignature_store(
    spark: SparkSession,
    docs: DataFrame,
    old_store: SignatureStore,
    new_root: str,
    n_hashes: int,
    bands: int,
    shingle_size: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> SignatureStore:
    """Store MIGRATION: the job to run when pinned hashing params must
    change (wider ``n_hashes`` for a tighter history-Jaccard estimate,
    different banding for a new threshold). Signatures under different
    params are NOT comparable and NOT convertible — min-hashes of one
    seed set say nothing about another's — so migration re-shingles the
    ORIGINAL texts (``docs``: every id the old store holds, with text)
    and publishes fresh signatures into ``new_root`` pinned to the new
    params.

    Batch structure carries over: each old batch (including consolidated
    ``__c<N>`` partitions, which keep their pseudo-id so the new store
    reports the same ``compacted_upto`` and rejects the same replays) is
    re-signed and published under its old batch_id — one Spark job per
    batch, driver loop over the O(#batches) id list. Ids present in the
    store but missing from ``docs`` raise: silently dropping them would
    turn future history matches into false negatives."""
    validate_minhash_params(n_hashes, bands)  # BEFORE the pin
    hist = old_store.read()
    new_store = SignatureStore(spark, new_root)
    new_store.pin_params(n_hashes, bands, shingle_size, write=True)
    if hist is None:
        return new_store
    src = docs.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("text")
    )
    # ONE store scan, materialized once (id + batch id only — small
    # rows); coverage validation is a single anti-join COUNT against
    # the docs scan with the text column pruned (round-6: replaces two
    # full distinct-count jobs over a text-carrying materialization).
    members = (
        hist.select(
            "id", F.col("batch_id").cast("string").alias("batch_id")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    n_missing = (
        members.select("id")
        .distinct()
        .join(src.select("id"), "id", "left_anti")
        .count()
    )
    if n_missing:
        raise ValueError(
            f"{n_missing} ids in the signature store "
            "have no text in the docs input — a re-signed store missing "
            "them would silently stop matching their duplicates"
        )
    batch_ids = sorted(
        r["batch_id"]
        for r in members.select("batch_id").distinct().collect()
    )
    # multi-batch stores materialize the (id, batch_id, text) set once
    # so the per-batch driver loop filters it instead of re-running
    # both scans O(#batches) times; a single-batch store (the common
    # migration of an uncompacted or freshly-compacted history) skips
    # the corpus-sized text write entirely — its one consumer reads the
    # join directly.
    work = members.join(src, "id")
    if len(batch_ids) > 1:
        work = work.localCheckpoint(eager=True)
    for b in batch_ids:
        docs_b = work.filter(F.col("batch_id") == b).select("id", "text")
        sigs = minhash_signatures_df(
            docs_b, text_col="text", id_col="id",
            n_hashes=n_hashes, shingle_size=shingle_size,
        )
        banded = minhash_band_buckets(sigs, n_hashes, bands)
        new_store.append(banded, b)
    return new_store


def _reject_compacted_replay(store: SignatureStore, batch_id) -> None:
    """Raise when ``batch_id`` was folded into a ``__c<N>`` compaction
    partition: its signatures now carry batch_id ``__cN`` so the
    name-based self-exclusion in the history join cannot filter them,
    and the recompute would report every doc as a duplicate of itself.
    (The newest batch is never compacted — ``BatchLayout.compact`` keeps
    it untouched — so the batches Structured Streaming can actually
    replay are never affected.)"""
    upto = store.compacted_upto()
    if (
        upto is not None
        and str(batch_id).isdigit()
        and int(batch_id) <= upto
    ):
        raise ValueError(
            f"batch {batch_id} was compacted into batch_id=__c{upto}; "
            "replaying it would see its own signatures as history and "
            "mark every doc a self-duplicate. Use the published match "
            "output for this batch instead of recomputing."
        )


def _estimated_jaccard(sig_a, sig_b) -> F.Column:
    """Fraction of agreeing minhash components — the unbiased MinHash
    estimator of Jaccard similarity."""
    agree = F.aggregate(
        F.zip_with(
            sig_a, sig_b, lambda x, y: F.when(x == y, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return agree.cast("double") / F.size(sig_a)


def _match_against_store(
    probe: DataFrame,
    banded: DataFrame,
    store: SignatureStore,
    batch_id: int | str,
    estimate,
    id_name: str,
    est_name: str,
    est_threshold: float,
    max_candidates_per_doc: int,
    eager_isolation: bool,
) -> DataFrame:
    """The one store match of both incremental variants. ``probe`` and
    ``banded`` are (id, sig, band, bucket) rows of the new batch: the
    probe side joins, ``banded`` is what the store holds (the MinHash
    variant passes one frame twice; the embedding variant probes a
    Hamming ball of buckets). ``estimate(sig_a, sig_b)`` scores a pair.

    Candidates = probe ⋈ banded (intra-batch, the lower id wins as
    ``dup_of``) ∪ broadcast(probe) ⋈ store (vs history) on (band,
    bucket) — the new side is delta-sized, so the history is never
    shuffled. A replayed batch must not see its own published
    signatures as history (matches would not be reproducible); the
    ``batch_id`` partition column makes that exclusion a
    partition-pruned filter. Scores at or above ``est_threshold`` keep
    the best ``max_candidates_per_doc`` per id (estimate desc, then
    ``dup_of`` asc). With ``eager_isolation`` the matches are
    materialized BEFORE the append so a same-session caller cannot see
    this batch as its own history (False = plan-audit mode: leaves the
    join tree visible, skips the store append)."""
    new_a = probe.select(
        F.col("id").alias(id_name), F.col("sig").alias("sig_a"),
        "band", "bucket",
    )

    def side(df: DataFrame) -> DataFrame:
        return df.select(
            F.col("id").alias("dup_of"), F.col("sig").alias("sig_b"),
            "band", "bucket",
        )

    cand = (
        new_a.join(side(banded), ["band", "bucket"])
        .filter(F.col("dup_of") < F.col(id_name))
        .withColumn("scope", F.lit("batch"))
    )
    history = store.read()
    if history is not None:
        history = history.filter(
            F.col("batch_id").cast("string") != F.lit(str(batch_id))
        )
        cand = cand.unionByName(
            F.broadcast(new_a)
            .join(side(history), ["band", "bucket"])
            .withColumn("scope", F.lit("history"))
        )
    scored = (
        cand.select(
            id_name, "dup_of", "scope",
            estimate(F.col("sig_a"), F.col("sig_b")).alias(est_name),
        )
        .dropDuplicates([id_name, "dup_of"])
        .filter(F.col(est_name) >= est_threshold)
    )
    w = Window.partitionBy(id_name).orderBy(
        F.desc(est_name), F.asc("dup_of")
    )
    out = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= max_candidates_per_doc)
        .drop("_rn")
    )
    if eager_isolation:
        out = out.localCheckpoint(eager=True)
        store.append(banded, batch_id)
    return out


def incremental_neardup(
    new_docs: DataFrame,
    store: SignatureStore,
    batch_id: int | str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 16,
    bands: int = 4,
    shingle_size: int = 3,
    est_threshold: float = 0.5,
    max_candidates_per_doc: int = 64,
    eager_isolation: bool = True,
) -> DataFrame:
    """Detect near-duplicates of ``new_docs`` against the store AND
    within the batch, then publish the batch's signatures.

    Returns (doc_id, dup_of, est_jaccard, scope) where ``dup_of`` is the
    matched historical/batch doc id and scope is 'history' or 'batch'
    (intra-batch matches report the lower id as ``dup_of``). The batch
    append is idempotent on ``batch_id``.

    Replay idempotence holds for every batch that is still PUBLISHED
    UNDER ITS OWN NAME: the self-exclusion in
    :func:`_match_against_store` filters history on the ``batch_id``
    partition value. Once a batch has been folded into a
    ``__c<N>`` compaction partition its rows carry batch_id ``__cN``, so
    the name-based exclusion cannot see them and a recompute would match
    every doc against its own stored signature (est_jaccard 1.0,
    dup_of=doc_id). :func:`_reject_compacted_replay` turns that silent
    wrong answer into an error — callers replaying old batches must keep
    the published match output (or re-run before compacting).
    """
    validate_minhash_params(n_hashes, bands)  # BEFORE the pin
    _reject_compacted_replay(store, batch_id)
    store.pin_params(n_hashes, bands, shingle_size, write=eager_isolation)
    sigs = minhash_signatures_df(
        new_docs, text_col=text_col, id_col=id_col, n_hashes=n_hashes,
        shingle_size=shingle_size,
    )
    banded = minhash_band_buckets(sigs, n_hashes, bands)
    if eager_isolation:
        # one materialization feeds the intra join, the history join AND
        # the store append — without it the shingle+MinHash plan executes
        # once per consumer
        banded = banded.localCheckpoint(eager=True)

    return _match_against_store(
        banded, banded, store, batch_id, _estimated_jaccard,
        "doc_id", "est_jaccard", est_threshold, max_candidates_per_doc,
        eager_isolation,
    )


# ---------------------------------------------------------------------------
# Embedding variant: sign-sketch store for cosine near-dup vs history
# ---------------------------------------------------------------------------

def _sign_sketch_expr(emb, sketch_planes):
    """Hyperplane sign bits packed into longs — the SimHash-for-cosine
    sketch (Charikar '02): P(signs agree) = 1 - theta/pi, so
    cos(pi * hamming / n_bits) is an unbiased-angle cosine estimate.
    Interpreted-expression form: planes x dim higher-order ops per row,
    fine for narrow sketches only."""
    from .similarity import _dot

    planes_cols = [
        F.array(*[F.lit(float(x)) for x in row]) for row in sketch_planes
    ]
    words = []
    n = len(planes_cols)
    for w in range(0, n, 63):  # 63 bits/long keeps ANSI shifts safe
        bits = F.lit(0).cast("long")
        for b, pcol in enumerate(planes_cols[w:w + 63]):
            bits = bits + F.when(
                _dot(emb, pcol) > 0, F.lit(1 << b).cast("long")
            ).otherwise(F.lit(0).cast("long"))
        words.append(bits)
    return F.array(*words)


def sign_sketch_udf(sketch_planes):
    """Arrow-batched sketch: ONE numpy matmul per batch producing every
    sketch word at once, vs planes x dim interpreted higher-order ops
    per row in the expression form. Same sign semantics (float64 dot >
    0); parity-tested against :func:`_sign_sketch_expr` like
    ``lsh_bucket_udf``."""
    import numpy as np

    pt = sketch_planes.astype(np.float64).T
    n = sketch_planes.shape[0]
    n_words = -(-n // 63)
    weights = []  # per word: int64 place values of its (<=63) bits
    for w in range(n_words):
        k = min(63, n - w * 63)
        weights.append((1 << np.arange(k)).astype(np.int64))

    @F.pandas_udf("array<long>")
    def sketch(emb: pd.Series) -> pd.Series:
        if emb.empty:
            return pd.Series([], dtype="object")
        # NULL embeddings -> all-zero words, matching the expression
        # form (NULL dot > 0 -> otherwise(0) per plane)
        valid = emb.map(lambda v: v is not None)
        out_words = np.zeros((len(emb), n_words), dtype=np.int64)
        if valid.any():
            mat = np.stack(emb[valid].to_numpy()).astype(np.float64)
            signs = (mat @ pt) > 0
            packed = np.stack(
                [
                    signs[:, w * 63:(w + 1) * 63] @ weights[w]
                    for w in range(n_words)
                ],
                axis=1,
            )
            out_words[valid.to_numpy()] = packed
        return pd.Series(list(out_words))

    return sketch


def _sign_sketch(emb, sketch_planes):
    """Switch between the interpreted expression form and the
    one-matmul-per-batch Arrow UDF on the SHARED planes x dim budget
    (``similarity.resolve_plane_method`` — one policy, not two copies) —
    at the default 126 sketch planes and dim >= 17 the batched form
    wins (126 x 64 = 8064 interpreted ops/row is 4x over the budget)."""
    from .similarity import resolve_plane_method

    if resolve_plane_method(sketch_planes) == "expr":
        return _sign_sketch_expr(emb, sketch_planes)
    return sign_sketch_udf(sketch_planes)(emb)


def _est_cosine(sk_a, sk_b, n_bits: int):
    """cos(pi * hamming(sketch_a, sketch_b) / n_bits)."""
    hamming = F.aggregate(
        F.zip_with(sk_a, sk_b, lambda x, y: F.bit_count(x.bitwiseXOR(y))),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    import math

    return F.cos(hamming.cast("double") * float(math.pi / n_bits))


def incremental_embedding_neardup(
    new_vecs: DataFrame,
    store: SignatureStore,
    batch_id: int | str,
    planes,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    sketch_planes=None,
    est_threshold: float = 0.9,
    probe_bits: int = 1,
    max_candidates_per_doc: int = 64,
    eager_isolation: bool = True,
) -> DataFrame:
    """Cosine near-duplicate detection of new vectors against an
    append-only SKETCH store — no embedding is ever stored or shuffled.

    The store rows are (id, sig=sign-sketch longs, band, bucket): bucket
    = the coarse hyperplane LSH code (``planes``, multi-probed on the
    query side exactly like :func:`~similarity.ann_join`), sig = a
    wider sign sketch (``sketch_planes``, default 126 planes = 2 longs)
    whose Hamming distance estimates the angle: est_cosine =
    cos(pi * hamming / n_sketch_bits). Std-err of the angle estimate is
    pi * sqrt(p(1-p)/n_bits) — tune sketch width like MinHash width.

    Returns (vec_id, dup_of, est_cosine, scope) with the same batch /
    history semantics, replay idempotence and parameter pinning as
    :func:`incremental_neardup` (the pin records plane shapes; replay of
    a compacted batch is rejected for the same reason)."""
    import numpy as np

    from .similarity import _bucket_col, probe_buckets, probe_masks

    if sketch_planes is None:
        rng = np.random.default_rng(1729)
        sketch_planes = rng.standard_normal(
            (126, planes.shape[1])
        ).astype(np.float64)
    n_bits = sketch_planes.shape[0]
    _reject_compacted_replay(store, batch_id)
    store.pin_params(
        n_hashes=1000 + n_bits,  # distinct namespace from MinHash stores
        bands=planes.shape[0],
        shingle_size=planes.shape[1],
        write=eager_isolation,
    )

    emb = F.col(emb_col).cast("array<double>")
    base = new_vecs.select(
        F.col(id_col).alias("id"),
        _sign_sketch(emb, sketch_planes).alias("sig"),
        _bucket_col(emb, planes).alias("bucket0"),
    )
    if eager_isolation:
        # one materialization feeds both the probe and the stored side:
        # each vector is sketched once
        base = base.localCheckpoint(eager=True)
    masks = probe_masks(planes.shape[0], probe_bits)
    # probe side: the Hamming ball of the coarse code; band column = 0
    # (single coarse code — the SignatureStore schema is reused as-is)
    probed = base.select(
        "id", "sig",
        F.lit(0).alias("band"),
        probe_buckets(F.col("bucket0"), masks).alias("bucket"),
    )
    banded = base.select(
        "id", "sig", F.lit(0).alias("band"),
        F.col("bucket0").alias("bucket"),
    )

    return _match_against_store(
        probed, banded, store, batch_id,
        lambda a, b: _est_cosine(a, b, n_bits),
        "vec_id", "est_cosine", est_threshold, max_candidates_per_doc,
        eager_isolation,
    )
