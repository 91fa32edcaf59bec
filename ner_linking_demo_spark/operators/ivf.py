"""IVF (inverted-file) ANN: trained coarse quantizer -> list-assigned
index -> nprobe search. The third similarity-search path next to brute
force (the exactness baseline) and hyperplane LSH (data-INdependent
buckets): IVF's lists adapt to the data distribution, so at an equal
candidate budget it recalls better on clustered embeddings — the
standard IVF-Flat design (as popularized by the FAISS library),
re-expressed as DataFrame ops.

Scale posture (mirrors ``similarity.ann_join``):
- the coarse quantizer is ``k_lists x dim`` float centroids trained on a
  DRIVER-SIZED sample — standard practice: quantizer quality needs on
  the order of 30-256 vectors per list, independent of corpus size, so
  training never touches the full 100 TB. The centroid matrix is tiny
  (even 65k lists x 1k dims = 256 MB worst case; typical far less) and
  ships to executors inside the Arrow UDF closure like the LSH planes;
- list assignment is ONE argmax matmul per Arrow batch in the scan
  projection (argmin ||x - c||^2 == argmax x.c - |c|^2/2, one GEMM);
- the index rows are (vec_id, iv, list_id, inorm); write them with
  ``similarity.write_bucketed(ivf_index(...), table, "list_id")`` (a
  Spark bucketed table clustered on ``list_id``) and a shuffled search
  join has ZERO corpus-side Exchange — the same at-rest layout argument
  as the LSH bucketed index;
- search explodes each query into its ``nprobe`` nearest lists and
  hands it to ``similarity.probe_topk``: equi-join on ``list_id``,
  exact-cosine rank per query (W1 window). Catalyst broadcasts a query
  batch it sizes as small, so the corpus does not shuffle at all
  (``probe_topk`` says which batches it cannot size). Hot lists (dense
  regions) are join skew; AQE skew-join splits them.

Recall is tested against the brute-force baseline, and
``nprobe == k_lists`` provably equals exhaustive search (every list is
probed) — both in tests/test_ivf.py.

SQ8 quantization (round 5): at 100 TB the float at-rest index dominates
storage and scan IO, so the index also ships in int8 scalar-quantized
form — per-dim (vmin, step) bounds trained on the same driver sample,
codes = 1 byte/dim (8x smaller than array<double>, 4x than float32),
search by asymmetric distance (q . decode(v) folded into codegen as
q.vmin + (q*step).(codes+128)) so queries keep full precision and the
decoded cosine is exact and deterministic. Gates in tests/test_ivf.py:
recall@10 >= 0.95 vs exact brute force, full-probe == brute force over
the decoded corpus, and the bucketed SQ8 scan keeps the
zero-corpus-Exchange join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .similarity import _dot, _norm, _query_vectors, probe_topk


def _training_sample(
    df: DataFrame, emb_col: str, id_col: str, sample_limit: int
) -> np.ndarray:
    """The deterministic driver-sized sample both quantizers train on:
    the first ``sample_limit`` clean vectors by id (a TakeOrdered, not a
    full sort), as an (n, dim) float64 matrix."""
    pdf = (
        # NaN/NULL-element vectors must not train a quantizer: one NaN
        # row makes its centroid NaN, and a NaN centroid column wins
        # argmax for EVERY row on the next Lloyd's iteration (the whole
        # corpus collapses into one list); one NaN in the SQ8 sample
        # makes that dimension's vmin/vmax NaN, every encode clamps to
        # code 255 (least(NaN, 255.0) = 255.0) and the whole index
        # decodes to NaN — the same boundary rule ivf_index_sq8 applies
        # to the index side. NULL elements count as poison too:
        # isnan(NULL) is false but the Arrow transfer turns a NULL
        # element into NaN in the float sample.
        df.where(
            F.col(emb_col).isNotNull()
            & ~F.exists(
                F.col(emb_col), lambda x: F.isnan(x) | x.isNull()
            )
        )
        .select(F.col(id_col).alias("id"), F.col(emb_col).alias("v"))
        .orderBy("id")
        .limit(sample_limit)
        # Arrow transfer (toPandas), not row collect(): the pickled-row
        # path deserializes sample_limit x dim floats one object at a
        # time and measured ~1.5s of pure driver overhead per training
        # call at bench scale (round-6; guide §6 "Arrow for driver
        # transfers"). Same rows, same order, same float values.
        .toPandas()
    )
    if len(pdf) == 0:
        return np.empty((0, 0), dtype=np.float64)
    return np.stack(pdf["v"].to_numpy()).astype(np.float64)


def train_centroids(
    df: DataFrame,
    k_lists: int,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    sample_limit: int = 50_000,
    n_iter: int = 20,
    seed: int = 7,
) -> np.ndarray:
    """Train the coarse quantizer: deterministic sample (first
    ``sample_limit`` rows by id — a TakeOrdered, not a full sort) ->
    seeded Lloyd's iterations on the driver. Returns (k_lists, dim)
    float64 centroids.

    Driver-side by design: quantizer training is O(sample x k x iter)
    on a bounded sample — the one step of IVF that does not need the
    cluster, exactly like the reference FAISS workflow trains on a
    subsample."""
    x = _training_sample(df, emb_col, id_col, sample_limit)
    if len(x) < k_lists:
        raise ValueError(
            f"sample has {len(x)} vectors, fewer than k_lists="
            f"{k_lists} — lower k_lists or raise sample_limit"
        )
    rng = np.random.default_rng(seed)
    # k-means++ seeding (Arthur & Vassilvitskii '07): spreads the initial
    # centroids across the data's clusters, so lists rarely start (or
    # end) empty — uniform init routinely drops lists on clustered data
    cent = np.empty((k_lists, x.shape[1]), dtype=np.float64)
    cent[0] = x[rng.integers(len(x))]
    d2 = ((x - cent[0]) ** 2).sum(axis=1)
    for j in range(1, k_lists):
        p = d2 / d2.sum() if d2.sum() > 0 else None
        cent[j] = x[rng.choice(len(x), p=p)]
        d2 = np.minimum(d2, ((x - cent[j]) ** 2).sum(axis=1))
    for _ in range(n_iter):
        assign = np.argmax(_centroid_scores(x, cent), axis=1)
        for j in range(k_lists):
            members = x[assign == j]
            if len(members):  # empty list keeps its old centroid
                cent[j] = members.mean(axis=0)
    return cent


def _centroid_scores(mat: np.ndarray, centroids: np.ndarray) -> np.ndarray:
    """(n, dim) x (k, dim) -> (n, k) scores whose row-argmax is the
    nearest centroid: argmin ||x-c||^2 == argmax x.c - |c|^2/2 — ONE
    place for the distance formulation, shared by training, index
    assignment and query probing (a desynchronized copy would silently
    route queries to lists the index never fills)."""
    c = centroids.astype(np.float64)
    return mat @ c.T - 0.5 * (c * c).sum(axis=1)


def _assign_udf(centroids: np.ndarray):
    """Arrow-batched nearest-centroid assignment: one GEMM per batch.
    NULL embeddings -> list -1 (a list no query ever probes) — defense
    in depth behind ivf_index's isNotNull boundary filter; a raw
    np.stack would raise on ragged None input and kill the task."""

    @F.pandas_udf("int")
    def assign(emb: pd.Series) -> pd.Series:
        if emb.empty:
            return pd.Series([], dtype="int32")
        valid = emb.map(lambda v: v is not None)
        out = np.full(len(emb), -1, dtype=np.int32)
        if valid.any():
            mat = np.stack(emb[valid].to_numpy()).astype(np.float64)
            out[valid.to_numpy()] = np.argmax(
                _centroid_scores(mat, centroids), axis=1
            ).astype(np.int32)
        return pd.Series(out)

    return assign


def _probe_udf(centroids: np.ndarray, nprobe: int):
    """Per query: ids of the ``nprobe`` nearest lists (ordered). NULL
    query embeddings get an EMPTY probe list — the explode drops the
    row, so an unsearchable query yields no results instead of killing
    the job (the LSH search path survives the same input)."""
    n = min(nprobe, centroids.shape[0])

    @F.pandas_udf("array<int>")
    def probes(emb: pd.Series) -> pd.Series:
        if emb.empty:
            return pd.Series([], dtype="object")
        valid = emb.map(lambda v: v is not None)
        out = [np.array([], dtype=np.int32)] * len(emb)
        if valid.any():
            mat = np.stack(emb[valid].to_numpy()).astype(np.float64)
            top = np.argsort(
                -_centroid_scores(mat, centroids), axis=1
            )[:, :n].astype(np.int32)
            for pos, row in zip(np.flatnonzero(valid.to_numpy()), top):
                out[pos] = row
        return pd.Series(out)

    return probes


def ivf_index(
    df: DataFrame,
    centroids: np.ndarray,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Corpus -> (vec_id, iv, list_id, inorm): the IVF at-rest shape.
    Assignment + norm are computed ONCE at index-build time (the
    ``prepare_index`` argument applies verbatim). NULL embeddings are
    excluded here, at the boundary — they cannot be searched."""
    return (
        df.where(F.col(emb_col).isNotNull())
        .select(
            F.col(id_col).alias("vec_id"),
            F.col(emb_col).cast("array<double>").alias("iv"),
        )
        .withColumn("list_id", _assign_udf(centroids)(F.col("iv")))
        .withColumn("inorm", _norm(F.col("iv")))
    )


# ---------------------------------------------------------------------------
# SQ8 scalar quantization (round-5 verdict item 6): the at-rest index in
# int8 codes — 8x smaller than the array<double> flat form, 4x smaller
# than float32 — with asymmetric distance search (queries stay float,
# index decodes on the fly INSIDE the codegen expression).
# ---------------------------------------------------------------------------


def train_sq8_bounds(
    df: DataFrame,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
    sample_limit: int = 50_000,
) -> tuple[np.ndarray, np.ndarray]:
    """Per-dimension (vmin, step) for uint8 scalar quantization, trained
    on the same deterministic driver-sized sample as the coarse
    quantizer (FAISS's ScalarQuantizer trains bounds on a subsample the
    same way; out-of-range values clamp at encode time). Constant
    dimensions get step 1.0 so encode/decode stays exact (code 0 ->
    vmin) instead of dividing by zero."""
    x = _training_sample(df, emb_col, id_col, sample_limit)
    if len(x) == 0:
        raise ValueError("cannot train SQ8 bounds on an empty sample")
    vmin = x.min(axis=0)
    vmax = x.max(axis=0)
    step = np.where(vmax > vmin, (vmax - vmin) / 255.0, 1.0)
    return vmin, step


def _lit_arr(vals: np.ndarray):
    return F.array(*[F.lit(float(v)) for v in vals])


def sq8_encode(col, vmin: np.ndarray, step: np.ndarray):
    """array<double> -> array<tinyint> codes, pure codegen: per-dim
    code = clamp(round((x - vmin)/step), 0, 255) - 128 (shifted into
    tinyint's signed range; decode adds the 128 back)."""
    lo = _lit_arr(vmin)
    st = _lit_arr(step)
    return F.transform(
        col,
        lambda x, i: (
            F.least(
                F.greatest(
                    F.round(
                        (x - F.element_at(lo, i + 1))
                        / F.element_at(st, i + 1)
                    ),
                    F.lit(0.0),
                ),
                F.lit(255.0),
            )
            - 128.0
        ).cast("tinyint"),
    )


def sq8_decode(col, vmin: np.ndarray, step: np.ndarray):
    """array<tinyint> -> array<double>: vmin + (code + 128) * step."""
    lo = _lit_arr(vmin)
    st = _lit_arr(step)
    return F.transform(
        col,
        lambda c, i: F.element_at(lo, i + 1)
        + (c.cast("double") + 128.0) * F.element_at(st, i + 1),
    )


def ivf_index_sq8(
    df: DataFrame,
    centroids: np.ndarray,
    vmin: np.ndarray,
    step: np.ndarray,
    emb_col: str = "embedding",
    id_col: str = "vec_id",
) -> DataFrame:
    """Corpus -> (vec_id, codes, list_id, inorm): the quantized at-rest
    shape. ``inorm`` is the norm of the DECODED vector (what search
    scores against), computed once at build time. List assignment runs
    on the ORIGINAL floats — quantization must not move a vector across
    a list boundary."""
    flat = ivf_index(df, centroids, emb_col=emb_col, id_col=id_col)
    # int8 codes have no NaN representation: a NaN dimension would
    # otherwise clamp to code 255 (Spark orders NaN above every double,
    # so least(NaN, 255.0) = 255.0) and rank with a fabricated ~vmax
    # value. Exclude poisoned vectors at the boundary — the flat form
    # keeps them (their cosine is NaN), so the two forms differ on
    # NaN-poisoned corpora by design; this is the searchable-subset
    # rule NULL embeddings already follow. NULL elements are poison by
    # the same rule (isnan(NULL) is false — round-6 review).
    flat = flat.where(
        ~F.exists(F.col("iv"), lambda x: F.isnan(x) | x.isNull())
    )
    codes = sq8_encode(F.col("iv"), vmin, step)
    return flat.select(
        "vec_id",
        codes.alias("codes"),
        "list_id",
    ).withColumn("inorm", _norm(sq8_decode(F.col("codes"), vmin, step)))


def ivf_search_sq8(
    queries: DataFrame,
    index: DataFrame,
    centroids: np.ndarray,
    vmin: np.ndarray,
    step: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    emb_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Batch IVF-SQ8 search by asymmetric distance: queries stay float,
    the index decodes inside the join expression —

        q . decode(codes) = q . vmin + (q * step) . (codes + 128)

    so the per-candidate work is one zip_with/aggregate over tinyints
    (pure codegen, no python, no decode materialization), with
    ``q . vmin`` and ``q * step`` projected once per query before the
    probe explode. Returns (q_id, vec_id, cosine, rank) where cosine is
    EXACTLY cosine(q, decode(codes)) — deterministic, so a full probe
    equals brute force over the decoded corpus (tested)."""
    probed = (
        _query_vectors(queries, emb_col, query_id_col)
        .withColumn("qconst", _dot(F.col("qv"), _lit_arr(vmin)))
        .withColumn(
            "qcoef",
            F.zip_with(F.col("qv"), _lit_arr(step), lambda a, b: a * b),
        )
        .withColumn(
            "list_id",
            F.explode(_probe_udf(centroids, nprobe)(F.col("qv"))),
        )
        .drop("qv")
    )
    dot = F.col("qconst") + F.aggregate(
        F.zip_with(
            F.col("qcoef"),
            F.col("codes"),
            lambda a, c: a * (c.cast("double") + 128.0),
        ),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )
    return probe_topk(probed, index, "list_id", "codes", dot, k)


def ivf_search(
    queries: DataFrame,
    index: DataFrame,
    centroids: np.ndarray,
    k: int = 10,
    nprobe: int = 4,
    emb_col: str = "embedding",
    query_id_col: str = "q_id",
) -> DataFrame:
    """Batch IVF search: queries x index -> top-k per query over the
    union of each query's ``nprobe`` nearest lists, ranked by
    ``similarity.probe_topk``.

    ``index`` has the :func:`ivf_index` shape, e.g. a
    ``similarity.write_bucketed`` table on ``list_id``; wrap a raw (id,
    embedding) corpus in :func:`ivf_index`. Returns (q_id, vec_id,
    cosine, rank), rank 1..k, deterministic order (cosine desc, vec_id
    asc).

    ``nprobe == k_lists`` probes every list: exactly brute force
    (tested), which makes nprobe the precision/cost dial — recall rises
    monotonically toward exhaustive as nprobe grows."""
    probed = _query_vectors(queries, emb_col, query_id_col).withColumn(
        "list_id", F.explode(_probe_udf(centroids, nprobe)(F.col("qv")))
    )
    return probe_topk(
        probed, index, "list_id", "iv", _dot(F.col("qv"), F.col("iv")), k
    )
