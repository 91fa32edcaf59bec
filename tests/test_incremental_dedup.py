"""Incremental near-dup vs the append-only signature store: history
matches, intra-batch matches, estimator sanity, replay idempotence."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from ner_linking_demo_spark.operators.incremental_dedup import (
    SignatureStore,
    incremental_neardup,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, ["doc_id", "text"])


BASE = (
    "el paciente presenta una evolución favorable con tratamiento de la "
    "zona afectada y control periódico según protocolo clínico habitual"
)


@pytest.fixture()
def store(spark, tmp_path):
    return SignatureStore(spark, str(tmp_path / "sigstore"))


def test_incremental_neardup_end_to_end(spark, store):
    b1 = _docs(spark, [
        (1, BASE),
        (2, "texto completamente distinto sobre otros asuntos del informe "
            "anual de resultados financieros y previsiones futuras"),
    ])
    m1 = incremental_neardup(b1, store, batch_id=1).collect()
    assert m1 == []  # empty history, no intra dups
    assert store.has_batch(1)

    b2 = _docs(spark, [
        (10, BASE),                        # exact copy of doc 1
        (11, BASE + " con cambios"),       # near copy of doc 1
        (12, "contenido nuevo sin parecido alguno con nada anterior en "
             "este corpus de documentos sintéticos de prueba"),
        (13, "contenido nuevo sin parecido alguno con nada anterior en "
             "este corpus de documentos sintéticos de prueba"),  # intra dup of 12
    ])
    m2 = incremental_neardup(b2, store, batch_id=2)
    rows = {(r["doc_id"], r["dup_of"]): r for r in m2.collect()}

    assert (10, 1) in rows and rows[(10, 1)]["scope"] == "history"
    assert rows[(10, 1)]["est_jaccard"] == 1.0  # exact copy -> estimator 1
    assert (11, 1) in rows  # near copy caught via shared band bucket
    assert (13, 12) in rows and rows[(13, 12)]["scope"] == "batch"
    assert rows[(13, 12)]["est_jaccard"] == 1.0
    assert not any(d == 12 for (d, _) in rows)  # novel doc matches nothing

    # replay of batch 2: store unchanged, matches identical
    n_store = store.read().count()
    m2r = incremental_neardup(b2, store, batch_id=2)
    assert {(r["doc_id"], r["dup_of"]) for r in m2r.collect()} == set(rows)
    assert store.read().count() == n_store

    # batch 3 sees batch-2 docs as history now
    b3 = _docs(spark, [(20, BASE)])
    m3 = {(r["doc_id"], r["dup_of"]) for r in
          incremental_neardup(b3, store, batch_id=3).collect()}
    assert (20, 1) in m3 and (20, 10) in m3


def test_store_never_carries_text(spark, store):
    b = _docs(spark, [(1, BASE)])
    incremental_neardup(b, store, batch_id=1)
    cols = set(store.read().columns)
    assert cols == {"id", "sig", "band", "bucket", "batch_id"}


@pytest.mark.filterwarnings("ignore")
def test_streaming_corpus_pipeline(spark, tmp_path):
    """Two micro-batches: batch 2's duplicates of batch-1 docs are
    dropped against the signature store; restart replay changes
    nothing; kept set equals the sequential-batch oracle."""
    import os

    from ner_linking_demo_spark.streaming import incremental_corpus_pipeline

    b1 = [
        (1, BASE),
        (2, "texto completamente distinto sobre otros asuntos del informe "
            "anual de resultados financieros y previsiones futuras"),
    ]
    b2 = [
        (10, BASE),                   # dup of batch-1 doc 1 -> dropped
        (11, "documento nuevo con contenido original que no se parece a "
             "ningún otro documento visto hasta ahora en absoluto"),
        (12, "x"),                    # fails min_tokens filter
    ]
    src = str(tmp_path / "src")
    spark.createDataFrame(b1, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(b2, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)

    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    q = incremental_corpus_pipeline(
        spark, stream, out_dir=out,
        checkpoint_dir=str(tmp_path / "sck"), min_tokens=3,
    )
    q.awaitTermination(120)

    kept = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "kept")).collect()
    }
    assert kept == {1, 2, 11}

    # restart: no new files -> nothing changes
    q2 = incremental_corpus_pipeline(
        spark, stream, out_dir=out,
        checkpoint_dir=str(tmp_path / "sck"), min_tokens=3,
    )
    q2.awaitTermination(120)
    kept2 = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "kept")).collect()
    }
    assert kept2 == kept


def test_store_compaction(spark, store):
    """Folding old batches into a consolidated partition changes no
    match results, keeps replay guards, and GCs the dust dirs."""
    import os

    for b, docs in enumerate([
        [(1, BASE)],
        [(2, BASE + " dos")],
        [(3, "contenido completamente diferente de los demás documentos "
             "con palabras que no comparte con ningún otro texto")],
    ]):
        incremental_neardup(_docs(spark, docs), store, batch_id=b)
    before = store.read().count()
    parts = [d for d in os.listdir(store.data) if d.startswith("batch_id=")]
    assert len(parts) == 3

    upto = store.compact(target_file_bytes=1 << 30)
    assert upto == 1  # latest batch (2) untouched
    assert store.read().count() == before
    dirs = sorted(
        d for d in os.listdir(store.data) if d.startswith("batch_id=")
    )
    assert dirs == ["batch_id=2", "batch_id=__c1"]
    assert store.has_batch(0) and store.has_batch(1) and store.has_batch(2)
    assert not store.has_batch(7)

    # idempotent: immediate re-compact with nothing new is a no-op
    assert store.compact() == -1

    # replayed covered batch: append refuses, history still matches
    assert store.append(None, 1) is False
    m = incremental_neardup(
        _docs(spark, [(20, BASE)]), store, batch_id=4
    )
    assert {(r["doc_id"], r["dup_of"]) for r in m.collect()} >= {(20, 1)}

    # a later compaction folds the next tier and preserves results
    assert store.compact(target_file_bytes=1 << 30) == 2
    m2 = incremental_neardup(
        _docs(spark, [(21, BASE)]), store, batch_id=5
    )
    assert {(r["doc_id"], r["dup_of"]) for r in m2.collect()} >= {(21, 1), (21, 20)}


def test_store_pins_hash_params(spark, store):
    """The first append pins (n_hashes, bands, shingle_size); later
    calls with different params must refuse — mismatched layouts would
    silently produce near-zero similarity."""
    incremental_neardup(_docs(spark, [(1, BASE)]), store, batch_id=1)
    assert store.params() == {
        "n_hashes": 16, "bands": 4, "shingle_size": 3,
    }
    with pytest.raises(ValueError, match="not comparable"):
        incremental_neardup(
            _docs(spark, [(2, BASE)]), store, batch_id=2, n_hashes=32,
            bands=8,
        )


def test_incremental_embedding_neardup(spark, tmp_path):
    """Sketch-estimated cosine vs history: exact copy ~1.0, near copy
    high, orthogonal vector absent; estimator tracks true cosine; no
    embedding column in the store; replay reproducible."""
    import numpy as np

    from ner_linking_demo_spark.operators.incremental_dedup import (
        SignatureStore,
        incremental_embedding_neardup,
    )
    from ner_linking_demo_spark.operators.similarity import hyperplanes

    rng = np.random.default_rng(3)
    dim = 32
    base = rng.standard_normal(dim)
    near = base + 0.05 * rng.standard_normal(dim)  # cosine ~0.999
    other = rng.standard_normal(dim)

    def vdf(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in rows],
            "vec_id long, embedding array<float>",
        )

    store = SignatureStore(spark, str(tmp_path / "vstore"))
    planes = hyperplanes(dim=dim, n_planes=8, seed=5)

    m1 = incremental_embedding_neardup(
        vdf([(1, base), (2, other)]), store, 1, planes
    ).collect()
    assert m1 == []  # empty history; base vs other not near-dup

    m2 = incremental_embedding_neardup(
        vdf([(10, base), (11, near), (12, -base)]), store, 2, planes,
    )
    rows = {(r["vec_id"], r["dup_of"]): r for r in m2.collect()}
    assert (10, 1) in rows and rows[(10, 1)]["scope"] == "history"
    assert rows[(10, 1)]["est_cosine"] > 0.99  # identical signs
    assert (11, 1) in rows or (11, 10) in rows  # near copy caught
    assert not any(v == 12 for (v, _) in rows)  # anti-parallel: no match

    # estimator sanity: est within 0.15 of true cosine for the near pair
    true_cos = float(
        base @ near / (np.linalg.norm(base) * np.linalg.norm(near))
    )
    got = rows.get((11, 1)) or rows.get((11, 10))
    assert abs(got["est_cosine"] - true_cos) < 0.15

    assert "embedding" not in set(store.read().columns)  # sketches only

    m2r = incremental_embedding_neardup(
        vdf([(10, base), (11, near), (12, -base)]), store, 2, planes,
    )
    assert {(r["vec_id"], r["dup_of"]) for r in m2r.collect()} == set(rows)


def test_compacted_batch_replay_rejected(spark, store):
    """Replaying a batch whose signatures were folded into a __c<N>
    partition must raise: the name-based self-exclusion cannot see the
    compacted rows, so the recompute would mark every doc a duplicate of
    itself (est_jaccard 1.0) — an error beats that silent wrong answer."""
    import pytest

    for b in range(3):
        incremental_neardup(
            _docs(spark, [(b + 1, BASE + f" v{b}")]), store, batch_id=b
        )
    assert store.compact(target_file_bytes=1 << 30) == 1
    for b in (0, 1):
        with pytest.raises(ValueError, match="compacted"):
            incremental_neardup(
                _docs(spark, [(b + 1, BASE + f" v{b}")]), store, batch_id=b
            )
    # the latest (never-compacted) batch still replays fine
    m = incremental_neardup(
        _docs(spark, [(3, BASE + " v2")]), store, batch_id=2
    )
    assert all(r["dup_of"] != r["doc_id"] for r in m.collect())


def test_sign_sketch_udf_parity_with_expression(spark):
    """The Arrow-batched sketch (one matmul per batch) and the
    interpreted expression form must agree bit-for-bit — same float64
    dot > 0 semantics (mirrors the lsh_bucket_udf parity test); the
    default 126-plane sketch must land on the batched form (its
    planes x dim cost is ~4x over the expression budget)."""
    import numpy as np

    from pyspark.sql import functions as F

    from ner_linking_demo_spark.operators.incremental_dedup import (
        _sign_sketch,
    )

    rng = np.random.default_rng(11)
    dim = 64
    sketch_planes = rng.standard_normal((126, dim)).astype(np.float64)
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in rng.standard_normal(dim)]) for i in range(40)],
        "vec_id long, embedding array<float>",
    )
    emb = F.col("embedding").cast("array<double>")
    both = vecs.select(
        "vec_id",
        _sign_sketch(emb, sketch_planes, method="expr").alias("a"),
        _sign_sketch(emb, sketch_planes, method="pandas").alias("b"),
    ).collect()
    assert len(both) == 40
    for r in both:
        assert r["a"] == r["b"], r["vec_id"]

    # auto at 126 x 64 = 8064 > budget -> the Arrow-batched plan
    auto = vecs.select(_sign_sketch(emb, sketch_planes).alias("s"))
    plan = auto._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan


def test_pin_mismatch_then_resignature_migration(spark, tmp_path):
    """Changing hashing params against a pinned store must refuse; the
    documented migration path (resignature_store: re-shingle original
    texts, republish per batch under the new pin) must yield a store
    that finds the same duplicates under the new params — including
    preserved compaction state and replay rejection."""
    import pytest

    from ner_linking_demo_spark.operators.incremental_dedup import (
        SignatureStore,
        incremental_neardup,
        resignature_store,
    )

    old = SignatureStore(spark, str(tmp_path / "old"))
    batches = {
        0: [(1, BASE)],
        1: [(2, BASE + " uno")],
        2: [(3, "texto sin relación con los otros documentos del corpus "
                "palabras únicas que nadie más comparte en absoluto")],
    }
    for b, docs in batches.items():
        incremental_neardup(_docs(spark, docs), old, batch_id=b)
    assert old.compact(target_file_bytes=1 << 30) == 1

    # in-place param change refuses (the pin)
    with pytest.raises(ValueError, match="not comparable"):
        incremental_neardup(
            _docs(spark, [(9, BASE)]), old, batch_id=3, n_hashes=64,
        )

    all_docs = _docs(
        spark, [d for docs in batches.values() for d in docs]
    )
    new = resignature_store(
        spark, all_docs, old, str(tmp_path / "new"),
        n_hashes=64, bands=8, shingle_size=3,
    )
    assert new.params() == {
        "n_hashes": 64, "bands": 8, "shingle_size": 3
    }
    assert new.compacted_upto() == 1  # compaction state carries over
    # wider signatures: same duplicate found, now at n=64 precision
    m = incremental_neardup(
        _docs(spark, [(9, BASE)]), new, batch_id=3,
        n_hashes=64, bands=8,
    )
    assert {(r["doc_id"], r["dup_of"]) for r in m.collect()} >= {(9, 1)}
    # replay of a batch covered by the migrated compaction still rejects
    with pytest.raises(ValueError, match="compacted"):
        incremental_neardup(
            _docs(spark, [(1, BASE)]), new, batch_id=0,
            n_hashes=64, bands=8,
        )

    # missing texts must refuse, not silently shrink history
    with pytest.raises(ValueError, match="no text"):
        resignature_store(
            spark, _docs(spark, [(1, BASE)]), old,
            str(tmp_path / "new2"), n_hashes=64, bands=8, shingle_size=3,
        )


def test_store_retention_expiry(spark, store, tmp_path):
    """expire_upto drops old batches' signatures (their docs stop
    matching as history — the retention window), refuses to split a
    consolidated partition that mixes live batches, allows expiring a
    fully-covered one, and the CLI reaches layout expiry."""
    import os

    from ner_linking_demo_spark import __main__ as CLI

    for b, text in enumerate([BASE, BASE + " dos", BASE + " tres"]):
        incremental_neardup(
            _docs(spark, [(b + 1, text)]), store, batch_id=b
        )
    # expire batch 0: doc 1's signatures vanish; doc 1 no longer matches
    assert store.expire_upto(0) == ["0"]
    assert store.expire_upto(0) == []  # idempotent
    m = incremental_neardup(
        _docs(spark, [(20, BASE)]), store, batch_id=3
    )
    assert not any(r["dup_of"] == 1 for r in m.collect())
    assert any(r["dup_of"] == 2 for r in m.collect())  # batch 1 alive

    # compaction that folds live batches pins them: horizon below the
    # fold must refuse (expire-then-compact is the documented order)...
    assert store.compact(target_file_bytes=1 << 30) == 2
    with pytest.raises(ValueError, match="whole"):
        store.expire_upto(1)
    # ...but a fully-covered fold expires whole
    removed = store.expire_upto(2)
    assert removed == ["__c2"]
    m2 = incremental_neardup(
        _docs(spark, [(21, BASE + " dos")]), store, batch_id=4
    )
    assert all(r["scope"] != "history" or r["dup_of"] == 20
               for r in m2.collect())

    # CLI surface
    lay_dir = str(tmp_path / "clilay")
    from ner_linking_demo_spark.plans.fs import BatchLayout

    lay = BatchLayout(spark, lay_dir)
    for b in range(3):
        lay.publish(spark.range(b * 5, b * 5 + 5).toDF("id"), b)
    CLI.main(
        ["--maintain", "expire", "--batch-layout", lay_dir,
         "--expire-upto", "1"],
        stop_session=False,
    )
    assert sorted(
        d for d in os.listdir(lay_dir) if d.startswith("batch_id=")
    ) == ["batch_id=2"]


def test_cli_resignature_migration(spark, tmp_path):
    """The store-migration job is reachable from the CLI maintenance
    surface: old store -> new params, new store finds the same dup."""
    from ner_linking_demo_spark import __main__ as CLI

    old = SignatureStore(spark, str(tmp_path / "old"))
    docs_rows = [(1, BASE), (2, BASE + " extra final")]
    incremental_neardup(_docs(spark, docs_rows), old, batch_id=0)
    docs_path = str(tmp_path / "docs")
    _docs(spark, docs_rows).write.parquet(docs_path)

    CLI.main(
        ["--maintain", "resignature",
         "--store", str(tmp_path / "old"),
         "--docs", docs_path,
         "--new-root", str(tmp_path / "new"),
         "--n-hashes", "32", "--bands", "8", "--shingle-size", "3"],
        stop_session=False,
    )
    new = SignatureStore(spark, str(tmp_path / "new"))
    assert new.params() == {
        "n_hashes": 32, "bands": 8, "shingle_size": 3
    }
    m = incremental_neardup(
        _docs(spark, [(9, BASE)]), new, batch_id=1,
        n_hashes=32, bands=8,
    )
    assert {(r["doc_id"], r["dup_of"]) for r in m.collect()} >= {(9, 1)}


def test_cli_expire_older_than_days(spark, tmp_path):
    """Age-based retention from the CLI maintenance surface, plus the
    horizon-flag validation rules."""
    import os
    import time

    from ner_linking_demo_spark import __main__ as CLI
    from ner_linking_demo_spark.plans.fs import BatchLayout

    lay_dir = str(tmp_path / "agelay")
    lay = BatchLayout(spark, lay_dir)
    for b in range(3):
        lay.publish(spark.range(b * 5, b * 5 + 5).toDF("id"), b)
    old = time.time() - 10 * 86400
    os.utime(lay.path(0), (old, old))
    os.utime(lay.path(1), (old, old))

    CLI.main(
        ["--maintain", "expire", "--batch-layout", lay_dir,
         "--expire-older-than-days", "5"],
        stop_session=False,
    )
    assert sorted(
        d for d in os.listdir(lay_dir) if d.startswith("batch_id=")
    ) == ["batch_id=2"]

    # exactly one horizon flag
    with pytest.raises(SystemExit):
        CLI.main(
            ["--maintain", "expire", "--batch-layout", lay_dir,
             "--expire-upto", "1", "--expire-older-than-days", "5"],
            stop_session=False,
        )
    # age flag is batch-layout-only
    with pytest.raises(SystemExit):
        CLI.main(
            ["--maintain", "expire", "--checkpoint", str(tmp_path / "c"),
             "--expire-older-than-days", "5"],
            stop_session=False,
        )


def test_cli_expire_days_rejects_nonpositive(spark, tmp_path):
    from ner_linking_demo_spark import __main__ as CLI

    with pytest.raises(SystemExit):
        CLI.main(
            ["--maintain", "expire", "--batch-layout", str(tmp_path / "x"),
             "--expire-older-than-days", "-1"],
            stop_session=False,
        )


def test_streaming_curation_stage_parity(spark, tmp_path):
    """The streaming pipeline runs the batch curation chain: with every
    stage it shares with run_corpus_pipeline on, one micro-batch keeps
    exactly the rows (text and annotations) the batch pipeline keeps on
    the same docs, each stage drops its planted doc, and a replay is
    idempotent. The input has no duplicates, so the two dedup
    mechanisms agree trivially."""
    import os

    from ner_linking_demo_spark.functions.text_analysis import (
        GOPHER_REPETITION_THRESHOLDS,
    )
    from ner_linking_demo_spark.plans.corpus_pipeline import (
        run_corpus_pipeline,
    )
    from ner_linking_demo_spark.streaming import incremental_corpus_pipeline

    boiler = "suscribase al boletin de noticias de la semana con descuentos"
    evalgram = "uno dos tres cuatro cinco seis siete ocho"
    run = ("la cosecha de uva del valle se vende en los mercados "
           "del norte con precios altos")
    rows = [
        (1, f"documento original con palabras de la casa aqui\n{boiler}"),
        (2, f"otro documento distinto con mas contenido de la red\n{boiler}"),
        (3, f"contaminado {evalgram} y algo mas de relleno textual"),
        (4, "pagina con correo contacto admin@example.org y texto extra "
            "suficiente para pasar el filtro de tokens minimos"),
        (5, f"el informe del campo dice que {run} cada semana"),
        (6, "the report of the committee was published in the morning"),
        (7, "con ¡¡¡!!! ¿¿¿??? ;;; ::: ... ,,, --- ***"),
        (8, "compra ya en la tienda " * 12),
        (9, run),
        (10, "palabra con"),
        (11, boiler),
    ]
    # each doc 3/6-11 comes back when only its stage is off: 11 line
    # dedup (hollowed), 9 substring dedup (its only text is doc 5's
    # run), 6 lang_allow, 7 min_quality, 10 min_tokens, 8 the Gopher
    # gate, 3 decontamination
    stages = dict(
        lang_allow=("es",), min_quality=0.7, min_tokens=3,
        line_dedup=True, substring_dedup=12, substring_ngram=4,
        repetition_thresholds=GOPHER_REPETITION_THRESHOLDS,
        scrub_pii=True,
    )
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    eval_set = spark.createDataFrame(
        [(1, evalgram)], "eval_id long, text string"
    )

    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    kwargs = dict(
        out_dir=out, checkpoint_dir=str(tmp_path / "sck"),
        eval_set=eval_set, **stages,
    )
    incremental_corpus_pipeline(spark, stream, **kwargs).awaitTermination(120)

    streamed = spark.read.parquet(os.path.join(out, "kept"))
    res = run_corpus_pipeline(
        spark, spark.read.parquet(src), eval_set=eval_set, near_dup=False,
        collect_stats=True, **stages,
    )
    assert res.stats["after_line_dedup"] == 10
    assert res.stats["after_substring_dedup"] == 9
    batch = res.kept.drop("content_hash", "dup_count")
    cols = batch.columns
    assert {"lang_pred", "quality", "n_tokens", "fingerprint"} <= set(cols)
    got = sorted(tuple(r) for r in streamed.select(*cols).collect())
    want = sorted(tuple(r) for r in batch.collect())
    assert got == want

    kept = {r["doc_id"]: r["text"] for r in streamed.collect()}
    assert set(kept) == {1, 2, 4, 5}
    # shard-local line dedup: boilerplate survives only in doc 1
    assert boiler in kept[1] and boiler not in kept[2]
    # PII scrubbed after dedup, before publish
    assert "<EMAIL>" in kept[4] and "admin@example.org" not in kept[4]

    # TRUE replay: wipe the STREAMING checkpoint so the same input
    # files re-enter process() as batch 0 again (a committed checkpoint
    # would deliver zero batches and assert nothing) — the published
    # layout must short-circuit and the output stay byte-identical
    import shutil

    shutil.rmtree(str(tmp_path / "sck"))
    kwargs2 = dict(kwargs, checkpoint_dir=str(tmp_path / "sck2"))
    incremental_corpus_pipeline(spark, stream, **kwargs2).awaitTermination(120)
    kept2 = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(os.path.join(out, "kept")).collect()
    }
    assert kept2 == kept
