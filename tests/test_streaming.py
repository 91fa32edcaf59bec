"""Incremental-ingest wrapper: stream a directory of page parquet files
through the pipeline with availableNow, verify triples match the batch
run and that replays don't duplicate."""

from __future__ import annotations

import os

import pytest

from ner_linking_demo_spark.plans.pipeline import run_pipeline
from ner_linking_demo_spark.sources.fixtures import (
    gen_gazetteer,
    gen_pages,
    pages_spark_schema,
    pages_to_spark,
)
from ner_linking_demo_spark.streaming import incremental_pipeline


@pytest.mark.filterwarnings("ignore")
def test_incremental_matches_batch(spark, tmp_path):
    gaz = gen_gazetteer(n_codes=30)
    pages = gen_pages(n_pages=20, gazetteer=gaz, giant_every=0)
    src = str(tmp_path / "src")
    pages_to_spark(spark, pages).write.parquet(src)

    stream = spark.readStream.schema(pages_spark_schema()).parquet(src)
    out = str(tmp_path / "out")
    q = incremental_pipeline(
        spark, stream, gaz, out_dir=out,
        checkpoint_dir=str(tmp_path / "sckpt"), k=3,
    )
    q.awaitTermination(120)

    got = spark.read.parquet(os.path.join(out, "triples"))
    batch = run_pipeline(spark, pages_to_spark(spark, pages), gaz, k=3).triples
    key = ["subj", "pred", "code", "start", "end", "rank"]
    g = {tuple(r) for r in got.select(*key).collect()}
    b = {tuple(r) for r in batch.select(*key).collect()}
    assert g == b and len(g) > 0

    # restart over the same source: availableNow finds no new files; a
    # replayed batch id would be skipped by the commit log
    q2 = incremental_pipeline(
        spark, stream, gaz, out_dir=out,
        checkpoint_dir=str(tmp_path / "sckpt"), k=3,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(os.path.join(out, "triples")).count() == len(g)


@pytest.mark.filterwarnings("ignore")
def test_incremental_publish_with_file_uri(spark, tmp_path):
    """The exactly-once publish resolves the filesystem from the
    out_dir scheme (round-2 advice): a file:// URI must publish and
    replay-skip exactly like a bare local path."""
    gaz = gen_gazetteer(n_codes=10)
    pages = gen_pages(n_pages=8, gazetteer=gaz, giant_every=0)
    src = str(tmp_path / "src")
    pages_to_spark(spark, pages).write.parquet(src)

    stream = spark.readStream.schema(pages_spark_schema()).parquet(src)
    out_uri = "file://" + str(tmp_path / "out_uri")
    q = incremental_pipeline(
        spark, stream, gaz, out_dir=out_uri,
        checkpoint_dir=str(tmp_path / "sckpt2"), k=3,
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_uri + "/triples")
    n = got.count()
    assert n > 0
    # replay: no new files, published batch dirs skip
    q2 = incremental_pipeline(
        spark, stream, gaz, out_dir=out_uri,
        checkpoint_dir=str(tmp_path / "sckpt2"), k=3,
    )
    q2.awaitTermination(120)
    assert spark.read.parquet(out_uri + "/triples").count() == n


def _two_batch_entity_stream(spark, tmp_path):
    """(gazetteer, pages, stream): 16 pages in two parquet files, so
    maxFilesPerTrigger=1 makes two micro-batches."""
    gaz = gen_gazetteer(n_codes=25)
    pages = gen_pages(n_pages=16, gazetteer=gaz, giant_every=0)
    src = str(tmp_path / "src")
    for part in (pages.iloc[:8], pages.iloc[8:]):
        pages_to_spark(spark, part).coalesce(1).write.mode(
            "append"
        ).parquet(src)
    stream = (
        spark.readStream.schema(pages_spark_schema())
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )
    return gaz, pages, stream


def _entities_cc(spark, out):
    from ner_linking_demo_spark.plans.catalog import CheckpointCatalog

    state = CheckpointCatalog(spark, f"{out}/_state")
    return {
        (r["node"], r["component"])
        for r in state.read("entities_cc").collect()
    }


def _entities_oracle(spark, pages, gaz):
    """One-shot CC over the union of every batch's rank-1 edges."""
    import pyspark.sql.functions as F

    from ner_linking_demo_spark.operators.canonicalize import (
        connected_components,
    )

    full = run_pipeline(spark, pages_to_spark(spark, pages), gaz, k=3)
    edges = (
        full.linked.select(
            F.concat(F.lit("sf:"), F.lower("span")).alias("src"),
            F.concat(F.lit("c:"), F.element_at("codes", 1)).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .distinct()
    )
    return {
        (r["node"], r["component"])
        for r in connected_components(edges).collect()
    }


@pytest.mark.filterwarnings("ignore")
def test_incremental_entities_state_across_batches(spark, tmp_path):
    """maintain_entities: the cross-batch surface-form equivalence table
    equals one-shot CC over ALL batches' rank-1 (sf, code) edges, and a
    restart replay leaves it unchanged (idempotent fold)."""
    from ner_linking_demo_spark.plans.catalog import CheckpointCatalog

    gaz, pages, stream = _two_batch_entity_stream(spark, tmp_path)
    out = str(tmp_path / "out")
    q = incremental_pipeline(
        spark, stream, gaz, out_dir=out,
        checkpoint_dir=str(tmp_path / "sckpt"), k=3,
        maintain_entities=True,
    )
    q.awaitTermination(180)

    got = _entities_cc(spark, out)
    assert got == _entities_oracle(spark, pages, gaz) and len(got) > 0
    folds = [
        s for s in CheckpointCatalog(spark, f"{out}/_state").lineage()
        if s["table"] == "entities_cc" and not s.get("resumed")
    ]
    assert len(folds) == 2  # one fold per micro-batch

    # restart: availableNow finds nothing new; state must not change
    q2 = incremental_pipeline(
        spark, stream, gaz, out_dir=out,
        checkpoint_dir=str(tmp_path / "sckpt"), k=3,
        maintain_entities=True,
    )
    q2.awaitTermination(180)
    assert _entities_cc(spark, out) == got


@pytest.mark.filterwarnings("ignore")
def test_incremental_entities_fold_fault_resumes(
    spark, tmp_path, monkeypatch, fail_publish
):
    """A fault after batch 1's triples publish and before its
    entities_cc write reaches the caller. The restart replays batch 1
    through the published-snapshot fold, without re-running the
    pipeline, and ends with the uninterrupted run's entity table, which
    is the one-shot CC oracle's."""
    from ner_linking_demo_spark.plans.catalog import CheckpointCatalog
    from ner_linking_demo_spark.plans.fs import BatchLayout
    from ner_linking_demo_spark.streaming import incremental

    gaz, pages, stream = _two_batch_entity_stream(spark, tmp_path)

    def run(name):
        incremental_pipeline(
            spark, stream, gaz, out_dir=str(tmp_path / name),
            checkpoint_dir=str(tmp_path / f"{name}_ck"), k=3,
            maintain_entities=True,
        ).awaitTermination(180)
        return _entities_cc(spark, str(tmp_path / name))

    want = run("clean")
    assert want == _entities_oracle(spark, pages, gaz) and len(want) > 0

    # batch 0 folds into snap-00000, batch 1 into snap-00001
    fail_publish("/_state/_staging/entities_cc/snap-00001")
    with pytest.raises(Exception, match="injected"):
        run("faulty")
    monkeypatch.undo()
    out = str(tmp_path / "faulty")
    assert BatchLayout(spark, f"{out}/triples").has_batch(1)
    state = CheckpointCatalog(spark, f"{out}/_state")
    assert state.exists("entities_cc", "upto-0")

    calls = []
    pipeline = incremental.run_pipeline
    monkeypatch.setattr(
        incremental, "run_pipeline",
        lambda *a, **kw: calls.append(a) or pipeline(*a, **kw),
    )
    assert run("faulty") == want
    assert calls == []  # replay branch: fold from the published triples
    assert state.exists("entities_cc", "upto-1")


def test_batch_layout_compaction(spark, tmp_path):
    """BatchLayout: publishes are idempotent, compaction folds all but
    the newest batch into one consolidated partition with no change to
    read() content, and covered batch ids stay 'published'."""
    import os

    from ner_linking_demo_spark.plans.fs import BatchLayout

    lay = BatchLayout(spark, str(tmp_path / "lay"))
    for b in range(4):
        assert lay.publish(
            spark.range(b * 10, b * 10 + 5).toDF("id"), b
        ) is True
    assert lay.publish(spark.range(99).toDF("id"), 2) is False  # replay
    before = {r["id"] for r in lay.read().select("id").collect()}
    assert len(before) == 20

    assert lay.compact(target_file_bytes=1 << 30) == 2
    dirs = sorted(os.listdir(lay.root))
    assert [d for d in dirs if d.startswith("batch_id=")] == [
        "batch_id=3", "batch_id=__c2"
    ]
    assert {r["id"] for r in lay.read().select("id").collect()} == before
    for b in range(4):
        assert lay.has_batch(b)
    assert not lay.has_batch(9)
    assert lay.publish(spark.range(1).toDF("id"), 1) is False  # covered


def test_batch_layout_gc_recovery_and_cli(spark, tmp_path):
    """A crashed GC (covered dirs outliving the __c marker) is recovered
    by the next compact(); the CLI reaches layout compaction."""
    import os

    from ner_linking_demo_spark import __main__ as CLI
    from ner_linking_demo_spark.plans.fs import BatchLayout

    lay = BatchLayout(spark, str(tmp_path / "lay"))
    for b in range(4):
        lay.publish(spark.range(b * 10, b * 10 + 5).toDF("id"), b)
    before = {r["id"] for r in lay.read().select("id").collect()}
    assert lay.compact(target_file_bytes=1 << 30) == 2

    # simulate the crash window: resurrect a covered numeric partition
    os.makedirs(lay.path(1), exist_ok=True)
    assert lay.read().count() == len(before)  # read() still filters it
    lay.compact()  # recovery sweep removes the stale covered dir
    assert not os.path.exists(lay.path(1))

    CLI.main(
        ["--maintain", "compact", "--batch-layout", str(tmp_path / "lay")],
        stop_session=False,
    )
    assert {r["id"] for r in lay.read().select("id").collect()} == before


def test_batch_layout_stale_compaction_partition_excluded(spark, tmp_path):
    """A compact() crash between the __c<upto> rename and _gc_covered()
    can leave an OLDER __c<k> partition on disk; read() must see only
    the newest consolidated partition (a stale one double-counts every
    row of the older compaction) and the next compact() must GC it."""
    import os
    import shutil

    from ner_linking_demo_spark.plans.fs import BatchLayout

    lay = BatchLayout(spark, str(tmp_path / "lay"))
    for b in range(4):
        lay.publish(spark.range(b * 10, b * 10 + 5).toDF("id"), b)
    assert dict(lay.read().dtypes)["batch_id"] == "int"
    before = {r["id"] for r in lay.read().select("id").collect()}
    assert lay.compact(target_file_bytes=1 << 30) == 2
    compacted = sorted(tuple(r) for r in lay.read().collect())

    # simulate the crash window: an older consolidated partition that
    # outlived its replacement (rows 0-14 are ALSO inside __c2), and a
    # covered numeric batch that outlived the fold
    stale = lay.path("__c1")
    spark.range(0, 15).toDF("id").write.parquet("file://" + stale)
    spark.range(10, 15).toDF("id").write.parquet("file://" + lay.path(1))
    assert lay.compacted_upto() == 2
    df = lay.read()
    # only the live partitions are read: no file of a covered or stale
    # partition is an input
    read_parts = {
        f.split("batch_id=")[1].split("/")[0] for f in df.inputFiles()
    }
    assert read_parts == {"__c2", "3"}
    # mixed numeric/__c names make the partition column a string, as
    # for any compacted layout
    assert dict(df.dtypes)["batch_id"] == "string"
    assert sorted(tuple(r) for r in df.collect()) == compacted
    rows = df.select("id").collect()
    assert len(rows) == len(before)  # no double-counting
    assert {r["id"] for r in rows} == before

    # the next compact() recovery sweep removes both
    lay.compact()
    assert not os.path.exists(stale) and not os.path.exists(lay.path(1))
    assert {r["id"] for r in lay.read().select("id").collect()} == before


def test_expire_protects_newest_batch_and_replays_noop(spark, tmp_path):
    """Retention must not break exactly-once: the newest batch (the only
    replayable one) cannot expire, and a replay of an EXPIRED batch is a
    publish no-op (the recorded horizon stands in for the deleted commit
    record) instead of resurrecting data below the horizon."""
    import pytest

    from ner_linking_demo_spark.plans.fs import BatchLayout

    lay = BatchLayout(spark, str(tmp_path / "lay"))
    for b in range(3):
        lay.publish(spark.range(b * 5, b * 5 + 5).toDF("id"), b)

    with pytest.raises(ValueError, match="newest"):
        lay.expire_upto(2)
    assert lay.expire_upto(1) == ["0", "1"]
    assert lay.expired_upto() == 1

    # replay of expired batches: has_batch says published, publish no-ops
    for b in (0, 1):
        assert lay.has_batch(b)
        assert lay.publish(spark.range(1).toDF("id"), b) is False
    assert {r["id"] for r in lay.read().select("id").collect()} == set(
        range(10, 15)
    )


def test_expire_before_age_horizon(spark, tmp_path):
    """Age-based retention derives the id horizon from directory mtimes
    with a conservative prefix rule, never touches the newest batch, and
    no-ops when nothing is old enough."""
    import os
    import time

    from ner_linking_demo_spark.plans.fs import BatchLayout

    lay = BatchLayout(spark, str(tmp_path / "age"))
    for b in range(3):
        lay.publish(spark.range(b * 5, b * 5 + 5).toDF("id"), b)

    now = time.time()
    old = now - 10 * 86400
    cutoff_ms = int((now - 5 * 86400) * 1000)

    # nothing old enough -> no-op
    assert lay.expire_before(cutoff_ms) == []

    # batches 0 and 1 aged out, newest recent -> prefix horizon = 1
    os.utime(lay.path(0), (old, old))
    os.utime(lay.path(1), (old, old))
    removed = lay.expire_before(cutoff_ms)
    assert removed == ["0", "1"]
    assert lay.expired_upto() == 1
    assert lay.expire_before(cutoff_ms) == []  # idempotent
    assert {r["id"] for r in lay.read().select("id").collect()} == set(
        range(10, 15)
    )


def test_expire_before_prefix_rule_protects_refreshed_batch(spark, tmp_path):
    """A replayed (mtime-refreshed) old batch blocks the horizon for
    itself AND everything newer — retention never punches holes."""
    import os
    import time

    from ner_linking_demo_spark.plans.fs import BatchLayout

    lay = BatchLayout(spark, str(tmp_path / "age2"))
    for b in range(4):
        lay.publish(spark.range(b, b + 1).toDF("id"), b)
    now = time.time()
    old = now - 10 * 86400
    # batch 0 recent (refreshed by a replay), batches 1,2 ancient
    os.utime(lay.path(1), (old, old))
    os.utime(lay.path(2), (old, old))
    assert lay.expire_before(int((now - 5 * 86400) * 1000)) == []


def test_expire_before_never_touches_newest_even_if_old(spark, tmp_path):
    import os
    import time

    from ner_linking_demo_spark.plans.fs import BatchLayout

    lay = BatchLayout(spark, str(tmp_path / "age3"))
    for b in range(2):
        lay.publish(spark.range(b, b + 1).toDF("id"), b)
    now = time.time()
    old = now - 10 * 86400
    os.utime(lay.path(0), (old, old))
    os.utime(lay.path(1), (old, old))
    assert lay.expire_before(int(now * 1000)) == ["0"]
    assert lay.has_batch(1)


def test_expire_before_aged_compaction_fold(spark, tmp_path):
    """A consolidated __c<k> partition expires whole once ITS mtime (the
    compaction time, strictly newer than its data) ages out; while it is
    fresh it blocks age expiry of the batches it covers."""
    import os
    import time

    from ner_linking_demo_spark.plans.fs import BatchLayout

    lay = BatchLayout(spark, str(tmp_path / "age4"))
    for b in range(4):
        lay.publish(spark.range(b, b + 1).toDF("id"), b)
    upto = lay.compact()
    assert upto == 2  # batches 0..2 folded into __c2, batch 3 live

    now = time.time()
    cutoff_ms = int((now - 5 * 86400) * 1000)
    # fold is fresh -> nothing expires
    assert lay.expire_before(cutoff_ms) == []

    old = now - 10 * 86400
    os.utime(lay.path("__c2"), (old, old))
    assert lay.expire_before(cutoff_ms) == ["__c2"]
    assert lay.expired_upto() == 2
    assert {r["id"] for r in lay.read().select("id").collect()} == {3}


def test_signature_store_expire_before_delegates(spark, tmp_path):
    import os
    import time

    from ner_linking_demo_spark.operators.incremental_dedup import (
        SignatureStore,
        incremental_neardup,
    )

    store = SignatureStore(spark, str(tmp_path / "sstore"))
    docs = spark.createDataFrame(
        [(i, f"doc number {i} has words w{i} x{i} y{i} z{i}") for i in range(6)],
        "doc_id long, text string",
    )
    incremental_neardup(docs.filter("doc_id < 3"), store, batch_id=0)
    incremental_neardup(docs.filter("doc_id >= 3"), store, batch_id=1)
    now = time.time()
    old = now - 10 * 86400
    os.utime(store.path(0), (old, old))
    assert store.expire_before(int((now - 86400) * 1000)) == ["0"]


def test_expire_before_object_store_zero_mtime_is_conservative(spark, tmp_path):
    """An object-store 'directory' prefix reports mtime 0 — which must
    read as age-unknown (no expiry), NEVER as infinitely old. With a
    usable file mtime inside, the newest member's time stands in."""
    import os
    import time

    from ner_linking_demo_spark.plans.fs import BatchLayout

    lay = BatchLayout(spark, str(tmp_path / "obj"))
    for b in range(3):
        lay.publish(spark.range(b, b + 1).toDF("id"), b)

    real_fs = lay.fs

    class DirlessFS:
        """mod_time 0 for directories (S3A prefix behavior), real for
        files; everything else delegates."""

        def __getattr__(self, name):
            return getattr(real_fs, name)

        def mod_time(self, path):
            return 0 if os.path.isdir(path) else real_fs.mod_time(path)

    lay.fs = DirlessFS()
    now = time.time()
    cutoff_ms = int((now - 5 * 86400) * 1000)

    # fresh files inside -> file-mtime fallback -> nothing expires
    assert lay.expire_before(cutoff_ms) == []

    # age the FILES of batches 0 and 1 -> fallback establishes real age
    old = now - 10 * 86400
    for b in (0, 1):
        d = lay.path(b)
        for n in os.listdir(d):
            os.utime(os.path.join(d, n), (old, old))
    assert lay.expire_before(cutoff_ms) == ["0", "1"]


def test_expire_before_unknown_age_never_expires(spark, tmp_path):
    """No directory mtime AND no file mtimes -> age unknown -> no
    expiry (deleting on unknown age is the non-conservative direction)."""
    import time

    from ner_linking_demo_spark.plans.fs import BatchLayout

    lay = BatchLayout(spark, str(tmp_path / "unk"))
    for b in range(3):
        lay.publish(spark.range(b, b + 1).toDF("id"), b)

    real_fs = lay.fs

    class NoAgeFS:
        def __getattr__(self, name):
            return getattr(real_fs, name)

        def mod_time(self, path):
            return 0

    lay.fs = NoAgeFS()
    assert lay.expire_before(int(time.time() * 1000)) == []
    lay.fs = real_fs


def test_batch_layout_failed_publish_and_compact_recover(
    spark, tmp_path, monkeypatch, fail_publish
):
    """A publish that fails before its rename leaves the batch
    unpublished and read() unchanged, and the replay publishes over the
    stale staging; a compact that fails before its rename leaves read()
    unchanged, and the next compact completes."""
    from ner_linking_demo_spark.plans.fs import BatchLayout

    lay = BatchLayout(spark, str(tmp_path / "lay"))

    def ids():
        return sorted(r["id"] for r in lay.read().select("id").collect())

    assert lay.publish(spark.range(0, 5).toDF("id"), 0)
    fail_publish("/_staging/batch-1")
    with pytest.raises(IOError, match="injected"):
        lay.publish(spark.range(10, 15).toDF("id"), 1)
    assert not lay.has_batch(1) and ids() == list(range(5))
    assert os.listdir(f"{lay.staging}/batch-1")  # stale staging
    monkeypatch.undo()
    assert lay.publish(spark.range(10, 15).toDF("id"), 1)
    for b in (2, 3):
        assert lay.publish(spark.range(b * 10, b * 10 + 5).toDF("id"), b)
    before = ids()

    fail_publish("/_staging/compact-")
    with pytest.raises(IOError, match="injected"):
        lay.compact(target_file_bytes=1 << 30)
    assert lay.compacted_upto() is None and ids() == before
    monkeypatch.undo()
    assert lay.compact(target_file_bytes=1 << 30) == 2
    assert lay.compacted_upto() == 2 and ids() == before


def test_corpus_stream_failed_publish_resumes(
    spark, tmp_path, monkeypatch, fail_publish
):
    """An incremental_corpus_pipeline run whose batch-1 kept publish
    fails after the batch's signature append resumes on restart with
    the same kept rows as an uninterrupted run."""
    from ner_linking_demo_spark.operators.incremental_dedup import (
        SignatureStore,
    )
    from ner_linking_demo_spark.plans.fs import BatchLayout
    from ner_linking_demo_spark.streaming import incremental_corpus_pipeline

    base = "el informe anual describe resultados financieros y previsiones"
    batches = [
        [(1, base), (2, "texto distinto sobre otros asuntos del año")],
        [(10, base), (11, "documento nuevo con contenido original aqui"),
         (12, base + " futuras")],
    ]
    src = str(tmp_path / "src")
    for rows in batches:
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(src)
    )

    def run(name):
        incremental_corpus_pipeline(
            spark, stream, out_dir=str(tmp_path / name),
            checkpoint_dir=str(tmp_path / f"{name}_ck"), min_tokens=3,
        ).awaitTermination(120)
        return sorted(
            str(tuple(r))
            for r in BatchLayout(spark, str(tmp_path / name / "kept"))
            .read().collect()
        )

    want = run("clean")
    fail_publish("/kept/_staging/batch-1")
    with pytest.raises(Exception, match="injected"):
        run("faulty")
    monkeypatch.undo()
    out = tmp_path / "faulty"
    assert SignatureStore(spark, str(out / "_sigstore")).has_batch(1)
    assert not BatchLayout(spark, str(out / "kept")).has_batch(1)
    assert run("faulty") == want and len(want) >= 3
