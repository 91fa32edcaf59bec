"""Checkpoint/lineage runtime: kill/rerun resumes without recomputation
(north_rule resumability; SURVEY.md §5 pyramid (d))."""

from __future__ import annotations

import pandas as pd
import pytest

from ner_linking_demo_spark.plans.catalog import CheckpointCatalog
from ner_linking_demo_spark.plans.pipeline import run_pipeline
from ner_linking_demo_spark.sources.fixtures import pages_to_spark

CKPT_STAGES = ("entities", "code2entity", "mentions", "linked", "triples",
               "edges")


def test_stage_resume_skips_compute(spark, tmp_path):
    cat = CheckpointCatalog(spark, str(tmp_path / "cat"))
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(5).toDF("id")

    a = cat.stage("t1", "sig-A", compute)
    assert calls["n"] == 1 and a.count() == 5
    b = cat.stage("t1", "sig-A", compute)  # resumed, not recomputed
    assert calls["n"] == 1 and b.count() == 5
    c = cat.stage("t1", "sig-B", compute)  # new input -> recompute
    assert calls["n"] == 2 and c.count() == 5

    stages = cat.lineage()
    assert any(s.get("resumed") for s in stages)
    written = [s for s in stages if not s.get("resumed")]
    assert all(s["rows_out"] == 5 for s in written)
    assert all(isinstance(s.get("partition_rows"), dict) for s in written)


def test_atomic_publish_survives_partial_write(spark, tmp_path):
    cat = CheckpointCatalog(spark, str(tmp_path / "cat2"))
    cat.write(spark.range(3).toDF("id"), "t")
    # simulate a partially-copied snapshot dir (non-atomic rename store):
    # no _META.json => invisible to readers, even at a higher seq
    import os

    os.makedirs(str(tmp_path / "cat2/t/snap-99999"), exist_ok=True)
    assert cat.read("t").count() == 3  # reader unaffected
    # killed writer leaves staging garbage only; next write overwrites it
    os.makedirs(str(tmp_path / "cat2/_staging/t/snap-00001"), exist_ok=True)
    cat.write(spark.range(4).toDF("id"), "t")
    assert cat.read("t").count() == 4


def test_stage_reads_the_snapshot_it_matched(spark, tmp_path, monkeypatch):
    """A snapshot published under another signature between resolving
    the pointer and reading the data must not be served: ``stage``
    reads the exact snapshot whose ``_META.json`` matched."""
    import pytest

    cat = CheckpointCatalog(spark, str(tmp_path / "race"))
    cat.write(spark.range(3).toDF("id"), "t", input_sig="sig-A")
    read_pointer = CheckpointCatalog._read_pointer
    published = []

    def resolve_then_publish(self, table):
        ptr = read_pointer(self, table)
        if not published:
            # a concurrent writer publishes right after this resolution
            published.append(True)
            cat.write(spark.range(5).toDF("id"), "t", input_sig="sig-B")
        return ptr

    monkeypatch.setattr(
        CheckpointCatalog, "_read_pointer", resolve_then_publish
    )
    out = cat.stage("t", "sig-A", lambda: pytest.fail("recomputed"))
    assert published and out.count() == 3


def test_hadoop_fs_backend_roundtrip(spark, tmp_path):
    """file:// routes the control plane through the Hadoop FileSystem
    API — the same code path an hdfs:// / s3a:// base_dir takes on a
    real cluster (publish rename, _META marker, per-row lineage files)."""
    cat = CheckpointCatalog(spark, f"file://{tmp_path}/cath")
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(7).toDF("id")

    a = cat.stage("t", "sig-A", compute)
    assert calls["n"] == 1 and a.count() == 7
    b = cat.stage("t", "sig-A", compute)  # resume through HadoopFS
    assert calls["n"] == 1 and b.count() == 7

    rows = cat.lineage()
    written = [s for s in rows if not s.get("resumed")]
    assert written and written[0]["rows_out"] == 7
    assert any(s.get("resumed") for s in rows)


def test_expire_snapshots_and_compact(spark, tmp_path):
    import os

    cat = CheckpointCatalog(spark, str(tmp_path / "catm"))
    cat.write(spark.range(10).toDF("id").repartition(8), "t", input_sig="s1")
    cat.write(spark.range(20).toDF("id").repartition(8), "t", input_sig="s2")
    assert len(cat._snapshots("t")) == 2

    deleted = cat.expire_snapshots("t", keep_last=1)
    assert deleted and len(cat._snapshots("t")) == 1
    assert cat.read("t").count() == 20  # newest survives

    # compact: 8 small files -> 1 full-size file, SAME input signature
    # (resume semantics unchanged), published as a new snapshot
    out = cat.compact("t")
    assert out.count() == 20
    snap_dir = f"{cat._tdir('t')}/{cat._read_pointer('t')['snapshot']}"
    files = [f for f in os.listdir(snap_dir) if f.endswith(".parquet")]
    assert len(files) == 1
    assert cat.exists("t", "s2")  # still resumable under the original sig
    calls = {"n": 0}

    def compute():
        calls["n"] += 1
        return spark.range(1).toDF("id")

    assert cat.stage("t", "s2", compute).count() == 20 and calls["n"] == 0


def test_pipeline_resume_end_to_end(spark, golden_pages, golden_gazetteer, tmp_path):
    pages = pages_to_spark(spark, golden_pages.head(10))
    ckpt = str(tmp_path / "pipe")
    r1 = run_pipeline(
        spark, pages, golden_gazetteer, k=3, checkpoint_dir=ckpt,
        input_sig="pages-v1",
    )
    t1 = r1.triples.toPandas()

    # rerun: every stage must resume from snapshots
    r2 = run_pipeline(
        spark, pages, golden_gazetteer, k=3, checkpoint_dir=ckpt,
        input_sig="pages-v1",
    )
    t2 = r2.triples.toPandas()
    cat = CheckpointCatalog(spark, ckpt)
    resumed = [s["table"] for s in cat.lineage() if s.get("resumed")]
    assert {"mentions", "linked", "triples", "edges"} <= set(resumed)

    key = ["subj", "pred", "code", "start", "end"]
    pd.testing.assert_frame_equal(
        t1.sort_values(key).reset_index(drop=True),
        t2.sort_values(key).reset_index(drop=True),
    )


def test_config_change_invalidates_dependent_stages(spark, tmp_path, golden_pages, golden_gazetteer):
    """Resuming the same checkpoint dir with a different embedder (or an
    edited gazetteer term at constant row count) must RECOMPUTE
    linked/triples rather than serve stale snapshots."""
    from ner_linking_demo_spark.functions.embedder import HashEmbedder

    pages = pages_to_spark(spark, golden_pages.head(4))
    ckpt = str(tmp_path / "inv")
    r1 = run_pipeline(
        spark, pages, golden_gazetteer, k=3, checkpoint_dir=ckpt,
        embedder=HashEmbedder(seed=42),
    )
    s1 = {tuple(r) for r in r1.triples.select("subj", "code", "rank").collect()}

    # different embedding space, same dir: scores/codes must change with it
    r2 = run_pipeline(
        spark, pages, golden_gazetteer, k=3, checkpoint_dir=ckpt,
        embedder=HashEmbedder(seed=7),
    )
    s2 = {tuple(r) for r in r2.triples.select("subj", "code", "rank").collect()}
    assert s1 != s2  # a stale resume would return s1 verbatim

    # gazetteer content edit at CONSTANT row count: also invalidates
    gaz = golden_gazetteer.copy()
    gaz.loc[gaz.index[0], "term"] = gaz.loc[gaz.index[0], "term"] + " edited"
    r3 = run_pipeline(
        spark, pages, gaz, k=3, checkpoint_dir=ckpt,
        embedder=HashEmbedder(seed=7),
    )
    # the mentions stage depends on the gazetteer: recompute happened if
    # its signature changed — assert via the lineage log (no stale serve)
    import json, os

    lineage = [
        json.loads(line)
        for line in open(os.path.join(ckpt, "_lineage")).read().splitlines()
    ]
    mention_stages = [s for s in lineage if s["table"] == "mentions"]
    sigs = {s["input_sig"] for s in mention_stages}
    assert len(sigs) == 2  # original + edited-gazetteer signature
    assert r3.triples.count() > 0


def test_write_skips_over_unpublished_snap_dirs(spark, tmp_path):
    """A snap dir WITHOUT _META.json (pre-rename-commit checkpoint or a
    partial copy) is invisible to readers but must still be skipped by
    the seq numbering — publishing must never rename onto it."""
    import os

    cat = CheckpointCatalog(spark, str(tmp_path / "mig"))
    os.makedirs(str(tmp_path / "mig/t/snap-00000"), exist_ok=True)
    cat.write(spark.range(3).toDF("id"), "t", input_sig="s")
    assert cat._read_pointer("t")["snapshot"] == "snap-00001"
    assert cat.read("t").count() == 3
    cat.write(spark.range(4).toDF("id"), "t", input_sig="s2")
    assert cat.read("t").count() == 4


def test_coarse_checkpoint_granularity(spark, golden_pages, golden_gazetteer, tmp_path):
    """coarse mode: ONE fused checkpointed stage, triples identical to
    fine mode, rerun resumes without recompute."""
    pages = pages_to_spark(spark, golden_pages.head(8))
    key = ["subj", "pred", "code", "start", "end", "rank"]

    fine = run_pipeline(
        spark, pages, golden_gazetteer, k=3,
        checkpoint_dir=str(tmp_path / "fine"), input_sig="v1",
    )
    coarse = run_pipeline(
        spark, pages, golden_gazetteer, k=3,
        checkpoint_dir=str(tmp_path / "coarse"), input_sig="v1",
        checkpoint_granularity="coarse",
    )
    assert {tuple(r) for r in coarse.triples.select(*key).collect()} == {
        tuple(r) for r in fine.triples.select(*key).collect()
    }
    cat = CheckpointCatalog(spark, str(tmp_path / "coarse"))
    written = {s["table"] for s in cat.lineage() if not s.get("resumed")}
    assert "mentions" not in written  # no separate mentions snapshot

    again = run_pipeline(
        spark, pages, golden_gazetteer, k=3,
        checkpoint_dir=str(tmp_path / "coarse"), input_sig="v1",
        checkpoint_granularity="coarse",
    )
    resumed = {s["table"] for s in cat.lineage() if s.get("resumed")}
    assert {"linked", "triples", "edges"} <= resumed
    assert again.triples.count() == coarse.triples.count()


def test_failed_stage_leaks_no_worker_thread(
    spark, golden_pages, golden_gazetteer, tmp_path, monkeypatch
):
    """A failure in the mentions stage, while the entities/code2entity
    snapshot writes run on their thread pool, reaches the caller, and
    no ThreadPoolExecutor worker thread outlives the call."""
    import threading

    import pytest

    from ner_linking_demo_spark.plans import pipeline

    def fail(*args, **kwargs):
        raise RuntimeError("mentions stage failed")

    monkeypatch.setattr(pipeline, "detect_mentions", fail)
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="mentions stage failed"):
        run_pipeline(
            spark, pages_to_spark(spark, golden_pages.head(4)),
            golden_gazetteer, k=3, checkpoint_dir=str(tmp_path / "ck"),
        )
    leaked = [
        t for t in threading.enumerate()
        if t not in before and t.name.startswith("ThreadPoolExecutor")
    ]
    assert not leaked, leaked


def test_once_evaluates_once_under_concurrent_callers():
    """``_Once`` shares one build, or one exception, among callers racing
    on a pool (more threads than cores, short switch interval)."""
    import sys
    import time
    from concurrent.futures import ThreadPoolExecutor

    import pytest

    from ner_linking_demo_spark.plans.pipeline import _Once

    calls = []

    def build(fail):
        calls.append(1)
        time.sleep(0.005)
        if fail:
            raise RuntimeError("build failed")
        return object()

    def get_or_exc(once):
        try:
            return once.get()
        except RuntimeError as exc:
            return exc

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for i in range(20):
            calls.clear()
            once = _Once(lambda: build(fail=i % 2 == 1))
            with ThreadPoolExecutor(max_workers=16) as pool:
                if i % 4 < 2:
                    once.prefetch(pool)
                got = list(pool.map(get_or_exc, [once] * 32, timeout=30))
            assert len(calls) == 1
            assert all(g is got[0] for g in got)
            if i % 2:
                with pytest.raises(RuntimeError, match="build failed"):
                    once.get()
    finally:
        sys.setswitchinterval(interval)


def test_failed_index_build_resumes_mentions(
    spark, golden_pages, golden_gazetteer, tmp_path, monkeypatch
):
    """The term-index build of a fresh fine run overlaps the mentions
    stage on the pool; when it fails, the exception reaches the caller,
    no ThreadPoolExecutor worker thread outlives the call, and a rerun
    on the same directory resumes the published mentions snapshot and
    completes."""
    import threading

    import pytest

    from ner_linking_demo_spark.plans import pipeline

    def fail(*args, **kwargs):
        raise RuntimeError("index build failed")

    pages = pages_to_spark(spark, golden_pages.head(4))
    ckpt = str(tmp_path / "ck")
    monkeypatch.setattr(pipeline, "build_indexes", fail)
    before = set(threading.enumerate())
    with pytest.raises(RuntimeError, match="index build failed"):
        run_pipeline(spark, pages, golden_gazetteer, k=3, checkpoint_dir=ckpt)
    leaked = [
        t for t in threading.enumerate()
        if t not in before and t.name.startswith("ThreadPoolExecutor")
    ]
    assert not leaked, leaked

    monkeypatch.undo()
    cat = CheckpointCatalog(spark, ckpt)
    n_before = len(cat.lineage())
    rerun = run_pipeline(
        spark, pages, golden_gazetteer, k=3, checkpoint_dir=ckpt
    )
    assert rerun.triples.count() > 0
    tail = cat.lineage()[n_before:]
    assert {s["table"] for s in tail if s.get("resumed")} >= {"mentions"}
    assert {s["table"] for s in tail if not s.get("resumed")} >= {
        "linked", "triples", "edges",
    }


def test_resume_builds_no_dimension_artifacts(
    spark, golden_pages, golden_gazetteer, tmp_path, monkeypatch
):
    """The gazetteer artifacts are built only for stages that compute:
    a fully resumed call (fine or coarse) builds neither the term indexes
    nor the entity tables, and a call whose ``linked`` stage alone
    recomputes builds only the indexes. Every call's triples hash-equal
    an uninterrupted run's."""
    from tools.selfcheck import value_hash

    from ner_linking_demo_spark.plans import pipeline

    pages = pages_to_spark(spark, golden_pages.head(6))
    calls = {"build_indexes": 0, "build_entities_local": 0}
    for name in calls:
        def counted(*args, _orig=getattr(pipeline, name), _name=name, **kw):
            calls[_name] += 1
            return _orig(*args, **kw)

        monkeypatch.setattr(pipeline, name, counted)

    def run(d, k=3, granularity="fine"):
        for name in calls:
            calls[name] = 0
        res = run_pipeline(
            spark, pages, golden_gazetteer, k=k, input_sig="v1",
            checkpoint_dir=str(tmp_path / d),
            checkpoint_granularity=granularity,
        )
        return value_hash(res.triples.toPandas()), dict(calls)

    # uninterrupted references: the no-checkpoint plan at each k
    want = {
        k: value_hash(
            run_pipeline(spark, pages, golden_gazetteer, k=k).triples.toPandas()
        )
        for k in (3, 2)
    }

    fresh = (want[3], {"build_indexes": 1, "build_entities_local": 1})
    resumed = (want[3], {"build_indexes": 0, "build_entities_local": 0})
    assert run("fine") == fresh
    assert run("fine") == resumed
    assert run("coarse", granularity="coarse") == fresh
    assert run("coarse", granularity="coarse") == resumed
    # a different k: mentions and entities resume, linked recomputes
    assert run("fine", k=2) == (
        want[2], {"build_indexes": 1, "build_entities_local": 0}
    )


def test_recorded_schema_reads_as_inferred(
    spark, golden_pages, golden_gazetteer, tmp_path
):
    """Every stage's ``_META.json`` records the written schema, and a
    read with it equals schema inference over the snapshot, field
    nullability and metadata included, on fine, coarse and reranked
    runs."""
    import os

    pages = pages_to_spark(spark, golden_pages.head(4))
    runs = {
        "fine": {},
        "coarse": {"checkpoint_granularity": "coarse"},
        "rerank": {"reranker": "crossencoder"},
    }
    for name, kw in runs.items():
        ckpt = str(tmp_path / name)
        run_pipeline(
            spark, pages, golden_gazetteer, k=3, checkpoint_dir=ckpt, **kw
        )
        cat = CheckpointCatalog(spark, ckpt)
        tables = sorted(n for n in os.listdir(ckpt) if not n.startswith("_"))
        assert tables == sorted(
            t for t in CKPT_STAGES if name != "coarse" or t != "mentions"
        )
        for table in tables:
            ptr = cat._read_pointer(table)
            assert ptr["schema"] is not None, (name, table)
            got = cat.read(table, ptr).schema
            want = spark.read.parquet(
                f"{ckpt}/{table}/{ptr['snapshot']}"
            ).schema
            assert got == want, (name, table)
            assert got.json() == want.json(), (name, table)


def _last_job_id(spark) -> int:
    """The id of the newest job the session has submitted, read after the
    listener bus has drained."""
    sc = spark.sparkContext
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return max(sc.statusTracker().getJobIdsForGroup(), default=-1)


@pytest.mark.parametrize("granularity", ["fine", "coarse"])
def test_full_resume_launches_no_job_and_builds_no_plan(
    spark, golden_pages, golden_gazetteer, tmp_path, monkeypatch, granularity
):
    """A fully resumed call submits no Spark job before the caller's
    first action and never builds the triples/edges plans; its triples
    hash-equal the no-checkpoint run's."""
    from tools.selfcheck import value_hash

    from ner_linking_demo_spark.plans import pipeline

    pages = pages_to_spark(spark, golden_pages.head(6))
    want = value_hash(
        run_pipeline(spark, pages, golden_gazetteer, k=3).triples.toPandas()
    )
    kw = dict(
        k=3, input_sig="v1", checkpoint_dir=str(tmp_path / "ck"),
        checkpoint_granularity=granularity,
    )
    run_pipeline(spark, pages, golden_gazetteer, **kw)
    built = []
    build = pipeline.build_triples

    def counted(*args):
        built.append(1)
        return build(*args)

    monkeypatch.setattr(pipeline, "build_triples", counted)
    last = _last_job_id(spark)
    resumed = run_pipeline(spark, pages, golden_gazetteer, **kw)
    assert _last_job_id(spark) == last
    assert not built
    assert value_hash(resumed.triples.toPandas()) == want
    assert _last_job_id(spark) > last  # the probe sees the action's jobs


def test_snapshots_without_recorded_schema_resume_by_inference(
    spark, golden_pages, golden_gazetteer, tmp_path
):
    """A checkpoint directory whose ``_META.json`` files carry no
    ``schema`` key, as snapshots written before the key existed, resumes
    all six stages through schema inference with the same triples, and
    ``compact`` records the schema in the snapshot it publishes."""
    import glob
    import json

    from tools.selfcheck import value_hash

    pages = pages_to_spark(spark, golden_pages.head(4))
    ckpt = str(tmp_path / "ck")
    kw = dict(k=3, input_sig="v1", checkpoint_dir=ckpt)
    want = value_hash(
        run_pipeline(spark, pages, golden_gazetteer, **kw).triples.toPandas()
    )
    metas = glob.glob(f"{ckpt}/*/snap-*/_META.json")
    assert len(metas) == len(CKPT_STAGES)
    for path in metas:
        with open(path) as f:
            meta = json.load(f)
        del meta["schema"]
        with open(path, "w") as f:
            json.dump(meta, f)

    cat = CheckpointCatalog(spark, ckpt)
    n_before = len(cat.lineage())
    rerun = run_pipeline(spark, pages, golden_gazetteer, **kw)
    assert value_hash(rerun.triples.toPandas()) == want
    tail = cat.lineage()[n_before:]
    assert all(s.get("resumed") for s in tail)
    assert sorted(s["table"] for s in tail) == sorted(CKPT_STAGES)

    cat.compact("triples")
    ptr = cat._read_pointer("triples")
    assert ptr["snapshot"] == "snap-00001" and ptr["schema"] is not None
    assert cat.read("triples", ptr).schema == spark.read.parquet(
        f"{ckpt}/triples/snap-00001"
    ).schema
    assert value_hash(cat.read("triples", ptr).toPandas()) == want


def test_bare_root_follows_default_fs(spark, tmp_path):
    """A bare root resolves its control plane the way Spark resolves the
    data: under a viewfs ``fs.defaultFS`` whose mount table links
    ``<tmp>/logical`` to ``file://<tmp>/physical``, a catalog snapshot's
    data and its ``_META.json`` land together under ``physical``, a
    resume reads the snapshot back, and a BatchLayout publish lands
    there too."""
    import os

    from ner_linking_demo_spark.plans.fs import BatchLayout

    logical, physical = f"{tmp_path}/logical", f"{tmp_path}/physical"
    os.makedirs(physical)
    conf = spark._jsc.hadoopConfiguration()
    settings = {
        "fs.defaultFS": "viewfs://c/",
        "fs.viewfs.impl.disable.cache": "true",
        f"fs.viewfs.mounttable.c.link.{logical}": f"file://{physical}",
    }
    saved = {k: conf.get(k) for k in settings}
    calls = []

    def compute():
        calls.append(1)
        return spark.range(5).toDF("id")

    try:
        for k, v in settings.items():
            conf.set(k, v)
        fresh = CheckpointCatalog(spark, f"{logical}/ck").stage(
            "t", "sig", compute
        )
        assert fresh.count() == 5
        resumed = CheckpointCatalog(spark, f"{logical}/ck").stage(
            "t", "sig", compute
        )
        assert resumed.count() == 5 and len(calls) == 1
        lay = BatchLayout(spark, f"{logical}/lay")
        assert lay.publish(spark.range(3).toDF("id"), 0)
        assert lay.has_batch(0) and lay.read().count() == 3
    finally:
        for k, v in saved.items():
            if v is None:
                conf.unset(k)
            else:
                conf.set(k, v)
    snap = f"{physical}/ck/t/snap-00000"
    assert os.path.exists(f"{snap}/_META.json")
    assert any(n.endswith(".parquet") for n in os.listdir(snap))
    assert any(
        n.endswith(".parquet")
        for n in os.listdir(f"{physical}/lay/batch_id=0")
    )
    assert not os.path.exists(logical)


def _fault_compute(monkeypatch, fail_publish):
    """(a) the ``linked`` stage's compute() raises."""
    from ner_linking_demo_spark.plans import pipeline

    def fail(*args, **kwargs):
        raise RuntimeError("injected compute fault")

    monkeypatch.setattr(pipeline, "link_mentions", fail)
    return "injected compute fault", None


def _fault_rename(monkeypatch, fail_publish):
    """(b) ``linked``: staging written, rename raises."""
    fail_publish("/_staging/linked/")
    return "injected publish fault", "linked"


def _fault_pair(monkeypatch, fail_publish):
    """(c) ``edges`` fails while ``triples`` publishes beside it."""
    fail_publish("/_staging/edges/")
    return "injected publish fault", "edges"


def _fault_entities(monkeypatch, fail_publish):
    """(d) the ``entities`` future fails while the mentions stage runs:
    its rename waits until mentions' compute has been entered."""
    import threading

    from ner_linking_demo_spark.plans import pipeline

    started = threading.Event()
    detect = pipeline.detect_mentions

    def detect_and_signal(*args, **kwargs):
        started.set()
        return detect(*args, **kwargs)

    monkeypatch.setattr(pipeline, "detect_mentions", detect_and_signal)
    fail_publish(
        "/_staging/entities/", before=lambda: started.wait(timeout=120)
    )
    return "injected publish fault", "entities"


@pytest.mark.parametrize(
    "fault", [_fault_compute, _fault_rename, _fault_pair, _fault_entities],
    ids=["compute", "rename", "pair", "entities"],
)
def test_fault_injected_publish_resumes_exactly(
    spark, golden_pages, golden_gazetteer, tmp_path, monkeypatch,
    fail_publish, fault,
):
    """A fault at any point of a checkpointed run reaches the caller, no
    ThreadPoolExecutor worker thread outlives the call, and a rerun on
    the same directory publishes over the stale staging the fault left
    and gives triples that hash-equal an uninterrupted run's."""
    ckpt = str(tmp_path / "ck")
    _assert_fault_resumes_exactly(
        spark, golden_pages, golden_gazetteer, monkeypatch, ckpt, ckpt,
        lambda: fault(monkeypatch, fail_publish),
    )


def test_hadoop_fs_rename_fault_resumes_exactly(
    spark, golden_pages, golden_gazetteer, tmp_path, monkeypatch,
    fail_publish,
):
    """The rename fault of ``test_fault_injected_publish_resumes_exactly``
    on a ``file://`` root, whose control plane is ``HadoopFS``: the
    fault lands in ``HadoopFS.rename``, and the rerun resumes the stages
    published before it with the schemas their ``_META.json`` carries,
    read back through ``HadoopFS.read_text``."""
    from ner_linking_demo_spark.plans.fs import HadoopFS

    root = f"file://{tmp_path}/ck"
    _assert_fault_resumes_exactly(
        spark, golden_pages, golden_gazetteer, monkeypatch, root,
        str(tmp_path / "ck"), lambda: _fault_rename(monkeypatch, fail_publish),
    )
    cat = CheckpointCatalog(spark, root)
    assert isinstance(cat.fs, HadoopFS)
    assert {"entities", "code2entity", "mentions"} <= {
        s["table"] for s in cat.lineage() if s.get("resumed")
    }
    for table in CKPT_STAGES:
        ptr = cat._read_pointer(table)
        assert ptr["schema"] is not None
        assert cat.read(table, ptr).schema == spark.read.parquet(
            f"{root}/{table}/{ptr['snapshot']}"
        ).schema


def _assert_fault_resumes_exactly(
    spark, golden_pages, golden_gazetteer, monkeypatch, root, local_root,
    install_fault,
):
    """``install_fault()`` (returning the expected message and the table
    whose staging it strands, or None), a checkpointed call on ``root``
    (its files under the plain path ``local_root``) that must fail with
    it, then a rerun without the fault that must publish over the stale
    staging and give triples that hash-equal an uninterrupted run's."""
    import os
    import threading

    from tools.selfcheck import value_hash

    pages = pages_to_spark(spark, golden_pages.head(4))
    want = value_hash(
        run_pipeline(spark, pages, golden_gazetteer, k=3).triples.toPandas()
    )
    message, staged_table = install_fault()
    before = set(threading.enumerate())
    with pytest.raises(Exception, match=message):
        run_pipeline(spark, pages, golden_gazetteer, k=3, checkpoint_dir=root)
    leaked = [
        t for t in threading.enumerate()
        if t not in before and t.name.startswith("ThreadPoolExecutor")
    ]
    assert not leaked, leaked
    staging = f"{local_root}/_staging"
    if staged_table is not None:
        assert os.listdir(f"{staging}/{staged_table}")  # stale staging

    monkeypatch.undo()
    rerun = run_pipeline(
        spark, pages, golden_gazetteer, k=3, checkpoint_dir=root
    )
    assert value_hash(rerun.triples.toPandas()) == want
    assert not [
        (t, os.listdir(f"{staging}/{t}")) for t in os.listdir(staging)
        if os.listdir(f"{staging}/{t}")
    ]
    if staged_table is not None:
        assert CheckpointCatalog(spark, root).exists(staged_table)
