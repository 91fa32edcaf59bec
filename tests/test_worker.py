"""The worker-side zipimport hook (``ner_linking_demo_spark._worker``):
an unchanged archive is not re-read per ``importlib.invalidate_caches()``,
a rewritten one is, and only a Python worker task installs the hook."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from ner_linking_demo_spark import _worker

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
NEEDS_HOOK = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 re-reads lazily"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@NEEDS_HOOK
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"nlds_zip_a": "A = 1\n"})
    monkeypatch.syspath_prepend(archive)
    reads = []
    stdlib_read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return stdlib_read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    import nlds_zip_a

    assert nlds_zip_a.A == 1

    def rereads() -> int:
        before = reads.count(archive)
        importlib.invalidate_caches()
        return reads.count(archive) - before

    # the stdlib re-reads the directory on every call
    assert [rereads(), rereads()] == [1, 1]

    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(_worker, "_directories", {})
    _worker.install()
    _worker.install()
    assert zipimport.zipimporter.invalidate_caches is _worker._invalidate_caches
    # one read stamps the archive, later calls read nothing
    assert [rereads(), rereads(), rereads()] == [1, 0, 0]

    _write_zip(archive, {"nlds_zip_a": "A = 1\n", "nlds_zip_b": "B = 2\n"})
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert [rereads(), rereads()] == [1, 0]
    import nlds_zip_b

    assert nlds_zip_b.B == 2
    for name in ("nlds_zip_a", "nlds_zip_b"):
        sys.modules.pop(name)


def test_driver_import_leaves_stdlib_hook():
    """Outside a worker task the package import installs nothing, even
    with pyspark loaded."""
    code = (
        "import sys, zipimport, pyspark.taskcontext, ner_linking_demo_spark;"
        "print(zipimport.zipimporter.invalidate_caches.__module__,"
        " 'ner_linking_demo_spark._worker' in sys.modules)"
    )
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=ROOT, capture_output=True,
        text=True, check=True,
    ).stdout.split()
    assert out == ["zipimport", "False"]


@NEEDS_HOOK
def test_worker_task_installs_hook(spark):
    """After a package operator ran in a worker, a task that imports the
    package re-reads no archive on its second invalidation."""
    import pandas as pd

    from ner_linking_demo_spark.operators.ner import detect_mentions
    from ner_linking_demo_spark.sources.fixtures import (
        gen_gazetteer,
        gen_pages,
        pages_to_spark,
    )

    gaz = gen_gazetteer(n_codes=10)
    pages = pages_to_spark(spark, gen_pages(n_pages=2, gazetteer=gaz))
    detect_mentions(pages, gaz, num_partitions=1).collect()

    def probe(batches):
        import importlib
        import zipimport

        import ner_linking_demo_spark  # noqa: F401

        stdlib_read = zipimport._read_directory
        reads = []

        def counting(path):
            reads.append(path)
            return stdlib_read(path)

        zipimport._read_directory = counting
        try:
            counts = []
            for _ in range(2):
                before = len(reads)
                importlib.invalidate_caches()
                counts.append(len(reads) - before)
        finally:
            zipimport._read_directory = stdlib_read
        for _ in batches:
            pass
        yield pd.DataFrame({
            "second": [counts[1]],
            "zip_importers": [sum(
                isinstance(f, zipimport.zipimporter)
                for f in sys.path_importer_cache.values()
            )],
            "hook": [zipimport.zipimporter.invalidate_caches.__module__],
        })

    got = spark.range(1).coalesce(1).mapInPandas(
        probe, "second long, zip_importers long, hook string"
    ).toPandas()
    # Spark puts pyspark.zip, the py4j zip and the spark-core jar on the
    # worker path, so the probe is not vacuous
    assert got["zip_importers"].iloc[0] > 0
    assert got["hook"].iloc[0] == "ner_linking_demo_spark._worker"
    assert got["second"].iloc[0] == 0
