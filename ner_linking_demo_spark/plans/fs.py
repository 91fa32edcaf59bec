"""Driver-side control-plane filesystem and the one publish primitive.

The data plane is always Spark readers/writers; what needs an FS
abstraction is the tiny control plane — publish renames, `_META.json`
markers, lineage rows. :func:`publish` is the only commit protocol in
the package: the checkpoint catalog (plans/catalog.py) and the
batch-partitioned layouts (:class:`BatchLayout`: streaming outputs and
the dedup signature stores) all commit through it.

Two implementations behind one interface, picked by :func:`catalog_fs`
so the control plane resolves a path exactly as Spark's data plane does:

- ``LocalFS`` — a bare path (no scheme) under a ``file:`` default
  filesystem (Hadoop ``fs.defaultFS``, the local-mode default). Plain
  ``os`` calls; POSIX rename is atomic; lineage is a single append-only
  file.
- ``HadoopFS`` — any ``scheme://`` path (``file://``, ``hdfs://``,
  ``s3a://``, ...), and a bare path under any other default filesystem
  (HDFS on a cluster), resolved through ``org.apache.hadoop.fs.FileSystem``
  from the active Spark session's Hadoop configuration. Appends don't
  exist on object stores, so lineage rows become one small
  uniquely-named file each under ``<path>.d/`` — read back merged in
  (ts, seq) order.

``file://`` intentionally routes to ``HadoopFS`` so the JVM code path is
exercisable in tests without a real cluster (tests/test_resume.py).
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import SparkSession


def catalog_fs(spark: SparkSession, root: str):
    """The control plane for ``root``, resolved the way Spark resolves
    the data it writes there: ``LocalFS`` only for a bare path under a
    ``file:`` default filesystem, ``HadoopFS`` otherwise (a bare path on
    a cluster whose ``fs.defaultFS`` is HDFS lands on HDFS)."""
    if "://" not in root:
        default = spark._jvm.org.apache.hadoop.fs.FileSystem.getDefaultUri(
            spark._jsc.hadoopConfiguration()
        )
        if default.getScheme() == "file":
            return LocalFS()
    return HadoopFS(spark, root)


def publish(fs, df, staging: str, final: str, meta: dict | None = None):
    """Commit ``df`` as the directory ``final``: the package's one
    publish protocol.

    1. write ``df`` to ``staging``, overwriting (a crashed earlier
       attempt may have left staging behind);
    2. stamp ``staging/_META.json`` with ``meta``, when given;
    3. create the parent of ``final``;
    4. ONE atomic ``fs.rename(staging, final)``.

    The published directory IS the commit record: readers see ``final``
    whole or not at all, a killed writer leaves only staging garbage that
    the retry overwrites, and there is no pointer file to flip, hence no
    window where data is visible but unrecorded. Directory rename is
    atomic on POSIX and HDFS; on S3-like object stores it is copy+delete
    and NOT atomic — use a committer there (or the catalog's Iceberg
    backend), or dedupe on read by the directory's name."""
    df.write.mode("overwrite").parquet(staging)
    if meta is not None:
        fs.write_text(f"{staging}/_META.json", json.dumps(meta))
    fs.mkdirs(final.rsplit("/", 1)[0])
    fs.rename(staging, final)


def target_file_count(fs, dirs, target_file_bytes: int) -> int:
    """Output files needed to hold the parquet data files of ``dirs`` at
    ~``target_file_bytes`` each (at least one)."""
    total = sum(
        size
        for d in dirs
        for name, size in fs.file_sizes(d).items()
        if name.endswith(".parquet")
    )
    return max(1, -(-total // max(target_file_bytes, 1)))


class LocalFS:
    """POSIX control plane for bare local paths (the default backend)."""

    scheme = "local"

    def mkdirs(self, path: str) -> None:
        os.makedirs(path, exist_ok=True)

    def exists(self, path: str) -> bool:
        return os.path.exists(path)

    def rename(self, src: str, dst: str) -> None:
        if os.path.exists(dst):
            raise IOError(f"publish target already exists: {dst}")
        os.rename(src, dst)  # atomic on POSIX, same filesystem

    def delete(self, path: str) -> None:
        if os.path.isdir(path):
            shutil.rmtree(path)
        elif os.path.exists(path):
            os.remove(path)

    def write_text(self, path: str, text: str) -> None:
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.write(text)
        os.replace(tmp, path)

    def read_text(self, path: str) -> str:
        with open(path) as f:
            return f.read()

    def list_names(self, path: str) -> list[str]:
        return sorted(os.listdir(path)) if os.path.isdir(path) else []

    def file_sizes(self, path: str) -> dict[str, int]:
        return {
            n: os.path.getsize(os.path.join(path, n))
            for n in self.list_names(path)
            if os.path.isfile(os.path.join(path, n))
        }

    def local_path(self, path: str) -> str | None:
        """A plain-filesystem view of ``path`` if one exists (always,
        here) — lets callers use metadata-only local reads (parquet
        footers) instead of Spark jobs."""
        return path

    def mod_time(self, path: str) -> int:
        """Last-modification time of ``path`` in epoch millis."""
        return int(os.path.getmtime(path) * 1000)

    # lineage log: single append-only file (POSIX append is fine locally)
    def append_line(self, path: str, line: str) -> None:
        with open(path, "a") as f:
            f.write(line + "\n")

    def read_lines(self, path: str) -> list[str]:
        if not os.path.exists(path):
            return []
        with open(path) as f:
            return [ln for ln in f.read().splitlines() if ln.strip()]


class HadoopFS:
    """Control plane through ``org.apache.hadoop.fs.FileSystem`` — one
    code path for every Spark-reachable scheme. Driver-side only and
    metadata-sized I/O only; bulk data always moves through Spark."""

    def __init__(self, spark: SparkSession, root: str):
        jvm = spark._jvm
        self._jvm = jvm
        self._Path = jvm.org.apache.hadoop.fs.Path
        self._fs = self._Path(root).getFileSystem(
            spark._jsc.hadoopConfiguration()
        )
        self.scheme = self._fs.getUri().getScheme()

    def mkdirs(self, path: str) -> None:
        self._fs.mkdirs(self._Path(path))

    def exists(self, path: str) -> bool:
        return self._fs.exists(self._Path(path))

    def rename(self, src: str, dst: str) -> None:
        if self._fs.exists(self._Path(dst)):
            raise IOError(f"publish target already exists: {dst}")
        if not self._fs.rename(self._Path(src), self._Path(dst)):
            raise IOError(f"publish rename failed: {src} -> {dst}")

    def delete(self, path: str) -> None:
        self._fs.delete(self._Path(path), True)

    def write_text(self, path: str, text: str) -> None:
        out = self._fs.create(self._Path(path), True)
        try:
            out.write(bytearray(text.encode("utf-8")))
        finally:
            out.close()

    def read_text(self, path: str) -> str:
        stream = self._fs.open(self._Path(path))
        baos = self._jvm.java.io.ByteArrayOutputStream()
        try:
            self._jvm.org.apache.hadoop.io.IOUtils.copyBytes(
                stream, baos, 4096, True
            )
        finally:
            baos.close()
        return bytes(baos.toByteArray()).decode("utf-8")

    def _statuses(self, path: str):
        if not self.exists(path):
            return []
        return list(self._fs.listStatus(self._Path(path)))

    def list_names(self, path: str) -> list[str]:
        return sorted(s.getPath().getName() for s in self._statuses(path))

    def file_sizes(self, path: str) -> dict[str, int]:
        return {
            s.getPath().getName(): int(s.getLen())
            for s in self._statuses(path)
            if s.isFile()
        }

    def local_path(self, path: str) -> str | None:
        if self.scheme == "file":
            return self._Path(path).toUri().getPath()
        return None

    def mod_time(self, path: str) -> int:
        """Last-modification time of ``path`` in epoch millis."""
        return int(
            self._fs.getFileStatus(self._Path(path)).getModificationTime()
        )

    # lineage log: append is unsupported on object stores, so each row is
    # its own immutable file under <path>.d/, named for stable ordering
    def append_line(self, path: str, line: str) -> None:
        d = path + ".d"
        self.mkdirs(d)
        n = len(self.list_names(d))
        self.write_text(f"{d}/{n:08d}.json", line)

    def read_lines(self, path: str) -> list[str]:
        d = path + ".d"
        return [self.read_text(f"{d}/{n}") for n in self.list_names(d)]


# ---------------------------------------------------------------------------
# Batch-partitioned publish layout (shared by streaming triples/kept
# outputs and the dedup signature stores)
# ---------------------------------------------------------------------------

def _covered(partition: str, upto: int) -> bool:
    """Whether a ``batch_id=<partition>`` directory is superseded once
    ``__c<upto>`` is published: a numeric batch ``<= upto`` (folded into
    it) or an older ``__c<k>``, ``k < upto`` (a stale marker a crashed
    compaction left behind; keeping it would double-count its rows)."""
    if partition.isdigit():
        return int(partition) <= upto
    return (
        partition.startswith("__c") and int(partition[len("__c"):]) < upto
    )


class BatchLayout:
    """A ``<root>/batch_id=N`` parquet layout with per-batch publishes
    through :func:`publish` and directory-name-derived compaction state.

    - ``publish(df, batch_id)``: commits ``batch_id=N`` (see
      :func:`publish` for the protocol); idempotent: no-op if the batch
      is already published, expired OR covered by a compaction.
    - ``compact(...)``: folds every batch except the newest into one
      consolidated ``batch_id=__c<N>`` partition at a target file size —
      the small-file GC any always-appending layout needs. The newest
      batch stays untouched because it is the only one Structured
      Streaming can replay. Crash-safe by naming for ``read()`` callers
      (covered numeric partitions are ignored the moment the
      consolidated partition is published), and a crashed GC is
      recovered by the next ``compact()`` call, which always re-sweeps
      covered dirs before deciding whether to fold further.

    COMPACTION CAVEAT for raw readers: once a ``__c<N>`` partition
    exists, ``spark.read.parquet(root)`` (without the coverage filter)
    would double-count covered batches mid-GC-crash, and the mixed
    numeric/``__c`` values force the ``batch_id`` partition column to
    STRING. Consumers of a compacted layout must read through
    :meth:`read` — the streaming docstrings say so, and compaction is
    opt-in maintenance, never automatic.
    """

    def __init__(self, spark, root: str):
        self.spark = spark
        self.root = root.rstrip("/")
        self.fs = catalog_fs(spark, self.root)
        self.staging = f"{self.root}/_staging"
        self.fs.mkdirs(self.root)
        self.fs.mkdirs(self.staging)

    def path(self, batch_id) -> str:
        """Published directory of one batch."""
        return f"{self.root}/batch_id={batch_id}"

    def _partitions(self) -> list[str]:
        return [
            n[len("batch_id="):]
            for n in self.fs.list_names(self.root)
            if n.startswith("batch_id=")
        ]

    def compacted_upto(self) -> int | None:
        cs = [
            int(p[len("__c"):])
            for p in self._partitions()
            if p.startswith("__c")
        ]
        return max(cs) if cs else None

    def has_batch(self, batch_id) -> bool:
        if self.fs.exists(self.path(batch_id)):
            return True
        if not str(batch_id).isdigit():
            return False
        b = int(batch_id)
        upto = self.compacted_upto()
        if upto is not None and b <= upto:
            return True
        # an EXPIRED batch counts as published: its directory is gone by
        # retention, not absence — a replay must be a publish no-op, not
        # a resurrection of data below the horizon
        exp = self.expired_upto()
        return exp is not None and b <= exp

    def publish(self, df, batch_id) -> bool:
        """Publish one batch; False (and nothing written) when a replay
        finds it published, expired or covered by a compaction."""
        if self.has_batch(batch_id):
            return False
        publish(
            self.fs, df, f"{self.staging}/batch-{batch_id}",
            self.path(batch_id),
        )
        return True

    def _live(self) -> list[str]:
        """Partitions ``read()`` sees: every one not covered by the
        newest consolidated ``__c<upto>`` (see :func:`_covered`)."""
        upto = self.compacted_upto()
        return [
            p for p in self._partitions()
            if upto is None or not _covered(p, upto)
        ]

    def _read(self, partitions: list[str]):
        # explicit partition dirs + basePath, never a glob: the glob path
        # costs a FileStreamSink metadata probe that fails and logs a
        # stack trace on every read
        return self.spark.read.option("basePath", self.root).parquet(
            *[self.path(p) for p in partitions]
        )

    def read(self):
        live = self._live()
        return self._read(live) if live else None

    def _gc_covered(self, upto: int) -> None:
        """Delete numeric partitions covered by ``__c<upto>`` and stale
        ``__c`` markers — idempotent, re-runnable after a crash."""
        for p in self._partitions():
            if _covered(p, upto):
                self.fs.delete(self.path(p))

    def expired_upto(self) -> int | None:
        """The layout's recorded retention horizon (None if never
        expired)."""
        p = f"{self.root}/_EXPIRED_UPTO"
        if not self.fs.exists(p):
            return None
        return int(self.fs.read_text(p).strip())

    def expire_upto(self, upto: int) -> list[str]:
        """RETENTION: drop every batch with numeric id <= ``upto`` — the
        age horizon of a store whose batch ids are monotone in time
        (streaming batch ids are). Returns the partition names removed.

        Exactly-once interplay (the published directory IS the commit
        record): the NEWEST batch is never expired — it is the only one
        Structured Streaming can replay, and deleting its commit record
        would make a restart silently republish data the horizon said to
        delete (same rule as ``compact``). The horizon is also RECORDED
        (``_EXPIRED_UPTO``), and ``has_batch`` treats expired ids as
        published, so a replay of an expired batch is a publish NO-OP
        instead of a resurrection.

        Interplay with compaction: a consolidated ``__c<k>`` partition
        drops its members' names, so it can only be expired WHOLE —
        allowed when k <= upto (everything it covers is older than the
        horizon). A ``__c<k>`` with k > upto mixes expired and live
        batches and cannot be split without provenance; the call then
        REFUSES (ValueError) rather than silently over- or
        under-deleting — the production recipe is expire-then-compact,
        in that order, so the fold never pins batches past their
        retention. Idempotent: re-running with the same horizon removes
        nothing."""
        upto = int(upto)
        c_upto = self.compacted_upto()
        if c_upto is not None and c_upto > upto:
            raise ValueError(
                f"batches <= {upto} were folded into batch_id=__c{c_upto} "
                "together with newer ones; a consolidated partition can "
                "only expire whole. Run expire_upto BEFORE compact (the "
                "expire-then-compact order), or raise the horizon to "
                f">= {c_upto}."
            )
        numeric = [int(p) for p in self._partitions() if p.isdigit()]
        if numeric and upto >= max(numeric):
            raise ValueError(
                f"horizon {upto} would expire the newest batch "
                f"({max(numeric)}), the only one a streaming restart can "
                "replay — its published directory is the exactly-once "
                "commit record. Retention horizons must stay below the "
                "newest batch."
            )
        prev = self.expired_upto()
        if prev is None or upto > prev:
            self.fs.write_text(f"{self.root}/_EXPIRED_UPTO", str(upto))
        removed = []
        for p in self._partitions():
            if _covered(p, upto) or p == f"__c{upto}":
                self.fs.delete(self.path(p))
                removed.append(p)
        return removed

    def expire_before(self, ts_ms: int) -> list[str]:
        """Age-based retention: expire every batch whose published
        directory is older than ``ts_ms`` (epoch millis), via
        :meth:`expire_upto`.

        The horizon is derived CONSERVATIVELY as the largest numeric id
        N such that every published numeric batch <= N is older than
        ``ts_ms`` (a prefix rule): batch ids are monotone in publish
        time for streaming appends, but a replayed publish refreshes an
        old batch's mtime — the prefix rule then protects that batch AND
        everything newer instead of punching a hole retention can't
        express. The newest batch is never expired (expire_upto's
        exactly-once rule), so the horizon is additionally clamped below
        it. Returns the removed partition names ([] when nothing is old
        enough).

        Directory mtime is the publish rename time — on HDFS and local
        filesystems that is stable metadata. Object stores have no real
        directories: an S3A "directory" prefix reports modification time
        0, which naively reads as infinitely old and would mass-expire a
        freshly-published layout. :meth:`_batch_age_ms` therefore falls
        back to the NEWEST file mtime inside the partition when the
        directory itself reports no age, and a partition whose age
        cannot be established at all is treated as NOT expirable (the
        conservative direction for a deletion). A compacted ``__c<k>``
        partition's mtime is the COMPACTION time, not its data's age, so
        the horizon is derived from numeric partitions only;
        expire_upto's existing rules then govern whether a ``__c`` fold
        can expire whole."""
        numeric = sorted(int(p) for p in self._partitions() if p.isdigit())
        if not numeric:
            return []
        horizon = None
        for b in numeric[:-1]:  # newest batch is never expirable
            age = self._batch_age_ms(str(b))
            if age is not None and age < ts_ms:
                horizon = b
            else:
                break
        c_upto = self.compacted_upto()
        if horizon is None:
            if c_upto is None:
                return []
            age = self._batch_age_ms(f"__c{c_upto}")
            if age is None or age >= ts_ms:
                return []
            # no numeric batch aged out, but the consolidated fold did —
            # its mtime is the compaction time, strictly newer than any
            # data it holds, so expiring it whole is age-safe
            horizon = c_upto
        if c_upto is not None and c_upto > horizon:
            # the fold mixes live and expired data; expire_upto would
            # refuse — age-based retention just waits for the whole fold
            # to age out (expire-then-compact keeps this rare)
            return []
        return self.expire_upto(horizon)

    def _batch_age_ms(self, partition: str) -> int | None:
        """Publish time of one ``batch_id=<partition>`` directory in
        epoch millis, or None when no age can be established. Directory
        mtime when the filesystem records one (> 0); otherwise the
        newest file mtime inside the partition (object-store prefixes
        report mtime 0 — using the newest member keeps the estimate on
        the too-young side, which can only delay expiry, never cause a
        premature one)."""
        d = self.path(partition)
        t = self.fs.mod_time(d)
        if t > 0:
            return t
        times = [
            self.fs.mod_time(f"{d}/{n}") for n in self.fs.list_names(d)
        ]
        times = [t for t in times if t > 0]
        return max(times) if times else None

    def compact(self, target_file_bytes: int = 128 * 1024 * 1024) -> int:
        prev_upto = self.compacted_upto()
        if prev_upto is not None:
            # recover a crashed previous GC FIRST: covered dirs must not
            # outlive their marker (raw readers would double-count)
            self._gc_covered(prev_upto)
        numeric = sorted(int(p) for p in self._partitions() if p.isdigit())
        if len(numeric) + (1 if prev_upto is not None else 0) < 3:
            return -1
        upto = numeric[-2] if numeric else prev_upto
        if prev_upto is not None and upto <= prev_upto:
            return -1
        fold = [p for p in self._live() if p != str(numeric[-1])]
        n_files = target_file_count(
            self.fs, [self.path(p) for p in fold], target_file_bytes
        )
        merged = self._read(fold).drop("batch_id").coalesce(n_files)
        publish(
            self.fs, merged,
            f"{self.staging}/compact-{upto}", self.path(f"__c{upto}"),
        )
        self._gc_covered(upto)
        return upto
