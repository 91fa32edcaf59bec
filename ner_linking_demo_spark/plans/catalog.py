"""Checkpoint catalog: per-stage snapshot tables + lineage (north_rule
"every stage checkpoints to Iceberg with per-partition lineage and
counters so a killed run resumes without recomputation").

Two write backends; resume is parquet-only:
- **Iceberg** (``table_format='iceberg'``): ``write`` uses
  ``df.writeTo(ns.table)`` createOrReplace and ``read`` reads the table
  — snapshots, atomic replace and time travel come from the format.
  Requires the Iceberg Spark runtime on the classpath (see
  session.get_spark). The resume pointer is read only from parquet
  ``snap-*`` directories, so with this backend ``stage``/``exists``
  never resume (every stage recomputes) and ``compact`` raises. No
  caller sets ``table_format``.
- **Parquet snapshots** (default): each write is committed by
  ``plans.fs.publish`` (staging ``<base>/_staging/<table>/snap-<n>``,
  a ``_META.json`` with the input signature and seq, published as
  ``<base>/<table>/snap-<n>``; see its docstring for the protocol and the
  object-store caveat). Readers resolve the highest ``snap-<n>`` that
  carries a ``_META.json``, so a partially-copied directory stays
  invisible (SURVEY.md §7 hard-part e).

All control-plane I/O goes through ``plans.fs.catalog_fs`` so a
``hdfs://``/``s3a://``/``file://`` ``base_dir``, or a bare one under a
non-local ``fs.defaultFS``, behaves identically to a local one.

Lineage: every ``write`` appends a row to ``<base>/_lineage`` (stage,
snapshot, rows_out, n_partitions, per-partition row counts, wall_ms,
input signature). Counters are free: ``rows_out`` comes from a
``CollectMetrics`` observation attached to the write job itself, and
per-partition rows come from the written parquet FOOTERS (metadata-only,
one output file per write task) — no second job re-scanning the
snapshot, an O(stage bytes) lineage tax a 100 TB run cannot pay. On
roots where footers aren't locally readable (hdfs/s3a) the per-partition
column degrades to per-file BYTES from a directory listing, still
metadata-only.

``wall_ms`` is one stage's time from write submission to publish: it
starts when ``write`` receives the stage's lazy plan (driver-side
preparation inside ``compute()``, such as building a term index, is
before it) and ends after the publish, the re-read and the footer
counters. ``run_pipeline`` submits some stages concurrently
(entities/code2entity alongside mentions/linked, triples alongside
edges), so their intervals overlap: do not sum ``wall_ms`` across
stages to get a run's wall time.

``resume``: a stage whose (table, input signature) already has a
published snapshot is skipped and its output is read back — kill/rerun
does not recompute (tested in tests/test_resume.py).

Maintenance (the 10^12-doc housekeeping Iceberg tables get from
``expireSnapshots`` / ``rewriteDataFiles``): ``expire_snapshots`` drops
all but the last K published snapshots of a table plus staging garbage;
``compact`` rewrites the latest snapshot at a target file size so
downstream scans see full-sized splits instead of small-file dust.
"""

from __future__ import annotations

import json
import re
import time

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from .fs import catalog_fs, publish, target_file_count

_SNAP_RE = re.compile(r"snap-(\d+)$")


class CheckpointCatalog:
    def __init__(
        self,
        spark: SparkSession,
        base_dir: str,
        table_format: str = "parquet",
        namespace: str = "kg",
    ):
        self.spark = spark
        self.base = base_dir.rstrip("/")
        self.fmt = table_format
        self.ns = namespace
        self.fs = catalog_fs(spark, self.base)
        self.fs.mkdirs(self.base)
        # concurrent stage writes (run_pipeline parallelizes independent
        # snapshots) serialize their lineage appends: the HadoopFS
        # backend's numbered-file append would race on the next number
        import threading

        self._lineage_lock = threading.Lock()

    # -- snapshot plumbing (parquet backend) --------------------------------
    def _tdir(self, table: str) -> str:
        return f"{self.base}/{table}"

    def _snap_entries(
        self, table: str, published_only: bool = True
    ) -> list[tuple[int, str]]:
        """snap-* dirs of ``table`` as sorted (seq, dirname).
        ``published_only`` keeps only dirs carrying ``_META.json`` (what
        readers may see); the seq allocator scans ALL of them so a
        publish never renames onto a pre-rename-era or partial dir."""
        tdir = self._tdir(table)
        out = []
        for name in (
            self.fs.list_names(tdir) if self.fs.exists(tdir) else []
        ):
            m = _SNAP_RE.fullmatch(name)
            if m and (
                not published_only
                or self.fs.exists(f"{tdir}/{name}/_META.json")
            ):
                out.append((int(m.group(1)), name))
        return sorted(out)

    def _snapshots(self, table: str) -> list[tuple[int, str]]:
        return self._snap_entries(table, published_only=True)

    def _read_pointer(self, table: str) -> dict | None:
        snaps = self._snapshots(table)
        if not snaps:
            return None
        seq, name = snaps[-1]
        meta = json.loads(
            self.fs.read_text(f"{self._tdir(table)}/{name}/_META.json")
        )
        return {"snapshot": name, "seq": seq,
                "input_sig": meta.get("input_sig")}

    @staticmethod
    def _matches(ptr: dict | None, input_sig: str | None) -> bool:
        return ptr is not None and (
            input_sig is None or ptr.get("input_sig") == input_sig
        )

    def exists(self, table: str, input_sig: str | None = None) -> bool:
        return self._matches(self._read_pointer(table), input_sig)

    def read(self, table: str, ptr: dict | None = None) -> DataFrame:
        """The published snapshot ``ptr`` (a ``_read_pointer`` result) of
        ``table``; the latest one when ``ptr`` is None."""
        if self.fmt == "iceberg":
            return self.spark.read.table(f"{self.ns}.{table}")
        ptr = ptr or self._read_pointer(table)
        if ptr is None:
            raise FileNotFoundError(f"no published snapshot for {table}")
        return self.spark.read.parquet(f"{self._tdir(table)}/{ptr['snapshot']}")

    def write(
        self,
        df: DataFrame,
        table: str,
        stage: str | None = None,
        input_sig: str | None = None,
    ) -> DataFrame:
        """Materialize ``df`` as the new published snapshot of ``table``;
        returns the re-read DataFrame (truncated lineage). Counters are
        collected from the write job and the written files, never a
        second job over the data.
        """
        t0 = time.time()
        # rows_out rides the write job itself (CollectMetrics) — zero
        # extra jobs on any backend, local or remote
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows_out"))

        if self.fmt == "iceberg":
            df.writeTo(f"{self.ns}.{table}").createOrReplace()
            out = self.spark.read.table(f"{self.ns}.{table}")
            snap = "iceberg"
        else:
            all_snaps = self._snap_entries(table, published_only=False)
            n = (all_snaps[-1][0] + 1) if all_snaps else 0
            snap = f"snap-{n:05d}"
            final = f"{self._tdir(table)}/{snap}"
            publish(
                self.fs, df, f"{self.base}/_staging/{table}/{snap}", final,
                meta={"seq": n, "input_sig": input_sig,
                      "stage": stage or table, "ts": time.time()},
            )
            out = self.spark.read.parquet(final)

        rows_out = int(obs.get["rows_out"])
        part_counts: dict = {}
        part_unit = None
        if self.fmt != "iceberg":
            local = self.fs.local_path(final)
            if local is not None:
                # per-partition ROW counts from parquet footers: one
                # output file per write task, metadata-only reads
                import pyarrow.parquet as pq

                files = sorted(
                    fn for fn in self.fs.list_names(final)
                    if fn.endswith(".parquet") and not fn.startswith("_")
                )
                part_counts = {
                    i: pq.ParquetFile(f"{local}/{fn}").metadata.num_rows
                    for i, fn in enumerate(files)
                }
                part_unit = "rows"
            else:
                # remote root: footers aren't locally readable — degrade
                # to per-file BYTES from the directory listing (still
                # metadata-only; good enough for skew/lineage forensics)
                part_counts = {
                    i: size
                    for i, (fn, size) in enumerate(
                        sorted(self.fs.file_sizes(final).items())
                    )
                    if fn.endswith(".parquet") and not fn.startswith("_")
                }
                part_unit = "bytes"
        self._log_lineage(
            {
                "stage": stage or table,
                "table": table,
                "snapshot": snap,
                "input_sig": input_sig,
                "rows_out": rows_out,
                "n_partitions": len(part_counts) or None,
                "partition_rows": part_counts
                if part_unit in (None, "rows") else None,
                "partition_bytes": part_counts
                if part_unit == "bytes" else None,
                "wall_ms": int((time.time() - t0) * 1000),
                "ts": time.time(),
            }
        )
        return out

    def _log_lineage(self, row: dict) -> None:
        with self._lineage_lock:
            self.fs.append_line(f"{self.base}/_lineage", json.dumps(row))

    def lineage(self) -> list[dict]:
        return [
            json.loads(line)
            for line in self.fs.read_lines(f"{self.base}/_lineage")
        ]

    # -- resume-aware stage runner ------------------------------------------
    def stage(self, table: str, input_sig: str, compute) -> DataFrame:
        """Run ``compute()`` unless a snapshot for (table, input_sig) is
        already published — the resume-without-recompute contract. The
        published pointer is resolved once, so the snapshot read back is
        the one whose signature matched even if another writer publishes
        in between."""
        ptr = self._read_pointer(table)
        if self._matches(ptr, input_sig):
            self._log_lineage(
                {
                    "stage": table,
                    "table": table,
                    "resumed": True,
                    "input_sig": input_sig,
                    "ts": time.time(),
                }
            )
            return self.read(table, ptr)
        return self.write(compute(), table, stage=table, input_sig=input_sig)

    # -- maintenance --------------------------------------------------------
    def expire_snapshots(self, table: str, keep_last: int = 2) -> list[str]:
        """Drop all but the newest ``keep_last`` published snapshots of
        ``table`` plus any staging garbage; returns deleted paths. The
        parquet-backend analog of Iceberg's ``expireSnapshots`` — without
        it a 10^12-doc pipeline re-run N times keeps N full copies of
        every stage."""
        deleted = []
        snaps = self._snapshots(table)
        for _, name in snaps[:-keep_last] if keep_last > 0 else snaps:
            p = f"{self._tdir(table)}/{name}"
            self.fs.delete(p)
            deleted.append(p)
        staging = f"{self.base}/_staging/{table}"
        if self.fs.exists(staging):
            self.fs.delete(staging)
            deleted.append(staging)
        return deleted

    def compact(
        self,
        table: str,
        target_file_bytes: int = 128 * 1024 * 1024,
    ) -> DataFrame:
        """Rewrite ``table``'s latest snapshot so each output file is
        ~``target_file_bytes`` (Iceberg ``rewriteDataFiles`` analog).
        Small-file dust is the classic failure mode of incremental
        pipelines: thousands of KB-sized files turn downstream scans into
        per-file overhead. Publishes a NEW snapshot under the SAME input
        signature (resume semantics unchanged); the old one becomes
        expirable."""
        ptr = self._read_pointer(table)
        if ptr is None:
            raise FileNotFoundError(f"no published snapshot for {table}")
        n_files = target_file_count(
            self.fs, [f"{self._tdir(table)}/{ptr['snapshot']}"],
            target_file_bytes,
        )
        df = self.read(table, ptr).coalesce(n_files)
        return self.write(
            df, table, stage=f"compact-{table}", input_sig=ptr["input_sig"]
        )
