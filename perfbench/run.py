"""KG-pipeline benchmark: pages -> NER -> kNN candidates -> k-distinct
linking -> canonicalization -> triples, through the public entry point
``plans.pipeline.run_pipeline`` at ``local[<nproc>]`` from one Spark
driver process.

Usage, from the repository root:

    python3 perfbench/run.py --workload web_small_gaz --seed 1 \\
        --seconds 18 --trace 0

Workloads (inputs generated from ``--seed`` by ``perfbench/inputs.py``):

- ``web_small_gaz``: 5,000 documents shaped like the harness
  ``documents`` table x 4 replicas (20k short pages) with the harness
  12-term gazetteer, fused plan. Matcher, ``balance_pages`` repartition
  and the Arrow transfer do the work; embed/search/scan see the 5 spans
  that gazetteer matches in such text.
- ``clinical_checkpointed``: 500 pages from ``gen_pages`` over
  ``gen_gazetteer(n_codes=2000)`` (~5.1k terms per label, ``max_n_texts``
  22; giant page every 50th, hot terms, multi-byte text). Each operation
  is a fine-granularity ``run_pipeline(checkpoint_dir=<fresh dir>)``
  followed by two resumed calls on the same directory. Snapshot writes,
  the candidate explode + k-distinct fold exchange, exact-IP search and
  the resume reads do the work.

One run is a closed loop with one client: set up, verify once
(untimed), then call the workload's operation back to back for
``--seconds``. Every timed call's output is checked against the
verification call's counts.

End-to-end metrics (``--trace 0``): ``docs_per_s`` (input pages over
the median call wall; the write call on the checkpointed workload),
``resume_s`` (median wall of the resumed call on the checkpointed
workload; the fused plan keeps no snapshot, so there it reads the same
calls as ``docs_per_s`` and duplicates that metric), ``setup_s``
(median of three set-ups, each a session start, JVM and Python-worker
warm-up and ``build_indexes``; only the first launches the JVM),
``worker_peak_rss_mb`` (the largest Python worker's peak resident
memory over the timed calls, from the kernel's high-water mark: one
worker's copy of the broadcast index, its imports and its largest
batch; the worker tree's PSS sum, which follows how many workers Spark
happened to fork, is the per-layer ``mem.worker_tree_pss_mb``, and the
driver JVM's peak the per-layer ``mem.jvm_rss_mb``, because G1 heap
growth made it vary 2x between runs of one input),
``ops_ok_frac`` (calls that raised or failed the output check count
against it), ``triples_pr_min`` and ``triples_exact_frac`` (the
verification call's triples against ``oracle.oracle_triples`` on a
deterministic url sample).

Per-layer metrics (``--trace 1``) come from a separate run: Spark's
status stores over each traced call, wrappers around the catalog and
entity-build calls (``catalog.write_s`` is the catalog's own time in
``CheckpointCatalog.write``: its wall less the Spark write job it
submits, which runs the upstream plan), and a replay of the fused
kernel over the workload's captured Arrow batches (see
``perfbench/probes.py``). Each per-call number is the median over the
traced calls.

The last stdout line is one JSON object: correct, attempted, failed,
metrics. Earlier lines stamp the run (idle probe, nproc, master,
versions) and, on trace runs, every per-layer value.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import pandas as pd  # resolves the warm-up pandas_udf's type hints

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# Imported before anything runs, so a tree without the program fails
# fast, before a result could be printed.
import ner_linking_demo_spark  # noqa: E402,F401
from ner_linking_demo_spark.plans.pipeline import run_pipeline  # noqa: E402

from perfbench import inputs, probes  # noqa: E402

K = 3
SETUPS = 3
RESUMES = 2  # resumed calls after each checkpointed write
WEB_DOCS, WEB_REPLICAS = 5000, 4
CHECKPOINTED_PAGES = 500
ORACLE_PAGES = 100  # pages compared against the pandas oracle
CKPT_STAGES = ("entities", "code2entity", "mentions", "linked", "triples", "edges")
WORKLOADS = ("web_small_gaz", "clinical_checkpointed")
E2E_UNITS = {
    "docs_per_s": "1/s", "resume_s": "s", "setup_s": "s", "worker_peak_rss_mb": "MB",
    "ops_ok_frac": "frac", "triples_pr_min": "frac", "triples_exact_frac": "frac",
}


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def make_inputs(workload: str, seed: int) -> dict:
    """Gazetteer, (url, text) pages and the docs table for curation."""
    if workload == "web_small_gaz":
        from ner_linking_demo_spark.plans.entry_queries import _harness_gazetteer

        docs = inputs.gen_documents(WEB_DOCS, seed)
        pages = inputs.replicate_as_pages(docs, WEB_REPLICAS)
        return {"gaz": _harness_gazetteer(), "pages": pages, "docs": docs}
    gaz, pages = inputs.clinical_inputs(CHECKPOINTED_PAGES, seed)
    return {"gaz": gaz, "pages": pages, "docs": None}


# -- session life cycle ------------------------------------------------------
def start_session(cpus: int, local_dir: str):
    from ner_linking_demo_spark.session import get_spark

    spark = get_spark(
        app_name="nlds-perfbench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(cpus, 32),
        extra_conf={
            "spark.local.dir": local_dir,
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions": (
                f"-Djava.io.tmpdir={local_dir} -XX:-UsePerfData"
            ),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def warm_up(spark, cpus: int) -> None:
    """JVM and Python-worker warm-up, as ``bench.py`` does it."""
    from pyspark.sql import functions as F

    spark.range(10**6).selectExpr("sum(id)").collect()

    @F.pandas_udf("long")
    def _warm(s: pd.Series) -> pd.Series:
        return s

    spark.range(cpus * 4).repartition(cpus).select(F.sum(_warm("id"))).collect()


def stop_session() -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit
    (its Python workers exit with it). A no-op when none is running."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gw = SparkContext._gateway
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def wait_children(timeout_s: float = 30.0) -> None:
    """Wait until no process this benchmark started is still running."""
    deadline = time.time() + timeout_s
    while probes.descendants(os.getpid()) and time.time() < deadline:
        time.sleep(0.2)


def setup(gaz, cpus: int, local_dir: str):
    """SETUPS set-ups (session start, JVM and Python-worker warm-up,
    index build); the session of the last one is kept. Only the first
    launches the JVM: later ones stop the session and its Python workers
    and start a new session on the same JVM, so the median reads a
    set-up on a running JVM. Returns (spark, indexes, median set-up s,
    median index-build s, first set-up s)."""
    from ner_linking_demo_spark.operators.linking import build_indexes

    walls, builds = [], []
    for i in range(SETUPS):
        t0 = time.perf_counter()
        spark = start_session(cpus, local_dir)
        warm_up(spark, cpus)
        t1 = time.perf_counter()
        indexes = build_indexes(gaz, k=K)
        t2 = time.perf_counter()
        walls.append(t2 - t0)
        builds.append(t2 - t1)
        if i < SETUPS - 1:
            spark.stop()
    return spark, indexes, _median(walls), _median(builds), walls[0]


# -- operations --------------------------------------------------------------
class FusedOp:
    """``run_pipeline`` without a checkpoint: one fused python stage.
    Output check: the ``pages_in``/``linked_out`` row counters."""

    def __init__(self, spark, pages_df, gaz, cpus: int, workdir: str):
        self.spark, self.pages_df, self.gaz = spark, pages_df, gaz
        self.parts = cpus * 2
        self.workdir = workdir
        self.expected = None

    def _run(self, sink):
        res = run_pipeline(
            self.spark, self.pages_df, self.gaz, k=K, num_partitions=self.parts
        )
        sink(res.triples)
        return res.metrics()

    def verify(self, urls):
        """Untimed reference call: its counts, and its triples of the
        sampled ``urls`` (filtered after the UDF stage, so the call runs
        the same plan over the same batches as a timed one)."""
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        path = os.path.join(self.workdir, "verify_triples")
        obs = Observation()

        def sink(df):
            df.observe(obs, F.count(F.lit(1)).alias("n")).filter(
                F.col("subj").isin(urls)
            ).write.mode("overwrite").parquet(path)

        self.expected = self._run(sink)
        self.triples_rows = int(obs.get["n"])
        return pd.read_parquet(path), self.expected

    def __call__(self, trace=None) -> dict:
        if trace:
            trace.begin("main")
        t0 = time.perf_counter()
        got = self._run(_noop)
        wall = time.perf_counter() - t0
        if trace:
            trace.end("main")
        if got != self.expected:
            raise RuntimeError(f"counts {got} != verified {self.expected}")
        return {"main_s": wall, "resume_s": [wall]}


class CheckpointedOp:
    """Fine-granularity checkpointed ``run_pipeline`` on a fresh
    directory, then the resumed call on the same directory. Output
    check: the ``_lineage`` ``rows_out`` of every written stage, the
    stages the second call resumed, and the resumed triples count."""

    def __init__(self, spark, pages_df, gaz, cpus: int, workdir: str):
        self.spark, self.pages_df, self.gaz = spark, pages_df, gaz
        self.parts = cpus * 2
        self.workdir = workdir
        self.expected = None
        self.n = 0

    def _call(self, d):
        return run_pipeline(
            self.spark, self.pages_df, self.gaz, k=K,
            num_partitions=self.parts, checkpoint_dir=d,
        )

    def _lineage(self, d) -> list[dict]:
        from ner_linking_demo_spark.plans.catalog import CheckpointCatalog

        return CheckpointCatalog(self.spark, d).lineage()

    def _write(self, d, trace=None):
        if trace:
            trace.begin("write")
        t0 = time.perf_counter()
        res = self._call(d)
        _noop(res.triples)
        wall = time.perf_counter() - t0
        if trace:
            trace.end("write", snapshot_dir=d)
        written = {r["stage"]: r["rows_out"] for r in self._lineage(d)}
        return written, res.triples, wall

    def _resume(self, d, trace=None):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        n_before = len(self._lineage(d))
        if trace:
            trace.begin("resume")
        t0 = time.perf_counter()
        res = self._call(d)
        obs = Observation()
        _noop(res.triples.observe(obs, F.count(F.lit(1)).alias("n")))
        wall = time.perf_counter() - t0
        resumed = sorted(
            r["stage"] for r in self._lineage(d)[n_before:] if r.get("resumed")
        )
        if trace:
            trace.end("resume", stages_resumed=len(resumed))
        return {"resumed": resumed, "resumed_triples": int(obs.get["n"])}, wall

    def verify(self, urls):
        """Untimed reference write call: its lineage counts, and its
        triples snapshot rows of the sampled ``urls``. A resumed call
        must then resume every stage and read back every triple."""
        from pyspark.sql import functions as F

        d = os.path.join(self.workdir, "verify_ckpt")
        written, triples, _ = self._write(d)
        if sorted(written) != sorted(CKPT_STAGES):
            raise RuntimeError(f"unexpected checkpoint stages: {written}")
        self.expected = {
            "written": written,
            "resumed": sorted(CKPT_STAGES),
            "resumed_triples": written["triples"],
        }
        self.triples_rows = written["triples"]
        return triples.filter(F.col("subj").isin(urls)).toPandas(), self.expected

    def __call__(self, trace=None) -> dict:
        self.n += 1
        d = os.path.join(self.workdir, f"ckpt-{self.n}")
        try:
            written, _, write_s = self._write(d, trace)
            resumes = [self._resume(d, trace) for _ in range(RESUMES)]
        finally:
            shutil.rmtree(d, ignore_errors=True)
        for got in [{"written": written}] + [r for r, _ in resumes]:
            want = {k: self.expected[k] for k in got}
            if got != want:
                raise RuntimeError(f"got {got}, verified {want}")
        return {"main_s": write_s, "resume_s": [w for _, w in resumes]}


# -- oracle comparison -------------------------------------------------------
def oracle_sample(pages: pd.DataFrame) -> pd.DataFrame:
    """Every n-th page, n ~ len/ORACLE_PAGES made coprime to the
    giant-page period of ``gen_pages`` (50), so a few giant pages are in
    the sample but not one in every row."""
    stride = max(1, len(pages) // ORACLE_PAGES)
    while math.gcd(stride, 50) != 1:
        stride += 1
    return pages.iloc[::stride]


def oracle_scores(eng, sample, gaz) -> dict:
    """min(precision, recall) of (subj, pred, obj, start, end) and the
    fraction of oracle (subj, start, end, pred, rank) rows whose code the
    engine matches, over the sampled pages; ``eng`` holds the engine's
    triples of those pages."""
    from ner_linking_demo_spark.oracle.oracle import (
        oracle_link, oracle_mentions, oracle_triples,
    )

    ment = oracle_mentions(sample, gaz)
    orc, _, _ = oracle_triples(oracle_link(ment, gaz, k=K), gaz)

    def keys(df):
        return set(
            zip(df["subj"], df["pred"], df["obj"], df["start"], df["end"])
        )

    e, o = keys(eng), keys(orc)
    both = len(e & o)
    precision = both / len(e) if e else 1.0
    recall = both / len(o) if o else 1.0

    def by_rank(df):
        return {
            (s, int(a), int(b), p, int(r)): c
            for s, a, b, p, r, c in zip(
                df["subj"], df["start"], df["end"], df["pred"], df["rank"],
                df["code"],
            )
        }

    eng_codes = by_rank(eng)
    orc_codes = by_rank(orc)
    exact = sum(eng_codes.get(key) == code for key, code in orc_codes.items())
    return {
        "triples_pr_min": min(precision, recall),
        "triples_exact_frac": exact / len(orc_codes) if orc_codes else 1.0,
        "oracle_rows": len(orc_codes),
    }


# -- traced calls ------------------------------------------------------------
class Tracer:
    """Per-layer numbers of traced calls: one ``SparkWindow`` per phase
    (``main``/``write``/``resume``), plus wrappers around the catalog and
    the entity build."""

    def __init__(self, spark):
        from pyspark.sql.readwriter import DataFrameWriter

        from ner_linking_demo_spark.plans import catalog, pipeline

        self.window = probes.SparkWindow(spark)
        self.timer = probes.CallTimer()
        self.timer.wrap(catalog.CheckpointCatalog, "write", "catalog.write")
        # the snapshot's Spark write job runs the lazy upstream plan
        # (NER, linking, exchanges): timed apart, so catalog.write_s is
        # what the catalog adds (commit, footers, lineage, re-read)
        self.timer.wrap(DataFrameWriter, "parquet", "catalog.spark_write",
                        inside="catalog.write")
        self.timer.wrap(catalog.CheckpointCatalog, "read", "catalog.read")
        self.timer.wrap(pipeline, "build_entities_local", "entities")
        self.samples: dict[str, list[dict]] = {}

    def begin(self, phase: str) -> None:
        self.timer.take()
        self.window.open(f"perfbench-{phase}")

    def end(self, phase: str, snapshot_dir: str | None = None,
            **counts) -> None:
        secs = self.timer.take()
        rec = self.window.read()
        rec.update(counts)
        rec["catalog.write_s"] = max(
            0.0,
            secs.get("catalog.write", 0.0) - secs.get("catalog.spark_write", 0.0),
        )
        rec["catalog.read_s"] = secs.get("catalog.read", 0.0)
        rec["entities_s"] = secs.get("entities", 0.0)
        if snapshot_dir:
            rec["snapshot_mb"] = _dir_mb(snapshot_dir)
        self.samples.setdefault(phase, []).append(rec)

    def median(self, phase: str, key: str) -> float:
        return _median([r.get(key, 0.0) for r in self.samples.get(phase, [])])

    def close(self) -> None:
        self.timer.restore()


def _dir_mb(path: str) -> float:
    total = 0
    for base, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(base, f))
    return total / 2**20


def curation_layer(spark, docs, workdir: str) -> dict:
    """One traced ``run_corpus_pipeline`` call over the documents, with
    the arguments ``bench.py`` uses."""
    from pyspark.sql import Observation
    from pyspark.sql import functions as F

    from ner_linking_demo_spark.plans.corpus_pipeline import run_corpus_pipeline

    path = os.path.join(workdir, "docs")
    docs.to_parquet(path)
    docs_df = spark.read.parquet(path)
    window = probes.SparkWindow(spark)
    window.open("perfbench-curation")
    obs = Observation()
    kept = run_corpus_pipeline(
        spark, docs_df, min_tokens=5, jaccard_threshold=0.5,
        collect_stats=False,
    ).kept
    _noop(kept.observe(obs, F.count(F.lit(1)).alias("n")))
    rec = window.read()
    return {
        "curation.executor_run_s": rec["executor_run_s"],
        "curation.shuffle_mb": rec["shuffle_read_mb"] + rec["shuffle_write_mb"],
        "curation.kept_docs": float(obs.get["n"]),
    }


# -- entry point -------------------------------------------------------------
def stamp(cpus: int) -> dict:
    """Idle-probe verdict and environment, printed with every run. The
    probe is read without its calibration ratchet, so the run writes
    nothing outside its work directory; on a host the calibration file
    has no entry for, the verdict is null and only the burn rate shows."""
    import numpy
    import pyspark

    from tools import idle_probe

    rate = idle_probe.burn_rate(samples=1)
    best = idle_probe._load_best()
    ratio = round(rate / best, 3) if best else None
    return {
        "idle_probe": {
            "ok": ratio >= 0.93 if ratio is not None else None,
            "ratio": ratio, "rate": round(rate),
        },
        "nproc": cpus,
        "master": f"local[{cpus}]",
        "numpy": numpy.__version__,
        "pyspark": pyspark.__version__,
    }


PER_LAYER = (
    "stage.executor_run_s", "stage.executor_cpu_s", "stage.shuffle_read_mb",
    "stage.shuffle_write_mb", "stage.spill_mb", "stage.task_max_over_median",
    "stage.jobs",
    "arrow.to_python_mb", "arrow.from_python_mb", "arrow.batches",
    "arrow.python_run_s", "arrow.python_init_s",
    "ner.match_s", "ner.mentions",
    "embed.encode_s", "embed.distinct_spans", "embed.dedup_ratio",
    "search.search_s", "search.queries", "search.index_terms",
    "link.kernel_s", "link.scan_s",
    "index.build_s",
    "catalog.write_s", "catalog.snapshot_mb", "catalog.read_s",
    "catalog.stages_resumed",
    "triples.entities_build_s", "triples.rows",
    "curation.executor_run_s", "curation.shuffle_mb", "curation.kept_docs",
    "mem.jvm_rss_mb", "mem.worker_tree_pss_mb", "mem.python_procs",
    "trace.overhead_frac",
)
_UNIT_OF = {"_s": "s", "_mb": "MB", "_frac": "frac"}


def unit_of(name: str) -> str:
    for suffix, unit in _UNIT_OF.items():
        if name.endswith(suffix):
            return unit
    if name.endswith(("ratio", "over_median")):
        return "ratio"
    return "count"


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    cpus = os.cpu_count() or 1
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    local_dir = os.path.join(work, "local")
    os.makedirs(local_dir, exist_ok=True)
    # temp files of this process, the JVM and the Python workers
    os.environ["TMPDIR"] = os.environ["SPARK_LOCAL_DIRS"] = local_dir
    tempfile.tempdir = local_dir
    try:
        clock = [("start", time.perf_counter())]
        cpu0 = probes.cpu_steal()
        print("stamp " + json.dumps(stamp(cpus)), flush=True)
        clock.append(("stamp", time.perf_counter()))
        data = make_inputs(args.workload, args.seed)
        gaz, pages = data["gaz"], data["pages"]
        pages_path = os.path.join(work, "pages")
        pages.to_parquet(pages_path)

        clock.append(("inputs", time.perf_counter()))
        spark, indexes, setup_s, build_s, cold_s = setup(gaz, cpus, local_dir)
        print(f"setup first {cold_s:.3f}s median {setup_s:.3f}s", flush=True)
        clock.append(("setup", time.perf_counter()))
        pages_df = spark.read.parquet(pages_path)
        if args.workload == "web_small_gaz":
            op = FusedOp(spark, pages_df, gaz, cpus, work)
        else:
            op = CheckpointedOp(spark, pages_df, gaz, cpus, work)
        sample = oracle_sample(pages)
        eng, expected = op.verify(list(sample["url"]))
        clock.append(("verify", time.perf_counter()))
        quality = oracle_scores(eng, sample, gaz)
        clock.append(("oracle", time.perf_counter()))
        print("verified " + json.dumps({**expected, **quality}), flush=True)

        tracer = Tracer(spark) if args.trace else None
        walls: dict[str, list[float]] = {"main_s": [], "resume_s": [],
                                         "traced_main_s": []}
        attempted = failed = 0
        with probes.MemSampler() as mem:
            # start another call if it should end closer to --seconds
            # than stopping now does (calls are taken whole); at least
            # two, so no timing rests on one call, and a traced run has
            # an untraced call to compare with
            t_end = time.perf_counter() + args.seconds
            last = 0.0
            while attempted < 2 or time.perf_counter() + last / 2 <= t_end:
                traced = tracer is not None and attempted % 2 == 1
                attempted += 1
                t_op = time.perf_counter()
                try:
                    w = op(tracer if traced else None)
                except Exception as exc:  # counted, reported, run goes on
                    failed += 1
                    print(f"failed op {attempted}: {exc!r}", flush=True)
                    continue
                finally:
                    last = time.perf_counter() - t_op
                if traced:
                    walls["traced_main_s"].append(w["main_s"])
                else:
                    walls["main_s"].append(w["main_s"])
                    walls["resume_s"].extend(w["resume_s"])

        clock.append(("timed", time.perf_counter()))
        print("walls_s " + json.dumps(
            {k: [round(x, 3) for x in v] for k, v in walls.items()}
        ), flush=True)
        n_pages = len(pages)
        main_s = _median(walls["main_s"])
        result = {
            "docs_per_s": n_pages / main_s if main_s else 0.0,
            "resume_s": _median(walls["resume_s"]),
            "setup_s": setup_s,
            "worker_peak_rss_mb": mem.worker_peak / 2**20,
            "ops_ok_frac": (attempted - failed) / attempted,
            "triples_pr_min": quality["triples_pr_min"],
            "triples_exact_frac": quality["triples_exact_frac"],
        }
        correct = (
            failed == 0
            and quality["triples_pr_min"] >= 0.95
            and bool(walls["main_s"])
        )
        if tracer is not None:
            tracer.close()
            layers = per_layer(
                spark, op, tracer, data, pages_df, indexes, build_s, walls, work
            )
            layers["mem.jvm_rss_mb"] = mem.jvm_peak / 2**20
            layers["mem.worker_tree_pss_mb"] = mem.python_peak / 2**20
            layers["mem.python_procs"] = float(mem.python_procs)
            print("per_layer " + json.dumps(layers), flush=True)
            print("end_to_end " + json.dumps(result), flush=True)
            metrics = {k: {"value": layers[k], "unit": unit_of(k)} for k in PER_LAYER}
        else:
            metrics = {
                k: {"value": v, "unit": E2E_UNITS[k]} for k, v in result.items()
            }
        clock.append(("trace", time.perf_counter()))
        stop_session()
        wait_children()
        clock.append(("stop", time.perf_counter()))
        print("phases_s " + json.dumps({
            b[0]: round(b[1] - a[1], 2) for a, b in zip(clock, clock[1:])
        }), flush=True)
        cpu1 = probes.cpu_steal()
        steal = (cpu1[1] - cpu0[1]) / max(1, cpu1[0] - cpu0[0])
        print(f"cpu_steal_frac {steal:.3f}", flush=True)
        print(json.dumps({
            "correct": correct,
            "attempted": attempted,
            "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        stop_session()
        wait_children()
        shutil.rmtree(work, ignore_errors=True)
        try:  # the shared parent, unless another run still uses it
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def per_layer(spark, op, tracer, data, pages_df, indexes, build_s, walls,
              work) -> dict:
    phase = "write" if isinstance(op, CheckpointedOp) else "main"
    out = {
        f"stage.{k}": tracer.median(phase, k)
        for k in ("executor_run_s", "executor_cpu_s", "shuffle_read_mb",
                  "shuffle_write_mb", "spill_mb", "task_max_over_median",
                  "jobs")
    }
    for k in ("to_python_mb", "from_python_mb", "python_run_s",
              "python_init_s"):
        out[f"arrow.{k}"] = tracer.median(phase, k)
    out["catalog.write_s"] = tracer.median(phase, "catalog.write_s")
    out["catalog.snapshot_mb"] = tracer.median(phase, "snapshot_mb")
    out["catalog.read_s"] = tracer.median("resume", "catalog.read_s")
    out["catalog.stages_resumed"] = tracer.median("resume", "stages_resumed")
    out["triples.entities_build_s"] = tracer.median(phase, "entities_s")
    out["triples.rows"] = float(op.triples_rows)
    out["index.build_s"] = build_s
    out["search.index_terms"] = float(sum(len(ix.terms) for ix in indexes.values()))

    batches = probes.capture_batches(pages_df, op.parts)
    out["arrow.batches"] = float(len(batches))
    # replay the batches of the first quarter of the partitions
    keep = max(1, op.parts // 4)
    texts = dict(zip(data["pages"]["url"], data["pages"]["text"]))
    rep = probes.replay_kernel(
        texts, [b for pid, b in batches if pid < keep], data["gaz"], indexes, K
    )
    out["ner.match_s"] = rep.get("match_s", 0.0)
    out["ner.mentions"] = rep.get("mentions", 0.0)
    out["embed.encode_s"] = rep.get("encode_s", 0.0)
    out["embed.distinct_spans"] = rep.get("distinct_spans", 0.0)
    out["embed.dedup_ratio"] = (
        rep.get("distinct_spans", 0.0) / rep["mentions"]
        if rep.get("mentions") else 0.0
    )
    out["search.search_s"] = rep.get("search_s", 0.0)
    out["search.queries"] = rep.get("queries", 0.0)
    out["link.kernel_s"] = rep.get("kernel_s", 0.0)
    out["link.scan_s"] = max(
        0.0, out["link.kernel_s"] - out["embed.encode_s"] - out["search.search_s"]
    )
    out["replay.pages"] = rep.get("pages", 0.0)

    if data["docs"] is not None:
        out.update(curation_layer(spark, data["docs"], work))
    else:
        out.update({"curation.executor_run_s": 0.0, "curation.shuffle_mb": 0.0,
                    "curation.kept_docs": 0.0})
    # docs_per_s lost to tracing: 1 - traced/untraced throughput
    untraced, traced = _median(walls["main_s"]), _median(walls["traced_main_s"])
    out["trace.overhead_frac"] = 1.0 - untraced / traced if traced else 0.0
    return out


if __name__ == "__main__":
    sys.exit(main())
