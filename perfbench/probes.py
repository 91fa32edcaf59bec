"""Measurement probes used by ``perfbench/run.py``.

Nothing here edits the program: every number is read from outside it.

- ``SparkWindow``: the Spark jobs and SQL executions a timed call
  submitted, read from the status stores after the call. Jobs are
  selected by job id (every job the call submitted has a larger id than
  the last job before it), not by job group alone, because
  ``run_pipeline`` submits snapshot writes from its own thread pools and
  those threads do not inherit the caller's job group.
- ``MemSampler``: peak resident memory of the driver JVM and of the
  largest Python worker, and apart the peak proportional memory of the
  Python worker tree.
- ``CallTimer``: wall time of public functions, installed by wrapping
  them from the benchmark (catalog write/read, the Spark write job a
  catalog write submits, the entity build).
- ``replay_kernel``: the fused linking kernel replayed in this process
  over the workload's captured Arrow batches, with the matcher, embedder
  and term-index search timed separately.
"""

from __future__ import annotations

import os
import pickle
import re
import threading
import time
from collections import defaultdict

from py4j.protocol import Py4JJavaError


# SQL metric names of the Python (Arrow) boundary nodes, Spark 4.x
_ARROW_METRICS = {
    "data sent to Python workers": "to_python",
    "data returned from Python workers": "from_python",
    "time to run Python workers": "python_run",
    "time to initialize Python workers": "python_init",
}
_ARROW_NODES = ("MapInPandas", "PythonMapInArrow", "MapInArrow")
_UNITS = {
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_TOTAL_RE = re.compile(r"^([\d.,]+)\s*([A-Za-z]+)")


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric: 'total (min, med, max ...)\\n
    12.3 MiB (...)' -> bytes, '1.2 s (...)' -> seconds."""
    lines = text.strip().splitlines()
    line = lines[1] if len(lines) > 1 else lines[0]
    m = _TOTAL_RE.match(line.strip())
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class SparkWindow:
    """Reads what Spark ran between ``open()`` and ``read()``."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._after_job = -1
        self._after_stage = -1
        self._after_exec = -1

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _job_ids(self) -> list[int]:
        jobs = self._jsc.statusStore().jobsList(None)
        return [jobs.apply(i).jobId() for i in range(jobs.size())]

    def _job_stages(self, job_id: int) -> list[int]:
        sids = self._jsc.statusStore().job(job_id).stageIds()
        return [sids.apply(i) for i in range(sids.size())]

    def _executions(self):
        ex = self.spark._jsparkSession.sharedState().statusStore()
        seq = ex.executionsList()
        return ex, [seq.apply(i) for i in range(seq.size())]

    def open(self, group: str) -> None:
        self._drain()
        jobs = self._job_ids()
        self._after_job = max(jobs, default=-1)
        self._after_stage = max(
            (s for j in jobs for s in self._job_stages(j)), default=-1
        )
        _, execs = self._executions()
        self._after_exec = max((e.executionId() for e in execs), default=-1)
        self.sc.setJobGroup(group, group)

    def read(self) -> dict:
        """Stage and Arrow-boundary totals of the window's jobs."""
        self._drain()
        store = self._jsc.statusStore()
        jobs = [j for j in self._job_ids() if j > self._after_job]
        # a job lists the stages it reused from earlier jobs as well;
        # those ran before the window
        stage_ids = {
            s for j in jobs for s in self._job_stages(j) if s > self._after_stage
        }
        out = defaultdict(float)
        out["jobs"] = float(len(jobs))
        slowest = (-1.0, None)
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Py4JJavaError:  # a skipped stage never ran an attempt
                continue
            if st.status().toString() != "COMPLETE":
                continue
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
            out["shuffle_read_mb"] += st.shuffleReadBytes() / 2**20
            out["shuffle_write_mb"] += st.shuffleWriteBytes() / 2**20
            out["spill_mb"] += (
                st.memoryBytesSpilled() + st.diskBytesSpilled()
            ) / 2**20
            if st.executorRunTime() > slowest[0]:
                slowest = (float(st.executorRunTime()), st)
        out["task_max_over_median"] = self._task_skew(store, slowest[1])
        out.update(self._arrow())
        return dict(out)

    def _task_skew(self, store, st) -> float:
        if st is None:
            return 1.0
        gw = self.sc._gateway
        q = gw.new_array(gw.jvm.double, 2)
        q[0], q[1] = 0.5, 1.0
        summ = store.taskSummary(st.stageId(), st.attemptId(), q)
        if summ.isEmpty():
            return 1.0
        run = summ.get().executorRunTime()
        med, mx = run.apply(0), run.apply(1)
        return mx / med if med > 0 else 1.0

    def _arrow(self) -> dict:
        ex, execs = self._executions()
        out = defaultdict(float)
        for e in execs:
            eid = e.executionId()
            if eid <= self._after_exec:
                continue
            values = ex.executionMetrics(eid)
            nodes = ex.planGraph(eid).allNodes()
            for i in range(nodes.size()):
                node = nodes.apply(i)
                if not node.name().startswith(_ARROW_NODES):
                    continue
                ms = node.metrics()
                for k in range(ms.size()):
                    m = ms.apply(k)
                    key = _ARROW_METRICS.get(m.name())
                    if key is None or not values.contains(m.accumulatorId()):
                        continue
                    out[key] += _metric_total(values.apply(m.accumulatorId()))
        return {
            "to_python_mb": out["to_python"] / 2**20,
            "from_python_mb": out["from_python"] / 2**20,
            "python_run_s": out["python_run"],
            "python_init_s": out["python_init"],
        }


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the comm field may hold spaces; ppid follows its closing paren
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids[ppid].append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(pid, ()))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _hwm_bytes(pid: int) -> int:
    """Peak resident memory of ``pid`` since it started or since the
    last ``_reset_hwm``."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def _reset_hwm(pid: int) -> None:
    try:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def _pss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1]) * 1024
    except (OSError, IndexError, ValueError):
        pass
    return 0


def cpu_steal() -> tuple[int, int]:
    """(all, steal) jiffies of this host's CPUs since boot, from
    /proc/stat: the share the hypervisor gave to other guests."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    return sum(fields[:8]), fields[7]


def _comm(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/comm") as f:
            return f.read().strip()
    except OSError:
        return ""


class MemSampler:
    """Peak memory of this process's descendants while running: the
    driver JVM, the largest single Python worker, and apart the PSS sum
    of the Python worker tree (the pyspark daemon and its workers, which
    each hold a copy of every broadcast they read).

    The per-process peaks are the kernel's high-water mark of resident
    memory (``VmHWM``), reset when sampling starts, so a peak that lasts
    less than one sampling interval still counts.

    Only processes named ``java`` and ``python*`` are read. A sampler
    that read every other descendant as a worker once saw a single
    process of 1.7 GB PSS, against about 0.15 GB for the largest worker
    in the runs around it; most likely a helper the JVM was spawning
    (the local file system runs shell commands), which shares the
    JVM's memory until it execs.

    The PSS sum is sampled, and follows how many workers Spark has
    forked at that moment (a worker is forked whenever no idle one is
    free, and idle ones linger), which varied between runs of one input.
    The largest single worker does not depend on that count."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.jvm_peak = 0
        self.worker_peak = 0  # largest high-water mark of a Python process
        self.python_peak = 0  # peak of the sampled PSS sum
        self.python_procs = 0  # Python processes alive at the sum's peak
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self, me: int) -> None:
        python = procs = 0
        for p in descendants(me):
            comm = _comm(p)
            if comm == "java":
                self.jvm_peak = max(self.jvm_peak, _hwm_bytes(p))
            elif comm.startswith("python"):
                self.worker_peak = max(self.worker_peak, _hwm_bytes(p))
                python += _pss_bytes(p)
                procs += 1
        if python > self.python_peak:
            self.python_peak, self.python_procs = python, procs

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self._sample(me)
            self._stop.wait(self.interval_s)
        self._sample(me)

    def __enter__(self) -> "MemSampler":
        for p in descendants(os.getpid()):
            _reset_hwm(p)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class CallTimer:
    """Wraps ``owner.name`` so each call adds its wall time; ``restore()``
    puts the original back. Thread-safe: the checkpointed plan calls the
    catalog from two thread pools. A wrap with ``inside=<key>`` counts
    only the calls made, on the same thread, from within a call timed
    under that key, so a caller's self time is the difference."""

    def __init__(self):
        self._lock = threading.Lock()
        self._local = threading.local()
        self.seconds: dict[str, float] = defaultdict(float)
        self._undo: list[tuple[object, str, object]] = []

    def _open(self) -> dict[str, int]:
        if not hasattr(self._local, "open"):
            self._local.open = defaultdict(int)
        return self._local.open

    def wrap(self, owner, name: str, key: str, inside: str | None = None) -> None:
        orig = getattr(owner, name)

        def timed(*args, **kwargs):
            open_keys = self._open()
            if inside is not None and not open_keys[inside]:
                return orig(*args, **kwargs)
            open_keys[key] += 1
            t0 = time.perf_counter()
            try:
                return orig(*args, **kwargs)
            finally:
                dt = time.perf_counter() - t0
                open_keys[key] -= 1
                with self._lock:
                    self.seconds[key] += dt

        setattr(owner, name, timed)
        self._undo.append((owner, name, orig))

    def take(self) -> dict:
        """Seconds per key since the last ``take``, then reset."""
        with self._lock:
            out = dict(self.seconds)
            self.seconds.clear()
        return out

    def restore(self) -> None:
        for owner, name, orig in reversed(self._undo):
            setattr(owner, name, orig)
        self._undo.clear()


def capture_batches(pages_df, num_partitions: int) -> list[tuple[int, list]]:
    """(partition, urls) of every Arrow batch the fused NER/linking UDF
    sees: the same ``balance_pages`` repartition and ``mapInPandas``
    batching, with a UDF that only reports which pages each batch held.
    Returned in (partition, batch) order."""
    from pyspark import TaskContext

    from ner_linking_demo_spark.operators.ner import balance_pages

    def run(batches):
        import pandas as pd

        pid = TaskContext.get().partitionId()
        for b, pdf in enumerate(batches):
            yield pd.DataFrame(
                {"pid": pid, "batch": b, "url": pdf["url"].to_numpy()}
            )

    rows = (
        balance_pages(pages_df.select("url", "text"), "url", num_partitions)
        .mapInPandas(run, "pid int, batch int, url string")
        .toPandas()
    )
    # row order inside a shuffled partition is fetch order; urls are
    # sorted so the replay does not depend on it
    groups = rows.groupby(["pid", "batch"], sort=True)["url"]
    return [(int(pid), sorted(g.tolist())) for (pid, _b), g in groups]


class _TimedIndex:
    def __init__(self, index, stats):
        self._index, self._stats = index, stats

    def __getattr__(self, name):
        return getattr(self._index, name)

    def search(self, queries):
        t0 = time.perf_counter()
        out = self._index.search(queries)
        self._stats["search_s"] += time.perf_counter() - t0
        self._stats["queries"] += len(queries)
        return out


class _TimedEmbedder:
    def __init__(self, embedder, stats):
        self._emb, self._stats = embedder, stats

    def __getattr__(self, name):
        return getattr(self._emb, name)

    def encode(self, texts, normalize: bool = False):
        t0 = time.perf_counter()
        out = self._emb.encode(texts, normalize=normalize)
        self._stats["encode_s"] += time.perf_counter() - t0
        self._stats["distinct_spans"] += len(texts)
        return out


def replay_kernel(texts, batches, gazetteer, indexes, k: int) -> dict:
    """Run the fused kernel of ``operators.linking.detect_and_link`` over
    ``batches`` (lists of urls, keys of ``texts``) in this process,
    timing its public calls. The embedder is a pickled copy, as a
    broadcast would deliver it, so its caches start empty."""
    from ner_linking_demo_spark.functions.embedder import HashEmbedder
    from ner_linking_demo_spark.functions.matcher import DictionaryMatcher
    from ner_linking_demo_spark.operators.linking import _link_spans

    stats: dict[str, float] = defaultdict(float)
    terms_by_label = {
        str(label): list(sub["term"]) for label, sub in gazetteer.groupby("label")
    }
    matcher = DictionaryMatcher(terms_by_label)
    emb = _TimedEmbedder(pickle.loads(pickle.dumps(HashEmbedder())), stats)
    timed = {lab: _TimedIndex(ix, stats) for lab, ix in indexes.items()}
    for batch in batches:
        per: dict[str, list[str]] = defaultdict(list)
        t0 = time.perf_counter()
        for url in batch:
            for label, _s, _e, span in matcher.find_mentions(texts[url]):
                per[label.upper()].append(span)
        stats["match_s"] += time.perf_counter() - t0
        for lab in sorted(per):
            if lab not in timed:
                continue
            spans = per[lab]
            stats["mentions"] += len(spans)
            t0 = time.perf_counter()
            _link_spans(spans, timed[lab], emb, k)
            stats["kernel_s"] += time.perf_counter() - t0
    stats["pages"] = float(sum(len(b) for b in batches))
    return dict(stats)
