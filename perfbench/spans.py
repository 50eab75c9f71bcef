"""Span tracing for the benchmark's traced runs.

Spans are opened from the benchmark's own code: every public function of a
layer is replaced, at every module attribute that refers to it, by a
wrapper that records (layer, start, end, depth) in memory.  Nothing is
written until the run ends.

Spark jobs, task CPU and shuffle bytes come from the Spark event log of the
traced session.  Each job is billed to the innermost span that was open when
it was submitted (job groups cannot be used: the store's thread-pooled
checkpoints do not carry the caller's thread-local job group).
"""

from __future__ import annotations

import dataclasses
import functools
import glob
import importlib
import json
import os
import pkgutil
import sys
import threading
import time

LAYERS = (
    "sources",
    "core.loader",
    "modules.permissions",
    "kg.extract",
    "kg.link",
    "kg.canonicalize",
    "kg.materialize",
    "kg.bulk",
    "core.store.commit",
    "ops.dedup",
)
LAYER_FIELDS = (
    ("wall_s", "s"),
    ("self_s", "s"),
    ("calls", "count"),
    ("spark_jobs", "count"),
    ("executor_cpu_s", "s"),
    ("shuffle_bytes", "B"),
    ("driver_gap_s", "s"),
)
DEDUP_FUNCS = ("minhash_lsh_pairs", "duplicate_clusters", "ngram_jaccard_pairs", "embedding_near_dup")
PERMISSION_FUNCS = (
    "evaluate_permissions",
    "sts_assumerole_pairs",
    "sync_permission_mappings",
    "sync_permission_edges",
    "sync_sts_assumerole",
)


@dataclasses.dataclass
class Span:
    layer: str
    start: float
    end: float
    depth: int
    thread: int


class Tracer:
    """In-memory span recorder; ``enabled`` gates recording so the same
    wrapped code runs untraced and traced batches in one process."""

    def __init__(self):
        self.spans: list[Span] = []
        self.enabled = False
        self._local = threading.local()
        self._lock = threading.Lock()

    def span(self, layer: str):
        return _SpanCtx(self, layer)

    def wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with _SpanCtx(self, layer):
                return fn(*args, **kwargs)

        return traced


class _SpanCtx:
    __slots__ = ("tracer", "layer", "t0", "depth")

    def __init__(self, tracer: Tracer, layer: str):
        self.tracer, self.layer = tracer, layer

    def __enter__(self):
        loc = self.tracer._local
        self.depth = getattr(loc, "depth", 0)
        loc.depth = self.depth + 1
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        t1 = time.time()
        self.tracer._local.depth = self.depth
        if self.tracer.enabled:
            with self.tracer._lock:
                self.tracer.spans.append(
                    Span(self.layer, self.t0, t1, self.depth, threading.get_ident())
                )
        return False


# --------------------------------------------------------------------------
# instrumentation: which functions belong to which layer
# --------------------------------------------------------------------------


def _package_modules() -> list:
    import cartography_spark

    mods = []
    for info in pkgutil.walk_packages(cartography_spark.__path__, "cartography_spark."):
        mods.append(importlib.import_module(info.name))
    return mods


def _public_functions(mod) -> list:
    return [
        v
        for k, v in vars(mod).items()
        if not k.startswith("_") and callable(v) and not isinstance(v, type)
        and getattr(v, "__module__", None) == mod.__name__
    ]


def layer_targets(mods) -> list[tuple[object, str]]:
    """(function, layer) for every wrapped module-level function."""
    by_name = {m.__name__: m for m in mods}
    out = []
    for name in ("cartography_spark.sources.fixtures", "cartography_spark.sources.docs_synth"):
        out += [(f, "sources") for f in _public_functions(by_name[name])]
    loader = by_name["cartography_spark.core.loader"]
    out += [(loader.compile_nodes, "core.loader"), (loader.compile_edges, "core.loader")]
    perm = by_name["cartography_spark.modules.permissions"]
    out += [(getattr(perm, f), "modules.permissions") for f in PERMISSION_FUNCS]
    kg = lambda n: by_name[f"cartography_spark.kg.{n}"]  # noqa: E731
    out += [
        (kg("extract").detect_mentions, "kg.extract"),
        (kg("link").identifier_dictionary, "kg.link"),
        (kg("link").link_mentions, "kg.link"),
        (kg("canonicalize").canonical_mapping, "kg.canonicalize"),
        (kg("canonicalize").connected_components, "kg.canonicalize"),
        (kg("materialize").mention_edges, "kg.materialize"),
        (kg("materialize").sync_documents, "kg.materialize"),
        (kg("bulk").build_graph, "kg.bulk"),
    ]
    dedup = by_name["cartography_spark.ops.dedup"]
    out += [(getattr(dedup, f), "ops.dedup") for f in DEDUP_FUNCS]
    return out


def instrument(tracer: Tracer, store_counters: dict) -> None:
    """Wrap every layer function at every module attribute naming it and
    the store's commit; count store writes."""
    mods = _package_modules()
    entry = sys.modules.get("__spark_entry__")
    scopes = mods + ([entry] if entry is not None else [])
    for fn, layer in layer_targets(mods):
        wrapped = tracer.wrap(fn, layer)
        for m in scopes:
            for k, v in list(vars(m).items()):
                if v is fn:
                    setattr(m, k, wrapped)

    from cartography_spark.core.store import GraphStore

    GraphStore.upsert = tracer.wrap(GraphStore.upsert, "core.store.commit")

    publish, slice_stats = GraphStore._publish, GraphStore._slice_stats

    def counted_publish(self, *args, **kwargs):
        if tracer.enabled:
            store_counters["commits"] += 1
        return publish(self, *args, **kwargs)

    def counted_slice_stats(gen_abs, gen_rel):
        if tracer.enabled:
            for path in glob.glob(os.path.join(gen_abs, "_label=*", "*.parquet")):
                store_counters["files_written"] += 1
                store_counters["bytes_written"] += os.path.getsize(path)
        return slice_stats(gen_abs, gen_rel)

    GraphStore._publish = counted_publish
    GraphStore._slice_stats = staticmethod(counted_slice_stats)


# --------------------------------------------------------------------------
# event log
# --------------------------------------------------------------------------


@dataclasses.dataclass
class Job:
    submit: float
    end: float
    cpu_s: float = 0.0
    shuffle_bytes: int = 0


def read_event_log(log_dir: str) -> list[Job]:
    """Jobs of every session logged under ``log_dir`` (job ids restart per
    session, so each log file is read on its own), with their task CPU and
    shuffle bytes (read + written)."""
    out: list[Job] = []
    files = sorted(
        p for p in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(p) and not os.path.basename(p).startswith((".", "appstatus"))
    )
    for path in files:
        jobs: dict[int, Job] = {}
        stage_job: dict[int, int] = {}
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid, t = ev["Job ID"], ev["Submission Time"] / 1000.0
                    jobs[jid] = Job(t, t)
                    for sid in ev.get("Stage IDs", []):
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev.get("Stage ID"), -1))
                    tm = ev.get("Task Metrics") or {}
                    if job is None or not tm:
                        continue
                    job.cpu_s += tm.get("Executor CPU Time", 0) / 1e9
                    rd = tm.get("Shuffle Read Metrics", {})
                    wr = tm.get("Shuffle Write Metrics", {})
                    job.shuffle_bytes += (
                        rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                        + wr.get("Shuffle Bytes Written", 0)
                    )
        out += jobs.values()
    return sorted(out, key=lambda j: j.submit)


def _union_len(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def layer_table(spans: list[Span], jobs: list[Job], n_batches: int) -> dict[str, dict]:
    """Per-layer totals divided by ``n_batches``.  ``spans`` must include the
    root ``batch`` spans (layer "batch"); jobs outside every span are not
    billed to any layer."""
    stats = {layer: dict.fromkeys((f for f, _ in LAYER_FIELDS), 0.0) for layer in LAYERS}
    by_thread: dict[int, list[Span]] = {}
    for s in spans:
        by_thread.setdefault(s.thread, []).append(s)

    for ts in by_thread.values():
        # spans of one thread nest: after sorting, stack[d] is the open
        # span at depth d, and a span's children run one after another
        ts.sort(key=lambda s: (s.start, s.depth))
        stack: list[Span] = []
        child_s: dict[int, float] = {}
        for s in ts:
            del stack[s.depth:]
            if stack:
                child_s[id(stack[-1])] = child_s.get(id(stack[-1]), 0.0) + s.end - s.start
            if s.layer in stats and all(a.layer != s.layer for a in stack):
                st = stats[s.layer]
                st["wall_s"] += s.end - s.start
                busy = _union_len(
                    [(max(j.submit, s.start), min(j.end, s.end)) for j in jobs
                     if j.submit < s.end and j.end > s.start]
                )
                st["driver_gap_s"] += s.end - s.start - busy
            stack.append(s)
        for s in ts:
            if s.layer in stats:
                stats[s.layer]["calls"] += 1
                stats[s.layer]["self_s"] += s.end - s.start - child_s.get(id(s), 0.0)

    for j in jobs:
        inner = None
        for s in spans:
            if s.start <= j.submit <= s.end and (inner is None or s.depth > inner.depth):
                inner = s
        if inner is None or inner.layer not in stats:
            continue
        st = stats[inner.layer]
        st["spark_jobs"] += 1
        st["executor_cpu_s"] += j.cpu_s
        st["shuffle_bytes"] += j.shuffle_bytes
    n = max(n_batches, 1)
    return {layer: {k: v / n for k, v in st.items()} for layer, st in stats.items()}


# --------------------------------------------------------------------------
# process CPU from /proc
# --------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat_fields(path: str) -> tuple[str, list[str]] | None:
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    comm = raw[raw.index("(") + 1: raw.rindex(")")]
    return comm, raw[raw.rindex(")") + 2:].split()


def jvm_thread_cpu(pid: int) -> dict[int, tuple[str, float]]:
    """{tid: (group, cpu seconds)} for the JVM's threads; groups are JIT,
    GC, task and driver (every other thread: py4j, scheduler, listener bus).
    A thread that exits between two samples loses its last increment."""
    out = {}
    for stat in glob.glob(f"/proc/{pid}/task/*/stat"):
        got = _stat_fields(stat)
        if got is None:
            continue
        comm, f = got
        if "Compiler" in comm:
            group = "jit"
        elif comm.startswith(("GC ", "G1 ", "VM Thread")):
            group = "gc"
        elif comm.startswith("Executor task"):
            group = "task"
        else:
            group = "driver"
        out[int(stat.split("/")[4])] = (group, (int(f[11]) + int(f[12])) / _TICK)
    return out


def cpu_delta(before: dict, after: dict) -> dict[str, float]:
    """Per-group CPU seconds spent between two :func:`jvm_thread_cpu` samples."""
    out = dict.fromkeys(("jit", "gc", "task", "driver"), 0.0)
    for tid, (group, cpu) in after.items():
        out[group] += cpu - before.get(tid, (group, 0.0))[1]
    return out


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for stat in glob.glob("/proc/[0-9]*/stat"):
        got = _stat_fields(stat)
        if got is not None:
            kids.setdefault(int(got[1][1]), []).append(int(stat.split("/")[2]))
    return kids


def is_running(pid: int) -> bool:
    """True while the process exists and is not a zombie."""
    got = _stat_fields(f"/proc/{pid}/stat")
    return got is not None and got[1][0] != "Z"


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def python_worker_cpu(jvm_pid: int) -> float:
    """CPU seconds of the Python worker processes under the JVM, including
    workers that already exited (their time is in the parent's cutime)."""
    return sum(process_cpu(pid) for pid in descendants(jvm_pid))


def process_cpu(pid: int) -> float:
    """CPU seconds of a process, all its threads, and its reaped children."""
    got = _stat_fields(f"/proc/{pid}/stat")
    if got is None:
        return 0.0
    f = got[1]
    return (int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])) / _TICK


def engine_cpu(jvm_pid: int) -> float:
    """CPU seconds used so far by the driver, the JVM and its Python workers."""
    return process_cpu(os.getpid()) + process_cpu(jvm_pid) + python_worker_cpu(jvm_pid)


def peak_rss_mb(pids: list[int]) -> float:
    total = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total += int(line.split()[1])
        except OSError:
            continue
    return total / 1024.0
