#!/usr/bin/env python3
"""spark-graft benchmark: one workload per run, closed loop, one client.

    python3 perfbench/run.py --workload graph_build --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --smoke
    python3 perfbench/run.py --smoke --workload corpus_dedup --trace 1

Run from the root of a checkout.  The run generates its inputs from
``--seed`` under ``.bench_work/``, starts one Spark session on
``local[nproc]``, then runs batches until ``--seconds`` have passed (at
least one; the first batch runs in a cold JVM).  Every batch's output is
checked.  The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``).  See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.monotonic()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

import datagen  # noqa: E402
import spans as sp  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
REFERENCE = os.path.join(HERE, "reference.json")
# what one run leaves for the next in the same checkout: the dedup oracle's answers
CACHE = os.path.join(ROOT, ".bench_work", "cache")

# Input scale per workload: a directory of perfbench/testdata.
SCALES = {
    "graph_build": {"full": "sf0.1", "smoke": "sf0.001"},
    "corpus_dedup": {"full": "sf0.01", "smoke": "sf0.001"},
}
# JVM heap.  With the program's 8g default the JVM's peak RSS follows G1's
# heap growth (IQR/median 0.25 over ten seeds on a 4-core host); 2g bounds
# it and left the batch's wall time unchanged (72.4 s vs 73.8 s, same seed).
DRIVER_MEM = "2g"
ISOLATED = ("kg.extract", "kg.link", "kg.canonicalize", "kg.materialize", "modules.permissions")


def _fail(msg: str, code: int = 2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _cpu_steal() -> tuple[int, int]:
    with open("/proc/stat") as f:
        v = list(map(int, f.readline().split()[1:]))
    return sum(v[:8]), v[7]


def _load1() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


class Sample:
    """One batch: wall time and engine CPU time, plus the host noise
    beside them."""

    ok = False
    got: dict = {}
    jobs = 0

    def __init__(self, cpu_now):
        self.cpu_now = cpu_now

    def __enter__(self):
        self.c0, self.s0 = _cpu_steal()
        self.cpu0 = self.cpu_now()
        self.t0 = time.time()
        return self

    def __exit__(self, *exc):
        self.t1 = time.time()
        self.cpu = self.cpu_now() - self.cpu0
        c1, s1 = _cpu_steal()
        self.wall = self.t1 - self.t0
        self.steal_pct = 100.0 * (s1 - self.s0) / max(c1 - self.c0, 1)
        self.load1 = _load1()
        return False


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def pin_environment(work: str) -> int:
    """local[nproc], the driver heap and local dirs inside the work dir.
    Must run before the JVM starts."""
    nproc = len(os.sched_getaffinity(0))
    for d in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    os.environ["PYSPARK_PYTHON"] = sys.executable
    return nproc


def start_session(work: str, nproc: int, trace: bool):
    from cartography_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        # no hsperfdata file under /tmp: the run writes inside the checkout only
        "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        os.makedirs(os.path.join(work, "eventlog"), exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{nproc}]", extra_conf=conf)
    spark.range(1).count()
    return spark


def traced_run(wl, spark, tracer):
    tracer.enabled = True
    try:
        with tracer.span("batch"):
            return wl.run(spark)
    finally:
        tracer.enabled = False


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="run at the smoke scale; without --workload, one traced "
                         "run per workload, checking outputs and span coverage")
    args = ap.parse_args()

    # the engine is imported from the checkout only, never from elsewhere
    if not (os.path.isdir(os.path.join(ROOT, "cartography_spark"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        _fail(f"the engine sources are not in {ROOT}; run from the root of a checkout")
    sys.path.insert(0, ROOT)

    if args.smoke and not args.workload:
        sys.exit(smoke())
    if not args.workload:
        ap.error("--workload is required")
    scale = "smoke" if args.smoke else "full"
    result = run_workload(args.workload, args.seed, args.seconds, bool(args.trace), scale)
    print(json.dumps(result))


def smoke() -> int:
    """One traced run per workload at the smoke scale, each in its own
    process: every check green and the span table covering at least 90 %
    of each batch's wall time."""
    import subprocess

    bad = []
    for name in sorted(WORKLOADS):
        cmd = [sys.executable, os.path.abspath(__file__), "--workload", name, "--seed", "1",
               "--seconds", "0", "--trace", "1", "--smoke"]
        proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True, timeout=900)
        print(proc.stdout, end="")
        lines = proc.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if proc.returncode == 0 and lines else {}
        cov = res.get("metrics", {}).get("trace.span_coverage", {}).get("value", 0.0)
        print(f"smoke {name}: correct={res.get('correct')} span_coverage={cov:.3f}")
        if not res.get("correct") or cov < 0.9:
            bad.append(name)
    print(json.dumps({"smoke_failed": bad}))
    return 1 if bad else 0


def run_workload(name: str, seed: int, seconds: float, trace: bool, scale: str) -> dict:
    work = os.path.join(ROOT, ".bench_work", f"{name}-{seed}-{os.getpid()}")
    datagen.check_output_path(work, [HERE])
    shutil.rmtree(work, ignore_errors=True)
    try:
        return _run(WORKLOADS[name], seed, seconds, trace, scale, work)
    finally:
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def stop_jvm(timeout: float = 60.0) -> None:
    """End the JVM and its Python workers and wait for them: the gateway
    process exits when its stdin closes, the workers when the JVM is gone."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    pids = sp.descendants(proc.pid)
    gateway.shutdown()
    proc.stdin.close()
    proc.wait(timeout=timeout)
    deadline = time.monotonic() + timeout
    while any(sp.is_running(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)
    SparkContext._gateway = SparkContext._jvm = None


def _run(cls, seed, seconds, trace, scale, work) -> dict:
    with open(REFERENCE) as f:
        reference = json.load(f)[cls.name][scale]
    nproc = pin_environment(work)

    # ---- setup: interpreter start, imports, inputs, JVM boot ------------
    data_dir, source_dir = os.path.join(work, "data"), os.path.join(datagen.TESTDATA, SCALES[cls.name][scale])
    datagen.write_tables(data_dir, seed, cls.tables, source_dir)
    spark = start_session(work, nproc, trace)
    setup_s = time.monotonic() - T_START
    jvm_pid = int(spark._jvm.ProcessHandle.current().pid())

    wl = cls(data_dir, source_dir, work, CACHE, reference)
    tracer, store_counters = None, dict.fromkeys(("commits", "files_written", "bytes_written"), 0)
    if trace:
        import __spark_entry__  # noqa: F401  (so its imported names get wrapped too)

        tracer = sp.Tracer()
        sp.instrument(tracer, store_counters)
        wl.span = tracer.span
    # the oracle side of the output check is the benchmark's cost, not setup or batch
    t0 = time.monotonic()
    wl.prepare(spark)
    prepare_s = time.monotonic() - t0

    # ---- timed window: closed loop, one client ---------------------------
    status = spark.sparkContext.statusTracker()
    samples: list[Sample] = []
    cpu0, py0 = sp.jvm_thread_cpu(jvm_pid), sp.python_worker_cpu(jvm_pid)
    t_win = time.monotonic()
    while not samples or time.monotonic() - t_win < seconds:
        s = Sample(lambda: sp.engine_cpu(jvm_pid))
        jobs0 = set(status.getJobIdsForGroup(None))
        try:
            with s:
                out = traced_run(wl, spark, tracer) if tracer is not None else wl.run(spark)
            s.jobs = len(set(status.getJobIdsForGroup(None)) - jobs0)
            s.ok, s.got = wl.check(spark, out)
        except Exception:
            traceback.print_exc()
            s.wall = float("nan")
        if not s.ok:
            print(f"perfbench: batch {len(samples) + 1} failed; output: {s.got}", file=sys.stderr)
        samples.append(s)
    cpu = sp.cpu_delta(cpu0, sp.jvm_thread_cpu(jvm_pid))
    py_cpu = sp.python_worker_cpu(jvm_pid) - py0
    workers = sp.descendants(jvm_pid)
    rss = sp.peak_rss_mb([jvm_pid, *workers])
    print(f"peak RSS: jvm={sp.peak_rss_mb([jvm_pid]):.0f} MB, {len(workers)} python "
          f"processes={sp.peak_rss_mb(workers):.0f} MB")

    failed = sum(1 for s in samples if not s.ok)
    batch_s = _median([s.wall for s in samples if s.ok])
    batch_cpu_s = _median([s.cpu for s in samples if s.ok])
    for i, s in enumerate(samples):
        print(f"batch {i + 1:2d} wall={s.wall:8.3f}s cpu={s.cpu:8.2f}s spark_jobs={s.jobs:4d} "
              f"steal={s.steal_pct:5.2f}% load1={s.load1:5.2f} ok={s.ok}")
    print(f"workload={cls.name} seed={seed} scale={scale} nproc={nproc} trace={int(trace)} "
          f"setup={setup_s:.2f}s check: oracle prepare={prepare_s:.2f}s")
    print(f"fail_ratio={failed / len(samples):.4f} ({failed}/{len(samples)}) "
          f"last output: {samples[-1].got}")

    if not trace:
        spark.stop()
        metrics = {
            "batch_cpu_s": (batch_cpu_s, "s"),
            "setup_s": (setup_s, "s"),
            "peak_rss_mb": (rss, "MB"),
        }
    else:
        n = len(samples)
        metrics = {
            "trace.batch_s": (batch_s, "s"),
            "store_bytes": (_median([s.got.get("store_bytes", 0) for s in samples]), "B"),
        }
        for k, v in store_counters.items():
            metrics[f"core.store.{k}"] = (v / n, "B" if k == "bytes_written" else "count")
        iso = wl.isolated_layers(spark)
        for layer in ISOLATED:
            metrics[f"{layer}.isolated_s"] = (iso.get(layer, 0.0), "s")
        for group in ("jit", "gc", "task", "driver"):
            metrics[f"jvm.{group}_cpu_s"] = (cpu[group] / n, "s")
        metrics["pyworkers.cpu_s"] = (py_cpu / n, "s")
        spark.stop()  # flushes the event log
        jobs = sp.read_event_log(os.path.join(work, "eventlog"))
        table = sp.layer_table(tracer.spans, jobs, n)
        for layer, st in table.items():
            for field, unit in sp.LAYER_FIELDS:
                metrics[f"{layer}.{field}"] = (st[field], unit)
        covered = sum(st["self_s"] for st in table.values())
        wall = statistics.fmean([s.wall for s in samples])
        metrics["trace.span_coverage"] = (covered / wall, "ratio")
        logged = [sum(1 for j in jobs if s.t0 <= j.submit <= s.t1) for s in samples]
        print(f"spark jobs per batch in the event log: {logged}")

    for k, (v, unit) in metrics.items():
        print(f"  {k:40s} {v:16.4f} {unit}")
    return {
        "correct": failed == 0,
        "attempted": len(samples),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": unit} for k, (v, unit) in metrics.items()},
    }


if __name__ == "__main__":
    main()
