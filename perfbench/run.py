"""Benchmark of the DrugBank → KG2 engine: three seeded workloads, timed
end to end, with a traced run for per-layer figures.

Run from the repository root:

    python3 perfbench/run.py --workload ep_drugbank --seed 1 --seconds 20 --trace 0
    python3 perfbench/run.py --workload all --seed 1     # all three, one session

Workloads (each a closed loop with one client, on ``local[nproc]``).
A run times a fixed number of operations, ``--seconds`` divided by the
workload's nominal operation time (at least one), starting from a cold
JVM: a batch ETL pays its JIT and codegen on every run, and a count
that does not depend on the host's speed gives every run the same work.

- ``ep_drugbank``: the paper's pipeline, DrugBank XML through NER and
  KG2 alignment (indication and mechanistic branches), EP2 and the
  reference JSON, written to a JSON sink. One operation = one full run
  (~45 s cold); one is timed.
- ``corpus_clean``: MinHash candidate pairs → ``clean_corpus``. One
  operation = one full clean (14 s cold, then ~5 s); three are timed
  at ``--seconds 20``.
- ``kg2_link_serve``: the alias index is published during set-up, then
  each operation probes it with one batch of ~200 distinct mentions,
  after one untimed probe. Not in BENCHMARK.json: its three set-up
  publishes do not fit the benchmark's per-run time budget. Its layers
  are traced on ``ep_drugbank`` instead.

With ``--trace 0`` the last stdout line is
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics shared by all workloads: ``op_cpu_s`` (mean CPU seconds of
driver, JVM and Python workers per timed operation) and ``setup_s``
(median CPU seconds, counted the same way, of five set-ups, three on
``kg2_link_serve``: input generation, loading into Parquet and, on
``kg2_link_serve``, the index publish). Wall time is not among them:
on a shared 4-core host the same cold ep_drugbank run ranged from 31 s
to 53 s across ten runs (spread 0.30 of the median), while its CPU
seconds ranged from 100 to 133; a set-up's wall time rose from 0.8 s
to 1.5 s with the host's load. The lines before it give the wall-time
figures under the workload's own names (``setup_wall_s``, ``ep_run_s``,
``corpus_run_s``, ``link_publish_s``, ``link_batch_ms_p50``,
``link_batch_ms_tail``) and ``op_ms_p50``, the tail latency with its
percentile and sample count, ``peak_rss_mb`` (driver JVM plus Python,
sampled during the timed loop), ``failed_frac`` and the pinned
environment.

With ``--trace 1`` the metrics are the per-layer medians named
``<module>.<function>.<metric>``, every one measured in every traced
run: the workload's own staged passes for ``--seconds``, then one pass
of each workload that calls a layer it does not (ep_drugbank's traced
run adds a corpus_clean pass, corpus_clean's an ep_drugbank pass). Spans
go to ``.perfbench_out/spans-<workload>-<seed>.jsonl``.

The process exits non-zero when any output check fails.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("ep_drugbank", "kg2_link_serve", "corpus_clean")


def pin_environment(work: str) -> dict:
    """Core count, driver memory and scratch dirs, fixed before the JVM
    starts. Driver memory stays well below physical RAM: the engine's
    16g default can exceed the machine and get the JVM killed."""
    cpus = len(os.sched_getaffinity(0))
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    mem_mb = min(4096, phys_mb // 4)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_DRIVER_MEMORY": f"{mem_mb}m",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
    })
    os.environ.pop("SPARK_MASTER", None)
    import tempfile
    tempfile.tempdir = None
    return {"SPARK_GRAFT_CPUS": cpus, "SPARK_DRIVER_MEMORY": f"{mem_mb}m",
            "phys_mb": phys_mb, "loadavg": os.getloadavg()}


def start_spark(work: str):
    from drugbankner_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark("perfbench", extra_conf={
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # no hsperfdata file: the JVM would write it under /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp} -XX:-UsePerfData",
    })


def _rss_mb(pid: int) -> float:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


class RssSampler:
    """Peak of (Python + driver JVM) RSS while running."""

    def __init__(self, pids: list[int], period: float = 0.05):
        self.pids, self.period = pids, period
        self.peak = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        while not self._stop.is_set():
            self.peak = max(self.peak, sum(_rss_mb(p) for p in self.pids))
            self._stop.wait(self.period)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)


class Counter:
    """Operations and one-off checks attempted, and how many failed."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def record(self, errors: list[str]) -> None:
        self.attempted += 1
        if errors:
            self.failed += 1
            for e in errors:
                print("CHECK FAILED:", e, file=sys.stderr)


def run_workload(spark, name: str, work: str, seed: int, seconds: float,
                 trace: bool, cpus: int, jvm_pid: int) -> tuple[Counter, dict, dict]:
    """Returns (check counter, contract metrics, human-readable figures)."""
    import traceback

    from workloads import WORKLOADS, isolate, tail, trace_every_layer, unit_of

    def make(cls):
        w = cls(spark, os.path.join(work, cls.name), seed, cpus)
        w.prepare(0)
        return w

    wl = WORKLOADS[name](spark, os.path.join(work, name), seed, cpus)
    counter = Counter()
    setup_s, setup_wall = [], []
    # a traced run reports no set-up time: one set-up is enough
    for tag in range(1 if trace else wl.setup_repeats):
        t0 = time.perf_counter()
        c0 = cpu_seconds(os.getpid())
        wl.prepare(tag)
        setup_s.append(cpu_seconds(os.getpid()) - c0)
        setup_wall.append(time.perf_counter() - t0)
    figures = {"setup_s": (statistics.median(setup_s), "s (CPU)"),
               "setup_wall_s": (statistics.median(setup_wall), "s")}
    t0 = time.perf_counter()
    for i in range(wl.warmup_ops):
        counter.record(wl.check(wl.op(i)))
        isolate(spark)
    if wl.warmup_ops:
        figures["warmup_s"] = (time.perf_counter() - t0, "s")
    for errs in wl.once():
        counter.record(errs)

    if trace:
        from spans import Tracer

        tracer = Tracer(spark)
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in
                   trace_every_layer(wl, tracer, seconds, counter.record,
                                     make).items()}
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".perfbench_out",
                                  f"spans-{name}-{seed}.jsonl"))
        return counter, metrics, figures

    op_s, op_cpu = [], []
    first = wl.warmup_ops
    with RssSampler([os.getpid(), jvm_pid]) as rss:
        for i in range(first, first + wl.timed_ops(seconds)):
            t0 = time.perf_counter()
            c0 = cpu_seconds(os.getpid())
            try:
                out = wl.op(i)
            except Exception:  # a failed operation counts, the loop goes on
                traceback.print_exc()
                counter.record([f"{name}: operation {i} raised"])
                isolate(spark)
                continue
            op_s.append(time.perf_counter() - t0)
            op_cpu.append(cpu_seconds(os.getpid()) - c0)
            isolate(spark)
            counter.record(wl.check(out))
    if not op_s:
        raise RuntimeError(f"{name}: every timed operation raised")
    q, t = tail(op_s)
    metrics = {
        "op_cpu_s": {"value": statistics.fmean(op_cpu), "unit": "s"},
        "setup_s": {"value": statistics.median(setup_s), "unit": "s"},
    }
    figures.update(wl.summary(op_s))
    figures["op_ms_p50"] = (1000 * statistics.median(op_s), "ms")
    figures["op_ms_tail"] = (1000 * t, f"ms (percentile {q:.0f}, n={len(op_s)})")
    figures["op_cpu_s"] = (statistics.fmean(op_cpu), "s (mean)")
    figures["op_cpu_s_each"] = (" ".join(f"{c:.2f}" for c in op_cpu), "s")
    figures["peak_rss_mb"] = (rss.peak, "MB")
    figures["failed_frac"] = (counter.failed / counter.attempted, "1")
    figures["env"] = (wl.env, "")
    return counter, metrics, figures


def cpu_seconds(root: int) -> float:
    """CPU time (user + system, including reaped children) of ``root``
    and every live descendant: the driver, its JVM and Python workers."""
    total = 0
    for p in [root, *_children(root)]:
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def _children(pid: int) -> list[int]:
    """Every live descendant of ``pid``."""
    parents = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    parents[int(d)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                pass
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        kids = [c for c, pp in parents.items() if pp == p]
        out += kids
        todo += kids
    return out


def stop_spark(spark) -> None:
    """Stop the session, the JVM and its Python workers, and wait for
    each to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    procs = _children(os.getpid())
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 15
    while time.time() < deadline:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")]
        if not alive:
            return
        time.sleep(0.1)
    for p in procs:
        try:
            os.kill(p, signal.SIGKILL)
        except OSError:
            pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOAD_NAMES, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    import drugbankner_spark  # noqa: F401  (fail before touching the disk)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    env = pin_environment(work)
    t0 = time.perf_counter()
    spark = start_spark(work)
    env["session_start_s"] = time.perf_counter() - t0
    env["spark_version"] = spark.version
    jvm_pid = int(spark.sparkContext._jvm.ProcessHandle.current().pid())
    names = WORKLOAD_NAMES if args.workload == "all" else (args.workload,)
    try:
        attempted = failed = 0
        all_metrics = {}
        for name in names:
            counter, metrics, figures = run_workload(
                spark, name, work, args.seed, args.seconds, bool(args.trace),
                env["SPARK_GRAFT_CPUS"], jvm_pid)
            attempted += counter.attempted
            failed += counter.failed
            print(f"== {name} (seed {args.seed}, trace {args.trace})")
            for key, (value, unit) in figures.items():
                print(f"  {key}: {value} {unit}".rstrip())
            if args.workload == "all":
                all_metrics.update({f"{name}.{k}": {"value": v, "unit": u}
                                    for k, (v, u) in figures.items()
                                    if isinstance(v, float)})
            else:
                all_metrics = metrics
    finally:
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("env:", json.dumps(env, sort_keys=True))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": all_metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
