"""mvrepair benchmark: one workload per invocation, inputs from a seed.

Usage (from the root of a checkout of the repository):

    python3 perfbench/run.py --workload repair_dense --seed 1 \\
        --seconds 6 --trace 0

A run generates its inputs, starts a pinned local Spark session,
registers the inputs, warms the JVM up with untimed passes, then runs
timed passes for ``--seconds`` (at least the workload's minimum in
``PASSES``) and checks the outputs of every pass.  ``--trace 0`` prints
the end-to-end metrics; ``--trace 1`` is a separate run with Spark's
event log on, spans around the calls into each module, and layer passes
over materialized inputs, and prints the per-layer metrics.  The last line of stdout is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback

import gen

WORKLOADS = {
    # ~1% per problem class: the common production case (MV mostly right)
    "reconcile_sparse": lambda w: _reconcile(
        "reconcile_sparse",
        gen.PairShape(200_000, 0.01, 0.01, 0.01, 0.01, 0.005),
        False,
        w,
    ),
    # 10% per class, all fix flags on, repair cells through the sink
    "repair_dense": lambda w: _reconcile(
        "repair_dense",
        gen.PairShape(20_000, 0.10, 0.10, 0.10, 0.10, 0.005),
        True,
        w,
    ),
    "registry_loops": lambda w: _registry(gen.RegistryShape(200, 1500, 300), w),
}
# (untimed warm-up passes, minimum timed passes).  The first pass of a
# JVM is ~4x a warm one; registry_loops' oracle pass is its cold pass.
PASSES = {"reconcile_sparse": (3, 3), "repair_dense": (3, 3), "registry_loops": (1, 3)}
REGISTRATIONS = 3
TRACED_PASSES = 2
DRIVER_MEMORY = "3g"
CODEGEN_CACHE_ENTRIES = 2000

END_TO_END = ["setup_s", "wall_s", "keys_per_s", "cpu_s", "live_heap_mb", "ok_frac"]
UNITS = {
    "setup_s": "s", "wall_s": "s", "keys_per_s": "1/s", "cpu_s": "s",
    "live_heap_mb": "MB", "ok_frac": "frac",
}


def _reconcile(name, shape, repair, work):
    from workloads import Reconcile

    return Reconcile(name, shape, repair, work)


def _registry(shape, work):
    from workloads import Registry

    return Registry(shape, work, os.getcwd())


def per_layer_names() -> list[str]:
    from workloads import REGISTRY_QUERIES

    names = [
        "sources.load_s", "sources.load_jobs", "sources.scan_s", "sources.scan_mb",
        "sources.sink_s", "sources.sink_rows",
        "reconcile.classify_s", "reconcile.task_cpu_s", "reconcile.shuffle_mb",
        "reconcile.problem_keys",
        "report.render_s", "report.write_s", "report.records", "report.mb",
        "repair.plan_upserts_s", "repair.plan_deletes_s", "repair.upsert_cells",
        "repair.delete_keys",
        "runner.self_s", "runner.spark_jobs", "runner.driver_gap_s",
        "runner.read_amplification",
        "spark.task_run_s", "spark.task_cpu_s", "spark.sched_delay_s", "spark.tasks",
        "spark.failed_tasks", "spark.gc_s", "spark.spill_mb", "spark.peak_exec_mem_mb",
        "jvm.jit_s",
        "trace.pass_s", "trace.untraced_pass_s", "trace.overhead_ratio",
    ]
    for q in REGISTRY_QUERIES:
        names += [f"registry.{q}.{m}" for m in ("wall_s", "jobs", "construct_s", "construct_jobs")]
    return names


# ---------------------------------------------------------------------------
# process accounting
# ---------------------------------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> tuple[str, list[str]] | None:
    """(name, fields after the name) of a /proc stat file; None if gone."""
    try:
        with open(path) as fh:
            stat = fh.read()
    except OSError:
        return None
    return stat[stat.index("(") + 1:stat.rfind(")")], stat[stat.rfind(")") + 2:].split()


def cpu_snapshot(pid: int) -> tuple[dict[str, int], int]:
    """CPU ticks of a JVM, split so that its JIT compiler threads can be
    left out: (ticks per live non-compiler thread, ticks of everything
    else it owns -- reaped children and all descendant processes).

    Per-thread, because the JVM starts and stops compiler threads on
    demand: a process total minus the live compiler threads jumps by a
    compiler thread's whole history when that thread exits."""
    threads = {}
    for tid in os.listdir(f"/proc/{pid}/task"):
        st = _stat(f"/proc/{pid}/task/{tid}/stat")
        if st and "CompilerThre" not in st[0]:
            threads[tid] = int(st[1][11]) + int(st[1][12])
    parent, own = {}, {}
    for d in os.listdir("/proc"):
        st = _stat(f"/proc/{d}/stat") if d.isdigit() else None
        if st:
            parent[int(d)] = int(st[1][1])
            own[int(d)] = sum(int(x) for x in st[1][11:15])
    jvm = _stat(f"/proc/{pid}/stat")
    other = int(jvm[1][13]) + int(jvm[1][14]) if jvm else 0
    todo = [c for c, pp in parent.items() if pp == pid]
    while todo:
        p = todo.pop()
        other += own.get(p, 0)
        todo += [c for c, pp in parent.items() if pp == p]
    return threads, other


def cpu_between(a, b) -> float:
    """CPU seconds between two ``cpu_snapshot``s (threads that exit in
    between lose their ticks since ``a``; JVM worker threads are pooled)."""
    ticks = sum(t - a[0].get(tid, 0) for tid, t in b[0].items()) + b[1] - a[1]
    return ticks / _TICK


def steal_share() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


class Session:
    """The pinned local Spark session and the JVM process behind it."""

    def __init__(self, root: str, work: str, trace: bool):
        ncpu = len(os.sched_getaffinity(0))
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # Python workers (mutation sink, pandas UDFs) import mvrepair.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["PYSPARK_PYTHON"] = sys.executable
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
        # both JVMs write nothing outside the checkout (no hsperfdata)
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        tempfile.tempdir = tmp
        from pyspark.sql import SparkSession

        b = (
            SparkSession.builder.master(f"local[{ncpu}]")
            .appName("mvrepair-perfbench")
            .config("spark.sql.shuffle.partitions", str(ncpu))
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.ui.enabled", "false")
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.driver.memory", DRIVER_MEMORY)
            .config(
                "spark.driver.extraJavaOptions",
                f"-XX:ReservedCodeCacheSize=1g -XX:-UsePerfData -Djava.io.tmpdir={tmp}",
            )
            # A registry pass generates ~400 classes: with the default
            # 100-entry cache every pass recompiled them and the JIT
            # never settled.
            .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
            .config("spark.local.dir", os.path.join(work, "local"))
            .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        )
        self.event_dir = os.path.join(work, "eventlog")
        if trace:
            os.makedirs(self.event_dir, exist_ok=True)
            b = (
                b.config("spark.eventLog.enabled", "true")
                .config("spark.eventLog.dir", "file://" + self.event_dir)
                .config("spark.eventLog.compress", "false")
                .config("spark.eventLog.rolling.enabled", "false")
            )
        self.spark = b.getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        self.sc = self.spark.sparkContext
        self.proc = self.sc._gateway.proc
        mf = self.sc._jvm.java.lang.management.ManagementFactory
        self._mem = mf.getMemoryMXBean()
        self._jit = mf.getCompilationMXBean()

    def cpu(self):
        """Snapshot of the CPU of the JVM and its Python workers, less the
        JIT compiler threads (their time is ``jvm.jit_s``; it fades as
        passes warm).  Subtract two with ``cpu_between``."""
        return cpu_snapshot(self.proc.pid)

    def jit_s(self) -> float:
        if not self._jit.isCompilationTimeMonitoringSupported():
            raise RuntimeError("JVM does not report JIT compilation time")
        return self._jit.getTotalCompilationTime() / 1000

    def live_heap_mb(self) -> float:
        """Heap in use after full collections, once Spark's ContextCleaner
        has freed what the collections made unreachable.

        JVM objects behind Python proxies live until the proxies are
        collected, and the cleaner frees shuffle and broadcast state only
        after a GC has enqueued their references, which takes it a second
        or two: collect Python, then the JVM until three readings half a
        second apart agree."""
        gc.collect()
        readings = []
        for _ in range(16):
            self._mem.gc()
            readings.append(self._mem.getHeapMemoryUsage().getUsed() / 2**20)
            last = readings[-3:]
            if len(readings) >= 5 and max(last) - min(last) < 0.01 * min(last):
                break
            time.sleep(0.5)
        return readings[-1]

    def stop(self) -> None:
        """Stop Spark, then the JVM, and wait until it has exited."""
        if self.proc.poll() is not None:
            return
        gateway = self.sc._gateway
        try:
            self.spark.stop()
        finally:
            gateway.shutdown()
            self.proc.stdin.close()
            try:
                self.proc.wait(timeout=60)
            except Exception:
                self.proc.kill()
                self.proc.wait(timeout=30)


# ---------------------------------------------------------------------------
# the run
# ---------------------------------------------------------------------------

class Counts:
    """Passes attempted and failed in this run (warm-ups included)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def run(self, w, spark, fn) -> bool:
        """One checked pass: ``fn`` runs it; outputs are checked after."""
        self.attempted += 1
        try:
            fn()
            problems = w.check_pass(spark)
        except Exception:
            traceback.print_exc()
            problems = ["pass raised"]
        if problems:
            self.failed += 1
            print(f"pass {self.attempted} failed: {problems}", file=sys.stderr)
        return not problems


def timed_pass(w, sess, counts) -> tuple[float, float, bool]:
    w.clear()
    c0, t0 = sess.cpu(), time.monotonic()
    holder = {}

    def body():
        w.run_pass(sess.spark)
        holder["wall"] = time.monotonic() - t0
        holder["cpu"] = cpu_between(c0, sess.cpu())

    ok = counts.run(w, sess.spark, body)
    return holder.get("wall", 0.0), holder.get("cpu", 0.0), ok


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "mvrepair"))
            and os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("run from the root of an mvrepair checkout "
              "(mvrepair/ and __spark_entry__.py not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    # a terminated run still stops its JVM and oracle process
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    work = os.path.join(root, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    w = WORKLOADS[args.workload](work)
    w.generate(args.seed)

    t = time.monotonic()
    sess = Session(root, work, bool(args.trace))
    session_s = time.monotonic() - t
    try:
        return _measure(args, w, sess, session_s)
    finally:
        try:
            w.close()
            sess.stop()
        finally:
            shutil.rmtree(work, ignore_errors=True)


def _measure(args, w, sess, session_s: float) -> int:
    spark = sess.spark
    t = time.monotonic()
    w.imports()
    import_s = time.monotonic() - t
    reg = [_timed(lambda: w.register(spark)) for _ in range(REGISTRATIONS)]
    setup_s = session_s + import_s + statistics.median(reg)
    print(f"setup {setup_s:.2f}s (session {session_s:.2f}, import {import_s:.2f}, "
          f"register {reg})", file=sys.stderr)

    counts = Counts()
    oracle_bad = w.first_pass(spark)
    if oracle_bad:
        print(f"oracle check failed: {oracle_bad}", file=sys.stderr)
    for i in range(PASSES[w.name][0]):
        wall, _, ok = timed_pass(w, sess, counts)
        print(f"warm-up {i}: {wall:.2f}s ok={ok}", file=sys.stderr)

    if args.trace:
        metrics = _traced(w, sess, counts)
    else:
        metrics = _timed_passes(w, sess, counts, args.seconds, setup_s)
    result = {
        "correct": counts.failed == 0 and not oracle_bad,
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


def _timed(fn) -> float:
    t0 = time.monotonic()
    fn()
    return time.monotonic() - t0


def _timed_passes(w, sess, counts, seconds, setup_s) -> dict:
    walls, cpus, oks = [], [], []
    steal0 = steal_share()
    t0 = time.monotonic()
    while len(walls) < PASSES[w.name][1] or time.monotonic() - t0 < seconds:
        wall, cpu, ok = timed_pass(w, sess, counts)
        walls.append(wall)
        cpus.append(cpu)
        oks.append(ok)
        print(f"pass {len(walls)}: {wall:.3f}s cpu {cpu:.2f}s ok={ok}", file=sys.stderr)
    steal1 = steal_share()
    print(f"steal {100 * (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]):.1f}% "
          "of machine CPU during the timed passes", file=sys.stderr)
    wall = statistics.median(walls)
    vals = {
        "setup_s": setup_s,
        "wall_s": wall,
        "keys_per_s": w.keys() / wall,
        "cpu_s": statistics.median(cpus),
        "live_heap_mb": sess.live_heap_mb(),
        "ok_frac": sum(oks) / len(oks),
    }
    return {k: {"value": vals[k], "unit": UNITS[k]} for k in END_TO_END}


def _traced(w, sess, counts) -> dict:
    """Untraced passes (for the overhead ratio), traced passes with
    spans, layer passes, then the event log once Spark has stopped."""
    import mvrepair.sources as sources_mod

    import __spark_entry__
    from spans import Attribution, Tracer, parse_event_log

    spark = sess.spark
    tr = Tracer(sess.sc)
    untraced, jit = [], []
    for _ in range(TRACED_PASSES):
        # alternate so JIT drift does not land on one side of the ratio
        untraced.append(timed_pass(w, sess, counts)[0])
        undo = [
            tr.wrap(sources_mod, "load_table", "sources.load"),
            tr.wrap(__spark_entry__, "load_table", "sources.load"),
        ]
        try:
            w.clear()
            w.register(spark)
            j0 = sess.jit_s()
            counts.run(w, spark, lambda: w.traced_pass(spark, tr))
            jit.append(sess.jit_s() - j0)
            w.note_outputs()
        finally:
            for u in undo:
                u()
    for _ in range(TRACED_PASSES):
        w.layer_passes(spark, tr)
    # Spark closes the event log on stop; everything live is read above.
    sess.stop()
    at = Attribution(tr, parse_event_log(sess.event_dir))

    def mb(b):
        return b / 2**20

    passes = at.spans("pass")
    tot = [at.total(s) for s in passes]

    def med(fn):
        return statistics.median(fn(g) for g in tot)

    traced_s = statistics.median(s.dur for s in passes)
    vals = dict.fromkeys(per_layer_names(), 0.0)
    loads = at.spans("sources.load")
    vals.update(
        {
            "sources.load_s": sum(s.dur for s in loads) / len(passes),
            "sources.load_jobs": sum(len(at.total(s).jobs) for s in loads) / len(passes),
            "spark.task_run_s": med(lambda g: g.run_s),
            "spark.task_cpu_s": med(lambda g: g.cpu_s),
            "spark.sched_delay_s": med(lambda g: g.sched_delay_s),
            "spark.tasks": med(lambda g: g.tasks),
            "spark.failed_tasks": med(lambda g: g.failed_tasks),
            "spark.gc_s": med(lambda g: g.gc_s),
            "spark.spill_mb": med(lambda g: mb(g.spill_bytes)),
            "spark.peak_exec_mem_mb": med(lambda g: mb(g.peak_exec_mem)),
            "jvm.jit_s": statistics.median(jit),
            "trace.pass_s": traced_s,
            "trace.untraced_pass_s": statistics.median(untraced),
            "trace.overhead_ratio": traced_s / statistics.median(untraced),
        }
    )
    vals.update(w.layer_metrics(at, mb))
    return {k: {"value": v, "unit": _unit(k)} for k, v in vals.items()}


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith(("_mb", ".mb")):
        return "MB"
    if name.endswith(("_ratio", "_amplification")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
