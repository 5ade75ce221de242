"""State shared by every workload: the Spark session and its teardown,
op bookkeeping (attempted / failed / latencies), resident memory and the
final result object."""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

from spans import Tracer


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def mean(xs) -> float:
    return statistics.fmean(xs) if xs else 0.0


def _vm_hwm_kb(pid) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


_TICK = os.sysconf("SC_CLK_TCK")
# JIT compiler threads: their work tracks how far the JVM has warmed up,
# not the request, and is most of the run-to-run spread in CPU time
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str]:
    with open(path) as f:
        # the fields after the ")" that closes the command name
        return f.read().rsplit(")", 1)[1].split()


def _jit_ticks(pid: int) -> int:
    ticks = 0
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return 0
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/comm") as f:
                if not f.read().startswith(_JIT_THREADS):
                    continue
            rest = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
        except OSError:
            continue
        ticks += int(rest[11]) + int(rest[12])
    return ticks


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by process ``root`` (this
    one by default) and every process below it: the JVM, the PySpark
    daemon and its Python workers, and any children they have reaped;
    less the JVM's JIT compiler threads. Time the hypervisor steals from
    the VM is not in it."""
    root = root or os.getpid()
    stats, kids = {}, {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            rest = _stat_fields(f"/proc/{d}/stat")
        except OSError:
            continue
        pid = int(d)
        stats[pid] = sum(int(x) for x in rest[11:15])  # utime stime cutime cstime
        kids.setdefault(int(rest[1]), []).append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid in stats:
            total += stats[pid] - _jit_ticks(pid)
        todo += kids.get(pid, [])
    return total / _TICK


class Run:
    """One benchmark run. ``setup_s`` accumulates every second spent
    before the measured loop: session start, Python-worker warm-up, input
    generation, index builds and the untimed warm-up ops."""

    def __init__(self, args, work: str, trace_dir: str):
        self.args = args
        self.seed = args.seed
        self.seconds = args.seconds
        self.traced = bool(args.trace)
        self.work = work
        self.trace_dir = trace_dir
        self.attempted = 0
        self.failed = 0
        self.setup_s = 0.0
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}
        self.trace_extra: dict = {}

        from rag_content_spark.session import get_spark, warm_python_workers

        t = time.perf_counter()
        self.spark = get_spark(f"perfbench-{args.workload}")
        self.start_s = time.perf_counter() - t
        self.tracer = Tracer(self.spark, self.traced)
        t = time.perf_counter()
        with self.tracer.span("session.warm_python_workers"):
            warm_python_workers(self.spark)
        self.warm_s = time.perf_counter() - t
        self.setup_s += self.start_s + self.warm_s

    def op(self, what: str, fn, *args):
        """Run one op; an exception or a failed check counts it as failed.
        ``fn`` returns True when its outputs checked out."""
        self.attempted += 1
        try:
            ok = fn(*args)
        except Exception:  # a failing op is a result, not a crash
            print(f"perfbench: {what} raised\n{traceback.format_exc()}", file=sys.stderr)
            ok = False
        if not ok:
            self.failed += 1
            print(f"perfbench: {what} failed its check", file=sys.stderr)
        return ok

    def metric(self, name: str, value: float, unit: str) -> None:
        self.metrics[name] = (float(value), unit)

    def layer(self, name: str, value: float, unit: str) -> None:
        self.layers[name] = (float(value), unit)

    def measured(self, per_cpu_s: float, op_cpu_ms: float, per_s: float, op_ms: float) -> None:
        """The measured loop's figures, from its untraced ops: work per
        CPU-second and mean CPU ms per op (end to end), and their
        wall-clock counterparts, throughput and median op latency (per
        layer; README.md says why)."""
        self.metric("throughput_per_cpu_s", per_cpu_s, "1/cpu_s")
        self.metric("op_cpu_ms", op_cpu_ms, "ms")
        self.layer("wall.throughput_per_s", per_s, "1/s")
        self.layer("wall.op_p50_ms", op_ms, "ms")
        print(
            f"perfbench: measured: {per_cpu_s:.4g}/cpu_s, op {op_cpu_ms:.0f} cpu ms, "
            f"{per_s:.4g}/s, op {op_ms:.0f} ms",
            file=sys.stderr,
        )

    def peak_rss_mb(self) -> float:
        """High-water resident memory of this process plus its JVM."""
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        kb = _vm_hwm_kb("self") + (_vm_hwm_kb(proc.pid) if proc else 0)
        return kb / 1024.0

    def result(self) -> dict:
        if self.traced:
            os.makedirs(self.trace_dir, exist_ok=True)
            self.tracer.resolve_counts()
            self.finish_layers()
            path = os.path.join(
                self.trace_dir, f"trace-{self.args.workload}-seed{self.seed}.json"
            )
            self.tracer.write(
                path,
                {"workload": self.args.workload, "seed": self.seed}
                | self.trace_extra
                | {"layers": {k: v for k, (v, _u) in self.layers.items()}},
            )
            print(f"perfbench: trace written to {path}", file=sys.stderr)
            chosen = self.layers
        else:
            self.metric("setup_s", self.setup_s, "s")
            chosen = self.metrics
        return {
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {
                k: {"value": v, "unit": u} for k, (v, u) in chosen.items()
            },
        }

    def finish_layers(self) -> None:
        """Per-layer metrics every workload reports (the workload adds its
        own before this runs; layers it never touched read 0)."""
        self.layer("session.start_s", self.start_s, "s")
        self.layer("session.warm_s", self.warm_s, "s")
        self.layer("session.peak_rss_mb", self.peak_rss_mb(), "MB")
        from layers import PER_LAYER

        for name, unit in PER_LAYER:
            self.layers.setdefault(name, (0.0, unit))

    def close(self) -> None:
        """Stop Spark and wait for the JVM (and its Python workers) to exit."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        try:
            self.spark.stop()
        finally:
            try:
                gw.shutdown()
            except Exception:
                pass
            if proc is not None:
                try:
                    proc.stdin.close()
                except Exception:
                    pass
                try:
                    proc.wait(timeout=60)
                except Exception:
                    proc.kill()
                    proc.wait()
