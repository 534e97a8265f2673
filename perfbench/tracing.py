"""Per-layer measurement from outside the engine.

Three sources, all read by the benchmark around its own calls:

- wall time of each call into an engine layer (``session``, ``plans``,
  ``queries``, ``operators``, ``operators.spool``, ``sources``,
  ``streaming``), split into the build call and the action;
- Spark's own event log, with one job group per call, folded per group
  by a stdlib-only parser (``fold_event_log``);
- JVM counters through the py4j gateway: Spark's ``CodegenMetrics``
  compile-time histogram and the HotSpot compilation, GC and memory
  MXBeans.

With tracing off, ``Recorder`` keeps only what the end-to-end metrics
and the run record need: op latencies, pass times and host steal.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from collections import defaultdict
from contextlib import contextmanager
from urllib.parse import urlparse

_CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """Cumulative steal time of all CPUs, from ``/proc/stat``."""
    try:
        with open("/proc/stat") as fh:
            fields = fh.readline().split()
        return int(fields[8]) / _CLK_TCK
    except (OSError, IndexError, ValueError):
        return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def subdirs(path: str) -> set[str]:
    try:
        return {e.name for e in os.scandir(path) if e.is_dir()}
    except OSError:
        return set()


def spool_dirs_read(df, root: str) -> set[str]:
    """Spool directories under ``root`` that ``df``'s plan scans."""
    root = os.path.abspath(root) + os.sep
    found = set()
    for uri in df.inputFiles():
        path = urlparse(uri).path
        if path.startswith(root):
            found.add(path[len(root):].split(os.sep, 1)[0])
    return found


class PeakDirSize:
    """Poll the summed size of directories matching a prefix while a
    call runs; the engine removes its stream state and checkpoints
    before returning, so only a poll can see them."""

    def __init__(self, root: str, prefixes: tuple[str, ...], period_s: float = 0.05):
        self.root, self.prefixes, self.period_s = root, prefixes, period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> int:
        try:
            names = [e.path for e in os.scandir(self.root) if e.name.startswith(self.prefixes)]
        except OSError:
            return 0
        return sum(dir_bytes(p) for p in names)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, self._sample())
            self._stop.wait(self.period_s)

    def __enter__(self) -> "PeakDirSize":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class JvmCounters:
    """Cumulative JVM counters read through the py4j gateway."""

    def __init__(self, spark):
        jvm = spark.sparkContext._jvm
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        mf = jvm.java.lang.management.ManagementFactory
        self._jit = mf.getCompilationMXBean()
        self._gcs = list(mf.getGarbageCollectorMXBeans())
        self._heap_pools = [
            p for p in mf.getMemoryPoolMXBeans() if str(p.getType().name()) == "HEAP"
        ]

    def read(self) -> dict[str, float]:
        return {
            "codegen_compiles": self._codegen.getCount(),
            # The histogram keeps a sample, not a running sum; its mean
            # times the count delta estimates the compile time.
            "codegen_mean_ms": self._codegen.getSnapshot().getMean(),
            "jit_ms": self._jit.getTotalCompilationTime(),
            "gc_ms": sum(g.getCollectionTime() for g in self._gcs),
        }

    def reset_heap_peak(self) -> None:
        for p in self._heap_pools:
            p.resetPeakUsage()

    def heap_peak_bytes(self) -> int:
        return sum(p.getPeakUsage().getUsed() for p in self._heap_pools)


class Recorder:
    """Times calls per pass; with ``traced`` also tags job groups and
    reads JVM counters at pass boundaries.

    Pass 0 is the JIT-cold first pass: it is recorded but kept out of
    every warm median and per-pass mean.
    """

    def __init__(self, spark, traced: bool):
        self.spark = spark
        self.traced = traced
        self.pass_no = 0
        self.pass_times: list[float] = []
        # pass -> operation slot -> latencies
        self.samples: dict[int, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
        self.layer: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
        self.steal: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.jvm = JvmCounters(spark) if traced else None
        self._untimed = 0.0
        # (start ms, end ms, job group, description) of every traced op
        self.spans: list[tuple[float, float, str, str]] = []

    @contextmanager
    def group(self, layer: str, op: str):
        """Run the body under Spark job group ``<layer>.<op>``, with the
        pass number as the group's description."""
        if not self.traced:
            yield
            return
        sc = self.spark.sparkContext
        sc.setJobGroup(f"{layer}.{op}", f"p{self.pass_no}")
        try:
            yield
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def op(self, layer: str, name: str, build, action=None, key: str | None = None):
        """Time one user-visible operation: ``build()`` is the call into
        the layer, ``action(result)`` the Spark action. ``key`` names the
        operation's slot in the pass (default ``<layer>.<name>``), the
        unit ``median_pass`` takes medians over. Returns the action's
        result, or None when the operation raised."""
        self.attempted += 1
        wall0 = time.time()
        t0 = time.perf_counter()
        try:
            with self.group(layer, name):
                df = build()
                t1 = time.perf_counter()
                out = action(df) if action is not None else df
        except Exception as e:  # noqa: BLE001 - a failed op is counted, not fatal
            self.failed += 1
            self.errors.append(f"{layer}.{name}: {type(e).__name__}: {str(e)[:200]}")
            return None
        finally:
            if self.traced:
                self.spans.append((wall0 * 1e3, time.time() * 1e3, f"{layer}.{name}", f"p{self.pass_no}"))
        t2 = time.perf_counter()
        self.samples[self.pass_no][key or f"{layer}.{name}"].append(t2 - t0)
        self.add(f"{layer}.build_s", t1 - t0)
        if action is not None:
            self.add(f"{layer}.exec_s", t2 - t1)
        return out

    def untimed(self, seconds: float) -> None:
        """Take benchmark-side work inside a pass back out of its time."""
        self._untimed += seconds

    def add(self, name: str, value: float) -> None:
        self.layer[self.pass_no][name] += value

    @contextmanager
    def pass_(self):
        steal0 = host_steal_s()
        if self.jvm:
            self.jvm.reset_heap_peak()
            c0 = self.jvm.read()
        self._untimed = 0.0
        t0 = time.perf_counter()
        yield
        self.pass_times.append(time.perf_counter() - t0 - self._untimed)
        self.steal.append(host_steal_s() - steal0)
        if self.jvm:
            c1 = self.jvm.read()
            n_ops = max(1, sum(map(len, self.samples[self.pass_no].values())))
            compiles = c1["codegen_compiles"] - c0["codegen_compiles"]
            self.add("jvm.codegen_compiles", compiles)
            self.add("jvm.codegen_compile_s", compiles * c1["codegen_mean_ms"] / 1e3)
            self.add("jvm.codegen_compiles_per_query", compiles / n_ops)
            self.add("jvm.jit_s", (c1["jit_ms"] - c0["jit_ms"]) / 1e3)
            self.add("jvm.gc_s", (c1["gc_ms"] - c0["gc_ms"]) / 1e3)
            self.add("jvm.heap_peak_bytes", self.jvm.heap_peak_bytes())
        self.add("host.steal_s", self.steal[-1])
        self.pass_no += 1

    # --- folded results (warm passes only) ---

    def warm_passes(self) -> list[int]:
        return list(range(1, self.pass_no))

    def warm_ops(self, prefix: str = "") -> list[float]:
        """Warm latencies of every slot whose name starts with ``prefix``."""
        return [
            t for p in self.warm_passes()
            for k, v in self.samples[p].items() if k.startswith(prefix) for t in v
        ]

    def slot_medians(self, prefix: str = "") -> list[float]:
        return [v for k, v in self.op_medians().items() if k.startswith(prefix)]

    def op_medians(self) -> dict[str, float]:
        """Median warm latency of each operation slot."""
        merged: dict[str, list[float]] = defaultdict(list)
        for p in self.warm_passes():
            for k, v in self.samples[p].items():
                merged[k] += v
        return {k: statistics.median(v) for k, v in sorted(merged.items())}

    def median_pass(self) -> float:
        """A warm pass built from medians: the sum over the pass's
        operation slots of each slot's median warm latency. A burst
        that slows one operation in one pass does not move it."""
        return sum(self.op_medians().values())

    def layer_means(self) -> dict[str, float]:
        warm = self.warm_passes()
        keys = {k for p in warm for k in self.layer[p]}
        return {k: sum(self.layer[p].get(k, 0.0) for p in warm) / len(warm) for k in keys}


_ACC = {
    "internal.metrics.executorRunTime": ("executor_run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor_cpu_s", 1e-9),
    "internal.metrics.input.bytesRead": ("input_bytes", 1),
    "internal.metrics.shuffle.read.remoteBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.read.localBytesRead": ("shuffle_read_bytes", 1),
    "internal.metrics.shuffle.write.bytesWritten": ("shuffle_write_bytes", 1),
    "internal.metrics.memoryBytesSpilled": ("spill_bytes", 1),
    "internal.metrics.diskBytesSpilled": ("spill_bytes", 1),
}


def fold_event_log(log_dir: str, spans) -> dict[tuple[str, str], dict[str, float]]:
    """Fold every uncompressed event log under ``log_dir`` into one
    record per (job group, description): jobs, stages, tasks and the
    stage accumulables in ``_ACC``.

    Structured Streaming replaces the caller's job group with its own
    run id, so a job outside the benchmark's groups is given to the
    span (``Recorder.spans``) that was open when it was submitted."""
    ours = {(g, d) for _t0, _t1, g, d in spans}
    stage_owner: dict[tuple[str, int], tuple[str, str]] = {}
    out: dict[tuple[str, str], dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for root, _dirs, files in os.walk(log_dir):
        for f in sorted(files):
            if f.startswith((".", "appstatus")):  # checksums, status markers
                continue
            app = os.path.basename(root) if root != log_dir else f
            with open(os.path.join(root, f), errors="replace") as fh:
                for line in fh:
                    ev = json.loads(line)
                    kind = ev.get("Event")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        key = (props.get("spark.jobGroup.id"), props.get("spark.job.description"))
                        if key not in ours:
                            t = ev.get("Submission Time", 0)
                            key = next((k for t0, t1, *k in spans if t0 <= t <= t1), None)
                            if key is None:
                                continue
                            key = tuple(key)
                        out[key]["jobs"] += 1
                        for sid in ev.get("Stage IDs", []):
                            stage_owner[(app, sid)] = key
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        key = stage_owner.get((app, info["Stage ID"]))
                        if key is None:
                            continue
                        rec = out[key]
                        rec["stages"] += 1
                        rec["tasks"] += info.get("Number of Tasks", 0)
                        for acc in info.get("Accumulables", []):
                            m = _ACC.get(acc.get("Name"))
                            if m:
                                rec[m[0]] += float(acc.get("Value", 0)) * m[1]
    return out
