"""Benchmark driver: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload dashboard_session --seed 1 --seconds 10 --trace 0

Run from the repository root. The run:

1. pins the engine's environment (Spark cores below ``nproc``, driver
   heap, and every scratch path into ``.perfbench/run-<pid>/``);
2. writes the seeded inputs there (``gen.py``);
3. takes ``setup_s`` as the median of two cold set-ups, each from
   process start until the session is built and the warm-up query is
   done: one in a fresh probe process (``coldstart.py``), and this
   process's own, less the input writing and the probe;
4. runs the JIT-cold first pass, then warm passes for ``--seconds``;
5. checks outputs against the DuckDB oracles, outside the window;
6. stops Spark and the JVM, removes the scratch directory, and prints
   the run record, then one JSON result line.

``--trace 1`` adds job groups, the Spark event log and JVM counters,
and reports the per-layer metrics instead of the end-to-end ones.
"""

from __future__ import annotations

import argparse
import glob
import hashlib
import importlib.util
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

from coldstart import T_START, setup, stop_jvm

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)  # workload and metric names, units

NPROC = len(os.sched_getaffinity(0))
# One task thread. At this input size a stage has one or two tasks, so
# a second core adds little, and the free cores keep HotSpot's compiler
# threads (about 10 s of compile time per warm pass) off the task thread.
SPARK_CORES = 1
DRIVER_MEM = "2g"
# Cold set-ups in probe processes, besides the run's own. One cold
# set-up costs 11-15 s on a 4-vCPU host; the benchmark's time budget
# (26 runs per workload in 57 min) has room for one probe, not more.
PROBES = 1
PROBE_LIMIT_S = 60
HARD_LIMIT_S = 170  # the run must end well within 180 s
WINDOW_LIMIT_S = 110  # no new pass starts after this


class Timeout(Exception):
    pass


def _on_alarm(_sig, _frame):
    raise Timeout(f"run exceeded {HARD_LIMIT_S} s")


def pin_environment(scratch: str, traced: bool) -> dict[str, str]:
    tmp = os.path.join(scratch, "tmp")
    paths = {
        "tmp": tmp,
        "local": os.path.join(scratch, "local"),
        "spool": os.path.join(scratch, "spool"),
        "eventlog": os.path.join(scratch, "eventlog"),
    }
    for p in paths.values():
        os.makedirs(p, exist_ok=True)
    submit = ["--conf spark.ui.showConsoleProgress=false"]
    if traced:
        submit += [
            "--conf spark.eventLog.enabled=true",
            "--conf spark.eventLog.compress=false",
            f"--conf spark.eventLog.dir=file://{paths['eventlog']}",
        ]
    os.environ.update(
        SPARK_GRAFT_CPUS=str(SPARK_CORES),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=paths["local"],
        SPARK_GRAFT_SPOOL_DIR=paths["spool"],
        TMPDIR=tmp,
        # Every JVM, spark-submit's launcher too: temp files into the
        # run's scratch, and no hsperfdata files under /tmp.
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYSPARK_SUBMIT_ARGS=" ".join(submit + ["pyspark-shell"]),
    )
    return paths


def hd_quantile(values: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a weighted mean of
    all order statistics, the weight of the i-th the Beta(p(n+1),
    (1-p)(n+1)) mass on [(i-1)/n, i/n]. Unlike one order statistic it
    does not jump when two operations of similar latency swap ranks."""
    xs = sorted(values)
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    log_norm = math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
    steps = 2000  # midpoint rule per order statistic
    h = 1.0 / (n * steps)
    weights = []
    for i in range(n):
        w = 0.0
        for k in range(steps):
            x = (i * steps + k + 0.5) * h
            w += math.exp(log_norm + (a - 1) * math.log(x) + (b - 1) * math.log1p(-x))
        weights.append(w * h)
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


class Context:
    def __init__(self, seed: int, scratch: str, paths: dict[str, str]):
        self.seed = seed
        self.scratch = scratch
        self.data_dir = os.path.join(scratch, "data")
        self.tmp = paths["tmp"]
        self.spool_dir = paths["spool"]


def probe_setup(data_dir: str) -> dict[str, float]:
    """One cold set-up in a fresh process (``coldstart.py``), with this
    run's environment. Its JVM and every process it starts are ended
    before this returns."""
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "coldstart.py"), data_dir],
        stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
        start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=PROBE_LIMIT_S)
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        raise RuntimeError(f"set-up probe exited with {proc.returncode}")
    return json.loads(out.strip().splitlines()[-1])


def bench_version() -> str:
    """Digest of the benchmark's own sources: records of another
    version of the benchmark are never compared."""
    h = hashlib.sha1()
    for path in sorted(glob.glob(os.path.join(HERE, "*.py"))) + [os.path.join(ROOT, "BENCHMARK.json")]:
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:12]


def untraced_baseline(records_dir: str, workload: str, version: str) -> dict[str, float] | None:
    """Median end-to-end figures of this version's untraced records."""
    vals: dict[str, list[float]] = {}
    for path in glob.glob(os.path.join(records_dir, f"{workload}-t0-*.json")):
        try:
            with open(path) as fh:
                rec = json.load(fh)
            if rec.get("version") != version:
                continue
            m = rec["metrics"]
        except (OSError, ValueError, KeyError):
            continue
        for k in ("pass_s", "op_p50_ms"):
            vals.setdefault(k, []).append(m[k])
    return {k: statistics.median(v) for k, v in vals.items()} or None


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in SPEC["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    traced = bool(args.trace)

    state_dir = os.path.join(ROOT, ".perfbench")
    scratch = os.path.join(state_dir, f"run-{os.getpid()}")
    records_dir = os.path.join(state_dir, "records")
    os.makedirs(records_dir, exist_ok=True)
    paths = pin_environment(scratch, traced)
    sys.path[:0] = [ROOT, HERE]
    signal.signal(signal.SIGALRM, _on_alarm)
    signal.alarm(HARD_LIMIT_S)
    if importlib.util.find_spec("manipula_o_de_dataframes_spark") is None:
        print(f"perfbench: no engine package under {ROOT}", file=sys.stderr)
        shutil.rmtree(scratch, ignore_errors=True)
        return 2

    try:
        ctx = Context(args.seed, scratch, paths)
        # The benchmark's own work before the session: input writing
        # and the probe set-ups. It is taken out of this process's
        # set-up time.
        t0 = time.perf_counter()
        import gen

        gen.generate(ctx.data_dir, args.seed)
        gen_s = time.perf_counter() - t0
        probes = [probe_setup(ctx.data_dir) for _ in range(PROBES)]
        bench_s = time.perf_counter() - t0

        from tracing import Recorder, fold_event_log
        from workloads import WORKLOADS

        spark, start_s = setup(ctx.data_dir)
        setups = [time.perf_counter() - T_START - bench_s] + [p["setup_s"] for p in probes]
        starts = [start_s] + [p["start_s"] for p in probes]
        rec = Recorder(spark, traced)
        wl = WORKLOADS[args.workload](spark, rec, ctx)
        wl.run(args.seconds, T_START + WINDOW_LIMIT_S)

        # --- output checks, outside the window ---
        t_checks = time.perf_counter()
        n_checks, issues = wl.check()
        checks_s = time.perf_counter() - t_checks
        signal.alarm(0)

        warm_passes = rec.pass_times[1:]
        # Op latency percentiles are taken across operation slots, each
        # slot at its median over the warm passes. On the dashboard an
        # op is one interaction; elsewhere every operation.
        ops = rec.slot_medians("operators.shape" if args.workload == "dashboard_session" else "")
        e2e_values = {
            "setup_s": statistics.median(setups),
            "pass_s": rec.median_pass(),
            "op_p50_ms": 1e3 * hd_quantile(ops, 0.5),
            "op_p90_ms": 1e3 * hd_quantile(ops, 0.9),
        }
        e2e = {m["name"]: (e2e_values[m["name"]], m["unit"]) for m in SPEC["end_to_end"]}
        failed = rec.failed + len(issues)
        attempted = rec.attempted + n_checks
        record = {
            "version": bench_version(),
            "workload": args.workload,
            "seed": args.seed,
            "trace": args.trace,
            "nproc": NPROC,
            "spark_cores": SPARK_CORES,
            "driver_mem": DRIVER_MEM,
            "seconds": args.seconds,
            "window_s": wl.window_s,
            "input_gen_s": gen_s,
            "setup_samples_s": setups,
            "cold_pass_s": rec.pass_times[0],
            "warm_pass_s": warm_passes,
            "op_slots": len(ops),
            "op_median_s": rec.op_medians(),
            "host.steal_s": sum(rec.steal),
            "host.steal_per_pass_s": rec.steal,
            "failed_ops": failed / attempted,
            "checks": n_checks,
            "checks_s": checks_s,
            "errors": (rec.errors + issues)[:20],
            "metrics": {k: v for k, (v, _u) in e2e.items()},
            "process_s": rec.warm_ops("plans.process_click"),
        }

        if traced:
            spark.stop()  # flushes the event log
            lm = rec.layer_means()
            warm = {f"p{p}" for p in rec.warm_passes()}
            n_warm = len(warm)
            spark_tot: dict[str, float] = {}
            groups: dict[str, dict[str, float]] = {}
            for (gid, desc), r in fold_event_log(paths["eventlog"], rec.spans).items():
                if desc in warm:
                    g = groups.setdefault(gid, {})
                    for k, v in r.items():
                        spark_tot[k] = spark_tot.get(k, 0.0) + v / n_warm
                        g[k] = g.get(k, 0.0) + v / n_warm
            record["spark_per_group"] = groups
            values = {
                **lm,
                "session.start_s": statistics.median(starts),
                "sources.stage_s": lm.get("sources.build_s", 0.0) + lm.get("sources.exec_s", 0.0),
                "streaming.drain_s": lm.get("streaming.build_s", 0.0) + lm.get("streaming.exec_s", 0.0),
                **{f"spark.{k}": v for k, v in spark_tot.items()},
                "jvm.heap_peak_bytes": max(
                    rec.layer[p].get("jvm.heap_peak_bytes", 0.0) for p in rec.warm_passes()
                ),
                "trace.pass_s": e2e["pass_s"][0],
                "trace.op_p50_ms": e2e["op_p50_ms"][0],
            }
            # A layer the workload does not touch reads 0.
            layer = {m["name"]: (values.get(m["name"], 0.0), m["unit"]) for m in SPEC["per_layer"]}
            base = untraced_baseline(records_dir, args.workload, record["version"])
            record["trace_overhead"] = (
                {k: e2e[k][0] - v for k, v in base.items()} if base else "no untraced record yet"
            )
            record["layers"] = {k: v for k, (v, _u) in layer.items()}
            metrics = layer
        else:
            metrics = e2e

        with open(os.path.join(records_dir, f"{args.workload}-t{args.trace}-s{args.seed}-{os.getpid()}.json"), "w") as fh:
            json.dump(record, fh)
    finally:
        signal.alarm(0)
        stop_jvm()
        shutil.rmtree(scratch, ignore_errors=True)

    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": not issues and rec.failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
