"""Benchmark harness: times the engine's query surface and profiles it.

Usage: python bench.py
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the usable core count).

Each query is fully materialized via the noop sink (no driver collect),
timed after a small warm-up that pays JVM/codegen startup once. Every
timed run and spool build runs under its own Spark job group, and the
uncompressed event log (in a temp dir outside the repo) is folded per
group by ``perfbench/tracing.py:fold_event_log`` into a PROFILE file
beside the BENCH file: jobs, stages, tasks, executor time, I/O bytes
and host steal per query and per spool build.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from manipula_o_de_dataframes_spark.operators.spool import ARTIFACTS, HITS  # noqa: E402
from manipula_o_de_dataframes_spark.queries import QUERIES  # noqa: E402
from manipula_o_de_dataframes_spark.session import cds_state, get_spark  # noqa: E402
from perfbench.tracing import dir_bytes, fold_event_log, host_steal_s  # noqa: E402

# Deliberate permissive/exact contrast fixtures (each sits beside a
# scale-safe twin: banded LSH / sign-bucket blocking). They stay
# oracle-checked, but the HEADLINE total tracks the scale-path plans
# only, so round-over-round perf compares the plans you'd actually run
# at 100 TB (VERDICT r2 #6).
BASELINE_FIXTURES = frozenset({"near_dup_jaccard", "embedding_near_dup"})
WARMUP = ("abc_classification", "multimodal_features")
# Entries per stdout chunk line: 120-entry chunks (3-4 KB each) did not
# survive a tail capture of the output (VERDICT r11).
CHUNK = 30
# Jobs submitted outside every span land in this row; it reads zero
# when the tagging covers the whole run.
UNATTRIBUTED = "unattributed"
PROFILE_FIELDS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "input_bytes",
    "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "steal_s", "runs",
)
_COUNTS = frozenset({"jobs", "stages", "tasks", "runs"})


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def enable_event_log() -> str:
    """Turn on Spark's uncompressed event log in a new temp dir, as
    ``perfbench/run.py:pin_environment`` does: the confs go into
    ``PYSPARK_SUBMIT_ARGS``, after any value already set. Call it
    before the session starts; returns the log dir."""
    log_dir = tempfile.mkdtemp(prefix="spark_graft_eventlog_")
    confs = [
        "--conf spark.eventLog.enabled=true",
        "--conf spark.eventLog.compress=false",
        f"--conf spark.eventLog.dir=file://{log_dir}",
    ]
    prior = os.environ.get("PYSPARK_SUBMIT_ARGS", "").strip()
    prior = prior.removesuffix("pyspark-shell").strip()
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(filter(None, [prior, *confs, "pyspark-shell"]))
    return log_dir


class Profile:
    """Job-group tagging for one session, and the fold of its event log
    into one row per group."""

    def __init__(self, spark, log_dir: str):
        self.spark, self.log_dir = spark, log_dir
        # (start ms, end ms, job group, description), as Recorder.spans:
        # a streaming job runs under its own group and is given to the
        # span open when it was submitted.
        self.spans: list[tuple[float, float, str, str]] = []
        self.steal: dict[str, float] = defaultdict(float)
        self.runs: Counter[str] = Counter()

    @contextmanager
    def group(self, group: str):
        """Run the body under Spark job group ``group``, as
        ``Recorder.group`` does, and record its span and host steal."""
        sc = self.spark.sparkContext
        sc.setJobGroup(group, "bench")
        steal0, wall0 = host_steal_s(), time.time()
        try:
            yield
        finally:
            self.spans.append((wall0 * 1e3, time.time() * 1e3, group, "bench"))
            self.steal[group] += host_steal_s() - steal0
            self.runs[group] += 1
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)

    def time_runs(self, group: str, thunk, n: int) -> list[float]:
        """Wall seconds of ``n`` back-to-back calls of ``thunk``, each
        under job group ``group``; the tagging stays outside the timed
        window, and the row's ``runs`` counts the calls."""
        runs = []
        for _ in range(n):
            with self.group(group):
                t0 = time.perf_counter()
                thunk()
                runs.append(round(time.perf_counter() - t0, 3))
        return runs

    def fold(self) -> dict[str, dict[str, float]]:
        """One row of ``PROFILE_FIELDS`` per group, plus ``UNATTRIBUTED``.
        Stop the session first: that flushes and closes the log."""
        catch_all = (0.0, float("inf"), UNATTRIBUTED, "bench")
        folded = fold_event_log(self.log_dir, self.spans + [catch_all])
        rows = {g: dict.fromkeys(PROFILE_FIELDS, 0.0) for g in [*self.runs, UNATTRIBUTED]}
        for (group, _desc), rec in folded.items():
            for k, v in rec.items():
                rows[group][k] += v
        for group, row in rows.items():
            row["steal_s"] = self.steal.get(group, 0.0)
            row["runs"] = self.runs.get(group, 0)
            for k, v in row.items():
                row[k] = int(v) if k in _COUNTS or k.endswith("_bytes") else round(v, 3)
        return rows

    def close(self) -> None:
        shutil.rmtree(self.log_dir, ignore_errors=True)


def start_session(app_name: str):
    """A session with the event log on, and its ``Profile``."""
    log_dir = enable_event_log()
    try:
        spark = get_spark(app_name)
    except BaseException:
        shutil.rmtree(log_dir, ignore_errors=True)
        raise
    spark.sparkContext.setLogLevel("ERROR")
    return spark, Profile(spark, log_dir)


def warm_up(spark, sf_dir: str, profile: Profile) -> None:
    """Untimed: JVM, codegen, parquet footer caches, and the Python
    worker daemons used by mapInPandas."""
    with profile.group("warmup"):
        for name in WARMUP:
            materialize(QUERIES[name](spark, sf_dir))


def build_spools(spark, sf_dir: str, profile: Profile) -> dict[str, float]:
    """Build every session-memoized spool, each timed on its own.

    The builds run BEFORE the timed sweep (VERDICT r7 #2): otherwise the
    first family query to run in a session silently pays the shared
    build. With the builds fronted, every per-query number is the warm,
    plan-only cost; the build cost stays visible per spool and is added
    back into the headline total."""
    builds = {}
    for name, build in ARTIFACTS.items():
        builds[name] = profile.time_runs(f"spool.{name}", lambda: build(spark, sf_dir), 1)[0]
    return builds


def artifact_names(sf_dir: str, sf: float, cpus: int) -> tuple[str, str]:
    """(BENCH file, PROFILE file) names for this run.

    BENCH_full.json is DEFINED as the sf0.1 / 32-cpu capture (the
    committed artifact compared round over round). A run at
    another SF or core count writes a suffixed sibling instead of
    clobbering it (VERDICT r10 #3); canonical-ness is decided on the
    directory BASENAME, not a float compare (ADVICE r9)."""
    round_n = os.environ.get("SPARK_GRAFT_ROUND", "")
    canonical = os.path.basename(os.path.normpath(sf_dir)) == "sf0.1"
    suffix = f"full_r{round_n}" if round_n else ("full" if canonical else f"full_sf{sf}")
    if cpus != 32:
        suffix += f"_c{cpus}"
    if not round_n and (not canonical or cpus != 32):
        print(
            f"bench: non-canonical run (sf dir {sf_dir!r}, cpus {cpus}) -> "
            f"writing BENCH_{suffix}.json; BENCH_full.json left untouched",
            file=sys.stderr,
        )
    return f"BENCH_{suffix}.json", f"PROFILE_{suffix}.json"


def print_summary(timings: dict[str, float], total: dict, cpus: int, sf: float) -> None:
    """The per-query dict in chunks of at most ``CHUNK`` entries, then
    the compact total line LAST: whatever tail window of stdout
    survives holds complete chunks plus the total, and ``part``/``of``
    say what is missing."""
    names = sorted(timings)
    parts = [names[i : i + CHUNK] for i in range(0, len(names), CHUNK)]
    for i, part in enumerate(parts, 1):
        chunk = {"metric": "per_query_chunk", "part": i, "of": len(parts), "cpus": cpus, "sf": sf,
                 "queries": {k: timings[k] for k in part}}
        print(json.dumps(chunk), flush=True)
    print(json.dumps(total), flush=True)


def write_json(path: str, record: dict) -> None:
    try:
        with open(path, "w") as fh:
            json.dump(record, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: stdout still carries the headline


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    spark, profile = start_session("bench")
    try:
        run(spark, profile, sf_dir, sf)
    finally:
        profile.close()


def run(spark, profile: Profile, sf_dir: str, sf: float) -> None:
    cpus = spark.sparkContext.defaultParallelism
    # Whether the driver JVM mapped its class-data-sharing archive: a
    # capture without it pays a slower cold start.
    cds = cds_state()
    warm_up(spark, sf_dir, profile)
    steal0 = host_steal_s()
    spool_builds = build_spools(spark, sf_dir, profile)
    spool_total = round(sum(spool_builds.values()), 3)

    # Each query runs TWICE and the headline records the MIN: noise only
    # ever ADDS time, so min-of-2 is a consistent estimator of the
    # plan's cost; the max is kept alongside so a real regression (both
    # runs slow) stays visible. When the two runs disagree >2x the
    # entry gets a THIRD run and is listed in `noisy_entries_runs`
    # (VERDICT r8 #4): a burst on one of two runs still poisons the min.
    timings: dict[str, float] = {}
    timings_max: dict[str, float] = {}
    noisy_entries: dict[str, list[float]] = {}
    # Spool ROI ledger (VERDICT r10 #6): a query consumes an artifact
    # iff the artifact's hit count moved while the query ran.
    spool_consumers: dict[str, list[str]] = {sp: [] for sp in ARTIFACTS}

    def timed(name: str, thunk) -> None:
        hits0 = HITS.copy()
        runs = profile.time_runs(name, thunk, 2)
        if max(runs) > 2.0 * min(runs):
            runs += profile.time_runs(name, thunk, 1)
            noisy_entries[name] = runs
        timings[name] = min(runs)
        timings_max[name] = max(runs)
        for sp in HITS - hits0:
            spool_consumers[sp].append(name)

    names = sorted(QUERIES)
    for i, name in enumerate(names):
        timed(name, lambda: materialize(QUERIES[name](spark, sf_dir)))
        if i % 50 == 49:
            # A compact partial total every 50 queries: a killed run
            # still leaves parseable JSON saying how far it got, and
            # the steal so far.
            partial = {"metric": "partial_total_seconds", "done": i + 1, "of": len(names),
                       "value": round(sum(timings.values()), 3),
                       "steal_s": round(host_steal_s() - steal0, 3), "sf": sf}
            print(json.dumps(partial), flush=True)
        if i % 8 == 7:
            # ContextCleaner cleanup is GC-triggered; with a big heap the
            # JVM may not GC across the whole sweep, so shuffle and
            # broadcast state from finished queries accumulates in the
            # driver and drags later queries (measured 2x on the total).
            # An explicit collection every few queries, outside the
            # timed window, keeps the session tidy.
            spark.sparkContext._jvm.System.gc()

    # dashboard_serve above is the COLD number (recomputes the history
    # frame). The real dashboard caches the working set once (the
    # "process" click) and serves every interaction from memory.
    from manipula_o_de_dataframes_spark.plans.history import product_client_history  # noqa: PLC0415
    from manipula_o_de_dataframes_spark.queries import dashboard_page  # noqa: PLC0415

    # Building the frame runs jobs too (parquet schema inference).
    with profile.group("dashboard_cache"):
        hist = product_client_history(spark, sf_dir).cache()
        hist.count()
    timed("dashboard_serve_warm", lambda: materialize(dashboard_page(hist)))
    hist.unpersist()
    steal_total = round(host_steal_s() - steal0, 3)

    # spool_total is added back in FULL even though `minhash_sig8` also
    # serves the excluded near_dup_jaccard fixture (ADVICE r8): the
    # scale path pays the full build in any real session, and the
    # per-build breakdown is in `spool_build_seconds`.
    total = round(sum(v for k, v in timings.items() if k not in BASELINE_FIXTURES) + spool_total, 3)
    baseline_total = round(sum(timings.get(k, 0.0) for k in BASELINE_FIXTURES), 3)
    bench_name, profile_name = artifact_names(sf_dir, sf, cpus)
    write_json(os.path.join(_REPO_DIR, bench_name), {
        "metric": "per_query_wall_seconds",
        "unit": "sec",
        "cpus": cpus,
        "cds": cds,
        "spool_consumers": spool_consumers,
        "spool_consumer_serve_seconds": {
            sp: round(sum(timings[q] for q in qs), 3) for sp, qs in spool_consumers.items()
        },
        "queries": timings,
        "queries_max": timings_max,
        "noisy_entries_runs": noisy_entries,
        "spool_build_seconds": spool_builds,
        "steal_s": steal_total,
        "sf": sf,
    })

    spark.stop()  # flushes and closes the event log
    t0 = time.perf_counter()
    rows = profile.fold()
    write_json(os.path.join(_REPO_DIR, profile_name), {
        "sf": sf,
        "cpus": cpus,
        "steal_s": steal_total,
        "event_log_bytes": dir_bytes(profile.log_dir),
        "fold_seconds": round(time.perf_counter() - t0, 3),
        "rows": rows,
    })

    print_summary(timings, {
        "metric": "total_query_wall_seconds",
        "value": total,
        "unit": "sec",
        "sf": sf,
        "cpus": cpus,
        "cds": cds,
        "n_queries": sum(1 for k in timings if k not in BASELINE_FIXTURES),
        "runs_per_query": 2,
        "agg": "min",
        "baseline_fixtures_seconds": baseline_total,
        "spool_build_seconds": spool_total,
        "n_noisy_entries": len(noisy_entries),
        "steal_s": steal_total,
    }, cpus, sf)


if __name__ == "__main__":
    main()
