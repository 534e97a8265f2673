"""Benchmark harness — runs the engine's query surface and prints ONE JSON line.

Usage: python bench.py
Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the usable core count).

Each query is fully materialized via the noop sink (no driver collect),
timed after a small warm-up that pays JVM/codegen startup once.
"""

from __future__ import annotations

import json
import os
import sys
import time

_REPO_DIR = os.path.dirname(os.path.abspath(__file__))
if _REPO_DIR not in sys.path:
    sys.path.insert(0, _REPO_DIR)

from manipula_o_de_dataframes_spark.operators.spool import ARTIFACTS, HITS  # noqa: E402
from manipula_o_de_dataframes_spark.queries import QUERIES  # noqa: E402
from manipula_o_de_dataframes_spark.session import get_spark  # noqa: E402


def materialize(df) -> None:
    df.write.mode("overwrite").format("noop").save()


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else -1.0
    # Carried in every artifact/line: the r10 close proved an 8-core run
    # silently clobbers the canonical 32-core BENCH_full.json when the
    # artifact carries no cpu identity (VERDICT r10 #3) — the next
    # round's comparison then starts from the wrong file.
    spark = get_spark("bench")
    cpus = spark.sparkContext.defaultParallelism
    spark.sparkContext.setLogLevel("ERROR")

    # warm-up: JVM, codegen, parquet footer caches, and the Python worker
    # daemons used by mapInPandas (small SF, not timed)
    materialize(QUERIES["abc_classification"](spark, "/root/testdata/sf0.001"))
    materialize(QUERIES["multimodal_features"](spark, "/root/testdata/sf0.001"))

    # Session-memoized spools are built HERE, each charged to its own
    # line item, BEFORE the timed sweep (VERDICT r7 #2): previously the
    # first family query to run in a session silently paid the shared
    # build (the incremental_dedup 2.8→9.1→3.9 s round-over-round flap
    # was exactly this accounting, not a plan change). With the builds
    # fronted, every per-query number below is the warm, plan-only cost
    # and is reproducible across runs; the build cost stays visible in
    # `spool_build_seconds` and is added back into the headline total so
    # round-over-round totals remain apples-to-apples.
    spool_builds: dict[str, float] = {}

    def build_spool(name: str, thunk) -> None:
        t0 = time.perf_counter()
        thunk()
        spool_builds[name] = round(time.perf_counter() - t0, 3)

    # Machine-load probe: a FIXED synthetic workload (range-sum — no
    # repo code, no I/O) timed before and after the sweep. The two
    # permissive-fixture covariate proved blind to co-tenant bursts
    # (r8: untouched queries swung 17× inside one sweep while the
    # fixtures moved <4%), so the artifact now carries a code-
    # independent load reading at both ends; a large start/end spread
    # or a high absolute value marks the capture as load-contaminated.
    def machine_probe() -> float:
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            spark.range(0, 50_000_000, 1, 16).selectExpr(
                "sum(id * 3 % 7)"
            ).collect()
            runs.append(time.perf_counter() - t0)
        return round(min(runs), 3)

    # I/O probe: fixed parquet write+read. The r10 close proved the
    # CPU probe alone is blind to the contention that actually hurts
    # this workload — capture 4 ran 25% slow with spool builds at
    # 3.5× while every CPU reading was 0.11–0.15 s clean; the
    # co-tenant pressure was on the disk, which spool writes, shuffle
    # spills, and parquet scans all share. One small write+read per
    # reading prices exactly that resource.
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    def io_probe() -> float:
        d = tempfile.mkdtemp(prefix="bench_io_probe_")
        try:
            t0 = time.perf_counter()
            p = os.path.join(d, "p")
            spark.range(0, 2_000_000, 1, 8).write.mode("overwrite").parquet(p)
            spark.read.parquet(p).selectExpr("sum(id)").collect()
            return round(time.perf_counter() - t0, 3)
        finally:
            shutil.rmtree(d, ignore_errors=True)

    probe_start = machine_probe()
    io_probe_start = io_probe()
    probe_timeline: list[list] = []

    for name, build in ARTIFACTS.items():
        build_spool(name, lambda: build(spark, sf_dir))
    spool_total = round(sum(spool_builds.values()), 3)

    # Each query runs TWICE and the headline records the MIN: the bench
    # shares the machine with the driver's other work, and r2/r3 showed
    # ±2–3× per-query swings (sales_cube 1.75→4.78 s with an unchanged
    # plan). Noise only ever ADDS time, so min-of-2 is a consistent
    # estimator of the plan's cost; the max is kept alongside so a real
    # regression (both runs slow) is still visible in the record.
    # When the two runs disagree >2× the entry gets a THIRD run
    # (min-of-3) and is listed in `noisy_entries` (VERDICT r8 #4):
    # a co-tenant burst that lands on exactly one of two runs still
    # poisons the min, and r8's back-to-back captures showed 17/335
    # entries outside the 2× band for exactly that reason. The third
    # run is bounded extra cost (only flagged outliers pay it).
    timings: dict[str, float] = {}
    timings_max: dict[str, float] = {}
    noisy_entries: dict[str, list[float]] = {}
    # Spool ROI ledger (VERDICT r10 #6): a query consumes an artifact
    # iff the artifact's hit count moved while the query ran.
    spool_consumers: dict[str, list[str]] = {sp: [] for sp in ARTIFACTS}

    def timed(name: str, thunk) -> None:
        hits0 = HITS.copy()
        runs = []
        for _ in range(2):
            t0 = time.perf_counter()
            thunk()
            runs.append(time.perf_counter() - t0)
        if max(runs) > 2.0 * min(runs):
            t0 = time.perf_counter()
            thunk()
            runs.append(time.perf_counter() - t0)
            noisy_entries[name] = [round(r, 3) for r in runs]
        timings[name] = round(min(runs), 3)
        timings_max[name] = round(max(runs), 3)
        for sp in HITS - hits0:
            spool_consumers[sp].append(name)

    names = sorted(QUERIES)
    for i, name in enumerate(names):
        timed(name, lambda: materialize(QUERIES[name](spark, sf_dir)))
        if i % 50 == 49:
            # Safety net for tail capture: with ~270 queries the sweep
            # runs minutes, and a killed run would otherwise leave NO
            # structured line. A compact partial-total every 50 queries
            # means the captured tail always ends in parseable JSON
            # stating exactly how far the sweep got.
            # The probe reading beside it is the mid-sweep load
            # timeline: the start/end probes proved blind to bursts
            # that arrive and decay INSIDE the sweep (r10 close: two
            # back-to-back captures each carried a different ~60 s
            # burst window — ivf_* 5–12× in one, order_*/holt_* in the
            # other — while both end probes read clean). A probe every
            # 50 queries brackets any burst to a window the
            # noise protocol can name, for ~0.5 s untimed cost each.
            probe_timeline.append([i + 1, machine_probe(), io_probe()])
            print(
                json.dumps(
                    {
                        "metric": "partial_total_seconds",
                        "done": i + 1,
                        "of": len(names),
                        "value": round(sum(timings.values()), 3),
                        "probe": probe_timeline[-1][1],
                        "io_probe": probe_timeline[-1][2],
                        "sf": sf,
                    }
                ),
                flush=True,
            )
        if i % 8 == 7:
            # ContextCleaner cleanup is GC-triggered; with a 16g heap
            # the JVM may not GC across the whole sweep, so shuffle /
            # broadcast state from ~90 finished queries accumulates in
            # the driver and drags later queries (measured 2× on the
            # total, up to 8× on late queries). An explicit collection
            # every few queries keeps the session tidy; the cost is
            # milliseconds and is paid OUTSIDE the timed window.
            spark.sparkContext._jvm.System.gc()

    # dashboard_serve above is the COLD number (recomputes the history
    # frame). The real dashboard caches the working set once (Q5
    # posture) and serves every interaction from memory — time that too
    # so round-over-round regressions are attributable to the right
    # layer (history build vs serve plan).
    from manipula_o_de_dataframes_spark.plans.history import product_client_history  # noqa: E402,PLC0415
    from manipula_o_de_dataframes_spark.queries import dashboard_page  # noqa: E402,PLC0415

    hist = product_client_history(spark, sf_dir).cache()
    try:
        hist.count()  # materialize the working set (the "process" click)
        timed("dashboard_serve_warm", lambda: materialize(dashboard_page(hist)))
    finally:
        hist.unpersist()

    # Deliberate permissive/exact contrast fixtures (each sits beside a
    # scale-safe twin: banded LSH / sign-bucket blocking). They stay
    # oracle-checked, but the HEADLINE total tracks the scale-path plans
    # only, so round-over-round perf compares the plans you'd actually
    # run at 100 TB (VERDICT r2 #6).
    probe_end = machine_probe()
    io_probe_end = io_probe()
    baseline_fixtures = {"near_dup_jaccard", "embedding_near_dup"}
    # Attribution note (ADVICE r8): spool_total is added back in FULL even
    # though one build (`minhash_sig8`, the largest) also serves the
    # excluded near_dup_jaccard fixture — at most its build cost is
    # double-counted against the scale path. Kept whole deliberately:
    # splitting a shared build by consumer would make the headline depend
    # on which fixtures happen to share a spool, and the scale path DOES
    # pay the full build in any real session. The per-build breakdown is
    # in `spool_build_seconds` for anyone re-attributing.
    total = round(
        sum(v for k, v in timings.items() if k not in baseline_fixtures)
        + spool_total,
        3,
    )
    baseline_total = round(sum(timings.get(k, 0.0) for k in baseline_fixtures), 3)
    # The driver's tail-capture preserves only the last ~120 queries of
    # the fat per-query line, so round-over-round comparison was sampling
    # whatever survived truncation. Persist the FULL dict as a repo
    # artifact so the next round can diff all queries (VERDICT r5 #5).
    round_n = os.environ.get("SPARK_GRAFT_ROUND", "")
    # BENCH_full.json is DEFINED as the sf0.1 capture (the committed
    # artifact the judge diffs round-over-round); a debug run at another
    # SF must not clobber it, so off-sf0.1 runs write an sf-suffixed
    # sibling instead. Canonical-ness is decided on the directory
    # BASENAME, not a float compare on the parsed sf — "sf0.10" or a
    # path whose last "sf" substring isn't the scale token must not
    # silently leave BENCH_full.json stale (ADVICE r9), so the skip is
    # announced.
    canonical = os.path.basename(os.path.normpath(sf_dir)) == "sf0.1"
    base = (
        f"BENCH_full_r{round_n}.json"
        if round_n
        else ("BENCH_full.json" if canonical else f"BENCH_full_sf{sf}.json")
    )
    # Same identity rule for the core count: BENCH_full.json is DEFINED
    # as the sf0.1 / 32-cpu capture. The driver also runs the bench at a
    # lower core count to measure scaling, and the r10 close showed that
    # run overwriting the canonical artifact (VERDICT r10 #3) — suffix
    # it instead, mirroring the sf-suffix rule above.
    if cpus != 32:
        base = base[: -len(".json")] + f"_c{cpus}.json"
    if not round_n and (not canonical or cpus != 32):
        print(
            f"bench: non-canonical run (sf dir {sf_dir!r}, cpus {cpus}) -> "
            f"writing {base}; BENCH_full.json left untouched",
            file=sys.stderr,
        )
    full_path = os.path.join(_REPO_DIR, base)
    full_record = {
        "metric": "per_query_wall_seconds",
        "unit": "sec",
        "cpus": cpus,
        "spool_consumers": spool_consumers,
        "spool_consumer_serve_seconds": {
            sp: round(sum(timings[q] for q in qs), 3)
            for sp, qs in spool_consumers.items()
        },
        "queries": timings,
        "queries_max": timings_max,
        "noisy_entries_runs": noisy_entries,
        "spool_build_seconds": spool_builds,
        "machine_probe_seconds": [probe_start, probe_end],
        "machine_io_probe_seconds": [io_probe_start, io_probe_end],
        "machine_probe_timeline": probe_timeline,
        "sf": sf,
    }
    try:
        with open(full_path, "w") as fh:
            json.dump(full_record, fh, indent=1, sort_keys=True)
            fh.write("\n")
    except OSError:
        pass  # read-only checkout: the stdout line below still carries the dict
    # The driver tail-captures output, so the big per-query dict goes on an
    # EARLIER line and the LAST line stays compact enough that the headline
    # total always survives truncation (r2's single fat line lost its head).
    print(json.dumps(full_record))
    # The single fat line above exceeds the driver's tail-capture window,
    # so PERF's per-query comparison came back empty two rounds running
    # (VERDICT r10 #4). Re-emit the per-query dict in <=120-entry chunks,
    # each its own parseable JSON line, AFTER the fat line and BEFORE the
    # compact total: whatever tail window survives always holds complete
    # chunks (plus the total), and `part`/`of` say what is missing.
    chunk_names = sorted(timings)
    chunk_size = 120
    n_chunks = (len(chunk_names) + chunk_size - 1) // chunk_size
    for ci in range(n_chunks):
        part = chunk_names[ci * chunk_size : (ci + 1) * chunk_size]
        print(
            json.dumps(
                {
                    "metric": "per_query_chunk",
                    "part": ci + 1,
                    "of": n_chunks,
                    "cpus": cpus,
                    "sf": sf,
                    "queries": {k: timings[k] for k in part},
                }
            ),
            flush=True,
        )
    print(
        json.dumps(
            {
                "metric": "total_query_wall_seconds",
                "value": total,
                "unit": "sec",
                "sf": sf,
                "cpus": cpus,
                "n_queries": sum(1 for k in timings if k not in baseline_fixtures),
                "runs_per_query": 2,
                "agg": "min",
                "baseline_fixtures_seconds": baseline_total,
                "spool_build_seconds": spool_total,
                "n_noisy_entries": len(noisy_entries),
                "machine_probe_seconds": [probe_start, probe_end],
            }
        )
    )


if __name__ == "__main__":
    main()
