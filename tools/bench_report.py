"""Render the SURVEY §6 close-gate row FROM the committed bench artifact.

VERDICT r8 #3: the builder's SURVEY headline drifted from the committed
`BENCH_full.json` twice (r7: 314 vs 433 s; r8: 399.0 vs 415.7 s) because
the row was typed next to the artifact instead of generated from it.
This script IS the generator: it recomputes the headline total with the
exact accounting bench.py uses (sum of per-query mins excluding the two
permissive contrast fixtures, plus the spool-build total) and prints a
paste-ready SURVEY line. With the PROFILE file bench.py writes beside
the artifact, it also prints the sweep's host steal and the 20 queries
with the most Spark stages per run. The SURVEY close row must
byte-match:

    python tools/bench_report.py BENCH_full.json
"""

from __future__ import annotations

import json
import os
import sys

BASELINE_FIXTURES = ("near_dup_jaccard", "embedding_near_dup")

# Pricing tags for entries that may cross the 5 s line: WHY each one is
# allowed to be slow, with the SURVEY section that prices it. VERDICT
# r9 #2: §6.19 claimed a two-entry tail while the committed artifact
# held five — because the tail sentence was typed, not generated. Now
# the tail list below is printed FROM the artifact; an entry with no
# tag renders UNPRICED, which is a loud close-gate flag, never a
# silent omission.
TAIL_PRICING = {
    "stream_near_dup": "streaming trigger-latency floor + two-real-micro-batch "
    "admission screen (§6.16; banded candidates sub-linear at 10×)",
    "attribution_stream_wm": "streaming first-start floor, watermark state "
    "bounded (flat at 10×, §6.16)",
    "stream_dedup": "streaming trigger-latency floor (§6.16)",
    "corpus_pipeline": "composed 7-stage corpus build, priced by design "
    "(§6.19; CC stage takes the local path post-r9)",
    "triangle_counts": "exact ~36M-wedge count, degree-oriented "
    "Suri–Vassilvitskii; edge-iterator alternative measured SLOWER and "
    "rejected (§6.19); HyperBall sketch twin ~0.6 s",
    "half_sample_ci": "×16 deterministic replicate fan-out, "
    "per-(segment,replicate) windows — the one data-proportional member "
    "of its family (3.7× at 10×, §6.12)",
    "banding_recall_audit": "two-config banded recall audit over the "
    "shared signature shelf (§6.18 rewrite; pair volume sub-linear)",
}


def report(path: str) -> str:
    with open(path) as fh:
        art = json.load(fh)
    q = art["queries"]
    spools = art.get("spool_build_seconds", {})
    spool_total = round(sum(spools.values()), 1)
    scale_path = round(
        sum(v for k, v in q.items() if k not in BASELINE_FIXTURES), 1
    )
    total = round(scale_path + spool_total, 1)
    fixtures = round(sum(q.get(k, 0.0) for k in BASELINE_FIXTURES), 2)
    prof = load_profile(path)
    steal_txt = f"steal {prof['steal_s']:.1f} s" if prof else "steal n/a (no profile)"
    noisy = art.get("noisy_entries_runs", {})
    noisy_txt = (
        f"{len(noisy)} min-of-3 entries ({', '.join(sorted(noisy))})"
        if noisy
        else "0 min-of-3 entries"
    )
    n = sum(1 for k in q if k not in BASELINE_FIXTURES)
    head = (
        f"{total} s = {scale_path} query + {spool_total} spool over "
        f"{n} scale-path queries at sf{art.get('sf')}; "
        f"baseline fixtures {fixtures} s; {steal_txt}; {noisy_txt}"
    )
    tail = sorted(
        ((k, v) for k, v in q.items() if k not in BASELINE_FIXTURES and v > 5.0),
        key=lambda kv: -kv[1],
    )
    lines = [head, f">5 s tail ({len(tail)} entries):" if tail else ">5 s tail: none"]
    for k, v in tail:
        lines.append(
            f"  {k} {v:.2f} s — {TAIL_PRICING.get(k, 'UNPRICED (close-gate flag: isolated re-time + price or rewrite)')}"
        )
    if prof:
        lines += stages_table(prof["rows"], q)
    return "\n".join(lines)


def load_profile(bench_path: str) -> dict | None:
    """The PROFILE file bench.py wrote beside ``bench_path``, if any."""
    d, name = os.path.split(bench_path)
    try:
        with open(os.path.join(d, "PROFILE_" + name.removeprefix("BENCH_"))) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return None


def stages_table(rows: dict, queries, top: int = 20) -> list[str]:
    """The ``top`` queries by Spark stages per timed run, from the
    profile's rows (each row sums the query's 2-3 runs)."""
    per_run = {
        k: {f: r[f] / r["runs"] for f in ("stages", "tasks", "jobs", "executor_cpu_s")}
        for k, r in rows.items() if k in queries and r["runs"]
    }
    ranked = sorted(per_run.items(), key=lambda kv: (-kv[1]["stages"], kv[0]))[:top]
    lines = [f"top {len(ranked)} queries by stages per run (stages, tasks, jobs, executor cpu s):"]
    for k, r in ranked:
        lines.append(
            f"  {k} {r['stages']:.0f} stages, {r['tasks']:.0f} tasks, "
            f"{r['jobs']:.0f} jobs, {r['executor_cpu_s']:.2f} cpu s"
        )
    return lines


if __name__ == "__main__":
    print(report(sys.argv[1] if len(sys.argv) > 1 else "BENCH_full.json"))
