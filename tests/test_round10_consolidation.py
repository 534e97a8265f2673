"""Round-10 consolidation invariants.

1. ADVICE r9: `_component_roots` gained (a) a checkpoint of the
   oriented/distinct edge view before the gate (no double evaluation
   on the local path, no pure-overhead full count on the star path —
   the gate is a bounded limit(bound+1) probe), (b) an Arrow-path
   roots build (pandas frame, not a pickled tuple list), and (c) the
   `SPARK_GRAFT_CC_FORCE_STAR` env escape so oracle-verified runs can
   keep the star contraction and its loud edge-consistency post-check
   exercised even though real post-LSH graphs fit the local bound.
   The flag must flip the PATH without changing a single label.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from manipula_o_de_dataframes_spark.operators import dedup as dd
from manipula_o_de_dataframes_spark.operators.dedup import _component_roots

_ROWS = [
    (0, "the quick brown fox jumps over the lazy dog again and again ok"),
    (1, "the quick brown fox jumps over the lazy dog again and again yes"),
    (2, "the quick brown fox jumps over the lazy dog again and again yes sir"),
    (3, "completely different text about spark catalyst optimizer internals here"),
    (4, "another unrelated document mentioning parquet row groups and arrow"),
    (5, "final text on union find connected components and lsh banding"),
]


def test_force_star_env_flips_path_not_labels(spark, monkeypatch):
    """SPARK_GRAFT_CC_FORCE_STAR routes _component_roots to the star
    path at any edge count; labels stay bit-identical to the local
    path (union-by-min == star fixed point)."""
    e = spark.createDataFrame(
        [(3, 1), (5, 3), (9, 8)], "a bigint, b bigint"
    )
    monkeypatch.delenv("SPARK_GRAFT_CC_FORCE_STAR", raising=False)
    local, used_local, _ = _component_roots(e, 50, 10**6)
    assert used_local
    monkeypatch.setenv("SPARK_GRAFT_CC_FORCE_STAR", "1")
    star, used_local2, e_base = _component_roots(e, 50, 10**6)
    assert not used_local2 and e_base is not None
    lm = {r["a"]: r["__root"] for r in local.collect()}
    sm = {r["a"]: r["__root"] for r in star.collect()}
    assert all(lm[k] == v for k, v in sm.items()), (lm, sm)
    assert all(v == k for k, v in lm.items() if k not in sm), (lm, sm)


def test_force_star_env_runs_loud_check_in_dedup_clusters(spark, monkeypatch):
    """Under the flag, dedup_clusters takes the star path end-to-end —
    including the edge-consistency post-check — and returns the same
    clusters the default local path produces."""
    df = spark.createDataFrame(_ROWS, "doc_id bigint, text string")
    monkeypatch.delenv("SPARK_GRAFT_CC_FORCE_STAR", raising=False)
    base = {
        (r["doc_id"], r["cluster"])
        for r in dd.dedup_clusters(df, "text", "doc_id", jaccard_threshold=0.3).collect()
    }
    monkeypatch.setenv("SPARK_GRAFT_CC_FORCE_STAR", "1")
    forced = {
        (r["doc_id"], r["cluster"])
        for r in dd.dedup_clusters(df, "text", "doc_id", jaccard_threshold=0.3).collect()
    }
    assert base == forced
    assert (2, 0) in forced, forced


def test_component_roots_empty_and_string_ids(spark):
    """The Arrow roots build handles the empty edge set (schema-only
    frame) and non-numeric id types (string ids ride the same pandas
    path)."""
    empty = spark.createDataFrame([], "a bigint, b bigint")
    roots, used_local, _ = _component_roots(empty, 50, 10**6)
    assert used_local and roots.count() == 0
    e = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("z", "y")], "a string, b string"
    )
    roots, used_local, _ = _component_roots(e, 50, 10**6)
    assert used_local
    m = {r["a"]: r["__root"] for r in roots.collect()}
    assert m == {"a": "a", "b": "a", "c": "a", "y": "y", "z": "y"}


def test_dedup_clusters_one_feature_scan(spark, tmp_path, monkeypatch):
    """Structural pin of the r10 one-scan edge build (SURVEY 6.20):
    dedup_clusters materializes exactly ONE spool — the (id, __sh,
    mh*) feature frame — whose plan scans the source exactly once and
    carries all the md5 work; every downstream stage (banding, verify,
    CC, labels) reads the spool, so no plan after the spool boundary
    re-hashes text. The r9 shape evaluated the shingle+md5 subtree ~4x
    per edge build; this pin fails if banding or the verify ever
    reacquires the text column instead of the spooled features."""
    import manipula_o_de_dataframes_spark.operators.dedup as dd

    src = str(tmp_path / "docs")
    spark.createDataFrame(_ROWS, "doc_id bigint, text string").write.parquet(src)
    docs = spark.read.parquet(src)

    spooled = []
    real_spool = dd._spool

    def counting_spool(df):
        spooled.append(df)
        return real_spool(df)

    monkeypatch.setattr(dd, "_spool", counting_spool)
    edge_frames = []
    real_cr = dd._component_roots

    def capturing_cr(e, max_iter, bound):
        edge_frames.append(e)
        return real_cr(e, max_iter, bound)

    monkeypatch.setattr(dd, "_component_roots", capturing_cr)
    labels = dd.dedup_clusters(docs, "text", "doc_id", jaccard_threshold=0.3)
    assert len(spooled) == 1, "edge build must materialize exactly one spool"
    # The edge subtree (banding + Jaccard verify + orientation) must
    # read ONLY the spooled features: no md5 (banding would need it to
    # recompute signatures) and no concat_ws (the shingle expression's
    # signature op — a verify that re-shingles text reintroduces it).
    edge_plan = edge_frames[0]._jdf.queryExecution().executedPlan().toString()
    assert "md5" not in edge_plan, edge_plan
    assert "concat_ws" not in edge_plan, edge_plan
    feat_plan = spooled[0]._jdf.queryExecution().executedPlan().toString()
    assert feat_plan.count("Scan parquet") == 1, feat_plan
    assert "md5" in feat_plan, "the one spool must carry the hashing work"
    # downstream of the spool: labels plan re-reads the source only for
    # the id column (singleton labeling) and never re-hashes text
    labels_plan = labels._jdf.queryExecution().executedPlan().toString()
    assert "md5" not in labels_plan, labels_plan
    # and the result is still right on this fixture (docs 0/1/2 cluster)
    got = {(r["doc_id"], r["cluster"]) for r in labels.collect()}
    assert {(0, 0), (1, 0), (2, 0)} <= got, got


def test_bench_report_tail_is_generated_from_artifact(tmp_path):
    """VERDICT r9 #2: the >5 s tail sentence must come FROM the
    artifact. Entries over 5 s are listed slowest-first with their
    pricing tag; an entry without a tag renders UNPRICED (a loud
    close-gate flag); an artifact with no >5 s entry says so."""
    import json
    import sys

    sys.path.insert(0, "tools")
    import bench_report

    art = {
        "queries": {
            "corpus_pipeline": 6.1,
            "mystery_query": 7.7,
            "fast_one": 0.2,
            "near_dup_jaccard": 9.9,  # baseline fixture: excluded
        },
        "spool_build_seconds": {"s": 1.0},
        "sf": 0.1,
    }
    p = tmp_path / "b.json"
    p.write_text(json.dumps(art))
    out = bench_report.report(str(p))
    lines = out.splitlines()
    assert ">5 s tail (2 entries):" in lines[1]
    assert lines[2].startswith("  mystery_query 7.70 s — UNPRICED")
    assert lines[3].startswith("  corpus_pipeline 6.10 s — composed 7-stage")
    assert "near_dup_jaccard" not in out

    art["queries"] = {"fast_one": 0.2}
    p.write_text(json.dumps(art))
    assert bench_report.report(str(p)).splitlines()[1] == ">5 s tail: none"


def test_capture_compare_reports_1p4x_regressions(tmp_path, capsys):
    """VERDICT r9 #1: cross-ROUND regressions at 1.4–2x must surface
    even when they stay inside the 2x noise band."""
    import json
    import subprocess
    import sys

    a = {"queries": {"q1": 1.0, "q2": 1.0, "q3": 0.1, "q4": 1.0}}
    b = {"queries": {"q1": 1.6, "q2": 2.5, "q3": 0.2, "q4": 0.9}}
    pa_, pb = tmp_path / "a.json", tmp_path / "b.json"
    pa_.write_text(json.dumps(a))
    pb.write_text(json.dumps(b))
    r = subprocess.run(
        [sys.executable, "tools/capture_compare.py", str(pa_), str(pb)],
        capture_output=True,
        text=True,
        check=True,
    )
    assert "regressions_1p4x=2" in r.stdout  # q1 (1.6x) and q2 (2.5x)
    assert "outside_2x_band=1" in r.stdout  # only q2; q3 is sub-0.5s
    assert "1.4x q2: 1.0 -> 2.5 (2.50x)" in r.stdout
    assert "1.4x q1: 1.0 -> 1.6 (1.60x)" in r.stdout
    # spool builds get the same 1.4x band (r10: they are part of the
    # headline total but were invisible to this diff)
    a["spool_build_seconds"] = {"s1": 2.0, "s2": 1.0}
    b["spool_build_seconds"] = {"s1": 1.0, "s2": 1.9}
    pa_.write_text(json.dumps(a))
    pb.write_text(json.dumps(b))
    r = subprocess.run(
        [sys.executable, "tools/capture_compare.py", str(pa_), str(pb)],
        capture_output=True,
        text=True,
        check=True,
    )
    assert "spools common=2 sum_a=3.0 sum_b=2.9 regressions_1p4x=1" in r.stdout
    assert "1.4x spool s2: 1.0 -> 1.9 (1.90x)" in r.stdout
