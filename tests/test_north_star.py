"""Unit tests for the LLM-pipeline operators: dedup, similarity,
multimodal plumbing, text analytics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from manipula_o_de_dataframes_spark.functions.text import lang_id, token_count
from manipula_o_de_dataframes_spark.operators import multimodal as mm
from manipula_o_de_dataframes_spark.operators import similarity as sim
from manipula_o_de_dataframes_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    near_dup_pairs,
    shingles,
)


def test_exact_dedup_keeps_lowest_id(spark):
    df = spark.createDataFrame(
        [(3, "same text"), (1, "same text"), (2, "other")], "doc_id long, text string"
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(df, "text", "doc_id").collect())
    assert kept == [1, 2]


def test_shingles_short_text_fallback(spark):
    df = spark.createDataFrame([("a b",)], "text string")
    out = df.select(shingles("text").alias("sh")).collect()[0]["sh"]
    assert out == ["a b"]


def test_near_dup_finds_near_identical_docs(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    df = spark.createDataFrame(
        [(1, base), (2, base + " extra"), (3, "completely different words entirely here")],
        "doc_id long, text string",
    )
    pairs = near_dup_pairs(df, "text", "doc_id").collect()
    assert any(r["id_a"] == 1 and r["id_b"] == 2 for r in pairs)
    jac = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in jaccard_pairs(
            df, "text", "doc_id",
            near_dup_pairs(df, "text", "doc_id").select("id_a", "id_b", "n_agree"),
        ).collect()
    }
    assert jac[(1, 2)] > 0.8


def test_simhash_near_dup_finds_shifted_copy(spark):
    """A doc with one word changed stays within Hamming ≤ 3 of the
    original's shingle SimHash; an unrelated doc does not pair."""
    from manipula_o_de_dataframes_spark.operators.dedup import simhash_near_dup

    base = " ".join(f"word{i}" for i in range(60))
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " appended"),
            (3, "entirely unrelated content about database query optimization plans"),
        ],
        "doc_id long, text string",
    )
    pairs = {(r["id_a"], r["id_b"]) for r in
             simhash_near_dup(df, "text", "doc_id").collect()}
    assert (1, 2) in pairs
    assert not any(3 in p for p in pairs)


def test_dedup_clusters_merges_transitive_chain(spark):
    """A≈B and B≈C must land in ONE cluster labeled min(id) even if
    A and C are not direct near-dups — the transitivity that makes
    components, not pairs, the keep-one-per-group unit."""
    from manipula_o_de_dataframes_spark.operators.dedup import dedup_clusters

    words = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
             "kilo lima mike november oscar papa quebec romeo sierra tango").split()
    a = " ".join(words)
    b = " ".join(words[:16] + ["uniform", "victor", "whiskey", "xray"])
    c = " ".join(words[:12] + ["uniform", "victor", "whiskey", "xray",
                               "yankee", "zulu", "one", "two"])
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, c), (9, "separate island of completely different text here")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["cluster"] for r in
           dedup_clusters(df, "text", "doc_id", jaccard_threshold=0.3).collect()}
    assert out[1] == out[2] == out[3] == 1
    assert out[9] == 9


def test_banded_lsh_prunes_candidates(spark):
    """b×r banding with r=2 must admit far fewer candidate pairs than
    r=1 banding on the same corpus (VERDICT r1 #1): a band fires only
    when both hashes agree jointly, crushing low-similarity collisions."""
    from manipula_o_de_dataframes_spark.sources.io import read_table
    from tests.conftest import SF_CORRECT

    d = read_table(spark, SF_CORRECT, "documents").repartition(8)
    n_r1 = near_dup_pairs(d, "text", "doc_id", n_hashes=8, rows_per_band=1).count()
    n_r2 = near_dup_pairs(d, "text", "doc_id", n_hashes=8, rows_per_band=2).count()
    assert n_r2 < n_r1 / 2, f"banding did not prune: r1={n_r1} r2={n_r2}"


def test_containment_catches_subset_dup_jaccard_misses(spark):
    """A doc pasted verbatim inside a much larger one: containment 1.0
    while Jaccard sits far below any dedup bar — the pair class the
    containment detector exists for."""
    from manipula_o_de_dataframes_spark.operators.dedup import containment_pairs

    frag = "the quick brown fox jumps over the lazy dog near the river bank"
    filler = " ".join(f"filler{i} pad{i} word{i}" for i in range(20))
    df = spark.createDataFrame(
        [(1, frag), (2, frag + " " + filler), (3, "totally unrelated content here now")],
        "doc_id long, text string",
    )
    cands = df.sparkSession.createDataFrame(
        [(1, 2, 1), (1, 3, 0)], "id_a long, id_b long, n_agree long"
    )
    rows = {
        (r["id_a"], r["id_b"]): r
        for r in containment_pairs(df, "text", "doc_id", cands).collect()
    }
    sub = rows[(1, 2)]
    assert sub["containment"] == 1.0  # full subset, any size ratio
    assert sub["n_sh_a"] < sub["n_sh_b"]  # sizes expose which side is the fragment
    jac = jaccard_pairs(df, "text", "doc_id", cands).collect()
    j12 = next(r["jaccard"] for r in jac if r["id_a"] == 1 and r["id_b"] == 2)
    assert j12 < 0.25  # same pair is invisible to a Jaccard bar
    assert rows[(1, 3)]["containment"] < 0.2


def test_banded_candidates_keep_high_jaccard_pairs(spark):
    """The pairs banding is allowed to drop are the low-similarity ones;
    every r=1 candidate with exact Jaccard ≥ 0.5 must survive r=2."""
    from manipula_o_de_dataframes_spark.operators.dedup import jaccard_pairs
    from manipula_o_de_dataframes_spark.sources.io import read_table
    from tests.conftest import SF_CORRECT

    d = read_table(spark, SF_CORRECT, "documents").repartition(8)
    r1 = near_dup_pairs(d, "text", "doc_id", n_hashes=8, rows_per_band=1)
    high = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs(d, "text", "doc_id", r1).filter(F.col("jaccard") >= 0.5).collect()
    }
    r2 = {
        (r["id_a"], r["id_b"])
        for r in near_dup_pairs(d, "text", "doc_id", n_hashes=8, rows_per_band=2).collect()
    }
    assert high <= r2, f"banding dropped high-similarity pairs: {sorted(high - r2)[:5]}"


def test_blocked_near_dup_subset_of_exact_with_identical_scores(spark):
    """cosine_near_dup_blocked must return a subset of the exact
    all-pairs result, and matched pairs must carry bit-identical
    cos_sim (same scoring expression, pruned candidates)."""
    from manipula_o_de_dataframes_spark.sources.io import read_table
    from tests.conftest import SF_CORRECT

    e = read_table(spark, SF_CORRECT, "embeddings").select("vec_id", "embedding")
    exact = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in sim.cosine_near_dup_pairs(e, "embedding", "vec_id", 0.4).collect()
    }
    blocked = {
        (r["id_a"], r["id_b"]): r["cos_sim"]
        for r in sim.cosine_near_dup_blocked(e, "embedding", "vec_id", 0.4, n_bits=6).collect()
    }
    assert set(blocked) <= set(exact)
    assert all(blocked[k] == exact[k] for k in blocked)
    assert len(blocked) > 0


def test_cosine_self_similarity_is_one(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0, 3.0]), (1, [1.0, 2.0, 3.0]), (2, [-1.0, -2.0, -3.0])],
        "vec_id long, embedding array<float>",
    )
    out = {r["vec_id"]: r["cos_sim"] for r in
           sim.brute_force_topk(df, "embedding", "vec_id", 0, k=2).collect()}
    assert out[1] == pytest.approx(1.0)
    assert out[2] == pytest.approx(-1.0)


def test_sign_bucket_groups_same_orthant(spark):
    df = spark.createDataFrame(
        [(0, [1.0, -1.0, 1.0]), (1, [2.0, -0.5, 3.0]), (2, [-1.0, 1.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    out = sim.lsh_topk(df, "embedding", "vec_id", 0, k=5, n_bits=3).collect()
    assert [r["vec_id"] for r in out] == [1]  # vec 2 is in another bucket


def test_multimodal_decode_roundtrip(spark):
    df = spark.createDataFrame([(1, "hello world")], "doc_id long, text string")
    blobs = mm.as_blob_table(df, "doc_id", "text")
    feats = mm.decode_features(blobs).collect()[0]
    assert feats["n_bytes"] == 11
    assert feats["width"] == 11 and feats["height"] == 77
    assert blobs.schema["meta"].dataType.fieldNames() == ["n_bytes", "digest", "format"]


def test_multimodal_decode_real_is_explicit_stub(spark):
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with pytest.raises(NotImplementedError):
        mm.decode_real(mm.as_blob_table(df, "doc_id", "text"))


def test_frame_sample_plan_fanout(spark):
    df = spark.createDataFrame([(1, "x" * 35)], "doc_id long, text string")
    blobs = mm.as_blob_table(df, "doc_id", "text")
    frames = mm.frame_sample_plan(blobs, every_n=2).collect()
    # 35 bytes → 35 % 30 + 1 = 6 frames → sampled idx 0,2,4
    assert [r["frame_idx"] for r in frames] == [0, 2, 4]


def test_lang_id_and_tokens(spark):
    df = spark.createDataFrame(
        [("the cat and the dog",), ("el perro la casa de",), ("xyz qrs",)],
        "text string",
    )
    rows = df.select(lang_id("text").alias("l"), token_count("text").alias("n")).collect()
    assert [r["l"] for r in rows] == ["en", "es", "und"]
    assert rows[0]["n"] == 5


def test_pii_scrub_redacts_phones_and_id_runs(spark):
    """Every customer has a phone-shaped span; after the scrub no
    phone pattern or 7+-digit run survives and the count is right."""
    from tests.conftest import SF_SMOKE

    from manipula_o_de_dataframes_spark.queries import QUERIES

    out = QUERIES["pii_scrub"](spark, SF_SMOKE)
    bad = out.filter(
        F.col("contato_redigido").rlike("[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}")
        | F.col("contato_redigido").rlike("[0-9]{7,}")
    ).count()
    assert bad == 0
    rows = out.collect()
    assert rows and all(r["n_telefones"] == 1 for r in rows)
    assert all("[PHONE]" in r["contato_redigido"] for r in rows)


def test_pack_sequences_matches_greedy_cumsum(spark):
    """bin_id equals tokens-before-this-doc // 512 within each
    (lang, source) shard in doc_id order, recomputed independently."""
    from collections import defaultdict

    from tests.conftest import SF_SMOKE

    from manipula_o_de_dataframes_spark.queries import QUERIES

    rows = QUERIES["pack_sequences"](spark, SF_SMOKE).collect()
    assert rows
    by_shard = defaultdict(list)
    for r in rows:
        by_shard[(r["lang"], r["source"])].append(r)
    for shard in by_shard.values():
        shard.sort(key=lambda r: r["doc_id"])
        cum = 0
        for r in shard:
            assert r["bin_id"] == cum // 512, (r, cum)
            cum += r["n_tokens"]


def test_repetition_signals_on_crafted_docs(spark):
    """Invariants over fixture docs: dup_ratio ∈ [0,1]; the top bigram
    occupies between 1 and n−1 of the n−1 bigram slots; the reported
    fraction is exactly top_n/(n−1) rounded to 9 places (cross-engine
    exactness is the parity test's job)."""
    from tests.conftest import SF_SMOKE

    from manipula_o_de_dataframes_spark.queries import QUERIES

    rows = QUERIES["repetition_signals"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        if r["n_tokens"] is None:
            continue
        assert 0.0 <= r["dup_ratio"] <= 1.0
        if r["top_bigram_n"] is not None and r["n_tokens"] >= 2:
            assert 1 <= r["top_bigram_n"] <= r["n_tokens"] - 1
            assert abs(r["top_bigram_frac"] - round(r["top_bigram_n"] / (r["n_tokens"] - 1), 9)) < 1e-12


def test_fingerprint_invariant_under_permutation_and_repetition(spark):
    """The token-set fingerprint must collide for docs that differ only
    in word order or word repetition, and differ otherwise."""
    from manipula_o_de_dataframes_spark.functions.text import fingerprint

    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),
            (2, "gamma alpha beta"),
            (3, "alpha alpha beta beta gamma"),
            (4, "alpha beta delta"),
            (5, None),
        ],
        "doc_id long, text string",
    )
    fps = {r["doc_id"]: r["fp"] for r in df.select("doc_id", fingerprint("text").alias("fp")).collect()}
    assert fps[1] == fps[2] == fps[3]
    assert fps[4] != fps[1]
    assert fps[5] is None


def test_dedup_rate_by_source_bounds(spark):
    """Rates live in [0,1); fingerprint-distinct never exceeds
    exact-distinct (the fingerprint only merges classes)."""
    from tests.conftest import SF_SMOKE

    from manipula_o_de_dataframes_spark.queries import QUERIES

    rows = QUERIES["dedup_rate_by_source"](spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert 0 < r["n_exact_distintos"] <= r["n_docs"]
        assert r["n_fingerprint_distintos"] <= r["n_exact_distintos"]
        assert 0.0 <= r["taxa_dup_exata"] <= r["taxa_dup_fingerprint"] < 1.0


def test_temperature_mix_upweights_small_sources(spark, tmp_path):
    """Alpha=0.5 mixing invariants on a SKEWED corpus (the driver
    fixture is perfectly uniform, which would make every share
    assertion vacuous): quotas never exceed availability, and sampled
    share moves toward uniform relative to natural share — small
    sources gain, large sources shrink, which is the whole point of
    temperature sampling."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    # 1000/200/50 docs across three sources, fixture-shaped schema
    rows = [
        (i, f"doc {i} body", "en", src, 11)
        for i, src in enumerate(
            ["big"] * 1000 + ["mid"] * 200 + ["tiny"] * 50
        )
    ]
    sf_dir = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).coalesce(1).write.parquet(f"{sf_dir}/documents.parquet")

    natural = {"big": 1000, "mid": 200, "tiny": 50}
    total = sum(natural.values())
    out = QUERIES["temperature_mix"](spark, sf_dir)
    sampled = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    n_sampled = sum(sampled.values())
    assert 0 < n_sampled <= total // 2
    for src, n in natural.items():
        assert sampled.get(src, 0) <= n
    # share moves toward uniform: strictly up for the small sources,
    # strictly down for the dominant one
    for src in ("mid", "tiny"):
        assert sampled[src] / n_sampled > natural[src] / total, src
    assert sampled["big"] / n_sampled < natural["big"] / total


def test_scd2_versions_are_contiguous_and_single_current(spark):
    """SCD2 contract: per key, exactly one current row, and version
    intervals chain without gaps (closed row's end = opened row's
    start)."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    from .conftest import SF_SMOKE

    out = QUERIES["scd2_dim"](spark, SF_SMOKE)
    per_key = out.groupBy("cliente").agg(
        F.sum(F.col("atual").cast("int")).alias("n_current"),
        F.count(F.lit(1)).alias("n_versions"),
        F.max(F.when(~F.col("atual"), F.col("vigente_ate"))).alias("closed_end"),
        F.min(F.when(F.col("atual"), F.col("vigente_de"))).alias("open_start"),
    )
    assert per_key.filter(F.col("n_current") != 1).count() == 0
    chained = per_key.filter(
        (F.col("n_versions") == 2) & (F.col("closed_end") != F.col("open_start"))
    )
    assert chained.count() == 0


def test_dedup_clusters_all_singletons_and_two_islands(spark):
    """Star-contraction edge cases: a corpus with NO verified edges
    must yield all-singleton clusters (the empty-edge fixpoint is
    reached on the first signature repeat), and two disjoint dup pairs
    must stay separate components labeled by their own minima."""
    from manipula_o_de_dataframes_spark.operators.dedup import dedup_clusters

    uniq = spark.createDataFrame(
        [(i, f"totally distinct document number {i} with words w{i}a w{i}b w{i}c w{i}d")
         for i in range(1, 8)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["cluster"] for r in
           dedup_clusters(uniq, "text", "doc_id").collect()}
    assert out == {i: i for i in range(1, 8)}

    t1 = "alpha bravo charlie delta echo foxtrot golf hotel"
    t2 = "nine eight seven six five four three two one zero"
    two = spark.createDataFrame(
        [(10, t1), (11, t1), (20, t2), (21, t2)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["cluster"] for r in
           dedup_clusters(two, "text", "doc_id").collect()}
    assert out == {10: 10, 11: 10, 20: 20, 21: 20}


def test_strip_repeated_blocks_removes_repeats_keeps_order(spark):
    """A doc whose 10-token block repeats must shrink to the first
    occurrence with original order preserved; a doc with all-distinct
    blocks passes through untouched (clipped tail block included)."""
    from manipula_o_de_dataframes_spark.queries import q_strip_repeated_blocks
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os, tempfile

    hdr = " ".join(f"h{i}" for i in range(10))      # the repeated block
    body = " ".join(f"b{i}" for i in range(10))
    tail = "t0 t1 t2"                                # clipped last block
    doc1 = " ".join([hdr, body, hdr, tail])          # hdr repeats at idx 2
    doc2 = " ".join([body, tail])
    tmp = tempfile.mkdtemp()
    pq.write_table(
        pa.table({"doc_id": pa.array([1, 2], pa.int64()),
                  "text": pa.array([doc1, doc2], pa.string()),
                  "lang": pa.array(["en", "en"]),
                  "source": pa.array(["s", "s"]),
                  "n_chars": pa.array([len(doc1), len(doc2)], pa.int64())}),
        os.path.join(tmp, "documents.parquet"),
    )
    out = {r["doc_id"]: r for r in q_strip_repeated_blocks(spark, tmp).collect()}
    assert out[1]["n_blocks"] == 4 and out[1]["n_kept"] == 3
    assert out[1]["texto_limpo"] == " ".join([hdr, body, tail])
    assert out[2]["n_blocks"] == 2 and out[2]["n_kept"] == 2
    assert out[2]["texto_limpo"] == doc2


def _write_docs(tmp, texts):
    import pyarrow as pa
    import pyarrow.parquet as pq
    import os

    pq.write_table(
        pa.table({
            "doc_id": pa.array(list(range(1, len(texts) + 1)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["en"] * len(texts)),
            "source": pa.array(["s"] * len(texts)),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }),
        os.path.join(tmp, "documents.parquet"),
    )


def test_cross_doc_block_dedup_keeps_corpus_first_occurrence(spark):
    """A block shared by two docs survives only in the lower doc_id;
    a doc made ENTIRELY of previously seen blocks still emits a row
    with n_kept = 0 and empty text (the flag, not a filter, decides)."""
    from manipula_o_de_dataframes_spark.queries import q_cross_doc_block_dedup
    import tempfile

    hdr = " ".join(f"h{i}" for i in range(10))   # shared boilerplate
    body = " ".join(f"b{i}" for i in range(10))
    doc1 = " ".join([hdr, body])
    doc2 = " ".join([hdr, "x0 x1 x2"])           # hdr duplicated from doc1
    doc3 = hdr                                    # nothing original at all
    tmp = tempfile.mkdtemp()
    _write_docs(tmp, [doc1, doc2, doc3])
    out = {r["doc_id"]: r for r in q_cross_doc_block_dedup(spark, tmp).collect()}
    assert out[1]["n_kept"] == 2 and out[1]["texto_limpo"] == doc1
    assert out[2]["n_kept"] == 1 and out[2]["texto_limpo"] == "x0 x1 x2"
    assert out[3]["n_kept"] == 0 and out[3]["texto_limpo"] == ""


def test_semantic_dedup_drops_only_lower_id_neighbors(spark):
    """Every vector appears exactly once; within a cell a vector with a
    high-cosine LOWER-id neighbor is dropped while the exemplar (the
    lowest id of the near-dup set) survives, and the kept count can
    never exceed the vector count."""
    from manipula_o_de_dataframes_spark.queries import q_semantic_dedup
    from .conftest import SF_SMOKE

    rows = q_semantic_dedup(spark, SF_SMOKE).collect()
    by_id = {r["vec_id"]: r for r in rows}
    assert len(by_id) == len(rows)  # one row per vector
    kept = [r for r in rows if r["kept"] == 1]
    assert 0 < len(kept) <= len(rows)
    # the minimum vec_id of every cell is definitionally kept (it has
    # no lower-id neighbor to lose to)
    min_per_cell: dict[int, int] = {}
    for r in rows:
        if r["cell"] not in min_per_cell or r["vec_id"] < min_per_cell[r["cell"]]:
            min_per_cell[r["cell"]] = r["vec_id"]
    for cell, vid in min_per_cell.items():
        assert by_id[vid]["kept"] == 1, f"cell {cell} exemplar {vid} was dropped"


def test_countmin_estimate_never_undercounts(spark):
    """The CMS invariant: estimate >= exact count for every probed gram
    (bucket sums only ever ADD mass), overcount is the difference, and
    exactly the top-20 grams are reported."""
    from manipula_o_de_dataframes_spark.queries import q_countmin_heavy_hitters
    from .conftest import SF_SMOKE

    rows = q_countmin_heavy_hitters(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["cms_n"] >= r["exact_n"], r
        assert r["overcount"] == r["cms_n"] - r["exact_n"]


def test_pmi_lift_containment_invariants(spark):
    """Unigram counts bound bigram counts (every occurrence of 'w1 w2'
    is an occurrence of w1 and of w2), support floor holds, and the
    report is exactly the top-20 by (lift desc, gram)."""
    from manipula_o_de_dataframes_spark.queries import q_pmi_collocations
    from .conftest import SF_SMOKE

    rows = q_pmi_collocations(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    for r in rows:
        assert r["n_pair"] >= 5
        assert r["n_w1"] >= r["n_pair"] and r["n_w2"] >= r["n_pair"], r
        assert r["lift"] > 0
    lifts = [r["lift"] for r in rows]
    assert lifts == sorted(lifts, reverse=True)


def test_bloom_never_misses_an_exact_hit(spark):
    """The Bloom guarantee: no false negatives — every exact benchmark
    8-gram hit is also bloom-positive, per document; bloom_hits never
    exceeds the doc's distinct gram count."""
    from manipula_o_de_dataframes_spark.queries import q_bloom_decontaminate
    from .conftest import SF_SMOKE

    rows = q_bloom_decontaminate(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["exact_hits"] <= r["bloom_hits"] <= r["n_grams"], r
    # benchmark docs themselves are excluded from the probe
    assert all(r["doc_id"] % 97 != 0 for r in rows)


def test_langid_confusion_partitions_the_corpus(spark):
    """The confusion matrix is a partition of the corpus: cell counts
    sum to the doc count, per-true-class shares sum to 1, and the
    unpredictable languages (fr/zh have no marker words) never appear
    on the diagonal."""
    from manipula_o_de_dataframes_spark.queries import q_langid_confusion
    from manipula_o_de_dataframes_spark.sources.io import read_table
    from .conftest import SF_SMOKE

    rows = q_langid_confusion(spark, SF_SMOKE).collect()
    n_docs = read_table(spark, SF_SMOKE, "documents").count()
    assert sum(r["n_docs"] for r in rows) == n_docs
    shares: dict[str, float] = {}
    for r in rows:
        shares[r["lang"]] = shares.get(r["lang"], 0.0) + r["share_of_true"]
        assert r["acerto"] == (r["lang"] == r["idioma_pred"])
        if r["lang"] in ("fr", "zh"):
            assert not r["acerto"]
    for lang, s in shares.items():
        assert abs(s - 1.0) < 1e-6, (lang, s)


def test_rrf_rewards_docs_in_both_lists(spark):
    """RRF invariants: 20 rows, scores descending, a doc present in
    BOTH arms outscores any doc at the same ranks in one arm, and every
    reported score equals 1/(60+lex) + 1/(60+sem) for its own ranks."""
    from manipula_o_de_dataframes_spark.queries import q_rrf_hybrid_search
    from .conftest import SF_SMOKE

    rows = q_rrf_hybrid_search(spark, SF_SMOKE).collect()
    assert len(rows) == 20
    scores = [r["rrf"] for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        want = (1.0 / (60 + r["lex_rank"]) if r["lex_rank"] else 0.0) + (
            1.0 / (60 + r["sem_rank"]) if r["sem_rank"] else 0.0
        )
        assert abs(r["rrf"] - want) < 1e-9, r


def test_bpe_merges_fuse_most_frequent_pair_each_round(spark):
    """Three known documents → a fully hand-checkable merge table:
    round 1 fuses the globally dominant pair, later rounds operate on
    the already-merged corpus (merged tokens join with '+')."""
    from manipula_o_de_dataframes_spark.queries import q_bpe_merges
    import tempfile

    tmp = tempfile.mkdtemp()
    _write_docs(tmp, ["p q r", "p q s", "p q r"])
    got = [(r["round"], r["pair"], r["freq"]) for r in q_bpe_merges(spark, tmp).collect()]
    assert sorted(got) == [(1, "p q", 3), (2, "p+q r", 2), (3, "p+q s", 1)]


def test_pq_code_picks_exact_centroid_match(spark):
    # A vector assembled FROM codebook centroids must encode to exactly
    # those codes: each subspace's distance to its own centroid is 0.
    cb = sim.pq_codebook()
    want = [3, 0, 7, 15, 1, 9, 12, 5]
    vec = []
    for m, c in enumerate(want):
        vec.extend(next(cv for mm_, cc, cv in cb if mm_ == m and cc == c))
    df = spark.createDataFrame([(1, vec)], "vec_id long, embedding array<float>")
    row = df.select(
        *[sim.pq_code(F.col("embedding"), m, cb).alias(f"c{m}") for m in range(8)]
    ).collect()[0]
    assert [row[f"c{m}"] for m in range(8)] == want


def test_pq_adc_is_exact_for_centroid_vectors(spark, tmp_path):
    # ADC approximates dist(query, x) by dist(query, centroid(x)); when
    # x IS its centroid in every subspace the approximation is exact.
    from manipula_o_de_dataframes_spark.queries import QUERIES

    cb = sim.pq_codebook()
    qvec = [0.25] * 64
    xvec = []
    for m in range(8):
        xvec.extend(next(cv for mm_, cc, cv in cb if mm_ == m and cc == 2))
    df = spark.createDataFrame(
        [(0, qvec), (1, xvec)], "vec_id long, embedding array<float>"
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = QUERIES["pq_topk"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    assert abs(out[0]["adc_dist"] - out[0]["exact_dist"]) < 1e-6


def test_dsir_ranks_target_lookalikes_first(spark, tmp_path):
    # Docs sharing the target slice's bigrams must outscore docs made of
    # bigrams the target never uses (Xie et al.'s core monotonicity).
    from manipula_o_de_dataframes_spark.queries import QUERIES

    target = [(i, "the quick brown fox jumps", "en", "a", 25) for i in range(10)]
    like = [(100, "the quick brown fox", "de", "b", 19)]
    unlike = [(101, "zzz qqq www vvv kkk", "de", "b", 19)]
    spark.createDataFrame(
        target + like + unlike,
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {r["doc_id"]: r["dsir_w_scaled"] for r in QUERIES["dsir_weights"](
        spark, str(tmp_path)).collect()}
    assert rows[100] > rows[101]


def test_ngram_lm_scores_repetition_as_low_perplexity(spark, tmp_path):
    # A doc of one repeated bigram is maximally predictable under the
    # corpus LM; a doc of unique bigrams scores strictly lower.
    from manipula_o_de_dataframes_spark.queries import QUERIES

    docs = [(1, "go go go go go go go go go go", "en", "a", 29),
            (2, "alpha beta gamma delta epsilon zeta", "en", "a", 35)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {r["doc_id"]: r for r in QUERIES["ngram_lm_score"](
        spark, str(tmp_path)).collect()}
    assert rows[1]["avg_logp"] > rows[2]["avg_logp"]
    assert rows[1]["ppl_band"] == "low_ppl"


def test_ivf_pq_search_stays_in_query_cell(spark, tmp_path):
    # Every returned candidate must carry the query's cell — the prune
    # that makes IVF touch ~1/k of the corpus.
    from manipula_o_de_dataframes_spark.queries import QUERIES

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    e.write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = QUERIES["ivf_pq_topk"](spark, str(tmp_path)).collect()
    assert out, "query cell must contain at least one other vector"
    cells = {r["cell"] for r in out}
    assert len(cells) == 1
    qcell = (
        e.filter(F.col("vec_id") == 0)
        .select(sim.ivf_cell(F.col("embedding"), sim.fixed_centroids()).alias("c"))
        .collect()[0]["c"]
    )
    assert cells == {qcell}


def test_adaptive_gate_median_is_per_source(spark, tmp_path):
    # A mediocre doc passes in a weak source and the same text fails in
    # a strong one — the whole point of per-source thresholds.
    from manipula_o_de_dataframes_spark.queries import QUERIES

    strong = "the quick brown fox jumps over the lazy dog and runs on in the sun"
    weak = "zz qq"
    mid = "the cat sat"
    docs = (
        [(i, strong, "en", "strong", len(strong)) for i in range(3)]
        + [(10, mid, "en", "strong", len(mid))]
        + [(20 + i, weak, "en", "weak", len(weak)) for i in range(3)]
        + [(30, mid, "en", "weak", len(mid))]
    )
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {r["doc_id"]: r for r in QUERIES["adaptive_quality_gate"](
        spark, str(tmp_path)).collect()}
    assert not rows[10]["passes"]   # mid text < strong-source median
    assert rows[30]["passes"]       # same text >= weak-source median
    assert rows[10]["quality"] == rows[30]["quality"]


def test_quality_logistic_is_monotone_in_quality(spark, tmp_path):
    # Clean prose must outscore token soup under the fixed weights.
    from manipula_o_de_dataframes_spark.queries import QUERIES

    good = "the quick brown fox jumps over the lazy dog and runs on in the sun"
    bad = "zz zz zz zz zz zz zz zz"
    spark.createDataFrame(
        [(1, good, "en", "a", len(good)), (2, bad, "en", "a", len(bad))],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {r["doc_id"]: r for r in QUERIES["quality_logistic"](
        spark, str(tmp_path)).collect()}
    assert rows[1]["quality_p"] > rows[2]["quality_p"]
    assert rows[1]["passes"] and not rows[2]["passes"]


def test_drift_kl_zero_for_identical_weeks_positive_for_shift(spark, tmp_path):
    import datetime as dt

    from manipula_o_de_dataframes_spark.queries import QUERIES

    # Week boundaries are naive-epoch-aligned (1970-01-01 is mod-7 day
    # zero); 2024-01-04 starts such a window. Week A and B have the
    # identical type mix; week C flips it hard.
    base = dt.datetime(2024, 1, 4)
    rows = []
    eid = 0

    def week(start, mix):
        nonlocal eid
        for typ, n in mix.items():
            for i in range(n):
                rows.append((eid, start + dt.timedelta(hours=i), eid, typ, 1.0, "{}"))
                eid += 1

    week(base, {"click": 30, "error": 3})
    week(base + dt.timedelta(days=7), {"click": 30, "error": 3})
    week(base + dt.timedelta(days=14), {"click": 3, "error": 30})
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r["week_start"]: r for r in QUERIES["drift_weekly_kl"](
        spark, str(tmp_path)).collect()}
    assert len(out) == 2  # first week has no predecessor
    stable, shifted = out["2024-01-11"], out["2024-01-18"]
    assert stable["chi2_scaled"] == 0 and not stable["drifted"]
    assert shifted["chi2_scaled"] > 100000 and shifted["drifted"]
    assert shifted["l1_scaled"] > stable["l1_scaled"]


def test_bpe_apply_fuses_trained_merges(spark, tmp_path):
    # Forced rounds on a crafted corpus, including the documented
    # non-overlap subtlety: round 1 fuses only the FIRST 'x y' of
    # 'x y x y' (leftmost non-overlapping replace consumes the shared
    # space), round 2 re-learns 'x y' for the survivor, round 3 fuses
    # 'x+y x+y' — so doc 1 collapses to one token while doc 2 keeps
    # 'x+y z' (its pair never wins a round).
    from manipula_o_de_dataframes_spark.queries import QUERIES, _bpe_top_merges

    spark.createDataFrame(
        [(1, "x y x y", "en", "a", 7), (2, "x y z", "en", "a", 5)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    assert [(p, f) for _, p, f in _bpe_top_merges(spark, str(tmp_path), 3)] == [
        ("x y", 3), ("x y", 1), ("x+y x+y", 1)
    ]
    rows = {r["doc_id"]: r for r in QUERIES["bpe_apply"](
        spark, str(tmp_path)).collect()}
    assert (rows[1]["n_tok_before"], rows[1]["n_tok_after"], rows[1]["n_merged"]) == (4, 1, 3)
    assert (rows[2]["n_tok_before"], rows[2]["n_tok_after"], rows[2]["n_merged"]) == (3, 2, 1)


def test_join_skew_profile_flags_hot_key(spark, tmp_path):
    from manipula_o_de_dataframes_spark.queries import QUERIES

    rows = [(i, 1) for i in range(50)] + [
        (100 + 10 * k + i, k) for k in range(2, 12) for i in range(5)
    ]
    spark.createDataFrame(
        rows, "o_orderkey long, o_custkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    out = QUERIES["join_skew_profile"](spark, str(tmp_path)).collect()
    hot = out[0]
    assert hot["o_custkey"] == 1 and hot["n_rows"] == 50
    assert hot["share_ppm"] == 500000          # 50 of 100 rows
    assert hot["skew_x_milli"] == 5500         # 0.5 × 11 keys
    assert hot["n_keys"] == 11
    # F₂ = Σ n² exactly: 50² + 10·5² = 2750 — the self-join output
    # size this key distribution would produce (integer-exact, r5).
    assert hot["f2_mass"] == 2750
    assert hot["top20_share_ppm"] == 1000000   # 11 keys ⇒ top-20 covers all


def test_null_text_docs_never_reach_quality_or_dsir_outputs(spark, tmp_path):
    # Driver fixtures may carry NULL-text docs; a NULL quality score
    # would sort NULLS FIRST in Spark's window but NULLS LAST in
    # DuckDB's — the gate excludes them instead of diverging.
    from manipula_o_de_dataframes_spark.queries import QUERIES

    good = "the quick brown fox jumps over the lazy dog"
    spark.createDataFrame(
        [(1, good, "en", "a", len(good)), (2, None, None, "a", 0),
         (3, good + " again", "de", "a", len(good) + 6)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    gate_ids = {r["doc_id"] for r in QUERIES["adaptive_quality_gate"](
        spark, str(tmp_path)).collect()}
    assert gate_ids == {1, 3}
    dsir_ids = {r["doc_id"] for r in QUERIES["dsir_weights"](
        spark, str(tmp_path)).collect()}
    assert dsir_ids == {1, 3}


def test_histogram_quantiles_bounds_error_by_bin_width(spark, tmp_path):
    import datetime as dt

    from manipula_o_de_dataframes_spark.queries import QUERIES

    # Uniform values over one type: every estimate must land within one
    # 8.0-wide bin of the exact percentile (interpolation guarantee).
    rows = [(i, dt.datetime(2024, 1, 1) + dt.timedelta(minutes=i), i,
             "click", float(i % 400) + 0.5, "{}") for i in range(2000)]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["histogram_quantiles"](spark, str(tmp_path)).collect()
    assert {r["p"] for r in out} == {50, 90, 99}
    for r in out:
        assert abs(r["err"]) <= 8.0, r
        assert r["est_value"] == pytest.approx(r["exact_value"], abs=8.0)


def test_k_anonymity_flags_singleton_groups(spark, tmp_path):
    import datetime as dt

    from manipula_o_de_dataframes_spark.queries import QUERIES

    # 10 rows share one tuple (safe); 1 row is a singleton (at risk).
    base = dt.datetime(2024, 3, 1, 12)
    rows = [(i, base, i, "click", 10.0, "{}") for i in range(10)]
    rows.append((99, base + dt.timedelta(days=5), 99, "click", 480.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["k_anonymity_audit"](spark, str(tmp_path)).collect()[0]
    assert out["n_groups"] == 2 and out["n_groups_lt_k"] == 1
    assert out["rows_at_risk"] == 1 and out["n_rows"] == 11
    assert out["risk_ppm"] == 1000000 // 11


def test_contract_checks_catch_injected_violations(spark, tmp_path):
    import datetime as dt

    from manipula_o_de_dataframes_spark.queries import QUERIES

    spark.createDataFrame(
        [(1, 1, "F", 100.0, dt.date(2024, 1, 1), "1-URGENT"),
         (2, 2, "X", -5.0, None, "2-HIGH")],
        "o_orderkey long, o_custkey long, o_orderstatus string, "
        "o_totalprice double, o_orderdate date, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        [(1, 1, 1, 1, 5.0, 1.0, 0.05, 0.0, "N", "O", dt.date(2024, 1, 2)),
         (2, 1, 1, 2, 99.0, 1.0, 0.5, 0.0, "N", "O", dt.date(2024, 1, 2))],
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, "
        "l_tax double, l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1), 1, "click", 1.0, "{}"),
         (2, dt.datetime(2024, 1, 1), 2, "hack", -1.0, "{}")],
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r["rule"]: r for r in QUERIES["contract_checks"](
        spark, str(tmp_path)).collect()}
    assert len(out) == 7
    expect_viol = {
        "orders_totalprice_nonneg": 1, "orders_orderdate_not_null": 1,
        "orders_status_enum": 1, "lineitem_quantity_range": 1,
        "lineitem_discount_range": 1, "events_type_enum": 1,
        "events_value_nonneg": 1,
    }
    for rule, n in expect_viol.items():
        assert out[rule]["n_violations"] == n and not out[rule]["passes"], rule


def test_pq_recall_perfect_on_centroid_corpus(spark, tmp_path):
    # Vectors that ARE codebook reconstructions quantize losslessly, so
    # ADC ordering == exact ordering and recall@k is perfect.
    from manipula_o_de_dataframes_spark import queries as Q
    from manipula_o_de_dataframes_spark.operators import spool as sp

    cb = sim.pq_codebook()

    def recon(codes):
        v = []
        for m, c in enumerate(codes):
            v.extend(next(cv for mm_, cc, cv in cb if mm_ == m and cc == c))
        return v

    rows = [(0, [0.3] * 64)] + [
        (i, recon([(i + j) % 16 for j in range(8)])) for i in range(1, 30)
    ]
    spark.createDataFrame(rows, "vec_id long, embedding array<float>")\
        .write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    sp._CACHE.clear()
    out = Q.QUERIES["pq_recall"](spark, str(tmp_path)).collect()[0]
    sp._CACHE.clear()
    assert out["k"] == 20 and out["n_hits"] == 20 and out["recall_ppm"] == 1000000


def test_dedup_weights_mass_equals_unique_count_when_within_source(spark, tmp_path):
    from manipula_o_de_dataframes_spark.queries import QUERIES

    # src_a: 4 copies of one text -> 4 docs, 1 unique, mass 4×250000.
    docs = [(i, "same text here", "en", "src_a", 14) for i in range(4)]
    docs += [(10, "unique one", "en", "src_b", 10), (11, "unique two", "en", "src_b", 10)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["source"]: r for r in QUERIES["dedup_weights"](
        spark, str(tmp_path)).collect()}
    assert out["src_a"]["n_docs"] == 4 and out["src_a"]["n_unique"] == 1
    assert out["src_a"]["eff_mass_ppm"] == 4 * 250000
    assert out["src_b"]["eff_mass_ppm"] == 2 * 1000000


def test_vocab_coverage_counts_oov_mass(spark, tmp_path):
    from manipula_o_de_dataframes_spark.queries import QUERIES

    # 'common' dominates the global top-16; lang B is half rare tokens
    # that can't all fit the vocab, so its coverage must trail lang A's.
    docs = [(i, "common " * 20, "aa", "s", 140) for i in range(5)]
    docs += [(10 + i, " ".join(f"rare{i}_{j}" for j in range(20)) + " common",
              "bb", "s", 140) for i in range(5)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["lang"]: r for r in QUERIES["vocab_coverage"](
        spark, str(tmp_path)).collect()}
    assert out["aa"]["coverage_ppm"] > 900000
    assert out["bb"]["coverage_ppm"] < out["aa"]["coverage_ppm"]
    assert out["bb"]["n_in_vocab"] < out["bb"]["n_tokens"]


def test_weekly_trend_sign_matches_constructed_series(spark, tmp_path):
    import datetime as dt

    from manipula_o_de_dataframes_spark.queries import QUERIES

    # Nation A: revenue rises 100/wk; nation B falls 50/wk.
    nations = [(0, "RISE", 0, "x"), (1, "FALL", 0, "x")]
    spark.createDataFrame(
        nations, "n_nationkey long, n_name string, n_regionkey long, n_comment string"
    ).write.mode("overwrite").parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(
        [(1, 0, 1500.0), (2, 1, 1500.0)],
        "c_custkey long, c_nationkey long, c_acctbal double",
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    orders, lines = [], []
    for w in range(6):
        d = dt.date(2024, 1, 7) + dt.timedelta(weeks=w)
        orders.append((10 + w, 1, "F", 0.0, d, "p"))   # RISE customer
        orders.append((20 + w, 2, "F", 0.0, d, "p"))   # FALL customer
        lines.append((10 + w, 1, 1, 1, 1.0, 1000.0 + 100.0 * w, 0.0, 0.0, "N", "O", d))
        lines.append((20 + w, 1, 1, 1, 1.0, 1000.0 - 50.0 * w, 0.0, 0.0, "N", "O", d))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate date, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lines,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = {r["nation"]: r for r in QUERIES["weekly_trend"](
        spark, str(tmp_path)).collect()}
    assert out["RISE"]["trending_up"] and out["RISE"]["slope_per_week"] == 100.0
    assert not out["FALL"]["trending_up"] and out["FALL"]["slope_per_week"] == -50.0


def test_drift_stream_equals_batch_drift_exactly(spark):
    """Kappa parity, asserted engine-side as well as via the shared
    oracle: replaying the events snapshot through the streaming census
    must reproduce the batch drift report row-for-row."""
    from manipula_o_de_dataframes_spark.queries import QUERIES
    from tests.conftest import SF_SMOKE

    batch = {tuple(r) for r in QUERIES["drift_weekly_kl"](spark, SF_SMOKE).collect()}
    stream = {tuple(r) for r in QUERIES["drift_stream"](spark, SF_SMOKE).collect()}
    assert batch == stream and len(batch) > 0


def test_cusum_locates_an_injected_level_shift(spark, tmp_path):
    import datetime as dt

    from manipula_o_de_dataframes_spark.queries import QUERIES

    # 12 weeks at 1000, then 12 weeks at 2000: CUSUM magnitude peaks at
    # the last pre-shift week (week index of 2024-03-24's window).
    spark.createDataFrame(
        [(0, "N", 0, "x")],
        "n_nationkey long, n_name string, n_regionkey long, n_comment string",
    ).write.mode("overwrite").parquet(str(tmp_path / "nation.parquet"))
    spark.createDataFrame(
        [(1, 0, 0.0)], "c_custkey long, c_nationkey long, c_acctbal double"
    ).write.mode("overwrite").parquet(str(tmp_path / "customer.parquet"))
    orders, lines = [], []
    for i in range(24):
        d = dt.date(2024, 1, 7) + dt.timedelta(weeks=i)
        orders.append((i, 1, "F", 0.0, d, "p"))
        lines.append((i, 1, 1, 1, 1.0, 1000.0 if i < 12 else 2000.0,
                      0.0, 0.0, "N", "O", d))
    spark.createDataFrame(
        orders,
        "o_orderkey long, o_custkey long, o_orderstatus string, o_totalprice double, "
        "o_orderdate date, o_orderpriority string",
    ).write.mode("overwrite").parquet(str(tmp_path / "orders.parquet"))
    spark.createDataFrame(
        lines,
        "l_orderkey long, l_partkey long, l_suppkey long, l_linenumber long, "
        "l_quantity double, l_extendedprice double, l_discount double, l_tax double, "
        "l_returnflag string, l_linestatus string, l_shipdate date",
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = QUERIES["changepoint_weeks"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    r = out[0]
    # mean = 1500; pre-shift weeks each contribute -500 cents*100 → the
    # minimum (peak |cusum|) lands exactly on the 12th week.
    import datetime as dt2
    wk11 = (dt.date(2024, 1, 7) + dt.timedelta(weeks=11) -
            dt2.date(1970, 1, 1)).days // 7
    assert r["changepoint_wk"] == wk11
    assert r["peak_cusum_cents"] == 12 * 500 * 100
    assert r["n_weeks"] == 24


def test_curriculum_interleaves_sources_best_first(spark, tmp_path):
    from manipula_o_de_dataframes_spark.queries import QUERIES

    good = "the quick brown fox jumps over the lazy dog and runs in the sun today"
    bad = "zz qq"
    docs = [(1, good, "en", "a", len(good)), (2, bad, "en", "a", len(bad)),
            (3, good + " more", "en", "b", len(good) + 5), (4, bad, "en", "b", len(bad))]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = sorted(QUERIES["curriculum_order"](spark, str(tmp_path)).collect(),
                  key=lambda r: r["position"])
    # round-robin: both sources' best docs precede every worst doc
    assert [r["doc_id"] for r in rows] == [1, 3, 2, 4]
    assert [r["src_rank"] for r in rows] == [1, 1, 2, 2]


def test_quality_calibration_separates_good_from_bad(spark, tmp_path):
    from manipula_o_de_dataframes_spark.queries import QUERIES

    good = "the quick brown fox jumps over the lazy dog and runs in the sun today"
    bad = "zz zz zz zz zz zz zz zz"
    docs = [(i, good, "en", "a", len(good)) for i in range(5)]
    docs += [(10 + i, bad, "en", "a", len(bad)) for i in range(5)]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    rows = {r["decile"]: r for r in QUERIES["quality_calibration"](
        spark, str(tmp_path)).collect()}
    hi, lo = max(rows), min(rows)
    assert hi > lo
    assert rows[hi]["pass_rate_ppm"] == 1000000   # good docs pass gopher
    assert rows[lo]["pass_rate_ppm"] == 0          # repetitive docs fail


def test_label_centroids_exact_integer_sums(spark, tmp_path):
    from manipula_o_de_dataframes_spark.queries import QUERIES

    # Two vectors in label 7: [1.0]*64 and [-1.0]*64 -> q = +127/-127,
    # dim sums all zero; label 3 single vector of 0.5 -> q = 64 each.
    rows = [(0, [1.0] * 64, 7), (1, [-1.0] * 64, 7), (2, [0.5] * 64, 3)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    out = {r["label"]: r for r in QUERIES["label_centroids"](
        spark, str(tmp_path)).collect()}
    assert out[7]["n_vectors"] == 2
    assert out[7]["centroid_sum_q"] == ",".join(["0"] * 64)
    assert out[3]["centroid_sum_q"] == ",".join(["64"] * 64)


def _containment_property_docs(spark, texts):
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    n = len(texts)
    cands = spark.createDataFrame(
        [(a, b, 0) for a in range(n) for b in range(a + 1, n)],
        "id_a long, id_b long, n_agree long",
    )
    return df, cands


def test_containment_dominates_jaccard_on_random_docs(spark):
    """Lattice invariants on every pair of a small random-ish corpus:
    0 ≤ jaccard ≤ containment ≤ 1 (min-normalization can only grow the
    score), and containment hits exactly 1.0 iff one shingle set
    contains the other."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from manipula_o_de_dataframes_spark.operators.dedup import (
        containment_pairs,
        jaccard_pairs,
    )

    words = st.sampled_from("alpha beta gamma delta eps zeta eta theta".split())
    texts = st.lists(
        st.lists(words, min_size=3, max_size=12).map(" ".join), min_size=2, max_size=4
    )

    @given(texts)
    @settings(max_examples=10, deadline=None, suppress_health_check=list(HealthCheck))
    def check(ts):
        df, cands = _containment_property_docs(spark, ts)
        con = {
            (r["id_a"], r["id_b"]): r["containment"]
            for r in containment_pairs(df, "text", "doc_id", cands).collect()
        }
        jac = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in jaccard_pairs(df, "text", "doc_id", cands).collect()
        }
        for k, c in con.items():
            assert 0.0 <= jac[k] <= c <= 1.0, (k, jac[k], c)

    check()


def test_pq_spool_memo_invalidates_on_snapshot_change(spark, tmp_path):
    """Session artifacts key on (applicationId, dir, snapshot
    fingerprint): a repeat call serves the same object, an entry of
    another application is never served, and rewriting ANY table of
    the directory in place rebuilds — the codes re-encode, and
    ``kendall_tau`` rebuilds the nation-week census instead of
    reducing the stale spool (ADVICE r4: id(spark) could be reused
    after GC and the old key ignored in-place fixture rewrites)."""
    import shutil

    import duckdb

    import manipula_o_de_dataframes_spark.queries as Q
    from manipula_o_de_dataframes_spark.operators import spool as sp
    from manipula_o_de_dataframes_spark.oracles import ORACLES
    from manipula_o_de_dataframes_spark.parity import compare, run_oracle
    from manipula_o_de_dataframes_spark.sources.io import TPCH_TABLES
    from tests.conftest import SF_SMOKE

    def write(seed):
        rows = [
            (i, [((i * 13 + j * 7 + seed) % 11 - 5) / 5.0 for j in range(64)])
            for i in range(6)
        ]
        spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))

    write(0)
    first = Q._pq_codes_spooled(spark, str(tmp_path))
    again = Q._pq_codes_spooled(spark, str(tmp_path))
    assert first is again, "same snapshot must reuse the memoized frame"
    rows1 = {tuple(r) for r in first.collect()}

    # a live entry of another application under the same dir/snapshot
    (key,) = [k for k in sp._CACHE if k[1] == str(tmp_path) and k[3] == "pq_codes"]
    foreign = ("other-app",) + key[1:]
    sp._CACHE[foreign] = "foreign frame"
    assert Q._pq_codes_spooled(spark, str(tmp_path)) is first

    write(3)  # st_mtime_ns keying: no same-second blind window
    second = Q._pq_codes_spooled(spark, str(tmp_path))
    assert second is not first, "rewritten snapshot must re-encode"
    assert foreign not in sp._CACHE, "other applications' entries are evicted"
    assert {tuple(r) for r in second.collect()} != rows1

    snap = tmp_path / "snap"
    snap.mkdir()
    for t in TPCH_TABLES:
        shutil.copyfile(f"{SF_SMOKE}/{t}.parquet", snap / f"{t}.parquet")
    census = Q._weekly_nation_census(spark, str(snap))
    Q.QUERIES["kendall_tau"](spark, str(snap)).collect()
    duckdb.sql(
        f"COPY (SELECT * FROM '{snap}/orders.parquet' WHERE o_orderkey % 3 <> 0) "
        f"TO '{tmp_path}/part.parquet' (FORMAT parquet)"
    )
    shutil.move(tmp_path / "part.parquet", snap / "orders.parquet")
    assert Q._weekly_nation_census(spark, str(snap)) is not census
    got = Q.QUERIES["kendall_tau"](spark, str(snap))
    assert not compare(got, run_oracle(ORACLES["kendall_tau"], str(snap)))


def test_consumer_query_records_artifact_hit(spark):
    """bench.py derives each artifact's consumers from the hit counter:
    running a consumer must record a hit on the artifact it reads."""
    import manipula_o_de_dataframes_spark.queries as Q
    from manipula_o_de_dataframes_spark.operators.spool import ARTIFACTS, HITS
    from tests.conftest import SF_SMOKE

    assert {"nation_week_census", "pq_codes", "hyperball_rounds_1_4"} <= set(ARTIFACTS)
    ARTIFACTS["nation_week_census"](spark, SF_SMOKE)
    before = HITS.copy()
    Q.QUERIES["kendall_tau"](spark, SF_SMOKE)
    assert set(HITS - before) == {"nation_week_census"}


def test_growth_accounting_surfaces_total_outage_week(spark, tmp_path):
    """A week where EVERY user went dark has no active-status row; the
    full-outer churn attach (ADVICE r4) must still emit that week with
    n_churned > 0 and zeros elsewhere — it is the single most
    important row the report can produce."""
    import datetime as dt

    from manipula_o_de_dataframes_spark.queries import QUERIES

    base = dt.datetime(2024, 1, 3)  # any date; weeks are epoch-aligned
    rows = []
    for i, (user, week) in enumerate(
        [(1, 0), (2, 0), (1, 2), (2, 2)]  # week 1 = total outage
    ):
        rows.append((i, base + dt.timedelta(days=7 * week), user, "click", 1.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = {r["semana"]: r for r in QUERIES["growth_accounting"](
        spark, str(tmp_path)).collect()}
    weeks = sorted(out)
    assert len(weeks) == 3, f"outage week dropped: {weeks}"
    outage = out[weeks[1]]
    assert outage["n_churned"] == 2
    assert outage["n_new"] == outage["n_retained"] == outage["n_resurrected"] == 0
    comeback = out[weeks[2]]
    assert comeback["n_resurrected"] == 2


def test_kmeans_training_rows_only(spark):
    """kmeans_cells left the query registry in r5 (every queries()
    entry is now hash-checkable; NO_ORACLE is empty) — the training
    loop's invariants live here instead: 3 Lloyd rounds over the
    fixture embeddings produce ≤k non-empty cells whose occupancy
    sums to the corpus size."""
    from manipula_o_de_dataframes_spark.queries import q_kmeans_cells
    from tests.conftest import SF_SMOKE

    out = q_kmeans_cells(spark, SF_SMOKE).collect()
    assert 0 < len(out) <= 8
    assert set(out[0].asDict().keys()) == {"cell", "n_vetores"}
    n = spark.read.parquet(f"{SF_SMOKE}/embeddings.parquet").count()
    assert sum(r["n_vetores"] for r in out) == n


def test_pagerank_hub_outranks_leaves(spark, tmp_path):
    """A star basket graph: part 1 co-occurs with every leaf (hub),
    leaves only with the hub — after 3 integer-ppm iterations the hub
    must rank strictly above every leaf, and ranks must be exact
    integers (no rounding sites anywhere)."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    rows = []
    # orders 0..9: each contains the hub (part 1) and one leaf (10+k)
    for k in range(10):
        rows += [(k, 1), (k, 10 + k)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = {r["part"]: r for r in QUERIES["pagerank_items"](
        spark, str(tmp_path)).collect()}
    hub, leaves = out[1], [out[10 + k] for k in range(10)]
    assert hub["degree"] == 10 and all(lf["degree"] == 1 for lf in leaves)
    assert all(hub["rank_ppm"] > lf["rank_ppm"] for lf in leaves)
    # leaves are symmetric -> identical ranks
    assert len({lf["rank_ppm"] for lf in leaves}) == 1


def test_prefix_dup_groups_catches_shared_header(spark, tmp_path):
    from manipula_o_de_dataframes_spark.queries import QUERIES

    header = " ".join(f"w{i}" for i in range(12))
    docs = [
        (1, header + " tail one entirely different", "en", "a", 10),
        (2, header + " another divergent tail here", "en", "b", 10),
        (3, header + " third tail", "en", "a", 10),
        (4, "no shared prefix at all in this document text body", "en", "a", 10),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = QUERIES["prefix_dup_groups"](spark, str(tmp_path)).collect()
    assert len(out) == 1
    g = out[0]
    assert g["rep_doc_id"] == 1 and g["n_docs"] == 3 and g["n_sources"] == 2
    assert g["prefix"] == header


def test_winsorized_mean_resists_outlier(spark, tmp_path):
    import datetime as dt

    from manipula_o_de_dataframes_spark.queries import QUERIES

    rows = [(i, dt.datetime(2024, 1, 1 + i % 20), i, "click",
             float(i % 10 + 1), "{}") for i in range(100)]
    rows.append((100, dt.datetime(2024, 1, 2), 5, "click", 100000.0, "{}"))
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["winsorized_stats"](spark, str(tmp_path)).collect()[0]
    assert out["n"] == 101
    assert out["mean_raw"] > 900           # outlier drags the raw mean
    assert out["mean_winsor"] < 15         # winsorized shrugs it off
    assert out["n_clipped"] >= 1
    assert out["p5"] >= 1.0 and out["p95"] <= 10.0


def test_maxsim_ranks_full_match_over_partial(spark, tmp_path):
    """Late-interaction semantics: a doc containing EVERY probe chunk
    must outscore a doc containing only one of them, which must
    outscore an unrelated doc — the fine-grained behavior whole-doc
    embeddings blur (and the reason MaxSim exists)."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    a = "alpha bravo charlie delta " * 8        # probe: ~2 chunks
    partial = a[:64] + " zz " + "completely different padding text here " * 4
    unrelated = "0123456789 " * 20
    docs = [
        (1, a, "en", "s", len(a)),              # min doc_id -> probe
        (2, a + " tail", "en", "s", 10),        # full match
        (3, partial, "en", "s", 10),            # one-chunk match
        (4, unrelated, "en", "s", 10),
    ]
    spark.createDataFrame(
        docs, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = {r["doc_id"]: r["maxsim"] for r in QUERIES["maxsim_search"](
        spark, str(tmp_path)).collect()}
    assert 1 not in out                          # probe excluded
    assert out[2] > out[3] > out[4]


def test_triangle_counts_on_known_graph(spark, tmp_path):
    """K4 plus a pendant: every K4 node sits in C(3,2)=3 triangles; the
    pendant (part 9, degree 1 via its own order with part 1) is in
    none. Clustering: K4 nodes with degree 3 have 3/C(3,2)=1.0 except
    part 1, whose extra pendant edge dilutes it to 3/C(4,2)=0.5."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    rows = [(0, p) for p in (1, 2, 3, 4)]     # one order with K4
    rows += [(1, 1), (1, 9)]                  # pendant edge 1-9
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = {r["part"]: r for r in QUERIES["triangle_counts"](
        spark, str(tmp_path)).collect()}
    assert 9 not in out
    assert all(out[p]["triangles"] == 3 for p in (1, 2, 3, 4))
    assert out[2]["clustering"] == 1.0 and out[1]["clustering"] == 0.5
    assert out[1]["degree"] == 4 and out[2]["degree"] == 3


def test_kcenter_picks_spread_and_covers(spark, tmp_path):
    """Three tight clusters + the greedy start: k-center must pick one
    representative per distant cluster before densifying anywhere —
    the property that makes it a coverage (not density) sampler."""
    rows = []
    # cluster A at 0, B at +10 on dim 0, C at +10 on dim 1; 5 pts each
    for i in range(5):
        eps = i * 0.01
        rows.append((i, [0.0 + eps] + [0.0] * 63))
        rows.append((10 + i, [10.0 + eps] + [0.0] * 63))
        rows.append((20 + i, [0.0 + eps, 10.0] + [0.0] * 62))
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>"
    ).write.mode("overwrite").parquet(str(tmp_path / "embeddings.parquet"))
    from manipula_o_de_dataframes_spark.queries import QUERIES

    out = QUERIES["kcenter_coreset"](spark, str(tmp_path)).collect()
    assert [r["center_idx"] for r in out] == [0, 1, 2, 3]
    picked = {r["center_vec_id"] for r in out}
    assert 0 in picked                       # greedy start = min id
    # after 3 picks every cluster has a center -> radii collapse
    clusters = [{0,1,2,3,4},{10,11,12,13,14},{20,21,22,23,24}]
    assert all(c & picked for c in clusters)
    assert sum(r["n_assigned"] for r in out) == 15
    assert max(r["coverage_radius"] for r in out) < 1.0


def test_winnow_catches_copied_passage_and_caps_boilerplate(spark, tmp_path):
    """Winnowing's positional guarantee: a shared run of >= w+k-1 = 6
    tokens must share a fingerprint, so a copied passage inside
    otherwise-different docs pairs up — while a fingerprint present in
    > 50 docs (pure boilerplate) is dropped and creates no pairs."""
    passage = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima"
    rows = [
        (1, "intro one two three " + passage + " outro red green blue", "en", "s1"),
        (2, "different preamble here " + passage + " and a different tail", "en", "s2"),
        (3, "nothing in common with anything else at all whatsoever here", "en", "s3"),
    ]
    # 60 identical boilerplate docs: every fingerprint lands in 60 > 50
    # docs -> capped out, no pair explosion from the template storm
    rows += [
        (100 + i, "cookie banner accept terms privacy policy contact us", "en", "s4")
        for i in range(60)
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).selectExpr("doc_id", "text", "lang", "source", "length(text) AS n_chars").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    from manipula_o_de_dataframes_spark.queries import QUERIES

    out = QUERIES["winnow_near_dup"](spark, str(tmp_path)).collect()
    pairs = {(r["doc_a"], r["doc_b"]): r for r in out}
    assert (1, 2) in pairs, out
    r = pairs[(1, 2)]
    assert r["shared_fps"] >= 2
    assert 0 < r["containment_ppm"] <= 1000000
    # doc 3 never pairs; the 60 boilerplate docs never pair
    assert all(a < 100 and b < 100 for a, b in pairs), out
    assert not any(3 in p for p in pairs), out


def test_label_propagation_separates_cliques(spark, tmp_path):
    """Two K4 cliques joined by one bridge edge: 3 synchronous rounds
    with ties-to-min must converge each clique onto its own min-derived
    label — two communities of 4, the bridge never merges them (each
    endpoint is outvoted by its own clique)."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    rows = [(0, p) for p in (1, 2, 3, 4)]       # clique A
    rows += [(1, p) for p in (10, 11, 12, 13)]  # clique B
    rows += [(2, 4), (2, 10)]                   # bridge 4-10
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = QUERIES["label_propagation"](spark, str(tmp_path)).collect()
    got = {r["community"]: (r["n_members"], r["min_part"]) for r in out}
    assert got == {1: (4, 1), 10: (4, 10)}, out


def test_trust_propagation_decays_from_seeds_only(spark, tmp_path):
    """A 25-clique (top-degree -> the 20 seeds live here) plus a
    disconnected pair: trust reaches every clique node (non-seeds get
    propagated mass only, so strictly less than the seed floor), while
    the unreachable pair receives no restart and no propagation —
    trust 0, excluded from the output entirely."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    rows = [(0, p) for p in range(1, 26)]   # 25-clique, degree 24 each
    rows += [(1, 100), (1, 101)]            # disconnected pair, degree 1
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = QUERIES["trust_propagation"](spark, str(tmp_path)).collect()
    parts = {r["part"] for r in out}
    assert parts <= set(range(1, 26)) and 100 not in parts and 101 not in parts
    seeds = {r["part"] for r in out if r["is_seed"] == 1}
    assert seeds == set(range(1, 21))       # degree tie -> lowest 20 ids
    nonseed = [r for r in out if r["is_seed"] == 0]
    assert nonseed and all(r["trust_ppm"] > 0 for r in nonseed)
    floor = min(r["trust_ppm"] for r in out if r["is_seed"] == 1)
    assert all(r["trust_ppm"] < floor for r in nonseed)


def test_cdc_chunks_survive_prefix_insertion(spark, tmp_path):
    """The CDC property fixed-size blocks lack: an insertion at the
    head of a doc only perturbs chunks up to the next content-defined
    boundary — every later chunk re-aligns and dedups. 'hash' is a
    boundary token (md5 starts with '0'), so doc B = 'zz ' + doc A
    shares all of A's post-first-boundary chunks."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    a = "aa bb hash cc dd hash ee ff gg"
    rows = [
        (1, a, "en", "s1"),
        (2, "zz " + a, "en", "s2"),
        (3, "totally unrelated words only here", "en", "s3"),
    ]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).selectExpr("doc_id", "text", "lang", "source", "length(text) AS n_chars").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    out = QUERIES["cdc_chunk_dedup"](spark, str(tmp_path)).collect()
    shared = {r["chunk"]: r for r in out}
    # 'ee' is ALSO a boundary token, so A's tail splits into
    # ['ee'] (single-token, below the tok_len >= 2 floor) + ['ff gg']
    assert set(shared) == {"cc dd hash", "ff gg"}, out
    assert all(r["n_docs"] == 2 and r["n_occ"] == 2 for r in out)
    # the head chunks differ ('aa bb hash' vs 'zz aa bb hash') -> not shared
    assert "aa bb hash" not in shared


def test_winnow_guarantee_on_random_shared_runs(spark, tmp_path):
    """The winnowing theorem, exercised on randomized inputs: any two
    docs sharing a run of >= 2w+k-1 = 14 tokens share >= 2 window
    minima, whatever the surrounding junk. 5 seeded pairs with
    disjoint vocabularies (so no cross-pair fingerprints), one job."""
    import random

    from manipula_o_de_dataframes_spark.queries import QUERIES

    rng = random.Random(20260814)
    rows = []
    expected = set()
    for p in range(5):
        vocab = [f"w{p}x{i}" for i in range(30)]
        run = [rng.choice(vocab) for _ in range(rng.randint(14, 20))]
        pre_a = [rng.choice(vocab) for _ in range(rng.randint(0, 8))]
        pre_b = [rng.choice(vocab) for _ in range(rng.randint(0, 8))]
        post_a = [rng.choice(vocab) for _ in range(rng.randint(0, 8))]
        post_b = [rng.choice(vocab) for _ in range(rng.randint(0, 8))]
        a_id, b_id = 10 * p, 10 * p + 1
        rows.append((a_id, " ".join(pre_a + run + post_a), "en", f"s{p}"))
        rows.append((b_id, " ".join(pre_b + run + post_b), "en", f"s{p}"))
        expected.add((a_id, b_id))
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string"
    ).selectExpr("doc_id", "text", "lang", "source", "length(text) AS n_chars").write.mode(
        "overwrite"
    ).parquet(str(tmp_path / "documents.parquet"))
    out = QUERIES["winnow_near_dup"](spark, str(tmp_path)).collect()
    found = {(r["doc_a"], r["doc_b"]) for r in out}
    assert expected <= found, (expected - found, out)


def test_ewma_weekly_recurrence_exact(spark, tmp_path):
    """Hand-checked fold: weekly totals 8.00, 16.00, 4.00 give
    s1=800, s2=(7*800+1600)>>3=900, s3=(7*900+400)>>3=837 cents —
    the dyadic alpha=1/8 recurrence in exact integers."""
    from datetime import datetime

    from manipula_o_de_dataframes_spark.queries import QUERIES

    rows = [
        (1, datetime(1970, 1, 1, 12), 1, "buy", 8.0, None),
        (2, datetime(1970, 1, 8, 12), 1, "buy", 16.0, None),
        (3, datetime(1970, 1, 15, 12), 1, "buy", 4.0, None),
    ]
    spark.createDataFrame(
        rows,
        "event_id long, ts timestamp_ntz, user_id long, event_type string, "
        "value double, props string",
    ).write.mode("overwrite").parquet(str(tmp_path / "events.parquet"))
    out = QUERIES["ewma_weekly"](spark, str(tmp_path)).collect()
    assert [(r["actual_cents"], r["ewma_cents"], r["dev_cents"]) for r in out] == [
        (800, 800, 0),
        (1600, 900, 700),
        (400, 837, -437),
    ], out


def test_kcore_peel_stable_core_vs_tendril(spark, tmp_path):
    """6-clique + one pendant: median degree k=5, so round 1 peels the
    pendant (and its edge), after which the clique is a stable 5-core
    — the census must show the collapse-then-stability signature."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    rows = [(0, p) for p in (1, 2, 3, 4, 5, 6)]  # 6-clique
    rows += [(1, 1), (1, 7)]                     # pendant 7 on node 1
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = QUERIES["kcore_peel"](spark, str(tmp_path)).collect()
    got = [(r["round"], r["n_nodes"], r["n_edges"]) for r in out]
    assert got == [(0, 7, 16), (1, 6, 15), (2, 6, 15), (3, 6, 15)], out
    assert all(r["k_threshold"] == 5 for r in out)


def test_benford_audit_counts_leading_cents_digit(spark, tmp_path):
    """Digits come from exact cents (0.95 -> 95 -> digit 9, not 0);
    ppm shares are integer-exact against a hand-built distribution."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    prices = [1.00, 1.00, 19.99, 2.50, 2.50, 0.95]   # digits 1,1,1,2,2,9
    rows = [(i, i, p) for i, p in enumerate(prices)]
    spark.createDataFrame(
        rows, "l_orderkey long, l_partkey long, l_extendedprice double"
    ).write.mode("overwrite").parquet(str(tmp_path / "lineitem.parquet"))
    out = {r["digit"]: r for r in QUERIES["benford_audit"](spark, str(tmp_path)).collect()}
    assert set(out) == {1, 2, 9}
    assert out[1]["n_obs"] == 3 and out[1]["obs_ppm"] == 500000
    assert out[2]["n_obs"] == 2 and out[2]["obs_ppm"] == 333333
    assert out[9]["n_obs"] == 1 and out[9]["obs_ppm"] == 166666
    assert out[1]["benford_ppm"] == 301030
    # (500000-301030)^2 // 301030 = 131517
    assert out[1]["chi2_ppm"] == (500000 - 301030) ** 2 // 301030


def test_balanced_shards_snake_balances_linear_sizes(spark, tmp_path):
    """Sizes 16..1 over 8 shards: snake pairing gives every shard one
    pick from the large end and its mirror from the small end
    (16+1, 15+2, ...) -> all totals 17, zero skew everywhere."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    rows = [(i, "x", "en", "s", 16 - i) for i in range(16)]
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = QUERIES["balanced_shards"](spark, str(tmp_path)).collect()
    assert [r["shard"] for r in out] == list(range(8))
    assert all(r["n_docs"] == 2 and r["total_chars"] == 17 for r in out), out
    assert all(r["skew_ppm"] == 0 for r in out), out


def test_history_lists_total_under_duplicate_line_keys(spark, tmp_path):
    """(l_orderkey, l_linenumber) repeats in the fixtures. The history
    tie-break ends in the projected values, so ``ultimo_consultor`` and
    the lists cannot depend on which duplicate row arrives first: two
    input orders give the same output, and both match the oracle."""
    import duckdb

    from manipula_o_de_dataframes_spark.oracles import ORACLES
    from manipula_o_de_dataframes_spark.parity import compare
    from manipula_o_de_dataframes_spark.plans.history import product_client_history

    # Each (order, line) pair appears twice with different flags; the
    # last pair of every group is such a duplicate.
    lines = [
        (1, 10, 1, "2024-01-05", 5.0, "A"),
        (2, 10, 1, "2024-01-05", 5.0, "A"),
        (2, 10, 1, "2024-01-05", 7.0, "R"),
        (3, 11, 2, "2024-02-01", 2.0, "N"),
        (3, 11, 2, "2024-02-01", 2.0, "R"),
        (4, 11, 1, "2024-02-01", 4.0, "A"),
        (4, 11, 1, "2024-02-01", 4.0, "N"),
    ]
    values = ", ".join(
        f"({i}, {ok}, {pk}, {ln}, TIMESTAMP '{d}', {q}, '{f}')"
        for i, (ok, pk, ln, d, q, f) in enumerate(lines)
    )
    cols = "i, l_orderkey, l_partkey, l_linenumber, l_shipdate, l_quantity, l_returnflag"
    con = duckdb.connect()
    dirs = []
    for name, order in (("fwd", "i"), ("rev", "i DESC")):
        d = tmp_path / name
        d.mkdir()
        con.execute(
            f"COPY (SELECT * EXCLUDE (i) FROM (VALUES {values}) t({cols}) "
            f"ORDER BY {order}) TO '{d}/lineitem.parquet' (FORMAT parquet)"
        )
        con.execute(
            "COPY (SELECT * FROM (VALUES (1, 100), (2, 100), (3, 200), (4, 200))"
            f" t(o_orderkey, o_custkey)) TO '{d}/orders.parquet' (FORMAT parquet)"
        )
        con.execute(
            "COPY (SELECT * FROM (VALUES (10, 'Brand#1'), (11, 'Brand#2'))"
            f" t(p_partkey, p_brand)) TO '{d}/part.parquet' (FORMAT parquet)"
        )
        dirs.append(str(d))

    for t in ("lineitem", "orders", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{dirs[0]}/{t}.parquet'")
    oracle = con.execute(ORACLES["product_client_history"]).df()
    assert sorted(oracle["ultimo_consultor"]) == ["N", "R"]
    outs = [product_client_history(spark, d) for d in dirs]
    assert sorted(map(tuple, outs[0].collect())) == sorted(map(tuple, outs[1].collect()))
    for out in outs:
        assert not compare(out, oracle)
