"""Ordered multi-file ingest (S6) and the Structured Streaming variant."""

from __future__ import annotations

import pandas as pd

from manipula_o_de_dataframes_spark.sources.io import read_ordered_snapshots
from manipula_o_de_dataframes_spark.streaming.drain import drain
from manipula_o_de_dataframes_spark.streaming.pending_stream import pending_stream


def _write_snapshots(tmp_path):
    """Three weekly snapshot files; file 3 lacks a column (AP:48 concat-by-name)."""
    p1 = tmp_path / "w0.parquet"
    p2 = tmp_path / "w1.parquet"
    p3 = tmp_path / "w2.parquet"
    pd.DataFrame(
        {"proposta": [1, 2], "status": ["PENDENTE", "OK"], "valor": [10.0, 20.0]}
    ).to_parquet(p1)
    pd.DataFrame(
        {"proposta": [1, 3], "status": ["PENDENTE", "PENDENTE"], "valor": [10.0, 30.0]}
    ).to_parquet(p2)
    pd.DataFrame({"proposta": [9], "status": ["PENDENTE"]}).to_parquet(p3)
    return [str(p1), str(p2), str(p3)]


def test_read_ordered_snapshots_labels_and_alignment(spark, tmp_path):
    paths = _write_snapshots(tmp_path)
    df = read_ordered_snapshots(spark, paths)
    rows = df.collect()
    labels = {r["semana"] for r in rows}
    assert labels == {"Semana Atual", "Semana -1", "Semana -2"}
    # missing 'valor' column in file 3 → null-filled by-name union
    w2 = [r for r in rows if r["semana"] == "Semana -2"][0]
    assert w2["valor"] is None and w2["proposta"] == 9


def test_pending_stream_available_now(spark, tmp_path):
    snap = tmp_path / "snap1.parquet"
    pd.DataFrame(
        {
            "o_orderstatus": ["P", "P", "O"],
            "o_orderdate": pd.to_datetime(
                ["2024-01-01", "2024-01-02", "2024-01-03"]
            ).astype("datetime64[us]"),
            "o_totalprice": [10.0, 20.0, 99.0],
            "o_custkey": [1, 2, 3],
        }
    ).to_parquet(snap)

    schema = (
        "o_orderstatus string, o_orderdate timestamp, o_totalprice double, o_custkey long"
    )
    seen: list = []
    with drain(spark, "pending_test") as d:
        d.link(str(snap), "snap1.parquet")
        result = pending_stream(spark, d.watch, schema)
        d.run(result, "update", lambda df, epoch: seen.extend(df.collect()))
    assert seen, "stream produced no batches"
    total = sum(r["n_pendentes"] for r in seen)
    assert total == 2  # only the two PENDENTE rows
    assert all(r["snapshot"] == "snap1.parquet" for r in seen)


def test_excel_roundtrip_write_then_read(spark, tmp_path):
    """S8 → S1: write_excel a small aggregate, read_excel it back.

    Runs on the stdlib xlsx codec when openpyxl is absent (this
    container) and on pandas+openpyxl when present — same assertion
    either way, so the edge adapter is proven end-to-end, not gated.
    """
    from manipula_o_de_dataframes_spark.sources.io import read_excel, write_excel

    df = spark.createDataFrame(
        [("BUILDING", 3, 1234.5), ("AUTO", 1, -7.25)],
        "segmento string, n long, total double",
    )
    path = str(tmp_path / "resumo.xlsx")
    write_excel(df, path, sheet_name="Resumo")
    back = read_excel(spark, path, sheet_name="Resumo")
    rows = {r["segmento"]: (r["n"], r["total"]) for r in back.collect()}
    assert rows == {"BUILDING": (3.0, 1234.5), "AUTO": (1.0, -7.25)}


def test_excel_sheet_and_header_row_selection(spark, tmp_path):
    """S2/S3: sheet select by name (APC:150) + header-row-N semantics
    (MAC:149-158 — row N becomes the schema, rows above are dropped)."""
    from manipula_o_de_dataframes_spark.sources import xlsx_lite
    from manipula_o_de_dataframes_spark.sources.io import read_excel

    path = str(tmp_path / "multi.xlsx")
    xlsx_lite.write_sheets(
        path,
        {
            "Capa": [["relatorio comercial"], ["gerado em", "2024-01-01"]],
            "Base": [
                ["ignore this banner row"],
                ["Cliente", "Valor Orçado"],
                ["c1", 10.0],
                ["c2", 20.5],
            ],
        },
    )
    assert xlsx_lite.sheet_names(path) == ["Capa", "Base"]
    df = read_excel(spark, path, sheet_name="Base", header=1)
    assert df.columns == ["Cliente", "Valor Orçado"]
    got = {r["Cliente"]: r["Valor Orçado"] for r in df.collect()}
    assert got == {"c1": 10.0, "c2": 20.5}
    # header=0 on the same sheet: the banner row becomes the (ragged) schema
    banner = read_excel(spark, path, sheet_name="Base", header=0)
    assert banner.columns[0] == "ignore this banner row"


def test_timestamped_export_name():
    """X8: f'{stem}_{%Y%m%d_%H%M%S}.xlsx' (AP:110-111)."""
    from datetime import datetime

    from manipula_o_de_dataframes_spark.sources.io import timestamped_export_name

    fixed = datetime(2024, 3, 1, 13, 5, 9)
    assert (
        timestamped_export_name("propostas_pendentes", now=fixed)
        == "propostas_pendentes_20240301_130509.xlsx"
    )


def test_stateful_running_totals_across_batches(spark, tmp_path):
    """applyInPandasWithState carries per-key state ACROSS micro-batches:
    with maxFilesPerTrigger=1 the two snapshot files arrive as two
    batches, and the second batch's emission must include the first
    batch's counts — proving real state, not per-batch aggregation."""
    from manipula_o_de_dataframes_spark.streaming.stateful import running_totals_stream

    src = tmp_path / "stateful_src"
    src.mkdir()
    pd.DataFrame({"cliente": ["a", "a", "b"], "valor": [1.5, 2.5, 10.0]}).to_parquet(
        src / "f1.parquet"
    )
    pd.DataFrame({"cliente": ["a", "c"], "valor": [4.0, 7.25]}).to_parquet(
        src / "f2.parquet"
    )
    stream = (
        spark.readStream.schema("cliente string, valor double")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    result = running_totals_stream(stream, "cliente", "valor")
    emissions: list = []
    (
        result.writeStream.outputMode("update")
        .foreachBatch(lambda df, epoch: emissions.append((epoch, df.collect())))
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt_stateful"))
        .start()
        .awaitTermination()
    )
    batches = [b for _, rows in emissions for b in [rows] if b]
    assert len(batches) >= 2, f"expected >=2 micro-batches, got {len(batches)}"
    final = {r["key"]: (r["n"], r["total"]) for _, rows in emissions for r in rows}
    # final state equals the batch ground truth — totals accumulated
    assert final["a"] == (3, 8.0)  # 1.5+2.5 in batch 1, +4.0 in batch 2
    assert final["b"] == (1, 10.0)
    assert final["c"] == (1, 7.25)


def test_wrapper_surfaces(spark):
    """S4/S5/S9/O5: the thin driver-side adapters — header probe,
    preview scan, in-memory records, dev-mode head — exercised so no
    inventory row stays 'implemented but never run'."""
    from manipula_o_de_dataframes_spark.operators.sorting import head, sort
    from manipula_o_de_dataframes_spark.sources.io import (
        from_records,
        header_probe,
        preview,
    )

    df = from_records(
        spark,
        [{"Cliente": "c1", "Valor": 10.0}, {"Cliente": "c2", "Valor": 5.0}],
    )
    assert sorted(header_probe(df)) == ["Cliente", "Valor"]
    assert preview(df, 1).count() == 1
    assert head(df, 1).count() == 1
    got = [r["Cliente"] for r in sort(df, "Valor", ascending=False).collect()]
    assert got == ["c1", "c2"]


def test_structure_probe_header_heuristic(spark):
    """S7: the 'header row has no numeric cells' suggestion (MAC:683-691)."""
    from manipula_o_de_dataframes_spark.sources.io import structure_probe

    df = spark.createDataFrame(
        [("1", "2.5", "3"), ("a", "b", "c"), ("x", "9", "z")],
        ["c1", "c2", "c3"],
    )
    probe = structure_probe(df)
    assert probe["n_columns"] == 3
    assert len(probe["preview"]) == 3
    assert probe["suggested_header_row"] == 1  # first all-non-numeric row


def test_stream_foreachbatch_upsert_applies_cdc_across_batches(spark, tmp_path):
    """Streaming CDC apply: a base snapshot then an updates file arrive
    as separate micro-batches (maxFilesPerTrigger=1), and foreachBatch
    MERGEs each into a parquet state table with the same full-outer +
    coalesce core as q_upsert. The final state must equal the one-shot
    batch merge — exactly-once apply across micro-batches, the pattern
    a production CDC sink runs where no lakehouse table format exists.
    """
    import os
    import shutil

    from pyspark.sql import functions as F

    watch = tmp_path / "in"
    watch.mkdir()
    state = str(tmp_path / "state")
    base = spark.createDataFrame(
        [(1, "P", 100.0), (2, "P", 200.0), (3, "O", 300.0)],
        "k long, status string, total double",
    )
    updates = spark.createDataFrame(
        [(2, "F", 250.0), (4, "P", 400.0)],
        "k long, status string, total double",
    )
    # The file source lists plain FILES in the watch dir (a df.write
    # parquet DIRECTORY is invisible to it — zero batches, silently),
    # so stage each delivery as a single part file. Base named first:
    # the update batch must apply second (order matters for CDC).
    import glob

    def stage(df, dest: str) -> None:
        d = dest + "_stage"
        df.coalesce(1).write.parquet(d)
        shutil.move(glob.glob(os.path.join(d, "part-*.parquet"))[0], dest)
        shutil.rmtree(d)

    stage(base, str(watch / "a_base.parquet"))
    stage(updates, str(watch / "b_updates.parquet"))

    def apply_batch(bdf, epoch_id):
        s = bdf.sparkSession
        nxt = f"{state}_next_{epoch_id}"
        if os.path.isdir(state):
            cur = s.read.parquet(state)
            merged = cur.alias("t").join(bdf.alias("u"), "k", "full_outer").select(
                "k",
                F.coalesce("u.status", "t.status").alias("status"),
                F.coalesce("u.total", "t.total").alias("total"),
            )
        else:
            merged = bdf
        merged.write.mode("overwrite").parquet(nxt)
        shutil.rmtree(state, ignore_errors=True)
        os.rename(nxt, state)

    stream = spark.readStream.schema("k long, status string, total double").option(
        "maxFilesPerTrigger", 1
    ).parquet(str(watch))
    (
        stream.writeStream.foreachBatch(apply_batch)
        .trigger(availableNow=True)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
        .awaitTermination()
    )

    got = {r["k"]: (r["status"], r["total"]) for r in spark.read.parquet(state).collect()}
    assert got == {
        1: ("P", 100.0),
        2: ("F", 250.0),   # updated by batch 2
        3: ("O", 300.0),
        4: ("P", 400.0),   # inserted by batch 2
    }


def test_jsonl_corpus_roundtrip(spark, tmp_path):
    """S14: the filtered corpus exports to sharded JSONL and reads back
    value-identical under an explicit schema (the production contract —
    schema inference costs a full extra pass at scale)."""
    from manipula_o_de_dataframes_spark.queries import QUERIES
    from manipula_o_de_dataframes_spark.sources.io import read_jsonl, write_jsonl

    from .conftest import SF_SMOKE

    corpus = QUERIES["corpus_filter"](spark, SF_SMOKE)
    out = str(tmp_path / "corpus_jsonl")
    write_jsonl(corpus, out, n_shards=4)

    import glob

    shards = glob.glob(out + "/part-*")
    assert len(shards) == 4
    back = read_jsonl(spark, out, schema=corpus.schema)
    a = sorted(map(tuple, corpus.collect()))
    b = sorted(map(tuple, back.collect()))
    assert a == b and len(a) > 0


def test_csv_roundtrip_with_quoting(spark, tmp_path):
    """S15: executor-parallel CSV sink/source roundtrip — schema
    contract honored, embedded delimiters/quotes/newlines survive."""
    from manipula_o_de_dataframes_spark.sources.io import read_csv_table, write_csv

    df = spark.createDataFrame(
        [
            (1, 'comma, "quoted"', 3.5),
            (2, "line\nbreak", -0.25),
            (3, None, 0.0),
        ],
        "id long, note string, score double",
    )
    path = str(tmp_path / "csv_out")
    write_csv(df, path, n_shards=2)
    back = read_csv_table(
        spark, path, schema="id long, note string, score double", multiline=True
    )
    assert back.schema == df.schema
    got = {r["id"]: (r["note"], r["score"]) for r in back.collect()}
    assert got == {1: ('comma, "quoted"', 3.5), 2: ("line\nbreak", -0.25), 3: (None, 0.0)}


def test_csv_sink_is_sharded(spark, tmp_path):
    import glob

    from manipula_o_de_dataframes_spark.sources.io import write_csv

    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    path = str(tmp_path / "csv_shards")
    write_csv(df, path, n_shards=4)
    assert len(glob.glob(path + "/part-*")) == 4


def test_csv_failfast_raises_on_malformed_rows(spark, tmp_path):
    """The schema-contract path must fail LOUDLY on rows that don't
    parse — silent NULLs from PERMISSIVE mode are how bad partner
    files reach a training mix."""
    import pytest
    from py4j.protocol import Py4JJavaError

    from manipula_o_de_dataframes_spark.sources.io import read_csv_table

    p = tmp_path / "bad"
    p.mkdir()
    (p / "part-00000.csv").write_text("id,score\n1,2.5\nnot_an_int,oops\n")
    with pytest.raises(Py4JJavaError):
        read_csv_table(
            spark, str(p), schema="id long, score double"
        ).collect()


def test_distributed_excel_ingest_parses_on_executors(spark, tmp_path):
    """S1–S3 fleet-scale path (VERDICT r4 stretch): many workbooks →
    binaryFile scan → executor-side stdlib parse. Rows from every
    file must land with lineage, typed per the probe schema, and the
    plan must show the parse INSIDE the distributed stage (an Arrow
    python node over a binaryFile scan, nothing driver-side)."""
    from manipula_o_de_dataframes_spark.sources import xlsx_lite
    from manipula_o_de_dataframes_spark.sources.io import read_excel_distributed

    for k in range(3):
        xlsx_lite.write_sheets(
            str(tmp_path / f"lote_{k}.xlsx"),
            {
                "Plan": [
                    ["cliente", "valor", "ok"],
                    [f"c{k}a", 10.5 + k, True],
                    [f"c{k}b", 20.5 + k, False],
                ]
            },
        )
    df = read_excel_distributed(spark, str(tmp_path), sheet_name="Plan")
    assert df.columns == ["cliente", "valor", "ok", "source_file"]
    rows = df.collect()
    assert len(rows) == 6
    assert {r["source_file"] for r in rows} == {f"lote_{k}.xlsx" for k in range(3)}
    got = {(r["cliente"], r["valor"], r["ok"]) for r in rows}
    assert ("c1a", 11.5, True) in got and ("c2b", 22.5, False) in got
    assert dict(df.dtypes)["valor"] == "double"

    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "binaryFile" in plan or "BinaryFile" in plan, plan
    assert "MapInPandas" in plan or "ArrowEvalPython" in plan, plan


def test_distributed_excel_ingest_empty_dir_is_loud(spark, tmp_path):
    import pytest as _pytest

    from manipula_o_de_dataframes_spark.sources.io import read_excel_distributed

    (tmp_path / "not_excel.txt").write_text("x")
    with _pytest.raises(ValueError, match="no .xlsx files"):
        read_excel_distributed(spark, str(tmp_path))


def test_stream_static_enrich_matches_batch_exactly(spark):
    """Kappa parity for the stream-static dim enrich: replaying the
    staged feed through the map-side dimension join must reproduce the
    batch rollup row-for-row (decimal sums make this exact, not
    approximate)."""
    from manipula_o_de_dataframes_spark.queries import QUERIES

    from .conftest import SF_SMOKE

    batch = {tuple(r) for r in QUERIES["event_value_by_nation"](spark, SF_SMOKE).collect()}
    stream = {tuple(r) for r in QUERIES["enrich_stream"](spark, SF_SMOKE).collect()}
    assert batch == stream and len(batch) > 0


def test_distributed_excel_ingest_rejects_heterogeneous_workbooks(spark, tmp_path):
    """A workbook wider than the probe schema (or with renamed
    columns) must fail LOUDLY — the r5 review found the first version
    silently truncated extra cells, contradicting _infer_table's
    'never silently dropped' contract."""
    import pytest as _pytest

    from manipula_o_de_dataframes_spark.sources import xlsx_lite
    from manipula_o_de_dataframes_spark.sources.io import read_excel_distributed

    xlsx_lite.write_sheets(
        str(tmp_path / "a_first.xlsx"),
        {"S": [["cliente", "valor"], ["c1", 1.0]]},
    )
    xlsx_lite.write_sheets(
        str(tmp_path / "b_wider.xlsx"),
        {"S": [["cliente", "valor", "extra"], ["c2", 2.0, "lost?"]]},
    )
    with _pytest.raises(Exception, match="homogeneous"):
        read_excel_distributed(spark, str(tmp_path), sheet_name="S").collect()


def test_distributed_excel_ingest_survives_foreign_cwd_driver(tmp_path):
    """The external harness launches its OWN SparkSession from an
    arbitrary cwd with no repo on the worker sys.path — the executor
    closure must therefore pickle the xlsx codec BY VALUE, never
    `import manipula_o_de_dataframes_spark...` on a worker (the r7
    first cut did exactly that and died with ModuleNotFoundError).
    Reproduced in a subprocess: repo importable on the DRIVER only
    (sys.path insert), cwd and PYTHONPATH both pointing elsewhere."""
    import os
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})  # driver-side ONLY
        from pyspark.sql import SparkSession
        from manipula_o_de_dataframes_spark.sources import xlsx_lite
        from manipula_o_de_dataframes_spark.sources.io import read_excel_distributed
        spark = (SparkSession.builder.master("local[2]")
                 .config("spark.ui.enabled", "false").getOrCreate())
        xlsx_lite.write_sheets(
            "wb.xlsx", {{"S": [["cliente", "valor"], ["c1", 1.0], ["c2", 2.0]]}}
        )
        rows = read_excel_distributed(spark, ".", sheet_name="S").collect()
        assert len(rows) == 2 and {{r["cliente"] for r in rows}} == {{"c1", "c2"}}, rows
        print("FOREIGN_CWD_OK")
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "-c", script],
        cwd=str(tmp_path), env=env, capture_output=True, text=True, timeout=300,
    )
    assert p.returncode == 0 and "FOREIGN_CWD_OK" in p.stdout, (
        p.stdout[-2000:] + p.stderr[-2000:]
    )
