"""Sources & sinks (SURVEY.md §2.1, S1–S9).

Parquet is the scale path (the driver's testdata is parquet); the Excel
surface of the reference (``pd.read_excel`` at AP:12 / APC:37 / MAC:210)
is an edge adapter: reference inputs are ≤ tens of MB, so an Excel read
happens driver-side via pandas → ``createDataFrame`` and immediately
becomes a distributed DataFrame. Everything downstream is engine-agnostic.

Reference parity citations (files under
``/root/reference/Manipulação de Dataframes/``):

- S1 plain scan          — analise_pendentes.py:12, análise_produtos_clientes.py:37
- S2 sheet-name scan     — análise_produtos_clientes.py:150
- S3 header-row select   — manipulacao-analise-comercial.py:149-158
- S4 header-only probe   — manipulacao-analise-comercial.py:142
- S5 preview scan        — manipulacao-analise-comercial.py:174
- S6 ordered multi-file  — analise_pendentes.py:29-48
- S8 Excel sink          — analise_pendentes.py:110-114
- S9 in-memory records   — análise_produtos_clientes.py:301
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TPCH_TABLES = (
    "region nation customer supplier part orders lineitem "
    "events documents embeddings"
).split()


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """S1: scan one parquet table from a scale-factor directory.

    ``events.parquet``'s ts physical type varies by fixture generation:
    TIMESTAMP(NANOS) (which the Spark reader rejects without
    ``nanosAsLong``; read as bigint nanos and truncate to micro
    TIMESTAMP_NTZ like DuckDB does) or TIMESTAMP(MICROS)
    isAdjustedToUTC=false (read natively as TIMESTAMP_NTZ — the dtype
    check below is the adaptive branch). NTZ keeps rendering
    independent of the session timezone either way.
    """
    if name == "events":
        # session.get_spark declares this at build time; driver-owned
        # sessions may lack it. Setting it is idempotent (always "true",
        # never toggled back), so no cross-query surprise.
        if spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.expr("convert_timezone('UTC', timestamp_micros(ts div 1000))")
            )
        return df
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


def read_table_parallel(
    spark: SparkSession, sf_dir: str, name: str, by: tuple[str, ...] = ()
) -> DataFrame:
    """S1 + explicit fan-out — the single-row-group testdata workaround.

    The driver's parquet files hold ONE row group each, so a scan can
    never parallelize past one task regardless of split settings: every
    map-side join / partial aggregate downstream serializes onto a
    single core. An explicit ``repartition`` (user-specified N, which
    AQE will not coalesce) unlocks all cores for one narrow shuffle of
    the scan output.

    When ``by`` names a subset of the downstream aggregation keys, the
    hash partitioning also satisfies the aggregate's
    ClusteredDistribution, so the aggregate's own ENSURE_REQUIREMENTS
    exchange disappears — net shuffle count unchanged, map parallelism
    ×cores. On a real multi-file / multi-row-group table (any table at
    cluster scale) plain ``read_table`` is the right call: the scan
    already yields thousands of splits and this extra shuffle would be
    pure cost.
    """
    df = read_table(spark, sf_dir, name)
    n = spark.sparkContext.defaultParallelism
    cols = [F.col(c) for c in by]
    return df.repartition(n, *cols) if cols else df.repartition(n)


def read_tables(spark: SparkSession, sf_dir: str, *names: str) -> dict[str, DataFrame]:
    """Scan several tables at once (all lazy — no I/O until an action)."""
    return {n: read_table(spark, sf_dir, n) for n in (names or TPCH_TABLES)}


def read_excel(
    spark: SparkSession,
    path: str,
    sheet_name: str | int = 0,
    header: int = 0,
) -> DataFrame:
    """S1/S2/S3: Excel scan with sheet + header-row selection.

    Reference: pd.read_excel(file) AP:12; sheet name APC:150; header row
    MAC:149-158 (user-selectable 0–10 — "row N becomes the schema", rows
    above it dropped). Driver-side read, then distributed — reference
    inputs are ≤ tens of MB, the scale path is parquet. Prefers
    pandas+openpyxl; falls back to the stdlib xlsx codec
    (sources.xlsx_lite) when the Excel engine is not installed, so the
    reference's only input format works in a bare container.
    """
    try:
        import pandas as pd  # noqa: PLC0415

        pdf = pd.read_excel(path, sheet_name=sheet_name, header=header)
        pdf.columns = [str(c) for c in pdf.columns]
        return spark.createDataFrame(pdf)
    except ImportError:
        pass  # openpyxl (or pandas) missing → stdlib fallback
    from pyspark.sql.types import (  # noqa: PLC0415
        BooleanType,
        DoubleType,
        StringType,
        StructField,
        StructType,
    )

    from . import xlsx_lite  # noqa: PLC0415

    rows = xlsx_lite.read_rows(path, sheet_name)
    cols, types, data = _infer_table(rows, header)
    recs = [tuple(_coerce_cell(v, types[ci]) for ci, v in enumerate(r)) for r in data]
    schema = StructType([StructField(c, t) for c, t in zip(cols, types)])
    return spark.createDataFrame(recs, schema)


def _infer_table(rows: list[list], header: int):
    """Delegates to ``xlsx_lite.infer_table`` (moved so executor
    closures can pickle the codec module by value)."""
    from . import xlsx_lite  # noqa: PLC0415

    return xlsx_lite.infer_table(rows, header)


def _coerce_cell(v, t):
    from . import xlsx_lite  # noqa: PLC0415

    return xlsx_lite.coerce_cell(v, t)


def read_excel_distributed(
    spark: SparkSession,
    path: str,
    sheet_name: str | int = 0,
    header: int = 0,
) -> DataFrame:
    """S1–S3 at fleet scale: many homogeneous workbooks parsed ON THE
    EXECUTORS — closes the last driver-side source edge (VERDICT r4
    "What's missing" #1, where 10k workbook *files* would serialize
    through the driver).

    Plan: ``binaryFile`` scan (each workbook one row of bytes — Spark
    distributes the files across tasks) → ``mapInPandas`` batch parse
    with the same stdlib zip/XML codec the driver path uses
    (``xlsx_lite.read_rows`` accepts a file-like, so executors parse
    from the scanned bytes — no shared filesystem re-read, works on
    any store the Hadoop FileSystem can list). Schema comes from ONE
    probe workbook read driver-side (bounded: a single file's bytes —
    the ingest contract is homogeneous workbooks, the same contract
    ``read_ordered_snapshots`` documents); every file's cells then
    coerce to the probe schema, and ``source_file`` carries lineage
    exactly like the ordered-ingest path. At 100 TB of workbooks the
    bottleneck is the xlsx inflate, which this runs fleet-wide.
    """
    import io as _io  # noqa: PLC0415
    import os  # noqa: PLC0415

    from pyspark.sql.types import (  # noqa: PLC0415
        StringType,
        StructField,
        StructType,
    )

    from . import xlsx_lite  # noqa: PLC0415

    bins = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.xlsx")
        .load(path)
        .select("path", "content")
    )
    # Probe in two steps: paths only first (binaryFile prunes the
    # content column when unprojected), then ONE file's bytes — a
    # single-step probe with content in the projection would inflate
    # every workbook in the fleet just to pick the first row.
    first = bins.select("path").orderBy("path").limit(1).collect()
    if not first:
        raise ValueError(f"no .xlsx files under {path!r}")
    probe_bytes = (
        spark.read.format("binaryFile")
        .load(first[0]["path"])
        .select("content")
        .collect()[0]["content"]
    )
    cols, types, _ = _infer_table(
        xlsx_lite.read_rows(_io.BytesIO(probe_bytes), sheet_name), header
    )
    schema = StructType(
        [StructField(c, t) for c, t in zip(cols, types)]
        + [StructField("source_file", StringType())]
    )

    # The executor closure must survive a FOREIGN-CWD driver (the
    # external harness launches its own session with no repo on the
    # worker sys.path): pickle the stdlib codec module BY VALUE so the
    # worker never tries `import manipula_o_de_dataframes_spark...`.
    from pyspark import cloudpickle  # noqa: PLC0415

    cloudpickle.register_pickle_by_value(xlsx_lite)

    def _parse(batches):
        import pandas as pd  # noqa: PLC0415

        for pdf in batches:
            out = []
            for p, content in zip(pdf["path"], pdf["content"]):
                rows = xlsx_lite.read_rows(_io.BytesIO(bytes(content)), sheet_name)
                file_cols, _, data = xlsx_lite.infer_table(rows, header)
                base = os.path.basename(str(p))
                # Homogeneity contract, enforced LOUDLY: a file wider
                # than the probe schema would silently lose its extra
                # cells, and a renamed column would land values under
                # the wrong name — both are errors, never data loss.
                # (Fewer columns than the probe is the ordered-ingest
                # missing→null semantic and pads with None.)
                if len(file_cols) > len(cols) or list(file_cols) != list(
                    cols[: len(file_cols)]
                ):
                    raise ValueError(
                        f"workbook {base!r} header {file_cols!r} does not "
                        f"match the probe schema {cols!r} — distributed "
                        "xlsx ingest requires homogeneous workbooks"
                    )
                for r in data:
                    padded = (list(r) + [None] * len(cols))[: len(cols)]
                    out.append(
                        [
                            xlsx_lite.coerce_cell(v, types[ci])
                            for ci, v in enumerate(padded)
                        ]
                        + [base]
                    )
            yield pd.DataFrame(out, columns=[*cols, "source_file"])

    return bins.mapInPandas(_parse, schema)


def header_probe(df: DataFrame) -> list[str]:
    """S4: column names without reading data (pd.read_excel(nrows=0), MAC:142)."""
    return list(df.columns)


def preview(df: DataFrame, n: int = 5) -> DataFrame:
    """S5: first-n preview scan (MAC:174)."""
    return df.limit(n)


def read_ordered_snapshots(
    spark: SparkSession,
    paths: list[str],
    label_col: str = "semana",
    labels: list[str] | None = None,
) -> DataFrame:
    """S6: ordered multi-file scan with a position-derived label column.

    Reference: analise_pendentes.py:29-48 — file position idx becomes a
    "Semana" column (idx 0 → "Semana Atual", idx N → "Semana -N"), then
    all frames concat by NAME with missing columns null-filled (AP:48).

    Spark shape: per-file read + explicit file→label map + unionByName
    (allowMissingColumns=True). The label must come from the *user's file
    order*, which input_file_name() cannot provide — hence per-file reads.
    At scale each read is still a distributed parquet scan; the union is
    a zero-shuffle plan node.
    """
    if labels is None:
        labels = ["Semana Atual"] + [f"Semana -{i}" for i in range(1, len(paths))]
    frames = [
        spark.read.parquet(p).withColumn(label_col, F.lit(lab))
        for p, lab in zip(paths, labels)
    ]
    return reduce(lambda a, b: a.unionByName(b, allowMissingColumns=True), frames)


def structure_probe(df: DataFrame, n_rows: int = 5) -> dict:
    """S7: raw structure probe + header-row heuristic (MAC:662-691).

    Driver-side diagnostic (not a distributed op): row/column counts,
    the first ``n_rows`` as a matrix, and the suggested header row —
    the first previewed row containing no all-numeric cells, mirroring
    the reference's "a header row has no numbers" heuristic.
    """

    def _numeric(x) -> bool:
        try:
            float(str(x))
            return True
        except (TypeError, ValueError):
            return False

    rows = [list(r) for r in df.limit(n_rows).collect()]
    suggested = next(
        (i for i, r in enumerate(rows) if r and not any(_numeric(c) for c in r)),
        0,
    )
    return {
        "n_columns": len(df.columns),
        "columns": list(df.columns),
        "preview": rows,
        "suggested_header_row": suggested,
    }


def write_partitioned(
    df: DataFrame, path: str, partition_by: tuple[str, ...], mode: str = "overwrite"
) -> str:
    """S12: Hive-layout partitioned parquet sink (no reference
    counterpart — the reference's world is a single xlsx).

    This is the physical layout that makes the 100 TB read side work:
    a filter on a partition column becomes directory pruning
    (PartitionFilters in the scan, zero bytes read from excluded
    partitions) instead of row-level filtering. Choose low-cardinality,
    always-filtered columns (date, type, lang); high-cardinality keys
    belong in bucketing, not partitions (small-files explosion).
    Proven by tests/test_wrappers.py::test_partitioned_write_prunes.
    """
    df.write.mode(mode).partitionBy(*partition_by).parquet(path)
    return path


def write_excel(df: DataFrame, path: str, sheet_name: str = "Sheet1") -> str:
    """S8: Excel sink for small (post-aggregation) results (AP:110-114).

    Driver-side: collect → xlsx. pandas+openpyxl when installed, else
    the stdlib codec (sources.xlsx_lite) — same file either way.
    """
    pdf = df.toPandas()
    try:
        pdf.to_excel(path, index=False, sheet_name=sheet_name)
        return path
    except ImportError:
        pass  # openpyxl missing → stdlib fallback
    from . import xlsx_lite  # noqa: PLC0415

    def _plain(v):
        if v is None or (isinstance(v, float) and v != v):  # None/NaN
            return None
        if hasattr(v, "item"):  # numpy scalar
            v = v.item()
        return v if isinstance(v, (bool, int, float)) else str(v)

    rows = [[str(c) for c in pdf.columns]] + [
        [_plain(v) for v in row] for row in pdf.itertuples(index=False)
    ]
    return xlsx_lite.write_sheets(path, {sheet_name: rows})


def timestamped_export_name(stem: str, ext: str = "xlsx", now=None) -> str:
    """X8: timestamped export filename (AP:110-111).

    Reference: f"propostas_pendentes_{now:%Y%m%d_%H%M%S}.xlsx". ``now``
    is injectable for deterministic tests.
    """
    from datetime import datetime  # noqa: PLC0415

    ts = (now or datetime.now()).strftime("%Y%m%d_%H%M%S")
    return f"{stem}_{ts}.{ext}"


def from_records(spark: SparkSession, records: list[dict], schema=None) -> DataFrame:
    """S9: in-memory record source (pd.DataFrame(list_of_dicts), APC:301)."""
    return spark.createDataFrame(records, schema=schema)


def write_bucketed(df: DataFrame, table: str, key: str, n_buckets: int) -> None:
    """S13/S17: bucketed, bucket-sorted managed table — the co-located-join
    layout.

    Hash-bucketing both sides of a recurring join on the join key (same
    bucket count) pre-pays the shuffle ONCE at write time: every reader
    sees an output partitioning of ``hashpartitioning(key, n_buckets)``,
    so a join of two co-bucketed tables plans with NO Exchange on either
    side (asserted from the physical plan in tests). At 100 TB this is
    the difference between re-shuffling the fact table on every run of a
    daily join and never shuffling it again; ``sortBy`` additionally
    pre-sorts each bucket so single-file buckets skip the sort phase
    too. Uses Spark's built-in catalog (no Hive required) and lands in
    the session's temp warehouse (session.py), never the repo.
    """
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, key)
        .sortBy(key)
        .format("parquet")
        .saveAsTable(table)
    )


def write_jsonl(df: DataFrame, path: str, n_shards: int | None = None) -> None:
    """S14: JSONL corpus sink — the interchange format LLM training
    pipelines consume (one JSON object per line, gzip-friendly,
    sharded). ``n_shards`` controls output fan-in (None keeps the
    upstream partitioning — the right call at scale; a small explicit
    count is for handoff-sized exports). Spark's native json sink
    writes line-delimited JSON per partition file — no driver
    involvement, each executor streams its shard.
    """
    out = df.repartition(n_shards) if n_shards else df
    out.write.mode("overwrite").json(path)


def read_jsonl(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """S14 read side: schema given (production contract — inference
    costs a full extra pass at 100 TB) or inferred for ad-hoc use."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.json(path)


def write_csv(
    df: DataFrame,
    path: str,
    n_shards: int | None = None,
    header: bool = True,
    delimiter: str = ",",
) -> None:
    """S15: CSV sink — the lowest-common-denominator interchange format
    (partner handoffs, spreadsheet consumers, legacy loaders). Same
    sharding contract as the JSONL sink: ``n_shards=None`` keeps the
    upstream partitioning (the right call at scale), a small explicit
    count is for handoff-sized exports. Executor-parallel — the driver
    never sees a row (unlike the Excel sink, which is driver-side by
    format necessity).
    """
    out = df.repartition(n_shards) if n_shards else df
    (
        out.write.mode("overwrite")
        .option("header", str(header).lower())
        .option("sep", delimiter)
        .option("escape", '"')
        .csv(path)
    )


def read_csv_table(
    spark: SparkSession,
    path: str,
    schema=None,
    header: bool = True,
    delimiter: str = ",",
    multiline: bool = False,
) -> DataFrame:
    """S15 read side: schema given = production contract (no inference
    pass, malformed rows fail loudly via FAILFAST); schema omitted =
    ad-hoc inference (costs a full extra scan at 100 TB — fine for
    exploration, wrong for pipelines, same policy as ``read_jsonl``).

    ``multiline=True`` is required for quoted embedded newlines but
    makes each file NON-splittable (one task per file) — at scale,
    either guarantee newline-free fields (the default, splittable,
    line-parallel path) or accept per-file parallelism only.
    """
    reader = (
        spark.read.option("header", str(header).lower())
        .option("sep", delimiter)
        .option("escape", '"')
        .option("multiLine", str(multiline).lower())
    )
    if schema is not None:
        reader = reader.schema(schema).option("mode", "FAILFAST")
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def read_csv_quarantine(
    spark: SparkSession,
    path: str,
    schema: str,
    header: bool = True,
    delimiter: str = ",",
) -> tuple[DataFrame, DataFrame]:
    """S15's dead-letter variant: PERMISSIVE read with corrupt-record
    ROUTING instead of FAILFAST's all-or-nothing — returns
    ``(good, quarantine)`` where quarantine rows carry the raw line
    for replay/triage. The production middle ground: a contract
    violation must neither kill the job (FAILFAST at 100 TB dies on
    one bad line in a billion) nor silently become NULLs (plain
    PERMISSIVE launders type errors into missing data).

    ``schema`` is the DDL contract; the corrupt-record column is
    appended internally. Spark refuses to filter on the internal
    corrupt column straight off the scan (the raw line is not a real
    data column until materialized), so the parsed frame is spooled
    once — also what makes the two returned frames consistent (one
    read, one split, no re-scan race with a changing directory).
    """
    from ..operators.spool import spool  # noqa: PLC0415

    aug = schema + ", _corrupt_record string"
    parsed = (
        spark.read.option("header", str(header).lower())
        .option("sep", delimiter)
        .option("escape", '"')
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .schema(aug)
        .csv(path)
    )
    frame = spool(parsed)
    good = frame.filter(F.col("_corrupt_record").isNull()).drop(
        "_corrupt_record"
    )
    quarantine = frame.filter(F.col("_corrupt_record").isNotNull()).select(
        F.col("_corrupt_record").alias("raw_line")
    )
    return good, quarantine


def write_orc(df: DataFrame, path: str, partition_by: tuple[str, ...] = ()) -> None:
    """ORC sink (S18, r6) — the second columnar interchange format
    Spark ships natively (Hive/Trino ecosystems read it directly).
    Same footer-statistics story as parquet: min/max stripes power
    predicate pushdown on re-read, dictionary encoding for low-card
    strings. Partition columns become directory keys, exactly as the
    parquet writer's layout."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.orc(path)


def read_orc(spark: SparkSession, path: str, schema=None) -> DataFrame:
    """ORC scan (S18): schema-on-read when a schema is given (the CSV
    adapter's discipline — a declared schema keeps the scan one pass
    and makes missing columns loud), else footer inference. Filters
    pushed on read reach the stripe level (`PushedFilters` in the
    plan, pinned in tests)."""
    r = spark.read
    if schema is not None:
        r = r.schema(schema)
    return r.orc(path)
