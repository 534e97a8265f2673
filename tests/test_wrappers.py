"""Edge-adapter wrappers (S4/S5/S9, O5) — trivial by design, but each
one is reference surface (SURVEY §2.1/§2.7), so pin the contract."""

from __future__ import annotations

from manipula_o_de_dataframes_spark.operators.sorting import head
from manipula_o_de_dataframes_spark.sources.io import (
    from_records,
    header_probe,
    preview,
    read_table,
)

from .conftest import SF_SMOKE


def test_header_probe_names_without_scan(spark):
    df = read_table(spark, SF_SMOKE, "region")
    assert header_probe(df) == ["r_regionkey", "r_name"]


def test_preview_first_n(spark):
    df = read_table(spark, SF_SMOKE, "nation")
    assert preview(df, 3).count() == 3
    assert preview(df).count() == 5  # default n


def test_from_records_roundtrip(spark):
    recs = [{"cliente": "A", "valor": 1.5}, {"cliente": "B", "valor": None}]
    df = from_records(spark, recs, schema="cliente string, valor double")
    got = {r["cliente"]: r["valor"] for r in df.collect()}
    assert got == {"A": 1.5, "B": None}


def test_head_limit(spark):
    df = read_table(spark, SF_SMOKE, "customer")
    assert head(df, 7).count() == 7
    # limit past the table size returns everything, not an error
    assert head(df.limit(3), 10).count() == 3


def test_partitioned_write_prunes(spark, tmp_path):
    from manipula_o_de_dataframes_spark.sources.io import write_partitioned

    e = read_table(spark, SF_SMOKE, "events")
    out = str(tmp_path / "events_by_type")
    write_partitioned(e, out, ("event_type",))

    back = spark.read.parquet(out)
    clicks = back.filter(back["event_type"] == "click")
    plan = clicks._jdf.queryExecution().executedPlan().toString()
    # the filter must become directory pruning, not a row-level filter
    assert "PartitionFilters" in plan and "event_type" in plan.split("PartitionFilters")[1][:120]
    assert clicks.count() == e.filter(e["event_type"] == "click").count()
    # non-partition columns round-trip intact
    assert back.count() == e.count()


def test_xlsx_sheet_name_with_quotes_roundtrips(tmp_path):
    # regression: escape() leaves '"' alone — attribute context needs
    # quoteattr, else the workbook XML is corrupt
    from manipula_o_de_dataframes_spark.sources import xlsx_lite

    path = str(tmp_path / "q.xlsx")
    rows = [["col"], ["v1"]]
    xlsx_lite.write_sheets(path, {'Report "Q1" & more': rows})
    assert xlsx_lite.sheet_names(path) == ['Report "Q1" & more']
    assert xlsx_lite.read_rows(path, 'Report "Q1" & more') == rows


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """The 100 TB co-location claim, proven: two tables bucketed on the
    join key produce a join plan with ZERO Exchange — the shuffle was
    paid once at write time. (Broadcast disabled so the planner can't
    sidestep the question; bucket count matches so both sides'
    ClusteredDistribution is satisfied as-is.)"""
    from pyspark.sql import functions as F

    from manipula_o_de_dataframes_spark.sources.io import (
        read_table,
        write_bucketed,
    )

    old_wh = spark.conf.get("spark.sql.warehouse.dir", None)
    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        o = read_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
        li = read_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
        write_bucketed(o, "bk_orders", "o_orderkey", 4)
        write_bucketed(li, "bk_lineitem", "l_orderkey", 4)
        j = spark.table("bk_lineitem").join(
            spark.table("bk_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, f"bucketed join still shuffles:\n{plan}"
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        # and it computes the same thing as the plain join
        plain = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).count()
        assert j.count() == plain
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
        spark.sql("DROP TABLE IF EXISTS bk_orders")
        spark.sql("DROP TABLE IF EXISTS bk_lineitem")
