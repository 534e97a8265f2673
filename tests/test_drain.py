"""The streaming layer's one drain primitive (``streaming/drain.py``)."""

from __future__ import annotations

import ast
import glob
import os
import tempfile
from datetime import datetime

import pandas as pd
import pyarrow.parquet as pq
import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from manipula_o_de_dataframes_spark.streaming.drain import drain

_STREAMING = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "manipula_o_de_dataframes_spark",
    "streaming",
)


def _boom(_df, _epoch):
    raise RuntimeError("boom")


@pytest.mark.parametrize("sink", ["foreachBatch", "memory"])
def test_failed_drain_reraises_and_leaves_nothing(spark, tmp_path, sink):
    tag = f"drain_fail_{sink}"
    src = tmp_path / "x.parquet"
    pd.DataFrame({"x": [1, 2, 3]}).to_parquet(src)
    partitions = spark.conf.get("spark.sql.shuffle.partitions")
    with pytest.raises(StreamingQueryException, match="boom"):
        with drain(spark, tag, "state") as d:
            made, name = list(d.dirs), d.name
            d.link(str(src), "x.parquet")
            stream = spark.readStream.schema("x long").parquet(d.watch)
            if sink == "memory":
                d.run(stream.select(F.raise_error(F.lit("boom")).alias("e")), "append")
            else:
                d.run(stream, batch=_boom)
    assert len(made) == 3 and not any(os.path.exists(p) for p in made)
    assert not glob.glob(os.path.join(tempfile.gettempdir(), f"manipula_{tag}_*"))
    assert not spark.catalog.tableExists(name)
    assert spark.conf.get("spark.sql.shuffle.partitions") == partitions


def _split_three(spark, d):
    """Three deliveries of which only the first has rows."""
    frame = spark.createDataFrame(
        [(1, datetime(2024, 1, 1, 12), "a"), (2, datetime(2024, 1, 2, 8), "b")],
        "id long, ts timestamp_ntz, s string",
    )
    d.split(frame, F.lit(1), 3)
    return [os.path.join(d.watch, f"delivery{i}.parquet") for i in (1, 2, 3)]


def test_split_writes_an_empty_schema_correct_delivery(spark):
    with drain(spark, "drain_split") as d:
        full, empty, _ = _split_three(spark, d)
        assert pq.read_metadata(full).num_rows == 2
        assert pq.read_metadata(empty).num_rows == 0
        written = pq.read_schema(full)
        assert [(f.name, f.type) for f in pq.read_schema(empty)] == [
            (f.name, f.type) for f in written
        ]
        back = spark.read.schema("id long, ts timestamp_ntz, s string").parquet(empty)
        assert back.count() == 0


def test_split_gives_deliveries_increasing_mtimes(spark):
    with drain(spark, "drain_split") as d:
        mtimes = [os.stat(p).st_mtime_ns for p in _split_three(spark, d)]
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == 3


def test_only_drain_py_runs_streams_or_owns_scratch():
    """Every drain in ``streaming/`` goes through ``drain.py``: no other
    module starts a stream query, makes a temp dir, drops a sink view or
    sets an mtime."""
    banned = {"writeStream", "mkdtemp", "dropTempView", "utime"}
    hits = []
    for path in sorted(glob.glob(os.path.join(_STREAMING, "*.py"))):
        if os.path.basename(path) == "drain.py":
            continue
        with open(path) as fh:
            tree = ast.parse(fh.read(), path)
        for node in ast.walk(tree):
            name = (
                node.attr if isinstance(node, ast.Attribute)
                else node.id if isinstance(node, ast.Name)
                else node.name.rsplit(".", 1)[-1] if isinstance(node, ast.alias)
                else None
            )
            if name in banned:
                hits.append(f"{os.path.basename(path)}:{node.lineno}: {name}")
    assert not hits, "drain plumbing outside streaming/drain.py:\n" + "\n".join(hits)
