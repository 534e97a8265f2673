"""Output checks, run after the measured window.

- registry queries: ``parity.compare`` against ``parity.run_oracle`` of
  the query's DuckDB oracle, on the run's own input directory;
- dashboard pages: the pages collected during the window against the
  same page computed by DuckDB from the two pipeline oracles;
- refresh consumers: their oracles, on the last generated directory.

Each check returns a list of issue strings; empty means correct.
"""

from __future__ import annotations

import random

import pandas as pd

from manipula_o_de_dataframes_spark.oracles import ORACLES
from manipula_o_de_dataframes_spark.parity import compare, run_oracle
from manipula_o_de_dataframes_spark.queries import QUERIES


class _Collected:
    """The ``toPandas`` face ``parity.compare`` expects, over rows the
    benchmark already collected."""

    def __init__(self, rows, columns):
        self._pdf = pd.DataFrame([tuple(r) for r in rows], columns=columns)

    def toPandas(self) -> pd.DataFrame:
        return self._pdf


def check_query(spark, name: str, data_dir: str) -> list[str]:
    return compare(QUERIES[name](spark, data_dir), run_oracle(ORACLES[name], data_dir))


def _sql(name: str) -> str:
    return ORACLES[name].strip().rstrip(";")


def dashboard_page_sql(it: dict, page_size: int, key: list[str]) -> str:
    where = " AND ".join(
        f"{col} = '{val}'" for col, val in it["spec"].items() if val not in (None, "Todos")
    ) or "TRUE"
    direction = "DESC" if it["desc"] else "ASC"
    order = ", ".join([f"{it['col']} {direction}"] + [f"{k} ASC" for k in key])
    if it["kind"] == "top_k":
        limit, offset = it["page"] * page_size, 0
    else:
        limit, offset = page_size, (it["page"] - 1) * page_size
    return f"""
        WITH h AS (SELECT * FROM ({_sql('product_client_history')})),
             a AS (SELECT cliente, abc FROM ({_sql('abc_classification')}))
        SELECT h.*, a.abc FROM h JOIN a USING (cliente)
        WHERE {where}
        ORDER BY {order} LIMIT {limit} OFFSET {offset}"""


def check_dashboard(samples, columns, data_dir: str, page_size: int, key: list[str]) -> list[str]:
    issues = []
    for it, rows in samples:
        oracle = run_oracle(dashboard_page_sql(it, page_size, key), data_dir)[columns]
        for msg in compare(_Collected(rows, columns), oracle):
            issues.append(f"dashboard {it}: {msg}")
    return issues


def sample(names: list[str], k: int, seed: int) -> list[str]:
    return random.Random(seed).sample(names, min(k, len(names)))
