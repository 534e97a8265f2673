"""Seeded input generator: a TPC-H-shaped star schema plus the side tables.

Writes one parquet file per table, in the schemas the engine reads:
``region nation customer supplier part orders lineitem events documents
embeddings``. Every value comes from DuckDB's ``random()`` after
``setseed``, on one thread, so one seed always gives the same bytes.
Row counts are fixed (they do not depend on the seed), so only values
move between seeds, not the amount of work.
"""

from __future__ import annotations

import os
import shutil

import duckdb

# Row counts of one input directory (the shape of the sf0.01 fixture).
ROWS = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 50,
    "embeddings": 50,
}
EVENT_USERS = 150

_WORDS = [
    "data", "spark", "query", "table", "join", "order", "line", "value", "group",
    "window", "batch", "stream", "scan", "key", "part", "customer", "sort", "merge",
]


def _connect(seed: int) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads = 1")
    con.execute("SELECT setseed(?)", [((seed * 7919) % 1_000_003) / 1_000_003])
    return con


def _write(con: duckdb.DuckDBPyConnection, out_dir: str, name: str, sql: str) -> None:
    path = os.path.join(out_dir, f"{name}.parquet")
    con.execute(f"COPY ({sql}) TO '{path}' (FORMAT PARQUET)")


def generate(out_dir: str, seed: int) -> None:
    """Write every table of one input directory for ``seed``."""
    os.makedirs(out_dir, exist_ok=True)
    con = _connect(seed)
    n = ROWS
    _write(con, out_dir, "region", """
        SELECT i::INTEGER AS r_regionkey,
               ['AFRICA','AMERICA','ASIA','EUROPE','MIDDLE EAST'][i + 1] AS r_name
        FROM range(5) t(i)""")
    _write(con, out_dir, "nation", """
        SELECT i::INTEGER AS n_nationkey, 'NATION_' || i AS n_name,
               (i % 5)::INTEGER AS n_regionkey
        FROM range(25) t(i)""")
    _write(con, out_dir, "customer", f"""
        SELECT i::BIGINT AS c_custkey, 'Customer#' || lpad(i::VARCHAR, 9, '0') AS c_name,
               floor(random() * 25)::INTEGER AS c_nationkey,
               round(-999.99 + random() * 10999.98, 2) AS c_acctbal,
               ['AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY']
                   [1 + floor(random() * 5)::INTEGER] AS c_mktsegment
        FROM range({n['customer']}) t(i) ORDER BY i""")
    _write(con, out_dir, "supplier", f"""
        SELECT i::BIGINT AS s_suppkey, 'Supplier#' || lpad(i::VARCHAR, 9, '0') AS s_name,
               floor(random() * 25)::INTEGER AS s_nationkey,
               round(-999.99 + random() * 10999.98, 2) AS s_acctbal
        FROM range({n['supplier']}) t(i) ORDER BY i""")
    _write(con, out_dir, "part", f"""
        SELECT i::BIGINT AS p_partkey,
               ['small','red','hot','old','large','blue','cold','new'][1 + floor(random() * 8)::INTEGER]
                   || ' ' || ['ring','widget','plate','rod','gizmo','bolt','gear','anvil']
                   [1 + floor(random() * 8)::INTEGER] AS p_name,
               'Brand#' || (1 + floor(random() * 25)::INTEGER) AS p_brand,
               ['ECONOMY','STANDARD','LARGE','SMALL','MEDIUM','PROMO']
                   [1 + floor(random() * 6)::INTEGER] AS p_type,
               (1 + floor(random() * 50))::INTEGER AS p_size,
               round(900 + (i % 1000) * 0.1, 2) AS p_retailprice
        FROM range({n['part']}) t(i) ORDER BY i""")
    _write(con, out_dir, "orders", f"""
        SELECT i::BIGINT AS o_orderkey,
               floor(random() * {n['customer']})::BIGINT AS o_custkey,
               ['F','O','P'][1 + floor(random() * 3)::INTEGER] AS o_orderstatus,
               round(1000 + random() * 499000, 2) AS o_totalprice,
               (TIMESTAMP '1995-01-01' + to_days(floor(random() * 2404)::INTEGER)) AS o_orderdate,
               ['1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW']
                   [1 + floor(random() * 5)::INTEGER] AS o_orderpriority
        FROM range({n['orders']}) t(i) ORDER BY i""")
    # (l_orderkey, l_linenumber) is lineitem's key, as in TPC-H: each
    # line is numbered within its order.
    _write(con, out_dir, "lineitem", f"""
        SELECT l_orderkey, l_partkey, l_suppkey,
               row_number() OVER (PARTITION BY l_orderkey ORDER BY i)::INTEGER AS l_linenumber,
               l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag, l_linestatus,
               l_shipdate
        FROM (SELECT i,
               floor(random() * {n['orders']})::BIGINT AS l_orderkey,
               floor(random() * {n['part']})::BIGINT AS l_partkey,
               floor(random() * {n['supplier']})::BIGINT AS l_suppkey,
               (1 + floor(random() * 50))::DOUBLE AS l_quantity,
               round(900 + random() * 104100, 2) AS l_extendedprice,
               floor(random() * 11) / 100.0 AS l_discount,
               floor(random() * 9) / 100.0 AS l_tax,
               ['A','N','R'][1 + floor(random() * 3)::INTEGER] AS l_returnflag,
               ['O','F'][1 + floor(random() * 2)::INTEGER] AS l_linestatus,
               (TIMESTAMP '1995-01-02' + to_days(floor(random() * 2498)::INTEGER)) AS l_shipdate
              FROM range({n['lineitem']}) t(i))
        ORDER BY i""")
    _write(con, out_dir, "events", f"""
        SELECT i::BIGINT AS event_id,
               TIMESTAMP '2024-01-01' + to_microseconds(floor(random() * 2592000000000)::BIGINT) AS ts,
               floor(random() * {EVENT_USERS})::BIGINT AS user_id,
               ['click','signup','error','view','purchase'][1 + floor(random() * 5)::INTEGER]
                   AS event_type,
               round(0.01 + random() * 490, 2) AS value,
               '{{"k": ' || floor(random() * 100)::INTEGER || '}}' AS props
        FROM range({n['events']}) t(i) ORDER BY i""")
    words = "[" + ",".join(f"'{w}'" for w in _WORDS) + "]"
    _write(con, out_dir, "documents", f"""
        SELECT doc_id, text, lang, source, length(text)::BIGINT AS n_chars FROM (
            SELECT i::BIGINT AS doc_id,
                   array_to_string(list_transform(range(20 + (i % 17)::INTEGER),
                       x -> {words}[1 + floor(random() * {len(_WORDS)})::INTEGER]), ' ') AS text,
                   'en' AS lang, 'src' || (i % 5) AS source
            FROM range({n['documents']}) t(i)) ORDER BY doc_id""")
    _write(con, out_dir, "embeddings", f"""
        SELECT i::BIGINT AS vec_id,
               list_transform(range(16), x -> (random() - 0.5)::FLOAT) AS embedding,
               (i % 4)::INTEGER AS label
        FROM range({n['embeddings']}) t(i) ORDER BY i""")
    con.close()


def write_refresh(base_dir: str, out_dir: str, seed: int, share: float = 0.05) -> None:
    """Copy ``base_dir`` to ``out_dir`` with a new week's proposals.

    A seeded ``share`` of the orders changes ``o_orderstatus`` and
    ``o_totalprice``; every other table is copied byte for byte.
    """
    os.makedirs(out_dir, exist_ok=True)
    con = _connect(seed)
    for name in ROWS | {"region": 0, "nation": 0}:
        src = os.path.join(base_dir, f"{name}.parquet")
        if name != "orders":
            shutil.copyfile(src, os.path.join(out_dir, f"{name}.parquet"))
            continue
        _write(con, out_dir, "orders", f"""
            SELECT o_orderkey, o_custkey,
                   CASE WHEN c THEN ['F','O','P'][1 + floor(r * 3)::INTEGER]
                        ELSE o_orderstatus END AS o_orderstatus,
                   CASE WHEN c THEN round(o_totalprice * (0.9 + r * 0.2), 2)
                        ELSE o_totalprice END AS o_totalprice,
                   o_orderdate, o_orderpriority
            FROM (SELECT *, random() < {share} AS c, random() AS r
                  FROM read_parquet('{src}') ORDER BY o_orderkey)
            ORDER BY o_orderkey""")
    con.close()
