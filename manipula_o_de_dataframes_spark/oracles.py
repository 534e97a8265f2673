"""DuckDB oracle SQL — one ANSI-SQL equivalent per query in queries.py.

The driver runs each Spark query AND its oracle on the same parquet
tables (views: region nation customer supplier part orders lineitem
events documents embeddings) and compares row count + schema +
order-insensitive value hash. Parity rules mirrored from queries.py:
decimal sums, explicit tie-breaks, BIGINT counts, string-rendered
timestamps, md5-based hashing (engine-portable by construction).
"""

from __future__ import annotations

__all__ = ["ORACLES"]


def _brl(expr: str) -> str:
    """Mirror of functions.formatting.brl: exact-decimal '{:,.2f}'.

    COALESCE(..., '') mirrors brl()'s null_as_empty=True default — a NULL
    money value renders as '' on both sides (ADVICE r1: parity previously
    held only because the probed columns happen to be non-null).
    """
    d = f"CAST({expr} AS DECIMAL(18,2))"
    return (
        f"COALESCE('R$ ' || (CASE WHEN {d} < 0 THEN '-' ELSE '' END"
        f" || format('{{:,}}', CAST(trunc(abs({d})) AS BIGINT))"
        f" || '.' || lpad(CAST(CAST(abs({d}) * 100 % 100 AS BIGINT) AS VARCHAR), 2, '0')), '')"
    )


def _pct(expr: str) -> str:
    """Mirror of functions.formatting.pct (null → '', like _brl)."""
    d = f"CAST({expr} AS DECIMAL(18,2))"
    return (
        f"COALESCE((CASE WHEN {d} < 0 THEN '-' ELSE '' END"
        f" || format('{{:,}}', CAST(trunc(abs({d})) AS BIGINT))"
        f" || '.' || lpad(CAST(CAST(abs({d}) * 100 % 100 AS BIGINT) AS VARCHAR), 2, '0')) || '%', '')"
    )


def _dot(a: str, b: str, dims: int = 64) -> str:
    return (
        f"list_sum(list_transform(generate_series(1, {dims}), "
        f"i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)))"
    )


def _cos(a: str, b: str, dims: int = 64) -> str:
    return (
        f"round({_dot(a, b, dims)} / "
        f"(sqrt({_dot(a, a, dims)}) * sqrt({_dot(b, b, dims)})), 9)"
    )


def _centroid_values() -> str:
    """Render operators.similarity.fixed_centroids() as a DuckDB VALUES
    list — the SAME Python constants the Spark query inlines, so the
    two engines cannot drift (repr() is shortest-round-trip, and DuckDB
    parses decimal literals correctly rounded to the identical double)."""
    from .operators.similarity import fixed_centroids  # noqa: PLC0415

    return ", ".join(
        f"({cid}, [{', '.join(repr(x) for x in cv)}]::DOUBLE[])"
        for cid, cv in fixed_centroids()
    )


def _sign_bucket(vec: str, n_bits: int = 6) -> str:
    bits = " || ".join(
        f"(CASE WHEN {vec}[{i + 1}] >= 0 THEN '1' ELSE '0' END)" for i in range(n_bits)
    )
    return f"({bits})"


# Shared CTEs: word 3-shingles + 4-hash MinHash signature (mirror of
# operators.dedup.shingles/minhash: lexicographic MIN of seeded md5).
_SHINGLES_CTE = """
shing AS (
  SELECT doc_id, CASE WHEN text IS NULL THEN NULL ELSE list_distinct(list_transform(
    generate_series(1, greatest(len(str_split(text, ' ')) - 2, 1)),
    i -> array_to_string((str_split(text, ' '))[i:i+2], ' ')
  )) END AS sh
  FROM documents
)"""

# Mirror of operators.dedup.minhash_signature: ONE md5 per shingle,
# hash function i = i-th disjoint 8-hex-char slice of the digest.
_SIG_CTE = (
    _SHINGLES_CTE
    + """,
hashed AS (
  SELECT doc_id, list_transform(sh, x -> md5(x)) AS hs FROM shing
),
sig AS (
  SELECT doc_id,
    list_min(list_transform(hs, h -> substr(h, 1, 8))) AS mh0,
    list_min(list_transform(hs, h -> substr(h, 9, 8))) AS mh1,
    list_min(list_transform(hs, h -> substr(h, 17, 8))) AS mh2,
    list_min(list_transform(hs, h -> substr(h, 25, 8))) AS mh3
  FROM hashed
)"""
)

# Mirror of minhash_signature at n_hashes=8: digest group 0 is the
# plain md5, group 1 is md5('1:' || shingle); hash i = slice i % 4 of
# group i // 4.
_SIG8_CTE = (
    _SHINGLES_CTE
    + """,
hashed8 AS (
  SELECT doc_id,
    list_transform(sh, x -> md5(x)) AS hs0,
    list_transform(sh, x -> md5('1:' || x)) AS hs1
  FROM shing
),
sig8 AS (
  SELECT doc_id,
"""
    + ",\n".join(
        f"    list_min(list_transform(hs{i // 4}, h -> substr(h, {1 + 8 * (i % 4)}, 8))) AS mh{i}"
        for i in range(8)
    )
    + """
  FROM hashed8
)"""
)

# 4 bands × 2 rows over the 8-hash signature — ONE definition shared by
# near_dup_jaccard_banded and dedup_clusters so the two mirrors of
# operators/dedup.near_dup_pairs can never desynchronize. Byte-for-byte
# the engine's concat band keys (NULL hash → NULL band → no bucket).
_BANDS8_CTE = """
bands AS (
  SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7,
    unnest(['0|' || mh0 || '|' || mh1,
            '1|' || mh2 || '|' || mh3,
            '2|' || mh4 || '|' || mh5,
            '3|' || mh6 || '|' || mh7]) AS band
  FROM sig8
)"""

_STOPWORDS_SQL = "('the','a','and','of','to','in','is')"

_UNION_SQL = """
SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders WHERE o_orderstatus = 'O'
UNION ALL BY NAME
SELECT o_orderkey, o_orderstatus, strftime(o_orderdate, '%Y-%m-%d') AS data
FROM orders WHERE o_orderstatus = 'F'
"""


def _simhash_bits(n_bits: int = 16) -> str:
    parts = [
        f"(CASE WHEN 2 * len(list_filter(hs, h -> strpos('89abcdef', substr(h, {j}, 1)) > 0)) > len(hs) THEN '1' ELSE '0' END)"
        for j in range(1, n_bits + 1)
    ]
    # NULL feature list (NULL text) → NULL simhash, mirroring the
    # engine's NULL-signature contract; the bare CASE would render an
    # all-zeros fingerprint and band NULL docs together.
    return f"(CASE WHEN hs IS NULL THEN NULL ELSE {' || '.join(parts)} END)"


def _simhash_long(n_bits: int) -> str:
    """BIGINT SimHash render (string bit j → integer bit n_bits−j),
    mirroring ``operators/dedup.simhash_long``."""
    parts = [
        f"(CASE WHEN 2 * len(list_filter(hs, h -> strpos('89abcdef', substr(h, {j}, 1)) > 0)) > len(hs) THEN {1 << (n_bits - j)} ELSE 0 END)"
        for j in range(1, n_bits + 1)
    ]
    return f"(CASE WHEN hs IS NULL THEN NULL ELSE CAST({' + '.join(parts)} AS BIGINT) END)"


def _lang_hits(markers: tuple[str, ...]) -> str:
    inlist = ",".join(f"'{m}'" for m in markers)
    return f"len(list_filter(str_split(text, ' '), t -> t IN ({inlist})))"


_H_EN = _lang_hits(("the", "a", "and"))
_H_ES = _lang_hits(("el", "la", "de"))
_H_DE = _lang_hits(("der", "die", "und"))

# One pivot definition, shared by events_pivot and events_unpivot — a
# one-sided edit would silently make the unpivot check a different
# pivot than the pivot check.
_EVENTS_PIVOT_SQL = """
SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS semana,
  CAST(COUNT(CASE WHEN event_type = 'click' THEN 1 END) AS BIGINT) AS n_click,
  CAST(COUNT(CASE WHEN event_type = 'error' THEN 1 END) AS BIGINT) AS n_error,
  CAST(COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) AS BIGINT) AS n_purchase,
  CAST(COUNT(CASE WHEN event_type = 'signup' THEN 1 END) AS BIGINT) AS n_signup,
  CAST(COUNT(CASE WHEN event_type = 'view' THEN 1 END) AS BIGINT) AS n_view
FROM events GROUP BY 1
"""


ORACLES: dict[str, str] = {
    # --- reference surface --------------------------------------------------
    "abc_classification": """
WITH fact AS (
  SELECT o.o_custkey AS cliente, CAST(l.l_extendedprice AS DECIMAL(18,2)) AS val
  FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
), tot AS (
  SELECT cliente, SUM(val) AS total_dec FROM fact GROUP BY cliente
), w AS (
  SELECT cliente, total_dec,
    CAST(SUM(total_dec) OVER () AS DOUBLE) AS grand,
    CAST(SUM(total_dec) OVER (ORDER BY total_dec DESC, cliente
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cum,
    CAST(RANK() OVER (ORDER BY total_dec DESC) AS BIGINT) AS ranking
  FROM tot
)
SELECT w.cliente, c.c_name AS nome_cliente,
  CAST(total_dec AS DOUBLE) AS valor_total,
  CAST(total_dec AS DOUBLE) / grand * 100 AS percentual,
  cum / grand * 100 AS percentual_acumulado,
  CASE WHEN cum / grand * 100 <= 80 THEN 'A'
       WHEN cum / grand * 100 <= 95 THEN 'B' ELSE 'C' END AS abc,
  ranking
FROM w JOIN customer c ON w.cliente = c.c_custkey
""",
    "pending_by_week": """
SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS semana,
  CAST(COUNT(*) AS BIGINT) AS n_pendentes,
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_clientes,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS valor_total
FROM orders WHERE o_orderstatus = 'P' GROUP BY 1
""",
    "product_client_history": """
WITH fact AS (
  SELECT p.p_brand AS subgrupo, l.l_partkey AS produto, o.o_custkey AS cliente,
         strftime(l.l_shipdate, '%Y-%m-%d') AS dt,
         l.l_orderkey, l.l_linenumber, l.l_quantity, l.l_returnflag
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN part p ON l.l_partkey = p.p_partkey
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY subgrupo, produto, cliente
            ORDER BY dt DESC, l_orderkey DESC, l_linenumber DESC,
                     l_quantity DESC, l_returnflag DESC) AS rn
  FROM fact
)
SELECT subgrupo, produto, cliente,
  string_agg(dt, ',' ORDER BY dt, l_orderkey, l_linenumber, l_quantity, l_returnflag) AS datas,
  string_agg(CAST(l_quantity AS VARCHAR), ','
             ORDER BY dt, l_orderkey, l_linenumber, l_quantity, l_returnflag) AS quantidades,
  MAX(dt) AS ultima_data,
  MAX(CASE WHEN rn = 1 THEN l_returnflag END) AS ultimo_consultor,
  CAST(COUNT(*) AS BIGINT) AS n_interacoes,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qtd
FROM ranked GROUP BY subgrupo, produto, cliente
""",
    "customer_multi_agg": """
SELECT c_mktsegment AS segmento,
  CAST(COUNT(*) AS BIGINT) AS n_clientes,
  CAST(COUNT(DISTINCT c_nationkey) AS BIGINT) AS n_paises,
  CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS saldo_total,
  MIN(c_acctbal) AS saldo_min,
  MAX(c_acctbal) AS saldo_max,
  min_by(c_name, c_custkey) AS primeiro_cliente
FROM customer GROUP BY 1
""",
    "first_order_per_customer": """
SELECT cliente, primeira_data, primeiro_pedido FROM (
  SELECT o_custkey AS cliente,
         strftime(o_orderdate, '%Y-%m-%d') AS primeira_data,
         o_orderkey AS primeiro_pedido,
         ROW_NUMBER() OVER (PARTITION BY o_custkey
           ORDER BY strftime(o_orderdate, '%Y-%m-%d'), o_orderkey) AS rn
  FROM orders
) WHERE rn = 1
""",
    "dedup_keep_first": """
SELECT l_partkey, l_suppkey, dt, l_orderkey, l_linenumber FROM (
  SELECT l_partkey, l_suppkey, strftime(l_shipdate, '%Y-%m-%d') AS dt,
         l_orderkey, l_linenumber,
         ROW_NUMBER() OVER (PARTITION BY l_partkey, l_suppkey
           ORDER BY strftime(l_shipdate, '%Y-%m-%d'), l_orderkey, l_linenumber) AS rn
  FROM lineitem
) WHERE rn = 1
""",
    "anti_join_unmatched": """
SELECT DISTINCT l_partkey FROM lineitem
WHERE l_partkey NOT IN (SELECT p_partkey FROM part WHERE p_size <= 25)
""",
    "enrich_left_join": """
SELECT l.l_partkey, l.l_orderkey, l.l_linenumber,
  COALESCE(p.p_brand, 'SEM CADASTRO') AS marca,
  COALESCE(p.p_type, '') AS tipo
FROM lineitem l
LEFT JOIN (SELECT p_partkey, p_brand, p_type FROM part WHERE p_size <= 25) p
  ON l.l_partkey = p.p_partkey
""",
    "enrich_unique_left": """
WITH one AS (
  SELECT cliente, primeira_data, prioridade FROM (
    SELECT o_custkey AS cliente,
           strftime(o_orderdate, '%Y-%m-%d') AS primeira_data,
           o_orderpriority AS prioridade,
           ROW_NUMBER() OVER (PARTITION BY o_custkey
             ORDER BY strftime(o_orderdate, '%Y-%m-%d'), o_orderkey) AS rn
    FROM orders
  ) WHERE rn = 1
)
SELECT c.c_custkey AS cliente, c.c_name AS nome_cliente,
       c.c_mktsegment AS segmento, one.primeira_data, one.prioridade
FROM customer c LEFT JOIN one ON c.c_custkey = one.cliente
""",
    "lenient_dates": """
WITH dirty AS (
  SELECT o_orderkey,
    CASE WHEN o_orderkey % 5 = 0 THEN 'not a date'
         WHEN o_orderkey % 5 = 1 THEN '2024-13-45'
         ELSE strftime(o_orderdate, '%Y-%m-%d') END AS raw_dt
  FROM orders
)
SELECT o_orderkey, raw_dt,
       strftime(try_cast(raw_dt AS TIMESTAMP), '%Y-%m-%d') AS data
FROM dirty
""",
    "dynamic_filters": """
SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS data,
       o.o_totalprice, c.c_name AS nome_cliente
FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
WHERE o.o_orderstatus = 'F' AND c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate BETWEEN '1996-01-01' AND '1997-12-31'
""",
    "paginate_orders": """
SELECT o_orderkey, o_totalprice FROM (
  SELECT o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders
) WHERE rn > 50 AND rn <= 75
""",
    "top_k_customers": """
SELECT c_custkey, c_name, c_acctbal FROM customer
ORDER BY c_acctbal DESC, c_custkey LIMIT 10
""",
    "union_by_name": _UNION_SQL,
    "null_diagnostics": f"""
WITH u AS ({_UNION_SQL})
SELECT CAST(COUNT(CASE WHEN o_totalprice IS NULL THEN 1 END) AS BIGINT) AS o_totalprice_nulls,
       CAST(COUNT(CASE WHEN data IS NULL THEN 1 END) AS BIGINT) AS data_nulls,
       CAST(COUNT(*) AS BIGINT) AS total_rows
FROM u
""",
    "all_equal_collapse": """
SELECT l_orderkey AS pedido,
  CASE WHEN COUNT(DISTINCT l_returnflag) = 1 THEN MIN(l_returnflag) END AS flag_unico,
  string_agg(l_returnflag, ',' ORDER BY l_returnflag) AS flags,
  CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY 1
""",
    "format_currency": f"""
SELECT c_custkey,
  {_brl("c_acctbal")} AS saldo_brl,
  {_pct("c_acctbal / 100")} AS saldo_pct
FROM customer WHERE c_custkey <= 50
""",
    "distinct_combinations": """
SELECT DISTINCT p_brand AS marca, p_type AS tipo FROM part
""",
    "sorted_distinct_weeks": """
SELECT DISTINCT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS semana
FROM orders ORDER BY semana
""",
    "projection_ops": f"""
SELECT p_partkey, p_name AS nome,
  CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 11 AS DOUBLE) / 10 AS preco_com_taxa,
  {_brl("p_retailprice")} AS preco_brl
FROM part
""",
    "join_compatibility": """
WITH keys AS (SELECT DISTINCT l_partkey FROM lineitem),
dim AS (SELECT DISTINCT p_partkey FROM part WHERE p_size <= 25)
SELECT CAST(COUNT(*) AS BIGINT) AS fact_keys,
  CAST(COUNT(CASE WHEN d.p_partkey IS NULL THEN 1 END) AS BIGINT) AS unmatched,
  CASE WHEN COUNT(*) = 0 THEN 0.0
       ELSE CAST(COUNT(CASE WHEN d.p_partkey IS NULL THEN 1 END) AS DOUBLE)
            / CAST(COUNT(*) AS DOUBLE) * 100 END AS unmatched_pct
FROM keys k LEFT JOIN dim d ON k.l_partkey = d.p_partkey
""",
    "sessionize_events": """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS flag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
    CAST(SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sessao
  FROM flagged
)
SELECT user_id AS usuario, sessao,
  CAST(COUNT(*) AS BIGINT) AS n_eventos,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS inicio,
  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS fim,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS valor_total
FROM sess GROUP BY usuario, sessao
""",
    "sessionize_native": """
WITH flagged AS (
  SELECT user_id, event_id, ts, value,
    CASE WHEN ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS flag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, ts, value,
    SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sessao
  FROM flagged
)
SELECT user_id AS usuario,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS inicio,
  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS fim,
  CAST(COUNT(*) AS BIGINT) AS n_eventos,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS valor_total
FROM sess GROUP BY user_id, sessao
""",
    "weekly_deltas": """
WITH wk AS (
  SELECT strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS semana,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS tot
  FROM orders GROUP BY 1
)
SELECT semana,
  CAST(tot AS DOUBLE) AS valor_total,
  CAST(tot - LAG(tot) OVER (ORDER BY semana) AS DOUBLE) AS delta_semana,
  CAST(SUM(tot) OVER (ORDER BY semana ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
    / CAST(COUNT(*) OVER (ORDER BY semana ROWS BETWEEN 3 PRECEDING AND CURRENT ROW) AS DOUBLE)
    AS media_movel_4s,
  CAST(NTILE(10) OVER (ORDER BY tot DESC, semana) AS BIGINT) AS decil
FROM wk
""",
    "events_pivot": _EVENTS_PIVOT_SQL,
    "events_unpivot": f"""
WITH piv AS ({_EVENTS_PIVOT_SQL})
SELECT semana, 'click' AS tipo, n_click AS n FROM piv
UNION ALL SELECT semana, 'error', n_error FROM piv
UNION ALL SELECT semana, 'purchase', n_purchase FROM piv
UNION ALL SELECT semana, 'signup', n_signup FROM piv
UNION ALL SELECT semana, 'view', n_view FROM piv
""",
    "tuple_render": """
SELECT l_orderkey, l_linenumber,
  concat_ws(' | ',
    strftime(l_shipdate, '%Y-%m-%d'),
    CAST(l_discount AS VARCHAR),
    l_returnflag,
    CASE WHEN l_returnflag = 'R' THEN 'DEVOLUCAO-' || l_linestatus END
  ) AS tupla
FROM lineitem
""",
    "group_median_pandas": """
SELECT event_type AS tipo,
  round(median(value), 6) AS mediana,
  CAST(COUNT(*) AS BIGINT) AS n
FROM events GROUP BY 1
""",
    "sales_cube": """
SELECT l_returnflag, l_linestatus,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS total_qtd
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
""",
    "events_summary": """
SELECT event_type AS tipo,
  CAST(COUNT(*) AS BIGINT) AS n_eventos,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_usuarios,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS valor_total,
  strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS primeiro,
  strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS ultimo
FROM events GROUP BY 1
""",
    # --- north-star LLM-pipeline surface -------------------------------------
    "text_stats": f"""
WITH t AS (
  SELECT doc_id, text,
    CAST(len(str_split(text, ' ')) AS DOUBLE) AS n_tok,
    CAST(length(text) AS DOUBLE) AS n_char,
    CAST(len(list_filter(str_split(text, ' '), t -> t IN {_STOPWORDS_SQL})) AS DOUBLE) AS n_stop,
    {_H_EN} AS h_en, {_H_ES} AS h_es, {_H_DE} AS h_de
  FROM documents
)
SELECT doc_id,
  CAST(n_tok AS BIGINT) AS n_tokens,
  round(least(
      least((n_char - (n_tok - 1.0)) / n_tok / 8.0, 1.0) * 0.4
      + n_stop / n_tok * 2.0 * 0.3
      + least(n_char / 500.0, 1.0) * 0.3,
    1.0), 9) AS qualidade,
  CASE WHEN coalesce(greatest(h_de, h_en, h_es), 0) = 0 THEN 'und'
       WHEN h_de >= h_en AND h_de >= h_es THEN 'de'
       WHEN h_en >= h_es THEN 'en'
       ELSE 'es' END AS idioma_pred,
  md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' ')) AS fingerprint
FROM t
""",
    "doc_dedup_exact": """
SELECT doc_id, lang, source FROM (
  SELECT doc_id, lang, source,
         ROW_NUMBER() OVER (PARTITION BY md5(text) ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
""",
    "minhash_signatures": f"""
WITH {_SIG_CTE}
SELECT doc_id, mh0, mh1, mh2, mh3 FROM sig
""",
    "near_dup_jaccard": f"""
WITH {_SIG_CTE},
bands AS (
  SELECT doc_id, mh0, mh1, mh2, mh3,
         unnest(['0|' || mh0, '1|' || mh1, '2|' || mh2, '3|' || mh3]) AS band
  FROM sig
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(CAST(a.mh0 = b.mh0 AS INT) + CAST(a.mh1 = b.mh1 AS INT)
       + CAST(a.mh2 = b.mh2 AS INT) + CAST(a.mh3 = b.mh3 AS INT) AS BIGINT) AS n_agree
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b, p.n_agree,
  round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE), 9) AS jaccard
FROM pairs p
JOIN shing sa ON sa.doc_id = p.id_a
JOIN shing sb ON sb.doc_id = p.id_b
""",
    "boilerplate_ngrams": """
WITH shing AS (
  SELECT doc_id, source, CASE WHEN text IS NULL THEN NULL ELSE list_distinct(list_transform(
    generate_series(1, greatest(len(str_split(text, ' ')) - 2, 1)),
    i -> array_to_string((str_split(text, ' '))[i:i+2], ' ')
  )) END AS sh
  FROM documents
), ex AS (
  SELECT source, unnest(sh) AS shingle FROM shing
), dfreq AS (
  SELECT source, shingle, CAST(count(*) AS BIGINT) AS df FROM ex GROUP BY 1, 2
), tot AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents WHERE text IS NOT NULL GROUP BY 1
), ranked AS (
  SELECT d.source, d.shingle, d.df, t.n_docs,
    row_number() OVER (PARTITION BY d.source ORDER BY d.df DESC, d.shingle ASC) AS rn
  FROM dfreq d JOIN tot t ON d.source = t.source
)
SELECT source, shingle, df, n_docs, df * 1000000 // n_docs AS share_ppm
FROM ranked WHERE rn <= 5
""",
    "containment_near_dup": f"""
WITH {_SIG_CTE},
bands AS (
  SELECT doc_id, mh0, mh1, mh2, mh3,
         unnest(['0|' || mh0, '1|' || mh1, '2|' || mh2, '3|' || mh3]) AS band
  FROM sig
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST(CAST(a.mh0 = b.mh0 AS INT) + CAST(a.mh1 = b.mh1 AS INT)
       + CAST(a.mh2 = b.mh2 AS INT) + CAST(a.mh3 = b.mh3 AS INT) AS BIGINT) AS n_agree
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
), scored AS (
  SELECT p.id_a, p.id_b, p.n_agree,
    CAST(len(sa.sh) AS BIGINT) AS n_sh_a,
    CAST(len(sb.sh) AS BIGINT) AS n_sh_b,
    CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / CAST(least(len(sa.sh), len(sb.sh)) AS DOUBLE) AS containment
  FROM pairs p
  JOIN shing sa ON sa.doc_id = p.id_a
  JOIN shing sb ON sb.doc_id = p.id_b
)
SELECT id_a, id_b, n_agree, n_sh_a, n_sh_b,
       round(containment, 9) AS containment
FROM scored WHERE containment >= 0.8
""",
    "simhash": f"""
WITH t AS (
  SELECT doc_id,
         list_transform(list_distinct(str_split(text, ' ')), t -> md5(t)) AS hs
  FROM documents
)
SELECT doc_id, {_simhash_bits(16)} AS simhash FROM t
""",
    "embedding_topk": f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, {_cos("e.embedding", "q.qv")} AS cos_sim
  FROM embeddings e, q WHERE e.vec_id <> 0
)
SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 10
""",
    "embedding_lsh_buckets": f"""
SELECT {_sign_bucket("embedding")} AS bucket, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM embeddings GROUP BY 1
""",
    "embedding_lsh_topk": f"""
WITH b AS (
  SELECT vec_id, embedding, {_sign_bucket("embedding")} AS bucket FROM embeddings
), q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, {_cos("e.embedding", "q.qv")} AS cos_sim
  FROM b e, q WHERE e.bucket = q.qb AND e.vec_id <> 0
)
SELECT vec_id, cos_sim FROM scored ORDER BY cos_sim DESC, vec_id LIMIT 10
""",
    "embedding_batch_topk": f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 4
),
scored AS (
  SELECT q.query_id, e.vec_id, {_cos("e.embedding", "q.qv")} AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, vec_id) AS rn
  FROM scored
)
SELECT query_id, vec_id, cos_sim FROM ranked WHERE rn <= 10
""",
    # Composed end-to-end corpus build — each CTE mirrors the matching
    # standalone oracle verbatim (gopher_quality → normalize_text →
    # exact window dedup → dedup_clusters' recursive closure →
    # decontaminate's 8-gram probe → temperature_mix quotas →
    # pack_sequences bins), applied to the running result.
    "corpus_pipeline": """
WITH RECURSIVE
raw AS (
  SELECT doc_id, source, lang, text FROM documents WHERE text IS NOT NULL
),
meas AS (
  SELECT doc_id, source, lang, text,
    CAST(len(str_split(text, ' ')) AS DOUBLE) AS n_tok,
    CAST(length(text) AS DOUBLE) AS n_char,
    CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE) AS n_uniq,
    CAST(len(list_filter(str_split(text, ' '), t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT) AS stop_hits
  FROM raw
),
gated AS (
  SELECT doc_id, source, lang,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS t
  FROM meas
  WHERE CAST(n_tok AS BIGINT) BETWEEN 10 AND 1000
    AND round((n_char - (n_tok - 1.0)) / n_tok, 9) BETWEEN 2.0 AND 10.0
    AND round((n_tok - n_uniq) / n_tok, 9) <= 0.6
    AND stop_hits >= 2
),
exact AS (
  SELECT doc_id, source, lang, t FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY md5(t) ORDER BY doc_id) AS rn
    FROM gated
  ) WHERE rn = 1
),
shing AS (
  SELECT doc_id, list_distinct(list_transform(
    generate_series(1, greatest(len(str_split(t, ' ')) - 2, 1)),
    i -> array_to_string((str_split(t, ' '))[i:i+2], ' ')
  )) AS sh
  FROM exact
),
hashed8 AS (
  SELECT doc_id,
    list_transform(sh, x -> md5(x)) AS hs0,
    list_transform(sh, x -> md5('1:' || x)) AS hs1
  FROM shing
),
sig8 AS (
  SELECT doc_id,
    list_min(list_transform(hs0, h -> substr(h, 1, 8))) AS mh0,
    list_min(list_transform(hs0, h -> substr(h, 9, 8))) AS mh1,
    list_min(list_transform(hs0, h -> substr(h, 17, 8))) AS mh2,
    list_min(list_transform(hs0, h -> substr(h, 25, 8))) AS mh3,
    list_min(list_transform(hs1, h -> substr(h, 1, 8))) AS mh4,
    list_min(list_transform(hs1, h -> substr(h, 9, 8))) AS mh5,
    list_min(list_transform(hs1, h -> substr(h, 17, 8))) AS mh6,
    list_min(list_transform(hs1, h -> substr(h, 25, 8))) AS mh7
  FROM hashed8
),
bands AS (
  SELECT doc_id,
    unnest(['0|' || mh0 || '|' || mh1,
            '1|' || mh2 || '|' || mh3,
            '2|' || mh4 || '|' || mh5,
            '3|' || mh6 || '|' || mh7]) AS band
  FROM sig8
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
), edges AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN shing sa ON sa.doc_id = c.id_a
  JOIN shing sb ON sb.doc_id = c.id_b
  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= 0.5
), sym AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION ALL
  SELECT id_b, id_a FROM edges
), reach AS (
  SELECT doc_id AS u, doc_id AS v FROM exact
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
), clusters AS (
  SELECT u AS doc_id, MIN(v) AS cluster FROM reach GROUP BY u
),
surv AS (
  SELECT e.* FROM exact e
  JOIN clusters c ON c.doc_id = e.doc_id AND c.cluster = e.doc_id
),
bench AS (
  SELECT DISTINCT unnest(list_distinct(list_transform(
    range(1, greatest(len(str_split(bt, ' ')) - 6, 1)),
    i -> array_to_string((str_split(bt, ' '))[i:i+7], ' ')
  ))) AS g
  FROM (
    SELECT trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS bt
    FROM raw WHERE doc_id % 97 = 0
  )
),
corpus AS (SELECT * FROM surv WHERE doc_id % 97 <> 0),
cgrams AS (
  SELECT DISTINCT doc_id, unnest(list_distinct(list_transform(
    range(1, greatest(len(str_split(t, ' ')) - 6, 1)),
    i -> array_to_string((str_split(t, ' '))[i:i+7], ' ')
  ))) AS g
  FROM corpus
),
chits AS (SELECT DISTINCT cg.doc_id FROM cgrams cg JOIN bench b ON cg.g = b.g),
clean AS (
  SELECT c.* FROM corpus c LEFT JOIN chits h ON h.doc_id = c.doc_id
  WHERE h.doc_id IS NULL
),
cnts AS (SELECT source, COUNT(*) AS n FROM clean GROUP BY source),
wts AS (
  SELECT source, n,
         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS w
  FROM cnts
),
tt AS (SELECT SUM(w) AS sw, SUM(n) // 2 AS t FROM wts),
quota AS (SELECT source, least((tt.t * wts.w) // tt.sw, wts.n) AS k FROM wts, tt),
mixed AS (
  SELECT r.doc_id, r.source, r.lang, r.t
  FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
    FROM clean
  ) r JOIN quota q USING (source)
  WHERE r.rn <= q.k
)
SELECT doc_id, source, lang,
  CAST(len(str_split(t, ' ')) AS BIGINT) AS n_tokens,
  CAST(floor(
    (SUM(CAST(len(str_split(t, ' ')) AS BIGINT))
       OVER (PARTITION BY lang, source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
     - CAST(len(str_split(t, ' ')) AS BIGINT)) / 512.0) AS BIGINT) AS bin_id
FROM mixed
""",
    "kmeans_assign": f"""
WITH cents(cid, cv) AS (VALUES {_centroid_values()}),
scored AS (
  SELECT e.vec_id, c.cid, {_cos("e.embedding", "c.cv")} AS cs
  FROM embeddings e CROSS JOIN cents c
),
best AS (
  SELECT vec_id, cid,
         ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cs DESC, cid) AS rn
  FROM scored
)
SELECT CAST(cid AS INTEGER) AS cell,
       CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(MIN(vec_id) AS BIGINT) AS min_vec_id
FROM best WHERE rn = 1
GROUP BY cid
""",
    "multimodal_features": """
SELECT doc_id AS id,
  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
  md5(text) AS digest,
  CAST(octet_length(encode(text)) % 640 AS BIGINT) AS width,
  CAST((octet_length(encode(text)) * 7) % 480 AS BIGINT) AS height
FROM documents
""",
    "lsh_recall": f"""
WITH b AS (
  SELECT vec_id, embedding, {_sign_bucket("embedding")} AS bucket FROM embeddings
),
q AS (SELECT embedding AS qv, bucket AS qb FROM b WHERE vec_id = 0),
exact AS (
  SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
  ORDER BY {_cos("e.embedding", "q.qv")} DESC, e.vec_id LIMIT 10
),
approx AS (
  SELECT e.vec_id FROM b e, q WHERE e.bucket = q.qb AND e.vec_id <> 0
  ORDER BY {_cos("e.embedding", "q.qv")} DESC, e.vec_id LIMIT 10
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(COUNT(*) AS DOUBLE) / 10 AS recall_at_10
FROM exact JOIN approx USING (vec_id)
""",
    "pending_stream": """
SELECT 'orders.parquet' AS snapshot,
  strftime(make_timestamp(CAST(floor(epoch(o_orderdate) / 604800) * 604800 AS BIGINT)
    * 1000000), '%Y-%m-%d') AS semana_inicio,
  CAST(COUNT(*) AS BIGINT) AS n_pendentes,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS valor_total
FROM orders
WHERE o_orderstatus = 'P'
GROUP BY 2
""",
    "clean_pipeline": """
WITH dirty AS (
  SELECT CASE WHEN o_orderkey % 7 <> 0 THEN o_custkey END AS o_custkey,
         CASE WHEN o_orderkey % 14 <> 0 THEN o_orderdate END AS o_orderdate,
         CASE WHEN o_orderkey % 10 <> 0 THEN o_totalprice END AS o_totalprice,
         o_orderkey, o_orderstatus
  FROM orders
),
kept AS (SELECT * FROM dirty WHERE o_custkey IS NOT NULL OR o_orderdate IS NOT NULL),
filled AS (
  SELECT o_custkey, o_orderdate, COALESCE(o_totalprice, 0) AS o_totalprice,
         o_orderkey, o_orderstatus
  FROM kept
),
dedup AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY o_custkey, o_orderdate
    ORDER BY o_orderkey) AS rn
  FROM filled
)
SELECT o_custkey, strftime(o_orderdate, '%Y-%m-%d') AS data, o_totalprice,
       o_orderkey, o_orderstatus AS status
FROM dedup WHERE rn = 1
""",
    "embedding_near_dup": f"""
WITH n AS (
  SELECT vec_id, embedding, sqrt({_dot("embedding", "embedding")}) AS nrm
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round({_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 9) AS cos_sim
  FROM n a JOIN n b ON a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.4
""",
    "ivf_topk": f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 8
),
scored AS (
  SELECT e.vec_id, e.embedding, c.cid, {_cos("e.embedding", "c.cemb")} AS cc
  FROM embeddings e CROSS JOIN cent c
),
cells AS (
  SELECT vec_id, embedding, cid AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
    FROM scored
  ) WHERE rn = 1
),
q AS (SELECT embedding AS qv, cell AS qc FROM cells WHERE vec_id = 0)
SELECT c.vec_id, {_cos("c.embedding", "q.qv")} AS cos_sim
FROM cells c, q
WHERE c.cell = q.qc AND c.vec_id <> 0
ORDER BY cos_sim DESC, c.vec_id
LIMIT 10
""",
}

# The two-pass (bucketed) cumulative-sum variant is bit-identical to the
# single-window flagship by construction — it shares the same oracle.
ORACLES["abc_classification_scaled"] = ORACLES["abc_classification"]

# NOTE: events_sketches has NO oracle by design — approx_count_distinct
# and percentile_approx are implementation-defined sketches; the driver
# records the weaker rows-only check for it.
ORACLES["revenue_by_nation"] = """
SELECT n.n_name AS nacao,
  CAST(COUNT(*) AS BIGINT) AS n_itens,
  CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS n_clientes,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS valor_total
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
GROUP BY 1
"""

# DuckDB md5/substring only take VARCHAR; documents.text is pure ASCII
# at every SF (verified: octet_length(encode(text)) == length(text)),
# so the char crop hashes the same bytes as Spark's binary crop.
ORACLES["multimodal_resize"] = """
SELECT doc_id AS id,
  md5(substring(text, 1, 64)) AS digest_out,
  CAST(least(octet_length(encode(text)), 64) AS BIGINT) AS n_out
FROM documents
"""

# Pseudo-embedding mirror: dim c = sum of byte values at 1-based
# positions c+1, c+9, ... (text is pure ASCII at every SF, so ascii()
# on chars equals the byte values Spark's numpy path sums); the norm is
# one sqrt of an exact integer sum of squares.
_EMB_SUMS = ",\n".join(
    f"  COALESCE(list_sum(list_transform(generate_series({c + 1}, length(text), 8), "
    f"j -> ascii(substr(text, j, 1)))), 0) AS s{c}"
    for c in range(8)
)
_EMB_SS = " + ".join(f"s{c} * s{c}" for c in range(8))
_EMB_OUT = ",\n".join(
    f"  CASE WHEN ss = 0 THEN 0.0 ELSE round(CAST(s{c} AS DOUBLE) / sqrt(CAST(ss AS DOUBLE)), 9) END AS d{c}"
    for c in range(8)
)
ORACLES["multimodal_embed"] = f"""
WITH sums AS (
  SELECT doc_id AS id,
{_EMB_SUMS}
  FROM documents
),
withss AS (SELECT *, {_EMB_SS} AS ss FROM sums)
SELECT id,
{_EMB_OUT}
FROM withss
"""

ORACLES["multimodal_frames"] = """
WITH blobs AS (
  SELECT doc_id AS id, octet_length(encode(text)) AS n_bytes FROM documents
)
SELECT id, frame_idx FROM (
  SELECT id, CAST(unnest(generate_series(0, n_bytes % 30)) AS INT) AS frame_idx
  FROM blobs
) WHERE frame_idx % 10 = 0
"""

# ln() on integer-derived ratios, rounded to 9 dp on both sides before
# the argmax comparison and output.
ORACLES["tfidf_top_term"] = """
WITH n AS (SELECT COUNT(*) AS n_docs FROM documents),
terms AS (
  SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM terms GROUP BY 1, 2
),
idf AS (
  SELECT term, ln(CAST((SELECT n_docs FROM n) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS idf
  FROM tf GROUP BY term
),
scored AS (
  SELECT tf.doc_id, tf.term,
         round(CAST(tf.tf AS DOUBLE) * idf.idf, 9) AS score
  FROM tf JOIN idf USING (term)
),
ranked AS (
  SELECT doc_id, term, score,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY score DESC, term DESC) AS rn
  FROM scored
)
SELECT doc_id, term AS termo_top, score AS score_top
FROM ranked WHERE rn = 1
"""

# The admission gate reuses the text_stats mirror wholesale; winners =
# lowest id per exact-text group (the doc_dedup_exact canonical rule).
ORACLES["corpus_filter"] = f"""
WITH stats AS ({ORACLES["text_stats"]}),
winners AS (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5(text))
SELECT s.doc_id, s.idioma_pred AS idioma, s.n_tokens, s.qualidade
FROM stats s JOIN winners w ON s.doc_id = w.doc_id
WHERE s.idioma_pred IN ('en', 'es')
  AND s.n_tokens BETWEEN 5 AND 500
  AND s.qualidade >= 0.3
"""

# Deterministic md5-prefix split (operators/sampling.py): fixed-width
# hex compare ≡ numeric bucket compare, identical in any engine.
ORACLES["train_split"] = """
SELECT
  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
       ELSE 'test' END AS split,
  lang,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1, 2
"""

# Gopher-style rule mirror: same integer-derived doubles, same
# division order, round 9 before comparison on both sides.
ORACLES["gopher_quality"] = f"""
WITH t AS (
  SELECT doc_id,
    CAST(len(str_split(text, ' ')) AS DOUBLE) AS n_tok,
    CAST(length(text) AS DOUBLE) AS n_char,
    CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE) AS n_uniq,
    CAST(len(list_filter(str_split(text, ' '), t -> t IN {_STOPWORDS_SQL})) AS BIGINT) AS stop_hits
  FROM documents
),
m AS (
  SELECT doc_id,
    CAST(n_tok AS BIGINT) AS n_tokens,
    round((n_char - (n_tok - 1.0)) / n_tok, 9) AS mean_tok_len,
    round((n_tok - n_uniq) / n_tok, 9) AS dup_ratio,
    stop_hits
  FROM t
)
SELECT *,
  n_tokens BETWEEN 10 AND 1000 AS ok_tokens,
  mean_tok_len BETWEEN 2.0 AND 10.0 AS ok_mean_len,
  dup_ratio <= 0.6 AS ok_repetition,
  stop_hits >= 2 AS ok_stopwords,
  (n_tokens BETWEEN 10 AND 1000) AND (mean_tok_len BETWEEN 2.0 AND 10.0)
    AND dup_ratio <= 0.6 AND stop_hits >= 2 AS passes
FROM m
"""

ORACLES["fingerprint_dedup"] = """
SELECT
  md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' ')) AS fingerprint,
  MIN(doc_id) AS canonical_id,
  COUNT(*) AS n_docs
FROM documents
GROUP BY 1
"""

ORACLES["stratified_docs"] = """
SELECT doc_id, lang, source FROM documents
QUALIFY ROW_NUMBER() OVER (
  PARTITION BY lang ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
) <= 20
"""

# Blocked near-dup: candidates restricted to equal sign-LSH buckets,
# scoring expression identical to embedding_near_dup.
ORACLES["embedding_near_dup_blocked"] = f"""
WITH n AS (
  SELECT vec_id, embedding, sqrt({_dot("embedding", "embedding")}) AS nrm,
         {_sign_bucket("embedding")} AS b
  FROM embeddings
),
scored AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round({_dot("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 9) AS cos_sim
  FROM n a JOIN n b ON a.b = b.b AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cos_sim FROM scored WHERE cos_sim >= 0.4
"""

# Banded LSH (8 hashes, 4 bands × 2 rows): a band key fires only when
# both of its hashes agree; band-key strings match Spark's
# NULL-propagating concat band keys byte-for-byte.
ORACLES["near_dup_jaccard_banded"] = f"""
WITH {_SIG8_CTE},{_BANDS8_CTE}, pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST({" + ".join(f"CAST(a.mh{i} = b.mh{i} AS INT)" for i in range(8))} AS BIGINT) AS n_agree
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b, p.n_agree,
  round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE), 9) AS jaccard
FROM pairs p
JOIN shing sa ON sa.doc_id = p.id_a
JOIN shing sb ON sb.doc_id = p.id_b
"""

# SimHash near-dup: 4 pigeonhole bands (8 bits each) over the 32-bit
# SHINGLE-feature fingerprint rendered as a BIGINT; band keys are
# shift/mask slices (band_idx·2^8 + slice) and the exact verify is one
# bit_count(xor(...)), mirroring the engine's integer pipeline.
ORACLES["simhash_near_dup"] = f"""
WITH {_SHINGLES_CTE},
t AS (
  SELECT doc_id, list_transform(sh, x -> md5(x)) AS hs FROM shing
),
sh AS (SELECT doc_id, {_simhash_long(32)} AS fp FROM t),
bands AS (
  SELECT doc_id, fp, unnest([
    0 * 256 + ((fp >> 24) & 255), 1 * 256 + ((fp >> 16) & 255),
    2 * 256 + ((fp >> 8) & 255), 3 * 256 + (fp & 255)]) AS band
  FROM sh
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         a.fp AS fa, b.fp AS fb
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, CAST(bit_count(xor(fa, fb)) AS BIGINT) AS hamming
FROM pairs
WHERE bit_count(xor(fa, fb)) <= 3
"""

# Connected-components dedup: edges = banded-LSH pairs verified at
# Jaccard >= 0.5; cluster label = min id reachable through the
# transitive closure (mirrors Spark's min-label propagation fixpoint).
ORACLES["dedup_clusters"] = f"""
WITH RECURSIVE {_SIG8_CTE},{_BANDS8_CTE}, cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
), edges AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN shing sa ON sa.doc_id = c.id_a
  JOIN shing sb ON sb.doc_id = c.id_b
  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= 0.5
), sym AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION ALL
  SELECT id_b, id_a FROM edges
), reach AS (
  SELECT doc_id AS u, doc_id AS v FROM documents
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
)
SELECT u AS doc_id, MIN(v) AS cluster FROM reach GROUP BY u
"""

# Mergeable-HLL rollup: raw estimates are engine-specific, so the
# checked projection is the exact fields plus the cross-engine-stable
# accuracy claim (both HLLs are ~2% estimators; ±10% ≈ 6σ, so the
# boolean only disagrees when an estimator is genuinely broken).
ORACLES["hll_mergeable"] = """
SELECT strftime(date_trunc('week', ts), '%Y-%m-%d') AS semana,
  CAST(COUNT(DISTINCT strftime(ts, '%Y-%m-%d')) AS BIGINT) AS n_dias,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS usuarios_exatos,
  (abs(CAST(approx_count_distinct(user_id) AS DOUBLE)
       / CAST(COUNT(DISTINCT user_id) AS DOUBLE) - 1) <= 0.10)
    AS sketch_dentro_10pct
FROM events GROUP BY 1
"""

# PII scrub: phone-shaped spans first, then leftover long digit runs —
# same two-pass order as the engine; DuckDB needs the 'g' flag for
# replace-all (Spark regexp_replace is global by default).
ORACLES["pii_scrub"] = """
WITH c AS (
  SELECT c_custkey,
    concat_ws(' ', c_name,
      concat_ws('-',
        CAST(c_custkey % 90 + 10 AS VARCHAR),
        CAST((c_custkey * 7) % 900 + 100 AS VARCHAR),
        CAST((c_custkey * 13) % 900 + 100 AS VARCHAR),
        CAST((c_custkey * 31) % 9000 + 1000 AS VARCHAR)),
      c_mktsegment) AS contact
  FROM customer
)
SELECT c_custkey,
  regexp_replace(
    regexp_replace(contact, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}', '[PHONE]', 'g'),
    '[0-9]{7,}', '[ID]', 'g') AS contato_redigido,
  CAST(len(regexp_extract_all(contact, '[0-9]{2}-[0-9]{3}-[0-9]{3}-[0-9]{4}')) AS BIGINT)
    AS n_telefones
FROM c
"""

# Greedy sequence packing: bin = tokens-before-this-doc div 512 within
# each (lang, source) shard in doc_id order.
ORACLES["pack_sequences"] = """
WITH t AS (
  SELECT doc_id, lang, source,
    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
  FROM documents WHERE text IS NOT NULL
)
SELECT doc_id, lang, source, n_tokens,
  CAST(floor(
    (SUM(n_tokens) OVER (PARTITION BY lang, source ORDER BY doc_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
     - n_tokens) / 512.0) AS BIGINT) AS bin_id
FROM t
"""

# Per-doc repetition: duplicate-token ratio + top-bigram share of the
# n-1 bigram slots; NULL text / sub-bigram docs stay NULL end-to-end.
ORACLES["repetition_signals"] = """
WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
bg AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, len(t) - 1),
                          i -> t[i] || ' ' || t[i + 1])) AS bigrama
  FROM toks WHERE len(t) >= 2
),
top AS (
  SELECT doc_id, MAX(n) AS top_n FROM (
    SELECT doc_id, bigrama, COUNT(*) AS n FROM bg GROUP BY 1, 2
  ) GROUP BY 1
),
stats AS (
  SELECT doc_id,
    CASE WHEN t IS NULL THEN NULL ELSE CAST(len(t) AS BIGINT) END AS n_tokens,
    CASE WHEN t IS NULL THEN NULL
         ELSE round((CAST(len(t) AS DOUBLE) - len(list_distinct(t))) / len(t), 9)
    END AS dup_ratio
  FROM toks
)
SELECT s.doc_id, s.n_tokens, s.dup_ratio,
  CAST(top_n AS BIGINT) AS top_bigram_n,
  round(CAST(top_n AS DOUBLE) / (s.n_tokens - 1), 9) AS top_bigram_frac
FROM stats s LEFT JOIN top USING (doc_id)
"""

# int8 quantization: half-up via floor(x+0.5) (native round ties differ
# across engines); float→double promotion is exact, and the expression
# association mirrors the Spark side token-for-token.
ORACLES["embedding_quantize"] = """
WITH m AS (
  SELECT vec_id,
    list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma,
    unnest(list_transform(generate_series(1, len(embedding)),
                          i -> {'dim': i, 'x': embedding[i]})) AS u
  FROM embeddings
)
SELECT vec_id, CAST(u.dim AS BIGINT) AS dim,
  CAST(CASE WHEN ma = 0 THEN 0
       ELSE floor(CAST(u.x AS DOUBLE) * 127.0 / ma + 0.5) END AS BIGINT) AS q,
  round(CASE WHEN ma = 0 THEN 0.0 ELSE ma / 127.0 END, 9) AS scale
FROM m
"""

# Per-source dup-rate governance report; distincts over digests so the
# comparison never ships text.
ORACLES["dedup_rate_by_source"] = """
WITH t AS (
  SELECT source, md5(text) AS h,
    md5(array_to_string(list_sort(list_distinct(str_split(text, ' '))), ' ')) AS fp
  FROM documents
)
SELECT source,
  CAST(COUNT(*) AS BIGINT) AS n_docs,
  CAST(COUNT(DISTINCT h) AS BIGINT) AS n_exact_distintos,
  CAST(COUNT(DISTINCT fp) AS BIGINT) AS n_fingerprint_distintos,
  round(1 - CAST(COUNT(DISTINCT h) AS DOUBLE) / COUNT(*), 9) AS taxa_dup_exata,
  round(1 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 9) AS taxa_dup_fingerprint
FROM t GROUP BY source
"""

ORACLES["top_bigrams"] = """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
bg AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS bigrama
  FROM toks WHERE len(t) >= 2
)
SELECT bigrama, CAST(COUNT(*) AS BIGINT) AS n
FROM bg GROUP BY 1
ORDER BY n DESC, bigrama
LIMIT 20
"""

ORACLES["date_slice_metrics"] = """
SELECT strftime(l_shipdate, '%Y-%m') AS mes,
  CAST(COUNT(*) AS BIGINT) AS n_linhas,
  CAST(COUNT(DISTINCT CASE WHEN l_returnflag = 'R' THEN l_suppkey END) AS BIGINT)
    AS fornecedores_devolucao,
  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS valor_total
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1994-01-01' AND l_shipdate <= TIMESTAMP '1994-12-31'
GROUP BY 1
"""

# Salting is invisible to semantics: the oracle is the naive ordered
# string_agg; the Spark side must reproduce it exactly post-merge.
ORACLES["skewed_flag_history"] = """
SELECT l_returnflag AS flag,
  md5(string_agg(
        strftime(l_shipdate, '%Y-%m-%d') || '/' || l_orderkey || '/' || l_linenumber,
        ','
        ORDER BY strftime(l_shipdate, '%Y-%m-%d'), l_orderkey, l_linenumber)) AS historia_md5,
  CAST(COUNT(*) AS BIGINT) AS n
FROM lineitem GROUP BY 1
"""

ORACLES["weekly_snapshots"] = """
SELECT CASE o_orderkey % 3 WHEN 0 THEN 'Semana Atual'
                           WHEN 1 THEN 'Semana -1'
                           ELSE 'Semana -2' END AS semana,
  CAST(COUNT(*) AS BIGINT) AS n_pendentes,
  CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_clientes,
  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS valor_total
FROM orders WHERE o_orderstatus = 'P'
GROUP BY 1
"""

# Dashboard serve path = filter → stable sort → page 2 (rows 51-100)
# over the product_client_history result (CTE-wrapped reuse).
ORACLES["dashboard_serve"] = f"""
WITH hist AS ({ORACLES["product_client_history"]}),
paged AS (
  SELECT *, ROW_NUMBER() OVER (ORDER BY n_interacoes DESC, produto, cliente) AS pg
  FROM hist WHERE ultimo_consultor = 'R'
)
SELECT subgrupo, produto, cliente, datas, quantidades, ultima_data,
       ultimo_consultor, n_interacoes, total_qtd
FROM paged WHERE pg > 50 AND pg <= 100
"""

# As-of join mirror: deliberately a different algorithm (nested-loop
# inequality join + rank) than the engine's union-merge plan, so the
# check is independent. Tie order (vts DESC, vid DESC) mirrors the
# engine's (ts, side, event_id) running-last pick.
ORACLES["event_attribution"] = """
WITH p AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
v AS (SELECT event_id, user_id, ts FROM events WHERE event_type = 'view'),
j AS (
  SELECT p.event_id AS compra, p.user_id AS usuario, p.ts AS pts, p.value AS valor,
         v.event_id AS vid, v.ts AS vts
  FROM p LEFT JOIN v ON v.user_id = p.user_id AND v.ts <= p.ts
),
r AS (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY compra ORDER BY vts DESC NULLS LAST, vid DESC) AS rn
  FROM j
)
SELECT compra, usuario, strftime(pts, '%Y-%m-%d %H:%M:%S') AS ts_compra, valor,
       vid AS view_asof, strftime(vts, '%Y-%m-%d %H:%M:%S') AS ts_view
FROM r WHERE rn = 1
"""

# Interval self-join mirror: plain inequality join (no bucketing) —
# independent of the engine's bucket-replicated plan.
ORACLES["neighbor_counts"] = """
SELECT p.event_id AS evento, p.user_id AS usuario,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS quando,
       COUNT(b.event_id) AS n_vizinhos
FROM events p
LEFT JOIN events b
  ON b.user_id = p.user_id AND b.ts < p.ts AND b.ts >= p.ts - INTERVAL 1 HOUR
GROUP BY p.event_id, p.user_id, p.ts
"""

# Hourly continuous-aggregate mirror: same fixed-origin bucket key and
# integer RANGE frame; decimal sums / double division per the recipe.
ORACLES["events_rollup"] = """
WITH g AS (
  SELECT CAST(FLOOR(date_diff('second', TIMESTAMP '1990-01-01', ts) / 3600) AS BIGINT) AS hb,
         event_type AS tipo,
         CAST(COUNT(*) AS BIGINT) AS n_eventos,
         SUM(CAST(value AS DECIMAL(18,2))) AS tot
  FROM events GROUP BY 1, 2
)
SELECT strftime(TIMESTAMP '1990-01-01' + to_hours(hb), '%Y-%m-%d %H:%M:%S') AS hora,
       tipo, n_eventos,
       CAST(tot AS DOUBLE) AS valor_total,
       CAST(SUM(tot) OVER w AS DOUBLE) / CAST(COUNT(*) OVER w AS DOUBLE) AS media_movel_3h
FROM g
WINDOW w AS (PARTITION BY tipo ORDER BY hb RANGE BETWEEN 2 PRECEDING AND CURRENT ROW)
"""

# BPE-ish token profile: same first-char-disjoint regex on both engines.
ORACLES["token_profile"] = """
SELECT doc_id,
  CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens_ws,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9 ]')) AS BIGINT) AS n_tokens_bpe,
  round(CAST(length(text) AS DOUBLE)
        / CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]{1,3}|[^A-Za-z0-9 ]')) AS DOUBLE),
        9) AS chars_per_token
FROM documents
"""

# Decontamination mirror: unnest-based 8-gram expansion + join against
# the benchmark gram set (doc_id % 97 = 0).
ORACLES["decontaminate"] = """
WITH toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
idx AS (
  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 6, 1))) AS i FROM toks
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS g FROM idx
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
hits AS (
  SELECT gr.doc_id, CAST(COUNT(DISTINCT gr.g) AS BIGINT) AS n_overlap
  FROM grams gr JOIN bench b ON gr.g = b.g
  WHERE gr.doc_id % 97 <> 0
  GROUP BY 1
)
SELECT d.doc_id,
       COALESCE(h.n_overlap, 0) AS n_overlap,
       COALESCE(h.n_overlap, 0) > 0 AS contaminado
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % 97 <> 0
"""

# Stream-stream interval join mirror: the drained pair set equals the
# batch inequality join (half-open hour window, at-or-before end).
ORACLES["attribution_stream"] = """
SELECT p.event_id AS compra, v.event_id AS visita, p.user_id AS usuario,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS quando_compra,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS quando_view
FROM events p JOIN events v
  ON v.user_id = p.user_id AND v.event_type = 'view'
 AND v.ts <= p.ts AND v.ts > p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase'
"""

# Watermarked twin: same semantics, bounded-state execution.
ORACLES["attribution_stream_wm"] = """
SELECT p.event_id AS compra, v.event_id AS visita, p.user_id AS usuario,
       strftime(p.ts, '%Y-%m-%d %H:%M:%S') AS quando_compra,
       strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS quando_view
FROM events p JOIN events v
  ON v.user_id = p.user_id AND v.event_type = 'view'
 AND v.ts <= p.ts AND v.ts > p.ts - INTERVAL 1 HOUR
WHERE p.event_type = 'purchase'
"""


# Non-equi band join mirror (uneven widths — not floor()-expressible).
ORACLES["price_bands"] = """
WITH bands(banda, lo, hi) AS (
  VALUES ('ate_925', 900.0, 925.0), ('925_950', 925.0, 950.0),
         ('950_975', 950.0, 975.0), ('acima_975', 975.0, 1000.0)
)
SELECT banda,
  CAST(COUNT(*) AS BIGINT) AS n_pecas,
  CAST(SUM(CAST(p_retailprice AS DECIMAL(18,2))) AS DOUBLE) AS preco_total,
  MIN(p_retailprice) AS preco_min,
  MAX(p_retailprice) AS preco_max
FROM part JOIN bands ON p_retailprice >= lo AND p_retailprice < hi
GROUP BY banda
"""

# Exact interpolated percentiles: quantile_cont uses the same
# (1-d)*lo + d*hi interpolation as Spark's percentile().
ORACLES["value_percentiles"] = """
SELECT event_type AS tipo,
  round(quantile_cont(value, 0.25), 9) AS p25,
  round(quantile_cont(value, 0.50), 9) AS p50,
  round(quantile_cont(value, 0.75), 9) AS p75,
  round(quantile_cont(value, 0.90), 9) AS p90
FROM events GROUP BY 1
"""

# Sliding-window mirror: each event expands into its two hour-aligned
# 2h windows (hour buckets vs the same fixed origin used everywhere).
ORACLES["sliding_active_users"] = """
WITH hb AS (
  SELECT user_id,
    CAST(FLOOR(date_diff('second', TIMESTAMP '1990-01-01', ts) / 3600) AS BIGINT) AS h
  FROM events
),
expanded AS (
  SELECT user_id, unnest([h, h - 1]) AS w FROM hb
)
SELECT strftime(TIMESTAMP '1990-01-01' + to_hours(w), '%Y-%m-%d %H:%M:%S') AS janela,
       CAST(COUNT(*) AS BIGINT) AS n_eventos,
       CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_usuarios
FROM expanded GROUP BY w
"""

# Tukey/IQR mirror: quartiles rounded to 9 before the bound arithmetic
# (same order of operations as the engine).
ORACLES["outlier_flags"] = """
WITH q AS (
  SELECT event_type,
    round(quantile_cont(value, 0.25), 9) AS p25,
    round(quantile_cont(value, 0.75), 9) AS p75
  FROM events GROUP BY 1
),
b AS (
  SELECT event_type,
    p25 - 1.5 * (p75 - p25) AS lo,
    p75 + 1.5 * (p75 - p25) AS hi
  FROM q
)
SELECT e.event_id AS evento, e.event_type AS tipo, e.value,
       (e.value < b.lo OR e.value > b.hi) AS fora_da_faixa
FROM events e JOIN b ON b.event_type = e.event_type
"""

# JSON extraction mirror: ->> string extraction + NULL-propagating cast.
ORACLES["json_props"] = """
SELECT event_type AS tipo,
  CAST(COUNT(TRY_CAST(props->>'k' AS BIGINT)) AS BIGINT) AS n_com_k,
  CAST(SUM(TRY_CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_total,
  CAST(COUNT(DISTINCT TRY_CAST(props->>'k' AS BIGINT)) AS BIGINT) AS k_distintos,
  MIN(TRY_CAST(props->>'k' AS BIGINT)) AS k_min,
  MAX(TRY_CAST(props->>'k' AS BIGINT)) AS k_max
FROM events GROUP BY 1
"""

# Per-group top-k mirror: same deterministic (revenue desc, custkey)
# rank over the aggregated revenue table.
ORACLES["topk_per_group"] = """
WITH rev AS (
  SELECT o_custkey, CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS receita
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT n.n_name AS nacao, c.c_name AS cliente, r.receita, c.c_custkey,
         ROW_NUMBER() OVER (PARTITION BY n.n_name
                            ORDER BY r.receita DESC, c.c_custkey) AS posicao
  FROM rev r
  JOIN customer c ON c.c_custkey = r.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
)
SELECT nacao, CAST(posicao AS BIGINT) AS posicao, cliente, receita
FROM ranked WHERE posicao <= 3
"""

# Streaming dedup mirror: the batch truth over ONE delivery of the
# snapshot (the stream saw it twice and must collapse the replay).
ORACLES["stream_dedup"] = """
SELECT event_type AS tipo,
  CAST(COUNT(*) AS BIGINT) AS n_eventos,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS valor_total
FROM events GROUP BY 1
"""

# Salted-join mirror: the PLAIN join — salting must never change the
# result, only the shuffle distribution.
ORACLES["salted_join"] = """
SELECT o.o_orderpriority AS prioridade,
  CAST(COUNT(*) AS BIGINT) AS n_itens,
  CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS receita
FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
GROUP BY 1
"""

# ROLLUP mirror with GROUPING flags (hierarchical subtotals).
ORACLES["sales_rollup"] = """
SELECT n.n_name AS nacao, c.c_mktsegment AS segmento,
  CAST(COUNT(*) AS BIGINT) AS n_clientes,
  CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS saldo_total,
  CAST(GROUPING(n.n_name) AS BIGINT) AS agg_nacao,
  CAST(GROUPING(c.c_mktsegment) AS BIGINT) AS agg_segmento
FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY ROLLUP (n.n_name, c.c_mktsegment)
"""

# MERGE/upsert mirror: rebuild the updates batch, full outer join,
# update side wins.
ORACLES["upsert"] = """
WITH upd AS (
  SELECT o_orderkey, 'F' AS u_status,
         CAST(o_totalprice AS DECIMAL(18,2)) + 10 AS u_total
  FROM orders WHERE o_orderkey % 7 = 0
)
SELECT o.o_orderkey AS pedido,
  COALESCE(u.u_status, o.o_orderstatus) AS situacao,
  CAST(COALESCE(u.u_total, CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
  CASE WHEN u.u_status IS NOT NULL THEN 'atualizado' ELSE 'original' END AS origem
FROM orders o LEFT JOIN upd u ON u.o_orderkey = o.o_orderkey
"""

# Normalization mirror: same two-stage regexp pipeline.
ORACLES["normalize_text"] = """
WITH n AS (
  SELECT doc_id, text,
    trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g')) AS texto_norm
  FROM documents
)
SELECT doc_id, texto_norm,
  CAST(len(str_split(text, ' ')) AS BIGINT) AS tokens_antes,
  CAST(len(str_split(texto_norm, ' ')) AS BIGINT) AS tokens_depois
FROM n
"""

# Corpus mixture mirror: integer token totals, one window over the
# aggregated table, division order mirrored.
ORACLES["corpus_mix"] = """
WITH g AS (
  SELECT source AS fonte, lang AS idioma,
    CAST(COUNT(*) AS BIGINT) AS n_docs,
    CAST(SUM(len(str_split(text, ' '))) AS BIGINT) AS n_tokens
  FROM documents GROUP BY 1, 2
)
SELECT fonte, idioma, n_docs, n_tokens,
  round(CAST(n_tokens AS DOUBLE) / CAST(SUM(n_tokens) OVER () AS DOUBLE) * 100, 9)
    AS participacao_pct
FROM g
"""

# Audio chunk-plan mirror: same integer duration/ceil arithmetic.
# DuckDB CAST(double AS BIGINT) ROUNDS — use floor() explicitly where
# Spark's cast truncates.
ORACLES["multimodal_chunks"] = """
WITH b AS (
  SELECT doc_id AS id,
         CAST(floor(strlen(text) / 32) AS BIGINT) AS dur_ms  -- strlen = BYTE length in DuckDB
  FROM documents
),
c AS (
  SELECT id, dur_ms,
         GREATEST(1, CAST(floor((dur_ms + 9999) / 10000) AS BIGINT)) AS n_chunks
  FROM b
),
x AS (
  SELECT id, dur_ms, unnest(range(n_chunks)) AS i FROM c
)
SELECT id,
  CAST(i AS BIGINT) AS chunk_idx,
  CAST(i * 10000 AS BIGINT) AS inicio_ms,
  LEAST(CAST(i * 10000 + 10000 AS BIGINT), dur_ms) AS fim_ms
FROM x
"""

# SQL front door mirror: the same Q3-shaped SQL, DuckDB dialect
# (strftime for rendering; decimal product sum cast double).
ORACLES["sql_frontdoor"] = """
SELECT o.o_orderkey AS pedido,
       strftime(o.o_orderdate, '%Y-%m-%d') AS data,
       o.o_orderpriority AS prioridade,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS receita
FROM customer c
JOIN orders o ON o.o_custkey = c.c_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderstatus <> 'F'
GROUP BY o.o_orderkey, data, o.o_orderpriority
"""

# Forward as-of mirror: nearest future purchase per view, restricted to
# the 1h tolerance window (equivalent to nearest-then-NULL-out: the
# nearest forward match is inside the window iff any match is), ties at
# equal ts to the highest event_id — the engine's right_order rule.
ORACLES["conversion_forward"] = """
WITH v AS (
  SELECT event_id AS visita, user_id AS usuario, ts
  FROM events WHERE event_type = 'view'
),
b AS (
  SELECT event_id, user_id, ts, value
  FROM events WHERE event_type = 'purchase'
),
cand AS (
  SELECT v.visita, b.event_id AS compra, b.ts AS bts, b.value AS valor,
         ROW_NUMBER() OVER (PARTITION BY v.visita
                            ORDER BY b.ts ASC, b.event_id DESC) AS rn
  FROM v JOIN b
    ON b.user_id = v.usuario
   AND b.ts >= v.ts AND b.ts <= v.ts + INTERVAL 1 HOUR
)
SELECT v.visita, v.usuario,
  strftime(v.ts, '%Y-%m-%d %H:%M:%S') AS ts_view,
  c.compra,
  strftime(c.bts, '%Y-%m-%d %H:%M:%S') AS ts_compra,
  c.valor
FROM v LEFT JOIN (SELECT * FROM cand WHERE rn = 1) c ON c.visita = v.visita
"""

# Trailing-hour RANGE window mirror: identical integer-second axis
# (same fixed origin), DECIMAL money sum cast double.
ORACLES["rolling_user_spend"] = """
WITH p AS (
  SELECT event_id, user_id, ts, value,
         date_diff('second', TIMESTAMP '1990-01-01', ts) AS s
  FROM events WHERE event_type = 'purchase'
)
SELECT event_id, user_id AS usuario,
  strftime(ts, '%Y-%m-%d %H:%M:%S') AS quando,
  CAST(COUNT(*) OVER w AS BIGINT) AS n_1h,
  CAST(SUM(CAST(value AS DECIMAL(18,2))) OVER w AS DOUBLE) AS gasto_1h
FROM p
WINDOW w AS (PARTITION BY user_id ORDER BY s
             RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
"""

# The streaming session-window drain must land exactly on the batch
# gap-sessionization (one shared oracle with sessionize_native).
ORACLES["sessionize_stream"] = ORACLES["sessionize_native"]

# Incremental dedup mirror: same minhash/band/verify pipeline, but
# candidates only cross the batch/index boundary, and the per-new-doc
# reduction (count, best match with ties to the lowest index id,
# threshold flag) happens in SQL windows.
ORACLES["incremental_dedup"] = f"""
WITH {_SIG_CTE},
bands AS (
  SELECT doc_id, unnest(['0|' || mh0, '1|' || mh1, '2|' || mh2, '3|' || mh3]) AS band
  FROM sig
),
cand AS (
  SELECT DISTINCT n.doc_id AS id_new, o.doc_id AS id_idx
  FROM bands n JOIN bands o ON n.band = o.band
  WHERE n.doc_id % 2 = 1 AND o.doc_id % 2 = 0
),
scored AS (
  SELECT c.id_new, c.id_idx,
    round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE), 9) AS j
  FROM cand c
  JOIN shing sa ON sa.doc_id = c.id_new
  JOIN shing sb ON sb.doc_id = c.id_idx
),
agg AS (
  SELECT id_new, CAST(COUNT(*) AS BIGINT) AS n_candidates FROM scored GROUP BY 1
),
pick AS (
  SELECT id_new, id_idx, j,
         ROW_NUMBER() OVER (PARTITION BY id_new ORDER BY j DESC, id_idx ASC) AS rn
  FROM scored
)
SELECT d.doc_id,
  COALESCE(a.n_candidates, 0) AS n_candidates,
  p.id_idx AS best_match,
  p.j AS best_jaccard,
  COALESCE(p.j >= 0.5, FALSE) AS is_dup
FROM documents d
LEFT JOIN agg a ON a.id_new = d.doc_id
LEFT JOIN (SELECT * FROM pick WHERE rn = 1) p ON p.id_new = d.doc_id
WHERE d.doc_id % 2 = 1
"""

# Morton-key mirror: identical shift/mask interleave re-derived in SQL.
# Every term is fully parenthesized — SQL gives '+' higher precedence
# than '<<' (unlike Python), so a bare a << m + b << n groups wrong.
ORACLES["zorder_keys"] = """
SELECT o_orderkey AS pedido,
  CAST((((((o_custkey & 65535)) >> 0) & 1) << 0)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 0) & 1) << 1)
      + (((((o_custkey & 65535)) >> 1) & 1) << 2)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 1) & 1) << 3)
      + (((((o_custkey & 65535)) >> 2) & 1) << 4)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 2) & 1) << 5)
      + (((((o_custkey & 65535)) >> 3) & 1) << 6)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 3) & 1) << 7)
      + (((((o_custkey & 65535)) >> 4) & 1) << 8)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 4) & 1) << 9)
      + (((((o_custkey & 65535)) >> 5) & 1) << 10)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 5) & 1) << 11)
      + (((((o_custkey & 65535)) >> 6) & 1) << 12)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 6) & 1) << 13)
      + (((((o_custkey & 65535)) >> 7) & 1) << 14)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 7) & 1) << 15)
      + (((((o_custkey & 65535)) >> 8) & 1) << 16)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 8) & 1) << 17)
      + (((((o_custkey & 65535)) >> 9) & 1) << 18)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 9) & 1) << 19)
      + (((((o_custkey & 65535)) >> 10) & 1) << 20)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 10) & 1) << 21)
      + (((((o_custkey & 65535)) >> 11) & 1) << 22)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 11) & 1) << 23)
      + (((((o_custkey & 65535)) >> 12) & 1) << 24)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 12) & 1) << 25)
      + (((((o_custkey & 65535)) >> 13) & 1) << 26)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 13) & 1) << 27)
      + (((((o_custkey & 65535)) >> 14) & 1) << 28)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 14) & 1) << 29)
      + (((((o_custkey & 65535)) >> 15) & 1) << 30)
      + (((((date_diff('day', DATE '1990-01-01', o_orderdate) & 65535)) >> 15) & 1) << 31) AS BIGINT) AS zval
FROM orders
"""

# Sketch graduation (round 3): exact fields + each engine grading its
# OWN sketch implementation against the shared exact truth.
ORACLES["events_sketches"] = """
SELECT event_type AS tipo,
  CAST(COUNT(*) AS BIGINT) AS n,
  CAST(COUNT(DISTINCT user_id) AS BIGINT) AS usuarios_exatos,
  abs(CAST(approx_count_distinct(user_id) AS DOUBLE)
      / CAST(COUNT(DISTINCT user_id) AS DOUBLE) - 1) <= 0.05 AS hll_dentro_5pct,
  abs(approx_quantile(value, 0.5) / quantile_cont(value, 0.5) - 1) <= 0.05
    AS mediana_dentro_5pct,
  abs(approx_quantile(value, 0.95) / quantile_cont(value, 0.95) - 1) <= 0.05
    AS p95_dentro_5pct
FROM events GROUP BY 1
"""

# BM25 mirror: identical Lucene-form idf and saturation arithmetic,
# stats derived the same way (N, avgdl, per-term df), round-9 scores.
ORACLES["bm25_search"] = """
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS toks, len(str_split(text, ' ')) AS dl
  FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT COUNT(*) AS n, AVG(dl) AS avgdl,
    SUM(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN list_contains(toks, 'table') THEN 1 ELSE 0 END) AS df1,
    SUM(CASE WHEN list_contains(toks, 'query') THEN 1 ELSE 0 END) AS df2
  FROM t
),
scored AS (
  SELECT t.doc_id,
    (ln((s.n - s.df0 + 0.5) / (s.df0 + 0.5) + 1)
       * CAST(len(list_filter(t.toks, x -> x = 'spark')) AS DOUBLE) * (1.2 + 1)
       / (CAST(len(list_filter(t.toks, x -> x = 'spark')) AS DOUBLE)
          + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl)))
  + (ln((s.n - s.df1 + 0.5) / (s.df1 + 0.5) + 1)
       * CAST(len(list_filter(t.toks, x -> x = 'table')) AS DOUBLE) * (1.2 + 1)
       / (CAST(len(list_filter(t.toks, x -> x = 'table')) AS DOUBLE)
          + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl)))
  + (ln((s.n - s.df2 + 0.5) / (s.df2 + 0.5) + 1)
       * CAST(len(list_filter(t.toks, x -> x = 'query')) AS DOUBLE) * (1.2 + 1)
       / (CAST(len(list_filter(t.toks, x -> x = 'query')) AS DOUBLE)
          + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl))) AS raw
  FROM t, s
)
SELECT doc_id, round(raw, 9) AS bm25
FROM scored ORDER BY round(raw, 9) DESC, doc_id LIMIT 20
"""

# Multimodal near-dup mirror: the same integer byte sums (text is pure
# ASCII at every SF), exact integer centering (a_c = s_c*N - sum_c),
# sign buckets from the centered values (shift terms fully
# parenthesized - SQL '+' binds tighter than '<<'), and one
# deterministic double cosine rounded to 9 dp.
_MND_SUMS = ",\n".join(
    # NULL text -> NULL sums (engine contract: NULL docs never bucket);
    # EMPTY text keeps the 0 fallback (the engine sums an empty array to 0).
    f"  CASE WHEN text IS NULL THEN NULL ELSE "
    f"COALESCE(list_sum(list_transform(generate_series({c + 1}, length(text), 8), "
    f"j -> ascii(substr(text, j, 1)))), 0) END AS s{c}"
    for c in range(8)
)
_MND_TOT = ", ".join(f"SUM(s{c}) AS t{c}" for c in range(8))
_MND_CEN = ",\n".join(f"  s.s{c} * t.n - t.t{c} AS a{c}" for c in range(8))
_MND_BUCKET = " + ".join(f"((CASE WHEN a{c} > 0 THEN 1 ELSE 0 END) << {c})" for c in range(8))
_MND_DOT = " + ".join(f"a.a{c} * b.a{c}" for c in range(8))
_MND_SSA = " + ".join(f"a.a{c} * a.a{c}" for c in range(8))
_MND_SSB = " + ".join(f"b.a{c} * b.a{c}" for c in range(8))
ORACLES["multimodal_near_dup"] = f"""
WITH sums AS (
  SELECT doc_id AS id,
{_MND_SUMS}
  FROM documents
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, {_MND_TOT} FROM sums),
cen AS (
  SELECT s.id,
{_MND_CEN}
  FROM sums s, tot t
),
withb AS (SELECT *, {_MND_BUCKET} AS b FROM cen)
SELECT a.id AS id_a, b.id AS id_b,
  round(CAST({_MND_DOT} AS DOUBLE)
        / (sqrt(CAST({_MND_SSA} AS DOUBLE)) * sqrt(CAST({_MND_SSB} AS DOUBLE))), 9) AS cos_sim
FROM withb a JOIN withb b ON a.b = b.b AND a.id < b.id
WHERE round(CAST({_MND_DOT} AS DOUBLE)
        / (sqrt(CAST({_MND_SSA} AS DOUBLE)) * sqrt(CAST({_MND_SSB} AS DOUBLE))), 9) >= 0.9999
"""

# Chunk-level audio near-dup mirror: audio_chunk_plan's integer
# boundary math (dur = bytes // rate, ceil chunks, clipped tail), the
# per-chunk stride byte sums over each [inicio*rate, fim*rate) slice
# (1-indexed substr; ASCII text ≡ payload bytes, the established
# multimodal contract), then the same centering/bucket/cosine as the
# image twin keyed by (id, chunk_idx).
_ACD_SUMS = ",\n".join(
    # dimension c reads 1-indexed positions inicio*8+1+c, step 8, up to
    # fim*8 inclusive; an empty series (zero-duration tail) sums to 0.
    f"  COALESCE(list_sum(list_transform("
    f"generate_series(inicio_ms * 8 + {c + 1}, fim_ms * 8, 8), "
    f"j -> ascii(substr(text, CAST(j AS INTEGER), 1)))), 0) AS s{c}"
    for c in range(8)
)
_ACD_CEN = ",\n".join(f"  s.s{c} * t.n - t.t{c} AS a{c}" for c in range(8))
ORACLES["audio_chunk_near_dup"] = f"""
WITH base AS (
  SELECT doc_id AS id, text, length(text) // 8 AS dur_ms
  FROM documents WHERE text IS NOT NULL
),
bounds AS (
  SELECT id, text, chunk_idx,
         chunk_idx * 10 AS inicio_ms,
         least(chunk_idx * 10 + 10, dur_ms) AS fim_ms
  FROM (
    SELECT id, text, dur_ms,
           unnest(range(0, greatest(1, (dur_ms + 9) // 10))) AS chunk_idx
    FROM base
  )
),
sums AS (
  SELECT id, chunk_idx,
{_ACD_SUMS}
  FROM bounds
),
tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, {_MND_TOT} FROM sums),
cen AS (
  SELECT s.id, s.chunk_idx,
{_ACD_CEN}
  FROM sums s, tot t
),
withb AS (SELECT *, {_MND_BUCKET} AS b FROM cen),
scored AS (
  SELECT a.id AS id_a, a.chunk_idx AS chunk_a,
         b.id AS id_b, b.chunk_idx AS chunk_b,
         round(CAST({_MND_DOT} AS DOUBLE)
               / (sqrt(CAST({_MND_SSA} AS DOUBLE))
                  * sqrt(CAST({_MND_SSB} AS DOUBLE))), 9) AS cos_sim
  FROM withb a JOIN withb b
    ON a.b = b.b
   AND (a.id < b.id OR (a.id = b.id AND a.chunk_idx < b.chunk_idx))
)
SELECT CAST(id_a AS BIGINT) AS id_a, CAST(chunk_a AS BIGINT) AS chunk_a,
       CAST(id_b AS BIGINT) AS id_b, CAST(chunk_b AS BIGINT) AS chunk_b,
       cos_sim
FROM scored WHERE cos_sim >= 0.9999
"""

# Within-doc repeated-block removal mirror: same 10-token block grid,
# first occurrence by idx, ordered string_agg reassembly.
ORACLES["strip_repeated_blocks"] = """
WITH d AS (
  SELECT doc_id, str_split(text, ' ') AS toks,
         CAST(ceil(len(str_split(text, ' ')) / 10.0) AS BIGINT) AS n_blocks
  FROM documents WHERE text IS NOT NULL
),
blk AS (
  SELECT doc_id, n_blocks, idx,
         array_to_string(toks[(idx * 10 + 1):(idx * 10 + 10)], ' ') AS block
  FROM (SELECT doc_id, n_blocks, toks,
               unnest(range(0, n_blocks)) AS idx
        FROM d)
),
kept AS (
  SELECT doc_id, n_blocks, idx, block FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id, block ORDER BY idx) AS rn
    FROM blk
  ) WHERE rn = 1
)
SELECT doc_id,
       CAST(MIN(n_blocks) AS BIGINT) AS n_blocks,
       CAST(COUNT(*) AS BIGINT) AS n_kept,
       string_agg(block, ' ' ORDER BY idx) AS texto_limpo
FROM kept GROUP BY doc_id
"""

# Sliding-window chunking mirror: the same ceil-bounded stride grid
# (1-based starts), list slicing clipped to the doc, chunks re-joined.
ORACLES["chunk_documents"] = """
WITH d AS (
  SELECT doc_id, str_split(text, ' ') AS toks, len(str_split(text, ' ')) AS n
  FROM documents WHERE text IS NOT NULL
),
st AS (
  SELECT doc_id, n, toks,
         unnest(range(0, CAST(ceil(greatest(n - 64, 0) / 48.0) AS BIGINT) + 1)) AS k
  FROM d
)
SELECT doc_id,
  CAST(n AS BIGINT) AS n_tokens,
  CAST(k AS BIGINT) AS chunk_idx,
  array_to_string(toks[(1 + k * 48):(k * 48 + 64)], ' ') AS chunk
FROM st
"""

# Mixture-rebalance mirror: same per-source first-K (K = min source
# size), same deterministic doc_id rank order.
ORACLES["balance_sources"] = """
WITH k AS (
  SELECT MIN(cnt) AS k FROM (
    SELECT COUNT(*) AS cnt FROM documents GROUP BY source
  )
),
r AS (
  SELECT doc_id, source, lang,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
)
SELECT doc_id, source, lang FROM r, k WHERE rn <= k.k
"""

# Containment-form decontamination mirror: same gram machinery as the
# flag form, per-doc distinct-gram totals, 10% ratio threshold.
ORACLES["contamination_rate"] = """
WITH toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
idx AS (
  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 6, 1))) AS i FROM toks
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS g FROM idx
),
totals AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams FROM grams
  WHERE doc_id % 97 <> 0 GROUP BY 1
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
hits AS (
  SELECT gr.doc_id, CAST(COUNT(DISTINCT gr.g) AS BIGINT) AS n_overlap
  FROM grams gr JOIN bench b ON gr.g = b.g
  WHERE gr.doc_id % 97 <> 0
  GROUP BY 1
)
SELECT d.doc_id,
  COALESCE(t.n_grams, 0) AS n_grams,
  COALESCE(h.n_overlap, 0) AS n_overlap,
  CASE WHEN COALESCE(t.n_grams, 0) > 0
       THEN round(CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
                  / CAST(t.n_grams AS DOUBLE), 9)
       ELSE 0.0 END AS containment,
  (CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
     >= CAST(COALESCE(t.n_grams, 0) AS DOUBLE) * 0.10)
    AND COALESCE(t.n_grams, 0) > 0 AS contaminado
FROM documents d
LEFT JOIN totals t ON t.doc_id = d.doc_id
LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % 97 <> 0
"""

# Funnel mirror: identical gap-sessionization, the same three chained
# conditional MIN windows, deepest-stage rollup.
ORACLES["session_funnel"] = """
WITH flagged AS (
  SELECT user_id, event_id, event_type, ts,
    CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS flag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_type, ts,
    CAST(SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sessao
  FROM flagged
), w1 AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' THEN ts END)
           OVER (PARTITION BY user_id, sessao) AS fv
  FROM sess
), w2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'click' AND ts >= fv THEN ts END)
           OVER (PARTITION BY user_id, sessao) AS fc
  FROM w1
), w3 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase' AND ts >= fc THEN ts END)
           OVER (PARTITION BY user_id, sessao) AS fp
  FROM w2
)
SELECT user_id AS usuario, sessao,
  CAST(COUNT(*) AS BIGINT) AS n_eventos,
  CASE WHEN MIN(fp) IS NOT NULL THEN 'compra'
       WHEN MIN(fc) IS NOT NULL THEN 'click'
       WHEN MIN(fv) IS NOT NULL THEN 'view'
       ELSE 'outro' END AS etapa
FROM w3 GROUP BY 1, 2
"""

# Retention-cohort mirror: identical epoch-aligned 7-day buckets from
# the shared fixed origin, same two-aggregate shape.
ORACLES["retention_cohorts"] = """
WITH uw AS (
  SELECT DISTINCT user_id AS usuario,
    CAST(FLOOR(date_diff('second', TIMESTAMP '1990-01-01', ts) / 604800.0) AS BIGINT) AS semana
  FROM events
),
fs AS (SELECT usuario, MIN(semana) AS coorte FROM uw GROUP BY 1)
SELECT f.coorte, u.semana - f.coorte AS semanas_depois,
  CAST(COUNT(*) AS BIGINT) AS n_usuarios
FROM uw u JOIN fs f ON f.usuario = u.usuario
GROUP BY 1, 2
"""

# Growth accounting: same epoch-aligned week buckets as retention;
# status via first-seen + shifted self-join, churn via shifted
# anti-join, attached with the SAME left join from the status side
# (a week with zero active users drops in both engines).
ORACLES["growth_accounting"] = """
WITH uw AS (
  SELECT DISTINCT user_id AS usuario,
    CAST(FLOOR(date_diff('second', TIMESTAMP '1990-01-01', ts) / 604800.0) AS BIGINT) AS semana
  FROM events
),
fs AS (SELECT usuario, MIN(semana) AS first_w FROM uw GROUP BY 1),
prev AS (SELECT usuario, semana + 1 AS semana FROM uw),
status AS (
  SELECT u.semana,
    CASE WHEN f.first_w = u.semana THEN 'new'
         WHEN p.usuario IS NOT NULL THEN 'retained'
         ELSE 'resurrected' END AS st
  FROM uw u
  JOIN fs f ON f.usuario = u.usuario
  LEFT JOIN prev p ON p.usuario = u.usuario AND p.semana = u.semana
),
piv AS (
  SELECT semana,
    CAST(COUNT(CASE WHEN st = 'new' THEN 1 END) AS BIGINT) AS n_new,
    CAST(COUNT(CASE WHEN st = 'retained' THEN 1 END) AS BIGINT) AS n_retained,
    CAST(COUNT(CASE WHEN st = 'resurrected' THEN 1 END) AS BIGINT) AS n_resurrected
  FROM status GROUP BY 1
),
mx AS (SELECT MAX(semana) AS mx FROM uw),
ch AS (
  SELECT p.semana, CAST(COUNT(*) AS BIGINT) AS n_churned
  FROM prev p ANTI JOIN uw u ON u.usuario = p.usuario AND u.semana = p.semana
  CROSS JOIN mx
  WHERE p.semana <= mx.mx
  GROUP BY 1
)
SELECT COALESCE(piv.semana, ch.semana) AS semana,
       COALESCE(piv.n_new, 0) AS n_new,
       COALESCE(piv.n_retained, 0) AS n_retained,
       COALESCE(piv.n_resurrected, 0) AS n_resurrected,
       COALESCE(ch.n_churned, 0) AS n_churned
FROM piv FULL JOIN ch ON ch.semana = piv.semana
"""

# RFM mirror: identical total orders (metric + custkey tie-break) so
# ntile boundaries agree; monetary DECIMAL until the edge cast.
ORACLES["rfm_segments"] = """
WITH per_c AS (
  SELECT o_custkey AS cliente,
         MAX(o_orderdate) AS rec,
         CAST(COUNT(*) AS BIGINT) AS frequencia,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS mon
  FROM orders GROUP BY 1
),
scored AS (
  SELECT cliente, rec, frequencia, mon,
    CAST(ntile(5) OVER (ORDER BY rec DESC, cliente) AS BIGINT) AS r_score,
    CAST(ntile(5) OVER (ORDER BY frequencia DESC, cliente) AS BIGINT) AS f_score,
    CAST(ntile(5) OVER (ORDER BY mon DESC, cliente) AS BIGINT) AS m_score
  FROM per_c
)
SELECT cliente,
       strftime(rec, '%Y-%m-%d') AS ultima_compra,
       frequencia,
       CAST(mon AS DOUBLE) AS valor_total,
       r_score, f_score, m_score,
       CAST(r_score AS VARCHAR) || CAST(f_score AS VARCHAR) || CAST(m_score AS VARCHAR) AS segmento
FROM scored
"""

# Transition-matrix mirror: same (ts, event_id) total order for the
# lag pairing, same integer-ppm row normalization.
ORACLES["event_transitions"] = """
WITH seq AS (
  SELECT user_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id
                               ORDER BY ts, event_id) AS prev
  FROM events
),
pairs AS (
  SELECT prev AS de, event_type AS para, CAST(COUNT(*) AS BIGINT) AS n
  FROM seq WHERE prev IS NOT NULL GROUP BY 1, 2
)
SELECT de, para, n,
       CAST(n * 1000000 // SUM(n) OVER (PARTITION BY de) AS BIGINT) AS prob_ppm
FROM pairs
"""

# Share-of-parent mirror: identical DECIMAL revenue aggregate, each
# share one rounded double division re-normalized per level.
ORACLES["share_of_parent"] = """
WITH agg AS (
  SELECT r.r_name AS regiao, n.n_name AS nacao,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS dec_total
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  JOIN region r ON n.n_regionkey = r.r_regionkey
  GROUP BY 1, 2
)
SELECT regiao, nacao,
  CAST(dec_total AS DOUBLE) AS receita,
  round(CAST(dec_total AS DOUBLE)
      / CAST(SUM(dec_total) OVER (PARTITION BY regiao) AS DOUBLE), 9) AS share_na_regiao,
  round(CAST(SUM(dec_total) OVER (PARTITION BY regiao) AS DOUBLE)
      / CAST(SUM(dec_total) OVER () AS DOUBLE), 9) AS share_regiao_total
FROM agg
"""

# Repeat-gap mirror: same (date, orderkey) total order and integer
# 30-day banding; one-time buyers land in band -1.
ORACLES["repeat_purchase_gap"] = """
WITH ranked AS (
  SELECT o_custkey, o_orderdate, o_orderkey,
         row_number() OVER (PARTITION BY o_custkey
                            ORDER BY o_orderdate, o_orderkey) AS rn
  FROM orders
),
ft AS (
  SELECT o_custkey, MAX(rn) AS n,
         date_diff('day', MIN(o_orderdate), MAX(o_orderdate)) AS gap
  FROM ranked WHERE rn <= 2 GROUP BY 1
)
SELECT CAST(CASE WHEN n < 2 THEN -1 ELSE gap // 30 END AS INTEGER) AS banda_30d,
       CAST(COUNT(*) AS BIGINT) AS n_clientes
FROM ft GROUP BY 1
"""

# Token-budget mirror: same frozen (md5, doc_id) admission order and
# whole-doc exclusion at the boundary; integer tokens end to end.
ORACLES["token_budget_select"] = """
WITH t AS (
  SELECT doc_id, source,
         CAST(len(str_split(text, ' ')) AS BIGINT) AS tok,
         md5(CAST(doc_id AS VARCHAR)) AS h
  FROM documents
),
c AS (
  SELECT source, tok,
         SUM(tok) OVER (PARTITION BY source ORDER BY h, doc_id
                        ROWS UNBOUNDED PRECEDING) AS cum
  FROM t
)
SELECT source AS fonte,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(tok) AS BIGINT) AS n_tokens,
       CAST(SUM(tok) * 1000000 // 2000 AS BIGINT) AS utilizacao_ppm
FROM c WHERE cum <= 2000
GROUP BY 1
"""

# Drift mirror: identical int8 quantization and cross-multiplied
# integer core; the square runs in HUGEINT (the engine uses
# DECIMAL(38,0)) — both exact, so the single final double chain
# (sqrt → normalize → round 9) lands on the same bits.
ORACLES["embedding_drift"] = """
WITH dims AS (
  SELECT label, vec_id % 2 = 0 AS a,
         CAST(u.i - 1 AS INTEGER) AS dim,
         GREATEST(-127, LEAST(127,
           CAST(round(CAST(embedding[u.i] AS DOUBLE) * 127.0, 0) AS INTEGER))) AS q
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) u
),
per_dim AS (
  SELECT label, dim,
         SUM(CASE WHEN a THEN q END) AS sa,
         SUM(CASE WHEN NOT a THEN q END) AS sb,
         COUNT(CASE WHEN a THEN 1 END) AS na,
         COUNT(CASE WHEN NOT a THEN 1 END) AS nb
  FROM dims GROUP BY 1, 2
),
per_label AS (
  SELECT label,
         SUM(CAST(sa * nb - sb * na AS HUGEINT) * CAST(sa * nb - sb * na AS HUGEINT)) AS d2,
         MAX(na) AS n_a, MAX(nb) AS n_b
  FROM per_dim GROUP BY 1
)
SELECT CAST(label AS INTEGER) AS label,
       CAST(n_a AS BIGINT) AS n_a,
       CAST(n_b AS BIGINT) AS n_b,
       round(sqrt(CAST(d2 AS DOUBLE)) / (n_a * n_b * 127.0), 9) AS l2_drift
FROM per_label
"""

# Truncated-embedding recall mirror: the same first-16-dims cosine
# (generate_series bound = ordered 16-term fold, identical to the
# Spark slice+fold), same tie order, recall vs the full-dim exact.
ORACLES["truncated_recall"] = f"""
WITH q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
exact AS (
  SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
  ORDER BY {_cos("e.embedding", "q.qv")} DESC, e.vec_id LIMIT 10
),
approx AS (
  SELECT e.vec_id FROM embeddings e, q WHERE e.vec_id <> 0
  ORDER BY {_cos("e.embedding", "q.qv", 16)} DESC, e.vec_id LIMIT 10
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(COUNT(*) AS DOUBLE) / 10 AS recall_at_10
FROM exact JOIN approx USING (vec_id)
"""

# Schema-wide FK audit mirror: one row per relationship, same
# distinct-keys / orphan-count / verdict shape.
ORACLES["fk_conformance"] = """
WITH rel AS (
  SELECT 'lineitem.l_orderkey->orders' AS relacao,
    (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem)) AS n_chaves,
    (SELECT COUNT(*) FROM (SELECT DISTINCT l_orderkey FROM lineitem) k
      LEFT JOIN orders o ON o.o_orderkey = k.l_orderkey WHERE o.o_orderkey IS NULL) AS n_orfas
  UNION ALL SELECT 'orders.o_custkey->customer',
    (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM orders)),
    (SELECT COUNT(*) FROM (SELECT DISTINCT o_custkey FROM orders) k
      LEFT JOIN customer c ON c.c_custkey = k.o_custkey WHERE c.c_custkey IS NULL)
  UNION ALL SELECT 'customer.c_nationkey->nation',
    (SELECT COUNT(*) FROM (SELECT DISTINCT c_nationkey FROM customer)),
    (SELECT COUNT(*) FROM (SELECT DISTINCT c_nationkey FROM customer) k
      LEFT JOIN nation n ON n.n_nationkey = k.c_nationkey WHERE n.n_nationkey IS NULL)
  UNION ALL SELECT 'supplier.s_nationkey->nation',
    (SELECT COUNT(*) FROM (SELECT DISTINCT s_nationkey FROM supplier)),
    (SELECT COUNT(*) FROM (SELECT DISTINCT s_nationkey FROM supplier) k
      LEFT JOIN nation n ON n.n_nationkey = k.s_nationkey WHERE n.n_nationkey IS NULL)
  UNION ALL SELECT 'nation.n_regionkey->region',
    (SELECT COUNT(*) FROM (SELECT DISTINCT n_regionkey FROM nation)),
    (SELECT COUNT(*) FROM (SELECT DISTINCT n_regionkey FROM nation) k
      LEFT JOIN region r ON r.r_regionkey = k.n_regionkey WHERE r.r_regionkey IS NULL)
)
SELECT relacao, CAST(n_chaves AS BIGINT) AS n_chaves,
  CAST(n_orfas AS BIGINT) AS n_orfas, n_orfas = 0 AS integra
FROM rel
"""

# Temperature-scaled mixture sampling mirror: integer-exact quotas
# (floor(sqrt(n)*1000) weights, bigint // division), deterministic
# first-K per source in doc_id order.
ORACLES["temperature_mix"] = """
WITH c AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
w AS (
  SELECT source, n,
         CAST(floor(sqrt(CAST(n AS DOUBLE)) * 1000) AS BIGINT) AS w
  FROM c
),
t AS (SELECT SUM(w) AS sw, SUM(n) // 2 AS t FROM w),
q AS (SELECT source, least((t.t * w.w) // t.sw, w.n) AS k FROM w, t),
r AS (
  SELECT doc_id, source, lang,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn
  FROM documents
)
SELECT r.doc_id, r.source, r.lang
FROM r JOIN q USING (source)
WHERE r.rn <= q.k
"""

# Edit-distance near-dup mirror: same 4x2 banded candidates as
# near_dup_jaccard_banded, Levenshtein verify with the integer 25%
# admission (4*d <= max_len). CONTRACT: parity is defined over ASCII
# corpora — DuckDB's levenshtein counts BYTE edits while Spark counts
# CHARACTER edits ('café' vs 'cafe': 2 vs 1), so on multi-byte text
# the engine's char-level metric is the source of truth and this
# mirror would diverge. The driver fixtures are ASCII throughout.
ORACLES["edit_distance_near_dup"] = f"""
WITH {_SIG8_CTE},{_BANDS8_CTE}, pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
    CAST({" + ".join(f"CAST(a.mh{i} = b.mh{i} AS INT)" for i in range(8))} AS BIGINT) AS n_agree
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
)
SELECT p.id_a, p.id_b, p.n_agree,
  CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_distance,
  CAST(greatest(len(da.text), len(db.text)) AS BIGINT) AS max_len,
  round(1.0 - CAST(levenshtein(da.text, db.text) AS DOUBLE)
            / CAST(greatest(len(da.text), len(db.text)) AS DOUBLE), 9) AS similarity
FROM pairs p
JOIN documents da ON da.doc_id = p.id_a
JOIN documents db ON db.doc_id = p.id_b
WHERE levenshtein(da.text, db.text) * 4 <= greatest(len(da.text), len(db.text))
"""

# SCD type-2 mirror: unchanged rows keep the open interval; updated
# keys emit the closed old version plus the opened new one.
ORACLES["scd2_dim"] = """
WITH upd AS (
  SELECT c_custkey, c_acctbal + 100.0 AS u_bal
  FROM customer WHERE c_custkey % 5 = 0
)
SELECT c.c_custkey AS cliente, c.c_name AS nome, c.c_acctbal AS saldo,
       '2020-01-01' AS vigente_de,
       CASE WHEN u.c_custkey IS NULL THEN '9999-12-31' ELSE '2026-01-01' END AS vigente_ate,
       u.c_custkey IS NULL AS atual
FROM customer c LEFT JOIN upd u ON u.c_custkey = c.c_custkey
UNION ALL
SELECT u.c_custkey, c.c_name, u.u_bal, '2026-01-01', '9999-12-31', TRUE
FROM upd u JOIN customer c ON c.c_custkey = u.c_custkey
"""

# Survivor-selection mirror: the dedup_clusters recursive closure,
# then longest-doc-wins (ties -> lowest doc_id) per cluster with the
# cluster size riding along.
ORACLES["dedup_survivors"] = f"""
WITH RECURSIVE {_SIG8_CTE},{_BANDS8_CTE}, cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
), edges AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN shing sa ON sa.doc_id = c.id_a
  JOIN shing sb ON sb.doc_id = c.id_b
  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= 0.5
), sym AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION ALL
  SELECT id_b, id_a FROM edges
), reach AS (
  SELECT doc_id AS u, doc_id AS v FROM documents
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
), lab AS (
  SELECT u AS doc_id, MIN(v) AS cluster FROM reach GROUP BY u
), ranked AS (
  SELECT d.doc_id, d.source, d.lang, d.n_chars, l.cluster,
         ROW_NUMBER() OVER (PARTITION BY l.cluster
                            ORDER BY d.n_chars DESC, d.doc_id ASC) AS rn,
         COUNT(*) OVER (PARTITION BY l.cluster) AS tam_cluster
  FROM documents d JOIN lab l ON l.doc_id = d.doc_id
)
SELECT CAST(cluster AS BIGINT) AS cluster, doc_id, source, lang,
       CAST(n_chars AS BIGINT) AS n_chars,
       CAST(tam_cluster AS BIGINT) AS tam_cluster
FROM ranked WHERE rn = 1
"""

# Cross-document block dedup mirror: same 10-token grid, corpus-wide
# first-occurrence by (doc_id, idx), flag-carried reassembly so fully
# deduped docs still emit (n_kept = 0, '').
ORACLES["cross_doc_block_dedup"] = """
WITH d AS (
  SELECT doc_id, str_split(text, ' ') AS toks,
         CAST(ceil(len(str_split(text, ' ')) / 10.0) AS BIGINT) AS n_blocks
  FROM documents WHERE text IS NOT NULL
),
blk AS (
  SELECT doc_id, n_blocks, idx,
         array_to_string(toks[(idx * 10 + 1):(idx * 10 + 10)], ' ') AS block
  FROM (SELECT doc_id, n_blocks, toks,
               unnest(range(0, n_blocks)) AS idx
        FROM d)
),
flagged AS (
  SELECT doc_id, n_blocks, idx, block,
         (ROW_NUMBER() OVER (PARTITION BY block ORDER BY doc_id, idx) = 1) AS keep
  FROM blk
)
SELECT doc_id,
       CAST(MIN(n_blocks) AS BIGINT) AS n_blocks,
       CAST(COALESCE(SUM(CASE WHEN keep THEN 1 END), 0) AS BIGINT) AS n_kept,
       COALESCE(string_agg(CASE WHEN keep THEN block END, ' ' ORDER BY idx), '')
         AS texto_limpo
FROM flagged GROUP BY doc_id
"""

# Semantic-dedup mirror: identical fixed-centroid assignment as
# kmeans_assign (same VALUES render), within-cell lower-id neighbor
# at 9dp-rounded cosine >= 0.35 marks a vector dropped.
ORACLES["semantic_dedup"] = f"""
WITH cents(cid, cv) AS (VALUES {_centroid_values()}),
best AS (
  SELECT vec_id, embedding, cid FROM (
    SELECT e.vec_id, e.embedding, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos("e.embedding", "c.cv")} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
dup AS (
  SELECT DISTINCT a.vec_id
  FROM best a JOIN best b ON a.cid = b.cid AND b.vec_id < a.vec_id
  WHERE {_cos("a.embedding", "b.embedding")} >= 0.35
)
SELECT b.vec_id,
       CAST(b.cid AS INTEGER) AS cell,
       CAST(CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS BIGINT) AS kept
FROM best b LEFT JOIN dup d ON b.vec_id = d.vec_id
"""

# Count-min mirror: same seed-prefixed md5 -> first 8 hex -> mod 64
# buckets, 4 rows, bucket sums over the full gram frequency table,
# estimate = min over rows for the exact top-20.
ORACLES["countmin_heavy_hitters"] = """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
g AS (
  SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS gram
  FROM toks WHERE len(t) >= 2
),
counts AS (SELECT gram, COUNT(*) AS exact_n FROM g GROUP BY gram),
rows_ AS (SELECT unnest(range(0, 4)) AS row_id),
cells AS (
  SELECT row_id,
         ('0x' || substr(md5(CAST(row_id AS VARCHAR) || ':' || gram), 1, 8))::BIGINT % 64 AS bucket,
         SUM(exact_n) AS cell_n
  FROM counts CROSS JOIN rows_
  GROUP BY 1, 2
),
top AS (SELECT gram, exact_n FROM counts ORDER BY exact_n DESC, gram LIMIT 20),
probes AS (
  SELECT t.gram, t.exact_n, r.row_id,
         ('0x' || substr(md5(CAST(r.row_id AS VARCHAR) || ':' || t.gram), 1, 8))::BIGINT % 64 AS bucket
  FROM top t CROSS JOIN rows_ r
)
SELECT p.gram,
       CAST(MIN(p.exact_n) AS BIGINT) AS exact_n,
       CAST(MIN(c.cell_n) AS BIGINT) AS cms_n,
       CAST(MIN(c.cell_n) - MIN(p.exact_n) AS BIGINT) AS overcount
FROM probes p JOIN cells c ON c.row_id = p.row_id AND c.bucket = p.bucket
GROUP BY p.gram
"""

# Lift-collocation mirror: integer counts, one double division in the
# identical operation order (n_pair * N first, n_w1 * n_w2 second).
ORACLES["pmi_collocations"] = """
WITH toks AS (SELECT string_split(text, ' ') AS t FROM documents),
uni AS (
  SELECT tok, COUNT(*) AS n_tok FROM (SELECT unnest(t) AS tok FROM toks)
  GROUP BY tok
),
bg AS (
  SELECT gram, COUNT(*) AS n_pair FROM (
    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i + 1])) AS gram
    FROM toks WHERE len(t) >= 2
  ) GROUP BY gram HAVING COUNT(*) >= 5
),
total AS (SELECT SUM(n_tok) AS n_total FROM uni)
SELECT b.gram,
       CAST(b.n_pair AS BIGINT) AS n_pair,
       CAST(u1.n_tok AS BIGINT) AS n_w1,
       CAST(u2.n_tok AS BIGINT) AS n_w2,
       round((CAST(b.n_pair AS DOUBLE) * CAST(t.n_total AS DOUBLE))
             / (CAST(u1.n_tok AS DOUBLE) * CAST(u2.n_tok AS DOUBLE)), 9) AS lift
FROM bg b
JOIN uni u1 ON u1.tok = str_split(b.gram, ' ')[1]
JOIN uni u2 ON u2.tok = str_split(b.gram, ' ')[2]
CROSS JOIN total t
ORDER BY lift DESC, b.gram
LIMIT 20
"""

# Bloom-prefilter mirror: identical seed-prefixed md5 -> mod-65536
# positions, 32-bit words bit_or'd into a 2048-word list, probe =
# all-3-bits-set, exact hits via the same bench-gram join.
ORACLES["bloom_decontaminate"] = """
WITH toks AS (SELECT doc_id, str_split(text, ' ') AS t FROM documents),
idx AS (
  SELECT doc_id, t, unnest(range(1, greatest(len(t) - 6, 1))) AS i FROM toks
),
grams AS (
  SELECT DISTINCT doc_id, array_to_string(t[i:i+7], ' ') AS g FROM idx
),
bench AS (SELECT DISTINCT g FROM grams WHERE doc_id % 97 = 0),
pos AS (
  SELECT unnest(list_transform(range(0, 3),
    j -> ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || g), 1, 8))::BIGINT % 65536
  )) AS p
  FROM bench
),
bloomw AS (
  SELECT CAST(p // 32 AS INTEGER) AS word, bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS bits
  FROM pos GROUP BY 1
),
bloom AS (
  SELECT list(COALESCE(b.bits, 0) ORDER BY s.w) AS arr
  FROM generate_series(0, 2047) s(w) LEFT JOIN bloomw b ON b.word = s.w
),
probe_pos AS (
  SELECT gr.doc_id, gr.g,
         ('0x' || substr(md5(CAST(js.j AS VARCHAR) || ':' || gr.g), 1, 8))::BIGINT % 65536 AS p
  FROM grams gr CROSS JOIN (SELECT unnest(range(0, 3)) AS j) js
  WHERE gr.doc_id % 97 <> 0
),
checked AS (
  SELECT pp.doc_id, pp.g,
         bool_and((bl.arr[CAST(pp.p // 32 AS INTEGER) + 1]
                   & (1::BIGINT << CAST(pp.p % 32 AS INTEGER))) <> 0) AS ok
  FROM probe_pos pp CROSS JOIN bloom bl
  GROUP BY pp.doc_id, pp.g
)
SELECT c.doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_grams,
       CAST(SUM(CASE WHEN c.ok THEN 1 ELSE 0 END) AS BIGINT) AS bloom_hits,
       CAST(SUM(CASE WHEN b.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS exact_hits
FROM checked c LEFT JOIN bench b ON b.g = c.g
GROUP BY c.doc_id
"""


# Language-ID confusion mirror: same marker-hit CASE as text_stats,
# matrix aggregate + per-true-class share window.
ORACLES["langid_confusion"] = f"""
WITH t AS (
  SELECT lang, {_H_EN} AS h_en, {_H_ES} AS h_es, {_H_DE} AS h_de FROM documents
),
p AS (
  SELECT lang,
    CASE WHEN coalesce(greatest(h_de, h_en, h_es), 0) = 0 THEN 'und'
         WHEN h_de >= h_en AND h_de >= h_es THEN 'de'
         WHEN h_en >= h_es THEN 'en'
         ELSE 'es' END AS idioma_pred
  FROM t
),
m AS (SELECT lang, idioma_pred, COUNT(*) AS n_docs FROM p GROUP BY 1, 2)
SELECT lang, idioma_pred, CAST(n_docs AS BIGINT) AS n_docs,
       (lang = idioma_pred) AS acerto,
       round(CAST(n_docs AS DOUBLE)
             / CAST(SUM(n_docs) OVER (PARTITION BY lang) AS DOUBLE), 9)
         AS share_of_true
FROM m
"""

# RRF hybrid-search mirror: identical BM25 arm as bm25_search, cosine
# arm against the same centroid-0 literal, rank-only fusion with the
# engine's fixed lexical-then-semantic add order.
ORACLES["rrf_hybrid_search"] = f"""
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS toks, len(str_split(text, ' ')) AS dl
  FROM documents WHERE text IS NOT NULL
),
s AS (
  SELECT COUNT(*) AS n, AVG(dl) AS avgdl,
    SUM(CASE WHEN list_contains(toks, 'spark') THEN 1 ELSE 0 END) AS df0,
    SUM(CASE WHEN list_contains(toks, 'table') THEN 1 ELSE 0 END) AS df1,
    SUM(CASE WHEN list_contains(toks, 'query') THEN 1 ELSE 0 END) AS df2
  FROM t
),
bm AS (
  SELECT t.doc_id,
    (ln((s.n - s.df0 + 0.5) / (s.df0 + 0.5) + 1)
       * CAST(len(list_filter(t.toks, x -> x = 'spark')) AS DOUBLE) * (1.2 + 1)
       / (CAST(len(list_filter(t.toks, x -> x = 'spark')) AS DOUBLE)
          + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl)))
  + (ln((s.n - s.df1 + 0.5) / (s.df1 + 0.5) + 1)
       * CAST(len(list_filter(t.toks, x -> x = 'table')) AS DOUBLE) * (1.2 + 1)
       / (CAST(len(list_filter(t.toks, x -> x = 'table')) AS DOUBLE)
          + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl)))
  + (ln((s.n - s.df2 + 0.5) / (s.df2 + 0.5) + 1)
       * CAST(len(list_filter(t.toks, x -> x = 'query')) AS DOUBLE) * (1.2 + 1)
       / (CAST(len(list_filter(t.toks, x -> x = 'query')) AS DOUBLE)
          + 1.2 * (1 - 0.75 + 0.75 * t.dl / s.avgdl))) AS raw
  FROM t, s
),
lex AS (
  SELECT doc_id, CAST(rn AS BIGINT) AS lex_rank FROM (
    SELECT doc_id, ROW_NUMBER() OVER (ORDER BY round(raw, 9) DESC, doc_id) AS rn
    FROM bm
  ) WHERE rn <= 50
),
sem AS (
  SELECT doc_id, CAST(rn AS BIGINT) AS sem_rank FROM (
    SELECT vec_id AS doc_id,
           ROW_NUMBER() OVER (ORDER BY {_cos("embedding", "([-1.0,0.16666666666666666,-0.8333333333333334,0.3333333333333333,-0.6666666666666666,0.5,-0.5,0.6666666666666666,-0.3333333333333333,0.8333333333333334,-0.16666666666666666,1.0,0.0,-1.0,0.16666666666666666,-0.8333333333333334,0.3333333333333333,-0.6666666666666666,0.5,-0.5,0.6666666666666666,-0.3333333333333333,0.8333333333333334,-0.16666666666666666,1.0,0.0,-1.0,0.16666666666666666,-0.8333333333333334,0.3333333333333333,-0.6666666666666666,0.5,-0.5,0.6666666666666666,-0.3333333333333333,0.8333333333333334,-0.16666666666666666,1.0,0.0,-1.0,0.16666666666666666,-0.8333333333333334,0.3333333333333333,-0.6666666666666666,0.5,-0.5,0.6666666666666666,-0.3333333333333333,0.8333333333333334,-0.16666666666666666,1.0,0.0,-1.0,0.16666666666666666,-0.8333333333333334,0.3333333333333333,-0.6666666666666666,0.5,-0.5,0.6666666666666666,-0.3333333333333333,0.8333333333333334,-0.16666666666666666,1.0]::DOUBLE[])")} DESC, vec_id) AS rn
    FROM embeddings
  ) WHERE rn <= 50
),
fused AS (
  SELECT COALESCE(l.doc_id, m.doc_id) AS doc_id, l.lex_rank, m.sem_rank,
         round(COALESCE(CAST(1 AS DOUBLE) / (60 + l.lex_rank), 0)
               + COALESCE(CAST(1 AS DOUBLE) / (60 + m.sem_rank), 0), 9) AS rrf
  FROM lex l FULL OUTER JOIN sem m ON l.doc_id = m.doc_id
)
SELECT doc_id, lex_rank, sem_rank, rrf
FROM fused ORDER BY rrf DESC, doc_id LIMIT 20
"""

# BPE merge-induction mirror: three rounds of count -> argmax (ties to
# the smallest gram) -> leftmost non-overlapping space-padded replace,
# each round recounted over the previous round's merged corpus.
ORACLES["bpe_merges"] = """
WITH r0 AS (SELECT ' ' || text || ' ' AS t FROM documents WHERE text IS NOT NULL),
c1 AS (
  SELECT gram, COUNT(*) AS n FROM (
    SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                                 i -> tk[i] || ' ' || tk[i + 1])) AS gram
    FROM (SELECT str_split(trim(t), ' ') AS tk FROM r0)
  ) GROUP BY gram
),
p1 AS (SELECT gram, n FROM c1 ORDER BY n DESC, gram LIMIT 1),
r1 AS (
  SELECT replace(t, ' ' || (SELECT gram FROM p1) || ' ',
                 ' ' || replace((SELECT gram FROM p1), ' ', '+') || ' ') AS t
  FROM r0
),
c2 AS (
  SELECT gram, COUNT(*) AS n FROM (
    SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                                 i -> tk[i] || ' ' || tk[i + 1])) AS gram
    FROM (SELECT str_split(trim(t), ' ') AS tk FROM r1)
  ) GROUP BY gram
),
p2 AS (SELECT gram, n FROM c2 ORDER BY n DESC, gram LIMIT 1),
r2 AS (
  SELECT replace(t, ' ' || (SELECT gram FROM p2) || ' ',
                 ' ' || replace((SELECT gram FROM p2), ' ', '+') || ' ') AS t
  FROM r1
),
c3 AS (
  SELECT gram, COUNT(*) AS n FROM (
    SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                                 i -> tk[i] || ' ' || tk[i + 1])) AS gram
    FROM (SELECT str_split(trim(t), ' ') AS tk FROM r2)
  ) GROUP BY gram
),
p3 AS (SELECT gram, n FROM c3 ORDER BY n DESC, gram LIMIT 1)
SELECT CAST(1 AS INTEGER) AS round, (SELECT gram FROM p1) AS pair,
       CAST((SELECT n FROM p1) AS BIGINT) AS freq
UNION ALL
SELECT CAST(2 AS INTEGER), (SELECT gram FROM p2), CAST((SELECT n FROM p2) AS BIGINT)
UNION ALL
SELECT CAST(3 AS INTEGER), (SELECT gram FROM p3), CAST((SELECT n FROM p3) AS BIGINT)
"""


def _pq_codebook_values() -> str:
    """Render operators.similarity.pq_codebook() as a DuckDB VALUES list
    — the SAME Python constants the Spark queries inline (the
    ``_centroid_values`` convention, so the two engines cannot drift).
    The 4th column is ‖c‖² (left-assoc Python double sum, identical to
    the literal ``_sub_score`` inlines) for the factored argmin key."""
    from .operators.similarity import pq_codebook  # noqa: PLC0415

    def c2(cv):
        s = None
        for x in cv:
            s = x * x if s is None else s + x * x
        return s

    return ", ".join(
        f"({m}, {c}, [{', '.join(repr(x) for x in cv)}]::DOUBLE[], {c2(cv)!r})"
        for m, c, cv in pq_codebook()
    )


# PQ encode mirror: same literal codebook, per-(vec, subspace) rounded
# squared-L2, argmin via ROW_NUMBER (dist, code) = Spark's least() over
# (d, c) structs; integer-only pivot to code_0..code_7 columns.
_PQ_SCORED_CTE = """
scored AS (
  SELECT e.vec_id, c.m, c.code,
    round(c.c2 - 2.0 * list_sum(list_transform(generate_series(1, 8),
      i -> CAST(e.embedding[c.m * 8 + i] AS DOUBLE) * c.cv[i])), 9) AS d
  FROM embeddings e CROSS JOIN cb c
),
best AS (
  SELECT vec_id, m, code,
         ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
  FROM scored
)
"""

ORACLES["pq_codes"] = f"""
WITH cb(m, code, cv, c2) AS (VALUES {_pq_codebook_values()}),
{_PQ_SCORED_CTE}
SELECT vec_id,
  {", ".join(f"CAST(MAX(CASE WHEN m = {m} THEN code END) AS INTEGER) AS code_{m}" for m in range(8))}
FROM best WHERE rn = 1 GROUP BY vec_id
"""

# PQ ADC mirror: the same argmin picks the winning code per subspace;
# its query->centroid distance (also rounded to 9 dp) is the lookup,
# summed in fixed subspace order 0..7 exactly like the Spark chain.
ORACLES["pq_topk"] = f"""
WITH cb(m, code, cv, c2) AS (VALUES {_pq_codebook_values()}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, c.m, c.code,
    round(c.c2 - 2.0 * list_sum(list_transform(generate_series(1, 8),
      i -> CAST(e.embedding[c.m * 8 + i] AS DOUBLE) * c.cv[i])), 9) AS d,
    round(list_sum(list_transform(generate_series(1, 8),
      i -> (CAST(q.qv[c.m * 8 + i] AS DOUBLE) - c.cv[i])
         * (CAST(q.qv[c.m * 8 + i] AS DOUBLE) - c.cv[i]))), 9) AS qd
  FROM embeddings e CROSS JOIN cb c CROSS JOIN q
  WHERE e.vec_id <> 0
),
best AS (
  SELECT vec_id, m, qd,
         ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
  FROM scored
),
adc AS (
  SELECT vec_id,
    {" + ".join(f"MAX(CASE WHEN m = {m} THEN qd END)" for m in range(8))} AS raw
  FROM best WHERE rn = 1 GROUP BY vec_id
),
ex AS (
  SELECT e.vec_id,
    round(list_sum(list_transform(generate_series(1, 64),
      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
         * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))), 9) AS exact_dist
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> 0
)
SELECT a.vec_id, round(a.raw, 9) AS adc_dist, ex.exact_dist
FROM adc a JOIN ex ON a.vec_id = ex.vec_id
ORDER BY adc_dist, a.vec_id LIMIT 20
"""

# DSIR mirror: same seed-prefixed md5 bucket hash, integer bucket
# counts, ONE rounded ln per bucket scaled to BIGINT — per-doc weights
# are then exact integer dot products in both engines.
ORACLES["dsir_weights"] = """
WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS tk FROM documents),
g AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS is_t,
         unnest(list_transform(generate_series(1, len(tk) - 1),
                               i -> tk[i] || ' ' || tk[i + 1])) AS gram
  FROM t WHERE len(tk) >= 2
),
b AS (
  SELECT doc_id, is_t,
         ('0x' || substr(md5('dsir:' || gram), 1, 8))::BIGINT % 256 AS bucket
  FROM g
),
stats AS (SELECT bucket, SUM(is_t) AS tn, COUNT(*) AS rcnt FROM b GROUP BY bucket),
tot AS (SELECT SUM(tn) AS tt, SUM(rcnt) AS rt FROM stats),
w AS (
  SELECT bucket,
         CAST(round(ln(((tn + 1.0) / (tt + 256.0)) / ((rcnt + 1.0) / (rt + 256.0)))
                    * 10000.0, 0) AS BIGINT) AS w
  FROM stats CROSS JOIN tot
),
per_doc AS (SELECT doc_id, bucket, COUNT(*) AS n FROM b GROUP BY doc_id, bucket),
scored AS (
  SELECT p.doc_id, SUM(p.n * w.w) AS dsir_w_scaled, SUM(p.n) AS n_grams
  FROM per_doc p JOIN w ON p.bucket = w.bucket GROUP BY p.doc_id
)
SELECT s.doc_id, d.lang, CAST(s.n_grams AS BIGINT) AS n_grams,
       CAST(s.dsir_w_scaled AS BIGINT) AS dsir_w_scaled
FROM scored s JOIN documents d ON s.doc_id = d.doc_id
ORDER BY dsir_w_scaled DESC, s.doc_id LIMIT 100
"""

# Bigram-LM mirror: the model table holds ONE rounded, 1e6-scaled ln per
# gram; doc sums are exact integers; the mean is one BIGINT/BIGINT
# division in double rounded to 6 dp — identical operation order.
ORACLES["ngram_lm_score"] = """
WITH t AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
g AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(tk) - 1),
                                       i -> tk[i] || ' ' || tk[i + 1])) AS gram
  FROM t WHERE len(tk) >= 2
),
c2 AS (SELECT gram, COUNT(*) AS c2 FROM g GROUP BY gram),
c1 AS (SELECT string_split(gram, ' ')[1] AS w1, SUM(c2) AS c1 FROM c2 GROUP BY 1),
v AS (SELECT COUNT(DISTINCT tok) AS v FROM (SELECT unnest(tk) AS tok FROM t)),
model AS (
  SELECT c2.gram,
         CAST(round(ln((c2.c2 + 1.0) / (c1.c1 + CAST(v.v AS DOUBLE)))
                    * 10000.0, 0) AS BIGINT) AS lp
  FROM c2 JOIN c1 ON string_split(c2.gram, ' ')[1] = c1.w1 CROSS JOIN v
),
scored AS (
  SELECT g.doc_id, SUM(m.lp) AS lp_sum_scaled, COUNT(*) AS n_bigrams
  FROM g JOIN model m ON g.gram = m.gram GROUP BY g.doc_id
),
final AS (
  SELECT doc_id,
         CAST(n_bigrams AS BIGINT) AS n_bigrams,
         CAST(lp_sum_scaled AS BIGINT) AS lp_sum_scaled,
         round(CAST(lp_sum_scaled AS DOUBLE)
               / (CAST(n_bigrams AS DOUBLE) * 10000.0), 6) AS avg_logp
  FROM scored
)
SELECT doc_id, n_bigrams, lp_sum_scaled, avg_logp,
       CASE WHEN avg_logp > -4.5 THEN 'low_ppl'
            WHEN avg_logp < -7.5 THEN 'high_ppl'
            ELSE 'mid' END AS ppl_band
FROM final
"""


# IVF+PQ mirror: cell assignment via the kmeans_assign argmax-cosine
# CTE, candidate prune to the query's cell, then the pq_topk ADC chain
# over candidates only — fixed subspace-order sum of rounded terms.
ORACLES["ivf_pq_topk"] = f"""
WITH cents(cid, ccv) AS (VALUES {_centroid_values()}),
cellbest AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT e.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY e.vec_id
                              ORDER BY {_cos("e.embedding", "c.ccv")} DESC, c.cid) AS rn
    FROM embeddings e CROSS JOIN cents c
  ) WHERE rn = 1
),
cb(m, code, cv, c2) AS (VALUES {_pq_codebook_values()}),
q AS (
  SELECT e.embedding AS qv, cl.cell AS qc
  FROM embeddings e JOIN cellbest cl ON e.vec_id = cl.vec_id
  WHERE e.vec_id = 0
),
cand AS (
  SELECT e.vec_id, e.embedding, cl.cell
  FROM embeddings e JOIN cellbest cl ON e.vec_id = cl.vec_id CROSS JOIN q
  WHERE cl.cell = q.qc AND e.vec_id <> 0
),
scored AS (
  SELECT d.vec_id, d.cell, c.m, c.code,
    round(c.c2 - 2.0 * list_sum(list_transform(generate_series(1, 8),
      i -> CAST(d.embedding[c.m * 8 + i] AS DOUBLE) * c.cv[i])), 9) AS dd,
    round(list_sum(list_transform(generate_series(1, 8),
      i -> (CAST(q.qv[c.m * 8 + i] AS DOUBLE) - c.cv[i])
         * (CAST(q.qv[c.m * 8 + i] AS DOUBLE) - c.cv[i]))), 9) AS qd
  FROM cand d CROSS JOIN cb c CROSS JOIN q
),
best AS (
  SELECT vec_id, cell, m, qd,
         ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY dd, code) AS rn
  FROM scored
)
SELECT vec_id, CAST(cell AS INTEGER) AS cell,
  round({" + ".join(f"MAX(CASE WHEN m = {m} THEN qd END)" for m in range(8))}, 9) AS adc_dist
FROM best WHERE rn = 1
GROUP BY vec_id, cell
ORDER BY adc_dist, vec_id LIMIT 10
"""

# Adaptive-gate mirror: identical 9dp quality expression (text_stats),
# exact lower median pinned to the (quality, doc_id) total order.
ORACLES["adaptive_quality_gate"] = f"""
WITH s AS (
  SELECT doc_id, source,
    round(least(
        least((CAST(length(text) AS DOUBLE) - (CAST(len(str_split(text, ' ')) AS DOUBLE) - 1.0))
              / CAST(len(str_split(text, ' ')) AS DOUBLE) / 8.0, 1.0) * 0.4
        + CAST(len(list_filter(str_split(text, ' '), t -> t IN {_STOPWORDS_SQL})) AS DOUBLE)
          / CAST(len(str_split(text, ' ')) AS DOUBLE) * 2.0 * 0.3
        + least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3,
      1.0), 9) AS quality
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT s.*, ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality, doc_id) AS rn,
         COUNT(*) OVER (PARTITION BY source) AS n
  FROM s
),
med AS (SELECT source, quality AS src_median FROM r WHERE rn = (n + 1) // 2)
SELECT s.doc_id, s.source, s.quality, m.src_median,
       s.quality >= m.src_median AS passes
FROM s JOIN med m ON s.source = m.source
"""

# Logistic-quality mirror: same 9dp features, same fixed-order w·x,
# sigmoid via exp() rounded to 9 dp (the BM25 ln() convention).
ORACLES["quality_logistic"] = f"""
WITH f AS (
  SELECT doc_id,
    round(least(
        least((CAST(length(text) AS DOUBLE) - (CAST(len(str_split(text, ' ')) AS DOUBLE) - 1.0))
              / CAST(len(str_split(text, ' ')) AS DOUBLE) / 8.0, 1.0) * 0.4
        + CAST(len(list_filter(str_split(text, ' '), t -> t IN {_STOPWORDS_SQL})) AS DOUBLE)
          / CAST(len(str_split(text, ' ')) AS DOUBLE) * 2.0 * 0.3
        + least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3,
      1.0), 9) AS q,
    round((CAST(len(str_split(text, ' ')) AS DOUBLE)
           - CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE))
          / CAST(len(str_split(text, ' ')) AS DOUBLE), 9) AS dup,
    round((CAST(length(text) AS DOUBLE) - (CAST(len(str_split(text, ' ')) AS DOUBLE) - 1.0))
          / CAST(len(str_split(text, ' ')) AS DOUBLE), 9) AS mlen,
    CAST(len(str_split(text, ' ')) AS DOUBLE) AS n_tok
  FROM documents
),
z AS (
  SELECT doc_id,
         -2.0 + 6.0 * q + -3.0 * dup + 0.25 * mlen + 0.002 * n_tok AS z
  FROM f
)
SELECT doc_id,
       round(1.0 / (1.0 + exp(-z)), 9) AS quality_p,
       round(1.0 / (1.0 + exp(-z)), 9) >= 0.5 AS passes
FROM z
"""


# Drift mirror: naive-epoch-aligned 7-day windows (Spark F.window on
# TIMESTAMP_NTZ), add-one smoothed Pearson χ² + L1 per type
# rounded/1e6-scaled to BIGINT before the per-week sum (exact integer,
# order-free; χ² replaced KL in r5 — rational terms are IEEE-exact
# cross-engine where ln() is libm-dependent).
ORACLES["drift_weekly_kl"] = """
WITH counts AS (
  SELECT TIMESTAMP '1970-01-01'
           + CAST(FLOOR(date_diff('second', TIMESTAMP '1970-01-01', ts) / 604800)
                  AS BIGINT) * INTERVAL 7 DAY AS wk,
         event_type, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
weeks AS (SELECT DISTINCT wk FROM counts),
types AS (SELECT DISTINCT event_type FROM counts),
tcount AS (SELECT COUNT(*) AS t FROM types),
grid AS (
  SELECT w.wk, ty.event_type, COALESCE(c.c, 0) AS c
  FROM weeks w CROSS JOIN types ty
  LEFT JOIN counts c ON c.wk = w.wk AND c.event_type = ty.event_type
),
withn AS (
  SELECT g.*, SUM(c) OVER (PARTITION BY wk) AS n, t.t
  FROM grid g CROSS JOIN tcount t
),
joined AS (
  SELECT cur.wk, cur.event_type,
         cur.c AS cw, cur.n AS nw, cur.t,
         prev.c AS cp, prev.n AS np
  FROM withn cur
  JOIN withn prev ON prev.wk + INTERVAL 7 DAY = cur.wk
                 AND prev.event_type = cur.event_type
),
terms AS (
  SELECT wk, nw,
    CAST(round((((cw + 1.0) / (nw + CAST(t AS DOUBLE)))
                - ((cp + 1.0) / (np + CAST(t AS DOUBLE))))
               * (((cw + 1.0) / (nw + CAST(t AS DOUBLE)))
                  - ((cp + 1.0) / (np + CAST(t AS DOUBLE))))
               / ((cp + 1.0) / (np + CAST(t AS DOUBLE))) * 1000000.0, 0)
         AS BIGINT) AS chi2_term,
    CAST(round(abs(CAST(cw AS DOUBLE) / CAST(nw AS DOUBLE)
                   - CAST(cp AS DOUBLE) / CAST(np AS DOUBLE)) * 1000000.0, 0)
         AS BIGINT) AS l1_term
  FROM joined
)
SELECT strftime(wk, '%Y-%m-%d') AS week_start,
       CAST(MAX(nw) AS BIGINT) AS n_events,
       CAST(SUM(chi2_term) AS BIGINT) AS chi2_scaled,
       CAST(SUM(l1_term) AS BIGINT) AS l1_scaled,
       SUM(chi2_term) > 2000 AS drifted
FROM terms GROUP BY wk
"""


# BPE-apply mirror: the identical 3-round train chain (corpus-wide pair
# counts, space-padded leftmost non-overlapping replace), carried with
# doc_id so the per-doc before/after token counts come out.
ORACLES["bpe_apply"] = """
WITH r0 AS (SELECT doc_id, ' ' || text || ' ' AS t FROM documents WHERE text IS NOT NULL),
c1 AS (
  SELECT gram, COUNT(*) AS n FROM (
    SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                                 i -> tk[i] || ' ' || tk[i + 1])) AS gram
    FROM (SELECT str_split(trim(t), ' ') AS tk FROM r0)
  ) GROUP BY gram
),
p1 AS (SELECT gram, n FROM c1 ORDER BY n DESC, gram LIMIT 1),
r1 AS (
  SELECT doc_id, replace(t, ' ' || (SELECT gram FROM p1) || ' ',
                 ' ' || replace((SELECT gram FROM p1), ' ', '+') || ' ') AS t
  FROM r0
),
c2 AS (
  SELECT gram, COUNT(*) AS n FROM (
    SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                                 i -> tk[i] || ' ' || tk[i + 1])) AS gram
    FROM (SELECT str_split(trim(t), ' ') AS tk FROM r1)
  ) GROUP BY gram
),
p2 AS (SELECT gram, n FROM c2 ORDER BY n DESC, gram LIMIT 1),
r2 AS (
  SELECT doc_id, replace(t, ' ' || (SELECT gram FROM p2) || ' ',
                 ' ' || replace((SELECT gram FROM p2), ' ', '+') || ' ') AS t
  FROM r1
),
c3 AS (
  SELECT gram, COUNT(*) AS n FROM (
    SELECT unnest(list_transform(generate_series(1, len(tk) - 1),
                                 i -> tk[i] || ' ' || tk[i + 1])) AS gram
    FROM (SELECT str_split(trim(t), ' ') AS tk FROM r2)
  ) GROUP BY gram
),
p3 AS (SELECT gram, n FROM c3 ORDER BY n DESC, gram LIMIT 1),
r3 AS (
  SELECT doc_id, replace(t, ' ' || (SELECT gram FROM p3) || ' ',
                 ' ' || replace((SELECT gram FROM p3), ' ', '+') || ' ') AS t
  FROM r2
)
SELECT d.doc_id,
       CAST(len(str_split(d.text, ' ')) AS BIGINT) AS n_tok_before,
       CAST(len(str_split(trim(r3.t), ' ')) AS BIGINT) AS n_tok_after,
       CAST(len(str_split(d.text, ' ')) - len(str_split(trim(r3.t), ' '))
            AS BIGINT) AS n_merged
FROM documents d JOIN r3 ON d.doc_id = r3.doc_id
WHERE d.text IS NOT NULL
"""

# Skew-profile mirror: integer counts, per-key entropy/share terms
# rounded and 1e6-scaled BEFORE summing (exact integer totals).
# Integer-exact mirror (r5): F₂ = Σ n² is pure BIGINT arithmetic; the
# two ratio columns and top-20 share each round ONE IEEE-exact rational
# (the r4 per-key rounded-ln entropy was libm-fragile and is gone).
ORACLES["join_skew_profile"] = """
WITH counts AS (SELECT o_custkey, COUNT(*) AS n_rows FROM orders GROUP BY o_custkey),
summary AS (SELECT SUM(n_rows) AS n, COUNT(*) AS n_keys,
                   SUM(n_rows * n_rows) AS f2_mass
            FROM counts),
top AS (
  SELECT c.o_custkey, c.n_rows, s.n, s.n_keys, s.f2_mass
  FROM counts c CROSS JOIN summary s
  ORDER BY c.n_rows DESC, c.o_custkey LIMIT 20
),
t20 AS (
  SELECT CAST(round(CAST(SUM(n_rows) AS DOUBLE) / CAST(MAX(n) AS DOUBLE)
                    * 1000000.0, 0) AS BIGINT) AS top20_share_ppm
  FROM top
)
SELECT t.o_custkey, CAST(t.n_rows AS BIGINT) AS n_rows,
       CAST(round(CAST(t.n_rows AS DOUBLE) / CAST(t.n AS DOUBLE) * 1000000.0, 0)
            AS BIGINT) AS share_ppm,
       CAST(round(CAST(t.n_rows AS DOUBLE) / CAST(t.n AS DOUBLE)
                  * CAST(t.n_keys AS DOUBLE) * 1000.0, 0) AS BIGINT) AS skew_x_milli,
       CAST(t.n_keys AS BIGINT) AS n_keys,
       CAST(t.f2_mass AS BIGINT) AS f2_mass,
       t20.top20_share_ppm
FROM top t CROSS JOIN t20
"""


# Histogram-quantile mirror: identical 64×8.0 binning, integer bin
# selection (100·cum >= p·n), one fixed-order double interpolation
# rounded to 6 dp; exact arm = rank selection at (p·n + 99) // 100
# pinned to the (value, event_id) total order.
ORACLES["histogram_quantiles"] = """
WITH binned AS (
  SELECT event_type,
         LEAST(CAST(FLOOR(value / 8.0) AS INTEGER), 63) AS bin
  FROM events
),
hist AS (SELECT event_type, bin, COUNT(*) AS cnt FROM binned GROUP BY 1, 2),
cum AS (
  SELECT event_type, bin, cnt,
         SUM(cnt) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         SUM(cnt) OVER (PARTITION BY event_type) AS n
  FROM hist
),
ps AS (
  SELECT c.*, c.cum - c.cnt AS before_, p.p
  FROM cum c CROSS JOIN (SELECT unnest([50, 90, 99]) AS p) p
),
qbin AS (
  SELECT * FROM (
    SELECT event_type, p, bin, cnt, before_, n,
           ROW_NUMBER() OVER (PARTITION BY event_type, p ORDER BY bin) AS rn
    FROM ps WHERE 100 * cum >= p * n
  ) WHERE rn = 1
),
est AS (
  SELECT event_type, p,
         round(bin * 8.0 + 8.0 * ((p * CAST(n AS DOUBLE) / 100.0
                                   - CAST(before_ AS DOUBLE)) / CAST(cnt AS DOUBLE)),
               6) AS est_value
  FROM qbin
),
ranked AS (
  SELECT event_type, value,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
exact AS (
  SELECT event_type, p.p, value AS exact_value
  FROM ranked CROSS JOIN (SELECT unnest([50, 90, 99]) AS p) p
  WHERE rn = (p.p * n + 99) // 100
)
SELECT e.event_type, CAST(e.p AS INTEGER) AS p, e.est_value, x.exact_value,
       round(e.est_value - x.exact_value, 6) AS err
FROM est e JOIN exact x ON e.event_type = x.event_type AND e.p = x.p
"""


# K-anonymity mirror: identical quasi-identifier tuple (type, naive
# day, 50-wide value band capped at 9), exact integer group sizes and
# ppm share via integer division.
ORACLES["k_anonymity_audit"] = """
WITH tuples AS (
  SELECT event_type, CAST(ts AS DATE) AS day,
         LEAST(CAST(FLOOR(value / 50.0) AS INTEGER), 9) AS band
  FROM events
),
sizes AS (
  SELECT event_type, day, band, COUNT(*) AS g
  FROM tuples GROUP BY 1, 2, 3
)
SELECT event_type,
       CAST(COUNT(*) AS BIGINT) AS n_groups,
       CAST(SUM(CASE WHEN g < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_groups_lt_k,
       CAST(SUM(CASE WHEN g < 5 THEN g ELSE 0 END) AS BIGINT) AS rows_at_risk,
       CAST(SUM(g) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN g < 5 THEN g ELSE 0 END) * 1000000
            // SUM(g) AS BIGINT) AS risk_ppm
FROM sizes GROUP BY event_type
"""

# Contract mirror: one conditional count per rule (predicate NULL
# counts as no-violation in both engines), fixed-row UNION ALL.
ORACLES["contract_checks"] = """
SELECT 'orders_totalprice_nonneg' AS rule, CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_violations,
       SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END) = 0 AS passes
FROM orders
UNION ALL
SELECT 'orders_orderdate_not_null', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'orders_status_enum', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN NOT o_orderstatus IN ('F', 'O', 'P') THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN NOT o_orderstatus IN ('F', 'O', 'P') THEN 1 ELSE 0 END) = 0
FROM orders
UNION ALL
SELECT 'lineitem_quantity_range', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN NOT (l_quantity BETWEEN 1 AND 50) THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'lineitem_discount_range', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1) THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1) THEN 1 ELSE 0 END) = 0
FROM lineitem
UNION ALL
SELECT 'events_type_enum', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN NOT event_type IN ('click', 'view', 'purchase', 'signup', 'error')
                     THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN NOT event_type IN ('click', 'view', 'purchase', 'signup', 'error')
                THEN 1 ELSE 0 END) = 0
FROM events
UNION ALL
SELECT 'events_value_nonneg', CAST(COUNT(*) AS BIGINT),
       CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT),
       SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) = 0
FROM events
"""


# PQ-serve mirror: identical to pq_topk's ADC arm (same codes, same
# query table) without the exact-distance audit column.
ORACLES["pq_serve"] = f"""
WITH cb(m, code, cv, c2) AS (VALUES {_pq_codebook_values()}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, c.m, c.code,
    round(c.c2 - 2.0 * list_sum(list_transform(generate_series(1, 8),
      i -> CAST(e.embedding[c.m * 8 + i] AS DOUBLE) * c.cv[i])), 9) AS d,
    round(list_sum(list_transform(generate_series(1, 8),
      i -> (CAST(q.qv[c.m * 8 + i] AS DOUBLE) - c.cv[i])
         * (CAST(q.qv[c.m * 8 + i] AS DOUBLE) - c.cv[i]))), 9) AS qd
  FROM embeddings e CROSS JOIN cb c CROSS JOIN q
  WHERE e.vec_id <> 0
),
best AS (
  SELECT vec_id, m, qd,
         ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
  FROM scored
)
SELECT vec_id,
  round({" + ".join(f"MAX(CASE WHEN m = {m} THEN qd END)" for m in range(8))}, 9) AS adc_dist
FROM best WHERE rn = 1 GROUP BY vec_id
ORDER BY adc_dist, vec_id LIMIT 20
"""


# PQ-recall mirror: the pq_serve ADC top-20 CTE intersected with the
# exact squared-L2 top-20, exact integer counts.
ORACLES["pq_recall"] = f"""
WITH cb(m, code, cv, c2) AS (VALUES {_pq_codebook_values()}),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
scored AS (
  SELECT e.vec_id, c.m, c.code,
    round(c.c2 - 2.0 * list_sum(list_transform(generate_series(1, 8),
      i -> CAST(e.embedding[c.m * 8 + i] AS DOUBLE) * c.cv[i])), 9) AS d,
    round(list_sum(list_transform(generate_series(1, 8),
      i -> (CAST(q.qv[c.m * 8 + i] AS DOUBLE) - c.cv[i])
         * (CAST(q.qv[c.m * 8 + i] AS DOUBLE) - c.cv[i]))), 9) AS qd
  FROM embeddings e CROSS JOIN cb c CROSS JOIN q
  WHERE e.vec_id <> 0
),
best AS (
  SELECT vec_id, m, qd,
         ROW_NUMBER() OVER (PARTITION BY vec_id, m ORDER BY d, code) AS rn
  FROM scored
),
adc_top AS (
  SELECT vec_id,
    round({" + ".join(f"MAX(CASE WHEN m = {m} THEN qd END)" for m in range(8))}, 9) AS adc
  FROM best WHERE rn = 1 GROUP BY vec_id
  ORDER BY adc, vec_id LIMIT 20
),
exact_top AS (
  SELECT e.vec_id
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> 0
  ORDER BY round(list_sum(list_transform(generate_series(1, 64),
      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE))
         * (CAST(e.embedding[i] AS DOUBLE) - CAST(q.qv[i] AS DOUBLE)))), 9),
    e.vec_id
  LIMIT 20
)
SELECT CAST(20 AS BIGINT) AS k,
       CAST(COUNT(*) AS BIGINT) AS n_hits,
       CAST(COUNT(*) * 1000000 // 20 AS BIGINT) AS recall_ppm
FROM adc_top a JOIN exact_top x ON a.vec_id = x.vec_id
"""

# Soft-dedup mirror: digest group sizes, integer ppm weights.
ORACLES["dedup_weights"] = """
WITH keyed AS (
  SELECT doc_id, source, md5(text) AS k FROM documents WHERE text IS NOT NULL
),
sizes AS (SELECT k, COUNT(*) AS sz FROM keyed GROUP BY k)
SELECT keyed.source,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT keyed.k) AS BIGINT) AS n_unique,
       CAST(SUM(1000000 // sz) AS BIGINT) AS eff_mass_ppm
FROM keyed JOIN sizes ON keyed.k = sizes.k
GROUP BY keyed.source
"""


# Streaming drift shares the batch oracle - same census, same math.
ORACLES["drift_stream"] = ORACLES["drift_weekly_kl"]


# Vocab-coverage mirror: top-16 vocabulary (count desc, token asc),
# per-language covered/total token occurrences, integer ppm.
ORACLES["vocab_coverage"] = """
WITH toks AS (
  SELECT lang, unnest(string_split(text, ' ')) AS tok
  FROM documents WHERE text IS NOT NULL
),
counts AS (SELECT lang, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2),
vocab AS (
  SELECT tok FROM (
    SELECT tok, SUM(n) AS tot FROM counts GROUP BY tok
    ORDER BY tot DESC, tok LIMIT 16
  )
),
covered AS (
  SELECT c.lang, SUM(c.n) AS in_vocab
  FROM counts c WHERE c.tok IN (SELECT tok FROM vocab)
  GROUP BY c.lang
),
totals AS (SELECT lang, SUM(n) AS n_tokens FROM counts GROUP BY lang)
SELECT t.lang,
       CAST(t.n_tokens AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.in_vocab, 0) AS BIGINT) AS n_in_vocab,
       CAST(COALESCE(c.in_vocab, 0) * 1000000 // t.n_tokens AS BIGINT) AS coverage_ppm
FROM totals t LEFT JOIN covered c ON t.lang = c.lang
"""


# Trend mirror: identical sufficient statistics in exact DECIMAL /
# integer arithmetic; one double division rounded to 6 dp.
ORACLES["weekly_trend"] = """
WITH rev AS (
  SELECT n.n_name AS nation,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) // 7 AS wk,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
s AS (
  SELECT nation, COUNT(*) AS n, SUM(wk) AS sx, SUM(rev) AS sy,
         SUM(rev * wk) AS sxy, SUM(wk * wk) AS sxx
  FROM rev GROUP BY nation
)
SELECT nation,
       CAST(n AS BIGINT) AS n_weeks,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope_per_week,
       round(CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE), 6) > 0 AS trending_up
FROM s WHERE n >= 2
"""


# CUSUM mirror: identical double mean/deviation, rounded ONCE to
# integer cents before the running sum (so window-sum association is
# irrelevant), peak pinned to (|cusum| desc, week asc).
ORACLES["changepoint_weeks"] = """
WITH rev AS (
  SELECT n.n_name AS nation,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) // 7 AS wk,
         SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS rev
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
stats AS (SELECT nation, COUNT(*) AS n, SUM(rev) AS sy FROM rev GROUP BY nation),
dev AS (
  SELECT r.nation, r.wk, s.n,
         CAST(round((CAST(r.rev AS DOUBLE)
                     - CAST(s.sy AS DOUBLE) / CAST(s.n AS DOUBLE)) * 100.0, 0)
              AS BIGINT) AS dev_cents
  FROM rev r JOIN stats s ON r.nation = s.nation
),
cs AS (
  SELECT nation, wk, n,
         SUM(dev_cents) OVER (PARTITION BY nation ORDER BY wk
                              ROWS UNBOUNDED PRECEDING) AS cusum
  FROM dev
),
ranked AS (
  SELECT nation, wk, n, ABS(cusum) AS a,
         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY ABS(cusum) DESC, wk) AS rn
  FROM cs
)
SELECT nation, CAST(wk AS BIGINT) AS changepoint_wk,
       CAST(a AS BIGINT) AS peak_cusum_cents,
       CAST(n AS BIGINT) AS n_weeks
FROM ranked WHERE rn = 1
"""


# Curriculum mirror: identical 9dp quality, per-source rank on
# (quality desc, doc_id), global position on (src_rank, source).
ORACLES["curriculum_order"] = f"""
WITH s AS (
  SELECT doc_id, source,
    round(least(
        least((CAST(length(text) AS DOUBLE) - (CAST(len(str_split(text, ' ')) AS DOUBLE) - 1.0))
              / CAST(len(str_split(text, ' ')) AS DOUBLE) / 8.0, 1.0) * 0.4
        + CAST(len(list_filter(str_split(text, ' '), t -> t IN {_STOPWORDS_SQL})) AS DOUBLE)
          / CAST(len(str_split(text, ' ')) AS DOUBLE) * 2.0 * 0.3
        + least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3,
      1.0), 9) AS quality
  FROM documents WHERE text IS NOT NULL
),
r AS (
  SELECT s.*,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality DESC, doc_id)
           AS src_rank
  FROM s
)
SELECT CAST(ROW_NUMBER() OVER (ORDER BY src_rank, source) AS BIGINT) AS position,
       doc_id, source, CAST(src_rank AS BIGINT) AS src_rank, quality
FROM r
"""


# Calibration mirror: the quality_logistic sigmoid and the gopher gate
# computed in one CTE, decile = least(floor(p*10), 9), integer ppm.
ORACLES["quality_calibration"] = f"""
WITH f AS (
  SELECT doc_id,
    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
    round(least(
        least((CAST(length(text) AS DOUBLE) - (CAST(len(str_split(text, ' ')) AS DOUBLE) - 1.0))
              / CAST(len(str_split(text, ' ')) AS DOUBLE) / 8.0, 1.0) * 0.4
        + CAST(len(list_filter(str_split(text, ' '), t -> t IN {_STOPWORDS_SQL})) AS DOUBLE)
          / CAST(len(str_split(text, ' ')) AS DOUBLE) * 2.0 * 0.3
        + least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3,
      1.0), 9) AS q,
    round((CAST(len(str_split(text, ' ')) AS DOUBLE)
           - CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE))
          / CAST(len(str_split(text, ' ')) AS DOUBLE), 9) AS dup,
    round((CAST(length(text) AS DOUBLE) - (CAST(len(str_split(text, ' ')) AS DOUBLE) - 1.0))
          / CAST(len(str_split(text, ' ')) AS DOUBLE), 9) AS mlen,
    CAST(len(list_filter(str_split(text, ' '), t -> t IN {_STOPWORDS_SQL})) AS BIGINT)
      AS stop_hits
  FROM documents WHERE text IS NOT NULL
),
z AS (
  SELECT doc_id,
         round(1.0 / (1.0 + exp(-(-2.0 + 6.0 * q + -3.0 * dup + 0.25 * mlen
                                  + 0.002 * CAST(n_tokens AS DOUBLE)))), 9) AS p,
         (n_tokens BETWEEN 10 AND 1000) AND (mlen BETWEEN 2.0 AND 10.0)
           AND dup <= 0.6 AND stop_hits >= 2 AS gopher
  FROM f
),
b AS (
  SELECT LEAST(CAST(FLOOR(p * 10) AS INTEGER), 9) AS decile,
         CASE WHEN gopher THEN 1 ELSE 0 END AS pass_
  FROM z
)
SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(pass_) AS BIGINT) AS n_gopher_pass,
       CAST(SUM(pass_) * 1000000 // COUNT(*) AS BIGINT) AS pass_rate_ppm
FROM b GROUP BY decile
"""


# Centroid mirror: same fixed-scale int8 quantization (round half-up
# via DuckDB round, clamp +-127), exact integer dim sums, array
# re-assembled in dim order.
ORACLES["label_centroids"] = """
WITH dims AS (
  SELECT label,
         CAST(u.i - 1 AS INTEGER) AS dim,
         GREATEST(-127, LEAST(127,
           CAST(round(CAST(embedding[u.i] AS DOUBLE) * 127.0, 0) AS INTEGER))) AS q
  FROM embeddings, (SELECT unnest(generate_series(1, 64)) AS i) u
),
sums AS (
  SELECT label, dim, SUM(q) AS s, COUNT(*) AS n
  FROM dims GROUP BY label, dim
)
SELECT CAST(label AS INTEGER) AS label,
       CAST(MAX(n) AS BIGINT) AS n_vectors,
       array_to_string(list(CAST(s AS BIGINT) ORDER BY dim), ',') AS centroid_sum_q
FROM sums GROUP BY label
"""


# Dense week spine via generate_series; zero fill stays DECIMAL until
# the single edge cast, mirroring the engine's exact-money posture.
ORACLES["gapfill_weeks"] = """
WITH wk AS (
  SELECT o_orderstatus AS status,
         CAST(date_trunc('week', o_orderdate) AS DATE) AS wkd,
         SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS dec_total,
         CAST(count(*) AS BIGINT) AS n
  FROM orders GROUP BY 1, 2
), span AS (
  SELECT CAST(date_trunc('week', min(o_orderdate)) AS DATE) AS lo,
         CAST(date_trunc('week', max(o_orderdate)) AS DATE) AS hi
  FROM orders
), spine AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                     CAST(hi AS TIMESTAMP),
                                     INTERVAL 7 DAY)) AS DATE) AS wkd
  FROM span
), st AS (SELECT DISTINCT o_orderstatus AS status FROM orders)
SELECT st.status, strftime(sp.wkd, '%Y-%m-%d') AS semana,
       CAST(COALESCE(w.dec_total, 0) AS DOUBLE) AS valor_total,
       COALESCE(w.n, 0) AS n_orders
FROM spine sp CROSS JOIN st
LEFT JOIN wk w ON w.status = st.status AND w.wkd = sp.wkd
"""

# Same probe-broadcast shape as embedding_batch_topk plus the
# label-mismatch predicate; identical 9 dp cosine rounding.
ORACLES["hard_negatives"] = f"""
WITH q AS (
  SELECT vec_id AS query_id, label AS query_label, embedding AS qv
  FROM embeddings WHERE vec_id < 4
), scored AS (
  SELECT q.query_id, q.query_label, e.vec_id, e.label AS neg_label,
         {_cos("e.embedding", "q.qv")} AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.label <> q.query_label
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cos_sim DESC, vec_id) AS rn
  FROM scored
)
SELECT query_id, query_label, vec_id, neg_label, cos_sim
FROM ranked WHERE rn <= 5
"""

# PageRank mirror: distinct directed co-purchase edges, 3 unrolled
# integer-ppm power iterations — r' = 150000 + (85·Σ r//deg)//100,
# pure BIGINT arithmetic, zero rounding sites (bit-exact by
# construction; // on positive BIGINTs matches Spark's div).
ORACLES["pagerank_items"] = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
r0 AS (SELECT u AS node, CAST(1000000 AS BIGINT) AS r FROM deg),
r1 AS (
  SELECT e.v AS node, 150000 + (85 * SUM(r0.r // d.deg)) // 100 AS r
  FROM edges e JOIN deg d ON d.u = e.u JOIN r0 ON r0.node = e.u
  GROUP BY e.v
),
r2 AS (
  SELECT e.v AS node, 150000 + (85 * SUM(r1.r // d.deg)) // 100 AS r
  FROM edges e JOIN deg d ON d.u = e.u JOIN r1 ON r1.node = e.u
  GROUP BY e.v
),
r3 AS (
  SELECT e.v AS node, 150000 + (85 * SUM(r2.r // d.deg)) // 100 AS r
  FROM edges e JOIN deg d ON d.u = e.u JOIN r2 ON r2.node = e.u
  GROUP BY e.v
)
SELECT r3.node AS part, d.deg AS degree, CAST(r3.r AS BIGINT) AS rank_ppm
FROM r3 JOIN deg d ON d.u = r3.node
ORDER BY rank_ppm DESC, part LIMIT 20
"""

# Prefix-group mirror: identical 12-token prefix key; groups >= 2.
ORACLES["prefix_dup_groups"] = """
WITH keyed AS (
  SELECT doc_id, source,
         array_to_string(list_slice(str_split(text, ' '), 1, 12), ' ') AS pfx
  FROM documents WHERE text IS NOT NULL
)
SELECT MIN(doc_id) AS rep_doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
       MIN(pfx) AS prefix
FROM keyed GROUP BY md5(pfx)
HAVING COUNT(*) >= 2
ORDER BY n_docs DESC, rep_doc_id
"""

# Balanced-shards mirror: same (n_chars DESC, doc_id) rank, same
# snake assignment, integer skew vs the ideal eighth.
ORACLES["balanced_shards"] = """
WITH ranked AS (
  SELECT n_chars,
         ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS r
  FROM documents
),
assigned AS (
  SELECT n_chars,
         CASE WHEN (r // 8) % 2 = 0 THEN r % 8 ELSE 7 - (r % 8) END AS shard
  FROM ranked
),
per AS (
  SELECT CAST(shard AS INT) AS shard,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_chars) AS BIGINT) AS total_chars
  FROM assigned GROUP BY 1
),
g AS (SELECT SUM(total_chars) AS grand FROM per)
SELECT shard, n_docs, total_chars,
       CAST(((total_chars - grand // 8) * 1000000) // (grand // 8) AS BIGINT) AS skew_ppm
FROM per CROSS JOIN g
ORDER BY shard
"""

# Benford mirror: identical inlined ppm literals (no engine evaluates
# a log), exact DECIMAL cents, integer ppm shares and deviations.
ORACLES["benford_audit"] = """
WITH c AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM lineitem
),
obs AS (
  SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS INT) AS digit,
         COUNT(*) AS n_obs
  FROM c WHERE cents > 0 GROUP BY 1
),
t AS (SELECT SUM(n_obs) AS total FROM obs),
bl AS (
  SELECT * FROM (VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
                        (5, 79181), (6, 66947), (7, 57992), (8, 51153),
                        (9, 45757)) AS v(digit, benford_ppm)
)
SELECT o.digit,
       CAST(o.n_obs AS BIGINT) AS n_obs,
       CAST((o.n_obs * 1000000) // t.total AS BIGINT) AS obs_ppm,
       CAST(bl.benford_ppm AS BIGINT) AS benford_ppm,
       CAST(((o.n_obs * 1000000) // t.total - bl.benford_ppm)
         * ((o.n_obs * 1000000) // t.total - bl.benford_ppm) // bl.benford_ppm
         AS BIGINT) AS chi2_ppm
FROM obs o CROSS JOIN t JOIN bl ON bl.digit = o.digit
ORDER BY o.digit
"""

# k-core mirror: same u<v edge list, k = rank-selected median degree,
# 3 unrolled peel rounds; census = (nodes-with-an-edge, edges) per
# round, all integers.
ORACLES["kcore_peel"] = """
WITH pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
d0 AS (
  SELECT node, COUNT(*) AS deg FROM (
    SELECT u AS node FROM pairs UNION ALL SELECT v FROM pairs
  ) GROUP BY 1
),
kth AS (
  SELECT deg AS k FROM (
    SELECT deg, node, ROW_NUMBER() OVER (ORDER BY deg, node) AS rn,
           COUNT(*) OVER () AS n
    FROM d0
  ) WHERE rn = (n + 1) // 2
),
k1 AS (SELECT node FROM d0, kth WHERE deg >= k),
e1 AS (SELECT p.u, p.v FROM pairs p
       JOIN k1 a ON a.node = p.u JOIN k1 b ON b.node = p.v),
d1 AS (SELECT node, COUNT(*) AS deg FROM (
         SELECT u AS node FROM e1 UNION ALL SELECT v FROM e1) GROUP BY 1),
k2 AS (SELECT node FROM d1, kth WHERE deg >= k),
e2 AS (SELECT p.u, p.v FROM e1 p
       JOIN k2 a ON a.node = p.u JOIN k2 b ON b.node = p.v),
d2 AS (SELECT node, COUNT(*) AS deg FROM (
         SELECT u AS node FROM e2 UNION ALL SELECT v FROM e2) GROUP BY 1),
k3 AS (SELECT node FROM d2, kth WHERE deg >= k),
e3 AS (SELECT p.u, p.v FROM e2 p
       JOIN k3 a ON a.node = p.u JOIN k3 b ON b.node = p.v),
d3 AS (SELECT node, COUNT(*) AS deg FROM (
         SELECT u AS node FROM e3 UNION ALL SELECT v FROM e3) GROUP BY 1),
census AS (
  SELECT 0 AS round, (SELECT COUNT(*) FROM d0) AS n_nodes,
         (SELECT COUNT(*) FROM pairs) AS n_edges
  UNION ALL
  SELECT 1, (SELECT COUNT(*) FROM d1), (SELECT COUNT(*) FROM e1)
  UNION ALL
  SELECT 2, (SELECT COUNT(*) FROM d2), (SELECT COUNT(*) FROM e2)
  UNION ALL
  SELECT 3, (SELECT COUNT(*) FROM d3), (SELECT COUNT(*) FROM e3)
)
SELECT CAST(round AS INT) AS round,
       CAST(n_nodes AS BIGINT) AS n_nodes,
       CAST(n_edges AS BIGINT) AS n_edges,
       CAST((SELECT k FROM kth) AS BIGINT) AS k_threshold
FROM census ORDER BY round
"""

# EWMA mirror: same epoch-week window, exact DECIMAL cents, then the
# prefix fold per week index — list_reduce's first-element-as-init
# convention equals the engine's slice-from-2 + x1 init; the divide is
# the same arithmetic shift.
ORACLES["ewma_weekly"] = """
WITH weekly AS (
  SELECT TIMESTAMP '1970-01-01'
           + CAST(FLOOR(date_diff('second', TIMESTAMP '1970-01-01', ts) / 604800)
                  AS BIGINT) * INTERVAL 7 DAY AS wk,
         event_type,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
arr AS (
  SELECT event_type, list(x ORDER BY wk) AS xs, list(wk ORDER BY wk) AS ws
  FROM weekly GROUP BY 1
),
ex AS (
  SELECT event_type, unnest(range(1, len(xs)+1)) AS i, xs, ws FROM arr
)
SELECT event_type,
       ws[i] AS week_start,
       xs[i] AS actual_cents,
       list_reduce(xs[1:i], (acc, x) -> (7*acc + x) >> 3) AS ewma_cents,
       xs[i] - list_reduce(xs[1:i], (acc, x) -> (7*acc + x) >> 3) AS dev_cents
FROM ex
ORDER BY event_type, week_start
"""

# CDC mirror: identical index-based chunk extents (boundary at tokens
# whose md5 starts with '0'; chunk j spans (bpos[j-1]+1 .. bpos[j]),
# tail to n), empty chunks filtered, census over md5(chunk).
ORACLES["cdc_chunk_dedup"] = """
WITH t AS (SELECT doc_id, str_split(text, ' ') AS toks FROM documents WHERE text IS NOT NULL),
b AS (
  SELECT doc_id, toks,
         list_filter(range(1, len(toks)+1), i -> substr(md5(toks[i]), 1, 1) = '0') AS bpos
  FROM t
),
c AS (
  SELECT doc_id,
         list_filter(
           list_transform(range(1, len(bpos)+2), j -> array_to_string(
             toks[(CASE WHEN j = 1 THEN 1 ELSE bpos[j-1]+1 END)
                  :(CASE WHEN j <= len(bpos) THEN bpos[j] ELSE len(toks) END)], ' ')),
           s -> s <> '') AS chunks
  FROM b
),
ex AS (SELECT doc_id, unnest(chunks) AS chunk FROM c),
census AS (
  SELECT md5(chunk) AS chunk_md5,
         MIN(chunk) AS chunk,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         CAST(COUNT(*) AS BIGINT) AS n_occ
  FROM ex GROUP BY 1
)
SELECT chunk_md5, chunk,
       CAST(len(str_split(chunk, ' ')) AS BIGINT) AS tok_len,
       n_docs, n_occ
FROM census
WHERE n_docs >= 2 AND len(str_split(chunk, ' ')) >= 2
ORDER BY n_docs DESC, n_occ DESC, chunk_md5
"""

# TrustRank mirror: seeds = top-20 by (degree DESC, node), then 3
# unrolled personalized-restart iterations in the pagerank_items
# integer-ppm policy (r div deg per edge, (85·Σ) div 100 per node,
# restart only on seeds).
ORACLES["trust_propagation"] = """
WITH pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
edges AS (
  SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs
),
deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
seeds AS (
  SELECT u AS node FROM (
    SELECT u, ROW_NUMBER() OVER (ORDER BY d DESC, u) AS rn FROM deg
  ) WHERE rn <= 20
),
r0 AS (
  SELECT deg.u AS node,
         CASE WHEN s.node IS NULL THEN 0 ELSE 1000000 END AS r
  FROM deg LEFT JOIN seeds s ON s.node = deg.u
),
a1 AS (SELECT e.v, SUM(r.r // deg.d) AS s
       FROM edges e JOIN r0 r ON r.node = e.u JOIN deg ON deg.u = e.u GROUP BY 1),
r1 AS (SELECT deg.u AS node,
              CASE WHEN s.node IS NULL THEN 0 ELSE 150000 END
                + (85 * COALESCE(a1.s, 0)) // 100 AS r
       FROM deg LEFT JOIN a1 ON a1.v = deg.u LEFT JOIN seeds s ON s.node = deg.u),
a2 AS (SELECT e.v, SUM(r.r // deg.d) AS s
       FROM edges e JOIN r1 r ON r.node = e.u JOIN deg ON deg.u = e.u GROUP BY 1),
r2 AS (SELECT deg.u AS node,
              CASE WHEN s.node IS NULL THEN 0 ELSE 150000 END
                + (85 * COALESCE(a2.s, 0)) // 100 AS r
       FROM deg LEFT JOIN a2 ON a2.v = deg.u LEFT JOIN seeds s ON s.node = deg.u),
a3 AS (SELECT e.v, SUM(r.r // deg.d) AS s
       FROM edges e JOIN r2 r ON r.node = e.u JOIN deg ON deg.u = e.u GROUP BY 1),
r3 AS (SELECT deg.u AS node,
              CASE WHEN s.node IS NULL THEN 0 ELSE 150000 END
                + (85 * COALESCE(a3.s, 0)) // 100 AS r
       FROM deg LEFT JOIN a3 ON a3.v = deg.u LEFT JOIN seeds s ON s.node = deg.u)
SELECT r3.node AS part,
       CAST(deg.d AS BIGINT) AS degree,
       CAST(CASE WHEN s.node IS NULL THEN 0 ELSE 1 END AS INT) AS is_seed,
       CAST(r3.r AS BIGINT) AS trust_ppm
FROM r3 JOIN deg ON deg.u = r3.node LEFT JOIN seeds s ON s.node = r3.node
WHERE r3.r > 0
ORDER BY trust_ppm DESC, part
LIMIT 30
"""

# Label-propagation mirror: the same symmetric basket edge list, then
# 3 unrolled synchronous rounds — vote count per (node, neighbor
# label), ROW_NUMBER under (count DESC, label ASC) picks the adopted
# label; all-integer so the trajectory hashes exactly.
ORACLES["label_propagation"] = """
WITH pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
edges AS (
  SELECT u, v FROM pairs UNION SELECT v AS u, u AS v FROM pairs
),
l0 AS (SELECT DISTINCT u AS node, u AS lbl FROM edges),
v1 AS (SELECT e.v AS node, l.lbl, COUNT(*) AS c
       FROM edges e JOIN l0 l ON l.node = e.u GROUP BY 1, 2),
l1 AS (SELECT node, lbl FROM (
         SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
         FROM v1) WHERE rn = 1),
v2 AS (SELECT e.v AS node, l.lbl, COUNT(*) AS c
       FROM edges e JOIN l1 l ON l.node = e.u GROUP BY 1, 2),
l2 AS (SELECT node, lbl FROM (
         SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
         FROM v2) WHERE rn = 1),
v3 AS (SELECT e.v AS node, l.lbl, COUNT(*) AS c
       FROM edges e JOIN l2 l ON l.node = e.u GROUP BY 1, 2),
l3 AS (SELECT node, lbl FROM (
         SELECT node, lbl, ROW_NUMBER() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
         FROM v3) WHERE rn = 1)
SELECT lbl AS community,
       CAST(COUNT(*) AS BIGINT) AS n_members,
       MIN(node) AS min_part
FROM l3 GROUP BY 1
ORDER BY n_members DESC, community
"""

# Winnowing mirror: positional 3-gram md5s (DuckDB list slice is
# 1-based inclusive: toks[i:i+2] = Spark slice(toks,i,3)), window-of-4
# list_min, distinct fingerprints, then the same capped bucket pair
# join — every output column a BIGINT over lexicographic md5 minima.
ORACLES["winnow_near_dup"] = """
WITH t AS (
  SELECT doc_id, str_split(text, ' ') AS toks FROM documents WHERE text IS NOT NULL
),
sh AS (
  SELECT doc_id, list_transform(range(1, greatest(len(toks)-2, 1)+1),
         i -> md5(array_to_string(toks[i:i+2], ' '))) AS hs
  FROM t
),
fp AS (
  SELECT doc_id, list_distinct(list_transform(range(1, greatest(len(hs)-3, 1)+1),
         i -> list_min(hs[i:i+3]))) AS fps
  FROM sh
),
ex AS (
  SELECT doc_id, len(fps) AS nfp, unnest(fps) AS f FROM fp
),
kept AS (
  SELECT e.doc_id, e.nfp, e.f FROM ex e
  JOIN (SELECT f FROM ex GROUP BY f HAVING COUNT(*) BETWEEN 2 AND 50) c
    ON c.f = e.f
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(COUNT(*) AS BIGINT) AS shared_fps,
       CAST(MIN(a.nfp) AS BIGINT) AS fps_a,
       CAST(MIN(b.nfp) AS BIGINT) AS fps_b,
       (CAST(COUNT(*) AS BIGINT) * 1000000)
         // least(CAST(MIN(a.nfp) AS BIGINT), CAST(MIN(b.nfp) AS BIGINT))
         AS containment_ppm
FROM kept a JOIN kept b ON a.f = b.f AND a.doc_id < b.doc_id
GROUP BY 1, 2
HAVING COUNT(*) >= 2
ORDER BY shared_fps DESC, doc_a, doc_b
"""

# Winsorized-stats mirror: rank-selected exact p5/p95 under the pinned
# (value, event_id) order, comparison-only clipping, DECIMAL(18,2)
# sums with ONE final rounded division.
ORACLES["winsorized_stats"] = """
WITH ranked AS (
  SELECT event_type, value, event_id,
         ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY value, event_id) AS rn,
         COUNT(*) OVER (PARTITION BY event_type) AS n
  FROM events
),
bounds AS (
  SELECT event_type,
         MIN(CASE WHEN rn = (5 * n + 99) // 100 THEN value END) AS lo,
         MIN(CASE WHEN rn = (95 * n + 99) // 100 THEN value END) AS hi
  FROM ranked GROUP BY 1
)
SELECT e.event_type AS tipo,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(b.lo) AS p5,
       MIN(b.hi) AS p95,
       round(CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 9) AS mean_raw,
       round(CAST(SUM(CAST(least(greatest(e.value, b.lo), b.hi) AS DECIMAL(18,2))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 9) AS mean_winsor,
       CAST(SUM(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END)
            + SUM(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped
FROM events e JOIN bounds b ON b.event_type = e.event_type
GROUP BY 1
"""

# K-center mirror: greedy trajectory replayed with 4 unrolled CTE
# levels; distances are the same left-assoc 64-term rational chains
# the engine renders, argmax/argmin ties to the lowest id / earliest
# center.
ORACLES["kcenter_coreset"] = """
WITH c0 AS (SELECT embedding AS v FROM embeddings
       WHERE vec_id = (SELECT MIN(vec_id) FROM embeddings)),
d0 AS (SELECT e.vec_id, e.embedding, round(((CAST(e.embedding[1] AS DOUBLE) - CAST(c0.v[1] AS DOUBLE)) * (CAST(e.embedding[1] AS DOUBLE) - CAST(c0.v[1] AS DOUBLE))) + ((CAST(e.embedding[2] AS DOUBLE) - CAST(c0.v[2] AS DOUBLE)) * (CAST(e.embedding[2] AS DOUBLE) - CAST(c0.v[2] AS DOUBLE))) + ((CAST(e.embedding[3] AS DOUBLE) - CAST(c0.v[3] AS DOUBLE)) * (CAST(e.embedding[3] AS DOUBLE) - CAST(c0.v[3] AS DOUBLE))) + ((CAST(e.embedding[4] AS DOUBLE) - CAST(c0.v[4] AS DOUBLE)) * (CAST(e.embedding[4] AS DOUBLE) - CAST(c0.v[4] AS DOUBLE))) + ((CAST(e.embedding[5] AS DOUBLE) - CAST(c0.v[5] AS DOUBLE)) * (CAST(e.embedding[5] AS DOUBLE) - CAST(c0.v[5] AS DOUBLE))) + ((CAST(e.embedding[6] AS DOUBLE) - CAST(c0.v[6] AS DOUBLE)) * (CAST(e.embedding[6] AS DOUBLE) - CAST(c0.v[6] AS DOUBLE))) + ((CAST(e.embedding[7] AS DOUBLE) - CAST(c0.v[7] AS DOUBLE)) * (CAST(e.embedding[7] AS DOUBLE) - CAST(c0.v[7] AS DOUBLE))) + ((CAST(e.embedding[8] AS DOUBLE) - CAST(c0.v[8] AS DOUBLE)) * (CAST(e.embedding[8] AS DOUBLE) - CAST(c0.v[8] AS DOUBLE))) + ((CAST(e.embedding[9] AS DOUBLE) - CAST(c0.v[9] AS DOUBLE)) * (CAST(e.embedding[9] AS DOUBLE) - CAST(c0.v[9] AS DOUBLE))) + ((CAST(e.embedding[10] AS DOUBLE) - CAST(c0.v[10] AS DOUBLE)) * (CAST(e.embedding[10] AS DOUBLE) - CAST(c0.v[10] AS DOUBLE))) + ((CAST(e.embedding[11] AS DOUBLE) - CAST(c0.v[11] AS DOUBLE)) * (CAST(e.embedding[11] AS DOUBLE) - CAST(c0.v[11] AS DOUBLE))) + ((CAST(e.embedding[12] AS DOUBLE) - CAST(c0.v[12] AS DOUBLE)) * (CAST(e.embedding[12] AS DOUBLE) - CAST(c0.v[12] AS DOUBLE))) + ((CAST(e.embedding[13] AS DOUBLE) - CAST(c0.v[13] AS DOUBLE)) * (CAST(e.embedding[13] AS DOUBLE) - CAST(c0.v[13] AS DOUBLE))) + ((CAST(e.embedding[14] AS DOUBLE) - CAST(c0.v[14] AS DOUBLE)) * (CAST(e.embedding[14] AS DOUBLE) - CAST(c0.v[14] AS DOUBLE))) + ((CAST(e.embedding[15] AS DOUBLE) - CAST(c0.v[15] AS DOUBLE)) * (CAST(e.embedding[15] AS DOUBLE) - CAST(c0.v[15] AS DOUBLE))) + ((CAST(e.embedding[16] AS DOUBLE) - CAST(c0.v[16] AS DOUBLE)) * (CAST(e.embedding[16] AS DOUBLE) - CAST(c0.v[16] AS DOUBLE))) + ((CAST(e.embedding[17] AS DOUBLE) - CAST(c0.v[17] AS DOUBLE)) * (CAST(e.embedding[17] AS DOUBLE) - CAST(c0.v[17] AS DOUBLE))) + ((CAST(e.embedding[18] AS DOUBLE) - CAST(c0.v[18] AS DOUBLE)) * (CAST(e.embedding[18] AS DOUBLE) - CAST(c0.v[18] AS DOUBLE))) + ((CAST(e.embedding[19] AS DOUBLE) - CAST(c0.v[19] AS DOUBLE)) * (CAST(e.embedding[19] AS DOUBLE) - CAST(c0.v[19] AS DOUBLE))) + ((CAST(e.embedding[20] AS DOUBLE) - CAST(c0.v[20] AS DOUBLE)) * (CAST(e.embedding[20] AS DOUBLE) - CAST(c0.v[20] AS DOUBLE))) + ((CAST(e.embedding[21] AS DOUBLE) - CAST(c0.v[21] AS DOUBLE)) * (CAST(e.embedding[21] AS DOUBLE) - CAST(c0.v[21] AS DOUBLE))) + ((CAST(e.embedding[22] AS DOUBLE) - CAST(c0.v[22] AS DOUBLE)) * (CAST(e.embedding[22] AS DOUBLE) - CAST(c0.v[22] AS DOUBLE))) + ((CAST(e.embedding[23] AS DOUBLE) - CAST(c0.v[23] AS DOUBLE)) * (CAST(e.embedding[23] AS DOUBLE) - CAST(c0.v[23] AS DOUBLE))) + ((CAST(e.embedding[24] AS DOUBLE) - CAST(c0.v[24] AS DOUBLE)) * (CAST(e.embedding[24] AS DOUBLE) - CAST(c0.v[24] AS DOUBLE))) + ((CAST(e.embedding[25] AS DOUBLE) - CAST(c0.v[25] AS DOUBLE)) * (CAST(e.embedding[25] AS DOUBLE) - CAST(c0.v[25] AS DOUBLE))) + ((CAST(e.embedding[26] AS DOUBLE) - CAST(c0.v[26] AS DOUBLE)) * (CAST(e.embedding[26] AS DOUBLE) - CAST(c0.v[26] AS DOUBLE))) + ((CAST(e.embedding[27] AS DOUBLE) - CAST(c0.v[27] AS DOUBLE)) * (CAST(e.embedding[27] AS DOUBLE) - CAST(c0.v[27] AS DOUBLE))) + ((CAST(e.embedding[28] AS DOUBLE) - CAST(c0.v[28] AS DOUBLE)) * (CAST(e.embedding[28] AS DOUBLE) - CAST(c0.v[28] AS DOUBLE))) + ((CAST(e.embedding[29] AS DOUBLE) - CAST(c0.v[29] AS DOUBLE)) * (CAST(e.embedding[29] AS DOUBLE) - CAST(c0.v[29] AS DOUBLE))) + ((CAST(e.embedding[30] AS DOUBLE) - CAST(c0.v[30] AS DOUBLE)) * (CAST(e.embedding[30] AS DOUBLE) - CAST(c0.v[30] AS DOUBLE))) + ((CAST(e.embedding[31] AS DOUBLE) - CAST(c0.v[31] AS DOUBLE)) * (CAST(e.embedding[31] AS DOUBLE) - CAST(c0.v[31] AS DOUBLE))) + ((CAST(e.embedding[32] AS DOUBLE) - CAST(c0.v[32] AS DOUBLE)) * (CAST(e.embedding[32] AS DOUBLE) - CAST(c0.v[32] AS DOUBLE))) + ((CAST(e.embedding[33] AS DOUBLE) - CAST(c0.v[33] AS DOUBLE)) * (CAST(e.embedding[33] AS DOUBLE) - CAST(c0.v[33] AS DOUBLE))) + ((CAST(e.embedding[34] AS DOUBLE) - CAST(c0.v[34] AS DOUBLE)) * (CAST(e.embedding[34] AS DOUBLE) - CAST(c0.v[34] AS DOUBLE))) + ((CAST(e.embedding[35] AS DOUBLE) - CAST(c0.v[35] AS DOUBLE)) * (CAST(e.embedding[35] AS DOUBLE) - CAST(c0.v[35] AS DOUBLE))) + ((CAST(e.embedding[36] AS DOUBLE) - CAST(c0.v[36] AS DOUBLE)) * (CAST(e.embedding[36] AS DOUBLE) - CAST(c0.v[36] AS DOUBLE))) + ((CAST(e.embedding[37] AS DOUBLE) - CAST(c0.v[37] AS DOUBLE)) * (CAST(e.embedding[37] AS DOUBLE) - CAST(c0.v[37] AS DOUBLE))) + ((CAST(e.embedding[38] AS DOUBLE) - CAST(c0.v[38] AS DOUBLE)) * (CAST(e.embedding[38] AS DOUBLE) - CAST(c0.v[38] AS DOUBLE))) + ((CAST(e.embedding[39] AS DOUBLE) - CAST(c0.v[39] AS DOUBLE)) * (CAST(e.embedding[39] AS DOUBLE) - CAST(c0.v[39] AS DOUBLE))) + ((CAST(e.embedding[40] AS DOUBLE) - CAST(c0.v[40] AS DOUBLE)) * (CAST(e.embedding[40] AS DOUBLE) - CAST(c0.v[40] AS DOUBLE))) + ((CAST(e.embedding[41] AS DOUBLE) - CAST(c0.v[41] AS DOUBLE)) * (CAST(e.embedding[41] AS DOUBLE) - CAST(c0.v[41] AS DOUBLE))) + ((CAST(e.embedding[42] AS DOUBLE) - CAST(c0.v[42] AS DOUBLE)) * (CAST(e.embedding[42] AS DOUBLE) - CAST(c0.v[42] AS DOUBLE))) + ((CAST(e.embedding[43] AS DOUBLE) - CAST(c0.v[43] AS DOUBLE)) * (CAST(e.embedding[43] AS DOUBLE) - CAST(c0.v[43] AS DOUBLE))) + ((CAST(e.embedding[44] AS DOUBLE) - CAST(c0.v[44] AS DOUBLE)) * (CAST(e.embedding[44] AS DOUBLE) - CAST(c0.v[44] AS DOUBLE))) + ((CAST(e.embedding[45] AS DOUBLE) - CAST(c0.v[45] AS DOUBLE)) * (CAST(e.embedding[45] AS DOUBLE) - CAST(c0.v[45] AS DOUBLE))) + ((CAST(e.embedding[46] AS DOUBLE) - CAST(c0.v[46] AS DOUBLE)) * (CAST(e.embedding[46] AS DOUBLE) - CAST(c0.v[46] AS DOUBLE))) + ((CAST(e.embedding[47] AS DOUBLE) - CAST(c0.v[47] AS DOUBLE)) * (CAST(e.embedding[47] AS DOUBLE) - CAST(c0.v[47] AS DOUBLE))) + ((CAST(e.embedding[48] AS DOUBLE) - CAST(c0.v[48] AS DOUBLE)) * (CAST(e.embedding[48] AS DOUBLE) - CAST(c0.v[48] AS DOUBLE))) + ((CAST(e.embedding[49] AS DOUBLE) - CAST(c0.v[49] AS DOUBLE)) * (CAST(e.embedding[49] AS DOUBLE) - CAST(c0.v[49] AS DOUBLE))) + ((CAST(e.embedding[50] AS DOUBLE) - CAST(c0.v[50] AS DOUBLE)) * (CAST(e.embedding[50] AS DOUBLE) - CAST(c0.v[50] AS DOUBLE))) + ((CAST(e.embedding[51] AS DOUBLE) - CAST(c0.v[51] AS DOUBLE)) * (CAST(e.embedding[51] AS DOUBLE) - CAST(c0.v[51] AS DOUBLE))) + ((CAST(e.embedding[52] AS DOUBLE) - CAST(c0.v[52] AS DOUBLE)) * (CAST(e.embedding[52] AS DOUBLE) - CAST(c0.v[52] AS DOUBLE))) + ((CAST(e.embedding[53] AS DOUBLE) - CAST(c0.v[53] AS DOUBLE)) * (CAST(e.embedding[53] AS DOUBLE) - CAST(c0.v[53] AS DOUBLE))) + ((CAST(e.embedding[54] AS DOUBLE) - CAST(c0.v[54] AS DOUBLE)) * (CAST(e.embedding[54] AS DOUBLE) - CAST(c0.v[54] AS DOUBLE))) + ((CAST(e.embedding[55] AS DOUBLE) - CAST(c0.v[55] AS DOUBLE)) * (CAST(e.embedding[55] AS DOUBLE) - CAST(c0.v[55] AS DOUBLE))) + ((CAST(e.embedding[56] AS DOUBLE) - CAST(c0.v[56] AS DOUBLE)) * (CAST(e.embedding[56] AS DOUBLE) - CAST(c0.v[56] AS DOUBLE))) + ((CAST(e.embedding[57] AS DOUBLE) - CAST(c0.v[57] AS DOUBLE)) * (CAST(e.embedding[57] AS DOUBLE) - CAST(c0.v[57] AS DOUBLE))) + ((CAST(e.embedding[58] AS DOUBLE) - CAST(c0.v[58] AS DOUBLE)) * (CAST(e.embedding[58] AS DOUBLE) - CAST(c0.v[58] AS DOUBLE))) + ((CAST(e.embedding[59] AS DOUBLE) - CAST(c0.v[59] AS DOUBLE)) * (CAST(e.embedding[59] AS DOUBLE) - CAST(c0.v[59] AS DOUBLE))) + ((CAST(e.embedding[60] AS DOUBLE) - CAST(c0.v[60] AS DOUBLE)) * (CAST(e.embedding[60] AS DOUBLE) - CAST(c0.v[60] AS DOUBLE))) + ((CAST(e.embedding[61] AS DOUBLE) - CAST(c0.v[61] AS DOUBLE)) * (CAST(e.embedding[61] AS DOUBLE) - CAST(c0.v[61] AS DOUBLE))) + ((CAST(e.embedding[62] AS DOUBLE) - CAST(c0.v[62] AS DOUBLE)) * (CAST(e.embedding[62] AS DOUBLE) - CAST(c0.v[62] AS DOUBLE))) + ((CAST(e.embedding[63] AS DOUBLE) - CAST(c0.v[63] AS DOUBLE)) * (CAST(e.embedding[63] AS DOUBLE) - CAST(c0.v[63] AS DOUBLE))) + ((CAST(e.embedding[64] AS DOUBLE) - CAST(c0.v[64] AS DOUBLE)) * (CAST(e.embedding[64] AS DOUBLE) - CAST(c0.v[64] AS DOUBLE))), 9) AS d
       FROM embeddings e CROSS JOIN c0),p1 AS (SELECT vec_id, embedding FROM d0
       ORDER BY d DESC, vec_id LIMIT 1),
d1 AS (SELECT e.vec_id, e.embedding,
         least(e.d, round(((CAST(e.embedding[1] AS DOUBLE) - CAST(p.embedding[1] AS DOUBLE)) * (CAST(e.embedding[1] AS DOUBLE) - CAST(p.embedding[1] AS DOUBLE))) + ((CAST(e.embedding[2] AS DOUBLE) - CAST(p.embedding[2] AS DOUBLE)) * (CAST(e.embedding[2] AS DOUBLE) - CAST(p.embedding[2] AS DOUBLE))) + ((CAST(e.embedding[3] AS DOUBLE) - CAST(p.embedding[3] AS DOUBLE)) * (CAST(e.embedding[3] AS DOUBLE) - CAST(p.embedding[3] AS DOUBLE))) + ((CAST(e.embedding[4] AS DOUBLE) - CAST(p.embedding[4] AS DOUBLE)) * (CAST(e.embedding[4] AS DOUBLE) - CAST(p.embedding[4] AS DOUBLE))) + ((CAST(e.embedding[5] AS DOUBLE) - CAST(p.embedding[5] AS DOUBLE)) * (CAST(e.embedding[5] AS DOUBLE) - CAST(p.embedding[5] AS DOUBLE))) + ((CAST(e.embedding[6] AS DOUBLE) - CAST(p.embedding[6] AS DOUBLE)) * (CAST(e.embedding[6] AS DOUBLE) - CAST(p.embedding[6] AS DOUBLE))) + ((CAST(e.embedding[7] AS DOUBLE) - CAST(p.embedding[7] AS DOUBLE)) * (CAST(e.embedding[7] AS DOUBLE) - CAST(p.embedding[7] AS DOUBLE))) + ((CAST(e.embedding[8] AS DOUBLE) - CAST(p.embedding[8] AS DOUBLE)) * (CAST(e.embedding[8] AS DOUBLE) - CAST(p.embedding[8] AS DOUBLE))) + ((CAST(e.embedding[9] AS DOUBLE) - CAST(p.embedding[9] AS DOUBLE)) * (CAST(e.embedding[9] AS DOUBLE) - CAST(p.embedding[9] AS DOUBLE))) + ((CAST(e.embedding[10] AS DOUBLE) - CAST(p.embedding[10] AS DOUBLE)) * (CAST(e.embedding[10] AS DOUBLE) - CAST(p.embedding[10] AS DOUBLE))) + ((CAST(e.embedding[11] AS DOUBLE) - CAST(p.embedding[11] AS DOUBLE)) * (CAST(e.embedding[11] AS DOUBLE) - CAST(p.embedding[11] AS DOUBLE))) + ((CAST(e.embedding[12] AS DOUBLE) - CAST(p.embedding[12] AS DOUBLE)) * (CAST(e.embedding[12] AS DOUBLE) - CAST(p.embedding[12] AS DOUBLE))) + ((CAST(e.embedding[13] AS DOUBLE) - CAST(p.embedding[13] AS DOUBLE)) * (CAST(e.embedding[13] AS DOUBLE) - CAST(p.embedding[13] AS DOUBLE))) + ((CAST(e.embedding[14] AS DOUBLE) - CAST(p.embedding[14] AS DOUBLE)) * (CAST(e.embedding[14] AS DOUBLE) - CAST(p.embedding[14] AS DOUBLE))) + ((CAST(e.embedding[15] AS DOUBLE) - CAST(p.embedding[15] AS DOUBLE)) * (CAST(e.embedding[15] AS DOUBLE) - CAST(p.embedding[15] AS DOUBLE))) + ((CAST(e.embedding[16] AS DOUBLE) - CAST(p.embedding[16] AS DOUBLE)) * (CAST(e.embedding[16] AS DOUBLE) - CAST(p.embedding[16] AS DOUBLE))) + ((CAST(e.embedding[17] AS DOUBLE) - CAST(p.embedding[17] AS DOUBLE)) * (CAST(e.embedding[17] AS DOUBLE) - CAST(p.embedding[17] AS DOUBLE))) + ((CAST(e.embedding[18] AS DOUBLE) - CAST(p.embedding[18] AS DOUBLE)) * (CAST(e.embedding[18] AS DOUBLE) - CAST(p.embedding[18] AS DOUBLE))) + ((CAST(e.embedding[19] AS DOUBLE) - CAST(p.embedding[19] AS DOUBLE)) * (CAST(e.embedding[19] AS DOUBLE) - CAST(p.embedding[19] AS DOUBLE))) + ((CAST(e.embedding[20] AS DOUBLE) - CAST(p.embedding[20] AS DOUBLE)) * (CAST(e.embedding[20] AS DOUBLE) - CAST(p.embedding[20] AS DOUBLE))) + ((CAST(e.embedding[21] AS DOUBLE) - CAST(p.embedding[21] AS DOUBLE)) * (CAST(e.embedding[21] AS DOUBLE) - CAST(p.embedding[21] AS DOUBLE))) + ((CAST(e.embedding[22] AS DOUBLE) - CAST(p.embedding[22] AS DOUBLE)) * (CAST(e.embedding[22] AS DOUBLE) - CAST(p.embedding[22] AS DOUBLE))) + ((CAST(e.embedding[23] AS DOUBLE) - CAST(p.embedding[23] AS DOUBLE)) * (CAST(e.embedding[23] AS DOUBLE) - CAST(p.embedding[23] AS DOUBLE))) + ((CAST(e.embedding[24] AS DOUBLE) - CAST(p.embedding[24] AS DOUBLE)) * (CAST(e.embedding[24] AS DOUBLE) - CAST(p.embedding[24] AS DOUBLE))) + ((CAST(e.embedding[25] AS DOUBLE) - CAST(p.embedding[25] AS DOUBLE)) * (CAST(e.embedding[25] AS DOUBLE) - CAST(p.embedding[25] AS DOUBLE))) + ((CAST(e.embedding[26] AS DOUBLE) - CAST(p.embedding[26] AS DOUBLE)) * (CAST(e.embedding[26] AS DOUBLE) - CAST(p.embedding[26] AS DOUBLE))) + ((CAST(e.embedding[27] AS DOUBLE) - CAST(p.embedding[27] AS DOUBLE)) * (CAST(e.embedding[27] AS DOUBLE) - CAST(p.embedding[27] AS DOUBLE))) + ((CAST(e.embedding[28] AS DOUBLE) - CAST(p.embedding[28] AS DOUBLE)) * (CAST(e.embedding[28] AS DOUBLE) - CAST(p.embedding[28] AS DOUBLE))) + ((CAST(e.embedding[29] AS DOUBLE) - CAST(p.embedding[29] AS DOUBLE)) * (CAST(e.embedding[29] AS DOUBLE) - CAST(p.embedding[29] AS DOUBLE))) + ((CAST(e.embedding[30] AS DOUBLE) - CAST(p.embedding[30] AS DOUBLE)) * (CAST(e.embedding[30] AS DOUBLE) - CAST(p.embedding[30] AS DOUBLE))) + ((CAST(e.embedding[31] AS DOUBLE) - CAST(p.embedding[31] AS DOUBLE)) * (CAST(e.embedding[31] AS DOUBLE) - CAST(p.embedding[31] AS DOUBLE))) + ((CAST(e.embedding[32] AS DOUBLE) - CAST(p.embedding[32] AS DOUBLE)) * (CAST(e.embedding[32] AS DOUBLE) - CAST(p.embedding[32] AS DOUBLE))) + ((CAST(e.embedding[33] AS DOUBLE) - CAST(p.embedding[33] AS DOUBLE)) * (CAST(e.embedding[33] AS DOUBLE) - CAST(p.embedding[33] AS DOUBLE))) + ((CAST(e.embedding[34] AS DOUBLE) - CAST(p.embedding[34] AS DOUBLE)) * (CAST(e.embedding[34] AS DOUBLE) - CAST(p.embedding[34] AS DOUBLE))) + ((CAST(e.embedding[35] AS DOUBLE) - CAST(p.embedding[35] AS DOUBLE)) * (CAST(e.embedding[35] AS DOUBLE) - CAST(p.embedding[35] AS DOUBLE))) + ((CAST(e.embedding[36] AS DOUBLE) - CAST(p.embedding[36] AS DOUBLE)) * (CAST(e.embedding[36] AS DOUBLE) - CAST(p.embedding[36] AS DOUBLE))) + ((CAST(e.embedding[37] AS DOUBLE) - CAST(p.embedding[37] AS DOUBLE)) * (CAST(e.embedding[37] AS DOUBLE) - CAST(p.embedding[37] AS DOUBLE))) + ((CAST(e.embedding[38] AS DOUBLE) - CAST(p.embedding[38] AS DOUBLE)) * (CAST(e.embedding[38] AS DOUBLE) - CAST(p.embedding[38] AS DOUBLE))) + ((CAST(e.embedding[39] AS DOUBLE) - CAST(p.embedding[39] AS DOUBLE)) * (CAST(e.embedding[39] AS DOUBLE) - CAST(p.embedding[39] AS DOUBLE))) + ((CAST(e.embedding[40] AS DOUBLE) - CAST(p.embedding[40] AS DOUBLE)) * (CAST(e.embedding[40] AS DOUBLE) - CAST(p.embedding[40] AS DOUBLE))) + ((CAST(e.embedding[41] AS DOUBLE) - CAST(p.embedding[41] AS DOUBLE)) * (CAST(e.embedding[41] AS DOUBLE) - CAST(p.embedding[41] AS DOUBLE))) + ((CAST(e.embedding[42] AS DOUBLE) - CAST(p.embedding[42] AS DOUBLE)) * (CAST(e.embedding[42] AS DOUBLE) - CAST(p.embedding[42] AS DOUBLE))) + ((CAST(e.embedding[43] AS DOUBLE) - CAST(p.embedding[43] AS DOUBLE)) * (CAST(e.embedding[43] AS DOUBLE) - CAST(p.embedding[43] AS DOUBLE))) + ((CAST(e.embedding[44] AS DOUBLE) - CAST(p.embedding[44] AS DOUBLE)) * (CAST(e.embedding[44] AS DOUBLE) - CAST(p.embedding[44] AS DOUBLE))) + ((CAST(e.embedding[45] AS DOUBLE) - CAST(p.embedding[45] AS DOUBLE)) * (CAST(e.embedding[45] AS DOUBLE) - CAST(p.embedding[45] AS DOUBLE))) + ((CAST(e.embedding[46] AS DOUBLE) - CAST(p.embedding[46] AS DOUBLE)) * (CAST(e.embedding[46] AS DOUBLE) - CAST(p.embedding[46] AS DOUBLE))) + ((CAST(e.embedding[47] AS DOUBLE) - CAST(p.embedding[47] AS DOUBLE)) * (CAST(e.embedding[47] AS DOUBLE) - CAST(p.embedding[47] AS DOUBLE))) + ((CAST(e.embedding[48] AS DOUBLE) - CAST(p.embedding[48] AS DOUBLE)) * (CAST(e.embedding[48] AS DOUBLE) - CAST(p.embedding[48] AS DOUBLE))) + ((CAST(e.embedding[49] AS DOUBLE) - CAST(p.embedding[49] AS DOUBLE)) * (CAST(e.embedding[49] AS DOUBLE) - CAST(p.embedding[49] AS DOUBLE))) + ((CAST(e.embedding[50] AS DOUBLE) - CAST(p.embedding[50] AS DOUBLE)) * (CAST(e.embedding[50] AS DOUBLE) - CAST(p.embedding[50] AS DOUBLE))) + ((CAST(e.embedding[51] AS DOUBLE) - CAST(p.embedding[51] AS DOUBLE)) * (CAST(e.embedding[51] AS DOUBLE) - CAST(p.embedding[51] AS DOUBLE))) + ((CAST(e.embedding[52] AS DOUBLE) - CAST(p.embedding[52] AS DOUBLE)) * (CAST(e.embedding[52] AS DOUBLE) - CAST(p.embedding[52] AS DOUBLE))) + ((CAST(e.embedding[53] AS DOUBLE) - CAST(p.embedding[53] AS DOUBLE)) * (CAST(e.embedding[53] AS DOUBLE) - CAST(p.embedding[53] AS DOUBLE))) + ((CAST(e.embedding[54] AS DOUBLE) - CAST(p.embedding[54] AS DOUBLE)) * (CAST(e.embedding[54] AS DOUBLE) - CAST(p.embedding[54] AS DOUBLE))) + ((CAST(e.embedding[55] AS DOUBLE) - CAST(p.embedding[55] AS DOUBLE)) * (CAST(e.embedding[55] AS DOUBLE) - CAST(p.embedding[55] AS DOUBLE))) + ((CAST(e.embedding[56] AS DOUBLE) - CAST(p.embedding[56] AS DOUBLE)) * (CAST(e.embedding[56] AS DOUBLE) - CAST(p.embedding[56] AS DOUBLE))) + ((CAST(e.embedding[57] AS DOUBLE) - CAST(p.embedding[57] AS DOUBLE)) * (CAST(e.embedding[57] AS DOUBLE) - CAST(p.embedding[57] AS DOUBLE))) + ((CAST(e.embedding[58] AS DOUBLE) - CAST(p.embedding[58] AS DOUBLE)) * (CAST(e.embedding[58] AS DOUBLE) - CAST(p.embedding[58] AS DOUBLE))) + ((CAST(e.embedding[59] AS DOUBLE) - CAST(p.embedding[59] AS DOUBLE)) * (CAST(e.embedding[59] AS DOUBLE) - CAST(p.embedding[59] AS DOUBLE))) + ((CAST(e.embedding[60] AS DOUBLE) - CAST(p.embedding[60] AS DOUBLE)) * (CAST(e.embedding[60] AS DOUBLE) - CAST(p.embedding[60] AS DOUBLE))) + ((CAST(e.embedding[61] AS DOUBLE) - CAST(p.embedding[61] AS DOUBLE)) * (CAST(e.embedding[61] AS DOUBLE) - CAST(p.embedding[61] AS DOUBLE))) + ((CAST(e.embedding[62] AS DOUBLE) - CAST(p.embedding[62] AS DOUBLE)) * (CAST(e.embedding[62] AS DOUBLE) - CAST(p.embedding[62] AS DOUBLE))) + ((CAST(e.embedding[63] AS DOUBLE) - CAST(p.embedding[63] AS DOUBLE)) * (CAST(e.embedding[63] AS DOUBLE) - CAST(p.embedding[63] AS DOUBLE))) + ((CAST(e.embedding[64] AS DOUBLE) - CAST(p.embedding[64] AS DOUBLE)) * (CAST(e.embedding[64] AS DOUBLE) - CAST(p.embedding[64] AS DOUBLE))), 9)) AS d
       FROM d0 e CROSS JOIN p1 p),p2 AS (SELECT vec_id, embedding FROM d1
       ORDER BY d DESC, vec_id LIMIT 1),
d2 AS (SELECT e.vec_id, e.embedding,
         least(e.d, round(((CAST(e.embedding[1] AS DOUBLE) - CAST(p.embedding[1] AS DOUBLE)) * (CAST(e.embedding[1] AS DOUBLE) - CAST(p.embedding[1] AS DOUBLE))) + ((CAST(e.embedding[2] AS DOUBLE) - CAST(p.embedding[2] AS DOUBLE)) * (CAST(e.embedding[2] AS DOUBLE) - CAST(p.embedding[2] AS DOUBLE))) + ((CAST(e.embedding[3] AS DOUBLE) - CAST(p.embedding[3] AS DOUBLE)) * (CAST(e.embedding[3] AS DOUBLE) - CAST(p.embedding[3] AS DOUBLE))) + ((CAST(e.embedding[4] AS DOUBLE) - CAST(p.embedding[4] AS DOUBLE)) * (CAST(e.embedding[4] AS DOUBLE) - CAST(p.embedding[4] AS DOUBLE))) + ((CAST(e.embedding[5] AS DOUBLE) - CAST(p.embedding[5] AS DOUBLE)) * (CAST(e.embedding[5] AS DOUBLE) - CAST(p.embedding[5] AS DOUBLE))) + ((CAST(e.embedding[6] AS DOUBLE) - CAST(p.embedding[6] AS DOUBLE)) * (CAST(e.embedding[6] AS DOUBLE) - CAST(p.embedding[6] AS DOUBLE))) + ((CAST(e.embedding[7] AS DOUBLE) - CAST(p.embedding[7] AS DOUBLE)) * (CAST(e.embedding[7] AS DOUBLE) - CAST(p.embedding[7] AS DOUBLE))) + ((CAST(e.embedding[8] AS DOUBLE) - CAST(p.embedding[8] AS DOUBLE)) * (CAST(e.embedding[8] AS DOUBLE) - CAST(p.embedding[8] AS DOUBLE))) + ((CAST(e.embedding[9] AS DOUBLE) - CAST(p.embedding[9] AS DOUBLE)) * (CAST(e.embedding[9] AS DOUBLE) - CAST(p.embedding[9] AS DOUBLE))) + ((CAST(e.embedding[10] AS DOUBLE) - CAST(p.embedding[10] AS DOUBLE)) * (CAST(e.embedding[10] AS DOUBLE) - CAST(p.embedding[10] AS DOUBLE))) + ((CAST(e.embedding[11] AS DOUBLE) - CAST(p.embedding[11] AS DOUBLE)) * (CAST(e.embedding[11] AS DOUBLE) - CAST(p.embedding[11] AS DOUBLE))) + ((CAST(e.embedding[12] AS DOUBLE) - CAST(p.embedding[12] AS DOUBLE)) * (CAST(e.embedding[12] AS DOUBLE) - CAST(p.embedding[12] AS DOUBLE))) + ((CAST(e.embedding[13] AS DOUBLE) - CAST(p.embedding[13] AS DOUBLE)) * (CAST(e.embedding[13] AS DOUBLE) - CAST(p.embedding[13] AS DOUBLE))) + ((CAST(e.embedding[14] AS DOUBLE) - CAST(p.embedding[14] AS DOUBLE)) * (CAST(e.embedding[14] AS DOUBLE) - CAST(p.embedding[14] AS DOUBLE))) + ((CAST(e.embedding[15] AS DOUBLE) - CAST(p.embedding[15] AS DOUBLE)) * (CAST(e.embedding[15] AS DOUBLE) - CAST(p.embedding[15] AS DOUBLE))) + ((CAST(e.embedding[16] AS DOUBLE) - CAST(p.embedding[16] AS DOUBLE)) * (CAST(e.embedding[16] AS DOUBLE) - CAST(p.embedding[16] AS DOUBLE))) + ((CAST(e.embedding[17] AS DOUBLE) - CAST(p.embedding[17] AS DOUBLE)) * (CAST(e.embedding[17] AS DOUBLE) - CAST(p.embedding[17] AS DOUBLE))) + ((CAST(e.embedding[18] AS DOUBLE) - CAST(p.embedding[18] AS DOUBLE)) * (CAST(e.embedding[18] AS DOUBLE) - CAST(p.embedding[18] AS DOUBLE))) + ((CAST(e.embedding[19] AS DOUBLE) - CAST(p.embedding[19] AS DOUBLE)) * (CAST(e.embedding[19] AS DOUBLE) - CAST(p.embedding[19] AS DOUBLE))) + ((CAST(e.embedding[20] AS DOUBLE) - CAST(p.embedding[20] AS DOUBLE)) * (CAST(e.embedding[20] AS DOUBLE) - CAST(p.embedding[20] AS DOUBLE))) + ((CAST(e.embedding[21] AS DOUBLE) - CAST(p.embedding[21] AS DOUBLE)) * (CAST(e.embedding[21] AS DOUBLE) - CAST(p.embedding[21] AS DOUBLE))) + ((CAST(e.embedding[22] AS DOUBLE) - CAST(p.embedding[22] AS DOUBLE)) * (CAST(e.embedding[22] AS DOUBLE) - CAST(p.embedding[22] AS DOUBLE))) + ((CAST(e.embedding[23] AS DOUBLE) - CAST(p.embedding[23] AS DOUBLE)) * (CAST(e.embedding[23] AS DOUBLE) - CAST(p.embedding[23] AS DOUBLE))) + ((CAST(e.embedding[24] AS DOUBLE) - CAST(p.embedding[24] AS DOUBLE)) * (CAST(e.embedding[24] AS DOUBLE) - CAST(p.embedding[24] AS DOUBLE))) + ((CAST(e.embedding[25] AS DOUBLE) - CAST(p.embedding[25] AS DOUBLE)) * (CAST(e.embedding[25] AS DOUBLE) - CAST(p.embedding[25] AS DOUBLE))) + ((CAST(e.embedding[26] AS DOUBLE) - CAST(p.embedding[26] AS DOUBLE)) * (CAST(e.embedding[26] AS DOUBLE) - CAST(p.embedding[26] AS DOUBLE))) + ((CAST(e.embedding[27] AS DOUBLE) - CAST(p.embedding[27] AS DOUBLE)) * (CAST(e.embedding[27] AS DOUBLE) - CAST(p.embedding[27] AS DOUBLE))) + ((CAST(e.embedding[28] AS DOUBLE) - CAST(p.embedding[28] AS DOUBLE)) * (CAST(e.embedding[28] AS DOUBLE) - CAST(p.embedding[28] AS DOUBLE))) + ((CAST(e.embedding[29] AS DOUBLE) - CAST(p.embedding[29] AS DOUBLE)) * (CAST(e.embedding[29] AS DOUBLE) - CAST(p.embedding[29] AS DOUBLE))) + ((CAST(e.embedding[30] AS DOUBLE) - CAST(p.embedding[30] AS DOUBLE)) * (CAST(e.embedding[30] AS DOUBLE) - CAST(p.embedding[30] AS DOUBLE))) + ((CAST(e.embedding[31] AS DOUBLE) - CAST(p.embedding[31] AS DOUBLE)) * (CAST(e.embedding[31] AS DOUBLE) - CAST(p.embedding[31] AS DOUBLE))) + ((CAST(e.embedding[32] AS DOUBLE) - CAST(p.embedding[32] AS DOUBLE)) * (CAST(e.embedding[32] AS DOUBLE) - CAST(p.embedding[32] AS DOUBLE))) + ((CAST(e.embedding[33] AS DOUBLE) - CAST(p.embedding[33] AS DOUBLE)) * (CAST(e.embedding[33] AS DOUBLE) - CAST(p.embedding[33] AS DOUBLE))) + ((CAST(e.embedding[34] AS DOUBLE) - CAST(p.embedding[34] AS DOUBLE)) * (CAST(e.embedding[34] AS DOUBLE) - CAST(p.embedding[34] AS DOUBLE))) + ((CAST(e.embedding[35] AS DOUBLE) - CAST(p.embedding[35] AS DOUBLE)) * (CAST(e.embedding[35] AS DOUBLE) - CAST(p.embedding[35] AS DOUBLE))) + ((CAST(e.embedding[36] AS DOUBLE) - CAST(p.embedding[36] AS DOUBLE)) * (CAST(e.embedding[36] AS DOUBLE) - CAST(p.embedding[36] AS DOUBLE))) + ((CAST(e.embedding[37] AS DOUBLE) - CAST(p.embedding[37] AS DOUBLE)) * (CAST(e.embedding[37] AS DOUBLE) - CAST(p.embedding[37] AS DOUBLE))) + ((CAST(e.embedding[38] AS DOUBLE) - CAST(p.embedding[38] AS DOUBLE)) * (CAST(e.embedding[38] AS DOUBLE) - CAST(p.embedding[38] AS DOUBLE))) + ((CAST(e.embedding[39] AS DOUBLE) - CAST(p.embedding[39] AS DOUBLE)) * (CAST(e.embedding[39] AS DOUBLE) - CAST(p.embedding[39] AS DOUBLE))) + ((CAST(e.embedding[40] AS DOUBLE) - CAST(p.embedding[40] AS DOUBLE)) * (CAST(e.embedding[40] AS DOUBLE) - CAST(p.embedding[40] AS DOUBLE))) + ((CAST(e.embedding[41] AS DOUBLE) - CAST(p.embedding[41] AS DOUBLE)) * (CAST(e.embedding[41] AS DOUBLE) - CAST(p.embedding[41] AS DOUBLE))) + ((CAST(e.embedding[42] AS DOUBLE) - CAST(p.embedding[42] AS DOUBLE)) * (CAST(e.embedding[42] AS DOUBLE) - CAST(p.embedding[42] AS DOUBLE))) + ((CAST(e.embedding[43] AS DOUBLE) - CAST(p.embedding[43] AS DOUBLE)) * (CAST(e.embedding[43] AS DOUBLE) - CAST(p.embedding[43] AS DOUBLE))) + ((CAST(e.embedding[44] AS DOUBLE) - CAST(p.embedding[44] AS DOUBLE)) * (CAST(e.embedding[44] AS DOUBLE) - CAST(p.embedding[44] AS DOUBLE))) + ((CAST(e.embedding[45] AS DOUBLE) - CAST(p.embedding[45] AS DOUBLE)) * (CAST(e.embedding[45] AS DOUBLE) - CAST(p.embedding[45] AS DOUBLE))) + ((CAST(e.embedding[46] AS DOUBLE) - CAST(p.embedding[46] AS DOUBLE)) * (CAST(e.embedding[46] AS DOUBLE) - CAST(p.embedding[46] AS DOUBLE))) + ((CAST(e.embedding[47] AS DOUBLE) - CAST(p.embedding[47] AS DOUBLE)) * (CAST(e.embedding[47] AS DOUBLE) - CAST(p.embedding[47] AS DOUBLE))) + ((CAST(e.embedding[48] AS DOUBLE) - CAST(p.embedding[48] AS DOUBLE)) * (CAST(e.embedding[48] AS DOUBLE) - CAST(p.embedding[48] AS DOUBLE))) + ((CAST(e.embedding[49] AS DOUBLE) - CAST(p.embedding[49] AS DOUBLE)) * (CAST(e.embedding[49] AS DOUBLE) - CAST(p.embedding[49] AS DOUBLE))) + ((CAST(e.embedding[50] AS DOUBLE) - CAST(p.embedding[50] AS DOUBLE)) * (CAST(e.embedding[50] AS DOUBLE) - CAST(p.embedding[50] AS DOUBLE))) + ((CAST(e.embedding[51] AS DOUBLE) - CAST(p.embedding[51] AS DOUBLE)) * (CAST(e.embedding[51] AS DOUBLE) - CAST(p.embedding[51] AS DOUBLE))) + ((CAST(e.embedding[52] AS DOUBLE) - CAST(p.embedding[52] AS DOUBLE)) * (CAST(e.embedding[52] AS DOUBLE) - CAST(p.embedding[52] AS DOUBLE))) + ((CAST(e.embedding[53] AS DOUBLE) - CAST(p.embedding[53] AS DOUBLE)) * (CAST(e.embedding[53] AS DOUBLE) - CAST(p.embedding[53] AS DOUBLE))) + ((CAST(e.embedding[54] AS DOUBLE) - CAST(p.embedding[54] AS DOUBLE)) * (CAST(e.embedding[54] AS DOUBLE) - CAST(p.embedding[54] AS DOUBLE))) + ((CAST(e.embedding[55] AS DOUBLE) - CAST(p.embedding[55] AS DOUBLE)) * (CAST(e.embedding[55] AS DOUBLE) - CAST(p.embedding[55] AS DOUBLE))) + ((CAST(e.embedding[56] AS DOUBLE) - CAST(p.embedding[56] AS DOUBLE)) * (CAST(e.embedding[56] AS DOUBLE) - CAST(p.embedding[56] AS DOUBLE))) + ((CAST(e.embedding[57] AS DOUBLE) - CAST(p.embedding[57] AS DOUBLE)) * (CAST(e.embedding[57] AS DOUBLE) - CAST(p.embedding[57] AS DOUBLE))) + ((CAST(e.embedding[58] AS DOUBLE) - CAST(p.embedding[58] AS DOUBLE)) * (CAST(e.embedding[58] AS DOUBLE) - CAST(p.embedding[58] AS DOUBLE))) + ((CAST(e.embedding[59] AS DOUBLE) - CAST(p.embedding[59] AS DOUBLE)) * (CAST(e.embedding[59] AS DOUBLE) - CAST(p.embedding[59] AS DOUBLE))) + ((CAST(e.embedding[60] AS DOUBLE) - CAST(p.embedding[60] AS DOUBLE)) * (CAST(e.embedding[60] AS DOUBLE) - CAST(p.embedding[60] AS DOUBLE))) + ((CAST(e.embedding[61] AS DOUBLE) - CAST(p.embedding[61] AS DOUBLE)) * (CAST(e.embedding[61] AS DOUBLE) - CAST(p.embedding[61] AS DOUBLE))) + ((CAST(e.embedding[62] AS DOUBLE) - CAST(p.embedding[62] AS DOUBLE)) * (CAST(e.embedding[62] AS DOUBLE) - CAST(p.embedding[62] AS DOUBLE))) + ((CAST(e.embedding[63] AS DOUBLE) - CAST(p.embedding[63] AS DOUBLE)) * (CAST(e.embedding[63] AS DOUBLE) - CAST(p.embedding[63] AS DOUBLE))) + ((CAST(e.embedding[64] AS DOUBLE) - CAST(p.embedding[64] AS DOUBLE)) * (CAST(e.embedding[64] AS DOUBLE) - CAST(p.embedding[64] AS DOUBLE))), 9)) AS d
       FROM d1 e CROSS JOIN p2 p),p3 AS (SELECT vec_id, embedding FROM d2
       ORDER BY d DESC, vec_id LIMIT 1),
d3 AS (SELECT e.vec_id, e.embedding,
         least(e.d, round(((CAST(e.embedding[1] AS DOUBLE) - CAST(p.embedding[1] AS DOUBLE)) * (CAST(e.embedding[1] AS DOUBLE) - CAST(p.embedding[1] AS DOUBLE))) + ((CAST(e.embedding[2] AS DOUBLE) - CAST(p.embedding[2] AS DOUBLE)) * (CAST(e.embedding[2] AS DOUBLE) - CAST(p.embedding[2] AS DOUBLE))) + ((CAST(e.embedding[3] AS DOUBLE) - CAST(p.embedding[3] AS DOUBLE)) * (CAST(e.embedding[3] AS DOUBLE) - CAST(p.embedding[3] AS DOUBLE))) + ((CAST(e.embedding[4] AS DOUBLE) - CAST(p.embedding[4] AS DOUBLE)) * (CAST(e.embedding[4] AS DOUBLE) - CAST(p.embedding[4] AS DOUBLE))) + ((CAST(e.embedding[5] AS DOUBLE) - CAST(p.embedding[5] AS DOUBLE)) * (CAST(e.embedding[5] AS DOUBLE) - CAST(p.embedding[5] AS DOUBLE))) + ((CAST(e.embedding[6] AS DOUBLE) - CAST(p.embedding[6] AS DOUBLE)) * (CAST(e.embedding[6] AS DOUBLE) - CAST(p.embedding[6] AS DOUBLE))) + ((CAST(e.embedding[7] AS DOUBLE) - CAST(p.embedding[7] AS DOUBLE)) * (CAST(e.embedding[7] AS DOUBLE) - CAST(p.embedding[7] AS DOUBLE))) + ((CAST(e.embedding[8] AS DOUBLE) - CAST(p.embedding[8] AS DOUBLE)) * (CAST(e.embedding[8] AS DOUBLE) - CAST(p.embedding[8] AS DOUBLE))) + ((CAST(e.embedding[9] AS DOUBLE) - CAST(p.embedding[9] AS DOUBLE)) * (CAST(e.embedding[9] AS DOUBLE) - CAST(p.embedding[9] AS DOUBLE))) + ((CAST(e.embedding[10] AS DOUBLE) - CAST(p.embedding[10] AS DOUBLE)) * (CAST(e.embedding[10] AS DOUBLE) - CAST(p.embedding[10] AS DOUBLE))) + ((CAST(e.embedding[11] AS DOUBLE) - CAST(p.embedding[11] AS DOUBLE)) * (CAST(e.embedding[11] AS DOUBLE) - CAST(p.embedding[11] AS DOUBLE))) + ((CAST(e.embedding[12] AS DOUBLE) - CAST(p.embedding[12] AS DOUBLE)) * (CAST(e.embedding[12] AS DOUBLE) - CAST(p.embedding[12] AS DOUBLE))) + ((CAST(e.embedding[13] AS DOUBLE) - CAST(p.embedding[13] AS DOUBLE)) * (CAST(e.embedding[13] AS DOUBLE) - CAST(p.embedding[13] AS DOUBLE))) + ((CAST(e.embedding[14] AS DOUBLE) - CAST(p.embedding[14] AS DOUBLE)) * (CAST(e.embedding[14] AS DOUBLE) - CAST(p.embedding[14] AS DOUBLE))) + ((CAST(e.embedding[15] AS DOUBLE) - CAST(p.embedding[15] AS DOUBLE)) * (CAST(e.embedding[15] AS DOUBLE) - CAST(p.embedding[15] AS DOUBLE))) + ((CAST(e.embedding[16] AS DOUBLE) - CAST(p.embedding[16] AS DOUBLE)) * (CAST(e.embedding[16] AS DOUBLE) - CAST(p.embedding[16] AS DOUBLE))) + ((CAST(e.embedding[17] AS DOUBLE) - CAST(p.embedding[17] AS DOUBLE)) * (CAST(e.embedding[17] AS DOUBLE) - CAST(p.embedding[17] AS DOUBLE))) + ((CAST(e.embedding[18] AS DOUBLE) - CAST(p.embedding[18] AS DOUBLE)) * (CAST(e.embedding[18] AS DOUBLE) - CAST(p.embedding[18] AS DOUBLE))) + ((CAST(e.embedding[19] AS DOUBLE) - CAST(p.embedding[19] AS DOUBLE)) * (CAST(e.embedding[19] AS DOUBLE) - CAST(p.embedding[19] AS DOUBLE))) + ((CAST(e.embedding[20] AS DOUBLE) - CAST(p.embedding[20] AS DOUBLE)) * (CAST(e.embedding[20] AS DOUBLE) - CAST(p.embedding[20] AS DOUBLE))) + ((CAST(e.embedding[21] AS DOUBLE) - CAST(p.embedding[21] AS DOUBLE)) * (CAST(e.embedding[21] AS DOUBLE) - CAST(p.embedding[21] AS DOUBLE))) + ((CAST(e.embedding[22] AS DOUBLE) - CAST(p.embedding[22] AS DOUBLE)) * (CAST(e.embedding[22] AS DOUBLE) - CAST(p.embedding[22] AS DOUBLE))) + ((CAST(e.embedding[23] AS DOUBLE) - CAST(p.embedding[23] AS DOUBLE)) * (CAST(e.embedding[23] AS DOUBLE) - CAST(p.embedding[23] AS DOUBLE))) + ((CAST(e.embedding[24] AS DOUBLE) - CAST(p.embedding[24] AS DOUBLE)) * (CAST(e.embedding[24] AS DOUBLE) - CAST(p.embedding[24] AS DOUBLE))) + ((CAST(e.embedding[25] AS DOUBLE) - CAST(p.embedding[25] AS DOUBLE)) * (CAST(e.embedding[25] AS DOUBLE) - CAST(p.embedding[25] AS DOUBLE))) + ((CAST(e.embedding[26] AS DOUBLE) - CAST(p.embedding[26] AS DOUBLE)) * (CAST(e.embedding[26] AS DOUBLE) - CAST(p.embedding[26] AS DOUBLE))) + ((CAST(e.embedding[27] AS DOUBLE) - CAST(p.embedding[27] AS DOUBLE)) * (CAST(e.embedding[27] AS DOUBLE) - CAST(p.embedding[27] AS DOUBLE))) + ((CAST(e.embedding[28] AS DOUBLE) - CAST(p.embedding[28] AS DOUBLE)) * (CAST(e.embedding[28] AS DOUBLE) - CAST(p.embedding[28] AS DOUBLE))) + ((CAST(e.embedding[29] AS DOUBLE) - CAST(p.embedding[29] AS DOUBLE)) * (CAST(e.embedding[29] AS DOUBLE) - CAST(p.embedding[29] AS DOUBLE))) + ((CAST(e.embedding[30] AS DOUBLE) - CAST(p.embedding[30] AS DOUBLE)) * (CAST(e.embedding[30] AS DOUBLE) - CAST(p.embedding[30] AS DOUBLE))) + ((CAST(e.embedding[31] AS DOUBLE) - CAST(p.embedding[31] AS DOUBLE)) * (CAST(e.embedding[31] AS DOUBLE) - CAST(p.embedding[31] AS DOUBLE))) + ((CAST(e.embedding[32] AS DOUBLE) - CAST(p.embedding[32] AS DOUBLE)) * (CAST(e.embedding[32] AS DOUBLE) - CAST(p.embedding[32] AS DOUBLE))) + ((CAST(e.embedding[33] AS DOUBLE) - CAST(p.embedding[33] AS DOUBLE)) * (CAST(e.embedding[33] AS DOUBLE) - CAST(p.embedding[33] AS DOUBLE))) + ((CAST(e.embedding[34] AS DOUBLE) - CAST(p.embedding[34] AS DOUBLE)) * (CAST(e.embedding[34] AS DOUBLE) - CAST(p.embedding[34] AS DOUBLE))) + ((CAST(e.embedding[35] AS DOUBLE) - CAST(p.embedding[35] AS DOUBLE)) * (CAST(e.embedding[35] AS DOUBLE) - CAST(p.embedding[35] AS DOUBLE))) + ((CAST(e.embedding[36] AS DOUBLE) - CAST(p.embedding[36] AS DOUBLE)) * (CAST(e.embedding[36] AS DOUBLE) - CAST(p.embedding[36] AS DOUBLE))) + ((CAST(e.embedding[37] AS DOUBLE) - CAST(p.embedding[37] AS DOUBLE)) * (CAST(e.embedding[37] AS DOUBLE) - CAST(p.embedding[37] AS DOUBLE))) + ((CAST(e.embedding[38] AS DOUBLE) - CAST(p.embedding[38] AS DOUBLE)) * (CAST(e.embedding[38] AS DOUBLE) - CAST(p.embedding[38] AS DOUBLE))) + ((CAST(e.embedding[39] AS DOUBLE) - CAST(p.embedding[39] AS DOUBLE)) * (CAST(e.embedding[39] AS DOUBLE) - CAST(p.embedding[39] AS DOUBLE))) + ((CAST(e.embedding[40] AS DOUBLE) - CAST(p.embedding[40] AS DOUBLE)) * (CAST(e.embedding[40] AS DOUBLE) - CAST(p.embedding[40] AS DOUBLE))) + ((CAST(e.embedding[41] AS DOUBLE) - CAST(p.embedding[41] AS DOUBLE)) * (CAST(e.embedding[41] AS DOUBLE) - CAST(p.embedding[41] AS DOUBLE))) + ((CAST(e.embedding[42] AS DOUBLE) - CAST(p.embedding[42] AS DOUBLE)) * (CAST(e.embedding[42] AS DOUBLE) - CAST(p.embedding[42] AS DOUBLE))) + ((CAST(e.embedding[43] AS DOUBLE) - CAST(p.embedding[43] AS DOUBLE)) * (CAST(e.embedding[43] AS DOUBLE) - CAST(p.embedding[43] AS DOUBLE))) + ((CAST(e.embedding[44] AS DOUBLE) - CAST(p.embedding[44] AS DOUBLE)) * (CAST(e.embedding[44] AS DOUBLE) - CAST(p.embedding[44] AS DOUBLE))) + ((CAST(e.embedding[45] AS DOUBLE) - CAST(p.embedding[45] AS DOUBLE)) * (CAST(e.embedding[45] AS DOUBLE) - CAST(p.embedding[45] AS DOUBLE))) + ((CAST(e.embedding[46] AS DOUBLE) - CAST(p.embedding[46] AS DOUBLE)) * (CAST(e.embedding[46] AS DOUBLE) - CAST(p.embedding[46] AS DOUBLE))) + ((CAST(e.embedding[47] AS DOUBLE) - CAST(p.embedding[47] AS DOUBLE)) * (CAST(e.embedding[47] AS DOUBLE) - CAST(p.embedding[47] AS DOUBLE))) + ((CAST(e.embedding[48] AS DOUBLE) - CAST(p.embedding[48] AS DOUBLE)) * (CAST(e.embedding[48] AS DOUBLE) - CAST(p.embedding[48] AS DOUBLE))) + ((CAST(e.embedding[49] AS DOUBLE) - CAST(p.embedding[49] AS DOUBLE)) * (CAST(e.embedding[49] AS DOUBLE) - CAST(p.embedding[49] AS DOUBLE))) + ((CAST(e.embedding[50] AS DOUBLE) - CAST(p.embedding[50] AS DOUBLE)) * (CAST(e.embedding[50] AS DOUBLE) - CAST(p.embedding[50] AS DOUBLE))) + ((CAST(e.embedding[51] AS DOUBLE) - CAST(p.embedding[51] AS DOUBLE)) * (CAST(e.embedding[51] AS DOUBLE) - CAST(p.embedding[51] AS DOUBLE))) + ((CAST(e.embedding[52] AS DOUBLE) - CAST(p.embedding[52] AS DOUBLE)) * (CAST(e.embedding[52] AS DOUBLE) - CAST(p.embedding[52] AS DOUBLE))) + ((CAST(e.embedding[53] AS DOUBLE) - CAST(p.embedding[53] AS DOUBLE)) * (CAST(e.embedding[53] AS DOUBLE) - CAST(p.embedding[53] AS DOUBLE))) + ((CAST(e.embedding[54] AS DOUBLE) - CAST(p.embedding[54] AS DOUBLE)) * (CAST(e.embedding[54] AS DOUBLE) - CAST(p.embedding[54] AS DOUBLE))) + ((CAST(e.embedding[55] AS DOUBLE) - CAST(p.embedding[55] AS DOUBLE)) * (CAST(e.embedding[55] AS DOUBLE) - CAST(p.embedding[55] AS DOUBLE))) + ((CAST(e.embedding[56] AS DOUBLE) - CAST(p.embedding[56] AS DOUBLE)) * (CAST(e.embedding[56] AS DOUBLE) - CAST(p.embedding[56] AS DOUBLE))) + ((CAST(e.embedding[57] AS DOUBLE) - CAST(p.embedding[57] AS DOUBLE)) * (CAST(e.embedding[57] AS DOUBLE) - CAST(p.embedding[57] AS DOUBLE))) + ((CAST(e.embedding[58] AS DOUBLE) - CAST(p.embedding[58] AS DOUBLE)) * (CAST(e.embedding[58] AS DOUBLE) - CAST(p.embedding[58] AS DOUBLE))) + ((CAST(e.embedding[59] AS DOUBLE) - CAST(p.embedding[59] AS DOUBLE)) * (CAST(e.embedding[59] AS DOUBLE) - CAST(p.embedding[59] AS DOUBLE))) + ((CAST(e.embedding[60] AS DOUBLE) - CAST(p.embedding[60] AS DOUBLE)) * (CAST(e.embedding[60] AS DOUBLE) - CAST(p.embedding[60] AS DOUBLE))) + ((CAST(e.embedding[61] AS DOUBLE) - CAST(p.embedding[61] AS DOUBLE)) * (CAST(e.embedding[61] AS DOUBLE) - CAST(p.embedding[61] AS DOUBLE))) + ((CAST(e.embedding[62] AS DOUBLE) - CAST(p.embedding[62] AS DOUBLE)) * (CAST(e.embedding[62] AS DOUBLE) - CAST(p.embedding[62] AS DOUBLE))) + ((CAST(e.embedding[63] AS DOUBLE) - CAST(p.embedding[63] AS DOUBLE)) * (CAST(e.embedding[63] AS DOUBLE) - CAST(p.embedding[63] AS DOUBLE))) + ((CAST(e.embedding[64] AS DOUBLE) - CAST(p.embedding[64] AS DOUBLE)) * (CAST(e.embedding[64] AS DOUBLE) - CAST(p.embedding[64] AS DOUBLE))), 9)) AS d
       FROM d2 e CROSS JOIN p3 p),
dists AS (
  SELECT e.vec_id,
         round(((CAST(e.embedding[1] AS DOUBLE) - CAST(c0.v[1] AS DOUBLE)) * (CAST(e.embedding[1] AS DOUBLE) - CAST(c0.v[1] AS DOUBLE))) + ((CAST(e.embedding[2] AS DOUBLE) - CAST(c0.v[2] AS DOUBLE)) * (CAST(e.embedding[2] AS DOUBLE) - CAST(c0.v[2] AS DOUBLE))) + ((CAST(e.embedding[3] AS DOUBLE) - CAST(c0.v[3] AS DOUBLE)) * (CAST(e.embedding[3] AS DOUBLE) - CAST(c0.v[3] AS DOUBLE))) + ((CAST(e.embedding[4] AS DOUBLE) - CAST(c0.v[4] AS DOUBLE)) * (CAST(e.embedding[4] AS DOUBLE) - CAST(c0.v[4] AS DOUBLE))) + ((CAST(e.embedding[5] AS DOUBLE) - CAST(c0.v[5] AS DOUBLE)) * (CAST(e.embedding[5] AS DOUBLE) - CAST(c0.v[5] AS DOUBLE))) + ((CAST(e.embedding[6] AS DOUBLE) - CAST(c0.v[6] AS DOUBLE)) * (CAST(e.embedding[6] AS DOUBLE) - CAST(c0.v[6] AS DOUBLE))) + ((CAST(e.embedding[7] AS DOUBLE) - CAST(c0.v[7] AS DOUBLE)) * (CAST(e.embedding[7] AS DOUBLE) - CAST(c0.v[7] AS DOUBLE))) + ((CAST(e.embedding[8] AS DOUBLE) - CAST(c0.v[8] AS DOUBLE)) * (CAST(e.embedding[8] AS DOUBLE) - CAST(c0.v[8] AS DOUBLE))) + ((CAST(e.embedding[9] AS DOUBLE) - CAST(c0.v[9] AS DOUBLE)) * (CAST(e.embedding[9] AS DOUBLE) - CAST(c0.v[9] AS DOUBLE))) + ((CAST(e.embedding[10] AS DOUBLE) - CAST(c0.v[10] AS DOUBLE)) * (CAST(e.embedding[10] AS DOUBLE) - CAST(c0.v[10] AS DOUBLE))) + ((CAST(e.embedding[11] AS DOUBLE) - CAST(c0.v[11] AS DOUBLE)) * (CAST(e.embedding[11] AS DOUBLE) - CAST(c0.v[11] AS DOUBLE))) + ((CAST(e.embedding[12] AS DOUBLE) - CAST(c0.v[12] AS DOUBLE)) * (CAST(e.embedding[12] AS DOUBLE) - CAST(c0.v[12] AS DOUBLE))) + ((CAST(e.embedding[13] AS DOUBLE) - CAST(c0.v[13] AS DOUBLE)) * (CAST(e.embedding[13] AS DOUBLE) - CAST(c0.v[13] AS DOUBLE))) + ((CAST(e.embedding[14] AS DOUBLE) - CAST(c0.v[14] AS DOUBLE)) * (CAST(e.embedding[14] AS DOUBLE) - CAST(c0.v[14] AS DOUBLE))) + ((CAST(e.embedding[15] AS DOUBLE) - CAST(c0.v[15] AS DOUBLE)) * (CAST(e.embedding[15] AS DOUBLE) - CAST(c0.v[15] AS DOUBLE))) + ((CAST(e.embedding[16] AS DOUBLE) - CAST(c0.v[16] AS DOUBLE)) * (CAST(e.embedding[16] AS DOUBLE) - CAST(c0.v[16] AS DOUBLE))) + ((CAST(e.embedding[17] AS DOUBLE) - CAST(c0.v[17] AS DOUBLE)) * (CAST(e.embedding[17] AS DOUBLE) - CAST(c0.v[17] AS DOUBLE))) + ((CAST(e.embedding[18] AS DOUBLE) - CAST(c0.v[18] AS DOUBLE)) * (CAST(e.embedding[18] AS DOUBLE) - CAST(c0.v[18] AS DOUBLE))) + ((CAST(e.embedding[19] AS DOUBLE) - CAST(c0.v[19] AS DOUBLE)) * (CAST(e.embedding[19] AS DOUBLE) - CAST(c0.v[19] AS DOUBLE))) + ((CAST(e.embedding[20] AS DOUBLE) - CAST(c0.v[20] AS DOUBLE)) * (CAST(e.embedding[20] AS DOUBLE) - CAST(c0.v[20] AS DOUBLE))) + ((CAST(e.embedding[21] AS DOUBLE) - CAST(c0.v[21] AS DOUBLE)) * (CAST(e.embedding[21] AS DOUBLE) - CAST(c0.v[21] AS DOUBLE))) + ((CAST(e.embedding[22] AS DOUBLE) - CAST(c0.v[22] AS DOUBLE)) * (CAST(e.embedding[22] AS DOUBLE) - CAST(c0.v[22] AS DOUBLE))) + ((CAST(e.embedding[23] AS DOUBLE) - CAST(c0.v[23] AS DOUBLE)) * (CAST(e.embedding[23] AS DOUBLE) - CAST(c0.v[23] AS DOUBLE))) + ((CAST(e.embedding[24] AS DOUBLE) - CAST(c0.v[24] AS DOUBLE)) * (CAST(e.embedding[24] AS DOUBLE) - CAST(c0.v[24] AS DOUBLE))) + ((CAST(e.embedding[25] AS DOUBLE) - CAST(c0.v[25] AS DOUBLE)) * (CAST(e.embedding[25] AS DOUBLE) - CAST(c0.v[25] AS DOUBLE))) + ((CAST(e.embedding[26] AS DOUBLE) - CAST(c0.v[26] AS DOUBLE)) * (CAST(e.embedding[26] AS DOUBLE) - CAST(c0.v[26] AS DOUBLE))) + ((CAST(e.embedding[27] AS DOUBLE) - CAST(c0.v[27] AS DOUBLE)) * (CAST(e.embedding[27] AS DOUBLE) - CAST(c0.v[27] AS DOUBLE))) + ((CAST(e.embedding[28] AS DOUBLE) - CAST(c0.v[28] AS DOUBLE)) * (CAST(e.embedding[28] AS DOUBLE) - CAST(c0.v[28] AS DOUBLE))) + ((CAST(e.embedding[29] AS DOUBLE) - CAST(c0.v[29] AS DOUBLE)) * (CAST(e.embedding[29] AS DOUBLE) - CAST(c0.v[29] AS DOUBLE))) + ((CAST(e.embedding[30] AS DOUBLE) - CAST(c0.v[30] AS DOUBLE)) * (CAST(e.embedding[30] AS DOUBLE) - CAST(c0.v[30] AS DOUBLE))) + ((CAST(e.embedding[31] AS DOUBLE) - CAST(c0.v[31] AS DOUBLE)) * (CAST(e.embedding[31] AS DOUBLE) - CAST(c0.v[31] AS DOUBLE))) + ((CAST(e.embedding[32] AS DOUBLE) - CAST(c0.v[32] AS DOUBLE)) * (CAST(e.embedding[32] AS DOUBLE) - CAST(c0.v[32] AS DOUBLE))) + ((CAST(e.embedding[33] AS DOUBLE) - CAST(c0.v[33] AS DOUBLE)) * (CAST(e.embedding[33] AS DOUBLE) - CAST(c0.v[33] AS DOUBLE))) + ((CAST(e.embedding[34] AS DOUBLE) - CAST(c0.v[34] AS DOUBLE)) * (CAST(e.embedding[34] AS DOUBLE) - CAST(c0.v[34] AS DOUBLE))) + ((CAST(e.embedding[35] AS DOUBLE) - CAST(c0.v[35] AS DOUBLE)) * (CAST(e.embedding[35] AS DOUBLE) - CAST(c0.v[35] AS DOUBLE))) + ((CAST(e.embedding[36] AS DOUBLE) - CAST(c0.v[36] AS DOUBLE)) * (CAST(e.embedding[36] AS DOUBLE) - CAST(c0.v[36] AS DOUBLE))) + ((CAST(e.embedding[37] AS DOUBLE) - CAST(c0.v[37] AS DOUBLE)) * (CAST(e.embedding[37] AS DOUBLE) - CAST(c0.v[37] AS DOUBLE))) + ((CAST(e.embedding[38] AS DOUBLE) - CAST(c0.v[38] AS DOUBLE)) * (CAST(e.embedding[38] AS DOUBLE) - CAST(c0.v[38] AS DOUBLE))) + ((CAST(e.embedding[39] AS DOUBLE) - CAST(c0.v[39] AS DOUBLE)) * (CAST(e.embedding[39] AS DOUBLE) - CAST(c0.v[39] AS DOUBLE))) + ((CAST(e.embedding[40] AS DOUBLE) - CAST(c0.v[40] AS DOUBLE)) * (CAST(e.embedding[40] AS DOUBLE) - CAST(c0.v[40] AS DOUBLE))) + ((CAST(e.embedding[41] AS DOUBLE) - CAST(c0.v[41] AS DOUBLE)) * (CAST(e.embedding[41] AS DOUBLE) - CAST(c0.v[41] AS DOUBLE))) + ((CAST(e.embedding[42] AS DOUBLE) - CAST(c0.v[42] AS DOUBLE)) * (CAST(e.embedding[42] AS DOUBLE) - CAST(c0.v[42] AS DOUBLE))) + ((CAST(e.embedding[43] AS DOUBLE) - CAST(c0.v[43] AS DOUBLE)) * (CAST(e.embedding[43] AS DOUBLE) - CAST(c0.v[43] AS DOUBLE))) + ((CAST(e.embedding[44] AS DOUBLE) - CAST(c0.v[44] AS DOUBLE)) * (CAST(e.embedding[44] AS DOUBLE) - CAST(c0.v[44] AS DOUBLE))) + ((CAST(e.embedding[45] AS DOUBLE) - CAST(c0.v[45] AS DOUBLE)) * (CAST(e.embedding[45] AS DOUBLE) - CAST(c0.v[45] AS DOUBLE))) + ((CAST(e.embedding[46] AS DOUBLE) - CAST(c0.v[46] AS DOUBLE)) * (CAST(e.embedding[46] AS DOUBLE) - CAST(c0.v[46] AS DOUBLE))) + ((CAST(e.embedding[47] AS DOUBLE) - CAST(c0.v[47] AS DOUBLE)) * (CAST(e.embedding[47] AS DOUBLE) - CAST(c0.v[47] AS DOUBLE))) + ((CAST(e.embedding[48] AS DOUBLE) - CAST(c0.v[48] AS DOUBLE)) * (CAST(e.embedding[48] AS DOUBLE) - CAST(c0.v[48] AS DOUBLE))) + ((CAST(e.embedding[49] AS DOUBLE) - CAST(c0.v[49] AS DOUBLE)) * (CAST(e.embedding[49] AS DOUBLE) - CAST(c0.v[49] AS DOUBLE))) + ((CAST(e.embedding[50] AS DOUBLE) - CAST(c0.v[50] AS DOUBLE)) * (CAST(e.embedding[50] AS DOUBLE) - CAST(c0.v[50] AS DOUBLE))) + ((CAST(e.embedding[51] AS DOUBLE) - CAST(c0.v[51] AS DOUBLE)) * (CAST(e.embedding[51] AS DOUBLE) - CAST(c0.v[51] AS DOUBLE))) + ((CAST(e.embedding[52] AS DOUBLE) - CAST(c0.v[52] AS DOUBLE)) * (CAST(e.embedding[52] AS DOUBLE) - CAST(c0.v[52] AS DOUBLE))) + ((CAST(e.embedding[53] AS DOUBLE) - CAST(c0.v[53] AS DOUBLE)) * (CAST(e.embedding[53] AS DOUBLE) - CAST(c0.v[53] AS DOUBLE))) + ((CAST(e.embedding[54] AS DOUBLE) - CAST(c0.v[54] AS DOUBLE)) * (CAST(e.embedding[54] AS DOUBLE) - CAST(c0.v[54] AS DOUBLE))) + ((CAST(e.embedding[55] AS DOUBLE) - CAST(c0.v[55] AS DOUBLE)) * (CAST(e.embedding[55] AS DOUBLE) - CAST(c0.v[55] AS DOUBLE))) + ((CAST(e.embedding[56] AS DOUBLE) - CAST(c0.v[56] AS DOUBLE)) * (CAST(e.embedding[56] AS DOUBLE) - CAST(c0.v[56] AS DOUBLE))) + ((CAST(e.embedding[57] AS DOUBLE) - CAST(c0.v[57] AS DOUBLE)) * (CAST(e.embedding[57] AS DOUBLE) - CAST(c0.v[57] AS DOUBLE))) + ((CAST(e.embedding[58] AS DOUBLE) - CAST(c0.v[58] AS DOUBLE)) * (CAST(e.embedding[58] AS DOUBLE) - CAST(c0.v[58] AS DOUBLE))) + ((CAST(e.embedding[59] AS DOUBLE) - CAST(c0.v[59] AS DOUBLE)) * (CAST(e.embedding[59] AS DOUBLE) - CAST(c0.v[59] AS DOUBLE))) + ((CAST(e.embedding[60] AS DOUBLE) - CAST(c0.v[60] AS DOUBLE)) * (CAST(e.embedding[60] AS DOUBLE) - CAST(c0.v[60] AS DOUBLE))) + ((CAST(e.embedding[61] AS DOUBLE) - CAST(c0.v[61] AS DOUBLE)) * (CAST(e.embedding[61] AS DOUBLE) - CAST(c0.v[61] AS DOUBLE))) + ((CAST(e.embedding[62] AS DOUBLE) - CAST(c0.v[62] AS DOUBLE)) * (CAST(e.embedding[62] AS DOUBLE) - CAST(c0.v[62] AS DOUBLE))) + ((CAST(e.embedding[63] AS DOUBLE) - CAST(c0.v[63] AS DOUBLE)) * (CAST(e.embedding[63] AS DOUBLE) - CAST(c0.v[63] AS DOUBLE))) + ((CAST(e.embedding[64] AS DOUBLE) - CAST(c0.v[64] AS DOUBLE)) * (CAST(e.embedding[64] AS DOUBLE) - CAST(c0.v[64] AS DOUBLE))), 9) AS dd0, round(((CAST(e.embedding[1] AS DOUBLE) - CAST(p1.embedding[1] AS DOUBLE)) * (CAST(e.embedding[1] AS DOUBLE) - CAST(p1.embedding[1] AS DOUBLE))) + ((CAST(e.embedding[2] AS DOUBLE) - CAST(p1.embedding[2] AS DOUBLE)) * (CAST(e.embedding[2] AS DOUBLE) - CAST(p1.embedding[2] AS DOUBLE))) + ((CAST(e.embedding[3] AS DOUBLE) - CAST(p1.embedding[3] AS DOUBLE)) * (CAST(e.embedding[3] AS DOUBLE) - CAST(p1.embedding[3] AS DOUBLE))) + ((CAST(e.embedding[4] AS DOUBLE) - CAST(p1.embedding[4] AS DOUBLE)) * (CAST(e.embedding[4] AS DOUBLE) - CAST(p1.embedding[4] AS DOUBLE))) + ((CAST(e.embedding[5] AS DOUBLE) - CAST(p1.embedding[5] AS DOUBLE)) * (CAST(e.embedding[5] AS DOUBLE) - CAST(p1.embedding[5] AS DOUBLE))) + ((CAST(e.embedding[6] AS DOUBLE) - CAST(p1.embedding[6] AS DOUBLE)) * (CAST(e.embedding[6] AS DOUBLE) - CAST(p1.embedding[6] AS DOUBLE))) + ((CAST(e.embedding[7] AS DOUBLE) - CAST(p1.embedding[7] AS DOUBLE)) * (CAST(e.embedding[7] AS DOUBLE) - CAST(p1.embedding[7] AS DOUBLE))) + ((CAST(e.embedding[8] AS DOUBLE) - CAST(p1.embedding[8] AS DOUBLE)) * (CAST(e.embedding[8] AS DOUBLE) - CAST(p1.embedding[8] AS DOUBLE))) + ((CAST(e.embedding[9] AS DOUBLE) - CAST(p1.embedding[9] AS DOUBLE)) * (CAST(e.embedding[9] AS DOUBLE) - CAST(p1.embedding[9] AS DOUBLE))) + ((CAST(e.embedding[10] AS DOUBLE) - CAST(p1.embedding[10] AS DOUBLE)) * (CAST(e.embedding[10] AS DOUBLE) - CAST(p1.embedding[10] AS DOUBLE))) + ((CAST(e.embedding[11] AS DOUBLE) - CAST(p1.embedding[11] AS DOUBLE)) * (CAST(e.embedding[11] AS DOUBLE) - CAST(p1.embedding[11] AS DOUBLE))) + ((CAST(e.embedding[12] AS DOUBLE) - CAST(p1.embedding[12] AS DOUBLE)) * (CAST(e.embedding[12] AS DOUBLE) - CAST(p1.embedding[12] AS DOUBLE))) + ((CAST(e.embedding[13] AS DOUBLE) - CAST(p1.embedding[13] AS DOUBLE)) * (CAST(e.embedding[13] AS DOUBLE) - CAST(p1.embedding[13] AS DOUBLE))) + ((CAST(e.embedding[14] AS DOUBLE) - CAST(p1.embedding[14] AS DOUBLE)) * (CAST(e.embedding[14] AS DOUBLE) - CAST(p1.embedding[14] AS DOUBLE))) + ((CAST(e.embedding[15] AS DOUBLE) - CAST(p1.embedding[15] AS DOUBLE)) * (CAST(e.embedding[15] AS DOUBLE) - CAST(p1.embedding[15] AS DOUBLE))) + ((CAST(e.embedding[16] AS DOUBLE) - CAST(p1.embedding[16] AS DOUBLE)) * (CAST(e.embedding[16] AS DOUBLE) - CAST(p1.embedding[16] AS DOUBLE))) + ((CAST(e.embedding[17] AS DOUBLE) - CAST(p1.embedding[17] AS DOUBLE)) * (CAST(e.embedding[17] AS DOUBLE) - CAST(p1.embedding[17] AS DOUBLE))) + ((CAST(e.embedding[18] AS DOUBLE) - CAST(p1.embedding[18] AS DOUBLE)) * (CAST(e.embedding[18] AS DOUBLE) - CAST(p1.embedding[18] AS DOUBLE))) + ((CAST(e.embedding[19] AS DOUBLE) - CAST(p1.embedding[19] AS DOUBLE)) * (CAST(e.embedding[19] AS DOUBLE) - CAST(p1.embedding[19] AS DOUBLE))) + ((CAST(e.embedding[20] AS DOUBLE) - CAST(p1.embedding[20] AS DOUBLE)) * (CAST(e.embedding[20] AS DOUBLE) - CAST(p1.embedding[20] AS DOUBLE))) + ((CAST(e.embedding[21] AS DOUBLE) - CAST(p1.embedding[21] AS DOUBLE)) * (CAST(e.embedding[21] AS DOUBLE) - CAST(p1.embedding[21] AS DOUBLE))) + ((CAST(e.embedding[22] AS DOUBLE) - CAST(p1.embedding[22] AS DOUBLE)) * (CAST(e.embedding[22] AS DOUBLE) - CAST(p1.embedding[22] AS DOUBLE))) + ((CAST(e.embedding[23] AS DOUBLE) - CAST(p1.embedding[23] AS DOUBLE)) * (CAST(e.embedding[23] AS DOUBLE) - CAST(p1.embedding[23] AS DOUBLE))) + ((CAST(e.embedding[24] AS DOUBLE) - CAST(p1.embedding[24] AS DOUBLE)) * (CAST(e.embedding[24] AS DOUBLE) - CAST(p1.embedding[24] AS DOUBLE))) + ((CAST(e.embedding[25] AS DOUBLE) - CAST(p1.embedding[25] AS DOUBLE)) * (CAST(e.embedding[25] AS DOUBLE) - CAST(p1.embedding[25] AS DOUBLE))) + ((CAST(e.embedding[26] AS DOUBLE) - CAST(p1.embedding[26] AS DOUBLE)) * (CAST(e.embedding[26] AS DOUBLE) - CAST(p1.embedding[26] AS DOUBLE))) + ((CAST(e.embedding[27] AS DOUBLE) - CAST(p1.embedding[27] AS DOUBLE)) * (CAST(e.embedding[27] AS DOUBLE) - CAST(p1.embedding[27] AS DOUBLE))) + ((CAST(e.embedding[28] AS DOUBLE) - CAST(p1.embedding[28] AS DOUBLE)) * (CAST(e.embedding[28] AS DOUBLE) - CAST(p1.embedding[28] AS DOUBLE))) + ((CAST(e.embedding[29] AS DOUBLE) - CAST(p1.embedding[29] AS DOUBLE)) * (CAST(e.embedding[29] AS DOUBLE) - CAST(p1.embedding[29] AS DOUBLE))) + ((CAST(e.embedding[30] AS DOUBLE) - CAST(p1.embedding[30] AS DOUBLE)) * (CAST(e.embedding[30] AS DOUBLE) - CAST(p1.embedding[30] AS DOUBLE))) + ((CAST(e.embedding[31] AS DOUBLE) - CAST(p1.embedding[31] AS DOUBLE)) * (CAST(e.embedding[31] AS DOUBLE) - CAST(p1.embedding[31] AS DOUBLE))) + ((CAST(e.embedding[32] AS DOUBLE) - CAST(p1.embedding[32] AS DOUBLE)) * (CAST(e.embedding[32] AS DOUBLE) - CAST(p1.embedding[32] AS DOUBLE))) + ((CAST(e.embedding[33] AS DOUBLE) - CAST(p1.embedding[33] AS DOUBLE)) * (CAST(e.embedding[33] AS DOUBLE) - CAST(p1.embedding[33] AS DOUBLE))) + ((CAST(e.embedding[34] AS DOUBLE) - CAST(p1.embedding[34] AS DOUBLE)) * (CAST(e.embedding[34] AS DOUBLE) - CAST(p1.embedding[34] AS DOUBLE))) + ((CAST(e.embedding[35] AS DOUBLE) - CAST(p1.embedding[35] AS DOUBLE)) * (CAST(e.embedding[35] AS DOUBLE) - CAST(p1.embedding[35] AS DOUBLE))) + ((CAST(e.embedding[36] AS DOUBLE) - CAST(p1.embedding[36] AS DOUBLE)) * (CAST(e.embedding[36] AS DOUBLE) - CAST(p1.embedding[36] AS DOUBLE))) + ((CAST(e.embedding[37] AS DOUBLE) - CAST(p1.embedding[37] AS DOUBLE)) * (CAST(e.embedding[37] AS DOUBLE) - CAST(p1.embedding[37] AS DOUBLE))) + ((CAST(e.embedding[38] AS DOUBLE) - CAST(p1.embedding[38] AS DOUBLE)) * (CAST(e.embedding[38] AS DOUBLE) - CAST(p1.embedding[38] AS DOUBLE))) + ((CAST(e.embedding[39] AS DOUBLE) - CAST(p1.embedding[39] AS DOUBLE)) * (CAST(e.embedding[39] AS DOUBLE) - CAST(p1.embedding[39] AS DOUBLE))) + ((CAST(e.embedding[40] AS DOUBLE) - CAST(p1.embedding[40] AS DOUBLE)) * (CAST(e.embedding[40] AS DOUBLE) - CAST(p1.embedding[40] AS DOUBLE))) + ((CAST(e.embedding[41] AS DOUBLE) - CAST(p1.embedding[41] AS DOUBLE)) * (CAST(e.embedding[41] AS DOUBLE) - CAST(p1.embedding[41] AS DOUBLE))) + ((CAST(e.embedding[42] AS DOUBLE) - CAST(p1.embedding[42] AS DOUBLE)) * (CAST(e.embedding[42] AS DOUBLE) - CAST(p1.embedding[42] AS DOUBLE))) + ((CAST(e.embedding[43] AS DOUBLE) - CAST(p1.embedding[43] AS DOUBLE)) * (CAST(e.embedding[43] AS DOUBLE) - CAST(p1.embedding[43] AS DOUBLE))) + ((CAST(e.embedding[44] AS DOUBLE) - CAST(p1.embedding[44] AS DOUBLE)) * (CAST(e.embedding[44] AS DOUBLE) - CAST(p1.embedding[44] AS DOUBLE))) + ((CAST(e.embedding[45] AS DOUBLE) - CAST(p1.embedding[45] AS DOUBLE)) * (CAST(e.embedding[45] AS DOUBLE) - CAST(p1.embedding[45] AS DOUBLE))) + ((CAST(e.embedding[46] AS DOUBLE) - CAST(p1.embedding[46] AS DOUBLE)) * (CAST(e.embedding[46] AS DOUBLE) - CAST(p1.embedding[46] AS DOUBLE))) + ((CAST(e.embedding[47] AS DOUBLE) - CAST(p1.embedding[47] AS DOUBLE)) * (CAST(e.embedding[47] AS DOUBLE) - CAST(p1.embedding[47] AS DOUBLE))) + ((CAST(e.embedding[48] AS DOUBLE) - CAST(p1.embedding[48] AS DOUBLE)) * (CAST(e.embedding[48] AS DOUBLE) - CAST(p1.embedding[48] AS DOUBLE))) + ((CAST(e.embedding[49] AS DOUBLE) - CAST(p1.embedding[49] AS DOUBLE)) * (CAST(e.embedding[49] AS DOUBLE) - CAST(p1.embedding[49] AS DOUBLE))) + ((CAST(e.embedding[50] AS DOUBLE) - CAST(p1.embedding[50] AS DOUBLE)) * (CAST(e.embedding[50] AS DOUBLE) - CAST(p1.embedding[50] AS DOUBLE))) + ((CAST(e.embedding[51] AS DOUBLE) - CAST(p1.embedding[51] AS DOUBLE)) * (CAST(e.embedding[51] AS DOUBLE) - CAST(p1.embedding[51] AS DOUBLE))) + ((CAST(e.embedding[52] AS DOUBLE) - CAST(p1.embedding[52] AS DOUBLE)) * (CAST(e.embedding[52] AS DOUBLE) - CAST(p1.embedding[52] AS DOUBLE))) + ((CAST(e.embedding[53] AS DOUBLE) - CAST(p1.embedding[53] AS DOUBLE)) * (CAST(e.embedding[53] AS DOUBLE) - CAST(p1.embedding[53] AS DOUBLE))) + ((CAST(e.embedding[54] AS DOUBLE) - CAST(p1.embedding[54] AS DOUBLE)) * (CAST(e.embedding[54] AS DOUBLE) - CAST(p1.embedding[54] AS DOUBLE))) + ((CAST(e.embedding[55] AS DOUBLE) - CAST(p1.embedding[55] AS DOUBLE)) * (CAST(e.embedding[55] AS DOUBLE) - CAST(p1.embedding[55] AS DOUBLE))) + ((CAST(e.embedding[56] AS DOUBLE) - CAST(p1.embedding[56] AS DOUBLE)) * (CAST(e.embedding[56] AS DOUBLE) - CAST(p1.embedding[56] AS DOUBLE))) + ((CAST(e.embedding[57] AS DOUBLE) - CAST(p1.embedding[57] AS DOUBLE)) * (CAST(e.embedding[57] AS DOUBLE) - CAST(p1.embedding[57] AS DOUBLE))) + ((CAST(e.embedding[58] AS DOUBLE) - CAST(p1.embedding[58] AS DOUBLE)) * (CAST(e.embedding[58] AS DOUBLE) - CAST(p1.embedding[58] AS DOUBLE))) + ((CAST(e.embedding[59] AS DOUBLE) - CAST(p1.embedding[59] AS DOUBLE)) * (CAST(e.embedding[59] AS DOUBLE) - CAST(p1.embedding[59] AS DOUBLE))) + ((CAST(e.embedding[60] AS DOUBLE) - CAST(p1.embedding[60] AS DOUBLE)) * (CAST(e.embedding[60] AS DOUBLE) - CAST(p1.embedding[60] AS DOUBLE))) + ((CAST(e.embedding[61] AS DOUBLE) - CAST(p1.embedding[61] AS DOUBLE)) * (CAST(e.embedding[61] AS DOUBLE) - CAST(p1.embedding[61] AS DOUBLE))) + ((CAST(e.embedding[62] AS DOUBLE) - CAST(p1.embedding[62] AS DOUBLE)) * (CAST(e.embedding[62] AS DOUBLE) - CAST(p1.embedding[62] AS DOUBLE))) + ((CAST(e.embedding[63] AS DOUBLE) - CAST(p1.embedding[63] AS DOUBLE)) * (CAST(e.embedding[63] AS DOUBLE) - CAST(p1.embedding[63] AS DOUBLE))) + ((CAST(e.embedding[64] AS DOUBLE) - CAST(p1.embedding[64] AS DOUBLE)) * (CAST(e.embedding[64] AS DOUBLE) - CAST(p1.embedding[64] AS DOUBLE))), 9) AS dd1, round(((CAST(e.embedding[1] AS DOUBLE) - CAST(p2.embedding[1] AS DOUBLE)) * (CAST(e.embedding[1] AS DOUBLE) - CAST(p2.embedding[1] AS DOUBLE))) + ((CAST(e.embedding[2] AS DOUBLE) - CAST(p2.embedding[2] AS DOUBLE)) * (CAST(e.embedding[2] AS DOUBLE) - CAST(p2.embedding[2] AS DOUBLE))) + ((CAST(e.embedding[3] AS DOUBLE) - CAST(p2.embedding[3] AS DOUBLE)) * (CAST(e.embedding[3] AS DOUBLE) - CAST(p2.embedding[3] AS DOUBLE))) + ((CAST(e.embedding[4] AS DOUBLE) - CAST(p2.embedding[4] AS DOUBLE)) * (CAST(e.embedding[4] AS DOUBLE) - CAST(p2.embedding[4] AS DOUBLE))) + ((CAST(e.embedding[5] AS DOUBLE) - CAST(p2.embedding[5] AS DOUBLE)) * (CAST(e.embedding[5] AS DOUBLE) - CAST(p2.embedding[5] AS DOUBLE))) + ((CAST(e.embedding[6] AS DOUBLE) - CAST(p2.embedding[6] AS DOUBLE)) * (CAST(e.embedding[6] AS DOUBLE) - CAST(p2.embedding[6] AS DOUBLE))) + ((CAST(e.embedding[7] AS DOUBLE) - CAST(p2.embedding[7] AS DOUBLE)) * (CAST(e.embedding[7] AS DOUBLE) - CAST(p2.embedding[7] AS DOUBLE))) + ((CAST(e.embedding[8] AS DOUBLE) - CAST(p2.embedding[8] AS DOUBLE)) * (CAST(e.embedding[8] AS DOUBLE) - CAST(p2.embedding[8] AS DOUBLE))) + ((CAST(e.embedding[9] AS DOUBLE) - CAST(p2.embedding[9] AS DOUBLE)) * (CAST(e.embedding[9] AS DOUBLE) - CAST(p2.embedding[9] AS DOUBLE))) + ((CAST(e.embedding[10] AS DOUBLE) - CAST(p2.embedding[10] AS DOUBLE)) * (CAST(e.embedding[10] AS DOUBLE) - CAST(p2.embedding[10] AS DOUBLE))) + ((CAST(e.embedding[11] AS DOUBLE) - CAST(p2.embedding[11] AS DOUBLE)) * (CAST(e.embedding[11] AS DOUBLE) - CAST(p2.embedding[11] AS DOUBLE))) + ((CAST(e.embedding[12] AS DOUBLE) - CAST(p2.embedding[12] AS DOUBLE)) * (CAST(e.embedding[12] AS DOUBLE) - CAST(p2.embedding[12] AS DOUBLE))) + ((CAST(e.embedding[13] AS DOUBLE) - CAST(p2.embedding[13] AS DOUBLE)) * (CAST(e.embedding[13] AS DOUBLE) - CAST(p2.embedding[13] AS DOUBLE))) + ((CAST(e.embedding[14] AS DOUBLE) - CAST(p2.embedding[14] AS DOUBLE)) * (CAST(e.embedding[14] AS DOUBLE) - CAST(p2.embedding[14] AS DOUBLE))) + ((CAST(e.embedding[15] AS DOUBLE) - CAST(p2.embedding[15] AS DOUBLE)) * (CAST(e.embedding[15] AS DOUBLE) - CAST(p2.embedding[15] AS DOUBLE))) + ((CAST(e.embedding[16] AS DOUBLE) - CAST(p2.embedding[16] AS DOUBLE)) * (CAST(e.embedding[16] AS DOUBLE) - CAST(p2.embedding[16] AS DOUBLE))) + ((CAST(e.embedding[17] AS DOUBLE) - CAST(p2.embedding[17] AS DOUBLE)) * (CAST(e.embedding[17] AS DOUBLE) - CAST(p2.embedding[17] AS DOUBLE))) + ((CAST(e.embedding[18] AS DOUBLE) - CAST(p2.embedding[18] AS DOUBLE)) * (CAST(e.embedding[18] AS DOUBLE) - CAST(p2.embedding[18] AS DOUBLE))) + ((CAST(e.embedding[19] AS DOUBLE) - CAST(p2.embedding[19] AS DOUBLE)) * (CAST(e.embedding[19] AS DOUBLE) - CAST(p2.embedding[19] AS DOUBLE))) + ((CAST(e.embedding[20] AS DOUBLE) - CAST(p2.embedding[20] AS DOUBLE)) * (CAST(e.embedding[20] AS DOUBLE) - CAST(p2.embedding[20] AS DOUBLE))) + ((CAST(e.embedding[21] AS DOUBLE) - CAST(p2.embedding[21] AS DOUBLE)) * (CAST(e.embedding[21] AS DOUBLE) - CAST(p2.embedding[21] AS DOUBLE))) + ((CAST(e.embedding[22] AS DOUBLE) - CAST(p2.embedding[22] AS DOUBLE)) * (CAST(e.embedding[22] AS DOUBLE) - CAST(p2.embedding[22] AS DOUBLE))) + ((CAST(e.embedding[23] AS DOUBLE) - CAST(p2.embedding[23] AS DOUBLE)) * (CAST(e.embedding[23] AS DOUBLE) - CAST(p2.embedding[23] AS DOUBLE))) + ((CAST(e.embedding[24] AS DOUBLE) - CAST(p2.embedding[24] AS DOUBLE)) * (CAST(e.embedding[24] AS DOUBLE) - CAST(p2.embedding[24] AS DOUBLE))) + ((CAST(e.embedding[25] AS DOUBLE) - CAST(p2.embedding[25] AS DOUBLE)) * (CAST(e.embedding[25] AS DOUBLE) - CAST(p2.embedding[25] AS DOUBLE))) + ((CAST(e.embedding[26] AS DOUBLE) - CAST(p2.embedding[26] AS DOUBLE)) * (CAST(e.embedding[26] AS DOUBLE) - CAST(p2.embedding[26] AS DOUBLE))) + ((CAST(e.embedding[27] AS DOUBLE) - CAST(p2.embedding[27] AS DOUBLE)) * (CAST(e.embedding[27] AS DOUBLE) - CAST(p2.embedding[27] AS DOUBLE))) + ((CAST(e.embedding[28] AS DOUBLE) - CAST(p2.embedding[28] AS DOUBLE)) * (CAST(e.embedding[28] AS DOUBLE) - CAST(p2.embedding[28] AS DOUBLE))) + ((CAST(e.embedding[29] AS DOUBLE) - CAST(p2.embedding[29] AS DOUBLE)) * (CAST(e.embedding[29] AS DOUBLE) - CAST(p2.embedding[29] AS DOUBLE))) + ((CAST(e.embedding[30] AS DOUBLE) - CAST(p2.embedding[30] AS DOUBLE)) * (CAST(e.embedding[30] AS DOUBLE) - CAST(p2.embedding[30] AS DOUBLE))) + ((CAST(e.embedding[31] AS DOUBLE) - CAST(p2.embedding[31] AS DOUBLE)) * (CAST(e.embedding[31] AS DOUBLE) - CAST(p2.embedding[31] AS DOUBLE))) + ((CAST(e.embedding[32] AS DOUBLE) - CAST(p2.embedding[32] AS DOUBLE)) * (CAST(e.embedding[32] AS DOUBLE) - CAST(p2.embedding[32] AS DOUBLE))) + ((CAST(e.embedding[33] AS DOUBLE) - CAST(p2.embedding[33] AS DOUBLE)) * (CAST(e.embedding[33] AS DOUBLE) - CAST(p2.embedding[33] AS DOUBLE))) + ((CAST(e.embedding[34] AS DOUBLE) - CAST(p2.embedding[34] AS DOUBLE)) * (CAST(e.embedding[34] AS DOUBLE) - CAST(p2.embedding[34] AS DOUBLE))) + ((CAST(e.embedding[35] AS DOUBLE) - CAST(p2.embedding[35] AS DOUBLE)) * (CAST(e.embedding[35] AS DOUBLE) - CAST(p2.embedding[35] AS DOUBLE))) + ((CAST(e.embedding[36] AS DOUBLE) - CAST(p2.embedding[36] AS DOUBLE)) * (CAST(e.embedding[36] AS DOUBLE) - CAST(p2.embedding[36] AS DOUBLE))) + ((CAST(e.embedding[37] AS DOUBLE) - CAST(p2.embedding[37] AS DOUBLE)) * (CAST(e.embedding[37] AS DOUBLE) - CAST(p2.embedding[37] AS DOUBLE))) + ((CAST(e.embedding[38] AS DOUBLE) - CAST(p2.embedding[38] AS DOUBLE)) * (CAST(e.embedding[38] AS DOUBLE) - CAST(p2.embedding[38] AS DOUBLE))) + ((CAST(e.embedding[39] AS DOUBLE) - CAST(p2.embedding[39] AS DOUBLE)) * (CAST(e.embedding[39] AS DOUBLE) - CAST(p2.embedding[39] AS DOUBLE))) + ((CAST(e.embedding[40] AS DOUBLE) - CAST(p2.embedding[40] AS DOUBLE)) * (CAST(e.embedding[40] AS DOUBLE) - CAST(p2.embedding[40] AS DOUBLE))) + ((CAST(e.embedding[41] AS DOUBLE) - CAST(p2.embedding[41] AS DOUBLE)) * (CAST(e.embedding[41] AS DOUBLE) - CAST(p2.embedding[41] AS DOUBLE))) + ((CAST(e.embedding[42] AS DOUBLE) - CAST(p2.embedding[42] AS DOUBLE)) * (CAST(e.embedding[42] AS DOUBLE) - CAST(p2.embedding[42] AS DOUBLE))) + ((CAST(e.embedding[43] AS DOUBLE) - CAST(p2.embedding[43] AS DOUBLE)) * (CAST(e.embedding[43] AS DOUBLE) - CAST(p2.embedding[43] AS DOUBLE))) + ((CAST(e.embedding[44] AS DOUBLE) - CAST(p2.embedding[44] AS DOUBLE)) * (CAST(e.embedding[44] AS DOUBLE) - CAST(p2.embedding[44] AS DOUBLE))) + ((CAST(e.embedding[45] AS DOUBLE) - CAST(p2.embedding[45] AS DOUBLE)) * (CAST(e.embedding[45] AS DOUBLE) - CAST(p2.embedding[45] AS DOUBLE))) + ((CAST(e.embedding[46] AS DOUBLE) - CAST(p2.embedding[46] AS DOUBLE)) * (CAST(e.embedding[46] AS DOUBLE) - CAST(p2.embedding[46] AS DOUBLE))) + ((CAST(e.embedding[47] AS DOUBLE) - CAST(p2.embedding[47] AS DOUBLE)) * (CAST(e.embedding[47] AS DOUBLE) - CAST(p2.embedding[47] AS DOUBLE))) + ((CAST(e.embedding[48] AS DOUBLE) - CAST(p2.embedding[48] AS DOUBLE)) * (CAST(e.embedding[48] AS DOUBLE) - CAST(p2.embedding[48] AS DOUBLE))) + ((CAST(e.embedding[49] AS DOUBLE) - CAST(p2.embedding[49] AS DOUBLE)) * (CAST(e.embedding[49] AS DOUBLE) - CAST(p2.embedding[49] AS DOUBLE))) + ((CAST(e.embedding[50] AS DOUBLE) - CAST(p2.embedding[50] AS DOUBLE)) * (CAST(e.embedding[50] AS DOUBLE) - CAST(p2.embedding[50] AS DOUBLE))) + ((CAST(e.embedding[51] AS DOUBLE) - CAST(p2.embedding[51] AS DOUBLE)) * (CAST(e.embedding[51] AS DOUBLE) - CAST(p2.embedding[51] AS DOUBLE))) + ((CAST(e.embedding[52] AS DOUBLE) - CAST(p2.embedding[52] AS DOUBLE)) * (CAST(e.embedding[52] AS DOUBLE) - CAST(p2.embedding[52] AS DOUBLE))) + ((CAST(e.embedding[53] AS DOUBLE) - CAST(p2.embedding[53] AS DOUBLE)) * (CAST(e.embedding[53] AS DOUBLE) - CAST(p2.embedding[53] AS DOUBLE))) + ((CAST(e.embedding[54] AS DOUBLE) - CAST(p2.embedding[54] AS DOUBLE)) * (CAST(e.embedding[54] AS DOUBLE) - CAST(p2.embedding[54] AS DOUBLE))) + ((CAST(e.embedding[55] AS DOUBLE) - CAST(p2.embedding[55] AS DOUBLE)) * (CAST(e.embedding[55] AS DOUBLE) - CAST(p2.embedding[55] AS DOUBLE))) + ((CAST(e.embedding[56] AS DOUBLE) - CAST(p2.embedding[56] AS DOUBLE)) * (CAST(e.embedding[56] AS DOUBLE) - CAST(p2.embedding[56] AS DOUBLE))) + ((CAST(e.embedding[57] AS DOUBLE) - CAST(p2.embedding[57] AS DOUBLE)) * (CAST(e.embedding[57] AS DOUBLE) - CAST(p2.embedding[57] AS DOUBLE))) + ((CAST(e.embedding[58] AS DOUBLE) - CAST(p2.embedding[58] AS DOUBLE)) * (CAST(e.embedding[58] AS DOUBLE) - CAST(p2.embedding[58] AS DOUBLE))) + ((CAST(e.embedding[59] AS DOUBLE) - CAST(p2.embedding[59] AS DOUBLE)) * (CAST(e.embedding[59] AS DOUBLE) - CAST(p2.embedding[59] AS DOUBLE))) + ((CAST(e.embedding[60] AS DOUBLE) - CAST(p2.embedding[60] AS DOUBLE)) * (CAST(e.embedding[60] AS DOUBLE) - CAST(p2.embedding[60] AS DOUBLE))) + ((CAST(e.embedding[61] AS DOUBLE) - CAST(p2.embedding[61] AS DOUBLE)) * (CAST(e.embedding[61] AS DOUBLE) - CAST(p2.embedding[61] AS DOUBLE))) + ((CAST(e.embedding[62] AS DOUBLE) - CAST(p2.embedding[62] AS DOUBLE)) * (CAST(e.embedding[62] AS DOUBLE) - CAST(p2.embedding[62] AS DOUBLE))) + ((CAST(e.embedding[63] AS DOUBLE) - CAST(p2.embedding[63] AS DOUBLE)) * (CAST(e.embedding[63] AS DOUBLE) - CAST(p2.embedding[63] AS DOUBLE))) + ((CAST(e.embedding[64] AS DOUBLE) - CAST(p2.embedding[64] AS DOUBLE)) * (CAST(e.embedding[64] AS DOUBLE) - CAST(p2.embedding[64] AS DOUBLE))), 9) AS dd2, round(((CAST(e.embedding[1] AS DOUBLE) - CAST(p3.embedding[1] AS DOUBLE)) * (CAST(e.embedding[1] AS DOUBLE) - CAST(p3.embedding[1] AS DOUBLE))) + ((CAST(e.embedding[2] AS DOUBLE) - CAST(p3.embedding[2] AS DOUBLE)) * (CAST(e.embedding[2] AS DOUBLE) - CAST(p3.embedding[2] AS DOUBLE))) + ((CAST(e.embedding[3] AS DOUBLE) - CAST(p3.embedding[3] AS DOUBLE)) * (CAST(e.embedding[3] AS DOUBLE) - CAST(p3.embedding[3] AS DOUBLE))) + ((CAST(e.embedding[4] AS DOUBLE) - CAST(p3.embedding[4] AS DOUBLE)) * (CAST(e.embedding[4] AS DOUBLE) - CAST(p3.embedding[4] AS DOUBLE))) + ((CAST(e.embedding[5] AS DOUBLE) - CAST(p3.embedding[5] AS DOUBLE)) * (CAST(e.embedding[5] AS DOUBLE) - CAST(p3.embedding[5] AS DOUBLE))) + ((CAST(e.embedding[6] AS DOUBLE) - CAST(p3.embedding[6] AS DOUBLE)) * (CAST(e.embedding[6] AS DOUBLE) - CAST(p3.embedding[6] AS DOUBLE))) + ((CAST(e.embedding[7] AS DOUBLE) - CAST(p3.embedding[7] AS DOUBLE)) * (CAST(e.embedding[7] AS DOUBLE) - CAST(p3.embedding[7] AS DOUBLE))) + ((CAST(e.embedding[8] AS DOUBLE) - CAST(p3.embedding[8] AS DOUBLE)) * (CAST(e.embedding[8] AS DOUBLE) - CAST(p3.embedding[8] AS DOUBLE))) + ((CAST(e.embedding[9] AS DOUBLE) - CAST(p3.embedding[9] AS DOUBLE)) * (CAST(e.embedding[9] AS DOUBLE) - CAST(p3.embedding[9] AS DOUBLE))) + ((CAST(e.embedding[10] AS DOUBLE) - CAST(p3.embedding[10] AS DOUBLE)) * (CAST(e.embedding[10] AS DOUBLE) - CAST(p3.embedding[10] AS DOUBLE))) + ((CAST(e.embedding[11] AS DOUBLE) - CAST(p3.embedding[11] AS DOUBLE)) * (CAST(e.embedding[11] AS DOUBLE) - CAST(p3.embedding[11] AS DOUBLE))) + ((CAST(e.embedding[12] AS DOUBLE) - CAST(p3.embedding[12] AS DOUBLE)) * (CAST(e.embedding[12] AS DOUBLE) - CAST(p3.embedding[12] AS DOUBLE))) + ((CAST(e.embedding[13] AS DOUBLE) - CAST(p3.embedding[13] AS DOUBLE)) * (CAST(e.embedding[13] AS DOUBLE) - CAST(p3.embedding[13] AS DOUBLE))) + ((CAST(e.embedding[14] AS DOUBLE) - CAST(p3.embedding[14] AS DOUBLE)) * (CAST(e.embedding[14] AS DOUBLE) - CAST(p3.embedding[14] AS DOUBLE))) + ((CAST(e.embedding[15] AS DOUBLE) - CAST(p3.embedding[15] AS DOUBLE)) * (CAST(e.embedding[15] AS DOUBLE) - CAST(p3.embedding[15] AS DOUBLE))) + ((CAST(e.embedding[16] AS DOUBLE) - CAST(p3.embedding[16] AS DOUBLE)) * (CAST(e.embedding[16] AS DOUBLE) - CAST(p3.embedding[16] AS DOUBLE))) + ((CAST(e.embedding[17] AS DOUBLE) - CAST(p3.embedding[17] AS DOUBLE)) * (CAST(e.embedding[17] AS DOUBLE) - CAST(p3.embedding[17] AS DOUBLE))) + ((CAST(e.embedding[18] AS DOUBLE) - CAST(p3.embedding[18] AS DOUBLE)) * (CAST(e.embedding[18] AS DOUBLE) - CAST(p3.embedding[18] AS DOUBLE))) + ((CAST(e.embedding[19] AS DOUBLE) - CAST(p3.embedding[19] AS DOUBLE)) * (CAST(e.embedding[19] AS DOUBLE) - CAST(p3.embedding[19] AS DOUBLE))) + ((CAST(e.embedding[20] AS DOUBLE) - CAST(p3.embedding[20] AS DOUBLE)) * (CAST(e.embedding[20] AS DOUBLE) - CAST(p3.embedding[20] AS DOUBLE))) + ((CAST(e.embedding[21] AS DOUBLE) - CAST(p3.embedding[21] AS DOUBLE)) * (CAST(e.embedding[21] AS DOUBLE) - CAST(p3.embedding[21] AS DOUBLE))) + ((CAST(e.embedding[22] AS DOUBLE) - CAST(p3.embedding[22] AS DOUBLE)) * (CAST(e.embedding[22] AS DOUBLE) - CAST(p3.embedding[22] AS DOUBLE))) + ((CAST(e.embedding[23] AS DOUBLE) - CAST(p3.embedding[23] AS DOUBLE)) * (CAST(e.embedding[23] AS DOUBLE) - CAST(p3.embedding[23] AS DOUBLE))) + ((CAST(e.embedding[24] AS DOUBLE) - CAST(p3.embedding[24] AS DOUBLE)) * (CAST(e.embedding[24] AS DOUBLE) - CAST(p3.embedding[24] AS DOUBLE))) + ((CAST(e.embedding[25] AS DOUBLE) - CAST(p3.embedding[25] AS DOUBLE)) * (CAST(e.embedding[25] AS DOUBLE) - CAST(p3.embedding[25] AS DOUBLE))) + ((CAST(e.embedding[26] AS DOUBLE) - CAST(p3.embedding[26] AS DOUBLE)) * (CAST(e.embedding[26] AS DOUBLE) - CAST(p3.embedding[26] AS DOUBLE))) + ((CAST(e.embedding[27] AS DOUBLE) - CAST(p3.embedding[27] AS DOUBLE)) * (CAST(e.embedding[27] AS DOUBLE) - CAST(p3.embedding[27] AS DOUBLE))) + ((CAST(e.embedding[28] AS DOUBLE) - CAST(p3.embedding[28] AS DOUBLE)) * (CAST(e.embedding[28] AS DOUBLE) - CAST(p3.embedding[28] AS DOUBLE))) + ((CAST(e.embedding[29] AS DOUBLE) - CAST(p3.embedding[29] AS DOUBLE)) * (CAST(e.embedding[29] AS DOUBLE) - CAST(p3.embedding[29] AS DOUBLE))) + ((CAST(e.embedding[30] AS DOUBLE) - CAST(p3.embedding[30] AS DOUBLE)) * (CAST(e.embedding[30] AS DOUBLE) - CAST(p3.embedding[30] AS DOUBLE))) + ((CAST(e.embedding[31] AS DOUBLE) - CAST(p3.embedding[31] AS DOUBLE)) * (CAST(e.embedding[31] AS DOUBLE) - CAST(p3.embedding[31] AS DOUBLE))) + ((CAST(e.embedding[32] AS DOUBLE) - CAST(p3.embedding[32] AS DOUBLE)) * (CAST(e.embedding[32] AS DOUBLE) - CAST(p3.embedding[32] AS DOUBLE))) + ((CAST(e.embedding[33] AS DOUBLE) - CAST(p3.embedding[33] AS DOUBLE)) * (CAST(e.embedding[33] AS DOUBLE) - CAST(p3.embedding[33] AS DOUBLE))) + ((CAST(e.embedding[34] AS DOUBLE) - CAST(p3.embedding[34] AS DOUBLE)) * (CAST(e.embedding[34] AS DOUBLE) - CAST(p3.embedding[34] AS DOUBLE))) + ((CAST(e.embedding[35] AS DOUBLE) - CAST(p3.embedding[35] AS DOUBLE)) * (CAST(e.embedding[35] AS DOUBLE) - CAST(p3.embedding[35] AS DOUBLE))) + ((CAST(e.embedding[36] AS DOUBLE) - CAST(p3.embedding[36] AS DOUBLE)) * (CAST(e.embedding[36] AS DOUBLE) - CAST(p3.embedding[36] AS DOUBLE))) + ((CAST(e.embedding[37] AS DOUBLE) - CAST(p3.embedding[37] AS DOUBLE)) * (CAST(e.embedding[37] AS DOUBLE) - CAST(p3.embedding[37] AS DOUBLE))) + ((CAST(e.embedding[38] AS DOUBLE) - CAST(p3.embedding[38] AS DOUBLE)) * (CAST(e.embedding[38] AS DOUBLE) - CAST(p3.embedding[38] AS DOUBLE))) + ((CAST(e.embedding[39] AS DOUBLE) - CAST(p3.embedding[39] AS DOUBLE)) * (CAST(e.embedding[39] AS DOUBLE) - CAST(p3.embedding[39] AS DOUBLE))) + ((CAST(e.embedding[40] AS DOUBLE) - CAST(p3.embedding[40] AS DOUBLE)) * (CAST(e.embedding[40] AS DOUBLE) - CAST(p3.embedding[40] AS DOUBLE))) + ((CAST(e.embedding[41] AS DOUBLE) - CAST(p3.embedding[41] AS DOUBLE)) * (CAST(e.embedding[41] AS DOUBLE) - CAST(p3.embedding[41] AS DOUBLE))) + ((CAST(e.embedding[42] AS DOUBLE) - CAST(p3.embedding[42] AS DOUBLE)) * (CAST(e.embedding[42] AS DOUBLE) - CAST(p3.embedding[42] AS DOUBLE))) + ((CAST(e.embedding[43] AS DOUBLE) - CAST(p3.embedding[43] AS DOUBLE)) * (CAST(e.embedding[43] AS DOUBLE) - CAST(p3.embedding[43] AS DOUBLE))) + ((CAST(e.embedding[44] AS DOUBLE) - CAST(p3.embedding[44] AS DOUBLE)) * (CAST(e.embedding[44] AS DOUBLE) - CAST(p3.embedding[44] AS DOUBLE))) + ((CAST(e.embedding[45] AS DOUBLE) - CAST(p3.embedding[45] AS DOUBLE)) * (CAST(e.embedding[45] AS DOUBLE) - CAST(p3.embedding[45] AS DOUBLE))) + ((CAST(e.embedding[46] AS DOUBLE) - CAST(p3.embedding[46] AS DOUBLE)) * (CAST(e.embedding[46] AS DOUBLE) - CAST(p3.embedding[46] AS DOUBLE))) + ((CAST(e.embedding[47] AS DOUBLE) - CAST(p3.embedding[47] AS DOUBLE)) * (CAST(e.embedding[47] AS DOUBLE) - CAST(p3.embedding[47] AS DOUBLE))) + ((CAST(e.embedding[48] AS DOUBLE) - CAST(p3.embedding[48] AS DOUBLE)) * (CAST(e.embedding[48] AS DOUBLE) - CAST(p3.embedding[48] AS DOUBLE))) + ((CAST(e.embedding[49] AS DOUBLE) - CAST(p3.embedding[49] AS DOUBLE)) * (CAST(e.embedding[49] AS DOUBLE) - CAST(p3.embedding[49] AS DOUBLE))) + ((CAST(e.embedding[50] AS DOUBLE) - CAST(p3.embedding[50] AS DOUBLE)) * (CAST(e.embedding[50] AS DOUBLE) - CAST(p3.embedding[50] AS DOUBLE))) + ((CAST(e.embedding[51] AS DOUBLE) - CAST(p3.embedding[51] AS DOUBLE)) * (CAST(e.embedding[51] AS DOUBLE) - CAST(p3.embedding[51] AS DOUBLE))) + ((CAST(e.embedding[52] AS DOUBLE) - CAST(p3.embedding[52] AS DOUBLE)) * (CAST(e.embedding[52] AS DOUBLE) - CAST(p3.embedding[52] AS DOUBLE))) + ((CAST(e.embedding[53] AS DOUBLE) - CAST(p3.embedding[53] AS DOUBLE)) * (CAST(e.embedding[53] AS DOUBLE) - CAST(p3.embedding[53] AS DOUBLE))) + ((CAST(e.embedding[54] AS DOUBLE) - CAST(p3.embedding[54] AS DOUBLE)) * (CAST(e.embedding[54] AS DOUBLE) - CAST(p3.embedding[54] AS DOUBLE))) + ((CAST(e.embedding[55] AS DOUBLE) - CAST(p3.embedding[55] AS DOUBLE)) * (CAST(e.embedding[55] AS DOUBLE) - CAST(p3.embedding[55] AS DOUBLE))) + ((CAST(e.embedding[56] AS DOUBLE) - CAST(p3.embedding[56] AS DOUBLE)) * (CAST(e.embedding[56] AS DOUBLE) - CAST(p3.embedding[56] AS DOUBLE))) + ((CAST(e.embedding[57] AS DOUBLE) - CAST(p3.embedding[57] AS DOUBLE)) * (CAST(e.embedding[57] AS DOUBLE) - CAST(p3.embedding[57] AS DOUBLE))) + ((CAST(e.embedding[58] AS DOUBLE) - CAST(p3.embedding[58] AS DOUBLE)) * (CAST(e.embedding[58] AS DOUBLE) - CAST(p3.embedding[58] AS DOUBLE))) + ((CAST(e.embedding[59] AS DOUBLE) - CAST(p3.embedding[59] AS DOUBLE)) * (CAST(e.embedding[59] AS DOUBLE) - CAST(p3.embedding[59] AS DOUBLE))) + ((CAST(e.embedding[60] AS DOUBLE) - CAST(p3.embedding[60] AS DOUBLE)) * (CAST(e.embedding[60] AS DOUBLE) - CAST(p3.embedding[60] AS DOUBLE))) + ((CAST(e.embedding[61] AS DOUBLE) - CAST(p3.embedding[61] AS DOUBLE)) * (CAST(e.embedding[61] AS DOUBLE) - CAST(p3.embedding[61] AS DOUBLE))) + ((CAST(e.embedding[62] AS DOUBLE) - CAST(p3.embedding[62] AS DOUBLE)) * (CAST(e.embedding[62] AS DOUBLE) - CAST(p3.embedding[62] AS DOUBLE))) + ((CAST(e.embedding[63] AS DOUBLE) - CAST(p3.embedding[63] AS DOUBLE)) * (CAST(e.embedding[63] AS DOUBLE) - CAST(p3.embedding[63] AS DOUBLE))) + ((CAST(e.embedding[64] AS DOUBLE) - CAST(p3.embedding[64] AS DOUBLE)) * (CAST(e.embedding[64] AS DOUBLE) - CAST(p3.embedding[64] AS DOUBLE))), 9) AS dd3
  FROM embeddings e CROSS JOIN c0 CROSS JOIN p1 CROSS JOIN p2 CROSS JOIN p3
),
assigned AS (
  SELECT vec_id,
         CASE
           WHEN dd3 < least(dd0, dd1, dd2) THEN 3
           WHEN dd2 < least(dd0, dd1) THEN 2
           WHEN dd1 < dd0 THEN 1
           ELSE 0 END AS c,
         least(dd0, dd1, dd2, dd3) AS d
  FROM dists
),
centers AS (
  SELECT 0 AS center_idx, (SELECT MIN(vec_id) FROM embeddings) AS center_vec_id
  UNION ALL SELECT 1, vec_id FROM p1
  UNION ALL SELECT 2, vec_id FROM p2
  UNION ALL SELECT 3, vec_id FROM p3
)
SELECT c.center_idx, c.center_vec_id,
       CAST(COUNT(*) AS BIGINT) AS n_assigned,
       MAX(a.d) AS coverage_radius
FROM assigned a JOIN centers c ON c.center_idx = a.c
GROUP BY 1, 2
ORDER BY center_idx
"""

# Triangle mirror: same id-oriented wedge close; clustering is one
# rational double rounded at the edge.
ORACLES["triangle_counts"] = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
deg AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS deg FROM (
    SELECT u AS node FROM edges UNION ALL SELECT v FROM edges
  ) GROUP BY 1
),
tris AS (
  SELECT e1.a, e1.b, e2.c
  FROM (SELECT u AS a, v AS b FROM edges) e1
  JOIN (SELECT u AS a, v AS c FROM edges) e2 ON e1.a = e2.a AND e1.b < e2.c
  WHERE EXISTS (SELECT 1 FROM edges e3 WHERE e3.u = e1.b AND e3.v = e2.c)
),
per_node AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
    SELECT a AS node FROM tris UNION ALL SELECT b FROM tris UNION ALL SELECT c FROM tris
  ) GROUP BY 1
)
SELECT p.node AS part, d.deg AS degree, p.triangles,
       CASE WHEN d.deg >= 2
            THEN round(2.0 * CAST(p.triangles AS DOUBLE)
                       / (CAST(d.deg AS DOUBLE) * (CAST(d.deg AS DOUBLE) - 1.0)), 9)
            ELSE 0.0 END AS clustering
FROM per_node p JOIN deg d ON d.node = p.node
ORDER BY p.triangles DESC, part LIMIT 10
"""

# MaxSim mirror: identical 64-char chunking, integer byte-stride
# features, one rounded double cosine per pair, DECIMAL(12,9) MaxSim
# sum (order-free).
ORACLES["maxsim_search"] = """
WITH docs AS (SELECT doc_id, text FROM documents WHERE text IS NOT NULL),
chunks AS (
  SELECT doc_id, CAST(i AS INT) AS c_idx,
         substr(text, CAST(i AS INT) * 64 + 1, 64) AS ck
  FROM docs, LATERAL unnest(generate_series(0,
       CAST(ceil(length(text) / 64.0) AS INT) - 1)) AS t(i)
),
feats AS (
  SELECT doc_id, c_idx,
         COALESCE(list_sum(list_transform(generate_series(1, length(ck), 8), j -> ascii(substr(ck, j, 1)))), 0) AS s0,
         COALESCE(list_sum(list_transform(generate_series(2, length(ck), 8), j -> ascii(substr(ck, j, 1)))), 0) AS s1,
         COALESCE(list_sum(list_transform(generate_series(3, length(ck), 8), j -> ascii(substr(ck, j, 1)))), 0) AS s2,
         COALESCE(list_sum(list_transform(generate_series(4, length(ck), 8), j -> ascii(substr(ck, j, 1)))), 0) AS s3,
         COALESCE(list_sum(list_transform(generate_series(5, length(ck), 8), j -> ascii(substr(ck, j, 1)))), 0) AS s4,
         COALESCE(list_sum(list_transform(generate_series(6, length(ck), 8), j -> ascii(substr(ck, j, 1)))), 0) AS s5,
         COALESCE(list_sum(list_transform(generate_series(7, length(ck), 8), j -> ascii(substr(ck, j, 1)))), 0) AS s6,
         COALESCE(list_sum(list_transform(generate_series(8, length(ck), 8), j -> ascii(substr(ck, j, 1)))), 0) AS s7
  FROM chunks
),
withss AS (SELECT *, s0 * s0 + s1 * s1 + s2 * s2 + s3 * s3 + s4 * s4 + s5 * s5 + s6 * s6 + s7 * s7 AS ss FROM feats WHERE s0 * s0 + s1 * s1 + s2 * s2 + s3 * s3 + s4 * s4 + s5 * s5 + s6 * s6 + s7 * s7 > 0),
probe AS (SELECT MIN(doc_id) AS qid FROM docs),
q AS (
  SELECT w.c_idx AS q_idx, w.* EXCLUDE (doc_id, c_idx)
  FROM withss w CROSS JOIN probe p WHERE w.doc_id = p.qid
),
pairs AS (
  SELECT f.doc_id, q.q_idx,
         round(CAST((f.s0 * q.s0 + f.s1 * q.s1 + f.s2 * q.s2 + f.s3 * q.s3 + f.s4 * q.s4 + f.s5 * q.s5 + f.s6 * q.s6 + f.s7 * q.s7) AS DOUBLE)
               / (sqrt(CAST(f.ss AS DOUBLE)) * sqrt(CAST(q.ss AS DOUBLE))), 9) AS c
  FROM withss f CROSS JOIN probe p CROSS JOIN q
  WHERE f.doc_id <> p.qid
),
per_q AS (SELECT doc_id, q_idx, MAX(c) AS mx FROM pairs GROUP BY 1, 2)
SELECT doc_id,
       CAST(COUNT(*) AS BIGINT) AS n_probe_chunks,
       CAST(SUM(CAST(mx AS DECIMAL(12,9))) AS DOUBLE) AS maxsim
FROM per_q GROUP BY doc_id
ORDER BY maxsim DESC, doc_id LIMIT 10
"""

# Keyset-page mirror: the cursor (last row of page 3) computed in-SQL
# — the engine fetches it driver-side (bounded one-rower), identical
# value either way; the page is the same seek predicate + LIMIT.
ORACLES["keyset_page"] = """
WITH cur AS (
  SELECT o_orderdate AS d0, o_orderkey AS k0
  FROM (SELECT o_orderdate, o_orderkey FROM orders
        ORDER BY o_orderdate, o_orderkey LIMIT 60)
  ORDER BY o_orderdate DESC, o_orderkey DESC LIMIT 1
)
SELECT o.o_orderkey, strftime(o.o_orderdate, '%Y-%m-%d') AS data
FROM orders o CROSS JOIN cur
WHERE o.o_orderdate > cur.d0
   OR (o.o_orderdate = cur.d0 AND o.o_orderkey > cur.k0)
ORDER BY o.o_orderdate, o.o_orderkey LIMIT 20
"""

# Nation-enrich mirror (batch + stream share it — kappa parity):
# inner join user_id = c_custkey, decimal sums cast at the edge.
ORACLES["event_value_by_nation"] = """
SELECT n.n_name AS nacao,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS valor_total
FROM events e
JOIN customer c ON c.c_custkey = e.user_id
JOIN nation n ON n.n_nationkey = c.c_nationkey
GROUP BY 1
"""
ORACLES["enrich_stream"] = ORACLES["event_value_by_nation"]

ORACLES["basket_pairs"] = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
)
SELECT part_a, part_b, CAST(count(*) AS BIGINT) AS n_orders
FROM pairs GROUP BY 1, 2
ORDER BY n_orders DESC, part_a, part_b LIMIT 20
"""

# Same md5-bucket CASE as train_split, keyed on the GROUP (source):
# the no-straddle invariant is structural in both engines.
ORACLES["grouped_split"] = """
SELECT
  CASE WHEN substr(md5(source), 1, 2) < 'cc' THEN 'train'
       WHEN substr(md5(source), 1, 2) < 'e6' THEN 'val'
       ELSE 'test' END AS split,
  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
  COUNT(*) AS n_docs,
  CAST(SUM(n_chars) AS BIGINT) AS total_chars
FROM documents
GROUP BY 1
"""

# Interval proration: identical integer largest-remainder split — week
# i gets cents // n plus one extra cent while i < cents % n; weeks are
# Monday-truncated on both engines, spans clamped to >= 1 week.
ORACLES["revenue_recognition"] = """
WITH j AS (
  SELECT CAST(date_trunc('week', o.o_orderdate) AS DATE) AS wk0,
         CAST(date_trunc('week', l.l_shipdate) AS DATE) AS wk1,
         CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
),
p AS (
  SELECT wk0, cents,
         GREATEST(CAST(wk1 - wk0 AS BIGINT) // 7 + 1, 1) AS n
  FROM j
),
e AS (
  SELECT wk0 + CAST(i * 7 AS BIGINT) * INTERVAL 1 DAY AS wk,
         cents // n + (CASE WHEN i < cents % n THEN 1 ELSE 0 END) AS amt
  FROM p, unnest(generate_series(0, n - 1)) AS t(i)
)
SELECT strftime(CAST(wk AS DATE), '%Y-%m-%d') AS semana,
       CAST(SUM(amt) AS BIGINT) AS recognized_cents,
       COUNT(*) AS n_line_weeks
FROM e GROUP BY 1 ORDER BY 1
"""

# Interval sweep: +1 at open, -1 the day after close; running sum per
# nation; peak row rank-selected under (open_cnt DESC, date ASC).
ORACLES["open_order_concurrency"] = """
WITH close AS (
  SELECT l_orderkey, CAST(date_trunc('day', MAX(l_shipdate)) AS DATE) AS closed
  FROM lineitem GROUP BY 1
),
spans AS (
  SELECT c.c_nationkey,
         CAST(date_trunc('day', o.o_orderdate) AS DATE) AS opened,
         GREATEST(cl.closed, CAST(date_trunc('day', o.o_orderdate) AS DATE)) AS closed
  FROM orders o
  JOIN close cl ON cl.l_orderkey = o.o_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
),
deltas AS (
  SELECT c_nationkey, opened AS d, 1 AS delta FROM spans
  UNION ALL
  SELECT c_nationkey, closed + INTERVAL 1 DAY, -1 FROM spans
),
daily AS (
  SELECT c_nationkey, CAST(d AS DATE) AS d, SUM(delta) AS dd
  FROM deltas GROUP BY 1, 2
),
cum AS (
  SELECT c_nationkey, d,
         SUM(dd) OVER (PARTITION BY c_nationkey ORDER BY d
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open_cnt
  FROM daily
),
ranked AS (
  SELECT c_nationkey, d, open_cnt,
         ROW_NUMBER() OVER (PARTITION BY c_nationkey
                            ORDER BY open_cnt DESC, d ASC) AS rn
  FROM cum
)
SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
       CAST(open_cnt AS BIGINT) AS peak_open,
       strftime(d, '%Y-%m-%d') AS peak_date
FROM ranked WHERE rn = 1 ORDER BY 1
"""

# 2-D skyline per brand: dominated iff a strictly-cheaper same-brand
# part reaches the size (RANGE frame ending at 1 PRECEDING on exact
# cents) or a same-price part is strictly larger.
ORACLES["pareto_frontier"] = """
WITH p AS (
  SELECT p_brand, p_partkey,
         CAST(p_size AS BIGINT) AS size,
         CAST(CAST(p_retailprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS price_cents
  FROM part
),
f AS (
  SELECT p_brand, p_partkey, size, price_cents,
         MAX(size) OVER (PARTITION BY p_brand ORDER BY price_cents
                         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS m_cheaper,
         MAX(size) OVER (PARTITION BY p_brand, price_cents) AS m_tie
  FROM p
)
SELECT p_brand, CAST(p_partkey AS BIGINT) AS p_partkey, size, price_cents
FROM f
WHERE (m_cheaper IS NULL OR m_cheaper < size) AND m_tie <= size
ORDER BY p_brand, price_cents, p_partkey
"""

# Column profiler: identical engine-exact string renderings (BIGINT
# casts, explicit date format, exact cents), modal tie-break
# (count DESC, value ASC).
ORACLES["column_profile"] = """
WITH stacked AS (
  SELECT 'o_orderstatus' AS col_name, o_orderstatus AS val FROM orders
  UNION ALL
  SELECT 'o_orderpriority', o_orderpriority FROM orders
  UNION ALL
  SELECT 'o_custkey', CAST(o_custkey AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'o_orderdate', strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') FROM orders
  UNION ALL
  SELECT 'o_totalprice_cents',
         CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS VARCHAR)
  FROM orders
),
vc AS (
  SELECT col_name, val, COUNT(*) AS n
  FROM stacked WHERE val IS NOT NULL GROUP BY 1, 2
),
stats AS (
  SELECT col_name, CAST(SUM(n) AS BIGINT) AS n_nonnull,
         CAST(COUNT(*) AS BIGINT) AS n_distinct
  FROM vc GROUP BY 1
),
top AS (
  SELECT col_name, val AS top_val, n AS top_n
  FROM (SELECT col_name, val, n,
               ROW_NUMBER() OVER (PARTITION BY col_name
                                  ORDER BY n DESC, val ASC) AS rn
        FROM vc)
  WHERE rn = 1
)
SELECT s.col_name, s.n_nonnull, s.n_distinct, t.top_val,
       CAST(t.top_n AS BIGINT) AS top_n,
       (t.top_n * 1000000) // s.n_nonnull AS top_share_ppm
FROM stats s JOIN top t ON t.col_name = s.col_name
ORDER BY s.col_name
"""

# MV maintenance identity: the oracle RECOMPUTES the weekly view from
# the full table — hash-equality proves refresh(base, delta) ==
# recompute(all) for the engine's full-outer coalesce-and-add merge.
ORACLES["mv_refresh"] = """
SELECT o_orderstatus AS status,
       strftime(CAST(date_trunc('week', o_orderdate) AS DATE), '%Y-%m-%d') AS semana,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS valor_total,
       COUNT(*) AS n_orders
FROM orders
GROUP BY 1, 2
ORDER BY 1, 2
"""

# AllPairs prefix filtering, integer-exact: prefix len = l - ceil(.7 l)
# + 1 with ceil as (7l+9)//10; length filter 7*max <= 10*min; verify
# 10*inter >= 7*union. Tokens = distinct non-empty space-split words,
# global (df, token) order.
ORACLES["prefix_jaccard_join"] = """
WITH toks AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id, unnest(list_distinct(str_split(text, ' '))) AS tok
    FROM documents WHERE text IS NOT NULL
     AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
  ) WHERE tok <> ''
),
dfreq AS (SELECT tok, COUNT(*) AS df FROM toks GROUP BY 1),
ranked AS (
  SELECT t.doc_id, t.tok,
         COUNT(*) OVER (PARTITION BY t.doc_id) AS len,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id ORDER BY f.df, t.tok) AS rn
  FROM toks t JOIN dfreq f ON f.tok = t.tok
),
pref AS (
  SELECT doc_id, tok, len FROM ranked
  WHERE rn <= len - (9 * len + 9) // 10 + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                  a.len AS la, b.len AS lb
  FROM pref a JOIN pref b
    ON a.tok = b.tok AND a.doc_id < b.doc_id
   AND 9 * GREATEST(a.len, b.len) <= 10 * LEAST(a.len, b.len)
),
inter AS (
  SELECT c.id_a, c.id_b, c.la, c.lb, COUNT(*) AS n_inter
  FROM cand c
  JOIN toks ta ON ta.doc_id = c.id_a
  JOIN toks tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
  GROUP BY 1, 2, 3, 4
)
SELECT id_a, id_b,
       CAST(n_inter AS BIGINT) AS n_inter,
       CAST(la + lb - n_inter AS BIGINT) AS n_union,
       (n_inter * 1000000) // (la + lb - n_inter) AS jaccard_ppm
FROM inter
WHERE 10 * n_inter >= 9 * (la + lb - n_inter)
ORDER BY 1, 2
"""

# Discrete-time hazard: same NTZ-origin week arithmetic; at_risk is the
# descending cumulative of the tenure census.
ORACLES["hazard_weekly"] = """
WITH e AS (
  SELECT user_id,
         date_diff('second', TIMESTAMP '1990-01-01', ts) AS sec
  FROM events
),
pu AS (
  SELECT user_id, MIN(sec) AS fs, MAX(sec) AS ls FROM e GROUP BY 1
),
g AS (SELECT MAX(sec) AS gmax FROM e),
u AS (
  SELECT (ls - fs) // 604800 AS L,
         (gmax - fs) // 604800 AS obs
  FROM pu CROSS JOIN g
),
census AS (
  SELECT L,
         SUM(CASE WHEN obs > L THEN 1 ELSE 0 END) AS churn,
         SUM(CASE WHEN obs <= L THEN 1 ELSE 0 END) AS cens,
         COUNT(*) AS n
  FROM u GROUP BY 1
)
SELECT CAST(L AS BIGINT) AS week_k,
       CAST(SUM(n) OVER (ORDER BY L DESC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
            AS BIGINT) AS at_risk,
       CAST(churn AS BIGINT) AS n_churned,
       CAST(cens AS BIGINT) AS n_censored,
       CAST((churn * 1000000) // (SUM(n) OVER (ORDER BY L DESC
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
            AS BIGINT) AS hazard_ppm
FROM census ORDER BY week_k
"""

# Gaps-and-islands: key - row_number() group id, top-20 by
# (length DESC, start ASC), island total attached cross-join.
ORACLES["key_gap_islands"] = """
WITH f AS (
  SELECT o_orderkey FROM orders WHERE o_orderstatus = 'F'
),
i AS (
  SELECT o_orderkey,
         o_orderkey - ROW_NUMBER() OVER (ORDER BY o_orderkey) AS isl
  FROM f
),
groups AS (
  SELECT isl, MIN(o_orderkey) AS start_key, MAX(o_orderkey) AS end_key,
         COUNT(*) AS len
  FROM i GROUP BY 1
),
total AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_islands FROM groups),
top AS (
  SELECT start_key, end_key, len FROM groups
  ORDER BY len DESC, start_key ASC LIMIT 20
)
SELECT CAST(start_key AS BIGINT) AS start_key,
       CAST(end_key AS BIGINT) AS end_key,
       CAST(len AS BIGINT) AS island_len,
       n_islands
FROM top CROSS JOIN total
"""

# F2 self-join size: exact vs the x16-scaled 1/16 md5-bucket key sample.
ORACLES["join_size_estimate"] = """
WITH counts AS (
  SELECT user_id, COUNT(*) AS n FROM events GROUP BY 1
),
actual AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
         CAST(SUM(n * n) AS BIGINT) AS f2_actual
  FROM counts
),
sampled AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
         CAST(SUM(n * n) * 16 AS BIGINT) AS f2_est
  FROM counts
  WHERE substr(md5(CAST(user_id AS VARCHAR)), 1, 1) = '0'
)
SELECT n_keys, n_sampled, f2_actual, f2_est,
       ((f2_est - f2_actual) * 1000000) // f2_actual AS err_ppm
FROM actual CROSS JOIN sampled
"""

# ISO weekday from pure integer day arithmetic (origin 1990-01-01 is a
# Monday); means in exact tenths of a cent; index = exact integer
# cross-scaled division.
ORACLES["weekday_seasonality"] = """
WITH e AS (
  SELECT CAST(FLOOR(date_diff('second', TIMESTAMP '1990-01-01', ts) / 86400)
              AS BIGINT) AS days,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events
),
census AS (
  SELECT days % 7 + 1 AS dow_iso,
         COUNT(*) AS n,
         CAST(SUM(v) * 100 AS BIGINT) AS cents
  FROM e GROUP BY 1
),
g AS (SELECT SUM(cents) AS g_cents, SUM(n) AS g_n FROM census)
SELECT CAST(dow_iso AS INT) AS dow_iso,
       CAST(n AS BIGINT) AS n_events,
       cents,
       (cents * 10) // n AS mean_milli,
       CAST(((cents * 10) // n) * 1000000 // ((g_cents * 10) // g_n) AS BIGINT) AS index_ppm
FROM census CROSS JOIN g
ORDER BY dow_iso
"""

# Point-in-time state diff: same (sec DESC, event_id DESC) latest-row
# selection, integer NTZ-second cutoff literal (2024-01-15).
ORACLES["state_snapshot_diff"] = """
WITH e AS (
  SELECT user_id, event_type, event_id,
         date_diff('second', TIMESTAMP '1990-01-01', ts) AS sec
  FROM events
),
a AS (
  SELECT user_id, event_type AS old_state FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY sec DESC, event_id DESC) AS rn
    FROM e WHERE sec <= 1074124800
  ) WHERE rn = 1
),
b AS (
  SELECT user_id, event_type AS new_state FROM (
    SELECT user_id, event_type,
           ROW_NUMBER() OVER (PARTITION BY user_id
                              ORDER BY sec DESC, event_id DESC) AS rn
    FROM e
  ) WHERE rn = 1
),
diff AS (
  SELECT CASE WHEN a.old_state IS NULL THEN 'added'
              WHEN a.old_state <> b.new_state THEN 'changed'
              ELSE 'unchanged' END AS change_kind,
         COALESCE(a.old_state, '<none>') AS old_state,
         b.new_state
  FROM b LEFT JOIN a ON a.user_id = b.user_id
)
SELECT change_kind, old_state, new_state, COUNT(*) AS n_users
FROM diff GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""

# Zipf rank*freq constancy over the top-50 census; median product
# rank-selected at (n+1)//2 under the (product, rank) total order.
ORACLES["zipf_audit"] = """
WITH toks AS (
  SELECT unnest(str_split(text, ' ')) AS tok
  FROM documents WHERE text IS NOT NULL
),
counts AS (
  SELECT tok, COUNT(*) AS freq FROM toks WHERE tok <> '' GROUP BY 1
),
top AS (
  SELECT tok, freq, rank, rank * freq AS rf_product FROM (
    SELECT tok, freq,
           ROW_NUMBER() OVER (ORDER BY freq DESC, tok ASC) AS rank
    FROM counts
  ) WHERE rank <= 50
),
med AS (
  SELECT rf_product AS m FROM (
    SELECT rf_product, rank,
           ROW_NUMBER() OVER (ORDER BY rf_product, rank) AS mrn,
           COUNT(*) OVER () AS cnt
    FROM top
  ) WHERE mrn = (cnt + 1) // 2
)
SELECT CAST(rank AS INT) AS rank, tok,
       CAST(freq AS BIGINT) AS freq,
       CAST(rf_product AS BIGINT) AS rf_product,
       ((rf_product - m) * 1000000) // m AS dev_ppm
FROM top CROSS JOIN med
ORDER BY rank
"""

# TPC-H Q3 on the fixture calendar; revenue = exact DECIMAL
# price*(1-discount) summed as DECIMAL, one double cast at the edge.
ORACLES["tpch_q3"] = """
SELECT CAST(l.l_orderkey AS BIGINT) AS l_orderkey,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue,
       strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
WHERE c.c_mktsegment = 'BUILDING'
  AND o.o_orderdate < TIMESTAMP '1998-06-01'
  AND l.l_shipdate > TIMESTAMP '1998-06-01'
GROUP BY l.l_orderkey, strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d'),
         o.o_orderpriority
ORDER BY revenue DESC, l_orderkey ASC
LIMIT 10
"""

# TPC-H Q5 on the fixture calendar: ASIA nations, 1996, local
# suppliers (c_nationkey = s_nationkey).
ORACLES["tpch_q5"] = """
SELECT n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l.l_discount AS DECIMAL(18,2)))) AS DOUBLE)
         AS revenue
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON l.l_orderkey = o.o_orderkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE r.r_name = 'ASIA'
  AND c.c_nationkey = s.s_nationkey
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name ASC
"""

# Q1/Q6/Q18: money math on tight decimals sized to the data —
# (12,2) price × (4,2) rate factors multiply exactly to (22,6) with
# no engine rounding (the generic 18,2 triple product would blow
# Spark's 38-digit cap and silently re-round). Averages are one IEEE
# division of an exact decimal-sum numerator by the exact count.
ORACLES["tpch_q1"] = """
SELECT l_returnflag,
       l_linestatus,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS sum_disc_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))
                * (CAST(1 AS DECIMAL(4,2)) + CAST(l_tax AS DECIMAL(4,2)))) AS DOUBLE)
         AS sum_charge,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS DOUBLE) / COUNT(*) AS avg_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) AS DOUBLE) / COUNT(*) AS avg_price,
       CAST(SUM(CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) / COUNT(*) AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2001-08-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""

ORACLES["tpch_q4"] = """
SELECT o.o_orderpriority, COUNT(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (
    SELECT 1 FROM lineitem l
    WHERE l.l_orderkey = o.o_orderkey
      AND l.l_shipdate > o.o_orderdate + INTERVAL 90 DAY
  )
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""

ORACLES["tpch_q6"] = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
               * CAST(l_discount AS DECIMAL(4,2))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01'
  AND l_shipdate < TIMESTAMP '1998-01-01'
  AND l_quantity < 24
  AND CAST(ROUND(l_discount * 100, 0) AS BIGINT) BETWEEN 5 AND 7
"""

ORACLES["tpch_q18"] = """
WITH big AS (
  SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING SUM(CAST(l_quantity AS BIGINT)) > 250
)
SELECT c.c_name,
       c.c_custkey,
       o.o_orderkey,
       strftime(CAST(o.o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
       o.o_totalprice,
       b.sum_qty
FROM big b
JOIN orders o ON b.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
ORDER BY o.o_totalprice DESC, o.o_orderkey ASC
LIMIT 100
"""

# Inter-source shingle containment: same 3-word shingles as the
# boilerplate mirror; the ≤ half-the-sources cap excludes universal
# boilerplate and bounds the pair fan-out, numerator and denominator
# both on the capped gram set.
ORACLES["source_overlap_matrix"] = """
WITH shing AS (
  SELECT doc_id, source, CASE WHEN text IS NULL THEN NULL ELSE list_distinct(list_transform(
    generate_series(1, greatest(len(str_split(text, ' ')) - 2, 1)),
    i -> array_to_string((str_split(text, ' '))[i:i+2], ' ')
  )) END AS sh
  FROM documents
), sg AS (
  SELECT DISTINCT source, unnest(sh) AS shingle FROM shing
), nsrc AS (SELECT COUNT(DISTINCT source) AS s FROM sg),
capped AS (
  SELECT source, shingle FROM (
    SELECT source, shingle, COUNT(*) OVER (PARTITION BY shingle) AS n_src FROM sg
  ) WHERE n_src <= (SELECT s // 2 FROM nsrc)
), vocab AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_grams FROM capped GROUP BY 1
), shared AS (
  SELECT a.source AS src_a, b.source AS src_b, CAST(COUNT(*) AS BIGINT) AS shared_grams
  FROM capped a JOIN capped b ON a.shingle = b.shingle AND a.source < b.source
  GROUP BY 1, 2
)
SELECT s.src_a, s.src_b, s.shared_grams,
       va.n_grams AS n_a, vb.n_grams AS n_b,
       s.shared_grams * 1000000 // va.n_grams AS containment_a_ppm,
       s.shared_grams * 1000000 // vb.n_grams AS containment_b_ppm
FROM shared s
JOIN vocab va ON va.source = s.src_a
JOIN vocab vb ON vb.source = s.src_b
ORDER BY s.shared_grams DESC, s.src_a, s.src_b
LIMIT 30
"""

# Zone-map audit mirror: identical md5-prefix hash bucket, identical
# integer epoch-day range bucket, all-integer outputs.
ORACLES["zonemap_prune_audit"] = """
WITH base AS (
  SELECT l_orderkey,
         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) AS d
  FROM lineitem
), lim AS (SELECT MIN(d) AS d_lo, MAX(d) AS d_hi FROM base),
lay AS (
  SELECT 'hash_orderkey' AS layout,
         ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)), 1, 8))::BIGINT % 64 AS bucket,
         d
  FROM base
  UNION ALL
  SELECT 'range_shipdate' AS layout,
         (d - l.d_lo) * 64 // (l.d_hi - l.d_lo + 1) AS bucket,
         d
  FROM base CROSS JOIN lim l
), zones AS (
  SELECT layout, bucket, MAX(d) AS max_d, CAST(COUNT(*) AS BIGINT) AS n_rows
  FROM lay GROUP BY 1, 2
)
SELECT layout,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       CAST(SUM(CASE WHEN max_d < date_diff('day', DATE '1970-01-01', DATE '2000-01-01')
                THEN 1 ELSE 0 END) AS BIGINT) AS n_pruned,
       CAST(SUM(n_rows) AS BIGINT) AS rows_total,
       CAST(SUM(CASE WHEN max_d < date_diff('day', DATE '1970-01-01', DATE '2000-01-01')
           THEN n_rows ELSE 0 END) AS BIGINT) AS rows_skipped,
       CAST(SUM(CASE WHEN max_d < date_diff('day', DATE '1970-01-01', DATE '2000-01-01')
           THEN n_rows ELSE 0 END) * 1000000 // SUM(n_rows) AS BIGINT) AS skip_ppm
FROM zones GROUP BY layout ORDER BY layout
"""

# MAD mirror: exact-cents integers, interpolated medians (half-integer
# doubles — exact both engines), one 4.4478-literal multiply fence.
ORACLES["mad_outliers"] = """
WITH c AS (
  SELECT event_type, CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events
), med AS (
  SELECT event_type, quantile_cont(cents, 0.5) AS med FROM c GROUP BY 1
), dev AS (
  SELECT c.event_type, ABS(CAST(c.cents AS DOUBLE) - m.med) AS adev, m.med
  FROM c JOIN med m USING (event_type)
), mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad, MAX(med) AS med
  FROM dev GROUP BY 1
)
SELECT d.event_type,
       CAST(COUNT(*) AS BIGINT) AS n,
       MAX(m.med) AS med_cents,
       MAX(m.mad) AS mad_cents,
       CAST(SUM(CASE WHEN d.adev > 4.4478 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         AS n_outliers,
       CAST(SUM(CASE WHEN d.adev > 4.4478 * m.mad THEN 1 ELSE 0 END) AS BIGINT)
         * 1000000 // COUNT(*) AS outlier_ppm
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type ORDER BY d.event_type
"""

# Bloom semi-join prune mirror: identical 16,384-bit k=3 bitmap from
# seed-prefixed md5 prefixes, identical probe, exact semi-join truth.
ORACLES["bloom_join_prune"] = """
WITH dim AS (
  SELECT o_orderkey FROM orders
  WHERE o_orderstatus = 'P' AND o_orderpriority = '1-URGENT'
),
pos AS (
  SELECT unnest(list_transform(range(0, 3),
    j -> ('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(o_orderkey AS VARCHAR)), 1, 8))::BIGINT % 16384
  )) AS p
  FROM dim
),
bloomw AS (
  SELECT CAST(p // 32 AS INTEGER) AS word,
         bit_or(1::BIGINT << CAST(p % 32 AS INTEGER)) AS bits
  FROM pos GROUP BY 1
),
spine AS (SELECT unnest(range(0, 512)) AS w),
bloom AS (
  SELECT list(COALESCE(b.bits, 0) ORDER BY s.w) AS arr
  FROM spine s LEFT JOIN bloomw b ON b.word = s.w
),
probe AS (
  SELECT l.l_orderkey,
    (SELECT BOOL_AND(
       ((arr[CAST((('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(l.l_orderkey AS VARCHAR)), 1, 8))::BIGINT % 16384) // 32 AS INTEGER) + 1]
         >> CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || ':' || CAST(l.l_orderkey AS VARCHAR)), 1, 8))::BIGINT % 32 AS INTEGER)) & 1) = 1)
     FROM range(0, 3) t(j), bloom) AS pass
  FROM lineitem l
),
agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_fact_rows,
         CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS bloom_pass
  FROM probe
),
ex AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS exact_match
  FROM lineitem l WHERE EXISTS (SELECT 1 FROM dim d WHERE d.o_orderkey = l.l_orderkey)
),
nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_dim_keys FROM dim)
SELECT a.n_fact_rows, nd.n_dim_keys, a.bloom_pass, e.exact_match,
       a.bloom_pass - e.exact_match AS fp_rows,
       a.bloom_pass * 1000000 // a.n_fact_rows AS pass_ppm
FROM agg a CROSS JOIN ex e CROSS JOIN nd
"""

ORACLES["fd_discovery"] = """
WITH cand AS (
  SELECT 'orders' AS table_name, 'o_orderkey' AS lhs, 'o_orderstatus' AS rhs,
         CAST(o_orderkey AS VARCHAR) AS l, CAST(o_orderstatus AS VARCHAR) AS r FROM orders
  UNION ALL
  SELECT 'orders', 'o_custkey', 'o_orderpriority',
         CAST(o_custkey AS VARCHAR), CAST(o_orderpriority AS VARCHAR) FROM orders
  UNION ALL
  SELECT 'part', 'p_brand', 'p_size',
         CAST(p_brand AS VARCHAR), CAST(p_size AS VARCHAR) FROM part
  UNION ALL
  SELECT 'customer', 'c_nationkey', 'c_mktsegment',
         CAST(c_nationkey AS VARCHAR), CAST(c_mktsegment AS VARCHAR) FROM customer
  UNION ALL
  SELECT 'documents', 'source', 'lang', source, lang FROM documents
  UNION ALL
  SELECT 'lineitem', 'l_orderkey', 'l_returnflag',
         CAST(l_orderkey AS VARCHAR), CAST(l_returnflag AS VARCHAR) FROM lineitem
), per AS (
  SELECT table_name, lhs, rhs, l, CAST(COUNT(DISTINCT r) AS BIGINT) AS nr
  FROM cand GROUP BY 1, 2, 3, 4
)
SELECT table_name, lhs, rhs,
       CAST(COUNT(*) AS BIGINT) AS n_lhs,
       CAST(SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_viol_lhs,
       MAX(nr) AS max_rhs,
       CAST(CASE WHEN SUM(CASE WHEN nr > 1 THEN 1 ELSE 0 END) = 0
            THEN 1 ELSE 0 END AS BIGINT) AS holds
FROM per GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
"""

ORACLES["l_diversity_audit"] = """
SELECT n.n_name, c.c_mktsegment,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(COUNT(DISTINCT o.o_custkey) AS BIGINT) AS k_size,
       CAST(COUNT(DISTINCT o.o_orderpriority) AS BIGINT) AS l_div,
       CAST(CASE WHEN COUNT(DISTINCT o.o_orderpriority) < 3 THEN 1 ELSE 0 END AS BIGINT)
         AS at_risk
FROM orders o
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1, 2
ORDER BY l_div ASC, k_size ASC, n_name, c_mktsegment
LIMIT 20
"""

# Interpolation mirror: identical integer floor-division fill between
# IGNORE NULLS window neighbors over the same calendar spine.
ORACLES["interpolate_weeks"] = """
WITH sel AS (
  SELECT date_trunc('week', CAST(o_orderdate AS DATE)) AS wk,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM orders
  WHERE o_orderstatus = 'P' AND o_orderpriority = '1-URGENT'
  GROUP BY 1
), span AS (
  SELECT CAST(date_trunc('week', MIN(CAST(o_orderdate AS DATE))) AS DATE) AS lo,
         CAST(date_trunc('week', MAX(CAST(o_orderdate AS DATE))) AS DATE) AS hi
  FROM orders
), spine AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP), CAST(hi AS TIMESTAMP), INTERVAL 7 DAY)) AS DATE) AS wk,
         lo FROM span
), s AS (
  SELECT sp.wk, date_diff('day', sp.lo, sp.wk) // 7 AS idx, sel.cents
  FROM spine sp LEFT JOIN sel ON sel.wk = sp.wk
), winded AS (
  SELECT wk, idx, cents,
    last_value(cents IGNORE NULLS) OVER (ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS va,
    last_value(CASE WHEN cents IS NOT NULL THEN idx END IGNORE NULLS)
      OVER (ORDER BY idx ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ia,
    first_value(cents IGNORE NULLS) OVER (ORDER BY idx ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS vb,
    first_value(CASE WHEN cents IS NOT NULL THEN idx END IGNORE NULLS)
      OVER (ORDER BY idx ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ib
  FROM s
)
SELECT strftime(wk, '%Y-%m-%d') AS semana,
       CAST(CASE WHEN cents IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS observed,
       CAST(CASE WHEN cents IS NOT NULL THEN cents
            WHEN va IS NULL THEN vb
            WHEN vb IS NULL THEN va
            ELSE va + (vb - va) * (idx - ia) // (ib - ia) END AS BIGINT) AS cents
FROM winded ORDER BY semana
"""

ORACLES["mv_join_delta"] = """
WITH rev AS (
  SELECT n.n_name,
         CASE WHEN o.o_orderdate < TIMESTAMP '2000-01-01' THEN 'base' ELSE 'delta' END AS part,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
), piv AS (
  SELECT n_name,
         CAST(COALESCE(SUM(CASE WHEN part = 'base' THEN cents END), 0) AS BIGINT) AS base_cents,
         CAST(COALESCE(SUM(CASE WHEN part = 'delta' THEN cents END), 0) AS BIGINT) AS delta_cents
  FROM rev GROUP BY 1
), full_mv AS (
  SELECT n.n_name, CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS full_cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1
)
SELECT p.n_name, p.base_cents, p.delta_cents,
       CAST(p.base_cents + p.delta_cents AS BIGINT) AS merged_cents,
       f.full_cents,
       CAST(CASE WHEN p.base_cents + p.delta_cents = f.full_cents THEN 1 ELSE 0 END AS BIGINT)
         AS match
FROM piv p JOIN full_mv f USING (n_name)
ORDER BY p.n_name
"""

# Theil–Sen mirror: identical one-division slopes, identical lower
# median by rank selection under (slope, wk_a, wk_b) — no interpolation
# anywhere, so no arithmetic can diverge.
ORACLES["theilsen_trend"] = """
WITH census AS (
  SELECT n.n_name AS nation,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) // 7 AS wk,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
), pairs AS (
  SELECT a.nation, a.wk AS wk_a, b.wk AS wk_b,
         CAST(b.cents - a.cents AS DOUBLE) / CAST(b.wk - a.wk AS DOUBLE) AS slope
  FROM census a JOIN census b ON a.nation = b.nation AND a.wk < b.wk
), ranked AS (
  SELECT nation, slope,
         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY slope, wk_a, wk_b) AS rn,
         COUNT(*) OVER (PARTITION BY nation) AS n_pairs
  FROM pairs
)
SELECT nation, CAST(n_pairs AS BIGINT) AS n_pairs,
       slope AS ts_slope_cents_per_week
FROM ranked WHERE rn = (n_pairs + 1) // 2
ORDER BY nation
"""

# χ² mirror: identical md5-parity arm split, identical DOUBLE op order
# (left-assoc products of exact integer counts), one rounding site.
ORACLES["ab_contingency_chi2"] = """
WITH per_user AS (
  SELECT user_id,
         MAX(CASE WHEN event_type = 'purchase' AND value > 200 THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
), armed AS (
  SELECT ('0x' || substr(md5('ab:' || CAST(user_id AS VARCHAR)), 1, 8))::BIGINT % 2 AS arm,
         conv
  FROM per_user
), cells AS (
  SELECT
    CAST(SUM(CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS a,
    CAST(SUM(CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS b,
    CAST(SUM(CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c,
    CAST(SUM(CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS d
  FROM armed
)
SELECT a, b, c, d,
       a * 1000000 // (a + b) AS conv_a_ppm,
       c * 1000000 // (c + d) AS conv_b_ppm,
       CAST(round(
         CASE WHEN (a + b) * (c + d) * (a + c) * (b + d) = 0 THEN CAST(0 AS DOUBLE) ELSE
         CAST(a + b + c + d AS DOUBLE) * CAST(a * d - b * c AS DOUBLE) * CAST(a * d - b * c AS DOUBLE)
         / (CAST(a + b AS DOUBLE) * CAST(c + d AS DOUBLE) * CAST(a + c AS DOUBLE) * CAST(b + d AS DOUBLE)) END
         * 1e6, 0) AS BIGINT) AS chi2_micro
FROM cells
"""

# Path mirror: sessionize_events' exact gap rule, leads in the same
# user window, third-event-in-session guard, top-20 total order.
ORACLES["event_paths"] = """
WITH flagged AS (
  SELECT user_id, event_id, ts, event_type,
    CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS flag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id, event_id, ts, event_type,
    SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM flagged
), tri AS (
  SELECT event_type AS e1,
    LEAD(event_type, 1) OVER w AS e2,
    LEAD(event_type, 2) OVER w AS e3,
    sess,
    LEAD(sess, 2) OVER w AS s3
  FROM sess
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT e1 || '>' || e2 || '>' || e3 AS path, CAST(COUNT(*) AS BIGINT) AS n
FROM tri WHERE s3 = sess
GROUP BY 1 ORDER BY n DESC, path ASC LIMIT 20
"""

# Latency deciles: same tz-free epoch-minute deltas, same exact
# rank-selection (element at ceil(p*n/100) under (delta, user)).
ORACLES["conversion_latency"] = """
WITH su AS (
  SELECT user_id,
         MIN(CASE WHEN event_type = 'signup'
             THEN date_diff('second', TIMESTAMP '1990-01-01', ts) END) AS s0
  FROM events WHERE event_type IN ('signup', 'purchase') GROUP BY 1
), pu AS (
  SELECT e.user_id,
         MIN(date_diff('second', TIMESTAMP '1990-01-01', e.ts)) AS p0,
         MAX(su.s0) AS s0
  FROM events e JOIN su ON su.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND date_diff('second', TIMESTAMP '1990-01-01', e.ts) >= su.s0
  GROUP BY 1
), deltas AS (
  SELECT user_id, (p0 - s0) // 60 AS delta_min FROM pu WHERE s0 IS NOT NULL
), ranked AS (
  SELECT user_id, delta_min,
         ROW_NUMBER() OVER (ORDER BY delta_min, user_id) AS rn,
         COUNT(*) OVER () AS n
  FROM deltas
)
SELECT CAST(p.pct AS BIGINT) AS pct,
       CAST(r.rn AS BIGINT) AS rank,
       CAST(r.delta_min AS BIGINT) AS delta_min,
       CAST(r.n AS BIGINT) AS n_users
FROM ranked r
JOIN (SELECT unnest([10, 25, 50, 75, 90]) AS pct) p
  ON r.rn = (p.pct * r.n + 99) // 100
ORDER BY pct
"""

ORACLES["backlog_aging"] = """
WITH last_ship AS (
  SELECT l_orderkey, MAX(l_shipdate) AS last_ship FROM lineitem GROUP BY 1
), open_orders AS (
  SELECT o.o_orderkey, o.o_totalprice,
         date_diff('day', CAST(o.o_orderdate AS DATE), DATE '2000-01-01') AS age
  FROM orders o JOIN last_ship s ON o.o_orderkey = s.l_orderkey
  WHERE o.o_orderdate <= TIMESTAMP '2000-01-01'
    AND s.last_ship > TIMESTAMP '2000-01-01'
)
SELECT CASE WHEN age <= 30 THEN '00-030d'
            WHEN age <= 90 THEN '031-090d'
            WHEN age <= 180 THEN '091-180d'
            WHEN age <= 365 THEN '181-365d'
            ELSE '365d+' END AS age_bucket,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS value_cents,
       CAST(MAX(age) AS BIGINT) AS oldest_days
FROM open_orders GROUP BY 1 ORDER BY 1
"""

# Watermark finalization replay (append mode): the sink holds exactly
# the on-time hour windows whose end ≤ max(on-time ts) − 30 min, with
# pure on-time counts — every late row for a finalized window was
# dropped by the watermark filter, and still-open windows are never
# flushed by the availableNow drain.
ORACLES["stream_late_drop"] = """
WITH tagged AS (
  SELECT ts,
    (('0x' || substr(md5('late:' || CAST(event_id AS VARCHAR)), 1, 8))::BIGINT % 8 = 0)
      AS is_late
  FROM events
), wm AS (
  SELECT MAX(ts) - INTERVAL 30 MINUTE AS wm FROM tagged WHERE NOT is_late
)
SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS janela,
       CAST(COUNT(*) AS BIGINT) AS n
FROM tagged t, wm
WHERE NOT t.is_late
GROUP BY 1
HAVING date_trunc('hour', MIN(ts)) + INTERVAL 1 HOUR <= (SELECT wm FROM wm)
ORDER BY 1
"""

ORACLES["embedding_dim_profile"] = """
WITH dims AS (
  SELECT t.i - 1 AS dim,
         CAST(round(CAST(e.embedding[t.i] AS DOUBLE) * 1e6, 0) AS BIGINT) AS q
  FROM embeddings e,
       LATERAL (SELECT unnest(generate_series(1, len(e.embedding))) AS i) t
)
SELECT CAST(dim AS BIGINT) AS dim,
       CAST(COUNT(*) AS BIGINT) AS n,
       MIN(q) AS min_micro,
       MAX(q) AS max_micro,
       CAST(SUM(q) AS DOUBLE) / COUNT(*) AS mean_micro
FROM dims GROUP BY 1 ORDER BY 1
"""

# Split-point mirror: identical dyadic-fraction exact quantiles over
# integer cents, identical boundary-count bucket assignment.
ORACLES["range_split_points"] = """
WITH c AS (
  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
), b AS (
  SELECT quantile_cont(cents, [
    0.03125,0.0625,0.09375,0.125,0.15625,0.1875,0.21875,0.25,
    0.28125,0.3125,0.34375,0.375,0.40625,0.4375,0.46875,0.5,
    0.53125,0.5625,0.59375,0.625,0.65625,0.6875,0.71875,0.75,
    0.78125,0.8125,0.84375,0.875,0.90625,0.9375,0.96875
  ]) AS bounds, COUNT(*) AS n_rows
  FROM c
), assigned AS (
  SELECT len(list_filter(b.bounds, x -> x <= CAST(c.cents AS DOUBLE))) AS bucket,
         b.n_rows
  FROM c CROSS JOIN b
)
SELECT CAST(bucket AS BIGINT) AS bucket,
       CAST(COUNT(*) AS BIGINT) AS n_bucket,
       (COUNT(*) - MAX(n_rows) // 32) * 1000000 // (MAX(n_rows) // 32)
         AS skew_vs_ideal_ppm
FROM assigned GROUP BY 1 ORDER BY 1
"""

ORACLES["weighted_median_price"] = """
WITH lines AS (
  SELECT n.n_name,
         CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         CAST(l.l_quantity AS BIGINT) AS qty,
         l.l_orderkey, l.l_linenumber
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
), cum AS (
  SELECT n_name, cents,
         SUM(qty) OVER (PARTITION BY n_name ORDER BY cents, l_orderkey, l_linenumber
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         SUM(qty) OVER (PARTITION BY n_name) AS total
  FROM lines
), hit AS (
  SELECT n_name, cents, cum, total,
         ROW_NUMBER() OVER (PARTITION BY n_name ORDER BY cum) AS rn
  FROM cum WHERE cum * 2 >= total
)
SELECT n_name AS nation, cents AS wmedian_cents, CAST(total AS BIGINT) AS total_qty
FROM hit WHERE rn = 1 ORDER BY nation
"""

ORACLES["twab_balance"] = """
WITH stepped AS (
  SELECT user_id,
    date_diff('second', TIMESTAMP '1990-01-01', ts) AS t,
    SUM(CASE WHEN event_type = 'purchase'
             THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
             WHEN event_type = 'error'
             THEN -CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
             ELSE 0 END)
      OVER (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS bal,
    LEAD(date_diff('second', TIMESTAMP '1990-01-01', ts))
      OVER (PARTITION BY user_id ORDER BY ts, event_id) AS t_next
  FROM events
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(SUM((t_next - t) * bal) AS DOUBLE) / SUM(t_next - t) AS twab_cents,
       CAST(SUM(t_next - t) AS BIGINT) AS obs_seconds,
       CAST(MAX(bal) AS BIGINT) AS peak_cents
FROM stepped WHERE t_next IS NOT NULL
GROUP BY user_id ORDER BY user_id
"""

ORACLES["order_count_gini"] = """
WITH counts AS (
  SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS x FROM orders GROUP BY 1
), ranked AS (
  SELECT x, ROW_NUMBER() OVER (ORDER BY x, o_custkey) AS i FROM counts
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(x) AS BIGINT) AS total_orders,
       CAST(round(
         (CAST(2 AS DOUBLE) * CAST(SUM(i * x) AS DOUBLE)
            / CAST(COUNT(*) * SUM(x) AS DOUBLE)
          - CAST(COUNT(*) + 1 AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))
         * 1e6, 0) AS BIGINT) AS gini_micro
FROM ranked
"""

ORACLES["ks_length_drift"] = """
WITH d AS (SELECT source, n_chars AS v FROM documents WHERE n_chars IS NOT NULL),
counts AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS cnt FROM d GROUP BY 1, 2),
vals AS (SELECT DISTINCT v FROM d),
srcs AS (SELECT DISTINCT source FROM d),
totals AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_s FROM d GROUP BY 1),
grand AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_all FROM d),
allc AS (
  SELECT v, SUM(CAST(cnt AS BIGINT)) OVER (ORDER BY v
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_all
  FROM (SELECT v, COUNT(*) AS cnt FROM d GROUP BY 1)
),
grid AS (
  SELECT s.source, va.v, COALESCE(c.cnt, 0) AS cnt
  FROM vals va CROSS JOIN srcs s
  LEFT JOIN counts c ON c.source = s.source AND c.v = va.v
),
cums AS (
  SELECT g.source, g.v,
         SUM(g.cnt) OVER (PARTITION BY g.source ORDER BY g.v
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_s,
         a.cum_all, t.n_s, gr.n_all
  FROM grid g
  JOIN allc a ON a.v = g.v
  JOIN totals t ON t.source = g.source
  CROSS JOIN grand gr
),
ranked AS (
  SELECT source, v, cum_s, cum_all, n_s, n_all,
    ROW_NUMBER() OVER (PARTITION BY source
      ORDER BY abs(cum_s * (n_all - n_s) - (cum_all - cum_s) * n_s) DESC, v ASC) AS rn
  FROM cums
)
SELECT source,
       n_s AS n_docs,
       v AS argmax_len,
       CAST(abs(cum_s * (n_all - n_s) - (cum_all - cum_s) * n_s)
         * 1000000 // (n_s * (n_all - n_s)) AS BIGINT) AS ks_d_ppm
FROM ranked WHERE rn = 1 ORDER BY source
"""

ORACLES["scd2_pit_join"] = """
WITH versioned AS (
  SELECT c_custkey, c_nationkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS bal,
         TIMESTAMP '1990-01-01' AS eff_from,
         CASE WHEN c_custkey % 3 = 0 THEN TIMESTAMP '1998-01-01'
              ELSE TIMESTAMP '9999-12-31' END AS eff_to,
         'v1' AS ver
  FROM customer
  UNION ALL
  SELECT c_custkey, c_nationkey,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) + 10000,
         TIMESTAMP '1998-01-01', TIMESTAMP '9999-12-31', 'v2'
  FROM customer WHERE c_custkey % 3 = 0
)
SELECT n.n_name, vd.ver,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(vd.bal) AS BIGINT) AS pit_bal_cents
FROM orders o
JOIN versioned vd ON o.o_custkey = vd.c_custkey
  AND o.o_orderdate >= vd.eff_from AND o.o_orderdate < vd.eff_to
JOIN nation n ON vd.c_nationkey = n.n_nationkey
GROUP BY 1, 2 ORDER BY 1, 2
"""

ORACLES["audience_overlap"] = """
WITH du AS (SELECT DISTINCT user_id, event_type FROM events),
shared AS (
  SELECT a.event_type AS t_a, b.event_type AS t_b, CAST(COUNT(*) AS BIGINT) AS n_both
  FROM du a JOIN du b ON a.user_id = b.user_id AND a.event_type < b.event_type
  GROUP BY 1, 2
),
aud AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_aud FROM du GROUP BY 1)
SELECT s.t_a, s.t_b, s.n_both, pa.n_aud AS n_a, pb.n_aud AS n_b,
       s.n_both * 1000000 // (pa.n_aud + pb.n_aud - s.n_both) AS jaccard_ppm
FROM shared s
JOIN aud pa ON pa.event_type = s.t_a
JOIN aud pb ON pb.event_type = s.t_b
ORDER BY s.t_a, s.t_b
"""

ORACLES["event_cooccurrence"] = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         date_diff('second', TIMESTAMP '1990-01-01', ts) AS t
  FROM events
)
SELECT a.event_type AS t_a, b.event_type AS t_b, CAST(COUNT(*) AS BIGINT) AS n_pairs
FROM e a JOIN e b ON a.user_id = b.user_id
  AND (b.t > a.t OR (b.t = a.t AND b.event_id > a.event_id))
  AND b.t - a.t <= 300
GROUP BY 1, 2 ORDER BY 1, 2
"""

ORACLES["rfm_migration"] = """
WITH h1 AS (
  SELECT o_custkey,
         'T' || CAST(NTILE(3) OVER (ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) DESC, o_custkey) AS VARCHAR) AS tier_h1
  FROM orders WHERE o_orderdate < TIMESTAMP '1998-07-01' GROUP BY o_custkey
), h2 AS (
  SELECT o_custkey,
         'T' || CAST(NTILE(3) OVER (ORDER BY SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) DESC, o_custkey) AS VARCHAR) AS tier_h2
  FROM orders WHERE o_orderdate >= TIMESTAMP '1998-07-01' GROUP BY o_custkey
)
SELECT COALESCE(h1.tier_h1, 'ABSENT') AS tier_h1,
       COALESCE(h2.tier_h2, 'ABSENT') AS tier_h2,
       CAST(COUNT(*) AS BIGINT) AS n_customers
FROM h1 FULL OUTER JOIN h2 ON h1.o_custkey = h2.o_custkey
GROUP BY 1, 2 ORDER BY 1, 2
"""

ORACLES["shard_manifest"] = """
WITH d AS (
  SELECT ('0x' || substr(md5('shard:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 8 AS shard,
         n_chars,
         ('0x' || substr(md5(text), 1, 15))::BIGINT AS fp
  FROM documents WHERE text IS NOT NULL
)
SELECT CAST(shard AS BIGINT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_chars) AS BIGINT) AS total_chars,
       CAST(bit_xor(fp) AS BIGINT) AS fingerprint
FROM d GROUP BY 1 ORDER BY 1
"""

ORACLES["decayed_item_rank"] = """
WITH census AS (
  SELECT l_partkey,
         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) // 7 AS wk,
         SUM(CAST(l_quantity AS BIGINT)) AS qty
  FROM lineitem GROUP BY 1, 2
), mx AS (SELECT MAX(wk) AS max_wk FROM census),
scored AS (
  SELECT l_partkey, (qty * 1024) >> CAST(least(m.max_wk - c.wk, 40) AS INTEGER) AS decayed
  FROM census c CROSS JOIN mx m
)
SELECT p.p_name, CAST(s.l_partkey AS BIGINT) AS partkey,
       CAST(SUM(s.decayed) AS BIGINT) AS decayed_score
FROM scored s JOIN part p ON s.l_partkey = p.p_partkey
GROUP BY 1, 2
ORDER BY decayed_score DESC, partkey
LIMIT 20
"""

ORACLES["position_attribution"] = """
WITH buys AS (
  SELECT user_id, event_id AS buy_id,
         date_diff('second', TIMESTAMP '1990-01-01', ts) AS tb,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
), views AS (
  SELECT user_id, event_id AS view_id,
         date_diff('second', TIMESTAMP '1990-01-01', ts) AS tv
  FROM events WHERE event_type = 'view'
), pairs AS (
  SELECT b.buy_id, b.cents, v.tv, v.view_id
  FROM buys b JOIN views v ON b.user_id = v.user_id
  WHERE v.tv <= b.tb AND b.tb - v.tv <= 3600
), ranked AS (
  SELECT buy_id, cents,
         ROW_NUMBER() OVER (PARTITION BY buy_id ORDER BY tv, view_id) AS pos,
         COUNT(*) OVER (PARTITION BY buy_id) AS n
  FROM pairs
), weighted AS (
  SELECT CASE WHEN n = 1 THEN 'only'
              WHEN pos = 1 THEN 'first'
              WHEN pos = n THEN 'last'
              ELSE 'middle' END AS position,
         CASE WHEN n = 1 THEN 1000000
              WHEN n = 2 THEN 500000
              WHEN pos = 1 THEN 400000
              WHEN pos = n THEN 400000
              WHEN pos = 2 THEN 200000 // (n - 2) + 200000 % (n - 2)
              ELSE 200000 // (n - 2) END AS w,
         cents
  FROM ranked
)
SELECT position,
       CAST(COUNT(*) AS BIGINT) AS n_touches,
       CAST(SUM(w) AS BIGINT) AS total_weight_ppm,
       CAST(SUM(CAST(cents AS BIGINT) * w // 1000000) AS BIGINT) AS credited_cents
FROM weighted GROUP BY 1 ORDER BY 1
"""

ORACLES["session_depth_profile"] = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
    CASE WHEN ts - LAG(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS flag
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), sess AS (
  SELECT user_id,
    SUM(flag) OVER (PARTITION BY user_id ORDER BY ts, event_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM flagged
), depth AS (
  SELECT user_id, sess, CAST(COUNT(*) AS BIGINT) AS depth FROM sess GROUP BY 1, 2
), banded AS (
  SELECT CASE WHEN depth = 1 THEN '1-bounce'
              WHEN depth <= 3 THEN '2-3'
              WHEN depth <= 10 THEN '4-10'
              ELSE '11+' END AS depth_band,
         CAST(COUNT(*) AS BIGINT) AS n_sessions,
         CAST(SUM(depth) AS BIGINT) AS n_events
  FROM depth GROUP BY 1
), tot AS (SELECT SUM(n_sessions) AS t FROM banded)
SELECT depth_band, n_sessions, n_events,
       CAST(n_sessions * 1000000 // (SELECT t FROM tot) AS BIGINT) AS share_ppm
FROM banded ORDER BY depth_band
"""

ORACLES["seasonal_band_breaches"] = """
WITH daily AS (
  SELECT date_diff('second', TIMESTAMP '1990-01-01', ts) // 86400 AS d,
         CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM events GROUP BY 1
), dd AS (
  SELECT d, cents, CAST(d % 7 + 1 AS INTEGER) AS dow FROM daily
), mid AS (SELECT (MIN(d) + MAX(d)) // 2 AS mid FROM dd),
hist AS (SELECT dd.* FROM dd, mid WHERE d <= mid),
test AS (SELECT dd.* FROM dd, mid WHERE d > mid),
ranked AS (
  SELECT dow, cents,
         ROW_NUMBER() OVER (PARTITION BY dow ORDER BY cents, d) AS rn,
         COUNT(*) OVER (PARTITION BY dow) AS n
  FROM hist
), bands AS (
  SELECT dow, MIN(cents) AS p10_cents, MAX(cents) AS p90_cents
  FROM ranked
  WHERE rn = (10 * n + 99) // 100 OR rn = (90 * n + 99) // 100
  GROUP BY 1
)
SELECT t.dow,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       MAX(b.p10_cents) AS p10_cents,
       MAX(b.p90_cents) AS p90_cents,
       CAST(SUM(CASE WHEN t.cents < b.p10_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
       CAST(SUM(CASE WHEN t.cents > b.p90_cents THEN 1 ELSE 0 END) AS BIGINT) AS n_above
FROM test t JOIN bands b ON t.dow = b.dow
GROUP BY 1 ORDER BY 1
"""

# Rounding drift: both arms exact decimal — per-line HALF-UP round to
# 2dp then sum, vs full-scale sum rounded once. The mid = integer
# division floor of (min+max); positive days so // matches the cast.
ORACLES["rounding_drift_audit"] = """
WITH lines AS (
  SELECT n.n_name,
         CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))) AS ex
  FROM lineitem l
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
)
SELECT n_name,
       CAST(SUM(round(ex, 2)) * 100 AS BIGINT) AS invoice_cents,
       CAST(round(SUM(ex), 2) * 100 AS BIGINT) AS ledger_cents,
       CAST(SUM(round(ex, 2)) * 100 AS BIGINT)
         - CAST(round(SUM(ex), 2) * 100 AS BIGINT) AS drift_cents,
       CAST(COUNT(*) AS BIGINT) AS n_lines
FROM lines GROUP BY 1 ORDER BY 1
"""

ORACLES["tpch_q10"] = """
SELECT c.c_custkey, c.c_name, n.n_name,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS revenue,
       CAST(COUNT(*) AS BIGINT) AS n_return_lines,
       MAX(c.c_acctbal) AS c_acctbal
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
  AND o.o_orderdate >= TIMESTAMP '1997-07-01'
  AND o.o_orderdate < TIMESTAMP '1998-01-01'
GROUP BY 1, 2, 3
ORDER BY revenue DESC, c.c_custkey ASC
LIMIT 20
"""

ORACLES["tpch_q14"] = """
WITH s AS (
  SELECT CAST(round(SUM(CASE WHEN p.p_type = 'PROMO'
               THEN CAST(l.l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))) END), 2)
           * 100 AS BIGINT) AS promo_cents,
         CAST(round(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))), 2) * 100 AS BIGINT)
           AS total_cents
  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
  WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
    AND l.l_shipdate < TIMESTAMP '1998-01-01'
)
SELECT promo_cents, total_cents,
       promo_cents * 1000000 // total_cents AS promo_ppm
FROM s
"""

ORACLES["tpch_q7"] = """
SELECT sn.n_name AS supp_nation,
       cn.n_name AS cust_nation,
       CAST(year(l.l_shipdate) AS INT) AS l_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE)
         AS revenue
FROM lineitem l
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1998-01-01'
  AND ((sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1'))
GROUP BY 1, 2, 3
ORDER BY 1, 2, 3
"""

ORACLES["tpch_q8"] = """
WITH j AS (
  SELECT year(o.o_orderdate) AS o_year,
         sn.n_name AS supp_nation,
         CAST(l.l_extendedprice AS DECIMAL(12,2))
           * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2))) AS vol
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation sn ON s.s_nationkey = sn.n_nationkey
  JOIN orders o ON l.l_orderkey = o.o_orderkey
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n2 ON c.c_nationkey = n2.n_nationkey
  JOIN region r ON n2.n_regionkey = r.r_regionkey
  WHERE p.p_type = 'STANDARD'
    AND r.r_name = 'AMERICA'
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1998-01-01'
), s AS (
  SELECT CAST(o_year AS INT) AS o_year,
         COALESCE(CAST(round(SUM(CASE WHEN supp_nation = 'NATION_5' THEN vol END), 2)
                       * 100 AS BIGINT), 0) AS nation_cents,
         CAST(round(SUM(vol), 2) * 100 AS BIGINT) AS total_cents
  FROM j GROUP BY 1
)
SELECT o_year, nation_cents, total_cents,
       nation_cents * 1000000 // total_cents AS mkt_share_ppm
FROM s
ORDER BY o_year
"""

ORACLES["tpch_q9"] = """
SELECT n.n_name AS nation,
       CAST(year(o.o_orderdate) AS INT) AS o_year,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))
                - CAST(p.p_retailprice AS DECIMAL(12,2))
                  * CAST(l.l_quantity AS BIGINT)) AS DOUBLE) AS sum_profit
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
JOIN supplier s ON l.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE p.p_name LIKE '%red%'
GROUP BY 1, 2
ORDER BY nation ASC, o_year DESC
"""

ORACLES["tpch_q12"] = """
SELECT CASE WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) <= 30
            THEN '1-FAST'
            WHEN date_diff('day', CAST(o.o_orderdate AS DATE), CAST(l.l_shipdate AS DATE)) <= 90
            THEN '2-OK'
            ELSE '3-LATE' END AS delay_band,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END)
         AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END)
         AS BIGINT) AS low_line_count
FROM lineitem l
JOIN orders o ON l.l_orderkey = o.o_orderkey
WHERE l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY 1
ORDER BY 1
"""

ORACLES["tpch_q13"] = """
WITH per_cust AS (
  SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
  FROM customer c
  LEFT JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
)
SELECT CAST(c_count AS INT) AS c_count, COUNT(*) AS custdist
FROM per_cust
GROUP BY 1
ORDER BY custdist DESC, c_count DESC
"""

ORACLES["tpch_q15"] = """
WITH rev AS (
  SELECT l_suppkey,
         CAST(round(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                  * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))), 2) * 100
              AS BIGINT) AS total_cents
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey
)
SELECT s.s_suppkey, s.s_name, r.total_cents
FROM rev r
JOIN supplier s ON r.l_suppkey = s.s_suppkey
WHERE r.total_cents = (SELECT MAX(total_cents) FROM rev)
ORDER BY s.s_suppkey
"""

ORACLES["tpch_q2"] = """
WITH eur AS (
  SELECT n.n_nationkey, n.n_name
  FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
  WHERE r.r_name = 'EUROPE'
), sup AS (
  SELECT s.s_suppkey, s.s_name, s.s_acctbal, e.n_name
  FROM supplier s JOIN eur e ON s.s_nationkey = e.n_nationkey
), per_ps AS (
  SELECT p.p_partkey, l.l_suppkey,
         MIN(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS min_cents
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  JOIN sup s ON l.l_suppkey = s.s_suppkey
  WHERE p.p_size <= 10 AND p.p_type = 'STANDARD'
  GROUP BY 1, 2
), best AS (
  SELECT *, MIN(min_cents) OVER (PARTITION BY p_partkey) AS pmin
  FROM per_ps
)
SELECT s.s_acctbal, s.s_name, s.n_name AS nation, b.p_partkey, b.min_cents
FROM best b JOIN sup s ON b.l_suppkey = s.s_suppkey
WHERE b.min_cents = b.pmin
ORDER BY s.s_acctbal DESC, s.n_name, s.s_name, b.p_partkey
"""

ORACLES["tpch_q16"] = """
SELECT p.p_brand, p.p_type, p.p_size,
       COUNT(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE p.p_brand <> 'Brand#1'
  AND p.p_size IN (1, 4, 9, 14, 19, 23, 36, 45)
GROUP BY 1, 2, 3
ORDER BY supplier_cnt DESC, p_brand, p_type, p_size ASC
"""

ORACLES["tpch_q17"] = """
WITH li AS (
  SELECT p.p_partkey,
         CAST(l.l_quantity AS BIGINT) AS qty,
         CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_brand = 'Brand#3' AND p.p_size <= 10
), stats AS (
  SELECT p_partkey, COUNT(*) AS cnt, SUM(qty) AS sum_qty
  FROM li GROUP BY 1
)
SELECT COUNT(*) AS n_small_lines,
       CAST(COALESCE(SUM(li.cents), 0) AS BIGINT) AS total_cents,
       CAST(COALESCE(SUM(li.cents), 0) AS DOUBLE) / 700.0 AS avg_yearly
FROM li JOIN stats st ON li.p_partkey = st.p_partkey
WHERE 5 * li.qty * st.cnt < st.sum_qty
"""

ORACLES["tpch_q11"] = """
WITH per_part AS (
  SELECT l.l_partkey,
         CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)) AS BIGINT) AS value_cents
  FROM lineitem l
  JOIN supplier s ON l.l_suppkey = s.s_suppkey
  JOIN nation n ON s.s_nationkey = n.n_nationkey
  WHERE n.n_name = 'NATION_3'
  GROUP BY 1
)
SELECT l_partkey, value_cents
FROM per_part
WHERE value_cents * 1000 > (SELECT SUM(value_cents) FROM per_part)
ORDER BY value_cents DESC, l_partkey
"""

ORACLES["tpch_q19"] = """
SELECT COUNT(*) AS n_lines,
       COALESCE(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(12,2))
                * (CAST(1 AS DECIMAL(4,2)) - CAST(l.l_discount AS DECIMAL(4,2)))) AS DOUBLE),
                0.0) AS revenue
FROM lineitem l
JOIN part p ON l.l_partkey = p.p_partkey
WHERE (p.p_brand = 'Brand#5' AND p.p_size BETWEEN 1 AND 5
       AND CAST(l.l_quantity AS BIGINT) BETWEEN 1 AND 11)
   OR (p.p_brand = 'Brand#15' AND p.p_size BETWEEN 1 AND 10
       AND CAST(l.l_quantity AS BIGINT) BETWEEN 10 AND 20)
   OR (p.p_brand = 'Brand#25' AND p.p_size BETWEEN 1 AND 15
       AND CAST(l.l_quantity AS BIGINT) BETWEEN 20 AND 30)
"""

ORACLES["tpch_q20"] = """
WITH per_supp AS (
  SELECT l.l_suppkey, CAST(SUM(CAST(l.l_quantity AS BIGINT)) AS BIGINT) AS shipped_qty
  FROM lineitem l
  JOIN part p ON l.l_partkey = p.p_partkey
  WHERE p.p_name LIKE '%blue%'
    AND l.l_shipdate >= TIMESTAMP '1996-01-01'
    AND l.l_shipdate < TIMESTAMP '1997-01-01'
  GROUP BY 1
), totals AS (
  SELECT SUM(shipped_qty) AS total, COUNT(*) AS n FROM per_supp
)
SELECT s.s_name, n.n_name AS nation, ps.shipped_qty
FROM per_supp ps
CROSS JOIN totals t
JOIN supplier s ON ps.l_suppkey = s.s_suppkey
JOIN nation n ON s.s_nationkey = n.n_nationkey
JOIN region r ON n.n_regionkey = r.r_regionkey
WHERE ps.shipped_qty * t.n > t.total
  AND r.r_name = 'ASIA'
ORDER BY s.s_name
"""

ORACLES["tpch_q21"] = """
WITH per_os AS (
  SELECT l_orderkey, l_suppkey, MAX(l_shipdate) AS last_ship
  FROM lineitem
  GROUP BY 1, 2
), marked AS (
  SELECT *,
         COUNT(*) OVER (PARTITION BY l_orderkey) AS n_supp,
         MAX(last_ship) OVER (PARTITION BY l_orderkey) AS max_ship
  FROM per_os
), flagged AS (
  SELECT *,
         SUM(CASE WHEN last_ship = max_ship THEN 1 ELSE 0 END)
           OVER (PARTITION BY l_orderkey) AS n_latest
  FROM marked
)
SELECT s.s_name, COUNT(*) AS numwait
FROM flagged f
JOIN supplier s ON f.l_suppkey = s.s_suppkey
WHERE f.n_supp >= 2 AND f.n_latest = 1 AND f.last_ship = f.max_ship
GROUP BY 1
ORDER BY numwait DESC, s.s_name
LIMIT 20
"""

ORACLES["tpch_q22"] = """
WITH c AS (
  SELECT c_custkey,
         CAST(c_nationkey AS INT) AS cntrycode,
         CAST(c_acctbal AS DECIMAL(12,2)) AS bal
  FROM customer
  WHERE c_nationkey IN (1, 3, 5, 7, 9, 11, 13, 15, 17, 19, 21, 23)
), pos AS (
  SELECT SUM(bal) AS sum_pos, COUNT(*) AS n_pos FROM c WHERE bal > 0
)
SELECT c.cntrycode, COUNT(*) AS numcust,
       CAST(SUM(c.bal) AS DOUBLE) AS totacctbal
FROM c CROSS JOIN pos
WHERE c.bal * pos.n_pos > pos.sum_pos
  AND NOT EXISTS (
    SELECT 1 FROM orders o
    WHERE o.o_custkey = c.c_custkey
      AND o.o_orderdate >= TIMESTAMP '2000-01-01'
  )
GROUP BY 1
ORDER BY 1
"""

ORACLES["naive_forecast_mape"] = """
WITH census AS (
  SELECT n.n_name AS nation,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) // 7 AS wk,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
), ape AS (
  SELECT nation, wk,
         abs(cents - LAG(cents) OVER w) * 1000000 // LAG(cents) OVER w AS ape_ppm
  FROM census
  WINDOW w AS (PARTITION BY nation ORDER BY wk)
), ok AS (SELECT * FROM ape WHERE ape_ppm IS NOT NULL),
ranked AS (
  SELECT nation, ape_ppm,
         ROW_NUMBER() OVER (PARTITION BY nation ORDER BY ape_ppm, wk) AS rn,
         COUNT(*) OVER (PARTITION BY nation) AS n_evals
  FROM ok
)
SELECT nation, CAST(n_evals AS BIGINT) AS n_evals, ape_ppm AS median_ape_ppm
FROM ranked WHERE rn = (n_evals + 1) // 2
ORDER BY nation
"""

ORACLES["abc_xyz_matrix"] = """
WITH li AS (
  SELECT l_partkey,
         CAST(l_quantity AS BIGINT) AS qty,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         date_diff('day', DATE '1970-01-01', CAST(l_shipdate AS DATE)) // 7 AS wk
  FROM lineitem
), weekly AS (
  SELECT l_partkey, wk, SUM(qty) AS x, SUM(cents) AS cents
  FROM li GROUP BY 1, 2
), moments AS (
  SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS n, SUM(x) AS sx,
         SUM(x * x) AS sxx, CAST(SUM(cents) AS BIGINT) AS revenue_cents
  FROM weekly GROUP BY 1 HAVING SUM(x) > 0
), classed AS (
  SELECT l_partkey, revenue_cents,
         (['A','B','C'])[NTILE(3) OVER (ORDER BY revenue_cents DESC, l_partkey)] AS abc,
         (['X','Y','Z'])[NTILE(3) OVER (ORDER BY (n * sxx - sx * sx) * 1000000 // (sx * sx) ASC, l_partkey)] AS xyz
  FROM moments
)
SELECT abc, xyz, CAST(COUNT(*) AS BIGINT) AS n_parts,
       CAST(SUM(revenue_cents) AS BIGINT) AS revenue_cents
FROM classed GROUP BY 1, 2 ORDER BY 1, 2
"""

ORACLES["same_customer_growth"] = """
WITH per AS (
  SELECT o_custkey,
         CAST(o_orderdate >= TIMESTAMP '1998-07-01' AS INT) AS h,
         CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM orders GROUP BY 1, 2
), h1 AS (SELECT o_custkey, cents AS c1 FROM per WHERE h = 0),
h2 AS (SELECT o_custkey, cents AS c2 FROM per WHERE h = 1),
both_h AS (SELECT h1.o_custkey, c1, c2 FROM h1 JOIN h2 USING (o_custkey))
SELECT n.n_name,
       CAST(COUNT(*) AS BIGINT) AS n_comparable,
       CAST(SUM(b.c1) AS BIGINT) AS h1_cents,
       CAST(SUM(b.c2) AS BIGINT) AS h2_cents,
       CAST((SUM(b.c2) - SUM(b.c1)) * 1000000 // SUM(b.c1) AS BIGINT) AS samecust_growth_ppm
FROM both_h b
JOIN customer c ON b.o_custkey = c.c_custkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY 1 ORDER BY 1
"""

# Holt mirror: recursive-CTE fold. list_reduce is UNUSABLE here —
# DuckDB 1.0 evaluates multi-field struct lambdas IN PLACE, so the
# 'b' field sees the current step's already-updated 'l' (repro in the
# engine docstring); step-by-step recursion evaluates correctly.
ORACLES["holt_trend"] = """
WITH RECURSIVE census AS (
  SELECT n.n_name AS nation,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) // 7 AS wk,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
), arrs AS (
  SELECT nation, list(cents ORDER BY wk) AS xs FROM census GROUP BY 1
), fold AS (
  SELECT nation, 1 AS i, len(xs) AS n, xs[1] AS l, CAST(0 AS BIGINT) AS b, xs
  FROM arrs
  UNION ALL
  SELECT nation, i + 1, n,
         l + b + ((xs[i + 1] - l - b) >> 2),
         b + ((xs[i + 1] - l - b) >> 4),
         xs
  FROM fold WHERE i < n
)
SELECT nation, CAST(n AS BIGINT) AS n_weeks,
       l AS level_cents, b AS trend_cents, l + b AS forecast_cents
FROM fold WHERE i = n ORDER BY nation
"""

# Steady-state mirror: the same 3 unrolled v·P steps over the census.
ORACLES["transition_steady_state"] = """
WITH e AS (
  SELECT user_id, ts, event_id, event_type,
         LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
), census AS (
  SELECT prev AS de, event_type AS para, CAST(COUNT(*) AS BIGINT) AS n
  FROM e WHERE prev IS NOT NULL GROUP BY 1, 2
), withtot AS (
  SELECT de, para, n, SUM(n) OVER (PARTITION BY de) AS rowtot FROM census
), states AS (
  SELECT DISTINCT de AS state FROM census
  UNION SELECT DISTINCT para FROM census
), ns AS (SELECT COUNT(*) AS k FROM states),
v0 AS (SELECT state, CAST(1000000 // (SELECT k FROM ns) AS BIGINT) AS mass FROM states),
v1 AS (
  SELECT w.para AS state, CAST(SUM((v.mass * w.n) // w.rowtot) AS BIGINT) AS mass
  FROM withtot w JOIN v0 v ON v.state = w.de GROUP BY 1
),
v2 AS (
  SELECT w.para AS state, CAST(SUM((v.mass * w.n) // w.rowtot) AS BIGINT) AS mass
  FROM withtot w JOIN v1 v ON v.state = w.de GROUP BY 1
),
v3 AS (
  SELECT w.para AS state, CAST(SUM((v.mass * w.n) // w.rowtot) AS BIGINT) AS mass
  FROM withtot w JOIN v2 v ON v.state = w.de GROUP BY 1
)
SELECT state, mass AS steady_ppm FROM v3 ORDER BY state
"""

ORACLES["discount_elasticity"] = """
SELECT CAST(round(l_discount * 100, 0) AS BIGINT) AS disc_pct,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty,
       CAST(SUM(CAST(l_quantity AS BIGINT)) * 1000 // COUNT(*) AS BIGINT) AS avg_qty_milli,
       CAST(SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS revenue_cents
FROM lineitem GROUP BY 1 ORDER BY 1
"""

ORACLES["grouping_sets_rollup"] = """
SELECT COALESCE(n.n_name, '(all)') AS nation,
       COALESCE(c.c_mktsegment, '(all)') AS segment,
       CAST(GROUPING(n.n_name) * 2 + GROUPING(c.c_mktsegment) AS BIGINT) AS gid,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,2)) * 100) AS BIGINT) AS acctbal_cents
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
GROUP BY GROUPING SETS ((n.n_name, c.c_mktsegment), (n.n_name), ())
ORDER BY gid, nation, segment
"""

# Cross-batch stateful totals: two deliveries of the same snapshot =>
# exactly 2x the batch aggregate; per-VALUE cent rounding mirrored by
# the exact DECIMAL cast (2-dp data), double render once at the edge.
ORACLES["stream_running_totals"] = """
SELECT event_type AS key,
       CAST(2 * COUNT(*) AS BIGINT) AS n,
       CAST(2 * SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
            AS DOUBLE) / 100 AS total
FROM events
GROUP BY 1 ORDER BY 1
"""

# Floored ledger fold: same week-sorted nets; prefix folds use
# list_prepend(0, ...) so list_reduce's first-element-as-init IS the
# zero init; peak = max over the prefix-fold values (ewma pattern).
ORACLES["capped_balance"] = """
WITH e AS (
  SELECT user_id,
         CAST(FLOOR(date_diff('second', TIMESTAMP '1990-01-01', ts) / 604800)
              AS BIGINT) AS wk,
         CASE WHEN event_type = 'purchase'
              THEN CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)
              ELSE -CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) END AS c
  FROM events WHERE event_type IN ('purchase', 'error')
),
weekly AS (
  SELECT user_id, wk, SUM(c) AS net FROM e GROUP BY 1, 2
),
arr AS (
  SELECT user_id, list(net ORDER BY wk) AS nets FROM weekly GROUP BY 1
),
folds AS (
  SELECT user_id, len(nets) AS n_weeks,
         [list_reduce(list_prepend(CAST(0 AS BIGINT), nets[1:k]),
                      (acc, x) -> GREATEST(CAST(0 AS BIGINT), acc + x))
          FOR k IN range(1, len(nets) + 1)] AS prefix
  FROM arr
)
SELECT CAST(user_id AS BIGINT) AS user_id,
       CAST(n_weeks AS BIGINT) AS n_weeks,
       CAST(prefix[-1] AS BIGINT) AS final_cents,
       CAST(list_max(prefix) AS BIGINT) AS peak_cents
FROM folds ORDER BY user_id
"""

# LTV cohort curves: first-purchase-week cohorts, per-(cohort, age)
# census with running cumulative and exact per-member LTV.
ORACLES["ltv_cohorts"] = """
WITH e AS (
  SELECT user_id,
         CAST(FLOOR(date_diff('second', TIMESTAMP '1990-01-01', ts) / 604800)
              AS BIGINT) AS wk,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
cohorts AS (SELECT user_id, MIN(wk) AS cohort FROM e GROUP BY 1),
sizes AS (SELECT cohort, COUNT(*) AS cohort_users FROM cohorts GROUP BY 1),
cells AS (
  SELECT c.cohort, e.wk - c.cohort AS age_weeks,
         COUNT(DISTINCT e.user_id) AS n_active,
         SUM(e.cents) AS rev_cents
  FROM e JOIN cohorts c ON c.user_id = e.user_id
  GROUP BY 1, 2
),
cum AS (
  SELECT cohort, age_weeks, n_active, rev_cents,
         SUM(rev_cents) OVER (PARTITION BY cohort ORDER BY age_weeks
                              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_cents
  FROM cells
)
SELECT CAST(c.cohort AS BIGINT) AS cohort_week,
       CAST(c.age_weeks AS BIGINT) AS age_weeks,
       CAST(s.cohort_users AS BIGINT) AS cohort_users,
       CAST(c.n_active AS BIGINT) AS n_active,
       CAST(c.rev_cents AS BIGINT) AS rev_cents,
       CAST(c.cum_cents AS BIGINT) AS cum_cents,
       CAST((c.cum_cents * 10) // s.cohort_users AS BIGINT) AS ltv_per_user_milli
FROM cum c JOIN sizes s ON s.cohort = c.cohort
ORDER BY cohort_week, age_weeks
"""

# Dense-rank top-3 with ties kept: the output set is fully determined
# by the quantities, no tie-break column.
ORACLES["topk_with_ties"] = """
WITH qty AS (
  SELECT l_partkey, CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS total_qty
  FROM lineitem GROUP BY 1
),
ranked AS (
  SELECT p.p_brand, q.l_partkey AS p_partkey, q.total_qty,
         DENSE_RANK() OVER (PARTITION BY p.p_brand
                            ORDER BY q.total_qty DESC) AS qty_rank
  FROM qty q JOIN part p ON p.p_partkey = q.l_partkey
)
SELECT p_brand, CAST(p_partkey AS BIGINT) AS p_partkey, total_qty,
       CAST(qty_rank AS INT) AS qty_rank
FROM ranked WHERE qty_rank <= 3
ORDER BY p_brand, qty_rank, p_partkey
"""

# Apriori level-2: candidate triples verified against the frequent-pair
# table three ways; support counted over distinct-per-order baskets.
ORACLES["apriori_triples"] = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
fp AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
tri AS (
  SELECT a.l_partkey AS x, b.l_partkey AS y, c.l_partkey AS z,
         COUNT(*) AS n
  FROM li a
  JOIN li b ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  JOIN li c ON a.l_orderkey = c.l_orderkey AND b.l_partkey < c.l_partkey
  GROUP BY 1, 2, 3
)
SELECT t.x AS part_a, t.y AS part_b, t.z AS part_c,
       CAST(t.n AS BIGINT) AS support
FROM tri t
JOIN fp p1 ON t.x = p1.u AND t.y = p1.v
JOIN fp p2 ON t.x = p2.u AND t.z = p2.v
JOIN fp p3 ON t.y = p3.u AND t.z = p3.v
ORDER BY support DESC, part_a, part_b, part_c LIMIT 100
"""

# Bitmap census: mask built as sum(DISTINCT 1<<day) (distinct powers ≡
# bit_or); popcount via bit twiddling in Spark is cross-checked here by
# COUNT(DISTINCT day), and the 64-step mask fold for the streak by an
# independent gaps-and-islands derivation — two formulations, one hash.
ORACLES["activity_bitmaps"] = """
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(FLOOR(date_diff('second', TIMESTAMP '2024-01-01', ts)
                    / 86400.0) AS INT) AS d
  FROM events
  WHERE date_diff('second', TIMESTAMP '2024-01-01', ts) >= 0
    AND FLOOR(date_diff('second', TIMESTAMP '2024-01-01', ts) / 86400.0) <= 62
),
islands AS (
  SELECT user_id, d,
         d - DENSE_RANK() OVER (PARTITION BY user_id ORDER BY d) AS isl
  FROM days
),
streaks AS (
  SELECT user_id, MAX(run) AS longest_streak
  FROM (SELECT user_id, isl, COUNT(*) AS run FROM islands GROUP BY 1, 2)
  GROUP BY 1
),
masks AS (
  SELECT d.user_id,
         CAST(SUM(DISTINCT (CAST(1 AS BIGINT) << d.d)) AS BIGINT) AS day_mask,
         COUNT(DISTINCT d.d) AS n_active_days
  FROM days d GROUP BY 1
)
SELECT m.day_mask,
       CAST(COUNT(*) AS BIGINT) AS n_users,
       CAST(MAX(m.n_active_days) AS INT) AS n_active_days,
       CAST(MAX(s.longest_streak) AS INT) AS longest_streak
FROM masks m JOIN streaks s ON s.user_id = m.user_id
GROUP BY m.day_mask
ORDER BY n_users DESC, m.day_mask LIMIT 20
"""

# Embargoed range frame: bounds on the VALUE of epoch seconds, so tie
# handling and the 3-day gap are engine-independent by construction.
ORACLES["leakage_safe_features"] = """
WITH e AS (
  SELECT user_id, event_id, event_type,
         date_diff('second', TIMESTAMP '1990-01-01', ts) AS sec,
         CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
  FROM events
),
f AS (
  SELECT user_id, event_id, event_type, sec,
         COUNT(*) OVER w AS n_prior,
         SUM(c) OVER w AS cents_prior,
         MAX(sec) OVER w AS last_sec
  FROM e
  WINDOW w AS (PARTITION BY user_id ORDER BY sec
               RANGE BETWEEN UNBOUNDED PRECEDING AND 259200 PRECEDING)
)
SELECT user_id, event_id AS label_event,
       CAST(n_prior AS BIGINT) AS n_prior,
       CAST(COALESCE(cents_prior, 0) AS BIGINT) AS cents_prior,
       CAST(COALESCE(sec - last_sec, -1) AS BIGINT) AS recency_gap_s
FROM f WHERE event_type = 'purchase'
"""

# Best-case RLE runs after clustering by each candidate key: one
# COUNT(DISTINCT) census per candidate, summed — no sort, no rewrite.
ORACLES["rle_sort_key_planner"] = """
WITH base AS (
  SELECT o_custkey, o_orderstatus, o_orderpriority,
         CAST(FLOOR(date_diff('second', TIMESTAMP '1990-01-01', o_orderdate)
                    / 604800.0) AS BIGINT) AS wk
  FROM orders
),
n AS (SELECT COUNT(*) AS rows_total FROM base),
per_key AS (
  SELECT 'o_orderstatus' AS sort_key,
         SUM(d1) AS r_cust, SUM(d2) AS r_status,
         SUM(d3) AS r_prio, SUM(d4) AS r_week
  FROM (SELECT o_orderstatus,
               COUNT(DISTINCT o_custkey) d1, COUNT(DISTINCT o_orderstatus) d2,
               COUNT(DISTINCT o_orderpriority) d3, COUNT(DISTINCT wk) d4
        FROM base GROUP BY 1)
  UNION ALL
  SELECT 'o_orderpriority',
         SUM(d1), SUM(d2), SUM(d3), SUM(d4)
  FROM (SELECT o_orderpriority,
               COUNT(DISTINCT o_custkey) d1, COUNT(DISTINCT o_orderstatus) d2,
               COUNT(DISTINCT o_orderpriority) d3, COUNT(DISTINCT wk) d4
        FROM base GROUP BY 1)
  UNION ALL
  SELECT 'o_custkey',
         SUM(d1), SUM(d2), SUM(d3), SUM(d4)
  FROM (SELECT o_custkey,
               COUNT(DISTINCT o_custkey) d1, COUNT(DISTINCT o_orderstatus) d2,
               COUNT(DISTINCT o_orderpriority) d3, COUNT(DISTINCT wk) d4
        FROM base GROUP BY 1)
),
stacked AS (
  SELECT sort_key, 'o_custkey' AS column_name, r_cust AS est_runs FROM per_key
  UNION ALL
  SELECT sort_key, 'o_orderstatus', r_status FROM per_key
  UNION ALL
  SELECT sort_key, 'o_orderpriority', r_prio FROM per_key
  UNION ALL
  SELECT sort_key, 'order_week', r_week FROM per_key
)
SELECT s.sort_key, s.column_name, CAST(s.est_runs AS BIGINT) AS est_runs,
       CAST(round(CAST(s.est_runs AS DOUBLE) / CAST(n.rows_total AS DOUBLE)
                  * 1000000.0, 0) AS BIGINT) AS runs_ppm
FROM stacked s CROSS JOIN n
ORDER BY sort_key, column_name
"""

# Exact Shapley over the 4-channel lattice: v(S) by subset containment
# on bitmasks, weights |S|!(k-1-|S|)! inlined for k=4, credit_x24 pure
# integer; ppm is the single rounding site.
ORACLES["shapley_channels"] = """
WITH pu AS (
  SELECT user_id,
         COALESCE(SUM(DISTINCT CASE event_type
                      WHEN 'click' THEN 1 WHEN 'error' THEN 2
                      WHEN 'signup' THEN 4 WHEN 'view' THEN 8
                      ELSE 0 END), 0) AS tmask,
         MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY 1
),
census AS (
  SELECT tmask, COUNT(*) AS n_users, SUM(conv) AS n_conv FROM pu GROUP BY 1
),
coal AS (SELECT range AS smask FROM range(16)),
v AS (
  SELECT c.smask, COALESCE(SUM(t.n_conv), 0) AS v
  FROM coal c LEFT JOIN census t ON (t.tmask & ~c.smask) = 0
  GROUP BY 1
),
ch(channel, bit) AS (
  VALUES ('click', 1), ('error', 2), ('signup', 4), ('view', 8)
),
phi AS (
  SELECT ch.channel,
         SUM((CASE bit_count(v0.smask) WHEN 0 THEN 6 WHEN 3 THEN 6 ELSE 2 END)
             * (v1.v - v0.v)) AS credit_x24
  FROM ch
  JOIN v v0 ON (v0.smask & ch.bit) = 0
  JOIN v v1 ON v1.smask = v0.smask + ch.bit
  GROUP BY 1
),
tot AS (SELECT SUM(credit_x24) AS t FROM phi),
reach AS (
  SELECT ch.channel, COALESCE(SUM(c.n_users), 0) AS reach_users
  FROM ch LEFT JOIN census c ON (c.tmask & ch.bit) != 0
  GROUP BY 1
)
SELECT p.channel, CAST(p.credit_x24 AS BIGINT) AS credit_x24,
       CAST(round(CAST(p.credit_x24 AS DOUBLE)
                  / NULLIF(CAST(t.t AS DOUBLE), 0) * 1000000.0, 0)
            AS BIGINT) AS credit_ppm,
       CAST(r.reach_users AS BIGINT) AS reach_users
FROM phi p CROSS JOIN tot t JOIN reach r USING (channel)
ORDER BY channel
"""

# RAKE: stopword-delimited phrase runs via the same transform/split
# algebra; score pooled as one integer round-half-up division.
ORACLES["rake_keywords"] = """
WITH occ AS (
  SELECT TRIM(p) AS phrase
  FROM documents,
       UNNEST(string_split(
         array_to_string(
           list_transform(string_split(text, ' '),
             t -> CASE WHEN t IN ('the','a','and','of','to','in','is')
                       THEN '|' ELSE t END),
           ' '),
         '|')) AS u(p)
  WHERE text IS NOT NULL AND TRIM(p) <> ''
),
words AS (
  SELECT w AS word, len(string_split(phrase, ' ')) AS plen
  FROM occ, UNNEST(string_split(phrase, ' ')) AS uw(w)
),
wstats AS (
  SELECT word, SUM(plen) AS deg, COUNT(*) AS freq FROM words GROUP BY 1
),
pcensus AS (SELECT phrase, COUNT(*) AS n_occ FROM occ GROUP BY 1),
pw AS (
  SELECT p.phrase, p.n_occ, w AS word
  FROM pcensus p, UNNEST(string_split(p.phrase, ' ')) AS uw(w)
),
scored AS (
  SELECT pw.phrase, pw.n_occ,
         SUM(s.deg) AS sd, SUM(s.freq) AS sf
  FROM pw JOIN wstats s USING (word)
  GROUP BY 1, 2
)
SELECT phrase, CAST(n_occ AS BIGINT) AS n_occ,
       CAST((2000 * sd + sf) // (2 * sf) AS BIGINT) AS score_milli
FROM scored
ORDER BY score_milli DESC, phrase LIMIT 20
"""

# Quantile normalization: census-derived integer ppm ranks, global
# as-of mapped by greatest g_ppm <= rank_ppm.
ORACLES["quantile_normalize"] = """
WITH d AS (SELECT doc_id, source, n_chars FROM documents),
sc AS (SELECT source, n_chars, COUNT(*) AS n FROM d GROUP BY 1, 2),
src AS (
  SELECT source, n_chars,
         CASE WHEN SUM(n) OVER (PARTITION BY source) > 1
              THEN (COALESCE(SUM(n) OVER (PARTITION BY source ORDER BY n_chars
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    * 1000000)
                   // (SUM(n) OVER (PARTITION BY source) - 1)
              ELSE 0 END AS rank_ppm
  FROM sc
),
gc AS (SELECT n_chars, COUNT(*) AS n FROM d GROUP BY 1),
gquant AS (
  SELECT n_chars AS glen,
         CASE WHEN SUM(n) OVER () > 1
              THEN (COALESCE(SUM(n) OVER (ORDER BY n_chars
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                    * 1000000)
                   // (SUM(n) OVER () - 1)
              ELSE 0 END AS g_ppm
  FROM gc
),
mapped AS (
  SELECT s.source, s.n_chars, s.rank_ppm, MAX(g.glen) AS norm_chars
  FROM src s JOIN gquant g ON g.g_ppm <= s.rank_ppm
  GROUP BY 1, 2, 3
)
SELECT d.doc_id, d.source, CAST(d.n_chars AS BIGINT) AS n_chars,
       CAST(m.rank_ppm AS BIGINT) AS rank_ppm,
       CAST(m.norm_chars AS BIGINT) AS norm_chars
FROM d JOIN mapped m ON m.source = d.source AND m.n_chars = d.n_chars
"""

# HyperBall registers replicated bit-exactly: shared md5 convention,
# trailing-zero ranks via bit_count((x & -x) - 1) saturating at 28,
# integer harmonic denominator, one calibration division.
ORACLES["hyperball_2hop"] = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
sym AS (
  SELECT u AS src, v AS dst FROM edges
  UNION ALL SELECT v, u FROM edges
),
with_self AS (
  SELECT src, dst FROM sym
  UNION ALL SELECT DISTINCT src, src FROM sym
),
contrib AS (
  SELECT src,
         CAST(h % 16 AS INT) AS bucket,
         LEAST(bit_count(((h >> 4) & -(h >> 4)) - 1), 28) AS rank
  FROM (SELECT src,
               ('0x' || substr(md5(CAST(dst AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM with_self)
),
b1 AS (SELECT src, bucket, MAX(rank) AS r FROM contrib GROUP BY 1, 2),
b2 AS (
  SELECT w.src, b.bucket, MAX(b.r) AS r
  FROM with_self w JOIN b1 b ON b.src = w.dst
  GROUP BY 1, 2
),
num AS (
  SELECT src,
         SUM(CAST(1 AS BIGINT) << (28 - r))
         + (16 - COUNT(*)) * (CAST(1 AS BIGINT) << 29) AS num
  FROM b2 GROUP BY 1
),
deg AS (SELECT src, COUNT(*) AS degree FROM sym GROUP BY 1)
SELECT n.src AS node, CAST(d.degree AS BIGINT) AS degree,
       CAST(round(92496415686.656 / CAST(n.num AS DOUBLE), 0) AS BIGINT)
         AS est_ball2
FROM num n JOIN deg d ON d.src = n.src
"""

# Priority sampling: one exact-integer division per doc, total order
# (priority, doc_id), top-50.
ORACLES["weighted_sample"] = """
WITH d AS (
  SELECT doc_id, source, n_chars,
         ('0x' || substr(md5('ws:' || CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT
           AS u_hash
  FROM documents WHERE n_chars > 0
)
SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars, u_hash
FROM d
ORDER BY CAST(u_hash AS DOUBLE) / CAST(n_chars AS DOUBLE) ASC, doc_id
LIMIT 50
"""


def _markov_attribution_sql() -> str:
    """12 unrolled integer-ppm flow rounds over (variant, state) — the
    `transition_steady_state` convention, fused across the full chain
    and the four removal variants exactly like the Spark plan."""
    rounds = []
    prev = "m0"
    for i in range(1, 13):
        rounds.append(
            f"f{i} AS MATERIALIZED (SELECT c.variant, c.para AS state,"
            f" CAST(SUM((m.mass * c.n) // c.rowtot) AS BIGINT) AS mass"
            f" FROM vc c JOIN {prev} m"
            f" ON m.variant = c.variant AND m.state = c.de"
            f" GROUP BY 1, 2),\n"
            f"m{i} AS MATERIALIZED (SELECT * FROM f{i}"
            f" WHERE state NOT IN ('purchase', 'null'))"
        )
        prev = f"m{i}"
    absorbed = "\nUNION ALL ".join(
        f"SELECT variant, mass FROM f{i} WHERE state = 'purchase'"
        for i in range(1, 13)
    )
    return f"""
WITH e AS (
  SELECT user_id, event_type,
         COALESCE(LAG(event_type) OVER
                  (PARTITION BY user_id ORDER BY ts, event_id),
                  'start') AS de,
         COUNT(CASE WHEN event_type = 'purchase' THEN 1 END) OVER
           (PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_p,
         ROW_NUMBER() OVER
           (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn_last
  FROM events
),
kept AS (
  SELECT *, MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id) AS has_p
  FROM e WHERE prior_p = 0
),
pairs AS (
  SELECT de, event_type AS para FROM kept
  UNION ALL
  SELECT event_type AS de, 'null' AS para
  FROM kept WHERE has_p = 0 AND rn_last = 1
),
census AS (SELECT de, para, COUNT(*) AS n FROM pairs GROUP BY 1, 2),
wtot AS (SELECT de, para, n, SUM(n) OVER (PARTITION BY de) AS rowtot
         FROM census),
variants(variant) AS (
  VALUES ('full'), ('click'), ('error'), ('signup'), ('view')
),
vc AS (
  SELECT v.variant, w.de, w.para, w.n, w.rowtot
  FROM variants v CROSS JOIN wtot w
  WHERE v.variant = 'full'
     OR (w.de != v.variant AND w.para != v.variant)
),
m0 AS (SELECT variant, 'start' AS state, CAST(1000000 AS BIGINT) AS mass
       FROM variants),
{','.join(rounds)},
p AS (
  SELECT variant, SUM(mass) AS conv_ppm
  FROM ({absorbed})
  GROUP BY 1
),
rem AS (
  SELECT p.variant AS channel,
         CAST(pf.conv_ppm AS BIGINT) AS conv_full_ppm,
         CAST(pf.conv_ppm - p.conv_ppm AS BIGINT) AS removal_ppm
  FROM p CROSS JOIN (SELECT conv_ppm FROM p WHERE variant = 'full') pf
  WHERE p.variant != 'full'
),
tot AS (SELECT SUM(removal_ppm) AS t FROM rem)
SELECT r.channel, r.conv_full_ppm, r.removal_ppm,
       CAST((2000000 * r.removal_ppm + t.t) // (2 * t.t) AS BIGINT)
         AS credit_ppm
FROM rem r CROSS JOIN tot t
ORDER BY channel
"""


ORACLES["markov_attribution"] = _markov_attribution_sql()

# HRW resize audit: per-key argmax over the literal shard list under 8
# and 9 shards (max_by over (hash, shard)), census on the new shard.
ORACLES["rendezvous_sharding"] = """
WITH keys AS (SELECT c_custkey FROM customer),
s8 AS (
  SELECT k.c_custkey,
         arg_max(s.s, ('0x' || substr(md5(CAST(k.c_custkey AS VARCHAR)
                                          || ':s' || s.s), 1, 8))::BIGINT
                      * 16 + s.s) AS shard8
  FROM keys k CROSS JOIN (SELECT range AS s FROM range(8)) s
  GROUP BY 1
),
s9 AS (
  SELECT k.c_custkey,
         arg_max(s.s, ('0x' || substr(md5(CAST(k.c_custkey AS VARCHAR)
                                          || ':s' || s.s), 1, 8))::BIGINT
                      * 16 + s.s) AS shard9
  FROM keys k CROSS JOIN (SELECT range AS s FROM range(9)) s
  GROUP BY 1
)
SELECT CAST(a.shard9 AS INT) AS shard,
       CAST(COUNT(*) AS BIGINT) AS n_keys,
       CAST(SUM(CASE WHEN b.shard8 != a.shard9 THEN 1 ELSE 0 END) AS BIGINT)
         AS moved_in
FROM s9 a JOIN s8 b USING (c_custkey)
GROUP BY 1 ORDER BY 1
"""

# Directed rules from the support->=2 pair census; confidence and lift
# as single floor divisions of exact basket counts.
ORACLES["association_rules"] = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
nb AS (SELECT COUNT(DISTINCT l_orderkey) AS n FROM li),
items AS (SELECT l_partkey, COUNT(*) AS ni FROM li GROUP BY 1),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v, COUNT(*) AS nuv
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2 HAVING COUNT(*) >= 2
),
directed AS (
  SELECT u AS antecedent, v AS consequent, nuv FROM pairs
  UNION ALL
  SELECT v, u, nuv FROM pairs
)
SELECT d.antecedent, d.consequent,
       CAST(d.nuv AS BIGINT) AS support,
       CAST((d.nuv * 1000000) // ia.ni AS BIGINT) AS confidence_ppm,
       CAST((d.nuv * nb.n * 1000) // (ia.ni * ic.ni) AS BIGINT) AS lift_milli
FROM directed d
JOIN items ia ON ia.l_partkey = d.antecedent
JOIN items ic ON ic.l_partkey = d.consequent
CROSS JOIN nb
ORDER BY lift_milli DESC, antecedent, consequent LIMIT 20
"""


def _neighborhood_function_sql() -> str:
    """4 materialized register rounds (the markov_attribution CTE
    lesson), per-radius est sums, frac vs radius 4."""
    rounds = []
    prev = "b1"
    for i in (2, 3, 4):
        rounds.append(
            f"b{i} AS MATERIALIZED ("
            f"SELECT w.src, b.bucket, MAX(b.r) AS r"
            f" FROM with_self w JOIN {prev} b ON b.src = w.dst"
            f" GROUP BY 1, 2)"
        )
        prev = f"b{i}"
    est = "\nUNION ALL ".join(
        f"SELECT {i} AS radius, SUM(est) AS n_pairs_est FROM ("
        f"SELECT CAST(round(92496415686.656 / CAST("
        f"SUM(CAST(1 AS BIGINT) << (28 - r))"
        f" + (16 - COUNT(*)) * (CAST(1 AS BIGINT) << 29) AS DOUBLE), 0)"
        f" AS BIGINT) AS est FROM b{i} GROUP BY src)"
        for i in (1, 2, 3, 4)
    )
    return f"""
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
edges AS (
  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
sym AS (
  SELECT u AS src, v AS dst FROM edges
  UNION ALL SELECT v, u FROM edges
),
with_self AS MATERIALIZED (
  SELECT src, dst FROM sym
  UNION ALL SELECT DISTINCT src, src FROM sym
),
contrib AS (
  SELECT src,
         CAST(h % 16 AS INT) AS bucket,
         LEAST(bit_count(((h >> 4) & -(h >> 4)) - 1), 28) AS rank
  FROM (SELECT src,
               ('0x' || substr(md5(CAST(dst AS VARCHAR)), 1, 8))::BIGINT AS h
        FROM with_self)
),
b1 AS MATERIALIZED (
  SELECT src, bucket, MAX(rank) AS r FROM contrib GROUP BY 1, 2
),
{','.join(rounds)},
sums AS ({est}),
n4 AS (SELECT n_pairs_est AS t FROM sums WHERE radius = 4)
SELECT CAST(s.radius AS INT) AS radius,
       CAST(s.n_pairs_est AS BIGINT) AS n_pairs_est,
       CAST((s.n_pairs_est * 1000000) // n4.t AS BIGINT) AS frac_of_r4_ppm
FROM sums s CROSS JOIN n4
ORDER BY radius
"""


ORACLES["neighborhood_function"] = _neighborhood_function_sql()

# Exclusion funnel: the three conditional windows share one partition.
ORACLES["behavioral_cohort"] = """
WITH base AS (
  SELECT user_id, event_type,
         date_diff('second', TIMESTAMP '1990-01-01', ts) AS sec
  FROM events
),
w1 AS (
  SELECT *, MIN(CASE WHEN event_type = 'view' THEN sec END)
              OVER (PARTITION BY user_id) AS fv
  FROM base
),
w2 AS (
  SELECT *, MIN(CASE WHEN event_type = 'purchase'
                      AND sec > fv AND sec <= fv + 604800
                     THEN sec END)
              OVER (PARTITION BY user_id) AS pur
  FROM w1
),
w3 AS (
  SELECT *, SUM(CASE WHEN event_type = 'error'
                      AND sec > fv AND sec < pur
                     THEN 1 ELSE 0 END)
              OVER (PARTITION BY user_id) AS err
  FROM w2
)
SELECT DISTINCT user_id,
       CAST(fv AS BIGINT) AS first_view_sec,
       CAST(pur AS BIGINT) AS purchase_sec,
       CAST(pur - fv AS BIGINT) AS gap_s
FROM w3 WHERE pur IS NOT NULL AND err = 0
"""

# Volume/rate bridge: one rounding site (volume effect); rate effect is
# the exact integer remainder, so conservation is structural.
ORACLES["mix_rate_bridge"] = """
WITH o AS (
  SELECT o_custkey,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c,
         EXTRACT(year FROM o_orderdate) AS y
  FROM orders WHERE EXTRACT(year FROM o_orderdate) IN (1999, 2000)
),
per AS (
  SELECT n.n_name AS nation,
         SUM(CASE WHEN o.y = 1999 THEN 1 ELSE 0 END) AS n_base,
         SUM(CASE WHEN o.y = 2000 THEN 1 ELSE 0 END) AS n_cur,
         SUM(CASE WHEN o.y = 1999 THEN o.c ELSE 0 END) AS cents_base,
         SUM(CASE WHEN o.y = 2000 THEN o.c ELSE 0 END) AS cents_cur
  FROM o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1 HAVING SUM(CASE WHEN o.y = 1999 THEN 1 ELSE 0 END) > 0
)
SELECT nation,
       CAST(n_base AS BIGINT) AS n_base,
       CAST(n_cur AS BIGINT) AS n_cur,
       CAST(cents_base AS BIGINT) AS cents_base,
       CAST(cents_cur AS BIGINT) AS cents_cur,
       CAST(cents_cur - cents_base AS BIGINT) AS delta_cents,
       CAST(round(CAST(n_cur - n_base AS DOUBLE)
                  * (CAST(cents_base AS DOUBLE) / CAST(n_base AS DOUBLE)), 0)
            AS BIGINT) AS volume_effect_cents,
       CAST(cents_cur - cents_base
            - CAST(round(CAST(n_cur - n_base AS DOUBLE)
                         * (CAST(cents_base AS DOUBLE)
                            / CAST(n_base AS DOUBLE)), 0) AS BIGINT)
            AS BIGINT) AS rate_effect_cents
FROM per ORDER BY nation
"""

# Water-filling closed form: prefix criterion by integer cross-mult,
# largest-remainder split of the capped share.
ORACLES["fair_token_budget"] = """
WITH census AS (
  SELECT source,
         SUM(len(string_split(text, ' '))) AS demand_tokens
  FROM documents WHERE text IS NOT NULL GROUP BY 1
),
tot AS (SELECT SUM(demand_tokens) AS t, COUNT(*) AS n FROM census),
ranked AS (
  SELECT c.source, c.demand_tokens,
         tot.t // 2 AS b, tot.n AS n,
         ROW_NUMBER() OVER (ORDER BY c.demand_tokens, c.source) AS rn,
         COALESCE(SUM(c.demand_tokens) OVER
                  (ORDER BY c.demand_tokens, c.source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cum_prev
  FROM census c CROSS JOIN tot
),
flagged AS (
  SELECT *, demand_tokens * (n - rn + 1) <= b - cum_prev AS sat
  FROM ranked
),
agg AS (
  SELECT SUM(CASE WHEN sat THEN demand_tokens ELSE 0 END) AS cum_sat,
         SUM(CASE WHEN sat THEN 1 ELSE 0 END) AS k
  FROM flagged
)
SELECT f.source,
       CAST(f.demand_tokens AS BIGINT) AS demand_tokens,
       CAST(CASE WHEN f.sat THEN f.demand_tokens
                 ELSE (f.b - a.cum_sat) // (f.n - a.k)
                      + CASE WHEN f.rn - a.k <= (f.b - a.cum_sat) % (f.n - a.k)
                             THEN 1 ELSE 0 END
            END AS BIGINT) AS allocated_tokens,
       f.sat AS fully_satisfied
FROM flagged f CROSS JOIN agg a
ORDER BY f.source
"""

# Amount-based revenue waterfall: same class partition of integer
# deltas; churn months clip to the observed max (right-censoring).
ORACLES["mrr_waterfall"] = """
WITH o AS (
  SELECT o_custkey,
         CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT) AS c,
         CAST(FLOOR(date_diff('second', TIMESTAMP '1990-01-01', o_orderdate)
                    / 2592000.0) AS BIGINT) AS m
  FROM orders
),
cur AS (SELECT o_custkey, m, SUM(c) AS cents FROM o GROUP BY 1, 2),
first AS (SELECT o_custkey, MIN(m) AS first_m FROM cur GROUP BY 1),
prev AS (SELECT o_custkey, m + 1 AS m, cents AS pc FROM cur),
mx AS (SELECT MAX(m) AS mx FROM cur),
joined AS (
  SELECT COALESCE(cu.o_custkey, pv.o_custkey) AS o_custkey,
         COALESCE(cu.m, pv.m) AS m,
         COALESCE(cu.cents, 0) AS cur_c,
         COALESCE(pv.pc, 0) AS prev_c
  FROM cur cu FULL OUTER JOIN prev pv
    ON cu.o_custkey = pv.o_custkey AND cu.m = pv.m
),
flagged AS (
  SELECT j.m,
         CASE WHEN j.m = f.first_m AND j.cur_c > 0 THEN 'new'
              WHEN j.cur_c > 0 AND j.prev_c = 0 AND j.m != f.first_m
                   THEN 'reactivation'
              WHEN j.cur_c > j.prev_c AND j.prev_c > 0 THEN 'expansion'
              WHEN j.cur_c > 0 AND j.cur_c < j.prev_c THEN 'contraction'
              WHEN j.cur_c = 0 AND j.prev_c > 0 THEN 'churned'
              ELSE 'flat' END AS classe,
         ABS(j.cur_c - j.prev_c) AS d
  FROM joined j
  JOIN first f ON f.o_custkey = j.o_custkey
  CROSS JOIN mx
  WHERE j.m <= mx.mx
)
SELECT m AS month_idx, classe,
       CAST(COUNT(*) AS BIGINT) AS n_customers,
       CAST(SUM(d) AS BIGINT) AS delta_cents
FROM flagged WHERE classe != 'flat'
GROUP BY 1, 2 ORDER BY 1, 2
"""

# Credibility smoothing: identical IEEE expression tree, one rounding
# site per output column.
ORACLES["credibility_smoothing"] = """
WITH pn AS (
  SELECT n.n_name AS nation, n.n_regionkey AS rk,
         SUM(CASE WHEN l.l_returnflag = 'R' THEN 1 ELSE 0 END) AS x,
         COUNT(*) AS n
  FROM lineitem l
  JOIN orders o ON o.o_orderkey = l.l_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
),
pr AS (SELECT rk, SUM(x) AS xr, SUM(n) AS nr FROM pn GROUP BY 1)
SELECT pn.nation,
       CAST(pn.n AS BIGINT) AS n_lines,
       CAST(round(CAST(pn.x AS DOUBLE) / CAST(pn.n AS DOUBLE) * 1000000.0, 0)
            AS BIGINT) AS raw_ppm,
       CAST(round(CAST(pr.xr AS DOUBLE) / CAST(pr.nr AS DOUBLE) * 1000000.0, 0)
            AS BIGINT) AS region_ppm,
       CAST(round(1000000.0
                  * (CAST(pn.x AS DOUBLE)
                     + 200.0 * (CAST(pr.xr AS DOUBLE) / CAST(pr.nr AS DOUBLE)))
                  / (CAST(pn.n AS DOUBLE) + 200.0), 0) AS BIGINT)
         AS smoothed_ppm,
       CAST(round(CAST(pn.n AS DOUBLE) / (CAST(pn.n AS DOUBLE) + 200.0)
                  * 1000.0, 0) AS BIGINT) AS credibility_milli
FROM pn JOIN pr ON pr.rk = pn.rk
ORDER BY pn.nation
"""

# Little's law: direct duration sum and sweep-integrated area, equal
# by conservation; both mirrored independently here.
ORACLES["littles_law_audit"] = """
WITH close AS (
  SELECT l_orderkey, CAST(date_trunc('day', MAX(l_shipdate)) AS DATE) AS cl
  FROM lineitem GROUP BY 1
),
spans AS (
  SELECT c.c_nationkey AS nk,
         CAST(date_trunc('day', o.o_orderdate) AS DATE) AS op,
         GREATEST(cl.cl, CAST(date_trunc('day', o.o_orderdate) AS DATE)) AS cl
  FROM orders o
  JOIN close cl ON cl.l_orderkey = o.o_orderkey
  JOIN customer c ON c.c_custkey = o.o_custkey
),
direct AS (
  SELECT nk, COUNT(*) AS n_orders,
         SUM(date_diff('day', op, cl) + 1) AS order_days_direct
  FROM spans GROUP BY 1
),
deltas AS (
  SELECT nk, op AS d, 1 AS delta FROM spans
  UNION ALL
  SELECT nk, cl + INTERVAL 1 DAY, -1 FROM spans
),
census AS (SELECT nk, d, SUM(delta) AS dsum FROM deltas GROUP BY 1, 2),
swept AS (
  SELECT nk, SUM(area) AS order_days_swept FROM (
    SELECT nk,
           SUM(dsum) OVER (PARTITION BY nk ORDER BY d) *
             COALESCE(date_diff('day', d,
                      LEAD(d) OVER (PARTITION BY nk ORDER BY d)), 0) AS area
    FROM census
  ) GROUP BY 1
)
SELECT CAST(di.nk AS INT) AS nationkey,
       CAST(di.n_orders AS BIGINT) AS n_orders,
       CAST(di.order_days_direct AS BIGINT) AS order_days_direct,
       CAST(sw.order_days_swept AS BIGINT) AS order_days_swept,
       CAST(round(CAST(di.order_days_direct AS DOUBLE)
                  / CAST(di.n_orders AS DOUBLE) * 1000.0, 0) AS BIGINT)
         AS avg_open_days_milli
FROM direct di JOIN swept sw ON sw.nk = di.nk
ORDER BY nationkey
"""


def _survey_raking_sql() -> str:
    """12 unrolled MATERIALIZED half-rounds of the integer milli-grid
    IPF — identical (2·W·T·1000 + m·S) div (2·m·S) rescale per cell."""
    rounds = []
    prev = "w0"
    i = 0
    for _ in range(6):
        for axis, m_expr in (("nk", "(SELECT n_nk FROM dims)"),
                             ("seg", "(SELECT n_seg FROM dims)")):
            i += 1
            rounds.append(
                f"w{i} AS MATERIALIZED (SELECT nk, seg, n,"
                f" (2 * w * (SELECT t FROM tot) * 1000"
                f"  + {m_expr} * SUM(w) OVER (PARTITION BY {axis}))"
                f" // (2 * {m_expr} * SUM(w) OVER (PARTITION BY {axis}))"
                f" AS w FROM {prev})"
            )
            prev = f"w{i}"
    return f"""
WITH census AS (
  SELECT c_nationkey AS nk, c_mktsegment AS seg, COUNT(*) AS n
  FROM customer GROUP BY 1, 2
),
tot AS (SELECT SUM(n) AS t FROM census),
dims AS (SELECT COUNT(DISTINCT nk) AS n_nk, COUNT(DISTINCT seg) AS n_seg
         FROM census),
w0 AS (SELECT nk, seg, n, n * 1000 AS w FROM census),
{','.join(rounds)}
SELECT CAST(nk AS INT) AS nationkey, seg AS mktsegment,
       CAST(n AS BIGINT) AS n_customers,
       CAST((2 * w * 1000 + n) // (2 * n) AS BIGINT) AS weight_ppm
FROM {prev}
ORDER BY nationkey, mktsegment
"""


ORACLES["survey_raking"] = _survey_raking_sql()

# Murphy decomposition: identical feature block to quality_calibration
# (exp@9dp grid), ppm quantize once, half-up ppm bin means before
# squaring (the int64 bound).
ORACLES["brier_decomposition"] = f"""
WITH f AS (
  SELECT
    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
    round(least(
        least((CAST(length(text) AS DOUBLE) - (CAST(len(str_split(text, ' ')) AS DOUBLE) - 1.0))
              / CAST(len(str_split(text, ' ')) AS DOUBLE) / 8.0, 1.0) * 0.4
        + CAST(len(list_filter(str_split(text, ' '), t -> t IN {_STOPWORDS_SQL})) AS DOUBLE)
          / CAST(len(str_split(text, ' ')) AS DOUBLE) * 2.0 * 0.3
        + least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3,
      1.0), 9) AS q,
    round((CAST(len(str_split(text, ' ')) AS DOUBLE)
           - CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE))
          / CAST(len(str_split(text, ' ')) AS DOUBLE), 9) AS dup,
    round((CAST(length(text) AS DOUBLE) - (CAST(len(str_split(text, ' ')) AS DOUBLE) - 1.0))
          / CAST(len(str_split(text, ' ')) AS DOUBLE), 9) AS mlen,
    CAST(len(list_filter(str_split(text, ' '), t -> t IN {_STOPWORDS_SQL})) AS BIGINT)
      AS stop_hits
  FROM documents WHERE text IS NOT NULL
),
z AS (
  SELECT round(1.0 / (1.0 + exp(-(-2.0 + 6.0 * q + -3.0 * dup + 0.25 * mlen
                                  + 0.002 * CAST(n_tokens AS DOUBLE)))), 9) AS p,
         CASE WHEN (n_tokens BETWEEN 10 AND 1000) AND (mlen BETWEEN 2.0 AND 10.0)
               AND dup <= 0.6 AND stop_hits >= 2 THEN 1 ELSE 0 END AS o
  FROM f
),
scored AS (
  SELECT CAST(round(p * 1000000.0, 0) AS BIGINT) AS p_ppm,
         LEAST(CAST(FLOOR(p * 10) AS INT), 9) AS decile, o
  FROM z
),
gstat AS (
  SELECT COUNT(*) AS n, SUM(o) AS x,
         SUM((p_ppm - o * 1000000) * (p_ppm - o * 1000000)) AS sq,
         (2 * SUM(o) * 1000000 + COUNT(*)) // (2 * COUNT(*)) AS obar
  FROM scored
),
bins AS (
  SELECT decile, COUNT(*) AS n_docs, SUM(p_ppm) AS sp, SUM(o) AS xb
  FROM scored GROUP BY 1
),
wbv AS (
  SELECT s.decile,
         SUM((s.p_ppm - (2 * b.sp + b.n_docs) // (2 * b.n_docs))
             * (s.p_ppm - (2 * b.sp + b.n_docs) // (2 * b.n_docs)))
           AS within_var_term,
         SUM((s.p_ppm - (2 * b.sp + b.n_docs) // (2 * b.n_docs))
             * (s.o * 1000000 - (2 * b.xb * 1000000 + b.n_docs) // (2 * b.n_docs)))
           AS within_cov_term
  FROM scored s JOIN bins b ON b.decile = s.decile
  GROUP BY 1
)
SELECT b.decile,
       CAST(b.n_docs AS BIGINT) AS n_docs,
       CAST((2 * b.sp + b.n_docs) // (2 * b.n_docs) AS BIGINT) AS mean_p_ppm,
       CAST((2 * b.xb * 1000000 + b.n_docs) // (2 * b.n_docs) AS BIGINT)
         AS pass_rate_ppm,
       CAST(b.n_docs
            * ((2 * b.sp + b.n_docs) // (2 * b.n_docs)
               - (2 * b.xb * 1000000 + b.n_docs) // (2 * b.n_docs))
            * ((2 * b.sp + b.n_docs) // (2 * b.n_docs)
               - (2 * b.xb * 1000000 + b.n_docs) // (2 * b.n_docs))
            AS BIGINT) AS reliability_term,
       CAST(b.n_docs
            * ((2 * b.xb * 1000000 + b.n_docs) // (2 * b.n_docs) - g.obar)
            * ((2 * b.xb * 1000000 + b.n_docs) // (2 * b.n_docs) - g.obar)
            AS BIGINT) AS resolution_term,
       CAST(w.within_var_term AS BIGINT) AS within_var_term,
       CAST(w.within_cov_term AS BIGINT) AS within_cov_term,
       CAST(g.sq AS BIGINT) AS sq_err_sum,
       CAST(g.x AS BIGINT) AS n_pass_total,
       CAST(g.n AS BIGINT) AS n_total
FROM bins b JOIN wbv w ON w.decile = b.decile CROSS JOIN gstat g
ORDER BY b.decile
"""

# Split conformal: even weeks calibrate, odd test; exact ceil(0.9 n)
# rank under the (resid, week) total order; ppm coverage.
ORACLES["conformal_coverage"] = """
WITH census AS (
  SELECT n.n_name AS nation,
         CAST(FLOOR(date_diff('day', DATE '1970-01-01',
                              CAST(o.o_orderdate AS DATE)) / 7.0) AS BIGINT)
           AS wk,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(12,2))) * 100 AS BIGINT)
           AS cents
  FROM orders o
  JOIN customer c ON c.c_custkey = o.o_custkey
  JOIN nation n ON n.n_nationkey = c.c_nationkey
  GROUP BY 1, 2
),
resid AS (
  SELECT nation, wk,
         ABS(cents - LAG(cents) OVER (PARTITION BY nation ORDER BY wk)) AS r,
         wk % 2 = 0 AS cal
  FROM census
  QUALIFY r IS NOT NULL
),
q AS (
  SELECT nation, r AS q90, n AS n_cal FROM (
    SELECT nation, r,
           ROW_NUMBER() OVER (PARTITION BY nation ORDER BY r, wk) AS rn,
           COUNT(*) OVER (PARTITION BY nation) AS n
    FROM resid WHERE cal
  ) WHERE rn = (9 * n + 9) // 10
)
SELECT t.nation,
       CAST(q.n_cal AS BIGINT) AS n_cal,
       CAST(COUNT(*) AS BIGINT) AS n_test,
       CAST(q.q90 AS BIGINT) AS q90_resid_cents,
       CAST(SUM(CASE WHEN t.r <= q.q90 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS coverage_ppm
FROM resid t JOIN q ON q.nation = t.nation
WHERE NOT t.cal
GROUP BY 1, 2, 4
ORDER BY 1
"""

# Banding recall: shared 8-hash signatures; r=1 reference arm (8
# single-hash bands) exact-verified >= 0.5 vs the r=2 production arm.
ORACLES["banding_recall_audit"] = f"""
WITH {_SIG8_CTE},{_BANDS8_CTE},
pairs2 AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
),
bands1 AS (
  SELECT doc_id,
         unnest(['0|' || mh0, '1|' || mh1, '2|' || mh2, '3|' || mh3,
                 '4|' || mh4, '5|' || mh5, '6|' || mh6, '7|' || mh7])
           AS band
  FROM sig8
),
pairs1 AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands1 a JOIN bands1 b ON a.band = b.band AND a.doc_id < b.doc_id
),
ref AS (
  SELECT p.id_a, p.id_b,
    round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
        / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE), 9)
      AS jaccard
  FROM pairs1 p
  JOIN shing sa ON sa.doc_id = p.id_a
  JOIN shing sb ON sb.doc_id = p.id_b
),
ref_f AS (SELECT * FROM ref WHERE jaccard >= 0.5),
audited AS (
  SELECT LEAST(CAST(FLOOR(r.jaccard * 10) AS INT), 9) AS sim_band,
         CASE WHEN p2.id_a IS NULL THEN 0 ELSE 1 END AS f
  FROM ref_f r
  LEFT JOIN pairs2 p2 ON p2.id_a = r.id_a AND p2.id_b = r.id_b
)
SELECT sim_band,
       CAST(COUNT(*) AS BIGINT) AS n_reference,
       CAST(SUM(f) AS BIGINT) AS n_banded_found,
       CAST(SUM(f) * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
FROM audited GROUP BY 1 ORDER BY 1
"""


def _ivf_probe_sweep_sql() -> str:
    """Four probe arms over the shared cell/rank CTEs; same cosine
    expression ranks cells and scores candidates."""
    arms = []
    for np_ in (1, 2, 3, 4):
        arms.append(f"""
SELECT {np_} AS nprobe,
       (SELECT COUNT(*) FROM scored WHERE crk <= {np_}) AS scanned_vecs,
       (SELECT COUNT(*) FROM (
          SELECT vec_id FROM scored WHERE crk <= {np_}
          ORDER BY c DESC, vec_id LIMIT 10
        ) t JOIN brute b ON b.vec_id = t.vec_id) AS hits_at_10""")
    return f"""
WITH cent AS (
  SELECT vec_id AS cid, embedding AS cemb FROM embeddings WHERE vec_id < 8
),
allsc AS MATERIALIZED (
  SELECT e.vec_id, e.embedding, c.cid, {_cos("e.embedding", "c.cemb")} AS cc
  FROM embeddings e CROSS JOIN cent c
),
cells AS MATERIALIZED (
  SELECT vec_id, embedding, cid AS cell FROM (
    SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
    FROM allsc
  ) WHERE rn = 1
),
q AS (SELECT embedding AS qv FROM embeddings WHERE vec_id = 0),
crank AS (
  SELECT cid, ROW_NUMBER() OVER (ORDER BY {_cos("cemb", "q.qv")} DESC, cid)
           AS crk
  FROM cent, q
),
scored AS MATERIALIZED (
  SELECT cl.vec_id, cr.crk, {_cos("cl.embedding", "q.qv")} AS c
  FROM cells cl JOIN crank cr ON cr.cid = cl.cell CROSS JOIN q
  WHERE cl.vec_id <> 0
),
brute AS MATERIALIZED (
  SELECT vec_id FROM scored ORDER BY c DESC, vec_id LIMIT 10
)
SELECT CAST(nprobe AS INT) AS nprobe,
       CAST(scanned_vecs AS BIGINT) AS scanned_vecs,
       CAST(hits_at_10 AS BIGINT) AS hits_at_10,
       CAST(hits_at_10 * 100000 AS BIGINT) AS recall_ppm
FROM ({" UNION ALL ".join(arms)})
ORDER BY nprobe
"""


ORACLES["ivf_probe_sweep"] = _ivf_probe_sweep_sql()


# --------------------------------------------------------------------------
# Batch-4 mirrors (N190-N197): rank statistics, feature selection,
# deterministic resampling, backtest tournament, sequence mining.
# --------------------------------------------------------------------------

ORACLES["mann_whitney_u"] = """
WITH census AS (
  SELECT lang, n_chars AS v, COUNT(*) AS c FROM documents GROUP BY 1, 2
),
langs AS (SELECT DISTINCT lang FROM census),
pairs AS (
  SELECT a.lang AS lang_a, b.lang AS lang_b
  FROM langs a CROSS JOIN langs b WHERE a.lang < b.lang
),
merged AS (
  SELECT lang_a, lang_b, v, SUM(ca) AS ca, SUM(cb) AS cb FROM (
    SELECT p.lang_a, p.lang_b, c.v, c.c AS ca, 0 AS cb
    FROM census c JOIN pairs p ON c.lang = p.lang_a
    UNION ALL
    SELECT p.lang_a, p.lang_b, c.v, 0 AS ca, c.c AS cb
    FROM census c JOIN pairs p ON c.lang = p.lang_b
  ) GROUP BY 1, 2, 3
),
scored AS (
  SELECT lang_a, lang_b, ca, cb,
         COALESCE(SUM(cb) OVER (PARTITION BY lang_a, lang_b ORDER BY v
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cumb
  FROM merged
)
SELECT lang_a, lang_b,
       CAST(SUM(ca) AS BIGINT) AS n_a,
       CAST(SUM(cb) AS BIGINT) AS n_b,
       CAST(2 * SUM(ca * cumb) + SUM(ca * cb) AS BIGINT) AS u2_a,
       CAST(2 * SUM(ca) * SUM(cb)
            - (2 * SUM(ca * cumb) + SUM(ca * cb)) AS BIGINT) AS u2_b
FROM scored GROUP BY 1, 2 ORDER BY 1, 2
"""

_WEEKLY_NATION_CENSUS = """
  SELECT n.n_name AS nation,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) // 7 AS wk,
         COUNT(*) AS n_orders,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
"""

ORACLES["kendall_tau"] = f"""
WITH census AS ({_WEEKLY_NATION_CENSUS}),
prs AS (
  SELECT a.nation,
         (b.n_orders - a.n_orders) AS dn, (b.cents - a.cents) AS dc
  FROM census a JOIN census b ON a.nation = b.nation AND a.wk < b.wk
),
agg AS (
  SELECT nation,
         SUM(CASE WHEN dn * dc > 0 THEN 1 ELSE 0 END) AS conc,
         SUM(CASE WHEN dn * dc < 0 THEN 1 ELSE 0 END) AS disc,
         SUM(CASE WHEN dn = 0 OR dc = 0 THEN 1 ELSE 0 END) AS tie,
         COUNT(*) AS n0
  FROM prs GROUP BY 1
)
SELECT nation,
       CAST(conc AS BIGINT) AS concordant,
       CAST(disc AS BIGINT) AS discordant,
       CAST(tie AS BIGINT) AS tie_pairs,
       CAST(CASE WHEN conc > disc THEN 1 WHEN conc < disc THEN -1 ELSE 0 END
            * (abs(conc - disc) * 1000000 // n0) AS BIGINT) AS tau_a_ppm
FROM agg ORDER BY nation
"""

ORACLES["spearman_corr"] = f"""
WITH census AS ({_WEEKLY_NATION_CENSUS}),
r2 AS (
  SELECT nation, wk,
         2 * RANK() OVER (PARTITION BY nation ORDER BY n_orders)
           + COUNT(*) OVER (PARTITION BY nation, n_orders) - 1 AS r2n,
         2 * RANK() OVER (PARTITION BY nation ORDER BY cents)
           + COUNT(*) OVER (PARTITION BY nation, cents) - 1 AS r2c
  FROM census
),
agg AS (
  SELECT nation, COUNT(*) AS n, SUM((r2n - r2c) * (r2n - r2c)) AS d2sum
  FROM r2 GROUP BY 1
)
SELECT nation,
       CAST(n AS BIGINT) AS n_weeks,
       CAST(d2sum AS BIGINT) AS d2sum_x4,
       CAST(1000000 - (3 * d2sum * 1000000 // (2 * n * (n * n - 1)))
            AS BIGINT) AS rho_ppm
FROM agg WHERE n >= 2 ORDER BY nation
"""

ORACLES["chi2_terms"] = """
WITH lab AS (
  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en
  FROM documents WHERE text IS NOT NULL
),
totals AS (SELECT SUM(en) AS n_en, SUM(1 - en) AS n_non FROM lab),
toks AS (
  SELECT DISTINCT d.doc_id, t.term
  FROM documents d, UNNEST(string_split(d.text, ' ')) AS t(term)
  WHERE d.text IS NOT NULL
),
cont AS (
  SELECT t.term,
         SUM(l.en) AS a, SUM(1 - l.en) AS b,
         MIN(tt.n_en) - SUM(l.en) AS c,
         MIN(tt.n_non) - SUM(1 - l.en) AS d,
         MIN(tt.n_en) + MIN(tt.n_non) AS n
  FROM toks t JOIN lab l ON t.doc_id = l.doc_id CROSS JOIN totals tt
  GROUP BY 1
  HAVING SUM(l.en) + SUM(1 - l.en) < MIN(tt.n_en) + MIN(tt.n_non)
),
ranked AS (
  SELECT term,
         CAST(a AS BIGINT) AS en_with,
         CAST(b AS BIGINT) AS non_with,
         CAST(c AS BIGINT) AS en_without,
         CAST(d AS BIGINT) AS non_without,
         CAST(ROW_NUMBER() OVER (ORDER BY
           (CAST((a*d - b*c) * (a*d - b*c) AS DOUBLE) * n)
           / (CAST((a+b) AS DOUBLE) * (c+d) * (a+c) * (b+d)) DESC,
           term) AS BIGINT) AS chi2_rank
  FROM cont
)
SELECT * FROM ranked WHERE chi2_rank <= 40 ORDER BY chi2_rank
"""

ORACLES["stump_gate"] = """
WITH feats AS (
  SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS en,
         n_chars AS len,
         CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
  FROM documents WHERE text IS NOT NULL
),
grid AS (
  SELECT 'len_ge_' || t AS feature, 'len' AS axis, t AS thr
  FROM UNNEST([100,150,200,250,300,350,400,450,500]) AS g(t)
  UNION ALL
  SELECT 'ntok_ge_' || t, 'ntok', t FROM UNNEST([20,40,60,80,100]) AS g(t)
),
scored AS (
  SELECT g.feature, f.en,
         CASE WHEN (g.axis = 'len' AND f.len >= g.thr)
                OR (g.axis = 'ntok' AND f.ntok >= g.thr)
              THEN 1 ELSE 0 END AS pred
  FROM feats f CROSS JOIN grid g
),
cells AS (
  SELECT feature,
         SUM(en * pred) AS tp, SUM((1 - en) * pred) AS fp,
         SUM(en * (1 - pred)) AS fn, SUM((1 - en) * (1 - pred)) AS tn
  FROM scored GROUP BY 1
)
SELECT feature,
       CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
       CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
       CAST(LEAST(fp + fn, tp + tn) AS BIGINT) AS errors,
       CASE WHEN fp + fn <= tp + tn THEN 'pos' ELSE 'neg' END AS polarity,
       CAST(ROW_NUMBER() OVER (ORDER BY LEAST(fp + fn, tp + tn), feature)
            AS BIGINT) AS stump_rank
FROM cells ORDER BY stump_rank
"""

ORACLES["half_sample_ci"] = """
WITH base AS (
  SELECT c.c_mktsegment AS segment, o.o_orderkey AS k,
         CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
),
kept AS (
  SELECT segment, b.b, k, cents
  FROM base CROSS JOIN (SELECT range AS b FROM range(16)) b
  WHERE ('0x' || substr(md5(CAST(k AS VARCHAR) || ':' || CAST(b.b AS VARCHAR)),
                        1, 1))::BIGINT % 2 = 0
),
med AS (
  SELECT segment, b, cents AS med FROM (
    SELECT segment, b, cents,
           ROW_NUMBER() OVER (PARTITION BY segment, b ORDER BY cents, k) AS rn,
           COUNT(*) OVER (PARTITION BY segment, b) AS nc
    FROM kept
  ) WHERE rn = (nc + 1) // 2
),
band AS (
  SELECT segment,
         MIN(CASE WHEN r = 2 THEN med END) AS lo_cents,
         MIN(CASE WHEN r = 15 THEN med END) AS hi_cents
  FROM (
    SELECT segment, med,
           ROW_NUMBER() OVER (PARTITION BY segment ORDER BY med, b) AS r
    FROM med
  ) GROUP BY 1
),
point AS (
  SELECT segment, n AS n_orders, cents AS median_cents FROM (
    SELECT segment, cents, k,
           ROW_NUMBER() OVER (PARTITION BY segment ORDER BY cents, k) AS rn,
           COUNT(*) OVER (PARTITION BY segment) AS n
    FROM base
  ) WHERE rn = (n + 1) // 2
)
SELECT p.segment,
       CAST(p.n_orders AS BIGINT) AS n_orders,
       CAST(p.median_cents AS BIGINT) AS median_cents,
       CAST(band.lo_cents AS BIGINT) AS lo_cents,
       CAST(band.hi_cents AS BIGINT) AS hi_cents
FROM point p JOIN band ON p.segment = band.segment
ORDER BY p.segment
"""

ORACLES["forecast_tournament"] = f"""
WITH census AS ({_WEEKLY_NATION_CENSUS}),
folds AS (
  SELECT nation, wk, cents,
         LAG(cents, 1) OVER w AS l1, LAG(cents, 2) OVER w AS l2,
         LAG(cents, 3) OVER w AS l3, LAG(cents, 4) OVER w AS l4
  FROM census WINDOW w AS (PARTITION BY nation ORDER BY wk)
),
errs AS (
  SELECT nation, wk,
         abs(cents - l1) AS e_naive,
         abs(cents - (l1 + l2 + l3 + l4) // 4) AS e_ma4,
         abs(cents - (2 * l1 - l2)) AS e_drift
  FROM folds WHERE l4 IS NOT NULL
),
long AS (
  SELECT nation, wk, method, err,
         LEAST(e_naive, e_ma4, e_drift) AS best,
         CAST(e_naive = LEAST(e_naive, e_ma4, e_drift) AS INT)
           + CAST(e_ma4 = LEAST(e_naive, e_ma4, e_drift) AS INT)
           + CAST(e_drift = LEAST(e_naive, e_ma4, e_drift) AS INT) AS nbest
  FROM errs, LATERAL (VALUES ('naive', e_naive), ('ma4', e_ma4),
                             ('drift', e_drift)) AS m(method, err)
)
SELECT nation, method,
       CAST(COUNT(*) AS BIGINT) AS n_folds,
       CAST(SUM(err) // COUNT(*) AS BIGINT) AS mae_cents,
       CAST(SUM(CASE WHEN err = best AND nbest = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS wins
FROM long GROUP BY 1, 2 ORDER BY 1, 2
"""

ORACLES["sequence_mining"] = """
WITH firsts AS (
  SELECT user_id, event_type, MIN(ts) AS t1, MAX(ts) AS tmax
  FROM events GROUP BY 1, 2
),
nu AS (SELECT COUNT(DISTINCT user_id) AS n FROM events),
pair_support AS (
  SELECT a.event_type || '>' || b.event_type AS pattern, 2 AS length,
         COUNT(DISTINCT a.user_id) AS support
  FROM firsts a JOIN firsts b ON a.user_id = b.user_id
  WHERE b.tmax > a.t1
  GROUP BY 1, 2
),
su AS (SELECT user_id, t1 FROM firsts WHERE event_type = 'signup'),
mid AS (
  SELECT e.user_id, e.event_type AS tb, MIN(e.ts) AS t2
  FROM events e JOIN su ON e.user_id = su.user_id
  WHERE e.ts > su.t1
  GROUP BY 1, 2
),
triple_support AS (
  SELECT 'signup>' || m.tb || '>' || f.event_type AS pattern, 3 AS length,
         COUNT(DISTINCT m.user_id) AS support
  FROM mid m JOIN firsts f ON m.user_id = f.user_id
  WHERE f.tmax > m.t2
  GROUP BY 1, 2
)
SELECT pattern, CAST(length AS INT) AS length,
       CAST(support AS BIGINT) AS support,
       CAST(support * 1000000 // (SELECT n FROM nu) AS BIGINT) AS support_ppm
FROM (SELECT * FROM pair_support UNION ALL SELECT * FROM triple_support)
ORDER BY support DESC, pattern
"""


# --------------------------------------------------------------------------
# Batch-5 mirrors (N198-N201): NDCG with inlined discount literals,
# bandit replay, diff-in-differences, runs test.
# --------------------------------------------------------------------------

# Identical literals to queries._NDCG_W_E9 (round(1e9/log2(pos+1)),
# pos 1..10) — the Benford convention: neither engine evaluates a log.
_NDCG_W_SQL = "[1000000000, 630929754, 500000000, 430676558, 386852807, 356207187, 333333333, 315464877, 301029996, 289064826]"

ORACLES["ndcg_eval"] = f"""
WITH t AS (
  SELECT doc_id, n_chars,
         list_distinct(string_split(text, ' ')) AS toks
  FROM documents WHERE text IS NOT NULL
),
probe AS (SELECT toks AS ptoks FROM t WHERE doc_id = 0),
graded AS (
  SELECT doc_id, n_chars,
         len(list_intersect(toks, ptoks)) AS inter,
         CASE WHEN (len(list_intersect(toks, ptoks)) * 1000000)
                   // (len(toks) + len(ptoks) - len(list_intersect(toks, ptoks)))
                   >= 300000 THEN 3
              WHEN (len(list_intersect(toks, ptoks)) * 1000000)
                   // (len(toks) + len(ptoks) - len(list_intersect(toks, ptoks)))
                   >= 150000 THEN 2
              WHEN (len(list_intersect(toks, ptoks)) * 1000000)
                   // (len(toks) + len(ptoks) - len(list_intersect(toks, ptoks)))
                   >= 50000 THEN 1
              ELSE 0 END AS grade
  FROM t CROSS JOIN probe WHERE doc_id <> 0
),
w AS (SELECT {_NDCG_W_SQL} AS wts),
ideal AS (
  SELECT SUM(CAST(grade AS BIGINT) * wts[pos]) AS idcg FROM (
    SELECT grade, ROW_NUMBER() OVER (ORDER BY grade DESC, doc_id) AS pos
    FROM graded ORDER BY grade DESC, doc_id LIMIT 10
  ), w
),
arm_overlap AS (
  SELECT SUM(CAST(grade AS BIGINT) * wts[pos]) AS dcg FROM (
    SELECT grade, ROW_NUMBER() OVER (ORDER BY inter DESC, doc_id) AS pos
    FROM graded ORDER BY inter DESC, doc_id LIMIT 10
  ), w
),
arm_length AS (
  SELECT SUM(CAST(grade AS BIGINT) * wts[pos]) AS dcg FROM (
    SELECT grade, ROW_NUMBER() OVER (ORDER BY n_chars DESC, doc_id) AS pos
    FROM graded ORDER BY n_chars DESC, doc_id LIMIT 10
  ), w
)
SELECT ranker,
       CAST(dcg AS BIGINT) AS dcg_e9,
       CAST(idcg AS BIGINT) AS idcg_e9,
       CAST(dcg * 1000000 // idcg AS BIGINT) AS ndcg_ppm
FROM (
  SELECT 'overlap' AS ranker, dcg FROM arm_overlap
  UNION ALL
  SELECT 'length', dcg FROM arm_length
), ideal
ORDER BY ranker
"""

ORACLES["bandit_replay"] = """
WITH arms AS (
  SELECT list_sort(list(DISTINCT event_type)) AS a FROM events
),
ev AS (
  SELECT e.event_type,
         CAST(CAST(e.value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         a.a[1 + CAST(('0x' || substr(md5(CAST(e.user_id AS VARCHAR) || ':' ||
             CAST(date_diff('day', DATE '1970-01-01', CAST(e.ts AS DATE)) // 7
                  AS VARCHAR)), 1, 8))::BIGINT % len(a.a) AS INT)] AS choice
  FROM events e CROSS JOIN arms a
),
long AS (
  SELECT 'logged' AS policy, COUNT(*) AS n_matched,
         COALESCE(SUM(cents), 0) AS reward_cents FROM ev
  UNION ALL
  SELECT 'md5', SUM(CASE WHEN event_type = choice THEN 1 ELSE 0 END),
         COALESCE(SUM(CASE WHEN event_type = choice THEN cents END), 0)
  FROM ev
  UNION ALL
  SELECT 'fixed:' || t.event_type, COUNT(*), COALESCE(SUM(cents), 0)
  FROM ev t GROUP BY t.event_type
)
SELECT policy, CAST(n_matched AS BIGINT) AS n_matched,
       CAST(reward_cents AS BIGINT) AS reward_cents,
       CAST(reward_cents // n_matched AS BIGINT) AS mean_reward_cents
FROM long ORDER BY policy
"""

ORACLES["diff_in_diff"] = f"""
WITH census AS ({_WEEKLY_NATION_CENSUS}),
marked AS (SELECT nation, wk, cents, wk >= 1461 AS post FROM census),
cells AS (
  SELECT nation,
         SUM(CASE WHEN NOT post THEN cents END) AS t_pre_c,
         SUM(CASE WHEN NOT post THEN 1 END) AS t_pre_w,
         SUM(CASE WHEN post THEN cents END) AS t_post_c,
         SUM(CASE WHEN post THEN 1 END) AS t_post_w
  FROM marked GROUP BY 1
),
grand AS (
  SELECT SUM(CASE WHEN NOT post THEN cents END) AS g_pre_c,
         SUM(CASE WHEN NOT post THEN 1 END) AS g_pre_w,
         SUM(CASE WHEN post THEN cents END) AS g_post_c,
         SUM(CASE WHEN post THEN 1 END) AS g_post_w
  FROM marked
),
m AS (
  SELECT nation,
         t_pre_c // t_pre_w AS treated_pre_cents,
         t_post_c // t_post_w AS treated_post_cents,
         (g_pre_c - t_pre_c) // (g_pre_w - t_pre_w) AS control_pre_cents,
         (g_post_c - t_post_c) // (g_post_w - t_post_w) AS control_post_cents
  FROM cells CROSS JOIN grand
)
SELECT nation,
       CAST(treated_pre_cents AS BIGINT) AS treated_pre_cents,
       CAST(treated_post_cents AS BIGINT) AS treated_post_cents,
       CAST(control_pre_cents AS BIGINT) AS control_pre_cents,
       CAST(control_post_cents AS BIGINT) AS control_post_cents,
       CAST((treated_post_cents - treated_pre_cents)
            - (control_post_cents - control_pre_cents) AS BIGINT) AS did_cents
FROM m ORDER BY nation
"""

ORACLES["runs_test"] = f"""
WITH census AS ({_WEEKLY_NATION_CENSUS}),
med AS (
  SELECT nation, cents AS med FROM (
    SELECT nation, cents,
           ROW_NUMBER() OVER (PARTITION BY nation ORDER BY cents, wk) AS rn,
           COUNT(*) OVER (PARTITION BY nation) AS n
    FROM census
  ) WHERE rn = (n + 1) // 2
),
signs AS (
  SELECT c.nation, c.wk, CAST(c.cents > m.med AS INT) AS s
  FROM census c JOIN med m ON c.nation = m.nation
),
runs AS (
  SELECT nation, s,
         CASE WHEN LAG(s) OVER w IS NULL OR s != LAG(s) OVER w
              THEN 1 ELSE 0 END AS new_run
  FROM signs WINDOW w AS (PARTITION BY nation ORDER BY wk)
),
agg AS (
  SELECT nation, SUM(s) AS n1, SUM(1 - s) AS n2, SUM(new_run) AS r
  FROM runs GROUP BY 1
)
SELECT nation,
       CAST(n1 AS BIGINT) AS n_above,
       CAST(n2 AS BIGINT) AS n_below,
       CAST(r AS BIGINT) AS runs,
       CAST(1000000 + (2 * n1 * n2 * 1000000 // (n1 + n2)) AS BIGINT)
         AS e_runs_ppm
FROM agg ORDER BY nation
"""


# --------------------------------------------------------------------------
# Batch-6 mirrors (N202-N204): Shapley data valuation, greedy max
# coverage (5 unrolled trajectory levels), Pocock sequential monitor.
# --------------------------------------------------------------------------

_SHINGLE_CENSUS = """
  SELECT DISTINCT source, shingle FROM (
    SELECT source, unnest(CASE WHEN text IS NULL THEN NULL
      ELSE list_distinct(list_transform(
        generate_series(1, greatest(len(str_split(text, ' ')) - 2, 1)),
        i -> array_to_string((str_split(text, ' '))[i:i+2], ' ')
      )) END) AS shingle
    FROM documents
  )
"""

ORACLES["source_shapley"] = f"""
WITH census AS ({_SHINGLE_CENSUS}),
mask_counts AS (
  SELECT mask, COUNT(*) AS cnt FROM (
    SELECT shingle,
           bit_or(1 << (CAST(substr(source, 4) AS INT) % 4)) AS mask
    FROM census GROUP BY shingle
  ) GROUP BY 1
),
coalitions AS (SELECT range AS S FROM range(16)),
v AS (
  SELECT S, SUM(CASE WHEN (mask & S) != 0 THEN cnt ELSE 0 END) AS v
  FROM coalitions CROSS JOIN mask_counts GROUP BY 1
),
spine AS (
  SELECT g, S, S | (1 << g) AS S_with,
         CASE bit_count(CAST(S AS BIGINT)) WHEN 0 THEN 3 WHEN 1 THEN 1
              WHEN 2 THEN 1 ELSE 3 END AS w12
  FROM (SELECT range AS g FROM range(4)) gs
  CROSS JOIN (SELECT range AS S FROM range(16)) ss
  WHERE (S & (1 << g)) = 0
),
phi AS (
  SELECT sp.g, SUM(sp.w12 * (vw.v - vs.v)) AS phi12
  FROM spine sp
  JOIN v vs ON vs.S = sp.S
  JOIN v vw ON vw.S = sp.S_with
  GROUP BY 1
)
SELECT CAST(p.g AS INT) AS source_group,
       CAST(p.phi12 AS BIGINT) AS shapley_x12,
       CAST(solo.v AS BIGINT) AS v_solo,
       CAST(grand.v AS BIGINT) AS v_grand
FROM phi p
JOIN v solo ON solo.S = (1 << p.g)
CROSS JOIN (SELECT v FROM v WHERE S = 15) grand
ORDER BY source_group
"""

ORACLES["max_coverage_select"] = f"""
WITH census AS ({_SHINGLE_CENSUS}),
g1 AS (SELECT source, COUNT(*) AS gain FROM census GROUP BY 1),
p1 AS (SELECT source, gain FROM g1 ORDER BY gain DESC, source LIMIT 1),
c1 AS (SELECT DISTINCT shingle FROM census
       WHERE source IN (SELECT source FROM p1)),
g2 AS (SELECT source, COUNT(*) AS gain FROM census
       WHERE source NOT IN (SELECT source FROM p1)
         AND shingle NOT IN (SELECT shingle FROM c1) GROUP BY 1),
p2 AS (SELECT source, gain FROM g2 ORDER BY gain DESC, source LIMIT 1),
c2 AS (SELECT shingle FROM c1 UNION
       SELECT shingle FROM census WHERE source IN (SELECT source FROM p2)),
g3 AS (SELECT source, COUNT(*) AS gain FROM census
       WHERE source NOT IN (SELECT source FROM p1 UNION SELECT source FROM p2)
         AND shingle NOT IN (SELECT shingle FROM c2) GROUP BY 1),
p3 AS (SELECT source, gain FROM g3 ORDER BY gain DESC, source LIMIT 1),
c3 AS (SELECT shingle FROM c2 UNION
       SELECT shingle FROM census WHERE source IN (SELECT source FROM p3)),
g4 AS (SELECT source, COUNT(*) AS gain FROM census
       WHERE source NOT IN (SELECT source FROM p1 UNION SELECT source FROM p2
                            UNION SELECT source FROM p3)
         AND shingle NOT IN (SELECT shingle FROM c3) GROUP BY 1),
p4 AS (SELECT source, gain FROM g4 ORDER BY gain DESC, source LIMIT 1),
c4 AS (SELECT shingle FROM c3 UNION
       SELECT shingle FROM census WHERE source IN (SELECT source FROM p4)),
g5 AS (SELECT source, COUNT(*) AS gain FROM census
       WHERE source NOT IN (SELECT source FROM p1 UNION SELECT source FROM p2
                            UNION SELECT source FROM p3 UNION SELECT source FROM p4)
         AND shingle NOT IN (SELECT shingle FROM c4) GROUP BY 1),
p5 AS (SELECT source, gain FROM g5 ORDER BY gain DESC, source LIMIT 1),
picks AS (
  SELECT 1 AS pick_order, source, gain FROM p1
  UNION ALL SELECT 2, source, gain FROM p2
  UNION ALL SELECT 3, source, gain FROM p3
  UNION ALL SELECT 4, source, gain FROM p4
  UNION ALL SELECT 5, source, gain FROM p5
)
SELECT CAST(pick_order AS INT) AS pick_order, source,
       CAST(gain AS BIGINT) AS gain,
       CAST(SUM(gain) OVER (ORDER BY pick_order) AS BIGINT) AS covered_total
FROM picks ORDER BY pick_order
"""

ORACLES["pocock_monitor"] = """
WITH ev AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1))::BIGINT % 2
           AS arm,
         CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv
  FROM events
),
weekly AS (
  SELECT wk, arm, SUM(conv) AS c, SUM(1 - conv) AS nc
  FROM ev GROUP BY 1, 2
),
cum AS (
  SELECT wk, arm,
         SUM(c) OVER (PARTITION BY arm ORDER BY wk) AS cc,
         SUM(nc) OVER (PARTITION BY arm ORDER BY wk) AS cnc
  FROM weekly
),
looks AS (
  SELECT CAST(DENSE_RANK() OVER (ORDER BY a.wk) AS INT) AS look, a.wk,
         a.cc AS a_conv, a.cnc AS a_nonconv,
         b.cc AS b_conv, b.cnc AS b_nonconv
  FROM (SELECT * FROM cum WHERE arm = 0) a
  JOIN (SELECT * FROM cum WHERE arm = 1) b ON a.wk = b.wk
)
SELECT look, wk,
       CAST(a_conv AS BIGINT) AS a_conv,
       CAST(a_nonconv AS BIGINT) AS a_nonconv,
       CAST(b_conv AS BIGINT) AS b_conv,
       CAST(b_nonconv AS BIGINT) AS b_nonconv,
       CAST(CAST(
         (CAST((a_conv * b_nonconv - a_nonconv * b_conv) AS DOUBLE)
          * (a_conv * b_nonconv - a_nonconv * b_conv)
          * (a_conv + a_nonconv + b_conv + b_nonconv))
         / (CAST((a_conv + a_nonconv) AS DOUBLE) * (b_conv + b_nonconv)
            * (a_conv + b_conv) * (a_nonconv + b_nonconv))
         > 5.822569 AS INT) AS INT) AS crossed
FROM looks ORDER BY look
"""


# --------------------------------------------------------------------------
# Batch-7 mirrors (N205-N206): SRE burn-rate alerting, incident MTTR/MTBF.
# --------------------------------------------------------------------------

ORACLES["burn_rate_alerts"] = """
WITH ev AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS err
  FROM events
),
daily AS (
  SELECT day, SUM(err) AS e1, COUNT(*) AS t1 FROM ev GROUP BY 1
),
spans AS (
  SELECT day, e1, t1,
         SUM(e1) OVER w AS e7, SUM(t1) OVER w AS t7
  FROM daily
  WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
),
rated AS (
  SELECT day, e1, t1, e7, t7,
         e1 * 1000000000 // (t1 * 200000) AS b1,
         e7 * 1000000000 // (t7 * 200000) AS b7
  FROM spans
)
SELECT CAST(day AS BIGINT) AS day,
       CAST(e1 AS BIGINT) AS err_1d, CAST(t1 AS BIGINT) AS tot_1d,
       CAST(e7 AS BIGINT) AS err_7d, CAST(t7 AS BIGINT) AS tot_7d,
       CAST(b1 AS BIGINT) AS burn_1d_milli,
       CAST(b7 AS BIGINT) AS burn_7d_milli,
       CAST(CASE WHEN b1 >= 2000 AND b7 >= 2000 THEN 1 ELSE 0 END AS INT)
         AS page_alert,
       CAST(CASE WHEN b1 >= 1000 AND b7 >= 1000 THEN 1 ELSE 0 END AS INT)
         AS ticket_alert
FROM rated ORDER BY day
"""

ORACLES["incident_metrics"] = """
WITH base AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         date_diff('second', TIMESTAMP '1990-01-01', ts) AS s,
         event_id
  FROM events WHERE event_type = 'error'
),
marked AS (
  SELECT day, s, event_id,
         CASE WHEN LAG(s) OVER w IS NULL OR s - LAG(s) OVER w > 600
              THEN 1 ELSE 0 END AS new_inc
  FROM base WINDOW w AS (PARTITION BY day ORDER BY s, event_id)
),
numbered AS (
  SELECT day, s,
         SUM(new_inc) OVER (PARTITION BY day ORDER BY s, event_id
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS inc
  FROM marked
),
incidents AS (
  SELECT day, inc, MIN(s) AS start_s, MAX(s) AS end_s, COUNT(*) AS n_ev
  FROM numbered GROUP BY 1, 2
),
weekly AS (
  SELECT day // 7 AS wk, COUNT(*) AS n_inc, SUM(n_ev) AS n_err,
         SUM(end_s - start_s) AS down
  FROM incidents GROUP BY 1
)
SELECT CAST(wk AS BIGINT) AS wk,
       CAST(n_inc AS BIGINT) AS n_incidents,
       CAST(n_err AS BIGINT) AS n_error_events,
       CAST(down AS BIGINT) AS downtime_s,
       CAST(down // n_inc AS BIGINT) AS mttr_s,
       CAST(604800 // n_inc AS BIGINT) AS mtbf_s
FROM weekly ORDER BY wk
"""


# --------------------------------------------------------------------------
# Batch-8 mirrors (N207-N209): streaming MERGE (shares the batch upsert
# oracle — kappa parity), join-order audit, restatement audit.
# --------------------------------------------------------------------------

ORACLES["stream_upsert"] = ORACLES["upsert"]

ORACLES["join_order_audit"] = """
WITH of AS (SELECT * FROM orders WHERE o_orderstatus = 'F'),
counts AS (
  SELECT 'fact_first_late_filter' AS plan,
         (SELECT COUNT(*) FROM orders o JOIN customer c
            ON o.o_custkey = c.c_custkey) AS intermediate_rows,
         (SELECT COUNT(*) FROM of o JOIN customer c
            ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey) AS final_rows
  UNION ALL
  SELECT 'fact_first_pushed',
         (SELECT COUNT(*) FROM of o JOIN customer c
            ON o.o_custkey = c.c_custkey),
         (SELECT COUNT(*) FROM of o JOIN customer c
            ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey)
  UNION ALL
  SELECT 'dim_first_late_filter',
         (SELECT COUNT(*) FROM customer c JOIN nation n
            ON c.c_nationkey = n.n_nationkey),
         (SELECT COUNT(*) FROM of o JOIN customer c
            ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey)
  UNION ALL
  SELECT 'dim_first_pushed',
         (SELECT COUNT(*) FROM customer c JOIN nation n
            ON c.c_nationkey = n.n_nationkey),
         (SELECT COUNT(*) FROM of o JOIN customer c
            ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey)
)
SELECT plan, CAST(intermediate_rows AS BIGINT) AS intermediate_rows,
       CAST(final_rows AS BIGINT) AS final_rows
FROM counts ORDER BY plan
"""

ORACLES["restatement_audit"] = """
WITH li AS (
  SELECT l_orderkey,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
         CAST(l_shipdate AS DATE) AS ship
  FROM lineitem
),
o AS (
  SELECT o_orderkey,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) // 7
           AS wk
  FROM orders
),
agg AS (
  SELECT o.wk,
         SUM(CASE WHEN li.ship <= DATE '1996-01-01' THEN li.cents ELSE 0 END)
           AS k1,
         SUM(CASE WHEN li.ship <= DATE '1997-01-01' THEN li.cents ELSE 0 END)
           AS k2,
         SUM(li.cents) AS fin
  FROM li JOIN o ON li.l_orderkey = o.o_orderkey
  GROUP BY 1
)
SELECT CAST(wk AS BIGINT) AS wk,
       CAST(k1 AS BIGINT) AS known_1996_cents,
       CAST(k2 AS BIGINT) AS known_1997_cents,
       CAST(fin AS BIGINT) AS final_cents,
       CAST(fin - k1 AS BIGINT) AS restated_since_1996_cents
FROM agg ORDER BY wk
"""


# Batch-9 mirror (N210): CEP pattern match — sequence + window + negation.
ORACLES["cep_pattern_match"] = """
WITH base AS (
  SELECT user_id, event_type,
         date_diff('second', TIMESTAMP '1990-01-01', ts) AS s,
         event_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk
  FROM events
),
sign AS (
  SELECT user_id AS u, s AS ss, event_id AS sid, wk
  FROM base WHERE event_type = 'signup'
),
first_p AS (
  SELECT sg.u, sg.sid, sg.ss, sg.wk, MIN(p.s) AS fp
  FROM sign sg JOIN base p
    ON p.user_id = sg.u AND p.event_type = 'purchase'
   AND p.s > sg.ss AND p.s <= sg.ss + 600
  GROUP BY 1, 2, 3, 4
),
vetoed AS (
  SELECT f.sid,
         MAX(CASE WHEN e.s IS NOT NULL AND e.s > f.ss AND e.s < f.fp
                  THEN 1 ELSE 0 END) AS veto
  FROM first_p f
  LEFT JOIN base e ON e.user_id = f.u AND e.event_type = 'error'
  GROUP BY 1
),
per_signup AS (
  SELECT sg.wk,
         CASE WHEN v.veto = 0 THEN 1 ELSE 0 END AS m,
         CASE WHEN v.veto = 1 THEN 1 ELSE 0 END AS vt
  FROM sign sg LEFT JOIN vetoed v ON v.sid = sg.sid
)
SELECT CAST(wk AS BIGINT) AS wk,
       CAST(COUNT(*) AS BIGINT) AS n_signups,
       CAST(SUM(m) AS BIGINT) AS n_matched,
       CAST(SUM(vt) AS BIGINT) AS n_vetoed,
       CAST(SUM(m) * 1000000 // COUNT(*) AS BIGINT) AS match_ppm
FROM per_signup GROUP BY 1 ORDER BY 1
"""


# --------------------------------------------------------------------------
# Batch-10 mirrors (N211-N212): t-closeness, four-fifths fairness audit.
# --------------------------------------------------------------------------

ORACLES["t_closeness_audit"] = """
WITH base AS (
  SELECT n.n_name AS nation, c.c_mktsegment AS seg
  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
),
cell AS (SELECT nation, seg, COUNT(*) AS cnt FROM base GROUP BY 1, 2),
gseg AS (SELECT seg, COUNT(*) AS gc FROM base GROUP BY 1),
tot AS (SELECT COUNT(*) AS tt FROM base),
grp AS (SELECT nation, COUNT(*) AS n FROM base GROUP BY 1),
lattice AS (
  SELECT g.nation, g.n, gl.seg, gl.gc, t.tt
  FROM grp g CROSS JOIN gseg gl CROSS JOIN tot t
),
full_l AS (
  SELECT l.nation, l.n, l.tt,
         abs(COALESCE(c.cnt, 0) * l.tt - l.gc * l.n) AS term
  FROM lattice l LEFT JOIN cell c ON c.nation = l.nation AND c.seg = l.seg
)
SELECT nation,
       CAST(n AS BIGINT) AS n_rows,
       CAST(SUM(term) * 1000000 // (2 * n * tt) AS BIGINT) AS t_ppm
FROM full_l GROUP BY nation, n, tt ORDER BY nation
"""

ORACLES["gate_fairness_audit"] = """
WITH census AS (
  SELECT lang, COUNT(*) AS n,
         SUM(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS p
  FROM documents WHERE text IS NOT NULL GROUP BY 1
),
best AS (
  SELECT lang AS bl, n AS bn, p AS bp FROM census
  ORDER BY -(p * 1000000 // n) ASC, lang ASC LIMIT 1
)
SELECT c.lang,
       CAST(c.n AS BIGINT) AS n_docs,
       CAST(c.p AS BIGINT) AS n_pass,
       CAST(c.p * 1000000 // c.n AS BIGINT) AS pass_ppm,
       b.bl AS best_lang,
       CAST(CASE WHEN c.p * b.bn * 5 >= b.bp * c.n * 4 THEN 1 ELSE 0 END
            AS INT) AS four_fifths_ok
FROM census c CROSS JOIN best b
ORDER BY c.lang
"""


# --------------------------------------------------------------------------
# Batch-11 mirrors (N213-N214): SRM guardrail, CUPED adjustment.
# --------------------------------------------------------------------------

ORACLES["srm_check"] = """
WITH ev AS (
  SELECT date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk,
         user_id,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1))::BIGINT % 2
           AS arm
  FROM events
),
weekly AS (
  SELECT wk, arm, COUNT(DISTINCT user_id) AS u FROM ev GROUP BY 1, 2
)
SELECT a.wk,
       CAST(a.u AS BIGINT) AS users_a,
       CAST(b.u AS BIGINT) AS users_b,
       CAST(CASE WHEN (a.u - b.u) * (a.u - b.u) * 1000 > 3841 * (a.u + b.u)
                 THEN 1 ELSE 0 END AS INT) AS srm_flag
FROM (SELECT * FROM weekly WHERE arm = 0) a
JOIN (SELECT * FROM weekly WHERE arm = 1) b ON a.wk = b.wk
ORDER BY a.wk
"""

ORACLES["cuped_adjustment"] = """
WITH ev AS (
  SELECT user_id,
         date_diff('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7 AS wk,
         CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM events WHERE event_type = 'purchase'
),
w0 AS (SELECT MIN(wk) AS w0 FROM ev),
per_user AS (
  SELECT e.user_id,
         SUM(CASE WHEN e.wk = w.w0 THEN e.cents ELSE 0 END) AS x,
         SUM(CASE WHEN e.wk > w.w0 THEN e.cents ELSE 0 END) AS y,
         ('0x' || substr(md5(CAST(e.user_id AS VARCHAR)), 1, 1))::BIGINT % 2
           AS arm
  FROM ev e CROSS JOIN w0 w
  GROUP BY e.user_id
),
mom AS (
  SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy,
         SUM(x * y) AS sxy, SUM(x * x) AS sxx,
         (COUNT(*) * SUM(x * y) - SUM(x) * SUM(y)) * 1000000
           // (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)) AS theta_ppm
  FROM per_user
),
arm AS (
  SELECT arm, COUNT(*) AS na, SUM(x) AS ax, SUM(y) AS ay
  FROM per_user GROUP BY 1
)
SELECT CAST(a.arm AS INT) AS arm,
       CAST(a.na AS BIGINT) AS n_users,
       CAST(a.ay * 1000 // a.na AS BIGINT) AS raw_mean_millicents,
       CAST(m.theta_ppm AS BIGINT) AS theta_ppm,
       CAST((a.ay * 1000 // a.na)
            - (m.theta_ppm * ((a.ax * 1000 // a.na) - (m.sx * 1000 // m.n))
               // 1000000) AS BIGINT) AS adj_mean_millicents
FROM arm a CROSS JOIN mom m
ORDER BY arm
"""


# Batch-11 mirror (N215): quantile treatment effects.
ORACLES["quantile_treatment_effects"] = """
WITH per_user AS (
  SELECT user_id,
         CAST(SUM(CAST(value AS DECIMAL(18,2))) * 100 AS BIGINT) AS cents,
         ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 1))::BIGINT % 2
           AS arm
  FROM events WHERE event_type = 'purchase'
  GROUP BY user_id
),
ranked AS (
  SELECT arm, cents,
         ROW_NUMBER() OVER (PARTITION BY arm ORDER BY cents, user_id) AS rn,
         COUNT(*) OVER (PARTITION BY arm) AS n
  FROM per_user
),
dec AS (
  SELECT p.pct, r.arm, r.cents AS v
  FROM (SELECT UNNEST([10,20,30,40,50,60,70,80,90]) AS pct) p
  JOIN ranked r ON r.rn = (p.pct * r.n + 99) // 100
)
SELECT CAST(a.pct AS INT) AS pct,
       CAST(a.v AS BIGINT) AS control_cents,
       CAST(b.v AS BIGINT) AS treat_cents,
       CAST(b.v - a.v AS BIGINT) AS qte_cents
FROM (SELECT * FROM dec WHERE arm = 0) a
JOIN (SELECT * FROM dec WHERE arm = 1) b ON a.pct = b.pct
ORDER BY a.pct
"""


# Batch-11 mirror (N216): composed experiment health report — the
# member oracles composed the same way the engine composes the plans.
ORACLES["experiment_report"] = f"""
WITH s AS ({ORACLES["srm_check"]}),
p AS ({ORACLES["pocock_monitor"]})
SELECT s.wk, p.look, s.users_a, s.users_b, s.srm_flag,
       p.a_conv, p.a_nonconv, p.b_conv, p.b_nonconv,
       p.crossed AS effect_crossed,
       CAST(CASE WHEN p.crossed = 1 AND s.srm_flag = 0 THEN 1 ELSE 0 END
            AS INT) AS verdict_valid
FROM s JOIN p ON s.wk = p.wk
ORDER BY s.wk
"""


# Batch-12 mirror (N217): inverted-index build — postings capped at
# top-8 (tf DESC, doc_id) per term, hapax (df=1) dropped.
ORACLES["inverted_index"] = """
WITH tok AS (
  SELECT doc_id, t.term
  FROM documents, UNNEST(string_split(text, ' ')) AS t(term)
  WHERE text IS NOT NULL AND t.term <> ''
),
td AS (
  SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
  FROM tok GROUP BY 1, 2
),
ranked AS (
  SELECT term, doc_id, tf,
         ROW_NUMBER() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn
  FROM td
),
agg AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         CAST(SUM(tf) AS BIGINT) AS total_tf
  FROM td GROUP BY 1
),
post AS (
  SELECT term,
         STRING_AGG(doc_id || ':' || tf, ',' ORDER BY tf DESC, doc_id)
           AS postings
  FROM ranked WHERE rn <= 8 GROUP BY 1
)
SELECT a.term, a.df, a.total_tf, p.postings
FROM agg a JOIN post p USING (term)
WHERE a.df >= 2
ORDER BY a.df DESC, a.term
"""


# Batch-12 mirror (N218): Fellegi–Sunter linkage — overlapping
# two-pass balance-band blocking, integer milli-log-odds weights.
ORACLES["entity_resolution"] = """
WITH c AS (
  SELECT c_custkey, c_nationkey, c_mktsegment,
         CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM customer
),
blocked AS (
  SELECT c.*, p.pass,
         CASE WHEN p.pass = 0 THEN cents // 50000
              ELSE (cents + 25000) // 50000 END AS band
  FROM c, (SELECT UNNEST([0, 1]) AS pass) p
),
pairs AS (
  SELECT DISTINCT
         a.c_custkey AS key_a, b.c_custkey AS key_b,
         a.c_nationkey AS nat,
         a.c_mktsegment AS seg_a, b.c_mktsegment AS seg_b,
         a.cents AS cents_a, b.cents AS cents_b
  FROM blocked a JOIN blocked b
    ON a.c_nationkey = b.c_nationkey AND a.pass = b.pass
   AND a.band = b.band AND a.c_custkey < b.c_custkey
),
scored AS (
  SELECT key_a, key_b, CAST(nat AS BIGINT) AS nationkey,
         CAST((CASE WHEN seg_a = seg_b THEN 1609 ELSE -223 END)
            + (CASE WHEN ABS(cents_a - cents_b) <= 10000 THEN 2303
                    ELSE -105 END)
            + (CASE WHEN cents_a % 100 = cents_b % 100 THEN 2996
                    ELSE -51 END) AS BIGINT) AS score_milli
  FROM pairs
)
SELECT key_a, key_b, nationkey, score_milli,
       CASE WHEN score_milli >= 4000 THEN 'MATCH'
            ELSE 'POSSIBLE' END AS tier
FROM scored
WHERE score_milli >= 1000
ORDER BY score_milli DESC, key_a, key_b
"""


# Batch-12 mirror (N219): multi-source BFS — 3 unrolled frontier
# expansions from the top-3 degree hubs, distance = MIN hop.
ORACLES["bfs_distances"] = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
pairs AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM pairs UNION ALL SELECT v AS u, u AS v FROM pairs
  )
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
seeds AS (SELECT u FROM deg ORDER BY deg DESC, u LIMIT 3),
h0 AS (SELECT u AS node FROM seeds),
h1 AS (SELECT DISTINCT e.v AS node FROM edges e JOIN h0 ON e.u = h0.node),
h2 AS (SELECT DISTINCT e.v AS node FROM edges e JOIN h1 ON e.u = h1.node),
h3 AS (SELECT DISTINCT e.v AS node FROM edges e JOIN h2 ON e.u = h2.node),
allh AS (
  SELECT node, 0 AS hop FROM h0
  UNION ALL SELECT node, 1 FROM h1
  UNION ALL SELECT node, 2 FROM h2
  UNION ALL SELECT node, 3 FROM h3
),
dist AS (SELECT node, CAST(MIN(hop) AS BIGINT) AS hop FROM allh GROUP BY 1)
SELECT d.node AS part, d.hop, g.deg AS degree
FROM dist d JOIN deg g ON g.u = d.node
ORDER BY d.hop, d.node
"""


# Batch-13 mirror (N220): isotonic (PAV) fit via the minimax identity
# over the quality_calibration decile census — composes the member
# oracle, range means one truncating division each.
ORACLES["isotonic_calibration"] = f"""
WITH cal AS ({ORACLES["quality_calibration"]}),
c AS (
  SELECT decile, n_docs, n_gopher_pass, pass_rate_ppm,
         SUM(n_docs) OVER (ORDER BY decile) AS cn,
         SUM(n_gopher_pass) OVER (ORDER BY decile) AS cp
  FROM cal
),
ranges AS (
  SELECT j.decile AS jd, k.decile AS kd,
         (k.cp - j.cp + j.n_gopher_pass) * 1000000
           // (k.cn - j.cn + j.n_docs) AS mean_ppm
  FROM c j JOIN c k ON j.decile <= k.decile
),
inner_min AS (
  SELECT i.decile AS i, r.jd, MIN(r.mean_ppm) AS mn
  FROM c i JOIN ranges r ON r.jd <= i.decile AND i.decile <= r.kd
  GROUP BY 1, 2
),
iso AS (SELECT i, CAST(MAX(mn) AS BIGINT) AS iso_rate_ppm FROM inner_min GROUP BY 1)
SELECT c.decile, c.n_docs,
       c.pass_rate_ppm AS raw_rate_ppm,
       iso.iso_rate_ppm,
       CAST(CASE WHEN iso.iso_rate_ppm <> c.pass_rate_ppm THEN 1 ELSE 0 END
            AS INT) AS pooled
FROM c JOIN iso ON iso.i = c.decile
ORDER BY c.decile
"""


# Batch-13 mirror (N221): Kaplan-Meier product-limit — the hazard
# census folded by a recursive CTE, one truncating division per week.
ORACLES["km_survival"] = f"""
WITH RECURSIVE haz AS ({ORACLES["hazard_weekly"]}),
ord_ AS (
  SELECT week_k, at_risk, n_churned, n_censored, hazard_ppm,
         ROW_NUMBER() OVER (ORDER BY week_k) AS rn
  FROM haz
),
km AS (
  SELECT rn, week_k, at_risk, n_churned, n_censored, hazard_ppm,
         (1000000 * (at_risk - n_churned)) // at_risk AS s
  FROM ord_ WHERE rn = 1
  UNION ALL
  SELECT o.rn, o.week_k, o.at_risk, o.n_churned, o.n_censored, o.hazard_ppm,
         (km.s * (o.at_risk - o.n_churned)) // o.at_risk
  FROM ord_ o JOIN km ON o.rn = km.rn + 1
)
SELECT week_k, at_risk, n_churned, n_censored, hazard_ppm,
       CAST(s AS BIGINT) AS survival_ppm
FROM km ORDER BY week_k
"""


# Batch-13 mirror (N222): order-vs-lineitem money reconciliation in
# exact BIGINT micros (cents x (100-disc_pct) x (100+tax_pct)).
ORACLES["order_reconciliation"] = """
WITH li AS (
  SELECT l_orderkey,
         SUM(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
             * (100 + CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT)))
           AS calc
  FROM lineitem GROUP BY 1
),
o AS (
  SELECT o_orderkey, o_orderstatus,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000
           AS total
  FROM orders
),
j AS (
  SELECT o.o_orderstatus, li.calc, o.total, li.calc - o.total AS delta
  FROM o LEFT JOIN li ON o.o_orderkey = li.l_orderkey
)
SELECT o_orderstatus,
       CAST(COUNT(*) AS BIGINT) AS n_orders,
       CAST(SUM(CASE WHEN calc IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_no_lines,
       CAST(SUM(CASE WHEN delta <> 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_mismatch,
       CAST(SUM(CASE WHEN delta <> 0 THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS mismatch_ppm,
       CAST(MAX(ABS(delta)) AS BIGINT) AS max_abs_delta_micros
FROM j GROUP BY 1 ORDER BY o_orderstatus
"""


# Batch-14 mirror (N223): Heaps'-law vocabulary growth per source —
# first-rank term census + window cumulatives, ceil-decile checkpoints.
ORACLES["vocab_growth"] = """
WITH d AS (
  SELECT source, doc_id, string_split(text, ' ') AS toks,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS r
  FROM documents WHERE text IS NOT NULL
),
ntok AS (
  SELECT source, r, CAST(len(toks) AS BIGINT) AS ntok FROM d
),
fr AS (
  SELECT source, term, MIN(r) AS fr FROM (
    SELECT d.source, d.r, t.term
    FROM d, UNNEST(d.toks) AS t(term) WHERE t.term <> ''
  ) GROUP BY 1, 2
),
newt AS (
  SELECT source, fr AS r, CAST(COUNT(*) AS BIGINT) AS nt FROM fr GROUP BY 1, 2
),
census AS (
  SELECT n.source, n.r, n.ntok, COALESCE(w.nt, 0) AS nt
  FROM ntok n LEFT JOIN newt w ON w.source = n.source AND w.r = n.r
),
cums AS (
  SELECT source, r,
         SUM(ntok) OVER (PARTITION BY source ORDER BY r) AS cum_tokens,
         SUM(nt) OVER (PARTITION BY source ORDER BY r) AS cum_vocab
  FROM census
),
nd AS (SELECT source, MAX(r) AS n FROM census GROUP BY 1),
cp AS (
  SELECT nd.source, g.decile, (g.decile * nd.n + 9) // 10 AS r
  FROM nd, (SELECT UNNEST(generate_series(1, 10)) AS decile) g
)
SELECT cp.source, CAST(cp.decile AS BIGINT) AS decile,
       CAST(cp.r AS BIGINT) AS n_docs,
       CAST(c.cum_tokens AS BIGINT) AS cum_tokens,
       CAST(c.cum_vocab AS BIGINT) AS cum_vocab
FROM cp JOIN cums c ON c.source = cp.source AND c.r = cp.r
ORDER BY cp.source, cp.decile
"""


# Batch-14 mirror (N224): per-user 1-hour RANGE-frame burst peak with
# earliest-second tie-break via (-burst, sec) struct-min semantics.
ORACLES["burst_detection"] = """
WITH e AS (
  SELECT user_id,
         date_diff('second', TIMESTAMP '1990-01-01', ts) AS sec
  FROM events
),
b AS (
  SELECT user_id, sec,
         COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
                        RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW)
           AS burst
  FROM e
),
pk AS (
  SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(MAX(burst) AS BIGINT) AS max_burst_1h,
         CAST(MIN(CASE WHEN burst = mx THEN sec END) AS BIGINT) AS peak_sec
  FROM (SELECT *, MAX(burst) OVER (PARTITION BY user_id) AS mx FROM b)
  GROUP BY user_id
)
SELECT user_id, n_events, max_burst_1h, peak_sec
FROM pk WHERE max_burst_1h >= 2
ORDER BY max_burst_1h DESC, user_id
"""


# Batch-14 mirror (N225): weekly OHLC candles per nation — open/close
# via (day, orderkey, cents) struct MIN/MAX, exact BIGINT cents.
ORACLES["weekly_ohlc"] = """
WITH o AS (
  SELECT o_custkey,
         strftime(CAST(date_trunc('week', o_orderdate) AS DATE), '%Y-%m-%d')
           AS week,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day_,
         o_orderkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
j AS (
  SELECT n.n_name AS nation, o.week, o.day_, o.o_orderkey, o.cents
  FROM o JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
),
r AS (
  SELECT nation, week, cents,
         ROW_NUMBER() OVER (PARTITION BY nation, week
                            ORDER BY day_, o_orderkey, cents) AS rn_a,
         ROW_NUMBER() OVER (PARTITION BY nation, week
                            ORDER BY day_ DESC, o_orderkey DESC, cents DESC)
           AS rn_z
  FROM j
)
SELECT nation, week,
       CAST(MIN(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open_cents,
       CAST(MAX(cents) AS BIGINT) AS high_cents,
       CAST(MIN(cents) AS BIGINT) AS low_cents,
       CAST(MIN(CASE WHEN rn_z = 1 THEN cents END) AS BIGINT) AS close_cents,
       CAST(SUM(cents) AS BIGINT) AS volume_cents,
       CAST(COUNT(*) AS BIGINT) AS n_orders
FROM r GROUP BY nation, week
ORDER BY nation, week
"""


# Batch-15 mirror (N226): seed-based common-neighbor link prediction
# — seed-bounded wedge census, anti-join vs edges, per-seed top-3.
ORACLES["link_prediction"] = """
WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
p AS (
  SELECT a.l_partkey AS u, b.l_partkey AS v
  FROM li a JOIN li b
    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
),
edges AS (
  SELECT DISTINCT u, v FROM (
    SELECT u, v FROM p UNION ALL SELECT v AS u, u AS v FROM p
  )
),
deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS deg FROM edges GROUP BY 1),
seeds AS (SELECT u AS a FROM deg ORDER BY deg DESC, u LIMIT 20),
ea AS (SELECT s.a, e.v AS w FROM edges e JOIN seeds s ON e.u = s.a),
wedges AS (
  SELECT ea.a, e2.v AS b, CAST(COUNT(*) AS BIGINT) AS common
  FROM ea JOIN edges e2 ON e2.u = ea.w
  WHERE e2.v <> ea.a
  GROUP BY 1, 2
),
cand AS (
  SELECT w.* FROM wedges w
  WHERE NOT EXISTS (
    SELECT 1 FROM edges e WHERE e.u = w.a AND e.v = w.b
  )
),
scored AS (
  SELECT c.a, c.b, c.common,
         CAST(c.common * 1000000 // (da.deg + db.deg - c.common) AS BIGINT)
           AS jaccard_ppm,
         ROW_NUMBER() OVER (PARTITION BY c.a
                            ORDER BY c.common DESC, c.b) AS rank
  FROM cand c JOIN deg da ON da.u = c.a JOIN deg db ON db.u = c.b
)
SELECT a AS seed_part, CAST(rank AS BIGINT) AS rank, b AS candidate_part,
       common AS common_neighbors, jaccard_ppm
FROM scored WHERE rank <= 3
ORDER BY seed_part, rank
"""


# Batch-15 mirror (N227): business-day SLA compliance — closed-form
# weekend-skipping deadline on epoch days, per-priority census.
ORACLES["sla_compliance"] = """
WITH o AS (
  SELECT o_orderkey, o_orderpriority,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE)) AS d0,
         CASE o_orderpriority
           WHEN '1-URGENT' THEN 3 WHEN '2-HIGH' THEN 5
           WHEN '3-MEDIUM' THEN 10 WHEN '4-NOT SPECIFIED' THEN 15
           ELSE 20 END AS sla
  FROM orders
),
j AS (
  SELECT o.o_orderpriority, o.d0, o.sla,
         date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
           AS ship
  FROM lineitem l JOIN o ON l.l_orderkey = o.o_orderkey
),
s AS (
  SELECT o_orderpriority, ship, sla,
         d0 + (CASE (d0 + 3) % 7 WHEN 5 THEN 2 WHEN 6 THEN 1 ELSE 0 END)
           AS start
  FROM j
),
dl AS (
  SELECT o_orderpriority, ship,
         start + (sla // 5) * 7 + (sla % 5)
           + (CASE WHEN (start + 3) % 7 + (sla % 5) >= 5 THEN 2 ELSE 0 END)
           AS deadline
  FROM s
)
SELECT o_orderpriority AS priority,
       CAST(COUNT(*) AS BIGINT) AS n_lines,
       CAST(SUM(CASE WHEN ship > deadline THEN 1 ELSE 0 END) AS BIGINT)
         AS n_breach,
       CAST(SUM(CASE WHEN ship > deadline THEN 1 ELSE 0 END) * 1000000
            // COUNT(*) AS BIGINT) AS breach_ppm,
       CAST(MAX(GREATEST(ship - deadline, 0)) AS BIGINT) AS max_overrun_days
FROM dl GROUP BY 1 ORDER BY priority
"""


# Batch-15 mirror (N228): repeat-payment screen — (custkey, R$1,000
# band) groups, consecutive-gap lag, <=7-day suspicion flag.
ORACLES["duplicate_payments"] = """
WITH o AS (
  SELECT o_custkey,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) // 100000
           AS band,
         date_diff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))
           AS day_,
         o_orderkey
  FROM orders
),
g AS (
  SELECT o_custkey, band,
         day_ - LAG(day_) OVER (PARTITION BY o_custkey, band
                                ORDER BY day_, o_orderkey) AS gap
  FROM o
),
a AS (
  SELECT o_custkey, band,
         CAST(COUNT(*) AS BIGINT) AS n_orders,
         CAST(MIN(gap) AS BIGINT) AS min_gap_days
  FROM g GROUP BY 1, 2 HAVING COUNT(*) >= 2
)
SELECT o_custkey AS custkey, band AS amount_band, n_orders, min_gap_days,
       CAST(CASE WHEN min_gap_days <= 7 THEN 1 ELSE 0 END AS INT)
         AS suspicious
FROM a ORDER BY min_gap_days, custkey, amount_band
"""


# Batch-15 mirror (N229): weekly-revenue ACF lags 1-4 per nation —
# mean multiplied out (n*x - S integers), HUGEINT moments, one
# truncating division per (nation, lag).
ORACLES["acf_weekly"] = """
WITH o AS (
  SELECT o_custkey,
         CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
census AS (
  SELECT c.c_nationkey AS nat, o.wk, SUM(o.cents) AS x
  FROM o JOIN customer c ON o.o_custkey = c.c_custkey
  GROUP BY 1, 2
),
ts AS (
  SELECT nat, ROW_NUMBER() OVER (PARTITION BY nat ORDER BY wk) AS t, x
  FROM census
),
mom AS (SELECT nat, COUNT(*) AS n, SUM(x) AS s FROM ts GROUP BY 1),
dev AS (
  SELECT ts.nat, ts.t, m.n,
         CAST(m.n AS HUGEINT) * ts.x - CAST(m.s AS HUGEINT) AS d
  FROM ts JOIN mom m ON m.nat = ts.nat
),
den AS (SELECT nat, SUM(d * d) AS den, MAX(n) AS n FROM dev GROUP BY 1),
num AS (
  SELECT a.nat, l.lag, SUM(a.d * b.d) AS num
  FROM dev a
  JOIN (SELECT UNNEST(generate_series(1, 4)) AS lag) l ON TRUE
  JOIN dev b ON b.nat = a.nat AND b.t = a.t + l.lag
  GROUP BY 1, 2
)
SELECT CAST(num.nat AS BIGINT) AS nationkey,
       CAST(num.lag AS BIGINT) AS lag,
       CAST(den.n AS BIGINT) AS n_weeks,
       CAST((num.num * 1000000) // den.den AS BIGINT) AS acf_ppm
FROM num JOIN den ON den.nat = num.nat
WHERE den.n > num.lag + 2
ORDER BY nationkey, lag
"""


# Batch-16 mirror (N230): per-source corpus health — composes the
# dedup-rate and vocab-growth member oracles with an inline Gopher
# census; all ratios fresh ppm divisions of exact counts.
ORACLES["corpus_health"] = f"""
WITH dr AS ({ORACLES["dedup_rate_by_source"]}),
vg AS ({ORACLES["vocab_growth"]}),
gf AS (
  SELECT source,
    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
    round((CAST(length(text) AS DOUBLE)
           - (CAST(len(str_split(text, ' ')) AS DOUBLE) - 1.0))
          / CAST(len(str_split(text, ' ')) AS DOUBLE), 9) AS mlen,
    round((CAST(len(str_split(text, ' ')) AS DOUBLE)
           - CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE))
          / CAST(len(str_split(text, ' ')) AS DOUBLE), 9) AS dup,
    CAST(len(list_filter(str_split(text, ' '),
             t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT)
      AS stop_hits
  FROM documents WHERE text IS NOT NULL
),
gq AS (
  SELECT source,
         CAST(SUM(CASE WHEN (n_tokens BETWEEN 10 AND 1000)
                        AND (mlen BETWEEN 2.0 AND 10.0)
                        AND dup <= 0.6 AND stop_hits >= 2
                       THEN 1 ELSE 0 END) * 1000000
              // COUNT(*) AS BIGINT) AS gopher_pass_ppm
  FROM gf GROUP BY 1
)
SELECT dr.source, dr.n_docs,
       CAST((dr.n_docs - dr.n_exact_distintos) * 1000000 // dr.n_docs
            AS BIGINT) AS exact_dup_ppm,
       CAST(vg.cum_vocab * 1000000 // vg.cum_tokens AS BIGINT)
         AS vocab_per_mtok,
       gq.gopher_pass_ppm
FROM dr
JOIN (SELECT * FROM vg WHERE decile = 10) vg ON vg.source = dr.source
JOIN gq ON gq.source = dr.source
ORDER BY dr.source
"""


# Batch-16 mirror (N231): per-language tokenizer fertility — the
# bpe_apply member oracle aggregated over the lang dimension.
ORACLES["bpe_fertility"] = f"""
WITH b AS ({ORACLES["bpe_apply"]})
SELECT d.lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(b.n_tok_before) AS BIGINT) AS tok_before,
       CAST(SUM(b.n_tok_after) AS BIGINT) AS tok_after,
       CAST(SUM(b.n_tok_after) * 1000000 // SUM(b.n_tok_before) AS BIGINT)
         AS fertility_ppm
FROM b JOIN documents d ON d.doc_id = b.doc_id
GROUP BY d.lang
ORDER BY d.lang
"""


# Batch-16 mirror (N232): weekly count-vs-revenue lead-lag betas
# (lags -3..+3) — sqrt-free cross-correlation via regression slopes,
# HUGEINT moments, one truncating division per (lag, side).
ORACLES["ccf_weekly"] = """
WITH o AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS wk,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
  FROM orders
),
census AS (
  SELECT wk, CAST(COUNT(*) AS BIGINT) AS x, SUM(cents) AS y
  FROM o GROUP BY 1
),
ts AS (SELECT ROW_NUMBER() OVER (ORDER BY wk) AS t, x, y FROM census),
mom AS (SELECT COUNT(*) AS n, SUM(x) AS sx, SUM(y) AS sy FROM ts),
dev AS (
  SELECT ts.t, m.n,
         CAST(m.n AS HUGEINT) * ts.x - CAST(m.sx AS HUGEINT) AS dx,
         CAST(m.n AS HUGEINT) * ts.y - CAST(m.sy AS HUGEINT) AS dy
  FROM ts CROSS JOIN mom m
),
den AS (SELECT SUM(dx * dx) AS dxx, SUM(dy * dy) AS dyy, MAX(n) AS n FROM dev),
num AS (
  SELECT l.lag, SUM(a.dx * b.dy) AS a
  FROM dev a
  JOIN (SELECT UNNEST(generate_series(-3, 3)) AS lag) l ON TRUE
  JOIN dev b ON b.t = a.t + l.lag
  GROUP BY 1
)
SELECT CAST(num.lag AS BIGINT) AS lag,
       CAST(den.n AS BIGINT) AS n_weeks,
       CAST((num.a * 1000000) // den.dxx AS BIGINT) AS beta_y_on_x_ppm,
       CAST((num.a * 1000000) // den.dyy AS BIGINT) AS beta_x_on_y_ppm
FROM num CROSS JOIN den
WHERE den.n > ABS(num.lag) + 2
ORDER BY lag
"""


# Round-6 additions: exact rank-sum ROC-AUC (N233) and classical
# additive seasonal decomposition (N234). The AUC mirror re-derives
# the quality_calibration feature CTE and ranks on the LINEAR logit z
# (no engine evaluates exp); doubled average ranks keep it BIGINT.
ORACLES["roc_auc"] = """
WITH f AS (
  SELECT doc_id,
    CAST(len(str_split(text, ' ')) AS BIGINT) AS n_tokens,
    round(least(
        least((CAST(length(text) AS DOUBLE) - (CAST(len(str_split(text, ' ')) AS DOUBLE) - 1.0))
              / CAST(len(str_split(text, ' ')) AS DOUBLE) / 8.0, 1.0) * 0.4
        + CAST(len(list_filter(str_split(text, ' '), t -> t IN ('the','a','and','of','to','in','is'))) AS DOUBLE)
          / CAST(len(str_split(text, ' ')) AS DOUBLE) * 2.0 * 0.3
        + least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) * 0.3,
      1.0), 9) AS q,
    round((CAST(len(str_split(text, ' ')) AS DOUBLE)
           - CAST(len(list_distinct(str_split(text, ' '))) AS DOUBLE))
          / CAST(len(str_split(text, ' ')) AS DOUBLE), 9) AS dup,
    round((CAST(length(text) AS DOUBLE) - (CAST(len(str_split(text, ' ')) AS DOUBLE) - 1.0))
          / CAST(len(str_split(text, ' ')) AS DOUBLE), 9) AS mlen,
    CAST(len(list_filter(str_split(text, ' '), t -> t IN ('the','a','and','of','to','in','is'))) AS BIGINT)
      AS stop_hits
  FROM documents WHERE text IS NOT NULL
),
zt AS (
  SELECT round(-2.0 + 6.0 * q + -3.0 * dup + 0.25 * mlen
               + 0.002 * CAST(n_tokens AS DOUBLE), 9) AS z,
         CASE WHEN (n_tokens BETWEEN 10 AND 1000) AND (mlen BETWEEN 2.0 AND 10.0)
                   AND dup <= 0.6 AND stop_hits >= 2 THEN 1 ELSE 0 END AS pos
  FROM f
),
r AS (
  SELECT pos,
         2 * RANK() OVER (ORDER BY z) + COUNT(*) OVER (PARTITION BY z) - 1 AS a2
  FROM zt
),
s AS (
  SELECT CAST(SUM(pos) AS BIGINT) AS n_pos,
         CAST(COUNT(*) - SUM(pos) AS BIGINT) AS n_neg,
         CAST(SUM(CASE WHEN pos = 1 THEN a2 END) AS BIGINT) AS rs2
  FROM r
)
SELECT n_pos, n_neg,
       CAST((rs2 - n_pos * (n_pos + 1)) * 1000000 // (2 * n_pos * n_neg) AS BIGINT)
         AS auc_ppm,
       CAST(2 * ((rs2 - n_pos * (n_pos + 1)) * 1000000 // (2 * n_pos * n_neg))
            - 1000000 AS BIGINT) AS gini_ppm
FROM s
"""

# Seasonal decomposition mirror: identical epoch-day arithmetic,
# identical RANGE(3 PRECEDING, 3 FOLLOWING) full-window gate,
# identical truncating integer divisions (negatives included).
ORACLES["seasonal_decompose"] = """
WITH e AS (
  SELECT date_diff('second', TIMESTAMP '1990-01-01', ts) // 86400 AS day,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events WHERE event_type = 'purchase'
),
daily AS (
  SELECT day, CAST(SUM(v) * 100 AS BIGINT) AS cents FROM e GROUP BY 1
),
tr AS (
  SELECT day, cents,
         COUNT(*) OVER w AS n7,
         SUM(cents) OVER w * 1000 AS s7
  FROM daily
  WINDOW w AS (ORDER BY day RANGE BETWEEN 3 PRECEDING AND 3 FOLLOWING)
),
detr AS (
  SELECT CAST(day % 7 + 1 AS INTEGER) AS dow_iso,
         CAST(cents * 1000 - s7 // 7 AS BIGINT) AS d
  FROM tr WHERE n7 = 7
),
seas AS (
  SELECT dow_iso, CAST(COUNT(*) AS BIGINT) AS n_days,
         CAST(SUM(d) // COUNT(*) AS BIGINT) AS seasonal_milli
  FROM detr GROUP BY 1
)
SELECT s.dow_iso, s.n_days, s.seasonal_milli,
       CAST(SUM(abs(d.d - s.seasonal_milli)) // COUNT(*) AS BIGINT)
         AS mean_abs_remainder_milli
FROM detr d JOIN seas s USING (dow_iso)
GROUP BY 1, 2, 3
ORDER BY 1
"""


# Streaming near-dup admission (N235): kappa parity — the drained
# admissions log must hash-match the BATCH incremental screen on the
# same even/odd split, so it shares incremental_dedup's oracle.
ORACLES["stream_near_dup"] = ORACLES["incremental_dedup"]


# Pinball / quantile loss of the naive weekly forecast (N236): exact
# BIGINT centi-cents, max of two integer products per week.
ORACLES["forecast_pinball"] = """
WITH census AS (
  SELECT n.n_name AS nation,
         date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE)) // 7 AS wk,
         CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100) AS BIGINT) AS cents
  FROM orders o
  JOIN customer c ON o.o_custkey = c.c_custkey
  JOIN nation n ON c.c_nationkey = n.n_nationkey
  GROUP BY 1, 2
),
err AS (
  SELECT nation, cents - LAG(cents) OVER (PARTITION BY nation ORDER BY wk) AS e
  FROM census
),
fan AS (
  SELECT nation, e, pct
  FROM err CROSS JOIN (VALUES (10), (50), (90)) AS q(pct)
  WHERE e IS NOT NULL
)
SELECT nation, CAST(pct AS INT) AS pct,
       CAST(COUNT(*) AS BIGINT) AS n_weeks,
       CAST(SUM(GREATEST(pct * e, (pct - 100) * e)) AS BIGINT)
         AS total_pinball_centicents,
       CAST(SUM(GREATEST(pct * e, (pct - 100) * e)) // COUNT(*) AS BIGINT)
         AS mean_pinball_centicents
FROM fan GROUP BY 1, 2 ORDER BY 1, 2
"""


# Additive Holt-Winters (N237): the km_survival recursive-CTE pattern
# carrying (level, trend, 7-slot seasonal list) state; identical
# dyadic truncating updates, identical t = ROW_NUMBER reindexing.
# Layered subqueries give the recurrence let-bindings (s_prev ->
# l_new -> b_new) that a single SELECT can't express.
ORACLES["holt_winters"] = """
WITH RECURSIVE e AS (
  SELECT date_diff('second', TIMESTAMP '1990-01-01', ts) // 86400 AS day,
         CAST(value AS DECIMAL(18,2)) AS v
  FROM events WHERE event_type = 'purchase'
),
daily AS (
  SELECT day, CAST(SUM(v) * 100 AS BIGINT) AS cents FROM e GROUP BY 1
),
seq AS (
  SELECT ROW_NUMBER() OVER (ORDER BY day) AS t, day, cents FROM daily
),
init AS (
  SELECT CAST(SUM(cents) * 1000 // 7 AS BIGINT) AS l0 FROM seq WHERE t <= 7
),
s_init AS (
  SELECT list(cents * 1000 - l0 ORDER BY t) AS s FROM seq, init WHERE t <= 7
),
hw AS (
  SELECT CAST(7 AS BIGINT) AS t, CAST(NULL AS BIGINT) AS day,
         CAST(NULL AS BIGINT) AS cents, CAST(NULL AS BIGINT) AS fc,
         l0 AS l, CAST(0 AS BIGINT) AS b, s_init.s AS s
  FROM init, s_init
  UNION ALL
  SELECT t, day, cents, fc, l_new AS l,
         CAST(((l_new - l) + 15 * b) // 16 AS BIGINT) AS b,
         list_transform(range(1, 8),
             i -> CASE WHEN i = idx
                  THEN CAST(((cents * 1000 - l_new) + 3 * s_prev) // 4 AS BIGINT)
                  ELSE s[i] END) AS s
  FROM (
    SELECT *,
           CAST(((cents * 1000 - s_prev) + 7 * (l + b)) // 8 AS BIGINT) AS l_new
    FROM (
      SELECT x.t, x.day, x.cents, hw.l, hw.b, hw.s,
             CAST(((x.t - 1) % 7) + 1 AS BIGINT) AS idx,
             hw.s[CAST(((x.t - 1) % 7) + 1 AS BIGINT)] AS s_prev,
             CAST(hw.l + hw.b + hw.s[CAST(((x.t - 1) % 7) + 1 AS BIGINT)] AS BIGINT) AS fc
      FROM hw JOIN seq x ON x.t = hw.t + 1
    )
  )
)
SELECT day, cents, fc AS forecast_milli, l AS level_milli, b AS trend_milli
FROM hw
WHERE t >= 8 AND t > (SELECT MAX(t) FROM seq) - 14
ORDER BY day
"""

# excel_ingest: the Spark side round-trips nation through a REAL xlsx
# (write_excel -> read_excel); the oracle reads the parquet twin
# directly, so a hash match proves the xlsx codec is cell-exact
# (VERDICT r6 #6 — upgrades S1/S2/S8 from pytest-only to hash-green).
# Keys cast to BIGINT to match the post-roundtrip cast on the Spark
# side (xlsx numerics are doubles in the cell model).
ORACLES["excel_ingest"] = """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       n_name,
       CAST(n_regionkey AS BIGINT) AS n_regionkey
FROM nation
ORDER BY n_nationkey
"""

# The distributed twin additionally carries the source_file lineage
# column (one workbook in the scanned dir, so it is a constant).
ORACLES["excel_ingest_distributed"] = """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       n_name,
       CAST(n_regionkey AS BIGINT) AS n_regionkey,
       'nation.xlsx' AS source_file
FROM nation
ORDER BY n_nationkey
"""

# exact_substr_dedup: ExactSubstr-style duplicated-span coverage —
# identical 8-word-gram hashing (md5 prefix, same input string both
# engines), identical gaps-and-islands merge; list slicing is
# INCLUSIVE in DuckDB (t[i : i+7] = 8 elements = Spark slice(t, i, 8)).
# Integer division: // floors, Spark div truncates — equal on the
# non-negative operands here.
ORACLES["exact_substr_dedup"] = """
WITH sized AS (
  SELECT doc_id, string_split(text, ' ') AS t, len(string_split(text, ' ')) AS n
  FROM documents WHERE text IS NOT NULL
),
grams AS (
  SELECT doc_id, n, i AS p,
         substr(md5(array_to_string(t[i : i + 7], ' ')), 1, 16) AS h
  FROM sized, unnest(generate_series(1, n - 7)) AS g(i)
  WHERE n >= 8
),
dup AS (SELECT h FROM grams GROUP BY h HAVING COUNT(*) > 1),
marked AS (SELECT g.doc_id, g.p FROM grams g JOIN dup USING (h)),
isl AS (
  SELECT doc_id, p,
         SUM(CASE WHEN prev IS NULL OR p - prev > 8 THEN 1 ELSE 0 END)
           OVER (PARTITION BY doc_id ORDER BY p) AS isl
  FROM (
    SELECT doc_id, p, LAG(p) OVER (PARTITION BY doc_id ORDER BY p) AS prev
    FROM marked
  )
),
spans AS (
  SELECT doc_id, isl, MAX(p) - MIN(p) + 8 AS cov
  FROM isl GROUP BY doc_id, isl
),
census AS (
  SELECT doc_id, COUNT(*) AS n_dup_spans, SUM(cov) AS dup_tokens
  FROM spans GROUP BY doc_id
)
SELECT s.doc_id,
       CAST(s.n AS BIGINT) AS n_tokens,
       CAST(COALESCE(c.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(c.dup_tokens, 0) AS BIGINT) AS dup_tokens,
       CAST(1000 * COALESCE(c.dup_tokens, 0) // s.n AS BIGINT) AS dup_ratio_milli
FROM sized s LEFT JOIN census c USING (doc_id)
ORDER BY s.doc_id
"""

# cluster_safe_split: composes the dedup_clusters recursive-CTE
# replica with the frozen md5-prefix split CASE keyed on the CLUSTER
# label, so near-dups cannot straddle train/eval; the straddle count
# is definitionally 0 and reported as the alert column.
ORACLES["cluster_safe_split"] = """
WITH RECURSIVE 
shing AS (
  SELECT doc_id, CASE WHEN text IS NULL THEN NULL ELSE list_distinct(list_transform(
    generate_series(1, greatest(len(str_split(text, ' ')) - 2, 1)),
    i -> array_to_string((str_split(text, ' '))[i:i+2], ' ')
  )) END AS sh
  FROM documents
),
hashed8 AS (
  SELECT doc_id,
    list_transform(sh, x -> md5(x)) AS hs0,
    list_transform(sh, x -> md5('1:' || x)) AS hs1
  FROM shing
),
sig8 AS (
  SELECT doc_id,
    list_min(list_transform(hs0, h -> substr(h, 1, 8))) AS mh0,
    list_min(list_transform(hs0, h -> substr(h, 9, 8))) AS mh1,
    list_min(list_transform(hs0, h -> substr(h, 17, 8))) AS mh2,
    list_min(list_transform(hs0, h -> substr(h, 25, 8))) AS mh3,
    list_min(list_transform(hs1, h -> substr(h, 1, 8))) AS mh4,
    list_min(list_transform(hs1, h -> substr(h, 9, 8))) AS mh5,
    list_min(list_transform(hs1, h -> substr(h, 17, 8))) AS mh6,
    list_min(list_transform(hs1, h -> substr(h, 25, 8))) AS mh7
  FROM hashed8
),
bands AS (
  SELECT doc_id, mh0, mh1, mh2, mh3, mh4, mh5, mh6, mh7,
    unnest(['0|' || mh0 || '|' || mh1,
            '1|' || mh2 || '|' || mh3,
            '2|' || mh4 || '|' || mh5,
            '3|' || mh6 || '|' || mh7]) AS band
  FROM sig8
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
), edges AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN shing sa ON sa.doc_id = c.id_a
  JOIN shing sb ON sb.doc_id = c.id_b
  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= 0.5
), sym AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION ALL
  SELECT id_b, id_a FROM edges
), reach AS (
  SELECT doc_id AS u, doc_id AS v FROM documents
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
clusters AS (
  SELECT u AS doc_id, MIN(v) AS cluster FROM reach GROUP BY u
),
with_split AS (
  SELECT doc_id, cluster,
    CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 2) < 'cc' THEN 'train'
         WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 2) < 'e6' THEN 'val'
         ELSE 'test' END AS split
  FROM clusters
),
straddle AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_straddle_clusters FROM (
    SELECT cluster FROM (SELECT DISTINCT cluster, split FROM with_split)
    GROUP BY cluster HAVING COUNT(*) > 1
  )
)
SELECT split,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(COUNT(DISTINCT cluster) AS BIGINT) AS n_clusters,
       (SELECT n_straddle_clusters FROM straddle) AS n_straddle_clusters
FROM with_split
GROUP BY split
ORDER BY split
"""

# good_turing_mass: frequencies-of-frequencies census over word
# trigrams; Good–Turing class masses (r+1)·N_{r+1}/N in ppm and the
# Chao1 bias-corrected unseen-types estimate at r=0. DuckDB `//` and
# Spark `div` both truncate toward zero; every input is non-negative.
# The oracle censuses gram TEXT while Spark censuses xxhash64(gram):
# the frequencies-of-frequencies table is identical under ANY
# injective key, so the engines need not share a hash function.
ORACLES["good_turing_mass"] = """
WITH toks AS (
  SELECT str_split(text, ' ') AS ts
  FROM documents WHERE text IS NOT NULL
),
tri AS (
  SELECT ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS gram
  FROM toks, unnest(range(1, len(ts) - 1)) AS t(i)
  WHERE len(ts) >= 3
),
counts AS (
  SELECT gram, COUNT(*) AS f FROM tri GROUP BY 1
),
fof AS (
  SELECT f, COUNT(*) AS n FROM counts GROUP BY 1
),
stats AS (
  SELECT CAST(SUM(f * n) AS BIGINT) AS big_n,
         CAST(COALESCE(SUM(CASE WHEN f = 1 THEN n END), 0) AS BIGINT) AS n1,
         CAST(COALESCE(SUM(CASE WHEN f = 2 THEN n END), 0) AS BIGINT) AS n2
  FROM fof
),
spine AS (SELECT unnest(range(0, 6)) AS r)
SELECT CAST(r AS BIGINT) AS freq_r,
       CAST(CASE WHEN r = 0 THEN (s.n1 * (s.n1 - 1)) // (2 * (s.n2 + 1))
                 ELSE COALESCE(fr.n, 0) END AS BIGINT) AS n_types,
       CAST(CASE WHEN r = 0 THEN 0
                 ELSE (r * COALESCE(fr.n, 0) * 1000000)
                      // NULLIF(s.big_n, 0)
            END AS BIGINT) AS raw_mass_ppm,
       CAST(((r + 1) * COALESCE(fn.n, 0) * 1000000)
            // NULLIF(s.big_n, 0) AS BIGINT)
         AS gt_mass_ppm
FROM spine CROSS JOIN stats s
LEFT JOIN fof fr ON fr.f = spine.r
LEFT JOIN fof fn ON fn.f = spine.r + 1
ORDER BY freq_r
"""

# neyman_allocation: Gini-mean-difference Neyman weights via the rank
# identity, largest-remainder apportionment of 1000 for both arms.
# Milli-weight truncation and the +1 floor mirror the Spark side
# exactly (frozen contract); all quantities non-negative.
ORACLES["neyman_allocation"] = """
WITH docs AS (
  SELECT source, doc_id, len(str_split(text, ' ')) AS x
  FROM documents WHERE text IS NOT NULL
),
ranked AS (
  SELECT source, x,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY x, doc_id) AS r
  FROM docs
),
strata AS (
  SELECT source, COUNT(*) AS n, SUM(x) AS sx, SUM(r * x) AS srx
  FROM ranked GROUP BY 1
),
wts AS (
  SELECT source, n,
         CASE WHEN n >= 2
              THEN (2000 * (2 * srx - (n + 1) * sx)) // (n * (n - 1))
              ELSE 0 END AS gmd_milli,
         CASE WHEN n >= 2
              THEN (2000 * (2 * srx - (n + 1) * sx)) // (n - 1) + 1
              ELSE 1 END AS w
  FROM strata
),
base AS (
  SELECT source, n, gmd_milli,
         (1000 * w) // SUM(w) OVER () AS nb,
         1000 * w - ((1000 * w) // SUM(w) OVER ()) * SUM(w) OVER () AS nrem,
         (1000 * n) // SUM(n) OVER () AS pb,
         1000 * n - ((1000 * n) // SUM(n) OVER ()) * SUM(n) OVER () AS prem
  FROM wts
),
final AS (
  SELECT source, n, gmd_milli, nb, pb,
         ROW_NUMBER() OVER (ORDER BY nrem DESC, source) AS nrk,
         ROW_NUMBER() OVER (ORDER BY prem DESC, source) AS prk,
         1000 - SUM(nb) OVER () AS nshort,
         1000 - SUM(pb) OVER () AS pshort
  FROM base
)
SELECT source,
       CAST(n AS BIGINT) AS n_docs,
       CAST(gmd_milli AS BIGINT) AS gmd_milli,
       CAST(nb + CASE WHEN nrk <= nshort THEN 1 ELSE 0 END AS BIGINT)
         AS neyman_n,
       CAST(pb + CASE WHEN prk <= pshort THEN 1 ELSE 0 END AS BIGINT)
         AS prop_n
FROM final
ORDER BY source
"""

# Shared observational frame for ipw_ate / mantel_haenszel: exposure =
# ordered before 1996, outcome = 2001+ spend (cents / binary),
# confounder = mid-period order-count tier. NTZ date-literal bounds;
# customer LEFT JOIN orders keeps order-less customers as untreated zeros.
_OBS_FRAME = """
per_cust AS (
  SELECT c.c_custkey,
         LEAST(SUM(CASE WHEN o.o_orderdate >= DATE '1996-01-01'
                         AND o.o_orderdate < DATE '2001-01-01'
                    THEN 1 ELSE 0 END) // 3, 3) AS tier,
         MAX(CASE WHEN o.o_orderdate < DATE '1996-01-01'
             THEN 1 ELSE 0 END) AS t,
         COALESCE(SUM(CASE WHEN o.o_orderdate >= DATE '2001-01-01'
             THEN CAST(CAST(o.o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             END), 0) AS y,
         MAX(CASE WHEN o.o_orderdate >= DATE '2001-01-01'
             THEN 1 ELSE 0 END) AS y2
  FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
  GROUP BY 1
)
"""

ORACLES["ipw_ate"] = f"""
WITH {_OBS_FRAME},
strata AS (
  SELECT tier, COUNT(*) AS n_custs, SUM(t) AS n_treated,
         SUM(CASE WHEN t = 1 THEN y ELSE 0 END) AS s1,
         SUM(CASE WHEN t = 0 THEN y ELSE 0 END) AS s0
  FROM per_cust GROUP BY 1
),
per AS (
  SELECT tier, n_custs, n_treated,
         (s1 * 1000) // NULLIF(n_treated, 0) AS mean1_millicents,
         (s0 * 1000) // NULLIF(n_custs - n_treated, 0) AS mean0_millicents,
         CASE WHEN n_treated > 0 AND n_custs - n_treated > 0
              THEN 1 ELSE 0 END AS valid,
         s1, s0
  FROM strata
),
per2 AS (
  SELECT *, mean1_millicents - mean0_millicents AS dte_millicents FROM per
)
SELECT CAST(tier AS INT) AS tier,
       CAST(n_custs AS BIGINT) AS n_custs,
       CAST(n_treated AS BIGINT) AS n_treated,
       CAST(mean1_millicents AS BIGINT) AS mean1_millicents,
       CAST(mean0_millicents AS BIGINT) AS mean0_millicents,
       CAST(dte_millicents AS BIGINT) AS dte_millicents,
       CAST(valid AS INT) AS valid,
       CAST(SUM(CASE WHEN valid = 1 THEN n_custs * dte_millicents
                     ELSE 0 END) OVER ()
            // NULLIF(SUM(CASE WHEN valid = 1 THEN n_custs ELSE 0 END)
                      OVER (), 0) AS BIGINT) AS ate_millicents,
       CAST((SUM(s1) OVER () * 1000) // NULLIF(SUM(n_treated) OVER (), 0)
            - (SUM(s0) OVER () * 1000)
              // NULLIF(SUM(n_custs - n_treated) OVER (), 0)
         AS BIGINT) AS naive_millicents
FROM per2
ORDER BY tier
"""

ORACLES["mantel_haenszel"] = f"""
WITH {_OBS_FRAME},
cells AS (
  SELECT tier, COUNT(*) AS n_custs,
         SUM(CASE WHEN t = 1 AND y2 = 1 THEN 1 ELSE 0 END) AS a,
         SUM(CASE WHEN t = 1 AND y2 = 0 THEN 1 ELSE 0 END) AS b,
         SUM(CASE WHEN t = 0 AND y2 = 1 THEN 1 ELSE 0 END) AS c,
         SUM(CASE WHEN t = 0 AND y2 = 0 THEN 1 ELSE 0 END) AS d
  FROM per_cust GROUP BY 1
),
scaled AS (
  SELECT tier, n_custs, a, b, c, d,
         CASE WHEN b * c > 0 THEN (a * d * 1000000) // (b * c) END AS or_ppm,
         (a * d * 1000) // n_custs AS num,
         (b * c * 1000) // n_custs AS den
  FROM cells
)
SELECT CAST(tier AS INT) AS tier,
       CAST(n_custs AS BIGINT) AS n_custs,
       CAST(a AS BIGINT) AS a, CAST(b AS BIGINT) AS b,
       CAST(c AS BIGINT) AS c, CAST(d AS BIGINT) AS d,
       CAST(or_ppm AS BIGINT) AS or_ppm,
       CAST((SUM(num) OVER () * 1000000) // NULLIF(SUM(den) OVER (), 0)
         AS BIGINT) AS mh_or_ppm
FROM scaled
ORDER BY tier
"""

# schema_evolution_ingest: the mergeSchema read must equal this direct
# recompute — early-batch rows (key < 13) carry NULL in the column the
# later batch introduced.
ORACLES["schema_evolution_ingest"] = """
SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
       n_name,
       CAST(n_regionkey AS BIGINT) AS n_regionkey,
       CASE WHEN n_nationkey >= 13 THEN 'b2-' || n_name END AS ingest_tag
FROM nation
ORDER BY n_nationkey
"""

# cmh_test: CMH chi-squared on the shared observational frame — exact
# milli/micro grids, hypergeometric variance, no continuity correction.
ORACLES["cmh_test"] = f"""
WITH {_OBS_FRAME},
cells AS (
  SELECT tier, COUNT(*) AS n, SUM(t) AS n1,
         SUM(CASE WHEN t = 1 AND y2 = 1 THEN 1 ELSE 0 END) AS a,
         SUM(y2) AS m1
  FROM per_cust GROUP BY 1
),
per AS (
  SELECT tier, n, a,
         (CAST(n1 AS HUGEINT) * m1 * 1000) // n AS e_milli,
         CASE WHEN n >= 2 THEN
           (CAST(n1 AS HUGEINT) * (n - n1) * m1 * (n - m1) * 1000000)
             // (CAST(n AS HUGEINT) * n * (n - 1))
         ELSE 0 END AS v_micro
  FROM cells
)
SELECT CAST(tier AS INT) AS tier,
       CAST(n AS BIGINT) AS n_custs,
       CAST(a AS BIGINT) AS a,
       CAST(e_milli AS BIGINT) AS e_milli,
       CAST(v_micro AS BIGINT) AS v_micro,
       CAST(CAST(SUM(a) OVER () * 1000 - SUM(e_milli) OVER () AS HUGEINT)
            * (SUM(a) OVER () * 1000 - SUM(e_milli) OVER ()) * 1000
            // NULLIF(SUM(v_micro) OVER (), 0) AS BIGINT) AS cmh_stat_milli
FROM per
ORDER BY tier
"""

# kish_ess: effective sample size / design effect of the soft
# NEAR-dedup weights (1/cluster-size over the dedup_clusters
# components) — HUGEINT mirrors the Spark DECIMAL(38,0) arithmetic.
ORACLES["kish_ess"] = f"""
WITH RECURSIVE {_SIG8_CTE},{_BANDS8_CTE}, cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.doc_id < b.doc_id
), edges AS (
  SELECT c.id_a, c.id_b
  FROM cand c
  JOIN shing sa ON sa.doc_id = c.id_a
  JOIN shing sb ON sb.doc_id = c.id_b
  WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE)
      / CAST(len(list_distinct(list_concat(sa.sh, sb.sh))) AS DOUBLE) >= 0.5
), sym AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION ALL
  SELECT id_b, id_a FROM edges
), reach AS (
  SELECT doc_id AS u, doc_id AS v FROM documents
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u
),
clusters AS (
  SELECT u AS doc_id, MIN(v) AS cluster FROM reach GROUP BY u
),
sizes AS (SELECT cluster, COUNT(*) AS sz FROM clusters GROUP BY 1),
weighted AS (
  SELECT d.source, 1000000 // s.sz AS w
  FROM documents d
  JOIN clusters c ON c.doc_id = d.doc_id
  JOIN sizes s ON s.cluster = c.cluster
),
census AS (
  SELECT source, COUNT(*) AS n_docs,
         CAST(SUM(w) AS HUGEINT) AS sw,
         CAST(SUM(CAST(w AS HUGEINT) * w) AS HUGEINT) AS sww
  FROM weighted GROUP BY 1
)
SELECT source,
       CAST(n_docs AS BIGINT) AS n_docs,
       CAST((sw * sw * 1000) // sww AS BIGINT) AS ess_milli,
       CAST((CAST(n_docs AS HUGEINT) * sww * 1000) // (sw * sw) AS BIGINT)
         AS deff_milli,
       CAST((sw * sw * 1000000) // (CAST(n_docs AS HUGEINT) * sww) AS BIGINT)
         AS retention_ppm
FROM census
ORDER BY source
"""
