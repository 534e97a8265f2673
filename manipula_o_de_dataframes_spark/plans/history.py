"""Product × client interaction history.

Reference: the group-iterate loops building per-(Subgrupo, Código
Produto, Cliente) records with date-ordered history lists, last
interaction date and last consultant (análise_produtos_clientes.py:
273-298; manipulacao-analise-comercial.py:314-389). The pandas version
is an interpreted Python loop over groups; here the whole thing is ONE
``groupBy().agg()`` — ordered collect via sort_array-of-struct, argmax
via max_by over a packed order key — fully partial-aggregable, one
shuffle on the group keys, no window, no Python.

Testdata mapping (FIXTURES.md §4): (brand, part, customer) stand in for
(Subgrupo, Código Produto, Cliente); l_shipdate for Dt Entrada;
l_returnflag for the per-interaction attribute whose latest value the
reference tracks (Consultor Interno).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.formatting import dsum
from ..operators.aggregates import last_by, ordered_list_str
from ..sources.io import read_table, read_table_parallel


def product_client_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Hash-repartition the fact by l_partkey (a subset of the group
    # keys): one shuffle unlocks all cores for the joins + partial agg
    # AND satisfies the aggregate's distribution, so no second exchange.
    lineitem = read_table_parallel(spark, sf_dir, "lineitem", by=("l_partkey",))
    orders = read_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    part = read_table(spark, sf_dir, "part").select("p_partkey", "p_brand")

    fact = (
        lineitem.join(orders, lineitem.l_orderkey == orders.o_orderkey)
        .join(part, lineitem.l_partkey == part.p_partkey)
        .select(
            F.col("p_brand").alias("subgrupo"),
            F.col("l_partkey").alias("produto"),
            F.col("o_custkey").alias("cliente"),
            F.date_format("l_shipdate", "yyyy-MM-dd").alias("dt"),
            "l_orderkey",
            "l_linenumber",
            "l_quantity",
            "l_returnflag",
        )
    )
    # (l_orderkey, l_linenumber) is not unique in the fixtures. The
    # lists are total anyway (ordered_list sorts on the value after the
    # key); the last-by key ends in the projected values, so rows that
    # still tie are identical. Widening the list key as well changes no
    # output and made the aggregate about 10 % slower (1 core, sf0.01).
    order_key = ["dt", "l_orderkey", "l_linenumber"]
    return fact.groupBy("subgrupo", "produto", "cliente").agg(
        ordered_list_str("dt", order_key).alias("datas"),
        ordered_list_str("l_quantity", order_key).alias("quantidades"),
        F.max("dt").alias("ultima_data"),
        last_by("l_returnflag", order_key + ["l_quantity", "l_returnflag"]).alias(
            "ultimo_consultor"
        ),
        F.count(F.lit(1)).alias("n_interacoes"),
        dsum("l_quantity").alias("total_qtd"),
    )
