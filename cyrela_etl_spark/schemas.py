"""Declared schemas: the wallet table and the driver star-schema tables.

Wallet schema mirrors the reference's explicit 23-column StructType
(reference spark/jobs/pr-wallet-data-tf.py:34-57): integer codes, double
money columns, and date columns kept as *strings* — the reference relies on
implicit string→date casts inside DAY()/MONTH()/YEAR(), and golden-output
equality depends on reproducing that.
"""

from __future__ import annotations

from pyspark.sql import types as T

WALLET_COLUMNS: list[str] = [
    "empresa",
    "marca",
    "empreendimento",
    "cliente",
    "regional",
    "obra",
    "bloco",
    "unidade",
    "dt_venda",
    "dt_chaves",
    "carteira_sd_gerencial",
    "saldo_devedor",
    "data_base",
    "total_atraso",
    "faixa_de_atraso",
    "dias_atraso",
    "valor_pago_atualizado",
    "valor_pago",
    "status",
    "dt_reneg",
    "descosn",
    "vaga",
    "vgv",
]

# Columns holding dd/MM/yyyy dates in the raw zone, ISO yyyy-MM-dd once
# curated (reference dags/s3-etl-wallet-csv.py:53-55,105-106).
WALLET_DATE_COLUMNS: list[str] = ["dt_venda", "dt_chaves", "data_base", "dt_reneg"]


def wallet_schema() -> T.StructType:
    """23-column wallet schema (reference spark/jobs/pr-wallet-data-tf.py:34-57)."""
    return (
        T.StructType()
        .add("empresa", T.IntegerType(), True)
        .add("marca", T.StringType(), True)
        .add("empreendimento", T.StringType(), True)
        .add("cliente", T.StringType(), True)
        .add("regional", T.StringType(), True)
        .add("obra", T.IntegerType(), True)
        .add("bloco", T.IntegerType(), True)
        .add("unidade", T.IntegerType(), True)
        .add("dt_venda", T.StringType(), True)
        .add("dt_chaves", T.StringType(), True)
        .add("carteira_sd_gerencial", T.IntegerType(), True)
        .add("saldo_devedor", T.DoubleType(), True)
        .add("data_base", T.StringType(), True)
        .add("total_atraso", T.DoubleType(), True)
        .add("faixa_de_atraso", T.IntegerType(), True)
        .add("dias_atraso", T.IntegerType(), True)
        .add("valor_pago_atualizado", T.DoubleType(), True)
        .add("valor_pago", T.DoubleType(), True)
        .add("status", T.StringType(), True)
        .add("dt_reneg", T.StringType(), True)
        .add("descosn", T.StringType(), True)
        .add("vaga", T.StringType(), True)
        .add("vgv", T.DoubleType(), True)
    )


# The 34-column output contract of the feature query, in order
# (matches the reference golden data/parsed-data.csv header).
WALLET_FEATURE_COLUMNS: list[str] = [
    "empresa",
    "p_empresa",
    "marca",
    "p_marca",
    "obra",
    "p_obra",
    "bloco",
    "p_bloco",
    "unidade",
    "p_unidade",
    "dt_venda",
    "p_dt_venda_day",
    "p_dt_venda_month",
    "p_dt_venda_year",
    "dt_chaves",
    "p_dt_chaves_day",
    "p_dt_chaves_month",
    "p_dt_chaves_year",
    "carteira_sd_gerencial",
    "p_carteira_sd_gerencial",
    "saldo_devedor",
    "p_saldo_devedor",
    "p_data_base_day",
    "p_data_base_month",
    "p_data_base_year",
    "dias_atraso",
    "p_dias_atraso",
    "p_dias_atraso_category",
    "valor_pago_atualizado",
    "p_valor_pago_atualizado",
    "valor_pago",
    "p_valor_pago",
    "vgv",
    "p_vgv",
]

# Driver-provided star-schema + extension tables (TESTDATA.md / FIXTURES.md §B).
TESTDATA_TABLES: list[str] = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

# Schema-drift tripwire: per-table {column: allowed Spark simpleString types}.
# The driver regenerates /root/testdata between rounds and has already changed
# a physical encoding once (events.ts: INT64-nanos → TIMESTAMP(MICROS), round
# 5→6); any future drift should fail loudly with a named column instead of a
# DATATYPE_MISMATCH deep inside a query plan. sources/parquet.py read_table —
# the one reader of these tables — checks every read against this map.
# Columns whose set lists several types are encodings the engine explicitly
# adapts to.
TESTDATA_EXPECTED: dict[str, dict[str, set[str]]] = {
    "region": {"r_regionkey": {"int"}, "r_name": {"string"}},
    "nation": {"n_nationkey": {"int"}, "n_name": {"string"}, "n_regionkey": {"int"}},
    "customer": {
        "c_custkey": {"bigint"},
        "c_name": {"string"},
        "c_nationkey": {"int"},
        "c_acctbal": {"double"},
        "c_mktsegment": {"string"},
    },
    "supplier": {
        "s_suppkey": {"bigint"},
        "s_name": {"string"},
        "s_nationkey": {"int"},
        "s_acctbal": {"double"},
    },
    "part": {
        "p_partkey": {"bigint"},
        "p_name": {"string"},
        "p_brand": {"string"},
        "p_type": {"string"},
        "p_size": {"int"},
        "p_retailprice": {"double"},
    },
    "orders": {
        "o_orderkey": {"bigint"},
        "o_custkey": {"bigint"},
        "o_orderstatus": {"string"},
        "o_totalprice": {"double"},
        "o_orderdate": {"timestamp", "timestamp_ntz", "date"},
        "o_orderpriority": {"string"},
    },
    "lineitem": {
        "l_orderkey": {"bigint"},
        "l_partkey": {"bigint"},
        "l_suppkey": {"bigint"},
        "l_linenumber": {"int"},
        "l_quantity": {"double"},
        "l_extendedprice": {"double"},
        "l_discount": {"double"},
        "l_tax": {"double"},
        "l_returnflag": {"string"},
        "l_linestatus": {"string"},
        "l_shipdate": {"timestamp", "timestamp_ntz", "date"},
    },
    "events": {
        "event_id": {"bigint"},
        # bigint = legacy INT64-nanos read under nanosAsLong
        "ts": {"timestamp", "timestamp_ntz", "bigint"},
        "user_id": {"bigint"},
        "event_type": {"string"},
        "value": {"double"},
        "props": {"string"},
    },
    "documents": {
        "doc_id": {"bigint"},
        "text": {"string"},
        "lang": {"string"},
        "source": {"string"},
        "n_chars": {"bigint"},
    },
    "embeddings": {
        "vec_id": {"bigint"},
        "embedding": {"array<float>", "array<double>"},
        "label": {"int"},
    },
}
