"""Wallet-pipeline parity query: runs the REAL wallet operator chain
(normalize_dates → wallet_features, operators/wallet.py) on a wallet-shaped
table derived deterministically from `orders`, and checks it against an
oracle that transliterates the reference's 9-scalar-subquery feature SQL
(reference spark/jobs/pr-wallet-data-tf.py:76-120) to DuckDB.

This is the strongest parity statement the harness can make: the oracle IS
the reference query shape (scalar MAX subqueries and all), while the Spark
side is the engine's one-scan broadcast-agg re-plan — same 34-column output,
value-identical (all arithmetic is single IEEE-754 ops over exact inputs:
int/int and 2-decimal-double divisions, no accumulation-order hazards).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from cyrela_etl_spark.operators.wallet import wallet_pipeline
from cyrela_etl_spark.queries import register
from cyrela_etl_spark.sources.parquet import fan_out, read_table

# orders → wallet-shaped columns, all deterministic expressions. Money
# columns use exact power-of-two scalings of the 2-decimal o_totalprice so
# every derived double is bit-identical in any IEEE-754 engine.
_BRAND = {"1-URGENT": "Cyrela", "2-HIGH": "Living", "3-MEDIUM": "VIVAZ"}


def synth_wallet(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan_out (r18, VERDICT r17 item 6): the single-row-group orders file
    # serializes the whole 0-shuffle chain — BOTH passes (the 10-maxima
    # agg and the 34-column projection) ran as one task each, which is
    # why the flagship had the worst 8-vs-32-core scaling ratio (0.30).
    # Interleaved A/B (6 reps, identical checksums): raw 1.793 s vs
    # fanned 1.221 s median at sf0.1; re-run with `tools/ab.py
    # wallet_features --patch cyrela_etl_spark.sources.parquet.fan_out`
    # (leg B = fan_out as identity). On real
    # multi-row-group inputs fan_out is a no-op and the chain stays
    # shuffle-free (the sf0.001 plan-budget pin of ZERO still measures
    # that cold shape); on pathological single-row-group files the one
    # round-robin exchange is what restores parallelism.
    o = fan_out(read_table(spark, sf_dir, "orders"))
    brand = F.when(F.col("o_orderpriority") == "1-URGENT", "Cyrela")
    brand = brand.when(F.col("o_orderpriority") == "2-HIGH", "Living")
    brand = brand.when(F.col("o_orderpriority") == "3-MEDIUM", "VIVAZ").otherwise("Outra")
    return o.select(
        (F.col("o_orderkey") % 97 + 1).cast("int").alias("empresa"),
        brand.alias("marca"),
        F.concat(F.lit("E"), F.col("o_custkey")).alias("empreendimento"),
        F.concat(F.lit("C"), F.col("o_custkey")).alias("cliente"),
        F.lit(None).cast("string").alias("regional"),
        (F.col("o_orderkey") % 50).cast("int").alias("obra"),
        (F.col("o_orderkey") % 5 + 1).cast("int").alias("bloco"),
        (F.col("o_orderkey") % 400).cast("int").alias("unidade"),
        F.date_format("o_orderdate", "dd/MM/yyyy").alias("dt_venda"),
        F.date_format(F.date_add("o_orderdate", 30), "dd/MM/yyyy").alias("dt_chaves"),
        (F.col("o_orderkey") % 1000).cast("int").alias("carteira_sd_gerencial"),
        F.col("o_totalprice").alias("saldo_devedor"),
        F.date_format(F.date_add("o_orderdate", 90), "dd/MM/yyyy").alias("data_base"),
        F.lit(0.0).alias("total_atraso"),
        F.lit(0).cast("int").alias("faixa_de_atraso"),
        (-(F.col("o_orderkey") % 150)).cast("int").alias("dias_atraso"),
        (F.col("o_totalprice") * 0.5).alias("valor_pago_atualizado"),
        (F.col("o_totalprice") * 0.25).alias("valor_pago"),
        F.lit(None).cast("string").alias("status"),
        F.lit(None).cast("string").alias("dt_reneg"),
        F.lit(None).cast("string").alias("descosn"),
        F.lit(None).cast("string").alias("vaga"),
        (F.col("o_totalprice") * 2.0).alias("vgv"),
    )


def wallet_features_synth(spark: SparkSession, sf_dir: str) -> DataFrame:
    return wallet_pipeline(synth_wallet(spark, sf_dir))


# The oracle: the same orders→wallet mapping as a CTE, then the reference's
# feature SQL (spark/jobs/pr-wallet-data-tf.py:76-120) transliterated —
# scalar MAX subqueries, CASE brand encode, DAY/MONTH/YEAR decomposition,
# ABS + bucketize. Date strings are ISO (normalize_dates output), so
# DAY() becomes day(CAST(s AS DATE)) — the same implicit cast Spark does.
_ORACLE = """
WITH vw_wallet AS (
  SELECT CAST(o_orderkey % 97 + 1 AS INT) AS empresa,
         CASE o_orderpriority WHEN '1-URGENT' THEN 'Cyrela'
                              WHEN '2-HIGH' THEN 'Living'
                              WHEN '3-MEDIUM' THEN 'VIVAZ'
                              ELSE 'Outra' END AS marca,
         CAST(o_orderkey % 50 AS INT) AS obra,
         CAST(o_orderkey % 5 + 1 AS INT) AS bloco,
         CAST(o_orderkey % 400 AS INT) AS unidade,
         strftime(o_orderdate, '%Y-%m-%d') AS dt_venda,
         strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d') AS dt_chaves,
         CAST(o_orderkey % 1000 AS INT) AS carteira_sd_gerencial,
         o_totalprice AS saldo_devedor,
         strftime(o_orderdate + INTERVAL 90 DAY, '%Y-%m-%d') AS data_base,
         CAST(-(o_orderkey % 150) AS INT) AS dias_atraso,
         o_totalprice * 0.5 AS valor_pago_atualizado,
         o_totalprice * 0.25 AS valor_pago,
         o_totalprice * 2.0 AS vgv
  FROM orders
)
SELECT
  empresa,
  empresa / (SELECT MAX(empresa) FROM vw_wallet) AS p_empresa,
  marca,
  CASE WHEN LOWER(marca) = 'cyrela' THEN 1
       WHEN LOWER(marca) = 'living' THEN 2
       WHEN LOWER(marca) = 'vivaz' THEN 3
       ELSE 0 END AS p_marca,
  obra,
  obra / (SELECT MAX(obra) FROM vw_wallet) AS p_obra,
  bloco,
  bloco / (SELECT MAX(bloco) FROM vw_wallet) AS p_bloco,
  unidade,
  unidade / (SELECT MAX(unidade) FROM vw_wallet) AS p_unidade,
  dt_venda,
  day(CAST(dt_venda AS DATE)) / 30 AS p_dt_venda_day,
  month(CAST(dt_venda AS DATE)) / 12 AS p_dt_venda_month,
  year(CAST(dt_venda AS DATE)) / 2000 AS p_dt_venda_year,
  dt_chaves,
  day(CAST(dt_chaves AS DATE)) / 30 AS p_dt_chaves_day,
  month(CAST(dt_chaves AS DATE)) / 12 AS p_dt_chaves_month,
  year(CAST(dt_chaves AS DATE)) / 2000 AS p_dt_chaves_year,
  carteira_sd_gerencial,
  carteira_sd_gerencial / (SELECT MAX(carteira_sd_gerencial) FROM vw_wallet) AS p_carteira_sd_gerencial,
  saldo_devedor,
  saldo_devedor / (SELECT MAX(saldo_devedor) FROM vw_wallet) AS p_saldo_devedor,
  day(CAST(data_base AS DATE)) / 30 AS p_data_base_day,
  month(CAST(data_base AS DATE)) / 12 AS p_data_base_month,
  year(CAST(data_base AS DATE)) / 2000 AS p_data_base_year,
  dias_atraso,
  ABS(dias_atraso) / (SELECT MAX(ABS(dias_atraso)) FROM vw_wallet) AS p_dias_atraso,
  CASE WHEN dias_atraso >= -30 THEN 0
       WHEN dias_atraso >= -90 THEN 1
       ELSE 2 END AS p_dias_atraso_category,
  valor_pago_atualizado,
  valor_pago_atualizado / (SELECT MAX(valor_pago_atualizado) FROM vw_wallet) AS p_valor_pago_atualizado,
  valor_pago,
  valor_pago / (SELECT MAX(valor_pago) FROM vw_wallet) AS p_valor_pago,
  vgv,
  vgv / (SELECT MAX(vgv) FROM vw_wallet) AS p_vgv
FROM vw_wallet
"""

register("wallet_features", wallet_features_synth, _ORACLE)
