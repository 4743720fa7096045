"""The wallet pipeline — reference parity core (SURVEY.md §2, §3.1).

Two stages, matching the reference's semantics exactly but re-planned for
scale:

1. ``normalize_dates`` — the ingest/normalize stage. Replaces the pandas
   row-loop date reformat (reference dags/s3-etl-wallet-csv.py:53-55,
   103-106) with native ``to_date``/``date_format`` (JVM-side, codegen'd,
   nulls pass through like the reference's isinstance-str guard).

2. ``wallet_features`` — the analytical core. The reference expresses this
   as one SQL query with NINE uncorrelated scalar ``MAX`` subqueries, each
   of which rescans the input (reference spark/jobs/pr-wallet-data-tf.py:
   76-120; ~10 input rescans per action, BASELINE.md). Here all nine maxima
   are computed by ONE partially-aggregated pass producing a 1-row frame
   that is broadcast-cross-joined back — at 100 TB that is one scan + one
   tiny broadcast instead of ten scans, and it keeps every row operation in
   whole-stage codegen. (A global ``Window.partitionBy()`` would funnel all
   data through a single partition — rejected for scale.)

Feature semantics preserved verbatim (golden output data/parsed-data.csv):
- min-max scaling with implicit min 0: ``p_x = x / max(x)`` (double division)
- ``p_dias_atraso = abs(dias_atraso) / max(abs(dias_atraso))``
- date decomposition: day/30, month/12, year/2000 (may exceed 1.0)
- brand label-encode: lower(marca) cyrela→1 living→2 vivaz→3 else 0
- delinquency bucketize: dias_atraso >= -30 → 0, >= -90 → 1, else 2
  (ordered first-match CASE; input days are negative)
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cyrela_etl_spark.functions.dates import reformat_date
from cyrela_etl_spark.schemas import WALLET_DATE_COLUMNS, WALLET_FEATURE_COLUMNS

# Columns min-max scaled by their global max (reference
# spark/jobs/pr-wallet-data-tf.py:79-118, subqueries A1-A9 in SURVEY.md §2.4).
_SCALED_COLUMNS = [
    "empresa",
    "obra",
    "bloco",
    "unidade",
    "carteira_sd_gerencial",
    "saldo_devedor",
    "valor_pago_atualizado",
    "valor_pago",
    "vgv",
]


def normalize_dates(df: DataFrame, columns: list[str] | None = None) -> DataFrame:
    """Rewrite dd/MM/yyyy date-string columns to ISO yyyy-MM-dd.

    Null/absent values pass through as null (the reference guards with
    ``isinstance(value, str)``, reference dags/s3-etl-wallet-csv.py:53-55;
    ``to_date`` returns null on null/unparseable input, same effect).
    """
    out = df
    for c in columns or WALLET_DATE_COLUMNS:
        out = out.withColumn(c, reformat_date(c))
    return out


def _date_features(col: str, alias_prefix: str) -> list:
    """day/30, month/12, year/2000 over an ISO date *string* — Spark casts
    string→date implicitly inside dayofmonth/month/year, exactly like the
    reference's DAY()/MONTH()/YEAR() over the curated strings
    (reference spark/jobs/pr-wallet-data-tf.py:93-106)."""
    d = F.col(col)
    return [
        (F.dayofmonth(d) / F.lit(30)).alias(f"{alias_prefix}_day"),
        (F.month(d) / F.lit(12)).alias(f"{alias_prefix}_month"),
        (F.year(d) / F.lit(2000)).alias(f"{alias_prefix}_year"),
    ]


def wallet_features(curated: DataFrame) -> DataFrame:
    """34-column feature table from the 23-column curated wallet table.

    One data scan. The nine global maxima come from a single ``agg`` (hash
    aggregate with map-side partials → 1 row) broadcast back via cross join;
    Catalyst plans it as BroadcastNestedLoopJoin of a 1-row relation, i.e.
    a free per-row constant lookup.
    """
    maxima = curated.agg(
        *[F.max(F.col(c)).alias(f"__max_{c}") for c in _SCALED_COLUMNS],
        F.max(F.abs(F.col("dias_atraso"))).alias("__max_abs_dias_atraso"),
    )
    df = curated.crossJoin(F.broadcast(maxima))

    def scaled(c: str) -> F.Column:
        return (F.col(c) / F.col(f"__max_{c}")).alias(f"p_{c}")

    p_marca = (
        F.when(F.lower(F.col("marca")) == "cyrela", F.lit(1))
        .when(F.lower(F.col("marca")) == "living", F.lit(2))
        .when(F.lower(F.col("marca")) == "vivaz", F.lit(3))
        .otherwise(F.lit(0))
        .alias("p_marca")
    )
    # Ordered first-match semantics; dias_atraso is negative days
    # (reference spark/jobs/pr-wallet-data-tf.py:109-112).
    p_dias_cat = (
        F.when(F.col("dias_atraso") >= -30, F.lit(0))
        .when(F.col("dias_atraso") >= -90, F.lit(1))
        .otherwise(F.lit(2))
        .alias("p_dias_atraso_category")
    )
    p_dias = (F.abs(F.col("dias_atraso")) / F.col("__max_abs_dias_atraso")).alias("p_dias_atraso")

    projected = df.select(
        F.col("empresa"),
        scaled("empresa"),
        F.col("marca"),
        p_marca,
        F.col("obra"),
        scaled("obra"),
        F.col("bloco"),
        scaled("bloco"),
        F.col("unidade"),
        scaled("unidade"),
        F.col("dt_venda"),
        *_date_features("dt_venda", "p_dt_venda"),
        F.col("dt_chaves"),
        *_date_features("dt_chaves", "p_dt_chaves"),
        F.col("carteira_sd_gerencial"),
        scaled("carteira_sd_gerencial"),
        F.col("saldo_devedor"),
        scaled("saldo_devedor"),
        *_date_features("data_base", "p_data_base"),
        F.col("dias_atraso"),
        p_dias,
        p_dias_cat,
        F.col("valor_pago_atualizado"),
        scaled("valor_pago_atualizado"),
        F.col("valor_pago"),
        scaled("valor_pago"),
        F.col("vgv"),
        scaled("vgv"),
    )
    assert projected.columns == WALLET_FEATURE_COLUMNS
    return projected


def wallet_pipeline(raw: DataFrame) -> DataFrame:
    """normalize_dates ∘ wallet_features — the full reference pipeline
    (minus the header=1 row-drop, which is a read-time compat option on
    ``read_wallet_csv``)."""
    return wallet_features(normalize_dates(raw))
