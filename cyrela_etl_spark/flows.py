"""The wallet end-to-end flow: the reference DAG re-expressed as engine
stages over a ZoneStore.

Reference topology (dags/s3-etl-wallet-csv.py:247-248):
    sensor >> list >> copy >> delete_landing >> parse
           >> {spark feature job, delete_processing >> create_table >> load_dw}

Engine mapping: the sensor becomes either the streaming file source
(streaming/ops.read_file_stream) or, for a one-shot run, a list-and-assert
stage; object copy becomes a zone write (a distributed write IS the copy);
the pandas parse becomes normalize_dates; the feature job is
wallet_features; the DW load is write_jdbc (optional — skipped when no
warehouse URL is configured, e.g. in this container).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import SparkSession

from cyrela_etl_spark.operators.wallet import normalize_dates, wallet_features
from cyrela_etl_spark.pipeline import Pipeline
from cyrela_etl_spark.schemas import wallet_schema
from cyrela_etl_spark.sources.csv import read_wallet_csv, write_csv
from cyrela_etl_spark.sources.jdbc import write_jdbc
from cyrela_etl_spark.sources.zones import ZoneStore


def wallet_flow(
    spark: SparkSession,
    store: ZoneStore,
    key: str = "cyrela/wallet-data.csv",
    skip_first_data_row: bool = True,
    jdbc_url: str | None = None,
    jdbc_table: str = "wallet",
    retries: int = 1,
    retry_delay_s: float = 0.0,
) -> Pipeline:
    """Build the landing→processing→curated→serving wallet pipeline.

    Each stage mirrors one reference DAG task; per-stage retry mirrors the
    reference default_args (retries=1, delay configurable — the reference
    uses 300 s, dags/s3-etl-wallet-csv.py:38-39).
    """
    pipe = Pipeline()
    prefix = key.rsplit("/", 1)[0] + "/" if "/" in key else ""

    @pipe.stage("sense", retries=retries, retry_delay_s=retry_delay_s)
    def sense(ctx: dict[str, Any]):
        keys = store.list_keys("landing", prefix)
        if not keys:
            raise FileNotFoundError(f"no input under landing/{prefix}")
        return keys

    @pipe.stage("promote_processing", retries=retries, retry_delay_s=retry_delay_s)
    def promote_processing(ctx: dict[str, Any]):
        # The reference's pandas header=1 quirk drops the raw file's first
        # data row. Drop it here, while the input is still that one file:
        # the processing write may split it into several part files.
        raw = read_wallet_csv(
            spark, store.path("landing", key), skip_first_data_row=skip_first_data_row
        )
        return store.promote(raw, "processing", key, fmt="csv")

    @pipe.stage("delete_landing", retries=retries, retry_delay_s=retry_delay_s)
    def delete_landing(ctx: dict[str, Any]):
        return store.delete("landing", key)

    @pipe.stage("parse_curated", retries=retries, retry_delay_s=retry_delay_s)
    def parse_curated(ctx: dict[str, Any]):
        # The reference's pandas leg: date reformat dd/MM/yyyy → ISO,
        # processing CSV → curated (the header=1 row drop already happened
        # at promote_processing). Curated is parquet here (columnar zone
        # interior; CSV only at lake edges).
        raw = read_wallet_csv(spark, store.path("processing", key))
        curated = normalize_dates(raw)
        return store.promote(curated, "curated", "cyrela/wallet", fmt="parquet")

    @pipe.stage("delete_processing", retries=retries, retry_delay_s=retry_delay_s)
    def delete_processing(ctx: dict[str, Any]):
        return store.delete("processing", key)

    @pipe.stage("features_serving", retries=retries, retry_delay_s=retry_delay_s)
    def features_serving(ctx: dict[str, Any]):
        # parse_curated wrote this parquet with wallet_schema() one stage
        # earlier: declaring it skips the footer-inference job of a bare
        # read (tests/test_pipeline.py pins the two schemas equal).
        curated = spark.read.schema(wallet_schema()).parquet(ctx["parse_curated"])
        feats = wallet_features(curated)
        target = store.path("serving", "cyrela/wallet")
        write_csv(feats, target)
        return target

    if jdbc_url is not None:

        @pipe.stage("load_dw", retries=retries, retry_delay_s=retry_delay_s)
        def load_dw(ctx: dict[str, Any]):
            curated = spark.read.schema(wallet_schema()).parquet(ctx["parse_curated"])
            write_jdbc(curated, jdbc_url, jdbc_table)
            return jdbc_table

    return pipe
