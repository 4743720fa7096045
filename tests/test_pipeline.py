"""Pipeline runner + wallet flow end-to-end through the zone store."""

from __future__ import annotations

import pytest

from cyrela_etl_spark.flows import wallet_flow
from cyrela_etl_spark.pipeline import Pipeline, PipelineError
from cyrela_etl_spark.schemas import WALLET_COLUMNS, wallet_schema
from cyrela_etl_spark.sources.zones import ZoneStore

# A 4-row wallet CSV (23 cols). Row 1 is the header=1 casualty in
# skip_first_data_row mode — the flow output must not contain CLIENTE X1.
_ROWS = [
    ["10", "Cyrela", "E1", "CLIENTE X1", "", "1", "1", "100", "15/03/2019", "20/04/2019",
     "7", "1000.50", "01/06/2020", "0", "0", "-10", "500.25", "250.10", "", "", "", "", "2000.00"],
    ["20", "Living", "E2", "CLIENTE X2", "", "2", "1", "200", "31/01/2018", "28/02/2018",
     "8", "2000.00", "01/06/2020", "0", "0", "-45", "1000.00", "500.00", "", "", "", "", "4000.00"],
    ["30", "VIVAZ", "E3", "CLIENTE X3", "", "3", "1", "300", "01/12/2017", "05/01/2018",
     "9", "3000.75", "01/06/2020", "0", "0", "-120", "1500.00", "750.00", "", "", "", "", "6000.00"],
    ["40", "Outra", "E4", "CLIENTE X4", "", "4", "1", "400", "10/10/2016", "12/11/2016",
     "10", "4000.00", "01/06/2020", "0", "0", "-5", "2000.00", "1000.00", "", "", "", "", "8000.00"],
]


@pytest.fixture
def store(spark, tmp_path) -> ZoneStore:
    s = ZoneStore(spark, str(tmp_path))
    landing = tmp_path / "landing" / "cyrela"
    landing.mkdir(parents=True)
    lines = [",".join(WALLET_COLUMNS)] + [",".join(r) for r in _ROWS]
    (landing / "wallet-data.csv").write_text("\n".join(lines) + "\n")
    return s


def test_runner_retries_then_succeeds():
    pipe = Pipeline()
    attempts = {"n": 0}

    @pipe.stage("flaky", retries=2)
    def flaky(ctx):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("transient")
        return "done"

    results = pipe.run()
    assert results[0].attempts == 3
    assert results[0].value == "done"


def test_runner_exhausts_retries_and_stops():
    pipe = Pipeline()
    ran = []

    @pipe.stage("boom", retries=1)
    def boom(ctx):
        ran.append("boom")
        raise RuntimeError("permanent")

    @pipe.stage("never", retries=0)
    def never(ctx):
        ran.append("never")

    with pytest.raises(PipelineError) as ei:
        pipe.run()
    assert ei.value.stage == "boom"
    assert ei.value.attempts == 2
    assert ran == ["boom", "boom"]  # downstream stage never ran


def test_runner_context_passes_values():
    pipe = Pipeline()

    @pipe.stage("a")
    def a(ctx):
        return 21

    @pipe.stage("b")
    def b(ctx):
        return ctx["a"] * 2

    results = pipe.run()
    assert results[-1].value == 42


def test_wallet_flow_end_to_end(spark, store, tmp_path):
    pipe = wallet_flow(spark, store, skip_first_data_row=True)
    results = pipe.run()
    names = [r.name for r in results]
    assert names == [
        "sense", "promote_processing", "delete_landing",
        "parse_curated", "delete_processing", "features_serving",
    ]

    # Landing and processing inputs were consumed (reference S11/S12).
    assert store.list_keys("landing", "cyrela/") == []
    assert store.list_keys("processing", "cyrela/") == []

    # Curated: ISO dates, header=1 drop applied. The parquet's own schema
    # is wallet_schema(), which features_serving and load_dw declare on
    # read instead of inferring it.
    curated_df = spark.read.parquet(str(tmp_path / "curated" / "cyrela" / "wallet"))
    assert curated_df.schema == wallet_schema()
    curated = curated_df.toPandas()
    assert len(curated) == 3  # 4 rows - first data row
    assert "CLIENTE X1" not in set(curated["cliente"])
    assert set(curated["dt_venda"]) == {"2018-01-31", "2017-12-01", "2016-10-10"}

    # Serving: 34-col feature CSV with correct normalization/bucket labels.
    feats = spark.read.csv(str(tmp_path / "serving" / "cyrela" / "wallet"), header=True).toPandas()
    assert len(feats) == 3 and len(feats.columns) == 34
    by_emp = {int(r["empresa"]): r for _, r in feats.iterrows()}
    assert float(by_emp[40]["p_empresa"]) == 1.0  # 40 / max(40)
    assert int(by_emp[20]["p_marca"]) == 2  # Living
    assert [int(by_emp[e]["p_dias_atraso_category"]) for e in (20, 30, 40)] == [1, 2, 0]


def test_wallet_flow_default_with_multi_file_processing_zone(spark, store, tmp_path):
    """The header=1 drop (default skip_first_data_row=True) must survive a
    processing zone written as several part files: tiny read splits make
    promote_processing write one part file per split."""
    from cyrela_etl_spark.session import scoped_conf

    processing_files: list[str] = []
    delete = store.delete

    def spy_delete(zone, key):
        if zone == "processing":
            processing_files.extend(
                k for k in store.list_keys("processing", "cyrela/") if k.endswith(".csv")
            )
        return delete(zone, key)

    store.delete = spy_delete
    with scoped_conf(spark, {"spark.sql.files.maxPartitionBytes": "256"}):
        wallet_flow(spark, store).run()

    assert len(processing_files) > 1
    curated = spark.read.parquet(str(tmp_path / "curated" / "cyrela" / "wallet")).toPandas()
    assert sorted(curated["cliente"]) == ["CLIENTE X2", "CLIENTE X3", "CLIENTE X4"]


def test_snapshot_diff_classifies_changes(spark):
    from cyrela_etl_spark.sources.zones import snapshot_diff

    old = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", None)],
        "k long, name string, val double",
    )
    new = spark.createDataFrame(
        [(2, "b", 25.0), (3, "c", None), (4, "d", 40.0)],
        "k long, name string, val double",
    )
    got = {r["k"]: r["change"] for r in snapshot_diff(old, new, ["k"]).collect()}
    # 1 deleted, 2 updated, 3 unchanged (null-safe fingerprint), 4 inserted
    assert got == {1: "deleted", 2: "updated", 4: "inserted"}


def test_csv_audited_captures_malformed_rows(spark, tmp_path):
    from pyspark.sql import types as T

    from cyrela_etl_spark.sources.csv import read_csv_audited, split_audited

    p = tmp_path / "in.csv"
    p.write_text(
        "k,v\n"
        "1,10.5\n"
        "2,not_a_number\n"   # malformed double
        "3,30.25\n"
    )
    schema = T.StructType(
        [T.StructField("k", T.LongType()), T.StructField("v", T.DoubleType())]
    )
    # no manual cache: split_audited must handle Spark's corrupt-column-
    # only-projection restriction itself
    df = read_csv_audited(spark, str(p), schema)
    good, bad = split_audited(df)
    assert {(r["k"], r["v"]) for r in good.collect()} == {(1, 10.5), (3, 30.25)}
    bad_rows = [r["raw_line"] for r in bad.collect()]
    assert bad_rows == ["2,not_a_number"]  # raw text preserved for audit
    assert df.count() == 3                 # nothing silently dropped


def test_observed_metrics_single_pass(spark, sf_dir, tmp_path):
    """observe() metrics ride the sink's pass — row/null counts come back
    without a second scan, and gate the zone promotion."""
    from pyspark.sql import functions as F

    from cyrela_etl_spark.pipeline import observed

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    df, obs = observed(
        orders, "dq",
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("o_totalprice").isNull().cast("int")).alias("n_null_price"),
        F.max("o_totalprice").alias("max_price"),
    )
    df.write.mode("overwrite").parquet(str(tmp_path / "out"))  # the ONE action
    m = obs.get
    assert m["n_rows"] == orders.count()
    assert m["n_null_price"] == 0
    assert m["max_price"] > 0
