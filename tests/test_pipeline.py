"""Pipeline runner + wallet flow end-to-end through the zone store."""

from __future__ import annotations

import pytest

from cyrela_etl_spark.flows import wallet_flow
from cyrela_etl_spark.pipeline import Pipeline, PipelineError
from cyrela_etl_spark.schemas import WALLET_COLUMNS
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

    # Curated: ISO dates, header=1 drop applied.
    curated = spark.read.parquet(str(tmp_path / "curated" / "cyrela" / "wallet")).toPandas()
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


def test_zone_table_overwrite_append_lifecycle(spark, sf_dir, tmp_path):
    """Catalog-table layer: overwrite rebinds (even across a NEW root),
    append extends and is visible without re-registration."""
    from pyspark.sql import functions as F

    from cyrela_etl_spark.sources.zones import ZoneStore

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey", "n_name")
    s1 = ZoneStore(spark, str(tmp_path / "r1"))
    s1.promote_table(nation.filter("n_nationkey < 10"), "curated", "nat", "t_zone_nation")
    assert spark.table("t_zone_nation").count() == 10
    s1.promote_table(
        nation.filter("n_nationkey >= 10"), "curated", "nat", "t_zone_nation", mode="append"
    )
    assert spark.table("t_zone_nation").count() == nation.count()
    # overwrite from a DIFFERENT root must rebind the location, not append
    s2 = ZoneStore(spark, str(tmp_path / "r2"))
    s2.promote_table(nation.filter("n_nationkey = 0"), "curated", "nat", "t_zone_nation")
    assert spark.table("t_zone_nation").count() == 1
    assert s2.table("t_zone_nation").collect()[0]["n_nationkey"] == 0
    with pytest.raises(ValueError, match="overwrite|append"):
        s2.promote_table(nation, "curated", "nat", "t_zone_nation", mode="errorifexists")
    spark.sql("DROP TABLE IF EXISTS t_zone_nation")


def test_compact_zone_reduces_files_preserves_data(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from cyrela_etl_spark.sources.zones import ZoneStore, compact_zone

    store = ZoneStore(spark, str(tmp_path))
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    # simulate a streaming sink's small-file mess: 40 tiny files
    store.promote(orders.repartition(40), "curated", "orders")
    before_sum = orders.agg(F.sum("o_orderkey")).collect()[0][0]
    path, n_before, n_after = compact_zone(store, "curated", "orders", target_file_mb=128)
    assert n_before == 40 and n_after < 40
    back = spark.read.parquet(path)
    assert back.count() == orders.count()
    assert back.agg(F.sum("o_orderkey")).collect()[0][0] == before_sum
    import glob

    assert len(glob.glob(f"{path}/*.parquet")) == n_after


def test_upsert_table_replaces_and_inserts(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    from cyrela_etl_spark.sources.zones import ZoneStore, upsert_table

    store = ZoneStore(spark, str(tmp_path))
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey", "n_name")
    store.promote_table(nation, "curated", "nat", "t_upsert_nation")
    updates = spark.createDataFrame(
        [(0, "RENAMED_0"), (999, "BRAND_NEW")], "n_nationkey long, n_name string"
    )
    upsert_table(store, "curated", "nat", "t_upsert_nation", updates, merge_key="n_nationkey")
    got = {r["n_nationkey"]: r["n_name"] for r in spark.table("t_upsert_nation").collect()}
    assert got[0] == "RENAMED_0"          # matched key replaced
    assert got[999] == "BRAND_NEW"        # new key inserted
    assert len(got) == nation.count() + 1  # everything else kept
    spark.sql("DROP TABLE IF EXISTS t_upsert_nation")


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


def test_promote_table_append_refuses_foreign_location(spark, sf_dir, tmp_path):
    """Appending through a store whose path differs from the table's
    registered location must raise — the files would be invisible to
    catalog readers."""
    from cyrela_etl_spark.sources.zones import ZoneStore

    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey")
    s1 = ZoneStore(spark, str(tmp_path / "rootA"))
    s1.promote_table(nation, "curated", "nat", "t_append_guard")
    s2 = ZoneStore(spark, str(tmp_path / "rootB"))
    with pytest.raises(ValueError, match="registered location"):
        s2.promote_table(nation, "curated", "nat", "t_append_guard", mode="append")
    # the table still reads fine from its original location
    assert spark.table("t_append_guard").count() == nation.count()
    spark.sql("DROP TABLE IF EXISTS t_append_guard")


def test_delete_rows_forgets_keys_and_returns_old_snapshot(spark, sf_dir, tmp_path):
    import os

    from pyspark.sql import functions as F

    from cyrela_etl_spark.sources.zones import ZoneStore, delete_rows

    store = ZoneStore(spark, str(tmp_path))
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey", "n_name")
    store.promote_table(nation, "curated", "nat", "t_forget_nation")
    forget = spark.createDataFrame([(0,), (5,), (999,)], "n_nationkey long")
    old_path = delete_rows(
        store, "curated", "nat", "t_forget_nation", forget, merge_key="n_nationkey"
    )
    kept = {r["n_nationkey"] for r in spark.table("t_forget_nation").collect()}
    assert 0 not in kept and 5 not in kept          # requested keys gone
    assert len(kept) == nation.count() - 2          # 999 never existed; rest kept
    # the superseded snapshot still exists (time-travel / rollback) and
    # still CONTAINS the forgotten rows — a complete forget deletes it too
    assert old_path is not None and os.path.exists(old_path.replace("file:", ""))
    old_keys = {r["n_nationkey"] for r in spark.read.parquet(old_path).collect()}
    assert {0, 5} <= old_keys
    spark.sql("DROP TABLE IF EXISTS t_forget_nation")


def test_delete_rows_drop_old_snapshot(spark, sf_dir, tmp_path):
    import os

    from cyrela_etl_spark.sources.zones import ZoneStore, delete_rows

    store = ZoneStore(spark, str(tmp_path))
    nation = spark.read.parquet(f"{sf_dir}/nation.parquet").select("n_nationkey", "n_name")
    store.promote_table(nation, "curated", "nat", "t_forget_nation2")
    loc_before = store._table_location("t_forget_nation2")
    forget = spark.createDataFrame([(1,)], "n_nationkey long")
    out = delete_rows(
        store, "curated", "nat", "t_forget_nation2", forget,
        merge_key="n_nationkey", keep_old_snapshot=False,
    )
    assert out is None
    assert not os.path.exists(loc_before.replace("file:", ""))  # complete forget
    assert spark.table("t_forget_nation2").count() == nation.count() - 1
    spark.sql("DROP TABLE IF EXISTS t_forget_nation2")
