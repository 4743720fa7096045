"""Schema-drift tripwire + dtype-adaptive events reader (``read_table``).

Round 5 burned a whole bench and 8 scored queries when the driver regenerated
events.parquet with ts as TIMESTAMP(MICROS) instead of the historical
INT64 TIMESTAMP(NANOS) and the reader silently assumed the old encoding.
These tests pin both branches of the adaptive reader (a nanos fixture is
written with pyarrow to keep the legacy path covered) and the loud-failure
tripwire — which every registry read of a testdata table runs — so the next
drift is a one-line diagnosis.
"""

from __future__ import annotations

import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import types as T

from cyrela_etl_spark.queries.functionsq import func_string
from cyrela_etl_spark.queries.relational import q05_region_revenue
from cyrela_etl_spark.sources.parquet import (
    SchemaDriftError,
    check_table_schema,
    events_long_ts_schema,
    load_tables,
    normalize_event_ts,
    read_table,
)

_EVENT_COLS = ["event_id", "ts", "user_id", "event_type", "value", "props"]

# Whole-microsecond instants, mixed across both encodings below.
_TS_MICROS = [1700000000_000000, 1700000001_500000, 1700000086_250000]


def _write_events_fixture(dirpath, ts_type) -> str:
    """Write a tiny events.parquet with ts in the given pyarrow type."""
    ts = pa.array([v * 1000 for v in _TS_MICROS], type=pa.int64()).cast(
        pa.timestamp("ns")
    )
    table = pa.table(
        {
            "event_id": pa.array([1, 2, 3], type=pa.int64()),
            "ts": ts.cast(ts_type),
            "user_id": pa.array([10, 20, 10], type=pa.int64()),
            "event_type": pa.array(["click", "view", "click"]),
            "value": pa.array([1.0, 2.0, 3.0], type=pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    dirpath.mkdir(parents=True, exist_ok=True)
    pq.write_table(table, str(dirpath / "events.parquet"))
    return str(dirpath)


@pytest.mark.parametrize("ts_type", [pa.timestamp("ns"), pa.timestamp("us")])
def test_read_events_both_encodings_agree(spark, tmp_path, ts_type):
    from pyspark.sql import functions as F

    sf = _write_events_fixture(tmp_path / str(ts_type).replace("[", "_").replace("]", ""), ts_type)
    df = read_table(spark, sf, "events")
    assert df.columns == _EVENT_COLS
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    got = sorted(r[0] for r in df.select(F.unix_micros("ts")).collect())
    assert got == _TS_MICROS


def test_streaming_schema_then_normalize_both_encodings(spark, tmp_path):
    """The streaming-source pair (declare schema → normalize) must work on
    both physical encodings, matching CORRECTNESS streaming usage."""
    for ts_type in (pa.timestamp("ns"), pa.timestamp("us")):
        sub = tmp_path / f"s_{ts_type!s}".replace("[", "_").replace("]", "")
        sub.mkdir()
        sf = _write_events_fixture(sub, ts_type)
        schema = events_long_ts_schema(spark, sf)
        raw = spark.read.schema(schema).parquet(f"{sf}/events.parquet")
        out = normalize_event_ts(raw)
        assert isinstance(out.schema["ts"].dataType, T.TimestampType)
        assert out.count() == 3


def test_read_events_driver_testdata(spark, sf_dir):
    """The reader works against the driver's current testdata, whatever
    encoding the driver most recently wrote."""
    df = read_table(spark, sf_dir, "events")
    assert isinstance(df.schema["ts"].dataType, T.TimestampType)
    assert df.limit(1).count() == 1


def test_normalize_rejects_unknown_ts_type(spark):
    df = spark.createDataFrame(
        [(1, "not-a-ts", 1, "e", 1.0, "{}")], schema=_EVENT_COLS
    )
    with pytest.raises(SchemaDriftError, match="events.ts"):
        normalize_event_ts(df)


def test_tripwire_names_drifted_column():
    schema = (
        T.StructType()
        .add("event_id", T.LongType())
        .add("ts", T.StringType())  # drifted
        .add("user_id", T.LongType())
        .add("event_type", T.StringType())
        .add("value", T.DoubleType())
        .add("props", T.StringType())
    )
    with pytest.raises(SchemaDriftError, match="column 'ts'"):
        check_table_schema("events", schema)


def test_tripwire_names_missing_column():
    schema = T.StructType().add("event_id", T.LongType())
    with pytest.raises(SchemaDriftError, match="missing expected column"):
        check_table_schema("events", schema)


def test_tripwire_passes_unknown_table():
    check_table_schema("user_table", T.StructType().add("x", T.LongType()))


@pytest.mark.parametrize("scale", ["sf0.001", "sf0.01", "sf0.1"])
def test_load_tables_checks_all_driver_tables(spark, sf_dir, scale):
    out = load_tables(spark, os.path.join(os.path.dirname(sf_dir), scale))
    assert set(out) == {
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    }
    assert isinstance(out["events"].schema["ts"].dataType, T.TimestampType)


def _drifted_copy(src_dir, dst, table: str, column: str) -> str:
    """Copy a testdata dir, rewriting ``table.column`` as a string column."""
    dst.mkdir()
    for fname in os.listdir(src_dir):
        if fname != f"{table}.parquet":
            shutil.copyfile(os.path.join(src_dir, fname), dst / fname)
    t = pq.read_table(os.path.join(src_dir, f"{table}.parquet"))
    i = t.schema.get_field_index(column)
    pq.write_table(t.set_column(i, column, t[column].cast(pa.string())), str(dst / f"{table}.parquet"))
    return str(dst)


@pytest.mark.parametrize(
    "query, table, column",
    [
        (q05_region_revenue, "lineitem", "l_discount"),
        (func_string, "customer", "c_custkey"),
    ],
    ids=["q05_region_revenue", "func_string"],
)
def test_registry_read_trips_on_drifted_column(spark, sf_dir, tmp_path, query, table, column):
    """A drifted column that Spark would silently cast (string → decimal
    in q05's revenue) fails the query build, naming the column."""
    drifted = _drifted_copy(sf_dir, tmp_path / "sf", table, column)
    with pytest.raises(SchemaDriftError, match=f"column '{column}'"):
        query(spark, drifted).collect()
