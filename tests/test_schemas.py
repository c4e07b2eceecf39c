"""Schema-contract tests: the declared StructType contracts in schemas.py
must match what the driver's testdata actually carries (names + types for
the columns we declare) — catches silent testdata drift between rounds."""

from __future__ import annotations

import pytest

from data_warehouse_product_mix_clustering_spark import schemas as S
from data_warehouse_product_mix_clustering_spark.sources.registry import table

from conftest import SF_SMOKE

DECLARED = {
    "lineitem": S.LINEITEM,
    "orders": S.ORDERS,
    "events": S.EVENTS,
    "documents": S.DOCUMENTS,
    "embeddings": S.EMBEDDINGS,
}


@pytest.mark.parametrize("name", sorted(DECLARED))
def test_testdata_matches_declared_schema(spark, name):
    actual = {f.name: f.dataType.simpleString() for f in table(spark, name, SF_SMOKE).schema}
    for field in DECLARED[name]:
        assert field.name in actual, f"{name}: missing column {field.name}"
        assert actual[field.name] == field.dataType.simpleString().replace(
            "timestamp_ntz", "timestamp"
        ) or actual[field.name] in (
            field.dataType.simpleString(),
            field.dataType.simpleString().replace("timestamp", "timestamp_ntz"),
        ), (
            f"{name}.{field.name}: declared {field.dataType.simpleString()}, "
            f"testdata has {actual[field.name]}"
        )


def test_all_testdata_tables_load(spark):
    for name in S.TESTDATA_TABLES:
        df = table(spark, name, SF_SMOKE)
        assert df.count() > 0, f"{name} empty"


@pytest.mark.parametrize("unit", ["us", "ns"])
def test_events_loader_handles_both_ts_encodings(spark, tmp_path, unit):
    """The events loader must type-gate its ts fixup: timestamp[us] files
    (current testdata) pass through as-is, TIMESTAMP(NANOS) files (round 1-2
    testdata) are read as epoch-nanos longs and truncated to µs. Round 3
    shipped with the nanos division applied unconditionally, which crashed
    every events query when the testdata switched to µs — this test pins
    both vintages so a future encoding change is a red unit test, not a
    crashed bench."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    t1 = t0 + dt.timedelta(hours=1, microseconds=123456)
    tbl = pa.table(
        {
            "event_id": pa.array([1, 2], pa.int64()),
            "ts": pa.array([t0, t1], pa.timestamp(unit)),
            "user_id": pa.array([10, 20], pa.int64()),
            "event_type": pa.array(["view", "purchase"]),
            "value": pa.array([1.0, 2.0]),
            "props": pa.array(["{}", "{}"]),
        }
    )
    d = tmp_path / unit
    d.mkdir()
    # version=2.6 preserves TIMESTAMP(NANOS) on disk for unit="ns"
    pq.write_table(tbl, str(d / "events.parquet"), version="2.6")
    df = table(spark, "events", str(d))
    assert df.schema["ts"].dataType.simpleString() == "timestamp"
    got = sorted(r.ts for r in df.select("ts").collect())
    assert got == [t0, t1], f"{unit}: {got}"


def test_table_scan_metadata_cached(spark):
    """Repeated table() calls return the SAME resolved scan DataFrame —
    the metadata cache that keeps plan construction from re-listing the
    path and re-reading parquet footers per query build. Different paths
    (and the events normalization) must not collide."""
    from data_warehouse_product_mix_clustering_spark.sources.registry import table

    a = table(spark, "orders", "/root/testdata/sf0.001")
    b = table(spark, "orders", "/root/testdata/sf0.001")
    assert a is b, "same (session, path) must hit the cache"
    c = table(spark, "orders", "/root/testdata/sf0.01")
    assert c is not a, "different sf_dir must not collide"
    ev1 = table(spark, "events", "/root/testdata/sf0.001")
    ev2 = table(spark, "events", "/root/testdata/sf0.001")
    assert ev1 is ev2
    assert dict(ev1.dtypes)["ts"].startswith("timestamp"), (
        "cached events scan must be the NORMALIZED one"
    )
