"""Session table catalog (sources.catalog): schemas inferred once per
session, re-inferred when a table's files change, faithful to a plain
read, conf-neutral and safe on threads."""

from __future__ import annotations

import os
import threading

import pyarrow as pa
import pyarrow.parquet as papq
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.queries import _t

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()
NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


def _fields(schema) -> list[tuple[str, str, bool]]:
    return [(f.name, f.dataType.simpleString(), f.nullable) for f in schema]


def test_catalog_schema_matches_plain_read(spark, sf_dir):
    """Every sf0.01 corpus table reads with the schema a plain read infers,
    nullability included; events with ``ts`` cast from TIMESTAMP_NTZ to
    TIMESTAMP, as the plain-read events reader always returned it."""
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.01")
    s = spark.newSession()
    for name in TABLES:
        plain = s.read.parquet(f"{sf}/{name}.parquet")
        if name == "events":
            assert dict(plain.dtypes)["ts"] == "timestamp_ntz"
            plain = plain.withColumn("ts", F.col("ts").cast("timestamp"))
        for _ in range(2):  # inferred, then cached
            assert _fields(_t(s, sf, name).schema) == _fields(plain.schema), name


def test_catalog_rereads_a_rewritten_table(spark, tmp_path):
    """A table rewritten with other rows and one added column is inferred
    again: the next read sees both. Covered for a single-file table
    (pyarrow) and a directory table (Spark writer)."""
    path = tmp_path / "t.parquet"
    papq.write_table(pa.table({"k": [1, 2]}), str(path))
    assert _t(spark, str(tmp_path), "t").count() == 2
    papq.write_table(pa.table({"k": [3, 4, 5], "extra": ["a", "b", "c"]}), str(path))
    df = _t(spark, str(tmp_path), "t")
    assert df.columns == ["k", "extra"]
    assert sorted(tuple(r) for r in df.collect()) == [(3, "a"), (4, "b"), (5, "c")]

    out = f"{tmp_path}/d.parquet"
    spark.range(3).write.mode("overwrite").parquet(out)
    assert _t(spark, str(tmp_path), "d").count() == 3
    spark.range(10, 14).withColumn("extra", F.col("id") * 2).write.mode(
        "overwrite"
    ).parquet(out)
    df = _t(spark, str(tmp_path), "d")
    assert df.columns == ["id", "extra"]
    assert sorted(tuple(r) for r in df.collect()) == [(i, 2 * i) for i in range(10, 14)]


def test_catalog_events_leave_session_conf_unchanged(spark, tmp_path):
    """Reading nanos and micros events through ``_t`` on a fresh session
    leaves its conf as it was: the nanos-as-long conf is scoped to schema
    inference and never set on the caller's session."""
    s = spark.newSession()
    before = dict(s.conf.getAll)
    assert s.conf.get(NANOS_AS_LONG) == "false"
    ns = [1_704_067_200_123_456_789, 1_719_750_896_999_999_999]
    for unit in ("ns", "us"):
        ts = pa.array(ns, pa.timestamp("ns")).cast(pa.timestamp(unit), safe=False)
        sf = tmp_path / unit
        sf.mkdir()
        papq.write_table(
            pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": ts}),
            str(sf / "events.parquet"),
        )
        ev = _t(s, str(sf), "events")
        micros = ev.orderBy("event_id").select(F.unix_micros("ts")).collect()
        assert [r[0] for r in micros] == [v // 1000 for v in ns], unit
    assert s.conf.get(NANOS_AS_LONG) == "false"
    assert dict(s.conf.getAll) == before


def test_catalog_reads_on_threads_match_serial(spark, sf_dir):
    """Four threads reading through ``_t`` on one fresh session (so their
    first reads race to infer) get the serial schemas and rows."""
    names = ["region", "nation", "supplier", "events"]

    def read_all(s):
        out = {}
        for n in names:
            df = _t(s, sf_dir, n)
            out[n] = (_fields(df.schema), sorted(map(tuple, df.collect())))
        return out

    serial = read_all(spark.newSession())
    shared = spark.newSession()
    start = threading.Barrier(4)
    results: list = [None] * 4

    def worker(i):
        start.wait()
        try:
            results[i] = read_all(shared)
        except Exception as exc:  # noqa: BLE001 - reported by the assert below
            results[i] = exc

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for th in threads:
        th.start()
    for th in threads:
        th.join()
    for got in results:
        assert got == serial
