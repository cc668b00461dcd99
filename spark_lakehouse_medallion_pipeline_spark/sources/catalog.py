"""Session table catalog: each table's parquet schema inferred once per session.

``spark.read.parquet(path)`` without a schema runs a Spark job that reads
file footers to infer one, every time it is called, before the query does
any work of its own. The reference serves its tables through a Hive
Metastore, so a query there never re-derives a schema (SURVEY.md §0). This
module plays that role for a directory of ``<table>.parquet`` files:
``table(spark, sf_dir, name)`` infers a table's schema on its first read in
a session and afterwards scans with that schema given explicitly.

A cached schema is tied to the identity of the table's files: size, mtime
and inode for a single file; the sorted (name, size, mtime) list of a
directory's data files. A rewritten table is therefore inferred again.
Only schemas are cached, never data or results. The cache is per session,
because inference reads session conf, and a lock makes one session safe to
read through from several threads. A path with no local file identity
(a remote URI) is inferred on every read, as a plain read would be.
"""

from __future__ import annotations

import os
import stat
import threading
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_LOCK = threading.Lock()
# session -> {table path: (file identity, inferred schema)}
_SCHEMAS: weakref.WeakKeyDictionary[
    SparkSession, dict[str, tuple[tuple, StructType]]
] = weakref.WeakKeyDictionary()


def table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Scan ``<sf_dir>/<name>.parquet`` with its session-cached schema.

    The events table's ``ts`` comes back as TIMESTAMP whichever parquet
    unit stores it (see ``_events_ts``)."""
    path = f"{sf_dir}/{name}.parquet"
    ident = _identity(path)
    with _LOCK:
        hit = _SCHEMAS.get(spark, {}).get(path)
    if ident is not None and hit is not None and hit[0] == ident:
        schema = hit[1]
    else:
        schema = _infer(spark, path, name)
        if ident is not None:
            with _LOCK:
                _SCHEMAS.setdefault(spark, {})[path] = (ident, schema)
    df = spark.read.schema(schema).parquet(path)
    return _events_ts(df) if name == "events" else df


def _identity(path: str) -> tuple | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    if not stat.S_ISDIR(st.st_mode):
        return (st.st_size, st.st_mtime_ns, st.st_ino)
    files = []
    for root, dirs, names in os.walk(path):
        # Spark's file index skips hidden and metadata entries (_SUCCESS,
        # .crc files, _temporary dirs); so does the identity.
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for n in names:
            if not n.startswith(("_", ".")):
                f = os.stat(os.path.join(root, n))
                rel = os.path.relpath(os.path.join(root, n), path)
                files.append((rel, f.st_size, f.st_mtime_ns))
    return tuple(sorted(files))


def _infer(spark: SparkSession, path: str, name: str) -> StructType:
    if name != "events":
        return spark.read.parquet(path).schema
    # FIXTURES.md's events spec stores ts as TIMESTAMP(NANOS), which Spark
    # refuses to infer unless the legacy conf reads it as a long. The conf
    # is set on a clone of the caller's session (its other conf included),
    # so the caller's own conf never changes. The scan needs no conf: with
    # ts: bigint given explicitly, the reader returns the raw nanos.
    infer = SparkSession(spark.sparkContext, spark._jsparkSession.cloneSession())
    infer.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    return infer.read.parquet(path).schema


def _events_ts(df: DataFrame) -> DataFrame:
    """Every committed corpus stores ``ts`` as TIMESTAMP(MICROS,
    isAdjustedToUTC=false), which Spark 4 reads as TIMESTAMP_NTZ; downstream
    code (unix_millis, window(), range frames) expects TIMESTAMP, and under
    the UTC session timezone (session.py) the cast is value-identical to the
    DuckDB oracle's naive-timestamp reading. A TIMESTAMP(NANOS) file arrives
    as nanos in a long and is rebuilt with INTEGER division: ``ts/1000`` in
    double would lose ~256 ns at 2024 epoch magnitudes and could flip
    millisecond boundaries against the oracle.

    Precision caveat for nanos files: Spark truncates to microseconds and
    DuckDB keeps nanoseconds, so on nano-resolution data order-sensitive
    oracled queries (q12 lag pairs, q24 as-of matches) could diverge at
    sub-microsecond ties."""
    ts_type = dict(df.dtypes).get("ts")
    if ts_type == "bigint":
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    if ts_type == "timestamp_ntz":
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
