"""Shared by every query family: the registry (`QUERIES`/`ORACLE`, filled
by `_q`), the corpus-table reader `_t`, per-application scratch sinks and
the SQL half of the exact-arithmetic helpers (`SC`, `S_MONEY`, `S_MEAN`,
`S_FLOOR`). Their Column half (`cents`, `sum_cents`, `money`, `mean_cents`,
`floor_round`) lives in functions/scalars.py, so operators share it without
importing the registry; it is imported here for the query families.

Dialect rules that keep the value-hash comparison bit-exact
(SURVEY.md §7.3 risk register — learned the hard way):
  - SUMMATION ORDER: engines sum doubles in different orders, so any
    rounded aggregate of doubles can straddle a rounding boundary.
    Money/quantity columns are 2-decimal by construction, so we aggregate
    EXACT INTEGERS (cents: CAST(ROUND(x*100) AS BIGINT)) and rebuild
    doubles with a single identical division chain — bit-identical on
    both engines.
  - ROUNDING RULES: Spark round() is BigDecimal HALF_UP on the shortest
    decimal repr; DuckDB round() is C-style on the binary value — they
    can disagree on the SAME double. Where a round is unavoidable we use
    FLOOR(x*10^k + 0.5)/10^k spelled identically in both dialects.
  - COUNT stays BIGINT on both sides; DuckDB SUM(int) returns HUGEINT,
    so integer sums are CAST(... AS BIGINT) in the oracle.
  - Spark dayofweek() is Sun=1, DuckDB dayofweek() is Sun=0 — bridged.
  - DuckDB regexp_replace needs the 'g' flag to match Spark's
    replace-all default.
  - LIMIT queries carry a unique tie-breaker in ORDER BY.
  - events.ts is parquet TIMESTAMP(MICROS) in every corpus; read it via
    _t, which also accepts TIMESTAMP(NANOS) (sources.catalog).
"""

from __future__ import annotations

import os
import shutil
import tempfile
import time
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.functions.scalars import (  # noqa: F401
    cents,
    floor_round,
    mean_cents,
    money,
    sum_cents,
)

# The one entry point for corpus tables: a scan with the schema the session
# catalog inferred once.
from spark_lakehouse_medallion_pipeline_spark.sources.catalog import table as _t


QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLE: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = fn
        if oracle is not None:
            ORACLE[name] = oracle
        return fn

    return deco


def _scratch_dir(spark: SparkSession, stem: str, sf_dir: str) -> str:
    """Per-application scratch sink under the system tempdir, with a
    stale-sweep (ADVICE r13 #4): materialized-table queries
    (q231/q232/q236/q237/q247/q252/q254/q264/q278/q287/q290 …) write
    overwrite sinks keyed by applicationId so concurrent gate+bench
    apps never share a path — but each application run used to leave
    its copies behind. Before handing out this app's path, sweep
    sibling `spark_graft_<stem>_<tag>_*` dirs belonging to OTHER
    application ids whose mtime is > _SCRATCH_STALE_S old: a LIVE
    concurrent app's sink is written and re-read within a single
    query's execution window (minutes), so a 2-hour threshold can only
    ever collect dead runs. Sweep failures are ignored — another app
    may be sweeping the same corpse."""
    tag = os.path.basename(sf_dir.rstrip("/"))
    app = spark.sparkContext.applicationId
    tmp = _scratch_root()
    prefix = f"spark_graft_{stem}_{tag}_"
    mine = os.path.join(tmp, f"{prefix}{app}")
    now = time.time()
    try:
        for name in os.listdir(tmp):
            if not name.startswith(prefix) or name == os.path.basename(mine):
                continue
            full = os.path.join(tmp, name)
            try:
                if now - os.path.getmtime(full) > _SCRATCH_STALE_S:
                    shutil.rmtree(full, ignore_errors=True)
            except OSError:
                pass
    except OSError:
        pass
    return mine


_SCRATCH_STALE_S = 7200


def _scratch_root() -> str:
    """Root directory for scratch sinks: $SPARK_GRAFT_SCRATCH_DIR when
    set, else tmpfs (/dev/shm) when writable, else the system tempdir.

    Optimization-round change (guide §6): scratch sinks are written and
    re-read within one query — transient shuffle-class I/O, the same
    class session.py already routes to tmpfs for spark.local.dir.
    Under gVisor a 256 KB fsync'd write is ~7x slower on /tmp than on
    /dev/shm (measured 0.97 s vs 0.14 s for 200 writes), and the
    commit protocol's per-file rename/fsync dominates the
    many-small-file layouts q287/q278 deliberately create. On a real
    cluster SPARK_GRAFT_SCRATCH_DIR points at fast executor-local or
    shared storage; the data itself is unchanged either way.

    tmpfs is RAM-backed and typically capped at 50% of RAM, so the
    /dev/shm fallback is gated on free headroom (r15 ADVICE fix): the
    scratch layouts here are micro-file fixtures (tens of MB at the
    bench SFs), but a caller at a large scale factor without
    SPARK_GRAFT_SCRATCH_DIR set must degrade to the disk tempdir, not
    ENOSPC mid-write."""
    env = os.environ.get("SPARK_GRAFT_SCRATCH_DIR")
    if env:
        os.makedirs(env, exist_ok=True)
        return env
    if os.access("/dev/shm", os.W_OK):
        root = "/dev/shm/spark-graft-scratch"
        try:
            st = os.statvfs("/dev/shm")
            # Require 4 GiB of tmpfs headroom — two orders of magnitude
            # above the largest scratch layout any query writes at the
            # driver's bench scale factors.
            if st.f_bavail * st.f_frsize >= 4 << 30:
                os.makedirs(root, exist_ok=True)
                return root
        except OSError:
            pass
    return tempfile.gettempdir()


# SQL-side macros (textual, spelled to match functions.scalars' Column
# helpers op-for-op)
def SC(col: str) -> str:  # noqa: N802
    return f"CAST(ROUND(({col})*100) AS BIGINT)"


def S_MONEY(col: str) -> str:  # noqa: N802
    return f"CAST(SUM({SC(col)}) AS DOUBLE) / 100.0"


def S_MEAN(col: str) -> str:  # noqa: N802
    return f"CAST(SUM({SC(col)}) AS DOUBLE) / COUNT(*) / 100.0"


def S_FLOOR(col: str, k: int) -> str:  # noqa: N802
    s = float(10**k)
    return f"FLOOR(({col})*{s} + 0.5)/{s}"


_DISC_E4 = f"({SC('l_extendedprice')} * (100 - {SC('l_discount')}))"
_CHARGE_E6 = f"({_DISC_E4} * (100 + {SC('l_tax')}))"


def _disc_e4() -> Column:
    return cents(F.col("l_extendedprice")) * (100 - cents(F.col("l_discount")))


def _charge_e6() -> Column:
    return _disc_e4() * (100 + cents(F.col("l_tax")))
