"""Z-order clustered layout: min/max file pruning on both dimensions."""

from __future__ import annotations

import glob

import pyarrow.parquet as pq
from pyspark.sql import functions as F

from spark_lakehouse_medallion_pipeline_spark.sources.io import write_zordered


def _files_overlapping_box(path: str, px, sx) -> tuple[int, int]:
    """(files whose l_partkey/l_suppkey min-max stats overlap the box,
    total files) from parquet footers — what a stats-pruning reader skips."""
    touched, total = 0, 0
    for f in sorted(glob.glob(f"{path}/*.parquet")):
        md = pq.read_metadata(f)
        cols = {md.schema.column(i).name: i for i in range(md.num_columns)}
        pmin = min(md.row_group(g).column(cols["l_partkey"]).statistics.min for g in range(md.num_row_groups))
        pmax = max(md.row_group(g).column(cols["l_partkey"]).statistics.max for g in range(md.num_row_groups))
        smin = min(md.row_group(g).column(cols["l_suppkey"]).statistics.min for g in range(md.num_row_groups))
        smax = max(md.row_group(g).column(cols["l_suppkey"]).statistics.max for g in range(md.num_row_groups))
        total += 1
        if pmax >= px[0] and pmin <= px[1] and smax >= sx[0] and smin <= sx[1]:
            touched += 1
    return touched, total


def test_zorder_prunes_both_dimensions(spark, sf_dir, tmp_path):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    lo_p, hi_p, lo_s, hi_s = li.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).collect()[0]
    # Box covering ~12% of each dimension (~1.5% of the plane).
    px = (lo_p, lo_p + (hi_p - lo_p) // 8)
    sx = (lo_s, lo_s + (hi_s - lo_s) // 8)

    natural = str(tmp_path / "natural")
    li.repartitionByRange(16, "l_orderkey").write.parquet(natural)
    zpath = str(tmp_path / "zorder")
    write_zordered(li, zpath, ("l_partkey", "l_suppkey"), num_files=16)

    nat_touched, nat_total = _files_overlapping_box(natural, px, sx)
    z_touched, z_total = _files_overlapping_box(zpath, px, sx)
    assert nat_total >= 8 and z_total >= 8
    # Natural (orderkey) layout: part/supp keys are uniform per file, so
    # essentially every file overlaps the box; z-order confines the box
    # to a few curve segments.
    assert z_touched < nat_touched
    assert z_touched <= z_total // 2

    # Layout must not change query results.
    pred = (
        (F.col("l_partkey") >= px[0]) & (F.col("l_partkey") <= px[1])
        & (F.col("l_suppkey") >= sx[0]) & (F.col("l_suppkey") <= sx[1])
    )
    a = {tuple(r) for r in spark.read.parquet(natural).filter(pred).select("l_orderkey", "l_linenumber").collect()}
    b = {tuple(r) for r in spark.read.parquet(zpath).filter(pred).select("l_orderkey", "l_linenumber").collect()}
    assert a == b and len(a) > 0


def test_hilbert_curve_property(spark):
    """The defining Hilbert property: consecutive indexes are Manhattan-
    adjacent cells (z-order jumps at every power-of-two boundary), and
    the map is a bijection onto [0, side^2)."""
    import typing

    from pyspark.sql import Column

    from spark_lakehouse_medallion_pipeline_spark.sources import io as sio
    from spark_lakehouse_medallion_pipeline_spark.sources.io import hilbert_udf

    # the curve helpers' Column annotations resolve
    assert typing.get_type_hints(sio.spread_bits16) == {"c": Column, "return": Column}

    order, side = 4, 16
    grid = spark.createDataFrame(
        [(x, y) for x in range(side) for y in range(side)], "x long, y long"
    )
    rows = grid.withColumn("d", hilbert_udf(order)(F.col("x"), F.col("y"))).collect()
    by_d = {r["d"]: (r["x"], r["y"]) for r in rows}
    assert sorted(by_d) == list(range(side * side))  # bijection
    for d in range(1, side * side):
        (x1, y1), (x2, y2) = by_d[d - 1], by_d[d]
        assert abs(x1 - x2) + abs(y1 - y2) == 1, f"jump at d={d}"


def test_hilbert_matches_oracle_recurrence(spark):
    """The Arrow UDF and the SQL-unrolled recurrence (what the DuckDB
    oracle runs) agree cell-for-cell on the full order-4 grid."""
    import duckdb

    from spark_lakehouse_medallion_pipeline_spark.sources.io import (
        hilbert_oracle_sql,
        hilbert_udf,
    )

    order, side = 4, 16
    grid = spark.createDataFrame(
        [(x, y) for x in range(side) for y in range(side)], "x long, y long"
    )
    spark_d = {
        (r["x"], r["y"]): r["d"]
        for r in grid.withColumn(
            "d", hilbert_udf(order)(F.col("x"), F.col("y"))
        ).collect()
    }
    con = duckdb.connect()
    sql = (
        "WITH h0 AS (SELECT a.r % 16 AS px, a.r // 16 AS py FROM "
        "(SELECT unnest(range(256)) AS r) a)"
        + hilbert_oracle_sql(order, "px", "py")
        + " SELECT px, py, d4 FROM h4"
    )
    duck_d = {(x, y): d for x, y, d in con.sql(sql).fetchall()}
    assert spark_d == duck_d


def test_hilbert_write_prunes_and_preserves_results(spark, sf_dir, tmp_path):
    from spark_lakehouse_medallion_pipeline_spark.sources.io import (
        write_hilbert_clustered,
    )

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"
    )
    lo_p, hi_p, lo_s, hi_s = li.agg(
        F.min("l_partkey"), F.max("l_partkey"), F.min("l_suppkey"), F.max("l_suppkey")
    ).collect()[0]
    px = (lo_p, lo_p + (hi_p - lo_p) // 8)
    sx = (lo_s, lo_s + (hi_s - lo_s) // 8)

    natural = str(tmp_path / "natural")
    li.repartitionByRange(16, "l_orderkey").write.parquet(natural)
    hpath = str(tmp_path / "hilbert")
    write_hilbert_clustered(li, hpath, ("l_partkey", "l_suppkey"), num_files=16)

    nat_touched, nat_total = _files_overlapping_box(natural, px, sx)
    h_touched, h_total = _files_overlapping_box(hpath, px, sx)
    assert nat_total >= 8 and h_total >= 8
    assert h_touched < nat_touched
    assert h_touched <= h_total // 2

    pred = (
        (F.col("l_partkey") >= px[0]) & (F.col("l_partkey") <= px[1])
        & (F.col("l_suppkey") >= sx[0]) & (F.col("l_suppkey") <= sx[1])
    )
    a = {tuple(r) for r in spark.read.parquet(natural).filter(pred).select("l_orderkey", "l_linenumber").collect()}
    b = {tuple(r) for r in spark.read.parquet(hpath).filter(pred).select("l_orderkey", "l_linenumber").collect()}
    assert a == b and len(a) > 0
