"""Smoke: session config + parquet round-trip (reference smoke.py, CM:416-448)."""

from __future__ import annotations
import pytest

from spark_lakehouse_medallion_pipeline_spark.medallion.pipeline import smoke
from spark_lakehouse_medallion_pipeline_spark.sources.io import read_parquet, write_parquet


def test_session_config(spark):
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"


def test_smoke_roundtrip(spark, tmp_path):
    assert smoke(spark, str(tmp_path)) == 100


def test_parquet_roundtrip_preserves_schema(spark, tmp_path):
    df = spark.range(10).selectExpr("id", "cast(id as double) * 1.5 as v", "uuid() as u")
    path = str(tmp_path / "rt")
    write_parquet(df, path)
    back = read_parquet(spark, path)
    assert dict(back.dtypes) == dict(df.dtypes)
    assert back.count() == 10


def test_entry_contract(spark):
    """The driver's smoke check: entry() runs and yields >= 0 rows."""
    import __spark_entry__ as em

    df = em.entry(spark)
    assert df.count() >= 0
    qs, oracles = em.queries(), em.oracle_sql()
    assert set(oracles) <= set(qs)
    assert len(qs) >= 40


def test_csv_json_orc_roundtrip(spark, tmp_path):
    df = spark.range(100).selectExpr(
        "id", "CAST(id * 1.5 AS DOUBLE) AS v", "concat('row_', id) AS name"
    )
    want = sorted(map(tuple, df.collect()))

    p_csv = str(tmp_path / "t_csv")
    df.write.mode("overwrite").option("header", "true").csv(p_csv)
    got_csv = sorted(
        map(tuple, spark.read.option("header", "true").schema(df.schema).csv(p_csv).collect())
    )
    assert got_csv == want

    p_json = str(tmp_path / "t_json")
    df.write.mode("overwrite").json(p_json)
    got_json = sorted(
        map(tuple, spark.read.schema(df.schema).json(p_json).select(*df.columns).collect())
    )
    assert got_json == want

    p_orc = str(tmp_path / "t_orc")
    df.write.mode("overwrite").orc(p_orc)
    got_orc = sorted(map(tuple, spark.read.orc(p_orc).collect()))
    assert got_orc == want


def test_compact_parquet(spark, tmp_path):
    from spark_lakehouse_medallion_pipeline_spark.sources import io as sio

    path = str(tmp_path / "frag")
    spark.range(10_000).selectExpr("id", "id % 7 AS k").repartition(64).write.parquet(path)
    import pathlib

    assert sum(1 for _ in pathlib.Path(path).rglob("*.parquet")) >= 32
    n = sio.compact_parquet(spark, path, target_file_mb=128)
    assert n <= 4
    assert spark.read.parquet(path).count() == 10_000


def test_merge_upsert_parquet(spark, tmp_path):
    from spark_lakehouse_medallion_pipeline_spark.sources.io import merge_upsert_parquet

    path = str(tmp_path / "snap")
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    merge_upsert_parquet(spark, base, path, "k", [1, 2, 3])
    assert spark.read.parquet(path).count() == 3

    updates = spark.createDataFrame(
        [(2, "B", 99.0), (4, "d", 40.0)], "k long, s string, v double"
    )
    merge_upsert_parquet(spark, updates, path, "k", [2, 4])
    got = {r["k"]: (r["s"], r["v"]) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10.0), 2: ("B", 99.0), 3: ("c", 30.0), 4: ("d", 40.0)}


def test_merge_upsert_parquet_refuses_column_mismatch(spark, tmp_path):
    """The current snapshot is read with the updates' schema, which would
    drop an extra column and null-fill a missing one; the footer check
    refuses both, and the snapshot stays as it was."""
    import pytest

    from spark_lakehouse_medallion_pipeline_spark.sources.io import merge_upsert_parquet

    updates = spark.createDataFrame([(2, "B")], "k long, s string")
    for n, schema in enumerate(("k long, s string, extra double", "k long")):
        path = str(tmp_path / f"gold{n}")
        cols = [c.split()[0] for c in schema.split(", ")]
        spark.createDataFrame([(1,) + (None,) * (len(cols) - 1)], schema).write.parquet(path)
        with pytest.raises(ValueError, match="has columns"):
            merge_upsert_parquet(spark, updates, path, "k", [2])
        assert spark.read.parquet(path).columns == cols


def test_schema_evolution_merged_read(spark, tmp_path):
    """Parquet files written with evolving schemas reconcile to the union
    schema under a mergeSchema read; a plain read sees only one footer's
    schema. This is the no-catalog analogue of the reference's Iceberg
    createOrReplace evolution (CM:327-329)."""
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "k long, s string").write.parquet(path)
    spark.createDataFrame(
        [(2, "b", 2.5)], "k long, s string, score double"
    ).write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"k", "s", "score"}
    rows = {r["k"]: r["score"] for r in merged.collect()}
    assert rows[2] == 2.5 and rows[1] is None


def test_write_table_schema_evolution(spark, tmp_path):
    """write_table replaces a managed table's schema on rewrite
    (overwriteSchema) — the Delta/Iceberg createOrReplace contract; the
    parquet fallback in this container honors the same semantics."""
    from spark_lakehouse_medallion_pipeline_spark.sources.io import write_table

    v1 = spark.createDataFrame([(1, "a")], "k long, s string")
    write_table(v1, "default.evolve_t")
    assert set(spark.table("default.evolve_t").columns) == {"k", "s"}

    v2 = spark.createDataFrame([(1, "a", True)], "k long, s string, flag boolean")
    write_table(v2, "default.evolve_t")
    got = spark.table("default.evolve_t")
    assert set(got.columns) == {"k", "s", "flag"}
    assert got.head()["flag"] is True
    spark.sql("DROP TABLE IF EXISTS default.evolve_t")


def test_maintenance_ops_refuse_object_store_paths(spark):
    """The rename-based fallbacks are local-FS only by contract."""
    import pytest as _pytest

    from spark_lakehouse_medallion_pipeline_spark.sources import io as sio

    df = spark.range(1)
    with _pytest.raises(NotImplementedError, match="LOCAL-filesystem"):
        sio.compact_parquet(spark, "s3a://bucket/table")
    with _pytest.raises(NotImplementedError, match="LOCAL-filesystem"):
        sio.merge_upsert_parquet(spark, df, "abfs://c@a.dfs.core.windows.net/t", "id", [0])


def test_local_maintenance_ops_accept_file_uris(spark, tmp_path):
    """A ``file:`` URI names the same local table as its plain path: each
    rename-based maintenance op gives the same rows through either form
    and leaves no staging, old or temp directory behind, and the snapshot
    readers (current and time-travel reads, version listing, vacuum) see
    the same table through either form."""
    from spark_lakehouse_medallion_pipeline_spark.sources import io as sio

    base = spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, s string")
    updates = spark.createDataFrame([(2, "B"), (4, "d")], "k long, s string")

    def rows(df):
        return sorted(map(tuple, df.collect()))

    got = {}
    snap = {}
    for form in ("plain", "uri"):
        root = tmp_path / form
        root.mkdir()

        def at(name):
            return str(root / name) if form == "plain" else (root / name).as_uri()

        base.repartition(3).write.parquet(str(root / "frag"))
        n_files = sio.compact_parquet(spark, at("frag"))
        sio.merge_upsert_parquet(spark, base, at("gold"), "k", [1, 2, 3])
        sio.merge_upsert_parquet(spark, updates, at("gold"), "k", [2, 4])
        sio.write_snapshot(spark, base, at("snap"))
        sio.merge_upsert_snapshot(spark, updates, at("snap"), ["k"])
        got[form] = (
            n_files,
            rows(spark.read.parquet(str(root / "frag"))),
            rows(spark.read.parquet(str(root / "gold"))),
            rows(sio.read_snapshot(spark, str(root / "snap"))),
        )
        assert sorted(p.name for p in root.iterdir()) == ["frag", "gold", "snap"]
        assert sorted(p.name for p in (root / "snap").iterdir()) == ["_CURRENT", "v=1", "v=2"]
        snap[form] = (
            rows(sio.read_snapshot(spark, at("snap"))),
            rows(sio.read_snapshot(spark, at("snap"), version=1)),
            sio.snapshot_versions(at("snap")),
            sio.vacuum_snapshots(at("snap"), keep=1),
            sio.snapshot_versions(at("snap")),
        )
        assert sorted(p.name for p in (root / "snap").iterdir()) == ["_CURRENT", "v=2"]
    assert got["uri"] == got["plain"]
    assert snap["uri"] == snap["plain"] == (
        [(1, "a"), (2, "B"), (3, "c"), (4, "d")],
        [(1, "a"), (2, "b"), (3, "c")],
        [1, 2],
        [1],
        [2],
    )
    assert got["plain"][1:] == (
        [(1, "a"), (2, "b"), (3, "c")],
        [(1, "a"), (2, "B"), (3, "c"), (4, "d")],
        [(1, "a"), (2, "B"), (3, "c"), (4, "d")],
    )


def test_snapshot_table_versioned_commits(spark, tmp_path):
    """Snapshot commits are reader-safe: a reader planned against v1
    still scans v1's intact files after v2 commits (no missing-table
    window, unlike the rename-pair fallback); time travel and vacuum
    follow the Delta retention contract."""
    import pytest

    from spark_lakehouse_medallion_pipeline_spark.sources import io as sio

    tdir = str(tmp_path / "snap")
    v1 = sio.write_snapshot(
        spark, spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), tdir
    )
    assert v1 == 1
    reader_v1 = sio.read_snapshot(spark, tdir)  # plan pinned to v=1 path

    v2 = sio.write_snapshot(
        spark, spark.createDataFrame([(1, "a2")], "k long, v string"), tdir
    )
    assert v2 == 2
    # concurrent-reader guarantee: the v1 plan still reads complete data
    assert sorted(r["v"] for r in reader_v1.collect()) == ["a", "b"]
    assert [r["v"] for r in sio.read_snapshot(spark, tdir).collect()] == ["a2"]
    # time travel
    assert sio.read_snapshot(spark, tdir, version=1).count() == 2

    # upsert commits a third version: k=1 replaced, k=3 appended
    v3 = sio.merge_upsert_snapshot(
        spark,
        spark.createDataFrame([(1, "a3"), (3, "c")], "k long, v string"),
        tdir,
        ["k"],
    )
    assert v3 == 3
    got = {r["k"]: r["v"] for r in sio.read_snapshot(spark, tdir).collect()}
    assert got == {1: "a3", 3: "c"}

    assert sio.vacuum_snapshots(tdir, keep=2) == [1]
    assert sio.snapshot_versions(tdir) == [2, 3]
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        sio.read_snapshot(spark, tdir, version=1)
    # keep=0 drops every older version but never the live one
    assert sio.vacuum_snapshots(tdir, keep=0) == [2]
    assert sio.snapshot_versions(tdir) == [3]
    got = {r["k"]: r["v"] for r in sio.read_snapshot(spark, tdir).collect()}
    assert got == {1: "a3", 3: "c"}


def test_read_events_accepts_nanos_and_micros(spark, tmp_path):
    """``events.ts`` may be stored as TIMESTAMP(NANOS) (FIXTURES.md's
    ``timestamp[ns]`` spec) or TIMESTAMP(MICROS) (every committed
    corpus); both read through ``_t`` as a TIMESTAMP column truncated to
    the same micros."""
    import pyarrow as pa
    import pyarrow.parquet as papq
    from pyspark.sql import functions as F

    from spark_lakehouse_medallion_pipeline_spark.queries._common import _t

    ns = [1_704_067_200_123_456_789, 1_719_750_896_999_999_999]
    want = [v // 1000 for v in ns]  # 2024-01-01 00:00:00.123456, ...
    got = {}
    for unit in ("ns", "us"):
        ts = pa.array(ns, pa.timestamp("ns")).cast(pa.timestamp(unit), safe=False)
        sf = tmp_path / unit
        sf.mkdir()
        papq.write_table(
            pa.table({"event_id": pa.array([1, 2], pa.int64()), "ts": ts}),
            str(sf / "events.parquet"),
        )
        assert papq.read_schema(str(sf / "events.parquet")).field("ts").type.unit == unit
        ev = _t(spark, str(sf), "events")
        assert dict(ev.dtypes)["ts"] == "timestamp"
        micros = ev.orderBy("event_id").select(F.unix_micros("ts")).collect()
        got[unit] = [r[0] for r in micros]
    assert got["ns"] == got["us"] == want


@pytest.mark.slow
def test_python_datasource_partition_slicing(spark):
    """synthetic_docs custom source: exact row count under uneven
    ceil-division slicing, executor-side parallelism equal to the
    partitions option, and values independent of the partitioning."""
    from spark_lakehouse_medallion_pipeline_spark.sources import pydatasource

    pydatasource.register(spark)

    def load(rows, parts):
        return (
            spark.read.format("synthetic_docs")
            .option("rows", str(rows))
            .option("partitions", str(parts))
            .load()
        )

    df = load(103, 8)  # 103 does not divide by 8 -> last slice short
    assert df.count() == 103
    assert df.rdd.getNumPartitions() == 8
    assert df.select("doc_id").distinct().count() == 103
    # repartitioning the SOURCE must not change the data
    a = sorted(load(50, 7).collect())
    b = sorted(load(50, 2).collect())
    assert a == b


def test_readme_counts_match_code():
    """README battery/headline counts are self-verifying (VERDICT r6
    Next #6: the counts drifted silently for two rounds): the README
    must state the CURRENT len(QUERIES), oracled count, and
    len(bench.HEADLINE) — this test fails on the next drift."""
    from pathlib import Path

    import bench
    from spark_lakehouse_medallion_pipeline_spark.queries import ORACLE, QUERIES

    readme = Path(__file__).resolve().parent.parent.joinpath("README.md").read_text()
    n_q = len(QUERIES)
    assert f"{n_q}-entry battery ({n_q - 2} queries + 2 medallion" in readme
    assert f"{len(bench.HEADLINE)} headline entries = len(bench.HEADLINE)" in readme
    assert f"({len(bench.HEADLINE) - 1} queries + medallion_gold_kpis" in readme
    assert f"make {len(ORACLE)}/{n_q} battery entries" in readme


_REGISTRY_HEAD_50 = [
    "q01_pricing_summary", "q19_daily_event_kpis", "q41_scalar_battery",
    "q294_aqe_partition_coalescing", "q277_topk_with_ties",
    "q295_rebalance_write_rescue", "q245_cusum_changepoint",
    "q266_salted_skew_aggregate", "q279_zorder_interleave_audit",
    "q248_kaplan_meier", "q269_incremental_view_maintenance",
    "q268_heavy_hitters_exact", "q273_distribution_drift_tvd",
    "q275_scd2_dimension_history", "q293_aqe_skew_join_rescue",
    "q280_watermark_late_data_audit", "q289_stream_outer_join_timing",
    "q281_scd2_incremental_merge", "q290_dynamic_partition_pruning",
    "q297_aqe_broadcast_conversion", "q285_stream_stream_interval_join",
    "q261_ols_trend_slope", "q271_gap_fill_interpolate",
    "q282_replica_divergence_audit", "q296_stateful_stream_state_recovery",
    "q67_dedup_clusters", "q255_ks_two_sample", "q286_salted_skew_join",
    "q200_jpeg_image_features", "q274_consistent_hash_rebalance",
    "q283_majority_vote_repair", "q238_blocking_quality",
    "q272_sequence_motif_match", "q299_exactly_once_merge_sink",
    "q201_pq_codes_int", "q287_compaction_execute", "q288_bloom_zone_pruning",
    "q263_inverted_index", "q298_stream_dedup_ttl_replay",
    "q262_erasure_cascade_audit", "q276_interval_overlap_join",
    "q246_hhi_concentration", "q256_mann_kendall_trend",
    "q237_jsonl_quarantine", "q291_stream_crash_recovery",
    "q265_weighted_systematic_sample", "q254_snapshot_time_travel",
    "q278_sorted_write_zonemap", "q284_sortedness_audit",
    "q292_stream_window_emission_timing",
]


def test_registry_pinned():
    """The registry's entry set, the driver's 50-entry head and every
    oracle SQL string, pinned by a digest: moving or sharing code between
    entries must leave all three byte-identical."""
    import hashlib

    from spark_lakehouse_medallion_pipeline_spark.queries import ORACLE, QUERIES

    assert (len(QUERIES), len(ORACLE)) == (301, 289)
    assert list(QUERIES)[:50] == _REGISTRY_HEAD_50
    text = "\n".join(f"{n}\t{ORACLE.get(n, '')}" for n in sorted(QUERIES))
    assert hashlib.sha256(text.encode()).hexdigest() == (
        "339237c9b49ee6dcdea063283bc617c4a39a2456e899ab516a868c9f467c77c7"
    )


def test_no_bare_round_on_aggregated_double():
    """Dialect rule (queries/_common.py): never a bare F.round over an
    aggregated double. Engines sum doubles in different orders, so
    round(sum(x)) can land on either side of a rounding boundary; money
    aggregates exact cents (functions.scalars.money/sum_cents) and any
    other unavoidable round is floor_round. Fails on any F.round whose
    first argument contains an F.sum/F.avg/F.mean call."""
    import ast
    from pathlib import Path

    def called(node):
        return isinstance(node, ast.Call) and (
            getattr(node.func, "attr", None) or getattr(node.func, "id", None)
        )

    pkg = Path(__file__).resolve().parent.parent / "spark_lakehouse_medallion_pipeline_spark"
    offenders = [
        f"{p.relative_to(pkg.parent)}:{n.lineno} {ast.unparse(n)}"
        for p in sorted(pkg.rglob("*.py"))
        for n in ast.walk(ast.parse(p.read_text()))
        if called(n) == "round"
        and getattr(n.func, "value", None) is not None
        and getattr(n.func.value, "id", None) == "F"
        and n.args
        and any(called(m) in {"sum", "avg", "mean"} for m in ast.walk(n.args[0]))
    ]
    assert not offenders, offenders


def test_sketch_stats_rel_error_vs_exact(spark):
    """q199's sketches must track q193's exact answers (the q30
    discipline): NDV within 5% (HLL++ default rsd), quartiles within
    1% (percentile_approx accuracy 10000), and the exact columns
    (counts/min/max) must be identical."""
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES

    sf = "/root/testdata/sf0.001"
    exact = {r["col"]: r for r in QUERIES["q193_column_stats"](spark, sf).collect()}
    approx = {
        r["col"]: r for r in QUERIES["q199_column_stats_sketch"](spark, sf).collect()
    }
    assert set(exact) == set(approx) and len(exact) == 4
    for c in exact:
        e, a = exact[c], approx[c]
        assert (e["n_rows"], e["n_nulls"], e["min_c"], e["max_c"]) == (
            a["n_rows"], a["n_nulls"], a["min_c"], a["max_c"]
        )
        assert abs(a["ndv_approx"] - e["ndv"]) <= 0.05 * e["ndv"], c
        for p in ("p25_c", "p50_c", "p75_c"):
            tol = max(0.01 * abs(e[p]), 1.0)
            assert abs(a[p] - e[p]) <= tol, (c, p, e[p], a[p])


def test_bm25_ranking_semantics(spark):
    """q202 on a hand-built corpus: docs rich in the top query terms
    must outrank docs without them, absent-term docs score exactly 0,
    and the BM25 length normalization must rank a short match above a
    long one at equal tf."""
    import __spark_entry__ as entry

    # top-3 query terms by (count DESC, token ASC): alpha(5), beta(3),
    # gamma(2) — the fillers in doc 2 are count-1 so they can never
    # enter the query
    rows = [
        (1, "alpha alpha alpha beta"),
        (2, "alpha beta f1 f2 f3 f4 f5 f6"),
        (3, "iota kappa"),
        (4, "alpha beta"),
        (5, "gamma gamma"),
    ]
    import tempfile, os
    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES

    with tempfile.TemporaryDirectory() as tmp:
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            os.path.join(tmp, "documents.parquet")
        )
        out = {r["doc_id"]: r for r in QUERIES["q202_bm25_ranking"](spark, tmp).collect()}
    assert out[3]["score_e6"] == 0  # none of the top-3 terms
    assert out[1]["score_e6"] > out[4]["score_e6"] > 0  # tf dominance
    # doc 4 (len 2) vs doc 2 (len 8): same tf=1 for alpha+beta, shorter
    # doc scores higher under b=0.75 length normalization
    assert out[4]["score_e6"] > out[2]["score_e6"]


def test_bench_compact_line_fits_capture_window():
    """The driver records only the LAST 2000 chars of bench stdout and
    parses the final line (round 7 lost the per-query map to this).
    Build the compact line with bench.py's OWN helper from the
    committed full record — shared code, so the guard can never drift
    from the real output — and pin it under the degrade threshold;
    then verify the degrade ladder keeps even a heavily-failing run
    inside the window."""
    import json
    from pathlib import Path

    import bench

    import re

    full_path = Path(__file__).resolve().parent.parent / "BENCH_FULL_LATEST.json"
    full = json.loads(full_path.read_text())

    def short(k):
        m = re.match(r"q(\d+)", k)
        return m.group(1) if m else ("medallion" if k == "medallion_gold_kpis" else k)

    all_keys = {short(k) for k in full["queries"]}

    def assert_complete(rec, label):
        ln = bench.build_compact_line(rec)
        assert len(ln) <= 1950, (
            f"[{label}] compact bench line is {len(ln)} chars — it will "
            "overflow the driver's 2000-char capture; trim the envelope "
            "or add a precision rung"
        )
        p = json.loads(ln)
        # r15 no-omission contract (VERDICT r14 Next #1): every benched
        # entry must appear in the final line — a query that gets FASTER
        # must never read as dropped (8 phantom drops in PERF_r14).
        missing = all_keys - set(p["queries"])
        assert not missing, f"[{label}] omitted from compact line: {sorted(missing)[:10]}"
        # an entry that ran must never print as 0 (q271 ran 0.483 s and
        # printed "271":0 below the precision rung)
        zeros = sorted(k for k, v in p["queries"].items() if v == 0)
        assert not zeros, f"[{label}] entries that ran printed as 0: {zeros[:10]}"
        return p

    full["queries"] = dict(full["queries"], q271_gap_fill_interpolate=0.483)
    parsed = assert_complete(full, "clean")
    # precision contract: the adaptive encoder must afford 1-decimal
    # values for at least the 2-10s band at the current battery size
    # (the driver's 8-vs-32-core scaling ratios read these)
    decs = [k for k, v in parsed["queries"].items() if isinstance(v, float)]
    assert len(decs) >= 10, f"too few 1-decimal entries survived: {decs}"

    # 8-core-shaped run: uniformly slower timings must stay complete
    assert_complete(
        dict(full, queries={k: v * 1.8 for k, v in full["queries"].items()}),
        "low-cpu",
    )

    # degrade ladder: inject 8 failed queries with max-length messages —
    # the line must still parse, fit, and stay complete (r7 failure mode)
    wrecked = dict(full)
    wrecked["errors"] = {
        f"q{900 + i}_totally_broken_query_name": "x" * 200 for i in range(8)
    }
    assert_complete(wrecked, "wrecked")


def test_bench_contention_guard():
    """The r10 driver recording (spread 184.6%, medallion_e2e_1m min-of-2
    at 83 s vs a committed 16 s for identical code) would have poisoned
    round-over-round comparison if read at face value. The guard flags
    (a) >25% headline spread, (b) any named section min > 2x the
    committed prior's min — and a flagged record's compact line carries
    the marker through every degrade step."""
    import json

    import bench

    quiet = {
        "spread_pct": 12.0,
        "medallion_e2e_1m_runs_sec": [15.0, 16.2],
    }
    prior = {"variance": {"medallion_e2e_1m_runs_sec": [16.0, 17.1]}}
    assert bench.contention_reasons(quiet, prior) == []
    assert bench.contention_reasons(quiet, None) == []

    # arm (a): the r10 driver spread
    hot = dict(quiet, spread_pct=184.6)
    assert any("spread" in r for r in bench.contention_reasons(hot, prior))
    # arm (b): e2e_1m at 83 s vs committed 16 s
    slow = {"spread_pct": 12.0, "medallion_e2e_1m_runs_sec": [83.3, 251.0]}
    assert any(
        "medallion_e2e_1m" in r for r in bench.contention_reasons(slow, prior)
    )
    # a contended prior is not a comparator: arm (b) must not fire
    tainted_prior = dict(prior, contended=True)
    assert bench.contention_reasons(slow, tainted_prior) == []
    # sub-2s priors never trip (jitter guard)
    tiny = {"spread_pct": 5.0, "x_runs_sec": [4.0, 4.1]}
    tiny_prior = {"variance": {"x_runs_sec": [1.0, 1.1]}}
    assert bench.contention_reasons(tiny, tiny_prior) == []
    # r15 tightened band: a >=5s prior trips at 1.6x (the r14 committed
    # record carried medallion_e2e_100k at 1.59x quiet unflagged under
    # the old uniform 2x band), while 2-5s priors keep the 2x band
    drift = {"spread_pct": 5.0, "medallion_e2e_100k_runs_sec": [11.2, 11.9]}
    drift_prior = {"variance": {"medallion_e2e_100k_runs_sec": [6.5, 6.9]}}
    assert any(
        "1.6x" in r for r in bench.contention_reasons(drift, drift_prior)
    )
    mid = {"spread_pct": 5.0, "y_runs_sec": [5.5, 5.8]}
    mid_prior = {"variance": {"y_runs_sec": [3.0, 3.2]}}
    assert bench.contention_reasons(mid, mid_prior) == []

    # the compact line keeps the flag at every degrade step
    from pathlib import Path

    full_path = Path(__file__).resolve().parent.parent / "BENCH_FULL_LATEST.json"
    full = json.loads(full_path.read_text())
    flagged = dict(full, contended=True)
    flagged["errors"] = {
        f"q{900 + i}_totally_broken_query_name": "x" * 200 for i in range(8)
    }
    line = bench.build_compact_line(flagged)
    assert len(line) <= 2000
    assert json.loads(line)["contended"] is True


def test_bench_contended_record_never_displaces_clean_prior(tmp_path):
    """Regression for the r11 laundering loophole (VERDICT r11 What's
    wrong #1): a contended attempt used to overwrite
    BENCH_FULL_LATEST.json, so the re-run compared against a contended
    prior, arm (b) skipped itself, and a 2.4x-slow medallion record was
    committed unflagged. Pin the fixed sequence end-to-end:
    contended attempt -> persisted to the SIDE file only -> a
    slow-but-consistent (low-spread) re-run still flags against the
    surviving clean prior."""
    import json

    import bench

    clean = {
        "queries": {},
        "variance": {
            "spread_pct": 6.4,
            "medallion_e2e_100k_runs_sec": [6.12, 6.9],
        },
    }
    clean_path = tmp_path / "BENCH_FULL_LATEST.json"
    clean_path.write_text(json.dumps(clean))

    # step 1: a 48.5%-spread attempt is flagged (arm a) ...
    hot_var = {
        "spread_pct": 48.5,
        "medallion_e2e_100k_runs_sec": [14.58, 21.7],
    }
    reasons = bench.contention_reasons(hot_var, clean)
    assert reasons
    hot = {"variance": hot_var, "contended": True, "contended_reasons": reasons}
    # ... and persisting it must NOT touch the clean comparator
    written = bench.persist_full_record(hot, str(tmp_path))
    assert written.endswith("BENCH_CONTENDED_LATEST.json")
    assert json.loads(clean_path.read_text()) == clean

    # step 2: the slow-but-CONSISTENT re-run (spread 6% — arm (a) blind,
    # exactly the committed-r11 failure shape) must still trip arm (b)
    # against the surviving clean prior
    rerun_var = {
        "spread_pct": 6.0,
        "medallion_e2e_100k_runs_sec": [14.58, 15.2],
    }
    rerun_reasons = bench.contention_reasons(
        rerun_var, json.loads(clean_path.read_text())
    )
    assert any("medallion_e2e_100k" in r for r in rerun_reasons)

    # a clean record still lands in the comparator file
    quiet = {
        "variance": {
            "spread_pct": 8.0,
            "medallion_e2e_100k_runs_sec": [6.5, 7.0],
        }
    }
    written2 = bench.persist_full_record(quiet, str(tmp_path))
    assert written2.endswith("BENCH_FULL_LATEST.json")
    assert json.loads(clean_path.read_text()) == quiet


def test_bench_timed_section_records_min_of_timed_reps(monkeypatch):
    """bench.py's one timed-section helper, driven by fake sections on a
    fake clock: warm-up reps stay out of the recorded samples, the
    recorded time is the min of the timed reps, each rep gets its own
    fresh directory, and a wrong canary or a raising section records an
    error and no time."""
    import os
    import types

    import bench

    now = [0.0]
    monkeypatch.setattr(bench, "time", types.SimpleNamespace(time=lambda: now[0]))

    def section(durations, result=7):
        durations, dirs = iter(durations), []

        def run(tmp):
            assert os.path.isdir(tmp) and not os.listdir(tmp)
            open(os.path.join(tmp, "out"), "w").close()
            dirs.append(tmp)
            now[0] += next(durations)
            return result

        return run, dirs

    rec = bench.Recorder()
    run, dirs = section([1.0, 9.0, 4.0, 2.0, 3.0])
    rec.timed_section("s", run, reps=3, warmup=2, canary=7)
    assert rec.timings == {"s": 2.0}
    assert rec.variance == {"s_warmup_sec": [1.0, 9.0], "s_runs_sec": [4.0, 2.0, 3.0]}
    assert len(set(dirs)) == 5 and not any(os.path.exists(d) for d in dirs)

    run, _ = section([5.0, 6.0])
    rec.timed_section("unchecked", run, reps=2)
    assert rec.timings["unchecked"] == 5.0

    run, _ = section([1.0, 1.0], result=6)
    rec.timed_section("bad_canary", run, reps=2, canary=7)

    def boom(tmp):
        raise RuntimeError("section broke\nsecond line")

    rec.timed_section("boom", boom, reps=1)
    assert set(rec.errors) == {"bad_canary", "boom"}
    assert "want 7" in rec.errors["bad_canary"]
    assert rec.errors["boom"] == "section broke"
    for label in ("bad_canary", "boom"):
        assert label not in rec.timings
        assert f"{label}_runs_sec" not in rec.variance


def test_csv_quarantine_contract_modes(spark, tmp_path):
    """q236's malformed-ingest contract, mode by mode, on a hand-built
    fixture (3 good rows + the 5 planted bad lines): PERMISSIVE
    quarantines exactly the planted lines (corrupt channel for type
    failures, required-field nulls for arity), DROPMALFORMED keeps only
    parser-good rows, FAILFAST raises — the curated-zone loader
    behavior."""
    import pytest as _pytest

    from spark_lakehouse_medallion_pipeline_spark.queries.ingest import _Q236_BAD_LINES

    schema = "doc_id bigint, text string, lang string, source string, n_chars bigint"
    good = ["1,alpha,en,web,5", "2,beta,de,book,4", "3,gamma,en,web,5"]
    p = tmp_path / "csvq"
    p.mkdir()
    (p / "part-good.csv").write_text("\n".join(good) + "\n")
    (p / "part-bad.csv").write_text("\n".join(_Q236_BAD_LINES) + "\n")

    def read(mode, with_corrupt=True):
        sch = schema + (", _corrupt string" if with_corrupt else "")
        r = (
            spark.read.schema(sch)
            .option("header", False)
            .option("mode", mode)
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(str(p))
        )
        return r

    from pyspark.sql import functions as F

    perm = read("PERMISSIVE")
    bad = (
        F.col("_corrupt").isNotNull()
        | F.col("doc_id").isNull()
        | F.col("n_chars").isNull()
    )
    agg = perm.agg(
        F.count(F.when(~bad, 1)).alias("ng"),
        F.count(F.when(bad, 1)).alias("nq"),
    ).first()
    assert (agg["ng"], agg["nq"]) == (3, len(_Q236_BAD_LINES))
    # DROPMALFORMED removes every planted line (it treats arity-short
    # rows as malformed, unlike PERMISSIVE which null-pads them — the
    # asymmetry the q236 contract papers over with its required-field
    # layer). Gotcha: .count() on a CSV scan with no referenced columns
    # counts RAW records without parsing (malformed rows included), so
    # the assertion must force a full parse via collect().
    dropped = read("DROPMALFORMED", with_corrupt=False)
    assert len(dropped.collect()) == 3
    # Same raw-count gotcha: FAILFAST only raises once rows are PARSED,
    # so drive it with collect(), and match the error text (PySpark 4
    # wraps the JVM exception).
    with _pytest.raises(Exception, match="[Mm]alformed|FAILFAST"):
        read("FAILFAST", with_corrupt=False).collect()


def test_sf01_gate_artifact_matches_registry():
    """ORACLE_SF01_r9.json — the committed full-battery big-SF gate
    (VERDICT r8 Next #4) — must stay in sync with the registry: every
    registered query has an entry, pass/rows-only totals reconcile, and
    it reports zero failures. Refreshed each round by
    `python3 tools/oracle_check.py /root/testdata/sf0.1 --json
    ORACLE_SF01_r{N}.json`."""
    import glob
    import json
    import re
    from pathlib import Path

    from spark_lakehouse_medallion_pipeline_spark.queries import ORACLE, QUERIES

    root = Path(__file__).resolve().parent.parent
    # Numeric round sort: lexicographic would pick r9 over r10.
    arts = sorted(
        glob.glob(str(root / "ORACLE_SF01_r*.json")),
        key=lambda p: int(re.search(r"_r(\d+)", p).group(1)),
    )
    assert arts, "no committed sf0.1 gate artifact"
    payload = json.loads(Path(arts[-1]).read_text())
    entries, summary = payload["entries"], payload["summary"]
    assert summary["n_fail"] == 0, f"big-SF gate has failures: {summary}"
    assert set(entries) == set(QUERIES), (
        f"artifact/registry drift: only-artifact="
    f"{sorted(set(entries) - set(QUERIES))[:5]} "
        f"only-registry={sorted(set(QUERIES) - set(entries))[:5]}"
    )
    n_rows_only = sum(1 for v in entries.values() if v["status"] == "rows_only")
    assert n_rows_only == len(QUERIES) - len(ORACLE)
    assert summary["n_pass"] == len(ORACLE)
    assert summary["sf_dir"].endswith("sf0.1")


def test_q247_schema_drift_taxonomy(spark, tmp_path):
    """The parquet drift taxonomy q247's docstring documents: added /
    dropped columns MERGE cleanly (exercised by the query itself), a
    TYPE change of the same column across files fails the schema merge
    loudly, and a fixed-schema read of a drifted directory silently
    null-fills the missing column (why curated zones pin schemas)."""
    import pytest as _pytest

    p1, p2 = str(tmp_path / "b1"), str(tmp_path / "b2")
    spark.createDataFrame([(1, 10)], "doc_id bigint, n_chars bigint").write.parquet(p1)
    spark.createDataFrame(
        [("x", 20)], "doc_id string, n_chars bigint"
    ).write.parquet(p2)
    with _pytest.raises(Exception, match="[Ff]ailed.*merg|merg.*fail|incompatible"):
        spark.read.option("mergeSchema", "true").parquet(p1, p2).collect()
    # fixed-schema read: files lacking quality_e6 null-fill, no error
    rows = (
        spark.read.schema("doc_id bigint, n_chars bigint, quality_e6 bigint")
        .parquet(p1)
        .collect()
    )
    assert rows[0]["quality_e6"] is None


@pytest.mark.slow
def test_snapshot_queries_survive_python_O(spark):
    """q254/q264 commit snapshot versions via side-effecting calls whose
    return values are sanity-asserted. Under `python -O` every assert
    statement is elided entirely — if the CALL lives inside the assert,
    -O silently skips the commit and the query reads an empty table
    (the ADVICE r11/r12 bug class). This replay runs BOTH snapshot
    queries in a `python -O` subprocess and checks their results are
    byte-identical to the in-process (non-O) run, pinning the CLASS of
    bug (bind-then-assert), not just the two fixed instances."""
    import json
    import os
    import subprocess
    import sys

    import __spark_entry__ as em

    names = ["q254_snapshot_time_travel", "q264_snapshot_retention_vacuum"]
    sf = "/root/testdata/sf0.001"

    def rows_of(df):
        return sorted(
            [
                [None if v is None else str(v) for _, v in sorted(r.asDict().items())]
                for r in df.collect()
            ]
        )

    want = {n: rows_of(em.queries()[n](spark, sf)) for n in names}

    script = r"""
import json, sys
sys.path.insert(0, %(repo)r)
import __spark_entry__ as em
from spark_lakehouse_medallion_pipeline_spark.session import get_spark
spark = get_spark("pyO-replay", extra_conf={
    "spark.ui.showConsoleProgress": "false",
    "spark.sql.shuffle.partitions": "4",
    "spark.ui.enabled": "false",
})
out = {}
for n in %(names)r:
    df = em.queries()[n](spark, %(sf)r)
    out[n] = sorted(
        [[None if v is None else str(v) for _, v in sorted(r.asDict().items())]
         for r in df.collect()]
    )
print("PYO_RESULT:" + json.dumps(out))
""" % {"repo": str(__import__("pathlib").Path(__file__).resolve().parent.parent),
       "names": names, "sf": sf}

    env = dict(os.environ)
    env["PYTHONOPTIMIZE"] = "2"  # -OO: asserts AND docstrings stripped
    proc = subprocess.run(
        [sys.executable, "-c", script],
        capture_output=True,
        text=True,
        env=env,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("PYO_RESULT:")]
    assert line, proc.stdout[-4000:]
    got = json.loads(line[0][len("PYO_RESULT:"):])
    for n in names:
        assert got[n] == want[n], f"{n}: -O result diverged from normal run"
        assert len(got[n]) > 0, f"{n}: -O run returned an empty result"
