"""Local replica of the driver's correctness gate.

Runs every queries() entry on Spark and its oracle_sql() on DuckDB over
the same parquet corpus, then compares row count, column names, and
order-insensitive values (columns sorted by name, rows sorted by their
string form — a stand-in for the driver's value hash).

Usage: python tools/oracle_check.py [sf_dir] [query ...] [--json OUT]

--json OUT additionally writes a CORRECTNESS-shaped artifact (one entry
per checked query with status/rows/seconds/problems plus a summary) so a
full-battery big-SF run can be committed as per-round evidence
(VERDICT r8 Next #4: ORACLE_SF01_r{N}.json).
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

# The checkout this file lives in, for the driver and for Python workers.
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def norm_cell(v) -> str:
    if v is None:
        return "<NULL>"
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return f"{v:.17g}"
    if isinstance(v, bool):
        return str(bool(v))
    return str(v)


def frame_to_key_rows(cols: list[str], rows: list[tuple]) -> list[tuple[str, ...]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(norm_cell(r[i]) for i in order) for r in rows)


def spark_kind(dtype: str) -> str:
    """Collapse a Spark simpleString dtype to a hash-affecting 'kind'.

    The driver's value hash is typed: a DuckDB HUGEINT (int128) hashes
    differently from Spark's int64 even when every value is equal (the
    round-3 q95 red row). Kinds are coarse on purpose — int widths hash
    alike after normalization, but int vs decimal vs float do not.
    """
    d = dtype.lower()
    if d in ("tinyint", "smallint", "int", "integer", "bigint", "long", "short", "byte"):
        return "int"
    if d in ("float", "double"):
        return "float"
    if d.startswith("decimal"):
        return "decimal"
    if d == "boolean":
        return "bool"
    if d == "string":
        return "str"
    if d == "date":
        return "date"
    if d.startswith("timestamp"):
        return "datetime"
    if d == "binary":
        return "binary"
    return "complex"  # array/map/struct — value compare handles these


def arrow_kind(t) -> str:
    """Same collapse for a pyarrow DataType from DuckDB's fetch_arrow_table."""
    import pyarrow as pa

    if pa.types.is_integer(t):
        return "int"
    if pa.types.is_floating(t):
        return "float"
    if pa.types.is_decimal(t):
        return "decimal"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "str"
    if pa.types.is_date(t):
        return "date"
    if pa.types.is_timestamp(t):
        return "datetime"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    return "complex"


def dtype_problems(s_dtypes: list[tuple[str, str]], d_schema) -> list[str]:
    """Compare per-column type *kind* between Spark and DuckDB results.

    Returns a list of human-readable mismatch strings. DuckDB's Arrow
    schema is authoritative for the oracle side (HUGEINT -> decimal128,
    nullable BIGINT stays int64 — none of pandas' null-driven coercions).
    """
    spark_map = {name: dt for name, dt in s_dtypes}
    probs = []
    for field in d_schema:
        if field.name not in spark_map:
            continue  # schema compare reports missing columns
        sk = spark_kind(spark_map[field.name])
        dk = arrow_kind(field.type)
        if sk != dk:
            probs.append(
                f"dtype[{field.name}]: spark={spark_map[field.name]}({sk}) "
                f"duckdb={field.type}({dk})"
            )
    return probs


def main() -> None:
    argv = list(sys.argv[1:])
    json_out = None
    if "--json" in argv:
        i = argv.index("--json")
        if i + 1 >= len(argv):
            sys.exit("usage: oracle_check.py [SF_DIR] [QUERY ...] [--json OUT.json]")
        json_out = argv[i + 1]
        del argv[i : i + 2]
    sf_dir = argv[0] if argv else "/root/testdata/sf0.01"
    only = set(argv[1:])

    import __spark_entry__ as entrymod
    from spark_lakehouse_medallion_pipeline_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    spark = get_spark("oracle-check", extra_conf={"spark.ui.showConsoleProgress": "false"})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures, passes, rows_only = [], [], []
    record: dict[str, dict] = {}

    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = sdf.columns
            s_rows = [tuple(r) for r in sdf.collect()]
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"SPARK ERROR: {e}"))
            record[name] = {"status": "fail", "problems": f"SPARK ERROR: {str(e)[:300]}"}
            print(f"FAIL {name}: spark error: {str(e)[:300]}")
            continue
        spark_sec = time.time() - t0

        if name not in oracles:
            rows_only.append(name)
            record[name] = {
                "status": "rows_only",
                "rows": len(s_rows),
                "sec": round(spark_sec, 2),
            }
            print(f"rows-only {name}: {len(s_rows)} rows  [{spark_sec:.1f}s]")
            continue

        try:
            d_tbl = con.execute(oracles[name]).fetch_arrow_table()
            d_cols, d_schema = d_tbl.column_names, d_tbl.schema
            d_rows = list(zip(*(c.to_pylist() for c in d_tbl.columns)))
        except Exception as e:  # noqa: BLE001
            failures.append((name, f"DUCKDB ERROR: {e}"))
            record[name] = {"status": "fail", "problems": f"DUCKDB ERROR: {str(e)[:300]}"}
            print(f"FAIL {name}: duckdb error: {str(e)[:300]}")
            continue

        problems = []
        if sorted(s_cols) != sorted(d_cols):
            problems.append(f"schema: spark={sorted(s_cols)} duckdb={sorted(d_cols)}")
        problems.extend(dtype_problems(sdf.dtypes, d_schema))
        if len(s_rows) != len(d_rows):
            problems.append(f"rowcount: spark={len(s_rows)} duckdb={len(d_rows)}")
        if not problems:
            sk = frame_to_key_rows(s_cols, s_rows)
            dk = frame_to_key_rows(d_cols, d_rows)
            if sk != dk:
                diff = [(a, b) for a, b in zip(sk, dk) if a != b][:3]
                problems.append(f"values differ; first diffs: {diff}")
        if problems:
            failures.append((name, "; ".join(problems)))
            record[name] = {"status": "fail", "problems": "; ".join(problems)[:500]}
            print(f"FAIL {name}: {'; '.join(problems)[:500]}")
        else:
            passes.append(name)
            record[name] = {
                "status": "pass",
                "rows": len(s_rows),
                "sec": round(spark_sec, 2),
            }
            print(f"PASS {name}: {len(s_rows)} rows  [{spark_sec:.1f}s]")

    print(
        f"\n=== {len(passes)} pass, {len(failures)} fail, {len(rows_only)} rows-only "
        f"(of {len([q for q in qs if not only or q in only])}) ==="
    )
    if json_out:
        import json

        payload = {
            "summary": {
                "sf_dir": sf_dir,
                "n_pass": len(passes),
                "n_fail": len(failures),
                "n_rows_only": len(rows_only),
                "n_checked": len(record),
                "generated_by": "tools/oracle_check.py --json",
                "generated_at": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            },
            "entries": record,
        }
        with open(json_out, "w") as fh:
            json.dump(payload, fh, indent=1, sort_keys=True)
        print(f"wrote {json_out}")
    if failures:
        sys.exit(1)


if __name__ == "__main__":
    main()
