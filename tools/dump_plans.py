"""Dump .explain("formatted") for named battery queries (optimization-round
evidence: plans/r14/<query>_{before,after}.txt).

Usage: python3 tools/dump_plans.py <repo_dir> <sf_dir> <out_dir> <suffix> q...

Runs each query function (some battery entries execute eagerly — writes,
verification collects — before returning their result DataFrame; the dump
captures the RETURNED DataFrame's formatted plan, which is what the bench
times with .count())."""

from __future__ import annotations

import os
import sys


def main() -> None:
    repo, sf_dir, out_dir, suffix, *names = sys.argv[1:]
    repo = os.path.abspath(repo)
    sys.path.insert(0, repo)
    # Python workers (UDFs, the Python data source) import the package too.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [repo, *filter(None, [os.environ.get("PYTHONPATH")])]
    )
    os.makedirs(out_dir, exist_ok=True)

    from spark_lakehouse_medallion_pipeline_spark.queries import QUERIES
    from spark_lakehouse_medallion_pipeline_spark.session import get_spark

    spark = get_spark(
        f"plans-{suffix}", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    for name in names:
        df = QUERIES[name](spark, sf_dir)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(out_dir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")


if __name__ == "__main__":
    main()
