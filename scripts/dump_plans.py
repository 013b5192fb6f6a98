#!/usr/bin/env python
"""Dump .explain("formatted") for selected registered queries to
plans/<outdir>/<query>_<tag>.txt — the optimization round's evidence
files (the judge reads these instead of running Spark).

Usage: python scripts/dump_plans.py <tag> <outdir> [query ...]
  tag     e.g. 'before' / 'after'
  outdir  e.g. plans/r09
  query   registered query names; default: the full bench list
          (bench.BENCH_QUERIES).  A query whose plan cannot be built
          here (e.g. a missing input fixture) is reported and skipped.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def main() -> None:
    tag = sys.argv[1]
    outdir = sys.argv[2]
    if len(sys.argv) > 3:
        names = sys.argv[3:]
    else:
        from bench import BENCH_QUERIES as names
    os.makedirs(outdir, exist_ok=True)

    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(f"plans-{tag}")
        .config("spark.sql.shuffle.partitions", str(max(CPUS * 2, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "48g")
        .config("spark.sql.files.maxPartitionBytes", "64m")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from mapchete_xarray_spark import queries as q

    registry = q.all_queries()
    for name in names:
        if name not in registry:
            print(f"SKIP {name}: not registered", file=sys.stderr)
            continue
        try:
            df = registry[name](spark, SF_DIR)
        except Exception as e:  # noqa: BLE001 — report, dump the rest
            print(f"SKIP {name}: {type(e).__name__}: {str(e)[:200]}", file=sys.stderr)
            continue
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        path = os.path.join(outdir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)")
        spark.catalog.clearCache()
    spark.stop()


if __name__ == "__main__":
    main()
