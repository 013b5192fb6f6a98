#!/usr/bin/env python
"""Self-recorded correctness gate: the driver's Spark-vs-DuckDB
compare (row count, schema width, order-insensitive value hash over
name-sorted columns) over EVERY registered query — driver-facing AND
overflow — written to a machine-readable JSON artifact.

The driver records at most 50 entries per round; this sidecar records
all 58 with the same semantics, so the full surface always has a
committed hard signal regardless of driver-side caps/truncation.

Usage:  python scripts/self_correctness.py [sf_dir] [out_json] [names]
        (defaults: /root/testdata/sf0.01, CORRECTNESS_SELF.json, every
        query; ``names`` is a comma-separated subset, e.g.
        knn_ring_expansion,knn_ring_expansion_geo)
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def _canon(val):
    if val is None:
        return "∅"
    if isinstance(val, float):
        if val != val:
            return "nan"
        return f"{val:.6g}"
    if isinstance(val, bool):
        return str(int(val))
    return str(val)


def _value_hash(rows, columns):
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(_canon(r[i]) for i in order) for r in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    out = sys.argv[2] if len(sys.argv) > 2 else "CORRECTNESS_SELF.json"
    only = set(sys.argv[3].split(",")) if len(sys.argv) > 3 else None

    import duckdb
    from pyspark.sql import SparkSession

    from mapchete_xarray_spark import queries as q

    spark = (
        SparkSession.builder.master("local[16]")
        .appName("self-correctness")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.driver.memory", "24g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"create view {t} as select * from '{sf_dir}/{t}.parquet'"
        )

    registry = q.all_queries()
    if only is not None:
        unknown = only - set(registry)
        if unknown:
            raise SystemExit(f"unknown queries: {sorted(unknown)}")
        registry = {n: fn for n, fn in registry.items() if n in only}
    results: dict[str, dict] = {}
    for name, fn in registry.items():
        rec: dict = {
            "rows_match": None, "schema_match": None, "hash_match": None,
            "spark_rows": None, "oracle_rows": None, "err": None,
            "driver_facing": name in q.QUERIES,
        }
        t0 = time.time()
        try:
            sdf = fn(spark, sf_dir)
            s_cols = [c.lower() for c in sdf.columns]
            s_rows = [tuple(r) for r in sdf.collect()]
            rec["spark_rows"] = len(s_rows)
            res = con.execute(q.resolve_oracle(name))
            d_cols = [d[0].lower() for d in res.description]
            d_rows = res.fetchall()
            rec["oracle_rows"] = len(d_rows)
            rec["rows_match"] = len(s_rows) == len(d_rows)
            rec["schema_match"] = sorted(s_cols) == sorted(d_cols)
            rec["hash_match"] = _value_hash(s_rows, s_cols) == _value_hash(
                d_rows, d_cols
            )
        except Exception as exc:  # noqa: BLE001 — record, don't abort the gate
            rec["err"] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            spark.catalog.clearCache()
        rec["sec"] = round(time.time() - t0, 2)
        results[name] = rec
        ok = rec["hash_match"] and rec["rows_match"] and rec["schema_match"]
        print(f"{name}: {'OK' if ok else rec['err'] or 'MISMATCH'} "
              f"({rec['sec']}s)", file=sys.stderr)

    n_ok = sum(
        1 for r in results.values()
        if r["rows_match"] and r["schema_match"] and r["hash_match"]
    )
    payload = {
        "sf_dir": sf_dir,
        "n_queries": len(results),
        "n_green": n_ok,
        "queries": results,
    }
    with open(out, "w") as f:
        json.dump(payload, f, indent=1)
    print(json.dumps({"out": out, "n_queries": len(results), "n_green": n_ok}))


if __name__ == "__main__":
    main()
