"""Interleaved A/B adjudication of per-query bench movements.

VERDICT r4's open question: the r4 suite ran 1.37x slower than r3 on
shared queries, with `lsh_near_dup_pairs` 3.2x slower on substantively
unchanged code.  The committed noise methodology (heavy-tailed host
windows lasting minutes) EXPLAINS such a move but doesn't PIN it —
consecutive solo runs can land in different windows.  This harness
pins it: the two code trees run the SAME query ALTERNATELY (A B A B
...), each rep in a fresh subprocess JVM, so a noise window inflates
both sides symmetrically and a real regression shows as a persistent
one-sided gap.  Verdict rule: min-of-reps ratio within [1/1.3, 1.3]
=> noise; outside => regression (report per-rep pairs so a reader can
see window structure).

Usage:
    python scripts/ab_bench.py QUERY TREE_A TREE_B [pairs] [sf_dir]

The worker (``--worker``) imports ``mapchete_xarray_spark.queries``
from the given tree, warms the JVM (parquet footers + a codegen
compile), then times ``reps`` in-process runs and prints the min.  It
runs with the tree as its working directory: Spark's Python workers
put the working directory first on ``sys.path``, so their executors
import the same tree's package as the driver, wherever the harness is
started from.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
INPROC_REPS = int(os.environ.get("SPARK_GRAFT_AB_REPS", "2"))


def _worker(tree: str, query: str, sf_dir: str) -> None:
    sys.path.insert(0, tree)
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{CPUS}]")
        .appName(f"ab-{query}")
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

    # warm: parquet footers + first janino compile, mirroring bench.py
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    spark.read.parquet(f"{sf_dir}/orders.parquet").count()
    best = float("inf")
    for _ in range(max(INPROC_REPS, 1)):
        t0 = time.perf_counter()
        registry = getattr(q, "all_queries", lambda: q.QUERIES)()
        rows = registry[query](spark, sf_dir).count()
        best = min(best, time.perf_counter() - t0)
        spark.catalog.clearCache()
    print(f"ABRESULT {json.dumps({'sec': round(best, 3), 'rows': rows})}")
    spark.stop()


def main() -> None:
    if sys.argv[1] == "--worker":
        _worker(sys.argv[2], sys.argv[3], sys.argv[4])
        return
    query = sys.argv[1]
    tree_a, tree_b = os.path.abspath(sys.argv[2]), os.path.abspath(sys.argv[3])
    pairs = int(sys.argv[4]) if len(sys.argv) > 4 else 4
    sf_dir = os.path.abspath(sys.argv[5] if len(sys.argv) > 5 else SF_DIR)
    me = os.path.abspath(__file__)
    times: dict[str, list] = {"A": [], "B": []}
    rows: dict[str, int] = {}
    for p in range(pairs):
        # alternate which side goes first so a window that spans one
        # whole pair doesn't systematically favor the same side
        order = [("A", tree_a), ("B", tree_b)]
        if p % 2 == 1:
            order.reverse()
        for label, tree in order:
            out = subprocess.run(
                [sys.executable, me, "--worker", tree, query, sf_dir],
                capture_output=True,
                text=True,
                timeout=1800,
                cwd=tree,
                env={**os.environ, "PYTHONPATH": tree},
            )
            sec = None
            for line in out.stdout.splitlines():
                if line.startswith("ABRESULT "):
                    d = json.loads(line[len("ABRESULT ") :])
                    sec, rows[label] = d["sec"], d["rows"]
            if sec is None:
                print(
                    f"WARN {label} pair {p} failed rc={out.returncode}: "
                    f"{out.stderr[-400:]}",
                    file=sys.stderr,
                )
                continue
            times[label].append(sec)
            print(f"pair {p} {label} ({tree}): {sec:.3f}s", flush=True)
    for label in ("A", "B"):
        if not times[label]:
            sys.exit(
                f"side {label} produced NO successful reps out of {pairs} "
                f"pairs — fix the tree/query before comparing (see WARNs)"
            )
        if len(times[label]) < pairs:
            print(
                f"WARN side {label}: only {len(times[label])}/{pairs} reps "
                f"succeeded — minima compared at unequal weight",
                file=sys.stderr,
            )
    min_a, min_b = min(times["A"]), min(times["B"])
    ratio = min_b / min_a
    verdict = "noise" if 1 / 1.3 <= ratio <= 1.3 else "regression"
    print(
        json.dumps(
            {
                "query": query,
                "sf_dir": sf_dir,
                "cpus": CPUS,
                "reps_per_proc": INPROC_REPS,
                "a": {"tree": tree_a, "times": times["A"], "min": min_a},
                "b": {"tree": tree_b, "times": times["B"], "min": min_b},
                "rows": rows,
                "ratio_b_over_a": round(ratio, 3),
                "verdict": verdict,
            }
        )
    )


if __name__ == "__main__":
    main()
