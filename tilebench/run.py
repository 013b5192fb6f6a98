"""Tile-engine benchmark: one closed-loop client against ``local[N]``.

    python3 tilebench/run.py --workload assign_scan --seed 1 --seconds 12 --trace 0

One Python driver thread issues one op at a time (a closed loop with
one client) against a Spark session on ``local[N]``, N = the CPUs this
process may run on.  The seed shifts the synthetic row-index base and
the AOI and query sets; the engine only sees the generated inputs.

``setup_s`` is the set-up: session start, input generation and the
workload's warm-up cycles of one op of every kind.  The expectations
and the checks of the warm-up ops are the benchmark's own work and
are left out of it.  It runs once per process: most of it is the JVM
launch and first-run JIT and codegen, which a process pays only
once.  The timed phase runs ops in seeded cycles of every op kind for
up to ``--seconds``.  Every op's output is checked after its timer
stops.

Op kinds of one workload differ in cost several-fold, so op times are
summarised per kind: ``op_p50_s`` is the sum over kinds of each
kind's median op time (the median cost of one cycle) and
``op_tail_s`` the sum of each kind's nearest-rank p90, which is the
slowest op of a kind that ran 10 times or fewer.  The record holds
the per-kind figures and how many samples lie beyond each p90.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` alternates
untraced and traced ops of the same kinds and prints the per-layer
metrics (see ``spans.py``).  The line before the last records the
seed, CPUs, versions, input sizes and the failure counts; the last
line is the result object.  The exit code is 1 if any output was
wrong and 2 if the engine is not next to the benchmark.

Everything the run writes goes under ``.tilebench_work/`` in the
checkout and is removed at the end.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import platform
import shutil
import statistics
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TAIL_PERCENTILE = 90  # nearest-rank percentile behind op_tail_s

LAYERS = (
    "functions.tiling",
    "operators.skew",
    "operators.pip",
    "operators.knn",
    "operators.mosaic",
    "operators.overviews",
    "sources.tiledir.write",
    "sources.tiledir.read",
)


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def _start_session(cores: int, work: str):
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("tilebench")
        .config("spark.sql.shuffle.partitions", str(2 * cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.catalogImplementation", "in-memory")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .config(
            "spark.driver.extraJavaOptions",
            # ParallelGC with a fixed young generation: heap sizing
            # driven by pause times (G1, or ParallelGC's adaptive young
            # generation) made the peak RSS of identical runs differ by
            # up to 40%
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData "
            "-XX:+UseParallelGC -Xmn512m",
        )
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _shutdown() -> None:
    """Stop the session and the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


@dataclass
class Op:
    kind: str
    wall: float
    error: Exception | None
    extra: dict  # counters from the workload's check
    traced: object  # spans.TracedOp of a traced op, else None
    rows: int


def _run_op(wl, kind: str, i: int, tracer=None) -> Op:
    traced = out = error = None
    extra: dict = {}
    t0 = time.perf_counter()
    try:
        if tracer is None:
            out = wl.run(kind, i)
        else:
            traced, values = tracer.run_op(wl.chains(kind, i))
            out = wl.from_chains(values)
    except Exception as e:  # an op that raises counts as failed
        error = e
    wall = time.perf_counter() - t0
    if error is None:
        try:
            extra = wl.check(kind, i, out)
        except Exception as e:  # mismatch or a failing read-back
            error = e
    if error is not None:
        print(f"op {i} ({kind}) failed:", file=sys.stderr)
        traceback.print_exception(error, file=sys.stderr)
    wl.after_op()
    return Op(kind, wall, error, extra, traced, wl.rows(kind))


def _setup(name: str, seed: int, cores: int, work: str):
    """Start the session, build inputs and expectations, warm up;
    returns (spark, workload, sizes, setup_s).  Warm-up ops are checked
    like timed ops.  ``setup_s`` counts the session start, the input
    generation and the warm-up ops' wall times, not the expectations
    or the checks."""
    import workloads

    t0 = time.perf_counter()
    spark = _start_session(cores, work)
    rdir = os.path.join(work, "inputs")
    os.makedirs(rdir)
    wl = workloads.WORKLOADS[name]()
    sizes = wl.setup(spark, seed, rdir)
    setup_s = time.perf_counter() - t0
    sizes.update(wl.expect())
    for c in range(wl.warmup_cycles):
        for j, kind in enumerate(wl.kinds):
            op = _run_op(wl, kind, 1_000_000 + c * len(wl.kinds) + j)
            if op.error is not None:
                raise RuntimeError(f"warm-up op {kind} failed") from op.error
            setup_s += op.wall
    return spark, wl, sizes, setup_s


def _timed_phase(wl, seed: int, seconds: float, tracer=None):
    """Whole cycles of every op kind, each cycle in a seeded order, so
    every kind runs equally often; another cycle starts while, at the
    mean cycle time so far, it would end within ``seconds``.  At least
    one cycle runs.  With a tracer each op is followed by a traced op
    of the same kind."""
    import numpy as np

    rng = np.random.default_rng([seed, 7])
    plain, traced = [], []
    i = cycles = 0
    t0 = time.perf_counter()
    while cycles == 0 or (time.perf_counter() - t0) * (cycles + 1) / cycles <= seconds:
        cycles += 1
        for k in rng.permutation(len(wl.kinds)):
            kind = wl.kinds[k]
            plain.append(_run_op(wl, kind, i))
            i += 1
            if tracer is not None:
                traced.append(_run_op(wl, kind, i, tracer))
                i += 1
    return plain, traced


def _median(xs, default=0.0) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _by_kind(ops, kinds) -> dict:
    """Per op kind: sample count, median, nearest-rank p90 and the
    number of samples beyond that p90."""
    out = {}
    for kind in kinds:
        s = sorted(o.wall for o in ops if o.kind == kind)
        rank = math.ceil(TAIL_PERCENTILE * len(s) / 100)
        out[kind] = {"n": len(s), "p50_s": statistics.median(s),
                     f"p{TAIL_PERCENTILE}_s": s[rank - 1], "beyond": len(s) - rank}
    return out


def _end_to_end(ops, kinds, setup_s, rss_mb) -> dict:
    ok_rows = sum(o.rows for o in ops if o.error is None)
    per_kind = _by_kind(ops, kinds).values()
    return {
        "setup_s": (setup_s, "s"),
        "input_rows_per_s": (ok_rows / sum(o.wall for o in ops), "1/s"),
        "op_p50_s": (sum(k["p50_s"] for k in per_kind), "s"),
        "op_tail_s": (sum(k[f"p{TAIL_PERCENTILE}_s"] for k in per_kind), "s"),
        "peak_rss_mb": (rss_mb, "MB"),
    }


def _per_layer(plain, traced, kinds, images_rows_per_s, decode_mb_per_s) -> dict:
    from spans import SPAN_METRICS

    units = {"self_s": "s", "jobs": "count", "executor_run_s": "s",
             "executor_cpu_s": "s", "shuffle_write_bytes": "bytes",
             "spill_bytes": "bytes", "failed_tasks": "count"}
    out = {}
    for layer in LAYERS:
        per_op = [t.traced.self_by_layer[layer] for t in traced
                  if t.traced and layer in t.traced.self_by_layer]
        for m in SPAN_METRICS:
            out[f"{layer}.{m}"] = (_median(v[m] for v in per_op), units[m])

    def extra(key, ops=plain + traced):
        return _median(o.extra[key] for o in ops if key in o.extra)

    tr = [t.traced for t in traced if t.traced]
    out.update({
        "operators.skew.task_skew": (_median(t.task_skew for t in tr if t.task_skew), "ratio"),
        "operators.knn.rounds": (extra("knn_rounds"), "count"),
        "operators.pip.rows_out_per_row_in": (extra("pip_rows_out_per_row_in"), "ratio"),
        "operators.mosaic.candidates_per_image": (extra("mosaic_candidates_per_image"), "ratio"),
        "sources.tiledir.write.bytes": (extra("tiledir_write_bytes"), "bytes"),
        "sources.tiledir.write.files": (extra("tiledir_write_files"), "count"),
        "sink_bytes_per_pixel_byte": (extra("sink_bytes_per_pixel_byte"), "ratio"),
        "codecs.decode_mb_per_s": (decode_mb_per_s, "MB/s"),
        "sources.images.rows_per_s": (images_rows_per_s, "1/s"),
        "driver.gap_s": (_median(t.gap_s for t in tr), "s"),
        "driver.jobs_per_op": (_median(t.op_jobs for t in tr), "count"),
        "trace.overhead_s": (
            sum(k["p50_s"] for k in _by_kind(traced, kinds).values())
            - sum(k["p50_s"] for k in _by_kind(plain, kinds).values()), "s"),
    })
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seed < 0:
        ap.error("--seed must be >= 0")

    if not os.path.isdir(os.path.join(ROOT, "mapchete_xarray_spark")):
        print(f"tilebench: engine package not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"tilebench: unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".tilebench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    for d in ("spark-local", "warehouse", "tmp"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    # Spark, its launcher, its Python workers and tempfile users write
    # only under work/
    tmp = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    cores = _cpus()
    try:
        spark, wl, sizes, setup_s = _setup(args.workload, args.seed, cores, work)
        rss_pids = [spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid(), "self"]

        tracer = None
        if args.trace:
            from spans import Tracer

            tracer = Tracer(spark)
        plain, traced = _timed_phase(wl, args.seed, args.seconds, tracer)
        ops = plain + traced
        failed = sum(o.error is not None for o in ops)
        rss_mb = sum(_vm_hwm_mb(p) for p in rss_pids)

        if args.trace:
            import numpy as np

            decode = (wl.decode_mb_per_s(np.random.default_rng(args.seed))
                      if hasattr(wl, "decode_mb_per_s") else 0.0)
            metrics = _per_layer(
                plain, traced, wl.kinds, getattr(wl, "images_rows_per_s", 0.0), decode)
        else:
            metrics = _end_to_end(plain, wl.kinds, setup_s, rss_mb)

        record = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "nproc": cores, "master": f"local[{cores}]",
            "spark": spark.version, "python": platform.python_version(),
            "inputs": sizes, "seconds": args.seconds,
            "setup_s": setup_s, "ops": len(plain), "traced_ops": len(traced),
            "op_walls_s": {k: [o.wall for o in plain if o.kind == k] for k in wl.kinds},
            "op_by_kind": _by_kind(plain, wl.kinds),
            "failed_op_ratio": failed / len(ops),
            "op_extras": {
                key: _median(o.extra[key] for o in plain if key in o.extra)
                for key in sorted({k for o in plain for k in o.extra})},
        }
        print(json.dumps({"record": record}))
        print(json.dumps({
            "correct": failed == 0,
            "attempted": len(ops),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }))
        return 0 if failed == 0 else 1
    finally:
        if "pyspark" in sys.modules:
            _shutdown()
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


if __name__ == "__main__":
    sys.exit(main())
