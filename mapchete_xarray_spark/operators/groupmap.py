"""Batched grouped-map: the engine's replacement for per-group
``groupBy().applyInPandas`` on SMALL groups.

Every assemble/paste/render stage here reduces a handful of rows per
tile key (≤3 bands, ≤4 pyramid children, ≤9 halo strips).  Spark's
grouped-map dispatches the Python UDF once PER GROUP — pandas frame
construction, key marshalling, result concat — which at ~10 ms/group
swamps the actual numpy work when groups are tiny (measured on the
temporal composite: 43.5 s per-group vs 3.1 s batched for the same
reduction at sf0.1).

``batched_group_map`` keeps the identical logical shape — ONE hash
shuffle on the group key — but dispatches per ARROW BATCH:

    repartition(keys) → sortWithinPartitions(keys) → mapInPandas

The within-partition sort (the same local sort Spark's own grouped
map performs) makes groups CONTIGUOUS across the partition's Arrow
batches, so the consumer streams batches and carries only the
boundary group forward — worker memory is one Arrow batch plus one
group, NEVER the whole partition, which is what keeps the pattern
valid when a partition holds gigabytes at archive scale.

``reduce_one(key_tuple, group_pdf) -> row tuple | list[tuple] |
None`` — the grouped-map contract: one output row per group, a list
for multi-row groups (e.g. the mosaic paste emits one row per band),
``None`` to emit nothing (e.g. a regrid destination tile no source
pixel lands in).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame


def batched_group_map(
    df: DataFrame,
    keys: list,
    reduce_one,
    schema,
) -> DataFrame:
    """See module docstring.  ``keys`` must be sortable columns; the
    output contains one row per distinct key, ordered arbitrarily."""
    keys = list(keys)
    cols = [f.name for f in schema.fields]

    def emit_rows(pdf):
        rows = []
        for k, g in pdf.groupby(keys, sort=False):
            r = reduce_one(k if isinstance(k, tuple) else (k,), g)
            if r is None:
                continue
            rows.extend(r) if isinstance(r, list) else rows.append(r)
        return rows

    def run(batches):
        carry = None
        saw = False
        for p in batches:
            if not len(p):
                continue
            if carry is not None:
                p = pd.concat([carry, p], ignore_index=True)
                carry = None
            kv = p[keys]
            starts = np.flatnonzero(
                (kv != kv.shift()).any(axis=1).to_numpy()
            )
            if len(starts) <= 1:
                # the whole batch is one group — it may continue into
                # the next batch, hold it back
                carry = p
                continue
            last = int(starts[-1])
            carry = p.iloc[last:].reset_index(drop=True)
            saw = True
            yield pd.DataFrame(emit_rows(p.iloc[:last]), columns=cols)
        if carry is not None and len(carry):
            saw = True
            yield pd.DataFrame(emit_rows(carry), columns=cols)
        if not saw:
            yield pd.DataFrame([], columns=cols)

    # r9: pin the partition count EXPLICITLY (an explicit
    # numPartitions is exempt from AQE coalescing).  The work behind
    # this exchange is per-GROUP Python+numpy compute, not
    # proportional to shuffle bytes — when an upstream optimization
    # shrinks the shuffled payload (overview quarter planes, regrid
    # crops), AQE's byte-based coalescing would collapse the stage
    # onto a fraction of the cores and serialize the real work
    # (measured: overview_derive 8.1 → 18.4 s at sf1 before this
    # pin).  defaultParallelism — the cluster's total core count — is
    # the scale-adaptive choice: one wave of Python workers with every
    # core busy (pinning to spark.sql.shuffle.partitions, typically 2×
    # cores, measured ~25% slower on the 3-stage overview_build at
    # sf0.1: twice the per-task Arrow/worker overhead for the same
    # cores).
    n = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n, *keys).sortWithinPartitions(*keys).mapInPandas(run, schema)
