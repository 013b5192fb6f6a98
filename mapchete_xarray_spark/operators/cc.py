"""Connected components over near-duplicate pair graphs — the
clustering stage a real dedup pipeline needs AFTER pair generation
(you don't ship a pair list; you pick one survivor per cluster).

Algorithm: the alternating large-star / small-star method of Kiveris
et al., "Connected Components in MapReduce and Beyond" (SoCC 2014) —
the published shuffle-bounded CC algorithm for exactly this setting
(edge sets too big for any single machine, O(log^2 n) rounds in the
worst case, 2-3 rounds on the clique-heavy graphs near-dup pairs
actually produce).  Label-propagation-until-fixpoint would take
O(diameter) rounds with a full edge shuffle each; GraphFrames is a
jar this sandbox (and many clusters) don't carry.  Both star
operations are pure DataFrame ops:

    large-star: every node links its LARGER neighbors to the min of
        its neighborhood (incl. itself) — breaks high-degree nodes
        into stars without ever growing the min side;
    small-star: every node links its SMALLER-or-equal neighbors (and
        itself) to its min neighbor.

At a fixpoint every edge is (node → component-min): the component id
IS the minimum member id, a deterministic, join-free canonical label.

Scale notes (10^12 edges): each half-round is one hash aggregation
(partial-aggregable ``min`` — a hot node's partial mins combine
map-side, so degree skew never assembles a neighborhood in memory,
unlike ``collect_list`` formulations) plus one equi-join on the node
id and one ``distinct()``; all three hash-partition on the node id,
and AQE's skew-join splitting handles the residual hot-node join.
Per-round ``localCheckpoint`` truncates the logical plan — without it
the iteration re-derives every prior round (exponential plan growth),
the classic iterative-DataFrame trap.  On a real cluster prefer
``spark.sparkContext.setCheckpointDir`` + reliable ``checkpoint``;
localCheckpoint keeps blocks on executors, which is the right
trade-off for a single-app job and the only option on local[*].
KNOWN BOUND: PySpark exposes no API to free a localCheckpoint's
blocks early, so superseded rounds' edge copies stay in executor
storage until the driver GC + ContextCleaner collect them — worst
case O(rounds × edges) transient storage (edge counts shrink per
round toward n_nodes, so in practice ~2× the input).  A reliable
checkpoint dir sidesteps this entirely at cluster scale.

Reference analog: none in mapchete_xarray (the reference has no graph
stage); this is part of the training-data-pipeline surface, with
DuckDB recursive-CTE oracles in queries.py.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .. import sizing


def _dedup_edges(e: DataFrame) -> DataFrame:
    """Canonical undirected edge list: (u, v) with u < v, no dups, no
    self-loops."""
    return (
        e.select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .where(F.col("u") != F.col("v"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """(u,v) undirected → for each node, link larger neighbors to the
    neighborhood min.  Works on the symmetric view so every node sees
    its full neighborhood."""
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = sym.groupBy("u").agg(F.min("v").alias("mv"))
    m = m.select("u", F.least("u", "mv").alias("m"))
    return (
        sym.join(m, "u")
        .where(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """(u,v) directed larger→smaller → for each node, link its
    smaller-or-equal neighbors and itself to its min neighbor."""
    d = e.select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    link_neighbors = d.join(m, "u").select(F.col("v").alias("u"), "m")
    link_self = m.select(F.col("u"), "m")
    return (
        link_neighbors.unionByName(link_self)
        .where(F.col("u") != F.col("m"))
        .select("u", F.col("m").alias("v"))
    )


def _edge_digest(e: DataFrame):
    """(count, order-independent xor-hash) — the convergence check.
    One aggregation job; xor over a 64-bit hash makes set equality a
    two-long compare (collision probability ~2^-64 per round)."""
    row = e.agg(
        F.count("*").alias("n"),
        # bit_xor is partial-aggregable (map-side combine), so the
        # digest never assembles the edge set anywhere
        F.coalesce(F.expr("bit_xor(xxhash64(u, v))"), F.lit(0)).alias("h"),
    ).first()
    return row.n, row.h


def min_label_union_find(n: int, ui: np.ndarray, vi: np.ndarray) -> np.ndarray:
    """Vectorized hook-and-compress union-find over ``n`` nodes and the
    index edges ``(ui[j], vi[j])``.  Parents only ever decrease, the
    component minimum is a fixpoint, and at convergence ``parent[x]``
    IS the minimum index of x's component.  Shared by the driver
    finish below and ``labeling.label_plane``'s per-tile run union."""
    parent = np.arange(n, dtype=np.int64)
    while True:
        pu, pv = parent[ui], parent[vi]
        if bool(np.all(pu == pv)):
            return parent
        lo = np.minimum(pu, pv)
        np.minimum.at(parent, ui, lo)
        np.minimum.at(parent, vi, lo)
        while True:
            pp = parent[parent]
            if np.array_equal(pp, parent):
                break
            parent = pp


def _driver_finish(e: DataFrame) -> DataFrame:
    """Finish the CC on the driver: called only when the edge digest
    has shown the set fits ``sizing.MAX_DRIVER_ROWS`` (the pull is
    bounded by an exact count, the same bounded-driver-list discipline
    as the engine's other driver-side reads: regrid/focal/zonal key
    gates — and the collect is a parallel Arrow ``toPandas``, not a
    single-task limit funnel).  Labels via a vectorized numpy
    hook-and-compress union-find — min-member labels, exactly the star
    iteration's fixpoint labels."""
    import pandas as pd
    from pyspark.sql import types as T

    pdf = e.toPandas()
    utype = e.schema["u"].dataType
    schema = T.StructType(
        [
            T.StructField("id", utype, False),
            T.StructField("component", utype, False),
        ]
    )
    spark = e.sparkSession
    if not len(pdf):
        return spark.createDataFrame([], schema)
    us, vs = pdf["u"].to_numpy(), pdf["v"].to_numpy()
    nodes, idx = np.unique(np.concatenate([us, vs]), return_inverse=True)
    ui, vi = idx[: len(us)], idx[len(us):]
    # node indices are sorted by node VALUE (np.unique), so index-space
    # minima are value-space minima
    parent = min_label_union_find(len(nodes), ui, vi)
    return spark.createDataFrame(
        pd.DataFrame({"id": nodes, "component": nodes[parent]}), schema
    )


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iterations: int = 25,
    assume_canonical: bool = False,
) -> DataFrame:
    """→ (id, component): every node of ``edges``, labeled with the
    MINIMUM node id of its connected component (a deterministic
    canonical label — no tie-breaking policy to document).

    Nodes not present in any edge are absent from the result (the
    caller left-joins its node universe and coalesces to self — see
    ``queries.near_dup_components``).  Raises if the alternating
    iteration hasn't converged after ``max_iterations`` rounds
    (log^2-bounded; 25 covers any graph this engine can hold).

    ``assume_canonical`` (r9): a caller whose edges are ALREADY
    (u < v, unique, no self-loops) — e.g. the LSH pair joins, whose
    first-band emission produces each pair exactly once with
    doc_a < doc_b — skips the initial ``_dedup_edges`` pass, removing
    a full distinct() shuffle of the edge list (the largest exchange
    of the whole CC job: the input graph is the biggest the iteration
    ever sees, every round shrinks it).

    Driver finish (r9): before and between rounds, an edge set whose
    digest count is at or below ``sizing.MAX_DRIVER_ROWS`` is finished
    with vectorized union-find on the driver (``_driver_finish`` —
    identical min-member labels; the digest runs anyway as the
    convergence check, so the decision costs no extra job and the
    pull is gated on an exact count).  The star rounds exist because
    the EDGE LIST is cluster-sized; each distributed round costs ~1 s
    of fixed job overhead (eager checkpoint + digest), so on graphs
    that fit the cap — ≤ 80 MB of edge longs, far under the driver's
    result cap — the shortcut replaces 4 measured rounds at the sf0.1
    bench.  At archive scale the edge list stays above any driver cap
    and the loop iterates distributed, unchanged, finishing on the
    driver only once the rounds have shrunk it under the cap
    (post-round-1 it is ~#non-singleton-nodes)."""
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    if not assume_canonical:
        e = _dedup_edges(e)
    e = e.localCheckpoint(eager=True)
    prev = _edge_digest(e)
    if prev[0] <= sizing.MAX_DRIVER_ROWS:
        return _driver_finish(e)
    for _ in range(max_iterations):
        # large-star output feeds small-star, which consumes its input
        # TWICE (the min aggregation and the neighbor join) — persist
        # it for the round so the large-star stars run once, not twice
        # (the round's checkpoint action fills the cache on first use)
        ls = _large_star(e).persist()
        e_next = _dedup_edges(_small_star(ls)).localCheckpoint(eager=True)
        ls.unpersist()
        cur = _edge_digest(e_next)
        e = e_next
        if cur == prev:
            break
        if cur[0] <= sizing.MAX_DRIVER_ROWS:
            return _driver_finish(e)
        prev = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )
    # fixpoint edges, canonicalized by _dedup_edges to (u=min, v=max),
    # are (component-min, member) stars: the root is the u side.  Roots
    # appear only as u — add their self-labels.
    members = e.select(F.col("v").alias("id"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("id")).distinct().withColumn(
        "component", F.col("id")
    )
    return members.unionByName(roots)
