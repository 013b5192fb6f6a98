"""Connected components (operators/cc.py): brute-force union-find
parity on adversarial graph shapes, convergence-round bounds, and the
no-driver-materialization scale contract.

The two registry entries (`near_dup_components`, `dedup_survivors`)
get full rows+schema+hash oracle coverage automatically via
tests/test_queries_oracle.py (DuckDB recursive CTE)."""

import numpy as np
import pytest

from mapchete_xarray_spark import sizing
from mapchete_xarray_spark.operators.cc import connected_components


def _uf_components(edges, nodes=None):
    """Reference union-find: {node: min-id-of-component}."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    def union(a, b):
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)

    for a, b in edges:
        union(a, b)
    for n in nodes or []:
        find(n)
    # path-compress fully, then label by root (root IS the min id:
    # union always parents the larger root under the smaller)
    return {n: find(n) for n in parent}


def _run(spark, edges):
    df = spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "src long, dst long"
    )
    out = connected_components(df)
    return {r.id: r.component for r in out.collect()}


@pytest.mark.spark
class TestConnectedComponents:
    def test_graph_shapes(self, spark):
        """Chain (worst diameter), cycle, clique (the near-dup shape),
        two components, duplicate + reversed + self-loop edges."""
        cases = [
            [(i, i + 1) for i in range(20)],                      # chain
            [(i, (i + 1) % 12) for i in range(12)],               # cycle
            [(a, b) for a in range(8) for b in range(a + 1, 8)],  # clique
            [(1, 2), (2, 3), (10, 11), (12, 11)],                 # 2 comps
            [(5, 6), (6, 5), (5, 6), (7, 7), (7, 8)],             # dups/self
        ]
        for edges in cases:
            got = _run(spark, edges)
            want = _uf_components(edges)
            # self-loop-only nodes: (7,7) is dropped, but 7 has a real
            # edge to 8 here, so every node with a non-self edge appears
            assert got == want, edges

    def test_random_graphs_match_union_find(self, spark):
        """Seeded sweep across densities, incl. the supercritical
        regime (one giant component) and sparse fragments."""
        rng = np.random.default_rng(7)
        for n, m in [(30, 10), (50, 50), (40, 200), (60, 35)]:
            edges = [
                (int(rng.integers(0, n)), int(rng.integers(0, n)))
                for _ in range(m)
            ]
            edges = [(a, b) for a, b in edges if a != b]
            got = _run(spark, edges)
            want = _uf_components(edges)
            assert got == want, (n, m)

    def test_empty_and_single_edge(self, spark):
        assert _run(spark, [(3, 9)]) == {3: 3, 9: 3}
        empty = spark.createDataFrame([], "src long, dst long")
        assert connected_components(empty).count() == 0

    def test_converges_fast_on_clique(self, spark):
        """A 40-clique (the shape dense near-dup clusters take) must
        converge inside the iteration cap with room to spare — the
        large-star step collapses cliques in O(1) rounds; a failure
        here means the alternation regressed to label-propagation
        speed."""
        edges = [(a, b) for a in range(40) for b in range(a + 1, 40)]
        df = spark.createDataFrame(edges, "src long, dst long")
        out = connected_components(df, max_iterations=6)
        rows = {r.id: r.component for r in out.collect()}
        assert rows == {i: 0 for i in range(40)}

    def test_nonconvergence_raises(self, spark, monkeypatch):
        df = spark.createDataFrame([(i, i + 1) for i in range(64)], "src long, dst long")
        # MAX_DRIVER_ROWS=0: the small-graph shortcut would otherwise
        # legitimately finish this chain in round 0
        monkeypatch.setattr(sizing, "MAX_DRIVER_ROWS", 0)
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(df, max_iterations=1)

    def test_no_driver_materialization(self):
        """The distributed iteration may pull only per-round scalar
        digests to the driver — never edges or components (the 100 TB
        contract).  r9 adds ONE sanctioned exception: the
        digest-gated ``_driver_finish`` small-graph shortcut, whose
        collect is bounded by ``sizing.MAX_DRIVER_ROWS`` (the same
        bounded-driver-list discipline as the regrid/focal/zonal key
        gates).  Source audit: driver pulls appear ONLY inside
        ``_driver_finish``; the loop body itself stays pull-free."""
        import inspect

        import mapchete_xarray_spark.operators.cc as cc

        src = inspect.getsource(cc)
        finish_src = inspect.getsource(cc._driver_finish)
        outside = src.replace(finish_src, "")
        for banned in ("collect(", "toPandas", "toLocalIterator"):
            assert banned not in outside, banned
        # the shortcut must be gated on the digest count, not size
        # estimates
        loop_src = inspect.getsource(cc.connected_components)
        assert "MAX_DRIVER_ROWS" in loop_src

    def test_driver_finish_matches_distributed(self, spark, monkeypatch):
        """The gated driver finish and the pure distributed iteration
        must produce identical labels (the finish is a perf shortcut,
        never a semantic fork) — forced via MAX_DRIVER_ROWS=0 so
        the distributed path stays covered now that small graphs take
        the shortcut by default."""
        rng = np.random.default_rng(11)
        cases = [
            [(i, i + 1) for i in range(20)],
            [(a, b) for a in range(8) for b in range(a + 1, 8)],
            [(1, 2), (2, 3), (10, 11), (12, 11)],
        ]
        edges = [
            (int(rng.integers(0, 40)), int(rng.integers(0, 40)))
            for _ in range(80)
        ]
        cases.append([(a, b) for a, b in edges if a != b])
        for es in cases:
            df = spark.createDataFrame(
                [(int(a), int(b)) for a, b in es], "src long, dst long"
            )
            fast = {
                r.id: r.component for r in connected_components(df).collect()
            }
            with monkeypatch.context() as m:
                m.setattr(sizing, "MAX_DRIVER_ROWS", 0)
                dist = {
                    r.id: r.component
                    for r in connected_components(df).collect()
                }
            assert fast == dist == _uf_components(es), es


@pytest.mark.spark
class TestDedupSurvivors:
    def test_survivor_accounting(self, spark, sf_dir):
        """Cross-check the two registry entries against each other:
        survivors' member counts and chars_removed must re-derive from
        the component labels + document lengths."""
        from mapchete_xarray_spark.queries import all_queries as _all_queries
        QUERIES = _all_queries()

        comp = {
            r.doc_id: r.component
            for r in QUERIES["near_dup_components"](spark, sf_dir).collect()
        }
        docs = {
            r.doc_id: r.n_chars
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
        }
        want = {}
        for d, c in comp.items():
            m = want.setdefault(c, [0, 0])
            m[0] += 1
            if d != c:
                m[1] += docs[d]
        want = {c: tuple(v) for c, v in want.items() if v[0] >= 2}
        got = {
            r.component: (r.n_members, r.chars_removed)
            for r in QUERIES["dedup_survivors"](spark, sf_dir).collect()
        }
        assert got == want
        # every component label is a member of its own cluster
        assert all(comp[c] == c for c in got)

    def test_quality_survivor_policy(self, spark, sf_dir):
        """dedup_survivors_quality must pick, per multi-member cluster,
        the longest document (doc_id-asc tie-break) — re-derived here
        from the component labels + document lengths."""
        from mapchete_xarray_spark.queries import all_queries as _all_queries
        QUERIES = _all_queries()

        comp = {
            r.doc_id: r.component
            for r in QUERIES["near_dup_components"](spark, sf_dir).collect()
        }
        docs = {
            r.doc_id: r.n_chars
            for r in spark.read.parquet(f"{sf_dir}/documents.parquet").collect()
        }
        clusters = {}
        for d, c in comp.items():
            clusters.setdefault(c, []).append(d)
        want = {}
        for c, members in clusters.items():
            if len(members) < 2:
                continue
            best = sorted(members, key=lambda d: (-docs[d], d))[0]
            want[c] = (best, docs[best], len(members))
        got = {
            r.component: (r.survivor, r.survivor_chars, r.n_members)
            for r in QUERIES["dedup_survivors_quality"](spark, sf_dir).collect()
        }
        assert got == want and len(got) > 0
