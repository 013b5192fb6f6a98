"""Physical-plan audits: the plans we promise are the plans we get.

These assertions are the scale story's enforcement: broadcast joins
where a side is small, partition pruning on the sink, no Python eval
nodes in JVM-only pipelines, no BroadcastNestedLoopJoin anywhere in
the registry."""

import os
import re

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as entry_mod  # noqa: F401 (driver surface)
from conftest import S2_FIXTURES_PRESENT
from mapchete_xarray_spark import queries as _q


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.spark
class TestPlanShapes:
    # ann_topk_lsh intentionally cross-joins each vector against the
    # tiny literal hyperplane set (12-72 rows, broadcast) — a
    # constant-size fan-out, not an O(n*m) join.  keyword_topk_tfidf
    # cross-joins the ONE-row corpus-size scalar into the per-term
    # scores (idf needs N) — O(n·1), also not an O(n*m) join.
    # ann_topk_cosine broadcast-cross-joins the n_queries (20) query
    # ids into the corpus — constant fan-out by construction
    BNLJ_ALLOWED = {"ann_topk_lsh", "keyword_topk_tfidf", "ann_topk_cosine"}

    def test_no_nested_loop_join_anywhere(self, spark, sf_dir):
        offenders = []
        for name, fn in _q.all_queries().items():
            if name in self.BNLJ_ALLOWED:
                continue
            if name == "s2_stack_ingest" and not S2_FIXTURES_PRESENT:
                continue  # its scene directory is the reference fixture
            plan = _plan(fn(spark, sf_dir))
            if "BroadcastNestedLoopJoin" in plan or "CartesianProduct" in plan:
                offenders.append(name)
        assert not offenders, f"O(n*m) joins in: {offenders}"

    def test_cosine_refine_is_mapside_array_fold(self, spark, sf_dir):
        """The ANN candidate refines must be the zip_with+aggregate
        array fold (one array row per candidate side), not the
        exploded flat⋈flat component join whose hash aggregate over
        |cand|·d rows dominated the sf1 bench (176.9 s)."""
        for name in ["ann_topk_lsh", "ann_topk_ivf", "ann_topk_cosine",
                     "embedding_near_dup_lsh"]:
            plan = _plan(_q.all_queries()[name](spark, sf_dir))
            assert "zip_with" in plan, f"{name} lost the array-fold refine"

    def test_dedup_refine_is_broadcast_mapside(self, spark, sf_dir):
        """The exact-Jaccard refine must be the broadcast array
        intersection (no exploded candidate×token shuffle): plan shows
        array_intersect inside a projection fed by BroadcastHashJoins."""
        for name in ["lsh_near_dup_pairs", "ngram_jaccard_pairs"]:
            plan = _plan(_q.all_queries()[name](spark, sf_dir))
            assert "array_intersect" in plan, f"{name} lost the array refine"
            assert "BroadcastHashJoin" in plan, f"{name} lost the broadcast sets"

    @pytest.mark.parametrize("refine", ["dedup", "ann"])
    def test_dedup_refine_autosizes_broadcast(self, spark, sf_dir, monkeypatch, refine):
        """The refines' broadcasts are a sized decision, not a
        hardcoded hint (ADVICE r2: the hardcoded default was the plan
        that dies at 10^8 docs).  Under the budget → BroadcastHashJoin;
        over it (forced via sizing.BROADCAST_MAX_BYTES=0) → hinted
        SHUFFLE_HASH join, same rows — for the Jaccard refine and the
        cosine refine alike."""
        from mapchete_xarray_spark import sizing
        from mapchete_xarray_spark.operators import ann, dedup

        if refine == "dedup":
            docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(300)
            sets = dedup.doc_hash_sets(docs).persist()
            ids = docs.select("doc_id")

            def run(cand):
                return dedup._jaccard_refine(cand, sets, 0.1)
        else:
            sets = spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(300).persist()
            ids = sets.selectExpr("vec_id as doc_id")

            def run(cand):
                return ann._pairwise_cosine(cand, sets, "doc_a", "doc_b").select(
                    "doc_a", "doc_b", "cosine"
                )
        cand = (
            ids.selectExpr("doc_id as doc_a")
            .crossJoin(ids.selectExpr("doc_id as doc_b"))
            .where("doc_a < doc_b")
            .limit(500)
        )
        small = run(cand)
        assert "BroadcastHashJoin" in _plan(small)
        monkeypatch.setattr(sizing, "BROADCAST_MAX_BYTES", 0)
        big = run(cand)
        plan_big = _plan(big)
        assert "ShuffledHashJoin" in plan_big
        # identical rows either way (the decision is perf-only)
        rows = sorted(map(tuple, small.collect()))
        assert rows, "fixture must produce rows or the test is vacuous"
        assert rows == sorted(map(tuple, big.collect()))
        sets.unpersist()

    def test_ann_lsh_planes_are_broadcast(self, spark, sf_dir):
        plan = _plan(_q.all_queries()["ann_topk_lsh"](spark, sf_dir))
        assert "BroadcastHashJoin" in plan
        assert "EvalPython" not in plan  # JVM end to end

    def test_tile_assignment_is_jvm_only(self, spark, sf_dir):
        for name in ["tile_count_geodetic_z5", "tile_count_mercator_z7",
                     "cell_rollup_z8_to_z5", "tile_coverage_counts"]:
            plan = _plan(_q.all_queries()[name](spark, sf_dir))
            assert "EvalPython" not in plan, f"{name} fell off the JVM"

    def test_small_dims_are_broadcast(self, spark, sf_dir):
        # q3: customer side must broadcast; pip: AOI cells broadcast;
        # resume: manifest broadcast anti-join
        for name in ["q3_building_revenue", "pip_bbox_join", "tiles_exist_resume_anti"]:
            plan = _plan(_q.all_queries()[name](spark, sf_dir))
            assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, (
                f"{name} lost its broadcast"
            )

    def test_projection_pruned_at_scan(self, spark, sf_dir):
        # q1 reads 7 of 11 lineitem columns; the scan must not read all
        plan = _plan(_q.all_queries()["q1_pricing_summary"](spark, sf_dir))
        scan = plan[plan.index("FileScan"):].split("\n")[0]
        assert "l_orderkey" not in scan, "column pruning failed: whole row read"
        assert "l_quantity" in scan

    def test_filter_pushed_to_parquet(self, spark, sf_dir):
        plan = _plan(_q.all_queries()["q1_pricing_summary"](spark, sf_dir))
        assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan

    def test_hot_census_finds_blobs(self, spark, sf_dir):
        """The 1% census (the 100 TB-honest fraction — 20% was a 20 TB
        pre-read at design scale) must still detect every cell that is
        truly hot by a wide margin (the city blobs, >=10x threshold).
        Marginal cells may flicker either way; only the heavy hitters
        matter for straggler prevention, and the aggregate is exact for
        ANY hot set."""
        from pyspark.sql import functions as F

        from mapchete_xarray_spark.operators.skew import hot_keys_presampled

        pts = (
            spark.read.parquet(f"{sf_dir}/orders.parquet")
            .selectExpr("cast(o_orderkey as long) as key")
            .withColumn("cell_key", F.pmod(F.hash("key"), F.lit(50)))
        )
        # plant a blob: ~25% of rows forced onto one cell
        pts = pts.withColumn(
            "cell_key",
            F.when(F.col("key") % 4 == 0, F.lit(999)).otherwise(F.col("cell_key")),
        )
        n = pts.count()
        threshold = n // 20  # blob is ~5x over it
        sample = pts.sample(fraction=0.01, seed=42)
        hot = {
            r.cell_key
            for r in hot_keys_presampled(sample, "cell_key", threshold, 0.01).collect()
        }
        assert 999 in hot, "1% census missed a 25%-of-input blob"

    def test_salted_agg_is_two_phase(self, spark, sf_dir):
        plan = _plan(_q.all_queries()["tile_count_salted_z5"](spark, sf_dir))
        # two HashAggregate pairs (partial+final per phase)
        assert plan.count("HashAggregate") >= 4


def _formatted(df) -> str:
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return df._jdf.queryExecution().explainString(mode)


def _exchanges(df) -> int:
    """Exchange nodes (shuffle and broadcast) of the formatted plan tree,
    each counted once: a cached stage prints under every scan of it,
    and an executed adaptive stage also prints its initial plan, which
    is skipped."""
    tree = _formatted(df).split("\n\n")[0]
    ids, skip_below = set(), None
    for line in tree.splitlines():
        node = line.lstrip(" :+-*")
        col = len(line) - len(node)
        if skip_below is not None and col > skip_below:
            continue
        skip_below = col if node.startswith("== Initial Plan ==") else None
        m = re.match(r"(?:Broadcast)?Exchange \((\d+)\)", node)
        if m:
            ids.add(m.group(1))
    return len(ids)


@pytest.mark.spark
class TestBandedPlanBudgets:
    """Plan budgets of the five banded near-duplicate queries and the
    IVF top-k at sf0.01 (the first scale whose plans take the shuffle
    paths the bench sees): one (level, key) band join, no distinct()
    over the candidate pairs, and no more exchanges than measured when
    the budgets were set."""

    EXCHANGES = {
        "lsh_near_dup_pairs": 5,
        "simhash_near_pairs": 2,
        "image_phash_near_dup": 1,
        "ann_topk_lsh": 8,
        "embedding_near_dup_lsh": 7,
    }

    @pytest.fixture(scope="class")
    def sf001(self, sf_dir):
        path = os.path.join(os.path.dirname(sf_dir.rstrip("/")), "sf0.01")
        if not os.path.isdir(path):
            pytest.skip(f"no sf0.01 fixture beside {sf_dir}")
        return path

    @pytest.mark.parametrize("name", sorted(EXCHANGES))
    def test_one_band_join_no_dedup(self, spark, sf001, name):
        df = _q.all_queries()[name](spark, sf001)
        plan = re.sub(r"#\d+L?", "", _plan(df))
        levels = set(
            re.findall(
                r"Generate stack\(.*\), \[[^\]]*\], (?:false|true), \[(\w+), (\w+)\]",
                plan,
            )
        )
        assert len(levels) == 1, f"{name}: expected one banded stack, got {levels}"
        joins = re.findall(
            r"(?:BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[(\w+), (\w+)\], \[",
            plan,
        )
        assert joins.count(levels.pop()) == 1, f"{name}: not one (level, key) join"
        assert not re.search(r"HashAggregate\(keys=\[[^\]]*\], functions=\[\]", plan), (
            f"{name}: candidate pairs are deduplicated by an aggregate"
        )
        assert _exchanges(df) <= self.EXCHANGES[name]

    def test_ivf_one_shuffle_six_windows(self, spark, sf001):
        """ann_topk_ivf: the Arrow GEMM assigns and probes map-side, so
        the only hash shuffle is the top-k ranking's, and its window
        operators are one Window and two WindowGroupLimit nodes (six
        mentions in the formatted plan: tree plus details)."""
        text = _formatted(_q.all_queries()["ann_topk_ivf"](spark, sf001))
        assert text.count("hashpartitioning") == 1
        assert text.count("Window") == 6


@pytest.mark.spark
class TestAqeSkewJoin:
    def test_aqe_splits_skewed_join_partition(self, spark):
        """The skew story's BACKSTOP (operators/skew.py is the
        explicit mechanism): with AQE on, a hot join key whose shuffle
        partition dwarfs the median is split at runtime —
        SortMergeJoin(skew=true) in the final adaptive plan.  Pins the
        claim 'AQE stays on as backstop' to an observed plan, not a
        config flag."""
        confs = {
            "spark.sql.adaptive.skewJoin.enabled": "true",
            "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1MB",
            "spark.sql.adaptive.advisoryPartitionSizeInBytes": "1MB",
            "spark.sql.autoBroadcastJoinThreshold": "-1",
        }
        old = {k: spark.conf.get(k, None) for k in confs}
        for k, v in confs.items():
            spark.conf.set(k, v)
        try:
            # ~90% of 200k rows (with a 200B payload → ~36MB) on key 0;
            # the payload is aggregated AFTER the join so it cannot be
            # pruned out of the join shuffle, and the keyless agg puts
            # no distribution requirement above the join (a same-key
            # groupBy would forbid the split — it must reuse the join's
            # partitioning)
            left = spark.range(200_000).selectExpr(
                "case when id % 10 < 9 then 0 else id % 97 end as k",
                # non-foldable payload: Catalyst constant-folded a
                # literal repeat() clean out of the shuffle
                "repeat(md5(cast(id as string)), 8) as pad",
            )
            right = spark.range(97).selectExpr("id as k", "id * 2 as v")
            j = left.join(right, "k").selectExpr("max(pad) as max_pad")
            j.collect()  # AQE finalizes the plan during execution
            plan = j._jdf.queryExecution().executedPlan().toString()
            assert "skew=true" in plan, f"AQE did not split the skewed join:\n{plan[:2000]}"
        finally:
            for k, v in old.items():
                if v is None:
                    spark.conf.unset(k)
                else:
                    spark.conf.set(k, v)


@pytest.mark.spark
class TestBucketedJoin:
    def test_bucketed_join_is_exchange_free(self, spark, sf_dir, tmp_path_factory):
        """The co-located-join lever for repeated 100 TB joins: bucket
        both fact tables on the join key (+ sort) at write time, and
        the join plans with NO Exchange and NO per-query Sort — the
        shuffle is paid once at layout time, not once per query.  This
        is the parquet/warehouse analog of Iceberg bucket partitioning
        mentioned in sources/images.py's design note."""
        wh = tmp_path_factory.mktemp("bucket_wh")
        db = "bucketdemo"
        spark.sql(f"create database if not exists {db} location '{wh}'")
        try:
            orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
            li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            (
                orders.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
                .mode("overwrite").saveAsTable(f"{db}.orders_b")
            )
            (
                li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
                .mode("overwrite").saveAsTable(f"{db}.lineitem_b")
            )
            j = spark.table(f"{db}.lineitem_b").join(
                spark.table(f"{db}.orders_b").hint("merge"),
                F.col("l_orderkey") == F.col("o_orderkey"),
            ).groupBy("o_orderpriority").count()
            plan = _plan(j)
            smj = plan[plan.index("SortMergeJoin"):]
            # no shuffle anywhere under the join: bucket layout == join
            # distribution on both sides
            assert "Exchange" not in smj, f"bucketed join still shuffles:\n{smj}"
            assert j.count() > 0
            # same aggregate as the shuffled plan
            base = (
                li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
                .groupBy("o_orderpriority").count()
            )
            assert sorted(map(tuple, j.collect())) == sorted(
                map(tuple, base.collect())
            )
        finally:
            spark.sql(f"drop database if exists {db} cascade")


@pytest.mark.spark
class TestRegisteredUdf:
    def test_tile_id_sql_function(self, spark):
        import warnings

        from mapchete_xarray_spark.functions.tiling import register_sql_functions

        with warnings.catch_warnings():
            warnings.simplefilter("error", UserWarning)
            register_sql_functions(spark)
        row = spark.sql(
            "select TILE_ID(cast(15.0064 as double), cast(48.7485 as double), 5) as t"
        ).collect()[0]
        from mapchete_xarray_spark import cells

        assert row.t == int(cells.cell_id(5, 7, 34))
