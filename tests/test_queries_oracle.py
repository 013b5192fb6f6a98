"""Replicates the driver's correctness gate locally: for every query
with an oracle, run Spark vs DuckDB at sf0.001 and compare row count,
schema width, and an order-insensitive value hash over name-sorted
columns."""

import hashlib

import duckdb
import pytest

import __spark_entry__ as entry_mod

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"create view {t} as select * from '{sf_dir}/{t}.parquet'")
    return con


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


from conftest import S2_FIXTURES_MISSING, S2_FIXTURES_PRESENT  # noqa: E402
from mapchete_xarray_spark import queries as _q  # noqa: E402

# driver-facing AND overflow entries: the pytest gate covers the full
# surface even though the driver records only the capped QUERIES dict.
# Names come from the registered dicts, so no oracle is built here; the
# s2 case needs the reference fixture its query and oracle read.
ALL = [
    pytest.param(
        name,
        marks=pytest.mark.skipif(
            not S2_FIXTURES_PRESENT, reason=S2_FIXTURES_MISSING
        ),
    )
    if name == "s2_stack_ingest"
    else name
    for name in sorted({**_q.ORACLES, **_q.EXTRA_ORACLES})
]


@pytest.mark.spark
@pytest.mark.parametrize("name", ALL)
def test_query_matches_oracle(spark, duck, sf_dir, name):
    q = _q.all_queries()[name]
    sdf = q(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    res = duck.execute(_q.resolve_oracle(name))
    duck_cols = [d[0] for d in res.description]
    duck_rows = res.fetchall()

    assert sorted(c.lower() for c in spark_cols) == sorted(
        c.lower() for c in duck_cols
    ), f"{name}: column names differ"
    assert len(spark_rows) == len(duck_rows), f"{name}: row counts differ"
    assert _value_hash(spark_rows, [c.lower() for c in spark_cols]) == _value_hash(
        duck_rows, [c.lower() for c in duck_cols]
    ), f"{name}: value hash differs"


@pytest.mark.spark
def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert set(df.columns) == {"tile_row", "tile_col", "tile_id", "n_images"}


def test_driver_registry_fits_record_cap():
    """The driver records only the first 50 registered queries
    (CORRECTNESS_r05 dropped the 8 last-registered raster entries);
    the driver-facing dict must fit the cap, with the round-5 raster
    family inside it and not in the final positions."""
    names = list(entry_mod.queries())
    assert len(names) <= _q._DRIVER_QUERY_CAP
    raster = [
        "zonal_stats_aoi", "zonal_percentiles_aoi", "rasterize_aoi_labels",
        "region_extraction", "raster_zonal_by_label",
        "temporal_median_composite", "ndvi_band_math", "export_xyz_cache",
    ]
    demoted_now = set(_q.DEMOTED_BY_ROUND[_q.CURRENT_ROUND])
    for n in raster:
        if n in demoted_now:  # rotated out this round, back next round
            continue
        assert n in names and names.index(n) < 40, (n, names.index(n))
    # the overflow entries remain first-class: queryable + oracle-gated
    for n in _q.EXTRA_QUERIES:
        assert n in _q.all_queries()
        assert n not in names
