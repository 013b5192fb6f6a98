"""The sizing policy lives in one module: no other package file may
spell out a broadcast or driver-pull budget of its own."""

import pathlib
import re
from types import SimpleNamespace

from mapchete_xarray_spark import sizing

PKG = pathlib.Path(sizing.__file__).parent
BUDGET_LITERALS = re.compile(r"5_000_000|256 << 20")


def test_budgets_live_in_sizing_only():
    offenders = [
        f"{path.relative_to(PKG)}:{i}"
        for path in sorted(PKG.rglob("*.py"))
        if path.name != "sizing.py"
        for i, line in enumerate(path.read_text().splitlines(), 1)
        if BUDGET_LITERALS.search(line)
    ]
    assert not offenders, offenders


def test_source_partitions_follow_parallelism_then_rows():
    spark = SimpleNamespace(sparkContext=SimpleNamespace(defaultParallelism=4))
    assert sizing.source_partitions(spark, 100, 2000) == 8
    assert sizing.source_partitions(spark, 40_000, 2000) == 20
    assert sizing.source_partitions(spark, 4_000, 500) == 8
