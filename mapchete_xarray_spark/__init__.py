"""mapchete_xarray_spark — a from-scratch PySpark-native spatial-join +
tiling engine with the capabilities of ``ungarj/mapchete_xarray``
(reference, read-only, at /root/reference), re-expressed Spark-first.

Layout:
    grid.py        exact pyramid grid math (numpy spec, tested golden)
    cells.py       Morton/quadkey hierarchical cell ids + k-rings
    codecs.py      raw/q8 image payload codecs + PSNR
    functions/     Catalyst column expressions + Arrow UDFs (tile ids,
                   cell ids, text/dedup hashing, vector math)
    sources/       deterministic synthetic images/AOI generators,
                   parquet readers
    operators/     spatial joins (bucket-grid PIP, one-pass kNN), mosaic /
                   tile materialization, dedup, text analysis, ANN,
                   gaps-and-islands regions, skew salting
    plans/         job spec (.mapchete-equivalent) validation + pipeline
                   assembly
    sinks: sources/tiledir.py  chunk-aligned TileDirectory-style sink
                   with manifest, lineage + metrics, resume anti-join
"""

__version__ = "0.1.0"

from . import grid, cells, codecs  # noqa: F401
