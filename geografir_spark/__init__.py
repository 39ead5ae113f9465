"""geografir_spark — a PySpark-native spatial-join + tiling engine.

A from-scratch re-expression of the capabilities of
``Vibrant-Planet/geografir`` (reference at ``/root/reference``) as a
distributed, columnar, Catalyst-friendly Spark engine:

- ``geo.cells``    hierarchical Z-order cell index (H3/S2-style), pure bit
                   math — native Catalyst expressions, no Python on the hot
                   path.
- ``geo.geocode``  deterministic text → (lon, lat) extraction (regex +
                   seeded fallback), dual-emitted for Spark and the DuckDB
                   oracle.
- ``geo.crs``      CRS normalization (reference: geometry/src/geometry/crs.py)
                   + vendored ellipsoidal projections (pyproj absent in this
                   environment).
- ``geo.wkt``      vendored WKT parser/writer for the 7 geometry types the
                   reference supports (geometry/tests/test_geometry.py:19-37).
- ``geo.kernels``  vectorized geometry kernels (envelope, transform, PIP).
- ``operators``    spatial joins (PIP, bbox), kNN, dedup (exact/minhash/
                   simhash), similarity search, text analysis, skew handling.
- ``raster``       tiled raster model + conform/zonal kernels (reference:
                   raster_array/src/raster_array/raster_array.py).
- ``plans``        per-partition lineage + checkpoint/resume.
- ``sources``      pages-table derivation and parquet/iceberg-abstracted IO.
"""

__version__ = "0.1.0"

from geografir_spark.shipping import install_zip_cache

install_zip_cache()
