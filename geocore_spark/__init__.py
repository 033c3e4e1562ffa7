"""geocore_spark — a PySpark-native spatial-join + tiling analytics engine.

A from-scratch re-expression of the query/data-processing capabilities of the
reference GeoCore stack (woodgilber/GeoCore; see SURVEY.md) as idiomatic
PySpark: declarative DataFrame plans optimized by Catalyst/AQE, pure Column
expressions for the hot path (tiling, haversine, filters, joins, windows),
and Arrow-vectorized pandas UDFs only where built-ins genuinely cannot
express the semantics (S2 Hilbert indexing, WKB polygon refine, MinHash).

Layout
------
- ``functions/``  scalar kernels: tiling grid, S2, geodesy, text, hashing
- ``operators/``  relational/spatial operators: assembly joins, PIP join,
  kNN, zonal sampling, dedup, similarity search, temporal, skew handling
- ``sources/``    deterministic synthetic generators + parquet IO
- ``geometry/``   WKB codec and vectorized point-in-polygon
- ``plans/``      stage metrics log and checkpoint/resume manifests
"""

from geocore_spark.session import get_spark  # noqa: F401

__version__ = "0.1.0"
