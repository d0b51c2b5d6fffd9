"""georeader_spark — a PySpark-native spatial-join + tiling engine.

Re-expresses the capabilities of spaceml-org/georeader (windowed raster
reads, GeoTensor grid algebra, reprojection, tiling, vector<->raster,
spatial catalog queries) as distributed DataFrame operators over
Common-Crawl-style page tables, plus the training-data-pipeline
operators (dedup, similarity search, text analysis) a 100 TB corpus
needs. See SURVEY.md for the capability map and file:line citations
into the reference.

Layout:
- ``kernels/``    pure numpy math (window algebra, cells, geometry, CRS)
- ``functions/``  Spark Column-expression builders (JVM-side, no UDFs)
- ``operators/``  DataFrame -> DataFrame operators (joins, tiling, dedup)
- ``sources/``    deterministic synthetic generators + table loaders
- ``plans/``      grid-spec planning, lineage/checkpoint, session config
- ``queries.py``  the query registry: builders + DuckDB oracle SQL
- ``pipeline.py`` the flagship pages -> cell -> PIP -> tile pipeline
"""

__version__ = "0.1.0"
