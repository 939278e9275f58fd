"""zonal_datacube_spark — a PySpark-native analytics engine.

A brand-new engine with the query/data-processing capabilities of the
``wri/zonal-datacube`` reference (see ``/root/reference/README.md:1-2``:
"zonal-datacube — Scalable Dask-backed zonal statistics"), re-expressed
Spark-first: declarative DataFrame/SQL plans optimized by Catalyst/AQE,
partial+final aggregation, broadcast joins for small zone/dim tables, and
Arrow-vectorized pandas UDFs only where built-in operators cannot express
the semantics.

Layout
------
- ``session``    : SparkSession factory with the engine's fixed config
- ``worker_daemon``: Python worker daemon that imports the installed pyspark
- ``sources``    : parquet loaders / sinks for the fixture star schema
- ``operators``  : the query inventory (SURVEY.md §2) — one module per family
- ``functions``  : reusable column expressions (arrays, text hashing, UDFs)
- ``plans``      : plan diagnostics (pushdown / broadcast / codegen checks)
- ``streaming``  : Structured Streaming demos (batch-equivalence checked)
- ``registry``   : merges every operator module's QUERIES/ORACLE dicts

Importing the package imports nothing else: Python workers load
``worker_daemon`` through it before pyspark is imported.
"""
