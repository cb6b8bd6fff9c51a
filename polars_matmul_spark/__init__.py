"""polars_matmul_spark — a PySpark-native analytics engine with the
query and data-processing capabilities of NivekNey/polars-matmul,
re-expressed Spark-first, plus the large-scale training-data-pipeline
operators (dedup, similarity search, text analysis, multimodal columns)
such an engine needs at 100 TB.

Layers:

- ``kernels``     pure-NumPy similarity kernels (reference-exact semantics)
- ``functions``   Spark Column-level surface: matmul / topk Arrow UDFs
                  with a broadcast corpus (the reference-faithful path)
- ``operators``   DataFrame-level operators: exact distributed top-k join
                  (crossJoin+window scale path), dedup family, ANN, text
- ``sources``     readers/writers for the sf* parquet tables
- ``streaming``   Structured Streaming operators
- ``plans``       session factory + plan-inspection helpers
"""

from polars_matmul_spark import kernels  # noqa: F401
from polars_matmul_spark.namespace import register_pmm_namespace
from polars_matmul_spark.plans.session import gate_zip_invalidation

# importing the package registers `.pmm` on every Column, exactly like
# `import polars_matmul` registers the Polars expression namespace
# (reference python/polars_matmul/__init__.py:39-40)
register_pmm_namespace()

# every worker that unpickles a package function runs this import: from
# its next task on, the per-task import-cache invalidation skips the
# unchanged pyspark/py4j/spark-core archives (no-op on the driver)
gate_zip_invalidation()

__version__ = "0.1.0"
