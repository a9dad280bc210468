"""casf_spark — a PySpark-native batch analytics engine with the
capabilities of SaltFishYe/Casf (sparse-matrix cosine similarity via Spark
SQL), extended with large-scale data-pipeline operators (dedup, similarity
search, text analysis, multimodal plumbing, event-time windows). Like the
reference it reads and writes batch DataFrames only: no streaming sources
or sinks.

Everything is expressed DataFrame-first so Catalyst/Tungsten (and AQE at
runtime) pick the physical strategy; there are no custom Catalyst rules and
no row-at-a-time Python UDFs in any hot path.
"""

from casf_spark.matrix.analyse import CosineAnalyser
from casf_spark.matrix.model import CosineModel

#: reference-API aliases (Casf class names) for drop-in migration
MatrixCosineAnalyse = CosineAnalyser
MatrixModel = CosineModel

__all__ = ["CosineAnalyser", "CosineModel", "MatrixCosineAnalyse",
           "MatrixModel"]
__version__ = "0.1.0"
