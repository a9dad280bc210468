"""Registered queries, one module per operator family.

Importing the package imports every family module in the order below, and
each ``@query`` declaration registers its Spark body and DuckDB oracle in
``REGISTRY`` as it is defined, so this order is the registry order.
``casf_spark`` itself never imports this package, so library users and the
benchmark do not load it.
"""

from casf_spark.queries._registry import REGISTRY, Registry
from casf_spark.queries import cosine, relational, events  # noqa: F401
from casf_spark.queries import text, lm, quality, dedup  # noqa: F401
from casf_spark.queries import streaming, sampling, embedding  # noqa: F401
from casf_spark.queries import retrieval, classify, web  # noqa: F401
from casf_spark.queries import multimodal  # noqa: F401

__all__ = ["REGISTRY", "Registry"]
