"""propensity_spark — a PySpark-native analytics engine with the
capabilities of the databricks-industry-solutions/propensity reference
(see SURVEY.md), extended with LLM-data-pipeline operators.

Public API:
    get_spark()           session factory (AQE, UTC, reference semantics)
    load_table()          fixture/table scans
    register_views()      reference-named SQL views (raw + derived +
                          published; superset of io.register_views)
    FeatureTable          versioned feature store (MERGE / lookup / as-of)
"""

from propensity_spark.session import get_spark  # noqa: F401
from propensity_spark.io import load_table  # noqa: F401
from propensity_spark.sql import register_views  # noqa: F401
from propensity_spark.feature_store import FeatureTable  # noqa: F401

__all__ = ["get_spark", "load_table", "register_views", "FeatureTable"]
