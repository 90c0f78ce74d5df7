"""DataFrame stage builders (the engine's operator library).

Every operator is either pure pyspark.sql expressions (JVM-side) or an
Arrow-batched pandas UDF / mapInPandas / applyInPandas stage. No
per-row Python UDFs anywhere.
"""

from .registry import STAGES, register_stage  # noqa: F401


def sql_ref(c) -> str:
    """SQL text for an expression argument: a column name (or any SQL
    text) as is; a Column rendered to its SQL (one py4j call)."""
    return c if isinstance(c, str) else c._jc.toString()
