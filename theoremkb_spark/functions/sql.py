"""SQL-surface registration for the frozen scalar functions.

``register_sql_functions(spark)`` exposes the per-document text
functions (functions/text.py — the semantics frozen from the
reference's extract_graph.py/thmtools.py) as Spark SQL UDFs, so
``spark.sql("SELECT tkb_get_pattern(text) ...")`` works for ad-hoc SQL
users exactly like the Python API.

These are the CONVENIENCE path: row-at-a-time Python UDFs are the slow
path by design, and every hot-path use in the engine goes through the
JVM twins (segment._pattern_col, textquality.clean_thm_col) or the
fused Arrow pass instead. The SQL
names are prefixed ``tkb_`` to keep the session namespace clean.
"""

from __future__ import annotations

from pyspark.sql import SparkSession
from pyspark.sql.types import StringType

from .text import (
    clean_thm,
    find_thm_proof,
    find_thm_start,
    get_pattern,
    norm_title,
    normalize_text,
)

_REGISTRY = {
    "tkb_get_pattern": (get_pattern, StringType()),
    "tkb_normalize_text": (normalize_text, StringType()),
    "tkb_norm_title": (norm_title, StringType()),
    "tkb_clean_thm": (clean_thm, StringType()),
    "tkb_find_thm_start": (find_thm_start, StringType()),
    "tkb_find_thm_proof": (find_thm_proof, StringType()),
}


def register_sql_functions(spark: SparkSession) -> list[str]:
    """Register every scalar function as a SQL UDF; returns the names.
    Null-safe: each wrapper passes None through (SQL semantics)."""
    names = []
    for name, (fn, rtype) in _REGISTRY.items():
        spark.udf.register(
            name, (lambda f: lambda s: None if s is None else f(s))(fn), rtype
        )
        names.append(name)
    return names


__all__ = ["register_sql_functions"]
