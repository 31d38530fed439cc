"""PySpark-native analytics engine with Flink-1.16 Table/SQL capabilities.

A brand-new engine (NOT a port) re-expressing the query and
data-processing surface of the reference (`/root/reference`,
lukoou3/flink-release-1.16.0) on idiomatic PySpark:

- batch relational algebra -> DataFrame/SQL (Catalyst plans, AQE)
- streaming -> Structured Streaming (watermarks, stateful pandas ops)
- changelog (+I/-U/+U/-D per reference RowKind.java:31-52) -> a
  `__rowkind` metadata column + python-side changelog algebra
- the scalar/aggregate function library -> thin shims over
  `pyspark.sql.functions`

Subpackages:
- ``table_env`` TableEnvironment facade: executeSql DDL/DML/query + the
                fluent Table API (the reference's primary entry points)
- ``session``   SparkSession factory tuned for the driver harness
- ``worker_daemon`` Python worker daemon that imports pyspark unpacked
- ``catalog``   parquet star-schema registration (TESTDATA.md tables)
- ``queries``   the operator-coverage query registry (SURVEY.md section 2)
- ``functions`` Flink-named scalar/aggregate function shims
- ``operators`` batch operators Spark lacks natively (as-of join, topn,
                dedup family, similarity search, text analysis)
- ``streaming`` watermark/window/stateful streaming layer
"""

import importlib

# export -> submodule. Resolved on first access, so that importing the
# package (as ``python -m ...worker_daemon`` does) loads no pyspark.
_EXPORTS = {
    "get_spark": "session",
    "load_table": "catalog",
    "register_tables": "catalog",
    "Table": "table_env",
    "TableEnvironment": "table_env",
}

__all__ = list(_EXPORTS)


def __getattr__(name: str):
    if name not in _EXPORTS:
        raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
    value = getattr(importlib.import_module(f"{__name__}.{_EXPORTS[name]}"), name)
    globals()[name] = value
    return value

__version__ = "0.1.0"
