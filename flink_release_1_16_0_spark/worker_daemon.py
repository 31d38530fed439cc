"""Python worker daemon that imports the installed, unpacked pyspark.

Spark puts ``pyspark.zip``, the py4j source zip and the spark-core jar
at the head of every Python worker's ``sys.path``. Each task then calls
``importlib.invalidate_caches()``, and on CPython 3.11 that re-reads the
central directory of every cached zipimporter: 0.18-0.26 s of CPU per
task on a 4-core Xeon host for pyspark.zip (1328 entries) and the jar
(5359 entries, no ``.py`` file among them).

When the remaining ``sys.path`` entries resolve an unpacked pyspark of
the same ``__version__`` as the one inside pyspark.zip, and an unpacked
py4j, this module drops the archives and their cached importers from
``sys.path`` before it runs the stock daemon, so every forked worker
imports from site-packages. Otherwise ``sys.path`` stays as it is and
the stock behaviour applies. A zip shipped with
``SparkContext.addPyFile`` lands on every worker's ``sys.path`` and
brings one per-task re-read back.

``session.get_spark`` selects this module through
``spark.python.daemon.module``; Spark runs it as
``python -m flink_release_1_16_0_spark.worker_daemon``. Only the
standard library is imported before the switch.
"""

from __future__ import annotations

import ast
import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _is_archive(entry: str) -> bool:
    name = os.path.basename(entry)
    return (
        name == "pyspark.zip"
        or (name.startswith("py4j-") and name.endswith(".zip"))
        or name.endswith(".jar")
    )


def _version(source: bytes) -> str | None:
    """The string ``__version__`` assigned at the top of a module."""
    for node in ast.parse(source).body:
        target = node.targets[0] if isinstance(node, ast.Assign) else getattr(node, "target", None)
        if getattr(target, "id", None) == "__version__" and isinstance(node.value, ast.Constant):
            return node.value.value
    return None


def unpacked_path(path: list[str]) -> list[str]:
    """``path`` without its pyspark/py4j archives and jars, if the rest
    resolves an unpacked pyspark of the zipped version and an unpacked
    py4j; else ``path`` itself."""
    zipped = [p for p in path if os.path.basename(p) == "pyspark.zip"]
    rest = [p for p in path if not _is_archive(p)]
    if not zipped or PathFinder.find_spec("py4j", rest) is None:
        return path
    pyspark = PathFinder.find_spec("pyspark", rest)
    if pyspark is None or not pyspark.submodule_search_locations:
        return path
    try:
        with zipfile.ZipFile(zipped[0]) as zf:
            want = _version(zf.read("pyspark/version.py"))
        with open(os.path.join(pyspark.submodule_search_locations[0], "version.py"), "rb") as f:
            have = _version(f.read())
    except (OSError, KeyError, SyntaxError, zipfile.BadZipFile):
        return path
    return rest if want is not None and want == have else path


def use_unpacked_pyspark() -> None:
    """Apply :func:`unpacked_path` to ``sys.path`` and forget the
    importers cached for the entries it drops."""
    kept = unpacked_path(sys.path)
    dropped = [p for p in sys.path if p not in kept]
    sys.path[:] = kept
    for key in list(sys.path_importer_cache):
        if any(key == p or key.startswith(p + os.sep) for p in dropped):
            del sys.path_importer_cache[key]


if __name__ == "__main__":
    use_unpacked_pyspark()
    from pyspark.daemon import manager

    manager()
