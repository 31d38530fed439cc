"""Python workers import the unpacked pyspark and this package.

``worker_daemon.unpacked_path`` decides from the installation whether
the pyspark/py4j archives and jars leave the workers' ``sys.path``; the
Spark tests check what a worker really imports, and that a Python
operator runs when the driver starts outside the repository.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap
import zipfile

import pandas as pd

from flink_release_1_16_0_spark.worker_daemon import unpacked_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _package(root, name: str, version: str | None = None) -> str:
    pkg = root / name
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    if version is not None:
        (pkg / "version.py").write_text(f'__version__: str = "{version}"\n')
    return str(root)


def _pyspark_zip(root, version: str) -> str:
    root.mkdir(parents=True)
    path = root / "pyspark.zip"
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr("pyspark/__init__.py", "")
        zf.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    return str(path)


def _archives(tmp_path, version: str) -> list[str]:
    lib = tmp_path / "lib"
    return [
        _pyspark_zip(lib, version),
        str(lib / "py4j-0.10.9.9-src.zip"),
        str(tmp_path / "jars" / "spark-core_2.13-4.1.2.jar"),
    ]


def test_path_unchanged_without_unpacked_pyspark(tmp_path):
    site = _package(tmp_path / "site", "py4j")
    path = [str(tmp_path / "cwd"), *_archives(tmp_path, "4.1.2"), site]
    assert unpacked_path(path) == path


def test_path_unchanged_on_version_mismatch(tmp_path):
    site = _package(tmp_path / "site", "pyspark", "4.1.2")
    _package(tmp_path / "site", "py4j")
    path = [*_archives(tmp_path, "4.0.0"), site]
    assert unpacked_path(path) == path


def test_archives_dropped_when_versions_match(tmp_path):
    site = _package(tmp_path / "site", "pyspark", "4.1.2")
    _package(tmp_path / "site", "py4j")
    zipped, py4j_zip, jar = _archives(tmp_path, "4.1.2")
    cwd, files, stdlib = (str(tmp_path / d) for d in ("cwd", "files", "stdlib"))
    path = [cwd, files, zipped, py4j_zip, jar, stdlib, site]
    assert unpacked_path(path) == [cwd, files, stdlib, site]


def test_workers_import_unpacked_pyspark(spark):
    def probe(batches):
        import sys
        import zipimport

        import pyspark

        for _ in batches:
            zipped = any(
                isinstance(f, zipimport.zipimporter) for f in sys.path_importer_cache.values()
            )
            yield pd.DataFrame({"file": [pyspark.__file__], "zipped": [zipped]})

    rows = spark.range(0, 4, 1, 2).mapInPandas(probe, "file string, zipped boolean").collect()
    assert rows
    for r in rows:
        assert os.path.isfile(r.file), r.file
        assert not r.zipped


def test_python_operator_from_foreign_cwd(tmp_path):
    # The driver finds the package through its own sys.path only, as an
    # application started from another directory would; the grouped
    # function calls into the package, so the workers must import it.
    script = textwrap.dedent(
        """
        import sys
        sys.path.insert(0, sys.argv[1])
        import pandas as pd
        from flink_release_1_16_0_spark import get_spark
        from flink_release_1_16_0_spark.datastream.stream import _row_iter, _to_pdf

        spark = get_spark("foreign-cwd")
        df = spark.createDataFrame(pd.DataFrame({"k": [1, 1, 2], "v": [1, 2, 3]}))
        out = df.groupBy("k").applyInPandas(
            lambda pdf: _to_pdf(list(_row_iter(pdf)), ["k", "v"]), "k long, v long"
        )
        print(sorted(tuple(r) for r in out.collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="1", SPARK_DRIVER_MEM="1g")
    proc = subprocess.run(
        [sys.executable, "-c", script, REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert proc.stdout.strip().splitlines()[-1] == "[(1, 1), (1, 2), (2, 3)]"
