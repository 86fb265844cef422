"""The engine's Python worker daemon (``__spark_worker__.py``).

``get_spark`` starts Spark's Python daemon from that module, which
takes the Spark archives off the workers' ``sys.path`` so PySpark's
per-task ``importlib.invalidate_caches()`` no longer re-reads
``pyspark.zip`` (CPython < 3.12, gh-103200).
"""

from __future__ import annotations

import os
import zipfile

import pytest


def test_get_spark_workers_hold_no_zipimporter(spark):
    def probe(_):
        import sys
        import zipimport

        import pyspark

        yield (
            sorted(
                k
                for k, f in sys.path_importer_cache.items()
                if isinstance(f, zipimport.zipimporter)
            ),
            pyspark.__file__,
        )

    [(zip_keys, pyspark_file)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert zip_keys == []
    assert ".zip" + os.sep not in pyspark_file


def _zip(path, pkg: str, version: str) -> str:
    with zipfile.ZipFile(path, "w") as zf:
        zf.writestr(f"{pkg}/__init__.py", "")
        zf.writestr(f"{pkg}/version.py", f"__version__: str = '{version}'\n")
    return str(path)


def _unzipped(site, pkg: str, version: str) -> None:
    (site / pkg).mkdir(parents=True)
    (site / pkg / "__init__.py").write_text("")
    (site / pkg / "version.py").write_text(f"__version__ = '{version}'\n")


@pytest.mark.parametrize("site_pyspark", [None, "3.5.0", "4.1.2"])
def test_worker_path_drops_zips_only_for_matching_unzipped_pyspark(
    tmp_path, site_pyspark
):
    import __spark_worker__ as worker

    lib = tmp_path / "python" / "lib"
    lib.mkdir(parents=True)
    pyspark_zip = _zip(lib / "pyspark.zip", "pyspark", "4.1.2")
    py4j_zip = _zip(lib / "py4j-0.10.9.9-src.zip", "py4j", "0.10.9.9")
    jar = tmp_path / "jars" / "spark-core_2.13-4.1.2.jar"
    jar.parent.mkdir()
    jar.write_bytes(b"")
    site = tmp_path / "site-packages"
    _unzipped(site, "py4j", "0.10.9.9")
    if site_pyspark is not None:
        _unzipped(site, "pyspark", site_pyspark)
    cwd = str(tmp_path / "cwd")
    path = [cwd, pyspark_zip, py4j_zip, str(jar), str(site)]

    if site_pyspark == "4.1.2":
        assert worker.worker_path(path) == [cwd, str(site)]
    else:
        assert worker.worker_path(path) == [cwd, pyspark_zip, py4j_zip, str(site)]
