"""The Python worker daemon of a `get_spark` session
(`mimic2ts_spark.daemon`): the stock `pyspark.daemon`, run from the
installed pyspark when its version equals that of Spark's zip."""

from __future__ import annotations

import os
import zipfile

import pyspark
from pyspark.sql import functions as F

from mimic2ts_spark.daemon import _pyspark_version, search_path

ZIP = "/spark/python/lib/pyspark.zip"
PY4J = "/spark/python/lib/py4j-src.zip"
SITE = "/py/site-packages"
PATH = ["", ZIP, PY4J, "/py/lib", "/py/lib-dynload", SITE]


def test_udf_worker_imports_installed_pyspark(spark):
    @F.udf("string")
    def pyspark_file(_):
        import pyspark

        return pyspark.__file__

    (worker_file,) = spark.range(1).select(pyspark_file("id")).first()
    assert ".zip" not in worker_file, worker_file


def test_installed_pyspark_moves_ahead_of_the_zip_on_equal_versions():
    versions = {ZIP: "4.1.2", SITE: "4.1.2"}
    assert search_path(PATH, versions.get) == [
        "", PY4J, "/py/lib", "/py/lib-dynload", SITE, ZIP
    ]


def test_zip_kept_when_versions_differ():
    versions = {ZIP: "4.1.2", SITE: "4.0.0"}
    assert search_path(PATH, versions.get) == PATH


def test_path_kept_without_an_installed_pyspark_behind_the_zip():
    assert search_path(PATH, {ZIP: "4.1.2"}.get) == PATH
    assert search_path(PATH, {SITE: "4.1.2"}.get) == PATH
    assert search_path(PATH, {}.get) == PATH


def test_pyspark_version_read_from_a_zip_and_a_directory(tmp_path):
    archive = tmp_path / "pyspark.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("pyspark/__init__.py", "raise ImportError('not imported')\n")
        z.writestr("pyspark/version.py", "__version__: str = '9.9.9'\n")
    assert _pyspark_version(str(archive)) == "9.9.9"
    assert _pyspark_version(os.path.dirname(pyspark.__path__[0])) == pyspark.__version__
    assert _pyspark_version(str(tmp_path)) is None
