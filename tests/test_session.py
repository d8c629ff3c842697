"""Python-worker import caches.

pyspark.worker calls importlib.invalidate_caches() at the start of every
task. Importing the package in a worker keeps that call from re-reading
the archives Spark installs under SPARK_HOME (pyspark.zip, py4j, the
spark-core jar); archives a user adds keep being re-read. Each UDF below
records the archives `zipimport._read_directory` reads during one
invalidate_caches() call in the worker.
"""

from __future__ import annotations

import os
import sys
import uuid
import zipfile

import pandas as pd
import pytest
from pyspark import cloudpickle
from pyspark.sql import functions as F

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_HOME"), reason="workers find Spark's archives via SPARK_HOME"
)

# the UDFs call a helper of this module, which workers cannot import
cloudpickle.register_pickle_by_value(sys.modules[__name__])


def _archives_read_by(invalidate) -> list[str]:
    """Archives zipimport reads while `invalidate()` runs."""
    import zipimport

    seen = []
    read = zipimport._read_directory

    def spy(archive):
        seen.append(archive)
        return read(archive)

    zipimport._read_directory = spy
    try:
        invalidate()
    finally:
        zipimport._read_directory = read
    return sorted(set(seen))


def test_worker_keeps_spark_archive_directories(spark):
    spark_root = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")

    @F.pandas_udf("array<string>")
    def reread(x: pd.Series) -> pd.Series:
        import importlib

        import entity_resolver_spark  # noqa: F401

        return pd.Series([_archives_read_by(importlib.invalidate_caches)] * len(x))

    [row] = spark.range(1).select(reread(F.col("id")).alias("a")).collect()
    spark_archives = [a for a in row.a if os.path.realpath(a).startswith(spark_root)]
    assert spark_archives == []


def test_added_py_file_is_still_reread(spark, tmp_path):
    name = f"added_mod_{uuid.uuid4().hex[:8]}"
    archive = tmp_path / f"{name}.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr(f"{name}.py", "VALUE = 42\n")
    spark.sparkContext.addPyFile(str(archive))

    @F.pandas_udf("value long, reread boolean")
    def probe(x: pd.Series) -> pd.DataFrame:
        import importlib

        import entity_resolver_spark  # noqa: F401

        value = importlib.import_module(name).VALUE
        seen = _archives_read_by(importlib.invalidate_caches)
        reread = any(os.path.basename(a) == f"{name}.zip" for a in seen)
        return pd.DataFrame({"value": [value] * len(x), "reread": [reread] * len(x)})

    [row] = spark.range(1).select(probe(F.col("id")).alias("p")).select("p.*").collect()
    assert (row.value, row.reread) == (42, True)


def test_spark_files_under_spark_home_are_still_reread(tmp_path, monkeypatch):
    """A standalone executor keeps its SparkFiles directory under
    SPARK_HOME/work: archives there are the user's and keep stock
    behaviour; the rest of SPARK_HOME is Spark's."""
    import zipimport

    from pyspark import SparkFiles

    import entity_resolver_spark

    home = tmp_path / "spark"
    work = home / "work" / "app-1" / "0"
    (home / "python" / "lib").mkdir(parents=True)
    work.mkdir(parents=True)
    importers = {}
    for path in (home / "python" / "lib" / "pyspark.zip", work / "dep.zip", tmp_path / "user.zip"):
        with zipfile.ZipFile(path, "w") as z:
            z.writestr("m.py", "")
        importers[path.name] = zipimport.zipimporter(str(path))
        monkeypatch.setitem(sys.path_importer_cache, str(path), importers[path.name])
    monkeypatch.setattr(SparkFiles, "_root_directory", str(work))

    monkeypatch.delenv("SPARK_HOME")
    entity_resolver_spark._keep_spark_archive_directories()
    assert not any("invalidate_caches" in vars(i) for i in importers.values())

    monkeypatch.setenv("SPARK_HOME", str(home))
    entity_resolver_spark._keep_spark_archive_directories()
    kept = sorted(name for name, i in importers.items() if "invalidate_caches" in vars(i))
    assert kept == ["pyspark.zip"]
