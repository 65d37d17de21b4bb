"""The Python-worker bootstrap: workers import the installed pyspark when
it is the same version as Spark's ``pyspark.zip``, and nothing changes
otherwise."""

from __future__ import annotations

import importlib.util
import os
import types
import zipfile

import pytest
from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from transitdata_monitor_data_collector_spark import session
from transitdata_monitor_data_collector_spark._pyworker.sitecustomize import (
    drop_duplicate_pyspark_zip,
)


def _spark_zip_matches_installed() -> bool:
    import pyspark

    zpath = os.path.join(
        os.environ.get("SPARK_HOME", ""), "python", "lib", "pyspark.zip"
    )
    if not os.path.isfile(zpath):
        return False
    with zipfile.ZipFile(zpath) as z:
        zipped = z.read("pyspark/version.py")
    with open(os.path.join(os.path.dirname(pyspark.__file__), "version.py"), "rb") as f:
        return f.read() == zipped


def test_udf_worker_imports_installed_pyspark(spark):
    if not _spark_zip_matches_installed():
        pytest.skip("no $SPARK_HOME pyspark.zip of the installed pyspark's version")

    @F.udf("string")
    def pyspark_file(_):
        import pyspark

        return pyspark.__file__

    where = spark.range(1).select(pyspark_file("id")).first()[0]
    assert ".zip" not in where, where


def _package(root, version: str, zip_name: str | None = None) -> str:
    """A fake pyspark at ``version``: a directory, or a zip if named."""
    files = {
        "pyspark/__init__.py": "",
        "pyspark/version.py": f"__version__: str = '{version}'\n",
    }
    if zip_name is None:
        for name, text in files.items():
            (root / name).parent.mkdir(parents=True, exist_ok=True)
            (root / name).write_text(text)
        return str(root)
    zpath = root / zip_name
    with zipfile.ZipFile(zpath, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(zpath)


@pytest.mark.parametrize(
    "zipped, installed, dropped",
    [("4.1.2", "4.1.2", True), ("4.1.2", "4.0.1", False)],
)
def test_zip_dropped_only_at_the_same_version(tmp_path, zipped, installed, dropped):
    (tmp_path / "site").mkdir()
    zpath = _package(tmp_path, zipped, zip_name="pyspark.zip")
    site = _package(tmp_path / "site", installed)
    other = str(tmp_path / "other.zip")
    path = [zpath, other, site]
    drop_duplicate_pyspark_zip(path)
    assert path == ([other, site] if dropped else [zpath, other, site])


def test_no_zip_or_no_installed_pyspark_changes_nothing(tmp_path):
    site = _package(tmp_path, "4.1.2")
    path = [site, str(tmp_path / "missing")]
    drop_duplicate_pyspark_zip(path)
    assert path == [site, str(tmp_path / "missing")]

    (tmp_path / "z").mkdir()
    zpath = _package(tmp_path / "z", "4.1.2", zip_name="pyspark.zip")
    path = [zpath, str(tmp_path / "z")]
    drop_duplicate_pyspark_zip(path)
    assert path == [zpath, str(tmp_path / "z")]


def _builder_options(monkeypatch, extra_conf):
    """The conf ``get_spark`` hands the builder, without starting Spark."""
    seen = {}

    def get_or_create(builder):
        seen.update(builder._options)
        return types.SimpleNamespace(
            sparkContext=types.SimpleNamespace(setLogLevel=lambda _: None)
        )

    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", get_or_create)
    session.get_spark(master="local[1]", extra_conf=extra_conf)
    return seen


@pytest.mark.parametrize("has_sitecustomize", [False, True])
def test_get_spark_keeps_the_callers_worker_pythonpath(monkeypatch, has_sitecustomize):
    find_spec = importlib.util.find_spec
    monkeypatch.setattr(
        importlib.util,
        "find_spec",
        lambda name, *a: (object() if has_sitecustomize else None)
        if name == "sitecustomize"
        else find_spec(name, *a),
    )
    key = "spark.executorEnv.PYTHONPATH"
    caller = os.pathsep.join(["libs/a", "libs/b"])
    got = _builder_options(monkeypatch, {key: caller})[key].split(os.pathsep)
    if has_sitecustomize:  # the bootstrap would shadow it: left out
        assert got == ["libs/a", "libs/b"]
        assert key not in _builder_options(monkeypatch, None)
    else:
        assert got == ["libs/a", "libs/b", session._PYWORKER_DIR]
        assert _builder_options(monkeypatch, None)[key] == session._PYWORKER_DIR
