"""flatnav_spark.worker_daemon: Python workers import pyspark from the
interpreter's directory install, with no zipimporter left on the path,
only when that install is the zip's version and py4j is there too —
otherwise Spark's path stands. The path decision runs without a JVM on a
fake layout; one Spark test checks what a real task sees."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pytest

from flatnav_spark.worker_daemon import zip_free_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _zip(path, files):
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def _tree(root, files):
    for name, text in files.items():
        (root / name).parent.mkdir(parents=True, exist_ok=True)
        (root / name).write_text(text)
    return str(root)


@pytest.fixture
def layout(tmp_path, monkeypatch):
    """Spark's worker path over a fake install: pyspark.zip 9.9.1, the
    py4j source zip, a spark-core jar and an engine zip ahead of a
    directory holding pyspark 9.9.1 and py4j."""
    # the finders the decision creates stay out of this process's cache
    monkeypatch.setattr(sys, "path_importer_cache", dict(sys.path_importer_cache))
    version = "__version__: str = '9.9.1'\n"
    lib = tmp_path / "lib"
    lib.mkdir()
    spark = [
        _zip(lib / "pyspark.zip", {"pyspark/__init__.py": "", "pyspark/version.py": version}),
        _zip(lib / "py4j-0.10.9.9-src.zip", {"py4j/__init__.py": ""}),
        _zip(lib / "spark-core_2.13-9.9.1.jar", {"org/apache/spark/x.class": ""}),
    ]
    engine = _zip(tmp_path / "engine.zip", {"engine/__init__.py": ""})
    site = tmp_path / "site"
    _tree(site, {"pyspark/__init__.py": "", "pyspark/version.py": version,
                 "py4j/__init__.py": ""})
    cwd = str(tmp_path / "cwd")
    return [cwd, *spark, engine, str(site)], [cwd, engine, str(site)], site


def test_same_version_drops_spark_archives_only(layout):
    path, expected, _ = layout
    assert zip_free_path(path) == (expected, None)


def test_version_mismatch_keeps_path(layout):
    path, _, site = layout
    (site / "pyspark" / "version.py").write_text("__version__: str = '9.9.0'\n")
    new, reason = zip_free_path(path)
    assert new == path and "9.9.0" in reason and "9.9.1" in reason


def test_unreadable_zip_version_keeps_path(layout):
    path, _, _ = layout
    _zip(path[1], {"pyspark/__init__.py": ""})
    new, reason = zip_free_path(path)
    assert new == path and "cannot read" in reason


@pytest.mark.parametrize("package", ["pyspark", "py4j"])
def test_missing_directory_package_keeps_path(layout, package):
    path, _, site = layout
    for f in (site / package).iterdir():
        f.unlink()
    (site / package).rmdir()
    new, reason = zip_free_path(path)
    assert new == path and package in reason


def test_engine_import_loads_no_pyspark():
    """The daemon fixes the path before pyspark loads, which holds only
    while importing the package imports no pyspark."""
    code = ("import sys, flatnav_spark, flatnav_spark.worker_daemon; "
            "print(sorted(m for m in sys.modules if m.split('.')[0] in ('pyspark', 'py4j')))")
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, capture_output=True,
                         text=True, check=True, env={**os.environ, "PYTHONPATH": REPO})
    assert out.stdout.strip() == "[]"


def test_task_imports_directory_pyspark(spark):
    from pyspark.find_spark_home import _find_spark_home

    spark_zip = os.path.join(_find_spark_home(), "python", "lib", "pyspark.zip")
    if not os.path.exists(spark_zip) or zip_free_path([spark_zip, *sys.path])[1]:
        pytest.skip("no directory pyspark of the Spark install's version")

    def probe(_):
        import sys
        import zipimport

        import pyspark

        yield pyspark.__file__, sorted(
            k for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter))

    [(pyspark_file, zip_importers)] = spark.sparkContext.parallelize([0], 1) \
        .mapPartitions(probe).collect()
    assert ".zip" not in pyspark_file and ".jar" not in pyspark_file
    assert zip_importers == []
