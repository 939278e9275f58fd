"""Python workers of ``get_spark`` sessions import the installed pyspark
package, not Spark's bundled archives (``worker_daemon``)."""

from __future__ import annotations

import os
import subprocess
import sys
import zipfile

import pyspark

from zonal_datacube_spark.worker_daemon import worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_workers_import_installed_pyspark(spark):
    def report(_):
        import sys
        import zipimport

        import pyspark

        archived = [
            k
            for k, v in sys.path_importer_cache.items()
            if isinstance(v, zipimport.zipimporter) and ("pyspark" in k or "py4j" in k)
        ]
        yield pyspark.__file__, pyspark.__version__, archived

    reports = spark.sparkContext.parallelize(range(4), 4).mapPartitions(report).collect()
    assert len(reports) == 4
    for file, version, archived in reports:
        assert ".zip" not in file and ".jar" not in file, file
        assert version == pyspark.__version__
        assert archived == []


def _package(root, name: str, version: str | None = None) -> None:
    os.makedirs(os.path.join(root, name))
    with open(os.path.join(root, name, "__init__.py"), "w") as f:
        f.write("")
    if version is not None:
        with open(os.path.join(root, name, "version.py"), "w") as f:
            f.write(f'__version__: str = "{version}"\n')


def _archive(tmp_path, version: str) -> list[str]:
    """pyspark.zip, a py4j source zip and a spark-core jar, as Spark puts
    them on a worker's path."""
    lib = tmp_path / "lib"
    lib.mkdir()
    pyspark_zip = str(lib / "pyspark.zip")
    with zipfile.ZipFile(pyspark_zip, "w") as z:
        z.writestr("pyspark/__init__.py", "")
        z.writestr("pyspark/version.py", f'__version__: str = "{version}"\n')
    py4j_zip = str(lib / "py4j-0.10.9.9-src.zip")
    with zipfile.ZipFile(py4j_zip, "w") as z:
        z.writestr("py4j/__init__.py", "")
    jar = str(lib / "spark-core_2.13-9.9.9.jar")
    with zipfile.ZipFile(jar, "w") as z:
        z.writestr("META-INF/MANIFEST.MF", "")
    return [pyspark_zip, py4j_zip, jar]


def test_path_filter_drops_archives_for_same_version_directory(tmp_path):
    archives = _archive(tmp_path, "9.9.9")
    site = str(tmp_path / "site")
    _package(site, "pyspark", "9.9.9")
    _package(site, "py4j")
    user_zip = str(tmp_path / "deps.zip")
    path = [str(tmp_path), *archives, user_zip, site]
    assert worker_path(path) == [str(tmp_path), user_zip, site]


def test_path_filter_keeps_path_without_same_version_directory(tmp_path):
    archives = _archive(tmp_path, "9.9.9")
    no_copy = [str(tmp_path), *archives]
    assert worker_path(no_copy) is no_copy

    other = str(tmp_path / "other")
    _package(other, "pyspark", "1.0.0")
    _package(other, "py4j")
    other_version = [*archives, other]
    assert worker_path(other_version) is other_version

    no_py4j = str(tmp_path / "no_py4j")
    _package(no_py4j, "pyspark", "9.9.9")
    without_py4j = [*archives, no_py4j]
    assert worker_path(without_py4j) is without_py4j


def test_package_import_does_not_import_pyspark():
    code = (
        "import sys, zonal_datacube_spark.worker_daemon; "
        "assert 'pyspark' not in sys.modules, sorted(sys.modules)"
    )
    subprocess.run([sys.executable, "-c", code], cwd=REPO, check=True)


def test_task_from_session_started_elsewhere(tmp_path):
    # the worker daemon is found through the session's PYTHONPATH, not the
    # driver's working directory
    code = (
        f"import sys; sys.path.insert(0, {REPO!r}); "
        "from zonal_datacube_spark.session import get_spark; "
        "spark = get_spark('zds-elsewhere', '1'); "
        "print(spark.sparkContext.parallelize([0], 1)"
        ".map(lambda _: __import__('pyspark').__file__).collect()[0]); "
        "spark.stop()"
    )
    env = dict(os.environ, SPARK_DRIVER_MEMORY="512m")
    env.pop("PYTHONPATH", None)
    out = subprocess.run(
        [sys.executable, "-c", code], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-4000:]
    file = out.stdout.strip().splitlines()[-1]
    assert file.endswith("__init__.py") and ".zip" not in file, out.stdout
