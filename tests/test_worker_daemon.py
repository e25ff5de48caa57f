"""The Python worker daemon (``spark_worker_daemon``): its path rule as
pure logic, and what a worker started through ``get_spark`` sees."""

from __future__ import annotations

import importlib.util
import os
import subprocess
import sys
import textwrap
import zipfile

import pytest

from spark_worker_daemon import worker_path

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def make_zip(path, files: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, text in files.items():
            z.writestr(name, text)
    return str(path)


def make_package(root, package: str, version: str) -> str:
    pkg = root / package
    pkg.mkdir(parents=True)
    (pkg / "__init__.py").write_text("")
    (pkg / "version.py").write_text(f'__version__ = "{version}"\n')
    return str(root)


@pytest.fixture
def spark_lib(tmp_path):
    """Spark's archives as the worker's PYTHONPATH lists them."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    jars = tmp_path / "spark" / "jars"
    jars.mkdir()
    return {
        "pyspark": make_zip(
            lib / "pyspark.zip",
            {"pyspark/__init__.py": "", "pyspark/version.py": '__version__ = "4.1.2"\n'},
        ),
        "py4j": make_zip(
            lib / "py4j-0.10.9.9-src.zip",
            {"py4j/__init__.py": "", "py4j/version.py": '__version__ = "0.10.9.9"\n'},
        ),
        "jar": make_zip(jars / "spark-core_2.13-4.1.2.jar", {"org/Main.class": ""}),
    }


def test_jars_are_dropped(spark_lib, tmp_path):
    path = [str(tmp_path), spark_lib["jar"], str(tmp_path / "site")]
    assert worker_path(path) == [str(tmp_path), str(tmp_path / "site")]


def test_spark_zips_dropped_only_for_a_same_version_directory_install(spark_lib, tmp_path):
    site = tmp_path / "site"
    zips = [spark_lib["pyspark"], spark_lib["py4j"]]
    # no directory install: Spark's zips are the only pyspark there is
    assert worker_path(zips + [str(site)]) == zips + [str(site)]
    make_package(site, "pyspark", "4.1.2")
    make_package(site, "py4j", "0.10.9.9")
    assert worker_path(zips + [str(site)]) == [str(site)]


def test_different_version_keeps_the_zip(spark_lib, tmp_path):
    site = make_package(tmp_path / "site", "pyspark", "4.1.2")
    make_package(tmp_path / "site", "py4j", "0.10.9.9")
    # an earlier directory shadows site-packages, so it is the install
    # that would resolve; its version differs
    shadow = make_package(tmp_path / "shadow", "pyspark", "4.0.0")
    path = [spark_lib["pyspark"], spark_lib["py4j"], shadow, site]
    assert worker_path(path) == [spark_lib["pyspark"], shadow, site]


def test_other_zips_kept_in_order(spark_lib, tmp_path):
    site = make_package(tmp_path / "site", "pyspark", "4.1.2")
    make_package(tmp_path / "site", "py4j", "0.10.9.9")
    stdlib_zip = str(tmp_path / "python311.zip")  # absent, as usual
    user_zip = make_zip(tmp_path / "deps.zip", {"deps/__init__.py": ""})
    path = [
        "",
        user_zip,
        spark_lib["pyspark"],
        spark_lib["py4j"],
        spark_lib["jar"],
        str(tmp_path),
        stdlib_zip,
        site,
    ]
    assert worker_path(path) == ["", user_zip, str(tmp_path), stdlib_zip, site]


def _spark_zips_match_installs(python_path: str) -> bool:
    """Whether every Spark archive on a worker's PYTHONPATH has a
    same-version directory install, read from this interpreter's own
    import of the package (driver and workers share it on local masters)."""
    for entry in python_path.split(os.pathsep):
        name = os.path.basename(entry)
        if name == "pyspark.zip":
            package = "pyspark"
        elif name.startswith("py4j-") and name.endswith(".zip"):
            package = "py4j"
        else:
            continue
        spec = importlib.util.find_spec(package)
        if spec is None or spec.origin is None or ".zip" in spec.origin:
            return False
        installed = os.path.join(os.path.dirname(spec.origin), "version.py")
        try:
            with zipfile.ZipFile(entry) as z, open(installed, "rb") as f:
                if z.read(f"{package}/version.py") != f.read():
                    return False
        except (OSError, KeyError):
            return False
    return True


def worker_probe():
    """A mapInPandas function reporting the worker's import state (a
    closure, so cloudpickle ships it by value)."""

    def probe(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame(
            {
                "jars": [sum(p.endswith(".jar") for p in sys.path)],
                "zipimporters": [
                    sum(
                        isinstance(f, zipimport.zipimporter)
                        for f in sys.path_importer_cache.values()
                    )
                ],
                "python_path": [os.environ.get("PYTHONPATH", "")],
            }
        )

    return probe


def test_worker_has_no_jar_and_no_zipimporter(spark):
    rows = (
        spark.range(0, 4, 1, 4)
        .mapInPandas(worker_probe(), "jars long, zipimporters long, python_path string")
        .collect()
    )
    assert len(rows) == 4
    assert all(r["jars"] == 0 for r in rows)
    if not _spark_zips_match_installs(rows[0]["python_path"]):
        pytest.skip("no same-version directory install: Spark's zips stay")
    assert all(r["zipimporters"] == 0 for r in rows)


def test_python_udf_runs_when_started_outside_the_checkout(tmp_path):
    """The workers import the daemon module and the package from the
    checkout even when neither the working directory nor PYTHONPATH
    points at it."""
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {ROOT!r})
        from pyspark.sql import functions as F
        from etl_pipeline_sam_gov_spark.session import get_spark

        spark = get_spark("outside-checkout")
        plus_one = F.udf(lambda x: x + 1, "long")
        print(sorted(r[0] for r in spark.range(3).select(plus_one("id")).collect()))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_DRIVER_MEM="1g")
    done = subprocess.run(
        [sys.executable, "-c", script],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.strip().splitlines()[-1] == "[1, 2, 3]"
