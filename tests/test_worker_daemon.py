"""The Python worker daemon launcher (``worker_daemon``): on a session from
``build_session`` the workers import pyspark from its installed directory,
hold no zip importer for Spark's zips or jar and still run under the stock
``-m pyspark.daemon`` command line; the launcher keeps Spark's zips
whenever the installed package is missing or of another version, keeps a
Spark jar that holds Python, and never touches a zip that is not Spark's
own."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

import pytest

from gazetteer_entity_parser_spark.worker_daemon import kept_paths

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def worker(spark):
    def facts(batches):  # nested, so it is pickled by value
        import pandas as pd
        import pyspark

        zips = [
            k for k, v in sys.path_importer_cache.items()
            if type(v).__name__ == "zipimporter"
        ]
        for _ in batches:
            yield pd.DataFrame(
                {"pyspark_file": [pyspark.__file__], "zip_importers": [json.dumps(zips)],
                 "daemon_pid": [os.getppid()]}
            )

    return spark.range(1).mapInPandas(
        facts, "pyspark_file string, zip_importers string, daemon_pid long"
    ).collect()[0]


def test_worker_imports_pyspark_from_a_directory(worker):
    assert ".zip" not in worker.pyspark_file, worker.pyspark_file


def test_worker_holds_no_spark_zip_importer(worker):
    zips = json.loads(worker.zip_importers)
    assert not [z for z in zips if "pyspark.zip" in z or ".jar" in z], zips


def test_daemon_keeps_the_stock_command_line(worker):
    with open(f"/proc/{worker.daemon_pid}/cmdline", "rb") as f:
        argv = f.read().split(b"\0")
    assert b"pyspark.daemon" in argv and b"-m" in argv, argv


def _version_py(version):
    return f"__version__: str = '{version}'\n"


def _spark_home(tmp_path, version="4.1.2"):
    """A fake Spark home whose ``python/lib`` holds ``pyspark.zip`` and a py4j
    source zip, each with a ``version.py``."""
    lib = tmp_path / "spark" / "python" / "lib"
    lib.mkdir(parents=True)
    (tmp_path / "spark" / "jars").mkdir()
    for name, pkg, ver in (("pyspark.zip", "pyspark", version),
                           ("py4j-0.10.9.9-src.zip", "py4j", "0.10.9.9")):
        with zipfile.ZipFile(lib / name, "w") as z:
            z.writestr(f"{pkg}/__init__.py", "")
            z.writestr(f"{pkg}/version.py", _version_py(ver))
    return str(tmp_path / "spark"), str(lib / "pyspark.zip"), str(lib / "py4j-0.10.9.9-src.zip")


def _installed(tmp_path, pkg, version):
    site = tmp_path / "site"
    (site / pkg).mkdir(parents=True)
    (site / pkg / "__init__.py").write_text("")
    (site / pkg / "version.py").write_text(_version_py(version))
    return str(site)


def test_launcher_drops_spark_zips_with_a_same_version_install(tmp_path):
    home, pyspark_zip, py4j_zip = _spark_home(tmp_path)
    site = _installed(tmp_path, "pyspark", "4.1.2")
    _installed(tmp_path, "py4j", "0.10.9.9")
    pythonpath = [pyspark_zip, py4j_zip, "/elsewhere"]
    assert kept_paths(pythonpath, pythonpath + [site], home) == ["/elsewhere"]


def _jar(path, names):
    with zipfile.ZipFile(path, "w") as z:
        for n in names:
            z.writestr(n, "")
    return str(path)


def test_launcher_drops_only_spark_jars_without_python(tmp_path):
    home, _, _ = _spark_home(tmp_path)
    core = _jar(tmp_path / "spark" / "jars" / "spark-core.jar", ["org/A.class"])
    assembly = _jar(tmp_path / "spark" / "jars" / "assembly.jar", ["pyspark/__init__.py"])
    user = _jar(tmp_path / "user.jar", ["org/B.class"])
    pythonpath = [core, assembly, user]
    assert kept_paths(pythonpath, pythonpath, home) == [assembly, user]


def test_launcher_keeps_spark_zips_without_an_install(tmp_path):
    home, pyspark_zip, py4j_zip = _spark_home(tmp_path)
    pythonpath = [pyspark_zip, py4j_zip]
    empty = tmp_path / "empty"
    empty.mkdir()
    assert kept_paths(pythonpath, pythonpath + [str(empty)], home) == pythonpath


def test_launcher_keeps_pyspark_zip_on_a_version_mismatch(tmp_path):
    home, pyspark_zip, py4j_zip = _spark_home(tmp_path)
    site = _installed(tmp_path, "pyspark", "4.0.0")
    _installed(tmp_path, "py4j", "0.10.9.9")
    pythonpath = [pyspark_zip, py4j_zip]
    assert kept_paths(pythonpath, pythonpath + [site], home) == [pyspark_zip]


def test_launcher_never_drops_a_zip_that_is_not_sparks(tmp_path):
    """A ``--py-files`` zip stays, even one named ``pyspark.zip`` and shadowed
    by a same-version install; so do Spark's zips without a Spark home."""
    home, pyspark_zip, _ = _spark_home(tmp_path)
    site = _installed(tmp_path, "pyspark", "4.1.2")
    user = tmp_path / "user"
    user.mkdir()
    user_zip = str(user / "pyspark.zip")
    with zipfile.ZipFile(user_zip, "w") as z:
        z.writestr("pyspark/version.py", _version_py("4.1.2"))
    deps = str(user / "deps.zip")
    with zipfile.ZipFile(deps, "w") as z:
        z.writestr("mylib/__init__.py", "")
    pythonpath = [user_zip, deps]
    assert kept_paths(pythonpath, pythonpath + [site], home) == pythonpath
    assert kept_paths([pyspark_zip], [pyspark_zip, site], None) == [pyspark_zip]


def test_session_keeps_the_stock_daemon_where_workers_cannot_import_it(
    tmp_path, monkeypatch
):
    """Workers start in the driver's working directory with its
    ``PYTHONPATH``; where neither holds the package, the launcher would not
    import, so ``build_session`` names Spark's own daemon."""
    from gazetteer_entity_parser_spark.session import _daemon_module

    monkeypatch.chdir(ROOT)
    monkeypatch.delenv("PYTHONPATH", raising=False)
    assert _daemon_module() == "gazetteer_entity_parser_spark.worker_daemon"
    monkeypatch.chdir(tmp_path)
    assert _daemon_module() == "pyspark.daemon"
    monkeypatch.setenv("PYTHONPATH", str(tmp_path))
    assert _daemon_module() == "pyspark.daemon"
    monkeypatch.setenv("PYTHONPATH", ROOT)
    assert _daemon_module() == "gazetteer_entity_parser_spark.worker_daemon"


_STOP_SCRIPT = """
import json, os, sys, time
sys.path.insert(0, {root!r})
from pyspark import SparkContext
from gazetteer_entity_parser_spark.session import build_session

def daemons(pid):
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for t in os.listdir(f"/proc/{{p}}/task"):
            try:
                with open(f"/proc/{{p}}/task/{{t}}/children") as f:
                    kids = [int(c) for c in f.read().split()]
            except OSError:
                kids = []
            todo.extend(kids)
            for k in kids:
                try:
                    with open(f"/proc/{{k}}/cmdline", "rb") as f:
                        if b"pyspark.daemon" in f.read():
                            out.append(k)
                except OSError:
                    pass
    return out

spark = build_session("stop-check", parallelism=2, extra_conf={{"spark.driver.memory": "1g"}})
spark.range(4, numPartitions=2).mapInPandas(lambda it: it, "id long").collect()
jvm = SparkContext._gateway.proc.pid
before = daemons(jvm)
spark.stop()
deadline = time.time() + 20
after = daemons(jvm)
while after and time.time() < deadline:
    time.sleep(0.2)
    after = daemons(jvm)
print(json.dumps({{"before": before, "after": after}}))
"""


def test_stopped_session_leaves_no_worker_daemon():
    proc = subprocess.run(
        [sys.executable, "-c", _STOP_SCRIPT.format(root=ROOT)],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    seen = json.loads(proc.stdout.strip().splitlines()[-1])
    assert seen["before"], "the session started no pyspark.daemon"
    assert seen["after"] == []
    for pid in seen["before"]:
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as f:
                assert b"pyspark.daemon" not in f.read()
        except OSError:
            pass  # gone
