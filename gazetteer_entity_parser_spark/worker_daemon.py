"""Python worker daemon launcher, set as ``spark.python.daemon.module`` by
``build_session``.

Spark puts its own ``pyspark.zip``, ``py4j-*-src.zip`` and ``spark-core``
jar on the workers' ``PYTHONPATH``. The zips hold sources only, so every
daemon start compiles pyspark again, and every task's
``importlib.invalidate_caches()`` re-reads the directory of each zip and jar
on the path. This launcher drops each zip whose package imports without it
with the same ``version.py`` (an installed pyspark) and each jar that holds
no Python, then execs the stock ``python -m pyspark.daemon``: the JVM keeps
the pid it stops and the command line stays Spark's own.
"""

from __future__ import annotations

import os
import sys
import zipfile
from importlib.machinery import PathFinder


def _spark_entry(path: str, spark_home: str | None) -> str | None:
    """``"pyspark"`` or ``"py4j"`` for Spark's zips, ``"jar"`` for a jar of
    Spark's, None for any other path."""
    if not spark_home:
        return None
    parent, name = os.path.realpath(os.path.dirname(path) or "."), os.path.basename(path)
    if parent == os.path.realpath(os.path.join(spark_home, "jars")):
        return "jar" if name.endswith(".jar") else None
    if parent != os.path.realpath(os.path.join(spark_home, "python", "lib")):
        return None
    if name == "pyspark.zip":
        return "pyspark"
    return "py4j" if name.startswith("py4j-") and name.endswith("-src.zip") else None


def _holds_python(jar: str) -> bool:
    try:
        with zipfile.ZipFile(jar) as z:
            return any(n.endswith((".py", ".pyc")) for n in z.namelist())
    except (OSError, zipfile.BadZipFile):
        return True


def _installed_alike(path: str, pkg: str, search: list[str]) -> bool:
    """Whether ``search`` imports ``pkg`` from a directory whose
    ``version.py`` equals the one in the zip at ``path``."""
    spec = PathFinder.find_spec(pkg, search)
    if spec is None or not spec.submodule_search_locations:
        return False
    installed = os.path.join(spec.submodule_search_locations[0], "version.py")
    try:
        with zipfile.ZipFile(path) as z, open(installed, "rb") as f:
            return z.read(f"{pkg}/version.py") == f.read()
    except (OSError, KeyError, zipfile.BadZipFile):
        return False


def kept_paths(pythonpath: list[str], search: list[str], spark_home: str | None) -> list[str]:
    """``pythonpath`` without the Spark jars that hold no Python and without
    each Spark zip whose package ``search``, minus what is dropped, imports
    alike."""
    kind = {p: _spark_entry(p, spark_home) for p in [*pythonpath, *search]}
    dropped = {p for p in kind if kind[p] == "jar" and not _holds_python(p)}
    rest = [p for p in search if p not in dropped and kind[p] not in ("pyspark", "py4j")]
    dropped |= {
        p for p in pythonpath
        if kind[p] in ("pyspark", "py4j") and _installed_alike(p, kind[p], rest)
    }
    return [p for p in pythonpath if p not in dropped]


if __name__ == "__main__":
    paths = os.environ.get("PYTHONPATH", "").split(os.pathsep)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        kept_paths(paths, sys.path, os.environ.get("SPARK_HOME"))
    )
    os.execv(sys.executable, [sys.executable, "-m", "pyspark.daemon", *sys.argv[1:]])
