"""Python worker daemon for the sessions `session.get_spark` builds
(`spark.python.daemon.module`). Spark starts it once per executor and forks
every Python worker from it. Before it hands over to `pyspark.daemon`, it
takes `pyspark.zip`, the py4j zip and the spark-core jar off the import path
when the installed pyspark can stand in for them, and imports the worker's
own modules, so each forked worker starts with them loaded. See the
`session` module docstring for what this saves.

This module must not import pyspark at module level: the path step has to
run before the first pyspark import.
"""

from __future__ import annotations

import fnmatch
import importlib
import os
import sys
import zipfile
from importlib.machinery import PathFinder

# pyarrow starts jemalloc's background thread on import; jemalloc's own
# fork handlers keep forking after it safe
PRELOAD = ("pyspark.worker", "pyspark.sql.pandas.serializers", "numpy", "pandas", "pyarrow")


def _is_spark_entry(entry: str, lib: str, jars: str) -> bool:
    """Whether `entry` is one of the three that Spark's `sparkPythonPath`
    puts first: `lib`/pyspark.zip, `lib`/py4j-*-src.zip, `jars`/spark-core_*.jar."""
    parent, name = os.path.split(os.path.realpath(entry))
    if parent == lib:
        return name == "pyspark.zip" or fnmatch.fnmatch(name, "py4j-*-src.zip")
    return parent == jars and fnmatch.fnmatch(name, "spark-core_*.jar")


def _installed_origin(name: str, path: list[str]) -> str | None:
    spec = PathFinder.find_spec(name, path)
    origin = spec.origin if spec is not None else None
    return origin if origin and os.path.isfile(origin) else None


def worker_path(path: list[str], spark_home: str | None) -> list[str]:
    """`path` without Spark's three archive entries, if pyspark and py4j then
    resolve from a directory and that pyspark's `version.py` is byte-equal to
    the one in `pyspark.zip`; otherwise `path` unchanged."""
    if not spark_home:
        return list(path)
    lib = os.path.realpath(os.path.join(spark_home, "python", "lib"))
    jars = os.path.realpath(os.path.join(spark_home, "jars"))
    zip_path = os.path.join(lib, "pyspark.zip")
    kept = [e for e in path if not _is_spark_entry(e, lib, jars)]
    if all(os.path.realpath(e) != zip_path for e in path):
        return list(path)
    pyspark = _installed_origin("pyspark", kept)
    if pyspark is None or _installed_origin("py4j", kept) is None:
        return list(path)
    try:
        with open(os.path.join(os.path.dirname(pyspark), "version.py"), "rb") as f:
            installed = f.read()
        with zipfile.ZipFile(zip_path) as z:
            zipped = z.read("pyspark/version.py")
    except (OSError, KeyError, zipfile.BadZipFile):
        return list(path)
    return kept if installed == zipped else list(path)


def main() -> None:
    kept = worker_path(sys.path, os.environ.get("SPARK_HOME"))
    dropped = [e for e in sys.path if e not in kept]
    sys.path[:] = kept
    # the archives' subdirectories (e.g. "<jar>/org") have importers too
    for key in list(sys.path_importer_cache):
        if any(key == e or key.startswith(e + os.sep) for e in dropped):
            del sys.path_importer_cache[key]
    for name in PRELOAD:
        try:
            importlib.import_module(name)
        except ImportError:
            pass  # a worker that needs it fails the same way it would have
    from pyspark import daemon

    daemon.manager()


if __name__ == "__main__":
    main()
