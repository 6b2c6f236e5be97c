"""The engine's Python worker daemon (`codex_africanus_spark.worker_daemon`):
its import-path step, the state a forked worker starts in, and the two
import conditions it relies on."""

import os
import subprocess
import sys
import textwrap
import zipfile

from codex_africanus_spark.worker_daemon import worker_path

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
VERSION_PY = b'__version__: str = "4.1.2"\n'


def _zip(path, files):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with zipfile.ZipFile(path, "w") as z:
        for name, data in files.items():
            z.writestr(name, data)
    return path


def _layout(tmp_path, installed_version=VERSION_PY, py4j=True):
    """A SPARK_HOME, an installed site directory and the worker path Spark
    builds from them, with a user's zip and jars on PYTHONPATH."""
    home = tmp_path / "spark"
    lib, jars = home / "python" / "lib", home / "jars"
    spark_entries = [
        _zip(str(lib / "pyspark.zip"), {"pyspark/__init__.py": "", "pyspark/version.py": VERSION_PY}),
        _zip(str(lib / "py4j-0.10.9.9-src.zip"), {"py4j/__init__.py": ""}),
        _zip(str(jars / "spark-core_2.13-4.1.2.jar"), {"org/apache/spark/SparkContext.class": ""}),
    ]
    site = tmp_path / "site"
    (site / "pyspark").mkdir(parents=True)
    (site / "pyspark" / "__init__.py").write_text("")
    (site / "pyspark" / "version.py").write_bytes(installed_version)
    if py4j:
        (site / "py4j").mkdir()
        (site / "py4j" / "__init__.py").write_text("")
    user = [
        _zip(str(tmp_path / "deps" / "deps.zip"), {"deps/__init__.py": ""}),
        _zip(str(tmp_path / "deps" / "udfs.jar"), {"udfs/__init__.py": ""}),
        # named like Spark's jar, but not in SPARK_HOME/jars
        _zip(str(tmp_path / "deps" / "spark-core_2.13-4.1.2.jar"), {"x/__init__.py": ""}),
    ]
    cwd = str(tmp_path / "cwd")
    os.makedirs(cwd)
    return str(home), [cwd] + spark_entries + user + [str(site)], [cwd] + user + [str(site)]


def test_worker_path_drops_only_sparks_entries(tmp_path):
    home, path, stripped = _layout(tmp_path)
    assert worker_path(path, home) == stripped


def test_worker_path_mismatched_version_keeps_path(tmp_path):
    home, path, _ = _layout(tmp_path, installed_version=b'__version__: str = "4.0.0"\n')
    assert worker_path(path, home) == path


def test_worker_path_without_installed_py4j_keeps_path(tmp_path):
    home, path, _ = _layout(tmp_path, py4j=False)
    assert worker_path(path, home) == path


def test_worker_path_without_spark_home_keeps_path(tmp_path):
    _, path, _ = _layout(tmp_path)
    assert worker_path(path, None) == path


def test_forked_worker_state(spark):
    """Two consecutive tasks on one reused worker: pyspark comes from its
    installed directory, no zip importer is cached, and the preloaded
    modules are there before the task imports anything."""

    def task_state(it):
        import os
        import sys
        import zipimport

        loaded = [m for m in ("pyspark.worker", "pandas", "pyarrow") if m in sys.modules]
        for _ in it:  # drain the input, or the worker is not reused
            pass
        import pyspark

        zips = [k for k, v in sys.path_importer_cache.items() if isinstance(v, zipimport.zipimporter)]
        yield os.getpid(), pyspark.__file__, loaded, zips

    # idle workers are reused in turn: run one-task jobs until a worker
    # takes its second task
    sc = spark.sparkContext
    states = {}
    for _ in range(64):
        state = sc.parallelize([0], 1).mapPartitions(task_state).collect()[0]
        if state[0] in states:
            break
        states[state[0]] = state
    else:
        raise AssertionError("no Python worker was reused")
    for pid, pyspark_file, loaded, zips in (states[state[0]], state):
        assert os.path.isfile(pyspark_file), pyspark_file
        assert zips == []
        assert loaded == ["pyspark.worker", "pandas", "pyarrow"]


def _run(code, cwd, env=None):
    return subprocess.run([sys.executable, "-c", code], cwd=cwd, env=env,
                          capture_output=True, text=True, timeout=300)


def test_package_import_leaves_pyspark_out():
    out = _run(textwrap.dedent("""
        import sys
        import codex_africanus_spark
        assert "pyspark" not in sys.modules, "package import loaded pyspark"
        from codex_africanus_spark import get_spark
        print(get_spark.__module__)
    """), cwd=REPO)
    assert out.returncode == 0, out.stderr
    assert out.stdout.split() == ["codex_africanus_spark.session"]


def test_map_in_pandas_from_any_working_directory(tmp_path):
    """A session built from a directory that does not hold the package, with
    no PYTHONPATH, still starts its Python workers."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_DRIVER_MEMORY="1g", TMPDIR=str(tmp_path))
    out = _run(textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from codex_africanus_spark import get_spark

        def double(batches):
            for pdf in batches:
                yield pdf.assign(id=pdf["id"] * 2)

        spark = get_spark("cwd-check", cpus="1")
        spark.sparkContext.setLogLevel("ERROR")
        rows = spark.range(4).mapInPandas(double, "id long").collect()
        print(sorted(r.id for r in rows))
        spark.stop()
    """), cwd=str(tmp_path), env=env)
    assert out.returncode == 0, out.stderr[-4000:]
    assert out.stdout.splitlines()[-1] == "[0, 2, 4, 6]"
