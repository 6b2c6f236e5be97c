"""codex_africanus_spark — a PySpark-native analytics engine with the query
and data-processing capabilities of ratt-ru/codex-africanus.

Design: every operator of the reference (see SURVEY.md §2) is re-expressed
as declarative DataFrame/Column plans so Catalyst + Tungsten own the
physical strategy (whole-stage codegen replaces numba fusion; partial+final
hash aggregation replaces the reference's hand-built linear/tree
reductions, cf. /root/reference/africanus/rime/dask_predict.py:64-369).
Pandas UDFs (Arrow-batched) are used only where semantics genuinely cannot
be expressed relationally (data-dependent sequential binning, gather-heavy
interpolation, iterative per-group fits).

Importing the package imports no pyspark: the Python worker daemon
(`worker_daemon`) runs inside it and must fix the import path first.
`get_spark` loads on first access.
"""

__version__ = "0.1.0"


def __getattr__(name):
    if name == "get_spark":
        from codex_africanus_spark.session import get_spark

        return get_spark
    raise AttributeError(f"module {__name__!r} has no attribute {name!r}")
