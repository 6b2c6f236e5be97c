"""DuckDB oracles for the generated inputs, and the output comparison.

Oracle SQL comes from the program's own registry (`QueryDef.oracle`), run
over views of the generated parquet, exactly as the program's rehearsal
(`tools/rehearse.py`) runs it. Results are cached per (workload, seed) as
pickles this module wrote itself: the BDA oracle is a recursive CTE and
is by far the slowest part of a cold cache.

`compare` applies the rehearsal's rules: same row count and column set,
order-insensitive, same dtype class per column, exact values, and
bit-identical floats.
"""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd

from gen import TABLES


def compute(data_dir: str, out_dir: str, names: list[str]) -> None:
    """Write <out_dir>/<name>.pkl for every registry name in `names`
    that has no cached result yet."""
    todo = [n for n in names if not os.path.exists(os.path.join(out_dir, f"{n}.pkl"))]
    if not todo:
        return
    from codex_africanus_spark.queries import registry

    reg = registry()
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
        for name in todo:
            sql = reg[name].oracle
            if sql is None:
                raise ValueError(f"{name} has no oracle SQL")
            df = con.execute(sql).df()
            tmp = os.path.join(out_dir, f".{name}.pkl.tmp")
            df.to_pickle(tmp)
            os.replace(tmp, os.path.join(out_dir, f"{name}.pkl"))
    finally:
        con.close()


def load(out_dir: str, name: str) -> pd.DataFrame:
    return pd.read_pickle(os.path.join(out_dir, f"{name}.pkl"))


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if df[c].dtype == bool:
            df[c] = df[c].astype("int64")
    return df.sort_values(list(df.columns)).reset_index(drop=True)


def _dtype_class(dt) -> str:
    kind = getattr(dt, "kind", "O")
    return {"i": "int", "u": "int", "f": "float", "M": "datetime"}.get(kind, "object")


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when `got` equals `want` under the rehearsal rules, else a
    one-line reason."""
    if len(got) != len(want):
        return f"rows {len(got)} vs {len(want)}"
    if sorted(got.columns) != sorted(want.columns):
        return f"schema {sorted(got.columns)} vs {sorted(want.columns)}"
    left, right = _normalize(got), _normalize(want)
    kl = {c: _dtype_class(left[c].dtype) for c in left.columns}
    kr = {c: _dtype_class(right[c].dtype) for c in right.columns}
    if kl != kr:
        return f"dtype class {[(c, kl[c], kr[c]) for c in kl if kl[c] != kr[c]]}"
    try:
        pd.testing.assert_frame_equal(left, right, check_dtype=False, rtol=0, atol=0)
    except AssertionError as e:
        return " ".join(str(e).split())[:300]
    for c in left.columns:
        if left[c].dtype.kind == "f" and right[c].dtype.kind == "f":
            bad = int((left[c].to_numpy().view(np.int64) != right[c].to_numpy().view(np.int64)).sum())
            if bad:
                return f"{c}: {bad} bit-level float mismatches"
    return None
