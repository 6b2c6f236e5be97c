"""Seeded input generator: the benchmark's synthetic star schema.

Builds the ten tables the program reads (`region nation customer supplier
part orders lineitem events documents embeddings`) with DuckDB, from
nothing but a seed and a row-count spec. Every random draw is
`hash(seed, salt, row)`, so a (spec, seed) pair always yields the same
bytes whatever DuckDB's thread count, and two seeds differ in keys and
values while row counts stay fixed.

The value domains mirror the program's reference tables so every
derivation in `sources/tpch_ms.py` stays valid: `l_linenumber` in 1..7
(chan = linenumber - 1 keys the 7-channel gain table and fixes the
frequency), whole-number quantities, 2-decimal prices, midnight ship
dates, `ts` increasing with `event_id`, unit-norm float32 embeddings
around 10 label centres, and ~5 % near-duplicate documents (an earlier
document's text plus a ` dup` token).

Each table is written as one single-row-group parquet file (pyarrow), the
layout the program's fan-out logic is tuned for. `manifest.json` records
rows and bytes per table.
"""

from __future__ import annotations

import json
import os

import duckdb
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

VOCAB = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
ADJ = ("blue", "hot", "small", "old", "cold", "red", "new", "large")
NOUN = ("bolt", "gear", "anvil", "ring", "widget", "rod", "plate", "gizmo")


def _pick(values, u: str) -> str:
    """SQL picking one of `values` by the uniform draw `u`."""
    lst = ", ".join(f"'{v}'" for v in values)
    return f"([{lst}])[1 + CAST(floor({u} * {len(values)}) AS BIGINT)]"


def _table_sql(seed: int, spec: dict) -> dict[str, str]:
    def u(salt: str, i: str = "i") -> str:
        # uniform [0, 1) from a stable hash of (seed, salt, row)
        return f"(hash({seed}, '{salt}', {i}) % 1000000007) / 1000000007.0"

    def ui(salt: str, n, i: str = "i") -> str:
        return f"CAST(floor({u(salt, i)} * {n}) AS BIGINT)"

    n_cust, n_supp, n_part = spec["customer"], spec["supplier"], spec["part"]
    n_ord, n_li, n_ev = spec["orders"], spec["lineitem"], spec["events"]
    n_doc, n_emb = spec["documents"], spec["embeddings"]
    span_us = int(spec["event_span_hours"] * 3_600_000_000)
    step_us = span_us // n_ev
    users = max(1, n_ev // 66)
    vocab = ", ".join(f"'{w}'" for w in VOCAB)
    t = {}
    t["region"] = """
      SELECT CAST(r AS INTEGER) AS r_regionkey,
             (['AFRICA', 'AMERICA', 'ASIA', 'EUROPE', 'MIDDLE EAST'])[r + 1] AS r_name
      FROM range(5) t(r)"""
    t["nation"] = """
      SELECT CAST(n AS INTEGER) AS n_nationkey, 'NATION_' || n AS n_name,
             CAST(n % 5 AS INTEGER) AS n_regionkey
      FROM range(25) t(n)"""
    t["customer"] = f"""
      SELECT i AS c_custkey, 'Customer#' || lpad(CAST(i AS VARCHAR), 9, '0') AS c_name,
             CAST({ui('c_nat', 25)} AS INTEGER) AS c_nationkey,
             ({ui('c_bal', 1099200)} - 99999) / 100.0 AS c_acctbal,
             {_pick(('AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY'), u('c_seg'))} AS c_mktsegment
      FROM range({n_cust}) t(i)"""
    t["supplier"] = f"""
      SELECT i AS s_suppkey, 'Supplier#' || lpad(CAST(i AS VARCHAR), 9, '0') AS s_name,
             CAST({ui('s_nat', 25)} AS INTEGER) AS s_nationkey,
             ({ui('s_bal', 1099200)} - 99999) / 100.0 AS s_acctbal
      FROM range({n_supp}) t(i)"""
    t["part"] = f"""
      SELECT i AS p_partkey,
             {_pick(ADJ, u('p_adj'))} || ' ' || {_pick(NOUN, u('p_noun'))} AS p_name,
             'Brand#' || (1 + {ui('p_brand', 25)}) AS p_brand,
             {_pick(('ECONOMY', 'STANDARD', 'LARGE', 'SMALL', 'MEDIUM', 'PROMO'), u('p_type'))} AS p_type,
             CAST(1 + {ui('p_size', 50)} AS INTEGER) AS p_size,
             (9000 + i % 1000) / 10.0 AS p_retailprice
      FROM range({n_part}) t(i)"""
    t["orders"] = f"""
      SELECT i AS o_orderkey, {ui('o_cust', n_cust)} AS o_custkey,
             {_pick(('F', 'O', 'P'), u('o_status'))} AS o_orderstatus,
             (101370 + {ui('o_price', 49896490)}) / 100.0 AS o_totalprice,
             CAST(DATE '1995-01-01' + CAST({ui('o_date', 2404)} AS INTEGER) AS TIMESTAMP) AS o_orderdate,
             {_pick(('1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW'), u('o_prio'))} AS o_orderpriority
      FROM range({n_ord}) t(i)"""
    t["lineitem"] = f"""
      SELECT {ui('l_ord', n_ord)} AS l_orderkey, {ui('l_part', n_part)} AS l_partkey,
             {ui('l_supp', n_supp)} AS l_suppkey,
             CAST(1 + {ui('l_line', 7)} AS INTEGER) AS l_linenumber,
             CAST(1 + {ui('l_qty', 50)} AS DOUBLE) AS l_quantity,
             (90000 + {ui('l_price', 10409700)}) / 100.0 AS l_extendedprice,
             {ui('l_disc', 11)} / 100.0 AS l_discount,
             {ui('l_tax', 9)} / 100.0 AS l_tax,
             {_pick(('A', 'N', 'R'), u('l_rf'))} AS l_returnflag,
             {_pick(('F', 'O'), u('l_ls'))} AS l_linestatus,
             CAST(DATE '1995-01-02' + CAST({ui('l_ship', 2498)} AS INTEGER) AS TIMESTAMP) AS l_shipdate
      FROM range({n_li}) t(i)"""
    t["events"] = f"""
      SELECT i AS event_id,
             TIMESTAMP '2024-01-01 00:00:00'
               + to_microseconds(i * {step_us} + {ui('e_jit', step_us)}) AS ts,
             {ui('e_user', users)} AS user_id,
             {_pick(('click', 'signup', 'error', 'view', 'purchase'), u('e_type'))} AS event_type,
             (1 + {ui('e_val', 49002)}) / 100.0 AS value,
             '{{"k": ' || {ui('e_k', 100)} || '}}' AS props
      FROM range({n_ev}) t(i)"""
    # documents: base texts of 10..99 words; ~5 % (never doc 0) replace
    # theirs with an earlier document's base text plus ' dup'
    t["documents"] = f"""
      WITH base AS (
        SELECT i, array_to_string(list_transform(
                 range(10 + {ui('d_len', 90)}),
                 j -> ([{vocab}])[1 + CAST(hash({seed}, 'd_word', i, j) % {len(VOCAB)} AS BIGINT)]),
               ' ') AS text,
               i > 0 AND {u('d_dup')} < 0.05 AS is_dup,
               {ui('d_src', 'i')} AS src_doc
        FROM range({n_doc}) t(i)
      ), docs AS (
        SELECT b.i, CASE WHEN b.is_dup THEN s.text || ' dup' ELSE b.text END AS text
        FROM base b JOIN base s ON s.i = CASE WHEN b.is_dup THEN b.src_doc ELSE b.i END
      )
      SELECT i AS doc_id, text,
             {_pick(('en', 'en', 'zh', 'de', 'fr', 'es'), u('d_lang'))} AS lang,
             'src' || (i % 20) AS source,
             CAST(length(text) AS BIGINT) AS n_chars
      FROM docs ORDER BY i"""
    # embeddings: label centre + noise, normalised in double, stored float32
    t["embeddings"] = f"""
      WITH raw AS (
        SELECT i, d, {ui('v_label', 10)} AS label,
               ((hash({seed}, 'v_centre', {ui('v_label', 10)}, d) % 2000001) / 1000000.0 - 1.0)
               + 0.8 * ((hash({seed}, 'v_noise', i, d) % 2000001) / 1000000.0 - 1.0) AS x
        FROM range({n_emb}) t(i), range(64) s(d)
      ), nrm AS (
        SELECT i, sqrt(sum(x * x)) AS n FROM raw GROUP BY i
      )
      SELECT r.i AS vec_id, list(CAST(r.x / n.n AS FLOAT) ORDER BY r.d) AS embedding,
             CAST(any_value(r.label) AS INTEGER) AS label
      FROM raw r JOIN nrm n USING (i) GROUP BY r.i ORDER BY r.i"""
    return t


def generate(out_dir: str, seed: int, spec: dict) -> dict:
    """Write every table for (spec, seed) under out_dir; returns the
    manifest {table: {"rows": n, "bytes": b}} (also written to
    manifest.json, last, so a present manifest means a complete set)."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    con.execute("SET enable_progress_bar = false")
    try:
        manifest = {}
        for name, sql in _table_sql(seed, spec).items():
            table = con.execute(sql).arrow()
            path = os.path.join(out_dir, f"{name}.parquet")
            pq.write_table(table, path, row_group_size=max(1, table.num_rows))
            manifest[name] = {"rows": table.num_rows, "bytes": os.path.getsize(path)}
    finally:
        con.close()
    with open(os.path.join(out_dir, "manifest.json"), "w") as f:
        json.dump({"seed": seed, "spec": spec, "tables": manifest}, f, indent=1, sort_keys=True)
    return manifest
