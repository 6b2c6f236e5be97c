"""Workload definitions: input sizes and the queries of each pass.

A workload is a closed loop from one driver thread: a cold pass (the
first execution of every query in a fresh process), then warm passes over
the same list until the run's time is spent. Queries run as
`registry()[name].fn(spark, data_dir)` and are collected with `toPandas()`
(the client receives the whole output); each output is checked against
the query's own DuckDB oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

# sf0.01 row counts of the program's reference star schema
SF001 = dict(
    customer=1500, supplier=100, part=2000, orders=15000, lineitem=60000,
    events=10000, documents=500, embeddings=500, event_span_hours=720,
)


@dataclass(frozen=True)
class Workload:
    name: str
    why: str
    spec: dict
    queries: tuple[str, ...]


WORKLOADS = {
    w.name: w
    for w in (
        Workload(
            name="rime_batch",
            why=(
                "Predict fold (Arrow mapInPandas) plus the two broadcast gain joins "
                "on 20k vis rows; no dedup, snapshot or cdc code runs."
            ),
            spec=dict(SF001, lineitem=20000),
            queries=("corrupt_vis_apply_gains",),
        ),
        Workload(
            name="corpus_dedup",
            why=(
                "MinHash-LSH near-duplicate pairs (banded self-join under AQE) on 500 "
                "documents; no radio operator or Python UDF runs."
            ),
            spec=SF001,
            queries=("minhash_lsh_near_dup_pairs",),
        ),
    )
}
