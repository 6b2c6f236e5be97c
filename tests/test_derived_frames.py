"""Spark derived MS-shaped frames must match their DuckDB SQL mirrors
bit-for-bit — this is the foundation of every oracle in __spark_entry__.py."""

import duckdb
import pandas as pd
import pytest
from pyspark.sql.types import DoubleType, IntegerType, StructField, StructType

from codex_africanus_spark.sources import tpch_ms


def duck(sf_dir: str):
    con = duckdb.connect()
    for t in ("lineitem", "nation", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def compare(spark_df, con, sql, key):
    # sort on ALL columns: derived keys (row_id) are not unique, so a
    # single-key sort leaves duplicate-key row order engine-dependent
    left = spark_df.toPandas()
    right = con.execute(sql).df()
    cols = list(left.columns)
    left = left.sort_values(cols).reset_index(drop=True)
    right = right[cols].sort_values(cols).reset_index(drop=True)
    pd.testing.assert_frame_equal(left, right, check_dtype=False, rtol=0, atol=0)


@pytest.mark.parametrize(
    "builder,sql,key",
    [
        (tpch_ms.vis_table, tpch_ms.VIS_SQL, "row_id"),
        (tpch_ms.source_table, tpch_ms.SOURCE_SQL, "source_id"),
        (tpch_ms.events_table, tpch_ms.EVENTS_SQL, "event_id"),
    ],
)
def test_frame_parity(spark, sf_dir, builder, sql, key):
    compare(builder(spark, sf_dir), duck(sf_dir), sql, key)


def test_gains_parity(spark, sf_dir):
    gains = tpch_ms.gains_table(spark)
    compare(gains, duck(sf_dir), tpch_ms.GAINS_SQL, ["antenna", "chan"])
    # the keys are non-null: consumers' join and filter plans depend on it
    key = [StructField(c, IntegerType(), False) for c in ("antenna", "chan")]
    values = [StructField(c, DoubleType(), True)
              for c in ("gain_re", "gain_im", "gain_y_re", "gain_y_im")]
    assert gains.schema == StructType(key + values)


def test_antenna_parity(spark, sf_dir):
    compare(tpch_ms.antenna_table(spark), duck(sf_dir), tpch_ms.ANTENNA_SQL, "antenna")
