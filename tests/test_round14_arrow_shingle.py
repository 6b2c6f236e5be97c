"""Arrow shingler locks: the mapInArrow md5-shingle kernels
(operators/dedup._shingle_frame / minhash_signatures) must stay
bit-identical to the JVM codegen chain at every driver-verified scale —
same UTF-8 bytes into the same md5, same first-15-hex integer, same
% 2^31-1, same exact int64 permutation arithmetic, same >=3-token
row-skipping, and exact doc_id / pass-through values, nulls included."""
import numpy as np
import pytest
from pyspark.sql import functions as F

from codex_africanus_spark.operators import dedup as dedup_op
from codex_africanus_spark.sources.tables import load


def _docs(spark, sf):
    return load(spark, "documents", sf)


def _both(monkeypatch, build):
    # the Arrow tier is the default; "0" is the JVM kill-switch
    monkeypatch.delenv("SPARK_GRAFT_ARROW_SHINGLE", raising=False)
    arrow = build()
    monkeypatch.setenv("SPARK_GRAFT_ARROW_SHINGLE", "0")
    jvm = build()
    monkeypatch.delenv("SPARK_GRAFT_ARROW_SHINGLE", raising=False)
    return arrow, jvm


def _plan(df):
    return df._jdf.queryExecution().toString()


def _bitcompare(a_df, b_df, key):
    assert [f.dataType for f in a_df.schema] == [f.dataType for f in b_df.schema]
    a = a_df.toPandas().sort_values(key).reset_index(drop=True)
    b = b_df.toPandas().sort_values(key).reset_index(drop=True)
    assert len(a) == len(b), (len(a), len(b))
    assert list(a.columns) == list(b.columns)
    for c in a.columns:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            assert (av.view(np.int64) == bv.view(np.int64)).all(), c
        else:
            assert (av == bv).all(), c


def _exact_rows(df):
    # row tuples straight from Spark: no pandas float64 round trip, so
    # an int64 off by one or a null turned NaN shows
    return sorted(df.collect(), key=lambda r: tuple((v is None, v) for v in r))


def test_shingle_frame_matches_jvm(spark, sf_dir, monkeypatch):
    arrow, jvm = _both(
        monkeypatch, lambda: dedup_op._shingle_frame(_docs(spark, sf_dir))
    )
    assert "MapInArrow" in _plan(arrow)
    _bitcompare(arrow, jvm, ["doc_id", "h"])


def test_minhash_signatures_match_jvm(spark, sf_dir, monkeypatch):
    arrow, jvm = _both(
        monkeypatch,
        lambda: dedup_op.minhash_signatures(_docs(spark, sf_dir), keep=("lang",)),
    )
    assert "MapInArrow" in _plan(arrow)
    _bitcompare(arrow, jvm, ["doc_id"])


def test_lsh_pairs_end_to_end_match(spark, sf_dir, monkeypatch):
    from codex_africanus_spark.queries import registry

    reg = registry()
    arrow, jvm = _both(
        monkeypatch, lambda: reg["minhash_lsh_near_dup_pairs"].fn(spark, sf_dir)
    )
    _bitcompare(arrow, jvm, ["doc_a", "doc_b"])


def test_shingle_gates(spark, sf_dir, monkeypatch, tmp_path):
    """One dispatch point: the Arrow tier by default at any corpus size,
    the JVM tier for the kill-switch, non-contract dtypes and streaming
    frames."""
    docs = _docs(spark, sf_dir)
    monkeypatch.delenv("SPARK_GRAFT_ARROW_SHINGLE", raising=False)
    assert dedup_op._shingle_tier(docs)[0] == "arrow"
    assert "MapInArrow" in _plan(dedup_op._shingle_frame(docs))
    assert "MapInArrow" in _plan(dedup_op.minhash_signatures(docs))
    # non-contract frame (doc_id not bigint)
    other = docs.withColumn("doc_id", F.col("doc_id").cast("int"))
    assert dedup_op._shingle_tier(other) == ("jvm", "doc_id int, text string")
    assert "MapInArrow" not in _plan(dedup_op._shingle_frame(other))
    # streaming frame, checked explicitly (not by its missing input files)
    stream = spark.readStream.schema(docs.schema).parquet(str(tmp_path))
    assert dedup_op._shingle_tier(stream) == ("jvm", "streaming frame")
    assert "MapInArrow" not in _plan(dedup_op.minhash_signatures(stream))
    # kill-switch restores the pure-JVM plan
    monkeypatch.setenv("SPARK_GRAFT_ARROW_SHINGLE", "0")
    assert dedup_op._shingle_tier(docs)[0] == "jvm"
    assert "MapInArrow" not in _plan(dedup_op._shingle_frame(docs))
    assert "MapInArrow" not in _plan(dedup_op.minhash_signatures(docs))


def test_exact_doc_id_and_keep_through_kernels(spark, monkeypatch):
    """A null doc_id and one above 2^53 in the same batch: both kernels
    return the JVM tier's exact ids and keep the null row (a pandas
    batch casts the null to NaN and rounds 2^60+1 through float64)."""
    docs = spark.createDataFrame(
        [(None, "a b c d", "en"), (2**60 + 1, "x y z w", None), (3, "p q r", "de")],
        "doc_id long, text string, lang string",
    ).coalesce(1)
    arrow, jvm = _both(monkeypatch, lambda: dedup_op._shingle_frame(docs))
    assert "MapInArrow" in _plan(arrow)
    assert _exact_rows(arrow) == _exact_rows(jvm)
    arrow, jvm = _both(
        monkeypatch, lambda: dedup_op.minhash_signatures(docs, keep=("lang",))
    )
    assert "MapInArrow" in _plan(arrow)
    assert arrow.schema == jvm.schema
    got = _exact_rows(arrow)
    assert got == _exact_rows(jvm)
    assert [(r.doc_id, r.lang) for r in got] == [(3, "de"), (2**60 + 1, None), (None, "en")]


def test_short_and_null_docs_skip_like_jvm(spark, monkeypatch):
    pdf_rows = [
        (1, "only two"),
        (2, "a b c d"),
        (3, None),
        (4, ""),
        (5, "x y z"),
    ]
    docs = spark.createDataFrame(pdf_rows, "doc_id long, text string")
    arrow, jvm = _both(monkeypatch, lambda: dedup_op._shingle_frame(docs))
    _bitcompare(arrow, jvm, ["doc_id", "h"])
    assert sorted(
        arrow.select("doc_id").distinct().toPandas()["doc_id"].tolist()
    ) == [2, 5]


@pytest.mark.parametrize(
    "sf",
    [
        # the default tier at a driver scale: in the default selection
        "/root/testdata/sf0.01",
        pytest.param("/root/testdata/sf0.1", marks=pytest.mark.slow),
    ],
)
def test_shingle_matches_jvm_driver_scales(spark, monkeypatch, sf):
    arrow, jvm = _both(
        monkeypatch, lambda: dedup_op._shingle_frame(_docs(spark, sf))
    )
    _bitcompare(arrow, jvm, ["doc_id", "h"])
    arrow, jvm = _both(
        monkeypatch, lambda: dedup_op.minhash_signatures(_docs(spark, sf))
    )
    _bitcompare(arrow, jvm, ["doc_id"])
