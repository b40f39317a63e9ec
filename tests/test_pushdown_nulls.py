"""Null-heavy chunks through the compound-filter and top-k pushdown paths.

Round-5 regression tests: an ALL-NULL column chunk writes null zmin/zmax
(``jobs/encode.py``), survives the ``zmax.isNull()`` zone prune, and its
``column_filter_gt`` returns an empty position list — the AND intersection
must short-circuit instead of indexing the empty array, and ``topk_table``
must exclude null keys / sort null tiebreaks last (DESC NULLS LAST) exactly
like the SQL it mirrors (reference filter drivers skip null slots the same
way: ``experiments/leco_int_fix_template.cpp:222-249`` runs over decoded
non-null values only)."""

from pyspark.sql import functions as F
from pyspark.sql import types as T

from learn_to_compress_spark.jobs import decode_table, encode_table
from learn_to_compress_spark.operators import filter_gt_and_table, topk_table

_SCHEMA = T.StructType(
    [
        T.StructField("conv_id", T.StringType()),
        T.StructField("turn_idx", T.IntegerType()),
        T.StructField("a", T.LongType()),
        T.StructField("b", T.LongType()),
    ]
)


def _store(spark, tmp_path, name, rows):
    df = spark.createDataFrame(rows, schema=_SCHEMA)
    store = str(tmp_path / name)
    encode_table(df, store, num_parts=2, chunk_rows=64)
    return store


def test_and_filter_all_null_second_column(spark, tmp_path):
    """col `b` is entirely null: `a > 0 AND b > 0` matches nothing, and the
    empty second position list must short-circuit (was IndexError)."""
    rows = [(f"c{i % 4}", i, i + 1, None) for i in range(200)]
    store = _store(spark, tmp_path, "null_and", rows)
    df = filter_gt_and_table(
        spark, store, [("a", 0), ("b", 0)], ["conv_id", "turn_idx", "a", "b"]
    )
    assert df.count() == 0


def test_and_filter_mixed_null_chunks(spark, tmp_path):
    """`b` null on even rows only: the intersection must match the plain
    decoded filter on every surviving chunk."""
    rows = [
        (f"c{i % 4}", i, i + 1, (i * 3) if i % 2 else None) for i in range(200)
    ]
    store = _store(spark, tmp_path, "null_and_mixed", rows)
    df = filter_gt_and_table(
        spark, store, [("a", 100), ("b", 150)], ["conv_id", "turn_idx", "a", "b"]
    )
    exp = (
        decode_table(spark, store)
        .where((F.col("a") > 100) & (F.col("b") > 150))
        .toPandas()
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)
    )
    got = df.toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert got["a"].tolist() == exp["a"].tolist()
    assert got["b"].tolist() == exp["b"].tolist()
    assert len(got) > 0  # the predicate is satisfiable — a vacuous pass hides nothing


def test_topk_nullable_key_and_tiebreak(spark, tmp_path):
    """Null keys must never displace genuine top-k rows (nullable Int64
    decode used to raise; NaT used to sort FIRST under the negated lexsort),
    and the metadata bound must count non-null values only."""
    rows = []
    for i in range(300):
        a = None if i % 3 == 0 else i  # a third of the keys are null
        b = None if i % 7 == 0 else i * 11  # some tiebreaks null too
        rows.append((f"c{i % 4}", i, a, b))
    store = _store(spark, tmp_path, "null_topk", rows)
    df = topk_table(spark, store, "a", 10, ["conv_id", "turn_idx", "a", "b"], "b")
    exp = (
        decode_table(spark, store)
        .orderBy(F.col("a").desc(), F.col("b").desc())
        .limit(10)
        .toPandas()
    )
    got = df.toPandas()
    assert got["a"].tolist() == exp["a"].tolist()
    assert got["turn_idx"].tolist() == exp["turn_idx"].tolist()
    assert got["a"].notna().all()  # nulls sort last; k < non-null count


def test_topk_nullable_timestamp_key(spark, tmp_path):
    """Timestamp keys with NaT slots: NaT is int64 min — the ascending-tail
    lexsort must keep it out of the candidates."""
    import datetime as dt

    schema = T.StructType(
        [
            T.StructField("conv_id", T.StringType()),
            T.StructField("turn_idx", T.IntegerType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )
    base = dt.datetime(2024, 1, 1)
    rows = [
        (
            f"c{i % 4}",
            i,
            None if i % 5 == 0 else base + dt.timedelta(seconds=i),
        )
        for i in range(300)
    ]
    df_in = spark.createDataFrame(rows, schema=schema)
    store = str(tmp_path / "null_topk_ts")
    encode_table(df_in, store, num_parts=2, chunk_rows=64)
    df = topk_table(spark, store, "ts", 7, ["conv_id", "turn_idx", "ts"], "turn_idx")
    exp = (
        decode_table(spark, store)
        .orderBy(F.col("ts").desc(), F.col("turn_idx").desc())
        .limit(7)
        .toPandas()
    )
    got = df.toPandas()
    assert got["turn_idx"].tolist() == exp["turn_idx"].tolist()
    assert got["ts"].notna().all()


def test_topk_pads_with_null_keys_like_sql(spark, tmp_path):
    """k above the non-null key count: ORDER BY a DESC, turn_idx DESC
    LIMIT k puts the non-null keys first, then pads with null-key rows
    (DESC is NULLS LAST) in tiebreak order. Whole chunks are null-keyed."""
    rows = [
        (f"c{i % 4}", i, (i * 7) if i % 50 == 0 else None, i * 11)
        for i in range(300)
    ]
    store = _store(spark, tmp_path, "null_topk_pad", rows)
    raw = spark.createDataFrame(rows, schema=_SCHEMA)
    for k in (6, 20, 400):
        got = topk_table(spark, store, "a", k, ["conv_id", "turn_idx", "a", "b"], "turn_idx")
        exp = raw.orderBy(F.col("a").desc(), F.col("turn_idx").desc()).limit(k)
        cols = ["conv_id", "turn_idx", "a", "b"]
        got_rows = [tuple(r) for r in got.select(*cols).collect()]
        exp_rows = [tuple(r) for r in exp.select(*cols).collect()]
        assert got_rows == exp_rows, k
        assert len(got_rows) == min(k, len(rows))
