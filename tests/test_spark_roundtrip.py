"""End-to-end Spark tests: encode → chunk store → decode with the
per-turn invariant (bit-identical columns under stable (conv_id, turn_idx)
ordering), resume semantics, and pushdown operators (SURVEY.md §5)."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from learn_to_compress_spark.jobs import decode_table, encode_table
from learn_to_compress_spark.operators import count_rows, filter_gt_table, sum_column
from learn_to_compress_spark.sources.transcripts import transcripts_df

CHUNK_ROWS = 512  # small so multi-chunk paths are exercised


@pytest.fixture(scope="module")
def store(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("store") / "transcripts")
    df = transcripts_df(spark, 300, parallelism=4)
    metrics = encode_table(
        df, path, chunk_rows=CHUNK_ROWS, num_parts=8, salt_block=64
    )
    assert metrics["rows"] > 300
    assert metrics["ratio"] < 1.0
    return path


def _collect_sorted(df):
    return (
        df.orderBy("conv_id", "turn_idx")
        .toPandas()
        .reset_index(drop=True)
    )


def test_roundtrip_bit_identical(spark, store):
    raw = _collect_sorted(transcripts_df(spark, 300, parallelism=4))
    dec = _collect_sorted(decode_table(spark, store))
    assert list(dec.columns) == list(raw.columns)
    assert len(dec) == len(raw)
    for col in raw.columns:
        a, b = raw[col], dec[col]
        if col == "ts":
            assert (a.to_numpy() == b.to_numpy()).all(), col
        else:
            assert a.fillna("\0").eq(b.fillna("\0")).all() if a.dtype == object else (
                a.to_numpy() == b.to_numpy()
            ).all(), col
    # the per-row invariant: per-turn text equality under stable ordering
    assert raw["text"].equals(dec["text"])


def _sawtooth_turns(n: int = 16384) -> np.ndarray:
    """Turn numbers of back-to-back conversations of 5–199 turns: where the
    var leg (leco_var) beats for by ~4x at chunks of 8192 values."""
    rng = np.random.default_rng(0)
    return np.concatenate([np.arange(k) for k in rng.integers(5, 200, 400)])[:n]


def test_tuner_prices_with_the_executors_pruning(spark, monkeypatch):
    """chunk_rows="auto" prices every candidate the way one encode task
    races it: one race memo per column, carried across the candidate's
    chunks in order."""
    import pyarrow as pa

    from learn_to_compress_spark.jobs import encode as E

    turn = _sawtooth_turns()
    tbl = pa.table({"seq": np.arange(turn.size), "turn_idx": turn})
    df = spark.createDataFrame(tbl.to_pandas())
    want = {}
    for cand in (2048, 8192):
        memos = {c: {} for c in tbl.column_names}
        want[cand] = sum(
            len(E._encode_one_arrow(tbl.column(c).slice(s, cand), "int64", memo=memos[c])[1])
            + E._CHUNK_META_OVERHEAD
            for s in range(0, turn.size, cand) for c in tbl.column_names
        )
    memo_ids: list[int] = []
    orig = E._encode_one_arrow
    monkeypatch.setattr(
        E, "_encode_one_arrow",
        lambda col, logical, memo=None: memo_ids.append(id(memo)) or orig(col, logical, memo=memo),
    )
    _, sizes = E.tune_chunk_rows(df, ("seq",), candidates=(2048, 8192))
    assert sizes == want
    # 8 chunks × 2 columns at 2048, then 2 × 2 at 8192: one memo per
    # column per candidate
    calls = [memo_ids[:16:2], memo_ids[1:16:2], memo_ids[16::2], memo_ids[17::2]]
    assert [len(set(c)) for c in calls] == [1, 1, 1, 1]
    assert calls[0][0] != calls[1][0] and calls[2][0] != calls[3][0]


def test_job_stores_what_the_exact_race_gives(spark, tmp_path):
    """A Spark encode at 8192-row chunks stores, chunk for chunk, the codecs
    and payloads the library's exact race gives on the same slices: the job
    races every leg the library does (here leco_var wins each chunk, where
    a skip gate on the var leg stored for at ~4x the bytes)."""
    from learn_to_compress_spark.chunkstore import read_chunks
    from learn_to_compress_spark.select import encode_int_values

    turn = _sawtooth_turns()
    pdf = pd.DataFrame({"seq": np.arange(turn.size), "turn_idx": turn})
    store = str(tmp_path / "saw")
    encode_table(spark.createDataFrame(pdf), store, key_cols=("seq",),
                 chunk_rows=8192, num_parts=1)
    rows = read_chunks(spark, store).orderBy("chunk_id").collect()
    assert len(rows) == 2
    for i, r in enumerate(rows):
        for col in ("seq", "turn_idx"):
            vals = pdf[col].to_numpy()[i * 8192:(i + 1) * 8192]
            name, payload = encode_int_values(vals, None, "int64")
            got = r[f"c_{col}"]
            assert (got.codec, bytes(got.payload)) == (name, payload), (i, col)
        assert r.c_turn_idx.codec == "leco_var"


def test_column_pruned_decode(spark, store):
    dec = decode_table(spark, store, columns=["conv_id", "turn_idx"])
    assert dec.columns == ["conv_id", "turn_idx"]
    assert dec.count() == count_rows(spark, store)


def test_count_from_lineage(spark, store):
    raw_count = transcripts_df(spark, 300, parallelism=4).count()
    assert count_rows(spark, store) == raw_count


def test_sum_pushdown(spark, store):
    raw = transcripts_df(spark, 300, parallelism=4)
    expect = raw.agg(F.sum("turn_idx")).collect()[0][0]
    got = sum_column(spark, store, "turn_idx").collect()[0][0]
    assert int(got) == expect
    # timestamp sum in µs (decimal: int64 overflows at a few thousand rows)
    expect_ts = raw.select(
        F.sum(F.unix_micros("ts").cast("decimal(38,0)")).alias("s")
    ).collect()[0][0]
    got_ts = sum_column(spark, store, "ts").collect()[0][0]
    assert int(got_ts) == int(expect_ts)


def test_filter_pushdown(spark, store):
    raw = transcripts_df(spark, 300, parallelism=4)
    v = 50
    expect = _collect_sorted(
        raw.filter(F.col("turn_idx") > v).select("conv_id", "turn_idx")
    )
    got = _collect_sorted(
        filter_gt_table(spark, store, "turn_idx", v, ["conv_id", "turn_idx"])
    )
    pd.testing.assert_frame_equal(expect, got)


def test_filter_pushdown_timestamp(spark, store):
    raw = transcripts_df(spark, 300, parallelism=4)
    cutoff = raw.select(F.expr("percentile(unix_micros(ts), 0.9)")).collect()[0][0]
    v = int(cutoff)
    expect = _collect_sorted(
        raw.filter(F.unix_micros("ts") > v).select("conv_id", "turn_idx", "ts")
    )
    got = _collect_sorted(
        filter_gt_table(spark, store, "ts", v, ["conv_id", "turn_idx", "ts"])
    )
    pd.testing.assert_frame_equal(expect, got)


def test_resume_skips_committed_parts(spark, tmp_path):
    """Kill-and-resume: encode a subset of partitions, then resume with the
    full input — committed parts must not re-encode and the final decoded
    table must be complete and identical."""
    path = str(tmp_path / "resume_store")
    df = transcripts_df(spark, 120, parallelism=4)

    # simulate a killed first run: only parts 0-3 get through
    from pyspark.sql import functions as F2

    part_col = F2.pmod(
        F2.xxhash64(F2.col("conv_id"), (F2.col("turn_idx") / F2.lit(64)).cast("long")),
        F2.lit(8),
    ).cast("int")
    partial = df.filter(part_col < 4)
    m1 = encode_table(partial, path, chunk_rows=CHUNK_ROWS, num_parts=8, salt_block=64, run_id="run1")
    assert m1["rows"] > 0

    # resume with full input
    m2 = encode_table(df, path, chunk_rows=CHUNK_ROWS, num_parts=8, salt_block=64, run_id="run2")

    from learn_to_compress_spark.chunkstore import read_lineage

    lin = read_lineage(spark, path).toPandas()
    # no part encoded twice
    assert lin.part_id.is_unique
    assert set(lin[lin.run_id == "run1"].part_id) <= set(range(8))
    assert (lin.run_id == "run2").sum() > 0

    raw = _collect_sorted(df)
    dec = _collect_sorted(decode_table(spark, path))
    assert len(raw) == len(dec)
    assert raw["text"].equals(dec["text"])
    assert (raw["ts"].to_numpy() == dec["ts"].to_numpy()).all()


def test_codec_shares_make_sense(spark, store):
    """role/tool (low cardinality) → dict; turn_idx (ramp) → leco/delta."""
    from learn_to_compress_spark.chunkstore import read_chunks

    chunks = read_chunks(spark, store)
    role = {
        r.codec: r.cnt
        for r in chunks.groupBy(F.col("c_role.codec").alias("codec"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert role.get("str_dict", 0) > 0, role
    turn = {
        r.codec: r.cnt
        for r in chunks.groupBy(F.col("c_turn_idx.codec").alias("codec"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    assert turn.get("leco", 0) + turn.get("delta", 0) + turn.get("for", 0) > 0, turn


def test_bitmap_selective_decode(spark, store):
    """Operator #31: selective decode under a modular bitmap equals the
    DataFrame filter over the raw table."""
    from learn_to_compress_spark.operators import select_bitmap_table

    got = (
        select_bitmap_table(spark, store, "turn_idx", 7, 2, ["conv_id", "turn_idx"])
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    raw = transcripts_df(spark, 300, parallelism=4)
    want = (
        raw.filter(F.col("turn_idx") % 7 == 2)
        .select("conv_id", "turn_idx")
        .orderBy("conv_id", "turn_idx")
        .toPandas()
    )
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want.reset_index(drop=True))


def test_learned_selection_encode_roundtrip(spark, tmp_path):
    """Operator #37 end-to-end: the CART selector drives codec choice inside
    the encode job; decode is still bit-identical."""
    path = str(tmp_path / "learned_store")
    df = transcripts_df(spark, 120, parallelism=4)
    encode_table(df, path, chunk_rows=CHUNK_ROWS, num_parts=4, selection="learned")
    raw = _collect_sorted(df)
    dec = _collect_sorted(decode_table(spark, path))
    pd.testing.assert_frame_equal(dec, raw)


def test_presorted_encode_roundtrip_and_resume(spark, tmp_path):
    """presorted=True (input already clustered by keys): zero-shuffle plan,
    bit-identical roundtrip, and split-id resume semantics."""
    path = str(tmp_path / "presorted_store")
    df = transcripts_df(spark, 300, parallelism=4)
    m = encode_table(df, path, chunk_rows=CHUNK_ROWS, presorted=True)
    assert m["ratio"] < 1.0

    raw = _collect_sorted(df)
    dec = _collect_sorted(decode_table(spark, path))
    assert len(raw) == len(dec)
    assert raw["text"].equals(dec["text"])
    assert (raw["ts"].to_numpy() == dec["ts"].to_numpy()).all()

    # the encode plan has no Exchange anywhere (scan -> mapInArrow)
    from learn_to_compress_spark.jobs.encode import chunk_schema, colspecs_of, _make_kernel

    work = df.withColumn("_part_id", F.spark_partition_id())
    plan = work.mapInArrow(
        _make_kernel(colspecs_of(df), CHUNK_ROWS), schema=chunk_schema(colspecs_of(df))
    )._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    # resume: all splits committed -> second run encodes nothing new
    m2 = encode_table(df, path, chunk_rows=CHUNK_ROWS, presorted=True, run_id="again")
    from learn_to_compress_spark.chunkstore import read_lineage

    lin = read_lineage(spark, path).toPandas()
    assert lin.part_id.is_unique  # no split re-encoded
    assert m2["rows"] == m["rows"]

    # mode mixing is an error, not a silent remap
    with pytest.raises(ValueError):
        encode_table(df, path, chunk_rows=CHUNK_ROWS, presorted=False)


def test_filter_eq_string_pushdown(spark, store):
    """String equality answered from the chunk store: dict chunks compare in
    the code domain, out_cols gathered at match positions."""
    from learn_to_compress_spark.operators import filter_eq_string_table

    raw = transcripts_df(spark, 300, parallelism=4)
    expect = _collect_sorted(
        raw.filter(F.col("role") == "assistant").select("conv_id", "turn_idx", "role")
    )
    got = _collect_sorted(
        filter_eq_string_table(
            spark, store, "role", "assistant", ["conv_id", "turn_idx", "role"]
        )
    )
    pd.testing.assert_frame_equal(expect, got)
    # nullable column (tool is ~85% null): nulls never match
    expect_t = _collect_sorted(
        raw.filter(F.col("tool") == "search").select("conv_id", "turn_idx", "tool")
    )
    got_t = _collect_sorted(
        filter_eq_string_table(
            spark, store, "tool", "search", ["conv_id", "turn_idx", "tool"]
        )
    )
    pd.testing.assert_frame_equal(expect_t, got_t)


def test_chunk_rows_auto_tuner(spark, tmp_path):
    """Block-size auto-tuner (headers/search_hyper.h:14 pick_block_size +
    headers/search_blocksize.h): chunk_rows="auto" sweeps the candidate
    sizes on a bounded sample, picks the min-bytes size, persists the choice
    in the store schema, and a resumed encode reuses it."""
    import json

    from learn_to_compress_spark.jobs.encode import (
        CHUNK_ROWS_CANDIDATES,
        tune_chunk_rows,
    )

    # regime-switching column: a fresh linear regime every ~6k rows means
    # one 64Ki chunk mixes ~10 regimes (wide residuals) while 8Ki chunks
    # track each regime — small chunks must win the sweep
    rng = np.random.default_rng(7)
    blocks = []
    for r in range(20):
        slope = float(rng.uniform(-50, 50))
        base = float(rng.uniform(-1e9, 1e9))
        x = np.arange(6000, dtype=np.float64)
        blocks.append((base + slope * x + rng.normal(0, 2, 6000)).astype(np.int64))
    vals = np.concatenate(blocks)
    pdf = pd.DataFrame({"conv_id": ["c"] * vals.size, "turn_idx": np.arange(vals.size), "v": vals})
    df = spark.createDataFrame(pdf)

    best, sizes = tune_chunk_rows(df, ("conv_id", "turn_idx"), sample_rows=vals.size)
    assert best in CHUNK_ROWS_CANDIDATES
    assert best < 65536  # regime width ~6k: a 64Ki chunk can't be optimal
    assert sizes[best] < sizes[65536]

    # end-to-end: auto encode roundtrips, records the choice, resume reuses it
    path = str(tmp_path / "auto_store")
    m = encode_table(df, path, chunk_rows="auto", num_parts=4, salt_block=1 << 20)
    assert m["chunk_rows"] == best
    assert m["tune_sizes"][best] == sizes[best]
    with open(f"{path}/_schema.json") as fh:
        assert json.load(fh)["chunk_rows"] == best
    dec = decode_table(spark, path).orderBy("turn_idx").toPandas()
    assert (dec["v"].to_numpy() == vals).all()
    # resume: no re-tune (no tune_sizes in metrics), same persisted size
    m2 = encode_table(df, path, chunk_rows="auto", num_parts=4, salt_block=1 << 20)
    assert m2["chunk_rows"] == best
    assert "tune_sizes" not in m2


def test_linked_correlated_column_encode(spark, tmp_path):
    """Correlated-column compression (operator: group-correlation link,
    piecewise_cost_merge_integer_template_link_colcor.h:21): a column that is
    jumpy in chunk order but linear in a companion must win the linked race,
    roundtrip bit-identically, and answer every pushdown operator."""
    from learn_to_compress_spark.chunkstore import read_chunks
    from learn_to_compress_spark.operators import (
        filter_gt_table,
        filter_range_table,
        group_sum_string_table,
        lookup_eq_table,
        select_bitmap_table,
        sum_column,
        sum_column_kernel,
        sum_filtered_column,
        topk_table,
    )

    rng = np.random.default_rng(11)
    n = 4000
    ts = np.sort(rng.integers(1_700_000_000_000_000, 1_701_000_000_000_000, n))
    # seq is linear in ts (a global sequence number) + small noise — after
    # the salted (user_id, ts) shuffle it is jumpy in slot order
    seq = (1000 + (ts - ts[0]) // 50_000_000).astype(np.int64) + rng.integers(-3, 4, n)
    user = rng.integers(0, 50, n)
    kind = rng.choice(np.array(["chat", "tool", "system"]), n)
    pdf = pd.DataFrame(
        {"user_id": user, "ts": pd.to_datetime(ts, unit="us"), "seq": seq, "kind": kind}
    )
    df = spark.createDataFrame(pdf)

    path = str(tmp_path / "linked_store")
    m = encode_table(
        df, path, key_cols=("user_id", "ts"), chunk_rows=CHUNK_ROWS, num_parts=4,
        salt_block=1 << 20, linked_cols={"seq": "ts"},
    )
    # the linked codec must actually win on this shape
    codecs = {
        r[0]
        for r in read_chunks(spark, path, leaves=[F.col("c_seq.codec").alias("c")])
        .distinct()
        .collect()
    }
    assert "linked" in codecs, codecs
    # schema records the map for readers
    import json

    with open(f"{path}/_schema.json") as fh:
        assert json.load(fh)["linked_cols"] == {"seq": "ts"}

    raw = pdf.sort_values(["user_id", "ts", "seq"]).reset_index(drop=True)
    dec = (
        decode_table(spark, path)
        .orderBy("user_id", "ts", "seq")
        .toPandas()
        .reset_index(drop=True)
    )
    assert (dec["seq"].to_numpy() == raw["seq"].to_numpy()).all()
    assert (dec["ts"].to_numpy() == raw["ts"].to_numpy()).all()

    # pushdowns over the linked column
    thr = int(np.median(seq))
    got = filter_gt_table(spark, path, "seq", thr, ["seq", "user_id"]).toPandas()
    assert len(got) == int((seq > thr).sum())
    assert (got["seq"].to_numpy() > thr).all()
    v = int(seq[123])
    hits = lookup_eq_table(spark, path, "seq", v, ["seq"]).toPandas()
    assert len(hits) == int((seq == v).sum()) and (hits["seq"] == v).all()
    total = sum_column(spark, path, "seq").collect()[0][0]
    assert int(total) == int(seq.sum(dtype=object))
    totk = sum_column_kernel(spark, path, "seq").collect()[0][0]
    assert int(totk) == int(seq.sum(dtype=object))
    bm = select_bitmap_table(spark, path, "seq", 97, 0, ["seq", "user_id"]).toPandas()
    assert len(bm) == int((seq % 97 == 0).sum())

    # column-pruned decode of ONLY the linked column still works (the
    # companion payload leaf rides along via the schema map)
    only = decode_table(spark, path, columns=["seq"]).toPandas()
    assert sorted(only["seq"].tolist()) == sorted(seq.tolist())

    # every other payload reader meets the linked column too: as a SUM
    # measure and as its filter, a two-sided range, a top-k key and a
    # grouped SUM measure
    tthr = int(np.median(ts))
    got = sum_filtered_column(spark, path, "seq", "ts", tthr).collect()[0][0]
    assert int(got) == int(seq[ts > tthr].sum(dtype=object))
    got = sum_filtered_column(spark, path, "ts", "seq", thr).collect()[0][0]
    assert int(got) == int(ts[seq > thr].sum(dtype=object))
    lo, hi = int(np.quantile(seq, 0.3)), int(np.quantile(seq, 0.6))
    rng_rows = filter_range_table(spark, path, "seq", lo, hi, ["seq", "user_id"]).toPandas()
    assert sorted(rng_rows["seq"].tolist()) == sorted(seq[(seq > lo) & (seq <= hi)].tolist())
    top = topk_table(spark, path, "seq", 7, ["seq", "ts"], tiebreak="ts").toPandas()
    want = raw.sort_values(["seq", "ts"], ascending=False).head(7)
    assert top["seq"].tolist() == want["seq"].tolist()
    assert (top["ts"].to_numpy() == want["ts"].to_numpy()).all()
    grouped = group_sum_string_table(spark, path, "kind", "seq").toPandas()
    assert {k: int(v) for k, v in zip(grouped["kind"], grouped["sum_seq"])} == {
        k: int(v) for k, v in pdf.groupby("kind")["seq"].sum().items()
    }


def test_resume_noop_fast_path_and_race_seed(spark, tmp_path):
    """A fully-committed store resumes WITHOUT launching the encode job
    (metadata-only answer, resumed_noop flag), and the driver-side race
    seed keeps the store row-identical to an exhaustive-race encode."""
    from learn_to_compress_spark.jobs import decode_table, encode_table
    from learn_to_compress_spark.sources.transcripts import transcripts_df

    df = transcripts_df(spark, 50).cache()
    store = str(tmp_path / "noop_store")
    m1 = encode_table(df, store, num_parts=4)
    m2 = encode_table(df, store, num_parts=4, resume=True)
    assert m2.get("resumed_noop") is True
    assert (m2["rows"], m2["enc_bytes"]) == (m1["rows"], m1["enc_bytes"])
    dec = decode_table(spark, store)
    assert dec.exceptAll(df).count() == 0 and df.exceptAll(dec).count() == 0


def test_linked_auto_detect_proposes_and_wins(spark, tmp_path):
    """colcor auto-detect (r5): with NO linked_cols argument, the sampled
    correlation probe must propose seq->ts on a correlated shape, the
    linked race must win, the map must persist for readers, and resume
    must reuse it instead of re-probing a different answer."""
    import json

    from learn_to_compress_spark.chunkstore import read_chunks

    rng = np.random.default_rng(23)
    n = 6000
    ts = np.sort(rng.integers(1_700_000_000_000_000, 1_701_000_000_000_000, n))
    seq = (1000 + (ts - ts[0]) // 50_000_000).astype(np.int64) + rng.integers(-3, 4, n)
    user = rng.integers(0, 50, n)
    kind = rng.choice(np.array(["chat", "tool", "system"]), n)
    pdf = pd.DataFrame(
        {"user_id": user, "ts": pd.to_datetime(ts, unit="us"), "seq": seq, "kind": kind}
    )
    df = spark.createDataFrame(pdf)

    path = str(tmp_path / "linked_auto_store")
    encode_table(
        df, path, key_cols=("user_id", "ts"), chunk_rows=CHUNK_ROWS, num_parts=4,
        salt_block=1 << 20,
    )
    with open(f"{path}/_schema.json") as fh:
        assert json.load(fh)["linked_cols"] == {"seq": "ts"}
    codecs = {
        r[0]
        for r in read_chunks(spark, path, leaves=[F.col("c_seq.codec").alias("c")])
        .distinct()
        .collect()
    }
    assert "linked" in codecs, codecs
    raw = pdf.sort_values(["user_id", "ts", "seq"]).reset_index(drop=True)
    dec = (
        decode_table(spark, path)
        .toPandas()
        .sort_values(["user_id", "ts", "seq"])
        .reset_index(drop=True)
    )
    assert (dec["seq"].to_numpy() == raw["seq"].to_numpy()).all()
    assert (dec["ts"].to_numpy() == raw["ts"].to_numpy()).all()
    # resume keeps the persisted map (no re-probe surprises)
    m2 = encode_table(
        df, path, key_cols=("user_id", "ts"), chunk_rows=CHUNK_ROWS, num_parts=4,
        salt_block=1 << 20,
    )
    assert m2.get("resumed_noop")
    with open(f"{path}/_schema.json") as fh:
        assert json.load(fh)["linked_cols"] == {"seq": "ts"}


def test_linked_auto_detect_declines_uncorrelated(spark, tmp_path):
    """No correlation -> no proposal: random independent columns must leave
    linked_cols unset (a false link costs a wasted race leg per chunk)."""
    import json

    rng = np.random.default_rng(29)
    n = 6000
    pdf = pd.DataFrame(
        {
            "user_id": rng.integers(0, 50, n),
            "ts": pd.to_datetime(
                np.sort(rng.integers(1_700_000_000_000_000, 1_701_000_000_000_000, n)),
                unit="us",
            ),
            "noise": rng.integers(0, 1 << 40, n),
        }
    )
    df = spark.createDataFrame(pdf)
    path = str(tmp_path / "linked_auto_none")
    encode_table(
        df, path, key_cols=("user_id", "ts"), chunk_rows=CHUNK_ROWS, num_parts=4,
        salt_block=1 << 20,
    )
    with open(f"{path}/_schema.json") as fh:
        doc = json.load(fh)
    assert not (doc.get("linked_cols") or {}).get("noise"), doc.get("linked_cols")
